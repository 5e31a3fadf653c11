package graft.search

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** State-dir hygiene around the quantizer trainer: only engines that
  * train carry the `trainer` key (so no state dir mixes two trainers'
  * output), fixed-state engines keep their state keys byte for byte, and
  * a half-warm trained state dir rebuilds to the fully warm answers.
  */
class TrainerStateSpec extends SparkSpec {

  private def corpus = spark.read.parquet(sf("embeddings"))
    .select(col("vec_id").as("idx"), col("embedding").as("vector"))
  private def queries = spark.read.parquet(sf("embeddings"))
    .filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
  private val cfg = SearchConfig(k = 5, fillMaskedIndices = false,
    queryIdCol = Some("qid"))
  private val cents = IVFDenseEngine.formulaCentroids(8, 64)
  private val books = PQDenseEngine.formulaCodebooks(8, 16, 8)

  private def entries(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq

  private def answers(e: SearchEngine): Seq[String] =
    e(queries).select("qid", "`index.idx`", "`index.score`")
      .collect().map(_.toString).sorted.toSeq

  test("the trainer key is set exactly on engines whose codebooks Lloyd trains") {
    val c = corpus
    def trains(p: Map[String, String]) = p.get("trainer").contains("lloyd")
    assert(trains(PQDenseEngine(c).params))
    assert(!PQDenseEngine(c, fixedCodebooks = Some(books)).params.contains("trainer"))
    assert(trains(IVFPQDenseEngine(c, fixedCentroids = Some(cents)).params))
    assert(trains(IVFPQDenseEngine(c).params))
    // the coarse quantizer is a spark.ml KMeans fit, not Lloyd's
    assert(!IVFPQDenseEngine(c, fixedCodebooks = Some(books)).params.contains("trainer"))
    assert(!IVFDenseEngine(c).params.contains("trainer"))
    assert(!IVFSQDenseEngine(c).params.contains("trainer"))
  }

  test("fixed-state engines keep their state keys byte for byte") {
    val c = corpus
    def keys(build: String => SearchEngine, sub: String = ""): Seq[String] = {
      val dir = Files.createTempDirectory("graft-keys").toString
      answers(build(dir))
      entries(dir + sub)
    }
    val got = Map(
      "ivf" -> keys(d => IVFDenseEngine(c, nlist = 8, nprobe = 2, config = cfg,
        fixedCentroids = Some(cents), stateDir = Some(d), corpusFingerprint = "keys")),
      "pq" -> keys(d => PQDenseEngine(c, m = 8, codebookSize = 16, config = cfg,
        fixedCodebooks = Some(books), stateDir = Some(d), corpusFingerprint = "keys")),
      "ivf_sq" -> keys(d => IVFSQDenseEngine(c, nlist = 8, nprobe = 2, config = cfg,
        fixedCentroids = Some(cents), stateDir = Some(d), corpusFingerprint = "keys")),
      // IngestPreset's standing index and its incremental add
      "ingest" -> keys({ d =>
        val vec = (frame: DataFrame) => frame.select(col("idx").as("doc_id"),
          slice(col("vector"), 1, graft.llm.IngestPreset.dim).as("vector"))
        graft.llm.IngestPreset.indexBase(vec(c.filter(col("idx") % 3 =!= 0)), d, "keys")
          .addVectors(vec(c.filter(col("idx") % 3 === 0))
            .select(col("doc_id").as("idx"), col("vector")), "keys-add")
      }, "/ingest-ivfpq"))
    assert(got == TrainerStateSpec.FixedStateKeys)
  }

  /** Spark jobs started while `body` runs. The listener bus delivers
    * events in order but late, so the count runs from a marker job's
    * start to a second marker's.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def until(name: String): Seq[String] =
      Iterator.continually(Option(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail(s"no job-start event for $name")))
        .takeWhile(_ != name).toSeq
    sc.addSparkListener(listener)
    try {
      marker("trainer-spec-start")
      body
      marker("trainer-spec-end")
      until("trainer-spec-start")
      until("trainer-spec-end").size
    } finally sc.removeSparkListener(listener)
  }

  test("an add over pinned centroids collects nothing and keeps its state key") {
    val c = corpus
    val base = IVFDenseEngine(c.filter(col("idx") % 3 =!= 0), nlist = 8, nprobe = 2,
      config = cfg, fixedCentroids = Some(cents))
    var added: IVFDenseEngine = null
    assert(jobsDuring { added = base.addVectors(c.filter(col("idx") % 3 === 0)) } == 0)
    // `params` hashes the pinned centroids' toString; this is the value
    // an add wrote when it collected them from the centroids frame
    assert(added.params("fixedCents") == "b46e2f2750610e9e")
  }

  test("a half-warm trained state dir rebuilds to the fully warm answers") {
    val c = corpus
    // drop one persisted frame, found by its schema, then rebuild
    def halfWarm(build: String => SearchEngine, frameCol: String): Unit = {
      val dir = Files.createTempDirectory("graft-half").toString
      val warm = answers(build(dir))
      val all = entries(dir)
      val victim = all.filter(e =>
        spark.read.parquet(s"$dir/$e").columns.contains(frameCol))
      assert(victim.size == 1, s"$frameCol in $all")
      org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$dir/${victim.head}"))
      assert(answers(build(dir)) == warm, s"rebuilt without $frameCol")
      assert(entries(dir) == all)
    }
    val ivf = (d: String) => IVFDenseEngine(c, nlist = 8, nprobe = 2, config = cfg,
      stateDir = Some(d), corpusFingerprint = "half")
    halfWarm(ivf, "__cv__") // the tagged lists
    val ivfpq = (d: String) => IVFPQDenseEngine(c, nlist = 8, nprobe = 2, m = 8,
      codebookSize = 16, config = cfg, residual = true,
      stateDir = Some(d), corpusFingerprint = "half")
    halfWarm(ivfpq, "__cv__")
    halfWarm(ivfpq, "__c0") // the codes
  }
}

object TrainerStateSpec {
  /** State-dir entries of the fixed-state engines above, as written before
    * the trainer key existed.
    */
  val FixedStateKeys: Map[String, Seq[String]] = Map(
    "ivf" -> Seq("2f54bc48bfbc62bd", "b8f880b6f4696371"),
    "pq" -> Seq("9bcb0e5f1354c3d2"),
    "ivf_sq" -> Seq("0553d05feb1d8971", "2f54bc48bfbc62bd", "a485a4792eb4b404",
      "b8f880b6f4696371"),
    "ingest" -> Seq("1cdcc6db63230d0d", "207353f3766d46e9", "426cbda88bc2278d",
      "4f6a063dfc3b61a5", "82a2319da60528b0", "b973a6059b8c3dcb"))
}
