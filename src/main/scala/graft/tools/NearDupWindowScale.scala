package graft.tools

import org.apache.spark.sql.functions._

/** Multi-window watermark measurement for [[graft.streaming.StreamingNearDedup]]
  * — `runMain graft.tools.NearDupWindowScale [sfDir] [nSlots] [dtSec] [provider]`.
  *
  * The r14 sf10 smoke measured ev_stream_neardup at 13.2× (RocksDB) with
  * the excuse "the fixture puts every event in ONE watermark window, so
  * state holds the entire corpus". This tool replaces the argument with a
  * measurement: the same sf10 documents (+ the standard doc_id<50
  * mutated plants) get event times SPREAD over `nSlots` time slots of
  * `dtSec` seconds (default 40 × 9000 s = 100 h = 10 watermark windows
  * at the gate's 10-hour watermark), are fed as one time-ordered file
  * per slot (`maxFilesPerTrigger=1`, strictly increasing mtimes → one
  * micro-batch per slot, watermark advancing between batches), and the
  * run asserts via StreamingQueryProgress stateOperators metrics that
  * peak state rows track the WINDOW occupancy — (docs in the watermark
  * horizon) × bands — not the corpus.
  *
  * Pair-member co-location: a doc and its +10000 mutation share
  * `pairKey = doc_id % 10000`, which picks the slot, so planted pairs
  * arrive within one slot (≪ the watermark) and recall is preserved.
  */
object NearDupWindowScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-sf10")
    val nSlots = args.lift(1).map(_.toInt).getOrElse(40)
    val dtSec = args.lift(2).map(_.toLong).getOrElse(9000L)
    val provider = args.lift(3).getOrElse("default")
    val watermarkSec = 36000L // the gate's "10 hours"
    val bands = 32

    val spark = graft.LocalSession((if (provider == "rocksdb") Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil): _*)
    import spark.implicits._

    // ---- fixture: sf docs + mutated plants, slotted across the timeline
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val toks = split(col("text"), " ")
    val mutated = raw.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(1))), " ")
          .as("text"))
    val planted = raw.unionByName(mutated)
    val slot = pmod(xxhash64(col("doc_id") % 10000L), lit(nSlots.toLong))
    val staged = planted
      .withColumn("__slot__", slot.cast("int"))
      .withColumn("ts", timestamp_micros(
        (lit(86400L) + col("__slot__") * dtSec +
          pmod(col("doc_id"), lit(97L))) * 1000000L))
    val inBase = "/tmp/graft-ndw"
    val stageDir = s"$inBase/stage"
    val inDir = s"$inBase/in"
    val fs = new org.apache.hadoop.fs.Path(inBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(inBase), true)
    // repartition BY SLOT so each slot directory holds its whole slot
    // (multiple part files per dir otherwise — one per task touching it)
    staged.repartition(nSlots, col("__slot__"))
      .write.partitionBy("__slot__").parquet(stageDir)
    // move every slot's files under inDir with mtimes strictly ascending
    // in slot order so the file source's oldest-first pick replays the
    // timeline in order (one slot = one micro-batch via maxFilesPerTrigger)
    fs.mkdirs(new org.apache.hadoop.fs.Path(inDir))
    val t0mtime = System.currentTimeMillis() - nSlots * 2000L
    (0 until nSlots).foreach { k =>
      val sdir = new org.apache.hadoop.fs.Path(s"$stageDir/__slot__=$k")
      val parts = fs.listStatus(sdir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      require(parts.nonEmpty, s"slot $k produced no file")
      parts.zipWithIndex.foreach { case (part, i) =>
        val dst = new org.apache.hadoop.fs.Path(f"$inDir/slot-$k%04d-$i.parquet")
        fs.rename(part, dst)
        fs.setTimes(dst, t0mtime + k * 2000L + i, -1)
      }
    }
    val n = staged.count()

    // ---- stream: one micro-batch per slot file
    val schema = staged.drop("__slot__").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val pairs = graft.streaming.StreamingNearDedup(
      stream, "text", "doc_id", "ts", watermark = "10 hours")
    val t0 = System.nanoTime()
    val q = pairs.toDF().writeStream.format("memory").queryName("ndw")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9

    // ---- metrics: peak state vs the window-occupancy bound
    val progress = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
    val peakRows = progress.map(_.stateOperators.head.numRowsTotal).max
    val peakMemMb = progress.map(_.stateOperators.head.memoryUsedBytes).max / 1e6
    val removed = progress.map(_.stateOperators.head.numRowsRemoved).sum
    val horizonSlots = (watermarkSec / dtSec).toInt + 2 // horizon + in-flight batch
    val windowBound = (n.toDouble / nSlots) * horizonSlots * bands * 1.5
    val corpusRows = n.toDouble * bands // the single-window (unbounded) shape
    val out = spark.table("ndw")
    val nPairs = out.count()
    val plantsFound = out.filter(col("id_a") < 50 && col("id_b") === col("id_a") + 10000)
      .select("id_a").distinct().count()

    println(f"[ndw] sf=$sfDir docs=$n slots=$nSlots dt=${dtSec}s " +
      f"watermark=${watermarkSec}s provider=$provider")
    println(f"[ndw] wall=$wall%.1f s batches=${progress.size} pairs=$nPairs " +
      f"plants=$plantsFound/50")
    println(f"[ndw] peakStateRows=$peakRows removed=$removed " +
      f"peakStateMem=$peakMemMb%.0f MB")
    println(f"[ndw] windowBound=${windowBound.toLong} corpusRows=${corpusRows.toLong} " +
      f"peak/window=${peakRows / windowBound}%.2f peak/corpus=${peakRows / corpusRows}%.3f")
    println(s"[ndw] stateBounded=${peakRows <= windowBound} " +
      s"-> ${peakRows <= windowBound && plantsFound == 50}")
    spark.stop()
  }
}
