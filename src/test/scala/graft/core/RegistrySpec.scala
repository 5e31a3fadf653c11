package graft.core

import graft.SparkSpec
import graft.pipes._
import graft.llm._
import graft.text._
import org.apache.spark.sql.functions._

/** Reflection-style sweep over every pipe (mirrors
  * tests/pipes/test_all_pipes.py:10-41): each registered constructor is
  * instantiated twice and must (a) java-serialize (Spark closure
  * contract), (b) produce IDENTICAL fingerprints across fresh instances,
  * (c) produce a DIFFERENT fingerprint under a parameter change.
  */
class RegistrySpec extends SparkSpec {

  /** (name, make(), makeVariant()) — variant differs in one parameter. */
  private val registry: Seq[(String, () => Pipe, () => Pipe)] = Seq(
    ("IdentityPipe", () => IdentityPipe(), () => SequentialPipe.of(IdentityPipe())),
    ("GetKey", () => GetKey("a"), () => GetKey("b")),
    ("FilterKeys", () => FilterKeys(Condition.HasPrefix("a")),
      () => FilterKeys(Condition.HasPrefix("b"))),
    ("DropKeys", () => DropKeys(Seq("a")), () => DropKeys(Seq("b"))),
    ("AddPrefix", () => AddPrefix("p."), () => AddPrefix("q.")),
    ("ReplaceInKeys", () => ReplaceInKeys("a", "b"), () => ReplaceInKeys("a", "c")),
    ("RenameKeys", () => RenameKeys(Map("a" -> "b")), () => RenameKeys(Map("a" -> "c"))),
    ("ApplyToCols", () => ApplyToCols(_ * 2, "x2", Seq("a")),
      () => ApplyToCols(_ * 2, "x3", Seq("a"))),
    ("ApplyToAllCols", () => ApplyToAllCols(upper(_), "upper"),
      () => ApplyToAllCols(lower(_), "lower")),
    ("LambdaPipe", () => LambdaPipe(identity, "id"), () => LambdaPipe(identity, "id2")),
    ("SequentialPipe", () => SequentialPipe.of(GetKey("a")),
      () => SequentialPipe.of(GetKey("b"))),
    ("ParallelPipe", () => ParallelPipe.of(ApplyToCols(_ * 2, "x2", Seq("a"))),
      () => ParallelPipe.of(ApplyToCols(_ * 2, "x2", Seq("b")))),
    ("Gate", () => Gate(SchemaCondition.Static(true), IdentityPipe()),
      () => Gate(SchemaCondition.Static(false), IdentityPipe())),
    ("BlockSequential", () => BlockSequential(Seq("s" -> IdentityPipe())),
      () => BlockSequential(Seq("t" -> IdentityPipe()))),
    ("ParallelByField", () => ParallelByField(Map("a" -> ApplyToCols(_ * 2, "x2", Seq("a.x")))),
      () => ParallelByField(Map("b" -> ApplyToCols(_ * 2, "x2", Seq("b.x"))))),
    ("FlattenPipe", () => FlattenPipe(1), () => FlattenPipe(2)),
    ("NestPipe", () => NestPipe(4, Seq("a"), "o"), () => NestPipe(8, Seq("a"), "o")),
    ("ApplyAsFlatten", () => ApplyAsFlatten(IdentityPipe()),
      () => ApplyAsFlatten(IdentityPipe(), 2)),
    ("NestedPipe", () => NestedPipe(IdentityPipe()), () => NestedPipe(IdentityPipe(), 2)),
    ("ExpandPipe", () => ExpandPipe(0, 3, Seq("a")), () => ExpandPipe(0, 4, Seq("a"))),
    ("CollatePipe", () => CollatePipe(16, Seq("a"), "o"), () => CollatePipe(8, Seq("a"), "o")),
    ("DeCollatePipe", () => DeCollatePipe(Seq("a")), () => DeCollatePipe(Seq("b"))),
    ("FirstEg", () => FirstEg(), () => SequentialPipe.of(FirstEg())),
    ("ApplyToEachExample", () => ApplyToEachExample(IdentityPipe()),
      () => ApplyToEachExample(GetKey("a"))),
    ("PaddingPipe", () => PaddingPipe(Seq("a")), () => PaddingPipe(Seq("a"), 1)),
    ("CollateFieldPipe", () => CollateFieldPipe("f"), () => CollateFieldPipe("g")),
    ("TakeSubset", () => TakeSubset(Some(10)), () => TakeSubset(Some(20))),
    ("KeepColumns", () => KeepColumns(Seq("a")), () => KeepColumns(Seq("b"))),
    ("PrintBatch", () => PrintBatch("h"), () => PrintBatch("i")),
    ("PrintContent", () => PrintContent(3), () => PrintContent(4)),
    ("TokenizerPipe", () => TokenizerPipe(), () => TokenizerPipe(maxLength = Some(5))),
    ("GeneratePassagesPipe", () => GeneratePassagesPipe(24, 16),
      () => GeneratePassagesPipe(24, 20)),
    ("ExactDedupPipe", () => ExactDedupPipe(Seq("t"), "id"),
      () => ExactDedupPipe(Seq("u"), "id")),
    ("MinHashLSHDedupPipe", () => MinHashLSHDedupPipe("t", "id"),
      () => MinHashLSHDedupPipe("t", "id", numHashes = 128)),
    ("SimHashDedupPipe", () => SimHashDedupPipe("t", "id"),
      () => SimHashDedupPipe("t", "id", maxHamming = 5)),
    ("NgramJaccardPipe", () => NgramJaccardPipe("t", "id", "b"),
      () => NgramJaccardPipe("t", "id", "b", threshold = 0.5)),
    ("EmbeddingCosineDedupPipe", () => EmbeddingCosineDedupPipe("v", "id", "b"),
      () => EmbeddingCosineDedupPipe("v", "id", "b", threshold = 0.5)),
    ("LanguageIdPipe", () => LanguageIdPipe("t"), () => LanguageIdPipe("u")),
    ("QualityScorePipe", () => QualityScorePipe("t"), () => QualityScorePipe("u")),
    ("TokenCountPipe", () => TokenCountPipe("t"), () => TokenCountPipe("u")),
    ("TextNormalizePipe", () => TextNormalizePipe("t"),
      () => TextNormalizePipe("t", stripPunct = false)),
    ("FingerprintPipe", () => FingerprintPipe("t"), () => FingerprintPipe("u")),
    ("ToMediaColumnPipe", () => ToMediaColumnPipe("t"), () => ToMediaColumnPipe("u")),
    ("ByteFeaturesPipe", () => ByteFeaturesPipe("m", "id"),
      () => ByteFeaturesPipe("m", "id", dim = 16)),
    ("FrameSamplePipe", () => FrameSamplePipe("m"), () => FrameSamplePipe("m", 32)),
    ("DecodeImagePipe", () => DecodeImagePipe("m"),
      () => DecodeImagePipe("n")),
    ("ResizeImagePipe", () => ResizeImagePipe("m", 7, 5),
      () => ResizeImagePipe("m", 8, 6)),
    ("SRPCosineDedupPipe", () => SRPCosineDedupPipe("v", "id"),
      () => SRPCosineDedupPipe("v", "id", nBits = 24)),
    ("SubstringDedupPipe", () => SubstringDedupPipe("t", "id"),
      () => SubstringDedupPipe("t", "id", k = 7)),
    ("LineDedupPipe", () => LineDedupPipe("t", "id"),
      () => LineDedupPipe("t", "id", hashKey = true)),
    ("RepetitionStatsPipe", () => RepetitionStatsPipe("t"),
      () => RepetitionStatsPipe("u")),
    ("PiiRedactPipe", () => PiiRedactPipe("t"), () => PiiRedactPipe("u")),
    ("UrlFilterPipe", () => UrlFilterPipe("t", Seq("x.com")),
      () => UrlFilterPipe("t", Seq("y.com"))),
    ("UnigramLogProbPipe", () => UnigramLogProbPipe("t", "id"),
      () => UnigramLogProbPipe("u", "id")),
    ("BigramLogProbPipe", () => BigramLogProbPipe("t", "id"),
      () => BigramLogProbPipe("u", "id")),
    ("StratifiedSamplePipe", () => StratifiedSamplePipe("id", "g", Seq("a" -> 0.5)),
      () => StratifiedSamplePipe("id", "g", Seq("a" -> 0.5), defaultRate = 0.7)),
    ("TemperatureMixPipe", () => TemperatureMixPipe("id", "g"),
      () => TemperatureMixPipe("id", "g", alpha = 0.25)),
    ("DeterministicShufflePipe", () => DeterministicShufflePipe("id"),
      () => DeterministicShufflePipe("id", seed = 9)),
    ("CorpusStatsPipe", () => CorpusStatsPipe(Seq("g"), "v"),
      () => CorpusStatsPipe(Seq("g"), "v", approx = false)),
    ("PackSequencesPipe", () => PackSequencesPipe("c", 256, "id"),
      () => PackSequencesPipe("c", 512, "id")),
    ("PackMaterializePipe", () => PackMaterializePipe("t", 256, "o", "id"),
      () => PackMaterializePipe("t", 512, "o", "id")),
    ("ResampleBytesPipe", () => ResampleBytesPipe("m", 32),
      () => ResampleBytesPipe("m", 64)),
    ("ShardAssignPipe", () => ShardAssignPipe("o", 64),
      () => ShardAssignPipe("o", 32)),
    ("AssignRowIdPipe", () => AssignRowIdPipe("o"), () => AssignRowIdPipe("p")),
    ("VocabEncodePipe", () => VocabEncodePipe("t", "id", 25),
      () => VocabEncodePipe("t", "id", 50)),
    ("ClusterBalancedSamplePipe",
      () => ClusterBalancedSamplePipe("v", "id",
        ClusterBalancedSamplePipe.formulaCentroids(4, 8), 10),
      () => ClusterBalancedSamplePipe("v", "id",
        ClusterBalancedSamplePipe.formulaCentroids(4, 8), 5)),
    ("BpeEncodePipe", () => BpeEncodePipe("t", Seq(("a", "b"))),
      () => BpeEncodePipe("t", Seq(("a", "c")))),
    ("HashedLinearScorerPipe",
      () => HashedLinearScorerPipe("t", Seq(0.1, 0.2)),
      () => HashedLinearScorerPipe("t", Seq(0.1, 0.2), bias = 1.0)),
    ("GroupTopKPipe",
      () => graft.operators.GroupTopKPipe(Seq("g"), "v", 3, "id"),
      () => graft.operators.GroupTopKPipe(Seq("g"), "v", 5, "id")),
    ("RollingWindowPipe",
      () => graft.operators.RollingWindowPipe(Seq("k"), "t", "v", 100L),
      () => graft.operators.RollingWindowPipe(Seq("k"), "t", "v", 200L)),
    ("SessionizePipe", () => graft.streaming.SessionizePipe(),
      () => graft.streaming.SessionizePipe(gapSeconds = 60)),
    ("StreamingDedupPipe", () => graft.streaming.StreamingDedupPipe(Seq("a")),
      () => graft.streaming.StreamingDedupPipe(Seq("a"), watermark = "1 hour")),
    ("WindowedEventAgg", () => graft.streaming.WindowedEventAgg(),
      () => graft.streaming.WindowedEventAgg(windowLength = "2 hours")),
    ("SplitPipe", () => SplitPipe("id"), () => SplitPipe("id", seed = 99)),
    ("ProfilePipe", () => ProfilePipe(Seq("a")),
      () => ProfilePipe(Seq("a"), exact = false)),
    ("RRFFusionPipe",
      () => graft.search.RRFFusionPipe(Seq(graft.search.TopkEngine())),
      () => graft.search.RRFFusionPipe(Seq(graft.search.TopkEngine()), rrfK = 10)),
    ("WeightedFusionPipe",
      () => graft.search.WeightedFusionPipe(
        Seq(graft.search.TopkEngine()), Seq(1.0)),
      () => graft.search.WeightedFusionPipe(
        Seq(graft.search.TopkEngine()), Seq(0.5))))

  /** Pipes holding DataFrame references (an eval corpus, a dimension, a
    * target distribution). They build driver-side plans and are never
    * shipped in closures, so the java-serialization contract does not
    * apply — fingerprints must still be stable/instance-independent
    * (the frames are excluded from params by design, mirroring the
    * reference's `_no_fingerprint` attrs, fingerprintable.py:118-140).
    */
  private lazy val dfRegistry: Seq[(String, () => Pipe, () => Pipe)] = {
    import spark.implicits._
    lazy val tiny = Seq((1L, "a")).toDF("doc_id", "text")
    Seq(
      ("DecontaminatePipe", () => DecontaminatePipe(tiny, "t", "id"),
        () => DecontaminatePipe(tiny, "t", "id", ngramSize = 5)),
      ("ImportanceWeightPipe", () => ImportanceWeightPipe("t", "id", tiny, "text"),
        () => ImportanceWeightPipe("t", "id", tiny, "text", numBuckets = 64)),
      ("CrossCorpusMinHashPipe",
        () => CrossCorpusMinHashPipe("t", "id", tiny, "text", "doc_id"),
        () => CrossCorpusMinHashPipe("t", "id", tiny, "text", "doc_id", bands = 16)),
      ("IncrementalMinHashDedupPipe",
        () => IncrementalMinHashDedupPipe("t", "id", tiny, "text", "doc_id"),
        () => IncrementalMinHashDedupPipe("t", "id", tiny, "text", "doc_id",
          bands = 16)),
      ("StreamStaticEnrichPipe",
        () => graft.streaming.StreamStaticEnrichPipe(tiny, "k", "doc_id", Seq("text")),
        () => graft.streaming.StreamStaticEnrichPipe(tiny, "k", "doc_id", Seq("doc_id"))),
      ("TripletMiningPipe", () => TripletMiningPipe(tiny, "doc_id"),
        () => TripletMiningPipe(tiny, "doc_id", seed = 9)),
      ("JaccardEngine", () => graft.search.JaccardEngine(tiny),
        () => graft.search.JaccardEngine(tiny, shingleSize = 4)),
      ("MaxSimEngine", () => graft.search.MaxSimEngine(tiny),
        () => graft.search.MaxSimEngine(tiny,
          graft.search.SearchConfig(k = 3))))
  }

  private def roundTripSerialize(p: Pipe): Pipe = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(p)
    oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    ois.readObject().asInstanceOf[Pipe]
  }

  test("every pipe java-serializes (Spark closure contract)") {
    registry.foreach { case (name, make, _) =>
      val p = roundTripSerialize(make())
      assert(p.name.nonEmpty, name)
    }
  }

  test("fingerprints are deterministic across fresh instances") {
    (registry ++ dfRegistry).foreach { case (name, make, _) =>
      assert(make().fingerprint == make().fingerprint, name)
    }
  }

  test("fingerprints change under a parameter change") {
    (registry ++ dfRegistry).foreach { case (name, make, variant) =>
      assert(make().fingerprint != variant().fingerprint, name)
    }
  }

  test("fingerprint survives serialization") {
    registry.foreach { case (name, make, _) =>
      assert(make().fingerprint == roundTripSerialize(make()).fingerprint, name)
    }
  }

  test("excluded frames do not leak into fingerprints (_no_fingerprint)") {
    // mirrors tests/core/test_fingerprintable.py:118-140: two instances
    // differing ONLY in a fingerprint-excluded attribute hash equal. The
    // DataFrame params are the excluded attrs here — data identity enters
    // cache keys via DatasetFingerprint/CachedStage upstream hashes, not
    // via the pipe.
    import spark.implicits._
    val a = Seq((1L, "aaa")).toDF("doc_id", "text")
    val b = Seq((2L, "bbb"), (3L, "ccc")).toDF("doc_id", "text")
    assert(DecontaminatePipe(a, "t", "id").fingerprint ==
      DecontaminatePipe(b, "t", "id").fingerprint)
    assert(ImportanceWeightPipe("t", "id", a, "text").fingerprint ==
      ImportanceWeightPipe("t", "id", b, "text").fingerprint)
    assert(CrossCorpusMinHashPipe("t", "id", a, "text", "doc_id").fingerprint ==
      CrossCorpusMinHashPipe("t", "id", b, "text", "doc_id").fingerprint)
  }

  test("dataset fingerprints distinguish scan paths and are stable") {
    def fp(path: String) = DatasetFingerprint.of(spark.read.parquet(path))
    val a = fp("/root/testdata/sf0.001/documents.parquet")
    assert(a != fp("/root/testdata/sf0.01/documents.parquet"))
    assert(a == fp("/root/testdata/sf0.001/documents.parquet"))
  }

  test("dataset fingerprints of RDD-backed frames: distinct per RDD, stable per frame") {
    import spark.implicits._
    val a = spark.sparkContext.parallelize(Seq(1, 2, 3)).toDF("v")
    val b = spark.sparkContext.parallelize(Seq(1, 2, 3)).toDF("v")
    val fa = DatasetFingerprint.of(a)
    assert(fa != DatasetFingerprint.of(b) && fa == DatasetFingerprint.of(a))
  }
}
