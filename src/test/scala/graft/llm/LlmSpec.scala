package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def planted = {
    val docs = spark.read.parquet(sf("documents"))
    val toks = split(col("text"), " ")
    docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") < 30).select(
        (col("doc_id") + 10000).as("doc_id"),
        array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(1))), " ").as("text")))
  }

  test("exact dedup collapses planted exact duplicates") {
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val out = ExactDedupPipe(Seq("text"), "doc_id")(doubled)
    val n = docs.select("text").distinct().count()
    assert(out.count() == n)
    // representatives are the original (smaller) ids and counts >= 2
    assert(out.filter(col("doc_id") >= 5000).count() == 0)
    assert(out.filter(col("dup_count") < 2).count() == 0)
  }

  test("minhash-LSH finds planted near-dups") {
    val pairs = MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.5)(planted)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = (0 until 30).count(i => pairs.contains((i.toLong, i + 10000L)))
    // docs with very few tokens drop below the jaccard threshold when
    // truncated; the long majority must all be found
    assert(found >= 24, s"found only $found/30 planted near-dup pairs")
  }

  test("simhash finds planted near-dups within hamming 6") {
    val pairs = SimHashDedupPipe("text", "doc_id", maxHamming = 6)(planted)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = (0 until 30).count(i => pairs.contains((i.toLong, i + 10000L)))
    assert(found >= 20, s"found only $found/30 planted pairs")
  }

  test("simhash keeps null-text docs: null pairs with empty doc at hamming 0") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val pairs = SimHashDedupPipe("text", "doc_id", maxHamming = 0)(df)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"null doc dropped from candidates: $pairs")
  }

  test("decode stub: deterministic features with real partition plumbing") {
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
      .repartition(4)
    val media = ToMediaColumnPipe("text")(docs)
    val out = ByteFeaturesPipe("media", "doc_id", dim = 8)(media)
    val rows = out.select("doc_id", "media_features").collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val f = r.getSeq[Double](1)
      assert(f.length == 8)
      assert(f.forall(v => v >= 0.0 && v <= 1.0))
    }
    // deterministic across runs
    val again = ByteFeaturesPipe("media", "doc_id", dim = 8)(media)
      .select("doc_id", "media_features").collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("language id picks the list with most hits") {
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val out = LanguageIdPipe("text")(df).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("resize stub: nearest-neighbor resample, upscale and empty media") {
    val df = Seq((1L, "abcd"), (2L, ""), (3L, "xy")).toDF("doc_id", "text")
    val media = ToMediaColumnPipe("text")(df)
    val out = ResampleBytesPipe("media", targetBytes = 8)(media)
      .select(col("doc_id"), col("media_resized").cast("string").as("r"),
        col("resized_meta.n_bytes").as("nb"))
      .orderBy("doc_id").collect()
    // out[i] = in[floor(i*4/8)] -> each char doubled
    assert(out(0).getString(1) == "aabbccdd" && out(0).getLong(2) == 8L)
    assert(out(1).getString(1) == "" && out(1).getLong(2) == 0L)
    // upscale of 2 chars to 8: each quadrupled
    assert(out(2).getString(1) == "xxxxyyyy")
  }

  test("resize stub: exact source positions past the int32 product range") {
    // 2.2MB source × index 1023 pushes i*n past 2^31 — the pre-fix int
    // product wrapped negative and substr read from the end (ADVICE r6)
    val n = 2200000
    val bytes = Array.tabulate[Byte](n)(i => ((i / 8192) % 251).toByte)
    val df = Seq((1L, bytes)).toDF("doc_id", "media")
    val t = 1024
    val out = ResampleBytesPipe("media", targetBytes = t)(df)
      .select("media_resized").head().getAs[Array[Byte]](0)
    assert(out.length == t)
    (0 until t by 97).foreach { i =>
      val src = (i.toLong * n / t).toInt
      assert(out(i) == bytes(src), s"position $i should sample source $src")
    }
  }

  test("SRP wide multi-word signature: plants found, pairs nest in the narrow layout") {
    // > 62 bits packs 60-bit words (array<long>); wide band w concatenates
    // two narrow bands, so a wide match implies a narrow match — the wide
    // pair set must be a SUBSET of the narrow one — while exact copies
    // (hamming 0 at any width) are found by both.
    val emb = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val planted = emb.unionByName(emb.filter(col("id") < 30)
      .select((col("id") + 10000).as("id"), col("v")))
    def run(bits: Int): Set[(Long, Long)] =
      SRPCosineDedupPipe("v", "id", nBits = bits)(planted)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val narrow = run(60)
    val wide = run(120)
    (0 until 30).foreach { i =>
      assert(wide.contains((i.toLong, i + 10000L)), s"wide missed plant $i") }
    assert(wide.subsetOf(narrow),
      s"wide must nest in narrow: extra=${wide -- narrow}")
    // invalid wide layout (r does not divide 60) refused
    intercept[IllegalArgumentException] {
      SRPCosineDedupPipe("v", "id", nBits = 128, bands = 8)
    }
  }

  test("real image decode: BMP and PNG reproduce formula pixels exactly") {
    def paint(id: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val r = ((id * 7 + x * 13 + y * 31) % 256).toInt
        val g = ((id * 11 + x * 5 + y * 17) % 256).toInt
        val b = ((id * 3 + x * 23 + y * 29) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, enc(paint(1L, 9, 7), "bmp")),
      (2L, enc(paint(2L, 9, 7), "png")),
      (3L, "not an image".getBytes), // undecodable -> null struct
      (4L, null.asInstanceOf[Array[Byte]]))
    val out = DecodeImagePipe("media")(rows.toDF("doc_id", "media"))
      .select("doc_id", "image").orderBy("doc_id").collect()
    // both lossless formats decode to the SAME formula pixels
    val img1 = out(0).getStruct(1); val img2 = out(1).getStruct(1)
    assert(img1.getInt(0) == 9 && img1.getInt(1) == 7 && img1.getInt(2) == 3)
    val expect = (id: Long) => (for (y <- 0 until 7; x <- 0 until 9;
      c <- Seq((id*7 + x*13 + y*31) % 256, (id*11 + x*5 + y*17) % 256,
        (id*3 + x*23 + y*29) % 256)) yield c.toInt).toSeq
    assert(img1.getSeq[Int](3) == expect(1L))
    assert(img2.getSeq[Int](3) == expect(2L))
    assert(out(2).isNullAt(1) && out(3).isNullAt(1))
  }

  test("real image resize: exact nearest-neighbor mapping") {
    val img = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, ((x * 40) << 16) | ((y * 40) << 8) | 7)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray)).toDF("doc_id", "media")
    val out = ResizeImagePipe("media", targetW = 3, targetH = 2)(df)
      .select("image_resized").head().getStruct(0)
    assert(out.getInt(0) == 3 && out.getInt(1) == 2)
    val px = out.getSeq[Int](3)
    // out(x,y) = in(x*8/3, y*6/2): srcX = 0,2,5; srcY = 0,3
    for (y <- 0 until 2; x <- 0 until 3) {
      val sx = x * 8 / 3; val sy = y * 6 / 2
      val o = (y * 3 + x) * 3
      assert(px(o) == sx * 40 && px(o + 1) == sy * 40 && px(o + 2) == 7,
        s"pixel ($x,$y) must sample source ($sx,$sy)")
    }
  }

  test("real audio decode: PCM WAV reproduces formula samples exactly") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wav(id: Long, sr: Int, ch: Int, nf: Int, bigEndian: Boolean): Array[Byte] = {
      val data = new Array[Byte](nf * ch * 2)
      for (i <- 0 until nf; c <- 0 until ch) {
        val v = ((id * 31 + i * 17 + c * 101) % 65536).toInt - 32768
        val o = (i * ch + c) * 2
        if (bigEndian) { data(o) = ((v >> 8) & 0xFF).toByte; data(o + 1) = (v & 0xFF).toByte }
        else { data(o) = (v & 0xFF).toByte; data(o + 1) = ((v >> 8) & 0xFF).toByte }
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        sr.toFloat, 16, ch, ch * 2, sr.toFloat, bigEndian)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nf.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, wav(1L, 8000, 1, 20, bigEndian = false)),
      (2L, wav(2L, 16000, 2, 15, bigEndian = false)),
      (3L, "not audio".getBytes), // unparseable -> null struct
      (4L, null.asInstanceOf[Array[Byte]]))
    val out = DecodeAudioPipe("media")(rows.toDF("doc_id", "media"))
      .select("doc_id", "audio").orderBy("doc_id").collect()
    val a1 = out(0).getStruct(1); val a2 = out(1).getStruct(1)
    assert(a1.getInt(0) == 8000 && a1.getInt(1) == 1 && a1.getInt(2) == 20)
    assert(a2.getInt(0) == 16000 && a2.getInt(1) == 2 && a2.getInt(2) == 15)
    def expect(id: Long, ch: Int, nf: Int) = (for (i <- 0 until nf; c <- 0 until ch)
      yield ((id * 31 + i * 17 + c * 101) % 65536).toInt - 32768).toSeq
    assert(a1.getSeq[Int](3) == expect(1L, 1, 20))
    assert(a2.getSeq[Int](3) == expect(2L, 2, 15))
    assert(out(2).isNullAt(1) && out(3).isNullAt(1))
  }

  test("real audio decode: 24/32-bit PCM routes through the converter (top 16 bits, not low)") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // Regression for the wide-PCM passthrough bug: a direct 2-byte read of
    // 24/32-bit little-endian samples would return the LOW 16 bits (noise).
    // The converter path must keep the TOP 16 bits (JDK rounds, so ±1).
    def wideWav(bits: Int, ch: Int, nf: Int, sample: (Int, Int) => Int): Array[Byte] = {
      val bps = bits / 8
      val data = new Array[Byte](nf * ch * bps)
      for (i <- 0 until nf; c <- 0 until ch) {
        val v = sample(i, c)
        val o = (i * ch + c) * bps
        for (b <- 0 until bps) data(o + b) = ((v >> (8 * b)) & 0xFF).toByte
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, bits, ch, ch * bps, 8000f, false)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nf.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def s24(i: Int, c: Int): Int = i * 1000000 - 4000000 + c * 333333   // 24-bit range
    def s32(i: Int, c: Int): Int = i * 100000000 - 250000000 + c * 7777777
    val rows = Seq(
      (1L, wideWav(24, 1, 10, s24)),
      (2L, wideWav(32, 2, 6, s32)))
    val out = DecodeAudioPipe("media")(rows.toDF("doc_id", "media"))
      .select("doc_id", "audio").orderBy("doc_id").collect()
    val a24 = out(0).getStruct(1); val a32 = out(1).getStruct(1)
    assert(a24.getInt(0) == 8000 && a24.getInt(1) == 1 && a24.getInt(2) == 10)
    assert(a32.getInt(1) == 2 && a32.getInt(2) == 6)
    val g24 = a24.getSeq[Int](3); val g32 = a32.getSeq[Int](3)
    for (i <- 0 until 10) {
      val want = s24(i, 0) >> 8
      assert(math.abs(g24(i) - want) <= 1, s"24-bit sample $i: got ${g24(i)}, want ~$want")
    }
    for (i <- 0 until 6; c <- 0 until 2) {
      val want = s32(i, c) >> 16
      val got = g32(i * 2 + c)
      assert(math.abs(got - want) <= 1, s"32-bit sample ($i,$c): got $got, want ~$want")
    }
  }

  test("real audio resample: exact nearest-neighbor frame mapping") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 10 stereo frames, sample(i, c) = i*100 + c
    val nf = 10; val ch = 2
    val data = new Array[Byte](nf * ch * 2)
    for (i <- 0 until nf; c <- 0 until ch) {
      val v = i * 100 + c; val o = (i * ch + c) * 2
      data(o) = (v & 0xFF).toByte; data(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, ch, ch * 2, 8000f, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nf.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val df = Seq((1L, bos.toByteArray)).toDF("doc_id", "media")
    val out = ResampleAudioPipe("media", targetFrames = 4)(df)
      .select("audio_resampled").head().getStruct(0)
    assert(out.getInt(1) == 2 && out.getInt(2) == 4)
    // out frame j = in frame j*10/4: 0, 2, 5, 7 — both channels copied
    val got = out.getSeq[Int](3)
    val want = Seq(0, 2, 5, 7).flatMap(i => Seq(i * 100, i * 100 + 1))
    assert(got == want, s"$got vs $want")
  }

  test("text normalization: ccnet steps, toggles, null safety") {
    val df = Seq(
      (1L, "Hello,  World! 42 things"),
      (2L, "HELLO world 97 THINGS"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextNormalizePipe("text")(df).orderBy("doc_id")
      .select("text_norm").as[String].collect()
    assert(out(0) == "hello world 00 things")
    assert(out(1) == "hello world 00 things") // variants collide
    assert(out(2) == "") // null -> empty, never null
    // toggles: keep case, keep digits
    val kept = TextNormalizePipe("text", lowercase = false,
      digitsToZero = false)(df).orderBy("doc_id")
      .select("text_norm").as[String].collect()
    assert(kept(0) == "Hello World 42 things")
    // map-only: no exchange in the plan
    val plan = TextNormalizePipe("text")(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("SRP on planted real embeddings: exactly the planted pairs, hamming filter below the vector joins") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val raw = spark.read.parquet(sf("embeddings")).select(
      col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val withPlants = raw.unionByName(raw.filter(col("vec_id") < 30).select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) => x + ((i % 5) - 2) * 0.01).as("embedding")))
    val out = SRPCosineDedupPipe("embedding", "vec_id")(withPlants)
    val rows = out.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == (0L until 30L).map(i => (i, i + 10000)))
    // the hamming (bit_count) predicate evaluates over signature-only
    // inputs, never downstream of a vector-fetch join
    val hamInputs = out.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.toString.contains("bit_count") =>
        f.children.flatMap(_.output)
      case j: Join if j.condition.exists(_.toString.contains("bit_count")) =>
        j.children.flatMap(_.output)
    }
    assert(hamInputs.nonEmpty &&
      hamInputs.forall(!_.exists(_.name.startsWith("v_"))))
  }

  test("simhash on planted real docs: hamming <= 3, bit_count filter below the dedup aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val base = spark.read.parquet(sf("documents")).select(col("doc_id"), col("text"))
    val sh = SimHashDedupPipe("text", "doc_id", tokenHash = "poly61")(
      base.unionByName(base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))))
    val rows = sh.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) <= 3))
    assert(sh.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.toString.contains("bit_count") => a
    }.nonEmpty)
  }
}
