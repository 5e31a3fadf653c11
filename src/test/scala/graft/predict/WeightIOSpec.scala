package graft.predict

import graft.SparkSpec
import graft.predict.WeightIO.Tensor
import java.nio.file.{Files, Paths}

/** Weight-file import for the Predict family: safetensors + npy/npz
  * readers, file-digest fingerprints, and bit-for-bit equivalence between
  * a file-loaded model and the in-code formula model through
  * [[BatchedPredictPipe]]. The checked-in fixture was generated by an
  * INDEPENDENT (python struct-level) implementation of the safetensors
  * spec, so reader and writer cannot be wrong in the same way.
  */
class WeightIOSpec extends SparkSpec {

  private def fixturePath: String = Paths.get(
    getClass.getResource("/graft/mlp_formula_64_32_16.safetensors").toURI)
    .toString

  test("safetensors reader parses hand-crafted bytes (F32 + F64, metadata skipped)") {
    import java.nio.{ByteBuffer, ByteOrder}
    val header =
      """{"__metadata__":{"who":"spec"},""" +
        """"m":{"dtype":"F32","shape":[2,2],"data_offsets":[0,16]},""" +
        """"v":{"dtype":"F64","shape":[3],"data_offsets":[16,40]}}"""
    val hb = header.getBytes("UTF-8")
    val buf = ByteBuffer.allocate(8 + hb.length + 40).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(hb.length.toLong).put(hb)
    Seq(1.5f, -2.0f, 0.25f, 3.0f).foreach(buf.putFloat)
    Seq(0.1, -1e300, 42.0).foreach(buf.putDouble)
    val ts = WeightIO.readSafeTensorsBytes(buf.array())
    assert(ts.keySet == Set("m", "v"))
    assert(ts("m").shape == Seq(2, 2))
    assert(ts("m").matrix == Seq(Seq(1.5, -2.0), Seq(0.25, 3.0)))
    assert(ts("v").vector == Seq(0.1, -1e300, 42.0))
    // unsupported dtype is refused with the name in the message
    val bad = header.replace(""""dtype":"F64"""", """"dtype":"F8_E4M3"""")
    val bb = bad.getBytes("UTF-8")
    val buf2 = ByteBuffer.allocate(8 + bb.length + 40).order(ByteOrder.LITTLE_ENDIAN)
    buf2.putLong(bb.length.toLong).put(bb)
    val e = intercept[IllegalArgumentException] {
      WeightIO.readSafeTensorsBytes(buf2.array())
    }
    assert(e.getMessage.contains("F8_E4M3"))
    // integer dtypes widen exactly; U8/BOOL read unsigned
    val ih =
      """{"i8":{"dtype":"I8","shape":[3],"data_offsets":[0,3]},""" +
        """"u8":{"dtype":"U8","shape":[3],"data_offsets":[3,6]},""" +
        """"i16":{"dtype":"I16","shape":[2],"data_offsets":[6,10]}}"""
    val ihb = ih.getBytes("UTF-8")
    val buf3 = ByteBuffer.allocate(8 + ihb.length + 10).order(ByteOrder.LITTLE_ENDIAN)
    buf3.putLong(ihb.length.toLong).put(ihb)
    Seq(-128, 0, 127).foreach(v => buf3.put(v.toByte))
    Seq(0, 128, 255).foreach(v => buf3.put(v.toByte))
    Seq(-32768, 32767).foreach(v => buf3.putShort(v.toShort))
    val its = WeightIO.readSafeTensorsBytes(buf3.array())
    assert(its("i8").vector == Seq(-128.0, 0.0, 127.0))
    assert(its("u8").vector == Seq(0.0, 128.0, 255.0))
    assert(its("i16").vector == Seq(-32768.0, 32767.0))
  }

  test("half-precision reads: F16 and BF16 decode exactly (the real-checkpoint dtypes)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // F16 bit patterns with known exact values: 1.0, -2.5, 0.5, the max
    // finite (65504), the smallest subnormal (2^-24), negative zero
    val f16 = Seq(0x3C00 -> 1.0, 0xC100 -> -2.5, 0x3800 -> 0.5,
      0x7BFF -> 65504.0, 0x0001 -> 5.9604644775390625e-8, 0x8000 -> -0.0)
    f16.foreach { case (bits, want) =>
      assert(WeightIO.halfToFloat(bits).toDouble == want,
        f"F16 0x$bits%04x: got ${WeightIO.halfToFloat(bits)}, want $want")
    }
    // BF16 = top 16 bits of a float32
    val bf16 = Seq(0x3F80 -> 1.0, 0xC020 -> -2.5,
      0x4049 -> java.lang.Float.intBitsToFloat(0x40490000).toDouble)
    bf16.foreach { case (bits, want) =>
      assert(WeightIO.bf16ToFloat(bits).toDouble == want)
    }
    // through the safetensors reader: one F16 matrix + one BF16 vector
    val header =
      """{"h":{"dtype":"F16","shape":[2,2],"data_offsets":[0,8]},""" +
        """"b":{"dtype":"BF16","shape":[2],"data_offsets":[8,12]}}"""
    val hb = header.getBytes("UTF-8")
    val buf = ByteBuffer.allocate(8 + hb.length + 12).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(hb.length.toLong).put(hb)
    Seq(0x3C00, 0xC100, 0x3800, 0x7BFF).foreach(v => buf.putShort(v.toShort))
    Seq(0x3F80, 0xC020).foreach(v => buf.putShort(v.toShort))
    val ts = WeightIO.readSafeTensorsBytes(buf.array())
    assert(ts("h").matrix == Seq(Seq(1.0, -2.5), Seq(0.5, 65504.0)))
    assert(ts("b").vector == Seq(1.0, -2.5))
    // npy <f2 (numpy half) parses through the same converter
    val head = "{'descr': '<f2', 'fortran_order': False, 'shape': (3,), }"
    val padded = head + " " * (64 - 10 - head.length - 1) + "\n"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0x93); bos.write("NUMPY".getBytes("ASCII"))
    bos.write(1); bos.write(0)
    bos.write(padded.length & 0xFF); bos.write((padded.length >> 8) & 0xFF)
    bos.write(padded.getBytes("ASCII"))
    val db = ByteBuffer.allocate(6).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0x3C00, 0xC100, 0x0001).foreach(v => db.putShort(v.toShort))
    bos.write(db.array())
    val t = WeightIO.readNpy(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(t.vector == Seq(1.0, -2.5, 5.9604644775390625e-8))
  }

  test("safetensors roundtrip: F32 exact for f32 values, F64 exact for doubles") {
    val dir = Files.createTempDirectory("graft-st").toString
    val t1 = Tensor(Seq(2, 3), Array(0.125, -4.0, 0.0625, 1.0, -0.5, 7.25))
    val t2 = Tensor(Seq(2), Array(math.Pi, -1.0 / 3.0))
    WeightIO.writeSafeTensors(s"$dir/a.st", Seq("w" -> t1, "b" -> t2), "F64")
    val back = WeightIO.readSafeTensors(s"$dir/a.st")
    assert(back("w").matrix == t1.matrix && back("b").vector == t2.vector)
    WeightIO.writeSafeTensors(s"$dir/b.st", Seq("w" -> t1), "F32")
    assert(WeightIO.readSafeTensors(s"$dir/b.st")("w").matrix == t1.matrix,
      "f32-representable values must survive an F32 roundtrip exactly")
    // digest is stable and content-derived
    assert(WeightIO.fileDigest(s"$dir/a.st") == WeightIO.fileDigest(s"$dir/a.st"))
    assert(WeightIO.fileDigest(s"$dir/a.st") != WeightIO.fileDigest(s"$dir/b.st"))
    // the one-pass loader digests must EQUAL the standalone file digest
    // (they are the cache keys — a mismatch would fork model state)
    assert(WeightIO.readSafeTensorsWithDigest(s"$dir/a.st")._2 ==
      WeightIO.fileDigest(s"$dir/a.st"))
    WeightIO.writeNpz(s"$dir/a.npz", Seq("w" -> t1))
    assert(WeightIO.readNpzWithDigest(s"$dir/a.npz")._2 ==
      WeightIO.fileDigest(s"$dir/a.npz"),
      "npz streaming digest must cover the whole file incl. the central directory")
  }

  test("npy reader parses hand-crafted numpy v1 bytes; npz roundtrip exact") {
    // bytes exactly as numpy 1.x writes a 2x2 <f8 C-order array
    val head = "{'descr': '<f8', 'fortran_order': False, 'shape': (2, 2), }"
    val padded = head + " " * (64 - 10 - head.length - 1) + "\n"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(0x93); bos.write("NUMPY".getBytes("ASCII"))
    bos.write(1); bos.write(0)
    bos.write(padded.length & 0xFF); bos.write((padded.length >> 8) & 0xFF)
    bos.write(padded.getBytes("ASCII"))
    val db = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, -2.5, 1e10, 0.001).foreach(db.putDouble)
    bos.write(db.array())
    val t = WeightIO.readNpy(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(t.matrix == Seq(Seq(1.0, -2.5), Seq(1e10, 0.001)))
    // npz roundtrip through our writer
    val dir = Files.createTempDirectory("graft-npz").toString
    val w = Tensor(Seq(3, 2), Array(0.5, -0.25, 1.0, 2.0, -8.0, 0.125))
    val b = Tensor(Seq(2), Array(0.0625, -0.1875))
    WeightIO.writeNpz(s"$dir/m.npz", Seq("w" -> w, "b" -> b))
    val back = WeightIO.readNpz(s"$dir/m.npz")
    assert(back("w").matrix == w.matrix && back("b").vector == b.vector)
  }

  test("property: random tensors roundtrip exactly through both formats") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genTensor = for {
      r <- Gen.choose(1, 7)
      c <- Gen.choose(1, 7)
      // f32-representable doubles (float grid) so the F32/npz <f4 writers
      // are lossless; magnitudes span subnormal-ish to large
      vs <- Gen.listOfN(r * c,
        Gen.choose(-1e6f, 1e6f).map(_.toDouble))
    } yield Tensor(Seq(r, c), vs.toArray)
    val dir = Files.createTempDirectory("graft-prop").toString
    val params = org.scalacheck.Gen.Parameters.default
    (0 until 40).foreach { i =>
      val t = genTensor(params, Seed(i.toLong)).get
      WeightIO.writeSafeTensors(s"$dir/$i.st", Seq("t" -> t), "F32")
      assert(WeightIO.readSafeTensors(s"$dir/$i.st")("t").matrix == t.matrix,
        s"safetensors F32 roundtrip broke at seed $i")
      WeightIO.writeNpz(s"$dir/$i.npz", Seq("t" -> t), "<f4")
      assert(WeightIO.readNpz(s"$dir/$i.npz")("t").matrix == t.matrix,
        s"npz <f4 roundtrip broke at seed $i")
      // transpose is an involution and preserves the value multiset
      assert(t.transposed.transposed.matrix == t.matrix)
      assert(t.transposed.data.sorted.toSeq == t.data.sorted.toSeq)
    }
  }

  test("checked-in safetensors fixture loads the exact formula weights") {
    val loaded = MlpModel.fromSafeTensors(fixturePath)
    val formula = MlpModel.formula(64, 32, 16)
    assert(loaded.w1 == formula.w1 && loaded.b1 == formula.b1)
    assert(loaded.w2 == formula.w2 && loaded.b2 == formula.b2)
    // fingerprint = file digest, distinct from the structural hash
    assert(loaded.sourceDigest.exists(_.length == 64))
    assert(loaded.fingerprint != formula.fingerprint)
    // same file -> same fingerprint (cache-key stability)
    assert(MlpModel.fromSafeTensors(fixturePath).fingerprint == loaded.fingerprint)
  }

  test("file-loaded model matches the formula model bit-for-bit through BatchedPredictPipe") {
    import spark.implicits._
    val loaded = MlpModel.fromSafeTensors(fixturePath)
    val formula = MlpModel.formula(64, 32, 16)
    val emb = spark.read.parquet(sf("embeddings")).select("vec_id", "embedding")
    def run(m: MlpModel) =
      BatchedPredictPipe(m, "embedding", "vector", "vec_id", blockSize = 128)(emb)
        .select("vec_id", "vector").as[(Long, Seq[Double])].collect().toMap
    val a = run(loaded); val b = run(formula)
    assert(a.keySet == b.keySet && a.keySet.nonEmpty)
    a.foreach { case (k, v) => assert(v == b(k), s"vec $k diverged") }
  }

  test("torch-layout [out,in] weights transpose on load; npz loader agrees") {
    val dir = Files.createTempDirectory("graft-torch").toString
    val m0 = MlpModel.formula(6, 4, 3)
    def t2(m: Seq[Seq[Double]]) = m.transpose.map(_.toSeq)
    val tensors = Seq(
      "fc1.weight" -> Tensor(Seq(4, 6), t2(m0.w1).flatten.toArray),
      "fc1.bias" -> Tensor(Seq(4), m0.b1.toArray),
      "fc2.weight" -> Tensor(Seq(3, 4), t2(m0.w2).flatten.toArray),
      "fc2.bias" -> Tensor(Seq(3), m0.b2.toArray))
    WeightIO.writeSafeTensors(s"$dir/t.st", tensors)
    val names = ("fc1.weight", "fc1.bias", "fc2.weight", "fc2.bias")
    val st = MlpModel.fromSafeTensors(s"$dir/t.st", names, torchLayout = true)
    assert(st.w1 == m0.w1 && st.w2 == m0.w2 && st.b1 == m0.b1 && st.b2 == m0.b2)
    WeightIO.writeNpz(s"$dir/t.npz", tensors)
    val nz = MlpModel.fromNpz(s"$dir/t.npz", names, torchLayout = true)
    assert(nz.w1 == m0.w1 && nz.w2 == m0.w2 && nz.b1 == m0.b1 && nz.b2 == m0.b2)
    // missing tensor name names the absentee and the present set
    val e = intercept[IllegalArgumentException] {
      MlpModel.fromSafeTensors(s"$dir/t.st") // default names w1/b1/w2/b2
    }
    assert(e.getMessage.contains("w1") && e.getMessage.contains("fc1.weight"))
  }

  test("streaming reader: gaps are drained, overlaps refused, header bound enforced") {
    import java.nio.{ByteBuffer, ByteOrder}
    // two tensors with an unclaimed 8-byte GAP between them: the stream
    // reader must drain it (a seek-free digest pass) and still decode
    // the second tensor at its declared offset
    val header =
      """{"a":{"dtype":"F64","shape":[1],"data_offsets":[0,8]},""" +
        """"b":{"dtype":"F64","shape":[1],"data_offsets":[16,24]}}"""
    val hb = header.getBytes("UTF-8")
    val buf = ByteBuffer.allocate(8 + hb.length + 24).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(hb.length.toLong).put(hb)
    buf.putDouble(1.5); buf.putLong(0xDEADBEEFL); buf.putDouble(-2.5)
    val ts = WeightIO.readSafeTensorsBytes(buf.array())
    assert(ts("a").vector == Seq(1.5) && ts("b").vector == Seq(-2.5))
    // overlapping offsets cannot stream (would need a backward seek)
    val oh =
      """{"a":{"dtype":"F64","shape":[2],"data_offsets":[0,16]},""" +
        """"b":{"dtype":"F64","shape":[1],"data_offsets":[8,16]}}"""
    val ohb = oh.getBytes("UTF-8")
    val buf2 = ByteBuffer.allocate(8 + ohb.length + 16).order(ByteOrder.LITTLE_ENDIAN)
    buf2.putLong(ohb.length.toLong).put(ohb)
    buf2.putDouble(1.0); buf2.putDouble(2.0)
    val e = intercept[IllegalArgumentException] {
      WeightIO.readSafeTensorsBytes(buf2.array())
    }
    assert(e.getMessage.contains("overlap"))
    // a header length past the format's 100 MB bound is refused before
    // the header allocation (file long enough that the length itself is
    // plausible, so the BOUND check is what fires)
    val big = new Array[Byte]((8 + WeightIO.MaxHeaderBytes + 1).toInt)
    ByteBuffer.wrap(big).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(WeightIO.MaxHeaderBytes + 1)
    val e2 = intercept[IllegalArgumentException] {
      WeightIO.readSafeTensorsBytes(big)
    }
    assert(e2.getMessage.contains("bound"))
  }

  test("safetensors past the 2 GiB array cap round-trip (streamed)") {
    // 2 x 140M F64 elements = 2.24e9 data bytes > Int.MaxValue. Both
    // tensors share one backing array so the TEST fits in heap; the
    // reader/writer never allocate file-sized buffers either way.
    val n = 140000000
    val big = new Array[Double](n)
    var i = 0
    while (i < n) { big(i) = (i % 997) * 0.5 - 200.0; i += 1 }
    val dir = Files.createTempDirectory("graft-big").toString
    val p = s"$dir/big.st"
    try {
      WeightIO.writeSafeTensors(p, Seq(
        "a" -> Tensor(Seq(n), big), "b" -> Tensor(Seq(n), big)), "F64")
      val len = new java.io.File(p).length()
      assert(len > Int.MaxValue.toLong, s"file only $len bytes")
      val (back, digest) = WeightIO.readSafeTensorsWithDigest(p)
      assert(digest.length == 64)
      assert(back.keySet == Set("a", "b"))
      for (name <- Seq("a", "b"); idx <- Seq(0, 1, 996, 997, n / 2, n - 1))
        assert(back(name).data(idx) == big(idx),
          s"$name($idx): ${back(name).data(idx)} != ${big(idx)}")
      assert(back("a").shape == Seq(n) && back("b").shape == Seq(n))
    } finally {
      new java.io.File(p).delete()
      new java.io.File(dir).delete()
    }
  }

  test("LinearModel.fromSafeTensors: torch [out,in] rows are the output units") {
    val dir = Files.createTempDirectory("graft-lin").toString
    val w = Seq(Seq(1.0, 2.0, 3.0), Seq(-0.5, 0.25, 0.0)) // 2 outputs x 3 inputs
    val b = Seq(0.125, -1.0)
    WeightIO.writeSafeTensors(s"$dir/l.st", Seq(
      "weight" -> Tensor(Seq(2, 3), w.flatten.toArray),
      "bias" -> Tensor(Seq(2), b.toArray)), "F64")
    val m = LinearModel.fromSafeTensors(s"$dir/l.st")
    assert(m.weights == w && m.bias == b)
    assert(m.fingerprint != LinearModel(w, b).fingerprint,
      "file-loaded fingerprint is the file digest, not the structural hash")
  }

  test("BF16 checkpoint end to end: BatchedPredictPipe output bit-identical to the truncated in-code model") {
    // bf16 = the top 16 bits of a float32; the widening chain
    // bf16 -> f32 -> f64 is exact
    def bf16(d: Double): Double = java.lang.Float.intBitsToFloat(
      (java.lang.Float.floatToRawIntBits(d.toFloat) >>> 16) << 16).toDouble
    val m0 = MlpModel.formula(64, 32, 16)
    // perturb the formula weights so the truncation actually bites
    def jig(m: Seq[Seq[Double]]) = m.map(_.map(v => v + 1.0 / 3.0))
    val (w1, w2) = (jig(m0.w1), jig(m0.w2))
    val truncated = MlpModel(w1.map(_.map(bf16)), m0.b1.map(bf16),
      w2.map(_.map(bf16)), m0.b2.map(bf16))
    // hand-write the BF16 buffer (the writer emits F32/F64 only)
    val flat = Seq("w1" -> (Seq(64, 32), w1.flatten), "b1" -> (Seq(32), m0.b1),
      "w2" -> (Seq(32, 16), w2.flatten), "b2" -> (Seq(16), m0.b2))
    val (entries, end) = flat.foldLeft((Seq.empty[String], 0L)) {
      case ((hs, off), (name, (shape, vs))) =>
        val e = off + vs.size * 2
        (hs :+ s""""$name":{"dtype":"BF16","shape":[${shape.mkString(",")}],"data_offsets":[$off,$e]}""", e)
    }
    val header = ("{" + entries.mkString(",") + "}").getBytes("UTF-8")
    val pad = (8 - header.length % 8) % 8
    val buf = java.nio.ByteBuffer.allocate(8 + header.length + pad + end.toInt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong((header.length + pad).toLong).put(header)
      .put(Array.fill(pad)(' '.toByte))
    flat.foreach { case (_, (_, vs)) => vs.foreach(v => buf.putShort(
      (java.lang.Float.floatToRawIntBits(v.toFloat) >>> 16).toShort)) }
    val path = Files.createTempDirectory("graft-bf16").resolve("mlp.safetensors")
    Files.write(path, buf.array())
    val loaded = MlpModel.fromSafeTensors(path.toString)
    val emb = spark.read.parquet(sf("embeddings")).select("vec_id", "embedding")
    def run(m: MlpModel) =
      BatchedPredictPipe(m, "embedding", "vector", "vec_id", blockSize = 64)(emb)
        .select("vec_id", "vector").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val (a, b) = (run(loaded), run(truncated))
    assert(a.nonEmpty && a.keySet == b.keySet && a.forall { case (k, v) => v == b(k) })
    assert(loaded.w1 != w1, "truncation must have changed the weights")
  }
}
