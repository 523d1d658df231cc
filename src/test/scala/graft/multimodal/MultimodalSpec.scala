package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("attachPayload: payload bytes round-trip the text; meta struct is typed") {
    val d = Seq((1L, "hello")).toDF("doc_id", "text")
    val row = Multimodal.attachPayload(d).select("payload", "meta.width", "meta.mime").head()
    assert(new String(row.getAs[Array[Byte]](0), "UTF-8") === "hello")
    assert(row.getInt(1) === 5 % 512 + 64)
    assert(row.getString(2) === "application/octet-stream")
  }

  test("extractFeatures: deterministic 8-dim features, one row per input") {
    val d = Seq((1L, "abc"), (2L, "abc"), (3L, "zzzz")).toDF("doc_id", "text")
    val f = Multimodal.extractFeatures(Multimodal.attachPayload(d), "doc_id")
      .as[(Long, Seq[Double])].collect().toMap
    assert(f.size === 3)
    assert(f(1L) === f(2L))          // same bytes → same features
    assert(f(1L).length === 8)
    assert(f(1L) !== f(3L))
  }

  test("ImageIoDecoder round-trips SyntheticPng: real PNG encode + ImageIO decode recovers exact dims and channel means") {
    for (id <- Seq(0L, 1L, 42L, 9999L)) {
      val w = Multimodal.SyntheticPng.width(id)
      val h = Multimodal.SyntheticPng.height(id)
      val png = Multimodal.SyntheticPng.render(id)
      // a real PNG, not a byte bag: magic header present
      assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte)
      val f = new Multimodal.ImageIoDecoder().features(png)
      assert(f(0) === w.toDouble && f(1) === h.toDouble)
      // arithmetic recompute of the means (the q139 oracle's formula)
      def mean(ch: (Long, Int, Int) => Int): Double = {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += ch(id, x, y)
        s.toDouble / (w * h)
      }
      assert(f(2) === mean(Multimodal.SyntheticPng.r))
      assert(f(3) === mean(Multimodal.SyntheticPng.g))
      assert(f(4) === mean(Multimodal.SyntheticPng.b))
    }
  }

  test("attachImagePayload + extractFeatures: distributed PNG decode pipeline") {
    val d = Seq((7L, "x"), (8L, "y"), (9L, "z")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
        Multimodal.attachImagePayload(d), "doc_id", new Multimodal.ImageIoDecoder)
      .as[(Long, Seq[Double])].collect().toMap
    assert(feats.size === 3)
    assert(feats(7L)(0) === Multimodal.SyntheticPng.width(7L).toDouble)
    assert(feats(9L)(1) === Multimodal.SyntheticPng.height(9L).toDouble)
    val meta = Multimodal.attachImagePayload(d)
      .select("meta.mime", "meta.width").head()
    assert(meta.getString(0) === "image/png")
  }

  test("AudioDecoder round-trips SyntheticWav: real WAV encode + javax.sound decode recovers rate, frames, and exact sample mean") {
    for (id <- Seq(0L, 5L, 63L, 12345L)) {
      val n = Multimodal.SyntheticWav.nFrames(id)
      val wav = Multimodal.SyntheticWav.render(id)
      // a real RIFF/WAVE container, not a byte bag
      assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
      assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
      val f = new Multimodal.AudioDecoder().features(wav)
      assert(f(0) === 8000.0 && f(1) === n.toDouble && f(2) === 1.0)
      val sum = (0 until n).map(i => Multimodal.SyntheticWav.sample(id, i).toLong).sum
      assert(f(3) === sum.toDouble / n)
    }
  }

  test("SyntheticVideo container round-trips; videoFrameFeatures samples stride-2 and decodes real frames") {
    val id = 42L
    val frames = Multimodal.SyntheticVideo.parse(Multimodal.SyntheticVideo.render(id))
    assert(frames.length === Multimodal.SyntheticVideo.nFrames(id))
    // every frame is a real PNG of the derived id's dimensions
    for (f <- frames.indices) {
      val feats = new Multimodal.ImageIoDecoder().features(frames(f))
      val fid = Multimodal.SyntheticVideo.frameId(id, f)
      assert(feats(0) === Multimodal.SyntheticPng.width(fid).toDouble)
      assert(feats(1) === Multimodal.SyntheticPng.height(fid).toDouble)
    }
    val d = Seq((id, "x")).toDF("doc_id", "text")
    val out = Multimodal.videoFrameFeatures(d, stride = 2)
      .orderBy("frame_idx").collect()
    // nFrames(42) = 3 + 42%4 = 5 → sampled frames 0, 2, 4
    assert(out.map(_.getInt(1)).toSeq === Seq(0, 2, 4))
    assert(out.forall(r => r.getInt(2) ===
      Multimodal.SyntheticPng.width(Multimodal.SyntheticVideo.frameId(id, r.getInt(1)))))
  }

  test("video containers at rest: parquet binary round-trip decodes identically to direct compute") {
    // the q145 shape: syntheticVideos spooled to parquet, read back, and
    // decoded — byte-identical payload through the binary column, so the
    // at-rest path must equal the generate-then-decode composition
    val d = Seq((7L, "a"), (42L, "b"), (99L, "c")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("vid_rest").toString
    Multimodal.syntheticVideos(d, "doc_id").write.mode("overwrite").parquet(dir)
    val atRest = Multimodal.videoFrameFeaturesOf(spark.read.parquet(dir), stride = 2)
      .collect().map(_.toSeq).toSet
    val direct = Multimodal.videoFrameFeatures(d, stride = 2)
      .collect().map(_.toSeq).toSet
    assert(atRest === direct)
    assert(atRest.nonEmpty)
  }

  test("SyntheticVideo.parse rejects a corrupted container loudly") {
    val err = intercept[IllegalArgumentException] {
      Multimodal.SyntheticVideo.parse("XXXX garbage".getBytes("US-ASCII"))
    }
    assert(err.getMessage.contains("magic"))
  }

  test("ImageIoDecoder rejects undecodable payloads loudly") {
    val err = intercept[IllegalArgumentException] {
      new Multimodal.ImageIoDecoder().features("not a png".getBytes("UTF-8"))
    }
    assert(err.getMessage.contains("undecodable"))
  }

  test("resizeBytes stride-decimates the payload, empty payload passes through") {
    val d = Seq((1L, "abcdefgh"), (2L, "")).toDF("doc_id", "text")
    val out = Multimodal.resizeBytes(Multimodal.attachPayload(d), factor = 3)
      .select("doc_id", "payload_small").collect()
      .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(out(1L) === "adg") // bytes 0,3,6
    assert(out(2L) === "")
  }

  test("resizeBytes on a 1 MB payload is O(n): finishes fast with exact output") {
    // the old substr+concat formulation was O(n²) per row — a 1 MB payload
    // would copy ~10¹² bytes and effectively hang; the native kernel is one
    // pass. Correctness: byte i of the output is byte i*factor of the input.
    val payload = Array.tabulate[Byte](1 << 20)(i => (i % 251).toByte)
    val d = Seq((1L, payload)).toDF("doc_id", "payload")
    val t0 = System.nanoTime()
    val out = Multimodal.resizeBytes(d, factor = 4)
      .select("payload_small").head().getAs[Array[Byte]](0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length === (1 << 20) / 4)
    assert(out.toSeq === Seq.tabulate(1 << 18)(j => ((j * 4) % 251).toByte))
    assert(secs < 30, s"1 MB resize took ${secs}s — not O(n)")
  }

  test("binary_stride SQL registration evaluates like the Column door") {
    val d = Seq((1L, "abcdefgh".getBytes("UTF-8"))).toDF("doc_id", "payload")
    d.createOrReplaceTempView("bin_t")
    val viaSql = spark.sql("SELECT binary_stride(payload, 3) AS p FROM bin_t")
      .head().getAs[Array[Byte]](0)
    assert(new String(viaSql, "UTF-8") === "adg")
  }

  test("sampleChunks keeps every stride-th fixed-size chunk") {
    val d = Seq((1L, "aabbccddee")).toDF("doc_id", "text") // 10 bytes, chunk=2 → 5 chunks
    val frames = Multimodal.sampleChunks(Multimodal.attachPayload(d), chunkBytes = 2, stride = 2)
      .select("frames").as[Seq[Array[Byte]]].head()
    assert(frames.map(new String(_, "UTF-8")) === Seq("aa", "cc", "ee"))
  }
}
