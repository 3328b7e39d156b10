package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("synthetic media table honours the schema contract") {
    val m = Multimodal.syntheticMedia(spark, sf)
    assert(m.columns.toSeq == MultimodalSpec.mediaSchema.fieldNames.toSeq)
    val kinds = m.select("kind").distinct().as[String].collect().toSet
    assert(kinds == Set("image", "audio", "video"))
    // image rows carry dimensions, audio/video carry duration
    assert(m.filter($"kind" === "image" && $"width".isNull).count() == 0)
    assert(m.filter($"kind" =!= "image" && $"duration_ms".isNull).count() == 0)
  }

  test("feature extraction is deterministic byte math over the payload") {
    val media = Seq((1L, "image", "abc".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect()(0)
    assert(f.getAs[Int]("n_bytes") == 3)
    assert(math.abs(f.getAs[Double]("mean_byte") - (97 + 98 + 99) / 3.0) < 1e-12)
    assert(f.getAs[String]("head_sig") == "616263")
  }

  test("perceptual hash: constructed payloads set exactly the loud segments' bits") {
    // 63 bytes -> one byte per segment; byte s = 120 iff s ∈ {5, 40},
    // rest 10 (all ASCII-range — high bytes are compacted away by
    // contract) -> the whole-payload mean sits between, so bits 5 and
    // 40 (and only they) must be set
    val bytes = Array.tabulate(63)(s => if (s == 5 || s == 40) 120.toByte else 10.toByte)
    val media = Seq((1L, bytes)).toDF("media_id", "payload")
    val r = Multimodal.perceptualHash(media).as[(Long, Int, Long)].head()
    assert(r._2 == 63)
    assert(r._3 == ((1L << 5) | (1L << 40)), f"phash = ${r._3}%x")
    // sub-63-byte payloads are excluded by contract (segments would alias)
    val short = Seq((2L, Array.fill(62)(10.toByte))).toDF("media_id", "payload")
    assert(Multimodal.perceptualHash(short).count() == 0)
  }

  test("downsample keeps every k-th byte") {
    val media = Seq((1L, Array[Byte](0, 1, 2, 3, 4, 5, 6))).toDF("media_id", "payload")
    val d = Multimodal.downsample(media, 3).as[(Long, Array[Byte])].head()
    assert(d._2.toSeq == Seq[Byte](0, 3, 6))
  }

  test("frame sampling windows video payloads at fixed stride") {
    val media = Seq((1L, "video", (0 until 10).map(_.toByte).toArray),
                    (2L, "image", Array[Byte](1, 2, 3)))
      .toDF("media_id", "kind", "payload")
    val frames = Multimodal.sampleFrames(media, frameSize = 4, stride = 3)
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
    assert(frames.forall(_._1 == 1L)) // image rows excluded
    assert(frames.map(_._2).toSeq == Seq(0, 3, 6))
    assert(frames.head._3.toSeq == Seq[Byte](0, 1, 2, 3))
  }

  test("q55 frame counts follow the stride arithmetic exactly") {
    val rows = SparkEntry.queries("q55_frame_sample")(spark, sf).collect()
    assert(rows.nonEmpty)
    val lens = Tables.documents(spark, sf)
      .filter($"doc_id" % 3 === 2 && length($"text") >= 256)
      .select($"doc_id", length($"text")).as[(Long, Int)].collect().toMap
    assert(rows.length == lens.size)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_frames")
      val len = lens(r.getAs[Long]("media_id"))
      assert(n == (len - 256) / 512 + 1, s"frame count for len=$len")
      assert(r.getAs[Long]("total_frame_bytes") == n * 256)
      // offsets 0, 512, ... (n-1)*512 sum to 512 * n(n-1)/2
      assert(r.getAs[Long]("sum_offsets") == 512 * n * (n - 1) / 2)
    }
  }

  test("PNG codec round-trips any byte signal losslessly") {
    // full byte range, incl. >= 0x80 — PNG is lossless so the decoded
    // pixels must be bit-identical to the encoded signal
    val signal = Array.tabulate(300)(i => ((i * 7 + 13) % 256).toByte)
    val png = Multimodal.Codec.encodeGrayPng(signal)
    assert(Multimodal.Codec.isPng(png))
    assert(!Multimodal.Codec.isPng(signal))
    assert(Multimodal.Codec.decodeGrayPixels(png).toSeq == signal.toSeq)
    // signalOf: containers decode, raw signals pass through
    assert(Multimodal.Codec.signalOf(png).toSeq == signal.toSeq)
    assert(Multimodal.Codec.signalOf(signal).toSeq == signal.toSeq)
  }

  test("WAV codec round-trips any byte signal losslessly through AudioSystem") {
    // full byte range — 8-bit PCM stores samples verbatim, and the
    // decode goes through the REAL javax.sound.sampled parser
    val signal = Array.tabulate(300)(i => ((i * 11 + 5) % 256).toByte)
    val wav = Multimodal.Codec.encodePcmWav(signal)
    assert(Multimodal.Codec.isWav(wav))
    assert(!Multimodal.Codec.isWav(signal) && !Multimodal.Codec.isPng(wav))
    assert(Multimodal.Codec.decodePcmSamples(wav).toSeq == signal.toSeq)
    assert(Multimodal.Codec.signalOf(wav).toSeq == signal.toSeq)
    // a corrupt container fails loudly at the codec, never silently
    val broken = wav.clone(); broken(20) = 99 // clobber fmt chunk
    intercept[Exception](Multimodal.Codec.decodePcmSamples(broken))
  }

  test("WAV containers are RIFF-word-aligned and tolerate empty signals") {
    // odd data chunk: one trailing pad byte, counted in the RIFF size
    // but NOT in the data ckSize — round-trip still byte-exact
    val odd = Array.tabulate(301)(i => ((i * 3 + 1) % 256).toByte)
    val wav = Multimodal.Codec.encodePcmWav(odd)
    assert(wav.length % 2 == 0 && wav.length == 44 + 301 + 1)
    def le32(off: Int): Int =
      (wav(off) & 0xff) | ((wav(off + 1) & 0xff) << 8) |
        ((wav(off + 2) & 0xff) << 16) | ((wav(off + 3) & 0xff) << 24)
    assert(le32(4) == wav.length - 8)  // RIFF size spans the pad byte
    assert(le32(40) == 301)            // data ckSize does not
    assert(Multimodal.Codec.decodePcmSamples(wav).toSeq == odd.toSeq)
    // an empty signal encodes as a VALID zero-sample container (one bad
    // payload must not abort a corpus-wide query)
    val empty = Multimodal.Codec.encodePcmWav(Array.empty[Byte])
    assert(Multimodal.Codec.isWav(empty))
    assert(Multimodal.Codec.decodePcmSamples(empty).isEmpty)
  }

  test("GVID video container round-trips losslessly through real PNG frames") {
    // 700 bytes at frameSize 256 → frames of 256/256/188: full frames
    // tile the signal, the partial tail keeps the round-trip exact
    val signal = Array.tabulate(700)(i => ((i * 31 + 7) % 256).toByte)
    val vid = Multimodal.Codec.encodeVideoPng(signal, frameSize = 256)
    assert(Multimodal.Codec.isVideo(vid))
    assert(!Multimodal.Codec.isPng(vid) && !Multimodal.Codec.isWav(vid))
    val frames = Multimodal.Codec.decodeVideoFrames(vid)
    assert(frames.map(_._3.length).toSeq == Seq(256, 256, 188))
    assert(frames.map(_._2).toSeq == Seq(0L, 256L, 512L)) // contiguous tiling
    assert(Multimodal.Codec.decodeVideoSignal(vid).toSeq == signal.toSeq)
    assert(Multimodal.Codec.signalOf(vid).toSeq == signal.toSeq)
    // a clobbered frame fails loudly at the codec, never silently
    val broken = vid.clone(); broken(30) = 99
    intercept[Exception](Multimodal.Codec.decodeVideoSignal(broken))
  }

  test("frame motion: hand-computed diffs over a constructed container (q144)") {
    // frames: 256×10, 256×13, 100×1 → motion₁ = 256·|10−13| = 768,
    // motion₂ = 100·|13−1| = 1200 (partial tail diffs over ITS length);
    // total 1968, max 1200, weighted 1·768 + 2·1200 = 3168
    val signal = (Array.fill(256)(10.toByte) ++ Array.fill(256)(13.toByte) ++
      Array.fill(100)(1.toByte))
    val media = Seq(
      (7L, "video", Multimodal.Codec.encodeVideoPng(signal, 256)),
      (8L, "video", Multimodal.Codec.encodeVideoPng(Array.fill(40)(5.toByte), 256)),
      (9L, "image", Multimodal.Codec.encodeGrayPng(Array.fill(40)(5.toByte))))
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.frameMotion(media, 256)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // image-kind rows are excluded; a single-frame video motions to zero
    assert(rows == Seq((7L, 3L, 1968L, 1200L, 3168L), (8L, 1L, 0L, 0L, 0L)))
  }

  test("container frame sampling == raw byte-window sampling (q55 parity)") {
    // the GVID route must produce byte-identical samples to the raw
    // fallback for the same signal — the property the q55 oracle rides
    val signal = Array.tabulate(1500)(i => ((i * 13 + 3) % 256).toByte)
    val cooked = Seq((1L, "video", Multimodal.Codec.encodeVideoPng(signal, 256)))
      .toDF("media_id", "kind", "payload")
    val raw = Seq((1L, "video", signal)).toDF("media_id", "kind", "payload")
    def frames(df: org.apache.spark.sql.DataFrame) =
      Multimodal.sampleFrames(df, frameSize = 256, stride = 512)
        .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
        .map(f => (f._2, f._3.toSeq)).toSeq
    assert(frames(cooked) == frames(raw) && frames(cooked).nonEmpty)
  }

  test("synthetic video payloads are real GVID containers decoding to the text bytes") {
    val vids = Multimodal.syntheticMedia(spark, sf)
      .filter($"kind" === "video")
      .join(Tables.documents(spark, sf), $"media_id" === $"doc_id")
      .select($"media_id", $"mime", $"payload", $"text")
      .limit(5).collect()
    assert(vids.nonEmpty)
    vids.foreach { r =>
      assert(r.getAs[String]("mime") == "video/x-graft-gvid")
      val payload = r.getAs[Array[Byte]]("payload")
      assert(Multimodal.Codec.isVideo(payload))
      assert(Multimodal.Codec.decodeVideoSignal(payload).toSeq ==
        r.getAs[String]("text").getBytes("UTF-8").toSeq)
    }
  }

  test("synthetic audio payloads are real WAV containers decoding to the text bytes") {
    val auds = Multimodal.syntheticMedia(spark, sf)
      .filter($"kind" === "audio")
      .join(Tables.documents(spark, sf), $"media_id" === $"doc_id")
      .select($"media_id", $"mime", $"payload", $"text")
      .limit(5).collect()
    assert(auds.nonEmpty)
    auds.foreach { r =>
      assert(r.getAs[String]("mime") == "audio/wav")
      val payload = r.getAs[Array[Byte]]("payload")
      assert(Multimodal.Codec.isWav(payload))
      assert(Multimodal.Codec.decodePcmSamples(payload).toSeq ==
        r.getAs[String]("text").getBytes("UTF-8").toSeq)
    }
  }

  test("synthetic image payloads are real PNG containers decoding to the text bytes") {
    val imgs = Multimodal.syntheticMedia(spark, sf)
      .filter($"kind" === "image")
      .join(Tables.documents(spark, sf), $"media_id" === $"doc_id")
      .select($"media_id", $"mime", $"payload", $"text")
      .limit(5).collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      assert(r.getAs[String]("mime") == "image/png")
      val payload = r.getAs[Array[Byte]]("payload")
      assert(Multimodal.Codec.isPng(payload))
      assert(Multimodal.Codec.decodeGrayPixels(payload).toSeq ==
        r.getAs[String]("text").getBytes("UTF-8").toSeq)
    }
  }

  test("feature extraction decodes PNG containers before computing stats") {
    val png = Multimodal.Codec.encodeGrayPng("abc".getBytes("UTF-8"))
    val media = Seq((1L, "image", png)).toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect()(0)
    assert(f.getAs[Int]("n_bytes") == 3) // pixels, not container bytes
    assert(math.abs(f.getAs[Double]("mean_byte") - (97 + 98 + 99) / 3.0) < 1e-12)
    assert(f.getAs[String]("head_sig") == "616263")
  }

  test("2-D PNG codec round-trips with zero-padded final row") {
    val signal = Array.tabulate(10)(i => (i + 1).toByte) // 10 bytes, width 4
    val png = Multimodal.Codec.encodeGrayPng2D(signal, 4)
    assert(Multimodal.Codec.isPng(png))
    val (w, h, px) = Multimodal.Codec.decodeGrayImage(png)
    assert((w, h) == (4, 3)) // ceil(10/4) rows
    assert(px.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 0, 0))
  }

  test("q104 pools a hand-computed image exactly") {
    // doc 0's replay: width 64; verify one q104 row against scalar math
    val row = SparkEntry.queries("q104_image_pool")(spark, sf)
      .filter($"media_id" === 0).collect()(0)
    val text = Tables.documents(spark, sf).filter($"doc_id" === 0)
      .select("text").as[String].head()
    val b = text.getBytes("UTF-8"); val n = b.length
    val h = (n + 63) / 64
    def pix(r: Int, c: Int): Int = {
      val i = r * 64 + c; if (i < n) b(i) & 0xff else 0
    }
    var total = 0L; var weighted = 0L
    for (bi <- 0 until (h / 2) * 32) {
      val r0 = (bi / 32) * 2; val c0 = (bi % 32) * 2
      val s4 = pix(r0, c0) + pix(r0, c0 + 1) + pix(r0 + 1, c0) + pix(r0 + 1, c0 + 1)
      total += s4; weighted += (bi + 1L) * s4
    }
    assert(row.getAs[Int]("img_h") == h)
    assert(row.getAs[Long]("pool_total") == total)
    assert(row.getAs[Long]("pool_weighted") == weighted)
  }

  test("q42 aggregates cover every kind with exact totals") {
    val rows = SparkEntry.queries("q42_multimodal_features")(spark, sf).collect()
    assert(rows.length == 3)
    val total = rows.map(_.getAs[Long]("total_bytes")).sum
    val expected = Tables.documents(spark, sf)
      .agg(sum(length($"text"))).as[Long].head()
    assert(total == expected)
  }

  test("q163 trim manifest partitions every signal and engages on the fixture") {
    val rows = SparkEntry.queries("q163_audio_trim")(spark, sf)
      .select("media_id", "n_samples", "lead_trim", "trail_trim",
        "kept_samples", "kept_checksum")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, lead, trail, kept, ck) =>
      // the three spans tile the decoded signal exactly
      assert(lead + kept + trail == n, s"media $id spans don't tile")
      assert(lead >= 0 && trail >= 0 && kept >= 0)
      // an empty kept span has nothing to checksum
      if (kept == 0) assert(ck == 0L)
    }
    // non-vacuity: the trim actually cuts something somewhere, and
    // most signals keep a non-empty span
    assert(rows.exists(r => r._3 > 0 || r._4 > 0), "no signal ever trimmed")
    assert(rows.exists(_._5 > 0), "no signal kept any samples")
  }

  test("q173 keyframe manifest matches a byte-level replay and the gate engages") {
    val rows = SparkEntry.queries("q173_video_keyframes")(spark, sf)
      .select("media_id", "n_frames", "n_keyframes", "key_checksum",
        "max_motion")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // direct recompute from source bytes (ASCII corpus: byte == code
    // point, the tiling contract every GVID oracle rides)
    val docs = Tables.documents(spark, sf)
      .filter($"doc_id" % 3 === 2 && length($"text") > 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    rows.foreach { case (id, nf, nk, ck, mm) =>
      val b = docs(id).getBytes("UTF-8")
      val frames = b.grouped(256).toSeq
      assert(nf == frames.size.toLong, s"media $id frame count")
      val motions = frames.sliding(2).collect { case Seq(p, c) =>
        c.indices.map(j => math.abs((p(j) & 0xff) - (c(j) & 0xff)).toLong).sum
      }.toSeq
      val keys = 0L +: motions.zipWithIndex.collect {
        case (m, i) if m > 4000L => i + 1L
      }
      assert(nk == keys.size.toLong, s"media $id keyframe count")
      assert(ck == keys.map(_ + 1).sum, s"media $id keyframe checksum")
      assert(mm == (if (motions.isEmpty) 0L else motions.max))
      assert(nk >= 1 && nk <= nf)
    }
    // the threshold genuinely splits: some transition keys, some doesn't
    assert(rows.exists(r => r._3 > 1), "gate never fired")
    assert(rows.exists(r => r._2 > 1 && r._3 < r._2), "gate always fired")
  }
}

object MultimodalSpec {

  /** Media-table schema contract: metadata columns + opaque payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),       // image|audio|video
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),       // image/video
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),    // audio/video
    StructField("payload", BinaryType, nullable = false)))
}
