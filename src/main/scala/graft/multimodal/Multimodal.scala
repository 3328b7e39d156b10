package graft.multimodal

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (BASELINE.json north star): media as
  * opaque BINARY columns with typed metadata, batch-shaped decode /
  * feature-extraction / resize / frame-sampling over partitions.
  *
  * ALL THREE kinds travel through REAL containers decoded with
  * JDK-standard codecs (see [[Codec]]): images as 1×n grayscale PNGs
  * (`javax.imageio`), audio as 8-bit-PCM RIFF/WAVE (`javax.sound.
  * sampled`), and video as GVID containers of length-prefixed PNG
  * frames decoded frame-by-frame through `javax.imageio`. Every
  * container is lossless, so the DuckDB byte-replay oracles keep
  * holding over the DECODED pixels/samples/frames — the queries
  * exercise genuine container-decode boundaries while staying
  * hash-checkable. (A production video codec differs in per-frame
  * compression, not in the frame-stream shape; an ffmpeg-style binding
  * would swap the per-frame codec only.)
  *
  * Scale notes: blobs never pass through a shuffle here — decode is a
  * narrow mapPartitions; only the small extracted-feature rows move.
  * At 100 TB the same layout holds: partition by content hash prefix,
  * decode map-side, aggregate features only.
  */
object Multimodal {

  /** Real image codec boundary — JDK `javax.imageio`, no external deps.
    * Encode: byte signal → 1×n TYPE_BYTE_GRAY PNG. Decode: any PNG →
    * row-major grayscale pixel bytes. Lossless round-trip (spec-pinned),
    * which is what lets the byte-replay oracles survive the container
    * hop. `signalOf` is the kernel entry: PNG containers decode, other
    * payloads ARE the raw signal. */
  object Codec {
    def isPng(bytes: Array[Byte]): Boolean =
      bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'

    def encodeGrayPng(signal: Array[Byte]): Array[Byte] = {
      import java.awt.image.BufferedImage
      require(signal.nonEmpty, "cannot encode an empty signal")
      val img = new BufferedImage(signal.length, 1, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, signal.length, 1, signal)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def decodeGrayPixels(png: Array[Byte]): Array[Byte] = {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val w = img.getWidth; val h = img.getHeight
      val raster = img.getRaster
      val out = new Array[Byte](w * h)
      var i = 0
      while (i < out.length) { // getSample is type-agnostic across decoded rasters
        out(i) = raster.getSample(i % w, i / w, 0).toByte
        i += 1
      }
      out
    }

    def isWav(bytes: Array[Byte]): Boolean =
      bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F' && bytes(8) == 'W' &&
        bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

    /** Real audio codec boundary — JDK `javax.sound.sampled`, no
      * external deps: byte signal → 8-bit PCM mono RIFF/WAVE. 8-bit
      * PCM stores the sample bytes verbatim (lossless, spec-pinned
      * over the full byte range), which is what lets the byte-replay
      * oracles survive the container hop — the same property the PNG
      * path relies on. The 44-byte canonical header is written
      * directly (deterministic across JVMs); DECODE goes through the
      * real `AudioSystem` parser, so a malformed container fails
      * loudly at the codec, not as silently-wrong samples. */
    def encodePcmWav(signal: Array[Byte], sampleRate: Int = 8000): Array[Byte] = {
      val n = signal.length
      // RIFF requires word-aligned chunks: an odd data chunk carries one
      // trailing pad byte NOT counted in its ckSize but counted in the
      // enclosing RIFF size (javax.sound tolerates the
      // unpadded form, external consumers need not). An empty signal
      // encodes as a VALID zero-sample container rather than aborting
      // the whole query on one empty payload.
      val pad = n % 2
      val bb = java.nio.ByteBuffer.allocate(44 + n + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + n + pad)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1) // PCM
      bb.putShort(1) // mono
      bb.putInt(sampleRate)
      bb.putInt(sampleRate) // byte rate = rate × 1 channel × 1 byte
      bb.putShort(1) // block align
      bb.putShort(8) // bits per sample
      bb.put("data".getBytes("US-ASCII")); bb.putInt(n)
      bb.put(signal)
      if (pad == 1) bb.put(0.toByte)
      bb.array()
    }

    def decodePcmSamples(wav: Array[Byte]): Array[Byte] = {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(wav))
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = ais.read(buf)
        // -1 is the EOF contract; a 0-byte read is legal mid-stream for
        // general InputStreams, so only -1 terminates
        while (n != -1) { out.write(buf, 0, n); n = ais.read(buf) }
        out.toByteArray
      } finally ais.close()
    }

    /** Real multi-frame video container boundary — a length-prefixed
      * concatenation of REAL PNG frames, pure JDK and
      * deterministic: `GVID` magic, big-endian frame count, then per
      * frame a big-endian byte length + a genuine 1×w grayscale PNG
      * ([[encodeGrayPng]]). The signal chunks into `frameSize`-pixel
      * frames plus one lossless partial tail frame, so
      * [[decodeVideoSignal]] reconstructs the source bytes EXACTLY —
      * the property that lets every byte-replay oracle survive the
      * container hop, as with PNG images and PCM WAVs. A real video
      * codec differs in compression, not in this frame-stream shape;
      * an ffmpeg-style binding would swap the per-frame codec only. */
    def isVideo(bytes: Array[Byte]): Boolean =
      bytes.length >= 8 && bytes(0) == 'G' && bytes(1) == 'V' &&
        bytes(2) == 'I' && bytes(3) == 'D'

    def encodeVideoPng(signal: Array[Byte], frameSize: Int = 256): Array[Byte] = {
      require(signal.nonEmpty && frameSize > 0)
      val frames = signal.grouped(frameSize)
        .map(chunk => encodeGrayPng(chunk)).toIndexedSeq
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write("GVID".getBytes("US-ASCII"))
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      out.flush()
      bos.toByteArray
    }

    /** Decode every frame through the REAL `javax.imageio` codec:
      * (frame index, pixel offset of the frame's first pixel in the
      * source signal, decoded pixel bytes). Malformed containers fail
      * loudly at the parse, never as silently-wrong frames. */
    def decodeVideoFrames(container: Array[Byte]): IndexedSeq[(Int, Long, Array[Byte])] = {
      require(isVideo(container), "not a GVID container")
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(container, 4, container.length - 4))
      val n = in.readInt()
      var off = 0L
      (0 until n).map { i =>
        val len = in.readInt()
        val png = new Array[Byte](len)
        in.readFully(png)
        val px = decodeGrayPixels(png)
        val r = (i, off, px)
        off += px.length
        r
      }
    }

    /** Frame concatenation — byte-identical to the encoded signal. */
    def decodeVideoSignal(container: Array[Byte]): Array[Byte] =
      decodeVideoFrames(container).iterator.flatMap(_._3).toArray

    def signalOf(payload: Array[Byte]): Array[Byte] =
      if (isPng(payload)) decodeGrayPixels(payload)
      else if (isWav(payload)) decodePcmSamples(payload)
      else if (isVideo(payload)) decodeVideoSignal(payload)
      else payload

    /** 2-D encode: row-major signal into a width-w grayscale PNG,
      * zero-padding the final row (height = ceil(n/w)). The padding is
      * part of the container contract — oracles replay it as 0. */
    def encodeGrayPng2D(signal: Array[Byte], width: Int): Array[Byte] = {
      import java.awt.image.BufferedImage
      require(signal.nonEmpty && width > 0)
      val h = (signal.length + width - 1) / width
      val img = new BufferedImage(width, h, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, width, h,
        java.util.Arrays.copyOf(signal, width * h))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.setUseCache(false)
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** 2-D decode: (width, height, row-major pixel bytes). */
    def decodeGrayImage(png: Array[Byte]): (Int, Int, Array[Byte]) = {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val w = img.getWidth; val h = img.getHeight
      val raster = img.getRaster
      val out = new Array[Byte](w * h)
      var i = 0
      while (i < out.length) {
        out(i) = raster.getSample(i % w, i / w, 0).toByte
        i += 1
      }
      (w, h, out)
    }
  }

  /** Deterministic synthetic media table derived from documents: ALL
    * THREE kinds now travel through real containers — image payloads
    * are REAL PNGs, audio payloads REAL 8-bit-PCM WAVs, video payloads
    * REAL GVID containers of length-prefixed PNG frames
    * ([[Codec.encodeVideoPng]]). Metadata derived from doc fields.
    * Lets every sf dir double as a media corpus.
    *
    * The encoded table MEMOIZES per (context, dir) behind an eager
    * localCheckpoint: five queries decode the same payloads every bench
    * run, and several call this builder 2–3 times
    * within one plan — the memo makes the container-encode pass a
    * build-once fixture within a process without changing any oracle
    * (at production scale the media STORE plays this role: blobs are
    * encoded once at ingest, queries only decode). */
  def syntheticMedia(s: SparkSession, dir: String): DataFrame = {
    // key on the OWNING SESSION, not just the context — a
    // cached DataFrame built under one session served to a sibling
    // session of the same context would carry the first session's
    // session-level conf/registrations. Within Bench/Verify there is
    // one session, so the build-once economics are unchanged; spec
    // suites that rebuild sessions re-encode (fixture-sized cost).
    val key = System.identityHashCode(s) + "|" + s.sparkContext.applicationId + "|" + dir
    // evict entries owned by stopped contexts (the memo otherwise grows
    // without bound across session restarts in spec suites, pinning
    // orphaned checkpoint handles)
    mediaMemo.entrySet.removeIf(e =>
      e.getValue.sparkSession.sparkContext.isStopped)
    val cached = mediaMemo.get(key)
    // validate liveness AND ownership — never serve a dead handle or a
    // sibling session's plan
    if (cached != null && (cached.sparkSession eq s) &&
        !s.sparkContext.isStopped) cached
    else {
      mediaMemo.remove(key)
      // deliberately a RAW localCheckpoint, never Caches.pin: this memo
      // is the one CROSS-query checkpoint in the engine (build-once
      // media fixture), and a releaseAll between queries must not free
      // it — a released checkpoint cannot recompute (truncated lineage)
      val df = encodeMediaPayloads(mediaBase(s, dir)).localCheckpoint()
      mediaMemo.put(key, df)
      df
    }
  }

  private val mediaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def mediaBase(s: SparkSession, dir: String): DataFrame = {
    val kinds = Seq("image", "audio", "video")
    // empty payloads are excluded by contract: the DuckDB oracles replay
    // byte math via unnest(generate_series(1, length(text))), which
    // drops zero-length groups the Spark side would keep
    Tables.documents(s, dir).filter(length(col("text")) > 0).select(
      col("doc_id").as("media_id"),
      element_at(typedlit(kinds), (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      when(col("doc_id") % 3 === 0, lit("image/png"))
        .when(col("doc_id") % 3 === 1, lit("audio/wav"))
        .otherwise(lit("video/x-graft-gvid")).as("mime"),
      when(col("doc_id") % 3 === 0, (col("n_chars") % 1920 + 16).cast("int")).as("width"),
      when(col("doc_id") % 3 === 0, (col("n_chars") % 1080 + 16).cast("int")).as("height"),
      when(col("doc_id") % 3 =!= 0, col("n_chars") * 100).as("duration_ms"),
      col("text").cast("binary").as("payload"))
  }

  /** Narrow per-partition container encode — the write side of all
    * THREE codec boundaries: real PNGs, real PCM WAVs, real GVID
    * PNG-frame containers. Row-encoder mapPartitions keeps the full
    * media schema; blobs never shuffle. */
  private def encodeMediaPayloads(media: DataFrame): DataFrame = {
    val schema = media.schema
    val kindIdx = schema.fieldIndex("kind")
    val payIdx = schema.fieldIndex("payload")
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    media.mapPartitions { it =>
      it.map { r =>
        val vals = r.toSeq.toArray
        vals(payIdx) = r.getString(kindIdx) match {
          case "image" => Codec.encodeGrayPng(r.getAs[Array[Byte]](payIdx))
          case "audio" => Codec.encodePcmWav(r.getAs[Array[Byte]](payIdx))
          case _       => Codec.encodeVideoPng(r.getAs[Array[Byte]](payIdx))
        }
        Row.fromSeq(vals.toIndexedSeq)
      }
    }
  }

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           mean_byte: Double, byte_entropy_proxy: Double,
                           head_sig: String)

  /** Decode kernel: PNG payloads (image kind) go through the REAL
    * `javax.imageio` decode, WAV payloads (audio kind) the REAL
    * `javax.sound.sampled` parse, and GVID payloads (video kind) the
    * REAL per-frame PNG decode ([[Codec.signalOf]]); statistics run
    * over decoded PIXELS/SAMPLES on all three kinds. */
  private def decodeFeatures(id: Long, kind: String, payload: Array[Byte]): MediaFeatures = {
    val signal = Codec.signalOf(payload)
    val n = signal.length
    val mean = if (n == 0) 0.0 else signal.map(b => (b & 0xff).toDouble).sum / n
    val distinct = signal.map(b => b & 0xff).toSet.size
    val entropyProxy = if (n == 0) 0.0 else distinct.toDouble / math.min(n, 256)
    val head = signal.take(8).map(b => f"${b & 0xff}%02x").mkString
    MediaFeatures(id, kind, n, mean, entropyProxy, head)
  }

  /** Batched decode over partitions — no shuffle, codec-per-executor. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    graft.Tables.fanOut(media.select("media_id", "kind", "payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // codec is initialized once per task here (ImageIO cache off),
        // not per row
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, kind, bytes) => decodeFeatures(id, kind, bytes) }
      }
      .toDF()
  }

  /** Resize/downsample: decode the container (real PNG decode for
    * image payloads), then keep every k-th PIXEL — nearest-neighbor
    * resampling along the signal axis. Narrow mapPartitions; blobs
    * never shuffle. */
  def downsample(media: DataFrame, k: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val signal = Codec.signalOf(bytes)
          (id, Iterator.range(0, signal.length, k).map(signal(_)).toArray)
        }
      }
      .toDF("media_id", "payload_small")
  }

  /** Frame sampling for video-kind rows — REAL per-frame decode: GVID
    * payloads parse frame-by-frame through `javax.imageio`
    * ([[Codec.decodeVideoFrames]]) and the sampler keeps every
    * full-`frameSize` frame whose source offset lands on the stride
    * grid — the container-native spelling of "sample every k-th
    * frame". Because container frames tile the signal contiguously,
    * the sampled (offset, frame-bytes) set is byte-identical to
    * fixed-stride windows over the raw signal, which is what keeps the
    * byte-replay oracle intact while the decode is genuine. Raw
    * (container-less) payloads keep the byte-window fallback. Narrow
    * flatMap; containers never shuffle. */
  def sampleFrames(media: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (Codec.isVideo(bytes)) {
          javax.imageio.ImageIO.setUseCache(false)
          Codec.decodeVideoFrames(bytes).iterator.collect {
            case (_, off, px) if px.length == frameSize && off % stride == 0 =>
              (id, off.toInt, px)
          }
        } else
          Iterator.range(0, math.max(bytes.length - frameSize + 1, 0), stride)
            .map(off => (id, off, bytes.slice(off, off + frameSize)))
      }
      .toDF("media_id", "frame_offset", "frame")
  }

  /** Framed audio features over DECODED samples — the audio analogue
    * of [[sampleFrames]], and the first kernel that consumes the real
    * WAV decode in anger: per 256-sample frame (stride 128), signal
    * energy Σ(s−128)² and zero-crossing count around the 8-bit-PCM
    * midpoint — both exact integers, so the rollup is oracle-checkable
    * against a byte replay of the source signal. Narrow mapPartitions;
    * containers never shuffle. */
  def audioFrames(media: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val s = Codec.signalOf(bytes) // REAL javax.sound.sampled decode
        Iterator.range(0, math.max(s.length - frameSize + 1, 0), stride)
          .map { off =>
            var energy = 0L; var zcr = 0L
            var i = off
            while (i < off + frameSize) {
              val v = (s(i) & 0xff) - 128
              energy += v.toLong * v
              if (i > off) {
                val p = (s(i - 1) & 0xff) - 128
                if ((v >= 0) != (p >= 0)) zcr += 1
              }
              i += 1
            }
            (id, off.toLong, energy, zcr)
          }
      }
      .toDF("media_id", "frame_offset", "energy", "zcr")
  }

  /** 63-bit average-hash perceptual fingerprint: split the (ASCII-
    * compacted) payload into 63 contiguous segments, set bit s iff
    * segment s's mean byte exceeds the whole-payload mean. Bit 63 is
    * deliberately unused — engines disagree on 1<<63 (Spark wraps,
    * DuckDB throws), and a 63-bit hash loses nothing. The aHash family
    * is what image-dedup pipelines bucket on after decode; here it runs
    * on the stand-in blob at the same place a real one would (inside
    * the partition-batched kernel, after the codec). High bytes are
    * skipped so the kernel and the oracle's code-point replay agree
    * byte-for-byte on any input (multi-byte UTF-8 is exactly the
    * high-byte set); the fixture corpus is pure ASCII, so nothing is
    * actually dropped. */
  private def pHash63(payload: Array[Byte]): Long = {
    val n = payload.length
    val sums = new Array[Long](63)
    val cnts = new Array[Long](63)
    var total = 0L
    var i = 0
    while (i < n) {
      val seg = (i.toLong * 63 / n).toInt
      val c = payload(i) & 0xff
      sums(seg) += c; cnts(seg) += 1; total += c
      i += 1
    }
    val allMean = total.toDouble / n
    var ph = 0L
    var s = 0
    while (s < 63) {
      if (cnts(s) > 0 && sums(s).toDouble / cnts(s) > allMean) ph |= 1L << s
      s += 1
    }
    ph
  }

  /** Perceptual-hash extraction over the media table — the bucketing
    * key for media dedup (pair generation would reuse the 8-chunk
    * Hamming machinery of [[graft.dedup.Dedup.simhashNearDups]]).
    * Narrow mapPartitions like every kernel here; blobs never shuffle. */
  def perceptualHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    graft.Tables.fanOut(media.select("media_id", "payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, p) =>
          // image payloads: REAL PNG decode, hash the pixels (aHash's
          // actual contract); stand-in signals hash their raw bytes
          val ascii = Codec.signalOf(p).filter(b => (b & 0xff) < 0x80)
          (id, ascii.length, if (ascii.length >= 63) pHash63(ascii) else 0L)
        }
      }
      .toDF("media_id", "n_bytes", "phash")
      .filter(col("n_bytes") >= 63)
  }

  private val queriesBase: Map[String, Q] = Map(
    // Perceptual fingerprints of every media payload, oracle-checked:
    // the DuckDB twin replays the segment/mean byte math over the same
    // source column (q42's established byte-replay pattern).
    "q82_media_phash" -> ((s, dir) => {
      perceptualHash(syntheticMedia(s, dir)).orderBy("media_id")
    }),

    // MEDIA DEDUP CAPSTONE: q82's perceptual hash → 8-chunk Hamming-≤7
    // candidate pairs (the [[graft.dedup.Dedup.hammingPairs]] machinery,
    // complete by pigeonhole) → connected components → min-id canonical
    // → per-kind survivor accounting. Every stage is DETERMINISTIC
    // (unlike the text-LSH chain), so the full composition gets a DuckDB
    // oracle: the q82 byte-replay CTE + the q49 recursive-CTE closure.
    // Scale shape: blobs never shuffle (phash is a narrow kernel); only
    // (id, phash) rows enter the chunk join; components routes by edge
    // budget.
    "q83_media_neardup" -> ((s, dir) => {
      // cached: feeds the pair join (twice via hammingPairs' self-join),
      // the accounting base, and the survivors side
      val ph = graft.Caches.cached(perceptualHash(syntheticMedia(s, dir)))
      val pairs = graft.Caches.cached(
        graft.dedup.Dedup.hammingPairs(
          ph.select(col("media_id").as("doc_id"), col("phash").as("sig")),
          maxDist = 7))
      // uniquePairs: hammingPairs ends in a distinct() with a_id < b_id
      val clustered = graft.dedup.Dedup.components(pairs, uniquePairs = true)
      val removed = clustered.filter(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").as("media_id"))
      val withKind = ph.select("media_id")
        .join(syntheticMedia(s, dir).select("media_id", "kind"), "media_id")
      val survivors = withKind.join(removed, Seq("media_id"), "left_anti")
        .groupBy(col("kind")).agg(count(lit(1)).as("n_survivors"))
      withKind.groupBy(col("kind")).agg(count(lit(1)).as("n_media"))
        .join(survivors, Seq("kind"), "left")
        .select(col("kind"), col("n_media"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          (col("n_media") - coalesce(col("n_survivors"), lit(0L))).as("n_removed"))
        .orderBy("kind")
    }),

    // Metadata + feature rollup per kind over the synthetic media table.
    // Feature extraction itself is mapPartitions (non-SQL) ⇒ the query
    // aggregates deterministic feature values; oracle reproduces the
    // byte-level math in SQL over the same source column.
    "q42_multimodal_features" -> ((s, dir) => {
      val feats = extractFeatures(syntheticMedia(s, dir))
      feats.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_bytes").cast("long")).as("total_bytes"),
          graft.functions.Exact.dsumd(col("mean_byte")).as("sum_mean_byte"),
          countDistinct(col("head_sig")).as("n_head_sigs"))
        .orderBy("kind")
    }),

    // Downsample ("resize") over image-kind rows: keep every 4th byte
    // of the payload — the shape-preserving stand-in for pixel
    // resampling — rolled up per media with a content checksum the
    // oracle replays (ASCII corpus ⇒ byte == code unit). Narrow
    // mapPartitions; blobs never shuffle.
    "q64_downsample" -> ((s, dir) => {
      val media = syntheticMedia(s, dir).filter(col("kind") === "image")
      downsample(graft.Tables.fanOut(media), 4) // single-file scan = 1 partition
        .select(col("media_id"),
          length(col("payload_small")).as("n_small_bytes"),
          expr("aggregate(transform(sequence(1, length(CAST(payload_small AS STRING))), " +
            "i -> ascii(substring(CAST(payload_small AS STRING), i, 1))), " +
            "CAST(0 AS BIGINT), (a, x) -> a + x)").as("byte_sum"))
        .orderBy("media_id")
    }),

    // Frame sampling over the video-kind rows — every sampled frame is
    // a REAL PNG decode out of the GVID container (every 2nd full
    // 256-pixel frame), rolled up per media with position and content
    // checks the oracle replays byte-for-byte from the source signal
    // (containers tile the signal contiguously and losslessly, so
    // sampled frames == fixed-stride byte windows; ASCII corpus ⇒ byte
    // == code unit, same equivalence q42 relies on). The sampler is a
    // narrow flatMap — blobs never shuffle; only (id, offset, frame)
    // rows move, and here only their aggregates.
    "q55_frame_sample" -> ((s, dir) => {
      val frames = sampleFrames(graft.Tables.fanOut(syntheticMedia(s, dir)),
        frameSize = 256, stride = 512) // single-file scan = 1 partition
      frames.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("frame_offset").cast("long")).as("sum_offsets"),
          sum(length(col("frame")).cast("long")).as("total_frame_bytes"),
          sum(expr("ascii(substring(CAST(frame AS STRING), 1, 1))").cast("long"))
            .as("sum_first_bytes"))
        .orderBy("media_id")
    })
  )

  /** 2×2 sum-pooling over a decoded 2-D image — the real resize
    * kernel (integer block sums: exact, order-free, oracle-replayable;
    * a mean pool is the same numbers divided by 4). Only complete
    * blocks pool: out dims = (w/2, h/2). */
  private def poolStats2x2(w: Int, h: Int, px: Array[Byte]): (Long, Long) = {
    val pw = w / 2; val ph = h / 2
    var weighted = 0L; var total = 0L
    var bi = 0
    while (bi < ph * pw) {
      val r0 = (bi / pw) * 2; val c0 = (bi % pw) * 2
      val s4 = (px(r0 * w + c0) & 0xff) + (px(r0 * w + c0 + 1) & 0xff) +
        (px((r0 + 1) * w + c0) & 0xff) + (px((r0 + 1) * w + c0 + 1) & 0xff)
      total += s4
      weighted += (bi + 1L) * s4 // position-sensitive checksum: a
      bi += 1                    // transposed/reordered pool cannot match
    }
    (total, weighted)
  }

  /** Per-media motion statistics over consecutive REAL-decoded GVID
    * frames: motion(i) = Σ_j |frame_{i-1}[j] − frame_i[j]| over the
    * later frame's length (only the tail frame is partial, so the
    * overlap is exactly `min(frameSize, len_i)`). All-integer —
    * total, max, and a position-weighted Σ i·motion(i) checksum that a
    * frame reorder cannot reproduce. Computed inside the decode kernel:
    * one media row in, one stats row out, NO shuffle at all — the
    * per-media rollup that q55's per-frame sampler would need a
    * groupBy for comes free because frames of one container are
    * already co-located. Containers never shuffle. */
  def frameMotion(media: DataFrame, frameSize: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val frames = Codec.decodeVideoFrames(bytes)
          var total = 0L; var maxM = 0L; var weighted = 0L
          var i = 1
          while (i < frames.length) {
            val prev = frames(i - 1)._3; val cur = frames(i)._3
            var m = 0L; var j = 0
            while (j < cur.length) {
              m += math.abs((prev(j) & 0xff) - (cur(j) & 0xff)); j += 1
            }
            total += m
            if (m > maxM) maxM = m
            weighted += i.toLong * m
            i += 1
          }
          (id, frames.length.toLong, total, maxM, weighted)
        }
      }
      .toDF("media_id", "n_frames", "total_motion", "max_motion",
        "weighted_motion")
  }

  val queries: Map[String, Q] = queriesBase ++ Map(
    // VIDEO MOTION PROFILE: the first kernel that consumes the GVID
    // frame STRUCTURE (not just the replayed signal) — consecutive
    // real-decoded frames difference into per-pair motion energies,
    // rolled up per media with a frame-order-sensitive checksum. The
    // oracle replays the pixel math from the source bytes using the
    // tiling contract (frame i covers signal positions [i·256,
    // i·256+len_i), losslessly) — the same byte-replay equivalence as
    // q55, but exercising INTER-frame arithmetic a signal-level replay
    // of one frame can't check.
    "q144_video_motion" -> ((s, dir) => {
      frameMotion(graft.Tables.fanOut(syntheticMedia(s, dir)), 256)
        .orderBy("media_id")
    }),

    // VIDEO KEYFRAME DETECTION — the frame-sampling policy a vision
    // pipeline actually ships (scene-change sampling beats fixed
    // stride): frame 0 is always a keyframe, frame i ≥ 1 is one when
    // its REAL-decoded inter-frame motion exceeds the 4000 threshold
    // (the corpus's median pair motion is ≈3.1k, so the gate
    // genuinely splits). Emits the keyframe manifest per media —
    // count plus a position checksum (Σ 1-based keyframe indices)
    // that pins WHICH frames were picked, not just how many. Same
    // no-shuffle shape as q144: one media row in, one manifest row
    // out, computed inside the decode kernel; containers never move.
    "q173_video_keyframes" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.fanOut(syntheticMedia(s, dir))
        .filter(col("kind") === "video")
        .select("media_id", "payload").as[(Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, bytes) =>
            val frames = Codec.decodeVideoFrames(bytes)
            var nKey = 1L; var ck = 1L; var maxM = 0L // frame 0 always keys
            var i = 1
            while (i < frames.length) {
              val prev = frames(i - 1)._3; val cur = frames(i)._3
              var m = 0L; var j = 0
              while (j < cur.length) {
                m += math.abs((prev(j) & 0xff) - (cur(j) & 0xff)); j += 1
              }
              if (m > maxM) maxM = m
              if (m > 4000L) { nKey += 1; ck += i + 1L }
              i += 1
            }
            (id, frames.length.toLong, nKey, ck, maxM)
          }
        }
        .toDF("media_id", "n_frames", "n_keyframes", "key_checksum",
          "max_motion")
        .orderBy("media_id")
    }),

    // REAL AUDIO PIPELINE: audio docs' bytes travel through a genuine
    // WAV container (8-bit PCM, javax.sound.sampled decode) before
    // the framed energy / zero-crossing kernel — encode, container,
    // decode, and feature math all real; the oracle replays the
    // sample math from the source bytes (ASCII corpus ⇒ byte ==
    // code point, the q64 contract), all-integer. Per-media rollup:
    // frame count, peak energy, total crossings.
    "q131_audio_features" -> ((s, dir) => {
      audioFrames(graft.Tables.fanOut(syntheticMedia(s, dir)), 256, 128)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          max(col("energy")).as("max_energy"),
          sum(col("zcr")).as("total_zcr"))
        .orderBy("media_id")
    }),

    // AUDIO SILENCE TRIM: the first cleaning op every speech-data
    // pipeline runs — locate the leading/trailing LOW-AMPLITUDE runs
    // (|sample − 128| ≤ 11 around the 8-bit PCM midpoint; under the
    // ASCII byte == code point contract that's bytes 117–139, so the
    // trim genuinely engages on this corpus's letter signals) in the
    // REAL-decoded WAV signal and emit the trim manifest: lead/trail cut lengths, kept
    // span, and a position-weighted checksum of the kept samples that
    // pins BOTH boundaries exactly (a wrong first-sample index shifts
    // every weight). All-integer; the oracle replays the byte math
    // from the source text. Narrow map over decoded signals — the
    // payloads never shuffle, and lead+kept+trail == n by spec law.
    "q163_audio_trim" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.fanOut(syntheticMedia(s, dir))
        .filter(col("kind") === "audio")
        .select("media_id", "payload").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val sig = Codec.signalOf(bytes) // REAL javax.sound.sampled decode
          val n = sig.length
          def silent(b: Byte): Boolean = math.abs((b & 0xff) - 128) <= 11
          var first = 0
          while (first < n && silent(sig(first))) first += 1
          if (first == n) (id, n.toLong, n.toLong, 0L, 0L, 0L)
          else {
            var last = n - 1
            while (last >= 0 && silent(sig(last))) last -= 1
            var ck = 0L
            var i = first
            while (i <= last) {
              ck += (i - first + 1).toLong * (sig(i) & 0xff)
              i += 1
            }
            (id, n.toLong, first.toLong, (n - 1 - last).toLong,
              (last - first + 1).toLong, ck)
          }
        }
        .toDF("media_id", "n_samples", "lead_trim", "trail_trim",
          "kept_samples", "kept_checksum")
        .orderBy("media_id")
    }),

    // REAL 2-D IMAGE PIPELINE: each image doc's bytes encode into a
    // genuine width-64 grayscale PNG (zero-padded final row), decode
    // through javax.imageio, and 2×2 sum-pool — encode, container,
    // decode, and resize kernel all real; the oracle replays the pixel
    // math from the text bytes with row-major index arithmetic (pad =
    // 0), all-integer so the hash is bit-stable. Narrow mapPartitions;
    // containers never shuffle.
    "q104_image_pool" -> ((s, dir) => {
      import s.implicits._
      graft.Tables.fanOut(Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 0 && length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), col("text")))
        .as[(Long, String)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, text) =>
            val png = Codec.encodeGrayPng2D(text.getBytes("UTF-8"), 64)
            val (w, h, px) = Codec.decodeGrayImage(png)
            val (total, weighted) = poolStats2x2(w, h, px)
            (id, w, h, w / 2, h / 2, total, weighted)
          }
        }
        .toDF("media_id", "img_w", "img_h", "pool_w", "pool_h",
          "pool_total", "pool_weighted")
        .orderBy("media_id")
    })
  )

  val oracles: Map[String, String] = oraclesBase ++ Map(
    // q144's tiling-replay motion CTE with the keyframe gate on top;
    // single-frame videos (nf = 1) degrade to the frame-0-only manifest
    "q173_video_keyframes" ->
      """WITH v AS (
           SELECT doc_id AS media_id, text, length(text) AS n,
             CAST(ceil(CAST(length(text) AS DOUBLE) / 256) AS BIGINT) AS nf
           FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
         pairs AS (
           SELECT media_id, text, n,
             unnest(generate_series(1, nf - 1)) AS i
           FROM v WHERE nf >= 2),
         px AS (
           SELECT media_id, i, text,
             unnest(generate_series(1, least(256, n - i * 256))) AS j
           FROM pairs),
         m AS (
           SELECT media_id, i,
             SUM(abs(unicode(substr(text, CAST((i - 1) * 256 + j AS INT), 1))
                   - unicode(substr(text, CAST(i * 256 + j AS INT), 1))))
               AS motion
           FROM px GROUP BY 1, 2),
         k AS (
           SELECT media_id,
             CAST(SUM(CASE WHEN motion > 4000 THEN 1 ELSE 0 END) AS BIGINT)
               AS nk,
             CAST(SUM(CASE WHEN motion > 4000 THEN i + 1 ELSE 0 END)
               AS BIGINT) AS ck,
             CAST(MAX(motion) AS BIGINT) AS mm
           FROM m GROUP BY 1)
         SELECT v.media_id, nf AS n_frames,
           CAST(1 + COALESCE(nk, 0) AS BIGINT) AS n_keyframes,
           CAST(1 + COALESCE(ck, 0) AS BIGINT) AS key_checksum,
           CAST(COALESCE(mm, 0) AS BIGINT) AS max_motion
         FROM v LEFT JOIN k ON v.media_id = k.media_id
         ORDER BY v.media_id""",
    // tiling replay: frame i (0-based) covers source positions
    // i*256+1 .. i*256+len_i (1-based substr), len_i = least(256,
    // n - i*256); pair i in 1..nf-1 diffs over the later frame's length
    "q144_video_motion" ->
      """WITH v AS (
           SELECT doc_id AS media_id, text, length(text) AS n,
             CAST(ceil(CAST(length(text) AS DOUBLE) / 256) AS BIGINT) AS nf
           FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
         pairs AS (
           SELECT media_id, text, n,
             unnest(generate_series(1, nf - 1)) AS i
           FROM v WHERE nf >= 2),
         px AS (
           SELECT media_id, i, text,
             unnest(generate_series(1, least(256, n - i * 256))) AS j
           FROM pairs),
         m AS (
           SELECT media_id, i,
             SUM(abs(unicode(substr(text, CAST((i - 1) * 256 + j AS INT), 1))
                   - unicode(substr(text, CAST(i * 256 + j AS INT), 1)))) AS motion
           FROM px GROUP BY 1, 2),
         agg AS (
           SELECT media_id, CAST(SUM(motion) AS BIGINT) AS total_motion,
             CAST(MAX(motion) AS BIGINT) AS max_motion,
             CAST(SUM(i * motion) AS BIGINT) AS weighted_motion
           FROM m GROUP BY 1)
         SELECT v.media_id, nf AS n_frames,
           CAST(COALESCE(total_motion, 0) AS BIGINT) AS total_motion,
           CAST(COALESCE(max_motion, 0) AS BIGINT) AS max_motion,
           CAST(COALESCE(weighted_motion, 0) AS BIGINT) AS weighted_motion
         FROM v LEFT JOIN agg ON v.media_id = agg.media_id
         ORDER BY v.media_id""",
    // sample replay from source bytes: v = unicode(char) - 128 (the
    // 8-bit-PCM midpoint); energy and crossings exact integers
    "q131_audio_features" ->
      """WITH a AS (
           SELECT doc_id AS media_id, text FROM documents
           WHERE doc_id % 3 = 1 AND length(text) >= 256),
         f AS (
           SELECT media_id, text,
             unnest(generate_series(0, length(text) - 256, 128)) AS off
           FROM a),
         s AS (
           SELECT media_id, off, i,
             unicode(substr(text, CAST(off + i AS INT), 1)) - 128 AS v,
             CASE WHEN i > 1 THEN
               unicode(substr(text, CAST(off + i - 1 AS INT), 1)) - 128 END AS p
           FROM (SELECT media_id, text, off,
                   unnest(generate_series(1, 256)) AS i FROM f)),
         g AS (
           SELECT media_id, CAST(off AS BIGINT) AS frame_offset,
             CAST(SUM(v * v) AS BIGINT) AS energy,
             CAST(SUM(CASE WHEN p IS NOT NULL AND ((v >= 0) <> (p >= 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zcr
           FROM s GROUP BY 1, 2)
         SELECT media_id, COUNT(*) AS n_frames, MAX(energy) AS max_energy,
           CAST(SUM(zcr) AS BIGINT) AS total_zcr
         FROM g GROUP BY 1 ORDER BY media_id""",
    // byte replay: first/last non-silent (|code − 128| > 11) positions
    // bound the kept span; weights restart at 1 from the kept span's
    // first sample so the checksum pins both trim boundaries
    "q163_audio_trim" ->
      """WITH a AS (
           SELECT doc_id AS media_id, text, length(text) AS n
           FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0),
         pos AS (
           SELECT media_id, n, text,
             unnest(generate_series(1, n)) AS i
           FROM a),
         ns AS (
           SELECT media_id, MIN(i) AS first_i, MAX(i) AS last_i
           FROM pos WHERE abs(unicode(substr(text, CAST(i AS INT), 1)) - 128) > 11
           GROUP BY 1),
         ck AS (
           SELECT p.media_id,
             CAST(SUM((p.i - ns.first_i + 1)
               * unicode(substr(p.text, CAST(p.i AS INT), 1))) AS BIGINT)
               AS kept_checksum
           FROM pos p JOIN ns ON ns.media_id = p.media_id
           WHERE p.i BETWEEN ns.first_i AND ns.last_i
           GROUP BY 1)
         SELECT a.media_id, CAST(a.n AS BIGINT) AS n_samples,
           CAST(COALESCE(ns.first_i - 1, a.n) AS BIGINT) AS lead_trim,
           CAST(COALESCE(a.n - ns.last_i, 0) AS BIGINT) AS trail_trim,
           CAST(COALESCE(ns.last_i - ns.first_i + 1, 0) AS BIGINT) AS kept_samples,
           CAST(COALESCE(ck.kept_checksum, 0) AS BIGINT) AS kept_checksum
         FROM a LEFT JOIN ns USING (media_id)
              LEFT JOIN ck ON ck.media_id = a.media_id
         ORDER BY a.media_id""",
    // row-major replay: pixel(r,c) = code unit at r*64+c when < n, 0
    // in the padded tail; only complete 2×2 blocks pool
    "q104_image_pool" ->
      """WITH d AS (
           SELECT doc_id AS media_id, text, length(text) AS n,
             CAST(ceil(CAST(length(text) AS DOUBLE) / 64) AS BIGINT) AS h
           FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0),
         blocks AS (
           SELECT media_id,
             unnest(generate_series(0, (h // 2) * 32 - 1)) AS bi,
             text, n FROM d WHERE h >= 2),
         sums AS (
           SELECT media_id, bi,
             (CASE WHEN (bi // 32) * 2 * 64 + (bi % 32) * 2 < n
               THEN unicode(substr(text, CAST((bi // 32) * 2 * 64 + (bi % 32) * 2 + 1 AS INT), 1)) ELSE 0 END)
           + (CASE WHEN (bi // 32) * 2 * 64 + (bi % 32) * 2 + 1 < n
               THEN unicode(substr(text, CAST((bi // 32) * 2 * 64 + (bi % 32) * 2 + 2 AS INT), 1)) ELSE 0 END)
           + (CASE WHEN ((bi // 32) * 2 + 1) * 64 + (bi % 32) * 2 < n
               THEN unicode(substr(text, CAST(((bi // 32) * 2 + 1) * 64 + (bi % 32) * 2 + 1 AS INT), 1)) ELSE 0 END)
           + (CASE WHEN ((bi // 32) * 2 + 1) * 64 + (bi % 32) * 2 + 1 < n
               THEN unicode(substr(text, CAST(((bi // 32) * 2 + 1) * 64 + (bi % 32) * 2 + 2 AS INT), 1)) ELSE 0 END)
             AS s4
           FROM blocks),
         agg AS (
           SELECT media_id, CAST(SUM(s4) AS BIGINT) AS pool_total,
             CAST(SUM((bi + 1) * s4) AS BIGINT) AS pool_weighted
           FROM sums GROUP BY media_id)
         SELECT d.media_id, CAST(64 AS INT) AS img_w, CAST(h AS INT) AS img_h,
           CAST(32 AS INT) AS pool_w, CAST(h // 2 AS INT) AS pool_h,
           COALESCE(pool_total, 0) AS pool_total,
           COALESCE(pool_weighted, 0) AS pool_weighted
         FROM d LEFT JOIN agg ON d.media_id = agg.media_id
         ORDER BY d.media_id"""
  )

  private lazy val oraclesBase: Map[String, String] = Map(
    "q82_media_phash" ->
      """WITH d AS (
           SELECT doc_id AS media_id,
             regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
           FROM documents WHERE length(text) > 0),
         d2 AS (SELECT * FROM d WHERE length(t) >= 63),
         b AS (
           SELECT media_id, t, unnest(generate_series(1, length(t))) AS i
           FROM d2),
         codes AS (
           SELECT media_id, CAST((i - 1) * 63 // length(t) AS BIGINT) AS seg,
             unicode(substr(t, CAST(i AS INT), 1)) AS code
           FROM b),
         segs AS (
           SELECT media_id, seg, SUM(code) AS sc, COUNT(*) AS c
           FROM codes GROUP BY 1, 2),
         tot AS (SELECT media_id, SUM(sc) AS total, SUM(c) AS n
                 FROM segs GROUP BY 1),
         ph AS (
           SELECT segs.media_id,
             CAST(SUM(CASE WHEN CAST(sc AS DOUBLE) / c > CAST(total AS DOUBLE) / n
                  THEN (CAST(1 AS BIGINT) << CAST(seg AS INT)) ELSE 0 END)
                  AS BIGINT) AS phash
           FROM segs JOIN tot ON segs.media_id = tot.media_id GROUP BY 1)
         SELECT ph.media_id AS media_id, CAST(n AS INT) AS n_bytes, phash
         FROM ph JOIN tot ON ph.media_id = tot.media_id ORDER BY ph.media_id""",
    // q82's byte-replay phash CTE + Hamming-≤7 pairs + the q49
    // recursive-CTE transitive closure + per-kind accounting — the
    // fully deterministic media-dedup chain.
    "q83_media_neardup" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id AS media_id,
             regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t
           FROM documents WHERE length(text) > 0),
         d2 AS (SELECT * FROM d WHERE length(t) >= 63),
         b AS (
           SELECT media_id, t, unnest(generate_series(1, length(t))) AS i
           FROM d2),
         codes AS (
           SELECT media_id, CAST((i - 1) * 63 // length(t) AS BIGINT) AS seg,
             unicode(substr(t, CAST(i AS INT), 1)) AS code
           FROM b),
         segs AS (
           SELECT media_id, seg, SUM(code) AS sc, COUNT(*) AS c
           FROM codes GROUP BY 1, 2),
         tot AS (SELECT media_id, SUM(sc) AS total, SUM(c) AS n
                 FROM segs GROUP BY 1),
         ph AS (
           SELECT segs.media_id,
             CAST(SUM(CASE WHEN CAST(sc AS DOUBLE) / c > CAST(total AS DOUBLE) / n
                  THEN (CAST(1 AS BIGINT) << CAST(seg AS INT)) ELSE 0 END)
                  AS BIGINT) AS phash
           FROM segs JOIN tot ON segs.media_id = tot.media_id GROUP BY 1),
         pairs AS (
           SELECT x.media_id AS a_id, y.media_id AS b_id
           FROM ph x JOIN ph y ON x.media_id < y.media_id
             AND bit_count(xor(x.phash, y.phash)) <= 7),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         r(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.src, r.label FROM edges e JOIN r ON e.dst = r.id),
         canon AS (SELECT id, MIN(label) AS canonical FROM r GROUP BY id),
         removed AS (SELECT id FROM canon WHERE canonical <> id),
         base AS (
           SELECT ph.media_id,
             ['image','audio','video'][(CAST(ph.media_id % 3 AS INT)) + 1] AS kind
           FROM ph)
         SELECT kind, COUNT(*) AS n_media,
           CAST(SUM(CASE WHEN rm.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN rm.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         FROM base LEFT JOIN removed rm ON base.media_id = rm.id
         GROUP BY kind ORDER BY kind""",
    // The fake decode over utf-8 text payloads is pure byte math the
    // oracle can replay: mean byte = avg of code units (ASCII corpus),
    // head_sig = hex of first 8 bytes.
    "q42_multimodal_features" ->
      """WITH media AS (
           SELECT doc_id AS media_id,
                  ['image','audio','video'][(CAST(doc_id % 3 AS INT)) + 1] AS kind,
                  text FROM documents WHERE length(text) > 0),
         feats AS (
           SELECT media_id, kind,
                  length(text) AS n_bytes,
                  CAST(SUM(CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS DOUBLE)
                    / length(text) AS mean_byte,
                  lower(hex(encode(substr(text, 1, 8)))) AS head_sig
           FROM (SELECT media_id, kind, text,
                        unnest(generate_series(1, length(text))) AS i
                 FROM media)
           GROUP BY media_id, kind, text)
         SELECT kind, COUNT(*) AS n_media,
                CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
                CAST(SUM(CAST(mean_byte AS DECIMAL(18,4))) AS DOUBLE) AS sum_mean_byte,
                COUNT(DISTINCT head_sig) AS n_head_sigs
         FROM feats GROUP BY kind ORDER BY kind""",
    "q64_downsample" ->
      """WITH small AS (
           SELECT doc_id AS media_id,
             array_to_string(list_transform(
               generate_series(1, length(text), 4),
               i -> substr(text, CAST(i AS INT), 1)), '') AS payload_small
           FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0)
         SELECT media_id, CAST(length(payload_small) AS INT) AS n_small_bytes,
           CAST(SUM(unicode(substr(payload_small, CAST(i AS INT), 1))) AS BIGINT) AS byte_sum
         FROM (SELECT media_id, payload_small,
                 unnest(generate_series(1, length(payload_small))) AS i
               FROM small)
         GROUP BY media_id, payload_small ORDER BY media_id""",
    "q55_frame_sample" ->
      """WITH media AS (
           SELECT doc_id AS media_id, text FROM documents
           WHERE doc_id % 3 = 2 AND length(text) >= 256),
         f AS (
           SELECT media_id, text,
                  unnest(generate_series(0, length(text) - 256, 512)) AS off
           FROM media)
         SELECT media_id, COUNT(*) AS n_frames,
                CAST(SUM(off) AS BIGINT) AS sum_offsets,
                CAST(COUNT(*) * 256 AS BIGINT) AS total_frame_bytes,
                CAST(SUM(unicode(substr(text, CAST(off + 1 AS INT), 1))) AS BIGINT)
                  AS sum_first_bytes
         FROM f GROUP BY media_id ORDER BY media_id"""
  )
}
