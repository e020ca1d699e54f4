package graft.operators

import graft.sources.{Layouts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M3 multimodal tier — image/audio/video as opaque `binary` columns with
  * typed metadata, per the driver brief. The Spark-side plumbing (schema,
  * batch shape, partitioning) is real; the codec itself is a
  * clearly-marked deterministic STUB because no image/audio library ships
  * in this container. Swapping `FakeCodec` for a JNI/javacv decoder changes
  * none of the plan shapes.
  *
  * The binary payloads are synthesized once, deterministically, from
  * `documents.text` (UTF-8 bytes) so every operator is reproducible and
  * m1's metadata is DuckDB-oracle-checkable. All three operators are
  * narrow per-row/per-partition maps — no shuffle anywhere, so they scale
  * with the scan: the 100 TB profile is "read blob column, emit small
  * typed columns", exactly what a decode/feature/sample pass should be.
  */
object MultimodalOps {

  // ImageIO defaults to DISK-backed stream caching: every read()/write()
  // on a non-file stream creates and deletes a temp file under
  // java.io.tmpdir. With 32 executor threads decoding thousands of blobs
  // that is one /tmp create+unlink per image — filesystem contention
  // whose cost swings wildly with machine load (m2r timed 0.66 s one
  // round and 3.1 s the next on identical code). Byte-array payloads
  // never need spill-to-disk; force in-memory stream caching JVM-wide.
  // Lives in the OUTER object's initializer so any executor JVM that
  // loads a MultimodalOps task closure (decode or the pngStrip /
  // wavContainer encoders) gets it before the first codec call.
  javax.imageio.ImageIO.setUseCache(false)

  /** The codec contract every multimodal operator is written against: the
    * operators' plan shapes (per-partition batch decode, narrow maps) are
    * codec-independent — swapping implementations changes kernels, never
    * plans. Implementations must be deterministic (same bytes → same
    * outputs) and serializable (they ride the task closure). */
  private[graft] trait BlobCodec extends Serializable {
    /** (width, height, channels) of the decoded payload. */
    def meta(bytes: Array[Byte]): (Int, Int, Int)

    /** Fixed-width (16) L1-normalized feature vector — the stand-in for a
      * pooled CNN embedding. */
    def features(bytes: Array[Byte]): Array[Double]

    /** Every `stride`-th sample of the decoded payload as an int. */
    def frameSample(bytes: Array[Byte], stride: Int): Array[Int]

    /** Downscale toward `outLen`; payloads already within bound pass
      * through untouched (a real thumbnailer's no-op path). */
    def resize(bytes: Array[Byte], outLen: Int): Array[Byte]
  }

  /** ======= STUB CODEC =======
    * Deterministic fake decoder standing in for libjpeg/ffmpeg. Derives
    * "image" metadata and "frames" purely from the first bytes of the
    * payload, so results are stable across runs and engines — and, unlike
    * a real codec, expressible in DuckDB SQL, which is what keeps the
    * registered m1–m4 queries oracle-checkable over the ASCII corpus.
    * [[ImageIoCodec]] is the real-decoder drop-in behind the same
    * interface. */
  private[graft] object FakeCodec extends BlobCodec {
    /** (width, height, channels) pretend-parsed from the payload header. */
    def meta(bytes: Array[Byte]): (Int, Int, Int) = {
      val b0 = if (bytes.nonEmpty) bytes(0) & 0xff else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
      (1 + (b0 % 64), 1 + (b1 % 64), 3)
    }

    /** 16-bin byte-value histogram, L1-normalized — the stand-in for a
      * pooled CNN feature vector. Fixed output width = real UDF contract. */
    def features(bytes: Array[Byte]): Array[Double] = {
      val h = new Array[Double](16)
      var i = 0
      while (i < bytes.length) { h((bytes(i) & 0xff) >> 4) += 1.0; i += 1 }
      val n = math.max(1, bytes.length)
      h.map(_ / n)
    }

    /** Every `stride`-th byte as an int — the stand-in for frame sampling
      * a video payload. */
    def frameSample(bytes: Array[Byte], stride: Int): Array[Int] =
      bytes.indices.by(stride).map(i => bytes(i) & 0xff).toArray

    /** Nearest-neighbor "resize" to a fixed output length — the stand-in
      * for image downscaling: output byte j = input byte at
      * floor(j * len / outLen). Payloads shorter than `outLen` stay as-is
      * (no upsampling), mirroring a real thumbnailer's no-op path. */
    def resize(bytes: Array[Byte], outLen: Int): Array[Byte] =
      if (bytes.length <= outLen) bytes
      else Array.tabulate(outLen)(j => bytes((j.toLong * bytes.length / outLen).toInt))
  }

  /** ======= REAL CODEC =======
    * `javax.imageio`-backed decoder (JDK-builtin — no new dependency)
    * behind the same [[BlobCodec]] interface: PNG/JPEG/BMP/GIF payloads
    * decode for real. The registered m1–m4 queries stay on [[FakeCodec]]
    * (the driver corpus blobs are ASCII text, and only the stub is
    * DuckDB-expressible); MultimodalOpsSpec drives THIS codec through the
    * identical m2/m4 batch paths on generated PNG bytes, proving the
    * plumbing is codec-agnostic. Luminance = integer ITU-R BT.601
    * (299r + 587g + 114b)/1000 — all-integer, so bit-stable anywhere. */
  private[graft] object ImageIoCodec extends BlobCodec {
    private def read(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "payload is not a decodable image")
      img
    }

    private def lum(rgb: Int): Int =
      ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114) / 1000

    def meta(bytes: Array[Byte]): (Int, Int, Int) = {
      val img = read(bytes)
      (img.getWidth, img.getHeight, img.getColorModel.getNumComponents)
    }

    /** 16-bin luminance histogram over all pixels, L1-normalized. */
    def features(bytes: Array[Byte]): Array[Double] = {
      val img = read(bytes)
      val h = new Array[Double](16)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { h(lum(img.getRGB(x, y)) >> 4) += 1.0; x += 1 }
        y += 1
      }
      val n = math.max(1, img.getWidth * img.getHeight)
      h.map(_ / n)
    }

    /** Every `stride`-th pixel's luminance in row-major order. */
    def frameSample(bytes: Array[Byte], stride: Int): Array[Int] = {
      val img = read(bytes)
      val w = img.getWidth
      (0 until w * img.getHeight by stride)
        .map(i => lum(img.getRGB(i % w, i / w))).toArray
    }

    /** Nearest-neighbor downscale so max(width, height) = `outLen`
      * (aspect preserved), re-encoded as PNG; images already within the
      * bound pass through byte-identically. */
    def resize(bytes: Array[Byte], outLen: Int): Array[Byte] = {
      val img = read(bytes)
      if (img.getWidth <= outLen && img.getHeight <= outLen) bytes
      else {
        val s = outLen.toDouble / math.max(img.getWidth, img.getHeight)
        val nw = math.max(1, (img.getWidth * s).toInt)
        val nh = math.max(1, (img.getHeight * s).toInt)
        val out = new java.awt.image.BufferedImage(
          nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < nh) {
          var x = 0
          while (x < nw) {
            out.setRGB(x, y, img.getRGB(
              (x.toLong * img.getWidth / nw).toInt,
              (y.toLong * img.getHeight / nh).toInt))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        bos.toByteArray
      }
    }
  }

  private def withBlob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select($"doc_id", encode($"text", "UTF-8").as("blob"))
  }

  /** m1: blob metadata — byte length and content digest, computed natively
    * on the binary column (no decode). This is the "register the raw
    * corpus" pass: at 100 TB it reads the blob column once and emits two
    * tiny columns. */
  def m1BinaryMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withBlob(s, dir).select(
      $"doc_id",
      octet_length($"blob").as("n_bytes"),
      md5($"blob").as("content_md5"))
  }

  // DuckDB's md5 takes VARCHAR; hashing the text hashes the identical
  // UTF-8 bytes the Spark side digests (corpus is ASCII — verified
  // octet_length(encode(text)) == length(text) corpus-wide).
  private val m1Sql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents""".stripMargin

  /** m2: decode + feature-extract over the blob column through the typed
    * Dataset batch path — the Scala analog of `mapInPandas`: one function
    * invocation per PARTITION (not per row), iterator-in/iterator-out, so
    * a real codec could amortize model/codec init per batch. Emits typed
    * metadata plus the fixed-width feature vector flattened to 16 rounded
    * scalar columns `f0..f15` — every output column scalar/hashable (an
    * array column crashes the driver's pandas sorter, r2 `err` row) and
    * the whole row DuckDB-oracle-checkable. */
  def m2ImageFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imageFeaturesVia(FakeCodec)(
      withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** Codec-generic core of m2 — the SAME batch path runs [[FakeCodec]]
    * (registered query, oracle-checked) and [[ImageIoCodec]] (spec-proven
    * on generated PNGs): only the kernel changes, never the plan. */
  private[graft] def imageFeaturesVia(codec: BlobCodec)(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    val decoded = blobs
      .mapPartitions { it =>
        // per-partition init would live here (codec handles, model weights)
        it.map { case (id, bytes) =>
          val (w, h, c) = codec.meta(bytes)
          (id, w, h, c, codec.features(bytes))
        }
      }
      .toDF("doc_id", "width", "height", "channels", "features")
    val bins = (0 until 16).map(i => round($"features".getItem(i), 6).as(s"f$i"))
    decoded.select(Seq($"doc_id", $"width", $"height", $"channels") ++ bins: _*)
  }

  // m2's stub semantics over the ASCII payload: width/height from the first
  // two bytes (= codepoints), and the 16-bin high-nibble byte histogram as
  // SUM(CASE)s over the per-character unnest — same technique as m3's
  // oracle. LEFT JOIN keeps zero-length payloads (hist would drop them).
  private val m2Sql = {
    val bins = (0 until 16).map(i =>
      s"round(COALESCE(h.c$i, 0) / greatest(1, length(d.text)), 6) AS f$i")
      .mkString(",\n  ")
    val counts = (0 until 16).map(i =>
      s"CAST(SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS DOUBLE) AS c$i")
      .mkString(",\n    ")
    s"""WITH hist AS (
       |  SELECT doc_id,
       |    $counts
       |  FROM (SELECT doc_id, ascii(substr(text, i, 1)) // 16 AS bin
       |        FROM documents, UNNEST(generate_series(1, length(text))) AS t(i))
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(1 + (CASE WHEN length(d.text) >= 1
       |            THEN ascii(substr(d.text, 1, 1)) ELSE 0 END) % 64 AS INT) AS width,
       |  CAST(1 + (CASE WHEN length(d.text) >= 2
       |            THEN ascii(substr(d.text, 2, 1)) ELSE 0 END) % 64 AS INT) AS height,
       |  CAST(3 AS INT) AS channels,
       |  $bins
       |FROM documents d LEFT JOIN hist h USING (doc_id)""".stripMargin
  }

  /** m3: frame sampling — every 32nd byte of the payload as a "frame",
    * exploded to (doc_id, frame_no, frame_val) rows. The explode multiplies
    * rows but stays a narrow map; downstream ops see a normal long table. */
  def m3FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sample = udf((bytes: Array[Byte]) => FakeCodec.frameSample(bytes, 32))
    withBlob(s, dir)
      .select($"doc_id", posexplode(sample($"blob")).as(Seq("frame_no", "frame_val")))
  }

  // m3's stub semantics (every 32nd byte as int) is expressible in DuckDB
  // over the same ASCII payload (byte k == codepoint of char k), keeping
  // the whole pack oracle-checked.
  private val m3Sql =
    """SELECT doc_id,
      |  CAST(i - 1 AS INT) AS frame_no,
      |  ascii(substr(text, 32 * (i - 1) + 1, 1)) AS frame_val
      |FROM documents,
      |  UNNEST(generate_series(1, (length(text) + 31) // 32)) AS t(i)""".stripMargin

  /** Output length for the m4 stub resize. */
  private val ResizeLen = 64

  /** m4: resize/downsample over the blob column — completes the
    * decode / feature-extract / resize / frame-sample quartet. Same
    * iterator-per-partition batch path as m2 (a real thumbnailer
    * amortizes codec init identically); emits the sizes plus a digest of
    * the resized payload so the transform's exact bytes are
    * hash-checkable without an array column. */
  def m4Resize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    resizeVia(FakeCodec)(
      withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** Codec-generic core of m4 (same contract as [[imageFeaturesVia]]). */
  private[graft] def resizeVia(codec: BlobCodec)(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions { it =>
        // per-partition init (the point of the batch path): one digest
        // instance reused across the partition — digest() resets it
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val out = codec.resize(bytes, ResizeLen)
          (id, bytes.length, out.length,
            md.digest(out).map(b => f"$b%02x").mkString)
        }
      }
      .toDF("doc_id", "in_bytes", "out_bytes", "resized_md5")
  }

  // The resized payload over the ASCII corpus is the string of chars at
  // positions floor(j*len/64) — reconstructed with a generate_series
  // transform and md5'd, so the oracle pins the exact resized bytes.
  private val m4Sql =
    s"""SELECT doc_id,
       |  CAST(length(text) AS INT) AS in_bytes,
       |  CAST(least(length(text), $ResizeLen) AS INT) AS out_bytes,
       |  md5(CASE WHEN length(text) <= $ResizeLen THEN text
       |      ELSE array_to_string(list_transform(generate_series(0, ${ResizeLen - 1}),
       |             j -> substr(text, CAST((j * length(text)) // $ResizeLen AS INT) + 1, 1)), '')
       |      END) AS resized_md5
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------- m5

  /** Audio decode interface — the PCM sibling of [[BlobCodec]]: a
    * payload decodes to mono sample amplitudes. [[BytePcm]] is the
    * DuckDB-expressible stub (payload bytes ARE the 8-bit samples);
    * [[WavPcm]] is the real JDK `javax.sound` WAV decoder behind the
    * same interface, spec-driven through the identical batch path
    * (the ImageIoCodec device, applied to audio). */
  private[graft] trait PcmCodec extends Serializable {
    def samples(bytes: Array[Byte]): Array[Int]
  }

  private[graft] object BytePcm extends PcmCodec {
    def samples(bytes: Array[Byte]): Array[Int] = bytes.map(_ & 0xff)
  }

  /** Real decoder: mono 8-bit PCM WAV via `javax.sound.sampled`
    * (JDK-builtin — no new dependency). PCM_UNSIGNED 8-bit frames are
    * one byte per sample, so the decoded stream maps 1:1 to amplitudes. */
  private[graft] object WavPcm extends PcmCodec {
    def samples(bytes: Array[Byte]): Array[Int] = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      // The encoding check matters: an 8-bit mono ULAW/ALAW/PCM_SIGNED WAV
      // would pass a size/channel-only guard and its bytes would be read as
      // unsigned amplitudes — silently wrong energies instead of a failure.
      require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
        fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        s"mono 8-bit unsigned PCM expected, got $fmt")
      try in.readAllBytes().map(_ & 0xff) finally in.close()
    }
  }

  /** Samples per RMS window. 32 keeps even the shortest corpus doc
    * (48 bytes) at >= 1 full window, so no output column is ever null
    * (nullable BIGINTs drift to float64 in the driver's pandas compare). */
  private[graft] val AudioWindow = 32
  /** Quiet-window bound in micro-RMS (RMS < 50 of the 0–255 range). */
  private[graft] val QuietMicro = 50000000L

  /** m5: windowed audio energy — the silence/clipping screen an audio
    * corpus runs before transcription or training (drop dead-air clips,
    * flag truncated recordings). Per payload: full [[AudioWindow]]-sample
    * windows, each reduced to an integer micro-RMS
    * (floor(sqrt(Σs²/W)·1e6) — one sqrt on an exact integer sum, so the
    * value is bit-identical in DuckDB), then per-doc count / truncating
    * mean / max / quiet-count, all BIGINT (the s6 micro-unit device, so
    * the full output hash-compares with no float-order caveat). Plumbing
    * is the m2 iterator-per-partition batch path via [[audioEnergyVia]]:
    * the registered query runs [[BytePcm]]; MultimodalOpsSpec drives
    * [[WavPcm]] over real generated WAV bytes through the identical
    * path. This corpus plants no silence (letters RMS ≈ 100), so
    * `n_quiet` is 0 on real docs — the quiet path is spec-proven on
    * synthetic dead air, the d5/t9 pattern. */
  def m5AudioEnergy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioEnergyVia(BytePcm)(
      withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** Codec-generic core of m5 — only the decoder changes, never the plan. */
  private[graft] def audioEnergyVia(codec: PcmCodec)(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // per-partition init would live here (decoder handles, buffers)
      it.map { case (id, bytes) =>
        val s = codec.samples(bytes)
        val n = s.length / AudioWindow
        var sumQ = 0L; var maxQ = 0L; var quiet = 0L
        var w = 0
        while (w < n) {
          var i = w * AudioWindow
          val end = i + AudioWindow
          var acc = 0L
          while (i < end) { acc += s(i).toLong * s(i); i += 1 }
          val q = math.floor(math.sqrt(acc / AudioWindow.toDouble) * 1e6).toLong
          sumQ += q
          if (q > maxQ) maxQ = q
          if (q < QuietMicro) quiet += 1
          w += 1
        }
        (id, n.toLong, if (n > 0) sumQ / n else 0L, maxQ, quiet)
      }
    }.toDF("doc_id", "n_windows", "mean_rms_micro", "max_rms_micro", "n_quiet")
  }

  // Like m1, this oracle depends on the corpus-wide ASCII invariant: it
  // reads character codepoints via ascii(substr(text, ...)) while the
  // Spark side decodes UTF-8 blob bytes — identical only because every
  // codepoint is single-byte (verified at m1: octet_length(encode(text))
  // == length(text) corpus-wide). A non-ASCII corpus would need the
  // oracle to sample encode(text) bytes instead.
  private val m5Sql =
    s"""WITH w AS (
       |  SELECT doc_id, (i - 1) // $AudioWindow AS win,
       |         ascii(substr(text, i, 1)) AS s
       |  FROM documents,
       |       UNNEST(generate_series(1, (length(text) // $AudioWindow)
       |                                 * $AudioWindow)) AS t(i)),
       |r AS (
       |  SELECT doc_id, win,
       |    CAST(FLOOR(sqrt(CAST(SUM(s * s) AS DOUBLE) / $AudioWindow.0)
       |               * 1000000) AS BIGINT) AS rq
       |  FROM w GROUP BY 1, 2),
       |a AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |         CAST(SUM(rq) // COUNT(*) AS BIGINT) AS mean_rms_micro,
       |         MAX(rq) AS max_rms_micro,
       |         CAST(SUM(CASE WHEN rq < $QuietMicro THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_quiet
       |  FROM r GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(a.n_windows, 0) AS n_windows,
       |       COALESCE(a.mean_rms_micro, 0) AS mean_rms_micro,
       |       COALESCE(a.max_rms_micro, 0) AS max_rms_micro,
       |       COALESCE(a.n_quiet, 0) AS n_quiet
       |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin

  // ---------------------------------- real-codec gate queries (m2r/m5r)

  /** PNG bytes of a 1×len grayscale strip whose pixel i is byte i of the
    * payload. The device that puts the REAL `javax.imageio` decoder inside
    * the driver's oracle gate: PNG is lossless and gray pixels decode to
    * luminance EXACTLY equal to the byte ((299v+587v+114v)/1000 = v in
    * integer arithmetic), so the decoded histogram/meta of the strip is
    * reproducible in DuckDB from `documents.text` alone — no boolean
    * contract needed, the full output hash-compares.
    *
    * An EMPTY payload pads to a single black pixel (PNG has no 0-width
    * image), so the decoder sees one zero byte; the oracle models the
    * same pad (`greatest(1, length)` series bound, `ascii('') = 0`), so
    * engine and oracle agree BY CONSTRUCTION on empty documents — not
    * merely because the current fixtures happen to contain none. */
  private[graft] def pngStrip(bytes: Array[Byte]): Array[Byte] = {
    val w = math.max(1, bytes.length)
    val img = new java.awt.image.BufferedImage(
      w, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      img.setRGB(i, 0, (v << 16) | (v << 8) | v)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Mono 8-bit PCM_UNSIGNED WAV container of the payload bytes as
    * samples — the audio leg of the same device: [[WavPcm]] decodes the
    * container back to exactly these bytes, so the real decoder's output
    * is byte-for-byte the stub's and m5's EXISTING oracle applies
    * verbatim (the same-oracle proof device, q20b/st8 pattern). */
  private[graft] def wavContainer(samples: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Write-once REAL media fixtures: every doc's text bytes re-encoded as
    * an actual PNG / WAV container (the encoders are the same JDK codecs
    * the queries then decode with). One corpus pass each, per corpus state,
    * like every other one-time layout build. */
  private def pngBlobs(s: SparkSession, dir: String): String =
    Layouts.publish(Layouts.artifactPath(s, "graft_png_blobs", dir, "documents")) {
      import s.implicits._
      withBlob(s, dir).select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, b) => (id, pngStrip(b)) })
        .toDF("doc_id", "blob").write
    }

  private def wavBlobs(s: SparkSession, dir: String): String =
    Layouts.publish(Layouts.artifactPath(s, "graft_wav_blobs", dir, "documents")) {
      import s.implicits._
      withBlob(s, dir).select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, b) => (id, wavContainer(b)) })
        .toDF("doc_id", "blob").write
    }

  /** m2r: [[m2ImageFeatures]]'s batch path with the REAL [[ImageIoCodec]]
    * over real PNG payloads — `javax.imageio` runs inside the driver's
    * correctness gate, full output hash-compared (see [[pngStrip]]). */
  def m2rImageFeaturesReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imageFeaturesVia(ImageIoCodec)(
      Tables.read(s, pngBlobs(s, dir))
        .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])])
  }

  // The strip's decoded geometry is (len, 1, 3) and its luminance
  // histogram is the text's high-nibble byte histogram — m2's hist CTE
  // with the real decoder's meta. ASCII invariant as m1.
  private val m2rSql = {
    val bins = (0 until 16).map(i =>
      s"round(COALESCE(h.c$i, 0) / greatest(1, length(d.text)), 6) AS f$i")
      .mkString(",\n  ")
    val counts = (0 until 16).map(i =>
      s"CAST(SUM(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS DOUBLE) AS c$i")
      .mkString(",\n    ")
    s"""WITH hist AS (
       |  SELECT doc_id,
       |    $counts
       |  FROM (SELECT doc_id, ascii(substr(text, i, 1)) // 16 AS bin
       |        FROM documents, UNNEST(generate_series(1, length(text))) AS t(i))
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(greatest(1, length(d.text)) AS INT) AS width,
       |  CAST(1 AS INT) AS height,
       |  CAST(3 AS INT) AS channels,
       |  $bins
       |FROM documents d LEFT JOIN hist h USING (doc_id)""".stripMargin
  }

  /** m5r: [[m5AudioEnergy]]'s batch path with the REAL [[WavPcm]] decoder
    * over real WAV containers — registered under m5's IDENTICAL oracle,
    * so the driver's hash compare proves real-WAV decode ≡ byte stub. */
  def m5rAudioEnergyReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioEnergyVia(WavPcm)(
      Tables.read(s, wavBlobs(s, dir))
        .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])])
  }

  // ------------------------------- m12 audio silence/clip segment removal

  /** Clip rule: a window is CLIPPED when ≥ 1/4 of its samples sit on the
    * top rail (255). Under the corpus's raw-amplitude convention the
    * bottom rail is silence, not clipping — zeros are the quiet rule's
    * territory ([[QuietMicro]]), and the two rules are provably disjoint
    * (≥ 25% of samples at 255 alone forces RMS ≥ 127.5 ≫ the quiet
    * bound), so priority never matters; the kernel still checks quiet
    * first (the d13 explicit-priority posture). */
  private[graft] val ClipSatQuarter = 4

  /** m12: audio silence/clip SEGMENT REMOVAL — d14's removal posture on
    * the audio column: m5 FLAGS quiet windows but nothing cuts them;
    * every published audio-curation recipe actually trims (VAD-style
    * dead-air removal before transcription; clipped-segment drops before
    * training). Per payload, each full [[AudioWindow]]-sample window is
    * scored with m5's EXACT integer micro-RMS and the top-rail
    * saturation count; quiet windows ([[QuietMicro]]) and clipped
    * windows ([[ClipSatQuarter]]) are removed, kept windows concatenate
    * in order, and the tail remainder past the last full window rides
    * along uncut (it was never scored — same boundary convention as
    * m5's window count). Emits per doc: window count, cut counts by
    * cause, the trimmed byte length, and the md5 of the trimmed payload
    * (the m4 resized-payload-digest device — the transform's exact
    * bytes are hash-checkable without an array column).
    *
    * Plumbing is the m2/m5 iterator-per-partition batch path
    * ([[audioTrimVia]]); the registered query runs [[BytePcm]], m12r
    * runs the REAL [[WavPcm]] decoder over real WAV containers under
    * the IDENTICAL oracle, and the spec drives planted leading/
    * trailing dead air through the WAV path. This corpus plants no
    * silence and no saturation (ASCII ≤ 126), so real docs pass through
    * whole — the cut paths are spec-proven (the d5/t9 pattern). */
  def m12AudioTrim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioTrimVia(BytePcm)(
      withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** m12r: [[m12AudioTrim]] through the REAL [[WavPcm]] decoder —
    * registered under m12's IDENTICAL oracle (the m5r device): the WAV
    * container round-trips the samples losslessly, so trimming the
    * decoded stream equals trimming the raw bytes. */
  def m12rAudioTrimReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioTrimVia(WavPcm)(
      Tables.read(s, wavBlobs(s, dir))
        .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])])
  }

  /** Codec-generic core of m12 — only the decoder changes, never the
    * plan (m5's contract). */
  private[graft] def audioTrimVia(codec: PcmCodec)(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // per-partition init: one digest instance reused (m4's device)
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, bytes) =>
        val s = codec.samples(bytes)
        val n = s.length / AudioWindow
        val out = new java.io.ByteArrayOutputStream(s.length)
        var quiet = 0L; var clip = 0L
        var w = 0
        while (w < n) {
          val start = w * AudioWindow
          var i = start; val end = start + AudioWindow
          var acc = 0L; var sat = 0
          while (i < end) {
            val v = s(i); acc += v.toLong * v
            if (v == 255) sat += 1
            i += 1
          }
          val q = math.floor(math.sqrt(acc / AudioWindow.toDouble) * 1e6).toLong
          if (q < QuietMicro) quiet += 1
          else if (sat * ClipSatQuarter >= AudioWindow) clip += 1
          else { var j = start; while (j < end) { out.write(s(j)); j += 1 } }
          w += 1
        }
        var i = n * AudioWindow
        while (i < s.length) { out.write(s(i)); i += 1 }
        val b = out.toByteArray
        (id, n.toLong, quiet, clip, b.length,
          md.digest(b).map(x => f"$x%02x").mkString)
      }
    }.toDF("doc_id", "n_windows", "n_cut_quiet", "n_cut_clipped",
      "out_bytes", "trimmed_md5")
  }

  // The oracle rebuilds the trimmed string from kept windows (ordered
  // string_agg) plus the unscored tail and md5's it — the ASCII
  // invariant as m5: text chars ARE the sample amplitudes.
  private val m12Sql =
    s"""WITH w AS (
       |  SELECT doc_id, (i - 1) // $AudioWindow AS win,
       |         ascii(substr(text, i, 1)) AS s
       |  FROM documents,
       |       UNNEST(generate_series(1, (length(text) // $AudioWindow)
       |                                 * $AudioWindow)) AS t(i)),
       |r AS (
       |  SELECT doc_id, win,
       |    CAST(FLOOR(sqrt(CAST(SUM(s * s) AS DOUBLE) / $AudioWindow.0)
       |               * 1000000) AS BIGINT) AS rq,
       |    CAST(SUM(CASE WHEN s = 255 THEN 1 ELSE 0 END) AS BIGINT) AS nsat
       |  FROM w GROUP BY 1, 2),
       |k AS (
       |  SELECT doc_id, win, rq < $QuietMicro AS cq,
       |    rq >= $QuietMicro AND nsat * $ClipSatQuarter >= $AudioWindow AS cc
       |  FROM r),
       |kept AS (
       |  SELECT k.doc_id,
       |    string_agg(substr(d.text, k.win * $AudioWindow + 1, $AudioWindow),
       |               '' ORDER BY k.win) AS ks
       |  FROM k JOIN documents d USING (doc_id)
       |  WHERE NOT cq AND NOT cc GROUP BY 1),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(SUM(CASE WHEN cq THEN 1 ELSE 0 END) AS BIGINT) AS n_cut_quiet,
       |    CAST(SUM(CASE WHEN cc THEN 1 ELSE 0 END) AS BIGINT) AS n_cut_clipped
       |  FROM k GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.n_windows, 0) AS n_windows,
       |  COALESCE(a.n_cut_quiet, 0) AS n_cut_quiet,
       |  COALESCE(a.n_cut_clipped, 0) AS n_cut_clipped,
       |  CAST(length(COALESCE(kp.ks, '') ||
       |    substr(d.text, (length(d.text) // $AudioWindow)
       |                   * $AudioWindow + 1)) AS INT) AS out_bytes,
       |  md5(COALESCE(kp.ks, '') ||
       |    substr(d.text, (length(d.text) // $AudioWindow)
       |                   * $AudioWindow + 1)) AS trimmed_md5
       |FROM documents d
       |LEFT JOIN agg a USING (doc_id)
       |LEFT JOIN kept kp ON d.doc_id = kp.doc_id""".stripMargin

  // ------------------------------------------------ m6 perceptual near-dup

  /** aHash geometry: 64 mean-thresholded samples packed as 4 × 16-bit
    * blocks; pairs kept at Hamming ≤ [[AHashHammingMax]]. With 4 blocks,
    * pigeonhole guarantees any pair within Hamming 3 agrees EXACTLY on at
    * least one block — the d3 banding argument over the image-hash
    * domain. */
  private[graft] val AHashSamples = 64
  private[graft] val AHashBlocks = 4
  private[graft] val AHashBlockBits = 16
  private[graft] val AHashHammingMax = 3

  /** [[AHashSamples]] nearest-neighbor samples of a payload: sample j =
    * byte ⌊j·len/64⌋ (the [[FakeCodec.resize]] device, defined for every
    * len ≥ 1; an empty payload samples all-zero). A real deployment
    * samples 8×8 downscaled luminance pixels instead — the spec drives
    * [[ImageIoCodec]]-decoded PNG pixels through [[aHashOf]] to prove the
    * packing is sample-source-agnostic. */
  private[graft] def sampleBytes(bytes: Array[Byte]): Array[Int] =
    if (bytes.isEmpty) new Array[Int](AHashSamples)
    else Array.tabulate(AHashSamples)(j =>
      bytes((j.toLong * bytes.length / AHashSamples).toInt) & 0xff)

  /** Average-hash of a fixed-width sample vector: bit j set iff
    * 64·v_j ≥ Σv (the mean threshold cross-multiplied — integer-exact,
    * no division), packed little-endian into [[AHashBlocks]] 16-bit Int
    * blocks. Blocks, not one packed Long, so the DuckDB oracle never
    * shifts into the BIGINT sign bit and Hamming distance is a sum of
    * per-block bit_counts in both engines. */
  private[graft] def aHashOf(v: Array[Int]): Array[Int] = {
    require(v.length == AHashSamples, s"need $AHashSamples samples")
    var tot = 0L
    var i = 0
    while (i < v.length) { tot += v(i); i += 1 }
    val blocks = new Array[Int](AHashBlocks)
    i = 0
    while (i < v.length) {
      if (AHashSamples.toLong * v(i) >= tot)
        blocks(i / AHashBlockBits) |= 1 << (i % AHashBlockBits)
      i += 1
    }
    blocks
  }

  /** m6: the image near-dup screen — the binary-modality member of the
    * dedup tier (d1–d12 dedup text; a multimodal training corpus needs
    * the same pass over its image column). Every payload's average hash
    * (aHash — the classic perceptual-hash baseline: downscale,
    * mean-threshold, 64 bits) ships as four 16-bit block columns next to
    * the payload's near-dup degree: how many other payloads sit within
    * Hamming ≤ [[AHashHammingMax]], found via d3's banded self-join. The
    * hash columns make the oracle bit-exact over every doc regardless of
    * whether the corpus contains perceptual dups (the d3
    * reproduce-the-fingerprint discipline); the pair machinery is
    * spec-exercised with planted identical/one-bit/far payloads. The
    * stub path hashes byte samples; a real deployment hashes 8×8
    * luminance pixels through the identical packing and plan
    * (spec-proven via [[ImageIoCodec]] on generated PNGs).
    *
    * Scale shape: the blob column is read by two narrow hash-kernel
    * scans — one feeding the banded candidate machinery, one for the
    * hash-sheet side of the degree join — each emitting 40-byte rows, no
    * payload bytes ever shuffling (a deployment wanting one physical
    * read persists the hash sheet; this plan keeps the query
    * state-free). Candidates come from the (band, block) equi-join —
    * never all-pairs — with pair-gen and the Hamming filter applied
    * INSIDE each bucket before anything pair-shaped shuffles (the d3
    * device); the degree join moves (id, count) rows only. Bucket
    * volume: 16-bit blocks give 65536 buckets per band, ample headroom
    * at fixture scale; a billion-image deployment widens the hash (e.g.
    * 256-bit pHash = 16 of these blocks — same machinery, more bands) to
    * keep per-bucket quadratic cost bounded, exactly as documented for
    * d3's 24-bit blocks; and a DEGENERATE corpus (uniform/empty payloads
    * funneling into one bucket) trips [[AHashBucketCap]], whose join
    * fallback spreads the quadratic pair-gen across tasks instead of
    * one array row (see [[imagePairsOf]]). */
  def m6ImageNeardup(s: SparkSession, dir: String): DataFrame =
    imageNeardupOf(withBlob(s, dir))

  /** Hash sheet + near-dup degree over any (doc_id, blob) relation — m6
    * binds the corpus blobs; the spec drives planted payloads. */
  private[graft] def imageNeardupOf(blobs: DataFrame): DataFrame = {
    import blobs.sparkSession.implicits._
    neardupDegreesOf(hashBlocks(blobs))
      .select($"doc_id", $"b0", $"b1", $"b2", $"b3", $"n_neardups")
  }

  /** Near-dup degrees over ANY fingerprint sheet exposing (doc_id,
    * b0..b3) — the composition m6 (image aHash) and m8 (audio
    * Haitsma–Kalker) share; extra sheet columns ride through untouched.
    *
    * The sheet is consumed THREE times — [[imagePairsOf]]'s small- and
    * big-bucket branches (the r12 degenerate-bucket guard split it into
    * two filters of one relation) plus the final degree join.
    * Materialize the tiny (id, 4×int16) relation so payload bytes are
    * read and fingerprinted ONCE per corpus pass instead of once per
    * consumer — at a billion blobs the payload re-scan is the whole
    * cost; the sheet is ~36 B/row at any scale. */
  private[graft] def neardupDegreesOf(sheet: DataFrame): DataFrame = {
    import sheet.sparkSession.implicits._
    val hashed = graft.sources.Materialize(sheet)
    // explode, not a union of two selections — a union plans the whole
    // pair machinery twice; exploded endpoints keep it a single subtree
    val degree = imagePairsOf(hashed)
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).cast("int").as("n_neardups"))
    hashed.join(degree, Seq("doc_id"), "left")
      .withColumn("n_neardups", coalesce($"n_neardups", lit(0)))
  }

  private def hashBlocks(blobs: DataFrame): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.select($"doc_id", $"blob").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val blk = aHashOf(sampleBytes(b))
        (id, blk(0), blk(1), blk(2), blk(3))
      })
      .toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** A (band, block) bucket larger than this leaves the collect_list
    * path: a degenerate corpus (many uniform/empty payloads hashing to
    * identical blocks) would otherwise funnel into ONE task holding an
    * O(n) array row and running O(n²) pair-gen single-threaded. */
  private[graft] val AHashBucketCap = 1024

  /** Verified pairs at Hamming ≤ [[AHashHammingMax]] from a hash sheet —
    * the d3 in-bucket pair-gen over (band, block) buckets, with a
    * degenerate-bucket guard: buckets at or under `cap` members take the
    * in-bucket array pair-gen (one task, zero pair-shaped shuffle);
    * buckets OVER `cap` fall back to a (band, key) equi-join whose
    * quadratic output is generated across tasks instead of inside one
    * array row. Results are identical by construction (same candidate
    * set, same Hamming filter — spec-asserted on a forced-degenerate
    * corpus); the bucket-size split is a window count over the same
    * (band, key) exchange the groupBy needs anyway, so the common path
    * adds no shuffle. Not a silent cap: no candidate is dropped — only
    * the physical strategy changes. */
  private[graft] def imagePairsOf(hashed: DataFrame,
      cap: Int = AHashBucketCap): DataFrame = {
    import hashed.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val exploded = hashed
      .select($"doc_id", $"b0", $"b1", $"b2", $"b3",
        posexplode(array($"b0", $"b1", $"b2", $"b3")).as(Seq("band", "key")))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy($"band", $"key")))
    val small = exploded.where($"bn" <= cap)
      .groupBy($"band", $"key")
      .agg(sort_array(collect_list(
        struct($"doc_id", $"b0", $"b1", $"b2", $"b3"))).as("xs"))
      .where(size($"xs") >= 2)
      .select(explode(expr(
        "flatten(transform(xs, (x, i) -> " +
          "filter(transform(slice(xs, i + 2, size(xs) - i - 1), " +
          "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, " +
          "bit_count(x.b0 ^ y.b0) + bit_count(x.b1 ^ y.b1) + " +
          "bit_count(x.b2 ^ y.b2) + bit_count(x.b3 ^ y.b3) AS hamming)), " +
          s"p -> p.hamming <= $AHashHammingMax)))")).as("p"))
      .select($"p.doc_a", $"p.doc_b", $"p.hamming".cast("int").as("hamming"))
    val big = exploded.where($"bn" > cap)
    val bigPairs = big
      .select($"band", $"key", $"doc_id".as("doc_a"),
        $"b0".as("a0"), $"b1".as("a1"), $"b2".as("a2"), $"b3".as("a3"))
      .join(big.select($"band", $"key", $"doc_id".as("doc_b"),
          $"b0", $"b1", $"b2", $"b3"),
        Seq("band", "key"))
      .where($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (bit_count($"a0".bitwiseXOR($"b0")) +
          bit_count($"a1".bitwiseXOR($"b1")) +
          bit_count($"a2".bitwiseXOR($"b2")) +
          bit_count($"a3".bitwiseXOR($"b3"))).cast("int").as("hamming"))
      .where($"hamming" <= AHashHammingMax)
    small.unionByName(bigPairs).dropDuplicates("doc_a", "doc_b")
  }

  // m6's stub semantics in DuckDB: sample j = codepoint of char
  // ⌊j·len/64⌋+1 (byte == char on the ASCII corpus), mean threshold
  // cross-multiplied, blocks assembled with shifts that stay ≤ 2^15,
  // brute-force a<b pair scan (fine at oracle scale) with the identical
  // per-block Hamming sum, degree = pair endpoints counted per doc.
  private val m6Sql = {
    val blks = (0 until AHashBlocks).map(b =>
      s"CAST(SUM(CASE WHEN (j // $AHashBlockBits) = $b THEN (bit << (j % $AHashBlockBits)) ELSE 0 END) AS INT) AS b$b")
      .mkString(",\n    ")
    val ham = (0 until AHashBlocks).map(b =>
      s"bit_count(xor(a.b$b, b.b$b))").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |samp AS (
       |  SELECT doc_id, j,
       |    CASE WHEN len = 0 THEN 0
       |         ELSE ascii(substr(text, CAST(((j * len) // $AHashSamples) AS INT) + 1, 1))
       |    END AS v
       |  FROM d, UNNEST(generate_series(0, ${AHashSamples - 1})) AS u(j)),
       |tot AS (SELECT doc_id, SUM(v) AS tot FROM samp GROUP BY 1),
       |bits AS (
       |  SELECT s.doc_id, s.j,
       |    CASE WHEN ($AHashSamples * s.v) >= t.tot THEN 1 ELSE 0 END AS bit
       |  FROM samp s JOIN tot t USING (doc_id)),
       |blk AS (
       |  SELECT doc_id,
       |    $blks
       |  FROM bits GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM blk a JOIN blk b ON a.doc_id < b.doc_id
       |  WHERE ($ham) <= $AHashHammingMax),
       |deg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_neardups FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b AS doc_id FROM pairs)
       |  GROUP BY 1)
       |SELECT blk.doc_id, blk.b0, blk.b1, blk.b2, blk.b3,
       |  COALESCE(deg.n_neardups, 0) AS n_neardups
       |FROM blk LEFT JOIN deg USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------- m8 audio near-dup

  /** Energy probes per audio fingerprint: 65 sampled window energies
    * yield 64 consecutive-delta sign bits — the same 4×16-bit block
    * geometry as [[aHashOf]], so the banded candidate machinery and the
    * DuckDB block/Hamming algebra are shared verbatim. */
  private[graft] val AudioFpProbes = AHashSamples + 1

  /** Haitsma–Kalker-style audio fingerprint (Haitsma & Kalker 2002 — the
    * published audio-ID baseline: fingerprint bits are SIGNS of energy
    * differences between OVERLAPPING frames; the paper's frames overlap
    * 31/32, and its frequency axis needs an FFT this container
    * deliberately stubs). Per payload: [[AudioFpProbes]] overlapping
    * [[AudioWindow]]-sample probe frames sliding across the clip —
    * probe j starts at sample ⌊j·(len−32)/64⌋, so probes cover the full
    * clip at whatever hop its length implies — each reduced to an exact
    * integer energy Σs² (no sqrt: deltas of exact BIGINTs), bit j set
    * iff probe j+1's energy > probe j's, packed into [[AHashBlocks]]
    * 16-bit blocks.
    *
    * The OVERLAPPING probes are what keeps the fingerprint informative
    * (and the LSH buckets balanced) on clips of any length: a first
    * draft probed m5's ALIGNED window grid, which collapses a clip with
    * n windows to runs of ≤ n distinct probe values — at sf0.1 the
    * mostly-short corpus concentrated 45% of docs into the all-zero
    * block buckets (6.8M candidate pairs, and replica scaling squares
    * it). Sliding probes give distinct offsets for every len ≥ 96, so
    * delta bits are ~balanced exactly as in the published design.
    *
    * Sign-of-delta is GAIN-INVARIANT: scaling every amplitude by g > 0
    * scales every energy by g² and preserves every strict inequality —
    * the robustness property that makes H–K the audio-dedup baseline
    * (the same clip at different volumes fingerprints identically;
    * spec-asserted). Clips shorter than one frame fingerprint all-zero;
    * `n_windows` ships beside the blocks so consumers gate on duration. */
  private[graft] def audioFingerprint(samples: Array[Int]): Array[Int] = {
    val blocks = new Array[Int](AHashBlocks)
    val len = samples.length
    if (len >= AudioWindow) {
      val e = new Array[Long](AudioFpProbes)
      var j = 0
      while (j < AudioFpProbes) {
        var i = (j.toLong * (len - AudioWindow) / (AudioFpProbes - 1)).toInt
        val end = i + AudioWindow
        var acc = 0L
        while (i < end) { acc += samples(i).toLong * samples(i); i += 1 }
        e(j) = acc
        j += 1
      }
      j = 0
      while (j < AHashSamples) {
        if (e(j + 1) > e(j)) blocks(j / AHashBlockBits) |= 1 << (j % AHashBlockBits)
        j += 1
      }
    }
    blocks
  }

  /** m8: the AUDIO near-dup screen — the PCM-modality member of the
    * dedup tier (m6 covers the image column; an audio corpus needs the
    * same pass: re-uploaded clips, volume-normalized copies, silence-
    * padded rips). Every payload's H–K delta-sign fingerprint
    * ([[audioFingerprint]]) ships as four 16-bit block columns beside
    * `n_windows` (the gate for sub-fingerprint-length clips) and the
    * payload's near-dup degree at Hamming ≤ [[AHashHammingMax]], found
    * via the SAME banded (band, block) machinery as m6
    * ([[neardupDegreesOf]] → [[imagePairsOf]], degenerate-bucket guard
    * included). The registered query runs [[BytePcm]]; the spec drives
    * [[WavPcm]]-decoded real WAV containers through the identical kernel
    * (m5's codec-independence device) and proves gain-invariance.
    *
    * Scale shape: one narrow fingerprint scan per corpus pass (the sheet
    * is persisted — payload bytes are decoded and fingerprinted ONCE, and
    * never shuffle); candidates from the banded equi-join, never
    * all-pairs; pair volume and the degenerate-bucket fallback are
    * exactly m6's documented geometry. */
  def m8AudioNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioNeardupVia(BytePcm)(
      withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** Codec-generic core of m8 — only the decoder changes, never the plan. */
  private[graft] def audioNeardupVia(codec: PcmCodec)(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    val sheet = blobs.mapPartitions(_.map { case (id, bytes) =>
      val s = codec.samples(bytes)
      val blk = audioFingerprint(s)
      (id, (s.length / AudioWindow).toLong, blk(0), blk(1), blk(2), blk(3))
    }).toDF("doc_id", "n_windows", "b0", "b1", "b2", "b3")
    neardupDegreesOf(sheet)
      .select($"doc_id", $"n_windows", $"b0", $"b1", $"b2", $"b3", $"n_neardups")
  }

  // ASCII-only coupling (m1/m2/m5's stub convention, ADVICE r13): the
  // Spark kernel fingerprints UTF-8 BYTES while this oracle reads
  // CHARACTERS (ascii(substr), length) — identical only while the
  // documents fixture is pure ASCII (byte == char). A non-ASCII fixture
  // would hash-mismatch here and in m9, NOT silently corrupt: the
  // divergence is between the two spellings, and real deployments bind
  // real payload bytes where no char/byte duality exists.
  // m8's stub semantics in DuckDB: per-char squared amplitudes prefix-
  // summed (probe energy at offset o = cum(o+32) − cum(o)), 65 sliding
  // probe offsets (j·(len−32)) // 64, delta-sign bits, m6's block
  // assembly and brute-force a<b Hamming pair scan (fine at oracle
  // scale), degree = pair endpoints counted per doc; sub-frame clips
  // (len < 32) have no probes and default to the zero fingerprint.
  private val m8Sql = {
    val blks = (0 until AHashBlocks).map(b =>
      s"CAST(SUM(CASE WHEN (j // $AHashBlockBits) = $b THEN (bit << (j % $AHashBlockBits)) ELSE 0 END) AS INT) AS b$b")
      .mkString(",\n    ")
    val hb = (0 until AHashBlocks).map(b => s"blk.b$b").mkString(", ")
    val ham = (0 until AHashBlocks).map(b =>
      s"bit_count(xor(a.b$b, b.b$b))").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |cum AS (
       |  SELECT doc_id, i,
       |    SUM(CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
       |        * ascii(substr(text, CAST(i AS INT), 1)))
       |      OVER (PARTITION BY doc_id ORDER BY i) AS c
       |  FROM d, UNNEST(generate_series(1, len)) AS t(i)),
       |probes AS (
       |  SELECT d.doc_id, j, (j * (d.len - $AudioWindow)) // $AHashSamples AS o
       |  FROM d, UNNEST(generate_series(0, ${AudioFpProbes - 1})) AS u(j)
       |  WHERE d.len >= $AudioWindow),
       |en AS (
       |  SELECT p.doc_id, p.j, ce.c - COALESCE(cs.c, 0) AS v
       |  FROM probes p
       |  JOIN cum ce ON ce.doc_id = p.doc_id AND ce.i = p.o + $AudioWindow
       |  LEFT JOIN cum cs ON cs.doc_id = p.doc_id AND cs.i = p.o),
       |bits AS (
       |  SELECT a.doc_id, a.j, CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
       |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.j = a.j + 1
       |  WHERE a.j < $AHashSamples),
       |blk0 AS (
       |  SELECT doc_id,
       |    $blks
       |  FROM bits GROUP BY doc_id),
       |blk AS (
       |  SELECT d.doc_id,
       |    ${(0 until AHashBlocks).map(b => s"COALESCE(blk0.b$b, 0) AS b$b").mkString(", ")}
       |  FROM d LEFT JOIN blk0 USING (doc_id)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM blk a JOIN blk b ON a.doc_id < b.doc_id
       |  WHERE ($ham) <= $AHashHammingMax),
       |deg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_neardups FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b AS doc_id FROM pairs)
       |  GROUP BY 1)
       |SELECT d.doc_id, CAST(d.len // $AudioWindow AS BIGINT) AS n_windows,
       |  $hb,
       |  COALESCE(deg.n_neardups, 0) AS n_neardups
       |FROM d JOIN blk ON d.doc_id = blk.doc_id
       |LEFT JOIN deg ON d.doc_id = deg.doc_id""".stripMargin
  }

  // --------------------------------------------------- m9 scene cuts

  /** Bytes per video "frame" (m3's grid) and the L1 cut threshold: a cut
    * fires when adjacent frame histograms move more than [[SceneCutTau]]
    * of their 2×[[FrameWindow]] total L1 mass (τ = 24 of 64 — ⅜ of the
    * frame's mass changed bins). */
  private[graft] val FrameWindow = 32
  private[graft] val SceneCutTau = 24
  private[graft] val SceneBins = 16

  /** m9: SHOT-BOUNDARY detection — the histogram-difference baseline
    * (Zhang, Kankanhalli & Smoliar 1993: a cut between adjacent frames
    * whose intensity-histogram L1 distance exceeds a threshold) and the
    * temporal-structure pass the video leg lacked: m3 samples frames
    * uniformly; real video pipelines sample AT scene boundaries so one
    * shot contributes one training frame, not thirty near-identical
    * ones. Frame k of the stub codec = payload bytes [32k, 32k+32); its
    * 16-bin value histogram (byte // 16 — m2's binning) is compared to
    * frame k−1's and a cut recorded when L1 > [[SceneCutTau]]. Per doc:
    * `n_frames`, `n_cuts`, `first_cut` (frame index of the first cut,
    * −1 when none — no nullable BIGINTs), `max_l1` (0 when < 2 frames).
    * A real deployment swaps the stub histogram for decoded-frame
    * luminance histograms through the identical kernel — the m2/m5
    * codec-independence discipline.
    *
    * Scale shape: a PURE narrow map on the m2 batch path — one pass per
    * payload with two rolling 16-int histograms, no explode, nothing
    * shuffles (the per-doc reduction happens inside the kernel); the
    * only data movement at any corpus size is the blob scan. */
  def m9SceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sceneCutsOf(withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** The m9 kernel over any blob relation — m9 binds the corpus; the
    * spec drives planted multi-scene payloads. */
  private[graft] def sceneCutsOf(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs
      .mapPartitions(_.map { case (id, bytes) =>
        val n = bytes.length / FrameWindow
        val prev = new Array[Int](SceneBins)
        val cur = new Array[Int](SceneBins)
        var cuts = 0L; var first = -1L; var maxL1 = 0L
        var w = 0
        while (w < n) {
          java.util.Arrays.fill(cur, 0)
          var i = w * FrameWindow
          val end = i + FrameWindow
          while (i < end) { cur((bytes(i) & 0xff) / SceneBins) += 1; i += 1 }
          if (w > 0) {
            var l1 = 0L; var b = 0
            while (b < SceneBins) { l1 += math.abs(cur(b) - prev(b)); b += 1 }
            if (l1 > SceneCutTau) {
              cuts += 1
              if (first < 0) first = w
            }
            if (l1 > maxL1) maxL1 = l1
          }
          System.arraycopy(cur, 0, prev, 0, SceneBins)
          w += 1
        }
        (id, n.toLong, cuts, first, maxL1)
      })
      .toDF("doc_id", "n_frames", "n_cuts", "first_cut", "max_l1")
  }

  // The dense (win, bin) histogram grid per doc — absent bins compare
  // as 0 on both sides — shared verbatim by the m9/m10/m11 oracles (ONE
  // spelling of the stub frame decode; a respelling edited here reaches
  // all three, the drift channel a per-oracle copy would open). Carries
  // m8's documented ASCII-only byte==char coupling (see note above
  // m8Sql).
  private lazy val denseGridCtesSql =
    s"""d AS (
       |  SELECT doc_id, text, length(text) // $FrameWindow AS n
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, (i - 1) // $FrameWindow AS win,
       |         ascii(substr(text, i, 1)) // $SceneBins AS bin
       |  FROM d, UNNEST(generate_series(1, n * $FrameWindow)) AS t(i)),
       |h AS (SELECT doc_id, win, bin, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
       |grid AS (
       |  SELECT d.doc_id, wi.win, bi.bin
       |  FROM d,
       |       UNNEST(generate_series(0, n - 1)) AS wi(win),
       |       UNNEST(generate_series(0, ${SceneBins - 1})) AS bi(bin)
       |  WHERE d.n > 0),
       |hd AS (
       |  SELECT g.doc_id, g.win, g.bin, COALESCE(h.c, 0) AS c
       |  FROM grid g LEFT JOIN h
       |    ON h.doc_id = g.doc_id AND h.win = g.win AND h.bin = g.bin)""".stripMargin

  // The cut → shot-span CTEs over the dense grid ([[videoShotsOf]]'s SQL
  // half), shared by m10 and m11. `sw` (shot start) is consumed by m10's
  // span probes; m11 reads only nf.
  private lazy val shotCtesSql =
    s"""delta AS (
       |  SELECT a.doc_id, a.win,
       |    CASE WHEN SUM(ABS(a.c - b.c)) > $SceneCutTau THEN 1 ELSE 0 END
       |      AS cut
       |  FROM hd a JOIN hd b
       |    ON b.doc_id = a.doc_id AND b.win = a.win - 1 AND b.bin = a.bin
       |  GROUP BY 1, 2),
       |wins AS (
       |  SELECT g.doc_id, g.win, COALESCE(dl.cut, 0) AS cut
       |  FROM (SELECT DISTINCT doc_id, win FROM grid) g
       |  LEFT JOIN delta dl ON dl.doc_id = g.doc_id AND dl.win = g.win),
       |sid AS (
       |  SELECT doc_id, win,
       |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY win
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_id
       |  FROM wins),
       |shots AS (
       |  SELECT doc_id, shot_id, MIN(win) AS sw, COUNT(*) AS nf
       |  FROM sid GROUP BY 1, 2)""".stripMargin

  private lazy val m9Sql =
    s"WITH $denseGridCtesSql,\n" +
    s"""delta AS (
       |  SELECT a.doc_id, a.win, SUM(ABS(a.c - b.c)) AS l1
       |  FROM hd a JOIN hd b
       |    ON b.doc_id = a.doc_id AND b.win = a.win - 1 AND b.bin = a.bin
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN l1 > $SceneCutTau THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_cuts,
       |    CAST(COALESCE(MIN(CASE WHEN l1 > $SceneCutTau THEN win END), -1)
       |      AS BIGINT) AS first_cut,
       |    CAST(MAX(l1) AS BIGINT) AS max_l1
       |  FROM delta GROUP BY 1)
       |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_frames,
       |  COALESCE(a.n_cuts, 0) AS n_cuts,
       |  COALESCE(a.first_cut, -1) AS first_cut,
       |  COALESCE(a.max_l1, 0) AS max_l1
       |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ------------------------------------------------ m10 video near-dup

  /** Shot-key packing: a shot enters the shared pair machinery keyed as
    * doc_id · 2²⁰ + shot_no — invertible in both engines. 2²⁰ shots per
    * payload is ~9.7 h of stub video at one cut per second; a deployment
    * past that (or with doc ids near 2⁴³) keys shots as a struct through
    * the same machinery. */
  private[graft] val ShotKeyBase = 1L << 20
  /** Docs sharing at least this many near-dup shot PAIRS are video
    * near-dups. 1 on the fixture (its docs are overwhelmingly
    * single-shot); production raises it so one stock-footage clip in
    * common doesn't link two otherwise-distinct videos — the CONTRACT
    * is the shot-evidence rollup, not the constant. */
  private[graft] val VideoShotsK = 1
  /** Shots under this many frames carry too little signal to fingerprint
    * (a 1-frame shot has zero probe spread — the H–K all-zero case) and
    * are gated out of the PAIR machinery, exactly like m8's sub-window
    * clips; they still appear in the sheet and the per-doc shot count. */
  private[graft] val ShotMinFrames = 2

  /** The m9 cut pass re-emitted as SHOTS: (shot_no, start_frame,
    * n_frames) per payload, boundaries exactly where [[sceneCutsOf]]
    * fires (same rolling histograms, same τ — one kernel owns the cut
    * rule in spirit; this spelling also returns the spans m9's rollup
    * discards). */
  private[graft] def videoShotsOf(bytes: Array[Byte]): Seq[(Int, Int, Int)] =
    videoShotsOf(frameHistsOf(bytes))

  /** Per-frame [[SceneBins]]-bin histograms of a payload — the shared
    * first pass of the m10/m11 kernels, built once per payload so
    * callers that need both the cuts AND the per-frame histograms
    * (m11's argmin) never scan the bytes twice. */
  private[graft] def frameHistsOf(bytes: Array[Byte]): Array[Array[Int]] = {
    val n = bytes.length / FrameWindow
    val hists = Array.ofDim[Int](n, SceneBins)
    var w = 0
    while (w < n) {
      var i = w * FrameWindow
      val end = i + FrameWindow
      while (i < end) { hists(w)((bytes(i) & 0xff) / SceneBins) += 1; i += 1 }
      w += 1
    }
    hists
  }

  /** The cut pass over a prebuilt histogram matrix (same rule as
    * [[sceneCutsOf]]: adjacent-frame L1 > [[SceneCutTau]]). */
  private[graft] def videoShotsOf(hists: Array[Array[Int]]): Seq[(Int, Int, Int)] = {
    val n = hists.length
    if (n == 0) return Nil
    val out = Seq.newBuilder[(Int, Int, Int)]
    var sid = 0
    var start = 0
    var w = 1
    while (w < n) {
      var l1 = 0L
      var b = 0
      while (b < SceneBins) { l1 += math.abs(hists(w)(b) - hists(w - 1)(b)); b += 1 }
      if (l1 > SceneCutTau) {
        out += ((sid, start, w - start)); sid += 1; start = w
      }
      w += 1
    }
    out += ((sid, start, n - start))
    out.result()
  }

  /** Per-shot fingerprint sheet over any blob relation: one narrow pass
    * per payload — m9's cut detection, then [[audioFingerprint]]'s
    * Haitsma–Kalker delta-sign probes over each shot's byte span. H–K
    * over the span, NOT a value histogram: the histogram draft was
    * probed at sf0.1 before shipping (the m8 bit-balance standing
    * check) and failed it — text-byte value bins are skewed, bit shares
    * hit 0.99, the max (band, block) bucket held 730 shots and the
    * candidate volume went quadratic at 1.0M pairs; the H–K probes
    * measure ORDER (energy deltas along the span), land bit shares at
    * 0.30–0.50, 4680 distinct fingerprints over 5005 shots, max
    * non-degenerate bucket 9, 3.4k gated pairs. */
  private[graft] def shotSheetOf(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.flatMap { case (id, bytes) =>
      videoShotsOf(bytes).map { case (sid, sf, nf) =>
        val span = new Array[Int](nf * FrameWindow)
        var i = 0
        val base = sf * FrameWindow
        while (i < span.length) { span(i) = bytes(base + i) & 0xff; i += 1 }
        val blk = audioFingerprint(span)
        (id, sid.toLong, nf.toLong, blk(0), blk(1), blk(2), blk(3))
      }
    }.toDF("doc_id", "shot_id", "n_frames", "b0", "b1", "b2", "b3")
  }

  /** m10: VIDEO near-dup — the dedup-tier member the video column
    * lacked (d1–d14 text, m6 image, m8 audio; m9 finds shots but
    * nothing fingerprinted them). The published shot-level recipe
    * (video copy detection à la Wu et al. 2007: segment into shots,
    * fingerprint each shot, match copies by shared shots): every
    * payload's m9 shots are fingerprinted ([[shotSheetOf]]), near-dup
    * SHOT pairs come from the SAME banded machinery as m6/m8
    * ([[imagePairsOf]] at Hamming ≤ [[AHashHammingMax]]) over
    * [[ShotKeyBase]]-packed shot keys, and docs roll up by shot
    * evidence: `n_matched_shots` = own gated shots with a cross-doc
    * near-dup, `n_dup_docs` = partners sharing ≥ [[VideoShotsK]] shot
    * pairs, `video_neardup` the verdict. A re-encoded copy (gain on
    * every byte) and a truncated copy cut at a shot boundary both keep
    * their shots' fingerprints bit-identical (H–K gain-invariance; span
    * identity), which the spec plants through this exact kernel.
    *
    * Scale shape: ONE narrow scan fingerprints all shots (payload bytes
    * never shuffle; the sheet is (id, 6 smalls) rows, persisted once —
    * m6's discipline); candidates from the banded equi-join with the
    * degenerate-bucket fallback, never all-pairs; sub-[[ShotMinFrames]]
    * shots are gated BEFORE pair-gen (the fixture's 126 all-zero
    * single-frame shots would otherwise contribute 33k meaningless
    * pairs — measured, not guessed); every rollup moves id-width rows.
    * Same-doc shot pairs are dropped AFTER pair-gen (within-payload
    * repeats are m9's business, not dedup evidence). */
  def m10VideoNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoNeardupOf(withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** The m10 rollup over any blob relation — m10 binds the corpus; the
    * spec drives planted multi-shot copies. */
  private[graft] def videoNeardupOf(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    val sheet = graft.sources.Materialize(shotSheetOf(blobs))
    val gated = sheet.where($"n_frames" >= ShotMinFrames)
      .select(($"doc_id" * ShotKeyBase + $"shot_id").as("doc_id"),
        $"b0", $"b1", $"b2", $"b3")
    // packed-key order is (doc, shot) lexicographic, so doc_a < doc_b
    // on keys ⇒ da <= db; the da ≠ db filter leaves da < db pairs only
    val sp = graft.sources.Materialize(imagePairsOf(gated)
      .select(expr(s"doc_a div ${ShotKeyBase}L").as("da"),
        pmod($"doc_a".cast("long"), lit(ShotKeyBase)).as("sa"),
        expr(s"doc_b div ${ShotKeyBase}L").as("db"),
        pmod($"doc_b".cast("long"), lit(ShotKeyBase)).as("sb"))
      .where($"da" =!= $"db"))
    val matched = sp
      .select(explode(array(struct($"da".as("d"), $"sa".as("s")),
        struct($"db".as("d"), $"sb".as("s")))).as("x"))
      .select($"x.d".as("doc_id"), $"x.s").distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n_matched_shots"))
    val dup = sp.groupBy($"da", $"db").agg(count(lit(1)).as("nsh"))
      .where($"nsh" >= VideoShotsK)
      .select(explode(array($"da", $"db")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup_docs"))
    // base = every payload, so zero-frame docs (< one stub frame) still
    // report n_shots = 0 — the full-corpus-rows convention
    blobs.toDF("doc_id", "blob").select($"doc_id")
      .join(sheet.groupBy($"doc_id").agg(count(lit(1)).as("n_shots")),
        Seq("doc_id"), "left")
      .join(matched, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_shots", lit(0L)).as("n_shots"),
        coalesce($"n_matched_shots", lit(0L)).as("n_matched_shots"),
        coalesce($"n_dup_docs", lit(0L)).as("n_dup_docs"),
        (coalesce($"n_dup_docs", lit(0L)) >= 1L).as("video_neardup"))
  }

  // m10's oracle: m9's dense-grid cut CTEs → cumulative-cut shot ids,
  // m8's prefix-summed char-square energies probed per SHOT span, m6's
  // block assembly, brute-force packed-key pair scan, shot-evidence
  // rollups. Carries the documented ASCII byte==char coupling.
  private val m10Sql = {
    val blks = (0 until AHashBlocks).map(b =>
      s"CAST(SUM(CASE WHEN (j // $AHashBlockBits) = $b THEN (bit << (j % $AHashBlockBits)) ELSE 0 END) AS INT) AS b$b")
      .mkString(",\n    ")
    val ham = (0 until AHashBlocks).map(b =>
      s"bit_count(xor(a.b$b, b.b$b))").mkString(" + ")
    s"WITH $denseGridCtesSql,\n$shotCtesSql,\n" +
    s"""sq AS (
       |  SELECT doc_id, i,
       |    CAST(ascii(substr(text, i, 1)) AS BIGINT)
       |      * ascii(substr(text, i, 1)) AS v
       |  FROM d, UNNEST(generate_series(1, n * $FrameWindow)) AS t(i)
       |  WHERE n > 0),
       |cum AS (
       |  SELECT doc_id, i,
       |    SUM(v) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM sq
       |  UNION ALL SELECT doc_id, 0, 0 FROM d WHERE n > 0),
       |e AS (
       |  SELECT s.doc_id, s.shot_id, u.j, hi.c - lo.c AS en
       |  FROM shots s,
       |       UNNEST(generate_series(0, ${AudioFpProbes - 1})) AS u(j)
       |  JOIN cum lo ON lo.doc_id = s.doc_id
       |    AND lo.i = s.sw * $FrameWindow
       |      + (u.j * (s.nf * $FrameWindow - $AudioWindow)) // ${AudioFpProbes - 1}
       |  JOIN cum hi ON hi.doc_id = s.doc_id
       |    AND hi.i = s.sw * $FrameWindow
       |      + (u.j * (s.nf * $FrameWindow - $AudioWindow)) // ${AudioFpProbes - 1}
       |      + $AudioWindow
       |  WHERE s.nf * $FrameWindow >= $AudioWindow),
       |bits AS (
       |  SELECT a.doc_id, a.shot_id, a.j,
       |    CASE WHEN b.en > a.en THEN 1 ELSE 0 END AS bit
       |  FROM e a JOIN e b ON b.doc_id = a.doc_id
       |    AND b.shot_id = a.shot_id AND b.j = a.j + 1
       |  WHERE a.j < $AHashSamples),
       |blk AS (
       |  SELECT doc_id, shot_id,
       |    $blks
       |  FROM bits GROUP BY 1, 2),
       |sheet AS (
       |  SELECT s.doc_id, s.shot_id, s.nf,
       |    COALESCE(k.b0, 0) AS b0, COALESCE(k.b1, 0) AS b1,
       |    COALESCE(k.b2, 0) AS b2, COALESCE(k.b3, 0) AS b3
       |  FROM shots s LEFT JOIN blk k
       |    ON k.doc_id = s.doc_id AND k.shot_id = s.shot_id),
       |pairs AS (
       |  SELECT a.doc_id AS da, a.shot_id AS sa,
       |         b.doc_id AS db, b.shot_id AS sb
       |  FROM sheet a JOIN sheet b
       |    ON a.doc_id * $ShotKeyBase + a.shot_id
       |     < b.doc_id * $ShotKeyBase + b.shot_id
       |  WHERE a.nf >= $ShotMinFrames AND b.nf >= $ShotMinFrames
       |    AND a.doc_id <> b.doc_id
       |    AND ($ham) <= $AHashHammingMax),
       |matched AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_shots FROM (
       |    SELECT DISTINCT doc_id, shot_id FROM (
       |      SELECT da AS doc_id, sa AS shot_id FROM pairs
       |      UNION ALL SELECT db, sb FROM pairs))
       |  GROUP BY 1),
       |dup AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_docs FROM (
       |    SELECT da AS doc_id FROM (
       |      SELECT da, db, COUNT(*) AS nsh FROM pairs GROUP BY 1, 2)
       |    WHERE nsh >= $VideoShotsK
       |    UNION ALL
       |    SELECT db FROM (
       |      SELECT da, db, COUNT(*) AS nsh FROM pairs GROUP BY 1, 2)
       |    WHERE nsh >= $VideoShotsK)
       |  GROUP BY 1),
       |ns AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shots
       |  FROM shots GROUP BY 1)
       |SELECT d.doc_id, COALESCE(ns.n_shots, 0) AS n_shots,
       |  COALESCE(m.n_matched_shots, 0) AS n_matched_shots,
       |  COALESCE(dup.n_dup_docs, 0) AS n_dup_docs,
       |  COALESCE(dup.n_dup_docs, 0) >= 1 AS video_neardup
       |FROM d
       |LEFT JOIN ns ON d.doc_id = ns.doc_id
       |LEFT JOIN matched m ON d.doc_id = m.doc_id
       |LEFT JOIN dup ON d.doc_id = dup.doc_id""".stripMargin
  }

  // ----------------------------------------------- m11 keyframe extract

  /** m11: KEYFRAME extraction — the video → image bridge the m-family
    * lacked: m9 finds shot boundaries, m10 dedups shots, but nothing
    * picks the ONE frame per shot that feeds the image tier (m2
    * features, m6 near-dup, m7 alignment). The published shot-
    * representation baseline (Zhang, Low & Smoliar 1995; Hanjalic 2002
    * survey): the keyframe is the member frame closest to the shot's
    * MEAN histogram, ties to the earliest frame. Distance is kept in
    * exact integers by scaling through the shot length — comparing
    * Σ_b |nf·h_f[b] − H[b]| (H = the shot's summed histogram) orders
    * frames identically to the L1-to-mean and never leaves BIGINT, so
    * both engines agree bit-for-bit with no rounding convention.
    * Emits one row per shot: (doc_id, shot_id, n_frames, key_frame
    * absolute frame index, key_dist the scaled distance — 0 iff every
    * member frame has the shot's mean histogram, e.g. 1-frame shots).
    *
    * Scale shape: a PURE narrow map on the m2 batch path — per payload
    * one histogram pass + [[videoShotsOf]]'s cut pass (payload bytes
    * never shuffle, the argmin happens inside the kernel); output is
    * (id, 4 smalls) per shot. Zero exchanges at any corpus size — the
    * m9 discipline; a deployment swaps decoded-frame luminance
    * histograms through the identical kernel (the m2/m5 codec-
    * independence discipline). */
  def m11KeyframeExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    keyframesOf(withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])])
  }

  /** The m11 kernel over any blob relation — m11 binds the corpus; the
    * spec drives planted multi-shot payloads. */
  private[graft] def keyframesOf(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.flatMap { case (id, bytes) =>
      val hist = frameHistsOf(bytes) // ONE byte scan feeds cuts + argmin
      if (hist.isEmpty) Iterator.empty
      else videoShotsOf(hist).iterator.map { case (sid, sfr, nf) =>
        val tot = new Array[Long](SceneBins)
        var f = sfr
        while (f < sfr + nf) {
          var b = 0
          while (b < SceneBins) { tot(b) += hist(f)(b); b += 1 }
          f += 1
        }
        var best = -1L; var bestD = Long.MaxValue
        f = sfr
        while (f < sfr + nf) {
          var d = 0L; var b = 0
          while (b < SceneBins) { d += math.abs(nf.toLong * hist(f)(b) - tot(b)); b += 1 }
          if (d < bestD) { bestD = d; best = f } // strict < — earliest wins ties
          f += 1
        }
        (id, sid.toLong, nf.toLong, best, bestD)
      }
    }.toDF("doc_id", "shot_id", "n_frames", "key_frame", "key_dist")
  }

  // m11's oracle: the shared dense-grid + shot CTEs → shot membership,
  // then the scaled integer distance per member frame and an
  // earliest-frame argmin. Carries the documented ASCII coupling.
  private lazy val m11Sql =
    s"WITH $denseGridCtesSql,\n$shotCtesSql,\n" +
    s"""sh AS (
       |  SELECT s.doc_id, s.shot_id, hd.bin, SUM(hd.c) AS tc
       |  FROM sid s JOIN hd ON hd.doc_id = s.doc_id AND hd.win = s.win
       |  GROUP BY 1, 2, 3),
       |dist AS (
       |  SELECT s.doc_id, s.shot_id, s.win,
       |    SUM(ABS(st.nf * hd.c - sh.tc)) AS dd
       |  FROM sid s
       |  JOIN shots st ON st.doc_id = s.doc_id AND st.shot_id = s.shot_id
       |  JOIN hd ON hd.doc_id = s.doc_id AND hd.win = s.win
       |  JOIN sh ON sh.doc_id = s.doc_id AND sh.shot_id = s.shot_id
       |    AND sh.bin = hd.bin
       |  GROUP BY 1, 2, 3),
       |km AS (SELECT doc_id, shot_id, MIN(dd) AS kd FROM dist GROUP BY 1, 2),
       |kf AS (
       |  SELECT ds.doc_id, ds.shot_id, MIN(ds.win) AS key_frame
       |  FROM dist ds JOIN km ON km.doc_id = ds.doc_id
       |    AND km.shot_id = ds.shot_id AND ds.dd = km.kd
       |  GROUP BY 1, 2)
       |SELECT s.doc_id, CAST(s.shot_id AS BIGINT) AS shot_id,
       |  CAST(s.nf AS BIGINT) AS n_frames,
       |  CAST(kf.key_frame AS BIGINT) AS key_frame,
       |  CAST(km.kd AS BIGINT) AS key_dist
       |FROM shots s
       |JOIN kf ON kf.doc_id = s.doc_id AND kf.shot_id = s.shot_id
       |JOIN km ON km.doc_id = s.doc_id AND km.shot_id = s.shot_id""".stripMargin

  // ------------------------------------------- m7 image-text alignment

  /** Alignment threshold on the ROUNDED integer-arithmetic cosine.
    * Measured on the fixture corpus: cos_align spans ≈ [-0.66, 0.69]
    * with median ~0.02 (stub histogram vs random caption — genuinely
    * unaligned modalities, so the distribution is centered near 0);
    * τ = 0.2 keeps the top ~quartile, the LAION posture of admitting
    * only clearly-aligned pairs (their CLIP-space constant is 0.28).
    * Production calibrates τ on labeled pairs; the CONTRACT is the
    * screen's shape, not the constant. */
  private[graft] val AlignTau = 0.2

  /** m7: the cross-modal ALIGNMENT screen — the LAION/CLIP-filter shape
    * (Schuhmann et al. 2021): every document's image payload is scored
    * against its caption embedding and pairs below τ are flagged
    * misaligned (wrong image for the text, corrupt upload, watermark
    * tiles). This is the one multimodal pass the m-tier lacked: m1–m6
    * look at the payload alone; m7 joins the two modalities.
    *
    * Embedding stand-ins, both deterministic: the image side is the
    * codec's 16-bin feature histogram ([[FakeCodec]] registered,
    * [[ImageIoCodec]] spec-proven through the same kernel — m2's
    * codec-agnostic discipline) quantized to micro-units
    * (⌊fᵢ·10⁶⌋, exact in both engines because the normalizing division
    * and multiply are identical IEEE doubles); the caption side is the
    * `embeddings` vector pooled 64→16 by 4-block sums of per-element
    * micro-floors (s6's quantization device) — the fixed "learned
    * projection into the shared space" a real CLIP pipeline ships as
    * model weights. The score is the exact-integer cosine: BIGINT dot
    * and norms (bounded ≤ 4·10¹³ by construction), ONE final float
    * division, rounded at 6 dp — s6's full-hash-compare discipline, no
    * anchor+boolean.
    *
    * Scale shape: the image histogram rides the m2 batch path (narrow
    * per-partition map — payload bytes never shuffle; only (doc_id,
    * 16 longs) leaves the scan); the caption pooling is a narrow map on
    * the embeddings scan; the join is a plain doc_id equi-join between
    * two ~140-byte-row relations. Nothing driver-side, no window, no
    * state. */
  def m7ImageTextAlign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imageTextAlignVia(FakeCodec)(
      withBlob(s, dir).select($"doc_id", $"blob").as[(Long, Array[Byte])],
      Tables.embeddings(s, dir)
        .select($"vec_id".as("doc_id"), $"embedding"))
  }

  /** Codec-generic core of m7 (the [[imageFeaturesVia]] contract):
    * `captions` is a (doc_id, embedding float-array) relation; the spec
    * drives [[ImageIoCodec]] with planted aligned/misaligned PNG-caption
    * pairs through THIS kernel. */
  private[graft] def imageTextAlignVia(codec: BlobCodec)(
      blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
      captions: DataFrame): DataFrame = {
    import blobs.sparkSession.implicits._
    val img = blobs.mapPartitions(_.map { case (id, bytes) =>
      (id, codec.features(bytes).map(f => math.floor(f * 1000000.0).toLong).toSeq)
    }).toDF("doc_id", "img_q")
    val capMicro = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000.0)))
    val pooled = transform(sequence(lit(0), lit(15)), b =>
      aggregate(slice(capMicro, b * lit(4) + lit(1), lit(4)),
        lit(0L), (acc, x) => acc + x))
    val joined = img.join(
      captions.select(col("doc_id"), pooled.as("cap_q")), Seq("doc_id"))
    val dot = aggregate(zip_with($"img_q", $"cap_q", (p, q) => p * q),
      lit(0L), (acc, x) => acc + x)
    val na2 = aggregate($"img_q", lit(0L), (acc, x) => acc + x * x)
    val nb2 = aggregate($"cap_q", lit(0L), (acc, x) => acc + x * x)
    val cos = when(na2 === 0L || nb2 === 0L, lit(0.0))
      .otherwise(round(dot.cast("double") /
        (sqrt(na2.cast("double")) * sqrt(nb2.cast("double"))), 6))
    joined.select($"doc_id", cos.as("cos_align"))
      .withColumn("aligned", $"cos_align" >= AlignTau)
  }

  // m7's oracle: m2's histogram device micro-floored, the caption pooled
  // with s6's per-element quantization, exact BIGINT dot/norms, one
  // final float division per row.
  private val m7Sql =
    s"""WITH hist AS (
       |  SELECT doc_id, bin, CAST(COUNT(*) AS DOUBLE) AS c
       |  FROM (SELECT doc_id, ascii(substr(text, i, 1)) // 16 AS bin
       |        FROM documents, UNNEST(generate_series(1, length(text))) AS t(i))
       |  GROUP BY 1, 2),
       |imgq AS (
       |  SELECT d.doc_id, b.b AS bin,
       |    CAST(FLOOR((COALESCE(h.c, 0) / greatest(1, length(d.text)))
       |         * 1000000) AS BIGINT) AS qi
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b
       |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b),
       |cap AS (
       |  SELECT vec_id AS doc_id, CAST((pos - 1) // 4 AS INT) AS bin,
       |    CAST(SUM(CAST(FLOOR(v * 1000000) AS BIGINT)) AS BIGINT) AS qc
       |  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |               unnest(range(1, len(embedding) + 1)) AS pos
       |        FROM embeddings)
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT i.doc_id,
       |    SUM(i.qi * c.qc) AS dot,
       |    SUM(i.qi * i.qi) AS na2,
       |    SUM(c.qc * c.qc) AS nb2
       |  FROM imgq i JOIN cap c ON i.doc_id = c.doc_id AND i.bin = c.bin
       |  GROUP BY 1),
       |scored AS (
       |  SELECT doc_id,
       |    CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0
       |         ELSE round(CAST(dot AS DOUBLE) /
       |              (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6)
       |    END AS cos_align
       |  FROM j)
       |SELECT doc_id, cos_align, cos_align >= $AlignTau AS aligned
       |FROM scored""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_binary_meta" -> m1BinaryMeta _,
    "m2_image_features" -> m2ImageFeatures _,
    "m3_frame_sample" -> m3FrameSample _,
    "m4_resize" -> m4Resize _,
    "m5_audio_energy" -> m5AudioEnergy _,
    "m6_image_neardup" -> m6ImageNeardup _,
    "m7_image_text_align" -> m7ImageTextAlign _,
    "m8_audio_neardup" -> m8AudioNeardup _,
    "m9_scene_cuts" -> m9SceneCuts _,
    "m10_video_neardup" -> m10VideoNeardup _,
    "m11_keyframe_extract" -> m11KeyframeExtract _,
    "m2r_image_features_real" -> m2rImageFeaturesReal _,
    "m5r_audio_energy_real" -> m5rAudioEnergyReal _,
    "m12_audio_trim" -> m12AudioTrim _,
    "m12r_audio_trim_real" -> m12rAudioTrimReal _)

  val oracleSql: Map[String, String] = Map(
    "m1_binary_meta" -> m1Sql,
    "m2_image_features" -> m2Sql,
    "m3_frame_sample" -> m3Sql,
    "m4_resize" -> m4Sql,
    "m5_audio_energy" -> m5Sql,
    "m6_image_neardup" -> m6Sql,
    "m7_image_text_align" -> m7Sql,
    "m8_audio_neardup" -> m8Sql,
    "m9_scene_cuts" -> m9Sql,
    "m10_video_neardup" -> m10Sql,
    "m11_keyframe_extract" -> m11Sql,
    "m2r_image_features_real" -> m2rSql,
    // the same-oracle proof: real WAV decode must hash-equal the stub
    "m5r_audio_energy_real" -> m5Sql,
    "m12_audio_trim" -> m12Sql,
    // deliberately m12's oracle text: the WAV container round-trips the
    // samples losslessly, so the real decoder's trim is bit-identical
    "m12r_audio_trim_real" -> m12Sql)
}
