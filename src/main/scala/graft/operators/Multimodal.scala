package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] multimodal-column plumbing: image/audio/video payloads as opaque
  * BinaryType columns with typed metadata, processed batch-at-a-time in
  * executor partitions (the Scala analogue of mapInPandas batches).
  *
  * Image decode is REAL: `javax.imageio` ships with the JDK (PNG, JPEG,
  * GIF, BMP, TIFF, WBMP) and needs no display — header-only probes for
  * metadata, full pixel decode only where resize/features require it.
  * Payloads ImageIO cannot read (webp, video containers, arbitrary
  * bytes) fall back to the deterministic stub below, clearly marked, so
  * the operators stay total functions over untrusted blob columns.
  * Everything around the codec is load-bearing: schema, partition-size
  * control (blobs never enter wide shuffles; operate on (id, payload) and
  * join scalars back), batch shape, and typed output.
  *
  * Reference precedent: the BLOB thumbnail column + fetch/dump stages
  * (schema.sql:49; cmds/archive.py:84-95, 201-221).
  */
object Multimodal {

  /** Decoded-media metadata row. `decoded=false` marks stub-fallback rows
    * (format not readable by the JDK's ImageIO, e.g. webp). */
  case class MediaMeta(id: Long, n_bytes: Long, format: String,
      width: Int, height: Int, decoded: Boolean)

  /** Fixed-size feature row (embedding-like). */
  case class MediaFeature(id: Long, feature: Array[Float])

  // ======================================================================
  // Real codec — JDK ImageIO. All entry points return Option; None routes
  // to the stub fallback so unreadable payloads never throw on executors.
  // ======================================================================

  /** Header-only probe: format name + dimensions WITHOUT decoding pixels
    * (reader.getWidth reads the header frame only) — the cheap path for
    * metadata scans over 100 TB of blobs. */
  private[operators] def probeImage(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    ImageIO.setUseCache(false) // no temp-file cache on executors
    val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (in == null || !readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          Some((r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0)))
        } finally r.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => None
    } finally if (in != null) in.close()
  }

  /** Full pixel decode; None when ImageIO has no codec for the payload. */
  private[operators] def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    try {
      ImageIO.setUseCache(false)
      Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Scale pixels into (w, h) with bilinear filtering; TYPE_INT_RGB keeps
    * the result re-encodable by every JDK writer (no alpha surprises). */
  private[operators] def scaleImage(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  private[operators] def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ======================================================================
  // STUB — deterministic fallback for payloads the JDK cannot decode
  // (webp images, audio/video containers, junk bytes). Derives all
  // outputs from the payload bytes so behavior is stable and testable.
  // ======================================================================
  private[operators] def decodeStub(bytes: Array[Byte]): (String, Int, Int) = {
    val h = java.util.Arrays.hashCode(bytes)
    val fmt = Seq("jpeg", "png", "webp")(math.floorMod(h, 3))
    val w = 64 + math.floorMod(h >> 2, 1024)
    val hgt = 64 + math.floorMod(h >> 12, 1024)
    (fmt, w, hgt)
  }

  private[operators] def featureStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var acc = 0x9e3779b9
    var i = 0
    while (i < dim) {
      acc = acc * 31 + (if (bytes.isEmpty) i else bytes(i % bytes.length).toInt)
      out(i) = (math.floorMod(acc, 2048) - 1024) / 1024.0f
      i += 1
    }
    out
  }
  // ======================================================================

  /** Decode pass: (id, payload BINARY) → MediaMeta, partition-at-a-time.
    * mapPartitions (not per-row UDF) so codec init (ImageIO registry warm,
    * cache-off flag) amortizes across the batch — the same reason
    * mapInPandas batches exist. The probe reads headers only: a metadata
    * scan never pays full pixel decode. */
  def decodeMeta(df: DataFrame)(implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false) // once per partition
        rows.map { case (id, bytes) =>
          probeImage(bytes) match {
            case Some((fmt, w, h)) =>
              MediaMeta(id, bytes.length.toLong, fmt, w, h, decoded = true)
            case None =>
              val (fmt, w, h) = decodeStub(bytes)
              MediaMeta(id, bytes.length.toLong, fmt, w, h, decoded = false)
          }
        }
      }
  }

  /** Real image feature: mean-luminance grid (gridW×gridH cells, row-major,
    * scaled to [-1, 1]) — the classic tiny-thumbnail perceptual signature,
    * directly usable by the Similarity operators. */
  private[operators] def luminanceGrid(img: BufferedImage, dim: Int): Array[Float] = {
    val gw = math.max(1, math.ceil(math.sqrt(dim.toDouble)).toInt)
    val gh = math.max(1, math.ceil(dim.toDouble / gw).toInt)
    val small = scaleImage(img, gw, gh)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val rgb = small.getRGB(i % gw, i / gw)
      val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)
      out(i) = (lum / 127.5 - 1.0).toFloat
      i += 1
    }
    out
  }

  /** Feature-extraction pass: (id, payload) → fixed-dim float vector,
    * ready for the Similarity operators. Decodable images get the real
    * luminance-grid signature; everything else the stub. */
  def extractFeatures(df: DataFrame, dim: Int = 16)(
      implicit spark: SparkSession): Dataset[MediaFeature] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (id, bytes) =>
          val feat = readImage(bytes) match {
            case Some(img) => luminanceGrid(img, dim)
            case None      => featureStub(bytes, dim)
          }
          MediaFeature(id, feat)
        }
      }
  }

  /** Perceptual-hash row. `decoded=false` marks stub-fallback rows. */
  case class MediaHash(id: Long, phash: Long, decoded: Boolean)

  /** 64-bit average-hash (aHash, the classic public perceptual
    * signature): pixels → 8×8 INTEGER block means (each cell averages
    * its own pixels — no float resampling filter, so the hash is exact
    * and engine/JVM-independent) → one bit per cell, set when the
    * cell's mean luminance (ITU-R 601 integer weights, truncating
    * division) exceeds the global mean. Robust to re-encode/resize
    * blur, which byte-level exact dedup (D4) cannot see. */
  /** Truncating integer luma means over a gw×gh block grid — the shared
    * core of [[averageHash]] and [[syntheticPatchGrid]] (the ViT
    * patchify shape: an image becomes its per-patch statistics). */
  private[operators] def blockMeans(img: BufferedImage, gw: Int,
      gh: Int): Array[Long] = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](gw * gh)
    val counts = new Array[Long](gw * gh)
    var y = 0
    while (y < h) {
      val cy = math.min(gh - 1, (y.toLong * gh / h).toInt)
      var x = 0
      while (x < w) {
        val cx = math.min(gw - 1, (x.toLong * gw / w).toInt)
        val rgb = img.getRGB(x, y)
        sums(cy * gw + cx) += 299L * ((rgb >> 16) & 0xff) +
          587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
        counts(cy * gw + cx) += 1
        x += 1
      }
      y += 1
    }
    // truncating integer means bound every compared value by 255_000 —
    // no overflow at any image size (a cross-multiplication of raw sums
    // would overflow past ~40 MP)
    Array.tabulate(gw * gh)(c =>
      if (counts(c) == 0) 0L else sums(c) / counts(c))
  }

  private[operators] def averageHash(img: BufferedImage): Long = {
    val gw = 8; val gh = 8
    val means = blockMeans(img, gw, gh)
    val global = means.sum / (gw * gh)
    var bits = 0L
    var c = 0
    while (c < gw * gh) {
      if (means(c) > global) bits |= (1L << (63 - c))
      c += 1
    }
    bits
  }

  /** Deterministic synthetic pixel — the q108 fixture contract, shared
    * verbatim with the DuckDB oracle: the base image is a per-channel
    * linear ramp keyed by the EVEN floor of the id, and odd ids perturb
    * the red channel of the top-left 8×16 region by `50·((id/2) mod 4)`
    * (clamped) — so sibling pairs land at Hamming 0–5 from their even
    * base depending on id: exact dups, near-dups inside the band join's
    * ≤3 contract, and two pairs just OUTSIDE it that the verification
    * step must drop. */
  private[operators] def synthPixel(id: Long, x: Int, y: Int): Int = {
    val base = id - (id % 2)
    val r0 = ((x * 7 + y * 13 + base * 31) % 256).toInt
    val g = ((x * 11 + y * 5 + base * 17) % 256).toInt
    val b = ((x * 3 + y * 19 + base * 23) % 256).toInt
    val r = if (id % 2 == 1 && x < 8 && y < 16)
      math.min(255, r0 + 50 * ((id / 2) % 4).toInt) else r0
    (r << 16) | (g << 8) | b
  }

  /** q108's Spark half: run the REAL [[averageHash]] — block assignment,
    * truncating integer means, strict-greater threshold, bit packing —
    * over arithmetically generated pixels ([[synthPixel]]), no codec in
    * the path. This is what promotes the perceptual-hash math from
    * spec-only (MultimodalSpec's JPEG re-encode pairs, which DuckDB
    * cannot decode) to a full oracle-checked CORRECTNESS row: the oracle
    * recomputes the same integer cell/global means in SQL and
    * brute-forces pair Hamming distances bit-by-bit, so a green row
    * proves hash math AND banding losslessness end-to-end. */
  def syntheticAHash(ids: DataFrame, w: Int, h: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ids.select(col("id").cast("long")).as[Long].map { id =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, synthPixel(id, x, y)); x += 1 }
        y += 1
      }
      (id, averageHash(img))
    }.toDF("id", "phash")
  }

  /** [NS] — ViT-style PATCHIFY over synthetic pixels (q199): every image
    * becomes its gw×gh grid of per-patch truncating integer luma means
    * — the patch-statistics layout a vision-transformer ingest pipeline
    * materializes (patch rows, not blobs, are what downstream shuffles
    * touch). Runs the REAL [[blockMeans]] kernel (the same code the
    * decoded-JPEG path uses) over arithmetically generated pixels, so
    * the patch arithmetic is oracle-checkable without a codec — the
    * same promotion [[syntheticAHash]] gives the hash path. Output:
    * (id, patch, pmean), patch = row-major index. */
  def syntheticPatchGrid(ids: DataFrame, w: Int, h: Int, gw: Int,
      gh: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ids.select(col("id").cast("long")).as[Long].flatMap { id =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, synthPixel(id, x, y)); x += 1 }
        y += 1
      }
      blockMeans(img, gw, gh).zipWithIndex.map { case (m, p) =>
        (id, p, m)
      }
    }.toDF("id", "patch", "pmean")
  }

  /** FNV-1a 64-bit over raw bytes — full-width stub hash for payloads no
    * codec can read. Full 64 bits matter: the earlier 32-bit
    * `Arrays.hashCode` stub sign-extended, so every stub shared its upper
    * two 16-bit bands — distinct junk blobs with near 32-bit hashCodes
    * emitted false "near-dup" pairs AND the constant bands formed a
    * skewed hot key in the band join (round-5 ADVICE). */
  private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Perceptual-hash pass: (id, payload BINARY) → 64-bit aHash,
    * partition-at-a-time (codec init amortized). Unreadable payloads get
    * a stable FULL-WIDTH byte-derived stub hash ([[fnv64]]), flagged
    * `decoded=false` — exact byte copies of an undecodable blob still
    * collide (D4 semantics), but no perceptual claim is made for them:
    * two distinct junk blobs land 64 independent bits apart, so they do
    * not band-collide. Downstream: use [[imageDedup]], which enforces
    * this structurally — stubs are filtered before
    * [[Dedup.hammingPairs64]] (near-Hamming on a byte hash is
    * meaningless) and undecodables pair only by stub-hash EQUALITY,
    * never band proximity. Image dedup rides the same
    * lossless 4×16-bit band join as SimHash text dedup, one exchange,
    * signatures as single longs. */
  def perceptualHash(df: DataFrame)(
      implicit spark: SparkSession): Dataset[MediaHash] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (id, bytes) =>
          readImage(bytes) match {
            case Some(img) => MediaHash(id, averageHash(img), decoded = true)
            case None => MediaHash(id, fnv64(bytes), decoded = false)
          }
        }
      }
  }

  /** [NS] Image near-dup dedup, end to end — the STRUCTURAL form of the
    * [[perceptualHash]] contract: callers hand in raw (id, payload)
    * blobs and can no longer feed stub hashes into banding by accident.
    * Decoded payloads go through the 4×16-bit band join
    * ([[Dedup.hammingPairs64]], near-Hamming ≤ `maxDist`); undecodable
    * payloads are EXCLUDED from banding (near-Hamming on a byte hash is
    * meaningless) and contribute only exact byte-copy pairs via
    * full-hash equality of the FNV-1a stub (D4 semantics — hamming 0,
    * flagged `exact_stub`). Output: (doc_a, doc_b, hamming, exact_stub),
    * doc_a < doc_b. Plan: the stub side is an equi-join on the full
    * 64-bit hash (no explode, typically tiny); the decoded side is the
    * usual one-exchange band join. */
  def imageDedup(df: DataFrame, maxDist: Int = 3)(
      implicit spark: SparkSession)
      : DataFrame = Stage("Multimodal.imageDedup") { st =>
    val hashes = st.checkpoint(perceptualHash(df).toDF, "hashes")
    val perceptual = graft.operators.Dedup
      .hammingPairs64(hashes.filter(col("decoded")), "id", "phash", maxDist)
      .withColumn("exact_stub", lit(false))
    val stubs = hashes.filter(!col("decoded")).select(col("id"), col("phash"))
    val exact = stubs.alias("x")
      .join(stubs.alias("y"), col("x.phash") === col("y.phash") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        lit(0L).as("hamming"), lit(true).as("exact_stub"))
    perceptual.unionByName(exact)
  }

  /** Resized-media row: payload replaced by the (stub-)resized bytes. */
  case class ResizedMedia(id: Long, width: Int, height: Int,
      payload: Array[Byte])

  /** Sampled frame: one row per extracted frame. */
  case class Frame(id: Long, frame_idx: Int, offset_ms: Long,
      payload: Array[Byte])

  /** Resize pass: (id, payload) → target box, aspect preserved. Decodable
    * images take the real path — Graphics2D bilinear scale, PNG re-encode;
    * images already inside the box pass through byte-identical (idempotent
    * re-runs don't recompress). Unreadable payloads fall back to the stub
    * (deterministic size-scaled slice). */
  def resize(df: DataFrame, maxW: Int, maxH: Int)(
      implicit spark: SparkSession): Dataset[ResizedMedia] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (id, bytes) =>
          readImage(bytes) match {
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              val scale = math.min(1.0,
                math.min(maxW.toDouble / w, maxH.toDouble / h))
              if (scale >= 1.0) ResizedMedia(id, w, h, bytes)
              else {
                val (nw, nh) = (math.max(1, (w * scale).toInt),
                  math.max(1, (h * scale).toInt))
                ResizedMedia(id, nw, nh, encodePng(scaleImage(img, nw, nh)))
              }
            case None =>
              val (_, w, h) = decodeStub(bytes)
              val scale = math.min(1.0,
                math.min(maxW.toDouble / w, maxH.toDouble / h))
              val (nw, nh) = (math.max(1, (w * scale).toInt),
                math.max(1, (h * scale).toInt))
              // STUB fallback: keep a size-scaled slice of the bytes
              val outLen = math.max(1, (bytes.length * scale * scale).toInt)
              ResizedMedia(id, nw, nh, bytes.take(outLen))
          }
        }
      }
  }

  /** Decode a multi-frame payload (animated GIF — the one multi-frame
    * container the JDK reads) into at most `maxFrames` evenly-strided
    * frames, re-encoded as PNG. None when the payload is not a readable
    * multi-frame image. */
  private[operators] def readFrames(bytes: Array[Byte],
      maxFrames: Int): Option[Seq[Array[Byte]]] = {
    ImageIO.setUseCache(false)
    val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (in == null || !readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val n = r.getNumImages(true)
          if (n < 2) None // single image: not a frame stream
          else {
            val stride = math.max(1, math.ceil(n.toDouble / maxFrames).toInt)
            Some((0 until n by stride).take(maxFrames).map(i =>
              encodePng(scaleImage(r.read(i), r.getWidth(i), r.getHeight(i)))))
          }
        } finally r.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => None
    } finally if (in != null) in.close()
  }

  /** Frame sampling (video-style): up to `maxFrames` per payload, one
    * output row per frame, exploded executor-side (no driver fan-out).
    * REAL for multi-frame images the JDK decodes (animated GIF): evenly-
    * strided frames, `offset_ms` = frame index × `everyMs` (GIF per-frame
    * delays are not exposed uniformly, so the sampling clock is the
    * caller's). True video containers (mp4 etc.) have no JDK codec and
    * fall back to the deterministic STUB slice. */
  def sampleFrames(df: DataFrame, everyMs: Long = 1000, maxFrames: Int = 8)(
      implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        readFrames(bytes, maxFrames) match {
          case Some(frames) =>
            frames.zipWithIndex.map { case (png, i) =>
              Frame(id, i, i * everyMs, png)
            }
          case None =>
            val durationMs = 500L + (math.abs(
              java.util.Arrays.hashCode(bytes)) % 10000) // STUB duration probe
            val n = math.min(maxFrames, (durationMs / everyMs + 1).toInt)
            (0 until n).map { i =>
              val off = i * everyMs
              val start = (off % math.max(1, bytes.length)).toInt
              Frame(id, i, off, bytes.slice(start,
                math.min(bytes.length, start + 16))) // STUB frame bytes
            }
        }
      }
  }

  // ======================================================================
  // Real audio codec — javax.sound.sampled (also JDK-builtin: WAV, AIFF,
  // AU). Same total-function contract as the image path: readable
  // payloads decode for real, everything else routes to the stub.
  // ======================================================================

  /** Decoded-audio metadata row. `decoded=false` marks stub-fallback rows
    * (container javax.sound cannot read, e.g. mp3/ogg). */
  case class AudioMeta(id: Long, n_bytes: Long, container: String,
      sample_rate: Int, channels: Int, n_frames: Long, decoded: Boolean)

  /** Header-only audio probe: container type, rate, channels, frame count
    * without decoding samples — the metadata-scan path. */
  private[operators] def probeAudio(
      bytes: Array[Byte]): Option[(String, Int, Int, Long)] =
    try {
      val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(bytes))
      val f = aff.getFormat
      Some((aff.getType.toString.toLowerCase, f.getSampleRate.toInt,
        f.getChannels, aff.getFrameLength.toLong))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Full sample decode to channel-averaged doubles in [-1, 1]; converts
    * through 16-bit signed little-endian PCM for non-PCM encodings. None
    * when javax.sound has no codec for the payload. */
  private[operators] def pcmMono(bytes: Array[Byte]): Option[Array[Double]] =
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val f = ais.getFormat
      val target = new AudioFormat(f.getSampleRate, 16, f.getChannels,
        true, false)
      val pcm =
        if (f.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && !f.isBigEndian) ais
        else AudioSystem.getAudioInputStream(target, ais)
      val raw = pcm.readAllBytes()
      val ch = target.getChannels
      val n = raw.length / 2 / ch
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        var acc = 0.0
        var c = 0
        while (c < ch) {
          val lo = raw(2 * (i * ch + c)) & 0xff
          val hi = raw(2 * (i * ch + c) + 1)
          acc += ((hi << 8) | lo).toShort / 32768.0
          c += 1
        }
        out(i) = acc / ch
        i += 1
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real audio feature: per-segment RMS energy over `dim` equal spans —
    * the audio analogue of [[luminanceGrid]], directly usable by the
    * Similarity operators. */
  private[operators] def rmsGrid(samples: Array[Double],
      dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (samples.isEmpty) return out
    var s = 0
    while (s < dim) {
      val lo = (s.toLong * samples.length / dim).toInt
      val hi = math.max(lo + 1, ((s + 1).toLong * samples.length / dim).toInt)
      var acc = 0.0
      var i = lo
      while (i < hi) { acc += samples(i) * samples(i); i += 1 }
      out(s) = math.sqrt(acc / (hi - lo)).toFloat
      s += 1
    }
    out
  }

  /** Deterministic 16-bit synthetic waveform: sample t of clip `id` —
    * the audio analogue of [[synthPixel]]. A sawtooth whose slope
    * varies with id, amplitude-stepped every 256 samples (so adjacent
    * frames differ in energy, exercising real per-frame statistics).
    * Pure integer arithmetic (both engines' `%`/truncating division
    * reproduce it bit-for-bit on these non-negative-modulus terms). */
  private[operators] def synthSample(id: Long, t: Int): Int = {
    val raw = (t.toLong * (7 + id % 5) + id * 13) % 65536L - 32768L
    (raw / (1 + ((t / 256).toLong + id) % 4)).toInt
  }

  /** [NS] — per-frame audio energy over synthetic PCM (q250): each clip
    * becomes its frame-level loudness profile — exact mean-square and
    * peak per frame, plus the REAL [[rmsGrid]] RMS (the same kernel the
    * decoded-WAV path feeds to the Similarity operators). The promotion
    * [[syntheticAHash]]/[[syntheticPatchGrid]] give the image kernels,
    * applied to audio: MultimodalSpec covers the javax.sound decode on
    * real WAV bytes (which DuckDB cannot read), this makes the frame
    * arithmetic itself an oracle-checked CORRECTNESS row via
    * [[synthSample]]'s generator.
    *
    * RMS hash-matches across engines because every term is exact:
    * squares and their sums are integers < 2^53 (exact doubles,
    * associative under any partial-agg order), frameLen is a power of
    * two (exact double division), and sqrt/float-cast are both
    * correctly-rounded IEEE ops — the [[QueryDsl.exactSum]] stance
    * applied to a transcendental tail. Frame rows, never sample blobs,
    * are what shuffles downstream — the multimodal contract. */
  def syntheticFrameEnergy(ids: DataFrame, nSamples: Int, frames: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val flen = nSamples / frames
    require(nSamples % frames == 0 && Integer.bitCount(flen) == 1,
      s"frame length must be a power of two for exact double division, " +
        s"got $nSamples/$frames")
    ids.select(col("id").cast("long")).as[Long].flatMap { id =>
      val samples =
        Array.tabulate(nSamples)(t => synthSample(id, t).toDouble)
      val rms = rmsGrid(samples, frames)
      (0 until frames).map { f =>
        var acc = 0L
        var peak = 0L
        var t = f * flen
        while (t < (f + 1) * flen) {
          val s = samples(t).toLong
          acc += s * s
          val a = math.abs(s)
          if (a > peak) peak = a
          t += 1
        }
        (id, f, acc / flen, peak, rms(f))
      }
    }.toDF("id", "frame", "mean_sq", "peak", "rms")
  }

  /** Deterministic audio-meta stub for payloads javax.sound cannot read. */
  private[operators] def audioStub(bytes: Array[Byte]): (String, Int, Int, Long) = {
    val h = java.util.Arrays.hashCode(bytes)
    val container = Seq("mp3", "ogg", "flac")(math.floorMod(h, 3))
    val rate = Seq(8000, 16000, 44100)(math.floorMod(h >> 3, 3))
    val ch = 1 + math.floorMod(h >> 7, 2)
    val frames = 1000L + math.floorMod(h >> 9, 100000)
    (container, rate, ch, frames)
  }

  /** Audio decode pass: (id, payload BINARY) → AudioMeta, partition-at-a-
    * time, header probe only (sample data never touched). */
  def decodeAudioMeta(df: DataFrame)(
      implicit spark: SparkSession): Dataset[AudioMeta] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          probeAudio(bytes) match {
            case Some((container, rate, ch, frames)) =>
              AudioMeta(id, bytes.length.toLong, container, rate, ch,
                frames, decoded = true)
            case None =>
              val (container, rate, ch, frames) = audioStub(bytes)
              AudioMeta(id, bytes.length.toLong, container, rate, ch,
                frames, decoded = false)
          }
        }
      }
  }

  /** Audio feature pass: (id, payload) → `dim` RMS-energy floats; real
    * decode where javax.sound can read the container, stub otherwise. */
  def extractAudioFeatures(df: DataFrame, dim: Int = 16)(
      implicit spark: SparkSession): Dataset[MediaFeature] = {
    import spark.implicits._
    df.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val feat = pcmMono(bytes) match {
            case Some(samples) => rmsGrid(samples, dim)
            case None          => featureStub(bytes, dim)
          }
          MediaFeature(id, feat)
        }
      }
  }

  /** Deterministic WAV fixture: 16-bit signed little-endian PCM sine at
    * `freqHz`, written through the JDK's own WAVE writer — a REAL RIFF
    * container (44-byte canonical header + nFrames·channels·2 data
    * bytes), used by specs and the oracle query to prove the decoder
    * round-trips true parameters. */
  def synthWavBytes(sampleRate: Int, channels: Int, nFrames: Int,
      freqHz: Double = 440.0, amplitude: Double = 0.5): Array[Byte] = {
    val fmt = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val data = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < nFrames) {
      val v = (amplitude * math.sin(2 * math.Pi * freqHz * i / sampleRate) *
        32767).toInt
      var c = 0
      while (c < channels) {
        data(2 * (i * channels + c)) = (v & 0xff).toByte
        data(2 * (i * channels + c) + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt,
      nFrames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Size-bounded repartition for blob processing: target ~`targetMB` of
    * payload per partition so decoder memory stays bounded regardless of
    * row count — the knob that matters at 100 TB (row-count partitioning
    * explodes when blob sizes are skewed). */
  def repartitionByBytes(df: DataFrame, totalBytes: Long,
      targetMB: Int = 128): DataFrame = {
    val parts = math.max(1, (totalBytes / (targetMB * 1024L * 1024L)).toInt)
    df.repartition(parts, col("id"))
  }
}
