package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Fixtures.table

/** One decoded "asset": binary payload + typed metadata. */
final case class MMAsset(doc_id: Long, payload: Array[Byte], width: Int, height: Int)

final case class MMFeatures(
    doc_id: Long,
    n_bytes: Long,
    mean_byte_e4: Long,
    feat: Seq[Float],
    feat_norm_e4: Long,
    n_frames: Int,
    frame_checksum: Long)

/** Per-image decode output of the REAL codec path ([[MultimodalOps.imageFeatures]]):
  * luminance histogram features + dimensions, with in-band decode failure
  * (`decode_ok=false`, zeroed fields) — the dead-letter discipline for a
  * corpus where a fraction of payloads is always corrupt.
  */
final case class MMImageFeatures(
    doc_id: Long,
    decode_ok: Boolean,
    width: Int,
    height: Int,
    n_pixels: Long,
    mean_lum_e4: Long,
    feat: Seq[Float],
    feat_norm_e4: Long)

/** Per-clip decode output of the REAL audio codec path
  * ([[MultimodalOps.audioFeatures]]): PCM-derived features + format
  * metadata, with in-band decode failure — same dead-letter discipline as
  * [[MMImageFeatures]].
  */
final case class MMAudioFeatures(
    doc_id: Long,
    decode_ok: Boolean,
    sample_rate: Int,
    channels: Int,
    n_samples: Long,
    rms_e4: Long,
    zero_crossings: Long,
    peak_abs: Int)

/** Per-sampled-frame decode output of the REAL video-container path
  * ([[MultimodalOps.videoFrameFeatures]]): the frame's timestamp/keyframe
  * metadata plus image features decoded from the frame's actual PNG bytes,
  * with in-band failure (`decode_ok=false`) per FRAME — one corrupt frame
  * must not discard its clip's remaining frames.
  */
final case class MMFrameFeatures(
    doc_id: Long,
    frame_idx: Int,
    ts_ms: Long,
    keyframe: Boolean,
    decode_ok: Boolean,
    width: Int,
    height: Int,
    mean_lum_e4: Long)

/** A minimal seekable frame-indexed container: the video-shaped format
  * that completes the multimodal family now that image (ImageIO) and
  * audio (javax.sound) decode real bytes — the JDK exposes no public
  * video codec, so "video" is modeled as what a video IS structurally: a
  * frame index + per-frame compressed images. Layout (big-endian):
  *
  *   magic "GFC1" : int32
  *   frame_ms     : int32   (presentation interval per frame)
  *   n_frames     : int32
  *   index        : n_frames × (offset: int64, length: int32)
  *   payloads     : concatenated frame bytes (PNG via the real codec path)
  *
  * The index makes frame access O(1): sampling every k-th frame of a
  * clip touches only the sampled payload ranges, the access pattern a
  * real container (MP4 `stsc`/`stco`, MKV cues) is built for — at 100 TB
  * the sampled-decode cost scales with frames SAMPLED, not frames stored.
  */
object FrameContainer {
  private val Magic = 0x47464331 // "GFC1"
  private val HeaderBytes = 12
  private val IndexEntryBytes = 12

  def encode(frames: Seq[Array[Byte]], frameMs: Int): Array[Byte] = {
    val total = HeaderBytes + frames.length * IndexEntryBytes +
      frames.iterator.map(_.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
    buf.putInt(Magic).putInt(frameMs).putInt(frames.length)
    var off = (HeaderBytes + frames.length * IndexEntryBytes).toLong
    frames.foreach { f => buf.putLong(off).putInt(f.length); off += f.length }
    frames.foreach(buf.put)
    buf.array()
  }

  /** `(frame_ms, n_frames)` if `bytes` is a well-formed container. */
  def header(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < HeaderBytes) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
    if (buf.getInt() != Magic) return None
    val frameMs = buf.getInt()
    val n = buf.getInt()
    if (frameMs <= 0 || n < 0 ||
      bytes.length < HeaderBytes + n.toLong * IndexEntryBytes) None
    else Some((frameMs, n))
  }

  /** O(1) seek: the `idx`-th frame's payload bytes, None when the index
    * entry is out of range or points outside the container (truncation).
    */
  def frameAt(bytes: Array[Byte], idx: Int): Option[Array[Byte]] =
    header(bytes).flatMap { case (_, n) =>
      if (idx < 0 || idx >= n) None
      else {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        buf.position(HeaderBytes + idx * IndexEntryBytes)
        val off = buf.getLong()
        val len = buf.getInt()
        // overflow-safe: `off + len` can wrap for a crafted index entry,
        // so compare against `bytes.length - len` instead — this also
        // guarantees `off` fits in Int before the arraycopy.
        if (off < 0 || len < 0 || off > bytes.length.toLong - len) None
        else {
          val out = new Array[Byte](len)
          System.arraycopy(bytes, off.toInt, out, 0, len)
          Some(out)
        }
      }
    }
}

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, and partition-batched feature extraction.
  *
  * Two decode paths behind one seam:
  *   - [[MultimodalOps.fakeDecode]] — the deterministic byte-histogram
  *     stand-in the ORACLED m2 queries use (DuckDB can replay it through
  *     `ord(substr(text))`, so the whole feature chain is hash-checked);
  *   - [[MultimodalOps.imageioDecode]] — a REAL image codec on the
  *     JDK-public `javax.imageio` (PNG/JPEG/BMP/GIF), producing the same
  *     histogram/L2/mean feature shape from decoded luminance. Not
  *     oracle-replayable (DuckDB has no codec), so it is pinned by a
  *     fixture-based integration test (`TextMultimodalSpec`) instead.
  * Everything Spark-side is shared and load-bearing: binary column
  * construction, metadata struct schema, the `Dataset.mapPartitions`
  * batch shape (one decoder init per partition, the same contract a
  * JNI/FFmpeg decoder needs), and partition sizing.
  *
  * At 100 TB: payloads dominate row size, so the scan partitions by
  * `spark.sql.files.maxPartitionBytes`; feature extraction is map-only
  * (no shuffle), and the decoder is initialized once per partition, not
  * per row — the mapPartitions iterator contract below.
  */
object MultimodalOps {

  /** Assets table: payload bytes (UTF-8 of text as the deterministic fake
    * "image") + typed metadata derived from n_chars. Metadata formulas are
    * oracle-checkable; the payload is real binary plumbing.
    */
  def assets(spark: SparkSession, dir: String): DataFrame =
    assetsOf(table(spark, dir, "documents"))

  /** The asset projection over any (doc_id, text, n_chars) frame — the
    * micro-batch seam of the streaming media gate.
    */
  private[graft] def assetsOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("fake/rgb8").as("format"),
        ((col("n_chars") % 64) + 1).cast("int").as("width"),
        (floor(col("n_chars") / 64) + 1).cast("int").as("height"),
        col("n_chars").as("n_bytes")).as("meta"))

  /** Metadata projection (oracle-checked: pure arithmetic on n_chars). */
  def assetMeta(spark: SparkSession, dir: String): DataFrame =
    assets(spark, dir).select(
      col("doc_id"),
      col("meta.format").as("format"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      octet_length(col("payload")).cast("bigint").as("n_bytes"))

  /** m8: media quality gate — the LAION-style pre-filters every
    * image-text pipeline runs before any model touches a pixel
    * (Schuhmann et al. 2021 drop tiny images and extreme aspect ratios
    * at ingest): per-asset rule flags + verdict, the multimodal twin of
    * t54's page-policy report. Rules: dimension floors (width ≥ 8,
    * height ≥ 2), aspect-ratio cap (width ≤ 16×height), byte floor
    * (≥ 100), and declared-vs-actual size agreement (a corrupt or
    * truncated payload fails before the decoder sees it). Map-only over
    * the asset frame — at 100 TB this runs at scan speed and the
    * verdict prunes the (expensive) decode stage's input.
    */
  def mediaQualityGate(spark: SparkSession, dir: String): DataFrame =
    mediaQualityGateOf(assets(spark, dir))

  /** [[mediaQualityGate]] over any assets-shaped frame (doc_id, payload,
    * meta struct) — the seam the streaming media gate feeds micro-batches
    * through, so at-arrival and batch verdicts share ONE rule set.
    */
  private[graft] def mediaQualityGateOf(assetsFrame: DataFrame): DataFrame =
    assetsFrame.select(
      col("doc_id"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      octet_length(col("payload")).cast("bigint").as("n_bytes"),
      col("meta.n_bytes").as("declared_bytes"))
      .select(
        col("doc_id"), col("width"), col("height"), col("n_bytes"),
        (col("width") < 8).as("too_narrow"),
        (col("height") < 2).as("too_flat"),
        (col("width") > col("height") * 16).as("bad_aspect"),
        (col("n_bytes") < 100).as("too_few_bytes"),
        (col("n_bytes") =!= col("declared_bytes")).as("size_mismatch"))
      .withColumn("kept",
        !(col("too_narrow") || col("too_flat") || col("bad_aspect") ||
          col("too_few_bytes") || col("size_mismatch")))

  def mediaQualityGateOracleSql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    cast((n_chars % 64) + 1 AS int) AS width,
      |    cast(floor(n_chars / 64) + 1 AS int) AS height,
      |    n_chars AS n_bytes,
      |    n_chars AS declared_bytes
      |  FROM documents)
      |SELECT doc_id, width, height, n_bytes,
      |  width < 8 AS too_narrow,
      |  height < 2 AS too_flat,
      |  width > height * 16 AS bad_aspect,
      |  n_bytes < 100 AS too_few_bytes,
      |  n_bytes <> declared_bytes AS size_mismatch,
      |  NOT (width < 8 OR height < 2 OR width > height * 16
      |       OR n_bytes < 100 OR n_bytes <> declared_bytes) AS kept
      |FROM a""".stripMargin

  /** STUB: a real implementation would hand `payload` to an image/audio
    * codec here (???). This deterministic fake — a 16-bin byte histogram
    * normalized to an L2 feature vector — keeps the data flow, batch shape,
    * and output schema identical to a real decoder.
    */
  private[operators] def fakeDecode(payload: Array[Byte]): (Array[Float], Double) = {
    val hist = new Array[Float](16)
    var sum = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xFF
      hist(b >> 4) += 1f
      sum += b
      i += 1
    }
    var n2 = 0.0
    var j = 0
    while (j < 16) { n2 += hist(j).toDouble * hist(j); j += 1 }
    val norm = math.sqrt(n2)
    if (norm > 0) { j = 0; while (j < 16) { hist(j) = (hist(j) / norm).toFloat; j += 1 } }
    (hist, if (payload.length > 0) sum.toDouble / payload.length else 0.0)
  }

  /** REAL codec: decode an image payload (PNG/JPEG/BMP/GIF — whatever the
    * JVM's registered ImageIO readers accept) and derive the same feature
    * shape as [[fakeDecode]] over decoded LUMINANCE: a 16-bin histogram,
    * L2-normalized, plus the mean. Luma is the integer ITU-R BT.601
    * approximation `(77R + 150G + 29B) >> 8` — pure int arithmetic, so
    * the features are bit-stable across platforms (no float luma chain).
    * Returns None for undecodable bytes; callers surface that in-band
    * rather than throwing (a 100 TB crawl always carries corrupt
    * payloads, and one bad row must not kill a 10k-row task).
    */
  private[operators] def imageioDecode(
      payload: Array[Byte]): Option[(Array[Float], Double, Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Float](16)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (77 * ((rgb >> 16) & 0xFF) + 150 * ((rgb >> 8) & 0xFF) +
              29 * (rgb & 0xFF)) >> 8
            hist(lum >> 4) += 1f
            sum += lum
            x += 1
          }
          y += 1
        }
        var n2 = 0.0
        var j = 0
        while (j < 16) { n2 += hist(j).toDouble * hist(j); j += 1 }
        val norm = math.sqrt(n2)
        if (norm > 0) { j = 0; while (j < 16) { hist(j) = (hist(j) / norm).toFloat; j += 1 } }
        val n = w.toLong * h
        Some((hist, if (n > 0) sum.toDouble / n else 0.0, w, h))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Feature extraction through the REAL codec over a `(doc_id, payload)`
    * frame of actual image bytes — the production twin of
    * [[decodeFeatures]], same mapPartitions batch shape (ImageIO reader
    * registry is JVM-global; a stateful codec would init per partition
    * here). Undecodable payloads come back `decode_ok=false` with zeroed
    * features — never an exception.
    */
  def imageFeatures(images: DataFrame): Dataset[MMImageFeatures] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init would go here (ImageIO is stateless)
        rows.map { case (id, payload) =>
          imageioDecode(payload) match {
            case Some((feat, meanLum, w, h)) =>
              var fn = 0.0
              var i = 0
              while (i < feat.length) { fn += feat(i).toDouble * feat(i); i += 1 }
              MMImageFeatures(
                id, decode_ok = true, w, h, w.toLong * h,
                math.floor(meanLum * 10000 + 0.5).toLong,
                feat.toSeq,
                math.floor(math.sqrt(fn) * 10000 + 0.5).toLong)
            case None =>
              MMImageFeatures(id, decode_ok = false, 0, 0, 0L, 0L, Seq.empty, 0L)
          }
        }
      }
  }

  /** REAL audio codec: decode a WAV/AU/AIFF payload through the
    * JDK-public `javax.sound.sampled` stack to 16-bit PCM and derive the
    * classic clip features — RMS energy (e4-scaled against full-scale
    * 32768), zero-crossing count, and peak amplitude — over the first
    * channel. Integer/long arithmetic end-to-end except the final rms
    * sqrt, so features are bit-stable across platforms. Returns None for
    * undecodable bytes (same in-band failure rule as [[imageioDecode]]).
    */
  private[operators] def audioDecode(
      payload: Array[Byte]): Option[(Int, Int, Long, Long, Long, Int)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val src = in.getFormat
        val fmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels,
          2 * src.getChannels, src.getSampleRate, false)
        val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(fmt, in)
        try {
          val bytes = pcm.readAllBytes()
          val channels = fmt.getChannels
          val stride = 2 * channels // first channel of each frame
          var i = 0
          var n = 0L
          var sumSq = 0.0
          var zc = 0L
          var peak = 0
          var prevSign = 0
          while (i + 1 < bytes.length) {
            // little-endian signed 16-bit
            val s = ((bytes(i + 1).toInt << 8) | (bytes(i) & 0xFF)).toShort.toInt
            n += 1
            sumSq += s.toDouble * s
            val a = math.abs(s)
            if (a > peak) peak = a
            val sign = if (s > 0) 1 else if (s < 0) -1 else 0
            if (sign != 0) {
              if (prevSign != 0 && sign != prevSign) zc += 1
              prevSign = sign
            }
            i += stride
          }
          val rmsE4 =
            if (n == 0) 0L
            else math.floor(math.sqrt(sumSq / n) / 32768.0 * 10000 + 0.5).toLong
          Some((math.round(fmt.getSampleRate), channels, n, rmsE4, zc, peak))
        } finally pcm.close()
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Feature extraction through the REAL audio codec over a
    * `(doc_id, payload)` frame of actual audio bytes — the audio twin of
    * [[imageFeatures]]: same mapPartitions batch shape, same in-band
    * failure (`decode_ok=false`, zeroed features), map-only at any corpus
    * size.
    */
  def audioFeatures(clips: DataFrame): Dataset[MMAudioFeatures] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init would go here (AudioSystem is static)
        rows.map { case (id, payload) =>
          audioDecode(payload) match {
            case Some((rate, ch, n, rms, zc, peak)) =>
              MMAudioFeatures(id, decode_ok = true, rate, ch, n, rms, zc, peak)
            case None =>
              MMAudioFeatures(id, decode_ok = false, 0, 0, 0L, 0L, 0L, 0)
          }
        }
      }
  }

  private val FrameStride = 32

  /** Sum-mod-997 and count over every `stride`-th payload byte — shared by
    * frame sampling ([[decodeFeatures]]) and resampling ([[resizedAssets]])
    * so the checksum arithmetic the oracles replay has exactly one home.
    */
  private def strideSumCount(payload: Array[Byte], stride: Int): (Long, Int) = {
    var checksum = 0L
    var n = 0
    var off = 0
    while (off < payload.length) {
      checksum = (checksum + (payload(off) & 0xFF)) % 997
      n += 1
      off += stride
    }
    (checksum, n)
  }

  /** Resize: integer-factor downsample so the longest metadata dimension
    * fits `maxDim`. On the stub representation "resampling" keeps every
    * factor-th payload byte (a real impl hands the codec a target size
    * here); the metadata math (ceil-divided dimensions) and the byte
    * subsampling are both replayed exactly by the DuckDB oracle, which
    * can see the payload bytes through ord(substr(text)) — the corpus is
    * pure ASCII, so byte i == char i.
    */
  def resizedAssets(spark: SparkSession, dir: String, maxDim: Int = 16): DataFrame = {
    import spark.implicits._
    assets(spark, dir)
      .select(col("doc_id"), col("payload"), col("meta.width"), col("meta.height"))
      .as[MMAsset]
      .mapPartitions { rows =>
        rows.map { a =>
          val factor = math.max(1, (math.max(a.width, a.height) + maxDim - 1) / maxDim)
          val (checksum, kept) = strideSumCount(a.payload, factor)
          (a.doc_id,
            factor,
            (a.width + factor - 1) / factor,
            (a.height + factor - 1) / factor,
            kept.toLong,
            checksum)
        }
      }
      .toDF("doc_id", "factor", "width_rs", "height_rs", "n_bytes_rs", "checksum_rs")
  }

  /** Frame sampling over video-like assets: one output row per sampled
    * "frame" at a fixed 125-unit stride over the payload. The expansion is
    * `sequence` + `explode` — generated executor-side and lazily, so a
    * 100 TB corpus fans out in place with no driver loop and no shuffle
    * (map-only until a downstream agg). `sampled_char` reads the payload
    * back through the binary column (decode → substr), standing in for the
    * seek-and-decode a real codec would do at that frame offset.
    */
  def frameSamples(spark: SparkSession, dir: String, strideMs: Int = 125): DataFrame =
    assets(spark, dir)
      // an empty payload has no frames; without this guard Spark's `div`
      // (truncating) would turn max_off = -1 into a bogus frame 0 where
      // the oracle's floor division emits nothing
      .filter(octet_length(col("payload")) > 0)
      .select(
        col("doc_id"),
        decode(col("payload"), "UTF-8").as("text"),
        (octet_length(col("payload")) - 1).cast("bigint").as("max_off"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), expr(s"max_off div $strideMs"))).as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx"),
        (col("frame_idx") * strideMs).as("ts_ms"),
        expr(s"substr(text, cast(frame_idx * $strideMs + 1 AS int), 1)").as("sampled_char"),
        (col("frame_idx") % 8 === 0).as("keyframe"))

  /** Frame sampling through the REAL codec over `(doc_id, payload)` rows
    * whose payloads are [[FrameContainer]] bytes with PNG frames — the
    * production twin of [[frameSamples]] (which stays on the
    * oracle-replayable deterministic path): seek every `sampleEveryMs`
    * worth of frames via the container index, decode JUST those frames
    * with [[imageioDecode]], and emit one feature row per sampled frame.
    *
    * Same discipline as the image/audio twins: `mapPartitions` (decoder
    * init once per partition), map-only at any corpus size, in-band
    * failure — an undecodable FRAME yields its row with `decode_ok=false`;
    * an unparseable CONTAINER yields a single `frame_idx = -1` dead-letter
    * row so corrupt clips stay visible downstream. Work per clip is
    * O(frames sampled), not O(container bytes): the index seek never
    * touches unsampled payload ranges.
    */
  def videoFrameFeatures(
      videos: DataFrame, sampleEveryMs: Int = 125): Dataset[MMFrameFeatures] = {
    val spark = videos.sparkSession
    import spark.implicits._
    videos.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init would go here (ImageIO is stateless)
        rows.flatMap { case (id, payload) =>
          FrameContainer.header(payload) match {
            case None =>
              Iterator.single(MMFrameFeatures(
                id, frame_idx = -1, ts_ms = 0L, keyframe = false,
                decode_ok = false, width = 0, height = 0, mean_lum_e4 = 0L))
            case Some((frameMs, n)) =>
              val stride = math.max(1, sampleEveryMs / frameMs)
              Iterator.range(0, n, stride).map { i =>
                val decoded = FrameContainer.frameAt(payload, i)
                  .flatMap(imageioDecode)
                decoded match {
                  case Some((_, meanLum, w, h)) =>
                    MMFrameFeatures(
                      id, i, i.toLong * frameMs, keyframe = i % 8 == 0,
                      decode_ok = true, w, h,
                      math.floor(meanLum * 10000 + 0.5).toLong)
                  case None =>
                    MMFrameFeatures(
                      id, i, i.toLong * frameMs, keyframe = i % 8 == 0,
                      decode_ok = false, width = 0, height = 0, mean_lum_e4 = 0L)
                }
              }
          }
        }
      }
  }

  private val ContainerFrameBytes = 32
  private val ContainerFrameMs = 40

  /** m6: the ORACLE-GATED container round-trip — builds a real
    * [[FrameContainer]] per document executor-side (UTF-8 payload split
    * into [[ContainerFrameBytes]]-byte frames), then samples it through
    * the same header/seek machinery [[videoFrameFeatures]] uses, with
    * deterministic per-frame stats instead of the codec so DuckDB can
    * replay every byte: frame length, byte-sum mod 997 (the shared
    * checksum convention), and the first char. The hash gate therefore
    * covers the container's encode → header → O(1) `frameAt` index
    * arithmetic end-to-end — [[videoFrameFeatures]] swaps only the
    * per-frame stat for the real PNG decode on the identical seek path.
    * Map-only at any corpus size (one container per row, no shuffle).
    */
  def containerFrameStats(
      spark: SparkSession, dir: String, sampleEveryMs: Int = 125): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val frames = bytes.grouped(ContainerFrameBytes).toSeq
          if (frames.isEmpty) Iterator.empty
          else {
            val container = FrameContainer.encode(frames, ContainerFrameMs)
            val (frameMs, n) = FrameContainer.header(container).get
            val stride = math.max(1, sampleEveryMs / frameMs)
            Iterator.range(0, n, stride).map { i =>
              val f = FrameContainer.frameAt(container, i).get
              var sum = 0L
              var j = 0
              while (j < f.length) { sum = (sum + (f(j) & 0xFF)) % 997; j += 1 }
              (id, i, i.toLong * frameMs, f.length.toLong, sum,
                new String(f, 0, 1, "UTF-8"))
            }
          }
        }
      }.toDF("doc_id", "frame_idx", "ts_ms", "n_bytes", "checksum", "first_char")
  }

  /** DuckDB twin of [[containerFrameStats]] at the graded defaults: the
    * corpus is pure ASCII, so byte i of the payload is char i of the text
    * and the container frames replay as fixed-width substrings; the
    * sampled indices are `range(0, ceil(len/32), 3)` (125 ms at 40 ms per
    * frame). Sums are cast to BIGINT before output (DuckDB widens sum()
    * to int128 — the round-10 lesson).
    */
  def containerFrameStatsOracleSql: String = {
    val fb = ContainerFrameBytes
    val ms = ContainerFrameMs
    val stride = math.max(1, 125 / ms)
    s"""WITH f AS (
       |  SELECT doc_id, cast(k AS int) AS frame_idx,
       |    substr(text, k * $fb + 1, $fb) AS fr
       |  FROM (SELECT doc_id, text FROM documents WHERE len(text) > 0) d,
       |       LATERAL (SELECT unnest(range(0,
       |         cast(ceil(len(text) / $fb.0) AS int), $stride)) AS k) r),
       |chars AS (
       |  SELECT doc_id, frame_idx, ord(substr(fr, j, 1)) AS b
       |  FROM f, LATERAL (SELECT unnest(range(1, len(fr) + 1)) AS j) rr),
       |sums AS (
       |  SELECT doc_id, frame_idx, cast(sum(b) % 997 AS bigint) AS checksum
       |  FROM chars GROUP BY doc_id, frame_idx)
       |SELECT f.doc_id, f.frame_idx,
       |  cast(f.frame_idx AS bigint) * $ms AS ts_ms,
       |  cast(len(f.fr) AS bigint) AS n_bytes,
       |  s.checksum,
       |  substr(f.fr, 1, 1) AS first_char
       |FROM f JOIN sums s ON s.doc_id = f.doc_id AND s.frame_idx = f.frame_idx""".stripMargin
  }

  /** Feature extraction over asset partitions. `mapPartitions` so decoder
    * state (here: nothing; in production: the codec context) initializes
    * once per partition and rows stream through without per-row setup.
    */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MMFeatures] = {
    import spark.implicits._
    assets(spark, dir)
      .select(col("doc_id"), col("payload"), col("meta.width"), col("meta.height"))
      .as[MMAsset]
      .mapPartitions { rows =>
        // per-partition decoder init would go here
        rows.map { a =>
          val (feat, meanByte) = fakeDecode(a.payload)
          var fn = 0.0
          var i = 0
          while (i < feat.length) { fn += feat(i).toDouble * feat(i); i += 1 }
          // frame sampling: every FrameStride-th byte starts a "frame"
          val (checksum, nFrames) = strideSumCount(a.payload, FrameStride)
          // floats reported on the Exact scaled-integer convention
          // (floor(x·10^4 + 0.5)) so the DuckDB oracle replays them
          MMFeatures(
            a.doc_id,
            a.payload.length.toLong,
            math.floor(meanByte * 10000 + 0.5).toLong,
            feat.toSeq,
            math.floor(math.sqrt(fn) * 10000 + 0.5).toLong,
            nFrames,
            checksum)
        }
      }
  }

  /** Multimodal ANN: brute-force cosine top-k over the DECODED feature
    * vectors — the composition a multimodal corpus pipeline runs (decode →
    * embed → retrieve), sharing [[Similarity.rankTopK]]'s bounded-heap
    * tail with the v2 path.
    *
    * Rank-key discipline: feature elements are quantized to 2^20
    * fixed-point longs (the PqAnn lesson — e6-of-double rank keys
    * straddle rounding edges because double SUMS are accumulation-order-
    * dependent). Dot and norm² are then exact integer sums — order-free
    * in any engine — and the only float steps are a fixed scalar chain
    * (cast, sqrt, multiply, divide) over identical exact inputs, which
    * IEEE evaluates identically everywhere.
    */
  def featureTopK(
      spark: SparkSession, dir: String,
      topK: Int = 5, numQueries: Int = 8): DataFrame = {
    val feats = decodeFeatures(spark, dir).toDF()
      .select(col("doc_id"), col("feat").cast("array<float>").as("feat"))
    val queries = feats.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("qid"), col("feat").as("qf"))
    val cos = graft.functions.VectorFunctions.cosFxF(col("qf"), col("feat"))
    val scored = feats.crossJoin(broadcast(queries))
      .select(col("qid"), Exact.e(cos, 6).as("s6"), col("doc_id"), Exact.e(cos, 4).as("c4"))
    Similarity.rankTopK(scored, topK, "doc_id", "cosine_e4")
  }

  /** DuckDB oracle for [[featureTopK]] at the graded defaults: the m2
    * feature derivation (nibble histogram, L2-normalized at float
    * precision) quantized to the same fixed-point longs, integer dot and
    * norm² (exact, order-free), the identical scalar cosine chain, and
    * the v2 ranking discipline. The pair universe is built from the
    * documents table itself, so zero-overlap and feature-less documents
    * score cosine 0 exactly as the engine's cross join does.
    */
  def featureTopKOracleSql(topK: Int = 5, numQueries: Int = 8): String =
    s"""WITH chars AS (
       |  SELECT d.doc_id, i, ord(substr(d.text, i, 1)) AS b
       |  FROM documents d,
       |       LATERAL (SELECT unnest(range(1, len(d.text) + 1)) AS i) r),
       |hist AS (
       |  SELECT doc_id, b // 16 AS bin, cast(count(*) AS float) AS cnt
       |  FROM chars GROUP BY doc_id, b // 16),
       |nrm AS (
       |  SELECT doc_id, sqrt(sum(cast(cnt AS double) * cast(cnt AS double))) AS nrm
       |  FROM hist GROUP BY doc_id),
       |fx AS (
       |  SELECT h.doc_id, h.bin,
       |    cast(floor(cast(cast(cast(h.cnt AS double) / n.nrm AS float) AS double)
       |      * ${PqAnn.FxScale}.0 + 0.5) AS bigint) AS q
       |  FROM hist h JOIN nrm n ON h.doc_id = n.doc_id),
       |n2 AS (SELECT doc_id, cast(sum(q * q) AS bigint) AS n2 FROM fx GROUP BY doc_id),
       |dots AS (
       |  SELECT a.doc_id AS qid, b.doc_id AS did, cast(sum(a.q * b.q) AS bigint) AS d
       |  FROM fx a JOIN fx b ON b.bin = a.bin
       |  WHERE a.doc_id < $numQueries
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT q.doc_id AS qid, c.doc_id AS did
       |  FROM documents q CROSS JOIN documents c
       |  WHERE q.doc_id < $numQueries),
       |scored AS (
       |  SELECT p.qid, p.did,
       |    CASE WHEN coalesce(nq.n2, 0) = 0 OR coalesce(nc.n2, 0) = 0 THEN 0.0
       |         ELSE cast(coalesce(dt.d, 0) AS double)
       |           / (sqrt(cast(nq.n2 AS double)) * sqrt(cast(nc.n2 AS double))) END AS cos
       |  FROM pairs p
       |  LEFT JOIN dots dt ON dt.qid = p.qid AND dt.did = p.did
       |  LEFT JOIN n2 nq ON nq.doc_id = p.qid
       |  LEFT JOIN n2 nc ON nc.doc_id = p.did)
       |SELECT qid, did AS doc_id,
       |  cast(floor(cos * 10000.0 + 0.5) AS bigint) AS cosine_e4,
       |  cast(rn AS int) AS rn
       |FROM (
       |  SELECT qid, did, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cast(floor(cos * 1000000.0 + 0.5) AS bigint) DESC, did) AS rn
       |  FROM scored)
       |WHERE rn <= $topK""".stripMargin

  // --------------------------------------------------------------------
  // m7: perceptual fingerprint + media dedup — the image/audio analogue
  // of d1 exact dedup. Every production multimodal pipeline dedups media
  // by a PERCEPTUAL hash (aHash/pHash for images, Chromaprint-style
  // segment fingerprints for audio): near-identical payloads (a re-
  // encode, a one-pixel tweak) must collapse to the same key even though
  // their bytes differ. The fingerprint here is the 1-D average-hash: the
  // payload is cut into 64 equal segments, each segment's mean is
  // thresholded against the global mean (integer cross-multiply —
  // sum_seg·n > sum_all·n_seg — so no division ever happens), giving a
  // 64-bit key emitted as 16 hex digits. Over a 2-D image this is
  // exactly aHash row-major; over audio samples it is the coarse energy
  // contour. Like m2, the graded query runs the byte-payload stand-in
  // (DuckDB replays it via ord(substr(..)) — the whole chain is
  // hash-checked); the REAL-codec twin (same fingerprint over ImageIO-
  // decoded luminance) is pinned by the fixture integration test.
  //
  // Scale shape: map-side char explode (linear), a (doc, 64)-bounded
  // aggregation with map-side combine, a 64-row-per-doc window, and the
  // d1-style hash groupBy — no pairs, no quadratic term anywhere.
  // --------------------------------------------------------------------

  /** Segments in the fingerprint (= hash bits). */
  val PhashSegments = 64

  /** Planted copies for the graded m7 path (the corpus has no duplicate
    * media — the d1/t16 vacuity rule): docs with id < [[PhashExactCopies]]
    * gain a byte-identical copy (must always collapse), ids in
    * [PhashExactCopies, PhashPerturbedCopies) a ONE-BYTE perturbed copy
    * (first char replaced) — the perceptual-robustness case: a single
    * byte moves one segment's mean by at most 1/len, so the copy keeps
    * the fingerprint unless that segment already straddled the global
    * mean. Offsets keep planted ids disjoint from real ones.
    */
  val PhashExactCopies = 40L
  val PhashPerturbedCopies = 80L
  val PhashCopyOffset = 2000000L

  private def phashDocs(spark: SparkSession, dir: String, plant: Boolean): DataFrame = {
    val d = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    if (!plant) d
    // single-scan planting (the maybePartialCopies trick)
    else d.select(explode(expr(
        s"""concat(
           |  array(struct(doc_id, text)),
           |  CASE WHEN doc_id < ${PhashExactCopies}L
           |       THEN array(struct(doc_id + ${PhashCopyOffset}L AS doc_id, text))
           |       WHEN doc_id < ${PhashPerturbedCopies}L
           |       THEN array(struct(doc_id + ${PhashCopyOffset}L AS doc_id,
           |                         concat('z', substr(text, 2, length(text))) AS text))
           |       ELSE array() END)""".stripMargin)).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  /** (doc_id, phash_hex) over any (doc_id, text) payload frame. */
  private[graft] def phashOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val cells = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        posexplode(split(col("text"), "")))
      .select(col("doc_id"), col("n"),
        expr("CAST((CAST(pos AS BIGINT) * 64) DIV n AS INT)").as("j"),
        ascii(col("col")).cast("long").as("b"))
      .groupBy(col("doc_id"), col("j"))
      .agg(first(col("n")).as("n"), sum(col("b")).as("sj"),
        count(lit(1)).as("nj"))
    cells
      // 64-row bounded partitions: the window is cheaper than a join back
      .withColumn("s_all", sum(col("sj")).over(w))
      .withColumn("bit",
        when(col("sj") * col("n") > col("s_all") * col("nj"), lit(1L))
          .otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("j") >= 32,
          expr("shiftleft(CAST(bit AS BIGINT), CAST(j - 32 AS INT))"))
          .otherwise(lit(0L))).as("hi"),
        sum(when(col("j") < 32,
          expr("shiftleft(CAST(bit AS BIGINT), CAST(j AS INT))"))
          .otherwise(lit(0L))).as("lo"))
      .select(col("doc_id"),
        format_string("%08x%08x", col("hi"), col("lo")).as("phash_hex"))
  }

  /** Scalar JVM twin of [[phashOf]] over a raw byte sequence — the seam
    * the real-codec path and the spec's relational≡scalar cross-check
    * share. Bytes are widened unsigned, mirroring `ascii` on the ASCII
    * stand-in payload.
    */
  private[graft] def phashBytes(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n == 0) return "0000000000000000"
    val sj = new Array[Long](PhashSegments)
    val nj = new Array[Long](PhashSegments)
    var sAll = 0L
    var i = 0
    while (i < n) {
      val j = ((i.toLong * PhashSegments) / n).toInt
      val b = bytes(i) & 0xFF
      sj(j) += b; nj(j) += 1; sAll += b
      i += 1
    }
    var hi = 0L; var lo = 0L
    var j = 0
    while (j < PhashSegments) {
      if (sj(j) * n > sAll * nj(j)) {
        if (j >= 32) hi |= 1L << (j - 32) else lo |= 1L << j
      }
      j += 1
    }
    f"$hi%08x$lo%08x"
  }

  /** Decoded luminance plane (row-major, the BT.601 integer rule shared
    * with [[imageioDecode]]) — feeds [[phashBytes]] for real-image
    * fingerprints. None for undecodable bytes.
    */
  private[graft] def lumaBytes(payload: Array[Byte]): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val out = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(y * w + x) = ((77 * ((rgb >> 16) & 0xFF) +
              150 * ((rgb >> 8) & 0xFF) + 29 * (rgb & 0xFF)) >> 8).toByte
            x += 1
          }
          y += 1
        }
        Some(out)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** m7: perceptual-duplicate groups over the planted corpus — one row
    * per fingerprint shared by >1 payload: (phash_hex, n_docs,
    * keeper_doc_id). Byte-identical plants always collapse; the
    * one-byte-perturbed plants collapse whenever no thresholded segment
    * flipped (the robustness the spec quantifies).
    */
  def phashDupGroups(spark: SparkSession, dir: String): DataFrame =
    phashOf(phashDocs(spark, dir, plant = true))
      .groupBy(col("phash_hex"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc_id"))
      .filter(col("n_docs") > 1)

  def phashDupGroupsOracleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PhashCopyOffset AS doc_id, text
       |  FROM documents WHERE doc_id < $PhashExactCopies
       |  UNION ALL
       |  SELECT doc_id + $PhashCopyOffset AS doc_id,
       |    'z' || substr(text, 2) AS text
       |  FROM documents
       |  WHERE doc_id >= $PhashExactCopies AND doc_id < $PhashPerturbedCopies),
       |chars AS (
       |  SELECT d.doc_id, len(d.text) AS n, ((i - 1) * 64) // len(d.text) AS j,
       |    ord(substr(d.text, i, 1)) AS b
       |  FROM (SELECT * FROM docs WHERE len(text) > 0) d,
       |       LATERAL (SELECT unnest(range(1, len(d.text) + 1)) AS i) r),
       |cells AS (
       |  SELECT doc_id, j, any_value(n) AS n, sum(b) AS sj, count(*) AS nj
       |  FROM chars GROUP BY doc_id, j),
       |tot AS (SELECT doc_id, sum(sj) AS s_all FROM cells GROUP BY doc_id),
       |bits AS (
       |  SELECT c.doc_id, c.j,
       |    CASE WHEN c.sj * c.n > t.s_all * c.nj THEN 1 ELSE 0 END AS bit
       |  FROM cells c JOIN tot t ON t.doc_id = c.doc_id),
       |halves AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN j >= 32
       |             THEN (CAST(bit AS BIGINT) << CAST(j - 32 AS INT)) ELSE 0 END)
       |      AS hi,
       |    sum(CASE WHEN j < 32
       |             THEN (CAST(bit AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id),
       |ph AS (
       |  SELECT doc_id,
       |    printf('%08x%08x', cast(hi AS bigint), cast(lo AS bigint)) AS phash_hex
       |  FROM halves)
       |SELECT phash_hex, cast(count(*) AS bigint) AS n_docs,
       |  min(doc_id) AS keeper_doc_id
       |FROM ph GROUP BY phash_hex HAVING count(*) > 1""".stripMargin
}
