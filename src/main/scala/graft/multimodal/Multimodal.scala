package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A typed media row: opaque binary payload + typed metadata. The shape a
  * 100 TB multimodal training-data lake uses — media as `binary` columns
  * co-partitioned with their features, never driver-side. */
case class MediaRecord(
    media_id: Long,
    kind: String, // image | audio | video
    bytes: Array[Byte],
    width: Int,
    height: Int,
    n_frames: Int)

case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Long,
    checksum: Long,
    decoded_format: String, // "png" | "jpeg" | "wav" | "y4m" | "raw"
    // format-primary dimensions: image (width, height); audio
    // (sample_rate, n_samples); 0 when the payload parses as neither
    decoded_w: Int,
    decoded_h: Int,
    channels: Int,
    features: Array[Float])

/** Multimodal-column operators: decode / feature-extract / frame-sample
  * over opaque binary media columns.
  *
  * The decode step is REAL for ALL THREE kinds: image rows carry valid
  * PNG payloads, audio rows valid PCM WAV payloads, video rows valid
  * mono Y4M streams, and [[extractFeatures]] parses their actual bytes
  * (PNG IHDR / JPEG SOF via [[ImageCodec]]; RIFF/WAVE chunks via
  * [[AudioCodec]]; the YUV4MPEG2 header + frame walk via [[VideoCodec]]
  * — pure JVM, deterministic) into decoded dimensions/rates and channel
  * counts — the routing metadata a real media pipeline extracts first.
  * The MODEL EMBEDDING over the decoded tensors is [[embed]] — a
  * deterministic Johnson–Lindenstrauss sign projection of the decoded
  * pixel plane / waveform / luma frames (no learned weights ship in
  * this container; the fixed projection stands in as the linear model,
  * and byte-different payloads with identical decoded tensors embed
  * identically — spec'd). Everything around it — the binary column
  * schema, the
  * Dataset[MediaRecord] encoder, the per-partition batched iteration
  * (the Scala analogue of `mapInPandas`: one iterator per partition,
  * amortizing model/codec init across the partition's rows), the
  * frame-sampling explode — is real Spark plumbing and tested.
  *
  * Scale posture: media bytes never leave executors; feature extraction is
  * a narrow map (no shuffle); frame sampling is a Generator-style explode
  * whose output is bounded by n_frames/step per row.
  */
object Multimodal {

  /** Deterministic media table derived from `documents` (kind
    * round-robins image/audio/video, dims from n_chars) — a stand-in
    * for a real (id, bytes, metadata) media lake. IMAGE rows carry a
    * real PNG payload ([[ImageCodec.pngBytes]]) whose encoded
    * dimensions equal the row's metadata dims, AUDIO rows a real PCM
    * WAV ([[AudioCodec.wavBytes]]) at a metadata-derived sample rate,
    * and VIDEO rows a real mono Y4M stream ([[VideoCodec.y4mBytes]])
    * whose header dims/frame count equal the row's metadata — every
    * kind's decode path exercises genuine container parsing. Video
    * dims are CAPPED (≤78×58, ≤49 frames) so the frame planes stay
    * fixture-sized; frame 0 of every video is a constant TITLE CARD
    * (the cross-video duplicate class m4 exists to find), later frames
    * drift minimally within 16-frame scenes and jump across them (the
    * structure m7's cut detector keys on). */
  /** A silver: building this table ENCODES a PNG/WAV payload per row
    * (deflate and all), and six m-keys consume it — without the memo
    * each key re-encodes the whole media lake. At 100 TB there is no
    * encode step at all (bytes come from the real bronze media table on
    * storage); the memoized leaf stands in for that one read. */
  def mediaFromDocs(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.model.Silver.memoize(spark, "mediaFromDocs", dir) {
      mediaFromDocsUncached(spark, dir).toDF()
    }.as[MediaRecord]
  }

  private def mediaFromDocsUncached(spark: SparkSession,
                                    dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.model.Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        element_at(lit(Array("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("bytes"),
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("n_chars") % 480 + 1).cast("int").as("height"),
        (col("n_chars") % 120 + 1).cast("int").as("n_frames"))
      .as[MediaRecord]
      .map { r =>
        r.kind match {
          case "image" => r.copy(bytes = ImageCodec.pngBytesOf(
            r.width, r.height, patternOf((r.media_id % 251).toInt)))
          case "audio" => r.copy(bytes = AudioCodec.wavBytes(
            8000 + (r.media_id % 8).toInt * 1000,
            math.max(1, r.width * r.height), r.media_id))
          case _ =>
            // video: a REAL mono Y4M stream at capped, even dims; the
            // metadata columns are rewritten to the encoded truth
            val w = ((r.width % 32) + 8) * 2 // 16..78, even
            val h = ((r.height % 24) + 6) * 2 // 12..58, even
            val nf = (r.n_frames % 48) + 2 // 2..49 (≥ 3 sampled scenes)
            val seed = (r.media_id % 251).toInt
            val frames = (0 until nf).map(f => videoFramePlane(w, h, f, seed))
            r.copy(bytes = VideoCodec.y4mBytes(w, h, 25, 1, frames),
              width = w, height = h, n_frames = nf)
        }
      }
  }

  /** Deterministic luma plane of video frame `f`: frame 0 is a constant
    * mid-gray TITLE CARD (identical across all same-dims videos — the
    * cross-video duplicate m4 is built to find); later frames are a
    * seeded gradient whose SLOPE changes every 16 frames (a scene jump
    * — whole-image restructure, large luma-grid distance) while INSIDE
    * a scene only a bounded timestamp "ticker" pixel advances (distance
    * ≤ 96 milli-levels in one block — far under the cut threshold), so
    * consecutive sampled frames inside a scene register small nonzero
    * motion and scene boundaries register structural change. */
  def videoFramePlane(w: Int, h: Int, f: Int, seed: Int): Array[Byte] = {
    val px = new Array[Byte](w * h)
    if (f == 0) {
      java.util.Arrays.fill(px, 128.toByte)
    } else {
      val scene = f / 16
      val a = 3 + 2 * scene
      val b = 5 + 3 * scene
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(y * w + x) = ((x * a + y * b + seed) % 251).toByte
          x += 1
        }
        y += 1
      }
      px(0) = ((f * 3) % 97 + 100).toByte // bounded in-scene ticker
    }
    px
  }

  /** Deterministic per-image pixel pattern (gradient + seed, wrapped
    * mod 251): content-derived, non-degenerate block statistics so
    * pixel-level operators (m8) have real structure to hash. */
  def patternOf(seed: Int): (Int, Int) => Byte =
    (x, y) => ((x * 7 + y * 13 + seed) % 251).toByte

  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** MODEL EMBEDDING over the DECODED tensor — a deterministic
    * Johnson–Lindenstrauss sign projection standing in for learned
    * weights (no model ships in this container; the fixed ±1
    * projection IS a linear model, applied to genuinely decoded
    * samples, so the embedding inherits the JL distance-preservation
    * guarantee over the tensor space).
    *
    * The tensor is the REAL decode, routed by container: the inflated
    * + unfiltered PNG pixel plane ([[ImageCodec.pngPixels]]), the WAV
    * data-chunk waveform ([[AudioCodec.pcm8]]), or the streamed Y4M
    * luma planes ([[VideoCodec.lumaFrames]]); a payload that decodes
    * as none of those embeds its raw bytes (the honest fallback — a
    * real pipeline quarantines them). Two byte-DIFFERENT payloads with
    * identical pixels (e.g. the same image deflated at different
    * levels) therefore embed IDENTICALLY — the property that proves
    * the embedding derives from the decode, not the container bytes
    * (spec'd in MultimodalSpec).
    *
    * Projection signs come from a splitmix64 stream keyed only by the
    * global tensor element index (bit d of mix64(i) is dim d's sign),
    * so the matrix is fixed across all media — embeddings are
    * comparable — and the whole function is a pure per-row map:
    * bit-reproducible under any partitioning, no state, no shuffle.
    * Components are centered (sample − 128) and scaled by 1/(√n·128)
    * so magnitudes are tensor-length-invariant. */
  def embed(bytes: Array[Byte], dim: Int = 8): Array[Float] = {
    require(dim >= 1 && dim <= 64, "embed dim must be in [1, 64]")
    val acc = new Array[Long](dim)
    var n = 0L
    def fold(plane: Array[Byte]): Unit = {
      var i = 0
      while (i < plane.length) {
        val c = (plane(i) & 0xff) - 128
        val h = mix64(n)
        var d = 0
        while (d < dim) {
          if (((h >>> d) & 1L) == 1L) acc(d) += c else acc(d) -= c
          d += 1
        }
        n += 1
        i += 1
      }
    }
    val decoded = ImageCodec.pngPixels(bytes) match {
      case Some((_, _, px)) => fold(px); true
      case None => AudioCodec.pcm8(bytes) match {
        case Some(pcm) => fold(pcm); true
        case None =>
          val frames = VideoCodec.lumaFrames(bytes)
          if (frames.hasNext) { frames.foreach(f => fold(f._2)); true }
          else false
      }
    }
    if (!decoded) fold(bytes)
    if (n == 0L) new Array[Float](dim)
    else {
      val scale = 1.0 / (math.sqrt(n.toDouble) * 128.0)
      acc.map(a => (a * scale).toFloat)
    }
  }

  /** Feature extraction as a per-partition batched map — the
    * `mapInPandas` shape: the lambda sees the partition ITERATOR, so
    * per-partition setup (codec contexts, model weights) happens once per
    * partition, not once per row. */
  /** One full pass over the payload — the content-address key m2's
    * dedup-before-decode path shares with [[extractFeatures]]. */
  def payloadChecksum(bytes: Array[Byte]): Long = {
    var c = 0L; var i = 0
    while (i < bytes.length) { c = c * 31 + (bytes(i) & 0xff); i += 1 }
    c
  }

  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init goes here (a real model session would load
      // weights once per partition); header decode + the JL embedding
      // below are real byte parsing per row.
      rows.map { r =>
        val checksum = payloadChecksum(r.bytes)
        val (fmt, dw, dh, ch) = ImageCodec.parseImageHeader(r.bytes) match {
          case Some(h) => (h.format, h.width, h.height, h.channels)
          case None => AudioCodec.parseWav(r.bytes) match {
            case Some(w) => ("wav", w.sampleRate, w.nSamples.toInt, w.channels)
            case None => VideoCodec.parseY4m(r.bytes) match {
              case Some(v) => ("y4m", v.width, v.height, 1)
              case None => ("raw", 0, 0, 0)
            }
          }
        }
        MediaFeatures(r.media_id, r.kind, r.bytes.length.toLong, checksum,
          fmt, dw, dh, ch, embed(r.bytes))
      }
    }
  }

  /** Nearest-neighbor resample of a row-major plane — the pixel leg
    * shared by the image and per-frame video resize paths. */
  private def resamplePlane(px: Array[Byte], sw: Int, sh: Int,
                            tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th)
    var y = 0
    while (y < th) {
      val sy = y * sh / th
      var x = 0
      while (x < tw) {
        out(y * tw + x) = px(sy * sw + x * sw / tw)
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL resize / downsample — full decode → resample → re-encode
    * through the same pure-JVM codecs the parse path uses, per kind:
    * image rows inflate to the pixel plane, nearest-neighbor resample
    * to the aspect-preserving target, and re-encode as PNG
    * ([[ImageCodec.pngBytesOf]] — real CRCs, deterministic deflate);
    * video rows resample every luma frame and re-encode the Y4M
    * stream (frame count preserved — resize is spatial); audio rows
    * "resize" by DECIMATING the waveform by the same area ratio
    * (stride sampling) and re-encoding the WAV container. Payloads
    * that don't decode (none in the fixture lake) pass through
    * untouched with clamped metadata — a real pipeline quarantines
    * them rather than guessing. The schema contract downstream
    * operators depend on is unchanged: same columns, mutated
    * bytes + dims; a narrow per-row map, no shuffle, bytes never
    * leave executors. */
  def resizeMedia(media: Dataset[MediaRecord], maxDim: Int = 64): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.map { r =>
      val scaleNum = math.min(maxDim, math.max(r.width, r.height))
      val scaleDen = math.max(r.width, r.height)
      val w = math.max(1, r.width * scaleNum / scaleDen)
      val h = math.max(1, r.height * scaleNum / scaleDen)
      ImageCodec.pngPixels(r.bytes) match {
        case Some((sw, sh, px)) =>
          val out = resamplePlane(px, sw, sh, w, h)
          r.copy(bytes = ImageCodec.pngBytesOf(w, h,
            (x, y) => out(y * w + x)), width = w, height = h)
        case None => AudioCodec.parseWav(r.bytes) match {
          case Some(hdr) if AudioCodec.pcm8(r.bytes).isDefined =>
            val pcm = AudioCodec.pcm8(r.bytes).get
            val target = math.max(1L,
              pcm.length.toLong * (w.toLong * h) / (r.width.toLong * r.height))
            val n = math.min(pcm.length.toLong, target).toInt
            val sampled = new Array[Byte](n)
            var i = 0
            while (i < n) {
              sampled(i) = pcm((i.toLong * pcm.length / n).toInt)
              i += 1
            }
            r.copy(bytes = AudioCodec.wavBytesOf(hdr.sampleRate, sampled),
              width = w, height = h)
          case _ => VideoCodec.parseY4m(r.bytes) match {
            case Some(hd) =>
              val frames = VideoCodec.lumaFrames(r.bytes).map { case (_, f) =>
                resamplePlane(f, hd.width, hd.height, w, h)
              }.toSeq
              r.copy(bytes = VideoCodec.y4mBytes(w, h, hd.fpsNum, hd.fpsDen,
                frames), width = w, height = h)
            case None => r.copy(width = w, height = h)
          }
        }
      }
    }
  }

  /** m2: the driver-visible multimodal relation — decoded-tensor
    * features per media row joined to the frame-sample explode, ordered for a
    * deterministic dump. Rows-only at the correctness gate: binary
    * decode has no DuckDB analogue (same contract as s6/d5). The join is
    * a same-key equi-join both sides of which derive from one scan of
    * `documents`; at scale the feature side is the narrow one and
    * broadcasts or co-partitions on media_id. */
  /** Per-media decoded feature leaf, CONTENT-ADDRESSED (the m8
    * discipline) and leaf-memoized: features are a pure function of
    * the payload, so byte-identical media share one decode — one cheap
    * SHA-256 pass per row builds the address, the full header-parse +
    * feature walk runs only on the min-id representative per distinct
    * payload, and rows recover their features by an address join. The
    * address is CRYPTOGRAPHIC (the contentReps discipline from text
    * dedup): the weak 31-polynomial [[payloadChecksum]] remains a
    * FEATURE column but no longer keys the dedup, so two distinct
    * payloads colliding on (checksum, length) can no longer silently
    * inherit a foreign representative's decoded header/features.
    * A duplicated lake (the exact-dup class m4/d1 exist to find)
    * costs one decode per distinct payload instead of one per copy;
    * the Silver makes repeated consumers (and Bench's one-shot sf1.0
    * timings) pay it once per session. */
  private[graft] def mediaFeatureLeaf(spark: SparkSession,
                                      dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "mediaFeatures", dir) {
      import spark.implicits._
      val media = mediaFromDocs(spark, dir)
      val ids = media.toDF()
        .select(col("media_id"), sha2(col("bytes"), 256).as("addr"))
      val repIds = ids.groupBy(col("addr"))
        .agg(min(col("media_id")).as("media_id"))
      val reps = media.join(broadcast(repIds.select(col("media_id"))),
        Seq("media_id"), "left_semi").as[MediaRecord]
      val repAddr = reps.toDF()
        .select(col("media_id"), sha2(col("bytes"), 256).as("addr"))
      val repFeats = extractFeatures(reps).toDF()
        .join(broadcast(repAddr), Seq("media_id"))
        .select(col("addr"), col("n_bytes"), col("checksum"),
          col("decoded_format"), col("decoded_w"), col("decoded_h"),
          col("channels"), element_at(col("features"), 1).as("f0"))
      ids.join(broadcast(repFeats), Seq("addr"))
        .select(col("media_id"), col("n_bytes"), col("checksum"),
          col("decoded_format"), col("decoded_w"), col("decoded_h"),
          col("channels"), col("f0"))
    }

  /** The columns of [[mediaFromDocs]] that frame sampling reads, without
    * the encoded payloads: a silver of about 56 bytes a row, where the
    * media leaf holds every blob. m2 samples from it, so its two union
    * branches scan metadata, not media. */
  private def mediaFrameMeta(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "mediaFrameMeta", dir) {
      mediaFromDocs(spark, dir).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"), col("n_frames"))
    }

  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    framesOf(mediaFrameMeta(spark, dir), step = 10)
      .join(mediaFeatureLeaf(spark, dir), Seq("media_id"))
      .orderBy("media_id", "frame_idx")

  /** Frame sampling for video rows: every `step`-th frame index becomes a
    * row (the UDTF/Generator shape — built-in explode over a sequence, no
    * custom Generator needed). Non-video rows pass through with frame 0. */
  def frameSample(media: Dataset[MediaRecord], step: Int = 10): DataFrame =
    framesOf(media.toDF(), step)

  /** [[frameSample]] over any frame with its `media_id`, `kind`, `width`,
    * `height` and `n_frames` columns. */
  private def framesOf(df: DataFrame, step: Int): DataFrame = {
    val video = df.filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(step))))
    val other = df.filter(col("kind") =!= "video").withColumn("frame_idx", lit(0))
    video.unionByName(other)
      .select(col("media_id"), col("kind"), col("frame_idx"),
        col("width"), col("height"))
  }

  /** m6: AUDIO WINDOW FEATURES over the REAL decoded waveform — the
    * segmentation primitives a speech pipeline gates on before paying
    * for transcription/embedding (VAD, silence trimming, clipping
    * detection): per fixed window of the PCM stream, energy = Σ(s−128)²
    * (exact integer — no float RMS, engine-portable), strict
    * zero-crossing count (sᵢ₋₁·sᵢ < 0 on centered samples), and peak
    * amplitude. Samples come from [[AudioCodec.pcm8]] — a genuine RIFF
    * chunk walk to the data chunk, not a stub — so the features derive
    * from real byte parsing end-to-end (spec recomputes them from a
    * javax.sound decode of the same payload).
    *
    * Scale posture: a narrow flatMap — bytes never leave their
    * executor, no shuffle; output is bounded by n_samples/window rows
    * per media row. Rows-only at the correctness gate: DuckDB cannot
    * parse WAV (same contract as m2/m4); the spec is the exactness
    * anchor. */
  def audioWindows(spark: SparkSession, dir: String,
                   windowSamples: Int = 1024): DataFrame = {
    // decode-once silver (keyed by window size): m6 IS this relation and
    // m9's segmentation re-derives from it — without memoization each
    // consumer re-runs the full RIFF decode over the same bytes
    graft.model.Silver.memoize(spark, s"audioWindows_$windowSamples", dir) {
      audioWindowsUncached(spark, dir, windowSamples)
    }
  }

  private def audioWindowsUncached(spark: SparkSession, dir: String,
                                   windowSamples: Int): DataFrame = {
    import spark.implicits._
    require(windowSamples > 0, "window must be positive")
    mediaFromDocs(spark, dir).filter(_.kind == "audio").flatMap { r =>
      AudioCodec.pcm8(r.bytes).toSeq.flatMap { pcm =>
        pcm.grouped(windowSamples).zipWithIndex.map { case (w, idx) =>
          var energy = 0L; var crossings = 0L; var peak = 0L
          var prev = 0
          var i = 0
          while (i < w.length) {
            val s = (w(i) & 0xff) - 128
            energy += s.toLong * s
            if (i > 0 && s * prev < 0) crossings += 1
            if (math.abs(s) > peak) peak = math.abs(s).toLong
            prev = s
            i += 1
          }
          (r.media_id, idx, w.length, energy, crossings, peak)
        }
      }
    }.toDF("media_id", "window_idx", "n_samples", "energy",
        "zero_crossings", "peak")
      .orderBy("media_id", "window_idx")
  }

  /** Rolling content hash of one REALLY-DECODED luma plane — frame
    * identity for m4 (equal planes ⇔ equal hashes up to 64-bit rolling
    * collisions; dims are mixed in so a w×h plane never collides with
    * its transpose). */
  def framePlaneHash(w: Int, h: Int, plane: Array[Byte]): Long = {
    var acc = 1125899906842597L * 31 + w
    acc = acc * 31 + h
    var i = 0
    while (i < plane.length) { acc = acc * 31 + (plane(i) & 0xff); i += 1 }
    acc
  }

  /** Decode-once frame-hash silver: (media_id, frame_idx, frame_hash)
    * over sampled frames of the really-decoded luma planes — m4's
    * content-identity relation, memoized so m4 and m12's oracle-silver
    * write share ONE video decode pass per session. */
  private[graft] def frameHashes(spark: SparkSession, dir: String,
                                 step: Int = 10): DataFrame =
    graft.model.Silver.memoize(spark, s"frameHashes:$step", dir) {
      import spark.implicits._
      mediaFromDocs(spark, dir).filter(_.kind == "video").flatMap { r =>
        VideoCodec.lumaFrames(r.bytes)
          .filter { case (f, _) => f % step == 0 }
          .map { case (f, plane) =>
            (r.media_id, f, framePlaneHash(r.width, r.height, plane))
          }
      }.toDF("media_id", "frame_idx", "frame_hash")
    }

  /** m4: CROSS-VIDEO FRAME DEDUP — d1's exact-dedup semantics applied to
    * sampled frames: identical frame content appearing in many videos
    * (intros, title cards, black frames) is training redundancy a video
    * pipeline drops before captioning/embedding. Frame content identity
    * is [[framePlaneHash]] over the GENUINELY DECODED luma plane
    * ([[VideoCodec.lumaFrames]] — the real Y4M frame walk, not a byte
    * window of the container): the shared title-card frame collapses
    * across same-dims videos exactly as shared intros do in a real
    * lake. The dedup algebra is d1's: min-(media_id, frame_idx) keeper
    * per content group, everything else marked duplicate. One hash
    * aggregate on the frame hash — planes never leave executors, the
    * shuffle carries 8-byte hashes. Rows-only like m2 (the frame hash
    * has no DuckDB analogue). */
  def frameDedup(spark: SparkSession, dir: String, step: Int = 10): DataFrame = {
    val frames = frameHashes(spark, dir, step)
    val groups = frames.groupBy(col("frame_hash"))
      .agg(min(struct(col("media_id"), col("frame_idx"))).as("keeper"),
        count(lit(1)).as("group_size"))
    frames.join(groups, Seq("frame_hash"))
      .select(col("media_id"), col("frame_idx"), col("frame_hash"),
        col("group_size"),
        col("keeper.media_id").as("keeper_media_id"),
        col("keeper.frame_idx").as("keeper_frame_idx"),
        (col("media_id") =!= col("keeper.media_id") ||
          col("frame_idx") =!= col("keeper.frame_idx")).as("is_duplicate"))
      .orderBy("media_id", "frame_idx")
  }

  /** Per-frame integer feature vector for [[sceneCuts]]: the 4×4 grid
    * of block MILLI-MEANS over the really-decoded luma plane — the
    * downsampled-luma signature production cut detectors compare,
    * in exact integer arithmetic (blockSum·1000 / blockPixels, integer
    * division — bit-identical on any JVM/partitioning). Block
    * boundaries use the standard ⌊b·dim/4⌋ partition, the aHash
    * discipline at 4×4. */
  def frameLumaGrid(w: Int, h: Int, plane: Array[Byte]): Array[Long] = {
    val acc = new Array[Long](16)
    var by = 0
    while (by < 4) {
      val y0 = by * h / 4; val y1 = (by + 1) * h / 4
      var bx = 0
      while (bx < 4) {
        val x0 = bx * w / 4; val x1 = (bx + 1) * w / 4
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += plane(y * w + x) & 0xff; x += 1 }
          y += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        acc(by * 4 + bx) = if (n > 0) s * 1000L / n else 0L
        bx += 1
      }
      by += 1
    }
    acc
  }

  /** m7: SCENE-CUT DETECTION — the keyframe-selection primitive a video
    * training pipeline runs before captioning/embedding: consecutive
    * sampled frames are compared by feature distance (Σ|Δ| over the
    * per-frame integer features, exact — no FP), a cut fires where the
    * distance exceeds `threshold`, and a running sum of cut flags
    * assigns scene ids — e4's sessionization algebra applied to frames
    * (gap-over-threshold starts a new group). The first frame of every
    * video starts scene 1 by definition. Features are [[frameLumaGrid]]
    * signatures of the GENUINELY DECODED frame planes
    * ([[VideoCodec.lumaFrames]]) — real pixels in, not container-byte
    * windows; the default threshold (20 milli-levels per block on
    * average, = 16·1250) separates the fixture's in-scene drift from
    * its scene jumps and is calibrated per corpus in production.
    *
    * Scale shape: the frame flatMap is narrow (planes never leave
    * executors; only media_id + 16 longs shuffle); the lag and the
    * running sum BOTH ride the single media_id exchange — one shuffle
    * total regardless of corpus size, and per-video frame counts bound
    * the window state. Hash-gated since r13 via the frame-feature
    * oracle silver (the decode half stays spec-certified); the spec
    * additionally recomputes cuts and scene ids in-process from the
    * same bytes. */
  def sceneCuts(spark: SparkSession, dir: String, step: Int = 10,
                threshold: Long = 20000L): DataFrame =
    sceneFrames(spark, dir, step, threshold)
      .select(col("media_id"), col("frame_idx"),
        col("diff_energy"), col("is_cut"), col("scene_id"))
      .orderBy("media_id", "frame_idx")

  /** The m7 cut/scene chain as oracle CTEs over the frame-feature
    * silver — shared by m7's and m11's SQL. Long-form block unnest (no
    * list lambdas): per-block lag, per-frame Σ|Δ| (NULL on each video's
    * first frame, where no block has a predecessor), running cut sum. */
  private def sceneFramesSqlCtes(step: Int, threshold: Long): String =
    s"""f AS (
       |  SELECT media_id, frame_idx, feat
       |  FROM read_parquet('${graft.model.OracleSilver.sqlGlob(s"frame_feats_$step")}')),
       |fb AS (
       |  SELECT media_id, frame_idx,
       |    generate_subscripts(feat, 1) AS b, unnest(feat) AS v
       |  FROM f),
       |lagged AS (
       |  SELECT media_id, frame_idx, b, v,
       |    LAG(v) OVER (PARTITION BY media_id, b ORDER BY frame_idx) AS pv
       |  FROM fb),
       |diff AS (
       |  SELECT media_id, frame_idx,
       |    CASE WHEN COUNT(pv) = 0 THEN NULL
       |         ELSE CAST(SUM(ABS(v - pv)) AS BIGINT) END AS diff_energy
       |  FROM lagged GROUP BY 1, 2),
       |cuts AS (
       |  SELECT media_id, frame_idx, diff_energy,
       |    (diff_energy IS NULL OR diff_energy > $threshold) AS is_cut
       |  FROM diff),
       |scenes AS (
       |  SELECT media_id, frame_idx, diff_energy, is_cut,
       |    CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY media_id ORDER BY frame_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS scene_id
       |  FROM cuts)""".stripMargin

  def sceneCutsSql(step: Int = 10, threshold: Long = 20000L): String =
    s"""WITH ${sceneFramesSqlCtes(step, threshold)}
       |SELECT media_id, frame_idx, diff_energy, is_cut, scene_id
       |FROM scenes ORDER BY media_id, frame_idx""".stripMargin

  /** Sampled frames with luma-grid features — the decoded-video silver
    * m7 and m11 share (one Y4M walk per session, like the image
    * fingerprint silver m8/m10 share). `private[graft]` so Bench's
    * untimed warmup can pay the decode once, like imageHashes. */
  private[graft] def frameFeats(spark: SparkSession, dir: String,
                                step: Int = 10): DataFrame =
    graft.model.Silver.memoize(spark, s"videoFrameFeats_$step", dir) {
      import spark.implicits._
      mediaFromDocs(spark, dir).filter(_.kind == "video").flatMap { r =>
        VideoCodec.lumaFrames(r.bytes)
          .filter { case (f, _) => f % step == 0 }
          .map { case (f, plane) =>
            (r.media_id, f.toLong, frameLumaGrid(r.width, r.height, plane))
          }
      }.toDF("media_id", "frame_idx", "feat")
    }

  /** The frame-feature silver written where the oracle can read it (the
    * m12 discipline): the Y4M decode half stays spec-certified, and the
    * downstream cut/scene/medoid algebra (m7/m11) joins the hash gate —
    * both engines run it over these bytes. */
  private def frameFeatSilver(spark: SparkSession, dir: String,
                              step: Int): DataFrame =
    graft.model.OracleSilver.materialize(spark, s"frame_feats_$step", dir) {
      frameFeats(spark, dir, step)
    }

  /** m7's frame relation decorated with cut flags and scene ids, the
    * feature vector retained for downstream consumers (m11). */
  private def sceneFrames(spark: SparkSession, dir: String, step: Int,
                          threshold: Long): DataFrame = {
    val byVideo = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frameFeatSilver(spark, dir, step)
      .withColumn("prev_feat", lag(col("feat"), 1).over(byVideo))
      .withColumn("diff_energy",
        when(col("prev_feat").isNull, lit(null).cast("long")).otherwise(
          aggregate(zip_with(col("feat"), col("prev_feat"),
            (a, b) => abs(a - b)), lit(0L), (acc, v) => acc + v)))
      .withColumn("is_cut",
        col("prev_feat").isNull || col("diff_energy") > threshold)
      .withColumn("scene_id",
        sum(when(col("is_cut"), 1L).otherwise(0L)).over(
          byVideo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_feat")
  }

  /** m11: STORYBOARD — the keyframe-selection readout a video curation
    * pipeline feeds to captioning/embedding after m7's cut detection:
    * per (video, scene), the MEDOID-BY-L1 representative frame — the
    * frame minimizing Σ_blocks |n·feat − Σ feat| over the scene (the
    * per-scene L1 dispersion MULTIPLIED THROUGH by the scene's frame
    * count n, so "distance to the scene mean" stays exact integer —
    * no fractional means), ties to the earliest frame. Emitted per
    * scene: extent (first/last sampled frame), frame count, the
    * keyframe index, and its scaled dispersion — the storyboard
    * manifest (one thumbnail per scene) plus a quality signal
    * (dispersion ≈ how well one frame summarizes the scene).
    *
    * Scale shape: frame features come from the memoized [[frameFeats]]
    * silver (ONE Y4M decode walk per session shared with m7); the
    * medoid is computed at (frame, block) grain — 16 narrow rows per
    * sampled frame — via one (video, scene, block) sum, a join back,
    * and a min(struct) argmin per scene; per-video frame counts bound
    * every group. Hash-gated since r13 via the frame-feature oracle
    * silver (the oracle replays scenes + medoid in SQL);
    * MultimodalSpec additionally recomputes the medoid from an
    * independent decode walk. */
  def storyboard(spark: SparkSession, dir: String, step: Int = 10,
                 threshold: Long = 20000L): DataFrame = {
    val f = sceneFrames(spark, dir, step, threshold)
      .select(col("media_id"), col("scene_id"), col("frame_idx"), col("feat"))
    val fb = f.select(col("media_id"), col("scene_id"), col("frame_idx"),
      posexplode(col("feat")).as(Seq("b", "v")))
    val sb = fb.groupBy(col("media_id"), col("scene_id"), col("b"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("nf"))
    val disp = fb
      .join(sb, Seq("media_id", "scene_id", "b"))
      .groupBy(col("media_id"), col("scene_id"), col("frame_idx"))
      .agg(sum(abs(col("nf") * col("v") - col("sv"))).as("disp_scaled"))
    val key = disp.groupBy(col("media_id"), col("scene_id"))
      .agg(min(struct(col("disp_scaled"), col("frame_idx"))).as("k"))
      .select(col("media_id"), col("scene_id"),
        col("k.frame_idx").as("keyframe_idx"),
        col("k.disp_scaled").as("disp_scaled"))
    val extent = f.groupBy(col("media_id"), col("scene_id"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
    extent.join(key, Seq("media_id", "scene_id"))
      .select(col("media_id"), col("scene_id"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("keyframe_idx"),
        col("disp_scaled"))
      .orderBy(col("media_id"), col("scene_id"))
  }

  def storyboardSql(step: Int = 10, threshold: Long = 20000L): String =
    s"""WITH ${sceneFramesSqlCtes(step, threshold)},
       |sf AS (SELECT media_id, frame_idx, scene_id FROM scenes),
       |fb2 AS (
       |  SELECT s.media_id, s.scene_id, s.frame_idx,
       |    generate_subscripts(f.feat, 1) AS b, unnest(f.feat) AS v
       |  FROM sf s JOIN f USING (media_id, frame_idx)),
       |sb AS (
       |  SELECT media_id, scene_id, b, CAST(SUM(v) AS BIGINT) AS sv,
       |    COUNT(*) AS nf
       |  FROM fb2 GROUP BY 1, 2, 3),
       |disp AS (
       |  SELECT fb2.media_id, fb2.scene_id, fb2.frame_idx,
       |    CAST(SUM(ABS(sb.nf * fb2.v - sb.sv)) AS BIGINT) AS disp_scaled
       |  FROM fb2 JOIN sb USING (media_id, scene_id, b)
       |  GROUP BY 1, 2, 3),
       |keyf AS (
       |  SELECT media_id, scene_id, frame_idx AS keyframe_idx, disp_scaled,
       |    ROW_NUMBER() OVER (PARTITION BY media_id, scene_id
       |      ORDER BY disp_scaled, frame_idx) AS rn
       |  FROM disp),
       |extent AS (
       |  SELECT media_id, scene_id, MIN(frame_idx) AS start_frame,
       |    MAX(frame_idx) AS end_frame, CAST(COUNT(*) AS BIGINT) AS n_frames
       |  FROM sf GROUP BY 1, 2)
       |SELECT e.media_id, e.scene_id, e.start_frame, e.end_frame,
       |  e.n_frames, k.keyframe_idx, k.disp_scaled
       |FROM extent e JOIN keyf k
       |  ON k.media_id = e.media_id AND k.scene_id = e.scene_id AND k.rn = 1
       |ORDER BY e.media_id, e.scene_id""".stripMargin

  /** 8×8 AVERAGE HASH of a grayscale pixel buffer — the classic
    * perceptual fingerprint (block mean above/below the global mean,
    * 64 bits), computed in EXACT integer arithmetic: bit(bx,by) =
    * blockSum·totalPixels > totalSum·blockPixels — no float means, so
    * the hash is identical on any JVM/partitioning. Packed as two
    * 32-bit words in BIGINTs (the v19 layout — sidesteps the sign
    * bit). Block boundaries use the standard ⌊b·dim/8⌋ partition. */
  def aHash(w: Int, h: Int, px: Array[Byte]): (Long, Long) = {
    var totalSum = 0L
    var i = 0
    while (i < px.length) { totalSum += px(i) & 0xff; i += 1 }
    val totalN = w.toLong * h
    var w0 = 0L
    var w1 = 0L
    var bit = 0
    var by = 0
    while (by < 8) {
      val (y0, y1) = (by * h / 8, (by + 1) * h / 8)
      var bx = 0
      while (bx < 8) {
        val (x0, x1) = (bx * w / 8, (bx + 1) * w / 8)
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += px(y * w + x) & 0xff; x += 1 }
          y += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        // empty blocks (dim < 8) contribute a 0 bit deterministically
        if (n > 0 && s * totalN > totalSum * n) {
          if (bit < 32) w0 |= 1L << bit else w1 |= 1L << (bit - 32)
        }
        bit += 1
        bx += 1
      }
      by += 1
    }
    (w0, w1)
  }

  /** m8: IMAGE PERCEPTUAL-HASH NEAR-DUP — d8's byte-band Hamming
    * discipline applied to 64-bit aHashes of REALLY-DECODED pixels
    * ([[ImageCodec.pngPixels]]: chunk walk → inflate → unfilter, pure
    * JVM): near-identical images (re-encodes, slight edits) collapse
    * to candidate pairs without any all-pairs pass. Candidates must
    * share at least one of the 16 hash bytes — pigeonhole-complete for
    * maxHamming < 16 — then the exact popcount filter keeps pairs at
    * or under the threshold. Bytes never leave executors; the shuffle
    * carries (media_id, 16 one-byte band keys). Rows-only like m2/m4
    * (pixel decode has no DuckDB analogue); the spec pins hashes to a
    * javax.imageio decode of the same bytes. */
  /** Decode-once image-hash silver: ONE real PNG pixel decode per image
    * yielding BOTH fingerprints (aHash words a0/a1, pHash words p0/p1),
    * memoized — m8 and m10 each used to run their own full
    * decode pass over the same bytes, and the pixel decode (inflate +
    * unfilter) dominates both keys' time; the hash arithmetic on the
    * decoded buffer is noise next to it. At 100 TB this is the
    * fingerprint column written at ingest, decoded exactly once. */
  private[graft] def imageHashes(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "imageHashes", dir) {
      import spark.implicits._
      // CONTENT-ADDRESSED decode: byte-identical images (exact-dup
      // groups, replicated corpora) share one pixel decode — group by
      // the payload hash, inflate+unfilter ONE representative per
      // distinct content, broadcast-join the fingerprints back to ids.
      // At 100 TB this is the content-addressable media store doing the
      // same thing structurally; here it keeps the decode stage linear
      // in DISTINCT content, not row count.
      val imgs = mediaFromDocs(spark, dir).filter(_.kind == "image")
        .map(r => (r.media_id, r.bytes))
        .toDF("media_id", "bytes")
        .withColumn("ckey", xxhash64(col("bytes")))
      val reps = imgs
        .groupBy(col("ckey"))
        .agg(expr("min_by(bytes, media_id)").as("rbytes"))
        .select(col("ckey"), col("rbytes")).as[(Long, Array[Byte])]
        .flatMap { case (ck, bytes) =>
          ImageCodec.pngPixels(bytes).map { case (w, h, px) =>
            val (a0, a1) = aHash(w, h, px)
            val (p0, p1) = pHash(w, h, px)
            (ck, a0, a1, p0, p1)
          }
        }.toDF("ckey", "a0", "a1", "p0", "p1")
      imgs.select(col("media_id"), col("ckey"))
        .join(reps, Seq("ckey"))
        .select(col("media_id"), col("a0"), col("a1"), col("p0"), col("p1"))
    }

  def imageNearDup(spark: SparkSession, dir: String,
                   maxHamming: Int = 10): DataFrame =
    bandedHammingPairs(
      imageHashes(spark, dir).select(col("media_id"),
        col("a0").as("h0"), col("a1").as("h1")), maxHamming)

  /** d8's byte-band blocking + exact popcount over a (media_id, h0, h1)
    * 2×32-bit hash relation — the shared candidate engine behind m8's
    * aHash and m10's pHash near-dup (pigeonhole-complete below 16). */
  private def bandedHammingPairs(hashes: DataFrame,
                                 maxHamming: Int): DataFrame = {
    require(maxHamming < 11, "11-band blocking is complete only below 11")
    // DISTINCT-FINGERPRINT grain + map-side Hamming filter — the r10
    // sf1.0 slope fix (m8/m10 measured 260-340x at 10x data): identical
    // fingerprints (exact-dup content) pile into the same band cells,
    // so a media-grain band join squares in the duplication factor; and
    // with structured fingerprints (gradients share whole bytes) hot
    // cells flood the pair-distinct's exchange unless the exact popcount
    // filter runs BEFORE it, where both hashes are already in the joined
    // row. Media pairs are recovered exactly by member expansion
    // (cross pairs between hash groups + within-group zero-distance
    // pairs), so the output is bit-identical to the media-grain join.
    //
    // BANDS COVER THE REAL 64 BITS: the fingerprint packs as two 32-BIT
    // words, so byte-banding each word as if it were 64-bit gives eight
    // bands that read an always-zero byte — EVERY distinct hash lands
    // in those cells and the join degenerates to all-pairs eight times
    // over (the actual r10 sf1.0 scale-killer: ~0.9e9 joined rows at
    // 16.7k images). Eleven bands over the concatenated 64 bits (nine
    // 6-bit + two 5-bit) are the minimum count that stays pigeonhole-
    // complete at maxHamming = 10: ≤10 flipped bits touch ≤10 bands, so
    // one of the 11 is intact and the pair shares that band cell.
    val distinctH = hashes.select(col("h0"), col("h1")).distinct()
    val full = shiftleft(col("h1"), 32)
      .bitwiseOR(col("h0").bitwiseAND(lit(0xffffffffL)))
    val bandWidths = Seq.fill(9)(6) ++ Seq.fill(2)(5) // 9*6 + 2*5 = 64
    val bandOffsets = bandWidths.scanLeft(0)(_ + _).init
    val bandCols = bandWidths.zip(bandOffsets).zipWithIndex.map {
      case ((w, off), i) =>
        struct(lit(i).as("band"),
          shiftrightunsigned(full, off)
            .bitwiseAND(lit((1L << w) - 1)).as("byteval"))
    }
    val bands = distinctH
      .select(col("h0"), col("h1"), explode(array(bandCols: _*)).as("b"))
      .select(col("h0"), col("h1"), col("b.band").as("band"),
        col("b.byteval").as("byteval"))
    val hashPairs = bands
      .select(col("h0").as("a0"), col("h1").as("a1"), col("band"),
        col("byteval"))
      .join(bands.select(col("h0").as("b0"), col("h1").as("b1"),
        col("band"), col("byteval")), Seq("band", "byteval"))
      .filter(col("a0") < col("b0") ||
        (col("a0") === col("b0") && col("a1") < col("b1")))
      .withColumn("hamming",
        (expr("bit_count(a0 ^ b0)") + expr("bit_count(a1 ^ b1)")).cast("long"))
      .filter(col("hamming") <= maxHamming.toLong)
      .select(col("a0"), col("a1"), col("b0"), col("b1"), col("hamming"))
      .distinct()
    val members = hashes.select(col("media_id"), col("h0"), col("h1"))
    val cross = hashPairs
      .join(members.select(col("media_id").as("id_a"), col("h0").as("a0"),
        col("h1").as("a1")), Seq("a0", "a1"))
      .join(members.select(col("media_id").as("id_b"), col("h0").as("b0"),
        col("h1").as("b1")), Seq("b0", "b1"))
      .select(least(col("id_a"), col("id_b")).as("media_a"),
        greatest(col("id_a"), col("id_b")).as("media_b"), col("hamming"))
    val same = members.select(col("h0"), col("h1"), col("media_id").as("media_a"))
      .join(members.select(col("h0"), col("h1"), col("media_id").as("media_b")),
        Seq("h0", "h1"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), lit(0L).as("hamming"))
    cross.unionAll(same)
      .orderBy("media_a", "media_b")
  }

  /** 64-bit PERCEPTUAL HASH (pHash): 32×32 block-mean downsample of
    * the grayscale buffer, 2-D DCT-II, keep the low-frequency 8×8
    * corner, threshold each coefficient at the MEDIAN of the 63 AC
    * terms (nearest-rank — an actual coefficient), DC bit fixed 0.
    * Versus [[aHash]]'s global-mean rule, the DCT basis captures
    * low-frequency STRUCTURE, so re-encodes, slight blurs and linear
    * tone changes preserve the hash where per-pixel means drift —
    * which is why pHash is the industry-standard image fingerprint.
    * Doubles appear only in the DCT accumulation, in a fixed
    * sequential loop order — bit-deterministic on any JVM (no
    * parallel reduction, no FMA). Packed as two 32-bit words (the
    * v19/aHash layout). */
  /** cos((2y+1)·k·π/64) for k < 8, y < 32 — the 8×32 DCT-II basis slice
    * [[pHash]] reads for both axes (executor-local, built once per JVM). */
  private lazy val dctCosTable: Array[Double] = {
    val n = 32
    val t = new Array[Double](8 * n)
    var k = 0
    while (k < 8) {
      var y = 0
      while (y < n) {
        t(k * n + y) = math.cos((2 * y + 1) * k * math.Pi / (2 * n))
        y += 1
      }
      k += 1
    }
    t
  }

  def pHash(w: Int, h: Int, px: Array[Byte]): (Long, Long) = {
    val n = 32
    val g = new Array[Double](n * n)
    var by = 0
    while (by < n) {
      val y0 = by * h / n; val y1 = math.max((by + 1) * h / n, y0 + (if (y0 < h) 1 else 0))
      var bx = 0
      while (bx < n) {
        val x0 = bx * w / n; val x1 = math.max((bx + 1) * w / n, x0 + (if (x0 < w) 1 else 0))
        var s = 0L; var cnt = 0L
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) { s += px(y * w + x) & 0xff; cnt += 1; x += 1 }
          y += 1
        }
        g(by * n + bx) = if (cnt > 0) s.toDouble / cnt.toDouble else 0.0
        bx += 1
      }
      by += 1
    }
    // low-frequency 8x8 corner of the 32x32 DCT-II (unnormalized —
    // thresholding at the median is scale-invariant). The cosine basis
    // comes from a precomputed [k][y] table: calling math.cos per pixel
    // is ~65k transcendental evaluations PER IMAGE and dominated m10's
    // bench time; the table holds the IDENTICAL doubles (same cos
    // arguments) and the accumulation order is unchanged, so hashes are
    // bit-equal to the inline-cos form.
    val coefs = new Array[Double](64)
    val tbl = dctCosTable
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0
        var y = 0
        while (y < n) {
          val cy = tbl(u * n + y)
          val row = y * n
          var x = 0
          while (x < n) {
            acc += g(row + x) * cy * tbl(v * n + x)
            x += 1
          }
          y += 1
        }
        coefs(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(coefs, 1, 64)
    java.util.Arrays.sort(ac)
    val median = ac(31) // nearest-rank median of the 63 AC terms
    var w0 = 0L; var w1 = 0L
    var bit = 1 // DC bit stays 0
    while (bit < 64) {
      if (coefs(bit) > median) {
        if (bit < 32) w0 |= 1L << bit else w1 |= 1L << (bit - 32)
      }
      bit += 1
    }
    (w0, w1)
  }

  /** m10: DCT PERCEPTUAL-HASH NEAR-DUP — m8's pipeline with [[pHash]]
    * in place of [[aHash]]: the same real PNG pixel decode, the same
    * byte-band candidate blocking and exact popcount filter
    * ([[bandedHammingPairs]] is shared code), but a fingerprint that
    * survives the transforms re-hosted images actually undergo
    * (re-encode, resize, tone curves) where the block-mean hash
    * drifts. Running BOTH keys is the production pattern: aHash pairs
    * are near-certain byte-level dups, pHash adds the perceptual
    * tail. Rows-only like m8; the spec asserts banded-candidate
    * COMPLETENESS against an in-process all-pairs pass over the same
    * hashes. */
  def imagePHashDup(spark: SparkSession, dir: String,
                    maxHamming: Int = 10): DataFrame =
    bandedHammingPairs(
      imageHashes(spark, dir).select(col("media_id"),
        col("p0").as("h0"), col("p1").as("h1")), maxHamming)

  /** m9: VAD / SILENCE-TRIM SEGMENTATION — m6's per-window energies
    * collapsed into maximal constant-activity runs (e17's rn−rn₂
    * run-collapse algebra on the window index): a window is `active`
    * when its mean-square energy clears `thresholdMeanSq`, and each
    * emitted segment is one contiguous stretch of same-class windows
    * with its bounds, window count, total energy and peak. This is the
    * trim list an audio-training pipeline feeds the cutter (drop
    * silence, keep speech) — the audio sibling of m7's scene cuts.
    * Window features are a narrow flatMap over the REAL RIFF decode
    * (m6); the lag-free run grouping, both segment windows and the
    * rollup all ride ONE media_id exchange. Hash-gated since r13 via
    * the audio-window oracle silver (the WAV decode half stays
    * spec-certified, like m6); MultimodalSpec additionally recomputes
    * the segmentation in-process. */
  /** The audio-window silver written where the oracle can read it — the
    * WAV-decode half of m6 stays spec-certified; m9's run-collapse
    * algebra joins the hash gate over these bytes. */
  private def audioWindowSilver(spark: SparkSession, dir: String,
                                windowSamples: Int): DataFrame =
    graft.model.OracleSilver.materialize(
      spark, s"audio_windows_$windowSamples", dir) {
      audioWindows(spark, dir, windowSamples)
    }

  def vadSegments(spark: SparkSession, dir: String,
                  windowSamples: Int = 1024,
                  thresholdMeanSq: Long = 5500L): DataFrame = {
    val w = audioWindowSilver(spark, dir, windowSamples)
      .withColumn("window_idx", col("window_idx").cast("long"))
      .withColumn("active",
        col("energy") >= col("n_samples").cast("long") * thresholdMeanSq)
    val byMedia = Window.partitionBy(col("media_id"))
      .orderBy(col("window_idx"))
    val byMediaClass = Window.partitionBy(col("media_id"), col("active"))
      .orderBy(col("window_idx"))
    val runs = w
      .withColumn("rn", row_number().over(byMedia))
      .withColumn("rn2", row_number().over(byMediaClass))
      .withColumn("grp", col("rn") - col("rn2"))
    val segs = runs.groupBy(col("media_id"), col("active"), col("grp"))
      .agg(min(col("window_idx")).as("start_window"),
        max(col("window_idx")).as("end_window"),
        count(lit(1)).as("n_windows"),
        sum(col("energy")).as("total_energy"),
        max(col("peak")).as("peak"))
    segs
      .withColumn("segment_idx",
        row_number().over(Window.partitionBy(col("media_id"))
          .orderBy(col("start_window"))).cast("long"))
      .select(col("media_id"), col("segment_idx"), col("active"),
        col("start_window"), col("end_window"), col("n_windows"),
        col("total_energy"), col("peak"))
      .orderBy(col("media_id"), col("segment_idx"))
  }

  def vadSegmentsSql(windowSamples: Int = 1024,
                     thresholdMeanSq: Long = 5500L): String =
    s"""WITH w AS (
       |  SELECT media_id, CAST(window_idx AS BIGINT) AS window_idx,
       |    n_samples, energy, peak,
       |    energy >= CAST(n_samples AS BIGINT) * $thresholdMeanSq AS active
       |  FROM read_parquet('${graft.model.OracleSilver.sqlGlob(s"audio_windows_$windowSamples")}')),
       |runs AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY window_idx)
       |      - ROW_NUMBER() OVER (PARTITION BY media_id, active
       |          ORDER BY window_idx) AS grp
       |  FROM w),
       |segs AS (
       |  SELECT media_id, active, grp,
       |    MIN(window_idx) AS start_window, MAX(window_idx) AS end_window,
       |    CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(SUM(energy) AS BIGINT) AS total_energy, MAX(peak) AS peak
       |  FROM runs GROUP BY 1, 2, 3)
       |SELECT media_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY media_id
       |    ORDER BY start_window) AS BIGINT) AS segment_idx,
       |  active, start_window, end_window, n_windows, total_energy, peak
       |FROM segs ORDER BY media_id, segment_idx""".stripMargin

  // ----------------------------------------------------- m12/m13/m14

  /** The oracle-readable fingerprint silvers (see
    * [[graft.model.OracleSilver]] for the path/namespacing contract).
    * The decode halves of m4/m8/m10 (PNG inflate+unfilter, Y4M frame
    * walk) have no SQL analogue — but their downstream pair/verdict
    * algebra is plain SQL. These keys WRITE the decoded fingerprints to
    * parquet at a path the oracle's read_parquet() can see, read them
    * BACK, and run the algebra from the silver; the oracle runs its own
    * algebra over the same files. The decode stays spec-certified (the
    * javax recompute in MultimodalSpec); the algebra joins the hash
    * gate — sk21's split discipline applied to the m-family. */
  private def frameHashSilver(spark: SparkSession, dir: String): DataFrame =
    graft.model.OracleSilver.materialize(spark, "frame_hashes", dir) {
      frameHashes(spark, dir)
    }

  /** The image-fingerprint silver (aHash + pHash words), same contract. */
  private def imageHashSilver(spark: SparkSession, dir: String): DataFrame =
    graft.model.OracleSilver.materialize(spark, "image_hashes", dir) {
      imageHashes(spark, dir)
    }

  /** m12: m4's dedup ALGEBRA under the hash gate — d1's keeper rule
    * (first (media_id, frame_idx) per content group) over the
    * materialized frame-hash silver, window-form so both engines
    * express it identically over the same parquet bytes. */
  def frameDedupApplied(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "m12FrameDedupApplied", dir) {
      val silver = frameHashSilver(spark, dir)
      val byHash = Window.partitionBy(col("frame_hash"))
      val ranked = silver
        .withColumn("rn", row_number().over(
          byHash.orderBy(col("media_id"), col("frame_idx"))))
        .withColumn("group_size", count(lit(1)).over(byHash))
      val keepers = ranked.filter(col("rn") === 1)
        .select(col("frame_hash"),
          col("media_id").as("keeper_media_id"),
          col("frame_idx").as("keeper_frame_idx"))
      ranked.join(keepers, Seq("frame_hash"))
        .select(col("media_id"), col("frame_idx"), col("frame_hash"),
          col("group_size"), col("keeper_media_id"), col("keeper_frame_idx"),
          (col("media_id") =!= col("keeper_media_id") ||
            col("frame_idx") =!= col("keeper_frame_idx")).as("is_duplicate"))
        .orderBy(col("media_id"), col("frame_idx"))
    }

  def frameDedupAppliedSql(): String =
    s"""WITH silver AS (
       |  SELECT * FROM read_parquet('${graft.model.OracleSilver.sqlGlob("frame_hashes")}')),
       |ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY frame_hash
       |      ORDER BY media_id, frame_idx) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY frame_hash) AS BIGINT)
       |      AS group_size
       |  FROM silver),
       |keepers AS (
       |  SELECT frame_hash, media_id AS keeper_media_id,
       |    frame_idx AS keeper_frame_idx
       |  FROM ranked WHERE rn = 1)
       |SELECT r.media_id, r.frame_idx, r.frame_hash, r.group_size,
       |  k.keeper_media_id, k.keeper_frame_idx,
       |  (r.media_id <> k.keeper_media_id
       |    OR r.frame_idx <> k.keeper_frame_idx) AS is_duplicate
       |FROM ranked r JOIN keepers k USING (frame_hash)
       |ORDER BY r.media_id, r.frame_idx""".stripMargin

  /** m13: m8's near-dup algebra under the hash gate. The Spark side
    * runs the PRODUCTION banded path over the re-read silver; the
    * oracle brute-forces ALL pairs over the same files — so the hash
    * match additionally certifies the 11-band blocking is COMPLETE at
    * this corpus (pigeonhole at maxHamming ≤ 10), in-engine, not just
    * in the spec's in-process check. */
  def imageNearDupApplied(spark: SparkSession, dir: String,
                          maxHamming: Int = 10): DataFrame =
    graft.model.Silver.memoize(spark, s"m13NearDupApplied:$maxHamming", dir) {
      bandedHammingPairs(imageHashSilver(spark, dir)
        .select(col("media_id"), col("a0").as("h0"), col("a1").as("h1")),
        maxHamming)
    }

  /** m14: m10's pHash twin of m13 — same silver, DCT fingerprint. */
  def phashDupApplied(spark: SparkSession, dir: String,
                      maxHamming: Int = 10): DataFrame =
    graft.model.Silver.memoize(spark, s"m14PhashApplied:$maxHamming", dir) {
      bandedHammingPairs(imageHashSilver(spark, dir)
        .select(col("media_id"), col("p0").as("h0"), col("p1").as("h1")),
        maxHamming)
    }

  private def hammingPairsSql(w0: String, w1: String,
                              maxHamming: Int): String =
    s"""WITH h AS (
       |  SELECT media_id, $w0 AS h0, $w1 AS h1
       |  FROM read_parquet('${graft.model.OracleSilver.sqlGlob("image_hashes")}'))
       |SELECT a.media_id AS media_a, b.media_id AS media_b,
       |  CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
       |    AS BIGINT) AS hamming
       |FROM h a JOIN h b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
       |  <= $maxHamming
       |ORDER BY media_a, media_b""".stripMargin

  def imageNearDupAppliedSql(maxHamming: Int = 10): String =
    hammingPairsSql("a0", "a1", maxHamming)

  def phashDupAppliedSql(maxHamming: Int = 10): String =
    hammingPairsSql("p0", "p1", maxHamming)
}
