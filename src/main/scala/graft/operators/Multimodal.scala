package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators (north-star brief): media as opaque `binary`
  * columns with typed metadata, batched decode/feature-extract over
  * `mapPartitions`, resize, and frame sampling — with REAL decode kernels
  * ([[MediaCodecs]]: binary PPM images, RIFF/WAVE PCM16 audio; pure JVM,
  * no codec dependencies).
  *
  * At 100 TB: binary payloads stay columnar in parquet, metadata predicates
  * (format/size) push down without touching bytes, and decode parallelism is
  * the scan parallelism — no shuffle anywhere. The `binaryFile` source used
  * by [[readMedia]] is the ingest edge; converted-to-parquet media tables
  * (payload + meta struct) are the steady state.
  */
object Multimodal {

  /** Decoder contract: one batch of (id, payload) → one typed feature row
    * each. Batching mirrors an inference server's request shape — a real
    * GPU/codec backend amortizes per-call cost across the batch.
    */
  trait MediaDecoder[F] extends Serializable {
    def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[F]
    def schema: StructType
    def toRow(f: F): Row
  }

  /** Decoded-image features: integer channel sums, so a fixture whose pixels
    * are a pure function of the flat index replays exactly in any engine.
    */
  final case class ImageFeatures(id: Long, width: Int, height: Int,
                                 nPixels: Long, sumR: Long, sumG: Long, sumB: Long)

  object PpmImageDecoder extends MediaDecoder[ImageFeatures] {
    override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[ImageFeatures] =
      batch.map { case (id, bytes) =>
        val img = MediaCodecs.decodePpm(bytes)
        val (sr, sg, sb) = MediaCodecs.channelSums(img.pixels)
        ImageFeatures(id, img.width, img.height,
          img.width.toLong * img.height, sr, sg, sb)
      }
    override val schema: StructType = new StructType()
      .add("media_id", LongType).add("width", IntegerType)
      .add("height", IntegerType).add("n_pixels", LongType)
      .add("sum_r", LongType).add("sum_g", LongType).add("sum_b", LongType)
    override def toRow(f: ImageFeatures): Row =
      Row(f.id, f.width, f.height, f.nPixels, f.sumR, f.sumG, f.sumB)
  }

  /** BMP features: [[ImageFeatures]]' channel sums plus a POSITION-weighted
    * checksum `wsum = Σ (f+1)·pixel(f)` over the row-major top-down RGB flat
    * index f — channel sums alone cannot tell a correctly un-flipped image
    * from one with rows in file (bottom-up) order, or RGB from BGR; the
    * weighted sum pins every byte to its reconstructed position.
    */
  final case class PosImageFeatures(id: Long, width: Int, height: Int,
                                    nPixels: Long, sumR: Long, sumG: Long,
                                    sumB: Long, wSum: Long)

  /** Shared decoder shell for every [[PosImageFeatures]] codec: the decode
    * kernel varies, the channel-sum + position-weighted-checksum fold and
    * the row contract do not.
    */
  sealed abstract class PosImageDecoder(decode: Array[Byte] => MediaCodecs.Image)
      extends MediaDecoder[PosImageFeatures] {
    final override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[PosImageFeatures] =
      batch.map { case (id, bytes) =>
        val img = decode(bytes)
        var (sr, sg, sb, ws) = (0L, 0L, 0L, 0L)
        var f = 0
        while (f < img.pixels.length) {
          val p = img.pixels(f) & 0xff
          (f % 3: @annotation.switch) match {
            case 0 => sr += p
            case 1 => sg += p
            case 2 => sb += p
          }
          ws += (f + 1).toLong * p
          f += 1
        }
        PosImageFeatures(id, img.width, img.height,
          img.width.toLong * img.height, sr, sg, sb, ws)
      }
    final override val schema: StructType = new StructType()
      .add("media_id", LongType).add("width", IntegerType)
      .add("height", IntegerType).add("n_pixels", LongType)
      .add("sum_r", LongType).add("sum_g", LongType).add("sum_b", LongType)
      .add("wsum", LongType)
    final override def toRow(f: PosImageFeatures): Row =
      Row(f.id, f.width, f.height, f.nPixels, f.sumR, f.sumG, f.sumB, f.wSum)
  }

  object BmpImageDecoder extends PosImageDecoder(MediaCodecs.decodeBmp)

  /** PNG twin of [[BmpImageDecoder]]: the decode crosses a real DEFLATE
    * stream and five per-row filter predictors, so the position-weighted
    * checksum is doing real work — a single mis-predicted byte corrupts
    * every later byte in its row (Sub) or column (Up/Paeth) and breaks wsum.
    */
  object PngImageDecoder extends PosImageDecoder(MediaCodecs.decodePng)

  /** GIF twin of [[PngImageDecoder]]: the decode crosses a variable-width
    * LZW stream (a different compression family than PNG's DEFLATE), a
    * palette indirection, and — for the interlaced fixtures — the 4-pass
    * row reordering; the position-weighted checksum pins every decoded
    * byte to its de-interlaced position.
    */
  object GifImageDecoder extends PosImageDecoder(MediaCodecs.decodeGif)

  /** QOI twin of [[PngImageDecoder]]: the decode crosses the spec's op
    * stream — runs, the 64-entry color cache, wrapping delta ops — so the
    * position-weighted checksum pins every reconstructed pixel.
    */
  object QoiImageDecoder extends PosImageDecoder(MediaCodecs.decodeQoi)

  /** JPEG twin of [[PngImageDecoder]]: the decode crosses the block-DCT
    * entropy-coding family — canonical Huffman bit decode with byte
    * unstuffing, DC prediction chains (+ restart resets), dequant/IDCT,
    * subsampled MCU assembly, and the fixed-point YCbCr→RGB — so the
    * position-weighted checksum pins every reconstructed pixel: a single
    * Huffman desync corrupts every later block's DC chain and breaks wsum.
    */
  object JpegImageDecoder extends PosImageDecoder(MediaCodecs.decodeJpeg)

  /** Perceptual difference-hash bands of a decoded image (dHash — Krawetz's
    * public algorithm): 9×8 nearest-pixel downsample on the integer grid
    * (px = x·w/9, py = y·h/8), grayscale as the exact channel SUM (no
    * division — replayable), bit(x, y) = gray(x+1, y) > gray(x, y), the 64
    * bits packed as four 16-bit band ints. Equal band = LSH candidate — the
    * same band-bucket trick SimHash uses, so image near-dup detection
    * composes with the existing Hamming-join machinery: candidates come
    * from a band equi-join, never an all-pairs product.
    */
  final case class DhashBands(id: Long, width: Int, height: Int,
                              b0: Int, b1: Int, b2: Int, b3: Int)

  /** dHash decoder parameterized by a per-pixel transform `(value, px, py,
    * w, h) → value` applied BEFORE graying — how the fixture plants
    * perturbed variants of the same file (watermark, brightness) without
    * separate payloads. dHash is invariant to any monotone global transform
    * (strict comparisons survive; saturation only creates ties on exact
    * collisions), so a brightness shift hashes to distance 0 while a CORNER
    * watermark flips exactly the bits whose grid cells the corner touches —
    * a true near-duplicate.
    */
  final class DhashDecoder(transform: (Int, Int, Int, Int, Int) => Int)
      extends MediaDecoder[DhashBands] {
    override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[DhashBands] =
      batch.map { case (id, bytes) =>
        val img = MediaCodecs.decodePpm(bytes)
        val (w, h) = (img.width, img.height)
        // grid grays: gray(x, y) for x in 0..8, y in 0..7
        val g = Array.ofDim[Int](8, 9)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 9) {
            val px = x * w / 9
            val py = y * h / 8
            val base = (py * w + px) * 3
            var s = 0
            var ch = 0
            while (ch < 3) {
              s += transform(img.pixels(base + ch) & 0xff, px, py, w, h)
              ch += 1
            }
            g(y)(x) = s
            x += 1
          }
          y += 1
        }
        val bands = Array.fill(4)(0)
        var bit = 0
        while (bit < 64) {
          val by = bit / 8
          val bx = bit % 8
          if (g(by)(bx + 1) > g(by)(bx)) bands(bit / 16) |= 1 << (bit % 16)
          bit += 1
        }
        DhashBands(id, w, h, bands(0), bands(1), bands(2), bands(3))
      }
    override val schema: StructType = new StructType()
      .add("media_id", LongType).add("width", IntegerType)
      .add("height", IntegerType).add("b0", IntegerType)
      .add("b1", IntegerType).add("b2", IntegerType).add("b3", IntegerType)
    override def toRow(f: DhashBands): Row =
      Row(f.id, f.width, f.height, f.b0, f.b1, f.b2, f.b3)
  }

  /** The three fixture variants: identity, corner watermark (+100 saturating
    * where px < w/3 ∧ py < h/3), global brightness (+40 saturating).
    */
  val DhashIdentity: DhashDecoder = new DhashDecoder((p, _, _, _, _) => p)
  val DhashWatermark: DhashDecoder = new DhashDecoder((p, px, py, w, h) =>
    if (px < w / 3 && py < h / 3) math.min(p + 100, 255) else p)
  val DhashBrighten: DhashDecoder = new DhashDecoder((p, _, _, _, _) =>
    math.min(p + 40, 255))

  /** Decoded-audio features: integer |sample| aggregates, same replay idea. */
  final case class AudioFeatures(id: Long, sampleRate: Int, nSamples: Long,
                                 sumAbs: Long, maxAbs: Long)

  /** Shared decoder shell for every [[AudioFeatures]] codec (the
    * [[PosImageDecoder]] pattern): the decode kernel varies, the |sample|
    * fold and row contract do not. Stereo clips fold their interleaved
    * samples the same way — the features are channel-agnostic.
    */
  sealed abstract class PcmAudioDecoder(decode: Array[Byte] => MediaCodecs.Audio)
      extends MediaDecoder[AudioFeatures] {
    final override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[AudioFeatures] =
      batch.map { case (id, bytes) =>
        val clip = decode(bytes)
        var (sum, mx) = (0L, 0L)
        var i = 0
        while (i < clip.samples.length) {
          val a = math.abs(clip.samples(i).toLong)
          sum += a
          if (a > mx) mx = a
          i += 1
        }
        AudioFeatures(id, clip.sampleRate, clip.samples.length.toLong, sum, mx)
      }
    final override val schema: StructType = new StructType()
      .add("media_id", LongType).add("sample_rate", IntegerType)
      .add("n_samples", LongType).add("sum_abs", LongType).add("max_abs", LongType)
    final override def toRow(f: AudioFeatures): Row =
      Row(f.id, f.sampleRate, f.nSamples, f.sumAbs, f.maxAbs)
  }

  object WavAudioDecoder extends PcmAudioDecoder(MediaCodecs.decodeWav)

  /** Acoustic fingerprint bands of a decoded PCM clip — the audio twin of
    * [[DhashDecoder]] (frame-energy deltas, the public shape behind
    * Chromaprint-style fingerprints): 33 integer frame energies Σ|s| over
    * the t ∈ [f·n/33, (f+1)·n/33) grid, bit(f) = e(f+1) > e(f), 32 bits
    * packed as two 16-bit band ints for the same band-bucket candidate
    * join. Exactly monotone gain changes (s·2) preserve every comparison —
    * distance 0 — while a localized edit (a silenced region) flips only
    * the bits of the frames it touches: a true near-duplicate.
    */
  final case class AudioFpBands(id: Long, nSamples: Long, b0: Int, b1: Int)

  /** Parameterized by a per-sample transform `(sample, t, n) → value`
    * applied before the energy fold — plants perturbed variants of the same
    * payload, mirroring [[DhashDecoder]]'s pixel transform.
    */
  final class AudioFpDecoder(transform: (Int, Int, Int) => Int)
      extends MediaDecoder[AudioFpBands] {
    override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[AudioFpBands] =
      batch.map { case (id, bytes) =>
        val clip = MediaCodecs.decodeWav(bytes)
        val n = clip.samples.length
        val e = new Array[Long](33)
        var f = 0
        while (f < 33) {
          var t = f * n / 33
          val hi = (f + 1) * n / 33
          var s = 0L
          while (t < hi) {
            s += math.abs(transform(clip.samples(t).toInt, t, n).toLong)
            t += 1
          }
          e(f) = s
          f += 1
        }
        var (b0, b1) = (0, 0)
        var bit = 0
        while (bit < 32) {
          if (e(bit + 1) > e(bit)) {
            if (bit < 16) b0 |= 1 << bit else b1 |= 1 << (bit - 16)
          }
          bit += 1
        }
        AudioFpBands(id, n.toLong, b0, b1)
      }
    override val schema: StructType = new StructType()
      .add("media_id", LongType).add("n_samples", LongType)
      .add("b0", IntegerType).add("b1", IntegerType)
    override def toRow(f: AudioFpBands): Row = Row(f.id, f.nSamples, f.b0, f.b1)
  }

  /** Fixture variants: identity, exact gain ×2, first-eighth silenced. */
  val AudioFpIdentity: AudioFpDecoder = new AudioFpDecoder((s, _, _) => s)
  val AudioFpGain: AudioFpDecoder = new AudioFpDecoder((s, _, _) => s * 2)
  val AudioFpSilence: AudioFpDecoder = new AudioFpDecoder((s, t, n) =>
    if (t < n / 8) 0 else s)

  /** FLAC twin of [[WavAudioDecoder]]: the decode crosses rice-coded
    * residuals, fixed predictors, and stereo decorrelation — lossless, so
    * the decoded PCM is bit-exact and the same arithmetic-fixture replay
    * contract applies.
    */
  object FlacAudioDecoder extends PcmAudioDecoder(MediaCodecs.decodeFlac)

  /** Scan a directory of media files as (media_id, media, meta): Spark's
    * `binaryFile` source — payload bytes + file metadata, parallelism = file
    * count, metadata-only predicates never touch payloads. The id is the
    * trailing integer of the file stem (`img_07.ppm` → 7).
    */
  /** Decoded-and-SAMPLED video features — the frame-sampling op a video
    * training pipeline runs at ingest (decode is per-row bounded; sampling
    * keeps every 2nd frame, the stride-k curriculum shape): plane sums over
    * the sampled frames plus a (t+1)-weighted Y checksum that pins WHICH
    * frames were kept and in what order — plane sums alone can't tell
    * stride-2-from-0 apart from stride-2-from-1.
    */
  final case class VideoFeatures(id: Long, width: Int, height: Int,
                                 nFrames: Long, nSampled: Long, sumY: Long,
                                 sumU: Long, sumV: Long, wsum: Long)

  object Y4mVideoDecoder extends MediaDecoder[VideoFeatures] {
    private val Stride = 2
    override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[VideoFeatures] =
      batch.map { case (id, bytes) =>
        val vid = MediaCodecs.decodeY4m(bytes)
        val plane = vid.width * vid.height
        var (sy, su, sv, ws) = (0L, 0L, 0L, 0L)
        var sampled = 0L
        var t = 0
        while (t < vid.frames.length) {
          val fr = vid.frames(t)
          var fy = 0L
          var i = 0
          while (i < plane) { fy += fr(i) & 0xff; i += 1 }
          while (i < 2 * plane) { su += fr(i) & 0xff; i += 1 }
          while (i < 3 * plane) { sv += fr(i) & 0xff; i += 1 }
          sy += fy
          ws += (t + 1L) * fy
          sampled += 1
          t += Stride
        }
        VideoFeatures(id, vid.width, vid.height, vid.frames.length.toLong,
          sampled, sy, su, sv, ws)
      }
    override val schema: StructType = new StructType()
      .add("media_id", LongType).add("width", IntegerType)
      .add("height", IntegerType).add("n_frames", LongType)
      .add("n_sampled", LongType).add("sum_y", LongType)
      .add("sum_u", LongType).add("sum_v", LongType).add("wsum", LongType)
    override def toRow(f: VideoFeatures): Row =
      Row(f.id, f.width, f.height, f.nFrames, f.nSampled, f.sumY, f.sumU,
        f.sumV, f.wsum)
  }

  /** Per-PATCH image features — the ViT-style patchify ingest op (image →
    * grid of patch×patch tiles → one row per tile). Partial edge tiles are
    * DROPPED (the standard contract; a resize precedes patchify when full
    * coverage matters), which the 6/10-high fixtures exercise. One decoder
    * row per tile: the first 1:N media decoder — decodeBatch flatMaps.
    */
  final case class PatchFeatures(id: Long, py: Long, px: Long, nPx: Long,
                                 sumR: Long, sumG: Long, sumB: Long)

  class PatchifyDecoder(patch: Int) extends MediaDecoder[PatchFeatures] {
    require(patch >= 1)
    override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[PatchFeatures] =
      batch.flatMap { case (id, bytes) =>
        val img = MediaCodecs.decodePpm(bytes)
        val pw = img.width / patch
        val ph = img.height / patch
        for (py <- 0 until ph; px <- 0 until pw) yield {
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = py * patch
          while (y < (py + 1) * patch) {
            var x = px * patch
            while (x < (px + 1) * patch) {
              val i = (y * img.width + x) * 3
              sr += img.pixels(i) & 0xff
              sg += img.pixels(i + 1) & 0xff
              sb += img.pixels(i + 2) & 0xff
              x += 1
            }
            y += 1
          }
          PatchFeatures(id, py.toLong, px.toLong,
            patch.toLong * patch, sr, sg, sb)
        }
      }
    override val schema: StructType = new StructType()
      .add("media_id", LongType).add("py", LongType).add("px", LongType)
      .add("n_px", LongType).add("sum_r", LongType)
      .add("sum_g", LongType).add("sum_b", LongType)
    override def toRow(f: PatchFeatures): Row =
      Row(f.id, f.py, f.px, f.nPx, f.sumR, f.sumG, f.sumB)
  }

  /** Energy-threshold activity segments over PCM frames — the VAD-style
    * segmentation an audio ingest pipeline runs before transcription
    * (frames of `frame` samples, active iff Σ|s| > threshold, maximal
    * active runs become segments). Partial tail frames are dropped; one
    * row per segment (1:N like [[PatchifyDecoder]]).
    */
  final case class VadSegment(id: Long, segIdx: Long, startF: Long,
                              endF: Long, nFrames: Long, energy: Long)

  class VadDecoder(frame: Int, threshold: Long)
      extends MediaDecoder[VadSegment] {
    require(frame >= 1)
    override def decodeBatch(batch: Array[(Long, Array[Byte])]): Array[VadSegment] =
      batch.flatMap { case (id, bytes) =>
        val clip = MediaCodecs.decodeWav(bytes)
        val nF = clip.samples.length / frame
        val segs = scala.collection.mutable.ArrayBuffer.empty[VadSegment]
        var segStart = -1L
        var segEnergy = 0L
        var f = 0
        while (f <= nF) {
          val e =
            if (f == nF) -1L // sentinel closes a trailing run
            else {
              var s = 0L
              var t = f * frame
              while (t < (f + 1) * frame) {
                s += math.abs(clip.samples(t).toLong); t += 1
              }
              s
            }
          if (e > threshold) {
            if (segStart < 0) { segStart = f; segEnergy = 0L }
            segEnergy += e
          } else if (segStart >= 0) {
            segs += VadSegment(id, segs.length.toLong, segStart, f - 1L,
              f - segStart, segEnergy)
            segStart = -1L
          }
          f += 1
        }
        segs
      }
    override val schema: StructType = new StructType()
      .add("media_id", LongType).add("seg_idx", LongType)
      .add("start_frame", LongType).add("end_frame", LongType)
      .add("n_frames", LongType).add("energy", LongType)
    override def toRow(f: VadSegment): Row =
      Row(f.id, f.segIdx, f.startF, f.endF, f.nFrames, f.energy)
  }

  def readMedia(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(
        // [a-z0-9] in the extension: "y4m" carries a digit
        regexp_extract(col("path"), "_(\\d+)\\.[a-z0-9]+$", 1).cast("long").as("media_id"),
        col("content").as("media"),
        struct(
          regexp_extract(col("path"), "\\.([a-z0-9]+)$", 1).as("format"),
          col("length").cast("int").as("n_bytes"),
          col("path").as("origin")).as("meta"))

  /** Real image resize: decode PPM → nearest-neighbor downscale by `factor`
    * → re-encode. Pure projection: binary in, smaller binary + updated meta
    * out, no shuffle, parallelism = scan parallelism.
    */
  def resizePpm(media: DataFrame, factor: Int): DataFrame = {
    require(factor > 1)
    val resize = udf { (bytes: Array[Byte]) =>
      if (bytes == null) null
      else MediaCodecs.encodePpm(MediaCodecs.downscale(MediaCodecs.decodePpm(bytes), factor))
    }
    media.withColumn("media", resize(col("media")))
      .withColumn("meta", struct(
        col("meta.format"),
        length(col("media")).as("n_bytes"),
        col("meta.origin")))
  }

  /** Frame sampling over fixed-size frames: keep every `stride`-th frame —
    * the video-keyframe / audio-window extraction shape. Emits one row per
    * kept frame (Generator-style fan-out), frame index preserved.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    val frames = udf { (bytes: Array[Byte]) =>
      if (bytes == null) Seq.empty[(Int, Array[Byte])]
      else bytes.grouped(frameBytes).zipWithIndex
        .collect { case (frame, i) if i % stride == 0 => (i, frame) }.toSeq
    }
    media.select(col("media_id"), explode(frames(col("media"))).as("f"))
      .select(col("media_id"), col("f._1").as("frame_idx"), col("f._2").as("frame"))
  }

  /** Batched decode over partitions: the mapInPandas-shaped plumbing, Scala
    * edition — fixed batch size, zero shuffle, pluggable decoder.
    */
  def decodeFeatures[F](media: DataFrame, decoder: MediaDecoder[F],
                        batchSize: Int = 32): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("media")).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { group =>
          // null payloads decode as empty media rather than NPE-ing the task
          val batch = group.map(r => (r.getLong(0),
            Option(r.getAs[Array[Byte]](1)).getOrElse(Array.empty[Byte]))).toArray
          decoder.decodeBatch(batch).iterator.map(decoder.toRow)
        }
      }
    spark.createDataFrame(rdd, decoder.schema)
  }
}
