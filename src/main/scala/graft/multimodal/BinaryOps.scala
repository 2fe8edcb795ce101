package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.6): media as opaque
  * `binary` payloads + typed metadata structs, with batch feature
  * extraction over `mapPartitions` (the Scala analogue of
  * mapInPandas-style batched UDF execution).
  *
  * Decode dispatch: PNG payloads go through the REAL dependency-free
  * decoder ([[Png]] — zlib inflate + scanline unfilter, all five
  * filters) and yield real pixel statistics; every other media type
  * (no codec ships in this sandbox) falls back to the declared
  * deterministic md5-seeded stub, so the Spark-side contract
  * (schema, batching, partition parallelism) is identical either way
  * and the codec surface stays pluggable per format.
  */
object BinaryOps {

  final case class MediaFeatures(doc_id: Long, n_bytes: Long, features: Array[Double])

  /** Pack a text corpus into the binary-media shape: payload bytes +
    * metadata struct. At 100 TB the payloads would come straight from
    * parquet/avro binary columns; the downstream contract is the same.
    */
  def pack(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("text/plain").as("media_type"),
        col("source"),
        col("n_chars")).as("meta"))

  /** STUB decoder for formats without a shipped codec: deterministic
    * 8-dim feature vector seeded from the content md5. The PNG path
    * below does the real work; a full build swaps this for the other
    * codecs — the batching/partitioning stays identical.
    */
  private[graft] def fakeDecode(bytes: Array[Byte]): Array[Double] = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    h.take(8).map(b => (b & 0xff) / 255.0)
  }

  /** Per-payload decode dispatch: real PNG pixels when the payload IS
    * a PNG, stub features otherwise. A corrupt or out-of-scope PNG
    * (16-bit, interlaced, truncated) degrades to the stub rather than
    * failing the batch — at 100 TB a single bad file must never kill
    * the job (the quality columns still mark it: real features carry
    * width ≥ 1 in f0, stub features sit in [0, 1]).
    */
  private[graft] def decodeFeatures(bytes: Array[Byte]): Array[Double] =
    if (Png.isPng(bytes))
      // NonFatal, not just Unsupported: a malformed chunk can also
      // surface as an index/size error from the decoder, and any of
      // them must degrade to the stub instead of failing the batch
      try Png.features(Png.decode(bytes))
      catch { case scala.util.control.NonFatal(_) => fakeDecode(bytes) }
    else if (Bmp.isBmp(bytes))
      try Png.features(Bmp.decode(bytes))
      catch { case scala.util.control.NonFatal(_) => fakeDecode(bytes) }
    else if (Gif.isGif(bytes))
      try {
        val a = Gif.decode(bytes)
        if (a.frames.isEmpty) fakeDecode(bytes)
        else Png.features(Gif.toImage(a.frames(0)))
      } catch { case scala.util.control.NonFatal(_) => fakeDecode(bytes) }
    else fakeDecode(bytes)

  final case class FrameSample(doc_id: Long, n_frames: Long, sampled: Array[Array[Byte]])

  /** Frame sampling over an opaque "video" payload: treats the byte
    * stream as fixed-size frames and keeps every `stride`-th one —
    * the byte-window arithmetic is the real distributed logic; a
    * codec build would decode each kept window instead of slicing it.
    */
  def frameSample(packed: DataFrame, frameBytes: Int, stride: Int): Dataset[FrameSample] = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val frames = bytes.grouped(frameBytes).toArray
        FrameSample(id, frames.length.toLong,
          frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => f })
      }
  }

  final case class VideoSample(
      doc_id: Long, width: Int, height: Int,
      n_frames: Long, n_sampled: Long, mean_luma: Double)

  /** Pack corpus bytes into honest Y4M video payloads: each document
    * becomes a C420 stream of 8×8 frames whose luma planes carry the
    * next 64 content bytes (zero-padded tail). At 100 TB real videos
    * arrive as parquet binary columns; this builder exists so the
    * decode path below exercises a genuine codec on deterministic,
    * oracle-replayable content.
    */
  def packY4m(docs: DataFrame, width: Int = 8, height: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ySize = width * height
    docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val lumas = bytes.grouped(ySize)
          .map(g => if (g.length == ySize) g else java.util.Arrays.copyOf(g, ySize))
          .toSeq
        (id, Y4m.encodeC420(width, height, lumas))
      }
      .toDF("doc_id", "payload")
  }

  /** REAL frame sampling: parse the Y4M stream, keep every
    * `stride`-th frame, and reduce the kept frames to their mean
    * luma — decode work a byte-window slicer cannot fake. Runs as a
    * per-row map (no shuffle); a malformed payload degrades to an
    * empty sample with mean -1 instead of failing the batch, the
    * same armor contract as the PNG path.
    */
  def videoFrameSample(packed: DataFrame, stride: Int): Dataset[VideoSample] = {
    // guard OUTSIDE the per-payload armor: a bad argument must fail
    // the call, not silently mark every row as a corrupt payload
    require(stride > 0, s"stride must be positive, got $stride")
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        try {
          val v = Y4m.decode(bytes)
          val kept = v.frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => f }
          val mean = if (kept.isEmpty) 0.0
                     else kept.map(_.meanLuma).sum / kept.length
          VideoSample(id, v.width, v.height, v.frames.length.toLong, kept.length.toLong, mean)
        } catch {
          case scala.util.control.NonFatal(_) => VideoSample(id, 0, 0, 0L, 0L, -1.0)
        }
      }
  }

  /** Pack corpus bytes as animated GIFs: each document becomes one
    * GIF of 8×8 grayscale frames carrying its next 64 content bytes
    * (zero-padded tail) through REAL LZW compression — the payload is
    * genuinely entropy-coded, so sampling must invert the coder
    * bit-exactly ([[Gif.encodeGray]]/[[Gif.decode]]).
    */
  def packGif(docs: DataFrame, width: Int = 8, height: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fSize = width * height
    docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val frames = bytes.grouped(fSize)
          .map(g => if (g.length == fSize) g else java.util.Arrays.copyOf(g, fSize))
          .toSeq
        (id, Gif.encodeGray(width, height, frames))
      }
      .toDF("doc_id", "payload")
  }

  /** REAL GIF frame sampling: parse + LZW-decode the animation, keep
    * every `stride`-th frame, reduce kept frames to their mean red
    * value (grayscale payloads: the mean original byte). Same per-row
    * map + corrupt-payload armor contract as [[videoFrameSample]].
    */
  def gifFrameSample(packed: DataFrame, stride: Int): Dataset[VideoSample] = {
    require(stride > 0, s"stride must be positive, got $stride")
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        try {
          val a = Gif.decode(bytes)
          val kept = a.frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => f }
          val mean = if (kept.isEmpty) 0.0
                     else kept.map(_.meanRed).sum / kept.length
          VideoSample(id, a.width, a.height, a.frames.length.toLong, kept.length.toLong, mean)
        } catch {
          case scala.util.control.NonFatal(_) => VideoSample(id, 0, 0, 0L, 0L, -1.0)
        }
      }
  }

  /** Resize STUB for OPAQUE payloads (no codec): the contract (fixed
    * output size, content-addressed determinism) is kept by sampling
    * the payload bytes at a fixed rate. Decoded images go through the
    * REAL [[resizeNN]] below instead.
    */
  def resizeStub(bytes: Array[Byte], outBytes: Int): Array[Byte] =
    if (bytes.isEmpty) new Array[Byte](outBytes)
    else Array.tabulate(outBytes)(i => bytes((i.toLong * bytes.length / outBytes).toInt))

  /** REAL nearest-neighbor image resize over a decoded [[Png.Image]]
    * (any channel count): output pixel (x₂, y₂) samples source pixel
    * (⌊x₂·w/w₂⌋, ⌊y₂·h/h₂⌋) — pure integer index arithmetic, so the
    * resample is exactly replayable by an oracle. Replaces the
    * declared resize stub for every payload the PNG/BMP/GIF decoders
    * understand.
    */
  def resizeNN(img: Png.Image, w2: Int, h2: Int): Png.Image = {
    require(w2 > 0 && h2 > 0, s"target dims must be positive: ${w2}x$h2")
    val ch = img.channels
    val out = new Array[Byte](w2 * h2 * ch)
    var y2 = 0
    while (y2 < h2) {
      val sy = y2 * img.height / h2
      var x2 = 0
      while (x2 < w2) {
        val sx = x2 * img.width / w2
        var c = 0
        while (c < ch) {
          out((y2 * w2 + x2) * ch + c) = img.pixels((sy * img.width + sx) * ch + c)
          c += 1
        }
        x2 += 1
      }
      y2 += 1
    }
    Png.Image(w2, h2, ch, out)
  }

  final case class ResizeStats(
      doc_id: Long, src_w: Int, src_h: Int, dst_w: Int, dst_h: Int,
      sum_resized: Long, n_px: Long)

  /** Pack corpus bytes as real 8×8 grayscale BMPs (24bpp, the [[Bmp]]
    * encoder) carrying the first 64 content bytes as pixel intensity.
    */
  def packBmp(docs: DataFrame, width: Int = 8, height: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = width * height
    docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val g = java.util.Arrays.copyOf(bytes, n)
        val rgb = new Array[Byte](n * 3)
        var i = 0
        while (i < n) { rgb(i * 3) = g(i); rgb(i * 3 + 1) = g(i); rgb(i * 3 + 2) = g(i); i += 1 }
        (id, Bmp.encode24(width, height, rgb))
      }
      .toDF("doc_id", "payload")
  }

  /** Pack corpus bytes as real baseline JPEGs ([[Jpeg.encodeGray]]):
    * each of the first `blocks`² content bytes becomes one CONSTANT
    * 8×8 block (value = the byte), so the image is `8·blocks` square.
    * Constant blocks are DC-only by construction — the lossy
    * DCT→quantize→IDCT chain has a closed form an oracle replays
    * exactly (the [[Jpeg]] determinism contract) while the bitstream
    * still runs the full Huffman encode/decode path.
    */
  def packJpeg(docs: DataFrame, blocks: Int = 4, q: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val side = blocks * 8
    docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val vals = java.util.Arrays.copyOf(bytes, blocks * blocks)
        val pix = new Array[Byte](side * side)
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side) {
            pix(y * side + x) = vals((y / 8) * blocks + (x / 8))
            x += 1
          }
          y += 1
        }
        (id, Jpeg.encodeGray(Jpeg.Gray(side, side, pix), q))
      }
      .toDF("doc_id", "payload")
  }

  final case class JpegStats(
      doc_id: Long, width: Int, height: Int, n_blocks: Long,
      sum_rec: Long, payload_bytes: Long)

  /** REAL JPEG decode → exact reconstructed-pixel sum. Per-row map,
    * no shuffle; malformed payloads degrade to a marked row
    * (width −1), the PNG armor contract. `payload_bytes` rides along
    * for spec-side accounting (entropy-coded length is not
    * oracle-replayable and is excluded from the gate projection).
    */
  def jpegFeatures(packed: DataFrame): Dataset[JpegStats] = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        try {
          val img = Jpeg.decode(bytes)
          var sum = 0L
          var i = 0
          while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
          JpegStats(id, img.width, img.height,
            ((img.width + 7) / 8).toLong * ((img.height + 7) / 8), sum, bytes.length.toLong)
        } catch {
          case scala.util.control.NonFatal(_) =>
            JpegStats(id, -1, -1, 0L, 0L, bytes.length.toLong)
        }
      }
  }

  /** REAL decode → nearest-neighbor resize → exact integer pixel sum.
    * Per-row map, no shuffle; malformed payloads degrade to a marked
    * row (src_w −1), the PNG armor contract.
    */
  def imageResize(packed: DataFrame, w2: Int, h2: Int): Dataset[ResizeStats] = {
    require(w2 > 0 && h2 > 0, s"target dims must be positive: ${w2}x$h2")
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        try {
          val img = Bmp.decode(bytes)
          val small = resizeNN(img, w2, h2)
          var sum = 0L
          var i = 0
          // channel 0 only: the packed BMPs are grayscale triples
          while (i < w2 * h2) { sum += small.pixels(i * small.channels) & 0xff; i += 1 }
          ResizeStats(id, img.width, img.height, w2, h2, sum, (w2 * h2).toLong)
        } catch {
          case scala.util.control.NonFatal(_) =>
            ResizeStats(id, -1, -1, w2, h2, 0L, 0L)
        }
      }
  }

  final case class AudioStats(
      doc_id: Long, sample_rate: Int, n_samples: Long,
      n_frames: Long, peak_abs: Long, sum_sq: Long)

  /** Pack corpus bytes as honest WAV payloads: each byte becomes one
    * centered PCM16 sample ((b − 128) · 256), mono 8 kHz, with a
    * decoy LIST chunk planted before `data` so the decode path must
    * genuinely walk the RIFF chunks ([[Wav]]).
    */
  def packWav(docs: DataFrame, sampleRate: Int = 8000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val samples = bytes.map(b => (((b & 0xff) - 128) * 256).toShort)
        (id, Wav.encode(sampleRate, samples, decoyChunk = true))
      }
      .toDF("doc_id", "payload")
  }

  /** REAL audio analysis: parse the RIFF stream, frame the PCM into
    * 64-sample windows, and reduce to exact integer statistics (peak
    * magnitude, energy Σs² as a long — no FP until the caller's final
    * RMS). Per-row map, no shuffle; malformed payloads degrade to a
    * marked row (peak −1), the PNG armor contract.
    */
  def audioStats(packed: DataFrame, frame: Int = 64): Dataset[AudioStats] = {
    require(frame > 0, s"frame must be positive, got $frame")
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        try {
          val a = Wav.decode(bytes)
          var peak = 0L; var ss = 0L
          a.samples.foreach { s =>
            val v = math.abs(s.toLong)
            if (v > peak) peak = v
            ss += s.toLong * s.toLong
          }
          AudioStats(id, a.sampleRate, a.samples.length.toLong,
            (a.samples.length.toLong + frame - 1) / frame, peak, ss)
        } catch {
          case scala.util.control.NonFatal(_) => AudioStats(id, 0, 0L, 0L, -1L, 0L)
        }
      }
  }

  final case class TarShard(
      source: String, n_members: Long, member_bytes: Long,
      shard_bytes: Long, headers_ok: Boolean, members_md5: String)

  /** Pack each source's documents into ONE ustar shard (members named
    * `doc_<id>.txt`, id ascending) — the WebDataset shard-writer
    * shape. One shuffle on the shard key; at 100 TB the shard key
    * comes from `etl_binpack`'s planner so every shard is
    * target-sized, and members stream through a shard writer instead
    * of materializing per group (the group here is test-SF bounded).
    */
  def packTarShards(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"), col("doc_id"), col("text").cast("binary"))
      .as[(String, Long, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val members = it.toArray.sortBy(_._2)
          .map { case (_, id, bytes) => Tar.Entry(s"doc_$id.txt", bytes) }
        (src, Tar.encode(members.toIndexedSeq))
      }
      .toDF("source", "payload")
  }

  /** REAL shard read-back: walk the ustar archive (magic + checksum
    * validated per member), reduce to exact accounting — member
    * count, member bytes, container bytes — plus an order-sensitive
    * content digest (md5 over the concatenated member md5s). The
    * container arithmetic (512-byte headers, block padding, two-block
    * end marker) is independently recomputable from the member sizes,
    * so the oracle catches any layout drift. Per-row map, no shuffle;
    * malformed shards degrade to a marked row (n_members −1), the
    * PNG armor contract.
    */
  def tarShardStats(packed: DataFrame): Dataset[TarShard] = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("source"), col("payload")).as[(String, Array[Byte])]
      .map { case (src, bytes) =>
        try {
          val entries = Tar.decode(bytes)
          val md = java.security.MessageDigest.getInstance("MD5")
          val hexes = entries.map { e =>
            md.reset()
            md.digest(e.data).map(b => f"${b & 0xff}%02x").mkString
          }
          md.reset()
          val digest = md.digest(hexes.mkString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
            .map(b => f"${b & 0xff}%02x").mkString
          TarShard(src, entries.length.toLong,
            entries.map(_.data.length.toLong).sum,
            bytes.length.toLong, headers_ok = true, digest)
        } catch {
          case scala.util.control.NonFatal(_) =>
            TarShard(src, -1L, 0L, bytes.length.toLong, headers_ok = false, "")
        }
      }
  }

  /** Batched feature extraction: executors process fixed-size batches
    * inside each partition (amortizes per-batch codec setup exactly
    * like mapInPandas batches do).
    */
  def featurize(packed: DataFrame, batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // per-batch setup would open further codecs once here
          batch.iterator.map { case (id, bytes) =>
            MediaFeatures(id, bytes.length.toLong, decodeFeatures(bytes))
          }
        }
      }
  }
}
