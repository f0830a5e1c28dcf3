package graft.ops

import graft.{DerivedStore, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, and a batch decode/feature-extract stage.
  *
  * The codec tier is REAL, pure-JVM, for eight formats — BMP, PNG
  * (DEFLATE), baseline JPEG (transform-coded), lossless WebP/VP8L
  * (entropy-coded) images; WAV/RIFF PCM16 and FLAC (fixed predictors +
  * Rice) audio; AVI/RIFF (+MJPEG composition) and animated GIF89a (LZW)
  * video — each with an oracle-validated round trip, and the lossless
  * image/audio formats additionally proven against the JDK's independent
  * decoders (CodecConformanceSpec). Payloads with none of those magics
  * fall through to a clearly-marked deterministic fake (`stubDecode`'s
  * last arm), which is where a production build drops the one remaining
  * format family (e.g. a JNI H.264) into the same match.
  *
  * Scale notes: payloads never pass through a shuffle here (decode is
  * map-side, before any wide op); metadata-only projections prune the binary
  * column at the parquet scan, so "select width,height from media" never
  * reads bytes. At 100 TB the payload column would live in its own parquet
  * column chunk — pruning is the whole ballgame.
  */
object MultimodalOps {

  /** A typed media row after decode. */
  case class MediaMeta(
      doc_id: Long, media_type: String, byte_len: Long, payload_md5: String,
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  /** Synthesize a media table from `documents`: payload = utf8 bytes of the
    * text (a stand-in for real image/audio bytes), media_type assigned
    * deterministically. This is the ingest face: `binary` + metadata columns.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"))
  }

  /** Decode dispatch: REAL for BMP, PNG ([[PngCodec]] — DEFLATE + CRC +
    * scanline predictors), baseline JPEG ([[JpegCodec]] — integer DCT +
    * Huffman), WAV ([[WavCodec]] — RIFF chunk walk, PCM samples), and AVI
    * ([[AviCodec]] — container walk); a deterministic fake covers payloads
    * with none of those magics (a production build drops further codecs
    * into the same match arm).
    */
  def stubDecode(payload: Array[Byte], mediaType: String): (Int, Int, Int, Int) = {
    if (BmpCodec.isBmp(payload)) {
      val img = BmpCodec.decode(payload)
      (img.width, img.height, 0, 1)
    } else if (WavCodec.isWav(payload)) {
      val a = WavCodec.decode(payload)
      (0, 0, a.sampleRate, a.samples.length)
    } else if (AviCodec.isAvi(payload)) {
      val v = AviCodec.decode(payload)
      (v.width, v.height, 0, v.frames.length)
    } else if (PngCodec.isPng(payload)) {
      val img = PngCodec.decode(payload)
      (img.width, img.height, 0, 1)
    } else if (JpegCodec.isJpeg(payload)) {
      val img = JpegCodec.decode(payload)
      (img.width, img.height, 0, 1)
    } else if (FlacCodec.isFlac(payload)) {
      val a = FlacCodec.decode(payload)
      (0, 0, a.sampleRate, a.samples.length)
    } else if (GifCodec.isGif(payload)) {
      val g = GifCodec.decode(payload)
      (g.width, g.height, 0, g.frames.length)
    } else if (WebpCodec.isWebp(payload)) {
      val img = WebpCodec.decode(payload)
      (img.width, img.height, 0, 1)
    } else {
      // further codecs (H.264 frames) drop in here;
      // deterministic fake below keeps the remaining plumbing tested
      val h = java.util.Arrays.hashCode(payload).abs
      mediaType match {
        case "image" => (64 + h % 1024, 64 + (h / 7) % 1024, 0, 1)
        case "audio" => (0, 0, 8000 + (h % 5) * 8000, 0)
        case _       => (64 + h % 1024, 64 + (h / 7) % 1024, 0, 1 + h % 300)
      }
    }
  }

  /** Ingest face with REAL image payloads: doc_ids that map to `image`
    * carry a deterministic synthetic BMP (seeded by doc_id, dimensions
    * varied per doc) instead of text bytes — so the decode/resize/embed
    * stages downstream run an actual codec on actual rasters. Non-image
    * rows keep the opaque text-byte payloads (their codecs stay stubbed).
    * Payload synthesis is map-side inside the partition iterator: at scale
    * this stage is the decode-adjacent ingest map, nothing shuffles.
    */
  def bmpMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "image")
            (id, BmpCodec.synth(id, 16 + (id % 48).toInt, 16 + (id % 32).toInt), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** Ingest face with REAL compressed-image payloads: doc_ids that map to
    * `image` carry a deterministic synthetic PNG (pixel law
    * `rgb[k] = (doc_id·131 + k·773) mod 256`, dimensions varied per doc)
    * — the DEFLATE-backed analog of [[bmpMediaTable]]. The pixel law is
    * pure integer arithmetic, so the DuckDB oracle replays any raster
    * feature directly while Spark recovers the bytes THROUGH the codec:
    * synth → filter+deflate+CRC encode → inflate+unfilter decode.
    */
  /** The per-format payload synthesis laws — ONE spelling each, shared
    * by the per-format media tables and [[decodedMediaTable]] so the
    * decoded-ANN store cannot silently drift from the faces it mirrors
    * (r14 review). Each law is also re-stated arithmetically in the
    * corresponding DuckDB oracles.
    */
  private def synthImagePayload(id: Long): Array[Byte] =
    PngCodec.synth(id, 8 + (id % 24).toInt, 8 + (id % 16).toInt)
  private def synthAudioPayload(id: Long): Array[Byte] =
    WavCodec.synth(id, 512 + (id % 512).toInt, 8000 + (id % 4).toInt * 2000)
  private def synthVideoCavlcPayload(id: Long): Array[Byte] =
    H264Cavlc.synthCavlc(id, 1 + (id % 3).toInt,
      2 + (id % 5).toInt, 1 + (id % 3).toInt, rich = false).bytes

  def pngMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "image") (id, synthImagePayload(id), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }


  /** Per-channel byte sums of a top-down RGB raster — the one copy of the
    * byte-walk the image/JPEG/MJPEG feature queries share.
    */
  private def channelSums(rgb: Array[Byte]): (Long, Long, Long, Int) = {
    var sr = 0L; var sg = 0L; var sb = 0L; var mx = 0
    var k = 0
    while (k < rgb.length) {
      val v = rgb(k) & 0xff
      (k % 3: @annotation.switch) match {
        case 0 => sr += v
        case 1 => sg += v
        case _ => sb += v
      }
      if (v > mx) mx = v
      k += 1
    }
    (sr, sg, sb, mx)
  }

  /** A decoded-image feature row — every field an exact integer. */
  case class ImageFeatures(
      doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, max_byte: Int, lum8_sum: Long)

  /** Image feature extraction over REAL decoded PNG rasters: per-channel
    * sums, peak byte, and the 8×8 nearest-neighbor luminance-grid sum —
    * the stats an image-curation pipeline gates on (blank / clipped /
    * monochrome detection) plus the thumbnail the embed stage consumes.
    * Every feature is exact integer arithmetic on the DECODED raster, so
    * the oracle — which recomputes them straight from the pixel law with
    * no codec at all — verifies the DEFLATE round trip (all five PNG
    * scanline predictors, chunk CRCs, inflate) bit for bit, and `lum8_sum`
    * additionally pins [[BmpCodec.resizeNearest]]'s integer source mapping
    * against an independent replay. Map-side `mapPartitions`; payloads
    * never shuffle.
    */
  def imageFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pngMediaTable(spark, dir)
      .filter(col("media_type") === "image")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = PngCodec.decode(payload)
          val (sr, sg, sb, mx) = channelSums(img.rgb)
          val g = BmpCodec.resizeNearest(img, 8, 8)
          var lum = 0L
          var i = 0
          while (i < 64) {
            val s = i * 3
            lum += 77L * (g.rgb(s) & 0xff) + 151L * (g.rgb(s + 1) & 0xff) +
              28L * (g.rgb(s + 2) & 0xff)
            i += 1
          }
          ImageFeatures(id, img.width, img.height, sr, sg, sb, mx, lum)
        }
      }
      .toDF()
  }

  /** Ingest face with REAL transform-coded payloads: doc_ids that map to
    * `image` carry a deterministic baseline JPEG whose blocks are each a
    * constant color (`rgb(block i) = (doc_id·131 + i·{17,29,47}) mod 256`,
    * block grid varied per doc) — so the LOSSY chain collapses to the
    * closed DC form the oracle replays while the stream still runs real
    * DCT butterflies, quantization, Huffman prediction, and byte stuffing.
    */
  def jpegMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "image")
            (id, JpegCodec.synthDc(id, 1 + (id % 4).toInt, 1 + (id % 3).toInt), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** A decoded-JPEG feature row — every field an exact integer. */
  case class JpegFeatures(
      doc_id: Long, width: Int, height: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Feature extraction over REAL decoded JPEG rasters: per-channel pixel
    * sums of the RECONSTRUCTED (post-quantization) image. The oracle —
    * which replays color transform, quantizer, and reconstruction as pure
    * integer arithmetic with no codec — verifies the whole transform-coded
    * round trip: one wrong bit in any marker segment, Huffman code, DC
    * prediction, dequant step, or the IDCT's DC shortcut changes a sum.
    * Map-side `mapPartitions`; payloads never shuffle.
    */
  def jpegFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jpegMediaTable(spark, dir)
      .filter(col("media_type") === "image")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = JpegCodec.decode(payload)
          val (sr, sg, sb, _) = channelSums(img.rgb)
          JpegFeatures(id, img.width, img.height, sr, sg, sb)
        }
      }
      .toDF()
  }

  /** Ingest face with REAL audio payloads: doc_ids that map to `audio`
    * carry a deterministic synthetic 16-bit PCM WAV (sample law
    * `(doc_id·131 + i·773) mod 4001 − 2000`, rate/length varied per doc)
    * instead of text bytes — the audio analog of [[bmpMediaTable]]. The
    * sample law is pure integer arithmetic, so the DuckDB oracle replays
    * it directly while Spark recovers it THROUGH the codec: synth →
    * encode → decode → features, end to end.
    */
  def wavMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "audio") (id, synthAudioPayload(id), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** Ingest face with REAL video containers: doc_ids that map to `video`
    * carry a deterministic synthetic AVI (frame law
    * `"<doc_id>:<i>:" + "x"*(doc_id mod 50 + 1)`, 30 + doc_id mod 60
    * frames, geometry varied per doc) — the container analog of
    * [[bmpMediaTable]]/[[wavMediaTable]]. Frame payloads stay opaque (the
    * in-frame pixel codec is the declared stub seam); the CONTAINER — the
    * part frame sampling actually exercises — is real RIFF with nested
    * LISTs and pad bytes.
    */
  def aviMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "video")
            (id, AviCodec.synth(id, 30 + (id % 60).toInt,
              64 + (id % 32).toInt, 48 + (id % 16).toInt), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** REAL frame sampling: every `every`-th frame's ACTUAL BYTES walked
    * lazily out of the AVI `movi` list ([[AviCodec.sampledFrames]] — an
    * iterator, the whole frame list never materializes), digested per
    * frame. The oracle recomputes each sampled frame's md5 straight from
    * the synthesis law with no container at all, so the hash gate
    * validates every chunk boundary and pad byte of the walk — one
    * mis-stepped frame shifts all later digests. Map-side `mapPartitions`;
    * payloads never shuffle; output rows = ⌈n/every⌉ per video, never n.
    */
  def frameSampleAvi(spark: SparkSession, dir: String, every: Int = 10): DataFrame = {
    import spark.implicits._
    require(every > 0)
    aviMediaTable(spark, dir)
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, payload) =>
          AviCodec.sampledFrames(payload, every).map { case (i, fb) =>
            md.reset()
            val hex = md.digest(fb).map("%02x".format(_)).mkString
            (id, i, hex, fb.length.toLong)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_md5", "byte_len")
  }

  /** Ingest face with REAL H.264 elementary streams: video rows carry a
    * structurally conformant Annex-B baseline bitstream
    * ([[H264Codec.synth]] — SPS with cropping, PPS, full slice headers,
    * IDR cadence) whose synthesis parameters are doc_id arithmetic, so
    * the DuckDB oracle replays the parsed METADATA with no bitstream at
    * all: the hash gate proves the SPS/slice/AU parse against the law
    * the stream was built from.
    */
  def h264MediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "video")
            (id, H264Codec.synth(id, 20 + (id % 30).toInt,
              4 + (id % 8).toInt, 3 + (id % 5).toInt,
              cropRight = (id % 3).toInt, cropBottom = (id % 2).toInt), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** Structural H.264 metadata off the real bitstream: dimensions from
    * the SPS cropping law, access units from the slice-header AU rule,
    * IDR count from NAL types. Map-only; payloads never shuffle.
    */
  def h264Meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    h264MediaTable(spark, dir)
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val v = H264Codec.info(payload)
        (id, v.sps.profileIdc, v.sps.width, v.sps.height, v.nFrames.toLong,
          v.nIdr.toLong)
      })
      .toDF("doc_id", "profile_idc", "width", "height", "n_frames", "n_idr")
  }

  /** Ingest face with fully-DECODABLE H.264: video rows carry an
    * all-I_PCM baseline stream ([[H264Codec.synthPcm]] — raw samples,
    * the one H.264 coding path with no entropy layer), synthesis
    * parameters pure doc_id arithmetic.
    */
  def h264PcmMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, mt) =>
        if (mt == "video")
          (id, H264Codec.synthPcm(id, 1 + (id % 4).toInt,
            2 + (id % 5).toInt, 1 + (id % 2).toInt), mt)
        else (id, payload, mt)
      })
      .toDF("doc_id", "payload", "media_type")
  }

  /** REAL H.264 pixel decode (I_PCM path): frame 0's luma/chroma planes
    * parsed straight off the bitstream — NAL walk, slice header, per-MB
    * raw-sample layout — summed per plane. The DuckDB oracle replays the
    * pixel LAW as arithmetic with no bitstream, so the hash gate
    * validates the whole chain: start codes, emulation prevention,
    * exp-Golomb header fields, PCM byte alignment, and the MB raster
    * placement (a swapped plane or shifted macroblock breaks a sum).
    * Map-only; payloads never shuffle.
    */
  def h264PcmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedMediaStore(spark, dir, "h264pcm")(h264PcmMediaTable(spark, dir))
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val nals = H264Codec.nalUnits(payload).toVector
        val sps = H264Codec.parseSps(nals.collectFirst {
          case (7, nal) => nal }.get)
        val frame0 = H264Codec.decodeIPcmSlice(nals.collectFirst {
          case (5, nal) => nal }.get, sps)
        def s(a: Array[Byte]) = a.iterator.map(_ & 0xff).map(_.toLong).sum
        (id, frame0.width, frame0.height, s(frame0.luma), s(frame0.cb),
          s(frame0.cr), frame0.luma.iterator.map(_ & 0xff).max)
      })
      .toDF("doc_id", "width", "height", "sum_luma", "sum_cb", "sum_cr",
        "max_luma")
  }

  /** Ingest face with fully-decodable CAVLC H.264: video rows carry a
    * baseline all-intra stream whose residuals are REAL CAVLC entropy
    * coding ([[H264Cavlc.synthCavlc]]'s oracle face — DC-only levels at
    * qp 28, DC/Vertical intra prediction), synthesis parameters pure
    * doc_id arithmetic so DuckDB replays the decoded pixels closed-form.
    */
  def h264CavlcMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, mt) =>
        if (mt == "video") (id, synthVideoCavlcPayload(id), mt)
        else (id, payload, mt)
      })
      .toDF("doc_id", "payload", "media_type")
  }

  /** REAL H.264 CAVLC pixel decode: every access unit of every video
    * decoded to planes straight off the bitstream — NAL walk, slice
    * header, mb_type/pred-mode/cbp syntax, coeff_token with neighbor nC
    * contexts, total_zeros/run_before, dequant, inverse 4x4 transform,
    * intra prediction, raster placement — then plane sums + a
    * position-weighted luma sum (weight 1 + 3·(px/4) + 7·(py/4): a
    * level landing in the wrong block breaks it even when the plain sum
    * survives). The DuckDB oracle replays the closed-form pixel law
    * with no bitstream. Map-only; payloads never shuffle.
    */
  /** Plane sums + the position-weighted luma sum (weight
    * 1 + 3·(px/4) + 7·(py/4) — a value landing in the wrong 4x4 block
    * breaks it even when the plain sum survives) of one decoded
    * picture. Shared by both H.264 pixel-decode faces so the weight
    * law cannot diverge from its two DuckDB oracles.
    */
  private def yuvSums(f: H264Cavlc.Yuv): (Long, Long, Long, Long) = {
    var (sumLuma, wsumLuma, sumCb, sumCr) = (0L, 0L, 0L, 0L)
    var py = 0
    while (py < f.height) {
      var px = 0
      while (px < f.width) {
        val v = f.luma(py * f.width + px)
        sumLuma += v
        wsumLuma += (1 + 3 * (px / 4) + 7 * (py / 4)).toLong * v
        px += 1
      }
      py += 1
    }
    var k = 0
    while (k < f.cb.length) { sumCb += f.cb(k); sumCr += f.cr(k); k += 1 }
    (sumLuma, wsumLuma, sumCb, sumCr)
  }

  def h264CavlcFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedMediaStore(spark, dir, "h264cavlc")(h264CavlcMediaTable(spark, dir))
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val nals = H264Codec.nalUnits(payload).toVector
        // fail loud by name (ADVICE r14): a payload missing either
        // parameter set must not die as a bare NoSuchElementException
        val spsNal = nals.collectFirst { case (7, n) => n }
        val ppsNal = nals.collectFirst { case (8, n) => n }
        require(spsNal.isDefined, s"doc $id: no SPS NAL (type 7) in the CAVLC feature payload")
        require(ppsNal.isDefined, s"doc $id: no PPS NAL (type 8) in the CAVLC feature payload")
        val sps = H264Codec.parseSps(spsNal.get)
        val pps = H264Codec.parsePpsFull(ppsNal.get)
        var (sumLuma, wsumLuma, sumCb, sumCr) = (0L, 0L, 0L, 0L)
        var nFrames = 0L
        var (w, h) = (0, 0)
        nals.foreach {
          case (5, nal) =>
            val f = H264Cavlc.decodeISlice(nal, sps, pps)
            w = f.width; h = f.height
            nFrames += 1
            val (sl, wl, scb, scr) = yuvSums(f)
            sumLuma += sl; wsumLuma += wl; sumCb += scb; sumCr += scr
          case (1, _) =>
            // a non-IDR coded slice silently skipped would undercount
            // every sum — fail loud instead (r14 review)
            throw new IllegalArgumentException(
              "non-IDR coded slice (nal_unit_type 1) in the CAVLC feature face — synthCavlc emits all-IDR streams")
          case _ => () // SPS/PPS/SEI/AUD: no pixel content
        }
        (id, w, h, nFrames, sumLuma, wsumLuma, sumCb, sumCr)
      })
      .toDF("doc_id", "width", "height", "n_frames", "sum_luma",
        "wsum_luma", "sum_cb", "sum_cr")
  }

  /** Ingest face with fully-decodable INTER-coded H.264: video rows
    * carry an IDR + P-frame baseline stream ([[H264Cavlc.synthCavlcInter]]'s
    * oracle face — DC-only IDR, all-P_L0_16x16 frames with one
    * block-aligned law mv per frame, zero P residual), so the decoded
    * pixels of every frame have the closed form "clamped block
    * translation of the previous frame" that DuckDB replays.
    */
  def h264InterMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, mt) =>
        if (mt == "video")
          (id, H264Cavlc.synthCavlcInter(id, 2 + (id % 2).toInt,
            2 + (id % 5).toInt, 1 + (id % 3).toInt, rich = false).bytes, mt)
        else (id, payload, mt)
      })
      .toDF("doc_id", "payload", "media_type")
  }

  /** REAL H.264 INTER pixel decode: the whole IDR + P stream decoded —
    * mb_skip_run, P mb types, mvd + median motion-vector prediction,
    * quarter-pel motion compensation off the previously decoded
    * picture, inter cbp — then the same plane sums + position-weighted
    * luma sum as the intra face. The DuckDB oracle replays the
    * translated-block-field law with no decoder; a wrong mvp, a
    * mis-signed mvd, or a broken clamp shifts a sum. Map-only.
    */
  def h264InterFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedMediaStore(spark, dir, "h264inter")(h264InterMediaTable(spark, dir))
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val frames = H264Cavlc.decodeBaselineStream(payload)
        var (sumLuma, wsumLuma, sumCb, sumCr) = (0L, 0L, 0L, 0L)
        frames.foreach { f =>
          val (sl, wl, scb, scr) = yuvSums(f)
          sumLuma += sl; wsumLuma += wl; sumCb += scb; sumCr += scr
        }
        (id, frames.head.width, frames.head.height, frames.length.toLong,
          sumLuma, wsumLuma, sumCb, sumCr)
      })
      .toDF("doc_id", "width", "height", "n_frames", "sum_luma",
        "wsum_luma", "sum_cb", "sum_cr")
  }

  /** Bitstream-derived video CODING statistics — the features a video
    * curation pipeline gates on (motion energy, skip density, intra
    * refresh) — computed by actually decoding every stream: per-4x4
    * motion-field magnitudes in quarter-pel units, MB-kind counts. The
    * DuckDB oracle replays the inter face's mv/kind laws with no
    * decoder: a mis-signed mvd or broken mvp chain shifts the motion
    * sums. Map-only over the served payload store.
    */
  def videoMotion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedMediaStore(spark, dir, "h264inter")(h264InterMediaTable(spark, dir))
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val stats = new H264Cavlc.StreamStats
        val frames = H264Cavlc.decodeBaselineStream(payload, stats)
        (id, frames.length.toLong, stats.nIntraMb, stats.nInterMb,
          stats.nSkipMb, stats.sumAbsMv, stats.maxAbsMv)
      })
      .toDF("doc_id", "n_frames", "n_intra_mb", "n_inter_mb", "n_skip_mb",
        "sum_abs_mv", "max_abs_mv")
  }

  /** Ingest face with REAL MJPEG videos: doc_ids that map to `video` carry
    * an AVI whose frames are ACTUAL baseline JPEGs (16×8, two constant
    * blocks per frame, frame seed `doc_id + 7·i`) — the composition that
    * makes frame-sampling → in-frame pixel decode a true video pipeline
    * instead of a container walk over opaque fill bytes.
    */
  def mjpegMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "video") {
            val n = 12 + (id % 12).toInt
            val frames = IndexedSeq.tabulate(n)(i =>
              JpegCodec.synthDc(id + 7L * i, 2, 1))
            (id, AviCodec.encode(AviCodec.Avi(16, 8, 33366, frames)), mt)
          } else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** The full video path — container walk AND in-frame pixel decode: every
    * `every`-th frame streams lazily out of the AVI `movi` list and is
    * JPEG-DECODED, per-channel pixel sums emitted per sampled frame. The
    * oracle replays frame selection + the JPEG DC chain as pure integer
    * arithmetic with neither codec, so the hash gate validates the
    * container boundaries AND the transform decode of each sampled frame
    * in one pass. Map-side flatMap; frames never materialize as a list,
    * payloads never shuffle; output rows = ⌈n/every⌉ per video, never n.
    */
  def mjpegFrameFeatures(spark: SparkSession, dir: String,
                         every: Int = 5): DataFrame = {
    import spark.implicits._
    require(every > 0)
    servedMediaStore(spark, dir, "mjpeg")(mjpegMediaTable(spark, dir))
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          AviCodec.sampledFrames(payload, every).map { case (fi, fb) =>
            val img = JpegCodec.decode(fb)
            val (sr, sg, sb, _) = channelSums(img.rgb)
            (id, fi, sr, sg, sb)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "sum_r", "sum_g", "sum_b")
  }

  /** Ingest face with REAL animated-GIF videos: doc_ids that map to
    * `video` carry a GIF89a stream ([[GifCodec]] — global palette,
    * per-frame Graphics Control Extensions, real variable-width LZW)
    * built from the closed-form index/palette laws. Map-side synthesis;
    * payloads never shuffle.
    */
  def gifMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "video")
            (id, GifCodec.synth(id, 8 + (id % 10).toInt,
              24 + (id % 8).toInt, 15 + (id % 8).toInt), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** The animated-GIF frame path — container walk, LZW decompression, AND
    * palette mapping in one oracle: every `every`-th frame streams lazily
    * out of the block sequence (skipped frames are walked by sub-block
    * lengths alone, never decompressed — the sampling win at scale), is
    * LZW-decoded, palette-mapped, and reduced to per-channel pixel sums
    * plus the frame's GCE delay. The oracle replays frame selection, the
    * index law, the palette law, and the delay law as pure integer
    * arithmetic with no codec — a wrong bit anywhere in the LZW variable
    * code widths, the clear/EOI handling, the sub-block walk, or the GCE
    * parse breaks the hash. Map-side flatMap; payloads never shuffle;
    * output rows = ⌈n/every⌉ per video, never n.
    */
  def gifFrameFeatures(spark: SparkSession, dir: String,
                       every: Int = 3): DataFrame = {
    import spark.implicits._
    require(every > 0)
    servedMediaStore(spark, dir, "gif2")(gifMediaTable(spark, dir))
      .filter(col("media_type") === "video")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          GifCodec.sampledRgbFrames(payload, every).map { case (fi, delay, rgb) =>
            val (sr, sg, sb, _) = channelSums(rgb)
            (id, fi, delay, sr, sg, sb)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "delay_cs", "sum_r", "sum_g", "sum_b")
  }

  /** Ingest face with REAL lossless-WebP payloads: image docs carry a
    * VP8L stream ([[WebpCodec]] — canonical prefix codes over ARGB
    * literals) built from the closed-form pixel law. Map-side synthesis;
    * nothing shuffles.
    */
  def webpMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "image")
            (id, WebpCodec.synth(id, 21 + (id % 13).toInt, 14 + (id % 11).toInt), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** The VP8L face of [[imageFeatures]]: synth → entropy encode → decode →
    * exact-integer channel features. The oracle replays the pixel law with
    * NO codec, so one wrong bit anywhere in the prefix-code serialization,
    * the canonical code assignment, or the literal decode shifts a sum and
    * breaks the hash; `compressed` pins that the entropy coder genuinely
    * beats 3 bytes/pixel on the 64-level law. Payloads read from the
    * served media store (ingest-once); map-side decode, no shuffle.
    */
  def webpImageFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedMediaStore(spark, dir, "webp")(webpMediaTable(spark, dir))
      .filter(col("media_type") === "image")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = WebpCodec.decode(payload)
          var sr = 0L; var sg = 0L; var sb = 0L; var mx = 0
          var i = 0
          while (i < img.argb.length) {
            val p = img.argb(i)
            val r = (p >>> 16) & 0xff; val g = (p >>> 8) & 0xff; val b = p & 0xff
            sr += r; sg += g; sb += b
            if (r > mx) mx = r
            if (g > mx) mx = g
            if (b > mx) mx = b
            i += 1
          }
          (id, img.width, img.height, sr, sg, sb, mx,
            payload.length < 3 * img.width * img.height)
        }
      }
      .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "peak", "compressed")
  }

  /** Version-keyed served media store: the synthesized payload table is
    * written ONCE per corpus version and read thereafter — the ingest-once
    * discipline every other served artifact in the repo follows. The
    * compression-heavy feature faces (MJPEG, GIF, FLAC) read payloads from
    * here so their queries measure the DECODE serving path, not a per-query
    * re-ENCODE of the whole corpus: at 100 TB media bytes are written by
    * the ingest pipeline exactly once and every downstream query is a
    * payload-column scan + map-side decode.
    */
  private def servedMediaStore(spark: SparkSession, dir: String, kind: String)
                              (build: => DataFrame): DataFrame =
    DerivedStore.parquet(spark, s"media$kind", dir, "documents.parquet")(build)

  /** A decoded-audio feature row — every field an exact integer. */
  case class AudioFeatures(
      doc_id: Long, sample_rate: Int, n_samples: Int, duration_ms: Long,
      sum_sq: Long, zero_cross: Long, peak: Int)

  /** Audio feature extraction over REAL decoded samples: duration,
    * energy (Σs²), zero-crossing count, peak |amplitude| — the signal
    * statistics an audio-curation pipeline filters on (silence / clipping
    * / length gates). Every feature is exact integer arithmetic on the
    * DECODED samples and the HEADER-parsed rate, so the oracle — which
    * recomputes them straight from the sample law with no codec at all —
    * verifies the WAV round trip bit for bit. Map-side `mapPartitions`;
    * payloads never shuffle.
    */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    wavMediaTable(spark, dir)
      .filter(col("media_type") === "audio")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val a = WavCodec.decode(payload)
          val s = a.samples
          var sumSq = 0L
          var zc = 0L
          var peak = 0
          var i = 0
          while (i < s.length) {
            val v = s(i).toInt
            sumSq += v.toLong * v
            if (i > 0 && s(i - 1).toInt * v < 0) zc += 1
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          AudioFeatures(id, a.sampleRate, s.length,
            s.length.toLong * 1000L / a.sampleRate, sumSq, zc, peak)
        }
      }
      .toDF()
  }

  /** Ingest face with REAL compressed-audio payloads: audio rows carry a
    * deterministic synthetic FLAC ([[FlacCodec]] — fixed predictors + Rice
    * coding + CRC-8/CRC-16/MD5 integrity chain) built from the closed-form
    * sample law, the same device as [[wavMediaTable]] with the lossless
    * COMPRESSED format. Map-side synthesis; nothing shuffles.
    */
  def flacMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select("doc_id", "payload", "media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          if (mt == "audio")
            (id, FlacCodec.synth(id, 512 + (id % 512).toInt,
              8000 + (id % 4).toInt * 2000), mt)
          else (id, payload, mt)
        }
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** [[AudioFeatures]] plus the lossless-compression verdict. */
  case class FlacFeatures(
      doc_id: Long, sample_rate: Int, n_samples: Int, duration_ms: Long,
      sum_sq: Long, zero_cross: Long, peak: Int, compressed: Boolean)

  /** The FLAC face of [[audioFeatures]]: synth → FLAC encode (fixed
    * predictors, Rice residuals) → full decode (CRC-8 + CRC-16 +
    * STREAMINFO MD5 verified) → exact-integer features. The oracle replays
    * the sample law with NO codec, so any bit the compressed round trip
    * flips in rate, length, or samples breaks the hash gate — and the
    * `compressed` gate (payload strictly smaller than the 16-bit raw
    * stream) pins that the predictor/Rice stage actually compresses, not
    * just round-trips. Map-side `mapPartitions`; payloads never shuffle.
    */
  def flacAudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    servedMediaStore(spark, dir, "flac")(flacMediaTable(spark, dir))
      .filter(col("media_type") === "audio")
      .select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val a = FlacCodec.decode(payload)
          val s = a.samples
          var sumSq = 0L
          var zc = 0L
          var peak = 0
          var i = 0
          while (i < s.length) {
            val v = s(i).toInt
            sumSq += v.toLong * v
            if (i > 0 && s(i - 1).toInt * v < 0) zc += 1
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          FlacFeatures(id, a.sampleRate, s.length,
            s.length.toLong * 1000L / a.sampleRate, sumSq, zc, peak,
            payload.length < 2 * s.length)
        }
      }
      .toDF()
  }

  /** Partition-parallel decode stage: the Scala analog of `mapInPandas` —
    * typed `mapPartitions` over an iterator of rows, one decode call per
    * payload, never materializing a partition in memory.
    */
  def decodeMedia(spark: SparkSession, dir: String): Dataset[MediaMeta] =
    decodeMediaOf(spark, mediaTable(spark, dir))

  /** Same decode stage over ANY (doc_id, payload, media_type) frame — the
    * seam the real-payload path ([[bmpMediaTable]]) shares with the opaque
    * ingest face. */
  def decodeMediaOf(spark: SparkSession, mediaDf: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    val media = mediaDf
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .withColumn("payload_md5", md5(col("payload")))
    media.select("doc_id", "media_type", "payload", "byte_len", "payload_md5")
      .as[(Long, String, Array[Byte], Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, mt, payload, len, hash) =>
          val (w, hgt, sr, nf) = stubDecode(payload, mt)
          MediaMeta(id, mt, len, hash, w, hgt, sr, nf)
        }
      }
  }

  case class ResizedMedia(
      doc_id: Long, media_type: String, payload: Array[Byte],
      width: Int, height: Int)

  case class Frame(doc_id: Long, frame_idx: Int, frame_md5: String, byte_len: Long)

  /** Resize stage: decode → scale to a fixed training shape (the 224×224
    * vision-model preprocessing step). BMP payloads run the REAL path —
    * decode, nearest-neighbor rescale, re-encode ([[BmpCodec]]); other
    * payloads keep the deterministic byte-truncation stub until their
    * codecs exist. Either way the Spark shape is the same — map-side
    * `mapPartitions`, payload never shuffled, output payload bounded by
    * the target raster regardless of input size (the property that keeps a
    * 100 TB image crawl from doubling in flight).
    */
  def resizeStage(spark: SparkSession, dir: String,
                  targetW: Int = 224, targetH: Int = 224): Dataset[ResizedMedia] =
    resizeStageOf(spark, mediaTable(spark, dir), targetW, targetH)

  def resizeStageOf(spark: SparkSession, mediaDf: DataFrame,
                    targetW: Int = 224, targetH: Int = 224): Dataset[ResizedMedia] = {
    import spark.implicits._
    mediaDf
      .select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mt, payload) =>
          if (BmpCodec.isBmp(payload)) {
            val scaled = BmpCodec.resizeNearest(BmpCodec.decode(payload), targetW, targetH)
            ResizedMedia(id, mt, BmpCodec.encode(scaled), targetW, targetH)
          } else if (PngCodec.isPng(payload)) {
            val scaled = BmpCodec.resizeNearest(PngCodec.decode(payload), targetW, targetH)
            ResizedMedia(id, mt, PngCodec.encode(scaled), targetW, targetH)
          } else if (JpegCodec.isJpeg(payload)) {
            val scaled = BmpCodec.resizeNearest(JpegCodec.decode(payload), targetW, targetH)
            ResizedMedia(id, mt, JpegCodec.encode(scaled), targetW, targetH)
          } else if (GifCodec.isGif(payload)) {
            // animated: every frame scales in index space, palette kept
            val scaled = GifCodec.resizeNearest(GifCodec.decode(payload), targetW, targetH)
            ResizedMedia(id, mt, GifCodec.encode(scaled), targetW, targetH)
          } else if (WebpCodec.isWebp(payload)) {
            val scaled = WebpCodec.resizeNearest(WebpCodec.decode(payload), targetW, targetH)
            ResizedMedia(id, mt, WebpCodec.encode(scaled), targetW, targetH)
          } else {
            // ??? <- further codecs' scalers go here; deterministic stub:
            // clamp payload to the target raster size
            val resized = java.util.Arrays.copyOf(payload,
              math.min(payload.length, targetW * targetH))
            ResizedMedia(id, mt, resized, targetW, targetH)
          }
        }
      }
  }

  /** Frame-sampling stage: one video row fans out to every `every`-th frame
    * (the contact-sheet / keyframe extraction step). REAL for AVI (movi
    * walk, actual frame bytes), animated GIF (lazy LZW decode of only
    * the sampled frames), and H.264 Annex-B elementary streams (NAL walk
    * + slice-header access-unit rule, [[H264Codec]] — sampled coded
    * pictures' actual bytes; pixel reconstruction is real for whole
    * baseline CAVLC videos — IDR + P with quarter-pel MC and in-loop
    * deblocking, [[H264Cavlc]] — the one declared stub is CABAC);
    * payloads with none of those magics
    * fall to a stub digest that keeps the fan-out shape tested. Either
    * way the shape is the point at scale: an iterator `flatMap` inside
    * `mapPartitions`, so a 2-hour video's frames stream out without
    * materializing the whole list, and the output row count is
    * n_frames/every, never n_frames.
    */
  def frameSample(spark: SparkSession, dir: String, every: Int = 10): Dataset[Frame] =
    frameSampleOf(spark, mediaTable(spark, dir), every)

  /** [[frameSample]] over ANY (doc_id, payload, media_type) frame — the
    * seam the real-container paths (AVI, animated GIF) share with the
    * opaque ingest face. */
  def frameSampleOf(spark: SparkSession, mediaDf: DataFrame,
                    every: Int = 10): Dataset[Frame] = {
    import spark.implicits._
    require(every > 0)
    mediaDf
      .filter(col("media_type") === "video")
      .select("doc_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // one digest + index buffer per partition, reset per frame — not
        // per-frame allocation in the hot fan-out loop
        val md = java.security.MessageDigest.getInstance("MD5")
        val idx = java.nio.ByteBuffer.allocate(4)
        rows.flatMap { case (id, mt, payload) =>
          if (AviCodec.isAvi(payload)) {
            // REAL grab: every k-th frame's actual bytes out of the movi walk
            AviCodec.sampledFrames(payload, every).map { case (i, fb) =>
              md.reset()
              val hex = md.digest(fb).map("%02x".format(_)).mkString
              Frame(id, i, hex, fb.length.toLong)
            }
          } else if (GifCodec.isGif(payload)) {
            // REAL grab: lazy LZW decode of only the sampled frames
            GifCodec.sampledIndexFrames(payload, every).map { case (i, _, px) =>
              md.reset()
              val hex = md.digest(px).map("%02x".format(_)).mkString
              Frame(id, i, hex, px.length.toLong)
            }
          } else if (H264Codec.isAnnexB(payload)) {
            // REAL grab: every k-th ACCESS UNIT's first slice NAL walked
            // lazily off the Annex-B stream (start codes, emulation
            // prevention, slice-header AU rule — H264Codec); coded
            // picture bytes digested, the AVI movi walk's realness level
            H264Codec.sampledAccessUnits(payload, every).map { case (i, nal) =>
              md.reset()
              val hex = md.digest(nal).map("%02x".format(_)).mkString
              Frame(id, i, hex, nal.length.toLong)
            }
          } else {
            val (_, _, _, nFrames) = stubDecode(payload, mt)
            Iterator.range(0, nFrames, every).map { i =>
              // ??? <- further containers' frame grabs go here;
              // deterministic stub digest keeps the fan-out shape tested
              md.reset()
              md.update(payload)
              idx.clear(); idx.putInt(i)
              md.update(idx.array())
              val hex = md.digest().map("%02x".format(_)).mkString
              Frame(id, i, hex, payload.length.toLong)
            }
          }
        }
      }
  }

  /** Oracle-checkable face: metadata extraction that needs no codec at all —
    * byte length, content hash, deterministic type/width assignment. Proves
    * the binary-column plumbing (cast, octet length, md5-over-bytes) matches
    * a second engine byte for byte.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      octet_length(col("text")).cast("long").as("byte_len"),
      md5(col("text").cast("binary")).as("payload_md5"),
      (lit(64) + pmod(col("doc_id") * 7, lit(1024))).cast("int").as("stub_width"))
  }

  /** STUB media encoder: a deterministic 64-dim embedding derived from the
    * payload's content hash — md5-chained per-dimension values in [-1, 1).
    * A real encoder (CLIP image tower, an audio embedder) replaces ONLY
    * this expression; everything downstream — map-side encode (the payload
    * never shuffles), the embedding column shape, ANN retrieval — is the
    * real pipeline. Expression-level (not mapPartitions) so the DuckDB
    * oracle replays the bytes→vector derivation exactly.
    */
  private[graft] def stubEncode(payloadMd5: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(1), lit(64)), j =>
      (conv(substring(md5(concat(payloadMd5, lit(":"), j.cast("string"))), 1, 15),
        16, 10).cast("long") % 2000000L).cast("double") / 1000000.0 - 1.0)

  /** Media embedding store per corpus version — encode-once serving:
    * a real multimodal system never re-runs its encoder tower per query;
    * embeddings are materialized artifacts (this is exactly what the
    * shipped `embeddings` table is for text). First touch per dir pays the
    * encode pass (payload → stub vector, map-side, payload never shuffles)
    * and writes the (doc_id, media_type, v) relation; every retrieval after
    * that scans the store. Parquet round-trips the doubles exactly, so
    * serving is bit-identical to inline encoding and the oracle (which
    * re-derives bytes→vector per query) still hash-matches.
    */
  private def servedMediaEmbeddings(spark: SparkSession, dir: String): DataFrame =
    DerivedStore.parquet(spark, "media", dir, "documents.parquet") {
      mediaTable(spark, dir)
        .select(col("doc_id"), col("media_type"),
          stubEncode(md5(col("payload"))).as("v"))
    }

  /** Ingest face where EVERY media row carries a real decodable
    * payload: image → PNG, audio → WAV PCM, video → CAVLC intra H.264 —
    * the same synthesis laws as their per-format feature faces.
    */
  def decodedMediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // doc_id + media_type only: the raw text payload is replaced by
    // synthesis for EVERY row, so reading it is pure wasted I/O at
    // store build (r14 review)
    mediaTable(spark, dir)
      .select("doc_id", "media_type")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, mt) =>
        val payload = mt match {
          case "image" => synthImagePayload(id)
          case "audio" => synthAudioPayload(id)
          case _ => synthVideoCavlcPayload(id)
        }
        (id, payload, mt)
      })
      .toDF("doc_id", "payload", "media_type")
  }

  /** DECODED-content media embedding — the upgrade of [[stubEncode]]'s
    * hash seam: the vector derives from actually-decoded samples, so
    * the decode → feature → ANN pipeline is real end to end. Image:
    * PNG decode → 8x8 BT.601 luminance grid ([[BmpCodec.pixelEmbed]]);
    * audio: WAV decode → 64-bin mean |amplitude|
    * ([[WavCodec.sampleEmbed]]); video: CAVLC H.264 decode of the first
    * picture → the same 8x8 luminance grid over the gray luma plane.
    * What remains a modeling stand-in is the GRID instead of a learned
    * tower — a choice, not a fake: every byte feeding the vector came
    * out of a real decoder.
    */
  private def decodedEmbed(payload: Array[Byte], mediaType: String): Array[Double] =
    mediaType match {
      case "image" => BmpCodec.pixelEmbed(PngCodec.decode(payload))
      case "audio" => WavCodec.sampleEmbed(WavCodec.decode(payload))
      case _ =>
        // only the FIRST picture feeds the embedding: decode just that
        // access unit instead of the whole stream (r14 review)
        val nals = H264Codec.nalUnits(payload)
        var sps: H264Codec.Sps = null
        var pps: H264Codec.Pps = null
        var f: H264Cavlc.Yuv = null
        while (f == null && nals.hasNext) {
          nals.next() match {
            case (7, n) => sps = H264Codec.parseSps(n)
            case (8, n) => pps = H264Codec.parsePpsFull(n)
            case (5, n) =>
              require(sps != null && pps != null, "slice NAL before SPS/PPS")
              f = H264Cavlc.decodeISlice(n, sps, pps)
            case _ => ()
          }
        }
        require(f != null, "no decodable IDR picture in the video payload")
        val rgb = new Array[Byte](f.width * f.height * 3)
        var k = 0
        while (k < f.luma.length) {
          val v = f.luma(k).toByte
          rgb(3 * k) = v; rgb(3 * k + 1) = v; rgb(3 * k + 2) = v
          k += 1
        }
        BmpCodec.pixelEmbed(BmpCodec.Image(f.width, f.height, rgb))
    }

  private def servedDecodedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    DerivedStore.parquet(spark, "mediadec", dir, "documents.parquet") {
      decodedMediaTable(spark, dir)
        .as[(Long, Array[Byte], String)]
        .mapPartitions(_.map { case (id, payload, mt) =>
          (id, mt, decodedEmbed(payload, mt))
        })
        .toDF("doc_id", "media_type", "v")
    }
  }

  /** Media similarity retrieval over DECODED-content embeddings: the
    * same cosine top-k serving plan as [[mediaAnn]], but every vector
    * came through a real codec (PNG / WAV / H.264) rather than a
    * payload hash. The DuckDB oracle replays decode-equivalent laws —
    * the PNG pixel law through the nearest-neighbor grid, the WAV
    * sample law through the 64 bins, the CAVLC closed form through the
    * luma grid — with no codec at all.
    */
  def mediaAnnDecoded(spark: SparkSession, dir: String, queryDocId: Long = 0L,
                      k: Int = 10): DataFrame = {
    val m = servedDecodedEmbeddings(spark, dir)
    // bounded collect: one query doc's single vector (the literal-query
    // plan — same shape as mediaAnn below)
    val qRows = m.filter(col("doc_id") === queryDocId).select(col("v")).collect()
    require(qRows.nonEmpty, s"query doc_id=$queryDocId has no media embedding")
    val qv = array(qRows.head.getSeq[Double](0).map(lit(_)): _*)
    m.select(col("doc_id"), col("media_type"),
        SimilarityOps.cosine(col("v"), qv).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("media_type"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** Media similarity retrieval — the multimodal tier ending in a real
    * query instead of metadata: stored media embedding → cosine top-k
    * against doc 0's media vector (the brute-force ANN baseline; the
    * LSH/IVF/PQ paths above it apply unchanged to this embedding column).
    * The query vector is collected from the store (a pushed-filter 1-row
    * read — a model artifact) and rides as a LITERAL, so the retrieval
    * plan is a joinless single scan + partial top-k.
    */
  def mediaAnn(spark: SparkSession, dir: String, queryDocId: Long = 0L,
               k: Int = 10): DataFrame = {
    val m = servedMediaEmbeddings(spark, dir)
    val qRows = m.filter(col("doc_id") === queryDocId).select(col("v")).collect()
    require(qRows.nonEmpty, s"query doc_id=$queryDocId has no media embedding")
    val qv = array(qRows.head.getSeq[Double](0).map(lit(_)): _*)
    m.select(col("doc_id"), col("media_type"),
        SimilarityOps.cosine(col("v"), qv).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("media_type"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** SQL spelling of [[JpegCodec]]'s exact DC chain for quant step `q` —
    * every `//` numerator is non-negative by construction (sign split +
    * offset), so truncating division IS floor on both engines.
    */
  private def dcChainSql(ch: String, q: Int): String = {
    val a = s"64 * (($ch) - 128)"
    val dq = s"(CASE WHEN $a >= 0 THEN ($a + ${4 * q}) // ${8 * q} " +
      s"ELSE -((-($a) + ${4 * q}) // ${8 * q}) END)"
    s"least(255, greatest(0, 128 + (($dq * $q + 4 + 1048576) // 8) - 131072))"
  }

  /** Symmetric round-half-away ×2^-16 — the codec's `sround16`. */
  private def sr16Sql(x: String): String =
    s"(CASE WHEN ($x) >= 0 THEN (($x) + 32768) // 65536 " +
      s"ELSE -((-($x) + 32768) // 65536) END)"

  private def jpegOracle: String = {
    val y2 = dcChainSql("y", 6)
    val cb2 = dcChainSql("cb", 8)
    val cr2 = dcChainSql("cr", 8)
    s"""WITH im AS (
       |  SELECT doc_id, CAST(1 + doc_id % 4 AS INT) AS wb,
       |         CAST(1 + doc_id % 3 AS INT) AS hb
       |  FROM documents WHERE doc_id % 3 = 0),
       |law AS (
       |  SELECT doc_id, wb, hb,
       |    (doc_id * 131 + i * 17) % 256 AS r,
       |    (doc_id * 131 + i * 29) % 256 AS g,
       |    (doc_id * 131 + i * 47) % 256 AS b
       |  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS i FROM im)),
       |ycc AS (
       |  SELECT doc_id, wb, hb,
       |    (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
       |    least(255, greatest(0,
       |      (32768*b - 11059*r - 21709*g + 8421376) // 65536)) AS cb,
       |    least(255, greatest(0,
       |      (32768*r - 27439*g - 5329*b + 8421376) // 65536)) AS cr
       |  FROM law),
       |dc AS (
       |  SELECT doc_id, wb, hb,
       |    $y2 AS y2, $cb2 AS cb2, $cr2 AS cr2
       |  FROM ycc),
       |rec AS (
       |  SELECT doc_id, wb, hb,
       |    least(255, greatest(0, y2 + ${sr16Sql("91881 * (cr2 - 128)")})) AS r2,
       |    least(255, greatest(0, y2 - ${sr16Sql("22554 * (cb2 - 128) + 46802 * (cr2 - 128)")})) AS g2,
       |    least(255, greatest(0, y2 + ${sr16Sql("116130 * (cb2 - 128)")})) AS b2
       |  FROM dc)
       |SELECT doc_id, CAST(8 * wb AS INT) AS width, CAST(8 * hb AS INT) AS height,
       |  CAST(64 * SUM(r2) AS BIGINT) AS sum_r,
       |  CAST(64 * SUM(g2) AS BIGINT) AS sum_g,
       |  CAST(64 * SUM(b2) AS BIGINT) AS sum_b
       |FROM rec GROUP BY doc_id, wb, hb""".stripMargin
  }

  /** Replays MJPEG frame selection + the JPEG DC chain with NEITHER codec:
    * frame `fi` of video `doc` is two constant blocks seeded
    * `doc_id + 7·fi`, so container boundaries and in-frame transform
    * decode are both hash-gated.
    */
  private def mjpegOracle: String = {
    val y2 = dcChainSql("y", 6)
    val cb2 = dcChainSql("cb", 8)
    val cr2 = dcChainSql("cr", 8)
    s"""WITH v AS (
       |  SELECT doc_id, CAST(12 + doc_id % 12 AS INT) AS n
       |  FROM documents WHERE doc_id % 3 = 2),
       |law AS (
       |  SELECT doc_id, fi,
       |    ((doc_id + 7 * fi) * 131 + bi * 17) % 256 AS r,
       |    ((doc_id + 7 * fi) * 131 + bi * 29) % 256 AS g,
       |    ((doc_id + 7 * fi) * 131 + bi * 47) % 256 AS b
       |  FROM (SELECT doc_id, fi, unnest(range(0, 2)) AS bi
       |        FROM (SELECT doc_id, unnest(range(0, n, 5)) AS fi FROM v))),
       |ycc AS (
       |  SELECT doc_id, fi,
       |    (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
       |    least(255, greatest(0,
       |      (32768*b - 11059*r - 21709*g + 8421376) // 65536)) AS cb,
       |    least(255, greatest(0,
       |      (32768*r - 27439*g - 5329*b + 8421376) // 65536)) AS cr
       |  FROM law),
       |dc AS (
       |  SELECT doc_id, fi, $y2 AS y2, $cb2 AS cb2, $cr2 AS cr2 FROM ycc),
       |rec AS (
       |  SELECT doc_id, fi,
       |    least(255, greatest(0, y2 + ${sr16Sql("91881 * (cr2 - 128)")})) AS r2,
       |    least(255, greatest(0, y2 - ${sr16Sql("22554 * (cb2 - 128) + 46802 * (cr2 - 128)")})) AS g2,
       |    least(255, greatest(0, y2 + ${sr16Sql("116130 * (cb2 - 128)")})) AS b2
       |  FROM dc)
       |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       |  CAST(64 * SUM(r2) AS BIGINT) AS sum_r,
       |  CAST(64 * SUM(g2) AS BIGINT) AS sum_g,
       |  CAST(64 * SUM(b2) AS BIGINT) AS sum_b
       |FROM rec GROUP BY doc_id, fi""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Replays the H.264 synthesis law directly (no bitstream): the hash
    // gate proves the SPS parse (including the 4:2:0 cropping law), the
    // slice-header access-unit rule, and IDR classification against the
    // arithmetic the stream was built from — a mis-read exp-Golomb field
    // or a missed AU boundary breaks a row.
    // Replays the I_PCM pixel LAW as arithmetic (no bitstream): any bit
    // the NAL walk / EP strip / exp-Golomb header parse / PCM alignment /
    // MB raster placement misreads flips a plane sum or the max.
    // Replays the CAVLC-face pixel law CLOSED-FORM (no bitstream, no
    // decoder): every 4x4 block reconstructs flat to
    // v = 128 + 4*sum_{0<j<=y} L(f,x,j) (DC-only residual at qp 28 is
    // exactly 4*level; DC prediction on block row 0, Vertical below),
    // so the plane sums and the position-weighted luma sum are linear
    // functionals of the level law. Any slip anywhere in the chain —
    // coeff_token table, nC context, total_zeros, run placement, level
    // sign, dequant scale, IDCT rounding, prediction source, raster
    // placement — shifts a sum. wsum_luma weights each block by
    // 1 + 3*gx + 7*gy so a level landing in the wrong COLUMN breaks it
    // even when the plain sum survives.
    "q_h264_cavlc" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(2 + doc_id % 5 AS BIGINT) AS wmb,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS hmb,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |g AS (SELECT doc_id, wmb, hmb, nf, 4*wmb AS wb, 4*hmb AS hb FROM v),
        |e AS (
        |  SELECT doc_id, wmb, hmb, nf, wb, hb,
        |    t.k // (wb*(hb-1)) AS f,
        |    (t.k % (wb*(hb-1))) % wb AS x,
        |    1 + (t.k % (wb*(hb-1))) // wb AS j
        |  FROM g, UNNEST(range(0, nf * wb * (hb-1))) AS t(k)),
        |a AS (
        |  SELECT doc_id, any_value(wmb) AS wmb, any_value(hmb) AS hmb,
        |    any_value(nf) AS nf, any_value(wb) AS wb, any_value(hb) AS hb,
        |    SUM((((doc_id*7 + f*131 + x*31 + j*17) % 5) - 2) * (hb - j)) AS lsum,
        |    SUM((((doc_id*7 + f*131 + x*31 + j*17) % 5) - 2)
        |        * ((hb - j) * (1 + 3*x) + 7*((hb-1)*hb//2 - (j-1)*j//2))) AS wlsum
        |  FROM e GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(16*wmb AS INT) AS width,
        |  CAST(16*hmb AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(nf*2048*wb*hb + 64*lsum AS BIGINT) AS sum_luma,
        |  CAST(nf*2048*(wb*hb + 3*hb*(wb-1)*wb//2 + 7*wb*(hb-1)*hb//2)
        |       + 64*wlsum AS BIGINT) AS wsum_luma,
        |  CAST(nf*128*64*wmb*hmb AS BIGINT) AS sum_cb,
        |  CAST(nf*128*64*wmb*hmb AS BIGINT) AS sum_cr
        |FROM a""".stripMargin,
    // Replays the INTER face's pixel law with no decoder: frame 0 is
    // the DC-only closed form (a window prefix sum per block column);
    // every P frame is a CLAMPED BLOCK TRANSLATION of the previous one
    // by the per-frame mv law (nested LEAST/GREATEST compose the <= 2
    // P-frame chain exactly). The hash gate thereby pins mb_skip_run,
    // P mb types, mvd signs, the median mvp chain, quarter-pel MC's
    // integer path with edge clamping, and frame ordering — a wrong
    // anything translates blocks to the wrong place and breaks a sum.
    "q_h264_inter" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(2 + doc_id % 5 AS BIGINT) AS wmb,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS hmb,
        |    CAST(2 + doc_id % 2 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |g AS (SELECT doc_id, wmb, hmb, nf, 4*wmb AS wb, 4*hmb AS hb,
        |    ((doc_id*31 + 17) % 5) - 2 AS kx1, ((doc_id*13 + 23) % 5) - 2 AS ky1,
        |    ((doc_id*31 + 34) % 5) - 2 AS kx2, ((doc_id*13 + 46) % 5) - 2 AS ky2
        |  FROM v),
        |b0 AS (
        |  SELECT doc_id, t.k % wb AS x, t.k // wb AS y,
        |    128 + 4 * SUM(CASE WHEN t.k // wb = 0 THEN 0
        |      ELSE ((doc_id*7 + (t.k % wb) * 31 + (t.k // wb) * 17) % 5) - 2 END)
        |      OVER (PARTITION BY doc_id, t.k % wb ORDER BY t.k // wb) AS val
        |  FROM g, UNNEST(range(0, wb * hb)) AS t(k)),
        |d AS (
        |  SELECT g.doc_id, t.k % wb AS x, t.k // wb AS y, wmb, hmb, nf,
        |    CASE fr.f WHEN 0 THEN t.k % wb
        |      WHEN 1 THEN LEAST(wb-1, GREATEST(0, t.k % wb + kx1))
        |      ELSE LEAST(wb-1, GREATEST(0,
        |        LEAST(wb-1, GREATEST(0, t.k % wb + kx2)) + kx1)) END AS sx,
        |    CASE fr.f WHEN 0 THEN t.k // wb
        |      WHEN 1 THEN LEAST(hb-1, GREATEST(0, t.k // wb + ky1))
        |      ELSE LEAST(hb-1, GREATEST(0,
        |        LEAST(hb-1, GREATEST(0, t.k // wb + ky2)) + ky1)) END AS sy
        |  FROM g, UNNEST(range(0, wb * hb)) AS t(k), UNNEST(range(0, nf)) AS fr(f)),
        |a AS (
        |  SELECT d.doc_id, any_value(d.wmb) AS wmb, any_value(d.hmb) AS hmb,
        |    any_value(d.nf) AS nf,
        |    SUM(b0.val) AS sv, SUM((1 + 3*d.x + 7*d.y) * b0.val) AS wv
        |  FROM d JOIN b0 ON b0.doc_id = d.doc_id AND b0.x = d.sx AND b0.y = d.sy
        |  GROUP BY d.doc_id)
        |SELECT doc_id,
        |  CAST(16*wmb AS INT) AS width,
        |  CAST(16*hmb AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(16*sv AS BIGINT) AS sum_luma,
        |  CAST(16*wv AS BIGINT) AS wsum_luma,
        |  CAST(nf*128*64*wmb*hmb AS BIGINT) AS sum_cb,
        |  CAST(nf*128*64*wmb*hmb AS BIGINT) AS sum_cr
        |FROM a""".stripMargin,
    // Replays the inter face's MB-kind and motion laws directly: every
    // P macroblock is explicit inter (no skips in the oracle face), the
    // per-frame mv is 16*k quarter-pel over 16 blocks per MB, so the
    // motion sums are pure arithmetic over the kx/ky laws.
    "q_video_motion" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST((2 + doc_id % 5) * (1 + doc_id % 3) AS BIGINT) AS nmb,
        |    CAST(2 + doc_id % 2 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |mv AS (
        |  SELECT doc_id, nmb, nf,
        |    SUM(abs(((doc_id*31 + f.f*17) % 5) - 2)
        |      + abs(((doc_id*13 + f.f*23) % 5) - 2)) AS ksum,
        |    MAX(GREATEST(abs(((doc_id*31 + f.f*17) % 5) - 2),
        |      abs(((doc_id*13 + f.f*23) % 5) - 2))) AS kmax
        |  FROM v, UNNEST(range(1, nf)) AS f(f)
        |  GROUP BY doc_id, nmb, nf)
        |SELECT doc_id,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(nmb AS BIGINT) AS n_intra_mb,
        |  CAST(nmb * (nf - 1) AS BIGINT) AS n_inter_mb,
        |  CAST(0 AS BIGINT) AS n_skip_mb,
        |  CAST(256 * nmb * ksum AS BIGINT) AS sum_abs_mv,
        |  CAST(16 * kmax AS INT) AS max_abs_mv
        |FROM mv""".stripMargin,
    "q_h264_pixels" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    (2 + doc_id % 5) * (1 + doc_id % 2) AS nmb,
        |    CAST(16 * (2 + doc_id % 5) AS INT) AS width,
        |    CAST(16 * (1 + doc_id % 2) AS INT) AS height
        |  FROM documents WHERE doc_id % 3 = 2),
        |s AS (
        |  SELECT doc_id, width, height,
        |    list_transform(range(0, nmb * 256), k ->
        |      (doc_id * 131 + (k // 256) * 7 + (k % 256) * 3) % 256) AS ly,
        |    list_transform(range(0, nmb * 128), k ->
        |      (doc_id * 59 + (k // 128) * 5 + (k % 128) * 11 + 128) % 256) AS ch
        |  FROM v)
        |SELECT doc_id, width, height,
        |  CAST(list_sum(ly) AS BIGINT) AS sum_luma,
        |  CAST(list_sum(list_filter(ch, (x, i) -> (i - 1) % 128 < 64)) AS BIGINT) AS sum_cb,
        |  CAST(list_sum(list_filter(ch, (x, i) -> (i - 1) % 128 >= 64)) AS BIGINT) AS sum_cr,
        |  CAST(list_max(ly) AS INT) AS max_luma
        |FROM s""".stripMargin,
    "q_h264_meta" ->
      """SELECT doc_id, CAST(66 AS INT) AS profile_idc,
        |  CAST(16 * (4 + doc_id % 8) - 2 * (doc_id % 3) AS INT) AS width,
        |  CAST(16 * (3 + doc_id % 5) - 2 * (doc_id % 2) AS INT) AS height,
        |  CAST(20 + doc_id % 30 AS BIGINT) AS n_frames,
        |  CAST((20 + doc_id % 30 + 9) // 10 AS BIGINT) AS n_idr
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    // Replays the JPEG DC chain (color transform → quantize → dequant →
    // IDCT DC shortcut → inverse color transform) as pure integer
    // arithmetic, no codec: the hash gate validates markers, Huffman,
    // DC prediction, and the dequant/IDCT scale end to end.
    "q_jpeg_features" -> jpegOracle,
    "q_mjpeg_frames" -> mjpegOracle,
    // Replays the PNG pixel law directly (no codec): any bit the
    // filter+deflate encode / inflate+unfilter decode path flips in any
    // channel breaks a channel sum, and lum8_sum replays resizeNearest's
    // integer source mapping (sy = y·h/8, sx = x·w/8) independently.
    "q_image_features" ->
      """WITH im AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 24 AS INT) AS width,
        |    CAST(8 + doc_id % 16 AS INT) AS height
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, width, height,
        |    list_transform(range(0, width * height * 3), k ->
        |      (doc_id * 131 + k * 773) % 256) AS p
        |  FROM im)
        |SELECT doc_id, width, height,
        |  CAST(list_sum(list_transform(range(0, width * height * 3, 3),
        |    k -> p[k + 1])) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(range(1, width * height * 3, 3),
        |    k -> p[k + 1])) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(2, width * height * 3, 3),
        |    k -> p[k + 1])) AS BIGINT) AS sum_b,
        |  CAST(list_max(p) AS INT) AS max_byte,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |      77 * p[((i // 8) * height // 8 * width + ((i % 8) * width) // 8) * 3 + 1]
        |    + 151 * p[((i // 8) * height // 8 * width + ((i % 8) * width) // 8) * 3 + 2]
        |    + 28 * p[((i // 8) * height // 8 * width + ((i % 8) * width) // 8) * 3 + 3]
        |  )) AS BIGINT) AS lum8_sum
        |FROM px""".stripMargin,
    // Replays the frame synthesis law directly (no container): any
    // mis-walked chunk boundary or dropped pad byte in the AVI movi walk
    // shifts a frame and breaks an md5.
    "q_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id, CAST(30 + doc_id % 60 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id,
        |    unnest(range(0, n_frames, 10)) AS i,
        |    repeat('x', CAST(doc_id % 50 AS INT) + 1) AS fill
        |  FROM v)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  md5(doc_id || ':' || i || ':' || fill) AS frame_md5,
        |  CAST(octet_length(encode(doc_id || ':' || i || ':' || fill)) AS BIGINT)
        |    AS byte_len
        |FROM f""".stripMargin,
    // Replays the synthetic sample law directly (no codec): any bit the
    // WAV encode∘decode path flips in rate, length, or samples breaks one
    // of these exact-integer features.
    "q_audio_features" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 4) * 2000 AS INTEGER) AS sample_rate,
        |    CAST(512 + (doc_id % 512) AS INTEGER) AS n_samples,
        |    list_transform(range(0, 512 + (doc_id % 512)), i ->
        |      (doc_id * 131 + i * 773) % 4001 - 2000) AS s
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT doc_id, sample_rate, n_samples,
        |  CAST((n_samples * 1000) // sample_rate AS BIGINT) AS duration_ms,
        |  CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sum_sq,
        |  CAST(len(list_filter(range(2, CAST(n_samples AS BIGINT) + 1),
        |    i -> s[i-1] * s[i] < 0)) AS BIGINT) AS zero_cross,
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak
        |FROM a""".stripMargin,
    // Same device over the COMPRESSED audio round trip (FLAC sample law,
    // distinct mixing constants); `compressed` pins that the
    // predictor/Rice stage beat the raw 16-bit stream on every row.
    "q_flac_features" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 4) * 2000 AS INTEGER) AS sample_rate,
        |    CAST(512 + (doc_id % 512) AS INTEGER) AS n_samples,
        |    list_transform(range(0, 512 + (doc_id % 512)), i ->
        |      (doc_id * 241 + i * 661) % 4001 - 2000) AS s
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT doc_id, sample_rate, n_samples,
        |  CAST((n_samples * 1000) // sample_rate AS BIGINT) AS duration_ms,
        |  CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sum_sq,
        |  CAST(len(list_filter(range(2, CAST(n_samples AS BIGINT) + 1),
        |    i -> s[i-1] * s[i] < 0)) AS BIGINT) AS zero_cross,
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak,
        |  TRUE AS compressed
        |FROM a""".stripMargin,
    // VP8L WebP: the pixel law replayed codec-free — one wrong bit in the
    // prefix-code machinery or the literal decode shifts a channel sum.
    "q_webp_features" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(21 + (doc_id % 13) AS BIGINT) AS w,
        |    CAST(14 + (doc_id % 11) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, list_transform(range(0, w * h), p ->
        |    (doc_id * 149 + ((p * 37) % 64) * 3) % 256) AS base
        |  FROM v)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(base) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(base, x -> (x + 97) % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(base, x -> (x + 194) % 256)) AS BIGINT) AS sum_b,
        |  greatest(
        |    CAST(list_max(base) AS INTEGER),
        |    CAST(list_max(list_transform(base, x -> (x + 97) % 256)) AS INTEGER),
        |    CAST(list_max(list_transform(base, x -> (x + 194) % 256)) AS INTEGER)) AS peak,
        |  TRUE AS compressed
        |FROM px""".stripMargin,
    // Animated GIF: frame selection, the index/palette/delay laws — the
    // whole container+LZW+palette chain replayed codec-free. One wrong
    // bit in a variable code width, clear/EOI step, sub-block boundary,
    // or GCE field shifts a sum or a delay and breaks the hash.
    "q_gif_frames" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CAST(24 + (doc_id % 8) AS BIGINT) AS w,
        |    CAST(15 + (doc_id % 8) AS BIGINT) AS h,
        |    8 + (doc_id % 10) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, w, h, UNNEST(range(0, nf, 3)) AS i FROM v),
        |px AS (
        |  SELECT doc_id, i, list_transform(range(0, w * h), p ->
        |    (doc_id * 131 + i * 977 + p * 37) % 64) AS idx
        |  FROM f)
        |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |  CAST(4 + (i % 6) AS INTEGER) AS delay_cs,
        |  CAST(list_sum(list_transform(idx, j -> (j * 41) % 256)) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(idx, j -> (j * 97) % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(idx, j -> (j * 163) % 256)) AS BIGINT) AS sum_b
        |FROM px""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS payload_md5,
        |  CAST(64 + (doc_id * 7) % 1024 AS INT) AS stub_width
        |FROM documents""".stripMargin,
    // Replays all three DECODE-equivalent embedding laws with no codec:
    // the PNG pixel law through the 8x8 nearest-neighbor luminance grid,
    // the WAV sample law through the 64 mean-|amplitude| bins (the same
    // two-step double division as sampleEmbed), and the CAVLC closed
    // form through the gray luma grid — then the same cosine top-k.
    // Any codec bit-slip anywhere upstream moves a vector component and
    // reorders or shifts a similarity.
    "q_media_ann_decoded" ->
      """WITH im AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |icell AS (
        |  SELECT doc_id, t.i AS i,
        |    ((t.i // 8) * h // 8 * w + ((t.i % 8) * w) // 8) * 3 AS k
        |  FROM im, UNNEST(range(0, 64)) AS t(i)),
        |iemb AS (
        |  SELECT doc_id, i,
        |    CAST(77 * ((doc_id*131 + k * 773) % 256)
        |       + 151 * ((doc_id*131 + (k+1) * 773) % 256)
        |       + 28 * ((doc_id*131 + (k+2) * 773) % 256) AS DOUBLE) / 32640.0 - 1.0 AS e
        |  FROM icell),
        |au AS (SELECT doc_id, CAST(512 + doc_id % 512 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |abin AS (
        |  SELECT doc_id, t.b AS i, (t.b * n) // 64 AS lo, ((t.b + 1) * n) // 64 AS hi
        |  FROM au, UNNEST(range(0, 64)) AS t(b)),
        |aemb AS (
        |  SELECT doc_id, i,
        |    CAST(list_sum(list_transform(range(lo, hi), s ->
        |      abs((doc_id*131 + s*773) % 4001 - 2000))) AS DOUBLE)
        |      / (hi - lo) / 16383.5 - 1.0 AS e
        |  FROM abin),
        |vi AS (SELECT doc_id, 4*(2 + doc_id % 5) AS wb, 4*(1 + doc_id % 3) AS hb
        |  FROM documents WHERE doc_id % 3 = 2),
        |b0 AS (
        |  SELECT doc_id, t.k % wb AS x, t.k // wb AS y,
        |    128 + 4*SUM(CASE WHEN t.k // wb = 0 THEN 0
        |      ELSE ((doc_id*7 + (t.k % wb)*31 + (t.k // wb)*17) % 5) - 2 END)
        |      OVER (PARTITION BY doc_id, t.k % wb ORDER BY t.k // wb) AS val
        |  FROM vi, UNNEST(range(0, wb*hb)) AS t(k)),
        |vcell AS (
        |  SELECT vi.doc_id, t.i AS i,
        |    (((t.i % 8) * (4*wb)) // 8) // 4 AS bx,
        |    (((t.i // 8) * (4*hb)) // 8) // 4 AS by
        |  FROM vi, UNNEST(range(0, 64)) AS t(i)),
        |vemb AS (
        |  SELECT vcell.doc_id, vcell.i, CAST(256 * b0.val AS DOUBLE) / 32640.0 - 1.0 AS e
        |  FROM vcell JOIN b0 ON b0.doc_id = vcell.doc_id
        |    AND b0.x = vcell.bx AND b0.y = vcell.by),
        |m AS (
        |  SELECT doc_id, 'image' AS media_type, list(e ORDER BY i) AS v FROM iemb GROUP BY doc_id
        |  UNION ALL SELECT doc_id, 'audio', list(e ORDER BY i) FROM aemb GROUP BY doc_id
        |  UNION ALL SELECT doc_id, 'video', list(e ORDER BY i) FROM vemb GROUP BY doc_id),
        |q AS (SELECT v AS qv FROM m WHERE doc_id = 0)
        |SELECT doc_id, media_type,
        |  round(list_cosine_similarity(v, qv), 6) AS cos_sim
        |FROM m CROSS JOIN q
        |ORDER BY list_cosine_similarity(v, qv) DESC, doc_id ASC
        |LIMIT 10""".stripMargin,
    "q_media_ann" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    list_transform(range(1, 65), j ->
        |      CAST(CAST('0x' || substr(md5(md5(text) || ':' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)
        |           % 2000000 AS DOUBLE) / 1000000.0 - 1.0) AS v
        |  FROM documents),
        |q AS (SELECT v AS qv FROM m WHERE doc_id = 0)
        |SELECT doc_id, media_type,
        |  round(list_cosine_similarity(v, qv), 6) AS cos_sim
        |FROM m CROSS JOIN q
        |ORDER BY list_cosine_similarity(v, qv) DESC, doc_id ASC
        |LIMIT 10""".stripMargin)
}
