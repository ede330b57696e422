package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal (binary) column operators. Media columns are opaque
  * `BinaryType` with typed metadata alongside; decode / feature-extract
  * runs executor-side over `mapPartitions` so a per-partition decoder
  * handle could be reused (here the "decoder" is a deterministic fake —
  * no media libs in this container — but the Spark-side plumbing: schema,
  * partition mapping, batch shape, is the real thing).
  *
  * SURVEY §2.1 S10-S12/K6: reference process_all.py:265-279 (PDF decode),
  * :382-392 (audio decode), push_to_hf.py:125-130 (duration probe).
  */
object MultimodalOps {

  final case class BinFeature(
    path: String, n_bytes: Long, content_md5: String, head: String)

  /** Deterministic per-blob "feature extraction" (stands in for decode /
    * resize / frame-sample): size, content digest, head bytes. */
  def binaryFeatures(df: DataFrame, pathCol: String, contentCol: String): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      // one digest instance per partition — the "decoder handle" pattern
      val md = MessageDigest.getInstance("MD5")
      rows.map { r =>
        val path = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        md.reset()
        val digest = md.digest(bytes).map("%02x".format(_)).mkString
        BinFeature(path, bytes.length.toLong, digest,
          new String(bytes.take(16), java.nio.charset.StandardCharsets.US_ASCII))
      }
    }(Encoders.product[BinFeature]).toDF()
  }

  final case class WavInfo(
    path: String, channels: Int, sample_rate: Int, bits_per_sample: Int,
    n_samples: Long, duration_s: Double)

  /** WAV (RIFF/PCM) header probe — real byte parsing, no full decode
    * (the reference's librosa.get_duration(filename=...) shape). */
  def wavProbe(df: DataFrame, pathCol: String, contentCol: String): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val path = r.getString(0)
        val b = r.getAs[Array[Byte]](1)
        def le16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        def le32(o: Int) = (b(o) & 0xff).toLong | ((b(o + 1) & 0xff).toLong << 8) |
          ((b(o + 2) & 0xff).toLong << 16) | ((b(o + 3) & 0xff).toLong << 24)
        // canonical 44-byte RIFF header: fmt at 12, data size at 40.
        // Guard short blobs and clamp the declared data size to the bytes
        // actually present (mirrors decodePcm16Wav) — a truncated file
        // must not report inflated duration or throw inside the task.
        if (b == null || b.length < 44) WavInfo(path, 0, 0, 0, 0L, 0.0)
        else {
          val channels = le16(22)
          val rate = le32(24).toInt
          val bps = le16(34)
          val dataBytes = math.min(le32(40), (b.length - 44).toLong).max(0L)
          val nSamples = if (channels > 0 && bps > 0) dataBytes / (channels * bps / 8) else 0L
          val dur = if (rate > 0) nSamples.toDouble / rate else 0.0
          WavInfo(path, channels, rate, bps, nSamples, dur)
        }
      }
    }(Encoders.product[WavInfo]).toDF()
  }

  final case class VadSeg(path: String, seg_idx: Int, start_frame: Int,
    end_frame: Int, n_frames: Int)

  /** Energy-threshold voice-activity segmentation over PCM16 wav blobs:
    * full decode ([[AudioOps.decodePcm16Wav]], mono mixdown), then
    * [[AudioOps.vadSegments]] per file — one row per maximal active run
    * (start/end in FRAME units; a file with no active frame emits
    * nothing). This is the utterance-split step a TTS corpus pipeline
    * runs between download and alignment; malformed blobs emit nothing
    * rather than throwing inside the task (the wavProbe guard rule).
    * Row-local fan-out — no shuffle; at 100 TB this is a pure map over
    * the binaryFile scan with bounded per-row output. */
  def audioVad(df: DataFrame, pathCol: String, contentCol: String,
      frame: Int, thr: Float): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val path = r.getString(0)
        val b = r.getAs[Array[Byte]](1)
        if (b == null || b.length < 44) Iterator.empty
        else {
          val (samples, _) = AudioOps.decodePcm16Wav(b)
          AudioOps.vadSegments(samples, frame, thr).iterator.zipWithIndex.map {
            case ((s0, e0), i) => VadSeg(path, i, s0, e0, e0 - s0)
          }
        }
      }
    }(Encoders.product[VadSeg]).toDF()
  }

  final case class ImgHash(path: String, hash_hi: Long, hash_lo: Long)

  /** Pixel-level perceptual hash per image blob ([[ImageOps]]: real
    * 24bpp BMP decode + 8×8 average hash as two non-negative BIGINT
    * halves). Undecodable blobs emit nothing (probe-guard rule).
    * Row-local; the downstream near-dup join bands on hash_hi. */
  def imageAHash(df: DataFrame, pathCol: String, contentCol: String): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        ImageOps.decodeBmp24Gray(r.getAs[Array[Byte]](1)) match {
          case Some((w, h, gray)) =>
            val (hi, lo) = ImageOps.aHash(w, h, gray)
            Iterator.single(ImgHash(r.getString(0), hi, lo))
          case None => Iterator.empty
        }
      }
    }(Encoders.product[ImgHash]).toDF()
  }

  final case class Mp3Info(
    path: String, version: String, layer: Int, bitrate_kbps: Int,
    sample_rate: Int, channels: Int, n_frames: Long, n_samples: Long,
    duration_s: Double)

  /** MP3 (MPEG audio) header probe — walks the frame-header chain
    * (public ISO/IEC 11172-3 / 13818-3 framing: 11-bit sync, version /
    * layer / bitrate-index / samplerate-index fields, per-frame length
    * arithmetic), skipping a leading ID3v2 tag. No PCM decode: stock JDK
    * javax.sound has no mp3 codec, so full decode stays behind the
    * JavaSoundExternals SPI seam (any mp3 SPI jar on the executor
    * classpath lights it up with zero code changes); the duration /
    * rate / frame-count metadata a pipeline filters on is parsed
    * natively here — the same header-only shape as [[wavProbe]]
    * (reference probes duration without decoding, push_to_hf.py:125-130,
    * over the mp3 parts it downloads, crawler/download.py:141-151).
    *
    * Reported version/layer/bitrate/rate/channels come from the first
    * frame (CBR assumption for bitrate; frame walking itself handles VBR
    * fine because each frame's length is derived from its own header).
    * duration_s = total samples / first-frame rate, computed as ONE
    * division at the end — a per-frame float accumulation would drift
    * from any engine replaying it as n_frames * spf / rate. Truncated
    * tails and garbage stop the walk; a malformed blob reports zeros
    * rather than throwing inside the task. */
  def mp3Probe(df: DataFrame, pathCol: String, contentCol: String): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val path = r.getString(0)
        val b = r.getAs[Array[Byte]](1)
        if (b == null || b.length < 4) Mp3Info(path, "", 0, 0, 0, 0, 0L, 0L, 0.0)
        else {
          var o = 0
          // ID3v2: "ID3" + 2 version bytes + flags + 4-byte syncsafe size
          if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
            val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
              ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
            o = 10 + size
          }
          // kbps by (versionGroup: 0=MPEG1 1=MPEG2/2.5, layer, idx 1-14)
          val kbps = Array(
            Array( // MPEG1
              Array(32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448), // L1
              Array(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),    // L2
              Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)),    // L3
            Array( // MPEG2 / 2.5
              Array(32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
              Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
              Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)))
          val rates = Map( // by version bits
            3 -> Array(44100, 48000, 32000), // MPEG1
            2 -> Array(22050, 24000, 16000), // MPEG2
            0 -> Array(11025, 12000, 8000))  // MPEG2.5
          var nFrames = 0L
          var nSamples = 0L
          var v0, l0, br0, sr0, ch0 = 0
          var ok = true
          while (ok && o + 4 <= b.length) {
            if ((b(o) & 0xff) != 0xff || (b(o + 1) & 0xe0) != 0xe0) ok = false
            else {
              val ver = (b(o + 1) >> 3) & 3         // 3=MPEG1 2=MPEG2 0=MPEG2.5
              val layer = 4 - ((b(o + 1) >> 1) & 3) // 1..3; bits 0 = reserved
              val brIdx = (b(o + 2) >> 4) & 0xf
              val srIdx = (b(o + 2) >> 2) & 3
              val pad = (b(o + 2) >> 1) & 1
              val mono = ((b(o + 3) >> 6) & 3) == 3
              if (ver == 1 || layer == 4 || brIdx == 0 || brIdx == 15 || srIdx == 3) ok = false
              else {
                val vg = if (ver == 3) 0 else 1
                val br = kbps(vg)(layer - 1)(brIdx - 1) * 1000
                val sr = rates(ver)(srIdx)
                val spf =
                  if (layer == 1) 384
                  else if (layer == 2) 1152
                  else if (ver == 3) 1152 else 576 // L3: MPEG1 vs MPEG2/2.5
                val len =
                  if (layer == 1) (12 * br / sr + pad) * 4
                  else spf / 8 * br / sr + pad
                if (len < 4 || o + len > b.length) ok = false // truncated tail
                else {
                  if (nFrames == 0) {
                    v0 = ver; l0 = layer; br0 = br / 1000; sr0 = sr
                    ch0 = if (mono) 1 else 2
                  }
                  nFrames += 1
                  nSamples += spf
                  o += len
                }
              }
            }
          }
          val vName = v0 match {
            case 3 => "MPEG1"; case 2 => "MPEG2"; case 0 => "MPEG2.5"; case _ => ""
          }
          val dur = if (sr0 > 0) nSamples.toDouble / sr0 else 0.0
          Mp3Info(path, vName, if (nFrames > 0) l0 else 0, br0, sr0, ch0,
            nFrames, nSamples, dur)
        }
      }
    }(Encoders.product[Mp3Info]).toDF()
  }

  final case class Mp3Pcm(
    path: String, sample_rate: Int, n_samples: Long, peak_milli: Long)

  /** MP3 → PCM decode over binary files — the NATIVE half of the mp3
    * decode seam: real ISO framing, side info, bit reservoir, and the
    * full spectral pipeline for [[Mp3Layer3]]'s native class (count1
    * Huffman lines, requantize, IMDCT, polyphase synthesis); silence
    * frames decode to spec-exact zeros, and streams outside the class
    * throw toward the JavaSoundExternals SPI seam. Reports the decoded
    * PCM's sample count, rate and integer peak (milli-units of full
    * scale) so a correctness gate can pin both the duration arithmetic
    * AND the decoded amplitudes. Same mapPartitions shape as
    * [[mp3Probe]] — per-file kernel, no shuffle. */
  def mp3Decode(df: DataFrame, pathCol: String, contentCol: String): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val (pcm, sr) = AudioOps.decodeMp3(r.getAs[Array[Byte]](1))
        var peak = 0.0f
        var i = 0
        while (i < pcm.length) {
          val a = math.abs(pcm(i)); if (a > peak) peak = a; i += 1
        }
        Mp3Pcm(r.getString(0), sr, pcm.length.toLong,
          math.floor(peak * 1000.0).toLong)
      }
    }(Encoders.product[Mp3Pcm]).toDF()
  }

  final case class ImageInfo(path: String, format: String, width: Int, height: Int)

  /** Image header probe — real byte parsing of PNG / BMP / GIF headers
    * (magic + dimensions), no full decode, same pattern as [[wavProbe]].
    * Unknown or truncated blobs report ("unknown", 0, 0) instead of
    * throwing inside the task. */
  def imageProbe(df: DataFrame, pathCol: String, contentCol: String): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val path = r.getString(0)
        val b = r.getAs[Array[Byte]](1)
        def be32(o: Int) = ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
          ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
        def le32(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
          ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
        def le16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
        if (b != null && b.length >= 24 && b.take(8).sameElements(png) &&
            new String(b.slice(12, 16), "US-ASCII") == "IHDR")
          ImageInfo(path, "png", be32(16), be32(20))
        else if (b != null && b.length >= 26 && b(0) == 'B'.toByte && b(1) == 'M'.toByte)
          ImageInfo(path, "bmp", le32(18), le32(22))
        else if (b != null && b.length >= 10 &&
            new String(b.take(4), "US-ASCII") == "GIF8")
          ImageInfo(path, "gif", le16(6), le16(8))
        else ImageInfo(path, "unknown", 0, 0)
      }
    }(Encoders.product[ImageInfo]).toDF()
  }

  final case class ResizedImage(
    path: String, width: Int, height: Int, n_bytes: Long, resized: Array[Byte])

  /** Image resize stage: binary in -> binary out at (w, h), executed
    * over mapPartitions with the per-partition handle pattern — see
    * Externals.resizeImage for the codec seam. The default binding
    * stays the deterministic stub (the registered query's oracle
    * replays it); pass [[graft.pipeline.JavaSoundExternals]] for the
    * REAL JDK codec path (ImageIO decode + area-averaging scale,
    * png/jpeg/bmp/gif). Dataflow is identical either way: blobs
    * never leave their executor, output schema carries typed dims. */
  def resizeImages(df: DataFrame, pathCol: String, contentCol: String,
      w: Int, h: Int,
      ext: graft.pipeline.Externals = graft.pipeline.StubExternals): DataFrame = {
    val in = df.select(col(pathCol).cast("string"), col(contentCol))
    in.mapPartitions { rows =>
      rows.map { r =>
        val out = ext.resizeImage(r.getAs[Array[Byte]](1), w, h)
        ResizedImage(r.getString(0), w, h, out.length.toLong, out)
      }
    }(Encoders.product[ResizedImage]).toDF()
  }

  /** Frame sampling over an opaque "video" blob: the decode is a
    * deterministic fake (fixed-size byte slices stand in for frames — no
    * codec libs in this container) but the dataflow is the real 100 TB
    * shape: pure codegen'd column expressions (sequence + posexplode +
    * substring), frames never leave the executor that read the blob, and
    * output volume is input/everyN — the knob a sampling stage must have.
    * Keeps every `everyN`-th frame starting at frame 0. */
  def frameSample(df: DataFrame, pathCol: String, contentCol: String,
      frameBytes: Int, everyN: Int): DataFrame = {
    require(frameBytes > 0 && everyN > 0)
    df.select(col(pathCol).cast("string").as("path"), col(contentCol).as("__c"))
      .withColumn("__nframes",
        ceil(length(col("__c")).cast("double") / frameBytes).cast("int"))
      .filter(col("__nframes") > 0) // empty blob -> no frames (range(0) semantics)
      .select(col("path"), col("__c"),
        posexplode(sequence(lit(0), col("__nframes") - 1))
          .as(Seq("frame_idx", "__i")))
      .filter(col("frame_idx") % everyN === 0)
      .select(col("path"), col("frame_idx"),
        substring(col("__c"), col("frame_idx") * frameBytes + 1, lit(frameBytes))
          .as("frame"))
  }
}
