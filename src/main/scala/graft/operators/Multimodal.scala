package graft.operators

import graft.core.Memo
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream
import java.security.MessageDigest

/** Multimodal-column plumbing: media payloads ride through the pipeline as
  * opaque `binary` columns plus a typed metadata struct; decode /
  * feature-extraction runs batched per partition (`mapPartitions`), the
  * Scala analog of a Pandas-batch UDF — one decoder instance per partition,
  * vectorized batches, no per-row interpreter round-trips.
  *
  * The container has no image/audio codec libraries, but container *header*
  * parsing needs none: [[HeaderDecoder]] is a REAL pure-JVM parser for the
  * four classic container formats —
  *
  *   - PNG: signature + IHDR chunk (width/height 4-byte big-endian, bit
  *     depth, color type → channel count), per the PNG spec §11.2.2;
  *   - JPEG: marker-segment scan to the SOF frame header (precision,
  *     height/width 2-byte big-endian, component count), per ITU T.81 §B.2;
  *   - GIF: logical screen descriptor (width/height 2-byte little-endian,
  *     colour-resolution bits from the packed flags byte), per GIF89a §18;
  *   - WAV: RIFF chunk walk to `fmt ` (channels, sample rate, block align)
  *     and the `data` chunk size → sample count, per RIFF/WAVE.
  *
  * Payloads are synthesized from the documents table as genuine files of
  * those formats ([[synthesizeMedia]]): a spec-conformant header whose
  * field values derive deterministically from the doc's content hash,
  * followed by the doc's text bytes as body. The decoder then re-derives
  * every field by parsing bytes — the DuckDB oracle recomputes the same
  * fields from the generating formula, so a parser that mis-reads any
  * offset, endianness, or chunk boundary hash-mismatches.
  *
  * Scale notes: payload bytes never reach the driver; header decode is
  * scan-stage-only (no shuffle — PlanSpec-style assert in MultimodalSpec);
  * a full-frame codec slots into [[HeaderDecoder.decode]] without touching
  * the plan shape. For very large media, store payloads out-of-line
  * (object store) and keep only references + metadata in the column — the
  * same schema works.
  */
object Multimodal {

  /** A media file as carried through the pipeline: opaque bytes. */
  final case class MediaFile(doc_id: Long, payload: Array[Byte])

  /** Unified container-header metadata. Image formats leave the audio
    * fields None and vice versa (nullable ints in the DataFrame).
    */
  final case class HeaderMeta(doc_id: Long, format: String,
                              width: Option[Int], height: Option[Int],
                              bit_depth: Int, channels: Int,
                              sample_rate: Option[Int], n_samples: Option[Int])

  // ---------------------------------------------------------------- codecs

  /** Real container-header parsers. Each reads only the header region and
    * fails loudly on malformed bytes (a curation pipeline wants corrupt
    * media surfaced, not silently zeroed).
    */
  object HeaderDecoder {
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

    /** PNG channel count by color type (PNG spec, table 11.1). */
    private val pngChannels = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)

    def parsePng(id: Long, b: Array[Byte]): HeaderMeta = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      require(b.length >= 33 && b.take(8).sameElements(sig), s"doc $id: bad PNG signature")
      // first chunk must be IHDR, 13 data bytes
      require(be32(b, 8) == 13 && new String(b, 12, 4, "US-ASCII") == "IHDR",
        s"doc $id: PNG first chunk is not IHDR")
      val colorType = b(25) & 0xff
      HeaderMeta(id, "png", Some(be32(b, 16)), Some(be32(b, 20)),
        bit_depth = b(24) & 0xff,
        channels = pngChannels.getOrElse(colorType,
          sys.error(s"doc $id: bad PNG color type $colorType")),
        sample_rate = None, n_samples = None)
    }

    /** SOF markers: C0–CF minus C4 (DHT), C8 (JPG extension), CC (DAC). */
    private def isSof(m: Int): Boolean =
      m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

    def parseJpeg(id: Long, b: Array[Byte]): HeaderMeta = {
      require(b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8,
        s"doc $id: bad JPEG SOI")
      var i = 2
      while (i + 3 < b.length) {
        require((b(i) & 0xff) == 0xff, s"doc $id: JPEG marker desync at $i")
        var j = i + 1
        while ((b(j) & 0xff) == 0xff) j += 1 // fill bytes before a marker are legal
        val marker = b(j) & 0xff
        if (isSof(marker)) {
          // len(2) precision(1) height(2) width(2) ncomponents(1)
          return HeaderMeta(id, "jpeg",
            Some(be16(b, j + 6)), Some(be16(b, j + 4)),
            bit_depth = b(j + 3) & 0xff, channels = b(j + 8) & 0xff,
            sample_rate = None, n_samples = None)
        } else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          i = j + 1 // standalone marker, no length field
        } else {
          i = j + 1 + be16(b, j + 1) // skip segment (length includes itself)
        }
      }
      sys.error(s"doc $id: JPEG has no SOF frame header")
    }

    def parseGif(id: Long, b: Array[Byte]): HeaderMeta = {
      require(b.length >= 13, s"doc $id: GIF too short")
      val hdr = new String(b, 0, 6, "US-ASCII")
      require(hdr == "GIF89a" || hdr == "GIF87a", s"doc $id: bad GIF header $hdr")
      val flags = b(10) & 0xff
      HeaderMeta(id, "gif", Some(le16(b, 6)), Some(le16(b, 8)),
        bit_depth = ((flags >> 4) & 7) + 1, // colour-resolution bits
        channels = 1, // palette-indexed
        sample_rate = None, n_samples = None)
    }

    def parseWav(id: Long, b: Array[Byte]): HeaderMeta = {
      require(b.length >= 12 && new String(b, 0, 4, "US-ASCII") == "RIFF" &&
        new String(b, 8, 4, "US-ASCII") == "WAVE", s"doc $id: bad RIFF/WAVE header")
      var i = 12
      var channels, sampleRate, bits, blockAlign = -1
      var dataSize = -1L
      // chunk walk; the data chunk's declared size is trusted (bytes may be
      // stored out-of-line), so it is never skipped over
      while (i + 8 <= b.length && (channels < 0 || dataSize < 0)) {
        val cid = new String(b, i, 4, "US-ASCII")
        val sz = le32(b, i + 4).toLong & 0xffffffffL
        if (cid == "fmt ") {
          channels = le16(b, i + 10)
          sampleRate = le32(b, i + 12)
          blockAlign = le16(b, i + 20)
          bits = le16(b, i + 22)
          i += 8 + sz.toInt + (sz.toInt & 1) // chunks pad to even length
        } else if (cid == "data") {
          dataSize = sz
          i = b.length // stop: anything after data is out of header scope
        } else {
          i += 8 + sz.toInt + (sz.toInt & 1)
        }
      }
      require(channels > 0 && dataSize >= 0, s"doc $id: WAV missing fmt/data chunk")
      HeaderMeta(id, "wav", None, None, bit_depth = bits, channels = channels,
        sample_rate = Some(sampleRate), n_samples = Some((dataSize / blockAlign).toInt))
    }

    /** Magic-sniff dispatch — the format column is *derived from bytes*,
      * never trusted from upstream metadata.
      */
    def decode(f: MediaFile): HeaderMeta = {
      val b = f.payload
      require(b.length >= 4, s"doc ${f.doc_id}: payload too short to sniff")
      (b(0) & 0xff, b(1) & 0xff, b(2) & 0xff, b(3) & 0xff) match {
        case (0x89, 0x50, 0x4e, 0x47) => parsePng(f.doc_id, b)  // \x89PNG
        case (0xff, 0xd8, _, _)       => parseJpeg(f.doc_id, b) // SOI
        case (0x47, 0x49, 0x46, 0x38) => parseGif(f.doc_id, b)  // GIF8
        case (0x52, 0x49, 0x46, 0x46) => parseWav(f.doc_id, b)  // RIFF
        case (a, c, d, e) => sys.error(
          f"doc ${f.doc_id}: unknown magic $a%02x$c%02x$d%02x$e%02x")
      }
    }
  }

  // ------------------------------------------------------------- synthesis

  /** Field recipe shared by [[synthesizeMedia]] and the DuckDB oracle:
    * format rotates by doc_id % 4, every other field derives from the
    * md5-prefix content hash `h` (the repo's standard portable 60-bit
    * integer). The encoder writes these values into a spec-conformant
    * header; [[HeaderDecoder]] must parse them back bit-for-bit.
    */
  final case class Recipe(fmt: Int, h: Long) {
    def width: Int = (160 + h % 480).toInt
    def height: Int = (120 + (h / 480) % 360).toInt
    def pngBitDepth: Int = (8 * (1 + h % 2)).toInt
    def pngColorType: Int = (h % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
    def jpegComponents: Int = (1 + 2 * (h % 2)).toInt
    def gifDepth: Int = (1 + h % 8).toInt
    def wavChannels: Int = (1 + h % 2).toInt
    def wavSampleRate: Int = Array(8000, 16000, 22050, 44100)((h % 4).toInt)
    def wavSamples: Int = (1000 + h % 9000).toInt
  }

  private def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def pngBytes(r: Recipe, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val data = "IHDR".getBytes("US-ASCII") ++ be32(r.width) ++ be32(r.height) ++
      Array(r.pngBitDepth.toByte, r.pngColorType.toByte, 0, 0, 0).map(_.toByte)
    val crc = new java.util.zip.CRC32(); crc.update(data)
    out.write(be32(13)); out.write(data); out.write(be32(crc.getValue.toInt))
    out.write(body)
    out.toByteArray
  }

  private def jpegBytes(r: Recipe, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    // APP0/JFIF: version 1.1, no density, no thumbnail
    out.write(Array(0xff, 0xe0).map(_.toByte)); out.write(be16(16))
    out.write("JFIF".getBytes("US-ASCII")); out.write(Array[Byte](0, 1, 1, 0))
    out.write(be16(1)); out.write(be16(1)); out.write(Array[Byte](0, 0))
    // SOF0 baseline frame header
    val n = r.jpegComponents
    out.write(Array(0xff, 0xc0).map(_.toByte)); out.write(be16(8 + 3 * n))
    out.write(8) // precision
    out.write(be16(r.height)); out.write(be16(r.width)); out.write(n)
    for (c <- 1 to n) out.write(Array(c.toByte, 0x11.toByte, 0.toByte))
    out.write(body)
    out.toByteArray
  }

  private def gifBytes(r: Recipe, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(r.width)); out.write(le16(r.height))
    val d = r.gifDepth - 1
    out.write(0x80 | (d << 4) | d) // GCT present, colour res d+1, GCT size d+1
    out.write(0); out.write(0)     // background index, aspect ratio
    out.write(body)
    out.toByteArray
  }

  private def wavBytes(r: Recipe, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val blockAlign = r.wavChannels * 2 // 16-bit PCM
    val dataSize = r.wavSamples * blockAlign
    out.write("RIFF".getBytes("US-ASCII")); out.write(le32(36 + dataSize))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le32(16))
    out.write(le16(1)) // PCM
    out.write(le16(r.wavChannels)); out.write(le32(r.wavSampleRate))
    out.write(le32(r.wavSampleRate * blockAlign)); out.write(le16(blockAlign))
    out.write(le16(16))
    // sample bytes are declared here but stored out-of-line (the pipeline
    // carries headers + references; decode trusts the declared size)
    out.write("data".getBytes("US-ASCII")); out.write(le32(dataSize))
    out.write(body)
    out.toByteArray
  }

  def synthesize(docId: Long, text: String): MediaFile = {
    val body = text.getBytes("UTF-8")
    val md5hex = MessageDigest.getInstance("MD5").digest(body)
      .map("%02x".format(_)).mkString
    val r = Recipe((docId % 4).toInt, java.lang.Long.parseLong(md5hex.take(15), 16))
    val bytes = r.fmt match {
      case 0 => pngBytes(r, body)
      case 1 => jpegBytes(r, body)
      case 2 => gifBytes(r, body)
      case 3 => wavBytes(r, body)
    }
    MediaFile(docId, bytes)
  }

  /** documents -> genuine media files (binary column), one format per
    * doc_id % 4. mapPartitions: one digest + encoder instance per batch.
    */
  def synthesizeMedia(docs: DataFrame): Dataset[MediaFile] = {
    import docs.sparkSession.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => synthesize(id, text) })
  }

  /** Partition-batched header decode: Dataset[MediaFile] -> Dataset[HeaderMeta].
    * mapPartitions so a full-frame codec would amortize init per partition;
    * scan-stage only (no shuffle).
    */
  def decodeHeaders(media: Dataset[MediaFile]): Dataset[HeaderMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(HeaderDecoder.decode))
  }

  /** Synthesize a text/plain payload column from the documents table (the
    * payload-agnostic metadata path — [[extractMeta]] reads size/hash/magic
    * without decoding).
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      concat(lit("text/plain;lang="), col("lang")).as("media_type"))

  /** Column-only metadata (no decode): size, content hash, magic sniff. */
  def extractMeta(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("media_type"),
      octet_length(col("payload")).as("size_bytes"),
      md5(col("payload")).as("payload_md5"),
      substring(decode(col("payload"), "UTF-8"), 1, 8).as("magic"))

  /** Frame sampling: every `step`-th frame of each decoded media row,
    * 1 row -> ceil(n_frames/step) rows. The frame "payload" is a
    * deterministic reference (a real pipeline would carry decoded frame
    * bytes or an object-store pointer); the explosion shape — generate
    * indices on the row, THEN explode — keeps the pre-shuffle row count at
    * O(sampled frames), never materializing unsampled ones.
    */
  def sampleFrames(framed: DataFrame, step: Int = 4): DataFrame =
    framed
      // sequence(0, -1, step) is a runtime error, not an empty array — a
      // zero-frame row must yield no sampled frames, not kill the query
      .filter(col("n_frames") > 0)
      .select(
        col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step))).as("frame_idx"))
      .withColumn("frame_ref",
        md5(concat(col("doc_id").cast("string"), lit("#"), col("frame_idx").cast("string"))))

  /** Decoded audio rows chunked into fixed 1000-sample frames (the batch
    * unit a feature extractor consumes); integer ceil-division keeps both
    * engines exact.
    */
  def audioFrames(decoded: DataFrame, samplesPerFrame: Int = 1000): DataFrame =
    decoded.filter(col("format") === "wav")
      .select(col("doc_id"),
        expr(s"CAST((n_samples + ${samplesPerFrame - 1}) div $samplesPerFrame AS INT)")
          .as("n_frames"))

  final case class AudioStats(doc_id: Long, n_samples: Long, sum_amp: Long,
                              sum_sq: Long, peak: Int)

  /** PCM sample statistics over the WAV payload — the first genuinely
    * signal-level multimodal compute (count / sum / energy / peak of the
    * decoded int16 stream): what a loudness filter, silence detector, or
    * clipping check reads. The RIFF chunk walk finds the data chunk and
    * the bytes PRESENT after its header are decoded as little-endian
    * signed 16-bit samples, capped by the declared size (a truncated file
    * yields stats over what exists — never an index error). Non-RIFF
    * payloads are skipped by magic, like [[HeaderDecoder]]'s dispatch.
    *
    * All four statistics are exact integers (sum_sq ≤ 2^30 per sample —
    * int64 holds ~2^33 samples ≈ 70 hours of 44.1 kHz stereo per FILE,
    * far past any real clip), so the operator hash-checks in DuckDB,
    * which replays the byte pairing arithmetically from the synthesized
    * payload. mapPartitions like [[decodeHeaders]] — scan-stage, one
    * decoder instance per batch, zero shuffle.
    */
  def audioSampleStats(media: Dataset[MediaFile]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { f =>
      wavPcm(f.payload).map { v =>
        var s = 0L; var s2 = 0L; var peak = 0; var k = 0
        while (k < v.length) {
          val x = v(k); s += x; s2 += x.toLong * x
          val a = math.abs(x); if (a > peak) peak = a
          k += 1
        }
        AudioStats(f.doc_id, v.length.toLong, s, s2, peak)
      }
    })
  }

  final case class AudioAutocorr(doc_id: Long, n_samples: Long,
                                 r0: Long, r1: Long, r2: Long,
                                 r4: Long, r8: Long)

  /** Integer autocorrelation of the PCM stream at fixed lags — the
    * periodicity/pitch signal (a pure tone shows r_L ≈ r_0 at its period;
    * noise decays immediately): R(L) = Σ v[i]·v[i+L] over i+L < n, exact
    * int64 (|v| ≤ 2^15 ⇒ each term ≤ 2^30 — the [[audioSampleStats]]
    * overflow envelope). Same RIFF chunk walk and truncation-tolerant
    * decode; same scan-stage mapPartitions shape, zero shuffle. The
    * oracle replays the byte pairing and computes the lagged products
    * with window LEADs (NULL past the end ⟺ the i+L < n loop bound).
    */
  def audioAutocorr(media: Dataset[MediaFile]): Dataset[AudioAutocorr] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { f =>
      wavPcm(f.payload).map { v =>
        def r(lag: Int): Long = {
          var s = 0L; var i = 0
          while (i + lag < v.length) { s += v(i).toLong * v(i + lag); i += 1 }
          s
        }
        AudioAutocorr(f.doc_id, v.length.toLong, r(0), r(1), r(2), r(4), r(8))
      }
    })
  }

  final case class AudioSilence(doc_id: Long, n_samples: Long,
                                n_silent: Long, n_runs: Long,
                                longest_run: Long)

  /** Silence segmentation over the decoded PCM stream — the
    * speech-pipeline primitive behind VAD trimming and clip splitting:
    * a sample is silent when |v| < 10000, a RUN is a maximal silent
    * stretch, and a run counts when it spans ≥ 4 samples. Reported per
    * clip: total silent samples, qualifying runs, and the longest run
    * (of any length — the VAD split decision reads all three). One
    * sequential pass inside the same scan-stage mapPartitions as
    * [[audioSampleStats]]; the oracle replays the byte pairing and runs
    * the gaps-and-islands construction (q52's machinery) over the
    * sample index.
    */
  def audioSilence(media: Dataset[MediaFile]): Dataset[AudioSilence] = {
    import media.sparkSession.implicits._
    val thresh = 10000
    val minRun = 4
    media.mapPartitions(_.flatMap { f =>
      wavPcm(f.payload).map { v =>
        var silent = 0L; var runs = 0L; var longest = 0L; var cur = 0L
        var i = 0
        while (i < v.length) {
          if (math.abs(v(i)) < thresh) { cur += 1; silent += 1 }
          else {
            if (cur >= minRun) runs += 1
            if (cur > longest) longest = cur
            cur = 0
          }
          i += 1
        }
        if (cur >= minRun) runs += 1
        if (cur > longest) longest = cur
        AudioSilence(f.doc_id, v.length.toLong, silent, runs, longest)
      }
    })
  }

  final case class AudioZcr(doc_id: Long, n_samples: Long,
                            n_crossings: Long, sum_abs: Long,
                            mean_abs: Option[Double])

  /** Zero-crossing rate + mean absolute amplitude — the two cheapest
    * speech/music discriminators (voiced speech crosses zero rarely;
    * fricatives and noise constantly): a crossing is a strict sign flip
    * (v_i · v_{i+1} < 0 — zeros break a crossing, the rule the oracle's
    * LEAD replays verbatim), amplitude is Σ|v| in exact int64
    * (|v| ≤ 2^15 ⇒ no overflow at any clip length that fits memory),
    * and mean_abs is the ONE IEEE division at publish. Same scan-stage
    * mapPartitions as [[audioSampleStats]], zero shuffle.
    */
  def audioZcr(media: Dataset[MediaFile]): Dataset[AudioZcr] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { f =>
      wavPcm(f.payload).map { v =>
        var zc = 0L; var sa = 0L; var i = 0
        while (i < v.length) {
          sa += math.abs(v(i))
          if (i + 1 < v.length && v(i).toLong * v(i + 1) < 0) zc += 1
          i += 1
        }
        AudioZcr(f.doc_id, v.length.toLong, zc, sa,
          if (v.length > 0) Some(sa.toDouble / v.length) else None)
      }
    })
  }

  /** RIFF chunk walk + int16 LE decode shared by the signal-level audio
    * operators: the data chunk's available bytes (declared size capped by
    * what is present) as signed samples; None for non-RIFF payloads.
    */
  private def wavPcm(b: Array[Byte]): Option[Array[Int]] = {
    def le32(i: Int): Long =
      ((b(i) & 0xffL)) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != 'F') None
    else {
      var i = 12
      var off = -1
      var declared = -1L
      while (i + 8 <= b.length && off < 0) {
        val cid = new String(b, i, 4, "US-ASCII")
        val sz = le32(i + 4)
        if (cid == "data") { off = i + 8; declared = sz }
        else i += 8 + sz.toInt + (sz.toInt & 1)
      }
      if (off < 0) None
      else {
        val nPairs = (math.min(declared, (b.length - off).toLong) / 2).toInt
        val out = new Array[Int](nPairs)
        var k = 0
        while (k < nPairs) {
          val lo = b(off + 2 * k) & 0xff
          out(k) = (b(off + 2 * k + 1) << 8) | lo // signed high byte
          k += 1
        }
        Some(out)
      }
    }
  }

  // ------------------------------------------------- perceptual image hash

  /** Thumbnail geometry for the perceptual-hash path: 40×24 grayscale →
    * 4×4 average blocks → a 10×6 = 60-bit hash, the repo's standard
    * portable 60-bit integer width (so the generic banded Hamming join
    * [[graft.operators.Dedup.hammingPairs60]] applies unchanged).
    */
  private val PW = 40
  private val PH = 24
  private val PB = 4 // block edge

  /** Deterministic grayscale value at (x, y) for a doc with content hash
    * `h` — the pixel recipe shared with the DuckDB oracle (which replays
    * it arithmetically, like [[Recipe]] for headers). The Spark side never
    * uses this after synthesis: it DECODES the PNG bytes back.
    */
  private[graft] def grayPixel(h: Long, x: Int, y: Int): Int =
    ((h % 256 + 7L * x + 13L * y + ((x.toLong * y) % 5) * 29) % 256).toInt

  /** Encode 8-bit grayscale pixels (row-major) as a REAL PNG: IHDR (color
    * type 0, bit depth 8), one zlib-deflated IDAT of filter-0 scanlines,
    * IEND — a file any PNG reader opens. Pure JVM: java.util.zip IS a real
    * zlib; no codec library needed for grayscale/no-filter.
    */
  def encodeGrayPng(w: Int, h: Int, pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == w * h, s"need ${w * h} pixels, got ${pixels.length}")
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(tag: String, data: Array[Byte]): Unit = {
      val payload = tag.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32(); crc.update(payload)
      out.write(be32(data.length)); out.write(payload)
      out.write(be32(crc.getValue.toInt))
    }
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8, 0, 0, 0, 0)) // depth 8, gray, deflate, filter 0, no interlace
    val raw = new Array[Byte](h * (1 + w))
    var y = 0
    while (y < h) {
      raw(y * (1 + w)) = 0 // per-scanline filter byte: None
      var x = 0
      while (x < w) { raw(y * (1 + w) + 1 + x) = pixels(y * w + x).toByte; x += 1 }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val zOut = new ByteArrayOutputStream()
    while (!deflater.finished()) zOut.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    chunk("IDAT", zOut.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Encode 8-bit grayscale pixels as a REAL GIF89a: identity grayscale
    * global color table (palette i = (i,i,i)), one image descriptor, and
    * genuinely LZW-compressed pixel indices (min code size 8, variable
    * 9→12-bit codes, LSB-first bit packing, 255-byte sub-blocks) — a file
    * any GIF reader opens (the spec differentially tests against the
    * JDK's own ImageIO decoder). Second codec next to [[encodeGrayPng]]:
    * the phash path dispatches on magic, so both formats' encode→decode
    * round-trips stay oracle-checked.
    */
  def encodeGifGray(w: Int, h: Int, pixels: Array[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    writeGifFrame(out, w, h, pixels)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Animated GIF89a — the library's honest VIDEO container: N full
    * frames behind a NETSCAPE2.0 loop extension, each with its Graphic
    * Control Extension and its own LZW-coded image data. Same identity
    * grayscale palette and spec-conformant layout as the single-frame
    * writer ([[encodeGifGray]] is exactly this with one frame and no
    * animation extensions), so any stock GIF player animates the output.
    */
  def encodeGifGrayAnimated(w: Int, h: Int, frames: Seq[Array[Int]],
                            delayCs: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "animated GIF needs at least one frame")
    val out = new ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    // NETSCAPE2.0 application extension: loop forever
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); out.write(le16(0)); out.write(0)
    frames.foreach { px =>
      // Graphic Control Extension: no disposal tricks, fixed delay
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); out.write(le16(delayCs)); out.write(0); out.write(0)
      writeGifFrame(out, w, h, px)
    }
    out.write(0x3b)
    out.toByteArray
  }

  private def writeGifHeader(out: ByteArrayOutputStream, w: Int, h: Int): Unit = {
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(w)); out.write(le16(h))
    out.write(0x80 | 0x70 | 0x07) // GCT present, 8-bit colour res, 256 entries
    out.write(0); out.write(0)    // background index, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
  }

  /** One image descriptor + LZW-coded full-frame data block (the body
    * shared by the single-frame and animated writers — byte-identical to
    * the pre-refactor single-frame layout).
    */
  private def writeGifFrame(out: ByteArrayOutputStream, w: Int, h: Int,
                            pixels: Array[Int]): Unit = {
    require(pixels.length == w * h, s"need ${w * h} pixels, got ${pixels.length}")
    out.write(0x2c) // image descriptor
    out.write(le16(0)); out.write(le16(0)); out.write(le16(w)); out.write(le16(h))
    out.write(0)    // no local colour table, not interlaced
    out.write(8)    // LZW min code size
    // --- LZW: dict entries are (prefixCode, byte); 256=clear, 257=EOI
    val dict = new java.util.HashMap[Long, Int]()
    def key(prefix: Int, k: Int): Long = (prefix.toLong << 8) | k
    var next = 258
    var codeSize = 9
    val bits = new ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nAcc; nAcc += codeSize
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
    }
    def reset(): Unit = { dict.clear(); next = 258; codeSize = 9 }
    emit(256) // initial clear
    var wCode = -1
    var p = 0
    while (p < pixels.length) {
      val k = pixels(p) & 0xff
      if (wCode < 0) wCode = k
      else {
        val got = dict.getOrDefault(key(wCode, k), -1)
        if (got >= 0) wCode = got
        else {
          emit(wCode)
          if (next < 4096) {
            dict.put(key(wCode, k), next); next += 1
            // one step LATER than the decoder's check: the decoder adds
            // its entry one code behind the encoder, so its next hits
            // 2^cs exactly when ours passes it — both flip widths at the
            // same code INDEX (the classic GIF off-by-one)
            if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          } else { emit(256); reset() }
          wCode = k
        }
      }
      p += 1
    }
    if (wCode >= 0) emit(wCode)
    emit(257) // EOI
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    val packed = bits.toByteArray
    var off = 0
    while (off < packed.length) {
      val n = math.min(255, packed.length - off)
      out.write(n); out.write(packed, off, n); off += n
    }
    out.write(0)    // block terminator
  }

  /** Decode a grayscale GIF written by [[encodeGifGray]] (or any
    * single-frame non-interlaced GIF with a global colour table whose
    * entries are achromatic) back to (width, height, pixels): a real LZW
    * decompressor — variable code width, clear/EOI, the KwKwK case, dict
    * reset — with palette lookup. Fails loudly on interlace, local colour
    * tables, or a chromatic palette (this library never writes them).
    */
  def decodeGifGray(id: Long, b: Array[Byte]): (Int, Int, Array[Int]) = {
    val (w, h, frames) = decodeGifGrayFrames(id, b)
    require(frames.length == 1,
      s"doc $id: expected a single-frame GIF, got ${frames.length} frames")
    (w, h, frames.head)
  }

  /** Decode EVERY frame of a grayscale GIF (animated or single-frame)
    * written by [[encodeGifGray]]/[[encodeGifGrayAnimated]]: the real
    * block walk — extensions skipped (GCE/NETSCAPE included), one LZW
    * decode per image descriptor — until the trailer. Same loud-failure
    * discipline as the single-frame path for anything this library
    * didn't promise to write.
    */
  def decodeGifGrayFrames(id: Long, b: Array[Byte]): (Int, Int, Array[Array[Int]]) = {
    val hdr = new String(b, 0, 6, "US-ASCII")
    require(hdr == "GIF89a" || hdr == "GIF87a", s"doc $id: bad GIF header $hdr")
    val flags = b(10) & 0xff
    require((flags & 0x80) != 0, s"doc $id: GIF without a global colour table")
    val gctSize = 2 << (flags & 7)
    val palette = new Array[Int](gctSize)
    var i = 13
    var pi = 0
    while (pi < gctSize) {
      val (r, g, bl) = (b(i) & 0xff, b(i + 1) & 0xff, b(i + 2) & 0xff)
      require(r == g && g == bl, s"doc $id: chromatic palette entry $pi")
      palette(pi) = r; pi += 1; i += 3
    }
    val sw = (b(6) & 0xff) | ((b(7) & 0xff) << 8)
    val sh = (b(8) & 0xff) | ((b(9) & 0xff) << 8)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var done = false
    while (!done) {
      (b(i) & 0xff) match {
        case 0x21 => // extension: introducer + label + data sub-blocks
          i += 2
          while (b(i) != 0) i += 1 + (b(i) & 0xff)
          i += 1
        case 0x2c =>
          val (px, ni) = decodeGifFrame(id, b, i, palette)
          frames += px
          i = ni
        case 0x3b => done = true
        case other =>
          sys.error(f"doc $id: unexpected GIF block 0x$other%02x at $i")
      }
    }
    require(frames.nonEmpty, s"doc $id: GIF with no image data")
    require(frames.forall(_.length == sw * sh),
      s"doc $id: frame size mismatch vs ${sw}x$sh screen")
    (sw, sh, frames.toArray)
  }

  /** One image-descriptor + LZW block starting at offset `i0`; returns
    * the decoded full-frame pixels and the offset just past the block.
    */
  private def decodeGifFrame(id: Long, b: Array[Byte], i0: Int,
                             palette: Array[Int]): (Array[Int], Int) = {
    var i = i0
    require((b(i) & 0xff) == 0x2c, s"doc $id: expected image descriptor at $i")
    val left = (b(i + 1) & 0xff) | ((b(i + 2) & 0xff) << 8)
    val top = (b(i + 3) & 0xff) | ((b(i + 4) & 0xff) << 8)
    require(left == 0 && top == 0, s"doc $id: partial-frame GIF unsupported")
    val w = (b(i + 5) & 0xff) | ((b(i + 6) & 0xff) << 8)
    val h = (b(i + 7) & 0xff) | ((b(i + 8) & 0xff) << 8)
    val idFlags = b(i + 9) & 0xff
    require((idFlags & 0x80) == 0, s"doc $id: local colour table unsupported")
    require((idFlags & 0x40) == 0, s"doc $id: interlaced GIF unsupported")
    i += 10
    val minCode = b(i) & 0xff; i += 1
    require(minCode == 8, s"doc $id: LZW min code size $minCode (expected 8)")
    // concatenate sub-blocks
    val data = new ByteArrayOutputStream()
    while ((b(i) & 0xff) != 0) {
      val n = b(i) & 0xff
      data.write(b, i + 1, n); i += 1 + n
    }
    i += 1 // block terminator
    val d = data.toByteArray
    val clear = 256; val eoi = 257
    val prefix = new Array[Int](4096); val suffix = new Array[Int](4096)
    val px = new Array[Int](w * h)
    var nPx = 0
    var next = 258; var codeSize = 9
    var acc = 0L; var nAcc = 0; var pos = 0
    var prev = -1
    def readCode(): Int = {
      while (nAcc < codeSize && pos < d.length) {
        acc |= (d(pos) & 0xffL) << nAcc; nAcc += 8; pos += 1
      }
      if (nAcc < codeSize) -1
      else { val c = (acc & ((1L << codeSize) - 1)).toInt; acc >>= codeSize; nAcc -= codeSize; c }
    }
    // one scratch per decode call, not per LZW code: expand runs thousands
    // of times per image and a fresh 4096-int buffer each time was the
    // dominant decode-path garbage (mm_phash/st_phash profile)
    val scratch = new Array[Int](4096)
    def expand(code: Int, extra: Int): Unit = {
      // walk prefix chain into the scratch, then write forward
      var n = 0; var c = code
      while (c >= 258) { scratch(n) = suffix(c); c = prefix(c); n += 1 }
      scratch(n) = c; n += 1
      require(nPx + n + (if (extra >= 0) 1 else 0) <= px.length,
        s"doc $id: LZW output overruns ${px.length} pixels")
      var j = n - 1
      while (j >= 0) { px(nPx) = palette(scratch(j)); nPx += 1; j -= 1 }
      if (extra >= 0) { px(nPx) = palette(extra); nPx += 1 }
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= 258) c = prefix(c)
      c
    }
    var done = false
    while (!done) {
      val code = readCode()
      require(code >= 0, s"doc $id: truncated LZW stream")
      if (code == clear) { next = 258; codeSize = 9; prev = -1 }
      else if (code == eoi) done = true
      else {
        if (prev < 0) { expand(code, -1); prev = code }
        else if (code < next) {
          expand(code, -1)
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = firstByte(code); next += 1
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        } else {
          // KwKwK: code == next (the entry being defined)
          require(code == next && next < 4096, s"doc $id: LZW code $code out of range (next=$next)")
          prefix(next) = prev; suffix(next) = firstByte(prev); next += 1
          expand(code, -1)
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          prev = code
        }
      }
    }
    require(nPx == w * h, s"doc $id: GIF decoded $nPx of ${w * h} pixels")
    (px, i)
  }

  /** Decode a grayscale filter-0 PNG back to (width, height, pixels) —
    * the inverse of [[encodeGrayPng]] via a real chunk walk + zlib
    * inflate. Fails loudly on anything this library didn't promise to
    * write (color, sub-byte depth, nonzero scanline filters): a curation
    * pipeline surfaces unsupported media, it doesn't guess.
    */
  def decodeGrayPng(id: Long, b: Array[Byte]): (Int, Int, Array[Int]) = {
    val meta = HeaderDecoder.parsePng(id, b) // signature + IHDR validation
    require(meta.channels == 1 && meta.bit_depth == 8,
      s"doc $id: phash decoder supports 8-bit grayscale only, " +
        s"got depth=${meta.bit_depth} channels=${meta.channels}")
    val (w, h) = (meta.width.get, meta.height.get)
    val idat = new ByteArrayOutputStream()
    var i = 8
    while (i + 8 <= b.length) {
      val len = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      val tag = new String(b, i + 4, 4, "US-ASCII")
      if (tag == "IDAT") idat.write(b, i + 8, len)
      i += 12 + len // len + tag + data + crc
    }
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val raw = new Array[Byte](h * (1 + w))
    var got = 0
    while (got < raw.length && !inflater.finished())
      got += inflater.inflate(raw, got, raw.length - got)
    inflater.end()
    require(got == raw.length, s"doc $id: PNG pixel data truncated ($got/${raw.length})")
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      require(raw(y * (1 + w)) == 0,
        s"doc $id: unsupported PNG scanline filter ${raw(y * (1 + w))} at row $y")
      var x = 0
      while (x < w) { px(y * w + x) = raw(y * (1 + w) + 1 + x) & 0xff; x += 1 }
      y += 1
    }
    (w, h, px)
  }

  /** 60-bit average hash of a grayscale image: 4×4 block sums on the
    * 10×6 grid, bit b = (x div 4) + 10·(y div 4) set iff the block mean
    * exceeds the global mean — cross-multiplied (blockSum·60 > totalSum;
    * every block holds the same 16 pixels) so the comparison is exact
    * integer, bit-identical in any engine.
    */
  /** 10×6 grid of 4×4-block pixel sums — the shared reduction both
    * perceptual hashes read (index = cx + 10·cy).
    */
  def blockSums(w: Int, h: Int, px: Array[Int]): Array[Long] = {
    require(w == PW && h == PH, s"phash expects ${PW}x$PH thumbnails, got ${w}x$h")
    val bs = new Array[Long](60)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        bs((x / PB) + (PW / PB) * (y / PB)) += px(y * w + x)
        x += 1
      }
      y += 1
    }
    bs
  }

  def averageHash60(w: Int, h: Int, px: Array[Int]): (Long, Int) =
    averageHash60(blockSums(w, h, px))

  /** The threshold rule over precomputed block sums — the ONE
    * definition both the production decode pass ([[imageTable]], which
    * already has the sums) and the pixel-level entry point consume; a
    * drift between them would keep the unit test green while shipping
    * different hashes.
    */
  def averageHash60(bs: Array[Long]): (Long, Int) = {
    val total = bs.sum
    var hash = 0L; var ones = 0; var b = 0
    while (b < 60) {
      if (bs(b) * 60 > total) { hash |= (1L << b); ones += 1 }
      b += 1
    }
    (hash, ones)
  }

  /** 54-bit DIFFERENCE hash over the same block grid: bit (cx + 9·cy)
    * set when block (cx, cy) is STRICTLY brighter than its right
    * neighbor (cx+1, cy) — 9 comparisons × 6 rows. dHash keys on local
    * gradient structure where [[averageHash60]] keys on global
    * brightness, so a uniform exposure shift flips aHash bits but
    * leaves dHash intact — the complementary member of the perceptual
    * hash family (both survive re-encoding; the banded Hamming join
    * machinery applies unchanged).
    */
  def diffHash54(bs: Array[Long]): (Long, Int) = {
    var hash = 0L; var ones = 0
    var cy = 0
    while (cy < 6) {
      var cx = 0
      while (cx < 9) {
        if (bs(cx + 10 * cy) > bs(cx + 1 + 10 * cy)) {
          hash |= (1L << (cx + 9 * cy)); ones += 1
        }
        cx += 1
      }
      cy += 1
    }
    (hash, ones)
  }

  /** CPU-bound codec work must not inherit the input's split count: a
    * small parquet (one row group) would serialize every encode/decode
    * on one core. Batch inputs with fewer splits than cores spread the
    * NARROW projection round-robin first (at 100 TB the input has far
    * more splits than cores and this is a no-op); streams stay strictly
    * row-local — their parallelism is the source's.
    */
  private def spreadForCodec(narrow: DataFrame): DataFrame =
    if (narrow.isStreaming) narrow
    else {
      val sc = narrow.sparkSession.sparkContext
      if (narrow.rdd.getNumPartitions < sc.defaultParallelism)
        narrow.repartition(sc.defaultParallelism)
      else narrow
    }

  /** documents → real 40×24 grayscale thumbnails (binary column), format
    * alternating by doc_id: even → PNG (zlib IDAT), odd → GIF89a (LZW).
    * Pixels derive from the doc's md5-prefix content hash via
    * [[grayPixel]]; the bytes are genuine files of both formats, so the
    * pixel-recipe oracle checks BOTH codecs' encode→decode round-trips.
    */
  def synthesizeThumbnails(docs: DataFrame): Dataset[MediaFile] = {
    import docs.sparkSession.implicits._
    spreadForCodec(docs.select("doc_id", "text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          md.reset()
          val md5hex = md.digest(text.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val hh = java.lang.Long.parseLong(md5hex.take(15), 16)
          val px = Array.tabulate(PW * PH)(k => grayPixel(hh, k % PW, k / PW))
          val bytes =
            if (id % 2 == 0) encodeGrayPng(PW, PH, px)
            else encodeGifGray(PW, PH, px)
          MediaFile(id, bytes)
        }
      }
  }

  /** Magic-sniffed grayscale decode over the formats this library writes
    * — the [[HeaderDecoder.decode]] discipline at the PIXEL level.
    */
  def decodeGrayImage(id: Long, b: Array[Byte]): (Int, Int, Array[Int]) = {
    require(b.length >= 6, s"doc $id: payload too short to sniff")
    if ((b(0) & 0xff) == 0x89 && b(1) == 'P') decodeGrayPng(id, b)
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') decodeGifGray(id, b)
    else sys.error(f"doc $id: unknown image magic ${b(0)}%02x${b(1)}%02x")
  }

  final case class ImageStats(doc_id: Long, phash60: Long, n_ones: Int,
                              dhash54: Long, d_ones: Int,
                              n_px: Int, sum_px: Long, sum_sq: Long,
                              min_px: Int, max_px: Int,
                              sum_dx: Long, sum_dy: Long,
                              max_grad: Int, n_edges: Long,
                              hist: Array[Long])

  /** ONE decode pass per image serves every image consumer: synthesize
    * the thumbnail (PNG or GIF), decode the REAL bytes back (chunk walk +
    * inflate/LZW + defilter), then compute BOTH the 60-bit average hash
    * and the pixel statistics over the same in-memory pixel array. The
    * codec work is the expensive part (zlib/LZW per image); hashing and
    * the stats loop are noise next to it — so [[phash]] and
    * [[pixelStats]] are projections of this table, never second decodes.
    * mapPartitions like [[decodeHeaders]]: scan-stage, zero shuffle.
    */
  private def imageTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    def build: DataFrame =
      synthesizeThumbnails(docs).mapPartitions(_.map { f =>
        val (w, h, px) = decodeGrayImage(f.doc_id, f.payload)
        val bs = blockSums(w, h, px)
        val (hash, ones) = averageHash60(bs)
        val (dh, dOnes) = diffHash54(bs)
        var s = 0L; var s2 = 0L; var mn = 255; var mx = 0; var i = 0
        val bins = new Array[Long](8) // 8 equal-width gray-level bins
        while (i < px.length) {
          val v = px(i); s += v; s2 += v.toLong * v
          if (v < mn) mn = v; if (v > mx) mx = v
          bins(v >> 5) += 1L
          i += 1
        }
        // first-difference gradients over the same pixel array (the
        // sharpness/blur signal): exact integer |Δ| sums horizontally and
        // vertically, the max gradient, and the count of strong edges
        var dx = 0L; var dy = 0L; var mg = 0; var ne = 0L
        var y = 0
        while (y < h) {
          var x = 0
          val row = y * w
          while (x < w) {
            val g = px(row + x)
            if (x + 1 < w) {
              val d = math.abs(px(row + x + 1) - g)
              dx += d; if (d > mg) mg = d; if (d >= EdgeThreshold) ne += 1
            }
            if (y + 1 < h) {
              val d = math.abs(px(row + w + x) - g)
              dy += d; if (d > mg) mg = d; if (d >= EdgeThreshold) ne += 1
            }
            x += 1
          }
          y += 1
        }
        ImageStats(f.doc_id, hash, ones, dh, dOnes, px.length, s, s2, mn, mx,
          dx, dy, mg, ne, bins)
      }).toDF()
    // the image table is a shared intermediate exactly like the MinHash
    // signatures (pairs self-join reads it twice; st_phash probes it as
    // history; pixel stats project from it) — same corpus store, same
    // lifecycle. O(docs × 8) cells.
    Memo("phash", docs)(build)
  }

  /** Perceptual hash per document: projection of [[imageTable]]. The
    * oracle replays the pixel recipe + hash arithmetic in SQL, so any
    * encoder/decoder disagreement (offset, endianness, filter handling,
    * zlib framing) hash-mismatches.
    */
  def phash(docs: DataFrame): DataFrame =
    imageTable(docs).select("doc_id", "phash60", "n_ones")

  /** Difference hash per document — [[diffHash54]] over the shared
    * decode pass (one more projection of [[imageTable]], zero extra
    * codec work). Oracle replays the block-sum recipe and the strict
    * right-neighbor comparison in SQL.
    */
  def dhash(docs: DataFrame): DataFrame =
    imageTable(docs).select("doc_id", "dhash54", "d_ones")

  /** Near-duplicate IMAGE pairs: the banded Hamming join over perceptual
    * hashes — the cross-modal analog of [[graft.operators.Dedup
    * .simhashPairs]], catching re-encoded/slightly-perturbed images that
    * byte-level dedup can't. Same pigeonhole machinery, same 100 TB
    * shape: chunk-keyed buckets, never all-pairs. The pigeonhole gives
    * EXACT recall within maxHamming, so the oracle can verify with a
    * brute-force pair join at test scale while this side stays banded.
    */
  def phashPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    Dedup.hammingPairs60(phash(docs), "phash60", maxHamming)

  /** SSIM verification over the banded pHash candidates — the second
    * stage of the production image near-dup pipeline (cheap hash over
    * EVERYTHING → banded candidate pairs → expensive structural verify on
    * candidates ONLY; the dd_snm gate-vs-metric doctrine applied to
    * pixels). Global single-window SSIM (Wang et al. 2004, C1 = (0.01·255)²,
    * C2 = (0.03·255)²) from exact integer sufficient statistics per pair —
    * Σa, Σa², Σb, Σb², Σab over the DECODED grayscale pixels — published
    * next to the rounded SSIM so the gate pins the integers exactly and
    * the one IEEE expression identically (the oracle replays the same
    * formula over the recipe-derived integers).
    *
    * Scale shape: the decode+zip cost is paid ONLY by candidate docs — a
    * left-semi join prunes the corpus to the banded pair members before
    * any pixel work, so the O(n_px) cross term runs on |candidates| rows,
    * never |corpus|. The pair frame carries two 960-long arrays briefly
    * (join → zip_with → aggregate in one stage) and publishes scalars.
    */
  def ssimPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    import docs.sparkSession.implicits._
    val pairs = phashPairs(docs, maxHamming).localCheckpoint(true)
    val ids = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val px = synthesizeThumbnails(docs.join(ids, Seq("doc_id"), "left_semi"))
      .mapPartitions(_.map { f =>
        val (_, _, p) = decodeGrayImage(f.doc_id, f.payload)
        var s = 0L; var q = 0L; var i = 0
        while (i < p.length) { s += p(i); q += p(i).toLong * p(i); i += 1 }
        (f.doc_id, p.map(_.toLong).toSeq, p.length, s, q)
      }).toDF("doc_id", "px", "n_px", "s", "q")
      .localCheckpoint(true) // one decode, two join sides
    val ssim = // ONE expression tree, textually mirrored in the oracle
      "round(((2.0 * (sa / CAST(n_px AS DOUBLE)) * (sb / CAST(n_px AS DOUBLE)) + 6.5025)" +
      " * (2.0 * (p / CAST(n_px AS DOUBLE) - (sa / CAST(n_px AS DOUBLE)) * (sb / CAST(n_px AS DOUBLE))) + 58.5225))" +
      " / (((sa / CAST(n_px AS DOUBLE)) * (sa / CAST(n_px AS DOUBLE)) + (sb / CAST(n_px AS DOUBLE)) * (sb / CAST(n_px AS DOUBLE)) + 6.5025)" +
      " * ((qa / CAST(n_px AS DOUBLE) - (sa / CAST(n_px AS DOUBLE)) * (sa / CAST(n_px AS DOUBLE)))" +
      " + (qb / CAST(n_px AS DOUBLE) - (sb / CAST(n_px AS DOUBLE)) * (sb / CAST(n_px AS DOUBLE))) + 58.5225)), 6)"
    pairs
      .join(px.select(col("doc_id").as("a_id"), col("px").as("pa"),
        col("n_px"), col("s").as("sa"), col("q").as("qa")), Seq("a_id"))
      .join(px.select(col("doc_id").as("b_id"), col("px").as("pb"),
        col("s").as("sb"), col("q").as("qb")), Seq("b_id"))
      .withColumn("p", aggregate(zip_with(col("pa"), col("pb"),
        (x, y) => x * y), lit(0L), (acc, x) => acc + x))
      .select(col("a_id"), col("b_id"), col("hamming"), col("n_px"),
        col("sa"), col("qa"), col("sb"), col("qb"), col("p"),
        expr(ssim).as("ssim"))
      .orderBy("a_id", "b_id")
  }

  /** Pixel statistics over the DECODED grayscale stream — the image
    * counterpart of [[audioSampleStats]] (mean/energy/range are what an
    * exposure filter, blank-frame detector, or contrast check reads).
    * Exact integers end-to-end; the oracle replays the pixel recipe
    * arithmetically. Projection of [[imageTable]] — shares the one
    * decode pass (and the memoized table) with [[phash]].
    */
  def pixelStats(docs: DataFrame): DataFrame =
    imageTable(docs).select("doc_id", "n_px", "sum_px", "sum_sq",
      "min_px", "max_px")

  /** 8-bin equal-width gray-level histogram over the DECODED pixels —
    * the exposure/contrast distribution an image-curation gate reads
    * (a blown-out or crushed image concentrates mass in the end bins;
    * [[pixelStats]]' mean/range can't see bimodality). Counted in the
    * shared [[imageTable]] decode loop (bin = v >> 5, exact integers),
    * published as flat columns; one more projection of the one decode
    * pass, zero extra shuffles.
    */
  def pixelHistogram(docs: DataFrame): DataFrame =
    imageTable(docs).select(col("doc_id") +:
      (0 until 8).map(i => element_at(col("hist"), i + 1).as(s"h$i")): _*)

  /** Strong-edge threshold for [[edgeStats]]: a first-difference of at
    * least this many gray levels counts as an edge.
    */
  val EdgeThreshold = 32

  /** Frames per synthesized clip and the scene-cut threshold for
    * [[motionStats]]: a frame-to-frame |Δ| mass of at least
    * `CutMeanDelta` gray levels PER PIXEL counts as a cut.
    */
  val ClipFrames = 8
  val CutMeanDelta = 24

  /** documents → real animated 40×24 grayscale GIF clips: frame t is the
    * thumbnail recipe scrolled t columns ([[grayPixel]] at (x+t) mod W) —
    * known horizontal motion, so temporal statistics have a closed-form
    * oracle. The bytes are genuine looping GIF89a animations
    * ([[encodeGifGrayAnimated]]); any stock player shows the scroll.
    */
  def synthesizeClips(docs: DataFrame): Dataset[MediaFile] = {
    import docs.sparkSession.implicits._
    spreadForCodec(docs.select("doc_id", "text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          md.reset()
          val md5hex = md.digest(text.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val hh = java.lang.Long.parseLong(md5hex.take(15), 16)
          val frames = (0 until ClipFrames).map { t =>
            Array.tabulate(PW * PH)(k =>
              grayPixel(hh, (k % PW + t) % PW, k / PW))
          }
          MediaFile(id, encodeGifGrayAnimated(PW, PH, frames))
        }
      }
  }

  final case class ClipFrameDiff(doc_id: Long, n_frames: Int, t: Int,
                                 frame_diff: Long, is_cut: Long)

  /** One row per DECODED frame transition of every synthesized clip:
    * (doc_id, n_frames, t, |Δ| mass against frame t−1, cut-grade flag) —
    * frame 0 carries (0, 0). The GIF decode is the COST of the whole
    * temporal family (the per-frame LZW work dwarfs the diff loop), so
    * this table is built once per (session, corpus) in the shared
    * corpus store — exactly the [[imageTable]] treatment — and
    * [[motionStats]] / [[keyFrames]] are projections of it, never
    * second decodes (the r13 bench measured the duplicated decode at
    * ~150 s across the two consumers at sf0.1). The cut threshold is
    * exact-integer (fd ≥ [[CutMeanDelta]]·W·H — no float), folded here
    * because it needs the decoded (w, h). mapPartitions scan-stage like
    * every codec operator — zero shuffle; O(docs × [[ClipFrames]]) rows.
    */
  private[graft] def clipDiffTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    def build: DataFrame =
      synthesizeClips(docs).mapPartitions(_.flatMap { f =>
        val (w, h, frames) = decodeGifGrayFrames(f.doc_id, f.payload)
        // ≥1-frame invariant: a zero-frame decode would emit NO rows here
        // and motionStats (a groupBy of this table) would silently drop
        // the doc_id from its row-per-clip contract. Unreachable while
        // synthesizeClips pins ClipFrames=8 frames per clip; fail loudly
        // if a future decoder/synthesizer change breaks that.
        require(frames.nonEmpty, s"clip ${f.doc_id} decoded to 0 frames")
        val thr = CutMeanDelta.toLong * w * h
        (0 until frames.length).map { t =>
          if (t == 0) ClipFrameDiff(f.doc_id, frames.length, 0, 0L, 0L)
          else {
            val a = frames(t - 1); val c = frames(t)
            var fd = 0L; var i = 0
            while (i < c.length) { fd += math.abs(c(i) - a(i)); i += 1 }
            ClipFrameDiff(f.doc_id, frames.length, t, fd,
              if (fd >= thr) 1L else 0L)
          }
        }
      }).toDF()
    Memo("clipdiff", docs)(build)
  }

  /** Temporal motion statistics over the DECODED frame stream — the
    * video-curation signal (a static clip has zero |Δ| mass; a scene cut
    * spikes it): per clip, the total frame-to-frame |Δ| sum, the largest
    * single frame transition, and the count of cut-grade transitions
    * (mean per-pixel |Δ| ≥ [[CutMeanDelta]], compared exactly — no
    * float). Exact integers end-to-end; the oracle replays the scrolled
    * pixel recipe arithmetically, so any multi-frame encoder/decoder
    * disagreement (GCE handling, frame ordering, dictionary reset across
    * frames) hash-mismatches. Aggregation of the shared [[clipDiffTable]]
    * — the decode pass is memoized; the groupBy moves only the
    * O(docs × frames) diff rows (partial-aggregated map-side), noise
    * next to the codec work it replaces re-running.
    */
  def motionStats(docs: DataFrame): DataFrame =
    clipDiffTable(docs)
      .groupBy("doc_id")
      .agg(max(col("n_frames")).as("n_frames"),
        sum(col("frame_diff")).as("sum_motion"),
        max(col("frame_diff")).as("max_frame_diff"),
        sum(col("is_cut")).as("n_cuts"))
      .select("doc_id", "n_frames", "sum_motion", "max_frame_diff", "n_cuts")

  /** Keyframe selection over the DECODED clip stream — the
    * frame-sampling operator a multimodal training pipeline runs before
    * the expensive per-frame work (captioning, embedding): the first
    * frame is always emitted, and a later frame is a keyframe iff its
    * |Δ| mass against the previous frame reaches the scene-cut grade
    * ([[CutMeanDelta]]·W·H, the [[motionStats]] threshold — compared
    * exactly as integers). Emits one row PER FRAME with its diff and
    * verdict, so downstream stages filter `is_key = 1` instead of
    * decoding everything again. Pure projection of the shared
    * [[clipDiffTable]] (zero extra codec work, zero shuffle); the
    * oracle replays the scrolled pixel recipe's closed-form differences.
    */
  def keyFrames(docs: DataFrame): DataFrame =
    clipDiffTable(docs)
      .select(col("doc_id"), col("t"), col("frame_diff"),
        when(col("t") === 0, lit(1))
          .otherwise(col("is_cut").cast("int")).as("is_key"))

  /** Gradient statistics over the DECODED grayscale stream — the
    * sharpness/blur/flatness signal an image-curation filter reads (a
    * blurry or synthetic-flat image has low |Δ| mass and few strong
    * edges; a textured one is dense in both). Exact integers end-to-end:
    * horizontal and vertical first-difference |Δ| sums, the max gradient,
    * and the strong-edge count. Projection of [[imageTable]] — shares the
    * one decode pass (and the memoized table) with [[phash]] and
    * [[pixelStats]]; the oracle replays the pixel recipe plus the
    * difference arithmetic.
    */
  def edgeStats(docs: DataFrame): DataFrame =
    imageTable(docs).select("doc_id", "sum_dx", "sum_dy",
      "max_grad", "n_edges")

  /** Resize plan: fit (width, height) into a `box` square preserving aspect
    * ratio — pure integer column math (exact in any engine). Emits the
    * target dimensions a batched GPU/codec stage would consume; upscaling
    * is clamped (scale factor <= 1).
    */
  def resizePlan(decoded: DataFrame, box: Int = 224): DataFrame = {
    // integer `div`, not `/`: Spark's `/` on integers is double division,
    // and the oracle's `//` is integral — keep both sides exact
    def fit(c: String) =
      expr(s"CASE WHEN greatest(width, height) <= $box THEN $c " +
        s"ELSE CAST(($c * $box) div greatest(width, height) AS INT) END")
    decoded.select(
      col("doc_id"), col("width"), col("height"),
      fit("width").cast("int").as("out_w"),
      fit("height").cast("int").as("out_h"))
  }

  // --- driver-checked query surface ---

  /** The mm_ family's shared in-session corpora, in build-cost order —
    * Bench forces each under its own timed `_build_*` entry so the
    * per-query figures read MARGINAL cost (the r13 bench charged the
    * whole GIF-decode pass to whichever consumer ran first:
    * mm_motion_stats read 118 s / mm_keyframes 32 s for what is one
    * shared decode plus two tiny projections).
    */
  private[graft] def memoWarmers: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      "mm_images" -> ((s, d) =>
        { imageTable(Tables.load(s, d, "documents")).count(); () }),
      "mm_clipdiff" -> ((s, d) =>
        { clipDiffTable(Tables.load(s, d, "documents")).count(); () }))

  private def decoded(s: SparkSession, d: String): DataFrame =
    decodeHeaders(synthesizeMedia(Tables.load(s, d, "documents"))).toDF()

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_meta" -> ((s, d) =>
      extractMeta(withPayload(Tables.load(s, d, "documents"))).orderBy("doc_id")),
    "mm_decode" -> ((s, d) => decoded(s, d).orderBy("doc_id")),
    "mm_frame_sample" -> ((s, d) =>
      sampleFrames(audioFrames(decoded(s, d))).orderBy("doc_id", "frame_idx")),
    "mm_resize" -> ((s, d) =>
      resizePlan(decoded(s, d).filter(col("width").isNotNull)).orderBy("doc_id")),
    "mm_audio_stats" -> ((s, d) =>
      audioSampleStats(synthesizeMedia(Tables.load(s, d, "documents")))
        .toDF().orderBy("doc_id")),
    "mm_phash" -> ((s, d) =>
      phash(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "mm_dhash" -> ((s, d) =>
      dhash(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "mm_phash_pairs" -> ((s, d) =>
      phashPairs(Tables.load(s, d, "documents"), maxHamming = 2)
        .orderBy("a_id", "b_id")),
    "mm_ssim" -> ((s, d) =>
      ssimPairs(Tables.load(s, d, "documents"), maxHamming = 2)),
    "mm_pixel_stats" -> ((s, d) =>
      pixelStats(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "mm_hist" -> ((s, d) =>
      pixelHistogram(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "mm_edge_stats" -> ((s, d) =>
      edgeStats(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "mm_motion_stats" -> ((s, d) =>
      motionStats(Tables.load(s, d, "documents")).orderBy("doc_id")),
    "mm_keyframes" -> ((s, d) =>
      keyFrames(Tables.load(s, d, "documents")).orderBy("doc_id", "t")),
    "mm_audio_autocorr" -> ((s, d) =>
      audioAutocorr(synthesizeMedia(Tables.load(s, d, "documents")))
        .toDF().orderBy("doc_id")),
    "mm_silence" -> ((s, d) =>
      audioSilence(synthesizeMedia(Tables.load(s, d, "documents")))
        .toDF().orderBy("doc_id")),
    "mm_zcr" -> ((s, d) =>
      audioZcr(synthesizeMedia(Tables.load(s, d, "documents")))
        .toDF().orderBy("doc_id")),
  )

  /** The phash pixel-recipe replay as oracle CTEs ending in
    * `ph(doc_id, phash60, n_ones)` — shared by the mm_phash / mm_phash_pairs
    * oracles here and the streaming st_phash oracle
    * ([[graft.streaming.EventStream]]), the bm25OracleCtes convention.
    */
  private[graft] lazy val phashOracleCtes: String =
    s"""r AS ($R),
       |px AS (
       |  SELECT doc_id, (x // 4) + 10 * (y // 4) AS b,
       |         (h % 256 + 7 * x + 13 * y + ((x * y) % 5) * 29) % 256 AS g
       |  FROM r, range(0, 40) tx(x), range(0, 24) ty(y)),
       |blk AS (SELECT doc_id, b, CAST(sum(g) AS BIGINT) AS bs
       |        FROM px GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(sum(bs) AS BIGINT) AS ts FROM blk GROUP BY 1),
       |ph AS (
       |  SELECT blk.doc_id,
       |    CAST(sum(CASE WHEN bs * 60 > ts
       |             THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
       |             ELSE 0 END) AS BIGINT) AS phash60,
       |    CAST(sum(CASE WHEN bs * 60 > ts THEN 1 ELSE 0 END) AS INTEGER) AS n_ones
       |  FROM blk JOIN tot USING (doc_id) GROUP BY 1)""".stripMargin

  // the Recipe fields, as the oracle re-derives them (same md5-prefix h)
  private val R =
    """SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS fmt,
      |       CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
      |FROM documents""".stripMargin

  private val DECODED =
    s"""SELECT doc_id,
       | CASE fmt WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' ELSE 'wav' END AS format,
       | CASE WHEN fmt < 3 THEN CAST(160 + h % 480 AS INTEGER) END AS width,
       | CASE WHEN fmt < 3 THEN CAST(120 + (h // 480) % 360 AS INTEGER) END AS height,
       | CASE fmt WHEN 0 THEN CAST(8 * (1 + h % 2) AS INTEGER)
       |          WHEN 1 THEN 8
       |          WHEN 2 THEN CAST(1 + h % 8 AS INTEGER)
       |          ELSE 16 END AS bit_depth,
       | CASE fmt WHEN 0 THEN (CASE CAST(h % 3 AS INTEGER) WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)
       |          WHEN 1 THEN CAST(1 + 2 * (h % 2) AS INTEGER)
       |          WHEN 2 THEN 1
       |          ELSE CAST(1 + h % 2 AS INTEGER) END AS channels,
       | CASE WHEN fmt = 3 THEN (CASE CAST(h % 4 AS INTEGER)
       |        WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END) END AS sample_rate,
       | CASE WHEN fmt = 3 THEN CAST(1000 + h % 9000 AS INTEGER) END AS n_samples
       |FROM ($R)""".stripMargin

  def oracle: Map[String, String] = Map(
    "mm_decode" -> s"$DECODED ORDER BY doc_id",
    "mm_frame_sample" ->
      s"""SELECT doc_id, n_frames, CAST(f AS INTEGER) AS frame_idx,
         | md5(concat(CAST(doc_id AS VARCHAR), '#', CAST(f AS VARCHAR))) AS frame_ref
         |FROM (SELECT doc_id, n_frames, unnest(range(0, n_frames, 4)) AS f
         |      FROM (SELECT doc_id, CAST((n_samples + 999) // 1000 AS INTEGER) AS n_frames
         |            FROM ($DECODED) WHERE format = 'wav'))
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      s"""SELECT doc_id, width, height,
         | CAST(CASE WHEN greatest(width, height) <= 224 THEN width
         |           ELSE (width * 224) // greatest(width, height) END AS INTEGER) AS out_w,
         | CAST(CASE WHEN greatest(width, height) <= 224 THEN height
         |           ELSE (height * 224) // greatest(width, height) END AS INTEGER) AS out_h
         |FROM ($DECODED) WHERE width IS NOT NULL ORDER BY doc_id""".stripMargin,
    // byte-pair replay: the WAV body is the document's UTF-8 text (ASCII
    // corpus: byte k == ascii(char k)); sample i = b(2i) + 256·b(2i+1),
    // two's-complement above 32767; available samples = min(declared
    // data size per the Recipe, body length) // 2
    "mm_audio_stats" ->
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    least(CAST((1000 + h % 9000) * ((1 + h % 2) * 2) AS BIGINT),
         |          CAST(length(text) AS BIGINT)) // 2 AS np
         |  FROM ($R) JOIN documents USING (doc_id) WHERE fmt = 3),
         |v AS (
         |  SELECT doc_id,
         |    unnest([ascii(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
         |            + 256 * ascii(substr(text, CAST(2 * i + 2 AS INTEGER), 1))
         |            FOR i IN range(0, np)]) AS raw
         |  FROM p),
         |s AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END)
         |         AS BIGINT) AS sum_amp,
         |    CAST(sum((CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END)
         |           * (CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END))
         |         AS BIGINT) AS sum_sq,
         |    CAST(max(abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END))
         |         AS INTEGER) AS peak
         |  FROM v GROUP BY 1)
         |SELECT p.doc_id, np AS n_samples, coalesce(sum_amp, 0) AS sum_amp,
         |  coalesce(sum_sq, 0) AS sum_sq, coalesce(peak, 0) AS peak
         |FROM p LEFT JOIN s ON p.doc_id = s.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, concat('text/plain;lang=', lang) AS media_type,
        | CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS size_bytes,
        | md5(text) AS payload_md5,
        | substr(text, 1, 8) AS magic
        |FROM documents ORDER BY doc_id""".stripMargin,
    // pixel-recipe replay: the Spark side DECODES real PNG/GIF bytes; the
    // oracle recomputes grayPixel + the 10×6 block-mean bits arithmetically
    "mm_phash" ->
      s"""WITH $phashOracleCtes
         |SELECT doc_id, phash60, n_ones FROM ph ORDER BY 1""".stripMargin,
    // the same blk CTE; bit (cx + 9·cy) set on a STRICT right-neighbor
    // win — b2.b = a.b + 1 within the row (a.b % 10 < 9)
    "mm_dhash" ->
      s"""WITH $phashOracleCtes,
         |dh AS (
         |  SELECT a.doc_id,
         |    CAST(sum(CASE WHEN a.bs > b2.bs
         |      THEN (CAST(1 AS BIGINT)
         |            << CAST((a.b % 10) + 9 * (a.b // 10) AS INTEGER))
         |      ELSE 0 END) AS BIGINT) AS dhash54,
         |    CAST(sum(CASE WHEN a.bs > b2.bs THEN 1 ELSE 0 END) AS INTEGER)
         |      AS d_ones
         |  FROM blk a JOIN blk b2
         |    ON a.doc_id = b2.doc_id AND b2.b = a.b + 1
         |  WHERE a.b % 10 < 9
         |  GROUP BY 1)
         |SELECT doc_id, dhash54, d_ones FROM dh ORDER BY doc_id""".stripMargin,
    // brute-force all-pairs verify of the banded join (pigeonhole recall
    // within maxHamming is exact, so the two formulations agree)
    "mm_phash_pairs" ->
      s"""WITH $phashOracleCtes
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.phash60, b.phash60)) AS INTEGER) AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash60, b.phash60)) <= 2
         |ORDER BY 1, 2""".stripMargin,
    // mm_ssim: the same candidate set as mm_phash_pairs, each pair's
    // pixel sufficient statistics replayed from the recipe, the ONE
    // SSIM expression textually identical to the Spark side
    "mm_ssim" ->
      s"""WITH $phashOracleCtes,
         |cand AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(bit_count(xor(a.phash60, b.phash60)) AS INTEGER)
         |      AS hamming
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash60, b.phash60)) <= 2),
         |pxy AS (
         |  SELECT doc_id, x, y,
         |    (h % 256 + 7 * x + 13 * y + ((x * y) % 5) * 29) % 256 AS g
         |  FROM r, range(0, 40) tx(x), range(0, 24) ty(y)),
         |sums AS (
         |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_px,
         |    CAST(sum(g) AS BIGINT) AS s, CAST(sum(g * g) AS BIGINT) AS q
         |  FROM pxy GROUP BY 1),
         |crs AS (
         |  SELECT c.a_id, c.b_id, CAST(sum(pa.g * pb.g) AS BIGINT) AS p
         |  FROM cand c
         |  JOIN pxy pa ON pa.doc_id = c.a_id
         |  JOIN pxy pb ON pb.doc_id = c.b_id
         |    AND pb.x = pa.x AND pb.y = pa.y
         |  GROUP BY 1, 2)
         |SELECT c.a_id, c.b_id, c.hamming, sa.n_px,
         |  sa.s AS sa, sa.q AS qa, sb.s AS sb, sb.q AS qb, crs.p,
         |  round(((2.0 * (sa.s / CAST(sa.n_px AS DOUBLE)) * (sb.s / CAST(sa.n_px AS DOUBLE)) + 6.5025) * (2.0 * (crs.p / CAST(sa.n_px AS DOUBLE) - (sa.s / CAST(sa.n_px AS DOUBLE)) * (sb.s / CAST(sa.n_px AS DOUBLE))) + 58.5225)) / (((sa.s / CAST(sa.n_px AS DOUBLE)) * (sa.s / CAST(sa.n_px AS DOUBLE)) + (sb.s / CAST(sa.n_px AS DOUBLE)) * (sb.s / CAST(sa.n_px AS DOUBLE)) + 6.5025) * ((sa.q / CAST(sa.n_px AS DOUBLE) - (sa.s / CAST(sa.n_px AS DOUBLE)) * (sa.s / CAST(sa.n_px AS DOUBLE))) + (sb.q / CAST(sa.n_px AS DOUBLE) - (sb.s / CAST(sa.n_px AS DOUBLE)) * (sb.s / CAST(sa.n_px AS DOUBLE))) + 58.5225)), 6) AS ssim
         |FROM cand c JOIN sums sa ON sa.doc_id = c.a_id
         |JOIN sums sb ON sb.doc_id = c.b_id
         |JOIN crs ON crs.a_id = c.a_id AND crs.b_id = c.b_id
         |ORDER BY 1, 2""".stripMargin,
    "mm_pixel_stats" ->
      s"""WITH r AS ($R),
         |px AS (
         |  SELECT doc_id,
         |         (h % 256 + 7 * x + 13 * y + ((x * y) % 5) * 29) % 256 AS g
         |  FROM r, range(0, 40) tx(x), range(0, 24) ty(y))
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_px,
         |  CAST(sum(g) AS BIGINT) AS sum_px,
         |  CAST(sum(g * g) AS BIGINT) AS sum_sq,
         |  CAST(min(g) AS INTEGER) AS min_px,
         |  CAST(max(g) AS INTEGER) AS max_px
         |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,
    // pixel-recipe replay, binned: the Spark side bins REAL decoded bytes
    "mm_hist" ->
      s"""WITH r AS ($R),
         |px AS (
         |  SELECT doc_id,
         |         (h % 256 + 7 * x + 13 * y + ((x * y) % 5) * 29) % 256 AS g
         |  FROM r, range(0, 40) tx(x), range(0, 24) ty(y))
         |SELECT doc_id,
         |${(0 until 8).map(i =>
              s"  CAST(sum(CASE WHEN g // 32 = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i")
             .mkString(",\n")}
         |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,
    // pixel-recipe replay + first-difference arithmetic: the Spark side
    // differences REAL decoded bytes; the oracle differences the recipe
    "mm_edge_stats" ->
      s"""WITH r AS ($R),
         |px AS (
         |  SELECT doc_id, x, y,
         |         (h % 256 + 7 * x + 13 * y + ((x * y) % 5) * 29) % 256 AS g
         |  FROM r, range(0, 40) tx(x), range(0, 24) ty(y)),
         |d AS (
         |  SELECT a.doc_id, abs(b.g - a.g) AS d, 1 AS is_dx
         |  FROM px a JOIN px b
         |    ON a.doc_id = b.doc_id AND b.x = a.x + 1 AND b.y = a.y
         |  UNION ALL
         |  SELECT a.doc_id, abs(b.g - a.g) AS d, 0 AS is_dx
         |  FROM px a JOIN px b
         |    ON a.doc_id = b.doc_id AND b.x = a.x AND b.y = a.y + 1)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN is_dx = 1 THEN d ELSE 0 END) AS BIGINT)
         |    AS sum_dx,
         |  CAST(sum(CASE WHEN is_dx = 0 THEN d ELSE 0 END) AS BIGINT)
         |    AS sum_dy,
         |  CAST(max(d) AS INTEGER) AS max_grad,
         |  CAST(sum(CASE WHEN d >= 32 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_edges
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // scrolled-recipe replay: frame t's pixel is the recipe at (x+t) mod 40,
    // so the frame-to-frame difference has a closed form the oracle sums
    // directly — no window needed. The Spark side differences REAL decoded
    // animated-GIF frames.
    "mm_motion_stats" ->
      s"""WITH r AS ($R),
         |d AS (
         |  SELECT doc_id, t,
         |    CAST(sum(abs(
         |      ((h % 256 + 7 * ((x + t) % 40) + 13 * y
         |        + ((((x + t) % 40) * y) % 5) * 29) % 256)
         |      - ((h % 256 + 7 * ((x + t - 1) % 40) + 13 * y
         |        + ((((x + t - 1) % 40) * y) % 5) * 29) % 256)))
         |      AS BIGINT) AS fd
         |  FROM r, range(1, 8) tt(t), range(0, 40) tx(x), range(0, 24) ty(y)
         |  GROUP BY 1, 2)
         |SELECT doc_id, CAST(8 AS INTEGER) AS n_frames,
         |  CAST(sum(fd) AS BIGINT) AS sum_motion,
         |  CAST(max(fd) AS BIGINT) AS max_frame_diff,
         |  CAST(sum(CASE WHEN fd >= 24 * 960 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cuts
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-frame keyframe verdicts from the same scrolled-recipe
    // closed-form diffs; frame 0 is always a key with diff 0
    "mm_keyframes" ->
      s"""WITH r AS ($R),
         |d AS (
         |  SELECT doc_id, t,
         |    CAST(sum(abs(
         |      ((h % 256 + 7 * ((x + t) % 40) + 13 * y
         |        + ((((x + t) % 40) * y) % 5) * 29) % 256)
         |      - ((h % 256 + 7 * ((x + t - 1) % 40) + 13 * y
         |        + ((((x + t - 1) % 40) * y) % 5) * 29) % 256)))
         |      AS BIGINT) AS fd
         |  FROM r, range(1, 8) tt(t), range(0, 40) tx(x), range(0, 24) ty(y)
         |  GROUP BY 1, 2)
         |SELECT doc_id, CAST(t AS INTEGER) AS t, fd AS frame_diff,
         |  CAST(fd >= 24 * 960 AS INTEGER) AS is_key
         |FROM d
         |UNION ALL
         |SELECT doc_id, CAST(0 AS INTEGER), CAST(0 AS BIGINT),
         |  CAST(1 AS INTEGER)
         |FROM r
         |ORDER BY doc_id, t""".stripMargin,
    // byte-pair replay (the mm_audio_stats discipline) + window LEADs:
    // lead(val, L) is NULL past the stream end, and sum() skips NULLs —
    // exactly the i+L < n loop bound of the Spark-side kernel
    "mm_audio_autocorr" ->
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    least(CAST((1000 + h % 9000) * ((1 + h % 2) * 2) AS BIGINT),
         |          CAST(length(text) AS BIGINT)) // 2 AS np
         |  FROM ($R) JOIN documents USING (doc_id) WHERE fmt = 3),
         |v AS (SELECT doc_id, unnest(range(0, np)) AS i, text FROM p),
         |s AS (
         |  SELECT doc_id, i,
         |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
         |  FROM (SELECT doc_id, i,
         |          ascii(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
         |          + 256 * ascii(substr(text, CAST(2 * i + 2 AS INTEGER), 1))
         |            AS raw
         |        FROM v)),
         |w AS (
         |  SELECT doc_id, val,
         |    lead(val, 1) OVER win AS v1, lead(val, 2) OVER win AS v2,
         |    lead(val, 4) OVER win AS v4, lead(val, 8) OVER win AS v8
         |  FROM s WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(sum(val * val) AS BIGINT) AS r0,
         |    CAST(sum(val * v1) AS BIGINT) AS r1,
         |    CAST(sum(val * v2) AS BIGINT) AS r2,
         |    CAST(sum(val * v4) AS BIGINT) AS r4,
         |    CAST(sum(val * v8) AS BIGINT) AS r8
         |  FROM w GROUP BY 1)
         |SELECT p.doc_id, np AS n_samples,
         |  coalesce(r0, 0) AS r0, coalesce(r1, 0) AS r1,
         |  coalesce(r2, 0) AS r2, coalesce(r4, 0) AS r4,
         |  coalesce(r8, 0) AS r8
         |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    // the same byte-pair replay, then q52's gaps-and-islands over the
    // sample index: i - row_number() groups consecutive silent samples
    "mm_silence" ->
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    least(CAST((1000 + h % 9000) * ((1 + h % 2) * 2) AS BIGINT),
         |          CAST(length(text) AS BIGINT)) // 2 AS np
         |  FROM ($R) JOIN documents USING (doc_id) WHERE fmt = 3),
         |v AS (SELECT doc_id, unnest(range(0, np)) AS i, text FROM p),
         |s AS (
         |  SELECT doc_id, i,
         |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
         |  FROM (SELECT doc_id, i,
         |          ascii(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
         |          + 256 * ascii(substr(text, CAST(2 * i + 2 AS INTEGER), 1))
         |            AS raw
         |        FROM v)),
         |f AS (SELECT doc_id, i FROM s WHERE abs(val) < 10000),
         |g AS (SELECT doc_id, i,
         |        i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
         |          AS grp FROM f),
         |runs AS (SELECT doc_id, grp, count(*) AS len FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_silent,
         |          CAST(sum(CASE WHEN len >= 4 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_runs,
         |          CAST(max(len) AS BIGINT) AS longest
         |        FROM runs GROUP BY 1)
         |SELECT p.doc_id, np AS n_samples,
         |  coalesce(n_silent, 0) AS n_silent,
         |  coalesce(n_runs, 0) AS n_runs,
         |  coalesce(longest, 0) AS longest_run
         |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    // the same byte-pair replay; a crossing is val * lead(val) < 0 —
    // NULL past the end makes the predicate false, matching the
    // i+1 < n loop bound; mean_abs is the one IEEE division
    "mm_zcr" ->
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    least(CAST((1000 + h % 9000) * ((1 + h % 2) * 2) AS BIGINT),
         |          CAST(length(text) AS BIGINT)) // 2 AS np
         |  FROM ($R) JOIN documents USING (doc_id) WHERE fmt = 3),
         |v AS (SELECT doc_id, unnest(range(0, np)) AS i, text FROM p),
         |s AS (
         |  SELECT doc_id, i,
         |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
         |  FROM (SELECT doc_id, i,
         |          ascii(substr(text, CAST(2 * i + 1 AS INTEGER), 1))
         |          + 256 * ascii(substr(text, CAST(2 * i + 2 AS INTEGER), 1))
         |            AS raw
         |        FROM v)),
         |w AS (
         |  SELECT doc_id, val, lead(val, 1) OVER win AS v1
         |  FROM s WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN val * v1 < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS zc,
         |    CAST(sum(abs(val)) AS BIGINT) AS sa
         |  FROM w GROUP BY 1)
         |SELECT p.doc_id, np AS n_samples,
         |  coalesce(zc, 0) AS n_crossings, coalesce(sa, 0) AS sum_abs,
         |  CASE WHEN np > 0 THEN
         |    CAST(coalesce(sa, 0) AS DOUBLE) / CAST(np AS DOUBLE) END
         |    AS mean_abs
         |FROM p LEFT JOIN agg ON p.doc_id = agg.doc_id
         |ORDER BY p.doc_id""".stripMargin,
  )
}
