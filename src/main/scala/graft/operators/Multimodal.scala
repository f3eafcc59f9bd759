package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, and a decode/feature-extract stage as a
  * partition-local transform.
  *
  * Image DIMENSIONS decode for real: [[MediaHeaders]] parses actual
  * PNG IHDR and JPEG SOF segment headers (both public formats, pure
  * big-endian byte arithmetic — no codec library needed). Full pixel
  * decode needs codecs the container lacks, so THAT step stays a
  * clearly-marked deterministic STUB ([[StubDecoder]]); the Spark-side
  * plumbing — binary schema, batched partition-local processing, fixed
  * feature shape — is real and tested. Swapping the stub for a
  * JNI/codec call changes nothing structurally.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, content: Array[Byte], media_type: String)
  final case class MediaFeatures(
      doc_id: Long, media_type: String, byte_len: Long,
      width: Int, height: Int, features: Array[Float])

  /** REAL image-header parsers — dimensions from the container formats
    * themselves, not a stand-in. PNG: the IHDR chunk is mandated first
    * (8-byte signature, 4-byte length, "IHDR", then big-endian
    * width/height). JPEG: walk the marker segments from SOI, skipping
    * APPn/DQT/etc. by their length fields, until a frame header (SOFn
    * except the DHT/JPG/DAC markers C4/C8/CC) carries height then width
    * at payload offsets 3 and 5. Parse failure returns None — callers
    * surface it as (-1, -1), never a fabricated dimension. */
  object MediaHeaders {
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
        ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

    private val PngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

    def pngDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 24 &&
        (0 until 8).forall(i => (b(i) & 0xFF) == PngSig(i)) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some((be32(b, 16), be32(b, 20)))
      else None

    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
        ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

    /** GIF87a/GIF89a: 6-byte signature, then the logical-screen
      * width/height as LITTLE-endian u16 — the byte order that makes
      * these parsers a real test of the decode path, not a PNG clone. */
    def gifDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        Some((le16(b, 6), le16(b, 8)))
      else None

    /** BMP: "BM", then BITMAPINFOHEADER width/height as little-endian
      * i32 at offsets 18/22; height may be negative (top-down rows) —
      * dims report its magnitude, as pixel decoders do. */
    def bmpDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
        Some((le32(b, 18), math.abs(le32(b, 22))))
      else None

    private def isSof(m: Int): Boolean =
      m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC

    def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xFF) != 0xFF) return None
        val marker = b(i + 1) & 0xFF
        // standalone markers (no length field): TEM, RSTn, repeated SOI
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD8)) i += 2
        else if (isSof(marker)) {
          return if (i + 8 < b.length) Some((be16(b, i + 7), be16(b, i + 5)))
          else None
        } else i += 2 + be16(b, i + 2)
      }
      None
    }

    /** WAV/RIFF: "RIFF" + size + "WAVE", then a real CHUNK WALK (id +
      * LE32 size, bodies padded to even) until "fmt " (channels,
      * sample rate, byte rate, bits at fixed body offsets) and "data"
      * (declared payload size — a header decoder reads the size, never
      * the samples, exactly like the image parsers). Returns
      * (channels, sampleRate, bits, durationMs) with duration =
      * dataLen·1000/byteRate in integer math; any structural failure —
      * truncation, missing fmt before data, negative size — is None,
      * never a fabricated value. */
    def wavMeta(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
      def tag(i: Int, s: String): Boolean =
        i + 4 <= b.length && (0 until 4).forall(j => (b(i + j) & 0xFF) == s.charAt(j))
      if (!(tag(0, "RIFF") && tag(8, "WAVE"))) return None
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // ch, rate, byteRate, bits
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (size < 0) return None
        if (tag(i, "fmt ")) {
          if (i + 8 + 16 > b.length) return None
          fmt = Some((le16(b, i + 10), le32(b, i + 12), le32(b, i + 16),
            le16(b, i + 22)))
        } else if (tag(i, "data")) {
          return fmt.collect { case (ch, rate, byteRate, bits) if byteRate > 0 =>
            (ch, rate, bits, size.toLong * 1000L / byteRate)
          }
        }
        i += 8 + size + (size & 1) // RIFF chunk bodies pad to even
      }
      None
    }

    private def be64(b: Array[Byte], i: Int): Long =
      ((be32(b, i).toLong & 0xFFFFFFFFL) << 32) | (be32(b, i + 4).toLong & 0xFFFFFFFFL)

    /** MP4 / ISO-BMFF: a real BOX WALK with NESTING — top-level boxes
      * ([BE32 size][4cc type]) until `moov`, then moov's CHILDREN until
      * `mvhd`, whose version byte switches the field layout (v0: 32-bit
      * times, timescale at +20, duration at +24; v1: 64-bit times,
      * timescale at +28, BE64 duration at +32) — the branch every real
      * MP4 parser must carry. Returns (timescale, durationUnits); any
      * structural failure — size < 8, moov overrunning the buffer,
      * truncated or unknown-version mvhd, no mvhd before moov ends — is
      * None, never a fabricated value. Like the image/WAV parsers this
      * reads headers only: `mdat` (the sample payload) is just another
      * size to skip over. */
    def mp4Meta(b: Array[Byte]): Option[(Int, Long)] = {
      def tag(i: Int, s: String): Boolean =
        i + 4 <= b.length && (0 until 4).forall(j => (b(i + j) & 0xFF) == s.charAt(j))
      var i = 0
      while (i + 8 <= b.length) {
        val size = be32(b, i)
        if (size < 8) return None
        if (tag(i + 4, "moov")) {
          val end = i + size
          if (end > b.length) return None
          var j = i + 8
          while (j + 8 <= end) {
            val csize = be32(b, j)
            if (csize < 8) return None
            if (tag(j + 4, "mvhd")) {
              val ver = b(j + 8) & 0xFF
              return ver match {
                case 0 if j + 28 <= end =>
                  Some((be32(b, j + 20), be32(b, j + 24).toLong & 0xFFFFFFFFL))
                case 1 if j + 40 <= end =>
                  Some((be32(b, j + 28), be64(b, j + 32)))
                case _ => None
              }
            }
            j += csize
          }
          return None
        }
        i += size
      }
      None
    }

    /** TIFF / EXIF IFD walk — the metadata container behind every
      * camera JPEG's Exif block and every TIFF scan: a BYTE-ORDER
      * header ("II" little-endian or "MM" big-endian — the SAME walker
      * must run both, selected per file at offset 0), the 42 magic in
      * that order, a u32 offset to IFD0, then IFD0's 12-byte entries
      * [tag u16][type u16][count u32][value/offset 4B]. Reads
      * ImageWidth (0x0100), ImageLength (0x0101) and Orientation
      * (0x0112), each accepted as SHORT (type 3, value in the FIRST
      * TWO bytes of the value field — in file byte order) or LONG
      * (type 4, all four bytes); entries of any other type/count —
      * e.g. an ASCII Make whose value field is an offset — are SKIPPED
      * by the walk, never followed. Returns (width, height,
      * orientation) with orientation defaulting to 1 (top-left) when
      * the tag is absent, as the EXIF spec prescribes; any structural
      * failure — bad byte order, wrong magic, IFD or entry overrunning
      * the buffer — is None, never a fabricated value. */
    def tiffMeta(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 8) return None
      val le =
        if (b(0) == 'I' && b(1) == 'I') true
        else if (b(0) == 'M' && b(1) == 'M') false
        else return None
      def u16(i: Int): Int = if (le) le16(b, i) else be16(b, i)
      def u32(i: Int): Int = if (le) le32(b, i) else be32(b, i)
      if (u16(2) != 42) return None
      // The IFD offset is an unsigned u32: widen to Long BEFORE any
      // arithmetic — an offset near 2^31 would wrap `ifd + 2` negative
      // in Int math and slip past the guard into an
      // ArrayIndexOutOfBounds on a malformed file, violating the
      // any-structural-failure-is-None contract above.
      val ifdL = u32(4).toLong & 0xFFFFFFFFL
      if (ifdL + 2 > b.length) return None
      val ifd = ifdL.toInt // proven <= b.length - 2, so Int-safe
      val n = u16(ifd)
      if (ifdL + 2 + n.toLong * 12 > b.length) return None
      var w = -1; var h = -1; var o = 1
      var e = 0
      while (e < n) {
        val off = ifd + 2 + e * 12
        val tag = u16(off)
        val typ = u16(off + 2)
        val cnt = u32(off + 4)
        val v =
          if (cnt == 1 && typ == 3) u16(off + 8)
          else if (cnt == 1 && typ == 4) u32(off + 8)
          else -1
        if (v >= 0) tag match {
          case 0x0100 => w = v
          case 0x0101 => h = v
          case 0x0112 => o = v
          case _ => ()
        }
        e += 1
      }
      if (w >= 0 && h >= 0) Some((w, h, o)) else None
    }
  }

  /** STUB decoder: stands in for a full pixel codec (feature vectors
    * from content). Deterministic so the pipeline is testable;
    * partition-local so a real decoder slots in with the same batching
    * shape. */
  object StubDecoder {
    def decode(r: MediaRecord): MediaFeatures = {
      val len = r.content.length.toLong
      // deterministic stand-in arithmetic where a pixel codec would run;
      // container-level dims come from MediaHeaders, not from here
      val width = (len % 640).toInt
      val height = (len * 7 % 480).toInt
      val feats = Array.tabulate(4)(i => ((len + i * 31) % 256).toFloat / 255f)
      MediaFeatures(r.doc_id, r.media_type, len, width, height, feats)
    }
  }

  /** The decode dispatch: image payloads get their REAL header
    * dimensions ((-1, -1) on a corrupt header — never fabricated);
    * everything else falls through to the stub codec. */
  object HeaderDecoder {
    private val parsers: Map[String, Array[Byte] => Option[(Int, Int)]] = Map(
      "image/png" -> MediaHeaders.pngDims,
      "image/jpeg" -> MediaHeaders.jpegDims,
      "image/gif" -> MediaHeaders.gifDims,
      "image/bmp" -> MediaHeaders.bmpDims)

    def decode(r: MediaRecord): MediaFeatures = parsers.get(r.media_type) match {
      case Some(parse) =>
        val dims = parse(r.content).getOrElse((-1, -1))
        val len = r.content.length.toLong
        MediaFeatures(r.doc_id, r.media_type, len, dims._1, dims._2,
          Array(dims._1.toFloat, dims._2.toFloat, len.toFloat, 0f))
      case None => StubDecoder.decode(r)
    }
  }

  /** Decode / feature-extract over partitions (the mapInPandas analog:
    * batched, partition-local, fixed output schema): real header dims
    * for image types, the stub codec elsewhere. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(HeaderDecoder.decode))
  }

  /** Payload builders shared by [[features]] and [[decode]]: a valid
    * 33-byte PNG (signature + IHDR) and a 39-byte JPEG (SOI + a JFIF
    * APP0 segment the parser must skip + SOF0) carrying the given dims
    * big-endian, built in-flight as hex columns. */
  private def pngHexFor(w: Column, h: Column): Column = concat(
    lit("89504E470D0A1A0A" + "0000000D" + "49484452"), // sig, len 13, IHDR
    lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
    lit("0806000000" + "00000000")) // bit depth 8, RGBA, ..., dummy CRC
  private def jpgHexFor(w: Column, h: Column): Column = concat(
    lit("FFD8" + "FFE000104A46494600010100000100010000" + // SOI, APP0/JFIF
      "FFC00011" + "08"), // SOF0, len 17, precision 8
    lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
    lit("03" + "012200" + "021101" + "031101")) // 3 components

  /** Little-endian hex of a 16/32-bit value — byte-swapped big-endian
    * pad, for the GIF/BMP builders. */
  private def le16Hex(v: Column): Column = {
    val p = lpad(hex(v), 4, "0")
    concat(substring(p, 3, 2), substring(p, 1, 2))
  }
  private def le32Hex(v: Column): Column = {
    val p = lpad(hex(v), 8, "0")
    concat(substring(p, 7, 2), substring(p, 5, 2),
      substring(p, 3, 2), substring(p, 1, 2))
  }

  /** 13-byte GIF89a: signature + LE16 logical-screen dims + flags. */
  private def gifHexFor(w: Column, h: Column): Column = concat(
    lit("474946383961"), le16Hex(w), le16Hex(h), lit("000000"))

  /** 30-byte BMP prefix: "BM", file header, BITMAPINFOHEADER through
    * planes/bpp with LE32 dims at offsets 18/22. */
  private def bmpHexFor(w: Column, h: Column): Column = concat(
    lit("424D" + "00000000" + "0000" + "0000" + "36000000" + "28000000"),
    le32Hex(w), le32Hex(h), lit("0100" + "1800"))

  /** The feature-extraction query COMPOSED over the real decode
    * dispatch: [[extractFeatures]] runs on a mixed-modality corpus —
    * every third doc keeps its text payload (the stub codec's
    * deterministic dims), the rest are rebuilt in-flight as real
    * PNG/JPEG containers whose header bytes [[MediaHeaders]] parses
    * back, and half the JPEG slice is TRUNCATED (3 bytes) so the
    * corrupt-header contract surfaces as (-1, -1) in the oracle-checked
    * output, never a fabricated dimension. The oracle recomputes every
    * class by independent integer arithmetic on doc_id / text length. */
  val features = OracleQuery(
    "multimodal_features",
    (s, d) => {
      import s.implicits._
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") * 7 % 480 + 1).cast("int")
      val media = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 2, encode(col("text"), "UTF-8"))
          .when(col("doc_id") % 3 === 0, unhex(pngHexFor(w, h)))
          .when(col("doc_id") % 6 === 1, unhex(lit("FFD8FF"))) // truncated
          .otherwise(unhex(jpgHexFor(w, h))).as("content"),
        when(col("doc_id") % 3 === 2, lit("text/plain"))
          .when(col("doc_id") % 3 === 0, lit("image/png"))
          .otherwise(lit("image/jpeg")).as("media_type")).as[MediaRecord]
      extractFeatures(media)
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 2 THEN 'text/plain'
      |       WHEN doc_id % 3 = 0 THEN 'image/png'
      |       ELSE 'image/jpeg' END AS media_type,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN octet_length(CAST(text AS BLOB))
      |       WHEN doc_id % 3 = 0 THEN 33
      |       WHEN doc_id % 6 = 1 THEN 3
      |       ELSE 39 END AS BIGINT) AS byte_len,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN octet_length(CAST(text AS BLOB)) % 640
      |       WHEN doc_id % 6 = 1 THEN -1
      |       ELSE doc_id % 640 + 1 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN octet_length(CAST(text AS BLOB)) * 7 % 480
      |       WHEN doc_id % 6 = 1 THEN -1
      |       ELSE doc_id * 7 % 480 + 1 END AS INT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** REAL header decode, round-tripped: the plan BUILDS valid PNG and
    * JPEG payloads in-flight (signature + IHDR with big-endian dims for
    * even doc_ids; SOI + a JFIF APP0 segment the parser must skip + an
    * SOF0 frame header for odd ones), [[extractFeatures]] parses the
    * actual bytes back through [[MediaHeaders]], and the oracle computes
    * the expected dimensions by INDEPENDENT integer arithmetic on
    * doc_id — so a hash match proves the parser inverts the container
    * format, not that two copies of one formula agree. byte_len pins
    * the construction (33-byte PNG, 39-byte JPEG). Map-side only. */
  val decode = OracleQuery(
    "multimodal_decode",
    (s, d) => {
      import s.implicits._
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") * 7 % 480 + 1).cast("int")
      val cls = col("doc_id") % 4
      val media = Tables.documents(s, d).select(col("doc_id"),
        unhex(when(cls === 0, pngHexFor(w, h))
          .when(cls === 1, jpgHexFor(w, h))
          .when(cls === 2, gifHexFor(w, h))
          .otherwise(bmpHexFor(w, h))).as("content"),
        when(cls === 0, lit("image/png"))
          .when(cls === 1, lit("image/jpeg"))
          .when(cls === 2, lit("image/gif"))
          .otherwise(lit("image/bmp")).as("media_type")).as[MediaRecord]
      extractFeatures(media)
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
      |                  WHEN 2 THEN 'image/gif' ELSE 'image/bmp' END AS media_type,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 39
      |                       WHEN 2 THEN 13 ELSE 30 END AS BIGINT) AS byte_len,
      |  CAST(doc_id % 640 + 1 AS INT) AS width,
      |  CAST(doc_id * 7 % 480 + 1 AS INT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin))

  /** Frame sampling (the video/audio frame-extraction analog): fixed
    * 64-char frames sampled every 256 chars of the payload, each frame
    * fingerprinted. The plumbing — per-record frame fan-out via
    * `explode(sequence(...))`, frame addressing arithmetic, per-frame
    * hash — is exactly what a real codec-backed sampler needs; only the
    * "decode" (here: substring) is the stub. Map-side only: no shuffle
    * until the final presentation sort. */
  val frameSample = {
    val frameLen = 64
    val stride = 256
    OracleQuery(
      "multimodal_framesample",
      (s, d) => {
        val doc = Tables.documents(s, d)
          .withColumn("len", length(col("text")))
          .withColumn("nframes",
            greatest(lit(1L), floor((col("len") - frameLen) / lit(stride.toDouble)) + 1L))
        doc
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0L), col("nframes") - 1)).as("frame_idx"))
          .withColumn("frame",
            col("text").substr(col("frame_idx") * stride + 1, lit(frameLen)))
          .select(col("doc_id"), col("frame_idx"),
            md5(col("frame")).as("frame_hash"),
            length(col("frame")).as("frame_len"))
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some(s"""SELECT doc_id, fi AS frame_idx,
        |       md5(substring(text, CAST(fi * $stride + 1 AS INT), $frameLen)) AS frame_hash,
        |       length(substring(text, CAST(fi * $stride + 1 AS INT), $frameLen)) AS frame_len
        |FROM (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0,
        |           greatest(1, CAST(floor((length(text) - $frameLen) / $stride.0) AS BIGINT) + 1) - 1)) AS fi
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin))
  }

  /** Resize (the image-downscale analog on a 1-D payload): 4:1
    * nearest-neighbor stride sampling — keep the first of every 4 payload
    * positions — with the resized length and content hash as the audit
    * columns. The regex is the deterministic stand-in where a real
    * resampling codec would sit; per-row, map-side, linear. `[\s\S]`
    * instead of `.`: the engines' dot differ on line terminators (Java
    * excludes CR, NEL, LS, PS; RE2 excludes only LF), while the explicit
    * class matches EVERY character identically in both. */
  /** The resized-image audit row: grid geometry plus a value-level
    * fingerprint of the RESAMPLED PIXELS (count, sum, position-weighted
    * sum, min/max, first/last) — enough that any wrong pixel value,
    * wrong block assignment, or wrong traversal order breaks the
    * oracle hash. Empty grids (payload shorter than one full block row)
    * carry -1 sentinels, the family's corrupt/absent contract. */
  final case class ResizeAudit(
      doc_id: Long, orig_chars: Long, out_w: Long, out_h: Long,
      px_n: Long, px_sum: Long, px_wsum: Long, px_min: Long, px_max: Long,
      px_first: Long, px_last: Long)

  /** REAL box-filter downsample (not a stride pick): the payload's code
    * points form a `SrcW`-wide grayscale grid, row-major; each output
    * pixel is the floor-mean of its `K`×`K` source block — pure integer
    * arithmetic (`sum / K²` on non-negative code points), so every
    * output pixel is exactly replayable by the DuckDB oracle's own
    * SQL over `ascii(substring(...))`. Edge policy TRUNCATE: only full
    * source rows and full blocks participate (a standard resize policy,
    * and the one whose arithmetic both engines express identically).
    * O(len) per row, map-side, no shuffle — the batching shape a pixel
    * codec plugs into unchanged. */
  object BoxResample {
    val SrcW = 16
    val K = 2
    val OutW: Int = SrcW / K

    def apply(docId: Long, text: String): ResizeAudit = {
      val cps = text.codePoints().toArray
      val h = cps.length / SrcW
      val oh = h / K
      var sum = 0L; var wsum = 0L
      var mn = Long.MaxValue; var mx = -1L; var first = -1L; var last = -1L
      var idx = 0
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < OutW) {
          var s = 0L
          var dy = 0
          while (dy < K) {
            val base = (oy * K + dy) * SrcW + ox * K
            var dx = 0
            while (dx < K) { s += cps(base + dx); dx += 1 }
            dy += 1
          }
          val pv = s / (K * K)
          if (idx == 0) first = pv
          last = pv
          sum += pv
          wsum += pv * (idx + 1).toLong
          if (pv < mn) mn = pv
          if (pv > mx) mx = pv
          idx += 1
          ox += 1
        }
        oy += 1
      }
      ResizeAudit(docId, cps.length.toLong, OutW.toLong, oh.toLong,
        idx.toLong, sum, wsum, if (idx == 0) -1L else mn, mx, first, last)
    }
  }

  val resize = OracleQuery(
    "multimodal_resize",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => BoxResample(id, t) })
        .toDF()
        .orderBy(col("doc_id"))
    },
    // the oracle rebuilds the SAME pixels from scratch: explode to
    // per-character code points, box-group, floor-mean — a hash match
    // proves the kernel's block assignment and integer means, not that
    // two copies of one formula agree
    Some("""WITH g AS (
      |  SELECT doc_id,
      |         CAST(length(text) AS BIGINT) AS len,
      |         (length(text) // 16) // 2 AS oh
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id,
      |         (t.i - 1) // 16 AS y, (t.i - 1) % 16 AS x,
      |         ascii(substring(d.text, t.i, 1)) AS v
      |  FROM documents d JOIN g USING (doc_id),
      |       unnest(generate_series(1, g.oh * 32)) AS t(i)),
      |blk AS (
      |  SELECT doc_id, (y // 2) * 8 + (x // 2) AS idx,
      |         CAST(SUM(v) // 4 AS BIGINT) AS pv
      |  FROM px GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id,
      |         CAST(count(*) AS BIGINT) AS px_n,
      |         CAST(SUM(pv) AS BIGINT) AS px_sum,
      |         CAST(SUM(pv * (idx + 1)) AS BIGINT) AS px_wsum,
      |         CAST(MIN(pv) AS BIGINT) AS px_min,
      |         CAST(MAX(pv) AS BIGINT) AS px_max
      |  FROM blk GROUP BY doc_id)
      |SELECT g.doc_id,
      |       g.len AS orig_chars,
      |       CAST(8 AS BIGINT) AS out_w,
      |       CAST(g.oh AS BIGINT) AS out_h,
      |       COALESCE(a.px_n, 0) AS px_n,
      |       COALESCE(a.px_sum, 0) AS px_sum,
      |       COALESCE(a.px_wsum, 0) AS px_wsum,
      |       COALESCE(a.px_min, -1) AS px_min,
      |       COALESCE(a.px_max, -1) AS px_max,
      |       CAST(COALESCE(f.pv, -1) AS BIGINT) AS px_first,
      |       CAST(COALESCE(l.pv, -1) AS BIGINT) AS px_last
      |FROM g
      |LEFT JOIN agg a USING (doc_id)
      |LEFT JOIN blk f ON f.doc_id = g.doc_id AND f.idx = 0
      |LEFT JOIN blk l ON l.doc_id = g.doc_id AND l.idx = a.px_n - 1
      |ORDER BY doc_id""".stripMargin))

  final case class AudioRecord(doc_id: Long, content: Array[Byte])
  final case class AudioMeta(
      doc_id: Long, media_type: String, byte_len: Long,
      channels: Int, sample_rate_hz: Int, bits: Int, duration_ms: Long)

  /** Partition-local audio-metadata extraction over the real
    * [[MediaHeaders.wavMeta]] RIFF walker — same batching shape as the
    * image path; parse failure surfaces as -1 sentinels. */
  def extractAudioMeta(media: Dataset[AudioRecord]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      MediaHeaders.wavMeta(r.content) match {
        case Some((ch, rate, bits, durMs)) =>
          AudioMeta(r.doc_id, "audio/wav", r.content.length.toLong, ch, rate, bits, durMs)
        case None =>
          AudioMeta(r.doc_id, "audio/wav", r.content.length.toLong, -1, -1, -1, -1L)
      }
    })
  }

  /** 56-byte WAV header: RIFF + a LIST/INFO chunk the walker must SKIP
    * (the RIFF analog of JPEG's APP0) + "fmt " (PCM, 16-bit) + the
    * "data" chunk header carrying the declared payload size — no sample
    * bytes, as a header decoder never reads them. */
  private def wavHexFor(ch: Column, rate: Column, n: Column): Column = {
    val ba = ch * 2 // block align: 16-bit PCM
    val byteRate = rate * ba
    val dataLen = n * ba
    concat(
      lit("52494646"), le32Hex(dataLen + 48), lit("57415645"), // RIFF size WAVE
      lit("4C495354"), le32Hex(lit(4)), lit("494E464F"), // LIST(4) INFO
      lit("666D7420"), le32Hex(lit(16)), // "fmt " len 16
      le16Hex(lit(1)), le16Hex(ch), le32Hex(rate), le32Hex(byteRate),
      le16Hex(ba), le16Hex(lit(16)),
      lit("64617461"), le32Hex(dataLen)) // data header only
  }

  /** Audio-metadata decode — the audio leg of the multimodal family:
    * in-flight WAV/RIFF containers (channels/rate/length derived from
    * doc_id) parsed back by the real chunk walker, with every 7th doc
    * TRUNCATED so the corrupt-header contract stays oracle-visible.
    * The oracle recomputes channels/rate/bits/duration by independent
    * integer arithmetic on doc_id — duration_ms = dataLen·1000/byteRate
    * must cancel to (n·1000) div rate exactly, so a hash match proves
    * the walker inverts the container layout (including skipping the
    * LIST chunk), not that two formula copies agree. Map-side only. */
  val audio = OracleQuery(
    "multimodal_audio",
    (s, d) => {
      import s.implicits._
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val rate = when(col("doc_id") % 3 === 0, 8000)
        .when(col("doc_id") % 3 === 1, 16000).otherwise(44100)
      val n = (col("doc_id") % 1000 + 1).cast("int")
      val full = wavHexFor(ch, rate, n)
      val media = Tables.documents(s, d).select(col("doc_id"),
        unhex(when(col("doc_id") % 7 === 3, substring(full, 1, 12))
          .otherwise(full)).as("content")).as[AudioRecord]
      extractAudioMeta(media)
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("channels"), col("sample_rate_hz"), col("bits"), col("duration_ms"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 'audio/wav' AS media_type,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 6 ELSE 56 END AS BIGINT) AS byte_len,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE doc_id % 2 + 1 END AS INT) AS channels,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
      |            WHEN doc_id % 3 = 0 THEN 8000
      |            WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate_hz,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE 16 END AS INT) AS bits,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
      |            ELSE ((doc_id % 1000 + 1) * 1000) //
      |                 (CASE WHEN doc_id % 3 = 0 THEN 8000
      |                       WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END)
      |       END AS BIGINT) AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin))

  final case class VideoMeta(
      doc_id: Long, media_type: String, byte_len: Long,
      timescale: Int, duration_units: Long, duration_ms: Long)

  /** Partition-local video-metadata extraction over the real
    * [[MediaHeaders.mp4Meta]] box walker; parse failure (or a
    * non-positive timescale) surfaces as -1 sentinels. */
  def extractVideoMeta(media: Dataset[AudioRecord]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      MediaHeaders.mp4Meta(r.content) match {
        case Some((ts, dur)) if ts > 0 =>
          VideoMeta(r.doc_id, "video/mp4", r.content.length.toLong, ts, dur,
            dur * 1000L / ts)
        case _ =>
          VideoMeta(r.doc_id, "video/mp4", r.content.length.toLong, -1, -1L, -1L)
      }
    })
  }

  private def be32Hex(v: Column): Column = lpad(hex(v), 8, "0")
  private def be64Hex(v: Column): Column = lpad(hex(v), 16, "0")

  /** 68-byte MP4 skeleton: `ftyp` + a `free` box the top-level walk must
    * skip + `moov` containing a `udta` child the NESTED walk must skip
    * before `mvhd` (version 0; v1 payloads swap in the 64-bit layout,
    * 80 bytes total). Header boxes only — `mdat` never materializes,
    * exactly as a metadata pass never reads samples. */
  private def mp4HexFor(ts: Column, dur: Column, v1: Column): Column = {
    val mvhd0 = concat(lit("0000001C" + "6D766864" + "00000000" +
      "00000000" + "00000000"), be32Hex(ts), be32Hex(dur))
    val mvhd1 = concat(lit("00000028" + "6D766864" + "01000000" +
      "0000000000000000" + "0000000000000000"), be32Hex(ts), be64Hex(dur))
    val moov = when(v1,
      concat(lit("00000038" + "6D6F6F76" + "00000008" + "75647461"), mvhd1))
      .otherwise(
        concat(lit("0000002C" + "6D6F6F76" + "00000008" + "75647461"), mvhd0))
    concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200"), // ftyp isom
      lit("00000008" + "66726565"), // free
      moov)
  }

  /** Video-metadata decode — the container leg of the multimodal family
    * beside the image and WAV parsers: in-flight MP4/ISO-BMFF skeletons
    * (timescale/duration derived from doc_id, every 11th doc in the
    * 64-bit mvhd VERSION-1 layout) parsed back by the real nested box
    * walker, with every 7th doc TRUNCATED mid-ftyp so the corrupt
    * contract stays oracle-visible. The oracle recomputes timescale,
    * duration units, and duration_ms = units·1000 div timescale by
    * independent doc_id arithmetic, so a hash match proves the walker
    * inverts the container — top-level skip of `free`, nested skip of
    * `udta`, and BOTH mvhd version layouts — rather than two formula
    * copies agreeing. Map-side only. */
  val video = OracleQuery(
    "multimodal_video",
    (s, d) => {
      import s.implicits._
      val ts = when(col("doc_id") % 3 === 0, 600)
        .when(col("doc_id") % 3 === 1, 1000).otherwise(90000)
      val n = (col("doc_id") % 5000 + 1).cast("long")
      val full = mp4HexFor(ts, n, col("doc_id") % 11 === 5)
      val media = Tables.documents(s, d).select(col("doc_id"),
        unhex(when(col("doc_id") % 7 === 3, substring(full, 1, 20))
          .otherwise(full)).as("content")).as[AudioRecord]
      extractVideoMeta(media)
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("timescale"), col("duration_units"), col("duration_ms"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 'video/mp4' AS media_type,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 10
      |            WHEN doc_id % 11 = 5 THEN 80 ELSE 68 END AS BIGINT) AS byte_len,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
      |            WHEN doc_id % 3 = 0 THEN 600
      |            WHEN doc_id % 3 = 1 THEN 1000 ELSE 90000 END AS INT) AS timescale,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
      |            ELSE doc_id % 5000 + 1 END AS BIGINT) AS duration_units,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
      |            ELSE ((doc_id % 5000 + 1) * 1000) //
      |                 (CASE WHEN doc_id % 3 = 0 THEN 600
      |                       WHEN doc_id % 3 = 1 THEN 1000 ELSE 90000 END)
      |       END AS BIGINT) AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin))

  final case class TiffMeta(
      doc_id: Long, media_type: String, byte_len: Long,
      width: Int, height: Int, orientation: Int)

  /** Partition-local TIFF/EXIF-metadata extraction over the real
    * [[MediaHeaders.tiffMeta]] IFD walker; parse failure surfaces as -1
    * sentinels. */
  def extractTiffMeta(media: Dataset[AudioRecord]): Dataset[TiffMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      MediaHeaders.tiffMeta(r.content) match {
        case Some((w, h, o)) =>
          TiffMeta(r.doc_id, "image/tiff", r.content.length.toLong, w, h, o)
        case None =>
          TiffMeta(r.doc_id, "image/tiff", r.content.length.toLong, -1, -1, -1)
      }
    })
  }

  private def be16Hex(v: Column): Column = lpad(hex(v), 4, "0")

  /** 62-byte TIFF/EXIF skeleton in EITHER byte order: the II/LE or
    * MM/BE header, IFD0 at offset 8 with FOUR entries in tag order —
    * ImageWidth (SHORT, or LONG for the type-4 branch), ImageLength
    * (SHORT), an ASCII `Make` entry whose value field is an OFFSET
    * past the skeleton (the walker must SKIP it, never follow it),
    * Orientation (SHORT) — then a zero next-IFD pointer. Header bytes
    * only, like every builder in this family. */
  private def tiffHexFor(w: Column, h: Column, o: Column,
      wLong: Column, le: Boolean): Column = {
    def u16(v: Column) = if (le) le16Hex(v) else be16Hex(v)
    def u32(v: Column) = if (le) le32Hex(v) else be32Hex(v)
    def entry(tag: Int, typ: Int, cnt: Int, valHex: Column) =
      concat(u16(lit(tag)), u16(lit(typ)), u32(lit(cnt)), valHex)
    val widthEntry = when(wLong, entry(0x100, 4, 1, u32(w)))
      .otherwise(entry(0x100, 3, 1, concat(u16(w), lit("0000"))))
    concat(
      lit(if (le) "49492A00" else "4D4D002A"), // II+42LE / MM+42BE
      u32(lit(8)), // IFD0 offset
      u16(lit(4)), // entry count
      widthEntry,
      entry(0x101, 3, 1, concat(u16(h), lit("0000"))),
      entry(0x10F, 2, 6, u32(lit(62))), // Make: ASCII, value is an offset
      entry(0x112, 3, 1, concat(u16(o), lit("0000"))),
      u32(lit(0))) // next IFD: none
  }

  /** EXIF/TIFF-metadata decode — the byte-order-generic leg of the
    * multimodal family: in-flight TIFF skeletons (width/height/
    * orientation derived from doc_id; EVEN docs little-endian "II",
    * ODD docs big-endian "MM", every 5th width entry in the LONG
    * type-4 layout) parsed back by the real IFD walker, with every 7th
    * doc TRUNCATED mid-header so the corrupt contract (-1 sentinels)
    * stays oracle-visible. The oracle recomputes width, height and
    * orientation by independent doc_id arithmetic, so a hash match
    * proves the walker inverts the container — BOTH byte orders, both
    * value types, and the skip of the offset-valued ASCII entry —
    * rather than two formula copies agreeing. Map-side only. */
  val exif = OracleQuery(
    "multimodal_exif",
    (s, d) => {
      import s.implicits._
      val w = (col("doc_id") % 4000 + 16).cast("int")
      val h = (col("doc_id") % 3000 + 16).cast("int")
      val o = (col("doc_id") % 8 + 1).cast("int")
      val wLong = col("doc_id") % 5 === 2
      val full = when(col("doc_id") % 2 === 0, tiffHexFor(w, h, o, wLong, le = true))
        .otherwise(tiffHexFor(w, h, o, wLong, le = false))
      val media = Tables.documents(s, d).select(col("doc_id"),
        unhex(when(col("doc_id") % 7 === 3, substring(full, 1, 12))
          .otherwise(full)).as("content")).as[AudioRecord]
      extractTiffMeta(media)
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"), col("orientation"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 'image/tiff' AS media_type,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 6 ELSE 62 END AS BIGINT) AS byte_len,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE doc_id % 4000 + 16 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE doc_id % 3000 + 16 END AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE doc_id % 8 + 1 END AS INT) AS orientation
      |FROM documents ORDER BY doc_id""".stripMargin))

  final case class PhashRow(doc_id: Long, phash: String)

  /** 8×8 AVERAGE-HASH kernel over the leading 64 grid pixels: mean of
    * the code points, one bit per pixel (above-mean = '1'), emitted as
    * a 64-char bit string — the engine-portable form (packing into a
    * BIGINT would put bit 63 into the sign and make the DuckDB replay
    * shift-overflow-dependent). Shorter payloads hash their available
    * prefix; empty → "" sentinel. */
  object AHash64 {
    val Pixels = 64

    def apply(docId: Long, text: String): PhashRow = {
      val cps = text.codePoints().toArray
      val n = math.min(cps.length, Pixels)
      if (n == 0) return PhashRow(docId, "")
      var sum = 0L
      var i = 0
      while (i < n) { sum += cps(i); i += 1 }
      val mean = sum / n
      val sb = new java.lang.StringBuilder(n)
      i = 0
      while (i < n) { sb.append(if (cps(i) > mean) '1' else '0'); i += 1 }
      PhashRow(docId, sb.toString)
    }
  }

  /** PERCEPTUAL-HASH DEDUP over the media payload grid — the classic
    * aHash pipeline (downscale → mean → threshold bits) every image
    * dedup stack runs before byte-exact hashing, applied to the same
    * 16-wide code-point grid the rest of the multimodal family decodes:
    * two images whose leading 8×8 block has the same above-mean SHAPE
    * collide even when absolute pixel values differ (brightness shift =
    * same bits), which is exactly what byte-md5 dedup cannot see.
    * Families group by the 64-bit hash; the report carries each doc's
    * hash, its family size, and the min-doc_id survivor flag (the
    * [[graft.operators.Dedup]] exact-dedup survivor rule).
    *
    * Scale shape: the hash is a map-side `mapPartitions` kernel (same
    * batching as the byte decoders — per-row loops over ≤64 code
    * points); the only shuffle is the hash-keyed family groupBy +
    * join, AQE-splittable if one viral image skews the key. The oracle
    * REBUILDS the bits from scratch (explode → mean → ordered
    * string_agg), so a hash match proves the thresholding rule, not
    * two copies of one formula. */
  val phashDedup = OracleQuery(
    "multimodal_phash",
    (s, d) => {
      import s.implicits._
      val hashes = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => AHash64(id, t) })
        .toDF()
      val fams = hashes.groupBy(col("phash"))
        .agg(count(lit(1)).as("fam_size"), min(col("doc_id")).as("keeper"))
      hashes.join(fams, "phash")
        .select(col("doc_id"), col("phash"), col("fam_size"),
          (col("doc_id") === col("keeper")).cast("int").as("survivor"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH px AS (
      |  SELECT d.doc_id, t.i AS i, ascii(substring(d.text, t.i, 1)) AS v
      |  FROM documents d,
      |       unnest(generate_series(1, least(length(d.text), 64))) AS t(i)
      |), m AS (
      |  SELECT doc_id, SUM(v) // count(*) AS mean FROM px GROUP BY 1
      |), bits AS (
      |  SELECT p.doc_id,
      |         string_agg(CASE WHEN p.v > m.mean THEN '1' ELSE '0' END,
      |                    '' ORDER BY p.i) AS phash
      |  FROM px p JOIN m USING (doc_id) GROUP BY p.doc_id
      |), hb AS (
      |  SELECT d.doc_id, COALESCE(b.phash, '') AS phash
      |  FROM documents d LEFT JOIN bits b USING (doc_id)
      |), fam AS (
      |  SELECT phash, CAST(count(*) AS BIGINT) AS fam_size,
      |         min(doc_id) AS keeper
      |  FROM hb GROUP BY 1
      |)
      |SELECT h.doc_id, h.phash, f.fam_size,
      |       CAST(h.doc_id = f.keeper AS INT) AS survivor
      |FROM hb h JOIN fam f USING (phash)
      |ORDER BY h.doc_id""".stripMargin))

  val all: Seq[OracleQuery] =
    Seq(features, decode, frameSample, resize, audio, video, exif, phashDedup)
}
