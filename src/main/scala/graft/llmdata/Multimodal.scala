package graft.llmdata

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata alongside (builder
  * brief). The Spark-side plumbing — schema contract, partition-local
  * batched processing, deterministic output shape — is real and
  * tested. Dimension decode is a real pure-JVM header parse for
  * PNG/GIF/WAV/JPEG ([[decodeHeader]]: magic bytes + dimension fields,
  * no codec needed); unrecognized formats fall back to a clearly-marked
  * deterministic STUB (the container has no full image/audio codecs),
  * swappable for a JNI/library call without touching the plan.
  *
  * 100 TB design: payloads never reach the driver; decode/feature
  * extraction runs as `mapPartitions` over the binary column so each
  * task processes its partition's payloads in one batch-shaped pass
  * (the Scala analogue of `mapInPandas` — same per-partition batch
  * contract, no per-row UDF dispatch). Metadata-only pipelines prune
  * the binary column at the parquet scan, so a stats query never even
  * reads the payload bytes.
  */
object Multimodal {

  /** Typed metadata contract for a decoded media payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** ==== STUB ==== Deterministic fake decode: derives plausible
    * dimensions from the payload bytes alone. The fallback for
    * payloads [[decodeHeader]] does not recognize (full MP4/WebP/...
    * codecs aren't in the container); the signature and determinism
    * contract are what the pipeline relies on.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int, String) = {
    val n = payload.length
    (64 + n % 512, 64 + (n / 7) % 512, 3, "fake/rgb8")
  }

  /** Real pure-JVM container-header decode — magic bytes + dimension
    * fields only, no codec required:
    *
    *  - PNG: 8-byte signature, then the mandatory first IHDR chunk
    *    (width/height big-endian at 16/20, channels from the color
    *    type at 25);
    *  - GIF87a/89a: logical-screen width/height little-endian at 6/8;
    *  - WAV (RIFF....WAVE + leading `fmt ` chunk): audio has no pixel
    *    dimensions, so width carries the sample rate and height the
    *    bits per sample; channels is the real channel count.
    *  - FLAC (fLaC + mandatory first STREAMINFO block): same audio
    *    carry convention as WAV — width = 20-bit sample rate,
    *    height = bits per sample, channels real.
    *  - MP4/ISO-BMFF (ftyp): box walk to `moov` — video gets the
    *    visual track's tkhd pixel dims; audio-only files carry the
    *    mvhd duration-ms in width and the timescale in height (see
    *    [[mp4Walk]] / [[mp4DurationMs]]).
    *  - MP3/MPEG audio (ID3v2 tag or bare frame sync): skip the
    *    syncsafe-sized ID3v2 tag if present, bounded-scan to the
    *    first valid frame sync, then version/layer-correct sample
    *    rate and bitrate tables from the 4-byte frame header — width
    *    = sample rate, height = bitrate kbps (0 = free format),
    *    channels from the mode field; reserved version/layer/index
    *    values degrade to None.
    *  - OGG (OggS first page): Vorbis identification packet (width =
    *    sample rate, height = nominal bitrate kbps, real channels) or
    *    OpusHead (width = input sample rate, height 0 — Opus headers
    *    carry no bitrate).
    *  - WebP (RIFF....WEBP): lossy VP8 sync-coded 14-bit dims,
    *    lossless VP8L packed dims + alpha bit, extended VP8X 24-bit
    *    dims + alpha flag;
    *  - BMP ('BM' + BITMAPINFOHEADER): little-endian width/height
    *    (negative height = top-down), channels from bits-per-pixel;
    *  - JPEG (FFD8 SOI): walk the marker segments (each FF-marker +
    *    big-endian length; standalone RSTn/TEM markers have none) to
    *    the first SOF0 (baseline) or SOF2 (progressive) frame header,
    *    whose payload is precision(1) height(2) width(2) components(1).
    *    Scan data (SOS) or EOI before any SOF ends the walk — a
    *    desynced or truncated stream degrades to None, never a
    *    mis-parse.
    *
    * Returns None for anything else (caller falls back to the labeled
    * stub), so unknown formats degrade instead of mis-parsing.
    */
  def decodeHeader(p: Array[Byte]): Option[(Int, Int, Int, String)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, s: String): Boolean =
      s.indices.forall(k => u8(i + k) == s.charAt(k).toInt)
    if (p.length >= 26 && u8(0) == 0x89 && ascii(1, "PNG") &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
        ascii(12, "IHDR")) {
      val channels = u8(25) match {
        case 0 => 1 // grayscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette
        case 4 => 2 // gray + alpha
        case 6 => 4 // rgba
        case _ => 3
      }
      Some((be32(16), be32(20), channels, "image/png"))
    } else if (p.length >= 10 && (ascii(0, "GIF87a") || ascii(0, "GIF89a"))) {
      Some((le16(6), le16(8), 3, "image/gif"))
    } else if (p.length >= 36 && ascii(0, "RIFF") && ascii(8, "WAVE") &&
               ascii(12, "fmt ")) {
      Some((le32(24), le16(34), le16(22), "audio/wav"))
    } else if (p.length >= 30 && ascii(0, "RIFF") && ascii(8, "WEBP")) {
      // WebP: dims live in the first chunk's bitstream header —
      // lossy VP8 (sync code 9D 01 2A then 14-bit w/h), lossless VP8L
      // (0x2F then packed 14-bit w-1/h-1 + alpha bit), extended VP8X
      // (flag byte + 24-bit w-1/h-1).
      def le24(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
      if (ascii(12, "VP8 ") && u8(23) == 0x9d && u8(24) == 0x01 && u8(25) == 0x2a)
        Some((le16(26) & 0x3fff, le16(28) & 0x3fff, 3, "image/webp"))
      else if (ascii(12, "VP8L") && u8(20) == 0x2f) {
        val b = le32(21)
        val alpha = ((b >>> 28) & 1) == 1
        Some(((b & 0x3fff) + 1, ((b >>> 14) & 0x3fff) + 1,
          if (alpha) 4 else 3, "image/webp"))
      } else if (ascii(12, "VP8X"))
        Some((le24(24) + 1, le24(27) + 1,
          if ((u8(20) & 0x10) != 0) 4 else 3, "image/webp"))
      else None
    } else if (p.length >= 30 && u8(0) == 'B'.toInt && u8(1) == 'M'.toInt &&
               le32(14) >= 40) {
      // BMP: BITMAPINFOHEADER (or the V4/V5 supersets, DIB size >= 40)
      // width/height (height may be negative = top-down),
      // bits-per-pixel -> channels. The 12-byte BITMAPCOREHEADER packs
      // 16-bit dims at different offsets — gated out above so it
      // degrades to None instead of mis-parsing.
      val h = le32(22)
      Some((le32(18), math.abs(h), math.max(1, le16(28) / 8), "image/bmp"))
    } else if (p.length >= 26 && ascii(0, "fLaC") && (u8(4) & 0x7f) == 0) {
      // FLAC: the mandatory first STREAMINFO block (type 0) — sample
      // rate is 20 bits at byte 18, then 3 bits channels-1 and 5 bits
      // bits-per-sample-1 straddling bytes 20/21. Same carry
      // convention as WAV: width = sample rate, height = bit depth.
      val sr = (u8(18) << 12) | (u8(19) << 4) | (u8(20) >> 4)
      val channels = ((u8(20) >> 1) & 0x7) + 1
      val bps = (((u8(20) & 0x1) << 4) | (u8(21) >> 4)) + 1
      Some((sr, bps, channels, "audio/flac"))
    } else if (p.length >= 12 && ascii(4, "ftyp")) {
      // ISO-BMFF (MP4/M4A): box walk to moov, then mvhd (timescale +
      // duration) and the first visual trak's tkhd (16.16 fixed-point
      // pixel dims). Video: real dims. No visual track (audio-only
      // M4A): width carries the duration in ms and height the mvhd
      // timescale — the same carry-what-you-have convention as WAV.
      mp4Walk(p) match {
        case Some(Mp4Meta(_, _, Some((w, h)))) =>
          Some((w, h, 3, "video/mp4"))
        case Some(Mp4Meta(timescale, duration, None)) if timescale > 0 =>
          val ms = duration * 1000L / timescale
          Some((math.min(ms, Int.MaxValue.toLong).toInt, timescale, 1, "audio/mp4"))
        case _ => None
      }
    } else if (p.length >= 28 && ascii(0, "OggS") && u8(4) == 0) {
      // OGG container, first (BOS) page: the identification packet
      // starts right after the 27-byte page header + segment table.
      // Vorbis: 0x01 'vorbis' then channels u8, rate le32;
      // Opus: 'OpusHead' then version, channels u8, pre-skip le16,
      // input rate le32. Carry convention as WAV/FLAC: width = sample
      // rate; height = Vorbis nominal bitrate kbps (0 when absent /
      // Opus, whose header carries none).
      val segs = u8(26)
      val off = 27 + segs
      if (p.length >= off + 30 && u8(off) == 0x01 && ascii(off + 1, "vorbis")) {
        val rateI = off + 12
        val rate = le32(rateI)
        val brNominal = le32(off + 20)
        Some((rate, math.max(brNominal / 1000, 0), u8(off + 11), "audio/ogg"))
      } else if (p.length >= off + 19 && ascii(off, "OpusHead")) {
        Some((le32(off + 12), 0, u8(off + 9), "audio/opus"))
      } else None
    } else if (p.length >= 10 &&
               (ascii(0, "ID3") ||
                 (u8(0) == 0xff && (u8(1) & 0xe0) == 0xe0 &&
                   ((u8(1) >> 1) & 0x3) != 0 && ((u8(1) >> 3) & 0x3) != 1))) {
      // MP3 / MPEG audio: optionally skip an ID3v2 tag (syncsafe
      // 28-bit size), scan to the first frame sync, then read
      // version/layer/bitrate/sample-rate/mode from the 4-byte frame
      // header. Carry convention: width = sample rate, height =
      // bitrate kbps (0 = free-format), channels from the mode field.
      val start =
        if (ascii(0, "ID3"))
          10 + ((u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9))
        else 0
      // bounded forward scan: tags are often zero-padded before the
      // first frame; a desynced stream degrades to None
      var i = start
      var found = -1
      while (found < 0 && i + 3 < p.length && i < start + 4096) {
        if (u8(i) == 0xff && (u8(i + 1) & 0xe0) == 0xe0 &&
            ((u8(i + 1) >> 1) & 0x3) != 0 &&     // layer not reserved
            ((u8(i + 1) >> 3) & 0x3) != 1) found = i // version not reserved
        else i += 1
      }
      if (found < 0) None
      else {
        val h1 = u8(found + 1); val h2 = u8(found + 2); val h3 = u8(found + 3)
        val version = (h1 >> 3) & 0x3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1
        val layer = (h1 >> 1) & 0x3   // 1=III, 2=II, 3=I
        val srIdx = (h2 >> 2) & 0x3
        val brIdx = (h2 >> 4) & 0xf
        val srTab = version match {
          case 3 => Seq(44100, 48000, 32000)
          case 2 => Seq(22050, 24000, 16000)
          case _ => Seq(11025, 12000, 8000)
        }
        val brTab = (version, layer) match { // kbps, index 0 = free
          case (3, 3) => Seq(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
          case (3, 2) => Seq(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
          case (3, _) => Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
          case (_, 3) => Seq(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
          case _ => Seq(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
        }
        if (srIdx == 3 || brIdx == 15) None // reserved values: malformed
        else {
          val channels = if (((h3 >> 6) & 0x3) == 3) 1 else 2
          Some((srTab(srIdx), brTab(brIdx), channels, "audio/mpeg"))
        }
      }
    } else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG marker walk to the first SOF0/SOF2 (see scaladoc)
      var i = 2
      var res: Option[(Int, Int, Int, String)] = None
      var done = false
      while (!done && i + 1 < p.length) {
        if (u8(i) != 0xff) done = true // desynced: not at a marker
        else {
          var j = i + 1
          while (j < p.length && u8(j) == 0xff) j += 1 // fill bytes
          if (j >= p.length) done = true
          else u8(j) match {
            case m if m == 0x01 || (m >= 0xd0 && m <= 0xd8) =>
              i = j + 1 // standalone marker: no length field
            case 0xd9 | 0xda => done = true // EOI / scan data before SOF
            case _ if j + 2 >= p.length => done = true
            case m =>
              val len = (u8(j + 1) << 8) | u8(j + 2)
              if ((m == 0xc0 || m == 0xc2) && len >= 8 && j + 8 < p.length) {
                val h = (u8(j + 4) << 8) | u8(j + 5)
                val w = (u8(j + 6) << 8) | u8(j + 7)
                res = Some((w, h, u8(j + 8), "image/jpeg"))
                done = true
              } else if (len < 2) done = true // malformed length
              else i = j + 1 + len
          }
        }
      }
      res
    } else None
  }

  /** The decode the pipeline runs: real header parse where the format
    * is recognized, deterministic stub otherwise.
    */
  def decode(payload: Array[Byte]): (Int, Int, Int, String) =
    decodeHeader(payload).getOrElse(decodeStub(payload))

  private[llmdata] final case class Mp4Meta(timescale: Int, duration: Long,
                                            dims: Option[(Int, Int)])

  /** ISO-BMFF box walk (VERDICT r11 §next-8): header fields only, no
    * codec — the same class of parse as the JPEG marker walk. Finds
    * the top-level `moov`, reads `mvhd` (movie timescale + duration;
    * v0 32-bit and v1 64-bit layouts) and the first `trak`/`tkhd`
    * with nonzero 16.16 fixed-point width/height (the visual track).
    * Any malformed size/bound degrades to None — never a mis-parse.
    */
  private[llmdata] def mp4Walk(p: Array[Byte]): Option[Mp4Meta] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Long = ((u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)) & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def typ(i: Int): String = new String(p.slice(i, i + 4), "ISO-8859-1")
    // Walk the boxes in [from, until); invoke f(type, payloadStart,
    // payloadEnd) per box; bail on any malformed size.
    def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var i = from
      while (i + 8 <= until) {
        val size32 = be32(i)
        val t = typ(i + 4)
        val (hdr, size) =
          if (size32 == 1L) {
            if (i + 16 > until) return false
            (16, be64(i + 8))
          } else if (size32 == 0L) (8, (until - i).toLong) // to end of scope
          else (8, size32)
        if (size < hdr || i + size > until) return false
        f(t, i + hdr, i + size.toInt)
        i += size.toInt
      }
      true
    }
    var meta: Option[Mp4Meta] = None
    var timescale = 0
    var duration = 0L
    var dims: Option[(Int, Int)] = None
    var sawMvhd = false
    val ok = walk(0, p.length) { (t, s, e) =>
      if (t == "moov") {
        walk(s, e) { (ct, cs, ce) =>
          if (ct == "mvhd" && ce - cs >= 24) {
            val v = u8(cs)
            if (v == 0 && ce - cs >= 20) {
              timescale = be32(cs + 12).toInt; duration = be32(cs + 16)
              sawMvhd = true
            } else if (v == 1 && ce - cs >= 32) {
              timescale = be32(cs + 20).toInt; duration = be64(cs + 24)
              sawMvhd = true
            }
          } else if (ct == "trak" && dims.isEmpty) {
            walk(cs, ce) { (gt, gs, ge) =>
              if (gt == "tkhd" && dims.isEmpty) {
                val v = u8(gs)
                val off = if (v == 1) 88 else 76 // 16.16 width/height
                if (ge - gs >= off + 8) {
                  val w = (be32(gs + off) >>> 16).toInt
                  val h = (be32(gs + off + 4) >>> 16).toInt
                  if (w > 0 && h > 0) dims = Some((w, h))
                }
              }
            }
          }
        }
      }
    }
    if (ok && sawMvhd) meta = Some(Mp4Meta(timescale, duration, dims))
    meta
  }

  /** Movie duration in milliseconds from the `mvhd` header, None for
    * anything that isn't a well-formed ISO-BMFF payload.
    */
  def mp4DurationMs(payload: Array[Byte]): Option[Long] =
    if (payload.length >= 12 &&
        new String(payload.slice(4, 8), "ISO-8859-1") == "ftyp")
      mp4Walk(payload).collect {
        case Mp4Meta(ts, d, _) if ts > 0 => d * 1000L / ts
      }
    else None

  /** ==== STUB ==== Deterministic fake frame sampling: returns the
    * byte offsets a real video decoder would seek to for `k` evenly
    * spaced frames.
    */
  def frameOffsetsStub(payload: Array[Byte], k: Int): Seq[Long] = {
    val n = math.max(payload.length.toLong, 1L)
    (0 until k).map(i => i * n / k)
  }

  /** Wraps a text corpus as a media table (payload = utf-8 bytes) —
    * the demo source for the multimodal plumbing, since the testdata
    * ships no binary table.
    */
  def asMediaTable(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("media_id"),
      col(textCol).cast("binary").as("payload"))

  /** Decode + feature-extract over the binary column, batched per
    * partition (`mapPartitions`): schema in `(media_id, payload)`,
    * schema out `(media_id, byte_len, meta struct)`. The iterator is
    * consumed lazily, so a partition streams through constant memory
    * regardless of payload count.
    */
  def extractMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("byte_len", LongType, nullable = false),
      StructField("meta", mediaMetaType, nullable = false)))
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (w, h, c, fmt) = decode(payload)
          Row(id, payload.length.toLong, Row(w, h, c, fmt))
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Pure-SQL metadata projection over the binary column (digest,
    * length, head bytes, stub-decoded dimensions) — the oracle-checked
    * path: everything here is a codegen'd expression, demonstrating
    * that metadata extraction needs neither the driver nor a UDF.
    */
  def metaProjection(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      length(col("payload")).cast("long").as("byte_len"),
      md5(col("payload")).as("payload_md5"),
      lower(hex(expr("substring(payload, 1, 8)"))).as("head_hex"),
      (lit(64) + length(col("payload")) % 512).cast("long").as("fake_width"),
      (lit(64) + expr("length(payload) div 7") % 512).cast("long").as("fake_height"))

  /** Resolution-tier × aspect-class panel over the decoded
    * dimensions — the ingest-shape report an image-corpus curation
    * stack reads before picking resize targets and batch shapes
    * (tiers bound the resample cost; aspect classes decide pad vs
    * crop). Dimensions come from [[metaProjection]] (HERE the STUB
    * decode's deterministic fakes — a real pipeline swaps the decode
    * without touching this rollup). Class rules are exact integer
    * compares on the ppm aspect (`w·1e6 div h`): portrait below
    * 950000, landscape above 1052631 (19:20 and 20:19), square-ish
    * between; tiers cut at 128² and 384² pixels.
    *
    * 100 TB plan: payloads are PRUNED at the scan (only length is
    * read), one map-side-combined rollup on the ≤ 9-cell panel,
    * broadcast total. Output: (size_tier, aspect_class, n_items,
    * share_ppm, avg_width, avg_height), ordered.
    */
  /** Shared dimension classification over [[metaProjection]]'s (stub)
    * decoded dims: pixel count, size tier, ppm aspect class — the
    * rules [[dimsStats]] documents, factored so the packing path
    * classifies identically.
    */
  private def classifyDims(media: DataFrame): DataFrame =
    metaProjection(media)
      .withColumn("__px", col("fake_width") * col("fake_height"))
      .withColumn("size_tier", when(col("__px") < 16384L, "small")
        .when(col("__px") < 147456L, "medium").otherwise("large"))
      .withColumn("__aspect_ppm",
        expr("fake_width * 1000000 div fake_height"))
      .withColumn("aspect_class",
        when(col("__aspect_ppm") < 950000L, "portrait")
          .when(col("__aspect_ppm") > 1052631L, "landscape")
          .otherwise("square"))

  def dimsStats(media: DataFrame): DataFrame = {
    val m = classifyDims(media)
    val cells = m.groupBy("size_tier", "aspect_class")
      .agg(count(lit(1)).as("n_items"),
        sum("fake_width").as("__sw"), sum("fake_height").as("__sh"))
    val tot = cells.agg(sum("n_items").as("__t"))
    cells.crossJoin(broadcast(tot))
      .select(col("size_tier"), col("aspect_class"), col("n_items"),
        expr("n_items * 1000000 div __t").as("share_ppm"),
        expr("__sw div n_items").as("avg_width"),
        expr("__sh div n_items").as("avg_height"))
      .orderBy("size_tier", "aspect_class")
  }

  import graft.llmdata.LlmDataParams.{phashBytes, phashBands, phashBandBits,
    phashMaxHamming, lshMaxBucket}

  /** Average-hash bands per payload: the aHash "luminance frame" is
    * the first [[LlmDataParams.phashBytes]] payload bytes (the STUB
    * decode — a real pipeline swaps in the decoded, resampled 8x8
    * grayscale frame without touching anything downstream), each bit
    * set when its byte exceeds the frame's integer mean, packed into
    * [[LlmDataParams.phashBands]] band ints of
    * [[LlmDataParams.phashBandBits]] bits.
    *
    * Bytes are read POSITIONALLY from the hex rendering of the binary
    * (two uppercase hex chars per byte, instr-decoded) — charset-proof
    * on both engines, with short payloads zero-padded by an explicit
    * length guard; everything is one staged codegen projection (no HOF
    * lambda — the interpreted-lambda tax measured in PLANS round-14).
    * Output: (media_id, b0..b{bands-1}).
    */
  private val hexMap = "0123456789ABCDEF"

  /** Positional decode of the first [[LlmDataParams.phashBytes]]
    * payload bytes via the hex rendering (charset-proof on both
    * engines, zero-padded by an explicit length guard) — the
    * "luminance frame" both perceptual hashes read. Output:
    * (media_id, __y1..__y64), one staged codegen projection.
    */
  private def frameBytes(media: DataFrame): DataFrame = {
    def byteExpr(i: Int): String =
      s"""CASE WHEN length(payload) >= $i
         | THEN (instr('$hexMap', substring(__hx, ${2 * i - 1}, 1)) - 1) * 16
         |    + (instr('$hexMap', substring(__hx, ${2 * i}, 1)) - 1)
         | ELSE 0 END""".stripMargin
    // Unconditional spread (minBytes = 0 skips the size gate): unlike
    // the cheap projections the gate was built for, the hash
    // projections reading this frame are the FAMILY'S dominant cost
    // (hex decode + 128 staged 8-term dot products per row for the
    // DCT), so on a sub-split input the exchange always pays — the
    // r20 probe measured the whole multimodal_dct_phash_dedup hash
    // build serialized into ONE task (21 stages, 54 tasks, 5.5 s on
    // 32 idle cores; guide §2.6 idle capacity). At scale the input is
    // many-split and this no-ops exactly like the gated spread.
    Dedup.spread(media, minBytes = 0L)
      .withColumn("__hx", hex(col("payload")))
      .select((col("media_id") +:
        (1 to phashBytes).map(i => expr(byteExpr(i)).as(s"__y$i"))): _*)
  }

  def phashBands64(media: DataFrame): DataFrame = {
    val withBytes = frameBytes(media)
    val meanExpr = (1 to phashBytes).map(i => s"__y$i").mkString("(", " + ", s") div $phashBytes")
    val withMean = withBytes.withColumn("__mean", expr(meanExpr))
    val bandCols = (0 until phashBands).map { j =>
      val terms = (1 to phashBandBits).map { p =>
        val i = j * phashBandBits + p
        s"CASE WHEN __y$i > __mean THEN ${1 << (p - 1)} ELSE 0 END"
      }.mkString(" + ")
      expr(terms).as(s"b$j")
    }
    withMean.select((col("media_id") +: bandCols): _*)
  }

  /** Perceptual near-duplicate pairs: band-keyed hamming LSH over the
    * [[phashBands64]] aHash — the visual-dedup analogue of the text
    * MinHash family ("the same image re-encoded / lightly edited"),
    * where exact payload dedup sees nothing.
    *
    * Guarantee (not probabilistic, unlike MinHash banding): with
    * `maxHamming < bands`, a qualifying pair's differing bits cannot
    * touch every band, so the pair ALWAYS shares at least one exact
    * band key — candidate generation by band equi-join is lossless by
    * pigeonhole, never all-pairs. Hot band buckets (mass-produced
    * near-identical frames) star-expand to their min-id representative
    * above `maxBucket`, the [[Dedup.minhashCandidates]] cap verbatim.
    * Verification is an exact popcount over the band XORs. Output:
    * (media_a, media_b, hamming), media_a < media_b.
    */
  def phashDedup(media: DataFrame,
                 maxHamming: Int = phashMaxHamming,
                 maxBucket: Int = lshMaxBucket): DataFrame =
    bandedHammingPairs(phashBands64(media), maxHamming, maxBucket)

  /** Band-keyed hamming LSH candidate join + exact popcount verify
    * over ANY `(media_id, b0..b{bands-1})` hash frame — shared by the
    * aHash ([[phashBands64]]) and DCT-pHash ([[dctPhashBands]])
    * dedup spellings; the pigeonhole guarantee, hot-bucket star cap,
    * and verify are identical for every 64-bit banded hash.
    */
  private def bandedHammingPairs(hashFrame: DataFrame, maxHamming: Int,
                                 maxBucket: Int): DataFrame = {
    require(maxHamming < phashBands,
      s"pigeonhole guarantee needs maxHamming < $phashBands bands: $maxHamming")
    val hashes = hashFrame.persist() // band explode + verify sides
    val bandStructs = (0 until phashBands)
      .map(j => s"struct($j AS band, b$j AS key)").mkString(", ")
    val k = hashes
      .select(col("media_id"), explode(expr(s"array($bandStructs)")).as("__k"))
      .select(col("media_id"), col("__k.band"), col("__k.key"))
    val stats = k.groupBy("band", "key")
      .agg(count(lit(1)).as("__n"), min(col("media_id")).as("__rep"))
    val kk = k.join(stats, Seq("band", "key"))
    val small = kk.filter(col("__n") <= maxBucket)
    val allPairs = small.select(col("band"), col("key"), col("media_id").as("media_a"))
      .join(small.select(col("band"), col("key"), col("media_id").as("media_b")),
        Seq("band", "key"))
      .filter(col("media_a") < col("media_b"))
      .select("media_a", "media_b")
    val starPairs = kk
      .filter(col("__n") > maxBucket && col("media_id") =!= col("__rep"))
      .select(col("__rep").as("media_a"), col("media_id").as("media_b"))
    val cand = allPairs.union(starPairs).distinct()
    val ham = (0 until phashBands)
      .map(j => s"bit_count(__a$j ^ __b$j)").mkString(" + ")
    cand
      .join(hashes.select((col("media_id").as("media_a") +:
        (0 until phashBands).map(j => col(s"b$j").as(s"__a$j"))): _*), "media_a")
      .join(hashes.select((col("media_id").as("media_b") +:
        (0 until phashBands).map(j => col(s"b$j").as(s"__b$j"))): _*), "media_b")
      .withColumn("hamming", expr(ham).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("media_a", "media_b", "hamming")
  }

  /** Integer 8-point DCT-II basis, micro-quantized ONCE:
    * `Q(u,r) = floor(α(u)·cos(π(2r+1)u/16)·1e6 + 0.5)` with
    * orthonormal `α` — inlined as the SAME literal constants into the
    * Spark expressions and the DuckDB oracle SQL, so every
    * coefficient is an exact int64 sum on both engines.
    */
  private[llmdata] lazy val dctQ: Array[Array[Long]] =
    Array.tabulate(8, 8) { (u, r) =>
      val alpha = if (u == 0) math.sqrt(1.0 / 8.0) else math.sqrt(2.0 / 8.0)
      math.floor(alpha * math.cos(math.Pi * (2 * r + 1) * u / 16.0) * 1e6
        + 0.5).toLong
    }

  /** DCT-based perceptual hash (the classic pHash construction) over
    * the 8×8 luminance frame: 2-D DCT-II of the frame bytes, each AC
    * coefficient thresholded against the exact MEDIAN of the 63 AC
    * coefficients (the DC bit is pinned 0), packed into the same
    * band layout as [[phashBands64]]. Where aHash thresholds every
    * byte against the frame mean — so high-frequency noise flips the
    * bits of any byte sitting near the mean — the DCT hash reads the
    * LOW-FREQUENCY structure: small per-pixel perturbations spread
    * across all 63 coefficients and rarely cross the median, which
    * is what makes pHash the re-encode/noise-robust member of the
    * family (spec-pinned against aHash in `Round19MultimodalSpec`).
    *
    * Exactness: frame bytes are ints, the separable DCT is two
    * staged 8-term integer dot products against [[dctQ]] (max
    * magnitude 255·8·1e6·8·1e6 ≈ 1.6e16 — int64-safe), and the
    * median is order statistic 32 of the 63 exact integers — no
    * doubles anywhere, so the hash replays engine-identically.
    *
    * 100 TB plan: same as [[phashBands64]] — two narrow codegen
    * projections per payload, no shuffle until the band join.
    * Output: (media_id, b0..b{bands-1}).
    */
  def dctPhashBands(media: DataFrame): DataFrame = {
    val fb = frameBytes(media)
    // G stage: g(u, c) = sum_r y(r, c) * Q(u, r)  (column transform)
    val gCols = for (u <- 0 until 8; c <- 0 until 8) yield {
      val terms = (0 until 8)
        .map(r => s"__y${8 * r + c + 1} * ${dctQ(u)(r)}L").mkString(" + ")
      expr(terms).as(s"__g_${u}_$c")
    }
    val g = fb.select((col("media_id") +: gCols): _*)
    // F stage: F(u, v) = sum_c g(u, c) * Q(v, c)  (row transform)
    val fCols = for (u <- 0 until 8; v <- 0 until 8) yield {
      val terms = (0 until 8)
        .map(c => s"__g_${u}_$c * ${dctQ(v)(c)}L").mkString(" + ")
      expr(terms).as(s"__f_${u}_$v")
    }
    val f = g.select((col("media_id") +: fCols): _*)
    val acList = (for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0)
      yield s"__f_${u}_$v").mkString(", ")
    val m = f.withColumn("__med",
      expr(s"element_at(sort_array(array($acList)), 32)"))
    val bandCols = (0 until phashBands).map { j =>
      val terms = (1 to phashBandBits).map { p =>
        val idx = j * phashBandBits + p - 1 // bit index = 8u + v
        val u = idx / 8
        val v = idx % 8
        if (u == 0 && v == 0) "0"
        else s"CASE WHEN __f_${u}_$v > __med THEN ${1 << (p - 1)} ELSE 0 END"
      }.mkString(" + ")
      expr(terms).as(s"b$j")
    }
    m.select((col("media_id") +: bandCols): _*)
  }

  /** Perceptual near-dup pairs over the DCT hash — [[phashDedup]]'s
    * banded join and popcount verify verbatim, reading
    * [[dctPhashBands]]. Output: (media_a, media_b, hamming).
    */
  def dctPhashDedup(media: DataFrame,
                    maxHamming: Int = phashMaxHamming,
                    maxBucket: Int = lshMaxBucket): DataFrame =
    bandedHammingPairs(dctPhashBands(media), maxHamming, maxBucket)

  /** PRODUCTION spelling of perceptual dedup: a per-media KEEP
    * verdict instead of the pair list (the pair frame is the audit
    * artifact; a curation pipeline consumes one boolean per item).
    * Connected components over the [[phashDedup]] pair graph via
    * [[Dedup.componentsOverPairs]] (guarded driver union-find up to
    * `maxEdges`, distributed label propagation above — the text
    * near-dup chassis verbatim), each item labeled with its cluster
    * root; keep = the cluster's minimum id (opaque payloads have no
    * quality rank, so first-seen wins — the exact-dedup convention).
    *
    * 100 TB plan: the pair graph is LSH-sparse (bucket-bounded,
    * never n²), components cost O(edges) driver-side or
    * O(rounds · edges) distributed, and the verdict join is id-keyed
    * — the whole verdict adds one exchange over the pair pipeline.
    * Output: (media_id, root_id, n_members, keep).
    */
  def phashKeep(media: DataFrame,
                maxHamming: Int = phashMaxHamming,
                maxBucket: Int = lshMaxBucket,
                maxEdges: Long = 10_000_000L): DataFrame = {
    val pairs = phashDedup(media, maxHamming, maxBucket)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val comp = Dedup.componentsOverPairs(
      media.select("media_id"), "media_id", pairs, maxEdges)
    val sizes = comp.groupBy("root_id").agg(count(lit(1)).as("n_members"))
    comp.join(sizes, "root_id")
      .select(col("media_id"), col("root_id"), col("n_members"),
        (col("media_id") === col("root_id")).as("keep"))
  }

  /** Corrupt/truncated-payload audit — the ingest-integrity question
    * a 100 TB crawl answers before decoding anything: does the byte
    * stream actually HOLD what its container header promises?
    * Containers that declare a total length are checked exactly
    * (RIFF/WAVE: chunk size at offset 4 + 8; BMP: file size at
    * offset 2 — both little-endian), PNG is checked structurally
    * (the mandatory 12-byte IEND trailer), anything else reports
    * `unknown`. Statuses: `ok` (declared == actual), `truncated`
    * (header promises more bytes than present — a cut-off download),
    * `trailing` (bytes after the declared end — concatenation junk),
    * `unknown`. All parsing is positional hex arithmetic
    * ([[frameBytes]]' charset-proof trick) in one codegen projection.
    *
    * 100 TB plan: header-only reads — one scan, no shuffle, no
    * driver; the audit never touches payload internals beyond the
    * fixed-offset fields and the 12-byte tail compare. Output:
    * (media_id, format, actual_len, declared_len, status,
    * delta_bytes), delta = actual − declared where declared exists.
    */
  def payloadAudit(media: DataFrame): DataFrame = {
    def byteAt(i: Int): String =
      s"((instr('$hexMap', substring(__hx, ${2 * i - 1}, 1)) - 1) * 16" +
        s" + (instr('$hexMap', substring(__hx, ${2 * i}, 1)) - 1))"
    def le32(first: Int): String =
      (0 until 4).map(k => s"${byteAt(first + k)} * ${1L << (8 * k)}L")
        .mkString(" + ")
    val pngTrailer = "0000000049454E44AE426082" // len 0 + IEND + CRC
    media
      .withColumn("__hx", hex(col("payload")))
      .withColumn("actual_len", length(col("payload")).cast("long"))
      .withColumn("format",
        when(expr("substring(__hx, 1, 8)") === "52494646" &&
          expr("substring(__hx, 17, 8)") === "57415645", "riff/wave")
          .when(expr("substring(__hx, 1, 4)") === "424D" &&
            col("actual_len") >= 6L, "bmp")
          .when(expr("substring(__hx, 1, 16)") === "89504E470D0A1A0A", "png")
          .otherwise("unknown"))
      .withColumn("declared_len",
        when(col("format") === "riff/wave", expr(s"8L + ${le32(5)}"))
          .when(col("format") === "bmp", expr(le32(3)))
          .cast("long"))
      .withColumn("status",
        when(col("format") === "unknown", "unknown")
          .when(col("format") === "png",
            when(col("__hx").endsWith(pngTrailer), "ok")
              .otherwise("truncated"))
          .when(col("declared_len") > col("actual_len"), "truncated")
          .when(col("declared_len") < col("actual_len"), "trailing")
          .otherwise("ok"))
      .withColumn("delta_bytes", col("actual_len") - col("declared_len"))
      .select("media_id", "format", "actual_len", "declared_len",
        "status", "delta_bytes")
  }

  /** Format × status integrity panel over [[payloadAudit]] — the
    * corpus-level read-out of the per-item audit: how much of each
    * container format is intact, cut off, or carrying trailing junk,
    * and how many bytes each cell holds (the number that decides
    * whether re-crawling the truncated slice is worth it).
    *
    * 100 TB plan: the audit itself is one header-only scan; this adds
    * one map-side-combined rollup to a ≤ |formats|·|statuses| frame
    * plus a broadcast total — no second scan, no wide shuffle.
    * Output: (format, status, n_items, total_bytes, share_ppm),
    * ordered.
    */
  def formatReport(media: DataFrame): DataFrame = {
    val cells = payloadAudit(media)
      .groupBy("format", "status")
      .agg(count(lit(1)).as("n_items"),
        sum("actual_len").as("total_bytes"))
    val tot = cells.agg(sum("n_items").as("__t"))
    cells.crossJoin(broadcast(tot))
      .select(col("format"), col("status"), col("n_items"),
        col("total_bytes"),
        expr("n_items * 1000000 div __t").as("share_ppm"))
      .orderBy("format", "status")
  }

  /** Aspect-bucketed pixel-budget batch packing — the batch-shape
    * assignment an image-training pipeline runs after [[dimsStats]]
    * picks its bucket ladder: variable-aspect images can't share a
    * tensor, so items are grouped into (size_tier × aspect_class)
    * buckets and packed, in deterministic id order, into batches
    * holding at most `pixelBudget` pixels (a batch may overshoot by
    * less than one item — the `sample_token_budget`/packing offset
    * contract, an item is never split).
    *
    * 100 TB plan: batch assignment within a bucket is a prefix sum,
    * and `Window.partitionBy(bucket)` would funnel each bucket —
    * potentially billions of rows under 9 buckets — through ONE task.
    * Instead this rides [[Sampling.groupedPrefixSums]]: range-sort on
    * (bucket, media_id), per-(partition, bucket) partial sums, driver
    * scan to exclusive offsets (≤ partitions + buckets cells),
    * broadcast stamp — two linear passes, every partition busy.
    * Output: (media_id, size_tier, aspect_class, px, batch_id,
    * batch_offset_px), batch ids 0-based per bucket.
    *
    * Contract for oversized items (ADVICE r18 #2): batch ids are the
    * div arithmetic `(cum − px) div budget`, so they are 0-based and
    * CONTIGUOUS only while every item's px ≤ `pixelBudget` (the
    * bucket-ladder invariant a real pipeline enforces upstream — and
    * what `Round19PackSpec` pins). An item larger than the budget
    * still lands in its own batch, but the ids after it can GAP (and
    * [[packEfficiency]]'s fill_ppm can exceed 1e6) — callers packing
    * un-pre-screened corpora must filter `px > pixelBudget` first.
    */
  /** Packing-efficiency panel over [[aspectBucketPack]] — the audit a
    * training job reads before committing to a bucket ladder: per
    * bucket, how many batches the corpus packs into, how full they
    * run (`fill_ppm` of the pixel budget), and the worst overshoot
    * (`max_batch_px` can exceed the budget by at most one item — the
    * never-split contract, so `max_batch_px - budget` bounds the
    * padding the tensor allocator must absorb). A bucket whose fill
    * sits low wastes accelerator memory on padding; merging it into a
    * neighbor is the fix this panel argues for.
    *
    * 100 TB plan: one (bucket, batch) map-side-combined rollup over
    * the pack stamp, then a ≤ 9-cell bucket rollup — nothing beyond
    * the pack's own two passes touches row grain. Output per bucket:
    * (size_tier, aspect_class, n_items, n_batches, total_px,
    * fill_ppm, max_batch_px), ordered.
    */
  def packEfficiency(media: DataFrame, pixelBudget: Long): DataFrame = {
    val packed = aspectBucketPack(media, pixelBudget)
    val batches = packed
      .groupBy("size_tier", "aspect_class", "batch_id")
      .agg(count(lit(1)).as("__n"), sum("px").as("__bpx"))
    batches
      .groupBy("size_tier", "aspect_class")
      .agg(sum("__n").as("n_items"),
        count(lit(1)).as("n_batches"),
        sum("__bpx").as("total_px"),
        max("__bpx").as("max_batch_px"))
      .withColumn("fill_ppm",
        expr(s"total_px * 1000000 div (n_batches * ${pixelBudget}L)"))
      .select("size_tier", "aspect_class", "n_items", "n_batches",
        "total_px", "fill_ppm", "max_batch_px")
      .orderBy("size_tier", "aspect_class")
  }

  def aspectBucketPack(media: DataFrame, pixelBudget: Long): DataFrame = {
    require(pixelBudget > 0L, s"pixelBudget must be positive: $pixelBudget")
    val m = classifyDims(media)
      .select(col("media_id"), col("size_tier"), col("aspect_class"),
        col("__px").cast("long").as("px"),
        concat_ws("/", col("size_tier"), col("aspect_class")).as("__bucket"))
    Sampling.groupedPrefixSums(m, groupCol = Some("__bucket"), sizeCol = "px",
        order = Seq(col("media_id")), cumCol = "__cum")
      .select(col("media_id"), col("size_tier"), col("aspect_class"),
        col("px"),
        expr(s"(__cum - px) div ${pixelBudget}L").as("batch_id"),
        expr(s"(__cum - px) % ${pixelBudget}L").as("batch_offset_px"))
  }
}
