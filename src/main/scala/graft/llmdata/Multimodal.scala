package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads travel as
  * opaque `binary` columns with metadata alongside. Every operator here
  * reads the payload through codegen'd SQL expressions (digest, length,
  * head bytes, positional byte decode), so payloads never reach the
  * driver and no UDF runs. Dimensions are a deterministic STUB
  * ([[decodeStub]], computed in SQL by [[metaProjection]]): no
  * image/audio codec is linked in.
  *
  * 100 TB design: metadata-only queries prune the binary column at the
  * parquet scan, so a stats query never even reads the payload bytes.
  */
object Multimodal {

  /** ==== STUB ==== Deterministic fake decode: derives plausible
    * dimensions from the payload length alone. [[metaProjection]]
    * computes the same formulas as SQL (`fake_width`, `fake_height`),
    * and its spec pins the two together.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int, String) = {
    val n = payload.length
    (64 + n % 512, 64 + (n / 7) % 512, 3, "fake/rgb8")
  }

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
