package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Machine-readable scale-rehearsal harness (VERDICT r17 §next-2):
  * times every catalog entry at 1×/10×/100× on its table family's
  * scale ladder and maintains `REHEARSAL.json` — entry → measured
  * seconds per tier, decade ratios, stated work driver, and a ratio
  * verdict — so the scale story is a checkable artifact instead of
  * PLANS.md prose. `RehearsalSpec` asserts every catalog entry has a
  * row (measured or carrying a stated exemption), which makes "new
  * operator without a scale rehearsal" a failing test.
  *
  * Scale ladders:
  *  - documents-only entries: benchdata/zipf0p1 → zipf1 → zipf10
  *    (5k → 50k → 500k docs, the skew-scaling series);
  *  - table entries: testdata/sf0.01 → sf0.1 → benchdata/sf1;
  *  - entries over tables with no 100× file (part/region/nation are
  *    not generated at sf1) get a mechanical x100 exemption;
  *  - constructed-fixture entries (no input files) are
  *    scale-invariant: measured once at x1, exempt above.
  *
  * Deliberate x100 exemptions live in [[exemptions]]: quadratic-
  * BY-CONTRACT audit spellings whose oracled production sibling
  * carries the scale row (the r17 decontamination discipline), and
  * siblings that ride an already-measured saturation chain (one
  * representative runs; the rest point at it). Every exemption names
  * its sibling so the claim is checkable.
  *
  * Usage: `runMain graft.Rehearse <tier> [outFile]` with tier ∈
  * {x1, x10, x100}; SPARK_GRAFT_ONLY filters entries,
  * SPARK_GRAFT_REHEARSE_TIMEOUT caps per-entry seconds (default 900;
  * a timeout cancels the entry's jobs and records `"timeout"`). The
  * artifact is merged incrementally after every entry, so a killed
  * sweep resumes where it stopped (SPARK_GRAFT_RESUME=0 re-times).
  */
object Rehearse {
  private val zipfDirs = Map(
    "x1" -> "benchdata/zipf0p1",
    "x10" -> "benchdata/zipf1",
    "x100" -> "benchdata/zipf10")
  private val sfDirs = Map(
    "x1" -> "/root/testdata/sf0.01",
    "x10" -> "/root/testdata/sf0.1",
    "x100" -> "benchdata/sf1")

  /** Deliberate x100 exemptions: audit-exact spellings whose oracled
    * production/sampled sibling carries the 100× row, and saturation-
    * chain siblings measured through one representative.
    */
  val exemptions: Map[String, String] = {
    val sampled = Seq("dedup_edit_verify", "dedup_graph_transitivity",
      "dedup_method_agreement", "dedup_lsh_param_plan",
      "dedup_minhash_width_plan", "dedup_source_matrix",
      "dedup_threshold_sweep")
      .map(n => n -> s"quadratic-BY-CONTRACT audit spelling; ${n}_sampled carries the 100x row")
    val fixedKc = Seq("ann_knn_graph" -> "ann_knn_graph_scaled",
      "ann_knn_graph_learned" -> "ann_knn_graph_learned_scaled",
      "ann_knn_graph_pq" -> "ann_knn_graph_scaled (same fixed-kc graph build; PQ scoring is per-candidate)",
      "ann_knn_mutual" -> "ann_knn_mutual_scaled",
      "ann_knn_pagerank" -> "ann_knn_pagerank_scaled",
      "ann_graph_triangles" -> "ann_graph_triangles_scaled",
      "ann_graph_global_clustering" -> "ann_graph_global_clustering_scaled",
      "ann_label_prop" -> "ann_label_prop_scaled",
      "ann_triplet_mining" -> "ann_triplet_mining_scaled")
      .map { case (n, s) => n ->
        s"occupancy^2-BY-CONTRACT at fixed kc (toy oracle config); $s carries the kc-grown 100x row" }
    val embQuad = Seq("dedup_embedding_cosine", "dedup_embedding_cross")
      .map(n => n -> "bucket-occupancy^2 BY CONTRACT at fixed hyperplane count; dedup_embedding_capped carries the knobbed 100x row")
    val chain = Seq("dedup_clusters", "dedup_select_canonical",
      "dedup_select_canonical_dist", "dedup_cluster_histogram",
      "dedup_mixture_impact", "dedup_quality_impact")
      .map(n => n -> "rides the minhash cluster chain (bounded rollup on top); dedup_clusters_dist carries the 100x saturation row")
    val exact = Seq("curation_pipeline_v2", "curation_pipeline_v3",
      "curation_pipeline_v4", "curation_pipeline_v5")
      .map(n => n -> "exact-decontam capstone chain, zipf10 saturation measured in PLANS (r17: v5 1539.5 s, v4 724 s); curation_pipeline_v5_anchored/v6 carry the production 100x rows")
    val decon = Seq(
      "text_decontaminate" -> "exact near-dup decontam (corpus band self-join); text_decontaminate_anchored carries the eval-linear 100x row",
      "dedup_containment" -> "occupancy^2-BY-CONTRACT containment; dedup_containment_tight carries the knobbed 100x row",
      "dedup_cross_corpus" -> "uncapped cross-corpus band join, occupancy-product BY CONTRACT (rehearsal-measured OOM at zipf10); dedup_cross_corpus_capped carries the 100x row",
      "dedup_incremental_assign" -> "uncapped cross-corpus band join, occupancy-product BY CONTRACT (rehearsal-measured OOM at zipf10); dedup_incremental_assign_capped carries the 100x row")
    (sampled ++ fixedKc ++ embQuad ++ chain ++ exact ++ decon).toMap
  }

  /** Stated work driver per entry: longest-prefix match, specific
    * rows first. Coarse by design — the row says what DOMINATES, the
    * operator scaladoc carries the full plan story.
    */
  private val drivers: Seq[(String, String)] = Seq(
    "curation_pipeline_v6" -> "anchored gate chain + quality scan + range-sort token-budget cut over the gated subset",
    "curation_pipeline_v5_anchored" -> "anchored gate chain: dedup digest + ensemble (computed once) + broadcast-eval band join + mixture/span/dsir/novelty/clf",
    "curation_pipeline" -> "gate-chain composition over the whole corpus (dedup + ensemble + decontam + mixture ...)",
    "text_decontaminate_anchored" -> "corpus band stream vs BROADCAST eval band keys (eval-linear)",
    "text_decontaminate" -> "minhash band join + near-dup cluster chain",
    "dedup_clusters" -> "LSH candidates + verify + connected components",
    "dedup_" -> "band/bucket-keyed equi-join candidates + bounded verify",
    "ann_knn" -> "bucket self-join kNN graph + graph rollup",
    "ann_radius" -> "broadcast queries vs one corpus scan (adaptive: bucket join when pruning pays)",
    "ann_" -> "broadcast probes vs bucket-equi-joined corpus scan",
    "emb_" -> "partition-local vector fold + bounded rollup",
    "retrieval_" -> "one corpus tokenization + bounded query-keyed joins",
    // specific entries MUST precede their family prefix: driverFor is
    // first-match over this ordered Seq (ADVICE r18 #1 — text_msttr
    // below the text_ prefix was dead code)
    "text_msttr" -> "row-local segment HOF arithmetic + |sources|-grain rollup",
    "text_" -> "one tokenization scan + map-side-combined rollups",
    "events_" -> "(user,bucket)-grain distinct + per-user windows + bounded rollups",
    "merge_" -> "tagged-union one-exchange windows",
    "sessionize" -> "per-user ordered windows",
    "profile_" -> "count-frame audits (joins estimated, never executed)",
    "privacy_" -> "cell-grain aggregate + broadcast global distribution",
    "multimodal_aspect_pack" -> "grouped distributed prefix sums over (bucket, id)-range-sorted items",
    "multimodal_pack_efficiency" -> "grouped prefix-sum packing + per-bucket batch rollup",
    "multimodal_format_report" -> "header-only audit scan + bounded format x status rollup",
    "multimodal_" -> "payload-byte codegen projections + banded hamming join",
    "sample_" -> "per-stratum rates broadcast + row-local hash filter",
    "curation_" -> "corpus-grain scan + bounded source rollups",
    "join_" -> "key-equi or window-banded join, small side broadcast",
    "skew_" -> "salted join / AQE skew split",
    "union_" -> "name-similarity mapping + unionByName",
    "clean_" -> "row-local coercions + validation aggregates",
    "ingest_" -> "driver-side payload parse into a DataFrame",
    "w_" -> "per-ticker ordered windows (one partitioning)",
    "sc_" -> "row-local scalar ratios",
    "validator_" -> "pair kernel + gate mechanics",
    "transform_" -> "feature compiler over per-ticker windows",
    "load_" -> "sink write path")

  private def driverFor(name: String): String =
    drivers.collectFirst { case (p, d) if name.startsWith(p) => d }
      .getOrElse("one scan + map-side-combined aggregate")

  /** Probe dir with NO table files: an entry that constructs
    * successfully here reads nothing from the scale dir — a genuine
    * constructed fixture. (`inputFiles` can NOT be used for this
    * classification: cached tables plan as `InMemoryRelation` and
    * checkpointed frames as `LogicalRDD`, both of which hide the
    * parquet scan and would misfile real table readers as fixtures.)
    */
  private val emptyDir = "benchdata/__empty"

  def main(args: Array[String]): Unit = {
    val tier = args.headOption.getOrElse("x1")
    require(Set("x1", "x10", "x100")(tier), s"tier must be x1|x10|x100: $tier")
    val outFile = args.lift(1).getOrElse("REHEARSAL.json")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_REHEARSE_TIMEOUT", "900").toInt
    val resume = sys.env.getOrElse("SPARK_GRAFT_RESUME", "1") == "1"
    val catalog = Harness.select(QueryCatalog.entries.map(e => e.name -> e).toMap, Harness.only)
      .sortBy(_._1).map(_._2)
    val session = Harness.open(defaultCpus = 8)
    val spark = session.spark
    session.warmup(sfDirs("x1"))

    // Per-tier noop floor (VERDICT r19 §next-7): the median cost of a
    // REAL catalog micro-entry doing negligible data work — the
    // bench's own w_sma warmup query (plan + codegen + tiny scan +
    // window + the full reset discipline), i.e. the session price any
    // measured entry pays before touching scale-sized data. A bare
    // `spark.range` write measures 0.06 s and misses the plan/codegen
    // component that dominates small entries (~0.5 s), so it cannot
    // classify the ann_knn_graph_learned_scaled 19.5x artifact
    // (x10 = 0.95 s of session floor, not work). finalizeVerdicts
    // reads this so a decade ratio whose denominator sits within 2x
    // of the floor is reported `floor-bound`, never a scale cliff.
    val floor = {
      val ts = (1 to 3).map { _ =>
        val t = Harness.timedNoop(SparkEntry.queries("w_sma")(spark, sfDirs("x1")))(_ => ())
        session.reset()
        t
      }
      math.round(Harness.median(ts) * 100.0) / 100.0
    }
    writeFloor(tier, floor)
    println(s"[rehearse] __floor $tier=$floor")

    catalog.foreach { e =>
      val existing = readRows(outFile)
      val row = existing.getOrElse(e.name, Map.empty[String, JValue])
      if (resume && (row.contains(tier) || row.contains(s"${tier}_status"))) {
        // already measured (or exempted) in a previous partial sweep
      } else {
        // series classification recorded by an earlier tier is reused
        // (ADVICE r18 #4): the probe is dir-structure-only, but for
        // EAGER-construction entries (selectByTokenBudget /
        // groupedPrefixSums collect at build time) a re-probe executes
        // an x1-sized pipeline before every tier's measurement
        val knownSeries = row.get("series").collect {
          case JString(s) => s
        }
        val update = measure(spark, e, tier, timeoutSec, knownSeries)
        session.reset()
        writeRow(outFile, e.name, update)
        val shown = update.map { case (k, v) => s"$k=${JsonMethods.compact(JsonMethods.render(v))}" }
          .mkString(" ")
        println(s"[rehearse] ${e.name} $shown")
      }
    }
    finalizeVerdicts(outFile)
    spark.stop()
  }

  /** Time one entry at one tier; returns the fields to merge. */
  private def measure(spark: SparkSession, e: CatalogEntry, tier: String,
                      timeoutSec: Int,
                      knownSeries: Option[String] = None): Map[String, JValue] = {
    // series pick by DIRECTORY PROBE (query construction resolves the
    // parquet/csv paths eagerly, so a missing table fails fast):
    //  - constructs against the empty dir        -> reads nothing: fixture
    //  - constructs against the documents-only
    //    zipf dir (but not the empty one)        -> zipf ladder
    //  - otherwise                               -> sf ladder
    // `knownSeries` (an earlier tier's recorded pick) skips the probe.
    val series = knownSeries.getOrElse {
      Files.createDirectories(Paths.get(emptyDir))
      val zipfOk = Try(e.query(spark, zipfDirs("x1"))).isSuccess
      if (zipfOk && Try(e.query(spark, emptyDir)).isSuccess) "fixture"
      else if (zipfOk) "zipf"
      else "sf"
    }
    val base: Map[String, JValue] = Map(
      "series" -> JString(series),
      "driver" -> JString(driverFor(e.name)))

    if (series == "fixture")
      return base ++ (
        if (tier == "x1") timeEntry(spark, e, sfDirs("x1"), timeoutSec, tier)
        else Map(s"${tier}_status" -> JString(
          "exempt: constructed-fixture entry, input independent of scale dir")))
    if (tier == "x100") {
      exemptions.get(e.name).foreach { reason =>
        return base + (s"${tier}_status" -> JString(s"exempt: $reason"))
      }
      // sf entries over tables not generated at sf1 (part/region/...)
      // fail the construction probe against the 100x dir
      if (series == "sf" && Try(e.query(spark, sfDirs("x100"))).isFailure)
        return base + (s"${tier}_status" -> JString(
          "exempt: no 100x dataset for a table this entry reads " +
            "(dimension tables are bounded at any SF)"))
    }
    val dir = if (series == "zipf") zipfDirs(tier) else sfDirs(tier)
    base ++ timeEntry(spark, e, dir, timeoutSec, tier)
  }

  private def timeEntry(spark: SparkSession, e: CatalogEntry, dir: String,
                        timeoutSec: Int, tier: String): Map[String, JValue] = {
    val t0 = System.nanoTime()
    Harness.withTimeout(spark, timeoutSec, s"rehearse ${e.name} $tier") {
      Harness.noop(e.query(spark, dir))
    } match {
      case Some(Success(_)) =>
        val t = (System.nanoTime() - t0) / 1e9
        Map(tier -> JDouble(math.round(t * 100.0) / 100.0))
      case Some(Failure(ex)) =>
        Map(s"${tier}_status" -> JString(
          s"error: ${Option(ex.getMessage).getOrElse(ex.toString).take(200)}"))
      case None =>
        Map(s"${tier}_status" -> JString(s"timeout: > $timeoutSec s"))
    }
  }

  /** Recompute decade ratios + verdicts over the merged artifact.
    * Floor awareness (VERDICT r19 §next-7): a watch/cliff verdict is
    * only meaningful when its ratio's DENOMINATOR (the x10 time)
    * measured real work — when x10 sits within 2× of the tier's
    * measured noop floor the decade ratio is mostly
    * floor-division noise and the row is classed `floor-bound`
    * instead (its x100 seconds still print; nothing is hidden).
    */
  def finalizeVerdicts(outFile: String): Unit = {
    val rows = readRows(outFile)
    val floor10 = readFloor("x10")
    val updated = rows.map { case (name, row) =>
      def num(k: String): Option[Double] = row.get(k).collect {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
      }
      def status(k: String): Option[String] = row.get(s"${k}_status").collect {
        case JString(s) => s
      }
      val r10 = for (a <- num("x1"); b <- num("x10"); if a > 0)
        yield math.round(b / a * 10.0) / 10.0
      val r100 = for (a <- num("x10"); b <- num("x100"); if a > 0)
        yield math.round(b / a * 10.0) / 10.0
      val floorBound = (num("x10"), floor10) match {
        case (Some(x10), Some(f)) => x10 <= 2.0 * f
        case _ => false
      }
      val verdict: String =
        if (status("x100").exists(_.startsWith("exempt"))) "exempt"
        else if (status("x100").exists(_.startsWith("timeout")) ||
          status("x10").exists(_.startsWith("timeout"))) "timeout"
        else if (status("x100").exists(_.startsWith("error")) ||
          status("x10").exists(_.startsWith("error")) ||
          status("x1").exists(_.startsWith("error"))) "error"
        else if (num("x100").isEmpty) "pending"
        else if (num("x100").exists(_ <= 3.0)) "bounded"
        else if (r100.exists(_ <= 15.0)) "linear"
        else if (floorBound) "floor-bound"
        else if (r100.exists(_ <= 25.0)) "watch"
        else "cliff"
      val extra = Map("verdict" -> JString(verdict)) ++
        r10.map(v => "ratio_10x" -> JDouble(v)) ++
        r100.map(v => "ratio_100x" -> JDouble(v))
      name -> (row ++ extra)
    }
    writeAll(outFile, updated)
  }

  // ---- per-tier noop floors (sibling file: REHEARSAL.json rows are
  // 1:1 with catalog entries by spec, so floors live next door) -----

  private val floorsFile = "REHEARSAL_floors.json"

  private def readFloor(tier: String): Option[Double] = {
    val p = Paths.get(floorsFile)
    if (!Files.exists(p)) return None
    JsonMethods.parse(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8)) match {
      case JObject(fields) => fields.toMap.get(tier).collect {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
      }
      case _ => None
    }
  }

  private def writeFloor(tier: String, sec: Double): Unit = {
    val existing: Map[String, JValue] = {
      val p = Paths.get(floorsFile)
      if (!Files.exists(p)) Map.empty
      else JsonMethods.parse(new String(Files.readAllBytes(p),
        StandardCharsets.UTF_8)) match {
        case JObject(fields) => fields.toMap
        case _ => Map.empty
      }
    }
    val merged = existing + (tier -> JDouble(sec))
    Files.write(Paths.get(floorsFile),
      JsonMethods.pretty(JsonMethods.render(
        JObject(merged.toList.sortBy(_._1))))
        .getBytes(StandardCharsets.UTF_8))
  }

  // ---- tiny incremental JSON store ---------------------------------

  private def readRows(outFile: String): Map[String, Map[String, JValue]] = {
    val p = Paths.get(outFile)
    if (!Files.exists(p)) return Map.empty
    JsonMethods.parse(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8)) match {
      case JObject(fields) => fields.collect {
        case (name, JObject(row)) => name -> row.toMap
      }.toMap
      case _ => Map.empty
    }
  }

  private def writeRow(outFile: String, name: String,
                       update: Map[String, JValue]): Unit = {
    val rows = readRows(outFile)
    val merged = rows + (name -> (rows.getOrElse(name, Map.empty) ++ update))
    writeAll(outFile, merged)
  }

  private def writeAll(outFile: String,
                       rows: Map[String, Map[String, JValue]]): Unit = {
    val obj = JObject(rows.toList.sortBy(_._1).map { case (n, r) =>
      n -> JObject(r.toList.sortBy(_._1))
    })
    val tmp = Paths.get(outFile + ".tmp")
    Files.write(tmp, JsonMethods.pretty(JsonMethods.render(obj))
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(outFile), StandardCopyOption.REPLACE_EXISTING)
  }
}
