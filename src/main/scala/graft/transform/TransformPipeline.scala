package graft.transform

import scala.util.{Success, Try}

import org.apache.spark.sql.DataFrame

import graft.core.RunSession
import graft.clean.{CleanReport, CleanResult, Cleaner, CleaningConfig}
import graft.enrich.{DslValidator, EnrichContext, FeatureCompiler, Registry}

/** Per-frame transform result (reference: transform/transform.py
  * `result` dicts, :83-93).
  */
case class TransformResult(
    index: Int,
    status: String, // success | success_with_warnings | empty_after_cleaning | ...
    cleaning: CleanReport,
    enrichmentStatus: String, // applied | skipped | failed
    enrichmentFeatures: Seq[String],
    postCleaning: Option[CleanReport],
    errors: Seq[String])

/** Transform-stage metadata (transform/transform.py:60-81,219-247). */
case class TransformReport(
    inputCount: Int,
    results: Seq[TransformResult],
    totalErrors: Int,
    status: String)

/** Top-level transform orchestrator (reference:
  * transform/transform.py:29-247): per frame, clean -> enrich from a
  * validated DSL recipe -> clean again. The LLM keyword->DSL
  * translation stays an out-of-engine adapter (SURVEY §2.10 C3); the
  * engine consumes the validated JSON artifact, which is exactly what
  * the reference's tests do (no LLM in the loop).
  *
  * Each phase is the corresponding engine's scale-safe plan: the
  * cleans are batched-aggregate passes, the enrichment is one
  * entity-partitioned window stage — so a frame flows through
  * clean->enrich->clean as a single lazy plan per phase with no
  * driver-side row data.
  */
class TransformPipeline(
    registry: Registry = Registry.reference,
    cleaningConfig: CleaningConfig = CleaningConfig.reference,
    ctx: EnrichContext = EnrichContext()) {

  /** Post-clean caches still live from [[run]] calls; released via
    * [[cleanup]] once the caller has materialized the outputs.
    */
  private val cachedResults = scala.collection.mutable.ArrayBuffer[CleanResult]()

  def cleanup(): Unit = {
    cachedResults.foreach(_.release())
    cachedResults.clear()
  }

  /** Transforms every frame with the same DSL recipe JSON (the
    * reference applies one keyword-derived recipe per run,
    * transform.py:137-147). `columnDeleteThreshold` mirrors the
    * profile-driven override. The frames are transformed side by side
    * ([[RunSession.parMap]]); outputs and results keep input order.
    */
  def run(dataframes: Seq[DataFrame], dslRecipe: Option[String],
          columnDeleteThreshold: Option[Double] = None)
      : (Seq[DataFrame], TransformReport) = {
    val done = if (dataframes.isEmpty) Nil
      else RunSession.parMap(dataframes.head.sparkSession, dataframes.zipWithIndex) {
        case (df, idx) => Try(transform(df, idx, dslRecipe, columnDeleteThreshold))
      }
    // a frame's post-clean cache is kept for cleanup() even when
    // another frame failed
    cachedResults ++= done.collect { case Success((post, _)) => post }
    val (posts, results) = done.map(_.get).unzip

    val totalErrors = results.map(_.errors.size).sum
    val status =
      if (totalErrors == 0) "success"
      else if (results.forall(_.errors.nonEmpty)) "failure"
      else "partial_success"
    (posts.map(_.df), TransformReport(dataframes.size, results, totalErrors, status))
  }

  /** clean -> enrich -> clean of one frame; the post-clean result keeps
    * its cache live for the caller.
    */
  private def transform(df: DataFrame, idx: Int, dslRecipe: Option[String],
                        columnDeleteThreshold: Option[Double]): (CleanResult, TransformResult) = {
    val errors = scala.collection.mutable.ArrayBuffer[String]()

    // Phase 1: cleaning. The phase-1 sort is skipped: enrichment
    // immediately hash-partitions by entity (destroying a global
    // order) and phase 3 sorts the final output — the intermediate
    // range exchange would be pure throwaway work.
    val cleaned = Cleaner.clean(df, cleaningConfig, columnDeleteThreshold,
      sort = false)

    // Phase 2: enrichment from the validated DSL artifact. The
    // reference groups by a literal 'ticker'/'ts' when present and
    // otherwise keeps current frame order (enrichment.py:448-466);
    // Spark windows need an explicit ordering, so `ts` resolves to
    // `timestamp` for parser-shaped frames — equivalent, since the
    // parsers emit timestamp-sorted frames.
    val frameCtx = EnrichContext(
      entity = ctx.entity.filter(cleaned.df.columns.contains),
      ts = ctx.ts.filter(cleaned.df.columns.contains)
        .orElse(Seq("ts", "timestamp").find(cleaned.df.columns.contains)),
      tiebreak = ctx.tiebreak.filter(cleaned.df.columns.contains))
    val (enriched, enrichStatus, featureNames) = dslRecipe match {
      case None => (cleaned.df, "skipped", Nil)
      case Some(recipe) =>
        DslValidator.validate(recipe, registry) match {
          case (Some(requests), _) =>
            try (FeatureCompiler(cleaned.df, requests, frameCtx), "applied",
              requests.map(_.name))
            catch {
              case e: Exception =>
                errors += s"Enrichment failed: ${e.getMessage}"
                (cleaned.df, "failed", Nil)
            }
          case (None, validationErrors) =>
            errors ++= validationErrors
            (cleaned.df, "failed", Nil)
        }
    }

    // Phase 3: post-enrichment cleaning. Its stats probes materialize
    // the post-cast cache, whose lineage reads through phase 1's —
    // so phase 1's cache is no longer needed once this returns, while
    // phase 3's stays live for the caller's output materialization
    // (released by cleanup() / the session cache clear).
    val post = Cleaner.clean(enriched, cleaningConfig, columnDeleteThreshold)
    cleaned.release()

    val status =
      if (errors.isEmpty) "success"
      else "success_with_warnings"
    post -> TransformResult(idx, status, cleaned.report, enrichStatus,
      featureNames.toSeq, Some(post.report), errors.toSeq)
  }
}
