package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-11 hardening (VERDICT r10 §next-2: five catalog queries were
  * ABSENT from CORRECTNESS_r10, i.e. the driver's verify run never got
  * to them):
  *
  *  - oracle_sql.json is written FIRST, before any query runs, so a
  *    truncated run still hands the driver every oracle it needs and a
  *    missing dump shows up as a loud per-query failure, not a silent
  *    absence.
  *  - Queries run in sorted-name order. `SparkEntry.queries` is a
  *    HashMap — its iteration order is arbitrary, so under any driver
  *    wall-clock cap the DROPPED set was an arbitrary tail (exactly the
  *    r10 symptom: five unrelated queries absent, not failed).
  *  - Between queries the storage reset is the bench harness's FULL
  *    reset ([[BenchReset.resetOrFail]]), not just `clearCache()`:
  *    `localCheckpoint(true)` RDD blocks and broadcast pieces survive a
  *    SQL-cache clear and accumulate across 108 queries in the one
  *    driver JVM — the r7 bench contamination vector (late queries
  *    inflated up to 34x) applied, un-fixed, to this main. That
  *    accumulation is the best available explanation for the driver's
  *    verify run slowing until its cap cut the tail.
  *  - Per-query wall time goes to stderr so the driver log localizes
  *    any future slowdown to a query instead of a silent truncation.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val catalog = Harness.select(SparkEntry.queries, Harness.only).sortBy(_._1)
    val session = Harness.open(defaultCpus = 4)
    val spark = session.spark
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Crash-robust run manifest (round-16, after CORRECTNESS_r15 came
    // back `{}` despite all 254 dumps existing): one JSON line per
    // query with status/rows/seconds, flushed as it happens, plus a
    // header with the JVM's ACTUAL max heap — so a driver-side gate
    // failure is attributable (dump missing vs dump fine but compare
    // died) from this file alone, even if the run is killed mid-way.
    val manifest = new java.io.FileWriter(s"$outDir/verify_manifest.jsonl")
    def manifestLine(s: String): Unit = {
      manifest.write(s + "\n"); manifest.flush()
    }
    manifestLine(s"""{"max_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},"cpus":${session.cpus},"sf_dir":${q(sfDir)},"n_queries":${SparkEntry.queries.size}}""")
    catalog
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val err =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(e.getMessage)
          }
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] $name $sec%.2f s")
        val rows = if (err.isEmpty)
          try spark.read.parquet(s"$outDir/$name").count()
          catch { case scala.util.control.NonFatal(_) => -1L }
        else -1L
        manifestLine(f"""{"name":${q(name)},"ok":${err.isEmpty},"rows":$rows,"sec":$sec%.3f${err.map(e => s""","err":${q(e.take(200))}""").getOrElse("")}}""")
        // FULL storage reset (RDD blocks + broadcasts), soft on ANY
        // non-fatal reset failure: the hard-fail semantics matter for
        // Bench (a dirty store skews timings); here an aborted reset
        // must never truncate the correctness catalog mid-run.
        try session.reset()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] reset warning: ${e.getMessage}")
        }
      }
    manifest.close()
    spark.stop()
  }
}
