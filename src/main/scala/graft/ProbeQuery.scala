package graft

/** Per-query cost-anatomy probe (optimization-round dev tool): for
  * each named catalog entry, splits the bench's timed region into
  *
  *   construct — `fn(spark, sfDir)` (plan building; includes any eager
  *               collect jobs a query runs at construction time),
  *   execute   — the noop write (optimize + codegen + run),
  *
  * and reports the job/stage/task counts the query submitted — the
  * numbers that say whether an entry is data-bound or overhead-bound
  * (guide §1: decide WHERE the time goes before touching anything).
  *
  * Usage: runMain graft.ProbeQuery <sfDir> <name,name,...> [repeat]
  */
object ProbeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(Harness.names)
      .getOrElse(Seq("curation_pipeline_v5"))
    val repeat = args.lift(2).map(_.toInt).getOrElse(2)
    val queries = Harness.select(SparkEntry.queries, Some(names))
    val session = Harness.open(defaultCpus = 32)
    val spark = session.spark
    session.warmup(sfDir)

    queries.foreach { case (name, fn) =>
      (1 to repeat).foreach { r =>
        val c0 = session.counts()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val cJobs = (session.counts() - c0).jobs
        val t2 = System.nanoTime()
        Harness.noop(df)
        val t3 = System.nanoTime()
        val c = session.counts() - c0
        println(f"[probe] $name%-34s rep=$r construct=${(t1 - t0) / 1e9}%6.2f s " +
          f"(jobs=$cJobs) execute=${(t3 - t2) / 1e9}%6.2f s " +
          f"total_jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}")
        session.reset()
      }
    }
    spark.stop()
  }
}
