package graft.load

import java.nio.file.Files

import graft.{ActionCount, SparkSpec}
import graft.core.RunSession

class LoaderSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): String = {
    val dir = Files.createTempDirectory("graft_derby").toFile
    s"jdbc:derby:${dir.getAbsolutePath}/db;create=true"
  }

  test("loadJdbc round-trips frames with row-count verify (K1+A5)") {
    val loader = new Loader(freshDb())
    val df1 = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    val df2 = Seq((10L, 0.1)).toDF("k", "v")
    val report = loader.loadJdbc(spark, Seq(df1, df2), Some(Seq("t_one", "t_two")))
    assert(report.status == "success")
    assert(report.tablesLoaded == 2)
    assert(report.totalRowsLoaded == 3L)
    assert(report.results.map(_.action) == Seq("create", "create"))
    assert(report.results.forall(r => r.status == "success"))
  }

  test("append accumulates rows; verify counts the union") {
    val url = freshDb()
    val loader = new Loader(url)
    val df = Seq((1L, "x")).toDF("id", "tag")
    val r1 = loader.loadJdbc(spark, Seq(df), Some(Seq("t_app")))
    val r2 = loader.loadJdbc(spark, Seq(df), Some(Seq("t_app")), ifExists = "append")
    assert(r1.results.head.rowsLoaded == 1L)
    assert(r2.results.head.rowsLoaded == 2L) // verified post-append count
    assert(r2.results.head.tableExisted)
    assert(r2.results.head.action == "append")
  }

  test("replace overwrites; fail errors on existing table") {
    val url = freshDb()
    val loader = new Loader(url)
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
    loader.loadJdbc(spark, Seq(df), Some(Seq("t_rep")))
    val rep = loader.loadJdbc(spark, Seq(df.limit(1)), Some(Seq("t_rep")), ifExists = "replace")
    assert(rep.results.head.rowsLoaded == 1L)
    assert(rep.results.head.action == "replace")
    val fail = loader.loadJdbc(spark, Seq(df), Some(Seq("t_rep")), ifExists = "fail")
    assert(fail.status == "failure")
    assert(fail.results.head.status == "error")
  }

  test("empty frames are skipped, mismatched names rejected") {
    val url = freshDb()
    val loader = new Loader(url)
    val empty = Seq.empty[(Long, String)].toDF("id", "tag")
    val r = loader.loadJdbc(spark, Seq(empty), Some(Seq("t_e")))
    assert(r.results.head.status == "skipped_empty")
    assert(r.status == "success")
    intercept[IllegalArgumentException] {
      loader.loadJdbc(spark, Seq(empty), Some(Seq("a", "b")))
    }
  }

  test("writeCsv emits one header CSV per frame (K2)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val paths = Loader.writeCsv(Seq(df), dir)
    assert(paths == Seq(s"$dir/result_0.csv"))
    val back = spark.read.option("header", "true").csv(paths.head)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "tag"))
  }

  test("fresh and append loads verify each table's count in the database, in input order") {
    val loader = new Loader(freshDb())
    val session = RunSession.interpreted(spark)
    val frames = Seq(3L, 7L, 5L).map(n => session.range(n).selectExpr("id", "id * 0.5 AS v"))
    val tables = Seq("t_a", "t_b", "t_c")
    def loaded(): (LoadReport, ActionCount) =
      ActionCount.of(spark)(loader.loadJdbc(session, frames, Some(tables)))
    val (fresh, freshCount) = loaded()
    assert(fresh.status == "success")
    assert(fresh.results.map(r => (r.index, r.tableName, r.action, r.tableExisted)) ==
      Seq((0, "t_a", "create", false), (1, "t_b", "create", false), (2, "t_c", "create", false)))
    assert(fresh.results.map(_.rowsLoaded) == Seq(3L, 7L, 5L))
    val (appended, appendCount) = loaded()
    assert(appended.status == "success")
    assert(appended.results.map(r => (r.action, r.tableExisted)) == Seq.fill(3)(("append", true)))
    assert(appended.results.map(_.rowsLoaded) == Seq(6L, 14L, 10L))
    // per frame, the frame's count and the write: the database does
    // the existence check and the before/after counts
    assert(freshCount.jobs == 6 && appendCount.jobs == 6)
  }

  test("frames bound for one table load one after another, each verify counting its own write") {
    val loader = new Loader(freshDb())
    val session = RunSession.interpreted(spark)
    val frames = Seq(3L, 4L, 2L).map(n => session.range(n).selectExpr("id"))
    val report = loader.loadJdbc(session, frames, Some(Seq("t_same", "t_other", "t_same")))
    assert(report.status == "success")
    assert(report.results.map(r => (r.index, r.tableName, r.action, r.rowsLoaded)) ==
      Seq((0, "t_same", "create", 3L), (1, "t_other", "create", 4L), (2, "t_same", "append", 5L)))
  }
}
