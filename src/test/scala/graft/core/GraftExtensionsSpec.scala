package graft.core

import graft.SparkSpec

/** The shared test session is built with
  * `.withExtensions(new GraftExtensions)` (SparkSpec), so these
  * queries exercise the real injectFunction path end-to-end from SQL.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("graft_dot is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
  }

  test("graft_minhash matches the HOF spelling from SQL") {
    val sql =
      """SELECT graft_minhash(array('a b c', 'b c d'), 2) AS sig,
        |       array(array_min(transform(array('a b c', 'b c d'), x -> md5(concat('mh0:', x)))),
        |             array_min(transform(array('a b c', 'b c d'), x -> md5(concat('mh1:', x))))) AS want
        |""".stripMargin
    val row = spark.sql(sql).collect()(0)
    assert(row.getSeq[String](0) == row.getSeq[String](1))
  }

  test("graft_pair_features exposes the 26-feature struct in SQL") {
    val row = spark.sql(
      """SELECT f.n_features, f.sign_agreement
        |FROM (SELECT graft_pair_features(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS f)
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 2.0)
    assert(row.getDouble(1) == 1.0)
  }

  test("graft_token_stats and graft_pii_scan are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_token_stats('ab1 cd')        AS ts,
        |       graft_pii_scan('mail a@b.co now')  AS pii
        |""".stripMargin).collect()(0)
    assert(r.getSeq[Long](0) == Seq(2L, 3L)) // 2 ws fields; bpe: 'ab','1','cd'
    val pii = r.getStruct(1)
    assert(pii.getAs[Long]("n_emails") == 1L)
    assert(pii.getAs[String]("redacted") == "mail <EMAIL> now")
  }

  test("graft_gopher_signals is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_gopher_signals('the cat - and a #dog...') AS g").collect()(0)
    // [n_words, tot_len, alpha_words, hash_chars, ellipsis_runs,
    //  n_lines, bullet_lines, ellipsis_lines, n_stop_distinct]
    // 6 words (the/cat/-/and/a/#dog...), 18 non-space chars, 5 alpha
    // words, 1 '#', 1 '...' run, 1 line, 0 bullets, ends with '...',
    // 2 distinct stops (the, and)
    assert(r.getSeq[Long](0) == Seq(6L, 18L, 5L, 1L, 1L, 1L, 0L, 1L, 2L))
  }

  test("graft_simhash and graft_quantize_int8 match their DataFrame kernels") {
    val r = spark.sql(
      """SELECT graft_simhash('a b a', 16) AS sh,
        |       graft_quantize_int8(array(0.5D, -1.0D)) AS q
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 16))
    assert(r.getStruct(1).getAs[String]("q_csv") == "64,-127")
  }

  test("graft_fingerprint_mink, graft_max_gram_freq, graft_winnow_select from SQL") {
    val r = spark.sql(
      """SELECT graft_fingerprint_mink('abcdefghij', 3, 2, 2) AS fp,
        |       graft_max_gram_freq(array('a', 'b', 'a', 'b'), 2) AS mg,
        |       size(graft_winnow_select(array('abc', 'bcd', 'cde', 'def', 'efg'), 3, 4)) AS nw
        |""".stripMargin).collect()(0)
    assert(r.getString(0).nonEmpty)
    assert(r.getInt(1) == 2) // 'a b' twice among the 3 bigrams
    assert(r.getInt(2) >= 1)
  }

  test("every table entry shows its usage and checks its argument count") {
    assert(GraftExtensions.functions.map(_.name).distinct.size == 11)
    for (f <- GraftExtensions.functions) {
      val described = spark.sql(s"DESCRIBE FUNCTION ${f.name}").collect().map(_.getString(0))
      assert(described.contains(s"Usage: ${f.usage}"), described.mkString("\n"))
    }
    val e = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0D))").collect())
    assert(e.getMessage.contains("graft_dot expects 2 arguments"), e.getMessage)
  }

  test("non-literal int config fails loudly") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_simhash('a', CAST(rand() * 4 AS INT) + 1)").collect()
    }
    assert(e.getMessage.contains("int literal"))
  }
}
