package graft.llmdata

import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.graftbridge.{ColumnBridge, SessionBridge}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.RunSession
import graft.integrate.PairFeaturesExpression

/** Every codegen kernel, run twice over the same small input: once as
  * generated code (whole-stage codegen on, no interpreted fallback)
  * and once interpreted (`RunSession.interpreted`, as pipeline runs
  * execute). Both must give identical rows, nulls included. A
  * wrong-typed input must fail analysis with a message naming the
  * kernel.
  */
class KernelParitySpec extends SparkSpec {

  private def e(c: Column) = ColumnBridge.expression(c)

  private val text = StructType(Seq(StructField("t", StringType)))
  private val texts = Seq("the cat sat on the mat. a@b.co 555-123-4567 ...",
    "# heading\n- bullet one two three...\n* the end", "", null, "ab",
    "Hello   World  hello", "naïve café über")
  private val tokens = StructType(Seq(StructField("t", ArrayType(StringType))))
  private val tokenRows = Seq(Seq("a b c", "b c d", "a b c", "d e f"),
    Seq("x"), Seq(), null, Seq("p", null, "q"), Seq("a", "b", "a", "b", "a"))
  private val doubles = StructType(Seq(StructField("v", ArrayType(DoubleType))))
  private val doubleRows = Seq(Seq(1.0, 2.0, 3.0), Seq(0.5, null, -1.0), null,
    Seq(-4.25, 0.0, 1e-3, 7.5))
  private val pairs = StructType(Seq(StructField("a", ArrayType(DoubleType)),
    StructField("b", ArrayType(DoubleType))))
  private val pairRows = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.5, 0.0)),
    (Seq(0.5, null, -1.0), Seq(1.0, 1.0, 1.0)), (null, Seq(1.0, 2.0)),
    (Seq(4.0, 5.0), null), (Seq(0.0, -2.0), Seq(0.0, 2.0)))
  private val longs = StructType(Seq(StructField("v", ArrayType(LongType))))
  private val longRows = Seq(Seq(1L, 2L, 3L, 4L), Seq(5L, null, 7L, 8L), null,
    Seq(1L, 2L), Seq(-3L, 0L, 9L, 2L))

  private val wrongText = StructType(Seq(StructField("t", IntegerType))) -> Seq(1, null)
  private val wrongArray = StructType(Seq(StructField("t", ArrayType(IntegerType)))) ->
    Seq(Seq(1, 2), null)
  private val wrongPair = StructType(Seq(StructField("a", ArrayType(StringType)),
    StructField("b", ArrayType(StringType)))) -> Seq((Seq("1"), Seq("2")))

  private case class Kernel(name: String, schema: StructType, rows: Seq[Any],
                            wrong: (StructType, Seq[Any]), f: Seq[Column] => Column)

  private val pqCentroids = Seq(Seq(Seq(0L, 0L), Seq(2L, 3L)), Seq(Seq(4L, 4L), Seq(9L, 1L)))

  private val kernels = Seq(
    Kernel("pairFeatures", pairs, pairRows, wrongPair, cs => ColumnBridge.column(
      PairFeaturesExpression(e(cs(0)), e(cs(1)), 1e-10, 0.1, 0.01))),
    Kernel("dotProduct", pairs, pairRows, wrongPair, cs => ColumnBridge.column(
      DotProductExpression(e(cs(0)), e(cs(1))))),
    Kernel("minHashSignature", tokens, tokenRows, wrongArray,
      cs => MinHashSignatureExpression.signature(cs(0), 3)),
    Kernel("wordShingles", text, texts, wrongText,
      cs => WordShinglesExpression.shingles(cs(0), 2)),
    Kernel("tokenStats", text, texts, wrongText,
      cs => TokenStatsExpression.tokenStats(cs(0))),
    Kernel("piiScan", text, texts, wrongText, cs => PiiScanExpression.piiScan(cs(0))),
    Kernel("gopherSignals", text, texts, wrongText,
      cs => GopherSignalsExpression.signals(cs(0), TextAnalysis.gopherStops)),
    Kernel("simhash", text, texts, wrongText, cs => SimHashExpression.simhash(cs(0), 16)),
    Kernel("quantizeInt8", doubles, doubleRows, wrongArray,
      cs => QuantizeInt8Expression.quantizeInt8(cs(0))),
    Kernel("minKGramHash", text, texts, wrongText,
      cs => MinKGramHashExpression.fingerprint(cs(0), 3, 2, 2)),
    Kernel("maxGramFreq", tokens, tokenRows, wrongArray,
      cs => MaxGramFreqExpression.maxFreq(cs(0), 2)),
    Kernel("winnow", tokens, tokenRows, wrongArray,
      cs => WinnowSelectExpression.select(cs(0), 2, 2)),
    Kernel("bpeEncode", text, texts, wrongText,
      cs => BpeEncodeExpression.encode(cs(0), Seq(("t", "h"), ("th", "e"), ("a", "t")))),
    Kernel("tokenProfile", text, texts, wrongText, cs => TokenProfileExpression.tokenProfile(
      cs(0), Seq("the", "on"), Seq(Seq("cat", "mat"), Seq("hello", "café")))),
    Kernel("readabilityStats", text, texts, wrongText,
      cs => ReadabilityStatsExpression.stats(cs(0))),
    Kernel("hashedNgramScore", tokens, tokenRows, wrongArray,
      cs => HashedNgramScoreExpression.score(cs(0), 97, 48)),
    Kernel("pqCodes", longs, longRows, wrongArray,
      cs => PqKernelExpressions.pqCodes(cs(0), pqCentroids, withTables = true)),
    Kernel("centroidDotScores", longs, longRows, wrongArray,
      cs => PqKernelExpressions.centroidDotScores(cs(0),
        Seq((Seq(1L, 0L, 2L, 1L), 2L), (Seq(-1L, 3L, 0L, 5L), 3L)))))

  /** The test session's settings, with generated code that fails to
    * compile raising instead of falling back to interpreted rows.
    */
  private lazy val generated: SparkSession = {
    val s = SessionBridge.cloneSession(spark)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }
  private lazy val interpreted: SparkSession = RunSession.interpreted(spark)

  private def frame(session: SparkSession, schema: StructType, rows: Seq[Any]) =
    session.createDataFrame(session.sparkContext.parallelize(rows.map {
      case (a, b) => Row(a, b)
      case v => Row(v)
    }, 2), schema)

  private def run(session: SparkSession, k: Kernel) = {
    val df = frame(session, k.schema, k.rows)
      .select(k.f(k.schema.fieldNames.toSeq.map(col)).as("out"))
    val codegen = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    (df.collect().toSeq, codegen)
  }

  test("the spec covers all 18 kernels") {
    assert(kernels.map(_.name).distinct.size == 18)
  }

  test("a nullable-result kernel returns null for a non-null input in both paths") {
    for (session <- Seq(generated, interpreted)) {
      val row = session.range(1).select(
        MinKGramHashExpression.fingerprint(lit("ab"), 3, 2, 2),
        HashedNgramScoreExpression.score(array(lit("a"), lit(null).cast("string")), 97, 48))
        .collect().head
      assert(row.isNullAt(0) && row.isNullAt(1), row)
    }
  }

  for (k <- kernels) {
    test(s"${k.name}: generated and interpreted code give identical rows, nulls included") {
      val (gen, genWscg) = run(generated, k)
      val (interp, interpWscg) = run(interpreted, k)
      assert(genWscg && !interpWscg)
      assert(gen.size == k.rows.size)
      assert(gen == interp, s"generated $gen != interpreted $interp")
      assert(gen.exists(_.isNullAt(0)), "a null input gives a null row")
    }

    test(s"${k.name}: a wrong-typed input fails analysis, naming the kernel") {
      val (schema, rows) = k.wrong
      val err = intercept[AnalysisException] {
        frame(spark, schema, rows).select(k.f(schema.fieldNames.toSeq.map(col)))
      }
      assert(s"(?is).*\\b${k.name}\\w* expects .*".r.matches(err.getMessage), err.getMessage)
    }
  }
}
