package graft.llmdata

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("asMediaTable carries payloads as binary with ids") {
    val m = Multimodal.asMediaTable(docs(0L -> "hello", 1L -> "world!"))
    assert(m.schema("payload").dataType.typeName == "binary")
    val bytes = m.orderBy("media_id").collect()(0).getAs[Array[Byte]]("payload")
    assert(new String(bytes, "UTF-8") == "hello")
  }

  test("decodeStub and frameOffsetsStub are deterministic and bounded") {
    val p = Array.tabulate[Byte](1000)(_.toByte)
    assert(Multimodal.decodeStub(p) == Multimodal.decodeStub(p.clone()))
    val offs = Multimodal.frameOffsetsStub(p, 4)
    assert(offs == Seq(0L, 250L, 500L, 750L))
    assert(offs.forall(o => o >= 0 && o < 1000))
  }

  test("metaProjection matches the stub decode formulas") {
    val m = Multimodal.asMediaTable(docs(5L -> "abcdefghij", 6L -> ("x" * 1000)))
    val rows = Multimodal.metaProjection(m).orderBy("media_id").collect()
    val r = rows(0)
    assert(r.getAs[Long]("byte_len") == 10L)
    assert(r.getAs[Long]("fake_width") == 64 + 10 % 512)
    assert(r.getAs[String]("head_hex") == "6162636465666768")
    assert(r.getAs[String]("payload_md5").length == 32)
    // the SQL dimensions are decodeStub's, on either side of 512 bytes
    Seq("abcdefghij", "x" * 1000).zip(rows).foreach { case (text, row) =>
      val (w, h, _, _) = Multimodal.decodeStub(text.getBytes("UTF-8"))
      assert(row.getAs[Long]("fake_width") == w && row.getAs[Long]("fake_height") == h)
    }
  }
}
