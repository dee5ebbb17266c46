package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Parity gate for the native `bpe_token_count` kernel against the regex
  * it replaced (`size(regexp_extract_all(text, '[A-Za-z]+|[0-9]|
  * [^A-Za-z0-9 ]'))`) — the `text_tokens` round-18 lever. Two layers:
  * a scalar java.util.regex replay over adversarial shapes (unicode,
  * supplementary planes, runs, controls), and a Spark-side column
  * comparison so the codegen path is the one exercised.
  */
class TextKernelsSpec extends SparkSpec {

  private val Pattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  private def regexCount(s: String): Long = {
    val m = java.util.regex.Pattern.compile(Pattern).matcher(s)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  private val shapes = Seq(
    "", " ", "   ", "a", "abc", "abc def", "a1b2", "123", "1 2 3",
    "hello, world!", "..!!..", "tab\there\nnewline", "é", "éé", "aéb",
    "naïve café", "漢字テスト", "a漢b", "𐍈", "a𐍈b", "mixed 漢字 and ascii 42",
    "trailing space ", " leading", "a  b", "UPPER lower MiXeD",
    "a-b_c.d", "0a0", "a0a", "!@#$%^&*()", " ", "x y",
    "quantity>=5", "π≈3.14159")

  test("bpe_token_count matches the java regex count on adversarial shapes") {
    shapes.foreach { s =>
      assert(TextKernels.bpeTokenCount(UTF8String.fromString(s)) === regexCount(s),
        s"shape '$s'")
    }
  }

  test("bpe_token_count column ≡ size(regexp_extract_all(...)) incl. nulls (codegen path)") {
    import spark.implicits._
    val df = (shapes.map(Option(_)) :+ None).toDF("text")
    val both = df.select(
      call_function("bpe_token_count", col("text")).as("fast"),
      size(regexp_extract_all(col("text"), lit(Pattern), lit(0)))
        .cast("long").as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null parity: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1), s"row $r")
    }
  }

  test("bpe_token_count of a non-string fails in the analyzer as a typed mismatch") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).selectExpr("bpe_token_count(1)").collect()
    }
    assert(e.getCondition === "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
  }

  test("bpe_token_count on the real corpus equals the regex form row-for-row") {
    val d = graft.sources.Tables.load(spark, sf("sf0.001"), "documents")
    val diff = d.select(
      call_function("bpe_token_count", col("text")).as("fast"),
      size(regexp_extract_all(col("text"), lit(Pattern), lit(0)))
        .cast("long").as("ref"))
      .filter(col("fast") =!= col("ref") ||
        col("fast").isNull =!= col("ref").isNull)
      .count()
    assert(diff === 0L)
  }
}
