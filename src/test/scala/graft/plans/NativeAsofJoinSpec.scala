package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native whole-operator as-of join: constructed-fixture semantics
  * (match, no-match, exact tie, latest-of-many, null keys), plan shape
  * (AsofJoinExec present, EnsureRequirements placed the key exchanges and
  * (key, time) sorts), and full parity with the composed union+window
  * formulation on real data.
  */
class NativeAsofJoinSpec extends SparkSpec {

  import spark.implicits._

  test("asof merge: fixture covers match/no-match/tie/latest/null-key") {
    val right = Seq(
      (10L, 100L, "a"), (10L, 200L, "b"), (10L, 300L, "c"),
      (20L, 500L, "x"))
      .toDF("rk", "rt", "pay")
    val left = Seq(
      (1L, 10L, 50L),   // before any order -> null
      (2L, 10L, 200L),  // exact tie -> "b"
      (3L, 10L, 250L),  // between -> "b"
      (4L, 10L, 900L),  // after all -> "c" (latest)
      (5L, 20L, 499L),  // other key, before -> null
      (6L, 20L, 500L),  // other key, tie -> "x"
      (7L, 30L, 100L),  // key with no right rows -> null
      (8L, -1L, 100L))  // stand-in for an unmatched key domain -> null
      .toDF("id", "lk", "lt")
    val out = AsofJoinNode
      .asofJoin(left, "lk", "lt", right, "rk", "rt", "pay", "m")
      .select($"id", $"m").as[(Long, Option[String])].collect().toMap
    assert(out === Map(
      1L -> None, 2L -> Some("b"), 3L -> Some("b"), 4L -> Some("c"),
      5L -> None, 6L -> Some("x"), 7L -> None, 8L -> None))
    // null left keys flow through with a null payload, never match null rights
    val nullLeft = Seq((Some(1L), Option.empty[Long], 100L))
      .toDF("id", "lk", "lt")
    val nullRight = Seq((Option.empty[Long], 50L, "z")).toDF("rk", "rt", "pay")
    val nOut = AsofJoinNode
      .asofJoin(nullLeft, "lk", "lt", nullRight, "rk", "rt", "pay", "m")
      .select($"id", $"m").as[(Long, Option[String])].collect()
    assert(nOut.toSeq === Seq((1L, None)))
  }

  test("asof merge: STRING keys survive the right-side row-buffer reuse") {
    // Regression: curKey/rK used to retain an uncopied UTF8String view of a
    // reused UnsafeRow buffer — advancing the right iterator then silently
    // rewrote the buffered key. Many rows per key + string keys exercise it.
    val right = (0 until 50).flatMap { i =>
      Seq((f"key$i%03d", 100L + i, s"early$i"), (f"key$i%03d", 200L + i, s"late$i"))
    }.toDF("rk", "rt", "pay")
    val left = (0 until 50).map(i => (i.toLong, f"key$i%03d", 1000L))
      .toDF("id", "lk", "lt")
    val out = AsofJoinNode
      .asofJoin(left, "lk", "lt", right, "rk", "rt", "pay", "m")
      .select($"id", $"m").as[(Long, Option[String])].collect().toMap
    assert(out === (0 until 50).map(i => i.toLong -> Some(s"late$i")).toMap)
  }

  test("asof merge: null TIMES never match and never NPE") {
    val right = Seq((Some(10L), Some(100L), "a"), (Some(10L), Option.empty[Long], "ghost"))
      .toDF("rk", "rt", "pay")
    val left = Seq(
      (1L, Some(10L), Some(200L)),  // matches "a"; the null-rt row is skipped
      (2L, Some(10L), Option.empty[Long]))  // null lt -> unmatched, no NPE
      .toDF("id", "lk", "lt")
    val out = AsofJoinNode
      .asofJoin(left, "lk", "lt", right, "rk", "rt", "pay", "m")
      .select($"id", $"m").as[(Long, Option[String])].collect().toMap
    assert(out === Map(1L -> Some("a"), 2L -> None))
  }

  test("asof metric: numOutputRows counts the rows the exec emits") {
    val right = Seq((10L, 100L, "a"), (20L, 500L, "x")).toDF("rk", "rt", "pay")
    val left = (1L to 9L).map(i => (i, if (i % 2 == 0) 10L else 20L, 100L * i))
      .toDF("id", "lk", "lt")
    val df = AsofJoinNode.asofJoin(left, "lk", "lt", right, "rk", "rt", "pay", "m")
    val rows = df.collect().length
    val execs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case a: AsofJoinExec => a }
    assert(execs.size === 1)
    assert(execs.head.metrics.get("numOutputRows").map(_.value) === Some(rows.toLong))
    assert(rows === 9)
  }

  test("asof construction: mismatched key/time types rejected; self-join re-aliased") {
    val l = Seq((1L, "k", 10L)).toDF("id", "lk", "lt")
    val r = Seq((5, 5L, "p")).toDF("rk", "rt", "pay")  // rk is INT, lk STRING
    val e = intercept[IllegalArgumentException] {
      AsofJoinNode.asofJoin(l, "lk", "lt", r, "rk", "rt", "pay", "m")
    }
    assert(e.getMessage.contains("types differ"))
    // same frame on both sides: duplicate exprIds must be de-duplicated
    val f = Seq((10L, 100L, "a"), (10L, 200L, "b")).toDF("k", "t", "pay")
    val self = AsofJoinNode
      .asofJoin(f, "k", "t", f, "k", "t", "pay", "m")
      .select($"t", $"m").as[(Long, Option[String])].collect().toMap
    assert(self === Map(100L -> Some("a"), 200L -> Some("b")))
  }

  test("asof plan: AsofJoinExec with declared key exchanges and (key,time) sorts") {
    val dir = sf("sf0.001")
    val q = graft.operators.AsofJoin.asofNative.run(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"native exec missing:\n$plan")
    // EnsureRequirements must have placed a hash exchange per side and the
    // (key, time) sorts the exec declares — not inherited luck
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2, plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains("key") && l.contains("t#")), plan)
  }

  test("asof parity: native exec ≡ composed union+window on real data") {
    val dir = sf("sf0.001")
    val native = graft.operators.AsofJoin.asofNative.run(spark, dir)
      .as[(Long, Long, Option[String])].collect().toSeq
    val composed = graft.operators.AsofJoin.asof.run(spark, dir)
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(native === composed)
    assert(native.nonEmpty)
    graft.Scratch.release(spark)
  }
}
