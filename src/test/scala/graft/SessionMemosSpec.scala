package graft

import graft.sources.Ingest
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Guards the [[SessionMemos]] consumer sets against registry drift: a
  * renamed or removed query would otherwise leave a stale name in a
  * consumer set, silently shifting a family's release point (perf, not
  * correctness — but exactly the class of quiet decay this registry
  * exists to prevent). Then checks the store itself: one build per entry,
  * nested builds, and that each release frees what it owns and nothing
  * else.
  */
class SessionMemosSpec extends SparkSpec {

  private object Absent extends RuntimeException

  /** Whether `fam` holds (spark, dir, part), without inserting: a build
    * that throws leaves no entry. */
  private def cached(fam: SessionMemos.Family, dir: String, part: String): Boolean =
    try { fam.memo[Any](spark, dir, part)(throw Absent)(_ => ()); true }
    catch { case Absent => false }

  test("every registered memo consumer is a registered query") {
    val registered = SparkEntry.queries.keySet
    SessionMemos.families.foreach { fam =>
      val unknown = fam.consumers -- registered
      assert(unknown.isEmpty,
        s"family '${fam.name}' names non-registry queries: $unknown")
    }
  }

  test("family names are unique, consumer sets non-empty and disjoint") {
    val names = SessionMemos.families.map(_.name)
    assert(names.distinct === names)
    SessionMemos.families.foreach(f => assert(f.consumers.nonEmpty, f.name))
    // benchOrder assigns each query to at most one block — overlapping
    // consumer sets would make the clustering ambiguous
    val all = SessionMemos.families.flatMap(_.consumers.toSeq)
    assert(all.distinct === all, "consumer sets overlap")
  }

  test("Verify.posturedQueries names only registered queries") {
    val unknown = Verify.posturedQueries.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty,
      s"posturedQueries names non-registry queries: $unknown")
    // the consumers of a memo family that still has a fixture (the gram
    // frames) are posture-sensitive by construction
    assert(SessionMemos.Grams.consumers.subsetOf(Verify.posturedQueries.toSet))
  }

  test("benchOrder is a permutation with contiguous family blocks") {
    val selected = SparkEntry.queries.keySet
    val order = SessionMemos.benchOrder(selected)
    assert(order.toSet === selected)
    assert(order.size === selected.size)
    SessionMemos.families.foreach { fam =>
      val idx = order.zipWithIndex.collect {
        case (n, i) if fam.consumers.contains(n) => i
      }
      assert(idx.max - idx.min === idx.size - 1,
        s"family '${fam.name}' block is not contiguous: $idx")
      // the block ends at the family's alphabetical max — the exact name
      // releaseAfter keys on
      assert(order(idx.max) === fam.consumers.intersect(selected).max)
    }
    // selections without a family's consumers degrade cleanly
    val sub = Set("wins", "combine", "dedup_spans")
    val subOrder = SessionMemos.benchOrder(sub)
    assert(subOrder.toSet === sub)
  }

  test("a build runs once per (session, family, dir, part), nested builds included") {
    val outer = new SessionMemos.Family("spec_outer", Set.empty)
    val inner = new SessionMemos.Family("spec_inner", Set.empty)
    val builds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val freed = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def leaf(part: String): Long = inner.memo(spark, "d", part) {
      builds(s"inner/$part") += 1; part.length.toLong
    }(_ => freed(s"inner/$part") += 1)
    // the outer build reads two inner entries while its own is absent
    def top(dir: String): Long = outer.memo(spark, dir, "p") {
      builds(s"outer/$dir") += 1; leaf("p") + leaf("qq")
    }(_ => freed(s"outer/$dir") += 1)
    try {
      (1 to 3).foreach { _ =>
        assert(top("d") === 3L)
        assert(leaf("p") === 1L)
        assert(top("e") === 3L)
      }
      assert(builds.toMap === Map("outer/d" -> 1, "outer/e" -> 1,
        "inner/p" -> 1, "inner/qq" -> 1))
      // releasing one family frees its own entries once, and only those
      outer.release(spark)
      assert(freed.toMap === Map("outer/d" -> 1, "outer/e" -> 1))
      assert(cached(inner, "d", "p") && !cached(outer, "d", "p"))
      assert(top("d") === 3L)
      assert(builds("outer/d") === 2 && builds("inner/p") === 1)
    } finally {
      outer.release(spark)
      inner.release(spark)
    }
    // the engine's own nesting: the component labels build the minhash
    // pairs, which build the signatures — each lands in the store once
    val dir = sf("sf0.001")
    SessionMemos.DedupPairs.release(spark)
    SparkEntry.queries("dedup_clusters")(spark, dir)
    Seq("components", "minhash", "minhash_sig").foreach { part =>
      assert(cached(SessionMemos.DedupPairs, dir, part), part)
    }
    SessionMemos.DedupPairs.release(spark)
  }

  test("releasing grams leaves the bigrams frame persisted, and the reverse") {
    val dir = "spec-grams"
    def grams = SessionMemos.Grams.frame(spark, dir, "x")(spark.range(8).toDF())
    def bigrams = SessionMemos.Bigrams.frame(spark, dir, "x")(spark.range(9).toDF())
    val (g1, b1) = (grams, bigrams)
    assert(g1.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(b1.storageLevel === StorageLevel.MEMORY_AND_DISK)
    SessionMemos.Grams.release(spark)
    assert(g1.storageLevel === StorageLevel.NONE)
    assert(b1.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(bigrams eq b1)
    val g2 = grams
    assert(!(g2 eq g1))
    SessionMemos.Bigrams.release(spark)
    assert(b1.storageLevel === StorageLevel.NONE)
    assert(g2.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(grams eq g2)
    SessionMemos.Grams.release(spark)
    assert(g2.storageLevel === StorageLevel.NONE)
  }

  test("releasing dedup_pairs frees the component labels' checkpoint and the pair frames") {
    val dir = sf("sf0.001")
    val sc = spark.sparkContext
    SessionMemos.DedupPairs.release(spark)
    Scratch.release(spark)
    val before = sc.getPersistentRDDs.keySet
    val clusters = SparkEntry.queries("dedup_clusters")(spark, dir)
    val labels = clusters.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }
    Scratch.release(spark)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(labels.nonEmpty, "the labels frame reads a checkpointed RDD")
    assert(labels.forall(held.contains), s"labels $labels, held $held")
    assert(held.size > labels.size, s"no pair frame is held: $held")
    SessionMemos.DedupPairs.release(spark)
    assert((sc.getPersistentRDDs.keySet intersect held).isEmpty,
      s"still held after release: ${sc.getPersistentRDDs.keySet intersect held}")
  }

  test("releaseAll drops the semantic model and the bucketed registration") {
    val dir = sf("sf0.001")
    SparkEntry.queries("dedup_semantic")(spark, dir)
    assert(cached(SessionMemos.SemanticModel, dir, "kmeans"))
    val (orders, _) = Ingest.bucketedTables(spark, dir)
    spark.sql(s"DROP TABLE $orders")
    Ingest.bucketedTables(spark, dir)
    assert(!spark.catalog.tableExists(orders), "the registration is memoized")
    SessionMemos.releaseAll(spark)
    assert(!cached(SessionMemos.SemanticModel, dir, "kmeans"))
    Ingest.bucketedTables(spark, dir)
    assert(spark.catalog.tableExists(orders), "registered again after releaseAll")
  }
}
