package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the [[SessionMemos]] consumer sets against registry drift: a
  * renamed or removed query would otherwise leave a stale name in a
  * consumer set, silently shifting a family's release point (perf, not
  * correctness — but exactly the class of quiet decay this registry
  * exists to prevent).
  */
class SessionMemosSpec extends AnyFunSuite {

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
    // every memo-family consumer is posture-sensitive by construction
    SessionMemos.families.foreach { fam =>
      assert(fam.consumers.subsetOf(Verify.posturedQueries.toSet), fam.name)
    }
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
}
