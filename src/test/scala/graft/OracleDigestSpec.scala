package graft

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** Guards the declared DuckDB oracle SQL against silent edits. The oracle
  * is the independent half of every correctness gate: a query whose
  * implementation and oracle change together in one diff would still pass
  * the hash compare, so every oracle's SHA-256 is committed in
  * `src/test/resources/oracle_sql.sha256` (one `name<TAB>hex` line per
  * `SparkEntry.oracleSql` entry, sorted by name) and this spec fails on
  * any added, removed or changed oracle, naming the query. An intended
  * oracle change is made by replacing that query's line with the one the
  * failure message prints — a reviewed diff of its own.
  *
  * The oracle strings derive from the engine's geometry constants
  * (LshPlanes, Dedup band caps), so the digests are those of the default
  * geometry: the spec session records no LSH corpus hint.
  */
class OracleDigestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The committed (name, digest) lines, in file order. */
  private def committed: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    assert(in != null, "src/test/resources/oracle_sql.sha256 is missing")
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(name, digest) = line.split("\t")
      name -> digest
    }.toSeq
  }

  test("the digest file is sorted by name with one line per query") {
    val names = committed.map(_._1)
    assert(names === names.sorted)
    assert(names.distinct === names)
  }

  test("every declared oracle matches its committed SHA-256") {
    val expected = committed.toMap
    val actual = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    val added = (actual.keySet -- expected.keySet).toSeq.sorted
    val removed = (expected.keySet -- actual.keySet).toSeq.sorted
    val changed = actual.keySet.intersect(expected.keySet).toSeq.sorted
      .filter(k => actual(k) != expected(k))
    val problems =
      added.map(k => s"added:   $k (new line: $k\t${actual(k)})") ++
        removed.map(k => s"removed: $k") ++
        changed.map(k => s"changed: $k (new line: $k\t${actual(k)})")
    assert(problems.isEmpty,
      "oracle SQL differs from src/test/resources/oracle_sql.sha256:\n" +
        problems.mkString("\n"))
  }
}
