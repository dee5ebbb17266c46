package graft

import java.nio.file.{Files, Paths}

/** Plan introspection. Every query runs once, in Bench's order and
  * fixture posture ([[SessionMemos.benchOrder]], fixtures obtained first),
  * so each plan is the final (post-AQE) plan of Bench's first pass.
  *
  * Usage:
  *   - `runMain graft.Explain <sfDir> <outFile>` writes one
  *     `name<TAB>fingerprint` line per registered query, sorted by name
  *     ([[Ledger.fingerprint]]: exchange count, join strategies, operator
  *     multiset). `tools/close.sh` regenerates the committed
  *     `plans/fingerprints.tsv` this way at sf0.001.
  *   - `runMain graft.Explain <sfDir> <outFile> <names>` writes the full
  *     formatted plans of the comma-separated queries as markdown (an
  *     at-scale excerpt without running all 185: the iterative loops
  *     execute during construction).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile, only) = args match {
      case Array(a, b)        => (a, b, None)
      case Array(a, b, names) => (a, b, Some(names.split(",").toSet))
    }
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"Explain names not in the registry: ${unknown.mkString(", ")}")
    }
    val spark = GraftSession.build("graft-explain", Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    Verify.obtainAll(spark, sfDir)
    val selected = only.getOrElse(SparkEntry.queries.keySet)
    val plans = SessionMemos.benchOrder(selected).map { name =>
      val plan =
        try {
          val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
          qe.toRdd.foreach(_ => ())
          if (only.isEmpty) Ledger.fingerprint(qe.executedPlan)
          else qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable =>
          "ERROR: " + e.toString.linesIterator.next().replace('\t', ' ')
        }
      Scratch.release(spark)
      SessionMemos.releaseAfter(spark, name, selected)
      name -> plan
    }.sortBy(_._1)
    val text =
      if (only.isEmpty) plans.map { case (n, f) => s"$n\t$f\n" }.mkString
      else "# Physical plans (generated by graft.Explain)\n\n" +
        s"Scale dir: `$sfDir`. Formatted mode: scan details show " +
        "`PushedFilters`/`ReadSchema`; `(n)` spans are whole-stage codegen stages.\n" +
        plans.map { case (n, p) => s"\n## $n\n\n```\n$p```\n" }.mkString
    Files.writeString(Paths.get(outFile), text)
    SessionMemos.releaseAll(spark)
    spark.stop()
  }
}
