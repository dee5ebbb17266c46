package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import org.apache.spark.graftbench.Bus

import graft.{GraftSession, Q, Scratch, SessionMemos, SparkEntry}

/** One op of a pass: `exec` is timed, `check` runs after the clock stops
  * and returns what the output check needs (digest, rows, paths). Both get
  * the pass's output directory.
  */
final case class Op(name: String, module: String,
    exec: String => Any, check: (String, Any) => Map[String, Any])

/** A workload: the scale factor its session is sized for, its ops and the
  * fixtures its set-up builds.
  */
final case class Workload(name: String, sf: Option[String], queries: Seq[String],
    fixtures: Seq[(String, (SparkSession, String) => String)])

object Workloads {
  val all: Map[String, Workload] = Seq(
    Workload("f1_dag", None, Nil, Nil),
    Workload("query_mix", Some("sf0.01"), Seq(
      "band_join", "asof_join", "cube_agg", "dedup_spans", "dedup_incr_index",
      "sample_negatives", "dq_audit", "ann_lsh", "graph_kcore"), Seq(
      "grams" -> graft.operators.TextAnalysis.gramFixtureWrite,
      "dedup_base" -> graft.operators.Dedup.baseIndexWrite))
  ).map(w => w.name -> w).toMap

  /** Registering module of each registered query, for operators.<module>.s */
  lazy val moduleOf: Map[String, String] = Seq(
    "Analytics" -> graft.operators.Analytics.all,
    "TextAnalysis" -> graft.operators.TextAnalysis.all,
    "Dedup" -> graft.operators.Dedup.all,
    "Similarity" -> graft.operators.Similarity.all,
    "Multimodal" -> graft.operators.Multimodal.all,
    "Sampling" -> graft.operators.Sampling.all,
    "AsofJoin" -> graft.operators.AsofJoin.all,
    "Graph" -> graft.operators.Graph.all,
    "Layout" -> graft.operators.Layout.all,
    "DataQuality" -> graft.operators.DataQuality.all,
    "Ingest" -> graft.sources.Ingest.all
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
}

/** Runs one workload in this JVM and writes the run record as JSON.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data <testdata root>
  *       --work <run dir> --out <record.json> --launch-ns <epoch ns>
  *       --setup-reps K [--zone <f1 raw zone>] [--dump-oracles 1]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.all(args("workload"))
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val work = Paths.get(args("work"))
    val out = Paths.get(args("out"))
    val dataDir = w.sf.map(sf => s"${args("data")}/$sf")
    val zone = args.get("zone")

    val t0 = System.nanoTime()
    val spark = GraftSession.build("graftbench", dataDir.orElse(zone))
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    val sessionDoneNs = epochNs()

    if (args.get("dump-oracles").contains("1")) {
      val sql = w.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
      Files.writeString(out, Json.write(sql))
      spark.stop()
      return
    }

    val counters = new Counters
    spark.sparkContext.addSparkListener(new TaskCounters(counters))
    val storeRoot = Paths.get(System.getProperty("java.io.tmpdir"), "graft_fx")
    if (trace) {
      spark.sparkContext.addSparkListener(new SchedCounters(counters))
      spark.listenerManager.register(new PlanCounters(counters, storeRoot.toString))
    }
    val spans = new Spans(trace)

    // set-up: build every fixture into the run-private store, K times, each
    // time against a fresh alias of the data dir so nothing is reused
    val reps = args("setup-reps").toInt
    val setupReps = mutable.ArrayBuffer.empty[Map[String, Any]]
    var runDir = dataDir.getOrElse("")
    if (w.fixtures.nonEmpty) for (rep <- 1 to reps) {
      val alias = aliasOf(Paths.get(dataDir.get), work.resolve(s"data/rep$rep"))
      val before = published(storeRoot)
      val ts = mutable.LinkedHashMap.empty[String, Double]
      val tr = System.nanoTime()
      w.fixtures.foreach { case (name, write) =>
        val tf = System.nanoTime()
        write(spark, alias)
        ts(name) = (System.nanoTime() - tf) / 1e9
      }
      setupReps += Map("s" -> (System.nanoTime() - tr) / 1e9, "fixtures" -> ts,
        "builds" -> (published(storeRoot) -- before).size)
      runDir = alias
    }
    val setupDoneNs = epochNs()

    val rng = new scala.util.Random(seed)
    val ops: Seq[Op] = zone match {
      case Some(z) => f1Ops(spark, z, rng)
      case None => rng.shuffle(w.queries).map(n => registered(spark, n, runDir))
    }
    if (zone.isDefined) Transport.install()

    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gc.map(_.getCollectionTime).sum
    val cores = spark.sparkContext.defaultParallelism
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def pass(i: Int): Unit = {
      val before = counters.snapshot()
      counters.resetMax(Seq("peak_exec_mem"))
      val gc0 = gcMs
      val results = mutable.ArrayBuffer.empty[(Op, Double, Either[Throwable, Any])]
      val tp = System.nanoTime()
      val dir = work.resolve(s"out/pass$i").toString
      spans("pass") {
        ops.foreach { op =>
          val to = System.nanoTime()
          val res = try Right(spans(s"op:${op.module}:${op.name}")(op.exec(dir)))
          catch { case e: Throwable => Left(e) }
          results += ((op, (System.nanoTime() - to) / 1e9, res))
          Scratch.release(spark)
        }
        SessionMemos.families.foreach(_.release(spark))
      }
      val wall = (System.nanoTime() - tp) / 1e9
      // output checks run after the pass clock stopped
      val opRecs = results.map { case (op, s, res) =>
        val checked = res match {
          case Right(v) =>
            try op.check(dir, v) catch { case e: Throwable => Map("err" -> s"check: $e") }
          case Left(e) =>
            System.err.println(s"[graftbench] ${op.name} failed: $e")
            Map("err" -> e.toString)
        }
        Map("name" -> op.name, "module" -> op.module, "s" -> s,
          "ok" -> res.isRight) ++ checked
      }
      Bus.drain(spark.sparkContext)
      val after = counters.snapshot()
      val delta = after.map { case (k, v) =>
        k -> (if (k == "peak_exec_mem") v else v - before.getOrElse(k, 0.0))
      }
      passes += Map("cold" -> (i == 0), "wall_s" -> wall, "ops" -> opRecs,
        "counters" -> delta, "gc_s" -> (gcMs - gc0) / 1000.0)
    }

    // the cold pass, then warm passes for --seconds: whole passes, and at
    // least two. The JIT keeps warming for several passes, so a fixed pass
    // count keeps the warm median comparable between runs
    pass(0)
    val seconds = args("seconds").toDouble
    val warmStart = System.nanoTime()
    var i = 1
    while (i < 3 || (System.nanoTime() - warmStart) / 1e9 < seconds) { pass(i); i += 1 }

    val record = Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "data_dir" -> dataDir.getOrElse(""), "zone" -> zone.getOrElse(""),
      "launch_ns" -> args("launch-ns").toLong, "session_done_ns" -> sessionDoneNs,
      "setup_done_ns" -> setupDoneNs, "session_build_s" -> sessionBuildS,
      "setup_reps" -> setupReps, "store_roots" -> published(storeRoot).size,
      "passes" -> passes,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.writeString(out, Json.write(record))
    spark.stop()
  }

  private def epochNs(): Long = {
    val n = java.time.Instant.now()
    n.getEpochSecond * 1000000000L + n.getNano
  }

  /** A fresh directory of links to every table file of `src`. FixtureStore
    * keys its memo and its stamp by data-dir path, so each alias is built
    * from an empty store, while the bytes read stay the same.
    */
  private def aliasOf(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach { f =>
      Files.createSymbolicLink(dst.resolve(f.getFileName), f)
    }
    dst.toString
  }

  /** Published fixture roots of the store (build dirs and pins excluded). */
  private def published(store: Path): Set[String] =
    if (!Files.isDirectory(store)) Set.empty
    else Files.list(store).iterator().asScala.map(_.getFileName.toString)
      .filter(n => !n.startsWith(".") && !n.contains(".build.") && !n.contains(".reap."))
      .toSet

  private def registered(spark: SparkSession, name: String, dir: String): Op = {
    val q: Q = SparkEntry.registry.find(_.name == name).get
    Op(name, Workloads.moduleOf(name),
      _ => { val df = q.run(spark, dir); (df.schema, df.collect()) },
      {
        case (_, (schema: org.apache.spark.sql.types.StructType,
              rows: Array[org.apache.spark.sql.Row])) =>
          Map("digest" -> Digest.of(schema, rows), "rows" -> rows.length)
        case other => Map("err" -> s"unexpected result $other")
      })
  }

  private def f1Ops(spark: SparkSession, zone: String, rng: scala.util.Random): Seq[Op] = {
    val dag = new F1Dag(spark, zone)
    def wrote(sub: String): (String, Any) => Map[String, Any] =
      (dir, _) => Map("out" -> s"$dir/$sub", "sub" -> sub)
    val format = rng.shuffle(Seq(
      Op("format_f1", "f1.format", dag.formatF1, wrote("formatted_f1")),
      Op("format_weather", "f1.format", dag.formatWeather, wrote("formatted_weather"))))
    val usage = rng.shuffle(F1Dag.Usage.keys.toSeq.sorted).map { n =>
      Op(s"usage_$n", "f1.usage", dir => dag.usage(n, dir), wrote(s"usage/$n"))
    }
    val indexOrder = rng.shuffle(F1Dag.Usage.keys.toSeq.sorted)
    format ++ Seq(Op("combine", "f1.combine", dag.combine, wrote("combined"))) ++
      usage ++ Seq(Op("index", "bulksink", dir => dag.index(dir, indexOrder),
        (_, r) => Map("sink" -> r)))
  }
}
