package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One place for the engine's session config — Verify/Bench/Explain all
  * build through here so load-bearing flags (nanosAsLong for the
  * TIMESTAMP(NANOS) events parquet, the extensions wiring) cannot drift
  * between entry points.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). The
    * engine's working set is 2–35× that: one f1_dag pass needs about 190
    * distinct generated classes, one full-surface pass at sf0.001 3438.
    * An LRU cache cycled over a larger working set misses on nearly every
    * lookup, so at 100 every warm pass recompiled almost everything
    * ([[codegenCompiles]] per warm pass on 4 vCPUs: f1_dag 185,
    * query_mix's nine queries 298, the full surface 5226). At 5000 the
    * same passes compile 0–6, 6–16 and 662 classes; what still compiles
    * is generated code that differs from run to run: at 8192 the full
    * surface still compiles 620. The full-surface warm pass fell from
    * 94 s to 61 s; metaspace after two passes read 240 MB (246 MB at
    * 100). Sizing rule: at least 1.25× the distinct classes of one
    * full-surface pass. A static conf: `CodeGenerator` sizes its cache
    * once, at first use, so it is set on the builder, never at runtime.
    */
  val CodegenCacheEntries: Int = 5000

  /** The builder confs that let the cache above serve a generated class
    * to every query that generates its source, so that each distinct
    * class compiles once per JVM. Spark keys the cache by (the compiling
    * thread's context class loader, the source text); two Spark defaults
    * split that key for identical code:
    *   - `spark.sql.artifact.isolation.enabled` (default true) gives each
    *     session UUID its own `ExecutorClassLoader`, and every
    *     `persist()`/`cache()` mints a UUID: `CacheManager.cacheQuery`
    *     plans the cached frame in a clone of the session
    *     (`getOrCloneSessionWithConfigsOff`, which turns off
    *     auto-bucketed scans and final-stage shuffle optimizations for
    *     cached plans), and a clone is a new session. Tasks of the
    *     cached plan's jobs then compile under the clone's loader, so
    *     a query that caches recompiles its code on every run, each
    *     time under a new loader, and compiles slower than under the
    *     application loader. Off, every task compiles under the
    *     application loader. The engine adds no jar, file or artifact
    *     to a session (`addJar`, `addFile`, `addArtifact`), so no
    *     session has artifacts of its own to isolate. The clone itself
    *     stays: the confs it turns off shape the cached plans.
    *   - `spark.sql.codegen.useIdInClassName` (default true) names each
    *     whole-stage class after its codegen stage id. AQE creates query
    *     stages, and so numbers codegen stages, in a run-dependent order,
    *     so the same code reappears under a new name and misses the
    *     cache. Off, the id stays in the generated code's comment only,
    *     and stack traces show `GeneratedIteratorForCodegenStage` without
    *     it.
    * Together, on a full-surface Bench at sf0.001 (4 vCPUs), they cut
    * the first pass from about 3,314 compiles and 14.7 s of compile time
    * to 2,328 and 7.6–7.9 s, and the warm pass from about 400 compiles
    * to 18–24. All three are set on the builder: the cache size and the
    * isolation flag are static confs.
    */
  val CodegenConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Generated classes compiled in this JVM so far: one per miss of the
    * cache above.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Seconds spent compiling generated classes in this JVM so far. */
  def codegenSeconds(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e9

  /** The builder conf that binds `file://` in every session's Hadoop
    * configuration to [[sources.PosixLocalFileSystem]], which sets file
    * permissions with `java.nio` where Hadoop's `RawLocalFileSystem`,
    * without its native library (Spark ships none), forks `chmod` for
    * every file and directory it creates. A JFR recording
    * (`jdk.ProcessStart`) of a 15-pass graftbench f1_dag run counted
    * 2,866 such processes, 191 per pass: 1,530 from the output stream of
    * each task file, `.crc` sidecar and `_SUCCESS`, 1,336 from the
    * directories of each write's `_temporary` tree and partitions. With
    * the class bound: none, and graftbench f1_dag `pass_s` fell from
    * 2.02 to 1.80 s (medians of 12 alternating runs each, 4 vCPUs).
    * The class is a `LocalFileSystem`, so checksums, `.crc` files and the
    * permission bits of what is written stay as they were.
    *
    * Order matters: Hadoop caches one FileSystem per (scheme, authority,
    * user) for the whole JVM, and the first `FileSystem.get` picks the
    * class from its own configuration. A `file://` lookup through a
    * configuration without this key (`new Configuration()`) before the
    * session exists caches the class Hadoop finds on the classpath, and
    * the session then reuses it. So [[build]] touches no FileSystem until
    * the session exists, and derives its partition count through the
    * session's own Hadoop configuration.
    */
  val LocalFileSystemConf: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[sources.PosixLocalFileSystem].getName

  /** Compressed parquet bytes per shuffle partition, the target of
    * [[derivedPartitions]]: 6 MiB ≈ 50–100 MiB of row-format shuffle data
    * after decompression, what sizes a partition to fit an executor's
    * memory. Measured, not guessed: at the ×100 smoke (1.57 GB input) the
    * heaviest iterative query (dedup_keep's connected-components search)
    * runs 40 s with ≤7 MiB compressed per partition and 66 s with
    * ≥8.2 MiB — the sort buffers of the per-round self-joins start
    * spilling right at the old 8 MiB target, so 6 MiB buys margin while
    * AQE coalesces whatever is too fine for the cheap queries.
    */
  private val TargetPartitionBytes: Long = 6L << 20

  /** Derive the shuffle-partition upper bound from the input's on-disk
    * size: ceil(bytes / [[TargetPartitionBytes]]), floored at the core
    * count. Goes through the Hadoop FileSystem API with the session's
    * Hadoop configuration, so the same derivation works for hdfs:// /
    * s3a:// URIs on a real cluster, not just the local harness. A dir
    * that cannot be listed degrades to the core count rather than
    * failing session construction.
    */
  private def derivedPartitions(
      spark: SparkSession, dir: String, cpus: Int): Option[Int] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      val n = ((bytes + TargetPartitionBytes - 1) / TargetPartitionBytes).toInt
      val bounded = math.min(math.max(n, cpus), 65536)
      System.err.println(
        s"[graft] derived spark.sql.shuffle.partitions=$bounded " +
          s"($bytes input bytes / ${TargetPartitionBytes >> 20} MiB target)")
      Some(bounded)
    } catch { case _: java.io.IOException => None }

  def build(appName: String, dataDir: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val explicitPartitions = sys.env.get("GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", explicitPartitions.getOrElse(cpus.toInt).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Let the planner pick shuffled-hash joins when its size conditions
      // hold (smaller side builds a per-partition hash table) instead of
      // defaulting to sort-merge — kills the per-join sort of BOTH sides
      // for the fact joins (guide §3.1/§9; measured A/B at ×100, round
      // 19). Partition counts scale with input bytes (derivedPartitions
      // above), so the per-partition build side stays bounded at any
      // scale.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      // events.parquet carries TIMESTAMP(NANOS) — read as raw int64 nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner reclaims dead shuffle files / broadcast blocks only
      // when driver GC collects their weak references — and a large-heap
      // driver may not GC for the whole run, so a 100+-query session
      // accretes every finished query's shuffle state until the block
      // manager ooms (observed: the ×100 smoke died at ~90 queries on the
      // default heap; default interval is 30 min). Two minutes keeps the
      // reclaim cadence well under the accretion rate at any heap size.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config(CodegenConfs)
      .config(Map(LocalFileSystemConf))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Shuffle partitions must scale with DATA, not cores: at the shipped
    // SFs 32 (= cores) is right, but the ×100 scale smoke put 45M distinct
    // groups through 32 partitions and the spilling aggregation thrashed
    // for half an hour before dying. AQE coalesces small partitions but
    // never splits big ones, so the upper bound has to be set here —
    // derived from input bytes / target partition size when the entry
    // point knows its data dir, and only now that the session exists (see
    // LocalFileSystemConf); GRAFT_SHUFFLE_PARTITIONS remains the explicit
    // override. A runtime conf: every query reads it at planning.
    if (explicitPartitions.isEmpty)
      dataDir.flatMap(derivedPartitions(spark, _, cpus.toInt)).foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
      }
    // Record the embeddings corpus size for LSH geometry auto-sizing
    // BEFORE any query object initializes (the knob-free path is the
    // sized path — LshPlanes scaladoc). Parquet count() is
    // metadata-only, and the declared schema spares a footer-inference
    // job; a dir without an embeddings table (the f1 raw zone) keeps
    // defaults, and is asked first, so that Spark does not log a missing
    // path's stack trace.
    dataDir.filter(sources.Tables.exists(spark, _, "embeddings")).foreach { dir =>
      val emb = sources.Tables.load(spark, dir, "embeddings")
      val n = emb.count()
      Knobs.sizeLshFor(n)
      System.err.println(s"[graft] LSH corpus hint: $n vectors in $dir")
      // measured occupancy feeds the sizing too (LshPlanes
      // .derivedGeometry) — only where it can matter (≤4k keeps the
      // recall-tuned default geometry regardless), and on a
      // deterministic ≤64k modulo sample so the instrument pass stays
      // one bounded codegen scan at any corpus size (concentration is
      // a ratio — sampling-invariant)
      if (n > 4000L) {
        val step = math.max(1L, n / 65536L)
        val sample = emb.filter(
          org.apache.spark.sql.functions.col("vec_id") % step === 0)
        functions.LshSizing.measuredSkew(sample).foreach { s =>
          Knobs.sizeLshSkew(s)
          System.err.println(
            f"[graft] LSH measured bucket concentration: $s%.2f")
        }
      }
    }
    // Dedup.releaseCheckpoint unpersists each CC round's localCheckpoint
    // blocks ON PURPOSE (the next round's frame is already materialized, so
    // the truncated lineage is never re-run). Spark warns about exactly
    // that unpersist ("was locally checkpointed ... cannot be recomputed"),
    // and those by-design warnings bury real ones in the bench stderr —
    // DENY that one message by regex instead of silencing the whole
    // category: an UNHEALTHY run (executor loss recomputing a truncated
    // lineage) warns through the same logger, and that warning must stay
    // visible.
    suppressByDesignCheckpointWarning()
    leanHadoopConf(spark)
    spark
  }

  /** Drop the packaged Hadoop defaults from the session's Hadoop
    * configuration. Spark serializes that configuration into every file
    * write task, every parquet footer-inference task and the broadcast of
    * every file scan. With the defaults it holds about 1,080 entries (520
    * from yarn-default.xml, 357 core-default.xml, 194 mapred-default.xml),
    * about 113 KB as a `SerializableConfiguration`, 5–8 ms to deserialize
    * per task; trimmed, `newHadoopConf()` holds at most 78 entries in
    * under 11 KB. Executors rebuild the shipped conf with
    * `new Configuration(false)`, so they see only what is shipped, and
    * Hadoop components read their keys with code defaults that mirror the
    * XML values.
    *
    * An entry goes when every source it came from is a `*-default.xml`.
    * Kept: `*-site.xml` values, `spark.hadoop.*` keys, the keys Spark sets,
    * and class bindings (keys ending in `.impl`): `fs.AbstractFileSystem
    * .file.impl` has no code default, and without it
    * `CheckpointFileManager.create` falls back from the FileContext-based
    * manager to the FileSystem-based one, which Spark warns does not
    * guarantee streaming correctness.
    *
    * Order: `Configuration.addDefaultResource` reloads every registered
    * conf from its resources, which silently restores every dropped
    * default. Loading the local FileSystem's services registers
    * hdfs-default.xml that way, so they are loaded first.
    *
    * `Configuration.unset` drops a value but keeps the key's record of
    * where it came from (the private `updatingResource` map, which
    * `getPropertySources` reads), and every `new Configuration(conf)`
    * copies that map: after the unsets it still held about 1,074 records
    * for 52 live keys, and a copy (one per `newHadoopConf()`: per file
    * index, scan and write) cost 48 µs against 9 µs with the map pruned
    * (JDK 17, 4 vCPUs). Hadoop has no public call for this, so the records of the
    * dropped keys go through reflection; on a Hadoop without the field
    * the prune is skipped and only the copies stay slower.
    */
  def leanHadoopConf(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val defaults = conf.iterator.asScala.map(_.getKey).filter { k =>
      !k.endsWith(".impl") && Option(conf.getPropertySources(k))
        .exists(s => s.nonEmpty && s.forall(_.endsWith("-default.xml")))
    }.toList
    defaults.foreach(conf.unset)
    pruneSourceRecords(conf)
  }

  /** Drop the source records of keys `conf` no longer holds. */
  private def pruneSourceRecords(conf: org.apache.hadoop.conf.Configuration): Unit =
    try {
      val field = classOf[org.apache.hadoop.conf.Configuration]
        .getDeclaredField("updatingResource")
      field.setAccessible(true)
      conf.synchronized {
        val live = conf.iterator.asScala.map(_.getKey).toSet
        field.get(conf).asInstanceOf[java.util.Map[String, Array[String]]]
          .keySet.removeIf(k => !live.contains(k))
      }
    } catch {
      case _: ReflectiveOperationException | _: RuntimeException => ()
    }

  private def suppressByDesignCheckpointWarning(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.Filter
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val filter = RegexFilter.createFilter(
      ".*was locally checkpointed.*", null, false,
      Filter.Result.DENY, Filter.Result.NEUTRAL)
    val existing = conf.getLoggerConfig(name)
    if (existing.getName == name) {
      // A log4j2 config file already defines this logger explicitly —
      // attach the DENY filter to it rather than skipping, so the
      // suppression holds under custom configs too.
      existing.addFilter(filter)
    } else {
      val lc = new LoggerConfig(name, Level.WARN, true)
      lc.addFilter(filter)
      conf.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}
