package graft

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

  /** Generated classes compiled in this JVM so far: one per miss of the
    * cache above.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Derive the shuffle-partition upper bound from the input's on-disk
    * size: ceil(bytes / target), floored at the core count. The target
    * (GRAFT_TARGET_PARTITION_MB, default 6 MiB of compressed parquet ≈
    * 50–100 MiB of row-format shuffle data after decompression) is what
    * sizes a partition to fit an executor's memory. The default is
    * measured, not guessed: at the ×100 smoke (1.57 GB input) the
    * heaviest iterative query (dedup_keep's connected-components search)
    * runs 40 s with ≤7 MiB compressed per partition and 66 s with
    * ≥8.2 MiB — the sort buffers of the per-round self-joins start
    * spilling right at the old 8 MiB target, so 6 MiB buys margin while
    * AQE coalesces whatever is too fine for the cheap queries. Goes
    * through the Hadoop FileSystem API, so the same derivation works for
    * hdfs:// / s3a:// URIs on a real cluster, not just the local harness.
    * A dir that cannot be listed degrades to the core count rather than
    * failing session construction.
    */
  private def derivedPartitions(dir: String, cpus: Int): Option[Int] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val bytes = fs.getContentSummary(p).getLength
      // Knobs, NOT LshPlanes.envInt: this runs before the LSH corpus hint
      // is recorded below, and touching LshPlanes here would freeze its
      // geometry at the default
      val targetBytes = Knobs
        .envInt("GRAFT_TARGET_PARTITION_MB", 6, 1, 4096).toLong << 20
      val n = ((bytes + targetBytes - 1) / targetBytes).toInt
      val bounded = math.min(math.max(n, cpus), 65536)
      System.err.println(
        s"[graft] derived spark.sql.shuffle.partitions=$bounded " +
          s"($bytes input bytes / ${targetBytes >> 20} MiB target)")
      Some(bounded)
    } catch { case _: java.io.IOException => None }

  def build(appName: String, dataDir: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions must scale with DATA, not cores: at the shipped
    // SFs 32 (= cores) is right, but the ×100 scale smoke put 45M distinct
    // groups through 32 partitions and the spilling aggregation thrashed
    // for half an hour before dying. AQE coalesces small partitions but
    // never splits big ones, so the upper bound has to be set here —
    // derived from input bytes / target partition size when the entry
    // point knows its data dir; GRAFT_SHUFFLE_PARTITIONS remains the
    // explicit override.
    val shufflePartitions = sys.env.get("GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt)
      .orElse(dataDir.flatMap(derivedPartitions(_, cpus.toInt)))
      .getOrElse(cpus.toInt)
      .toString
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
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
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Record the embeddings corpus size for LSH geometry auto-sizing
    // BEFORE any query object initializes (the knob-free path is the
    // sized path — LshPlanes scaladoc). Parquet count() is
    // metadata-only; a dir without an embeddings table keeps defaults.
    dataDir.foreach { dir =>
      try {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
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
      } catch { case _: org.apache.spark.sql.AnalysisException => () }
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
    spark
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
