package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit-schema parquet scans over the driver testdata tables.
  *
  * The reference infers schemas everywhere (`inferSchema=True` CSV at
  * `Lucas files/finalversion:263`, dict-sampled `createDataFrame` at
  * `finalversion:191`, self-describing parquet at `finalversion:288-289`).
  * At 100 TB, inference means an extra full/partial pass and schema drift
  * between runs, so this engine declares every schema up front (S3/S4 in
  * SURVEY.md §2.1) and treats inference as a tested compatibility mode
  * (see [[Ingest.csvInferred]]).
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    // parquet TIMESTAMP(NANOS) — Spark's reader has no nanos timestamp type;
    // read the raw int64 nanos (requires spark.sql.legacy.parquet.nanosAsLong)
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  private def tablePath(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"

  /** Whether `sfDir` holds table `name`, asked through the session's
    * Hadoop FileSystem.
    */
  def exists(spark: SparkSession, sfDir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tablePath(sfDir, name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Parquet scan with declared schema (SURVEY.md S4). Declaring the schema
    * skips footer-based merging across 100k+ files at scale and guarantees
    * the analyzer's column pruning / filter pushdown target the right types.
    *
    * `events.ts` is normalized to int64 NANOS whatever the file's physical
    * unit — see [[eventsTsNanosFactor]].
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = tablePath(sfDir, name)
    val df = spark.read.schema(schemas(name)).parquet(path)
    if (name != "events") df
    else {
      val f = eventsTsNanosFactor(spark, path)
      if (f == 1L) df
      else df.withColumn("ts", org.apache.spark.sql.functions.col("ts") * f)
    }
  }

  private val tsUnitCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Multiplier converting the events file's raw int64 `ts` to NANOS.
    * Driver corpora have shipped `ts` as both TIMESTAMP(NANOS) (rounds
    * 1-7) and TIMESTAMP(MICROS) (the round-8 regeneration); a
    * declared-LongType scan reads the raw physical INT64 either way, so
    * the engine's nanos arithmetic (window buckets, session gaps, as-of
    * bands — and every DuckDB oracle's `epoch_ns`) would silently run
    * 1000× off on the wrong unit. The unit is pinned by reading ONE
    * parquet footer's logical-type annotation per directory — the
    * authoritative record of the writer's unit, covering NANOS, MICROS
    * and MILLIS uniformly (the earlier Spark-inference side-channel
    * could only distinguish NANOS from not-NANOS and would have scaled a
    * MILLIS corpus 1000× off). Metadata-only — no data pass — and
    * cached per directory, so the per-query cost is nil.
    */
  def eventsTsNanosFactor(spark: SparkSession, path: String): Long =
    eventsTsNanosFactorIfDecidable(spark, path).getOrElse(1L)

  /** As [[eventsTsNanosFactor]], but `None` when the directory has no
    * files yet (a stream deployed before its first file lands) — the
    * caller then must not bake a guessed factor into a long-lived plan
    * ([[graft.streaming.EventsStream.run]] switches to a per-row
    * magnitude branch instead). Only the missing-directory/no-files case
    * is `None`; a footer that exists but can't be decoded, or a `ts`
    * column with an un-normalizable type, THROWS — deploy-before-data is
    * the one legitimate reason not to know the unit, and conflating it
    * with real failures would silently re-admit the 1000× hazard. Decided
    * units are cached per path; undecidable is never cached, so the next
    * call re-sniffs.
    */
  def eventsTsNanosFactorIfDecidable(
      spark: SparkSession, path: String): Option[Long] =
    tsUnitCache.get(path).orElse {
      firstParquetFile(spark, path).map { file =>
        val f = footerTsNanosFactor(spark, file)
        tsUnitCache.putIfAbsent(path, f)
        f
      }
    }

  /** First visible data file under `path` (itself, if a file) — `None`
    * when the path is absent or holds no parquet parts yet. Hidden files
    * (`_SUCCESS`, `.crc`) are skipped. The driver writes each directory
    * with one writer config, so any one part pins the unit for all.
    */
  private def firstParquetFile(
      spark: SparkSession, path: String): Option[org.apache.hadoop.fs.Path] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(p).filter(_ => visible(p.getName))
      else fs.listStatus(p).iterator
        .filter(s => s.isFile && visible(s.getPath.getName) &&
          s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).toSeq.sortBy(_.getName).headOption
    }
  }

  /** Read the `ts` column's logical-type annotation from one parquet
    * footer and return the raw-int64 → nanos multiplier. TIMESTAMP(NANOS)
    * → 1, MICROS → 1e3, MILLIS → 1e6; an unannotated INT64 is taken as
    * already-nanos (the engine's own declared unit). Anything else —
    * missing column, non-INT64 physical type, TIME/other annotation — is
    * an error, not a guess.
    */
  private def footerTsNanosFactor(
      spark: SparkSession, file: org.apache.hadoop.fs.Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val in = HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      require(schema.containsField("ts"),
        s"no ts column in the parquet at $file — refusing to guess " +
          "a time unit for the events normalization")
      val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
      require(prim.getPrimitiveTypeName == PrimitiveTypeName.INT64,
        s"events ts at $file has physical type ${prim.getPrimitiveTypeName}" +
          " — the nanos normalization only knows INT64 timestamps")
      prim.getLogicalTypeAnnotation match {
        case null => 1L // raw int64: the engine's own nanos convention
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.NANOS  => 1L
            case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
            case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
          }
        case other => throw new IllegalStateException(
          s"events ts at $file has unsupported logical type $other; " +
            "the nanos normalization only knows TIMESTAMP annotations")
      }
    } finally reader.close()
  }

  /** Floor-convert the events table's int64 NANOS (`nanosAsLong` read) to
    * microseconds. pmod-based floor, NOT `div`: plain integer division
    * truncates toward zero for pre-1970 values, which would diverge from
    * DuckDB's nanos→micros truncation and shift window membership. Shared
    * by every consumer (as-of/range joins, streaming) so the semantics
    * can't drift per call site.
    */
  def nanosToMicrosSql(nanosCol: String): String =
    s"($nanosCol - pmod($nanosCol, 1000)) div 1000"

  def nanosToMicros(nanosCol: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(nanosToMicrosSql(nanosCol))

  /** S9 surface: register every table as a temp view so any reference-style
    * `spark.sql` query runs directly (the reference's
    * `createOrReplaceTempView("races")` + `sqlContext.sql` pattern,
    * `finalversion:327-329`, generalized to the whole catalog).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    schemas.keys.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
