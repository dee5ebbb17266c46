package graft.sources

import graft.SessionMemos.BucketedTables
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source/sink operator family (SURVEY.md §2.1 S1–S8).
  *
  * The reference ingests over HTTP driver-side (`Lucas files/
  * finalversion:65-105` Ergast JSON, `finalversion:221-251` Meteostat CSV)
  * and lands files in a datalake; the engine proper starts at the landed
  * files. Here every landed format has an explicit-schema reader (the
  * 100 TB default) plus the reference's inference behavior as a tested
  * compatibility mode.
  */
object Ingest {

  /** S3 compatibility mode: header + schema inference, exactly the
    * reference's `spark.read.csv(path, header=True, inferSchema=True)`
    * (`finalversion:263`). Inference costs an extra pass over the data and
    * can drift between runs — prefer [[csv]] with a declared schema.
    */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** S3 scale path: header CSV with a declared schema — single pass, stable
    * types (e.g. the weather `date` column stays StringType so the
    * (city,country,date) join key can never drift, SURVEY.md §7.4).
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)

  /** S1 landed-file reader: newline-delimited JSON with a declared
    * (possibly nested) schema — the distributed replacement for the
    * reference's driver-side dict walking (`finalversion:130-170`).
    * `multiLine=true` handles one-pretty-printed-object-per-file layouts
    * like the reference's raw zone (one JSON document per race).
    */
  def json(spark: SparkSession, path: String, schema: StructType,
      multiLine: Boolean = false): DataFrame =
    spark.read.option("multiLine", multiLine).schema(schema).json(path)

  /** Result of a quarantining read: land both frames, then [[release]] the
    * backing cache (required: Spark can't re-derive the corrupt column
    * after parsing, so the split shares one cached parse — holding it for
    * the session would accumulate executor memory across repeated ingests).
    */
  final case class QuarantinedRead(good: DataFrame, corrupt: DataFrame) {
    private[sources] var backing: DataFrame = _
    def release(): Unit = if (backing != null) { backing.unpersist(); backing = null }
  }

  /** S1 robustness mode: JSON with malformed rows captured in a
    * `_corrupt_record` column instead of failing the job (PERMISSIVE) —
    * at 100 TB a handful of bad rows must be quarantined, not fatal.
    */
  def jsonWithQuarantine(spark: SparkSession, path: String, schema: StructType,
      multiLine: Boolean = false): QuarantinedRead = {
    import org.apache.spark.sql.functions.col
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema already defines _corrupt_record — pass the data schema only")
    val withCorrupt = StructType(schema.fields :+
      StructField("_corrupt_record", StringType))
    val raw = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("multiLine", multiLine)
      .schema(withCorrupt).json(path)
      // Spark requires caching before filtering on the corrupt column
      // (it is populated during parsing, not re-derivable)
      .cache()
    val out = QuarantinedRead(
      raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      raw.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record")))
    out.backing = raw
    out
  }

  /** S4: parquet scan with declared schema (see [[Tables.load]]). */
  def parquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** S5: in-memory rows → Dataset, the typed equivalent of the reference's
    * `spark.createDataFrame(list_of_dicts)` (`finalversion:191`) — schema
    * comes from the case-class Encoder, not sampling.
    */
  def fromRows[T: org.apache.spark.sql.Encoder](spark: SparkSession, rows: Seq[T]): Dataset[T] =
    spark.createDataset(rows)

  /** S6: the reference's single-file overwrite parquet sink
    * (`df.coalesce(1).write.mode("overwrite").parquet`, `finalversion:192`).
    * `coalesce(1)` funnels the whole job through one task — correct for a
    * "one output file" contract, an anti-pattern at 100 TB; kept as an
    * explicit option, never a default.
    */
  def writeParquetSingleFile(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** S6 scale path: parallel parquet write, optionally partitioned by
    * columns (the datalake-zone layout the reference fakes with path
    * conventions, `finalversion:192,272,292`).
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S7: CSV→Parquet zone converter (`finalversion:274-281`). */
  def csvToParquet(spark: SparkSession, csvPath: String, parquetPath: String,
      schema: StructType): Unit =
    writeParquet(csv(spark, csvPath, schema), parquetPath)

  /** S8 stand-in: the reference bulk-indexes result parquets into
    * Elasticsearch as JSON documents (`Code Big Data Project.py:401-454`);
    * without network egress the engine-side equivalent is the JSON-lines
    * sink (same `{field: value}` documents elasticsearch-hadoop would POST).
    * The bulk-index path itself is [[graft.sources.bulksink.BulkSink]].
    */
  def writeJsonDocs(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** P8+P9: the reference's pre-indexing cleanup (`Martin files/elsastic
    * parquet.py:22,26`) — zero-fill numeric nulls, drop unindexed columns.
    */
  def prepareForIndexing(df: DataFrame, dropCols: String*): DataFrame =
    df.na.fill(0).drop(dropCols: _*)

  /** S6-adjacent bucketed sink: a managed parquet table hash-bucketed (and
    * bucket-sorted) on the join key. Bucketing is the at-rest half of the
    * co-located join: two tables bucketed `buckets`-ways on their join
    * keys join WITHOUT any shuffle exchange — at 100 TB that removes the
    * dominant cost of every recurring fact⋈fact join against the same key
    * (the shuffle is paid ONCE, at write time, amortized over every
    * subsequent join). `sortBy` additionally lets the sort-merge join skip
    * its per-bucket sort when files-per-bucket is 1.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
    // with a path: EXTERNAL at that location (dropping the table keeps
    // the files — the FixtureStore build path); without: managed under
    // spark.sql.warehouse.dir
    path.fold(w)(w.option("path", _)).saveAsTable(table)
  }

  /** The co-located join the bucketed sink exists for, oracle-gated on its
    * RESULT while BucketedJoinSpec gates the PLAN (zero shuffle exchanges
    * feeding the join). The bucketed DATA is written once per corpus
    * version into the content-stamped [[graft.FixtureStore]] (the
    * bucket-hash shuffle is the whole cost, ~8 s at ×100 — exactly the
    * write a real deployment amortizes across every later join); each
    * SESSION then only registers EXTERNAL tables over the stored layout —
    * a catalog DDL, no data movement. Bucketing is metadata: the files
    * carry their bucket ids in their names, and the CREATE TABLE's
    * CLUSTERED BY spec re-attaches the layout contract in any session;
    * the registration is a [[graft.SessionMemos.BucketedTables]] memo.
    */
  def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    // tag = sanitized dir + a hash of the RAW dir: two dirs that sanitize
    // to the same string (/x/sf0.1 vs /x/sf0_1) must not share tables —
    // the second registration would point at the wrong corpus while the
    // memo entry still claimed readiness
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_") +
      "_" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    val (ot, ct) = (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
    val root = graft.FixtureStore.obtain("bucketed", dir,
      Seq("orders", "customer"), getClass) { tmp =>
      // write THROUGH a throwaway catalog entry ([[writeBucketed]] with a
      // path — saveAsTable is the only writer that lays down bucket
      // metadata), external at the build path; dropping an external
      // table keeps its data
      def writeTo(df: DataFrame, buildTable: String, path: String,
          bucketCol: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $buildTable")
        writeBucketed(df, buildTable, bucketCol, 8, Some(path))
        s.sql(s"DROP TABLE $buildTable")
      }
      writeTo(Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        s"${ot}_fxbuild", s"$tmp/orders", "o_custkey")
      writeTo(Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment"),
        s"${ct}_fxbuild", s"$tmp/customer", "c_custkey")
    }
    // one registration per (session, dir); the lock keeps a concurrent
    // first caller from dropping the tables the other just created
    BucketedTables.synchronized {
      BucketedTables.memo(s, dir, "tables") {
        s.sql(s"DROP TABLE IF EXISTS $ot")
        s.sql(
          s"""CREATE TABLE $ot (o_orderkey BIGINT, o_custkey BIGINT,
             |  o_totalprice DOUBLE)
             |USING PARQUET
             |CLUSTERED BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS
             |LOCATION '$root/orders'""".stripMargin)
        s.sql(s"DROP TABLE IF EXISTS $ct")
        s.sql(
          s"""CREATE TABLE $ct (c_custkey BIGINT, c_mktsegment STRING)
             |USING PARQUET
             |CLUSTERED BY (c_custkey) SORTED BY (c_custkey) INTO 8 BUCKETS
             |LOCATION '$root/customer'""".stripMargin)
        ()
      }(_ => ())
    }
    (ot, ct)
  }

  val bucketedJoin: graft.Q = graft.Q("bucketed_join",
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val (ot, ct) = bucketedTables(s, dir)
    s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** One-time ORC interchange copy of `part` per corpus version — the
    * fixture for [[orcRoundtrip]], content-stamped ([[graft.FixtureStore]])
    * so unchanged corpus + code reuse the copy across sessions; Bench
    * builds it outside the timed window and reports the seconds
    * separately. (Concurrent sessions are safe without a session tag now:
    * builds land in a private dir and publish by atomic rename — nobody
    * ever Overwrites a path another session is reading.)
    */
  def orcPartCopy(s: SparkSession, dir: String): String =
    graft.FixtureStore.obtain("orc", dir, Seq("part"), getClass) { root =>
      Tables.load(s, dir, "part").write.mode(SaveMode.Overwrite)
        .orc(s"$root/part.orc")
    } + "/part.orc"

  /** One-time mixed-shape JSON landing zone per corpus version — the
    * fixture for [[variantMixed]], content-stamped exactly like
    * [[orcPartCopy]]. Five payload shapes keyed by `event_id % 5` over
    * the deterministic `event_id % 97 = 0` events slice: a numeric-`k`
    * object with a tag array, a string-`k` object, a nested-context
    * object, a bare top-level array, and a MALFORMED non-JSON line —
    * the heterogeneous accretion shape of a real event-log props column
    * (every value derives from event_id/user_id, so the DuckDB oracle
    * can replay the construction arithmetic without parsing JSON).
    * Landed as text lines: the raw producer format, not parquet.
    */
  def variantZone(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    graft.FixtureStore.obtain("variant", dir, Seq("events"), getClass) { root =>
      val out = s"$root/props.txt"
      Tables.load(s, dir, "events")
          .filter(col("event_id") % 97 === 0)
          .select(expr(
            """CASE CAST(event_id % 5 AS INT)
              |  WHEN 0 THEN concat('{"k": ', CAST(event_id % 1000 AS STRING),
              |    ', "tags": ["a", "b"]}')
              |  WHEN 1 THEN concat('{"k": "s', CAST(user_id AS STRING), '"}')
              |  WHEN 2 THEN concat('{"ctx": {"ua": "agent-',
              |    CAST(user_id % 7 AS STRING), '", "v": ',
              |    CAST(event_id % 13 AS STRING), '}}')
              |  WHEN 3 THEN concat('[', CAST(user_id AS STRING), ', ',
              |    CAST(event_id % 100 AS STRING), ']')
              |  ELSE concat('not json ', CAST(event_id AS STRING))
              |END""".stripMargin).as("value"))
          .write.mode(SaveMode.Overwrite).text(out)
    } + "/props.txt"
  }

  /** Spark 4 VARIANT over a heterogeneous landing zone — the registered,
    * oracle-gated twin of the VariantSpec capability pin (r8 verdict
    * task #6; `events_json`'s `from_json` path needs ONE declared schema,
    * which the uniform driver corpus satisfies — THIS query is the shape
    * that breaks it). The landed text parses row-by-row with
    * `try_parse_json` (malformed lines → null variant, never a crash),
    * each row's SHAPE is inferred from which typed path extractions
    * succeed — no shared schema anywhere — and the per-shape rollup
    * aggregates the extracted values. The oracle replays the payload
    * CONSTRUCTION arithmetic straight off the events table, so the gate
    * covers the full loop: build → land as text → variant parse → typed
    * path extraction → aggregate. Everything stays in whole-stage
    * codegen (variant parse + extraction are native expressions); the
    * one exchange is the 5-group aggregate.
    */
  val variantMixed: graft.Q = graft.Q("variant_mixed",
    """WITH s AS (SELECT CAST(event_id % 5 AS BIGINT) AS shape, event_id, user_id
      |  FROM events WHERE event_id % 97 = 0)
      |SELECT shape, count(*) AS n,
      |  CAST(sum(CASE WHEN shape = 0 THEN event_id % 1000 END) AS BIGINT) AS sum_k,
      |  CAST(count(CASE WHEN shape = 2 THEN 1 END) AS BIGINT) AS n_ua,
      |  CAST(sum(CASE WHEN shape = 3 THEN user_id END) AS BIGINT) AS sum_arr0,
      |  CAST(sum(CASE WHEN shape = 3 THEN event_id % 100 END) AS BIGINT) AS sum_arr1,
      |  max(CASE WHEN shape = 1 THEN concat('s', CAST(user_id AS VARCHAR)) END) AS max_kstr
      |FROM s GROUP BY shape ORDER BY shape""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val typed = s.read.text(variantZone(s, dir))
      .select(expr("try_parse_json(value)").as("v"))
      .select(
        expr("try_variant_get(v, '$.k', 'bigint')").as("k_big"),
        expr("try_variant_get(v, '$.k', 'string')").as("k_str"),
        expr("try_variant_get(v, '$.ctx.ua', 'string')").as("ua"),
        expr("try_variant_get(v, '$[0]', 'bigint')").as("arr0"),
        expr("try_variant_get(v, '$[1]', 'bigint')").as("arr1"),
        col("v"))
      // shape inference from the payload alone — the classification an
      // engine without per-row self-describing types cannot express
      .withColumn("shape",
        when(col("v").isNull, 4L)
          .when(col("k_big").isNotNull, 0L)
          .when(col("k_str").isNotNull, 1L)
          .when(col("ua").isNotNull, 2L)
          .when(col("arr0").isNotNull, 3L)
          .otherwise(-1L)) // unreachable by construction; -1 fails the gate loudly
    typed.groupBy(col("shape"))
      .agg(count(lit(1)).as("n"),
        sum(col("k_big")).as("sum_k"),
        count(col("ua")).as("n_ua"),
        sum(col("arr0")).as("sum_arr0"),
        sum(col("arr1")).as("sum_arr1"),
        max(when(col("shape") === 1L, col("k_str"))).as("max_kstr"))
      .orderBy(col("shape"))
  }

  /** Multi-format interchange: the same declared-schema scan discipline as
    * parquet (S4), over an ORC copy — the cross-team handoff format a
    * 100 TB lake meets in practice (ORC ships in Spark's core jars; Avro
    * needs the external spark-avro module, absent here). The ORC reader
    * gets the identical Catalyst treatment — column pruning and predicate
    * pushdown reach the OrcScan (plan-asserted in IngestSpec) — so the
    * oracle, which runs on the ORIGINAL parquet table, gates write→read
    * fidelity: any value the ORC sink or source mangled would break the
    * hash match. Aggregation uses the DECIMAL(18,2) sum trick (Analytics
    * header) for cross-engine float determinism.
    */
  val orcRoundtrip: graft.Q = graft.Q("orc_roundtrip",
    """SELECT p_brand, count(*) AS n_parts,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS retail
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    s.read.schema(Tables.part).orc(orcPartCopy(s, dir))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
          .as("retail"))
      .orderBy(col("p_brand"))
  }

  /** One-time raw race-zone fixture per corpus version — reference-shaped
    * `races_<year>_<round>.json` files (one document per race,
    * `Lucas files/finalversion:89`) derived DETERMINISTICALLY from the
    * nation⋈region dimensions so the DuckDB oracle can replay the
    * derivation off the parquet tables without reading JSON: nation key k
    * becomes the race (year 1990 + k∕5, round k%5 + 1) with city = nation
    * name and country = region name. The 25-row collect is a bounded
    * dimension by construction (the pivot-domain argument, not a data
    * collect). Content-stamped exactly like [[orcPartCopy]].
    */
  def raceZoneFixture(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    graft.FixtureStore.obtain("racezone", dir,
      Seq("nation", "region"), getClass) { root =>
      val rows = Tables.load(s, dir, "nation")
        .join(Tables.load(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast("int"), col("n_name"), col("r_name"))
        .collect()
      val d = new java.io.File(s"$root/raw")
      d.mkdirs()
      rows.foreach { r =>
        val key = r.getInt(0)
        val name = r.getString(1); val region = r.getString(2)
        val year = 1990 + key / 5; val round = key % 5 + 1
        val json =
          s"""{"raceName": "GP $name", "date": "$year-06-0$round",
             | "Circuit": {"circuitName": "Circuit $name"},
             | "city": "$name", "country": "$region"}""".stripMargin
        java.nio.file.Files.writeString(
          new java.io.File(d, s"races_${year}_$round.json").toPath, json)
      }
    } + "/raw"
  }

  /** The DSv2 raw-zone connector under the correctness gate (r9 verdict
    * task #8): a year-scoped aggregate read THROUGH
    * [[graft.sources.racezone.RaceZoneSource]], so the connector's
    * planning-time file pruning (`year >= 1992` prunes 10 of 25 files
    * before any open) and its content-column JSON parse both sit under
    * the DuckDB hash compare, not only under specs. The oracle replays
    * the fixture's derivation arithmetic straight off nation⋈region.
    */
  val raceZoneAgg: graft.Q = graft.Q("racezone_agg",
    """WITH rz AS (SELECT 1990 + n_nationkey // 5 AS year, n_name AS city,
      |    r_name AS country
      |  FROM nation JOIN region ON n_regionkey = r_regionkey)
      |SELECT CAST(year AS BIGINT) AS year, count(*) AS n_races,
      |  min(city) AS first_city,
      |  CAST(count(DISTINCT country) AS BIGINT) AS n_countries
      |FROM rz WHERE year >= 1992
      |GROUP BY year ORDER BY year""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    s.read.format("graft.sources.racezone.RaceZoneSource")
      .load(raceZoneFixture(s, dir))
      .filter(col("year") >= 1992)
      .groupBy(col("year").cast("long").as("year"))
      .agg(count(lit(1)).as("n_races"),
        min(col("city")).as("first_city"),
        countDistinct(col("country")).as("n_countries"))
      .orderBy(col("year"))
  }

  private val DayNanos = 86400L * 1000000000L

  /** One-time DAY-PARTITIONED copy of events per corpus version — the
    * fixture for [[dppJoin]], content-stamped exactly like
    * [[orcPartCopy]]. The partition key is the zero-padded epoch-day
    * string (fixed width keeps the key a plain STRING in both the writer
    * and the directory-name inference — no partition-column type
    * inference ambiguity — while preserving lexicographic = numeric
    * order). This is the layout the 100 TB event log actually ships in:
    * date-partitioned directories, where a day predicate is a directory
    * listing, not a scan.
    */
  def dppEventsCopy(s: SparkSession, dir: String): String =
    graft.FixtureStore.obtain("dpp", dir, Seq("events"), getClass) { root =>
      import org.apache.spark.sql.functions._
      Tables.load(s, dir, "events")
        .select(
          format_string("%06d", expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L"))
            .as("pd"),
          col("event_type"), col("value"))
        .write.mode(SaveMode.Overwrite).partitionBy("pd")
        .parquet(s"$root/events_by_day")
    } + "/events_by_day"

  /** Dynamic partition pruning — the optimization that makes star-schema
    * joins survive 100 TB: the fact side is the day-partitioned copy
    * ([[dppEventsCopy]]), the dim side is a RUNTIME-derived day list
    * (days whose purchase count is strictly above the daily mean — a
    * predicate on an aggregate, so no static constraint propagation can
    * precompute it), and Catalyst injects the dim's broadcast result as a
    * `dynamicpruning` partition filter into the fact SCAN: only the
    * selected days' directories are read, at any corpus size
    * (plan-asserted in DppJoinSpec). The mean comparison is exact integer
    * cross-multiplication (np·ndays > total), so both engines select the
    * identical day set. The oracle replays the semantics on the original
    * unpartitioned table — the hash gate proves the pruned scan answers
    * exactly what the full scan would.
    */
  val dppJoin: graft.Q = graft.Q("dpp_join",
    s"""WITH d AS (SELECT
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $DayNanos + $DayNanos) % $DayNanos)) // $DayNanos AS day,
      |    event_type, value FROM events),
      |pc AS (SELECT day, count(*) AS np FROM d WHERE event_type = 'purchase' GROUP BY 1),
      |t AS (SELECT count(*) AS tot, count(DISTINCT day) AS nd FROM d
      |  WHERE event_type = 'purchase'),
      |sel AS (SELECT day FROM pc CROSS JOIN t WHERE np * nd > tot)
      |SELECT CAST(d.day AS BIGINT) AS day, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM d JOIN sel USING (day)
      |GROUP BY d.day ORDER BY day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    // Explicit schema PINS the partition column to STRING — without it,
    // partition-column type inference may parse the zero-padded directory
    // values as integers and the no-ambiguity claim above would rest on
    // implicit casts (DppJoinSpec asserts the read-back dataType).
    val fact = s.read
      .schema("event_type STRING, value DOUBLE, pd STRING")
      .parquet(dppEventsCopy(s, dir))
    val purch = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(format_string("%06d",
        expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L")).as("pd"))
    val pc = purch.groupBy(col("pd")).agg(count(lit(1)).as("np"))
    val tot = purch.agg(count(lit(1)).as("tot"), countDistinct(col("pd")).as("nd"))
    val dim = pc.crossJoin(broadcast(tot))
      .filter(col("np") * col("nd") > col("tot"))
      .select(col("pd"))
    fact.join(broadcast(dim), Seq("pd"))
      .groupBy(col("pd"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("pd").cast("long").as("day"), col("n"), col("sum_value"))
      .orderBy(col("day"))
  }

  /** One-time two-era parquet directory per corpus version — the fixture
    * for [[schemaEvolutionQ]], memoized + tagged + evicted exactly like
    * [[orcPartCopy]]. Era A (even partkeys) was written before the schema
    * gained `p_brand`/`p_type`/`p_size`: its files carry only the three
    * original columns. Era B (odd partkeys) carries the full schema. Both
    * eras land in ONE directory (append), the exact on-disk shape months
    * of ingest leave behind.
    */
  def evolvedPartCopy(s: SparkSession, dir: String): String =
    graft.FixtureStore.obtain("evo", dir, Seq("part"), getClass) { root =>
      import org.apache.spark.sql.functions.col
      val out = s"$root/part_evolved"
      val p = Tables.load(s, dir, "part")
      p.filter(col("p_partkey") % 2 === 0)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      p.filter(col("p_partkey") % 2 === 1)
        .write.mode(SaveMode.Append).parquet(out)
    } + "/part_evolved"

  /** Schema-evolution read under the hash gate — [[readEvolved]] was
    * spec-only (SchemaEvolutionSpec); this registers it: the two-era
    * directory ([[evolvedPartCopy]]) reads through `mergeSchema` + the
    * declared-target conform (era-A rows surface the late columns as
    * NULL, the declared defaults fill them), then a brand×type rollup
    * whose 'UNKNOWN'/'N/A' rows ARE the pre-evolution era. The oracle
    * replays the era split off the original table, so a default applied
    * to the wrong era, a dropped column, or a mis-cast all break the
    * hash. The footer merge is metadata-only; the aggregate is the usual
    * two-phase decimal-exact rollup.
    */
  val schemaEvolutionQ: graft.Q = graft.Q("schema_evolution",
    """WITH v AS (SELECT
      |    CASE WHEN p_partkey % 2 = 1 THEN p_brand ELSE 'UNKNOWN' END AS brand,
      |    CASE WHEN p_partkey % 2 = 1 THEN p_type ELSE 'N/A' END AS ptype,
      |    CASE WHEN p_partkey % 2 = 1 THEN p_size ELSE 0 END AS psize,
      |    p_retailprice
      |  FROM part)
      |SELECT brand, ptype, count(*) AS n,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS retail,
      |  CAST(sum(psize) AS BIGINT) AS size_sum
      |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val evolved = readEvolved(s, evolvedPartCopy(s, dir), Tables.part,
      Map("p_brand" -> "UNKNOWN", "p_type" -> "N/A", "p_size" -> 0))
    evolved.groupBy(col("p_brand").as("brand"), col("p_type").as("ptype"))
      .agg(count(lit(1)).as("n"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("retail"),
        sum(col("p_size").cast("long")).as("size_sum"))
      .orderBy(col("brand"), col("ptype"))
  }

  val all: Seq[graft.Q] =
    Seq(bucketedJoin, orcRoundtrip, variantMixed, raceZoneAgg, dppJoin,
      schemaEvolutionQ)

  /** Schema-evolution read — a long-lived dataset's files span schema
    * versions (columns added over months of ingest); `mergeSchema` unions
    * the per-file parquet footers, then the frame is CONFORMED to the
    * declared target: declared order, declared types (cast), missing
    * columns filled with a declared default (or null) — so every consumer
    * downstream sees one stable schema regardless of which era a row was
    * written in. Column pruning and filter pushdown still reach each
    * file's scan (asserted in SchemaEvolutionSpec); the footer merge is
    * metadata-only.
    */
  def readEvolved(spark: SparkSession, path: String, target: StructType,
      defaults: Map[String, Any] = Map.empty): DataFrame = {
    val raw = spark.read.option("mergeSchema", true).parquet(path)
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val cols = target.fields.map { f =>
      val base = (raw.columns.contains(f.name), defaults.get(f.name)) match {
        // pre-evolution rows surface an existing-in-merged-schema column
        // as NULL — the declared default fills those too, not only the
        // column-absent case
        case (true, Some(d))  => coalesce(col(f.name), lit(d))
        case (true, None)     => col(f.name)
        case (false, d)       => lit(d.orNull)
      }
      base.cast(f.dataType).as(f.name)
    }
    raw.select(cols.toSeq: _*)
  }

  /** Small-files compaction — the table-maintenance pass every long-lived
    * 100 TB dataset needs: streaming/incremental writers leave thousands
    * of KB-scale files whose per-file open/footer cost eventually
    * dominates scans. Rewrite the directory into
    * `ceil(bytes ∕ targetBytes)` files (floored at 1) and report the
    * before/after layout. The rewrite is one distributed pass: a
    * `coalesce` (no shuffle — partitions are concatenated, not
    * repartitioned) unless the caller asks for `shuffle=true` to also
    * re-balance skewed input files. Content is preserved exactly
    * (asserted row-for-row in CompactionSpec).
    */
  final case class CompactReport(
      filesBefore: Int, bytesBefore: Long, filesAfter: Int, bytesAfter: Long)

  def compactParquet(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20, shuffle: Boolean = false): CompactReport = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def layout(): (Int, Long) = {
      val files = fs.listStatus(path).filter { st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")
      }
      (files.length, files.map(_.getLen).sum)
    }
    val (filesBefore, bytesBefore) = layout()
    val n = math.max(1, ((bytesBefore + targetBytes - 1) / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val out = if (shuffle) df.repartition(n) else df.coalesce(n)
    // write beside, swap atomically-enough for a maintenance job: the
    // rename window is the same one every non-transactional table format
    // has (a lakehouse format's metadata swap is the production answer)
    val tmp = new org.apache.hadoop.fs.Path(dir + "._compact_tmp")
    out.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(dir + "._compact_bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    // renames are checked: a silent rename failure here would either lose
    // the dataset (no live dir) or delete the only backup after a failed
    // restore. On swap failure, put the original back and fail loudly.
    if (!fs.rename(path, bak))
      throw new java.io.IOException(s"compactParquet: rename $path -> $bak failed")
    if (!fs.rename(tmp, path)) {
      val restored = fs.rename(bak, path)
      throw new java.io.IOException(
        s"compactParquet: rename $tmp -> $path failed" +
          (if (restored) " (original restored)"
           else s" AND restore failed — data is at $bak"))
    }
    fs.delete(bak, true)
    val (filesAfter, bytesAfter) = layout()
    CompactReport(filesBefore, bytesBefore, filesAfter, bytesAfter)
  }
}
