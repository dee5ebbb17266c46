package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sampling / data-mixing operators over `documents` — how a training
  * pipeline takes reproducible subsets and enforces per-source quotas at
  * 100 TB. Everything is CONTENT-derived (md5) rather than RNG-based: the
  * same rows are selected on any cluster, any partitioning, any run — and
  * the DuckDB oracle replays the identical selection.
  */
object Sampling {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Deterministic ~1/16 sample: keep documents whose content digest starts
    * with '0'. The selection itself is a map-side filter with no RNG state,
    * stable across reruns and resumable pipelines (the property `sample()`
    * lacks); the trailing ORDER BY is presentation-only for the dumped
    * result — drop it when the sample feeds a downstream stage.
    */
  val deterministic: Q = Q("sample_det",
    """SELECT doc_id, lang, source FROM documents
      |WHERE substr(md5(text), 1, 1) = '0'
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .filter(substring(md5(col("text")), 1, 1) === "0")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val StratifiedOracle =
    """SELECT source, doc_id FROM (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY md5(text), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin

  /** Stratified per-source quota (data mixing): at most 5 documents per
    * source, chosen by content digest so the quota is reproducible. NOTE
    * the window form sorts each source's rows inside one task — fine when
    * strata are many and modest; with few huge strata the scalable shape
    * is [[stratifiedAgg]] (same selection, partial top-K aggregation) —
    * both gated on the identical DuckDB oracle, and asserted equal to each
    * other in TypedAggsSpec.
    */
  val stratified: Q = Q("sample_stratified", StratifiedOracle) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(md5(col("text")), col("doc_id"))
    docs(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** The 100 TB form of [[stratified]]: per-stratum quota as a partial
    * top-K aggregation (`graft.functions.TypedAggs.minKByDigest`). The
    * typed buffer never holds more than K (digest, id) pairs, so map-side
    * combine ships AT MOST K rows per stratum per partition into the
    * exchange — a giant stratum costs the same as a small one, where the
    * window form funnels each stratum's full row set through one task's
    * sort. Same selection order (ascending digest, then id), same DuckDB
    * oracle as the window form.
    */
  val stratifiedAgg: Q = Q("sample_stratified_agg", StratifiedOracle) { (s, dir) =>
    import s.implicits._
    docs(s, dir)
      .select(col("source"), md5(col("text")).as("dig"), col("doc_id"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(graft.functions.TypedAggs.minKByDigest(5).toColumn.name("ids"))
      .flatMap { case (src, top) => top.ids.map(src -> _) }
      .toDF("source", "doc_id")
      .orderBy(col("source"), col("doc_id"))
  }

  /** Deterministic train/val/test split (8/4/4 of 16 digest buckets —
    * 50% / 25% / 25%):
    * assignment is a pure map over the content digest's first hex char —
    * no RNG state, no shuffle (the presentation sort is the only
    * exchange), and any engine reproduces the identical split, which is
    * what makes dataset versioning and leakage audits possible at 100 TB.
    * Comparing hex CHARACTERS ('0'-'7' / '8'-'9','a'-'b' / rest) keeps the
    * rule engine-portable without hex→int casts.
    */
  val split: Q = Q("sample_split",
    """SELECT doc_id, source,
      |  CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND '7' THEN 'train'
      |       WHEN substr(md5(text), 1, 1) BETWEEN '8' AND 'b' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val h = substring(md5(col("text")), 1, 1)
    docs(s, dir).select(col("doc_id"), col("source"),
        when(h.between("0", "7"), "train")
          .when(h.between("8", "b"), "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/val/test split: the [[split]] rule applied at the
    * NEAR-DUP-CLUSTER level instead of per document — every member of a
    * cluster inherits the split of the cluster's canonical document, so a
    * near-duplicate of a training document can never land in the test set
    * (the contamination vector plain per-doc splitting leaves open; eval
    * decontamination work exists precisely because naive splits leak).
    *
    * Shape: cluster labels come from the SAME memoized pointer-jumping
    * component search [[Dedup.clusters]] runs (one iterative search per
    * session/dir, reused here), the canonical digest is computed BEFORE the
    * join so the equi-join back ships one hex char per cluster rather than
    * document text, and the split rule itself is the engine-portable
    * hex-character comparison of [[split]].
    */
  val splitSafe: Q = Q("split_leakage_safe",
    s"""WITH RECURSIVE ${Dedup.clustersSql},
      |canon AS (SELECT doc_id AS cluster_id, substr(md5(text), 1, 1) AS h
      |  FROM documents)
      |SELECT a.doc_id, a.cluster_id,
      |  CASE WHEN h BETWEEN '0' AND '7' THEN 'train'
      |       WHEN h BETWEEN '8' AND 'b' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM asg a JOIN canon c USING (cluster_id)
      |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val asg = d.select(col("doc_id"))
      .join(Dedup.componentLabels(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val canon = d.select(col("doc_id").as("cluster_id"),
      substring(md5(col("text")), 1, 1).as("h"))
    asg.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("h").between("0", "7"), "train")
          .when(col("h").between("8", "b"), "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Approximate distinct/percentile aggregates — the sketches that replace
    * exact DISTINCT/median at 100 TB (HyperLogLog++ / KLL both merge
    * associatively, so partial aggregation works map-side). The registered
    * query runs SKETCHES ONLY: the plan it demonstrates (and the bench
    * measures) is the scale path, with no exact `count(DISTINCT text)`
    * expand-shuffle or exact-percentile sort riding along — those were the
    * very costs the sketches exist to avoid, and an earlier version of this
    * query paid them inside the benchmarked plan to compute its verdicts.
    *
    * Sketch internals are engine-specific, so the emitted verdicts gate
    * only invariants that hold by construction (DuckDB replays them as
    * literal TRUE): `median_sane` because `percentile_approx` returns an
    * actual element of the group, so it is within [min, max] with
    * certainty; `distinct_sane` because an HLL++ estimate at rsd 0.02 of a
    * cardinality ≤ n cannot plausibly exceed 4n — a value outside the band
    * means a broken sketch, not sampling noise. The TIGHT accuracy
    * contract (±10% of exact distinct, median within max(2, 5%) of exact)
    * is asserted in SamplingSpec, where the exact answers are computed
    * test-side instead of inside the benchmarked plan.
    */
  val approx: Q = Q("approx_stats",
    """SELECT lang, count(*) AS n,
      |  TRUE AS distinct_sane, TRUE AS median_sane
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("text"), 0.02).as("ad"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("am"),
        min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))
      .select(col("lang"), col("n"),
        col("ad").between(lit(0L), col("n") * 4).as("distinct_sane"),
        col("am").between(col("mn"), col("mx")).as("median_sane"))
      .orderBy(col("lang"))
  }

  private val TempTargetDocs = 100L

  /** Temperature-based source mixing — the multinomial resampling every
    * multi-source training mix runs (UnifiedQA/XLM-R style: sampling
    * sources proportional to `count^α` with α < 1 upweights small sources
    * so the head domains don't drown the tail). α = 0.5 here: per-source
    * quotas ∝ √count, normalized to [[TempTargetDocs]] total, members
    * chosen by content digest so the mix is reproducible.
    *
    * Cross-engine determinism: √count is IEEE-correctly-rounded on both
    * engines (unlike `pow(n, 0.7)`, whose libm last bits can differ — the
    * reason α is 0.5 and not something fancier), and it is immediately
    * quantized to an integer weight (×10⁶, floored) so the normalizing
    * sum and the quota division are EXACT integer arithmetic the oracle
    * replays bit-for-bit. Every source keeps at least 1 doc.
    *
    * Scale shape: the per-source counts + weights are a tiny aggregate
    * (|sources| rows) broadcast back onto the scan; selection is the same
    * digest-ranked window as [[stratified]] — with few huge strata, swap
    * in the [[stratifiedAgg]] partial top-K form (the quota becomes the
    * aggregator's k; same selection, same oracle).
    */
  val temperature: Q = Q("sample_temperature",
    s"""WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
       |wt AS (SELECT source, n,
       |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
       |  FROM cnt),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM wt),
       |quota AS (SELECT source,
       |    greatest(1, ($TempTargetDocs * w) // sw) AS q
       |  FROM wt, tot),
       |ranked AS (SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY md5(text), doc_id) AS rn
       |  FROM documents)
       |SELECT r.source, r.doc_id FROM ranked r JOIN quota USING (source)
       |WHERE r.rn <= quota.q ORDER BY r.source, r.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val wt = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w",
        floor(sqrt(col("n").cast("double")) * 1000000).cast("long"))
    // |sources| rows: the normalizing sum is a 1-row cross join, the
    // quota frame broadcasts onto the ranked scan
    val quota = wt.crossJoin(broadcast(wt.agg(sum(col("w")).as("sw"))))
      .select(col("source"),
        greatest(lit(1L), expr(s"($TempTargetDocs * w) div sw")).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(md5(col("text")), col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .join(broadcast(quota), Seq("source"))
      .filter(col("rn") <= col("q"))
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Sequence-packing geometry. The shard-prefix length bounds the window
    * parallelism (16^chars shards); 2 hex chars = 256 shards covers the
    * test SFs, and at 100 TB you raise it so a shard's documents fit one
    * task's sort (chars ≈ log₁₆(corpus_tokens / target_shard_tokens) — the
    * knob is env-shared with the oracle like the LSH geometry, so the gate
    * holds at any setting).
    */
  private val PackShardChars: Int =
    graft.functions.LshPlanes.envInt("GRAFT_PACK_SHARD_CHARS", 2, 1, 8)
  private val PackBudget: Int =
    graft.functions.LshPlanes.envInt("GRAFT_PACK_BUDGET", 2048, 16, 1 << 24)

  /** Sequence packing — the concat-and-chunk step that turns a document
    * corpus into fixed-token-budget training sequences (GPT-style
    * pretraining packs by concatenating documents in a deterministic order
    * and slicing every [[PackBudget]] tokens; a document may straddle a
    * boundary, so what the pipeline needs is the PLACEMENT MAP: which pack
    * each document starts in and at what offset — reconstruction is
    * `ORDER BY (shard, off)`).
    *
    * Order is content-derived, not positional: documents shard by digest
    * prefix and concatenate in (digest, doc_id) order within the shard, so
    * placement is reproducible on any cluster and any partitioning, and
    * adjacent-in-source near-duplicates scatter instead of landing in one
    * pack (the same shuffle-the-corpus property RNG packing buys, without
    * RNG state). Token counts are the BPE-ish pre-tokenization of
    * `text_tokens`.
    *
    * Scale shape: one window per shard — the only shuffle keys on the
    * digest prefix, and the running sum is a single pass per shard. No
    * global order exists anywhere (a single ORDER BY over the corpus would
    * funnel 100 TB through one range sampler); total parallelism is the
    * shard count, raised via GRAFT_PACK_SHARD_CHARS as the corpus grows.
    */
  val pack: Q = Q("pack_sequences",
    s"""WITH t AS (SELECT doc_id, md5(text) AS dig,
      |    CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS tok
      |  FROM documents),
      |o AS (SELECT doc_id, substr(dig, 1, $PackShardChars) AS shard, tok,
      |    coalesce(sum(tok) OVER (PARTITION BY substr(dig, 1, $PackShardChars)
      |      ORDER BY dig, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t)
      |SELECT doc_id, shard,
      |  CAST(off // $PackBudget AS BIGINT) AS pack,
      |  CAST(off % $PackBudget AS BIGINT) AS off_in_pack, tok
      |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("dig"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs(s, dir)
      .select(col("doc_id"), md5(col("text")).as("dig"),
        // native single-pass token count (round 18) — the regex engine
        // was the scan's dominant per-row cost; parity property-asserted
        // in TextKernelsSpec, oracle keeps the regex replay
        call_function("bpe_token_count", col("text")).as("tok"))
      .withColumn("shard", substring(col("dig"), 1, PackShardChars))
      .withColumn("off", coalesce(sum(col("tok")).over(w), lit(0L)))
      // off ≥ 0, so truncating `div`/`%` equal floor semantics on both engines
      .select(col("doc_id"), col("shard"),
        expr(s"off div $PackBudget").as("pack"),
        (col("off") % PackBudget).as("off_in_pack"), col("tok"))
      .orderBy(col("doc_id"))
  }

  /** Length-quantile binning — the batch-shaping pass that groups documents
    * of similar length so padding waste stays bounded (bucketed batching):
    * per-language quartile boundaries, then a map-side bucket assignment.
    *
    * Boundaries use percentile_disc semantics — the smallest VALUE whose
    * cumulative count reaches rank ⌈q·n⌉ — with the rank as exact integer
    * arithmetic (`(k·n + 3) div 4`): the boundary is an element of the
    * data and both engines select it with zero float decisions. Docs at a
    * boundary bin low.
    *
    * Scale shape — exact quantiles WITHOUT sorting the corpus: quantiles
    * come off the per-language length HISTOGRAM (a two-phase (lang,
    * n_chars) count with map-side combine — the corpus never re-sorts),
    * and the only window runs over distinct length VALUES per language —
    * bounded by the length domain, not the corpus (a per-lang
    * `row_number()` over documents would sort a language's entire corpus
    * slice in one task). The boundary frame is K languages × 3 values —
    * broadcast, so assignment adds no shuffle.
    */
  val lengthBuckets: Q = Q("length_buckets",
    """WITH h AS (SELECT lang, n_chars, count(*) AS c
      |  FROM documents GROUP BY lang, n_chars),
      |cum AS (SELECT lang, n_chars,
      |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
      |    sum(c) OVER (PARTITION BY lang) AS cnt
      |  FROM h),
      |b AS (SELECT lang,
      |    min(CASE WHEN cum >= (cnt + 3) // 4 THEN n_chars END) AS b1,
      |    min(CASE WHEN cum >= (2 * cnt + 3) // 4 THEN n_chars END) AS b2,
      |    min(CASE WHEN cum >= (3 * cnt + 3) // 4 THEN n_chars END) AS b3
      |  FROM cum GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  CASE WHEN d.n_chars <= b.b1 THEN 0 WHEN d.n_chars <= b.b2 THEN 1
      |       WHEN d.n_chars <= b.b3 THEN 2 ELSE 3 END AS bucket
      |FROM documents d JOIN b USING (lang)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val cum = docs(s, dir)
      .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("cnt", sum(col("c")).over(wAll))
    def boundary(k: Int): Column =
      min(when(col("cum") >= expr(s"($k * cnt + 3) div 4"), col("n_chars")))
    val bounds = cum.groupBy(col("lang"))
      .agg(boundary(1).as("b1"), boundary(2).as("b2"), boundary(3).as("b3"))
    docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("n_chars") <= col("b1"), 0)
          .when(col("n_chars") <= col("b2"), 1)
          .when(col("n_chars") <= col("b3"), 2)
          .otherwise(3))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Snapshot merge — the corpus-refresh upsert every recurring pipeline
    * runs (`MERGE INTO` in Delta/Iceberg terms): full-outer join the
    * current corpus against the next snapshot on the document key and
    * classify every key as insert / update / delete / noop. At 100 TB
    * this is a sort-merge full-outer join on the key — one shuffle per
    * side, no broadcast (both sides are corpus-sized), which is exactly
    * the plan Spark picks here.
    *
    * The "next snapshot" is synthesized deterministically from the corpus
    * itself so the oracle replays it bit-for-bit (content-digest rules:
    * '0'-prefix docs arrive revised, 'f'-prefix docs are gone, '1'-prefix
    * docs also reappear under new ids — `-(doc_id + 1)`, a namespace
    * disjoint from any non-negative id space, so the fixture stays an
    * upsert at ANY corpus size): the SYNTHESIS is test harness — the
    * operator under test is the join + classification.
    */
  val snapshotMerge: Q = Q("snapshot_merge",
    """WITH a AS (SELECT doc_id, text FROM documents),
      |b AS (
      |  SELECT doc_id, text || ' [rev2]' AS text FROM documents
      |    WHERE substr(md5(text), 1, 1) = '0'
      |  UNION ALL SELECT doc_id, text FROM documents
      |    WHERE substr(md5(text), 1, 1) NOT IN ('0', 'f')
      |  UNION ALL SELECT -(doc_id + 1), text FROM documents
      |    WHERE substr(md5(text), 1, 1) = '1'),
      |m AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN a.doc_id IS NULL THEN 'insert'
      |         WHEN b.doc_id IS NULL THEN 'delete'
      |         WHEN a.text != b.text THEN 'update' ELSE 'noop' END AS action
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT doc_id, action FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = docs(s, dir)
    val pre = substring(md5(col("text")), 1, 1)
    val a = base.select(col("doc_id"), col("text"))
    val b = base.filter(pre === "0")
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
      .unionByName(base.filter(!pre.isin("0", "f"))
        .select(col("doc_id"), col("text")))
      .unionByName(base.filter(pre === "1")
        .select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
    a.as("a").join(b.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
      .select(coalesce(col("a.doc_id"), col("b.doc_id")).as("doc_id"),
        when(col("a.doc_id").isNull, "insert")
          .when(col("b.doc_id").isNull, "delete")
          .when(col("a.text") =!= col("b.text"), "update")
          .otherwise("noop").as("action"))
      .orderBy(col("doc_id"))
  }

  /** CDC changelog apply — the other half of corpus refresh next to
    * [[snapshotMerge]]: instead of diffing two full snapshots, compact a
    * keyed stream of INSERT/UPDATE/DELETE events (each with a monotone
    * sequence number) into the final table state — latest-wins per key,
    * DELETE tombstones drop the key unless a later event resurrects it.
    * This is the Debezium/Delta-CDF apply shape.
    *
    * Scale shape: ONE keyed aggregation — `max_by(payload, seq)` combines
    * map-side (each partition keeps one candidate per key), so the
    * exchange carries ≤ |keys| partial rows, not the changelog. No window
    * over the full log (a row_number-latest plan would shuffle and sort
    * every event); no join. Tombstone filtering happens after compaction
    * on the |keys|-sized frame.
    *
    * The changelog is synthesized deterministically from the corpus
    * (digest rules, like [[snapshotMerge]]'s snapshot): every doc arrives
    * as seq-1 INSERT; '0'-digest docs get a seq-2 UPDATE, 'f'-digest docs
    * a seq-2 DELETE; docs whose SECOND digest char is '1' get a seq-3
    * UPDATE — which can resurrect a seq-2-deleted key, pinning the
    * tombstone-then-reinsert semantics. DELETE payloads use '' (not
    * NULL): Spark's and DuckDB's max_by both skip NULL payloads, which
    * would silently resurrect the previous version's text.
    */
  val cdcApply: Q = Q("cdc_apply",
    """WITH src AS (SELECT doc_id, text, substr(md5(text), 1, 1) AS p1,
      |    substr(md5(text), 2, 1) AS p2 FROM documents),
      |log AS (
      |  SELECT doc_id, 1 AS seq, 'I' AS op, text FROM src
      |  UNION ALL SELECT doc_id, 2, 'U', text || ' [rev2]' FROM src WHERE p1 = '0'
      |  UNION ALL SELECT doc_id, 2, 'D', '' FROM src WHERE p1 = 'f'
      |  UNION ALL SELECT doc_id, 3, 'U', text || ' [rev3]' FROM src WHERE p2 = '1'),
      |c AS (SELECT doc_id, max_by(op, seq) AS op, max_by(text, seq) AS text,
      |    count(*) AS n_versions, max(seq) AS last_seq
      |  FROM log GROUP BY doc_id)
      |SELECT doc_id, CAST(n_versions AS BIGINT) AS n_versions,
      |  CAST(last_seq AS BIGINT) AS last_seq,
      |  CAST(length(text) AS BIGINT) AS final_len
      |FROM c WHERE op != 'D' ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val src = docs(s, dir)
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("p1"),
        substring(md5(col("text")), 2, 1).as("p2"))
    def ev(f: DataFrame => DataFrame, seq: Int, op: String, txt: Column) =
      f(src).select(col("doc_id"), lit(seq).as("seq"), lit(op).as("op"),
        txt.as("text"))
    val log = ev(identity, 1, "I", col("text"))
      .unionByName(ev(_.filter(col("p1") === "0"), 2, "U",
        concat(col("text"), lit(" [rev2]"))))
      .unionByName(ev(_.filter(col("p1") === "f"), 2, "D", lit("")))
      .unionByName(ev(_.filter(col("p2") === "1"), 3, "U",
        concat(col("text"), lit(" [rev3]"))))
    compactChangelog(log)
      .select(col("doc_id"), col("n_versions"),
        col("last_seq").cast("long").as("last_seq"),
        length(col("text")).cast("long").as("final_len"))
      .orderBy(col("doc_id"))
  }

  /** [[cdcApply]]'s compaction over any (doc_id, seq, op, text) changelog:
    * latest-wins per key, DELETE tombstones dropped after compaction.
    * Separated so specs can pin the tombstone/resurrect semantics on
    * constructed logs. One map-side-combining keyed aggregation — see
    * [[cdcApply]] for the scale argument.
    */
  def compactChangelog(log: DataFrame): DataFrame =
    log.groupBy(col("doc_id"))
      .agg(max_by(col("op"), col("seq")).as("op"),
        max_by(col("text"), col("seq")).as("text"),
        count(lit(1)).as("n_versions"), max(col("seq")).as("last_seq"))
      .filter(col("op") =!= "D")

  private val DayNanos = 86400L * 1000000000L

  /** Adds the [[distinctSketch]] hash columns (`bucket`, `rho`) to any
    * frame with a `user_id` column — shared by the batch sketch and its
    * streaming twin ([[graft.streaming.EventsStream.sketchStream]]) so
    * the register arithmetic cannot drift between the two. See
    * [[distinctSketch]] for the cross-engine determinism argument.
    */
  private[graft] def withSketchRho(events: DataFrame): DataFrame =
    events
      .withColumn("h", expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("bucket", expr("h % 64"))
      .withColumn("rho", expr(
        """CASE WHEN h div 64 = 0 THEN 43L
          |ELSE CAST(log2((h div 64) & -(h div 64)) AS BIGINT) + 1L END"""
          .stripMargin))

  /** Mergeable distinct-count sketch (HLL-register shape) maintained at
    * DAY grain and folded to a total — the incremental COUNT DISTINCT
    * primitive [[cdcApply]]/`incr_agg_merge` lack: plain distinct counts
    * don't merge across snapshots (yesterday's count + today's count
    * overcounts returners), but max-merged rho registers do, exactly —
    * a new day folds into the running total with one 64-row max, no
    * rescan of history. That algebraic identity (per-day max of maxes ≡
    * global max) is what the gate pins: the output's register statistics
    * come from the DAY-partial merge path, and the oracle replays the
    * identical construction, so any drift in hash, bucketing, register
    * width, or merge grain breaks the hash match.
    *
    * Cross-engine determinism, no floats: the hash is the first 12 hex
    * chars of md5(user_id) — the engine's standard replayable-randomness
    * source (the LSH tensor idiom) — parsed to a 48-bit int in both
    * engines; rho is the trailing-zero count of the post-bucket bits via
    * the `x & -x` lowbit (log2 of a power of two is float-exact), and
    * the Σ2^-r indicator is fixed-point (2³⁰ scale, floor division), so
    * every output cell is an exact BIGINT. The exact per-type distinct
    * rides along as the fidelity reference (a production pipeline ships
    * only the 64 registers per grain — constant state per snapshot).
    *
    * Scale shape: one scan; map-side partial max collapses the shuffle
    * to ≤ |types|·|days|·64 register rows; everything after is
    * register-domain-sized. (The count(DISTINCT) reference column is the
    * gate's luxury, not the sketch's cost.)
    */
  val distinctSketch: Q = Q("distinct_sketch",
    s"""WITH e AS (SELECT event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $DayNanos + $DayNanos) % $DayNanos)) // $DayNanos AS day,
      |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h,
      |    user_id
      |  FROM events),
      |x AS (SELECT event_type, day, h % 64 AS bucket, h // 64 AS rest FROM e),
      |rho AS (SELECT event_type, day, bucket,
      |    CASE WHEN rest = 0 THEN 43
      |         ELSE CAST(log2(rest & (-rest)) AS BIGINT) + 1 END AS rho
      |  FROM x),
      |daily AS (SELECT event_type, day, bucket, max(rho) AS r
      |  FROM rho GROUP BY 1, 2, 3),
      |merged AS (SELECT event_type, bucket, max(r) AS r
      |  FROM daily GROUP BY 1, 2),
      |stats AS (SELECT event_type, count(*) AS occupied,
      |    CAST(sum(r) AS BIGINT) AS sum_reg,
      |    CAST(sum(1073741824 // (CAST(1 AS BIGINT) << r)) AS BIGINT) AS fp_occ
      |  FROM merged GROUP BY 1),
      |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
      |    count(DISTINCT day) AS n_days FROM e GROUP BY 1)
      |SELECT s.event_type, CAST(ex.n_days AS BIGINT) AS n_days,
      |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
      |  CAST(s.occupied AS BIGINT) AS occupied, s.sum_reg,
      |  CAST(s.fp_occ + (64 - s.occupied) * 1073741824 AS BIGINT) AS inv_sum_fp
      |FROM stats s JOIN ex USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = withSketchRho(Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L").as("day"),
        col("user_id")))
    val rho = e
    val daily = rho.groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    val merged = daily.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("r")).as("r"))
    val stats = merged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("occupied"),
        sum(col("r")).as("sum_reg"),
        sum(expr("1073741824L div shiftleft(1L, CAST(r AS INT))")).as("fp_occ"))
    val ex = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"),
        countDistinct(col("day")).as("n_days"))
    // (bucket/rho columns ride along in e; ex ignores them)
    stats.join(ex, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("exact_distinct"),
        col("occupied"), col("sum_reg"),
        (col("fp_occ") + (lit(64L) - col("occupied")) * 1073741824L)
          .as("inv_sum_fp"))
      .orderBy(col("event_type"))
  }

  /** Adds the [[quantileSketch]] register columns (`v` cents, `bucket`)
    * to any frame with a `value` column — shared by the batch sketch and
    * its streaming twin ([[graft.streaming.EventsStream.quantStream]]) so
    * the bucket arithmetic cannot drift between the two.
    *
    * Geometry: log₂ octaves split into 8 linear sub-buckets (DDSketch /
    * HdrHistogram shape, ~9% relative error), all INTEGER: cents via the
    * DECIMAL(18,2) trick, the octave via `length(bin(v)) - 1` (both
    * engines print unpadded binary — no float log near power-of-two
    * boundaries), the sub-bucket via `(v - 2^e)·8 div 2^e`. A 64-bit
    * value occupies ≤ 8·63 buckets, so registers per grain are
    * fixed-size at any corpus.
    */
  private[graft] def withQuantBucket(df: DataFrame): DataFrame =
    df.withColumn("v", expr(
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .withColumn("qe", expr("length(bin(v)) - 1"))
      .withColumn("bucket", expr(
        """CASE WHEN v < 1 THEN 0 ELSE 8 * qe
          |  + ((v - shiftleft(CAST(1 AS BIGINT), qe)) * 8)
          |    div shiftleft(CAST(1 AS BIGINT), qe) END""".stripMargin))
      .drop("qe")

  /** Mergeable QUANTILE sketch maintained at DAY grain and folded to a
    * total — the percentile complement of [[distinctSketch]]: plain
    * percentiles don't merge across snapshots (yesterday's p99 and
    * today's p99 say nothing about the union), but fixed-size log-bucket
    * COUNT registers merge exactly (sum per bucket), so a new day folds
    * into the running total with one register-domain add — no rescan of
    * history. The consumer is watermark/latency sizing (`events_lateness`
    * wants "p99 over the whole history so far" nightly without re-reading
    * the corpus).
    *
    * What the gate pins: the output's register statistics come from the
    * DAY-partial merge path (`day_registers` counts the per-day register
    * rows, so the grain itself is observable), and the oracle replays the
    * identical construction — any drift in cents conversion, octave
    * arithmetic, sub-bucketing, or merge grain breaks the hash. Rank
    * positions reuse [[graft.operators.Analytics.winsorize]]'s pure
    * integer `(n−1)·q ∕∕ 100 + 1` so both engines pick the identical
    * register; the exact per-type percentiles ride along as the fidelity
    * reference via the distinct-VALUE histogram idiom (a bounded domain —
    * the windows walk |value domain| rows, never the corpus).
    *
    * Scale shape: one scan; map-side partial counts collapse the shuffle
    * to ≤ |types|·|days|·512 register rows; everything after is
    * register-domain-sized. (The exact-percentile reference columns are
    * the gate's luxury, not the sketch's cost — a production pipeline
    * ships only the registers per grain.)
    */
  val quantileSketch: Q = Q("quantile_sketch",
    s"""WITH e AS (SELECT event_type,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $DayNanos + $DayNanos) % $DayNanos)) // $DayNanos AS day,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |b AS (SELECT event_type, day, v,
      |    CASE WHEN v < 1 THEN 0 ELSE 8 * (length(bin(v)) - 1)
      |      + ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) * 8)
      |        // (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) END AS bucket
      |  FROM e),
      |daily AS (SELECT event_type, day, bucket, count(*) AS c
      |  FROM b GROUP BY 1, 2, 3),
      |merged AS (SELECT event_type, bucket, CAST(sum(c) AS BIGINT) AS c
      |  FROM daily GROUP BY 1, 2),
      |cum AS (SELECT event_type, bucket, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n FROM merged),
      |lo AS (SELECT event_type, cum, n,
      |    CASE WHEN bucket = 0 THEN 0
      |         ELSE (CAST(1 AS BIGINT) << (bucket // 8))
      |           + ((bucket % 8) * (CAST(1 AS BIGINT) << (bucket // 8))) // 8
      |    END AS blo
      |  FROM cum),
      |sq AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
      |    CAST(min(CASE WHEN cum >= (n-1) * 50 // 100 + 1 THEN blo END) AS BIGINT) AS p50_lo,
      |    CAST(min(CASE WHEN cum >= (n-1) * 90 // 100 + 1 THEN blo END) AS BIGINT) AS p90_lo,
      |    CAST(min(CASE WHEN cum >= (n-1) * 99 // 100 + 1 THEN blo END) AS BIGINT) AS p99_lo
      |  FROM lo GROUP BY 1),
      |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS occupied,
      |    CAST(sum(bucket * c) AS BIGINT) AS reg_checksum FROM merged GROUP BY 1),
      |dr AS (SELECT event_type, CAST(count(*) AS BIGINT) AS day_registers,
      |    CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM daily GROUP BY 1),
      |vh AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
      |vc AS (SELECT event_type, v,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n FROM vh),
      |ex AS (SELECT event_type,
      |    CAST(min(CASE WHEN cum >= (n-1) * 50 // 100 + 1 THEN v END) AS BIGINT) AS p50_exact,
      |    CAST(min(CASE WHEN cum >= (n-1) * 90 // 100 + 1 THEN v END) AS BIGINT) AS p90_exact,
      |    CAST(min(CASE WHEN cum >= (n-1) * 99 // 100 + 1 THEN v END) AS BIGINT) AS p99_exact
      |  FROM vc GROUP BY 1)
      |SELECT sq.event_type AS event_type, n_events, n_days, day_registers,
      |  occupied, reg_checksum, p50_lo, p90_lo, p99_lo,
      |  p50_exact, p90_exact, p99_exact
      |FROM sq JOIN st USING (event_type) JOIN dr USING (event_type)
      |  JOIN ex USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // persisted: the bucketed frame feeds the day partials AND the exact
    // value histogram — the only corpus-sized pass happens once
    val e = graft.Scratch.track(withQuantBucket(
      Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L").as("day"),
          col("value"))))
    val daily = e.groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val merged = daily.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    val byType = Window.partitionBy(col("event_type"))
    // register-domain window: ≤ 512 rows per type by construction
    val cum = merged
      .withColumn("cum", sum(col("c")).over(byType.orderBy(col("bucket"))))
      .withColumn("n", sum(col("c")).over(byType))
      .withColumn("blo", expr(
        """CASE WHEN bucket = 0 THEN 0L
          |ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket div 8 AS INT))
          |  + ((bucket % 8) * shiftleft(CAST(1 AS BIGINT), CAST(bucket div 8 AS INT))) div 8
          |END""".stripMargin))
    val sq = cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        min(when(col("cum") >= expr("(n-1) * 50 div 100 + 1"), col("blo"))).as("p50_lo"),
        min(when(col("cum") >= expr("(n-1) * 90 div 100 + 1"), col("blo"))).as("p90_lo"),
        min(when(col("cum") >= expr("(n-1) * 99 div 100 + 1"), col("blo"))).as("p99_lo"))
    val st = merged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("occupied"),
        sum(col("bucket") * col("c")).as("reg_checksum"))
    val dr = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("day_registers"),
        countDistinct(col("day")).as("n_days"))
    // exact reference: distinct-VALUE histogram (bounded 2-decimal domain)
    val vc = e.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(byType.orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(byType))
    val ex = vc.groupBy(col("event_type"))
      .agg(
        min(when(col("cum") >= expr("(n-1) * 50 div 100 + 1"), col("v"))).as("p50_exact"),
        min(when(col("cum") >= expr("(n-1) * 90 div 100 + 1"), col("v"))).as("p90_exact"),
        min(when(col("cum") >= expr("(n-1) * 99 div 100 + 1"), col("v"))).as("p99_exact"))
    sq.join(st, Seq("event_type")).join(dr, Seq("event_type"))
      .join(ex, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_days"),
        col("day_registers"), col("occupied"), col("reg_checksum"),
        col("p50_lo"), col("p90_lo"), col("p99_lo"),
        col("p50_exact"), col("p90_exact"), col("p99_exact"))
      .orderBy(col("event_type"))
  }

  /** Count-min geometry for [[cmsSketch]]: 4 independent hash rows × 256
    * buckets. Expected overcount per cell ≈ n/256 per row; the min over 4
    * rows drives the realized error far below that. 1024 integer cells
    * per grain — constant state at any corpus size.
    */
  private[operators] val CmsRows = 4
  private[operators] val CmsW = 256

  /** The replayable row-salted CMS bucket hash, shared verbatim by both
    * engines: first 12 hex chars of md5(row '#' user) mod [[CmsW]]. */
  private[operators] def cmsBucketSqlDuck(r: String, u: String): String =
    s"CAST(concat('0x', substr(md5(CAST($r AS VARCHAR) || '#' || " +
      s"CAST($u AS VARCHAR)), 1, 12)) AS BIGINT) % $CmsW"
  private[operators] def cmsBucketSpark(r: String, u: String): String =
    s"CAST(conv(substr(md5(concat(CAST($r AS STRING), '#', " +
      s"CAST($u AS STRING))), 1, 12), 16, 10) AS BIGINT) % $CmsW"

  /** Explodes each row into its [[CmsRows]] (r, bucket) CMS cells for
    * `user_id` — the ONE rendering of the sketch geometry shared by the
    * batch gate and [[graft.streaming.EventsStream.cmsStream]], so the
    * two cannot drift. */
  private[graft] def withCmsCells(df: DataFrame): DataFrame =
    df.withColumn("r", explode(expr(s"sequence(0, ${CmsRows - 1})")))
      .withColumn("bucket", expr(cmsBucketSpark("r", "user_id")))

  /** Mergeable COUNT-MIN sketch maintained at DAY grain — the frequency
    * complement of [[distinctSketch]] (how many distinct?) and
    * [[quantileSketch]] (how are values distributed?): how OFTEN does a
    * key occur, answerable for any key from fixed-size state. Plain
    * per-key counts are data-sized state; the CMS is [[CmsRows]]·[[CmsW]]
    * integer cells per grain, point-queried as minᵣ cell[r, hᵣ(key)], and
    * day partials sum-merge into the running total exactly (per-cell sum
    * of counts ≡ count over the union) — a new day folds in with one
    * 1024-cell add, no rescan of history. Estimates never undershoot
    * (every cell ≥ the key's true count); the per-probe `overcount`
    * column exposes realized collision error, and the exact per-user
    * counts ride along as the gate's fidelity reference.
    *
    * vs [[graft.operators.TextAnalysis]]'s Misra–Gries heavy hitters: MG
    * answers "which keys are frequent" but forgets everything below the
    * threshold and does not point-query; the CMS answers "how frequent is
    * THIS key" for every key, mergeable at any grain — the two are the
    * standard complementary pair of frequency sketches.
    *
    * What the gate pins: `day_registers` counts the per-day cell rows, so
    * the output provably came from the DAY-partial merge path (the
    * [[quantileSketch]] grain-observability convention); the oracle
    * replays hash, geometry, merge, and point query cell for cell.
    *
    * Scale shape: the explode multiplies map-side rows ×[[CmsRows]], but
    * the partial aggregate collapses them before the exchange — the wire
    * carries ≤ |days|·1024 register rows, everything downstream is
    * register-domain-sized. The probe top-10 uses TakeOrderedAndProject
    * over the exact counts (the fidelity reference — the gate's luxury,
    * not the sketch's cost; a production point-query never touches it).
    */
  val cmsSketch: Q = Q("sketch_cms",
    s"""WITH e AS (SELECT user_id,
      |    (epoch_ns(ts) - ((epoch_ns(ts) % $DayNanos + $DayNanos) % $DayNanos)) // $DayNanos AS day
      |  FROM events),
      |rr AS (SELECT unnest(range($CmsRows)) AS r),
      |cells AS (SELECT day, rr.r AS r,
      |    ${cmsBucketSqlDuck("rr.r", "user_id")} AS bucket
      |  FROM e, rr),
      |daily AS (SELECT day, r, bucket, count(*) AS c
      |  FROM cells GROUP BY 1, 2, 3),
      |merged AS (SELECT r, bucket, CAST(sum(c) AS BIGINT) AS c
      |  FROM daily GROUP BY 1, 2),
      |exact AS (SELECT user_id, count(*) AS cnt FROM e GROUP BY 1),
      |probes AS (SELECT user_id, cnt FROM exact
      |  ORDER BY cnt DESC, user_id LIMIT 10),
      |pc AS (SELECT p.user_id, p.cnt, rr.r AS r,
      |    ${cmsBucketSqlDuck("rr.r", "p.user_id")} AS bucket
      |  FROM probes p, rr),
      |est AS (SELECT pc.user_id, pc.cnt,
      |    min(coalesce(m.c, 0)) AS est
      |  FROM pc LEFT JOIN merged m ON m.r = pc.r AND m.bucket = pc.bucket
      |  GROUP BY 1, 2),
      |dr AS (SELECT CAST(count(*) AS BIGINT) AS day_registers,
      |    CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM daily),
      |oc AS (SELECT CAST(count(*) AS BIGINT) AS occupied FROM merged)
      |SELECT CAST(row_number() OVER (ORDER BY e.cnt DESC, e.user_id) AS BIGINT) AS rank,
      |  CAST(e.user_id AS BIGINT) AS user_id, CAST(e.cnt AS BIGINT) AS exact_cnt,
      |  CAST(e.est AS BIGINT) AS est_cnt,
      |  CAST(e.est - e.cnt AS BIGINT) AS overcount,
      |  day_registers, n_days, occupied
      |FROM est e, dr, oc ORDER BY rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    // (day, user) COLLAPSE before anything else — the basket_pairs
    // multiplicity lever: the corpus pays ONE keyed aggregate (10M rows →
    // ~|days|·|users|, the user domain is dimension-sized), and the
    // CmsRows explode + register partials + exact counts all run on the
    // collapsed frame with `dc` weights. count ≡ Σ multiplicities at
    // every downstream grain, so the oracle (which replays the
    // row-per-event form) hashes identically. Previously the explode
    // multiplied the CORPUS ×CmsRows into the register aggregate
    // (×100: 40M probe rows) and the exact counts re-aggregated the
    // corpus a second time.
    val du = graft.Scratch.track(Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr(s"(ts - pmod(ts, ${DayNanos}L)) div ${DayNanos}L").as("day"))
      .groupBy(col("day"), col("user_id")).agg(count(lit(1)).as("dc")))
    val cells = withCmsCells(du)
    val daily = cells.groupBy(col("day"), col("r"), col("bucket"))
      .agg(sum(col("dc")).as("c"))
    val merged = daily.groupBy(col("r"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    val exact = du.groupBy(col("user_id")).agg(sum(col("dc")).as("cnt"))
    // top-10 probes via TakeOrderedAndProject — no data-sized window
    val probes = exact.orderBy(col("cnt").desc, col("user_id")).limit(10)
    val pc = withCmsCells(probes.select(col("user_id"), col("cnt")))
    val est = pc.join(broadcast(merged), Seq("r", "bucket"), "left")
      .groupBy(col("user_id"), col("cnt"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
    val dr = daily.agg(count(lit(1)).as("day_registers"),
      countDistinct(col("day")).as("n_days"))
    val oc = merged.agg(count(lit(1)).as("occupied"))
    // 10-row frame: the unpartitioned rank window is probe-bounded
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("user_id"))
    est.crossJoin(broadcast(dr)).crossJoin(broadcast(oc))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("user_id").cast("long").as("user_id"),
        col("cnt").as("exact_cnt"), col("est").as("est_cnt"),
        (col("est") - col("cnt")).as("overcount"),
        col("day_registers"), col("n_days"), col("occupied"))
      .orderBy(col("rank"))
  }

  /** Temporal holdout split — the leakage rule [[splitSafe]]'s
    * cluster-based assignment cannot express: per user, the FIRST 80% of
    * events (event-time order) train and the LAST 20% evaluate, so
    * evaluation is always strictly in the training data's future for
    * that user — the split a sequence / recommendation model needs
    * (random or hash splits leak future behavior into training). The
    * 80/20 boundary is pure integer arithmetic (rn·5 ≤ n·4), and
    * ordering ties break on event_id, so assignment is deterministic on
    * any partitioning and replays exactly in the oracle.
    *
    * Scale shape: one user-keyed exchange feeding both the rank and the
    * per-user count windows (same sort), then a stateless projection —
    * no global order, no driver state.
    */
  val timeSplit: Q = Q("sample_time_split",
    """WITH d AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
      |r AS (SELECT event_id, user_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS rn,
      |  count(*) OVER (PARTITION BY user_id) AS n FROM d)
      |SELECT event_id, user_id,
      |  CASE WHEN rn * 5 <= n * 4 THEN 'train' ELSE 'eval' END AS split
      |FROM r ORDER BY event_id""".stripMargin) { (s, dir) =>
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val w = byUser.orderBy(col("tus"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        Tables.nanosToMicros("ts").as("tus"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byUser))
      .select(col("event_id"), col("user_id"),
        when(col("rn") * 5 <= col("n") * 4, "train").otherwise("eval")
          .as("split"))
      .orderBy(col("event_id"))
  }

  /** Token-budget MIXTURE PLANNING across corpus domains — the allocation
    * step every pretraining data recipe runs before sampling: given a
    * token budget (here half the corpus, so the plan is non-trivial at
    * every SF), how many tokens may each (lang, source) domain contribute?
    * Uniform shares waste budget on domains smaller than their share;
    * WATER-FILLING spends the surplus: find the max integer level L with
    * Σ_d min(supply_d, L) ≤ B — small domains are taken whole, large ones
    * cap at L (max-min fair allocation). [[temperature]] reweights
    * per-domain sampling RATES; this plans absolute token QUOTAS under a
    * hard budget — the two compose into a data recipe.
    *
    * The closed form replayed by both engines: sort domains by supply
    * ascending; for each prefix of fully-funded domains, the candidate
    * level is (B − prefix) ∕∕ (#remaining); a candidate is real iff it
    * covers the last fully-funded domain's supply, and the max real
    * candidate is exactly L (every real candidate is feasible, and L is
    * its own segment's candidate). Pure integer floor divisions on
    * non-negative operands, so `//` and `div` agree; `leftover < #capped
    * domains` is the floor residue, reported honestly rather than
    * micro-distributed.
    *
    * Scale shape: supply is one corpus scan with map-side partial sums
    * collapsing to the DOMAIN-sized frame (|langs|·|sources| — a
    * schema-bounded domain, not data-sized); every window after runs on
    * that frame; the level and the leftover are 1-row broadcast
    * aggregates. At 100 TB only the first scan touches data.
    */
  val mixturePlan: Q = Q("sample_mixture_plan",
    """WITH sup AS (SELECT lang, source,
      |    CAST(sum(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS BIGINT) AS supply
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(supply) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS m FROM sup),
      |rk AS (SELECT s.lang, s.source, s.supply, t.total // 2 AS budget, t.m,
      |    row_number() OVER w AS rn,
      |    sum(s.supply) OVER w AS pref,
      |    coalesce(lag(s.supply) OVER w, 0) AS prevs
      |  FROM sup s, tot t
      |  WINDOW w AS (ORDER BY s.supply, s.lang, s.source)),
      |cand AS (SELECT *, CASE WHEN budget >= pref - supply
      |      THEN (budget - (pref - supply)) // (m - rn + 1) END AS cand
      |  FROM rk),
      |lvl AS (SELECT CAST(max(cand) AS BIGINT) AS level FROM cand
      |  WHERE cand IS NOT NULL AND cand >= prevs),
      |al AS (SELECT c.lang, c.source, c.supply, c.budget, l.level,
      |    least(c.supply, l.level) AS alloc, c.supply > l.level AS capped
      |  FROM cand c, lvl l),
      |lf AS (SELECT CAST(sum(alloc) AS BIGINT) AS atot FROM al)
      |SELECT a.lang, a.source, CAST(a.supply AS BIGINT) AS supply,
      |  CAST(a.alloc AS BIGINT) AS alloc, a.capped,
      |  CAST(a.alloc * 1000000 // a.budget AS BIGINT) AS share_ppm,
      |  CAST(a.level AS BIGINT) AS level, CAST(a.budget AS BIGINT) AS budget,
      |  CAST(a.budget - f.atot AS BIGINT) AS leftover
      |FROM al a, lf f ORDER BY a.lang, a.source""".stripMargin) { (s, dir) =>
    // one corpus scan → domain-sized supply frame (map-side partials)
    val sup = Tables.load(s, dir, "documents")
      .select(col("lang"), col("source"),
        // native single-pass token count (round 18, see pack_sequences)
        call_function("bpe_token_count", col("text")).as("t"))
      .groupBy(col("lang"), col("source")).agg(sum(col("t")).as("supply"))
    val supP = graft.Scratch.track(sup)
    val tot = supP.agg(sum(col("supply")).as("total"),
      count(lit(1)).as("m"))
    // domain-sized window: |langs|·|sources| rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("supply"), col("lang"), col("source"))
    val cand = supP.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total div 2"))
      .withColumn("rn", row_number().over(w))
      .withColumn("pref", sum(col("supply")).over(w))
      .withColumn("prevs", coalesce(lag(col("supply"), 1).over(w), lit(0L)))
      .withColumn("cand", when(col("budget") >= col("pref") - col("supply"),
        expr("(budget - (pref - supply)) div (m - rn + 1)")))
    val candP = graft.Scratch.track(cand)
    val lvl = candP
      .filter(col("cand").isNotNull && col("cand") >= col("prevs"))
      .agg(max(col("cand")).as("level"))
    val al = graft.Scratch.track(candP.crossJoin(broadcast(lvl))
      .withColumn("alloc", least(col("supply"), col("level")))
      .withColumn("capped", col("supply") > col("level")))
    val lf = al.agg(sum(col("alloc")).as("atot"))
    al.crossJoin(broadcast(lf))
      .select(col("lang"), col("source"), col("supply"), col("alloc"),
        col("capped"),
        expr("alloc * 1000000 div budget").as("share_ppm"),
        col("level"), col("budget"),
        (col("budget") - col("atot")).as("leftover"))
      .orderBy(col("lang"), col("source"))
  }

  /** Draws per positive-free slot for [[negatives]]: 8 probes per user
    * comfortably survive positive collisions (a user touches ~2% of the
    * item domain) to fill the 3 kept slots. */
  private val NegDraws = 8
  private val NegK = 3

  /** Deterministic NEGATIVE SAMPLING for recommendation / contrastive
    * training: per customer, [[NegK]] items they never purchased, drawn
    * by replayable hashing. The scale trick is what is ABSENT: the naive
    * candidate space (every customer × every item, anti-join positives)
    * is |users|·|items| — quadratic and dead at any real scale. Instead
    * each user gets [[NegDraws]] pseudo-random PROBES (md5 of user#j
    * mapped into the item-key domain), and only those M·|users| rows
    * meet the positives in a keyed anti-join; duplicates collapse to
    * their first draw and the first [[NegK]] survivors (draw order, then
    * item) are kept. A probe colliding with a positive just burns one of
    * the 8 draws — both engines replay the identical probes, so the gate
    * pins the whole path. Item keys are mapped 1 + h % COUNT so draws
    * land exactly in the 1..|part| partkey domain (one scalar,
    * broadcast) — the key domain is contiguous in this corpus; a sparse
    * catalog would add a semi-join against the item dimension, same
    * shape.
    */
  val negatives: Q = Q("sample_negatives",
    s"""WITH pos AS (SELECT DISTINCT o.o_custkey AS cust,
      |    CAST(l.l_partkey AS BIGINT) AS item
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |np AS (SELECT count(*) AS n FROM part),
      |cands AS (SELECT c.cust, j.j,
      |    1 + CAST(concat('0x', substr(md5(CAST(c.cust AS VARCHAR) || '#' ||
      |      CAST(j.j AS VARCHAR)), 1, 12)) AS BIGINT) % (SELECT n FROM np) AS item
      |  FROM (SELECT DISTINCT cust FROM pos) c,
      |       (SELECT unnest(range($NegDraws)) AS j) j),
      |neg AS (SELECT cust, item, min(j) AS j FROM cands
      |  WHERE NOT EXISTS (SELECT 1 FROM pos p
      |    WHERE p.cust = cands.cust AND p.item = cands.item)
      |  GROUP BY 1, 2),
      |r AS (SELECT cust, item,
      |    row_number() OVER (PARTITION BY cust ORDER BY j, item) AS rank
      |  FROM neg)
      |SELECT CAST(cust AS BIGINT) AS cust, CAST(rank AS BIGINT) AS rank, item
      |FROM r WHERE rank <= $NegK ORDER BY cust, rank""".stripMargin) { (s, dir) =>
    // The anti-join needs only MEMBERSHIP of the ~|custs|·NegDraws
    // candidate pairs in the positive set — never the positive set's own
    // distinct identity. The former shape globally distinct'd the fact
    // join's (cust, item) pairs (a corpus-sized exchange, ×100: ~60M
    // pairs) and shuffled them again into a sort-merge anti-join against
    // 120k candidates. Inverted: the un-distinct'd join output streams
    // ONCE through a broadcast LEFT SEMI probe against the candidate
    // pairs (map-side, no pair exchange at all), the matched survivors
    // (≤ |cands|) dedup for pennies, and the anti-join becomes
    // tiny-vs-tiny. The only corpus exchange left is the orderkey fact
    // join itself — irreducible, it defines the positives; persisted
    // because both the cust domain and the membership probe consume it
    // (measured at ×100: persist 14.5 s, recompute-twice 24.5 s).
    // Honest local read: wall-clock is join-dominated either way — the
    // former shape measured 13.0 s and this one 14.5–16.8 s across
    // noisy runs (the pairs are ~unique, so its distinct didn't shrink
    // anything; both persist ~the same volume). The shape is kept for
    // the CLUSTER posture: the former global pair distinct was a second
    // full corpus NETWORK exchange (~60M pairs) feeding a sort-merge
    // anti-join, and both are gone — on local NVMe an exchange costs
    // about what a cache materialization does, on 1000 executors it
    // does not.
    val joined = graft.Scratch.track(Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("cust"),
        col("l_partkey").cast("long").as("item")))
    val np = Tables.load(s, dir, "part").agg(count(lit(1)).as("np"))
    // GUARDED broadcast (r15 advice): the hint bypasses
    // autoBroadcastJoinThreshold and the candidate frame is
    // |customers|·NegDraws rows, which grows with the corpus — an
    // unconditional hint risks driver OOM exactly where the previous
    // shuffle shape degraded gracefully. The bound is the CUSTOMER
    // dimension's metadata row count (a footer read, no scan): the cust
    // domain is FK-bounded by the catalog in any integral corpus. Under
    // the hint cap (8M candidate rows ≈ 128 MB of pairs, comfortable on
    // any real driver) the measured map-side-probe shape is kept; above
    // it the hints drop and the planner/AQE picks the join strategy from
    // real sizes — SMJ at the extreme, which is the honest cluster shape
    // for a candidate set that no longer fits one node. (A key-scaled
    // corpus with orphan custkeys can exceed the dimension bound; the cap
    // has ~16× headroom before a broadcast becomes uncomfortable.)
    val custBound = Tables.load(s, dir, "customer").count()
    val hintOk = custBound * NegDraws <= 8L * 1000 * 1000
    def maybeBroadcast(df: org.apache.spark.sql.DataFrame) =
      if (hintOk) broadcast(df) else df
    val cands = graft.Scratch.track(joined.select(col("cust")).distinct()
      .crossJoin(broadcast(np))
      .select(col("cust"), explode(expr(
        s"sequence(0, ${NegDraws - 1})")).as("j"), col("np"))
      .withColumn("item", expr(
        """1 + CAST(conv(substr(md5(concat(CAST(cust AS STRING), '#',
          |  CAST(j AS STRING))), 1, 12), 16, 10) AS BIGINT) % np"""
          .stripMargin)))
    val matched = joined
      .join(maybeBroadcast(cands.select(col("cust"), col("item"))),
        Seq("cust", "item"), "left_semi")
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cust")).orderBy(col("j"), col("item"))
    cands.join(maybeBroadcast(matched), Seq("cust", "item"), "left_anti")
      .groupBy(col("cust"), col("item")).agg(min(col("j")).as("j"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= NegK)
      .select(col("cust"), col("rank"), col("item"))
      .orderBy(col("cust"), col("rank"))
  }

  /** Training-shard export numbering — the distributed zipWithIndex: every
    * document gets a DENSE global row id in doc_id order, then
    * `shard = rowid div 256`, `pos = rowid mod 256` — the (file, offset)
    * layout a fixed-size training-shard writer needs, computed with NO
    * unpartitioned window over the corpus. The [[Analytics.ordersPareto]]
    * two-level idiom generalized to pure enumeration: doc_ids quantize
    * into 256-wide bands, one tiny window cumulates the per-band COUNTS
    * (a frame of |id-span|/256 rows, not documents), and a
    * band-partitioned row_number adds the intra-band offset; the band
    * frame rides a broadcast join back onto the data. The idiom NESTS:
    * when the id span outgrows one task's band frame, band-of-bands gives
    * a ×256 reduction per level — two levels cover 2⁵³ ids. Versus RDD
    * zipWithIndex: stays in Catalyst (codegen, AQE, no lineage break) and
    * is deterministic in doc_id order, not partition-layout order.
    */
  val exportShards: Q = Q("export_shards",
    """WITH r AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY doc_id) - 1 AS rowid FROM documents)
      |SELECT doc_id, CAST(rowid AS BIGINT) AS rowid,
      |  CAST(rowid // 256 AS BIGINT) AS shard,
      |  CAST(rowid % 256 AS BIGINT) AS pos
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).select(col("doc_id"))
      .withColumn("band", expr("doc_id div 256"))
    // TWO banding levels, as documented: per-band counts quantize AGAIN
    // into 256-wide super-bands, so the only unpartitioned window
    // cumulates the |span|/65536-row super-band totals — a SPARSE id
    // space (snowflake-style 64-bit ids, ~one doc per band) no longer
    // degenerates the cumulation to a corpus-sized single frame, which
    // the one-level form silently did (ADVICE r11). Intra-super-band
    // offsets run in ≤256-row partitioned windows.
    val bn = d.groupBy(col("band")).agg(count(lit(1)).as("bn"))
      .withColumn("sband", expr("band div 256"))
    val sw = Window.orderBy(col("sband"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val soff = bn.groupBy(col("sband")).agg(sum(col("bn")).as("sbn"))
      .withColumn("soff", coalesce(sum(col("sbn")).over(sw), lit(0L)))
      .select(col("sband"), col("soff"))
    val ibw = Window.partitionBy(col("sband")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bn
      .withColumn("iboff", coalesce(sum(col("bn")).over(ibw), lit(0L)))
      .join(broadcast(soff), Seq("sband"))
      .select(col("band"), (col("soff") + col("iboff")).as("boff"))
    val iw = Window.partitionBy(col("band")).orderBy(col("doc_id"))
    d.withColumn("ir", row_number().over(iw).cast("long"))
      .join(broadcast(off), Seq("band"))
      .withColumn("rowid", col("boff") + col("ir") - lit(1L))
      .select(col("doc_id"), col("rowid"),
        expr("rowid div 256").as("shard"), expr("rowid % 256").as("pos"))
      .orderBy(col("doc_id"))
  }

  /** Curriculum schedule — the ordered-training-data layout a curriculum
    * run consumes: documents ranked by a difficulty proxy (length — the
    * classic starting curriculum), cut into 10 difficulty deciles, and
    * emitted in an INTERLEAVED schedule (`sched = step·10 + decile`) so
    * consecutive training steps round-robin across difficulty levels
    * while each decile's internal order stays stable — the anti-collapse
    * mixing a pure easy→hard sort lacks. The global rank comes from the
    * [[exportShards]] two-level banding (value bands over `n_chars`, then
    * super-bands), NEVER a corpus-wide window: the only unpartitioned
    * cumulation walks the |length-domain|/64/256-row super-band frame.
    * Decile boundaries are exact integer arithmetic on the rank
    * (`decile = r0·10 div N`, decile start `= ceil(decile·N/10)`), so
    * both engines place every boundary document identically — no
    * percentile float in sight.
    */
  val curriculum: Q = Q("sample_curriculum",
    """WITH r AS (SELECT doc_id, n_chars,
      |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS r0 FROM documents),
      |t AS (SELECT count(*) AS n FROM documents),
      |d AS (SELECT doc_id, n_chars, r0, (r0 * 10) // n AS decile, n
      |  FROM r CROSS JOIN t)
      |SELECT doc_id, n_chars, CAST(decile AS BIGINT) AS decile,
      |  CAST(r0 - (decile * n + 9) // 10 AS BIGINT) AS step,
      |  CAST((r0 - (decile * n + 9) // 10) * 10 + decile AS BIGINT) AS sched
      |FROM d ORDER BY sched""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      .withColumn("band", expr("n_chars div 64"))
    val bn = d.groupBy(col("band")).agg(count(lit(1)).as("bn"))
      .withColumn("sband", expr("band div 256"))
    val sw = Window.orderBy(col("sband"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val soff = bn.groupBy(col("sband")).agg(sum(col("bn")).as("sbn"))
      .withColumn("soff", coalesce(sum(col("sbn")).over(sw), lit(0L)))
      .select(col("sband"), col("soff"))
    val ibw = Window.partitionBy(col("sband")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bn
      .withColumn("iboff", coalesce(sum(col("bn")).over(ibw), lit(0L)))
      .join(broadcast(soff), Seq("sband"))
      .select(col("band"), (col("soff") + col("iboff")).as("boff"))
    val iw = Window.partitionBy(col("band")).orderBy(col("n_chars"), col("doc_id"))
    val n = d.agg(count(lit(1)).as("n"))
    d.withColumn("ir", row_number().over(iw).cast("long"))
      .join(broadcast(off), Seq("band"))
      .withColumn("r0", col("boff") + col("ir") - lit(1L))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("(r0 * 10) div n"))
      .withColumn("step", expr("r0 - (decile * n + 9) div 10"))
      .select(col("doc_id"), col("n_chars"), col("decile"), col("step"),
        expr("step * 10 + decile").as("sched"))
      .orderBy(col("sched"))
  }

  /** Rows × buckets for [[joinSizeEst]]'s sketches: 5 rows so the AMS
    * median is a single middle element, 256 buckets as 1 KB-per-relation
    * planner state. */
  private[graft] val JseR = 5
  private[graft] val JseW = 256

  /** The row-salted 48-bit hash both [[joinSizeEst]] sketches derive
    * their bucket AND sign from; columns `r` and `k` must be in scope. */
  private val JseHashSpark: String =
    s"CAST(conv(substr(md5(concat(CAST(r AS STRING), '#', " +
      s"CAST(k AS STRING))), 1, 12), 16, 10) AS BIGINT)"

  /** Explodes each keyed row into its [[JseR]] (r, b, sgn) count-sketch
    * cells — the ONE geometry rendering shared by the batch estimator and
    * [[graft.streaming.EventsStream.jseStream]]'s online register
    * maintenance, so the two cannot drift. */
  private[graft] def withJseCells(df: DataFrame): DataFrame =
    df.withColumn("r", explode(expr(s"sequence(0, ${JseR - 1})")))
      .withColumn("h", expr(JseHashSpark))
      .withColumn("b", expr(s"h % $JseW"))
      .withColumn("sgn",
        expr(s"CASE WHEN (h div $JseW) % 2 = 1 THEN 1L ELSE -1L END"))

  /** Join-cardinality estimation from sketch inner products — the answer
    * a cost-based planner wants BEFORE committing to a join strategy
    * ("how big is this join / how skewed is this key"), from two
    * kilobyte-sized sketches built in one scan each, here reported
    * against exact truth so the estimators themselves are hash-gated.
    * Both textbook estimators over the SAME hash (bucket = h mod
    * [[JseW]], sign = bit [[JseW]] of h), two targets each:
    *   - F₂ self-join size of orders on custkey (the skew moment that
    *     prices a self-join and flags salting), and the many-to-many
    *     join size events ⋈ orders on user = cust, Σ_k e(k)·o(k);
    *   - COUNT-MIN upper bound: minᵣ Σ_b a[r,b]·b[r,b] over UNSIGNED
    *     cells — never undershoots, but collisions only ADD, so with
    *     |keys| ≫ buckets it inflates ~(Σa)(Σb)/W (measured 6–7× here:
    *     the right sketch for "no more than", the wrong one for "about");
    *   - AMS (count-sketch) estimate: the SIGNED cells' inner product
    *     per row, MEDIAN across the 5 rows — unbiased because cross
    *     terms carry random signs and cancel in expectation (measured
    *     within ~10% at the same 1 KB). The pair in one row is the whole
    *     design lesson: signed sketches buy accuracy, unsigned buy a
    *     guarantee.
    * AMS error is signed; the gate carries |err| in ppm plus an `_over`
    * boolean instead of dividing a signed numerator, keeping the result
    * independent of any engine's signed-division convention (measured
    * since: Spark `div` and DuckDB `//` both truncate — see
    * [[Similarity.embedDrift]] — so signed division would in fact agree,
    * but the unsigned form stays immune to replays in floor-division
    * languages like Python). Numeric bound: cell products stay int64-exact
    * while a bucket's mass is < 3·10⁹ rows (√2⁶³); past that, lift the
    * product column to DECIMAL(38,0) — the geometry never grows.
    *
    * Scale shape: each relation collapses map-side to its key-domain
    * count frame, then to [[JseR]]·[[JseW]] cells; the exact references
    * (gate fidelity, not the estimator's cost) are key-domain-sized
    * aggregates and one key-domain join; every estimator window runs on
    * a 5-row frame.
    */
  val joinSizeEst: Q = {
    def hDuck(r: String, k: String): String =
      s"CAST(concat('0x', substr(md5(CAST($r AS VARCHAR) || '#' || " +
        s"CAST($k AS VARCHAR)), 1, 12)) AS BIGINT)"
    Q("join_size_est",
      s"""WITH ok AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |ek AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        |rr AS (SELECT unnest(range($JseR)) AS r),
        |oh AS (SELECT rr.r AS r, ok.c AS c, ${hDuck("rr.r", "ok.k")} AS h
        |  FROM ok, rr),
        |oc AS (SELECT r, h % $JseW AS b,
        |    CAST(sum(CASE WHEN (h // $JseW) % 2 = 1 THEN c ELSE -c END) AS BIGINT) AS v,
        |    CAST(sum(c) AS BIGINT) AS u
        |  FROM oh GROUP BY 1, 2),
        |eh AS (SELECT rr.r AS r, ek.c AS c, ${hDuck("rr.r", "ek.k")} AS h
        |  FROM ek, rr),
        |ec AS (SELECT r, h % $JseW AS b,
        |    CAST(sum(CASE WHEN (h // $JseW) % 2 = 1 THEN c ELSE -c END) AS BIGINT) AS v,
        |    CAST(sum(c) AS BIGINT) AS u
        |  FROM eh GROUP BY 1, 2),
        |f2x AS (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS exact_f2 FROM ok),
        |f2r AS (SELECT r, CAST(sum(v * v) AS BIGINT) AS s,
        |    CAST(sum(u * u) AS BIGINT) AS s2 FROM oc GROUP BY r),
        |f2c AS (SELECT CAST(min(s2) AS BIGINT) AS f2_cms FROM f2r),
        |f2a AS (SELECT CAST(s AS BIGINT) AS f2_ams FROM (
        |  SELECT s, row_number() OVER (ORDER BY s, r) AS rn FROM f2r)
        |  WHERE rn = ${JseR / 2 + 1}),
        |jx AS (SELECT CAST(coalesce(sum(ok.c * ek.c), 0) AS BIGINT) AS exact_join
        |  FROM ok JOIN ek ON ek.k = ok.k),
        |jr AS (SELECT o.r AS r, CAST(sum(o.v * e.v) AS BIGINT) AS s,
        |    CAST(sum(o.u * e.u) AS BIGINT) AS s2
        |  FROM oc o JOIN ec e ON e.r = o.r AND e.b = o.b GROUP BY o.r),
        |jc AS (SELECT CAST(min(s2) AS BIGINT) AS join_cms FROM jr),
        |ja AS (SELECT CAST(s AS BIGINT) AS join_ams FROM (
        |  SELECT s, row_number() OVER (ORDER BY s, r) AS rn FROM jr)
        |  WHERE rn = ${JseR / 2 + 1})
        |SELECT exact_f2, f2_cms,
        |  CASE WHEN exact_f2 = 0 THEN 0
        |       ELSE (f2_cms - exact_f2) * 1000000 // exact_f2 END AS f2_cms_over_ppm,
        |  f2_ams,
        |  CASE WHEN exact_f2 = 0 THEN 0
        |       ELSE abs(f2_ams - exact_f2) * 1000000 // exact_f2 END AS f2_ams_err_ppm,
        |  f2_ams >= exact_f2 AS f2_ams_over,
        |  exact_join, join_cms,
        |  CASE WHEN exact_join = 0 THEN 0
        |       ELSE (join_cms - exact_join) * 1000000 // exact_join END AS join_cms_over_ppm,
        |  join_ams,
        |  CASE WHEN exact_join = 0 THEN 0
        |       ELSE abs(join_ams - exact_join) * 1000000 // exact_join END AS join_ams_err_ppm,
        |  join_ams >= exact_join AS join_ams_over
        |FROM f2x, f2c, f2a, jx, jc, ja""".stripMargin) { (s, dir) =>
      val ok = graft.Scratch.track(Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c")))
      val ek = graft.Scratch.track(Tables.load(s, dir, "events")
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("c")))
      def sketch(kc: DataFrame): DataFrame = withJseCells(kc)
        .groupBy(col("r"), col("b"))
        .agg(sum(expr("c * sgn")).as("v"), sum(col("c")).as("u"))
      val oc = graft.Scratch.track(sketch(ok))
      val ec = sketch(ek)
      val mid = JseR / 2 + 1
      val w5 = org.apache.spark.sql.expressions.Window
        .orderBy(col("s"), col("r")) // 5-row frame: the estimator median
      val f2x = ok.agg(coalesce(sum(expr("c * c")), lit(0L)).as("exact_f2"))
      val f2r = oc.groupBy(col("r"))
        .agg(sum(expr("v * v")).as("s"), sum(expr("u * u")).as("s2"))
      val f2c = f2r.agg(min(col("s2")).as("f2_cms"))
      val f2a = f2r.withColumn("rn", row_number().over(w5))
        .filter(col("rn") === mid).select(col("s").as("f2_ams"))
      val jx = ok.join(ek.withColumnRenamed("c", "c2"), Seq("k"))
        .agg(coalesce(sum(expr("c * c2")), lit(0L)).as("exact_join"))
      val jr = oc
        .join(ec.withColumnRenamed("v", "v2").withColumnRenamed("u", "u2"),
          Seq("r", "b"))
        .groupBy(col("r"))
        .agg(sum(expr("v * v2")).as("s"), sum(expr("u * u2")).as("s2"))
      val jc = jr.agg(min(col("s2")).as("join_cms"))
      val ja = jr.withColumn("rn", row_number().over(w5))
        .filter(col("rn") === mid).select(col("s").as("join_ams"))
      f2x.crossJoin(broadcast(f2c)).crossJoin(broadcast(f2a))
        .crossJoin(broadcast(jx)).crossJoin(broadcast(jc))
        .crossJoin(broadcast(ja))
        .select(col("exact_f2"), col("f2_cms"),
          // empty-side guard (mirrored in the oracle): an empty orders
          // table zeroes exact_f2 and the unguarded div diverges the
          // engines (DuckDB errors, Spark ANSI-divs to null)
          expr("""CASE WHEN exact_f2 = 0 THEN 0L
            | ELSE (f2_cms - exact_f2) * 1000000 div exact_f2 END"""
            .stripMargin).as("f2_cms_over_ppm"),
          col("f2_ams"),
          expr("""CASE WHEN exact_f2 = 0 THEN 0L
            | ELSE abs(f2_ams - exact_f2) * 1000000 div exact_f2 END"""
            .stripMargin).as("f2_ams_err_ppm"),
          (col("f2_ams") >= col("exact_f2")).as("f2_ams_over"),
          col("exact_join"), col("join_cms"),
          expr("""CASE WHEN exact_join = 0 THEN 0L
            | ELSE (join_cms - exact_join) * 1000000 div exact_join END"""
            .stripMargin).as("join_cms_over_ppm"),
          col("join_ams"),
          expr("""CASE WHEN exact_join = 0 THEN 0L
            | ELSE abs(join_ams - exact_join) * 1000000 div exact_join END"""
            .stripMargin).as("join_ams_err_ppm"),
          (col("join_ams") >= col("exact_join")).as("join_ams_over"))
    }
  }

  /** Positional delete-vector read — the MERGE-ON-READ half of the
    * warehouse delete story ([[snapshotMerge]]/[[cdcApply]] are
    * copy-on-write): deletes live as a separate (shard, pos) list — the
    * Iceberg positional-delete / Delta deletion-vector layout — and the
    * read path applies them with an ANTI-JOIN on position, never
    * rewriting data files. The position assignment is [[exportShards]]'s
    * enumeration; the delete vector here is the deterministic sieve
    * `(shard·256 + pos) mod 7 = 0` standing in for a real delete
    * commit's file. Per shard the read reports total/deleted/live counts
    * and the SUM of surviving doc_ids — the checksum that catches a
    * wrong-row deletion, not just a wrong count.
    *
    * The point being demonstrated: the delete set joins as a FRAME, not
    * a pushed filter — exactly why merge-on-read reads cost an extra
    * (broadcastable, position-sorted) join until compaction folds the
    * vector in, and why [[graft.operators.Layout.compactPlan]]-style
    * maintenance exists. Scale shape: enumeration is the audited
    * two-level [[exportShards]] plan (shared via Scratch — one pass
    * feeds both the position list and the join); the delete vector is
    * |deletes|-sized and keyed by (shard, pos); output is |shards| rows.
    */
  val dvRead: Q = Q("dv_read",
    """WITH r AS (SELECT doc_id,
      |    row_number() OVER (ORDER BY doc_id) - 1 AS rowid FROM documents),
      |p AS (SELECT doc_id, rowid // 256 AS shard, rowid % 256 AS pos FROM r),
      |dv AS (SELECT shard, pos FROM p WHERE (shard * 256 + pos) % 7 = 0),
      |live AS (SELECT p.shard, p.doc_id FROM p
      |  ANTI JOIN dv ON dv.shard = p.shard AND dv.pos = p.pos),
      |tot AS (SELECT shard, count(*) AS n_total FROM p GROUP BY 1),
      |la AS (SELECT shard, count(*) AS n_live,
      |    CAST(sum(doc_id) AS BIGINT) AS live_id_sum FROM live GROUP BY 1)
      |SELECT CAST(t.shard AS BIGINT) AS shard,
      |  CAST(t.n_total AS BIGINT) AS n_total,
      |  CAST(t.n_total - coalesce(la.n_live, 0) AS BIGINT) AS n_deleted,
      |  CAST(coalesce(la.n_live, 0) AS BIGINT) AS n_live,
      |  CAST(coalesce(la.live_id_sum, 0) AS BIGINT) AS live_id_sum
      |FROM tot t LEFT JOIN la ON la.shard = t.shard
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val p = graft.Scratch.track(exportShards.run(s, dir)
      .select(col("doc_id"), col("shard"), col("pos")))
    val dv = p.filter(expr("(shard * 256 + pos) % 7 = 0"))
      .select(col("shard"), col("pos"))
    val live = p.join(dv, Seq("shard", "pos"), "left_anti")
      .select(col("shard"), col("doc_id"))
    val tot = p.groupBy(col("shard")).agg(count(lit(1)).as("n_total"))
    val la = live.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_live"), sum(col("doc_id")).as("live_id_sum"))
    tot.join(la, Seq("shard"), "left")
      .select(col("shard"), col("n_total"),
        (col("n_total") - coalesce(col("n_live"), lit(0L))).as("n_deleted"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("live_id_sum"), lit(0L)).as("live_id_sum"))
      .orderBy(col("shard"))
  }

  val all: Seq[Q] =
    Seq(deterministic, stratified, stratifiedAgg, split, splitSafe, approx,
      temperature, pack, lengthBuckets, snapshotMerge, cdcApply,
      distinctSketch, quantileSketch, cmsSketch, timeSplit, negatives,
      mixturePlan, exportShards, curriculum, joinSizeEst, dvRead)
}
