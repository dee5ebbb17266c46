package graft.operators

import graft.Q
import graft.sources.{Ingest, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim).
  *
  * Two paths, per the standard ANN playbook:
  *   - [[knnBrute]]: exact brute-force cosine top-k — the correctness
  *     baseline, O(|queries| × n), oracle-checked against DuckDB.
  *   - [[annLsh]]: multi-table random-hyperplane LSH — the 100 TB path;
  *     signatures are map-side, candidates shuffle only the matched pairs.
  *   - [[annIvf]]: inverted-file index — map-side centroid assignment,
  *     probe-then-rescore.
  *
  * Cross-engine float determinism: embeddings are quantized to integers
  * (round(x·10⁴)) so dot products and norms are EXACT int64 arithmetic —
  * order-independent under any partitioning, bit-identical in DuckDB.
  * The final cosine is one exact-int division in double.
  */
object Similarity {

  // public in the companion-object sense: Catalyst's generated Encoders
  // instantiate these reflectively (the SparkSpec gotcha)
  case class SemCellMember(cid: Long, sub: Long, vec_id: Long,
      csim: Double, qv: Array[Long], nrm: Long)
  case class SemVerdictRow(vec_id: Long, n_near: Long, dommax: Long)

  private val Scale = 10000

  /** Shared DuckDB CTEs: quantized vectors + exact integer squared norms —
    * the same arithmetic [[quantize]]/[[dotQ]] perform (products of ≤10⁴
    * ints summed over 64 dims stay far below 2⁵³, so double vs int64
    * accumulation is identical). Ends with `nz` (vec_id, qv, nrm).
    */
  private[operators] val quantizedSql: String =
    """qz AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |nz AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm FROM qz)""".stripMargin

  /** Exact-int cosine in SQL, same association as [[cosine]]. */
  private[operators] def cosSql(aQv: String, aNrm: String, bQv: String, bNrm: String): String =
    s"CAST(list_dot_product($aQv, $bQv) AS DOUBLE) / " +
      s"(sqrt(CAST($aNrm AS DOUBLE)) * sqrt(CAST($bNrm AS DOUBLE)))"

  /** DuckDB replay of [[graft.functions.LshPlanes]] + the signature pass:
    * rebuilds the md5-derived ±1 plane tensor in SQL, projects every
    * quantized vector onto it, and packs sign bits MSB-first — ends with
    * `buckets` (vec_id, t, bucket) matching `hyperplane_buckets` exactly.
    * Requires `nz` ([[quantizedSql]]) upstream.
    */
  private[operators] val lshBucketsSql: String = {
    import graft.functions.LshPlanes.{Dims, NumTables, TableBits}
    s"""planes AS (SELECT t.r AS t, b.r AS b, i.r AS i,
       |    CASE WHEN (strpos('0123456789abcdef', substr(md5('pl#' || CAST(t.r AS VARCHAR) || '#' || CAST(b.r AS VARCHAR) || '#' || CAST(i.r AS VARCHAR)), 1, 1)) - 1) & 1 = 1
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range($NumTables)) AS r) t,
       |       (SELECT unnest(range($TableBits)) AS r) b,
       |       (SELECT unnest(range($Dims)) AS r) i),
       |elems AS (SELECT vec_id, i.r AS i, qv[i.r + 1] AS x
       |  FROM nz, (SELECT unnest(range($Dims)) AS r) i),
       |projs AS (SELECT e.vec_id, p.t, p.b, sum(e.x * p.sgn) AS proj
       |  FROM elems e JOIN planes p ON p.i = e.i GROUP BY e.vec_id, p.t, p.b),
       |buckets AS (SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << (${TableBits - 1} - b)) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM projs GROUP BY vec_id, t)""".stripMargin
  }

  /** Quantized embedding: round(x·10⁴) per element, as bigint. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine from quantized vectors + precomputed squared norms (exact ints). */
  def cosine(qa: Column, na: Column, qb: Column, nb: Column): Column =
    dotQ(qa, qb).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Brute-force cosine top-10 for query vectors (vec_id < 5) against the
    * full table: broadcast the tiny query side, per-query row_number. The
    * oracle replicates the identical quantized-integer arithmetic in DuckDB.
    */
  val knnBrute: Q = Q("knn_brute",
    s"""WITH $quantizedSql,
      |p AS (
      |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
      |    ${cosSql("q.qv", "q.nrm", "t.qv", "t.nrm")} AS cos_sim
      |  FROM nz q JOIN nz t ON q.vec_id < 5 AND t.vec_id != q.vec_id),
      |r AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
      |  FROM p)
      |SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 10
      |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_qv"), col("q_nrm"), col("qv"), col("nrm")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Metadata-FILTERED vector search — the RAG-serving shape [[knnBrute]]
    * lacks: each probe retrieves its top-5 only among vectors sharing the
    * probe's `label` (tenant / category / language in production). The
    * filter applies BEFORE scoring (pre-filtering): post-filtering a
    * fixed-k candidate list is the classic recall bug when the predicate
    * is selective — k survivors of an unfiltered top-k are not the top-k
    * of the filtered set. Exact brute force over the filtered slice is
    * the correctness baseline; at scale the same predicate becomes
    * partition pruning under a label-partitioned layout (the
    * [[graft.sources.Ingest.bucketedTables]] argument), and the
    * LSH/IVF/PQ candidate paths compose by carrying the label through
    * the candidate join — the plumbing, not the semantics, changes.
    *
    * Scale shape: 5 probe rows broadcast; the corpus-side scan stays one
    * codegen pass (quantize + dot), the equality predicate drops
    * non-matching rows before any arithmetic, and the per-probe top-5 is
    * a bounded window over each probe's filtered stripe.
    */
  val annFiltered: Q = Q("ann_filtered",
    s"""WITH $quantizedSql,
      |lb AS (SELECT vec_id, label FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
      |    ${cosSql("q.qv", "q.nrm", "t.qv", "t.nrm")} AS cos_sim
      |  FROM nz q JOIN lb ql ON ql.vec_id = q.vec_id
      |  JOIN nz t ON q.vec_id < 5 AND t.vec_id != q.vec_id
      |  JOIN lb tl ON tl.vec_id = t.vec_id AND tl.label = ql.label),
      |r AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
      |  FROM p)
      |SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 5
      |ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(queries),
        col("vec_id") =!= col("query_id") && col("label") === col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_qv"), col("q_nrm"), col("qv"), col("nrm")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Shortlist width for [[annSq8]]: the quantized scan keeps this many
    * candidates per probe for exact rescoring. 50 comfortably covers the
    * true top-10 under ≤0.2% per-dim quantization error (recall floor
    * asserted in DedupSimilaritySpec).
    */
  private val SqShort = 50

  /** DuckDB replay of [[annSq8]]: per-dim min/max over the quantized
    * corpus, the 0..255 code via floor division, reconstruction at ×255
    * scale (so it stays integer), quantized scoring, top-[[SqShort]]
    * shortlist, exact-int cosine rescore.
    */
  private val annSq8Oracle: String = {
    import graft.functions.LshPlanes.Dims
    s"""WITH $quantizedSql,
       |sdims AS (SELECT unnest(range($Dims)) AS dim),
       |selems AS (SELECT vec_id, d.dim, qv[d.dim + 1] AS x FROM nz, sdims d),
       |sst AS (SELECT dim, CAST(min(x) AS BIGINT) AS lo, CAST(max(x) AS BIGINT) AS hi
       |  FROM selems GROUP BY dim),
       |srec AS (SELECT e.vec_id, e.dim,
       |    CASE WHEN s.hi = s.lo THEN s.lo * 255
       |         ELSE s.lo * 255 + (((e.x - s.lo) * 255) // (s.hi - s.lo)) * (s.hi - s.lo)
       |    END AS r8
       |  FROM selems e JOIN sst s USING (dim)),
       |ssc AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
       |    CAST(sum(qe.x * r.r8) AS BIGINT) AS sq_score
       |  FROM nz q JOIN selems qe ON qe.vec_id = q.vec_id
       |  JOIN srec r ON r.dim = qe.dim AND r.vec_id != q.vec_id
       |  WHERE q.vec_id < 5 GROUP BY 1, 2),
       |sshort AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sq_score DESC, neighbor_id) AS srn
       |    FROM ssc) WHERE srn <= $SqShort),
       |sresc AS (SELECT h.query_id, h.neighbor_id,
       |    ${cosSql("q.qv", "q.nrm", "t.qv", "t.nrm")} AS cos_sim
       |  FROM sshort h JOIN nz q ON q.vec_id = h.query_id
       |  JOIN nz t ON t.vec_id = h.neighbor_id),
       |sr AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM sresc)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
       |FROM sr WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin
  }

  /** Scalar-quantized (SQ8) vector search — the FAISS `SQ8` production
    * shape and the simplest memory-compression rung on the ANN ladder
    * (below [[annPq]]'s codebooks): each dimension is affinely mapped to
    * an int8 code 0..255 against per-dim min/max learned from the corpus,
    * shrinking vector storage 4× (byte vs float) while the scan stays a
    * plain codegen dot product. Queries score ASYMMETRICALLY (full-precision
    * query × dequantized corpus code — the SDC-vs-ADC lesson, applied to
    * scalars), keep the top-[[SqShort]] shortlist, and rescore it with the
    * exact integer cosine, so the output ranking only differs from
    * [[knnBrute]] if quantization pushed a true neighbor below rank 50.
    *
    * Everything stays exact integer: codes via floor division of
    * (x−lo)·255 by (hi−lo), dequantization at ×255 scale (lo·255 +
    * code·(hi−lo)) so no fraction ever forms, and both engines replay the
    * identical arithmetic.
    *
    * Scale shape: the per-dim range is a Dims-row model (map-side min/max
    * partials — the bounded-collect rule); coding and scoring are
    * map-side over one corpus scan with the 5 probes broadcast; the exact
    * rescore touches only 5·[[SqShort]] rows fetched by a broadcast
    * semi-join. At 100 TB the win is the 4× scan-byte reduction — the
    * same scan shape, a quarter of the I/O.
    */
  val annSq8: Q = Q("ann_sq8", annSq8Oracle) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val base = graft.Scratch.track(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv"))))
    // per-dim range: a Dims-row MODEL (bounded-collect rule) — min/max
    // partials collapse map-side before the one tiny exchange
    val dims = graft.functions.LshPlanes.Dims
    val lo = new Array[Long](dims)
    val hi = new Array[Long](dims)
    base.select(posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().foreach { r =>
        lo(r.getAs[Int]("dim")) = r.getAs[Long]("lo")
        hi(r.getAs[Int]("dim")) = r.getAs[Long]("hi")
      }
    val loLit = typedLit(lo.toSeq)
    val hiLit = typedLit(hi.toSeq)
    def loAt(i: Column) = element_at(loLit, (i + lit(1)).cast("int"))
    def hiAt(i: Column) = element_at(hiLit, (i + lit(1)).cast("int"))
    // code: exact floor division via the pmod-subtraction idiom (numerator
    // is non-negative, so `%` == pmod and the double division is exact)
    val codes = base.withColumn("codes", transform(col("qv"), (x, i) => {
      val l = loAt(i)
      val h = hiAt(i)
      val num = (x - l) * lit(255L)
      when(h === l, lit(0L))
        .otherwise(((num - (num % (h - l))) / (h - l)).cast("long"))
    })).select(col("vec_id"), col("codes"))
    // dequantize at ×255 scale — stays integer, feeds the quantized scan
    val rec = codes.withColumn("r8", transform(col("codes"),
      (c, i) => loAt(i) * lit(255L) + c * (hiAt(i) - loAt(i))))
    val probes = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"))
    val sq = rec.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("q_qv"), col("r8")).as("sq_score"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_score").desc, col("neighbor_id"))
    val short = sq.withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= SqShort)
      .select(col("query_id"), col("neighbor_id"))
    // exact rescore: 5·SqShort rows fetch their full vectors back
    val resc = base.join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv").as("t_qv"),
        col("nrm").as("t_nrm"))
      .join(broadcast(probes), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_qv"), col("q_nrm"), col("t_qv"), col("t_nrm")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    resc.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** LSH layout (constants in [[graft.functions.LshPlanes]]): 16 independent
    * tables × 6-bit signatures (64 buckets each). One table alone has poor
    * recall (a true neighbor must match all bits at once); OR-amplification
    * across tables lifts recall to 1-(1-p^bits)^tables while the candidate
    * set stays ~tables·n/2^bits per probe. At real scale widen TableBits
    * with log2(n); the plumbing is identical.
    */

  /** Per-vector signatures for all tables, as `buckets: array<long>`: bit b
    * of table t is sign(Σᵢ qvᵢ·±1) against a plan-time-fixed ±1 plane
    * tensor. Exact integer sums → identical buckets on any cluster layout;
    * output carries the quantized vector + squared norm for downstream
    * in-bucket exact rescoring.
    *
    * The signature is the native codegen'd [[graft.functions.HyperplaneBuckets]]
    * expression — one JIT'd call per row, zero shuffles: at 100 TB this
    * stage is embarrassingly parallel, vs. an explode→plane-join→2×groupBy
    * layout that pushes n×dims×bits rows through two exchanges (and vs.
    * interpreted higher-order-function folds, which benched 5× slower).
    */
  def hyperplaneSignatures(s: SparkSession, embeddings: DataFrame): DataFrame = {
    graft.functions.LshExpressions.register(s)
    embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
      .withColumn("buckets", expr("hyperplane_buckets(qv)"))
  }

  /** Exploded (vec_id, table, bucket) entries, WITHOUT the vector payload —
    * the explode multiplies rows ×tables, so carrying the 64-long vector
    * through it would copy ~tables× the corpus bytes through the stage.
    * Candidates fetch their vectors afterwards via a broadcast semi-join.
    *
    * `posexplode_outer`, not `posexplode`: the inner form lets the optimizer
    * infer a `size(buckets) > 0 AND isnotnull(buckets)` filter below the
    * Generate, and predicate pushdown then substitutes the aliased
    * expression into that filter — `hyperplane_buckets` ends up evaluated
    * THREE times per corpus row on the hot signature pass. `buckets` is
    * always a non-null length-16 array (one bucket per table), so the outer
    * form is row-for-row identical while keeping exactly one signature call
    * per row (null entries, were they possible, would drop at the (t,
    * bucket) equi-join anyway).
    */
  def bucketEntries(sig: DataFrame): DataFrame =
    sig.select(col("vec_id"), posexplode_outer(col("buckets")).as(Seq("t", "bucket")))

  /** Multi-probe expansion of query-side bucket entries: each (table,
    * bucket) probe additionally probes the [[graft.functions.LshPlanes.TableBits]]
    * single-bit-flip neighbor buckets — the buckets a near neighbor most
    * likely landed in when exactly one hyperplane disagreed. Recall goes
    * from 1-(1-p^b)^T to roughly 1-(1-p^b(1 + b(1-p)/p))^T at ×(bits+1)
    * candidate probes — and because the expansion happens ONLY on the tiny
    * broadcast query side, the corpus-side scan, signature pass, and
    * shuffle budget are completely unchanged.
    */
  def multiProbe(qEntries: DataFrame): DataFrame = {
    import graft.functions.LshPlanes
    val flips = (0 until LshPlanes.TableBits)
      .map(b => col("bucket").bitwiseXOR(lit(1L << b)))
    qEntries.select(col("query_id"), col("t"),
      explode(array(col("bucket") +: flips: _*)).as("bucket"))
  }

  /** ANN via multi-table multi-probe LSH: candidates = union over tables of
    * same-or-adjacent-bucket vectors, dedup'd, then exact quantized-integer
    * cosine rescoring and per-query top-10 (same query set as [[knnBrute]],
    * so recall is directly comparable — floors asserted in
    * DedupSimilaritySpec; multi-probe lifts measured recall ~0.5 → ≥0.8 on
    * the test corpus).
    *
    * Shuffle budget: signatures are map-side (native expression); the
    * bucket match joins slim (vec_id, t, bucket) rows against broadcast
    * query entries (×(bits+1) probes per table, still tiny); the candidate
    * pair set (~(bits+1)·tables·n/2^bits per query) is dedup'd in one small
    * shuffle, broadcast back to fetch neighbor vectors map-side, and only
    * the scored candidates reach the final window. The corpus itself is
    * never re-shuffled or duplicated ×tables.
    */
  /** The multi-probe flip set as SQL literals: the untouched bucket (0)
    * plus each single-bit mask, XOR'd onto query buckets.
    */
  private val probeFlips: String = {
    import graft.functions.LshPlanes.TableBits
    (Seq(0L) ++ (0 until TableBits).map(b => 1L << b)).mkString(", ")
  }

  private val annLshOracle: String =
    s"""WITH $quantizedSql,
       |$lshBucketsSql,
       |probes AS (SELECT qb.vec_id AS query_id, qb.t,
       |    CAST(xor(qb.bucket, CAST(f.v AS BIGINT)) AS BIGINT) AS bucket
       |  FROM buckets qb, (SELECT unnest([$probeFlips]) AS v) f
       |  WHERE qb.vec_id < 5),
       |cands AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN buckets c ON c.t = p.t AND c.bucket = p.bucket
       |  WHERE c.vec_id != p.query_id),
       |scored AS (SELECT ca.query_id, ca.neighbor_id,
       |    ${cosSql("q.qv", "q.nrm", "n.qv", "n.nrm")} AS cos_sim
       |  FROM cands ca JOIN nz q ON q.vec_id = ca.query_id
       |  JOIN nz n ON n.vec_id = ca.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  val annLsh: Q = Q("ann_lsh", annLshOracle) { (s, dir) =>
    val sig = hyperplaneSignatures(s, Tables.load(s, dir, "embeddings"))
    val queries = sig.filter(col("vec_id") < 5)
    val qEntries = multiProbe(bucketEntries(queries)
      .withColumnRenamed("vec_id", "query_id"))
    val cands = bucketEntries(sig).join(broadcast(qEntries), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct() // a pair matching in several tables scores once
    val qVecs = queries.select(col("vec_id").as("query_id"),
      col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    sig.join(broadcast(cands), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_qv"), col("q_nrm"), col("qv"), col("nrm")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** ANN via IVF (inverted-file index): a K-centroid coarse quantizer
    * partitions the corpus into inverted lists; each vector is assigned
    * map-side to its nearest centroid via the native codegen'd
    * [[graft.functions.CentroidSims]] expression (the centroid matrix is a
    * plan literal — collecting K=16 tiny vectors to the driver is the
    * quantizer's "model", not a data collect). Queries probe their NProbe
    * closest centroids and rescore exactly inside those lists — per probe
    * the candidate set is ~NProbe·n/K instead of n, and the only shuffle
    * over the corpus is the final per-query top-k.
    *
    * At real scale the centroids come from an offline k-means sample and K
    * grows with √n; the probe/assign/rescore plumbing here is unchanged.
    */
  private val IvfK = 16
  private val IvfNProbe = 4

  /** DuckDB replay of the IVF pipeline: same deterministic seed centroids
    * (the first K vec_ids, list position = centroid id), same
    * sim-desc/first-index tie-break for assignment and probe ranking, same
    * exact-int cosine rescore — so the approximate index's OUTPUT is
    * hash-gated, not just row-counted.
    */
  private val annIvfOracle: String =
    s"""WITH $quantizedSql,
       |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |    qv AS cqv, nrm AS cnrm FROM nz WHERE vec_id < $IvfK),
       |sims AS (SELECT v.vec_id, c.cid,
       |    CASE WHEN v.nrm = 0 OR c.cnrm = 0 THEN 0.0
       |         ELSE ${cosSql("v.qv", "v.nrm", "c.cqv", "c.cnrm")} END AS sim
       |  FROM nz v CROSS JOIN cents c),
       |asg AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM sims) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM sims WHERE vec_id < 5) WHERE rn <= $IvfNProbe),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${cosSql("q.qv", "q.nrm", "n.qv", "n.nrm")} AS cos_sim
       |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id != p.query_id
       |  JOIN nz q ON q.vec_id = p.query_id
       |  JOIN nz n ON n.vec_id = a.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  val annIvf: Q = Q("ann_ivf", annIvfOracle) { (s, dir) =>
    import s.implicits._
    graft.functions.IvfExpressions.register(s)
    val K = IvfK
    val NProbe = IvfNProbe
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    // deterministic seed centroids (stand-in for an offline-trained quantizer)
    val cents: Seq[Seq[Long]] = base.filter(col("vec_id") < K)
      .orderBy(col("vec_id")).select(col("qv")).as[Seq[Long]].collect().toSeq
    val centsLit = typedLit(cents)
    val withSims = base.withColumn("sims",
      call_function("centroid_sims", col("qv"), centsLit))
    val assigned = withSims
      .withColumn("cid",
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
      .drop("sims")
    // top-NProbe centroid ids per query: sort (−sim, idx) structs, project idx
    val probes = withSims.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"),
        explode(expr(
          s"""slice(transform(array_sort(zip_with(sims, sequence(0, ${K - 1}),
             |(s, i) -> named_struct('negs', -s, 'i', i))), x -> x.i), 1, $NProbe)"""
            .stripMargin.replace("\n", " "))).as("cid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    // `<=>`, not `===`: plain equality lets the optimizer infer an
    // isnotnull(cid) filter, and pushdown inlines the whole
    // centroid_sims+array_position alias into it — the K×64 dot-product
    // pass ends up evaluated 3× per corpus row (filter twice + project).
    // cid is never null in practice (assignment of a non-null vector), so
    // the null-safe key is row-for-row identical and hash-joins the same.
    assigned.join(broadcast(probes),
        assigned("cid") <=> probes("cid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_qv"), col("q_nrm"), col("qv"), col("nrm")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Product-quantization geometry: [[graft.functions.LshPlanes.Dims]] = 64
    * dims split into PqM=8 subspaces × PqSub=8 dims, PqK=16 codewords per
    * subspace — a vector compresses to 8 codebook indices (4 bits each →
    * 32 bits vs 256 bytes of floats, 64×). Two Lloyd iterations from the
    * deterministic first-K-vec_ids seeds, the [[kmeansTrain]] convention.
    */
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16
  private val PqIters = 2

  /** One per-subspace Lloyd iteration in DuckDB, `prev` → `next`: squared-L2
    * assignment (exact int64 via |x|² − 2x·c + |c|², ties → smallest cid —
    * the exact [[graft.functions.PqMath.codes]] semantics) grouped by
    * subspace m, then the same pmod/floor-div integer centroid update as
    * [[kmIterSql]]; clusters that lose every member keep their codeword.
    * Requires `psv` (vec_id, m, sv) upstream.
    */
  private def pqIterSql(i: Int, prev: String, next: String): String =
    s"""pqs$i AS (SELECT s.vec_id, s.m, c.cid,
       |    CAST(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
       |      + list_dot_product(c.cv, c.cv) AS BIGINT) AS d
       |  FROM psv s JOIN $prev c ON c.m = s.m),
       |pqa$i AS (SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
       |    FROM pqs$i) WHERE rn = 1),
       |pqu$i AS (SELECT a.m, a.cid, d.j AS dim,
       |    CAST(sum(s.sv[d.j + 1]) AS BIGINT) AS su, count(*) AS n
       |  FROM pqa$i a JOIN psv s ON s.vec_id = a.vec_id AND s.m = a.m,
       |       (SELECT unnest(range($PqSub)) AS j) d
       |  GROUP BY 1, 2, 3),
       |pqn$i AS (SELECT m, cid,
       |    list((su - (((su % n) + n) % n)) // n ORDER BY dim) AS cv
       |  FROM pqu$i GROUP BY m, cid),
       |$next AS (SELECT p.m, p.cid, coalesce(u.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN pqn$i u ON u.m = p.m AND u.cid = p.cid)""".stripMargin

  /** DuckDB replay of the full PQ pipeline: same seeds, same per-subspace
    * Lloyd updates, same encode tie-breaks, same exact-int ADC sums — the
    * compressed index's OUTPUT (codes → approximate distances → top-10) is
    * hash-gated end to end, not just row-counted.
    */
  private val annPqOracle: String = {
    val iters = (1 to PqIters)
      .map(i => pqIterSql(i, s"pcb${i - 1}", s"pcb$i")).mkString(",\n")
    s"""WITH $quantizedSql,
       |psv AS (SELECT vec_id, ms.m,
       |    qv[ms.m * $PqSub + 1 : ms.m * $PqSub + $PqSub] AS sv
       |  FROM nz, (SELECT unnest(range($PqM)) AS m) ms),
       |pcb0 AS (SELECT m,
       |    row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid,
       |    sv AS cv FROM psv WHERE vec_id < $PqK),
       |$iters,
       |${pqIterSql(PqIters + 1, s"pcb$PqIters", "pcbend")},
       |qdt AS (SELECT s.vec_id AS query_id, c.m, c.cid,
       |    CAST(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
       |      + list_dot_product(c.cv, c.cv) AS BIGINT) AS d
       |  FROM psv s JOIN pcb$PqIters c ON c.m = s.m WHERE s.vec_id < 5),
       |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |    CAST(sum(q.d) AS BIGINT) AS adist
       |  FROM pqa${PqIters + 1} e JOIN qdt q ON q.m = e.m AND q.cid = e.cid
       |  WHERE e.vec_id != q.query_id
       |  GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, adist, rn FROM r WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin
  }

  /** ANN via product quantization — the memory-compression scale path: the
    * corpus is stored as M=8 codebook indices per vector (~8 bytes vs 256
    * of floats), and query scoring reads ONLY a per-query M×K lookup table
    * (asymmetric distance computation), never the original vectors. At
    * 100 TB this is what makes an in-memory candidate sweep possible at
    * all: 10¹¹ vectors × 8 bytes fit a modest cluster's RAM where raw
    * floats (25 TB) would thrash.
    *
    * Shape: codebook training iterates on exploded (vec_id, m, sv) rows —
    * at real scale Lloyd's runs on a bounded sample (the [[kmeansTrain]]
    * argument), and only encode sweeps the corpus — with ≤ M·K·sub partial
    * sums per partition reaching each update exchange. Encode is the native
    * codegen'd [[graft.functions.PqCodes]] in ONE map pass (zero shuffles);
    * scoring crossJoins the 5-row broadcast query table and evaluates the
    * codegen'd [[graft.functions.PqAdc]] lookup sum map-side; only slim
    * (query, neighbor, adist) rows reach the final top-k exchange.
    *
    * Cross-engine determinism: everything is exact int64 (squared-L2 of
    * quantized subvectors peaks ~3.2·10⁹; ADC sums ×8), so codes, ADC
    * distances and ranks are bit-identical in DuckDB — the `adist` column
    * itself is hash-gated as an exact integer.
    */
  val annPq: Q = Q("ann_pq", annPqOracle) { (s, dir) =>
    import s.implicits._
    graft.functions.PqExpressions.register(s)
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // deterministic seed codebooks: subvectors of the first K vec_ids
    val seedRows: Seq[Seq[Long]] = base.filter(col("vec_id") < PqK)
      .orderBy(col("vec_id")).select(col("qv")).as[Seq[Long]].collect().toSeq
    var cb: Seq[Seq[Seq[Long]]] = (0 until PqM).map(m =>
      seedRows.map(q => q.slice(m * PqSub, m * PqSub + PqSub)))
    // per-iteration assignment rides the same native encode kernel; the
    // explode to (m, code, sv) exists only to feed the update aggregation
    def assignedSub(codebook: Seq[Seq[Seq[Long]]]): DataFrame =
      base
        .withColumn("codes",
          call_function("pq_codes", col("qv"), typedLit(codebook)))
        .select(posexplode(expr(
          s"transform(sequence(0, ${PqM - 1}), m -> " +
            s"struct(codes[m] AS code, slice(qv, m * $PqSub + 1, $PqSub) AS sv))"))
          .as(Seq("m", "e")))
        .select(col("m"), col("e.code").as("code"), col("e.sv").as("sv"))
    for (_ <- 1 to PqIters) {
      // ≤ M·K·sub = 1024 partial rows: the codebook's state, not a data collect
      val partials = assignedSub(cb)
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(sum(col("x")).as("su"), count(lit(1)).as("n"))
        .collect()
      val byKey = partials.map(r =>
        (r.getAs[Int]("m"), r.getAs[Int]("code"), r.getAs[Int]("dim")) ->
          (r.getAs[Long]("su"), r.getAs[Long]("n"))).toMap
      cb = cb.zipWithIndex.map { case (words, m) =>
        words.zipWithIndex.map { case (prev, c) =>
          if (!byKey.contains((m, c, 0))) prev // lost every member: keep
          else (0 until PqSub).map { j =>
            val (su, n) = byKey((m, c, j))
            Math.floorDiv(su, n)
          }
        }
      }
    }
    val cbLit = typedLit(cb)
    val encoded = base
      .withColumn("codes", call_function("pq_codes", col("qv"), cbLit))
      .select(col("vec_id"), col("codes"))
    val qd = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        call_function("pq_dtab", col("qv"), cbLit).as("dtabs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    encoded.crossJoin(broadcast(qd))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("pq_adc", col("codes"), col("dtabs")).as("adist"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** DuckDB replay of the composed IVF×PQ pipeline: the coarse chain
    * replays [[kmeansTrain]] VERBATIM ([[kmIterSql]] — same seeds, same
    * Lloyd updates, final sims/assignment `ks3`/`ka3` vs the trained
    * `kc2`), then [[annPq]]'s per-subspace Lloyd updates run on RESIDUALS
    * (vector − its trained-cell centroid — `psv` is rebuilt from `rsd`,
    * so [[pqIterSql]] replays verbatim), ADC tables from the QUERY's
    * residual in each probed cell, and exact-int ADC sums restricted to
    * candidates of probed cells. The kmeans iteration count is pinned
    * literally (2 — `KmIters` is declared after this val; object init
    * order would bake 0); DedupSimilaritySpec asserts they agree.
    */
  private val ivfPqScoredSql: String = {
    import graft.functions.LshPlanes.Dims
    val kmIters = (1 to 2)
      .map(i => kmIterSql(i, s"kc${i - 1}", s"kc$i")).mkString(",\n")
    val iters = (1 to PqIters)
      .map(i => pqIterSql(i, s"pcb${i - 1}", s"pcb$i")).mkString(",\n")
    s"""WITH $quantizedSql,
       |dims AS (SELECT unnest(range($Dims)) AS dim),
       |elems AS (SELECT vec_id, d.dim, qv[d.dim + 1] AS x FROM nz, dims d),
       |kc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cqv
       |  FROM nz WHERE vec_id < $IvfK),
       |$kmIters,
       |${kmIterSql(3, "kc2", "kcend")},
       |rsd AS (SELECT a.vec_id, a.cid,
       |    list_transform(range($Dims), i -> v.qv[i + 1] - c.cqv[i + 1]) AS rv
       |  FROM ka3 a JOIN nz v USING (vec_id) JOIN kc2 c USING (cid)),
       |psv AS (SELECT vec_id, ms.m,
       |    rv[ms.m * $PqSub + 1 : ms.m * $PqSub + $PqSub] AS sv
       |  FROM rsd, (SELECT unnest(range($PqM)) AS m) ms),
       |pcb0 AS (SELECT m,
       |    row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid,
       |    sv AS cv FROM psv
       |  WHERE vec_id >= $IvfK AND vec_id < ${IvfK + PqK}),
       |$iters,
       |${pqIterSql(PqIters + 1, s"pcb$PqIters", "pcbend")},
       |probes AS (SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM ks3 WHERE vec_id < 5) WHERE rn <= $IvfNProbe),
       |qrsd AS (SELECT p.query_id, p.cid,
       |    list_transform(range($Dims), i -> q.qv[i + 1] - c.cqv[i + 1]) AS rv
       |  FROM probes p JOIN nz q ON q.vec_id = p.query_id JOIN kc2 c USING (cid)),
       |qsv AS (SELECT query_id, cid,  ms.m,
       |    rv[ms.m * $PqSub + 1 : ms.m * $PqSub + $PqSub] AS sv
       |  FROM qrsd, (SELECT unnest(range($PqM)) AS m) ms),
       |qdt AS (SELECT s.query_id, s.cid AS cell, c.m, c.cid AS code,
       |    CAST(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
       |      + list_dot_product(c.cv, c.cv) AS BIGINT) AS d
       |  FROM qsv s JOIN pcb$PqIters c ON c.m = s.m),
       |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |    CAST(sum(q.d) AS BIGINT) AS adist
       |  FROM pqa${PqIters + 1} e
       |  JOIN ka3 av ON av.vec_id = e.vec_id
       |  JOIN qdt q ON q.cell = av.cid AND q.m = e.m AND q.code = e.cid
       |  WHERE e.vec_id != q.query_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  private val annIvfPqOracle: String =
    s"""$ivfPqScoredSql,
       |r AS (SELECT query_id, neighbor_id, adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, adist, rn FROM r WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  /** Candidate width the refine stage rescores exactly: wide enough that
    * the true top-10 survives ADC quantization error (recall floor
    * asserted in DedupSimilaritySpec), narrow enough that the exact pass
    * touches a constant 5×[[RefineShort]] rows at any corpus size.
    */
  private val RefineShort = 40

  /** [[annRefine]]'s oracle: the full IVF×PQ training/scoring chain
    * VERBATIM ([[ivfPqScoredSql]] — shared with [[annIvfPqOracle]], so the
    * two replays cannot drift), then the refine final: top-[[RefineShort]]
    * by ADC distance, exact-integer cosine rescore against the original
    * quantized vectors, top-10 of the refined ranking.
    */
  private val annRefineOracle: String =
    s"""$ivfPqScoredSql,
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS srn
       |    FROM scored) WHERE srn <= $RefineShort),
       |resc AS (SELECT h.query_id, h.neighbor_id,
       |    ${cosSql("q.qv", "q.nrm", "t.qv", "t.nrm")} AS cos_sim
       |  FROM short h JOIN nz q ON q.vec_id = h.query_id
       |  JOIN nz t ON t.vec_id = h.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM resc)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
       |FROM rr WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin

  /** IVF×PQ — the production ANN composition: [[annIvf]]'s coarse
    * quantizer prunes the candidate space to NProbe cells, and [[annPq]]'s
    * codebooks — trained on the RESIDUAL (vector − cell centroid), whose
    * variance is a fraction of the raw vectors' — compress what remains,
    * so query cost is NProbe·n/K table lookups instead of n and the index
    * stores ~8 bytes per vector. This is the FAISS `IVFx,PQy` shape: the
    * coarse step buys the scan pruning, the residual step buys PQ accuracy
    * at the same bit budget (residuals within a cell are centered near
    * zero, so codewords spend resolution on the local geometry, not on
    * reproducing the cell's offset).
    *
    * Shape: assignment and residual are ONE map pass (codegen'd
    * `centroid_sims` + `zip_with` against plan-literal centroids); the
    * persisted residual frame feeds Lloyd training (≤ M·K·sub partials per
    * exchange, the [[annPq]] argument) and the zero-shuffle native encode.
    * The candidate join keys on the CELL id against the ~20-row broadcast
    * probe table — pruning happens BEFORE any ADC evaluation, and only
    * slim (query, neighbor, adist) rows reach the one top-k exchange.
    *
    * Cross-engine determinism: residuals are differences of quantized
    * int64 vectors, so codes, per-cell ADC tables and distance sums stay
    * exact integers — the composed index's OUTPUT is hash-gated end to
    * end, tie-breaks included.
    */
  /** Training + encode stage of the IVF×PQ pipeline, extracted so the
    * index can be SERVED from more than one place: [[annIvfPq]] (rebuild
    * per query — the hash gate of the training chain) and
    * [[ivfPqIndexWrite]] (persist the trained model + postings as parquet
    * tables, served by [[annIndexPersist]]). Returns (coarse centroids,
    * PQ codebooks, encoded postings frame (vec_id, cid, codes)).
    */
  private[operators] def ivfPqTrainEncode(s: SparkSession, dir: String):
      (Seq[Seq[Long]], Seq[Seq[Seq[Long]]], DataFrame) = {
    import s.implicits._
    graft.functions.IvfExpressions.register(s)
    graft.functions.PqExpressions.register(s)
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // the TRAINED coarse quantizer ([[trainCoarse]], shared with
    // kmeansTrain) — raw seed centroids leave label clusters without a
    // cell, whose members carry huge heterogeneous residuals that drown
    // the ADC ranking (measured: recall 0.20 vs 0.30 at sf0.1)
    val cents: Seq[Seq[Long]] = trainCoarse(s, base)
    val centsLit = typedLit(cents)
    val withSims = base.withColumn("sims",
      call_function("centroid_sims", col("qv"), centsLit))
    // persisted: the residual frame feeds codebook training (PqIters
    // passes) AND the final encode — the K×64 assignment pass runs once
    val rsd = graft.Scratch.track(withSims
      .withColumn("cid",
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
      .withColumn("rv", zip_with(col("qv"),
        element_at(centsLit, col("cid") + 1), (x, c) => x - c))
      .select(col("vec_id"), col("cid"), col("rv")))
    // deterministic seed codebooks: residual subvectors of the first K ids
    // AFTER the centroid block — vec_ids 0..IvfK-1 ARE the cell centroids,
    // so their residuals are zero vectors and would collapse the codebook
    // (every code ties to cid 0) — asserted in DedupSimilaritySpec
    val seedRows: Seq[Seq[Long]] = rsd
      .filter(col("vec_id") >= IvfK && col("vec_id") < IvfK + PqK)
      .orderBy(col("vec_id")).select(col("rv")).as[Seq[Long]].collect().toSeq
    var cb: Seq[Seq[Seq[Long]]] = (0 until PqM).map(m =>
      seedRows.map(q => q.slice(m * PqSub, m * PqSub + PqSub)))
    def assignedSub(codebook: Seq[Seq[Seq[Long]]]): DataFrame =
      rsd
        .withColumn("codes",
          call_function("pq_codes", col("rv"), typedLit(codebook)))
        .select(posexplode(expr(
          s"transform(sequence(0, ${PqM - 1}), m -> " +
            s"struct(codes[m] AS code, slice(rv, m * $PqSub + 1, $PqSub) AS sv))"))
          .as(Seq("m", "e")))
        .select(col("m"), col("e.code").as("code"), col("e.sv").as("sv"))
    for (_ <- 1 to PqIters) {
      // ≤ M·K·sub = 1024 partial rows: the codebook's state, not a data collect
      val partials = assignedSub(cb)
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(sum(col("x")).as("su"), count(lit(1)).as("n"))
        .collect()
      val byKey = partials.map(r =>
        (r.getAs[Int]("m"), r.getAs[Int]("code"), r.getAs[Int]("dim")) ->
          (r.getAs[Long]("su"), r.getAs[Long]("n"))).toMap
      cb = cb.zipWithIndex.map { case (words, m) =>
        words.zipWithIndex.map { case (prev, c) =>
          if (!byKey.contains((m, c, 0))) prev // lost every member: keep
          else (0 until PqSub).map { j =>
            val (su, n) = byKey((m, c, j))
            Math.floorDiv(su, n)
          }
        }
      }
    }
    val encoded = rsd
      .withColumn("codes", call_function("pq_codes", col("rv"), typedLit(cb)))
      .select(col("vec_id"), col("cid"), col("codes"))
    (cents, cb, encoded)
  }

  /** Serve the IVF×PQ top-10 from a trained model (centroids + codebooks)
    * and an encoded postings frame — the query-time half shared by
    * [[annIvfPq]] (model just trained) and [[annIndexPersist]] (model and
    * postings read back from parquet). Probes re-derive their residuals
    * against the supplied centroids; candidates prune on cell id before
    * ADC scoring, exactly the rebuild path's shape.
    */
  private[operators] def ivfPqServe(s: SparkSession, dir: String,
      cents: Seq[Seq[Long]], cb: Seq[Seq[Seq[Long]]],
      encoded: DataFrame, k: Int = 10): DataFrame = {
    graft.functions.IvfExpressions.register(s)
    graft.functions.PqExpressions.register(s)
    val centsLit = typedLit(cents)
    val cbLit = typedLit(cb)
    val withSims = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("sims", call_function("centroid_sims", col("qv"), centsLit))
    // per-(query, probed cell) ADC tables from the QUERY's residual in
    // that cell — 5×NProbe rows of M×K lookup tables, broadcast
    val probes = withSims.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv"),
        explode(expr(
          s"""slice(transform(array_sort(zip_with(sims, sequence(0, ${IvfK - 1}),
             |(s, i) -> named_struct('negs', -s, 'i', i))), x -> x.i), 1, $IvfNProbe)"""
            .stripMargin.replace("\n", " "))).as("cid"))
      .withColumn("qrv", zip_with(col("qv"),
        element_at(centsLit, col("cid") + 1), (x, c) => x - c))
      .select(col("query_id"), col("cid"),
        call_function("pq_dtab", col("qrv"), cbLit).as("dtabs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    encoded.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("pq_adc", col("codes"), col("dtabs")).as("adist"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("query_id"), col("rn"))
  }

  val annIvfPq: Q = Q("ann_ivfpq", annIvfPqOracle) { (s, dir) =>
    val (cents, cb, encoded) = ivfPqTrainEncode(s, dir)
    ivfPqServe(s, dir, cents, cb, encoded)
  }

  /** Two-stage retrieve-then-refine — the serving pattern every production
    * ANN deployment ends at (FAISS `refine`, DiskANN's rerank, vector-DB
    * "rescoring"): the compressed index ([[annIvfPq]]'s ADC scan) retrieves
    * a [[RefineShort]]-wide shortlist cheaply, and only that shortlist's
    * ORIGINAL vectors are fetched and scored exactly, repairing the
    * quantization error in the final ranking at a constant extra cost.
    * This is what turns an 8-byte-per-vector index into near-exact top-10:
    * ADC orders the neighborhood roughly; the exact cosine re-orders the
    * survivors. Output is ranked by TRUE similarity, directly comparable
    * to [[knnBrute]]'s.
    *
    * Scale shape: stage 1 is [[ivfPqServe]] unchanged (cell-pruned,
    * candidates never leave the probed cells); stage 2 joins the 5×40-row
    * shortlist BROADCAST against one corpus scan — a map-side semi-join
    * fetch, never a second full scoring pass. The exchanges the refine
    * adds are over 200-row frames.
    */
  val annRefine: Q = Q("ann_refine", annRefineOracle) { (s, dir) =>
    val (cents, cb, encoded) = ivfPqTrainEncode(s, dir)
    val short = ivfPqServe(s, dir, cents, cb, encoded, k = RefineShort)
      .select(col("query_id"), col("neighbor_id"))
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(short), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_qv"), col("q_nrm"), col("qv"), col("nrm")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** One-time persisted IVF×PQ index per corpus version — the production
    * ANN piece the rebuild path lacks: a real deployment trains its
    * quantizers ONCE, writes the model + postings as tables, and every
    * query session thereafter serves from storage. Three parquet tables
    * under a content-stamped [[graft.FixtureStore]] root (reused across
    * sessions while embeddings + producer code are unchanged; Bench builds
    * it outside the timed window):
    *   - `centroids`  (cid, dim, c)        — K×Dims flattened coarse model
    *   - `codebooks`  (m, code, dim, c)    — M×K×sub flattened PQ model
    *   - `postings`   (vec_id, cid, codes) — the encoded corpus
    * Postings are written partitioned by the coarse cell id, the layout a
    * served index wants: a probe touching NProbe cells reads NProbe
    * directories and the cell-id prune becomes PARTITION PRUNING at the
    * scan — no full-postings pass at any corpus size.
    */
  def ivfPqIndexWrite(s: SparkSession, dir: String): String =
    graft.FixtureStore.obtain("annidx", dir, Seq("embeddings"), getClass) { root =>
      import s.implicits._
      val (cents, cb, encoded) = ivfPqTrainEncode(s, dir)
      cents.zipWithIndex
        .flatMap { case (cv, cid) => cv.zipWithIndex.map { case (c, d) =>
          (cid.toLong, d.toLong, c) } }
        .toDF("cid", "dim", "c")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/centroids")
      cb.zipWithIndex
        .flatMap { case (words, m) => words.zipWithIndex.flatMap { case (w, code) =>
          w.zipWithIndex.map { case (c, d) => (m.toLong, code.toLong, d.toLong, c) } } }
        .toDF("m", "code", "dim", "c")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/codebooks")
      encoded.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cid").parquet(s"$root/postings")
      graft.Scratch.release(s)
    }

  /** Query-from-disk ≡ query-from-rebuild — [[annIvfPq]] served from the
    * PERSISTED index ([[ivfPqIndexWrite]]) instead of retraining: the
    * model tables collect back as plan literals (K×Dims and M×K×sub rows
    * — model-sized, the bounded-collect rule) and the postings scan reads
    * the cell-partitioned parquet, so the candidate prune is partition
    * pruning. The oracle replays the full training chain in SQL
    * ([[annIvfPqOracle]], identical to ann_ivfpq's) — the hash gate IS
    * the proof that the stored index serves the same answer the rebuild
    * does, at every SF.
    */
  val annIndexPersist: Q = Q("ann_index_persist", annIvfPqOracle) { (s, dir) =>
    import s.implicits._
    val root = ivfPqIndexWrite(s, dir)
    val cents: Seq[Seq[Long]] = Ingest.parquet(s, s"$root/centroids", CentroidsSchema)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val cb: Seq[Seq[Seq[Long]]] = Ingest.parquet(s, s"$root/codebooks", CodebooksSchema)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._3).map(_._4).toSeq))
    val postings = Ingest.parquet(s, s"$root/postings", PostingsSchema)
      .select(col("vec_id"), col("cid"), col("codes"))
    ivfPqServe(s, dir, cents, cb, postings)
  }

  /** Declared schemas of the three tables [[ivfPqIndexWrite]] stores, in
    * column order; [[annIndexPersist]] reads them without a
    * footer-inference job. The postings' `cid` is the partition column.
    */
  private[operators] val CentroidsSchema: StructType = StructType(
    Seq("cid", "dim", "c").map(StructField(_, LongType)))
  private[operators] val CodebooksSchema: StructType = StructType(
    Seq("m", "code", "dim", "c").map(StructField(_, LongType)))
  private[operators] val PostingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType)),
    StructField("cid", IntegerType)))

  /** Recall diagnostic: fraction of the exact brute-force top-10 that each
    * approximate method (LSH, IVF, PQ, IVF×PQ) recovers, per query — the
    * quality metric an ANN deployment tunes (tables/bits, K/NProbe,
    * codebook geometry) against. Recall floors are asserted in
    * DedupSimilaritySpec.
    */
  /** The recall diagnostic's oracle nests each method's FULL oracle (brute,
    * LSH, IVF, PQ — all hash-gated above) as subqueries and recomputes the
    * same hit fraction: with every input replayable in SQL, the metric
    * itself is too.
    */
  private val annRecallOracle: String =
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM (${knnBrute.oracle.get})),
       |lsh AS (SELECT query_id, neighbor_id FROM ($annLshOracle)),
       |ivf AS (SELECT query_id, neighbor_id FROM ($annIvfOracle)),
       |pq AS (SELECT query_id, neighbor_id FROM ($annPqOracle)),
       |ivfpq AS (SELECT query_id, neighbor_id FROM ($annIvfPqOracle)),
       |sq8 AS (SELECT query_id, neighbor_id FROM ($annSq8Oracle)),
       |approx AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
       |  UNION ALL SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
       |  UNION ALL SELECT 'pq' AS method, query_id, neighbor_id FROM pq
       |  UNION ALL SELECT 'ivfpq' AS method, query_id, neighbor_id FROM ivfpq
       |  UNION ALL SELECT 'sq8' AS method, query_id, neighbor_id FROM sq8),
       |recall AS (SELECT m.method, b.query_id,
       |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS recall
       |  FROM brute b
       |  CROSS JOIN (SELECT unnest(['lsh', 'ivf', 'pq', 'ivfpq', 'sq8']) AS method) m
       |  LEFT JOIN approx a ON a.method = m.method
       |    AND a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY m.method, b.query_id)
       |SELECT method, query_id, recall FROM recall
       |ORDER BY method, query_id""".stripMargin

  /** K-means iteration count and K for [[kmeansTrain]]. Two Lloyd updates
    * then a final assignment: enough to demonstrably move every centroid
    * off its seed (asserted in DedupSimilaritySpec) while keeping the
    * oracle's CTE replay readable.
    */
  private val KmK = IvfK
  private val KmIters = 2

  /** One Lloyd iteration in DuckDB, `prev` → `next`: cosine assignment
    * (ties to the smallest centroid id, zero-norm vectors sim 0 — the
    * exact [[graft.functions.IvfMath.sims]] semantics), then the
    * centroid update as EXACT integer arithmetic — per-dimension member
    * sums floor-divided by the member count: subtracting the pmod makes
    * `s - pmod(s, n)` an exact multiple of n, so DuckDB's truncating `//`
    * divides it exactly for either sign (matching `Math.floorDiv` on the
    * Spark side) and the result stays BIGINT — no lossy DOUBLE `/` in the
    * path. A cluster that loses every member keeps
    * its previous centroid. Requires `nz` ([[quantizedSql]]) and `elems`
    * (vec_id, dim, x) upstream.
    */
  private def kmIterSql(i: Int, prev: String, next: String,
      corpus: String = "nz", elemsT: String = "elems"): String =
    s"""ks$i AS (SELECT v.vec_id, c.cid,
       |    CASE WHEN v.nrm = 0 OR list_dot_product(c.cqv, c.cqv) = 0 THEN 0.0
       |         ELSE CAST(list_dot_product(v.qv, c.cqv) AS DOUBLE)
       |           / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(list_dot_product(c.cqv, c.cqv) AS DOUBLE))) END AS sim
       |  FROM $corpus v CROSS JOIN $prev c),
       |ka$i AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM ks$i) WHERE rn = 1),
       |ku$i AS (SELECT a.cid, e.dim, CAST(sum(e.x) AS BIGINT) AS s, count(*) AS n
       |  FROM ka$i a JOIN $elemsT e USING (vec_id) GROUP BY a.cid, e.dim),
       |kn$i AS (SELECT cid,
       |    list((s - (((s % n) + n) % n)) // n ORDER BY dim) AS cqv
       |  FROM ku$i GROUP BY cid),
       |$next AS (SELECT p.cid, coalesce(u.cqv, p.cqv) AS cqv
       |  FROM $prev p LEFT JOIN kn$i u USING (cid))""".stripMargin

  /** DuckDB replay of the full training loop: same seeds (first K vec_ids,
    * rank = centroid id), same assignment tie-breaks, same floor-div
    * integer centroid updates, same final sizes — the trained MODEL is
    * hash-gated dimension by dimension, not just row-counted.
    */
  private val kmeansOracle: String = {
    import graft.functions.LshPlanes.Dims
    val iters = (1 to KmIters)
      .map(i => kmIterSql(i, s"kc${i - 1}", s"kc$i")).mkString(",\n")
    s"""WITH $quantizedSql,
       |dims AS (SELECT unnest(range($Dims)) AS dim),
       |elems AS (SELECT vec_id, d.dim, qv[d.dim + 1] AS x FROM nz, dims d),
       |kc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cqv
       |  FROM nz WHERE vec_id < $KmK),
       |$iters,
       |${kmIterSql(KmIters + 1, s"kc$KmIters", "kcend")}
       |SELECT ce.cid, ce.dim, ce.c, coalesce(sz.n, 0) AS n
       |FROM (SELECT cid, d.dim, cqv[d.dim + 1] AS c FROM kc$KmIters, dims d) ce
       |LEFT JOIN (SELECT cid, count(*) AS n FROM ka${KmIters + 1} GROUP BY cid) sz
       |  USING (cid)
       |ORDER BY cid, dim""".stripMargin
  }

  /** Distributed k-means training (Lloyd's) over the quantized embeddings —
    * the offline step that PRODUCES the coarse quantizer [[annIvf]]
    * consumes as its model (its doc: "at real scale the centroids come
    * from an offline k-means"). Output: the trained centroid matrix,
    * flattened to (cid, dim, c) for hash-gating, with final cluster sizes.
    *
    * Per iteration: assignment is the codegen'd `centroid_sims` against a
    * plan-literal centroid matrix — pure map-side, zero corpus shuffle —
    * and the update is a posexplode to slim (cid, dim, x) rows into a
    * two-phase agg whose partial combine leaves at most K×Dims partial
    * sums per partition reaching the exchange. The K×Dims model collect
    * per round is the quantizer's state, not a data collect (same
    * legitimacy as [[annIvf]]'s seed collect).
    *
    * Cross-engine determinism: member sums are exact int64 (order
    * independent under any partitioning), centroids renormalize by
    * `Math.floorDiv(sum, n)` — back to quantized scale, so cosine stays in
    * the exact-in-double magnitude regime that [[graft.functions.IvfMath]]
    * and the oracle share — and cosine is scale-invariant, so the
    * floor-div mean assigns identically to the true mean direction up to
    * the (replayed) rounding. Empty clusters keep their previous centroid.
    *
    * 100 TB shape: at real scale the training loop runs on a bounded
    * sample (k-means needs ~K×1000 points, not the corpus — swap `base`
    * for [[Sampling]]'s deterministic digest sample) and only the final
    * map-side assignment sweeps everything; the iteration plumbing here is
    * unchanged. Exactness bound: per-(cid,dim) int64 sums are exact to
    * ~9·10¹⁴ members per cluster, far past any real shard.
    */
  /** [[KmIters]] Lloyd updates from the deterministic first-[[KmK]] seeds
    * over a (vec_id, qv) frame → the trained K×Dims centroid matrix.
    * Shared by [[kmeansTrain]] (which reports the model) and [[annIvfPq]]
    * (which consumes it as the coarse quantizer — the composition
    * kmeansTrain's doc promises). Per iteration: one map-side codegen'd
    * assignment + a K×Dims-bounded partial-sum exchange; the model
    * collect is the quantizer's state, not a data collect.
    */
  private[operators] def trainCoarse(s: SparkSession,
      base: DataFrame, k: Int = KmK): Seq[Seq[Long]] = {
    import s.implicits._
    import graft.functions.LshPlanes.Dims
    graft.functions.IvfExpressions.register(s)
    var cents: Seq[Seq[Long]] = base.filter(col("vec_id") < k)
      .orderBy(col("vec_id")).select(col("qv")).as[Seq[Long]].collect().toSeq
    for (_ <- 1 to KmIters) {
      val partials = base
        .withColumn("sims",
          call_function("centroid_sims", col("qv"), typedLit(cents)))
        .withColumn("cid",
          (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCid = partials.groupBy(_.getAs[Int]("cid"))
      cents = cents.zipWithIndex.map { case (prev, k) =>
        byCid.get(k).fold(prev) { rows =>
          val next = Array.ofDim[Long](Dims)
          rows.foreach { r =>
            next(r.getAs[Int]("dim")) =
              Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))
          }
          next.toSeq
        }
      }
    }
    cents
  }

  val kmeansTrain: Q = Q("kmeans_train", kmeansOracle) { (s, dir) =>
    import s.implicits._
    graft.functions.IvfExpressions.register(s)
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    def assign(cents: Seq[Seq[Long]]): DataFrame = base
      .withColumn("sims", call_function("centroid_sims", col("qv"), typedLit(cents)))
      .withColumn("cid",
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
      .drop("sims")
    val cents: Seq[Seq[Long]] = trainCoarse(s, base)
    val model = cents.zipWithIndex.map { case (c, k) => (k, c) }
      .toDF("cid", "cqv")
      .select(col("cid"), posexplode(col("cqv")).as(Seq("dim", "c")))
    val sizes = assign(cents).groupBy(col("cid")).agg(count(lit(1)).as("n"))
    model.join(sizes, Seq("cid"), "left")
      .select(col("cid").cast("long").as("cid"),
        col("dim").cast("long").as("dim"), col("c"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("cid"), col("dim"))
  }

  /** Random-sign (JL) projection of every embedding to
    * [[graft.functions.RpPlanes.ProjDims]] dims — the width-reduction pass
    * an ANN pipeline runs before indexing when even 64 dims is too wide
    * for the candidate stage. The heavy lifting is the codegen'd
    * [[graft.functions.RandomSignProject]] expression: scan → quantize →
    * project is ONE whole-stage-codegen map with zero shuffles (the
    * presentation explode/sort exist only for the gate's long-format dump;
    * a pipeline consumer keeps the array column and the stage stays
    * exchange-free at any corpus size). The md5-derived sign tensor is
    * rebuilt in SQL so the oracle replays the projection bit-for-bit.
    */
  val embedProject: Q = Q("embed_project", {
    import graft.functions.RpPlanes.ProjDims
    import graft.functions.LshPlanes.Dims
    s"""WITH $quantizedSql,
       |dims AS (SELECT unnest(range($Dims)) AS i),
       |pj AS (SELECT unnest(range($ProjDims)) AS j),
       |sgn AS (SELECT j, i,
       |    CASE WHEN (strpos('0123456789abcdef', substr(md5('rp#' || CAST(j AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 1)) - 1) & 1 = 1
       |         THEN 1 ELSE -1 END AS s
       |  FROM pj, dims),
       |elems AS (SELECT vec_id, i.i AS i, qv[i.i + 1] AS x FROM nz, dims i)
       |SELECT e.vec_id, CAST(g.j AS BIGINT) AS dim, CAST(sum(e.x * g.s) AS BIGINT) AS v
       |FROM elems e JOIN sgn g USING (i)
       |GROUP BY 1, 2 ORDER BY vec_id, dim""".stripMargin
  }) { (s, dir) =>
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id"),
        posexplode(call_function("random_project", col("qv"))).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Session memo of the six ranked top-k frames (brute + the five ANN
    * methods) shared by the TWO metric readouts [[annRecall]] and
    * [[annMrr]] — the [[Dedup.minhashPairs]] contract: without it each
    * metric query re-paid every pipeline's full cost (kmeans training,
    * PQ codebooks, corpus scans — ~5 s each at sf0.1, doubling at every
    * scale) to derive a 5×5×10-row ranked table it could have read from
    * the other's materialization. The frames are tiny (≤ queries·k rows
    * of (query_id, neighbor_id, cos_sim, rn)) but their LINEAGE is the
    * expensive part — MEMORY_AND_DISK pins the result so the second
    * consumer is a readout, not a rebuild. First consumer pays (the
    * first-payer honesty convention); teardown in [[releaseSession]],
    * called by Bench/Verify before `spark.stop()`.
    */
  private val rankCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private def rankedMethodQ(method: String): Q = method match {
    case "brute" => knnBrute
    case "lsh"   => annLsh
    case "ivf"   => annIvf
    case "pq"    => annPq
    case "ivfpq" => annIvfPq
    case "sq8"   => annSq8
  }

  /** The ranked frame behind `method`. "bm25" (round 19, verdict task
    * 6) is the LEXICAL ranking [[retrievalRrf]] fuses: before it joined
    * the family, the BM25 top-10 re-ran its postings pipeline on every
    * fusion readout (~2 s at ×100) while the six dense rankings were
    * shared. Schema (query_id, doc_id, rn), exact integer ranks.
    */
  private def rankedMethodDf(s: SparkSession, dir: String,
      method: String): DataFrame = method match {
    case "bm25" =>
      TextAnalysis.bm25Rank(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text")), excludeSelf = true)
        .select(col("query_id"), col("doc_id"), col("rn"))
    case m => rankedMethodQ(m).run(s, dir)
  }

  private[operators] def rankedTopK(s: SparkSession, dir: String, method: String): DataFrame =
    rankCache.getOrElseUpdate((s, dir, method),
      rankedMethodDf(s, dir, method)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** End-of-session teardown for the SESSION-scoped memos ([[rankCache]],
    * [[semModelCache]]) — the [[Dedup.releaseSession]] contract
    * (mid-session the memo's whole point is to stay). */
  def releaseSession(s: SparkSession): Unit = {
    releaseRankMemos(s)
    semModelCache.keys.filter(_._1 eq s).foreach(semModelCache.remove)
  }

  /** Release ONLY the ranked-frame memos — the [[graft.SessionMemos]]
    * per-family hook (the semantic-model cache has different consumers
    * and no executor storage, so it stays for the session).
    */
  def releaseRankMemos(s: SparkSession): Unit =
    rankCache.keys.filter(_._1 eq s).foreach { k =>
      rankCache.remove(k).foreach(_.unpersist(blocking = false))
    }

  val annRecall: Q = Q("ann_recall", annRecallOracle) { (s, dir) =>
    import s.implicits._
    // Evaluate each pipeline subtree ONCE: the per-method union tags the
    // approximate results, and the brute baseline is cross-joined against
    // the (tiny) method list instead of appearing in one union branch per
    // method — Spark has no subtree reuse across union branches, so the
    // per-method `recallOf(brute, ...)` form ran the exact brute-force
    // scan twice. Each method's ranked frame comes from the session memo
    // ([[rankedTopK]]) shared with [[annMrr]].
    val brute = rankedTopK(s, dir, "brute")
      .select(col("query_id"), col("neighbor_id"))
    def tagged(method: String): DataFrame =
      rankedTopK(s, dir, method)
        .select(col("query_id"), col("neighbor_id"), lit(method).as("method"))
    val approx = tagged("lsh")
      .unionByName(tagged("ivf"))
      .unionByName(tagged("pq"))
      .unionByName(tagged("ivfpq"))
      .unionByName(tagged("sq8"))
      .withColumn("hit", lit(1))
    brute.crossJoin(Seq("lsh", "ivf", "pq", "ivfpq", "sq8").toDF("method"))
      .join(approx, Seq("method", "query_id", "neighbor_id"), "left")
      .groupBy(col("method"), col("query_id"))
      .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
      .select(col("method"), col("query_id"), col("recall"))
      .orderBy(col("method"), col("query_id"))
  }

  /** MRR diagnostic oracle — [[annRecallOracle]]'s nesting convention
    * with each method keeping its rank column. */
  private val annMrrOracle: String =
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM (${knnBrute.oracle.get})),
       |lsh AS (SELECT query_id, neighbor_id, rn FROM ($annLshOracle)),
       |ivf AS (SELECT query_id, neighbor_id, rn FROM ($annIvfOracle)),
       |pq AS (SELECT query_id, neighbor_id, rn FROM ($annPqOracle)),
       |ivfpq AS (SELECT query_id, neighbor_id, rn FROM ($annIvfPqOracle)),
       |sq8 AS (SELECT query_id, neighbor_id, rn FROM ($annSq8Oracle)),
       |approx AS (SELECT 'lsh' AS method, query_id, neighbor_id, rn FROM lsh
       |  UNION ALL SELECT 'ivf' AS method, query_id, neighbor_id, rn FROM ivf
       |  UNION ALL SELECT 'pq' AS method, query_id, neighbor_id, rn FROM pq
       |  UNION ALL SELECT 'ivfpq' AS method, query_id, neighbor_id, rn FROM ivfpq
       |  UNION ALL SELECT 'sq8' AS method, query_id, neighbor_id, rn FROM sq8),
       |fh AS (SELECT a.method, a.query_id, CAST(min(a.rn) AS BIGINT) AS first_hit
       |  FROM approx a JOIN brute b
       |    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
       |  GROUP BY 1, 2)
       |SELECT m.method, q.query_id,
       |  CAST(coalesce(fh.first_hit, 0) AS BIGINT) AS first_hit_rank,
       |  CAST(CASE WHEN fh.first_hit IS NULL THEN 0
       |       ELSE 1000000 // fh.first_hit END AS BIGINT) AS mrr_ppm
       |FROM (SELECT DISTINCT query_id FROM brute) q
       |CROSS JOIN (SELECT unnest(['lsh', 'ivf', 'pq', 'ivfpq', 'sq8']) AS method) m
       |LEFT JOIN fh ON fh.method = m.method AND fh.query_id = q.query_id
       |ORDER BY m.method, q.query_id""".stripMargin

  /** Rank-aware retrieval quality — the metric [[annRecall]]'s set
    * overlap cannot see: recall@10 treats a relevant neighbor at rank 1
    * and rank 10 identically, but a RAG consumer reads from the top, so
    * deployments also tune on MRR — the reciprocal rank of the FIRST
    * relevant result (relevant = the exact brute-force top-10). Reported
    * per (method, query) as `first_hit_rank` (0 = the method surfaced no
    * true neighbor at all) and `mrr_ppm = ⌊10⁶/first_hit⌋` — exact
    * integers, so the gate hashes the metric itself, per the
    * [[annRecallOracle]] every-input-replayable convention.
    *
    * Scale shape: each method's pipeline keeps its own audited shape; the
    * metric join touches only 5 methods × 5 queries × ≤10 ranked rows.
    */
  val annMrr: Q = Q("ann_mrr", annMrrOracle) { (s, dir) =>
    import s.implicits._
    // Reads the SAME six memoized ranked frames as [[annRecall]]
    // ([[rankedTopK]]): whichever metric runs first pays the pipelines,
    // the other is a 5×5×10-row readout join.
    val brute = rankedTopK(s, dir, "brute")
      .select(col("query_id"), col("neighbor_id"))
    def tagged(method: String): DataFrame =
      rankedTopK(s, dir, method)
        .select(col("query_id"), col("neighbor_id"), col("rn"),
          lit(method).as("method"))
    val approx = tagged("lsh")
      .unionByName(tagged("ivf"))
      .unionByName(tagged("pq"))
      .unionByName(tagged("ivfpq"))
      .unionByName(tagged("sq8"))
    val fh = approx
      .join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("method"), col("query_id"))
      .agg(min(col("rn")).as("first_hit"))
    brute.select(col("query_id")).distinct()
      .crossJoin(Seq("lsh", "ivf", "pq", "ivfpq", "sq8").toDF("method"))
      .join(fh, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("first_hit"), lit(0L)).as("first_hit_rank"),
        coalesce(expr("1000000 div first_hit"), lit(0L)).as("mrr_ppm"))
      .orderBy(col("method"), col("query_id"))
  }

  private val classStatsOracle: String = {
    import graft.functions.LshPlanes.Dims
    s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |e AS (SELECT label, d.r AS dim, qv[d.r + 1] AS x
       |  FROM q, (SELECT unnest(range($Dims)) AS r) d),
       |s AS (SELECT label, dim, CAST(sum(x) AS BIGINT) AS s, count(*) AS n
       |  FROM e GROUP BY 1, 2),
       |c AS MATERIALIZED (SELECT label, n,
       |    list((s - (((s % n) + n) % n)) // n ORDER BY dim) AS cq
       |  FROM s GROUP BY label, n),
       |coh AS (SELECT q.label,
       |    CAST(sum(CAST(list_dot_product(q.qv, c.cq) AS BIGINT)) AS BIGINT) AS coh
       |  FROM q JOIN c USING (label) GROUP BY q.label)
       |SELECT ce.label, ce.dim, ce.c, ce.n,
       |  CAST(list_dot_product(c2.cq, c2.cq) AS BIGINT) AS cnorm2, coh.coh
       |FROM (SELECT label, n, d.r AS dim, cq[d.r + 1] AS c
       |      FROM c, (SELECT unnest(range($Dims)) AS r) d) ce
       |JOIN c c2 USING (label)
       |JOIN coh USING (label)
       |ORDER BY ce.label, ce.dim""".stripMargin
  }

  /** Per-label embedding-space report — the class-quality readout a
    * labeled-embedding pipeline (classifier data audit, clustering sanity
    * pass) wants: each label's member count, exact integer centroid
    * (flattened to (label, dim, c) for hash-gating, the [[kmeansTrain]]
    * convention), the centroid's squared norm, and the class COHESION —
    * the exact int64 sum over members of dot(member, centroid), the
    * un-normalized numerator of average-cosine-to-centroid. Everything is
    * quantized integer arithmetic: member sums are order-independent
    * int64, the centroid is `floorDiv(sum, n)` (pmod idiom, replayed by
    * DuckDB's exact `//` on the pmod-adjusted multiple), and cohesion
    * sums per-member BIGINT dots — no float accumulation anywhere.
    *
    * Shape: one posexplode into slim (label, dim, x) rows feeding a
    * two-phase agg (≤ |labels|·Dims partials per partition reach the
    * exchange); the assembled |labels|-row centroid model broadcasts back
    * for the cohesion pass — the corpus is scanned twice, shuffled never
    * (both aggregations collapse map-side to model-size partials).
    */
  val classStats: Q = Q("embed_class_stats", classStatsOracle) { (s, dir) =>
    val base = Tables.load(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        quantize(col("embedding")).as("qv"))
    val sums = base
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    // the |labels|-row centroid model: persisted (Scratch-tracked) single-
    // partition because BOTH the cohesion pass and the final per-dim
    // flatten consume it — unpersisted, each re-derives the aggregation
    val cvec = graft.Scratch.track(sums
      .select(col("label"), col("n"), col("dim"),
        expr("(s - pmod(s, n)) div n").as("c"))
      .groupBy(col("label"), col("n"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)")
        .as("cq"))
      .coalesce(1))
    val coh = base.join(broadcast(cvec.select(col("label"), col("cq"))), "label")
      .select(col("label"), dotQ(col("qv"), col("cq")).as("d"))
      .groupBy(col("label")).agg(sum(col("d")).as("coh"))
    cvec
      .select(col("label"), col("n"),
        posexplode(col("cq")).as(Seq("dim", "c")),
        dotQ(col("cq"), col("cq")).as("cnorm2"))
      .join(broadcast(coh), "label")
      .select(col("label"), col("dim").cast("long").as("dim"), col("c"),
        col("n"), col("cnorm2"), col("coh"))
      .orderBy(col("label"), col("dim"))
  }

  private val gramOracle: String = {
    import graft.functions.LshPlanes.Dims
    s"""WITH $quantizedSql,
       |elems AS (SELECT vec_id, d.r AS i, qv[d.r + 1] AS x
       |  FROM nz, (SELECT unnest(range($Dims)) AS r) d)
       |SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS g
       |FROM elems a JOIN elems b ON b.vec_id = a.vec_id AND b.i >= a.i
       |GROUP BY 1, 2 ORDER BY i, j""".stripMargin
  }

  /** Exact Gram matrix Xᵀ·X over the quantized embedding corpus — the
    * one-pass reduction behind covariance/PCA, ridge-regression normal
    * equations, and whitening: every downstream linear-algebra step runs
    * on this Dims×Dims summary, so the CORPUS is touched exactly once.
    *
    * Shape: a typed [[graft.functions.TypedAggs.gramUpper]] global
    * aggregate — each partition folds rows into one upper-triangle long
    * array (~16 KB) updated in place, and only those per-partition
    * partials reach the final combine: zero data shuffle at any corpus
    * size (the same reduction pattern MLlib's normal-equation solvers
    * use). The oracle states the textbook per-element self-join instead;
    * int64 sums make both orders exact, so the hash gate proves the
    * in-place fold ≡ the relational formulation. Output is the 2080-cell
    * upper triangle as (i, j, g) rows.
    */
  val embedGram: Q = Q("embed_gram", gramOracle) { (s, dir) =>
    import s.implicits._
    import graft.functions.LshPlanes.Dims
    val qvs = Tables.load(s, dir, "embeddings")
      .select(quantize(col("embedding")).as("qv")).as[Seq[Long]]
    // the typed aggregate's product output flattens to its field `g`
    val flat = qvs.select(graft.functions.TypedAggs.gramUpper(Dims).toColumn)
    val idxMap = (for { i <- 0 until Dims; j <- i until Dims }
      yield (i, j)).zipWithIndex
      .map { case ((i, j), idx) => (idx, i.toLong, j.toLong) }
      .toDF("idx", "i", "j")
    flat.select(posexplode(col("g")).as(Seq("idx", "g")))
      .join(broadcast(idxMap), "idx")
      .select(col("i"), col("j"), col("g"))
      .orderBy(col("i"), col("j"))
  }

  /** Cluster size target and duplicate threshold for [[dedupSemantic]].
    * τ follows the paper's methodology — tuned per corpus to a target
    * dedup fraction, NOT a universal constant (SemDeDup sweeps ε until the
    * kept fraction matches budget): this synthetic corpus' near-dup mass
    * sits at cosine ≥ 0.4 (measured: zero pairs ≥ 0.7 at any shipped SF,
    * ~900 pairs ≥ 0.4 at sf0.1), so 0.4 is where the verdict is live.
    */
  private val SemTargetCell = 250
  private val SemTau = 0.4

  /** Hard bound on the members any single within-cluster pair join group
    * may hold — the semantic family's twin of the LSH band-join hot-bucket
    * cap ([[Dedup]]'s `MaxBucket`, the r4 8 GB-OOM lesson). The measured-K
    * formula TARGETS ~[[SemTargetCell]] members/cell, but k-means offers no
    * guarantee: a boilerplate-dominated corpus collapses into one
    * mega-cluster and the uncapped `cid` self-join concentrates a
    * quadratic group on a single key — binding exactly when dedup is most
    * needed. Unlike the LSH cap (drop the bucket: it carries no signal),
    * an oversized CELL still carries the duplicates, so instead of
    * dropping it is SUB-SPLIT deterministically: m = ⌈members/cap⌉
    * sub-groups by `vec_id % m`, pairs form only within (cid, sub). Every
    * join group is ≤ ~cap members; near-dups landing in different
    * sub-groups are the recall price — the same banding trade the LSH
    * family makes, degrading gracefully instead of OOMing. Cells at or
    * under the cap get m = 1 → bit-identical to the uncapped semantics.
    */
  private val SemCellCap = 1000

  /** DuckDB replay of the semantic-dedup pipeline: the same measured-K
    * formula, the same [[kmIterSql]] training chain off rank-seeded
    * centroids, the same zero-guarded assignment sim, and the same
    * within-cell pair scoring + keep rule — so the kept/dropped VERDICT
    * per document is hash-gated, not just counted.
    */
  /** Shared oracle prefix: measured-K training + zero-guarded assignment,
    * ending with `asg` (vec_id, cid, csim) — the replay of
    * [[semanticAssign]], consumed by [[semanticOracle]] and
    * [[pruneOracle]]. */
  private val semanticAsgSql: String = {
    import graft.functions.LshPlanes.Dims
    val iters = (1 to KmIters)
      .map(i => kmIterSql(i, s"kc${i - 1}", s"kc$i")).mkString(",\n")
    s"""$quantizedSql,
       |dims AS (SELECT unnest(range($Dims)) AS dim),
       |elems AS (SELECT vec_id, d.dim, qv[d.dim + 1] AS x FROM nz, dims d),
       |kp AS (SELECT greatest(4, (count(*) + ${SemTargetCell - 1}) // $SemTargetCell) AS k FROM nz),
       |kc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cqv
       |  FROM nz WHERE vec_id < (SELECT k FROM kp)),
       |$iters,
       |fs AS (SELECT v.vec_id, c.cid,
       |    CASE WHEN v.nrm = 0 OR list_dot_product(c.cqv, c.cqv) = 0 THEN 0.0
       |         ELSE CAST(list_dot_product(v.qv, c.cqv) AS DOUBLE)
       |           / (sqrt(CAST(v.nrm AS DOUBLE)) * sqrt(CAST(list_dot_product(c.cqv, c.cqv) AS DOUBLE))) END AS sim
       |  FROM nz v CROSS JOIN kc$KmIters c),
       |asg AS (SELECT vec_id, cid, sim AS csim FROM (
       |    SELECT vec_id, cid, sim,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM fs) WHERE rn = 1)""".stripMargin
  }

  private val semanticOracle: String = {
    s"""WITH $semanticAsgSql,
       |cc AS (SELECT cid, (count(*) + $SemCellCap - 1) // $SemCellCap AS m
       |  FROM asg GROUP BY cid),
       |av AS (SELECT a.vec_id, a.cid, a.csim, n.qv, n.nrm,
       |    a.vec_id % cc.m AS sub
       |  FROM asg a JOIN nz n USING (vec_id) JOIN cc USING (cid)),
       |pr AS (SELECT v.vec_id,
       |    CASE WHEN u.csim < v.csim OR (u.csim = v.csim AND u.vec_id < v.vec_id)
       |         THEN 1 ELSE 0 END AS dom
       |  FROM av v JOIN av u
       |    ON v.cid = u.cid AND v.sub = u.sub AND v.vec_id != u.vec_id
       |  WHERE (CASE WHEN v.nrm = 0 OR u.nrm = 0 THEN 0.0
       |         ELSE ${cosSql("v.qv", "v.nrm", "u.qv", "u.nrm")} END) >= $SemTau),
       |vd AS (SELECT vec_id, count(*) AS n_near, max(dom) AS dommax
       |  FROM pr GROUP BY vec_id)
       |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, a.csim,
       |  CAST(coalesce(v.n_near, 0) AS BIGINT) AS n_near,
       |  (coalesce(v.dommax, 0) = 0) AS kept
       |FROM asg a LEFT JOIN vd v USING (vec_id) ORDER BY vec_id""".stripMargin
  }

  /** Semantic deduplication — the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then look for
    * near-duplicates ONLY within a cluster, and in each duplicate pair keep
    * the document LESS similar to its cluster centroid (the more
    * "informative" example; ties break to the smaller vec_id). Per-document
    * verdict output: (vec_id, cid, csim, n_near, kept).
    *
    * Scale shape — the whole point of the method: pair generation is
    * cluster-bounded, never corpus-quadratic. K is MEASURED from the corpus
    * (max(4, ⌈n/[[SemTargetCell]]⌉) — the knob-free idiom), so expected
    * cell size stays ~[[SemTargetCell]] at ANY corpus size and the
    * within-cell self-join costs K·C(cell,2) ≈ n·cell/2 comparisons — linear
    * in n at fixed cell target. The n-collect is a 1-row aggregate; the
    * trained model is K×Dims ints (collect-legitimate; at the scale where
    * K×Dims itself outgrows a broadcast, production SemDeDup assigns cells
    * through a hierarchical/IVF quantizer — the [[annIvf]] probe path —
    * with this operator's pair stage unchanged). Training reuses
    * [[trainCoarse]] ([[KmIters]] Lloyd rounds: map-side codegen'd
    * assignment, K×Dims-bounded partial-sum exchanges). The pair join keys
    * on cid — the per-cell candidate pairs stream through the join's cosine
    * filter without a second corpus exchange — and everything downstream is
    * neighbor-pair-sized.
    */
  /** Measured K for [[dedupSemantic]]: cells target ~[[SemTargetCell]]
    * members at any corpus size. */
  def semK(n: Long): Int =
    Math.max(4L, (n + SemTargetCell - 1) / SemTargetCell).toInt

  /** Train + assign for [[dedupSemantic]] over a (vec_id, qv, nrm) frame:
    * the returned (…, cid, csim) frame is ONE map-side codegen projection
    * over the (persisted) base — zero exchanges, spec-asserted. */
  def semanticAssign(s: SparkSession, base: DataFrame): DataFrame = {
    // 1-row model collect → K derived from the measured corpus size
    val k = semK(base.count())
    assignWithModel(s, base,
      trainCoarse(s, base.select(col("vec_id"), col("qv")), k))
  }

  /** The assignment projection alone, against an already-trained model —
    * the serve side of the train-once/assign-many split. */
  private def assignWithModel(s: SparkSession, base: DataFrame,
      cents: Seq[Seq[Long]]): DataFrame = {
    graft.functions.IvfExpressions.register(s)
    base
      .withColumn("sims",
        call_function("centroid_sims", col("qv"), typedLit(cents)))
      .withColumn("cid",
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
      .withColumn("csim", array_max(col("sims")))
      .drop("sims")
  }

  /** The embeddings corpus in the semantic family's (vec_id, qv, nrm)
    * shape. */
  private def semanticCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))

  private val semModelCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[Seq[Long]]]

  /** The measured-K semantic model for a corpus dir, trained once and
    * memoized per (session, dir), so both consumers ([[dedupSemantic]],
    * [[sampleProto]]) share one [[KmIters]]-round training. */
  private[operators] def semanticModel(s: SparkSession, dir: String): Seq[Seq[Long]] =
    semModelCache.getOrElseUpdate((s, dir), {
      val base = semanticCorpus(s, dir)
      trainCoarse(s, base.select(col("vec_id"), col("qv")), semK(base.count()))
    })

  /** Full per-document verdict from a (vec_id, qv, nrm) frame — shared by
    * the registered query and the planted-duplicate spec. */
  def semanticVerdict(s: SparkSession, baseDf: DataFrame,
      model: Option[Seq[Seq[Long]]] = None): DataFrame = {
    val base = graft.Scratch.track(baseDf)
    // sub-split oversized cells (see [[SemCellCap]]): the cell-count frame
    // is K-sized (broadcast), and sub = vec_id % ⌈members/cap⌉ bounds every
    // (cid, sub) join group at ~cap members — m = 1 (sub = 0) for every
    // cell at or under the cap, so the common case is bit-identical to the
    // uncapped semantics and the gate checks the capped form at all SFs
    val asg0 = graft.Scratch.track(
      model.fold(semanticAssign(s, base))(assignWithModel(s, base, _)))
    val cellM = asg0
      .groupBy(col("cid")).agg(count(lit(1)).as("members"))
      .select(col("cid"),
        expr(s"(members + ${SemCellCap - 1}) div $SemCellCap").as("m"))
    val assigned = graft.Scratch.track(asg0
      .join(broadcast(cellM), Seq("cid"))
      .withColumn("sub", pmod(col("vec_id"), col("m"))))
    // CELL-LOCAL pair scoring: the (cid, sub) self-JOIN form materialized
    // every candidate pair as a joined row carrying BOTH 64-long vector
    // payloads — ~25M pairs × ~1 KB = tens of GB of row copies at ×100,
    // which was the whole query's cost. Instead, ONE slim exchange
    // co-locates each capped cell's members (cell size ≤ ~SemCellCap by
    // the sub-split, so a cell always fits a task) and the pairwise sweep
    // runs over primitive arrays: each vector materializes once per cell
    // instead of once per PAIR, each unordered pair's cosine computes
    // once, and the arithmetic is the exact dotQ/sqrt/divide chain the
    // join form evaluated (bit-identical verdicts; the brief's
    // mapPartitions-as-last-resort card, played because no join layout
    // avoids the quadratic payload copy).
    import org.apache.spark.sql.Encoders
    val verdict = assigned
      .select(col("cid").cast("long").as("cid"), col("sub").cast("long").as("sub"),
        col("vec_id"), col("csim"), col("qv"), col("nrm"))
      .as(Encoders.product[SemCellMember])
      .repartition(col("cid"), col("sub"))
      .mapPartitions { it =>
        val cells = scala.collection.mutable.HashMap
          .empty[(Long, Long), scala.collection.mutable.ArrayBuffer[SemCellMember]]
        it.foreach { m =>
          cells.getOrElseUpdate((m.cid, m.sub),
            scala.collection.mutable.ArrayBuffer.empty[SemCellMember]) += m
        }
        cells.valuesIterator.flatMap { ms =>
          val n = ms.length
          val near = new Array[Long](n)
          val dom = new Array[Long](n)
          var i = 0
          while (i < n) {
            val a = ms(i)
            var j = i + 1
            while (j < n) {
              val b = ms(j)
              if (a.nrm != 0L && b.nrm != 0L) {
                val qa = a.qv; val qb = b.qv
                var d = 0L; var k = 0
                while (k < qa.length) { d += qa(k) * qb(k); k += 1 }
                val cos = d.toDouble /
                  (math.sqrt(a.nrm.toDouble) * math.sqrt(b.nrm.toDouble))
                if (cos >= SemTau) {
                  near(i) += 1L; near(j) += 1L
                  if (b.csim < a.csim ||
                    (b.csim == a.csim && b.vec_id < a.vec_id)) dom(i) = 1L
                  if (a.csim < b.csim ||
                    (a.csim == b.csim && a.vec_id < b.vec_id)) dom(j) = 1L
                }
              }
              j += 1
            }
            i += 1
          }
          (0 until n).iterator.filter(near(_) > 0L)
            .map(i => SemVerdictRow(ms(i).vec_id, near(i), dom(i)))
        }
      }(Encoders.product[SemVerdictRow])
      .toDF()
    assigned
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("csim"))
      .join(verdict, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("csim"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (coalesce(col("dommax"), lit(0L)) === 0L).as("kept"))
      .orderBy(col("vec_id"))
  }

  val dedupSemantic: Q = Q("dedup_semantic", semanticOracle) { (s, dir) =>
    // the model comes from the shared per-(session, dir) memo, trained
    // once and shared with sample_prune_proto
    semanticVerdict(s, semanticCorpus(s, dir), Some(semanticModel(s, dir)))
  }

  /** DuckDB replay of the incremental-index contract: train the coarse
    * quantizer on the pre-midpoint half only ([[kmIterSql]] over `nzb`),
    * then assign the WHOLE corpus in one pass — the frozen-quantizer
    * rebuild the incremental path must exactly equal.
    */
  private val annIncrOracle: String = {
    import graft.functions.LshPlanes.Dims
    val iters = (1 to KmIters)
      .map(i => kmIterSql(i, s"kc${i - 1}", s"kc$i", "nzb", "elemsb"))
      .mkString(",\n")
    s"""WITH $quantizedSql,
       |mm AS (SELECT (min(vec_id) + max(vec_id)) // 2 AS mid FROM nz),
       |nzb AS (SELECT * FROM nz WHERE vec_id < (SELECT mid FROM mm)),
       |dims AS (SELECT unnest(range($Dims)) AS dim),
       |elemsb AS (SELECT vec_id, d.dim, qv[d.dim + 1] AS x FROM nzb, dims d),
       |kc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cqv
       |  FROM nzb WHERE vec_id < $IvfK),
       |$iters,
       |cents AS (SELECT cid, cqv, list_dot_product(cqv, cqv) AS cnrm
       |  FROM kc$KmIters),
       |sims AS (SELECT v.vec_id, c.cid,
       |    CASE WHEN v.nrm = 0 OR c.cnrm = 0 THEN 0.0
       |         ELSE ${cosSql("v.qv", "v.nrm", "c.cqv", "c.cnrm")} END AS sim
       |  FROM nz v CROSS JOIN cents c),
       |asg AS MATERIALIZED (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM sims) WHERE rn = 1),
       |st AS (SELECT cid,
       |    count(CASE WHEN vec_id < (SELECT mid FROM mm) THEN 1 END) AS n_base,
       |    count(CASE WHEN vec_id >= (SELECT mid FROM mm) THEN 1 END) AS n_delta
       |  FROM asg GROUP BY cid),
       |probes AS (SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |    FROM sims WHERE vec_id < 5) WHERE rn <= $IvfNProbe),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, a.cid,
       |    ${cosSql("q.qv", "q.nrm", "n.qv", "n.nrm")} AS cos_sim
       |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id != p.query_id
       |  JOIN nz q ON q.vec_id = p.query_id
       |  JOIN nz n ON n.vec_id = a.vec_id),
       |r AS (SELECT query_id, neighbor_id, cid, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT r.query_id, r.neighbor_id, r.cos_sim, CAST(r.rn AS BIGINT) AS rn,
       |  CAST(r.cid AS BIGINT) AS cid, CAST(s.n_base AS BIGINT) AS cell_base,
       |  CAST(s.n_delta AS BIGINT) AS cell_delta
       |FROM r JOIN st s USING (cid) WHERE r.rn <= 10
       |ORDER BY query_id, rn""".stripMargin
  }

  /** Incremental ANN-index maintenance — the FAISS `add()` production
    * shape, and [[Dedup.incrIndex]]'s proof pattern applied to the ANN
    * family: the coarse quantizer is TRAINED on the pre-midpoint half of
    * the corpus and then FROZEN; the post-midpoint delta is assigned
    * map-side under the frozen quantizer and its postings merge into the
    * index by plain union — exact because cell assignment is a
    * PER-VECTOR function of the frozen centroids (no corpus interaction),
    * so postings(base ∪ δ) = postings(base) ∪ assign(δ). The ORACLE
    * trains on the same base half but assigns everything in ONE pass, so
    * the hash gate proves the merge identity at every SF. Retraining the
    * quantizer is deliberately NOT part of the daily path (that is a
    * re-index event — in FAISS terms `train()` vs `add()`).
    *
    * Output: the top-10 probe retrievals over the merged index
    * ([[annIvf]]'s query surface), each row annotated with its cell's
    * (cell_base, cell_delta) posting counts — the merge grain observable
    * to the gate, per the [[Dedup.incrIndex]] convention.
    *
    * Scale shape: the corpus is persisted once and read four ways
    * (training sweeps over the base half, two map-side assignment
    * branches, probe rescore); both assignment branches are single
    * codegen projections with the frozen matrix as a plan literal (zero
    * exchanges — spec-asserted), the per-cell stats aggregate is K-sized,
    * and the probe join broadcasts only the NProbe·|queries| probe rows.
    * In production the base branch's postings are already on disk; the
    * daily cost is the delta branch alone — linear in the delta, zero
    * touches of the base corpus.
    */
  val annIncrIndex: Q = Q("ann_incr_index", annIncrOracle) { (s, dir) =>
    import s.implicits._
    graft.functions.IvfExpressions.register(s)
    val base = graft.Scratch.track(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv"))))
    // 2-value model collect → literal midpoint (the incr_agg_merge idiom)
    val mm = base.agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
      .collect()(0)
    val mid = Math.floorDiv(mm.getAs[Long]("lo") + mm.getAs[Long]("hi"), 2L)
    val cents = trainCoarse(s,
      base.filter(col("vec_id") < mid).select(col("vec_id"), col("qv")), IvfK)
    val centsLit = typedLit(cents)
    def assignHalf(half: DataFrame, tag: Int): DataFrame = half
      .withColumn("sims", call_function("centroid_sims", col("qv"), centsLit))
      .withColumn("cid",
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int"))
      .drop("sims")
      .withColumn("src", lit(tag))
    // the merged index: base postings ∪ delta postings, built SEPARATELY
    val postings = graft.Scratch.track(
      assignHalf(base.filter(col("vec_id") < mid), 0)
        .unionByName(assignHalf(base.filter(col("vec_id") >= mid), 1)))
    val st = postings.groupBy(col("cid"))
      .agg(sum(when(col("src") === 0, 1L).otherwise(0L)).as("cell_base"),
        sum(when(col("src") === 1, 1L).otherwise(0L)).as("cell_delta"))
    val withSims = base
      .withColumn("sims", call_function("centroid_sims", col("qv"), centsLit))
    val probes = withSims.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"),
        explode(expr(
          s"""slice(transform(array_sort(zip_with(sims, sequence(0, ${IvfK - 1}),
             |(s, i) -> named_struct('negs', -s, 'i', i))), x -> x.i), 1, $IvfNProbe)"""
            .stripMargin.replace("\n", " "))).as("pcid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    postings.join(broadcast(probes),
        postings("cid") <=> probes("pcid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cid"),
        cosine(col("q_qv"), col("q_nrm"), col("qv"), col("nrm")).as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .join(st, Seq("cid"))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rn"),
        col("cid").cast("long").as("cid"), col("cell_base"), col("cell_delta"))
      .orderBy(col("query_id"), col("rn"))
  }

  private val pruneOracle: String =
    s"""WITH $semanticAsgSql,
       |nc AS (SELECT cid, count(*) AS n_c FROM asg GROUP BY cid),
       |r AS (SELECT vec_id, cid, csim,
       |    row_number() OVER (PARTITION BY cid ORDER BY csim DESC, vec_id) AS rn
       |  FROM asg)
       |SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid, r.csim,
       |  CAST(r.rn AS BIGINT) AS rn, CAST(nc.n_c AS BIGINT) AS n_c,
       |  (4 * r.rn > nc.n_c) AS kept
       |FROM r JOIN nc USING (cid) ORDER BY r.vec_id""".stripMargin

  /** Prototype-density data pruning — the "beyond neural scaling laws"
    * selection rule (Sorscher et al. 2022, arXiv:2206.14486): on abundant
    * data, the EASY examples are the redundant ones, and easiness is
    * distance to the example's k-means cluster centroid. Reusing
    * [[semanticAssign]]'s measured-K trained assignment verbatim (and the
    * ORACLE reusing its replay CTEs — one chain, two gates), each cluster
    * ranks its members most-prototypical-first (csim desc, vec_id
    * tie-break) and prunes its top quarter: kept ⟺ 4·rank > |cluster|,
    * pure integer arithmetic. Complements [[dedupSemantic]] — that
    * operator removes near-COPIES pairwise; this one thins dense cluster
    * CORES wholesale, no pair stage at all.
    *
    * Scale shape: one map-side assignment projection (zero exchanges,
    * plan-asserted via the shared helper), a K-sized cluster-count
    * aggregate, and ONE window partitioned by cid — whose frames the
    * measured K bounds at ~[[SemTargetCell]] rows at any corpus size
    * (the partitioned-window rule: bounded frames by construction).
    */
  val sampleProto: Q = Q("sample_prune_proto", pruneOracle) { (s, dir) =>
    val assigned = graft.Scratch.track(assignWithModel(s,
      graft.Scratch.track(semanticCorpus(s, dir)),
      semanticModel(s, dir)))
    val nc = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("csim").desc, col("vec_id"))
    assigned
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(nc), Seq("cid"))
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("csim"),
        col("rn"), col("n_c"), (lit(4L) * col("rn") > col("n_c")).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the lexical and dense
    * rankers the engine already ships: [[TextAnalysis.bm25Rank]]'s
    * BM25 top-10 (query = each `doc_id < 5` document's first-6-token
    * bag, self excluded BEFORE ranking) fused with [[knnBrute]]'s exact
    * cosine top-10 over the aligned `vec_id` embedding, via
    * RRF(d) = Σ_lists 1/(60 + rank_list(d)) — the standard k=60 form.
    * Scores are integer-scaled (⌊10⁹/(60+r)⌋ per list, summed) so both
    * engines agree bit-exactly with no float division; absent-from-list
    * contributes 0, and the source ranks ride along (0 = not retrieved
    * by that ranker) so the fusion is auditable per row.
    *
    * Scale shape: each branch is the already-audited candidate-sized
    * pipeline (BM25 probes postings through a ≤30-row broadcast term
    * list; dense broadcasts 5 probe vectors over one corpus scan); the
    * fusion itself joins two ≤50-row frames — a driver-free afterthought
    * at any corpus size. This is the RAG-serving shape: lexical recall
    * catches exact-term matches dense misses, dense catches paraphrase,
    * RRF needs no score calibration between the two.
    */
  val retrievalRrf: Q = Q("retrieval_rrf",
    s"""WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
      |dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |lens AS (SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents),
      |st AS (SELECT count(*) AS n_docs,
      |    CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS tot_len
      |  FROM documents),
      |qt AS (SELECT DISTINCT query_id, w FROM (
      |    SELECT doc_id AS query_id, unnest(t[1:6]) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents WHERE doc_id < 5))),
      |sc AS (SELECT q.query_id, tf.doc_id, ${TextAnalysis.bm25ScoreSql} AS score_micro
      |  FROM tf JOIN qt q USING (w) JOIN dfr USING (w)
      |  JOIN lens l ON l.doc_id = tf.doc_id CROSS JOIN st
      |  WHERE tf.doc_id != q.query_id),
      |agg AS (SELECT query_id, doc_id,
      |    CAST(sum(score_micro) AS BIGINT) AS bm25_micro
      |  FROM sc GROUP BY 1, 2),
      |br AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id) AS rn
      |  FROM agg),
      |bmt AS (SELECT query_id, doc_id, rn FROM br WHERE rn <= 10),
      |$quantizedSql,
      |p AS (SELECT q.vec_id AS query_id, t.vec_id AS doc_id,
      |    ${cosSql("q.qv", "q.nrm", "t.qv", "t.nrm")} AS cos_sim
      |  FROM nz q JOIN nz t ON q.vec_id < 5 AND t.vec_id != q.vec_id),
      |dr AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS rn
      |  FROM p),
      |dnt AS (SELECT query_id, doc_id, rn FROM dr WHERE rn <= 10),
      |u AS (SELECT coalesce(b.query_id, d.query_id) AS query_id,
      |    coalesce(b.doc_id, d.doc_id) AS doc_id, b.rn AS rb, d.rn AS rd
      |  FROM bmt b FULL JOIN dnt d
      |    ON b.query_id = d.query_id AND b.doc_id = d.doc_id),
      |f AS (SELECT query_id, doc_id,
      |    coalesce(1000000000 // (60 + rb), 0)
      |      + coalesce(1000000000 // (60 + rd), 0) AS rrf_scaled,
      |    coalesce(rb, 0) AS bm25_rn, coalesce(rd, 0) AS cos_rn FROM u),
      |r AS (SELECT f.*,
      |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS rn
      |  FROM f)
      |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(rrf_scaled AS BIGINT) AS rrf_scaled, CAST(bm25_rn AS BIGINT) AS bm25_rn,
      |  CAST(cos_rn AS BIGINT) AS cos_rn, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
    // BOTH halves come from the ranked-frame memo ([[rankedTopK]]) since
    // round 19: the six dense rankings were already shared while the BM25
    // postings pipeline re-ran on every fusion readout — now the lexical
    // top-10 is the seventh memoized ranking
    val bm = rankedTopK(s, dir, "bm25")
      .select(col("query_id"), col("doc_id"), col("rn").as("rb"))
    val dn = rankedTopK(s, dir, "brute")
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("rd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
    bm.join(dn, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr("1000000000L div (60 + rb)"), lit(0L))
          + coalesce(expr("1000000000L div (60 + rd)"), lit(0L))).as("rrf_scaled"),
        coalesce(col("rb"), lit(0L)).as("bm25_rn"),
        coalesce(col("rd"), lit(0L)).as("cos_rn"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Embedding-distribution drift between two ingestion cohorts — the
    * monitor an embedding pipeline runs before trusting a refreshed
    * corpus (encoder version bump, upstream data shift): per label, the
    * squared L2 distance between the two cohorts' centroids, in exact
    * milli-quantized units. Cohorts are the even/odd vec_id halves (the
    * deterministic stand-in for before/after batches). Means are exact
    * integer divisions at ×1000 scale under the TRUNCATING semantics both
    * engines natively share for signed operands (Spark `div` and DuckDB
    * `//` both truncate toward zero — measured, incl. on the HUGEINT sums
    * DuckDB promotes to; it is Python's `//` that floors, not DuckDB's).
    * Sums of signed embedding coordinates do go negative, so the shared
    * semantics — not a floor emulation on one side — is what keeps the
    * gate exact. diff² ≤ (2·10⁷)² and 64 dims keep the drift far inside
    * int64.
    *
    * Shape: one corpus explode collapsing map-side to |labels|×Dims×2
    * partial sums; everything downstream is arithmetic on that
    * model-sized frame. Output is |labels| rows at any corpus size — the
    * constant-size drift dashboard.
    */
  val embedDrift: Q = {
    import graft.functions.LshPlanes.Dims
    Q("embed_drift",
      s"""WITH q AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT label, vec_id % 2 AS half, d.dim, qv[d.dim + 1] AS x
        |  FROM q, (SELECT unnest(range($Dims)) AS dim) d),
        |g AS (SELECT label, dim,
        |    sum(CASE WHEN half = 0 THEN x END) AS sa,
        |    count(CASE WHEN half = 0 THEN 1 END) AS na,
        |    sum(CASE WHEN half = 1 THEN x END) AS sb,
        |    count(CASE WHEN half = 1 THEN 1 END) AS nb
        |  FROM e GROUP BY 1, 2),
        |m AS (SELECT label, na, nb,
        |    (sa * 1000) // na AS ma, (sb * 1000) // nb AS mb
        |  FROM g WHERE na > 0 AND nb > 0)
        |SELECT label, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(sum((ma - mb) * (ma - mb)) AS BIGINT) AS drift
        |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("label"), pmod(col("vec_id"), lit(2)).as("half"),
          posexplode(quantize(col("embedding"))).as(Seq("dim", "x")))
      e.groupBy(col("label"), col("dim"))
        .agg(sum(when(col("half") === 0, col("x"))).as("sa"),
          count(when(col("half") === 0, lit(1))).as("na"),
          sum(when(col("half") === 1, col("x"))).as("sb"),
          count(when(col("half") === 1, lit(1))).as("nb"))
        .filter(col("na") > 0 && col("nb") > 0)
        .select(col("label"), col("na"), col("nb"),
          expr("(sa * 1000) div na").as("ma"),
          expr("(sb * 1000) div nb").as("mb"))
        .groupBy(col("label"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("drift"))
        .orderBy(col("label"))
    }
  }

  /** Per-dimension winsorization cutoffs — [[graft.operators.Analytics]]'s
    * winsorize generalized to the embedding matrix, the clip a feature
    * pipeline applies before scalar quantization so one outlier coordinate
    * cannot stretch a dimension's [min, max] and waste the entire code
    * range ([[annSq8]]'s geometry is exactly what this protects): exact
    * 1st/99th-percentile cut points PER DIMENSION from per-dim value
    * histograms, plus how many coordinates each cut would clip. Ranks use
    * the established integer convention (`(n−1) div 100 + 1`); values are
    * only COMPARED, never divided, so signed coordinates carry no
    * division-semantics risk.
    *
    * Shape: one corpus explode collapses map-side to per-(dim, value)
    * counts; every window is PARTITIONED BY dim (64 independent
    * histogram walks, each |dim's value domain| rows — unlike the
    * single-column winsorize there is no unpartitioned window at all);
    * the 64-row bounds frame joins back broadcast. Output is Dims rows
    * at any corpus size.
    */
  val embedWinsor: Q = {
    import graft.functions.LshPlanes.Dims
    Q("embed_winsor",
      s"""WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT d.dim, qv[d.dim + 1] AS x
        |  FROM q, (SELECT unnest(range($Dims)) AS dim) d),
        |h AS (SELECT dim, x, count(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT dim, x, c,
        |    sum(c) OVER (PARTITION BY dim ORDER BY x) AS cum,
        |    sum(c) OVER (PARTITION BY dim) AS n FROM h),
        |b AS (SELECT dim, CAST(max(n) AS BIGINT) AS n,
        |    min(CASE WHEN cum >= (n - 1) // 100 + 1 THEN x END) AS lo_cut,
        |    min(CASE WHEN cum >= ((n - 1) * 99) // 100 + 1 THEN x END) AS hi_cut
        |  FROM cum GROUP BY dim)
        |SELECT CAST(b.dim AS BIGINT) AS dim, b.n, b.lo_cut, b.hi_cut,
        |  CAST(coalesce(sum(CASE WHEN h.x < b.lo_cut THEN h.c END), 0) AS BIGINT) AS clip_lo,
        |  CAST(coalesce(sum(CASE WHEN h.x > b.hi_cut THEN h.c END), 0) AS BIGINT) AS clip_hi
        |FROM b JOIN h USING (dim)
        |GROUP BY b.dim, b.n, b.lo_cut, b.hi_cut ORDER BY dim""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Tables.load(s, dir, "embeddings")
        .select(posexplode(quantize(col("embedding"))).as(Seq("dim", "x")))
        .groupBy(col("dim"), col("x")).agg(count(lit(1)).as("c"))
      val cum = h
        .withColumn("cum",
          sum(col("c")).over(Window.partitionBy(col("dim")).orderBy(col("x"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("dim"))))
      val b = cum.groupBy(col("dim"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n - 1) div 100 + 1"), col("x"))).as("lo_cut"),
          min(when(col("cum") >= expr("((n - 1) * 99) div 100 + 1"), col("x"))).as("hi_cut"))
      h.join(broadcast(b), Seq("dim"))
        .groupBy(col("dim"), col("n"), col("lo_cut"), col("hi_cut"))
        .agg(
          coalesce(sum(when(col("x") < col("lo_cut"), col("c"))), lit(0L)).as("clip_lo"),
          coalesce(sum(when(col("x") > col("hi_cut"), col("c"))), lit(0L)).as("clip_hi"))
        .select(col("dim").cast("long").as("dim"), col("n"),
          col("lo_cut"), col("hi_cut"), col("clip_lo"), col("clip_hi"))
        .orderBy(col("dim"))
    }
  }

  /** Contrastive-pair mining — the training-data op an embedding-model
    * pipeline runs over its own index: per probe, the POSITIVE (nearest
    * same-label neighbor — the pair pulled together) and the HARD
    * NEGATIVE (nearest different-label neighbor — the most confusable
    * impostor, the pair pushed apart; random negatives are easy and teach
    * nothing). Mined from the exact top-10 ranking via the session memo
    * ([[rankedTopK]] — a readout beside recall/MRR/RRF, not a fourth
    * corpus scan), with ranks carried so the miner's output is auditable.
    * A probe whose top-10 is single-label yields a NULL on the missing
    * side in both engines rather than inventing a pair.
    *
    * Shape: memoized 50-row ranking + two |corpus|-slim label joins, a
    * 50-row window, a 5-row output. At scale the ranking source swaps for
    * the IVF-PQ index path — the mining logic is rank-source-agnostic.
    */
  val embedPairsMine: Q = Q("embed_pairs_mine",
    s"""WITH b AS (SELECT query_id, neighbor_id, rn FROM (${knnBrute.oracle.get})),
       |lb AS (SELECT vec_id, label FROM embeddings),
       |j AS (SELECT b.query_id, b.neighbor_id, b.rn,
       |    (nl.label = ql.label) AS same
       |  FROM b JOIN lb ql ON ql.vec_id = b.query_id
       |  JOIN lb nl ON nl.vec_id = b.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, rn, same,
       |    row_number() OVER (PARTITION BY query_id, same ORDER BY rn) AS rr
       |  FROM j)
       |SELECT query_id,
       |  max(CASE WHEN same AND rr = 1 THEN neighbor_id END) AS pos_id,
       |  max(CASE WHEN same AND rr = 1 THEN rn END) AS pos_rn,
       |  max(CASE WHEN NOT same AND rr = 1 THEN neighbor_id END) AS neg_id,
       |  max(CASE WHEN NOT same AND rr = 1 THEN rn END) AS neg_rn
       |FROM ranked GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, dir) =>
    val lb = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val j = rankedTopK(s, dir, "brute")
      .select(col("query_id"), col("neighbor_id"), col("rn"))
      .join(broadcast(lb.select(col("vec_id").as("query_id"),
        col("label").as("qlabel"))), Seq("query_id"))
      .join(broadcast(lb.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel"))), Seq("neighbor_id"))
      .withColumn("same", col("nlabel") === col("qlabel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("same")).orderBy(col("rn"))
    j.withColumn("rr", row_number().over(w))
      .groupBy(col("query_id"))
      .agg(
        max(when(col("same") && col("rr") === 1, col("neighbor_id"))).as("pos_id"),
        max(when(col("same") && col("rr") === 1, col("rn"))).as("pos_rn"),
        max(when(!col("same") && col("rr") === 1, col("neighbor_id"))).as("neg_id"),
        max(when(!col("same") && col("rr") === 1, col("rn"))).as("neg_rn"))
      .orderBy(col("query_id"))
  }

  val all: Seq[Q] =
    Seq(knnBrute, annFiltered, annSq8, annLsh, annIvf, kmeansTrain, annRecall,
      embedProject, classStats, annPq, annIvfPq, embedGram, dedupSemantic,
      annIncrIndex, sampleProto, retrievalRrf, annMrr, annIndexPersist,
      annRefine, embedDrift, embedWinsor, embedPairsMine)
}
