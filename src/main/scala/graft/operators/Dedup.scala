package graft.operators

import graft.Q
import graft.SessionMemos.{DedupPairs, releaseCheckpoint}
import graft.sources.{Ingest, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the training-data-pipeline extensions beyond the reference's own surface
  * (BASELINE.json north star). Exact dedup generalizes the reference's
  * GROUP-BY-as-dedup (SURVEY.md A2, `finalversion:345-349`); the near-dup
  * family (MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine) is what
  * a 100 TB corpus needs where O(n²) comparison is impossible.
  *
  * Scale design: every pipeline here is shuffle-bounded by (band, key) or
  * (word) cardinality — no cross join of the full corpus ever happens. The
  * only quadratic step is within an LSH bucket / shared-token group, which
  * banding parameters keep small. Hashes are seeded md5 digests (codegen'd
  * built-ins): deterministic across runs/clusters AND bit-identical in
  * DuckDB, so every hash-driven pipeline here is fully oracle-checked —
  * signatures, candidate graphs, and the connected-component clustering
  * are replayed in SQL, not just rows-counted.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Hot-bucket cap for every band-bucket self-join (see [[capBuckets]]
    * for the full rationale). EVERY consumer — the Spark pipelines, the
    * generated DuckDB oracle SQL (whose committed digests pin this value),
    * and the streaming twin [[graft.streaming.NearDupStream]] — reads this
    * one constant, so the correctness gate and the stream≡batch
    * candidate-set equivalence share it. Declared ABOVE the oracle-SQL
    * vals that interpolate it during object init (a later plain val would
    * still be 0 at that point).
    */
  private[graft] val MaxBandBucket: Int = 1000

  /** Exact dedup via content hash: one row per distinct text with copy
    * count and the id to keep (min). Hash-groupBy — a single shuffle on
    * md5(text); at 100 TB, group keys are 32-byte digests, not documents.
    */
  val exact: Q = Q("dedup_exact",
    """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
      |FROM documents GROUP BY text_hash ORDER BY text_hash""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("text_hash"))
  }

  private val NgramSampleSize = 200

  /** Token-set (1-gram) Jaccard similarity pairs over a deterministic
    * FIXED-SIZE document sample (the [[NgramSampleSize]] lowest content
    * digests — a per-partition top-K TakeOrderedAndProject, then O(K²)
    * pairs). The exact pairwise baseline that the MinHash pipeline below
    * approximates: NOT the scale path, so its cost must be CONSTANT in
    * corpus size — a fractional sample (the previous `doc_id % 10` form)
    * grows quadratically with the corpus and was the one query that blew
    * up in the 10× scale smoke (1.3 s → 100 s).
    */
  val ngramJaccard: Q = Q("dedup_ngram",
    s"""WITH sample AS (
      |  SELECT doc_id, text FROM documents
      |  ORDER BY md5(text), doc_id LIMIT $NgramSampleSize),
      |words AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM sample),
      |sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
      |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY id1, id2)
      |SELECT id1, id2, n_common,
      |  CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
      |FROM inter JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5
      |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
    val sampled = docs(s, dir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
      .orderBy(col("dig"), col("doc_id"))
      .limit(NgramSampleSize)
    val words = sampled
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val sizes = words.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = words.as("a"); val b = words.as("b")
    val inter = a.join(b, col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_common"))
    val jac = col("n_common").cast("double") /
      (col("s1.n") + col("s2.n") - col("n_common"))
    inter
      .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"), col("n_common"), jac.as("jaccard"))
      .filter(jac >= 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  /** Asymmetric containment C(A→B) = |shingles(A)∩shingles(B)| / |shingles(A)|
    * over the same deterministic [[NgramSampleSize]] sample as
    * [[ngramJaccard]] — the doc-IN-doc detector Jaccard structurally
    * misses: a short document quoted wholesale inside a long one scores
    * near-zero Jaccard (the union is dominated by the long doc) but
    * containment ≈ 1 from the short side. Word-3-gram shingles (the
    * MinHash family's unit, so the two reports share vocabulary), ordered
    * pairs both directions, thresholded at 0.5.
    *
    * Scale: like the Jaccard baseline this is the exact, sample-priced
    * diagnostic (O(K²) worst case on a FIXED K); the corpus-priced
    * containment story is [[graft.operators.TextAnalysis.dedupSpans]],
    * which reports each doc's duplicated-span coverage against the whole
    * corpus in digest space.
    */
  val containment: Q = Q("dedup_containment",
    s"""WITH sample AS (
      |  SELECT doc_id, text FROM documents
      |  ORDER BY md5(text), doc_id LIMIT $NgramSampleSize),
      |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM sample),
      |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(len(t) - 2),
      |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
      |    ELSE [array_to_string(t, ' ')] END) AS sh FROM tk),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
      |  GROUP BY id1, id2)
      |SELECT id1, id2, n_common,
      |  CAST(n_common AS DOUBLE) / s1.n AS containment
      |FROM inter JOIN sizes s1 ON id1 = s1.doc_id
      |WHERE CAST(n_common AS DOUBLE) / s1.n >= 0.5
      |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
    containmentPairs(docs(s, dir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("dig"))
      .orderBy(col("dig"), col("doc_id"))
      .limit(NgramSampleSize))
  }

  /** [[containment]]'s pair pass over any (doc_id, text) frame — separated
    * so specs can plant a quoted-substring pair.
    */
  def containmentPairs(sampled: DataFrame): DataFrame = {
    val sh = sampled
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 3,
        expr("transform(sequence(0, size(toks) - 3), i -> " +
          "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .otherwise(array(concat_ws(" ", col("toks"))))).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a
      .join(b, col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_common"))
    val cont = col("n_common").cast("double") / col("s1.n")
    inter
      .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .select(col("id1"), col("id2"), col("n_common"), cont.as("containment"))
      .filter(cont >= 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** MinHash + LSH banding: word-3-gram shingles → 16 minhashes (md5
    * chunks) → 4 bands of 4 → band-bucket self-join for candidate pairs.
    * Output is one row per document (signature prefix + candidate count) so
    * the pipeline is observable even when no near-dups exist.
    *
    * Scale: shingle explode is linear; the only join is on (band, bandKey)
    * — candidate generation cost is Σ bucket², controlled by band width,
    * never n². This is the standard web-scale near-dup layout.
    */
  /** Per-document 16-hash MinHash signature over word-3-gram shingles.
    *
    * Hash family: 4 seeded md5 digests per shingle, each split into four
    * 8-hex-char chunks → 16 independent 32-bit hashes, held AS hex strings
    * (min over fixed-width hex == min over the underlying value). md5 is
    * the one digest Spark and DuckDB compute identically, which makes the
    * whole near-dup pipeline — signatures, bands, candidate pairs,
    * connected components — replayable as a SQL oracle instead of a
    * rows-only check. Cost per shingle is 4 codegen'd md5 calls (vs 16
    * xxhash64 before): same single pass, same shuffle shape.
    */
  def minhashSignatures(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val shingled = toks.select(col("doc_id"),
      explode(when(size(col("toks")) >= 3,
        expr("transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .otherwise(array(concat_ws(" ", col("toks"))))).as("sh"))
    // NO .distinct() before the mins (round 18): min over a multiset
    // equals min over its set, so per-doc shingle dedup cannot change any
    // h_i — and the dedup was the signing pipeline's dominant cost, a
    // corpus-wide exchange of (doc_id, full 3-word shingle STRING) rows.
    // Dropping it makes the whole signature one map-side codegen pass
    // (explode → md5 → conv → partial min) into a ~|docs|-row exchange.
    // The oracle keeps its DISTINCT form as the independent replay; the
    // hash gate proves value identity.
    val digests = (0 until NumHashes / 4).map(k =>
      md5(concat(lit(s"mh$k#"), col("sh"))).as(s"d$k"))
    val withDigests = shingled.select(col("doc_id") +: digests: _*)
    // The 16 minima are taken over LONGS, not the hex substrings, and
    // formatted back after the aggregate (round 18): a groupBy whose
    // buffer holds 16 strings has no mutable-buffer HashAggregate form,
    // so Spark fell back to Sort + SortAggregate — every signing pass
    // paid a full sort of the exploded shingle-digest frame outside
    // whole-stage codegen, and the partial-agg exchange shipped 16
    // 8-char strings per row. On fixed-width lowercase hex,
    // lexicographic and numeric order coincide, so min(conv(w, 16, 10))
    // re-rendered as lower(lpad(hex(·), 8, '0')) is byte-identical to
    // min(w) — same h_i strings, same band keys, same oracle — but the
    // aggregate is 16 min(BIGINT)s: codegen'd hash aggregation, no sort,
    // and an 8-byte-per-hash exchange payload.
    val pieces = (0 until NumHashes).map(i =>
      expr(s"CAST(conv(substring(d${i / 4}, ${(i % 4) * 8 + 1}, 8), 16, 10) " +
        s"AS BIGINT)").as(s"p$i"))
    val withPieces = withDigests.select(col("doc_id") +: pieces: _*)
    val minhashes = (0 until NumHashes).map(i =>
      lower(lpad(expr(s"hex(min(p$i))"), 8, "0")).as(s"h$i"))
    withPieces.groupBy(col("doc_id")).agg(minhashes.head, minhashes.tail: _*)
  }

  /** DuckDB CTE chain replicating [[minhashSignatures]] + [[bandFrame]] —
    * kept adjacent to the Spark code so the seeds, chunk layout, and band
    * grouping cannot drift apart. Ends with the UNCAPPED `bands`
    * (doc_id, b, bkey): the shared prefix of [[minhashPairsSql]] (which
    * appends the cap + pair join) and the bucket-occupancy report
    * ([[bucketStats]]).
    */
  private val minhashBandsSql: String = {
    val mins = (0 until NumHashes)
      .map(i => s"min(substr(d${i / 4}, ${(i % 4) * 8 + 1}, 8)) AS h$i")
      .mkString(", ")
    val bandKeys = (0 until Bands)
      .map(b => (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}").mkString("||"))
      .zipWithIndex
      .map { case (k, b) => s"WHEN $b THEN $k" }
      .mkString(" ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
       |    ELSE [array_to_string(t, ' ')] END) AS sh FROM toks),
       |shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
       |digs AS (SELECT doc_id, md5('mh0#' || sh) AS d0, md5('mh1#' || sh) AS d1,
       |                md5('mh2#' || sh) AS d2, md5('mh3#' || sh) AS d3 FROM shd),
       |sig AS (SELECT doc_id, $mins FROM digs GROUP BY doc_id),
       |bands AS (SELECT doc_id, u.b, CASE u.b $bandKeys END AS bkey
       |  FROM sig, (SELECT unnest([0,1,2,3]) AS b) u)""".stripMargin
  }

  private val minhashPairsSql: String =
    s"""$minhashBandsSql,
       |$capBucketsSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bandsk x JOIN bandsk y
       |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin

  /** A band value shared by a large fraction of the corpus (boilerplate
    * documents; here, the synthetic corpus' single shared vocabulary
    * correlating simhash bits) makes the self-join quadratic in that
    * bucket AND concentrates it in one sort-merge key group — the ×100
    * smoke OOM'd an 8 GB executor buffering one mega-bucket. Buckets
    * beyond [[MaxBandBucket]] carry no discriminating signal (their
    * members are either exact dups, which [[exact]] already groups, or
    * band-collision noise), so production simhash/minhash deployments
    * drop them. Where it binds on the shipped data: nowhere at sf0.01
    * (500 docs < cap, outputs identical to the uncapped form), and at
    * sf0.1 exactly ONE degenerate simhash bucket (1582 of 5000 docs share
    * a band value — corpus-wide bit correlation, precisely the
    * non-discriminating case the cap exists for). The oracle applies the
    * identical cap, so the gate checks the capped semantics at both SFs.
    *
    * Keep only rows whose bucket (the `keys` tuple — minhash/simhash's
    * (band, bkey), embedding LSH's (t, bucket)) is at most
    * [[MaxBandBucket]] — the window count shares the self-join's own
    * bucket hash partitioning, so the cap costs no extra exchange. ONE
    * implementation for every band self-join in this file: a future
    * change to the cap semantics cannot silently skip a path.
    */
  private def capBuckets(bands: DataFrame,
      keys: Seq[String] = Seq("band", "bkey")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    bands.withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= MaxBandBucket)
      .drop("bsz")
  }

  /** The matching oracle-side guard, appended after a CTE named `bands`
    * (doc_id, b, bkey): ends with `bandsk`.
    */
  private def capBucketsSql: String =
    s"""bandsc AS (SELECT doc_id, b, bkey,
       |    count(*) OVER (PARTITION BY b, bkey) AS bsz FROM bands),
       |bandsk AS (SELECT doc_id, b, bkey FROM bandsc WHERE bsz <= $MaxBandBucket)""".stripMargin

  /** The UNCAPPED (doc_id, band, bkey) frame off a signature — shared by
    * the candidate search (which caps it — use [[cappedBands]] before any
    * band self-join) and the bucket-occupancy report ([[bucketStats]],
    * which must see the pre-cap distribution to show what the cap cut).
    */
  def bandFrame(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      // band key = concat of the band's 4 fixed-width hex minhashes (32
      // chars): equality on the concat IS equality on the tuple, and the
      // key stays engine-portable (no re-hashing the oracle can't replay)
      struct(lit(b).as("band"), concat(cols: _*).as("bkey"))
    }
    sig.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** (doc_id, band, bkey) entries from a signature frame, hot buckets
    * capped — the shared banding step for the self-join ([[minhash]]) and
    * the cross-corpus semi-join ([[crossEval]]).
    */
  def cappedBands(sig: DataFrame): DataFrame = capBuckets(bandFrame(sig))

  /** Candidate near-dup pairs from a signature frame ([[minhashSignatures]])
    * — also exercised on planted near-dups in DedupSimilaritySpec.
    */
  def minhashCandidatesFromSig(sig: DataFrame): DataFrame = {
    val kept = cappedBands(sig)
    kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
  }

  /** Per-id candidate/near count: explode both pair sides, hash-count, left
    * join back with 0 default — shared by the minhash/simhash/embed outputs.
    *
    * `explode(array(id1, id2))`, not `select(id1) UNION ALL select(id2)`:
    * Spark has no subtree reuse across union branches, so the union form
    * evaluates the ENTIRE candidate-generation pipeline (signatures, band
    * joins, cosine rescoring) twice — the explode counts both endpoints in
    * one map-side pass over pairs computed once.
    */
  private def candidateCounts(ids: DataFrame, pairs: DataFrame,
      idCol: String, outCol: String): DataFrame = {
    val perId = pairs
      .select(explode(array(col("id1"), col("id2"))).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as(outCol))
    ids.join(perId, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(0L)))
      .orderBy(col(idCol))
  }

  /** Candidate pairs straight from (doc_id, text). */
  def minhashCandidates(documents: DataFrame): DataFrame =
    minhashCandidatesFromSig(minhashSignatures(documents))

  /** Session memos ([[graft.SessionMemos.DedupPairs]]) of the signatures
    * and the two near-dup PAIR sets — the same "materialize once, consume
    * everywhere" contract as [[componentLabels]]: a production pipeline
    * computes its candidate pairs one time and every downstream consumer
    * (per-doc counts, the component search, the method-agreement audit)
    * reads that materialization, so the engine's registered queries do
    * too. The first consumer pays the corpus pass, later consumers read
    * back candidate-set-sized frames — two longs per CANDIDATE PAIR,
    * orders of magnitude below the corpus.
    *
    * The signature build (shingle explode + 4 md5s per shingle + 16-min
    * agg) is the family's dominant corpus pass, and FOUR consumers derive
    * from it ([[minhash]], [[minhashPairs]] behind
    * clusters/keepCanonical/agreement/splitSafe, [[crossEval]]'s corpus
    * side, [[bucketStats]]); the frame is |docs| × 16 fixed-width hex
    * prefixes — model-per-row, corpus-many rows, exactly what
    * MEMORY_AND_DISK is for.
    */
  private[operators] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    DedupPairs.frame(s, dir, "minhash_sig")(minhashSignatures(docs(s, dir)))

  /** Memoized [[minhashCandidatesFromSig]] over the session's corpus. */
  private[operators] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    DedupPairs.frame(s, dir, "minhash")(
      minhashCandidatesFromSig(minhashSigs(s, dir)))

  /** Memoized [[embedNearPairs]] over the session's embedding table. */
  private[operators] def embedPairs(s: SparkSession, dir: String): DataFrame =
    DedupPairs.frame(s, dir, "embed")(embedNearPairs(
      Similarity.hyperplaneSignatures(s, Tables.load(s, dir, "embeddings"))))

  /** Per-document signature prefix + LSH candidate count over `documents`.
    * Candidates come from the session-shared [[minhashPairs]]
    * materialization (first consumer pays the corpus pass); the prefix
    * columns are one further shingle/min-agg pass. Fully oracle-checked:
    * the md5-chunk hash family is replayed in DuckDB ([[minhashPairsSql]]).
    */
  val minhash: Q = Q("dedup_minhash",
    s"""WITH $minhashPairsSql,
       |cnt AS (SELECT doc_id, count(*) AS n_candidates FROM (
       |    SELECT id1 AS doc_id FROM pairs UNION ALL SELECT id2 FROM pairs) e
       |  GROUP BY doc_id)
       |SELECT s.doc_id, h0, h1, h2, h3, coalesce(c.n_candidates, 0) AS n_candidates
       |FROM sig s LEFT JOIN cnt c USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sig = minhashSigs(s, dir)
    candidateCounts(
      sig.select(col("doc_id"), col("h0"), col("h1"), col("h2"), col("h3")),
      minhashPairs(s, dir), "doc_id", "n_candidates")
  }

  /** Connected components over an undirected candidate-pair graph (id1,
    * id2) by min-label propagation: every vertex repeatedly takes the
    * minimum label in its closed neighborhood, converging in O(graph
    * diameter) rounds — near-dup graphs are unions of small dense clusters,
    * so a handful of rounds suffices (20 is a generous backstop).
    *
    * Scale layout: the driver loop only ORCHESTRATES; each round is one
    * shuffle of (vertex, label) on vertex id joined against the persisted
    * edge list, and the fixpoint probe is a LIMIT-1 aggregate, never a
    * collect of data rows. `localCheckpoint` truncates the per-round
    * lineage (the standard iterative-Spark pattern — without it, round N
    * re-plans N joined copies of the whole pipeline).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("dst_label")).as("nmin"))
      // eager checkpoint: materialized once, then read twice by the jump
      // self-join below (and lineage is cut per round)
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("nmin") < col("label")).as("changed"))
        .localCheckpoint()
      // probe BEFORE jumping: on the final (confirming) round nothing
      // changed, so the pointer-jump would be a no-op — skipping it saves
      // one checkpoint job per search (near-dup graphs are clique-heavy,
      // so most searches converge in two rounds and the saving is ~1/5 of
      // the round budget)
      converged = propagated.filter(col("changed")).limit(1).count() == 0L
      releaseCheckpoint(labels)
      if (converged) {
        labels = propagated.select(col("id"), col("label"))
      } else {
        // pointer jumping: follow the label one more hop (label := label
        // of label) — label distance-to-root roughly halves per round, so
        // convergence is O(log diameter) and maxRounds=20 covers any
        // realistic component (a plain one-hop loop is O(diameter) and
        // could silently time out on a long edit-chain)
        val jumped = propagated.as("v")
          .join(propagated.select(col("id").as("label"),
            col("label").as("jump")).as("p"), Seq("label"), "left")
          .select(col("id"), coalesce(col("jump"), col("label")).as("label"))
          .localCheckpoint()
        // deterministic release of the round's checkpoint blocks:
        // Dataset.unpersist is a no-op for localCheckpoint'd data (it only
        // clears CacheManager entries), so unpersist the checkpointed RDD
        // itself — otherwise every round leaves a dead (vertex, label)
        // snapshot in executor storage until driver GC
        releaseCheckpoint(propagated)
        labels = jumped
      }
      round += 1
    }
    edges.unpersist()
    require(converged,
      s"connected components did not converge in $maxRounds rounds — " +
        "component diameter exceeds 2^rounds; raise maxRounds")
    labels
  }

  /** Per-session memo of the component search: the labels frame is backed
    * by a materialized localCheckpoint, so both consumers of the cluster
    * assignment ([[clusters]] and [[keepCanonical]]) reuse ONE iterative
    * search per (session, dir) instead of re-running it — exactly how a
    * production pipeline consumes a cluster assignment twice. Retention is
    * two longs per clustered doc until the `dedup_pairs` family is
    * released, which frees the checkpoint blocks.
    */
  private[operators] def componentLabels(s: SparkSession, dir: String): DataFrame =
    DedupPairs.memo(s, dir, "components")(
      connectedComponents(minhashPairs(s, dir))
        .select(col("id").as("doc_id"), col("label")))(releaseCheckpoint)

  /** Near-dup clustering end-to-end: MinHash+LSH candidate pairs →
    * connected components → one cluster id (the minimum member doc_id) per
    * document, with the cluster size alongside — the "keep one canonical
    * doc per duplicate group" primitive a training pipeline actually
    * executes. Documents with no near-dup candidates are their own
    * singleton cluster.
    *
    * NOTE: unlike every other registered query, CONSTRUCTING this frame
    * executes the iterative component search (the driver loop must run its
    * per-round jobs to know the final labels) — plan-only consumers pay
    * the full search, which is inherent to any fixpoint iteration
    * expressed over DataFrames (amortized per session by [[componentLabels]]).
    */
  /** DuckDB replay of candidate graph → connected components → cluster
    * assignment: transitive closure as a recursive CTE (UNION dedups, so
    * it terminates), label = min reachable id. Tractable at oracle scale
    * (closure is |component|² rows per component); the Spark side is the
    * scalable pointer-jumping search. Ends with `asg` (doc_id, cluster_id).
    */
  private[operators] val clustersSql: String =
    s"""$minhashPairsSql,
       |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
       |  UNION SELECT id2 AS a, id1 AS b FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS doc_id, min(b) AS lbl FROM reach GROUP BY a),
       |asg AS (SELECT d.doc_id, least(coalesce(l.lbl, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN labels l USING (doc_id))""".stripMargin

  val clusters: Q = Q("dedup_clusters",
    s"""WITH RECURSIVE $clustersSql
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM asg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val comp = componentLabels(s, dir)
    val asg = d.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .drop("label")
    // Two-phase size count instead of `count(*) OVER (PARTITION BY
    // cluster_id)`: the window funnels a cluster's FULL membership through
    // one task, so a degenerate mega-cluster (boilerplate-heavy crawls)
    // OOMs a single executor. groupBy gets map-side partial aggregation
    // (a mega-cluster collapses to one row per input partition before the
    // exchange) and the join back is a plain equi-join AQE can skew-split.
    val sizes = asg.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    asg.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** The deduplicated corpus itself: keep exactly the canonical document
    * of every near-dup cluster (cluster_id == doc_id) — the materialization
    * step that actually shrinks the training set after [[clusters]] has
    * decided group membership. Output is the kept doc ids with how many
    * documents each one represents.
    */
  val keepCanonical: Q = Q("dedup_keep",
    s"""WITH RECURSIVE $clustersSql
       |SELECT doc_id, cluster_size AS represents FROM (
       |  SELECT doc_id, cluster_id,
       |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM asg)
       |WHERE cluster_id = doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    clusters.run(s, dir)
      .filter(col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("cluster_size").as("represents"))
      .orderBy(col("doc_id"))
  }

  private val SimhashBits = 60
  private val SimhashBandBits = SimhashBits / 4

  /** DuckDB replay of the simhash pipeline. The 60-bit word hash is built
    * by positional nibble arithmetic over the same md5 hex that Spark's
    * `conv(substr(md5(w), 1, 15), 16, 10)` parses; everything downstream
    * (bit sums, sign bits, bands, candidate counts) is integer-exact.
    */
  private val simhashOracleSql: String = {
    val hExpr = (1 to 15)
      .map(k => s"(strpos('0123456789abcdef', substr(d, $k, 1)) - 1)::BIGINT" +
        s" * (1::BIGINT << ${4 * (15 - k)})")
      .mkString(" + ")
    val bitSums = (0 until SimhashBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val shCol = (0 until SimhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END")
      .mkString(" + ")
    val mask = (1L << SimhashBandBits) - 1
    s"""WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |wh AS (SELECT DISTINCT doc_id, ($hExpr) AS h
       |  FROM (SELECT doc_id, md5(w) AS d FROM w0)),
       |sums AS (SELECT doc_id, $bitSums FROM wh GROUP BY doc_id),
       |sig AS (SELECT doc_id, ($shCol) AS simhash FROM sums),
       |bands AS (SELECT doc_id, u.b,
       |    (simhash >> (u.b * $SimhashBandBits)) & $mask AS bkey
       |  FROM sig, (SELECT unnest([0,1,2,3]) AS b) u),
       |$capBucketsSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bandsk x JOIN bandsk y
       |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS n_candidates FROM (
       |    SELECT id1 AS doc_id FROM pairs UNION ALL SELECT id2 FROM pairs) e
       |  GROUP BY doc_id)
       |SELECT s.doc_id, simhash, coalesce(c.n_candidates, 0) AS n_candidates
       |FROM sig s LEFT JOIN cnt c USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** SimHash: 60-bit signature where bit j is the sign of Σ over a doc's
    * DISTINCT WORD HASHES of ±1 according to bit j of the hash (hashes
    * are distinct-ed, not words — the digest rides the dedup exchange). Near-dup candidates
    * share a 15-bit band (Hamming-distance banding). Integer sums → fully
    * deterministic under any partitioning.
    *
    * The word hash is the first 15 hex chars of md5 parsed as a 60-bit int
    * (`conv` base-16) — engine-portable, so the DuckDB oracle re-derives
    * the identical signatures, bands, and candidate counts (the oracle
    * builds the same value by positional nibble arithmetic; both sides
    * read the SAME md5 hex).
    */
  val simhash: Q = Q("dedup_simhash", simhashOracleSql) { (s, dir) =>
    // Digest BEFORE the distinct exchange (the gram-digest shuffle lever,
    // same as text_novelty): the dedup shuffle carries an 8-byte long per
    // (doc, word) instead of the word string, and the signature semantics
    // become "distinct word HASHES per doc" — identical in both engines
    // (the oracle distincts the same nibble-parsed value), deterministic,
    // and within 60-bit collision odds of the distinct-words form.
    // ZERO-EXCHANGE signature build: a document's words all live in its
    // own row, so "distinct word hashes per doc" never needed a shuffle —
    // the old explode → distinct → groupBy shape pushed two corpus-wide
    // exchanges of 500M slim rows at ×100 purely to re-group rows that
    // were born grouped. The whole signature is now ONE map-side
    // projection: split → hash → array_distinct → a SWAR-packed fold
    // (aggregate HOF; lane l of pack g counts bit 4g+l in 16-bit lanes,
    // overflow two orders beyond any real document's distinct-word
    // count) → the sign test 2·c_j > n, exactly the ±1-sum semantics the
    // DuckDB oracle replays. Only the band self-join shuffles — as it
    // must. Measured honestly: local[32] ×100 is a WASH (~31 s either
    // way — the query's cost is the ×100 clique-driven candidate
    // distinct, not the signatures) but the two deleted exchanges each
    // carried ~500M rows, which is the expensive resource on a real
    // cluster where shuffle is network, not SSD.
    val hsExpr =
      "array_distinct(transform(split(text, ' '), " +
        "w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)))"
    val packZero = "named_struct(" +
      (0 until SimhashBits / 4).map(g => s"'c$g', CAST(0 AS BIGINT)")
        .mkString(", ") + ")"
    val packMerge = "(acc, x) -> named_struct(" +
      (0 until SimhashBits / 4).map { g =>
        val lanes = (0 until 4)
          .map(l => s"(((x >> ${4 * g + l}) & 1) << ${16 * l})")
          .mkString(" + ")
        s"'c$g', acc.c$g + $lanes"
      }.mkString(", ") + ")"
    val sums = docs(s, dir)
      .select(col("doc_id"), expr(hsExpr).as("hs"))
      .select(col("doc_id"),
        expr(s"aggregate(hs, $packZero, $packMerge)").as("cs"),
        size(col("hs")).cast("long").as("nw"))
    val simhashCol = (0 until SimhashBits).map { j =>
      val c = shiftright(col(s"cs.c${j / 4}"), 16 * (j % 4))
        .bitwiseAND(lit(0xFFFFL))
      when(c * 2 > col("nw"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sig = sums.select(col("doc_id"), simhashCol.as("simhash"))
    // Per-doc verdict WITHOUT pair materialization: n_candidates is
    // |A₀ ∪ A₁ ∪ A₂ ∪ A₃| where A_b = the doc's band-b bucket co-members
    // (∅ when that bucket is over [[MaxBandBucket]] — the capBuckets
    // semantics). Every term of the inclusion–exclusion expansion is a
    // COMPOSITE-BUCKET size: docs in my A_{i}∩A_{j} are exactly the docs
    // sharing BOTH band keys with me, i.e. my (bkey_i, bkey_j) composite
    // bucket minus self — so the whole union size is 15 window COUNTS
    // over the slim (doc_id, bkey₀..₃) frame, signed ±1 by subset parity
    // and gated on the single-band keep flags. No band explode, no pair
    // rows (the old DISTINCT shipped ~10⁸ clique-quadratic pairs at
    // ×100), no member arrays — and the windows orderd by lowest set bit
    // ride each other's partitioning (HashPartitioning(bkey_i) satisfies
    // every superset's ClusteredDistribution), so the plan pays FOUR
    // exchanges of |docs| slim rows, total. The oracle keeps the
    // band-join + DISTINCT-pair form as the independent replay.
    val mask = (1L << SimhashBandBits) - 1
    val keyed = (0 until 4).foldLeft(sig) { (df, b) =>
      df.withColumn(s"k$b",
        shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(lit(mask)))
    }
    // subsets ordered by lowest set bit so each band's exchange is reused
    val subsets = (1 until 16).sortBy(java.lang.Integer.numberOfTrailingZeros)
    val counted = subsets.foldLeft(keyed) { (df, s) =>
      val cols = (0 until 4).filter(i => (s & (1 << i)) != 0).map(i => col(s"k$i"))
      df.withColumn(s"m$s", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(cols: _*)))
    }
    val terms = subsets.map { s =>
      val bits = (0 until 4).filter(i => (s & (1 << i)) != 0)
      val sign = if (bits.size % 2 == 1) 1L else -1L
      val allKept = bits.map(i => col(s"m${1 << i}") <= MaxBandBucket)
        .reduce(_ && _)
      when(allKept, lit(sign) * (col(s"m$s") - 1L)).otherwise(lit(0L))
    }
    counted
      .select(col("doc_id"), col("simhash"),
        terms.reduce(_ + _).as("n_candidates"))
      .orderBy(col("doc_id"))
  }

  /** Embedding-cosine near-dup: LSH-bucketed (random hyperplanes, shared
    * with [[Similarity]]), exact quantized-integer cosine within buckets,
    * near-neighbor count per vector. The bucket join replaces the O(n²)
    * all-pairs cosine — the scale path for embedding dedup.
    */
  /** Shared oracle CTE chain for the embedding near-dup pairs: ends with
    * `near` (id1 < id2, exact cosine ≥ 0.8). Requires nothing upstream. */
  private val embedNearSql: String =
    s"""${Similarity.quantizedSql},
       |${Similarity.lshBucketsSql},
       |bcnt AS (SELECT t, bucket, count(*) AS bsz FROM buckets
       |  GROUP BY t, bucket),
       |bk AS (SELECT b.vec_id, b.t, b.bucket FROM buckets b
       |  JOIN bcnt USING (t, bucket) WHERE bcnt.bsz <= $MaxBandBucket),
       |prs AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
       |  FROM bk x JOIN bk y
       |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |near AS (SELECT id1, id2 FROM prs p
       |  JOIN nz a ON a.vec_id = p.id1 JOIN nz b ON b.vec_id = p.id2
       |  WHERE ${Similarity.cosSql("a.qv", "a.nrm", "b.qv", "b.nrm")} >= 0.8)""".stripMargin

  /** Embedding near-dup pairs (id1 < id2, cosine ≥ 0.8) from a signature
    * frame — the shared pair stage of [[embed]] and [[agreement]].
    * Pair generation runs over slim (vec_id, t, bucket) entries — the
    * explode never copies vector payloads ×tables
    * ([[Similarity.bucketEntries]]). Hot buckets are capped like every
    * band self-join in this file ([[capBuckets]]): the LSH geometry knob
    * is the primary guard, but a corpus whose embeddings correlate with
    * the fixed hyperplanes can still concentrate one bucket, and a >cap
    * bucket carries no discriminating signal at any geometry. Binds
    * nowhere at the shipped SFs (oracle replays the identical cap).
    */
  def embedNearPairs(sig: DataFrame): DataFrame = {
    val entries = capBuckets(Similarity.bucketEntries(sig), Seq("t", "bucket"))
    val pairIds = entries.as("x").join(entries.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct() // a pair co-bucketed in several tables scores once
    // fetch both sides' vectors for exact rescoring
    val v = sig.select(col("vec_id"), col("qv"), col("nrm"))
    pairIds
      .join(v.select(col("vec_id").as("id1"), col("qv").as("qv1"), col("nrm").as("nrm1")), Seq("id1"))
      .join(v.select(col("vec_id").as("id2"), col("qv").as("qv2"), col("nrm").as("nrm2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        Similarity.cosine(col("qv1"), col("nrm1"), col("qv2"), col("nrm2")).as("cos"))
      // coalesce makes the threshold null-tolerant (null cos is excluded
      // either way), so the optimizer cannot infer isnotnull(nrm)/
      // isnotnull(qv) constraints — plain `>=` pushed those below the
      // projections, re-evaluating the full dot-product `nrm` expression
      // inside scan-side filters on every corpus row (2× per branch).
      .filter(coalesce(col("cos") >= 0.8, lit(false)))
      .select(col("id1"), col("id2"))
  }

  val embed: Q = Q("dedup_embed",
    s"""WITH $embedNearSql,
       |cnt AS (SELECT vec_id, count(*) AS n_near FROM (
       |    SELECT id1 AS vec_id FROM near UNION ALL SELECT id2 FROM near) e
       |  GROUP BY vec_id)
       |SELECT n.vec_id, coalesce(c.n_near, 0) AS n_near
       |FROM nz n LEFT JOIN cnt c USING (vec_id) ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val sig = Similarity.hyperplaneSignatures(s, Tables.load(s, dir, "embeddings"))
    candidateCounts(sig.select(col("vec_id")), embedPairs(s, dir),
      "vec_id", "n_near")
  }

  /** Dedup METHOD-AGREEMENT audit — the meta-analysis a pipeline owner
    * runs before trusting a near-dup strategy: how much do the TEXT
    * near-dup candidates (MinHash band collisions over word 3-shingles,
    * [[minhash]]) and the EMBEDDING near-dups (LSH buckets + exact
    * cosine ≥ 0.8, [[embed]]) agree on the same corpus? Documents and
    * embeddings share the id space (doc_id ≡ vec_id in the test corpus —
    * the row-aligned layout a multimodal corpus ships), so both methods
    * emit canonical (id1 < id2) pairs and the report is a full-outer
    * pair join: pairs found by both, by text only, by embedding only,
    * and the Jaccard agreement of the two pair sets in exact ppm.
    *
    * Scale shape: both pair pipelines are the banded (never all-pairs)
    * forms with the shared [[MaxBandBucket]] cap, consumed through the
    * session's [[minhashPairs]]/[[embedPairs]] materializations (the
    * audit reads the SAME pair sets the dedup queries counted — which is
    * also what makes it an audit); the full-outer join keys on the pair
    * itself — candidate-set-sized, orders of magnitude below the corpus —
    * and the output is ONE row. agree_ppm is BIGINT floor division,
    * zero-guarded in both engines.
    */
  val agreement: Q = Q("dedup_agreement",
    s"""WITH $minhashPairsSql,
       |$embedNearSql,
       |u AS (SELECT coalesce(t.id1, n.id1) AS id1,
       |    (t.id1 IS NOT NULL) AS by_text, (n.id1 IS NOT NULL) AS by_embed
       |  FROM pairs t FULL JOIN near n ON t.id1 = n.id1 AND t.id2 = n.id2)
       |SELECT
       |  CAST(count(*) FILTER (WHERE by_text AND by_embed) AS BIGINT) AS n_both,
       |  CAST(count(*) FILTER (WHERE by_text AND NOT by_embed) AS BIGINT) AS n_text_only,
       |  CAST(count(*) FILTER (WHERE NOT by_text AND by_embed) AS BIGINT) AS n_embed_only,
       |  CAST(CASE WHEN count(*) = 0 THEN 0
       |    ELSE count(*) FILTER (WHERE by_text AND by_embed) * 1000000 // count(*)
       |  END AS BIGINT) AS agree_ppm
       |FROM u""".stripMargin) { (s, dir) =>
    val textPairs = minhashPairs(s, dir).withColumn("bt", lit(1))
    val embPairs = embedPairs(s, dir).withColumn("be", lit(1))
    textPairs.join(embPairs, Seq("id1", "id2"), "full")
      .agg(
        coalesce(sum(when(col("bt").isNotNull && col("be").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_both"),
        coalesce(sum(when(col("bt").isNotNull && col("be").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_text_only"),
        coalesce(sum(when(col("bt").isNull && col("be").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_embed_only"),
        when(count(lit(1)) === 0, 0L).otherwise(
          expr("sum(CASE WHEN bt IS NOT NULL AND be IS NOT NULL THEN 1L ELSE 0L END)" +
            " * 1000000L div count(1)")).as("agree_ppm"))
  }

  private val CrossEvalSize = 50

  /** Cross-corpus FUZZY decontamination: flag training documents that are
    * near-duplicates of an eval set — the MinHash complement to
    * `text_decontam`'s exact 8-gram overlap (a paraphrased or
    * lightly-edited benchmark leak shares band signatures long after the
    * exact 8-grams stop matching). The "eval set" is the
    * [[CrossEvalSize]] lowest-digest documents (a deterministic stand-in
    * for the external benchmark corpus a real pipeline would load); every
    * other document is "training".
    *
    * Scale shape — and why this is NOT the self-join: the eval side of a
    * decontamination pass is small by nature (benchmarks are thousands of
    * documents, the corpus is billions), so its banded entries BROADCAST
    * and the candidate pass is a map-side semi-join over the corpus'
    * (band, bkey) entries — one linear scan, zero shuffle for candidate
    * generation, no Σ bucket² term anywhere. One signature pass feeds the
    * same md5-chunk band family as [[minhash]] (shared
    * [[cappedBands]]/[[capBuckets]] guard, oracle replays the identical
    * cap).
    */
  val crossEval: Q = Q("dedup_cross",
    s"""WITH $minhashPairsSql,
       |ev AS (SELECT doc_id FROM documents ORDER BY md5(text), doc_id LIMIT $CrossEvalSize),
       |evb AS (SELECT DISTINCT b, bkey, doc_id AS eval_id FROM bandsk
       |  WHERE doc_id IN (SELECT doc_id FROM ev)),
       |trb AS (SELECT doc_id, b, bkey FROM bandsk
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
       |hits AS (SELECT doc_id, count(*) AS n_eval_nears FROM (
       |    SELECT DISTINCT t.doc_id, e.eval_id
       |    FROM trb t JOIN evb e ON t.b = e.b AND t.bkey = e.bkey) g
       |  GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(h.n_eval_nears, 0) AS n_eval_nears,
       |  coalesce(h.n_eval_nears, 0) > 0 AS fuzzy_contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM ev)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val ev = d.select(col("doc_id"), md5(col("text")).as("dig"))
      .orderBy(col("dig"), col("doc_id")).limit(CrossEvalSize)
      .select(col("doc_id"))
    val kept = cappedBands(minhashSigs(s, dir))
    val evBands = kept.join(broadcast(ev), Seq("doc_id"))
      .select(col("band"), col("bkey"), col("doc_id").as("eval_id"))
      .distinct()
    val trainBands = kept.join(broadcast(ev), Seq("doc_id"), "left_anti")
    val hits = trainBands.join(broadcast(evBands), Seq("band", "bkey"))
      .select(col("doc_id"), col("eval_id")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval_nears"))
    d.select(col("doc_id"))
      .join(broadcast(ev), Seq("doc_id"), "left_anti")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_eval_nears", coalesce(col("n_eval_nears"), lit(0L)))
      .withColumn("fuzzy_contaminated", col("n_eval_nears") > 0)
      .orderBy(col("doc_id"))
  }

  /** Edit-distance record linkage (fuzzy join) over `part` names — the
    * string-similarity member of the near-dup family: where [[minhash]] /
    * [[simhash]] approximate SET similarity, this finds pairs within a
    * bounded Levenshtein distance EXACTLY, using blocking to stay off the
    * O(n²) cliff. Block key = `p_brand` (records in different blocks can
    * never pair), plus a length-difference prefilter — |len(a)−len(b)| is
    * a lower bound on edit distance, so a |Δlen| ≤ 3 gate rejects ONLY
    * pairs the dist ≤ 3 predicate rejects (±2 would silently drop the
    * boundary case of three pure insertions), and it costs two
    * `length()`s instead of a DP-table evaluation. The surviving pairs run `levenshtein(a, b, 3)`
    * — the THRESHOLD form (Spark 3.5+): a banded DP that visits only the
    * 2·3+1 diagonal stripe, O(threshold·len) per pair instead of
    * O(len²), returning the exact distance when ≤ 3 and −1 past it. For
    * the pairs that survive `dist ≤ 3` the value is identical to the
    * full DP, so DuckDB's unbounded `levenshtein` + `dist <= 3` replays
    * the result bit-for-bit while Spark skips ~90% of each DP table on
    * the (dominant) rejected pairs.
    *
    * Scale shape: TWO sound blocking keys, not one. Brand alone leaves
    * |part|/25-row blocks whose pair count grows quadratically with the
    * linked table (constant in the shipped smokes — ScaleUp holds `part`
    * fixed as a dimension — but a real linkage corpus scales, and blocks
    * must not), so the equi-join key is (brand, EXACT name length): the
    * right side explodes each row to lengths {L−3..L+3} (7 copies of the
    * smaller projection, long before the join), so an equi-match on
    * (brand, length) IS the |Δlen| ≤ 3 gate — the join emits exactly the
    * qualifying candidates, each exactly once, and zero band false
    * positives ever reach the DP (a width-3 banding variant measured 3×
    * more join output, all of it abs()-rejected after the match).
    * Within a (brand, length) block the pair count is the universal
    * record-linkage trade: exact-length blocking divides block sizes by
    * the full name-length spread, and a skewed key would get the
    * [[graft.operators.Analytics]] salting treatment. The banded-DP cost
    * runs inside the same codegen stage as the match, and the output
    * aggregates to one row per brand, so the exchange out of the join is
    * constant-size at any corpus scale.
    */
  val fuzzyJoin: Q = Q("fuzzy_join",
    """WITH b2 AS (SELECT p_partkey, p_brand, p_name,
      |    length(p_name) + d.d AS band
      |  FROM part, (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS d) d),
      |c AS (SELECT p1.p_brand AS brand,
      |    levenshtein(p1.p_name, p2.p_name) AS dist
      |  FROM part p1 JOIN b2 p2 ON p1.p_brand = p2.p_brand
      |    AND length(p1.p_name) = p2.band
      |    AND p1.p_partkey < p2.p_partkey)
      |SELECT brand, count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(sum(dist) AS BIGINT) AS sum_dist
      |FROM c WHERE dist <= 3
      |GROUP BY brand ORDER BY brand""".stripMargin) { (s, dir) =>
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    // The probe side drives the pairwise DP, and a dimension-sized parquet
    // arrives as ONE split — without an explicit spread the whole quadratic
    // stage runs on a single task (measured: 10.2 s → 3.0 s at sf0.1).
    // Round-robin, not by-brand: the DP stage is map-only after a broadcast
    // join, so any even spread works and 25 brand keys would just re-skew.
    val p1 = p.repartition(s.sparkContext.defaultParallelism)
      .withColumn("band", length(col("p_name"))).as("p1")
    val p2 = p
      .withColumn("band",
        explode(expr("array(length(p_name) - 3, length(p_name) - 2," +
          " length(p_name) - 1, length(p_name), length(p_name) + 1," +
          " length(p_name) + 2, length(p_name) + 3)")))
      .as("p2")
    p1.join(p2,
        col("p1.p_brand") === col("p2.p_brand") &&
          col("p1.band") === col("p2.band") &&
          col("p1.p_partkey") < col("p2.p_partkey"))
      .select(col("p1.p_brand").as("brand"),
        levenshtein(col("p1.p_name"), col("p2.p_name"), 3).as("dist"))
      .where(col("dist") >= 0)
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(col("dist")).as("sum_dist"))
      .orderBy(col("brand"))
  }

  /** LSH bucket-occupancy report — the measurement [[MaxBandBucket]] (and
    * any banding geometry) is tuned by: per band, the histogram of bucket
    * sizes, each size's exact C(bsz,2) self-join pair cost, and whether
    * the hot-bucket cap cuts it. The Σ pair_cost column IS the
    * candidate-generation work the banded search would do uncapped — the
    * number that says whether a corpus's band distribution is healthy
    * (many small buckets) or degenerating into the quadratic mega-bucket
    * regime the cap exists for. The same-spirit tool as `events_lateness`
    * is for watermarks: measure the knob's input instead of guessing.
    *
    * Shape: the band frame's (band, bkey) groupBy is the SAME exchange
    * the candidate self-join partitions by; the histogram re-agg runs on
    * the |buckets|-sized frame and the output is |distinct sizes| rows —
    * model-sized at any corpus scale.
    */
  val bucketStats: Q = Q("dedup_bucket_stats",
    s"""WITH $minhashBandsSql,
       |bs AS (SELECT b, bkey, count(*) AS bsz FROM bands GROUP BY 1, 2)
       |SELECT CAST(b AS BIGINT) AS band, CAST(bsz AS BIGINT) AS bucket_size,
       |  count(*) AS n_buckets,
       |  CAST(count(*) * (bsz * (bsz - 1) // 2) AS BIGINT) AS pair_cost,
       |  CAST(CASE WHEN bsz > $MaxBandBucket THEN 1 ELSE 0 END AS BIGINT) AS capped
       |FROM bs GROUP BY b, bsz ORDER BY band, bucket_size""".stripMargin) { (s, dir) =>
    bandFrame(minhashSigs(s, dir))
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("bsz"))
      .groupBy(col("band"), col("bsz")).agg(count(lit(1)).as("n_buckets"))
      .select(col("band").cast("long").as("band"),
        col("bsz").cast("long").as("bucket_size"),
        col("n_buckets"),
        (col("n_buckets") * expr("(bsz * (bsz - 1)) div 2")).cast("long")
          .as("pair_cost"),
        when(col("bsz") > MaxBandBucket, 1L).otherwise(0L).as("capped"))
      .orderBy(col("band"), col("bucket_size"))
  }

  // NOTE (round 10): an exact prefix-filtered set-similarity join
  // (AllPairs/PPJoin, word-set Jaccard ≥ 0.8 corpus-wide) was built,
  // oracle-verified at all three SFs — and then REMOVED: this corpus'
  // template-heavy near-dup clusters give "rare" prefix tokens document
  // frequencies in the hundreds and ~3M true result pairs at sf0.1, so
  // the exact join is output-bound (253 s at sf0.1 — 2.5× the whole
  // bench). The banded [[minhash]] path with hot-bucket caps IS the
  // 100 TB answer on such corpora; exact thresholds belong on bounded
  // slices ([[ngramJaccard]]'s deterministic sample).

  /** Incremental MinHash-index maintenance — `incr_agg_merge`'s proof
    * shape applied to the near-dup family: the band-bucket index is built
    * from the PRE-MIDPOINT half of the corpus, the post-midpoint docs
    * arrive as a delta whose signatures are banded separately, and the two
    * entry sets merge by plain union — valid because a MinHash signature
    * is a PER-DOCUMENT function (min over the doc's own shingle hashes,
    * no corpus interaction), so index(base ∪ δ) = index(base) ∪ band(sig(δ))
    * exactly. The ORACLE is the full rebuild over all documents; the hash
    * gate therefore IS the merge theorem, proven at every SF. This is the
    * shape a daily ingest runs at 100 TB: sign and band ONLY the day's
    * delta, append to the index, and re-derive the capped bucket stats —
    * never re-signature the corpus.
    *
    * Output observability: per band, `n_base`/`n_delta` count entries
    * from the two SEPARATELY-built frames (so the gate observes that both
    * paths ran — the merge grain, like quantile_sketch's day_registers),
    * plus merged-bucket and capped-candidate-pair counts. The bucket cap
    * is the one corpus-global step (bucket sizes must see the merged
    * index) — it runs on the union, exactly as a production refresh
    * re-caps after append, and costs a bucket-keyed aggregate on the
    * entry-sized frame, not a corpus pass.
    *
    * Shape: the midpoint is a 2-value aggregate collected as a LITERAL so
    * both halves' filters push into the parquet scan (plan-asserted in
    * DedupSpec: two documents scans, each with a doc_id pushed filter —
    * no unfiltered third signature pass); each half pays one
    * shingle/md5/min-agg pass; everything downstream is entry-sized.
    */
  /** One-time persisted BASE band index + midpoint — the missing storage
    * half of [[incrIndex]]'s incremental-maintenance story. The merge
    * theorem (index(base ∪ δ) = index(base) ∪ band(sig(δ))) is only
    * worth anything if the base index actually LIVES somewhere: before
    * this fixture the timed query re-signed the base half every run
    * (~21 s at ×100, signature-bound), which is precisely what a daily
    * ingest must never do. Persisted per corpus version
    * ([[graft.FixtureStore]], the ann_index_persist train-once shape):
    *   - `baseidx` (doc_id, band, bkey) — the pre-midpoint half's band
    *     entries, the table a production index refresh appends to; bkey
    *     is the 60-bit long form ([[bandFrameLong]]) so the stored scan
    *     reads 8-byte keys and the serve path's exchanges stay narrow
    *   - `meta`    (lo, hi, mid)        — the midpoint literal, so the
    *     serve path never re-scans documents for the split point
    * [[incrIndex]] then signs ONLY the delta half (one documents scan,
    * pushed `doc_id >= mid` filter — plan-asserted in
    * DedupSimilaritySpec) and unions the stored entries in.
    */
  def baseIndexWrite(s: SparkSession, dir: String): String =
    graft.FixtureStore.obtain("dedupbase", dir, Seq("documents"), getClass) { root =>
      import s.implicits._
      val d = docs(s, dir)
      val r = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .collect()(0)
      val lo = r.getAs[Long]("lo"); val hi = r.getAs[Long]("hi")
      val mid = Math.floorDiv(lo + hi, 2L)
      bandFrameLong(minhashSignatures(d.filter(col("doc_id") < mid)))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/baseidx")
      Seq((lo, hi, mid)).toDF("lo", "hi", "mid")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/meta")
      graft.Scratch.release(s)
    }

  /** Declared schemas of the two tables [[baseIndexWrite]] stores.
    * [[incrIndex]] reads them through [[graft.sources.Ingest.parquet]],
    * the way [[Tables.load]] reads every testdata table, so the serve path
    * launches no footer-inference job per query.
    */
  private[operators] val BaseIdxSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bkey", LongType)))
  private[operators] val BaseMetaSchema: StructType = StructType(
    Seq("lo", "hi", "mid").map(StructField(_, LongType)))

  /** [[bandFrame]] with the 32-hex-char band key re-digested to a 60-bit
    * long MAP-SIDE, before any exchange — the 6bf62fb gram-key pattern
    * applied to the incremental index (round 18): the stored base index,
    * the delta's band entries, and every downstream (band, bkey) exchange
    * (bucket counts, distinct-bucket counts, the cap aggregate) compare
    * and ship an 8-byte key instead of a 32-char string. The oracle
    * replays the identical truncation (`CAST('0x'||substr(bkey,1,15) AS
    * BIGINT)`), so a truncation collision merges the same buckets in both
    * engines — the md5-prefix argument, one prefix shorter.
    */
  private def bandFrameLong(sig: DataFrame): DataFrame =
    bandFrame(sig).select(col("doc_id"), col("band"),
      expr("CAST(conv(substring(bkey, 1, 15), 16, 10) AS BIGINT)").as("bkey"))

  val incrIndex: Q = Q("dedup_incr_index",
    s"""WITH $minhashBandsSql,
       |m AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents),
       |bl AS (SELECT doc_id, b,
       |    CAST(concat('0x', substr(bkey, 1, 15)) AS BIGINT) AS bkey FROM bands),
       |bandsc AS (SELECT doc_id, b, bkey,
       |    count(*) OVER (PARTITION BY b, bkey) AS bsz FROM bl),
       |bandsk AS (SELECT doc_id, b, bkey FROM bandsc WHERE bsz <= $MaxBandBucket),
       |pr AS (SELECT x.b, x.doc_id AS id1, y.doc_id AS id2
       |  FROM bandsk x JOIN bandsk y
       |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |pb AS (SELECT b, count(*) AS n_pairs FROM pr GROUP BY b),
       |st AS (SELECT b,
       |    count(CASE WHEN doc_id < (SELECT mid FROM m) THEN 1 END) AS n_base,
       |    count(CASE WHEN doc_id >= (SELECT mid FROM m) THEN 1 END) AS n_delta,
       |    count(DISTINCT bkey) AS n_buckets
       |  FROM bl GROUP BY b)
       |SELECT CAST(b AS BIGINT) AS band, CAST(n_base AS BIGINT) AS n_base,
       |  CAST(n_delta AS BIGINT) AS n_delta,
       |  CAST(n_buckets AS BIGINT) AS n_buckets,
       |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs
       |FROM st LEFT JOIN pb USING (b) ORDER BY band""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    // serve the base half from the persisted index when one exists (the
    // Bench path — midpoint comes from the stored meta, base entries from
    // the stored table, so documents is scanned ONCE, delta half only);
    // first consumer without a fixture (Verify, specs) derives inline —
    // the same values, proven by the fixture ≡ rebuilt spec + hash gate
    val (mid, baseIdx) = graft.FixtureStore.peek("dedupbase", dir) match {
      case Some(root) =>
        val m = Ingest.parquet(s, s"$root/meta", BaseMetaSchema)
          .collect()(0).getAs[Long]("mid")
        // no Scratch persist here: the stored index is a cheap columnar
        // scan (unlike the inline signature pipeline below, which IS
        // worth caching for its three consumers) — re-reading parquet
        // keeps the serve plan visibly storage-backed
        (m, Ingest.parquet(s, s"$root/baseidx", BaseIdxSchema))
      case None =>
        // 2-value model collect → literal midpoint → pushed half filters
        val r = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
          .collect()(0)
        val m = Math.floorDiv(r.getAs[Long]("lo") + r.getAs[Long]("hi"), 2L)
        // persisted: the half's entries feed its own stat AND the merged
        // index — the signature pass runs once
        (m, graft.Scratch.track(
          bandFrameLong(minhashSignatures(d.filter(col("doc_id") < m)))))
    }
    val deltaIdx = graft.Scratch.track(
      bandFrameLong(minhashSignatures(d.filter(col("doc_id") >= mid))))
    val merged = baseIdx.unionByName(deltaIdx)
    def entriesOf(idx: DataFrame, n: String): DataFrame =
      idx.groupBy(col("band")).agg(count(lit(1)).as(n))
    // NO pair join at all: a doc holds exactly ONE bkey per band (sig →
    // one bandFrame entry per (doc, band); the cap only filters), so the
    // per-band pair COUNT this output needs is pure bucket arithmetic —
    // Σ over kept buckets of C(sz, 2). The former capped self-join
    // produced exactly those C(sz, 2) matches row-by-row and then
    // counted them: at ×100 that materialized ~10⁸ pair rows (plus a
    // window pass for the cap) purely to feed a count. One keyed
    // aggregate replaces both; the oracle keeps the join form as the
    // independent replay.
    val pairs = merged.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= MaxBandBucket)
      .groupBy(col("band"))
      .agg(sum(expr("sz * (sz - 1L) div 2")).as("n_pairs"))
    entriesOf(baseIdx, "n_base")
      .join(entriesOf(deltaIdx, "n_delta"), Seq("band"))
      .join(merged.groupBy(col("band"))
        .agg(countDistinct(col("bkey")).as("n_buckets")), Seq("band"))
      .join(pairs, Seq("band"), "left")
      .select(col("band").cast("long").as("band"), col("n_base"),
        col("n_delta"), col("n_buckets"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy(col("band"))
  }

  val all: Seq[Q] =
    Seq(exact, ngramJaccard, containment, minhash, simhash, embed, clusters,
      keepCanonical, crossEval, fuzzyJoin, agreement, bucketStats, incrIndex)
}
