package graft.operators

import graft.Q
import graft.sources.{Ingest, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Text-analysis operators over `documents` — the quality/filter stage of a
  * training-data pipeline (extensions beyond the reference; BASELINE.json
  * north star). Everything is built from codegen'd built-in expressions:
  * one narrow projection pass over the corpus, no UDFs, no shuffle except
  * where an aggregation is the point (wordfreq).
  *
  * Counting idiom: occurrences of a literal `s` in `text` are
  * `(length(text) - length(replace(text, s, ''))) / length(s)` — `replace`
  * is global in both Spark and DuckDB, so oracles match exactly without
  * regex-dialect risk.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** #occurrences of literal `w` in `c` (both engines: global replace). */
  private def occurrences(c: Column, w: String): Column =
    (length(c) - length(replace(c, lit(w), lit("")))) / w.length

  private def occSql(w: String): String =
    s"(length(text) - length(replace(text, '$w', ''))) / ${w.length}"

  /** Quality scoring (length / punctuation / stopword / token stats) —
    * one projection, all integer arithmetic until the final ratios.
    */
  val stats: Q = Q("text_stats",
    s"""SELECT doc_id,
      |  length(text) AS n_chars2,
      |  ${occSql(" ")} + 1 AS n_tokens,
      |  CAST(${occSql(" the ")} AS BIGINT) AS n_stop,
      |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
      |  CAST(length(text) - ${occSql(" ")} AS DOUBLE) / (${occSql(" ")} + 1) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val spaces = occurrences(col("text"), " ")
    val nTokens = spaces + 1
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars2"),
      nTokens.as("n_tokens"),
      occurrences(col("text"), " the ").cast("long").as("n_stop"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .cast("long").as("n_punct"),
      ((length(col("text")) - spaces).cast("double") / nTokens).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" el ", " los ", " una "),
    "fr" -> Seq(" le ", " les ", " est "))

  /** The language-ID decision function over any documents-shaped frame
    * (doc_id, lang, text): score per language = Σ occurrences of its marker
    * words; argmax with a fixed preference order on ties. Factored out of
    * the [[langid]] query so its discriminative behavior is testable on a
    * corpus with genuinely distinct per-language marker distributions
    * (TextAnalysisSpec) — the synthetic testdata shares one vocabulary
    * across `lang` labels, which exercises the arithmetic but not the
    * classifier.
    */
  def langidOn(d: DataFrame): DataFrame = {
    val scored = d.select(
      Seq(col("doc_id"), col("lang")) ++
        LangMarkers.map { case (l, ms) =>
          ms.map(m => occurrences(col("text"), m)).reduce(_ + _).as(s"score_$l")
        }: _*)
    val pred = LangMarkers.map(_._1).reverse
      .foldLeft(lit("en"): Column) { case (acc, l) =>
        val beatsAll = LangMarkers.map(_._1).filter(_ != l)
          .map(o => col(s"score_$l") > col(s"score_$o")).reduce(_ && _)
        when(beatsAll, lit(l)).otherwise(acc)
      }
    scored.withColumn("pred_lang", pred).orderBy(col("doc_id"))
  }

  /** SQL renderings of [[langidOn]]'s scoring and argmax — one definition
    * consumed by BOTH the [[langid]] oracle and the [[langConfusion]]
    * oracle, so the two replays of the decision function cannot drift.
    */
  private val langScoresSql: String = LangMarkers.map { case (l, ms) =>
    s"(${ms.map(occSql).mkString(" + ")}) AS score_$l"
  }.mkString(",\n      ")

  private val langArgmaxSql: String = LangMarkers.map(_._1).reverse
    .foldLeft("'en'") { case (acc, l) =>
      val others = LangMarkers.map(_._1).filter(_ != l)
        .map(o => s"score_$l > score_$o").mkString(" AND ")
      s"CASE WHEN $others THEN '$l' ELSE $acc END"
    }

  /** Language ID by stopword-marker scoring (n-gram heuristic) over the
    * corpus. Pure integer arithmetic → the DuckDB oracle replays the
    * identical decision function.
    */
  val langid: Q = Q("text_langid",
    s"""WITH s AS (SELECT doc_id, lang,
      |      $langScoresSql
      |  FROM documents)
      |SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
      |  $langArgmaxSql AS pred_lang
      |FROM s ORDER BY doc_id""".stripMargin
  ) { (s, dir) => langidOn(docs(s, dir)) }

  /** Classifier-evaluation confusion matrix — the readout a pipeline runs
    * before trusting a model-derived column ([[langid]]'s prediction vs
    * the declared label): per (declared, predicted) cell the count and
    * its exact-ppm share of the declared class's row, plus the diagonal
    * flag, so per-class recall is the `correct = true` row and every
    * misclassification path is visible. The decision function is the
    * SHARED [[langScoresSql]]/[[langArgmaxSql]] rendering — evaluating a
    * different model than the one deployed is the classic eval bug, and
    * the shared fragments make it structurally impossible here.
    *
    * Shape: one scan through [[langidOn]]'s map-side scoring, collapsing
    * to ≤ |langs|² cells; class totals join broadcast. Output is at most
    * |langs|² rows at any corpus size.
    */
  val langConfusion: Q = Q("text_confusion",
    s"""WITH s AS (SELECT doc_id, lang,
      |      $langScoresSql
      |  FROM documents),
      |p AS (SELECT lang, $langArgmaxSql AS pred_lang FROM s),
      |g AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
      |t AS (SELECT lang, sum(n) AS tn FROM g GROUP BY lang)
      |SELECT g.lang, g.pred_lang, g.n,
      |  CAST(g.n * 1000000 // t.tn AS BIGINT) AS share_ppm,
      |  g.lang = g.pred_lang AS correct
      |FROM g JOIN t USING (lang) ORDER BY lang, pred_lang""".stripMargin) { (s, dir) =>
    val g = langidOn(docs(s, dir))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val t = g.groupBy(col("lang")).agg(sum(col("n")).as("tn"))
    g.join(broadcast(t), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("n * 1000000 div tn").as("share_ppm"),
        (col("lang") === col("pred_lang")).as("correct"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercased text —
    * the canonical-form hash used for fuzzy-exact dedup of reformatted copies.
    */
  val fingerprint: Q = Q("text_fingerprint",
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS fp,
      |  length(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')) AS norm_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // explicit whitespace class, not \s: Java's \s includes \x0B, RE2's
    // doesn't — the engines must normalize identically (see header rule)
    val norm = regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " ")
    docs(s, dir).select(
      col("doc_id"),
      md5(lower(norm)).as("fp"),
      length(norm).cast("long").as("norm_len"))
      .orderBy(col("doc_id"))
  }

  /** Quality-gate filter (the Gopher-style rule stage of a training
    * pipeline): per-document signals → boolean rules → keep verdict, one
    * codegen'd projection pass with the same integer counting idioms as
    * [[stats]]. Emits the failing documents WITH their rule flags (the
    * audit view a data curator actually inspects); the keep rate is what
    * a pipeline monitors per source.
    */
  val qualityFilter: Q = Q("text_quality",
    s"""WITH s AS (SELECT doc_id, source,
      |    length(text) AS n_chars,
      |    ${occSql(" ")} + 1 AS n_tokens,
      |    CAST(${occSql(" the ")} AS BIGINT) AS n_stop,
      |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
      |  FROM documents)
      |SELECT doc_id, source,
      |  n_chars >= 120 AS len_ok,
      |  n_tokens >= 20 AS tok_ok,
      |  n_stop >= 1 AS stop_ok,
      |  n_punct * 10 <= n_tokens AS punct_ok,
      |  (n_chars >= 120 AND n_tokens >= 20 AND n_stop >= 1
      |   AND n_punct * 10 <= n_tokens) AS keep
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val spaces = occurrences(col("text"), " ")
    val nTokens = spaces + 1
    val nChars = length(col("text"))
    val nStop = occurrences(col("text"), " the ").cast("long")
    val nPunct = (nChars -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long")
    val lenOk = nChars >= 120
    val tokOk = nTokens >= 20
    val stopOk = nStop >= 1
    val punctOk = nPunct * 10 <= nTokens
    docs(s, dir).select(
      col("doc_id"), col("source"),
      lenOk.as("len_ok"), tokOk.as("tok_ok"), stopOk.as("stop_ok"),
      punctOk.as("punct_ok"),
      (lenOk && tokOk && stopOk && punctOk).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Corpus term frequency: explode → hash-agg → top-100. The explode is
    * map-side; the agg shuffles only (word, partial count) pairs — the
    * classic scalable wordcount shape.
    */
  val wordfreq: Q = Q("text_wordfreq",
    """SELECT w, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY n DESC, w LIMIT 100""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(100)
  }

  /** Per-document keyword extraction: top-3 terms by term frequency
    * (ties broken alphabetically — fully deterministic). Explode is
    * map-side, the (doc, term) counts two-phase aggregate, and the top-3
    * is a WindowGroupLimit (partial per-partition top-K before the
    * exchange) — the per-doc quota never funnels a document's full term
    * list through the final window sort.
    */
  val keywords: Q = Q("text_keywords",
    """WITH tf AS (
      |  SELECT doc_id, w, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY doc_id, w),
      |r AS (SELECT doc_id, w, tf,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, w) AS rn
      |  FROM tf)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rn, w, tf FROM r WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("w"))
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("w"), col("tf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** TF-IDF-weighted terms: top-3 per document by `tf · (N / df)` — term
    * frequency from a (doc, term) aggregation, document frequency from a
    * second TWO-PHASE aggregation over the tf frame (tf rows are distinct
    * per (doc, term), so counting them per term IS df), broadcast-joined
    * back on the term (a vocabulary fits in a broadcast at any corpus
    * size that has one).
    *
    * Deliberately NOT `count(*) OVER (PARTITION BY w)` on the tf frame:
    * that is one corpus pass instead of two, but a window partition holds
    * ALL rows of a term in one task — a stopword present in every document
    * funnels n_docs rows through a single window buffer, the classic
    * hot-key bottleneck. Two skew-resistant passes (map-side partial
    * counts both times) beat one skewed pass at 100 TB; scans are the
    * cheap part.
    *
    * The idf is the RATIONAL form (no logarithm): tf, N and df are exact
    * integers, so one IEEE double division gives bit-identical scores in
    * both engines — a deployment wanting `ln(N/df)` damping swaps one
    * expression without changing the plan shape.
    */
  val tfidf: Q = Q("text_tfidf",
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
      |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
      |r AS (SELECT doc_id, w, tf, df, tfidf,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
      |  FROM scored)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rn, w, tf, df, tfidf
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
    val words = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // N as a broadcast 1-row aggregate, not a driver-side count(): the
    // whole query stays one lazy plan, and the cross join is a
    // BroadcastNestedLoopJoin against a single row
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("w"))
    tf.join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
      .drop("n_docs")
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("w"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Token counting, whitespace + BPE-ish: the regex splits words, single
    * digits, and punctuation into separate tokens — the pre-tokenization
    * pass BPE vocabularies assume. Character classes only (no \s/\w) so the
    * Java-regex and RE2 dialects agree byte-for-byte on ASCII corpora.
    */
  val tokens: Q = Q("text_tokens",
    """SELECT doc_id,
      |  CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(length(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // bpe_token_count is the native single-pass kernel
    // ([[graft.functions.TextKernels]], round 18): the regex alternation
    // it replaces was ~90% of this query at ×100 (10.9 s vs 1.0 s for
    // text_stats' identical scan). The oracle keeps the regex form as
    // the independent replay; parity is property-asserted in
    // TextKernelsSpec.
    docs(s, dir).select(
      col("doc_id"),
      call_function("bpe_token_count", col("text")).as("n_bpe_tokens"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Redaction/scrubbing: mask every digit run in the `props` payload and
    * report how many characters were masked — the shape of a PII-scrub
    * pass over a training corpus (emails/phones/ids are the same
    * regexp_replace with richer patterns; the pattern here is
    * character-class-only so the Java and RE2 regex dialects agree
    * byte-for-byte). Pure codegen'd projection: no shuffle except the
    * presentation sort, linear at any corpus size.
    */
  val scrub: Q = Q("text_scrub",
    """SELECT event_id,
      |  regexp_replace(props, '[0-9]+', '[NUM]', 'g') AS props_scrubbed,
      |  CAST(len(regexp_extract_all(props, '[0-9]')) AS BIGINT) AS n_digits_masked
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events").select(
      col("event_id"),
      regexp_replace(col("props"), "[0-9]+", "[NUM]").as("props_scrubbed"),
      size(regexp_extract_all(col("props"), lit("[0-9]"), lit(0)))
        .cast("long").as("n_digits_masked"))
      .orderBy(col("event_id"))
  }

  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** Fixed-size overlapping chunking — the RAG/context-window split every
    * LLM data pipeline runs: 64-token chunks at stride 48 (16-token
    * overlap). Chunk starts are a map-side `sequence` explode over the
    * token array; no shuffle except the presentation sort, output rows ≈
    * tokens/stride — linear at any corpus size. Chunk count arithmetic is
    * pure integer (`(n-K+S-1) div S`) so both engines agree exactly.
    */
  val chunks: Q = Q("text_chunks",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |ch AS (SELECT doc_id, t, len(t) AS n,
       |    unnest(range(1 + CASE WHEN len(t) > $ChunkTokens
       |      THEN (len(t) - $ChunkTokens + ${ChunkStride - 1}) // $ChunkStride
       |      ELSE 0 END)) AS chunk_id
       |  FROM toks)
       |SELECT doc_id, chunk_id,
       |  least($ChunkTokens, n - chunk_id * $ChunkStride) AS n_tokens,
       |  array_to_string(t[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkTokens], ' ') AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    val n = size(col("t"))
    val extra = when(n > ChunkTokens,
      expr(s"(size(t) - $ChunkTokens + ${ChunkStride - 1}) div $ChunkStride"))
      .otherwise(lit(0L))
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), n.as("n"),
        explode(sequence(lit(0L), extra)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(ChunkTokens), col("n") - col("chunk_id") * ChunkStride)
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("t"),
          (col("chunk_id") * ChunkStride + 1).cast("int"), lit(ChunkTokens)))
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  private val DecontamGram = 8
  private val EvalSetSize = 5

  /** Exploded word n-grams over a pre-split token array column `t` —
    * the shared gram shape of [[decontam]] and [[boilerplate]]. Documents
    * shorter than n contribute zero grams (not a padded partial). */
  private def wordGramsCol(n: Int): Column =
    explode(when(size(col("t")) >= n,
      expr(s"transform(sequence(0, size(t) - $n), i -> " +
        (0 until n).map(k => s"t[i+$k]").mkString("concat_ws(' ', ", ", ", ")") + ")"))
      .otherwise(array().cast("array<string>")))

  /** DuckDB twin of [[wordGramsCol]] (a list expression over `t`). */
  private def gramListSql(n: Int): String =
    s"""CASE WHEN len(t) >= $n
       |    THEN list_transform(range(len(t) - ${n - 1}),
       |      i -> ${(1 to n).map(k => s"t[i+$k]").mkString(" || ' ' || ")})
       |    ELSE []::VARCHAR[] END""".stripMargin

  /** Benchmark decontamination: flag corpus documents sharing any word
    * 8-gram with an "eval set" (here: the [[EvalSetSize]] lowest-digest
    * documents, standing in for an external benchmark). The eval side's
    * distinct 8-grams are a broadcast-sized set at any corpus scale
    * (benchmarks are small), so the check is a map-side-buildable hash
    * semi-join over the corpus grams — the standard n-gram overlap
    * decontamination pass, linear in corpus tokens. Exact-duplicate and
    * near-duplicate copies of eval documents surface with high gram
    * counts; eval members themselves are excluded from the verdict.
    */
  /** The [[EvalSetSize]] lowest-digest documents — the stand-in "eval
    * benchmark" side shared by [[decontam]] and [[decontamBloom]]. */
  private def evalSet(d: DataFrame): DataFrame =
    d.select(col("doc_id"), md5(col("text")).as("dig"))
      .orderBy(col("dig"), col("doc_id")).limit(EvalSetSize)
      .select(col("doc_id"))

  /** Per-session memo of the corpus word-8-gram frames — FOUR registered
    * queries re-exploded the corpus into 8-grams independently
    * ([[decontam]]/[[decontamBloom]], [[dedupSpans]], [[novelty]],
    * [[boilerplate]]): each paid the tokenize + gram-window + md5 sweep,
    * the single most expensive corpus projection in this file, at every
    * run. Same contract as [[graft.operators.Dedup]]'s pairCache: the
    * first consumer pays the corpus pass, later consumers read the
    * persisted frame; [[releaseSession]] tears it down with the session.
    *
    * Two frames, layered: the POSITIONAL frame (doc_id, p, g) is the one
    * corpus explode (only [[dedupSpans]] needs positions), and the
    * DISTINCT frame (doc_id, g) derives from it — so adding the second
    * memo costs one distinct exchange, never a second corpus scan. Grams
    * travel exclusively as 16-hex-char (64-bit) md5 prefixes — the
    * [[novelty]] digest lever, now uniform across all consumers (the
    * decontam pair's oracles digest identically; a ~n²/2⁶⁵ collision
    * merges the same grams in both engines).
    */
  private val gramCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Positional digested 8-grams (doc_id, p, g) over any (doc_id, text)
    * frame — the single corpus gram explode behind the memo (also run
    * directly by specs on constructed fixtures). Documents shorter than
    * [[DecontamGram]] tokens contribute no rows. */
  private[operators] def posGramsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode_outer(when(size(col("t")) >= DecontamGram,
        expr(s"transform(sequence(0, size(t) - $DecontamGram), i -> " +
          (0 until DecontamGram).map(k => s"t[i+$k]")
            .mkString("concat_ws(' ', ", ", ", ")") + ")"))
        .otherwise(array().cast("array<string>"))).as(Seq("p", "gt")))
      .filter(col("gt").isNotNull)
      .select(col("doc_id"), col("p"), substring(md5(col("gt")), 1, 16).as("g"))

  /** One-time persisted gram frames per corpus version — the storage
    * posture alternative to the executor-memory memo, measured at ×100
    * (NOTES.md round 15): the in-session MEMORY_AND_DISK memo holds a
    * corpus-sized positional frame in executor storage where it competes
    * with the OS page cache; the parquet-backed form writes (pos, dist)
    * once and serves every consumer from a columnar scan the page cache
    * can manage. Both tables live under one [[graft.FixtureStore]] root
    * (`dist` derives from `pos` at write time, so the derivation's
    * distinct exchange is paid once, off the query clock in Bench).
    */
  def gramFixtureWrite(s: SparkSession, dir: String): String =
    graft.FixtureStore.obtain("grams", dir, Seq("documents"), getClass) { root =>
      val pos = posGramsOf(docs(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pos.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/pos")
      pos.select(col("doc_id"), col("g")).distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/dist")
      pos.unpersist(blocking = false)
      ()
    }

  /** Declared schemas of the two tables [[gramFixtureWrite]] stores:
    * [[gramFrame]] and [[gramSet]] read them through
    * [[graft.sources.Ingest.parquet]], so serving them launches no
    * footer-inference job.
    */
  private[operators] val GramPosSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("p", IntegerType),
    StructField("g", StringType)))
  private[operators] val GramDistSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("g", StringType)))

  /** Memoized positional gram frame over the session's corpus. Storage
    * posture measured at ×100 (NOTES.md round 15, three variants):
    * serving the fixture UNPERSISTED re-scans 883 MB of parquet per
    * consumer pass (family Σ min-of-2 49.1 s vs the memo's 36.4 s), while
    * the pure in-memory memo re-pays the ~29 s tokenize+md5 derivation
    * every session. The HYBRID wins both ends: the first consumer loads
    * the persisted fixture's parquet into the session memo (a columnar
    * scan, not the corpus derivation), later consumers hit memory, and
    * later SESSIONS skip the derivation entirely.
    */
  private[operators] def gramFrame(s: SparkSession, dir: String): DataFrame =
    gramCache.getOrElseUpdate((s, dir, "pos"),
      (graft.FixtureStore.peek("grams", dir) match {
        case Some(root) => Ingest.parquet(s, s"$root/pos", GramPosSchema)
        case None => posGramsOf(docs(s, dir))
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Memoized per-document DISTINCT gram digests (doc_id, g). */
  private[operators] def gramSet(s: SparkSession, dir: String): DataFrame =
    gramCache.getOrElseUpdate((s, dir, "dist"),
      (graft.FixtureStore.peek("grams", dir) match {
        case Some(root) => Ingest.parquet(s, s"$root/dist", GramDistSchema)
        case None => gramFrame(s, dir).select(col("doc_id"), col("g")).distinct()
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Per-document bigram occurrence counts (doc_id, w1, w2, n) over any
    * (doc_id, text) frame — the shared backbone of the bigram-LM pair:
    * [[bigramLm]] re-aggregates it to corpus pair counts and
    * [[predictability]] both trains the LM from it and scores against
    * it, so the corpus tokenize+explode pass exists exactly once. */
  private[operators] def bdOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> named_struct(" +
          "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))

  /** Memoized per-document bigram counts: the first consumer derives the
    * frame, later consumers in the session read the persisted copy. */
  private[operators] def bdFrame(s: SparkSession, dir: String): DataFrame =
    gramCache.getOrElseUpdate((s, dir, "bd"),
      bdOf(docs(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Release ONLY the bigram memo (the `bigrams` family's
    * [[graft.SessionMemos]] hook — it must not evict the gram family's
    * frames, whose consumer block may not have run yet). */
  def releaseBigramMemo(s: SparkSession): Unit =
    gramCache.keys.filter(k => (k._1 eq s) && k._3 == "bd").foreach { k =>
      gramCache.remove(k).foreach(_.unpersist(blocking = false))
    }

  /** Release ONLY the gram memos (`grams` family hook — the mirror-image
    * constraint of [[releaseBigramMemo]]). */
  def releaseGramMemos(s: SparkSession): Unit =
    gramCache.keys.filter(k => (k._1 eq s) && k._3 != "bd").foreach { k =>
      gramCache.remove(k).foreach(_.unpersist(blocking = false))
    }

  /** End-of-session teardown for ALL of this module's memos — the
    * [[graft.operators.Dedup.releaseSession]] contract; entry points call
    * it right before `spark.stop()`. */
  def releaseSession(s: SparkSession): Unit =
    gramCache.keys.filter(_._1 eq s).foreach { k =>
      gramCache.remove(k).foreach(_.unpersist(blocking = false))
    }

  // (the former per-query docGrams builder is subsumed by [[gramSet]] —
  // grams now travel as digests everywhere, and the decontam pair's
  // oracles replay the identical substr(md5(gt), 1, 16))
  val decontam: Q = Q("text_decontam",
    s"""WITH ev AS (SELECT doc_id FROM documents ORDER BY md5(text), doc_id LIMIT $EvalSetSize),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams0 AS (SELECT doc_id, unnest(${gramListSql(DecontamGram)}) AS gt FROM toks),
       |grams AS (SELECT DISTINCT doc_id, substr(md5(gt), 1, 16) AS g FROM grams0),
       |evg AS (SELECT DISTINCT g FROM grams WHERE doc_id IN (SELECT doc_id FROM ev)),
       |hits AS (SELECT c.doc_id, count(*) AS n_shared_ngrams
       |  FROM grams c JOIN evg ON c.g = evg.g
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM ev)
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id, coalesce(h.n_shared_ngrams, 0) AS n_shared_ngrams,
       |  coalesce(h.n_shared_ngrams, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM ev)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val ev = evalSet(d)
    val grams = gramSet(s, dir)
    val evGrams = grams.join(broadcast(ev), Seq("doc_id")).select(col("g")).distinct()
    val nonEval = d.select(col("doc_id"))
      .join(broadcast(ev), Seq("doc_id"), "left_anti")
    val hits = grams.join(broadcast(ev), Seq("doc_id"), "left_anti")
      .join(broadcast(evGrams), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_ngrams"))
    nonEval.join(hits, Seq("doc_id"), "left")
      .withColumn("n_shared_ngrams", coalesce(col("n_shared_ngrams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_ngrams") > 0)
      .orderBy(col("doc_id"))
  }

  /** [[decontam]] rebuilt for the regime where the eval-side n-gram set
    * OUTGROWS a broadcast hash set (a full benchmark suite's 8-grams can
    * run to GBs): the corpus grams are prefiltered by a serialized
    * [[org.apache.spark.util.sketch.BloomFilter]] probed inside
    * whole-stage codegen (`might_contain_bloom`, a native expression —
    * the sketch is ~10 bits/element instead of the exact set's full
    * strings, and ships once per executor as a plan literal), and only
    * the surviving ~fpp fraction reaches the exact confirm join that
    * removes the sketch's false positives. The confirm join carries no
    * broadcast hint on purpose — at scale it is the shuffle join the
    * bloom protects, and AQE remains free to broadcast while the eval
    * side is small. Output is the quarantine list (contaminated docs
    * only); the result is EXACT — identical to [[decontam]]'s positive
    * rows — because the one-sided sketch error is confirmed away.
    *
    * The filter build is ONE distributed pass over the SMALL eval side
    * (benchmarks are small at any corpus scale): a typed Aggregator folds
    * count + insert together against a fixed-capacity prior
    * ([[graft.functions.TypedAggs.bloomBuild]]) — the count was only ever
    * needed to size the filter, so carrying a capacity prior removes the
    * sizing scan. Overflowing the prior degrades fpp, never exactness
    * (the confirm join removes every false positive); the rare overflow
    * path re-sizes from the now-known count. The corpus-side pass stays
    * one linear codegen'd scan.
    */
  /** Serialized bloom filter over a single-string-column frame in one
    * distributed pass. `capacity` is the sizing prior (benchmarks-per-corpus
    * rarely exceed the default's ~1.2 MB bitset); if the input turns out to
    * overflow it, one sized rebuild pass runs — the two-scan shape as the
    * exceptional path instead of the always path.
    */
  private[operators] def bloomBytes(evGrams: DataFrame,
      capacity: Long = 1000000L)
      : Array[Byte] = {
    import org.apache.spark.sql.Encoders
    val built = evGrams
      .as[String](Encoders.STRING)
      .select(graft.functions.TypedAggs.bloomBuild(capacity, 0.03).toColumn)
      .head()
    if (built.n <= capacity) built.bytes
    else {
      val bf = evGrams.stat.bloomFilter(evGrams.columns.head, built.n, 0.03)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
  }

  val decontamBloom: Q = Q("text_decontam_bloom",
    s"""WITH ev AS (SELECT doc_id FROM documents ORDER BY md5(text), doc_id LIMIT $EvalSetSize),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams0 AS (SELECT doc_id, unnest(${gramListSql(DecontamGram)}) AS gt FROM toks),
       |grams AS (SELECT DISTINCT doc_id, substr(md5(gt), 1, 16) AS g FROM grams0),
       |evg AS (SELECT DISTINCT g FROM grams WHERE doc_id IN (SELECT doc_id FROM ev))
       |SELECT c.doc_id, count(*) AS n_shared_ngrams
       |FROM grams c JOIN evg ON c.g = evg.g
       |WHERE c.doc_id NOT IN (SELECT doc_id FROM ev)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val ev = evalSet(d)
    val grams = gramSet(s, dir)
    val evGrams = grams.join(broadcast(ev), Seq("doc_id")).select(col("g")).distinct()
    val bytes = bloomBytes(evGrams)
    grams.join(broadcast(ev), Seq("doc_id"), "left_anti")
      .filter(call_function("might_contain_bloom", lit(bytes), col("g")))
      .join(evGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy(col("doc_id"))
  }

  /** Repetition scoring — the duplicate-n-gram fraction quality signal
    * (the MassiveText/Gopher family of repetition filters: a document
    * whose 3-grams are mostly repeats of each other is boilerplate, a
    * scraping loop, or degenerate text, and gets dropped before
    * training). `dup_gram_frac = 1 − distinct/total` over whitespace
    * 3-grams, flagged repetitive above 0.2.
    *
    * Scale shape: a pure map-side projection — the gram list, its
    * distinct count, and the fraction are all array expressions inside
    * one codegen'd stage; NO explode and NO shuffle (contrast the dedup
    * family, which must explode shingles because it compares ACROSS
    * documents — a per-document signal never needs to). The division is
    * exact-integer-into-double (< 2^53), so both engines produce the
    * identical bits.
    */
  val repetition: Q = Q("text_repetition",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(t) >= 3
      |    THEN list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
      |    ELSE []::VARCHAR[] END AS grams FROM toks)
      |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
      |  CASE WHEN len(grams) > 0
      |       THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
      |       ELSE 0.0 END AS dup_gram_frac,
      |  CASE WHEN len(grams) > 0
      |       THEN (CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.2
      |       ELSE FALSE END AS repetitive
      |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    repetitionOn(docs(s, dir))
  }

  /** [[repetition]]'s transform over any (doc_id, text) frame — planted
    * fixtures exercise it directly in TextAnalysisSpec.
    */
  def repetitionOn(d: DataFrame): DataFrame =
    d
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 3,
          expr("transform(sequence(0, size(t) - 3), " +
            "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
          .otherwise(array().cast("array<string>")).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct_grams")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_gram_frac"))
      .withColumn("repetitive", col("dup_gram_frac") > 0.2)
      .orderBy(col("doc_id"))

  /** BPE pair counting — the inner loop of tokenizer TRAINING (the step a
    * training-data platform runs before any tokenize pass exists): count
    * adjacent symbol pairs across the corpus and surface the top merge
    * candidates. This is the first BPE merge iteration, done the way the
    * algorithm actually runs at scale — over the WORD-FREQUENCY DICTIONARY,
    * not the raw corpus: the pre-tokenized words aggregate to a vocab first
    * (two-phase, map-side combine), and pair explosion + weighting by word
    * count touches |vocab| rows, orders of magnitude below corpus tokens.
    * Subsequent merge iterations reuse the same plan over the rewritten
    * vocab.
    *
    * Pair generation is a `transform(sequence(...))` over 1-indexed
    * substring windows — identical semantics to DuckDB's
    * `list_transform(range(...))` (range excludes its stop where sequence
    * includes it, so the Spark side filters single-char words, which carry
    * no pairs anyway — Spark's `sequence(1, 0)` would DESCEND, not empty).
    * Top-20 with count-desc/pair-asc tie-break plans as
    * TakeOrderedAndProject: per-partition top-k, no global sort.
    */
  val bpePairs: Q = Q("text_bpe_pairs",
    """WITH w AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS w
      |  FROM documents),
      |v AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      |p AS (SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair, c
      |  FROM v WHERE length(w) >= 2),
      |pc AS (SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM p GROUP BY pair)
      |SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(explode(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(20)
  }

  /** Dataset-card report — the per-(source, language) summary every corpus
    * release ships: document and character volume plus a duplication
    * signal (distinct canonical fingerprints vs rows — the
    * [[fingerprint]] normalization, so reformatted copies count as dups).
    * ONE aggregation pass; the distinct-count uses Spark's Expand
    * two-phase plan, whose shuffle carries (source, lang, fp) partial
    * groups — bounded by the corpus' distinct fingerprints, the honest
    * cost of an EXACT dup rate. For a cheap estimate at 100 TB swap in
    * approx_count_distinct ([[Sampling.approx]]'s sketch contract);
    * a release report usually wants the exact number once.
    *
    * dup_frac is an exact-integer division in double — identical in both
    * engines (n and distinct are exact int64, their quotient is one
    * correctly-rounded op).
    */
  val corpusReport: Q = Q("corpus_report",
    """WITH f AS (SELECT source, lang, n_chars,
      |    md5(lower(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS fp
      |  FROM documents)
      |SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT fp) AS n_distinct,
      |  1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*) AS dup_frac
      |FROM f GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin) { (s, dir) =>
    val norm = regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " ")
    docs(s, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        md5(lower(norm)).as("fp"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("fp")).as("n_distinct"))
      .withColumn("dup_frac",
        lit(1.0) - col("n_distinct").cast("double") / col("n_docs"))
      .orderBy(col("source"), col("lang"))
  }

  private val SpanMinDocs = 3
  private val SpanTopK = 100

  /** Corpus-wide boilerplate mining: the word 8-gram spans shared by the
    * most documents (df ≥ [[SpanMinDocs]], top [[SpanTopK]]). This is the
    * ACROSS-corpus complement of [[repetition]]'s within-document signal —
    * headers, footers, licence blocks, and scraper chrome surface as
    * high-df spans, and the resulting span list is what a cleaning pass
    * subtracts from every document before training.
    *
    * Shape — the gram-digest lever [[novelty]] also ships, plus a text
    * join-back because this output DOES need span text: grams are
    * digested to a 16-hex-char (64-bit) md5 prefix map-side, so the
    * per-doc distinct and the two-phase df count — the only corpus-sized
    * exchanges — carry a fixed 16-char key instead of the ~48-char gram
    * text (~3× less shuffle payload). The top-K TakeOrdered selects by
    * (df DESC, digest) — an arbitrary-but-deterministic tie-break both
    * engines replay — and span text is recovered by a SECOND corpus scan
    * broadcast-joined against the ≤[[SpanTopK]]-row winner set: scans
    * parallelize over 1000 executors for free, the join-back shuffles
    * only the ≤K matching grams, and no full-text gram ever reaches an
    * exchange. min(gt) per digest guards the astronomically-unlikely
    * (~n²/2⁶⁵) collision identically on both engines. The df≥
    * [[SpanMinDocs]] filter after the agg keeps the OUTPUT tiny.
    */
  val boilerplate: Q = Q("text_boilerplate",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g00 AS (SELECT doc_id, unnest(${gramListSql(DecontamGram)}) AS gt FROM toks),
       |g0 AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(gt), 1, 15)) AS BIGINT) AS g, gt FROM g00),
       |dg AS (SELECT DISTINCT doc_id, g FROM g0),
       |gdf AS (SELECT g, count(*) AS n_docs FROM dg GROUP BY g),
       |topk AS (SELECT g, n_docs FROM gdf WHERE n_docs >= $SpanMinDocs
       |  ORDER BY n_docs DESC, g LIMIT $SpanTopK)
       |SELECT min(g0.gt) AS span, t.n_docs
       |FROM topk t JOIN g0 ON g0.g = t.g GROUP BY t.g, t.n_docs
       |ORDER BY n_docs DESC, span""".stripMargin) { (s, dir) =>
    // df count off the session gram memo; only the ≤K-row winner set's
    // text recovery re-scans the corpus (it needs `gt`, which the memo
    // deliberately does not carry)
    val grams = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), wordGramsCol(DecontamGram).as("gt"))
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(gt), 1, 15), 16, 10) AS BIGINT)").as("g"),
        col("gt"))
    // 60-bit long digests (the dedup_spans idiom): the df-count exchange
    // and the winner-set broadcast probe both carry 8-byte keys; the
    // numeric tie-break at the top-K boundary replaces the string one
    // IDENTICALLY in both engines (same conv in the oracle)
    val top = gramSet(s, dir)
      .select(col("doc_id"),
        expr("CAST(conv(substr(g, 1, 15), 16, 10) AS BIGINT)").as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= SpanMinDocs)
      .orderBy(col("n_docs").desc, col("g"))
      .limit(SpanTopK)
    grams.join(broadcast(top), Seq("g"))
      .groupBy(col("g"), col("n_docs"))
      .agg(min(col("gt")).as("span"))
      .orderBy(col("n_docs").desc, col("span"))
      .select(col("span"), col("n_docs"))
  }

  private val CooccurVocab = 50
  private val CooccurTopK = 100

  /** Word co-occurrence lift over the top-[[CooccurVocab]] vocabulary —
    * the association-mining signal (PMI family) behind phrase detection
    * and topic drift monitoring. Lift is reported in exact parts-per-
    * million (`docs_both · N · 10⁶ ∕∕ (df₁ · df₂)`, integer floor
    * division) instead of a log-PMI double: libm `log` is not
    * bit-portable across engines, the integer ratio is — and it orders
    * pairs identically.
    *
    * Shape — ONE documents scan, no corpus-sized broadcast, no self-join
    * (the basket_pairs pattern): the per-doc distinct-word array is built
    * MAP-SIDE (`array_distinct(split(...))` — within-doc dedup needs no
    * exchange, unlike the old global explode+distinct), persisted once
    * ([[graft.Scratch.track]]) and derives all three consumers: the
    * vocabulary (top-K document frequencies off one map-side-combined
    * word exchange, TakeOrdered), the corpus doc count, and the pair
    * stream. Pairs come from intersecting each doc's array with the
    * broadcast ONE-ROW sorted vocab array (50 words — constant at any
    * corpus scale) and expanding C(k,2) map-side via nested
    * `transform`/`slice`, so each doc contributes ≤ vocab² pairs and the
    * pair counts collapse to ≤ vocab² partial rows per partition before
    * their exchange. The oracle states the textbook self-join; the plan
    * never runs one — the old shape re-derived the explode+distinct four
    * times and broadcast an O(corpus) vocab-filtered frame into the pair
    * join, which no driver survives at real scale.
    */
  val cooccur: Q = Q("cooccur_lift",
    s"""WITH w0 AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |wdf AS (SELECT w, count(*) AS df FROM w0 GROUP BY w),
       |voc AS (SELECT w, df FROM wdf ORDER BY df DESC, w LIMIT $CooccurVocab),
       |wv AS (SELECT doc_id, w FROM w0 WHERE w IN (SELECT w FROM voc)),
       |p AS (SELECT a.w AS w1, b.w AS w2, count(*) AS docs_both
       |  FROM wv a JOIN wv b ON a.doc_id = b.doc_id AND a.w < b.w GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT w1, w2, docs_both, v1.df AS df1, v2.df AS df2,
       |  CAST(docs_both * nd.n_docs * 1000000 // (v1.df * v2.df) AS BIGINT) AS lift_ppm
       |FROM p CROSS JOIN nd
       |  JOIN voc v1 ON p.w1 = v1.w JOIN voc v2 ON p.w2 = v2.w
       |ORDER BY lift_ppm DESC, w1, w2 LIMIT $CooccurTopK""".stripMargin) { (s, dir) =>
    val perDoc = graft.Scratch.track(docs(s, dir)
      .select(array_distinct(split(col("text"), " ")).as("ws")))
    val voc = graft.Scratch.track(perDoc.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(CooccurVocab))
    val nDocs = perDoc.agg(count(lit(1)).as("n_docs"))
    val vocArr = voc.agg(sort_array(collect_list(col("w"))).as("vw"))
    // basket collapse (the basket_pairs multiplicity lever): distinct
    // vocab-intersection arrays repeat heavily (every near-dup / replica
    // shares one), so group them to (parts, m) BEFORE the C(k,2) pair
    // explode and aggregate Σm — exact (count ≡ Σ multiplicities), and
    // the explode feeds |distinct baskets|·C(k,2) rows into the partial
    // aggregate instead of |docs|·C(k,2) (×100: ~10× fewer)
    val pairs = perDoc
      .crossJoin(broadcast(vocArr))
      .select(sort_array(array_intersect(col("ws"), col("vw"))).as("parts"))
      .groupBy(col("parts")).agg(count(lit(1)).as("m"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS w1, y AS w2))))""".stripMargin)).as("pq"), col("m"))
      .select(col("pq.w1").as("w1"), col("pq.w2").as("w2"), col("m"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("docs_both"))
    pairs
      .crossJoin(broadcast(nDocs))
      .join(broadcast(voc).select(col("w").as("w1"), col("df").as("df1")), Seq("w1"))
      .join(broadcast(voc).select(col("w").as("w2"), col("df").as("df2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("docs_both"), col("df1"), col("df2"),
        expr("docs_both * n_docs * 1000000L div (df1 * df2)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(CooccurTopK)
  }

  /** χ² contingency inputs are per-(word, class) doc counts; the signed
    * cross term a·d − b·c stays exact BIGINT at any corpus below ~3·10⁹
    * docs, and the final statistic is one deterministic IEEE expression
    * (multiplications and a division of exact integers — the cos_sim
    * float rule, no accumulation order in sight).
    */
  private val Chi2Vocab = 50

  /** χ² feature selection — the token↔class association ranking a quality
    * classifier's feature pipeline runs before training: for each of the
    * top-[[Chi2Vocab]] words and each document class (`source`), the 2×2
    * contingency table (docs in/out of the class containing/missing the
    * word) scores χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)). High-χ² words
    * separate a class from the rest; near-zero words are class-independent
    * and carry no signal. χ² is chosen over mutual information
    * DELIBERATELY: it needs no logarithm, so the whole statistic is exact
    * integer cross terms and one IEEE double expression — bit-identical in
    * both engines (the repo's no-float-accumulation rule).
    *
    * Shape: one corpus explode (per-doc `array_distinct` — no doc-level
    * dedup exchange) filtered by the broadcast vocab, collapsing map-side
    * to ≤ vocab·|classes| partial rows per partition; everything after is
    * arithmetic over the ≤ vocab×|classes| grid with the three one-row /
    * |classes|-row totals broadcast. Degenerate margins (a word in every
    * doc, a single-class corpus) zero the denominator and are pinned to
    * χ² = 0 in both engines rather than dividing by zero.
    */
  val chi2: Q = Q("text_chi2",
    s"""WITH w0 AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |wdf AS (SELECT w, count(*) AS df FROM w0 GROUP BY w),
       |voc AS (SELECT w, df FROM wdf ORDER BY df DESC, w LIMIT $Chi2Vocab),
       |ns AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |aw AS (SELECT w0.w, d.source, count(*) AS a
       |  FROM w0 JOIN documents d USING (doc_id)
       |  WHERE w0.w IN (SELECT w FROM voc) GROUP BY 1, 2),
       |grid AS (SELECT v.w, v.df, s.source, s.n_src FROM voc v CROSS JOIN ns s),
       |j AS (SELECT g.w, g.source, g.df, g.n_src,
       |    coalesce(aw.a, 0) AS a, nd.n_docs AS n
       |  FROM grid g LEFT JOIN aw ON aw.w = g.w AND aw.source = g.source
       |  CROSS JOIN nd),
       |x AS (SELECT w, source, a, df, n_src, n,
       |    a * (n - n_src - df + a) - (n_src - a) * (df - a) AS ad_bc
       |  FROM j)
       |SELECT w, source, CAST(a AS BIGINT) AS a, df, CAST(n_src AS BIGINT) AS n_src,
       |  CASE WHEN df = n OR n_src = n THEN 0.0
       |       ELSE CAST(n AS DOUBLE) * CAST(ad_bc AS DOUBLE) * CAST(ad_bc AS DOUBLE)
       |         / (CAST(df AS DOUBLE) * CAST(n - df AS DOUBLE)
       |            * CAST(n_src AS DOUBLE) * CAST(n - n_src AS DOUBLE))
       |  END AS chi2
       |FROM x ORDER BY source, chi2 DESC, w""".stripMargin) { (s, dir) =>
    val d = graft.Scratch.track(docs(s, dir)
      .select(col("doc_id"), col("source"),
        array_distinct(split(col("text"), " ")).as("ws")))
    val voc = graft.Scratch.track(d
      .select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(Chi2Vocab))
    val ns = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val nd = d.agg(count(lit(1)).as("n"))
    val aw = d.select(col("source"), explode(col("ws")).as("w"))
      .join(broadcast(voc.select(col("w"))), Seq("w"))
      .groupBy(col("w"), col("source")).agg(count(lit(1)).as("a"))
    val grid = broadcast(voc).crossJoin(ns)
    grid.join(aw, Seq("w", "source"), "left")
      .crossJoin(broadcast(nd))
      .select(col("w"), col("source"), col("df"), col("n_src"),
        coalesce(col("a"), lit(0L)).as("a"), col("n"))
      .withColumn("ad_bc",
        expr("a * (n - n_src - df + a) - (n_src - a) * (df - a)"))
      .select(col("w"), col("source"), col("a"), col("df"), col("n_src"),
        when(col("df") === col("n") || col("n_src") === col("n"), lit(0.0))
          .otherwise(
            col("n").cast("double") * col("ad_bc").cast("double") * col("ad_bc").cast("double")
              / (col("df").cast("double") * (col("n") - col("df")).cast("double")
                * col("n_src").cast("double") * (col("n") - col("n_src")).cast("double")))
          .as("chi2"))
      .orderBy(col("source"), col("chi2").desc, col("w"))
  }

  private val HashDim = 64

  /** Hashing-trick featurization — the fixed-dimension bag-of-words
    * vectorizer (feature hashing): every token maps to one of [[HashDim]]
    * buckets via md5 (engine-portable, no vocabulary to build, no
    * dictionary to broadcast — THE property that makes the hashing trick
    * the 100 TB featurizer), and each document reduces to its vector
    * summary: nonzero buckets, token count, and the exact squared L2 norm
    * of the count vector as integer arithmetic.
    *
    * Shape: one explode, then (doc, bucket) counts collapse map-side to
    * ≤ [[HashDim]] partial rows per doc per partition before the
    * exchange; the per-doc summary aggregates that bounded frame. The
    * bucket is the first 2 md5 hex chars mod [[HashDim]] — DuckDB replays
    * it with positional nibble arithmetic over the same hex (the
    * [[Dedup]] portable-hash idiom).
    */
  val featureHash: Q = Q("feature_hash",
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |b AS (SELECT doc_id,
       |    ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)) % $HashDim AS bucket,
       |    count(*) AS c
       |  FROM w GROUP BY 1, 2)
       |SELECT doc_id, count(*) AS nnz, CAST(sum(c) AS BIGINT) AS n_tok,
       |  CAST(sum(c * c) AS BIGINT) AS sum_sq
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long") % HashDim)
          .as("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"), sum(col("c")).as("n_tok"),
        sum(col("c") * col("c")).as("sum_sq"))
      .orderBy(col("doc_id"))
  }

  /** Heavy-hitter threshold: report every token whose frequency exceeds
    * 1/[[HHFrac]] of the stream. The Misra–Gries sketch size must satisfy
    * k + 1 ≥ HHFrac for the superset guarantee; 64 leaves slack.
    */
  private val HHFrac = 35
  private val HHSketchK = 64

  /** EXACT frequent-token mining at sketch cost — the two-pass heavy
    * hitter: pass 1 runs the Misra–Gries candidate sketch
    * ([[graft.functions.TypedAggs.misraGries]]) whose per-partition state
    * is O(k) no matter how many tokens stream through (map-side partials,
    * one k-sized buffer per partition reaches the driver), pass 2 counts
    * ONLY the ≤ k candidates exactly and applies the threshold
    * `c · HHFrac > n` as pure integer arithmetic. MG guarantees the
    * candidate set is a superset of every true heavy hitter, so the exact
    * pass restores full determinism — the output is identical to the naive
    * group-everything query the oracle runs, but the shuffle in pass 2
    * carries at most k distinct keys instead of the whole vocabulary.
    * That exchange-volume bound (k · partitions rows, not |vocab| ·
    * partitions) is what makes this the 100 TB form; the driver-side
    * candidate collect is ≤ k strings — model-size, same legitimacy as
    * [[Similarity]]'s IVF centroids.
    */
  val heavyHitters: Q = Q("heavy_hitters",
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tot AS (SELECT count(*) AS n FROM toks),
       |c AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
       |SELECT w, c FROM c CROSS JOIN tot
       |WHERE c * $HHFrac > n ORDER BY c DESC, w""".stripMargin) { (s, dir) =>
    import s.implicits._
    val toks = docs(s, dir).select(explode(split(col("text"), " ")).as("w"))
    // pass 1: bounded-state candidate sketch (superset of all heavy hitters)
    val cand: Seq[String] = toks.as[String]
      .select(graft.functions.TypedAggs.misraGries(HHSketchK).toColumn)
      .head().ws
    // pass 2: exact counts for candidates only + exact integer threshold
    val tot = docs(s, dir)
      .agg(sum(size(split(col("text"), " "))).cast("long").as("n"))
    toks.where(col("w").isin(cand: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(tot))
      .where(col("c") * HHFrac > col("n"))
      .select(col("w"), col("c"))
      .orderBy(col("c").desc, col("w"))
  }

  /** Inverted index construction — the retrieval-side primitive every
    * RAG / dedup-audit pipeline wants next to the corpus: term → document
    * frequency + an order-canonical digest of the full posting list. Two
    * shuffles, both load-bearing: the (doc, term) DISTINCT dedups
    * repeated in-doc terms with map-side partial aggregation, then the
    * term groupBy builds each posting list exactly once. The gate carries
    * an md5 of the sorted posting list, not the list itself — at 100 TB
    * the real artifact is postings written out partitioned by term bucket
    * (the groupBy's exchange IS that partitioning; add
    * `.write.partitionBy` and the index is materialized), while the
    * digest keeps the cross-engine comparison payload at 32 bytes per
    * term no matter how long the list grows. df ≥ 5 + top-200 bounds the
    * gate output; the index itself has no such cap.
    */
  val invertedIndex: Q = Q("text_inverted_index",
    """WITH td AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(text, ' ')) AS w FROM documents),
      |g AS (SELECT w, count(*) AS df,
      |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5
      |  FROM td GROUP BY w)
      |SELECT w, df, postings_md5 FROM g WHERE df >= 5
      |ORDER BY df DESC, w LIMIT 200""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .groupBy(col("w"))
      .agg(count(lit(1)).as("df"),
        // numeric sort BEFORE the cast-to-string: DuckDB's ORDER BY doc_id
        // is numeric, and "10" < "2" lexicographically would diverge
        md5(expr("array_join(transform(sort_array(collect_list(doc_id))," +
          " x -> cast(x as string)), ',')")).as("postings_md5"))
      .where(col("df") >= 5)
      .orderBy(col("df").desc, col("w"))
      .limit(200)
  }

  /** Bigram language model — per-prefix next-token distribution with
    * exact parts-per-million probabilities, the counting backbone of
    * n-gram LM scoring / synthetic-data filtering. Bigrams are built
    * map-side from each document's token array (no self-join); ONE
    * exchange hashes (w1, w2) for the pair counts, and the prefix
    * totals + per-prefix top-3 both ride a window over the SAME w1
    * partitioning — Catalyst reuses one exchange for the sum and the
    * row_number, so the whole query is two shuffles end to end (pairs,
    * then w1) regardless of corpus size. p_ppm = c·10⁶ // prefix_count
    * is pure BIGINT floor division — bit-identical across engines, no
    * float probability in the path.
    */
  val bigramLm: Q = Q("text_bigram_lm",
    """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || chr(9) || ws[i + 1])) AS bg
      |  FROM t WHERE len(ws) >= 2),
      |bc AS (SELECT split_part(bg, chr(9), 1) AS w1,
      |    split_part(bg, chr(9), 2) AS w2, count(*) AS c
      |  FROM b GROUP BY 1, 2),
      |r AS (SELECT w1, w2, c,
      |    CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS pc,
      |    row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
      |  FROM bc)
      |SELECT w1, CAST(rn AS BIGINT) AS rn, w2, c,
      |  CAST((c * 1000000) // pc AS BIGINT) AS p_ppm
      |FROM r WHERE pc >= 50 AND rn <= 3
      |ORDER BY w1, rn""".stripMargin) { (s, dir) =>
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val top = byW1.orderBy(col("c").desc, col("w2"))
    // corpus pair counts re-aggregate the SHARED per-doc frame (`bd`
    // memo — [[bdFrame]]): Σ per-doc n ≡ the occurrence count
    // the direct explode produced, and the tokenize pass is shared with
    // text_predictability instead of run twice per session
    bdFrame(s, dir)
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c"))
      .withColumn("pc", sum(col("c")).over(byW1))
      .withColumn("rn", row_number().over(top).cast("long"))
      .where(col("pc") >= 50 && col("rn") <= 3)
      .select(col("w1"), col("rn"), col("w2"), col("c"),
        expr("(c * 1000000L) div pc").as("p_ppm"))
      .orderBy(col("w1"), col("rn"))
  }

  /** Per-document novelty scoring — what fraction (exact ppm) of a
    * document's distinct word-8-grams appear here FIRST (minimum doc_id
    * over the corpus)? The incremental-ingest signal behind "is this
    * batch new material or a rehash": boilerplate-heavy and near-dup
    * documents score low, genuinely new text scores 10⁶. Doc-id order
    * stands in for arrival order; on a real pipeline the same query runs
    * with an ingest timestamp as the tiebreak.
    *
    * Shape: gram explode + per-doc DISTINCT (map-side partial dedup),
    * first-occurrence = min(doc_id) per gram (two-phase agg), then the
    * gram-keyed join back and a per-doc count — every exchange is keyed
    * on the gram or the doc id, nothing global. This query SHIPS the
    * scale lever [[boilerplate]] only documents: grams are digested to a
    * 16-hex-char (64-bit) md5 prefix BEFORE the first exchange, so the
    * distinct, the first-occurrence agg, and the join all carry a fixed
    * 16-char key instead of the ~48-char gram text (the output needs no
    * gram text, so nothing joins back). Both engines apply the identical
    * digest, so a (astronomically unlikely, ~n²/2⁶⁵) collision merges
    * the same two grams on both sides — determinism is untouched.
    * novelty_ppm = novel·10⁶ ∕∕ total is BIGINT floor division — no
    * float ratio to diverge. Documents with < 8 tokens have no grams and
    * are (by design) absent.
    */
  val novelty: Q = Q("text_novelty",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g00 AS (SELECT doc_id, unnest(${gramListSql(DecontamGram)}) AS gt FROM toks),
       |g0 AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(gt), 1, 15)) AS BIGINT) AS g FROM g00),
       |dg AS (SELECT DISTINCT doc_id, g FROM g0),
       |fw AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS first_doc
       |  FROM dg)
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(count(*) FILTER (WHERE first_doc = doc_id) AS BIGINT) AS n_novel,
       |  CAST(count(*) FILTER (WHERE first_doc = doc_id) * 1000000
       |    // count(*) AS BIGINT) AS novelty_ppm
       |FROM fw GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // first-occurrence as a WINDOW over the gram partition, not an
    // agg + self-join: the join formulation recomputes the gram explode
    // and distinct for each side (two full document scans); this is one
    // scan and three keyed exchanges (distinct, gram window, doc agg) —
    // with the scan and distinct now read from the session gram memo
    // ([[gramSet]]) shared with decontam/boilerplate/dedup_spans.
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    // the memo's 16-hex-char digest re-digested to a 60-bit long
    // map-side (the dedup_spans idiom — see spanCoverageFromGrams): the
    // distinct/window exchanges carry an 8-byte key, and the identical
    // conv in the oracle keeps any truncation collision consistent
    gramSet(s, dir)
      .select(col("doc_id"),
        expr("CAST(conv(substr(g, 1, 15), 16, 10) AS BIGINT)").as("g"))
      .withColumn("first_doc", min(col("doc_id")).over(byGram))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000L) div n_grams").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Hashed linear-model INFERENCE — the quality-classifier scoring pass a
    * training-data pipeline runs over every document (fasttext-style
    * filtering à la CCNet/RefinedWeb, with the trained weights stood in by
    * a deterministic integer weight per hash bucket so both engines replay
    * bit-for-bit). Each token hashes to one of [[HashDim]] buckets (the
    * [[featureHash]] md5 idiom — no vocabulary, no dictionary broadcast),
    * bucket b carries weight `(b·2654435761) mod 2001 − 1000` ∈ [−1000,
    * 1000], and a document's score is the sum of its token weights; `keep`
    * is the score>0 decision the downstream filter consumes.
    *
    * Shape: the ENTIRE inference is one whole-stage-codegen projection —
    * `aggregate(transform(split(text)))` folds the token weights inside
    * the row, so the plan has ZERO exchanges (no explode, no groupBy;
    * `.explain` shows scan→project→sort only). That is the 100 TB form of
    * model scoring: a real weight vector rides along as a broadcast /
    * literal array exactly like this integer rule, and throughput is
    * bounded by the scan, not a shuffle. The presentation sort is the only
    * exchange.
    */
  val classify: Q = Q("text_classify",
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |s AS (SELECT doc_id,
       |    ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)) % $HashDim AS b
       |  FROM w)
       |SELECT doc_id, count(*) AS n_tok,
       |  CAST(sum((b * 2654435761) % 2001 - 1000) AS BIGINT) AS score,
       |  CAST(CASE WHEN sum((b * 2654435761) % 2001 - 1000) > 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr(
          s"""aggregate(transform(split(text, ' '),
             |  t -> (cast(conv(substring(md5(t), 1, 2), 16, 10) as bigint)
             |        % $HashDim) * 2654435761L % 2001 - 1000),
             |  0L, (acc, x) -> acc + x)""".stripMargin).as("score"))
      .withColumn("keep", when(col("score") > 0, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Per-document predictability under the corpus bigram LM — the
    * perplexity-style quality signal (boilerplate and templated text score
    * high, incoherent token soup scores low), kept in exact integer ppm so
    * both engines agree without transcendental-function dialect risk: each
    * bigram contributes `P(w2|w1)` as `c(w1,w2)·10⁶ div c(w1)` and a
    * document's score is the occurrence-weighted mean over its bigrams.
    *
    * Shape: ONE corpus scan. Per-doc bigram counts aggregate on the
    * (doc, bigram) key; the LM is a RE-aggregation of that same frame
    * ([[graft.Scratch.track]]'d — its two consumers share the exchange
    * output instead of re-scanning documents), the context total rides a
    * w1-partitioned window over the |bigram-vocab|-sized LM frame (never
    * over occurrences), and the score join is keyed on the bigram — LM
    * and doc frames co-shuffle, nothing corpus-sized is broadcast (the
    * LM grows with vocabulary², so the keyed join IS the scale path;
    * Spark may still elect a broadcast when the LM is measured small —
    * that's AQE's call, not the plan's requirement).
    */
  val predictability: Q = Q("text_predictability",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || chr(9) || ws[i + 1])) AS bg
      |  FROM t WHERE len(ws) >= 2),
      |bd AS (SELECT doc_id, split_part(bg, chr(9), 1) AS w1,
      |    split_part(bg, chr(9), 2) AS w2, count(*) AS n
      |  FROM b GROUP BY 1, 2, 3),
      |lm AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c FROM bd GROUP BY 1, 2),
      |lmp AS (SELECT w1, w2, c,
      |    CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS pc FROM lm),
      |sc AS (SELECT bd.doc_id, CAST(sum(bd.n) AS BIGINT) AS n_bigrams,
      |    CAST(sum(bd.n * ((lmp.c * 1000000) // lmp.pc)) AS BIGINT) AS tot
      |  FROM bd JOIN lmp ON bd.w1 = lmp.w1 AND bd.w2 = lmp.w2
      |  GROUP BY 1)
      |SELECT doc_id, n_bigrams,
      |  CAST(tot // n_bigrams AS BIGINT) AS predict_ppm
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // the (doc, bigram) frame is the session memo shared with
    // text_bigram_lm ([[bdFrame]]) — it was a per-query Scratch
    // persist through round 16, which meant the corpus tokenize+explode
    // re-ran inside this query's first pass every session (the 11.6 s
    // ×100 p1 spike the round-16 sidecars recorded)
    val bd = bdFrame(s, dir)
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val lm = bd.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c"))
      .withColumn("pc", sum(col("c")).over(byW1))
    // the trained LM is VOCABULARY-sized, not corpus-sized (931 distinct
    // bigrams at sf0.1; the ScaleUp suffix scheme adds ~|last words| per
    // replica) — broadcast it so the corpus-sized bd frame never
    // re-exchanges on (w1, w2) and the scoring join is map-side; the
    // only corpus exchanges left are bd's own build and the per-doc
    // rollup (whose map-side partial collapses to ~|docs| wire rows).
    // A corpus whose bigram vocab outgrows broadcast would flip this
    // back to the shuffle join — that is a different data model than
    // the synthetic documents family this LM is declared over.
    bd.join(broadcast(lm), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * expr("(c * 1000000L) div pc")).as("tot"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("tot div n_bigrams").as("predict_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Merge rounds for [[bpeTrain]]: enough to produce multi-character
    * subword symbols (merges chain: pair → trigram+) while keeping the
    * oracle's unrolled CTE replay readable.
    */
  private val BpeMerges = 8

  /** One BPE merge round in DuckDB, `e{i-1}` → `e$i`: weighted adjacent-pair
    * count over the encoded vocab, argmax with (n DESC, l, r) tie-break,
    * then the double-space `replace` rewrite (see [[bpeTrain]] for why the
    * encoding makes plain `replace` exactly the left-to-right merge).
    */
  private def bpeIterSql(i: Int): String =
    s"""tk$i AS (SELECT list_filter(string_split(enc, '  '), x -> x != '') AS t, c
       |  FROM e${i - 1}),
       |pr$i AS (SELECT e.l AS l, e.r AS r, CAST(sum(c) AS BIGINT) AS n FROM (
       |    SELECT unnest(list_transform(range(len(t) - 1),
       |      k -> struct_pack(l := t[k + 1], r := t[k + 2]))) AS e, c
       |    FROM tk$i) GROUP BY 1, 2),
       |b$i AS MATERIALIZED (SELECT l, r, n FROM pr$i ORDER BY n DESC, l, r LIMIT 1),
       |e$i AS MATERIALIZED (SELECT replace(enc,
       |    ' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ',
       |    ' ' || (SELECT l || r FROM b$i) || ' ') AS enc, c FROM e${i - 1})""".stripMargin

  private val bpeTrainOracle: String = {
    val iters = (1 to BpeMerges).map(bpeIterSql).mkString(",\n")
    val out = (1 to BpeMerges)
      .map(i => s"SELECT $i AS step, l AS lsym, r AS rsym, n FROM b$i")
      .mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS w
       |  FROM documents),
       |v AS (SELECT w, count(*) AS c FROM w GROUP BY w),
       |e0 AS (SELECT '  ' || array_to_string(
       |    list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)), '  ')
       |    || '  ' AS enc, c FROM v),
       |$iters
       |SELECT * FROM ($out) ORDER BY step""".stripMargin
  }

  /** Distributed BPE TRAINING — the merge-rule learner behind every
    * subword tokenizer, upgraded from [[bpePairs]]' single-round pair count
    * to the real iterated algorithm: per round, count adjacent symbol
    * pairs over the (word, count) VOCAB weighted by word frequency, merge
    * the most frequent pair corpus-wide, rewrite the vocab encodings, and
    * repeat. Output is the learned merge table (step, pair, weighted
    * count) — the model a tokenizer ships.
    *
    * Scale shape: the corpus is touched ONCE (the word-count pass — at
    * 100 TB the only data-sized stage); every merge round then runs on
    * the |vocab| frame, with the pair count collapsing map-side to
    * |symbol pairs| partials and only the 1-row argmax reaching the
    * driver (the model, not data — the [[graft.operators.Similarity]]
    * k-means convention).
    *
    * Exact cross-engine replay hinges on the ENCODING: symbol sequences
    * are double-space-joined with 2-space sentinels, so the merge pattern
    * `' l  r '` always matches with exactly one space of margin on each
    * side and its replacement `' lr '` restores the invariant — plain
    * left-to-right non-overlapping `replace` (identical semantics in
    * Spark and DuckDB) then IS the BPE merge, including consecutive
    * occurrences (`a b a b` merges twice) and the greedy triple rule
    * (`a a a` merges once, leaving the odd symbol). Ties on the argmax
    * break by (l, r) lexicographic in both engines.
    */
  val bpeTrain: Q = Q("text_bpe_train", bpeTrainOracle) { (s, dir) =>
    bpeMerges(docs(s, dir))
  }

  /** [[bpeTrain]]'s training loop over any (doc_id, text) frame —
    * separated so specs can pin tie-break, merge chaining and pair
    * exhaustion on constructed corpora.
    */
  def bpeMerges(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    val words = docsDf
      .select(explode(expr(
        "regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    var vocab = graft.Scratch.track(words.select(
      concat(lit("  "), expr(
        "array_join(transform(sequence(1, length(w)), i -> substr(w, i, 1)), '  ')"),
        lit("  ")).as("enc"),
      col("c")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to BpeMerges) {
      val best = vocab
        .select(expr("filter(split(enc, '  '), x -> x != '')").as("t"), col("c"))
        .select(explode(expr(
          """CASE WHEN size(t) < 2
            |  THEN cast(array() AS array<struct<l:string,r:string>>)
            |  ELSE transform(sequence(0, size(t) - 2),
            |    k -> struct(t[k] AS l, t[k+1] AS r)) END"""
            .stripMargin.replace("\n", " "))).as("e"), col("c"))
        .groupBy(col("e.l").as("l"), col("e.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect() // the 1-row argmax: model state, not data
      if (best.nonEmpty) {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        merges += ((step, l, r, best(0).getLong(2)))
        // lit-parameterized replace — symbols may be any punctuation
        // character, so nothing is ever spliced into SQL text
        val next = graft.Scratch.track(vocab.select(
          call_function("replace", col("enc"),
            lit(s" $l  $r "), lit(s" $l$r ")).as("enc"),
          col("c")))
        vocab = next
      }
    }
    s.createDataFrame(merges.toSeq)
      .toDF("step", "lsym", "rsym", "n")
      .orderBy(col("step"))
  }

  private val bpeEncodeOracle: String = {
    val iters = (1 to BpeMerges).map(bpeIterSql).mkString(",\n")
    s"""WITH w AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS w
       |  FROM documents),
       |v AS (SELECT w, count(*) AS c FROM w GROUP BY w),
       |e0 AS (SELECT '  ' || array_to_string(
       |    list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)), '  ')
       |    || '  ' AS enc, c FROM v),
       |$iters,
       |tok AS (SELECT unnest(list_filter(string_split(enc, '  '),
       |    x -> x != '')) AS token, c FROM e$BpeMerges)
       |SELECT token, CAST(sum(c) AS BIGINT) AS n FROM tok
       |GROUP BY token ORDER BY n DESC, token LIMIT 40""".stripMargin
  }

  /** BPE ENCODING with a learned rule table — the inference half of the
    * tokenizer loop [[bpeTrain]] trains: apply the ordered merge rules to
    * the word vocabulary and report the resulting token histogram (the
    * fertility/coverage readout a tokenizer owner checks after
    * training). On the training corpus the sequential rule application
    * reproduces the trainer's final encoded state exactly — the property
    * the oracle pins by replaying the training chain to its last CTE and
    * histogramming that.
    *
    * Scale shape: the corpus is touched once (the word-count pass); the
    * encode itself is the [[BpeMerges]] chained `replace` calls over the
    * |vocab| frame — ONE narrow codegen projection, no shuffle, however
    * large the corpus that vocabulary summarizes — then a token
    * histogram with map-side partials. The rule table rides the closure
    * ([[bpeMerges]]' 8-row argmax output: the model, not data — the
    * k-means centroid convention).
    */
  val bpeEncode: Q = Q("text_bpe_encode", bpeEncodeOracle) { (s, dir) =>
    val rules = bpeMerges(docs(s, dir)).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = docs(s, dir)
      .select(explode(expr(
        "regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    bpeEncodeTokens(words, rules)
      .orderBy(col("n").desc, col("token")).limit(40)
  }

  /** Apply an ordered BPE merge-rule list to a (w, c) word-count frame and
    * return the (token, n) histogram — the production encode path for ANY
    * text, trained rules shipped as a model. Separated so specs can
    * encode unseen words with a learned table. The chained replaces use
    * the same double-space sentinel encoding as training, so each rule is
    * the exact left-to-right non-overlapping merge in both engines.
    */
  def bpeEncodeTokens(wordsDf: DataFrame,
      rules: Seq[(String, String)]): DataFrame = {
    val e0 = wordsDf.select(
      concat(lit("  "), expr(
        "array_join(transform(sequence(1, length(w)), i -> substr(w, i, 1)), '  ')"),
        lit("  ")).as("enc"),
      col("c"))
    val encoded = rules.foldLeft(e0) { case (acc, (l, r)) =>
      acc.select(call_function("replace", col("enc"),
        lit(s" $l  $r "), lit(s" $l$r ")).as("enc"), col("c"))
    }
    encoded
      .select(explode(expr("filter(split(enc, '  '), x -> x != '')")).as("token"),
        col("c"))
      .groupBy(col("token")).agg(sum(col("c")).as("n"))
  }

  /** Per-document duplicated-passage coverage — exact substring dedup at
    * word-shingle granularity (the C4 / "Deduplicating Training Data"
    * pass): an 8-gram occurring in ≥2 DISTINCT documents marks its 8 token
    * positions as duplicated; per document the report gives total tokens,
    * duplicated-gram occurrences, and the count of covered token positions
    * — exactly what a span-removal pass would cut. Complements
    * [[boilerplate]] (global top-K frequent spans) with the per-document
    * action view, and MinHash dedup (whole-doc similarity) with
    * sub-document precision.
    *
    * Scale shape: grams travel as 8-byte md5-prefix digests — the corpus
    * shuffles (doc_id, digest), never gram text; doc-frequency is a
    * distinct+count over digests; only grams PROVEN duplicated (a tiny
    * fraction of any real corpus) rejoin, and coverage is a per-doc
    * interval-union window over slim (doc_id, position) rows — see the
    * inline note in [[spanCoverage]]. Collisions: 64-bit digests over
    * ~10¹² grams give ~3·10⁻² expected corpus-wide collisions (birthday
    * bound) — acceptable for a coverage report; swap in 128-bit md5
    * whole for forensic use.
    */
  private val SpanGram = DecontamGram

  val dedupSpans: Q = Q("dedup_spans",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |lg AS (SELECT doc_id, len(t) AS n_tokens, ${gramListSql(SpanGram)} AS l
       |  FROM toks),
       |g0 AS (SELECT doc_id, e.p AS p,
       |    CAST(concat('0x', substr(md5(e.gt), 1, 15)) AS BIGINT) AS g FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(l)),
       |      i -> struct_pack(p := i, gt := l[i + 1]))) AS e
       |    FROM lg)),
       |df AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM g0 GROUP BY g),
       |dup AS (SELECT g FROM df WHERE n_docs >= 2),
       |dg AS (SELECT g0.doc_id, g0.p FROM g0 JOIN dup USING (g)),
       |iv AS (SELECT doc_id, p, p + $SpanGram AS e,
       |    max(p + $SpanGram) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM dg),
       |stats AS (SELECT dg.doc_id, count(*) AS n_dup_grams FROM dg GROUP BY 1),
       |cstats AS (SELECT doc_id,
       |    sum(e - greatest(p, coalesce(pmax, p))) AS covered_tokens
       |  FROM iv GROUP BY 1)
       |SELECT lg.doc_id AS doc_id, CAST(lg.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(s.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       |  CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens
       |FROM lg LEFT JOIN stats s ON s.doc_id = lg.doc_id
       |LEFT JOIN cstats c ON c.doc_id = lg.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    spanCoverageFromGrams(docs(s, dir), gramFrame(s, dir))
  }

  /** [[dedupSpans]]'s engine over any (doc_id, text) frame — separated so
    * specs can run it on constructed fixtures with planted shared spans.
    */
  def spanCoverage(docsDf: DataFrame): DataFrame =
    spanCoverageFromGrams(docsDf, posGramsOf(docsDf))

  private def spanCoverageFromGrams(docsDf: DataFrame,
      gramsIn: DataFrame): DataFrame = {
    val toks = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val base = toks.select(col("doc_id"), size(col("t")).as("n_tokens"))
    // (doc_id, position, gram digest) — the only corpus-sized frame;
    // persisted (Scratch pass-through when the caller hands the session
    // gram memo) because BOTH the doc-frequency pass and the
    // duplicated-gram join consume it (unpersisted, the tokenize +
    // explode + md5 sweep runs twice over the corpus).
    // The shared memo's g is a 16-hex-char STRING (the other four
    // consumers' oracles replay that form); THIS query re-digests it to
    // a 60-bit long map-side (conv of the first 15 hex chars — the
    // engine's standard replayable-randomness idiom, 48-bit cousin in
    // Sampling.withSketchRho) so the distinct, the doc-frequency
    // aggregate, and the dup join all exchange and compare an 8-byte
    // key instead of a 16-char string. A truncation collision merges
    // the same grams in both engines (the oracle applies the identical
    // conv), preserving the hash gate exactly like the md5-prefix
    // argument it extends.
    val grams = graft.Scratch.track(gramsIn.select(col("doc_id"), col("p"),
      expr("CAST(conv(substr(g, 1, 15), 16, 10) AS BIGINT)").as("g")))
    // doc-frequency over digests; distinct first so the count is per-doc
    val dup = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select(col("g"))
    val dg = graft.Scratch.track(
      grams.join(dup, "g").select(col("doc_id"), col("p")))
    val perDoc = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_grams"))
    // covered positions as an interval-union sweep, not an ×G explode +
    // global distinct: duplicated grams are fixed-length intervals
    // [p, p+G); sorted per doc, each contributes e − max(p, running-max
    // prior end) — one keyed exchange of slim (doc_id, p) rows where the
    // explode form pushed ×G rows through a corpus-wide distinct (50 → 16 s
    // at the ×100 all-duplicated worst case, where EVERY gram is
    // replica-duplicated and dg is corpus-sized)
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cov = dg
      .withColumn("e", (col("p") + lit(SpanGram)).cast("long"))
      .withColumn("pmax", max(col("e")).over(wPrev))
      .select(col("doc_id"),
        (col("e") - greatest(col("p").cast("long"),
          coalesce(col("pmax"), col("p").cast("long")))).as("add"))
      .groupBy(col("doc_id")).agg(sum(col("add")).as("covered_tokens"))
    base
      .join(perDoc, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document exact-substring PAIR extraction — the redaction half
    * of the span story: [[dedupSpans]] reports how much of each document
    * is duplicated SOMEWHERE, this emits the actual (doc, doc, offset,
    * offset, length) maximal shared spans a training-data pipeline
    * redacts or attributes. Classic single-node tools build a suffix
    * automaton; the distributed equivalent is DIAGONAL RUN-LENGTH
    * MERGING over the positional gram frame: two documents sharing a
    * maximal L-token span (L ≥ G) share exactly L−G+1 consecutive
    * G-grams whose position offsets all differ by the same delta, so
    * every matching gram-occurrence pair lands on one (id1, id2,
    * p1−p2) diagonal and maximal spans fall out as gaps-and-islands
    * runs (`isl = p1 − row_number()`) — partitioned windows, never a
    * corpus-wide one.
    *
    * Scale shape (the 100 TB posture): (1) exact-duplicate documents
    * collapse to one representative FIRST (min doc_id per md5(text) —
    * production order: span mining runs on the exact-deduped corpus);
    * (2) grams ride the shared positional fixture/memo as 60-bit longs
    * ([[dedupSpans]]'s re-digest); (3) only grams occurring
    * 2..[[SpanPairCap]] times corpus-wide enter the pair join — ≥2 is
    * the duplication predicate, the cap drops boilerplate grams whose
    * occurrence lists would explode quadratically (the [[graft.operators.Dedup]]
    * MaxBandBucket argument: a gram in thousands of documents carries no
    * span-attribution signal, and the oracle applies the identical cap);
    * (4) the emitted frame is runs ≥ [[MinSpanPairTokens]] tokens — the
    * substantive spans, a tiny fraction of any real corpus. On the ×N
    * replicated bench corpus (near-identical replicas — ScaleUp appends
    * a per-replica suffix, so md5-dedup does not collapse them) the cap
    * classifies every replica-shared gram as boilerplate: the query's
    * ×100 cost is the LINEAR gram scan + occurrence aggregate, which is
    * exactly the bound the cap exists to enforce on pathologically
    * self-similar corpora.
    */
  private val SpanPairCap = 16
  private val MinSpanPairTokens = SpanGram + 4

  val dedupSpanPairs: Q = Q("dedup_span_pairs",
    s"""WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |toks AS (SELECT d.doc_id, string_split(d.text, ' ') AS t
       |  FROM documents d JOIN reps USING (doc_id)),
       |lg AS (SELECT doc_id, ${gramListSql(SpanGram)} AS l FROM toks),
       |g0 AS (SELECT doc_id, e.p AS p,
       |    CAST(concat('0x', substr(md5(e.gt), 1, 15)) AS BIGINT) AS g FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(l)),
       |      i -> struct_pack(p := i, gt := l[i + 1]))) AS e
       |    FROM lg)),
       |oc AS (SELECT g, count(*) AS occ FROM g0 GROUP BY g),
       |gk AS (SELECT g0.doc_id, g0.p, g0.g FROM g0 JOIN oc USING (g)
       |  WHERE occ BETWEEN 2 AND $SpanPairCap),
       |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.p AS p1, b.p AS p2
       |  FROM gk a JOIN gk b ON a.g = b.g AND a.doc_id < b.doc_id),
       |d AS (SELECT id1, id2, p1 - p2 AS diag, p1,
       |    p1 - row_number() OVER (PARTITION BY id1, id2, p1 - p2 ORDER BY p1) AS isl
       |  FROM pr),
       |runs AS (SELECT id1, id2, diag, isl, min(p1) AS s1, count(*) AS ng
       |  FROM d GROUP BY 1, 2, 3, 4)
       |SELECT id1, id2, CAST(s1 AS BIGINT) AS p1,
       |  CAST(s1 - diag AS BIGINT) AS p2,
       |  CAST(ng + ${SpanGram - 1} AS BIGINT) AS span_tokens
       |FROM runs WHERE ng + ${SpanGram - 1} >= $MinSpanPairTokens
       |ORDER BY id1, id2, p1, p2""".stripMargin) { (s, dir) =>
    spanPairsFromGrams(docs(s, dir), gramFrame(s, dir))
  }

  /** [[dedupSpanPairs]]'s engine over any (doc_id, text) frame — exposed
    * so specs can run it on constructed fixtures with planted spans. */
  def spanPairs(docsDf: DataFrame): DataFrame =
    spanPairsFromGrams(docsDf, posGramsOf(docsDf))

  private def spanPairsFromGrams(docsDf: DataFrame,
      gramsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exact-dedup representatives: bounded by DISTINCT corpus content —
    // tiny relative to a replicated corpus (AQE broadcasts the semi join
    // at bench scale; at true 100 TB it's a doc_id-keyed semi join)
    val reps = docsDf
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // shared positional gram memo, re-digested to 60-bit longs map-side
    // (the dedupSpans idiom) — persisted because the occurrence count
    // and the pair join both consume it
    val gl = graft.Scratch.track(gramsIn
      .join(reps, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("p"),
        expr("CAST(conv(substr(g, 1, 15), 16, 10) AS BIGINT)").as("g")))
    val keep = gl.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2 && col("occ") <= SpanPairCap)
      .select(col("g"))
    val gk = graft.Scratch.track(gl.join(keep, "g")
      .select(col("doc_id"), col("p"), col("g")))
    val pr = gk.as("a").join(gk.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.p").as("p1"), col("b.p").as("p2"))
    val d = pr.withColumn("diag", col("p1") - col("p2"))
    val w = Window.partitionBy(col("id1"), col("id2"), col("diag"))
      .orderBy(col("p1"))
    val runs = d.withColumn("isl", col("p1") - row_number().over(w))
      .groupBy(col("id1"), col("id2"), col("diag"), col("isl"))
      .agg(min(col("p1")).as("s1"), count(lit(1)).as("ng"))
    runs.filter(col("ng") + lit(SpanGram - 1) >= MinSpanPairTokens)
      .select(col("id1"), col("id2"), col("s1").cast("long").as("p1"),
        (col("s1") - col("diag")).cast("long").as("p2"),
        (col("ng") + lit(SpanGram - 1)).cast("long").as("span_tokens"))
      .orderBy(col("id1"), col("id2"), col("p1"), col("p2"))
  }

  /** The shared BM25 per-(query-term, doc) score in MICRO-units, written
    * ONCE as expression text both engines evaluate verbatim: Robertson
    * idf in the RATIONAL form ((N − df + 0.5)/(df + 0.5), the [[tfidf]]
    * no-logarithm convention — swap in the ln-damped form without
    * changing the plan), k1 = 1.2, b = 0.75 folded as literals
    * (k1+1 = 2.2, 1−b = 0.25). Every input is an exact integer below
    * 2⁵³, each double step is IEEE-correctly-rounded with an identical
    * operation tree, and the final round-to-micro makes the per-doc SUM
    * an integer — summation-order-free, so the gate hashes exactly.
    */
  private[operators] val bm25ScoreSql: String =
    "CAST(round((((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))" +
      " * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75" +
      " * (CAST(len AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))" +
      " * 1000000.0) AS BIGINT)"

  /** BM25 ranked retrieval — the scoring half of the RAG stack whose
    * storage half is [[invertedIndex]]: five probe queries (each
    * `doc_id < 5` document's first 6 tokens as a term bag) rank the
    * corpus by Okapi BM25 and keep the top-10. The candidate set is the
    * real inverted-index probe: postings (the (doc, term, tf) frame)
    * join the ≤ 30-row broadcast query-term list, so only documents
    * containing a query term are ever scored and the exchanges are
    * candidate-sized (Σ_t df_t), never corpus-wide. df joins the query
    * terms BEFORE touching postings — the vocabulary aggregation stays
    * two-phase/skew-resistant ([[tfidf]]'s argument) and the scored join
    * broadcasts a ≤ 30-row (term, df) model. Corpus stats (N, total
    * length) ride as a 1-row broadcast; scores are integer micro-units
    * ([[bm25ScoreSql]]) so the per-document sum is order-free.
    */
  val bm25: Q = Q("text_bm25",
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
       |sc AS (SELECT q.query_id, tf.doc_id, $bm25ScoreSql AS score_micro
       |  FROM tf JOIN qt q USING (w) JOIN dfr USING (w)
       |  JOIN lens l ON l.doc_id = tf.doc_id CROSS JOIN st),
       |agg AS (SELECT query_id, doc_id,
       |    CAST(sum(score_micro) AS BIGINT) AS bm25_micro
       |  FROM sc GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, bm25_micro,
       |    row_number() OVER (PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id) AS rn
       |  FROM agg)
       |SELECT query_id, doc_id, bm25_micro, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin) { (s, dir) =>
    bm25Rank(docs(s, dir))
  }

  /** The BM25 pipeline over any (doc_id, text) frame — factored out so
    * the planted-fixture spec drives constructed corpora and
    * [[Similarity.retrievalRrf]] reuses the lexical half.
    * `excludeSelf` drops the query's own document BEFORE ranking (the
    * pre-filter discipline [[Similarity.annFiltered]] documents — a
    * post-ranking drop would shift every rank below the hole). */
  private[operators] def bm25Rank(
      docsDf: DataFrame, excludeSelf: Boolean = false): DataFrame = {
    val qterms = docsDf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 6)).as("w"))
      .distinct()
    // Bloom-prefilter the postings build on the query-term set: every
    // non-query word the corpus tokenization emits was aggregated through
    // the (doc_id, w) exchange only to be dropped by the qdf probe join —
    // at ×100 that exchange IS the query's cost. The sketch (built in one
    // pass over the ≤ |queries|·6-term frame, probed inside whole-stage
    // codegen) passes every query term (one-sided error) plus an fpp
    // sliver; the downstream inner joins against qdf/qterms remove the
    // false positives, so tf AND df stay exact for every query term.
    val qBloom = bloomBytes(qterms.select(col("w")))
    val words = docsDf
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(call_function("might_contain_bloom", lit(qBloom), col("w")))
    // persisted: df AND the candidate probe both consume the postings —
    // without this the corpus tokenization explode runs twice
    val tf = graft.Scratch.track(
      words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val lens = docsDf.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("len"))
    val stats = docsDf.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).cast("long").as("tot_len"))
    // query-restricted df: ≤ |queries|·6 rows after the broadcast join —
    // the model the postings probe broadcasts
    val qdf = df.join(broadcast(qterms), Seq("w"))
    val w10 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    val scored = tf.join(broadcast(qdf), Seq("w"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(bm25ScoreSql))
    (if (excludeSelf) scored.filter(col("doc_id") =!= col("query_id"))
     else scored)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_micro")).as("bm25_micro"))
      .withColumn("rn", row_number().over(w10).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"), col("bm25_micro"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  val all: Seq[Q] =
    Seq(stats, langid, fingerprint, wordfreq, keywords, tfidf, tokens,
      qualityFilter, scrub, chunks, decontam, decontamBloom, repetition,
      bpePairs, corpusReport, boilerplate, cooccur, chi2, langConfusion,
      featureHash,
      heavyHitters, invertedIndex, bigramLm, novelty, classify,
      predictability, dedupSpans, dedupSpanPairs, bpeTrain, bpeEncode, bm25)
}
