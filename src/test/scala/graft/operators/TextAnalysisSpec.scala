package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{lower, md5, regexp_replace}

/** Discriminative check for the language-ID classifier: the synthetic
  * corpus shares one vocabulary across `lang` labels (so the oracle-gated
  * `text_langid` query verifies arithmetic, not discrimination); this
  * fixture gives each language a genuinely distinct marker distribution
  * and asserts the argmax recovers the labels.
  */
class TextAnalysisSpec extends SparkSpec {

  import spark.implicits._

  test("session gram memo: memo-served equals a fresh build, persists, and releases") {
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(identity)
    val memo = TextAnalysis.gramFrame(spark, dir)
    val fresh = TextAnalysis.posGramsOf(
      graft.sources.Tables.load(spark, dir, "documents"))
    assert(rows(memo).toSeq === rows(fresh).toSeq)
    assert(memo.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the memo frame must be persisted — first-payer amortization is its point")
    // same instance on re-request (the memo actually memoizes)...
    assert(TextAnalysis.gramFrame(spark, dir) eq memo)
    // ...and a fresh, equal instance after release (no stale cache entry)
    graft.SessionMemos.Grams.release(spark)
    val rebuilt = TextAnalysis.gramFrame(spark, dir)
    assert(!(rebuilt eq memo))
    assert(rows(rebuilt).toSeq === rows(fresh).toSeq)
    graft.SessionMemos.Grams.release(spark)
  }

  test("gram fixture: the served frames read the stored tables under their declared schemas") {
    val dir = sf("sf0.001")
    def fields(st: org.apache.spark.sql.types.StructType) = st.map(f => f.name -> f.dataType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString(" ")).sorted.toSeq
    graft.SessionMemos.Grams.release(spark)
    val root = TextAnalysis.gramFixtureWrite(spark, dir)
    try {
      assert(fields(spark.read.parquet(s"$root/pos").schema) ===
        fields(TextAnalysis.GramPosSchema))
      assert(fields(spark.read.parquet(s"$root/dist").schema) ===
        fields(TextAnalysis.GramDistSchema))
      val fresh = TextAnalysis.posGramsOf(
        graft.sources.Tables.load(spark, dir, "documents"))
      assert(rows(TextAnalysis.gramFrame(spark, dir)) === rows(fresh))
      assert(rows(TextAnalysis.gramSet(spark, dir)) ===
        rows(fresh.select("doc_id", "g").distinct()))
    } finally {
      graft.SessionMemos.Grams.release(spark)
      graft.FixtureStore.dropMemo("grams", dir)
    }
  }

  test("langid recovers labels on a corpus with distinct marker distributions") {
    // the classifier's own marker vocabulary, as bare words (markers are
    // matched as " word ", so joining words with single spaces produces
    // exactly one occurrence per appearance)
    val markerWords = Map(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "und", "die"),
      "es" -> Seq("el", "los", "una"),
      "fr" -> Seq("le", "les", "est"))
    val rnd = new scala.util.Random(7)
    val docs = for {
      (lang, li) <- markerWords.keys.toSeq.sorted.zipWithIndex
      i <- 0 until 25
    } yield {
      val own = markerWords(lang)
      val others = (markerWords - lang).values.flatten.toSeq
      // 4-8 own-language markers, exactly one foreign marker as noise,
      // filler between so marker spans never overlap
      val k = 4 + rnd.nextInt(5)
      val words = Seq("doc") ++
        (0 until k).flatMap(_ => Seq(own(rnd.nextInt(own.size)), "filler")) ++
        Seq(others(rnd.nextInt(others.size)), "tail")
      (li * 100L + i, lang, words.mkString(" "))
    }
    val out = TextAnalysis.langidOn(docs.toDF("doc_id", "lang", "text"))
      .select($"lang", $"pred_lang").as[(String, String)].collect()
    assert(out.length === 100)
    val acc = out.count { case (l, p) => l == p }.toDouble / out.length
    assert(acc > 0.9, s"langid accuracy $acc on the discriminative fixture")
    // every language must actually be predicted — guards against a
    // degenerate always-'en' classifier passing on label imbalance
    assert(out.map(_._2).distinct.sorted === Seq("de", "en", "es", "fr"))
  }

  private val dir = sf("sf0.001")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("text_chunks covers every token with correctly-sized overlapping windows") {
    val texts = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val chunks = TextAnalysis.chunks.run(spark, dir)
      .select($"doc_id", $"chunk_id", $"n_tokens", $"chunk_text")
      .as[(Long, Long, Long, String)].collect()
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val toks = texts(id).split(" ", -1)
      val sorted = cs.sortBy(_._2)
      sorted.foreach { case (_, cid, n, text) =>
        val start = (cid * 48).toInt
        val expect = toks.slice(start, start + 64)
        assert(n === expect.length.toLong, s"doc $id chunk $cid size")
        assert(text === expect.mkString(" "), s"doc $id chunk $cid text")
      }
      // the last chunk must reach the final token: full coverage
      val (_, lastCid, lastN, _) = sorted.last
      assert(lastCid * 48 + lastN === toks.length.toLong, s"doc $id coverage")
    }
  }

  test("text_decontam agrees with a direct 8-gram set-intersection replay") {
    val all = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val eval = all.map { case (id, t) => (md5hex(t), id) }.sorted.take(5).map(_._2).toSet
    def grams(t: String): Set[String] =
      t.split(" ", -1).toSeq.sliding(8).filter(_.size == 8).map(_.mkString(" ")).toSet
    val evalGrams = all.filter(r => eval(r._1)).flatMap(r => grams(r._2)).toSet
    val expect = all.filterNot(r => eval(r._1))
      .map { case (id, t) => id -> grams(t).count(evalGrams).toLong }.toMap
    val got = TextAnalysis.decontam.run(spark, dir)
      .select($"doc_id", $"n_shared_ngrams").as[(Long, Long)].collect().toMap
    assert(got === expect)
  }

  test("text_repetition scores planted repetitive and clean documents correctly") {
    val fixtures = Seq(
      // "a b a b ..." 8 tokens → 6 3-grams, 2 distinct → frac 4/6
      (1L, "a b a b a b a b", 6L, 2L, 4.0 / 6.0, true),
      // all-distinct tokens → frac 0
      (2L, "one two three four five", 3L, 3L, 0.0, false),
      // under 3 tokens → zero grams, frac 0, not repetitive
      (3L, "hi there", 0L, 0L, 0.0, false),
      (4L, "", 0L, 0L, 0.0, false),
      // exactly one duplicated gram in 5: 1/5 < 0.2 boundary → false
      (5L, "x y z x y z w", 5L, 4L, 1.0 / 5.0, false))
    val got = TextAnalysis.repetitionOn(
      fixtures.map(f => (f._1, f._2)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    val expect = fixtures.map(f => (f._1, f._3, f._4, f._5, f._6))
    assert(got === expect)
  }

  test("sample_temperature quotas are sqrt-proportional and digest-ranked") {
    val counts = graft.sources.Tables.load(spark, dir, "documents")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    // replay the exact integer quota arithmetic the query gates on
    val w = counts.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble) * 1000000).toLong }
    val sw = w.values.sum
    val quota = w.map { case (s, v) => s -> math.max(1L, 100L * v / sw) }
    val selected = Sampling.temperature.run(spark, dir)
      .as[(String, Long)].collect()
    val perSource = selected.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    perSource.foreach { case (s, n) =>
      assert(n === math.min(quota(s), counts(s)), s"source $s quota")
    }
    // α=0.5 upweights the tail: no source exceeds its exact-proportional
    // share by more than the sqrt compression allows, and every source
    // with documents is represented
    assert(perSource.keySet === counts.keySet)
    // members are the digest-ranked prefix per source (same rule as the
    // stratified sample)
    val byDigest = graft.sources.Tables.load(spark, dir, "documents")
      .select($"source", md5($"text").as("dig"), $"doc_id")
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._2, r._3)).map(_._3)).toMap
    selected.groupBy(_._1).foreach { case (s, rows) =>
      val expectIds = byDigest(s).take(perSource(s).toInt).toSet
      assert(rows.map(_._2).toSet === expectIds, s"source $s members")
    }
  }

  test("dedup_cross agrees with the self-join pairs restricted to eval×train") {
    // independent derivation through the OTHER code path: the capped band
    // self-join's pairs, keeping only pairs with exactly one endpoint in
    // the digest-ranked eval set, must produce the same per-train-doc
    // near counts as the broadcast semi-join the registered query runs
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val eval = d.select(md5($"text").as("dig"), $"doc_id")
      .as[(String, Long)].collect().sorted.take(50).map(_._2).toSet
    val pairs = graft.operators.Dedup.minhashCandidates(d)
      .as[(Long, Long)].collect()
    val expect = pairs.flatMap { case (a, b) =>
      if (eval(a) && !eval(b)) Some(b -> a)
      else if (eval(b) && !eval(a)) Some(a -> b)
      else None
    }.distinct.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val got = graft.operators.Dedup.crossEval.run(spark, dir)
      .select($"doc_id", $"n_eval_nears").as[(Long, Long)].collect()
    got.foreach { case (id, n) =>
      assert(n === expect.getOrElse(id, 0L), s"doc $id near count")
    }
    assert(got.map(_._1).toSet.intersect(eval).isEmpty,
      "an eval doc leaked into the training-side output")
  }

  test("corpus_report aggregates exact per-(source, lang) card stats") {
    val got = graft.operators.TextAnalysis.corpusReport.run(spark, dir)
      .as[(String, String, Long, Long, Long, Double)].collect()
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select($"source", $"lang", $"n_chars", lower(regexp_replace($"text",
        "[ \\t\\n\\r\\f]+", " ")).as("norm"))
      .as[(String, String, Long, String)].collect()
    assert(got.map(_._3).sum === docs.length.toLong)
    val byKey = docs.groupBy(d => (d._1, d._2))
    got.foreach { case (src, lang, n, chars, distinct, dupFrac) =>
      val grp = byKey((src, lang))
      assert(n === grp.length.toLong)
      assert(chars === grp.map(_._3).sum)
      assert(distinct === grp.map(_._4).distinct.length.toLong)
      assert(dupFrac >= 0.0 && dupFrac < 1.0)
      assert(math.abs(dupFrac - (1.0 - distinct.toDouble / n)) == 0.0)
    }
  }

  test("text_bpe_pairs counts corpus-weighted adjacent pairs, top-k planned") {
    val got = graft.operators.TextAnalysis.bpePairs.run(spark, dir)
      .as[(String, Long)].collect()
    assert(got.length === 20)
    assert(got.forall(_._1.length == 2))
    // sorted by count desc, pair asc
    got.sliding(2).foreach { case Array((p1, c1), (p2, c2)) =>
      assert(c1 > c2 || (c1 == c2 && p1 < p2))
    }
    // independent replay: pair counts over the raw pre-tokenized corpus
    val rx = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]".r
    val counts = scala.collection.mutable.Map.empty[String, Long]
    graft.sources.Tables.load(spark, dir, "documents")
      .select($"text").as[String].collect()
      .foreach(t => rx.findAllIn(t).foreach { w =>
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      })
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    assert(got.toSeq === expected)
    // per-partition top-k, not a global sort
    val plan = graft.operators.TextAnalysis.bpePairs.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("text_decontam_bloom equals text_decontam's positive rows exactly") {
    // sf0.01: the larger corpus actually contains eval-overlapping docs
    // (sf0.001 has none, which would make the equality vacuous)
    val d01 = sf("sf0.01")
    val exact = TextAnalysis.decontam.run(spark, d01)
      .filter($"contaminated")
      .select($"doc_id", $"n_shared_ngrams").as[(Long, Long)].collect().toMap
    val bloom = TextAnalysis.decontamBloom.run(spark, d01)
      .as[(Long, Long)].collect().toMap
    assert(bloom === exact)
    assert(bloom.nonEmpty, "fixture must actually contain contamination")
  }

  test("bloomBytes builds in one pass and re-sizes on capacity overflow") {
    import org.apache.spark.sql.functions.col
    val items = (0 until 5000).map(i => s"gram-$i")
    val df = items.toDF("g").repartition(4)
    for (cap <- Seq(1000L /* overflow → sized rebuild */, 100000L /* single pass */)) {
      val bytes = TextAnalysis.bloomBytes(df, cap)
      val bf = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      // one-sided guarantee must hold on BOTH paths
      items.foreach(s => assert(bf.mightContainString(s), s"false negative: $s cap=$cap"))
      val fps = (0 until 5000).count(i => bf.mightContainString(s"absent-$i"))
      assert(fps <= 500, s"implausible FP rate with cap=$cap: $fps/5000")
    }
    // the aggregator's count must be exact (it drives overflow detection)
    val built = df.as[String](org.apache.spark.sql.Encoders.STRING)
      .select(graft.functions.TypedAggs.bloomBuild(100000L, 0.03).toColumn)
      .head()
    assert(built.n === 5000L)
    assert(df.select(col("g")).columns.head === "g")
  }

  test("might_contain_bloom has no false negatives and null-propagates") {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    (0 until 100).foreach(i => bf.putBinary(s"member-$i".getBytes("UTF-8")))
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    val probes = (0 until 100).map(i => (s"member-$i", true)) ++
      (0 until 1000).map(i => (s"absent-$i", false))
    val got = probes.toDF("s", "expected_member")
      .select(col("s"), col("expected_member"),
        call_function("might_contain_bloom", lit(bytes), col("s")).as("hit"))
      .as[(String, Boolean, Boolean)].collect()
    // one-sided error: every member hits; non-members may FP but at 1%
    // nominal fpp, 1000 probes cannot plausibly exceed a 5% FP rate
    got.filter(_._2).foreach { case (s, _, hit) => assert(hit, s"false negative on $s") }
    val fps = got.filterNot(_._2).count(_._3)
    assert(fps <= 50, s"$fps false positives in 1000 absent probes")
    // null probe → null result (not false)
    val nulls = Seq(Some("member-0"), None).toDF("s")
      .select(call_function("might_contain_bloom", lit(bytes), col("s")).as("hit"))
      .collect()
    assert(nulls(0).getBoolean(0) === true)
    assert(nulls(1).isNullAt(0))
  }

  test("feature_hash computes exact hashed-bag summaries") {
    val all = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expect = all.map { case (id, t) =>
      val counts = t.split(" ", -1).toSeq
        .groupBy(w => java.lang.Long.parseLong(md5hex(w).take(2), 16) % 64)
        .view.mapValues(_.length.toLong).toMap
      (id, counts.size.toLong, counts.values.sum,
        counts.values.map(c => c * c).sum)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.featureHash.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // the trick really compresses: every doc lands in <= 64 buckets
    assert(got.forall(_._2 <= 64))
  }

  test("text_boilerplate agrees with a direct 8-gram df replay and is top-k") {
    val all = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val df = scala.collection.mutable.Map.empty[String, Long]
    all.foreach { case (_, t) =>
      t.split(" ", -1).toSeq.sliding(8).filter(_.size == 8)
        .map(_.mkString(" ")).toSet
        .foreach((g: String) => df(g) = df.getOrElse(g, 0L) + 1L)
    }
    // selection replays the digest tie-break (df DESC, md5-prefix ASC);
    // display order is (df DESC, span ASC) like the query output
    val expect = df.toSeq.filter(_._2 >= 3)
      .sortBy { case (g, n) => (-n, md5hex(g).take(16)) }.take(100)
      .sortBy { case (g, n) => (-n, g) }
    val q = TextAnalysis.boilerplate.run(spark, dir)
    val got = q.select($"span", $"n_docs").as[(String, Long)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty, "fixture must actually contain boilerplate spans")
    // top-k must be TakeOrdered (no global sort of the full df table)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("cooccur_lift agrees with a direct pair-count replay at exact ppm") {
    val all = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val docWords = all.map { case (id, t) => id -> t.split(" ", -1).toSet }
    val dfm = docWords.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val voc = dfm.toSeq.sortBy { case (w, n) => (-n, w) }.take(50).toMap
    val nDocs = all.length.toLong
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    docWords.foreach { case (_, ws) =>
      val vw = ws.filter(voc.contains).toSeq.sorted
      for (i <- vw.indices; j <- i + 1 until vw.size)
        pairCounts((vw(i), vw(j))) = pairCounts.getOrElse((vw(i), vw(j)), 0L) + 1L
    }
    val expect = pairCounts.toSeq.map { case ((w1, w2), both) =>
      (w1, w2, both, voc(w1), voc(w2), both * nDocs * 1000000L / (voc(w1) * voc(w2)))
    }.sortBy { case (w1, w2, _, _, _, lift) => (-lift, w1, w2) }.take(100)
    val got = TextAnalysis.cooccur.run(spark, dir)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("misraGries sketch never loses a true heavy hitter, across partitions") {
    import graft.functions.TypedAggs
    // skewed stream: "hot0" ×600, "hot1" ×300, 2100 distinct cold items ×1
    val items = Seq.fill(600)("hot0") ++ Seq.fill(300)("hot1") ++
      (0 until 2100).map(i => s"cold$i")
    val n = items.size
    val k = 20
    val ds = spark.createDataset(scala.util.Random.shuffle(items))(
      org.apache.spark.sql.Encoders.STRING).repartition(7)
    val cand = ds.select(TypedAggs.misraGries(k).toColumn).head().ws.toSet
    // guarantee: freq > n/(k+1) survives partials + merges
    val exact = items.groupBy(identity).view.mapValues(_.size).toMap
    exact.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { hh =>
      assert(cand.contains(hh), s"true heavy hitter $hh evicted from sketch")
    }
    assert(cand.size <= k, "buffer bound violated")
  }

  test("heavy_hitters equals the exact group-everything query") {
    val toks = graft.sources.Tables.load(spark, dir, "documents")
      .select($"text").as[String].collect().toSeq
      .flatMap(_.split(" ", -1))
    val n = toks.size
    val expect = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter { case (_, c) => c * 35 > n }
      .map { case (w, c) => (w, c) }
      .sortBy { case (w, c) => (-c, w) }
    val got = TextAnalysis.heavyHitters.run(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty, "uniform tiny vocabulary ⇒ every word is frequent")
  }

  test("text_inverted_index matches a scalar index build, digests included") {
    val raw = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val postings = scala.collection.mutable.Map.empty[String, Set[Long]]
    raw.foreach { case (id, text) =>
      text.split(" ", -1).distinct.foreach { w =>
        postings(w) = postings.getOrElse(w, Set.empty) + id
      }
    }
    val expect = postings.toSeq
      .map { case (w, ids) =>
        (w, ids.size.toLong, md5hex(ids.toSeq.sorted.mkString(",")))
      }
      .filter(_._2 >= 5)
      .sortBy { case (w, df, _) => (-df, w) }
      .take(200)
    val got = TextAnalysis.invertedIndex.run(spark, dir)
      .as[(String, Long, String)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("text_bigram_lm matches a scalar bigram count with exact ppm") {
    val raw = graft.sources.Tables.load(spark, dir, "documents")
      .select($"text").as[String].collect()
    val pair = scala.collection.mutable.Map.empty[(String, String), Long]
    raw.foreach { t =>
      val ws = t.split(" ", -1)
      ws.sliding(2).filter(_.size == 2).foreach { p =>
        pair((p(0), p(1))) = pair.getOrElse((p(0), p(1)), 0L) + 1L
      }
    }
    val prefix = pair.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val expect = pair.toSeq
      .map { case ((w1, w2), c) => (w1, w2, c) }
      .groupBy(_._1).toSeq
      .filter { case (w1, _) => prefix(w1) >= 50L }
      .flatMap { case (w1, rows) =>
        rows.sortBy { case (_, w2, c) => (-c, w2) }.take(3).zipWithIndex.map {
          case ((_, w2, c), i) =>
            (w1, i + 1L, w2, c, c * 1000000L / prefix(w1))
        }
      }
      .sortBy { case (w1, rn, _, _, _) => (w1, rn) }
    val got = TextAnalysis.bigramLm.run(spark, dir)
      .as[(String, Long, String, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty)
    got.foreach { case (_, _, _, _, ppm) =>
      assert(ppm >= 0L && ppm <= 1000000L)
    }
  }

  test("text_novelty matches a scalar first-occurrence replay") {
    val raw = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val grams: Map[Long, Set[String]] = raw.map { case (id, text) =>
      id -> text.split(" ", -1).sliding(8).filter(_.size == 8)
        .map(_.mkString(" ")).toSet
    }.toMap
    val firstDoc = scala.collection.mutable.Map.empty[String, Long]
    grams.toSeq.sortBy(_._1).foreach { case (id, gs) =>
      gs.foreach(g => if (!firstDoc.contains(g)) firstDoc(g) = id)
    }
    val expect = grams.toSeq
      .filter(_._2.nonEmpty)
      .map { case (id, gs) =>
        val novel = gs.count(g => firstDoc(g) == id).toLong
        (id, gs.size.toLong, novel, novel * 1000000L / gs.size)
      }
      .sortBy(_._1)
    val got = TextAnalysis.novelty.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty)
    // the lowest doc_id with grams is 100% novel by construction
    assert(got.head._4 === 1000000L)
  }

  /** The engine-side hash bucket + weight rule, replayed scalar-side:
    * first two md5 hex chars mod 64, weight (b·2654435761) mod 2001 −
    * 1000 — must match TextAnalysis.classify's HashDim/weight constants.
    */
  private def tokenWeight(t: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    val hex = d.take(1).map(b => f"$b%02x").mkString
    val b = java.lang.Integer.parseInt(hex, 16).toLong % 64L
    b * 2654435761L % 2001L - 1000L
  }

  test("text_classify matches a scalar scorer and plans zero data exchanges") {
    val raw = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expect = raw.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val score = ws.map(tokenWeight).sum
      (id, ws.length.toLong, score, if (score > 0) 1L else 0L)
    }.sortBy(_._1).toSeq
    val df = TextAnalysis.classify.run(spark, dir)
    val got = df.as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // both decisions occur on the corpus, or the filter is vacuous
    assert(got.exists(_._4 == 1L) && got.exists(_._4 == 0L))
    // inference is one codegen'd projection: no explode, no aggregation
    // exchange — the only Exchange is the presentation sort's range
    // partitioning
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("text_predictability matches a scalar bigram-LM replay, one scan") {
    val raw = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val bigrams: Map[Long, Seq[(String, String)]] = raw.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> ws.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq
    }.toMap
    val c = scala.collection.mutable.Map.empty[(String, String), Long]
    bigrams.values.flatten.foreach(bg => c(bg) = c.getOrElse(bg, 0L) + 1L)
    val pc = c.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val expect = bigrams.toSeq
      .filter(_._2.nonEmpty)
      .map { case (id, bgs) =>
        val tot = bgs.map(bg => c(bg) * 1000000L / pc(bg._1)).sum
        (id, bgs.size.toLong, tot / bgs.size)
      }
      .sortBy(_._1)
    val df = TextAnalysis.predictability.run(spark, dir)
    val got = df.as[(Long, Long, Long)].collect().toSeq
    assert(got === expect)
    got.foreach { case (_, _, ppm) => assert(ppm >= 0L && ppm <= 1000000L) }
    // the (doc, bigram) frame is Scratch-persisted: LM derivation and the
    // score join both read the cache instead of re-scanning documents
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), p)
    graft.Scratch.release(spark)
  }
  test("spanCoverage: planted shared 8-gram marks exactly its positions in both docs") {
    // docs 100/200 share one 8-word passage at different offsets; doc 300
    // is all-unique filler; doc 400 is 7 tokens (too short for any gram)
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ")
    val fixture = Seq(
      (100L, s"aaa bbb $shared ccc"),
      (200L, s"$shared xxx yyy zzz"),
      (300L, (1 to 20).map(i => s"uniq$i").mkString(" ")),
      (400L, (1 to 7).map(i => s"short$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanCoverage(fixture)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 100: 11 tokens, grams at p∈[0,3]; only p=2 (the planted span) is
    // duplicated → 8 covered positions (2..9)
    assert(out(100L) === ((100L, 11L, 1L, 8L)))
    // doc 200: shared span at p=0 → positions 0..7
    assert(out(200L) === ((200L, 11L, 1L, 8L)))
    assert(out(300L) === ((300L, 20L, 0L, 0L)))
    assert(out(400L) === ((400L, 7L, 0L, 0L)))
  }

  test("spanCoverage: overlapping duplicated grams merge into one covered interval") {
    // two docs share a 9-word passage → two overlapping 8-grams; covered
    // positions must count the UNION (9), not 16
    val nine = (1 to 9).map(i => s"ov$i").mkString(" ")
    val fixture = Seq(
      (1L, s"$nine tail1 tail2"),
      (2L, s"lead1 lead2 $nine")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanCoverage(fixture)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 11L, 2L, 9L)))
    assert(out(2L) === ((2L, 11L, 2L, 9L)))
  }
  test("spanPairs: planted 12-token shared span emits one maximal pair row") {
    // docs 1/2 share a 12-token passage at offsets 2 and 0 → one maximal
    // diagonal run of 5 grams (12−8+1), span_tokens=12; docs 3/4 share
    // only 8 tokens (< MinSpanPairTokens) → filtered
    val span = (1 to 12).map(i => s"sp$i").mkString(" ")
    val eight = (1 to 8).map(i => s"e$i").mkString(" ")
    val fixture = Seq(
      (1L, s"f1 f2 $span g1"),
      (2L, s"$span h1 h2"),
      (3L, s"$eight k1 k2 k3 k4"),
      (4L, s"m1 $eight m2")).toDF("doc_id", "text")
    val got = TextAnalysis.spanPairs(fixture)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L, 0L, 12L)))
  }

  test("spanPairs: exact-duplicate documents collapse to one representative") {
    // doc 20 is a verbatim copy of doc 10 — replicas must never pair
    // (production order: span mining runs on the exact-deduped corpus);
    // the only emitted pair is rep(10) against near-dup 30
    val span = (1 to 12).map(i => s"rp$i").mkString(" ")
    val fixture = Seq(
      (10L, s"$span a b"),
      (20L, s"$span a b"),
      (30L, s"x y $span")).toDF("doc_id", "text")
    val got = TextAnalysis.spanPairs(fixture)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((10L, 30L, 0L, 2L, 12L)))
  }

  test("bpeMerges: lexicographic tie-break, chained merges, pair exhaustion") {
    // words: "abc" x2. Round 1 ties (a,b)=2 vs (b,c)=2 -> lexicographic
    // picks (a,b); round 2 must merge the NEW symbol: (ab,c)=2 — the
    // chained subword. Then no pairs remain: exactly 2 rows, not 8.
    val fixture = Seq((1L, "abc abc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(fixture)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "b", 2L), (2, "ab", "c", 2L)))
    // frequency weighting: "to" x3 outweighs "it" x2 even though both
    // pair types appear once per word
    val weighted = Seq((1L, "to to to it it")).toDF("doc_id", "text")
    val got2 = TextAnalysis.bpeMerges(weighted)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got2 === Seq((1, "t", "o", 3L), (2, "i", "t", 2L)))
  }
  test("bpeEncodeTokens applies a learned rule table to UNSEEN words in order") {
    // rules learned elsewhere: (a,b) then (ab,c). Encoding new words:
    //  "abcab" -> [abc, ab]   (rule 1 merges both ab's, rule 2 chains one)
    //  "bca"   -> [b, c, a]   (no ' a  b ' adjacency — rules don't fire)
    //  "abab"  -> [ab, ab]    (consecutive occurrences both merge)
    val words = Seq(("abcab", 2L), ("bca", 1L), ("abab", 1L)).toDF("w", "c")
    val got = TextAnalysis
      .bpeEncodeTokens(words, Seq(("a", "b"), ("ab", "c")))
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "abc" -> 2L, // one per "abcab" occurrence
      "ab" -> 4L,  // trailing ab x2 + both ab's of "abab"
      "b" -> 1L, "c" -> 1L, "a" -> 1L))
  }

  test("text_bm25: candidate pruning, ranking invariants, planted fixture") {
    import org.apache.spark.sql.functions._
    // doc 0 is the query source (first 6 tokens); doc 5 matches a term
    // subset densely; doc 6 shares nothing and must never be scored
    val fixture = Seq(
      (0L, "alpha beta gamma delta epsilon zeta trailing words beyond query"),
      (5L, "alpha alpha alpha beta beta gamma"),
      (6L, "unrelated vocabulary entirely disjoint from the probe terms"),
      (7L, "alpha mixed with unrelated filler filler filler filler filler"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(fixture)
      .select($"query_id", $"doc_id", $"bm25_micro", $"rn")
      .as[(Long, Long, Long, Long)].collect()
    val q0 = got.filter(_._1 == 0L)
    assert(q0.map(_._2).toSet === Set(0L, 5L, 7L),
      "only docs sharing a query term are scored; the disjoint doc is pruned")
    assert(q0.forall(_._3 > 0L), "rational-idf scores stay positive")
    // rn dense from 1, scores non-increasing in rank
    assert(q0.sortBy(_._4).map(_._4).toSeq === (1L to q0.length))
    assert(q0.sortBy(_._4).map(_._3).toSeq.reverse.sorted.reverse ===
      q0.sortBy(_._4).map(_._3).toSeq)
    // the single-term doc cannot outrank the all-terms source doc
    val rank = q0.map(t => t._2 -> t._4).toMap
    assert(rank(0L) < rank(7L), "six matching terms outrank one")
    // the postings probe broadcasts the query-term model: candidate
    // pruning happens in a broadcast join BEFORE any scoring
    val plan = TextAnalysis.bm25Rank(fixture)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("text_confusion: cells replay the shared decision function exactly") {
    import spark.implicits._
    val dir001 = sf("sf0.001")
    val preds = TextAnalysis.langidOn(
      graft.sources.Tables.load(spark, dir001, "documents"))
      .select($"lang", $"pred_lang").as[(String, String)].collect().toSeq
    val cells = preds.groupBy(identity).map { case ((l, p), xs) => (l, p, xs.size.toLong) }
    val totals = preds.groupBy(_._1).map { case (l, xs) => l -> xs.size.toLong }
    val expect = cells.toSeq.map { case (l, p, n) =>
      (l, p, n, n * 1000000L / totals(l), l == p)
    }.sortBy(r => (r._1, r._2))
    val got = TextAnalysis.langConfusion.run(spark, dir001)
      .as[(String, String, Long, Long, Boolean)].collect().toSeq
    assert(got === expect)
    // per declared class the cell shares account for the whole class
    got.groupBy(_._1).foreach { case (l, rows) =>
      val s = rows.map(_._4).sum
      assert(s > 1000000L - rows.size && s <= 1000000L, s"class $l shares: $s")
      assert(rows.map(_._3).sum === totals(l))
    }
  }

  test("text_chi2: exact contingency replay, zero-pinned degenerate margins") {
    import spark.implicits._
    val dir001 = sf("sf0.001")
    val docs = graft.sources.Tables.load(spark, dir001, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().toSeq
    val perDoc = docs.map { case (d, src, txt) =>
      (d, src, txt.split(" ", -1).distinct.toSeq)
    }
    val df = perDoc.flatMap(_._3).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val voc = df.toSeq.sortBy { case (w, c) => (-c, w) }.take(50)
    val nSrc = docs.groupBy(_._2).map { case (s0, ds) => s0 -> ds.size.toLong }
    val n = docs.size.toLong
    val aCount = perDoc.flatMap { case (_, src, ws) =>
      ws.filter(w => voc.exists(_._1 == w)).map(w => (w, src))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val expect = (for ((w, dfw) <- voc; (src, ns) <- nSrc.toSeq) yield {
      val a = aCount.getOrElse((w, src), 0L)
      val adBc = a * (n - ns - dfw + a) - (ns - a) * (dfw - a)
      val chi2 =
        if (dfw == n || ns == n) 0.0
        else n.toDouble * adBc.toDouble * adBc.toDouble /
          (dfw.toDouble * (n - dfw).toDouble * ns.toDouble * (n - ns).toDouble)
      (w, src, a, dfw, ns, chi2)
    }).sortBy { case (w, src, _, _, _, c) => (src, -c, w) }
    val got = TextAnalysis.chi2.run(spark, dir001)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got === expect)
    // the statistic is a χ²: non-negative and finite everywhere
    got.foreach { case (w, src, a, dfw, ns, c) =>
      assert(c >= 0.0 && !c.isNaN && !c.isInfinite, s"($w,$src)")
      assert(a <= dfw && a <= ns, s"($w,$src): a=$a df=$dfw n_src=$ns")
    }
  }
}
