package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Quality checks the DuckDB oracle can't express: LSH recall against the
  * exact brute-force baseline, and near-dup pipelines catching planted
  * duplicates.
  */
class DedupSimilaritySpec extends SparkSpec {

  import spark.implicits._

  private val dir = sf("sf0.001")

  test("ann_lsh finds its candidates inside the brute-force top-10 universe") {
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.annLsh.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"cos_sim")
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // every LSH hit that claims top-10-worthy similarity must be a real pair
    // from the same table (sanity: ids exist, no self-pairs)
    lsh.foreach { case (q, n, _) => assert(q != n) }
    // recall vs the exact top-10: the 16×6 multi-table layout alone measures
    // ~0.5 on this corpus; multi-probe (each probe also checks its 6
    // single-bit-flip neighbor buckets) lifts it to ~0.9. Floor at 0.8 so a
    // probing regression surfaces without flaking on corpus noise.
    val hits = lsh.count { case (q, n, _) => brute.contains((q, n)) }
    assert(hits >= 40, s"LSH recall ${hits}/50 below 0.8 floor")
  }

  test("ann_ivf probes recover brute-force neighbors") {
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n) => assert(q != n) }
    // measured ~0.9 mean recall with K=16/NProbe=4; assert a generous floor
    val hits = ivf.count(brute.contains)
    assert(hits >= 25, s"IVF recall ${hits}/50 below floor")
  }

  test("ann_sq8: quantized shortlist rescore recovers the exact top-10") {
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.annSq8.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(sq8.length == 50) // 5 probes × top-10
    sq8.foreach { case (q, n) => assert(q != n) }
    // 255-level scalar codes keep per-dim reconstruction error below
    // range/255 (~0.4%), so the exact rescore of the 50-wide shortlist
    // recovers essentially the whole exact top-10; floor at 0.9 so a
    // coding or shortlist regression surfaces without corpus-noise flakes
    val hits = sq8.count(brute.contains)
    assert(hits >= 45, s"SQ8 recall ${hits}/50 below 0.9 floor")
  }

  test("minhash LSH surfaces planted near-duplicates as candidate pairs") {
    // exact copies AND a lightly-edited copy (one appended word): high
    // shingle overlap → identical minhashes in ≥1 band → candidate pair
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val copies = docs.filter($"doc_id" < 3).withColumn("doc_id", $"doc_id" + 1000000L)
    val edited = docs.filter($"doc_id" === 0)
      .withColumn("doc_id", lit(2000000L))
      .withColumn("text", concat($"text", lit(" tailword")))
    val pairs = Dedup.minhashCandidates(docs.unionByName(copies).unionByName(edited))
      .as[(Long, Long)].collect().toSet
    (0L until 3L).foreach { i =>
      assert(pairs.contains((i, i + 1000000L)),
        s"exact copy of doc $i not found; sample=${pairs.take(5)}")
    }
    assert(pairs.contains((0L, 2000000L)),
      s"edited near-dup not found; sample=${pairs.take(10)}")
  }

  test("dedup_exact keeps the minimum doc_id per duplicate group") {
    val out = Dedup.exact.run(spark, dir)
    val keep = out.agg(min($"keep_id")).as[Long].head()
    assert(keep >= 0)
    // n_copies sums back to the corpus size
    val total = out.agg(sum($"n_copies")).as[Long].head()
    assert(total === graft.sources.Tables.load(spark, dir, "documents").count())
  }

  test("connectedComponents collapses chains and keeps separate clusters apart") {
    // 1-2-3-4-5-6 is a 6-vertex CHAIN (diameter 5): min-label propagation
    // needs multiple rounds to flood label 1 to vertex 6 — exercises the
    // iteration, not just one hop. 10-11 is a separate component.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    (1L to 6L).foreach(v => assert(labels(v) === 1L, s"vertex $v"))
    assert(labels(10L) === 10L && labels(11L) === 10L)
  }

  test("connectedComponents fails loudly when maxRounds is too small, not silently wrong") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
      .toDF("id1", "id2")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxRounds = 1)
    }
    // with pointer jumping, an 8-vertex chain needs only ~log2(7) rounds
    val labels = Dedup.connectedComponents(chain, maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    (1L to 8L).foreach(v => assert(labels(v) === 1L, s"vertex $v"))
  }

  test("dedup_clusters groups planted near-dups and leaves the rest singleton-consistent") {
    val base = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    // copy of doc 0 plus a lightly-edited copy: both must land in doc 0's
    // cluster through the minhash-candidate graph
    val copies = base.filter($"doc_id" === 0)
      .withColumn("doc_id", lit(1000000L))
      .unionByName(base.filter($"doc_id" === 0)
        .withColumn("doc_id", lit(2000000L))
        .withColumn("text", concat($"text", lit(" tailword"))))
    val comp = Dedup.connectedComponents(
      Dedup.minhashCandidates(base.unionByName(copies)))
      .as[(Long, Long)].collect().toMap
    assert(comp(1000000L) === comp.getOrElse(0L, 0L))
    assert(comp(2000000L) === comp.getOrElse(0L, 0L))
    // the registered query covers every document exactly once, and every
    // cluster id is a member of its own cluster (a valid canonical choice)
    val out = Dedup.clusters.run(spark, dir)
      .select($"doc_id", $"cluster_id", $"cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(out.length === base.count())
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.exists(_._1 === cid), s"cluster $cid lost its canonical doc")
      members.foreach { case (_, _, size) => assert(size === members.length) }
    }
  }

  test("dedup_keep canonicals partition the corpus: represents sums to corpus size") {
    val kept = Dedup.keepCanonical.run(spark, dir)
      .as[(Long, Long)].collect()
    val corpus = graft.sources.Tables.load(spark, dir, "documents").count()
    assert(kept.map(_._2).sum === corpus,
      "every document must be represented by exactly one canonical")
    assert(kept.length <= corpus)
  }

  test("simhash signatures are identical for identical texts, differ across corpus") {
    val sig = Dedup.simhash.run(spark, dir).select($"doc_id", $"simhash")
    val distinct = sig.select($"simhash").distinct().count()
    assert(distinct > 1, "simhash collapsed the whole corpus to one signature")
  }

  test("dedup_simhash plan: 15 subset windows ride exactly four band exchanges") {
    val plan = Dedup.simhash.run(spark, dir).queryExecution.executedPlan.toString
    // signature build is map-side (no explode anywhere) and the
    // inclusion-exclusion windows, ordered by lowest set bit, must reuse
    // each band's hash exchange for every superset window — 4 hash
    // exchanges for 15 counts, plus only the presentation range exchange
    assert(!plan.contains("Generate"), s"band explode is back:\n$plan")
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash === 4, s"expected 4 band exchanges, got $nHash:\n$plan")
  }

  test("kmeans_train produces a full model that Lloyd's actually trained") {
    val model = Similarity.kmeansTrain.run(spark, dir)
      .select($"cid", $"dim", $"c", $"n")
      .as[(Long, Long, Long, Long)].collect()
    val corpus = graft.sources.Tables.load(spark, dir, "embeddings").count()
    // complete K×Dims matrix, one size per centroid
    assert(model.length === 16 * graft.functions.LshPlanes.Dims)
    assert(model.map(t => (t._1, t._2)).distinct.length === model.length)
    // final assignment partitions the corpus
    val sizes = model.groupBy(_._1).view.mapValues(_.head._4)
    assert(sizes.values.sum === corpus)
    // training moved at least one centroid off its vec_id<16 seed — a model
    // identical to the seeds means the update loop never ran
    val seeds = graft.sources.Tables.load(spark, dir, "embeddings")
      .filter($"vec_id" < 16).orderBy($"vec_id")
      .select(Similarity.quantize($"embedding")).as[Seq[Long]].collect()
    val trained = model.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq)
    val moved = (0 until 16).count(k => trained(k) != seeds(k))
    assert(moved > 0, "no centroid moved: Lloyd's update had no effect")
  }

  test("embed_project is an exact sign-projection with the JL similarity property") {
    import graft.functions.RpPlanes
    val out = Similarity.embedProject.run(spark, dir)
      .select($"vec_id", $"dim", $"v").as[(Long, Long, Long)].collect()
    val qvs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Similarity.quantize($"embedding"))
      .as[(Long, Seq[Long])].collect().toMap
    // independent replay straight from RpPlanes.signs
    assert(out.length === qvs.size * RpPlanes.ProjDims)
    out.foreach { case (id, j, v) =>
      val qv = qvs(id)
      val expect = qv.indices.map(i => qv(i) * RpPlanes.signs(j.toInt * RpPlanes.Dims + i)).sum
      assert(v === expect, s"vec $id dim $j")
    }
    // JL property: E[‖Px‖²] = k·‖x‖² and the ±1 estimator concentrates, so
    // the mean relative error of ‖Px‖²/k vs ‖x‖² over the corpus must sit
    // in the ~1/√k regime, nowhere near a structure-losing 100% (dot
    // products of near-orthogonal PAIRS have unbounded relative error by
    // nature — norms are the well-conditioned witness of the same
    // isometry)
    val proj = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val errs = qvs.toSeq.map { case (id, qv) =>
      val truth = qv.map(x => x * x).sum.toDouble
      val est = proj(id).map(p => p * p).sum.toDouble / RpPlanes.ProjDims
      math.abs(est - truth) / truth
    }
    val meanErr = errs.sum / errs.size
    assert(meanErr < 0.6, f"mean JL norm error $meanErr%.2f — projection lost similarity structure")
    // scale shape: projection itself is map-side; the only exchange in the
    // plan is the presentation sort
    val plan = Similarity.embedProject.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
  }

  test("fuzzy_join agrees with a scalar Levenshtein replay of the blocked pairs") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val parts = graft.sources.Tables.load(spark, sf("sf0.001"), "part")
      .select($"p_partkey", $"p_brand", $"p_name")
      .as[(Long, String, String)].collect()
    val expect = parts.groupBy(_._2).toSeq.flatMap { case (brand, ps) =>
      val pairs = for {
        (k1, _, n1) <- ps; (k2, _, n2) <- ps
        if k1 < k2 && math.abs(n1.length - n2.length) <= 3
        d = lev(n1, n2) if d <= 3
      } yield d
      if (pairs.isEmpty) None
      else Some((brand, pairs.size.toLong,
        pairs.count(_ == 0).toLong, pairs.map(_.toLong).sum))
    }.sortBy(_._1)
    val got = Dedup.fuzzyJoin.run(spark, sf("sf0.001"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.exists(_._3 > 0), "tiny name vocabulary must produce exact dupes")
  }

  test("dedup_agreement: planted dual-modality duplicates land in n_both") {
    // one document duplicated in BOTH spaces under aligned ids: the text
    // copy collides in every MinHash band, the identical vector has
    // cosine 1.0 — the pair must surface from both pipelines
    val baseDocs = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text")
    val dupDocs = baseDocs.unionByName(
      baseDocs.filter($"doc_id" === 0).withColumn("doc_id", lit(9000000L)))
    val baseEmb = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val dupEmb = baseEmb.unionByName(
      baseEmb.filter($"vec_id" === 0).withColumn("vec_id", lit(9000000L)))

    val textPairs = Dedup
      .minhashCandidatesFromSig(Dedup.minhashSignatures(dupDocs))
      .as[(Long, Long)].collect().toSet
    val embPairs = Dedup
      .embedNearPairs(Similarity.hyperplaneSignatures(spark, dupEmb))
      .as[(Long, Long)].collect().toSet
    assert(textPairs.contains((0L, 9000000L)), "text dup must band-collide")
    assert(embPairs.contains((0L, 9000000L)), "identical vector must pass cosine")
    assert((textPairs intersect embPairs).nonEmpty)
  }

  test("dedup_agreement totals reconcile with the two pair pipelines") {
    val nText = Dedup.minhashCandidatesFromSig(Dedup.minhashSignatures(
      graft.sources.Tables.load(spark, dir, "documents"))).count()
    val nEmb = Dedup.embedNearPairs(Similarity.hyperplaneSignatures(spark,
      graft.sources.Tables.load(spark, dir, "embeddings"))).count()
    val Seq((both, textOnly, embedOnly, ppm)) = Dedup.agreement.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(both + textOnly === nText)
    assert(both + embedOnly === nEmb)
    val union = both + textOnly + embedOnly
    assert(ppm === (if (union == 0) 0L else both * 1000000L / union))
  }

  test("embed_class_stats matches a scalar centroid/cohesion replay") {
    val raw = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"label".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
    val byLabel = raw.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expect = byLabel.toSeq.sortBy(_._1).flatMap { case (label, vecs) =>
      // Spark round() is HALF_UP away from zero (Math.round is toward
      // +inf for negatives) — replay with BigDecimal to match exactly
      val q = vecs.map(_.map(x => BigDecimal(x.toDouble * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
      val n = q.length.toLong
      val cent = q.head.indices.map { d =>
        Math.floorDiv(q.map(_(d)).sum, n)
      }
      val cnorm2 = cent.map(c => c * c).sum
      val coh = q.map(v => v.indices.map(i => v(i) * cent(i)).sum).sum
      cent.zipWithIndex.map { case (c, d) =>
        (label, d.toLong, c, n, cnorm2, coh)
      }
    }
    val got = Similarity.classStats.run(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(got.size === byLabel.size * 64)
    // cohesion must be positive: members correlate with their own centroid
    assert(got.forall(_._6 > 0L))
  }

  test("ann_pq: codes are valid, ADC replays scalar-side, recall clears its floor") {
    import graft.functions.PqMath
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val out = Similarity.annPq.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"adist", $"rn")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 50) // 5 queries × top-10
    out.foreach { case (q, n, d, _) => assert(q != n && d >= 0L) }
    // recall vs the exact brute-force top-10: PQ quantizes distances (8
    // subspaces × 16 codewords is a coarse code), so its recall sits below
    // LSH/IVF by construction — the floor asserts the compressed index
    // still finds a meaningful share of true neighbors, not noise
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val hits = out.count { case (q, n, _, _) => brute.contains((q, n)) }
    assert(hits >= 15, s"PQ recall ${hits}/50 below floor")
    // scalar replay of the PQ kernels on a constructed codebook: encode
    // picks the L2-nearest codeword per subspace, dtab holds exact L2s,
    // and adc is the Σ_m table-lookup — all with plain Scala longs
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val cb = new GenericArrayData(Array.tabulate(2)(m =>
      new GenericArrayData(Array.tabulate(3)(c =>
        new GenericArrayData(Array.tabulate(2)(j => (m * 10 + c * 2 + j).toLong))))))
    val v = new GenericArrayData(Array(1L, 2L, 13L, 14L))
    val codes = PqMath.codes(v, cb)
    assert(codes.toIntArray().toSeq === Seq(0, 1)) // nearest codewords
    val dt = PqMath.dtab(v, cb)
    val exp = (0 until 2).map { m =>
      val sub = Seq(v.getLong(m * 2), v.getLong(m * 2 + 1))
      (0 until 3).map(c => l2(sub,
        Seq(cb.getArray(m).getArray(c).getLong(0),
          cb.getArray(m).getArray(c).getLong(1)))).min
    }.sum
    assert(PqMath.adc(codes, dt) === exp)
  }

  test("dedup_incr_index: delta-only signing, pushed half filters, band accounting") {
    // pin the INLINE path: another test (or a bench run in this JVM) may
    // have obtained the persisted base index, which changes the plan shape
    graft.FixtureStore.dropMemo("dedupbase", dir)
    val out = Dedup.incrIndex.run(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // no full-corpus re-signature: every documents scan carries a doc_id
    // half filter pushed into parquet — one base (<mid), one delta (>=mid),
    // and no third unfiltered signature pass
    assert("LessThan\\(doc_id".r.findAllIn(plan).nonEmpty, plan)
    assert("GreaterThanOrEqual\\(doc_id".r.findAllIn(plan).nonEmpty, plan)
    // every documents SCAN (cached-frame repetitions included) must carry
    // a half filter — an unfiltered line would be a third signature pass
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents")).toSeq
    assert(scanLines.nonEmpty, plan)
    scanLines.foreach { l =>
      assert(l.contains("LessThan(doc_id") ||
        l.contains("GreaterThanOrEqual(doc_id"),
        s"documents scan without a half filter: $l")
    }
    // band accounting: 4 bands, every entry attributed to exactly one half
    val rows = out.as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    val corpus = graft.sources.Tables.load(spark, dir, "documents").count()
    rows.foreach { case (_, nBase, nDelta, nBuckets, _) =>
      assert(nBase + nDelta === corpus, "one entry per doc per band")
      assert(nBuckets <= nBase + nDelta && nBuckets > 0)
    }
  }

  test("dedup_incr_index fixture: served base index ≡ inline rebuild, delta-only documents scan") {
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq.map(String.valueOf))
        .sortBy(_.mkString(" "))
    // 1. inline result first (no fixture memo in this order of operations)
    graft.FixtureStore.dropMemo("dedupbase", dir)
    val inline = sorted(Dedup.incrIndex.run(spark, dir))
    // 2. obtain the persisted base index, re-run — values must be
    //    identical (the merge theorem served from storage)
    val root = Dedup.baseIndexWrite(spark, dir)
    assert(graft.FixtureStore.peek("dedupbase", dir).nonEmpty)
    // the serve path reads the stored tables under declared schemas
    def fields(st: org.apache.spark.sql.types.StructType) = st.map(f => f.name -> f.dataType)
    assert(fields(spark.read.parquet(s"$root/baseidx").schema) === fields(Dedup.BaseIdxSchema))
    assert(fields(spark.read.parquet(s"$root/meta").schema) === fields(Dedup.BaseMetaSchema))
    val served = Dedup.incrIndex.run(spark, dir)
    assert(sorted(served) === inline,
      "fixture-served incr index diverges from the inline rebuild")
    // 3. the served plan signs ONLY the delta: every documents scan
    //    carries the pushed >=mid filter and NONE carries <mid (the base
    //    half comes from the stored index, not a re-signature)
    val plan = served.queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents.parquet"))
      .toSeq
    assert(scanLines.nonEmpty, plan)
    scanLines.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id"),
        s"documents scan without the delta-half filter: $l")
      assert(!l.contains("LessThan(doc_id"),
        s"base half re-signed despite the persisted index: $l")
    }
    // and the base entries come from the stored table (the location
    // string truncates at 100 chars, so match the fixture family dir
    // rather than the /baseidx leaf)
    assert(plan.contains("graft_fx/dedupbase"), plan)
    graft.Scratch.release(spark)
  }

  test("ann_ivfpq: residual codes score only probed cells, recall clears its floor") {
    val out = Similarity.annIvfPq.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"adist", $"rn")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 50) // 5 queries × top-10
    out.foreach { case (q, n, d, _) => assert(q != n && d >= 0L) }
    // the composed index must at least match plain PQ's floor while
    // scoring only NProbe/K of the corpus (measured 0.46 at sf0.001 with
    // the TRAINED coarse quantizer; raw seed centroids measured 0.36 —
    // and the zero-residual seed degeneracy this spec exists to catch
    // measured 0.10)
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val hits = out.count { case (q, n, _, _) => brute.contains((q, n)) }
    assert(hits >= 15, s"IVFPQ recall ${hits}/50 below floor")
    // the oracle pins the kmeans chain at 2 iterations literally (object
    // init order); the Spark side trains KmIters — they must agree
    assert(Similarity.annIvfPq.oracle.get.contains("kc2"), "oracle kc chain")
    assert(!Similarity.annIvfPq.oracle.get.contains("kc3 AS"), "oracle kc chain")
  }

  test("ann_ivfpq plan: candidates prune on the cell id BEFORE any ADC work") {
    val plan = Similarity.annIvfPq.run(spark, dir)
      .queryExecution.executedPlan.toString
    // the probe table broadcasts and the cell-id join prunes candidates
    // before scoring: corpus-side assignment/residual/encode stay
    // map-side, so the only (hash|range) exchanges are the per-query
    // window and the presentation sort
    assert("Exchange (hash|range)partitioning".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("pq_adc"), plan)
    assert(!plan.toLowerCase.contains("sortmergejoin"), plan)
  }

  test("ann_pq plan: encode and scoring are map-side; only top-k exchanges") {
    val plan = Similarity.annPq.run(spark, dir)
      .queryExecution.executedPlan.toString
    // one shuffle for the per-query window, one for the presentation sort
    // (the query table's BroadcastExchange is free); the corpus-side
    // encode/ADC pass must not shuffle or re-aggregate, and the top-k must
    // be pre-pruned map-side before the window exchange
    assert("Exchange (hash|range)partitioning".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("pq_adc"), plan)
    assert(!plan.toLowerCase.contains("sortmergejoin"), plan)
  }

  test("dedup_bucket_stats accounts every doc per band and caps correctly") {
    val nDocs = graft.sources.Tables.load(spark, dir, "documents").count()
    val got = Dedup.bucketStats.run(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // every band must be present — a dropped band would make the per-band
    // accounting below vacuously pass for it
    assert(got.map(_._1).toSet === Set(0L, 1L, 2L, 3L))
    // per band, Σ bucket_size · n_buckets = corpus size (each doc lands in
    // exactly one bucket per band)
    got.groupBy(_._1).foreach { case (band, rows) =>
      assert(rows.map(r => r._2 * r._3).sum === nDocs, s"band $band")
    }
    // pair_cost is exactly n_buckets · C(size, 2); capped iff past the cap
    got.foreach { case (_, size, n, cost, capped) =>
      assert(cost === n * (size * (size - 1) / 2))
      assert(capped === (if (size > Dedup.MaxBandBucket) 1L else 0L))
    }
  }
  test("dedup_containment flags a quoted substring that Jaccard misses") {
    // doc 2 is a 10-token verbatim quote from the middle of 60-token doc 1:
    // every 3-shingle of doc 2 occurs in doc 1 -> containment(2->1) = 1.0,
    // while Jaccard is ~10/60 and the reverse direction is far below 0.5
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (20 to 29).map(i => s"w$i").mkString(" ")
    val fixture = Seq((1L, big), (2L, quote), (3L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fixture)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((2L, 1L, 8L, 1.0)),
      s"expected exactly the short->long direction: $got")
  }
  test("embed_gram replays scalar-side and keeps the corpus un-shuffled") {
    val got = Similarity.embedGram.run(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val qvs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select(Similarity.quantize($"embedding")).as[Seq[Long]].collect()
    assert(got.size === 64 * 65 / 2)
    // spot-replay a diagonal and two off-diagonal cells exactly
    def cell(i: Int, j: Int): Long = qvs.map(q => q(i) * q(j)).sum
    assert(got((0L, 0L)) === cell(0, 0))
    assert(got((3L, 17L)) === cell(3, 17))
    assert(got((62L, 63L)) === cell(62, 63))
    // scale shape: the corpus folds into per-partition partials — the only
    // exchanges are the single-partition partial combine and the
    // presentation sort; no corpus-sized shuffle
    val plan = Similarity.embedGram.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange (hash|range)partitioning".r.findAllIn(plan).size <= 1, plan)
  }

  test("dedup_semantic: keep rule, live verdict, and cluster invariants") {
    val out = Similarity.dedupSemantic.run(spark, dir)
      .select($"vec_id", $"cid", $"csim", $"n_near", $"kept")
      .as[(Long, Long, Double, Long, Boolean)].collect()
    assert(out.length === 500)
    val dropped = out.filter(!_._5)
    assert(dropped.nonEmpty, "verdict must be live on the shipped corpus")
    // a dropped doc always has a near neighbor; an isolated doc is kept
    dropped.foreach { case (v, _, _, nn, _) => assert(nn >= 1, s"vec $v dropped with n_near 0") }
    out.filter(_._4 == 0).foreach { case (v, _, _, _, kept) => assert(kept, s"isolated vec $v dropped") }
    // per cluster, the member with minimal (csim, vec_id) can never be
    // dominated — the keep rule's anchor
    out.groupBy(_._2).foreach { case (_, members) =>
      val anchor = members.minBy(m => (m._3, m._1))
      assert(anchor._5, s"cluster anchor ${anchor._1} was dropped")
    }
    graft.Scratch.release(spark)
  }

  test("dedup_semantic: an exact planted copy is dropped, the original kept") {
    val base = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"))
      .withColumn("nrm", Similarity.dotQ($"qv", $"qv"))
    // plant an exact copy of vec 7 under a fresh high id: same qv -> same
    // cell, cosine 1.0, equal csim -> tie breaks to the smaller vec_id
    val copy = base.filter($"vec_id" === 7L)
      .select(lit(9999L).as("vec_id"), $"qv", $"nrm")
    val out = Similarity.semanticVerdict(spark, base.unionByName(copy))
      .select($"vec_id", $"n_near", $"kept").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(9999L)._1 >= 1L, "copy must see its original as a neighbor")
    assert(!out(9999L)._2, "the higher-id exact copy must be dropped")
    assert(out(7L)._2, "the original must be kept")
    graft.Scratch.release(spark)
  }

  test("dedup_semantic: a planted mega-cluster is sub-split, pair volume stays bounded") {
    // an all-near-identical corpus: every vector identical -> k-means
    // collapses all 1200 docs into ONE cell, the degenerate skew the
    // SemCellCap sub-split exists for (uncapped, the cid self-join would
    // put all C(1200,2) pairs on a single key and every doc would see
    // n_near = 1199)
    val dims = graft.functions.LshPlanes.Dims
    val qv: Seq[Long] = Seq.fill(dims)(100L)
    val nrm = dims * 100L * 100L
    val base = (0L until 1200L).map(i => (i, qv, nrm))
      .toDF("vec_id", "qv", "nrm")
    val out = Similarity.semanticVerdict(spark, base)
      .select($"vec_id", $"cid", $"n_near", $"kept")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.length === 1200)
    assert(out.map(_._2).distinct.length === 1, "fixture must form one cell")
    // bounded pair volume: every doc's neighbor count is capped by its
    // sub-group size (ceil(1200/1000) = 2 subs of ~600), never the cell
    val maxNear = out.map(_._3).max
    assert(maxNear < 1000, s"sub-split must bound n_near, saw $maxNear")
    assert(maxNear > 0, "dedup must still be live inside the mega-cluster")
    // identical vectors tie on csim -> exactly the min-vec_id anchor of
    // each sub-group survives: m = 2 kept, 1198 dropped
    val kept = out.filter(_._4).map(_._1).sorted
    assert(kept.toSeq === Seq(0L, 1L), s"expected the two sub-group anchors, got ${kept.toSeq}")
    graft.Scratch.release(spark)
  }

  test("dedup_semantic: K is measured from the corpus and assignment is map-side") {
    // knob-free growth: cells stay ~250 at any corpus size
    assert(Similarity.semK(500) === 4)
    assert(Similarity.semK(2000) === 8)
    assert(Similarity.semK(50000) === 200)
    assert(Similarity.semK(500000) === 2000)
    // the assignment frame is one codegen projection over the base: the
    // trained matrix rides as a plan literal, zero exchanges
    val base = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"))
      .withColumn("nrm", Similarity.dotQ($"qv", $"qv"))
    val plan = Similarity.semanticAssign(spark, base)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    graft.Scratch.release(spark)
  }

  test("ann_index_persist: the stored index serves the rebuild's exact answer, partition-pruned") {
    // the serve path reads the stored tables under declared schemas
    val root = Similarity.ivfPqIndexWrite(spark, dir)
    def fields(st: org.apache.spark.sql.types.StructType) = st.map(f => f.name -> f.dataType)
    for ((t, schema) <- Seq("centroids" -> Similarity.CentroidsSchema,
        "codebooks" -> Similarity.CodebooksSchema, "postings" -> Similarity.PostingsSchema))
      assert(fields(spark.read.parquet(s"$root/$t").schema) === fields(schema), t)
    val served = Similarity.annIndexPersist.run(spark, dir)
    val fromDisk = served
      .select($"query_id", $"neighbor_id", $"adist", $"rn")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val rebuilt = Similarity.annIvfPq.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"adist", $"rn")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(fromDisk === rebuilt, "query-from-disk must equal query-from-rebuild")
    assert(fromDisk.nonEmpty)
    // the cell-id candidate prune must reach the postings SCAN as dynamic
    // partition pruning — the stored layout's whole point: a probe reads
    // its NProbe cell directories, never the full postings
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"postings scan must be partition-pruned on cid:\n$plan")
    graft.Scratch.release(spark)
  }

  test("ann_incr_index: delta-assign under the frozen quantizer equals the one-shot rebuild") {
    graft.functions.IvfExpressions.register(spark)
    val base = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"))
    val Array(lo, hi) = base
      .agg(min($"vec_id"), max($"vec_id")).as[(Long, Long)].collect()
      .flatMap(t => Array(t._1, t._2))
    val mid = Math.floorDiv(lo + hi, 2L)
    val cents = Similarity.trainCoarse(spark, base.filter($"vec_id" < mid), 16)
    def assign(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("sims", call_function("centroid_sims", $"qv", typedLit(cents)))
      .select($"vec_id",
        (array_position($"sims", array_max($"sims")) - 1).as("cid"))
    val oneShot = assign(base).as[(Long, Long)].collect().toSet
    val merged = assign(base.filter($"vec_id" < mid))
      .unionByName(assign(base.filter($"vec_id" >= mid)))
      .as[(Long, Long)].collect().toSet
    assert(merged === oneShot)
    assert(merged.nonEmpty)
    // the delta branch is one map-side codegen projection: the frozen
    // matrix rides as a plan literal, zero exchanges
    val plan = assign(base.filter($"vec_id" >= mid))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"delta assignment must not shuffle:\n$plan")
  }

  test("ann_refine: exact rescore of the ADC shortlist, recall dominates ivfpq") {
    val refine = Similarity.annRefine.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"cos_sim", $"rn")
      .as[(Long, Long, Double, Long)].collect()
    assert(refine.length === 50) // 5 queries × top-10
    refine.foreach { case (q, n, _, _) => assert(q != n) }
    // the reported similarity is the EXACT quantized cosine, not ADC: every
    // returned pair must bit-match the scalar replay from the raw vectors
    val qv = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"))
      .as[(Long, Seq[Long])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (qv(a), qv(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val (na, nb) = (va.map(x => x * x).sum, vb.map(x => x * x).sum)
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    refine.foreach { case (q, n, c, _) =>
      assert(c === cos(q, n), s"($q,$n) not the exact cosine")
    }
    // per query the ranking is by exact similarity (desc, neighbor tiebreak)
    refine.groupBy(_._1).foreach { case (q, rows) =>
      val byRn = rows.sortBy(_._4).map(r => (r._3, r._2))
      assert(byRn === byRn.sortBy { case (c, n) => (-c, n) }, s"query $q misordered")
    }
    // refinement cannot lose recall: ivfpq's top-10 is the head of the
    // same 40-wide ADC shortlist refine rescored exactly, and any true
    // top-10 member among the candidates outranks every non-member under
    // the exact cosine — so refine's hits dominate (measured 41/50 vs
    // ivfpq's ~23/50 at sf0.001); floor at 0.6 against corpus noise
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val refineHits = refine.count { case (q, n, _, _) => brute((q, n)) }
    val ivfpqHits = Similarity.annIvfPq.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .count(brute.contains)
    assert(refineHits >= ivfpqHits,
      s"refine $refineHits/50 lost recall vs ivfpq $ivfpqHits/50")
    assert(refineHits >= 30, s"refine recall $refineHits/50 below 0.6 floor")
    graft.Scratch.release(spark)
  }

  test("embed_drift: scalar centroid replay with truncating-division means") {
    val rows = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label", Similarity.quantize($"embedding").as("qv"))
      .as[(Long, Int, Seq[Long])].collect().toSeq
    val dims = rows.head._3.size
    val expect = rows.groupBy(_._2).toSeq.flatMap { case (lbl, vs) =>
      val (a, b) = vs.partition(v => Math.floorMod(v._1, 2L) == 0L)
      if (a.isEmpty || b.isEmpty) None
      else {
        // Scala / = truncating integer division, the semantics Spark `div`
        // and DuckDB `//` share on signed operands
        val drift = (0 until dims).map { d =>
          val ma = a.map(_._3(d)).sum * 1000 / a.size
          val mb = b.map(_._3(d)).sum * 1000 / b.size
          (ma - mb) * (ma - mb)
        }.sum
        Some((lbl, a.size.toLong, b.size.toLong, drift))
      }
    }.sortBy(_._1)
    val got = Similarity.embedDrift.run(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // both cohorts populated for every reported label, drift non-negative
    got.foreach { case (l, na, nb, dr) =>
      assert(na > 0 && nb > 0 && dr >= 0, s"label $l")
    }
    graft.Scratch.release(spark)
  }

  test("embed_winsor: scalar per-dim order-statistics replay") {
    val vecs = graft.sources.Tables.load(spark, dir, "embeddings")
      .select(Similarity.quantize($"embedding")).as[Seq[Long]].collect().toSeq
    val dims = vecs.head.size
    val n = vecs.size.toLong
    val expect = (0 until dims).map { d =>
      val xs = vecs.map(_(d)).sorted
      val lo = xs(((n - 1) / 100 + 1).toInt - 1)
      val hi = xs((((n - 1) * 99) / 100 + 1).toInt - 1)
      (d.toLong, n, lo, hi,
        xs.count(_ < lo).toLong, xs.count(_ > hi).toLong)
    }
    val got = Similarity.embedWinsor.run(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // clip counts honor the percentile contract: at most 1% below, 1% above
    got.foreach { case (d, nn, lo, hi, cl, ch) =>
      assert(lo <= hi, s"dim $d: lo > hi")
      assert(cl <= nn / 100 && ch <= nn / 100, s"dim $d clips too much: $cl/$ch")
    }
    graft.Scratch.release(spark)
  }

  test("embed_pairs_mine: positives share the label, hard negatives are the nearest impostor") {
    val labels = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val ranked = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"rn")
      .as[(Long, Long, Long)].collect().toSeq
    val expect = ranked.groupBy(_._1).toSeq.map { case (q, rows) =>
      val (same, diff) = rows.sortBy(_._3).partition(r => labels(r._2) == labels(q))
      (q,
        same.headOption.map(_._2), same.headOption.map(_._3),
        diff.headOption.map(_._2), diff.headOption.map(_._3))
    }.sortBy(_._1)
    val got = Similarity.embedPairsMine.run(spark, dir)
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got === expect)
    got.foreach { case (q, pos, _, neg, _) =>
      pos.foreach(p => assert(labels(p) === labels(q), s"probe $q positive label"))
      neg.foreach(n => assert(labels(n) !== labels(q), s"probe $q negative label"))
    }
    graft.Scratch.release(spark)
  }

  test("sample_prune_proto: each cluster prunes exactly its most-prototypical quarter") {
    val out = Similarity.sampleProto.run(spark, dir)
      .select($"vec_id", $"cid", $"rn", $"n_c", $"kept")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(out.length === 500)
    out.groupBy(_._2).foreach { case (cid, members) =>
      val n = members.head._4
      assert(members.length === n)
      val pruned = members.filter(!_._5)
      // kept iff 4*rank > n: exactly floor(n/4) pruned, and they are the
      // LOWEST ranks (most prototypical = closest to the centroid)
      assert(pruned.length === n / 4, s"cluster $cid pruned ${pruned.length}")
      assert(pruned.map(_._3).toSet === (1L to n / 4).toSet,
        s"cluster $cid pruned wrong ranks")
    }
    graft.Scratch.release(spark)
  }

  test("ann_mrr: scalar first-hit replay and full-recall implies rank 1") {
    import org.apache.spark.sql.functions._
    val brute = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val methods = Map(
      "lsh" -> Similarity.annLsh, "ivf" -> Similarity.annIvf,
      "pq" -> Similarity.annPq, "ivfpq" -> Similarity.annIvfPq,
      "sq8" -> Similarity.annSq8)
    val got = Similarity.annMrr.run(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map { case (m, q, fh, mrr) => (m, q) -> (fh, mrr) }.toMap
    assert(got.size === 25, "5 methods x 5 queries")
    methods.foreach { case (name, op) =>
      val ranked = op.run(spark, dir)
        .select($"query_id", $"neighbor_id", $"rn")
        .as[(Long, Long, Long)].collect()
      ranked.groupBy(_._1).foreach { case (q, rows) =>
        val hits = rows.filter(r => brute((q, r._2))).map(_._3)
        val fh = if (hits.isEmpty) 0L else hits.min
        val mrr = if (fh == 0L) 0L else 1000000L / fh
        assert(got((name, q)) === ((fh, mrr)), s"$name query $q")
        // a method that recovered ALL ten true neighbors into its own
        // ten-slot list necessarily leads with one of them
        if (hits.length == 10) assert(fh === 1L, s"$name query $q full recall")
      }
    }
    graft.Scratch.release(spark)
  }

  test("retrieval_rrf: scalar fusion replay of the two source rankers") {
    import org.apache.spark.sql.functions._
    // collect both source rankings, fuse them scalar-side, and demand the
    // engine's fused list bit-matches — an oracle-independent replay of
    // RRF itself, with the source rankers trusted to their own specs
    val bm = TextAnalysis.bm25Rank(
      graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")), excludeSelf = true)
      .select($"query_id", $"doc_id", $"rn").as[(Long, Long, Long)]
      .collect().map { case (q, d, r) => (q, d) -> r }.toMap
    val dn = Similarity.knnBrute.run(spark, dir)
      .select($"query_id", $"neighbor_id", $"rn").as[(Long, Long, Long)]
      .collect().map { case (q, d, r) => (q, d) -> r }.toMap
    val expect = (bm.keySet ++ dn.keySet).groupBy(_._1).toSeq.flatMap {
      case (q, keys) =>
        keys.toSeq.map { k =>
          val (rb, rd) = (bm.getOrElse(k, 0L), dn.getOrElse(k, 0L))
          val s = (if (rb > 0) 1000000000L / (60 + rb) else 0L) +
            (if (rd > 0) 1000000000L / (60 + rd) else 0L)
          (q, k._2, s, rb, rd)
        }.sortBy { case (_, d, s, _, _) => (-s, d) }
          .zipWithIndex.take(10)
          .map { case ((_, d, s, rb, rd), i) => (q, d, s, rb, rd, i + 1L) }
    }.sortBy(r => (r._1, r._6))

    val got = Similarity.retrievalRrf.run(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expect)
    // the fusion is genuinely hybrid on this corpus: some fused row must
    // come from each side alone and at least one from both
    assert(got.exists(r => r._4 > 0 && r._5 == 0), "lexical-only row")
    assert(got.exists(r => r._4 == 0 && r._5 > 0), "dense-only row")
    assert(got.forall(r => r._4 > 0 || r._5 > 0), "no phantom rows")
    assert(got.forall(r => r._2 != r._1), "self excluded from both lists")
    graft.Scratch.release(spark)
  }
}
