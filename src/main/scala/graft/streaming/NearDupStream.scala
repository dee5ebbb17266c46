package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online near-duplicate candidate detection over a DOCUMENT stream — the
  * streaming twin of the batch MinHash pipeline
  * ([[graft.operators.Dedup.minhashCandidates]]): as documents arrive,
  * each is banded map-side (no shuffle, no cross-row dependency) with the
  * IDENTICAL md5-chunk hash family the batch side uses, then a stateful
  * per-bucket registry emits a candidate pair the moment a new document
  * lands in a band bucket that already holds others. A training-data
  * ingest pipeline runs exactly this shape to reject near-dups at intake
  * instead of re-clustering the whole corpus per batch.
  *
  * Semantics vs batch: for any prefix of the stream whose buckets stay
  * under the cap, the DISTINCT (id1, id2) set equals the batch candidate
  * set over the same documents (asserted in NearDupStreamSpec). Pairs are
  * emitted at-least-once (a pair co-banded in two buckets emits twice,
  * where batch dedups globally — downstream exact rescoring dedups
  * naturally). The hot-bucket guard differs by necessity: batch drops
  * oversized buckets retroactively; a stream cannot retract, so emission
  * stops once a bucket reaches the cap (prefix semantics).
  *
  * Scale notes: banding is pure per-row expression work; the only shuffle
  * is the groupByKey on (band, bkey) — slim rows, same key the batch
  * band-join shuffles on. State per bucket is a capped id list, and the
  * bucket key space is UNBOUNDED over an infinite stream, so idle buckets
  * are evicted by processing-time TTL (the default; a doc arriving after
  * its near-dups' bucket expired misses those pairs — the deliberate
  * retention/recall trade every streaming dedup makes). Tests pass
  * NoTimeout: a pending timeout keeps the no-data micro-batch loop
  * spinning, which deadlocks `processAllAvailable`.
  */
object NearDupStream {

  // public: Catalyst's generated (de)serializers instantiate these
  case class BandedDoc(band: Int, bkey: String, doc_id: Long)
  case class NearDupCandidate(id1: Long, id2: Long, band: Int)
  case class BucketState(ids: List[Long])

  /** THE batch-side hot-bucket cap — one constant, not an independent
    * copy, so the stream≡batch candidate-set equivalence cannot silently
    * break by changing one side.
    */
  private def MaxBucket: Int = graft.operators.Dedup.MaxBandBucket

  /** Map-side banding: word-3-gram shingles → 4 seeded md5 digest arrays
    * → per-band key = concat of the digest's four 8-hex-char chunk
    * minima. Band b consumes digest seed b, so this is chunk-for-chunk
    * the batch [[graft.operators.Dedup.minhashSignatures]] family (min
    * over the shingle multiset == min over the distinct set, so the batch
    * `.distinct()` needs no per-row counterpart). Pure scalar expressions
    * — streaming-safe, zero shuffle.
    */
  def banded(docs: DataFrame): DataFrame = {
    val withDigests = (0 until 4).foldLeft(
      docs
        .withColumn("toks", split(col("text"), " "))
        .withColumn("sh", when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .otherwise(array(concat_ws(" ", col("toks")))))) { (df, k) =>
      df.withColumn(s"d$k", expr(s"transform(sh, s -> md5(concat('mh$k#', s)))"))
    }
    val bandKeys = (0 until 4).map { b =>
      concat((0 until 4).map { j =>
        array_min(expr(s"transform(d$b, x -> substring(x, ${j * 8 + 1}, 8))"))
      }: _*)
    }
    withDigests
      .select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** The per-bucket state transition, factored out so the timeout path is
    * unit-testable with `TestGroupState` (a live memory-stream test cannot
    * advance the processing-time clock). On timeout: evict the bucket and
    * emit nothing (candidates were already emitted when their second
    * member arrived — expiry loses only FUTURE pairings, the documented
    * TTL trade). On data: emit (new, old) pairs, cap the bucket, re-arm
    * the TTL.
    */
  private[streaming] def bucketStep(usesTimeout: Boolean, ttl: String)(
      key: (Int, String), rows: Iterator[BandedDoc],
      state: GroupState[BucketState]): Iterator[NearDupCandidate] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val seen = state.getOption.map(_.ids).getOrElse(Nil)
      // List is the encoder-friendly stored form; membership and size
      // go through a Set + counter so a near-cap bucket costs O(ids)
      // per micro-batch, not O(ids²) of list scans
      val seenSet = scala.collection.mutable.Set.from(seen)
      val fresh = rows.map(_.doc_id).toSeq.distinct.filterNot(seenSet)
      val out = Seq.newBuilder[NearDupCandidate]
      var acc = seen
      var accSize = seen.size
      fresh.foreach { id =>
        if (accSize < MaxBucket)
          acc.foreach { o =>
            out += NearDupCandidate(math.min(id, o), math.max(id, o), key._1)
          }
        acc = id :: acc
        accSize += 1
        seenSet += id
      }
      state.update(BucketState(acc.take(MaxBucket)))
      if (usesTimeout) state.setTimeoutDuration(ttl)
      out.result().iterator
    }
  }

  /** Stateful per-bucket candidate emission. `timeout`/`ttl` are
    * injectable like [[EventsStream.sessionize]]: production keeps the
    * default ProcessingTimeTimeout so idle bucket state is evicted.
    */
  def candidates(docs: DataFrame,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
      ttl: String = "30 minutes"): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    val usesTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    banded(docs).as[BandedDoc]
      .groupByKey(b => (b.band, b.bkey))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        bucketStep(usesTimeout, ttl))
  }

  // public: Catalyst's generated (de)serializers instantiate these
  case class MgShard(shard: Int, seq: Long, ws: Seq[String], cs: Seq[Long])
  case class MgShardState(seq: Long, buf: graft.functions.TypedAggs.MGBuf)

  /** Streaming Misra–Gries heavy-hitter candidate maintenance over a
    * DOCUMENT stream — the online twin of the batch `heavy_hitters`
    * two-pass pipeline ([[graft.operators.TextAnalysis.heavyHitters]]):
    * tokens hash-route to one of `shards` sketch keys, and each shard
    * folds its substream through the IDENTICAL [[graft.functions.TypedAggs.misraGries]]
    * reduce step the batch aggregator runs — one shared fold, so stream
    * and batch cannot drift. Every micro-batch each touched shard emits a
    * (seq-stamped) snapshot of its candidate list; the nightly consumer
    * takes the latest snapshot per shard, unions the candidate sets, and
    * runs the batch pipeline's exact pass 2 over them.
    *
    * Superset guarantee end to end: a true global heavy hitter
    * (c · HHFrac > n) hashes ALL its occurrences into one shard whose
    * substream is at most n tokens, so within the shard its frequency
    * ratio is at least its global ratio and shard-local MG with
    * k ≥ HHFrac keeps it — the union of final shard candidates therefore
    * contains every true heavy hitter (asserted against the batch query
    * in NearDupStreamSpec), and the exact pass restores equality.
    *
    * State is `shards` keys × O(k) counters — BOUNDED BY CONSTRUCTION
    * over an infinite stream (no TTL needed, unlike [[candidates]]'s
    * unbounded bucket space): the streaming analogue of the batch
    * sketch's exchange-volume bound.
    */
  def hhStream(docs: DataFrame, shards: Int, k: Int): Dataset[MgShard] = {
    import docs.sparkSession.implicits._
    val agg = graft.functions.TypedAggs.misraGries(k)
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .withColumn("shard",
        (conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long")
          % shards).cast("int"))
      .as[(String, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[MgShardState, MgShard](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(String, Int)],
            state: GroupState[MgShardState]) =>
          val prev = state.getOption.getOrElse(MgShardState(0L, agg.zero))
          var buf = prev.buf
          rows.foreach { case (w, _) => buf = agg.reduce(buf, w) }
          val next = MgShardState(prev.seq + 1L, buf)
          state.update(next)
          Iterator.single(MgShard(shard, next.seq, buf.ws, buf.cs))
      }
  }
}
