package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.AsofJoin.bandCount]] (the
  * registered `band_join` query): for every event, the count of OTHER
  * events with event-time within ±W, emitted once the watermark proves
  * the window complete.
  *
  * The batch count's running-count frames need a band's rows in time
  * order, which an unbounded stream never completes, so the streaming
  * shape is W-wide BAND-keyed state — the same quantization the composed
  * batch rewrite uses, re-purposed for state locality:
  *
  *   - each event e with band b = ⌊t/W⌋ is routed to the three groups
  *     {b−1, b, b+1}, flagged owner in its own band. Any event within ±W
  *     of e lives in bands b−1..b+1 and is itself routed to b, so group b
  *     holds every row e's verdict needs — the state-sharding argument,
  *     identical to the batch band join's "a true pair shares a band".
  *   - group state buffers routed rows; an OWNER's count finalizes when
  *     the watermark passes t+W (every future arrival has event-time ≥
  *     watermark > t+W — outside the window), the standard
  *     watermark-completion argument of a stream-stream interval join.
  *   - buffered rows evict once the watermark passes t+2W: an unemitted
  *     owner o has t_o + W ≥ watermark > t_f + 2W ⟹ t_f < t_o − W, outside
  *     every remaining window. State per band is therefore bounded by the
  *     row density of a ~4W time span — corpus-rate-invariant.
  *
  * Lateness contract: rows later than the watermark delay are dropped by
  * Spark before reaching the operator (they would also be dropped by a
  * stream-stream join); the delay must therefore cover the source's
  * measured disorder ([[EventsStream.derivedWatermarkDelay]]).
  * ProximityStreamSpec asserts stream ≡ batch (`band_join`) on ordered
  * replays of the real events table.
  */
object ProximityStream {

  /** A routed copy of one event: `band` is the GROUP the copy serves,
    * `owner` marks the copy in the event's own band (emitted once). */
  case class ProxRouted(ts: Timestamp, band: Long, event_id: Long,
      t_us: Long, owner: Boolean)

  case class ProxCount(event_id: Long, t_us: Long, n_near: Long)

  // public: Catalyst's generated deserializer instantiates it reflectively
  case class ProxState(buffer: List[(Long, Long)], owners: List[(Long, Long)])

  private def floorDiv(t: Long, w: Long): Long =
    Math.floorDiv(t, w)

  /** `events` must carry (ts: Timestamp, event_id: Long); ids unique, as
    * [[graft.operators.AsofJoin.bandCount]]'s oracle parity needs. */
  def proximityCounts(events: Dataset[(Timestamp, Long)], windowMicros: Long,
      watermarkDelay: String = EventsStream.DefaultWatermarkDelay)
      : Dataset[ProxCount] = {
    import events.sparkSession.implicits._
    val w = windowMicros
    events
      .flatMap { case (ts, id) =>
        val tUs = (ts.getTime / 1000L) * 1000000L + (ts.getNanos / 1000L)
        val b = floorDiv(tUs, w)
        Seq(
          ProxRouted(ts, b - 1, id, tUs, owner = false),
          ProxRouted(ts, b, id, tUs, owner = true),
          ProxRouted(ts, b + 1, id, tUs, owner = false))
      }
      // watermark on the ROUTED rows so the event-time column provably
      // reaches the stateful operator (the routing flatMap would re-mint
      // the attributes above a pre-routing watermark node)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.band)
      .flatMapGroupsWithState[ProxState, ProxCount](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[ProxRouted], state: GroupState[ProxState]) =>
          val st = state.getOption.getOrElse(ProxState(Nil, Nil))
          var buffer = st.buffer
          var owners = st.owners
          rows.foreach { r =>
            buffer = (r.t_us, r.event_id) :: buffer
            if (r.owner) owners = (r.t_us, r.event_id) :: owners
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // finalize owners whose whole window is below the watermark
          val (ripe, open) = owners.partition(_._1 + w < wmUs)
          val out = ripe.map { case (t, id) =>
            ProxCount(id, t, buffer.count { case (u, j) =>
              j != id && math.abs(u - t) <= w
            }.toLong)
          }
          // evict rows no remaining owner (here or arriving later) can see
          val kept = buffer.filter(_._1 + 2 * w >= wmUs)
          if (open.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(ProxState(kept, open))
            // wake when the earliest open owner ripens, even if no new
            // rows arrive for this band
            val wake =
              if (open.nonEmpty) open.map(_._1).min / 1000L + w / 1000L + 1
              else kept.map(_._1).min / 1000L + 2 * (w / 1000L) + 1
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, wake))
          }
          out.iterator
      }
  }
}
