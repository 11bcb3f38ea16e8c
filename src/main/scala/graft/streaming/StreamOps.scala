package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming operators beyond the CDC feed shell (BookingFlow):
  * event-time windowed aggregation with watermark, in-stream dedup, and
  * custom per-key state via mapGroupsWithState.
  *
  * All are plan builders over streaming DataFrames — the same code works on
  * `readStream` sources with any trigger; state lives in the checkpoint's
  * state store, partitioned by key (shuffle on the grouping key, same as a
  * batch groupBy, but incremental per micro-batch).
  */
object StreamOps {

  // exact epoch-µs: one shared definition with the batch ops
  private def epochMicros(t: Timestamp): Long =
    graft.operators.TimeUtil.epochMicros(t)

  /** Tumbling event-time window counts/sums with late-data cutoff.
    * Watermark bounds state: windows older than (max event time − delay)
    * are finalized and evicted; later-than-watermark events are dropped.
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowLen: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"), col("total"))

  /** In-stream exact dedup on a key: duplicates arriving within the
    * watermark horizon are dropped; state per key is evicted past it.
    */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keyCols :+ tsCol)

  final case class SessionUpdate(userId: Long, events: Long, lastTs: Timestamp)

  /** Custom running state per key: event count + last-seen timestamp,
    * emitted on every micro-batch (Update mode) — the mapGroupsWithState
    * shape for any bespoke streaming state the built-in aggs can't express.
    * `idleTimeout`: optional processing-time eviction for idle keys (e.g.
    * "30 minutes"); None keeps state until the query ends — note that a
    * ProcessingTimeTimeout makes `processAllAvailable` keep scheduling
    * timeout-check batches, so tests use None.
    */
  def runningSessionState(events: Dataset[(Long, Timestamp)],
                          idleTimeout: Option[String] = None): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Timestamp), SessionUpdate](timeoutConf) {
        case (userId, rows, state: GroupState[(Long, Timestamp)]) =>
          if (state.hasTimedOut) {
            val (n, ts) = state.get
            state.remove()
            SessionUpdate(userId, n, ts)
          } else {
            val newRows = rows.toSeq
            val (prevN, prevTs) = state.getOption.getOrElse((0L, new Timestamp(0)))
            val maxTs = (prevTs +: newRows.map(_._2)).maxBy(_.getTime)
            val updated = (prevN + newRows.size, maxTs)
            state.update(updated)
            idleTimeout.foreach(state.setTimeoutDuration)
            SessionUpdate(userId, updated._1, updated._2)
          }
      }
  }

  /** Event-time stream-stream inner join: left rows matched to right rows
    * with the same key whose event time falls in
    * `[leftTs, leftTs + maxDelay]` (e.g. impressions joined to clicks that
    * arrive within the attribution window). Both sides carry watermarks and
    * the join condition bounds BOTH event times, so Spark can size and evict
    * the join state: a buffered left row is dropped once the right watermark
    * passes `leftTs + maxDelay`, and vice versa — without the time bound the
    * state would grow forever. Column names must be disjoint apart from the
    * key columns (`leftKey`/`rightKey`).
    */
  def intervalJoin(left: DataFrame, leftKey: String, leftTs: String,
                   right: DataFrame, rightKey: String, rightTs: String,
                   watermarkDelay: String, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
         |$rightTs >= $leftTs AND
         |$rightTs <= $leftTs + INTERVAL $maxDelay""".stripMargin))
  }

  /** Session-window aggregation: gap-based sessions via the built-in
    * `session_window` — windows extend while events keep arriving within
    * `gap` and finalize when the watermark passes last-event + gap. The
    * streaming twin of the batch q_sessionize query (lag/sum formulation);
    * state is per (key, open session), merged as sessions bridge.
    */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
                       gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Streaming rate-limit per key: keep an event only if it is ≥
    * `minGapSeconds` after the previous KEPT event of the same key, with the
    * last-kept timestamp carried across micro-batches in the state store —
    * the streaming twin of `TimeSeries.throttle`, and the semantics the
    * one-window `TimeSeries.debounce` can't express (the gap is against the
    * kept stream, a sequential dependency).
    *
    * Events are ordered by event time WITHIN a batch; an event arriving in a
    * later batch with an older timestamp than the kept state is dropped (its
    * gap to the kept event is negative) — late data thins, never duplicates,
    * the kept stream. State is one timestamp per key, evicted only with the
    * query (add a timeout variant if keys churn).
    */
  def throttleStream(events: Dataset[(Long, Timestamp)],
                     minGapSeconds: Long): Dataset[(Long, Timestamp)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Timestamp)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Long]) =>
          var lastKeptUs = state.getOption.getOrElse(Long.MinValue)
          val kept = rows.toSeq.sortBy(r => epochMicros(r._2)).filter { case (_, ts) =>
            val t = epochMicros(ts)
            val keep = lastKeptUs == Long.MinValue || t - lastKeptUs >= minGapSeconds * 1000000L
            if (keep) lastKeptUs = t
            keep
          }
          if (lastKeptUs != Long.MinValue) state.update(lastKeptUs)
          kept.iterator
      }
  }

  /** Streaming funnel: per-key strict-order step progression carried across
    * micro-batches — the streaming twin of `TimeSeries.funnel`. State is
    * (steps completed, timestamp of the last completed step); each batch's
    * events are processed in event-time order and advance the state when
    * they match the next expected step STRICTLY AFTER the previous step's
    * time. Emits one row per key whose progress advanced this batch
    * (Update-mode shape: latest progress per key wins downstream).
    *
    * Late events older than the current step's timestamp cannot advance the
    * funnel (strict order is evaluated against committed state), matching
    * the batch operator's semantics for in-order data; state is 16 bytes
    * per key in the funnel.
    */
  def funnelStream(events: Dataset[(Long, String, Timestamp)], steps: Seq[String]):
      Dataset[(Long, Int, Timestamp)] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, Timestamp)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Int, Long)]) =>
          var (done, lastUs) = state.getOption.getOrElse((0, Long.MinValue))
          val before = done
          rows.toSeq.sortBy(r => epochMicros(r._3)).foreach { case (_, tpe, ts) =>
            if (done < steps.length && tpe == steps(done) &&
              (done == 0 || epochMicros(ts) > lastUs)) {
              done += 1
              lastUs = epochMicros(ts)
            }
          }
          if (done > before) {
            state.update((done, lastUs))
            val t = new Timestamp(math.floorDiv(lastUs, 1000000L) * 1000L)
            t.setNanos((math.floorMod(lastUs, 1000000L) * 1000L).toInt)
            Iterator.single((key, done, t))
          } else Iterator.empty
      }
  }

  /** Streaming rolling z-score: the cross-batch twin of
    * `TimeSeries.rollingZscore`. Per-key state is the ring of the trailing
    * `window` values (O(window) doubles — no event history); each
    * micro-batch's rows are processed in event-time order, pushed into the
    * ring, and emitted with the z-score of the value against the ring's
    * population mean/std (`None` until `minObs` observations or when the
    * frame is constant).
    *
    * Ordering caveat, same contract as [[funnelStream]]: order is exact
    * within a micro-batch; an event arriving in a LATER batch than a
    * newer-timestamped peer enters the frame late (committed state is never
    * reordered). The batch operator is the replayable ground truth.
    * Equal-timestamp events within a batch sort by value — without a
    * secondary key they'd enter the ring in shuffle order and tied rows'
    * z-scores would vary run-to-run; this matches the batch twin when its
    * `tieCol` is the value column (the tuple carries nothing else to tie on).
    */
  def zscoreStream(events: Dataset[(Long, Timestamp, Double)], window: Int,
                   minObs: Int = 2, threshold: Double = 3.0):
      Dataset[(Long, Timestamp, Double, Option[Double], Boolean)] = {
    require(window >= 2, "window must cover at least 2 rows")
    require(minObs >= 2 && minObs <= window, "need 2 <= minObs <= window")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Double], (Long, Timestamp, Double, Option[Double], Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Seq[Double]]) =>
          var ring = state.getOption.getOrElse(Seq.empty[Double]) // newest first
          val out = rows.toSeq.sortBy(r => (epochMicros(r._2), r._3)).map { case (_, ts, v) =>
            ring = (v +: ring).take(window)
            val n = ring.length
            val mean = ring.sum / n
            // mean-centered form (not the batch op's decimal power sums —
            // state holds doubles); clamp like the batch twin so a
            // constant frame is std 0, never NaN
            val variance = math.max(ring.map(x => (x - mean) * (x - mean)).sum / n, 0.0)
            val std = math.sqrt(variance)
            val z = if (n >= minObs && std > 0.0) Some((v - mean) / std) else None
            (key, ts, v, z, z.exists(zv => math.abs(zv) > threshold))
          }
          state.update(ring)
          out.iterator
      }
  }
}
