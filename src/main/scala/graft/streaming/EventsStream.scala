package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType

/** Structured Streaming versions of the event-analytics operators —
  * `readStream` → transform → `writeStream` pipelines over the same
  * events schema the batch operators use (event_id, ts, user_id,
  * event_type, value). Batch/stream parity: a batch DataFrame of the
  * same shape runs through the identical transforms.
  *
  * Scale design: windowed aggregations carry watermarks so state is
  * bounded; sessionization keeps one small state row per active user
  * and expires it by event-time timeout.
  */
object EventsStream {

  /** normalize ts (epoch-ns long or timestamp) to a TimestampType col */
  private def tsCol(df: DataFrame) = df.schema("ts").dataType match {
    case LongType => expr("CAST(ts DIV 1000000000 AS TIMESTAMP)")
    case _        => col("ts").cast("timestamp")
  }

  /** tumbling 1-hour windowed counts/totals per event type, 2-hour
    * watermark: late events beyond that are dropped and window state
    * is reclaimed — bounded state at any input rate.
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events.withColumn("tsc", tsCol(events))
      .withWatermark("tsc", "2 hours")
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast(LongType)).as("sum_cents"))
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("sum_cents"))

  /** streaming cardinality telemetry: deterministic-HLL distinct
    * users per (1-hour window, event type). The custom
    * [[org.apache.spark.sql.graft.HllRegisters]] aggregate carries a
    * 256-byte mergeable register buffer as streaming aggregation
    * state — per-microbatch updates merge into it exactly like
    * map-side partials, so unbounded arrivals hold constant state per
    * window and the emitted estimate is bit-identical to the batch
    * path over the same events (graft.pipeline.Sketch determinism
    * contract). A streaming COUNT(DISTINCT) is unsupported by Spark
    * precisely because its state would be every key; this is the
    * sketch answer.
    */
  def hourlyDistinctUsers(events: DataFrame): DataFrame =
    events.withColumn("tsc", tsCol(events))
      .withWatermark("tsc", "2 hours")
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(graft.pipeline.Sketch.estMilli(
        org.apache.spark.sql.graft.HllRegisters(
          graft.pipeline.Sketch.hash60(col("user_id")))).as("hll_milli"))
      .select(col("window.start").as("h"), col("event_type"), col("hll_milli"))

  final case class SessionEvent(userId: Long, es: Long)
  final case class SessionState(lastEs: Long, nEvents: Long, nSessions: Long)
  final case class SessionUpdate(userId: Long, nEvents: Long, nSessions: Long)

  /** stateful gap sessionization: one state row per active user; a gap
    * over `gapSeconds` starts a new session. Emits the running
    * per-user totals each batch (update mode).
    *
    * `expireIdleState = true` (the production default) registers a
    * processing-time timeout so idle users' state is reclaimed —
    * bounded state over an unbounded key space. Note the timeout makes
    * the no-data trigger keep running maintenance microbatches, so
    * drain-style tests (processAllAvailable) should pass false.
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L,
      expireIdleState: Boolean = true): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withColumn("tsc", tsCol(events))
      .select(col("user_id").as("userId"),
        unix_timestamp(col("tsc")).as("es"))
      .as[SessionEvent]
    val timeout = if (expireIdleState) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update(), timeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.es)
            var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
            sorted.foreach { e =>
              val newSession = s.lastEs == Long.MinValue || e.es - s.lastEs > gapSeconds
              s = SessionState(e.es, s.nEvents + 1,
                s.nSessions + (if (newSession) 1 else 0))
            }
            state.update(s)
            if (expireIdleState) state.setTimeoutDuration(gapSeconds * 2 * 1000)
            Iterator.single(SessionUpdate(userId, s.nEvents, s.nSessions))
          }
      }
  }

  final case class FunnelEvent(userId: Long, tpe: String, es: Long)
  final case class FunnelState(stage: Int, t: Long)
  final case class FunnelReach(userId: Long, stage: Long)

  /** Streaming funnel — the strict-ordered conversion tracker as a
    * per-user STATE MACHINE: state is (stage reached, time of that
    * stage's event) — two longs per user at ANY ingest volume, where
    * the batch formulation re-joins the full log per stage. Events
    * are processed in event-time order within each microbatch; an
    * event advances the machine iff it is the next stage's type and
    * STRICTLY later than the previous stage's time — exactly the
    * batch conditional-min recursion ([[graft.pipeline.Events
    * .funnel]]), so the drained result is batch-equivalent and
    * shares its oracle. Cross-batch arrivals must be in-order per
    * user (the sessionize ingest contract): the machine never
    * retracts.
    */
  def funnelStages(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelReach] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withColumn("tsc", tsCol(events))
      .select(col("user_id").as("userId"), col("event_type").as("tpe"),
        unix_timestamp(col("tsc")).as("es"))
      .as[FunnelEvent]
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelReach](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          rows.toSeq.sortBy(e => (e.es, e.tpe)).foreach { e =>
            if (s.stage < stages.length && e.tpe == stages(s.stage) && e.es > s.t)
              s = FunnelState(s.stage + 1, e.es)
          }
          state.update(s)
          Iterator.single(FunnelReach(userId, s.stage.toLong))
      }
  }

  /** sink-side rollup of [[funnelStages]]'s drained per-user reach to
    * the batch funnel's (stage, event_type, n_users) rows: a user
    * converting through stage s counts toward every stage ≤ s.
    */
  def funnelCounts(drained: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    // update mode emits one row per user per microbatch it fired in;
    // stage is monotone, so max-per-user is the final reach even when
    // AvailableNow split the drain across batches
    val fin = drained.groupBy("userId").agg(max(col("stage")).as("stage"))
    stages.zipWithIndex.map { case (st, ix) =>
      fin.filter(col("stage") >= ix + 1L)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(ix + 1L).as("stage"), lit(st).as("event_type"), col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Batch-side activity-tier dimension for the stream-static
    * enrichment join: per-user lifetime event count bucketed into
    * 'heavy' / 'light' at `threshold`. One hash aggregate over the
    * historical events table; the output is user-cardinality (small
    * relative to the event stream) — the classic broadcast dimension.
    */
  def activityTiers(batchEvents: DataFrame, threshold: Long = 66L): DataFrame =
    batchEvents.groupBy("user_id").agg(count(lit(1)).as("n_total"))
      .select(col("user_id"),
        when(col("n_total") >= threshold, lit("heavy")).otherwise(lit("light"))
          .as("tier"))

  /** Stream-static enrichment join — the standard streaming pattern
    * this module had not yet exercised: each arriving event is joined
    * to a broadcast batch-computed dimension (no shuffle of the
    * stream, no state for the join itself), then rolled up per
    * (tier, event_type) with value totals in integer cents.
    *
    * Scale design: the stream side stays on its source partitioning —
    * a broadcast hash join adds zero shuffle per microbatch, so
    * enrichment throughput is bounded by ingest, not by the dimension.
    * Spark re-resolves the static side per microbatch, so a slowly-
    * changing dimension refreshes for free when its underlying table
    * is rewritten. Only the downstream aggregation keeps state — one
    * row per (tier, type), constant in ingest volume.
    */
  def enrichedTierTotals(stream: DataFrame, tiers: DataFrame): DataFrame =
    stream.select(col("user_id"), col("event_type"),
        floor(col("value") * 100).cast(LongType).as("cents"))
      .join(broadcast(tiers), Seq("user_id"))
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))

  /** Stream-stream interval join — attribution: each 'view' joined to
    * the same user's 'click's landing STRICTLY after it and within
    * `horizonSeconds`. The missing classic of the streaming family:
    * both sides are unbounded, so Spark buffers each in join state
    * and the WATERMARK + the two-sided time-range condition are what
    * make that state reclaimable — a view older than watermark −
    * horizon can never match a future click and is evicted, ditto
    * consumed clicks; without the range bound the state is the whole
    * history (Spark would reject the append-mode join outright).
    *
    * Timestamps are second-truncated BEFORE the join condition so the
    * matched pair set is engine-exact (the Events.epochS rule applied
    * to the join predicate). Inner join ⇒ every emitted pair is
    * final — append output, batch-equivalent under any microbatch
    * split (the file source may drain in several batches; pairs only
    * ever emit once).
    *
    * Scale shape: state is per-user recent rows within the horizon —
    * bounded by ingest RATE × horizon, not history; the join keys on
    * user_id so both sides shuffle once per microbatch onto the same
    * state-store partitioning.
    */
  def attributedPairs(views: DataFrame, clicks: DataFrame,
      horizonSeconds: Long = 3600L): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .withColumn("vts", date_trunc("second", tsCol(views)))
      .withWatermark("vts", "2 hours")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("vts"))
    val c = clicks.filter(col("event_type") === "click")
      .withColumn("cts", date_trunc("second", tsCol(clicks)))
      .withWatermark("cts", "2 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("cts"))
    v.join(c, col("v_user") === col("c_user") &&
        col("cts") > col("vts") &&
        col("cts") <= col("vts") + expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"))
  }

  /** sink-side rollup of [[attributedPairs]] to per-user attribution
    * counts: (user_id, n_pairs, n_views_attributed) — integers only.
    */
  def attributionCounts(drained: DataFrame): DataFrame =
    drained.groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("view_id")).as("n_views_attributed"))
}
