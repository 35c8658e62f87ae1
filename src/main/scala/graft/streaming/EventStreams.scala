package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}

/** Typed event record mirroring the `events` fixture (FIXTURES.md): the
  * Kafka event analog — `event_id` = offset, `user_id` = key, `ts` = event
  * time (kafka/README.md:10-23). */
final case class Event(
    event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** One emitted session (the ProcessFunction-with-state output,
  * flink/README.md:28). */
final case class SessionSummary(
    user_id: Long, n_events: Long,
    session_start: Timestamp, session_end: Timestamp, total_value: Double)

/** Keyed session state buffer for [[EventStreams.sessionizeWithState]].
  * Top-level + public: the state encoder's generated code must reach the
  * constructor. */
final case class SessionBuf(n: Long, startMs: Long, lastMs: Long, total: Double)

/** Current per-key totals — the "table" side of the stream⇄table duality
  * (state emitted by [[EventStreams.runningTotals]]). */
final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

/** Per-user funnel progress for [[EventStreams.funnelDetect]]: millis of
  * the earliest chain's completed stages (-1 = not reached), `done` set
  * once the completion fired so it emits exactly once per user. */
final case class FunnelProg(t1: Long, t2: Long, done: Boolean)

/** One completed funnel chain (the CEP match emit). */
final case class FunnelHit(
    user_id: Long, view_ts: Timestamp, click_ts: Timestamp,
    purchase_ts: Timestamp)

/** One kept row of a live per-key top-k ([[EventStreams.topKPerKeyStream]]
  * state entry; top-level so the state encoder reaches the constructor). */
final case class TopKEntry(value: Double, event_id: Long)

/** Bounded per-key top-k state: the k best entries seen so far,
  * best-first. */
final case class TopKBuf(entries: List[TopKEntry])

/** One rank-stamped row of a key's current top-k snapshot. */
final case class TopKUpdate(user_id: Long, rank: Int, value: Double, event_id: Long)

/** Structured Streaming pipelines (SURVEY.md §2.9): the live form of the
  * reference's stream-processing surface — tumbling/sliding/session
  * windows (T2/T3), watermarks + late data (T4/T5), keyed state with
  * timers (T6/T7 — the Flink ProcessFunction analog), stream-static and
  * stream-stream joins (J1/J2), DLQ fan-out (S9), idempotent sinks (T8)
  * and streaming dedup. Batch-replay equivalents live in
  * graft.operators.EventLog; these builders are exercised with
  * MemoryStream in the ScalaTest suites (no wall-clock dependence).
  *
  * Scale posture: every builder keys state by `user_id` (or the window
  * key), so state is partitioned across executors; watermarks bound state
  * size; foreachBatch sinks write partitioned parquet idempotently
  * (overwrite-by-batch-id), giving exactly-once on replay.
  */
object EventStreams {

  // ---- windowed aggregation (T2/T3/T4) ---------------------------------

  /** Tumbling event-time window counts (flink/README.md:72) with a
    * watermark bounding state + admitting bounded lateness. Append mode:
    * a window only emits once the watermark passes its end. */
  def tumblingCounts(events: DataFrame,
                     windowDur: String = "10 minutes",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n"), col("total_value"))

  /** Tumbling-window approximate distinct users via the KMV sketch — the
    * streaming twin of q27's portable estimator. A streaming
    * `COUNT(DISTINCT user_id)` needs per-window state proportional to
    * the user cardinality; the sketch state is k longs per window no
    * matter how many users flow through, merged incrementally across
    * micro-batches by the same union+trim the batch aggregate uses
    * (below k distinct hashes it is exact — tests pin that branch).
    * Same 100 TB posture as the batch path: map-side-combined
    * ObjectHashAggregate, the shuffle and the state store carry sketch
    * buffers, never raw user ids. */
  def tumblingDistinctUsers(events: DataFrame,
                            windowDur: String = "10 minutes",
                            watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(events.sparkSession)
    events.withWatermark("ts", watermarkDelay)
      .select(col("ts"), graft.functions.Kmv.hashCol(col("user_id")).as("h"))
      .groupBy(window(col("ts"), windowDur))
      .agg(expr("graft_kmv(h)").as("n_users_approx"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("n_users_approx"))
  }

  /** Built-in session windows (gap-based, T3). */
  def sessionWindowCounts(events: DataFrame,
                          gap: String = "30 minutes",
                          watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n"), col("total_value"))

  // ---- keyed state + timers (T6/T7: the ProcessFunction analog) --------

  /** Merge point events + stored intervals by gap (classic interval
    * merging over the start-sorted union). Shared by both timer flavors. */
  private def mergeByGap(intervals: List[SessionBuf], gapMs: Long): List[SessionBuf] =
    intervals.sortBy(s => (s.startMs, s.lastMs)).foldLeft(List.empty[SessionBuf]) {
      case (acc @ (prev :: rest), s) if s.startMs <= prev.lastMs + gapMs =>
        SessionBuf(prev.n + s.n, prev.startMs,
          math.max(prev.lastMs, s.lastMs), prev.total + s.total) :: rest
      case (acc, s) => s :: acc
    }.reverse

  private def emitSession(userId: Long, s: SessionBuf): SessionSummary =
    SessionSummary(userId, s.n, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.total)

  /** Custom sessionization with explicit keyed state and an event-time
    * timer: the direct analog of Flink's ProcessFunction + ValueState +
    * timers (flink/README.md:28-61). State holds ALL open intervals for
    * the key (late in-watermark events may open earlier sessions or
    * bridge existing ones); a session is emitted only once the watermark
    * passes its end + gap, so no future event can extend it. */
  def sessionizeWithState(events: Dataset[Event],
                          gapMs: Long = 30L * 60 * 1000,
                          watermarkDelay: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionBuf], SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[SessionBuf]]) =>
          val incoming = it.toList.map(e =>
            SessionBuf(1, e.ts.getTime, e.ts.getTime, e.value))
          val merged = mergeByGap(state.getOption.getOrElse(Nil) ++ incoming, gapMs)
          // emit sessions no future event can touch: strictly below the
          // watermark — an event AT exactly end+gap would still merge by
          // the (inclusive) gap rule, so `<= wm` could split that session
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = merged.partition(_.lastMs + gapMs < wm)
          if (open.nonEmpty) {
            state.update(open)
            // a timeout at-or-before the watermark throws — clamp above it
            state.setTimeoutTimestamp(
              math.max(open.map(_.lastMs).min + gapMs, wm + 1))
          } else {
            state.remove()
          }
          closed.map(emitSession(userId, _)).iterator
      }
  }

  /** PROCESSING-time flavor of the session timer — the reference
    * documents timers for both time notions (flink/README.md:28).
    * Sessions still merge by EVENT-time gap, but a key's open sessions
    * flush after `idleMs` of processing-time inactivity (no arrivals for
    * the key across micro-batches). This is the shape for unreliable
    * event time or drain-on-quiesce semantics; no watermark is declared,
    * so state is reclaimed by the idle timer alone — which bounds it
    * only for keys that eventually GO idle. For keys that never do,
    * `maxOpenSessions` is the hard bound: beyond it the OLDEST open
    * sessions (by event time) are force-flushed on update, so per-key
    * state is ≤ maxOpenSessions buffers regardless of traffic; the
    * watermark-driven variant remains the alternative whose state the
    * event-time watermark bounds without a cap. Caveat inherent to
    * processing time: a genuinely late event after a flush opens a NEW
    * session rather than extending the flushed one.
    *
    * Operational notes: run this sink with a real trigger interval
    * (`Trigger.ProcessingTime(...)`) — armed processing-time timers make
    * the engine schedule timer-check batches continuously, and the
    * default as-fast-as-possible trigger busy-spins empty micro-batches.
    * For the same reason `processAllAvailable()` never returns on this
    * stream (the engine always reports another batch pending); poll the
    * sink or use awaitTermination with a timeout instead. */
  def sessionizeIdleFlush(events: Dataset[Event],
                          gapMs: Long = 30L * 60 * 1000,
                          idleMs: Long = 1000L,
                          maxOpenSessions: Int = Int.MaxValue): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionBuf], SessionSummary](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[SessionBuf]]) =>
          if (state.hasTimedOut) {
            // timer fired: the key saw no events for idleMs — flush all
            val out = state.getOption.getOrElse(Nil).map(emitSession(userId, _))
            state.remove()
            out.iterator
          } else {
            val incoming = it.toList.map(e =>
              SessionBuf(1, e.ts.getTime, e.ts.getTime, e.value))
            val merged = mergeByGap(state.getOption.getOrElse(Nil) ++ incoming, gapMs)
            // hot-key bound: a key that NEVER goes idle would otherwise
            // accumulate gap-separated open sessions forever (the idle
            // timer alone only reclaims state for keys that quiet down).
            // Keep the newest maxOpenSessions by event time and force-
            // flush the oldest — those are the least likely to see a
            // late extension, the same trade the watermark variant makes
            // explicitly.
            val (open, forced) =
              if (merged.size <= maxOpenSessions) (merged, Nil)
              else {
                val sorted = merged.sortBy(_.lastMs)
                (sorted.drop(merged.size - maxOpenSessions),
                  sorted.take(merged.size - maxOpenSessions))
              }
            state.update(open)
            // re-arm: any arrival pushes the flush out by idleMs
            state.setTimeoutDuration(idleMs)
            forced.map(emitSession(userId, _)).iterator
          }
      }
  }

  /** Per-key running totals via `transformWithState` (the Spark 4
    * arbitrary-state API over the RocksDB state store — the reference's
    * "state in RocksDB" keyed-state model, kafka/README.md:333, and the
    * stream⇄table duality: the emitted row per key IS the current table
    * state, kafka/README.md:319). */
  class RunningTotalProcessor extends StatefulProcessor[Long, Event, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal](
        "totals", Encoders.product[UserTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTotal] = {
      var cur = Option(totals.get()).getOrElse(UserTotal(key, 0L, 0.0))
      rows.foreach { e =>
        cur = UserTotal(key, cur.n_events + 1, cur.total_value + e.value)
      }
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Update-mode per-key state table: each micro-batch emits the keys it
    * touched with their new current state. Requires the RocksDB state
    * store provider (set by [[rocksdbStateConfigs]]). */
  def runningTotals(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Session configs transformWithState needs. */
  val rocksdbStateConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  // ---- joins (J1/J2) ----------------------------------------------------

  /** Stream-static enrichment (kafka/README.md:331-332): the dimension is
    * broadcast; re-read per micro-batch keeps CDC-refreshed tables fresh. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, keyCol: String): DataFrame =
    events.join(broadcast(dim), Seq(keyCol), "left")

  /** Stream-static SCD2 enrichment — the live twin of the batch q144:
    * each event joins the dimension VERSION whose [valid_from, valid_to)
    * window contains its event time, not the latest version. The dim
    * (all versions) broadcasts; the validity range rides the join as its
    * non-equi condition, so the stream side is never shuffled and no
    * state accrues (stream-static joins keep no state). Late events
    * automatically enrich against their OWN era's version — the
    * correctness property that "join the current dim row" pipelines get
    * wrong on replay. Expects dim columns: `keyCol`, `valid_from`,
    * `valid_to`, plus attributes. */
  def enrichWithScd2(events: DataFrame, dim: DataFrame, keyCol: String,
                     tsCol: String = "ts"): DataFrame = {
    val d = dim.withColumnRenamed(keyCol, s"dim_$keyCol")
    events.join(broadcast(d),
      col(keyCol) === col(s"dim_$keyCol") &&
        col(tsCol) >= col("valid_from") && col(tsCol) < col("valid_to"),
      "left")
      .drop(s"dim_$keyCol")
  }

  /** Stream-stream windowed join (kafka/README.md:333): purchases matched
    * to same-user clicks within the preceding [windowMinutes]. Watermarks
    * on both sides bound the join state. `joinType = "leftOuter"` emits
    * unmatched purchases (null click columns) once the watermark proves
    * no match can still arrive. */
  def purchaseClickJoin(events: DataFrame,
                        windowMinutes: Int = 10,
                        watermarkDelay: String = "30 minutes",
                        joinType: String = "inner"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    purchases.join(clicks,
      expr(s"p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL $windowMinutes MINUTES AND p_ts"),
      joinType)
  }

  // ---- DLQ fan-out (S9) -------------------------------------------------

  /** Split a (micro-)batch into (good, dlq), the DLQ enriched with origin
    * metadata (kafka/README.md:202-271). */
  def dlqSplit(events: DataFrame): (DataFrame, DataFrame) = {
    // null-safe equality: a NULL event_type must land in `good`, not
    // vanish from both sides under three-valued logic
    val poison = col("event_type") <=> "error"
    val good = events.filter(!poison)
    val dlq = events.filter(poison)
      .withColumn("origin_topic", lit("events"))
      .withColumn("origin_partition", (col("user_id") % 8).cast("int"))
      .withColumn("origin_offset", col("event_id"))
    (good, dlq)
  }

  /** Re-merge repaired DLQ records into the main flow — the
    * reprocessed-stream re-merge of kafka/README.md:207: after an
    * operator fixes the poison records offline, strip the DLQ origin
    * metadata and union them back with the good stream BY NAME, so a
    * schema drift between the two sides fails analysis loudly instead of
    * silently transposing columns. Downstream exactly-once comes from
    * writing the merged flow through [[writeBatchIdempotent]] (replay
    * rewrites, never appends) — asserted end-to-end in StreamingSpec. */
  def remergeDlq(good: DataFrame, repaired: DataFrame): DataFrame =
    good.unionByName(
      repaired.drop("origin_topic", "origin_partition", "origin_offset"))

  /** Streaming two-sink DLQ pipeline via foreachBatch. Both sinks write
    * overwrite-by-batch-id ([[writeBatchIdempotent]]) so a replayed
    * micro-batch after failure rewrites its partition instead of
    * appending duplicates. */
  def dlqSink(events: DataFrame, goodDir: String, dlqDir: String,
              checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val cached = batch.persist()
        try {
          val (good, dlq) = dlqSplit(cached)
          writeBatchIdempotent(good, batchId, goodDir)
          writeBatchIdempotent(dlq, batchId, dlqDir)
        } finally { cached.unpersist(); () }
      }
      .start()

  // ---- exactly-once sink (T8) ------------------------------------------

  /** Idempotent parquet write for one micro-batch: partition by batch id,
    * dynamic-overwrite that partition. Replaying a batch after failure
    * rewrites the same partition instead of duplicating it — checkpoint
    * replay + this = exactly-once file output (kafka/README.md:162-171's
    * at-least-once turned exactly-once by an idempotent sink). */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  // ---- streaming dedup + reprocessing (T10/T11) ------------------------

  /** Streaming exact dedup on the offset column: state bounded by the
    * watermark (the dropDuplicates form of log compaction's "one record
    * per key"). */
  def dedupByEventId(events: DataFrame,
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming ingest dedup by CONTENT identity — the streaming
    * complement of the batch new-vs-seen classifier (q99): an arriving
    * document stream keeps only the first copy of each text, keyed by
    * its SHA-256 so the dedup state stores 32-byte hashes rather than
    * full documents (the same bounded-state reason q70/q71 aggregate on
    * the hash). The output schema RETAINS the `content_sha256` column —
    * it is the record's content identity, which downstream batch dedup
    * (q99) and audit joins key on; drop it explicitly if a sink wants
    * the original shape. Watermark bounds the state: a duplicate arriving later
    * than the delay is admitted — the batch path (q99) is the backstop,
    * exactly like retention + compaction compose in the reference's log
    * model (kafka/README.md:27,:433-434). */
  def dedupByContentHash(docs: DataFrame, tsCol: String = "ts",
                         textCol: String = "text",
                         watermarkDelay: String = "10 minutes"): DataFrame =
    docs.withColumn("content_sha256", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_sha256")

  /** Reprocessing comparison (kafka/README.md:335-337): rows produced by
    * the new version that the old version lacks (and vice versa via
    * swapped args). Multiset semantics — duplicates count. */
  def reprocessDiff(oldResult: DataFrame, newResult: DataFrame): DataFrame =
    newResult.exceptAll(oldResult)

  // ---- CEP-lite: streaming funnel detection ----------------------------

  /** Streaming funnel detection — the live twin of q142's batch funnel
    * (Flink-CEP's `A -> B -> C` as a keyed state machine): per user,
    * advance earliest-chain progress (view → click → purchase, each
    * stage strictly after the previous) and emit ONE [[FunnelHit]] the
    * moment the chain completes. Events are processed in (ts, event_id)
    * order within each micro-batch; like any streaming CEP, an
    * out-of-order event arriving in a LATER batch than its successors
    * cannot rewrite already-advanced progress — the batch q142 is the
    * reconciliation query for that tail (T10's pattern).
    *
    * State: 17 bytes per user (two stage times + the done flag), no
    * lists — bounded per key regardless of event volume. */
  def funnelDetect(events: Dataset[Event]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProg, FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelProg]) =>
          var p = state.getOption.getOrElse(FunnelProg(-1L, -1L, done = false))
          val hits = scala.collection.mutable.ListBuffer.empty[FunnelHit]
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val ms = e.ts.getTime
            e.event_type match {
              case "view" if p.t1 < 0 =>
                p = p.copy(t1 = ms)
              case "click" if p.t1 >= 0 && p.t2 < 0 && ms > p.t1 =>
                p = p.copy(t2 = ms)
              case "purchase" if p.t2 >= 0 && !p.done && ms > p.t2 =>
                hits += FunnelHit(userId, new Timestamp(p.t1),
                  new Timestamp(p.t2), new Timestamp(ms))
                p = p.copy(done = true)
              case _ =>
            }
          }
          state.update(p)
          hits.iterator
      }
  }

  /** Live per-key top-k — the streaming twin of the batch GroupTopK
    * operator (graft.plans.GroupTopK), with the same bounded-state
    * posture: each key's state is its k best (value desc, event_id asc)
    * entries and NOTHING else, so state is O(k) per key forever — no
    * watermark needed for boundedness (which is why NoTimeout is safe
    * here, unlike sessionization state that grows until closed).
    *
    * Update-mode semantics: a micro-batch that changes a key's top-k
    * re-emits that key's FULL rank-stamped snapshot (the downstream
    * upsert target replaces the key's group); a batch that only brings
    * worse-than-kept values emits nothing for the key. Exactly the
    * stream⇄table duality the running-totals builder demonstrates, for
    * an ordered-set aggregate instead of a sum. */
  def topKPerKeyStream(events: Dataset[Event], k: Int = 3): Dataset[TopKUpdate] = {
    import events.sparkSession.implicits._
    require(k > 0, s"k must be positive, got $k")
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TopKBuf, TopKUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[TopKBuf]) =>
          val old = state.getOption.getOrElse(TopKBuf(Nil))
          // fold the batch in, keep the k best under (value desc, id asc)
          val merged = (old.entries ++ it.map(e => TopKEntry(e.value, e.event_id)))
            .sortBy(t => (-t.value, t.event_id))
            .take(k)
          if (merged == old.entries) Iterator.empty
          else {
            state.update(TopKBuf(merged))
            merged.iterator.zipWithIndex.map { case (t, i) =>
              TopKUpdate(userId, i + 1, t.value, t.event_id)
            }
          }
      }
  }
}
