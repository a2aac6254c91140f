package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY §1.4 engine mapping note: the
  * reference is batch-only; streams are the engine extension). The
  * same event schema as the batch `events` table, expressed as
  * readStream → transform → writeStream with event-time semantics.
  *
  * Scale notes:
  *  - Watermarks bound state: the windowed aggregate keeps only
  *    windows newer than (max event time - watermark), so state size
  *    is O(active windows × keys), independent of stream length.
  *  - Sessionization uses `flatMapGroupsWithState` with an EVENT-time
  *    timeout — the canonical bounded-state custom-state pattern: state
  *    per key is one open session, and once the watermark passes
  *    `lastTs + gap` (no event can extend the session any more — later
  *    arrivals below the watermark are dropped as late) the open
  *    session is emitted and its state evicted. Without the timeout an
  *    idle user's state would live forever and their last session would
  *    never be emitted.
  *  - All transforms below also run unchanged on a batch DataFrame
  *    (stream/batch unification), which is how the spec tests them.
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  // startTs must live IN the state: it crosses micro-batch boundaries
  // with the open session (re-deriving it from lastTs mis-reports the
  // start of any session spanning two triggers)
  case class SessionState(startTs: Long, lastTs: Long, nEvents: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_ms: Long, end_ms: Long)

  /** Starts the one sink shape of the `Ingest*` jobs: `input` in append
    * mode, each micro-batch and its id handed to `apply`, progress
    * checkpointed under `checkpoint`.
    */
  def microBatches[T](input: Dataset[T], checkpoint: String)
      (apply: (Dataset[T], Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(apply)
      .start()

  /** File-source stream over a parquet events directory (schema must
    * be supplied — streaming sources don't infer).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Event-time tumbling-window counts per event_type with a 1-hour
    * watermark (late data beyond it is dropped, state is pruned).
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Sliding-window per-user event rate (10 min slide over 1 h). */
  def slidingRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Custom-state sessionization: a >30-minute event-time gap closes
    * the user's session. Emits one row per closed session.
    *
    * Streaming input gets a watermark + `EventTimeTimeout` set to
    * `lastTs + gapMs`: when the watermark passes that point the open
    * session is provably closed (any event that could extend it would
    * be behind the watermark, hence dropped), so it is emitted and the
    * key's state removed — state size is O(users active within the
    * watermark horizon), not O(all users ever seen).
    *
    * `session_id` IS the session's start epoch-ms: a per-state ordinal
    * would restart at 0 after an eviction, so a returning user would
    * re-emit an already-used (user_id, session_id) pair in append mode
    * — a trap for any consumer keying on that pair. Seeding identity
    * from event time makes the pair unique across evictions by
    * construction (two sessions of one user are separated by > the
    * gap, so their start times always differ).
    *
    * Batch input (how the spec's equivalence tests run it) keeps
    * `NoTimeout`: timeouts never fire in batch execution, and batch
    * plans eliminate the watermark node so the event-time timeout API
    * is unavailable there — semantics are identical either way.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (streaming && state.hasTimedOut) {
            // Watermark passed lastTs + gap: emit the open session and
            // evict — this is the state bound.
            val st = state.get
            state.remove()
            Iterator.single(
              SessionOut(userId, st.startTs, st.nEvents, st.startTs, st.lastTs))
          } else {
            // Iterators arrive unordered within a trigger; sort this
            // micro-batch (bounded) by event time before folding.
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption
              .getOrElse(SessionState(Long.MinValue, Long.MinValue, 0L))
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (st.nEvents > 0 && t - st.lastTs > gapMs) {
                closed += SessionOut(userId, st.startTs, st.nEvents,
                  st.startTs, st.lastTs)
                st = SessionState(t, t, 1L)
              } else if (st.nEvents == 0) {
                st = SessionState(t, t, 1L)
              } else {
                st = st.copy(lastTs = t, nEvents = st.nEvents + 1)
              }
            }
            state.update(st)
            if (streaming) {
              // Must be strictly ahead of the current watermark (the
              // API rejects a timestamp at/behind it, which can happen
              // when this batch's events barely outrun the watermark).
              state.setTimeoutTimestamp(
                math.max(st.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Ingest-time exact dedup: drop events whose dedup key was already
    * seen within the watermark horizon — the streaming twin of the
    * batch d1 exact dedup, applied where a training pipeline actually
    * wants it (at ingest, before anything is stored twice).
    *
    * `dropDuplicatesWithinWatermark` bounds the dedup state to the
    * watermark window (vs unbounded `dropDuplicates` state growth on
    * an infinite stream) — the only shape that survives an unbounded
    * 100 TB/day feed. The key defaults to event_id; a content feed
    * would pass the canonical md5 fingerprint column instead.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String] = Seq("event_id"),
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: every click paired with each view by
    * the same user in the preceding `within` interval (click-to-view
    * attribution). Both sides carry watermarks and the join predicate
    * is an event-time range — exactly the two ingredients Structured
    * Streaming needs to bound join state: a buffered view is evictable
    * once the click-side watermark passes `view_ts + within`, so state
    * is O(events per window), independent of stream length. An
    * equality-only stream-stream join would buffer forever.
    *
    * Runs unchanged on the batch `events` table (watermarks are no-ops
    * in batch), which is how the q40 oracle checks it.
    */
  def clickAttribution(events: DataFrame, within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    clicks.join(views,
        col("user_id") === col("click_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $within"))
      .select(col("user_id"), col("click_id"), col("view_id"))
  }

  /** Streaming temporal enrichment: each micro-batch of events is
    * as-of joined (via the native `graft.plans.AsOfJoin` operator)
    * against a static, slowly-changing dimension — "state of the
    * account at event time", the enrichment every event feed needs.
    * `foreachBatch` is the right seam: the dimension is BATCH data
    * (stream-static joins only support equi predicates, and buffering
    * the dimension as stream state would duplicate what storage
    * already holds), and per batch the operator's left side is just
    * the micro-batch — when the dimension table is key-bucketed, the
    * only per-trigger exchange is the micro-batch routing to the
    * bucket layout (AsOfJoinSpec proves that plan), so trigger cost
    * is O(batch), not O(dimension).
    *
    * `dim` must carry (key, time, payload…) columns named by the
    * tuples. Output is effectively-once: each micro-batch overwrites
    * its own `batch_id=N` directory (the [[IngestDedup]] accepted-sink
    * idiom), so a batch replayed after a crash-before-checkpoint-commit
    * rewrites the same directory instead of appending its enriched
    * rows a second time — a blind `mode("append")` here would be
    * at-least-once. The enrichment is deterministic given (batch, dim),
    * so the replay's rewrite is byte-equivalent; readers see the whole
    * output as one partitioned parquet table with batch provenance.
    */
  def enrichAsOf(events: DataFrame, dim: DataFrame,
      key: (String, String), time: (String, String), tiebreak: Seq[String],
      outDir: String, checkpointDir: String) =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.plans.AsOfJoinApi
          .asofJoin(batch, dim, key, time, tiebreak)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }

  /** Sink: append stream to partitioned parquet with checkpointing —
    * the exactly-once file sink a 100 TB ingest would use.
    */
  def writeParquet(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
}
