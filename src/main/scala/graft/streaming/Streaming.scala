package graft.streaming

import graft.pipeline.{PipelineStore, PlacesExtractor, Stages}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's incremental
  * semantics (SURVEY §2.F).
  *
  * The reference "streams" by polling `status IS NULL` in a loop
  * (`runner/locator.ts:166-178`) with idempotency keys and a status state
  * machine. Here the same contract is:
  *
  *   - [[EventAggregates]]: true event-time processing the reference never
  *     had — watermark + tumbling window over the events table (the
  *     beyond-reference metrics path);
  *   - [[IncrementalLocator]]: the poll loop as a file-source stream of new
  *     url rows + `foreachBatch` running the stage-1 transform with
  *     checkpointed exactly-once-ish semantics (replayed batches are
  *     deduped by the store's unique keys — the swallowed-duplicate
  *     behavior doubles as idempotent replay);
  *   - [[Sessionize]]: `mapGroupsWithState` custom state — the
  *     session-window shape a training-data pipeline needs for
  *     clickstream/interaction data.
  */
object Streaming {

  /** Streaming source over the events table. The `ts` encoding is NOT
    * pinned: a one-time batch read takes the real footer schema (file
    * streams require an explicit schema) and [[graft.Tables.eventTime]]
    * adapts by type — legacy nanos-as-INT64, µs TIMESTAMP_NTZ, or µs
    * TIMESTAMP all land on the same watermark-eligible TimestampType.
    * Producer encodings vary at scale; schema-pinning here once silently
    * compressed every event time 1000× when the producer switched ns→µs. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    spark.readStream.schema(schema)
      // file-stream sources take a directory; restrict to the events table
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", graft.Tables.eventTime(schema, "ts"))
  }

  /** Watermarked SESSION-window aggregate — the native
    * `session_window` state machinery (dynamic-gap windows that merge as
    * events arrive, the hardest streaming-aggregation state shape) over
    * the event stream: events of one user belong to one session while
    * gaps stay under `gap`. Equivalent to the batch gaps-and-islands
    * sessionization ([[sessionize]] / the `q_sessions` plan), which is
    * what the gate's oracle replays. */
  def sessionWindowAggregates(events: DataFrame,
                              gap: String = "30 minutes",
                              watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Watermarked tumbling-window aggregate: count + sum(value) per
    * (window, event_type). Late data beyond 10 minutes is dropped —
    * state stays bounded no matter how long the stream runs. */
  def windowedAggregates(events: DataFrame,
                         window: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  /** Run the windowed aggregate over the (bounded) events table via a
    * memory sink and return the result — batch-equivalent smoke path. */
  def runWindowedOnce(spark: SparkSession, dir: String,
                      queryName: String = "graft_events_agg"): DataFrame = {
    val q = windowedAggregates(readEventStream(spark, dir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exact dedup: drop any document whose normalized fingerprint
    * was already seen — state is the fingerprint set, bounded by the
    * watermark (older-than-watermark fingerprints are evicted, so an
    * endless stream doesn't accumulate state forever; duplicates arriving
    * later than the watermark pass through — the standard trade).
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: Spark only
    * evicts plain-dropDuplicates state when the event-time column is part
    * of the key, and `__fp` alone isn't — the fingerprint set would grow
    * forever on an endless stream (per-task OOM) and the documented
    * "late duplicate passes through" behavior would never happen. The
    * WithinWatermark variant is the API built for exactly this shape. */
  def streamingDedup(docs: DataFrame, textCol: String,
                     tsCol: String, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stream-stream self-join with watermarks: pair each "view"-class event
    * with "click"-class events by the same user within the next hour —
    * the attribution-join shape; both sides watermarked so join state is
    * bounded (late side evicted after the interval + watermark).
    *
    * `joinType = "left_outer"` gives the unmatched-conversion variant: a
    * view with NO click inside the interval emits once with nulls, and
    * only once the watermark proves no matching click can still arrive —
    * the null row is produced by state EVICTION, not by the join probe,
    * which is why outer stream-stream joins require both watermarks and
    * the time-range condition. */
  def attributionJoin(events: DataFrame,
                      leftType: String, rightType: String,
                      withinMinutes: Int = 60,
                      watermark: String = "30 minutes",
                      joinType: String = "inner"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts").as("l_ts"), col("event_id").as("l_id"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("r_id"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Input/output rows of the [[statefulDedup]] operator. */
  final case class DocArrival(doc_id: Long, fp: Long)
  final case class DocSeen(doc_id: Long, fp: Long, occurrence: Long)

  /** First-seen streaming dedup with occurrence accounting on the modern
    * Spark 4 `transformWithState` API (arbitrary stateful processing v2 —
    * typed per-key [[org.apache.spark.sql.streaming.ValueState]] in the
    * RocksDB state store, the successor of `mapGroupsWithState`). Every
    * arrival is emitted with its per-fingerprint occurrence number
    * (1 = first sighting = the dedup survivor; >1 = duplicate, and the
    * count doubles as dup-frequency accounting a curation pipeline
    * reports). State is one 8-byte counter per distinct fingerprint. */
  final class FirstSeenProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DocArrival, DocSeen] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues}
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DocArrival],
                                 timerValues: TimerValues): Iterator[DocSeen] = {
      var n = if (seen.exists()) seen.get() else 0L
      val out = rows.map { d =>
        n += 1
        DocSeen(d.doc_id, key, n)
      }.toVector
      seen.update(n)
      out.iterator
    }
  }

  /** Keyed `transformWithState` wiring for [[FirstSeenProcessor]]. */
  def statefulDedup(docs: Dataset[DocArrival]): Dataset[DocSeen] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .transformWithState(new FirstSeenProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One sessionization record per (user, session). */
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Int)
  final case class SessionState(startMs: Long, lastMs: Long, n: Int)

  /** Event-time sessionization with a gap timeout, via
    * `flatMapGroupsWithState` — the reference has nothing like it;
    * included as the canonical custom-state operator (SURVEY §2.F →
    * Spark mapping).
    *
    * BOUNDED-INPUT semantics: each group is processed once and the
    * trailing session is closed and emitted — correct for batch Datasets
    * and single-batch (AvailableNow) runs. On a MULTI-batch stream this
    * shape re-emits a session that spans batches (Append mode cannot
    * retract) and its NoTimeout state lives forever — use
    * [[sessionizeStream]] there, which holds the open session in state
    * and emits it exactly once via event-time timeout. */
  def sessionize(events: Dataset[(Long, java.sql.Timestamp)],
                 gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          // batch-style grouping: emit a session per gap break
          val times = rows.map(_._2.getTime).toSeq.sorted
          val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur: Option[SessionState] = state.getOption
          times.foreach { t =>
            cur match {
              case Some(s) if t - s.lastMs <= gapMs =>
                cur = Some(s.copy(lastMs = t, n = s.n + 1))
              case Some(s) =>
                sessions += SessionOut(user, new java.sql.Timestamp(s.startMs),
                  new java.sql.Timestamp(s.lastMs), s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur match {
            case Some(s) =>
              state.update(s)
              // close the trailing session too (bounded-input semantics)
              sessions += SessionOut(user, new java.sql.Timestamp(s.startMs),
                new java.sql.Timestamp(s.lastMs), s.n)
            case None =>
          }
          sessions.iterator
      }
  }

  /** Per-user set of not-yet-final sessions, ordered by startMs. */
  final case class SessionsState(held: Seq[SessionState])

  /** MULTI-batch streaming sessionization: EVERY session — the open
    * trailing one AND sessions closed by an intra-batch gap — is HELD in
    * state until the event-time watermark proves no admissible late event
    * can still extend or bridge it (`lastMs + gap < watermark`), then
    * surfaces exactly once. Holding intra-batch-closed sessions matters:
    * a late-but-within-watermark cross-batch event may land INSIDE an
    * earlier session's span, or bridge two held sessions into one —
    * emitting at the first gap sighting would make that event extend the
    * wrong session (Append mode cannot retract). Each invocation
    * re-merges the held intervals with the batch's events (sort by start;
    * merge while `next.start - cur.last <= gap`), so bridging composes
    * naturally. Requires `withWatermark` on the timestamp column upstream
    * (EventTimeTimeout's contract — which also filters rows older than
    * the watermark before they reach this operator, bounding how late a
    * merge can arrive). State per user is the pending-session list,
    * watermark-bounded like any session-window store. */
  def sessionizeStream(events: Dataset[(Long, java.sql.Timestamp)],
                       gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionsState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionsState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(_.held).getOrElse(Seq.empty)
          // merge held intervals with the batch's events (each a
          // single-point session): one sorted sweep handles extension,
          // containment, AND bridging two held sessions
          val points = rows.map(r => SessionState(r._2.getTime, r._2.getTime, 1))
          val merged = (prior ++ points).sortBy(s => (s.startMs, s.lastMs))
            .foldLeft(List.empty[SessionState]) {
              case (cur :: done, s) if s.startMs - cur.lastMs <= gapMs =>
                SessionState(cur.startMs, math.max(cur.lastMs, s.lastMs),
                  cur.n + s.n) :: done
              case (acc, s) => s :: acc
            }.reverse
          // a session is final only once the watermark passes its expiry:
          // any future event has ts >= wm (older rows were filtered), so
          // `lastMs + gap < wm` means nothing can extend or bridge it —
          // its ONE emission (this also services hasTimedOut batches,
          // where `rows` is empty and `merged` == the held list)
          val (ripe, held) = merged.partition(_.lastMs + gapMs < wm)
          if (held.isEmpty) state.remove()
          else {
            state.update(SessionsState(held))
            // earliest pending expiry, clamped above the watermark (the
            // setTimeoutTimestamp contract); fires when wm passes it
            state.setTimeoutTimestamp(
              math.max(held.map(_.lastMs + gapMs).min, wm + 1))
          }
          ripe.iterator.map(s => SessionOut(user,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n))
      }
  }
}

/** Streaming stage-1: new `GooglePlaceUrlToScrape` rows land as parquet in
  * `inboxDir`; each micro-batch ingests them into the store (idempotently —
  * unique url/id keys swallow replays) and runs the locator transform.
  * `Trigger.AvailableNow` + checkpoint = the incremental batch pattern the
  * reference's poll loop approximates. */
final class IncrementalLocator(
    store: PipelineStore, extractor: PlacesExtractor,
    inboxDir: String, checkpointDir: String) {

  def runOnce(spark: SparkSession): Unit = {
    val stream = spark.readStream
      .schema(graft.pipeline.Entities.googlePlaceUrlToScrape)
      .parquet(inboxDir)
      // in-flight counters ride every micro-batch; a registered
      // ObservedMetricsListener reports them at each trigger boundary
      // (the reference's periodic metric dump, locator.ts:210-226)
      .observe("locator_ingest",
        count(lit(1)).as("rows"),
        count(when(col("status").isNull, 1)).as("pending"))
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent ingest: replays hit the unique keys and are
        // swallowed. Retried on OCC conflict like every other store
        // write in the pipeline (each Stages run is one retried
        // transaction) — an unretried P2034 would propagate out of
        // foreachBatch and kill the whole streaming query.
        graft.pipeline.Retry.onConflict() {
          store.urls.createMany(batch, skipDuplicates = true)
        }
        // drain the pending slice this batch created
        Stages.runLocator(store, extractor)
        ()
      }
      .start()
    q.awaitTermination()
  }
}
