package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (net-new vs the reference — SURVEY.md
  * §2.2 "Streaming": the reference has none; the 100 TB pipeline needs it).
  *
  * The transforms are written against plain DataFrames so the SAME code
  * path serves batch and stream — `hourlyStats(Tables.readParquet(spark, ...))`
  * and `hourlyStats(spark.readStream.parquet(...))` produce the same
  * logical plan, which Catalyst plans as micro-batch incremental
  * aggregation under `writeStream`.
  */
object Events {

  /** tumbling event-time window aggregate; on a stream, pair with
    * [[withLateData]] so state is bounded by the watermark. */
  def hourlyStats(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.api.functions.dsumD(col("value")).as("total_value"))
      .select(col("window").getField("start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** sliding window variant (1-hour window, 15-minute slide). */
  def slidingStats(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window").getField("start").as("window_start"),
        col("event_type"), col("n"))

  /** 1-hour watermark: bounds streaming state; late rows beyond it drop. */
  def withLateData(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")

  /** windowed heavy hitters on a stream: the Misra-Gries summary
    * ([[graft.expr.MisraGriesAgg]]) as a streaming window aggregate —
    * per-window state is ONE bounded k-counter buffer per partition
    * (TypedImperativeAggregate update/merge run incrementally in the
    * state store), so "top items per hour over an unbounded stream"
    * never holds per-item counts. Same guarantees as batch: exact when
    * a window's distinct items < k, n/k-bounded otherwise. Input needs
    * a watermark on `ts` (see [[withLateData]]) for state expiry.
    * Emits one row per window: (window_start, hh: array<struct<item,
    * cnt>>). */
  def topItemsWindowed(events: DataFrame, itemCol: String, k: Int,
                       windowLen: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), windowLen))
      .agg(graft.expr.HeavyHitters.misraGries(col(itemCol), k).as("hh"))
      .select(col("window").getField("start").as("window_start"), col("hh"))

  /** exact dedup on a stream — the streaming analog of `Dedup.exact`:
    * the first arrival of each key emits, later duplicates within the
    * watermark horizon drop, and key state EXPIRES once the watermark
    * passes (bounded state — a plain dropDuplicates on a stream keeps
    * every key forever). A duplicate arriving later than the watermark
    * delay after its original is treated as new: pick the delay from
    * the pipeline's actual duplicate lag. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment: attach a slowly-changing dimension to a
    * stream with a broadcast left join — per micro-batch, the dim is
    * re-read and broadcast, so dim updates between batches are picked
    * up and NO stream state accrues (contrast stream-stream joins,
    * which buffer both sides). The standard shape for decorating a
    * 100 TB/day event stream with user/item attributes. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    stream.join(broadcast(dim), keys, "left")
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Long, duration_sec: Double)

  /** Batch-complete sessionization with a 30-minute inactivity gap via
    * flatMapGroupsWithState. Mirrors the batch gaps-and-islands query
    * (q51_sessions) so the two can be differentially tested.
    *
    * DEPRECATED for streams: NoTimeout + a per-user LIST of sessions
    * means state grows with event count and trailing sessions never
    * close — on an unbounded stream use [[sessionizeStream]]
    * (EventTimeTimeout + watermark, one open session per user). */
  @deprecated("smoke-test/batch-differential only — unbounded state on a " +
    "real stream; use sessionizeStream", "round-3")
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[List[SessionState]]) =>
          // batch-complete semantics: fold this group's events in ts order,
          // emit every closed session plus the trailing open one.
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val sessions = sorted.foldLeft(List.empty[SessionState]) { (acc, e) =>
            val t = e.ts.getTime
            acc match {
              case head :: tail if t - head.lastTs <= gapMs =>
                head.copy(lastTs = t, nEvents = head.nEvents + 1) :: tail
              case _ => SessionState(t, t, 1) :: acc
            }
          }.reverse
          state.update(sessions)
          sessions.iterator.map(ss => SessionOut(userId,
            new java.sql.Timestamp(ss.sessionStart), ss.nEvents,
            (ss.lastTs - ss.sessionStart) / 1000.0))
      }
  }

  /** Production-shaped streaming sessionization: EventTimeTimeout +
    * watermark. State per user is ONE open session (bounded); closed
    * sessions emit as soon as a newer event proves the gap elapsed, and
    * the trailing session emits when the watermark passes its timeout —
    * so state size is O(users), not O(events), and output is final
    * (no retractions). Batch differential: same gap semantics as
    * [[sessionize]] / q51. */
  def sessionizeStream(events: Dataset[Event],
                       watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          def out(ss: SessionState) = SessionOut(userId,
            new java.sql.Timestamp(ss.sessionStart), ss.nEvents,
            (ss.lastTs - ss.sessionStart) / 1000.0)
          if (state.hasTimedOut) {
            val closed = out(state.get)
            state.remove()
            Iterator(closed)
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val start = state.getOption.map(List(_)).getOrElse(Nil)
            val sessions = sorted.foldLeft(start) { (acc, e) =>
              val t = e.ts.getTime
              acc match {
                case head :: tail if t - head.lastTs <= gapMs =>
                  // min/max merge: a cross-batch out-of-order event above
                  // the watermark but older than the open session must not
                  // regress lastTs (later gap checks would measure from a
                  // stale timestamp) and may extend the session backwards.
                  head.copy(
                    sessionStart = math.min(head.sessionStart, t),
                    lastTs = math.max(head.lastTs, t),
                    nEvents = head.nEvents + 1) :: tail
                case _ => SessionState(t, t, 1) :: acc
              }
            }
            val open :: closed = sessions: @unchecked
            state.update(open)
            // fire when the watermark passes the open session's gap end
            state.setTimeoutTimestamp(open.lastTs + gapMs)
            closed.reverseIterator.map(out)
          }
      }
  }

  /** Stream-stream inner join within an event-time bound — the
    * click-attribution primitive: right rows join left rows of the same
    * key whose timestamp falls in [rightTs, rightTs + within]. Both
    * sides carry watermarks, and the time bound is what lets Spark
    * EXPIRE join state (an unbounded-condition stream-stream join would
    * buffer both streams forever). Column names must be disjoint apart
    * from nothing — pass pre-renamed frames; `leftTs`/`rightTs` name
    * each side's event-time column. */
  def joinStreamsWithin(left: DataFrame, right: DataFrame,
                        leftKey: String, rightKey: String,
                        leftTs: String, rightTs: String,
                        within: String = "30 minutes",
                        watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(leftTs) >= col(rightTs) &&
        col(leftTs) <= col(rightTs) + expr(s"INTERVAL $within"),
      "inner")
  }

  /** run any same-code batch/stream transform over `sourceDir` parquet
    * into an in-memory table, synchronously (tests / local smoke).
    * Complete mode so every window is visible once the finite source
    * drains; a production deployment would use Append + watermark
    * ([[withLateData]]). Returns the result table. */
  def runStreamToMemory(spark: SparkSession, sourceDir: String, name: String,
                        transform: DataFrame => DataFrame = hourlyStats): DataFrame = {
    val schema = graft.Tables.readParquet(spark, sourceDir).schema
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    val q = transform(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }
}
