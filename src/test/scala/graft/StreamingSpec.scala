package graft

import scala.annotation.nowarn
import org.apache.spark.sql.functions._
import graft.streaming.Events

/** Structured Streaming: the streaming path must agree with the identical
  * batch transform (same code, incremental execution). */
@nowarn("cat=deprecation") // batch-differential intentionally uses sessionize
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // --- r16 flake instrumentation (VERDICT r15 #1) --------------------------
  // One transient failure at the r15 218-row head never reproduced and was
  // never attributed because the run's streaming internals were gone. Every
  // query lifecycle event and per-batch progress (batchId, watermark, state
  // rows, commit timing) now lands in a JSONL file under target/, so ANY
  // future failure carries its own post-mortem. The listener bus is async
  // and the file is append-only per run — cost is noise-level.
  private val streamLog = {
    val dir = java.nio.file.Paths.get("target", "streaming-progress")
    java.nio.file.Files.createDirectories(dir)
    dir.resolve(s"run-${System.currentTimeMillis}-${System.nanoTime % 100000}.jsonl")
  }
  private def logLine(s: String): Unit = synchronized {
    java.nio.file.Files.writeString(streamLog, s + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }
  // Full JSON string escape (the Verify.q escaper): the name and the
  // exception text are free-form — a quote or backslash in either
  // would corrupt exactly the post-mortem JSONL this listener exists
  // to preserve (the r16 quote-to-apostrophe rewrite mangled quotes
  // AND still let a backslash through).
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      logLine(s"""{"ev":"start","t":${System.currentTimeMillis},""" +
        s""""name":${Option(e.name).map(jq).getOrElse("null")},"runId":"${e.runId}"}""")
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      logLine(s"""{"ev":"progress","t":${System.currentTimeMillis},"p":${e.progress.json}}""")
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      logLine(s"""{"ev":"term","t":${System.currentTimeMillis},"runId":"${e.runId}",""" +
        s""""exception":${e.exception.map(jq).getOrElse("null")}}""")
  })
  /** per-batch (batchId → state rows) trail for state-bound assertions —
    * inlined into the failure message so a flake self-attributes. */
  private def stateTrail(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.recentProgress.map(p => s"b${p.batchId}:" +
      p.stateOperators.map(_.numRowsTotal).mkString("[", ",", "]") +
      s"@wm=${Option(p.eventTime).flatMap(m => Option(m.get("watermark"))).getOrElse("-")}")
      .mkString(" ")

  test("streaming hourlyStats over parquet equals the batch result") {
    val batchEvents = Tables.events(spark, sfSmoke)
    // stage µs-normalized events so readStream sees a plain timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val expected = Events.hourlyStats(spark.read.parquet(dir))
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val got = Events.runStreamToMemory(spark, dir, "hourly_smoke")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("sessionize agrees with the batch gaps-and-islands query") {
    val ev = Tables.events(spark, sfSmoke)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Events.Event]
    val sessions = Events.sessionize(ev)
    val perUser = sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = SparkEntry.queries("q51_sessions")(spark, sfSmoke)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perUser == batch)
  }

  test("sessionizeStream: event-time timeout closes sessions across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long, user: Long) = Events.Event(
      id, new java.sql.Timestamp(minute * 60000L), user, "click", 1.0)
    val src = MemoryStream[Events.Event]
    val q = Events.sessionizeStream(src.toDS(), watermarkDelay = "0 seconds")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_stream").start()
    try {
      // batch 1: user 1 has two sessions already separated by > 30 min —
      // the older closes immediately; the newer stays open in state
      // (timeline starts at minute 100: event time 0 is not after the
      // initial watermark 0 and would be dropped as late)
      src.addData(ev(1, 100, 1), ev(2, 110, 1), ev(3, 220, 1))
      q.processAllAvailable()
      val afterB1 = spark.table("sess_stream").collect()
      assert(afterB1.length == 1 && afterB1.head.getLong(2) == 2)
      // batch 2: a much later event advances the watermark past the open
      // session's gap end → it times out and closes (n_events = 1)
      src.addData(ev(4, 700, 2))
      q.processAllAvailable()
      src.addData(ev(5, 800, 2))
      q.processAllAvailable()
      val rows = spark.table("sess_stream").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(rows.contains((1L, 1L)), s"open session did not time out: ${rows.mkString}")
    } finally q.stop()
  }

  test("sessionizeStream: out-of-order event above watermark does not regress the open session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long, user: Long) = Events.Event(
      id, new java.sql.Timestamp(minute * 60000L), user, "click", 1.0)
    val src = MemoryStream[Events.Event]
    val q = Events.sessionizeStream(src.toDS(), watermarkDelay = "1 hour")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_ooo").start()
    try {
      // minute 200, then an out-of-order 195 (above watermark 140): the
      // merge must keep lastTs = 200 — a regressed lastTs = 195 would make
      // the next event at 228 look like a 33-min gap and split the session
      src.addData(ev(1, 200, 1)); q.processAllAvailable()
      src.addData(ev(2, 195, 1)); q.processAllAvailable()
      src.addData(ev(3, 228, 1)); q.processAllAvailable()
      // advance the watermark far past the open session's gap end so it
      // times out and emits
      src.addData(ev(4, 400, 2)); q.processAllAvailable()
      src.addData(ev(5, 500, 2)); q.processAllAvailable()
      val u1 = spark.table("sess_ooo").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getTimestamp(1).getTime / 60000L, r.getLong(2), r.getDouble(3)))
      assert(u1.toSeq == Seq((195L, 3L, 1980.0)),
        s"expected one merged session (start 195, 3 events, 1980 s), got ${u1.mkString(", ")}")
    } finally q.stop()
  }

  test("topItemsWindowed: incremental MG state across batches equals " +
    "batch counts in the exact regime") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def at(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime + min * 60000L)
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val q = Events.topItemsWindowed(
        src.toDF().toDF("ts", "item").withWatermark("ts", "1 hour"),
        "item", k = 16)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("hh_stream").start()
    try {
      src.addData((at(0), "a"), (at(1), "b"), (at(2), "a"))
      q.processAllAvailable()
      // second batch updates the SAME window's state-store buffer
      src.addData((at(30), "a"), (at(31), "c"), (at(59), "b"), (at(5), "a"))
      q.processAllAvailable()
      val rows = spark.table("hh_stream")
        .select(col("window_start"), explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.cnt"))
        .as[(String, Long)].collect().toSeq
      assert(rows == Seq(("a", 4L), ("b", 2L), ("c", 1L)))
    } finally q.stop()
  }

  test("topItemsWindowed state is bounded by open WINDOWS, not item " +
    "cardinality, across many micro-batches") {
    // 10 batches x 500 distinct items each — 5 000 items total, all into
    // a handful of 1-hour windows. A per-item-count design would hold
    // 5 000 state rows; the MG window aggregate holds ONE buffer row per
    // window, and the watermark expires closed windows. The state-store
    // row count is read from the query's progress metrics.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def at(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val q = Events.topItemsWindowed(
        src.toDF().toDF("ts", "item").withWatermark("ts", "30 minutes"),
        "item", k = 16)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hh_state_scale").start()
    try {
      for (b <- 0 until 10) {
        // batch b sits in window b/2 (two batches per hour window)
        src.addData((0 until 500).map(i =>
          (at(b * 30 + i % 30), s"item_${b}_$i")): _*)
        q.processAllAvailable()
      }
      val maxStateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      // bound: open windows within the watermark horizon (~2) plus one
      // in-flight — NEVER the 5 000 distinct items
      assert(maxStateRows <= 4,
        s"state rows $maxStateRows — grows with item cardinality; " +
          s"trail: ${stateTrail(q)}")
    } finally q.stop()
  }

  test("dedupStream state expires with the watermark under high key " +
    "cardinality (rows bounded by the horizon, not the stream)") {
    // 10 batches x 400 NEW keys each, event time advancing one hour per
    // batch with a 30-minute watermark delay: every key is unique (all
    // 4 000 emit), but expired keys must leave the store — total state
    // stays around the last horizon's worth, never the full key history.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long) = Events.Event(
      id, new java.sql.Timestamp(minute * 60000L), 1L, "click", 1.0)
    val src = MemoryStream[Events.Event]
    val q = Events.dedupStream(src.toDS().toDF(), Seq("event_id"), "30 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_state_scale").start()
    try {
      // base offset: batch 0 at epoch would sit exactly ON the initial
      // watermark (0) and dropDuplicatesWithinWatermark discards it
      for (b <- 0 until 10) {
        src.addData((0 until 400).map(i =>
          ev(b * 1000L + i, 100000L + b * 60L)): _*)
        q.processAllAvailable()
      }
      val out = spark.table("dedup_state_scale").count()
      assert(out == 4000L, s"every unique key must emit, got $out")
      val finalStateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).last
      // horizon = 30 min at one 400-key batch/hour: at most the last
      // batch plus one not-yet-cleaned batch may remain
      assert(finalStateRows <= 800,
        s"state rows $finalStateRows — watermark expiry not bounding " +
          s"state; trail: ${stateTrail(q)}")
    } finally q.stop()
  }

  test("dedupStream drops within-watermark duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long) = Events.Event(
      id, new java.sql.Timestamp(minute * 60000L), 1L, "click", 1.0)
    val src = MemoryStream[Events.Event]
    val q = Events.dedupStream(src.toDS().toDF(), Seq("event_id"), "30 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_stream").start()
    try {
      src.addData(ev(1, 100), ev(2, 110)); q.processAllAvailable()
      // a cross-batch duplicate of id 1 within the watermark horizon drops
      src.addData(ev(1, 111), ev(3, 120)); q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("stream-static enrichment attaches dim attributes, unmatched keys stay null") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long) = Events.Event(
      id, new java.sql.Timestamp(6000000L + id * 60000L), user, "click", 1.0)
    val dim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "tier")
    val src = MemoryStream[Events.Event]
    val q = Events.enrichStream(src.toDS().toDF(), dim, Seq("user_id"))
      .select("event_id", "tier")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enrich_stream").start()
    try {
      src.addData(ev(1, 1), ev(2, 2), ev(3, 99)); q.processAllAvailable()
      val got = spark.table("enrich_stream").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> Some("gold"), 2L -> Some("free"), 3L -> None))
    } finally q.stop()
  }

  test("parseJson composes with streaming: payload fields feed a windowed agg") {
    // the log-ingest shape: JSON payload parsed schema-on-read INSIDE the
    // stream (scan-stage from_json, no UDF), typed field aggregated under
    // a watermark — malformed payloads flow through as nulls, not errors
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val parsed = src.toDS().toDF("ts", "props")
      .withColumn("k",
        graft.api.functions.parseJson(col("props"), "k BIGINT").getField("k"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "60 minutes"))
      .agg(sum("k").as("k_sum"), count(when(col("k").isNull, 1)).as("n_bad"))
      .select(col("window.start").as("w"), col("k_sum"), col("n_bad"))
    val q = parsed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("json_stream").start()
    try {
      src.addData((ts(10), """{"k": 5}"""), (ts(20), """{"k": 7}"""),
        (ts(30), """broken""")) // malformed → null k, counted not crashed
      q.processAllAvailable()
      src.addData((ts(200), """{"k": 1}""")) // advances watermark, closes w0
      q.processAllAvailable()
      val rows = spark.table("json_stream").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000L,
          r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((0L, 12L, 1L)), s"got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream join within a time bound matches across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Events.joinStreamsWithin(
      clks.toDS().toDF("clk_user", "clk_ts", "clk_id"),
      imps.toDS().toDF("imp_user", "imp_ts", "ad"),
      "clk_user", "imp_user", "clk_ts", "imp_ts", within = "30 minutes")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_join").start()
    try {
      imps.addData((1L, ts(100), "adA"), (2L, ts(100), "adB"))
      q.processAllAvailable()
      // click 20 min after user 1's impression → joins; click 40 min
      // after user 2's impression → outside the bound
      clks.addData((1L, ts(120), 11L), (2L, ts(140), 22L))
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getAs[Long]("clk_id"), r.getAs[String]("ad"))).toSet
      assert(rows == Set((11L, "adA")), s"got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("watermark + sliding windows: stream equals batch") {
    val ev = Tables.events(spark, sfSmoke)
    val slid = Events.slidingStats(Events.withLateData(ev))
    assert(slid.count() > 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_slide").toString
    ev.write.mode("overwrite").parquet(dir)
    val expected = Events.slidingStats(spark.read.parquet(dir))
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val got = Events.runStreamToMemory(spark, dir, "sliding_smoke",
        Events.slidingStats)
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("DedupStream minhash recipe: multi-batch survivors equal the " +
    "one-shot batch dedup; state table accumulates every processed doc") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import graft.streaming.DedupStream
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (state, out, ckpt) = (tmp("dd_state"), tmp("dd_out"), tmp("dd_ckpt"))
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"),
          (2L, "the quick brown fox jumps over the lazy dog tonight"),
          (3L, "completely different sentence about spark engines here")),
      Seq((4L, "the quick brown fox jumps over the lazy dog forever"),
          (5L, "another unique line of text with no twin at all")),
      Seq((6L, "completely different sentence about spark engines there"),
          (7L, "another unique line of text with no twin at dawn"),
          (8L, "an entirely fresh document that matches nothing else ever")))
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, bid: Long) =>
        DedupStream.minhashBatch(df, bid, "doc_id", "text", state, out,
          threshold = 0.5))
      .start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // batch analog over the union: drop the larger-id member of every pair
    val all = batches.flatten.toDF("doc_id", "text")
    val drop = graft.ops.Dedup.minhashLsh(all, "doc_id", "text", 0.5)
      .select("d2").as[Long].collect().toSet
    val expected = batches.flatten.map(_._1).toSet -- drop
    val schema = all.schema
    def kept() = DedupStream.readTable(spark, out, schema).get
      .select("doc_id").as[Long].collect().toSet
    val got = kept()
    assert(got == expected, s"stream kept $got, batch kept $expected")
    // the fixture actually exercises both paths: intra-batch (1,2) and
    // cross-batch (1,4)/(3,6)/(5,7) dups all dropped, originals kept
    assert(Set(1L, 3L, 5L, 8L).subsetOf(got) &&
      Set(2L, 4L, 6L, 7L).intersect(got).isEmpty)
    // state accumulated every processed doc, kept or dropped
    assert(DedupStream.readTable(spark, state, schema).get.count() == 8L)
    // at-least-once safety: REPLAY the last micro-batch (a foreachBatch
    // retry delivers the same rows under the same batchId). The
    // batch-keyed overwrite must leave output AND state byte-identical —
    // no duplicated survivors, no self-dedup against the prior attempt's
    // own state write.
    DedupStream.minhashBatch(batches(2).toDF("doc_id", "text"), 2L,
      "doc_id", "text", state, out, threshold = 0.5)
    assert(kept() == expected, "batch replay changed the survivor set")
    assert(DedupStream.readTable(spark, state, schema).get.count() == 8L,
      "batch replay duplicated state rows")
  }

  test("compactState folds committed batch subdirs into one compact " +
    "dir: survivors and state unchanged, subdir count bounded, the " +
    "max batch stays retry-safe, repeated compaction converges") {
    import graft.streaming.DedupStream
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (state, out) = (tmp("cs_state"), tmp("cs_out"))
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"),
          (2L, "completely different sentence about spark engines here")),
      Seq((3L, "another unique line of text with no twin at all")),
      Seq((4L, "the quick brown fox jumps over the lazy dog tonight")),
      Seq((5L, "an entirely fresh document that matches nothing else ever")),
      // batch 4 dups batch 0's doc 1 — provable only if the COMPACTED
      // state is still consulted — and batch 3's doc 5
      Seq((6L, "the quick brown fox jumps over the lazy dog forever"),
          (7L, "an entirely fresh document that matches nothing else today")))
    def runBatch(i: Int): Unit =
      DedupStream.minhashBatch(batches(i).toDF("doc_id", "text"), i.toLong,
        "doc_id", "text", state, out, threshold = 0.5)
    (0 until 4).foreach(runBatch)
    val schema = batches.head.toDF("doc_id", "text").schema
    def stateDirs() = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.startsWith("batch-")).toSet
    // compacts batches 0..2; batch 3 (max) must stay a separate subdir
    assert(DedupStream.compactState(spark, state, schema) == 3)
    assert(stateDirs() == Set("batch-2-compact", "batch-3"), stateDirs())
    // retry of the max batch AFTER compaction: still idempotent (its
    // own prior state write is still excludable)
    runBatch(3)
    // ingest continues against the compacted state
    runBatch(4)
    val all = batches.flatten.toDF("doc_id", "text")
    val drop = graft.ops.Dedup.minhashLsh(all, "doc_id", "text", 0.5)
      .select("d2").as[Long].collect().toSet
    val expected = batches.flatten.map(_._1).toSet -- drop
    val got = DedupStream.readTable(spark, out, schema).get
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected, s"stream kept $got, batch kept $expected")
    assert(!got.contains(6L) && !got.contains(7L),
      "cross-compaction dups not dropped — compacted state unread?")
    assert(DedupStream.readTable(spark, state, schema).get.count() ==
      batches.flatten.size.toLong)
    // second compaction folds the previous compact dir + batch 3
    assert(DedupStream.compactState(spark, state, schema) == 2)
    assert(stateDirs() == Set("batch-3-compact", "batch-4"), stateDirs())
    assert(DedupStream.readTable(spark, state, schema).get.count() ==
      batches.flatten.size.toLong)
    // nothing left to fold: no-op
    assert(DedupStream.compactState(spark, state, schema) == 0)
    // crash healing: simulate a compaction that wrote its target but
    // died before deleting sources — an OLDER compact blob survives
    // alongside the newer one, duplicating its rows in every read
    val total = batches.flatten.size.toLong
    DedupStream.readTable(spark, state, schema).get
      .write.parquet(s"$state/batch-2-compact") // stale remnant
    assert(DedupStream.readTable(spark, state, schema).get.count() > total,
      "remnant should duplicate state rows until healed")
    // the next call heals even when there is nothing new to fold
    assert(DedupStream.compactState(spark, state, schema) == 0)
    assert(stateDirs() == Set("batch-3-compact", "batch-4"), stateDirs())
    assert(DedupStream.readTable(spark, state, schema).get.count() == total,
      "healing must remove the duplicated remnant")
  }

  test("start(compactEvery = 2): auto-compaction wired into the drain " +
    "loop — survivors equal the one-shot batch dedup across 6 batches, " +
    "state subdirs stay bounded, a replayed max batch stays idempotent, " +
    "orphaned .compact-*-tmp dirs are healed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DedupStream
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (state, out, ckpt) = (tmp("ac_state"), tmp("ac_out"), tmp("ac_ckpt"))
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"),
          (2L, "completely different sentence about spark engines here")),
      Seq((3L, "another unique line of text with no twin at all")),
      Seq((4L, "the quick brown fox jumps over the lazy dog tonight")),
      Seq((5L, "an entirely fresh document that matches nothing else ever")),
      Seq((6L, "some words about streaming state compaction cadence now")),
      // dups of batch-0/batch-3 docs: provable only if the COMPACTED
      // state is still consulted by the later ingest
      Seq((7L, "the quick brown fox jumps over the lazy dog forever"),
          (8L, "an entirely fresh document that matches nothing else today")))
    val schema = batches.head.toDF("doc_id", "text").schema
    val src = MemoryStream[(Long, String)]
    // one AvailableNow drain per logical batch (the between-drains
    // posture compactState documents): batchIds increment across
    // restarts via the shared checkpoint, and compaction fires INSIDE
    // the foreachBatch body after every 2nd batch's writes land
    batches.zipWithIndex.foreach { case (b, i) =>
      // plant an orphaned crash remnant before the drain that compacts
      if (i == 5) {
        val orphan = new java.io.File(state, ".compact-99-tmp")
        orphan.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(orphan, "junk").toPath, "x")
      }
      src.addData(b: _*)
      val q = DedupStream.start(src.toDF().toDF("doc_id", "text"), ckpt,
        compactEvery = 2, compactDirs = Seq(state -> schema)) {
        (df, bid) => DedupStream.minhashBatch(df, bid, "doc_id", "text",
          state, out, threshold = 0.5)
      }
      q.awaitTermination()
    }
    def stateDirs() = new java.io.File(state).listFiles()
      .map(_.getName).filter(!_.startsWith(".")).toSet
    // after bid 5's compaction: batches ≤ 4 folded, max batch intact
    assert(stateDirs() == Set("batch-4-compact", "batch-5"), stateDirs())
    assert(!new java.io.File(state, ".compact-99-tmp").exists(),
      "orphaned tmp dir must be healed by the wired compaction")
    val all = batches.flatten.toDF("doc_id", "text")
    val drop = graft.ops.Dedup.minhashLsh(all, "doc_id", "text", 0.5)
      .select("d2").as[Long].collect().toSet
    val expected = batches.flatten.map(_._1).toSet -- drop
    def kept() = DedupStream.readTable(spark, out, schema).get
      .select("doc_id").as[Long].collect().toSet
    assert(kept() == expected, s"stream kept ${kept()}, batch kept $expected")
    assert(!kept().contains(7L) && !kept().contains(8L),
      "cross-compaction dups not dropped — compacted state unread?")
    assert(DedupStream.readTable(spark, state, schema).get.count() ==
      batches.flatten.size.toLong)
    // retry idempotence: replay the max batch (its subdir was never
    // folded); output and state must be unchanged
    DedupStream.minhashBatch(batches(5).toDF("doc_id", "text"), 5L,
      "doc_id", "text", state, out, threshold = 0.5)
    assert(kept() == expected, "max-batch replay changed the survivor set")
    assert(DedupStream.readTable(spark, state, schema).get.count() ==
      batches.flatten.size.toLong, "max-batch replay duplicated state rows")
  }

  test("DedupStream exact recipe: min-id per key across batches; " +
    "cross join ships keys only") {
    import graft.streaming.DedupStream
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (state, out) = (tmp("ex_state"), tmp("ex_out"))
    val batches = Seq(
      Seq((1L, "ka"), (2L, "ka"), (3L, "kb")),   // intra dup: 2 drops
      Seq((4L, "ka"), (5L, "kc")),               // cross dup: 4 drops
      Seq((6L, "kc"), (7L, "kd")))               // cross dup: 6 drops
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupStream.exactBatch(b.toDF("doc_id", "key"), i.toLong,
        "doc_id", "key", state, out)
    }
    val schema = batches.head.toDF("doc_id", "key").schema
    val got = DedupStream.readTable(spark, out, schema).get
      .select("doc_id").as[Long].collect().toSet
    // one-shot analog: min id per key over the union
    assert(got == Set(1L, 3L, 5L, 7L), s"got $got")
  }

  test("DedupStream exact recipe with the bloom pre-filter: survivors " +
    "identical to the plain path, incl. undersized-filter saturation") {
    import graft.streaming.DedupStream
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val batches = Seq(
      Seq((1L, "ka"), (2L, "ka"), (3L, "kb")),
      Seq((4L, "ka"), (5L, "kc")),
      Seq((6L, "kc"), (7L, "kd")))
    val schema = batches.head.toDF("doc_id", "key").schema
    // generous AND deliberately saturated (expected=1) capacities —
    // a tighter filter only raises fpp, never changes the answer
    for (es <- Seq(1024L, 1L)) {
      val (state, out) = (tmp("exb_state"), tmp("exb_out"))
      batches.zipWithIndex.foreach { case (b, i) =>
        DedupStream.exactBatch(b.toDF("doc_id", "key"), i.toLong,
          "doc_id", "key", state, out, expectedSeen = Some(es))
      }
      val got = DedupStream.readTable(spark, out, schema).get
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 3L, 5L, 7L),
        s"bloom path diverged at expectedSeen=$es: $got")
    }
  }

  test("DedupStream simhash recipe: multi-batch survivors equal the " +
    "one-shot simhash dedup of the union") {
    import graft.streaming.DedupStream
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (state, out) = (tmp("sh_state"), tmp("sh_out"))
    val batches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"),
          (2L, "the quick brown fox jumps over the lazy dog tonight"),
          (3L, "completely different sentence about spark engines here")),
      Seq((4L, "the quick brown fox jumps over the lazy dog today plus"),
          (5L, "another unique line of text with no twin at all")))
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupStream.simhashBatch(b.toDF("doc_id", "text"), i.toLong,
        "doc_id", "text", state, out, maxDist = 10)
    }
    val all = batches.flatten.toDF("doc_id", "text")
    val drop = graft.ops.Dedup.simhashPairs(all, "doc_id", "text",
      maxDist = 10).select("d2").as[Long].collect().toSet
    val expected = batches.flatten.map(_._1).toSet -- drop
    val got = DedupStream.readTable(spark, out, all.schema).get
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected, s"stream kept $got, batch kept $expected")
    assert(drop.nonEmpty, "fixture must exercise at least one drop")
  }

  test("DedupStream semantic recipe: multi-batch survivors equal the " +
    "one-shot SemDeDup of the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import graft.streaming.DedupStream
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (state, out, ckpt) = (tmp("sd_state"), tmp("sd_out"), tmp("sd_ckpt"))
    val centroids = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("cid", "embedding")
    val batches = Seq(
      Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.91f, 0.1f)),   // cell-0 twins
          (3L, Array(0.1f, 0.9f))),
      Seq((4L, Array(0.9f, 0.11f)),                            // twin of 1, cross
          (5L, Array(0.12f, 0.9f))))                           // twin of 3, cross
    val src = MemoryStream[(Long, Array[Float])]
    val q = src.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: DataFrame, bid: Long) =>
        DedupStream.semanticBatch(df, bid, "vec_id", "embedding", centroids,
          state, out, threshold = 0.995))
      .start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val all = batches.flatten.toDF("vec_id", "embedding")
    val expected = graft.ops.Similarity
      .semanticDedup(all, centroids, "vec_id", "embedding", 0.995)
      .select("vec_id").as[Long].collect().toSet
    val got = DedupStream.readTable(spark, out, all.schema).get
      .select("vec_id").as[Long].collect().toSet
    assert(got == expected, s"stream kept $got, batch kept $expected")
    assert(got == Set(1L, 3L), "only the smallest id of each twin group")
  }

  test("EnrichStream langid recipe: streamed enrichment equals the " +
    "batch prediction; batch replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{DedupStream, EnrichStream}
    import graft.ops.{ModelStore, TextAnalysis => TA}
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (out, ckpt, mdir) =
      (tmp("en_out"), tmp("en_ckpt"), tmp("en_model") + "/m")
    // train once, persist, reload — the score-many model the stream uses
    val labeled = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", "a stitch in time saves nine every single day"),
      ("de", "der schnelle braune fuchs springt über den faulen hund"),
      ("de", "übung macht den meister sagte die alte frau")
    ).toDF("lang", "text")
    ModelStore.saveLangProfiles(
      TA.fitLangProfiles(labeled, "lang", "text", buckets = 64), mdir)
    val profiles = ModelStore.loadLangProfiles(spark, mdir)
    val batches = Seq(
      Seq((1L, "the quick fox runs every day"),
          (2L, "der faule hund springt heute")),
      Seq((3L, "a lazy dog sleeps in time"),
          (4L, "die alte frau sagte nichts")))
    val src = MemoryStream[(Long, String)]
    // manual foreachBatch wiring (default trigger) so the MemoryStream
    // can feed multiple batches; langIdEnrich's AvailableNow drain is
    // the same batch function
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, bid: Long) =>
        EnrichStream.langIdBatch(df, bid, "doc_id", "text", profiles,
          buckets = 64, out))
      .start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val all = batches.flatten.toDF("doc_id", "text")
    val expected = all.join(
        TA.predictLangTrained(all, "doc_id", "text", profiles, 64),
        Seq("doc_id"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val schema = org.apache.spark.sql.types.StructType(
      all.schema.fields :+ org.apache.spark.sql.types.StructField(
        "lang", org.apache.spark.sql.types.StringType))
    def got() = DedupStream.readTable(spark, out, schema).get
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got() == expected, "streamed enrichment diverged from batch")
    // the model actually discriminates: en docs tag en, de docs de
    assert(got().map(r => r.head -> r.last).toMap ==
      Map(1L -> "en", 2L -> "de", 3L -> "en", 4L -> "de"))
    // at-least-once: replay the last micro-batch under its batchId
    EnrichStream.langIdBatch(batches(1).toDF("doc_id", "text"), 1L,
      "doc_id", "text", profiles, 64, out)
    assert(got() == expected, "batch replay duplicated enrichment rows")
  }

  test("EnrichStream bigram-LM recipe: streamed fluency stamps equal " +
    "the batch scorer from the SAME persisted model; sub-bigram docs " +
    "stay with null scores; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    import graft.streaming.{DedupStream, EnrichStream}
    import graft.ops.{ModelStore, TextAnalysis => TA}
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (out, ckpt, mdir) =
      (tmp("lm_out"), tmp("lm_ckpt"), tmp("lm_model") + "/m")
    val fit = Seq(
      ("the quick brown fox jumps over the lazy dog"),
      ("the lazy dog sleeps while the quick fox runs")).toDF("text")
    ModelStore.saveModelTable(TA.fitBigramLm(fit, "text"), mdir)
    val model = ModelStore.loadModelTable(spark, mdir, "h12")
    val batches = Seq(
      Seq((1L, "the quick fox runs"), (2L, "zq xv wk")),
      Seq((3L, "the lazy dog sleeps"), (4L, "one")))
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, bid: Long) =>
        EnrichStream.lmScoreBatch(df, bid, "doc_id", "text", model, out))
      .start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val all = batches.flatten.toDF("doc_id", "text")
    val expected = all.join(
        TA.bigramLmScoreWith(all, "doc_id", "text", model),
        Seq("doc_id"), "left")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val schema = StructType(all.schema.fields ++ Seq(
      StructField("n_bigrams", LongType), StructField("avg_logp", DoubleType)))
    def got() = DedupStream.readTable(spark, out, schema).get
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got() == expected, "streamed LM stamps diverged from batch")
    // the sub-bigram doc is PRESENT (left join) with null scores
    val short = got().find(_.head == 4L).get
    assert(short(2) == null && short(3) == null)
    // replay the last micro-batch under its batchId
    EnrichStream.lmScoreBatch(batches(1).toDF("doc_id", "text"), 1L,
      "doc_id", "text", model, out)
    assert(got() == expected, "batch replay duplicated enrichment rows")
  }

  test("enrichBatch releases exactly its own pins: the persistent-RDD " +
    "map returns to baseline and a STANDING caller pin survives usable") {
    import graft.streaming.EnrichStream
    import graft.ops.Materialize
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val standing = Materialize.pin(
      Seq((100L, "standing")).toDF("doc_id", "text"))
    assert(standing.count() == 1)
    // SET difference, not size equality: the persistent-RDD map is
    // global to the shared suite session, and Spark's ContextCleaner
    // asynchronously reaps GC'd pins from EARLIER tests at any moment
    // — a size captured before the batch can legitimately SHRINK while
    // it runs (the r15 transient flake, reproduced at soak run 3/20:
    // before=3 with two stale prior-test pins, after=1). The contract
    // under test is only "the batch leaves no NEW pin behind".
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val batch = Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    EnrichStream.enrichBatch(batch, 0L, tmp("eb_out")) { raw =>
      val b = Materialize.pin(raw)
      b.join(b.groupBy("doc_id").count(), Seq("doc_id"))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty,
      s"batch pins must be released when the write lands; leaked RDDs: $leaked")
    // the standing pin was NOT swept by the batch's release
    assert(standing.count() == 1, "caller's standing pin must survive")
  }

  test("EnrichStream tokenizer-stamp recipe: streamed byte-BPE token " +
    "counts from persisted merges equal batch; wordless docs keep a " +
    "null count; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    import graft.streaming.{DedupStream, EnrichStream}
    import graft.ops.{ByteBpe, ModelStore}
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (out, ckpt, mdir) =
      (tmp("tc_out"), tmp("tc_ckpt"), tmp("tc_model") + "/m")
    val fit = Seq("the quick brown fox jumps over the lazy dog",
      "über die brücke fährt der zug").toDF("text")
    ModelStore.saveBpeMerges(spark,
      ByteBpe.fit(fit, "text", numMerges = 10), mdir)
    val merges = ModelStore.loadBpeMerges(spark, mdir)
    val batches = Seq(
      Seq((1L, "the quick fox"), (2L, "über den zug")),
      Seq((3L, "a lazy dog jumps"), (4L, " ")))   // wordless doc
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, bid: Long) =>
        EnrichStream.tokenCountBatch(df, bid, "doc_id", "text", merges, out))
      .start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val all = batches.flatten.toDF("doc_id", "text")
    val expected = all.join(
        ByteBpe.encodedTokenCount(all, "doc_id", "text", merges),
        Seq("doc_id"), "left")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val schema = StructType(all.schema.fields :+
      StructField("n_bpe_tokens", LongType))
    def got() = DedupStream.readTable(spark, out, schema).get
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got() == expected, "streamed token stamps diverged from batch")
    assert(got().find(_.head == 4L).get(2) == null, "wordless doc count")
    EnrichStream.tokenCountBatch(batches(1).toDF("doc_id", "text"), 1L,
      "doc_id", "text", merges, out)
    assert(got() == expected, "batch replay duplicated enrichment rows")
  }

  test("EnrichStream ccnet recipe: streamed perplexity + persisted-" +
    "threshold buckets equal batch; uncovered languages keep null " +
    "stamps; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    import graft.streaming.{DedupStream, EnrichStream}
    import graft.ops.{ModelStore, TextAnalysis => TA}
    implicit val sc = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (out, ckpt, mdir, tdir) =
      (tmp("cc_out"), tmp("cc_ckpt"), tmp("cc_model") + "/m",
        tmp("cc_thr") + "/t")
    val fit = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", "a stitch in time saves nine every day"),
      ("en", "pack my box with five dozen liquor jugs"),
      ("de", "der schnelle fuchs springt heute sehr hoch"),
      ("de", "die alte frau sagte nichts mehr dazu"),
      ("xx", "solo")  // vocab, no bigrams: model sentinel, NO thresholds
    ).toDF("lang", "text")
    ModelStore.saveModelTable(TA.fitCcnetLm(fit, "text", "lang"), mdir)
    val model = ModelStore.loadModelTable(spark, mdir, "lang", "h12")
    // CCNet convention: terciles of the TRAINING ppl distribution
    val trainPpl = TA.ccnetPerplexityWith(
      fit.withColumn("doc_id", monotonically_increasing_id()),
      "doc_id", "text", "lang", model)
    ModelStore.saveModelTable(TA.quantileThresholds(
      trainPpl, "lang", col("ppl"), Seq(1.0/3, 2.0/3)), tdir)
    val thr = ModelStore.loadModelTable(spark, tdir, "lang")
    val batches = Seq(
      Seq((1L, "en", "the quick fox jumps today"),
          (2L, "de", "der fuchs springt heute")),
      Seq((3L, "en", "a lazy dog saves time"),
          (4L, "fr", "le renard saute haut"),    // uncovered language
          (5L, "xx", "solo act here")))  // model-covered, NO thresholds
    val src = MemoryStream[(Long, String, String)]
    val q = src.toDF().toDF("doc_id", "lang", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, bid: Long) =>
        EnrichStream.ccnetScoreBatch(df, bid, "doc_id", "text", "lang",
          model, Some(thr), out))
      .start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val all = batches.flatten.toDF("doc_id", "lang", "text")
    val scored = TA.ccnetPerplexityWith(all, "doc_id", "text", "lang", model)
    // mirror the recipe: the bucket LEFT-joins onto scored, so a
    // model-covered language missing from the threshold table keeps
    // its real ppl with a null bucket
    val stamped = scored.join(
      TA.bucketByThresholds(scored, "lang", col("ppl"), thr)
        .select(col("doc_id"), element_at(
          array(lit("head"), lit("middle"), lit("tail")),
          col("bucket") + 1).as("bucket")),
      Seq("doc_id"), "left")
    val expected = all.join(stamped.drop("lang"), Seq("doc_id"), "left")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val schema = StructType(all.schema.fields ++ Seq(
      StructField("n_bigrams", LongType), StructField("ppl", DoubleType),
      StructField("bucket", StringType)))
    def got() = DedupStream.readTable(spark, out, schema).get
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got() == expected, "streamed ccnet stamps diverged from batch")
    val byId = got().map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId(4L)(4) == null && byId(4L)(5) == null,
      "uncovered-language row must survive with null stamps")
    assert(Seq("head", "middle", "tail").contains(
      byId(1L)(5).asInstanceOf[String]))
    // model-covered language with no threshold row: REAL ppl (the
    // sentinel's open-vocab fallback), null bucket — never all-null
    assert(byId(5L)(4) != null && byId(5L)(5) == null,
      s"sentinel-language doc must keep its ppl: ${byId(5L)}")
    EnrichStream.ccnetScoreBatch(
      batches(1).toDF("doc_id", "lang", "text"), 1L,
      "doc_id", "text", "lang", model, Some(thr), out)
    assert(got() == expected, "batch replay duplicated enrichment rows")
  }
}
