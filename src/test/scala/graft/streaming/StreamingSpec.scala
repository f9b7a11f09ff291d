package graft.streaming

import graft.SparkTestBase
import graft.pipeline._
import graft.store.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("windowed aggregate over the events stream matches the batch plan") {
    val streamed = Streaming.runWindowedOnce(spark, sfDir, "agg_spec")
      .select($"window.start".as("ws"), $"event_type", $"n", $"total_value")
    val batch = graft.Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
      .select($"window.start".as("ws"), $"event_type", $"n", $"total_value")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("stream-stream attribution join matches the batch interval join") {
    val stream = Streaming.attributionJoin(
      Streaming.readEventStream(spark, sfDir), "view", "click")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("attr_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("attr_spec")
    val ev = graft.Tables.events(spark, sfDir)
    val l = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("l_ts"), $"event_id".as("l_id"))
    val r = ev.filter($"event_type" === "click")
      .select($"user_id".as("r_user"), $"ts".as("r_ts"), $"event_id".as("r_id"))
    val batch = l.join(r, $"user_id" === $"r_user" && $"r_ts" >= $"l_ts" &&
        $"r_ts" <= $"l_ts" + expr("INTERVAL 60 MINUTES"))
      .select($"user_id", $"l_id", $"r_id", $"l_ts", $"r_ts")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("left-outer attribution join: unmatched views flush nulls via state eviction") {
    // Bound views to 2h before the earlier side-max so every unmatched
    // view's eviction horizon clears the final min-across-inputs
    // watermark — same construction as the q_stream_outer gate.
    val ev = graft.Tables.events(spark, sfDir)
    val cutoff = ev.agg(least(
        max(when($"event_type" === "view", $"ts")),
        max(when($"event_type" === "click", $"ts"))).as("m"))
      .select(($"m" - expr("INTERVAL 2 HOURS")).as("c"))
      .collect()(0).getTimestamp(0)
    val stream = Streaming.attributionJoin(
        Streaming.readEventStream(spark, sfDir), "view", "click",
        joinType = "left_outer")
      .filter($"l_ts" <= lit(cutoff))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("attr_outer_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("attr_outer_spec")
      .select($"user_id", $"l_id", coalesce($"r_id", lit(-1L)).as("r_id"))
    val l = ev.filter($"event_type" === "view" && $"ts" <= lit(cutoff))
      .select($"user_id", $"ts".as("l_ts"), $"event_id".as("l_id"))
    val r = ev.filter($"event_type" === "click")
      .select($"user_id".as("r_user"), $"ts".as("r_ts"), $"event_id".as("r_id"))
    val batch = l.join(r, $"user_id" === $"r_user" && $"r_ts" >= $"l_ts" &&
        $"r_ts" <= $"l_ts" + expr("INTERVAL 60 MINUTES"), "left_outer")
      .select($"user_id", $"l_id", coalesce($"r_id", lit(-1L)).as("r_id"))
    // the eviction-produced half must actually be present
    assert(streamed.filter($"r_id" === -1L).count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("sessionize groups events by gap, per user") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(10)),   // session A: 3 events
      (1L, ts(60)), (1L, ts(65)),               // session B: 2 events (50min gap)
      (2L, ts(0))                               // user 2: 1 session
    ).toDS()
    val out = Streaming.sessionize(events, gapMinutes = 30).collect()
      .groupBy(_.user_id)
    assert(out(1L).map(_.n_events).sorted.toSeq == Seq(2, 3))
    assert(out(2L).map(_.n_events).toSeq == Seq(1))
    val a = out(1L).find(_.n_events == 3).get
    assert(a.session_start == ts(0) && a.session_end == ts(10))
  }

  test("transformWithState first-seen dedup counts occurrences across batches") {
    import graft.streaming.Streaming.{DocArrival, DocSeen}
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tws").toString
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocArrival]
      val q = graft.streaming.Streaming.statefulDedup(input.toDS())
        .writeStream.format("memory").queryName("tws_dedup")
        .outputMode("append").option("checkpointLocation", ckpt)
        .start()
      try {
        input.addData(DocArrival(1, 100), DocArrival(2, 100), DocArrival(3, 200))
        q.processAllAvailable()
        // state survives to the next micro-batch: fp 100 continues at 3
        input.addData(DocArrival(4, 100), DocArrival(5, 300))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_dedup").as[DocSeen].collect()
      val byDoc = rows.map(r => r.doc_id -> r.occurrence).toMap
      assert(byDoc == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 3L, 5L -> 1L))
      // dedup survivors = occurrence 1
      assert(rows.filter(_.occurrence == 1L).map(_.doc_id).sorted.toSeq == Seq(1L, 3L, 5L))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionizeStream: a session spanning micro-batches emits EXACTLY once, on timeout") {
    // the bounded-input sessionize would emit the open trailing session
    // every batch (Append cannot retract); the streaming variant holds it
    // in state and closes it via event-time timeout
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val withWm = input.toDS()
      .withColumnRenamed("_2", "ts").withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp)]
    val q = graft.streaming.Streaming.sessionizeStream(withWm, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    try {
      // ts(60), not ts(0): the query starts with watermark 0, and an
      // event AT the watermark is dropped as late before reaching the
      // stateful operator
      input.addData((7L, ts(60)))
      q.processAllAvailable()
      // still open — NOTHING emitted yet (the bounded-input sessionize
      // would already have emitted it here, then AGAIN after the merge)
      assert(spark.table("sess_stream").count() == 0)
      input.addData((7L, ts(70))) // extends the same session across batches
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() == 0)
      // an event far past the gap closes the spanning session — its ONE
      // emission, carrying events from BOTH earlier batches
      input.addData((7L, ts(160)))
      q.processAllAvailable()
      // watermark far past the last session's timeout flushes it too
      input.addData((99L, ts(260)))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .as[graft.streaming.Streaming.SessionOut].collect()
      val u7 = rows.filter(_.user_id == 7L)
        .map(s => (s.session_start.getTime / 60000,
          s.session_end.getTime / 60000, s.n_events))
      assert(u7.length == 2, s"sessions must emit exactly once: ${u7.toSeq}")
      assert(u7.toSet == Set((60L, 70L, 2), (160L, 160L, 1)))
    } finally q.stop()
  }

  test("sessionizeStream: a late within-watermark event lands in the RIGHT held session") {
    // The hold-until-watermark contract: a session closed by an
    // intra-batch gap is NOT emitted at the gap sighting — a later
    // batch's late-but-admissible event may belong inside it (here) or
    // bridge two held sessions (next test). Emitting early would absorb
    // the late event into the wrong session.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-late").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // 2-hour watermark delay: after the {10min, 100min} batch the
    // watermark stays at 0, so the 20min event in the next batch is
    // admissible (not filtered as late)
    val withWm = input.toDS()
      .withColumnRenamed("_2", "ts").withWatermark("ts", "2 hours")
      .as[(Long, java.sql.Timestamp)]
    val q = graft.streaming.Streaming.sessionizeStream(withWm, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((5L, ts(10)), (5L, ts(100)))
      q.processAllAvailable()
      // intra-batch gap closed [10,10] — but it must be HELD, not emitted
      assert(spark.table("sess_late").count() == 0)
      // late cross-batch event inside the first session's reach
      input.addData((5L, ts(20)))
      q.processAllAvailable()
      // push the watermark past both sessions' expiries (400-120=280min)
      input.addData((99L, ts(400)))
      q.processAllAvailable()
      val u5 = spark.table("sess_late")
        .as[graft.streaming.Streaming.SessionOut].collect()
        .filter(_.user_id == 5L)
        .map(s => (s.session_start.getTime / 60000,
          s.session_end.getTime / 60000, s.n_events))
      assert(u5.toSet == Set((10L, 20L, 2), (100L, 100L, 1)),
        s"late event must extend the FIRST session: ${u5.toSeq}")
    } finally q.stop()
  }

  test("sessionizeStream: a late event BRIDGES two held sessions into one") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-bridge").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val withWm = input.toDS()
      .withColumnRenamed("_2", "ts").withWatermark("ts", "2 hours")
      .as[(Long, java.sql.Timestamp)]
    val q = graft.streaming.Streaming.sessionizeStream(withWm, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_bridge")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((6L, ts(10)), (6L, ts(70))) // 60min gap: two sessions held
      q.processAllAvailable()
      input.addData((6L, ts(40))) // within 30min of BOTH: merges them
      q.processAllAvailable()
      input.addData((99L, ts(400))) // watermark past every expiry
      q.processAllAvailable()
      val u6 = spark.table("sess_bridge")
        .as[graft.streaming.Streaming.SessionOut].collect()
        .filter(_.user_id == 6L)
        .map(s => (s.session_start.getTime / 60000,
          s.session_end.getTime / 60000, s.n_events))
      assert(u6.toSeq == Seq((10L, 70L, 3)),
        s"bridged sessions must emit as ONE: ${u6.toSeq}")
    } finally q.stop()
  }

  test("incremental locator: checkpointed stream ingests, processes, and replays idempotently") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream")
    val inbox = tmp.resolve("inbox"); val ckpt = tmp.resolve("ckpt")
    java.nio.file.Files.createDirectories(inbox)
    val store = new PipelineStore(spark, new Catalog(tmp.resolve("store").toString))

    def urlBatch(ids: Seq[Int]) = ids.map(i =>
      (s"g$i", s"https://maps.example/s$i", Some(s"L${i % 3}")))
      .toDF("id", "url", "location")
      .withColumn("status", lit(null).cast(BooleanType))
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))

    val loc = new IncrementalLocator(store, new SyntheticPlacesExtractor(2),
      inbox.toString, ckpt.toString)

    // batch 1
    urlBatch(1 to 10).coalesce(1).write.mode("append").parquet(inbox.toString)
    loc.runOnce(spark)
    assert(store.urls.snapshot().count() == 10)
    assert(store.urls.snapshot().filter($"status".isNull).count() == 0)
    val placesAfter1 = store.places.snapshot().count()
    assert(placesAfter1 > 0)

    // batch 2: new rows + checkpoint means batch 1 files are NOT re-read
    urlBatch(11 to 15).coalesce(1).write.mode("append").parquet(inbox.toString)
    loc.runOnce(spark)
    assert(store.urls.snapshot().count() == 15)

    // replay the same stream from scratch (fresh checkpoint): unique keys
    // swallow every duplicate — store state unchanged
    val loc2 = new IncrementalLocator(store, new SyntheticPlacesExtractor(2),
      inbox.toString, tmp.resolve("ckpt2").toString)
    loc2.runOnce(spark)
    assert(store.urls.snapshot().count() == 15)
    assert(store.places.snapshot().count() == store.places.snapshot().dropDuplicates("url").count())
  }

  test("StoreSink: replayed batches are no-ops, watermark commits atomically with data") {
    val cat = new Catalog(java.nio.file.Files.createTempDirectory("graft-sink").toString)
    val t = new graft.store.GraftTable(spark, cat, "ingest", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    val sink = StoreSink.exactlyOnceAppend(t, "s1")
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink(b0, 0L)
    sink(b0, 0L)                    // restart replays batch 0 → no-op
    assert(t.snapshot().count() == 2)
    assert(StoreSink.lastBatch(cat, t, "s1").contains(0L))
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    assert(t.snapshot().count() == 3)
    assert(StoreSink.lastBatch(cat, t, "s1").contains(1L))
    // a second independent stream owns its own watermark
    val sink2 = StoreSink.exactlyOnceUpsert(t, Seq("id"), "s2")
    sink2(Seq((3L, "c2"), (4L, "d")).toDF("id", "v"), 0L)
    assert(t.snapshot().count() == 4)
    assert(t.snapshot().filter($"id" === 3L).select("v").as[String].head() == "c2")
    assert(StoreSink.lastBatch(cat, t, "s2").contains(0L))
    assert(StoreSink.lastBatch(cat, t, "s1").contains(1L))
  }

  test("StoreSink: a zombie writer holding a stale watermark fails its commit (P2034)") {
    val cat = new Catalog(java.nio.file.Files.createTempDirectory("graft-zombie").toString)
    val t = new graft.store.GraftTable(spark, cat, "z", StructType(Seq(
      StructField("id", LongType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    // both instances read the manifest BEFORE either commits (the TOCTOU
    // window: instance A finishes batch 0 while zombie B is mid-write)
    val staleBaseline = cat.manifest().get(Catalog.StreamTable)
    val txnA = new graft.store.Txn(cat)
    txnA.createMany(t, Seq(1L).toDF("id"), skipDuplicates = false)
    txnA.recordStreamBatch(t, "s", 0L, staleBaseline)
    txnA.commit()
    // zombie B still holds the pre-A baseline → its commit must FAIL
    // instead of silently double-applying batch 0
    val txnB = new graft.store.Txn(cat)
    txnB.createMany(t, Seq(2L).toDF("id"), skipDuplicates = false)
    txnB.recordStreamBatch(t, "s", 0L, staleBaseline)
    intercept[graft.store.ConcurrentModificationException] { txnB.commit() }
    // nothing of B's was published
    assert(t.snapshot().select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("StoreSink drives a real memory-stream query end-to-end exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = new Catalog(java.nio.file.Files.createTempDirectory("graft-sink-q").toString)
    val t = new graft.store.GraftTable(spark, cat, "stream_docs", StructType(Seq(
      StructField("id", LongType, nullable = false))),
      uniqueKeys = Seq(Seq("id")))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDS().toDF("id").writeStream
      .foreachBatch(StoreSink.exactlyOnceAppend(t, "mq"))
      .start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      input.addData(4L)
      q.processAllAvailable()
    } finally q.stop()
    assert(t.snapshot().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(StoreSink.lastBatch(cat, t, "mq").nonEmpty)
  }

  test("awaitOrStop stops a stream that overruns its budget and names it") {
    // a rate source never runs dry, so the query can only end by the budget
    val q = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-await-q").toString)
      .start()
    try {
      val e = intercept[IllegalStateException] {
        graft.gates.Fixtures.awaitOrStop(q, "rate_forever", budgetMs = 1000L)
      }
      assert(e.getMessage.contains("rate_forever"))
      assert(!q.isActive, "the overrun query must be stopped")
    } finally q.stop()
  }
}
