package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Fixtures._

/** Structured Streaming gates: AvailableNow streams into parquet, the
  * exactly-once store sinks and the index refresh paths. Every stream but
  * q_stream_restart's crash-injected first query waits through
  * [[Fixtures.awaitOrStop]]. */
private[graft] object StreamingGates {

  val all: Seq[Gate] = Seq(
    // STREAMING ingest × persistent index: documents arrive through the
    // exactly-once streaming sink, and the SAME foreachBatch keeps the
    // dedup index current — StoreSink's watermark commit then
    // DedupIndex.refresh's cursor commit, each exactly-once under its
    // own manifest key, so a replayed batch is absorbed by the sink AND
    // drains nothing into the index. The probe runs from a reopened
    // handle against sketches that were maintained batch-by-batch, never
    // built from a full-corpus pass. Same planted-copy determinism as
    // q_dedup_persist.
    // Oracle: and through the STREAM-maintained sketch table (the mid-gate
    // REQUIREs pin the exactly-once sink/refresh composition)
    Gate("q_stream_index", (s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = tempDir("graft-streamidx-q")
      val cat = new graft.store.Catalog(tmp + "/cat")
      val src = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      val idx = graft.store.DedupIndex.build(src, "d1", "text", "doc_id",
        nBuckets = 4)
      val docSchema = Tables.documents(s, dir).schema
      val appendSink = graft.streaming.StoreSink.exactlyOnceAppend(src, "ingest")
      val sinkAndRefresh: (DataFrame, Long) => Unit = (df, batchId) => {
        appendSink(df, batchId)
        idx.refresh()
        ()
      }
      val q = s.readStream.schema(docSchema)
        .parquet(s"$dir/documents.parque[t]")
        .select(col("doc_id"), col("text"))
        .writeStream.foreachBatch(sinkAndRefresh)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt").start()
      awaitOrStop(q, "q_stream_index")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      require(idx.sketch.snapshot().count() == docs.count(),
        "q_stream_index: every streamed doc must be sketched")
      // replayed batch: sink absorbs it, the index drains nothing
      val cur = idx.currentThrough()
      sinkAndRefresh(docs, 0L)
      require(idx.currentThrough() == cur,
        "q_stream_index: a replayed batch must not advance the index")
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      graft.store.DedupIndex.open(src, "d1", "text", "doc_id")
        .dupsAgainst(batch)
        .filter(col("dup_of") === col("new_id") - 10000L)
        .select(col("new_id"), col("dup_of"), col("jaccard"))
        .orderBy(col("new_id"))
    }, """
      SELECT doc_id + 10000 AS new_id, doc_id AS dup_of,
             CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents WHERE doc_id % 4 = 0 ORDER BY new_id"""),

    // STREAMING ingest × persistent BM25 index — the q_stream_index
    // composition for the THIRD index type, and the common production
    // shape for keyword search (a continuously ingested corpus). The
    // index is built on the EMPTY table, so every posting and both
    // corpus scalars arrive exclusively through per-batch change-feed
    // refreshes riding behind StoreSink's exactly-once append; a
    // deliberately REPLAYED batch is absorbed by the sink's watermark
    // and must leave the postings cursor unmoved (the signed scalar
    // fold would double N/Σdl otherwise). The final search runs from a
    // reopened handle over postings that were maintained batch-by-batch
    // — never a corpus tokenize — and must hash-match a from-scratch
    // token-BM25 replay of the whole corpus.
    // Oracle: batch-by-batch postings maintenance must land on the SAME scores a
    // from-scratch token-BM25 over the final corpus computes — the
    // replay is q_bm25_persist's chain over the unmodified documents
    Gate("q_stream_bm25", (s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = tempDir("graft-streambm25-q")
      val cat = new graft.store.Catalog(tmp + "/cat")
      val src = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      val idx = graft.store.Bm25Index.build(src, "r1", "text", "doc_id",
        nBuckets = 4)
      val docSchema = Tables.documents(s, dir).schema
      val appendSink = graft.streaming.StoreSink.exactlyOnceAppend(src, "ingest")
      val sinkAndRefresh: (DataFrame, Long) => Unit = (df, batchId) => {
        appendSink(df, batchId)
        idx.refresh()
        ()
      }
      val q = s.readStream.schema(docSchema)
        .parquet(s"$dir/documents.parque[t]")
        .select(col("doc_id"), col("text"))
        .writeStream.foreachBatch(sinkAndRefresh)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt").start()
      awaitOrStop(q, "q_stream_bm25")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      require(idx.stats()._1 == docs.count(),
        "q_stream_bm25: every streamed doc must be counted in N")
      // replayed batch: the sink absorbs it, the postings drain nothing
      val cur = idx.currentThrough()
      sinkAndRefresh(docs, 0L)
      require(idx.currentThrough() == cur,
        "q_stream_bm25: a replayed batch must not advance the index")
      graft.store.Bm25Index.open(src, "r1", "text", "doc_id")
        .search(Seq("vector", "stream", "window"))
        .orderBy(col("doc_id"))
    }, """
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), t AS (
        SELECT doc_id,
               CAST(len(w) AS DOUBLE) AS dl,
               CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf0,
               CAST(len(list_filter(w, x -> x = 'stream')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
        FROM tok
      ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS avgdl,
               CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM t)
      SELECT doc_id,
             (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS n_terms,
             round(
               ln(1.0 + ((s.n - s.df0) + 0.5) / (s.df0 + 0.5))
                 * ((tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
               + ln(1.0 + ((s.n - s.df1) + 0.5) / (s.df1 + 0.5))
                 * ((tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
               + ln(1.0 + ((s.n - s.df2) + 0.5) / (s.df2 + 0.5))
                 * ((tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl)))),
               6) AS bm25
      FROM t, s
      WHERE (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
             + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
             + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) > 0
      ORDER BY doc_id"""),

    // STREAMING CRAWL INGESTION — the crawl front door composed with the
    // exactly-once streaming tier, end to end: the corpus lands on disk
    // as eight multi-record .warc.gz archives (many gzip members per
    // file — exactly how a crawler ships fetches), a real AvailableNow
    // file stream picks them up a few files per trigger, every batch
    // walks its archives (gzip → WARC → HTTP → HTML extraction, all
    // scan-side) and appends the extracted pages through StoreSink's
    // batch-id watermark. A deliberately REPLAYED batch must be a no-op
    // — the crash-recovery contract a continuously-ingesting corpus
    // depends on. The hash gate is the q_html_extract closed form
    // reached through file landing + streaming + the store round-trip.
    // Oracle: the q_html_extract closed form reached through landing + streaming
    Gate("q_stream_crawl", (s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = tempDir("graft-streamcrawl-q")
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      val warcDir = tmp + "/warc"
      new java.io.File(warcDir).mkdirs()
      Tables.documents(s, dir).select(W.warcSynth(col("doc_id"),
          H.htmlSynth(col("doc_id"), col("text"))).as("bytes"))
        .repartition(8)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val out = new java.io.FileOutputStream(
              s"$warcDir/crawl-$pid.warc.gz")
            try it.foreach(r => out.write(r.getAs[Array[Byte]]("bytes")))
            finally out.close()
          }
        }
      val cat = new graft.store.Catalog(tmp + "/cat")
      val store = new graft.store.GraftTable(s, cat, "pages", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      val appendSink = graft.streaming.StoreSink.exactlyOnceAppend(
        store, "crawl")
      def extract(files: DataFrame): DataFrame = files
        .select(explode(W.warcPages(col("content"))).as("p"))
        .select(
          regexp_extract(col("p.uri"), "/page/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          H.htmlText(col("p.body")).as("text"))
      val q = s.readStream.format("binaryFile")
        .schema(StructType(Seq(
          StructField("path", StringType),
          StructField("modificationTime", TimestampType),
          StructField("length", LongType),
          StructField("content", BinaryType))))
        .option("maxFilesPerTrigger", 3)
        .load(warcDir)
        .writeStream.foreachBatch { (df: DataFrame, bid: Long) =>
          appendSink(extract(df), bid); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt").start()
      awaitOrStop(q, "q_stream_crawl")
      val expected = Tables.documents(s, dir).count()
      require(store.snapshot().count() == expected,
        "q_stream_crawl: every page must land exactly once")
      // replayed batch 0: the sink's watermark absorbs it
      appendSink(extract(s.read.format("binaryFile").load(warcDir)), 0L)
      require(store.snapshot().count() == expected,
        "q_stream_crawl: a replayed batch must not duplicate pages")
      store.snapshot().orderBy(col("doc_id"))
    }, """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM tok
      ), par AS (
        SELECT doc_id, (idx - 1) // 8 AS grp,
               string_agg(word, ' ' ORDER BY idx) || ' & <tag> M! end' AS ptxt
        FROM words GROUP BY doc_id, (idx - 1) // 8
      ), agg AS (
        SELECT doc_id, string_agg(ptxt, chr(10) ORDER BY grp) AS text_out
        FROM par GROUP BY doc_id
      )
      SELECT d.doc_id, coalesce(a.text_out, '') AS text
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // Streaming ingest maintaining the THIRD persistent index — the
    // q_stream_index (dedup sketches) / q_stream_bm25 (postings) pattern
    // completed for the ANN codes table. The codebooks train on a stable
    // 3/4 prefix BEFORE the stream (a trained artifact must not depend
    // on nondeterministic batch boundaries); the stream then lands the
    // remaining quarter through the exactly-once StoreSink with a
    // per-batch frozen-codebook refresh, so the final index equals the
    // q_ann_persist build+refresh state regardless of how the source
    // split into batches — which is why the SAME symbolic oracle replays
    // it. A deliberately REPLAYED batch must advance neither the store
    // nor the index cursor.
    // Oracle: train on the 3/4 prefix + encode everything == the q_ann_persist
    // final state; frozen-codebook streaming refresh makes the result
    // batch-boundary-independent, so the SAME oracle replays it
    Gate("q_stream_ann", (s, dir) => {
      import org.apache.spark.sql.types._
      val tmp = tempDir("graft-streamann-q")
      val cat = new graft.store.Catalog(tmp + "/cat")
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val src = new graft.store.GraftTable(s, cat, "vecs", StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = true))),
        uniqueKeys = Seq(Seq("vec_id")))
      src.createMany(emb.filter(pmod(col("vec_id"), lit(4)) =!= 0))
      val idx = graft.store.AnnIndex.build(src, "e1", "embedding", "vec_id",
        nCells = 4, m = 4, k = 8, iters = 2)
      val embSchema = Tables.embeddings(s, dir).schema
      val appendSink = graft.streaming.StoreSink.exactlyOnceAppend(src, "ingest")
      val sinkAndRefresh: (DataFrame, Long) => Unit = (df, batchId) => {
        appendSink(df.filter(pmod(col("vec_id"), lit(4)) === 0)
          .select(col("vec_id"), col("embedding")), batchId)
        idx.refresh()
        ()
      }
      val q = s.readStream.schema(embSchema)
        .parquet(s"$dir/embeddings.parque[t]")
        .writeStream.foreachBatch(sinkAndRefresh)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt").start()
      awaitOrStop(q, "q_stream_ann")
      require(src.snapshot().count() == emb.count(),
        "q_stream_ann: every streamed vector must land in the store")
      require(idx.codes.snapshot().select(col("id")).distinct().count()
          == emb.count(),
        "q_stream_ann: every vector must carry codes after the drain")
      val cur = idx.currentThrough()
      sinkAndRefresh(Tables.embeddings(s, dir), 0L) // replayed batch
      require(idx.currentThrough() == cur,
        "q_stream_ann: a replayed batch must not advance the index")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.store.AnnIndex.open(src, "e1", "embedding", "vec_id")
        .search(queries, "qid", nProbe = 2, topk = 5)
        .orderBy(col("qid"), col("rank"))
    }, RetrievalGates.annPersistOracle(nCells = 4, nProbe = 2, m = 4,
      k = 8, iters = 2, topk = 5)),

    // Exactly-once streaming sink, driver-gated end-to-end: a REAL file-
    // source stream (Trigger.AvailableNow) appends the corpus through
    // StoreSink into a COW table; the committed batch is then DELIBERATELY
    // replayed (what a crash between data commit and checkpoint commit
    // does on restart) — the watermark makes it a no-op, and a failure of
    // the guard would throw P2002 on the duplicate ids, failing the gate
    // loudly. A second stream upserts v=-1 for doc_id%10==0 (the CDC
    // shape) and is replayed too. Oracle = DuckDB computing the same
    // final state directly.
    Gate("q_stream_store", (s, dir) => {
      val tmp = tempDir("graft-qstream")
      val cat = new graft.store.Catalog(tmp + "/cat")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true)))
      val t = new graft.store.GraftTable(s, cat, "stream_docs", schema,
        uniqueKeys = Seq(Seq("doc_id")))
      val docSchema = Tables.documents(s, dir).schema
      // glob form: the file source derives basePath from the glob's
      // parent DIRECTORY (a bare file path is rejected as basePath)
      def docStream() = s.readStream.schema(docSchema)
        .parquet(s"$dir/documents.parque[t]")

      val appendSink = graft.streaming.StoreSink.exactlyOnceAppend(t, "ingest")
      val q1 = docStream()
        .select(col("doc_id"), length(col("text")).cast("long").as("v"))
        .writeStream.foreachBatch(appendSink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt1").start()
      awaitOrStop(q1, "q_stream_store append")

      // replay batch 0 — must be absorbed by the committed watermark
      appendSink(Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("v")), 0L)

      val upsertSink =
        graft.streaming.StoreSink.exactlyOnceUpsert(t, Seq("doc_id"), "cdc")
      val q2 = docStream()
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), lit(-1L).as("v"))
        .writeStream.foreachBatch(upsertSink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt2").start()
      awaitOrStop(q2, "q_stream_store upsert")

      // replay the upsert batch as well — same no-op contract
      upsertSink(Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), lit(-1L).as("v")), 0L)

      t.snapshot().select(col("doc_id"), col("v")).orderBy(col("doc_id"))
    }, """
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN -1
                  ELSE length(text) END AS v
      FROM documents ORDER BY doc_id"""),

    // CRASH-RESTART exactly-once, across a REAL query restart: the
    // corpus lands as four files; a maxFilesPerTrigger=1 stream ingests
    // through StoreSink and the query is KILLED right after batch 1's
    // data+watermark commit lands in the store but BEFORE the streaming
    // checkpoint records the batch — the exact crash window at-least-once
    // foreachBatch cannot survive. A second query starts from the SAME
    // checkpoint: the offset log replays batch 1 (absorbed by the
    // committed txn watermark — a broken guard would P2002 on duplicate
    // ids), then batches 2..n process once. No duplicate, no lost batch
    // — the durable-workflow resume the reference gets from its runner
    // state machine (runner/locator.ts:15-36). Oracle = the batch union.
    // Oracle: crash-restart resume: exactly the corpus, each row once — a
    // replayed batch would P2002 in the query itself, a lost batch
    // leaves a doc_id%4 residue class missing
    Gate("q_stream_restart", (s, dir) => {
      val tmp = tempDir("graft-qrestart")
      val inbox = tmp + "/inbox"
      val cat = new graft.store.Catalog(tmp + "/cat")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true)))
      val t = new graft.store.GraftTable(s, cat, "restart_docs", schema,
        uniqueKeys = Seq(Seq("doc_id")))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("v"))
      (0 until 4).foreach(i => docs.filter(pmod(col("doc_id"), lit(4)) === i)
        .coalesce(1).write.mode("append").parquet(inbox))
      val sink = graft.streaming.StoreSink.exactlyOnceAppend(t, "restart")
      val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val crashing: (DataFrame, Long) => Unit = (df, id) => {
        sink(df, id) // store publishes data + batch watermark atomically
        if (id == 1 && crashArmed.get())
          throw new RuntimeException("graft: injected crash after commit")
      }
      def run() = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(inbox)
        .writeStream.foreachBatch(crashing)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt").start()
      // the injected crash is the TEST — silence MicroBatchExecution's
      // ERROR for the deliberately-dying first query (an ERROR line in
      // a green run trains people to ignore ERRORs), then restore
      val mbLogger = org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")
        .asInstanceOf[org.apache.logging.log4j.core.Logger]
      val prevLevel = mbLogger.getLevel
      mbLogger.setLevel(org.apache.logging.log4j.Level.FATAL)
      val q1 = run()
      try {
        scala.util.Try(q1.awaitTermination(StreamBudgetMs))
        require(q1.exception.isDefined,
          "q_stream_restart: the injected crash must kill the first query")
      } finally mbLogger.setLevel(prevLevel)
      crashArmed.set(false)
      val q2 = run()
      awaitOrStop(q2, "q_stream_restart")
      t.snapshot().select(col("doc_id"), col("v")).orderBy(col("doc_id"))
    }, """
      SELECT doc_id, CAST(length(text) AS BIGINT) AS v
      FROM documents ORDER BY doc_id"""),

    // Watermarked STREAM-STREAM interval join, driver-gated: every click
    // within 60 minutes after a view by the same user, through the real
    // symmetric-hash-join state machinery (both sides watermarked — the
    // hardest Structured Streaming operator), AvailableNow into parquet.
    // Oracle = the batch interval join at µs precision.
    Gate("q_stream_join", (s, dir) => {
      // a quarter of the users: the gate tests the symmetric-join STATE
      // MACHINERY, not volume
      val joined = graft.streaming.Streaming.attributionJoin(
        graft.streaming.Streaming.readEventStream(s, dir)
          .filter(pmod(col("user_id"), lit(4)) === 0), "view", "click")
      runStreamToParquet(s, joined, "append", "graft-qsj")
        .select(col("user_id"), col("l_id").as("view_id"),
          col("r_id").as("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    }, """
      SELECT l.user_id, l.event_id AS view_id, r.event_id AS click_id
      FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'view' AND user_id % 4 = 0) l
      JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click' AND user_id % 4 = 0) r
        ON r.user_id = l.user_id
       AND r.ts >= l.ts
       AND r.ts <= l.ts + INTERVAL 60 MINUTE
      ORDER BY view_id, click_id"""),

    // Watermarked streaming window aggregation, driver-gated end-to-end:
    // a real file-source stream over the events fixture through
    // withWatermark + window(1 day) + count, complete-mode foreachBatch
    // into parquet, read back. Exercises the actual StateStore-backed
    // streaming aggregation, not the batch plan; the oracle is the batch
    // equivalent (UTC-day truncation, same ns→µs timestamp contract the
    // batch event queries use).
    Gate("q_stream_window", (s, dir) => {
      val stream = graft.streaming.Streaming.readEventStream(s, dir)
        .select(col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runStreamToParquet(s, stream, "complete", "graft-qsw")
        .select(col("w.start").cast("long").as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    }, """
      SELECT epoch_us(CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
               AS TIMESTAMP)) // 1000000 AS win_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1, 2
      ORDER BY win_start, event_type"""),

    // APPEND-mode watermarked window aggregation, driver-gated: unlike
    // the complete-mode gate (q_stream_window), append mode emits a
    // window ONLY once the watermark proves it final — the
    // StateStoreSave eviction path that complete mode never runs, and
    // the only correct output mode when a downstream sink cannot absorb
    // retractions. Windows still open when the stream ends are WITHHELD
    // by design; the oracle keeps exactly the finalized ones
    // (window end ≤ max(ts) − 1h watermark delay — the fixture's max ts
    // sits minutes past the last midnight, so the day-boundary window
    // ends can never tie with the watermark and < vs ≤ is moot).
    Gate("q_stream_window_append", (s, dir) => {
      val stream = graft.streaming.Streaming.readEventStream(s, dir)
        .select(col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runStreamToParquet(s, stream, "append", "graft-qswa")
        .select(col("w.start").cast("long").as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    }, """
      SELECT epoch_us(CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
               AS TIMESTAMP)) // 1000000 AS win_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      WHERE date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 1 DAY
            <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
                FROM events)
      GROUP BY 1, 2
      ORDER BY win_start, event_type"""),

    // Watermarked SESSION-window aggregation, driver-gated end-to-end:
    // the native session_window dynamic-gap merge state (per-user
    // 30-minute-gap sessions) through the real streaming machinery,
    // complete-mode foreachBatch into parquet. The oracle is the batch
    // gaps-and-islands sessionization — the same contract q_sessions
    // checks in batch, now proven equivalent through streaming state.
    // Oracle: per-user gaps-and-islands sessionization — session_window merges
    // strictly-overlapping [ts, ts+gap) windows, so a gap of EXACTLY the
    // window size starts a new session (>=, not >)
    Gate("q_stream_session", (s, dir) => {
      val stream = graft.streaming.Streaming.sessionWindowAggregates(
        graft.streaming.Streaming.readEventStream(s, dir)
          .select(col("ts"), col("user_id")))
      runStreamToParquet(s, stream, "complete", "graft-qses")
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start"),
          col("n"))
        .orderBy(col("user_id"), col("session_start"))
    }, """
      WITH o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               lag(CAST(ts AS TIMESTAMP))
                 OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
      ), f AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL
                      OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1
                    ELSE 0 END AS nw
        FROM o
      ), s AS (
        SELECT user_id, ts,
               sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM f
      )
      SELECT user_id,
             CAST(epoch_us(min(ts)) AS BIGINT) AS session_start,
             CAST(count(*) AS BIGINT) AS n
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start"""),

    // CUSTOM-STATE sessionization (flatMapGroupsWithState +
    // EventTimeTimeout), driver-gated: unlike q_stream_session (the
    // native session_window operator), this drives the engine's own
    // hold-until-watermark session state machine — sessions surface only
    // once the watermark proves no admissible late event can extend or
    // bridge them; the rest stay HELD in state and are withheld from the
    // output by design (the append-mode finality contract). The oracle
    // is batch gaps-and-islands at ms precision restricted to exactly
    // the watermark-finalized sessions (end + gap < max(ts) − 1h delay).
    // Oracle: the custom-state session machine replayed in batch: ms-floored
    // event times (Timestamp.getTime truncation), merge while
    // diff <= 30 min, and ONLY watermark-finalized sessions
    // (end + gap < max(ts)_ms - 1h — Spark's ms watermark arithmetic)
    Gate("q_stream_session_state", (s, dir) => {
      import s.implicits._
      val ev = graft.streaming.Streaming.readEventStream(s, dir)
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp)]
      val sessions = graft.streaming.Streaming
        .sessionizeStream(ev, gapMinutes = 30).toDF()
      runStreamToParquet(s, sessions, "append", "graft-qsss")
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_ms"))
    }, """
      WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS t
        FROM events
      ), o AS (
        SELECT user_id, t,
               lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev
        FROM e
      ), f AS (
        SELECT user_id, t,
               CASE WHEN prev IS NULL OR t - prev > 1800000 THEN 1
                    ELSE 0 END AS nw
        FROM o
      ), g AS (
        SELECT user_id, t,
               sum(nw) OVER (PARTITION BY user_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM f
      ), sess AS (
        SELECT user_id, min(t) AS start_ms, max(t) AS end_ms,
               count(*) AS n
        FROM g GROUP BY user_id, sid
      ), wm AS (
        SELECT max(epoch_us(CAST(ts AS TIMESTAMP)) // 1000) - 3600000 AS w
        FROM events
      )
      SELECT user_id, CAST(start_ms AS BIGINT) AS start_ms,
             CAST(end_ms AS BIGINT) AS end_ms, CAST(n AS INT) AS n_events
      FROM sess, wm WHERE end_ms + 1800000 < w
      ORDER BY user_id, start_ms"""),

    // Stream-STATIC broadcast enrichment join, driver-gated: the event
    // stream joined per-microbatch against the static customer dimension
    // (stateless — no watermark, the dimension broadcast to every task;
    // the most common production streaming join), then a complete-mode
    // aggregation by (segment, event_type). The oracle is the plain
    // batch join — stream-static semantics guarantee equality.
    // Oracle: stream-static join ≡ the batch join (per-microbatch dimension
    // lookup changes nothing on a static dimension)
    Gate("q_stream_enrich", (s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val stream = graft.streaming.Streaming.readEventStream(s, dir)
        .withColumn("c_custkey", pmod(col("user_id"), lit(100)) + 1)
        .join(broadcast(dim), Seq("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      runStreamToParquet(s, stream, "complete", "graft-qse")
        .select(col("c_mktsegment"), col("event_type"), col("n"), col("total"))
        .orderBy(col("c_mktsegment"), col("event_type"))
    }, """
      SELECT c.c_mktsegment, e.event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events e JOIN customer c ON c.c_custkey = e.user_id % 100 + 1
      GROUP BY 1, 2
      ORDER BY 1, 2"""),

    // Streaming exact dedup through the REAL dropDuplicatesWithinWatermark
    // state machinery (the in-stream ingest dedup a 100 TB pipeline runs
    // before anything else touches the batch): one row survives per
    // (user_id, event_type) key. WHICH physical row survives is
    // partition-order-dependent, so only the KEY COLUMNS are emitted —
    // that projection is deterministic and the oracle is SELECT DISTINCT.
    Gate("q_stream_dedup", (s, dir) => {
      val stream = graft.streaming.Streaming.readEventStream(s, dir)
        .select(col("ts"), col("user_id"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      // dropDuplicatesWithinWatermark only equals a GLOBAL distinct while
      // the whole fixture lands in one batch — a key recurring >1h apart
      // across batches is legitimately re-emitted (that IS the operator's
      // contract). The batch distinct on the read-back pins the gate to
      // the global-set oracle without weakening the streaming machinery
      // under test; the count assertion keeps the distinct from MASKING a
      // broken dedup stage (for the one-batch fixture the stream output
      // must already be duplicate-free — if the invariant ever breaks,
      // fail loudly instead of silently collapsing leaked duplicates).
      val out = runStreamToParquet(s, stream, "append", "graft-qsd")
      val (raw_n, dedup_n) = (out.count(), out.distinct().count())
      require(raw_n == dedup_n,
        s"q_stream_dedup: stream emitted $raw_n rows but only $dedup_n are " +
          "distinct — the within-watermark dedup leaked duplicates")
      out.distinct()
        .orderBy(col("user_id"), col("event_type"))
    }, """
      SELECT DISTINCT user_id, event_type
      FROM events
      ORDER BY user_id, event_type"""),

    // LEFT-OUTER watermarked stream-stream interval join, driver-gated:
    // a view with NO click inside the 60-minute window emits exactly once
    // with a null (coalesced to -1) click id. The null row is produced by
    // state EVICTION — only once the global watermark proves no matching
    // click can still arrive — which is the half of the outer-join state
    // machine the inner gate (q_stream_join) never exercises. Views are
    // bounded to 2h before the EARLIER of the two sides' max event times:
    // the global watermark is the MIN across both watermarked inputs, so
    // every admitted view's eviction horizon (l_ts + 60min) sits ≥30min
    // below the final watermark and is guaranteed to flush before the
    // AvailableNow run ends. The cutoff predicate references the
    // watermark column, so Catalyst keeps it ABOVE the EventTimeWatermark
    // node — the watermark still observes the full event range and the
    // filter cannot starve its own eviction clock. Oracle = the batch
    // left join with the identical cutoff expression.
    Gate("q_stream_outer", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(4)) === 0)
      val cutoff = ev.agg(least(
          max(when(col("event_type") === "view", col("ts"))),
          max(when(col("event_type") === "click", col("ts")))).as("m"))
        .select((col("m") - expr("INTERVAL 2 HOURS")).as("c"))
        .collect()(0).getTimestamp(0) // bounded: one scalar row
      val joined = graft.streaming.Streaming.attributionJoin(
        graft.streaming.Streaming.readEventStream(s, dir)
          .filter(pmod(col("user_id"), lit(4)) === 0),
        "view", "click", joinType = "left_outer")
        .filter(col("l_ts") <= lit(cutoff))
      runStreamToParquet(s, joined, "append", "graft-qso")
        .select(col("user_id"), col("l_id").as("view_id"),
          coalesce(col("r_id"), lit(-1L)).as("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    }, """
      WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                  FROM events WHERE user_id % 4 = 0),
      cut AS (SELECT least(
                max(CASE WHEN event_type = 'view' THEN ts END),
                max(CASE WHEN event_type = 'click' THEN ts END))
                - INTERVAL 2 HOUR AS c
              FROM ev),
      v AS (SELECT user_id, event_id, ts FROM ev
            WHERE event_type = 'view' AND ts <= (SELECT c FROM cut)),
      c AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'click')
      SELECT v.user_id AS user_id, v.event_id AS view_id,
             COALESCE(c.event_id, -1) AS click_id
      FROM v LEFT JOIN c
        ON c.user_id = v.user_id
       AND c.ts >= v.ts
       AND c.ts <= v.ts + INTERVAL 60 MINUTE
      ORDER BY view_id, click_id"""),

    // Streaming quality firewall: DataQuality.monitor audits each
    // micro-batch of a REAL file stream (AvailableNow + checkpoint)
    // inside foreachBatch and sinks the per-batch audit rows; the
    // single-file fixture lands in one batch, so batch 0's audit equals
    // the batch oracle over the whole table — and the gate refuses
    // partial output if the batch split ever changes.
    // operators/DataQuality.scala.
    // Oracle: The single-batch fixture makes batch 0's audit the whole table's.
    Gate("q_stream_dq", (s, dir) => {
      import graft.operators.DataQuality._
      val tmp = tempDir("graft-qdq")
      val stream = graft.streaming.Streaming.readEventStream(s, dir)
      val checks = Seq(
        Completeness("user_id", 1.0),
        Uniqueness("event_id", 1.0),
        Uniqueness("user_id", 0.5),
        Compliance("value_nonneg", col("value") >= 0.0, 1.0),
        Compliance("purchase_share", col("event_type") === "purchase", 0.25))
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = monitor(stream, checks, tmp + "/ckpt") { (rows, bid) =>
          rows.write.mode("overwrite").parquet(s"$tmp/out/b$bid"); ()
        }
        awaitOrStop(q, "q_stream_dq")
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val batches = Option(new java.io.File(tmp + "/out").listFiles())
        .getOrElse(Array.empty).count(_.isDirectory)
      require(batches == 1,
        s"q_stream_dq: fixture must audit as ONE batch, saw $batches")
      s.read.parquet(tmp + "/out/b0")
        .orderBy(col("check"), col("column"))
    }, """
      WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(user_id) AS BIGINT) AS c_uid,
               CAST(count(DISTINCT event_id) AS BIGINT) AS u_eid,
               CAST(count(DISTINCT user_id) AS BIGINT) AS u_uid,
               CAST(sum(CASE WHEN value >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pur
        FROM events
      ), r AS (
        SELECT CAST(0 AS BIGINT) AS batch_id, 'completeness' AS "check",
               'user_id' AS "column", round(c_uid * 1.0 / n, 6) AS value,
               CAST(1.0 AS DOUBLE) AS threshold FROM m
        UNION ALL SELECT 0, 'uniqueness', 'event_id', round(u_eid * 1.0 / n, 6), CAST(1.0 AS DOUBLE) FROM m
        UNION ALL SELECT 0, 'uniqueness', 'user_id', round(u_uid * 1.0 / n, 6), CAST(0.5 AS DOUBLE) FROM m
        UNION ALL SELECT 0, 'compliance', 'value_nonneg', round(nn * 1.0 / n, 6), CAST(1.0 AS DOUBLE) FROM m
        UNION ALL SELECT 0, 'compliance', 'purchase_share', round(pur * 1.0 / n, 6), CAST(0.25 AS DOUBLE) FROM m
      )
      SELECT batch_id, "check", "column", value, threshold,
             (value >= threshold) AS passed
      FROM r ORDER BY "check", "column""""),
  )
}
