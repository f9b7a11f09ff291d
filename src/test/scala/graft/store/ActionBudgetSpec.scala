package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate on DRIVER ACTIONS in the store write path.
  *
  * The insert path's action diet (round 4: 19→13; round 6: 13→9 for the
  * 4-table nested create, via observed metrics riding the checkpoint)
  * regressed silently once — bench detection was a round too late. This
  * spec pins the budget structurally: a nested create over a parent plus
  * two relation writes (a NestedCreate and a ConnectOrCreate pair) must
  * execute at most TWO root SQL executions per inserted table
  * (materialize-with-stats, slice write) and nothing else; one
  * locator → enricher → CRM sync round stays within its own count.
  */
class ActionBudgetSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private class ExecCounter extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) => n.incrementAndGet()
        case _ => ()
      }
  }

  /** Count root SQL executions of `body`, waiting for the async listener
    * bus to drain (count stable for 400 ms, bounded at 5 s). */
  private def countExecs(body: => Unit): Int = {
    val counter = new ExecCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      var last = -1
      var stableSince = System.nanoTime()
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() < deadline &&
             (last != counter.n.get() || System.nanoTime() - stableSince < 400000000L)) {
        if (last != counter.n.get()) { last = counter.n.get(); stableSince = System.nanoTime() }
        Thread.sleep(50)
      }
      counter.n.get()
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("createNested with two relation writes stays within 8 driver actions") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget").toString)
    val parentT = new GraftTable(spark, cat, "client", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    val eventT = new GraftTable(spark, cat, "client_event", StructType(Seq(
      StructField("event_id", StringType, nullable = false),
      StructField("parent_id", LongType, nullable = false))),
      uniqueKeys = Seq(Seq("event_id")))
    val tagT = new GraftTable(spark, cat, "tag", StructType(Seq(
      StructField("tag_id", StringType, nullable = false),
      StructField("tag", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("tag")))
    val linkT = new GraftTable(spark, cat, "client_tag", StructType(Seq(
      StructField("parent_id", LongType, nullable = false),
      StructField("tag_id", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("parent_id", "tag_id")))

    val batch = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("id", "name", "segment")
    val execs = countExecs {
      parentT.createNested(batch, Seq(
        NestedCreate(eventT, b => b.select(
          concat(lit("ev-"), col("id").cast("string")).as("event_id"),
          col("id").as("parent_id"))),
        ConnectOrCreate(
          relation = tagT,
          ensure = b => b.select(concat(lit("tag-"), col("segment")).as("tag_id"),
            col("segment").as("tag")).distinct(),
          link = linkT,
          links = b => b.select(col("id").as("parent_id"),
            concat(lit("tag-"), col("segment")).as("tag_id")))))
    }
    // 4 inserted tables x (checkpoint-with-observed-stats + slice write).
    // The parent key is non-nullable, so the null-keyed-parent probe is
    // skipped: the insert census raises the same P2011. An action creeping
    // into the insert path fails HERE, not a bench round later.
    assert(execs <= 8, s"insert path regressed: $execs root executions (budget 8)")
    assert(parentT.snapshot().count() == 3)
    assert(eventT.snapshot().count() == 3)
    assert(tagT.snapshot().count() == 2)
    assert(linkT.snapshot().count() == 3)
  }

  test("updateManyAndReturn pays one action besides its slice writes") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget-u").toString)
    val t = new GraftTable(spark, cat, "acct", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bal", DoubleType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    t.createMany(Seq((1L, 10.0), (2L, -5.0), (3L, 0.0)).toDF("id", "bal"))
    val execs = countExecs {
      val out = t.updateManyAndReturn(
        graft.query.RawCol(col("bal") < 0), Map("bal" -> lit(0.0)))
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
    // observed-checkpoint of the returned slice + one slice write + the
    // test's own collect over the (checkpointed) returned frame
    assert(execs <= 3, s"update path regressed: $execs root executions (budget 3)")
  }

  test("one locator -> enricher -> CRM sync round stays within 26 driver actions") {
    import graft.pipeline._
    val st = new PipelineStore(spark, new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget-p").toString))
    st.urls.createMany(Seq(
      ("g1", "https://maps.example/q=london", "London"),
      ("g2", "https://maps.example/q=paris", "Paris"),
      ("g3", "https://maps.example/q=none", "Rome")) // no candidate
      .toDF("id", "url", "location")
      .withColumn("status", lit(null).cast(BooleanType))
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType)))
    val places = Seq(
      ("g1", "Acme Law", "https://acme.example", "1 Strand, London", "+44 20 1"),
      ("g1", "Plus One", "https://plus.example", "2 Strand, London", "+44 20 2"),
      ("g2", "Paris Firm", "https://paris.example", "3 Rue, Paris", "+33 1 4"),
      ("g2", "Fail Firm __crm_fail__", "https://fail.example", "4 Rue, Paris", "+33 1 5"))
      .toDF("sourceId", "name", "url", "address", "telephone")
    // website rows keyed by the locator's deterministic place id
    val web = Seq(
      ("https://acme.example", "Acme Law", "+44 20", Seq("Family Law", "Tax Law")),
      ("https://plus.example", "Plus One", "+1 555", Seq("Tax Law")), // gate-skipped
      ("https://paris.example", "Paris Firm", "+33 1", Seq("Alchemy")), // no vocab tag
      ("https://fail.example", "Fail Firm __crm_fail__", "+33 1", Seq("Tax Law")))
      .toDF("websiteUrl", "name", "phoneNumber", "servicesOffered")
      .withColumn("sourceId", concat(lit("pl_"), md5(col("websiteUrl"))))
      .withColumn("emailAddress", lit("x@firm.example"))
      .withColumn("address", lit(null).cast(StringType))
      .withColumn("industry", lit("Legal Services"))
      .withColumn("location", lit("EU"))
    // (metrics, commits) of one stage run
    def committed(run: => StageMetrics): (StageMetrics, Long) = {
      val before = st.catalog.currentCommitId()
      val m = run
      (m, st.catalog.currentCommitId() - before)
    }
    var runs = Seq.empty[(StageMetrics, Long)]
    val execs = countExecs {
      runs = Seq(
        committed(Stages.runLocator(st, new TablePlacesExtractor(places))),
        committed(Stages.runEnricher(st, new TableWebsiteExtractor(web))),
        committed(Stages.runCrmSync(st, new DeterministicCrmSink())))
    }
    assert(runs.map { case (m, _) => (m.processed, m.succeeded, m.failed, m.skipped, m.inserted) } ==
      Seq((3L, 2L, 1L, 0L, 4L), (4L, 2L, 0L, 2L, 2L), (2L, 1L, 1L, 0L, 2L)))
    // data, flips and the notification publish in one commit per stage
    assert(runs.map(_._2) == Seq(1L, 1L, 1L))
    assert(execs <= 26, s"pipeline round regressed: $execs root executions (budget 26)")
  }

  test("a repeated write-constraint probe compiles no class the second time") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget-c").toString)
    val t = new GraftTable(spark, cat, "probe", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("id")), maxLengths = Map("v" -> 8))
    t.createMany(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    def probe(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      t.validateUpdated(t.snapshot(), Set("v"))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    probe()
    val compiled = probe()
    assert(compiled == 0, s"the second identical probe compiled $compiled classes")
  }
}
