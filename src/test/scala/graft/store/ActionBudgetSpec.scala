package graft.store

import graft.SparkTestBase
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
  * (materialize-with-stats, slice write) and nothing else; an update, a
  * literal insert and an FK-checked insert have their own budgets, and
  * one locator → enricher → CRM sync round stays within its own count,
  * stage by stage.
  */
class ActionBudgetSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

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

  test("one locator -> enricher -> CRM sync round stays within 18 driver actions") {
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
    // (metrics, commits, root executions) of one stage run
    def committed(run: => StageMetrics): (StageMetrics, Long, Int) = {
      val before = st.catalog.currentCommitId()
      var m: StageMetrics = null
      val execs = countExecs { m = run }
      (m, st.catalog.currentCommitId() - before, execs)
    }
    val runs = Seq(
      committed(Stages.runLocator(st, new TablePlacesExtractor(places))),
      committed(Stages.runEnricher(st, new TableWebsiteExtractor(web))),
      committed(Stages.runCrmSync(st, new DeterministicCrmSink())))
    assert(runs.map { case (m, _, _) => (m.processed, m.succeeded, m.failed, m.skipped, m.inserted) } ==
      Seq((3L, 2L, 1L, 0L, 4L), (4L, 2L, 0L, 2L, 2L), (2L, 1L, 1L, 0L, 2L)))
    // data, flips and the notification publish in one commit per stage
    assert(runs.map(_._2) == Seq(1L, 1L, 1L))
    // locator: pending probe, places insert (2), one-job flip, one-job
    // notification; enricher: pending probe, nested create of 3 tables
    // (2 each, FK checks on the checkpoints), flip, notification; CRM:
    // hydration checkpoint, FK-checked events insert (2), notification
    val execs = runs.map(_._3)
    info(s"root executions per stage: ${execs.mkString("/")}")
    assert(execs.zip(Seq(5, 9, 4)).forall { case (n, budget) => n <= budget },
      s"pipeline stages regressed: ${execs.mkString("/")} root executions (budgets 5/9/4)")
    assert(execs.sum <= 18, s"pipeline round regressed: ${execs.sum} root executions (budget 18)")
  }

  private val queue = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("ref", StringType, nullable = true),
    StructField("status", BooleanType, nullable = true),
    StructField("notes", StringType, nullable = true),
    StructField("createdAt", TimestampType, nullable = true),
    StructField("updatedAt", TimestampType, nullable = true)))

  /** A status-partitioned queue with a pending, a done and a failed slice. */
  private def queueTable(prefix: String): GraftTable = {
    val t = new GraftTable(spark, new Catalog(
      java.nio.file.Files.createTempDirectory(prefix).toString), "queue", queue,
      uniqueKeys = Seq(Seq("id")), timestampCols = Seq("createdAt", "updatedAt"),
      partitionCols = Seq("status"))
    t.createMany(Seq(("a", "ra", None), ("b", "rb", None), ("c", "rc", Some(true)),
      ("d", "rd", Some(false))).toDF("id", "ref", "status")
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType)))
    t
  }

  test("an update pays one root execution") {
    val t = queueTable("graft-budget-upd")
    val many = countExecs {
      assert(t.updateMany(graft.query.RawCol(col("id") === "a"),
        Map("status" -> lit(true))) == 1L)
    }
    assert(many <= 1, s"updateMany regressed: $many root executions (budget 1)")
    val keys = Seq("rb").toDF("ref")
    var counts = (0L, 0L)
    val twoBranch = countExecs {
      counts = Txn.run(t.catalog) { tx =>
        tx.updateWhereIn(t, "ref", keys, col("status").isNull,
          Map("status" -> lit(true)), Map("status" -> lit(false), "notes" -> lit("no match")))
      }
    }
    assert(counts == ((1L, 0L)))
    assert(twoBranch <= 1, s"two-branch updateWhereIn regressed: $twoBranch root executions (budget 1)")
    assert(t.snapshot().filter(col("status")).count() == 3L)
  }

  test("a literal insert pays one root execution") {
    val t = queueTable("graft-budget-lit")
    val execs = countExecs {
      assert(t.createMany(Seq(("e", "re"), ("a", "dup")).toDF("id", "ref")
        .withColumn("status", lit(null).cast(BooleanType))
        .withColumn("notes", lit(null).cast(StringType))
        .withColumn("createdAt", lit(null).cast(TimestampType))
        .withColumn("updatedAt", lit(null).cast(TimestampType)), skipDuplicates = true) == 1L)
    }
    assert(execs <= 1, s"literal insert regressed: $execs root executions (budget 1)")
    assert(t.snapshot().count() == 5L)
  }

  test("a checkpointed insert that keeps no row pays only its checkpoint") {
    val t = queueTable("graft-budget-none")
    val commit = t.catalog.currentCommitId()
    // a computed (non-literal) batch whose every key is in the snapshot
    val dupes = spark.range(2).select(
      when(col("id") === 0, lit("a")).otherwise(lit("c")).as("id"),
      lit("dup").as("ref"),
      lit(null).cast(BooleanType).as("status"),
      lit(null).cast(StringType).as("notes"),
      lit(null).cast(TimestampType).as("createdAt"),
      lit(null).cast(TimestampType).as("updatedAt"))
    val execs = countExecs { assert(t.createMany(dupes, skipDuplicates = true) == 0L) }
    assert(execs <= 1, s"an empty insert wrote: $execs root executions (budget 1)")
    assert(t.catalog.currentCommitId() == commit)
    assert(t.snapshot().count() == 4L)
  }

  test("an FK-checked insert pays two") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget-fk").toString)
    val parent = new GraftTable(spark, cat, "firm", StructType(Seq(
      StructField("id", StringType, nullable = false))), uniqueKeys = Seq(Seq("id")))
    val child = new GraftTable(spark, cat, "event", StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("firmId", StringType, nullable = true))), uniqueKeys = Seq(Seq("id")))
    parent.onDeleteRestrict(child, "firmId", "id")
    parent.createMany(Seq("f1", "f2").toDF("id"))
    // a computed (non-literal) batch takes the checkpointed insert
    def batch(firm: String) = spark.range(2).select(
      concat(lit(s"e-$firm-"), col("id").cast("string")).as("id"),
      when(col("id") === 0, lit(firm)).as("firmId"))
    val execs = countExecs { assert(child.createMany(batch("f1")) == 2L) }
    assert(execs <= 2, s"FK-checked insert regressed: $execs root executions (budget 2)")
    intercept[ForeignKeyViolationException](child.createMany(batch("nope")))
    assert(child.snapshot().count() == 2L)
  }

  test("a repeated updateMany compiles no class the second time") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val t = queueTable("graft-budget-cg")
    def flip(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      t.updateMany(graft.query.RawCol(col("ref") === "ra"), Map("notes" -> lit("seen")))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    flip()
    val compiled = flip()
    assert(compiled == 0, s"the second identical updateMany compiled $compiled classes")
    // every row one statement rewrites carries that statement's timestamp
    val stamps = t.snapshot().filter(col("ref") === "ra").select("updatedAt").collect()
    assert(stamps.length == 1 && stamps.head.get(0) != null)
    Txn.run(t.catalog) { tx =>
      tx.updateMany(t, graft.query.RawCol(col("status").isNull), Map("notes" -> lit("both")))
    }
    assert(t.snapshot().filter(col("status").isNull).select("updatedAt").distinct().count() == 1L)
  }

  test("an update confined to one slice scans only that slice's files") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget-scan").toString)
    val t = new GraftTable(spark, cat, "regional", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("region", StringType, nullable = true),
      StructField("v", LongType, nullable = true))),
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("region"))
    t.createMany(spark.range(30).select(col("id"),
      element_at(array(lit("a"), lit("b"), lit("c")), (col("id") % 3 + 1).cast("int")).as("region"),
      col("id").as("v")))
    def files(region: String): Int = new java.io.File(cat.currentDirs("regional")(s"region=$region"))
      .listFiles().count(_.getName.endsWith(".parquet"))
    val tableFiles = Seq("a", "b", "c").map(files).sum
    val sliceFiles = files("b")
    object scans extends AdaptiveSparkPlanHelper {
      def of(p: SparkPlan): Long = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    }
    val scanned = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = scanned.addAndGet(scans.of(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try countExecs {
      assert(t.updateMany(graft.query.RawCol(col("region") === "b" && col("v") > 3),
        Map("v" -> (col("v") + 100))) == 9L)
    } finally spark.listenerManager.unregister(listener)
    info(s"scanned ${scanned.get} files: slice b has $sliceFiles, the table $tableFiles")
    // at most the census and the write each read slice b once; the census-
    // then-write path read every file of the table in both of its executions
    assert(scanned.get <= 2L * sliceFiles, s"scanned ${scanned.get} files")
    assert(scanned.get < 2L * tableFiles)
    assert(t.snapshot().filter(col("v") >= 100).count() == 9L)
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
