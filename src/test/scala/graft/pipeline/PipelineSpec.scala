package graft.pipeline

import graft.SparkTestBase
import graft.store.Catalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end pipeline test (SURVEY §5.2): deterministic mock
  * extractors drive stage 1→2→3 over fixtures holding every edge case in
  * FIXTURES.md §A; asserts final Company/CrmSyncEvent/requeued-PlaceEntry
  * states mirror the reference's observable behavior (SURVEY §3). */
class PipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def store(): PipelineStore = new PipelineStore(spark,
    new Catalog(java.nio.file.Files.createTempDirectory("graft-pipe").toString))

  /** Pending url rows (id, url, location). */
  private def urlRows(rows: (String, String, Option[String])*): DataFrame =
    rows.toDF("id", "url", "location")
      .withColumn("status", lit(null).cast(BooleanType))
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))

  private def urlFixture: DataFrame = urlRows(
    ("g1", "https://maps.example/search?q=london", Some("London")),
    ("g2", "https://maps.example/search?q=paris", Some("Paris")),
    ("g3", "https://maps.example/search?q=empty", None)) // extractor yields nothing

  // stage-1 extraction results keyed by sourceId (FIXTURES §A edge cases:
  // US-address exclusion, null address kept, invalid URL dropped, dup url)
  private def placesResults: DataFrame = Seq(
    ("g1", "Acme Law ", "https://acme.example", Some("1 Strand, London"), "tel: +44 20 111-222"),
    ("g1", "US Firm", "https://usfirm.example", Some("5th Ave, United States"), "+1 555"),
    ("g1", "NoAddr Firm", "https://noaddr.example", None, "+44 30 9"),
    ("g1", "BadUrl Firm", "not a url", Some("X"), "+44 1"),
    ("g2", "Acme Law Dup", "https://acme.example", Some("2 Rue, Paris"), "+33 1 2"), // dup url swallowed
    ("g2", "Paris Firm", "https://paris.example", Some("3 Rue, Paris"), "+33 1 44")
  ).toDF("sourceId", "name", "url", "address", "telephone")

  // stage-2 extraction keyed by place sourceId (resolved after stage 1 via
  // url → deterministic id); built lazily in the test once place ids exist.
  private def webResults(places: DataFrame): DataFrame = {
    val byUrl = places.select(col("id"), col("url")).as[(String, String)].collect().toMap
      .map { case (id, url) => url -> id }
    Seq(
      // acme: valid company, 2 services (one dup, one out-of-vocab)
      (byUrl("https://acme.example"), "Acme Law", "https://acme.example",
        Some("a@acme.example"), "+44 20", Seq("Family Law", "Family Law", "Tax Law", "Alchemy")),
      // noaddr: phone +1 → gate-skipped
      (byUrl("https://noaddr.example"), "NoAddr Firm", "https://noaddr.example",
        Some("n@noaddr.example"), "+1 555 123", Seq("Tax Law")),
      // paris: valid but ZERO in-vocab services → company not created
      (byUrl("https://paris.example"), "Paris Firm", "https://paris.example",
        Some("p@paris.example"), "+33 1", Seq.empty[String])
    ).toDF("sourceId", "name", "websiteUrl", "emailAddress", "phoneNumber", "servicesOffered")
      .withColumn("address", lit(null).cast(StringType))
      .withColumn("industry", lit("Legal Services"))
      .withColumn("location", lit("EU"))
  }

  test("stage 1: validates urls, excludes United States, keeps null address, swallows dup url") {
    val st = store()
    st.urls.createMany(urlFixture)
    val m = Stages.runLocator(st, new TablePlacesExtractor(placesResults.toDF()))

    assert(m.processed == 3)
    assert(m.succeeded == 2) // g1, g2 produced candidates; g3 nothing
    assert(m.failed == 1)
    // inserted: acme, noaddr, paris (US excluded, bad url excluded, dup swallowed)
    assert(m.inserted == 3)

    val places = st.places.snapshot()
    assert(places.select("url").as[String].collect().toSet ==
      Set("https://acme.example", "https://noaddr.example", "https://paris.example"))
    // null address kept (extractGooglePlaces.ts:295)
    assert(places.filter($"url" === "https://noaddr.example").head().getAs[String]("address") == null)
    // phone regex extraction stripped the "tel: " prefix
    assert(places.filter($"url" === "https://acme.example").head()
      .getAs[String]("telephone") == "+44 20 111-222")
    // name trimmed (extractGooglePlaces.ts:192)
    assert(places.filter($"url" === "https://acme.example").head().getAs[String]("name") == "Acme Law")
    // source statuses: g1,g2 true without notes; g3 false with notes
    val urls = st.urls.snapshot()
    assert(urls.filter($"status" <=> true).select("id").as[String].collect().toSet == Set("g1", "g2"))
    assert(urls.filter($"status" <=> true && $"notes".isNotNull).isEmpty)
    val g3 = urls.filter($"id" === "g3").head()
    assert(!g3.getAs[Boolean]("status") && g3.getAs[String]("notes") == "extraction failed")
  }

  test("stage 2: vocabulary constraint, dedup, +1 gate, connectOrCreate services") {
    val st = store()
    st.urls.createMany(urlFixture)
    Stages.runLocator(st, new TablePlacesExtractor(placesResults.toDF()))
    val m = Stages.runEnricher(st, new TableWebsiteExtractor(webResults(st.places.snapshot())))

    assert(m.processed == 3)
    assert(m.succeeded == 1) // only acme passes both gates
    assert(m.skipped == 2)   // +1 phone; zero services
    val companies = st.companies.snapshot()
    assert(companies.count() == 1)
    val acme = companies.head()
    assert(acme.getAs[String]("name") == "Acme Law")

    // services deduped + out-of-vocab dropped → exactly Family Law, Tax Law
    val svc = st.services.snapshot()
    assert(svc.select("name").as[String].collect().toSet == Set("Family Law", "Tax Law"))
    assert(st.companyServices.snapshot().count() == 2)

    // place statuses: acme true without notes, others false (skipped)
    val places = st.places.snapshot()
    assert(places.filter($"status" <=> true).select("url").as[String].collect().toSet ==
      Set("https://acme.example"))
    assert(places.filter($"status" <=> true && $"notes".isNotNull).isEmpty)
    assert(places.filter($"status" <=> false).select("notes").as[String].collect().toSet ==
      Set("skipped: gate or no extraction"))
  }

  test("stage 3: syncs with email, creates events; compensation for zero-service companies") {
    val st = store()
    st.urls.createMany(urlFixture)
    Stages.runLocator(st, new TablePlacesExtractor(placesResults.toDF()))
    Stages.runEnricher(st, new TableWebsiteExtractor(webResults(st.places.snapshot())))

    // inject a zero-service company with email to exercise compensation
    // (runner/syncCrm.ts:107-125): it must be deleted and its source
    // place entry reset to pending
    val orphan = Seq(("co_orphan", "Orphan Firm", "https://paris.example",
      Some("o@orphan.example"), Some("+33 9"), Option.empty[String],
      Some("Legal Services"), Some("EU")))
      .toDF("id", "name", "websiteUrl", "emailAddress", "phoneNumber", "address", "industry", "location")
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))
    st.companies.createMany(orphan)

    val m = Stages.runCrmSync(st, new DeterministicCrmSink())
    assert(m.processed == 2) // acme + orphan
    assert(m.succeeded == 1 && m.skipped == 1)

    // success: CrmSyncEvent with status=true for acme
    val events = st.crmEvents.snapshot()
    assert(events.count() == 1)
    assert(events.head().getAs[Boolean]("status"))

    // compensation: orphan company deleted, paris place requeued (status null)
    assert(st.companies.snapshot().filter($"name" === "Orphan Firm").count() == 0)
    val paris = st.places.snapshot().filter($"url" === "https://paris.example").head()
    assert(paris.getAs[Any]("status") == null)
    assert(paris.getAs[String]("notes") == "requeued: no services")
  }

  test("stage 3 failure path: sink rejection records status=false event") {
    val st = store()
    val co = Seq(("co_bad", "Bad __crm_fail__ Firm", "https://bad.example",
      Some("b@bad.example")))
      .toDF("id", "name", "websiteUrl", "emailAddress")
      .withColumn("phoneNumber", lit(null).cast(StringType))
      .withColumn("address", lit(null).cast(StringType))
      .withColumn("industry", lit("Legal"))
      .withColumn("location", lit("EU"))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))
    st.companies.createMany(co)
    // service before link — the join table's FKs validate on write now,
    // exactly as the reference's Postgres schema does
    val fs = Seq(("fs_x", "Family Law")).toDF("id", "name")
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))
    st.services.createMany(fs)
    val link = Seq(("co_bad", "fs_x")).toDF("A", "B")
    st.companyServices.createMany(link)

    val m = Stages.runCrmSync(st, new DeterministicCrmSink())
    assert(m.processed == 1 && m.failed == 1)
    val ev = st.crmEvents.snapshot().head()
    assert(!ev.getAs[Boolean]("status") && ev.getAs[String]("notes") == "crm rejected")
  }

  test("full pipeline runAll drains queues and re-processes requeued places") {
    val st = store()
    st.urls.createMany(urlFixture)
    val web = new TableWebsiteExtractor(webResults(
      // resolve ids the same way stage 1 will
      placesResults.toDF().select(
        concat(lit("pl_"), md5(col("url"))).as("id"), col("url")).distinct()))
    val all = Stages.runAll(st,
      new TablePlacesExtractor(placesResults.toDF()), web, new DeterministicCrmSink())

    // pipeline reaches a fixed point: one company synced, queues drained
    assert(st.companies.snapshot().count() == 1)
    assert(st.crmEvents.snapshot().count() == 1)
    val finalPending = st.urls.snapshot().filter($"status".isNull).count() +
      st.places.snapshot().filter($"status".isNull).count()
    // paris place keeps cycling (requeue → skip) by design; everything else settles
    assert(st.urls.snapshot().filter($"status".isNull).count() == 0)
    assert(all.nonEmpty)
  }

  test("idempotent replay: re-running a drained stage is a no-op") {
    val st = store()
    st.urls.createMany(urlFixture)
    Stages.runLocator(st, new TablePlacesExtractor(placesResults.toDF()))
    val again = Stages.runLocator(st, new TablePlacesExtractor(placesResults.toDF()))
    assert(again == StageMetrics(0, 0, 0, 0, 0))
  }

  /** Runs `f` on its first `n` calls, then extracts from the fixture. */
  private class RacingPlaces(n: Int, results: DataFrame)(f: Int => Unit)
      extends PlacesExtractor {
    var calls = 0
    def extract(urls: DataFrame): DataFrame = {
      calls += 1
      if (calls <= n) f(calls)
      new TablePlacesExtractor(results).extract(urls)
    }
  }

  test("each non-empty stage run is one commit, an empty run none") {
    val st = store()
    st.urls.createMany(urlFixture)
    def commits(run: => StageMetrics): (Long, Long) = {
      val before = st.catalog.currentCommitId()
      val m = run
      (m.processed, st.catalog.currentCommitId() - before)
    }
    val web = new TableWebsiteExtractor(webResults(placesResults.select(
      concat(lit("pl_"), md5(col("url"))).as("id"), col("url")).distinct()))
    val places = new TablePlacesExtractor(placesResults)
    val sink = new DeterministicCrmSink()
    assert(commits(Stages.runLocator(st, places)) == (3L, 1L))
    assert(commits(Stages.runEnricher(st, web)) == (3L, 1L))
    assert(commits(Stages.runCrmSync(st, sink)) == (1L, 1L))
    assert(commits(Stages.runLocator(st, places)) == (0L, 0L))
    assert(commits(Stages.runEnricher(st, web)) == (0L, 0L))
    assert(commits(Stages.runCrmSync(st, sink)) == (0L, 0L))
    // the notification rides its stage's commit
    assert(st.notifications.snapshot().select("serviceName").as[String].collect().sorted.toSeq ==
      Seq("CRM_Sync", "Places_Locator", "Website_Content_Scrapper"))
  }

  test("locator: a url that turns pending mid-run is extracted by the retried run, never flipped unprocessed") {
    val st = store()
    st.urls.createMany(urlFixture)
    val results = placesResults.unionByName(Seq(
      ("g4", "Late Firm", "https://late.example", Some("4 Late St, Leeds"), "+44 4"))
      .toDF("sourceId", "name", "url", "address", "telephone"))
    val extractor = new RacingPlaces(1, results)({ _ =>
      st.urls.createMany(urlRows(("g4", "https://maps.example/search?q=late", Some("Leeds"))))
    })
    val before = st.catalog.currentCommitId()
    val m = Stages.runLocator(st, extractor)
    // the late url's own commit plus the stage's one
    assert(st.catalog.currentCommitId() - before == 2)
    val g4 = st.urls.snapshot().filter($"id" === "g4").head()
    val lateInserted = st.places.snapshot().filter($"url" === "https://late.example").count() == 1
    assert(g4.isNullAt(g4.fieldIndex("status")) ||
      (g4.getAs[Boolean]("status") && lateInserted && m.processed == 4), g4.toString)
    assert(g4.getAs[String]("notes") == null, g4.toString)
  }

  test("enricher: a place requeued mid-run is extracted by the retried run, never flipped unprocessed") {
    val st = store()
    st.urls.createMany(urlFixture)
    Stages.runLocator(st, new TablePlacesExtractor(placesResults))
    val noaddr = $"url" === "https://noaddr.example"
    st.places.updateMany(graft.query.RawCol(noaddr), Map("status" -> lit(true)))
    val byUrl = st.places.snapshot().select("url", "id").as[(String, String)].collect().toMap
    val web = Seq(
      (byUrl("https://acme.example"), "Acme Law", "https://acme.example", "+44 20"),
      (byUrl("https://noaddr.example"), "NoAddr Firm", "https://noaddr.example", "+44 30"))
      .toDF("sourceId", "name", "websiteUrl", "phoneNumber")
      .withColumn("emailAddress", lit("x@firm.example"))
      .withColumn("address", lit(null).cast(StringType))
      .withColumn("industry", lit("Legal Services"))
      .withColumn("location", lit("EU"))
      .withColumn("servicesOffered", array(lit("Tax Law")))
    var calls = 0
    val extractor = new WebsiteExtractor {
      def extract(places: DataFrame): DataFrame = {
        calls += 1
        // CRM sync's requeue, landing while this run works
        if (calls == 1)
          st.places.updateMany(graft.query.RawCol(noaddr), Map("status" -> lit(null).cast(BooleanType)))
        new TableWebsiteExtractor(web).extract(places)
      }
    }
    val m = Stages.runEnricher(st, extractor)
    val p = st.places.snapshot().filter(noaddr).head()
    val enriched = st.companies.snapshot().filter($"name" === "NoAddr Firm").count() == 1
    assert(p.isNullAt(p.fieldIndex("status")) ||
      (p.getAs[Boolean]("status") && enriched && m.processed == 3), p.toString)
    assert(p.getAs[String]("notes") == null, p.toString)
  }

  test("a stage that loses every commit race throws and publishes nothing") {
    spark.catalog.clearCache()
    val st = store()
    st.urls.createMany(urlFixture)
    val extractor = new RacingPlaces(Int.MaxValue, placesResults)({ i =>
      st.urls.createMany(urlRows((s"x$i", s"https://maps.example/search?q=x$i", None)))
    })
    val before = st.catalog.currentCommitId()
    intercept[graft.store.ConcurrentModificationException] {
      Stages.runLocator(st, extractor)
    }
    // one attempt plus Retry.onConflict's three retries, each losing to
    // the extractor's own commit — and only those commits landed
    assert(extractor.calls == 4)
    assert(st.catalog.currentCommitId() - before == 4)
    assert(st.places.snapshot().isEmpty)
    assert(st.urls.snapshot().filter($"status".isNotNull).isEmpty)
    assert(st.notifications.snapshot().isEmpty)
    // the extraction cache is released on the failing path too
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
