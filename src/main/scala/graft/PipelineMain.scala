package graft

import graft.pipeline._
import graft.store.Catalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operational entry point — the engine's analog of the reference's runner
  * processes (`src/runner/locator.ts`, `websiteScraper.ts`, `syncCrm.ts`):
  * seeds a url queue, drains all three stages to a fixed point, prints the
  * per-stage metrics and final table counts.
  *
  * Usage: runMain graft.PipelineMain [catalogDir] [nUrls] [maxRounds]
  * (defaults: temp dir, 100 urls, 5 rounds; deterministic synthetic
  * extractors stand in for the browser/LLM legs.)
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val catalogDir = args.lift(0).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline").toString)
    val nUrls = args.lift(1).map(_.toInt).getOrElse(100)
    val maxRounds = args.lift(2).map(_.toInt).getOrElse(5)

    val spark = GraftSession.local(GraftSession.cpus, "graft-pipeline")
    import spark.implicits._

    val store = new PipelineStore(spark, new Catalog(catalogDir))

    // seed the queue (idempotent: unique urls are swallowed on re-run)
    val urls = (1 to nUrls).map(i =>
      (s"seed$i", s"https://places.example/search/$i", Some(s"Region${i % 7}")))
      .toDF("id", "url", "location")
      .withColumn("status", lit(null).cast(BooleanType))
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType))
    store.urls.createMany(urls, skipDuplicates = true)

    val metrics = Stages.runAll(store,
      new SyntheticPlacesExtractor(perUrl = 3),
      new SyntheticWebsiteExtractor(),
      new DeterministicCrmSink(),
      maxRounds = maxRounds)

    metrics.filter(_._2.processed > 0).foreach { case (stage, m) =>
      println(f"$stage%-9s processed=${m.processed}%5d ok=${m.succeeded}%5d " +
        f"fail=${m.failed}%4d skip=${m.skipped}%4d ins=${m.inserted}%5d " +
        f"rate=${m.successRatePct}%5.1f%%")
    }
    println(s"tables: urls=${store.urls.snapshot().count()} " +
      s"places=${store.places.snapshot().count()} " +
      s"companies=${store.companies.snapshot().count()} " +
      s"services=${store.services.snapshot().count()} " +
      s"links=${store.companyServices.snapshot().count()} " +
      s"events=${store.crmEvents.snapshot().count()} " +
      s"notifications=${store.notifications.snapshot().count()}")
    GraftSession.stop(spark)
  }
}
