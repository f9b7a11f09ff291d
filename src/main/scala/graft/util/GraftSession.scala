package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains and the spec base build and tear down a
  * local SparkSession, so every entry point runs the same confs. */
object GraftSession {
  /** Worker threads for a main: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Size of Spark's generated-class cache (static; Spark's default is
    * 100). One warm pipeline drain alone runs about 180 distinct classes,
    * so at 100 entries every drain recompiles most of them. */
  val CodegenCacheEntries = 1000

  def local(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // after init: without a log4j2 config on the classpath Spark installs
    // its default profile during context start, resetting earlier levels
    GraftLogging.silenceKnownNoise()
    spark
  }

  /** Teardown for the mains: quiesce straggler streams so the process
    * tail stays free of state-store unload stack traces, silence the
    * remaining shutdown race, then stop without letting a teardown error
    * fail the process. */
  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q =>
      scala.util.Try { q.stop(); q.awaitTermination(30000) }
    }
    GraftLogging.silenceShutdownRaces()
    scala.util.Try(spark.stop())
  }
}
