package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared across the gate families: decimal-exact aggregates, the
  * synthetic JSON doc, per-prefix temp roots, the build-once lifecycle
  * fixtures, scan parallelism, the planted-twin corpus, the streaming
  * harness and the TPC-H Q1 pricing summary. */
private[graft] object Fixtures {

  def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Deterministic synthetic JSON doc derived from events.props.k — gives
    * the JsonF completeness queries arrays, JSON nulls AND DB nulls to
    * chew on (the corpus props are flat {"k": N}). Built with IDENTICAL
    * text in the DuckDB oracles. */
  def jsonDoc: org.apache.spark.sql.Column = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    when(pmod(k, lit(7)) === 0, lit(null).cast("string"))
      .when(pmod(k, lit(7)) === 1, lit("""{"name": null, "tags": null}"""))
      .otherwise(concat(
        lit("{\"name\": \"Alpha"), k.cast("string"),
        lit("\", \"tags\": [\"t"), pmod(k, lit(4)).cast("string"),
        lit("\", \"mid\", \"e"), pmod(k, lit(3)).cast("string"),
        lit("\"]}")))
  }
  // Exact decimal aggregate, surfaced as double: the decimal sum is
  // order-independent (unlike double sums), and the final cast to double is
  // IEEE-correctly-rounded in both Spark and DuckDB — so the driver's hash
  // compare sees bit-identical float64 on both sides.
  def decSum(c: org.apache.spark.sql.Column) = sum(dec(c)).cast("double")

  /** Temp directory for a query-scoped throwaway store/stream, deleted
    * recursively at JVM exit — repeated dev-loop runs (determinism
    * double-runs, best-of-N bench samples) otherwise accumulate parquet
    * versions under /tmp indefinitely. */
  private val tmpRoots = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  private lazy val tmpCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.synchronized(tmpRoots.foreach(deleteRecursively))))
  /** One live temp root PER PREFIX: a repeated invocation of the same
    * query (Verify determinism double-runs, best-of-N bench samples,
    * dev loops) deletes the previous run's store/checkpoint before
    * creating the fresh one, so temp disk is bounded by the number of
    * distinct store-building queries, not the number of invocations.
    * Safe because every gate materializes a query fully before the same
    * query runs again — nothing holds a lazy frame over the old files. */
  private val tmpByPrefix = scala.collection.mutable.HashMap[String, java.nio.file.Path]()
  private def deleteRecursively(root: java.nio.file.Path): Boolean =
    scala.util.Try {
      import java.nio.file._
      // Close the walk stream so directory handles release before the
      // delete completes (an unclosed stream can hold the very
      // directories being removed).
      val st = Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally st.close()
    }.isSuccess
  def tempDir(prefix: String): String = {
    tmpCleanupHook
    tmpRoots.synchronized {
      tmpByPrefix.remove(prefix).foreach { old =>
        // a failed/partial delete (transient open handle) stays registered
        // so the JVM shutdown hook retries it — unregistering here would
        // leak the half-deleted root forever
        if (deleteRecursively(old)) tmpRoots -= old
      }
      val p = java.nio.file.Files.createTempDirectory(prefix)
      tmpByPrefix(prefix) = p
      tmpRoots += p
      p.toString
    }
  }
  /** Test hook: live temp roots for a prefix (the no-orphan invariant). */
  private[graft] def liveTempDirs(prefix: String): Seq[java.nio.file.Path] =
    tmpRoots.synchronized(
      tmpRoots.filter(_.getFileName.toString.startsWith(prefix)).toSeq)

  // ---- Build-once-per-JVM lifecycle fixtures (r16) --------------------
  //
  // The persistent-index gates each run a full build → mutate → refresh
  // → restore/vacuum lifecycle before the read they hash-gate. The
  // LIFECYCLE is what those gates assert (its requires run inside the
  // build closure, and Verify — a fresh JVM, one call per gate — always
  // executes it in full); the BENCH's repeated best-of-N samples were
  // re-paying dozens of COW commits per sample just to re-time the same
  // read. `fixture` memoizes the built catalog root per (key, sfDir) for
  // the JVM's lifetime: the first call per gate runs the whole lifecycle,
  // later calls reuse the root. Every consumer is READ-ONLY after the
  // build (a gate whose per-sample phase mutated would need a file-level
  // copy — catalog manifests are root-relative, so a copied tree would
  // be a valid catalog — but no current gate does, so that path
  // intentionally does not exist). Oracle hashes are unchanged by
  // construction — the memoized state is exactly what the per-call
  // build produced.
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** The (doc_id, source, n_chars) store schema the ValueIndex gate
    * family shares. */
  def vidxSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = true)))
  }

  /** [[vidxSchema]] plus the `lang` column (the composite-index gates). */
  def vidxLangSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = true)))
  }

  /** The (doc_id, text) store schema the BM25 gate family shares. */
  def bm25Schema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
  }

  /** Shared null-planted fixture of q_group_indexed /
    * q_count_null_indexed: % 13 sources NULL at ingest (the build must
    * count them), % 31 MOVED to NULL post-build (the refresh must
    * transfer posting rows into the meta null census). */
  def vidxGroupFixture(s: SparkSession, dir: String)
      : (graft.store.GraftTable, graft.store.ValueIndex) = {
    val root = fixture("vidx-group", dir) { root =>
      val cat = new graft.store.Catalog(root)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(13)) === 0, lit(null))
            .otherwise(col("source")).as("source"),
          col("n_chars"))
      val src = new graft.store.GraftTable(s, cat, "docs", vidxSchema,
        uniqueKeys = Seq(Seq("doc_id")))
      src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
      val idx = graft.store.ValueIndex.build(src, "bysrc", "source",
        "doc_id", nBuckets = 8)
      src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0))
      src.updateMany(graft.query.RawCol(pmod(col("doc_id"), lit(31)) === 0),
        Map("source" -> lit(null).cast("string")))
      require(idx.refresh().nonEmpty,
        "vidx-group fixture: the post-build window must drain")
    }
    val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
      "docs", vidxSchema, uniqueKeys = Seq(Seq("doc_id")))
    (src, graft.store.ValueIndex.open(src, "bysrc", "source", "doc_id"))
  }

  /** Shared read-only BM25 fixture: the full documents corpus indexed as
    * `r1`, plain or positional — q_bm25_topk / q_rrf_persist share the
    * plain build, q_bm25_slop the positional one. Fresh handles per call. */
  def bm25BaseFixture(s: SparkSession, dir: String,
                      withPositions: Boolean)
      : (graft.store.GraftTable, graft.store.Bm25Index) = {
    val key = if (withPositions) "bm25-pos" else "bm25-plain"
    val root = fixture(key, dir) { root =>
      val cat = new graft.store.Catalog(root)
      val src = new graft.store.GraftTable(s, cat, "docs", bm25Schema,
        uniqueKeys = Seq(Seq("doc_id")))
      src.createMany(Tables.documents(s, dir)
        .select(col("doc_id"), col("text")))
      graft.store.Bm25Index.build(src, "r1", "text", "doc_id",
        nBuckets = 8, withPositions = withPositions)
      ()
    }
    val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
      "docs", bm25Schema, uniqueKeys = Seq(Seq("doc_id")))
    (src, graft.store.Bm25Index.open(src, "r1", "text", "doc_id"))
  }

  /** Shared read-only fixture of the single-column index surface gates
    * (q_find_many_indexed / q_count_indexed / q_find_ids_indexed): the
    * FULL documents corpus with a `bysrc` value index — identical in all
    * three, so one build serves them. Returns fresh handles per call. */
  def vidxFullFixture(s: SparkSession, dir: String)
      : (graft.store.GraftTable, graft.store.ValueIndex) = {
    val root = fixture("vidx-full", dir) { root =>
      val cat = new graft.store.Catalog(root)
      val src = new graft.store.GraftTable(s, cat, "docs", vidxSchema,
        uniqueKeys = Seq(Seq("doc_id")))
      src.createMany(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars")))
      graft.store.ValueIndex.build(src, "bysrc", "source", "doc_id",
        nBuckets = 8)
      ()
    }
    val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
      "docs", vidxSchema, uniqueKeys = Seq(Seq("doc_id")))
    (src, graft.store.ValueIndex.open(src, "bysrc", "source", "doc_id"))
  }

  def fixture(key: String, dir: String)
             (build: String => Unit): String =
    fixtures.computeIfAbsent(s"$key|$dir", _ => {
      val root = tempDir(s"graft-fx-$key")
      build(root)
      root
    })

  /** The local test corpus is ONE parquet row group, so its scan yields a
    * single partition and every CPU-heavy kernel downstream (tokenize,
    * shingle, minhash, hyperplane projections) runs on one core. A real
    * corpus arrives in thousands of splits; this restores the parallelism
    * the scan would naturally have. Applied ONLY to kernel-heavy inputs,
    * and CONDITIONALLY: when the planned scan already yields at least
    * one partition per core (the 100 TB case), no shuffle is added at
    * all. The probe is restricted to SCAN-SHAPED plans (scans, unions,
    * projections, filters): on those, building the RDD runs no job even
    * under AQE (there are no shuffle stages to materialize). A plan that
    * already contains a shuffle-inducing operator is returned unchanged
    * — probing it under AQE would EXECUTE its map stages just to read a
    * partition count, and the count would reflect shuffle.partitions,
    * not scan splits. */
  def par(s: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffleShaped = df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Window | _: Sort |
                _: RepartitionOperation | _: Distinct | _: GlobalLimit) => p
    }.isDefined
    if (shuffleShaped) df
    else {
      val target = s.sparkContext.defaultParallelism
      val scanParts = org.apache.spark.sql.graftbridge.InternalRowBridge
        .toRdd(df).getNumPartitions
      if (scanParts >= target) df else df.repartition(target)
    }
  }

  /** The substring-dedup gate corpus: documents plus, for every
    * doc_id % 10 == 0, a twin (+100000) carrying the doc's first 60
    * tokens verbatim — a guaranteed ≥50-token cross-doc run. ONE
    * definition shared by the span and scrub gates (their oracles build
    * the identical corpus), so the planted-fixture construction cannot
    * drift between them. */
  def plantedTwinCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 60), " ").as("text")))
  }

  /** The one time budget of every gate's stream. */
  val StreamBudgetMs: Long = 180000L

  /** Waits for `q` to terminate. Past `budgetMs` it stops the query and
    * throws: returning partial output to a hash-compared oracle would be a
    * flaky failure with the query still writing in the background. */
  def awaitOrStop(q: org.apache.spark.sql.streaming.StreamingQuery,
                  label: String, budgetMs: Long = StreamBudgetMs): Unit =
    if (!q.awaitTermination(budgetMs)) {
      q.stop()
      throw new IllegalStateException(
        s"$label: stream exceeded its ${budgetMs / 1000}s budget — refusing partial output")
    }

  /** Shared harness for the streaming gates: run an AvailableNow stream
    * into parquet via foreachBatch and read the result back.
    *
    *   - Writes are IDEMPOTENT under foreachBatch re-execution: complete
    *     mode overwrites one directory (last batch wins — the mode's
    *     semantics); append mode overwrites a per-batch directory, so a
    *     replayed batch never appends duplicates.
    *   - The timeout is HARD: see [[awaitOrStop]].
    *   - Small-state scope-down: 4 shuffle partitions (per-partition
    *     state-store file IO dominates these fixture-sized states at 32),
    *     restored afterwards. */
  def runStreamToParquet(s: SparkSession, stream: DataFrame,
                         mode: String, tmpPrefix: String): DataFrame = {
    val tmp = tempDir(tmpPrefix)
    val out = tmp + "/out"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    // Gate-harness partition count: state-store instances (and their
    // checkpoint delta files) scale with shuffle partitions, so the
    // fixed per-stream cost drops with fewer partitions — measured
    // 12.2 s → 11.3 s across the 8 stream gates going 8 → 4, flat from
    // 4 → 2. The remaining ~1-2 s per gate is the stream lifecycle
    // itself (query planning, offset/commit logs, start/stop), which is
    // the honest cost of driving REAL streaming machinery per gate. A
    // production job sizes this to its actual key cardinality.
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = stream.writeStream.outputMode(mode)
        .foreachBatch { (b: DataFrame, bid: Long) =>
          val dir = if (mode == "complete") out else s"$out/b$bid"
          b.write.mode("overwrite").parquet(dir); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", tmp + "/ckpt").start()
      awaitOrStop(q, tmpPrefix)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    // A stream that completed with zero batches (empty source) wrote no
    // output directory — return an empty frame with the stream's schema
    // rather than letting the read-back throw path-not-found.
    val outPath = java.nio.file.Paths.get(out)
    val hasOutput =
      if (mode == "complete") java.nio.file.Files.exists(outPath)
      else java.nio.file.Files.exists(outPath) && {
        val ls = java.nio.file.Files.list(outPath)
        try ls.anyMatch(p => p.getFileName.toString.startsWith("b"))
        finally ls.close()
      }
    if (!hasOutput)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)
    else if (mode == "complete") s.read.parquet(out)
    else s.read.parquet(out + "/b*")
  }

  /** TPC-H Q1 shape: scan-side filter, groupBy, decimal-exact aggregates. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
}
