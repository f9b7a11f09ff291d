package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** PERSISTENT near-dup index: the MinHash-LSH sketch table as a store
  * object — [[AnnIndex]]'s sibling for text dedup.
  *
  * [[Dedup.minhashIndex]] already computes the reusable per-doc sketch
  * (hashed shingle set + signature) and [[Dedup.minhashIncremental]]
  * already probes a new batch against it without re-sketching the
  * corpus — but "persisted by the caller" left the artifact's lifecycle
  * unmanaged. At 100 TB the sketch table IS the expensive artifact (one
  * tokenize+shingle+minhash pass over the corpus); it belongs in the
  * catalog, maintained incrementally, never recomputed on query.
  *
  * Layout:
  *   - `__dedup_<name>_sketch` — (id, sh, sig, bucket), unique on id,
  *     PARTITIONED BY `bucket` (a stable hash of the id into
  *     `nBuckets` slices): the store's copy-on-write unit is the
  *     slice, so a refresh rewrites ONLY the buckets its delta ids
  *     hash into — without this, every refresh of a 100 TB sketch
  *     table would rewrite the whole thing to absorb a 1k-doc batch;
  *   - `__dedup_<name>_meta` — one row (k, num_hashes, n_buckets): the
  *     sketch parameters, persisted so a reopened handle probes with
  *     EXACTLY the family the corpus was sketched under (a k or band
  *     mismatch would silently find nothing).
  *
  * Both commit atomically with the change-feed cursor pinned to the
  * sketched source commit; [[refresh]] = [[CdfTail.drainOnce]]:
  * inserts/update-postimages re-sketch ONLY the delta, deletes drop
  * their sketch rows, and the cursor advance rides the same manifest
  * swap — crash-safe, exactly-once, OCC-fenced. [[dupsAgainst]] is the
  * query side: sketch the candidate batch (batch-sized work), band-join
  * it against the persisted corpus sketches.
  */
final class DedupIndex private (
    val src: GraftTable, val name: String,
    val textCol: String, val idCol: String,
    val sketch: GraftTable, val meta: GraftTable) {

  private def consumerId = s"dedup:$name"

  /** (k, numHashes, nBuckets) the corpus was sketched under — one
    * bounded row. PRIVATE to the store layer by design: the sketch
    * family is an internal contract between the meta row and the probe
    * paths ([[refresh]]/[[dupsAgainst]] read it themselves). Handing the
    * params out would invite a caller to run
    * `Dedup.minhashIncremental` AROUND the handle with its own k —
    * which silently finds nothing the moment the families diverge. */
  private[store] def config(): (Int, Int, Int) = {
    val r = meta.snapshot().collect()
    require(r.length == 1, s"${meta.name}: no persisted config — build first")
    (r(0).getAs[Int]("k"), r(0).getAs[Int]("num_hashes"),
      r(0).getAs[Int]("n_buckets"))
  }

  /** Source commit id the sketches are current through. */
  def currentThrough(): Long = CdfTail.cursor(src, consumerId)

  /** Catch the sketch table up with the source's change feed — one
    * drained window, or None when caught up. Only the delta is
    * re-sketched. */
  def refresh(): Option[(Long, Long)] = {
    val (k, numHashes, nBuckets) = config()
    CdfTail.drainOnce(src, consumerId) { (txn, ch, _, _) =>
      // ONE pass over the change feed ([[Dedup.minhashIndexDelta]]):
      // arriving images re-sketch scan-side, delete images become
      // tombstones carrying only their key. One combined MERGE staging
      // (upsert-then-delete would rewrite the touched bucket slices
      // twice); the previous filter/union composition referenced the
      // change feed twice, executing the manifest-diff join twice
      // inside the staging materialization.
      txn.applyChanges(sketch, DedupIndex.bucketed(
        Dedup.minhashIndexDelta(ch, textCol, idCol, k, numHashes), nBuckets))
      ()
    }
  }

  /** Near-dup pairs of `newDocs` against the PERSISTED index (plus
    * within-batch pairs): (new_id, dup_of, jaccard). Work is
    * batch-sized — the corpus side reads sketches, never text. */
  def dupsAgainst(newDocs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val (k, numHashes, _) = config()
    Dedup.minhashIncremental(sketch.snapshot(), newDocs, textCol, idCol,
      k, numHashes, threshold)
  }
}

object DedupIndex {

  private def metaSchema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("num_hashes", IntegerType, nullable = false),
    StructField("n_buckets", IntegerType, nullable = false)))

  /** Stable id→slice routing: xxhash64 of the id's string rendering,
    * folded positive — the same rows land in the same bucket across
    * builds and refreshes, which is what makes the refresh rewrite only
    * its delta's buckets. */
  private[store] def bucketed(idx: DataFrame, nBuckets: Int): DataFrame =
    idx.withColumn("bucket",
      pmod(xxhash64(col("id").cast("string")), lit(nBuckets)).cast("int"))

  private def tables(src: GraftTable, name: String, textCol: String,
                     idCol: String, k: Int,
                     numHashes: Int): (GraftTable, GraftTable) = {
    // sketch schema derived from the operator's own output on an empty
    // slice of the source — no job runs, and the two can never drift
    val proto = Dedup.minhashIndex(
      src.snapshot().limit(0), textCol, idCol, k, numHashes).schema
      .add("bucket", IntegerType, nullable = false)
    (new GraftTable(src.spark, src.catalog, s"__dedup_${name}_sketch",
      proto, uniqueKeys = Seq(Seq("id")), partitionCols = Seq("bucket")),
      new GraftTable(src.spark, src.catalog, s"__dedup_${name}_meta",
        metaSchema))
  }

  /** Sketch the source's CURRENT snapshot and commit sketches + config +
    * change-feed cursor in one transaction. */
  def build(src: GraftTable, name: String, textCol: String, idCol: String,
            k: Int = 3, numHashes: Int = 32,
            nBuckets: Int = 16): DedupIndex = {
    require(nBuckets >= 1, s"nBuckets $nBuckets must be positive")
    val c0 = src.catalog.currentCommitId()
    val (sketch, meta) = tables(src, name, textCol, idCol, k, numHashes)
    Txn.run(src.catalog) { txn =>
      txn.createMany(sketch, bucketed(
        Dedup.minhashIndex(src.snapshotAt(c0), textCol, idCol, k, numHashes),
        nBuckets), skipDuplicates = false)
      txn.createMany(meta, src.spark.createDataFrame(
        java.util.Arrays.asList(Row(k, numHashes, nBuckets)), metaSchema),
        skipDuplicates = false)
      txn.recordStreamBatch(src, s"cdf:dedup:$name", c0,
        src.catalog.manifest().get(Catalog.StreamTable))
    }
    new DedupIndex(src, name, textCol, idCol, sketch, meta)
  }

  /** Re-open a previously built index — no sketch-the-corpus path
    * exists here by construction; parameters come from the meta row. */
  def open(src: GraftTable, name: String, textCol: String,
           idCol: String): DedupIndex = {
    // k only shapes the sketch schema's field types, never its names —
    // any value yields the right StructType for the handles
    val (sketch, meta) = tables(src, name, textCol, idCol, 3, 32)
    new DedupIndex(src, name, textCol, idCol, sketch, meta)
  }
}
