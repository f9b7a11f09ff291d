package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Pq
import graft.operators.Pq.Codebook

/** PERSISTENT ANN index: IVFADC ([[graft.operators.Pq]]) as a store
  * object instead of a per-query computation.
  *
  * Every inline ANN path ([[Pq.ivfPqTopK]], `Similarity.ivfTopK`)
  * retrains centroids and codebooks inside the query — fine for a gate,
  * wrong at 100 TB, where the index build (full-corpus Lloyd rounds +
  * the encode pass) is the expensive artifact and queries should only
  * probe. This class persists both halves in the catalog:
  *
  *   - `__ann_<name>_model` — the coarse quantizer and PQ codebooks,
  *     nCells + m·k rows of `array<long>` centroids (metadata-sized;
  *     one bounded collect reconstructs the [[Codebook]]s);
  *   - `__ann_<name>_codes` — (id, cell, codes), PARTITIONED BY `cell`,
  *     so a probe reads only the slices of its probed cells
  *     (planning-time pruning via the store's partition layout — the
  *     non-probed 99% of a 100 TB code table is never even listed).
  *
  * Both tables commit in ONE transaction together with the change-feed
  * cursor ([[CdfTail]]'s key, consumer `ann:<name>`), pinned to the
  * source commit the build encoded. [[refresh]] is therefore exactly
  * [[CdfTail.drainOnce]]: inserts/update-postimages re-encode with the
  * PERSISTED codebooks (a zero-shuffle scan of the delta — never a
  * retrain, never a full-corpus pass), deletes drop their code rows, and
  * the cursor advance rides the same atomic manifest swap as the code
  * writes — crash-safe, exactly-once, OCC-fenced against zombie
  * refreshers like every other store consumer.
  *
  * The PQ integer-arithmetic contract makes the whole object
  * engine-portable: an independent replay of train-on-snapshot +
  * encode-all reproduces the probe results bit-for-bit (the
  * `q_ann_persist` oracle does exactly that).
  *
  * Staleness semantics are the index's honest contract: between
  * refreshes a query sees the codes as of the last drained commit —
  * the same snapshot story every secondary index at this scale tells
  * (Delta/Iceberg materialized views, vector-DB segment indexes). The
  * deeper staleness — codebooks trained on a distribution the corpus
  * has drifted away from — has its own loop: DETECT via the recall +
  * PSI audit (`q_ann_recall_audit`), ACT via [[rebuild]] (retrain,
  * re-encode, atomic swap, cursor preserved).
  */
final class AnnIndex private (
    val src: GraftTable, val name: String,
    val embCol: String, val idCol: String,
    val model: GraftTable, val codes: GraftTable) {

  private def consumerId = s"ann:$name"

  /** (coarse quantizer, PQ codebook) reconstructed from the model table —
    * one bounded collect of nCells + m·k metadata rows. */
  def codebooks(): (Codebook, Codebook) = AnnIndex.loadModel(model)

  /** Source commit id the codes are current through (the CDF cursor). */
  def currentThrough(): Long = CdfTail.cursor(src, consumerId)

  /** ACT on the staleness signal ([[graft.operators.Profile.drift]] PSI
    * past 0.25, or a recall audit under its bracket — the DETECT half
    * `q_ann_recall_audit` runs): retrain BOTH codebooks on the source's
    * CURRENT snapshot, re-encode every row, and swap model + codes in
    * ONE transaction with the change-feed cursor re-pinned to the
    * retrained snapshot's commit — the drain loop continues from
    * exactly the rows the rebuild did not see. This is the deliberate
    * full-corpus pass [[refresh]] refuses to be: refresh prices at the
    * delta under FROZEN codebooks (correct but increasingly
    * unrepresentative as the corpus drifts); rebuild pays the Lloyd
    * rounds + encode-all once to restore representativeness.
    *
    * Atomicity/OCC: all three writes (model rows, code rows, cursor)
    * ride one manifest swap — a probe sees either the old index or the
    * new one, never a mix, and the OLD model/code slices stay readable
    * via time travel until vacuum. A refresh racing this rebuild loses
    * the commit race on the shared cursor key (P2034) and retries
    * against the post-rebuild state, exactly like every other store
    * writer (IndexMaintenanceSpec drives the interleaving).
    *
    * The cell layout follows the new coarse quantizer: every cell slice
    * rewrites — the expected price of retraining, amortized over the
    * probes that stop paying the staleness tax. */
  def rebuild(nCells: Int, m: Int, k: Int, iters: Int): Unit = {
    codebooks() // fail fast (and loudly) on a never-built index
    val c0 = src.catalog.currentCommitId()
    val snap = src.snapshotAt(c0)
    val (coarse, cb) = Pq.trainPair(snap, embCol, idCol, nCells, m, k, iters)
    val streams = src.catalog.manifest().get(Catalog.StreamTable)
    val all = graft.query.RawCol(lit(true))
    Txn.run(src.catalog) { txn =>
      txn.deleteMany(model, all)
      txn.createMany(model, AnnIndex.modelDf(src, coarse, cb),
        skipDuplicates = false)
      txn.deleteMany(codes, all)
      txn.createMany(codes, Pq.encodeIvf(snap, embCol, idCol, coarse, cb),
        skipDuplicates = false)
      txn.recordStreamBatch(src, s"cdf:$consumerId", c0, streams)
    }
  }

  /** Catch the codes table up with the source's change feed — one
    * drained window, or None when already caught up. No retraining:
    * the persisted codebooks encode the delta ([[rebuild]] is the
    * deliberate retrain counterpart). */
  def refresh(): Option[(Long, Long)] = {
    val (coarse, cb) = codebooks()
    CdfTail.drainOnce(src, consumerId) { (txn, ch, _, _) =>
      // ONE pass over the change feed ([[Pq.encodeIvfDelta]]): arriving
      // images re-encode under the frozen codebooks, rows LEAVING the
      // index — deletes, and postimages whose embedding went malformed
      // (stale codes must not stay searchable) — become tombstones
      // carrying only their key. One combined MERGE staging; the
      // previous filter/union composition referenced the change feed
      // three times, executing the manifest-diff join three times
      // inside the staging materialization.
      txn.applyChanges(codes,
        Pq.encodeIvfDelta(ch, embCol, idCol, coarse, cb))
      ()
    }
  }

  /** ADC top-k from the PERSISTED artifact: rank queries' nProbe nearest
    * cells, read ONLY those cells' slices (partition-scoped scan), score
    * codes via the broadcast lookup tables. Zero training jobs — the
    * only driver-side work is the bounded model collect and the ≤nCells
    * probed-cell list. */
  def search(queries: DataFrame, qidCol: String,
             nProbe: Int, topk: Int): DataFrame = {
    val (coarse, cb) = codebooks()
    // distinct probed cells — bounded by nCells, NOT by |queries|
    val probed = Pq.probeFrame(queries, embCol, qidCol, coarse, nProbe)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val scan =
      if (probed.isEmpty) codes.snapshot().limit(0)
      else codes.snapshotWhere(col("cell").isin(probed.map(Int.box): _*))
    Pq.searchCodes(scan, queries, embCol, qidCol, coarse, cb, nProbe, topk)
  }

  /** Two-stage retrieval from the persisted artifact: [[search]]'s ADC
    * shortlist (quantized order), then [[Pq.rerankExact]] joins the
    * shortlist ids back to the SOURCE's full vectors for the exact
    * final order — |Q|·shortlist re-rank rows, the corpus itself still
    * only touched through its cell-pruned code slices plus the
    * shortlist-id key lookup. */
  def searchRerank(queries: DataFrame, qidCol: String, nProbe: Int,
                   shortlist: Int, topk: Int): DataFrame =
    Pq.rerankExact(search(queries, qidCol, nProbe, shortlist),
      src.snapshot(), queries, embCol, idCol, qidCol, topk)
}

object AnnIndex {

  private def modelSchema = StructType(Seq(
    StructField("part", StringType, nullable = false),
    StructField("sub", IntegerType, nullable = false),
    StructField("cid", IntegerType, nullable = false),
    StructField("c", ArrayType(LongType, containsNull = false),
      nullable = false)))

  private def modelTable(src: GraftTable, name: String): GraftTable =
    new GraftTable(src.spark, src.catalog, s"__ann_${name}_model",
      modelSchema, uniqueKeys = Seq(Seq("part", "sub", "cid")))

  private def codesTable(src: GraftTable, name: String,
                         idCol: String): GraftTable =
    new GraftTable(src.spark, src.catalog, s"__ann_${name}_codes",
      StructType(Seq(
        StructField("id", src.schema(idCol).dataType, nullable = false),
        StructField("cell", IntegerType, nullable = false),
        StructField("codes", ArrayType(IntegerType, containsNull = false),
          nullable = true))),
      uniqueKeys = Seq(Seq("id")),
      // one independently-versioned slice per coarse cell: probes read
      // only their cells, refreshes rewrite only the cells that moved
      partitionCols = Seq("cell"))

  /** The (coarse + pq) codebooks rendered as model-table rows — shared
    * by [[build]] and [[AnnIndex.rebuild]] so both persist the identical
    * layout [[loadModel]] reconstructs. */
  private[store] def modelDf(src: GraftTable, coarse: Codebook,
                             cb: Codebook): DataFrame = {
    val rows = coarse.centers.zipWithIndex.map { case (c, i) =>
      Row("coarse", 0, i + 1, c)
    } ++ cb.centers.zipWithIndex.map { case (c, i) =>
      Row("pq", i / cb.k, i % cb.k + 1, c)
    }
    src.spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), modelSchema)
  }

  /** Train on the source's CURRENT snapshot, encode it, and commit
    * model + codes + the change-feed cursor in one transaction. */
  def build(src: GraftTable, name: String, embCol: String, idCol: String,
            nCells: Int, m: Int, k: Int, iters: Int): AnnIndex = {
    val c0 = src.catalog.currentCommitId()
    val snap = src.snapshotAt(c0)
    // ONE shared quantize+persist+seed-draw for both codebooks — two
    // single trains would each quantize and persist the same snapshot
    val (coarse, cb) = Pq.trainPair(snap, embCol, idCol, nCells, m, k, iters)
    val model = modelTable(src, name)
    val codes = codesTable(src, name, idCol)
    val streams = src.catalog.manifest().get(Catalog.StreamTable)
    Txn.run(src.catalog) { txn =>
      txn.createMany(model, modelDf(src, coarse, cb), skipDuplicates = false)
      txn.createMany(codes, Pq.encodeIvf(snap, embCol, idCol, coarse, cb),
        skipDuplicates = false)
      // cursor = the commit the build encoded, published WITH the
      // artifacts: refresh picks up exactly the post-build changes
      txn.recordStreamBatch(src, s"cdf:ann:$name", c0, streams)
    }
    new AnnIndex(src, name, embCol, idCol, model, codes)
  }

  /** Re-open a previously built index — no training path exists here by
    * construction. */
  def open(src: GraftTable, name: String, embCol: String,
           idCol: String): AnnIndex =
    new AnnIndex(src, name, embCol, idCol,
      modelTable(src, name), codesTable(src, name, idCol))

  private[store] def loadModel(model: GraftTable): (Codebook, Codebook) = {
    val rows = model.snapshot().collect() // bounded: nCells + m·k rows
    require(rows.nonEmpty, s"${model.name}: no persisted model — build first")
    def part(p: String): IndexedSeq[((Int, Int), Seq[Long])] =
      rows.toIndexedSeq.filter(_.getAs[String]("part") == p).map(r =>
        ((r.getAs[Int]("sub"), r.getAs[Int]("cid")),
          r.getSeq[Long](r.fieldIndex("c"))))
    val co = part("coarse")
    val pq = part("pq")
    require(co.nonEmpty && pq.nonEmpty, s"${model.name}: incomplete model")
    val d = co.head._2.length
    val m = pq.map(_._1._1).max + 1
    val k = pq.map(_._1._2).max
    (Codebook(1, co.map(_._1._2).max, d, co.sortBy(_._1).map(_._2)),
      Codebook(m, k, d / m, pq.sortBy(_._1).map(_._2)))
  }
}
