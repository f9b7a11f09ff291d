package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDF-MAINTAINED DERIVED COLUMNS: an expensive scan-side derivation —
  * a perceptual hash over a binary payload, a model quality score, a
  * language id, a token count — cached as a store object and kept
  * current incrementally, so the expensive pass runs once per ROW
  * LIFETIME instead of once per query.
  *
  * This is the general shape behind the persistent indexes
  * ([[AnnIndex]] persists codes, [[DedupIndex]] persists sketches): the
  * source table's change feed drives an upsert of the derived
  * projection for arriving rows and a delete for departing ones, with
  * the cursor riding the same atomic manifest commit — crash-safe,
  * exactly-once, OCC-fenced. What PERSISTS is the derived data + the
  * cursor; the derivation expressions are CODE (like a `MediaDecoder`
  * implementation) and are re-supplied at [[MaterializedColumn.open]] —
  * a Column is a plan fragment, not a catalog value.
  *
  * At 100 TB this is the difference between "decode every image once,
  * when it arrives" and "decode the corpus every time someone asks for
  * near-duplicates": the media-dedup gate probes Hamming bands over
  * this table WITHOUT touching a payload byte.
  */
final class MaterializedColumn private (
    val src: GraftTable, val name: String, val idCol: String,
    derived: Seq[(String, Column)], val table: GraftTable) {

  private def consumerId = s"mcol:$name"

  /** The derived projection of a change batch, `_change_type` kept. */
  private def project(ch: DataFrame): DataFrame =
    ch.select(col(idCol).as("id") +: derived.map { case (n, c) => c.as(n) } :+
      col("_change_type"): _*)

  /** Source commit id the derived rows are current through. */
  def currentThrough(): Long = CdfTail.cursor(src, consumerId)

  /** Catch up with the source's change feed — the derivation runs over
    * the DELTA only. One combined MERGE (see [[DedupIndex.refresh]]):
    * arriving images upsert and departing ones delete, so each touched
    * slice is rewritten once. */
  def refresh(): Option[(Long, Long)] =
    CdfTail.drainOnce(src, consumerId) { (txn, ch, _, _) =>
      txn.applyChanges(table, project(ch))
      ()
    }

  /** The materialized (id, derived…) frame — a plain snapshot read. */
  def frame(): DataFrame = table.snapshot()
}

object MaterializedColumn {

  private def tableFor(src: GraftTable, name: String, idCol: String,
                       derived: Seq[(String, Column)]): GraftTable = {
    require(derived.nonEmpty, "MaterializedColumn: no derived columns")
    // schema derived from the projection itself on an empty slice of
    // the source — no job runs, and the two can never drift
    val proto = src.snapshot().limit(0)
      .select(col(idCol).as("id") +: derived.map { case (n, c) => c.as(n) }: _*)
      .schema
    new GraftTable(src.spark, src.catalog, s"__mcol_$name", proto,
      uniqueKeys = Seq(Seq("id")))
  }

  /** Derive over the source's CURRENT snapshot and commit rows + cursor
    * in one transaction. */
  def build(src: GraftTable, name: String, idCol: String,
            derived: Seq[(String, Column)]): MaterializedColumn = {
    val c0 = src.catalog.currentCommitId()
    val table = tableFor(src, name, idCol, derived)
    Txn.run(src.catalog) { txn =>
      txn.createMany(table, src.snapshotAt(c0)
          .select(col(idCol).as("id") +:
            derived.map { case (n, c) => c.as(n) }: _*),
        skipDuplicates = false)
      txn.recordStreamBatch(src, s"cdf:mcol:$name", c0,
        src.catalog.manifest().get(Catalog.StreamTable))
    }
    new MaterializedColumn(src, name, idCol, derived, table)
  }

  /** Re-open with the SAME derivation expressions (they are code, not
    * catalog state; a drifted derivation would silently mix two
    * functions across refreshes — the caller owns that contract, like a
    * decoder version). */
  def open(src: GraftTable, name: String, idCol: String,
           derived: Seq[(String, Column)]): MaterializedColumn =
    new MaterializedColumn(src, name, idCol, derived,
      tableFor(src, name, idCol, derived))
}
