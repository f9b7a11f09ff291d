package graft.streaming

import graft.store.{Catalog, GraftTable, Txn}
import org.apache.spark.sql.DataFrame

/** Exactly-once Structured Streaming sink into the copy-on-write store.
  *
  * `foreachBatch` alone is at-least-once: a crash between the batch write
  * and the streaming checkpoint replays the batch on restart. The store
  * closes the gap the same way Delta's idempotent `txnAppId`/`txnVersion`
  * writes do: the last committed batch id is staged as a reserved manifest
  * entry ([[Catalog.StreamTable]]) inside the SAME transaction as the data,
  * so the atomic manifest swap publishes data + watermark together — a
  * replayed batch sees its id already committed and becomes a no-op.
  *
  * Usage:
  * {{{
  *   query.writeStream
  *     .foreachBatch(StoreSink.exactlyOnceAppend(table, "ingest-1"))
  *     .start()
  * }}}
  *
  * `streamId` distinguishes independent queries writing the same table
  * (each owns its own watermark). Restarting a query from a FRESH
  * checkpoint restarts batch numbering — pass a new `streamId` then, as
  * with any idempotent-sink contract.
  */
object StoreSink {

  /** Last committed batch id for (table, streamId), if any. */
  def lastBatch(catalog: Catalog, table: GraftTable, streamId: String): Option[Long] =
    catalog.manifest().get(Catalog.StreamTable)
      .flatMap(_.get(Catalog.streamKey(table.name, streamId)))
      .map(_.toLong)

  private def exactlyOnce(t: GraftTable, streamId: String)
                         (write: (Txn, DataFrame) => Unit): (DataFrame, Long) => Unit =
    (df: DataFrame, batchId: Long) => {
      // The whole batch body retries on OCC conflict: two streams (or a
      // stream and a batch writer) sharing one store WILL collide on the
      // manifest swap, and an unretried P2034 propagates out of
      // foreachBatch and kills the entire streaming query. Each attempt
      // re-reads the manifest fresh, so the replay check, the OCC
      // baseline, AND the data snapshot all move forward together —
      // retrying only the commit would publish a batch computed against
      // a stale snapshot.
      graft.pipeline.Retry.onConflict() {
        // ONE manifest read serves both the replay check and the OCC
        // baseline: a zombie instance of the same query committing this
        // batch after our check then fails OUR commit (P2034) instead of
        // being silently absorbed — the check alone would be TOCTOU-racy
        // over the multi-minute window a batch write can span
        val streams = t.catalog.manifest().get(Catalog.StreamTable)
        val last = streams
          .flatMap(_.get(Catalog.streamKey(t.name, streamId))).map(_.toLong)
        // replay detection: batch ids are monotone per checkpoint, so any
        // id at-or-below the committed watermark was already published
        if (!last.exists(_ >= batchId)) {
          Txn.run(t.catalog) { txn =>
            write(txn, df)
            txn.recordStreamBatch(t, streamId, batchId, streams)
          }
        }
      }
    }

  /** Append each micro-batch with `createMany` semantics (P2002 on
    * duplicates unless `skipDuplicates`). */
  def exactlyOnceAppend(t: GraftTable, streamId: String,
                        skipDuplicates: Boolean = false): (DataFrame, Long) => Unit =
    exactlyOnce(t, streamId)((txn, df) => txn.createMany(t, df, skipDuplicates))

  /** MERGE each micro-batch on `keyCols` (streaming upsert — the
    * state-refresh shape of a CDC or status feed). */
  def exactlyOnceUpsert(t: GraftTable, keyCols: Seq[String],
                        streamId: String): (DataFrame, Long) => Unit =
    exactlyOnce(t, streamId)((txn, df) => txn.upsert(t, keyCols, df))
}
