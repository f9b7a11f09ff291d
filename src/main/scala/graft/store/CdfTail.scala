package graft.store

import org.apache.spark.sql.DataFrame

/** Durable, exactly-once CHANGE-FEED TAIL: the consumer side of
  * [[ChangeFeed]] — "process every change to this table exactly once,
  * across process restarts", the contract a downstream mirror, feature
  * store, or incremental index needs from a 100 TB corpus table.
  *
  * The cursor (last fully-processed SOURCE commit id) lives in the
  * catalog manifest under the reserved [[Catalog.StreamTable]] entry,
  * exactly like [[graft.streaming.StoreSink]]'s batch watermark — so the
  * cursor advance publishes in the SAME atomic manifest swap as whatever
  * the consumer body staged in its transaction. Crash before commit:
  * nothing published, cursor unmoved, the next drain reprocesses the
  * identical window (at-least-once per attempt, exactly-once per
  * commit). A zombie consumer instance advancing the cursor between this
  * drain's manifest read and its commit fails the commit with the usual
  * P2034 — retry via [[graft.pipeline.Retry.onConflict]] like every
  * other store write.
  *
  * Scale shape is [[ChangeFeed.changesBetween]]'s: the manifest diff
  * prunes unchanged slices first, so each drain pays for the delta, not
  * the table; the cursor itself is one manifest key.
  */
object CdfTail {

  private def key(table: GraftTable, consumerId: String): String =
    Catalog.streamKey(table.name, s"cdf:$consumerId")

  /** Last fully-processed source commit id for (table, consumer);
    * 0 before the first drain (= "everything is still pending"). */
  def cursor(src: GraftTable, consumerId: String): Long =
    src.catalog.manifest().get(Catalog.StreamTable)
      .flatMap(_.get(key(src, consumerId)))
      .map(_.toLong).getOrElse(0L)

  /** Drain the tail once: compute the changes from the committed cursor
    * to the source's current commit, hand `(txn, changes, from, to)` to
    * the consumer body, and commit the body's staged writes TOGETHER
    * with the cursor advance. Returns the processed window, or None when
    * already caught up (nothing committed).
    *
    * The body may stage writes on any table of the same catalog (the
    * mirror-maintenance case: `txn.applyChanges(mirror, changes)`), or
    * stage nothing and only ship the frame elsewhere — the cursor still
    * advances atomically with this catalog's view of the world. */
  def drainOnce(src: GraftTable, consumerId: String)
               (body: (Txn, DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    // ONE manifest read is both the cursor baseline and the OCC base —
    // the same TOCTOU-closing choice as StoreSink's replay check
    val streams = src.catalog.manifest().get(Catalog.StreamTable)
    val from = streams.flatMap(_.get(key(src, consumerId)))
      .map(_.toLong).getOrElse(0L)
    val to = src.catalog.currentCommitId()
    // a window in which no slice pointer of the SOURCE moved (e.g. other
    // tables' commits, or this tail's own cursor advances) is skipped
    // WITHOUT committing — advancing the cursor over it would itself be
    // a commit, and the tail would chase its own advances forever
    if (to <= from || ChangeFeed.changedSliceKeys(src, from, to).isEmpty) None
    else {
      val changes = ChangeFeed.changesBetween(src, from, to)
      Txn.run(src.catalog) { txn =>
        body(txn, changes, from, to)
        txn.recordStreamBatch(src, s"cdf:$consumerId", to, streams)
      }
      Some((from, to))
    }
  }

  /** The poll-loop composition: drain until caught up (bounded by
    * `maxDrains` — a hot source could otherwise tail forever), retrying
    * each drain on OCC conflict. Returns the number of windows applied. */
  def drainAll(src: GraftTable, consumerId: String, maxDrains: Int = 100)
              (body: (Txn, DataFrame, Long, Long) => Unit): Int = {
    var n = 0
    while (n < maxDrains &&
      graft.pipeline.Retry.onConflict() { drainOnce(src, consumerId)(body) }.isDefined)
      n += 1
    n
  }
}
