package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once change-feed tailing: a durable manifest cursor, crash
  * replay safety, zombie-consumer OCC, and the set-based MERGE apply
  * keeping a mirror identical to its source. */
class CdfTailSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def pair(): (GraftTable, GraftTable) = {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-cdftail").toString)
    def tbl(n: String) = new GraftTable(spark, cat, n, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    (tbl("src"), tbl("mirror"))
  }

  private def rows(t: GraftTable): Seq[(Long, Long)] =
    t.snapshot().orderBy("id").as[(Long, Long)].collect().toSeq

  private def mirrorBody(m: GraftTable) =
    (txn: Txn, ch: org.apache.spark.sql.DataFrame, _: Long, _: Long) => {
      txn.applyChanges(m, ch); ()
    }

  test("tail drains insert/update/delete into an identical mirror") {
    val (src, mir) = pair()
    src.createMany((1L to 30L).map(i => (i, i)).toDF("id", "v"))
    assert(CdfTail.drainOnce(src, "c1")(mirrorBody(mir)).isDefined)
    assert(rows(mir) == rows(src))

    src.updateMany(graft.query.RawCol(col("id") <= 5L), Map("v" -> lit(0L)))
    src.deleteMany(graft.query.RawCol(col("id") > 25L))
    src.createMany(Seq((99L, 99L)).toDF("id", "v"))
    assert(CdfTail.drainOnce(src, "c1")(mirrorBody(mir)).isDefined)
    assert(rows(mir) == rows(src))
    // caught up: nothing to drain, nothing committed
    val cid = src.catalog.currentCommitId()
    assert(CdfTail.drainOnce(src, "c1")(mirrorBody(mir)).isEmpty)
    assert(src.catalog.currentCommitId() == cid)
  }

  test("a crashing body moves nothing; the retry replays the same window") {
    val (src, mir) = pair()
    src.createMany(Seq((1L, 1L), (2L, 2L)).toDF("id", "v"))
    val before = CdfTail.cursor(src, "c")
    intercept[RuntimeException] {
      CdfTail.drainOnce(src, "c") { (txn, ch, _, _) =>
        txn.applyChanges(mir, ch)
        sys.error("crash before commit")
      }
    }
    assert(CdfTail.cursor(src, "c") == before, "cursor must not move")
    assert(rows(mir).isEmpty, "staged mirror writes must not publish")
    val w = CdfTail.drainOnce(src, "c")(mirrorBody(mir))
    assert(w.isDefined && rows(mir) == rows(src))
  }

  test("independent consumers keep independent cursors") {
    val (src, mir) = pair()
    src.createMany(Seq((1L, 1L)).toDF("id", "v"))
    assert(CdfTail.drainOnce(src, "a")(mirrorBody(mir)).isDefined)
    src.createMany(Seq((2L, 2L)).toDF("id", "v"))
    // consumer b starts from 0 → sees both rows as inserts
    var seen = 0L
    CdfTail.drainOnce(src, "b") { (_, ch, from, _) =>
      seen = ch.filter(col("_change_type") === "insert").count()
      assert(from == 0L)
    }
    assert(seen == 2L)
    // consumer a only the new one
    CdfTail.drainOnce(src, "a") { (_, ch, _, _) =>
      seen = ch.filter(col("_change_type") === "insert").count()
    }
    assert(seen == 1L)
  }

  test("a zombie instance advancing the cursor fails this drain with P2034") {
    val (src, mir) = pair()
    src.createMany(Seq((1L, 1L)).toDF("id", "v"))
    intercept[ConcurrentModificationException] {
      CdfTail.drainOnce(src, "z") { (txn, ch, _, to) =>
        // zombie twin commits the same window first
        CdfTail.drainOnce(src, "z")(mirrorBody(mir))
        txn.applyChanges(mir, ch)
      }
    }
    // the zombie's commit stands; a retry finds itself caught up
    assert(rows(mir) == rows(src))
    assert(CdfTail.drainOnce(src, "z")(mirrorBody(mir)).isEmpty)
  }

  test("drainAll catches up over many commits and applies them in order") {
    val (src, mir) = pair()
    (1L to 4L).foreach(i => src.createMany(Seq((i, i)).toDF("id", "v")))
    assert(CdfTail.drainOnce(src, "all")(mirrorBody(mir)).isDefined)
    src.updateMany(graft.query.RawCol(col("id") === 1L), Map("v" -> lit(10L)))
    src.updateMany(graft.query.RawCol(col("id") === 1L), Map("v" -> lit(20L)))
    val n = CdfTail.drainAll(src, "all")(mirrorBody(mir))
    assert(n >= 1)
    assert(rows(mir) == rows(src))
    assert(rows(mir).find(_._1 == 1L).map(_._2).contains(20L),
      "the LAST postimage must win across drained windows")
  }

  test("a tail spanning a restoreTo sees the rollback as inverse deltas, once") {
    val (src, mir) = pair()
    src.createMany((1L to 30L).map(i => (i, i)).toDF("id", "v"))
    assert(CdfTail.drainOnce(src, "r")(mirrorBody(mir)).isDefined)
    val good = src.catalog.currentCommitId()
    src.updateMany(graft.query.RawCol(col("id") <= 10L), Map("v" -> lit(-1L)))
    src.deleteMany(graft.query.RawCol(col("id") > 25L))
    assert(CdfTail.drainOnce(src, "r")(mirrorBody(mir)).isDefined)
    assert(rows(mir) == rows(src), "bad state reaches the mirror first")
    src.restoreTo(good)
    // the rollback window: 5 re-inserts (26..30), 10 reverted update
    // pairs (1..10), zero deletes — and it must drain exactly once
    var types = Map.empty[String, Long]
    assert(CdfTail.drainOnce(src, "r") { (txn, ch, _, _) =>
      types = ch.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      txn.applyChanges(mir, ch); ()
    }.isDefined, "the restore commit is a drainable window")
    assert(types == Map("insert" -> 5L,
      "update_preimage" -> 10L, "update_postimage" -> 10L), types.toString)
    assert(rows(mir) == (1L to 30L).map(i => (i, i)),
      "the mirror must land back on the pre-mutation state")
    assert(CdfTail.drainOnce(src, "r")(mirrorBody(mir)).isEmpty,
      "caught up past the restore: nothing to drain")
  }

  test("applyChanges is set-based: one plan, no driver key lists") {
    val (src, mir) = pair()
    src.createMany((1L to 10L).map(i => (i, i)).toDF("id", "v"))
    val changes = ChangeFeed.changesBetween(src, 0L, src.catalog.currentCommitId())
    // the staged plan must be derivable lazily (no eager collect of keys)
    val (pk, delta) = mir.changeDelta(changes)
    val staged = mir.stagedMergeReturning(mir.catalog.currentDirs(mir.name), pk, delta)._1
    assert(staged.census().n(0) == 10L)
    val plan = staged.rows.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LocalRelation") || staged.rows.count() == 10L)
  }
}
