package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** CDF-maintained derived columns: build-once/derive-per-delta, the
  * refresh == re-derive invariant, and exactly-once cadence. */
class MaterializedColumnSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def srcTable(): GraftTable =
    new GraftTable(spark,
      new Catalog(java.nio.file.Files.createTempDirectory("graft-mcol").toString),
      "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("doc_id")))

  private val derived = Seq(
    "n_chars" -> length(col("text")).cast("long"),
    "head" -> substring(col("text"), 1, 3))

  private def rows(m: MaterializedColumn): Set[(Long, Any, Any)] =
    m.frame().collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet

  test("refresh equals re-derivation across inserts, updates, deletes, nulls") {
    val src = srcTable()
    src.createMany((1L to 20L).map(i => (i, s"doc number $i")).toDF("doc_id", "text"))
    val m = MaterializedColumn.build(src, "stats", "doc_id", derived)
    def expect() = src.snapshot()
      .select(col("doc_id").as("id"),
        length(col("text")).cast("long"), substring(col("text"), 1, 3))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    assert(rows(m) == expect())

    src.createMany(Seq((21L, "new doc")).toDF("doc_id", "text"))
    src.updateMany(graft.query.RawCol(col("doc_id") === 3L),
      Map("text" -> lit("rewritten")))
    src.updateMany(graft.query.RawCol(col("doc_id") === 4L),
      Map("text" -> lit(null).cast("string"))) // derived goes null too
    src.deleteMany(graft.query.RawCol(col("doc_id") > 18L && col("doc_id") <= 20L))
    assert(m.refresh().nonEmpty)
    assert(m.refresh().isEmpty, "caught up: nothing to drain")
    assert(rows(m) == expect(),
      "derived table must equal a from-scratch re-derivation")
    // a reopened handle (same expressions) reads the same state
    assert(rows(MaterializedColumn.open(src, "stats", "doc_id", derived)) ==
      expect())
  }

  test("a refresh window of inserts, an update and a delete is one MERGE") {
    val src = srcTable()
    src.createMany((1L to 20L).map(i => (i, s"doc number $i")).toDF("doc_id", "text"))
    val m = MaterializedColumn.build(src, "window", "doc_id", derived)
    src.createMany(Seq((21L, "new doc"), (22L, "another doc")).toDF("doc_id", "text"))
    src.updateMany(graft.query.RawCol(col("doc_id") === 5L), Map("text" -> lit("changed")))
    src.deleteMany(graft.query.RawCol(col("doc_id") === 7L))
    val execs = countExecs { assert(m.refresh().nonEmpty) }
    val expected = src.snapshot()
      .select(col("doc_id").as("id"),
        length(col("text")).cast("long"), substring(col("text"), 1, 3))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    assert(rows(m) == expected)
    assert(rows(m).map(_._1) == ((1L to 22L).toSet - 7L))
    // the change-feed checkpoint and one slice write; an upsert then a
    // delete paid a checkpoint and two writes
    info(s"refresh root executions: $execs")
    assert(execs <= 2, s"refresh regressed: $execs root executions (budget 2)")
  }
}
