package graft.store

import graft.SparkTestBase
import graft.query.RawCol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fault injection between a statement's staged write and the move of its
  * slices into version dirs (`Txn.afterStagedWrite`): a staged output
  * that disappears must fail the statement, publish no slice and leave
  * the manifest as it was — never publish a slice the write put rows in
  * as an empty one. */
class StageFaultSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def seeded(): GraftTable = {
    val t = new GraftTable(spark, new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-fault").toString), "queue",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("status", BooleanType, nullable = true))),
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("status"))
    t.createMany(Seq(("a", None), ("b", None), ("c", Some(true))).toDF("id", "status"))
    t
  }

  private def stagedSlices(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val ls = java.nio.file.Files.list(root)
    try ls.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("__pkdir="))
    finally ls.close()
  }

  /** Run a flip of the pending rows with `fault` applied to the stage
    * root; assert it throws and publishes nothing. */
  private def assertFailsClosed(fault: java.nio.file.Path => Unit): Unit = {
    val t = seeded()
    assertFailsClosed(t, fault)(_.updateMany(t, RawCol(col("status").isNull),
      Map("status" -> lit(true))))
  }

  /** Run `statement` on `t` with `fault` applied to the stage root; assert
    * it throws and publishes nothing. */
  private def assertFailsClosed(t: GraftTable, fault: java.nio.file.Path => Unit)
                               (statement: Txn => Unit): Unit = {
    val manifest = t.catalog.manifest()
    val commit = t.catalog.currentCommitId()
    val rows = t.snapshot().collect().toSet
    var faulted = false
    val e = intercept[IllegalStateException] {
      Txn.run(t.catalog) { tx =>
        tx.afterStagedWrite = root => { faulted = true; fault(root) }
        statement(tx)
      }
    }
    assert(faulted, "the hook never ran")
    assert(e.getMessage.contains("refusing to publish"))
    assert(t.catalog.manifest() == manifest)
    assert(t.catalog.currentCommitId() == commit)
    assert(t.snapshot().collect().toSet == rows)
  }

  test("a staged slice the write put rows in, deleted before the move, fails the statement") {
    // _SUCCESS stays: only the census of landed slices can tell
    assertFailsClosed(root => stagedSlices(root).foreach(Catalog.rmTree))
  }

  test("a stage root deleted before the move fails the statement") {
    assertFailsClosed(Catalog.rmTree)
  }

  test("a checkpointed insert into an unpartitioned table fails closed") {
    val t = new GraftTable(spark, new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-fault-ins").toString), "events",
      StructType(Seq(
        StructField("id", StringType, nullable = false),
        StructField("v", LongType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    t.createMany(Seq(("a", 1L)).toDF("id", "v"))
    // a computed (non-literal) batch takes the checkpointed insert
    val batch = spark.range(3).select(concat(lit("e"), col("id").cast("string")).as("id"),
      col("id").as("v"))
    assertFailsClosed(t, root => stagedSlices(root).foreach(Catalog.rmTree))(
      _.createMany(t, batch, skipDuplicates = false))
  }

  test("a multi-slice upsert fails closed") {
    val t = seeded()
    // lands in all three status slices and moves "a" out of the pending one
    val rows = Seq(("a", Some(true)), ("d", None), ("e", Some(false))).toDF("id", "status")
    assertFailsClosed(t, root => stagedSlices(root).foreach(Catalog.rmTree))(
      _.upsert(t, Seq("id"), rows))
  }

  test("without a fault the same flip publishes both touched slices") {
    val t = seeded()
    var staged = Seq.empty[String]
    Txn.run(t.catalog) { tx =>
      tx.afterStagedWrite = root => staged = stagedSlices(root).map(_.getFileName.toString)
      tx.updateMany(t, RawCol(col("status").isNull), Map("status" -> lit(true)))
    }
    // the drained pending slice has no staged dir and is published empty
    assert(staged.size == 1)
    assert(t.catalog.currentDirs(t.name).keySet == Set("status=__NULL__", "status=true"))
    assert(t.snapshot().filter(col("status")).count() == 3L)
  }
}
