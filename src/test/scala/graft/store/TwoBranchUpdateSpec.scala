package graft.store

import graft.SparkTestBase
import graft.query.F
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the two-branch `updateWhereIn(…, otherwise)`:
  * on two catalogs seeded with the same status-partitioned table, the
  * one-statement flip must leave exactly what the two-statement pair
  * `updateWhereIn` + `updateMany(extraCond, otherwise)` leaves — rows
  * (timestamps aside), the table's slice keys in the manifest, and the
  * two counts. */
class TwoBranchUpdateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("ref", StringType, nullable = true),
    StructField("status", BooleanType, nullable = true),
    StructField("notes", StringType, nullable = true),
    StructField("createdAt", TimestampType, nullable = true),
    StructField("updatedAt", TimestampType, nullable = true)))

  private def table(cat: Catalog): GraftTable =
    new GraftTable(spark, cat, "queue", schema, uniqueKeys = Seq(Seq("id")),
      timestampCols = Seq("createdAt", "updatedAt"), partitionCols = Seq("status"))

  private def seeded(rows: Seq[(String, Option[String], Option[Boolean])]): GraftTable = {
    val t = table(new Catalog(
      java.nio.file.Files.createTempDirectory("graft-twobranch").toString))
    t.createMany(rows.toDF("id", "ref", "status")
      .withColumn("notes", lit(null).cast(StringType))
      .withColumn("createdAt", lit(null).cast(TimestampType))
      .withColumn("updatedAt", lit(null).cast(TimestampType)))
    t
  }

  private val pendingCond: Column = col("status").isNull
  private val set = Map("status" -> lit(true))
  private val otherwise = Map("status" -> lit(false), "notes" -> lit("no match"))

  // the timestamps differ between the two seedings by construction
  private def state(t: GraftTable): Set[Seq[Any]] =
    t.snapshot().drop("createdAt", "updatedAt").collect().map(_.toSeq).toSet

  private def sliceKeys(t: GraftTable): Set[String] =
    t.catalog.currentDirs(t.name).keySet

  /** Run the pair on one copy and the two-branch statement on another;
    * return the two-branch counts after checking both agree. */
  private def assertSame(rows: Seq[(String, Option[String], Option[Boolean])],
                         keys: DataFrame): (Long, Long) = {
    val pair = seeded(rows)
    val one = seeded(rows)
    val pairCounts = Txn.run(pair.catalog) { tx =>
      (tx.updateWhereIn(pair, "ref", keys, pendingCond, set),
        tx.updateMany(pair, F.raw(pendingCond), otherwise))
    }
    def stamps = one.snapshot().select("id", "updatedAt").collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    val before = stamps
    val oneCounts = Txn.run(one.catalog) { tx =>
      tx.updateWhereIn(one, "ref", keys, pendingCond, set, otherwise)
    }
    assert(oneCounts == pairCounts)
    assert(state(one) == state(pair))
    assert(sliceKeys(one) == sliceKeys(pair))
    // both branches touch updatedAt, bystanders keep theirs
    val after = stamps
    assert(after.count { case (id, ts) => before(id) != ts } == oneCounts._1 + oneCounts._2)
    oneCounts
  }

  private val mixed = Seq(
    ("a", Some("ra"), None),        // pending, key in keys      -> set
    ("b", Some("rb"), None),        // pending, key not in keys  -> otherwise
    ("c", Some("rc"), Some(true)),  // key in keys, not pending  -> untouched
    ("d", Some("rd"), Some(false)), // not pending               -> untouched
    ("e", None, None),              // pending, NULL key         -> otherwise
    ("f", Some("ra"), None))        // pending, duplicate ref    -> set

  test("two-branch flip equals the updateWhereIn + updateMany pair") {
    // duplicate keys, a key absent from the table, and a NULL key
    val keys = Seq(Some("ra"), Some("ra"), Some("rc"), Some("zz"), None).toDF("ref")
    assert(assertSame(mixed, keys) == ((2L, 2L)))
  }

  test("two-branch flip with a keys frame that matches nothing") {
    val none = Seq(Some("zz")).toDF("ref")
    assert(assertSame(mixed, none) == ((0L, 4L)))
    val empty = Seq.empty[Option[String]].toDF("ref")
    assert(assertSame(mixed, empty) == ((0L, 4L)))
    // no status=false slice exists before the flip creates one
    val allPending = Seq(("a", Some("ra"), None), ("b", None, None))
    assert(assertSame(allPending, none) == ((0L, 2L)))
  }

  test("two-branch flip with nothing pending touches no slice") {
    val settled = Seq(("c", Some("rc"), Some(true)), ("d", Some("rd"), Some(false)))
    assert(assertSame(settled, Seq(Some("rc")).toDF("ref")) == ((0L, 0L)))
  }
}
