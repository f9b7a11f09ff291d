package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the driver-side literal paths: a literal
  * (`LocalRelation`) batch must leave exactly what the same rows sent as
  * an RDD-backed frame leave through the Spark path — rows (timestamps
  * aside), the table's slice keys in the manifest, the count, or the
  * exception type. Inserts compare `createMany`'s one-job literal path
  * with the checkpointed insert; upserts and change batches compare
  * `localDelta` with the Spark window path. */
class LiteralPathSpec extends AnyFunSuite with SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("email", StringType, nullable = true),
    StructField("name", StringType, nullable = false),
    StructField("part", StringType, nullable = true),
    StructField("createdAt", TimestampType, nullable = true),
    StructField("updatedAt", TimestampType, nullable = true)))

  private def table(): GraftTable = {
    val t = new GraftTable(spark, new Catalog(
      java.nio.file.Files.createTempDirectory("graft-literal").toString), "contact", schema,
      uniqueKeys = Seq(Seq("id"), Seq("email")), timestampCols = Seq("createdAt", "updatedAt"),
      partitionCols = Seq("part"), maxLengths = Map("name" -> 5))
    t.createMany(rdd(Seq(("s1", "e-s1", "ann", "p"), ("s2", "e-s2", "bob", "q"),
      (null, "e-s3", "cy", null))))
    t
  }

  // input frames declare every column nullable, as computed frames do, so
  // no NULL check folds away before the store sees the batch
  private val input = StructType(schema.fields.map(_.copy(nullable = true)))

  private def rows(rs: Seq[(String, String, String, String)]): Seq[Row] =
    rs.map { case (id, email, name, part) => Row(id, email, name, part, null, null) }

  private def literal(rs: Seq[(String, String, String, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows(rs): _*), input)

  private def rdd(rs: Seq[(String, String, String, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows(rs), 1), input)

  /** The count, rows without timestamps and slice keys after `op`, or the
    * class of what it threw. */
  private def outcome(op: GraftTable => Long): Either[String, (Long, Set[Seq[Any]], Set[String])] =
    outcomeOn(table(), op)

  private def outcomeOn(t: GraftTable,
                        op: GraftTable => Long): Either[String, (Long, Set[Seq[Any]], Set[String])] =
    scala.util.Try(op(t)).toEither.left.map(_.getClass.getName).map { n =>
      (n, t.snapshot().drop("createdAt", "updatedAt").collect().map(_.toSeq).toSet,
        t.catalog.currentDirs(t.name).keySet)
    }

  private val hostile = Seq("a b", "x=1/2", "100%", "café", "", "p,q", null, "__NULL__")

  private val batches: Seq[(String, Seq[(String, String, String, String)])] = Seq(
    "in-batch duplicate id" -> Seq(("x1", "e1", "n1", "p"), ("x1", "e2", "n2", "p")),
    "in-batch duplicate email" -> Seq(("x2", "e3", "n1", "p"), ("x3", "e3", "n2", "q")),
    "id in the snapshot" -> Seq(("s1", "e4", "n1", "r"), ("x4", "e5", "n2", "r")),
    "email in the snapshot" -> Seq(("x5", "e-s2", "n1", "p")),
    "NULL keys" -> Seq((null, "e6", "n1", "p"), (null, "e7", "n2", "p"),
      ("x6", null, "n3", null), ("x7", null, "n4", null)),
    "NULL in a non-nullable column" -> Seq(("x8", "e8", null, "p")),
    "over-length string" -> Seq(("x9", "e9", "toolong", "p")),
    "a breach on a row the snapshot drops" -> Seq(("s1", "e10", null, "p"), ("x10", "e11", "n1", "p")),
    "hostile partition values" -> hostile.zipWithIndex.map { case (p, i) =>
      (s"h$i", s"eh$i", s"n$i", p) })

  test("a literal insert equals the same rows through the Spark path") {
    for ((what, batch) <- batches; skip <- Seq(true, false)) {
      val viaLiteral = outcome(_.createMany(literal(batch), skipDuplicates = skip))
      val viaSpark = outcome(_.createMany(rdd(batch), skipDuplicates = skip))
      assert(viaLiteral == viaSpark, s"$what, skipDuplicates=$skip")
    }
    // the cases discriminate: some insert, some throw each P-code
    val thrown = batches.map { case (_, b) => outcome(_.createMany(literal(b))) }
      .collect { case Left(e) => e.split('.').last }.toSet
    assert(thrown == Set("UniqueViolationException", "NullConstraintException",
      "ValueTooLongException"))
  }

  test("a literal upsert and change batch equal the Spark window path") {
    for ((what, batch) <- batches) {
      assert(outcome(_.upsert(Seq("id"), literal(batch))) ==
        outcome(_.upsert(Seq("id"), rdd(batch))), s"upsert: $what")
      def changes(df: DataFrame): DataFrame = df.withColumn("_change_type",
        when(col("id") === "s2", lit("delete")).otherwise(lit("insert")))
      val withDelete = batch :+ (("s2", "e-s2", "bob", "q"))
      assert(outcome(t => Txn.run(t.catalog)(_.applyChanges(t, changes(literal(withDelete))))) ==
        outcome(t => Txn.run(t.catalog)(_.applyChanges(t, changes(rdd(withDelete))))),
        s"applyChanges: $what")
    }
  }

  // non-string keys: Int and Long unique keys, a Boolean partition column
  private val typed = StructType(Seq(
    StructField("n", IntegerType, nullable = true),
    StructField("big", LongType, nullable = true),
    StructField("flag", BooleanType, nullable = true),
    StructField("label", StringType, nullable = false)))

  private val typedInput = StructType(typed.fields.map(_.copy(nullable = true)))

  private def typedLiteral(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), typedInput)

  private def typedRdd(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), typedInput)

  private def typedTable(): GraftTable = {
    val t = new GraftTable(spark, new Catalog(
      java.nio.file.Files.createTempDirectory("graft-literal-typed").toString), "typed", typed,
      uniqueKeys = Seq(Seq("n"), Seq("big")), partitionCols = Seq("flag"),
      maxLengths = Map("label" -> 5))
    t.createMany(typedRdd(Seq(Row(1, 10L, true, "s1"), Row(2, 20L, false, "s2"),
      Row(null, 30L, null, "s3"))))
    t
  }

  private val typedBatches: Seq[(String, Seq[Row])] = Seq(
    "in-batch duplicate Int key" -> Seq(Row(5, 50L, true, "a"), Row(5, 51L, false, "b")),
    "in-batch duplicate Long key" -> Seq(Row(6, 60L, false, "a"), Row(7, 60L, true, "b")),
    "Int key in the snapshot" -> Seq(Row(1, 70L, true, "a"), Row(8, 80L, false, "b")),
    "Long key in the snapshot" -> Seq(Row(9, 20L, null, "a")),
    "NULL keys" -> Seq(Row(null, 90L, true, "a"), Row(null, 91L, true, "b"),
      Row(10, null, false, "c"), Row(11, null, null, "d")),
    "NULL in a non-nullable column" -> Seq(Row(12, 120L, true, null)),
    "over-length string" -> Seq(Row(13, 130L, false, "toolong")),
    "extreme values in every slice" -> Seq(Row(Int.MinValue, Long.MaxValue, true, "x"),
      Row(Int.MaxValue, Long.MinValue, false, "y"), Row(0, 0L, null, "z"), Row(-1, -1L, true, "w")))

  test("Int and Long keys over a Boolean partition: literal paths equal the Spark paths") {
    for ((what, batch) <- typedBatches) {
      for (skip <- Seq(true, false))
        assert(outcomeOn(typedTable(), _.createMany(typedLiteral(batch), skipDuplicates = skip)) ==
          outcomeOn(typedTable(), _.createMany(typedRdd(batch), skipDuplicates = skip)),
          s"insert: $what, skipDuplicates=$skip")
      for (key <- Seq("n", "big"))
        assert(outcomeOn(typedTable(), _.upsert(Seq(key), typedLiteral(batch))) ==
          outcomeOn(typedTable(), _.upsert(Seq(key), typedRdd(batch))), s"upsert on $key: $what")
      def changes(df: DataFrame): DataFrame = df.withColumn("_change_type",
        when(col("n") === 2, lit("delete")).otherwise(lit("insert")))
      val withDelete = batch :+ Row(2, 20L, false, "s2")
      assert(outcomeOn(typedTable(), t => Txn.run(t.catalog)(_.applyChanges(t, changes(typedLiteral(withDelete))))) ==
        outcomeOn(typedTable(), t => Txn.run(t.catalog)(_.applyChanges(t, changes(typedRdd(withDelete))))),
        s"applyChanges: $what")
    }
    // the batches discriminate, and a clean one takes the literal insert
    val thrown = typedBatches.map { case (_, b) => outcomeOn(typedTable(), _.createMany(typedLiteral(b))) }
      .collect { case Left(e) => e.split('.').last }.toSet
    assert(thrown == Set("UniqueViolationException", "NullConstraintException",
      "ValueTooLongException"))
    val t = typedTable()
    assert(t.stagedCreateLiteral(t.catalog.currentDirs(t.name), typedLiteral(typedBatches.last._2),
      skipDuplicates = false).isDefined)
    assert(outcomeOn(typedTable(), _.createMany(typedLiteral(typedBatches.last._2))).map(_._3) ==
      Right(Set("flag=true", "flag=false", "flag=__NULL__")))
  }

  test("the insert fixture exercises both paths' dedup and probes") {
    val viaLiteral = outcome(_.createMany(literal(batches.head._2 ++ batches(2)._2),
      skipDuplicates = true))
    assert(viaLiteral.map(_._1) == Right(2L)) // x1 once, x4; s1 is in the snapshot
  }
}
