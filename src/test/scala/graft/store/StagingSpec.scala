package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate on the round-17 staging/MERGE optimizations:
  *
  *   - a MULTI-slice staging executes the staged plan ONCE (one
  *     dynamic-partition write), never once per touched slice, and never
  *     through a persist copy;
  *   - the hex slice-directory rendering roundtrips every partition
  *     value (unicode, spaces, separators, empty string — the values
  *     Spark's own partition-path escaping mangles);
  *   - a touched slice every row left stays in the manifest as an empty
  *     readable directory;
  *   - applyChanges materializes its delta exactly once, with counts,
  *     dedup, landing census and validation riding that checkpoint.
  */
class StagingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def bucketTable(cat: Catalog, name: String): GraftTable =
    new GraftTable(spark, cat, name, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("bucket", IntegerType, nullable = false))),
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("bucket"))

  test("multi-slice upsert stays within 3 driver actions (one write job)") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-budget").toString)
    val t = bucketTable(cat, "posts")
    t.createMany((1L to 40L).map(i => (i, s"v$i", (i % 8).toInt))
      .toDF("id", "v", "bucket"))
    val execs = countExecs {
      t.upsert(Seq("id"), (1L to 40L).map(i => (i, s"w$i", (i % 8).toInt))
        .toDF("id", "v", "bucket"))
    }
    // checkpoint-with-observed-stats + replaced-slice census + ONE
    // dynamic-partition write covering all 8 touched slices — the
    // pre-r17 shape paid a persist plus one write action per slice
    assert(execs <= 3, s"multi-slice staging regressed: $execs root executions (budget 3)")
    assert(t.snapshot().count() == 40)
    assert(t.snapshot().filter(col("v").startsWith("w")).count() == 40)
    // every bucket slice holds exactly its own rows
    (0 to 7).foreach { b =>
      assert(t.snapshot().filter(col("bucket") === b).count() == 5)
    }
  }

  test("applyChanges of a change-feed batch stays within 3 driver actions") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-cdc").toString)
    def tbl(n: String) = new GraftTable(spark, cat, n, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    val src = tbl("src")
    val mir = tbl("mir")
    src.createMany((1L to 20L).map(i => (i, i)).toDF("id", "v"))
    val changes = ChangeFeed.changesBetween(src, 0L, src.catalog.currentCommitId())
    val execs = countExecs {
      val txn = new Txn(cat)
      assert(txn.applyChanges(mir, changes) == 20L)
      txn.commit()
    }
    assert(execs <= 3, s"applyChanges regressed: $execs root executions (budget 3)")
    assert(mir.snapshot().count() == 20)
  }

  test("hex slice naming roundtrips hostile partition values") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-hex").toString)
    val t = new GraftTable(spark, cat, "docs", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("source", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("source"))
    // values Spark's partition-path escaping would mangle: %, =, /, a
    // comma (the engine's own component separator is pre-encoded away),
    // unicode, spaces, the empty string, and NULL
    val hostile = Seq("a b", "x=1/2", "100%", "café", "", "p,q", null)
    val rows = hostile.zipWithIndex.map { case (s, i) => (i.toLong, s) } ++
      hostile.zipWithIndex.map { case (s, i) => (i.toLong + 100, s) }
    // multi-slice path (several touched slices in one staging)
    t.createMany(rows.toDF("id", "source"))
    assert(t.snapshot().count() == rows.size)
    hostile.foreach { s =>
      val cond = if (s == null) col("source").isNull else col("source") === s
      assert(t.snapshot().filter(cond).count() == 2, s"value <$s> lost")
    }
    // and the slice directories themselves carry the url-encoded keys
    val pks = cat.partVersions("docs").keySet
    assert(pks.size == hostile.size)
    assert(pks.contains("source=__NULL__"))
  }

  test("a touched slice every row left stays readable as an empty slice") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-empty").toString)
    val t = bucketTable(cat, "posts")
    t.createMany((1L to 16L).map(i => (i, s"v$i", (i % 4).toInt))
      .toDF("id", "v", "bucket"))
    // a CDF-style MERGE that deletes every row of bucket 0 and upserts
    // into buckets 1..3 — bucket 0 is touched but ends empty
    val changes = (1L to 16L).map { i =>
      val del = i % 4 == 0
      (i, if (del) null else s"w$i", (i % 4).toInt,
        if (del) "delete" else "update_postimage")
    }.toDF("id", "v", "bucket", "_change_type")
    val txn = new Txn(cat)
    txn.applyChanges(t, changes)
    txn.commit()
    assert(t.snapshot().count() == 12)
    assert(t.snapshot().filter(col("bucket") === 0).count() == 0)
    // the emptied slice is still a manifest entry with a readable dir
    val dirs = cat.currentDirs("posts")
    assert(dirs.contains("bucket=0"))
    assert(new java.io.File(dirs("bucket=0")).isDirectory)
  }

  test("FK semantics pin: a LOSING duplicate image with a dangling FK is accepted") {
    // validate-what-is-written (r17 behavior change, asserted as intended):
    // FK probes run over the deduped SURVIVORS, so a duplicate image that
    // loses the survivor rank may carry an orphan FK without rejecting the
    // batch — like ON CONFLICT resolution happening before FK checks.
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-fk").toString)
    val parent = new GraftTable(spark, cat, "p", StructType(Seq(
      StructField("pid", LongType, nullable = false))),
      uniqueKeys = Seq(Seq("pid")))
    val child = new GraftTable(spark, cat, "c", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pid", LongType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    parent.onDeleteRestrict(child, "pid", "pid")
    parent.createMany(Seq(1L, 2L).toDF("pid"))
    // key 10 arrives twice: the FIRST image (valid FK) wins; the losing
    // second image references pid=999 which exists nowhere — accepted
    val n = child.upsert(Seq("id"),
      Seq((10L, 1L), (10L, 999L), (11L, 2L)).toDF("id", "pid"))
    assert(n == 2L)
    assert(child.snapshot().filter(col("id") === 10 && col("pid") === 1).count() == 1)
    // and a SURVIVING orphan image still throws P2003
    intercept[ForeignKeyViolationException] {
      child.upsert(Seq("id"), Seq((12L, 999L)).toDF("id", "pid"))
    }
    ()
  }

  test("driver-side local-delta path: hostile partition values, counts, tombstones") {
    // literal (LocalRelation) deltas take the zero-job driver checkpoint;
    // the landing-slice keys must match the Spark-side partKeyCol encoding
    // for every hostile value, and applyChanges semantics (survivor rank,
    // tombstone counts) must be unchanged.
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-local").toString)
    val t = new GraftTable(spark, cat, "docs", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("source", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("source"))
    val hostile = Seq("a b", "x=1/2", "100%", "café", "", "p,q", null)
    val rows = hostile.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    assert(t.upsert(Seq("id"), rows.toDF("id", "source")) == hostile.size.toLong)
    hostile.foreach { s =>
      val cond = if (s == null) col("source").isNull else col("source") === s
      assert(t.snapshot().filter(cond).count() == 1, s"value <$s> lost")
    }
    assert(cat.partVersions("docs").keySet.contains("source=__NULL__"))
    // applyChanges with a duplicate upsert image and a tombstone, all local
    val txn = new Txn(cat)
    val applied = txn.applyChanges(t, Seq(
      (0L, "winner", "insert"), (0L, "loser", "update_postimage"),
      (1L, null: String, "delete")).toDF("id", "source", "_change_type"))
    txn.commit()
    assert(applied == 2L) // one surviving upsert + one tombstone
    assert(t.snapshot().filter(col("id") === 0 && col("source") === "winner").count() == 1)
    assert(t.snapshot().filter(col("id") === 1).count() == 0)

    // key types whose driver-side equality differs from Spark's grouping
    // (binary compares by reference, NaN never equals NaN; ±0.0 must
    // stay one key as well): the literal delta must give exactly what the
    // same delta forced through the Spark window path (an RDD-backed
    // frame) gives
    def viaBothPaths(keyType: DataType, keys: Seq[Any]): Unit = {
      val sch = StructType(Seq(
        StructField("k", keyType, nullable = false),
        StructField("v", StringType, nullable = true)))
      val rows = keys.zipWithIndex.map { case (k, i) =>
        org.apache.spark.sql.Row(k, s"v$i") }
      def render(r: org.apache.spark.sql.Row): String = (r.get(0) match {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }) + "|" + r.getString(1)
      def upsertInto(delta: org.apache.spark.sql.DataFrame): (Long, Seq[String]) = {
        val tbl = new GraftTable(spark, new Catalog(
          java.nio.file.Files.createTempDirectory("graft-stage-keys").toString),
          "kt", sch, uniqueKeys = Seq(Seq("k")))
        val n = tbl.upsert(Seq("k"), delta)
        (n, tbl.snapshot().collect().map(render).toSeq.sorted)
      }
      val literal = upsertInto(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), sch))
      val forced = upsertInto(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), sch))
      assert(literal == forced, s"$keyType keys: driver path diverges")
    }
    viaBothPaths(BinaryType, Seq(Array[Byte](1, 2), Array[Byte](1, 2),
      Array[Byte](), Array[Byte](3), Array[Byte]()))
    viaBothPaths(DoubleType, Seq(0.0, -0.0, Double.NaN, 1.5, Double.NaN, -0.0))
  }

  test("open-time stage sweep removes only stale .stage-* dirs") {
    // a second Catalog opening the root while a writer is mid-stage must
    // not sweep the live stage; a crashed run's old stage does go
    val root = java.nio.file.Files.createTempDirectory("graft-stage-sweep")
    new Catalog(root.toString)
    val fresh = java.nio.file.Files.createDirectories(root.resolve(".stage-fresh"))
    java.nio.file.Files.createFile(fresh.resolve("part-0.parquet"))
    val stale = java.nio.file.Files.createDirectories(root.resolve(".stage-stale"))
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Catalog.StaleStageMillis - 60000L))
    new Catalog(root.toString)
    assert(java.nio.file.Files.exists(fresh.resolve("part-0.parquet")),
      "a fresh (possibly live) stage dir was swept")
    assert(!java.nio.file.Files.exists(stale), "a stale stage dir survived")
  }

  test("a 1-row literal upsert on an unpartitioned table runs ≤2 root executions") {
    // the index-meta shape: LocalRelation delta → driver-side checkpoint
    // (no job), unpartitioned table → no replaced-slice census; what's
    // left is the slice write (and bounded FK/validation probes — none
    // here). The pre-r18 shape paid checkpoint + census + write.
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-meta").toString)
    val t = new GraftTable(spark, cat, "meta", StructType(Seq(
      StructField("mid", IntegerType, nullable = false),
      StructField("v", LongType, nullable = false))),
      uniqueKeys = Seq(Seq("mid")))
    t.createMany(Seq((0, 1L)).toDF("mid", "v"))
    val execs = countExecs {
      t.upsert(Seq("mid"), Seq((0, 2L)).toDF("mid", "v"))
    }
    assert(execs <= 2, s"tiny literal upsert regressed: $execs root executions (budget 2)")
    assert(t.snapshot().filter(col("mid") === 0 && col("v") === 2L).count() == 1)
  }

  test("duplicate-key upsert images: one frozen survivor, counts exact") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-stage-dup").toString)
    val t = new GraftTable(spark, cat, "kv", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    t.createMany(Seq((1L, "old"), (2L, "old")).toDF("id", "v"))
    // three images of key 1 in one batch: exactly one survives, the
    // count reports deduped rows (2), and the table never duplicates
    val n = t.upsert(Seq("id"),
      Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "z")).toDF("id", "v"))
    assert(n == 2L)
    assert(t.snapshot().count() == 2)
    assert(t.snapshot().filter(col("id") === 1).count() == 1)
    assert(t.snapshot().filter(col("id") === 2 && col("v") === "z").count() == 1)
  }
}
