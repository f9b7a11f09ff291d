package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integer-exact Lloyd's k-means: planted-cluster recovery on the
  * embeddings fixture, run-to-run determinism, hand-checked two-point
  * geometry, and the broadcast-join round shape. */
class ClusteringSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("recovers well-separated constructed clusters exactly") {
    // 3 tight blobs at distinct corners of the cube; deterministic jitter.
    // (The embeddings fixture's planted labels are too noisy for ANY
    // Euclidean k-means to recover — verified against an ideal float
    // Lloyd's, purity 0.168 — so recovery is asserted on geometry that
    // actually separates.)
    val pts = (0 until 60).map { i =>
      val blob = i % 3
      val base = Seq(
        Array(0.5f, 0.5f, -0.5f), Array(-0.5f, 0.5f, 0.5f),
        Array(0.5f, -0.5f, 0.5f)).apply(blob)
      val jit = (i / 3) * 0.002f
      (i.toLong, blob, base.map(_ + jit))
    }
    val df = pts.toDF("id", "blob", "embedding")
    val got = Clustering.kmeans(df, "embedding", "id", k = 3, iters = 2)
      .join(df.select($"id", $"blob"), "id")
    // every kmeans cluster maps 1:1 onto one blob
    val m = got.groupBy($"cid", $"blob").count().collect()
    assert(m.length == 3, m.mkString(", "))
    assert(m.map(_.getLong(2)).forall(_ == 20L))
  }

  test("deterministic across runs and repartitionings") {
    val base = Clustering.kmeans(embeddings, "embedding", "vec_id", 10, 2)
      .collect().toSeq
    val shuffled = Clustering.kmeans(embeddings.repartition(7, $"label"),
      "embedding", "vec_id", 10, 2).collect().toSeq
    assert(base == shuffled)
  }

  test("two well-separated points seed two singleton clusters") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f))).toDF("id", "embedding")
    val got = Clustering.kmeans(df, "embedding", "id", k = 2, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L) && got.values.toSet.size == 2)
  }

  test("k larger than the point count degrades to one cluster per point") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.3f, 0.3f)),
      (3L, Array(-0.3f, 0.4f))).toDF("id", "embedding")
    val got = Clustering.kmeans(df, "embedding", "id", k = 5, iters = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(got.map(_._2).toSet.size == 3, got.toString)
  }

  test("assignment rounds broadcast the centers (no point-side shuffle join)") {
    val p = Clustering.kmeans(embeddings, "embedding", "vec_id", 10, 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("a duplicated id is rejected before training") {
    val df = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(0.5f, 0.5f)),
      (2L, Array(0.4f, 0.4f))).toDF("id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeans(df, "embedding", "id", k = 2, iters = 1)
    }
    assert(e.getMessage.contains("duplicated id"))
  }

  /** Plain-Scala integer Lloyd's over SIGNED milli coordinates: md5 seeds,
    * exact squared distances, smallest-cid ties, empty clusters dropped;
    * `div` turns a micro-unit sum and a member count into a center. */
  private def lloyd(pts: Seq[(Long, Seq[Long])], k: Int, iters: Int,
                    div: (Long, Long) => Long): Map[Long, Long] = {
    def md5(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var centers = pts.sortBy(p => (md5(p._1), p._1)).take(k).zipWithIndex
      .map { case ((_, e), i) => ((i + 1).toLong, e.map(_ * 1000L)) }
    def assign(): Map[Long, Long] = pts.map { case (id, e) =>
      id -> centers.minBy { case (cid, c) =>
        (e.zip(c).map { case (a, b) => (a * 1000 - b) * (a * 1000 - b) }.sum, cid)
      }._1
    }.toMap
    (1 to iters).foreach { _ =>
      val a = assign()
      centers = centers.flatMap { case (cid, _) =>
        val members = pts.collect { case (id, e) if a(id) == cid => e }
        if (members.isEmpty) None
        else Some((cid, members.transpose.map(c => div(c.sum * 1000L, members.size.toLong))))
      }
    }
    assign()
  }

  test("all-negative coordinates: centers floor like Math.floorDiv (the +2000 milli shift)") {
    // 1-D points whose first center update has a negative, non-integral
    // mean: truncating toward zero instead of flooring moves point 3 to
    // the other cluster
    val milli = Seq(1L -> -1520L, 2L -> -1515L, 3L -> -1236L,
      4L -> -873L, 5L -> -410L, 6L -> -1862L)
    val pts = milli.map { case (id, m) => (id, Seq(m)) }
    val floor = lloyd(pts, 2, 1, Math.floorDiv(_, _))
    assert(floor != lloyd(pts, 2, 1, _ / _), "the fixture must tell floor from truncation")
    val df = milli.map { case (id, m) => (id, Array(m / 1000.0)) }.toDF("id", "embedding")
    val got = Clustering.kmeans(df, "embedding", "id", k = 2, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == floor)
  }
}
