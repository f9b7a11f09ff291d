package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over embedding columns — the clustering
  * stage a training-data pipeline runs for SemDeDup-style pruning,
  * domain discovery, and diversity-balanced sampling (and the offline
  * trainer behind [[Similarity.ivfTopK]]'s coarse quantizer).
  *
  * Scale shape: centers are the ONLY driver-side state (k × dim longs —
  * metadata-sized at any corpus size; they broadcast to every task
  * anyway). Each Lloyd round is one corpus scan:
  *   broadcast cross join against the k-row center table
  *   → min-distance assignment as a map-side-combinable `min_by` agg
  *   → per-(cluster, position) sum/count agg for the center update.
  * Two bounded shuffles per round (|points| and k·dim rows); no window
  * over an unpartitioned frame, nothing quadratic, no iteration state
  * cached on executors (each round's lineage re-reads the scan — at
  * 100 TB you'd persist `pts` once; the operator takes the caller's
  * DataFrame as-is so that choice stays with the caller).
  *
  * Determinism (the reason this gate can be HASH-matched against an
  * independent engine, same contract as the integer PageRank gate):
  * coordinates quantize to integer MILLI units on ingest
  * (`clamp(round(x·1000), ±2000) + 2000` — non-negative so truncating
  * and flooring division agree), centers live in integer MICRO units
  * (`(Σmilli · 1000) div n`), distances are exact integer squared
  * Euclidean in micro space, ties break on smallest cluster id, and
  * seeding orders by the portable md5 draw. Zero floating-point ops
  * anywhere — partition order, engine, and libm cannot move a single
  * assignment. Clusters that lose all members drop out (mirrored by the
  * oracle's GROUP BY).
  */
object Clustering {

  /** @param points DataFrame with `idCol` and an array-of-float/double
    *               `embCol`
    * @param k      cluster count
    * @param iters  Lloyd refinement rounds (assignments output are from
    *               one final assignment pass after the last update)
    * @return (id, cid) — cid ∈ 1..k by seed order, BIGINT, hash-exact
    */
  def kmeans(points: DataFrame, embCol: String, idCol: String,
             k: Int, iters: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._

    // PQ training's quantization: null/NaN coordinates are EXCLUDED, not
    // quantized (a null element would silently clamp to the +2.0 bound,
    // NaN casts to 0 — either way the point lands in a wrong cluster and
    // pollutes center means with fabricated coordinates)
    val pts = Pq.quantized(points, embCol, idCol)

    // Seeds: PQ's (md5(id), id) draw, cid 1..k in that order — portable,
    // and independent of physical row order. A duplicated id throws.
    val seedRows: Array[Row] = Pq.seedRowsOf(pts, k)
    var centers: IndexedSeq[(Long, Seq[Long])] =
      seedRows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
        ((i + 1).toLong, r.getSeq[Long](0).map(_ * 1000L))
      }

    // LocalRelation per reference — no executor-resident cache to leak
    // (the ivfTopK lesson); k·dim longs broadcast for free.
    def centersDf = centers.toDF("cid", "__c")

    def assign(p: DataFrame): DataFrame = {
      val d = aggregate(
        zip_with(col("__e"), col("__c"),
          (a, b) => { val t = a * lit(1000L) - b; t * t }),
        lit(0L), (acc, x) => acc + x)
      p.crossJoin(broadcast(centersDf))
        .withColumn("__d", d)
        .groupBy(col("id"))
        .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"),
          first(col("__e")).as("__e"))
    }

    // Each refinement round is ONE partial-aggregate pass
    // ([[graft.functions.PqRoundAgg]] with a single full-dimension
    // subspace): the scan-side kernel assigns each point to its nearest
    // center (exact integer distances, smallest-cid ties — bit-identical
    // to the crossJoin + min_by plan this replaces, which materialized a
    // k-fold row blowup, shuffled every embedding through the per-id
    // argmin, and exploded dim rows per point for the update) and
    // accumulates k·(dim+1) integer sums per task. Centers are kept
    // ascending by cid, so kernel index order IS cid order and the
    // smallest-index tie-break matches min_by's smallest-cid. A center
    // that loses every member has count 0 and drops out — the same
    // GROUP-BY-mirrored contract as before.
    val dim = if (seedRows.isEmpty) 0 else seedRows(0).getSeq[Long](0).length
    if (centers.nonEmpty) (1 to iters).foreach { _ =>
      val flat = centers.flatMap(_._2).toArray
      val arr = pts.select(graft.functions.PqRound
        .roundAgg(col("__e"), flat, 1, centers.length, dim))
        .head().getSeq[Long](0)
      centers = centers.indices.flatMap { j =>
        val base = j * (dim + 1)
        val n = arr(base + dim)
        if (n == 0L) None
        // milli sums are non-negative, so / is the floor `div` the SQL
        // round plan used
        else Some((centers(j)._1, (0 until dim).map(p => arr(base + p) * 1000L / n)))
      }
    }

    assign(pts).select(col("id"), col("cid")).orderBy(col("id"))
  }

}
