package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — Jégou et al. 2011, "Product
  * quantization for nearest neighbor search": split each D-dim embedding
  * into `m` subvectors, train an independent `k`-centroid codebook per
  * subspace (Lloyd's, jointly over all subspaces in one pass per round),
  * encode every corpus vector as `m` small codes, and answer queries by
  * asymmetric distance computation (ADC): per query, precompute the
  * m×k table of query-subvector→centroid distances once, then score a
  * corpus row with `m` table lookups instead of D multiplies.
  *
  * This is the memory lever past int8 ([[Similarity.quantizeInt8]]):
  * 64-dim float32 → 4 codes ≈ 64× smaller scan, which at 100 TB of
  * embeddings is the difference between an in-page-cache code scan and
  * any full-vector representation. IVF composes in front
  * ([[Similarity.ivfTopK]] coarse-quantizes; PQ compresses what's left —
  * the classic IVFADC layout).
  *
  * Scale shape: the codebook is the ONLY driver-side state (k·D longs —
  * metadata-sized; it ships to executors as a plan literal, so encoding
  * and assignment are pure scan-side expressions with ZERO shuffle).
  * Each training round is one corpus scan + one (sub, cid, pos)-bounded
  * aggregate (m·k·D/m groups). ADC search broadcasts the per-query
  * lookup tables (|Q|·m·k longs) over one pass of the code table and
  * ranks through the bounded-heap [[graft.functions.TopK]] partial
  * aggregate — at most `topk` candidates per query leave each partition,
  * so the shuffle is |Q|·topk rows regardless of corpus size.
  *
  * Determinism (hash-gated against an independent engine's replay, same
  * contract as [[Clustering.kmeans]]): coordinates quantize to integer
  * MILLI units on ingest, centroids live in integer MICRO units
  * (`(Σmilli · 1000) div n`), distances are exact integer squared
  * Euclidean in micro space (the +2000 translation that keeps milli
  * units non-negative is distance-invariant), assignment ties break on
  * smallest centroid id, seeding orders by the portable md5 draw, and a
  * centroid that loses every member KEEPS its previous coordinates (so
  * codebook indexing never develops holes). Zero floating-point ops
  * before the final heap ranking, whose integer scores are < 2⁵³ and
  * therefore exact in its double slot. */
object Pq {

  /** Trained codebook: `centers(sub*k + cid-1)` = micro-unit centroid of
    * codeword `cid` (1-based) in subspace `sub` (0-based). */
  final case class Codebook(m: Int, k: Int, ds: Int,
                            centers: IndexedSeq[Seq[Long]])

  private def eMilli(embCol: String): Column =
    transform(col(embCol).cast("array<double>"),
      x => greatest(lit(-2000L),
        least(lit(2000L), round(x * 1000, 0).cast("long"))) + 2000L)

  /** Well-formed-embedding predicate — the [[clean]] condition as a
    * public Column, so index maintenance can route rows that FAIL it
    * (an update_postimage turning an embedding null/NaN must DELETE the
    * stale codes, not silently leave them searchable). */
  def isWellFormed(embCol: String): Column =
    col(embCol).isNotNull &&
      !exists(col(embCol).cast("array<double>"), x => x.isNull || isnan(x))

  /** Same malformed-embedding policy as [[Clustering.kmeans]]: null/NaN
    * coordinates exclude the row rather than clamp to fabricated values. */
  private def clean(points: DataFrame, embCol: String): DataFrame =
    points.filter(isWellFormed(embCol))

  /** Codebook flattened for the codegen kernels: index
    * `(sub·k + cid−1)·ds + pos`. */
  private def flat(cb: Codebook): Array[Long] = cb.centers.flatten.toArray

  /** Scan-side code assignment against the codebook — one codegen'd
    * kernel call per row ([[graft.functions.PqKernels.pqEncode]]:
    * exact integer distances, smallest-cid tie-break). The declarative
    * nested-fold form of this (aggregate over k of zip_with over ds)
    * runs interpreted at ~3 ms/row — a constant that sinks a 100 TB
    * encode pass; the kernel keeps the scan inside whole-stage codegen. */
  private def codesExpr(cb: Codebook, eCol: Column): Column =
    graft.functions.PqExpressions.pqEncode(eCol, flat(cb), cb.m, cb.k, cb.ds)

  /** Train m codebooks of k centroids each over `points`' embedding
    * column. `iters` Lloyd rounds; D must divide evenly by m. */
  def train(points: DataFrame, embCol: String, idCol: String,
            m: Int, k: Int, iters: Int): Codebook = {
    // Each Lloyd round rescans the training input (seed collect + one
    // aggregate per iteration); without a persist that is iters+2 source
    // scans EACH re-running the milli-quantize projection. Cache the
    // quantized frame for the duration of training — at scale the
    // training input is a capped sample, exactly what belongs in memory.
    val pts = quantized(points, embCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainOn(pts, m, k, iters, seedRowsOf(pts, k))
    finally pts.unpersist(blocking = false)
  }

  /** Train the IVFADC PAIR — the coarse quantizer (one full-dimension
    * subspace, `nCells` codewords) and the PQ codebook (`m`×`k`) — over
    * ONE shared quantize+persist of the training input and ONE shared
    * seed draw. Both single-`train` calls would each quantize, persist,
    * and seed-collect the same points; the math is identical (the seed
    * order is a prefix property: the first `n` rows of the shared
    * max(nCells, k) draw ARE the rows a limit-`n` draw returns), so
    * every oracle replay of train-on-snapshot holds unchanged. */
  def trainPair(points: DataFrame, embCol: String, idCol: String,
                nCells: Int, m: Int, k: Int,
                iters: Int): (Codebook, Codebook) = {
    val pts = quantized(points, embCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = seedRowsOf(pts, math.max(nCells, k))
      // INTERLEAVED Lloyd rounds: within a round each codebook's update
      // depends only on the cached points and ITS OWN current centers,
      // so both updates ride ONE partial-aggregate job over ONE scan of
      // the cache (two aggregate columns, [[graft.functions.PqRoundAgg]])
      // — the r17 tagged-union shape still scanned the cache twice and
      // shuffled m·ds explode rows per vector; this ships m·k·(ds+1)
      // longs per task and nothing else. Bit-identical centers per
      // codebook (exact integer sums commute).
      var coarse = seedCodebook(seeds.take(nCells), 1, nCells)
      var cb = seedCodebook(seeds.take(k), m, k)
      (1 to iters).foreach { _ =>
        val row = pts.select(
          graft.functions.PqRound
            .roundAgg(col("__e"), flat(coarse), 1, nCells, coarse.ds).as("c"),
          graft.functions.PqRound
            .roundAgg(col("__e"), flat(cb), m, k, cb.ds).as("p")).head()
        coarse = foldRound(coarse, decodeRound(row.getSeq[Long](0), coarse))
        cb = foldRound(cb, decodeRound(row.getSeq[Long](1), cb))
      }
      (coarse, cb)
    } finally pts.unpersist(blocking = false)
  }

  /** Seed centers: the first `k` draw rows seed every subspace (their
    * j-th subvector seeds codebook j), cid 1..k in draw order. */
  private def seedCodebook(seedRows: Array[Row], m: Int, k: Int): Codebook = {
    require(seedRows.nonEmpty, "Pq.train: no valid embeddings")
    val d = seedRows(0).getSeq[Long](0).length
    require(m > 0 && d % m == 0, s"Pq.train: dim $d must divide by m=$m")
    val ds = d / m
    require(seedRows.length == k, s"Pq.train: need ≥ $k points, have ${seedRows.length}")
    Codebook(m, k, ds, (0 until m).flatMap(j => seedRows.toIndexedSeq.map(r =>
      r.getSeq[Long](0).slice(j * ds, (j + 1) * ds).map(_ * 1000L))))
  }

  /** Decode one [[graft.functions.PqRoundAgg]] result into the centroid
    * update map: (sub, cid 1-based) → micro-unit mean per component,
    * `(Σmilli · 1000) div n` — the exact integer algebra the explode/
    * groupBy round plan computed. Empty centroids (n = 0) are absent,
    * so [[foldRound]]'s keep-previous-coordinates contract holds. */
  private def decodeRound(arr: scala.collection.Seq[Long],
                          cb: Codebook): Map[(Int, Int), Seq[Long]] =
    (0 until cb.m * cb.k).iterator.flatMap { idx =>
      val base = idx * (cb.ds + 1)
      val n = arr(base + cb.ds)
      if (n == 0L) None
      else Some((idx / cb.k, idx % cb.k + 1) ->
        // milli sums are non-negative, so / is the same floor `div` the
        // SQL round plan used
        (0 until cb.ds).map(p => arr(base + p) * 1000L / n))
    }.toMap

  /** Fold a round's updates into the codebook — a centroid with no
    * members keeps its coordinates (indexing sub*k + cid−1 must never
    * develop holes). */
  private def foldRound(cb: Codebook,
                        upd: Map[(Int, Int), Seq[Long]]): Codebook =
    Codebook(cb.m, cb.k, cb.ds, IndexedSeq.tabulate(cb.m * cb.k)(idx =>
      upd.getOrElse((idx / cb.k, idx % cb.k + 1), cb.centers(idx))))

  private[operators] def quantized(points: DataFrame, embCol: String,
                                   idCol: String): DataFrame =
    clean(points, embCol)
      .select(col(idCol).as("id"), eMilli(embCol).as("__e"))

  /** Seeds: the n rows with the smallest (md5(id), id) draw — portable
    * and independent of physical row order. One bounded collect, after
    * one probe that rejects a duplicated id: the round aggregate weighs
    * every ROW, so a duplicate would pull the centers once per copy. */
  private[operators] def seedRowsOf(pts: DataFrame, n: Int): Array[Row] = {
    require(pts.groupBy(col("id")).count().filter(col("count") > 1).isEmpty,
      "training points carry a duplicated id")
    pts.withColumn("__m", md5(col("id").cast("string")))
      .orderBy(col("__m"), col("id")).limit(n)
      .select(col("__e")).collect()
  }

  private def trainOn(pts: DataFrame, m: Int, k: Int, iters: Int,
                      seedRows: Array[Row]): Codebook = {
    var cb = seedCodebook(seedRows, m, k)
    (1 to iters).foreach { _ =>
      val arr = pts.select(graft.functions.PqRound
        .roundAgg(col("__e"), flat(cb), m, k, cb.ds)).head().getSeq[Long](0)
      cb = foldRound(cb, decodeRound(arr, cb))
    }
    cb
  }

  /** Encode corpus rows as m codes (1-based centroid ids) — one scan,
    * zero shuffle. */
  def encode(points: DataFrame, embCol: String, idCol: String,
             cb: Codebook): DataFrame =
    clean(points, embCol).select(col(idCol).as("id"),
      codesExpr(cb, eMilli(embCol)).as("codes"))

  /** Train + encode + ADC top-k in one call: (qid, id, rank) with rank
    * 1..topk by ascending PQ distance, ties on smallest id. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
             idCol: String, qidCol: String, m: Int, k: Int,
             iters: Int, topk: Int): DataFrame = {
    val cb = train(corpus, embCol, idCol, m, k, iters)
    val codes = encode(corpus, embCol, idCol, cb)
    // per-query ADC lookup table: position j*k + cid-1 holds the exact
    // integer distance from the query's j-th subvector to centroid cid
    val lut = clean(queries, embCol)
      .select(col(qidCol).as("qid"), eMilli(embCol).as("__qe"))
      .select(col("qid"), graft.functions.PqExpressions
        .pqLut(col("__qe"), flat(cb), m, k, cb.ds).as("__lut"))
    val dist = graft.functions.PqExpressions.pqAdc(col("codes"), col("__lut"), k)
    // negate into the (score desc, id asc) heap: integer distances are
    // < 2^53, so the double slot is exact and ascending-distance order
    // is preserved bit-for-bit
    codes.crossJoin(broadcast(lut))
      .withColumn("__score", -dist.cast("double"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(col("__score"), col("id"), topk).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("id"), col("t.rank").cast("long").as("rank"))
  }

  /** IVFADC (Jégou et al. 2011 §V): IVF coarse quantization in front of
    * the PQ code scan. The coarse quantizer IS a PQ codebook with m=1
    * (one full-dimension subspace, nCells codewords) — same integer
    * Lloyd's, same md5 seeding, same lost-centroid carry-over — so both
    * stages share [[train]]/[[encode]] and the oracle replays one CTE
    * chain twice. Every corpus row is binned into its nearest coarse
    * cell at encode time; a query probes its `nProbe` nearest cells and
    * ADC-scores ONLY the codes in those cells.
    *
    * Scale shape on top of [[pqTopK]]: the per-query work drops from
    * |corpus| LUT folds to |corpus|·nProbe/nCells — with cell-partitioned
    * (or cell-bucketed) code storage the non-probed cells are never even
    * scanned (slice-stat pruning on the `cell` column). The probe table
    * is |Q|·nProbe rows joined broadcast against the code scan, so the
    * only shuffle is still the |Q|·topk bounded-heap rank.
    *
    * This is the flat-codebook IVF-PQ layout (one global PQ codebook;
    * cells only gate the scan). Residual encoding (PQ over x − coarse(x),
    * tighter at high dim) is a unit change in the same integer algebra —
    * residuals in micro units are exact Longs — but doubles the symbolic
    * oracle; the flat layout is what the gate proves. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
                idCol: String, qidCol: String, nCells: Int, nProbe: Int,
                m: Int, k: Int, iters: Int, topk: Int): DataFrame = {
    val (coarse, cb) = trainPair(corpus, embCol, idCol, nCells, m, k, iters)
    searchCodes(encodeIvf(corpus, embCol, idCol, coarse, cb),
      queries, embCol, qidCol, coarse, cb, nProbe, topk)
  }

  /** One-scan IVF+PQ encoding against ALREADY-TRAINED codebooks:
    * (id, cell, codes). Both codebooks are plan literals, so cell
    * assignment and PQ codes come out of ONE scan — never a corpus
    * self-join to pair them, and ZERO shuffle. This is the re-encode
    * path a persistent index ([[graft.store.AnnIndex]]) runs over a
    * change-feed delta: the codebooks stay fixed, only the moved rows
    * are scanned. */
  def encodeIvf(points: DataFrame, embCol: String, idCol: String,
                coarse: Codebook, cb: Codebook): DataFrame = {
    require(coarse.m == 1,
      s"coarse quantizer must be one full-dimension subspace, got m=${coarse.m}")
    clean(points, embCol)
      .select(col(idCol).as("id"), eMilli(embCol).as("__e"))
      .select(col("id"),
        element_at(codesExpr(coarse, col("__e")), 1).as("cell"),
        codesExpr(cb, col("__e")).as("codes"))
  }

  /** ONE-PASS change-feed delta encode for a persistent IVFADC index
    * ([[graft.store.AnnIndex.refresh]]): arriving images (insert /
    * update_postimage) encode against the frozen codebooks, rows LEAVING
    * the index — delete images, and postimages whose embedding went
    * malformed (the [[isWellFormed]] policy: stale codes must not stay
    * searchable for a vector that no longer exists) — come out as delete
    * tombstones carrying only their key. Output: (id, cell, codes,
    * _change_type ∈ insert|delete), ready for `applyChanges`.
    *
    * The point is the shape: the change-feed frame appears ONCE in the
    * output plan. The previous filter-encode / filter-union-deletes
    * composition referenced it three times, so the full-outer manifest
    * diff behind it executed three times inside the staging
    * materialization. CaseWhen evaluates its branches lazily in codegen,
    * so tombstones never run the encode kernels. */
  def encodeIvfDelta(changes: DataFrame, embCol: String, idCol: String,
                     coarse: Codebook, cb: Codebook): DataFrame = {
    require(coarse.m == 1,
      s"coarse quantizer must be one full-dimension subspace, got m=${coarse.m}")
    val leaving = col("_change_type") === "delete" || !isWellFormed(embCol)
    changes.filter(col("_change_type")
        .isin("insert", "update_postimage", "delete"))
      .select(col(idCol).as("id"),
        when(leaving, lit(0))
          .otherwise(element_at(codesExpr(coarse, eMilli(embCol)), 1))
          .cast("int").as("cell"),
        when(leaving, lit(null).cast("array<int>"))
          .otherwise(codesExpr(cb, eMilli(embCol))).as("codes"),
        when(leaving, lit("delete")).otherwise(lit("insert"))
          .as("_change_type"))
  }

  /** Probe ranking: per query, integer distance to every coarse
    * centroid (the m=1 LUT kernel gives exactly that table — index
    * cid−1), keep the `nProbe` closest (ties on smallest cell id) —
    * (qid, __qe, cell). The window partitions by qid — never a global
    * sort. */
  private[graft] def probeFrame(queries: DataFrame, embCol: String,
                                qidCol: String, coarse: Codebook,
                                nProbe: Int): DataFrame =
    clean(queries, embCol)
      .select(col(qidCol).as("qid"), eMilli(embCol).as("__qe"))
      .select(col("qid"), col("__qe"),
        posexplode(graft.functions.PqExpressions
          .pqLut(col("__qe"), flat(coarse), 1, coarse.k, coarse.ds))
          .as(Seq("__p", "__d")))
      .withColumn("cell", (col("__p") + 1).cast("int"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("__d"), col("cell"))))
      .filter(col("__rn") <= nProbe)
      .select(col("qid"), col("__qe"), col("cell"))

  /** EXACT re-rank of an ANN shortlist — stage two of the production
    * retrieval pattern (ADC shortlist → true-distance re-rank): join the
    * (qid, id) candidates back to the full vectors and rank by the exact
    * integer squared distance in milli space (ties on smallest id). ADC
    * distance is an approximation of this metric through the codebook;
    * the re-rank removes the quantization error from the final order.
    * Work is |Q|·shortlist rows — two hash joins and a qid-partitioned
    * window, never a corpus scan (the corpus side is key-looked-up by
    * the shortlist ids). */
  def rerankExact(candidates: DataFrame, corpus: DataFrame,
                  queries: DataFrame, embCol: String, idCol: String,
                  qidCol: String, topk: Int): DataFrame = {
    val c = clean(corpus, embCol)
      .select(col(idCol).as("id"), eMilli(embCol).as("__ce"))
    val q = clean(queries, embCol)
      .select(col(qidCol).as("qid"), eMilli(embCol).as("__qe"))
    // exact integer squared distance: coords are milli units in
    // [0, 4000], so Σ diff² ≤ 16e6 · dim — nowhere near Long range
    val d = aggregate(
      zip_with(col("__ce"), col("__qe"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    candidates.select(col("qid"), col("id"))
      .join(c, Seq("id"))
      .join(q, Seq("qid"))
      .withColumn("__d", d)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("__d"), col("id"))))
      .filter(col("rank") <= topk)
      .select(col("qid"), col("id"), col("rank").cast("long").as("rank"))
  }

  /** ADC top-k over an ALREADY-ENCODED (id, cell, codes) frame — the
    * probe-time half of IVFADC, shared by the train-inline [[ivfPqTopK]]
    * and the persisted-index path (which feeds a cell-pruned scan of its
    * codes table here and never retrains). */
  def searchCodes(codes: DataFrame, queries: DataFrame, embCol: String,
                  qidCol: String, coarse: Codebook, cb: Codebook,
                  nProbe: Int, topk: Int): DataFrame = {
    val probes = probeFrame(queries, embCol, qidCol, coarse, nProbe)
    // Per-(query, probed cell) ADC lookup table; joining it broadcast on
    // `cell` both restricts the scan to probed cells and delivers the
    // LUT in the same pass — no second join.
    val lut = probes.select(col("qid"), col("cell"),
      graft.functions.PqExpressions
        .pqLut(col("__qe"), flat(cb), cb.m, cb.k, cb.ds).as("__lut"))
    val dist = graft.functions.PqExpressions.pqAdc(col("codes"), col("__lut"), cb.k)
    codes.join(broadcast(lut), Seq("cell"))
      .withColumn("__score", -dist.cast("double"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(col("__score"), col("id"), topk).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("id"), col("t.rank").cast("long").as("rank"))
  }
}
