package graft
package gates

import graft.operators.{Relevance, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Fixtures._

/** Retrieval gates: exact, quantized, PQ, IVF and LSH nearest-neighbour
  * search, the persistent ANN index, BM25 and rank fusion, with the
  * generated DuckDB replays of PQ/IVF training. */
private[graft] object RetrievalGates {

  /** Unrolled fixed-point PageRank oracle: the same integer millionth-
    * unit recurrence as `operators.Graph.pageRankFixedPoint`, one CTE
    * per iteration (`//` = DuckDB floor division = Spark `div` on the
    * all-positive operands). Integer arithmetic is what makes the
    * distributed and single-threaded evaluations hash-identical. */
  /** DuckDB replay of [[operators.Clustering.kmeans]]: one CTE pair
    * (assign aN, update cN) per Lloyd round, all-integer arithmetic so
    * every round is bit-identical to the Spark side. */
  /** DuckDB replay of [[operators.Pq.pqTopK]]: subspace k-means per
    * round (same integer/md5 contract as [[kmeansOracle]], with the sub
    * column threaded through and lost centroids carried over), final
    * encoding, per-query ADC lookup tables, ascending-distance rank. */
  /** One PQ train+encode CTE chain (prefix `p` keeps two chains — e.g.
    * the IVF coarse quantizer, which IS a PQ with m=1 — from colliding
    * in the same WITH). Emits `${p}sp`/`${p}c0..c$iters`/`${p}codes`
    * over the shared `pts`; the caller appends search CTEs.
    * `trainPts` names the CTE the SEEDS and Lloyd rounds read — the
    * persisted-index oracle trains on the build-time snapshot (`pts0`)
    * while `${p}codes` still encodes ALL of `pts`, exactly the
    * train-once/encode-everything split AnnIndex persists. */
  private def pqChainSql(p: String, m: Int, k: Int, iters: Int,
                         trainPts: String = "pts"): String = {
    val sb = new StringBuilder
    sb.append(s""",
      ${p}dims AS (SELECT len(e) // $m AS ds FROM pts LIMIT 1),
      ${p}sp AS (
        SELECT id, sub, list_slice(e, sub * ds + 1, (sub + 1) * ds) AS se
        FROM pts CROSS JOIN ${p}dims
        CROSS JOIN (SELECT unnest(range(0, $m)) AS sub)
      )""")
    val tsp = if (trainPts == "pts") s"${p}sp" else s"${p}tsp"
    if (trainPts != "pts") sb.append(s""",
      ${p}tsp AS (
        SELECT id, sub, list_slice(e, sub * ds + 1, (sub + 1) * ds) AS se
        FROM $trainPts CROSS JOIN ${p}dims
        CROSS JOIN (SELECT unnest(range(0, $m)) AS sub)
      )""")
    sb.append(s""",
      ${p}seed AS (
        SELECT id, row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS cid
        FROM (SELECT id FROM $trainPts ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $k)
      ), ${p}c0 AS (
        SELECT sp.sub, CAST(s.cid AS INTEGER) AS cid,
               list_transform(sp.se, v -> v * 1000) AS c
        FROM $tsp sp JOIN ${p}seed s ON sp.id = s.id
      )""")
    for (i <- 1 to iters) {
      sb.append(s""",
      ${p}a$i AS (
        SELECT id, sub, se, cid FROM (
          SELECT sp.id, sp.sub, sp.se, c.cid,
                 row_number() OVER (PARTITION BY sp.id, sp.sub ORDER BY
                   list_sum(list_transform(range(1, len(sp.se) + 1),
                     i -> (sp.se[i] * 1000 - c.c[i]) * (sp.se[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM $tsp sp JOIN ${p}c${i - 1} c ON sp.sub = c.sub) WHERE rn = 1
      ), ${p}u$i AS (
        SELECT sub, cid, list(v ORDER BY pos) AS c FROM (
          SELECT sub, cid, pos, CAST((sum(v) * 1000) // count(*) AS BIGINT) AS v
          FROM (SELECT sub, cid, unnest(se) AS v, generate_subscripts(se, 1) AS pos
                FROM ${p}a$i)
          GROUP BY sub, cid, pos)
        GROUP BY sub, cid
      ), ${p}c$i AS (
        SELECT o.sub, o.cid, coalesce(u.c, o.c) AS c
        FROM ${p}c${i - 1} o LEFT JOIN ${p}u$i u ON o.sub = u.sub AND o.cid = u.cid
      )""")
    }
    sb.append(s""",
      ${p}codes AS (
        SELECT id, sub, cid FROM (
          SELECT sp.id, sp.sub, c.cid,
                 row_number() OVER (PARTITION BY sp.id, sp.sub ORDER BY
                   list_sum(list_transform(range(1, len(sp.se) + 1),
                     i -> (sp.se[i] * 1000 - c.c[i]) * (sp.se[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM ${p}sp sp JOIN ${p}c$iters c ON sp.sub = c.sub) WHERE rn = 1
      )""")
    sb.toString
  }

  private val pqPtsSql = """
      WITH pts AS (
        SELECT vec_id AS id,
               list_transform(embedding, x ->
                 greatest(-2000, least(2000,
                   CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))) + 2000) AS e
        FROM embeddings
      )"""

  private def pqOracle(m: Int, k: Int, iters: Int, topk: Int): String = {
    val sb = new StringBuilder
    sb.append(pqPtsSql)
    sb.append(pqChainSql("", m, k, iters))
    sb.append(s""",
      q AS (
        SELECT id AS qid, e AS qe FROM pts WHERE id < 10
      ), lut AS (
        SELECT q.qid, c.sub, c.cid,
               list_sum(list_transform(range(1, len(c.c) + 1), i ->
                 (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i])
               * (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i]))) AS dist
        FROM q CROSS JOIN dims CROSS JOIN c$iters c
      ), scored AS (
        SELECT l.qid, a.id, sum(l.dist) AS dist
        FROM codes a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
        GROUP BY l.qid, a.id
      ), ranked AS (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        FROM scored
      )
      SELECT qid, id, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= $topk ORDER BY qid, rank""")
    sb.toString
  }

  /** IVFADC replay: the coarse quantizer is the same chain with m=1
    * (prefix `g`), probing keeps each query's nProbe nearest cells, and
    * `scored` gates the PQ code join on cell membership. */
  private def ivfPqOracle(nCells: Int, nProbe: Int, m: Int, k: Int,
                          iters: Int, topk: Int): String = {
    val sb = new StringBuilder
    sb.append(pqPtsSql)
    sb.append(pqChainSql("g", 1, nCells, iters))
    sb.append(pqChainSql("", m, k, iters))
    sb.append(s""",
      q AS (
        SELECT id AS qid, e AS qe FROM pts WHERE id < 10
      ), probe AS (
        SELECT qid, cid AS cell FROM (
          SELECT q.qid, c.cid,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.c) + 1),
                     i -> (q.qe[i] * 1000 - c.c[i]) * (q.qe[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM q CROSS JOIN gc$iters c) WHERE rn <= $nProbe
      ), lut AS (
        SELECT q.qid, c.sub, c.cid,
               list_sum(list_transform(range(1, len(c.c) + 1), i ->
                 (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i])
               * (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i]))) AS dist
        FROM q CROSS JOIN dims CROSS JOIN c$iters c
      ), scored AS (
        SELECT l.qid, a.id, sum(l.dist) AS dist
        FROM codes a
        JOIN gcodes g ON a.id = g.id
        JOIN probe p ON g.cid = p.cell
        JOIN lut l ON l.qid = p.qid AND a.sub = l.sub AND a.cid = l.cid
        GROUP BY l.qid, a.id
      ), ranked AS (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        FROM scored
      )
      SELECT qid, id, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= $topk ORDER BY qid, rank""")
    sb.toString
  }

  /** Persistent-index replay ([[graft.store.AnnIndex]]): BOTH codebooks
    * train on the build-time snapshot `pts0` (ids with id % 4 <> 0) but
    * every row of `pts` — including the post-build inserts the
    * change-feed refresh encoded — carries codes, and the probe scores
    * the full code table. Any retraining on the Spark side (codebooks
    * drifting toward the final corpus) hash-mismatches here. */
  private[gates] def annPersistOracle(nCells: Int, nProbe: Int, m: Int, k: Int,
                               iters: Int, topk: Int): String = {
    val sb = new StringBuilder
    sb.append(pqPtsSql)
    sb.append(""",
      pts0 AS (SELECT id, e FROM pts WHERE id % 4 <> 0)""")
    sb.append(pqChainSql("g", 1, nCells, iters, trainPts = "pts0"))
    sb.append(pqChainSql("", m, k, iters, trainPts = "pts0"))
    sb.append(s""",
      q AS (
        SELECT id AS qid, e AS qe FROM pts WHERE id < 10
      ), probe AS (
        SELECT qid, cid AS cell FROM (
          SELECT q.qid, c.cid,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.c) + 1),
                     i -> (q.qe[i] * 1000 - c.c[i]) * (q.qe[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM q CROSS JOIN gc$iters c) WHERE rn <= $nProbe
      ), lut AS (
        SELECT q.qid, c.sub, c.cid,
               list_sum(list_transform(range(1, len(c.c) + 1), i ->
                 (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i])
               * (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i]))) AS dist
        FROM q CROSS JOIN dims CROSS JOIN c$iters c
      ), scored AS (
        SELECT l.qid, a.id, sum(l.dist) AS dist
        FROM codes a
        JOIN gcodes g ON a.id = g.id
        JOIN probe p ON g.cid = p.cell
        JOIN lut l ON l.qid = p.qid AND a.sub = l.sub AND a.cid = l.cid
        GROUP BY l.qid, a.id
      ), ranked AS (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        FROM scored
      )
      SELECT qid, id, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= $topk ORDER BY qid, rank""")
    sb.toString
  }

  /** Rebuild replay ([[graft.store.AnnIndex.rebuild]]): the final corpus
    * is original ∪ drift-lattice ∪ post-rebuild delta; BOTH codebooks
    * train on the REBUILD snapshot (original ∪ drift — ids < 40000),
    * every row carries codes (the delta encoded by refresh under the
    * rebuilt codebooks), and the probe scores the full code table. A
    * Spark side that kept the frozen build-time codebooks, retrained on
    * the wrong snapshot, or dropped the delta hash-mismatches. The
    * lattice is exact in float and double, so its replay carries no
    * FP-parity risk. */
  private def annRebuildOracle(nCells: Int, nProbe: Int, m: Int, k: Int,
                               iters: Int, topk: Int): String = {
    val sb = new StringBuilder
    sb.append("""
      WITH raw AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT 20000 + i AS vec_id,
               list_transform(range(0, 64), j ->
                 CAST(CAST((i * 31 + j * 7) % 24 AS DOUBLE) / 16.0 + 0.5
                      AS FLOAT)) AS embedding
        FROM (SELECT unnest(range(0,
          (SELECT count(*) // 3 FROM embeddings))) AS i)
        UNION ALL
        SELECT vec_id + 40000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 5 = 1
      ), pts AS (
        SELECT vec_id AS id,
               list_transform(embedding, x ->
                 greatest(-2000, least(2000,
                   CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))) + 2000) AS e
        FROM raw
      ), pts0 AS (SELECT id, e FROM pts WHERE id < 40000)""")
    sb.append(pqChainSql("g", 1, nCells, iters, trainPts = "pts0"))
    sb.append(pqChainSql("", m, k, iters, trainPts = "pts0"))
    sb.append(s""",
      q AS (
        SELECT id AS qid, e AS qe FROM pts WHERE id < 10
      ), probe AS (
        SELECT qid, cid AS cell FROM (
          SELECT q.qid, c.cid,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.c) + 1),
                     i -> (q.qe[i] * 1000 - c.c[i]) * (q.qe[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM q CROSS JOIN gc$iters c) WHERE rn <= $nProbe
      ), lut AS (
        SELECT q.qid, c.sub, c.cid,
               list_sum(list_transform(range(1, len(c.c) + 1), i ->
                 (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i])
               * (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i]))) AS dist
        FROM q CROSS JOIN dims CROSS JOIN c$iters c
      ), scored AS (
        SELECT l.qid, a.id, sum(l.dist) AS dist
        FROM codes a
        JOIN gcodes g ON a.id = g.id
        JOIN probe p ON g.cid = p.cell
        JOIN lut l ON l.qid = p.qid AND a.sub = l.sub AND a.cid = l.cid
        GROUP BY l.qid, a.id
      ), ranked AS (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        FROM scored
      )
      SELECT qid, id, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= $topk ORDER BY qid, rank""")
    sb.toString
  }

  /** Two-stage replay: [[ivfPqOracle]]'s chain cut at `shortlist`, then
    * the exact milli-space distance re-ranks the joined candidates. */
  private def ivfPqRerankOracle(nCells: Int, nProbe: Int, m: Int, k: Int,
                                iters: Int, shortlist: Int,
                                topk: Int): String = {
    val sb = new StringBuilder
    sb.append(pqPtsSql)
    sb.append(pqChainSql("g", 1, nCells, iters))
    sb.append(pqChainSql("", m, k, iters))
    sb.append(s""",
      q AS (
        SELECT id AS qid, e AS qe FROM pts WHERE id < 10
      ), probe AS (
        SELECT qid, cid AS cell FROM (
          SELECT q.qid, c.cid,
                 row_number() OVER (PARTITION BY q.qid ORDER BY
                   list_sum(list_transform(range(1, len(c.c) + 1),
                     i -> (q.qe[i] * 1000 - c.c[i]) * (q.qe[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM q CROSS JOIN gc$iters c) WHERE rn <= $nProbe
      ), lut AS (
        SELECT q.qid, c.sub, c.cid,
               list_sum(list_transform(range(1, len(c.c) + 1), i ->
                 (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i])
               * (list_slice(q.qe, c.sub * ds + 1, (c.sub + 1) * ds)[i] * 1000 - c.c[i]))) AS dist
        FROM q CROSS JOIN dims CROSS JOIN c$iters c
      ), scored AS (
        SELECT l.qid, a.id, sum(l.dist) AS dist
        FROM codes a
        JOIN gcodes g ON a.id = g.id
        JOIN probe p ON g.cid = p.cell
        JOIN lut l ON l.qid = p.qid AND a.sub = l.sub AND a.cid = l.cid
        GROUP BY l.qid, a.id
      ), ranked AS (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
        FROM scored
      ), shortlist AS (
        SELECT qid, id FROM ranked WHERE rank <= $shortlist
      ), rr AS (
        SELECT s.qid, s.id,
               row_number() OVER (PARTITION BY s.qid ORDER BY
                 list_sum(list_transform(range(1, len(c.e) + 1),
                   i -> (c.e[i] - q.qe[i]) * (c.e[i] - q.qe[i]))), s.id) AS rank
        FROM shortlist s JOIN pts c ON s.id = c.id JOIN q ON s.qid = q.qid
      )
      SELECT qid, id, CAST(rank AS BIGINT) AS rank
      FROM rr WHERE rank <= $topk ORDER BY qid, rank""")
    sb.toString
  }

  val all: Seq[Gate] = Seq(
    // ANN: exact cosine top-5 for five query vectors (ids only — the
    // ordering is FP-robust, the raw cosine is not hash-comparable).
    // Ranked via the bounded-heap TopK aggregate: partial aggregation
    // ships at most k candidates per query to the shuffle.
    Gate("q_ann_topk", (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.bruteForceTopKAgg(corpus, queries, "embedding", "vec_id", "qid", k = 5)
        .select(col("qid"), col("id"), col("rank").cast("long").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, """
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                 FROM embeddings WHERE vec_id < 5),
           scored AS (
        SELECT q.qid, c.vec_id AS id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qe) DESC,
                          c.vec_id ASC) AS rank
        FROM embeddings c CROSS JOIN q)
      SELECT qid, id, rank FROM scored WHERE rank <= 5
      ORDER BY qid, rank"""),

    // Int8-quantized ANN: corpus compressed to per-vector scale + int8
    // codes (the 100 TB memory lever), queries full precision, ranked
    // over the dequantized reconstruction. The quantize/dequantize
    // arithmetic mirrors exactly (round half-away-from-zero both
    // engines); rank order is FP-robust like q_ann_topk.
    // Oracle: the int8 quantization replayed: same per-vector max-abs/127
    // scale, same round-half-away codes, same dequantized ranking
    Gate("q_ann_quantized", (s, dir) => {
      val corpus = par(s, Tables.embeddings(s, dir))
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.quantizedTopK(corpus, queries, "embedding", "vec_id", "qid", k = 5)
        .select(col("qid"), col("id"), col("rank").cast("long").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, """
      WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> abs(x))) / 127.0 AS s
        FROM embeddings
      ), deq AS (
        SELECT vec_id,
               CASE WHEN s = 0 THEN list_transform(e, x -> 0.0)
                 ELSE list_transform(e,
                   x -> CAST(CAST(round(x / s) AS INTEGER) AS DOUBLE) * s)
               END AS d
        FROM c
      ), q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 10),
           scored AS (
        SELECT q.qid, deq.vec_id AS id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY list_cosine_similarity(deq.d, q.qe) DESC,
                          deq.vec_id ASC) AS rank
        FROM deq CROSS JOIN q)
      SELECT qid, id, rank FROM scored WHERE rank <= 5
      ORDER BY qid, rank"""),

    // Product-quantization ANN (Jégou et al. 2011) — the memory lever
    // past int8: m=4 codebooks of k=8 centroids trained by integer
    // Lloyd's over the corpus subspaces, corpus encoded to 4 codes/row
    // (zero-shuffle scan against the literal codebook), queries answered
    // by ADC lookup tables through the bounded-heap TopK aggregate. The
    // oracle replays the ENTIRE pipeline symbolically (seeding by md5
    // draw, per-round assignment/update CTEs, lost-centroid carry-over,
    // LUT scoring, ascending-distance rank), so any slip anywhere in
    // train/encode/search hash-mismatches.
    Gate("q_ann_pq", (s, dir) => {
      val corpus = par(s, Tables.embeddings(s, dir))
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.operators.Pq.pqTopK(corpus, queries, "embedding", "vec_id", "qid",
        m = 4, k = 8, iters = 2, topk = 5)
        .orderBy(col("qid"), col("rank"))
    }, pqOracle(m = 4, k = 8, iters = 2, topk = 5)),

    // IVFADC (Jégou et al. 2011 §V): IVF coarse cells gate which PQ
    // codes a query even scores — the full memory-AND-compute lever for
    // 100 TB ANN (non-probed cells never scanned with cell-partitioned
    // storage). The coarse quantizer is a PQ codebook with m=1, so the
    // oracle replays the SAME symbolic chain twice (prefix g), then
    // probes nProbe cells per query and gates the ADC join on cell
    // membership. Any slip in either codebook, the probe ranking, or
    // the gated scan hash-mismatches.
    Gate("q_ann_ivfpq", (s, dir) => {
      val corpus = par(s, Tables.embeddings(s, dir))
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.operators.Pq.ivfPqTopK(corpus, queries, "embedding", "vec_id",
        "qid", nCells = 4, nProbe = 2, m = 4, k = 8, iters = 2, topk = 5)
        .orderBy(col("qid"), col("rank"))
    }, ivfPqOracle(nCells = 4, nProbe = 2, m = 4, k = 8,
      iters = 2, topk = 5)),

    // PERSISTENT ANN index (store/AnnIndex): codebooks trained ONCE on
    // the build-time snapshot and committed to the catalog with the
    // encoded codes + CDF cursor; later inserts reach the index through
    // a change-feed refresh that re-encodes ONLY the delta with the
    // PERSISTED codebooks; the probe answers from a REOPENED handle (no
    // training path exists on it) over the cell-partitioned codes table.
    // Mid-gate REQUIREs pin the zero-retrain property (model slices
    // byte-identical across refresh) and exactly-once drains; the oracle
    // trains on the snapshot subset but scores codes for ALL rows — a
    // Spark side that retrained on the final corpus hash-mismatches.
    Gate("q_ann_persist", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-annpersist-q"))
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val src = new graft.store.GraftTable(s, cat, "vecs", StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = true))),
        uniqueKeys = Seq(Seq("vec_id")))
      src.createMany(emb.filter(pmod(col("vec_id"), lit(4)) =!= 0))
      val idx = graft.store.AnnIndex.build(src, "e1", "embedding", "vec_id",
        nCells = 4, m = 4, k = 8, iters = 2)
      src.createMany(emb.filter(pmod(col("vec_id"), lit(4)) === 0))
      val modelBefore = cat.manifest()(idx.model.name)
      require(idx.refresh().nonEmpty,
        "q_ann_persist: the post-build insert window must drain")
      require(cat.manifest()(idx.model.name) == modelBefore,
        "q_ann_persist: refresh must not retrain — model slices stay put")
      require(idx.refresh().isEmpty,
        "q_ann_persist: caught up — a second refresh drains nothing")
      // LIFECYCLE COMPOSITION: compact the cell-partitioned codes table
      // (build + refresh left multi-file slices) and assert the probe's
      // partition-scoped scan shape SURVIVES the rewrite — a compaction
      // that lost the sidecar stats or the slice layout would silently
      // fall back to scanning every cell. The final search then rides
      // the compacted files, so the hash gate proves the rewrite kept
      // the data byte-exact too.
      require(idx.codes.compact(maxFiles = 0) >= 1,
        "q_ann_persist: the codes table must have slices to compact")
      val someCell = idx.codes.snapshot().select(col("cell"))
        .limit(1).collect()(0).getInt(0)
      val probe0 = idx.codes.snapshotWhere(col("cell") === someCell)
      require(probe0.inputFiles.nonEmpty && probe0.inputFiles.forall(
          _.contains(s"/${idx.codes.name}/cell=$someCell/")),
        "q_ann_persist: a one-cell probe must plan only that cell's " +
          "files after compaction")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.store.AnnIndex.open(src, "e1", "embedding", "vec_id")
        .search(queries, "qid", nProbe = 2, topk = 5)
        .orderBy(col("qid"), col("rank"))
    }, annPersistOracle(nCells = 4, nProbe = 2, m = 4,
      k = 8, iters = 2, topk = 5)),

    // ANN STALENESS AUDIT — the sketch-audit pattern (q_approx_distinct,
    // q_quantile_audit) applied to vector search. Recall half: the
    // persisted index's ADC search and two-stage rerank run BESIDE exact
    // top-k under the SAME integer-L2 metric (rerankExact over the full
    // query×corpus candidate set), and mean recall@5 must clear its
    // bracket — the sampled exactness check a 100 TB deployment runs on
    // a query panel, never the corpus. Drift half: after a shifted
    // cohort lands (refresh encodes it with the FROZEN codebooks —
    // correct but increasingly stale), the PSI between the training
    // snapshot's embedding distribution and the current corpus is the
    // retrain-due signal, REQUIREd to fire past the conventional 0.25
    // "shifted" band. Output = the per-bin PSI frame, the same
    // engine-portable arithmetic as q_drift. store/AnnIndex +
    // operators/Pq.rerankExact + operators/Profile.drift.
    // Oracle: drift half of the ANN staleness audit: PSI between the training
    // snapshot (the raw embeddings load) and the corpus after the +0.5f
    // shifted cohort — float addition is IEEE single in both engines,
    // binning and the PSI arithmetic mirror q_drift term-for-term
    Gate("q_ann_recall_audit", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-annaudit-q"))
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val src = new graft.store.GraftTable(s, cat, "vecs", StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = true))),
        uniqueKeys = Seq(Seq("vec_id")))
      src.createMany(emb)
      val c0 = cat.currentCommitId()
      val idx = graft.store.AnnIndex.build(src, "e1", "embedding", "vec_id",
        nCells = 4, m = 8, k = 16, iters = 2)
      // recall audit on the training snapshot, from a REOPENED handle
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val opened = graft.store.AnnIndex.open(src, "e1", "embedding", "vec_id")
      val exact = graft.operators.Pq.rerankExact(
        queries.select(col("qid"))
          .crossJoin(src.snapshot().select(col("vec_id").as("id"))),
        src.snapshot(), queries, "embedding", "vec_id", "qid", topk = 5)
        .select(col("qid"), col("id")).localCheckpoint()
      def recallOf(got: DataFrame): Double =
        got.select(col("qid"), col("id"))
          .join(exact, Seq("qid", "id"), "left_semi").count()
          .toDouble / exact.count()
      // shortlist sized FROM the corpus (a constant tuned at one SF
      // saturates at the next): a fixed 1/20 fraction keeps the
      // shortlist/candidate ratio — and therefore recall — stable as
      // the corpus grows; re-rank work stays |Q|*shortlist
      val shortlist = math.max(50L, src.snapshot().count() / 20L).toInt
      val rAdc = recallOf(opened.search(queries, "qid", nProbe = 3, topk = 5))
      val rRerank = recallOf(opened.searchRerank(queries, "qid",
        nProbe = 3, shortlist = shortlist, topk = 5))
      // brackets calibrated across sf0.01/0.1/1/30x (observed rerank
      // 0.77/0.68/1.0/1.0, ADC 0.34/0.25/1.0/1.0) with ~0.1 margin —
      // recall is deterministic per corpus, so a breach is a real
      // regression, not noise
      require(rRerank >= 0.55,
        f"q_ann_recall_audit: two-stage recall@5 $rRerank%.3f under bracket")
      require(rAdc >= 0.15,
        f"q_ann_recall_audit: ADC recall@5 $rAdc%.3f under bracket")
      require(rRerank >= rAdc - 1e-9,
        "q_ann_recall_audit: exact re-rank must not lose recall vs ADC")
      // drift half: a +0.5 shifted cohort arrives; the frozen-codebook
      // refresh stays exact (IndexMaintenanceSpec owns that), but the
      // training snapshot no longer represents the corpus — PSI fires
      src.createMany(emb.filter(pmod(col("vec_id"), lit(3)) === 0)
        .select((col("vec_id") + 20000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.5f)).as("embedding")))
      require(idx.refresh().nonEmpty,
        "q_ann_recall_audit: the drift window must drain")
      val drift = operators.Profile.drift(
        src.snapshotAt(c0).select(try_element_at(col("embedding"), lit(1)).as("e1")),
        src.snapshot().select(try_element_at(col("embedding"), lit(1)).as("e1")),
        "e1", binWidth = 0.1)
      require(drift.agg(sum(col("psi"))).collect()(0).getDouble(0) > 0.25,
        "q_ann_recall_audit: the retrain-due signal must fire past 0.25")
      drift.orderBy(col("bin"))
    }, """
      WITH a AS (
        SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.1) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_a
        FROM embeddings WHERE embedding[1] IS NOT NULL GROUP BY 1
      ), cur AS (
        SELECT embedding[1] AS e1 FROM embeddings
        UNION ALL
        SELECT embedding[1] + CAST(0.5 AS FLOAT) AS e1
        FROM embeddings WHERE vec_id % 3 = 0
      ), b AS (
        SELECT CAST(floor(CAST(e1 AS DOUBLE) / 0.1) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_b
        FROM cur WHERE e1 IS NOT NULL GROUP BY 1
      ), j AS (
        SELECT coalesce(a.bin, b.bin) AS bin,
               coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        FROM a FULL OUTER JOIN b ON a.bin = b.bin
      ), t AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
               CAST(count(*) AS BIGINT) AS k
        FROM j
      )
      SELECT bin, n_a, n_b,
             round(((n_a + 1.0) / (ta + k) - (n_b + 1.0) / (tb + k))
                   * ln(((n_a + 1.0) / (ta + k)) / ((n_b + 1.0) / (tb + k))),
                   6) AS psi
      FROM j CROSS JOIN t ORDER BY bin"""),

    // ANN REBUILD — the ACT half of the staleness loop q_ann_recall_audit
    // detects. A drifted cohort (an integer-derived lattice far from the
    // training cloud — exact in float AND double, so the oracle replays
    // it without FP-parity risk) drains under the FROZEN codebooks;
    // those codes can only reconstruct into the original cloud, so the
    // imposters invade original queries' ADC top-5 and recall degrades.
    // AnnIndex.rebuild retrains on the current snapshot, re-encodes all
    // rows, and swaps model+codes+cursor in ONE transaction; the
    // mid-gate REQUIREs pin recall recovery above the pre-drift bracket
    // AND the cursor still draining post-rebuild deltas. The oracle
    // replays train-on-(corpus∪drift) / encode-all (delta included) —
    // a Spark side that skipped the retrain, retrained on the wrong
    // snapshot, or lost the cursor hash-mismatches.
    Gate("q_ann_rebuild", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-annrebuild-q"))
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val src = new graft.store.GraftTable(s, cat, "vecs", StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = true))),
        uniqueKeys = Seq(Seq("vec_id")))
      src.createMany(emb)
      val idx = graft.store.AnnIndex.build(src, "e1", "embedding", "vec_id",
        nCells = 4, m = 8, k = 16, iters = 2)
      // drift cohort sized FROM the corpus: a third of it, at ids the
      // probe corpora leave free; element j of lattice vector i is
      // ((i·31 + j·7) mod 24)/16 + 1/2 — multiples of 1/16, exactly
      // representable, [0.5, 1.94) vs the N(0, 0.1) training cloud
      val nDrift = src.snapshot().count() / 3
      val driftRows = s.range(0, nDrift).select(
        (col("id") + 20000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (pmod(col("id") * 31 + j.cast("long") * 7L, lit(24L))
            .cast("double") / lit(16.0) + lit(0.5)).cast("float"))
          .as("embedding"))
      src.createMany(driftRows)
      require(idx.refresh().nonEmpty,
        "q_ann_rebuild: the drift window must drain")
      // recall panel: original queries vs the exact top-5 of the CURRENT
      // corpus (drift rows are true negatives — far by exact distance)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val exact = graft.operators.Pq.rerankExact(
        queries.select(col("qid"))
          .crossJoin(src.snapshot().select(col("vec_id").as("id"))),
        src.snapshot(), queries, "embedding", "vec_id", "qid", topk = 5)
        .select(col("qid"), col("id")).localCheckpoint()
      def recallOf(got: DataFrame): Double =
        got.select(col("qid"), col("id"))
          .join(exact, Seq("qid", "id"), "left_semi").count()
          .toDouble / exact.count()
      val rPre = recallOf(idx.search(queries, "qid", nProbe = 3, topk = 5))
      idx.rebuild(nCells = 4, m = 8, k = 16, iters = 2)
      val rPost = recallOf(idx.search(queries, "qid", nProbe = 3, topk = 5))
      // calibrated across sf0.01/0.1/1/30x: rPre 0.34/0.25/1.0/1.0,
      // rPost 0.38/0.29/1.0/1.0 — retraining strictly recovers recall
      // here (recall is deterministic per corpus, so a breach is a real
      // regression); 0.15 is q_ann_recall_audit's pre-drift ADC bracket
      require(rPost >= rPre - 1e-9,
        f"q_ann_rebuild: rebuild must not lose recall ($rPre%.3f -> $rPost%.3f)")
      require(rPost >= 0.15,
        f"q_ann_rebuild: post-rebuild ADC recall@5 $rPost%.3f under the " +
          "pre-drift bracket")
      // cursor preserved: a post-rebuild delta still drains, encoded
      // under the REBUILT codebooks (the oracle scores it that way)
      src.createMany(emb.filter(pmod(col("vec_id"), lit(5)) === 1)
        .select((col("vec_id") + 40000L).as("vec_id"), col("embedding")))
      require(idx.refresh().nonEmpty,
        "q_ann_rebuild: the cursor must keep draining after the swap")
      require(idx.refresh().isEmpty,
        "q_ann_rebuild: caught up — a second refresh drains nothing")
      val q10 = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.store.AnnIndex.open(src, "e1", "embedding", "vec_id")
        .search(q10, "qid", nProbe = 3, topk = 5)
        .orderBy(col("qid"), col("rank"))
    }, annRebuildOracle(nCells = 4, nProbe = 3, m = 8,
      k = 16, iters = 2, topk = 5)),

    // Two-stage retrieval (the production ANN pattern): IVFADC produces
    // a 20-candidate shortlist per query through the compressed-code
    // scan, then the EXACT integer distance over the full vectors
    // re-ranks the shortlist — quantization error leaves the final
    // order. |Q|·20 rows of re-rank work, never a corpus re-scan. The
    // oracle replays both stages: the full codebook chain + ADC
    // shortlist cut, then the exact-distance window over the joined
    // candidates. operators/Pq.rerankExact.
    Gate("q_ann_rerank", (s, dir) => {
      val corpus = par(s, Tables.embeddings(s, dir))
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      val shortlist = graft.operators.Pq.ivfPqTopK(corpus, queries,
        "embedding", "vec_id", "qid", nCells = 4, nProbe = 2, m = 4,
        k = 8, iters = 2, topk = 20)
      graft.operators.Pq.rerankExact(shortlist, corpus, queries,
          "embedding", "vec_id", "qid", topk = 5)
        .orderBy(col("qid"), col("rank"))
    }, ivfPqRerankOracle(nCells = 4, nProbe = 2, m = 4,
      k = 8, iters = 2, shortlist = 20, topk = 5)),

    // Hard-negative mining (DPR-style): top-5 corpus items per query
    // inside the cosine band (0.1, 0.9] — informative negatives below
    // the near-dup band; self (cosine 1.0) falls out of the band. The
    // rank order is FP-robust like q_ann_topk; the cut boundaries sit
    // far from any synthetic cosine value.
    // Oracle: the hard-negative band replayed: same cosine, same (0.1, 0.9]
    // band, same (cos DESC, id ASC) tie-break
    Gate("q_hard_negatives", (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.hardNegatives(corpus, queries, "embedding", "vec_id", "qid",
        k = 5, loCos = 0.1, hiCos = 0.9)
        .orderBy(col("qid"), col("rank"))
    }, """
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                 FROM embeddings WHERE vec_id < 10),
           scored AS (
        SELECT q.qid, c.vec_id AS id,
               list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qe) AS cos
        FROM embeddings c CROSS JOIN q),
           banded AS (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, id ASC) AS rank
        FROM scored WHERE cos > 0.1 AND cos <= 0.9)
      SELECT qid, id, rank FROM banded WHERE rank <= 5
      ORDER BY qid, rank"""),

    // IVF ANN: self-hit at rank 1 is deterministic (a query identical to a
    // corpus vector lands in its own probed centroid; cosine 1.0 wins).
    Gate("q_ann_ivf", (s, dir) => {
      val corpus = par(s, Tables.embeddings(s, dir))
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", "qid",
        k = 5, nCenters = 16, nProbe = 2, lloydIters = 1)
        .filter(col("rank") === 1)
        .select(col("qid"), col("id"))
        .orderBy(col("qid"))
    }, """
      SELECT vec_id AS qid, vec_id AS id FROM embeddings
      WHERE vec_id < 10 ORDER BY qid"""),

    // LSH-bucketed ANN: rank-1 self-hit is deterministic (identical vector
    // shares every bucket; cosine 1.0 outranks all), oracle-checkable.
    Gate("q_ann_lsh", (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val queries = corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.lshTopK(corpus, queries, "embedding", "vec_id", "qid",
        dim = 64, k = 5, numPlanes = 12, maxHammingProbe = 1)
        .filter(col("rank") === 1)
        .select(col("qid"), col("id"))
        .orderBy(col("qid"))
    }, """
      SELECT vec_id AS qid, vec_id AS id FROM embeddings
      WHERE vec_id < 20 ORDER BY qid"""),

    // BM25 keyword relevance: one stats pass (N, avgdl, per-term df in a
    // single Aggregate) broadcast back over one scoring scan — no corpus
    // shuffle. operators/Relevance.scala.
    // Oracle: BM25 with substring-count tf and n_chars length normalization —
    // every arithmetic step mirrors Relevance.bm25's expression tree
    // left-to-right so both engines execute the identical IEEE op
    // sequence; the lone libm call (ln) is rounded away at 6 dp.
    Gate("q_bm25", (s, dir) =>
      Relevance.bm25(Tables.documents(s, dir), "doc_id", "text", "n_chars",
        terms = Seq("vector", "stream", "window"))
        .orderBy(col("doc_id")), """
      WITH s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(CAST(n_chars AS DOUBLE)) AS avgdl,
               CAST(sum(CASE WHEN CAST((length(text) - length(replace(text, 'vector', ''))) / 6 AS INT) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(sum(CASE WHEN CAST((length(text) - length(replace(text, 'stream', ''))) / 6 AS INT) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(sum(CASE WHEN CAST((length(text) - length(replace(text, 'window', ''))) / 6 AS INT) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM documents),
      t AS (
        SELECT doc_id,
               CAST(CAST((length(text) - length(replace(text, 'vector', ''))) / 6 AS INT) AS DOUBLE) AS tf0,
               CAST(CAST((length(text) - length(replace(text, 'stream', ''))) / 6 AS INT) AS DOUBLE) AS tf1,
               CAST(CAST((length(text) - length(replace(text, 'window', ''))) / 6 AS INT) AS DOUBLE) AS tf2,
               CAST(n_chars AS DOUBLE) AS dl
        FROM documents)
      SELECT doc_id,
             (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS n_terms,
             round(
               ln(1.0 + ((s.n - s.df0) + 0.5) / (s.df0 + 0.5))
                 * ((tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
               + ln(1.0 + ((s.n - s.df1) + 0.5) / (s.df1 + 0.5))
                 * ((tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
               + ln(1.0 + ((s.n - s.df2) + 0.5) / (s.df2 + 0.5))
                 * ((tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl)))),
               6) AS bm25
      FROM t, s
      WHERE (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
             + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
             + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) > 0
      ORDER BY doc_id"""),

    // Reciprocal-Rank Fusion of two bounded top-50 rankings (keyword tf
    // and a length prior) into one hybrid order — the calibration-free
    // way a retrieval stack merges sparse and dense candidates. Both
    // producers are TakeOrderedAndProject(50) heads (bounded per-
    // partition heaps, no global sort); the fusion window runs over ≤100
    // rows by construction. Only integer ranks are emitted, so the
    // IEEE 1/(60+r) ordering is engine-portable. operators/Relevance.scala.
    // Oracle: both top-50 heads replayed with the same total orders; the RRF
    // contribution 1/(60+r) in explicit DOUBLE arithmetic (sums have at
    // most two addends — IEEE-order-free), only integer ranks emitted
    Gate("q_rrf_fusion", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def headRanks(scored: DataFrame,
                    order: Seq[org.apache.spark.sql.Column]): DataFrame = {
        // limit(50) plans as TakeOrderedAndProject under the total order;
        // the row_number window then runs over the 50-row result only
        val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
        scored.orderBy(order: _*).limit(50)
          .withColumn("r", row_number().over(w))
          .select(col("doc_id"), col("r"))
      }
      val kw = headRanks(
        docs.select(col("doc_id"),
            Relevance.termCount(col("text"), "vector").as("tf"))
          .filter(col("tf") > 0),
        Seq(col("tf").desc, col("doc_id").asc))
      val len = headRanks(docs.select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc))
      Relevance.rrf(Seq((kw, "kw"), (len, "len")), "doc_id", "r")
        .orderBy(col("fused_rank"))
    }, """
      WITH kwr AS (
        SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS r
        FROM (SELECT doc_id,
                CAST((length(text) - length(replace(text, 'vector', '')))
                     / 6 AS INT) AS tf
              FROM documents) t
        WHERE tf > 0),
      lnr AS (
        SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
        FROM documents),
      u AS (
        SELECT doc_id, r, 'kw' AS sys FROM kwr WHERE r <= 50
        UNION ALL SELECT doc_id, r, 'len' AS sys FROM lnr WHERE r <= 50),
      f AS (
        SELECT doc_id,
               sum(1.0 / (60.0 + CAST(r AS DOUBLE))) AS c,
               CAST(max(CASE WHEN sys = 'kw' THEN r END) AS BIGINT) AS rank_kw,
               CAST(max(CASE WHEN sys = 'len' THEN r END) AS BIGINT) AS rank_len
        FROM u GROUP BY doc_id)
      SELECT doc_id, rank_kw, rank_len,
             CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS INT)
               AS fused_rank
      FROM f ORDER BY fused_rank"""),

    // PERSISTENT BM25 index (store/Bm25Index): the inverted posting
    // table as a catalog artifact — keyword retrieval's last per-query
    // corpus pass removed. Build tokenizes the corpus ONCE (postings
    // bucket-partitioned by term hash + one corpus-scalar meta row,
    // committed with the CDF cursor); the post-build delta exercises all
    // three signed-fold paths (inserts, deletes, in-place text updates);
    // refresh re-tokenizes only the delta and folds N/Σdl by signed
    // sums; the mid-gate REQUIREs pin the fold against a from-scratch
    // recompute; the final search runs from a REOPENED handle — zero
    // corpus jobs, the postings scan pruned to the terms' buckets.
    // Oracle: the persistent-index twin replays build + delta + refresh as one
    // modified-corpus CTE, then token-BM25 (split-on-space tf/df/dl —
    // the index's tokenized semantics, vs q_bm25's substring tf) with
    // the identical Okapi operand order
    Gate("q_bm25_persist", (s, dir) => {
      val root = fixture("bm25-persist", dir) { root =>
        val cat = new graft.store.Catalog(root)
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val src = new graft.store.GraftTable(s, cat, "docs", bm25Schema,
          uniqueKeys = Seq(Seq("doc_id")))
        src.createMany(docs)
        val idx = graft.store.Bm25Index.build(src, "r1", "text", "doc_id",
          nBuckets = 8)
        // quarter-corpus inserts, a delete stripe, an update stripe — the
        // <10000 guards keep the mutations off the inserted copies
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        src.deleteMany(graft.query.RawCol(
          pmod(col("doc_id"), lit(7)) === 3 && col("doc_id") < 10000L))
        src.updateMany(graft.query.RawCol(
          pmod(col("doc_id"), lit(11)) === 5 && col("doc_id") < 10000L),
          Map("text" -> concat(col("text"), lit(" vector"))))
        require(idx.refresh().nonEmpty,
          "q_bm25_persist: the delta window must drain")
        require(idx.refresh().isEmpty,
          "q_bm25_persist: caught up — a second refresh drains nothing")
        // the signed fold and the delta-tokenized postings must equal a
        // from-scratch recompute (gate-side audit scans, not query cost)
        val snap = src.snapshot()
        val expect = snap.agg(count(lit(1)),
          coalesce(sum(size(filter(split(coalesce(col("text"), lit("")),
            " "), t => t =!= lit(""))).cast("long")), lit(0L))).collect()(0)
        val (n1, s1, _) = idx.stats()
        require(n1 == expect.getLong(0) && s1 == expect.getLong(1),
          "q_bm25_persist: signed scalar fold must equal from-scratch")
        require(idx.post.snapshot().count() ==
          graft.store.Bm25Index.postingsOf(snap, "text", "doc_id").count(),
          "q_bm25_persist: refreshed postings must equal from-scratch")
        // LIFECYCLE COMPOSITION (the q_ann_persist codes pattern applied
        // to the inverted index): compact the bucket-partitioned postings
        // (build + refresh left multi-file slices) and assert the
        // term-routed scan SHAPE survives the rewrite — a compaction that
        // lost the slice layout would silently fall back to scanning every
        // bucket on every query. The final search rides the compacted
        // files, so the hash gate proves the rewrite kept the rows too.
        require(idx.post.compact(maxFiles = 0) >= 1,
          "q_bm25_persist: the postings table must have slices to compact")
      }
      val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
        "docs", bm25Schema, uniqueKeys = Seq(Seq("doc_id")))
      val idx = graft.store.Bm25Index.open(src, "r1", "text", "doc_id")
      val b0 = s.range(1).select(
        pmod(xxhash64(lit("vector")), lit(8)).cast("int"))
        .collect()(0).getInt(0)
      val probe0 = idx.post.snapshotWhere(col("bucket") === b0)
      require(probe0.inputFiles.nonEmpty && probe0.inputFiles.forall(
          _.contains(s"/${idx.post.name}/bucket=$b0/")),
        "q_bm25_persist: a one-term probe must plan only its bucket's " +
          "files after compaction")
      idx.search(Seq("vector", "stream", "window"))
        .orderBy(col("doc_id"))
    }, """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 5 THEN text || ' vector'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 3
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text
        FROM documents WHERE doc_id % 4 = 0
      ), tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM base
      ), t AS (
        SELECT doc_id,
               CAST(len(w) AS DOUBLE) AS dl,
               CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf0,
               CAST(len(list_filter(w, x -> x = 'stream')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
        FROM tok
      ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS avgdl,
               CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
               CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM t)
      SELECT doc_id,
             (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS n_terms,
             round(
               ln(1.0 + ((s.n - s.df0) + 0.5) / (s.df0 + 0.5))
                 * ((tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
               + ln(1.0 + ((s.n - s.df1) + 0.5) / (s.df1 + 0.5))
                 * ((tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
               + ln(1.0 + ((s.n - s.df2) + 0.5) / (s.df2 + 0.5))
                 * ((tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl)))),
               6) AS bm25
      FROM t, s
      WHERE (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
             + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
             + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) > 0
      ORDER BY doc_id"""),

    // EXACT-PHRASE retrieval from the POSITIONAL postings: the postings
    // carry each term's token positions, so "value table" (consecutive
    // tokens, in order) answers from a bucket-pruned scan — candidate
    // docs pivot to one row of position arrays and the intersection
    // p∈ps₀ ∧ p+1∈ps₁ runs inside codegen; no corpus re-tokenize, no
    // explode. The oracle replays the phrase count directly on the
    // token lists — a positions slip anywhere (build, signed-delta
    // refresh, sort order) lands on the wrong occurrence counts.
    // Oracle: phrase counts replayed directly on the (mutated) corpus's token
    // lists: occurrences of w[i]='value' ∧ w[i+1]='table'
    Gate("q_bm25_phrase", (s, dir) => {
      val root = fixture("bm25-phrase", dir) { root =>
        val cat = new graft.store.Catalog(root)
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val src = new graft.store.GraftTable(s, cat, "docs", bm25Schema,
          uniqueKeys = Seq(Seq("doc_id")))
        src.createMany(docs)
        val idx = graft.store.Bm25Index.build(src, "r1", "text", "doc_id",
          nBuckets = 8, withPositions = true)
        // a delta so the phrase positions also flow through the refresh
        // path: appended text SHIFTS no existing positions (append-only
        // edit), inserted copies land under fresh ids
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        src.updateMany(graft.query.RawCol(
          pmod(col("doc_id"), lit(11)) === 5 && col("doc_id") < 10000L),
          Map("text" -> concat(col("text"), lit(" value table"))))
        require(idx.refresh().nonEmpty,
          "q_bm25_phrase: the delta window must drain")
      }
      val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
        "docs", bm25Schema, uniqueKeys = Seq(Seq("doc_id")))
      graft.store.Bm25Index.open(src, "r1", "text", "doc_id")
        .phraseSearch(Seq("value", "table"))
        .orderBy(col("doc_id"))
    }, """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 5 THEN text || ' value table'
                    ELSE text END AS text
        FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text
        FROM documents WHERE doc_id % 4 = 0
      ), tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM base
      ), c AS (
        SELECT doc_id,
               CAST(len(list_filter(range(1, len(w)),
                 i -> w[i] = 'value' AND w[i + 1] = 'table')) AS INTEGER)
                 AS n_phrase
        FROM tok
      )
      SELECT doc_id, n_phrase FROM c WHERE n_phrase > 0 ORDER BY doc_id"""),

    // SLOPPY phrase / proximity retrieval ("value table part"~3) from
    // the SAME positional postings — no index change, only query-time
    // algebra: per candidate doc the greedy chain (min next position
    // per slot) computes each start's displacement inside codegen
    // (transform/filter/array_min/zip-free — HOFs only), matches are
    // starts within the slop window, and prox is the integer proximity
    // score Σ(slop − disp + 1), so an exact occurrence outweighs a
    // stretched one. Greedy-chain semantics are deterministic and
    // CTE-replayable — the oracle recomputes every start's minimal
    // displacement with two min-join hops; Lucene's own sloppy scorer
    // is iterator-order-dependent, which is exactly why this contract
    // pins a portable alternative.
    // Oracle: the greedy-chain sloppy phrase replayed with two min-join hops:
    // for each 'value' start, the minimal next 'table' then the minimal
    // next 'part'; matches are starts with disp ≤ 3, prox = Σ(3−disp+1)
    Gate("q_bm25_slop", (s, dir) => {
      val (_, idx) = bm25BaseFixture(s, dir, withPositions = true)
      idx.slopSearch(Seq("value", "table", "part"), slop = 3)
        .orderBy(col("doc_id"))
    }, """
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word,
               generate_subscripts(w, 1) - 1 AS p
        FROM tok
      ), p0 AS (SELECT doc_id, p FROM words WHERE word = 'value'),
         p1 AS (SELECT doc_id, p FROM words WHERE word = 'table'),
         p2 AS (SELECT doc_id, p FROM words WHERE word = 'part'),
      c1 AS (
        SELECT s.doc_id, s.p AS q0, min(a.p) AS q1
        FROM p0 s JOIN p1 a ON a.doc_id = s.doc_id AND a.p > s.p
        GROUP BY s.doc_id, s.p
      ), c2 AS (
        SELECT c.doc_id, c.q0, min(b.p) AS q2
        FROM c1 c JOIN p2 b ON b.doc_id = c.doc_id AND b.p > c.q1
        GROUP BY c.doc_id, c.q0, c.q1
      ), m AS (
        SELECT doc_id, q2 - q0 - 2 AS disp FROM c2 WHERE q2 - q0 - 2 <= 3
      )
      SELECT doc_id, CAST(count(*) AS INTEGER) AS n_matches,
             CAST(sum(3 - disp + 1) AS BIGINT) AS prox
      FROM m GROUP BY doc_id ORDER BY doc_id"""),

    // TOP-K keyword retrieval from the persisted index: at 100 TB a hot
    // term's posting list is corpus-scale, so search(topk) bounds the
    // RESULT inside the plan — TakeOrderedAndProject keeps per-partition
    // k-row heaps and merges k rows across the exchange, never a full
    // sort or an unbounded return the caller re-cuts. The query also
    // REPEATS a term: search dedupes at entry, so the duplicate must not
    // double its Okapi contribution or inflate n_terms (the oracle
    // scores the distinct term set). Deterministic cut: rounded score
    // desc, then doc_id.
    // Oracle: top-k over the persisted index: token-BM25 for the DISTINCT term
    // set (the Spark side receives 'vector' twice — dedup is part of the
    // contract under test), then the rank cut the TakeOrdered heap
    // computes: rounded score desc, doc_id tiebreak, first 25
    Gate("q_bm25_topk", (s, dir) => {
      val (_, idx) = bm25BaseFixture(s, dir, withPositions = false)
      val res = idx.search(Seq("vector", "stream", "vector"), topk = 25)
      require(res.queryExecution.executedPlan.toString
          .contains("TakeOrderedAndProject"),
        "q_bm25_topk: the bounded cut must plan as TakeOrderedAndProject")
      res.orderBy(col("bm25").desc, col("doc_id"))
    }, """
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), t AS (
        SELECT doc_id,
               CAST(len(w) AS DOUBLE) AS dl,
               CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf0,
               CAST(len(list_filter(w, x -> x = 'stream')) AS DOUBLE) AS tf1
        FROM tok
      ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS avgdl,
               CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
               CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
        FROM t
      ), scored AS (
        SELECT doc_id,
               (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
                + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS n_terms,
               round(
                 ln(1.0 + ((s.n - s.df0) + 0.5) / (s.df0 + 0.5))
                   * ((tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl))))
                 + ln(1.0 + ((s.n - s.df1) + 0.5) / (s.df1 + 0.5))
                   * ((tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl)))),
                 6) AS bm25
        FROM t, s
        WHERE tf0 > 0 OR tf1 > 0
      ), ranked AS (
        SELECT doc_id, n_terms, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
        FROM scored
      )
      SELECT doc_id, n_terms, bm25 FROM ranked WHERE rn <= 25
      ORDER BY bm25 DESC, doc_id"""),

    // RRF composed OVER the persistent BM25 index: the keyword leg of
    // the fusion reads postings from the catalog (bucket-pruned, zero
    // corpus jobs), the length prior scans as before — the hybrid
    // retrieval stack with its sparse side persisted. Same bounded
    // top-50 heads and integer-rank output as q_rrf_fusion.
    // Oracle: fusion over the persisted keyword leg: replay token-BM25 for
    // 'vector' (single term — the chain is one product), head both
    // rankings at 50, fuse with the same 1/(60+r) contributions
    Gate("q_rrf_persist", (s, dir) => {
      val (_, idx) = bm25BaseFixture(s, dir, withPositions = false)
      val docs = Tables.documents(s, dir)
      def headRanks(scored: DataFrame,
                    order: Seq[org.apache.spark.sql.Column]): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
        scored.orderBy(order: _*).limit(50)
          .withColumn("r", row_number().over(w))
          .select(col("doc_id"), col("r"))
      }
      val kw = headRanks(idx.search(Seq("vector")),
        Seq(col("bm25").desc, col("doc_id").asc))
      val len = headRanks(docs.select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc))
      Relevance.rrf(Seq((kw, "kw"), (len, "len")), "doc_id", "r")
        .orderBy(col("fused_rank"))
    }, """
      WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), t AS (
        SELECT doc_id,
               CAST(len(w) AS DOUBLE) AS dl,
               CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf0
        FROM tok
      ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS avgdl,
               CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
        FROM t)
      , scored AS (
        SELECT doc_id,
               round(
                 ln(1.0 + ((s.n - s.df0) + 0.5) / (s.df0 + 0.5))
                   * ((tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + ((0.75 * dl) / s.avgdl)))),
                 6) AS bm25
        FROM t, s WHERE tf0 > 0
      ), kwr AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM scored
      ), lnr AS (
        SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
        FROM documents
      ), u AS (
        SELECT doc_id, r, 'kw' AS sys FROM kwr WHERE r <= 50
        UNION ALL SELECT doc_id, r, 'len' AS sys FROM lnr WHERE r <= 50
      ), f AS (
        SELECT doc_id,
               sum(1.0 / (60.0 + CAST(r AS DOUBLE))) AS c,
               CAST(max(CASE WHEN sys = 'kw' THEN r END) AS BIGINT) AS rank_kw,
               CAST(max(CASE WHEN sys = 'len' THEN r END) AS BIGINT) AS rank_len
        FROM u GROUP BY doc_id)
      SELECT doc_id, rank_kw, rank_len,
             CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS INT)
               AS fused_rank
      FROM f ORDER BY fused_rank"""),

    // Retrieval-quality metrics over a deterministic per-customer order
    // ranking (total price desc, orderkey tiebreak; relevant = status
    // 'F'): MRR, binary NDCG@10, precision/recall@10 per query. One
    // query-partitioned window + one groupBy on the same key + a k-row
    // broadcast IDCG lookup — the evaluation side of the BM25/ANN
    // rankers, scale-shaped the same way. operators/Evaluation.scala.
    // Oracle: Replays the whole metric pipeline: row_number ranking with the same
    // total order, conditional DCG sums, prefix-sum IDCG lookup over
    // range(1,11), and the zero-relevant conventions.
    Gate("q_rank_metrics", (s, dir) =>
      graft.operators.Evaluation.rankMetrics(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          (col("o_orderstatus") === "F").as("rel"), col("o_totalprice")),
        queryCol = "o_custkey", itemCol = "o_orderkey", relCol = "rel",
        order = Seq(col("o_totalprice").desc), k = 10)
        .withColumnRenamed("o_custkey", "custkey")
        .orderBy(col("custkey")), """
      WITH ranked AS (
        SELECT o_custkey, o_orderkey, (o_orderstatus = 'F') AS rel,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS pos
        FROM orders
      ), per AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
               CAST(sum(CASE WHEN rel AND pos <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS rel_k,
               sum(CASE WHEN rel AND pos <= 10 THEN 1.0 / log2(pos + 1.0) ELSE 0 END) AS dcg,
               min(CASE WHEN rel THEN pos END) AS first_rel
        FROM ranked GROUP BY o_custkey
      ), idcg AS (
        SELECT i AS m, sum(1.0 / log2(i + 1.0)) OVER (ORDER BY i) AS v
        FROM range(1, 11) t(i)
      )
      SELECT per.o_custkey AS custkey, n_rel,
             round(coalesce(1.0 / first_rel, 0), 6) AS mrr,
             round(CASE WHEN n_rel > 0 THEN dcg / idcg.v ELSE 0 END, 6) AS ndcg_at_k,
             round(rel_k / 10.0, 6) AS precision_at_k,
             round(CASE WHEN n_rel > 0 THEN rel_k * 1.0 / n_rel ELSE 0 END, 6) AS recall_at_k
      FROM per LEFT JOIN idcg ON least(n_rel, 10) = idcg.m
      ORDER BY custkey"""),
  )
}
