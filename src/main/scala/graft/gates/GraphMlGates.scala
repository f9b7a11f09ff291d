package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Graph and ML gates: label propagation, PageRank, triangles, k-means,
  * the quality classifier and its evaluation metrics; each iterative
  * oracle replays the algorithm in integer arithmetic. */
private[graft] object GraphMlGates {

  /** DuckDB replay of [[operators.QualityClassifier.train]]: one
    * (s, r, g, w) CTE quartet per gradient round — integer milli
    * features by truncating division, HUGEINT dot/gradient folds,
    * the identical float division + sigmoid + HALF_UP rounding. */
  private def qualityTrainOracle(dim: Int, iters: Int, lr: Double): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), base AS (
        SELECT doc_id,
               CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END AS y,
               len(w) AS n, w
        FROM tok WHERE len(w) > 0
      ), tl AS (
        SELECT doc_id, y, n, unnest(w) AS t FROM base
      ), feats AS (
        SELECT doc_id, y,
               CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT)
                 % $dim AS BIGINT) AS bucket,
               (count(*) * 1000) // n AS feat
        FROM tl GROUP BY doc_id, y, n, bucket
      ), nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM feats),
      w0 AS (
        SELECT CAST(i AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS w
        FROM range($dim) t(i)
      )""")
    for (i <- 1 to iters) {
      sb.append(s""",
      s$i AS (
        SELECT f.doc_id, f.y,
               CAST(sum(CAST(w.w * f.feat AS HUGEINT)) AS DOUBLE)
                 / 1000000.0 AS s
        FROM feats f JOIN w${i - 1} w USING (bucket)
        GROUP BY f.doc_id, f.y
      ), r$i AS (
        SELECT doc_id,
               CAST(round((1.0 / (1.0 + exp(-s))) * 1000000.0, 0) AS BIGINT)
                 - y * 1000000 AS resid
        FROM s$i
      ), g$i AS (
        SELECT f.bucket, sum(CAST(r.resid * f.feat AS HUGEINT)) AS g
        FROM feats f JOIN r$i r USING (doc_id) GROUP BY f.bucket
      ), w$i AS (
        SELECT w.bucket,
               w.w - CAST(round(CAST(coalesce(g.g, 0) AS DOUBLE) * $lr
                 / (1000000.0 * nn.n_docs), 0) AS BIGINT) AS w
        FROM w${i - 1} w LEFT JOIN g$i g USING (bucket) CROSS JOIN nn
      )""")
    }
    sb.append(s"""
      SELECT bucket, w AS w_milli FROM w$iters ORDER BY bucket""")
    sb.toString
  }

  private def kmeansOracle(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH pts AS (
        SELECT vec_id AS id,
               list_transform(embedding, x ->
                 greatest(-2000, least(2000,
                   CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))) + 2000) AS e
        FROM embeddings
      ), seed AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS cid, e
        FROM (SELECT id, e FROM pts
              ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $k)
      ), c0 AS (
        SELECT CAST(cid AS BIGINT) AS cid,
               list_transform(e, v -> v * 1000) AS c
        FROM seed
      )""")
    for (i <- 1 to iters) {
      sb.append(s""",
      a$i AS (
        SELECT id, e, cid FROM (
          SELECT p.id, p.e, c.cid,
                 row_number() OVER (PARTITION BY p.id ORDER BY
                   list_sum(list_transform(range(1, len(p.e) + 1),
                     i -> (p.e[i] * 1000 - c.c[i]) * (p.e[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM pts p CROSS JOIN c${i - 1} c) WHERE rn = 1
      ), c$i AS (
        SELECT cid, list(v ORDER BY pos) AS c FROM (
          SELECT cid, pos,
                 CAST((sum(v) * 1000) // count(*) AS BIGINT) AS v
          FROM (SELECT cid, unnest(e) AS v, generate_subscripts(e, 1) AS pos
                FROM a$i)
          GROUP BY cid, pos)
        GROUP BY cid
      )""")
    }
    val f = iters + 1
    sb.append(s""",
      a$f AS (
        SELECT id, cid FROM (
          SELECT p.id, c.cid,
                 row_number() OVER (PARTITION BY p.id ORDER BY
                   list_sum(list_transform(range(1, len(p.e) + 1),
                     i -> (p.e[i] * 1000 - c.c[i]) * (p.e[i] * 1000 - c.c[i]))),
                   c.cid) AS rn
          FROM pts p CROSS JOIN c$iters c) WHERE rn = 1
      )
      SELECT id, CAST(cid AS BIGINT) AS cid FROM a$f ORDER BY id""")
    sb.toString
  }

  /** DuckDB replay of [[operators.Graph.labelPropagation]]: one CTE per
    * synchronous round, integer vote sums, smallest-label tie-breaks. */
  private def labelPropOracle(iters: Int): String = {
    val sb = new StringBuilder
    sb.append("""
      WITH edges AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS src,
               CAST(s.s_nationkey AS BIGINT) AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      ), und AS (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b,
               CAST(sum(w) AS BIGINT) AS wu
        FROM edges WHERE src <> dst GROUP BY 1, 2
      ), sym AS (
        SELECT a AS v, b AS u, wu FROM und
        UNION ALL SELECT b, a, wu FROM und
      ), nodes AS (
        SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
      ), l0 AS (
        SELECT id, id AS lbl FROM nodes
      )""")
    for (i <- 1 to iters)
      sb.append(s""",
      l$i AS (
        SELECT p.id, coalesce(b.best, p.lbl) AS lbl
        FROM l${i - 1} p
        LEFT JOIN (
          SELECT v AS id, lbl AS best FROM (
            SELECT s.v, p2.lbl,
                   row_number() OVER (PARTITION BY s.v
                     ORDER BY sum(s.wu) DESC, p2.lbl ASC) AS rn
            FROM sym s JOIN l${i - 1} p2 ON p2.id = s.u
            GROUP BY s.v, p2.lbl) t WHERE rn = 1
        ) b ON b.id = p.id
      )""")
    sb.append(s"""
      SELECT nation.n_name AS n_name, l$iters.lbl AS community
      FROM l$iters JOIN nation ON l$iters.id = CAST(n_nationkey AS BIGINT)
      ORDER BY n_name""")
    sb.toString
  }

  private def pagerankOracle(iters: Int): String = {
    val sb = new StringBuilder
    sb.append("""
      WITH edges AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS src,
               CAST(s.s_nationkey AS BIGINT) AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      ), ew AS (
        SELECT e.src, e.dst, e.w, o.ow
        FROM edges e
        JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS ow
              FROM edges GROUP BY src) o USING (src)
      ), nodes AS (
        SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
      ), r0 AS (
        SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes
      )""")
    for (i <- 1 to iters)
      sb.append(s""",
      r$i AS (
        SELECT n.id,
               CAST(150000 + COALESCE(
                 sum((p.r * e.w * 850) // (e.ow * 1000)), 0) AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN ew e ON e.dst = n.id
        LEFT JOIN r${i - 1} p ON p.id = e.src
        GROUP BY n.id
      )""")
    sb.append(s"""
      SELECT nation.n_name AS n_name, r$iters.r AS r
      FROM r$iters JOIN nation ON r$iters.id = CAST(n_nationkey AS BIGINT)
      ORDER BY n_name""")
    sb.toString
  }

  val all: Seq[Gate] = Seq(
    // FineWeb-Edu-style model-based quality filter: hashed bag-of-words
    // linear classifier scored via a BROADCAST join against the 4096-row
    // weight table (the shape a trained fastText model loads as), one
    // shuffle on doc_id, integer milliweight sums so the score is
    // bit-stable under any partitioning.
    // Oracle: Quality classifier: same tokenization, same md5 bucket fold, the
    // milliweight model regenerated by the same integer formula; the one
    // division and the sigmoid mirrored shape-for-shape, rounded to 6
    // (the BM25/DSIR libm-parity contract).
    Gate("q_quality_classifier", (s, dir) =>
      operators.QualityClassifier.scoreWithModel(
          par(s, Tables.documents(s, dir)), "text", "doc_id",
          operators.QualityClassifier.syntheticModel(s, 4096), dim = 4096)
        .orderBy(col("doc_id")), """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
          x -> len(x) > 0)) AS t
        FROM documents
      ), feats AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(t), 1, 8)) AS UBIGINT)
                    % 4096 AS BIGINT) AS b
        FROM toks
      ), agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum((b * 37 + 11) % 2001 - 1000) AS BIGINT) AS milli
        FROM feats GROUP BY doc_id
      )
      SELECT doc_id, n_tokens,
             round(1.0 / (1.0 + exp(-(CAST(milli AS DOUBLE)
                                      / (1000.0 * n_tokens)))), 6) AS edu_score,
             (milli >= 0) AS keep
      FROM agg ORDER BY doc_id"""),

    // TRAINING the quality head — the half q_quality_classifier assumed
    // away (it scores an exported model; this one produces it). Logistic
    // regression by full-batch gradient descent over the same hashed
    // bag-of-words features, in the integer fixed-point discipline that
    // makes q_kmeans/q_pagerank hash-exact: per-doc milli features by
    // truncating division, exact DECIMAL gradient folds (order-
    // independent under any shuffle), one float division + sigmoid per
    // doc per round mirrored term-for-term, HALF_UP weight updates. The
    // label is a seed heuristic (docs containing the token 'join') — the
    // FineWeb-Edu recipe of bootstrapping a cheap signal into a scalable
    // scorer. The oracle unrolls all 3 rounds as CTE pairs; the output
    // is the trained weight table, the exact frame scoreWithModel loads.
    Gate("q_quality_train", (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("y",
        array_contains(
          graft.functions.TextFunctions.tokens(col("text")), "join")
          .cast("int"))
      operators.QualityClassifier.train(par(s, docs), "text", "doc_id", "y",
          dim = 256, iters = 3, lr = 500.0)
        .orderBy(col("bucket"))
    }, qualityTrainOracle(dim = 256, iters = 3, lr = 500.0)),

    // Fixed-point PageRank over the nation trade graph: 5 rounds of
    // damped importance propagation (operators.Graph), entirely in
    // integer millionth-units — integer sums commute across partition
    // orders, so the distributed join+agg loop is bit-identical to the
    // oracle's single-threaded unrolled CTE chain (a double-typed
    // PageRank could never hash-match). The graph derives from the
    // lineitem⋈orders⋈customer⋈supplier star: customer-nation →
    // supplier-nation edges weighted by lineitem count, broadcast
    // dimension joins, one fact-scan aggregation. Per iteration: one
    // src-keyed hash join + one dst-keyed partial agg — the canonical
    // distributed PageRank step; at 100 TB the edge frame shuffles once
    // and the rank vector (nodes, not edges) is the only per-round state.
    // Label-propagation communities over the trade graph: 4 synchronous
    // rounds, integer vote sums + smallest-label ties, isolated nodes
    // keep their own label — bit-deterministic, oracle-unrolled like
    // PageRank.
    Gate("q_label_prop", (s, dir) => {
      val edges = operators.Graph.nationTradeEdges(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir))
      val nodes = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("id"))
      operators.Graph.labelPropagation(edges, nodes, iters = 4)
        .join(broadcast(Tables.nation(s, dir)),
          col("id") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("community"))
        .orderBy(col("n_name"))
    }, labelPropOracle(4)),

    Gate("q_pagerank", (s, dir) => {
      val edges = operators.Graph.nationTradeEdges(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir))
      val nodes = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("id"))
      operators.Graph.pageRankFixedPoint(edges, nodes, iters = 5)
        .join(broadcast(Tables.nation(s, dir)),
          col("id") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("r"))
        .orderBy(col("n_name"))
    }, pagerankOracle(5)),

    // Per-nation triangle participation over the trade graph, sparsified
    // to undirected pairs whose combined weight beats the global average
    // (the complete-ish graph would put every nation in every triangle —
    // the threshold makes local density a real signal). Triangles are
    // enumerated once each via the ordered wedge join a<b<c; integer
    // counts, exactly order-independent.
    Gate("q_triangles", (s, dir) => {
      val e = operators.Graph.nationTradeEdges(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir))
      val und = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"), col("w"))
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("wu"))
      // scalar mean rides the plan as a 1-row broadcast, not a collect
      val kept = und.crossJoin(broadcast(und.agg(avg(col("wu")).as("avgw"))))
        .filter(col("wu") > col("avgw"))
        .select(col("a").as("src"), col("b").as("dst"))
      val nodes = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("id"))
      operators.Graph.triangleCounts(kept, nodes)
        .join(broadcast(Tables.nation(s, dir)),
          col("id") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("n_triangles"))
        .orderBy(col("n_name"))
    }, """
      WITH e AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      und AS (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b,
               sum(w) AS wu
        FROM e WHERE src <> dst GROUP BY 1, 2),
      kept AS (
        SELECT a, b FROM und WHERE wu > (SELECT avg(wu) FROM und)),
      wedge AS (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM kept e1 JOIN kept e2 ON e1.b = e2.a),
      tri AS (
        SELECT w.a, w.b, w.c
        FROM wedge w JOIN kept e3 ON w.a = e3.a AND w.c = e3.b),
      corners AS (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri),
      cnt AS (SELECT id, count(*) AS n_triangles FROM corners GROUP BY id)
      SELECT n.n_name,
             CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
      FROM nation n LEFT JOIN cnt c ON n.n_nationkey = c.id
      ORDER BY n.n_name"""),

    // Distributed Lloyd's k-means over the embedding corpus (SemDeDup
    // clustering / IVF coarse-quantizer training), HASH-exact via the
    // integer-arithmetic contract: milli-quantized coords, micro-unit
    // centers by truncating division, exact integer squared distances,
    // md5-draw seeding — zero floating point, so the oracle replays every
    // Lloyd round bit-for-bit.
    Gate("q_kmeans", (s, dir) =>
      operators.Clustering.kmeans(par(s, Tables.embeddings(s, dir)),
        "embedding", "vec_id", k = 10, iters = 2), kmeansOracle(k = 10, iters = 2)),

    // Cohen's kappa between two deterministic labelers (chars >= 200 vs
    // spaces >= 39 — pure integer string arithmetic both engines compute
    // identically): one distributive 4-cell confusion aggregate, then
    // chance-corrected agreement. The label-quality audit a curation
    // pipeline runs before trusting a filter. operators/Evaluation.scala.
    // Oracle: Confusion cells as exact integers; po/pe/kappa from the UNROUNDED
    // cell arithmetic, rounded only on output (matching the Spark side).
    Gate("q_label_agreement", (s, dir) =>
      graft.operators.Evaluation.cohenKappa(Tables.documents(s, dir),
        col("n_chars") >= 200,
        (length(col("text")) -
          length(replace(col("text"), lit(" "), lit("")))) >= 39), """
      WITH l AS (
        SELECT (n_chars >= 200) AS a,
               (len(text) - len(replace(text, ' ', '')) >= 39) AS b
        FROM documents
      ), c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS both_pos,
               CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
               CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS b_only,
               CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS both_neg
        FROM l
      ), k AS (
        SELECT n, both_pos, a_only, b_only, both_neg,
               (both_pos + both_neg) * 1.0 / n AS po,
               ((both_pos + a_only) * 1.0 * (both_pos + b_only)
                + (b_only + both_neg) * 1.0 * (a_only + both_neg)) / (n * 1.0 * n) AS pe
        FROM c
      )
      SELECT n, both_pos, a_only, b_only, both_neg,
             round(po, 6) AS po, round(pe, 6) AS pe,
             round(CASE WHEN pe = 1.0 THEN 0.0 ELSE (po - pe) / (1.0 - pe) END, 6) AS kappa
      FROM k"""),

    // ROC AUC of document length as a predictor of lang='en': histogram
    // Mann-Whitney with midrank tie correction — groupBy(score) collapses
    // the corpus, the two-pass prefix sum (Ranking.withGlobalPrefixSum,
    // never a single-reducer window) accumulates negatives-below, and the
    // 2·P·N·AUC numerator folds as an exact Long. The threshold-free
    // companion to q_quality_classifier's fixed cutoffs.
    // operators/Evaluation.scala.
    // Oracle: Histogram Mann-Whitney: exact integer numerator 2*P*N*AUC =
    // sum_s p_s*(2*cnb_s + n_s), one double division at the end.
    Gate("q_auc", (s, dir) =>
      graft.operators.Evaluation.aucRoc(Tables.documents(s, dir),
        score = col("n_chars"), label = col("lang") === "en"), """
      WITH h AS (
        SELECT n_chars AS s,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS ng
        FROM documents GROUP BY n_chars
      ), w AS (
        SELECT p, ng,
               coalesce(sum(ng) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
        FROM h
      ), t AS (
        SELECT CAST(sum(p + ng) AS BIGINT) AS n,
               CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(ng) AS BIGINT) AS n_neg,
               CAST(sum(p * (2 * cnb + ng)) AS BIGINT) AS num
        FROM w
      ), a AS (
        SELECT n, n_pos, n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN num / (2.0 * n_pos * n_neg) ELSE 0.5 END AS auc_raw
        FROM t
      )
      SELECT n, n_pos, n_neg, round(auc_raw, 6) AS auc,
             round(2.0 * auc_raw - 1.0, 6) AS gini
      FROM a"""),

    // Sliced AUC per source: same exact-integer histogram, running
    // negatives from a window PARTITIONED by source over the per-group
    // histogram (one shuffle on the group key, reused by the following
    // aggregate) — the per-slice ranker health report.
    // operators/Evaluation.scala.
    Gate("q_auc_by", (s, dir) =>
      graft.operators.Evaluation.aucRocBy(Tables.documents(s, dir),
        group = col("source"), score = col("n_chars"),
        label = col("lang") === "en")
        .withColumnRenamed("grp", "source")
        .orderBy(col("source")), """
      WITH h AS (
        SELECT source AS grp, n_chars AS s,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS ng
        FROM documents GROUP BY 1, 2
      ), w AS (
        SELECT grp, p, ng,
               coalesce(sum(ng) OVER (PARTITION BY grp ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
        FROM h
      ), t AS (
        SELECT grp, CAST(sum(p + ng) AS BIGINT) AS n,
               CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(ng) AS BIGINT) AS n_neg,
               CAST(sum(p * (2 * cnb + ng)) AS BIGINT) AS num
        FROM w GROUP BY grp
      ), a AS (
        SELECT grp, n, n_pos, n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN num / (2.0 * n_pos * n_neg) ELSE 0.5 END AS auc_raw
        FROM t
      )
      SELECT grp AS source, n, n_pos, n_neg, round(auc_raw, 6) AS auc,
             round(2.0 * auc_raw - 1.0, 6) AS gini
      FROM a ORDER BY source"""),

    // Reliability diagram + per-decile Brier for an integer-basis-point
    // forecast (n_chars % 101 cents vs a deterministic outcome): all sums
    // are exact Long folds (cents and squared-error units), one division
    // per output cell — partition-fold order cannot move a bit.
    // operators/Evaluation.scala.
    // Oracle: Integer basis points: every sum is exact; the oracle replays the
    // same cents/squared-error folds and divides once per cell.
    Gate("q_calibration", (s, dir) =>
      graft.operators.Evaluation.calibration(Tables.documents(s, dir),
        pCents = col("n_chars") % 101, label = col("doc_id") % 4 === 0)
        .orderBy(col("bin")), """
      WITH b AS (
        SELECT least((n_chars % 101) // 10, 9) AS bin,
               n_chars % 101 AS c,
               CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS y
        FROM documents
      )
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             round(sum(c) / (100.0 * count(*)), 6) AS mean_pred,
             round(sum(y) * 1.0 / count(*), 6) AS frac_pos,
             round(sum((c - 100 * y) * (c - 100 * y)) / (10000.0 * count(*)), 6) AS brier
      FROM b GROUP BY bin ORDER BY bin"""),
  )
}
