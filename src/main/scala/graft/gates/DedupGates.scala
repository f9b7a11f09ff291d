package graft
package gates

import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.functions._

import Fixtures._

/** Deduplication gates: exact, substring, line, MinHash/SimHash near-dup,
  * duplicate clusters, containment, semantic and persistent-index dedup. */
private[graft] object DedupGates {

  /** Shared CTE prefix of the two substring gates: the planted-twin
    * corpus ([[plantedTwinCorpus]]'s SQL twin), the k=50 gram scan on
    * gram TEXT (the Spark side ships xxhash64 of the same gram —
    * identical grouping), min-doc ownership, non-owner marking, and the
    * gaps-and-islands pass `m4`. One string, two consumers — the span
    * and scrub oracles cannot drift on corpus or policy. */
  private val substringSpanCtes: String = """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
               array_to_string(string_split(text, ' ')[1:60], ' ') AS text
        FROM documents WHERE doc_id % 10 = 0
      ), toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM corpus
        WHERE len(string_split(text, ' ')) >= 50
      ), pos AS (
        SELECT doc_id, t, unnest(range(1, len(t) - 48)) AS i FROM toks
      ), grams AS (
        SELECT doc_id, i - 1 AS p,
               array_to_string(t[i:i+49], ' ') AS g
        FROM pos
      ), owners AS (
        SELECT g, min(doc_id) AS owner FROM (
          SELECT DISTINCT doc_id, g FROM grams
        ) GROUP BY g HAVING count(*) >= 2
      ), marked AS (
        SELECT DISTINCT gr.doc_id, gr.p
        FROM grams gr JOIN owners o ON o.g = gr.g AND gr.doc_id <> o.owner
      ), m2 AS (
        SELECT doc_id, p,
               max(p + 49) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM marked
      ), m3 AS (
        SELECT doc_id, p,
               CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END AS nw
        FROM m2
      ), m4 AS (
        SELECT doc_id, p, sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS sid
        FROM m3
      )"""

  val all: Seq[Gate] = Seq(
    // Exact substring dedup (operators/SubstringDedup.scala) over the
    // corpus plus PLANTED cross-doc substrings: every doc_id % 10 == 0
    // spawns a twin (+100000) carrying its first 60 tokens verbatim — a
    // guaranteed ≥ 50-token shared run, so each twin must report the
    // merged span [0, 59] (plus any organic ≥50-token repeats, which the
    // oracle derives identically). Ownership = smallest doc_id, so spans
    // land on the twins, never the originals.
    // Oracle: the shared span CTE chain, reported as merged spans
    Gate("q_substring_dedup", (s, dir) =>
      operators.SubstringDedup.dupSpans(
          par(s, plantedTwinCorpus(s, dir)), "doc_id", "text", k = 50)
        .orderBy(col("doc_id"), col("span_start")), (substringSpanCtes + """
      SELECT doc_id,
             CAST(min(p) AS BIGINT) AS span_start,
             CAST(max(p) + 49 AS BIGINT) AS span_end,
             CAST(max(p) + 49 - min(p) + 1 AS BIGINT) AS span_tokens
      FROM m4 GROUP BY doc_id, sid
      ORDER BY doc_id, span_start""")),

    // The actionable half of exact substring dedup: the detected spans
    // applied back to the corpus — every token inside a span dropped,
    // text canonically single-space rejoined for every doc (fully-covered
    // twins collapse to n_kept 0 / empty text). Same planted-twin corpus
    // as q_substring_dedup so the two gates cross-check.
    // Oracle: the same shared span CTE chain, then applied: tokens at covered
    // 0-based positions dropped, text rebuilt single-spaced per doc;
    // docs whose every token is covered survive as empty rows via the
    // left join
    Gate("q_substring_scrub", (s, dir) => {
      val corpus = par(s, plantedTwinCorpus(s, dir))
      val spans = operators.SubstringDedup.dupSpans(
        corpus, "doc_id", "text", k = 50)
      operators.SubstringDedup.removeSpans(corpus, spans, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, (substringSpanCtes + """
      , spans AS (
        SELECT doc_id, min(p) AS s, max(p) + 49 AS e
        FROM m4 GROUP BY doc_id, sid
      ), alltoks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM corpus
      ), kept AS (
        SELECT a.doc_id, a.t, a.pos FROM alltoks a
        WHERE NOT EXISTS (SELECT 1 FROM spans s
                          WHERE s.doc_id = a.doc_id
                            AND a.pos - 1 BETWEEN s.s AND s.e)
      ), agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(t, ' ' ORDER BY pos) AS text_scrub
        FROM kept GROUP BY doc_id
      )
      SELECT c.doc_id,
             CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(a.text_scrub, '') AS text_scrub
      FROM corpus c LEFT JOIN agg a ON a.doc_id = c.doc_id
      ORDER BY c.doc_id""")),

    // Intra-document line dedup over a lined fixture with PLANTED
    // within-page repetition: each doc's 8-word lines plus a re-appended
    // copy of its first third — the first-occurrence pass must strip
    // exactly the planted copies (plus any organic repeats, which the
    // oracle computes identically). Order-preserving, scan-side.
    // Oracle: the planted-repetition fixture rebuilt (8-word lines + the first
    // third re-appended), then the same first-occurrence filter —
    // DuckDB's lambda index is 1-based where Spark's is 0-based, hence
    // `list_position = i` against Spark's `array_position = i + 1`
    Gate("q_line_dedup", (s, dir) => {
      val docs = par(s, Tables.documents(s, dir)).select(col("doc_id"), col("text"))
      val lined = docs
        .withColumn("__w", graft.functions.Barrier.evalOnce(split(col("text"), " ")))
        .withColumn("__ls", graft.functions.Barrier.evalOnce(
          transform(sequence(lit(0), ceil(size(col("__w")) / 8.0).cast("int") - 1),
            i => array_join(slice(col("__w"), i * 8 + 1, lit(8)), " "))))
        .withColumn("text3", array_join(
          concat(col("__ls"),
            slice(col("__ls"), lit(1), ceil(size(col("__ls")) / 3.0).cast("int"))),
          "\n"))
      // maxLines pinned above any fixture size: the oracle SQL dedups
      // unconditionally, so the guard (spec-tested in TrainingOpsSpec)
      // must not fire here even if a future corpus grows 10k+-line docs
      Dedup.dedupLinesWithinDoc(lined, "text3", maxLines = Int.MaxValue)
        .select(col("doc_id"), col("n_lines"), col("n_unique"), col("text_dedup"))
        .orderBy(col("doc_id"))
    }, """
      WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), ls AS (
        SELECT doc_id,
          list_transform(range(0, CAST(ceil(len(w) / 8.0) AS INT)), i ->
            array_to_string(w[i*8+1:i*8+8], ' ')) AS ls
        FROM base
      ), t AS (
        SELECT doc_id, string_split(array_to_string(
          list_concat(ls, ls[1:CAST(ceil(len(ls) / 3.0) AS INT)]), chr(10)),
          chr(10)) AS lines
        FROM ls
      )
      SELECT doc_id,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines, (l, i) -> list_position(lines, l) = i))
             AS BIGINT) AS n_unique,
        array_to_string(list_filter(lines,
          (l, i) -> list_position(lines, l) = i), chr(10)) AS text_dedup
      FROM t ORDER BY doc_id"""),

    // Exact dedup: byte-exact winners via md5-keyed first-row-per-group.
    Gate("q_dedup_exact", (s, dir) =>
      Dedup.exactByKey(Tables.documents(s, dir), md5(col("text")), "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")), """
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents) t
      WHERE rn = 1 ORDER BY doc_id"""),

    // C4/RefinedWeb-style boilerplate removal: 8-token windows occurring
    // verbatim in MORE than one document get dropped and the documents
    // reassembled from the survivors — the planted organic near-dup pairs
    // share exactly such windows, so the result is non-trivially changed
    // and still exactly SQL-expressible.
    Gate("q_segment_dedup", (s, dir) =>
      Dedup.segmentDedup(
          par(s, Tables.documents(s, dir).select(col("doc_id"), col("text"))),
          "text", "doc_id", segTokens = 8, maxDocFreq = 1)
        .select(col("doc_id"), col("text"),
          col("droppedSegments").as("n_dropped"))
        .orderBy(col("doc_id")), """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM toks
      ), segs AS (
        SELECT doc_id, (idx-1)//8 AS seg_idx,
               string_agg(word, ' ' ORDER BY idx) AS seg
        FROM words GROUP BY doc_id, (idx-1)//8
      ), freq AS (
        SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
      )
      SELECT s.doc_id,
             coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_idx)
                        FILTER (WHERE f.df <= 1), '') AS text,
             CAST(count(*) FILTER (WHERE f.df > 1) AS BIGINT) AS n_dropped
      FROM segs s JOIN freq f USING (seg)
      GROUP BY s.doc_id
      ORDER BY s.doc_id"""),

    // Benchmark decontamination: every tenth document plays the held-out
    // benchmark; corpus docs sharing >=1 distinct 8-gram with it are
    // flagged with their hit counts (the organic near-dup pairs straddle
    // the split, so the result is non-trivial and exactly checkable).
    Gate("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      Dedup.decontaminationHits(corpus, bench, "text", "doc_id",
          n = 8, minHits = 1)
        .select(col("doc_id"), col("nHits").as("n_hits"))
        .orderBy(col("doc_id"))
    }, """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM toks
      ), grams AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY idx2) AS g
        FROM (SELECT a.doc_id, a.idx AS base, b.idx AS idx2, b.word
              FROM words a JOIN words b
                ON a.doc_id = b.doc_id AND b.idx BETWEEN a.idx AND a.idx + 7) t
        GROUP BY doc_id, base HAVING count(*) = 8
      ), bgrams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
      ), cg AS (
        SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 10 <> 0
      )
      SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM cg JOIN bgrams USING (g)
      GROUP BY cg.doc_id HAVING count(*) >= 1
      ORDER BY cg.doc_id"""),

    // Incremental near-dedup: the 100 TB regime sketches ONLY the new
    // batch and band-joins it against the prebuilt corpus index — here
    // the batch is an id-shifted copy of the corpus, so every new doc
    // must resolve to its original with jaccard exactly 1.0 (identical
    // shingle sets). Organic matches are filtered to the planted diff,
    // as in q_dedup_minhash.
    Gate("q_dedup_incr", (s, dir) => {
      val docs = par(s, Tables.documents(s, dir).select(col("doc_id"), col("text")))
      val index = Dedup.minhashIndex(docs, "text", "doc_id")
      val batch = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      // persistSketch: the batch sketch feeds BOTH sides of the
      // within-batch join plus the vs-corpus probe — uncached it would
      // re-tokenize the batch three times. The pair-sized result is
      // materialized eagerly so the SCOPED release (the Managed handle
      // unpersists only the sketch this query cached — never the rest of
      // a shared session's cache) can run inside the query.
      val managed = Dedup.minhashIncrementalManaged(index, batch, "text", "doc_id",
        persistSketch = true)
      val out = managed.df
        .filter(col("dup_of") === col("new_id") - 10000L)
        .select(col("new_id"), col("dup_of"), col("jaccard"))
        .orderBy(col("new_id"))
        .localCheckpoint()
      managed.release()
      out
    }, """
      SELECT doc_id + 10000 AS new_id, doc_id AS dup_of,
             CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents ORDER BY new_id"""),

    // PERSISTENT dedup index (store/DedupIndex, AnnIndex's text
    // sibling): the corpus sketched ONCE into catalog tables
    // (sketches + the (k, numHashes) config riding one commit with the
    // change-feed cursor), copies arriving via ordinary store writes,
    // the refresh re-sketching ONLY the delta through CdfTail, and a
    // REOPENED handle (no sketch-the-corpus path exists on it) probing
    // the new batch against the persisted sketches. Output = the planted
    // copy-of-self pairs at jaccard exactly 1.0 — identical shingle sets
    // collide in every band regardless of hash family, the same
    // determinism q_dedup_incr's oracle rests on.
    // Oracle: same planted-copy determinism, through the PERSISTED sketch table
    Gate("q_dedup_persist", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-deduppersist-q"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val src = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      src.createMany(docs)
      val idx = graft.store.DedupIndex.build(src, "d1", "text", "doc_id",
        nBuckets = 4)
      // the incremental batch is a QUARTER of the corpus — batch-sized
      // work is the operator's whole point, and the full-corpus pass
      // already happened once at build
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      src.createMany(batch)
      require(idx.refresh().nonEmpty,
        "q_dedup_persist: the insert window must drain")
      require(idx.refresh().isEmpty,
        "q_dedup_persist: caught up — a second refresh drains nothing")
      require(idx.sketch.snapshot().count() == docs.count() + batch.count(),
        "q_dedup_persist: the delta must be absorbed incrementally")
      graft.store.DedupIndex.open(src, "d1", "text", "doc_id")
        .dupsAgainst(batch)
        .filter(col("dup_of") === col("new_id") - 10000L)
        .select(col("new_id"), col("dup_of"), col("jaccard"))
        .orderBy(col("new_id"))
    }, """
      SELECT doc_id + 10000 AS new_id, doc_id AS dup_of,
             CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents WHERE doc_id % 4 = 0 ORDER BY new_id"""),

    // Bloom-accelerated decontamination: identical OUTPUT to
    // q_decontaminate (the exact verify join kills Bloom false
    // positives, so the same oracle applies) — only the data movement
    // differs: a ~10-bit/key sketch probes scan-side inside codegen and
    // culls the corpus grams BEFORE any join, the path that survives a
    // benchmark suite too large to broadcast exactly.
    // Oracle: bloom pre-filter + exact verify == the exact operator's output
    Gate("q_decontaminate_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      Dedup.decontaminationHitsBloom(corpus, bench, "text", "doc_id",
          n = 8, minHits = 1, fpp = 0.01)
        .select(col("doc_id"), col("nHits").as("n_hits"))
        .orderBy(col("doc_id"))
    }, """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM toks
      ), grams AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY idx2) AS g
        FROM (SELECT a.doc_id, a.idx AS base, b.idx AS idx2, b.word
              FROM words a JOIN words b
                ON a.doc_id = b.doc_id AND b.idx BETWEEN a.idx AND a.idx + 7) t
        GROUP BY doc_id, base HAVING count(*) = 8
      ), bgrams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
      ), cg AS (
        SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 10 <> 0
      )
      SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM cg JOIN bgrams USING (g)
      GROUP BY cg.doc_id HAVING count(*) >= 1
      ORDER BY cg.doc_id"""),

    // MinHash-LSH near-dedup: corpus ∪ id-shifted copy — every copy is a
    // guaranteed jaccard-1.0 duplicate of its original; the recovered
    // (id, id+10000) pairs are the oracle-checkable slice (the corpus also
    // contains organic near-dups, which the same call surfaces — spec-tested,
    // not oracle-predictable).
    Gate("q_dedup_minhash", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      Dedup.minhashLshPairs(par(s, docs.unionByName(copies)), "text", "doc_id",
        threshold = 0.7)
        .filter(col("id_b") === col("id_a") + 10000L && col("id_a") < 10000L)
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"))
    }, """
      SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents
      ORDER BY id_a"""),

    // SimHash: every planted copy collides with its original at hamming 0
    // (sketch identity for identical token multisets).
    Gate("q_dedup_simhash", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      Dedup.simhashPairs(par(s, docs.unionByName(copies)), "text", "doc_id",
        maxHamming = 0)
        .filter(col("id_b") === col("id_a") + 10000L && col("id_a") < 10000L)
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"))
    }, """
      SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents
      ORDER BY id_a"""),

    // The DISTRIBUTED connected-components path, driver-gated: same
    // planted chains as q_dup_clusters, but smallGraphEdges=0 disables
    // the driver union-find fast path, forcing the min-label propagation
    // loop (join + aggregate per round, periodic lineage truncation) —
    // the solver that actually runs at 100 TB, now oracle-checked too.
    // The result is materialized eagerly so the Managed storage handle
    // releases before the query returns (no cache squatting in a
    // long-lived session).
    Gate("q_dup_clusters_dist", (s, dir) => {
      // an eighth of the corpus: the distributed loop's round count is
      // what's under test, not the volume (q_dup_clusters covers that)
      val docs = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(8)) === 0)
        .select(col("doc_id"), col("text"))
      val c1 = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val c2 = docs.select((col("doc_id") + 20000L).as("doc_id"), col("text"))
      val all = par(s, docs.unionByName(c1).unionByName(c2))
      val diff = col("id_b") - col("id_a")
      val pairs = Dedup.minhashLshPairs(all, "text", "doc_id",
          threshold = 0.7)
        .filter(diff === 10000L || diff === 20000L)
      val m = Dedup.dupClustersManaged(pairs, smallGraphEdges = 0L)
      val out = m.df
        .select(col("id").cast("long").as("id"),
          col("cluster").cast("long").as("cluster"))
        .orderBy(col("id"))
        .localCheckpoint() // eager: cluster-label-sized, frees the loop's storage
      m.release()
      out
    }, """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 8 = 0)
      SELECT id, cluster FROM (
        SELECT doc_id AS id, doc_id AS cluster FROM d
        UNION ALL SELECT doc_id + 10000 AS id, doc_id AS cluster FROM d
        UNION ALL SELECT doc_id + 20000 AS id, doc_id AS cluster FROM d)
      ORDER BY id"""),

    // Connected-component dup clusters, oracle-checked: two id-shifted
    // copies per doc plant the transitive chain x ~ x+10000 ~ x+20000;
    // min-label propagation must collapse every chain to x. Edges are
    // restricted to the planted diffs — organic near-dup ids differ by
    // < 10000, so no organic edge survives the filter and the expected
    // clustering is exactly computable in SQL.
    Gate("q_dup_clusters", (s, dir) => {
      // deterministic quarter of the corpus (sf-proportional): clustering
      // semantics don't need every doc, and the 3x union triples the input
      val docs = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"))
      val c1 = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val c2 = docs.select((col("doc_id") + 20000L).as("doc_id"), col("text"))
      val all = par(s, docs.unionByName(c1).unionByName(c2))
      val diff = col("id_b") - col("id_a")
      val pairs = Dedup.minhashLshPairs(all, "text", "doc_id",
          threshold = 0.7)
        .filter(diff === 10000L || diff === 20000L)
      Dedup.dupClusters(pairs)
        .select(col("id").cast("long").as("id"),
          col("cluster").cast("long").as("cluster"))
        .orderBy(col("id"))
    }, """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0)
      SELECT id, cluster FROM (
        SELECT doc_id AS id, doc_id AS cluster FROM d
        UNION ALL SELECT doc_id + 10000 AS id, doc_id AS cluster FROM d
        UNION ALL SELECT doc_id + 20000 AS id, doc_id AS cluster FROM d)
      ORDER BY id"""),

    // n-gram Jaccard verification over a deterministic candidate set
    // (adjacent doc ids) — exact set-overlap arithmetic both engines.
    Gate("q_ngram_jaccard", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1L).as("id_b"))
        .filter(col("id_b") < 500)
      Dedup.ngramJaccard(docs, pairs, "text", "doc_id", n = 3)
        .orderBy(col("id_a"))
    }, """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                 ELSE list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) END) AS s
        FROM (SELECT doc_id,
                list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                            x -> len(x) > 0) AS toks
              FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
               ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))) END, 4) AS jaccard
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      WHERE b.doc_id < 500
      ORDER BY id_a"""),

    // Embedding near-dup: corpus ∪ copy, cosine 1.0 pairs recovered via
    // hyperplane-LSH blocking + exact verification.
    Gate("q_embed_neardup", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val copies = emb.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupPairs(par(s, emb.unionByName(copies)), "embedding", "vec_id",
        dim = 64, threshold = 0.999, numPlanes = 16)
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
    }, """
      SELECT vec_id AS id_a, vec_id + 10000 AS id_b FROM embeddings
      ORDER BY id_a, id_b"""),

    // Asymmetric containment: each doc paired with its own 12-token
    // prefix "quote" (containment exactly 1.0) and with its NEIGHBOR's
    // quote (low) — the partial-copy signal symmetric Jaccard misses.
    Gate("q_containment", (s, dir) => {
      // parity guard: a zero-token doc (all punctuation) would get the
      // kernel's empty set but the oracle CASE's [''] pseudo-gram
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(size(TextFunctions.tokens(col("text"))) >= 1)
      val quotes = docs.select((col("doc_id") + 30000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
      val all = docs.unionByName(quotes)
      val own = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 30000L).as("id_b"))
      val nextQuote = docs.alias("a")
        .join(docs.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), (col("b.doc_id") + 30000L).as("id_b"))
      Dedup.ngramContainment(all, own.unionByName(nextQuote), "text", "doc_id", n = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, """
      WITH base AS (
        SELECT doc_id, toks FROM (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                             x -> len(x) > 0) AS toks
          FROM documents)
        WHERE len(toks) >= 1
      ), corpus AS (
        SELECT doc_id, toks FROM base
        UNION ALL
        SELECT doc_id + 30000, toks[1:12] FROM base
      ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                 ELSE list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) END) AS s
        FROM corpus
      ), pairs AS (
        SELECT doc_id AS id_a, doc_id + 30000 AS id_b FROM base
        UNION ALL
        SELECT a.doc_id, b.doc_id + 30000 FROM base a
        JOIN base b ON b.doc_id = a.doc_id + 1
      )
      SELECT p.id_a, p.id_b,
             round(CASE WHEN len(sb.s) = 0 THEN 0.0
               ELSE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / len(sb.s)
               END, 4) AS containment
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.id_a
      JOIN sh sb ON sb.doc_id = p.id_b
      ORDER BY id_a, id_b"""),

    // SemDeDup composition: tripled corpus (two id-shifted copies) →
    // cosine-1.0 pairs → transitive clusters → one survivor per semantic
    // cluster. Pairs are filtered to the planted id-shifts so the
    // survivor set is exactly the originals — SQL-checkable like
    // q_dedup_minhash/q_dup_clusters.
    Gate("q_semantic_dedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val c1 = emb.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      val c2 = emb.select((col("vec_id") + 20000L).as("vec_id"), col("embedding"))
      val all = par(s, emb.unionByName(c1).unionByName(c2))
      val diff = col("id_b") - col("id_a")
      val pairs = Dedup.embeddingNearDupPairs(all, "embedding", "vec_id",
          dim = 64, threshold = 0.999, numPlanes = 16)
        .filter(diff === 10000L || diff === 20000L)
      Dedup.dedupByPairs(all, pairs, "vec_id").df
        .select(col("vec_id")).orderBy(col("vec_id"))
    }, """
      SELECT vec_id FROM embeddings ORDER BY vec_id"""),

    // Near-dup audit: the corpus's ORGANIC near-duplicate pairs surfaced
    // by MinHash-LSH through the ORACLE-PORTABLE md5 hash family — the
    // oracle recomputes every signature, band key, and surviving pair
    // bit-for-bit, so the banding/collision/verify machinery itself is
    // hash-gated (not just the planted-copy slice q_dedup_minhash
    // checks). Production dedup keeps the xxhash64 fast path
    // (minhashLshPairs), spec-tested for family-agnostic agreement.
    // Oracle: the md5-family MinHash-LSH replayed end to end: same 60-bit md5
    // prefix hashes (hash i of shingle s = md5('i:' || s)), same 16
    // bands x 2 rows banding (threshold 0.7 -> bandsFor = numHashes/2),
    // same band-collision join and exact-Jaccard >= 0.7 verify
    Gate("q_near_dup_audit", (s, dir) =>
      Dedup.minhashLshPairsPortable(par(s, Tables.documents(s, dir)), "text", "doc_id",
        threshold = 0.7)
        .orderBy(col("id_a"), col("id_b")), """
      WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                           x -> len(x) > 0) AS toks
        FROM documents
      ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                 ELSE list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) END) AS s
        FROM t
      ), sig AS (
        SELECT doc_id, s,
               list_transform(range(0, 32), i ->
                 list_min(list_transform(s, x ->
                   CAST(CAST(concat('0x', substr(md5(concat(i, ':', x)), 1, 15))
                        AS UBIGINT) AS BIGINT)))) AS g
        FROM sh
      ), bands AS (
        SELECT doc_id, s, j,
               md5(concat(CAST(g[2*j+1] AS VARCHAR), ':',
                          CAST(g[2*j+2] AS VARCHAR))) AS bh
        FROM (SELECT doc_id, s, g, unnest(range(0, 16)) AS j FROM sig)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.s AS sa, b.s AS sb
        FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh
        WHERE a.doc_id < b.doc_id
      ), verified AS (
        SELECT id_a, id_b,
               CASE WHEN len(list_distinct(list_concat(sa, sb))) = 0 THEN 0.0
                 ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                      / len(list_distinct(list_concat(sa, sb))) END AS j
        FROM cand
      )
      SELECT id_a, id_b, round(j, 4) AS jaccard FROM verified
      WHERE j >= 0.7
      ORDER BY id_a, id_b"""),
  )
}
