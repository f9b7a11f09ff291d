package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTENT keyword-relevance (BM25) index: the inverted posting table
  * as a store object — the third leg of the retrieval tier, beside
  * [[AnnIndex]] (dense vectors) and [[DedupIndex]] (near-dup sketches).
  *
  * [[graft.operators.Relevance.bm25]] recomputes N / avgdl / per-term df
  * with a full corpus aggregation inside EVERY query — fine for a gate,
  * wrong at 100 TB, where keyword retrieval is half of every RRF fusion
  * and the corpus statistics change only when the corpus does. This
  * class persists the classic IR shape in the catalog:
  *
  *   - `__bm25_<name>_post` — the inverted postings (term, id, tf, dl;
  *     plus `ps`, the term's token positions, when built
  *     `withPositions` for [[phraseSearch]] — Lucene's DOCS_AND_FREQS
  *     vs _AND_POSITIONS choice), unique on (term, id), PARTITIONED BY
  *     `bucket` (a stable hash of
  *     the term into `nBuckets` slices): a query reads ONLY the slices
  *     its terms hash into (planning-time pruning via the store's
  *     partition layout), and a refresh rewrites only the buckets its
  *     delta's terms touch — never the corpus;
  *   - `__bm25_<name>_meta` — one row (n_docs, sum_dl, n_buckets): the
  *     corpus scalars N and Σdl, maintained as SIGNED sums over the
  *     change feed (the [[MaterializedAgg]] fold algebra — count and
  *     sum both invert exactly), plus the bucket fan-out pinned so a
  *     reopened handle routes terms exactly as the build did.
  *
  * Both tables commit atomically with the change-feed cursor pinned to
  * the indexed source commit; [[refresh]] = [[CdfTail.drainOnce]]:
  * arriving images re-tokenize ONLY the delta, leaving images drop the
  * posting keys they no longer assert, and the scalar fold rides the
  * same manifest swap — crash-safe, exactly-once, OCC-fenced.
  *
  * Tokenization is the corpus convention every text oracle in this
  * library shares: split on single spaces, empties dropped — pure
  * string arithmetic an independent engine reproduces exactly, so tf,
  * df, dl, and therefore every score term are integer-derived and the
  * whole object is engine-portable (the `q_bm25_persist` oracle replays
  * build + refresh + search in SQL and hash-matches).
  *
  * [[search]] is the query side: route the query terms to their buckets
  * (one LocalTableScan hash job), read only those buckets' slices, take
  * per-term df from the pruned postings and N/avgdl from the meta row —
  * ZERO corpus jobs. Scoring mirrors [[graft.operators.Relevance.bm25]]
  * term-for-term (same Okapi formula, same operand order) with token tf
  * in place of substring tf, and the per-document contributions fold in
  * a FIXED reduce chain (one pivoted row per doc), never an
  * order-nondeterministic float SUM.
  */
final class Bm25Index private (
    val src: GraftTable, val name: String,
    val textCol: String, val idCol: String,
    val post: GraftTable, val meta: GraftTable,
    val positional: Boolean) {

  private def consumerId = s"bm25:$name"

  /** (nDocs, sumDl, nBuckets) — one bounded meta row. */
  def stats(): (Long, Long, Int) = {
    val r = meta.snapshot().collect()
    require(r.length == 1, s"${meta.name}: no persisted stats — build first")
    (r(0).getAs[Long]("n_docs"), r(0).getAs[Long]("sum_dl"),
      r(0).getAs[Int]("n_buckets"))
  }

  /** Source commit id the postings are current through. */
  def currentThrough(): Long = CdfTail.cursor(src, consumerId)

  /** Catch the postings up with the source's change feed — one drained
    * window, or None when caught up. Only the delta is re-tokenized;
    * the corpus scalars fold by SIGNED deltas (count and Σdl are both
    * sums, so deletes subtract exactly what their preimages added). */
  def refresh(): Option[(Long, Long)] = {
    val (n0, s0, nBuckets) = stats()
    CdfTail.drainOnce(src, consumerId) { (txn, ch, _, _) =>
      // ONE pass over the change feed: new images tokenize into insert
      // postings, old images (delete + update_preimage) into tombstones
      // for the postings they no longer assert — one combined MERGE
      // staging (upsert-then-delete would rewrite every touched bucket
      // slice twice), with a (term, id) present in both ends landing on
      // its NEW posting. The signed corpus-scalar fold (inserts +1/+dl,
      // deletes −1/−dl, update images cancel on N and net their length
      // change on Σdl — doc-level, so it must sit BELOW the posting
      // explode) rides the SAME materialization as an Observation: the
      // manifest-diff join executes exactly once, inside the staging
      // checkpoint, where the previous shape paid it once for its own
      // localCheckpoint and once more for the scalar-fold collect.
      val sgn = when(
        col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L)
      val obs = new org.apache.spark.sql.Observation()
      val delta = ch.filter(col("_change_type").isin(
          "insert", "update_postimage", "delete", "update_preimage"))
        .observe(obs,
          coalesce(sum(when(col("_change_type") === "insert", 1L)
            .when(col("_change_type") === "delete", -1L)
            .otherwise(0L)), lit(0L)).as("dn"),
          coalesce(sum(sgn *
            size(Bm25Index.tokens(textCol)).cast("long")), lit(0L)).as("ds"))
      txn.applyChanges(post, Bm25Index.bucketed(
        Bm25Index.postingsOfDelta(delta, textCol, idCol, positional),
        nBuckets))
      val (dn, ds) = (obs.get("dn").asInstanceOf[Long],
        obs.get("ds").asInstanceOf[Long]) // already materialized: no job
      txn.upsert(meta, Seq("mid"), src.spark.createDataFrame(
        java.util.Arrays.asList(
          Row(0, n0 + dn, s0 + ds, nBuckets, if (positional) 1 else 0)),
        Bm25Index.metaSchema))
      ()
    }
  }

  /** BM25 scores for `terms` from the PERSISTED artifact: one row per
    * document matching at least one term — (idCol, n_terms, bm25). The
    * postings scan is partition-pruned to the terms' buckets, df comes
    * from the pruned read (≤ |terms| collected rows), N/avgdl from the
    * meta row: zero corpus jobs, query cost ∝ the query terms' posting
    * lists. Same Okapi constants and operand order as
    * [[graft.operators.Relevance.bm25]].
    *
    * `topk > 0` bounds the RESULT, not just the caller's view: the cut
    * plans as TakeOrderedAndProject (per-partition heaps of k rows, one
    * k-row merge on the driver side of the exchange) — at 100 TB a hot
    * term's posting list is corpus-scale, and returning it unranked
    * just moves the top-k problem to the caller with a full shuffle
    * attached. Order: bm25 desc, then idCol asc — the tiebreak on the
    * ROUNDED score keeps the cut deterministic and engine-portable.
    * `topk = 0` (default) returns every matching document.
    *
    * `terms` dedupes at entry so scoring, n_terms, and bucket routing
    * all see the same term set — a duplicated query term would
    * otherwise pivot into two __tf_i columns and silently double its
    * Okapi contribution (bucket routing already deduped via distinct).
    *
    * Rounding note: the 6-dec `round` is Spark HALF_UP while DuckDB's
    * is half-even; scores landing exactly on a 1e-6 midpoint would
    * diverge. Okapi scores are transcendental (a log times a rational),
    * so observed values never hit representable midpoints — if a future
    * gate manufactures one, compare via bround or widen the epsilon. */
  def search(rawTerms: Seq[String], k1: Double = 1.2,
             b: Double = 0.75, topk: Int = 0): DataFrame = {
    require(rawTerms.nonEmpty, "no terms")
    val terms = rawTerms.distinct
    val (nDocs, sumDl, nBuckets) = stats()
    require(nDocs > 0, s"${post.name}: empty corpus")
    val avgdl = sumDl.toDouble / nDocs.toDouble
    // term → bucket through Spark's OWN hash (one LocalTableScan job) —
    // a driver-side reimplementation of xxhash64 could silently drift
    val sp = src.spark
    import sp.implicits._
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = post.snapshotWhere(
      col("bucket").isin(buckets.map(Int.box): _*) &&
        col("term").isin(terms: _*))
    val dfMap = pruned.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // pivot each doc's matched terms into ONE row, so the score folds in
    // a fixed reduce chain (order-deterministic IEEE arithmetic — a SUM
    // over posting rows would be partition-order-dependent)
    val aggs = max(col("dl")).as("__dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"__tf_$i")
      }
    val perDoc = pruned.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      val tf = coalesce(col(s"__tf_$i"), lit(0)).cast("double")
      val dfT = lit(dfMap.getOrElse(t, 0L).toDouble)
      val idf = log(lit(1.0) +
        (lit(nDocs.toDouble) - dfT + lit(0.5)) / (dfT + lit(0.5)))
      val norm = tf * (lit(k1) + 1.0) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("__dl").cast("double") / lit(avgdl)))
      (idf * norm, tf > 0)
    }
    val score = perTerm.map(_._1).reduce(_ + _)
    val nMatched = perTerm.map { case (_, hit) =>
      when(hit, 1).otherwise(0) }.reduce(_ + _)
    val scored = perDoc
      .withColumn("n_terms", nMatched)
      .filter(col("n_terms") > 0)
      .select(col("id").as(idCol), col("n_terms"),
        round(score, 6).as("bm25"))
    if (topk <= 0) scored
    else scored.orderBy(col("bm25").desc, col(idCol).asc).limit(topk)
  }

  /** EXACT-PHRASE search from the positional postings: one row per
    * document containing the consecutive token sequence `phrase` —
    * (idCol, n_phrase) with n_phrase the occurrence count. Same scan
    * shape as [[search]]: terms route to their buckets, the postings
    * read is partition-pruned, each candidate doc pivots to ONE row
    * carrying the phrase slots' position arrays, and the intersection
    * `p ∈ ps₀ ∧ p+1 ∈ ps₁ ∧ …` evaluates inside codegen — no corpus
    * re-tokenize, no join back to the source, no position explode.
    * Repeated words in the phrase ("the the") work naturally: both
    * slots read the same posting's positions. `topk > 0` bounds the
    * result exactly like [[search]] (occurrences desc, idCol asc).
    * Requires an index built `withPositions = true`. */
  def phraseSearch(phrase: Seq[String], topk: Int = 0): DataFrame = {
    require(positional,
      s"$name: phrase search needs positions — build(withPositions = true)")
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val (nDocs, _, nBuckets) = stats()
    require(nDocs > 0, s"${post.name}: empty corpus")
    val terms = phrase.distinct
    val sp = src.spark
    import sp.implicits._
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = post.snapshotWhere(
      col("bucket").isin(buckets.map(Int.box): _*) &&
        col("term").isin(terms: _*))
    val slots = phrase.indices
    val aggs = slots.map(i =>
      max(when(col("term") === phrase(i), col("ps"))).as(s"__ps_$i"))
    val perDoc = pruned.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val allPresent = slots.map(i => col(s"__ps_$i").isNotNull).reduce(_ && _)
    val nPhrase = size(filter(col("__ps_0"), p =>
      slots.tail.map(i => array_contains(col(s"__ps_$i"), p + i))
        .reduce(_ && _)))
    val hits = perDoc.filter(allPresent)
      .select(col("id").as(idCol), nPhrase.as("n_phrase"))
      .filter(col("n_phrase") > 0)
    if (topk <= 0) hits
    else hits.orderBy(col("n_phrase").desc, col(idCol).asc).limit(topk)
  }

  /** SLOPPY-PHRASE search (Lucene's `"a b c"~slop` ask) from the same
    * positional postings: one row per document containing the phrase's
    * terms IN ORDER within a bounded window — (idCol, n_matches, prox).
    *
    * Deterministic contract (CTE-replayable, so the oracle can recompute
    * it exactly — Lucene's own sloppy scorer is iterator-order-dependent
    * and no independent engine reproduces it):
    *
    *   - for each start position p₀ of term 0, the GREEDY chain takes
    *     pᵢ = min{q ∈ positions(termᵢ) : q > pᵢ₋₁};
    *   - the start matches iff the chain completes with displacement
    *     `disp = p_{n-1} − p₀ − (n−1) ≤ slop` (disp 0 = exact phrase).
    *     Greedy is exact for this semantics: the minimal next position
    *     can only leave MORE room for later terms, so it minimizes the
    *     final displacement per start;
    *   - `n_matches` counts matching starts; `prox` is the integer
    *     proximity score Σ (slop − disp + 1) — an exact occurrence is
    *     worth slop+1, a maximally-stretched one is worth 1.
    *
    * Same scan shape as [[phraseSearch]]: bucket-pruned postings read,
    * one pivoted row per candidate doc, and the whole chain evaluates
    * inside codegen via higher-order array functions (filter/array_min/
    * zip_with/aggregate) — no corpus re-tokenize, no explode, no UDF.
    * `slop = 0` degenerates to exact-phrase counting. `topk > 0` bounds
    * the result (prox desc, idCol asc) as TakeOrderedAndProject. */
  def slopSearch(phrase: Seq[String], slop: Int,
                 topk: Int = 0): DataFrame = {
    require(positional,
      s"$name: sloppy phrase needs positions — build(withPositions = true)")
    require(phrase.size >= 2, "a phrase needs at least two terms")
    require(slop >= 0, s"slop $slop must be non-negative")
    val (nDocs, _, nBuckets) = stats()
    require(nDocs > 0, s"${post.name}: empty corpus")
    val terms = phrase.distinct
    val sp = src.spark
    import sp.implicits._
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = post.snapshotWhere(
      col("bucket").isin(buckets.map(Int.box): _*) &&
        col("term").isin(terms: _*))
    val slots = phrase.indices
    val aggs = slots.map(i =>
      max(when(col("term") === phrase(i), col("ps"))).as(s"__ps_$i"))
    val perDoc = pruned.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val allPresent = slots.map(i => col(s"__ps_$i").isNotNull).reduce(_ && _)
    // greedy chain, unrolled over the (query-side constant) phrase: the
    // min position of slot i strictly after the slot i-1 position; an
    // empty filter → array_min null → nulls propagate to the end
    def chain(p: Column, i: Int): Column =
      if (i == slots.size) p
      else chain(array_min(filter(col(s"__ps_$i"), q => q > p)), i + 1)
    val span = lit(phrase.size - 1)
    // per-start weight: slop − disp + 1 when the chain lands in-window
    val weights = transform(col("__ps_0"), p => {
      val last = chain(p, 1)
      val disp = last - p - span
      when(last.isNotNull && disp <= slop, lit(slop) - disp + 1)
    })
    val nMatches = size(filter(weights, w => w.isNotNull))
    val prox = aggregate(weights, lit(0L),
      (acc, w) => acc + coalesce(w.cast("long"), lit(0L)))
    val hits = perDoc.filter(allPresent)
      .select(col("id").as(idCol), nMatches.as("n_matches"),
        prox.as("prox"))
      .filter(col("n_matches") > 0)
    if (topk <= 0) hits
    else hits.orderBy(col("prox").desc, col(idCol).asc).limit(topk)
  }
}

object Bm25Index {

  private[store] def metaSchema = StructType(Seq(
    StructField("mid", IntegerType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("sum_dl", LongType, nullable = false),
    StructField("n_buckets", IntegerType, nullable = false),
    // 1 when the postings carry token positions (phrase-capable) — a
    // reopened handle derives the posting schema from this flag
    StructField("pos", IntegerType, nullable = false)))

  /** Whitespace tokens of `textCol`, empties dropped — the split-on-
    * space corpus convention shared with the n-gram/decontamination
    * oracles; NULL text tokenizes to the empty list. */
  private[store] def tokens(textCol: String): Column =
    filter(split(coalesce(col(textCol), lit("")), " "), t => t =!= lit(""))

  /** Inverted postings of `docs`: (term, id, tf, dl), one row per
    * distinct (term, doc) pair — plus the term's sorted 0-based token
    * positions `ps` when `withPositions`. dl is the doc's token count —
    * stored ON the posting so scoring never joins back to the corpus.
    * Positions are the classic index-size tradeoff (Lucene's
    * DOCS_AND_FREQS vs _AND_POSITIONS): the posting table grows from
    * O(distinct terms) to O(tokens) values and build/refresh pay a
    * heavier shuffle, bought ONLY when the index must answer phrase /
    * proximity queries — a frequency-only index stays lean. */
  private[graft] def postingsOf(docs: DataFrame, textCol: String,
                                idCol: String,
                                withPositions: Boolean = false): DataFrame =
    if (withPositions)
      docs.select(col(idCol).as("id"), tokens(textCol).as("__w"))
        .select(col("id"), size(col("__w")).as("dl"),
          posexplode(col("__w")).as(Seq("pos", "term")))
        .groupBy(col("term"), col("id"), col("dl"))
        .agg(count(lit(1)).cast("int").as("tf"),
          sort_array(collect_list(col("pos"))).as("ps"))
        .select(col("term"), col("id"), col("tf"), col("dl"), col("ps"))
    else
      docs.select(col(idCol).as("id"), tokens(textCol).as("__w"))
        .select(col("id"), size(col("__w")).as("dl"),
          explode(col("__w")).as("term"))
        .groupBy(col("term"), col("id"), col("dl"))
        .agg(count(lit(1)).cast("int").as("tf"))
        .select(col("term"), col("id"), col("tf"), col("dl"))

  /** ONE-PASS change-feed delta tokenize for [[Bm25Index.refresh]]: the
    * [[postingsOf]] explode+aggregate with the arriving/leaving tag
    * carried through the grouping, so new images come out as insert
    * postings and old images (delete + update_preimage) as delete
    * tombstones — (term, id, tf, dl [, ps], _change_type), one tokenize
    * pass over the whole delta instead of one per side. A doc present
    * on both sides (an update) yields both rows; its old and new texts
    * tokenize independently, exactly as the two-pass shape did. */
  private[graft] def postingsOfDelta(changes: DataFrame, textCol: String,
                                     idCol: String,
                                     withPositions: Boolean): DataFrame = {
    val leaving = (col("_change_type") === "delete" ||
      col("_change_type") === "update_preimage").as("__leave")
    val base = changes
      .select(col(idCol).as("id"), tokens(textCol).as("__w"), leaving)
    val grouped =
      if (withPositions)
        base.select(col("id"), size(col("__w")).as("dl"), col("__leave"),
            posexplode(col("__w")).as(Seq("pos", "term")))
          .groupBy(col("term"), col("id"), col("dl"), col("__leave"))
          .agg(count(lit(1)).cast("int").as("tf"),
            sort_array(collect_list(col("pos"))).as("ps"))
      else
        base.select(col("id"), size(col("__w")).as("dl"), col("__leave"),
            explode(col("__w")).as("term"))
          .groupBy(col("term"), col("id"), col("dl"), col("__leave"))
          .agg(count(lit(1)).cast("int").as("tf"))
    val cols = Seq(col("term"), col("id"), col("tf"), col("dl")) ++
      (if (withPositions) Seq(col("ps")) else Nil)
    grouped.select(cols :+
      when(col("__leave"), lit("delete")).otherwise(lit("insert"))
        .as("_change_type"): _*)
  }

  /** Stable term→slice routing: xxhash64 of the term folded positive —
    * the same term lands in the same bucket across builds and
    * refreshes, which is what makes query-time pruning and delta-only
    * refreshes line up. */
  private[store] def bucketed(posts: DataFrame, nBuckets: Int): DataFrame =
    posts.withColumn("bucket",
      pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))

  private def postTable(src: GraftTable, name: String, idCol: String,
                        withPositions: Boolean): GraftTable = {
    val base = Seq(
      StructField("term", StringType, nullable = false),
      StructField("id", src.schema(idCol).dataType, nullable = false),
      StructField("tf", IntegerType, nullable = false),
      StructField("dl", IntegerType, nullable = false))
    val ps =
      if (withPositions)
        Seq(StructField("ps", ArrayType(IntegerType, containsNull = false),
          nullable = false))
      else Nil
    new GraftTable(src.spark, src.catalog, s"__bm25_${name}_post",
      StructType(base ++ ps :+
        StructField("bucket", IntegerType, nullable = false)),
      uniqueKeys = Seq(Seq("term", "id")), partitionCols = Seq("bucket"))
  }

  private def metaTable(src: GraftTable, name: String): GraftTable =
    new GraftTable(src.spark, src.catalog, s"__bm25_${name}_meta",
      metaSchema, uniqueKeys = Seq(Seq("mid")))

  /** Tokenize the source's CURRENT snapshot and commit postings +
    * corpus scalars + the change-feed cursor in one transaction.
    * `withPositions` persists per-term token positions on the postings
    * (heavier build/refresh, bigger table) — required by
    * [[Bm25Index.phraseSearch]], skipped by default (frequency-only,
    * the lean shape [[Bm25Index.search]] needs). */
  def build(src: GraftTable, name: String, textCol: String, idCol: String,
            nBuckets: Int = 16, withPositions: Boolean = false): Bm25Index = {
    require(nBuckets >= 1, s"nBuckets $nBuckets must be positive")
    val c0 = src.catalog.currentCommitId()
    val snap = src.snapshotAt(c0)
    val post = postTable(src, name, idCol, withPositions)
    val meta = metaTable(src, name)
    // corpus scalars from the SAME snapshot the postings tokenize — one
    // cheap count+sum scan (zero-token docs count toward N but have no
    // postings, so the scalars cannot be folded from the posting rows)
    val sc = snap.agg(count(lit(1)).as("n"),
      coalesce(sum(size(tokens(textCol)).cast("long")), lit(0L)).as("s"))
      .collect()(0)
    Txn.run(src.catalog) { txn =>
      txn.createMany(post,
        bucketed(postingsOf(snap, textCol, idCol, withPositions), nBuckets),
        skipDuplicates = false)
      txn.createMany(meta, src.spark.createDataFrame(
        java.util.Arrays.asList(Row(0, sc.getLong(0), sc.getLong(1), nBuckets,
          if (withPositions) 1 else 0)),
        metaSchema), skipDuplicates = false)
      txn.recordStreamBatch(src, s"cdf:bm25:$name", c0,
        src.catalog.manifest().get(Catalog.StreamTable))
    }
    new Bm25Index(src, name, textCol, idCol, post, meta, withPositions)
  }

  /** Re-open a previously built index — no tokenize-the-corpus path
    * exists here by construction; the scalars, bucket fan-out, and the
    * positional flag (which fixes the posting schema) come from the
    * meta row. */
  def open(src: GraftTable, name: String, textCol: String,
           idCol: String): Bm25Index = {
    val meta = metaTable(src, name)
    val r = meta.snapshot().collect()
    require(r.length == 1, s"${meta.name}: no persisted stats — build first")
    val positional = r(0).getAs[Int]("pos") == 1
    new Bm25Index(src, name, textCol, idCol,
      postTable(src, name, idCol, positional), meta, positional)
  }
}
