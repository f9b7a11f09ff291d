package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, Sampling}
import org.apache.spark.sql.functions._

import Fixtures._

/** Text and curation gates: tokenization, language id, quality rules,
  * sampling and mixing, packing and sharding, tokenizer training, HTML
  * extraction and data-quality audits. */
private[graft] object TextGates {

  private val textStopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** DuckDB twin of [[operators.Bpe.train]], generated: the k training
    * iterations unroll as chained CTEs — w0 is the word-frequency table
    * as spaced char sequences; each step counts adjacent pairs (weighted
    * by word freq), argmaxes with the count-desc/pair-asc tie-break, and
    * rewrites via the same depth-nested literal replace (fixpoint
    * application) the Spark side uses. One generated string so the two
    * engines cannot drift on depth or tie-break. */
  private def bpeOracle(k: Int, depth: Int,
                        segment: Boolean = false): String = {
    def rep(inner: String): String =
      (1 to depth).foldLeft(inner)((e, _) =>
        s"replace($e, ' ' || pr || ' ', ' ' || mg || ' ')")
    val sb = new StringBuilder
    sb.append("""
      WITH w0 AS (
        SELECT t AS word,
               ' ' || regexp_replace(t, '(.)', '\1 ', 'g') AS seq,
               CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> '' GROUP BY t
      )""")
    // In segment mode m$i must NEVER be empty: w$i = w$(i-1) CROSS JOIN
    // m$i would annihilate the word table when the corpus runs out of
    // pairs before step k (Spark's train stops early and segment applies
    // only the real merges). A sentinel pair of control chars (absent
    // from any text) at count −1 loses every argmax with candidates and
    // its replace is a no-op when it wins an empty round. Train mode
    // stays sentinel-free: an empty m$i contributes zero rows to the
    // UNION, matching the early stop.
    val mSrc =
      if (segment) "(SELECT pr, c FROM p%d UNION ALL " +
        "SELECT chr(1) || ' ' || chr(1), CAST(-1 AS BIGINT))"
      else "p%d"
    for (i <- 1 to k) {
      sb.append(s""",
      p$i AS (
        SELECT pr, CAST(sum(f) AS BIGINT) AS c FROM (
          SELECT f, unnest(list_transform(range(1, len(toks)),
                     j -> toks[j] || ' ' || toks[j+1])) AS pr
          FROM (SELECT f, string_split(trim(seq), ' ') AS toks FROM w${i - 1})
        ) GROUP BY pr
      ),
      m$i AS (
        SELECT pr, replace(pr, ' ', '') AS mg, c
        FROM ${mSrc.format(i)} ORDER BY c DESC, pr ASC LIMIT 1
      )""")
      if (i < k || segment) sb.append(s""",
      w$i AS (
        SELECT word, ${rep("seq")} AS seq, f FROM w${i - 1} CROSS JOIN m$i
      )""")
    }
    if (segment)
      sb.append(s"""
      SELECT word,
             CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_symbols,
             trim(seq) AS seq
      FROM w$k ORDER BY word""")
    else {
      sb.append("\n      " + (1 to k).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, pr AS pair, c AS freq FROM m$i")
        .mkString("\n      UNION ALL "))
      sb.append("\n      ORDER BY step")
    }
    sb.toString
  }

  /** q_lang_id_trained's oracle: replay the WHOLE train+route pipeline —
    * fixture VALUES generated from [[operators.LangId.FixtureSentences]]
    * (one source, two engines), trigram hash counting, the Laplace
    * micro log-weights (the one rounded ln per (lang, bucket)), probe
    * scoring as exact integer sums, argmax with the lang-ascending
    * tie-break. */
  private def langIdTrainedOracle: String = {
    val dim = operators.LangId.Dim
    val values = operators.LangId.FixtureSentences.zipWithIndex.map {
      case ((lang, txt), i) => s"($i, '$lang', '$txt')"
    }.mkString(",\n        ")
    s"""
      WITH fx(i, lang, txt) AS (VALUES
        $values
      ), tl AS (
        SELECT lang, lower(txt) AS t FROM fx
      ), tg AS (
        SELECT lang, t, unnest(range(1, len(t) - 1)) AS p
        FROM tl WHERE len(t) >= 3
      ), gb AS (
        SELECT lang,
               CAST(CAST(concat('0x',
                 substr(md5(substr(t, CAST(p AS INT), 3)), 1, 8))
                 AS UBIGINT) % $dim AS BIGINT) AS bucket
        FROM tg
      ), cnt AS (
        SELECT lang, bucket, count(*) AS c FROM gb GROUP BY 1, 2
      ), tot AS (
        SELECT lang, count(*) AS n FROM gb GROUP BY 1
      ), model AS (
        SELECT t.lang, CAST(r.range AS BIGINT) AS bucket,
               CAST(round(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
                 CAST(t.n + $dim AS DOUBLE)) * 1e6) AS BIGINT) AS w
        FROM range($dim) r
        CROSS JOIN tot t
        LEFT JOIN cnt c ON c.lang = t.lang AND c.bucket = r.range
      ), probes AS (
        SELECT d.doc_id, f.lang AS lang_planted,
               lower(f.txt || ' ' || substr(d.text, 1, 24)) AS t
        FROM documents d JOIN fx f ON f.i = d.doc_id % 48
      ), pg AS (
        SELECT doc_id, lang_planted, t, unnest(range(1, len(t) - 1)) AS p
        FROM probes WHERE len(t) >= 3
      ), pb AS (
        SELECT doc_id, lang_planted,
               CAST(CAST(concat('0x',
                 substr(md5(substr(t, CAST(p AS INT), 3)), 1, 8))
                 AS UBIGINT) % $dim AS BIGINT) AS bucket
        FROM pg
      ), sc AS (
        SELECT doc_id, lang_planted, m.lang,
               CAST(sum(m.w) AS BIGINT) AS score
        FROM pb JOIN model m USING (bucket)
        GROUP BY 1, 2, 3
      ), rk AS (
        SELECT doc_id, lang_planted, lang, score,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, lang) AS rn
        FROM sc
      )
      SELECT doc_id, lang_planted, lang AS lang_pred, score AS score_micro
      FROM rk WHERE rn = 1
      ORDER BY doc_id"""
  }

  /** q_unigram_train's oracle: unroll the ENTIRE hard-EM unigram-LM
    * training — seed substring counts, micro log-prob scores, and per
    * EM round a position-by-position Viterbi DP (`B` CTEs, forward max)
    * plus the backward recovery (`pick` CTEs, exact-score-match with
    * the longest-piece tie-break), usage counts, prune-unused /
    * floor-single-chars, rescore. Word truncation to `maxWordLen`
    * bounds the DP depth so the unroll is finite — the same
    * generated-CTE discipline as [[bpeOracle]]. */
  private def unigramOracle(maxPieceLen: Int, maxWordLen: Int,
                            minSeed: Long, iters: Int,
                            segment: Boolean = false): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH words AS MATERIALIZED (
        SELECT substr(w0, 1, $maxWordLen) AS w, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS w0 FROM documents)
        WHERE w0 <> '' GROUP BY 1
      ), wpos AS MATERIALIZED (
        SELECT w, f, unnest(range(1, len(w) + 1)) AS i FROM words
      ), candp AS MATERIALIZED (
        SELECT w, f, i, l,
               substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)) AS piece
        FROM (SELECT w, f, i,
                     unnest(range(1, least($maxPieceLen, i) + 1)) AS l
              FROM wpos)
      ), vocab0 AS MATERIALIZED (
        SELECT piece AS p, CAST(sum(f) AS BIGINT) AS c
        FROM candp GROUP BY 1
        HAVING sum(f) >= $minSeed OR len(piece) = 1
      ), tot0 AS MATERIALIZED (
        SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab0
      ), s1 AS MATERIALIZED (
        SELECT p, CAST(round(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
          * 1e6) AS BIGINT) AS s
        FROM vocab0, tot0
      )""")
    // one Viterbi round: candidate scores, forward DP (B/Ball chain),
    // backward recovery (R/pick chain) — shared by the EM rounds and
    // the final segmentation pass
    def emitDp(it: Int): Unit = {
      sb.append(s""",
      cand$it AS MATERIALIZED (
        SELECT c.w, c.f, c.i, c.l, c.piece, s.s
        FROM candp c JOIN s$it s ON s.p = c.piece
      ),
      B${it}_0 AS MATERIALIZED (
        SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS b FROM words
      ),
      Ball${it}_0 AS MATERIALIZED (SELECT * FROM B${it}_0)""")
      for (k <- 1 to maxWordLen) {
        sb.append(s""",
      B${it}_$k AS MATERIALIZED (
        SELECT c.w, $k AS pos, CAST(max(p.b + c.s) AS BIGINT) AS b
        FROM cand$it c
        JOIN Ball${it}_${k - 1} p ON p.w = c.w AND p.pos = c.i - c.l
        WHERE c.i = $k GROUP BY c.w
      ),
      Ball${it}_$k AS MATERIALIZED (
        SELECT * FROM Ball${it}_${k - 1} UNION ALL SELECT * FROM B${it}_$k
      )""")
      }
      sb.append(s""",
      R${it}_0 AS MATERIALIZED (SELECT w, f, len(w) AS pos FROM words)""")
      for (k <- 1 to maxWordLen) {
        sb.append(s""",
      pick${it}_$k AS MATERIALIZED (
        SELECT r.w, r.f, r.pos, c.l, c.piece,
               row_number() OVER (PARTITION BY r.w ORDER BY c.l DESC) AS rn
        FROM R${it}_${k - 1} r
        JOIN cand$it c ON c.w = r.w AND c.i = r.pos
        JOIN Ball${it}_$maxWordLen p
          ON p.w = r.w AND p.pos = r.pos - c.l
        JOIN Ball${it}_$maxWordLen q ON q.w = r.w AND q.pos = r.pos
        WHERE r.pos > 0 AND p.b + c.s = q.b
      ),
      R${it}_$k AS MATERIALIZED (
        SELECT w, f, pos - l AS pos FROM pick${it}_$k WHERE rn = 1
      )""")
      }
    }
    for (it <- 1 to iters) {
      emitDp(it)
      val used = (1 to maxWordLen)
        .map(k => s"SELECT piece, f FROM pick${it}_$k WHERE rn = 1")
        .mkString("\n        UNION ALL ")
      sb.append(s""",
      used$it AS MATERIALIZED (
        SELECT piece AS p, CAST(sum(f) AS BIGINT) AS c
        FROM ($used)
        GROUP BY 1
      ),
      vocab$it AS MATERIALIZED (
        SELECT v.p, COALESCE(u.c, 1) AS c
        FROM vocab${it - 1} v LEFT JOIN used$it u ON u.p = v.p
        WHERE u.p IS NOT NULL OR len(v.p) = 1
      ),
      tot$it AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab$it),
      s${it + 1} AS MATERIALIZED (
        SELECT p, CAST(round(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
          * 1e6) AS BIGINT) AS s
        FROM vocab$it, tot$it
      )""")
    }
    if (segment) {
      // the inference pass: one more Viterbi round under the FINAL
      // scores, pieces re-assembled left-to-right by their end position
      val fin = iters + 1
      emitDp(fin)
      val picks = (1 to maxWordLen)
        .map(k => s"SELECT w, pos, piece FROM pick${fin}_$k WHERE rn = 1")
        .mkString("\n        UNION ALL ")
      sb.append(s"""
      SELECT w AS word, CAST(count(*) AS BIGINT) AS n_pieces,
             string_agg(piece, ' ' ORDER BY pos) AS seq
      FROM ($picks)
      GROUP BY w
      ORDER BY word""")
    } else {
      sb.append(s"""
      SELECT v.p AS piece, v.c AS "count", s.s AS score_micro
      FROM vocab$iters v JOIN s${iters + 1} s ON s.p = v.p
      ORDER BY piece""")
    }
    sb.toString
  }

  val all: Seq[Gate] = Seq(
    // §2.E histogram: width_bucket over order totals (the duration
    // histogram shape, runner/locator.ts:47-50).
    Gate("q_token_hist", (s, dir) =>
      par(s, Tables.documents(s, dir))
        .select(TextFunctions.widthBucket(
          TextFunctions.tokenCount(col("text")).cast("double"), 0, 100, 10).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")), """
      WITH t AS (
        SELECT CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        FROM documents)
      SELECT CASE WHEN CAST(n_tokens AS DOUBLE) < 0 THEN 0
                  WHEN CAST(n_tokens AS DOUBLE) >= 100 THEN 11
                  ELSE CAST(floor(CAST(n_tokens AS DOUBLE) / 10.0) AS INT) + 1 END AS bucket,
             count(*) AS n
      FROM t GROUP BY 1 ORDER BY bucket"""),

    // Token budget accounting: whitespace tokens (the fast path) and the
    // BPE-ish subword estimate (letter/digit runs, long words contribute
    // ceil(len/4) pieces) side by side — the numbers a mixture planner
    // budgets context windows with. Pure codegen'd kernels.
    Gate("q_token_budget", (s, dir) =>
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("ws_tokens"),
          TextFunctions.bpeishTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy(col("doc_id")), """
      SELECT doc_id,
             CAST(CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
                  END AS BIGINT) AS ws_tokens,
             CAST(COALESCE(list_sum(list_transform(
               list_filter(regexp_split_to_array(lower(trim(text)),
                 '[^a-z0-9]+'), x -> len(x) > 0),
               x -> greatest(1, CAST(ceil(len(x) / 4.0) AS INTEGER)))), 0)
               AS BIGINT) AS bpe_tokens
      FROM documents ORDER BY doc_id"""),

    // Boilerplate mining: the corpus's 20 most frequent token 3-grams
    // with document frequency — the exact heavy-hitters pass that seeds
    // a template/boilerplate blocklist. One explode scan → one gram
    // aggregation (map-side partial) → TakeOrdered(20); grams ride as
    // strings only because the top-k output needs them — the count
    // shuffle itself is gram-keyed, never corpus-wide.
    Gate("q_top_ngrams", (s, dir) => {
      // shared gram producer (token array projected once); doc-frequency
      // via two-level aggregation instead of count(distinct): no Expand,
      // both shuffles gram-keyed
      val grams = operators.CorpusAudit.wordGrams(
          par(s, Tables.documents(s, dir)), "text", n = 3, keep = Seq(col("doc_id")))
        .select(col("doc_id"), col("gram").as("g"))
      grams
        .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("__c"))
        .groupBy(col("g"))
        .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_docs"))
        .orderBy(col("n").desc, col("g").asc)
        .limit(20)
    }, """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM toks
      ), grams AS (
        SELECT doc_id,
               word || ' ' ||
               lead(word, 1) OVER (PARTITION BY doc_id ORDER BY idx) || ' ' ||
               lead(word, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS g
        FROM words
      )
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM grams WHERE g IS NOT NULL
      GROUP BY g ORDER BY n DESC, g ASC LIMIT 20"""),

    // Heavy hitters by sketch-then-verify: tokens above 0.5% corpus
    // frequency. Pass 1 aggregates a 512-counter Misra–Gries summary —
    // partial-aggregated, so each map task ships ≤512 counters instead of
    // its whole vocabulary, and the merged sketch is a guaranteed
    // SUPERSET of every token with frequency > N/513 (mergeable-summaries
    // bound) ⊇ all tokens over the N/200 gate threshold. Pass 2 re-scans
    // with a ≤512-literal IN filter and counts EXACTLY — the shuffle is
    // keyed on ≤512 candidates, never the corpus vocabulary (billions of
    // singleton keys at 100 TB, almost none of which can be heavy). Same
    // sketch-then-verify shape as the Bloom decontamination gate; output
    // is exact, so the oracle is the plain GROUP BY/HAVING.
    Gate("q_heavy_hitters", (s, dir) => {
      val toks = par(s, Tables.documents(s, dir))
        .select(explode(split(col("text"), " ")).as("tok"))
      val head = toks.agg(
          count(lit(1)).as("n_total"),
          graft.functions.MisraGries.heavyHitterCandidates(col("tok"), 512)
            .as("cands"))
        .collect()(0) // bounded: one row, ≤512 strings
      val nTotal = head.getLong(0)
      val cands = head.getSeq[String](1)
      toks.filter(col("tok").isin(cands: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .filter(col("n") * lit(200L) > lit(nTotal))
        .orderBy(col("tok"))
    }, """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM toks
      GROUP BY tok
      HAVING count(*) * 200 > (SELECT count(*) FROM toks)
      ORDER BY tok"""),

    // One-pass column profiling over the event stream: row count, null
    // count, exact distinct cardinality, stringified min/max per column —
    // the ingest observability audit that catches schema drift and null
    // explosions before curation runs. The k exact distincts plan as ONE
    // scan + Expand (k× partial-aggregated shuffle rows), never k
    // rescans; `opt_type` (nullif of a value known present) exercises
    // the null-accounting path on a null-free fixture. min/max stringify
    // AFTER aggregation — a pre-cast would order "10" < "9".
    Gate("q_profile", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("opt_type", expr("nullif(event_type, 'click')"))
      operators.Profile.profile(
          ev, Seq("event_type", "opt_type", "user_id", "event_id"))
        .orderBy(col("col_name"))
    }, """
      WITH ev AS (
        SELECT event_type, nullif(event_type, 'click') AS opt_type,
               user_id, event_id
        FROM events),
      s AS (SELECT count(*) AS n FROM ev)
      SELECT * FROM (
        SELECT 'event_type' AS col_name, s.n AS n_rows,
               CAST(s.n - count(event_type) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
               CAST(min(event_type) AS VARCHAR) AS min_s,
               CAST(max(event_type) AS VARCHAR) AS max_s
        FROM ev, s GROUP BY s.n
        UNION ALL
        SELECT 'opt_type', s.n, CAST(s.n - count(opt_type) AS BIGINT),
               CAST(count(DISTINCT opt_type) AS BIGINT),
               CAST(min(opt_type) AS VARCHAR), CAST(max(opt_type) AS VARCHAR)
        FROM ev, s GROUP BY s.n
        UNION ALL
        SELECT 'user_id', s.n, CAST(s.n - count(user_id) AS BIGINT),
               CAST(count(DISTINCT user_id) AS BIGINT),
               CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        FROM ev, s GROUP BY s.n
        UNION ALL
        SELECT 'event_id', s.n, CAST(s.n - count(event_id) AS BIGINT),
               CAST(count(DISTINCT event_id) AS BIGINT),
               CAST(min(event_id) AS VARCHAR), CAST(max(event_id) AS VARCHAR)
        FROM ev, s GROUP BY s.n)
      ORDER BY col_name"""),

    // Sketch-audited cardinality: the gate output is the EXACT per-type
    // distinct-user count (oracle-checkable), but the query first runs
    // the HyperLogLog++ estimate alongside it and REQUIREs agreement
    // within 6·rsd — the sketch path a 100 TB continuous profile
    // actually runs (mergeable fixed-size state, no distinct shuffle),
    // audited against exactness on the same scan shape.
    Gate("q_approx_distinct", (s, dir) =>
      operators.Profile.cardinalityAudit(
          Tables.events(s, dir), "event_type", "user_id", rsd = 0.02)
        .orderBy(col("event_type")), """
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
      FROM events GROUP BY event_type ORDER BY event_type"""),

    // Sketch-audited point frequencies — the count–min complement of
    // q_approx_distinct: the gate output is the EXACT per-type count
    // (oracle-checkable), but the query first builds the count–min grid
    // (a fixed 4×2048 mergeable long array — what a 100 TB continuous
    // profile ships instead of a vocabulary-keyed shuffle) and REQUIREs
    // every audited value to respect the sketch's one-sided guarantee
    // exact ≤ estimate ≤ exact + (e/width)·N. functions/CountMin.scala.
    // Oracle: the count-min audit's RESULT is the exact group count; the sketch
    // bound check happens Spark-side (a require) before this plan runs
    Gate("q_freq_audit", (s, dir) =>
      operators.Profile.frequencyAudit(Tables.events(s, dir), "event_type")
        .orderBy(col("value")), """
      SELECT event_type AS value, CAST(count(*) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type ORDER BY value"""),

    // Unicode NFC normalization ahead of fingerprinting: decomposed
    // accents (e + U+0301), the canonical mixed-normalization hazard of
    // crawl text, must compose to single code points before any exact or
    // near-dup hash — byte-different spellings of the same string are
    // otherwise distinct documents forever. Runs as a custom codegen
    // Expression (UnicodeExpressions.NfcNormalize) with an isNormalized
    // fast path, inside the whole-stage span — not a UDF. The fixture
    // corpus is ASCII (already NFC), so the gate plants a decomposed
    // suffix on every row and checks both the composed text and the
    // char-count contraction; oracle = DuckDB's nfc_normalize.
    Gate("q_nfc_normalize", (s, dir) => {
      val raw = concat(col("text"), lit(" cafe\u0301"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.UnicodeExpressions.nfcNormalize(raw).as("text_nfc"),
          (length(graft.functions.UnicodeExpressions.nfcNormalize(raw)) -
            length(raw)).cast("long").as("nfc_delta"))
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id,
             nfc_normalize(text || ' cafe' || chr(769)) AS text_nfc,
             CAST(length(nfc_normalize(text || ' cafe' || chr(769)))
                  - length(text || ' cafe' || chr(769)) AS BIGINT) AS nfc_delta
      FROM documents ORDER BY doc_id"""),

    // Sliding-window chunking: 60-token windows advancing by 50 (10-token
    // overlap), one row per chunk with index/count/re-joined text — the
    // long-document splitter every pretrain/RAG ingest needs. Pure
    // explode + array-slice expressions, no shuffle.
    Gate("q_chunk", (s, dir) =>
      operators.Packing.chunkDocs(
          Tables.documents(s, dir).filter(col("doc_id") < 200),
          "text", "doc_id", maxTokens = 60, overlap = 10)
        .orderBy(col("doc_id"), col("chunk_idx")), """
      WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents WHERE doc_id < 200
      ), chunks AS (
        SELECT doc_id, w, n,
               unnest(generate_series(0,
                 greatest(CAST(1 AS BIGINT), (n - 10 + 49) // 50) - 1)) AS chunk_idx
        FROM base
      )
      SELECT doc_id, chunk_idx,
             least(60, n - chunk_idx * 50) AS chunk_tokens,
             array_to_string(w[CAST(chunk_idx * 50 + 1 AS INTEGER)
               : CAST(chunk_idx * 50 + 60 AS INTEGER)], ' ') AS chunk_text
      FROM chunks
      ORDER BY doc_id, chunk_idx"""),

    // Cross-source overlap audit: pairwise Jaccard of each source pair's
    // distinct word-3-gram sets — which sources duplicate each other,
    // the question that decides mixture weights. Aggregate-then-expand
    // (inverted gram→sources index, pair explosion bounded by |sources|
    // per gram), never a corpus-sized gram self-join.
    Gate("q_source_overlap", (s, dir) => {
      val grams = operators.CorpusAudit.wordGrams(
        par(s, Tables.documents(s, dir)), "text", n = 3, keep = Seq(col("source")))
      operators.CorpusAudit.sourceOverlap(grams, "source", "gram")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("inter"), col("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }, """
      WITH toks AS (
        SELECT source, doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), words AS (
        SELECT source, doc_id, unnest(w) AS word,
               generate_subscripts(w, 1) AS idx
        FROM toks
      ), grams AS (
        SELECT DISTINCT source,
               word || ' ' ||
               lead(word, 1) OVER (PARTITION BY doc_id ORDER BY idx) || ' ' ||
               lead(word, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS g
        FROM words
      ), sg AS (
        SELECT source, g FROM grams WHERE g IS NOT NULL
      ), sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY source
      ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
      )
      SELECT sa.source AS src_a, sb.source AS src_b,
             sa.n AS n_a, sb.n AS n_b,
             COALESCE(i.inter, 0) AS inter,
             round(COALESCE(i.inter, 0) /
               CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE), 6) AS jaccard
      FROM sizes sa JOIN sizes sb ON sa.source < sb.source
      LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source
      ORDER BY src_a, src_b"""),

    // End-to-end curation pipeline, hash-gated as ONE composition: Gopher
    // quality filter → exact dedup (md5 winner) → content-hash
    // train/val/test split → token-budget shards over the train slice.
    // Every stage is the production operator, chained the way a real
    // ingest run chains them, and the whole lineage stays declarative —
    // one plan, no driver materialization between stages.
    // Oracle: the four stage formulations of q_gopher / q_dedup_exact / q_split /
    // q_shard_budget chained into one CTE pipeline
    Gate("q_pipeline", (s, dir) => {
      val docs = par(s, Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text")))
      val kept = operators.QualityRules.gopherFilter(docs, "text",
        operators.QualityRules.Thresholds(minWords = 40, minStopwordHits = 1))
      val deduped = Dedup.exactByKey(kept, md5(col("text")), "doc_id")
      val split = deduped.withColumn("split",
          operators.Sampling.hashSplitAssign(col("text"),
            Seq(("train", 0.8), ("val", 0.9)), "test"))
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")).cast("long"))
      val train = operators.Packing.assignShardsByTokenBudget(
          split.filter(col("split") === "train"),
          Seq(col("source"), col("doc_id")), col("n_tok"), budget = 3000L)
        .select(col("doc_id"), col("source"), col("split"), col("n_tok"),
          col("shard"))
      train.unionByName(split.filter(col("split") =!= "train")
          .select(col("doc_id"), col("source"), col("split"), col("n_tok"),
            lit(-1L).as("shard")))
        .orderBy(col("doc_id"))
    }, """
      WITH wst AS (
        SELECT doc_id, source, text,
               regexp_replace(text, '^\s+|\s+$', '', 'g') AS t
        FROM documents
      ), stats AS (
        SELECT doc_id, source, text,
          CASE WHEN len(t) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(len(regexp_split_to_array(t, '\s+')) AS BIGINT) END AS n_words,
          regexp_split_to_array(t, '\s+') AS words,
          list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
            x -> len(x) > 0) AS toks
        FROM wst
      ), keepers AS (
        SELECT doc_id, source, text, n_words FROM stats
        WHERE n_words BETWEEN 40 AND 100000
          AND (CASE WHEN n_words = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) END) BETWEEN 3.0 AND 10.0
          AND (CASE WHEN n_words = 0 THEN 0.0
               ELSE ((len(text) - len(replace(text, '#', ''))) / 1
                     + (len(text) - len(replace(text, '...', ''))) / 3)
                    / CAST(n_words AS DOUBLE) END) <= 0.1
          AND (CASE WHEN n_words = 0 THEN 0.0
               ELSE CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) END) >= 0.8
          AND len(list_intersect(toks,
            ['the','be','to','of','and','that','have','with'])) >= 1
          AND CAST(len(list_filter(string_split(text, chr(10)),
                l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
              / CAST(len(string_split(text, chr(10))) AS DOUBLE) <= 0.9
          AND CAST(len(list_filter(string_split(text, chr(10)),
                l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS DOUBLE)
              / CAST(len(string_split(text, chr(10))) AS DOUBLE) <= 0.3
      ), dedup AS (
        SELECT doc_id, source, text FROM (
          SELECT k.*, row_number() OVER (PARTITION BY md5(text)
            ORDER BY doc_id) AS rn FROM keepers k) WHERE rn = 1
      ), assigned AS (
        SELECT doc_id, source,
          CASE WHEN substr(md5(text), 1, 8) < 'cccccccc' THEN 'train'
               WHEN substr(md5(text), 1, 8) < 'e6666666' THEN 'val'
               ELSE 'test' END AS split,
          CAST(CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
               ELSE len(regexp_split_to_array(
                 regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
               END AS BIGINT) AS n_tok
        FROM dedup
      )
      SELECT doc_id, source, split, n_tok,
        CAST((sum(n_tok) OVER (ORDER BY source, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 3000
          AS BIGINT) AS shard
      FROM assigned WHERE split = 'train'
      UNION ALL
      SELECT doc_id, source, split, n_tok, CAST(-1 AS BIGINT) AS shard
      FROM assigned WHERE split <> 'train'
      ORDER BY doc_id"""),

    // ---- beyond-reference training-data operators (BASELINE.json) ----

    // Text analysis: token counting + stopword counting, pure codegen.
    Gate("q_text_stats", (s, dir) =>
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(filter(TextFunctions.tokens(col("text")),
            t => array_contains(array(textStopwords.map(lit): _*), t))).cast("long").as("n_stopwords"),
          col("n_chars"))
        .orderBy(col("doc_id")), """
      SELECT doc_id,
             CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens,
             len(list_filter(
               list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'), x -> len(x) > 0),
               x -> x IN ('the','a','and','of','to','in','is'))) AS n_stopwords,
             n_chars
      FROM documents ORDER BY doc_id"""),

    // Language distribution of the corpus (lang column exercised).
    Gate("q_lang_dist", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang")), """
      SELECT lang, count(*) AS n FROM documents
      GROUP BY lang ORDER BY n DESC, lang"""),

    // Language-ID heuristic over the corpus. The heuristic is pure column
    // algebra — CJK codepoint probe, then argmax of marker-token counts
    // (ties → first profile in sorted order, "und" when nothing scores) —
    // so the oracle replays the same CASE in SQL; accuracy on
    // real-language fixtures is additionally spec-tested.
    Gate("q_lang_id", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")), """
      WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                 x -> len(x) > 0) AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, text,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','sich'))) AS c_de,
          len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','for','with','are'))) AS c_en,
          len(list_filter(toks, x -> x IN ('el','los','las','una','es','que','para','con','por','del'))) AS c_es,
          len(list_filter(toks, x -> x IN ('le','la','les','des','une','est','dans','pour','que','sur'))) AS c_fr
        FROM t
      )
      SELECT doc_id,
        CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
             WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
             WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
             WHEN c_es >= c_fr THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM s ORDER BY doc_id"""),

    // TRAINED language-ID (r17): the routed path — a hashed
    // char-trigram multinomial Naive Bayes (the fastText-shaped linear
    // scorer) TRAINED on the planted 6-language fixture and applied to
    // a mixed-evidence probe (one fixture sentence + 24 chars of the
    // English-ish document text, so margins are real, not replay of the
    // training set). Training is one counting aggregation into integer
    // micro log-weights (one rounded ln per (lang, bucket) — the round-6
    // libm-parity contract), scoring is a broadcast join + exact integer
    // sums + a deterministic argmax, so the oracle replays the ENTIRE
    // train+route pipeline symbolically. q_lang_id stays as the cheap
    // stopword probe. operators/LangId.scala.
    // Oracle: the langId heuristic replayed in SQL: CJK probe, then argmax of
    // marker counts over the sorted profiles (de,en,es,fr) — the CASE
    // cascade "cK >= every later count" picks the FIRST maximum, exactly
    // the kernel's tie rule; all-zero → 'und'
    Gate("q_lang_id_trained", (s, dir) => {
      val L = operators.LangId
      val model = L.train(L.trainingFixture(s))
      val j = (pmod(col("doc_id"), lit(48)) + 1).cast("int")
      val sentArr = array(L.FixtureSentences.map(t => lit(t._2)): _*)
      val langArr = array(L.FixtureSentences.map(t => lit(t._1)): _*)
      // par: the probe's per-row kernel work (char-trigram expansion +
      // md5 bucket per gram, ~500 grams/doc) runs below the first
      // exchange, so the one-file test parquet would pin it to a single
      // core — same single-scan bound as the r17 codec gates; no-op at
      // real scale where the scan has many splits
      val probes = par(s, Tables.documents(s, dir)).select(col("doc_id"),
        element_at(langArr, j).as("lang_planted"),
        concat(element_at(sentArr, j), lit(" "),
          substring(col("text"), 1, 24)).as("ptxt"))
      L.route(probes, "ptxt", "doc_id", model)
        .join(probes.select(col("doc_id"), col("lang_planted")), Seq("doc_id"))
        .select(col("doc_id"), col("lang_planted"), col("lang_pred"),
          col("score_micro"))
        .orderBy(col("doc_id"))
    }, langIdTrainedOracle),

    // Document fingerprints through the ORACLE-PORTABLE md5 twins: same
    // canonicalization and windowing as the xxhash64 production path
    // (fingerprint/winnowFingerprint — those stay the fast path inside
    // curation/dedup and are spec-tested for determinism), hash swapped to
    // md5 so an independent engine can recompute every value.
    // Oracle: portable fingerprints: md5 over the identical canonical form and
    // shingle windows the Spark side hashes (hex strings are ASCII, so
    // the lexicographic winnow min agrees engine-to-engine)
    Gate("q_fingerprint", (s, dir) =>
      // par: the one-row-group test parquet would run this md5 kernel
      // single-threaded; barrier: both fingerprint flavors read ONE
      // tokenize (CollapseProject would re-inline the regex into each)
      par(s, Tables.documents(s, dir))
        .withColumn("__toks",
          graft.functions.Barrier.evalOnce(TextFunctions.tokens(col("text"))))
        .select(col("doc_id"),
          TextFunctions.fingerprintPortableStaged(col("__toks")).as("fp_md5"),
          TextFunctions.winnowFingerprintPortableStaged(col("__toks"), 5).as("winnow_md5"))
        .orderBy(col("doc_id")), """
      WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                 x -> len(x) > 0) AS toks
        FROM documents
      )
      SELECT doc_id,
             md5(array_to_string(toks, ' ')) AS fp_md5,
             CASE WHEN len(toks) < 5 THEN md5(array_to_string(toks, ' '))
                  ELSE list_min(list_transform(generate_series(0, len(toks) - 5),
                    i -> md5(array_to_string(toks[i+1:i+5], ' ')))) END AS winnow_md5
      FROM t ORDER BY doc_id"""),

    // Deterministic content-hash sampling (reproducible corpus cuts — the
    // same doc is in or out everywhere; PRNG sampling can't cross-check).
    Gate("q_sample", (s, dir) =>
      operators.Sampling.hashSample(Tables.documents(s, dir), col("text"), 0.25)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")), """
      SELECT doc_id, source FROM documents
      WHERE substr(md5(text), 1, 8) < '40000000'
      ORDER BY doc_id"""),

    // Stratified deterministic sampling: per-language rates in one
    // codegen'd CASE (downsample dominant strata, keep rare ones).
    Gate("q_sample_stratified", (s, dir) =>
      operators.Sampling.stratifiedHashSample(Tables.documents(s, dir),
          col("text"), col("lang"),
          rates = Map("en" -> 0.1, "de" -> 0.5), defaultRate = 1.0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang")), """
      SELECT lang, count(*) AS n FROM documents
      WHERE substr(md5(text), 1, 8) <
        CASE lang WHEN 'en' THEN '19999999' WHEN 'de' THEN '80000000'
                  ELSE 'g' END
      GROUP BY lang ORDER BY lang"""),

    // Temperature-weighted mixture epochs (the pretraining α-smoothing
    // recipe: q_i ∝ p_i^α flattens dominant sources): per-source epoch
    // factors q_i·N/n_i at α=0.5, computed from one bounded count
    // aggregation (the operator is driver-side by design — #sources
    // values). Formula mirrored parenthesis-for-parenthesis, 6-decimal
    // rounded on both sides (pow differs in the last ulp across libms).
    Gate("q_temperature", (s, dir) => {
      val counts = Tables.documents(s, dir).groupBy(col("source")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val eps = operators.Mixing.temperatureEpochs(counts, alpha = 0.5)
      import s.implicits._
      counts.toSeq.map { case (src, n) => (src, n, eps(src)) }
        .toDF("source", "n", "epochs")
        .orderBy(col("source"))
    }, """
      WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source
      ), t AS (
        SELECT CAST(sum(n) AS DOUBLE) AS total FROM c
      ), p AS (
        SELECT c.source, c.n, pow(c.n / t.total, 0.5) AS pn, t.total
        FROM c, t
      ), ps AS (
        SELECT sum(pn) AS powsum FROM p
      )
      SELECT p.source, p.n,
             round(pn / ps.powsum * p.total / p.n, 6) AS epochs
      FROM p, ps ORDER BY source"""),

    // Per-source quota: cap every source at its 15 longest documents —
    // the Common-Crawl "cap every domain" gate. The rank<=n filter
    // compiles to WindowGroupLimit (map-side bounded heaps before the
    // shuffle — plan-asserted), so a 100 M-row source ships ~15 rows per
    // input partition, never the whole group.
    Gate("q_source_quota", (s, dir) =>
      operators.Sampling.capPerGroup(Tables.documents(s, dir),
          group = col("source"), n = 15,
          order = Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")), """
      SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents) t
      WHERE rk <= 15 ORDER BY doc_id"""),

    // Deterministic content-hash train/val/test split: byte-identical
    // documents always land in the same split (exact-dup leakage is
    // structurally impossible), pure codegen'd CASE, no shuffle.
    Gate("q_split", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          operators.Sampling.hashSplitAssign(col("text"),
            Seq(("train", 0.8), ("val", 0.9)), "test").as("split"))
        .orderBy(col("doc_id")), """
      SELECT doc_id, source,
             CASE WHEN substr(md5(text), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(text), 1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""),

    // Leakage-safe split: the draw keys on the near-dup CLUSTER
    // representative, so an entire cluster lands on one side of every
    // train/val/test boundary — the eval-contamination mode a content
    // hash alone cannot stop (near-dups hash differently). Clusters come
    // from the production MinHash-LSH + min-label path over the planted
    // tripled quarter (pairs filtered to the id shifts, as in
    // q_dup_clusters, so the oracle replays the cluster structure
    // symbolically); unclustered docs degrade to their own-id draw
    // through the LEFT join. operators/Sampling.scala.
    // Oracle: cluster structure replayed symbolically (the planted id shifts, as
    // in q_dup_clusters), then the same md5 threshold CASE keyed on the
    // representative's string rendering
    Gate("q_leakage_split", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val quarter = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val c1 = quarter.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val c2 = quarter.select((col("doc_id") + 20000L).as("doc_id"), col("text"))
      val all = par(s, docs.unionByName(c1).unionByName(c2))
      val diff = col("id_b") - col("id_a")
      val pairs = Dedup.minhashLshPairs(all, "text", "doc_id", threshold = 0.7)
        .filter(diff === 10000L || diff === 20000L)
      operators.Sampling.leakageSafeSplit(all, "doc_id",
          Dedup.dupClusters(pairs), Seq(("train", 0.8), ("val", 0.9)), "test")
        .select(col("doc_id"), col("cluster"), col("split"))
        .orderBy(col("doc_id"))
    }, """
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
      all_docs AS (
        SELECT doc_id FROM documents
        UNION ALL SELECT doc_id + 10000 FROM d
        UNION ALL SELECT doc_id + 20000 FROM d),
      cl AS (
        SELECT doc_id,
               CASE WHEN doc_id >= 20000 THEN doc_id - 20000
                    WHEN doc_id >= 10000 THEN doc_id - 10000
                    ELSE doc_id END AS cluster
        FROM all_docs)
      SELECT doc_id, cluster,
             CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
      FROM cl ORDER BY doc_id"""),

    // DSIR importance weights (data selection via importance resampling):
    // per-document mean log-likelihood ratio of hashed word-bigram buckets
    // under the English-slice LM vs the full-corpus LM. One gram scan,
    // one 1024-row LM aggregation broadcast back, one per-doc aggregation.
    // Oracle: DSIR: same bigrams (space split + lead), same md5 bucket fold, the
    // ln() terms mirrored parenthesis-for-parenthesis, mean rounded to 6
    // decimals (the BM25 float-parity contract).
    Gate("q_dsir", (s, dir) =>
      operators.Importance.dsirWeights(par(s, Tables.documents(s, dir)),
          "doc_id", "text", isTarget = col("lang") === "en", buckets = 1024)
        .orderBy(col("doc_id")), """
      WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ), words AS (
        SELECT doc_id, lang, unnest(w) AS word,
               generate_subscripts(w, 1) AS idx
        FROM toks
      ), grams AS (
        SELECT doc_id, lang,
               word || ' ' ||
               lead(word, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS g
        FROM words
      ), g2 AS (
        SELECT doc_id,
               (lang = 'en') AS tgt,
               CAST(concat('0x', substr(md5(g), 1, 8)) AS UBIGINT) % 1024 AS b
        FROM grams WHERE g IS NOT NULL
      ), lm AS (
        SELECT b, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(count(*) AS BIGINT) AS call
        FROM g2 GROUP BY b
      ), tot AS (
        SELECT CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t_all,
               CAST(count(*) AS BIGINT) AS n_all
        FROM g2
      )
      SELECT g2.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             round(sum( ln((lm.ct + 1) / (tot.t_all + 1024.0))
                      - ln((lm.call + 1) / (tot.n_all + 1024.0)) )
                   / count(*), 6) AS dsir
      FROM g2 JOIN lm USING (b) CROSS JOIN tot
      GROUP BY g2.doc_id ORDER BY g2.doc_id"""),

    // Curriculum construction: the corpus ordered by reference-likeness
    // (cross-entropy ascending — cleanest-first, the curriculum-learning
    // data layout) and cut into 5000-token training stages via the
    // window-free two-pass prefix sum. Composes the production CE
    // scorer and the budget sharder in ONE declarative plan; the
    // round-6 ce is hash-stable, so ordering on it is engine-safe.
    // Oracle: the curriculum replayed: the q_perplexity cross-entropy CTEs, then
    // the running token sum over (ce, doc_id) order integer-div'd by the
    // 5000-token stage budget
    Gate("q_curriculum", (s, dir) => {
      val ce = operators.Importance.unigramCrossEntropy(
        par(s, Tables.documents(s, dir)), "doc_id", "text",
        isRef = col("source").isin("src0", "src1"), buckets = 4096)
      operators.Packing.assignShardsByTokenBudget(ce,
          Seq(col("ce"), col("doc_id")), col("n_tok"), budget = 5000L)
        .select(col("doc_id"), col("n_tok"), col("ce"), col("shard"))
        .orderBy(col("doc_id"))
    }, """
      WITH words AS (
        SELECT doc_id, source IN ('src0', 'src1') AS ref,
               CAST(concat('0x', substr(md5(w), 1, 8)) AS UBIGINT) % 4096 AS b
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 1)
      ), lm AS (
        SELECT b, CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cnt
        FROM words GROUP BY b
      ), tot AS (
        SELECT CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS t
        FROM words
      ), ce AS (
        SELECT words.doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               round(-sum(ln((lm.cnt + 1) / (tot.t + 4096.0))) / count(*), 6) AS ce
        FROM words JOIN lm USING (b) CROSS JOIN tot
        GROUP BY words.doc_id
      )
      SELECT doc_id, n_tok, ce,
        CAST((sum(n_tok) OVER (ORDER BY ce, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 5000
           AS BIGINT) AS shard
      FROM ce ORDER BY doc_id"""),

    // CCNet-style perplexity filter: per-document cross-entropy under a
    // unigram LM trained on the src0/src1 reference slice (the
    // "Wikipedia KenLM" analog). One token scan, one 4096-row LM
    // aggregation broadcast back, one per-doc aggregation.
    // Oracle: the unigram-LM cross-entropy replayed: same hashed buckets (md5
    // 8-hex prefix % 4096), same add-one smoothing, same negated mean
    Gate("q_perplexity", (s, dir) =>
      operators.Importance.unigramCrossEntropy(par(s, Tables.documents(s, dir)),
          "doc_id", "text", isRef = col("source").isin("src0", "src1"),
          buckets = 4096)
        .orderBy(col("doc_id")), """
      WITH words AS (
        SELECT doc_id, source IN ('src0', 'src1') AS ref,
               CAST(concat('0x', substr(md5(w), 1, 8)) AS UBIGINT) % 4096 AS b
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 1)
      ), lm AS (
        SELECT b, CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cnt
        FROM words GROUP BY b
      ), tot AS (
        SELECT CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS t
        FROM words
      )
      SELECT words.doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             round(-sum(ln((lm.cnt + 1) / (tot.t + 4096.0))) / count(*), 6) AS ce
      FROM words JOIN lm USING (b) CROSS JOIN tot
      GROUP BY words.doc_id ORDER BY words.doc_id"""),

    // Sketch-audited quantiles: output is the EXACT per-type value
    // percentiles (quantile_cont semantics both engines), but the query
    // first requires the mergeable approx_percentile sketch — the state
    // a 100 TB continuous profile actually keeps — inside each target's
    // exact rank-tolerance bracket.
    // Oracle: Quantile audit: DuckDB's quantile_cont is the same continuous
    // interpolation as Spark's percentile; equal-length unnests zip.
    Gate("q_quantile_audit", (s, dir) =>
      operators.Profile.quantileAudit(Tables.events(s, dir),
          "event_type", "value", probs = Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy(col("event_type"), col("p")), """
      SELECT event_type, p, q FROM (
        SELECT event_type,
               unnest([0.25, 0.5, 0.75, 0.95]) AS p,
               unnest(quantile_cont(value, [0.25, 0.5, 0.75, 0.95])) AS q
        FROM events GROUP BY event_type)
      ORDER BY event_type, p"""),

    // Distribution drift alarm (PSI): per-bin population-stability
    // contributions between the purchase and click value distributions —
    // fixed-width scan-side binning, shuffle bounded by bins, totals
    // broadcast from a 1-row frame; ln/divisions mirrored term-for-term.
    // Oracle: PSI drift: same fixed-width bins, add-one smoothing over the bin
    // union, the ln() and divisions mirrored shape-for-shape, round 6.
    Gate("q_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      operators.Profile.drift(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          "value", binWidth = 50.0)
        .orderBy(col("bin"))
    }, """
      WITH a AS (
        SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_a
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
      ), b AS (
        SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_b
        FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
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

    // Mixture weighting: per-source fractional epochs (the pretraining
    // "N epochs of source X" recipe), deterministic hash-draw for the
    // fractional copy, exploded with a 1-based epoch tag.
    Gate("q_mixture", (s, dir) =>
      operators.Mixing.mixture(Tables.documents(s, dir).filter(col("doc_id") < 100),
          col("text"), col("source"),
          weights = Map("src0" -> 2.5, "src1" -> 1.0), defaultEpochs = 0.5)
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"))
        .orderBy(col("doc_id"), col("epoch")), """
      WITH c AS (
        SELECT doc_id, source,
          CASE source
            WHEN 'src0' THEN 2 + CASE WHEN substr(md5(text),1,8) < '80000000'
                                      THEN 1 ELSE 0 END
            WHEN 'src1' THEN 1
            ELSE CASE WHEN substr(md5(text),1,8) < '80000000' THEN 1 ELSE 0 END
          END AS copies
        FROM documents WHERE doc_id < 100)
      SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS epoch
      FROM c WHERE copies > 0
      ORDER BY doc_id, epoch"""),

    // Sequence-packing plan (concatenate-then-chunk): per-source running
    // char offset → context-window index + in-chunk offset; one
    // partitioned window per stream, streams pack in parallel.
    Gate("q_packing", (s, dir) =>
      operators.Packing.concatChunks(Tables.documents(s, dir),
          stream = col("source"), order = col("doc_id"),
          sizeCol = col("n_chars"), capacity = 4096L)
        .select(col("doc_id"), col("source"),
          col("chunk").cast("long").as("chunk"),
          col("chunk_offset").cast("long").as("chunk_offset"))
        .orderBy(col("doc_id")), """
      WITH o AS (
        SELECT doc_id, source,
               COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM documents)
      SELECT doc_id, source,
             CAST(off // 4096 AS BIGINT) AS chunk,
             CAST(off % 4096 AS BIGINT) AS chunk_offset
      FROM o ORDER BY doc_id"""),

    // Shard assignment: 100 consecutive rows of the global (source,
    // doc_id) order per output shard — the two-pass distributed ranking
    // again, no single-reducer row numbering.
    Gate("q_sharding", (s, dir) =>
      operators.Packing.assignShards(Tables.documents(s, dir),
          Seq(col("source"), col("doc_id")), rowsPerShard = 100L)
        .select(col("doc_id"), col("source"), col("shard").cast("long").as("shard"))
        .orderBy(col("doc_id")), """
      SELECT doc_id, source,
             CAST((row_number() OVER (ORDER BY source, doc_id) - 1) // 100
                  AS BIGINT) AS shard
      FROM documents ORDER BY doc_id"""),

    // Token-BALANCED sharding: shards cut on a cumulative token budget
    // (what the trainer's loader wants), via the two-pass distributed
    // prefix sum — sum() OVER (ORDER BY ...) semantics with no
    // single-reducer window.
    // Oracle: DuckDB sum() windows type as HUGEINT — cast the floor-div back
    Gate("q_shard_budget", (s, dir) =>
      operators.Packing.assignShardsByTokenBudget(
          par(s, Tables.documents(s, dir)).select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")),
          Seq(col("source"), col("doc_id")), col("n_tok"), budget = 5000L)
        .select(col("doc_id"), col("source"), col("n_tok"), col("shard"))
        .orderBy(col("doc_id")), """
      WITH t AS (
        SELECT doc_id, source,
          CAST(CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
               ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
        FROM documents
      )
      SELECT doc_id, source, n_tok,
        CAST((sum(n_tok) OVER (ORDER BY source, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 5000 AS BIGINT) AS shard
      FROM t ORDER BY doc_id"""),

    // Gopher-style rule filtering (Rae et al. 2021 §A1.1): per-doc
    // surface stats + pass/fail verdict, pure codegen'd column algebra —
    // the narrow scan-side filter a 1000-executor read applies for free.
    // Oracle: mirrors QualityRules.gopherStats expression for expression: the
    // substring counts use the portable (len - len(replace))/len(t)
    // form, every ratio divides the same exact-integer doubles
    Gate("q_gopher", (s, dir) =>
      operators.QualityRules.gopherStats(
          par(s, Tables.documents(s, dir).select(col("doc_id"), col("text"))),
          "text", operators.QualityRules.Thresholds(minWords = 40, minStopwordHits = 1))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          col("sw_hits"), col("keep"))
        .orderBy(col("doc_id")), """
      WITH t AS (
        SELECT doc_id, text,
          CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS BIGINT) END AS n_words,
          regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS words,
          list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
            x -> len(x) > 0) AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, n_words,
          CASE WHEN n_words = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) END AS mean_word_len,
          CASE WHEN n_words = 0 THEN 0.0
               ELSE ((len(text) - len(replace(text, '#', ''))) / 1
                     + (len(text) - len(replace(text, '...', ''))) / 3)
                    / CAST(n_words AS DOUBLE) END AS symbol_ratio,
          CASE WHEN n_words = 0 THEN 0.0
               ELSE CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) END AS alpha_frac,
          CAST(len(list_intersect(toks,
            ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS sw_hits,
          CAST(len(list_filter(string_split(text, chr(10)),
            l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
            / CAST(len(string_split(text, chr(10))) AS DOUBLE) AS bullet_frac,
          CAST(len(list_filter(string_split(text, chr(10)),
            l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS DOUBLE)
            / CAST(len(string_split(text, chr(10))) AS DOUBLE) AS ellipsis_frac
        FROM t
      )
      SELECT doc_id, n_words,
             round(mean_word_len, 6) AS mean_word_len,
             round(symbol_ratio, 6) AS symbol_ratio,
             round(alpha_frac, 6) AS alpha_frac,
             sw_hits,
             (n_words BETWEEN 40 AND 100000
              AND mean_word_len BETWEEN 3.0 AND 10.0
              AND symbol_ratio <= 0.1
              AND alpha_frac >= 0.8
              AND sw_hits >= 1
              AND bullet_frac <= 0.9
              AND ellipsis_frac <= 0.3) AS keep
      FROM s ORDER BY doc_id"""),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2) over a
    // deterministic LINED fixture (the synthetic corpus has no newlines
    // or punctuation, so the gate rebuilds each doc as 8-word lines:
    // every (doc_id+i)%3==0 line terminated with '.', %3==1 left bare
    // — dropped by the terminal-punct rule — and %3==2 suffixed with
    // ' {' — dropped by the banned-fragment rule). The oracle replays
    // BOTH the fixture construction and the cleaning.
    // Oracle: the lined fixture rebuilt with the same 8-word slicing and %3
    // suffix cycle, then the same line rules: whitespace-trim, terminal
    // punctuation, >=3 words, no banned fragment
    Gate("q_c4_clean", (s, dir) => {
      val docs = par(s, Tables.documents(s, dir)).select(col("doc_id"), col("text"))
      val lined = docs
        .withColumn("__w", graft.functions.Barrier.evalOnce(split(col("text"), " ")))
        .withColumn("text2", array_join(
          transform(sequence(lit(0), ceil(size(col("__w")) / 8.0).cast("int") - 1), i =>
            concat(array_join(slice(col("__w"), i * 8 + 1, lit(8)), " "),
              when((col("doc_id") + i) % 3 === 0, lit("."))
                .when((col("doc_id") + i) % 3 === 1, lit(""))
                .otherwise(lit(" {")))), "\n"))
      operators.QualityRules.c4LineClean(lined, "text2", minLineWords = 3, minLines = 1)
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("text_clean"))
        .orderBy(col("doc_id"))
    }, """
      WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), lined AS (
        SELECT doc_id,
          array_to_string(list_transform(
            range(0, CAST(ceil(len(w) / 8.0) AS INT)), i ->
              concat(array_to_string(w[i*8+1:i*8+8], ' '),
                CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                     WHEN (doc_id + i) % 3 = 1 THEN ''
                     ELSE ' {' END)), chr(10)) AS text2
        FROM base
      ), cleaned AS (
        SELECT doc_id,
          CAST(len(string_split(text2, chr(10))) AS BIGINT) AS n_lines,
          list_filter(string_split(text2, chr(10)), l ->
            regexp_matches(regexp_replace(l, '^[ \t\r]+|[ \t\r]+$', '', 'g'),
                           '[.!?"]$')
            AND len(list_filter(string_split(
                  regexp_replace(l, '^[ \t\r]+|[ \t\r]+$', '', 'g'), ' '),
                  x -> len(x) > 0)) >= 3
            AND NOT contains(lower(l), 'lorem ipsum')
            AND NOT contains(l, '{')
            AND NOT contains(lower(l), 'javascript')) AS kept
        FROM lined
      )
      SELECT doc_id, n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             array_to_string(kept, chr(10)) AS text_clean
      FROM cleaned WHERE len(kept) >= 1
      ORDER BY doc_id"""),

    // Vocabulary building + token-id encoding (the corpus-side half of
    // tokenizer training): top-20 tokens by (freq desc, token asc)
    // become ids 1..20, docs encode as id sequences with 0 for OOV. The
    // vocab is a bounded driver list rebroadcast as a map literal —
    // scan-side element_at per token, no join, no shuffle beyond the
    // one vocabulary aggregation.
    // Oracle: the vocabulary replayed: same (count desc, token asc) top-20 rank
    // ids, same 0-for-OOV encoding, ids space-joined in token order
    Gate("q_vocab_encode", (s, dir) =>
      operators.CorpusAudit.encodeTokenIds(
          par(s, Tables.documents(s, dir)), "doc_id", "text", vocabSize = 20)
        .orderBy(col("doc_id")), """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      ), vocab AS (
        SELECT t AS tok,
               row_number() OVER (ORDER BY count(*) DESC, t ASC) AS id
        FROM toks GROUP BY t
        QUALIFY id <= 20
      ), enc AS (
        SELECT toks.doc_id, toks.pos, coalesce(v.id, 0) AS tid
        FROM toks LEFT JOIN vocab v ON v.tok = toks.t
      )
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids_str
      FROM enc GROUP BY doc_id ORDER BY doc_id"""),

    // Distributed BPE merge training (operators/Bpe.scala): 8 iterations
    // of weighted pair-count → deterministic argmax → literal-replace
    // rewrite over the distinct-word frame. The trained merge table IS
    // the output; the oracle unrolls the identical 8 iterations as
    // chained CTEs (same fixpoint-replace application, same
    // count-desc/pair-asc tie-break).
    Gate("q_bpe_train", (s, dir) =>
      operators.Bpe.train(Tables.documents(s, dir), "text", numMerges = 8)
        .orderBy(col("step")), bpeOracle(k = 8, depth = 16)),

    // Unigram-LM tokenizer training (r17, operators/UnigramLm.scala) —
    // the SentencePiece half of the subword world beside BPE: seed
    // vocabulary from occurrence-counted substrings, integer micro
    // log-prob scores (one rounded ln per piece per round), two hard-EM
    // rounds of Viterbi segmentation → usage counts → prune-unused →
    // rescore. The Viterbi runs as a codegen'd scan-side kernel over
    // the distinct-word frame with the metadata-sized vocabulary as a
    // codegen reference; the oracle unrolls BOTH the EM rounds and the
    // per-position DP (words truncated to 8 chars bound the unroll
    // depth) including the backward tie-toward-longest-piece recovery —
    // a slip anywhere in seeding, scoring, segmentation, or pruning
    // hash-mismatches.
    Gate("q_unigram_train", (s, dir) =>
      operators.UnigramLm.train(Tables.documents(s, dir), "text")
        .orderBy(col("piece")), unigramOracle(maxPieceLen = 4, maxWordLen = 8,
      minSeed = 50, iters = 2)),

    // The unigram inference half (the q_bpe_encode sibling): every
    // distinct corpus word Viterbi-segmented under the trained final
    // scores — one codegen'd scan over the distinct-word frame, vocab
    // as a codegen reference, no join. The oracle re-runs the full
    // training unroll plus ONE more DP pass and re-assembles each
    // word's pieces left-to-right by end position.
    Gate("q_unigram_segment", (s, dir) =>
      operators.UnigramLm.segmentWords(Tables.documents(s, dir), "text")
        .orderBy(col("word")), unigramOracle(maxPieceLen = 4, maxWordLen = 8,
      minSeed = 50, iters = 2, segment = true)),

    // Deterministic weighted interleaving (operators/Mixing.scala): the
    // materialized global training order under stride scheduling —
    // source srcN gets weight N%4+1 (derived from the name so the
    // oracle replays it), per-source rank windows + the two-pass global
    // position, virtual-time ties broken by (source, id).
    // Oracle: stride scheduling replayed: per-source rank, virtual time
    // (2i-1)/(2w) as the identical IEEE division, global row_number
    Gate("q_interleave", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      operators.Mixing.interleaveByWeight(par(s, docs), "doc_id", "source",
          expr("CAST(substring(source, 4) AS INT) % 4 + 1"))
        .select(col("doc_id"), col("source"), col("global_pos"))
        .orderBy(col("global_pos"))
    }, """
      WITH d AS (
        SELECT doc_id, source,
               CAST(substr(source, 4) AS INT) % 4 + 1 AS w,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
      )
      SELECT doc_id, source,
             CAST(row_number() OVER (
               ORDER BY (2*rn - 1) / (2.0*w), source, doc_id) - 1
               AS BIGINT) AS global_pos
      FROM d ORDER BY global_pos"""),

    // The inference half: every distinct corpus word segmented under the
    // 8 trained merges — one scan-side chain of literal replaces over
    // the distinct-word frame; the oracle replays training AND
    // application in the same generated CTE chain (segment mode).
    Gate("q_bpe_encode", (s, dir) =>
      operators.Bpe.segment(Tables.documents(s, dir), "text", numMerges = 8)
        .orderBy(col("word")), bpeOracle(k = 8, depth = 16, segment = true)),

    // HTML → training-text extraction (functions/HtmlKernels.scala) —
    // the crawl pipeline's step zero, driven over a full adversarial
    // page built FROM each document's text (script with a fake </p>
    // inside a string, style with a bare '>', comments, uppercase tags,
    // an attribute containing '>', inline <B>/<a> mid-paragraph, pure-
    // link nav + footer, and every supported entity form). The correct
    // extraction is closed-form in the token list — paragraphs of 8
    // tokens, each suffixed with the decoded ' & <tag> M! end' — so the
    // oracle replays it symbolically: any slip in tag walking, entity
    // decoding, block segmentation, or the jusText-style density/word-
    // floor boilerplate rule hash-mismatches. The whole extraction is
    // one codegen'd scan-side column: at 100 TB this is a single linear
    // pass over the payload bytes, embarrassingly parallel.
    // Oracle: the synth page's closed-form extraction: paragraphs of 8 tokens,
    // each suffixed with the decoded entity tail; title/nav/footer are
    // the 3 boilerplate blocks (1 word-floor + 2 link-density drops)
    Gate("q_html_extract", (s, dir) => {
      val H = graft.functions.HtmlExpressions
      Tables.documents(s, dir)
        .select(col("doc_id"),
          H.htmlSynth(col("doc_id"), col("text")).as("html"))
        .select(col("doc_id"),
          H.htmlText(col("html")).as("text_out"),
          H.htmlStats(col("html")).as("st"))
        .select(col("doc_id"), col("text_out"),
          element_at(col("st"), 1).as("n_blocks"),
          element_at(col("st"), 2).as("n_kept"),
          element_at(col("st"), 3).as("n_drop_link"),
          element_at(col("st"), 4).as("n_drop_short"),
          element_at(col("st"), 5).as("kept_chars"))
        .orderBy(col("doc_id"))
    }, """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM tok
      ), par AS (
        SELECT doc_id, (idx - 1) // 8 AS grp,
               string_agg(word, ' ' ORDER BY idx) || ' & <tag> M! end' AS ptxt
        FROM words GROUP BY doc_id, (idx - 1) // 8
      ), agg AS (
        SELECT doc_id,
               string_agg(ptxt, chr(10) ORDER BY grp) AS text_out,
               count(*) AS npar,
               sum(length(ptxt)) AS kept_chars
        FROM par GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(a.text_out, '') AS text_out,
             CAST(coalesce(a.npar, 0) + 3 AS BIGINT) AS n_blocks,
             CAST(coalesce(a.npar, 0) AS BIGINT) AS n_kept,
             CAST(2 AS BIGINT) AS n_drop_link,
             CAST(1 AS BIGINT) AS n_drop_short,
             CAST(coalesce(a.kept_chars, 0) AS BIGINT) AS kept_chars
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // CJK-aware tokenization (r16): unsegmented scripts carry no spaces,
    // so the letter-run tokenizer made an entire Chinese/Japanese
    // sentence ONE token — BM25 idf, minhash shingles, and n-gram
    // quality all silently degraded on non-segmented languages. The
    // kernel now emits each Han/kana code point as its own token
    // (character unigrams, the standard IR baseline). The planted corpus
    // mixes Latin runs, doc-id-indexed Han + Hiragana code points, a
    // digit run, and an Ext-B surrogate-pair ideograph; the oracle
    // REPLAYS the segmentation position by position (the q_bpe_train
    // generated-CTE pattern), so a boundary slip anywhere —
    // run-not-flushed, surrogate split, wrong range — hash-mismatches.
    // Oracle: replay the CJK segmentation position by position: Latin runs
    // lowercase and flush at script boundaries, each Han/kana/Ext-B
    // code point is its own token
    Gate("q_cjk_tokens", (s, dir) => {
      def cps(from: Int, n: Int) = array((0 until n).map(i =>
        lit(new String(Character.toChars(from + i)))): _*)
      val c1 = element_at(cps(0x4E00, 16),
        (pmod(col("doc_id"), lit(16)) + 1).cast("int"))
      val c2 = element_at(cps(0x4E10, 8),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int"))
      val k = element_at(cps(0x3042, 10),
        (pmod(col("doc_id"), lit(10)) + 1).cast("int"))
      val extB = lit(new String(Character.toChars(0x20000)))
      val text = concat(lit("Alpha"), c1, c2, lit(" bravo"), k,
        lit("7 "), c1, extB)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.tokens(text)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          col("col").as("token"))
        .orderBy(col("doc_id"), col("idx"))
    }, """
      WITH d AS (
        SELECT doc_id,
               chr(CAST(19968 + doc_id % 16 AS INT)) AS c1,
               chr(CAST(19984 + doc_id % 8 AS INT)) AS c2,
               chr(CAST(12354 + doc_id % 10 AS INT)) AS k,
               chr(131072) AS eb
        FROM documents
      ), t AS (
        SELECT doc_id, 1 AS idx, 'alpha' AS token FROM d
        UNION ALL SELECT doc_id, 2, c1 FROM d
        UNION ALL SELECT doc_id, 3, c2 FROM d
        UNION ALL SELECT doc_id, 4, 'bravo' FROM d
        UNION ALL SELECT doc_id, 5, k FROM d
        UNION ALL SELECT doc_id, 6, '7' FROM d
        UNION ALL SELECT doc_id, 7, c1 FROM d
        UNION ALL SELECT doc_id, 8, eb FROM d
      )
      SELECT doc_id, CAST(idx AS BIGINT) AS idx, token FROM t
      ORDER BY doc_id, idx"""),

    // Same operator at REALISTIC tokenizer-vocabulary size — the corpus's
    // ~31 distinct tokens are first diversified deterministically (token i
    // of doc d gets suffix (d*31+i) mod 997 → ~30k distinct tokens, the
    // identical derivation in both engines), then encoded at vocabSize
    // 5000: far above the literal-map threshold, so this exercises the
    // broadcast-join path a 32k–100k BPE vocab needs (a 5k-entry map
    // LITERAL is a codegen/constant-pool hazard — PlanSpec asserts the
    // join). ids 1..5000 by (freq desc, token asc), 0 = OOV.
    // Oracle: large-vocab twin: the deterministic token diversification (suffix
    // (doc_id*31 + 0-based-pos) mod 997 — generate_subscripts is 1-based,
    // hence pos-1), then the identical rank-5000 vocabulary and encoding
    Gate("q_vocab_encode_large", (s, dir) => {
      val derived = par(s, Tables.documents(s, dir))
        .select(col("doc_id"), array_join(
          transform(split(col("text"), " "), (t, i) =>
            concat(t, lit("_"),
              ((col("doc_id") * 31 + i.cast("long")) % 997).cast("string"))),
          " ").as("text2"))
      operators.CorpusAudit.encodeTokenIds(
          derived, "doc_id", "text2", vocabSize = 5000)
        .orderBy(col("doc_id"))
    }, """
      WITH toks0 AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t0,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      ), toks AS (
        SELECT doc_id, pos,
               t0 || '_' || CAST((doc_id*31 + pos - 1) % 997 AS VARCHAR) AS t
        FROM toks0
      ), vocab AS (
        SELECT t AS tok,
               row_number() OVER (ORDER BY count(*) DESC, t ASC) AS id
        FROM toks GROUP BY t
        QUALIFY id <= 5000
      ), enc AS (
        SELECT toks.doc_id, toks.pos, coalesce(v.id, 0) AS tid
        FROM toks LEFT JOIN vocab v ON v.tok = toks.t
      )
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids_str
      FROM enc GROUP BY doc_id ORDER BY doc_id"""),

    // Out-of-vocabulary rate vs the corpus's own top-k vocabulary (k=20
    // here — the synthetic corpus has ~31 distinct tokens; CCNet-style
    // curation signal, minus the LM): TakeOrdered vocabulary, broadcast
    // probe — the corpus never self-joins. The gate runs the STAGED
    // token path (tokenize once, feed both the vocabulary count and the
    // probe join from the materialized stream) — the shape a 100 TB
    // corpus needs, where tokenization dominates the scan.
    Gate("q_oov", (s, dir) =>
      operators.CorpusAudit.oovRate(Tables.documents(s, dir), "text",
          "doc_id", vocabSize = 20, stageTokens = true)
        .select(col("doc_id"), col("n_tokens"), col("oov"), col("oov_rate"))
        .orderBy(col("doc_id")), """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
          x -> len(x) > 0)) AS t
        FROM documents
      ), vocab AS (
        SELECT t FROM (
          SELECT t, count(*) AS c FROM toks GROUP BY t
          ORDER BY c DESC, t ASC LIMIT 20)
      ), per AS (
        SELECT k.doc_id,
          CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(count(CASE WHEN v.t IS NULL THEN 1 END) AS BIGINT) AS oov
        FROM toks k LEFT JOIN vocab v USING (t)
        GROUP BY k.doc_id
      )
      SELECT doc_id, n_tokens, oov,
             round(oov / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
      FROM per ORDER BY doc_id"""),

    // Gopher-style repetition signals: total/distinct/top-frequency of
    // token 3-grams per document plus the duplicate-gram fraction — the
    // intra-doc repetition gates of quality filtering, one kernel pass.
    Gate("q_repetition", (s, dir) =>
      Tables.documents(s, dir)
        // parity guard: docs under the window size have no 3-grams in the
        // oracle's lead() formulation (same split on both sides)
        .filter(size(split(col("text"), " ")) >= 3)
        // barrier: three stat extractions + the fraction must read ONE
        // kernel evaluation, not re-inline it per consumer
        .select(col("doc_id"), graft.functions.Barrier.evalOnce(
          TextFunctions.repetitionStats(col("text"), 3)).as("__st"))
        .select(col("doc_id"),
          try_element_at(col("__st"), lit(1)).as("total_grams"),
          try_element_at(col("__st"), lit(2)).as("distinct_grams"),
          try_element_at(col("__st"), lit(3)).as("max_gram_freq"))
        .withColumn("dup_fraction",
          (col("total_grams") - col("distinct_grams")).cast("double") /
            col("total_grams").cast("double"))
        .orderBy(col("doc_id")), """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM toks
      ), grams AS (
        SELECT doc_id,
               word || ' ' ||
               lead(word, 1) OVER (PARTITION BY doc_id ORDER BY idx) || ' ' ||
               lead(word, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS g
        FROM words
      ), gfreq AS (
        SELECT doc_id, g, count(*) AS c
        FROM grams WHERE g IS NOT NULL GROUP BY doc_id, g
      )
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS total_grams,
             CAST(count(*) AS BIGINT) AS distinct_grams,
             CAST(max(c) AS BIGINT) AS max_gram_freq,
             (CAST(sum(c) AS DOUBLE) - CAST(count(*) AS DOUBLE))
               / CAST(sum(c) AS DOUBLE) AS dup_fraction
      FROM gfreq GROUP BY doc_id ORDER BY doc_id"""),

    // PII scrub at scan speed (pure codegen'd regexp_replace chain). The
    // corpus itself is clean, so both engines inject the same
    // deterministic email/IP/phone built from the doc id, then redact.
    Gate("q_scrub_pii", (s, dir) => {
      val dirty = concat(
        lit("reach user"), col("doc_id"), lit("@example.com or 10.0."),
        pmod(col("doc_id"), lit(256)), lit("."), pmod(col("doc_id"), lit(100)),
        lit(" tel 555-867-5309 "), col("text"))
      par(s, Tables.documents(s, dir))
        // barrier: n_redacted reads `clean` — unpinned, CollapseProject
        // inlines the triple-regex rewrite into both consumers and the
        // scrub runs twice per row (measured 5.8 s → 2.8 s at sf1)
        .select(col("doc_id"),
          graft.functions.Barrier.evalOnce(TextFunctions.scrubPii(dirty)).as("clean"))
        .withColumn("n_redacted",
          (size(split(col("clean"), "<PII>")) - 1).cast("long"))
        .orderBy(col("doc_id"))
    }, """
      WITH dirty AS (
        SELECT doc_id,
               'reach user' || doc_id || '@example.com or 10.0.' ||
               (doc_id % 256) || '.' || (doc_id % 100) ||
               ' tel 555-867-5309 ' || text AS d
        FROM documents
      ), cleaned AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(d,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<PII>', 'g'),
                 '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PII>', 'g'),
                 '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<PII>', 'g') AS clean
        FROM dirty
      )
      SELECT doc_id, clean,
             CAST(len(string_split(clean, '<PII>')) - 1 AS BIGINT) AS n_redacted
      FROM cleaned ORDER BY doc_id"""),

    // Full curation composition: annotate → gates → exact dedup → near
    // dedup, with per-gate drop accounting — HASH-GATED end to end. The
    // near-dup stage runs at threshold 1.0, where LSH is exact (identical
    // shingle sets ⇒ identical signatures ⇒ every band collides; verified
    // jaccard = 1.0 ⇔ set equality), so the whole report is arithmetic an
    // independent engine can reproduce: gate counts from the mirrored
    // quality algebra, exact-dedup survivors = distinct canonical texts,
    // near-dedup survivors = distinct 3-shingle sets. The sub-1.0
    // threshold behavior (probabilistic banding) stays spec-tested
    // (CurationSpec) and oracle-gated on the planted-copy slice
    // (q_dedup_minhash).
    // Oracle: the curation report replayed as SQL arithmetic: quality algebra
    // mirrored term-for-term (charStats classes are exact set differences
    // on this ASCII corpus; addition order matches the Spark expression
    // parenthesis-for-parenthesis), exact-dedup survivors = distinct
    // canonical texts, near-dedup (threshold 1.0 ⇒ set equality) =
    // distinct 3-shingle sets; repetition/lang gates pass everything
    // under this config (maxDupGramFraction = 1.0, allowedLangs = all)
    Gate("q_curation", (s, dir) =>
      Curation.report(par(s, Tables.documents(s, dir)), "text", "doc_id",
        Curation.Config(minQuality = 0.4, minTokens = 5, nearDupThreshold = 1.0))
        .orderBy(col("gate")), """
      WITH t AS (
        SELECT doc_id, text,
          list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
            x -> len(x) > 0) AS toks,
          CASE WHEN len(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
               ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok
        FROM documents
      ), c AS (
        SELECT doc_id, toks, n_tok,
          len(text) AS n_chars,
          len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_let,
          len(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig,
          len(text) - len(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS n_ws
        FROM t
      ), q AS (
        SELECT doc_id, toks, n_tok,
          (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0
                WHEN n_tok BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END * 0.3
           + CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END)
                       BETWEEN 2.5 AND 10.0 THEN 1.0 ELSE 0.3 END * 0.2
           + CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
                             ELSE CAST(n_chars - n_let - n_dig - n_ws AS DOUBLE) / n_chars END) < 0.2
                  THEN 1.0 ELSE 0.0 END * 0.2
           + CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
                             ELSE CAST(n_dig AS DOUBLE) / n_chars END) < 0.3 THEN 1.0 ELSE 0.0 END * 0.1
           + CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','this','that','be'))) AS DOUBLE) / len(toks) END)
                       BETWEEN 0.05 AND 0.7 THEN 1.0 ELSE 0.3 END * 0.2
          ) AS raw_q
        FROM c
      ), g AS (
        SELECT doc_id,
          n_tok BETWEEN 5 AND 100000 AS len_ok,
          round(raw_q, 4) >= 0.4 AS q_ok,
          array_to_string(toks, ' ') AS canon,
          CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
               ELSE array_to_string(list_sort(list_distinct(
                 list_transform(generate_series(1, len(toks) - 2),
                   i -> array_to_string(toks[i:i+2], ' ')))), chr(1)) END AS sset
        FROM q
      ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(count(CASE WHEN len_ok THEN 1 END) AS BIGINT) AS n_len,
               CAST(count(CASE WHEN len_ok AND q_ok THEN 1 END) AS BIGINT) AS n_q,
               CAST(count(DISTINCT CASE WHEN len_ok AND q_ok THEN canon END) AS BIGINT) AS n_exact,
               CAST(count(DISTINCT CASE WHEN len_ok AND q_ok THEN sset END) AS BIGINT) AS n_near
        FROM g
      )
      SELECT gate, kept, dropped FROM (
        SELECT 'exact_dedup' AS gate, n_exact AS kept, n_q - n_exact AS dropped FROM agg
        UNION ALL SELECT 'input', total, CAST(0 AS BIGINT) FROM agg
        UNION ALL SELECT 'lang_gate', n_q, CAST(0 AS BIGINT) FROM agg
        UNION ALL SELECT 'length_gate', n_len, total - n_len FROM agg
        UNION ALL SELECT 'near_dedup', n_near, n_exact - n_near FROM agg
        UNION ALL SELECT 'quality_gate', n_q, n_len - n_q FROM agg
        UNION ALL SELECT 'repetition_gate', n_q, CAST(0 AS BIGINT) FROM agg
      ) ORDER BY gate"""),

    // Declarative data-quality audit: six constraints (completeness,
    // exact uniqueness, predicate compliance, mean floor) compiled into
    // ONE Aggregate pass over documents; two checks are deliberately
    // failing so the pass/fail path is part of the gate.
    // operators/DataQuality.scala.
    // Constraint suggestion (the profile half of the DQ loop): one
    // Aggregate pass over documents emits the checks the corpus
    // currently satisfies — completeness, key-likeness, numeric bounds —
    // as review-ready rows whose thresholds the same data passes by
    // construction. operators/DataQuality.scala.
    // Oracle: Suggestions are conditional rows: uniqueness only when the column
    // is key-like on this corpus, bounds only for numerics.
    Gate("q_dq_suggest", (s, dir) =>
      graft.operators.DataQuality.suggest(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("column"), col("check")), """
      WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(doc_id) AS BIGINT) AS c_doc,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS u_doc,
               CAST(count(text) AS BIGINT) AS c_text,
               CAST(count(DISTINCT text) AS BIGINT) AS u_text,
               CAST(count(lang) AS BIGINT) AS c_lang,
               CAST(count(DISTINCT lang) AS BIGINT) AS u_lang,
               CAST(count(source) AS BIGINT) AS c_src,
               CAST(count(DISTINCT source) AS BIGINT) AS u_src,
               CAST(count(n_chars) AS BIGINT) AS c_nc,
               CAST(count(DISTINCT n_chars) AS BIGINT) AS u_nc,
               CAST(min(doc_id) AS DOUBLE) AS mn_doc, CAST(max(doc_id) AS DOUBLE) AS mx_doc,
               CAST(min(n_chars) AS DOUBLE) AS mn_nc, CAST(max(n_chars) AS DOUBLE) AS mx_nc
        FROM documents
      ), r AS (
        SELECT 'doc_id' AS "column", 'completeness' AS "check",
               CASE WHEN c_doc = n THEN CAST(1.0 AS DOUBLE) ELSE floor((c_doc * 1.0 / n) * 100.0) / 100 END AS threshold FROM m WHERE n > 0
        UNION ALL SELECT 'doc_id', 'uniqueness', CAST(1.0 AS DOUBLE) FROM m WHERE n > 0 AND u_doc = n
        UNION ALL SELECT 'doc_id', 'min_at_least', mn_doc FROM m WHERE mn_doc IS NOT NULL
        UNION ALL SELECT 'doc_id', 'max_at_most', mx_doc FROM m WHERE mx_doc IS NOT NULL
        UNION ALL SELECT 'text', 'completeness', CASE WHEN c_text = n THEN CAST(1.0 AS DOUBLE) ELSE floor((c_text * 1.0 / n) * 100.0) / 100 END FROM m WHERE n > 0
        UNION ALL SELECT 'text', 'uniqueness', CAST(1.0 AS DOUBLE) FROM m WHERE n > 0 AND u_text = n
        UNION ALL SELECT 'lang', 'completeness', CASE WHEN c_lang = n THEN CAST(1.0 AS DOUBLE) ELSE floor((c_lang * 1.0 / n) * 100.0) / 100 END FROM m WHERE n > 0
        UNION ALL SELECT 'lang', 'uniqueness', CAST(1.0 AS DOUBLE) FROM m WHERE n > 0 AND u_lang = n
        UNION ALL SELECT 'source', 'completeness', CASE WHEN c_src = n THEN CAST(1.0 AS DOUBLE) ELSE floor((c_src * 1.0 / n) * 100.0) / 100 END FROM m WHERE n > 0
        UNION ALL SELECT 'source', 'uniqueness', CAST(1.0 AS DOUBLE) FROM m WHERE n > 0 AND u_src = n
        UNION ALL SELECT 'n_chars', 'completeness', CASE WHEN c_nc = n THEN CAST(1.0 AS DOUBLE) ELSE floor((c_nc * 1.0 / n) * 100.0) / 100 END FROM m WHERE n > 0
        UNION ALL SELECT 'n_chars', 'uniqueness', CAST(1.0 AS DOUBLE) FROM m WHERE n > 0 AND u_nc = n
        UNION ALL SELECT 'n_chars', 'min_at_least', mn_nc FROM m WHERE mn_nc IS NOT NULL
        UNION ALL SELECT 'n_chars', 'max_at_most', mx_nc FROM m WHERE mx_nc IS NOT NULL
      )
      SELECT "column", "check", threshold
      FROM r ORDER BY "column", "check""""),

    // Oracle: One metrics CTE = the one-Aggregate-pass contract; each check is a
    // ratio of exact counts (or one avg), rounded 6dp, passed = value >=
    // threshold on the ROUNDED value exactly as the Spark side computes.
    Gate("q_dq_audit", (s, dir) => {
      import graft.operators.DataQuality._
      audit(Tables.documents(s, dir), Seq(
        Completeness("text", 1.0),
        Uniqueness("doc_id", 1.0),
        Uniqueness("lang", 0.5),
        Compliance("english_share", col("lang") === "en", 0.9),
        Compliance("min_len_100", col("n_chars") >= 100, 0.75),
        MeanAtLeast("n_chars", 100.0)))
        .orderBy(col("check"), col("column"))
    }, """
      WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(text) AS BIGINT) AS c_text,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS u_doc,
               CAST(count(DISTINCT lang) AS BIGINT) AS u_lang,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_cnt,
               CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS len_cnt,
               avg(n_chars) AS mean_chars
        FROM documents
      ), r AS (
        SELECT 'completeness' AS "check", 'text' AS "column",
               round(c_text * 1.0 / n, 6) AS value, CAST(1.0 AS DOUBLE) AS threshold FROM m
        UNION ALL SELECT 'uniqueness', 'doc_id', round(u_doc * 1.0 / n, 6), CAST(1.0 AS DOUBLE) FROM m
        UNION ALL SELECT 'uniqueness', 'lang', round(u_lang * 1.0 / n, 6), CAST(0.5 AS DOUBLE) FROM m
        UNION ALL SELECT 'compliance', 'english_share', round(en_cnt * 1.0 / n, 6), CAST(0.9 AS DOUBLE) FROM m
        UNION ALL SELECT 'compliance', 'min_len_100', round(len_cnt * 1.0 / n, 6), CAST(0.75 AS DOUBLE) FROM m
        UNION ALL SELECT 'mean_at_least', 'n_chars', round(mean_chars, 6), CAST(100.0 AS DOUBLE) FROM m
      )
      SELECT "check", "column", value, threshold, (value >= threshold) AS passed
      FROM r ORDER BY "check", "column""""),

    // Deterministic weighted sampling (Efraimidis–Spirakis priorities on
    // the shared md5 draw): longer documents proportionally likelier, yet
    // the sample is fixed across engines/partitionings. Plan: scan +
    // TakeOrdered(k), no shuffle. operators/Sampling.scala.
    // Oracle: Efraimidis–Spirakis priorities on the shared md5 draw; the float
    // priority is ORDER-only (never output), so a last-ulp ln() divergence
    // between engines cannot flip a hash compare.
    Gate("q_weighted_sample", (s, dir) =>
      Sampling.weightedPrioritySample(Tables.documents(s, dir),
          key = col("text"), weight = col("n_chars"), k = 50,
          tieBreak = col("doc_id"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")), """
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ln((CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) + 0.5)
                  / 4294967296.0) / CAST(n_chars AS DOUBLE) AS p
        FROM documents
        ORDER BY p DESC, doc_id ASC LIMIT 50)
      ORDER BY doc_id"""),
  )
}
