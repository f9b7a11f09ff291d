package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Crawl gates: WARC/WET parsing, link graph, robots, sitemaps and crawl
  * delay, canonical URLs, frontier ranking and URL normalization. */
private[graft] object CrawlGates {

  /** q_crawl_rank's oracle: rebuild the planted host→host edge multiset
    * arithmetically (absolute/protocol-relative/self hrefs), then unroll
    * `iters` integer PageRank rounds — [[pagerankOracle]]'s recurrence
    * over the crawl graph. */
  private def crawlRankOracle(iters: Int): String =
    crawlRankCtes(iters) + s"""
      SELECT id, r FROM r$iters ORDER BY id"""

  /** The shared WITH-prefix of q_crawl_rank and q_robots_frontier:
    * rebuild the planted host→host edge multiset and unroll `iters`
    * integer PageRank rounds ending at CTE `r<iters>` (id, r). One
    * string, two consumers — the planted graph cannot drift between
    * the rank gate and the frontier gate that orders by it. */
  private def crawlRankCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append("""
      WITH raw AS (
        SELECT doc_id % 97 AS src, (doc_id * 7 + 3) % 97 AS dst
        FROM documents
        UNION ALL
        SELECT doc_id % 97, (doc_id * 13 + 5) % 97 FROM documents
        UNION ALL
        SELECT doc_id % 97, doc_id % 97 FROM documents
      ), edges AS (
        SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM raw GROUP BY 1, 2
      ), ew AS (
        SELECT e.src, e.dst, e.w, o.ow
        FROM edges e
        JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS ow
              FROM edges GROUP BY src) o USING (src)
      ), nodes AS (
        SELECT CAST(range AS BIGINT) AS id FROM range(97)
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
    sb.toString
  }

  /** q_robots_frontier's oracle: the [[crawlRankCtes]] host ranks joined
    * onto the frontier's closed-form robots verdicts (the q_robots CASE,
    * re-keyed by HOST id instead of doc id — the parse-once-per-host
    * composition must reproduce exactly the per-row decisions). */
  private def robotsFrontierOracle(iters: Int): String =
    crawlRankCtes(iters) + s""",
      fr AS (
        SELECT doc_id, doc_id % 97 AS k, (doc_id % 97) % 5 AS k5,
               doc_id % 4 AS m
        FROM documents
      )
      SELECT f.doc_id,
             'site-' || f.k || '.example' AS host,
             CASE m WHEN 0 THEN '/blocked-' || k5 || '/page-' || doc_id
                    WHEN 1 THEN '/blocked-' || k5 || '/ok/page-' || doc_id
                    WHEN 2 THEN '/private/doc-' || doc_id
                    ELSE '/files/doc-' || doc_id || '.pdf' END AS path,
             CASE m WHEN 1 THEN true WHEN 2 THEN true
                    ELSE false END AS allowed,
             CASE m WHEN 0 THEN '/blocked-' || k5 || '/'
                    WHEN 1 THEN '/blocked-' || k5 || '/ok/'
                    WHEN 2 THEN ''
                    ELSE '/*.pdf$$' END AS rule,
             r.r AS host_rank
      FROM fr f JOIN r$iters r ON r.id = f.k
      ORDER BY host_rank DESC, f.doc_id"""

  val all: Seq[Gate] = Seq(
    // WARC container walk (sources/WarcKernels.scala) — how a web corpus
    // physically arrives: Common Crawl's .warc.gz layout (per-record gzip
    // members, CRLF header blocks, Content-Length-framed payloads, the
    // two-CRLF record separator). Each document becomes a 3-record
    // archive (request / response / metadata) whose response body is the
    // q_html_extract adversarial page, and the records explode back out
    // with their types, target URIs, and the embedded HTTP status/MIME —
    // so the gate proves gzip member decode, the strict record walk, and
    // the HTTP split against a symbolic oracle. Fail-closed parsing
    // (truncation, CRC damage, bad separators → ZERO records, never
    // partial) is spec-pinned in WarcSpec. Scale shape: gzip is not
    // splittable, so the FILE is the parallelism unit — exactly how CC
    // ships (64k files/crawl); the walk itself is one linear pass.
    // Oracle: the 3-record synth archive's listing: fixed (pos, type, status,
    // mime) lattice crossed with the id-derived target uri
    Gate("q_warc_records", (s, dir) => {
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"), explode(W.warcRecords(W.warcSynth(
          col("doc_id"), H.htmlSynth(col("doc_id"), col("text"))))).as("r"))
        .select(col("doc_id"),
          col("r.pos").cast("long").as("pos"),
          col("r.rec_type").as("rec_type"),
          col("r.uri").as("uri"),
          col("r.http_status").cast("long").as("http_status"),
          col("r.mime").as("mime"))
        .orderBy(col("doc_id"), col("pos"))
    }, """
      WITH r AS (
        SELECT * FROM (VALUES
          (0, 'request',  -1, CAST(NULL AS VARCHAR)),
          (1, 'response', 200, 'text/html; charset=utf-8'),
          (2, 'metadata', -1, CAST(NULL AS VARCHAR)))
          AS t(pos, rec_type, status, mime)
      )
      SELECT d.doc_id,
             CAST(r.pos AS BIGINT) AS pos,
             r.rec_type,
             'https://site-' || (d.doc_id % 97) || '.example/page/'
               || d.doc_id AS uri,
             CAST(r.status AS BIGINT) AS http_status,
             r.mime
      FROM documents d CROSS JOIN r
      ORDER BY d.doc_id, pos"""),

    // The complete crawl front door in ONE scan-side plan: .warc.gz
    // bytes → gzip member decode → WARC record walk → HTTP header/body
    // split → HTML boilerplate-stripped main text (Warc.pages shape).
    // The response body round-trips byte-exactly through gzip + WARC
    // framing + HTTP Content-Length into the SAME closed-form extraction
    // the q_html_extract oracle computes — a slip anywhere in the chain
    // (a lost CRLF, an off-by-one payload bound, a charset mangle)
    // hash-mismatches the text.
    // Oracle: the q_html_extract closed form again, now reached THROUGH the
    // gzip + WARC + HTTP chain, plus the response record's target uri
    Gate("q_warc_extract", (s, dir) => {
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"), W.warcPage(W.warcSynth(col("doc_id"),
          H.htmlSynth(col("doc_id"), col("text")))).as("p"))
        .select(col("doc_id"), col("p.uri").as("uri"),
          H.htmlText(col("p.body")).as("text_out"))
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
        SELECT doc_id, string_agg(ptxt, chr(10) ORDER BY grp) AS text_out
        FROM par GROUP BY doc_id
      )
      SELECT d.doc_id,
             'https://site-' || (d.doc_id % 97) || '.example/page/'
               || d.doc_id AS uri,
             coalesce(a.text_out, '') AS text_out
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // HTTP chunked transfer-encoding through the same front door: real
    // Common Crawl response records frequently arrive Transfer-Encoding:
    // chunked, and a walker that takes the post-header bytes verbatim
    // leaks chunk-size lines into the training text. The synth frames
    // the SAME adversarial page into 46-byte chunks with the three traps
    // a lazy dechunker falls into — a chunk extension (`;pin=1`),
    // UPPERCASE hex size, and a trailer header after the 0-chunk — and
    // the extraction must still equal the q_warc_extract closed form
    // byte for byte (dechunking is transparent). The malformed-ladder
    // fail-closed vector is spec-pinned in WarcSpec.
    // Oracle: chunked framing is transparent: the dechunked extraction is the
    // q_warc_extract closed form, byte for byte
    Gate("q_warc_chunked", (s, dir) => {
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"), W.warcPage(W.warcSynthChunked(col("doc_id"),
          H.htmlSynth(col("doc_id"), col("text")))).as("p"))
        .select(col("doc_id"), col("p.uri").as("uri"),
          H.htmlText(col("p.body")).as("text_out"))
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
        SELECT doc_id, string_agg(ptxt, chr(10) ORDER BY grp) AS text_out
        FROM par GROUP BY doc_id
      )
      SELECT d.doc_id,
             'https://site-' || (d.doc_id % 97) || '.example/page/'
               || d.doc_id AS uri,
             coalesce(a.text_out, '') AS text_out
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // Charset-aware body decode: a double-digit share of the real web is
    // still Latin-1/cp1252, and an unconditional UTF-8 read mojibakes it
    // SILENTLY (the bytes stay bytes; only the text is wrong — no oracle
    // but a transcoding one can catch it). The synth encodes the page
    // windows-1252 with planted 0xE9/0x93/0x94/0xEF bytes and exercises
    // both declaration paths — even ids declare charset=ISO-8859-1 in
    // the HTTP Content-Type (which must fold to cp1252, the WHATWG label
    // rule: browsers never decode the latin-1 label family as actual
    // Latin-1), odd ids carry only a <meta charset> for the HTML5
    // prescan sniff. The no-label UTF-8-validate→cp1252 fallback is
    // spec-pinned in WarcSpec.
    // Oracle: the cp1252 page's closed-form transcoding: paragraphs of 8 tokens,
    // each suffixed with the decoded ' café “q” naïve' (the curly quotes
    // are cp1252-only bytes — a UTF-8 or true-Latin-1 misread of 0x93
    // cannot produce them); the 2-word title falls to the word floor
    Gate("q_warc_charset", (s, dir) => {
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"),
          W.warcPage(W.warcSynthCharset(col("doc_id"), col("text"))).as("p"))
        .select(col("doc_id"), col("p.uri").as("uri"),
          H.htmlText(col("p.body")).as("text_out"))
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
               string_agg(word, ' ' ORDER BY idx) || ' café “q” naïve' AS ptxt
        FROM words GROUP BY doc_id, (idx - 1) // 8
      ), agg AS (
        SELECT doc_id, string_agg(ptxt, chr(10) ORDER BY grp) AS text_out
        FROM par GROUP BY doc_id
      )
      SELECT d.doc_id,
             'https://site-' || (d.doc_id % 97) || '.example/page/'
               || d.doc_id AS uri,
             coalesce(a.text_out, '') AS text_out
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // WET — the EXTRACTED-text sibling Common Crawl publishes beside
    // each WARC, and what most LLM pipelines actually consume:
    // `conversion` records carrying plain text (no HTTP envelope, no
    // HTML). The synth re-lines each doc into 8-token lines, so
    // Content-Length framing over embedded newlines must round-trip
    // EXACTLY (a CRLF-vs-LF slip or an off-by-one payload bound lands
    // on a different string); the warcinfo member must walk through
    // without contributing a row.
    // Oracle: the WET conversion payload is the doc's text re-lined into
    // 8-token LF-joined lines — exact round-trip, empty text for
    // token-less docs
    Gate("q_wet_text", (s, dir) => {
      val W = graft.sources.WarcExpressions
      par(s, Tables.documents(s, dir))
        .select(col("doc_id"), explode(W.wetTexts(
          W.warcSynthWet(col("doc_id"), col("text")))).as("p"))
        .select(col("doc_id"), col("p.uri").as("uri"),
          col("p.text").as("text_out"))
        .orderBy(col("doc_id"))
    }, """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM tok
      ), lines AS (
        SELECT doc_id, (idx - 1) // 8 AS grp,
               string_agg(word, ' ' ORDER BY idx) AS ltxt
        FROM words GROUP BY doc_id, (idx - 1) // 8
      ), agg AS (
        SELECT doc_id, string_agg(ltxt, chr(10) ORDER BY grp) AS text_out
        FROM lines GROUP BY doc_id
      )
      SELECT d.doc_id,
             'https://site-' || (d.doc_id % 97) || '.example/page/'
               || d.doc_id AS uri,
             coalesce(a.text_out, '') AS text_out
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""),

    // MULTI-PAGE archives through the Warc.pages shape: a real crawl
    // `.warc.gz` carries thousands of fetches, and a walker that takes
    // only the FIRST response per archive silently drops the rest (the
    // round-14 pages() bug — found in review, fixed to explode
    // warcPages; this gate pins the fix under oracle). Each doc becomes
    // a TWO-fetch archive (its page plus a shifted twin) and BOTH
    // responses must walk out with their own target URIs.
    // Oracle: two rows per doc — the page and its shifted twin, each under its
    // own target uri, both carrying the same closed-form extraction
    Gate("q_warc_pages", (s, dir) => {
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      // half the corpus: the gate pins the multi-record WALK, and each
      // row already costs two full gzip+WARC round-trips — the even
      // half proves the same algebra at half the by-nature-linear price
      par(s, Tables.documents(s, dir))
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"),
          concat(
            W.warcSynth(col("doc_id"),
              H.htmlSynth(col("doc_id"), col("text"))),
            W.warcSynth(col("doc_id") + 1000000L,
              H.htmlSynth(col("doc_id"), col("text")))).as("bytes"))
        .select(col("doc_id"), explode(W.warcPages(col("bytes"))).as("p"))
        .select(col("doc_id"), col("p.uri").as("uri"),
          H.htmlText(col("p.body")).as("text_out"))
        .orderBy(col("doc_id"), col("uri"))
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
        SELECT doc_id, string_agg(ptxt, chr(10) ORDER BY grp) AS text_out
        FROM par GROUP BY doc_id
      ), u AS (
        SELECT doc_id,
               'https://site-' || (doc_id % 97) || '.example/page/'
                 || doc_id AS uri
        FROM documents
        UNION ALL
        SELECT doc_id,
               'https://site-' || ((doc_id + 1000000) % 97)
                 || '.example/page/' || (doc_id + 1000000)
        FROM documents
      )
      SELECT u.doc_id, u.uri, coalesce(a.text_out, '') AS text_out
      FROM u LEFT JOIN agg a USING (doc_id)
      WHERE u.doc_id % 2 = 0
      ORDER BY doc_id, uri"""),

    // The STREAMING WARC walk as the oracle-gated path (r16): at 100 TB
    // the crawl front door is Warc.pagesStream — O(one record) heap per
    // task instead of the expression path's whole-decompressed-archive
    // materialization — so IT is the walk that must hash-match, not just
    // spec-test (the same rule that gates q_dup_clusters_dist's
    // distributed twin). The synthesized corpus lands on disk first as
    // real multi-member `.warc.gz` files (one per partition — Common
    // Crawl's own shape: members concatenate, gzip restarts per record
    // pair), then the bounded-heap walk reads them back through
    // binaryFile's path listing + the growing-prefix record iterator.
    // FULL corpus, TWO records per member pair — this restores the
    // multi-record coverage q_warc_pages halved in r15.
    // Oracle: the streaming walk replays the same closed form, full corpus,
    // keyed by uri (the stream's own output identity)
    Gate("q_warc_stream_walk", (s, dir) => {
      val W = graft.sources.WarcExpressions
      val H = graft.functions.HtmlExpressions
      val out = tempDir("graft-warcstream-q")
      // par BEFORE the per-row gzip synth AND the landing: the single
      // parquet file otherwise caps both the synth and the walk at ONE
      // task (one archive = one file = one walk partition) on a 32-core
      // box; gzip members are not splittable, so the FILE is the walk's
      // parallelism unit — exactly the many-small-archives layout a
      // real crawl ships
      par(s, Tables.documents(s, dir))
        .select(concat(
          W.warcSynth(col("doc_id"),
            H.htmlSynth(col("doc_id"), col("text"))),
          W.warcSynth(col("doc_id") + 1000000L,
            H.htmlSynth(col("doc_id"), col("text")))).as("bytes"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val f = new java.io.FileOutputStream(s"$out/part-$pid.warc.gz")
            try it.foreach(r => f.write(r.getAs[Array[Byte]](0)))
            finally f.close()
          }
        }
      graft.sources.Warc.pagesStream(s, out)
        .select(col("uri"), col("text").as("text_out"))
        .orderBy(col("uri"))
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
        SELECT doc_id, string_agg(ptxt, chr(10) ORDER BY grp) AS text_out
        FROM par GROUP BY doc_id
      ), u AS (
        SELECT doc_id,
               'https://site-' || (doc_id % 97) || '.example/page/'
                 || doc_id AS uri
        FROM documents
        UNION ALL
        SELECT doc_id,
               'https://site-' || ((doc_id + 1000000) % 97)
                 || '.example/page/' || (doc_id + 1000000)
        FROM documents
      )
      SELECT u.uri, coalesce(a.text_out, '') AS text_out
      FROM u LEFT JOIN agg a USING (doc_id)
      ORDER BY uri"""),

    // OUTLINK extraction (r16): every crawl pipeline's frontier and every
    // link-quality signal starts at "which URLs does this page link to" —
    // htmlLinks walks the <a href>s under the SAME recovery rules as the
    // text extraction (script/style subtrees are not links, comments
    // skipped, quoted '>' safe), urlResolve absolutizes each against the
    // page's own URL (RFC 3986 §5.2). The synth page's links are a
    // closed form of the token list — 3 nav links, one per 8-token
    // paragraph with >= 3 tokens (token #3 of the chunk), 2 footer
    // links — so the oracle replays every href, position by position.
    // Oracle: replay every extracted href, position by position: nav (1..3),
    // one link per >=3-token paragraph (token #3 of each 8-token chunk,
    // in chunk order), footer last — all resolved against the page URL
    Gate("q_link_graph", (s, dir) => {
      val H = graft.functions.HtmlExpressions
      val U = graft.functions.UrlExpressions
      val pageUrl = concat(lit("https://site-"), pmod(col("doc_id"), lit(97)),
        lit(".example/page/"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), pageUrl.as("page_url"),
          posexplode(H.htmlLinks(H.htmlSynth(col("doc_id"), col("text")))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          U.urlResolve(col("page_url"), col("col")).as("link"))
        .orderBy(col("doc_id"), col("idx"))
    }, """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM tok
      ), host AS (
        SELECT doc_id,
               'https://site-' || (doc_id % 97) || '.example' AS h
        FROM documents
      ), plink AS (
        SELECT w.doc_id,
               row_number() OVER (PARTITION BY w.doc_id ORDER BY idx) AS pn,
               h.h || '/' || w.word AS link
        FROM words w JOIN host h USING (doc_id)
        WHERE (idx - 1) % 8 = 2
      ), m AS (
        SELECT doc_id, count(*) AS nm FROM plink GROUP BY doc_id
      ), alllinks AS (
        SELECT doc_id, 1 AS idx, h || '/' AS link FROM host
        UNION ALL SELECT doc_id, 2, h || '/about' FROM host
        UNION ALL SELECT doc_id, 3, h || '/contact' FROM host
        UNION ALL SELECT doc_id, 3 + pn, link FROM plink
        UNION ALL
        SELECT h.doc_id, 4 + coalesce(m.nm, 0), h.h || '/tos'
        FROM host h LEFT JOIN m USING (doc_id)
        UNION ALL
        SELECT h.doc_id, 5 + coalesce(m.nm, 0), h.h || '/privacy'
        FROM host h LEFT JOIN m USING (doc_id)
      )
      SELECT doc_id, CAST(idx AS BIGINT) AS idx, link FROM alllinks
      ORDER BY doc_id, idx"""),

    // CRAWL POLITENESS (r16): robots.txt per RFC 9309 — the decision a
    // crawler makes BEFORE every fetch. The synth file plants the
    // protocol's corners: group selection (the graftbot group must
    // shadow the `*` group entirely), longest-match precedence (a
    // longer Allow beats its Disallow prefix), wildcard+anchor rules
    // (/*.pdf$), non-rule lines (Crawl-delay/Sitemap/comments) ignored
    // for matching, and the `*` fallback for an unlisted agent. Three
    // decisions per doc; the oracle replays each as a closed-form CASE.
    // Oracle: each robots decision replayed as a closed-form CASE: k = doc_id%5
    // keys the graftbot rules, doc_id%4 picks the probed path
    Gate("q_robots", (s, dir) => {
      val R = graft.sources.RobotsExpressions
      val txt = R.robotsSynth(col("doc_id"))
      val k = pmod(col("doc_id"), lit(5))
      val pathA = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("/blocked-"), k, lit("/page")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("/blocked-"), k, lit("/ok/page")))
        .when(pmod(col("doc_id"), lit(4)) === 2, lit("/private/x"))
        .otherwise(concat(lit("/doc-"), k, lit(".pdf")))
      def row(tag: String, agent: String, p: org.apache.spark.sql.Column) =
        Tables.documents(s, dir).select(col("doc_id"),
          lit(tag).as("probe"), p.as("path"),
          R.robotsEval(txt, lit(agent), p).as("d"))
      row("bot", "GraftBot/1.0", pathA)
        .unionByName(row("other_sub", "OtherBot/2.0", lit("/private/sub")))
        .unionByName(row("other_pub", "OtherBot/2.0", lit("/private/pub")))
        .select(col("doc_id"), col("probe"), col("path"),
          col("d.allowed").as("allowed"), col("d.rule").as("rule"))
        .orderBy(col("doc_id"), col("probe"))
    }, """
      WITH d AS (
        SELECT doc_id, doc_id % 5 AS k, doc_id % 4 AS m FROM documents
      ), rows_ AS (
        SELECT doc_id, 'bot' AS probe,
               CASE m WHEN 0 THEN '/blocked-' || k || '/page'
                      WHEN 1 THEN '/blocked-' || k || '/ok/page'
                      WHEN 2 THEN '/private/x'
                      ELSE '/doc-' || k || '.pdf' END AS path,
               CASE m WHEN 1 THEN true WHEN 2 THEN true
                      ELSE false END AS allowed,
               CASE m WHEN 0 THEN '/blocked-' || k || '/'
                      WHEN 1 THEN '/blocked-' || k || '/ok/'
                      WHEN 2 THEN ''
                      ELSE '/*.pdf$' END AS rule
        FROM d
        UNION ALL
        SELECT doc_id, 'other_sub', '/private/sub', false, '/private/'
        FROM d
        UNION ALL
        SELECT doc_id, 'other_pub', '/private/pub', true, '/private/pub$'
        FROM d
      )
      SELECT doc_id, probe, path, allowed, rule FROM rows_
      ORDER BY doc_id, probe"""),

    // Sitemap discovery + extraction (r16): the robots.txt `Sitemap:`
    // directive (file-wide, group-independent) chains into the urlset
    // walk — <loc> values in document order, XML entities decoded,
    // whitespace trimmed. Together with q_robots/q_link_graph this
    // closes the crawl frontier loop: allowed? → seeds → outlinks.
    // Oracle: the Sitemap directive (idx 0) plus the urlset's three locs in
    // document order, entity-decoded and trimmed
    Gate("q_sitemap", (s, dir) => {
      val R = graft.sources.RobotsExpressions
      val fromRobots = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(R.robotsSitemaps(R.robotsSynth(col("doc_id")))))
        .select(col("doc_id"), lit(0L).as("idx"), col("col").as("loc"))
      val fromSitemap = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(R.sitemapLocs(R.sitemapSynth(col("doc_id")))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          col("col").as("loc"))
      fromRobots.unionByName(fromSitemap)
        .orderBy(col("doc_id"), col("idx"))
    }, """
      WITH d AS (
        SELECT doc_id, doc_id % 5 AS k5, doc_id % 97 AS k97 FROM documents
      ), rows_ AS (
        SELECT doc_id, 0 AS idx,
               'https://site-' || k5 || '.example/sitemap.xml' AS loc FROM d
        UNION ALL
        SELECT doc_id, 1,
               'https://site-' || k97 || '.example/page/' || doc_id FROM d
        UNION ALL
        SELECT doc_id, 2,
               'https://site-' || k97 || '.example/a?x=' || doc_id || '&y=2'
        FROM d
        UNION ALL
        SELECT doc_id, 3,
               'https://site-' || k97 || '.example/z/' || doc_id FROM d
      )
      SELECT doc_id, CAST(idx AS BIGINT) AS idx, loc FROM rows_
      ORDER BY doc_id, idx"""),

    // CRAWL-DELAY surfacing (r17): the politeness scheduler needs the
    // delay NEXT TO the allow/deny verdict — parse captures each group's
    // Crawl-delay in integer millis (fractional seconds are in the
    // wild). The synth plants per-id delays in three places: `k.5` s in
    // the first graftbot block, a fixed 2 s in a SECOND rule-less
    // graftbot block (the RFC 9309 §2.2.1 group-combining must merge
    // them; effective = max, the conservative read), 1 s on the `*`
    // group, and -1 for a file with no groups at all. The reference
    // analog is the fixed 3 s pacing its runner hardcodes
    // (src/runner/locator.ts:160) — here the file's own value wins.
    // Oracle: crawl delays: first graftbot block k.5 s, second rule-less block
    // 2 s — combined groups take the max; the * group 1 s; no groups -1
    Gate("q_crawl_delay", (s, dir) => {
      val R = graft.sources.RobotsExpressions
      val txt = R.robotsSynth(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          R.robotsCrawlDelay(txt, lit("GraftBot/1.0")).as("bot_delay_ms"),
          R.robotsCrawlDelay(txt, lit("OtherBot/2.0")).as("star_delay_ms"),
          R.robotsCrawlDelay(lit("# no groups"), lit("GraftBot/1.0"))
            .as("none_delay_ms"))
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id,
             GREATEST((doc_id % 5) * 1000 + 500, 2000) AS bot_delay_ms,
             CAST(1000 AS BIGINT) AS star_delay_ms,
             CAST(-1 AS BIGINT) AS none_delay_ms
      FROM documents
      ORDER BY doc_id"""),

    // IN-PAGE directives (r17): <meta name=robots> noindex/nofollow and
    // <link rel=canonical> — canonical is the strongest crawl-dedup
    // signal after URL normalization (the page names its own canonical
    // URL; RefinedWeb/CC pipelines collapse on it before any content
    // hash). Planted corners: uppercase tag/attr case, `none` = both
    // flags, whitespace-padded rel token lists, entity-decoded hrefs,
    // relative canonicals resolved against the page URL (RFC 3986),
    // FIRST-canonical-wins on a planted duplicate, decoys inside
    // <script> and comments that must NOT count, and a no-directives
    // page (nulls). The oracle replays every branch as a CASE.
    // Oracle: in-page directives replayed branch by branch: meta variants by
    // doc_id % 4 ('none' = both flags; the description meta is not a
    // robots meta), canonical variants by doc_id % 3 (first-wins on the
    // planted duplicate, entity-decoded relative href resolved against
    // the page URL, stylesheet link is no canonical)
    Gate("q_canonical", (s, dir) => {
      val H = graft.functions.HtmlExpressions
      val U = graft.functions.UrlExpressions
      val k = pmod(col("doc_id"), lit(97))
      val pageUrl = concat(lit("https://site-"), k,
        lit(".example/page/"), col("doc_id"))
      val m4 = pmod(col("doc_id"), lit(4))
      val m3 = pmod(col("doc_id"), lit(3))
      val meta = when(m4 === 0,
          lit("<META name=\"robots\" content=\"NOINDEX, nofollow\">"))
        .when(m4 === 1, lit("<meta name=\"robots\" content=\" noindex \">"))
        .when(m4 === 2, lit("<meta name=robots content=\"none\">"))
        .otherwise(
          lit("<meta name=\"description\" content=\"noindex is not here\">"))
      val canon = when(m3 === 0, concat(
          lit("<link rel=\"canonical\" href=\"https://canon-"), k,
          lit(".example/c/"), col("doc_id"),
          // the duplicate must lose to the first one
          lit("\"><link rel=\"canonical\" href=\"/dup-ignored\">")))
        .when(m3 === 1, concat(
          lit("<LINK rel=\" CANONICAL alternate\" href=\"/canon/"),
          col("doc_id"), lit("?a=1&amp;b=2\">")))
        .otherwise(lit("<link rel=\"stylesheet\" href=\"/style.css\">"))
      val html = concat(lit("<html><head>"),
        lit("<script>var s = '<link rel=\"canonical\" href=\"/decoy\">';" +
          "var m = '<meta name=\"robots\" content=\"noindex\">';</script>"),
        lit("<!-- <meta name=\"robots\" content=\"nofollow\"> -->"),
        meta, canon,
        lit("</head><body><p>some page words here</p></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), pageUrl.as("page_url"),
          H.htmlDirectives(html).as("d"))
        .select(col("doc_id"),
          col("d.noindex").as("noindex"),
          col("d.nofollow").as("nofollow"),
          col("d.canonical").as("canonical"),
          when(col("d.canonical").isNotNull,
            U.urlResolve(col("page_url"), col("d.canonical")))
            .as("canonical_abs"))
        .orderBy(col("doc_id"))
    }, """
      WITH d AS (
        SELECT doc_id, doc_id % 97 AS k, doc_id % 4 AS m4, doc_id % 3 AS m3
        FROM documents
      )
      SELECT doc_id,
             m4 IN (0, 1, 2) AS noindex,
             m4 IN (0, 2) AS nofollow,
             CASE WHEN m3 = 0
                    THEN 'https://canon-' || k || '.example/c/' || doc_id
                  WHEN m3 = 1 THEN '/canon/' || doc_id || '?a=1&b=2'
                  ELSE NULL END AS canonical,
             CASE WHEN m3 = 0
                    THEN 'https://canon-' || k || '.example/c/' || doc_id
                  WHEN m3 = 1 THEN 'https://site-' || k ||
                    '.example/canon/' || doc_id || '?a=1&b=2'
                  ELSE NULL END AS canonical_abs
      FROM d
      ORDER BY doc_id"""),

    // CANONICAL-COLLAPSE dedup (r17): the crawl-dedup step rel=canonical
    // exists for — URLs sharing a declared canonical collapse to ONE
    // representative BEFORE any content hash runs (RefinedWeb drops a
    // double-digit CC share by URL identity alone; canonical catches
    // what spelling normalization cannot). Key = the page's canonical
    // target (absolute or resolved relative), else its own normalized
    // URL — everything then NORMALIZED so 'HTTP://Site-K...:80' spells
    // one key. Representative = min doc_id per key (partitioned window,
    // bounded by the largest dup group). The planted corpus shares
    // canonical targets across doc_id%50 groups so real clusters form;
    // the oracle replays key construction and the window.
    // Oracle: canonical-collapse keys: declared canonical (absolute, or
    // relative resolved against the page) else the page's own URL,
    // everything normalized; representative = min doc_id per key
    Gate("q_canonical_dedup", (s, dir) => {
      val H = graft.functions.HtmlExpressions
      val U = graft.functions.UrlExpressions
      val k = pmod(col("doc_id"), lit(97))
      val m3 = pmod(col("doc_id"), lit(3))
      val g = pmod(col("doc_id"), lit(50))
      // deliberately un-normalized page spelling: the key path must
      // normalize it away
      val pageUrl = concat(lit("HTTP://Site-"), k,
        lit(".Example.COM:80/page/"), col("doc_id"))
      val canonLink = when(m3 === 0, concat(
          lit("<link rel=\"canonical\" href=\"https://canon-"), g,
          lit(".example/main\">")))
        .when(m3 === 1, concat(lit("<link rel=\"canonical\" href=\"/c/"),
          g, lit("\">")))
        .otherwise(lit("<p>no canonical here</p>"))
      val html = concat(lit("<html><head>"), canonLink,
        lit("</head><body><p>some page words</p></body></html>"))
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), pageUrl.as("page_url"),
          H.htmlDirectives(html).getField("canonical").as("canonical"))
        .select(col("doc_id"),
          U.urlNormalize(coalesce(
            U.urlResolve(col("page_url"), col("canonical")),
            col("page_url"))).as("canon_key"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canon_key"))
      keyed
        .withColumn("rep_id", min(col("doc_id")).over(w))
        .withColumn("is_dup", col("doc_id") =!= col("rep_id"))
        .select(col("doc_id"), col("canon_key"), col("rep_id"), col("is_dup"))
        .orderBy(col("doc_id"))
    }, """
      WITH d AS (
        SELECT doc_id, doc_id % 97 AS k, doc_id % 3 AS m3,
               doc_id % 50 AS g
        FROM documents
      ), keyed AS (
        SELECT doc_id,
               CASE WHEN m3 = 0
                      THEN 'https://canon-' || g || '.example/main'
                    WHEN m3 = 1
                      THEN 'http://site-' || k || '.example.com/c/' || g
                    ELSE 'http://site-' || k || '.example.com/page/' ||
                      doc_id END AS canon_key
        FROM d
      )
      SELECT doc_id, canon_key,
             min(doc_id) OVER (PARTITION BY canon_key) AS rep_id,
             doc_id <> min(doc_id) OVER (PARTITION BY canon_key) AS is_dup
      FROM keyed
      ORDER BY doc_id"""),

    // QUALITY-AWARE cluster representative selection (r17): the
    // keep-one rule that FOLLOWS dedup clustering — FineWeb/RefinedWeb
    // keep the BEST member of each dup group, not an arbitrary one.
    // Clusters here are the canonical-URL identity groups
    // (q_canonical_dedup's key, doc_id%50 — every member has its OWN
    // text); quality is the classifier's EXACT integer milliweight sum
    // (QualityClassifier.scoreMilli — no float enters the ordering), so
    // the argmax fold (min over (-score, id): highest score, smallest
    // id on an exact tie) is bit-stable under any partitioning. One
    // scan-side score, one keyed aggregation — no self-join, state
    // bounded by cluster count.
    // Oracle: the keep-one rule replayed: exact milliweight per member (the
    // q_quality_classifier token/hash/weight pipeline), argmax per
    // canonical group by (milli DESC, doc_id)
    Gate("q_rep_select", (s, dir) => {
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          concat(lit("https://canon-"), pmod(col("doc_id"), lit(50)),
            lit(".example/main")).as("canon_key"))
      val scored = operators.QualityClassifier
        .scoreMilli(keyed, "text", "doc_id", dim = 4096)
      keyed.select(col("doc_id"), col("canon_key"))
        .join(scored, Seq("doc_id"))
        .groupBy(col("canon_key"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("score_milli")).as("neg"),
            col("doc_id").as("id"))).as("__m"))
        .select(col("canon_key"), col("n_members"),
          col("__m.id").as("rep_id"),
          (-col("__m.neg")).as("rep_score_milli"))
        .orderBy(col("canon_key"))
    }, """
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
               CAST(sum((b * 37 + 11) % 2001 - 1000) AS BIGINT) AS milli
        FROM feats GROUP BY doc_id
      ), keyed AS (
        SELECT doc_id,
               'https://canon-' || (doc_id % 50) || '.example/main'
                 AS canon_key,
               milli
        FROM agg
      ), rk AS (
        SELECT canon_key, doc_id, milli,
               row_number() OVER (PARTITION BY canon_key
                 ORDER BY milli DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY canon_key) AS n_members
        FROM keyed
      )
      SELECT canon_key, CAST(n_members AS BIGINT) AS n_members,
             doc_id AS rep_id, milli AS rep_score_milli
      FROM rk WHERE rn = 1
      ORDER BY canon_key"""),

    // ANCHOR-TEXT corpus (r16): the (href, anchor) pairs of every link —
    // anchor text is among the strongest relevance/label signals the web
    // gives away for free (it trains retrievers and labels link targets
    // with OTHER pages' words). Same recovery rules as htmlLinks; the
    // anchor is the element's text content up to its matching (or
    // implicit) close, entity-decoded and whitespace-normalized. The
    // synth page's pairs are a closed form: nav labels, each >=3-token
    // paragraph's linked token (its own anchor), footer labels.
    // Oracle: every (href, anchor) pair, position by position — nav labels,
    // the linked token of each >=3-token paragraph, footer labels
    Gate("q_anchor_text", (s, dir) => {
      val H = graft.functions.HtmlExpressions
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(H.htmlAnchors(H.htmlSynth(col("doc_id"), col("text")))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          col("col.href").as("href"), col("col.anchor").as("anchor"))
        .orderBy(col("doc_id"), col("idx"))
    }, """
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
      ), words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
        FROM tok
      ), plink AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS pn,
               word
        FROM words WHERE (idx - 1) % 8 = 2
      ), m AS (
        SELECT doc_id, count(*) AS nm FROM plink GROUP BY doc_id
      ), alllinks AS (
        SELECT doc_id, 1 AS idx, '/' AS href, 'home' AS anchor
        FROM documents
        UNION ALL SELECT doc_id, 2, '/about', 'about' FROM documents
        UNION ALL SELECT doc_id, 3, '/contact', 'contact' FROM documents
        UNION ALL SELECT doc_id, 3 + pn, '/' || word, word FROM plink
        UNION ALL
        SELECT d.doc_id, 4 + coalesce(m.nm, 0), '/tos', 'terms'
        FROM documents d LEFT JOIN m USING (doc_id)
        UNION ALL
        SELECT d.doc_id, 5 + coalesce(m.nm, 0), '/privacy', 'privacy'
        FROM documents d LEFT JOIN m USING (doc_id)
      )
      SELECT doc_id, CAST(idx AS BIGINT) AS idx, href, anchor
      FROM alllinks ORDER BY doc_id, idx"""),

    // Crawl-frontier source scoring (r16): host→host edges from the
    // extracted outlinks (Graph.crawlHostEdges — scan-side generate +
    // ONE keyed aggregation) feeding the existing integer fixed-point
    // PageRank. The planted pages exercise all three href forms a real
    // crawl sees (absolute, protocol-relative //host, root-relative)
    // and give every page one cross-host pair plus a self-link; the
    // oracle rebuilds the same edge multiset arithmetically and unrolls
    // four propagation rounds (the q_pagerank pattern).
    Gate("q_crawl_rank", (s, dir) => {
      val pageUrl = concat(lit("https://site-"), pmod(col("doc_id"), lit(97)),
        lit(".example/page/"), col("doc_id"))
      val html = concat(
        lit("<html><body><p><a href=\"https://site-"),
        pmod(col("doc_id") * 7 + 3, lit(97)),
        lit(".example/a\">x</a> <a href=\"//site-"),
        pmod(col("doc_id") * 13 + 5, lit(97)),
        lit(".example/b\">y</a> <a href=\"/self\">z</a></p></body></html>"))
      val pages = Tables.documents(s, dir)
        .select(pageUrl.as("url"), html.as("html"))
      val edges = operators.Graph.crawlHostEdges(pages, "url", "html")
        .select(
          regexp_extract(col("src_host"), "site-([0-9]+)", 1)
            .cast("long").as("src"),
          regexp_extract(col("dst_host"), "site-([0-9]+)", 1)
            .cast("long").as("dst"),
          col("w"))
      val nodes = s.range(97).select(col("id"))
      operators.Graph.pageRankFixedPoint(edges, nodes, iters = 4)
        .orderBy(col("id"))
    }, crawlRankOracle(4)),

    // ROBOTS FRONTIER composition (r17): the parse-once-per-host shape
    // the Robots scaladoc prescribes, as the gated path — dedupe to
    // hosts, robots_rules parses each host's file ONCE on the 97-row
    // host frame, the parsed rule arrays broadcast-join back over the
    // frontier, and robots_decide runs the per-URL match walk with no
    // parse. Composed with the crawl ordering: the same planted link
    // graph as q_crawl_rank ranks hosts (integer fixed-point PageRank)
    // and the frontier comes out (host_rank DESC, doc_id) — verdict and
    // priority in one frame, which IS a polite crawl scheduler's input.
    // FrontierSpec asserts the O(hosts) parse-count contract via the
    // RobotsKernels.parseCalls counter; the oracle replays both the
    // q_robots decision CASE (re-keyed by host id) and the unrolled
    // rank rounds.
    Gate("q_robots_frontier", (s, dir) => {
      val R = graft.sources.RobotsExpressions
      val k = pmod(col("doc_id"), lit(97))
      val k5 = pmod(k, lit(5))
      val m = pmod(col("doc_id"), lit(4))
      val path = when(m === 0,
          concat(lit("/blocked-"), k5, lit("/page-"), col("doc_id")))
        .when(m === 1,
          concat(lit("/blocked-"), k5, lit("/ok/page-"), col("doc_id")))
        .when(m === 2, concat(lit("/private/doc-"), col("doc_id")))
        .otherwise(concat(lit("/files/doc-"), col("doc_id"), lit(".pdf")))
      val frontier = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("https://site-"), k, lit(".example"), path).as("url"))
      // ONE robots.txt per HOST (not per page): text keyed by host id,
      // so rules use (host id % 5) — matching the frontier's k5
      val robots = s.range(97).select(
        concat(lit("site-"), col("id"), lit(".example")).as("host"),
        R.robotsSynth(col("id")).as("robots_txt"))
      // host importance from the same planted link graph as q_crawl_rank
      val pageUrl = concat(lit("https://site-"), k,
        lit(".example/page/"), col("doc_id"))
      val html = concat(
        lit("<html><body><p><a href=\"https://site-"),
        pmod(col("doc_id") * 7 + 3, lit(97)),
        lit(".example/a\">x</a> <a href=\"//site-"),
        pmod(col("doc_id") * 13 + 5, lit(97)),
        lit(".example/b\">y</a> <a href=\"/self\">z</a></p></body></html>"))
      val pages = Tables.documents(s, dir)
        .select(pageUrl.as("url"), html.as("html"))
      val edges = operators.Graph.crawlHostEdges(pages, "url", "html")
        .select(
          regexp_extract(col("src_host"), "site-([0-9]+)", 1)
            .cast("long").as("src"),
          regexp_extract(col("dst_host"), "site-([0-9]+)", 1)
            .cast("long").as("dst"),
          col("w"))
      val ranks = operators.Graph
        .pageRankFixedPoint(edges, s.range(97).select(col("id")), iters = 4)
        .select(concat(lit("site-"), col("id"), lit(".example")).as("host"),
          col("r").as("host_rank"))
      graft.sources.Frontier
        .politeFrontier(frontier, "url", robots, "host", "robots_txt",
          agent = "GraftBot/1.0")
        .join(broadcast(ranks), Seq("host"))
        .select(col("doc_id"), col("host"), col("path"), col("allowed"),
          col("rule"), col("host_rank"))
        .orderBy(col("host_rank").desc, col("doc_id"))
    }, robotsFrontierOracle(4)),

    // FRONTIER SCHEDULE (r17): the politeness loop closed — verdicts
    // from the parse-once-per-host composition, each host's OWN
    // Crawl-delay (graftbot: max((host%5)·1000+500, 2000) ms from the
    // combined groups), and stride scheduling: allowed URLs get a dense
    // per-host fetch index and a scheduled offset idx·delay. This is
    // the table a fetch executor consumes directly; the reference
    // hardcodes a fixed 3 s sleep between fetches
    // (src/runner/locator.ts:160) — here the file's declared delay
    // paces each host independently. Window partitions on host
    // (bounded state); the oracle replays verdicts, row_number, and
    // the delay arithmetic.
    // Oracle: allowed rows (m in 1,2), per-host dense fetch index by doc_id,
    // stride offset under the host's combined-group graftbot delay
    Gate("q_frontier_schedule", (s, dir) => {
      val R = graft.sources.RobotsExpressions
      val k = pmod(col("doc_id"), lit(97))
      val k5 = pmod(k, lit(5))
      val m = pmod(col("doc_id"), lit(4))
      val path = when(m === 0,
          concat(lit("/blocked-"), k5, lit("/page-"), col("doc_id")))
        .when(m === 1,
          concat(lit("/blocked-"), k5, lit("/ok/page-"), col("doc_id")))
        .when(m === 2, concat(lit("/private/doc-"), col("doc_id")))
        .otherwise(concat(lit("/files/doc-"), col("doc_id"), lit(".pdf")))
      val frontier = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("https://site-"), k, lit(".example"), path).as("url"))
      val robots = s.range(97).select(
        concat(lit("site-"), col("id"), lit(".example")).as("host"),
        R.robotsSynth(col("id")).as("robots_txt"))
      val delays = robots.select(col("host"),
        R.robotsCrawlDelay(col("robots_txt"), lit("GraftBot/1.0"))
          .as("delay_ms"))
      val verdicts = graft.sources.Frontier
        .politeFrontier(frontier, "url", robots, "host", "robots_txt",
          agent = "GraftBot/1.0")
        .join(broadcast(delays), Seq("host"))
      graft.sources.Frontier
        .politeSchedule(verdicts, "host", "delay_ms", Seq(col("doc_id")))
        .select(col("doc_id"), col("host"), col("fetch_idx"),
          col("delay_ms"), col("scheduled_ms"))
        .orderBy(col("host"), col("fetch_idx"))
    }, """
      WITH fr AS (
        SELECT doc_id, doc_id % 97 AS k FROM documents
        WHERE doc_id % 4 IN (1, 2)
      ), sched AS (
        SELECT doc_id, k,
               row_number() OVER (PARTITION BY k ORDER BY doc_id) - 1
                 AS fetch_idx
        FROM fr
      )
      SELECT doc_id, 'site-' || k || '.example' AS host,
             CAST(fetch_idx AS BIGINT) AS fetch_idx,
             CAST(GREATEST((k % 5) * 1000 + 500, 2000) AS BIGINT)
               AS delay_ms,
             CAST(fetch_idx * GREATEST((k % 5) * 1000 + 500, 2000)
               AS BIGINT) AS scheduled_ms
      FROM sched
      ORDER BY host, fetch_idx"""),

    // URL canonicalization (functions/UrlKernels.scala) — the key a
    // crawl pipeline dedups on (RefinedWeb drops a double-digit share of
    // CC by URL alone). RFC 3986 §6.2 syntax subset, every rule planted
    // in the synth spelling: scheme+host case, the scheme's default
    // port, %7e→~ unreserved decode beside %2f→%2F reserved uppercasing,
    // /a/../docs/./ dot-segment removal, fragment drop. The oracle emits
    // the expected canonical string directly, so any rule firing wrong —
    // or firing on the wrong component — mismatches.
    // Oracle: every normalization rule's expected output, emitted directly
    Gate("q_url_normalize", (s, dir) => {
      val U = graft.functions.UrlExpressions
      val k = pmod(col("doc_id"), lit(97))
      val raw = concat(
        when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://"))
          .otherwise(lit("HTTPS://")),
        when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("WWW.Blog-"), k, lit(".Example.CO.UK")))
          .otherwise(concat(lit("Site-"), k, lit(".Example.COM"))),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(":80"))
          .otherwise(lit(":443")),
        lit("/a/../docs/./%7epg/%2fx/"), col("doc_id"),
        lit("?q=%41b&tag=c%20d"), lit("#sec-"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), U.urlNormalize(raw).as("url_norm"))
        .select(col("doc_id"), col("url_norm"),
          U.urlHost(col("url_norm")).as("host"),
          U.registeredDomain(U.urlHost(col("url_norm"))).as("domain"))
        .orderBy(col("doc_id"))
    }, """
      WITH d AS (
        SELECT doc_id, doc_id % 97 AS k,
               CASE WHEN doc_id % 3 = 0
                 THEN 'www.blog-' || (doc_id % 97) || '.example.co.uk'
                 ELSE 'site-' || (doc_id % 97) || '.example.com' END AS host
        FROM documents
      )
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END
               || host || '/docs/~pg/%2Fx/' || doc_id
               || '?q=Ab&tag=c%20d' AS url_norm,
             host,
             CASE WHEN doc_id % 3 = 0 THEN 'example.co.uk'
                  ELSE 'example.com' END AS domain
      FROM d ORDER BY doc_id"""),

    // URL-level curation end to end: two raw spellings per page collapse
    // to one canonical key (dedup), a registered-domain blocklist
    // anti-joins away banned sites (broadcast — the blocklist is tiny,
    // the corpus is not), and a path-depth heuristic drops crawler-trap
    // shapes; survivors roll up per registrable domain. At 100 TB this
    // is the cheapest curation pass there is: normalize + distinct on
    // the key, one broadcast anti-join, zero corpus-side state.
    // Oracle: dedup-to-one-canonical-key per page, then the depth and blocklist
    // drops, rolled up per registrable domain
    Gate("q_url_filter", (s, dir) => {
      val U = graft.functions.UrlExpressions
      val k = pmod(col("doc_id"), lit(97))
      val host = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("WWW.Site-"), k, lit(".Example-"), pmod(k, lit(10)),
            lit(".CO.UK")))
        .otherwise(concat(lit("Site-"), k, lit(".Example-"), pmod(k, lit(10)),
          lit(".COM")))
      val deep = when(pmod(col("doc_id"), lit(7)) === 0,
        lit("/d1/d2/d3/d4")).otherwise(lit(""))
      val pathq = concat(deep, lit("/page/"), col("doc_id"), lit("?s=1"))
      val varA = concat(lit("http://"), host, lit(":80"), pathq, lit("#a"))
      val varB = concat(lit("HTTP://"), host, pathq)
      val normed = Tables.documents(s, dir)
        .select(explode(array(varA, varB)).as("raw"))
        .select(U.urlNormalize(col("raw")).as("url")).distinct()
      val withDom = normed.select(col("url"),
        U.registeredDomain(U.urlHost(col("url"))).as("domain"))
      // crawler-trap heuristic: '/'-count past the scheme's two
      val depth = length(col("url")) -
        length(regexp_replace(col("url"), "/", "")) - lit(2)
      val block = s.createDataFrame(Seq(
        Tuple1("example-0.com"), Tuple1("example-7.co.uk"))).toDF("domain")
      withDom.filter(depth <= lit(3))
        .join(broadcast(block), Seq("domain"), "left_anti")
        .groupBy(col("domain")).agg(count(lit(1)).as("n_urls"))
        .orderBy(col("domain"))
    }, """
      WITH u AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                 THEN 'example-' || ((doc_id % 97) % 10) || '.co.uk'
                 ELSE 'example-' || ((doc_id % 97) % 10) || '.com' END AS domain,
               (doc_id % 7 = 0) AS deep
        FROM documents
      )
      SELECT domain, CAST(count(*) AS BIGINT) AS n_urls
      FROM u
      WHERE NOT deep AND domain NOT IN ('example-0.com', 'example-7.co.uk')
      GROUP BY domain ORDER BY domain"""),
  )
}
