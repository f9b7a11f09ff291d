package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Store and lakehouse gates over [[graft.store.GraftTable]]: transactions,
  * value indexes, schema evolution, incremental views, change feed, time
  * travel, restore/vacuum and file skipping. */
private[graft] object StoreGates {

  val all: Seq[Gate] = Seq(
    // §2.A #19 — RACING interactive $transactions, oracle-gated. Two
    // shapes: (1) a DETERMINISTIC interleave — txn A stages its update,
    // then a full txn B commits underneath, and A's commit MUST raise
    // P2034 (required, counted), after which the Retry wrapper reruns
    // A's closure against the post-B snapshot (the Prisma P2034
    // retry-loop contract, prismaNamespace.ts:885-892); (2) two REAL
    // threads on a start barrier running commutative adds, each retrying
    // its commit-race losses. The final balances equal a serial
    // execution regardless of interleaving — that equality is what the
    // DuckDB oracle hashes.
    // Oracle: serial-equivalent final state of the racing transactions: seed
    // custkey, +7 (retried txn), +11 on evens (interleaved txn), +1000
    // and +10000 (the two racing threads' commutative adds)
    Gate("q_txn_race", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-txn-race"))
      val acct = new graft.store.GraftTable(s, cat, "acct", StructType(Seq(
        StructField("custkey", LongType, nullable = false),
        StructField("bal", LongType, nullable = true))),
        uniqueKeys = Seq(Seq("custkey")))
      acct.createMany(Tables.customer(s, dir)
        .filter(col("c_custkey") <= 300)
        .select(col("c_custkey").as("custkey"), col("c_custkey").as("bal")))
      var conflicts = 0
      var interleaved = false
      graft.pipeline.Retry.onConflict() {
        val a = new graft.store.Txn(cat)
        a.updateMany(acct, graft.query.RawCol(lit(true)),
          Map("bal" -> (col("bal") + 7)))
        if (!interleaved) {
          interleaved = true
          graft.store.Txn.run(cat)(b =>
            b.updateMany(acct,
              graft.query.RawCol(pmod(col("custkey"), lit(2)) === 0),
              Map("bal" -> (col("bal") + 11))))
        }
        try a.commit()
        catch { case e: graft.store.ConcurrentModificationException =>
          conflicts += 1; throw e }
      }
      require(conflicts == 1,
        s"q_txn_race: the interleaved writer must force exactly one P2034, saw $conflicts")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def racer(add: Long): Thread = {
        val th = new Thread(() => {
          try {
            barrier.await()
            graft.pipeline.Retry.onConflict(times = 10, baseMs = 20) {
              graft.store.Txn.run(cat)(t =>
                t.updateMany(acct, graft.query.RawCol(lit(true)),
                  Map("bal" -> (col("bal") + add))))
            }
          } catch { case e: Throwable => errs.add(e) }
        }, s"graft-racer-$add")
        th.start(); th
      }
      val ths = Seq(racer(1000L), racer(10000L))
      ths.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
      acct.snapshot().select(col("custkey"), col("bal")).orderBy(col("custkey"))
    }, """
      SELECT c_custkey AS custkey,
             CAST(c_custkey + 7
                  + CASE WHEN c_custkey % 2 = 0 THEN 11 ELSE 0 END
                  + 11000 AS BIGINT) AS bal
      FROM customer WHERE c_custkey <= 300
      ORDER BY custkey"""),

    // Store compaction racing a live writer: a writer thread lands
    // sequential disjoint createMany commits while a compactor thread
    // continuously bin-packs (forced rewrites via maxFiles=0); every
    // commit-race loser retries on P2034 (GraftTable.compact pins the
    // table AND the schema fingerprint into its OCC base, so a writer
    // moving the table mid-rewrite fails the COMPACTION, never the
    // writer's data). Gate = the final snapshot equals the plain union of
    // all batches — no slice lost to a stale compaction publish, none
    // duplicated by a retried one — plus a bounded file count proving
    // compaction really ran against the final state.
    // Oracle: concurrent write+compaction must preserve exactly the union of the
    // writer's batches
    Gate("q_compact_concurrent", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-compact-conc"))
      val t = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("v", LongType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("v"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
      val writer = new Thread(() => {
        // Retry budget sized for the adversarial cadence, not the happy
        // path: at sf1 a createMany stages for ~1 s while the compactor
        // publishes every ~1.5 s, so EACH attempt loses the OCC race with
        // p ≈ 0.5-0.8 — per-attempt loss is the gate's design, and the
        // writer's guarantee is probabilistic (p_fail^50 ≈ 0). The old
        // times=20 with UNCAPPED backoff slept for minutes after ~12
        // losses (the sf1 "hang"); capped-backoff retries are cheap.
        try (0 until 6).foreach { i =>
          graft.pipeline.Retry.onConflict(times = 50, baseMs = 20) {
            t.createMany(docs.filter(pmod(col("doc_id"), lit(6)) === i))
          }
        } catch { case e: Throwable => errs.add(e) }
        finally done.set(true)
      }, "graft-compact-writer")
      val compactor = new Thread(() => {
        try {
          while (!done.get()) {
            // background compaction YIELDS to writers: a lost OCC race is
            // "try again next tick", not an error — retrying inside the
            // writer's commit window would livelock both sides at larger
            // SFs where every commit spans seconds. The 500 ms tick keeps
            // the publish period comfortably above the writer's staging
            // window at every SF this gate runs at.
            try compactions.addAndGet(t.compact(maxFiles = 0))
            catch { case _: graft.store.ConcurrentModificationException => () }
            Thread.sleep(500)
          }
          // final pass over the fully-written table: no concurrent
          // writers remain, so this one is entitled to win
          compactions.addAndGet(
            graft.pipeline.Retry.onConflict(times = 10, baseMs = 20) {
              t.compact(maxFiles = 0)
            })
        } catch { case e: Throwable => errs.add(e) }
      }, "graft-compactor")
      writer.start(); compactor.start()
      writer.join(); compactor.join()
      if (!errs.isEmpty) throw errs.peek()
      require(compactions.get() >= 1,
        "q_compact_concurrent: compaction must have rewritten at least one slice")
      val files = cat.currentDirs("docs").values.flatMap(d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty).toSeq
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))).size
      require(files <= 4,
        s"q_compact_concurrent: final slice still fragmented ($files files)")
      t.snapshot().select(col("doc_id"), col("v")).orderBy(col("doc_id"))
    }, """
      SELECT doc_id, CAST(length(text) AS BIGINT) AS v
      FROM documents ORDER BY doc_id"""),

    // PERSISTENT secondary value index (store/ValueIndex.scala) —
    // Prisma's @@index as a store object, the FOURTH index family
    // (dedup sketches / ANN codes / BM25 postings / value postings) on
    // the same lifecycle machinery. The store's layout-dependent paths
    // (partition pruning, zone maps, blooms) degrade on a column the
    // table is neither partitioned nor clustered by; the index answers
    // `findMany(where: {source: ...})` from bucket-pruned posting
    // slices with ZERO source-table jobs, then hydrates via a broadcast
    // semi-join. The gate drives the full lifecycle: build on a 3/4
    // prefix → post-build inserts AND value-MOVING updates (the update's
    // preimage must leave the old value's bucket and its postimage land
    // in the new one) → refresh-to-exactness → a reopened handle's
    // single-value probe REQUIREd to read exactly one bucket partition
    // → hydrated fetch hash-gated against the plain predicate oracle.
    // Oracle: the source after the update lattice, filtered by the probed values
    // — the indexed fetch must equal the plain predicate
    Gate("q_value_index", (s, dir) => {
      val root = fixture("vidx-bysrc", dir) { root =>
        val cat = new graft.store.Catalog(root)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val src = new graft.store.GraftTable(s, cat, "docs", vidxSchema,
          uniqueKeys = Seq(Seq("doc_id")))
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
        val idx = graft.store.ValueIndex.build(src, "bysrc", "source",
          "doc_id", nBuckets = 8)
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0))
        src.updateMany(graft.query.RawCol(pmod(col("doc_id"), lit(31)) === 0),
          Map("source" -> lit("src9")))
        require(idx.refresh().nonEmpty,
          "q_value_index: the post-build window must drain")
        require(idx.refresh().isEmpty,
          "q_value_index: caught up — a second refresh drains nothing")
      }
      val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
        "docs", vidxSchema, uniqueKeys = Seq(Seq("doc_id")))
      val probe = graft.store.ValueIndex.open(src, "bysrc", "source",
        "doc_id")
      val one = probe.lookupIds(Seq("src3"))
      val bucketDirs = one.inputFiles
        .map(_.replaceAll(".*/bucket=([0-9]+)/.*", "$1")).distinct
      require(one.inputFiles.nonEmpty && bucketDirs.length == 1,
        s"q_value_index: a one-value probe must read exactly one bucket, " +
          s"got ${bucketDirs.toSeq}")
      probe.fetch(Seq("src3", "src9"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN 'src9' ELSE source END AS source,
               n_chars
        FROM documents
      )
      SELECT doc_id, source, n_chars FROM d
      WHERE source IN ('src3', 'src9') ORDER BY doc_id"""),

    // The secondary index reaching the PRISMA SURFACE without the caller
    // naming it — exactly how @@index works: findMany(where: {source:
    // {in: [...]}, n_chars: {gte: ...}}) routes its equality/IN conjunct
    // through ValueIndex.fetch (bucket-pruned postings + broadcast
    // semi-join hydration) while the FULL where tree still applies
    // afterwards (the n_chars range filters the hydrated rows; routing
    // is never a correctness dependency). The gate REQUIREs the plan
    // actually read the index's posting files — a silent fallback to
    // the scan would pass the hash and hide a dead optimizer path.
    // Oracle: the indexed findMany must equal the plain two-conjunct predicate
    Gate("q_find_many_indexed", (s, dir) => {
      val (_, idx) = vidxFullFixture(s, dir)
      val src = idx.src
      val model = new graft.query.Model(
        df = () => src.snapshot(), primaryKey = "doc_id",
        indexSources = Map("source" -> (vs => idx.fetch(vs))))
      val out = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.And(Seq(
          graft.query.Field("source",
            graft.query.StringF(in = Some(Seq("src1", "src4")))),
          graft.query.Field("n_chars",
            graft.query.CmpF(gte = Some(120L)))))),
        orderBy = Seq(graft.query.OrderBy("doc_id"))))
      require(out.inputFiles.exists(_.contains("__vidx_")),
        "q_find_many_indexed: the read must route through the index")
      out
    }, """
      SELECT doc_id, source, n_chars FROM documents
      WHERE source IN ('src1', 'src4') AND n_chars >= 120
      ORDER BY doc_id"""),

    // COMPOSITE secondary index — Prisma's @@index([a, b]) as tuple-
    // valued postings (store/ValueIndex.scala): the bucket hash covers
    // the WHOLE tuple, so a full-tuple probe reads only its buckets
    // while a leading-prefix probe CANNOT prune and must provably fall
    // back to the scan (both plan-asserted here). Lifecycle mirrors
    // q_value_index: build on a 3/4 prefix → post-build inserts and a
    // component-moving update (the tuple leaves its old bucket, lands
    // in the new) → refresh-to-exactness → Model routing: findMany with
    // routable equality/IN on BOTH columns sources from the index (the
    // probe set is the per-column cross product), the n_chars range
    // still applies from the re-applied where tree.
    // Oracle: the composite-indexed findMany must equal the plain predicate over
    // the post-update-lattice state
    Gate("q_value_index_composite", (s, dir) => {
      val root = fixture("vidx-srclang", dir) { root =>
        val cat = new graft.store.Catalog(root)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        val src = new graft.store.GraftTable(s, cat, "docs", vidxLangSchema,
          uniqueKeys = Seq(Seq("doc_id")))
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
        val idx = graft.store.ValueIndex.build(src, "srclang",
          Seq("source", "lang"), "doc_id", nBuckets = 8)
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0))
        src.updateMany(graft.query.RawCol(pmod(col("doc_id"), lit(31)) === 0),
          Map("lang" -> lit("xx")))
        require(idx.refresh().nonEmpty,
          "q_value_index_composite: the post-build window must drain")
      }
      val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
        "docs", vidxLangSchema, uniqueKeys = Seq(Seq("doc_id")))
      val probe = graft.store.ValueIndex.open(src, "srclang",
        Seq("source", "lang"), "doc_id")
      val one = probe.lookupTupleIds(Seq(Seq("src1", "en")))
      val bucketDirs = one.inputFiles
        .map(_.replaceAll(".*/bucket=([0-9]+)/.*", "$1")).distinct
      require(one.inputFiles.nonEmpty && bucketDirs.length == 1,
        s"q_value_index_composite: a one-tuple probe must read exactly " +
          s"one bucket, got ${bucketDirs.toSeq}")
      val model = new graft.query.Model(
        df = () => src.snapshot(), primaryKey = "doc_id",
        compositeIndexSources = Map(Seq("source", "lang") ->
          (ts => probe.fetchTuples(ts))))
      // a PREFIX probe (source only) routes too since r16 — buckets
      // hash the LEADING column, so `where {source}` prunes like a
      // full-tuple probe (value-checked in q_value_index_prefix)
      val prefix = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.Field("source",
          graft.query.StringF(equals = Some(Some("src1")))))))
      require(prefix.inputFiles.exists(_.contains("__vidx_")),
        "q_value_index_composite: a prefix probe must route")
      val out = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.And(Seq(
          graft.query.Field("source",
            graft.query.StringF(equals = Some(Some("src1")))),
          graft.query.Field("lang",
            graft.query.StringF(in = Some(Seq("en", "de", "xx")))),
          graft.query.Field("n_chars",
            graft.query.CmpF(gte = Some(100L)))))),
        orderBy = Seq(graft.query.OrderBy("doc_id"))))
      require(out.inputFiles.exists(_.contains("__vidx_")),
        "q_value_index_composite: the full-tuple read must route")
      out
    }, """
      WITH d AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END AS lang,
               n_chars
        FROM documents
      )
      SELECT doc_id, source, lang, n_chars FROM d
      WHERE source = 'src1' AND lang IN ('en', 'de', 'xx')
        AND n_chars >= 100
      ORDER BY doc_id"""),

    // INDEX-ONLY count: a count whose entire where tree is one routable
    // equality/IN leaf answers from the postings with ZERO source-table
    // jobs — the source thunk is never even invoked (asserted with a
    // tripwire df()), because each row's column holds exactly one value
    // so the posting count IS the row count. This is Prisma's
    // count(where: {indexed: ...}) at 100 TB: cost ∝ the probed values'
    // posting rows, not the corpus.
    // Oracle: the index-only count and the hydrated residual count, both plain
    Gate("q_count_indexed", (s, dir) => {
      val (src, idx) = vidxFullFixture(s, dir)
      var sourceTouched = false
      val model = new graft.query.Model(
        df = () => { sourceTouched = true; src.snapshot() },
        primaryKey = "doc_id",
        indexCountSources = Map("source" -> (vs => idx.countIds(vs))))
      val n = model.count(Some(graft.query.Field("source",
        graft.query.StringF(in = Some(Seq("src1", "src2"))))))
      require(!sourceTouched,
        "q_count_indexed: the index-only count must never invoke df()")
      // a residual conjunct forces the hydrated path (and df())
      val n2 = model.count(Some(graft.query.And(Seq(
        graft.query.Field("source",
          graft.query.StringF(equals = Some(Some("src1")))),
        graft.query.Field("n_chars", graft.query.CmpF(gte = Some(100L)))))))
      require(sourceTouched,
        "q_count_indexed: a residual conjunct must hydrate through df()")
      s.range(1).select(lit(n).as("n_indexed"), lit(n2).as("n_hydrated"))
    }, """
      SELECT (SELECT count(*) FROM documents
              WHERE source IN ('src1', 'src2')) AS n_indexed,
             (SELECT count(*) FROM documents
              WHERE source = 'src1' AND n_chars >= 100) AS n_hydrated"""),

    // INDEX-ONLY ids projection through the Prisma surface:
    // findMany(where: {source: {in: ...}}, select: [doc_id]) answers
    // from the postings — at 100 TB a "which rows assert X" read is a
    // membership question the index already holds, and hydrating the
    // source just to throw away every column is a corpus-priced no-op.
    // Same tripwire discipline as q_count_indexed (df() never invoked)
    // plus a plan assert that the read touched only __vidx_ files; a
    // trailing orderBy/take on the key stays inside the fast path.
    // Oracle: the index-only ids projection must equal the plain predicate
    Gate("q_find_ids_indexed", (s, dir) => {
      val (src, idx) = vidxFullFixture(s, dir)
      var sourceTouched = false
      val model = new graft.query.Model(
        df = () => { sourceTouched = true; src.snapshot() },
        primaryKey = "doc_id",
        indexIdsSources = Map("source" -> (vs => idx.idsOf(vs))))
      val out = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.Field("source",
          graft.query.StringF(in = Some(Seq("src1", "src3"))))),
        select = Seq("doc_id"),
        orderBy = Seq(graft.query.OrderBy("doc_id"))))
      require(!sourceTouched,
        "q_find_ids_indexed: the ids projection must never invoke df()")
      require(out.inputFiles.nonEmpty &&
          out.inputFiles.forall(_.contains("__vidx_")),
        "q_find_ids_indexed: the read must touch only index posting files")
      out
    }, """
      SELECT doc_id FROM documents
      WHERE source IN ('src1', 'src3')
      ORDER BY doc_id"""),

    // COMPOSITE-PREFIX routing (r16): `where {a}` against
    // `@@index([a, b])` is the single most common secondary-index usage
    // in Postgres — the btree serves it from the leading prefix, and so
    // does the value index now that buckets hash the LEADING column.
    // Full lifecycle (build on 3/4, late inserts, a source-moving
    // updateMany, refresh — the update must RELOCATE postings across
    // buckets), then two prefix reads: an ids projection answering from
    // postings alone (df() tripwire + postings-only plan assert) and a
    // hydrated findMany through the composite source with a residual
    // non-routable conjunct re-applied on top. A probe on the NON-
    // leading column must still fall back (tripwire flips).
    // Oracle: the two prefix reads over the mutated corpus (doc_id % 31 = 0
    // rows moved to source 'src9' before the refresh)
    Gate("q_value_index_prefix", (s, dir) => {
      val root = fixture("vidx-prefix", dir) { root =>
        val cat = new graft.store.Catalog(root)
        // % 17 NULL langs: a NULL NON-LEADING component must stay
        // indexed (r16 review fix) — a prefix probe on source that
        // missed these rows would hash-mismatch the oracle, which
        // selects by source alone
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            when(pmod(col("doc_id"), lit(17)) === 0, lit(null))
              .otherwise(col("lang")).as("lang"),
            col("n_chars"))
        val src = new graft.store.GraftTable(s, cat, "docs", vidxLangSchema,
          uniqueKeys = Seq(Seq("doc_id")))
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
        val idx = graft.store.ValueIndex.build(src, "srclang",
          Seq("source", "lang"), "doc_id", nBuckets = 8)
        src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0))
        src.updateMany(graft.query.RawCol(pmod(col("doc_id"), lit(31)) === 0),
          Map("source" -> lit("src9")))
        require(idx.refresh().nonEmpty,
          "q_value_index_prefix: the post-build window must drain")
      }
      val src = new graft.store.GraftTable(s, new graft.store.Catalog(root),
        "docs", vidxLangSchema, uniqueKeys = Seq(Seq("doc_id")))
      val idx = graft.store.ValueIndex.open(src, "srclang",
        Seq("source", "lang"), "doc_id")
      var sourceTouched = false
      val model = new graft.query.Model(
        df = () => { sourceTouched = true; src.snapshot() },
        primaryKey = "doc_id",
        compositeIndexSources = Map(Seq("source", "lang") ->
          (ts => idx.fetchTuples(ts))),
        indexIdsSources = Map("source" ->
          (vs => idx.idsOfTuples(vs.map(Seq(_))))))
      val ids = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.Field("source",
          graft.query.StringF(in = Some(Seq("src1", "src9"))))),
        select = Seq("doc_id"),
        orderBy = Seq(graft.query.OrderBy("doc_id"))))
      require(!sourceTouched,
        "q_value_index_prefix: the ids projection must never invoke df()")
      require(ids.inputFiles.nonEmpty &&
          ids.inputFiles.forall(_.contains("__vidx_")),
        "q_value_index_prefix: the ids read must touch only posting files")
      val hyd = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.And(Seq(
          graft.query.Field("source",
            graft.query.StringF(equals = Some(Some("src1")))),
          graft.query.Field("n_chars",
            graft.query.CmpF(gte = Some(100L)))))),
        orderBy = Seq(graft.query.OrderBy("doc_id"))))
      require(!sourceTouched,
        "q_value_index_prefix: the hydrated prefix read routes, df() stays cold")
      require(hyd.inputFiles.exists(_.contains("__vidx_")),
        "q_value_index_prefix: the hydrated prefix read must route")
      // non-leading column alone: no prefix, no route — scan fallback
      val nonLeading = model.findMany(graft.query.QueryArgs(
        where = Some(graft.query.Field("lang",
          graft.query.StringF(equals = Some(Some("en")))))))
      require(sourceTouched && !nonLeading.inputFiles.exists(_.contains("__vidx_")),
        "q_value_index_prefix: a non-leading probe must fall back to df()")
      ids.select(col("doc_id"), lit("ids").as("part"))
        .unionByName(hyd.select(col("doc_id"), lit("hyd").as("part")))
        .orderBy(col("part"), col("doc_id"))
    }, """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN 'src9' ELSE source END AS source,
               lang, n_chars
        FROM documents
      )
      SELECT doc_id, part FROM (
        SELECT doc_id, 'ids' AS part FROM d
        WHERE source IN ('src1', 'src9')
        UNION ALL
        SELECT doc_id, 'hyd' AS part FROM d
        WHERE source = 'src1' AND n_chars >= 100
      ) ORDER BY part, doc_id"""),

    // INDEX-ONLY groupBy (r16): `groupBy(source)._count` on an indexed
    // column is a postings-only aggregation — at 100 TB a per-value
    // census is a question the index already holds, and hydrating the
    // corpus to count it is a corpus-priced no-op. NULLs are the trap:
    // the postings don't index them, so the index carries the NULL
    // group's count in its meta row, maintained across refreshes — this
    // gate plants nulls BOTH at ingest (build must count them) and via
    // a post-build updateMany that MOVES values to NULL (refresh must
    // transfer posting rows into the meta count). Three reads: the
    // unrestricted census (must include the NULL group), a probed
    // groupBy (equality never selects NULL), and a residual-conjunct
    // variant that must hydrate through df() (tripwire flips).
    // Oracle: the three groupBy reads over the null-planted corpus (% 13 nulls
    // at ingest, % 31 moved to NULL before the refresh)
    Gate("q_group_indexed", (s, dir) => {
      val (src, idx) = vidxGroupFixture(s, dir)
      var sourceTouched = false
      val model = new graft.query.Model(
        df = () => { sourceTouched = true; src.snapshot() },
        primaryKey = "doc_id",
        indexGroupSources = Map("source" -> (p => idx.groupCounts(p))))
      val spec = graft.query.AggSpec(countAll = true)
      val all = model.groupBy(Seq("source"), spec)
      require(!sourceTouched,
        "q_group_indexed: the unrestricted census must never invoke df()")
      require(all.inputFiles.nonEmpty &&
          all.inputFiles.forall(_.contains("__vidx_")),
        "q_group_indexed: the census must touch only index posting files")
      val probed = model.groupBy(Seq("source"), spec,
        where = Some(graft.query.Field("source",
          graft.query.StringF(in = Some(Seq("src1", "src2"))))))
      require(!sourceTouched,
        "q_group_indexed: the probed groupBy must never invoke df()")
      // a residual conjunct (n_chars) forces the hydrated plan
      val hyd = model.groupBy(Seq("source"), spec,
        where = Some(graft.query.And(Seq(
          graft.query.Field("source",
            graft.query.StringF(in = Some(Seq("src1", "src2")))),
          graft.query.Field("n_chars",
            graft.query.CmpF(gte = Some(100L)))))))
      require(sourceTouched,
        "q_group_indexed: a residual conjunct must hydrate through df()")
      all.select(col("source"), col("_count_all"), lit("all").as("part"))
        .unionByName(probed.select(col("source"), col("_count_all"),
          lit("in").as("part")))
        .unionByName(hyd.select(col("source"), col("_count_all"),
          lit("hyd").as("part")))
        .orderBy(col("part"), col("source").asc_nulls_first)
    }, """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 OR doc_id % 31 = 0 THEN NULL
                    ELSE source END AS source,
               n_chars
        FROM documents
      )
      SELECT source, _count_all, part FROM (
        SELECT source, count(*) AS _count_all, 'all' AS part FROM d
        GROUP BY source
        UNION ALL
        SELECT source, count(*) AS _count_all, 'in' AS part FROM d
        WHERE source IN ('src1', 'src2') GROUP BY source
        UNION ALL
        SELECT source, count(*) AS _count_all, 'hyd' AS part FROM d
        WHERE source IN ('src1', 'src2') AND n_chars >= 100 GROUP BY source
      ) ORDER BY part, source NULLS FIRST"""),

    // INDEX-ONLY `IS NULL` count (r16): count(where: {source: null}) is
    // the census question the index's meta row already answers — zero
    // jobs of ANY kind when fresh (one bounded meta read), because null
    // tuples never reach the postings and their count is maintained
    // there across refreshes. Prisma's equals-null leaf routes through
    // Model.indexNullCountSources with the same tripwire discipline;
    // a residual conjunct hydrates. Shares the null-planted lifecycle
    // fixture with q_group_indexed.
    // Oracle: the meta-answered IS NULL census and its hydrated residual twin
    Gate("q_count_null_indexed", (s, dir) => {
      val (src, idx) = vidxGroupFixture(s, dir)
      var sourceTouched = false
      val model = new graft.query.Model(
        df = () => { sourceTouched = true; src.snapshot() },
        primaryKey = "doc_id",
        indexNullCountSources = Map("source" -> (() => idx.countNulls())))
      val n = model.count(Some(graft.query.Field("source",
        graft.query.StringF(equals = Some(None)))))
      require(!sourceTouched,
        "q_count_null_indexed: the IS NULL count must never invoke df()")
      val n2 = model.count(Some(graft.query.And(Seq(
        graft.query.Field("source", graft.query.StringF(equals = Some(None))),
        graft.query.Field("n_chars", graft.query.CmpF(gte = Some(100L)))))))
      require(sourceTouched,
        "q_count_null_indexed: a residual conjunct must hydrate through df()")
      s.range(1).select(lit(n).as("n_null"), lit(n2).as("n_hydrated"))
    }, """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 OR doc_id % 31 = 0 THEN NULL
                    ELSE source END AS source,
               n_chars
        FROM documents
      )
      SELECT (SELECT count(*) FROM d WHERE source IS NULL) AS n_null,
             (SELECT count(*) FROM d
              WHERE source IS NULL AND n_chars >= 100) AS n_hydrated"""),

    // Time travel through the REAL store: load customers (commit 1), then
    // mutate twice — the pinned snapshotAt(commit 1) must reproduce the
    // original load byte-for-byte, which the oracle checks against the
    // source table directly. TimeTravelSpec covers the mechanics; this
    // proves the pinned read end-to-end against DuckDB.
    // Metadata-only schema evolution: ADD COLUMN costs one manifest
    // line, never a file rewrite — old rows null-fill through the
    // explicit-schema read, new writes and updates carry the column.
    Gate("q_schema_evolve", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-evo-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      t.createMany(Tables.customer(s, dir).filter(col("c_custkey") <= 300)
        .select(col("c_custkey").as("id"), col("c_name").as("name")))
      val t2 = t.evolve(add = Seq(StructField("tier", StringType, nullable = true)))
      t2.updateMany(graft.query.RawCol(col("id") <= 100L),
        Map("tier" -> lit("gold")))
      t2.snapshot()
        .select(col("id"), col("name"), col("tier"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name,
             CASE WHEN c_custkey <= 100 THEN 'gold' END AS tier
      FROM customer WHERE c_custkey <= 300 ORDER BY id"""),

    // Incremental view maintenance: a per-status count/sum view kept
    // current by folding the change feed (signed-delta algebra, decimal
    // sums) instead of re-aggregating the table. The OUTPUT comes from
    // the delta path; the ORACLE recomputes the final state from
    // scratch — hash equality proves maintenance correctness against an
    // independent engine.
    // Oracle: IVM oracle: recompute the FINAL state from scratch — the Spark side
    // answers from the delta-maintained view, so equality is the proof.
    Gate("q_ivm", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-ivm-q"))
      val t = new graft.store.GraftTable(s, cat, "ord", StructType(Seq(
        StructField("okey", LongType, nullable = false),
        StructField("status", StringType, nullable = false),
        StructField("total", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("okey")))
      def ord(lo: Long, hi: Long) = Tables.orders(s, dir)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status"), col("o_totalprice").as("total"))
      t.createMany(ord(0, 2000))
      val state0 = graft.store.MaterializedAgg.compute(
        t.snapshot(), Seq("status"), Seq("total"))
      val pin = cat.currentCommitId()
      t.updateMany(graft.query.RawCol(col("okey") <= 500L),
        Map("status" -> lit("X")))
      t.deleteMany(graft.query.RawCol(col("okey") > 1500L))
      t.createMany(ord(2001, 2100))
      val maintained = graft.store.MaterializedAgg.applyDelta(state0,
        graft.store.ChangeFeed.changesBetween(t, pin, cat.currentCommitId()),
        Seq("status"), Seq("total"))
      maintained
        .select(col("status"), col("n"),
          col("sum_total").cast("double").as("sum_total"))
        .orderBy(col("status"))
    }, """
      WITH finals AS (
        SELECT CASE WHEN o_orderkey <= 500 THEN 'X'
                    ELSE o_orderstatus END AS status,
               o_totalprice AS total
        FROM orders
        WHERE o_orderkey <= 1500
           OR (o_orderkey >= 2001 AND o_orderkey <= 2100))
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      FROM finals GROUP BY status ORDER BY status"""),

    // Incremental JOIN view maintenance — the delta-join companion of
    // q_ivm: ord ⋈ cust stays materialized across a mutation storm that
    // hits every hard case of the signed decomposition ΔA⋈B_new +
    // A_old⋈ΔB — a join-KEY-moving update on A (preimage must leave its
    // old partner's rows), a value-only update on B (every referencing
    // joined row must re-image), deletes on both sides (including
    // partners of moved rows), and inserts on both. The oracle recomputes
    // the FINAL join from scratch in DuckDB, so any slip in the algebra
    // (double-removal, stranded preimage, missed cross term) mismatches.
    Gate("q_ivm_join", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-ivmj-q"))
      val ords = new graft.store.GraftTable(s, cat, "ord", StructType(Seq(
        StructField("okey", LongType, nullable = false),
        StructField("ckey", LongType, nullable = false),
        StructField("total", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("okey")))
      val custs = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("ckey", LongType, nullable = false),
        StructField("seg", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("ckey")))
      def ord(lo: Long, hi: Long) = Tables.orders(s, dir)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .select(col("o_orderkey").as("okey"),
          col("o_custkey").as("ckey"), col("o_totalprice").as("total"))
      def cust(lo: Long, hi: Long) = Tables.customer(s, dir)
        .filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
        .select(col("c_custkey").as("ckey"), col("c_mktsegment").as("seg"))
      ords.createMany(ord(0, 2000))
      custs.createMany(cust(0, 1200))
      val state0 = graft.store.MaterializedJoin.compute(
        ords.snapshot(), custs.snapshot(), Seq("ckey"))
      val pin = cat.currentCommitId()
      ords.updateMany(graft.query.RawCol(col("okey") <= 300L),
        Map("ckey" -> lit(7L)))                                 // key-moving update on A
      ords.deleteMany(graft.query.RawCol(col("okey") > 1800L))  // delete on A
      ords.createMany(ord(2001, 2100))                          // insert on A
      custs.updateMany(graft.query.RawCol(col("ckey") <= 100L),
        Map("seg" -> lit("MOVED")))                             // value update on B
      custs.deleteMany(graft.query.RawCol(col("ckey") > 1100L)) // delete on B
      custs.createMany(cust(1201, 1300))                        // insert on B
      val now = cat.currentCommitId()
      val maintained = graft.store.MaterializedJoin.applyDelta(state0,
        graft.store.ChangeFeed.changesBetween(ords, pin, now),
        ords.snapshotAt(pin),
        graft.store.ChangeFeed.changesBetween(custs, pin, now),
        custs.snapshot(), Seq("ckey"))
      // unique PKs on both sides ⇒ every multiplicity is exactly 1; fold
      // __m into the projection so a miscounted group fails the gate
      maintained
        .select(col("okey"), col("ckey"), col("total"), col("seg"), col("__m"))
        .orderBy(col("okey"))
    }, """
      WITH fo AS (
        SELECT o_orderkey AS okey,
               CASE WHEN o_orderkey <= 300 THEN 7 ELSE o_custkey END AS ckey,
               o_totalprice AS total
        FROM orders
        WHERE o_orderkey <= 1800 OR (o_orderkey BETWEEN 2001 AND 2100)
      ), fc AS (
        SELECT c_custkey AS ckey,
               CASE WHEN c_custkey <= 100 THEN 'MOVED' ELSE c_mktsegment END AS seg
        FROM customer
        WHERE c_custkey <= 1100 OR (c_custkey BETWEEN 1201 AND 1300)
      )
      SELECT fo.okey, fo.ckey, fo.total, fc.seg, CAST(1 AS BIGINT) AS __m
      FROM fo JOIN fc ON fo.ckey = fc.ckey ORDER BY fo.okey"""),

    // Snapshot GC (VACUUM) — the retention contract driven end-to-end
    // and PHYSICALLY verified: a mutation storm leaves superseded slice
    // versions on disk (COW never rewrites in place), vacuum(0) must
    // delete every non-current version directory and keepHistory=1 must
    // reclaim the archived manifests, after which time travel to the
    // pinned commit throws the documented error while the CURRENT
    // snapshot stays byte-intact. The on-disk walk happens inside the
    // query and folds into a gated boolean column, so a vacuum that
    // leaks directories, deletes a current one, or leaves stale history
    // readable hash-mismatches against the oracle.
    Gate("q_vacuum", (s, dir) => {
      import org.apache.spark.sql.types._
      val root = tempDir("graft-vac-q")
      val cat = new graft.store.Catalog(root)
      val t = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("v", LongType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      t.createMany(Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("v")))
      val pin = cat.currentCommitId()
      t.updateMany(graft.query.RawCol(pmod(col("doc_id"), lit(10)) === 0L),
        Map("v" -> lit(-1L)))
      t.deleteMany(graft.query.RawCol(pmod(col("doc_id"), lit(7)) === 3L))
      t.compact()

      def versionDirs(): Set[String] = {
        val tdir = java.nio.file.Paths.get(root, "docs")
        if (!java.nio.file.Files.exists(tdir)) Set.empty
        else {
          val out = scala.collection.mutable.Set[String]()
          java.nio.file.Files.list(tdir).forEach { pk =>
            if (java.nio.file.Files.isDirectory(pk))
              java.nio.file.Files.list(pk).forEach { v =>
                if (java.nio.file.Files.isDirectory(v)) out += v.toString
              }
          }
          out.toSet
        }
      }
      val current = cat.currentDirs("docs").values.toSet
      val before = versionDirs()
      cat.vacuum(retainMs = 0, keepHistory = 1)
      val after = versionDirs()
      val oldUnreadable =
        try { t.snapshotAt(pin).count(); false }
        catch { case _: graft.store.RecordNotFoundException => true }
      val gcOk = (before -- current).nonEmpty && // storm really left garbage
        after == current &&                      // …all reclaimed, none current lost
        oldUnreadable
      t.snapshot().select(col("doc_id"), col("v"), lit(gcOk).as("gc_ok"))
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 10 = 0 THEN -1
                       ELSE length(text) END AS BIGINT) AS v,
             TRUE AS gc_ok
      FROM documents
      WHERE doc_id % 7 <> 3
      ORDER BY doc_id"""),

    // Change data feed (Delta/Iceberg table_changes over the COW store):
    // insert/delete/update-image rows between a pinned commit and head.
    // The manifest diff prunes unmoved slices before any file is read;
    // what survives pairs through ONE pk full-outer join. Oracle replays
    // the three mutations against the raw parquet.
    // Oracle: CDF replay: the same three mutations expressed as set algebra over
    // the raw table. A SET matching the old value emits nothing, hence
    // the guard on the update images — IS DISTINCT FROM, not <>, because
    // ChangeFeed's compare is null-safe: a NULL acctbal DOES differ from
    // 0.0 and must emit an update pair.
    Gate("q_cdf", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-cdf-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      def cust(lo: Long, hi: Long) = Tables.customer(s, dir)
        .filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
      t.createMany(cust(0, 200))
      // (cust is inclusive on both ends; the second batch starts past 200)
      val pin = cat.currentCommitId()
      t.updateMany(graft.query.RawCol(col("id") <= 100L),
        Map("acctbal" -> lit(0.0)))
      t.deleteMany(graft.query.RawCol(col("id") > 150L))
      t.createMany(cust(201, 210))
      graft.store.ChangeFeed.changesBetween(t, pin, cat.currentCommitId())
        .select(col("id"), col("name"), col("acctbal"), col("_change_type"))
        .orderBy(col("id"), col("_change_type"))
    }, """
      WITH base AS (
        SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal
        FROM customer WHERE c_custkey <= 200)
      SELECT id, name, acctbal, _change_type FROM (
        SELECT id, name, acctbal, 'update_preimage' AS _change_type
        FROM base WHERE id <= 100 AND acctbal IS DISTINCT FROM 0.0
        UNION ALL
        SELECT id, name, 0.0, 'update_postimage'
        FROM base WHERE id <= 100 AND acctbal IS DISTINCT FROM 0.0
        UNION ALL
        SELECT id, name, acctbal, 'delete' FROM base WHERE id > 150
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, 'insert' FROM customer
        WHERE c_custkey > 200 AND c_custkey <= 210)
      ORDER BY id, _change_type"""),

    // Exactly-once CDF TAIL — the consumer side of q_cdf: a mirror table
    // is maintained purely by draining the source's change feed through
    // the durable manifest cursor (CdfTail.drainOnce + the set-based
    // Txn.applyChanges MERGE). Drains interleave with q_cdf's mutation
    // rounds; mid-gate REQUIREs pin the exactly-once contract (a replay
    // drain is a no-op, the cursor advanced atomically with the mirror
    // writes). Output = the mirror; the oracle replays the NET mutations
    // over customer — hash equality proves the tail applied every change
    // exactly once. store/CdfTail.scala, GraftTable.stagedApplyChanges.
    // Oracle: the mirror after draining all three rounds = the source's final
    // state: zeroed balances for id <= 100, ids > 150 deleted (except
    // the late 201..210 inserts)
    Gate("q_cdf_tail", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-cdftail-q"))
      def tbl(n: String) = new graft.store.GraftTable(s, cat, n, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      val src = tbl("cust")
      val mir = tbl("mirror")
      def cust(lo: Long, hi: Long) = Tables.customer(s, dir)
        .filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
      def drain(): Unit = graft.store.CdfTail.drainAll(src, "mirror") {
        (txn, ch, _, _) => txn.applyChanges(mir, ch); ()
      }
      src.createMany(cust(0, 200))
      drain() // round 1: the initial load arrives as inserts
      src.updateMany(graft.query.RawCol(col("id") <= 100L),
        Map("acctbal" -> lit(0.0)))
      src.deleteMany(graft.query.RawCol(col("id") > 150L))
      drain() // round 2: update pre/postimages + deletes
      src.createMany(cust(201, 210))
      drain() // round 3: late inserts
      require(graft.store.CdfTail
          .drainOnce(src, "mirror")((_, _, _, _) => ()).isEmpty,
        "q_cdf_tail: a caught-up tail must drain nothing (exactly-once)")
      mir.snapshot()
        .select(col("id"), col("name"), col("acctbal"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name,
             CASE WHEN c_custkey <= 100 THEN CAST(0.0 AS DOUBLE)
                  ELSE c_acctbal END AS acctbal
      FROM customer
      WHERE c_custkey <= 150 OR (c_custkey > 200 AND c_custkey <= 210)
      ORDER BY id"""),

    // Oracle: the pinned commit predates both mutations → the original load
    Gate("q_time_travel", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-tt-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      t.createMany(Tables.customer(s, dir).filter(col("c_custkey") <= 200)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal")))
      val pin = cat.currentCommitId()
      t.updateMany(graft.query.RawCol(col("id") <= 100L),
        Map("acctbal" -> lit(0.0)))
      t.deleteMany(graft.query.RawCol(col("id") > 150L))
      t.snapshotAt(pin)
        .select(col("id"), col("name"), col("acctbal"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal
      FROM customer WHERE c_custkey <= 200 ORDER BY id"""),

    // RESTORE TO COMMIT — q_time_travel's write-side twin (Delta RESTORE
    // semantics): after a bad update+delete, one manifest swap rolls the
    // CURRENT pointers back to the good commit; no data is rewritten, the
    // bad commits stay time-travelable (REQUIREd mid-gate), and the
    // restore is an ordinary OCC commit. The oracle is the original load
    // — hash equality proves the rollback is exact. GraftTable.restoreTo.
    // Oracle: the restore rolled back to the original load exactly
    Gate("q_restore", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-restore-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      t.createMany(Tables.customer(s, dir)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal")))
      val good = cat.currentCommitId()
      t.updateMany(graft.query.RawCol(col("id") <= 100L),
        Map("acctbal" -> lit(0.0)))
      t.deleteMany(graft.query.RawCol(col("id") > 1000L))
      val bad = cat.currentCommitId()
      t.restoreTo(good)
      require(cat.currentCommitId() == bad + 1,
        "q_restore: restore must be a NEW commit, not a history rewrite")
      require(t.snapshotAt(bad)
          .filter(col("id") <= 100L && col("acctbal") =!= 0.0).count() == 0,
        "q_restore: the bad commit must stay time-travelable across restore")
      t.snapshot()
        .select(col("id"), col("name"), col("acctbal"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal
      FROM customer ORDER BY id"""),

    // RESTORE × change-feed composition (Delta's table_changes across
    // RESTORE): a tail whose cursor predates a restoreTo must observe the
    // rollback as INVERSE deltas exactly once — re-inserts of the
    // bad-deleted rows, postimages reverting the bad updates — and a
    // caught-up tail must then drain nothing. The mirror is maintained
    // ONLY through the tail; hash-equality of the mirror against the
    // original load proves the inverse deltas were complete and exact.
    // ChangeFeed diffs manifest snapshots, so the restore commit needs no
    // special-casing — the pk-diff of (bad state → restored state) IS the
    // inverse feed. GraftTable.restoreTo + store/CdfTail.drainOnce.
    // Oracle: the tail-maintained mirror, after draining the rollback's inverse
    // deltas, equals the original load — the mid-gate REQUIREs pin the
    // delta SHAPE (20 re-inserts, paired update images, zero deletes)
    Gate("q_restore_cdf", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-restorecdf-q"))
      def tbl(n: String) = new graft.store.GraftTable(s, cat, n, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      val src = tbl("cust")
      val mir = tbl("mirror")
      def drain(): Unit = graft.store.CdfTail.drainAll(src, "mirror") {
        (txn, ch, _, _) => txn.applyChanges(mir, ch); ()
      }
      // id range 1..140 exists at every SF (sf0.001 customer has 150)
      src.createMany(Tables.customer(s, dir).filter(col("c_custkey") <= 140)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal")))
      drain()
      val good = cat.currentCommitId()
      src.updateMany(graft.query.RawCol(col("id") <= 100L),
        Map("acctbal" -> lit(0.0)))
      src.deleteMany(graft.query.RawCol(col("id") > 120L))
      drain() // the bad commits reach the mirror BEFORE the rollback
      src.restoreTo(good)
      var types = Map.empty[String, Long]
      val w = graft.store.CdfTail.drainOnce(src, "mirror") { (txn, ch, _, _) =>
        types = ch.groupBy(col("_change_type")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        txn.applyChanges(mir, ch); ()
      }
      require(w.nonEmpty, "q_restore_cdf: the restore window must drain")
      require(types.getOrElse("insert", 0L) == 20L,
        s"q_restore_cdf: the 20 bad-deleted rows must return as inserts, got $types")
      require(types.getOrElse("delete", 0L) == 0L,
        s"q_restore_cdf: a pure rollback re-adds, it never deletes, got $types")
      require(types.getOrElse("update_postimage", 0L) ==
          types.getOrElse("update_preimage", 0L) &&
          types.getOrElse("update_postimage", 0L) >= 1L,
        s"q_restore_cdf: reverted balances must arrive as paired images, got $types")
      require(graft.store.CdfTail
          .drainOnce(src, "mirror")((_, _, _, _) => ()).isEmpty,
        "q_restore_cdf: a tail caught up past the restore must drain nothing")
      mir.snapshot()
        .select(col("id"), col("name"), col("acctbal"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal
      FROM customer WHERE c_custkey <= 140 ORDER BY id"""),

    // RESTORE × PERSISTENT INDEX: the composition q_restore_cdf proves
    // for a plain mirror, driven through a real index consumer. The
    // corpus is corrupted (bogus inserts + a delete stripe + text
    // rewrites), the DedupIndex absorbs the bad window, then restoreTo
    // rolls the source back and ONE refresh must absorb the rollback as
    // inverse deltas — delta-priced un-indexing, never a rebuild. The
    // mid-gate REQUIREs pin the refreshed sketch table row-for-row equal
    // to a fresh build on the restored snapshot; the output is the
    // planted-copy probe, so the hash gate rides sketches that lived
    // through corrupt→restore→refresh. GraftTable.restoreTo +
    // store/DedupIndex + store/CdfTail.
    // Oracle: corrupt → restore → refresh lands the index exactly where a fresh
    // build on the original corpus would: the probe sees planted copies
    Gate("q_restore_index", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-restoreidx-q"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val src = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      src.createMany(docs)
      val idx = graft.store.DedupIndex.build(src, "d1", "text", "doc_id",
        nBuckets = 4)
      val good = cat.currentCommitId()
      src.createMany(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text")))
      src.deleteMany(graft.query.RawCol(
        pmod(col("doc_id"), lit(7)) === 2 && col("doc_id") < 20000L))
      src.updateMany(graft.query.RawCol(
        pmod(col("doc_id"), lit(9)) === 4 && col("doc_id") < 20000L),
        Map("text" -> lit("corrupted text payload")))
      require(idx.refresh().nonEmpty,
        "q_restore_index: the bad window must drain")
      src.restoreTo(good)
      require(idx.refresh().nonEmpty,
        "q_restore_index: the restore window must drain")
      require(idx.refresh().isEmpty,
        "q_restore_index: caught up after the rollback")
      // the rolled-back index equals a fresh build on the restored
      // snapshot, row for row (gate-side audit scan, not query cost):
      // equal cardinalities + one empty multiset difference imply the
      // other direction is empty too — no need to pay the join twice
      val persisted = idx.sketch.snapshot().select(
        col("id"), col("sh"), col("sig"))
      val fresh = graft.operators.Dedup.minhashIndex(
        src.snapshot(), "text", "doc_id")
      require(persisted.count() == fresh.count() &&
          persisted.exceptAll(fresh).limit(1).count() == 0,
        "q_restore_index: refreshed index must equal a fresh build " +
          "on the restored snapshot")
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      graft.store.DedupIndex.open(src, "d1", "text", "doc_id")
        .dupsAgainst(batch)
        .filter(col("dup_of") === col("new_id") - 10000L)
        .select(col("new_id"), col("dup_of"), col("jaccard"))
        .orderBy(col("new_id"))
    }, """
      SELECT doc_id + 10000 AS new_id, doc_id AS dup_of,
             CAST(1.0 AS DOUBLE) AS jaccard
      FROM documents WHERE doc_id % 4 = 0 ORDER BY new_id"""),

    // CURSOR-AWARE VACUUM driven end-to-end: the corpus moves on
    // (inserts + a delete stripe + text updates) while the index
    // SLEEPS, then the most aggressive retention (retainMs=0,
    // keepHistory=1) runs — without the cdf-watermark pinning this
    // reclaims exactly the cursor's history manifest and the preimage
    // slice versions the pending refresh is about to diff against. The
    // refresh must then drain the backlog to exactness (REQUIREd equal
    // to a fresh re-sketch), a post-catch-up vacuum reclaims what
    // nothing references, and the probe hash-gates sketches that lived
    // through lag → vacuum → refresh. Catalog.vacuum + store/DedupIndex.
    // Oracle: lag → vacuum → refresh: the final corpus = originals minus the
    // %9 delete stripe (updates keep identity; the probe copies the
    // CURRENT text) plus the round-one +10000 copies — every surviving
    // %4 id self-pairs at exactly 1.0
    Gate("q_vacuum_index", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-vacidx-q"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val src = new graft.store.GraftTable(s, cat, "docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("doc_id")))
      src.createMany(docs)
      val idx = graft.store.DedupIndex.build(src, "d1", "text", "doc_id",
        nBuckets = 4)
      src.createMany(docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      src.deleteMany(graft.query.RawCol(
        pmod(col("doc_id"), lit(9)) === 2 && col("doc_id") < 10000L))
      src.updateMany(graft.query.RawCol(
        pmod(col("doc_id"), lit(13)) === 6 && col("doc_id") < 10000L),
        Map("text" -> concat(col("text"), lit(" tail"))))
      cat.vacuum(retainMs = 0, keepHistory = 1) // the cursor still lags
      require(idx.refresh().nonEmpty,
        "q_vacuum_index: the lagging window must survive the vacuum")
      require(idx.refresh().isEmpty,
        "q_vacuum_index: caught up — a second refresh drains nothing")
      val persisted = idx.sketch.snapshot().select(
        col("id"), col("sh"), col("sig"))
      val fresh = graft.operators.Dedup.minhashIndex(
        src.snapshot(), "text", "doc_id")
      require(persisted.count() == fresh.count() &&
          persisted.exceptAll(fresh).limit(1).count() == 0,
        "q_vacuum_index: post-vacuum refresh must land exactly")
      // caught up: the cursor pins only head, retention reclaims freely
      cat.vacuum(retainMs = 0, keepHistory = 1)
      require(idx.refresh().isEmpty,
        "q_vacuum_index: a caught-up cursor survives the second vacuum")
      // probe copies of the CURRENT snapshot: every surviving %4 doc
      // (originals and round-one copies alike) pairs with itself at 1.0
      val batch = src.snapshot().filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
      graft.store.DedupIndex.open(src, "d1", "text", "doc_id")
        .dupsAgainst(batch)
        .filter(col("dup_of") === col("new_id") - 20000L)
        .select(col("new_id"), col("dup_of"), col("jaccard"))
        .orderBy(col("new_id"))
    }, """
      SELECT new_id, dup_of, CAST(1.0 AS DOUBLE) AS jaccard FROM (
        SELECT doc_id + 20000 AS new_id, doc_id AS dup_of
        FROM documents WHERE doc_id % 4 = 0 AND doc_id % 9 <> 2
        UNION ALL
        SELECT doc_id + 30000 AS new_id, doc_id + 10000 AS dup_of
        FROM documents WHERE doc_id % 4 = 0
      ) ORDER BY new_id"""),

    // Z-order clustering end-to-end: orders loaded into the store, slice
    // rewritten Morton-ordered on (o_custkey, o_totalprice), then a
    // snapshotWhere range on BOTH clustered columns reads only the files
    // whose bands overlap (ZorderSpec asserts the skip ratio; this proves
    // the surviving rows against DuckDB).
    Gate("q_zorder_skip", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-z-q"))
      val t = new graft.store.GraftTable(s, cat, "ord", StructType(Seq(
        StructField("okey", LongType, nullable = false),
        StructField("cust", LongType, nullable = false),
        StructField("total", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("okey")))
      t.createMany(Tables.orders(s, dir).select(
        col("o_orderkey").as("okey"), col("o_custkey").as("cust"),
        col("o_totalprice").as("total")))
      t.compact(targetBytes = 64L << 10, zorderBy = Seq("cust", "total"))
      t.snapshotWhere(col("cust") < 100L && col("total") > 200000.0)
        .select(col("okey"), col("cust"), col("total"))
        .orderBy(col("okey"))
    }, """
      SELECT o_orderkey AS okey, o_custkey AS cust, o_totalprice AS total
      FROM orders
      WHERE o_custkey < 100 AND o_totalprice > 200000.0
      ORDER BY okey"""),

    // Bucketed co-located join: both sides written bucketBy(8) on the
    // join key, then sort-merge-joined WITHOUT any shuffle — the scan
    // itself provides the hash distribution, which at 100 TB is the
    // difference between a layout decision made once at write time and
    // re-shuffling the fact table on every join. Broadcast is hinted
    // off (a broadcast would hide the property being gated); the query
    // REQUIREs the join sub-plan contains zero exchanges before
    // aggregating. Oracle = the same join over the raw parquet.
    Gate("q_bucket_join", (s, dir) => {
      val base = tempDir("graft-bkt-q")
      s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      s.sql("DROP TABLE IF EXISTS graft_bkt_cust")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").option("path", s"$base/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_bkt_orders")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").option("path", s"$base/cust")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_bkt_cust")
      val joined = s.table("graft_bkt_orders")
        .hint("merge")
        .join(s.table("graft_bkt_cust"),
          col("o_custkey") === col("c_custkey"))
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(joined.queryExecution.executedPlan.toString).size
      require(exchanges == 0,
        s"q_bucket_join: bucketed join planned $exchanges shuffles, expected 0")
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("rev"))
        .orderBy(col("c_mktsegment"))
    }, """
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // Stats-based data skipping through the REAL store: customers loaded
    // into a mktsegment-partitioned COW table (one stats sidecar per
    // slice), then snapshotWhere prunes slices by the c_custkey range
    // before reading — StatsSkipSpec asserts the skip; this query proves
    // the surviving rows are exactly right.
    Gate("q_stats_skip", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-stats-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("segment", StringType, nullable = false),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")), partitionCols = Seq("segment"))
      t.createMany(Tables.customer(s, dir).select(
        col("c_custkey").as("id"), col("c_mktsegment").as("segment"),
        col("c_acctbal").as("acctbal")))
      t.snapshotWhere(col("id") <= 120L && col("acctbal") > 0.0)
        .select(col("id"), col("segment"), col("acctbal"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_mktsegment AS segment, c_acctbal AS acctbal
      FROM customer
      WHERE c_custkey <= 120 AND c_acctbal > 0.0
      ORDER BY id"""),

    // Planning-time skipping with NO explicit pruning call: the snapshot
    // is a HadoopFsRelation over GraftFileIndex, so the plain .filter
    // here is pushed down by Catalyst, prunes slices/files at the index,
    // and reaches the vectorized parquet scan as PushedFilters — the
    // Delta/Iceberg integration shape. Same data and predicate as
    // q_stats_skip, different routing. store/GraftFileIndex.scala.
    Gate("q_pushdown_skip", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-pushdown-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("segment", StringType, nullable = false),
        StructField("acctbal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")), partitionCols = Seq("segment"))
      t.createMany(Tables.customer(s, dir).select(
        col("c_custkey").as("id"), col("c_mktsegment").as("segment"),
        col("c_acctbal").as("acctbal")))
      t.snapshotRelation()
        .filter(col("id") <= 120L && col("acctbal") > 0.0)
        .select(col("id"), col("segment"), col("acctbal"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_mktsegment AS segment, c_acctbal AS acctbal
      FROM customer
      WHERE c_custkey <= 120 AND c_acctbal > 0.0
      ORDER BY id"""),

    // Per-file BLOOM skipping — the point-lookup complement of
    // q_pushdown_skip/q_stats_skip: customers land in 8 files round-robin
    // by key, so every file's phone range spans the whole domain and
    // min/max can prove nothing; the parquet-native blooms the write
    // built (lifted into the sidecar) reject the files that provably
    // lack the probed phone at PLANNING time. The gate REQUIREs files
    // were actually skipped, then returns the looked-up row — at 100 TB
    // this is "open the one file that can match", not "scan every file
    // whose range overlaps" (i.e. all of them). store/SliceStats.scala.
    // Oracle: the file-skip REQUIRE runs Spark-side; the result is simply every
    // customer sharing customer 42's name (their unique name in
    // practice — the oracle does not assume it)
    Gate("q_bloom_skip", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-bloomskip-q"))
      // ndv must be SIZED TO THE DATA: a bloom built for 4096 distinct
      // values saturates at 10× that load (every bit set → FPP ≈ 1 →
      // zero pruning — observed at the sf1 probe, 37k names/file into a
      // 4096-ndv bitset). Sizing from the corpus is exactly the capacity
      // planning a production bloomCols declaration encodes.
      val bloomNdv = math.max(4096L, Tables.customer(s, dir).count() / 4L)
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("acctbal", DoubleType, nullable = true))),
        bloomCols = Seq("name"), bloomNdv = bloomNdv)
      t.createMany(Tables.customer(s, dir).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
        .repartition(8, pmod(col("c_custkey"), lit(8))))
      // bounded 1-row probe: the gate keys on customer 42's name so the
      // literal tracks the scale factor instead of being hardcoded
      val probe = t.snapshot().filter(col("id") === 42L)
        .select(col("name")).collect()(0).getString(0)
      val (df, idx) = t.snapshotRelationWithIndex()
      val out = df.filter(col("name") === probe)
        .select(col("id"), col("name"), col("acctbal"))
        .orderBy(col("id"))
      out.count() // plan + list once so the skip counters are real
      require(idx.lastTotalFiles >= 2 && idx.lastKeptFiles < idx.lastTotalFiles,
        s"q_bloom_skip: bloom must prune files " +
          s"(kept ${idx.lastKeptFiles} of ${idx.lastTotalFiles})")
      out
    }, """
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal
      FROM customer
      WHERE c_name = (SELECT c_name FROM customer WHERE c_custkey = 42)
      ORDER BY id"""),
  )
}
