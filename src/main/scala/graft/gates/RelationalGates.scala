package graft
package gates

import graft.operators.{AsOf, RangeJoin}
import graft.query._
import org.apache.spark.sql.functions._

import Fixtures._

/** The Prisma relational surface (SURVEY §2.A/§2.B) re-expressed through
  * [[graft.query.Model]], the SQL analytics and raw-SQL gates built on it,
  * and the temporal, skew and range joins. */
private[graft] object RelationalGates {

  val all: Seq[Gate] = Seq(
    // §3.1 — the reference's one ad-hoc analytics query (runQueries.ts:45-49):
    // count of rows in the "pending" status slice.
    Gate("q_count_filter", (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "P")
        .agg(count(lit(1)).as("n")),
      "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'P'"),

    // §2.A #16/#17 generalized: groupBy + exact decimal aggregates (Q1 shape).
    Gate("q1_agg", (s, dir) => pricingSummary(s, dir), """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    // §2.A #1 findUnique — point lookup by unique key, via the Model DSL.
    Gate("q_find_unique", (s, dir) =>
      TpchModels.customer(s, dir).findUnique("c_custkey", 42L),
      "SELECT * FROM customer WHERE c_custkey = 42"),

    // §2.A #3 findFirst — filter → multi-key orderBy → first row.
    Gate("q_find_first", (s, dir) =>
      TpchModels.orders(s, dir).findFirst(QueryArgs(
        where = Some(F.cmp("o_totalprice", CmpF(gt = Some(100000.0)))),
        orderBy = Seq(OrderBy("o_orderdate"), OrderBy("o_orderkey")))), """
      SELECT * FROM orders WHERE o_totalprice > 100000.0
      ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 1"""),

    // §2.A #2 findUniqueOrThrow — BOTH legs of the P2025 contract as data:
    // a present key returns its row, a missing key raises
    // RecordNotFoundException whose code lands in `err`. The oracle is a
    // probe-list left join deriving the same code from key absence.
    // Oracle: the P2025 contract as data: code present exactly when the key is
    // absent (probe-list left join — no hardcoded outcomes)
    Gate("q_find_unique_throw", (s, dir) => {
      import s.implicits._
      val m = TpchModels.customer(s, dir)
      Seq(42L, 999999999L).map { k =>
        try {
          val r = m.findUniqueOrThrow("c_custkey", k)
          (k, Option(r.getAs[String]("c_name")), None: Option[String])
        } catch {
          case e: graft.store.RecordNotFoundException => (k, None, Some(e.code))
        }
      }.toDF("key", "name", "err").orderBy("key")
    }, """
      WITH probes(key) AS (VALUES (42), (999999999))
      SELECT CAST(p.key AS BIGINT) AS key, c.c_name AS name,
             CASE WHEN c.c_custkey IS NULL THEN 'P2025' END AS err
      FROM probes p LEFT JOIN customer c ON c.c_custkey = p.key
      ORDER BY key"""),

    // §2.A #4 findFirstOrThrow — hit leg returns the first row under the
    // declared order; miss leg (an unsatisfiable filter) surfaces P2025.
    Gate("q_find_first_throw", (s, dir) => {
      import s.implicits._
      val m = TpchModels.orders(s, dir)
      def probe(tag: String, minTotal: Double) =
        try {
          val r = m.findFirstOrThrow(QueryArgs(
            where = Some(F.cmp("o_totalprice", CmpF(gt = Some(minTotal)))),
            orderBy = Seq(OrderBy("o_totalprice", desc = true), OrderBy("o_orderkey"))))
          (tag, Option(r.getAs[Long]("o_orderkey").toString), None: Option[String])
        } catch {
          case e: graft.store.RecordNotFoundException => (tag, None, Some(e.code))
        }
      Seq(probe("hit", 100000.0), probe("miss", 1.0e9))
        .toDF("probe", "okey", "err").orderBy("probe")
    }, """
      WITH hit AS (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
      ), miss AS (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 1000000000.0
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
      )
      SELECT 'hit' AS probe,
             (SELECT CAST(o_orderkey AS VARCHAR) FROM hit) AS okey,
             CASE WHEN NOT EXISTS (SELECT 1 FROM hit) THEN 'P2025' END AS err
      UNION ALL
      SELECT 'miss',
             (SELECT CAST(o_orderkey AS VARCHAR) FROM miss),
             CASE WHEN NOT EXISTS (SELECT 1 FROM miss) THEN 'P2025' END
      ORDER BY probe"""),

    // §2.A #8 createManyAndReturn through the REAL store path: seed ids
    // 1..50, bulk-insert ids 1..80 under skipDuplicates — the returned
    // frame is exactly the actually-inserted rows (51..80), duplicates
    // excluded, which the oracle derives by set difference.
    // Oracle: actually-inserted rows only: the incoming batch minus the seeded keys
    Gate("q_create_many_return", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-cmr-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("seg", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      def cust(hi: Long) = Tables.customer(s, dir)
        .filter(col("c_custkey") <= hi)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("seg"))
      t.createMany(cust(50))
      t.createManyAndReturn(cust(80), skipDuplicates = true).orderBy("id")
    }, """
      SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg
      FROM customer WHERE c_custkey > 50 AND c_custkey <= 80
      ORDER BY id"""),

    // §2.A #12 updateManyAndReturn through the REAL store path: flag the
    // high-balance slice and return the post-update images, which the
    // oracle reconstructs with a CASE over the same input slice.
    // Oracle: post-update images of the matched slice
    Gate("q_update_many_return", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(tempDir("graft-umr-q"))
      val t = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("acctbal", DoubleType, nullable = true),
        StructField("seg", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      t.createMany(Tables.customer(s, dir).filter(col("c_custkey") <= 200)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), col("c_mktsegment").as("seg")))
      t.updateManyAndReturn(
        F.cmp("acctbal", CmpF(gt = Some(5000.0))),
        Map("seg" -> lit("FLAGGED")))
        .select(col("id"), col("name"), col("acctbal").cast("double").as("acctbal"),
          col("seg"))
        .orderBy("id")
    }, """
      SELECT c_custkey AS id, c_name AS name,
             CAST(c_acctbal AS DOUBLE) AS acctbal, 'FLAGGED' AS seg
      FROM customer WHERE c_custkey <= 200 AND c_acctbal > 5000.0
      ORDER BY id"""),

    // §2.A #5 findMany — filter + orderBy + skip/take (offset pagination).
    Gate("q_find_many_page", (s, dir) =>
      TpchModels.customer(s, dir).findMany(QueryArgs(
        where = Some(F.str("c_mktsegment", StringF(equals = Some(Some("BUILDING"))))),
        orderBy = Seq(OrderBy("c_acctbal", desc = true), OrderBy("c_custkey")),
        skip = Some(10), take = Some(20))), """
      SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 20 OFFSET 10"""),

    // §2.B StringFilter: contains + endsWith + mode insensitive.
    Gate("q_str_filters", (s, dir) =>
      TpchModels.part(s, dir).findMany(QueryArgs(
        where = Some(And(Seq(
          F.str("p_type", StringF(endsWith = Some("DARD"))),
          F.str("p_name", StringF(contains = Some("RED"), insensitive = true))))),
        orderBy = Seq(OrderBy("p_partkey")),
        select = Seq("p_partkey", "p_name", "p_type"))), """
      SELECT p_partkey, p_name, p_type FROM part
      WHERE p_type LIKE '%DARD' AND lower(p_name) LIKE '%red%'
      ORDER BY p_partkey"""),

    // §2.B in / notIn list predicates.
    Gate("q_in_notin", (s, dir) =>
      TpchModels.part(s, dir).findMany(QueryArgs(
        where = Some(And(Seq(
          F.str("p_brand", StringF(in = Some(Seq("Brand#11", "Brand#22", "Brand#33")))),
          F.cmp("p_size", CmpF(notIn = Some(Seq(1, 2, 3))))))),
        orderBy = Seq(OrderBy("p_partkey")),
        select = Seq("p_partkey", "p_brand", "p_size"))), """
      SELECT p_partkey, p_brand, p_size FROM part
      WHERE p_brand IN ('Brand#11','Brand#22','Brand#33')
        AND p_size NOT IN (1,2,3)
      ORDER BY p_partkey"""),

    // §2.C nulls first/last — Prisma's `nulls: first|last` through the
    // real OrderBy compilation, made OBSERVABLE via LIMIT: the driver
    // hash-compare sorts rows before hashing, so ordering is only
    // testable through which rows the order SELECTS. nulls-first top-10
    // must be null rows; nulls-last top-10 the highest non-null prices.
    Gate("q_order_nulls", (s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") <= 200L)
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price"))
      def top(tag: String, nf: Boolean) = base
        .orderBy(OrderBy("price", desc = true, nullsFirst = Some(nf)).column,
          OrderBy("o_orderkey").column)
        .limit(10).withColumn("probe", lit(tag))
      top("first", nf = true).unionByName(top("last", nf = false))
        .select(col("probe"), col("o_orderkey"), col("price"))
        .orderBy(col("probe"), col("o_orderkey"))
    }, """
      WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'P' THEN NULL
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey <= 200)
      SELECT probe, o_orderkey, price FROM (
        SELECT 'first' AS probe, o_orderkey, price FROM base
        ORDER BY price DESC NULLS FIRST, o_orderkey LIMIT 10)
      UNION ALL
      SELECT probe, o_orderkey, price FROM (
        SELECT 'last' AS probe, o_orderkey, price FROM base
        ORDER BY price DESC NULLS LAST, o_orderkey LIMIT 10)
      ORDER BY probe, o_orderkey"""),

    // §2.B BoolNullableFilter — the TRI-STATE contract gated directly:
    // a derived nullable boolean (view events → NULL) probed through the
    // real BoolF algebra all five ways. equals:Some(v) is null-dropping
    // (SQL three-valued =), equals:None is IS NULL, not:Some(v) keeps
    // only the opposite NON-NULL value, not:None is IS NOT NULL — the
    // oracle mirrors each with the equivalent CASE/count.
    // Oracle: tri-state boolean algebra replayed with three-valued SQL: = drops
    // NULLs, NOT(x = true) is true only for false, IS [NOT] NULL exact
    Gate("q_bool_tristate", (s, dir) => {
      val flag = when(col("event_type") === "view",
        lit(null).cast("boolean")).otherwise(col("value") > 100.0)
      val ev = Tables.events(s, dir).select(flag.as("flag"))
      def n(f: BoolF) = sum(when(f(col("flag")), 1L).otherwise(0L))
      ev.agg(
        n(BoolF(equals = Some(Some(true)))).as("eq_true"),
        n(BoolF(equals = Some(Some(false)))).as("eq_false"),
        n(BoolF(equals = Some(None))).as("eq_null"),
        n(BoolF(not = Some(Some(true)))).as("not_true"),
        n(BoolF(not = Some(None))).as("not_null"))
    }, """
      WITH f AS (
        SELECT CASE WHEN event_type = 'view' THEN NULL
                    ELSE value > 100.0 END AS flag
        FROM events)
      SELECT
        CAST(count(CASE WHEN flag = true THEN 1 END) AS BIGINT) AS eq_true,
        CAST(count(CASE WHEN flag = false THEN 1 END) AS BIGINT) AS eq_false,
        CAST(count(CASE WHEN flag IS NULL THEN 1 END) AS BIGINT) AS eq_null,
        CAST(count(CASE WHEN NOT (flag = true) THEN 1 END) AS BIGINT) AS not_true,
        CAST(count(CASE WHEN flag IS NOT NULL THEN 1 END) AS BIGINT) AS not_null
      FROM f"""),

    // §2.B Enum filter — the status-enum algebra (JobStatus/`o_orderstatus`
    // as the enum domain) through the real EnumF: in + not compose as AND,
    // mirrored by the oracle's IN / <> predicates.
    Gate("q_enum_filter", (s, dir) =>
      TpchModels.orders(s, dir).findMany(QueryArgs(
        where = Some(And(Seq(
          F.enum_("o_orderstatus", EnumF(in = Some(Seq("F", "P")), not = Some("F"))),
          F.cmp("o_orderkey", CmpF(lte = Some(500L)))))),
        orderBy = Seq(OrderBy("o_orderkey")),
        select = Seq("o_orderkey", "o_orderstatus"))), """
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderstatus IN ('F', 'P') AND o_orderstatus <> 'F'
        AND o_orderkey <= 500
      ORDER BY o_orderkey"""),

    // §2.B DateTimeFilter range + numeric range, AND/OR connectors.
    Gate("q_range_connectors", (s, dir) =>
      TpchModels.orders(s, dir).findMany(QueryArgs(
        where = Some(And(Seq(
          F.cmp("o_orderdate", CmpF(
            gte = Some(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
            lt = Some(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")))),
          Or(Seq(
            F.cmp("o_totalprice", CmpF(gt = Some(350000.0))),
            F.str("o_orderpriority", StringF(equals = Some(Some("1-URGENT"))))))))),
        orderBy = Seq(OrderBy("o_orderkey")),
        select = Seq("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"))), """
      SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        AND (o_totalprice > 350000.0 OR o_orderpriority = '1-URGENT')
      ORDER BY o_orderkey"""),

    // §2.B JsonNullableFilter: JSON path + numeric compare on events.props.
    Gate("q_json_filter", (s, dir) => {
      val m = new Model(() => Tables.events(s, dir), "event_id")
      m.findMany(QueryArgs(
        where = Some(F.json("props", JsonF(path = Seq("k"), gte = Some(95)))),
        orderBy = Seq(OrderBy("event_id")),
        select = Seq("event_id", "event_type", "props")))
    }, """
      SELECT event_id, event_type, props FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 95
      ORDER BY event_id"""),

    // §2.B JSON via Spark 4 VariantType: parse once, extract typed — the
    // modern path for the reference's JSONB metadata (schema.prisma:95).
    Gate("q_json_variant", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("v", parse_json(col("props")))
        .filter(try_variant_get(col("v"), "$.k", "double") >= 95.0)
        .select(col("event_id"),
          try_variant_get(col("v"), "$.k", "long").as("k"))
        .orderBy(col("event_id")), """
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 95
      ORDER BY event_id"""),

    // §2.C negative take (models/Company.ts:130-136): the LAST 5 orders of
    // the low-key customers w.r.t. the sort, returned in the declared order.
    Gate("q_take_last", (s, dir) =>
      TpchModels.orders(s, dir).findMany(QueryArgs(
        where = Some(F.cmp("o_custkey", CmpF(lte = Some(20L)))),
        orderBy = Seq(OrderBy("o_orderdate"), OrderBy("o_orderkey")),
        take = Some(-5),
        select = Seq("o_orderkey", "o_custkey", "o_orderdate"))), """
      SELECT o_orderkey, o_custkey, o_orderdate FROM (
        SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        WHERE o_custkey <= 20
        ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 5)
      ORDER BY o_orderdate, o_orderkey"""),

    // §2.B JsonNullableFilter completeness — array_starts_with /
    // array_ends_with + insensitive string mode. The corpus props are flat
    // {"k": N}, so a richer JSON doc (arrays, JSON nulls, DB nulls) is
    // derived deterministically from k with IDENTICAL text in both engines.
    Gate("q_json_array", (s, dir) => {
      // cheap scan-pushed filter FIRST, JSON parsing on the survivors only
      val df = Tables.events(s, dir)
        .filter(col("event_type") === "click").withColumn("doc", jsonDoc)
      val m = new Model(() => df, "event_id")
      m.findMany(QueryArgs(
        where = Some(And(Seq(
          F.json("doc", JsonF(path = Seq("tags"), arrayStartsWith = Some("t1"))),
          F.json("doc", JsonF(path = Seq("tags"), arrayEndsWith = Some("e2"))),
          F.json("doc", JsonF(path = Seq("name"), stringStartsWith = Some("ALPHA"),
            insensitive = true))))),
        orderBy = Seq(OrderBy("event_id")),
        select = Seq("event_id")))
    }, """
      WITH j AS (SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events
                 WHERE event_type = 'click'),
      d AS (SELECT event_id,
        CASE WHEN k % 7 = 0 THEN NULL
             WHEN k % 7 = 1 THEN '{"name": null, "tags": null}'
             ELSE '{"name": "Alpha' || CAST(k AS VARCHAR) ||
                  '", "tags": ["t' || CAST(k % 4 AS VARCHAR) ||
                  '", "mid", "e' || CAST(k % 3 AS VARCHAR) || '"]}'
        END AS doc FROM j)
      SELECT event_id FROM d
      WHERE json_extract_string(doc, '$.tags[0]') = 't1'
        AND json_extract_string(doc, '$.tags[#-1]') = 'e2'
        AND lower(json_extract_string(doc, '$.name')) LIKE 'alpha%'
      ORDER BY event_id"""),

    // §2.B DbNull vs JsonNull distinction (commonInputTypes.ts:126-148):
    // classify rows by which null they carry — isDbNull sees the SQL NULL
    // column, isJsonNull sees the JSON `null` at the path (variant-typed
    // extraction; get_json_object alone cannot tell it from a missing key).
    Gate("q_json_nulls", (s, dir) => {
      // one barrier-pinned parse serves the filter AND the classifier
      // projection (four JsonF compilations would otherwise each re-parse)
      val df = Tables.events(s, dir)
        .filter(col("event_type") === "click").withColumn("doc", jsonDoc)
        .withColumn("__jv", graft.functions.Barrier.evalOnce(try_parse_json(col("doc"))))
      val jn = JsonF(path = Seq("tags"), isJsonNull = Some(true))
        .applyVariant(col("doc"), col("__jv"))
      val dbn = JsonF(isDbNull = Some(true)).applyVariant(col("doc"), col("__jv"))
      df.filter(coalesce(jn, lit(false)) || coalesce(dbn, lit(false)))
        .select(col("event_id"),
          when(coalesce(jn, lit(false)), lit("json_null"))
            .otherwise(lit("db_null")).as("kind"))
        .orderBy(col("event_id"))
    }, """
      WITH j AS (SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events
                 WHERE event_type = 'click'),
      d AS (SELECT event_id,
        CASE WHEN k % 7 = 0 THEN NULL
             WHEN k % 7 = 1 THEN '{"name": null, "tags": null}'
             ELSE '{"name": "Alpha' || CAST(k AS VARCHAR) ||
                  '", "tags": ["t' || CAST(k % 4 AS VARCHAR) ||
                  '", "mid", "e' || CAST(k % 3 AS VARCHAR) || '"]}'
        END AS doc FROM j)
      SELECT event_id,
             CASE WHEN doc IS NULL THEN 'db_null' ELSE 'json_null' END AS kind
      FROM d
      WHERE doc IS NULL OR json_type(doc, '$.tags') = 'NULL'
      ORDER BY event_id"""),

    // §2.B JsonF recursive `not` (commonInputTypes.ts:147) with SQL
    // three-valued logic: a missing doc, a JSON-null name, or a name not
    // matching the inner predicate — only the LAST kind survives (NULL
    // matches neither a filter nor its negation, like the JSONB-backed SQL).
    Gate("q_json_not", (s, dir) => {
      val df = Tables.events(s, dir)
        .filter(col("event_type") === "click").withColumn("doc", jsonDoc)
      val m = new Model(() => df, "event_id")
      m.findMany(QueryArgs(
        where = Some(F.json("doc", JsonF(path = Seq("name"),
          not = Some(JsonF(stringStartsWith = Some("Alpha1")))))),
        orderBy = Seq(OrderBy("event_id")),
        select = Seq("event_id")))
    }, """
      WITH j AS (SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events
                 WHERE event_type = 'click'),
      d AS (SELECT event_id,
        CASE WHEN k % 7 = 0 THEN NULL
             WHEN k % 7 = 1 THEN '{"name": null, "tags": null}'
             ELSE '{"name": "Alpha' || CAST(k AS VARCHAR) ||
                  '", "tags": ["t' || CAST(k % 4 AS VARCHAR) ||
                  '", "mid", "e' || CAST(k % 3 AS VARCHAR) || '"]}'
        END AS doc FROM j)
      SELECT event_id FROM d
      WHERE NOT starts_with(json_extract_string(doc, '$.name'), 'Alpha1')
      ORDER BY event_id"""),

    // §2.B JsonF `equals: InputJsonValue` on an ARRAY value
    // (commonInputTypes.ts:133): structural equality via the variant
    // canonical form — both engines minify, so whitespace differences in
    // the source text don't matter.
    Gate("q_json_eq_obj", (s, dir) => {
      val df = Tables.events(s, dir)
        .filter(col("event_type") === "click").withColumn("doc", jsonDoc)
      val m = new Model(() => df, "event_id")
      m.findMany(QueryArgs(
        where = Some(F.json("doc", JsonF(path = Seq("tags"),
          equalsJson = Some("""["t1", "mid", "e2"]""")))),
        orderBy = Seq(OrderBy("event_id")),
        select = Seq("event_id")))
    }, """
      WITH j AS (SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events
                 WHERE event_type = 'click'),
      d AS (SELECT event_id,
        CASE WHEN k % 7 = 0 THEN NULL
             WHEN k % 7 = 1 THEN '{"name": null, "tags": null}'
             ELSE '{"name": "Alpha' || CAST(k AS VARCHAR) ||
                  '", "tags": ["t' || CAST(k % 4 AS VARCHAR) ||
                  '", "mid", "e' || CAST(k % 3 AS VARCHAR) || '"]}'
        END AS doc FROM j)
      SELECT event_id FROM d
      WHERE json_extract(doc, '$.tags') = '["t1","mid","e2"]'
      ORDER BY event_id"""),

    // §2.A #16 aggregate pre-args (effect.ts:552-558): where → orderBy →
    // take page FIRST, aggregates over the page.
    Gate("q_aggregate_take", (s, dir) =>
      TpchModels.orders(s, dir).aggregate(
        AggSpec(countAll = true, min = Seq("o_totalprice"), max = Seq("o_totalprice")),
        QueryArgs(
          where = Some(F.str("o_orderstatus", StringF(equals = Some(Some("O"))))),
          orderBy = Seq(OrderBy("o_totalprice", desc = true), OrderBy("o_orderkey")),
          skip = Some(10), take = Some(100))), """
      SELECT count(*) AS _count_all,
             min(o_totalprice) AS _min_o_totalprice,
             max(o_totalprice) AS _max_o_totalprice
      FROM (SELECT o_totalprice FROM orders WHERE o_orderstatus = 'O'
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10)"""),

    // §2.A #17 typed having tree (CompanyScalarWhereWithAggregatesInput,
    // models/Company.ts:278-292): count/max aggregates + a group-key leaf,
    // composed under AND; the count aggregate is NOT in the selection
    // (computed hidden, dropped after the filter).
    Gate("q_group_having_typed", (s, dir) =>
      TpchModels.orders(s, dir).groupBy(
        by = Seq("o_custkey"),
        spec = AggSpec(countAll = true),
        havingTyped = Some(HAnd(Seq(
          HAgg("o_orderkey", "count", CmpF(gte = Some(12L))),
          HAgg("o_totalprice", "max", CmpF(lt = Some(450000.0))),
          HAgg("o_custkey", "key", CmpF(lte = Some(1400L)))))),
        orderBy = Seq(OrderBy("o_custkey"))), """
      SELECT o_custkey, count(*) AS _count_all FROM orders
      GROUP BY o_custkey
      HAVING count(o_orderkey) >= 12 AND max(o_totalprice) < 450000.0
         AND o_custkey <= 1400
      ORDER BY o_custkey"""),

    // §2.A #10 nested writes under update (`update({where, data, relation:
    // {create}}}`, syncCrm.ts:156-163) through the REAL store: create the
    // parent batch, updateNested flips a status and derives audit children
    // from the POST-UPDATE matched slice, snapshot read-back proves what
    // was published. Deterministic → fully oracle-checkable.
    Gate("q_update_nested", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-upd-nested-q"))
      val clientT = new graft.store.GraftTable(s, cat, "client", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("status", StringType, nullable = false),
        StructField("segment", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      val auditT = new graft.store.GraftTable(s, cat, "client_audit", StructType(Seq(
        StructField("audit_id", StringType, nullable = false),
        StructField("parent_id", LongType, nullable = false),
        StructField("seg", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("audit_id")))
      clientT.onDeleteRestrict(auditT, "parent_id", "id")
      clientT.createMany(Tables.customer(s, dir).filter(col("c_custkey") <= 60)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          lit("new").as("status"), col("c_mktsegment").as("segment")))
      graft.store.Txn.run(cat) { tx =>
        tx.updateNested(clientT,
          F.cmp("id", CmpF(lte = Some(30L)))
            .and(F.str("status", StringF(equals = Some(Some("new"))))),
          Map("status" -> lit("synced")),
          Seq(graft.store.NestedCreate(auditT, b => b.select(
            concat(lit("au-"), col("id").cast("string")).as("audit_id"),
            col("id").as("parent_id"),
            col("segment").as("seg")))))
        ()
      }
      clientT.snapshot()
        .join(auditT.snapshot(), col("id") === col("parent_id"), "left")
        .select(col("id"), col("name"), col("status"), col("audit_id"), col("seg"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name,
             CASE WHEN c_custkey <= 30 THEN 'synced' ELSE 'new' END AS status,
             CASE WHEN c_custkey <= 30
                  THEN 'au-' || CAST(c_custkey AS VARCHAR) END AS audit_id,
             CASE WHEN c_custkey <= 30 THEN c_mktsegment END AS seg
      FROM customer WHERE c_custkey <= 60 ORDER BY id"""),

    // §2.B relation some — EXISTS semi-join shape.
    Gate("q_rel_some", (s, dir) =>
      TpchModels.customer(s, dir).findMany(QueryArgs(
        where = Some(RelSome("orders", F.cmp("o_totalprice", CmpF(gt = Some(400000.0))))),
        orderBy = Seq(OrderBy("c_custkey")),
        select = Seq("c_custkey", "c_name"))), """
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      ORDER BY c_custkey"""),

    // §2.B relation none — NOT EXISTS anti-join (never-synced shape,
    // runner/syncCrm.ts:62).
    Gate("q_rel_none", (s, dir) =>
      TpchModels.customer(s, dir).findMany(QueryArgs(
        where = Some(RelNone("orders", F.str("o_orderstatus", StringF(equals = Some(Some("F")))))),
        orderBy = Seq(OrderBy("c_custkey")),
        select = Seq("c_custkey", "c_name"))), """
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      ORDER BY c_custkey"""),

    // §2.B relation every — no violating related row (vacuously true).
    Gate("q_rel_every", (s, dir) =>
      TpchModels.orders(s, dir).findMany(QueryArgs(
        where = Some(And(Seq(
          F.cmp("o_orderdate", CmpF(gte = Some(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))),
          RelEvery("lineitems", F.cmp("l_quantity", CmpF(lte = Some(45.0))))))),
        orderBy = Seq(OrderBy("o_orderkey")),
        select = Seq("o_orderkey", "o_orderdate"))), """
      SELECT o_orderkey, o_orderdate FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_orderkey = o.o_orderkey
                          AND NOT coalesce(l.l_quantity <= 45.0, FALSE))
      ORDER BY o_orderkey"""),

    // §2.C distinct-on-fields w.r.t. order: latest order per customer.
    Gate("q_distinct_on", (s, dir) =>
      TpchModels.orders(s, dir).findMany(QueryArgs(
        distinct = Seq("o_custkey"),
        orderBy = Seq(OrderBy("o_orderdate", desc = true), OrderBy("o_orderkey")),
        select = Seq("o_orderkey", "o_custkey", "o_orderdate"))), """
      SELECT o_orderkey, o_custkey, o_orderdate FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
        FROM orders) t
      WHERE rn = 1
      ORDER BY o_orderdate DESC, o_orderkey ASC"""),

    // §2.C cursor keyset pagination (exclusive via skip=1, Prisma idiom).
    Gate("q_cursor_page", (s, dir) =>
      TpchModels.customer(s, dir).findMany(QueryArgs(
        orderBy = Seq(OrderBy("c_acctbal", desc = true), OrderBy("c_custkey")),
        cursor = Some(("c_custkey", 100L)), skip = Some(1), take = Some(20),
        select = Seq("c_custkey", "c_name", "c_acctbal"))), """
      WITH cur AS (SELECT c_acctbal, c_custkey FROM customer WHERE c_custkey = 100)
      SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c, cur
      WHERE c.c_acctbal < cur.c_acctbal
         OR (c.c_acctbal = cur.c_acctbal AND c.c_custkey > cur.c_custkey)
      ORDER BY c.c_acctbal DESC, c.c_custkey ASC LIMIT 20"""),

    // §2.C order-by-relation-count (models/Company.ts:438-440).
    Gate("q_order_by_rel_count", (s, dir) =>
      TpchModels.customer(s, dir)
        .orderByRelationCount("orders", desc = true, take = Some(25))
        .select(col("c_custkey"), col("c_name")), """
      SELECT c_custkey, c_name FROM customer c
      ORDER BY (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) DESC,
               c_custkey ASC
      LIMIT 25"""),

    // §2.A #16 aggregate: _count/_min/_max (exact, no FP aggregation).
    Gate("q_aggregate", (s, dir) =>
      TpchModels.orders(s, dir).aggregate(
        AggSpec(countAll = true, count = Seq("o_custkey"),
          min = Seq("o_orderdate", "o_totalprice"),
          max = Seq("o_orderdate", "o_totalprice")),
        where = Some(F.str("o_orderstatus", StringF(equals = Some(Some("O")))))), """
      SELECT count(*) AS _count_all,
             count(o_custkey) AS _count_o_custkey,
             min(o_orderdate) AS _min_o_orderdate,
             min(o_totalprice) AS _min_o_totalprice,
             max(o_orderdate) AS _max_o_orderdate,
             max(o_totalprice) AS _max_o_totalprice
      FROM orders WHERE o_orderstatus = 'O'"""),

    // §2.A #17 groupBy + having + orderBy incl. aggregate column.
    Gate("q_group_having", (s, dir) =>
      TpchModels.orders(s, dir).groupBy(
        by = Seq("o_custkey"),
        spec = AggSpec(countAll = true, max = Seq("o_totalprice")),
        having = Some(col("_count_all") >= 10),
        orderBy = Seq(OrderBy("_count_all", desc = true), OrderBy("o_custkey")),
        take = Some(50))
        .withColumn("_max_o_totalprice", dec(col("_max_o_totalprice")).cast("double")), """
      SELECT o_custkey, count(*) AS _count_all,
             CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS _max_o_totalprice
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) >= 10
      ORDER BY _count_all DESC, o_custkey ASC LIMIT 50"""),

    // §2.D 1-N include projected to _count (hydration, runner/syncCrm.ts:64-68).
    Gate("q_include_count", (s, dir) =>
      TpchModels.customer(s, dir).findMany(QueryArgs(
        include = Seq("orders"),
        select = Seq("c_custkey", "_count_orders")))
        .withColumn("_count_orders", col("_count_orders").cast("long"))
        .orderBy(col("c_custkey")), """
      SELECT c.c_custkey, count(o.o_orderkey) AS _count_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
      ORDER BY c.c_custkey"""),

    // §2.C filtered include + nested select (models/Company.ts:708-770):
    // customers hydrated with ONLY their top-3 most recent high-value
    // orders (per-relation where + orderBy + take + select), `_count`
    // reporting the pre-take match count; flattened for the oracle.
    Gate("q_include_filtered", (s, dir) =>
      TpchModels.customer(s, dir).findMany(QueryArgs(
        includeArgs = Seq(IncludeArgs("orders",
          where = Some(F.raw(col("o_totalprice") > 100000.0)),
          orderBy = Seq(OrderBy("o_orderdate", desc = true),
            OrderBy("o_orderkey", desc = true)),
          take = Some(3),
          select = Seq("o_orderkey", "o_totalprice", "o_orderdate"))),
        select = Seq("c_custkey", "orders", "_count_orders")))
        .select(col("c_custkey"), col("_count_orders").cast("long").as("n_highvalue"),
          posexplode(col("orders")))
        .select(col("c_custkey"), col("n_highvalue"),
          (col("pos") + 1).cast("long").as("ord_rank"),
          col("col.o_orderkey").as("o_orderkey"),
          col("col.o_totalprice").as("o_totalprice"),
          col("col.o_orderdate").as("o_orderdate"))
        .orderBy(col("c_custkey"), col("ord_rank")), """
      WITH hv AS (
        SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS ord_rank,
               count(*) OVER (PARTITION BY o_custkey) AS n_highvalue
        FROM orders WHERE o_totalprice > 100000.0)
      SELECT c.c_custkey, h.n_highvalue, h.ord_rank,
             h.o_orderkey, h.o_totalprice, h.o_orderdate
      FROM customer c JOIN hv h ON h.o_custkey = c.c_custkey
      WHERE h.ord_rank <= 3
      ORDER BY c_custkey, ord_rank"""),

    // §2.D left join + per-key aggregate over the joined side.
    Gate("q_join_left_count", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             decSum(col("o_totalprice")).as("total_spent"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c.c_custkey,
             count(o.o_orderkey) AS n_orders,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
      ORDER BY c.c_custkey"""),

    // §2.D anti-join on the raw DataFrame surface: customers with no
    // high-value order (NOT EXISTS with a pushed-down filter on the right).
    Gate("q_join_anti", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, c_name, c_mktsegment FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
      ORDER BY c_custkey"""),

    // §2.D M-N two-hop join (part↔supplier through lineitem), aggregated.
    Gate("q_join_mn", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
      val sup = Tables.supplier(s, dir)
      li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("s_suppkey")).as("n_suppliers"))
        .filter(col("n_suppliers") >= 4)
        .orderBy(col("l_partkey"))
    }, """
      SELECT l_partkey, count(DISTINCT s_suppkey) AS n_suppliers
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY l_partkey
      HAVING count(DISTINCT s_suppkey) >= 4
      ORDER BY l_partkey"""),

    // Analytical multi-join shape (TPC-H Q3): segment + date filters on
    // both sides of a 3-way join, revenue per order, top 10.
    Gate("q_revenue_top", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }, """
      SELECT o.o_orderkey, o.o_orderdate,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY o.o_orderkey, o.o_orderdate
      ORDER BY revenue DESC, o.o_orderkey LIMIT 10"""),

    // Analytical snowflake shape (TPC-H Q5): region → nation → customer →
    // orders → lineitem, revenue per nation.
    Gate("q_revenue_nation", (s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      r.join(n, r("r_regionkey") === n("n_regionkey"))
        .join(c, n("n_nationkey") === c("c_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, """
      SELECT n.n_name,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM region r
      JOIN nation n ON r.r_regionkey = n.n_regionkey
      JOIN customer c ON n.n_nationkey = c.c_nationkey
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE r.r_name = 'ASIA'
      GROUP BY n.n_name
      ORDER BY revenue DESC, n.n_name"""),

    // Event sessionization as window functions: 30-minute-gap sessions per
    // user (the batch-SQL mirror of streaming.Streaming.sessionize).
    Gate("q_sessions", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }, """
      WITH t AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events)
      SELECT user_id,
             CAST(sum(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM t GROUP BY user_id ORDER BY user_id"""),

    // Correlated scalar subquery (Catalyst decorrelates it into an
    // aggregate + join, SURVEY §4.2): orders 2x above their customer's
    // average spend.
    Gate("q_above_avg", (s, dir) => {
      Tables.registerViews(s, dir)
      // price > 2*avg expressed as price*count > 2*sum in DECIMAL — the
      // avg-of-doubles form drifts between engines at the boundary
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2))
                * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
              > 2 * (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                     FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }, """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      WHERE CAST(o_totalprice AS DECIMAL(18,2))
              * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
            > 2 * (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey"""),

    // Event funnel: users progressing view -> signup -> purchase in
    // event-time order (conditional min-timestamps + ordering predicate).
    Gate("q_funnel", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .filter(col("t_view") < col("t_signup") && col("t_signup") < col("t_purchase"))
        .select(col("user_id"), col("t_view"), col("t_signup"), col("t_purchase"))
        .orderBy(col("user_id")), """
      SELECT user_id, t_view, t_signup, t_purchase FROM (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id) t
      WHERE t_view < t_signup AND t_signup < t_purchase
      ORDER BY user_id"""),

    // Latest event per user (argmax via first-row-per-key window).
    Gate("q_latest_event", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }, """
      SELECT user_id, event_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id"""),

    // Set operators: EXCEPT/INTERSECT over key sets.
    Gate("q_set_ops", (s, dir) => {
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bigSpenders = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.except(bigSpenders)
        .withColumn("src", lit("building_only"))
        .unionByName(building.intersect(bigSpenders).withColumn("src", lit("both")))
        .orderBy(col("src"), col("c_custkey"))
    }, """
      WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000.0)
      SELECT c_custkey, 'building_only' AS src FROM (SELECT * FROM building EXCEPT SELECT * FROM big)
      UNION ALL
      SELECT c_custkey, 'both' AS src FROM (SELECT * FROM building INTERSECT SELECT * FROM big)
      ORDER BY src, c_custkey"""),

    // Pivot-shaped conditional aggregation: quantity by returnflag across
    // linestatus columns (the portable form of PIVOT).
    Gate("q_pivot", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "O", dec(col("l_quantity")))).cast("double").as("qty_o"),
          sum(when(col("l_linestatus") === "F", dec(col("l_quantity")))).cast("double").as("qty_f"))
        .orderBy(col("l_returnflag")), """
      SELECT l_returnflag,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Ranking window: suppliers dense-ranked by revenue within nation.
    Gate("q_supplier_rank", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val rev = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(decSum(col("l_extendedprice")).as("revenue"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s_nationkey"))
        .orderBy(col("revenue").desc, col("s_suppkey"))
      rev.withColumn("rnk", dense_rank().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("s_nationkey"), col("s_suppkey"), col("revenue"), col("rnk"))
        .orderBy(col("s_nationkey"), col("rnk"), col("s_suppkey"))
    }, """
      WITH rev AS (
        SELECT s_nationkey, s_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey, s_suppkey)
      SELECT s_nationkey, s_suppkey, revenue, rnk FROM (
        SELECT *, CAST(dense_rank() OVER (PARTITION BY s_nationkey
                 ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rnk
        FROM rev) t
      WHERE rnk <= 3
      ORDER BY s_nationkey, rnk, s_suppkey"""),

    // Distribution buckets: order-total deciles. Exact NTILE semantics via
    // the two-pass distributed ranking operator — no single-partition
    // window (Ranking.ntileExact range-partitions, ranks per partition,
    // offsets by preceding-partition counts).
    Gate("q_deciles", (s, dir) => {
      operators.Ranking.ntileExact(Tables.orders(s, dir), 10, "decile",
          Seq(col("o_totalprice"), col("o_orderkey")))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("decile"))
    }, """
      SELECT decile, count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM (SELECT o_totalprice,
                   CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
            FROM orders) t
      GROUP BY decile ORDER BY decile"""),

    // Multi-dimensional aggregate: ROLLUP over (returnflag, linestatus)
    // with subtotal and grand-total rows.
    Gate("q_rollup", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first), """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // Exact median per group (linear-interpolated 0.5-quantile; inputs are
    // small exact doubles, so the midpoint arithmetic is bit-identical in
    // both engines).
    Gate("q_median", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(median(col("l_quantity")).as("med_qty"),
          median(col("l_discount")).as("med_disc"))
        .orderBy(col("l_returnflag")), """
      SELECT l_returnflag, median(l_quantity) AS med_qty,
             median(l_discount) AS med_disc
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // CUBE: every grouping-set combination incl. both subtotals and the
    // grand total (the rollup's bigger sibling — all 2^k sets).
    Gate("q_cube", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first), """
      SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // RANGE-frame window: per-customer trailing-30-day spend at each order
    // (value-based frame over epoch seconds, not a row count — the frame
    // width varies with order density).
    Gate("q_range_frame", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(unix_timestamp(col("o_orderdate")))
        .rangeBetween(-2592000L, 0L) // 30 days in seconds
      Tables.orders(s, dir)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("spend_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                        RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS spend_30d
      FROM orders WHERE o_custkey <= 100
      ORDER BY o_custkey, o_orderkey"""),

    // §2.A #18 raw SQL passthrough (the $queryRaw surface): registered
    // temp views + spark.sql.
    Gate("q_raw_sql", (s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""
        SELECT n.n_name, count(*) AS n_orders
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        ORDER BY n_orders DESC, n_name ASC""")
    }, """
      SELECT n.n_name, count(*) AS n_orders
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY n.n_name
      ORDER BY n_orders DESC, n_name ASC"""),

    // The SQL-function surface end-to-end: the codegen'd Tokenize kernel
    // registered into the session registry (graftbridge
    // FunctionRegistration — what GraftExtensions injects at session
    // build) and driven through spark.sql TEXT, not the Column API. The
    // oracle mirrors the kernel's [letter/digit]+ runs on this ASCII
    // corpus with the same regexp split every other tokenizing oracle
    // uses.
    Gate("q_raw_fn", (s, dir) => {
      Tables.registerViews(s, dir)
      org.apache.spark.sql.graftbridge.FunctionRegistration.register(
        s, "graft_tokenize",
        exprs => graft.functions.SketchExpressions.Tokenize(exprs.head))
      s.sql("""
        SELECT doc_id,
               size(graft_tokenize(lower(trim(text)))) AS n_tokens,
               try_element_at(graft_tokenize(lower(trim(text))), 1) AS first_tok
        FROM documents WHERE doc_id < 200
        ORDER BY doc_id""")
    }, """
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             toks[1] AS first_tok
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)),
                 '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        FROM documents WHERE doc_id < 200)
      ORDER BY doc_id"""),

    // §2.A #18 write side — the $executeRaw surface
    // (internal/class.ts:118-153): raw SQL INSERT / UPDATE / DELETE text
    // parsed by Spark's own parser and routed into the COW store's
    // staged statement surface, batched in ONE atomic transaction. The
    // read-back goes through the store snapshot; the oracle is the
    // declaratively-equivalent single SELECT (DuckDB runs one statement
    // per gate) over the same input slice.
    // Oracle: the INSERT/UPDATE/DELETE sequence as one declarative SELECT: the
    // UPDATE's SET expressions both read the PRE-update row (SQL UPDATE
    // semantics), and the DELETE keeps NULL-predicate rows
    Gate("q_exec_raw", (s, dir) => {
      import org.apache.spark.sql.types._
      Tables.registerViews(s, dir)
      val cat = new graft.store.Catalog(
        tempDir("graft-execraw-q"))
      val acct = new graft.store.GraftTable(s, cat, "acct", StructType(Seq(
        StructField("custkey", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("segment", StringType, nullable = true),
        StructField("bal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("custkey")))
      graft.store.ExecuteRaw.executeMany(s, Map("acct" -> acct), Seq(
        """INSERT INTO acct
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 500""",
        "UPDATE acct SET bal = bal * 1.1, segment = 'VIP' WHERE bal > 5000",
        "DELETE FROM acct WHERE bal < 0"))
      acct.snapshot()
        .select(col("custkey"), col("name"), col("segment"), col("bal"))
        .orderBy(col("custkey"))
    }, """
      WITH ins AS (
        SELECT c_custkey AS custkey, c_name AS name,
               c_mktsegment AS segment, c_acctbal AS bal
        FROM customer WHERE c_custkey <= 500
      ), upd AS (
        SELECT custkey, name,
               CASE WHEN bal > 5000 THEN 'VIP' ELSE segment END AS segment,
               CASE WHEN bal > 5000 THEN bal * 1.1 ELSE bal END AS bal
        FROM ins
      )
      SELECT custkey, name, segment, bal FROM upd
      WHERE NOT coalesce(bal < 0, FALSE)
      ORDER BY custkey"""),

    // §2.A #19 × #18 — `$transaction([$executeRaw…])` ATOMICITY, oracle-
    // proven (effect.ts:369-396 + :398-428): a batch whose SECOND
    // statement violates a unique key must publish NOTHING — including
    // its first statement's `UPDATE … SET bal = 0`, which would
    // otherwise zero every balance and empty the final snapshot through
    // the later DELETE. The oracle replays only the seed and the
    // successful batch; any leak from the rolled-back batch is a hash
    // mismatch.
    // Oracle: seed + the SUCCESSFUL batch only — the aborted batch (zero every
    // balance, then a duplicate-key INSERT) must contribute nothing
    Gate("q_exec_raw_txn", (s, dir) => {
      import org.apache.spark.sql.types._
      Tables.registerViews(s, dir)
      val cat = new graft.store.Catalog(tempDir("graft-execraw-txn"))
      val acct = new graft.store.GraftTable(s, cat, "acct", StructType(Seq(
        StructField("custkey", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("segment", StringType, nullable = true),
        StructField("bal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("custkey")))
      val tabs = Map("acct" -> acct)
      graft.store.ExecuteRaw.execute(s, tabs,
        """INSERT INTO acct
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 300""")
      val failed = scala.util.Try(graft.store.ExecuteRaw.executeMany(s, tabs, Seq(
        "UPDATE acct SET bal = 0",
        "INSERT INTO acct VALUES (1, 'dup', 'X', 1.0)")))
      require(failed.isFailure,
        "q_exec_raw_txn: the duplicate-key batch must abort")
      graft.store.ExecuteRaw.executeMany(s, tabs, Seq(
        "UPDATE acct SET bal = bal + 100 WHERE segment = 'BUILDING'",
        "DELETE FROM acct WHERE bal < 500"))
      acct.snapshot()
        .select(col("custkey"), col("name"), col("segment"), col("bal"))
        .orderBy(col("custkey"))
    }, """
      WITH ins AS (
        SELECT c_custkey AS custkey, c_name AS name,
               c_mktsegment AS segment, c_acctbal AS bal
        FROM customer WHERE c_custkey <= 300
      ), upd AS (
        SELECT custkey, name, segment,
               CASE WHEN segment = 'BUILDING' THEN bal + 100 ELSE bal END AS bal
        FROM ins
      )
      SELECT custkey, name, segment, bal FROM upd
      WHERE NOT coalesce(bal < 500, FALSE)
      ORDER BY custkey"""),

    // §2.A #18 — MERGE INTO through $executeRaw (the full DML triangle:
    // effect.ts:398-428 accepts arbitrary SQL; upsert exists underneath,
    // effect.ts:495-541): one statement carrying a conditional DELETE
    // (first-clause-wins over the UPDATE), an UPDATE reading BOTH sides
    // of the target⋈source join, and a NOT MATCHED INSERT — all routed
    // onto the staged store surface and published in one atomic commit.
    // The oracle recomputes the final state declaratively: matched =
    // custkey 201..400 (delete where source bal < 0, else bal-sum +
    // segment flip), unmatched source = 401..600 inserted as NEW.
    Gate("q_exec_raw_merge", (s, dir) => {
      import org.apache.spark.sql.types._
      Tables.registerViews(s, dir)
      val cat = new graft.store.Catalog(tempDir("graft-execraw-merge"))
      val acct = new graft.store.GraftTable(s, cat, "acct", StructType(Seq(
        StructField("custkey", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("segment", StringType, nullable = true),
        StructField("bal", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("custkey")))
      val tabs = Map("acct" -> acct)
      graft.store.ExecuteRaw.execute(s, tabs,
        """INSERT INTO acct
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey <= 400""")
      graft.store.ExecuteRaw.execute(s, tabs,
        """MERGE INTO acct t
           USING (SELECT c_custkey AS custkey, c_name AS name,
                         c_acctbal AS bal
                  FROM customer WHERE c_custkey BETWEEN 201 AND 600) s
           ON t.custkey = s.custkey
           WHEN MATCHED AND s.bal < 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal, segment = 'MERGED'
           WHEN NOT MATCHED THEN INSERT (custkey, name, segment, bal)
             VALUES (s.custkey, s.name, 'NEW', s.bal)""")
      acct.snapshot()
        .select(col("custkey"), col("name"), col("segment"), col("bal"))
        .orderBy(col("custkey"))
    }, """
      WITH seed AS (
        SELECT c_custkey AS custkey, c_name AS name,
               c_mktsegment AS segment, c_acctbal AS bal
        FROM customer WHERE c_custkey <= 400
      ), src AS (
        SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS bal
        FROM customer WHERE c_custkey BETWEEN 201 AND 600
      )
      SELECT t.custkey, t.name,
             CASE WHEN m.custkey IS NOT NULL THEN 'MERGED'
                  ELSE t.segment END AS segment,
             CASE WHEN m.custkey IS NOT NULL THEN t.bal + m.bal
                  ELSE t.bal END AS bal
      FROM seed t LEFT JOIN src m ON t.custkey = m.custkey
      WHERE NOT coalesce(m.bal < 0, FALSE)
      UNION ALL
      SELECT custkey, name, 'NEW' AS segment, bal
      FROM src WHERE custkey > 400
      ORDER BY custkey"""),

    // $executeRaw DDL: CREATE TABLE AS SELECT materializes a real store
    // table from an arbitrary analyzed query (reference $executeRaw is
    // arbitrary SQL, class.ts:118-153), and the created table is a FULL
    // citizen — the follow-up UPDATE rides the same raw-SQL surface and
    // the read-back is an ordinary snapshot. ExecuteRaw.executeCreate.
    // Oracle: the MERGE replayed declaratively: matched keys (201..400) delete
    // on negative source bal, else sum balances + flip segment; source
    // keys past the seed (401..600) insert as NEW
    // the CTAS result with the raw-SQL UPDATE folded in declaratively
    Gate("q_exec_raw_ctas", (s, dir) => {
      Tables.registerViews(s, dir)
      val cat = new graft.store.Catalog(tempDir("graft-ctas-q"))
      val t = graft.store.ExecuteRaw.executeCreate(s, cat,
        """CREATE TABLE seg AS
           SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
           FROM customer GROUP BY c_mktsegment""",
        uniqueKeys = Seq(Seq("segment")))
      graft.store.ExecuteRaw.execute(s, Map("seg" -> t),
        "UPDATE seg SET bal = 0.0 WHERE segment < 'F'")
      t.snapshot()
        .select(col("segment"), col("n"), col("bal"))
        .orderBy(col("segment"))
    }, """
      WITH seg AS (
        SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        FROM customer GROUP BY c_mktsegment)
      SELECT segment, n,
             CASE WHEN segment < 'F' THEN 0.0 ELSE bal END AS bal
      FROM seg ORDER BY segment"""),

    // §2.E scalar functions: regexp extraction, trim, coalesce defaulting,
    // string assembly (the extractGooglePlaces.ts:272-276 shapes).
    Gate("q_scalar_funcs", (s, dir) =>
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          trim(col("p_name")).as("name_trim"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          coalesce(col("p_brand"), lit("Default Name")).as("brand_or_default"),
          concat_ws("|", col("p_type"), col("p_brand")).as("tag_line"),
          graft.pipeline.Stages.extractPhone(
            concat(lit("call +"), (col("p_partkey") % 1000000).cast("string"),
              lit(" ext"))).as("phone"))
        .orderBy(col("p_partkey")), """
      SELECT p_partkey,
             trim(p_name) AS name_trim,
             regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
             coalesce(p_brand, 'Default Name') AS brand_or_default,
             concat_ws('|', p_type, p_brand) AS tag_line,
             trim(regexp_extract('call +' || CAST(p_partkey % 1000000 AS VARCHAR) || ' ext',
                                 '(\+?\d[\d\s()-]+)', 1)) AS phone
      FROM part ORDER BY p_partkey"""),

    // SCD Type-2 history build from the append-only event log: one row
    // per event_type TRANSITION per user with half-open validity
    // intervals, 1-based versions, and a current flag — the
    // history-preserving counterpart of the reference's overwrite-in-
    // place status machine. Interval bounds go out as epoch
    // microseconds (exact integers both engines). All three windows
    // share one (user_id, ts, event_id) sort → a single Exchange.
    Gate("q_scd2", (s, dir) =>
      operators.Temporal.scd2(Tables.events(s, dir),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("version"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current").cast("long").as("is_current"))
        .orderBy(col("user_id"), col("version")), """
      WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events),
      changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS version,
             event_type,
             epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts) OVER w) AS valid_to_us,
             CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS is_current
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, version"""),

    // Market-basket co-occurrence: top-20 part pairs ordered within the
    // same order, counted across orders. The self-join fans out C(k,2)
    // per basket (TPC-H: k ≤ 7, bounded); the global top-20 plans as
    // TakeOrderedAndProject — per-partition bounded heaps, never a full
    // sort of the pair space.
    Gate("q_copurchase", (s, dir) =>
      operators.Temporal.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", topN = 20), """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      pairs AS (
        SELECT a.i AS item_a, b.i AS item_b, count(*) AS n
        FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2)
      SELECT item_a, item_b, CAST(n AS BIGINT) AS n
      FROM pairs ORDER BY n DESC, item_a, item_b LIMIT 20"""),

    // §2.E derived metric: success rate percentage from status counts
    // (runner/locator.ts:192-195), orders: F=failed, P=skipped analog.
    Gate("q_success_rate", (s, dir) =>
      Tables.orders(s, dir).agg(
        count(lit(1)).as("processed"),
        count(when(col("o_orderstatus") === "F", 1)).as("failed"),
        count(when(col("o_orderstatus") === "P", 1)).as("skipped"))
        .select(col("processed"), col("failed"), col("skipped"),
          round((col("processed") - col("failed") - col("skipped")) * 100.0 / col("processed"), 4)
            .as("success_rate_pct")), """
      SELECT count(*) AS processed,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS failed,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS skipped,
             round((count(*) - count(*) FILTER (WHERE o_orderstatus = 'F')
                    - count(*) FILTER (WHERE o_orderstatus = 'P')) * 100.0 / count(*), 4)
               AS success_rate_pct
      FROM orders"""),

    // Window function: per-customer running spend in date order.
    Gate("q_window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.orders(s, dir)
        .filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
      FROM orders WHERE o_custkey <= 50
      ORDER BY o_custkey, o_orderkey"""),

    // §2.A #10 update semantics as a state transform (the when/otherwise
    // merge the store layer commits — here observable as a query).
    Gate("q_update_emul", (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, lit("DELINQUENT"))
            .otherwise(col("c_mktsegment")).as("segment"),
          when(col("c_acctbal") < 0, round(dec(col("c_acctbal")) * dec(lit(1.1)), 2).cast("double"))
            .otherwise(col("c_acctbal")).as("balance"))
        .orderBy(col("c_custkey")), """
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment,
             CASE WHEN c_acctbal < 0
                  THEN CAST(round(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)), 2) AS DOUBLE)
                  ELSE c_acctbal END AS balance
      FROM customer ORDER BY c_custkey"""),

    // §2.A #14 upsert/MERGE semantics: high-value orders replace customer
    // segment rows, new keys appended (anti-join + union shape).
    Gate("q_upsert_emul", (s, dir) => {
      val existing = Tables.customer(s, dir)
        .select(col("c_custkey").as("key"), col("c_mktsegment").as("val"))
      val incoming = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 450000.0)
        .select((col("o_custkey") + 1000000L).as("key"), lit("BIG_SPENDER").as("val"))
        .dropDuplicates("key")
      existing.join(incoming.select("key"), Seq("key"), "left_anti")
        .unionByName(incoming)
        .orderBy(col("key"))
    }, """
      WITH incoming AS (
        SELECT DISTINCT o_custkey + 1000000 AS key, 'BIG_SPENDER' AS val
        FROM orders WHERE o_totalprice > 450000.0)
      SELECT c_custkey AS key, c_mktsegment AS val FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.key = c.c_custkey)
      UNION ALL SELECT key, val FROM incoming
      ORDER BY key"""),

    // §2.A #6 nested relation writes through the REAL store path: parent
    // create with a nested 1-1 child create (syncCrm.ts:156-163 shape) and
    // a nested M-N connectOrCreate + link (scrapeWebsite.ts:224-236 shape),
    // atomically in one transaction, then read back joined. The oracle is
    // the declaratively-equivalent SELECT over the same input slice.
    Gate("q_nested_create", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-nested-q"))
      val parentT = new graft.store.GraftTable(s, cat, "client", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("id")))
      val eventT = new graft.store.GraftTable(s, cat, "client_event", StructType(Seq(
        StructField("event_id", StringType, nullable = false),
        StructField("parent_id", LongType, nullable = false),
        StructField("note", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("event_id")))
      val tagT = new graft.store.GraftTable(s, cat, "tag", StructType(Seq(
        StructField("tag_id", StringType, nullable = false),
        StructField("tag", StringType, nullable = false))),
        uniqueKeys = Seq(Seq("tag")))
      val linkT = new graft.store.GraftTable(s, cat, "client_tag", StructType(Seq(
        StructField("parent_id", LongType, nullable = false),
        StructField("tag_id", StringType, nullable = false))),
        uniqueKeys = Seq(Seq("parent_id", "tag_id")))
      val batch = Tables.customer(s, dir).filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"))
      parentT.createNested(batch, Seq(
        graft.store.NestedCreate(eventT, b => b.select(
          concat(lit("ev-"), col("id").cast("string")).as("event_id"),
          col("id").as("parent_id"),
          when(col("acctbal") < 0, lit("neg")).otherwise(lit("pos")).as("note"))),
        graft.store.ConnectOrCreate(
          relation = tagT,
          ensure = b => b.select(concat(lit("tag-"), col("segment")).as("tag_id"),
            col("segment").as("tag")).distinct(),
          link = linkT,
          links = b => b.select(col("id").as("parent_id"),
            concat(lit("tag-"), col("segment")).as("tag_id")))))
      parentT.snapshot()
        .join(eventT.snapshot(), col("id") === col("parent_id"))
        .join(linkT.snapshot().withColumnRenamed("parent_id", "lp"),
          col("id") === col("lp"))
        .join(tagT.snapshot(), Seq("tag_id"))
        .select(col("id"), col("name"), col("event_id"), col("note"), col("tag"))
        .orderBy(col("id"))
    }, """
      SELECT c_custkey AS id, c_name AS name,
             'ev-' || CAST(c_custkey AS VARCHAR) AS event_id,
             CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS note,
             c_mktsegment AS tag
      FROM customer WHERE c_custkey <= 100 ORDER BY id"""),

    // §2.A #9/#10 referential actions through the REAL store engine,
    // oracle-gated (the cascade matrix was spec-only before): load a
    // customer/orders slice with ON DELETE CASCADE + ON UPDATE CASCADE
    // declared, delete a parent subset (children follow in the SAME
    // commit), then remap a parent-key subset (children follow), and
    // read the child table back. The oracle is the declaratively
    // equivalent SELECT over the same input slice.
    // Oracle: delete-then-remap as one declarative SELECT: survivors are
    // custkey % 7 <> 0 (ON DELETE CASCADE drops the children of the
    // rest), and custkey % 11 = 0 survivors remap to +100000 in BOTH
    // tables (ON UPDATE CASCADE)
    Gate("q_cascade", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = new graft.store.Catalog(
        tempDir("graft-cascade-q"))
      val cust = new graft.store.GraftTable(s, cat, "cust", StructType(Seq(
        StructField("custkey", LongType, nullable = false),
        StructField("name", StringType, nullable = true))),
        uniqueKeys = Seq(Seq("custkey")))
      val ord = new graft.store.GraftTable(s, cat, "ord", StructType(Seq(
        StructField("orderkey", LongType, nullable = false),
        StructField("custkey", LongType, nullable = false),
        StructField("totalprice", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("orderkey")))
      cust.onDeleteCascade(ord, "custkey", "custkey")
      cust.createMany(Tables.customer(s, dir).filter(col("c_custkey") <= 300)
        .select(col("c_custkey").as("custkey"), col("c_name").as("name")))
      ord.createMany(Tables.orders(s, dir).filter(col("o_custkey") <= 300)
        .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice").as("totalprice")))
      cust.deleteMany(graft.query.RawCol(pmod(col("custkey"), lit(7)) === 0))
      cust.updateMany(graft.query.RawCol(pmod(col("custkey"), lit(11)) === 0),
        Map("custkey" -> (col("custkey") + 100000L)))
      ord.snapshot()
        .select(col("orderkey"), col("custkey"), col("totalprice"))
        .orderBy(col("orderkey"))
    }, """
      WITH surviving AS (
        SELECT c_custkey AS custkey FROM customer
        WHERE c_custkey <= 300 AND c_custkey % 7 <> 0
      ), remap AS (
        SELECT custkey,
               CASE WHEN custkey % 11 = 0 THEN custkey + 100000
                    ELSE custkey END AS new_key
        FROM surviving
      )
      SELECT o.o_orderkey AS orderkey, r.new_key AS custkey,
             o.o_totalprice AS totalprice
      FROM orders o JOIN remap r ON o.o_custkey = r.custkey
      WHERE o.o_custkey <= 300
      ORDER BY orderkey"""),

    // Partition-scoped copy-on-write PROVEN, not promised: a status-
    // partitioned store takes one slice-local update and one slice-local
    // delete; the result row per partition carries `rewritten` = "did the
    // manifest version move" (read from the catalog, i.e. what the engine
    // DID) while the oracle derives the same flag from the data ("does
    // the partition contain a matched row") — plus the post-mutation
    // count/sum per partition. A whole-table rewrite, or a write that
    // skipped a touched slice, hash-mismatches. This is the write-path
    // 100 TB lever: a status flip at scale rewrites ONE slice, not the
    // table (ARCHITECTURE.md §layout; reference polls status slices via
    // runner/locator.ts:61-67).
    // Oracle: rewritten = "partition contains a matched row" derived from DATA;
    // the Spark side reads the same flag from the manifest version diff —
    // a whole-table rewrite (or a skipped touched slice) hash-mismatches
    Gate("q_cascade_part", (s, dir) => {
      import org.apache.spark.sql.types._
      import s.implicits._
      val cat = new graft.store.Catalog(tempDir("graft-part-q"))
      val t = new graft.store.GraftTable(s, cat, "jobs", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("status", StringType, nullable = false),
        StructField("total", DoubleType, nullable = true))),
        uniqueKeys = Seq(Seq("id")), partitionCols = Seq("status"))
      t.createMany(Tables.orders(s, dir).filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("total")))
      val pre = cat.partVersions("jobs")
      t.updateMany(graft.query.RawCol(col("status") === "F" && col("id") <= 500L),
        Map("total" -> lit(0.0)))
      t.deleteMany(graft.query.RawCol(col("status") === "P" && col("id") > 1500L))
      val post = cat.partVersions("jobs")
      val flags = pre.keys.toSeq.sorted.map { pk =>
        (pk.stripPrefix("status="), post.get(pk) != pre.get(pk))
      }
      val agg = t.snapshot().groupBy(col("status"))
        .agg(count(lit(1)).as("__n"),
          sum(col("total").cast("decimal(18,2)")).as("__s"))
      flags.toDF("part", "rewritten")
        .join(agg, col("part") === col("status"), "left")
        .select(col("part"), col("rewritten"),
          coalesce(col("__n"), lit(0L)).as("n_after"),
          coalesce(col("__s").cast("double"), lit(0.0)).as("sum_total"))
        .orderBy(col("part"))
    }, """
      WITH base AS (
        SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS total
        FROM orders WHERE o_orderkey <= 2000
      ), post AS (
        SELECT id, status,
               CASE WHEN status = 'F' AND id <= 500 THEN 0.0 ELSE total END AS total
        FROM base WHERE NOT (status = 'P' AND id > 1500)
      ), flags AS (
        SELECT p.status,
               EXISTS (SELECT 1 FROM base b WHERE b.status = p.status
                       AND ((b.status = 'F' AND b.id <= 500)
                         OR (b.status = 'P' AND b.id > 1500))) AS rewritten
        FROM (SELECT DISTINCT status FROM base) p
      )
      SELECT f.status AS part, f.rewritten AS rewritten,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n_after,
             CAST(coalesce(c.s, 0.00) AS DOUBLE) AS sum_total
      FROM flags f LEFT JOIN (
        SELECT status, count(*) AS n,
               sum(CAST(total AS DECIMAL(18,2))) AS s
        FROM post GROUP BY status) c ON c.status = f.status
      ORDER BY part"""),

    // Linear multi-touch attribution: each purchase splits 1000 milli-
    // credits equally over its view/click touches in the preceding hour
    // (remainder to the most recent touch) — banded pair join, one
    // conversion-id window, integer credit sums.
    // Oracle: Attribution: same second-truncated band, same integer credit split
    // with the remainder on the (tts DESC, tid DESC) leader.
    Gate("q_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"),
          col("ts").as("conv_ts"))
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("event_id").as("touch_id"), col("user_id"),
          col("ts").as("touch_ts"))
      operators.Temporal.linearAttribution(conv, touch, "user_id",
          "conv_ts", "touch_ts", "conv_id", "touch_id",
          windowSeconds = 3600)
        .orderBy(col("touch_id"))
    }, """
      WITH conv AS (
        SELECT event_id AS cid, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        FROM events WHERE event_type = 'purchase'),
      touch AS (
        SELECT event_id AS tid, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tus, ts AS tts
        FROM events WHERE event_type IN ('view', 'click')),
      pairs AS (
        -- microsecond band: a touch even 1 µs AFTER the conversion gets
        -- no credit (second-truncation used to admit up to ~1 s after)
        SELECT c.cid, t.tid, t.tts
        FROM conv c JOIN touch t ON t.user_id = c.user_id
         AND t.tus >= c.cus - 3600000000 AND t.tus <= c.cus),
      credit AS (
        SELECT cid, tid,
               1000 // (count(*) OVER (PARTITION BY cid))
               + CASE WHEN row_number() OVER (PARTITION BY cid
                        ORDER BY tts DESC, tid DESC) = 1
                      THEN 1000 % (count(*) OVER (PARTITION BY cid))
                      ELSE 0 END AS c
        FROM pairs)
      SELECT tid AS touch_id, CAST(sum(c) AS BIGINT) AS credit_milli
      FROM credit GROUP BY tid ORDER BY touch_id"""),

    // Cohort retention triangle: weekly first-event cohorts x distinct
    // active users per offset — integer epoch-division bucketing, two
    // bounded shuffles, no windows.
    // Oracle: Retention: same integer week division, same first-event cohorts.
    Gate("q_retention", (s, dir) =>
      operators.Temporal.retentionMatrix(Tables.events(s, dir),
          "user_id", "ts")
        .orderBy(col("cohort"), col("period_offset")), """
      WITH p AS (
        SELECT user_id AS u, epoch_us(ts) // 604800000000 AS w
        FROM events),
      c AS (SELECT u, min(w) AS cohort FROM p GROUP BY u)
      SELECT c.cohort, p.w - c.cohort AS period_offset,
             CAST(count(DISTINCT p.u) AS BIGINT) AS n_users
      FROM p JOIN c ON p.u = c.u
      GROUP BY c.cohort, period_offset
      ORDER BY cohort, period_offset"""),

    // Salted join under oracle: the hot-key spreading (left side salted,
    // right side replicated x8, join on (key, salt)) must be output-
    // invariant — every left row carries exactly one salt and the right
    // replica set covers all salts, so the pair set equals the plain
    // join. The oracle runs the plain join; equality gates the rewrite.
    // Oracle: Salted join: the oracle is the PLAIN join — equality proves the
    // salt-and-replicate rewrite is output-invariant.
    Gate("q_salted_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"),
          col("l_discount"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      operators.Skew.saltedJoin(li, sup, "suppkey", factor = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy(col("s_nationkey"))
    }, """
      SELECT s.s_nationkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey ORDER BY s.s_nationkey"""),

    // Two-phase salted aggregation under oracle: partial collect on
    // (key, salt), final flatten on key — the explicit map-side combine
    // for non-algebraic aggregates. Output exploded to scalar
    // (key, pos, value) rows after a deterministic sort, so the hash
    // compare sees content, not list layout.
    // Oracle: Salted two-phase collect: the oracle is the plain grouped list,
    // sorted — content equality modulo the salt routing.
    Gate("q_salted_agg", (s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_orderkey") < 400)
      operators.Skew.twoPhaseCollect(li, "l_returnflag", "l_quantity",
          factor = 8)
        .select(col("l_returnflag"),
          posexplode(array_sort(col("l_quantity_list"))))
        .select(col("l_returnflag"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("qty"))
        .orderBy(col("l_returnflag"), col("pos"))
    }, """
      SELECT l_returnflag, CAST(pos - 1 AS BIGINT) AS pos,
             CAST(qty AS DOUBLE) AS qty
      FROM (
        SELECT l_returnflag, unnest(list_sort(list(l_quantity))) AS qty,
               generate_subscripts(list_sort(list(l_quantity)), 1) AS pos
        FROM lineitem WHERE l_orderkey < 400
        GROUP BY l_returnflag)
      ORDER BY l_returnflag, pos"""),

    // Point-in-time join: every purchase enriched with the SCD2 state
    // version valid at its instant — the feature-store no-future-leakage
    // rule, planned as an as-of carry-forward (one shuffle), never an
    // interval theta-join. The oracle evaluates the honest half-open
    // interval join; equality proves the as-of reduction.
    // Oracle: PIT join: the oracle runs the honest half-open interval join
    // against the same SCD2 CTEs — zero-width versions self-exclude
    // under `ts < valid_to`, matching the as-of tiebreak.
    Gate("q_pit_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hist = operators.Temporal.scd2(ev, "user_id", "event_type",
          "ts", "event_id")
        .withColumnRenamed("event_type", "state")
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      operators.Temporal.pointInTime(facts, hist, "user_id", "ts",
          Seq("state", "version"))
        .select(col("event_id"), col("user_id"), col("state"), col("version"))
        .orderBy(col("event_id"))
    }, """
      WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events),
      changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev IS NULL OR prev <> event_type),
      hist AS (
        SELECT user_id,
               CAST(row_number() OVER w AS BIGINT) AS version,
               event_type AS state, ts AS valid_from,
               lead(ts) OVER w AS valid_to
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      facts AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase')
      SELECT f.event_id, f.user_id, h.state, h.version
      FROM facts f LEFT JOIN hist h
        ON h.user_id = f.user_id AND h.valid_from <= f.ts
       AND (h.valid_to IS NULL OR f.ts < h.valid_to)
      ORDER BY f.event_id"""),

    // Entity resolution: every distinct part name corrupted by dropping
    // its (len-2)th character, then fuzzy-matched back to the clean set —
    // blocked on the first token (hash equi-join, never all-pairs),
    // length-banded before any distance, Levenshtein-verified. Blocking
    // recall itself is under oracle: a planted pair the scheme loses
    // would be missing from BOTH engines' outputs only if the algebra
    // says so.
    // Oracle: Fuzzy join: same corruption, same first-token block, same length
    // band, same Levenshtein verify (identical semantics both engines).
    Gate("q_fuzzy_join", (s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
      val corrupted = names.select(expr(
        "concat(substr(p_name, 1, length(p_name) - 3), " +
          "substr(p_name, length(p_name) - 1)) AS dirty"))
      operators.Linkage.fuzzyJoin(corrupted, "dirty", names, "p_name",
          maxDist = 1)
        .orderBy(col("left_val"), col("right_val"))
    }, """
      WITH names AS (SELECT DISTINCT p_name FROM part),
      d AS (SELECT DISTINCT concat(substr(p_name, 1, length(p_name) - 3),
                                   substr(p_name, length(p_name) - 1)) AS dirty
            FROM names)
      SELECT d.dirty AS left_val, n.p_name AS right_val,
             CAST(levenshtein(d.dirty, n.p_name) AS BIGINT) AS dist
      FROM d JOIN names n
        ON split_part(d.dirty, ' ', 1) = split_part(n.p_name, ' ', 1)
      WHERE abs(length(d.dirty) - length(n.p_name)) <= 1
        AND levenshtein(d.dirty, n.p_name) = 1
      ORDER BY left_val, right_val"""),

    // As-of join: each purchase annotated with the user's latest prior-or-
    // equal view — union+window plan (ONE shuffle of probes+quotes, no
    // range explosion, no nested loop). operators/AsOf.scala.
    // Oracle: Latest prior-or-equal view per purchase; ties (none in the corpus,
    // but the contract is deterministic anyway) break on view_id DESC —
    // the operator's tieBreak-ascending-last-wins. events.ts is µs-exact
    // (no sub-µs component), so CAST(.. AS TIMESTAMP) loses nothing.
    Gate("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("q_user"), col("ts").as("q_ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      AsOf.asofJoin(probes, quotes,
          probeKey = "user_id", quoteKey = "q_user",
          probeTime = "ts", quoteTime = "q_ts",
          payload = Seq("view_id", "view_value"),
          tieBreak = Some("view_id"))
        .select(col("event_id"), col("view_id"), col("view_value"))
        .orderBy(col("event_id"))
    }, """
      SELECT p.event_id, v.view_id, v.view_value
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') p
      LEFT JOIN LATERAL (
        SELECT e.event_id AS view_id, e.value AS view_value
        FROM events e
        WHERE e.event_type = 'view' AND e.user_id = p.user_id
          AND e.ts <= p.ts
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) v ON TRUE
      ORDER BY p.event_id"""),

    // As-of join, STRICT + tolerance mode (pandas merge_asof
    // tolerance=1h, allow_exact_matches=False): an equal-time view is
    // invisible, and a latest-prior view older than an hour yields
    // nulls. Monotonicity makes the oracle's in-window LATERAL
    // equivalent: if the latest prior quote is outside the window, every
    // earlier one is too.
    Gate("q_asof_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir)
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("q_user"), col("ts").as("q_ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      AsOf.asofJoin(probes, quotes,
          probeKey = "user_id", quoteKey = "q_user",
          probeTime = "ts", quoteTime = "q_ts",
          payload = Seq("view_id", "view_value"),
          tieBreak = Some("view_id"),
          within = Some((pt, qt) => qt >= pt - expr("INTERVAL 1 HOUR")),
          strict = true)
        .select(col("event_id"), col("view_id"), col("view_value"))
        .orderBy(col("event_id"))
    }, """
      SELECT p.event_id, v.view_id, v.view_value
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') p
      LEFT JOIN LATERAL (
        SELECT e.event_id AS view_id, e.value AS view_value
        FROM events e
        WHERE e.event_type = 'view' AND e.user_id = p.user_id
          AND CAST(e.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
          AND CAST(e.ts AS TIMESTAMP) >=
              CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) v ON TRUE
      ORDER BY p.event_id"""),

    // Skew-proof as-of join: identical semantics to q_asof_join but run
    // through the time-sliced plan (window partitions on (key, bucket),
    // carry-in seeds across bucket boundaries) on deliberately HOT keys —
    // user_id folded mod 7 concentrates the whole corpus onto 7 keys,
    // the shape that serializes the plain plan's per-key sort at scale.
    // Oracle: Same semantics as q_asof_join on the mod-7 hot keys: the bucketed
    // plan must be indistinguishable from the plain one by construction.
    Gate("q_asof_skew", (s, dir) => {
      val ev = Tables.events(s, dir)
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), pmod(col("user_id"), lit(7)).as("hot_user"),
          col("ts"))
      val quotes = ev.filter(col("event_type") === "view")
        .select(pmod(col("user_id"), lit(7)).as("q_user"),
          col("ts").as("q_ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      AsOf.bucketedAsofJoin(probes, quotes,
          probeKey = "hot_user", quoteKey = "q_user",
          probeTime = "ts", quoteTime = "q_ts",
          payload = Seq("view_id", "view_value"),
          bucketSeconds = 3600L,
          tieBreak = Some("view_id"))
        .select(col("event_id"), col("view_id"), col("view_value"))
        .orderBy(col("event_id"))
    }, """
      SELECT p.event_id, v.view_id, v.view_value
      FROM (SELECT event_id, user_id % 7 AS hot_user, ts FROM events
            WHERE event_type = 'purchase') p
      LEFT JOIN LATERAL (
        SELECT e.event_id AS view_id, e.value AS view_value
        FROM events e
        WHERE e.event_type = 'view' AND e.user_id % 7 = p.hot_user
          AND e.ts <= p.ts
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) v ON TRUE
      ORDER BY p.event_id"""),

    // Band (range) join: events of the same user within ±1 h of each
    // purchase — bucketed equi-join (≤2× explode of the probe side),
    // never a broadcast nested-loop. operators/RangeJoin.scala.
    // Oracle: Same-user events within ±3600 s of each purchase. The operator
    // compares at whole-second resolution (timestamp -> long cast), so the
    // oracle floors epochs to seconds too (all epochs positive: // == floor).
    Gate("q_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val others = ev.select(col("user_id").as("r_user"),
        col("ts").as("r_ts"), col("event_id").as("r_id"))
      val joined = RangeJoin.bandJoin(purchases, others,
        leftKey = "user_id", rightKey = "r_user",
        leftTime = "ts", rightTime = "r_ts",
        before = 3600L, after = 3600L)
      joined.filter(col("r_id") =!= col("event_id"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_nearby"), max(col("r_id")).as("max_id"))
        .orderBy(col("event_id"))
    }, """
      SELECT p.event_id,
             count(*) AS n_nearby,
             max(e.event_id) AS max_id
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase') p
      JOIN events e ON e.user_id = p.user_id
        AND e.event_id <> p.event_id
        AND epoch_us(CAST(e.ts AS TIMESTAMP))
              BETWEEN epoch_us(CAST(p.ts AS TIMESTAMP)) - 3600000000
                  AND epoch_us(CAST(p.ts AS TIMESTAMP)) + 3600000000
      GROUP BY p.event_id
      ORDER BY p.event_id"""),

    // Optimizer-tier interval-join rescue: the join below is written
    // NAIVELY — a pure point-in-interval condition with no equi key, the
    // shape raw SQL produces and Spark plans as BroadcastNestedLoopJoin.
    // plans/RangeJoinRewrite (injected into this session's optimizer)
    // rewrites it to bucket-explode + equi-join + exact residual; the
    // PlanSpec assertion proves no nested-loop survives. Purchases
    // against 2-hour signup promo windows, counted per purchase.
    // Oracle: DuckDB runs the naive interval join directly (its IEJoin plans it
    // fine at oracle scale) — the gate proves the REWRITTEN plan returns
    // the identical result.
    Gate("q_range_rewrite", (s, dir) => {
      graft.plans.RangeJoinRewrite.install(s)
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf,
        (7200L * 1000000L).toString) // bucket = the window span, in micros
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("t"))
      val windows = ev
        .filter(col("event_type") === "signup" &&
          pmod(col("event_id"), lit(50)) === 0)
        .select(col("event_id").as("w_id"),
          unix_micros(col("ts").cast("timestamp")).as("lo"),
          (unix_micros(col("ts").cast("timestamp")) + lit(7200L * 1000000L))
            .as("hi"))
      purchases.join(windows, col("t") >= col("lo") && col("t") <= col("hi"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_windows"), max(col("w_id")).as("max_window"))
        .orderBy(col("event_id"))
    }, """
      WITH p AS (
        SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE event_type = 'purchase'
      ), w AS (
        SELECT event_id AS w_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS lo,
               epoch_us(CAST(ts AS TIMESTAMP)) + 7200000000 AS hi
        FROM events WHERE event_type = 'signup' AND event_id % 50 = 0
      )
      SELECT p.event_id,
             CAST(count(*) AS BIGINT) AS n_windows,
             max(w_id) AS max_window
      FROM p JOIN w ON p.t >= w.lo AND p.t <= w.hi
      GROUP BY p.event_id ORDER BY p.event_id"""),
  )
}
