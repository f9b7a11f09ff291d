package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTENT secondary value index — the engine's answer to Prisma's
  * `@@index([col])` / `@@index([a, b])` (the reference schema declares
  * these on its hot lookup columns) and the fourth leg of the
  * persistent-index tier, beside [[DedupIndex]] (near-dup sketches),
  * [[AnnIndex]] (dense vectors), and [[Bm25Index]] (keyword postings).
  *
  * The store already answers selective point predicates three ways —
  * partition pruning, zone-map sidecars, parquet blooms
  * ([[SliceStats]]) — but all three are LAYOUT-dependent: a predicate
  * on a column the table is neither partitioned nor clustered by
  * degrades to opening every slice's footer. A 100 TB table ordered by
  * ingest time answering `findMany(where: {source: "x"})` is exactly
  * Prisma's un-indexed-column story, and the fix is the same: a
  * secondary index.
  *
  *   - `__vidx_<name>_post` — (value…, id), unique on (value…, id),
  *     PARTITIONED BY `bucket` (stable xxhash64 of the LEADING value
  *     column folded into `nBuckets`): a lookup reads ONLY the slices
  *     its probe tuples' leading components hash into, and a refresh
  *     rewrites only the buckets its delta's leading values touch.
  *     Single-column indexes keep the column name `value`; composite
  *     indexes store `v0..v{k-1}`. Because the bucket hash covers the
  *     leading column (r16 — it covered the full tuple before), a
  *     composite index answers ANY leading-prefix probe with the same
  *     bucket pruning as a full-tuple probe — exactly Postgres's
  *     composite-btree prefix locality, and with the same tradeoff:
  *     bucket spread equals the leading column's value spread, so put
  *     the higher-cardinality column first when declaring the index.
  *   - `__vidx_<name>_meta` — one row (n_buckets) pinning the fan-out
  *     so a reopened handle routes probes exactly as the build did.
  *
  * Both commit atomically with the change-feed cursor pinned to the
  * indexed commit; [[refresh]] = [[CdfTail.drainOnce]] with ONE
  * combined MERGE staging (arriving images insert their new (value,
  * id) row, leaving images retire their old one — an update whose
  * value moved lands in the new value's bucket and leaves the old) —
  * crash-safe, exactly-once, OCC-fenced, the same lifecycle already
  * proven on the other three index families (RESTORE reaches the index
  * as inverse deltas; cursor-aware vacuum pins its preimages).
  *
  * LEADING-NULL tuples are not indexed ([[postingsOf]] drops tuples
  * whose leading column is NULL — they have no bucket home); their
  * count rides the meta row ([[nullCount]]) for the index-only NULL
  * group and `IS NULL` census. A NULL in a NON-leading component stays
  * indexed (r16): a leading-prefix probe must return such rows exactly
  * like the scan would, while equality on the null component still
  * never matches them. SQL equality never selects NULL, and `IS NULL`
  * probes on non-leading columns keep their zone-map path.
  *
  * [[lookupIds]] is the query side: probe tuples route to buckets
  * through Spark's own xxhash64 (one LocalTableScan job), the postings
  * scan is partition-pruned to those buckets, and the result is the
  * matching id set — ZERO source-table jobs. Its contract is
  * explicitly AS-OF THE LAST REFRESH (postings truth). [[fetch]] and
  * [[countIds]] promise source-snapshot truth instead, so they carry a
  * freshness guard: when the source has committed slice changes past
  * the cursor ([[isFresh]] — the same manifest-diff rule
  * [[CdfTail.drainOnce]] skips on), they FALL BACK to the pruned scan
  * rather than silently missing rows added since the refresh. The
  * guard is one driver-side manifest diff — no jobs.
  *
  * [[fetch]] hydrates: the id set semi-joins the source snapshot
  * (broadcast — a selective lookup's ids are small by definition; pair
  * the source with an id-clustered layout ([[GraftTable.compact]]
  * `zorderBy`) so the semi-join itself prunes slices via the sidecar
  * stats). [[countIds]] is the index-only read: a routable equality
  * count answers from postings with zero source-table jobs (each
  * source row holds ONE value tuple, so its posting matches at most
  * one probe tuple — no de-duplication needed).
  */
final class ValueIndex private (
    val src: GraftTable, val name: String,
    val valCols: Seq[String], val idCol: String,
    val post: GraftTable, val meta: GraftTable) {

  /** Single-column accessor (the common Prisma `@@index([col])` case). */
  def valCol: String = {
    require(valCols.size == 1, s"$name is a composite index on $valCols")
    valCols.head
  }

  private def consumerId = s"vidx:$name"
  private def vnames = ValueIndex.vnames(valCols)

  /** Pinned bucket fan-out — one bounded meta row. */
  def nBuckets(): Int = {
    val r = meta.snapshot().collect()
    require(r.length == 1, s"${meta.name}: no persisted meta — build first")
    r(0).getAs[Int]("n_buckets")
  }

  /** Rows whose value tuple has any null component (unindexed; the
    * index-only groupBy's NULL group) — same bounded meta read. */
  def nullCount(): Long = {
    val r = meta.snapshot().collect()
    require(r.length == 1, s"${meta.name}: no persisted meta — build first")
    r(0).getAs[Long]("null_count")
  }

  /** Source commit id the postings are current through. */
  def currentThrough(): Long = CdfTail.cursor(src, consumerId)

  /** True when the postings reflect every committed source change —
    * the [[CdfTail.drainOnce]] skip rule: no SOURCE slice pointer moved
    * past the cursor (other tables' commits, including this index's own
    * refreshes, don't count). One driver-side manifest diff, no jobs. */
  def isFresh(): Boolean = {
    val from = currentThrough()
    val to = src.catalog.currentCommitId()
    to <= from || ChangeFeed.changedSliceKeys(src, from, to).isEmpty
  }

  /** Catch the postings up with the source's change feed — one drained
    * window, or None when caught up. Only the delta is re-projected;
    * only its values' buckets rewrite. */
  def refresh(): Option[(Long, Long)] = {
    val nb = nBuckets()
    CdfTail.drainOnce(src, consumerId) { (txn, ch, _, _) =>
      val chk = ch.localCheckpoint()
      val arriving = chk.filter(
        col("_change_type").isin("insert", "update_postimage"))
      val leaving = chk.filter(
        col("_change_type").isin("delete", "update_preimage"))
      val newPosts = ValueIndex.bucketed(
        ValueIndex.postingsOf(arriving, valCols, idCol), valCols, nb)
      val oldPosts = ValueIndex.bucketed(
        ValueIndex.postingsOf(leaving, valCols, idCol), valCols, nb)
        .localCheckpoint()
      txn.applyChanges(post,
        newPosts.withColumn("_change_type", lit("insert"))
          .unionByName(oldPosts.withColumn("_change_type", lit("delete"))))
      // carry the NULL-group count across the window: LEADING-null
      // tuples never reach the postings, so their arrivals/departures
      // adjust the meta row instead (one bounded agg over the
      // checkpointed delta, one single-row staged update — same txn,
      // crash-safe)
      val anyNull = col(valCols.head).isNull
      val d = chk.filter(anyNull).agg(
        sum(when(col("_change_type").isin("insert", "update_postimage"),
          1L).otherwise(-1L)).as("d")).collect()(0)
      val delta = if (d.isNullAt(0)) 0L else d.getLong(0)
      if (delta != 0L)
        txn.updateMany(meta, graft.query.RawCol(col("mid") === 0),
          Map("null_count" -> (col("null_count") + lit(delta))))
      ()
    }
  }

  private def tupleOf(values: Seq[Any]): Seq[Seq[Any]] = values.map(Seq(_))

  /** Uniform probe arity 1..k — every probe batch is either full tuples
    * or one fixed leading-prefix length (mixing arities in one probe
    * would make the OR-of-conjuncts ambiguous). */
  private def probeArity(tuples: Seq[Seq[Any]]): Int = {
    val arities = tuples.map(_.size).distinct
    require(arities.size == 1,
      s"$name: mixed probe arities ${arities.sorted.mkString(",")}")
    val k = arities.head
    require(k >= 1 && k <= valCols.size,
      s"$name: probe arity $k outside 1..${valCols.size}")
    k
  }

  /** Tuple literals cast to the indexed columns' types — full tuples or
    * a leading prefix (component i always maps to `valCols(i)`). */
  private def tupleLits(tuples: Seq[Seq[Any]]): Seq[Seq[Column]] = {
    probeArity(tuples)
    tuples.map(tu => tu.indices.map(i =>
      lit(tu(i)).cast(src.schema(valCols(i)).dataType)))
  }

  /** OR-of-conjuncts tuple match over arbitrary columns (`cols(i)` maps
    * the i-th tuple component to a Column). Single-component probes
    * fold to one `isin` (a sargable IN the scan pushes down). */
  private def tupleMatch(tuples: Seq[Seq[Any]],
                         cols: Int => Column): Column = {
    val lits = tupleLits(tuples)
    if (lits.head.size == 1) cols(0).isin(lits.map(_.head): _*)
    else lits.map(tu =>
        tu.indices.map(i => cols(i) === tu(i)).reduce(_ && _))
      .reduce(_ || _)
  }

  /** The id set asserting any probed value, from the PERSISTED postings
    * (value…, id), partition-pruned to the probe tuples' buckets — zero
    * source-table jobs, lookup cost ∝ the probed tuples' posting rows.
    * Contract: postings truth AS OF the last [[refresh]] (see [[fetch]]
    * for source-snapshot truth). */
  def lookupIds(values: Seq[Any]): DataFrame = lookupTupleIds(tupleOf(values))

  /** Composite form of [[lookupIds]]: each probe is a FULL value tuple
    * or a uniform LEADING PREFIX of one (arity 1..k — the bucket hash
    * covers only the leading column, so any prefix prunes identically). */
  def lookupTupleIds(tuples: Seq[Seq[Any]]): DataFrame = {
    require(tuples.nonEmpty, "no probe values")
    val probe = tuples.distinct
    val nb = nBuckets()
    // leading component → bucket through Spark's OWN hash on the indexed
    // TYPE (one LocalTableScan job) — a driver-side xxhash64 could
    // silently drift
    val hashes = tupleLits(probe).map(tu =>
      pmod(xxhash64(tu.head), lit(nb)).cast("int"))
    val buckets = src.spark.range(1)
      .select(array(hashes: _*).as("bs"))
      .select(explode(col("bs")))
      .distinct().collect().map(_.getInt(0)).toSeq
    post.snapshotWhere(
      col("bucket").isin(buckets.map(Int.box): _*) &&
        tupleMatch(probe, i => col(vnames(i))))
      .select(vnames.map(col) :+ col("id"): _*)
  }

  /** Hydrated lookup: the source rows whose value tuple is in `values` —
    * the index supplies the id set, a broadcast semi-join fetches the
    * rows. Equality with `snapshotWhere(<the same predicate>)` is the
    * index's correctness contract (gate-audited); a STALE index (source
    * commits past the cursor) falls back to that scan outright rather
    * than returning silent false negatives. */
  def fetch(values: Seq[Any]): DataFrame = fetchTuples(tupleOf(values))

  /** Composite form of [[fetch]]: each probe is a full value tuple or a
    * uniform leading prefix (see [[lookupTupleIds]]). */
  def fetchTuples(tuples: Seq[Seq[Any]]): DataFrame = {
    require(tuples.nonEmpty, "no probe values")
    if (!isFresh())
      src.snapshotWhere(tupleMatch(tuples.distinct, i => col(valCols(i))))
    else
      src.snapshot().join(
        broadcast(lookupTupleIds(tuples).select(col("id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
  }

  /** INDEX-ONLY id projection: the ids asserting any probed value, as a
    * one-column frame named `idCol` — zero source-table jobs when fresh
    * (the postings ARE the answer for a bare-ids read), the pruned scan
    * when stale, like [[fetch]]. The query-surface twin is
    * [[graft.query.Model]]'s ids-projection findMany routing. */
  def idsOf(values: Seq[Any]): DataFrame = idsOfTuples(tupleOf(values))

  /** Composite form of [[idsOf]] — full tuples or a uniform leading
    * prefix (see [[lookupTupleIds]]). */
  def idsOfTuples(tuples: Seq[Seq[Any]]): DataFrame = {
    require(tuples.nonEmpty, "no probe values")
    if (!isFresh())
      src.snapshotWhere(tupleMatch(tuples.distinct, i => col(valCols(i))))
        .select(col(idCol))
    else lookupTupleIds(tuples).select(col("id").as(idCol))
  }

  /** INDEX-ONLY count: rows asserting any probed value, answered from
    * the postings with ZERO source-table jobs (each source row's column
    * holds one value, so its posting matches at most one probe — the
    * posting count IS the row count). Falls back to a pruned source
    * scan when stale, like [[fetch]]. */
  def countIds(values: Seq[Any]): Long = countTupleIds(tupleOf(values))

  /** INDEX-ONLY groupBy: one row per distinct indexed value with its
    * row count, answered from the postings with zero source-table jobs
    * when fresh. `values = Some(vs)` restricts to the probed values
    * (bucket-pruned — equality never selects NULL, so no NULL group);
    * `values = None` is the unrestricted groupBy: the full postings
    * aggregation PLUS the NULL group from the meta-carried
    * [[nullCount]] (null tuples are unindexed). Single-column indexes
    * only — a composite prefix groupBy would mis-group rows whose
    * non-leading components are null (unindexed) while the leading one
    * isn't. Output: (<valCol>, n). Falls back to the source scan when
    * stale, like [[fetch]]. */
  def groupCounts(values: Option[Seq[Any]]): DataFrame = {
    require(valCols.size == 1,
      s"$name: index-only groupCounts needs a single-column index")
    val vc = valCol
    def scan(): DataFrame = {
      val base = values.map(vs =>
        src.snapshotWhere(tupleMatch(tupleOf(vs.distinct),
          i => col(valCols(i))))).getOrElse(src.snapshot())
      base.groupBy(col(vc)).agg(count(lit(1)).as("n"))
    }
    if (!isFresh()) scan()
    else values match {
      case Some(vs) =>
        lookupTupleIds(tupleOf(vs)).select(col("value").as(vc))
          .groupBy(col(vc)).agg(count(lit(1)).as("n"))
      case None =>
        val grouped = post.snapshot().select(col("value").as(vc))
          .groupBy(col(vc)).agg(count(lit(1)).as("n"))
        val nc = nullCount()
        if (nc == 0L) grouped
        else grouped.unionByName(src.spark.range(1).select(
          lit(null).cast(src.schema(vc).dataType).as(vc), lit(nc).as("n")))
    }
  }

  /** INDEX-ONLY `IS NULL` count (r16): rows whose indexed column is
    * NULL, answered from the meta-carried [[nullCount]] with ZERO jobs
    * of any kind when fresh — null tuples never reach the postings, so
    * their census lives in meta (maintained per refresh). Single-column
    * indexes only, same reason as [[groupCounts]]. Falls back to the
    * source scan when stale. */
  def countNulls(): Long = {
    require(valCols.size == 1,
      s"$name: index-only countNulls needs a single-column index")
    if (!isFresh()) src.snapshot().filter(col(valCol).isNull).count()
    else nullCount()
  }

  /** Composite form of [[countIds]] — full tuples or a uniform leading
    * prefix: distinct same-arity prefixes are disjoint predicates, so a
    * posting row matches at most one probe and the posting count stays
    * the exact row count. */
  def countTupleIds(tuples: Seq[Seq[Any]]): Long = {
    require(tuples.nonEmpty, "no probe values")
    if (!isFresh())
      src.snapshotWhere(tupleMatch(tuples.distinct, i => col(valCols(i))))
        .count()
    else lookupTupleIds(tuples).count()
  }
}

object ValueIndex {

  /** Posting value-column names: the historical `value` for single-
    * column indexes, `v0..v{k-1}` for composite. */
  private[store] def vnames(valCols: Seq[String]): Seq[String] =
    if (valCols.size == 1) Seq("value")
    else valCols.indices.map(i => s"v$i")

  private def metaSchema = StructType(Seq(
    StructField("mid", IntegerType, nullable = false),
    StructField("n_buckets", IntegerType, nullable = false),
    // rows whose value tuple has ANY null component — unindexed by
    // postingsOf, but the index-only groupBy must still emit the NULL
    // group, so their COUNT is carried here and maintained per refresh
    StructField("null_count", LongType, nullable = false)))

  /** (value…, id) rows of the delta. Only tuples whose LEADING column
    * is NULL are unindexed (r16 — their count lives in meta): the
    * bucket hashes the leading column, so a leading NULL has no home,
    * while a NULL in a NON-leading component must stay indexed or a
    * leading-prefix probe would silently miss the row (equality on the
    * null component still never matches it, exactly like the scan). */
  private[store] def postingsOf(rows: DataFrame, valCols: Seq[String],
                                idCol: String): DataFrame = {
    val names = vnames(valCols)
    rows.filter(col(valCols.head).isNotNull)
      .select(valCols.zip(names).map { case (c, n) => col(c).as(n) } :+
        col(idCol).as("id"): _*)
  }

  /** Stable value→slice routing (the [[Bm25Index.bucketed]] idea on the
    * LEADING value column): the same leading value lands in the same
    * bucket across builds and refreshes, so full-tuple AND leading-
    * prefix probes both prune to exactly their buckets. */
  private[store] def bucketed(posts: DataFrame, valCols: Seq[String],
                              nBuckets: Int): DataFrame =
    posts.withColumn("bucket",
      pmod(xxhash64(col(vnames(valCols).head)), lit(nBuckets)).cast("int"))

  private def postTable(src: GraftTable, name: String, valCols: Seq[String],
                        idCol: String): GraftTable = {
    val names = vnames(valCols)
    new GraftTable(src.spark, src.catalog, s"__vidx_${name}_post",
      StructType(valCols.zip(names).map { case (c, n) =>
        // non-leading components may be NULL (r16) — see postingsOf
        StructField(n, src.schema(c).dataType, nullable = n != names.head)
      } ++ Seq(
        StructField("id", src.schema(idCol).dataType, nullable = false),
        StructField("bucket", IntegerType, nullable = false))),
      // each source row holds ONE value tuple → one posting row → `id`
      // alone is the pairing key (r16 — the old key included the value
      // columns, which breaks applyChanges' null-unsafe join once
      // non-leading components may be NULL)
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("bucket"))
  }

  private def metaTable(src: GraftTable, name: String): GraftTable =
    new GraftTable(src.spark, src.catalog, s"__vidx_${name}_meta",
      metaSchema, uniqueKeys = Seq(Seq("mid")))

  /** Project the source's CURRENT snapshot and commit postings + meta +
    * the change-feed cursor in one transaction. */
  def build(src: GraftTable, name: String, valCol: String, idCol: String,
            nBuckets: Int = 16): ValueIndex =
    build(src, name, Seq(valCol), idCol, nBuckets)

  /** Composite build — Prisma's `@@index([a, b])`. The bucket hash
    * covers the LEADING column, so the index answers full-tuple probes
    * and any leading-prefix probe with identical bucket pruning; order
    * the higher-cardinality column first for bucket spread. */
  def build(src: GraftTable, name: String, valCols: Seq[String],
            idCol: String, nBuckets: Int): ValueIndex = {
    require(nBuckets >= 1, s"nBuckets $nBuckets must be positive")
    require(valCols.nonEmpty, "an index needs at least one column")
    val c0 = src.catalog.currentCommitId()
    val snap = src.snapshotAt(c0)
    val post = postTable(src, name, valCols, idCol)
    val meta = metaTable(src, name)
    val nullCnt = snap.filter(col(valCols.head).isNull).count()
    Txn.run(src.catalog) { txn =>
      txn.createMany(post,
        bucketed(postingsOf(snap, valCols, idCol), valCols, nBuckets),
        skipDuplicates = false)
      txn.createMany(meta, src.spark.createDataFrame(
        java.util.Arrays.asList(Row(0, nBuckets, nullCnt)), metaSchema),
        skipDuplicates = false)
      txn.recordStreamBatch(src, s"cdf:vidx:$name", c0,
        src.catalog.manifest().get(Catalog.StreamTable))
    }
    new ValueIndex(src, name, valCols, idCol, post, meta)
  }

  /** Re-open a previously built index — the fan-out comes from the meta
    * row; no project-the-corpus path exists here by construction. */
  def open(src: GraftTable, name: String, valCol: String,
           idCol: String): ValueIndex =
    open(src, name, Seq(valCol), idCol)

  /** Composite re-open. Fails FAST (never silently) on an index
    * persisted by a pre-r16 engine: the bucket scheme changed (full
    * tuple → leading column) and meta gained `null_count`, so probes
    * against old postings would read the wrong buckets — the missing
    * meta column is the format marker. */
  def open(src: GraftTable, name: String, valCols: Seq[String],
           idCol: String): ValueIndex = {
    val idx = new ValueIndex(src, name, valCols, idCol,
      postTable(src, name, valCols, idCol), metaTable(src, name))
    val r = idx.meta.snapshot().collect()
    require(r.length == 1, s"__vidx_${name}_meta: no persisted meta — build first")
    require(!r(0).isNullAt(r(0).fieldIndex("null_count")),
      s"__vidx_$name: persisted by a pre-r16 engine (leading-column " +
        "bucketing + null census are missing) — rebuild the index")
    idx
  }
}
