package graft.store

import graft.query.Where
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What a statement's slice write touches: the slices it rewrites, those
  * its rewritten or inserted rows land in, and its row count per branch. */
private[store] final case class Census(touched: Set[String], landing: Set[String],
                                       n: IndexedSeq[Long])

/** A mutation staged as one slice write ([[Txn.writeSlices]]): `rows` is
  * the next state of exactly the slices the statement touches, `__pk`
  * attached. When the census rides the write, `census` reads what the
  * write observed and throws on a constraint breach before anything is
  * published. A `precounted` statement (a checkpointed insert, MERGE or
  * returning update) knew its census before the write, so one that
  * touches no slice writes nothing. */
private[store] final case class ObservedStaged(rows: DataFrame, census: () => Census,
                                               precounted: Boolean = false)

/** A declared FK of an inserted table, checked inside the insert's
  * checkpoint: `keys` holds the parent's distinct key values under the
  * child column's name. */
private[store] final case class ParentKeys(childCol: String, keys: DataFrame, message: String)

/** Isolation levels accepted by `\$transaction`
  * (`internal/prismaNamespace.ts:885-892`). The store ALWAYS provides
  * snapshot reads (manifest resolved once per txn) with an optimistic
  * serializable commit (base-version check + atomic manifest swap), so
  * every requested level is satisfied by these equal-or-stronger
  * semantics; the option exists for API parity and intent documentation. */
object IsolationLevel extends Enumeration {
  val ReadUncommitted, ReadCommitted, RepeatableRead, Snapshot, Serializable = Value
}

/** `\$transaction` options (`internal/prismaNamespace.ts:885-892`):
  * `maxWaitMs` bounds waiting for the commit lock (P2024 on expiry, the
  * connection-pool `maxWait` analog), `timeoutMs` bounds the whole
  * interactive closure via Spark job-group cancellation (P2028;
  * 0 = unbounded), `isolation` as documented on [[IsolationLevel]].
  * Defaults mirror Prisma's (maxWait 2 s, timeout 5 s). */
final case class TxnOptions(
    maxWaitMs: Long = 2000,
    timeoutMs: Long = 5000,
    isolation: IsolationLevel.Value = IsolationLevel.Serializable)

/** The write side of the Prisma model surface (SURVEY §2.A #6–14, #19)
  * over a [[Catalog]]-managed copy-on-write table.
  *
  * Mutations never touch existing files: each op computes the next table
  * state as a DataFrame, derives the set of touched partition slices from
  * its predicate / incoming keys, and stages a new version for ONLY those
  * slices; [[Txn.commit]] (or the auto-commit wrappers here) publishes
  * staged slice versions atomically. A status flip on a status-partitioned
  * table rewrites the affected status slices, never the whole table — the
  * partition-scoped COW that makes row-level-ish writes viable at 100 TB
  * (what PostgreSQL gives the reference for free, `schema.prisma:12-14`).
  *
  * Unique keys are enforced engine-side (parquet has no indexes): inserts
  * anti-join the incoming batch against the current snapshot and against
  * itself. `skipDuplicates=true` mirrors `createMany({skipDuplicates})`
  * (`effect.ts:479-485`) and the swallowed unique-violation insert of
  * `extractGooglePlaces.ts:305-317`; `false` throws the P2002 equivalent.
  *
  * Timestamps: `createdAt` defaults to now() on insert, `updatedAt` is
  * touched on every write that changes a row — the `@default(now())` /
  * `@updatedAt` behavior of `schema.prisma:26-27`.
  */
final class GraftTable(
    val spark: SparkSession,
    val catalog: Catalog,
    val name: String,
    val schema: StructType,
    val uniqueKeys: Seq[Seq[String]] = Nil,
    val timestampCols: Seq[String] = Nil,
    /** Partition columns: the table is stored as one independently-versioned
      * slice per distinct value tuple, so (a) selective reads (e.g. the
      * `status IS NULL` poll slice, `runner/locator.ts:61-67`) list only the
      * matching slice directories ([[snapshotSlice]]) and (b) mutations
      * rewrite only the slices they touch — the SURVEY §4.2 layout
      * requirement for status-polled tables at 100 TB. */
    val partitionCols: Seq[String] = Nil,
    /** Per-column maximum string lengths (the `VARCHAR(n)` contract of
      * the reference's Postgres columns): any written value longer than
      * its declared cap raises the P2000 equivalent. Parquet stores
      * strings untyped, so enforcement is engine-side, riding the same
      * validation pass as the NULL/unique checks. */
    val maxLengths: Map[String, Int] = Map.empty,
    /** Columns to cover with parquet BLOOM FILTERS at write time — the
      * point-lookup complement of min/max stats: a high-cardinality
      * UNSORTED column (an external key, a phone, a URL) has overlapping
      * per-file ranges that min/max and z-order can never prune, but a
      * per-file membership sketch rejects files that provably lack the
      * looked-up value. The write pays one parquet-native bloom per file
      * (built inline by the writer — no extra scan); [[SliceStats]] lifts
      * the filter bytes into the sidecar so [[GraftFileIndex]] can test
      * equality/IN conjuncts at PLANNING time, before any task launches —
      * at 100 TB a point lookup touches the one file that can match
      * instead of every file whose range overlaps. */
    val bloomCols: Seq[String] = Nil,
    /** Expected distinct values per file for [[bloomCols]] — sizes the
      * bloom bitset (parquet's optimalNumOfBits at 1% FPP). */
    val bloomNdv: Long = 100000L) {

  /** ON DELETE RESTRICT relations: (child table, child FK column, parent
    * key column) triples whose live child rows block deletion of referenced
    * parent rows — the referential behavior Prisma/Postgres give the
    * reference's `CrmSyncEvent.companyId → Company.id` FK
    * (`migration.sql:93`, declared `schema.prisma:80-82`). */
  private[store] var restricts: Seq[(GraftTable, String, String)] = Nil

  maxLengths.foreach { case (c, mx) =>
    require(mx > 0, s"$name: maxLength for $c must be positive")
    require(schema.fieldNames.contains(c), s"$name: no column $c for maxLengths")
    require(schema(c).dataType == StringType,
      s"$name: maxLengths applies to string columns only ($c is ${schema(c).dataType})")
  }

  require(bloomNdv > 0, s"$name: bloomNdv must be positive")
  bloomCols.foreach { c =>
    require(schema.fieldNames.contains(c), s"$name: no column $c for bloomCols")
  }

  /** DataFrameWriter options enabling parquet-native bloom filters on
    * [[bloomCols]] — applied by every slice write (staging and
    * compaction), so the sidecar collection that follows each write can
    * lift the filters without a second scan. */
  private[store] def bloomWriteOptions: Map[String, String] =
    bloomCols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> bloomNdv.toString)).toMap

  // "__" prefixes are reserved for engine-internal staging columns
  // (__pk in slice staging, __o_/__n_/__present_ in the change feed,
  // __rn/__keep in create dedup…): a user column with the prefix could
  // silently collide with one of them deep inside a write plan — refuse
  // at declaration, where the error is legible.
  schema.fieldNames.foreach(c => require(!c.startsWith("__"),
    s"$name: column $c — the __ prefix is reserved for engine columns"))

  /** The inverse view, registered on the CHILD: (parent, childCol,
    * parentCol) triples validated on child-side writes — inserting or
    * updating a child row whose FK value has no parent row raises P2003,
    * exactly as the Postgres FK does on orphan inserts (a FK constrains
    * BOTH directions; `ON DELETE RESTRICT` is only its delete behavior).
    * NULL FK values pass (SQL `MATCH SIMPLE`, Prisma optional relation). */
  private[store] var parentRefs: Seq[(GraftTable, String, String)] = Nil

  /** Declare `child.childCol REFERENCES this.parentCol ON DELETE RESTRICT`:
    * any delete on this table whose doomed rows are still referenced by
    * `child` throws the P2003 equivalent, and any child write with a
    * dangling `childCol` does too. Registration is post-construction
    * (child tables are usually built after their parents). */
  def onDeleteRestrict(child: GraftTable, childCol: String, parentCol: String): this.type = {
    require(child.schema.fieldNames.contains(childCol),
      s"${child.name}: no column $childCol")
    require(schema.fieldNames.contains(parentCol), s"$name: no column $parentCol")
    restricts :+= ((child, childCol, parentCol))
    child.parentRefs :+= ((this, childCol, parentCol))
    this
  }

  /** ON DELETE CASCADE relations: (child, childCol, parentCol) triples
    * whose referencing child rows are DELETED in the same transaction as
    * referenced parent rows — the join-table behavior of the reference's
    * `_CompanyToFirmService` FKs (`migration.sql:96-99`). */
  private[store] var cascades: Seq[(GraftTable, String, String)] = Nil

  /** Declare `child.childCol REFERENCES this.parentCol ON DELETE CASCADE`:
    * deleting rows here deletes matching `child` rows inside the SAME
    * commit (atomic: the manifest swap publishes both or neither).
    * Cascades compose depth-first — a cascaded child delete honors the
    * child's own declared CASCADE/RESTRICT relations — and child-side
    * writes validate the FK exactly as under RESTRICT (a dangling insert
    * is P2003 either way; only the delete behavior differs). */
  def onDeleteCascade(child: GraftTable, childCol: String, parentCol: String): this.type = {
    require(child.schema.fieldNames.contains(childCol),
      s"${child.name}: no column $childCol")
    require(schema.fieldNames.contains(parentCol), s"$name: no column $parentCol")
    cascades :+= ((child, childCol, parentCol))
    child.parentRefs :+= ((this, childCol, parentCol))
    this
  }

  /** Metadata-only schema evolution (Delta/Iceberg ADD/DROP COLUMN): a
    * new handle over the SAME catalog state with the evolved schema — no
    * file is rewritten. Added columns must be nullable; existing files
    * simply lack them, and the explicit-schema parquet read
    * ([[readDirs]]) null-fills on the fly, so at 100 TB adding a column
    * costs one manifest line, not a table rewrite. Dropped columns keep
    * their bytes on disk (reads project them away); a later vacuum-style
    * rewrite could reclaim them. Writes through the evolved handle carry
    * the new shape; readers holding the old handle keep working (their
    * schema is a projection of the files either way). FK registrations
    * carry over; uniqueKeys/timestampCols/partitionCols must survive a
    * drop (enforced). */
  def evolve(add: Seq[StructField] = Nil, drop: Seq[String] = Nil): GraftTable = {
    add.foreach { f =>
      require(f.nullable,
        s"$name: added column ${f.name} must be nullable (existing rows have no value)")
      require(!schema.fieldNames.contains(f.name), s"$name: column ${f.name} exists")
    }
    // FK-backing columns are as load-bearing as keys: restricts/cascades
    // reference parentCol on THIS table, parentRefs reference childCol
    // on THIS table — dropping any of them would break FK validation at
    // the next write, far from this call
    val protectedCols =
      uniqueKeys.flatten ++ timestampCols ++ partitionCols ++
        restricts.map(_._3) ++ cascades.map(_._3) ++ parentRefs.map(_._2)
    drop.foreach { c =>
      require(schema.fieldNames.contains(c), s"$name: no column $c to drop")
      require(!protectedCols.contains(c),
        s"$name: cannot drop $c (key/timestamp/partition/FK column)")
    }
    val evolved = StructType(
      schema.fields.filterNot(f => drop.contains(f.name)) ++ add)
    val t = new GraftTable(spark, catalog, name, evolved, uniqueKeys,
      timestampCols, partitionCols, maxLengths -- drop)
    t.restricts = restricts
    t.parentRefs = parentRefs
    t.cascades = cascades
    // Persist the evolved schema's fingerprint in the manifest (reserved
    // __schema__ entry, same atomic swap + OCC as data commits): writers
    // still holding THIS pre-evolve handle now fail fast with P2022
    // instead of silently nulling evolved columns in rewritten slices.
    // The expectedBase guard makes two racing evolve() calls an explicit
    // P2034 conflict rather than a lost schema. This handle must ITSELF
    // be current: evolving from a stale handle would commit a fingerprint
    // derived from a stale lineage, silently superseding (and orphaning)
    // a newer schema's columns.
    val m = catalog.manifest()
    assertSchemaCurrent(m)
    catalog.commit(
      Map(Catalog.SchemaTable -> m.get(Catalog.SchemaTable)),
      Map(Catalog.SchemaTable ->
        Map(Catalog.encodeValue(name) -> Some(t.schemaFingerprint))))
    t
  }

  /** Throw the P2022 stale-schema error if the catalog has a persisted
    * fingerprint for this table that differs from this handle's — the
    * shared guard for EVERY path that rewrites slices through the
    * handle's declared projection: transactional writes
    * ([[Txn.workingDirs]]), [[compact]] (which rewrites whole slices
    * outside any Txn), and [[evolve]] itself (a stale handle must not
    * supersede a newer schema with a fingerprint derived from its stale
    * lineage). */
  private[store] def assertSchemaCurrent(
      m: Map[String, Map[String, String]]): Unit =
    m.get(Catalog.SchemaTable)
      .flatMap(_.get(Catalog.encodeValue(name)))
      .filter(_ != schemaFingerprint)
      .foreach { _ =>
        throw new StaleSchemaException(
          s"$name: schema evolved since this handle was created — " +
            "use the handle returned by evolve()")
      }

  /** Stable fingerprint of the declared schema (name:type:nullability per
    * field, order-sensitive) — the value [[evolve]] persists and write
    * transactions validate against. */
  private[store] lazy val schemaFingerprint: String = {
    val ddl = schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}:${f.nullable}").mkString(";")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  private[store] def emptyDf: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Union-read of a set of slice directories, re-aligned to declared
    * column order. Explicit schema → an empty/fileless dir reads as 0 rows. */
  private[store] def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyDf
    else spark.read.schema(schema).parquet(dirs.sorted: _*)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Current committed snapshot (empty DataFrame before first insert). */
  def snapshot(): DataFrame = readDirs(catalog.currentDirs(name).values.toSeq)

  /** A [[graft.query.Model]] reading this table's current snapshot with
    * stats-based data skipping wired in: the model's where-clause scalar
    * conjuncts route through [[snapshotWhere]], so Prisma-surface reads
    * (findMany/count/aggregate/groupBy) prune slices and files before the
    * scan. Resolve-per-call (`df` is a thunk) — each read sees the latest
    * committed snapshot, exactly like `snapshot()`. */
  def model(primaryKey: String,
            relations: Seq[graft.query.Relation] = Nil): graft.query.Model =
    new graft.query.Model(
      () => snapshot(), primaryKey,
      // Only SINGLE-column keys are individually unique: a column of a
      // composite key (Seq("a","b")) admits duplicates on its own, so
      // passing it would let findUnique return an arbitrary limit(1) row.
      uniqueKeys = uniqueKeys.collect { case Seq(c) => c }.distinct,
      relations = relations,
      pruneSource = Some(snapshotWhere _))

  /** Time travel: the table exactly as of catalog commit `commitId`
    * ([[Catalog.currentCommitId]] — record it next to a training run's
    * config and the run's corpus is pinned forever, or until
    * [[Catalog.vacuum]]'s retention reclaims the superseded versions;
    * within retention this is Iceberg/Delta `VERSION AS OF`). */
  def snapshotAt(commitId: Long): DataFrame =
    readDirs(catalog.dirsAt(name, commitId).values.toSeq)

  /** RESTORE to an earlier commit (the Delta `RESTORE TABLE … VERSION AS
    * OF` shape): publish a NEW commit whose slice pointers for this table
    * equal those at `commitId` — a pure manifest operation, no data is
    * rewritten or copied, so restoring a 100 TB table costs one manifest
    * swap. History stays append-only: the bad commits remain time-
    * travelable ([[snapshotAt]] across the restore still sees them), and
    * the restore itself is an ordinary OCC commit (a racing writer turns
    * it into the usual P2034 retry). `commitId` 0 restores to the empty
    * table (before any commit). Restore never resurrects reclaimed data:
    * if [[Catalog.vacuum]] already dropped a restored-to slice version,
    * this throws P2025 instead of publishing dangling pointers. A no-op
    * restore (pointers already equal) publishes nothing. */
  def restoreTo(commitId: Long): Unit = {
    val m0 = catalog.manifest()
    assertSchemaCurrent(m0)
    val schemaBase = m0.get(Catalog.SchemaTable)
    val base = m0.get(name)
    val target: Map[String, String] =
      if (commitId == 0L) Map.empty
      else catalog.manifestAt(commitId).getOrElse(name, Map.empty)
    target.foreach { case (pk, v) =>
      val dir = catalog.versionDir(name, pk, v)
      if (!new java.io.File(dir).isDirectory)
        throw new RecordNotFoundException(
          s"$name: slice $pk version $v of commit $commitId was vacuumed — " +
            "cannot restore past the retention window")
    }
    val cur = base.getOrElse(Map.empty[String, String])
    if (cur != target) {
      val updates: Map[String, Option[String]] =
        (cur.keySet ++ target.keySet).iterator
          .map(pk => pk -> target.get(pk)).toMap
      catalog.commit(Map(name -> base, Catalog.SchemaTable -> schemaBase),
        Map(name -> updates))
    }
  }

  /** Bin-pack small slice files. Every commit writes a slice with the
    * mutation's write parallelism, so a frequently-flipped slice (the
    * status-partitioned poll queue) accumulates file sets commit after
    * commit — and at 100 TB the per-file open/footer cost starts to
    * dominate the scan. Rewrites each current slice holding more than
    * `maxFiles` data files into `ceil(bytes / targetBytes)` files and
    * publishes all rewrites in ONE atomic manifest commit (OCC-checked:
    * a concurrent writer moving the table fails the compaction, never the
    * writer). Readers holding the old snapshot are untouched — old
    * versions stay on disk until [[Catalog.vacuum]]. Returns the number
    * of slices rewritten. File listing goes through java.nio here because
    * the catalog root is a local path; an object-store deployment would
    * swap in the Hadoop FileSystem API.
    *
    * `zorderBy`: when non-empty, EVERY current slice is rewritten (not
    * just fragmented ones) range-partitioned + sorted by the Morton
    * z-value of those columns ([[Zorder]]), so each output file covers a
    * narrow band of every clustered column — [[snapshotWhere]]'s
    * file-level skipping then prunes on any of them. */
  def compact(maxFiles: Int = 4, targetBytes: Long = 128L << 20,
              zorderBy: Seq[String] = Nil): Int = {
    // Stale-schema guard + pin: compact rewrites WHOLE slices through
    // this handle's declared projection outside any Txn — a pre-evolve
    // handle would silently null evolved columns in every compacted
    // slice. Checked here AND pinned into expectedBase below, so an
    // evolve() landing during the (possibly long) rewrite job turns into
    // a P2034 conflict instead of committing the stale projection.
    val m0 = catalog.manifest()
    assertSchemaCurrent(m0)
    val schemaBase = m0.get(Catalog.SchemaTable)
    val base = m0.get(name)
    var staged = Map.empty[String, Option[String]]
    catalog.currentDirs(name).foreach { case (pk, dir) =>
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (files.length > maxFiles || (zorderBy.nonEmpty && files.nonEmpty)) {
        val totalBytes = files.map(_.length()).sum
        val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
        val (v, outDir) = catalog.newVersionDir(name, pk)
        val slice = readDirs(Seq(dir))
        val out =
          if (zorderBy.isEmpty) slice.coalesce(nOut)
          else Zorder.withZValue(slice, zorderBy, "__z")
            .repartitionByRange(nOut, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        out.write.mode("overwrite").options(bloomWriteOptions).parquet(outDir)
        SliceStats.writeSidecar(spark, outDir, bloomCols.toSet)
        staged += (pk -> Some(v))
      }
    }
    if (staged.nonEmpty)
      catalog.commit(Map(name -> base, Catalog.SchemaTable -> schemaBase),
        Map(name -> staged))
    staged.size
  }

  /** Catalog-level partition pruning: read only the slices whose partition
    * values match `values` (null allowed; columns omitted from `values`
    * match any slice). At 100 TB this skips even the file LISTING of
    * non-matching slices — stronger than scan-side row-group skipping. */
  def snapshotSlice(values: Map[String, Any]): DataFrame =
    readDirs(sliceDirs(catalog.currentDirs(name), values))

  /** The dirs of `dirs` (partKey → dir) whose partition values match
    * `values` — the matching behind [[snapshotSlice]] and
    * [[Txn.readSlice]]. */
  private[store] def sliceDirs(dirs: Map[String, String],
                               values: Map[String, Any]): Seq[String] = {
    val unknown = values.keySet -- partitionCols.toSet
    require(unknown.isEmpty,
      s"$name: slice read on non-partition column(s) ${unknown.mkString(",")} " +
        s"(partitioned by ${if (partitionCols.isEmpty) "<nothing>" else partitionCols.mkString(",")})" +
        " — would silently read nothing")
    val tokens = values.map { case (c, v) => s"$c=${Catalog.encodeValue(v)}" }.toSet
    dirs.collect { case (pk, dir) if tokens.subsetOf(pk.split(",").toSet) => dir }.toSeq
  }

  /** The slices of `dirs` (partKey → dir) among `pks`, read: a statement
    * that knows its touched slices reads only their directories. */
  private[store] def readSlices(dirs: Map[String, String], pks: Set[String]): DataFrame =
    readDirs(dirs.collect { case (pk, dir) if pks(pk) => dir }.toSeq)

  /** The dirs of `dirs` a statement that rewrites the rows matching `pred`
    * with one of `sets` must read: the slices whose sidecar stats let
    * `pred` match, plus every slice a SET can move rows into — all slices
    * when a moved partition column's new value is not a literal. */
  private[store] def candidateDirs(dirs: Map[String, String], pred: Column,
                                   sets: Seq[Map[String, Column]]): Seq[String] = {
    // a predicate bound to another plan's columns only disables pruning
    val cs = scala.util.Try(resolvedConjuncts(pred)).getOrElse(Nil)
    // no sidecar → never skip
    val kept = dirs.values.filter(d =>
      SliceStats.readSidecar(d).forall(st => cs.forall(SliceStats.mayMatch(_, st))))
    val targets = sets.flatMap { set =>
      val moved = partitionCols.filter(set.contains).map(c => c -> literalOf(set(c), c))
      if (moved.isEmpty) Nil
      else if (moved.forall(_._2.isDefined)) sliceDirs(dirs, moved.map { case (c, v) => c -> v.get }.toMap)
      else dirs.values
    }
    (kept ++ targets).toSeq.distinct.sorted
  }

  /** The driver-side value of a SET expression that is a literal of the
    * column's own [[driverSafeTypes]] type (whose slice key
    * [[Catalog.encodeValue]] renders exactly), else None. */
  private def literalOf(c: Column, colName: String): Option[Option[Any]] = {
    val e = org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
    val dt = schema(colName).dataType
    if (!driverSafeTypes.contains(dt) || !e.resolved || !e.foldable || e.dataType != dt) None
    else Some(Option(org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(e.eval(), dt)))
  }

  /** Stats-based data skipping: a filtered snapshot that drops every slice
    * whose footer-derived column ranges ([[SliceStats]] sidecar) prove the
    * predicate can't match — the Iceberg/Delta file-skipping idea at the
    * slice granularity, orthogonal to [[snapshotSlice]]'s partition-value
    * pruning (this one prunes on ANY column with usable stats, e.g. an id
    * range or a timestamp window on a status-partitioned table).
    *
    * Works on the predicate's AND-conjuncts of shape `col op literal`,
    * `IN`, `IS [NOT] NULL`. The FULL predicate is always re-applied to the
    * surviving slices — a missing/corrupt sidecar (e.g. a pre-stats slice)
    * or an unrecognized conjunct only disables skipping, never correctness.
    * At 100 TB this prunes before any slice file listing or footer open:
    * the read plans over the kept directories only. */
  def snapshotWhere(pred: Column): DataFrame =
    readDirs(prunedPaths(pred)._1).filter(pred)

  /** The snapshot as a pruning scan RELATION ([[GraftFileIndex]]): a
    * `HadoopFsRelation` whose file listing happens at planning time under
    * whatever filters Catalyst pushes down — so a plain `.filter` (or a
    * SQL WHERE over a registered view, or a join's pushed predicate)
    * skips slices/files with NO explicit [[snapshotWhere]] call, and the
    * scan is Spark's own vectorized parquet reader with `PushedFilters`
    * row-group pruning on top. Pinned to the current commit at call time,
    * exactly like [[snapshot]]. */
  def snapshotRelation(): DataFrame = snapshotRelationWithIndex()._1

  /** Time-travel twin of [[snapshotRelation]] ([[snapshotAt]] semantics). */
  def snapshotRelationAt(commitId: Long): DataFrame =
    relationFor(catalog.dirsAt(name, commitId).values.toSeq.sorted)._1

  /** [[snapshotRelation]] plus its index — the index exposes the last
    * planning decision (kept/total files) for specs and skip-ratio
    * reporting. */
  private[graft] def snapshotRelationWithIndex(): (DataFrame, GraftFileIndex) =
    relationFor(catalog.currentDirs(name).values.toSeq.sorted)

  private def relationFor(dirs: Seq[String]): (DataFrame, GraftFileIndex) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val idx = new GraftFileIndex(spark, name, dirs, schema)
    val rel = HadoopFsRelation(idx, StructType(Nil), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(spark)
    (org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      LogicalRelation(rel)), idx)
  }

  /** The predicate's AND-conjuncts, resolved against the table schema
    * (driver-side analysis only, no job): typed catalyst comparisons with
    * coerced literals — exactly what the stats domain can evaluate. */
  private def resolvedConjuncts(pred: Column) = {
    val analyzed = emptyDf.filter(pred).queryExecution.analyzed
    analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.map(SliceStats.conjuncts).getOrElse(Nil)
  }

  /** (kept dirs, total dirs) under slice-level stats pruning — split out
    * for tests and for callers that want the skip ratio. */
  private[store] def prunedDirs(pred: Column): (Seq[String], Int) = {
    val all = catalog.currentDirs(name)
    (candidateDirs(all, pred, Nil), all.size)
  }

  /** Two-level pruning: slices by merged stats, then FILES inside each
    * surviving slice by their own footer ranges — the read plans over the
    * kept file paths only. File granularity is what a z-order compaction
    * ([[compact]]'s `zorderBy`) feeds: the slice range of a clustered
    * column stays wide while each file covers a narrow band.
    * Returns (kept paths — dirs when a slice has no file stats —, kept
    * file count, total file count known to sidecars). */
  private[store] def prunedPaths(pred: Column): (Seq[String], Int, Int) = {
    val cs = resolvedConjuncts(pred)
    var keptFiles = 0
    var totalFiles = 0
    val paths = catalog.currentDirs(name).values.toSeq.sorted.flatMap { dir =>
      SliceStats.readSidecar(dir) match {
        case Some(st) =>
          totalFiles += st.files.size
          if (!cs.forall(c => SliceStats.mayMatch(c, st))) Nil
          else if (st.files.isEmpty) Seq(dir) // legacy sidecar: whole slice
          else {
            val kept = st.files.toSeq.sortBy(_._1).collect {
              case (f, fs) if fs.rows > 0 && cs.forall(c =>
                SliceStats.mayMatch(c,
                  SliceStats.Stats(fs.rows, fs.cols))) &&
                cs.forall(c => SliceStats.bloomMayMatch(c, fs)) => s"$dir/$f"
            }
            keptFiles += kept.size
            kept
          }
        case None => Seq(dir) // no sidecar → never skip
      }
    }
    (paths, keptFiles, totalFiles)
  }

  /** Partition-key expression: `col1=<urlenc(value)>,col2=...`, the literal
    * [[Catalog.AllKey]] for unpartitioned tables. Scala-side counterpart is
    * [[Catalog.encodeValue]] — both must produce identical strings. */
  private[store] def partKeyCol: Column =
    if (partitionCols.isEmpty) lit(Catalog.AllKey)
    else concat_ws(",", partitionCols.map(c =>
      concat(lit(c + "="),
        coalesce(url_encode(col(c).cast("string")), lit(Catalog.NullToken)))): _*)

  /** Set the timestamp columns among `cols` to the statement's `now`. */
  private def touch(df: DataFrame, cols: Seq[String], now: Column): DataFrame =
    cols.filter(timestampCols.contains).filter(schema.fieldNames.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, now))

  private def align(df: DataFrame): DataFrame =
    df.select(schema.fieldNames.map(col).toIndexedSeq: _*)

  // ---------- single-op auto-commit surface ----------

  def create(rows: DataFrame): Long = autoCommit(_.create(this, rows))
  def createMany(rows: DataFrame, skipDuplicates: Boolean = false): Long =
    autoCommit(_.createMany(this, rows, skipDuplicates))
  /** createManyAndReturn (`effect.ts:487-493`): bulk insert returning the
    * actually-inserted rows (duplicates excluded under skipDuplicates). */
  def createManyAndReturn(rows: DataFrame, skipDuplicates: Boolean = false): DataFrame =
    Txn.run(catalog)(_.createManyAndReturn(this, rows, skipDuplicates))
  /** updateManyAndReturn (`effect.ts:527-533`): bulk update returning the
    * post-update state of every matched row. */
  def updateManyAndReturn(where: Where, set: Map[String, Column]): DataFrame =
    Txn.run(catalog)(_.updateManyAndReturn(this, where, set))
  def update(where: Where, set: Map[String, Column]): Long =
    autoCommit(_.update(this, where, set))
  def updateMany(where: Where, set: Map[String, Column]): Long =
    autoCommit(_.updateMany(this, where, set))
  def delete(where: Where): Long = autoCommit(_.delete(this, where))
  def deleteMany(where: Where): Long = autoCommit(_.deleteMany(this, where))
  def upsert(keyCols: Seq[String], rows: DataFrame): Long =
    autoCommit(_.upsert(this, keyCols, rows))
  /** Nested create, auto-committed (see [[Txn.createNested]]). */
  def createNested(rows: DataFrame, nested: Seq[NestedWrite],
                   skipDuplicates: Boolean = false): Long =
    autoCommit(_.createNested(this, rows, nested, skipDuplicates))

  private def autoCommit(f: Txn => Long): Long = Txn.run(catalog)(f)

  // ---------- staged (transactional) computation ----------

  /** The slices `df`'s rows live in, in one action. */
  private def sliceKeys(df: DataFrame): Set[String] =
    df.groupBy(partKeyCol.as("__pk")).count().collect().map(_.getString(0)).toSet

  /** `rows`, the next state of `census`'s touched slices, staged with the
    * census the statement computed before its write. */
  private[store] def precounted(rows: DataFrame, census: Census): ObservedStaged =
    ObservedStaged(rows.withColumn("__pk", partKeyCol), () => census, precounted = true)

  /** Apply a SET clause to rows where `cond` holds (untouched rows pass
    * through); `updatedAt` is touched on matched rows. The caller must have
    * materialized `cond` into a column BEFORE this rewrites anything the
    * predicate references.
    *
    * ONE simultaneous projection, not a per-column fold: every SET
    * expression evaluates against the PRE-update row, so
    * `SET a = b, b = a` swaps (Postgres semantics) instead of reading a
    * half-rewritten row. */
  private def withSet(df: DataFrame, cond: Column, set: Map[String, Column],
                      now: Column): DataFrame =
    withSets(df, Seq(cond -> set), now)

  /** [[withSet]] with several (condition, SET) branches, first match wins:
    * the two-branch update of [[stagedUpdateWhereIn]] rewrites both
    * branches in the same single projection. `now` is the statement's
    * timestamp, written to `updatedAt` on every rewritten row. */
  private def withSets(df: DataFrame, branches: Seq[(Column, Map[String, Column])],
                       now: Column): DataFrame = {
    val touchesUpdatedAt = schema.fieldNames.contains("updatedAt") &&
      timestampCols.contains("updatedAt")
    df.select(df.columns.toIndexedSeq.map { c =>
      // a branch that leaves `c` alone still claims its rows (keeps the
      // old value) so a later branch writing `c` cannot take them over
      val arms = branches.map { case (cond, set) =>
        cond -> set.get(c)
          .orElse(if (c == "updatedAt" && touchesUpdatedAt) Some(now) else None)
      }
      if (arms.forall(_._2.isEmpty)) col(c)
      else arms.tail.foldLeft(when(arms.head._1, arms.head._2.getOrElse(col(c)))) {
        case (w, (cond, v)) => w.when(cond, v.getOrElse(col(c)))
      }.otherwise(col(c)).as(c)
    }: _*)
  }

  /** An observed metric that is a set of slice keys. */
  private def observedKeys(m: Map[String, Any], key: String): Set[String] =
    m.get(key).map(_.asInstanceOf[scala.collection.Seq[String]].toSet).getOrElse(Set.empty)

  private def observedCount(m: Map[String, Any], key: String): Long =
    m.get(key).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** The one-job update. `frame` is the candidate state with every
    * predicate the branches test already projected as a column, so no SET
    * changes what a condition sees; `branches` are (condition, SET) pairs,
    * first match wins; `tmpCols` are dropped before the write.
    *
    * The census — per branch the row count and the count of rows whose
    * SET breaks a write constraint, plus pre- and post-image slices (the
    * latter differ only when a SET moves a partition column) — is
    * observed inside the write ([[observedWrite]]). A violation is
    * classified to its precise P-code by [[validateUpdated]] only once
    * the census shows one. */
  private def observedUpdate(frame: DataFrame, slices: Int,
                             branches: Seq[(Column, Map[String, Column])],
                             tmpCols: Seq[String], single: Boolean): ObservedStaged = {
    val now = StatementTimestamp.draw()._1
    val moves = branches.exists(b => partitionCols.exists(b._2.contains))
    val br = branches.indices.reverse.foldLeft(lit(-1)) { (acc, i) =>
      when(branches(i)._1, lit(i)).otherwise(acc)
    }
    val post = withSets(frame.withColumn("__br", br).withColumn("__prepk", partKeyCol),
      branches.indices.map(i => (col("__br") === i) -> branches(i)._2), now)
      .withColumn("__postpk", if (moves) partKeyCol else col("__prepk"))
    val aggs = branches.indices.flatMap { i =>
      val viol = setViolation(branches(i)._2.keySet).getOrElse(lit(false))
      Seq(count(when(col("__br") === i, 1)).as(s"n$i"),
        count(when(col("__br") === i && viol, 1)).as(s"v$i"))
    }
    val (rows, census) = observedWrite(post, slices, col("__br") >= 0,
      if (moves) Seq(col("__prepk"), col("__postpk")) else Seq(col("__prepk")),
      aggs, "__br" +: "__prepk" +: "__postpk" +: tmpCols)
    ObservedStaged(rows, () => {
      val m = census()
      branches.indices.foreach { i =>
        if (observedCount(m, s"v$i") > 0)
          validateUpdated(post.filter(col("__br") === i), branches(i)._2.keySet)
      }
      val n = branches.indices.map(i => observedCount(m, s"n$i"))
      if (single && n(0) == 0)
        throw new RecordNotFoundException(s"$name: update found no row")
      // rewritten rows land in their post-image slices
      Census(observedKeys(m, "__touched"), observedKeys(m, if (moves) "__pk1" else "__pk0"), n)
    })
  }

  /** The one-job delete: `doomed` flags the rows of `current` (the state
    * of `slices` candidate slices) to drop; `tmpCols` are dropped before
    * the write. */
  private[store] def observedDelete(current: DataFrame, slices: Int, doomed: Column,
                                    tmpCols: Seq[String], single: Boolean): ObservedStaged = {
    val flagged = current.withColumn("__doomed", doomed)
    val (rows, census) = observedWrite(flagged, slices, col("__doomed"), Seq(partKeyCol),
      Seq(count(when(col("__doomed"), 1)).as("n")), "__doomed" +: tmpCols,
      keep = !col("__doomed"))
    ObservedStaged(rows, () => {
      val m = census()
      val n = observedCount(m, "n")
      if (single && n == 0)
        throw new RecordNotFoundException(s"$name: delete found no row")
      Census(observedKeys(m, "__touched"), Set.empty, IndexedSeq(n))
    })
  }

  /** The write plan of a one-job statement and its census. `next` is the
    * next state of the `slices` candidate slices (data columns plus
    * `tmpCols`), `changed` flags the rows the statement rewrites or
    * drops, `pks` their pre- and post-image slice keys, `aggs` the
    * statement's own counts over them; rows where `keep` fails are not
    * written.
    *
    * Over one candidate slice (every unpartitioned table, and a poll
    * slice nothing else can be touched alongside) the census rides the
    * write's own scan: the slice's rows are written whole, and published
    * only if a row changed. Over several, the changed rows feed the census
    * on the broadcast side of a semi-join that narrows the write to the
    * slices they touch. (A constant slice key would turn that semi-join
    * into a row-limited existence probe that starves the observed side,
    * so an unpartitioned table never takes it.) `census` returns the
    * observed metrics, with the touched slices under `__touched`. When the
    * optimizer pruned the observed rows away with a side it proved empty
    * (a delete of every row writes nothing), one aggregate action counts
    * them instead. */
  private def observedWrite(next: DataFrame, slices: Int, changed: Column, pks: Seq[Column],
                            aggs: Seq[Column], tmpCols: Seq[String],
                            keep: Column = lit(true)): (DataFrame, () => Map[String, Any]) = {
    val obs = new Observation()
    val (observed, metrics, rows) =
      if (slices <= 1 || partitionCols.isEmpty) {
        val metrics = aggs ++ pks.zipWithIndex.map { case (pk, i) =>
          collect_set(when(changed, pk)).as(s"__pk$i") }
        (next, metrics, next.observe(obs, metrics.head, metrics.tail: _*).filter(keep)
          .drop(tmpCols: _*).withColumn("__pk", partKeyCol))
      } else {
        val metrics = aggs ++ pks.zipWithIndex.map { case (pk, i) => collect_set(pk).as(s"__pk$i") }
        val observed = next.filter(changed)
        val keys = observed.observe(obs, metrics.head, metrics.tail: _*)
          .select((if (pks.size == 1) pks.head else explode(array(pks: _*))).as("__pk"))
        (observed, metrics, next.filter(keep).drop(tmpCols: _*).withColumn("__pk", partKeyCol)
          .join(broadcast(keys), Seq("__pk"), "left_semi"))
      }
    (rows, () => {
      val m = Some(obs.get).filter(_.nonEmpty).getOrElse {
        val r = observed.agg(metrics.head, metrics.tail: _*).collect().head
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
      m + ("__touched" -> pks.indices.flatMap(i => observedKeys(m, s"__pk$i")))
    })
  }

  /** SET applied unconditionally to every row of `df` (FK validation views). */
  private[store] def applySet(df: DataFrame, set: Map[String, Column]): DataFrame =
    withSet(df, lit(true), set, StatementTimestamp.draw()._1)

  /** The insert, staged, plus the inserted slice (createManyAndReturn,
    * `effect.ts:487-493`).
    *
    * ONE materialization of the incoming batch, with the survivor flag
    * computed INSIDE it: the in-batch dedup ranks (sequential per unique
    * key) and the snapshot existence probes all fold into a `__keep`
    * column frozen by a single checkpoint, and the per-slice stats, raw
    * count, null-constraint check and the FK orphan counts of `fks` ride
    * that checkpoint as observed metrics — two actions per insert
    * (materialize, slice write), and at 100 TB the batch materializes
    * once. The survivor choice among duplicate keys is arbitrary (as
    * `dropDuplicates`' was) but frozen: every consumer — the census, the
    * slice writes, the returned slice — sees the same winners.
    *
    * `dirs` is the transaction's slice-dir map: the snapshot probes read
    * every slice (none before the first insert, so they are skipped),
    * the staged write only the slices the survivors land in. */
  private[store] def stagedCreateReturning(dirs: Map[String, String], rows: DataFrame,
                                           skipDuplicates: Boolean,
                                           fks: Seq[ParentKeys] = Nil): (ObservedStaged, DataFrame) = {
    // a nondeterministic expression can't sit inside a window ORDER BY —
    // project the tie-break id first (its value is arbitrary; the
    // checkpoint below freezes whatever was drawn)
    var marked = touch(align(rows), timestampCols, StatementTimestamp.draw()._1)
      .withColumn("__mid", monotonically_increasing_id())
    var keep: Column = lit(true)
    var tmpCols: Seq[String] = Seq("__mid")
    uniqueKeys.zipWithIndex.foreach { case (uk, i) =>
      // ordering by the previous keep-flag makes the chain equivalent to
      // SEQUENTIAL dedup passes: a row eliminated by an earlier key never
      // displaces a survivor in a later key's group. A key with any NULL
      // column never conflicts (SQL UNIQUE semantics — Postgres admits
      // multiple NULLs), so such rows bypass the rank entirely; the
      // snapshot probes below agree for free (a NULL key joins nothing).
      val anyNull = uk.map(col(_).isNull).reduce(_ || _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(uk.map(col): _*)
        .orderBy(keep.cast("int").desc, col("__mid"))
      marked = marked.withColumn(s"__k$i",
        keep && (anyNull || row_number().over(w) === 1))
      keep = col(s"__k$i")
      tmpCols :+= s"__k$i"
    }
    val current = readDirs(dirs.values.toSeq)
    if (dirs.nonEmpty) uniqueKeys.zipWithIndex.foreach { case (uk, i) =>
      // left-join probe instead of an anti-join so non-surviving rows stay
      // countable; keys are unique in the snapshot (engine invariant), so
      // the join multiplies nothing, and a NULL key matches nothing — SQL
      // unique-constraint behavior, same as the anti-join it replaces
      val probe = current.select(uk.map(col): _*).withColumn(s"__ex$i", lit(true))
      marked = marked.join(probe, uk, "left")
      keep = keep && col(s"__ex$i").isNull
      tmpCols :+= s"__ex$i"
    }
    // FK anti-joins as left joins against the distinct parent keys: a
    // surviving non-NULL FK value without a parent row is an orphan
    fks.zipWithIndex.foreach { case (fk, i) =>
      marked = marked.join(fk.keys.select(col(fk.childCol))
        .withColumn(s"__fk$i", lit(true)), Seq(fk.childCol), "left")
      tmpCols :+= s"__fk$i"
    }
    // stats + raw count + null-constraint + length + FK checks RIDE THE
    // CHECKPOINT action as observed metrics — the insert path pays TWO
    // driver actions (materialize-with-stats, slice write), not three.
    // NULL into a non-nullable column is the P2011 equivalent; a string
    // over its declared maxLengths cap is P2000 (parquet itself would
    // happily store either; only surviving rows are checked).
    val (nullViol, lenViol) = insertViolations
    val obs = new Observation()
    val orphans = fks.zipWithIndex.map { case (fk, i) =>
      count(when(col("__keep") && col(fk.childCol).isNotNull && col(s"__fk$i").isNull, 1))
        .as(s"fk$i")
    }
    marked = marked.withColumn("__keep", keep)
      .observe(obs,
        count(lit(1)).as("all"),
        Seq(count(when(col("__keep"), 1)).as("n"),
          count(when(col("__keep") && nullViol, 1)).as("nv"),
          count(when(col("__keep") && lenViol, 1)).as("lv"),
          collect_set(when(col("__keep"), partKeyCol)).as("pks")) ++ orphans: _*)
      .drop(tmpCols: _*)
      .localCheckpoint()
    val m = obs.get
    val n = observedCount(m, "n")
    checkInsert(observedCount(m, "nv"), observedCount(m, "lv"),
      dupes = n < observedCount(m, "all"), skipDuplicates)
    fks.zipWithIndex.foreach { case (fk, i) =>
      if (observedCount(m, s"fk$i") > 0) throw new ForeignKeyViolationException(fk.message)
    }
    // the probe using-joins moved the key columns to the front — put the
    // returned slice back in declared order (createManyAndReturn hands
    // this frame to the caller; positional consumers must see the schema)
    val clean = marked.filter(col("__keep"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val pks = observedKeys(m, "pks")
    (precounted(readSlices(dirs, pks).unionByName(clean), Census(pks, pks, IndexedSeq(n))), clean)
  }

  private def requiredCols: Seq[String] = schema.fields.filterNot(_.nullable).map(_.name).toSeq

  /** Row tests for a NULL in a non-nullable column (P2011) and for a
    * string over its declared maxLengths cap (P2000). */
  private def insertViolations: (Column, Column) = (
    requiredCols.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false)),
    maxLengths.toSeq.map { case (c, mx) => length(col(c)) > mx }
      .reduceOption(_ || _).getOrElse(lit(false)))

  /** The insert checks over the surviving rows, in P-code order: NULL
    * violations, over-length values, then (unless `skipDuplicates`) a
    * duplicate key that cost a row. */
  private def checkInsert(nullViolations: Long, lengthViolations: Long, dupes: Boolean,
                          skipDuplicates: Boolean): Unit = {
    if (nullViolations > 0)
      throw new NullConstraintException(
        s"$name: NULL in non-nullable column (one of ${requiredCols.mkString(",")})")
    if (lengthViolations > 0)
      throw new ValueTooLongException(
        s"$name: value exceeds declared max length " +
          s"(${maxLengths.map { case (c, mx) => s"$c<=$mx" }.mkString(",")})")
    if (!skipDuplicates && uniqueKeys.nonEmpty && dupes)
      throw new UniqueViolationException(
        s"$name: unique constraint would be violated on ${uniqueKeys.mkString(",")}")
  }

  /** [[stagedCreateReturning]] for a literal batch ([[literalRows]]) into
    * a table without declared FKs: one Spark job instead of two. The
    * in-batch dedup (same sequential per-key rule, NULL keys never
    * conflict) and the constraint census run on the driver, and the
    * snapshot unique-key probe folds into the slice write as an observed
    * count. A batch whose in-batch survivors break a constraint returns
    * None, so the Spark path decides which survivors the snapshot probe
    * leaves and classifies the breach exactly as before. */
  private[store] def stagedCreateLiteral(dirs: Map[String, String], rows: DataFrame,
                                         skipDuplicates: Boolean): Option[ObservedStaged] = {
    if (parentRefs.nonEmpty) return None
    val aligned = align(rows)
    val batch = literalRows(aligned, uniqueKeys.flatten).getOrElse(return None)
    val nowTs = StatementTimestamp.draw()._2
    val ts = timestampCols.filter(schema.fieldNames.contains).toSet
    val inSchema = StructType(aligned.schema.fields.toSeq.map(f =>
      // nullable like the Spark path's input, so a rare-path probe never
      // folds to false; touched timestamp columns hold the statement's
      StructField(f.name, if (ts(f.name)) TimestampType else f.dataType, nullable = true)))
    def idx(c: String): Int = inSchema.fieldIndex(c)
    val vals = batch.map(r => Row.fromSeq(r.toSeq.zipWithIndex.map {
      case (_, i) if ts(inSchema(i).name) => nowTs
      case (v, _) => v
    }))
    val keep = Array.fill(vals.length)(true)
    uniqueKeys.foreach { uk =>
      val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
      vals.indices.foreach { i =>
        val key = uk.map(c => vals(i).get(idx(c)))
        if (keep(i) && !key.contains(null) && !seen.add(key)) keep(i) = false
      }
    }
    val survivors = vals.indices.filter(keep).map(vals)
    if (survivors.exists(breaksConstraint(_, idx))) return None
    checkInsert(0, 0, dupes = survivors.length < vals.length, skipDuplicates)
    val lands = survivors.map(r =>
      if (partitionCols.isEmpty) Catalog.AllKey
      else partitionCols.map(c => s"$c=${Catalog.encodeValue(r.get(idx(c)))}").mkString(",")).toSet
    val fresh = spark.createDataFrame(java.util.Arrays.asList(survivors: _*), inSchema)
    val current = readDirs(dirs.values.toSeq)
    // the snapshot probe: left joins so a hit stays countable (keys are
    // unique in the snapshot, and a NULL key joins nothing)
    val probes = if (dirs.isEmpty) Nil else uniqueKeys
    val probed = probes.zipWithIndex.foldLeft(fresh) { case (df, (uk, i)) =>
      df.join(current.select(uk.map(col): _*).withColumn(s"__ex$i", lit(true)), uk, "left")
    }
    val hit = probes.indices.map(i => col(s"__ex$i").isNotNull).reduceOption(_ || _)
      .getOrElse(lit(false))
    val obs = new Observation()
    val inserted = probed
      .observe(obs, count(when(hit, 1)).as("hits"),
        collect_set(when(!hit, partKeyCol)).as("pks"))
      .filter(!hit).select(inSchema.fieldNames.map(col).toIndexedSeq: _*)
    val next = readSlices(dirs, lands).unionByName(inserted)
    Some(ObservedStaged(next.withColumn("__pk", partKeyCol), () => {
      val m = obs.get
      val hits = observedCount(m, "hits")
      checkInsert(0, 0, dupes = hits > 0, skipDuplicates)
      val pks = if (probes.isEmpty) lands else observedKeys(m, "pks")
      Census(pks, pks, IndexedSeq(survivors.length - hits))
    }))
  }

  /** The post-update image of ONLY the matched rows — the slice FK
    * re-validation inspects (scanning the whole post-update table would
    * both cost a full anti-join per FK-touching update and reject updates
    * over pre-existing orphans the update never touched). */
  private[store] def updatedView(current: DataFrame, where: Where,
                                 set: Map[String, Column]): DataFrame = {
    val cond = coalesce(Where.compile(where, current.apply), lit(false))
    withSet(current.filter(cond), lit(true), set, StatementTimestamp.draw()._1)
  }

  /** The PRE-update image of the matched rows (ON UPDATE CASCADE builds
    * its old→new key map from this). */
  private[store] def matchedView(current: DataFrame, where: Where): DataFrame =
    current.filter(coalesce(Where.compile(where, current.apply), lit(false)))

  /** Write-path constraint checks over the written/updated rows: a
    * capped string column over its maxLengths limit is P2000; NULL
    * written into a non-nullable SET column is P2014 when the column is
    * a declared FK (a required relation severed at the relation level)
    * and P2011 otherwise (the raw column constraint). All probes are
    * `isEmpty` — they stop at the first violating row, and their plans
    * carry no per-plan limit counter, so a repeated probe reuses its
    * generated code. Probe cost: zero when no SET column is capped or
    * non-nullable; otherwise one evaluation of the frame's plan on the
    * happy path (cheap where the caller checkpointed — the Returning and
    * upsert paths), plus per-class probes only once a violation is known
    * to exist. The lazy stagedUpdate/WhereIn paths count violations in
    * their census instead and only call this to classify one. */
  private[store] def validateUpdated(updated: DataFrame, setCols: Set[String]): Unit = {
    // one combined probe on the happy path; per-class probes only run to
    // pick the precise P-code once a violation is known to exist
    val anyViol = setViolation(setCols).getOrElse(return)
    if (updated.filter(anyViol).isEmpty) return
    maxLengths.filter { case (c, _) => setCols.contains(c) }.foreach { case (c, mx) =>
      if (!updated.filter(length(col(c)) > mx).isEmpty)
        throw new ValueTooLongException(
          s"$name: update writes a value over $c's declared max length $mx")
    }
    val fkCols = parentRefs.map(_._2).toSet
    nonNullableSetCols(setCols).foreach { c =>
      if (!updated.filter(col(c).isNull).isEmpty) {
        if (fkCols.contains(c))
          throw new RequiredRelationException(
            s"$name: update would sever the required relation on $c " +
              "(NULL into a non-nullable FK column)")
        else throw new NullConstraintException(
          s"$name: update writes NULL into non-nullable $c")
      }
    }
  }

  /** Columns of a SET clause whose written value must not be NULL. */
  private def nonNullableSetCols(setCols: Set[String]): Seq[String] =
    setCols.filter(c => schema.fieldNames.contains(c) && !schema(c).nullable).toSeq

  /** A row-level test for "this post-image breaks a write constraint of
    * the SET columns" — None when no SET column is capped or non-nullable. */
  private def setViolation(setCols: Set[String]): Option[Column] =
    (maxLengths.filter { case (c, _) => setCols.contains(c) }.toSeq
      .map { case (c, mx) => length(col(c)) > mx } ++
      nonNullableSetCols(setCols).map(col(_).isNull)).reduceOption(_ || _)

  /** An update that also returns the post-update matched slice
    * (updateManyAndReturn, `effect.ts:527-533`).
    *
    * The matched count and touched-slice stats ride the returned slice's
    * checkpoint as observed metrics, so the census is known before the
    * write, which then reads only the touched slices of `dirs`. Pre-image
    * partition keys are carried through the SET as a projected column so
    * a partition-moving update still touches both source and destination
    * slices. */
  private[store] def stagedUpdateReturning(dirs: Map[String, String], where: Where,
                                           set: Map[String, Column]): (ObservedStaged, DataFrame) = {
    val now = StatementTimestamp.draw()._1
    val current = readDirs(dirs.values.toSeq)
    val movesParts = partitionCols.exists(set.contains)
    val matched = current.filter(coalesce(Where.compile(where, current.apply), lit(false)))
      .withColumn("__prepk", partKeyCol)
    val obs = new Observation()
    val obsCols = Seq(count(lit(1)).as("n"), collect_set(col("__prepk")).as("pre")) ++
      (if (movesParts) Seq(collect_set(partKeyCol).as("post")) else Nil)
    val updated = withSet(matched, lit(true), set, now)
      .observe(obs, obsCols.head, obsCols.tail: _*)
      .drop("__prepk").localCheckpoint()
    val m = obs.get
    validateUpdated(updated, set.keySet)
    val touched = observedKeys(m, "pre") ++ observedKeys(m, "post")
    // materialize the predicate BEFORE any column is rewritten (see
    // stagedUpdate) — the next-state plan itself stays lazy
    val slices = readSlices(dirs, touched)
    val withCond = slices.withColumn("__upd",
      coalesce(Where.compile(where, slices.apply), lit(false)))
    val next = withSet(withCond, col("__upd"), set, now).drop("__upd")
    (precounted(next, Census(touched, observedKeys(m, if (movesParts) "post" else "pre"),
      IndexedSeq(observedCount(m, "n")))), updated)
  }

  /** `update`/`updateMany` as one Spark job ([[observedUpdate]]) over the
    * slices of `dirs` the condition can match or the SET can move rows
    * into ([[candidateDirs]]). */
  private[store] def stagedUpdate(dirs: Map[String, String], where: Where,
                                  set: Map[String, Column], single: Boolean): ObservedStaged = {
    val candidates = candidateDirs(dirs, Where.compile(where, col), Seq(set))
    val current = readDirs(candidates)
    // materialize the predicate BEFORE any column is rewritten — a `when`
    // chain re-resolving the condition against already-updated columns
    // would silently stop matching mid-update
    val withCond = current.withColumn("__upd",
      coalesce(Where.compile(where, current.apply), lit(false)))
    observedUpdate(withCond, candidates.size, Seq(col("__upd") -> set), Seq("__upd"), single)
  }

  /** Join-based bulk update: set `set` on rows whose `keyCol` appears in
    * `keys` (and that satisfy `extraCond`). Distributed equivalent of
    * `UPDATE … WHERE id IN (SELECT …)` — used by the pipeline to flip
    * statuses for a whole processed slice without collecting ids to the
    * driver (the keys side is a small DataFrame → AQE broadcasts it).
    *
    * A non-empty `otherwise` is a second branch, MERGE's `WHEN NOT
    * MATCHED BY SOURCE`: it applies to rows that satisfy `extraCond` but
    * whose key is not in `keys` (a NULL key is never in `keys`). Both
    * branches rewrite their slices in the same pass, and their counts come
    * from the same census (the second is 0 when `otherwise` is empty). */
  private[store] def stagedUpdateWhereIn(dirs: Map[String, String], keyCol: String,
                                         keys: DataFrame, extraCond: Column,
                                         set: Map[String, Column],
                                         otherwise: Map[String, Column]): ObservedStaged = {
    val candidates = candidateDirs(dirs, extraCond, Seq(set, otherwise))
    val current = readDirs(candidates)
    val marker = keys.select(col(keyCol)).distinct().withColumn("__match", lit(true))
    // materialize the predicates before rewriting columns (see stagedUpdate)
    val joined = current.join(marker, Seq(keyCol), "left")
      .withColumn("__in", coalesce(extraCond, lit(false)))
      .withColumn("__upd", coalesce(col("__match"), lit(false)) && col("__in"))
    val branches = Seq(col("__upd") -> set) ++
      (if (otherwise.isEmpty) Nil else Seq(col("__in") -> otherwise))
    observedUpdate(joined, candidates.size, branches, Seq("__match", "__in", "__upd"),
      single = false)
  }

  /** Returns the staged delete plus the doomed slice (the caller — the
    * transaction — checks the doomed keys against RESTRICT children, which
    * needs its own staged view of those tables). Reads only the slices of
    * `dirs` the condition can match. */
  private[store] def stagedDelete(dirs: Map[String, String], where: Where,
                                  single: Boolean): (ObservedStaged, DataFrame) = {
    val candidates = candidateDirs(dirs, Where.compile(where, col), Nil)
    val current = readDirs(candidates)
    val cond0 = coalesce(Where.compile(where, current.apply), lit(false))
    (observedDelete(current, candidates.size, cond0, Nil, single), current.filter(cond0))
  }

  /** ONE materialization of a MERGE delta with everything the staging
    * needs riding the checkpoint as observed metrics — the same
    * action-diet trick [[stagedCreateReturning]] uses for inserts,
    * applied to the upsert/apply-changes paths. Input: the delta rows
    * in declared column order plus a boolean `__del` tag (delete
    * tombstones; `lit(false)` everywhere for plain upserts). Folded
    * into the single checkpoint action:
    *
    *   - the per-key survivor rank (among several upsert images of one
    *     key an arbitrary-but-frozen one wins — the `dropDuplicates`
    *     semantics this replaces, made deterministic by the checkpoint);
    *   - the landing-slice census of surviving upserts;
    *   - both counts (survivors, delete tombstones);
    *   - the P2000/P2011 violation census over survivors (the precise
    *     P-code classification only runs once a violation is known to
    *     exist — rare path, over the checkpointed frame).
    *
    * Before this, the delta plan — typically a change-feed full-outer
    * join or a tokenize — re-executed under the validation probe, both
    * slice-census actions, and the delete count: five actions each paying
    * the join, where this pays it once. Returns the checkpointed frame
    * (data columns + `__del` + `__keep`), survivor count, tombstone
    * count, and the survivors' landing slices. */
  private[store] def checkpointDelta(tagged: DataFrame, keyCols: Seq[String])
      : (DataFrame, Long, Long, Set[String]) = {
    val dataCols = schema.fieldNames.toSeq
    val viaDriver = localDelta(tagged, keyCols)
    if (viaDriver.isDefined) return viaDriver.get
    val marked = touch(tagged, timestampCols, StatementTimestamp.draw()._1)
      .withColumn("__mid", monotonically_increasing_id())
    // among rows sharing a key, a non-delete image ranks first; __keep
    // marks the one surviving upsert per key (tombstones never survive —
    // they only contribute their key to the affected set)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__del").cast("int"), col("__mid"))
    val (nullViol, lenViol) = insertViolations
    val obs = new Observation()
    val chk = marked
      .withColumn("__keep", !col("__del") && row_number().over(w) === 1)
      .drop("__mid")
      .observe(obs,
        count(when(col("__keep"), 1)).as("n_up"),
        count(when(col("__del"), 1)).as("n_del"),
        count(when(col("__keep") && (nullViol || lenViol), 1)).as("viol"),
        collect_set(when(col("__keep"), partKeyCol)).as("pks"))
      .localCheckpoint()
    val m = obs.get
    if (m("viol").asInstanceOf[Long] > 0)
      validateUpdated(
        chk.filter(col("__keep")).select(dataCols.map(col): _*),
        schema.fieldNames.toSet)
    (chk, m("n_up").asInstanceOf[Long], m("n_del").asInstanceOf[Long],
      m("pks").asInstanceOf[scala.collection.Seq[String]].toSet)
  }

  /** Column types the [[localDelta]] fast path handles exactly like the
    * Spark path: their driver-side `toString` agrees with Spark's
    * `cast(col as string)` (partition columns → the landing-slice key,
    * byte-identical to [[partKeyCol]]), and boxed-value equality agrees
    * with window partitioning (key columns → the survivor rank). Binary
    * keys compare by reference on the driver, and NaN float/double keys
    * never equal each other there while Spark groups them as one key. */
  private val driverSafeTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, BooleanType, ByteType, ShortType, IntegerType, LongType)
  }

  /** The rows of a literal batch the driver can stage exactly like the
    * Spark path: a plan that optimizes to a `LocalRelation` of at most 10k
    * rows whose partition and `keyCols` columns are [[driverSafeTypes]],
    * both as declared and as given. Else None. The rows are read off the
    * plan: no job, no SQL execution. */
  private def literalRows(df: DataFrame, keyCols: Seq[String]): Option[Array[Row]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // Cheap pre-check on the ANALYZED plan first: reading optimizedPlan
    // runs a full optimizer pass that the Spark path then throws away
    // (its downstream actions build fresh QueryExecutions), and the
    // change-feed deltas behind applyChanges are manifest-diff join
    // trees expensive enough to optimize that paying it per mutation
    // measurably slowed the CDC gates. Only a plan whose every leaf is
    // already a LocalRelation can fold to one.
    val leavesLocal = df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])
    if (!leavesLocal) return None
    val safe = (partitionCols ++ keyCols).forall(c =>
      driverSafeTypes.contains(schema(c).dataType) &&
        driverSafeTypes.contains(df.schema(c).dataType))
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if safe && l.data.lengthCompare(10000) <= 0 =>
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(df.schema)
        Some(l.data.map(r => toRow(r).asInstanceOf[Row]).toArray)
      case _ => None
    }
  }

  /** The driver-side twin of [[insertViolations]] for one literal row
    * (`idx` maps a column to its position): a NULL in a non-nullable
    * column, or a string longer, in characters, than its cap. */
  private def breaksConstraint(r: Row, idx: String => Int): Boolean =
    requiredCols.exists(c => r.isNullAt(idx(c))) ||
      maxLengths.exists { case (c, mx) =>
        !r.isNullAt(idx(c)) && { val v = r.getString(idx(c)); v.codePointCount(0, v.length) > mx }
      }

  /** [[checkpointDelta]]'s DRIVER-SIDE fast path: a delta whose optimized
    * plan is a `LocalRelation` (literal batches — index meta rows,
    * cursor rows, small Seq-built upserts) is already driver-resident
    * metadata, so the survivor rank, counts, landing-slice census and
    * constraint census all compute in plain Scala and the window
    * shuffle + Observation + localCheckpoint job of the Spark path never
    * runs — ZERO jobs for the checkpoint ([[literalRows]] reads the rows
    * off the plan). Semantics are identical
    * by construction: survivor = the first non-delete image of each key
    * in input order (exactly what `row_number` over (__del, __mid)
    * picks on a LocalRelation's order-preserving ids), NULL key columns
    * group as equal (window partitioning semantics), and the slice key
    * replicates [[partKeyCol]] through [[Catalog.encodeValue]] — gated
    * on [[driverSafeTypes]] for partition AND key columns, so any
    * divergence (timestamps, decimals, binary/float keys) falls back to
    * the Spark path. */
  private def localDelta(tagged: DataFrame, keyCols: Seq[String])
      : Option[(DataFrame, Long, Long, Set[String])] = {
    val rows = literalRows(tagged, keyCols).getOrElse(return None)
    val dataCols = schema.fieldNames.toSeq
    val inSchema = tagged.schema // dataCols :+ __del, by both callers
    def idxOf(c: String): Int = inSchema.fieldIndex(c)
    val delIdx = idxOf("__del")
    val keepIdx = inSchema.length // appended last
    val now = StatementTimestamp.draw()._2
    val tsIdx = timestampCols.filter(schema.fieldNames.contains)
      .map(idxOf).toSet
    val keyIdx = keyCols.map(idxOf)
    val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
    var nDel = 0L
    val out = rows.map { r =>
      val del = r.getBoolean(delIdx)
      if (del) nDel += 1
      val key = keyIdx.map(r.get)
      // first non-delete image per key survives; tombstones never do
      val keep = !del && seen.add(key)
      val vals = r.toSeq.zipWithIndex.map {
        case (_, i) if tsIdx.contains(i) => now
        case (v, i) if i == delIdx => v
        case (v, _) => v
      }
      Row.fromSeq(vals :+ keep)
    }
    val keepers = out.filter(r => r.getBoolean(keepIdx))
    import org.apache.spark.sql.types._
    // every data field nullable=true, matching what the Spark path's
    // input frames carry: with the DECLARED nullability the optimizer
    // would fold the rare-path `isNull` violation probes to false and a
    // constraint breach would write instead of throwing
    val chkSchema = StructType(
      schema.fields.toSeq.map(f => StructField(f.name, f.dataType, nullable = true)) ++ Seq(
        StructField("__del", BooleanType, nullable = false),
        StructField("__keep", BooleanType, nullable = false)))
    val chk = spark.createDataFrame(
      java.util.Arrays.asList(out: _*), chkSchema)
    val nUp = keepers.length.toLong
    val pks: Set[String] =
      if (keepers.isEmpty) Set.empty
      else if (partitionCols.isEmpty) Set(Catalog.AllKey)
      else keepers.map(r => partitionCols.map(c =>
        s"$c=${Catalog.encodeValue(r.get(idxOf(c)))}").mkString(",")).toSet
    // constraint census over survivors — same rare-path classification
    if (keepers.exists(breaksConstraint(_, idxOf)))
      validateUpdated(
        chk.filter(col("__keep")).select(dataCols.map(col): _*),
        schema.fieldNames.toSet)
    Some((chk, nUp, nDel, pks))
  }

  /** MERGE of one delta ([[mergeDelta]]) on `keyCols`: a key's surviving
    * image replaces its row (update wins) or appends — Prisma `upsert`
    * (`effect.ts:535-541`) — and a delete tombstone removes it. Set-based
    * end to end: the delta materializes in ONE checkpoint
    * ([[checkpointDelta]]), so a change-feed join behind it executes
    * once, and no key list reaches the driver. The rewritten keys are
    * those of the survivors and tombstones (a displaced duplicate image's
    * key always has a surviving twin). Touches the slices the survivors
    * land in plus those this table holds a rewritten key in: a key may
    * move partitions, and a change batch's delete images may carry
    * another layout's partition values. Also returns the surviving rows,
    * the FK validation input — checked over what is ACTUALLY written,
    * from the checkpoint, never a plan replay. */
  private[store] def stagedMergeReturning(dirs: Map[String, String], keyCols: Seq[String],
                                          delta: DataFrame): (ObservedStaged, DataFrame) = {
    val (chk, nUp, nDel, inParts) = checkpointDelta(delta, keyCols)
    val ups = chk.filter(col("__keep")).select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val rewritten = chk.filter(col("__keep") || col("__del")).select(keyCols.map(col): _*)
    // replaced-slice census: on an UNPARTITIONED table with any survivor
    // it can only re-state `inParts` — skip the action (a delete-only
    // batch still needs it: whether the lone slice is touched depends on
    // a key matching)
    val touched =
      if (partitionCols.isEmpty && inParts.nonEmpty) inParts
      else inParts ++ sliceKeys(readDirs(dirs.values.toSeq).join(rewritten, keyCols, "left_semi"))
    val next = readSlices(dirs, touched).join(rewritten, keyCols, "left_anti").unionByName(ups)
    (precounted(next, Census(touched, inParts, IndexedSeq(nUp + nDel))), ups)
  }

  /** `rows` as a MERGE delta: the declared columns plus `__del`, the
    * delete-tombstone flag (`lit(false)` for an upsert). */
  private[store] def mergeDelta(rows: DataFrame, del: Column): DataFrame =
    rows.select(schema.fieldNames.map(col).toIndexedSeq :+ del.as("__del"): _*)

  /** One [[ChangeFeed]] batch as a MERGE delta on the primary key — the
    * Delta `table_changes() → MERGE` replication idiom: inserts and
    * update postimages upsert, deletes are tombstones, `update_preimage`
    * rows are information only (their postimage twin carries the new
    * values for the same key — pk pairing guarantees the key itself
    * never changed). Returns (key, delta). */
  private[store] def changeDelta(changes: DataFrame): (Seq[String], DataFrame) = {
    val pk = uniqueKeys.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"$name: applyChanges needs a unique key to pair row versions"))
    (pk, mergeDelta(changes.filter(col("_change_type").isin("insert", "update_postimage", "delete")),
      col("_change_type") === "delete"))
  }
}

/** Multi-statement transaction: stage any number of table mutations, then
  * publish all new slice versions in one atomic manifest swap — the
  * engine's `\$transaction` (`effect.ts:369-396`). If any statement throws,
  * nothing was published.
  *
  * Staging is partition-scoped: every statement is one dynamic-partition
  * write of only the slices it touches ([[writeSlices]]). Checkpointed
  * statements (inserts, MERGE, returning updates, the ON UPDATE CASCADE
  * rewrite) know their slices before the write and read only those
  * slices' directories. Updates, deletes and literal inserts learn them
  * from the write itself: one job writes the touched slices and observes
  * the statement's census, whose checks run before any slice is
  * published. Untouched slices keep their version directory untouched on
  * disk. A touched slice that ends up empty stays in the manifest as an
  * empty directory (harmless for readers; vacuumable later).
  */
final class Txn(catalog: Catalog, opts: TxnOptions = TxnOptions(timeoutMs = 0)) {
  private var base: Map[String, Option[Map[String, String]]] = Map.empty
  private var staged: Map[String, Map[String, Option[String]]] = Map.empty
  // table -> partKey -> working slice dir (chains statements within the txn)
  private var working: Map[String, Map[String, String]] = Map.empty

  private def workingDirs(t: GraftTable): Map[String, String] =
    working.getOrElse(t.name, {
      // Stale-writer guard: if the table's schema has evolved since this
      // handle was created (reserved __schema__ manifest entry), rewriting
      // slices through the old projection would null evolved-column values
      // for every bystander row in the touched slices — fail fast instead.
      // The __schema__ entry is ALSO pinned into the commit's expectedBase
      // (same snapshot as the guard): an evolve() landing between this
      // check and the commit — the staging job can run for minutes — then
      // surfaces as a P2034 conflict instead of publishing stale slices
      // (the cross-entry OCC pattern stageWatermark uses for __stream__).
      val m = catalog.manifest()
      t.assertSchemaCurrent(m)
      if (!base.contains(Catalog.SchemaTable))
        base += (Catalog.SchemaTable -> m.get(Catalog.SchemaTable))
      base += (t.name -> m.get(t.name))
      val dirs = catalog.currentDirs(t.name)
      working += (t.name -> dirs)
      dirs
    })

  private def stateOf(t: GraftTable): DataFrame = t.readDirs(workingDirs(t).values.toSeq)

  /** Fault-injection hook: runs with the stage root after a statement's
    * slice write and its census checks, before any slice moves into its
    * version dir. */
  private[store] var afterStagedWrite: java.nio.file.Path => Unit = _ => ()

  /** Stage a statement: one slice write, whose census checks, then
    * `checks` (the statement's FK/RESTRICT probes), run after the write
    * and before anything moves. A precounted statement that touches no
    * slice writes nothing. */
  private def stage(t: GraftTable, s: ObservedStaged, checks: => Unit = ()): Census = {
    lazy val census = { val c = s.census(); checks; c }
    if (!s.precounted || census.touched.nonEmpty) writeSlices(t, s.rows, () => census)
    census
  }

  /** ONE dynamic-partition write of `rows` (declared columns plus `__pk`)
    * into a stage root (on an unpartitioned table, one plain write of its
    * one slice), then each touched slice of `census()` moves into a new
    * version dir. `census` is asked after the write, so a census the
    * write observed (and its checks) decides what is published. The
    * write executes its plan exactly once and streams every row straight
    * to its slice's directory — where persist + one filtered write job
    * per slice paid a second copy of the data and K passes over it. The
    * hex rendering of __pk is a bijection into filesystem-safe names that
    * sidesteps Spark's partition-path escaping (and the empty-string →
    * __HIVE_DEFAULT_PARTITION__ ambiguity); the data files themselves
    * carry the declared columns in declared order.
    *
    * A touched slice the census says the statement's rows land in, but
    * that has no staged dir, throws, as does a stage root without its
    * `_SUCCESS` marker, instead of publishing an empty slice. */
  private def writeSlices(t: GraftTable, rows: DataFrame, census: () => Census): Unit = {
    var dirs = workingDirs(t)
    var parts = staged.getOrElse(t.name, Map.empty[String, Option[String]])
    val stageRoot = java.nio.file.Paths.get(catalog.root)
      .resolve(s".stage-${java.util.UUID.randomUUID().toString.replace("-", "")}")
    // Cleanup is exception-safe: whatever the move loop managed, the
    // stage shell is always swept (finally), so a mid-loop failure
    // (dest dir exists, partial FS fault) cannot leak a .stage-* dir
    // under catalog.root. Unpublished version dirs a failed txn leaves
    // behind are invisible to readers (never entered the manifest) and
    // vacuumable; crashed-process leftovers are swept by the Catalog's
    // open-time stale-stage sweep.
    def stagedDir(pk: String): java.nio.file.Path = stageRoot.resolve("__pkdir=p" +
      pk.getBytes(java.nio.charset.StandardCharsets.UTF_8).map("%02X".format(_)).mkString)
    try {
      if (t.partitionCols.isEmpty)
        // the one slice is written straight into its staged dir: the
        // dynamic-partition writer would sort every row on a constant key
        rows.select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
          .write.mode("overwrite").options(t.bloomWriteOptions)
          .parquet(stagedDir(Catalog.AllKey).toString)
      else
        rows.withColumn("__pkdir", concat(lit("p"), hex(col("__pk"))))
          .select((t.schema.fieldNames.map(col) :+ col("__pkdir")).toIndexedSeq: _*)
          .write.mode("overwrite").options(t.bloomWriteOptions)
          .partitionBy("__pkdir").parquet(stageRoot.toString)
      val c = census()
      afterStagedWrite(stageRoot)
      c.touched.toSeq.sorted.foreach { pk =>
        val (v, dir) = catalog.newVersionDir(t.name, pk)
        val src = stagedDir(pk)
        val dest = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(dest.getParent)
        if (java.nio.file.Files.isDirectory(src))
          java.nio.file.Files.move(src, dest) // same filesystem: under catalog.root
        else if (c.landing(pk))
          throw new IllegalStateException(
            s"staged write for ${t.name} lost slice $pk at $stageRoot " +
              "(the statement's rows land there); refusing to publish it empty")
        else if (java.nio.file.Files.exists(stageRoot.resolve("_SUCCESS")))
          // a touched slice every row left (e.g. all its keys deleted)
          // stays in the manifest as an empty directory
          java.nio.file.Files.createDirectories(dest)
        else
          // the committed write is gone (swept or deleted under us):
          // publishing its slices as empty would silently drop data
          throw new IllegalStateException(
            s"staged write for ${t.name} lost its output at $stageRoot " +
              "(no _SUCCESS marker); refusing to publish empty slices")
        SliceStats.writeSidecar(t.spark, dir, t.bloomCols.toSet)
        dirs += (pk -> dir)
        parts += (pk -> Some(v))
      }
    } finally Catalog.rmTree(stageRoot)
    working += (t.name -> dirs)
    staged += (t.name -> parts)
  }

  /** Child-side FK validation (P2003): any written child row whose FK
    * value has no matching parent row fails, as the reference's Postgres FK
    * does on orphan inserts/updates. Parents are read through THIS
    * transaction's staged state, so "create parent, then child" works
    * inside one `\$transaction`; a self-referential FK also sees the rows
    * of the batch being written (Postgres checks non-deferred FKs at end
    * of statement, so an in-batch parent satisfies its in-batch child).
    * Validation runs over the rows ACTUALLY written — under
    * `skipDuplicates` a dropped duplicate row is never FK-checked, like
    * `ON CONFLICT DO NOTHING`. The probe is an anti-join limited to one
    * row — it never materializes the orphan set. Inserts fold the
    * non-self references into their checkpoint instead ([[insert]]). */
  private def checkParentRefs(t: GraftTable, written: DataFrame,
                              refs: Seq[(GraftTable, String, String)]): Unit =
    refs.foreach { case (parent, childCol, parentCol) =>
      val parentKeys = {
        val base = stateOf(parent).select(col(parentCol).as(childCol))
        if (parent eq t) base.unionByName(written.select(col(parentCol).as(childCol)))
        else base
      }
      val orphans = written.select(col(childCol))
        .filter(col(childCol).isNotNull)
        .join(parentKeys, Seq(childCol), "left_anti")
      if (!orphans.isEmpty)
        throw new ForeignKeyViolationException(orphanMessage(t, childCol, parent, parentCol))
    }

  private def checkParentRefs(t: GraftTable, written: DataFrame): Unit =
    checkParentRefs(t, written, t.parentRefs)

  private def orphanMessage(t: GraftTable, childCol: String, parent: GraftTable,
                            parentCol: String): String =
    s"${t.name}: write rejected — ${t.name}.$childCol references no ${parent.name}.$parentCol row"

  /** The checkpointed insert with its FK checks: a reference to another
    * table rides the checkpoint as an orphan count over survivors; a
    * self-reference is probed after it, since the batch is its own
    * parent. Returns the staged insert and the inserted slice. */
  private def insert(t: GraftTable, rows: DataFrame,
                     skipDuplicates: Boolean): (ObservedStaged, DataFrame) = {
    val (self, others) = t.parentRefs.partition(_._1 eq t)
    val fks = others.map { case (parent, childCol, parentCol) =>
      val keys = stateOf(parent).select(col(parentCol).as(childCol))
      // a unique parent key is distinct already (NULLs join nothing)
      ParentKeys(childCol,
        if (parent.uniqueKeys.contains(Seq(parentCol))) keys else keys.distinct(),
        orphanMessage(t, childCol, parent, parentCol))
    }
    val (s, inserted) = t.stagedCreateReturning(workingDirs(t), rows, skipDuplicates, fks)
    checkParentRefs(t, inserted, self)
    (s, inserted)
  }

  def create(t: GraftTable, rows: DataFrame): Long = createMany(t, rows, skipDuplicates = false)

  /** A literal batch ([[GraftTable.stagedCreateLiteral]]) is staged in one
    * Spark job; any other batch is checkpointed, then written. */
  def createMany(t: GraftTable, rows: DataFrame, skipDuplicates: Boolean): Long =
    stage(t, t.stagedCreateLiteral(workingDirs(t), rows, skipDuplicates)
      .getOrElse(insert(t, rows, skipDuplicates)._1)).n(0)

  def createManyAndReturn(t: GraftTable, rows: DataFrame, skipDuplicates: Boolean): DataFrame = {
    val (s, inserted) = insert(t, rows, skipDuplicates)
    stage(t, s); inserted
  }

  def updateManyAndReturn(t: GraftTable, where: Where, set: Map[String, Column]): DataFrame =
    updateReturning(t, where, set)._2

  /** The returning update: (matched count, post-update matched rows). */
  private def updateReturning(t: GraftTable, where: Where,
                              set: Map[String, Column]): (Long, DataFrame) = {
    val cur = stateOf(t)
    val (s, updated) = t.stagedUpdateReturning(workingDirs(t), where, set)
    checkUpdatedRefs(t, set, updated)
    val c = stage(t, s)
    cascadeParentKeyRewrite(t, set, t.matchedView(cur, where))
    (c.n(0), updated)
  }

  /** An update that rewrites a declared FK column must re-validate it —
    * over the UPDATED ROWS ONLY (a full post-state scan would pay a
    * whole-table anti-join and reject updates because of pre-existing
    * orphans the statement never touched). Only fires when `set` touches
    * a declared FK column. */
  private def checkUpdatedRefs(t: GraftTable, set: Map[String, Column],
                               updated: => DataFrame): Unit =
    if (t.parentRefs.exists { case (_, childCol, _) => set.contains(childCol) })
      checkParentRefs(t, updated)

  /** FK `ON UPDATE CASCADE` — every reference FK declares it
    * (`migration.sql:93,96-99`; Prisma's default referential action):
    * rewriting a REFERENCED parent key propagates the new value into every
    * referencing child FK column inside the SAME transaction, transitively
    * — instead of rejecting the update as the old NO ACTION check did.
    * The old→new map is built from the PRE-update matched rows with the
    * SET expression applied: update-sized, never table-sized. */
  private def cascadeParentKeyRewrite(t: GraftTable, set: Map[String, Column],
                                      matchedPre: => DataFrame): Unit = {
    val rels = (t.restricts ++ t.cascades)
      .filter { case (_, _, parentCol) => set.contains(parentCol) }
    if (rels.nonEmpty) {
      val pre = matchedPre
      // the map and its ambiguity probe depend only on (parentCol, set):
      // build each ONCE and fan it out to every child relation on that
      // column instead of paying N identical jobs for N children
      rels.groupBy(_._3).foreach { case (parentCol, relsOnCol) =>
        val keyMap = pre
          .select(col(parentCol).as("__old"), set(parentCol).as("__new"))
          .filter(col("__old").isNotNull && !(col("__new") <=> col("__old")))
          .distinct()
        // An ambiguous remap (one old key → several new values: parentCol
        // was not unique across the matched rows) would FAN OUT the child
        // join and corrupt rows — refuse it. One emptiness probe on the
        // update-sized map.
        val ambiguous = keyMap.groupBy(col("__old"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        if (!ambiguous.isEmpty)
          throw new ForeignKeyViolationException(
            s"${t.name}: ON UPDATE CASCADE on non-unique $parentCol is " +
              s"ambiguous — several new values for one referenced key")
        if (!keyMap.isEmpty)
          relsOnCol.foreach { case (child, childCol, _) =>
            rewriteChildKeys(child, childCol, keyMap)
          }
      }
    }
  }

  /** Apply an old→new FK value map to `child.childCol`, staged in this
    * transaction. Grandchildren referencing `childCol` as THEIR parent key
    * see the same map first (transitive cascade); a self-referential FK
    * terminates because its parent key differs from its FK column. */
  private def rewriteChildKeys(child: GraftTable, childCol: String,
                               keyMap: DataFrame): Unit = {
    (child.restricts ++ child.cascades).foreach { case (gc, gcCol, pCol) =>
      if (pCol == childCol) rewriteChildKeys(gc, gcCol, keyMap)
    }
    val cur = stateOf(child)
    val affected = cur.join(keyMap.select(col("__old").as(childCol)),
      Seq(childCol), "left_semi")
    val preStats = affected.groupBy(child.partKeyCol.as("__pk")).count().collect()
    if (preStats.nonEmpty) {
      // the JOIN MATCH decides "remapped", not the new value's nullness:
      // coalesce(__new, old) would conflate "not remapped" with
      // "remapped to NULL" and commit a dangling FK — Postgres cascades
      // the NULL into the child (the FK then passes as MATCH SIMPLE),
      // unless the child column is NOT NULL, which is its
      // not_null_violation. The violation is raised only for child rows
      // ACTUALLY cascaded to NULL (a statement nulling key A and moving
      // key B is fine when children only reference B) — probe the
      // NULL-new old keys against the child, not the map alone.
      if (!child.schema(childCol).nullable) {
        val nullOld = keyMap.filter(col("__new").isNull)
          .select(col("__old").as(childCol))
        if (!cur.join(nullOld, Seq(childCol), "left_semi").isEmpty)
          throw new NullConstraintException(
            s"${child.name}: ON UPDATE CASCADE would null non-nullable $childCol")
      }
      val km = keyMap.withColumn("__hit", lit(true))
      def remapped(df: DataFrame): DataFrame = df.join(km, df(childCol) === km("__old"), "left")
        .withColumn(childCol,
          when(coalesce(col("__hit"), lit(false)), col("__new"))
            .otherwise(col(childCol)))
        .drop("__old", "__new", "__hit")
      // a rewritten FK that is also a partition column moves rows across
      // slices — the destination slices are touched too
      val pre = preStats.map(_.getString(0)).toSet
      // the slices the rewritten rows land in
      val landing: Set[String] =
        if (child.partitionCols.contains(childCol)) {
          val post = cur.join(keyMap, cur(childCol) === keyMap("__old"), "inner")
            .withColumn(childCol, col("__new")).drop("__old", "__new")
          post.groupBy(child.partKeyCol.as("__pk")).count().collect()
            .map(_.getString(0)).toSet
        } else pre
      // A CONSISTENT many-old→one-new remap passes the ambiguity probe
      // but can still collide child UNIQUE keys (Postgres raises
      // unique_violation at the child constraint) — re-validate every
      // unique key containing the FK column over the affected slice of
      // the post-rewrite state. NULL rows never conflict (SQL UNIQUE).
      child.uniqueKeys.filter(_.contains(childCol)).foreach { uk =>
        val affectedKeys = remapped(cur)
          .join(keyMap.select(col("__new").as(childCol)).distinct(),
            Seq(childCol), "left_semi")
          .filter(uk.map(c => col(c).isNotNull).reduce(_ && _))
        val dup = affectedKeys
          .groupBy(uk.map(col): _*).agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1)
        if (!dup.isEmpty)
          throw new UniqueViolationException(
            s"${child.name}: ON UPDATE CASCADE would collide unique key " +
              s"(${uk.mkString(",")})")
      }
      val touched = pre ++ landing
      stage(child, child.precounted(remapped(child.readSlices(workingDirs(child), touched)),
        Census(touched, landing, IndexedSeq(preStats.map(_.getLong(1)).sum))))
    }
  }

  // Update statements stage their own rewrite BEFORE the key-rewrite
  // cascade (the matched view stays evaluable — pre-stage dirs are
  // immutable), so a self-referential ON UPDATE CASCADE rewrites child
  // FK columns on top of the renamed state instead of clobbering it.

  def update(t: GraftTable, where: Where, set: Map[String, Column]): Long =
    updateWhere(t, where, set, single = true)

  def updateMany(t: GraftTable, where: Where, set: Map[String, Column]): Long =
    updateWhere(t, where, set, single = false)

  private def updateWhere(t: GraftTable, where: Where, set: Map[String, Column],
                          single: Boolean): Long = {
    val cur = stateOf(t)
    val c = stage(t, t.stagedUpdate(workingDirs(t), where, set, single),
      checkUpdatedRefs(t, set, t.updatedView(cur, where, set)))
    cascadeParentKeyRewrite(t, set, t.matchedView(cur, where))
    c.n(0)
  }

  def updateWhereIn(t: GraftTable, keyCol: String, keys: DataFrame,
                    extraCond: Column, set: Map[String, Column]): Long =
    updateWhereIn(t, keyCol, keys, extraCond, set, Map.empty[String, Column])._1

  /** Two-branch [[updateWhereIn]]: `set` on rows that satisfy `extraCond`
    * and whose key is in `keys`, `otherwise` on the other rows that satisfy
    * `extraCond` (MERGE's `WHEN NOT MATCHED BY SOURCE`) — one statement,
    * one census, one rewrite of the touched slices, where an
    * `updateWhereIn` followed by an `updateMany` pays two of each.
    * Returns (rows `set` applied to, rows `otherwise` applied to). */
  def updateWhereIn(t: GraftTable, keyCol: String, keys: DataFrame,
                    extraCond: Column, set: Map[String, Column],
                    otherwise: Map[String, Column]): (Long, Long) = {
    val cur = stateOf(t)
    // per-branch pre-image views: key ∈ keys ∧ extraCond, and the rest of
    // extraCond (the anti-join keeps NULL keys, which match nothing)
    val marker = keys.select(col(keyCol)).distinct()
    val inCond = coalesce(extraCond, lit(false))
    def matched = cur.join(marker, Seq(keyCol), "left_semi").filter(inCond)
    def unmatched = cur.join(marker, Seq(keyCol), "left_anti").filter(inCond)
    // both helpers are no-ops (no job) for a SET that names no FK column
    val c = stage(t, t.stagedUpdateWhereIn(workingDirs(t), keyCol, keys, extraCond, set, otherwise), {
      checkUpdatedRefs(t, set, t.applySet(matched, set))
      checkUpdatedRefs(t, otherwise, t.applySet(unmatched, otherwise))
    })
    cascadeParentKeyRewrite(t, set, matched)
    cascadeParentKeyRewrite(t, otherwise, unmatched)
    (c.n(0), c.n.lift(1).getOrElse(0L))
  }

  /** FK `ON DELETE RESTRICT` (P2003): a delete whose doomed rows are still
    * referenced by a declared child relation must fail, exactly as the
    * reference's Postgres FK does (`migration.sql:93`). The child is read
    * through THIS transaction's staged state, so the compensation pattern
    * "delete children, then the parent" works inside one `\$transaction`
    * (`runner/syncCrm.ts:108-113`). The existence probe is a semi-join
    * limited to one row — it never materializes the referencing set. */
  private def checkRestricts(t: GraftTable, doomed: DataFrame): Unit =
    t.restricts.foreach { case (child, childCol, parentCol) =>
      val referenced = stateOf(child)
        .join(doomed.select(col(parentCol).as(childCol)), Seq(childCol), "left_semi")
      if (!referenced.isEmpty)
        throw new ForeignKeyViolationException(
          s"${t.name}: delete restricted — ${child.name}.$childCol still references doomed ${t.name}.$parentCol row(s)")
    }

  /** FK `ON DELETE CASCADE` (`migration.sql:96-99`): delete referencing
    * child rows inside THIS transaction, depth-first, BEFORE the parent's
    * RESTRICT checks run — so a child's own relations (its cascades, its
    * restricting grandchildren) apply to the cascaded delete too, and the
    * atomic manifest swap publishes parent + child deletions together. */
  private def cascadeDeletes(t: GraftTable, doomed: DataFrame): Unit =
    t.cascades.foreach { case (child, childCol, parentCol) =>
      val keys = doomed.select(col(parentCol).as(childCol))
        .filter(col(childCol).isNotNull)
      // emptiness probe (one limit(1) job on a delete-sized set) is the
      // recursion base case — a self-referential cascade terminates when
      // a level condemns no rows, the Postgres fixpoint semantics
      if (!keys.isEmpty) deleteWhereIn(child, childCol, keys)
    }

  /** Join-based bulk delete: drop rows whose `keyCol` appears in `keys`.
    *
    * Statement order: RESTRICT checks run FIRST, against statement-start
    * state — Postgres RESTRICT is the immediate, non-deferrable check
    * that rejects the delete even when the same statement also removes
    * the referencing row (that is its documented difference from
    * NO ACTION). Then the statement's own delete stages — `doomed`/`cur`
    * stay evaluable because they are bound to the pre-stage version
    * directories, which copy-on-write never touches — and cascades run
    * LAST, reading the post-delete state and staging ON TOP of it, so a
    * self-referential or cyclic cascade is never clobbered by the
    * statement's own stage. A throw anywhere aborts the transaction;
    * nothing staged ever publishes. */
  def deleteWhereIn(t: GraftTable, keyCol: String, keys: DataFrame): Long =
    deleteWhereKeysIn(t, Seq(keyCol), keys)

  /** Composite-key variant of [[deleteWhereIn]] (the MERGE DELETE route
    * needs it when the ON clause equates several columns). Same statement
    * order contract: RESTRICT first, stage, cascades last. */
  def deleteWhereKeysIn(t: GraftTable, keyCols: Seq[String], keys: DataFrame): Long = {
    val cur = stateOf(t)
    val marker = keys.select(keyCols.map(col): _*).distinct()
    val doomed = cur.join(marker, keyCols, "left_semi")
    checkRestricts(t, doomed)
    val c = stage(t, t.observedDelete(
      cur.join(marker.withColumn("__hit", lit(true)), keyCols, "left"), workingDirs(t).size,
      coalesce(col("__hit"), lit(false)), Seq("__hit"), single = false))
    cascadeDeletes(t, doomed)
    c.n(0)
  }

  def delete(t: GraftTable, where: Where): Long = deleteWhere(t, where, single = true)

  def deleteMany(t: GraftTable, where: Where): Long = deleteWhere(t, where, single = false)

  private def deleteWhere(t: GraftTable, where: Where, single: Boolean): Long = {
    val (s, doomed) = t.stagedDelete(workingDirs(t), where, single)
    val c = stage(t, s, checkRestricts(t, doomed))
    cascadeDeletes(t, doomed)
    c.n(0)
  }

  def upsert(t: GraftTable, keyCols: Seq[String], rows: DataFrame): Long =
    merge(t, keyCols, t.mergeDelta(rows, lit(false)))

  /** MERGE-apply one [[ChangeFeed]] batch onto `t` (CDC replication):
    * upsert the insert/postimage rows, delete the delete keys, all in
    * THIS transaction — pair with [[CdfTail.drainOnce]]'s cursor advance
    * for exactly-once incremental mirroring. Returns applied changes. */
  def applyChanges(t: GraftTable, changes: DataFrame): Long = {
    val (pk, delta) = t.changeDelta(changes)
    merge(t, pk, delta)
  }

  /** Stage a MERGE delta. FK-validated over the surviving rows, from the
    * checkpoint — probing the delta's plan (a change-feed join, a
    * tokenize) would re-execute it per parent. Returns the count of
    * surviving images and tombstones. */
  private def merge(t: GraftTable, keyCols: Seq[String], delta: DataFrame): Long = {
    val (s, written) = t.stagedMergeReturning(workingDirs(t), keyCols, delta)
    checkParentRefs(t, written)
    stage(t, s).n(0)
  }

  /** Nested create (`create`/`createMany` with `{create | connectOrCreate}`
    * relation payloads, `effect.ts:471-477`): insert the parent batch, then
    * run each [[NestedWrite]] against the slice that was actually inserted
    * — with the batch's extra payload columns intact — all staged in THIS
    * transaction. Returns the parent insert count. */
  /** ConnectOrCreate's "connect the existing row" half IS
    * skipDuplicates dedup against the relation/link tables — without a
    * unique key there, every call would silently re-insert existing
    * rows (connect degrades to unconditional create). Fail fast. */
  private def requireConnectKeys(nested: Seq[NestedWrite]): Unit =
    nested.foreach {
      case ConnectOrCreate(rel, _, link, _) =>
        require(rel.uniqueKeys.nonEmpty,
          s"${rel.name}: connectOrCreate relation table needs a unique key")
        require(link.uniqueKeys.nonEmpty,
          s"${link.name}: connectOrCreate link table needs a unique key")
      case _ => ()
    }

  def createNested(t: GraftTable, rows: DataFrame, nested: Seq[NestedWrite],
                   skipDuplicates: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col => fcol}
    requireConnectKeys(nested)
    // Pre-resolve the batch BEFORE both the insert and the nested
    // derivation, so children derive from the row that was ACTUALLY
    // inserted:
    //  - NULL-keyed parents have no pairing identity (the semi-join
    //    below can never match them) — their nested writes would be
    //    silently skipped, so they are rejected up front;
    //  - under skipDuplicates, in-batch duplicate keys dedupe HERE,
    //    deterministically (smallest canonical rendering wins), and the
    //    SAME frame feeds stagedCreateReturning — previously the staged
    //    create and the dropDuplicates below each picked an arbitrary
    //    survivor, so children could derive from a payload that was
    //    never written. Without skipDuplicates, in-batch duplicates must
    //    still ERROR in the staged create, so the batch passes through.
    val key = if (nested.nonEmpty) {
      require(t.uniqueKeys.nonEmpty,
        s"${t.name}: nested writes need a unique key to identify inserted parents")
      t.uniqueKeys.head
    } else Nil
    val resolved = if (nested.isEmpty) rows else {
      // ONE bounded action for the whole key (an emptiness probe), not
      // one per key column — and none when every key column is declared
      // non-nullable: the insert's census already throws the same P2011
      // for a NULL there (ActionBudgetSpec pins the non-nullable budget)
      if (key.exists(t.schema(_).nullable) &&
          !rows.filter(key.map(fcol(_).isNull).reduce(_ || _)).isEmpty)
        throw new NullConstraintException(
          s"${t.name}: createNested parent key ${key.mkString(",")} must be " +
            "non-null (null-keyed parents cannot be paired with their nested writes)")
      if (!skipDuplicates) rows
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(key.map(fcol): _*)
          .orderBy(org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(rows.columns.map(fcol): _*)))
        rows.withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(fcol("__rn") === 1).drop("__rn")
      }
    }
    val (s, inserted) = insert(t, resolved, skipDuplicates)
    val n = stage(t, s).n(0)
    if (nested.nonEmpty) {
      // re-attach payload columns: batch rows whose key actually landed
      val insertedFull = resolved
        .join(inserted.select(key.map(fcol): _*), key, "left_semi")
      nested.foreach {
        case NestedCreate(child, f, skipDup) =>
          createMany(child, f(insertedFull), skipDup)
        case ConnectOrCreate(rel, ensure, link, links) =>
          // connectOrCreate: missing relation rows created, existing kept
          createMany(rel, ensure(insertedFull), skipDuplicates = true)
          createMany(link, links(insertedFull), skipDuplicates = true)
      }
    }
    n
  }

  /** Nested writes under `update` (`update({where, data: {..., relation:
    * {create: ...}}})`, the `syncCrm.ts:156-163` shape): update the
    * matched rows, then run each [[NestedWrite]] against the POST-UPDATE
    * matched slice, staged in this transaction. Returns the matched count. */
  def updateNested(t: GraftTable, where: Where, set: Map[String, Column],
                   nested: Seq[NestedWrite]): Long = {
    requireConnectKeys(nested)
    val (n, updated) = updateReturning(t, where, set)
    nested.foreach {
      case NestedCreate(child, f, skipDup) =>
        createMany(child, f(updated), skipDup)
      case ConnectOrCreate(rel, ensure, link, links) =>
        createMany(rel, ensure(updated), skipDuplicates = true)
        createMany(link, links(updated), skipDuplicates = true)
    }
    n
  }

  /** Read within the transaction (sees staged, uncommitted state). The
    * first read pins the table: a commit that moves it fails ours (P2034). */
  def read(t: GraftTable): DataFrame = stateOf(t)

  /** [[read]] with [[GraftTable.snapshotSlice]]'s catalog-level pruning:
    * only the slices whose partition values match `values` are listed. */
  def readSlice(t: GraftTable, values: Map[String, Any]): DataFrame =
    t.readDirs(t.sliceDirs(workingDirs(t), values))

  /** Stage a streaming batch watermark (reserved [[Catalog.StreamTable]]
    * manifest entry) so it publishes in the SAME atomic commit as this
    * transaction's data slices — the exactly-once handshake of
    * [[graft.streaming.StoreSink]].
    *
    * `expectedBase` is the [[Catalog.StreamTable]] map from the manifest
    * read that PERFORMED the replay check — the OCC baseline. Re-reading
    * it here instead would open a check-then-commit window: a zombie
    * instance of the same query committing the batch between our check
    * and our commit would be silently absorbed and the batch applied
    * twice. With the caller's baseline, that interleaving fails the
    * commit with P2034 — the idempotent-sink contract. */
  def recordStreamBatch(t: GraftTable, streamId: String, batchId: Long,
                        expectedBase: Option[Map[String, String]]): Unit = {
    if (!base.contains(Catalog.StreamTable))
      base += (Catalog.StreamTable -> expectedBase)
    val parts = staged.getOrElse(Catalog.StreamTable, Map.empty[String, Option[String]])
    staged += (Catalog.StreamTable ->
      (parts + (Catalog.streamKey(t.name, streamId) -> Some(batchId.toString))))
  }

  def commit(): Unit =
    if (staged.nonEmpty) catalog.commit(base, staged, opts.maxWaitMs)
}

object Txn {
  /** Interactive-transaction closure (`\$transaction(async tx => …)`):
    * stage inside, commit on success, publish nothing on failure.
    * This overload runs unbounded; the [[TxnOptions]] overload bounds the
    * body with a timeout. */
  def run[A](catalog: Catalog)(body: Txn => A): A =
    run(catalog, TxnOptions(timeoutMs = 0))(body)

  /** Interactive transaction with `\$transaction` options: the whole
    * closure (reads, staging writes, commit) is bounded by
    * `opts.timeoutMs` through job-group cancellation — on expiry running
    * Spark jobs are cancelled, nothing was published (copy-on-write), and
    * the caller gets the P2028-equivalent. Commit-lock acquisition is
    * bounded by `opts.maxWaitMs` (P2024). */
  def run[A](catalog: Catalog, opts: TxnOptions)(body: Txn => A): A = {
    val txn = new Txn(catalog, opts)
    // the timeout bounds the BODY (reads + staging writes — the Spark
    // jobs); the commit itself (one manifest rename) runs OUTSIDE the
    // timed region, so a P2028 can never fire after the manifest was
    // already published — "timed out" reliably means "nothing committed"
    val out =
      if (opts.timeoutMs > 0) {
        org.apache.spark.sql.SparkSession.getActiveSession match {
          case Some(s) =>
            try graft.util.Timeouts.withTimeout(s, opts.timeoutMs)(body(txn))
            catch {
              case _: graft.util.Timeouts.StageTimeoutException =>
                throw new TransactionTimeoutException(
                  s"interactive transaction exceeded ${opts.timeoutMs}ms")
            }
          case None => body(txn)
        }
      } else body(txn)
    txn.commit()
    out
  }
}
