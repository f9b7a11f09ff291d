package graft.store

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

object Catalog {
  /** Partition key used for tables with no declared partition columns —
    * the whole table is one slice. */
  val AllKey = "__all__"

  /** Encoded form of a NULL partition value (parquet partition dirs need a
    * token; mirrors Hive's default-partition idea with a private name). */
  val NullToken = "__NULL__"

  /** Reserved manifest entry holding streaming-sink batch watermarks:
    * `streamKey(table, streamId) → <last committed batchId>`. Rides the
    * SAME atomic manifest swap as the data slices (exactly-once: data and
    * watermark publish together or not at all). Never a real table — no
    * directory exists for it, so vacuum and readers never see it. */
  val StreamTable = "__stream__"

  /** Reserved manifest entry holding the current schema fingerprint per
    * evolved table: `<encoded table name> → sha-256 of the schema DDL`.
    * Written by [[GraftTable.evolve]] through the same atomic manifest
    * swap as data commits, read by every write transaction: a writer
    * still holding a PRE-evolve handle would otherwise rewrite whole
    * slices through its old projection, silently nulling evolved-column
    * values for bystander rows. Tables that never evolved have no entry
    * (any handle writes freely). Never a real table — no directory
    * exists for it, so vacuum and readers never see it. */
  val SchemaTable = "__schema__"

  /** Age past which the open-time sweep treats a `.stage-*` directory as
    * a crashed writer's leftover. A younger one may belong to a live
    * writer in another process mid-write, so it is left alone. */
  val StaleStageMillis: Long = 60L * 60 * 1000

  /** Watermark key for (table, streamId) — both components url-encoded,
    * like every other manifest key, so quotes/braces can't corrupt the
    * manifest text and `a:b`+`c` can never alias `a`+`b:c`. */
  def streamKey(table: String, streamId: String): String =
    s"${encodeValue(table)}:${encodeValue(streamId)}"

  /** Filesystem/JSON-safe encoding of one partition value. MUST agree with
    * the Spark-side expression in [[GraftTable.partKeyCol]]
    * (`url_encode(cast(col as string))`, which is `URLEncoder.encode` with
    * UTF-8 underneath). */
  def encodeValue(v: Any): String = v match {
    case null    => NullToken
    case None    => NullToken
    case Some(x) => encodeValue(x)
    case other   => URLEncoder.encode(other.toString, StandardCharsets.UTF_8.name())
  }

  /** Recursive delete, tolerant of a vanished path. */
  private[store] def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try st.iterator().forEachRemaining(rmTree(_)) finally st.close()
    }
    Files.deleteIfExists(p); ()
  }
}

/** Versioned, copy-on-write table catalog — the mutable-table layer the
  * reference gets from PostgreSQL (SURVEY §4.3).
  *
  * Spark DataFrames are immutable and parquet has no constraints, but the
  * reference mutates rows in place (`update`/`delete`/`upsert`,
  * `effect.ts:495-541`) and relies on unique indexes
  * (`migrations/20260102130331_init/migration.sql:77-90`) plus
  * `\$transaction` batches (`effect.ts:369-396`). This layer provides those
  * semantics Iceberg-style, minimally — and, crucially for 100 TB,
  * **partition-scoped**:
  *
  *   - the unit of copy-on-write is a (table, partition) slice, not the
  *     table: each slice version is a fresh immutable parquet directory
  *     `root/<table>/<partitionKey>/<version-uuid>/` (unpartitioned tables
  *     use the single slice `__all__`);
  *   - the catalog state is ONE manifest file mapping
  *     table → (partition key → current version), swapped atomically
  *     (write temp + POSIX rename), so a multi-table transaction commits
  *     all-or-nothing — the Spark analog of `\$transaction`'s sequential
  *     batch;
  *   - a mutation rewrites ONLY the slices it touches (computed from the
  *     mutation's predicate / incoming keys in [[GraftTable]]); a status
  *     flip on a status-partitioned 100 TB queue table rewrites two
  *     partitions, not 100 TB. Untouched slices keep their version id and
  *     their files are never opened for write — byte-identical across the
  *     commit;
  *   - readers resolve the manifest once per query → snapshot isolation
  *     (old versions remain readable until vacuumed);
  *   - optimistic concurrency: a commit re-reads the manifest and fails if
  *     the base version-map of any touched table moved (the driver is
  *     single-writer here; on a real cluster the same manifest would live
  *     in an object store with a CAS primitive or a lock service).
  */
final class Catalog(val root: String) {
  private val rootPath: Path = Paths.get(root)
  private val manifestPath: Path = rootPath.resolve("manifest.json")
  private val historyDir: Path = rootPath.resolve("_history")
  Files.createDirectories(rootPath)
  // Open-time sweep of crashed-run staging leftovers: a process killed
  // mid-multi-slice-staging leaves a .stage-<uuid> shell behind (the
  // in-process cleanup is try/finally, but a crash skips finally). Stage
  // dirs are process-private scratch — never referenced by any manifest.
  // Only STALE ones go: a fresh stage may be a live writer's in-flight
  // write in another process, and sweeping it would make that writer
  // lose its staged slices (its move loop then throws).
  locally {
    val cutoff = System.currentTimeMillis() - Catalog.StaleStageMillis
    val st = Files.list(rootPath)
    try st.iterator().asScala
      .filter(_.getFileName.toString.startsWith(".stage-"))
      .filter(p => scala.util.Try(
        Files.getLastModifiedTime(p).toMillis < cutoff).getOrElse(false))
      .foreach(p => scala.util.Try(Catalog.rmTree(p)))
    finally st.close()
  }

  /** table name → (partition key → current version id), or empty map. */
  def manifest(): Map[String, Map[String, String]] =
    if (!Files.exists(manifestPath)) Map.empty
    else parse(Files.readString(manifestPath))

  // ------------------------------------------------------------ time travel

  /** Monotone id of the latest commit (0 before the first). Every commit
    * archives the manifest it publishes as `_history/<id>.json`, so a
    * reader can pin "the catalog exactly as of commit N" — the snapshot a
    * reproducible training run records next to its config. Old slice
    * versions stay readable until [[vacuum]]'s retention window passes;
    * history files themselves are tiny and never vacuumed. */
  def currentCommitId(): Long =
    if (!Files.exists(historyDir)) 0L
    else {
      listDir(historyDir)
        .map(_.getFileName.toString).collect {
          case s if s.endsWith(".json") => s.stripSuffix(".json").toLong
        }.maxOption.getOrElse(0L)
    }

  /** `Files.list` with the stream CLOSED (it holds a directory fd until
    * GC otherwise — a long-running driver doing many commits would leak
    * one per call). Materializes: every caller walks the full listing. */
  private def listDir(p: Path): Seq[Path] = {
    val stream = Files.list(p)
    try stream.iterator().asScala.toSeq finally stream.close()
  }

  /** The manifest as of commit `id` (a value from [[currentCommitId]]).
    * Throws if that commit was never made on this catalog. */
  def manifestAt(id: Long): Map[String, Map[String, String]] = {
    // commit 0 is the EMPTY pre-history manifest (no archived file ever
    // exists for it) — the same convention ChangeFeed and restoreTo
    // already honor, so `snapshotAt(0)` is the empty table, not an error
    if (id == 0) return Map.empty
    val p = historyDir.resolve(s"$id.json")
    if (!Files.exists(p))
      throw new RecordNotFoundException(s"no commit $id in ${historyDir}")
    parse(Files.readString(p))
  }

  /** partition key → slice directory for `table` as of commit `id`. */
  def dirsAt(table: String, id: Long): Map[String, String] =
    manifestAt(id).getOrElse(table, Map.empty)
      .map { case (pk, v) => pk -> versionDir(table, pk, v) }

  /** Current partition-key → version map for one table. */
  def partVersions(table: String): Map[String, String] =
    manifest().getOrElse(table, Map.empty)

  def versionDir(table: String, partKey: String, version: String): String =
    rootPath.resolve(table).resolve(partKey).resolve(version).toString

  /** partition key → current slice directory for a table. */
  def currentDirs(table: String): Map[String, String] =
    partVersions(table).map { case (pk, v) => pk -> versionDir(table, pk, v) }

  /** Allocate a fresh (not-yet-committed) version directory for one
    * (table, partition) slice. */
  def newVersionDir(table: String, partKey: String): (String, String) = {
    val v = UUID.randomUUID().toString.replace("-", "")
    (v, versionDir(table, partKey, v))
  }

  /** Atomically publish new slice versions for a set of tables, verifying
    * each table's base version-map has not moved since the caller read it
    * (optimistic concurrency — the engine analog of Prisma's Serializable
    * isolation option, `internal/prismaNamespace.ts:885-892`).
    *
    * `updates`: table → (partition key → Some(newVersion) | None to drop
    * the slice — a partition emptied by delete / partition-moving update).
    */
  /** Single-writer commit mutex. `maxWait`-bounded acquisition gives the
    * Prisma `maxWait` semantics (P2024 on expiry); on a cluster the same
    * bound applies to the object-store CAS / lock-service acquisition. */
  private[store] val commitLock = new java.util.concurrent.locks.ReentrantLock(true)

  def commit(expectedBase: Map[String, Option[Map[String, String]]],
             updates: Map[String, Map[String, Option[String]]],
             maxWaitMs: Long = 60000): Unit = {
    if (!commitLock.tryLock(maxWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new CommitWaitTimeoutException(
        s"commit lock not acquired within ${maxWaitMs}ms")
    try {
      val cur = manifest()
      expectedBase.foreach { case (t, expected) =>
        val actual = cur.get(t)
        if (actual != expected)
          throw new ConcurrentModificationException(
            s"table $t moved: expected ${expected.getOrElse("<none>")}, found ${actual.getOrElse("<none>")}")
      }
      val next = updates.foldLeft(cur) { case (m, (t, parts)) =>
        val merged = parts.foldLeft(m.getOrElse(t, Map.empty[String, String])) {
          case (pm, (pk, Some(v))) => pm + (pk -> v)
          case (pm, (pk, None))    => pm - pk
        }
        if (merged.isEmpty) m - t else m + (t -> merged)
      }
      // stamp each version being SUPERSEDED with the supersession time, so
      // vacuum's retention window counts from when a version stopped being
      // current — not from when it was created (a long-lived version would
      // otherwise be reclaimable the instant it is replaced)
      val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
      updates.foreach { case (t, parts) =>
        val old = cur.getOrElse(t, Map.empty)
        parts.keys.foreach { pk =>
          old.get(pk).filter(v => !next.getOrElse(t, Map.empty).get(pk).contains(v))
            .foreach { v =>
              val dir = Paths.get(versionDir(t, pk, v))
              if (Files.exists(dir)) Files.setLastModifiedTime(dir, now)
            }
        }
      }
      val tmp = rootPath.resolve(s".manifest.${UUID.randomUUID()}.tmp")
      val rendered = render(next).getBytes(StandardCharsets.UTF_8)
      Files.write(tmp, rendered)
      Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // archive AFTER the swap: the history entry exists only for
      // manifests that were actually published (a crash between the two
      // writes loses the history copy, never publishes a phantom one)
      Files.createDirectories(historyDir)
      Files.write(historyDir.resolve(s"${currentCommitId() + 1}.json"), rendered)
    } finally commitLock.unlock()
  }

  /** Drop non-current slice version directories (snapshot GC).
    *
    * `retainMs`: keep non-current versions younger than this, so readers
    * holding a snapshot resolved up to `retainMs` ago stay readable — the
    * standard time-travel/GC retention contract (Iceberg/Delta do the
    * same). `0` reclaims everything not current (only safe when no reader
    * holds an old snapshot).
    *
    * `keepHistory`: opt-in cap on archived `_history` manifests — keep
    * only the newest N commit entries (the current commit is always kept,
    * so the cap clamps to ≥ 1). History files are tiny JSON but unbounded
    * in a long-lived store; the default keeps all of them. `manifestAt`/
    * `snapshotAt` on a reclaimed commit id throws the documented
    * RecordNotFoundException ("no commit <id>").
    *
    * Returns the UNRECOVERABLE cursors: `cdf:` consumers whose archived
    * manifest was already reclaimed (by an earlier, pre-cursor-aware
    * vacuum) and therefore could not be pinned — their next drain will
    * fail with RecordNotFoundException. Surfacing them HERE, at vacuum
    * time, puts the diagnosis next to the cause instead of at the
    * consumer's next refresh, arbitrarily far away; each entry is
    * (table, cursor commit id). Empty = every consumer protected. */
  def vacuum(retainMs: Long = 0,
             keepHistory: Int = Int.MaxValue): Seq[(String, Long)] = {
    val cur = manifest()
    // CURSOR-AWARE RETENTION: a CDF consumer's next drain diffs
    // manifestAt(cursor) against head, reading the cursor manifest's
    // slice versions as preimages (ChangeFeed.changesBetween). Time-based
    // retention cannot see cursors, so vacuum(0) on a catalog with a
    // LAGGING index/mirror would strand exactly the versions the next
    // refresh needs. Every `cdf:` watermark therefore pins (a) its
    // archived manifest and (b) the slice versions that manifest
    // references FOR ITS TABLE, regardless of retainMs. StoreSink batch
    // watermarks are batch ids, not commit ids — excluded by the prefix.
    val cursors: Seq[(String, Long)] =
      cur.getOrElse(Catalog.StreamTable, Map.empty).toSeq.flatMap {
        case (key, v) =>
          val i = key.indexOf(':') // both halves url-encoded → first ':'
          if (i < 0) None
          else {
            val table = java.net.URLDecoder.decode(
              key.substring(0, i), StandardCharsets.UTF_8.name())
            val sid = java.net.URLDecoder.decode(
              key.substring(i + 1), StandardCharsets.UTF_8.name())
            if (sid.startsWith("cdf:")) v.toLongOption.map(table -> _)
            else None
          }
      }.filter(_._2 > 0)
    val pinnedIds = cursors.map(_._2).toSet
    // (table, partition key) → versions some cursor manifest still needs;
    // a cursor whose manifest was already reclaimed by an earlier,
    // pre-cursor-aware vacuum is skipped (nothing left to protect) but
    // COLLECTED — the caller learns now that the consumer is stranded
    val skipped = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val pinned: Map[(String, String), Set[String]] = cursors
      .flatMap { case (t, c) =>
        val m = scala.util.Try(manifestAt(c)).toOption
        if (m.isEmpty) skipped += (t -> c)
        m.toSeq.flatMap(_.getOrElse(t, Map.empty).toSeq.map {
          case (pk, ver) => ((t, pk), ver)
        })
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    if (keepHistory != Int.MaxValue && Files.exists(historyDir)) {
      // Only numeric manifests count — a stray non-numeric .json (crash
      // leftover, editor artifact) must not abort the whole vacuum.
      val ids = listDir(historyDir).map(_.getFileName.toString)
        .collect { case s if s.matches("\\d+\\.json") => s.stripSuffix(".json").toLong }
        .sorted(Ordering[Long].reverse)
      ids.drop(math.max(keepHistory, 1))
        .filterNot(pinnedIds.contains)
        .foreach(id => Files.deleteIfExists(historyDir.resolve(s"$id.json")))
    }
    val cutoff = System.currentTimeMillis() - retainMs
    if (Files.exists(rootPath)) {
      listDir(rootPath)
        .filter(p => Files.isDirectory(p)).foreach { tableDir =>
          val table = tableDir.getFileName.toString
          val keep = cur.getOrElse(table, Map.empty)
          listDir(tableDir)
            .filter(p => Files.isDirectory(p)).foreach { partDir =>
              val pk = partDir.getFileName.toString
              val held = pinned.getOrElse((table, pk), Set.empty)
              listDir(partDir)
                .filter(p => Files.isDirectory(p))
                .filter(p => !keep.get(pk).contains(p.getFileName.toString))
                .filter(p => !held.contains(p.getFileName.toString))
                .filter(p => retainMs <= 0 ||
                  Files.getLastModifiedTime(p).toMillis < cutoff)
                .foreach(deleteRecursively)
            }
        }
    }
    skipped.toSeq
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  // minimal two-level JSON: {"table": {"partKey": "version", ...}, ...}
  // (partition keys are url-encoded → never contain `"` `{` `}`)
  private def render(m: Map[String, Map[String, String]]): String =
    m.toSeq.sortBy(_._1).map { case (t, parts) =>
      val inner = parts.toSeq.sorted
        .map { case (pk, v) => s""""$pk": "$v"""" }.mkString("{", ", ", "}")
      s""""$t": $inner"""
    }.mkString("{", ", ", "}")

  private def parse(s: String): Map[String, Map[String, String]] = {
    val tbl = """"([^"]+)"\s*:\s*\{([^}]*)\}""".r
    val pair = """"([^"]+)"\s*:\s*"([^"]+)"""".r
    tbl.findAllMatchIn(s).map { m =>
      m.group(1) -> pair.findAllMatchIn(m.group(2))
        .map(p => p.group(1) -> p.group(2)).toMap
    }.toMap
  }
}

/** Engine error taxonomy — the Prisma client error codes the reference
  * maps and handles (`src/db/client/effect.ts:17-196`), surfaced as typed
  * exceptions carrying their P-code. The reference's pipeline logic matches
  * on these codes (e.g. the swallowed P2002 in
  * `extractGooglePlaces.ts:305-317`); engine users match on the class OR
  * the code. */
sealed abstract class GraftException(val code: String, msg: String)
  extends RuntimeException(s"[$code] $msg")

/** P2034: write conflict / serialization failure (OCC base moved). */
final class ConcurrentModificationException(msg: String) extends GraftException("P2034", msg)
/** P2002: unique constraint violation. */
final class UniqueViolationException(msg: String) extends GraftException("P2002", msg)
/** P2025: required record not found. */
final class RecordNotFoundException(msg: String) extends GraftException("P2025", msg)
/** P2011: null constraint violation (NULL into a non-nullable column). */
final class NullConstraintException(msg: String) extends GraftException("P2011", msg)
/** P2028: transaction API error — here: interactive transaction timeout. */
final class TransactionTimeoutException(msg: String) extends GraftException("P2028", msg)
/** P2024: timed out waiting to acquire the commit lock (the engine analog
  * of Prisma's connection-pool `maxWait`). */
final class CommitWaitTimeoutException(msg: String) extends GraftException("P2024", msg)
/** P2003: foreign key constraint violation (ON DELETE RESTRICT — deleting a
  * parent row that live child rows still reference, `migration.sql:93`). */
final class ForeignKeyViolationException(msg: String) extends GraftException("P2003", msg)
/** P2000: provided value too long for the column's declared maximum
  * length (the `VARCHAR(n)` overflow the reference's Postgres raises;
  * declared per column via `GraftTable.maxLengths` — parquet itself has
  * no length-typed strings, so the engine enforces the contract). */
final class ValueTooLongException(msg: String) extends GraftException("P2000", msg)
/** P2014: required-relation violation — a write that would sever a
  * REQUIRED relation between two models (here: updating a declared
  * non-nullable FK column to NULL, the relation-level counterpart of the
  * raw-column P2011). */
final class RequiredRelationException(msg: String) extends GraftException("P2014", msg)
/** P2022: the table's schema has evolved since this handle was created —
  * a stale writer's slice rewrite would project evolved columns away and
  * silently null them for bystander rows. Re-acquire the table via the
  * evolved handle (the return value of `evolve`). Stale READERS stay
  * valid: their schema is a projection of the files either way. */
final class StaleSchemaException(msg: String) extends GraftException("P2022", msg)
