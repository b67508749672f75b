package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned parquet table store with atomic commits — the persistence
  * half of the upsert library (SURVEY §7.4 hard part #1).
  *
  * Layout:  root/<table>/v=<K>-<writer>/part-*.parquet  plus
  * root/<table>/_CURRENT containing the live version DIR NAME (each
  * writer stages under a unique suffix; only the pointer defines
  * liveness). Bucketed tables add root/<table>/_BUCKETS (the bucket
  * count, fixed at creation) and nest `kb=<N>/` partition dirs under
  * each version.
  *
  * Version format (the only one this store reads):
  *  - `_CURRENT` holds `v=<K>-<writer suffix>`, the live version's
  *    directory name;
  *  - every version dir carries `_schema.json` (the canonical schema
  *    every read applies), `_manifest` (the (rel path, bytes) row of
  *    every data file, which every read plans from) and `_commit_ts`
  *    (the publish wall-clock), plus `_zonemap` when the table
  *    declares zone columns.
  * One resolver ([[layoutAt]]) reads the schema and manifest for every
  * read path, and it states the refusal rule once. A missing version
  * dir, or a missing `_schema.json`/`_manifest` on a version at or
  * below `head − keepVersions` (retention may be deleting it), is the
  * retryable [[ConcurrentCommitException]]. A missing `_schema.json`/
  * `_manifest` inside that keep window, or a pointer without the `v=`
  * prefix, is an `IllegalStateException` that names the table, the
  * version and the missing file: the version was written in an older
  * format (or damaged), and nothing migrates it in place — rebuild
  * the table.
  *
  * Commit protocol (optimistic concurrency):
  *   1. write the new snapshot to v=<K+1>-<unique writer suffix> (a
  *      fresh directory PER WRITER — concurrent committers can never
  *      interleave part files, and readers are never torn);
  *   2. compare-and-set _CURRENT to the staged dir name ([[StoreIo
  *      .swapPointerIfCurrent]], expected = the pointer this commit
  *      was computed against): a competing writer that published
  *      first makes the CAS throw [[ConcurrentCommitException]] — the
  *      loser's staged dir is deleted and the operation retried over
  *      the winner's snapshot ([[withCommitRetries]]).
  * Readers resolve _CURRENT first, then read only that version dir —
  * the swap is reader-atomic, so a concurrent reader sees either the
  * old or the new snapshot, never a mix. INSERT OR REPLACE in the
  * reference got this from SQLite's WAL; here it's the classic
  * staged-overwrite pattern plus an optimistic-concurrency publish.
  *
  * O(delta) commits: [[upsertBucketed]] partitions the table by a key
  * bucket (`kb = pmod(hash(keys), numBuckets)`), rewrites ONLY the
  * buckets the incoming delta touches, and HARD-LINKS every untouched
  * bucket's files from the previous version — byte-identical by
  * construction, O(1) per file, and version pruning stays safe
  * because the links keep shared inodes alive. A merge therefore
  * costs O(delta + touched buckets), not O(table): at 100 TB a
  * 1000-bucket table absorbs a single-bucket delta by reading and
  * rewriting ~0.1% of its bytes.
  *
  * Schema evolution: both upsert paths align schemas add-only via
  * [[SchemaEvolution.align]] before merging (the reference's ALTER
  * TABLE ADD COLUMN analog), so a producer that grew a column merges
  * into an old table without a manual migration.
  *
  * Scale notes: the two filesystem-semantics dependencies (atomic
  * pointer swap, hard-link sharing) live behind the [[StoreIo]] seam:
  * [[PosixStoreIo]] (default) is correct on HDFS and any real
  * filesystem; [[ObjectStoreIo]] is the S3-style profile (atomic
  * single-object pointer PUT with the conditional-PUT / If-Match
  * precondition modeled for multi-writer, and server-side COPY
  * instead of links). Writer conflicts surface as
  * [[ConcurrentCommitException]] (re-read + retry); richer snapshot
  * history is what a transactional table format (Delta/Iceberg)
  * provides — this store keeps the engine dependency-free while
  * preserving the semantics the operators need. Old versions are
  * pruned to `keepVersions`.
  *
  * Cross-table contract: atomicity is per TABLE — there is no
  * multi-table transaction (the reference had none either: each
  * sqlite3 script opened its own connection and committed per
  * statement). Racing writers on two tables therefore guarantee (a)
  * no committed merge on either table is ever lost (each table's CAS
  * serializes its own publishes) and (b) readers see each table at
  * some complete committed version — but a reader MAY observe table A
  * at a newer version than table B. Pipelines that need referential
  * integrity get it by commit ORDER: commit parents before children
  * (the SyncPipeline shape) and an insert-only reader can never see
  * an orphan child, only a parent whose child has not landed yet —
  * StoreCasSpec's two-table race pins exactly this contract.
  */
/** Opaque token pairing a table with the pointer a
  * [[ParquetTableStore.readPinned]] resolved — the CAS expectation a
  * later pinned [[ParquetTableStore.commit]] publishes against.
  * Constructed only by the store (the pointer representation is
  * private to the commit protocol). */
final case class CommitPin private[ops] (table: String,
    private[ops] val pointer: Option[String])

/** What a write's pointer CAS expects to find at publish time — the
  * one parameter that distinguishes a blind replace, a create and a
  * derive-then-replace on [[ParquetTableStore.commit]] and
  * [[ParquetTableStore.upsertBucketed]]. */
sealed trait Expect

object Expect {
  /** Any version: the pointer as of the call (a blind replace). A
    * caller whose frame was DERIVED from an earlier read must not use
    * this — a competitor landing in between would be overwritten. */
  case object Head extends Expect

  /** Must be new: the table must not exist at publish time. Every
    * `exists()`-guarded create branch uses this, so a competitor that
    * created the table in between fails the publish instead of being
    * replaced. */
  case object New extends Expect

  /** The pointer a [[ParquetTableStore.readPinned]] /
    * [[ParquetTableStore.readPinnedOption]] captured: the publish
    * fails if ANY commit landed since that read (an absence pin acts
    * as [[New]]). */
  final case class Pinned(pin: CommitPin) extends Expect
}

/** Opaque token for the MULTI-TABLE commit protocol: the (table →
  * version) vector a group marker named when [[ParquetTableStore
  * .groupPin]] resolved it (empty for a never-committed group), plus
  * the raw marker content the next [[ParquetTableStore.commitGroup]]
  * CASes against. Constructed only by the store. */
final case class GroupPin private[ops] (group: String,
    versions: Map[String, Long],
    private[ops] val raw: Option[String])

/** Plan ingredients of one resolved store version for the SQL catalog
  * face ([[ParquetTableStore.scanSpec]]): the catalog builds a
  * manifest-fed, zone-skipping scan from these without touching the
  * store's internals. `bucketCol` is Some for bucket-partitioned
  * layouts (the column is layout-only and excluded from `schema`). */
final case class StoreScanSpec private[ops] (rootDir: String,
    schema: org.apache.spark.sql.types.StructType,
    files: Seq[(String, Long)],
    bucketCol: Option[String],
    skip: Option[graft.sources.ZoneSkip],
    version: Long)

final class ParquetTableStore(root: String, keepVersions: Int = 2,
    io: StoreIo = StoreIo.default, maxRetained: Int = 64) {
  require(keepVersions >= 1)
  require(maxRetained >= 1)

  /** Effective cursor-protection cap: registered consumers can widen
    * retention to at most this many versions below the head. Never
    * below `keepVersions` — plain retention already keeps that much,
    * so a large-keepVersions store doesn't need the cap re-tuned. */
  private val protectCap = math.max(maxRetained, keepVersions)

  private val BucketCol = "__kb"

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def currentFile(table: String): Path = tableDir(table).resolve("_CURRENT")
  private def bucketsFile(table: String): Path = tableDir(table).resolve("_BUCKETS")

  private def versionOf(dirName: String): Long = {
    val core = dirName.stripPrefix("v=")
    val dash = core.indexOf('-')
    (if (dash < 0) core else core.substring(0, dash)).toLong
  }

  /** The live pointer: the live version's DIRECTORY NAME
    * (`v=<K>-<writer-suffix>`). Each writer stages under a
    * unique-suffixed dir, so two optimistic committers can never
    * interleave part files in one directory — the pointer CAS is the
    * single commit point, exactly the transactional-table-format
    * discipline. A pointer that is not a `v=` dir name (an older
    * format's bare number) refuses typed. */
  private def currentPointer(table: String): Option[String] =
    if (!exists(table)) None
    else {
      val p = new String(Files.readAllBytes(currentFile(table)),
        StandardCharsets.UTF_8).trim
      if (!p.startsWith("v=")) throw new IllegalStateException(
        s"table $table: _CURRENT holds '$p', not a v=<K>-<suffix> " +
          "version dir name — written in an older store format; " +
          "rebuild the table")
      Some(p)
    }

  /** The live pointer, refusing a table with no committed version. */
  private def headPointer(table: String): String =
    currentPointer(table).getOrElse(
      throw new IllegalStateException(s"table $table has no committed version"))

  def exists(table: String): Boolean = Files.exists(currentFile(table))

  def currentVersion(table: String): Option[Long] =
    currentPointer(table).map(versionOf)

  /** Bucket count for a bucketed table (absent → snapshot table). */
  def numBuckets(table: String): Option[Int] =
    if (!Files.exists(bucketsFile(table))) None
    else Some(new String(Files.readAllBytes(bucketsFile(table)),
      StandardCharsets.UTF_8).trim.toInt)

  /** The live snapshot PLUS the version it resolved to — for probes
    * that must verify a read against independently-pinned versions.
    * The discipline is resolve-THEN-verify: binding the frame first
    * and comparing its resolved version to the pin closes the window
    * where a commit landing between a version pre-check and a
    * [[read]] would silently mix snapshots ([[readBucketsOf]]'s
    * existing contract, generalized to snapshot tables). */
  def readVersioned(spark: SparkSession, table: String): (DataFrame, Long) = {
    val d = headPointer(table)
    (readDir(spark, table, d), versionOf(d))
  }

  /** The live snapshot. The internal bucket column never escapes. */
  def read(spark: SparkSession, table: String): DataFrame =
    readDir(spark, table, headPointer(table))

  /** The live snapshot read through DIRECTORY LISTING (partition
    * discovery under the recorded schema), kept public as the
    * VERIFICATION TWIN of [[read]]: gate u20 pins manifest-planned ≡
    * listing-planned row-for-row across the full write surface, so a
    * manifest that lost or invented a file can never pass silently.
    * Never use this as a consumer path — it pays the O(files)
    * metadata walk the manifest exists to remove. */
  def readLegacy(spark: SparkSession, table: String): DataFrame = {
    val l = layoutAt(table, headPointer(table))
    val df = spark.read.schema(l.schema).parquet(l.dir.toString)
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  /** One version's on-disk format as [[layoutAt]] resolved it: the
    * canonical schema (bucket column included for bucketed layouts),
    * the manifest's (rel path, bytes) rows, and the zone-map stats
    * (read on first use). */
  private final class VersionLayout(table: String, val dirName: String,
      val dir: Path, val schema: org.apache.spark.sql.types.StructType,
      val rows: Seq[(String, Long)]) {
    /** Every file sits under a `__kb=N/` dir (a fileless-empty
      * bucketed version's one root file carries the column as data). */
    def partitioned: Boolean = schema.fieldNames.contains(BucketCol) &&
      rows.nonEmpty && rows.forall(_._1.startsWith(s"$BucketCol="))
    lazy val skip: Option[graft.sources.ZoneSkip] =
      sidecarOf(table, dirName, ZoneMapDir)(zoneSkipOf(table, dir, schema))
  }

  /** THE VERSION-FORMAT RESOLVER: every read path takes a version's
    * schema, file list and zone skip from here — never from a
    * directory listing or parquet schema inference. `buckets`
    * restricts the manifest rows to those buckets' `__kb=N/` files
    * (only the manifest slices that can hold them are parsed). A
    * missing version dir or sidecar refuses by [[unreadable]]'s rule. */
  private def layoutAt(table: String, dirName: String,
      buckets: Option[Set[Int]] = None): VersionLayout = {
    val vdir = tableDir(table).resolve(dirName)
    val schema = sidecarOf(table, dirName, SchemaFile)(storedSchemaOf(vdir))
    val rows = sidecarOf(table, dirName, ManifestDir)(
      manifestRowsSliced(vdir, buckets.map(_.map(b => s"$BucketCol=$b/"))))
    new VersionLayout(table, dirName, vdir, schema, rows)
  }

  /** Read sidecar `name` of a version, mapping a vanished file to
    * [[unreadable]]'s refusal. */
  private def sidecarOf[T](table: String, dirName: String, name: String)(
      read: => T): T =
    try read
    catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException =>
        throw unreadable(table, dirName, name)
    }

  /** Is committed version `v` of `table` inside the plain keep window
    * (`v > head − keepVersions`)? Retention never deletes there, so a
    * file missing from such a version is not a prune in progress. */
  private def inPlainWindow(table: String, v: Long): Boolean =
    currentVersion(table).exists(head => v > head - keepVersions)

  /** THE REFUSAL RULE for a version that lacks `missing`. A vanished
    * version dir, or a version retention may be deleting (outside the
    * plain keep window — prune deletes a tree bottom-up, so its
    * sidecars go before its dir), is the retryable
    * [[ConcurrentCommitException]]: re-read the head and retry. Inside
    * the window the version was written in an older format or
    * damaged: a typed refusal, never a listing or an inferred schema. */
  private def unreadable(table: String, dirName: String,
      missing: String): RuntimeException = {
    val vdir = tableDir(table).resolve(dirName)
    val v = versionOf(dirName)
    if (!Files.exists(vdir) || !inPlainWindow(table, v))
      new ConcurrentCommitException(
        s"version $vdir lost its $missing during read planning — a " +
          "concurrent commit advanced past retention; re-read and retry")
    else new IllegalStateException(
      s"table $table version $v ($dirName) has no $missing — written " +
        "in an older store format or damaged; no in-place migration " +
        "exists, rebuild the table")
  }

  /** The version's consumer frame, planned from its `_manifest` rows
    * under its `_schema.json` ([[layoutAt]]) — NO directory listing,
    * no per-file stat, no footer sampling; at 10⁵-10⁶ files per
    * version an object-store read otherwise pays O(files) LIST/HEAD
    * RPCs at plan time ([[graft.sources.ManifestFileIndex]]). The
    * internal bucket column never escapes.
    *
    * Concurrency contract: a version pruned between the pointer
    * resolve and THIS call maps to the retryable
    * [[ConcurrentCommitException]]; a version pruned AFTER the frame
    * is bound but before an action on it surfaces at task time as
    * the filesystem's own FileNotFoundException — the frame is lazy
    * and nothing re-checks existence at execution time (consumers
    * act on a frame while its version is retained; `keepVersions` /
    * the cursor registry size that window). */
  private def readDir(spark: SparkSession, table: String, dirName: String): DataFrame = {
    val l = layoutAt(table, dirName)
    val df = graft.sources.ManifestFileIndex.storeFrame(spark,
      l.dir.toUri.toString, l.schema, l.rows, BucketCol, l.skip)
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  /** A vanished input file anywhere in a failure's cause chain —
    * Spark wraps an executor-side FileNotFoundException in
    * SparkException layers, so the match walks the chain (bounded:
    * exception causes can self-reference). */
  private def vanishedInputIn(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 16) {
      t match {
        case _: java.io.FileNotFoundException |
             _: java.nio.file.NoSuchFileException => return true
        case _ =>
      }
      t = if (t.getCause eq t) null else t.getCause
      depth += 1
    }
    false
  }

  /** EAGER-ACTION GUARD for the task-time vanished-version window
    * [[readDir]] documents: a frame planned from a version RETAINED
    * at plan time re-checks nothing at execution, so a version pruned
    * between the plan and the action surfaces from the scan as a raw
    * executor FileNotFoundException. Every store-OWNED eager consumer
    * (the merge/fold/stats actions inside the commit paths) runs
    * under this guard, which maps a vanished input anywhere in the
    * failure's cause chain to the retryable
    * [[ConcurrentCommitException]] — the [[changesBetween]] guarded()
    * contract (re-read the winner, re-derive, retry under
    * [[withCommitRetries]]). Long-lived CALLER frames keep the
    * documented window: act on a frame while its version is retained
    * (`keepVersions` / the cursor registry size that window). */
  private def guardedAction[T](context: => String)(action: => T): T =
    try action
    catch {
      case e: Throwable if vanishedInputIn(e) =>
        throw new ConcurrentCommitException(
          s"$context: an input file vanished mid-action — a concurrent " +
            "commit advanced past retention while this frame executed; " +
            "re-read and retry", e)
    }

  /** `_manifest` rows (rel path, bytes) read DRIVER-SIDE with the
    * bare parquet reader — no Spark job: every [[readDir]] plans
    * through these rows, and a scheduler round-trip per read would
    * tax all the small store reads the battery is full of. The row
    * array is exactly the FileStatus list the FileIndex must hold on
    * the driver anyway. Large manifests are written as SLICES
    * ([[writeManifestRowsDriver]] — range-partitioned and sorted by rel
    * path, ~128k rows each) and parse in PARALLEL here: the bare
    * Group reader runs ~6 s/10⁶ rows single-threaded (6.3 s, PLANS.md
    * "Manifest at 10⁶ files"), which a thread per slice collapses to
    * ~1 s. Consumers (maintenance rollups, [[fileStats]]) get the
    * same rows from [[layoutAt]]. A missing sidecar (or one with no
    * slice — a prune mid-delete) is a NoSuchFileException.
    *
    * With rel-path `prefixes` (the bucket-restricted read), slices
    * whose footer min/max rel-path range provably misses every prefix
    * are SKIPPED without parsing a row — a touched-bucket read of a
    * 10⁶-file version parses only its own slice(s), not the whole
    * sidecar. Sliced manifests are sorted by rel path, so bucket
    * prefixes concentrate in few slices; stats-less or anomalous
    * slices parse conservatively. */
  private def manifestRowsSliced(vdir: Path,
      prefixes: Option[Set[String]]): Seq[(String, Long)] =
    prefixes match {
      case None =>
        cachedSidecar[Seq[(String, Long)]]("m", vdir)(
          manifestRowsParse(vdir, None))
      case Some(ps) =>
        // a cached FULL parse serves any restriction by the same
        // prefix filter the restricted parse would apply; absent one,
        // parse restricted (and don't cache the partial view)
        val full = sidecarCache.synchronized {
          Option(sidecarCache.get("m:" + vdir.toString))
        }
        full match {
          case Some(v) if Files.exists(vdir) =>
            v.asInstanceOf[Seq[(String, Long)]]
              .filter(r => ps.exists(r._1.startsWith(_)))
          case _ => manifestRowsParse(vdir, prefixes)
        }
    }

  private def manifestRowsParse(vdir: Path,
      prefixes: Option[Set[String]]): Seq[(String, Long)] = {
    val mdir = vdir.resolve(ManifestDir)
    val parts = listDir(mdir)
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
    // every write records at least one slice (an empty one for a
    // fileless version): none left is a sidecar mid-delete
    if (parts.isEmpty) throw new java.nio.file.NoSuchFileException(mdir.toString)
    val kept = prefixes match {
      case Some(ps) => parts.filter(p => sliceMayContain(p, ps))
      case None => parts
    }
    val parsed: Seq[Seq[(String, Long)]] =
      if (kept.size <= 1) kept.map(parseManifestSlice)
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(8, kept.size))
        try kept.map(p => pool.submit(
            new java.util.concurrent.Callable[Seq[(String, Long)]] {
              def call(): Seq[(String, Long)] = parseManifestSlice(p)
            })).map { f =>
            // a slice's own I/O failure, not the pool's wrapper
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              throw e.getCause }
          }
        finally pool.shutdown()
      }
    val rows = parsed.flatten
    prefixes match {
      case Some(ps) => rows.filter(r => ps.exists(r._1.startsWith(_)))
      case None => rows
    }
  }

  private def parseManifestSlice(p: Path): Seq[(String, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val reader = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new org.apache.hadoop.fs.Path(p.toUri)).build()
    try {
      var g = reader.read()
      while (g != null) {
        buf += ((g.getString("file", 0), g.getLong("bytes", 0)))
        g = reader.read()
      }
    } finally reader.close()
    buf.toSeq
  }

  /** Could slice `part` hold a rel path starting with any of
    * `prefixes`? Decided from the parquet FOOTER's per-row-group
    * min/max stats of the `file` column — a footer-only read, no row
    * decode. Paths are ASCII, so byte-lexicographic parquet stats
    * order agrees with string order; a prefix `p` covers exactly
    * [p, next(p)) where next increments p's last char. Anomalies
    * (missing stats, unreadable footer) answer true — parse it. */
  private def sliceMayContain(part: Path, prefixes: Set[String]): Boolean = {
    def next(p: String): String =
      p.substring(0, p.length - 1) + (p.charAt(p.length - 1) + 1).toChar
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toUri),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks
        if (blocks.isEmpty) false // no rows — nothing to miss
        else {
          import scala.jdk.CollectionConverters._
          blocks.asScala.exists { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == "file") match {
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || !st.hasNonNullValue) true
                else {
                  val mn = new String(st.getMinBytes,
                    java.nio.charset.StandardCharsets.UTF_8)
                  val mx = new String(st.getMaxBytes,
                    java.nio.charset.StandardCharsets.UTF_8)
                  prefixes.exists(p =>
                    mx.compareTo(p) >= 0 && mn.compareTo(next(p)) < 0)
                }
              case None => true
            }
          }
        }
      } finally r.close()
    } catch { case _: Exception => true }
  }

  /** Bounded per-store LRU over DRIVER-SIDE sidecar parses (manifest
    * rows, `_schema.json`, zone-map stats), keyed by the version DIR
    * — which is immutable once finalized (`v=<K>-<uuid>`: writers
    * stage under `tmp-` and move in whole; only `_commit_ts`, which
    * no cached parse reads, is added after the move). A store gate
    * re-reads the same version many times per fold (the commit's
    * return read, the next fold's pinned read, each stored-set scan
    * plans through the same sidecar), and re-parsing the identical
    * bytes per read was pure driver overhead (guide §6: metadata
    * caching — the manifest IS the listing cache). Entries are only
    * cached for finalized `v=` dirs; a HIT re-checks the dir still
    * exists (one stat) so a pruned version keeps surfacing as the
    * plan-time [[ConcurrentCommitException]], never a stale serve.
    * This caches file LISTS and schemas only — never query results
    * or data bytes; every read still scans the parquet inputs. */
  private val sidecarCache =
    new java.util.LinkedHashMap[String, AnyRef](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, AnyRef]): Boolean = size() > 128
    }

  /** Drop every cached sidecar parse. Version dirs are immutable by
    * the store's own contract, so the store never needs this; it
    * exists for tests that tamper a committed version's sidecars IN
    * PLACE to simulate maintenance bugs. */
  private[ops] def invalidateSidecars(): Unit =
    sidecarCache.synchronized(sidecarCache.clear())

  private def cachedSidecar[T <: AnyRef](kind: String, dir: Path)(
      compute: => T): T = {
    val finalized = dir.getFileName != null &&
      dir.getFileName.toString.startsWith("v=")
    if (!finalized) compute
    else {
      val key = kind + ":" + dir.toString
      val hit = sidecarCache.synchronized {
        Option(sidecarCache.get(key))
      }
      hit match {
        case Some(v) if Files.exists(dir) => v.asInstanceOf[T]
        case _ =>
          val v = compute
          sidecarCache.synchronized { sidecarCache.put(key, v) }
          v
      }
    }
  }

  /** The version's zone-map sidecar as [[graft.sources.ZoneSkip]]
    * stats for plan-time DATA SKIPPING — this is what turns a plain
    * `WHERE ts BETWEEN …` over a store read (or its SQL view) into a
    * file-level cut, the [[readZonePruned]] behavior made TRANSPARENT
    * to any predicate Spark hands the scan. None when the table
    * declares no zone columns, the version carries no map, or a
    * declared column's type falls outside the driver-readable set
    * (long/int/short/byte/double/float/string/boolean/date) — in
    * every None case reads simply don't skip; correctness never
    * depends on the cut because data filters re-apply per row. The
    * sidecar is one coalesced parquet file read driver-side, the
    * manifestRowsSliced discipline. */
  private def zoneSkipOf(table: String, vdir: Path,
      schema: org.apache.spark.sql.types.StructType)
      : Option[graft.sources.ZoneSkip] = {
    import org.apache.spark.sql.types._
    val zm = vdir.resolve(ZoneMapDir)
    zoneColumns(table) match {
      case Some(cols) if Files.exists(zm) &&
          cols.forall(schema.fieldNames.contains) =>
        cachedSidecar[Option[graft.sources.ZoneSkip]](
          "z" + cols.mkString(","), vdir) {
        val types = cols.map(c => c -> schema(c).dataType)
        val supported = types.forall { case (_, t) => t match {
          case LongType | IntegerType | ShortType | ByteType |
               DoubleType | FloatType | StringType | BooleanType |
               DateType => true
          case _ => false
        } }
        if (!supported) None
        else {
          val statsSchema = StructType(types.flatMap { case (c, t) =>
            Seq(StructField(s"min_$c", t), StructField(s"max_$c", t))
          })
          def value(g: org.apache.parquet.example.data.Group,
              name: String, t: DataType): Any =
            if (g.getType.containsField(name) &&
                g.getFieldRepetitionCount(name) > 0) t match {
              case LongType => g.getLong(name, 0)
              case IntegerType | DateType => g.getInteger(name, 0)
              case ShortType => g.getInteger(name, 0).toShort
              case ByteType => g.getInteger(name, 0).toByte
              case DoubleType => g.getDouble(name, 0)
              case FloatType => g.getFloat(name, 0)
              case BooleanType => g.getBoolean(name, 0)
              case StringType => org.apache.spark.unsafe.types.UTF8String
                .fromString(g.getString(name, 0))
              case _ => null
            } else null
          val rows = scala.collection.mutable.Map.empty[String,
            org.apache.spark.sql.catalyst.InternalRow]
          listDir(zm)
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet"))
            .foreach { p =>
              val reader = org.apache.parquet.hadoop.ParquetReader.builder(
                new org.apache.parquet.hadoop.example.GroupReadSupport(),
                new org.apache.hadoop.fs.Path(p.toUri)).build()
              try {
                var g = reader.read()
                while (g != null) {
                  val vals = statsSchema.fields.map(f =>
                    value(g, f.name, f.dataType))
                  rows(g.getString("file", 0)) =
                    new org.apache.spark.sql.catalyst.expressions
                      .GenericInternalRow(vals.asInstanceOf[Array[Any]])
                  g = reader.read()
                }
              } finally reader.close()
            }
          Some(graft.sources.ZoneSkip(statsSchema, rows.toMap))
        }
        }
      case _ => None
    }
  }

  /** The rows of version `dirName` restricted to buckets `kbs`, WITH
    * the bucket column (callers drop it), planned from the manifest
    * rows of those buckets alone ([[layoutAt]]): only touched buckets'
    * files enter the plan, and the bucket column carries its REAL
    * per-directory value ([[graft.sources.ManifestFileIndex.storeFrame]]
    * — compaction's repartition-by-bucket works unchanged). A
    * fileless-empty version's one root file holds no rows, so it has
    * nothing to restrict: no bucket prefix matches it and the frame is
    * empty under the version's schema. */
  private def readBucketRestricted(spark: SparkSession, table: String,
      dirName: String, kbs: Set[Int]): DataFrame = {
    val l = layoutAt(table, dirName, Some(kbs))
    graft.sources.ManifestFileIndex.storeFrame(spark, l.dir.toUri.toString,
      l.schema, l.rows, BucketCol)
      .filter(col(BucketCol).isin(kbs.toSeq: _*))
  }

  /** CANONICAL PER-VERSION SCHEMA — the table-format answer to
    * mixed-schema versions: an O(delta) bucketed upsert that EVOLVES
    * the schema rewrites only the files holding its keys, so the
    * version keeps every other old-schema file via hard links, and
    * parquet schema INFERENCE (one sampled footer, file-order
    * dependent) could silently drop the evolved column from reads —
    * measured, not theoretical (ParquetTableStoreSpec pins it).
    * Every write therefore records the written frame's schema as
    * `_schema.json` INSIDE the staged version dir (version-atomic,
    * like the zone map), and every version read applies it —
    * old-schema files read the evolved columns as null, exactly the
    * add-only evolution contract. */
  private val SchemaFile = "_schema.json"

  private def writeSchemaFile(stagedDir: Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    Files.write(stagedDir.resolve(SchemaFile),
      schema.json.getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def storedSchemaOf(dir: Path): org.apache.spark.sql.types.StructType =
    cachedSidecar[org.apache.spark.sql.types.StructType]("s", dir) {
      org.apache.spark.sql.types.DataType.fromJson(new String(
        Files.readAllBytes(dir.resolve(SchemaFile)), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** The PLAN INGREDIENTS of a table's CURRENT version, for the SQL
    * catalog face ([[graft.sources.GraftCatalog]]): root dir URI,
    * canonical schema (bucket column EXCLUDED — it is layout, not
    * data), manifest (rel path, bytes) rows, whether the layout is
    * bucket-partitioned, the zone-skip stats, and the resolved
    * version. Resolving this at `loadTable` time is what makes a
    * catalog read bind the CURRENT version at ANALYSIS time — the
    * property session views can't have (they bind at registration). */
  private[graft] def scanSpec(table: String): StoreScanSpec =
    scanSpecAt(table, None)

  /** [[scanSpec]] pinned to retained committed version `version` —
    * the SQL time-travel seam (`SELECT … FROM <cat>.<t> VERSION AS OF
    * <v>`). Resolution rides [[versionDirNameOf]]'s contract: above
    * the pointer, pruned, or ambiguous (a crash orphan sharing the
    * number) all refuse typed rather than serve unpublished or wrong
    * bytes. */
  private[graft] def scanSpecAt(table: String,
      version: Option[Long]): StoreScanSpec = {
    val dirName = version match {
      case Some(v) => versionDirNameOf(table, v)
      case None => headPointer(table)
    }
    val l = layoutAt(table, dirName)
    StoreScanSpec(l.dir.toUri.toString,
      org.apache.spark.sql.types.StructType(
        l.schema.fields.filterNot(_.name == BucketCol)),
      l.rows, if (l.partitioned) Some(BucketCol) else None,
      l.skip, versionOf(dirName))
  }

  /** Key columns stamped at bucketed-table creation (`_KEYS`,
    * first-writer-wins like `_BUCKETS`) — what lets a DECLARATIVE
    * writer (SQL `INSERT INTO` through the catalog) route rows to the
    * LWW merge without the caller passing keys. None = a table
    * created before the stamp existed (programmatic upserts keep
    * passing keys explicitly; one `replaceBucketed` re-stamps). */
  def keyColumns(table: String): Option[Seq[String]] =
    if (!Files.exists(keysFile(table))) None
    else Some(new String(Files.readAllBytes(keysFile(table)),
      StandardCharsets.UTF_8).trim.split(',').toSeq)

  private def keysFile(table: String): Path = tableDir(table).resolve("_KEYS")

  /** Write a table stamp (`_BUCKETS`, `_KEYS`, `_ZONECOLS`) unless
    * one exists — first writer wins (CREATE_NEW): racing creators
    * would otherwise overwrite each other's stamp, so losers adopt the
    * winner's by re-reading it. */
  private def stampOnce(file: Path, content: String): Unit = {
    Files.createDirectories(file.getParent)
    try Files.write(file, content.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Version numbers currently on disk for `table`, ascending — the
    * retention window [[readVersion]] can time-travel into (bounded
    * by `keepVersions`; older versions are pruned space, not history).
    */
  def versions(table: String): Seq[Long] =
    if (!Files.exists(tableDir(table))) Seq.empty
    else {
      // versions above the pointer are crash orphans (a writer that
      // finalized but never published) — never committed, never listed
      val ceiling = currentVersion(table).getOrElse(-1L)
      val s = Files.list(tableDir(table))
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v="))
        .map(versionOf).filter(_ <= ceiling).toSeq.distinct.sorted
      finally s.close()
    }

  /** TIME TRAVEL: read retained version `version` of `table` — the
    * audit/rollback/reproducibility read ("train on the corpus
    * exactly as committed last Tuesday"). Throws if the version fell
    * out of the retention window (size `keepVersions` at commit
    * time) or was never committed.
    *
    * Contract note: only versions at or below the published pointer
    * are committed history — a dir ABOVE the pointer is a crashed
    * writer's unpublished staging and is refused (and hidden from
    * [[versions]]). Version dirs are uniquely-suffixed per writer and
    * losers are deleted at CAS time, so a committed number normally
    * maps to exactly one dir — the winner. A pre-publish crash orphan
    * whose number a LATER writer then commits makes that number
    * ambiguous, and this read refuses (throws) rather than guess. Sweeping orphans (any `v=`
    * dir newer than the pointer target, out-of-band) restores
    * time-travel for the number. The CURRENT version never has this
    * problem — liveness is defined by the pointer, which [[read]]
    * resolves. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    readDir(spark, table, versionDirNameOf(table, version))

  /** Resolve committed version `version`'s dir name (the time-travel
    * contract: at-or-below the pointer, unambiguous, retained). */
  private def versionDirNameOf(table: String, version: Long): String = {
    // committed means at-or-below the pointer: a dir ABOVE it is a
    // crashed writer's unpublished staging and must never be served
    if (!exists(table) || version > currentVersion(table).getOrElse(-1L))
      throw new RetentionLostException(
        s"version $version of table $table is not retained " +
          "(pruned or never committed)")
    val s = Files.list(tableDir(table))
    val dirs =
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v="))
        .filter(versionOf(_) == version).toList
      finally s.close()
    dirs match {
      case Nil => throw new RetentionLostException(
        s"version $version of table $table is not retained " +
          "(pruned or never committed)")
      case d :: Nil => d
      case many => throw new IllegalStateException(
        s"version $version of table $table is ambiguous " +
          s"(${many.size} dirs — a crashed writer's orphan; sweep it)")
    }
  }

  private val CommitTsFile = "_commit_ts"

  /** Commit wall-clock (epoch millis) of retained version `version` —
    * the `_commit_ts` sidecar [[publish]] stamps immediately before
    * the pointer CAS. None = the version predates the stamp (written
    * by an older revision). Rides [[versionDirNameOf]]'s resolution
    * contract (above-pointer / pruned / ambiguous refuse typed). */
  def commitTimestamp(table: String, version: Long): Option[Long] = {
    val f = tableDir(table).resolve(versionDirNameOf(table, version))
      .resolve(CommitTsFile)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f),
      StandardCharsets.UTF_8).trim.toLong)
  }

  /** TIME TRAVEL BY WALL-CLOCK: the version that was LIVE at
    * `tsMillis` — the greatest retained version whose commit stamp is
    * at or before it (`SELECT … TIMESTAMP AS OF` resolves here). The
    * refusals mirror [[readVersion]]'s determinism contract:
    *
    *  - a timestamp BEFORE the oldest retained stamp refuses
    *    [[RetentionLostException]] — the version live then is pruned
    *    space, and serving the oldest survivor would silently show a
    *    LATER state than asked for;
    *  - retained history that PREDATES commit stamps (written by an
    *    older store revision) refuses typed rather than guess from
    *    file mtimes, which clone/restore/finalize-lag all shift —
    *    `VERSION AS OF` still serves it deterministically;
    *  - a timestamp at or past the head's stamp is the head (reading
    *    "as of now" is the live read).
    *
    * Per-table stamps are monotone (the CAS serializes publishes and
    * losers re-stamp on retry), so greatest-stamp-at-or-before is
    * well-defined; equal millis stamps (two commits inside one
    * millisecond) resolve to the later version — the state a reader
    * AT that instant would have seen last. */
  def versionAsOf(table: String, tsMillis: Long): Long = {
    val vs = versions(table)
    if (vs.isEmpty) throw new IllegalStateException(
      s"table $table has no committed version")
    val stamped = vs.map(v => v -> commitTimestamp(table, v))
    val known = stamped.collect { case (v, Some(ts)) => (v, ts) }
    val unstamped = stamped.collect { case (v, None) => v }
    known.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse {
      if (unstamped.nonEmpty) throw new IllegalStateException(
        s"table $table: retained versions ${unstamped.mkString(", ")} " +
          "predate commit-timestamp stamps — TIMESTAMP AS OF cannot " +
          "resolve into them (file mtimes would be a guess); use " +
          "VERSION AS OF, or let retention age the unstamped window out")
      else throw new RetentionLostException(
        s"table $table has no retained version at or before " +
          s"timestamp $tsMillis — the version live then is pruned " +
          s"(oldest retained stamp: ${known.map(_._2).min})")
    }
  }

  // ── streaming-sink seam (`writeStream.toTable` through the V2
  //    catalog — graft.streaming.StoreStreamWrite) ──────────────────

  /** Staging directory for stream query `queryId`'s epoch `epochId`:
    * executors stage partition parquet under it; the driver's epoch
    * commit reads EXACTLY the staged paths back (never a listing —
    * stray files from attempts that died before abort() are inert)
    * and folds them through the store protocol. Lives inside the
    * table dir under the `tmp-` prefix, so a crashed query's staging
    * is reclaimed by [[gc]]'s age-gated orphan sweep — and on a real
    * cluster it shares the table's filesystem, which is exactly the
    * shared storage an executor-staged write needs. */
  def streamStagingDir(table: String, queryId: String,
      epochId: Long): Path = {
    require(queryId.matches("[A-Za-z0-9_-]+"),
      s"stream query id '$queryId' is not a safe path segment")
    tableDir(table).resolve(s"tmp-stream-$queryId")
      .resolve(s"epoch=$epochId")
  }

  /** Highest stream epoch recorded committed for (`table`,
    * `queryId`) — the sink's replay guard: a restart re-delivers the
    * last epoch (staged + store-committed, but the checkpoint's own
    * commit log missed it), and this watermark turns the replay into
    * a no-op instead of a second fold. */
  def lastStreamEpoch(table: String, queryId: String): Option[Long] = {
    val f = tableDir(table).resolve(s"_stream-$queryId")
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f),
      StandardCharsets.UTF_8).trim.toLong)
  }

  /** Record `epochId` committed for (`table`, `queryId`). Rides the
    * [[StoreIo]] pointer CAS: Spark's contract is single-writer per
    * query id, but the CAS keeps a zombie driver (the failover twin
    * of the one that just resumed) from regressing the watermark —
    * the newer record always survives. */
  def recordStreamEpoch(table: String, queryId: String,
      epochId: Long): Unit = {
    val f = tableDir(table).resolve(s"_stream-$queryId")
    val prev = lastStreamEpoch(table, queryId)
    if (prev.exists(_ >= epochId)) return
    try io.swapPointerIfCurrent(f, epochId.toString, prev.map(_.toString))
    catch { case _: ConcurrentCommitException => () } // newer writer won
  }

  /** Write `df` as the next version of snapshot table `table`,
    * atomically publish it, and return the RE-READ frame plus the
    * version published. The returned frame reads the committed files
    * (not the input's lazy plan), so it stays valid across subsequent
    * commits until its version is pruned — with the default
    * keepVersions=2 that means "reuse after the next commit" is always
    * safe, which is the exact sharp edge the old commit-then-re-read
    * discipline existed to avoid. The version lets group commits name
    * the versions THIS writer committed ([[commitGroup]]) rather than
    * re-read heads.
    *
    * `expect` is the pointer CAS expectation ([[Expect]]): the head
    * as of this call (default), absence ([[Expect.New]] — the create
    * branch of an exists() check), or the pointer a [[readPinned]]
    * captured ([[Expect.Pinned]] — derive-then-replace flows; a
    * competitor landing between the read and this publish raises
    * [[ConcurrentCommitException]] instead of being overwritten). A
    * pin must name `table`. */
  def commit(spark: SparkSession, table: String, df: DataFrame,
      expect: Expect = Expect.Head): (DataFrame, Long) = {
    requireSnapshot(table, "commit")
    publishFull(spark, table, df, expected(table, expect))
  }

  /** The pointer an [[Expect]] resolves to for `table`. */
  private def expected(table: String, expect: Expect): Option[String] =
    expect match {
      case Expect.Head => currentPointer(table)
      case Expect.New => None
      case Expect.Pinned(pin) =>
        require(pin.table == table,
          s"pin was read from table ${pin.table}, not $table")
        pin.pointer
    }

  /** Bucketed tables must only ever publish through the bucketed
    * path: a snapshot-style commit would write a version with no
    * kb= partition dirs while _BUCKETS survives, wedging every later
    * [[upsertBucketed]]/[[compactBuckets]] with an AnalysisException
    * over the missing bucket column. Symmetric to upsertBucketed's
    * refusal of snapshot tables. */
  private def requireSnapshot(table: String, op: String): Unit =
    require(numBuckets(table).isEmpty,
      s"table $table is bucketed; $op would publish an unpartitioned " +
        "version and wedge later bucketed upserts — use upsertBucketed")

  /** Read the live snapshot AND capture the pointer it came from, as
    * one token for a pinned [[commit]]. This is the read half of the
    * read-derive-replace discipline: any rewrite computed from the
    * returned frame publishes with its CAS pinned to exactly this
    * pointer, so a competing commit landing in between raises
    * [[ConcurrentCommitException]] (→ [[withCommitRetries]] re-reads
    * and re-derives) instead of being silently overwritten. */
  def readPinned(spark: SparkSession, table: String): (DataFrame, CommitPin) = {
    val p = headPointer(table)
    (readDir(spark, table, p), CommitPin(table, Some(p)))
  }

  /** [[readPinned]] tolerating an ABSENT table: the pin then captures
    * absence, so the later pinned publish fails if a competitor
    * CREATES the table in between (the [[Expect.New]] discipline for
    * derive-then-replace flows whose first batch starts from
    * nothing). */
  def readPinnedOption(spark: SparkSession,
      table: String): (Option[DataFrame], CommitPin) = {
    val p = currentPointer(table)
    (p.map(pp => readDir(spark, table, pp)), CommitPin(table, p))
  }

  /** The version a [[CommitPin]] captured (None = pinned absence) —
    * lets a no-op fold report the version its state corresponds to
    * without re-reading the head. */
  def pinVersion(pin: CommitPin): Option[Long] =
    pin.pointer.map(versionOf)

  /** ZONE MAPS — a per-file min/max sidecar over DECLARED columns,
    * written INSIDE each staged version dir (`_zonemap/` —
    * underscore-prefixed, so ordinary parquet readers ignore it)
    * before the pointer swap: the map is version-atomic by
    * construction — a version either carries its complete zone map or
    * is never published, and pruning/retention/gc treat the pair as
    * one unit.
    *
    * This is the read-side half of the [[Layout]] story for snapshot
    * artifacts (`zorderWrite` lays files so per-file ranges are
    * narrow; the sidecar makes them actionable), AND the non-key
    * pruning story for BUCKETED ingest tables: [[readBucketsOf]]
    * prunes by key hash, but a range predicate on any other column
    * scanned every bucket — with a declared zone map, log-structured
    * appends (time-correlated by nature) leave each append's files
    * carrying narrow ranges, and [[readZonePruned]] cuts the file
    * list before the scan. (Parquet footers carry row-group stats
    * too, but the engine still has to OPEN every footer to use them —
    * the sidecar is one small frame read up front, the Delta/Iceberg
    * file-stats design.)
    *
    * Declaration: [[declareZoneColumns]] stamps `_ZONECOLS` (first
    * writer wins, the `_BUCKETS` discipline). Every write path then
    * maintains the sidecar O(delta): new/rewritten files are scanned
    * (statsCols only — column pruning applies), hard-linked files
    * CARRY their rows forward from the previous version's map
    * (byte-identical by construction). A declared table whose
    * previous version predates the declaration backfills with one
    * full stats scan on its next write. */
  def declareZoneColumns(table: String, cols: Seq[String]): Seq[String] = {
    require(cols.nonEmpty, "declareZoneColumns needs at least one column")
    require(cols.distinct.size == cols.size,
      s"duplicate zone-map column in $cols")
    stampOnce(zoneColsFile(table), cols.mkString(","))
    zoneColumns(table).get
  }

  /** The declared zone-map columns (absent → no map is maintained). */
  def zoneColumns(table: String): Option[Seq[String]] =
    if (!Files.exists(zoneColsFile(table))) None
    else Some(new String(Files.readAllBytes(zoneColsFile(table)),
      StandardCharsets.UTF_8).trim.split(',').toSeq)

  private def zoneColsFile(table: String): Path =
    tableDir(table).resolve("_ZONECOLS")

  private val ZoneMapDir = "_zonemap"

  /** Version-relative file identity: `__kb=N/part-…` for bucketed
    * layouts, the basename for snapshots — stable across the staged
    * dir's finalize rename and across hard-linking into later
    * versions. */
  private def relFileExpr: org.apache.spark.sql.Column =
    regexp_extract(input_file_name(),
      s"((?:$BucketCol=[^/]+/)?[^/]+)$$", 1)

  /** Per-file min/max stats over every data file of a (staged) dir.
    * Files whose stats column is all-NULL carry null min/max —
    * excluded by every range predicate, which is exactly right: NULL
    * never satisfies a range. */
  private def zoneStats(spark: SparkSession, dir: Path,
      statsCols: Seq[String]): DataFrame = {
    // under the dir's recorded schema (every write path records it
    // before computing stats): a post-evolution staged dir mixes file
    // schemas and inference is file-order dependent
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.schema(storedSchemaOf(dir)).parquet(dir.toString)
      .groupBy(relFileExpr.as("file")).agg(aggs.head, aggs.tail: _*)
  }

  private def writeZoneMapFrame(stagedTmpDir: Path, zm: DataFrame): Unit =
    zm.coalesce(1).write.mode("errorifexists")
      .parquet(stagedTmpDir.resolve(ZoneMapDir).toString)

  /** The previous version's zone map, if it exists AND covers every
    * declared column (a map from before a re-declaration can't be
    * carried). */
  private def prevZoneMap(spark: SparkSession, table: String,
      prev: Option[String], cols: Seq[String]): Option[DataFrame] =
    prev.flatMap { p =>
      val zm = tableDir(table).resolve(p).resolve(ZoneMapDir)
      if (!Files.exists(zm)) None
      else {
        val df = spark.read.parquet(zm.toString)
        if (cols.forall(c => df.columns.contains(s"min_$c"))) Some(df)
        else None
      }
    }

  /** Full-recompute zone map of a staged version (snapshot commits,
    * bucketed create/replace, and the backfill of a table declared
    * after its last write), when the table declares zone columns.
    * Call when every data file is in place, BEFORE [[finalizeStaged]]. */
  private def writeFullZoneMap(spark: SparkSession, table: String,
      nextDir: Path): Unit =
    zoneColumns(table).foreach(cols =>
      writeZoneMapFrame(nextDir, zoneStats(spark, nextDir, cols)))

  /** The live version's layout plus its zone-map-surviving files for
    * `lo <= column <= hi`, and the version's file count. Refuses loudly
    * (never a silent full scan) when the version carries no zone map
    * or the map doesn't cover `column` — at scale, a silently unpruned
    * read IS the failure. */
  private def zonePrunedFiles(spark: SparkSession, table: String,
      column: String, lo: Any, hi: Any)
      : (VersionLayout, Seq[(String, Long)], Int) = {
    val l = layoutAt(table, headPointer(table))
    val zmPath = l.dir.resolve(ZoneMapDir)
    // the compactBuckets discipline: _CURRENT can transiently name a
    // gc-swept dir (a competitor's publish mid-undo) or retention can
    // prune the version under us — both are retryable conflicts for
    // withCommitRetries, never a raw I/O error
    def retryable[T](body: => T): T =
      try body
      catch {
        case _: java.nio.file.NoSuchFileException |
             _: java.io.FileNotFoundException =>
          throw new ConcurrentCommitException(
            s"version ${l.dir} pruned during zone-map read — a concurrent " +
              "commit advanced past retention; re-read and retry")
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("does not exist") =>
          throw new ConcurrentCommitException(
            s"version ${l.dir} pruned during zone-map read — a concurrent " +
              "commit advanced past retention; re-read and retry")
      }
    if (!Files.exists(zmPath)) {
      if (!Files.exists(l.dir))
        retryable(throw new java.nio.file.NoSuchFileException(l.dir.toString))
      throw new IllegalStateException(
        s"table $table's live version carries no zone map — declare " +
          "zone columns and commit (or Layout.zorderPublish)")
    }
    val zm = retryable(spark.read.parquet(zmPath.toString))
    require(zm.columns.contains(s"min_$column"),
      s"zone map of $table does not cover column $column (declared: " +
        zm.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
          .mkString(", ") + ") — re-publish with it in statsCols")
    // keep a file unless its whole range misses [lo, hi]; null stats
    // (all-null column) keep nothing — NULL never matches a range.
    // The kept set resolves its byte sizes against the manifest rows
    // (driver-side sidecar read, O(files) rows — what the FileIndex
    // holds anyway) so the scan below plans through
    // [[graft.sources.ManifestFileIndex]] with zero filesystem
    // metadata calls. EVERY kept file must resolve: a kept file the
    // manifest doesn't know would otherwise be silently dropped from
    // the scan, turning a zone-map/manifest desync into silently
    // narrowed results — the silent-data-loss class this store
    // refuses everywhere else, so it refuses loudly here too.
    val keptNames = zm
      .filter(!(col(s"max_$column") < lit(lo) || col(s"min_$column") > lit(hi)))
      .select("file")
    val bytesOf = l.rows.toMap
    val kept = retryable(keptNames.collect()).map(_.getString(0)).sorted
    val missing = kept.filterNot(bytesOf.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"zone map of $table keeps ${missing.size} file(s) absent " +
          s"from the version manifest (e.g. ${missing.take(3)
            .mkString(", ")}) — a zone-map/manifest desync; " +
          "refusing rather than silently narrowing the scan")
    (l, kept.map(f => (f, bytesOf(f))).toSeq, l.rows.size)
  }

  /** ZONE-MAP-PRUNED range read: scan only the files whose recorded
    * [min, max] for `column` intersects [lo, hi], then re-apply the
    * predicate (pruning is an optimization, correctness comes from
    * the residual filter — gate u12 pins pruned ≡ full-scan filter).
    * Requires a live version whose zone map covers `column`
    * ([[declareZoneColumns]] before the write). */
  def readZonePruned(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val (l, files, _) = zonePrunedFiles(spark, table, column, lo, hi)
    // the kept files under the canonical schema through the
    // MANIFEST-FED file index: no re-listing, no per-file stat, no
    // 10⁵ path literals in the plan tree; nothing kept is an empty
    // frame with the table's schema
    val out = graft.sources.ManifestFileIndex.storeFrame(spark,
      l.dir.toUri.toString, l.schema, files, BucketCol)
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    if (out.columns.contains(BucketCol)) out.drop(BucketCol) else out
  }

  /** (files surviving the prune, total data files) for a range probe
    * — the measured evidence of file skipping (LayoutSpec pins the
    * drop on a z-ordered layout; PLANS records the curve). */
  def zoneMapFileCounts(spark: SparkSession, table: String,
      column: String, lo: Any, hi: Any): (Int, Int) = {
    val (_, files, total) = zonePrunedFiles(spark, table, column, lo, hi)
    (files.size, total)
  }

  // ————— per-version FILE MANIFEST (checkpointed metadata) —————

  /** Every version carries `_manifest` — one parquet sidecar listing
    * every data file's relative path and byte size. This is the
    * metadata CHECKPOINT a 100 TB table needs: a version holds
    * 10⁵-10⁶ files, and any consumer that walks the directory tree
    * per read (file counts, size-tiered maintenance triggers, scan
    * totals) pays O(files) LIST calls — on an object store, 10³
    * serial pages per list. The manifest turns that into ONE parquet
    * read whose rows never touch the driver (consumers aggregate it
    * distributedly, or collect the ≤ numBuckets rollup).
    *
    * Maintained O(delta), the zone-map discipline: a bucketed write
    * lists its fresh files PRE-link and carries the previous
    * manifest's row of every file it links forward (hard-linked files
    * keep path and size). Written inside the
    * staged dir, so it is version-atomic with the data. */
  private val ManifestDir = "_manifest"

  /** Write the `_manifest` sidecar DRIVER-SIDE with the bare parquet
    * writer — no Spark job. The rows are driver-resident at every
    * call site anyway (a fresh listing walk, or the previous
    * version's sidecar parsed by [[manifestRowsSliced]]), and the
    * old `toDF.coalesce(1).write` path scheduled a full job round
    * per COMMIT just to serialize them (measured: 2 of the ~4 jobs
    * every bucketed commit paid were manifest read+write — pure
    * fixed cost on the battery's store gates; guide §1.2 step 1,
    * remove work that isn't the algorithm). Slicing policy is
    * unchanged: ≤32 range-partitioned slices sorted by rel path
    * (~128k rows each) so [[manifestRowsSliced]]'s footer-range
    * slice skipping keeps working; the parquet schema matches what
    * the Spark writer produced (optional binary file (STRING),
    * optional int64 bytes), so the bare Group reader and
    * `spark.read.parquet` read both eras identically. */
  private def writeManifestRowsDriver(stagedTmpDir: Path,
      rows: Seq[(String, Long)]): Unit = {
    val mdir = stagedTmpDir.resolve(ManifestDir)
    if (Files.exists(mdir))
      throw new java.nio.file.FileAlreadyExistsException(mdir.toString)
    Files.createDirectories(mdir)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary file (STRING); " +
        "optional int64 bytes; }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val sorted = rows.sortBy(_._1)
    val slices = math.max(1L,
      math.min(32L, (sorted.size + 131071L) / 131072L)).toInt
    val per = math.max(1, (sorted.size + slices - 1) / slices)
    val chunks: Seq[Seq[(String, Long)]] =
      if (sorted.isEmpty) Seq(Seq.empty)
      else sorted.grouped(per).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val f = mdir.resolve(f"part-$i%05d.parquet")
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
        .withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try chunk.foreach { case (file, bytes) =>
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        g.add("file", file)
        g.add("bytes", bytes)
        writer.write(g)
      } finally writer.close()
    }
  }

  private def isDataFile(f: Path): Boolean = Files.isRegularFile(f) &&
    !f.getFileName.toString.startsWith("_") &&
    !f.getFileName.toString.startsWith(".")

  /** (relative path, bytes) of every data file under a staged dir, by
    * LISTING — the dir holds only files this write just wrote. */
  private def listedManifestRows(dir: Path): Seq[(String, Long)] =
    listDir(dir).filter(isDataFile)
      .map(f => (f.getFileName.toString, Files.size(f))) ++
      bucketDirs(dir).sortBy(_.getFileName.toString).flatMap { d =>
        listDir(d).filter(isDataFile).map(f =>
          (d.getFileName.toString + "/" + f.getFileName.toString,
            Files.size(f)))
      }

  /** Full-recompute manifest for a staged dir (everything fresh). */
  private def writeFullManifest(nextDir: Path): Unit =
    writeManifestRowsDriver(nextDir, listedManifestRows(nextDir))

  /** First bucket id in a manifest rel path, if any — the driver-side
    * twin of the `regexp_extract(file, "__kb=(\d+)/", 1)` the old
    * Spark-frame maintenance filtered with. */
  private val bucketOfRel = s"$BucketCol=(\\d+)/".r
  private def relBucketOf(rel: String): Option[Int] =
    bucketOfRel.findFirstMatchIn(rel).map(_.group(1).toInt)

  /** The live version's file manifest (file, bytes) as a frame over
    * the driver-side sidecar rows ([[layoutAt]]). */
  def fileManifest(spark: SparkSession, table: String): DataFrame =
    spark.createDataFrame(layoutAt(table, headPointer(table)).rows)
      .toDF("file", "bytes")

  /** (file count, total bytes) of the live version from the manifest
    * — one cached driver-side sidecar parse, no job round for two
    * longs. */
  def fileStats(spark: SparkSession, table: String): (Long, Long) = {
    val rows = layoutAt(table, headPointer(table)).rows
    (rows.size.toLong, rows.map(_._2).sum)
  }

  /** CHANGE-DATA-FEED between two retained versions: keyed
    * inserts/updates/deletes from `vFrom`'s snapshot to `vTo`'s —
    * what a SECOND consumer of a stored table needs to stay
    * incremental without re-deriving deltas from the ingest side
    * (the d10/g3/st-loop shape: fold exactly what changed). Returns
    * (`change` ∈ insert|update|delete, vTo's columns): inserts and
    * updates carry the NEW row, deletes the OLD row padded to vTo's
    * schema (add-only evolution — the evolved columns read null).
    *
    * O(TOUCHED BUCKETS) by the manifests: hard links preserve file
    * names, so a bucket whose file SET is identical across the two
    * versions provably holds identical bytes and contributes nothing
    * — only buckets whose sets differ are read (on BOTH sides) and
    * key-diffed. A compaction between the versions touches its
    * rewritten buckets' file sets, so those buckets re-read and diff
    * EMPTY — cost without phantom changes, the honest price of a
    * name-based fast path. Fileless-empty and snapshot layouts (a
    * changed file outside any bucket dir) take a full two-sided diff.
    *
    * Both versions must still be retained (size `keepVersions`) —
    * a feed that falls behind retention must rebase on a full read,
    * and the loud [[RetentionLostException]] here is what tells it
    * to. Concurrent commits racing this read surface as the two
    * typed refusals, never raw I/O errors: an endpoint pruned
    * mid-read re-resolves to [[RetentionLostException]] (rebase), a
    * transient gc/publish race to [[ConcurrentCommitException]]
    * (retry). The returned frame is lazy — a consumer acts on it
    * while its endpoints are retained (size keepVersions above the
    * consumer's lag, the st15 discipline). */
  def changesBetween(spark: SparkSession, table: String,
      keys: Seq[String], vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"changesBetween: vFrom=$vFrom > vTo=$vTo")
    // the zonePrunedFiles discipline for the sidecar reads below: a
    // version pruned under us re-resolves to the loud behind-retention
    // refusal; anything else vanishing is a transient race — retryable
    def remap(): Nothing = {
      versionDirNameOf(table, vFrom) // throws RetentionLost if pruned
      versionDirNameOf(table, vTo)
      throw new ConcurrentCommitException(
        s"version dir of $table vanished during changesBetween " +
          s"($vFrom→$vTo) — a gc/publish race; re-read and retry")
    }
    def layout(v: Long): VersionLayout =
      try layoutAt(table, versionDirNameOf(table, v))
      catch { case _: ConcurrentCommitException => remap() }
    val (from, to) = (layout(vFrom), layout(vTo))
    // touched buckets from the manifests, a driver-side name-set diff:
    // a file present in exactly one version marks its bucket;
    // identical sets ⇒ identical bytes (links never rewrite). A row
    // outside a kb dir (fileless-empty layouts) defeats bucket
    // granularity → full diff.
    val touched: Option[Seq[Int]] = {
      val sf = from.rows.map(_._1).toSet
      val st = to.rows.map(_._1).toSet
      val kbs = ((sf diff st) ++ (st diff sf)).toSeq.map(relBucketOf)
      if (kbs.exists(_.isEmpty)) None else Some(kbs.flatten.distinct)
    }
    def side(l: VersionLayout): DataFrame = touched match {
      case Some(Nil) => readDir(spark, table, l.dirName).where(lit(false))
      case Some(kbs) if l.schema.fieldNames.contains(BucketCol) =>
        readBucketRestricted(spark, table, l.dirName, kbs.toSet)
          .drop(BucketCol)
      case _ => readDir(spark, table, l.dirName)
    }
    // pad the OLD side to the new schema (add-only evolution)
    val (o, nw) = SchemaEvolution.align(side(from), side(to))
    val outCols = nw.columns
    val nonKeys = outCols.filterNot(keys.contains)
    val oldRenamed = o.select(
      keys.map(col) ++ nonKeys.map(c => col(c).as(s"__old_$c")): _*)
    val inserts = nw.join(o.select(keys.map(col): _*), keys, "left_anti")
      .select(lit("insert").as("change") +: outCols.map(col): _*)
    val deletes = o.join(nw.select(keys.map(col): _*), keys, "left_anti")
      .select(lit("delete").as("change") +: outCols.map(col): _*)
    val updates = nw.join(oldRenamed, keys)
      .filter(nonKeys.map(c => !(col(c) <=> col(s"__old_$c")))
        .reduceOption(_ || _).getOrElse(lit(false)))
      .select(lit("update").as("change") +: outCols.map(col): _*)
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** U1 persisted: LWW-upsert `incoming` into the stored table (which
    * is created on first call), with add-only schema evolution when
    * the incoming schema grew. Full-snapshot rewrite — for O(delta)
    * commits on big tables use [[upsertBucketed]]. */
  def upsert(spark: SparkSession, table: String, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    // capture the pointer ONCE: the merge below reads THIS snapshot,
    // so the publish must CAS against exactly this value — including
    // the None case (a competitor creating the table concurrently
    // must fail our create-commit, not be replaced by it)
    requireSnapshot(table, "upsert")
    val prev = currentPointer(table)
    val merged = prev match {
      case None => incoming
      case Some(p) =>
        val (stored, inc) = SchemaEvolution.align(
          readDir(spark, table, p), incoming)
        Upserts.upsertLastWriteWins(stored, inc, keys)
    }
    publishFull(spark, table, merged, prev)._1
  }

  /** LWW-upsert into a key-bucketed table, rewriting only the stored
    * FILES that hold a key the delta replaces — the file-granular
    * copy-on-write MERGE of Delta Lake (Armbrust et al., VLDB 2020).
    * Every other file, including the untouched files inside touched
    * buckets, is hard-linked from the previous version (byte-identical,
    * O(1) per file), and each touched bucket gains exactly one fresh
    * file ([[layoutBuckets]]). A touched bucket that already holds
    * [[MaxFilesPerBucket]] files is rewritten whole, so a stream of
    * new-key upserts never grows a bucket past that bound.
    * `numBuckets` binds at table creation and is ignored afterwards.
    * Returns the re-read frame and the version published — for an
    * empty delta, the version the no-op was based on (never a re-read
    * head).
    *
    * Two driver collects precede the write: the touched buckets (≤ n
    * ints) and the matched files (≤ files rows: a semi-join of the
    * touched buckets' stored keys against the delta's keys). The merge
    * reads only the matched files; a delta of new keys alone matches
    * none and reads nothing stored.
    *
    * `expect` is the publish CAS expectation, as for [[commit]].
    * [[Expect.Pinned]] serves DERIVED bucketed artifacts: the caller
    * read a snapshot, computed `incoming` FROM it, and a competitor
    * landing in between must fail the publish (re-read + re-derive
    * via [[withCommitRetries]]) rather than be LWW-merged-over with
    * rows derived from the stale snapshot. The merge reads the
    * expected version; an absent expectation takes the create path
    * (CAS to absence — a racing creator loses cleanly). */
  def upsertBucketed(spark: SparkSession, table: String, incoming: DataFrame,
      keys: Seq[String], numBuckets: Int = 32,
      expect: Expect = Expect.Head): (DataFrame, Long) = {
    require(numBuckets >= 1)
    expected(table, expect) match {
      case None => publishBucketed(spark, table, incoming, keys, numBuckets,
        Nil, None)
      case Some(prev) =>
        val n = this.numBuckets(table).getOrElse(throw new IllegalStateException(
          s"table $table was created as a snapshot table; use upsert"))
        val prevL = layoutAt(table, prev)
        // the delta under the version's CANONICAL schema, so the
        // touched set, the key probe and the merge all hash and
        // compare the types the merge writes
        val incA = SchemaEvolution.align(
          readFiles(spark, prevL, Nil).drop(BucketCol), incoming)._2
        // which buckets does the delta touch? (≤ n ints — driver-safe)
        val touched = guardedAction(s"upsert touched-set of $table") {
          incA.select(bucketOf(keys, n)).distinct()
            .collect().map(_.getInt(0)).toSet
        }
        // empty delta → version no-op (free — the touched set already
        // told us): no version churns for nothing
        if (touched.isEmpty) (read(spark, table), versionOf(prev))
        else {
          val (whole, probed) = prevL.rows
            .filter(r => relBucketOf(r._1).exists(touched))
            .groupBy(r => relBucketOf(r._1).get).values
            .partition(_.size >= MaxFilesPerBucket)
          val candidates = probed.flatten.toSeq
          val matched =
            if (candidates.isEmpty) Set.empty[String]
            else guardedAction(s"upsert matched files of $table") {
              import spark.implicits._
              // per-partition distinct instead of a distinct(): the
              // collect stays ≤ files rows without a shuffle round
              readFiles(spark, prevL, candidates)
                .select(keys.map(col) :+ relFileExpr.as("file"): _*)
                .join(incA.select(keys.map(col): _*), keys, "left_semi")
                .select("file").as[String]
                .mapPartitions(_.toSet.iterator)
                .collect().toSet
            }
          val replaced = whole.flatten.toSeq ++
            candidates.filter(r => matched.contains(r._1))
          val (stored, inc) = SchemaEvolution.align(
            readFiles(spark, prevL, replaced).drop(BucketCol), incoming)
          rewriteTouched(spark, table, prev, replaced.map(_._1).toSet,
            "upsert merge",
            layoutBuckets(Upserts.upsertLastWriteWins(stored, inc, keys), n,
              keys, Nil))
        }
    }
  }

  /** KEYED DELETE on a bucketed table, O(delta): the removal keys
    * route to their buckets, ONLY those buckets rewrite (anti-join of
    * the stored rows against the keys), every other bucket hard-links
    * forward — the GDPR/right-to-erasure shape at 100 TB, where a
    * full-snapshot rewrite per deletion batch is the failure mode.
    * Zone map and manifest maintain O(delta) like the upsert path.
    * Empty removals are a version no-op. Publishes through the same
    * CAS pointer swap; a lost race re-applies idempotently under
    * [[withCommitRetries]] (deleting an absent key is a no-op).
    *
    * Edge pinned: deleting EVERY remaining row publishes a fileless
    * version — readable (the canonical `_schema.json` types the empty
    * frame) with an EMPTY manifest; a declared zone map is dropped for
    * that version (nothing to map), so a later [[readZonePruned]]
    * refuses loudly rather than serving an unmapped scan. */
  def deleteBucketed(spark: SparkSession, table: String,
      removals: DataFrame, keys: Seq[String]): DataFrame = {
    val n = numBuckets(table).getOrElse(throw new IllegalStateException(
      s"table $table is not bucketed — snapshot tables delete via " +
        "upsert/commit of the filtered frame"))
    val prev = headPointer(table)
    val rem = removals.select(keys.map(col): _*).distinct()
    val touched = guardedAction(s"delete touched-set of $table") {
      rem.select(bucketOf(keys, n)).distinct().collect().map(_.getInt(0)).toSet
    }
    if (touched.isEmpty) read(spark, table)
    else {
      val kept = readBucketRestricted(spark, table, prev, touched)
        .drop(BucketCol)
        .join(rem, keys, "left_anti")
      rewriteTouched(spark, table, prev,
        bucketFileSet(table, prev, touched), "keyed delete",
        layoutBuckets(kept, n, keys, Nil))._1
    }
  }

  /** PREDICATE DELETE (`DELETE FROM t WHERE p` — the SQL face's
    * row-level delete, and the programmatic delete-by-CONTENT: an
    * expired span, a banned domain, a recalled ingest batch — where
    * the caller has no key list). SQL semantics: a row deletes iff
    * `p` is TRUE; FALSE and NULL rows survive.
    *
    * O(TOUCHED BUCKETS) like [[deleteBucketed]]: one manifest-fed,
    * zone-skipped scan (the same file cut any pushed predicate gets
    * through [[read]]) locates the buckets that hold matches, ONLY
    * those buckets rewrite (keeping their non-matching rows), every
    * other bucket hard-links forward — at 100 TB a full-snapshot
    * rewrite per delete batch is the failure mode. Re-routing kept
    * rows needs the `_KEYS` stamp (same contract as SQL INSERT).
    * No matches is a version no-op. Snapshot tables (no bucket
    * granularity) rewrite wholesale under a pinned CAS — a competitor
    * landing between the read and the publish fails the swap and
    * [[withCommitRetries]] re-reads, never a lost update. */
  def deleteWhere(spark: SparkSession, table: String,
      pred: Column): DataFrame = {
    val victim = coalesce(pred, lit(false)) // NULL predicate = keep
    numBuckets(table) match {
      case None =>
        val (cur, pin) = readPinned(spark, table)
        val any = guardedAction(s"deleteWhere probe of $table")(
          cur.filter(victim).limit(1).count())
        if (any == 0L) cur
        else commit(spark, table, cur.filter(!victim), Expect.Pinned(pin))._1
      case Some(n) =>
        val keys = keyColumns(table).getOrElse(
          throw new IllegalStateException(
            s"table $table has no _KEYS stamp — predicate delete " +
              "re-routes kept rows by key; re-stamp via one " +
              "replaceBucketed"))
        val prev = headPointer(table)
        // victims' buckets from ONE zone-skipped scan (≤ n ints):
        // the predicate pushes into the manifest-planned read, so a
        // zone-mapped delete key prices at its file cut, not a full
        // pass
        val touched = guardedAction(s"deleteWhere touched-set of $table") {
          readDir(spark, table, prev).filter(victim)
            .select(bucketOf(keys, n)).distinct()
            .collect().map(_.getInt(0)).toSet
        }
        if (touched.isEmpty) read(spark, table)
        else {
          val kept = readBucketRestricted(spark, table, prev, touched)
            .drop(BucketCol)
            .filter(!victim)
          rewriteTouched(spark, table, prev,
            bucketFileSet(table, prev, touched), "predicate delete",
            layoutBuckets(kept, n, keys, Nil))._1
        }
    }
  }

  /** APPLY A CHANGE FEED in ONE atomic version publish: `changes` is
    * a [[changesBetween]]-shaped frame (`change` ∈
    * insert|update|delete plus the table's columns; delete rows need
    * only their key columns) and the whole span lands as a SINGLE
    * CAS-published version — a reader can never observe the span's
    * upserts without its deletes (the torn corpus state a
    * two-commit upsert-then-delete fold exposes). This is the
    * CDC-consumer / replica-maintenance primitive: replaying
    * `changesBetween(src, v1, v2)` onto a copy of `src@v1`
    * reconstructs `src@v2` exactly (gate u17), and a derived-table
    * consumer folds each span with one commit (st15).
    *
    * O(TOUCHED BUCKETS) like [[upsertBucketed]]/[[deleteBucketed]]:
    * only buckets holding changed keys rewrite; the rest hard-link.
    * Replays idempotently (upserts replace-by-key, deleting an
    * absent key is a no-op); empty feeds are a version no-op, never
    * churn. Creates the table from the feed's upsert rows if absent
    * (deletes against an absent table are no-ops). Add-only schema
    * evolution when the feed's columns grew. Insert vs update is not
    * re-verified — both replace-by-key, so a mislabeled feed still
    * converges to the right content. */
  def applyChangesBucketed(spark: SparkSession, table: String,
      changes: DataFrame, keys: Seq[String],
      numBuckets: Int = 32): DataFrame = {
    require(changes.columns.contains("change"),
      "applyChangesBucketed: the feed needs a 'change' column " +
        "(insert|update|delete) — the changesBetween shape")
    // loud refusal on a malformed feed: a NULL or misspelled label
    // would match NEITHER the upsert filter (`=!= "delete"` is null
    // for null) NOR the delete filter and the row would silently
    // vanish — the silent-data-loss class this store refuses
    // everywhere else. The audit rides the SAME aggregation that
    // derives the touched-bucket set (one pass over the feed — an
    // unpersisted changesBetween frame applied directly must not
    // compute its whole diff twice for a validation probe).
    val labelAudit =
      when(col("change").isNull, lit("<null>"))
        .when(!col("change").isin("insert", "update", "delete"),
          col("change"))
    def requireLabels(badLabels: Seq[String]): Unit =
      require(badLabels.isEmpty,
        s"applyChangesBucketed($table): unknown change label " +
          s"'${badLabels.headOption.orNull}' — feed rows must be " +
          "insert|update|delete (a mislabeled row would silently vanish)")
    val upserts = changes.filter(col("change") =!= "delete").drop("change")
    val prev = currentPointer(table) match {
      case Some(p) => p
      case None =>
        requireLabels(changes.agg(max(labelAudit)).collect()
          .flatMap(r => Option(r.getString(0))).toSeq)
        return publishBucketed(spark, table, upserts, keys, numBuckets,
          Nil, None)._1
    }
    val n = this.numBuckets(table).getOrElse(throw new IllegalStateException(
      s"table $table was created as a snapshot table; apply feeds to " +
        "bucketed tables"))
    // one aggregation derives BOTH the touched buckets and the label
    // audit (upsert and delete keys hash identically — every change
    // row marks its bucket)
    val probe = guardedAction(s"change-feed probe of $table") {
      changes.groupBy(bucketOf(keys, n).as("kb"))
        .agg(max(labelAudit).as("bad")).collect()
    }
    requireLabels(probe.flatMap(r => Option(r.getString(1))).toSeq)
    val delKeys = changes.filter(col("change") === "delete")
      .select(keys.map(col): _*).distinct()
    val touched = probe.map(_.getInt(0)).toSet
    if (touched.isEmpty) return read(spark, table)
    val (stored, incA) = SchemaEvolution.align(
      readBucketRestricted(spark, table, prev, touched)
        .drop(BucketCol), upserts)
    val merged = Upserts.upsertLastWriteWins(
      stored.join(delKeys, keys, "left_anti"), incA, keys)
    rewriteTouched(spark, table, prev,
      bucketFileSet(table, prev, touched), "change-feed apply",
      layoutBuckets(merged, n, keys, Nil))._1
  }

  /** The file-granular rewrite behind every bucketed write after the
    * first ([[upsertBucketed]], [[appendBucketed]], [[deleteBucketed]],
    * [[deleteWhere]], [[applyChangesBucketed]] and compaction): write
    * `laid` (the caller's layout, bucket column included; `options`
    * are the caller's writer options) partitioned by bucket as the
    * fresh files, link every file of `prev` except `replaced` (rel
    * paths; the deletes, the change feed and compaction replace every
    * file of their touched buckets), and publish one version CAS'd
    * against `prev`. Zone map and manifest are maintained O(delta):
    * only the fresh files are statted and listed — BEFORE the links
    * land, while the staged dir holds nothing else — and the linked
    * files' rows carry from the previous version's sidecars. A
    * rewrite that changes nothing (no fresh file, nothing replaced)
    * is a version no-op; one that leaves no row anywhere (a fileless
    * version) records the empty manifest and drops the zone map, so a
    * later [[readZonePruned]] refuses loudly rather than serving an
    * unmapped scan. */
  private def rewriteTouched(spark: SparkSession, table: String,
      prev: String, replaced: Set[String], what: String, laid: DataFrame,
      options: Map[String, String] = Map.empty): (DataFrame, Long) = {
    val prevL = layoutAt(table, prev)
    // only bucket-dir files link forward: a root-level file from an
    // empty version never carries
    val carried = prevL.rows
      .filter(r => relBucketOf(r._1).isDefined && !replaced.contains(r._1))
    stageAndPublish(spark, table, Some(prev), s"$what of $table") { dir =>
      laid.write.mode("errorifexists").options(options)
        .partitionBy(BucketCol).parquet(dir.toString)
      val fresh = listedManifestRows(dir)
      if (fresh.isEmpty && replaced.isEmpty) throw NothingStaged
      writeSchemaFile(dir, laid.schema)
      if (fresh.isEmpty && carried.isEmpty)
        writeManifestRowsDriver(dir, Seq.empty)
      else {
        val zcols = zoneColumns(table)
        val prevZm = zcols.flatMap(cols =>
          prevZoneMap(spark, table, Some(prev), cols))
        for (cols <- zcols; pm <- prevZm) {
          val kb = regexp_extract(col("file"), s"$BucketCol=(\\d+)/", 1)
          val kept = pm.filter(kb =!= "" &&
            !col("file").isin(replaced.toSeq: _*))
          // schema evolution: a column declared after old files were
          // written has null stats there (those files hold NULL for
          // it — correctly excluded by any range predicate)
          writeZoneMapFrame(dir,
            if (fresh.isEmpty) kept
            else zoneStats(spark, dir, cols)
              .unionByName(kept, allowMissingColumns = true))
        }
        writeManifestRowsDriver(dir, fresh ++ carried)
        shareUnreplaced(prevL.dir, dir, replaced)
        // a declared table with no previous map (declaration landed
        // after the last write) backfills full, post-links
        if (prevZm.isEmpty) writeFullZoneMap(spark, table, dir)
      }
    }
  }

  /** Rel paths of every data file in buckets `kbs` of version
    * `dirName` — what a whole-bucket rewrite replaces. */
  private def bucketFileSet(table: String, dirName: String,
      kbs: Set[Int]): Set[String] =
    layoutAt(table, dirName, Some(kbs)).rows.map(_._1).toSet

  /** The rows of exactly `files` (rel path, bytes) of version `l`,
    * bucket column included, under the version's canonical schema.
    * No files is an empty local relation, which the optimizer folds
    * out of any join or union — nothing stored is read. */
  private def readFiles(spark: SparkSession, l: VersionLayout,
      files: Seq[(String, Long)]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), l.schema)
    else graft.sources.ManifestFileIndex.storeFrame(spark,
      l.dir.toUri.toString, l.schema, files, BucketCol)

  /** Parquet files a bucket may hold before a merge into it rewrites it
    * whole — and [[compactBuckets]]' default trigger, which compacts a
    * bucket past it. */
  private val MaxFilesPerBucket = 4

  private def bucketOf(keys: Seq[String], n: Int): Column =
    pmod(hash(keys.map(col): _*), lit(n))

  /** Deterministic write layout for a bucketed version: rows routed to
    * their bucket by ONE exchange into `min(n, defaultParallelism)`
    * partitions on the bucket id, so every bucket lands whole in one
    * task and the `partitionBy` write emits exactly one file per
    * bucket, from as many tasks as the cluster runs at once. (An
    * explicit partition count is never coalesced by adaptive
    * execution: an AQE-coalesced layout collapses small writes into
    * one task that writes every bucket in series, and one task per
    * bucket pays a task round per file.) Optionally key-sorted within
    * each written file so parquet row-group min/max stats prune later
    * probes (the inverted-index discipline). */
  private def layoutBuckets(df: DataFrame, n: Int, keys: Seq[String],
      sortWithin: Seq[String]): DataFrame = {
    val rep = df.withColumn(BucketCol, bucketOf(keys, n))
      .repartition(math.min(n, df.sparkSession.sparkContext.defaultParallelism),
        col(BucketCol))
    if (sortWithin.isEmpty) rep
    else rep.sortWithinPartitions((BucketCol +: sortWithin).map(col): _*)
  }

  /** Full-rewrite publish of a bucketed table against `prev` (None =
    * create, CAS pinned to absence): stamps `_BUCKETS` and `_KEYS`
    * first-writer-wins — racing creators with different counts would
    * otherwise split the table across two bucket functions, so losers
    * adopt the winner's count before writing data. */
  private def publishBucketed(spark: SparkSession, table: String,
      df: DataFrame, keys: Seq[String], numBuckets: Int,
      sortWithin: Seq[String], prev: Option[String]): (DataFrame, Long) = {
    stampOnce(bucketsFile(table), numBuckets.toString)
    stampOnce(keysFile(table), keys.mkString(","))
    val n = this.numBuckets(table).getOrElse(numBuckets)
    publishFull(spark, table, layoutBuckets(df, n, keys, sortWithin), prev)
  }

  /** Nullability markers erased recursively — parquet bytes cannot
    * distinguish them, so schema EQUALITY contracts compare this form
    * (the public twin of Spark's `private[spark]` `asNullable`). */
  private def relaxNulls(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(relaxNulls(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(relaxNulls(k), relaxNulls(v),
        valueContainsNull = true)
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(dataType = relaxNulls(f.dataType), nullable = true)))
    case other => other
  }

  /** INSERT-ONLY O(delta) append into a key-bucketed table: the
    * delta's rows are written as NEW part-files inside their bucket
    * dirs and EVERY existing file is hard-linked into the next
    * version — nothing stored is read or rewritten, so an append
    * costs O(delta write + one link per existing file) regardless of
    * table size. This is the log-structured counterpart of
    * [[upsertBucketed]] for pure-insert deltas (an inverted index
    * absorbing new documents, an append-only ledger): a merge-upsert
    * also probes the touched buckets' stored keys for the files it
    * must replace, and rewrites a bucket whole once it holds
    * [[MaxFilesPerBucket]] files.
    *
    * Contract: the caller guarantees the incoming keys are NEW — no
    * merge runs, so a re-appended key silently duplicates rows
    * (at-least-once producers dedup upstream or use upsertBucketed).
    * The incoming schema must equal the stored schema exactly (no
    * evolution on this path — an evolving append would mix file
    * schemas inside one version; evolve via upsertBucketed). File
    * counts grow by up to `numBuckets` per append;
    * [[compactBuckets]] re-bounds them periodically. `sortWithin`
    * orders rows inside each new file (row-group stat quality for
    * [[readBucketsOf]]-style probes). Publishes through the same CAS
    * pointer swap as every commit; creates the table if absent.
    *
    * An empty delta is a version no-op, but it is still
    * schema-validated (a drifted schema, or a snapshot table without
    * `_BUCKETS`, refuses) and pays one write job: emptiness is seen
    * from the staged write itself, not from a probe that would
    * evaluate the delta plan once more on every non-empty append. */
  def appendBucketed(spark: SparkSession, table: String, incoming: DataFrame,
      keys: Seq[String], numBuckets: Int = 32,
      sortWithin: Seq[String] = Nil): DataFrame = {
    require(numBuckets >= 1)
    val prev = currentPointer(table)
    if (prev.isEmpty)
      publishBucketed(spark, table, incoming, keys, numBuckets, sortWithin,
        None)._1
    else {
      val n = this.numBuckets(table).getOrElse(throw new IllegalStateException(
        s"table $table was created as a snapshot table; appends need " +
          "bucket partitions — adopt it via replaceBucketed first"))
      val storedSchema = org.apache.spark.sql.types.StructType(
        layoutAt(table, prev.get).schema.fields.filterNot(_.name == BucketCol))
      // compare nullability-relaxed forms: an encoder-derived delta
      // with containsNull=false is the SAME parquet shape as the
      // stored one, not an evolution — refusing it would reject every
      // array-typed append
      require(
        storedSchema.fields.map(f => (f.name, relaxNulls(f.dataType)))
          .toSet ==
          incoming.schema.fields
            .map(f => (f.name, relaxNulls(f.dataType))).toSet,
        s"appendBucketed($table): incoming ${incoming.schema.simpleString} " +
          s"must equal stored ${storedSchema.simpleString} — " +
          "schema evolution goes through upsertBucketed")
      // nothing replaced: every existing file links across
      rewriteTouched(spark, table, prev.get, Set.empty, "append",
        layoutBuckets(incoming.select(storedSchema.fieldNames.map(col): _*),
          n, keys, sortWithin))._1
    }
  }

  /** FULL-SNAPSHOT publish of a key-bucketed table: every bucket is
    * rewritten from `df` — the bucketed analog of [[commit]] (which
    * refuses bucketed tables), and the REBUILD path for artifacts
    * maintained by [[appendBucketed]]/[[upsertBucketed]] whose
    * incremental discipline wants a periodic from-scratch base (index
    * rebuilds after in-place corpus edits, bucket-count reshapes are
    * NOT supported — the count binds at creation). Creates the table
    * if absent; adopts an existing SNAPSHOT table as bucketed (safe —
    * everything is rewritten, so stamping `_BUCKETS` now is safe; the
    * conversion is one-way, later snapshot commits on it fail
    * loudly). */
  def replaceBucketed(spark: SparkSession, table: String, df: DataFrame,
      keys: Seq[String], numBuckets: Int = 32,
      sortWithin: Seq[String] = Nil): DataFrame = {
    require(numBuckets >= 1)
    publishBucketed(spark, table, df, keys, numBuckets, sortWithin,
      currentPointer(table))._1
  }

  /** PRUNED read of a bucketed table: scan only the bucket partitions
    * that could hold the given key values — directory-level pruning,
    * the stored-index probe discipline (a 3-term query against a
    * 1000-bucket postings table opens ≤3 bucket dirs, not the lake).
    * `keyValues` carries the bucket-key columns in the same order the
    * table is written with; its rows are the lookup keys (small — the
    * distinct bucket ids are collected to build the partition
    * filter). Returns the pruned frame plus the resolved version
    * (cross-table consistency, see [[readVersioned]]). */
  def readBucketsOf(spark: SparkSession, table: String,
      keyValues: DataFrame): (DataFrame, Long) = {
    val d = headPointer(table)
    (readBucketsIn(spark, table, d, keyValues), versionOf(d))
  }

  /** [[readBucketsOf]] at committed version `version` — the member
    * version a group marker names ([[readGroup]]'s time-travel
    * contract). */
  def readBucketsOf(spark: SparkSession, table: String,
      keyValues: DataFrame, version: Long): DataFrame =
    readBucketsIn(spark, table, versionDirNameOf(table, version), keyValues)

  private def readBucketsIn(spark: SparkSession, table: String,
      dirName: String, keyValues: DataFrame): DataFrame = {
    val n = numBuckets(table).getOrElse(throw new IllegalStateException(
      s"table $table is not bucketed — readBucketsOf needs bucket partitions"))
    val kbs = keyValues.select(bucketOf(keyValues.columns.toSeq, n))
      .distinct().collect().map(_.getInt(0)).toSet
    // O(TOUCHED) METADATA, not O(table): a whole-version scan
    // filtered on the partition column still LISTS every file at
    // plan time (partition pruning happens after discovery) — at
    // 10⁵-10⁶ files per version that listing is the driver
    // bottleneck of every probe. The manifest rows restrict to the
    // touched buckets' files by name, zero listing
    // ([[readBucketRestricted]]).
    readBucketRestricted(spark, table, dirName, kbs).drop(BucketCol)
  }

  /** Directory listing with the stream CLOSED — Files.list holds an
    * open directory FD until closed, and a long-running streaming
    * driver pruning 3-4 tables per micro-batch would otherwise leak
    * FDs until the ulimit kills every commit. */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** The `__kb=N` bucket dirs directly under a version dir. */
  private def bucketDirs(dir: Path): Seq[Path] =
    listDir(dir).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith(s"$BucketCol="))

  /** Share every bucket file of the previous version except
    * `replaced` (rel paths; a data file's `.crc` goes with it) without
    * rewriting it (hard links on POSIX, copies on object stores) —
    * fresh part names are job-UUID-unique, so a bucket dir may hold
    * links and fresh files side by side. If the base version vanishes
    * mid-link, competitors advanced past the retention window —
    * surface it as the retryable conflict it is, not a raw I/O error.
    * (Deployments should size keepVersions comfortably above the
    * concurrent-writer count so a merger's base version normally
    * survives its operation.) */
  private def shareUnreplaced(curDir: Path, nextDir: Path,
      replaced: Set[String]): Unit =
    try bucketDirs(curDir).foreach { src =>
      val b = src.getFileName.toString
      def dataName(f: String): String =
        if (f.startsWith(".") && f.endsWith(".crc")) f.drop(1).dropRight(4)
        else f
      listDir(src)
        .filter(f => Files.isRegularFile(f) &&
          !replaced.contains(s"$b/${dataName(f.getFileName.toString)}"))
        .foreach { f =>
          val dst = nextDir.resolve(b)
          Files.createDirectories(dst)
          io.shareFile(f, dst.resolve(f.getFileName.toString))
        }
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new ConcurrentCommitException(
          s"base version $curDir pruned during bucket linking — " +
            "concurrent commits advanced past retention; re-read and retry")
    }

  /** Bucket → file sizes of version `prev` for the maintenance
    * triggers, from one driver-side manifest parse ([[layoutAt]]: a
    * version that vanished under us — a competitor's gc-swept publish
    * mid-undo, or a prune — is the retryable conflict). */
  private def bucketFiles(table: String, prev: String): Map[Int, Seq[Long]] =
    layoutAt(table, prev).rows
      .flatMap(r => relBucketOf(r._1).map(b => (b, r._2)))
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }

  /** MAINTENANCE: compact a bucketed table's fragmented buckets.
    * Every O(delta) write adds one fresh file to each bucket it
    * touches: an upsert rewrites a bucket whole only once it holds
    * [[MaxFilesPerBucket]] files, and appends never do — so hot
    * buckets of an append-fed table accumulate files version over
    * version, and scan cost drifts up even though the data volume
    * doesn't (the classic lakehouse small-files problem).
    * Compaction rewrites every bucket whose parquet file count
    * exceeds `maxFilesPerBucket` down to ONE file (each bucket is
    * hash-routed to a single task, so `partitionBy` emits exactly
    * one part per bucket), shares all other buckets untouched, and
    * publishes through the same CAS pointer swap as any commit.
    *
    * Concurrency: a compaction is a semantic no-op, so losing the
    * pointer race to a concurrent upsert is always safe — the CAS
    * throws [[ConcurrentCommitException]], the staged dir is
    * dropped, and [[withCommitRetries]] re-reads the winner's base
    * and re-compacts (or finds nothing left to do). A base version
    * pruned while the rewrite reads it is the same retryable
    * conflict.
    *
    * Returns the bucket ids rewritten; empty = nothing fragmented,
    * NO new version published (maintenance never churns versions
    * for its own sake). */
  def compactBuckets(spark: SparkSession, table: String,
      maxFilesPerBucket: Int = MaxFilesPerBucket,
      clusterBy: Option[String] = None,
      clusterRowsPerFile: Long = 1L << 20): Set[Int] = {
    require(maxFilesPerBucket >= 1)
    numBuckets(table).getOrElse(throw new IllegalStateException(
      s"table $table is not bucketed; snapshot tables rewrite whole on commit"))
    val prev = headPointer(table)
    // bucket -> parquet part-file count; driver-side (≤ numBuckets
    // rows, the same scale contract as the touched-set)
    val rewrite = bucketFiles(table, prev)
      .filter(_._2.size > maxFilesPerBucket).keySet
    compactBucketSet(spark, table, rewrite, prev, clusterBy,
      clusterRowsPerFile)
  }

  /** Rewrite exactly `rewrite`'s buckets of the version pinned by
    * `prev` — the shared compaction tail of [[compactBuckets]]
    * (count trigger) and [[autoMaintain]] (size-tiered policy).
    * Empty set ⇒ no version published.
    *
    * ZONE CLUSTERING (the Delta OPTIMIZE ZORDER shape, single
    * column): plain compaction rewrites debt buckets AS-IS, so an
    * organically-grown table's per-file min/max ranges on the zone
    * column overlap and [[graft.sources.ManifestFileIndex]]'s data
    * skipping keeps everything. With `clusterBy = Some(c)` the
    * rewrite SORTS each bucket by `c` and splits it into
    * `clusterRowsPerFile`-row files — sequential slices of a sorted
    * stream, so every file covers a TIGHT disjoint `c`-range and a
    * range predicate over the zone map (and parquet's own row-group
    * stats) cuts to the few files that matter. `c` must already be a
    * declared zone column (the map is maintained in the same version
    * publish — there is nothing to cluster FOR otherwise). Answers
    * are invariant (ZoneMapSpec pins shuffled ≡ clustered); size
    * `clusterRowsPerFile` so a bucket splits into ≤ the maintenance
    * policy's `maxFilesPerBucket` files, or the count tier re-elects
    * the bucket every pass (idempotent rewrites — cost, not drift). */
  private def compactBucketSet(spark: SparkSession, table: String,
      rewrite: Set[Int], prev: String,
      clusterBy: Option[String],
      clusterRowsPerFile: Long): Set[Int] = {
    clusterBy.foreach { c =>
      require(clusterRowsPerFile >= 1)
      require(zoneColumns(table).exists(_.contains(c)),
        s"compact clusterBy=$c: not a declared zone column of $table " +
          s"(declared: ${zoneColumns(table).getOrElse(Seq.empty)}) — " +
          "clustering exists to tighten the zone map's per-file ranges")
    }
    if (rewrite.nonEmpty) {
      val base = readBucketRestricted(spark, table, prev, rewrite)
        .repartition(rewrite.size, col(BucketCol))
      // compaction rewrites whole buckets: same zone-map shape as the
      // merge path (rewritten buckets re-scan, the rest carries)
      rewriteTouched(spark, table, prev,
        bucketFileSet(table, prev, rewrite), "compaction",
        clusterBy.fold(base)(c =>
          base.sortWithinPartitions(col(BucketCol), col(c))),
        clusterBy.map(_ =>
          "maxRecordsPerFile" -> clusterRowsPerFile.toString).toMap)
    }
    rewrite
  }

  /** AUTO-MAINTENANCE: the POLICY end of compaction — at 100 TB the
    * small-file debt of streaming loops needs triggers, not an
    * operator someone remembers to call. One manifest read (≤
    * numBuckets driver rows, never a directory walk) evaluates the
    * size-tiered policy per bucket:
    *
    *  - files-per-bucket over `maxFilesPerBucket` (the count debt a
    *    hot bucket accumulates version over version), or
    *  - more than one file averaging under `minBytesPerFile` (the
    *    small-file tier: many tiny appends that a count threshold
    *    alone would tolerate right up to the scan-cost cliff);
    *
    * buckets failing either tier rewrite through the same
    * CAS-published compaction as [[compactBuckets]] — a semantic
    * no-op, loser-safe under [[withCommitRetries]]. No debt ⇒ NO
    * version churn (the u10 maintenance discipline). Returns the
    * rewritten buckets; gate u16 pins auto ≡ manual through an
    * ingest run, ParquetTableStoreSpec pins trigger selection. */
  def autoMaintain(spark: SparkSession, table: String,
      maxFilesPerBucket: Int = MaxFilesPerBucket,
      minBytesPerFile: Long = 8L << 20,
      clusterBy: Option[String] = None,
      clusterRowsPerFile: Long = 1L << 20): Set[Int] = {
    require(maxFilesPerBucket >= 1 && minBytesPerFile >= 0)
    numBuckets(table).getOrElse(throw new IllegalStateException(
      s"table $table is not bucketed; snapshot tables rewrite whole on commit"))
    val prev = headPointer(table)
    val rewrite: Set[Int] =
      bucketFiles(table, prev).collect { case (b, fs)
          if fs.size > maxFilesPerBucket ||
            (fs.size > 1 &&
              // the Spark-frame era divided as DOUBLE (Divide
              // casts); keep that semantic exactly
              fs.sum.toDouble / fs.size < minBytesPerFile) => b }
        .toSet
    compactBucketSet(spark, table, rewrite, prev, clusterBy,
      clusterRowsPerFile)
  }

  /** ZERO-COPY CLONE: publish `dstTable` (first version) holding
    * exactly `srcTable`'s retained `version` (default: the head) by
    * SHARING every data file — hard links on POSIX, server-side
    * copies on object stores ([[StoreIo.shareFile]]) — and carrying
    * the version's sidecars verbatim (`_schema.json`, `_manifest`,
    * `_zonemap`, plus the `_BUCKETS`/`_ZONECOLS` table stamps). No
    * engine rewrite, no parquet decode: at 100 TB a replica/dev-fork
    * bootstrap costs one metadata pass plus O(files) link/copy calls
    * instead of the full read-encode-write that `readVersion` +
    * `replaceBucketed` pays (the u17 bootstrap, now the slow path).
    * This is the lakehouse shallow-clone shape with hard-link
    * durability: the clone is a fully independent table afterwards
    * (own pointer, own version history, own retention and cursor
    * registry); shared inodes stay safe because pruning only ever
    * deletes a table's OWN dirs — bytes live until the last referent
    * goes, exactly the untouched-bucket sharing contract.
    *
    * Refusals: cloning onto an existing table is a
    * [[ConcurrentCommitException]] (the create-CAS loses — a clone
    * never silently replaces data); a pruned source version is
    * [[RetentionLostException]]; a source version vanishing mid-walk
    * re-resolves to one of the two (the changesBetween discipline).
    * Gate u19 pins clone ≡ source content and fork independence;
    * ParquetTableStoreSpec pins the zero-rewrite claim itself (every
    * cloned data file shares its inode, nlink ≥ 2). */
  def cloneTable(spark: SparkSession, srcTable: String, dstTable: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(versionOf(headPointer(srcTable)))
    val srcDir = tableDir(srcTable).resolve(versionDirNameOf(srcTable, v))
    if (exists(dstTable))
      throw new ConcurrentCommitException(
        s"cloneTable: $dstTable already exists — a clone never " +
          "replaces a table; drop it or pick a fresh name")
    def remap(): Nothing = {
      versionDirNameOf(srcTable, v) // RetentionLost if pruned
      throw new ConcurrentCommitException(
        s"source version $v of $srcTable vanished during clone — " +
          "a gc/publish race; re-read and retry")
    }
    // SOURCE-side stamp reads first, under the retention-race remap —
    // and ONLY these: a dst-side I/O failure (a concurrent dropTable
    // sweeping the dst dir mid-clone, say) is the destination's own
    // error, not a source gc/retention race, and must not be
    // misattributed as one
    val (srcBuckets, srcZoneCols) =
      try (numBuckets(srcTable), zoneColumns(srcTable))
      catch { case _: java.nio.file.NoSuchFileException => remap() }
    // table stamps — then VERIFY the read-back: a concurrent creator
    // landing its own _BUCKETS/_ZONECOLS between our exists() check
    // and the stamp would otherwise let this clone publish its data
    // under the competitor's DIFFERENT bucket function, silently
    // mis-bucketing every later upsert (losing the publish CAS is not
    // enough — the stamp and the data must agree for the winner,
    // whoever it is)
    srcBuckets.foreach { n =>
      stampOnce(bucketsFile(dstTable), n.toString)
      if (!numBuckets(dstTable).contains(n))
        throw new ConcurrentCommitException(
          s"cloneTable: $dstTable's bucket stamp is " +
            s"${numBuckets(dstTable)} but the clone carries $n-bucket " +
            "data — a concurrent creator owns the name; pick another")
    }
    srcZoneCols.foreach { cols =>
      stampOnce(zoneColsFile(dstTable), cols.mkString(","))
      if (!zoneColumns(dstTable).contains(cols))
        throw new ConcurrentCommitException(
          s"cloneTable: $dstTable's zone columns are " +
            s"${zoneColumns(dstTable)} but the clone carries a map " +
            s"over $cols — a concurrent creator owns the name")
    }
    // share the version's entire tree: data files link/copy, small
    // sidecars (_schema.json, _manifest, _zonemap parquet) too —
    // relative paths inside them stay valid in the clone's dir. This
    // walk READS the source, so a vanish here IS the retention race.
    def shareTree(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst)
      listDir(src).foreach { p =>
        val d = dst.resolve(p.getFileName.toString)
        if (Files.isDirectory(p)) shareTree(p, d)
        else if (Files.isRegularFile(p)) io.shareFile(p, d)
      }
    }
    try stageAndPublish(spark, dstTable, None, s"clone of $srcTable")(
      shareTree(srcDir, _))._1
    catch {
      case e: ConcurrentCommitException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
        // the walk touches BOTH trees: blame retention only when the
        // source side can actually be mid-prune. Retention deletes a
        // version tree BOTTOM-UP (files before the dir), so a racing
        // prune vanishes descendants while srcDir still exists — the
        // srcDir check alone misattributes that window as a raw I/O
        // error. A version inside the plain keep window is NEVER
        // pruned, so a vanish there (or on the dst side) surfaces raw;
        // anything at or below the prune floor is the retention race.
        if (Files.exists(srcDir) && inPlainWindow(srcTable, v)) throw e.getCause
        remap()
    }
  }

  /** Tables with a committed version in this store (the catalog
    * listing a maintenance loop iterates) — one directory listing of
    * the root, O(tables). */
  def tables: Seq[String] =
    if (!Files.exists(Paths.get(root))) Seq.empty
    else listDir(Paths.get(root))
      .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("_CURRENT")))
      .map(_.getFileName.toString).sorted

  /** DROP `table`: the pointer goes FIRST (readers immediately see
    * the clean no-committed-version refusal, never a half-deleted
    * tree), then the whole table dir — versions, stamps, sidecars,
    * and cursor registry. Bytes shared with a [[cloneTable]] fork
    * survive (hard links — deletion only drops this table's
    * references), so dropping a source never corrupts its clones.
    * Dropping an absent table returns false. Administrative op: a
    * writer racing the drop either fails its publish cleanly (staged
    * dir swept with the tree) or re-creates the table fresh
    * afterwards — serialize drops against writers externally, as
    * with any catalog DDL. */
  def dropTable(table: String): Boolean = {
    val dir = tableDir(table)
    if (!Files.exists(dir)) false
    else {
      Files.deleteIfExists(currentFile(table))
      deleteRecursively(dir)
      true
    }
  }

  /** Run `op` (any commit/upsert on this store) with optimistic-
    * concurrency retries: a lost pointer race re-runs the whole
    * operation, which re-reads the winner's snapshot and re-applies
    * the delta — upserts are idempotent re-applied over a newer base.
    */
  def withCommitRetries[T](maxAttempts: Int = 5)(op: => T): T = {
    @scala.annotation.tailrec
    def loop(attempt: Int): T =
      try op
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw e else loop(attempt + 1)
      }
    loop(1)
  }

  /** Unique per-writer staging dir for a version: two optimistic
    * committers can never write into the same directory, so a commit
    * race can tear NOTHING — the pointer CAS is the single commit
    * point and the loser's staged dir is deleted on conflict. */
  private def stagedDirName(version: Long): String =
    s"v=$version-${java.util.UUID.randomUUID.toString.take(8)}"

  /** In-flight writes live under `tmp-<name>` — a prefix [[prune]]
    * never touches — and move into the `v=` namespace only when the
    * write is COMPLETE. Otherwise a slow writer whose target version
    * fell out of the retention window mid-write (competitors kept
    * publishing) would have its half-written dir pruned out from
    * under the running Spark job, failing it with a non-retryable
    * I/O error instead of a clean CAS conflict. After the move the
    * worst a concurrent prune can do is delete a COMPLETE staged dir
    * whose version already lost — and then the CAS must fail too,
    * which is the clean retry path. (Only a crashed writer can
    * orphan a tmp- dir — a failed write drops its own in
    * [[stageAndPublish]]; orphans are inert and [[gc]] sweeps them.) */
  private def tmpName(staged: String): String = s"tmp-$staged"

  private def finalizeStaged(table: String, staged: String): Unit =
    Files.move(tableDir(table).resolve(tmpName(staged)),
      tableDir(table).resolve(staged))

  /** Thrown by a staging body that found nothing to publish (an
    * empty append): [[stageAndPublish]] drops the staged dir and
    * reports the base version instead. */
  private object NothingStaged extends scala.util.control.ControlThrowable

  /** The staging shell behind every store write: names the unique
    * staged dir for the version after `prev`, runs `write` into its
    * `tmp-` form under [[guardedAction]] (a stored input pruned while
    * the write reads it is the retryable [[ConcurrentCommitException]],
    * never a raw I/O error), finalizes it into the `v=` namespace and
    * publishes it against `prev` ([[publish]] drops it if the CAS
    * loses). If anything fails before the publish, the staged dir is
    * deleted here — a failed write never leaves a `tmp-` dir for
    * [[gc]]'s 24 h crash sweep. Returns the re-read committed frame
    * and its version. */
  private def stageAndPublish(spark: SparkSession, table: String,
      prev: Option[String], what: String)(
      write: Path => Unit): (DataFrame, Long) = {
    val staged = stagedDirName(prev.fold(0L)(p => versionOf(p) + 1))
    val dir = tableDir(table).resolve(tmpName(staged))
    try {
      guardedAction(what)(write(dir))
      finalizeStaged(table, staged)
    } catch {
      case NothingStaged =>
        deleteRecursively(dir)
        return (read(spark, table), versionOf(prev.get))
      case e: Throwable =>
        dropFailedStaging(spark, dir)
        throw e
    }
    publish(table, staged, prev)
    (readDir(spark, table, staged), versionOf(staged))
  }

  /** Delete a failed write's staged dir. A failed Spark job returns
    * while the rest of its tasks are still being killed, and those
    * can re-create the dir with their temporary output — so the
    * delete repeats once no task is running, until the dir stays gone
    * through a short quiet interval (the running-task count comes
    * from listener events, which can lag a straggler's start).
    * Bounded: concurrent jobs may keep tasks running. Best effort: the
    * write's own failure is what the caller sees. */
  private def dropFailedStaging(spark: SparkSession, dir: Path): Unit = {
    def attempt(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(_) => () }
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 5000
    def pastDeadline = System.currentTimeMillis() >= deadline
    var gone = false
    while (!gone) {
      attempt(deleteRecursively(dir))
      attempt(while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
          !pastDeadline) Thread.sleep(20))
      attempt(Thread.sleep(250))
      gone = !Files.exists(dir) || pastDeadline
    }
    attempt(deleteRecursively(dir))
  }

  /** Publish `df` as a FULL rewrite against `prev` — a snapshot
    * commit, or (when `df` carries the bucket column) a bucketed
    * create/replace. The zone map (when declared) and the manifest
    * recompute whole, version-atomically with the data.
    *
    * A ROWLESS frame written `partitionBy(kb)` produces no partition
    * dirs and no part files — only _SUCCESS — and every later read of
    * that version dies in schema inference, wedging the table. Empty
    * bucketed versions therefore land UNPARTITIONED: one empty part
    * file that carries the schema (bucket column included, as a plain
    * column readDir still drops). A later non-empty version writes
    * partition dirs as usual; the empty version's root file is never
    * hard-linked forward (the sharing walk links bucket DIRS only),
    * so layouts never mix within one version. Emptiness is detected
    * AFTER the partitioned write (did any kb= dir appear? — a free
    * driver listing) rather than probed up front: a limit(1) probe
    * would evaluate the corpus-sized input plan twice per publish.
    * Only the rare genuinely-empty frame pays a second (trivially
    * cheap) write.
    *
    * Every merge path must capture `prev` BEFORE reading the snapshot
    * it merges against: re-reading the pointer at publish time would
    * let a competing commit that landed in between be silently
    * overwritten (the lost update the CAS exists to prevent). */
  private def publishFull(spark: SparkSession, table: String, df: DataFrame,
      prev: Option[String]): (DataFrame, Long) =
    stageAndPublish(spark, table, prev, s"commit of $table") { dir =>
      if (df.columns.contains(BucketCol)) {
        df.write.mode("errorifexists").partitionBy(BucketCol)
          .parquet(dir.toString)
        if (bucketDirs(dir).isEmpty) {
          deleteRecursively(dir)
          df.write.mode("errorifexists").parquet(dir.toString)
        }
      } else df.write.mode("errorifexists").parquet(dir.toString)
      writeSchemaFile(dir, df.schema)
      writeFullZoneMap(spark, table, dir)
      writeFullManifest(dir)
    }

  /** Publish the staged dir with a compare-and-set on the pointer:
    * the expected previous content is exactly the pointer this commit
    * was computed against (absence for a new table). A competing
    * writer that published in between makes the CAS throw
    * [[ConcurrentCommitException]]; the loser's staged directory is
    * deleted before rethrowing, and the caller re-reads + retries
    * (see [[withCommitRetries]]) instead of silently losing a merge. */
  private def publish(table: String, staged: String,
      expected: Option[String]): Unit = {
    val stagedDir = tableDir(table).resolve(staged)
    // gc-vs-stalled-writer guard, part 1: [[gc]]'s orphan sweep is
    // age-gated on mtime, and a writer stalled past that gate between
    // finalizeStaged and this CAS would otherwise win the swap AFTER
    // its dir was swept — _CURRENT naming a deleted directory wedges
    // every read until the next commit, a worse failure than the lost
    // commit the age gate is sized for. Re-aging the dir immediately
    // before the swap makes the realistic (hours-long stall)
    // interleaving safe: gc's filter sees a fresh mtime and skips it.
    // A touch that finds the dir ALREADY gone aborts before anything
    // is published — cleanly retryable.
    val publishMs = System.currentTimeMillis()
    try {
      Files.setLastModifiedTime(stagedDir,
        java.nio.file.attribute.FileTime.fromMillis(publishMs))
      // commit wall-clock stamp (`_commit_ts`, millis) — what makes
      // TIMESTAMP AS OF resolvable without guessing from file mtimes
      // (which clone/restore/finalize-lag all shift). Written before
      // the CAS so a committed version ALWAYS carries it; a loser's
      // stamp dies with its deleted dir; a cloned tree's inherited
      // stamp is overwritten here with the clone's own publish time.
      // Per-table stamps are monotone: the CAS serializes publishes,
      // and a competitor landing between this write and the swap
      // fails the expectation, so the retry re-stamps.
      Files.write(stagedDir.resolve(CommitTsFile),
        publishMs.toString.getBytes(StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException =>
      throw new ConcurrentCommitException(
        s"staged version $staged of $table disappeared before publish " +
          "(gc swept a stalled writer's dir) — re-stage and retry")
    }
    try io.swapPointerIfCurrent(currentFile(table), staged, expected)
    catch {
      case e: ConcurrentCommitException =>
        deleteRecursively(stagedDir)
        throw e
    }
    // part 2: the adversarial residue (gc read the pre-touch mtime,
    // its delete landed after our swap). Detect the swept dir, undo
    // the publish, and surface a retryable conflict. The undo is
    // itself a CAS (expected = `staged`): a REPLACE-style competitor
    // (commit/replaceBucketed) CASes against the pointer without ever
    // reading the previous data dir, so it can legitimately land
    // CAS(expected = staged) inside this window — an unconditional
    // restore would then silently revert its COMMITTED version to
    // `prev`, a lost commit. If the undo-CAS loses, the competitor
    // has already advanced past the swept version; leave the pointer
    // alone and just surface our own retryable failure.
    if (!Files.exists(stagedDir)) {
      val restored =
        try {
          expected match {
            case Some(prev) =>
              io.swapPointerIfCurrent(currentFile(table), prev, Some(staged))
            case None =>
              io.deletePointerIfCurrent(currentFile(table), staged)
          }
          true
        } catch { case _: ConcurrentCommitException => false }
      throw new ConcurrentCommitException(
        s"staged version $staged of $table was swept by gc during " +
          "publish — " +
        (if (restored) "pointer restored"
         else "a competitor already advanced the pointer past it; " +
           "left as-is") +
        "; re-stage and retry")
    }
    prune(table, versionOf(staged))
  }

  /** MAINTENANCE: sweep a table's CRASH ORPHANS — the two dir classes
    * ordinary retention pruning deliberately never touches:
    *
    *  - `tmp-*` staging dirs (a writer that died mid-write);
    *  - `v=` dirs ABOVE the published pointer (a writer that
    *    finalized its staging but died before the CAS — never
    *    committed, never readable, and the one thing that can make a
    *    later [[readVersion]] refuse a number as ambiguous);
    *  - non-pointed DUPLICATES of the CURRENT version number (an
    *    above-pointer orphan whose number a later writer then
    *    committed: the pointer names the sole winner, so the other
    *    dirs of that number are sweepable — this un-ambiguates
    *    [[readVersion]] for the number while it is still current;
    *    duplicates of OLDER retained numbers have no winner record
    *    and are left for retention pruning to clear).
    *
    * Both classes are also what a LIVE writer looks like mid-commit,
    * so the sweep is age-gated: only dirs whose last-modified time is
    * older than `olderThanMs` are deleted (default 24 h — orders of
    * magnitude beyond any commit's staging lifetime; deployments with
    * slower writers raise it). Hard-link safety is structural: links
    * are only ever taken FROM the committed previous version, never
    * from tmp/above-pointer dirs, so sweeping an orphan can never
    * strand a committed version's shared inodes. Returns the swept
    * dir names. */
  def gc(table: String, olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(olderThanMs >= 0)
    val dir = tableDir(table)
    if (!Files.exists(dir)) Seq.empty
    else {
      val pointed = currentPointer(table)
      val ceiling = pointed.map(versionOf).getOrElse(-1L)
      val cutoff = System.currentTimeMillis() - olderThanMs
      listDir(dir)
        .filter { p =>
          val n = p.getFileName.toString
          val orphan = n.startsWith("tmp-") ||
            (n.startsWith("v=") && versionOf(n) > ceiling) ||
            (n.startsWith("v=") && versionOf(n) == ceiling &&
              !pointed.contains(n))
          orphan && Files.getLastModifiedTime(p).toMillis < cutoff
        }
        .map { p => deleteRecursively(p); p.getFileName.toString }
    }
  }

  // ————— CONSUMER-AWARE RETENTION (cursor registry) —————

  /** Registered consumer cursors live under `root/<table>/_cursors/
    * <consumer>` — one atomic pointer file per consumer holding the
    * oldest version that consumer still needs. Retention pruning
    * keeps every version at or above the registry's MINIMUM (the
    * slowest consumer), so a CDC reader's next `changesBetween(cursor,
    * head)` stays answerable however far it lags — the static
    * `keepVersions` constant stops being a guess about consumer
    * speed. The protection is CAPPED at `maxRetained` versions below
    * the head: a dead consumer must not pin a 100 TB table's history
    * forever, so beyond the cap its versions prune anyway and its
    * next read refuses with [[RetentionLostException]] — the rebase
    * path (st16) is the documented recovery, now entered by POLICY
    * rather than by surprise. */
  private val CursorsDir = "_cursors"

  /** Record (or advance) `consumer`'s cursor on `table`: versions
    * ≥ `version` (within `maxRetained` of the head) survive pruning.
    * One atomic pointer write — last write wins per consumer, and a
    * racing prune sees either value (both safe: protection is only
    * ever widened by the older one). */
  def registerCursor(table: String, consumer: String, version: Long): Unit = {
    require(consumer.matches("[A-Za-z0-9._-]+"),
      s"consumer id '$consumer' must be [A-Za-z0-9._-]+ (it names a file)")
    require(version >= 0, s"cursor version must be >= 0, got $version")
    val d = tableDir(table).resolve(CursorsDir)
    Files.createDirectories(d)
    io.swapPointer(d.resolve(consumer), version.toString)
  }

  /** Drop `consumer`'s registration — its versions become ordinary
    * retention candidates at the next publish. Returns whether a
    * registration existed. */
  def unregisterCursor(table: String, consumer: String): Boolean =
    Files.deleteIfExists(tableDir(table).resolve(CursorsDir).resolve(consumer))

  /** CURSOR-LAG OBSERVABILITY (gate u22): one row per registered
    * consumer — the retention debt a stalled consumer creates,
    * visible BEFORE it becomes a 100 TB surprise. Consumer-aware
    * retention (u18) lets a cursor pin up to `maxRetained` versions
    * of history; nothing reported who was pinning what, so a dead
    * consumer's debt grew silently until the cap forced a rebase.
    * Columns:
    *
    *  - `consumer`, `cursor_version`, `head_version`;
    *  - `spans_behind` = head − cursor (how stale the consumer is);
    *  - `versions_protected` = retained versions in
    *    [cursor, head − keepVersions + 1) — versions that exist ONLY
    *    because protection widened plain retention;
    *  - `bytes_protected` = bytes of files named by those versions'
    *    manifests but absent from every plain-window version's
    *    manifest: hard links preserve file names, so "absent from
    *    the surviving window" is exactly "these bytes free when this
    *    protection lifts".
    *
    * Cost: registry + version listings are O(consumers + versions)
    * driver rows; the bytes term is one distributed union of ≤
    * `maxRetained` manifest sidecars with an anti-join — never a
    * directory walk, never file contents. */
  def cursorLag(spark: SparkSession, table: String): DataFrame = {
    val head = versionOf(headPointer(table))
    val retained = versions(table)
    val plainFloor = head - keepVersions + 1
    val d = tableDir(table).resolve(CursorsDir)
    val consumers: Seq[(String, Long)] =
      if (!Files.exists(d)) Seq.empty
      else listDir(d).flatMap { f =>
        try Some((f.getFileName.toString,
          new String(Files.readAllBytes(f),
            StandardCharsets.UTF_8).trim.toLong))
        catch { case _: java.io.IOException | _: NumberFormatException =>
          None }
      }.sortBy(_._1)
    // all set math on DRIVER-SIDE sidecar parses (cached): the old
    // per-consumer distinct + anti-join + agg scheduled a Spark job
    // round per registry row for sets the driver already held
    def manifests(vs: Seq[Long]): Seq[(String, Long)] =
      vs.flatMap(v => layoutAt(table, versionDirNameOf(table, v)).rows)
    val survivingFiles =
      manifests(retained.filter(_ >= plainFloor)).map(_._1).toSet
    val rows = consumers.map { case (c, cur) =>
      val protVs = retained.filter(v => v >= cur && v < plainFloor)
      val bytes = manifests(protVs).distinct
        .filterNot(r => survivingFiles.contains(r._1)).map(_._2).sum
      (c, cur, head, head - cur, protVs.size.toLong, bytes,
        groupOfConsumer(c).orNull)
    }
    spark.createDataFrame(rows).toDF("consumer", "cursor_version",
      "head_version", "spans_behind", "versions_protected",
      "bytes_protected", "group")
  }

  /** The group a registry consumer name belongs to (None = an
    * ordinary consumer) — group markers register cursors under the
    * reserved `_group-<g>` prefix, and the lag report surfaces the
    * owning group so retired-group debt is attributable: "who pins
    * v3?" answers with the group to [[dropGroup]], not an opaque
    * registry string. */
  private def groupOfConsumer(consumer: String): Option[String] =
    if (consumer.startsWith("_group-")) Some(consumer.stripPrefix("_group-"))
    else None

  /** STORE DASHBOARD, table axis: one row per committed table —
    * head version, retained version count, live files/bytes (from
    * the manifest, one sidecar read per table), bucket count and
    * stamped keys (null for snapshot tables), declared zone columns.
    * The observability face the CLI `stats` command and the HTTP
    * `/api/store/stats` route serve; heavy terms (protected BYTES per
    * consumer) live in [[cursorLag]], priced per table on demand. */
  def tableStats(spark: SparkSession): DataFrame = {
    val rows = tables.map { t =>
      val (files, bytes) = fileStats(spark, t)
      (t, currentVersion(t).getOrElse(-1L), versions(t).size.toLong,
        files, bytes,
        numBuckets(t).map(_.toString).orNull,
        keyColumns(t).map(_.mkString(",")).orNull,
        zoneColumns(t).map(_.mkString(",")).orNull)
    }
    spark.createDataFrame(rows).toDF("table", "head_version",
      "versions_retained", "files", "bytes", "buckets", "keys",
      "zone_columns")
  }

  /** STORE DASHBOARD, group axis: one row per (group, member) of
    * every committed marker — the vector [[readGroup]] would resolve,
    * with the member's head alongside so marker staleness is visible
    * (pinned < head = a writer committed past the marker). */
  def groupStats(spark: SparkSession): DataFrame = {
    val rows = for {
      g <- listGroups
      vs <- groupVersions(g).toSeq
      (t, v) <- vs.toSeq.sortBy(_._1)
    } yield (g, t, v, currentVersion(t).getOrElse(-1L))
    spark.createDataFrame(rows).toDF("group", "table",
      "pinned_version", "head_version")
  }

  /** The oldest registered cursor on `table` (None = no consumers) —
    * the retention floor pruning honors, capped at `maxRetained`. */
  def cursorFloor(table: String): Option[Long] = {
    val d = tableDir(table).resolve(CursorsDir)
    if (!Files.exists(d)) None
    else {
      val vs = listDir(d).flatMap { f =>
        // a consumer can unregister (file vanishes) or re-point
        // (atomic swap) under this listing — skip, don't crash; the
        // worst case is one publish pruning with last-read knowledge
        try Some(new String(Files.readAllBytes(f),
          StandardCharsets.UTF_8).trim.toLong)
        catch { case _: java.io.IOException | _: NumberFormatException =>
          None }
      }
      if (vs.isEmpty) None else Some(vs.min)
    }
  }

  // ————— MULTI-TABLE ATOMIC COMMIT (group markers) —————

  /** A GROUP MARKER is one CAS-swapped pointer file
    * (`root/_groups/<group>`) naming a consistent (table → version)
    * vector across N tables — the store-level generalization of the
    * bespoke cross-family pair pin the stored IVF-PQ index carried
    * (round-14 ADVICE): every composed loop that commits SIBLING
    * tables (survivors+ledger, corpus+signatures+index, BM25
    * postings+stats) has the same torn window, where each table is
    * individually consistent but a reader resolves them at different
    * corpus states. Per-table commits stay exactly as they are (each
    * pointer's CAS serializes its own publishes, commits on distinct
    * tables overlap freely); the writer then advances the marker to
    * the EXPLICIT versions it just committed, in one CAS pinned to
    * the marker state it started from ([[groupPin]] →
    * [[commitGroup]]). Readers resolve the marker and time-travel
    * each member to its pinned version ([[readGroup]]) — they see
    * one marker state or another, NEVER a mixed vector, because the
    * marker swap is the single cross-table commit point.
    *
    * Retention: [[commitGroup]] registers a group cursor (consumer
    * `_group-<group>`) on every member at its pinned version BEFORE
    * the swap, so pruning keeps what the live marker names (capped
    * at `maxRetained`, the dead-consumer policy). A reader racing a
    * deep commit burst past the cap gets the typed
    * [[RetentionLostException]] from the member read and re-resolves
    * the marker — [[readGroup]] does that bounded re-resolve itself.
    *
    * Crash shape: a writer that dies between its table commits and
    * the marker swap leaves the marker at the PREVIOUS consistent
    * vector — readers stay consistent (stale by one span) and the
    * replayed batch re-derives idempotently and swaps then. This is
    * exactly the pair-pin-after-both-folds discipline, made generic. */
  private val GroupsDir = "_groups"

  private def groupFile(group: String): Path = {
    require(group.matches("[A-Za-z0-9._-]+"),
      s"group id '$group' must be [A-Za-z0-9._-]+ (it names a file)")
    Paths.get(root, GroupsDir, group)
  }

  private def groupConsumer(group: String): String = s"_group-$group"

  private def serializeGroup(vs: Map[String, Long]): String =
    vs.toSeq.sortBy(_._1).map { case (t, v) => s"$t=$v" }.mkString("\n")

  private def parseGroup(s: String): Map[String, Long] =
    s.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf('=')
      (line.substring(0, i), line.substring(i + 1).toLong)
    }.toMap

  /** Resolve `group`'s marker AND capture it as the CAS expectation
    * for a later [[commitGroup]] — the [[readPinned]] discipline at
    * the group level. An absent marker pins absence (first commit). */
  def groupPin(group: String): GroupPin = {
    val f = groupFile(group)
    // trim to the CAS's own view of the content (LockedCas trims)
    val raw =
      if (!Files.exists(f)) None
      else Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim)
    GroupPin(group, raw.map(parseGroup).getOrElse(Map.empty), raw)
  }

  /** The (table → version) vector the live marker names — None for a
    * never-committed group. */
  def groupVersions(group: String): Option[Map[String, Long]] = {
    val f = groupFile(group)
    if (!Files.exists(f)) None
    else Some(parseGroup(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
  }

  /** Atomically advance the group marker to `versions` — the
    * EXPLICIT (table → version) pairs this writer just committed
    * (never "current heads": a competitor's newer head woven into
    * the vector would be exactly the mixed state the marker exists
    * to rule out). CAS-pinned to `pin`: a competitor's marker swap
    * in between raises [[ConcurrentCommitException]] and the caller
    * re-reads + re-derives ([[withCommitRetries]]). Member versions
    * are cursor-protected before the swap so the live marker's
    * vector stays readable under later per-table commits. */
  def commitGroup(versions: Map[String, Long], pin: GroupPin): Unit = {
    require(versions.nonEmpty, "commitGroup: empty version vector")
    // protect first, publish second — but the registry is last-write-
    // wins PER CONSUMER, so a LOSER's pre-CAS registration (possibly
    // at newer versions) can clobber the winner's and leave the live
    // marker's older versions transiently unprotected. Both sides of
    // the CAS therefore re-assert: the loser re-registers at the LIVE
    // marker's vector before surfacing its conflict, and the winner
    // re-registers after its swap (closing the window where a loser's
    // stale write landed between the winner's registration and swap).
    // Cursor writes are idempotent atomic pointer swaps, so the
    // re-asserts cost one tiny write per member and the steady state
    // always converges to protecting exactly the live marker.
    def assertCursors(vs: Map[String, Long]): Unit =
      vs.foreach { case (t, v) =>
        if (exists(t)) registerCursor(t, groupConsumer(pin.group), v)
      }
    versions.foreach { case (t, v) =>
      require(v >= 0 && exists(t),
        s"commitGroup(${pin.group}): $t@v$v is not a committed table version")
      registerCursor(t, groupConsumer(pin.group), v)
    }
    val f = groupFile(pin.group)
    Files.createDirectories(f.getParent)
    try io.swapPointerIfCurrent(f, serializeGroup(versions), pin.raw)
    catch { case e: ConcurrentCommitException =>
      groupVersions(pin.group).foreach(assertCursors)
      throw e
    }
    assertCursors(versions)
  }

  /** Read a CONSISTENT snapshot of the group: resolve the marker,
    * time-travel every member to its pinned version. A member pruned
    * under the resolved marker (a commit burst past `maxRetained`,
    * or a pre-marker race) re-resolves the marker and retries — the
    * newer marker names newer, retained versions — then surfaces the
    * typed refusal if the group stays unreadable. Never a mixed
    * vector: every returned frame set corresponds to ONE marker
    * state. */
  def readGroup(spark: SparkSession, group: String,
      maxAttempts: Int = 5): Map[String, (DataFrame, Long)] = {
    def loop(attempt: Int): Map[String, (DataFrame, Long)] = {
      val vs = groupVersions(group).getOrElse(
        throw new IllegalStateException(
          s"group $group has no committed marker"))
      try vs.map { case (t, v) => t -> (readVersion(spark, t, v), v) }
      catch {
        case e @ (_: RetentionLostException |
                  _: ConcurrentCommitException) =>
          if (attempt >= maxAttempts) throw e else loop(attempt + 1)
      }
    }
    loop(1)
  }

  /** Groups with a committed marker in this store — the catalog
    * listing for group-lifecycle maintenance (which [[dropGroup]]
    * candidates exist; pair with [[cursorLag]]'s `group` column for
    * the debt each one pins). One directory listing, O(groups). */
  def listGroups: Seq[String] = {
    val d = Paths.get(root, GroupsDir)
    if (!Files.exists(d)) Seq.empty
    else listDir(d)
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".lock"))
      .map(_.getFileName.toString).sorted
  }

  /** RETIRE a group: delete its marker, then unregister its cursor on
    * every member — the lifecycle END [[commitGroup]] needs. Without
    * it a retired group (an abandoned composed loop, an index pair
    * rebuilt under a new name) pins up to `protectCap` versions on
    * every member table FOREVER — exactly the retention-debt class
    * [[cursorLag]] exposes. Marker goes FIRST, so readers refuse
    * typed ("no committed marker") before any protection lifts;
    * the freed versions become ordinary retention candidates at each
    * member's next publish (pruning happens at publish time — drop
    * itself deletes no data). Returns whether a marker existed.
    *
    * Races: a concurrent [[commitGroup]] whose CAS expected the
    * dropped marker loses typed and its retry re-creates the group
    * from absence — drop-then-recommit is a fresh group, never a
    * resurrected vector. A winner's post-swap cursor re-assert can
    * land AFTER this drop unregistered (leaking a cursor with no
    * marker): the lag report names it via its `group` column and a
    * RE-DROP sweeps it — when the marker is already absent the
    * member list falls back to the whole catalog. */
  def dropGroup(group: String): Boolean = {
    val f = groupFile(group)
    val members: Seq[String] =
      groupVersions(group).map(_.keys.toSeq).getOrElse(tables)
    val existed = Files.deleteIfExists(f)
    members.foreach(t => unregisterCursor(t, groupConsumer(group)))
    existed
  }

  /** Delete version dirs (winners and any lingering lost-race
    * stagings alike) whose version number fell out of the retention
    * window. Only the pointer defines liveness, so stale dirs are
    * never read — pruning is pure space reclamation. Registered
    * consumer cursors widen the window (see [[registerCursor]]) up to
    * `maxRetained` versions below the head. */
  private def prune(table: String, current: Long): Unit = {
    val dir = tableDir(table)
    if (Files.exists(dir)) {
      val floor = cursorFloor(table)
      def unprotected(v: Long): Boolean = floor match {
        case Some(f) => v < f || v <= current - protectCap
        case None => true
      }
      listDir(dir)
        .filter(p => p.getFileName.toString.startsWith("v="))
        .map(p => (p, versionOf(p.getFileName.toString)))
        .filter { case (_, v) => v <= current - keepVersions &&
          unprotected(v) }
        .foreach { case (p, _) => deleteRecursively(p) }
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
