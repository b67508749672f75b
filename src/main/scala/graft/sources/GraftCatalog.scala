package graft.sources

import java.util

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.Column
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, StagingTableCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{Expect, ParquetTableStore, StoreScanSpec}

/** [[ManifestFileIndex]] adapted to the `PartitioningAwareFileIndex`
  * shape Spark's DSv2 file sources plan through — what lets the V2
  * catalog face ([[GraftCatalog]]) reuse Spark's own
  * `ParquetScanBuilder` (column pruning, filter pushdown, partition
  * split) while EVERY listing decision still comes from the store's
  * `_manifest` sidecar and zone map: `listFiles` delegates verbatim
  * to the wrapped manifest index, so a catalog scan pays zero
  * directory listing and data-skips files exactly like the
  * programmatic `store.read` path. The abstract leaf-map members are
  * materialized from the same manifest rows (they feed only
  * `allFiles`/size estimates — never a filesystem walk). */
final class ManifestV2FileIndex(spark: SparkSession, rootDir: String,
    files: Seq[(String, Long)], partSchema: StructType,
    skip: Option[ZoneSkip])
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val inner = new ManifestFileIndex(rootDir, files, partSchema, skip)
  private val rootHPath = new HPath(rootDir)
  private val statuses: Seq[FileStatus] = files.map { case (rel, bytes) =>
    new FileStatus(bytes, false, 1, 128L << 20, 0L,
      new HPath(rootHPath, rel))
  }

  override def partitionSpec(): PartitionSpec =
    if (partSchema.isEmpty) PartitionSpec.emptySpec
    else {
      val pcol = partSchema.fields.head.name
      val dirs = files.map(_._1.takeWhile(_ != '/')).distinct
        .map(d => d.stripPrefix(s"$pcol=").toInt -> d).sortBy(_._1)
      PartitionSpec(partSchema, dirs.map { case (v, d) =>
        PartitionPath(InternalRow(v), new HPath(rootHPath, d))
      })
    }

  override protected def leafFiles
      : scala.collection.mutable.LinkedHashMap[HPath, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[HPath, FileStatus]
    statuses.foreach(s => m.put(s.getPath, s))
    m
  }

  override protected def leafDirToChildrenFiles
      : Map[HPath, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters)

  override def rootPaths: Seq[HPath] = inner.rootPaths
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = inner.sizeInBytes
  override def inputFiles: Array[String] = inner.inputFiles
}

/** V1 source `Filter` → `Column` for the SQL `DELETE FROM` seam:
  * Spark hands [[GraftTable.deleteWhere]] the WHERE clause as pushed
  * filters, and the store's predicate delete wants a `Column`. Only
  * shapes with exact SQL semantics translate; anything else returns
  * None and `canDeleteWhere` refuses the WHOLE delete (Spark then
  * errors loudly) — a partial translation would delete the wrong
  * rows. */
private[sources] object FilterToColumn {
  import org.apache.spark.sql.sources._
  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) =>
      for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c) => translate(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** One resolved store version as a Spark DSv2 [[Table]]: reads plan
  * through [[ManifestV2FileIndex]] (manifest-fed, zone-skipping —
  * bit-identical planning to the programmatic `store.read`), writes
  * fall back to the V1 [[InsertableRelation]] seam and land as REAL
  * store commits — `INSERT INTO` is an LWW [[ParquetTableStore
  * .upsertBucketed]] on the stamped key columns (bucketed tables) or
  * a pinned append commit (snapshot tables); `INSERT OVERWRITE` is
  * `replaceBucketed`/`commit`. Every write rides the store's CAS
  * publish, manifest/zone-map maintenance, and retention — a SQL
  * writer and a programmatic writer are indistinguishable to readers.
  *
  * The version binds when the catalog LOADS the table — analysis
  * time — which is the property [[StoreViews]]' session views could
  * not have (they bind at registration and go silently stale). */
final class GraftTable(spark: SparkSession, store: ParquetTableStore,
    tableName: String, qualified: String, spec: StoreScanSpec,
    writable: Boolean = true)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = qualified
  /** Nullable-RELAXED: streaming inputs arrive forced nullable-up
    * (Spark relaxes every streaming source's schema, array
    * containsNull included), and output resolution refuses the
    * narrowing cast against a strict schema — while parquet bytes
    * cannot distinguish the two forms at all (the same fact behind
    * the store's own append schema check). Reads are indifferent;
    * writes land through the store's merge, which aligns against the
    * canonical stored schema anyway. */
  override def schema(): StructType =
    graft.ops.SchemaEvolution.relax(spec.schema).asInstanceOf[StructType]
  override def capabilities(): util.Set[TableCapability] =
    if (writable)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("version", spec.version.toString)
    m.put("format", "graft-store-parquet")
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val partSchema = spec.bucketCol match {
      case Some(bc) =>
        // layout-only: the bucket value types as the canonical schema
        // typed it, but the column is NOT in the exposed schema, so
        // SQL never projects or filters it — partition pruning is the
        // programmatic path's optimization, data skipping is SQL's
        new StructType(Array(StructField(bc,
          org.apache.spark.sql.types.IntegerType, nullable = true)))
      case None => new StructType()
    }
    val inner = ParquetScanBuilder(spark,
      new ManifestV2FileIndex(spark, spec.rootDir, spec.files, partSchema,
        spec.skip),
      spec.schema, spec.schema, options)
    // the micro-batch face (spark.readStream.table): same builder,
    // every batch-pushdown call forwarded verbatim — see
    // StreamCapableScanBuilder; the tail stream itself is
    // graft.streaming.StoreTailStream (versions-as-offsets,
    // append-only contract, cursor-protected retention)
    new org.apache.spark.sql.graft.StreamCapableScanBuilder(inner,
      (readSchema, checkpointLoc) => {
        if (!writable) throw new UnsupportedOperationException(
          s"$qualified VERSION AS OF ${spec.version} is one committed " +
            "snapshot — a bounded frame, not a stream; read it with " +
            "spark.read / SELECT, or stream the head")
        val consumer = Option(options.get("tailconsumer")).getOrElse(
          "tail-" + java.lang.Integer.toHexString(checkpointLoc.hashCode))
        new graft.streaming.StoreTailStream(store, tableName, readSchema,
          consumer)
      })
  }

  /** SQL `DELETE FROM <cat>.<t> WHERE …` — lands as the store's
    * predicate delete ([[ParquetTableStore.deleteWhere]]): O(touched
    * buckets) rewrite + hard links, CAS publish, manifest/zone-map
    * maintenance, retried on commit races. All-or-nothing: if ANY
    * conjunct fails to translate with exact SQL semantics,
    * `canDeleteWhere` refuses the whole statement (Spark reports it)
    * rather than deleting approximately. `DELETE` with no WHERE
    * arrives as AlwaysTrue via `truncateTable()` and empties the
    * table through the same protocol. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable && filters.forall(FilterToColumn.translate(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (!writable) throw new UnsupportedOperationException(
      s"$qualified VERSION AS OF ${spec.version} is committed history — " +
        "DELETE targets the head (drop the VERSION clause)")
    val pred = filters.map(f => FilterToColumn.translate(f).getOrElse(
      throw new UnsupportedOperationException(
        s"$qualified: cannot DELETE WHERE $f — predicate shape has no " +
          "exact translation; delete programmatically via " +
          "deleteWhere(Column)")))
      .reduceOption(_ && _).getOrElse(lit(true))
    store.withCommitRetries()(store.deleteWhere(spark, tableName, pred))
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (!writable) throw new UnsupportedOperationException(
      s"$qualified VERSION AS OF ${spec.version} is committed history — " +
        "writes go to the head (INSERT without the VERSION clause)")
    // StreamUpdateAsAppendBuilder lets streaming Update mode plan as
    // append — right by construction, since the streaming append IS
    // the keyed LWW upsert; Complete mode arrives as truncate() and
    // replaces per epoch
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.graft.StreamUpdateAsAppendBuilder {
      // append by default; INSERT OVERWRITE arrives as a true-literal
      // OverwriteByExpression, which Spark maps to truncate() on a
      // SupportsTruncate builder — the V1 fallback then receives
      // overwrite=true and replaces wholesale through the store
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        private val overwrite = overwriteAll
        /** `writeStream.toTable` — [[graft.streaming.StoreStreamWrite]]:
          * executor-staged epochs folded as LWW upserts (Append /
          * Update) or per-epoch replaces (Complete), exactly-once via
          * the epoch watermark + keyed-merge idempotence. Bucketed
          * keyed tables only: a snapshot append replay after restart
          * would duplicate rows with no key to converge on. */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          val n = store.numBuckets(tableName).getOrElse(
            throw new UnsupportedOperationException(
              s"$qualified: streaming writes need a BUCKETED keyed " +
                "table — epoch replay after a restart re-folds the " +
                "last batch, and only the keyed LWW merge makes that " +
                "a no-op; for snapshot tables use foreachBatch with " +
                "a pinned commit"))
          val keys = store.keyColumns(tableName).getOrElse(
            throw new IllegalStateException(
              s"table $tableName has no _KEYS stamp — streaming " +
                "writes need the key columns; re-stamp via one " +
                "replaceBucketed"))
          new graft.streaming.StoreStreamWrite(store, tableName,
            info.schema(), info.queryId(), overwrite, keys, n)
        }
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                ignoredOverwrite: Boolean): Unit = {
              val s = data.sparkSession
              store.withCommitRetries() {
                store.numBuckets(tableName) match {
                  case Some(n) =>
                    val keys = store.keyColumns(tableName).getOrElse(
                      throw new IllegalStateException(
                        s"table $tableName has no _KEYS stamp — SQL " +
                          "INSERT needs the key columns; re-stamp via " +
                          "one replaceBucketed"))
                    if (overwrite)
                      store.replaceBucketed(s, tableName, data, keys, n)
                    else store.upsertBucketed(s, tableName, data, keys, n)
                  case None =>
                    if (overwrite) store.commit(s, tableName, data)
                    else {
                      // pinned append: a competitor landing between
                      // the read and this commit fails the CAS and
                      // the retry re-reads — never a lost update
                      val (stored, pin) = store.readPinned(s, tableName)
                      store.commit(s, tableName, stored.unionByName(data),
                        Expect.Pinned(pin))
                    }
                }
              }
              ()
            }
          }
      }
    }
  }
}

/** The staging half of `CREATE/REPLACE TABLE … AS SELECT`: the V1
  * write lands the query result as ONE store commit —
  * [[ParquetTableStore.replaceBucketed]] when a keyed layout was
  * declared (or inherited), [[ParquetTableStore.commit]] for a
  * snapshot table — so "commit staged changes" is already done by the
  * store's own CAS the moment the write finishes (`commitStagedChanges`
  * has nothing left to do). A failure BEFORE the CAS leaves nothing
  * published (create) or the previous version live (replace);
  * `abortStagedChanges` additionally drops a table this staging
  * CREATED, so a failed CTAS never leaves a half-made table behind. */
final class StagedGraftTable(spark: SparkSession,
    store: ParquetTableStore, tableName: String, qualified: String,
    tableSchema: StructType, keys: Option[Seq[String]], buckets: Int,
    didCreate: Boolean)
  extends StagedTable with SupportsWrite {

  @volatile private var written = false

  override def name(): String = qualified
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // REPLACE TABLE … AS SELECT plans its write as a truncate; the
      // staged write is a wholesale one-commit replace either way
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              val s = data.sparkSession
              store.withCommitRetries() {
                keys match {
                  case Some(k) =>
                    store.replaceBucketed(s, tableName, data, k, buckets)
                  case None => store.commit(s, tableName, data)
                }
              }
              written = true
              ()
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit =
    if (written && didCreate) { store.dropTable(tableName); () }
}

/** Spark V2 `TableCatalog` over a [[graft.ops.ParquetTableStore]] —
  * the store's SQL face, replacing [[StoreViews]]' manual-refresh
  * session views (kept as the lightweight twin):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.mystore",
  *   "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.mystore.root", "/data/store")
  * spark.sql("SELECT … FROM mystore.corpus WHERE ts > …")
  * spark.sql("INSERT INTO mystore.corpus SELECT …")
  * }}}
  *
  * `loadTable` resolves the table's CURRENT version — so every query
  * binds the head at ANALYSIS time, no registration or refresh — and
  * returns a [[GraftTable]] whose scan plans from the `_manifest`
  * sidecar with zone-map data skipping, and whose `INSERT` lands as a
  * real store commit (CAS publish, manifest/zone-map maintenance,
  * retention — the full protocol). The `root` option re-reads the
  * LIVE session conf on each load, so repointing the catalog at
  * another store is one `conf.set`, not a session rebuild.
  *
  * DDL surface: `DROP TABLE` maps to [[ParquetTableStore.dropTable]];
  * `CREATE TABLE … AS SELECT` (and `REPLACE TABLE … AS SELECT`)
  * stage through [[StagedGraftTable]] — create-WITH-data is exactly
  * the store's create-CAS discipline, and the staged write IS the
  * atomic publish; plain CREATE/ALTER/RENAME (data-less DDL) still
  * refuse. */
final class GraftCatalog extends TableCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var initOptions: CaseInsensitiveStringMap = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options
  }

  override def name(): String = catalogName

  /** The store root resolved from the LIVE conf (catalog instances
    * are cached per session; reading the conf per call lets
    * `conf.set("spark.sql.catalog.<name>.root", …)` repoint the
    * cached instance). */
  private def storeAndSession: (ParquetTableStore, SparkSession) = {
    val spark = SparkSession.active
    val root = spark.conf.getOption(s"spark.sql.catalog.$catalogName.root")
      .orElse(Option(initOptions.get("root")))
      .getOrElse(throw new IllegalStateException(
        s"catalog $catalogName needs spark.sql.catalog.$catalogName.root"))
    val keep = spark.conf
      .getOption(s"spark.sql.catalog.$catalogName.keepVersions")
      .orElse(Option(initOptions.get("keepVersions")))
      .map(_.toInt).getOrElse(2)
    (new ParquetTableStore(root, keepVersions = keep), spark)
  }

  private def requireTopLevel(ident: Identifier): String = {
    if (ident.namespace().nonEmpty) throw new NoSuchTableException(ident)
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (store, _) = storeAndSession
    if (namespace.nonEmpty) Array.empty
    else store.tables.map(t => Identifier.of(Array.empty, t)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val t = requireTopLevel(ident)
    val (store, spark) = storeAndSession
    if (!store.exists(t)) throw new NoSuchTableException(ident)
    new GraftTable(spark, store, t, s"$catalogName.$t", store.scanSpec(t))
  }

  /** TIME TRAVEL (`SELECT … FROM <cat>.<t> VERSION AS OF <v>`): the
    * scan pins retained committed version `v` through the SAME
    * manifest-fed, zone-skipping index as a head read — and the table
    * is READ-ONLY (history is immutable; `INSERT` refuses). Pruned /
    * never-committed / orphan-ambiguous versions refuse typed via
    * [[ParquetTableStore.scanSpecAt]]'s resolution contract rather
    * than serving wrong bytes. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = requireTopLevel(ident)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException =>
          throw new UnsupportedOperationException(
            s"catalog $catalogName: VERSION AS OF takes a store version " +
              s"number (got '$version') — see versions(<table>)")
      }
    val (store, spark) = storeAndSession
    if (!store.exists(t)) throw new NoSuchTableException(ident)
    new GraftTable(spark, store, t, s"$catalogName.$t@v$v",
      store.scanSpecAt(t, Some(v)), writable = false)
  }

  /** TIME TRAVEL BY WALL-CLOCK (`SELECT … FROM <cat>.<t> TIMESTAMP AS
    * OF <ts>`): resolves to the version LIVE at `ts` via the
    * `_commit_ts` stamp [[ParquetTableStore.publish]] writes
    * immediately before each pointer CAS — a recorded commit clock,
    * never a file-mtime guess. Spark hands the timestamp in
    * MICROseconds since the epoch; stamps are millis, so the
    * resolution floors (a reader "at" 12:00:00.0005 saw the state as
    * of .000). Same read-only pinned scan as `VERSION AS OF`; a
    * timestamp before the retained window, or one landing in
    * pre-stamp history (an older store revision's versions), refuses
    * typed via [[ParquetTableStore.versionAsOf]]. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = requireTopLevel(ident)
    val (store, spark) = storeAndSession
    if (!store.exists(t)) throw new NoSuchTableException(ident)
    val v = store.versionAsOf(t, Math.floorDiv(timestamp, 1000L))
    new GraftTable(spark, store, t, s"$catalogName.$t@v$v",
      store.scanSpecAt(t, Some(v)), writable = false)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && storeAndSession._1.exists(ident.name())

  override def dropTable(ident: Identifier): Boolean =
    ident.namespace().isEmpty && storeAndSession._1.dropTable(ident.name())

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"catalog $catalogName: store tables are created by their first " +
        "commit (upsertBucketed/commit) — the create-CAS discipline SQL " +
        "DDL with no data cannot express; CREATE TABLE … AS SELECT " +
        "(create WITH data) works, as does creating programmatically " +
        "and SELECT/INSERT here")

  /** `CREATE TABLE … AS SELECT`: create-WITH-data IS the store's
    * create-CAS discipline, so CTAS stages faithfully where data-less
    * `CREATE TABLE` cannot. `TBLPROPERTIES('graft.keys'='a,b'
    * [, 'graft.buckets'='8'])` creates a keyed BUCKETED table
    * (`replaceBucketed` — LWW layout, `_KEYS` stamped, ready for
    * INSERT/streaming); without properties the table is a snapshot
    * (`commit`). `PARTITIONED BY` refuses — bucketing is declared via
    * the properties, the store owns physical layout. */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, replaceable = false, createable = true)

  /** `REPLACE TABLE … AS SELECT`: an atomic wholesale rewrite — one
    * CAS publish, history retained (the previous version stays
    * time-travelable within retention). Layout (keys/buckets) is
    * INHERITED from the existing table unless overridden via
    * `graft.*` properties. */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, replaceable = true, createable = false)

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    staged(ident, info, replaceable = true, createable = true)

  private def staged(ident: Identifier, info: TableInfo,
      replaceable: Boolean, createable: Boolean): StagedTable = {
    val t = requireTopLevel(ident)
    val (store, spark) = storeAndSession
    if (info.partitions().nonEmpty) throw new UnsupportedOperationException(
      s"catalog $catalogName: PARTITIONED BY is not supported — declare " +
        "a keyed bucketed layout via TBLPROPERTIES('graft.keys'='…'" +
        "[, 'graft.buckets'='…']); the store owns physical layout")
    val exists = store.exists(t)
    if (exists && !replaceable) throw new TableAlreadyExistsException(ident)
    if (!exists && !createable) throw new NoSuchTableException(ident)
    val props = info.properties()
    // explicit properties win; a replace inherits the live layout
    val keys = Option(props.get("graft.keys"))
      .map(_.split(',').map(_.trim).toSeq)
      .orElse(if (exists) store.keyColumns(t) else None)
    val buckets = Option(props.get("graft.buckets")).map(_.toInt)
      .orElse(if (exists) store.numBuckets(t) else None)
      .getOrElse(8)
    new StagedGraftTable(spark, store, t, s"$catalogName.$t",
      info.schema(), keys, buckets, didCreate = !exists)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"catalog $catalogName: schema evolves add-only through commits " +
        "(SchemaEvolution.align), not DDL")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"catalog $catalogName: rename is cloneTable + dropTable — an " +
        "explicit two-step, never a silent pointer move")
}
