package graft

import org.apache.spark.sql.functions._

/** The `spark.table(name)` seam (Tables Scaladoc) actually exercised:
  * views registered from the same parquet must serve identical
  * results AND identical scan properties (pushdown/pruning) as the
  * path loaders, so swapping in a metastore changes nothing else. */
class CatalogSeamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("catalog-backed reads == path reads, row for row") {
    Tables.registerViews(spark, dir)
    for (t <- Tables.all) {
      val byPath = if (t == "events") Tables.events(spark, dir)
        else Tables.load(spark, dir, t)
      val byCat = Tables.fromCatalog(spark, t)
      assert(byCat.schema == byPath.schema, s"$t schema drift through catalog")
      assert(byCat.exceptAll(byPath).isEmpty && byPath.exceptAll(byCat).isEmpty,
        s"$t contents drift through catalog")
    }
  }

  test("spark.sql over registered views runs a catalog query end-to-end") {
    Tables.registerViews(spark, dir)
    val viaSql = spark.sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    val viaApi = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 1000)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
    assert(viaSql.collect().toSeq == viaApi.collect().toSeq)
  }

  test("pushdown and pruning survive the catalog path") {
    Tables.registerViews(spark, dir)
    val plan = Tables.fromCatalog(spark, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"),
      s"filter not pushed through the catalog seam:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"),
      s"columns not pruned through the catalog seam:\n$plan")
  }

  test("store views: SQL ≡ store.read, manifest-fed plan, pushdown intact, refresh-per-version") {
    import spark.implicits._
    val store = new graft.ops.ParquetTableStore(tmpDir("sql-store"))
    store.upsertBucketed(spark,
      "docs", (1 to 300).map(i => (i.toLong, s"text $i", i % 7))
        .toDF("id", "body", "grp"), Seq("id"), numBuckets = 4)
    graft.sources.StoreViews.register(spark, store, prefix = "g")
    // parity: the SQL face serves exactly the programmatic read
    val viaSql = spark.sql("SELECT id, body, grp FROM g_docs")
    val viaApi = store.read(spark, "docs").select("id", "body", "grp")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    // the view's scan is the manifest-fed index (no listing) AND
    // keeps parquet pushdown + column pruning
    val q = spark.sql("SELECT id FROM g_docs WHERE grp = 3")
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty &&
      scans.forall(_.relation.location
        .isInstanceOf[graft.sources.ManifestFileIndex]),
      "store view did not plan through ManifestFileIndex")
    val ptxt = q.queryExecution.executedPlan.toString
    // (grp is non-nullable here, so no IsNotNull conjunct appears)
    assert(ptxt.contains("PushedFilters: [EqualTo(grp,3)"),
      s"filter not pushed through the store view:\n$ptxt")
    assert(ptxt.contains("ReadSchema: struct<id:bigint,grp:int>"),
      s"columns not pruned through the store view:\n$ptxt")
    // version semantics: the view binds the registered version
    // (consistent snapshot) until re-registered
    store.upsertBucketed(spark, "docs",
      Seq((9999L, "late", 0)).toDF("id", "body", "grp"), Seq("id"))
    assert(spark.sql("SELECT count(*) FROM g_docs").head.getLong(0) == 300L)
    graft.sources.StoreViews.register(spark, store, prefix = "g")
    assert(spark.sql("SELECT count(*) FROM g_docs").head.getLong(0) == 301L)
    // group registration: the marker's consistent vector, never heads
    store.commit(spark, "stats", Seq((301L, "c2")).toDF("n", "tag"))
    store.withCommitRetries()(store.commitGroup(
      Map("docs" -> store.currentVersion("docs").get,
        "stats" -> store.currentVersion("stats").get),
      store.groupPin("pair")))
    store.upsertBucketed(spark, "docs",
      Seq((10000L, "post-marker", 0)).toDF("id", "body", "grp"), Seq("id"))
    graft.sources.StoreViews.registerGroup(spark, store, "pair",
      prefix = "gp")
    assert(spark.sql("SELECT count(*) FROM gp_docs").head.getLong(0) == 301L,
      "group view leaked a post-marker commit — mixed vector")
    assert(spark.sql("SELECT tag FROM gp_stats").head.getString(0) == "c2")
  }

  test("V2 catalog: analysis-time version, manifest-fed scan, INSERT commits") {
    import spark.implicits._
    val root = tmpDir("v2cat-store")
    val store = new graft.ops.ParquetTableStore(root)
    store.declareZoneColumns("docs", Seq("grp"))
    store.upsertBucketed(spark,
      "docs", (1 to 300).map(i => (i.toLong, s"text $i", i % 7))
        .toDF("id", "body", "grp"), Seq("id"), numBuckets = 4)
    spark.conf.set("spark.sql.catalog.g16cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g16cat.root", root)
    // parity: the catalog serves exactly the programmatic read — the
    // catalog face is nullable-RELAXED (streaming inputs arrive
    // forced nullable-up and output resolution refuses the narrowing
    // cast against a strict schema), so the pin compares modulo
    // nullability: parquet bytes cannot tell the forms apart
    val viaSql = spark.sql("SELECT id, body, grp FROM g16cat.docs")
    val viaApi = store.read(spark, "docs").select("id", "body", "grp")
    assert(viaSql.schema == graft.ops.SchemaEvolution.relax(viaApi.schema),
      "catalog schema drift")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    // the catalog scan plans through the manifest-fed index — no
    // directory listing — with pushdown + pruning intact
    val q = spark.sql("SELECT id FROM g16cat.docs WHERE grp = 3")
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScan under the V2 catalog read")
    val pScan = scans.head.scan
      .asInstanceOf[org.apache.spark.sql.graft.StreamCapableScan].inner
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    assert(pScan.fileIndex.isInstanceOf[graft.sources.ManifestV2FileIndex],
      "catalog scan did not plan through the manifest-fed index")
    val ptxt = q.queryExecution.executedPlan.toString
    assert(ptxt.contains("PushedFilters: [EqualTo(grp,3)") ||
      ptxt.contains("PushedFilters: [IsNotNull(grp), EqualTo(grp,3)"),
      s"filter not pushed through the V2 catalog:\n$ptxt")
    assert(ptxt.contains("ReadSchema: struct<id:bigint,grp:int>") ||
      ptxt.contains("ReadSchema: struct<id:bigint>"),
      s"columns not pruned through the V2 catalog:\n$ptxt")
    // zone-map data skipping applies INSIDE the catalog scan: grp is
    // the declared zone column, so an out-of-range predicate keeps
    // zero files at plan time
    val skipped = spark.sql("SELECT id FROM g16cat.docs WHERE grp = 99")
    val skScan = skipped.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(skScan.inputRDD.partitions.length == 0 ||
      skipped.count() == 0L) // zero files kept (or trivially empty)
    assert(skipped.count() == 0L)
    // ANALYSIS-TIME version resolution: a commit is visible to the
    // very next SQL query — no registration, no refresh
    store.upsertBucketed(spark, "docs",
      Seq((9999L, "late", 3)).toDF("id", "body", "grp"), Seq("id"))
    assert(spark.sql("SELECT count(*) FROM g16cat.docs").head.getLong(0)
      == 301L, "catalog read did not bind the CURRENT version")
    // INSERT INTO lands as a real store commit: version advances,
    // content merges LWW on the stamped keys, manifest maintained
    val vBefore = store.currentVersion("docs").get
    spark.sql(
      "INSERT INTO g16cat.docs VALUES (10000, 'sql-insert', 3), " +
        "(1, 'replaced-by-sql', 0)")
    assert(store.currentVersion("docs").get == vBefore + 1,
      "INSERT did not publish a store version")
    val after = store.read(spark, "docs")
    assert(after.count() == 302L)
    assert(after.filter(col("id") === 1L).head.getString(1)
      == "replaced-by-sql", "INSERT did not LWW-merge on the stamped keys")
    assert(spark.sql("SELECT body FROM g16cat.docs WHERE id = 10000")
      .head.getString(0) == "sql-insert")
    // the SQL write kept the store invariants: manifest-planned read
    // (u20's contract) still serves every row
    assert(store.read(spark, "docs").count() ==
      store.readLegacy(spark, "docs").count())
    // catalog DDL surface: DROP works, CREATE/ALTER/RENAME refuse
    assert(spark.sessionState.catalogManager.catalog("g16cat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .tableExists(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "docs")))
    intercept[UnsupportedOperationException](
      spark.sql("CREATE TABLE g16cat.fresh (id BIGINT) USING parquet"))
    // snapshot-table INSERT: pinned append (no keys stamp needed)
    store.commit(spark, "stats", Seq((1L, "a")).toDF("n", "tag"))
    spark.sql("INSERT INTO g16cat.stats VALUES (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM g16cat.stats").head.getLong(0)
      == 2L)
    // INSERT OVERWRITE replaces wholesale through the store protocol
    spark.sql("INSERT OVERWRITE g16cat.stats VALUES (7, 'only')")
    assert(spark.sql("SELECT n, tag FROM g16cat.stats").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) == Seq((7L, "only")))
  }

  test("V2 catalog DELETE: row-level delete is a store commit, refusals exact") {
    import spark.implicits._
    val root = tmpDir("v2cat-del")
    val store = new graft.ops.ParquetTableStore(root)
    store.upsertBucketed(spark, "docs",
      (1 to 200).map(i =>
        (i.toLong, if (i % 10 == 0) null else s"t$i", i % 5))
        .toDF("id", "body", "grp"), Seq("id"), numBuckets = 4)
    spark.conf.set("spark.sql.catalog.dcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dcat.root", root)
    val v0 = store.currentVersion("docs").get
    spark.sql("DELETE FROM dcat.docs WHERE grp = 2 AND id <= 100")
    assert(store.currentVersion("docs").get == v0 + 1,
      "DELETE did not publish a store version")
    val expectGone = (1 to 100).count(_ % 5 == 2)
    assert(store.read(spark, "docs").count() == 200L - expectGone)
    assert(store.read(spark, "docs")
      .filter(col("grp") === 2 && col("id") <= 100).count() == 0L)
    // SQL semantics: a NULL predicate keeps the row (every i%10==0
    // body is null — none may vanish on a body comparison), and a
    // no-match DELETE is a version no-op, never churn
    val nullBodies = store.read(spark, "docs")
      .filter(col("body").isNull).count()
    spark.sql("DELETE FROM dcat.docs WHERE body = 'matches-nothing'")
    assert(store.read(spark, "docs")
      .filter(col("body").isNull).count() == nullBodies,
      "NULL-predicate rows were deleted — SQL DELETE semantics broken")
    assert(store.currentVersion("docs").get == v0 + 1,
      "no-match DELETE churned a version")
    // an untranslatable predicate refuses the WHOLE statement and
    // deletes nothing — never an approximate delete
    val before = store.read(spark, "docs").count()
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("DELETE FROM dcat.docs WHERE id % 2 = 0"))
    assert(store.read(spark, "docs").count() == before,
      "refused DELETE still removed rows")
    // DELETE with no WHERE = truncate through the same CAS protocol;
    // the emptied table stays readable under its canonical schema
    spark.sql("DELETE FROM dcat.docs")
    assert(spark.sql("SELECT count(*) FROM dcat.docs").head.getLong(0) == 0L)
    assert(store.read(spark, "docs").columns.toSeq ==
      Seq("id", "body", "grp"))
  }

  test("V2 catalog time travel: VERSION AS OF pins history, refusals typed") {
    import spark.implicits._
    val root = tmpDir("v2cat-tt")
    val store = new graft.ops.ParquetTableStore(root, keepVersions = 4)
    store.declareZoneColumns("docs", Seq("grp"))
    val (_, v1) = store.upsertBucketed(spark,
      "docs", (1 to 300).map(i => (i.toLong, s"text $i", i % 7))
        .toDF("id", "body", "grp"), Seq("id"), numBuckets = 4)
    store.upsertBucketed(spark, "docs",
      (1 to 300).filter(_ % 3 == 0)
        .map(i => (i.toLong, "rewritten", i % 7))
        .toDF("id", "body", "grp"), Seq("id"))
    spark.conf.set("spark.sql.catalog.ttcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ttcat.root", root)
    // the pinned read answers version-1 content exactly; the head
    // read (no VERSION clause) sees the rewrite
    assert(spark.sql(
      s"SELECT count(*) FROM ttcat.docs VERSION AS OF $v1 " +
        "WHERE body = 'rewritten'").head.getLong(0) == 0L,
      "time-travel read leaked the later version")
    assert(spark.sql(
      "SELECT count(*) FROM ttcat.docs WHERE body = 'rewritten'")
      .head.getLong(0) == 100L, "head read does not see the rewrite")
    val pinned = spark.sql(
      s"SELECT id, body, grp FROM ttcat.docs VERSION AS OF $v1")
    assert(pinned.count() == 300L)
    val v1Api = store.readVersion(spark, "docs", v1)
      .select("id", "body", "grp")
    assert(pinned.exceptAll(v1Api).isEmpty && v1Api.exceptAll(pinned).isEmpty,
      "VERSION AS OF content drifts from readVersion")
    // the pinned scan is the SAME manifest-fed zone-skipping index:
    // an out-of-range zone predicate keeps zero files at plan time
    val q = spark.sql(
      s"SELECT id FROM ttcat.docs VERSION AS OF $v1 WHERE grp = 99")
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    assert(scan.scan
      .asInstanceOf[org.apache.spark.sql.graft.StreamCapableScan].inner
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
      .fileIndex.isInstanceOf[graft.sources.ManifestV2FileIndex],
      "time-travel scan did not plan through the manifest-fed index")
    assert(scan.inputRDD.partitions.isEmpty && q.count() == 0L,
      "zone-map skip did not apply inside the time-travel scan")
    // history is read-only: the pinned table offers no write surface
    val cat = spark.sessionState.catalogManager.catalog("ttcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, "docs")
    val ttTable = cat.loadTable(ident, v1.toString)
    assert(!ttTable.capabilities().contains(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE),
      "time-travel table claims a write capability")
    intercept[UnsupportedOperationException](
      ttTable.asInstanceOf[graft.sources.GraftTable].newWriteBuilder(null))
    // refusals are typed: above-head / pruned versions, non-numeric
    // versions, and TIMESTAMP AS OF before the retained window (the
    // version live then is pruned space — serving the oldest survivor
    // would silently show a later state than asked for)
    intercept[graft.ops.RetentionLostException](
      cat.loadTable(ident, "9999"))
    intercept[UnsupportedOperationException](cat.loadTable(ident, "tuesday"))
    intercept[graft.ops.RetentionLostException](
      spark.sql("SELECT * FROM ttcat.docs TIMESTAMP AS OF '2020-01-01'")
        .collect())
    val tightRoot = tmpDir("v2cat-tt2")
    val tight = new graft.ops.ParquetTableStore(tightRoot, keepVersions = 1)
    val (_, w1) = tight.upsertBucketed(spark, "t",
      Seq((1L, "a")).toDF("id", "b"), Seq("id"), numBuckets = 2)
    tight.upsertBucketed(spark, "t", Seq((2L, "b")).toDF("id", "b"),
      Seq("id"))
    spark.conf.set("spark.sql.catalog.ttcat2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ttcat2.root", tightRoot)
    spark.conf.set("spark.sql.catalog.ttcat2.keepVersions", "1")
    val cat2 = spark.sessionState.catalogManager.catalog("ttcat2")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    intercept[graft.ops.RetentionLostException](cat2.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "t"),
      w1.toString))
  }

  test("V2 catalog TIMESTAMP AS OF: commit stamps resolve wall-clock reads") {
    import spark.implicits._
    val root = tmpDir("v2cat-ts")
    val store = new graft.ops.ParquetTableStore(root, keepVersions = 4)
    val (_, v1) = store.upsertBucketed(spark, "docs",
      (1 to 100).map(i => (i.toLong, s"text $i")).toDF("id", "body"),
      Seq("id"), numBuckets = 2)
    Thread.sleep(5) // stamps are millis; keep v2's stamp strictly later
    store.upsertBucketed(spark, "docs",
      Seq((1L, "rewritten")).toDF("id", "body"), Seq("id"))
    val ts1 = store.commitTimestamp("docs", v1).get
    val ts2 = store.commitTimestamp("docs", v1 + 1).get
    assert(ts2 > ts1, "publish stamps are not monotone")
    spark.conf.set("spark.sql.catalog.tscat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tscat.root", root)
    def fmt(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    // at version 1's own stamp: version-1 content (v2 is strictly later)
    assert(spark.sql(
      s"SELECT body FROM tscat.docs TIMESTAMP AS OF '${fmt(ts1)}' " +
        "WHERE id = 1").head.getString(0) == "text 1",
      "read at v1's stamp did not pin v1")
    // micros floor: half a millisecond past v1's stamp still reads v1
    // (stamps are millis — the reader at .0005 last saw the .000 state)
    assert(spark.sql(
      s"SELECT body FROM tscat.docs TIMESTAMP AS OF '${fmt(ts1)}500' " +
        "WHERE id = 1").head.getString(0) == "text 1",
      "sub-millisecond timestamp did not floor to v1's stamp")
    // at version 2's stamp and beyond: the head state
    assert(spark.sql(
      s"SELECT body FROM tscat.docs TIMESTAMP AS OF '${fmt(ts2)}' " +
        "WHERE id = 1").head.getString(0) == "rewritten",
      "read at v2's stamp did not see the rewrite")
    // the pinned table is read-only history, like VERSION AS OF
    val cat = spark.sessionState.catalogManager.catalog("tscat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, "docs")
    assert(!cat.loadTable(ident, ts1 * 1000L).capabilities().contains(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE),
      "TIMESTAMP AS OF table claims a write capability")
    // pre-stamp history refuses typed (never an mtime guess): strip
    // v1's stamp — a timestamp below every KNOWN stamp now lands in
    // unstamped territory instead of cleanly out of retention
    import scala.jdk.CollectionConverters._
    val s0 = java.nio.file.Files.list(java.nio.file.Paths.get(root, "docs"))
    val v1dir = try s0.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v=") &&
        n.stripPrefix("v=").takeWhile(_ != '-') == v1.toString).toList.head
      finally s0.close()
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "docs", v1dir, "_commit_ts"))
    val e = intercept[IllegalStateException](
      spark.sql(
        s"SELECT body FROM tscat.docs TIMESTAMP AS OF '${fmt(ts1)}' " +
          "WHERE id = 1").collect())
    assert(e.getMessage.contains("predate commit-timestamp stamps"),
      s"unexpected refusal: ${e.getMessage}")
  }

  test("V2 catalog CTAS: atomic create-with-data, refusals, failure cleanup") {
    import spark.implicits._
    val root = tmpDir("v2cat-ctas")
    val store = new graft.ops.ParquetTableStore(root)
    store.upsertBucketed(spark, "src",
      (1 to 100).map(i => (i.toLong, s"text $i")).toDF("id", "body"),
      Seq("id"), numBuckets = 4)
    spark.conf.set("spark.sql.catalog.ctcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ctcat.root", root)
    // snapshot CTAS (no properties): one commit, content exact
    spark.sql("""CREATE TABLE ctcat.snap AS
                 SELECT id, body FROM ctcat.src WHERE id <= 10""")
    assert(store.exists("snap") && store.numBuckets("snap").isEmpty)
    assert(spark.sql("SELECT count(*) FROM ctcat.snap").head.getLong(0) == 10L)
    // keyed CTAS: bucketed layout ready for INSERT/streaming
    spark.sql("""CREATE TABLE ctcat.keyed
                 TBLPROPERTIES('graft.keys'='id','graft.buckets'='2')
                 AS SELECT id, body FROM ctcat.src WHERE id > 90""")
    assert(store.keyColumns("keyed").contains(Seq("id")) &&
      store.numBuckets("keyed").contains(2))
    spark.sql("INSERT INTO ctcat.keyed VALUES (91, 'rewritten')")
    assert(spark.sql(
      "SELECT body FROM ctcat.keyed WHERE id = 91").head.getString(0)
      == "rewritten", "CTAS table did not take a keyed LWW INSERT")
    // collision / missing / layout refusals are typed
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      spark.sql("CREATE TABLE ctcat.snap AS SELECT * FROM ctcat.src"))
    intercept[Exception](
      spark.sql("REPLACE TABLE ctcat.missing AS SELECT * FROM ctcat.src"))
    intercept[UnsupportedOperationException](
      spark.sql("""CREATE TABLE ctcat.part PARTITIONED BY (id)
                   AS SELECT * FROM ctcat.src"""))
    // data-less CREATE still refuses (the create-CAS needs data)
    intercept[UnsupportedOperationException](
      spark.sql("CREATE TABLE ctcat.empty (id BIGINT, body STRING)"))
    // a CTAS whose query fails mid-write leaves NOTHING behind
    intercept[Exception](
      spark.sql("""CREATE TABLE ctcat.bad AS
                   SELECT id, raise_error('boom') AS body FROM ctcat.src"""))
    assert(!store.exists("bad"), "failed CTAS left a half-made table")
    assert(spark.sql("SHOW TABLES IN ctcat").collect()
      .map(_.getString(1)).toSet == Set("src", "snap", "keyed"),
      "catalog listing drifted after the refused/failed DDL")
  }
}
