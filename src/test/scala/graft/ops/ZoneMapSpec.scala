package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zone maps on BUCKETED tables ([[ParquetTableStore.declareZoneColumns]]
  * + the per-write maintenance): the sidecar must stay EXACTLY equal to
  * a from-scratch recompute over the live version's files through any
  * chain of appends, upserts, and compactions — carried rows for
  * hard-linked files, fresh stats for rewritten ones — and the pruned
  * read must cut files while never losing rows. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  /** The live version dir (reading _CURRENT like the store does). */
  private def versionDir(root: String, table: String): String = {
    val p = new String(Files.readAllBytes(
      Paths.get(root, table, "_CURRENT"))).trim
    Paths.get(root, table, p).toString
  }

  /** Ground truth: per-file min/max recomputed from the files
    * actually in the live version. */
  private def recompute(vdir: String,
      c: String): Map[String, (Long, Long)] =
    spark.read.parquet(vdir)
      .groupBy(regexp_extract(input_file_name(),
        "((?:__kb=[^/]+/)?[^/]+)$", 1).as("file"))
      .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap

  private def storedMap(vdir: String,
      c: String): Map[String, (Long, Long)] =
    spark.read.parquet(s"$vdir/_zonemap")
      .select(col("file"), col(s"min_$c"), col(s"max_$c"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap

  test("append/upsert/compact chain: sidecar ≡ recompute, pruned read cuts files, rows never lost") {
    val root = tmpDir("zm-bucketed")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.declareZoneColumns("ev", Seq("v"))
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i * 10)).toDF("id", "v")

    // three log-structured appends with disjoint, ordered value
    // ranges — the time-correlated shape zone maps exist for
    store.appendBucketed(spark, "ev", batch(0, 100), Seq("id"),
      numBuckets = 4)
    store.appendBucketed(spark, "ev", batch(100, 200), Seq("id"))
    store.appendBucketed(spark, "ev", batch(200, 300), Seq("id"))
    var vdir = versionDir(root, "ev")
    assert(storedMap(vdir, "v") == recompute(vdir, "v"))
    // a range inside batch 1's values touches only its files
    val (kept1, total1) = store.zoneMapFileCounts(spark, "ev", "v",
      100L, 500L)
    assert(kept1 < total1 && total1 >= 12, s"kept $kept1 of $total1")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(store.readZonePruned(spark, "ev", "v", 100L, 500L)) ==
      rows(store.read(spark, "ev").filter(col("v").between(100L, 500L))))

    // an UPSERT rewrites the touched buckets: their rows must
    // recompute (v changes!) while untouched buckets carry
    store.upsertBucketed(spark, "ev",
      (0L until 50L).map(i => (i, 100000L + i)).toDF("id", "v"),
      Seq("id"))
    vdir = versionDir(root, "ev")
    assert(storedMap(vdir, "v") == recompute(vdir, "v"))
    // the moved rows are FOUND at their new values (stale carried
    // stats would lose them — the failure this equality prevents)
    assert(store.readZonePruned(spark, "ev", "v", 100000L, 100049L)
      .count() == 50)

    // compaction rewrites fragmented buckets down to one file; the
    // map follows and content is untouched
    val rewritten = store.compactBuckets(spark, "ev",
      maxFilesPerBucket = 1)
    assert(rewritten.nonEmpty)
    vdir = versionDir(root, "ev")
    assert(storedMap(vdir, "v") == recompute(vdir, "v"))
    assert(rows(store.readZonePruned(spark, "ev", "v", 100L, 500L)) ==
      rows(store.read(spark, "ev").filter(col("v").between(100L, 500L))))
  }

  test("backfill: declaring on an existing table builds the full map on the next write") {
    val root = tmpDir("zm-backfill")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.appendBucketed(spark, "ev",
      (0L until 100L).map(i => (i, i)).toDF("id", "v"), Seq("id"),
      numBuckets = 4)
    // no declaration yet → no map → the pruned read refuses loudly
    val ex = intercept[IllegalStateException] {
      store.readZonePruned(spark, "ev", "v", 0L, 10L)
    }
    assert(ex.getMessage.contains("zone map"), ex.getMessage)
    store.declareZoneColumns("ev", Seq("v"))
    // next write backfills the WHOLE map (old files included)
    store.appendBucketed(spark, "ev",
      (100L until 120L).map(i => (i, i)).toDF("id", "v"), Seq("id"))
    val vdir = versionDir(root, "ev")
    assert(storedMap(vdir, "v") == recompute(vdir, "v"))
    assert(store.readZonePruned(spark, "ev", "v", 0L, 119L).count() == 120)
    // first writer wins the declaration (the _BUCKETS rule)
    assert(store.declareZoneColumns("ev", Seq("other")) == Seq("v"))
  }

  test("schema evolution on a declared table: the map follows, old files' stats stay valid") {
    val root = tmpDir("zm-evolve")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.declareZoneColumns("ev", Seq("v"))
    store.upsertBucketed(spark, "ev",
      (0L until 100L).map(i => (i, i)).toDF("id", "v"), Seq("id"),
      numBuckets = 4)
    // add-only evolution: the incoming delta grows a column the
    // declared set doesn't cover — maintenance must keep working
    // (declared cols exist in every file; the new column is simply
    // not mapped)
    store.upsertBucketed(spark, "ev",
      (100L until 120L).map(i => (i, i, s"w$i")).toDF("id", "v", "w"),
      Seq("id"))
    val vdir = versionDir(root, "ev")
    assert(storedMap(vdir, "v") == recompute(vdir, "v"))
    val pruned = store.readZonePruned(spark, "ev", "v", 90L, 110L)
    assert(pruned.count() == 21)
    // evolved rows carry their new column; pre-evolution rows read it
    // as null through the pruned path exactly like the plain read
    assert(pruned.filter(col("w").isNotNull).count() == 11)
    assert(pruned.filter(col("w").isNull).count() == 10)
  }

  test("snapshot commits on a declared table maintain the map too") {
    val root = tmpDir("zm-snapshot")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.declareZoneColumns("t", Seq("v"))
    store.commit(spark, "t",
      (0L until 100L).map(i => (i, i)).toDF("id", "v"))
    val (k, t) = store.zoneMapFileCounts(spark, "t", "v", 0L, 10L)
    assert(k <= t && t >= 1)
    assert(store.readZonePruned(spark, "t", "v", 0L, 10L).count() == 11)
    // a plain re-commit keeps the map current
    store.commit(spark, "t",
      (0L until 100L).map(i => (i, i + 1000)).toDF("id", "v"))
    assert(store.readZonePruned(spark, "t", "v", 0L, 10L).count() == 0)
    assert(store.readZonePruned(spark, "t", "v", 1000L, 1010L).count() == 11)
  }

  test("transparent data skipping: a plain WHERE over read()/SQL view cuts files like readZonePruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = new ParquetTableStore(tmpDir("store-skip"),
      keepVersions = 10)
    store.declareZoneColumns("t", Seq("k"))
    // three ranged appends: log-structured, so each append's files
    // carry narrow disjoint k ranges — the shape skipping exists for
    store.appendBucketed(spark, "t",
      (1L to 100L).map(i => (i, s"a$i")).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    store.appendBucketed(spark, "t",
      (101L to 200L).map(i => (i, s"b$i")).toDF("k", "v"), Seq("k"))
    store.appendBucketed(spark, "t",
      (201L to 300L).map(i => (i, s"c$i")).toDF("k", "v"), Seq("k"))
    val (total, _) = store.fileStats(spark, "t")
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect() // metrics populate on execution
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
    }
    // programmatic read: the filter lands as dataFilters and the
    // index cuts to the middle append's files only
    val q = store.read(spark, "t").filter(col("k").between(110L, 190L))
    assert(q.count() == 81)
    val scanned = scanOf(q).metrics("numFiles").value
    assert(scanned < total && scanned <= 4,
      s"expected ≤4 of $total files after skipping, scanned $scanned")
    // the SQL view path skips identically (the u12b surface)
    graft.sources.StoreViews.register(spark, store, prefix = "zs")
    val sq = spark.sql("SELECT count(*) FROM zs_t WHERE k BETWEEN 110 AND 190")
    assert(sq.head.getLong(0) == 81L)
    // correctness never depends on the cut: an unsupported predicate
    // shape keeps every file and still answers right
    assert(store.read(spark, "t")
      .filter(org.apache.spark.sql.functions.abs(col("k")) <= 50L)
      .count() == 50)
    // IsNotNull skipping never drops a file that has values, and a
    // range over an all-null column's file prunes it (null stats)
    val (evolved, _) = store.upsertBucketed(spark, "t",
      Seq((301L, "d301", 7L)).toDF("k", "v", "extra"), Seq("k"))
    assert(evolved.filter(col("k") === 301L).head.getString(1) == "d301")
  }

  test("zone-clustered compaction: shuffled table re-skips; answers invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the cut-quality gap clustering closes: a table grown in RANDOM
    // zone-column order has every file spanning the whole range, so
    // data skipping keeps everything; plain compaction rewrites the
    // debt AS-IS and the overlap survives. clusterBy sorts each
    // bucket and slices it into tight-ranged files — the same range
    // predicate then cuts to a sliver, with answers identical.
    val store = new ParquetTableStore(tmpDir("store-zcluster"),
      keepVersions = 10)
    store.declareZoneColumns("t", Seq("ts"))
    val rnd = new scala.util.Random(7)
    // four appends, each spanning the FULL ts range (organic growth)
    for (b <- 0 until 4)
      store.appendBucketed(spark, "t",
        (0 until 2000).map { i =>
          val id = (b * 2000 + i).toLong
          (id, rnd.nextLong(100000L), s"row$id")
        }.toDF("id", "ts", "v"), Seq("id"), numBuckets = 2)
    // metric probe without a shuffle (AQE would hide the scan node)
    def scanned(): Long = {
      val df = store.read(spark, "t")
        .filter(col("ts").between(1000L, 3000L))
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
    }
    def rangeQ = store.read(spark, "t")
      .filter(col("ts").between(1000L, 3000L)).orderBy("id")
    val before = rangeQ.collect().toSeq
    val (filesBefore, _) = store.fileStats(spark, "t")
    val scannedBefore = scanned()
    assert(scannedBefore == filesBefore,
      s"test premise: shuffled growth must defeat skipping " +
        s"($scannedBefore of $filesBefore)")
    // clusterBy refuses a non-zone column loudly
    intercept[IllegalArgumentException](
      store.compactBuckets(spark, "t", maxFilesPerBucket = 1,
        clusterBy = Some("v")))
    // cluster: each bucket sorts by ts and slices into ~1000-row files
    val rewritten = store.compactBuckets(spark, "t",
      maxFilesPerBucket = 1, clusterBy = Some("ts"),
      clusterRowsPerFile = 1000L)
    assert(rewritten == Set(0, 1))
    val after = rangeQ.collect().toSeq
    assert(after == before, "clustering changed answers")
    val (filesAfter, _) = store.fileStats(spark, "t")
    val scannedAfter = scanned()
    // 2% of the ts range over ~1000-row slices: a sliver of the files
    assert(scannedAfter < filesAfter / 2,
      s"clustering did not tighten the cut: $scannedAfter of $filesAfter")
    // the sidecar zone map stayed exact through the clustered rewrite
    // (the maintain-vs-recompute invariant the chain test pins)
    val full = store.read(spark, "t").orderBy("id").collect().toSeq
    assert(full.size == 8000)
  }
}
