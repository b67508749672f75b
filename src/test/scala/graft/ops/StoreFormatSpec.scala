package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The store reads exactly one on-disk version format: a `v=<K>-<suffix>`
  * pointer, and `_schema.json` + `_manifest` in every version dir. A
  * version missing a sidecar inside the plain keep window is refused
  * with one typed `IllegalStateException` on every read and write path,
  * never read by listing or schema inference; a version retention may
  * be deleting is the retryable [[ConcurrentCommitException]]. */
class StoreFormatSpec extends SparkSpec {
  import spark.implicits._

  private def rmRf(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(rmRf) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  private def entries(root: String, table: String): Seq[String] = {
    val s = Files.list(Paths.get(root, table))
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  private def headDir(root: String, table: String): Path =
    Paths.get(root, table, new String(
      Files.readAllBytes(Paths.get(root, table, "_CURRENT"))).trim)

  private def versionDir(root: String, table: String, v: Long): Path =
    Paths.get(root, table, entries(root, table)
      .find(_.startsWith(s"v=$v-")).get)

  /** `body` raises the typed refusal itself (not a subclass, not the
    * retryable conflict) naming the table, the version and the missing
    * sidecar; any rows it would have returned are never produced. */
  private def refused(table: String, version: Long, sidecar: String)(
      body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val ise = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .find(_.getClass == classOf[IllegalStateException])
      .getOrElse(fail(s"expected the typed refusal, got $e", e))
    val m = ise.getMessage
    assert(m.contains(s"table $table") && m.contains(s"version $version") &&
      m.contains(sidecar) && m.contains("rebuild the table"), m)
  }

  private var catalogs = 0

  /** A fresh catalog over `root` (its own store, so no cached sidecar). */
  private def catalogOver(root: String): String = {
    catalogs += 1
    val name = s"fmtcat$catalogs"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  for (sidecar <- Seq("_schema.json", "_manifest")) {
    test(s"bucketed table whose head lacks $sidecar: every path refuses typed") {
      val root = tmpDir("fmt-bucketed")
      val store = new ParquetTableStore(root)
      store.upsertBucketed(spark, "t",
        (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"),
        numBuckets = 4)
      store.upsertBucketed(spark, "t", Seq((1L, "x")).toDF("id", "v"),
        Seq("id"))
      assert(store.read(spark, "t").count() == 40)
      rmRf(headDir(root, "t").resolve(sidecar))
      store.invalidateSidecars()
      val before = entries(root, "t")
      def noRows(df: => DataFrame): Unit = refused("t", 1, sidecar)(df.collect())
      noRows(store.read(spark, "t"))
      noRows(store.readBucketsOf(spark, "t", Seq(1L).toDF("id"))._1)
      noRows(store.upsertBucketed(spark, "t", Seq((2L, "y")).toDF("id", "v"),
        Seq("id"))._1)
      noRows(store.appendBucketed(spark, "t", Seq((99L, "z")).toDF("id", "v"),
        Seq("id")))
      refused("t", 1, sidecar)(store.compactBuckets(spark, "t",
        maxFilesPerBucket = 1))
      refused("t", 1, sidecar)(store.fileStats(spark, "t"))
      noRows(store.changesBetween(spark, "t", Seq("id"), 0L, 1L))
      val cat = catalogOver(root)
      noRows(spark.sql(s"SELECT * FROM $cat.t WHERE id = 1"))
      // nothing was published and no staging dir was left behind
      assert(store.currentVersion("t").contains(1L))
      assert(entries(root, "t") == before)
    }

    test(s"snapshot table whose head lacks $sidecar: every path refuses typed") {
      val root = tmpDir("fmt-snapshot")
      val store = new ParquetTableStore(root)
      store.commit(spark, "s", (1 to 10).map(i => (i, s"a$i")).toDF("k", "v"))
      store.commit(spark, "s", (1 to 12).map(i => (i, s"b$i")).toDF("k", "v"))
      rmRf(headDir(root, "s").resolve(sidecar))
      store.invalidateSidecars()
      def noRows(df: => DataFrame): Unit = refused("s", 1, sidecar)(df.collect())
      noRows(store.read(spark, "s"))
      noRows(store.readPinned(spark, "s")._1)
      noRows(store.upsert(spark, "s", Seq((1, "c")).toDF("k", "v"), Seq("k")))
      refused("s", 1, sidecar)(store.fileStats(spark, "s"))
      noRows(store.changesBetween(spark, "s", Seq("k"), 0L, 1L))
      val cat = catalogOver(root)
      noRows(spark.sql(s"SELECT * FROM $cat.s"))
      assert(store.currentVersion("s").contains(1L))
    }
  }

  test("a bare-number _CURRENT (the older pointer form) is refused typed") {
    val root = tmpDir("fmt-pointer")
    val store = new ParquetTableStore(root)
    store.commit(spark, "t", Seq((1, "a")).toDF("k", "v"))
    // the older layout: an un-suffixed v=0 dir named by a bare number
    Files.move(versionDir(root, "t", 0), Paths.get(root, "t", "v=0"))
    Files.write(Paths.get(root, "t", "_CURRENT"), "0".getBytes)
    store.invalidateSidecars()
    for (call <- Seq[() => Any](
        () => store.read(spark, "t").collect(),
        () => store.currentVersion("t"),
        () => store.commit(spark, "t", Seq((2, "b")).toDF("k", "v")))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getClass == classOf[IllegalStateException])
      assert(e.getMessage.contains("table t") &&
        e.getMessage.contains("_CURRENT") &&
        e.getMessage.contains("rebuild the table"), e.getMessage)
    }
  }

  test("a cursor-kept version past the keep window that lost a sidecar is the retryable conflict") {
    // prune deletes a version tree bottom-up: a version at or below
    // head - keepVersions can be seen without its _manifest (or
    // _schema.json) while its dir still exists. That is a prune in
    // progress, never a partial listing and never the format refusal.
    for (sidecar <- Seq("_manifest", "_schema.json")) {
      val root = tmpDir("fmt-midprune")
      val store = new ParquetTableStore(root, keepVersions = 1)
      store.registerCursor("t", "keeper", 0L)
      store.upsertBucketed(spark, "t",
        (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"),
        numBuckets = 2) // v0, kept alive by the cursor
      store.upsertBucketed(spark, "t", Seq((1L, "x")).toDF("id", "v"),
        Seq("id")) // v1 = head; v0 <= head - keepVersions
      assert(store.versions("t") == Seq(0L, 1L))
      assert(store.readVersion(spark, "t", 0L).count() == 20)
      rmRf(versionDir(root, "t", 0).resolve(sidecar))
      store.invalidateSidecars()
      intercept[ConcurrentCommitException](
        store.readVersion(spark, "t", 0L).collect())
      intercept[ConcurrentCommitException](
        store.readBucketsOf(spark, "t", Seq(1L).toDF("id"), 0L).collect())
      // the head is untouched and still reads
      assert(store.read(spark, "t").count() == 20)
    }
  }
}
