package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec

class ParquetTableStoreSpec extends SparkSpec {

  private def inodesUnder(dir: Path): Map[String, Long] =
    Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      // data files only: metadata sidecars (_zonemap, _manifest) are
      // per-version artifacts, rewritten not linked, outside the
      // link-audit contract (bucket dirs are __kb= — keep those)
      .filterNot(p => dir.relativize(p).toString.split('/')
        .exists(s => s.startsWith("_") && !s.startsWith("__kb=")))
      .map(p => dir.relativize(p).toString ->
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long])
      .toMap

  /** Version K's dir (`v=K-<writer suffix>`). */
  private def verDir(root: String, table: String, v: Long): Path =
    Files.list(Paths.get(root, table)).iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"v=$v-"))
      .toSeq.head

  test("commit/read round-trip and version bump") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store"))
    store.commit(spark, "t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(store.currentVersion("t").contains(0L))
    assert(store.read(spark, "t").count() == 2)
    store.commit(spark, "t", Seq((1, "a")).toDF("k", "v"))
    assert(store.currentVersion("t").contains(1L))
    assert(store.read(spark, "t").count() == 1)
  }

  test("commit returns the re-read frame, reusable across a later commit") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store")) // keepVersions = 2
    val (committed, _) = store.commit(spark, "t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // a SECOND commit bumps the version; the returned frame must keep
    // working because it reads the published v=0 files (which
    // keepVersions=2 retains), not the caller's lazy input plan
    store.commit(spark, "t", Seq((9, "z")).toDF("k", "v"))
    assert(committed.count() == 2)
    assert(committed.collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("upsert creates then merges with LWW semantics") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store"))
    store.upsert(spark, "videos", Seq(("v1", "old"), ("v2", "keep")).toDF("id", "t"), Seq("id"))
    store.upsert(spark, "videos", Seq(("v1", "new"), ("v3", "add")).toDF("id", "t"), Seq("id"))
    val got = store.read(spark, "videos").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("v1", "new"), ("v2", "keep"), ("v3", "add")))
  }

  test("upsert evolves the schema add-only (migrate_schema analog)") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store"))
    // reference's old 3-column playlists schema …
    store.upsert(spark, "playlists",
      Seq(("PL1", "First", "u1"), ("PL2", "Second", "u2"))
        .toDF("playlist_id", "title", "url"),
      Seq("playlist_id"))
    // … a producer that grew item_count/last_updated merges cleanly
    val incoming = Seq(("PL2", "Second v2", "u2", 10, "2026-01-01"),
      ("PL3", "Third", "u3", 5, "2026-01-02"))
      .toDF("playlist_id", "title", "url", "item_count", "last_updated")
    val out = store.upsert(spark, "playlists", incoming, Seq("playlist_id"))
    assert(out.columns.toSeq ==
      Seq("playlist_id", "title", "url", "item_count", "last_updated"))
    val byId = out.collect().map(r => r.getString(0) -> r).toMap
    assert(byId("PL1").isNullAt(3) && byId("PL1").isNullAt(4)) // old row widened
    assert(byId("PL2").getString(1) == "Second v2" && byId("PL2").getInt(3) == 10)
    assert(byId("PL3").getInt(3) == 5)
    // and an incoming frame MISSING a stored column still merges
    val out2 = store.upsert(spark, "playlists",
      Seq(("PL4", "Fourth")).toDF("playlist_id", "title"), Seq("playlist_id"))
    val pl4 = out2.collect().find(_.getString(0) == "PL4").get
    assert(pl4.isNullAt(2) && pl4.isNullAt(3))
    assert(out2.count() == 4)
  }

  test("bucketed schema evolution: the evolved column survives reads of mixed-schema versions") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store-evo"))
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    store.upsertBucketed(spark, "t", base, Seq("id"), numBuckets = 8)
    // evolve via a delta touching FEW buckets: untouched buckets keep
    // their old-schema files via hard links — the version mixes file
    // schemas, and an inferred schema (file-order dependent) could
    // silently drop the new column
    store.upsertBucketed(spark, "t",
      Seq((1L, "v1b", 42L)).toDF("id", "v", "w"), Seq("id"))
    val out = store.read(spark, "t")
    assert(out.columns.contains("w"),
      s"evolved column lost: ${out.columns.mkString(",")}")
    assert(out.filter(out("w").isNotNull).count() == 1)
    assert(out.count() == 100)
  }

  test("bucketed upsert rewrites only touched buckets; rest are hard-linked") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    assert(store.numBuckets("t").contains(8))
    val v0 = verDir(root, "t", 0)
    val before = inodesUnder(v0)
    assert(before.keys.map(_.split('/').head).toSet.size > 1, "multiple buckets expected")

    // delta: one existing key updated + one new key
    val delta = Seq(("k1", "v1-new"), ("k999", "fresh")).toDF("k", "v")
    val (out, _) = store.upsertBucketed(spark, "t", delta, Seq("k"))
    val v1 = verDir(root, "t", 1)
    val after = inodesUnder(v1)

    // merged contents = full LWW semantics
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size == 101 && got("k1") == "v1-new" && got("k999") == "fresh"
      && got("k50") == "v50")
    // the public frame never exposes the internal bucket column
    assert(!out.columns.contains("__kb"))

    // untouched bucket dirs must be the SAME inodes (hard links);
    // touched buckets must be new files
    val rewritten = after.keys.map(_.split('/').head).toSet.filter { d =>
      after.exists { case (rel, ino) =>
        rel.startsWith(d + "/") && !before.get(rel).contains(ino) }
    }
    val sharedInodes = after.filter { case (rel, ino) => before.get(rel).contains(ino) }
    assert(sharedInodes.nonEmpty, "expected hard-linked untouched buckets")
    assert(rewritten.nonEmpty && rewritten.size <= 2,
      s"delta of 2 keys must touch at most 2 buckets, saw $rewritten")

    // prune safety: enough commits to delete v=0; linked data survives
    store.upsertBucketed(spark, "t",
      Seq(("k2", "v2-new")).toDF("k", "v"), Seq("k"))
    store.upsertBucketed(spark, "t",
      Seq(("k3", "v3-new")).toDF("k", "v"), Seq("k"))
    assert(!Files.exists(v0))
    val finalGot = store.read(spark, "t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(finalGot.size == 101 && finalGot("k50") == "v50"
      && finalGot("k3") == "v3-new")
  }

  test("appendBucketed: every stored file hard-links, delta lands as new files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    val base = (1 to 100).map(i => (s"t${i % 7}", i.toLong)).toDF("term", "id")
    store.appendBucketed(spark, "idx", base, Seq("term"), numBuckets = 8,
      sortWithin = Seq("term", "id"))
    val before = inodesUnder(verDir(root, "idx", 0))

    val delta = Seq(("t1", 900L), ("zzz", 901L)).toDF("term", "id")
    val out = store.appendBucketed(spark, "idx", delta, Seq("term"),
      sortWithin = Seq("term", "id"))
    val after = inodesUnder(verDir(root, "idx", 1))

    // insert-only union: nothing merged away, nothing lost
    assert(out.count() == 102)
    assert(out.filter(col("term") === "t1").count() ==
      base.filter(col("term") === "t1").count() + 1)
    // EVERY pre-existing file must carry across as the SAME inode
    // (O(delta): nothing stored was read or rewritten) ...
    before.foreach { case (rel, ino) =>
      assert(after.get(rel).contains(ino), s"$rel was rewritten, not linked")
    }
    // ... and the delta is new files beyond them
    assert(after.size > before.size, "expected new delta part files")

    // schema mismatch is refused (no evolution on the append path)
    val e = intercept[IllegalArgumentException] {
      store.appendBucketed(spark, "idx",
        Seq(("x", 1L, "extra")).toDF("term", "id", "other"), Seq("term"))
    }
    assert(e.getMessage.contains("upsertBucketed"), e.getMessage)
  }

  test("replaceBucketed: full rewrite, adopts a snapshot table, keeps bucket count") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    // adopt: starts life as a SNAPSHOT table ...
    store.commit(spark, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(store.numBuckets("t").isEmpty)
    // ... replaceBucketed rewrites everything and stamps _BUCKETS
    store.replaceBucketed(spark, "t",
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"), numBuckets = 4)
    assert(store.numBuckets("t").contains(4))
    assert(store.read(spark, "t").count() == 50)
    // a later replace honors the BOUND count (creation-time contract),
    // and no file survives a replace (nothing links across)
    val before = inodesUnder(verDir(root, "t", 1))
    store.replaceBucketed(spark, "t",
      (1 to 10).map(i => (i.toLong, s"w$i")).toDF("id", "v"),
      Seq("id"), numBuckets = 16)
    assert(store.numBuckets("t").contains(4))
    val after = inodesUnder(verDir(root, "t", 2))
    assert(store.read(spark, "t").count() == 10)
    assert(after.forall { case (rel, ino) => !before.get(rel).contains(ino) })
    // the converted table refuses the snapshot commit path loudly
    val e = intercept[IllegalArgumentException] {
      store.commit(spark, "t", Seq((1L, "x")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("bucketed"), e.getMessage)
  }

  test("readBucketsOf prunes to the key buckets; readWithVersion pins the resolved version") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    val rows = (1 to 64).map(i => (s"term$i", i.toLong)).toDF("term", "id")
    store.appendBucketed(spark, "idx", rows, Seq("term"), numBuckets = 16)
    val (pruned, v) = store.readBucketsOf(spark, "idx",
      Seq("term3", "term17").toDF("term"))
    assert(v == 0L)
    // pruned read is a SUPERSET filter (bucket-level), never loses keys
    val got = pruned.filter(col("term").isin("term3", "term17"))
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(3L, 17L))
    // and it genuinely pruned: ≤ 2 of 16 buckets' rows (≈ 4/64 with
    // this uniform fixture; assert well under half as the safe bound)
    assert(pruned.count() < 32, s"bucket pruning read ${pruned.count()} rows")
    // DIRECTORY-level pruning, not a post-read row filter: the scan
    // node itself must carry the bucket partition filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters", 2)(1).take(120).contains("__kb"),
      s"expected a __kb partition filter on the scan:\n$plan")
    // version advances with an append and readVersioned tracks it
    store.appendBucketed(spark, "idx",
      Seq(("termX", 999L)).toDF("term", "id"), Seq("term"))
    val (all, v1) = store.readVersioned(spark, "idx")
    assert(v1 == 1L && all.count() == 65)
    // snapshot tables refuse the bucket-pruned path
    store.commit(spark, "snap", Seq((1, "a")).toDF("k", "v"))
    intercept[IllegalStateException] {
      store.readBucketsOf(spark, "snap", Seq(1).toDF("k"))
    }
  }

  test("empty bucketed create stays readable; empty append is a version no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = new ParquetTableStore(tmpDir("store-empty"))
    val none = Seq.empty[(String, Long)].toDF("term", "id")
    // an empty create must not wedge the table (a rowless partitioned
    // write has NO files, and schema inference dies forever after)
    val created = store.appendBucketed(spark, "idx", none, Seq("term"))
    assert(created.count() == 0)
    assert(created.columns.toSeq == Seq("term", "id"))
    assert(store.read(spark, "idx").count() == 0)
    // appending an empty delta onto it churns NO version ...
    store.appendBucketed(spark, "idx", none, Seq("term"))
    assert(store.currentVersion("idx").contains(0L))
    // ... and a real delta lands partitioned as usual, with the empty
    // version's root file left behind (layouts never mix)
    val grown = store.appendBucketed(spark, "idx",
      Seq(("t1", 1L), ("t2", 2L)).toDF("term", "id"), Seq("term"))
    assert(grown.collect().map(_.getLong(1)).toSet == Set(1L, 2L))
    assert(store.currentVersion("idx").contains(1L))
    val (pruned, _) = store.readBucketsOf(spark, "idx", Seq("t1").toDF("term"))
    assert(pruned.filter(col("term") === "t1").count() == 1)
    // replaceBucketed to empty keeps the table readable too
    store.replaceBucketed(spark, "idx", none, Seq("term"))
    assert(store.read(spark, "idx").count() == 0)
  }

  test("gc sweeps a non-pointed duplicate of the CURRENT version") {
    import spark.implicits._
    val root = tmpDir("store-gc-dup")
    val store = new ParquetTableStore(root)
    store.commit(spark, "t", Seq((1, "a")).toDF("k", "v")) // v0 live
    // a crashed writer left v=1 staged-but-unpublished; a later
    // writer then committed v1 — the number is now ambiguous
    val orphan = Paths.get(root, "t", "v=1-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1))
    store.commit(spark, "t", Seq((2, "b")).toDF("k", "v")) // v1 live
    intercept[IllegalStateException] {
      store.readVersion(spark, "t", 1)
    }
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 48L * 3600 * 1000))
    // the pointer names the sole winner: the duplicate sweeps and the
    // number reads again
    assert(store.gc("t") == Seq("v=1-deadbeef"))
    assert(store.readVersion(spark, "t", 1).collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  test("gc sweeps aged crash orphans only; live stagings and history survive") {
    import spark.implicits._
    val root = tmpDir("store-gc")
    val store = new ParquetTableStore(root)
    store.commit(spark, "t", Seq((1, "a")).toDF("k", "v"))
    store.commit(spark, "t", Seq((2, "b")).toDF("k", "v")) // v0 retained, v1 live
    val dir = Paths.get(root, "t")
    // manufacture the two orphan classes: a crashed writer's tmp-
    // staging and a finalized-but-never-published above-pointer dir
    val tmpOrphan = dir.resolve("tmp-v=7-deadbeef")
    val aboveOrphan = dir.resolve("v=7-deadbeef")
    Seq(tmpOrphan, aboveOrphan).foreach { p =>
      Files.createDirectories(p)
      Files.write(p.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    }
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 48L * 3600 * 1000)
    Files.setLastModifiedTime(tmpOrphan, old)
    Files.setLastModifiedTime(aboveOrphan, old)
    // a FRESH orphan (a possibly-live writer) must survive the sweep
    val fresh = dir.resolve("tmp-v=8-cafecafe")
    Files.createDirectories(fresh)

    val swept = store.gc("t")
    assert(swept.toSet == Set("tmp-v=7-deadbeef", "v=7-deadbeef"), swept)
    assert(!Files.exists(tmpOrphan) && !Files.exists(aboveOrphan))
    assert(Files.exists(fresh), "fresh staging must not be swept")
    // committed history intact: live version reads, retained one too
    assert(store.read(spark, "t").collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(store.readVersion(spark, "t", 0).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    // after the sweep, version 7 is unambiguous again for a future
    // writer; a second gc finds nothing
    assert(store.gc("t").isEmpty)
  }

  test("ObjectStoreIo profile: same semantics, copies instead of links") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new ParquetTableStore(root, io = ObjectStoreIo)
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    val v0 = verDir(root, "t", 0)
    val before = inodesUnder(v0)

    val (out, _) = store.upsertBucketed(spark, "t",
      Seq(("k1", "v1-new"), ("k999", "fresh")).toDF("k", "v"), Seq("k"))
    val after = inodesUnder(verDir(root, "t", 1))

    // identical merge semantics through the copy-fallback path …
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size == 101 && got("k1") == "v1-new" && got("k999") == "fresh"
      && got("k50") == "v50")
    // … but NO inode sharing: every v=1 file is its own object
    assert(!after.exists { case (rel, ino) => before.get(rel).contains(ino) },
      "object-store profile must not hard-link")
    // untouched buckets are still carried over byte-identically
    val carried = after.keySet intersect before.keySet
    assert(carried.nonEmpty, "untouched buckets must be carried into v=1")

    // pointer swap via in-place PUT still publishes atomically enough
    // for the single-writer contract: reads resolve the new version
    assert(store.currentVersion("t").contains(1L))
    // prune safety without links: v=0 deletion cannot strand v=1 data
    store.upsertBucketed(spark, "t", Seq(("k2", "x")).toDF("k", "v"), Seq("k"))
    store.upsertBucketed(spark, "t", Seq(("k3", "y")).toDF("k", "v"), Seq("k"))
    assert(!Files.exists(v0))
    assert(store.read(spark, "t").count() == 101)
  }

  test("old versions are pruned, current survives") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new ParquetTableStore(root, keepVersions = 2)
    (0 to 4).foreach(i => store.commit(spark, "t", Seq(i).toDF("x")))
    val dirs = Files.list(Paths.get(root, "t")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    def ver(n: String) = n.stripPrefix("v=").takeWhile(_ != '-')
    val vers = names.filter(_.startsWith("v=")).map(ver).toSet
    assert(vers == Set("3", "4"), s"expected v3+v4 only, saw $names")
    assert(store.read(spark, "t").head.getInt(0) == 4)
  }

  test("reading an uncommitted table fails cleanly") {
    val store = new ParquetTableStore(tmpDir("store"))
    intercept[IllegalStateException](store.read(spark, "nope"))
  }

  test("time travel: retained versions read back exactly, pruned refuse") {
    import spark.implicits._
    val root = tmpDir("store-tt")
    val store = new ParquetTableStore(root, keepVersions = 3)
    // commits create versions 0..3; keepVersions=3 retains 1..3
    (1 to 4).foreach(i => store.commit(spark, "t", Seq(i).toDF("x")))
    assert(store.versions("t") == Seq(1L, 2L, 3L))
    // each retained version is the snapshot as committed, not a diff
    (1 to 3).foreach { v =>
      assert(store.readVersion(spark, "t", v).head.getInt(0) == v + 1)
    }
    // the current version resolves identically through both reads
    assert(store.readVersion(spark, "t", 3).collect().toSeq ==
      store.read(spark, "t").collect().toSeq)
    // v0 fell out of the retention window: refuse, don't guess — and
    // with the TYPED refusal (RetentionLostException: permanently
    // gone, rebase) rather than a generic state error, so incremental
    // consumers can distinguish it from retryable commit conflicts
    val e = intercept[IllegalStateException](
      store.readVersion(spark, "t", 0))
    assert(e.getMessage.contains("not retained"))
    assert(e.isInstanceOf[RetentionLostException], e.getClass.getName)
  }

  test("time travel never serves an unpublished above-pointer orphan") {
    import spark.implicits._
    val root = tmpDir("store-orphan")
    val store = new ParquetTableStore(root, keepVersions = 3)
    store.commit(spark, "t", Seq(1).toDF("x"))
    // a writer finalized v=1 but crashed before publishing: the dir
    // exists, the pointer still names v=0 — that data was NEVER
    // committed and must be invisible to both listing and reads
    val src = verDir(root, "t", 0)
    val orphan = Paths.get(root, "t", "v=1-deadbeef")
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val dst = orphan.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    assert(store.versions("t") == Seq(0L))
    val e = intercept[IllegalStateException](
      store.readVersion(spark, "t", 1))
    assert(e.getMessage.contains("not retained"))
    // and a table that never existed fails with the same clean error
    val e2 = intercept[IllegalStateException](
      store.readVersion(spark, "nope", 0))
    assert(e2.getMessage.contains("not retained"))
  }

  test("time travel refuses an ambiguous version (orphaned writer dir)") {
    import spark.implicits._
    val root = tmpDir("store-amb")
    val store = new ParquetTableStore(root, keepVersions = 3)
    store.commit(spark, "t", Seq(1).toDF("x"))
    store.commit(spark, "t", Seq(2).toDF("x"))
    // simulate a writer that crashed between finalize and publish:
    // a second COMPLETE dir carrying the current version number (1)
    val src = verDir(root, "t", 1)
    val orphan = Paths.get(root, "t", "v=1-deadbeef")
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val dst = orphan.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    val e = intercept[IllegalStateException](
      store.readVersion(spark, "t", 1))
    assert(e.getMessage.contains("ambiguous"))
    // current read is pointer-resolved and unaffected
    assert(store.read(spark, "t").head.getInt(0) == 2)
  }

  test("compaction: fragmented buckets collapse to one file, rest stay linked, data exact") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new ParquetTableStore(root, keepVersions = 10)
    val base = (1 to 200).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 4)
    // fragment the buckets: each new-key delta adds a part file to
    // every bucket it touches
    (1 to 6).foreach { r =>
      store.upsertBucketed(spark, "t",
        (1 to 40).map(i => (s"k${200 * r + i}", s"v$i-r$r")).toDF("k", "v"),
        Seq("k"))
    }
    val vBefore = store.currentVersion("t").get
    val expected = store.read(spark, "t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    def filesPerBucket(v: Long): Map[String, Int] =
      inodesUnder(verDir(root, "t", v)).keys
        .groupBy(_.split('/').head).map { case (d, fs) => d -> fs.size }
    assert(filesPerBucket(vBefore).values.max > 1, "fixture failed to fragment")

    val rewritten = store.compactBuckets(spark, "t", maxFilesPerBucket = 1)
    assert(rewritten.nonEmpty)
    val vAfter = store.currentVersion("t").get
    assert(vAfter == vBefore + 1)
    // every rewritten bucket is now exactly one part file; untouched
    // buckets are the same inodes (shared, not copied)
    val after = filesPerBucket(vAfter)
    rewritten.foreach(b => assert(after(s"__kb=$b") == 1, after))
    val beforeInodes = inodesUnder(verDir(root, "t", vBefore))
    val afterInodes = inodesUnder(verDir(root, "t", vAfter))
    val untouched = after.keys.filterNot(d =>
      rewritten.contains(d.stripPrefix("__kb=").toInt))
    untouched.foreach { d =>
      afterInodes.filter(_._1.startsWith(d + "/")).foreach { case (rel, ino) =>
        assert(beforeInodes.get(rel).contains(ino), s"$rel not shared") }
    }
    // the data is bit-for-bit the same snapshot
    val got = store.read(spark, "t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == expected)
    // an already-compact table publishes NOTHING
    assert(store.compactBuckets(spark, "t", maxFilesPerBucket = 1).isEmpty)
    assert(store.currentVersion("t").contains(vAfter))
    // and upserts compose on top of the compacted base
    store.upsertBucketed(spark, "t", Seq(("k1", "zz")).toDF("k", "v"), Seq("k"))
    assert(store.read(spark, "t")
      .filter(org.apache.spark.sql.functions.col("k") === "k1")
      .head.getString(1) == "zz")
  }

  test("file manifest: every write path keeps the sidecar == the actual file tree") {
    import spark.implicits._
    // ground truth: walk the live version dir for data files + sizes
    def walked(root: String, table: String, v: Long): Map[String, Long] =
      Files.walk(verDir(root, table, v)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => verDir(root, table, v).relativize(p).toString
          .split('/')
          .exists(s => s.startsWith("_") && !s.startsWith("__kb=")))
        .map(p => verDir(root, table, v).relativize(p).toString ->
          Files.size(p)).toMap
    def manifested(store: ParquetTableStore, table: String): Map[String, Long] =
      store.fileManifest(spark, table).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def check(store: ParquetTableStore, root: String, table: String): Unit = {
      val v = store.currentVersion(table).get
      val w = walked(root, table, v)
      val m = manifested(store, table)
      assert(m == w, s"manifest drifted from tree at v$v:\n" +
        s"  only-manifest=${(m.keySet -- w.keySet).take(3)}\n" +
        s"  only-tree=${(w.keySet -- m.keySet).take(3)}\n" +
        s"  size-drift=${m.filter { case (k, b) => w.get(k).exists(_ != b) }.take(3)}")
      val (n, bytes) = store.fileStats(spark, table)
      assert(n == w.size && bytes == w.values.sum)
    }
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    // bucketed create
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    check(store, root, "t")
    // O(delta) upsert: untouched rows must CARRY, touched re-list
    store.upsertBucketed(spark, "t",
      Seq(("k1", "x"), ("k999", "y")).toDF("k", "v"), Seq("k"))
    check(store, root, "t")
    // append: delta listed pre-link, every prior row carried
    store.appendBucketed(spark, "idx",
      (1 to 50).map(i => (s"t${i % 5}", i.toLong)).toDF("term", "id"),
      Seq("term"), numBuckets = 8)
    store.appendBucketed(spark, "idx",
      Seq(("t1", 900L), ("zzz", 901L)).toDF("term", "id"), Seq("term"))
    check(store, root, "idx")
    // compaction: rewritten buckets re-list, rest carry
    store.appendBucketed(spark, "idx",
      Seq(("t1", 902L)).toDF("term", "id"), Seq("term"))
    assert(store.compactBuckets(spark, "idx", maxFilesPerBucket = 1).nonEmpty)
    check(store, root, "idx")
    // snapshot commit path
    store.commit(spark, "snap", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    check(store, root, "snap")
    // full bucketed rewrite
    store.replaceBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    check(store, root, "t")
  }

  test("deleteBucketed: touched buckets rewrite, keys vanish, rest hard-link; empty removals no-op") {
    import spark.implicits._
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    val before = inodesUnder(verDir(root, "t", 0))
    val out = store.deleteBucketed(spark, "t",
      Seq("k1", "k50", "k1").toDF("k"), Seq("k"))
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size == 98 && !got.contains("k1") && !got.contains("k50")
      && got("k2") == "v2")
    // untouched buckets carried as the SAME inodes
    val after = inodesUnder(verDir(root, "t", 1))
    assert(after.exists { case (rel, ino) => before.get(rel).contains(ino) })
    // deleting the ≤2 touched buckets rewrote at most 2 dirs
    val rewritten = after.keys.map(_.split('/').head).toSet.filter { d =>
      after.exists { case (rel, ino) =>
        rel.startsWith(d + "/") && !before.get(rel).contains(ino) } }
    assert(rewritten.size <= 2, rewritten)
    // the manifest stayed == the tree
    val m = store.fileManifest(spark, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == after.keySet)
    // idempotent re-delete (absent keys): a version no-op? no — it
    // touches the same buckets and rewrites them identically; content
    // must be unchanged either way
    store.deleteBucketed(spark, "t", Seq("k1").toDF("k"), Seq("k"))
    assert(store.read(spark, "t").count() == 98)
    // empty removals publish nothing
    val v = store.currentVersion("t").get
    store.deleteBucketed(spark, "t",
      Seq.empty[String].toDF("k"), Seq("k"))
    assert(store.currentVersion("t").contains(v))
    // deleting EVERY row stays readable (schema'd empty) with an
    // empty manifest
    store.deleteBucketed(spark, "t",
      store.read(spark, "t").select("k"), Seq("k"))
    assert(store.read(spark, "t").count() == 0)
    assert(store.read(spark, "t").columns.toSeq == Seq("k", "v"))
    assert(store.fileStats(spark, "t") == ((0L, 0L)))
  }

  test("deleteWhere: predicate delete rewrites only victim buckets; NULL keeps; snapshot + refusal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store")
    val store = new ParquetTableStore(root)
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    val before = inodesUnder(verDir(root, "t", 0))
    // delete by CONTENT (non-key column) — no key list anywhere
    val out = store.deleteWhere(spark, "t", col("v").isin("v1", "v50"))
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size == 98 && !got.contains("k1") && !got.contains("k50")
      && got("k2") == "v2")
    // untouched buckets carried as the SAME inodes; ≤2 dirs rewrote
    val after = inodesUnder(verDir(root, "t", 1))
    assert(after.exists { case (rel, ino) => before.get(rel).contains(ino) })
    val rewritten = after.keys.map(_.split('/').head).toSet.filter { d =>
      after.exists { case (rel, ino) =>
        rel.startsWith(d + "/") && !before.get(rel).contains(ino) } }
    assert(rewritten.size <= 2, rewritten)
    // manifest stayed == the tree
    val m = store.fileManifest(spark, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == after.keySet)
    // SQL semantics: NULL-predicate rows survive an equality delete
    store.upsertBucketed(spark, "t",
      Seq(("kn1", null), ("kn2", null)).toDF("k", "v"), Seq("k"))
    store.deleteWhere(spark, "t", col("v") === "v2")
    val left = store.read(spark, "t")
    assert(left.filter(col("k") === "k2").count() == 0L)
    assert(left.filter(col("v").isNull).count() == 2L,
      "NULL-predicate rows must survive")
    // no victims = version no-op
    val v = store.currentVersion("t").get
    store.deleteWhere(spark, "t", col("v") === "matches-nothing")
    assert(store.currentVersion("t").contains(v))
    // snapshot table: wholesale rewrite under the pinned CAS, same
    // NULL/no-op contract
    store.commit(spark, "s",
      Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "tag"))
    assert(store.deleteWhere(spark, "s", col("tag") === "a").count() == 2L)
    val vs = store.currentVersion("s").get
    store.deleteWhere(spark, "s", col("tag") === "zz")
    assert(store.currentVersion("s").contains(vs))
    // a bucketed table missing its _KEYS stamp refuses loudly (kept
    // rows cannot re-route) rather than guessing
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "t", "_KEYS"))
    intercept[IllegalStateException](
      store.deleteWhere(spark, "t", col("v") === "v3"))
  }

  test("autoMaintain: size-tiered triggers fire from the manifest; auto == manual; no debt, no churn") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def maxFilesPerBucket(store: ParquetTableStore): Int =
      store.fileManifest(spark, "t")
        .selectExpr("regexp_extract(file, '__kb=(\\\\d+)/', 1) AS b")
        .filter(col("b") =!= "").groupBy("b").count()
        .agg(org.apache.spark.sql.functions.max("count")).head
        .getLong(0).toInt
    val slices = (0 until 4).map(i =>
      (1 to 100).filter(_ % 4 == i).map(k => (s"k$k", s"v$k"))
        .toDF("k", "v"))
    // auto store: policy evaluated after each append
    val auto = new ParquetTableStore(tmpDir("auto"), keepVersions = 20)
    // manual twin: explicit compactBuckets at the same points
    val man = new ParquetTableStore(tmpDir("man"), keepVersions = 20)
    slices.foreach { sl =>
      auto.appendBucketed(spark, "t", sl, Seq("k"), numBuckets = 4)
      auto.autoMaintain(spark, "t", maxFilesPerBucket = 2,
        minBytesPerFile = 0L)
      man.appendBucketed(spark, "t", sl, Seq("k"), numBuckets = 4)
      man.compactBuckets(spark, "t", maxFilesPerBucket = 2)
    }
    def content(s: ParquetTableStore): Map[String, String] =
      s.read(spark, "t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(content(auto) == content(man) && content(auto).size == 100)
    assert(maxFilesPerBucket(auto) == maxFilesPerBucket(man))
    assert(maxFilesPerBucket(auto) <= 2)
    // no debt ⇒ NO version churn
    val v = auto.currentVersion("t").get
    assert(auto.autoMaintain(spark, "t", maxFilesPerBucket = 2,
      minBytesPerFile = 0L).isEmpty)
    assert(auto.currentVersion("t").contains(v))
    // the SMALL-FILE tier: counts are fine (2 ≤ 3) but the files are
    // tiny — a byte floor triggers what the count threshold tolerates
    val rewritten = auto.autoMaintain(spark, "t", maxFilesPerBucket = 3,
      minBytesPerFile = 1L << 20)
    assert(rewritten.nonEmpty, "byte tier never fired on tiny files")
    assert(maxFilesPerBucket(auto) == 1)
    assert(content(auto).size == 100)
  }

  test("changesBetween: keyed CDC == full diff; untouched buckets are never opened") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store")
    val store = new ParquetTableStore(root, keepVersions = 10)
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)   // v0
    store.upsertBucketed(spark, "t",
      Seq(("k1", "x"), ("k999", "fresh")).toDF("k", "v"), Seq("k"))    // v1
    store.deleteBucketed(spark, "t", Seq("k7").toDF("k"), Seq("k"))    // v2
    def changes(a: Long, b: Long): Set[(String, String, String)] =
      store.changesBetween(spark, "t", Seq("k"), a, b).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(changes(0L, 2L) == Set(
      ("update", "k1", "x"), ("insert", "k999", "fresh"),
      ("delete", "k7", "v7")))
    // self-diff and maintenance-only spans are empty
    assert(changes(1L, 1L).isEmpty)
    store.compactBuckets(spark, "t", maxFilesPerBucket = 1) match {
      case s if s.nonEmpty =>
        val v = store.currentVersion("t").get
        assert(changes(v - 1, v).isEmpty,
          "compaction must yield no phantom changes")
      case _ => ()
    }
    // O(touched) pinned behaviorally: tamper an UNTOUCHED bucket's
    // dir out of the OLD version — the manifests prove it identical,
    // so the CDC read must never open it; a full-diff implementation
    // would crash on the missing files
    val v0 = verDir(root, "t", 0)
    val v2dirs = inodesUnder(verDir(root, "t", 2))
    val changedDirs = {
      val before = inodesUnder(v0)
      v2dirs.keys.map(_.split('/').head).toSet.filter { d =>
        v2dirs.exists { case (rel, ino) =>
          rel.startsWith(d + "/") && !before.get(rel).contains(ino) } } ++
        before.keys.map(_.split('/').head).toSet
          .diff(v2dirs.keys.map(_.split('/').head).toSet)
    }
    val safeToDrop = inodesUnder(v0).keys.map(_.split('/').head).toSet
      .diff(changedDirs)
    assert(safeToDrop.nonEmpty, "fixture: need an untouched bucket")
    val victim = v0.resolve(safeToDrop.head)
    import java.nio.file.{Files => JFiles}
    JFiles.walk(victim).iterator().asScala.toSeq.reverse
      .foreach(JFiles.delete)
    assert(changes(0L, 2L) == Set(
      ("update", "k1", "x"), ("insert", "k999", "fresh"),
      ("delete", "k7", "v7")))
  }

  test("applyChangesBucketed: a mixed feed lands as ONE version; replay reconstructs the head exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpDir("store")
    val store = new ParquetTableStore(root, keepVersions = 10)
    val base = (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "src", base, Seq("k"), numBuckets = 8) // v0
    // replica bootstraps from the base snapshot the feed starts at
    store.replaceBucketed(spark, "rep",
      store.readVersion(spark, "src", 0L), Seq("k"), numBuckets = 8)
    store.upsertBucketed(spark, "src",
      Seq(("k1", "x"), ("k999", "fresh")).toDF("k", "v"), Seq("k"))
    store.deleteBucketed(spark, "src", Seq("k7").toDF("k"), Seq("k"))
    store.compactBuckets(spark, "src", maxFilesPerBucket = 1)
    val head = store.currentVersion("src").get
    val feed = store.changesBetween(spark, "src", Seq("k"), 0L, head)
    val repV = store.currentVersion("rep").get
    store.applyChangesBucketed(spark, "rep", feed, Seq("k"), numBuckets = 8)
    // atomicity: upserts AND deletes of the span in ONE publish
    assert(store.currentVersion("rep").contains(repV + 1))
    def content(t: String): Set[(String, String)] =
      store.read(spark, t).as[(String, String)].collect().toSet
    assert(content("rep") == content("src"))
    assert(!content("rep").exists(_._1 == "k7"))
    // idempotent replay: same feed re-applied converges to the same
    // content (replace-by-key upserts, absent-key deletes no-op)
    store.applyChangesBucketed(spark, "rep", feed, Seq("k"), numBuckets = 8)
    assert(content("rep") == content("src"))
    // empty feed: a version NO-OP, never churn
    val v2 = store.currentVersion("rep").get
    store.applyChangesBucketed(spark, "rep", feed.where(lit(false)),
      Seq("k"), numBuckets = 8)
    assert(store.currentVersion("rep").contains(v2))
    // add-only schema evolution through the feed
    store.applyChangesBucketed(spark, "rep",
      Seq(("k2", "v2b", 7)).toDF("k", "v", "extra")
        .withColumn("change", lit("update")),
      Seq("k"), numBuckets = 8)
    val evolved = store.read(spark, "rep")
    assert(evolved.columns.contains("extra"))
    assert(evolved.filter(col("k") === "k2").head.getAs[Int]("extra") == 7)
    assert(evolved.filter(col("k") === "k1" && col("extra").isNull)
      .count() == 1)
    // creates the table from the feed's upserts when absent; delete
    // rows against the fresh table are no-ops
    store.applyChangesBucketed(spark, "fresh",
      Seq(("a", "1", "insert"), ("b", "2", "update"), ("z", null, "delete"))
        .toDF("k", "v", "change"),
      Seq("k"), numBuckets = 4)
    assert(content("fresh") == Set(("a", "1"), ("b", "2")))
    // a NULL or misspelled change label matches neither the upsert
    // filter nor the delete filter — the row would silently vanish;
    // the store refuses the whole feed loudly instead
    val typo = intercept[IllegalArgumentException] {
      store.applyChangesBucketed(spark, "fresh",
        Seq(("c", "3", "insert"), ("d", "4", "upsert"))
          .toDF("k", "v", "change"), Seq("k"), numBuckets = 4)
    }
    assert(typo.getMessage.contains("upsert"), typo.getMessage)
    val nul = intercept[IllegalArgumentException] {
      store.applyChangesBucketed(spark, "fresh",
        Seq(("c", "3", "insert"), ("d", "4", null))
          .toDF("k", "v", "change"), Seq("k"), numBuckets = 4)
    }
    assert(nul.getMessage.contains("unknown change label"), nul.getMessage)
    // the refused feed landed NOTHING (no partial application)
    assert(content("fresh") == Set(("a", "1"), ("b", "2")))
  }

  test("cursor registry: registered consumers widen retention, capped; floor is the MIN") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store-cursors"),
      keepVersions = 2, maxRetained = 4)
    def commitN(n: Int): Unit = (1 to n).foreach(i =>
      store.upsertBucketed(spark, "t",
        Seq((i.toLong, s"x$i")).toDF("k", "v"), Seq("k"), numBuckets = 2))
    store.upsertBucketed(spark, "t",
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      Seq("k"), numBuckets = 2) // v0
    // two consumers: the SLOWEST one's cursor is the floor
    store.registerCursor("t", "slow", 0L)
    store.registerCursor("t", "fast", 2L)
    assert(store.cursorFloor("t").contains(0L))
    commitN(2) // v1, v2 — keepVersions=2 alone would prune v0 at v2
    assert(store.versions("t") == Seq(0L, 1L, 2L))
    assert(store.readVersion(spark, "t", 0L).count() == 10L)
    // the slow consumer advances: v0/v1 release at the next publish
    store.registerCursor("t", "slow", 2L)
    commitN(1) // v3
    assert(store.versions("t") == Seq(2L, 3L))
    // the CAP: a dead consumer (cursor stuck at 2) protects at most
    // maxRetained=4 versions below the head — v2 survives until the
    // head reaches v6, then prunes despite the registration
    commitN(3) // v4, v5, v6: at v6, 2 <= 6 - 4 → unprotected
    assert(!store.versions("t").contains(2L),
      s"cap must evict the dead consumer's version: ${store.versions("t")}")
    assert(intercept[IllegalStateException](
      store.readVersion(spark, "t", 2L))
      .isInstanceOf[RetentionLostException])
    // unregister: the registry empties and plain keepVersions rules
    assert(store.unregisterCursor("t", "slow"))
    assert(store.unregisterCursor("t", "fast"))
    assert(!store.unregisterCursor("t", "fast"))
    assert(store.cursorFloor("t").isEmpty)
    commitN(1) // v7
    assert(store.versions("t") == Seq(6L, 7L))
    // bad consumer ids are refused (they name files)
    intercept[IllegalArgumentException](
      store.registerCursor("t", "../evil", 1L))
  }

  test("cloneTable: zero-REWRITE (inodes shared), sidecars carried, histories independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpDir("store-clone")
    val store = new ParquetTableStore(root, keepVersions = 10)
    val base = (1 to 60).map(i => (i.toLong, s"v$i", i * 10L))
      .toDF("k", "v", "ts")
    store.declareZoneColumns("t", Seq("ts"))
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 4) // v0
    store.upsertBucketed(spark, "t",
      Seq((1L, "x", 999L)).toDF("k", "v", "ts"), Seq("k")) // v1
    // clone the HEAD and a TIME-TRAVEL version
    val fork = store.cloneTable(spark, "t", "fork")
    assert(fork.orderBy("k").collect().toSeq ==
      store.read(spark, "t").orderBy("k").collect().toSeq)
    val old = store.cloneTable(spark, "t", "fork0", Some(0L))
    assert(old.filter(col("k") === 1L).head.getString(1) == "v1")
    // the zero-rewrite claim: every cloned parquet file SHARES its
    // inode with the source (hard link, nlink >= 2) — content
    // equality can't distinguish a clone from a copy; this can
    val forkDir = Files.list(Paths.get(root, "fork")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("v=")).toSeq.head
    val dataFiles = Files.walk(forkDir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    assert(dataFiles.forall(f => Files.getAttribute(f, "unix:nlink")
      .asInstanceOf[Number].longValue() >= 2L),
      "a cloned data file was rewritten, not shared")
    // sidecars carried: the clone's zone map serves pruned reads, the
    // bucket stamp serves later upserts
    assert(store.readZonePruned(spark, "fork", "ts", 100L, 200L)
      .count() == base.filter(col("ts").between(100L, 200L)).count())
    store.upsertBucketed(spark, "fork",
      Seq((2L, "forked", 0L)).toDF("k", "v", "ts"), Seq("k"))
    // histories are independent both ways
    assert(store.read(spark, "t").filter(col("v") === "forked").count() == 0)
    assert(store.currentVersion("t").contains(1L))
    assert(store.currentVersion("fork").contains(1L)) // its OWN v1
    store.upsertBucketed(spark, "t",
      Seq((3L, "srcmut", 0L)).toDF("k", "v", "ts"), Seq("k"))
    assert(store.read(spark, "fork")
      .filter(col("v") === "srcmut").count() == 0)
    // refusals: existing destination is a retryable conflict (never a
    // silent replace); a pruned source version is the typed rebase
    // signal
    intercept[ConcurrentCommitException](
      store.cloneTable(spark, "t", "fork"))
    val tight = new ParquetTableStore(tmpDir("store-clone-tight"),
      keepVersions = 1)
    tight.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 2)
    tight.upsertBucketed(spark, "t",
      Seq((1L, "y", 0L)).toDF("k", "v", "ts"), Seq("k"))
    assert(intercept[IllegalStateException](
      tight.cloneTable(spark, "t", "f", Some(0L)))
      .isInstanceOf[RetentionLostException])
    // a concurrent creator owning the destination's bucket stamp with
    // a DIFFERENT count: the clone must refuse — publishing 4-bucket
    // data under an 8-bucket stamp would mis-bucket later upserts
    val r2 = tmpDir("store-clone-stamp")
    val c2 = new ParquetTableStore(r2)
    c2.upsertBucketed(spark, "src", base, Seq("k"), numBuckets = 4)
    Files.createDirectories(Paths.get(r2, "dst"))
    Files.write(Paths.get(r2, "dst", "_BUCKETS"), "8".getBytes)
    intercept[ConcurrentCommitException](
      c2.cloneTable(spark, "src", "dst"))
    // MID-PRUNE race: retention deletes a version tree BOTTOM-UP
    // (files before the dir), so a clone walking a prune-eligible
    // source version can hit a vanished DESCENDANT while srcDir still
    // exists — that is the retention race (typed, retryable), never a
    // raw NoSuchFileException. Simulate the source inode vanishing
    // UNDER the walk via an io whose shareFile throws for data files;
    // a cursor keeps v0 on disk past the keep window so the walk
    // starts (head=v1, keepVersions=1 → v0 is prune-eligible).
    val r3 = tmpDir("store-clone-midprune")
    val c3 = new ParquetTableStore(r3, keepVersions = 1)
    c3.registerCursor("src", "keeper", 0L)
    c3.upsertBucketed(spark, "src", base, Seq("k"), numBuckets = 2) // v0
    c3.upsertBucketed(spark, "src",
      Seq((1L, "z", 0L)).toDF("k", "v", "ts"), Seq("k")) // v1 (head)
    val vanishIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def swapPointerIfCurrent(p: Path, c: String,
          e: Option[String]): Unit = PosixStoreIo.swapPointerIfCurrent(p, c, e)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def shareFile(s: Path, d: Path): Unit =
        if (s.getFileName.toString.endsWith(".parquet"))
          throw new java.nio.file.NoSuchFileException(s.toString)
        else PosixStoreIo.shareFile(s, d)
    }
    val c3racy = new ParquetTableStore(r3, keepVersions = 1, io = vanishIo)
    intercept[ConcurrentCommitException](
      c3racy.cloneTable(spark, "src", "dst", Some(0L)))
    // inside the PLAIN keep window a vanish is a real I/O anomaly —
    // the head version is never pruned, so the raw error surfaces
    intercept[java.nio.file.NoSuchFileException](
      c3racy.cloneTable(spark, "src", "dst2", Some(1L)))
  }

  test("tables/dropTable: catalog listing; drop frees the name, clones survive their source") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store-drop")
    val store = new ParquetTableStore(root, keepVersions = 5)
    val base = (1 to 30).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "a", base, Seq("k"), numBuckets = 2)
    store.commit(spark, "b", Seq(1).toDF("x"))
    assert(store.tables == Seq("a", "b"))
    store.cloneTable(spark, "a", "fork")
    // dropping the SOURCE: its name frees, reads refuse cleanly, and
    // the hard-link-shared clone still reads every byte
    assert(store.dropTable("a"))
    assert(!store.dropTable("a"))
    assert(store.tables == Seq("b", "fork"))
    intercept[IllegalStateException](store.read(spark, "a"))
    assert(store.read(spark, "fork").count() == 30L)
    assert(store.read(spark, "fork").filter(col("k") === 7L)
      .head.getString(1) == "v7")
    // the freed name recreates from scratch (fresh history, own count)
    store.upsertBucketed(spark, "a",
      Seq((99L, "fresh")).toDF("k", "v"), Seq("k"), numBuckets = 8)
    assert(store.currentVersion("a").contains(0L))
    assert(store.numBuckets("a").contains(8))
  }

  test("manifest-fed reads: plain/bucket-restricted parity with listing reads, partition filters honored") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store-mfi")
    val store = new ParquetTableStore(root, keepVersions = 5)
    val base = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    store.upsertBucketed(spark, "t",
      (1 to 400).filter(_ % 5 == 0).map(i => (i.toLong, s"u$i"))
        .toDF("k", "v"), Seq("k"))
    // plain read: manifest-planned ≡ listing-planned, and the plan
    // carries NO InMemoryFileIndex relation (red if the manifest path
    // silently fell back to discovery)
    val m = store.read(spark, "t")
    val l = store.readLegacy(spark, "t")
    assert(m.exceptAll(l).isEmpty && l.exceptAll(m).isEmpty)
    // red if the manifest path silently fell back to listing discovery
    val locations = m.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location
    }
    assert(locations.nonEmpty &&
      locations.forall(_.isInstanceOf[graft.sources.ManifestFileIndex]),
      s"plain store read did not plan through ManifestFileIndex: $locations")
    // the bucket-restricted probe prunes AND filters correctly: the
    // isin predicate lands as a partition filter the index must
    // evaluate itself — a filter-ignoring index would leak other
    // buckets' rows here
    val keys = Seq(7L, 13L, 250L).toDF("k")
    val (pruned, _) = store.readBucketsOf(spark, "t", keys)
    val got = pruned.join(keys, Seq("k"), "left_semi")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((7L, "v7"), (13L, "v13"), (250L, "u250")))
    // and the pruned frame holds ONLY the probed buckets' rows
    val nb = store.numBuckets("t").get
    val wantKbs = keys.select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("k")),
        org.apache.spark.sql.functions.lit(nb)))
      .distinct().collect().map(_.getInt(0)).toSet
    val gotKbs = pruned.select(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("k")),
        org.apache.spark.sql.functions.lit(nb)))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(gotKbs == wantKbs,
      s"bucket restriction leaked rows: got buckets $gotKbs, want $wantKbs")
  }

  test("cursorLag: bytes are the protected window's UNIQUE files; advancing releases the debt") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = new ParquetTableStore(tmpDir("store-lag"), keepVersions = 2)
    val base = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // v0: full table; v1..v3: single-bucket deltas — untouched
    // buckets hard-link, so most of v0's files survive by NAME into
    // the plain window and must NOT count as protected bytes
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 8)
    store.registerCursor("t", "c", 0L)
    for (i <- 1 to 3)
      store.upsertBucketed(spark, "t",
        Seq((i.toLong, s"u$i")).toDF("k", "v"), Seq("k"))
    val lag = store.cursorLag(spark, "t").collect()
      .map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (behind, prot, bytes) = lag("c")
    assert(behind == 3L && prot == 2L, s"lag row drifted: ${lag("c")}")
    assert(bytes > 0L, "protected window holds rewritten-away files")
    // the unique-files claim: protected bytes < the windows' total
    // (hard-linked survivors excluded), not a naive manifest sum
    val total = store.fileManifest(spark, "t")
      .agg(org.apache.spark.sql.functions.sum("bytes")).head.getLong(0)
    assert(bytes < total, s"bytes=$bytes should exclude linked survivors")
    // advancing the cursor releases the debt at the next publish
    store.registerCursor("t", "c", 3L)
    store.upsertBucketed(spark, "t",
      Seq((5L, "u5")).toDF("k", "v"), Seq("k"))
    val lag2 = store.cursorLag(spark, "t").collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5))).toMap
    assert(lag2("c") == ((0L, 0L)), s"debt not released: ${lag2("c")}")
    // no registry → empty report
    assert(store.cursorLag(spark, "t").count() == lag2.size.toLong)
  }

  test("zone-map/manifest desync refuses loudly instead of silently narrowing the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("store-desync")
    val store = new ParquetTableStore(root)
    val df = (1 to 200).map(i => (i.toLong, i % 7))
      .toDF("k", "g").repartition(4)
    store.declareZoneColumns("t", Seq("k"))
    store.commit(spark, "t", df)
    // sanity: the healthy read works
    assert(store.readZonePruned(spark, "t", "k", 10, 60).count() == 51)
    // tamper: drop ONE data file's row from the manifest (the desync
    // a bug in sidecar maintenance would produce)
    val vdir = verDir(root, "t", 0L)
    val man = spark.read.parquet(vdir.resolve("_manifest").toString)
    val victim = man.select("file").head.getString(0)
    val tampered = man.filter(col("file") =!= victim).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val tmp = Files.createTempDirectory("mantamper")
    tampered.toDF("file", "bytes").coalesce(1)
      .write.mode("overwrite").parquet(tmp.resolve("m").toString)
    def rmRf(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.toList.foreach(rmRf)
      Files.deleteIfExists(p); ()
    }
    rmRf(vdir.resolve("_manifest"))
    Files.move(tmp.resolve("m"), vdir.resolve("_manifest"))
    // the tamper mutates a FINALIZED version's sidecar in place —
    // out of the store's immutability contract, so the sidecar
    // cache (correctly) wouldn't see it; flush so the desync check
    // is exercised against the tampered bytes
    store.invalidateSidecars()
    val e = intercept[IllegalStateException](
      store.readZonePruned(spark, "t", "k", 10, 60).count())
    assert(e.getMessage.contains("desync"))
  }

  test("version pruned between plan and action: store-owned eager paths refuse typed") {
    import spark.implicits._
    // the task-time vanished-version window: a frame BOUND while its
    // version was retained re-checks nothing at execution, so a prune
    // landing in between surfaces from the scan as a raw executor
    // FileNotFoundException. Store-owned eager consumers (the
    // merge/collect actions inside every commit path) must map it to
    // the retryable ConcurrentCommitException instead — re-read the
    // winner, re-derive, retry (the changesBetween guarded contract).
    val root = tmpDir("store-plan-action")
    val store = new ParquetTableStore(root, keepVersions = 1)
    val base = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    store.upsertBucketed(spark, "t", base, Seq("k"), numBuckets = 2) // v0
    val boundAtV0 = store.read(spark, "t") // lazy; plans v0's files
    // two commits prune v0 out from under the bound frame
    store.upsertBucketed(spark, "t", Seq((1L, "x")).toDF("k", "v"), Seq("k"))
    store.upsertBucketed(spark, "t", Seq((2L, "y")).toDF("k", "v"), Seq("k"))
    assert(!store.versions("t").contains(0L), "test premise: v0 pruned")
    // bucketed path: the touched-set collect consumes the dead frame
    val e1 = intercept[ConcurrentCommitException](
      store.upsertBucketed(spark, "t2", boundAtV0, Seq("k"), numBuckets = 2))
    assert(e1.getMessage.contains("vanished mid-action"), e1.getMessage)
    // snapshot path: the staging write consumes the dead frame
    val e2 = intercept[ConcurrentCommitException](
      store.commit(spark, "t3", boundAtV0))
    assert(e2.getMessage.contains("vanished mid-action"), e2.getMessage)
    // and a LIVE frame through the same paths still lands fine
    store.upsertBucketed(spark, "t2", store.read(spark, "t"), Seq("k"),
      numBuckets = 2)
    assert(store.read(spark, "t2").count() == 40L)
  }

  test("failed writes drop their staging dir; compaction maps a vanished input to a conflict") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error}
    def tmpEntries(root: String, t: String): Seq[String] =
      Files.list(Paths.get(root, t)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("tmp-")).toList
    val root = tmpDir("store-failed-write")
    val store = new ParquetTableStore(root)
    val base = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    store.commit(spark, "snap", base)
    store.upsertBucketed(spark, "buck", base, Seq("k"), numBuckets = 4)
    // the payload column raises while the staged write evaluates it
    // (the bucketed touched-set reads only the key, so it passes; a
    // range, not a local relation, so the optimizer cannot evaluate
    // it on the driver)
    val poisoned = spark.range(39, 42).select(col("id").as("k"),
      raise_error(concat(lit("boom "), col("id"))).cast("string").as("v"))
    intercept[Exception](store.commit(spark, "snap", poisoned))
    intercept[Exception](
      store.upsertBucketed(spark, "buck", poisoned, Seq("k")))
    for (t <- Seq("snap", "buck")) {
      assert(store.currentVersion(t).contains(0L), t)
      assert(store.read(spark, t).count() == 40L, t)
      assert(tmpEntries(root, t).isEmpty,
        s"$t: failed write left ${tmpEntries(root, t)}")
    }
    // compaction reading a bucket file that vanished under the
    // version (a prune racing the rewrite) is the retryable conflict
    (1 to 3).foreach(i => store.appendBucketed(spark, "buck",
      Seq((100L + i, s"a$i")).toDF("k", "v"), Seq("k")))
    val head = verDir(root, "buck", store.currentVersion("buck").get)
    // a file of a bucket the compaction will rewrite (> 1 file)
    val victim = Files.list(head).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__kb="))
      .map(d => Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
      .find(_.size > 1).get.head
    Files.delete(victim)
    val e = intercept[ConcurrentCommitException](
      store.compactBuckets(spark, "buck", maxFilesPerBucket = 1))
    assert(e.getMessage.contains("vanished mid-action"), e.getMessage)
    assert(tmpEntries(root, "buck").isEmpty)
  }
}
