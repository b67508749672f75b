package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The file-granular bucketed merge: [[ParquetTableStore.upsertBucketed]]
  * rewrites only the stored files that hold a replaced key, writes one
  * fresh file per touched bucket, links everything else, and keeps a
  * bucket at most 4 files deep. */
class BucketedMergeSpec extends SparkSpec {
  import spark.implicits._

  private def liveDir(root: String, table: String): Path = {
    val p = new String(Files.readAllBytes(Paths.get(root, table, "_CURRENT"))).trim
    Paths.get(root, table, p)
  }

  /** Data files (`__kb=N/part-….parquet`) of a version dir → inode. */
  private def dataFiles(vdir: Path): Map[String, Long] =
    Files.walk(vdir).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        vdir.relativize(p).toString.startsWith("__kb="))
      .map(p => vdir.relativize(p).toString ->
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long])
      .toMap

  private def inode(p: Path): Long =
    Files.getAttribute(p, "unix:ino").asInstanceOf[Long]

  private def bucketOfRel(rel: String): Int =
    rel.stripPrefix("__kb=").takeWhile(_ != '/').toInt

  private def filesPerBucket(vdir: Path): Map[Int, Int] =
    dataFiles(vdir).keys.groupBy(bucketOfRel).map { case (b, fs) => b -> fs.size }

  /** rel file → the keys it holds, read straight from the version's
    * files. */
  private def keysByFile(vdir: Path, key: String): Map[String, Set[String]] =
    spark.read.parquet(vdir.toString)
      .select(regexp_extract(input_file_name(), "(__kb=[^/]+/[^/]+)$", 1)
        .as("file"), col(key).cast("string"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getString(1)).toSet }

  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** The merge this store ran before file-granular upserts, kept as the
    * reference: every stored row of a touched bucket goes through the
    * last-write-wins merge, every other bucket carries as it is. */
  private def bucketRewriteMerge(stored: DataFrame, incoming: DataFrame,
      keys: Seq[String], n: Int): DataFrame = {
    val (s, inc) = SchemaEvolution.align(stored, incoming)
    val kb = pmod(hash(keys.map(col): _*), lit(n))
    val touched = inc.select(kb).distinct().collect().map(_.getInt(0)).toSeq
    s.filter(!kb.isin(touched: _*)).unionByName(
      Upserts.upsertLastWriteWins(s.filter(kb.isin(touched: _*)), inc, keys))
  }

  /** Sidecars equal a full recompute from the files, and the
    * manifest-planned read equals the listing-planned one. */
  private def assertSidecarsExact(store: ParquetTableStore, root: String,
      table: String, zoneCol: String): Unit = {
    val vdir = liveDir(root, table)
    val manifest = spark.read.parquet(vdir.resolve("_manifest").toString)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val listed = Files.walk(vdir).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        vdir.relativize(p).toString.startsWith("__kb="))
      .map(p => vdir.relativize(p).toString -> Files.size(p)).toMap
    assert(manifest == listed)
    val zm = spark.read.parquet(vdir.resolve("_zonemap").toString)
      .select(col("file"), col(s"min_$zoneCol"), col(s"max_$zoneCol"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val recomputed = spark.read.parquet(vdir.toString)
      .groupBy(regexp_extract(input_file_name(), "(__kb=[^/]+/[^/]+)$", 1)
        .as("file"))
      .agg(min(col(zoneCol)), max(col(zoneCol)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(zm == recomputed)
    val cols = store.read(spark, table).columns.toSeq
    assert(rowsOf(store.read(spark, table), cols) ==
      rowsOf(store.readLegacy(spark, table), cols))
  }

  test("file-granular merge ≡ the bucket-rewrite merge on seeded random rounds") {
    val root = tmpDir("bmerge-equiv")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.declareZoneColumns("t", Seq("v"))
    val keys = Seq("k1", "k2")
    val n = 8
    val rnd = new scala.util.Random(20261019L)
    def key(i: Int): (Long, String) = (i / 3L, Seq("a", "b", "c")(i % 3))
    var present = (0 until 300).toSet
    store.upsertBucketed(spark, "t",
      present.toSeq.map(i => (key(i)._1, key(i)._2, rnd.nextInt(1000).toLong))
        .toDF("k1", "k2", "v"), keys, numBuckets = n)
    var reference = store.read(spark, "t").collect().toSeq
    var refSchema = store.read(spark, "t").schema
    var next = 300
    for (round <- 1 to 8) {
      // replaced keys, new keys, and from round 4 an evolved column
      val replaced = rnd.shuffle(present.toSeq).take(rnd.nextInt(40))
      val fresh = next until next + rnd.nextInt(60)
      next += fresh.size
      val ids = replaced ++ fresh
      val base = ids.map(i => (key(i)._1, key(i)._2, 1000L * round + rnd.nextInt(1000)))
        .toDF("k1", "k2", "v")
      val incoming =
        if (round < 4) base else base.withColumn("tag", concat(lit("r"), col("v")))
      val stored = spark.createDataFrame(reference.asJava, refSchema)
      val expected = bucketRewriteMerge(stored, incoming, keys, n)
      val expectedRows = expected.collect().toSeq
      store.upsertBucketed(spark, "t", incoming, keys)
      present ++= fresh
      val got = store.read(spark, "t")
      assert(got.columns.toSeq == expected.columns.toSeq, s"round $round")
      assert(rowsOf(got, got.columns.toSeq) ==
        rowsOf(expected, expected.columns.toSeq), s"round $round")
      assertSidecarsExact(store, root, "t", "v")
      reference = expectedRows
      refSchema = expected.schema
    }
  }

  test("a delta of only new keys links every previous file as the same inode") {
    val root = tmpDir("bmerge-newkeys")
    val store = new ParquetTableStore(root, keepVersions = 10)
    store.upsertBucketed(spark, "t",
      (1 to 200).map(i => (s"k$i", i.toLong)).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    val before = liveDir(root, "t")
    val beforeFiles = dataFiles(before)
    store.upsertBucketed(spark, "t",
      (201 to 260).map(i => (s"k$i", i.toLong)).toDF("k", "v"), Seq("k"))
    val after = liveDir(root, "t")
    val afterFiles = dataFiles(after)
    beforeFiles.foreach { case (rel, ino) =>
      assert(afterFiles.get(rel).contains(ino), s"$rel not linked")
      // its checksum travels with it
      val crc = s".${Paths.get(rel).getFileName}.crc"
      val parent = Paths.get(rel).getParent.toString
      assert(inode(after.resolve(parent).resolve(crc)) ==
        inode(before.resolve(parent).resolve(crc)))
    }
    // one fresh file in each touched bucket
    val fresh = afterFiles.keySet -- beforeFiles.keySet
    assert(fresh.toSeq.map(bucketOfRel).sorted == (0 until 4))
    assert(store.read(spark, "t").count() == 260)
  }

  test("a delta that replaces keys rewrites exactly the files that hold them") {
    val root = tmpDir("bmerge-replace")
    val store = new ParquetTableStore(root, keepVersions = 10)
    store.upsertBucketed(spark, "t",
      (1 to 200).map(i => (s"k$i", i.toLong)).toDF("k", "v"), Seq("k"),
      numBuckets = 4)
    store.upsertBucketed(spark, "t",
      (201 to 300).map(i => (s"k$i", i.toLong)).toDF("k", "v"), Seq("k"))
    val before = liveDir(root, "t")
    val beforeFiles = dataFiles(before)
    assert(filesPerBucket(before).values.forall(_ == 2))
    val holders = keysByFile(before, "k")
    // replace keys of the second round only (plus two new keys): the
    // first round's files stay untouched
    val replacedKeys = Seq("k201", "k202", "k250", "k299")
    val replacedFiles = holders.collect {
      case (f, ks) if ks.exists(replacedKeys.contains) => f }.toSet
    store.upsertBucketed(spark, "t",
      (replacedKeys ++ Seq("k901", "k902")).map(k => (k, -1L)).toDF("k", "v"),
      Seq("k"))
    val afterFiles = dataFiles(liveDir(root, "t"))
    assert(replacedFiles.forall(f => !afterFiles.contains(f)))
    (beforeFiles -- replacedFiles).foreach { case (rel, ino) =>
      assert(afterFiles.get(rel).contains(ino), s"$rel not linked") }
    val fresh = afterFiles.keySet -- beforeFiles.keySet
    val incomingBuckets = (replacedKeys ++ Seq("k901", "k902")).toDF("k")
      .select(pmod(hash(col("k")), lit(4))).collect().map(_.getInt(0)).toSet
    assert(fresh.toSeq.map(bucketOfRel).sorted == incomingBuckets.toSeq.sorted)
    val got = store.read(spark, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got.size == 302 && got.map(_._1).distinct.size == 302)
    assert(got.toMap.filter(_._2 == -1L).keySet ==
      (replacedKeys ++ Seq("k901", "k902")).toSet)
  }

  test("no bucket exceeds 4 files through 10 rounds of new-key upserts") {
    val root = tmpDir("bmerge-bound")
    val store = new ParquetTableStore(root, keepVersions = 10)
    store.upsertBucketed(spark, "t",
      (1 to 100).map(i => (i.toLong, "base")).toDF("id", "v"), Seq("id"),
      numBuckets = 4)
    var deepest = 0
    (1 to 10).foreach { r =>
      store.upsertBucketed(spark, "t",
        (1 to 40).map(i => (100L * r + 1000 + i, s"r$r")).toDF("id", "v"),
        Seq("id"))
      val perBucket = filesPerBucket(liveDir(root, "t"))
      assert(perBucket.values.max <= 4, s"round $r: $perBucket")
      deepest = math.max(deepest, perBucket.values.max)
    }
    // the bound was reached, so a whole-bucket rewrite really ran
    assert(deepest == 4)
    assert(store.read(spark, "t").count() == 500)
    assert(store.read(spark, "t").select("id").distinct().count() == 500)
  }

  test("a lost CAS race re-derives the matched files against the winner's version") {
    val root = tmpDir("bmerge-race")
    val plain = new ParquetTableStore(root, keepVersions = 10)
    plain.upsertBucketed(spark, "t",
      (1 to 40).map(i => (i.toLong, "base")).toDF("id", "v"), Seq("id"),
      numBuckets = 4)
    // the competitor lands between our matched-file probe and our CAS:
    // it moves keys 1..5 into fresh files of its own version
    var raced = false
    val racingIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          exp: Option[String]): Unit = {
        if (!raced && exp.isDefined) {
          raced = true
          plain.upsertBucketed(spark, "t",
            ((1 to 5) ++ (100 to 104)).map(i => (i.toLong, "comp"))
              .toDF("id", "v"), Seq("id"))
        }
        PosixStoreIo.swapPointerIfCurrent(p, c, exp)
      }
    }
    val store = new ParquetTableStore(root, keepVersions = 10, io = racingIo)
    val ours = ((1 to 5) :+ 200).map(i => (i.toLong, "ours")).toDF("id", "v")
    intercept[ConcurrentCommitException](
      store.upsertBucketed(spark, "t", ours, Seq("id")))
    store.withCommitRetries()(store.upsertBucketed(spark, "t", ours, Seq("id")))
    val got = plain.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // a stale file list would link the competitor's copies of 1..5
    assert(got.size == 46 && got.map(_._1).distinct.size == 46, got.sorted)
    assert(got.filter(_._2 == "ours").map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L, 200L))
    assert(got.filter(_._2 == "comp").map(_._1).toSet == (100L to 104L).toSet)
  }

  test("create, append and upsert write one file per touched bucket from min(n, parallelism) tasks") {
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // tasks of every stage that wrote output bytes
    val writeStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.outputMetrics.bytesWritten > 0)
          writeStages.add(e.stageInfo.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    /** The write-task counts of `op`'s stages (listener delivery is
      * asynchronous: wait until the write stage has been reported). */
    def writeTasks(op: => Unit): Seq[Int] = {
      writeStages.clear()
      op
      val deadline = System.currentTimeMillis() + 10000
      while (writeStages.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(300)
      writeStages.asScala.toSeq
    }
    try {
      val parallelism = spark.sparkContext.defaultParallelism
      for (n <- Seq(32, 2)) {
        val root = tmpDir(s"bmerge-layout-$n")
        val store = new ParquetTableStore(root, keepVersions = 10)
        def rows(lo: Int, hi: Int, tag: String) =
          (lo until hi).map(i => (i.toLong, s"$tag$i")).toDF("id", "v")
        def bucketsOf(ids: Range): Set[Int] =
          ids.map(_.toLong).toDF("id").select(pmod(hash(col("id")), lit(n)))
            .collect().map(_.getInt(0)).toSet
        var prevFiles = Map.empty[String, Long]
        def assertOneFreshPerBucket(what: String, ids: Range): Unit = {
          val files = dataFiles(liveDir(root, "t"))
          val fresh = (files.keySet -- prevFiles.keySet).toSeq.map(bucketOfRel)
          assert(fresh.sorted == bucketsOf(ids).toSeq.sorted, s"$what n=$n")
          prevFiles = files
        }
        val expectedTasks = Seq(math.min(n, parallelism))
        assert(writeTasks(store.upsertBucketed(spark, "t", rows(0, 1500, "c"),
          Seq("id"), numBuckets = n)) == expectedTasks, s"create n=$n")
        assertOneFreshPerBucket("create", 0 until 1500)
        assert(writeTasks(store.appendBucketed(spark, "t", rows(1500, 3000, "a"),
          Seq("id"))) == expectedTasks, s"append n=$n")
        assertOneFreshPerBucket("append", 1500 until 3000)
        // n = 2 has 2 files per bucket now: a new-key upsert adds a
        // third, never rewrites
        assert(writeTasks(store.upsertBucketed(spark, "t", rows(3000, 4500, "u"),
          Seq("id"))) == expectedTasks, s"upsert n=$n")
        assertOneFreshPerBucket("upsert", 3000 until 4500)
        assert(store.read(spark, "t").count() == 4500)
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
    }
  }
}
