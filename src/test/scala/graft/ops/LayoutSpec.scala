package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // two independent uniform dimensions — the shape where a single
  // sort helps one column and abandons the other
  private def fixture: DataFrame = {
    val rnd = new scala.util.Random(7)
    (1 to 4096).map(i =>
      (i.toLong, rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong))
      .toDF("id", "x", "y")
  }

  /** Pruning proxy: mean per-file (max-min)/(globalMax-globalMin). */
  private def meanSpan(path: String, c: String): Double = {
    val df = spark.read.parquet(path)
      .select(col(c), input_file_name().as("f"))
    val g = df.agg(max(c) - min(c)).head.getLong(0).toDouble
    val spans = df.groupBy("f").agg((max(c) - min(c)).as("s"))
      .select(avg("s")).head.getDouble(0)
    spans / g
  }

  test("z-order shrinks per-file spans on BOTH columns; content untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("layoutspec").toString
    val data = fixture
    data.repartition(16).write.mode("overwrite").parquet(s"$tmp/plain")
    Layout.zorderWrite(data, "x", "y", s"$tmp/z", numFiles = 16)

    // layout only: the row multiset is identical
    val a = spark.read.parquet(s"$tmp/z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val b = data.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.toSeq == b.toSeq)

    // hash-random layout: every file spans ~the full domain (~1.0).
    // 16 z-files cut the curve on its top 4 bits — TWO high bits of
    // EACH column's rank pin per segment (the interleave alternates),
    // so per-file spans land near 0.25-0.35 on both axes; at 8 files
    // the split is asymmetric (x gets one bit, span ~0.5-0.6 —
    // measured), which is why the file count matters
    val px = meanSpan(s"$tmp/plain", "x")
    val py = meanSpan(s"$tmp/plain", "y")
    val zx = meanSpan(s"$tmp/z", "x")
    val zy = meanSpan(s"$tmp/z", "y")
    assert(zx < px * 0.6 && zy < py * 0.6,
      s"z spans ($zx, $zy) must beat plain spans ($px, $py) on both axes")

    // and the write's only wide exchange is the ONE range partition
    val plan = {
      val zdf = Layout.zValue(data, "x", "y")
        .repartitionByRange(16, col("__z"))
      zdf.queryExecution.executedPlan.toString
    }
    assert("rangepartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("zorderPublish: versioned scan-optimized artifact, content = source") {
    val store = new ParquetTableStore(tmpDir("layout-pub"))
    store.commit(spark, "src", fixture)
    Layout.zorderPublish(spark, store, "src", "pub", "x", "y", numFiles = 16)
    // layout only: the published table is the source, row for row
    val a = store.read(spark, "pub").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val b = fixture.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.toSeq == b.toSeq)
    // the artifact is genuinely clustered: both axes' per-file spans
    // beat the source table's hash layout
    val pubPath = java.nio.file.Paths
      .get(new java.net.URI(store.read(spark, "pub").inputFiles.head))
      .getParent.toString
    assert(meanSpan(pubPath, "x") < 0.6 && meanSpan(pubPath, "y") < 0.6)
    // re-publish lands a NEW version through the ordinary CAS commit
    val v1 = store.currentVersion("pub").get
    Layout.zorderPublish(spark, store, "src", "pub", "x", "y", numFiles = 16)
    assert(store.currentVersion("pub").contains(v1 + 1))
  }

  test("zone-mapped publish: pruned read ≡ filter, file list genuinely cut, refusals loud") {
    val store = new ParquetTableStore(tmpDir("layout-zm"))
    store.commit(spark, "src", fixture)
    Layout.zorderPublish(spark, store, "src", "pub", "x", "y",
      numFiles = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // pruned ≡ full-scan filter (the u12 pin, locally)
    val pruned = rows(store.readZonePruned(spark, "pub", "x", 1000L, 5000L))
    val full = rows(store.read(spark, "pub")
      .filter(col("x") >= 1000L && col("x") <= 5000L))
    assert(pruned.nonEmpty && pruned == full)
    // the cut is real: a ~4% x-range on the 16-file z-layout touches
    // a strict subset; the same range on an UN-clustered zone-mapped
    // commit touches more files (nearly all — every file spans the
    // domain under hash layout)
    val (keptZ, totZ) = store.zoneMapFileCounts(spark, "pub", "x",
      1000L, 5000L)
    assert(keptZ < totZ && totZ >= 8, s"kept $keptZ of $totZ")
    store.declareZoneColumns("plain", Seq("x", "y"))
    store.commit(spark, "plain", fixture.repartition(16))
    val (keptP, _) = store.zoneMapFileCounts(spark, "plain", "x",
      1000L, 5000L)
    assert(keptZ < keptP, s"z kept $keptZ, plain kept $keptP")
    // empty intersection: zero files read, empty result, schema intact
    val (kept0, _) = store.zoneMapFileCounts(spark, "pub", "x",
      900000L, 990000L)
    assert(kept0 == 0)
    val empty = store.readZonePruned(spark, "pub", "x", 900000L, 990000L)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "x", "y"))
    // refusals, never a silent full scan: a version with no zone map;
    // a column the map doesn't cover
    store.commit(spark, "nomap", fixture)
    val ex = intercept[IllegalStateException] {
      store.readZonePruned(spark, "nomap", "x", 0L, 10L)
    }
    assert(ex.getMessage.contains("zone map"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      store.readZonePruned(spark, "pub", "id", 0L, 10L)
    }
    assert(ex2.getMessage.contains("does not cover"), ex2.getMessage)
  }

  test("3-column z-order shrinks per-file spans on ALL axes; content untouched") {
    val rnd = new scala.util.Random(11)
    val data = (1 to 4096).map(i =>
      (i.toLong, rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong,
        rnd.nextInt(100000).toLong))
      .toDF("id", "x", "y", "w")
    val tmp = java.nio.file.Files.createTempDirectory("layout3").toString
    data.repartition(16).write.mode("overwrite").parquet(s"$tmp/plain")
    Layout.zorderWrite(data, Seq("x", "y", "w"), s"$tmp/z", numFiles = 64)

    val a = spark.read.parquet(s"$tmp/z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    val b = data.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(a.toSeq == b.toSeq)

    // 64 z-files pin the curve's top 6 bits = TWO high bits of each
    // of the 3 interleaved ranks — every axis' per-file span must
    // shrink well below the hash layout's ~1.0
    for (c <- Seq("x", "y", "w")) {
      val p = meanSpan(s"$tmp/plain", c)
      val z = meanSpan(s"$tmp/z", c)
      assert(z < p * 0.6, s"axis $c: z span $z must beat plain $p")
    }
  }

  test("4-column curve stays in a signed long's non-negative range (15-bit ranks)") {
    // all-max corners: every rank saturates, so __z is the curve's
    // maximum — with 16-bit ranks this would overflow into the sign
    // bit (4x16 = 64); the width derivation must cap at 15
    val df = Seq((0L, 0L, 0L, 0L, 0L), (1L, 9L, 9L, 9L, 9L))
      .toDF("id", "a", "b", "c", "d")
    val z = Layout.zValue(df, Seq("a", "b", "c", "d")).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(z(0L) == 0L)
    assert(z(1L) == (1L << 60) - 1, s"got ${z(1L).toHexString}")
    assert(z.values.forall(_ >= 0L))
    intercept[IllegalArgumentException] {
      Layout.zValue(df, Seq("a"))
    }
    intercept[IllegalArgumentException] {
      Layout.zValue(df, Seq("a", "a"))
    }
  }

  test("z-value: interleave puts x in even bits, constant column ranks zero") {
    val df = Seq((0L, 0L, 0L), (1L, 65535L, 0L), (2L, 0L, 65535L))
      .toDF("id", "x", "y")
    // y is NOT constant here; craft exact bounds: x,y in [0, 65535]
    val z = Layout.zValue(df, "x", "y").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // x=65535,y=0 -> all even bits: 0x5555555555...
    assert(z(1L) == 0x55555555L, z(1L).toHexString)
    assert(z(2L) == 0xAAAAAAAAL, z(2L).toHexString)
    assert(z(0L) == 0L)
    val const = Seq((0L, 5L, 1L), (1L, 5L, 2L)).toDF("id", "x", "y")
    val zc = Layout.zValue(const, "x", "y").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // constant x ranks 0 everywhere -> only odd (y) bits may be set
    assert(zc.values.forall(v => (v & 0x55555555L) == 0L), zc)
  }
}
