package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streams

/** Crash recovery of the stored IVF/PQ index families. Each family is
  * one store group, so a mutation that dies at ANY pointer swap must
  * leave the probe on the previous marker's answer, and re-running the
  * mutation must converge on a clean run. */
class StoredIndexCrashSpec extends SparkSpec {

  // a deterministic 500 × 64 corpus, the shape the ingest loops read
  private lazy val corpus = spark.range(500).select(col("id"),
    array((0 until 64).map(j =>
      sin(col("id") * 0.61 + j * 1.7).cast("float")): _*).as("embedding"))
  private lazy val delta = corpus.filter(col("id") % 7 === 0)
    .select(col("id"), reverse(col("embedding")).as("embedding"))
  private lazy val mutated = corpus.select(col("id"),
    when(col("id") % 7 === 0, reverse(col("embedding")))
      .otherwise(col("embedding")).as("embedding"))
  private lazy val queries = mutated.filter(col("id") < 20)
  // what a rebuild indexes: the mutated corpus minus every 5th id, so
  // the rebuilt index answers differently whatever the probe depth
  private lazy val rebuilt = mutated.filter(col("id") % 5 =!= 0)

  private final class Crash(k: Int)
      extends RuntimeException(s"injected crash at pointer swap $k")

  /** Posix I/O that dies at the `k`-th pointer CAS (the swap does not
    * happen); `swaps` counts the CASes attempted. */
  private final class CrashingIo(k: Int) extends StoreIo {
    var swaps = 0
    override def swapPointer(p: Path, c: String): Unit =
      PosixStoreIo.swapPointer(p, c)
    override def shareFile(s: Path, d: Path): Unit =
      PosixStoreIo.shareFile(s, d)
    override def deletePointerIfCurrent(p: Path, e: String): Unit =
      PosixStoreIo.deletePointerIfCurrent(p, e)
    override def swapPointerIfCurrent(p: Path, c: String,
        e: Option[String]): Unit = {
      swaps += 1
      if (swaps == k) throw new Crash(k)
      PosixStoreIo.swapPointerIfCurrent(p, c, e)
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
  }

  private def causedBy(t: Throwable, p: Throwable => Boolean): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).exists(p)

  /** For every pointer swap `mutate` makes over the `setup` state,
    * crash there and check: the probe still answers the pre-mutation
    * state exactly, and re-running the mutation gives the clean run's
    * answer. Each run gets its own copy of the setup root (the store
    * lives in `<root>/store`; a stream checkpoint can sit beside it);
    * `inspect` sees the store as each crash left it. Returns the
    * number of pointer swaps the mutation makes, and whether it moves
    * the probe's answer. */
  private def everyCrashPoint[A](name: String,
      setup: (ParquetTableStore, String) => Unit,
      mutate: (ParquetTableStore, String) => Unit,
      probe: ParquetTableStore => A)(
      inspect: ParquetTableStore => Unit = _ => ()): (Int, Boolean) = {
    val template = tmpDir(s"crash-$name")
    setup(new ParquetTableStore(s"$template/store"), template)
    def fork(): String = {
      val root = tmpDir(s"crash-$name-k")
      copyTree(template, root)
      root
    }
    val pre = probe(new ParquetTableStore(s"$template/store"))
    val cleanRoot = fork()
    val counting = new CrashingIo(Int.MaxValue)
    mutate(new ParquetTableStore(s"$cleanRoot/store", io = counting), cleanRoot)
    val clean = probe(new ParquetTableStore(s"$cleanRoot/store"))
    val n = counting.swaps
    assert(n >= 3, s"$name: only $n pointer swaps")
    for (k <- 1 to n) {
      val root = fork()
      val ex = intercept[Throwable](
        mutate(new ParquetTableStore(s"$root/store", io = new CrashingIo(k)), root))
      assert(causedBy(ex, _.isInstanceOf[Crash]), s"$name k=$k: $ex")
      val store = new ParquetTableStore(s"$root/store")
      assert(probe(store) == pre, s"$name: crash at swap $k/$n is visible")
      inspect(store)
      mutate(store, root)
      assert(probe(store) == clean, s"$name: re-run after crash at $k/$n")
    }
    (n, clean != pre)
  }

  private def ivfProbe(st: ParquetTableStore) =
    SimilaritySearch.ivfTopKStored(queries, mutated, "id", "embedding", st,
      k = 5, probes = 8, cellCap = 1000).collect().toSet

  private def pqProbe(st: ParquetTableStore) =
    SimilaritySearch.pqTopKStored(queries, "id", "embedding", st, k = 5)
      .collect().toSet

  private def ivfBuild(df: DataFrame)(st: ParquetTableStore): Unit =
    SimilaritySearch.ivfBuildIndexStored(df, "id", "embedding", st,
      numCentroids = 16, numBuckets = 4)

  private def pqBuild(df: DataFrame)(st: ParquetTableStore): Unit =
    SimilaritySearch.pqBuildIndexStored(df, "id", "embedding", st,
      m = 8, ks = 16, dim = 64, numBuckets = 4)

  private def ivfReindex(st: ParquetTableStore): Unit =
    SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", st)

  private def pqReindex(st: ParquetTableStore): Unit =
    SimilaritySearch.pqReindexVectors(delta, "id", "embedding", st)

  test("stored IVF: a crash at any pointer swap of build, reindex or compact is invisible and re-runs clean") {
    val built = (st: ParquetTableStore, _: String) => ivfBuild(corpus)(st)
    val reindexed = (st: ParquetTableStore, r: String) => {
      built(st, r); ivfReindex(st)
    }
    assert(everyCrashPoint("ivf-build", reindexed,
      (st, _) => ivfBuild(rebuilt)(st), ivfProbe)() == ((4, true)))
    assert(everyCrashPoint("ivf-reindex", built,
      (st, _) => ivfReindex(st), ivfProbe)() == ((3, true)))
    assert(everyCrashPoint("ivf-compact", reindexed,
      (st, _) => SimilaritySearch.ivfCompactIndex(spark, st), ivfProbe)() == ((3, false)))
  }

  test("stored PQ: a crash at any pointer swap of build, reindex or compact is invisible and re-runs clean") {
    val built = (st: ParquetTableStore, _: String) => pqBuild(corpus)(st)
    val reindexed = (st: ParquetTableStore, r: String) => {
      built(st, r); pqReindex(st)
    }
    assert(everyCrashPoint("pq-build", reindexed,
      (st, _) => pqBuild(rebuilt)(st), pqProbe)() == ((4, true)))
    assert(everyCrashPoint("pq-reindex", built,
      (st, _) => pqReindex(st), pqProbe)() == ((3, true)))
    assert(everyCrashPoint("pq-compact", reindexed,
      (st, _) => SimilaritySearch.pqCompactIndex(spark, st), pqProbe)() == ((3, false)))
  }

  test("ivfPqIngest: a crash at any pointer swap of a batch never shows a cross-family tear") {
    // batch 1 builds both families; batch 2 (inserts + the updated
    // every-7th vectors) crashes at each swap of its two folds and the
    // pair marker, then replays from the checkpoint. The inbox is
    // shared by every copy: the checkpoint names its files by path
    val inbox = s"${tmpDir("crash-ivfpq")}/in"
    corpus.filter(col("id") < 300).coalesce(1).write.parquet(inbox)
    def ingest(st: ParquetTableStore, root: String): Unit = {
      val q = Streams.ivfPqIngest(spark, inbox, s"$root/ck", st)
      try q.awaitTermination(120000) finally if (q.isActive) q.stop()
    }
    def pairProbe(st: ParquetTableStore) =
      SimilaritySearch.ivfPqTopKStored(queries, "id", "embedding", st,
        k = 5, probes = 8, cellCap = 1000).collect().toSet
    def familyMoved(st: ParquetTableStore, family: String): Boolean =
      st.groupVersions(family).get != st.groupVersions("ivfpq_pair_meta")
        .get.filter(_._1.startsWith(family.takeWhile(_ != '_')))
    var tears = 0
    val (n, moved) = everyCrashPoint("ivfpq-ingest",
      (st, root) => {
        ingest(st, root)
        mutated.filter(col("id") >= 300 || col("id") % 7 === 0)
          .coalesce(1).write.mode("append").parquet(inbox)
      },
      ingest, pairProbe) { st =>
      if (familyMoved(st, "ivf_meta") && !familyMoved(st, "pq_meta"))
        tears += 1
    }
    assert(n == 7 && moved)
    // the crashes after the IVF marker swap and before the PQ one
    assert(tears == 3, s"IVF folded / PQ not was reached $tears times")
  }

  test("parent-format store: probes, mutators and ingest loops refuse typed; a rebuild answers like a fresh store") {
    import spark.implicits._
    def buildAll(st: ParquetTableStore): Unit = {
      ivfBuild(corpus)(st); pqBuild(corpus)(st)
      ivfReindex(st); pqReindex(st)
      SimilaritySearch.ivfPqPairPin(spark, st)
    }
    def probes(st: ParquetTableStore) = (ivfProbe(st), pqProbe(st),
      SimilaritySearch.ivfPqTopKStored(queries, "id", "embedding", st,
        k = 5, probes = 8, cellCap = 1000).collect().toSet)
    val fresh = new ParquetTableStore(tmpDir("parent-fresh"))
    buildAll(fresh)
    val expected = probes(fresh)
    // the parent layout: meta tables pin the members, no markers
    val store = new ParquetTableStore(tmpDir("parent-store"))
    buildAll(store)
    Seq("ivf_meta", "pq_meta", "ivfpq_pair_meta")
      .foreach(g => assert(store.dropGroup(g)))
    store.commit(spark, "ivf_meta", Seq((1L, 1L, 0L))
      .toDF("members_version", "tombstones_version", "codebook_version"))
    store.commit(spark, "pq_meta", Seq((1L, 1L, 0L, 8, 16, 64))
      .toDF("codes_version", "tombstones_version", "codebook_version",
        "m", "ks", "dim"))
    def refused(op: => Any): Unit = {
      val ex = intercept[SimilaritySearch.IndexFormatException](op)
      assert(ex.getMessage.contains("rebuild the index"), ex.getMessage)
    }
    refused(ivfProbe(store))
    refused(pqProbe(store))
    refused(SimilaritySearch.ivfPqTopKStored(queries, "id", "embedding",
      store, k = 5))
    refused(ivfReindex(store))
    refused(pqReindex(store))
    refused(SimilaritySearch.ivfCompactIndex(spark, store))
    // an ingest loop refuses the batch instead of building a new index
    // from it over the old one
    val inbox = s"${tmpDir("parent")}/in"
    delta.coalesce(1).write.parquet(inbox)
    for (start <- Seq(
        () => Streams.ivfPqIngest(spark, inbox, tmpDir("parent-ck1"), store),
        () => Streams.vectorIndexIngest(spark, inbox, tmpDir("parent-ck2"),
          store))) {
      val q = start()
      val ex = intercept[Throwable](q.awaitTermination(120000))
      if (q.isActive) q.stop()
      assert(causedBy(ex,
        _.isInstanceOf[SimilaritySearch.IndexFormatException]), ex)
    }
    assert(store.groupVersions("ivf_meta").isEmpty && store.exists("ivf_meta"))
    // rebuilding is the migration: the meta tables go, the answers are
    // the fresh store's
    buildAll(store)
    assert(!store.exists("ivf_meta") && !store.exists("pq_meta"))
    assert(probes(store) == expected)
  }
}
