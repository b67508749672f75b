package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental near-dup probe ([[Dedup.incrementalLshPairs]]): a new
  * ingest batch against a stored LSH index, without re-signaturing
  * the corpus. The contract under test:
  *  - results equal the full-corpus pair mine restricted to
  *    cross (corpus × batch) pairs — incremental is a cost shape,
  *    not a different algorithm;
  *  - the corpus tables are probed at scan rate: both corpus-side
  *    joins are broadcast (batch side / candidate side builds), so
  *    nothing corpus-sized ever exchanges;
  *  - the stored artifacts round-trip through the table store and
  *    probe identically (the deployment loop);
  *  - zero retained RDD blocks (round-3 invariant).
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  // near-dup batch: drop the leading token of every 4th doc — the
  // same perturbation the catalog corpus manufactures
  private def corpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id").as("id"), col("text"))

  private def batch = corpus.filter(col("id") % 4 === 0)
    .select((col("id") + 10000).as("id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))

  private def probePairs = {
    val sigs = Dedup.lshSignatures(corpus, "id", "text")
    val index = Dedup.lshBandIndex(sigs)
    Dedup.incrementalLshPairs(batch, "id", "text", index, sigs,
      threshold = 0.5)
  }

  test("incremental probe equals the full run restricted to cross pairs") {
    val full = Dedup.minhashLshPairs(corpus.unionByName(batch), "id",
      "text", threshold = 0.5)
      // corpus ids < 10000 <= batch ids, so cross pairs are exactly
      // the (id_a old, id_b new) rows of the ordered full output
      .filter(col("id_a") < 10000 && col("id_b") >= 10000)
      .select(col("id_a").as("corpus_id"), col("id_b").as("new_id"),
        col("jaccard"))
    val inc = probePairs
    assert(inc.count() > 0)
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0)
  }

  test("corpus index and signatures are probed by broadcast, never shuffled") {
    // the deployment shape: the corpus artifacts are STORED tables
    // (pure scans), not inline plans carrying their build barrier
    val dir = tmpDir("inc-dedup-plan")
    val sigs = Dedup.lshSignatures(corpus, "id", "text")
    sigs.write.parquet(s"$dir/sigs")
    Dedup.lshBandIndex(sigs).write.parquet(s"$dir/index")
    val plan = Dedup.incrementalLshPairs(batch, "id", "text",
      spark.read.parquet(s"$dir/index"), spark.read.parquet(s"$dir/sigs"),
      threshold = 0.5)
      .queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 2, s"expected both corpus probes broadcast:\n$plan")
    // the only shuffle-partitioned exchanges are batch/candidate-
    // sized: the batch barrier (band side + verify side), the
    // candidate distinct, and the final pair join's two small sides
    val exchanges = "hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 5, s"corpus-sized exchange crept in:\n$plan")
  }

  test("stored index + signatures probe identically (store round-trip)") {
    val store = new ParquetTableStore(tmpDir("inc-dedup-store"))
    val (sigs, _) = store.commit(spark, "lsh_signatures",
      Dedup.lshSignatures(corpus, "id", "text"))
    val (index, _) = store.commit(spark, "lsh_band_index",
      Dedup.lshBandIndex(sigs))
    val fromStore = Dedup.incrementalLshPairs(batch, "id", "text",
      store.read(spark, "lsh_band_index"),
      store.read(spark, "lsh_signatures"), threshold = 0.5)
    assert(fromStore.except(probePairs).count() == 0 &&
      probePairs.except(fromStore).count() == 0)
  }

  test("incremental probe retains no blocks after materialization") {
    probePairs.count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"retained: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }
}
