package graft.ops

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Frequency sketches for corpus-scale hot-item analysis.
  *
  * The library already carries two sketch disciplines — HLL
  * cardinality (a7b) and approximate quantiles (a8b); this adds the
  * third classic: count-min FREQUENCY estimation (Cormode &
  * Muthukrishnan 2005), the tool for hot-token / boilerplate-URL /
  * hot-key detection when an exact per-item count of the long tail
  * is not worth a corpus-sized exchange.
  *
  * Scale shape: the sketch is ONE combinable aggregation whose state
  * is a constant-size counter matrix (depth ≈ ln(1/(1−confidence))
  * rows × width ≈ 2/eps counters — ~800 KB at the defaults,
  * independent of corpus size); counter addition commutes, so
  * map-side partials merge exactly and the estimate is deterministic
  * for a fixed (data, seed) regardless of partitioning. The only
  * driver materialization is the sketch itself plus the k probe
  * rows — both bounded by construction, never corpus-sized.
  */
object Sketches {

  /** HEAVY HITTERS with a count-min error-band canary: the exact
    * top-`k` items of `df(colName)` (ties broken by item — total,
    * engine-portable order), each probed against a count-min sketch
    * built over the SAME column in one constant-state pass, with a
    * boolean asserting the estimate landed inside the sketch's
    * published guarantee band: exact ≤ est ≤ exact + eps·N (N = total
    * item count; a count-min estimate never undershoots, and
    * overshoots by more than eps·N only with probability 1−confidence
    * — deterministic for a fixed input and seed).
    *
    * This is the a7b/a8b/ss8 canary discipline applied to frequency
    * sketching: the exact side IS the oracle-checkable truth, the
    * band pins the sketch against it, and a sketch regression (seed
    * drift, merge bug, width mis-sizing) turns the gate red instead
    * of hiding inside an approximate answer. In production the exact
    * side is replaced by any cheap candidate source (a sample, the
    * previous round's hitters) and the sketch alone answers at
    * scan rate.
    *
    * Returns (item, exact_n, within_band) for the top-k, ordered by
    * (exact_n desc, item). */
  def cmsHeavyHitters(df: DataFrame, colName: String, k: Int,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    val items = df.select(col(colName).cast("string").as("item"))
      .where(col("item").isNotNull)
    // ONE pass, constant-size state. The collect is the sketch
    // itself: width×depth counters, sized by (eps, confidence) only.
    val skBytes = items
      .agg(count_min_sketch(col("item"), lit(eps), lit(confidence),
        lit(seed)).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val sketch = CountMinSketch.readFrom(new ByteArrayInputStream(skBytes))
    val slack = math.ceil(eps * sketch.totalCount()).toLong
    // exact top-k candidates: combinable count + TakeOrdered top-k,
    // then a k-row collect (bounded by construction)
    val exact = items.groupBy("item").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("item"))
      .limit(k)
      .collect()
    val rows = exact.toSeq.map { r =>
      val item = r.getString(0)
      val n = r.getLong(1)
      val est = sketch.estimateCount(item)
      (item, n, est >= n && est <= n + slack)
    }
    import spark.implicits._
    rows.toDF("item", "exact_n", "within_band")
      .orderBy(col("exact_n").desc, col("item"))
  }

  /** The raw serialized count-min sketch of `df(colName)` — for
    * callers that build once and probe many times (the d10/ss9
    * stored-artifact discipline: persist the bytes, probe any later
    * candidate set without another corpus pass). */
  def cmsBuild(df: DataFrame, colName: String, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 42): CountMinSketch = {
    val bytes = df.select(col(colName).cast("string").as("item"))
      .where(col("item").isNotNull)
      .agg(count_min_sketch(col("item"), lit(eps), lit(confidence),
        lit(seed)).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Merge the per-batch sketch rows maintained by
    * [[graft.streaming.Streams.sketchIngest]] into ONE queryable
    * sketch. Counter addition commutes, so the merged sketch is
    * EXACTLY the sketch of the concatenated stream regardless of
    * batch boundaries or merge order. The collect is one
    * counter-matrix-sized row per micro-batch — bounded by ingest
    * cadence, and [[compactSketchRows]] keeps it flat. */
  def mergedFromStore(spark: org.apache.spark.sql.SparkSession,
      store: ParquetTableStore,
      sketchTable: String = "token_cms"): CountMinSketch = {
    val rows = store.read(spark, sketchTable)
      .select("sketch").collect()
    require(rows.nonEmpty, s"$sketchTable has no sketch rows")
    rows.map(r => CountMinSketch.readFrom(
        new ByteArrayInputStream(r.getAs[Array[Byte]](0))))
      .reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** Fold all per-batch sketch rows EXCEPT the latest into one base
    * row (batch_id = the largest compacted id), keeping the row count
    * flat as the stream runs. Estimates are unchanged — the fold is
    * the same counter addition the read-path merge does.
    *
    * The latest row is deliberately left alone: Structured Streaming
    * replays at most the last uncommitted batch, whose re-upsert must
    * land on its OWN key (replacing identical bytes) — folding it
    * into the base would turn that idempotent replay into a double
    * count. Rows strictly below the latest are checkpoint-committed
    * and can never replay. The read-fold-replace publishes through
    * [[ParquetTableStore.readPinned]] and a pinned [[ParquetTableStore.commit]]
    * INSIDE the store's CAS retry, so the publish CAS is pinned to
    * the exact pointer the rows were read from: a concurrent batch
    * upsert landing between the read and the publish makes the CAS
    * throw, and the retry re-reads and re-folds against the winner's
    * rows instead of silently dropping its batch (unlike
    * compactBuckets this rewrite is only a semantic no-op when
    * derived from the CURRENT row set, so a publish-time pointer
    * re-read would be a lost update). Returns the net row-count
    * reduction. */
  def compactSketchRows(spark: org.apache.spark.sql.SparkSession,
      store: ParquetTableStore,
      sketchTable: String = "token_cms"): Int = {
    import spark.implicits._
    store.withCommitRetries() {
      val (snapshot, pin) = store.readPinned(spark, sketchTable)
      val rows = snapshot
        .select("batch_id", "sketch")
        .collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        .sortBy(_._1)
      if (rows.length <= 2) 0
      else {
        val (fold, keep) = (rows.dropRight(1), rows.last)
        val base = fold.map(_._2)
          .map(b => CountMinSketch.readFrom(new ByteArrayInputStream(b)))
          .reduce { (a, b) => a.mergeInPlace(b); a }
        val out = new java.io.ByteArrayOutputStream()
        base.writeTo(out)
        store.commit(spark, sketchTable,
          Seq((fold.last._1, out.toByteArray), keep)
            .toDF("batch_id", "sketch"), Expect.Pinned(pin))
        fold.length - 1
      }
    }
  }
}
