package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER data layout: co-cluster rows on the space-filling curve of
  * N numeric columns so parquet min/max statistics prune on ALL of
  * them — a single-column sort gives perfect pruning on one column
  * and none on the others; the z-curve gives useful pruning on each.
  * This is the lakehouse write-path optimization (Delta/Iceberg's
  * OPTIMIZE ZORDER, which takes 1-4 columns in practice) for the
  * multi-predicate scan patterns the catalog's P rows represent — at
  * 100 TB, file skipping is the difference between touching 1% and
  * 100% of the lake.
  *
  * Mechanics: each column min/max-normalizes to a B-bit rank (the
  * 1-row bounds frame broadcasts), ranks bit-interleave into the
  * z-value (codegen'd shift/mask terms; bit j of column k lands at
  * position j·N + k, so low bit-planes alternate across all N
  * columns), and the write repartitionByRange's on z — the ONE
  * total-order exchange any clustered write needs — with rows
  * z-sorted within each file. B = min(16, 63/N) keeps the curve
  * inside a signed long's non-negative range (N=2,3 → 16 bits; N=4 →
  * 15 — resolution far beyond any realistic file count) while wider
  * curves (up to 6 columns) trade per-axis resolution for breadth
  * exactly the way the lakehouse engines do. Content is untouched
  * (layout only), which is what the spec and the u10/u11 gates pin,
  * along with the measured pruning proxy: mean per-file normalized
  * span shrinks on EVERY curve column vs the unordered layout. */
object Layout {

  /** Per-column rank bits: 16 while N·B fits the 63 non-negative
    * bits of a signed long, fewer for wide curves. */
  private def rankBits(n: Int): Int = math.min(16, 63 / n)

  /** B-bit min-max rank (0 .. 2^B - 1); constant columns rank 0. */
  private def rank(c: Column, mn: Column, mx: Column, bits: Int): Column = {
    val cells = (1L << bits).toDouble
    when(mx === mn, lit(0L)).otherwise(
      least(floor((c.cast("double") - mn.cast("double"))
        / (mx.cast("double") - mn.cast("double")) * cells), lit(cells - 1))
        .cast("long"))
  }

  /** Bit-interleave N B-bit ranks: bit j of rank k → position j·N+k
    * (column 0 in the lowest plane — for N=2 exactly the classic
    * x-even / y-odd layout). */
  private def interleave(ranks: Seq[Column], bits: Int): Column = {
    val n = ranks.size
    ranks.zipWithIndex.foldLeft(lit(0L)) { case (acc, (r, k)) =>
      (0 until bits).foldLeft(acc) { (a, j) =>
        a + shiftright(r, j).bitwiseAND(lit(1L)) * lit(1L << (j * n + k))
      }
    }
  }

  /** The input plus a `__z` curve position over `cols` (2-6 numeric
    * columns; the 1-row bounds frame broadcasts). */
  def zValue(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 6,
      s"z-order takes 2-6 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate z-order column in $cols")
    val bits = rankBits(cols.size)
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"__mn$i"), max(col(c)).as(s"__mx$i")) }
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      rank(col(c), col(s"__mn$i"), col(s"__mx$i"), bits) }
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", interleave(ranks, bits))
      .drop(cols.indices.flatMap(i => Seq(s"__mn$i", s"__mx$i")): _*)
  }

  /** The input plus a `__z` curve position (two-column form). */
  def zValue(df: DataFrame, cx: String, cy: String): DataFrame =
    zValue(df, Seq(cx, cy))

  private def clustered(df: DataFrame, cols: Seq[String],
      numFiles: Int): DataFrame = {
    require(numFiles >= 1, s"numFiles must be positive, got $numFiles")
    zValue(df, cols)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Write `df` z-clustered on `cols` into ~numFiles files. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int): Unit =
    clustered(df, cols, numFiles).write.mode("overwrite").parquet(path)

  /** Write `df` z-clustered on (cx, cy) into ~numFiles files. */
  def zorderWrite(df: DataFrame, cx: String, cy: String, path: String,
      numFiles: Int): Unit =
    zorderWrite(df, Seq(cx, cy), path, numFiles)

  /** MAINTENANCE/PUBLISH: commit `target` as the z-clustered snapshot
    * of the live `source` table — the "publish a scan-optimized
    * artifact" step a curation pipeline runs after its ingest loop:
    * the ingest-side table stays bucketed-by-key for O(delta)
    * upserts, while analytic consumers read the published layout
    * whose parquet min/max stats prune on EVERY curve column.
    * Content is untouched (layout only — the u10/u11 gates pin the
    * semantic no-op through a DuckDB oracle); the commit is an
    * ordinary CAS-versioned publish, and since the target derives
    * from the SOURCE's snapshot (not from the target's own prior
    * content) a lost pointer race needs no pin — the retry re-reads
    * the source and re-publishes.
    *
    * The publish is ZONE-MAPPED on the curve columns (declared via
    * [[ParquetTableStore.declareZoneColumns]], so the commit writes
    * the map version-atomically): the clustering makes
    * per-file ranges narrow, the sidecar makes them actionable —
    * [[ParquetTableStore.readZonePruned]] then cuts the file list
    * before the scan instead of relying on footer stats alone (gate
    * u12 pins pruned ≡ full; LayoutSpec pins the file-count drop). */
  def zorderPublish(spark: org.apache.spark.sql.SparkSession,
      store: ParquetTableStore, source: String, target: String,
      cols: Seq[String], numFiles: Int): DataFrame =
    store.withCommitRetries() {
      val bound = store.declareZoneColumns(target, cols)
      require(bound == cols,
        s"table $target zone columns already declared as $bound")
      store.commit(spark, target,
        clustered(store.read(spark, source), cols, numFiles))._1
    }

  /** Two-column publish (see the N-column overload). */
  def zorderPublish(spark: org.apache.spark.sql.SparkSession,
      store: ParquetTableStore, source: String, target: String,
      cx: String, cy: String, numFiles: Int): DataFrame =
    zorderPublish(spark, store, source, target, Seq(cx, cy), numFiles)
}
