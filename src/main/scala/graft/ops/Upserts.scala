package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The upsert / merge / sync operator library — SURVEY §2.5 U1–U9.
  *
  * The reference implements these as row-at-a-time SQLite statements
  * (INSERT OR REPLACE / OR IGNORE / UPDATE / DELETE); here each is one
  * declarative dataflow over whole snapshots:
  *
  *  - every operator is a single equi-join or window on the key
  *    columns — each input row crosses at most one shuffle at any
  *    scale, and Catalyst broadcasts the small side of a join
  *    automatically (incoming batches are typically tiny vs the
  *    stored table);
  *  - anti-join forms are preferred over windows where one anti-join
  *    expresses the semantics (no sort, map-side combinable); where
  *    it would take several joins over the same two inputs (U5), one
  *    window over their union replaces them, and U6 is one full outer
  *    join rather than four;
  *  - nothing collects to the driver.
  *
  * With a transactional table format these all become MERGE INTO
  * (U5 = WHEN NOT MATCHED BY SOURCE DELETE); the plain-parquet
  * persistence side lives in [[ParquetTableStore]].
  */
object Upserts {

  private def keyCols(df: DataFrame, keys: Seq[String]): Seq[Column] =
    keys.map(df(_))

  /** Collapse a batch to one row per key, keeping the row that sorts
    * LAST by `order` — the "last statement wins" semantics a
    * row-at-a-time INSERT OR REPLACE loop has implicitly. */
  def dedupKeepLast(batch: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols(batch, keys): _*)
      .orderBy(order.map(_.desc): _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** U1 (youtube_utils.py:237-258): last-write-wins full-row upsert —
    * INSERT OR REPLACE. Incoming replaces stored wholesale on key
    * match; stored rows without a match survive. Incoming must already
    * be key-unique (use [[dedupKeepLast]] for raw batches). */
  def upsertLastWriteWins(stored: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = stored.join(incoming, keys, "left_anti")
    survivors.unionByName(incoming.select(stored.columns.map(col): _*))
  }

  /** U2 (import_playlists.py:42-50): insert-if-absent — INSERT OR
    * IGNORE. Stored rows always win; only unmatched incoming keys are
    * appended (first occurrence per key). */
  def insertIfAbsent(stored: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val fresh = incoming
      .dropDuplicates(keys)
      .join(stored, keys, "left_anti")
    stored.unionByName(fresh.select(stored.columns.map(col): _*))
  }

  /** U3 (display.py:256-262, update_playlists_metadata.py:85-88):
    * field-subset UPDATE — matched rows take the update's values for
    * `updateCols` only (including explicit nulls — a presence marker,
    * not coalesce); all other columns and all unmatched rows are
    * preserved. Updates for absent keys are ignored, like SQL UPDATE.
    */
  def updateSubset(stored: DataFrame, updates: DataFrame, keys: Seq[String],
      updateCols: Seq[String]): DataFrame = {
    val marked = updates
      .dedupKeys(keys)
      .select((keys.map(col) ++ updateCols.map(c => col(c).as(s"__u_$c")) :+
        lit(true).as("__matched")): _*)
    val joined = stored.join(marked, keys, "left")
    val projected = stored.columns.map { c =>
      if (updateCols.contains(c))
        when(col("__matched"), col(s"__u_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    joined.select(projected.toIndexedSeq: _*)
  }

  private implicit class DedupOps(df: DataFrame) {
    def dedupKeys(keys: Seq[String]): DataFrame = df.dropDuplicates(keys)
  }

  /** U4 (main_scraper.py:167, display.py:696-699): keyed DELETE as an
    * anti-join rewrite of the stored table. */
  def deleteByKey(stored: DataFrame, removals: DataFrame, keys: Seq[String]): DataFrame =
    stored.join(removals.select(keys.map(col): _*).dropDuplicates(keys), keys, "left_anti")

  /** Result of a membership diff-sync: the delta sets plus the
    * reconciled table, all three filters over one tagged frame (the
    * union of both sides, `__stored` telling them apart, `__matched`
    * whether the row's key is present on the other side). */
  final class DiffSync private[Upserts] (flagged: DataFrame,
      storedSchema: StructType, remoteSchema: StructType) {

    private def rows(cond: Column, schema: StructType): DataFrame =
      flagged.filter(cond).select(
        schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

    /** Remote rows whose key has no stored row, in remote's columns
      * (keys first, as an anti-join orders them). */
    def adds: DataFrame = rows(!col("__stored") && !col("__matched"), remoteSchema)

    /** Stored rows whose key has no remote row, in stored's columns
      * (keys first). */
    def removes: DataFrame = rows(col("__stored") && !col("__matched"), storedSchema)

    /** Each retained stored row once, plus the adds, in stored's
      * columns (keys first; types widened across the two sides, like a
      * union). */
    def synced: DataFrame = syncedOf(flagged)

    /** [[synced]] with the adds and removes it applies counted into
      * `counts` (metrics `adds` and `removes`) by whichever action
      * evaluates it — the commit that writes it, with no job of its
      * own. An [[Observation]] serves one action, so each attempt of a
      * retried commit needs a fresh one. */
    def syncedCounting(counts: Observation): DataFrame =
      syncedOf(flagged.observe(counts,
        count_if(!col("__stored") && !col("__matched")).as("adds"),
        count_if(col("__stored") && !col("__matched")).as("removes")))

    // a stored row is kept iff matched, a remote row iff unmatched
    private def syncedOf(df: DataFrame): DataFrame =
      df.filter(col("__stored") === col("__matched"))
        .select(storedSchema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** U5 (main_scraper.py:144-179, scrape_my_channel.py:176-226): diff
    * sync — reconcile stored membership against the remote snapshot:
    * adds = remote − stored (inserted with remote attributes),
    * removes = stored − remote (deleted), retained rows keep their
    * stored attributes (the reference leaves existing rows untouched).
    * Equivalent to MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE.
    *
    * One shuffle: both sides are tagged and unioned (by name; a column
    * only one side has is NULL on the other), and one window over the
    * keys flags whether each key has a row on both sides. Semantics
    * are those of the anti/semi joins it replaces, duplicates
    * included: every stored row of a key remote also has is retained,
    * every remote row of a key stored lacks is an add, and a key with
    * a NULL component never matches (its rows are adds or removes).
    */
  def diffSync(stored: DataFrame, remote: DataFrame, keys: Seq[String]): DiffSync = {
    val tagged = stored.withColumn("__stored", lit(true))
      .unionByName(remote.withColumn("__stored", lit(false)),
        allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
    // both sides present ⇔ the key group holds a true AND a false tag
    val matched = keys.map(col(_).isNotNull).reduce(_ && _) &&
      max(col("__stored")).over(w) && !min(col("__stored")).over(w)
    // the anti/semi joins' column order: keys first, then the rest
    def keysFirst(s: StructType) =
      StructType(keys.map(s(_)) ++ s.filterNot(f => keys.contains(f.name)))
    new DiffSync(tagged.withColumn("__matched", matched),
      keysFirst(stored.schema), keysFirst(remote.schema))
  }

  /** U6 (add_transcripts.py:168-195): conditional upsert — a matched
    * row is replaced only when `incomingWins(inc, old)` holds (the
    * reference: "timestamped transcripts always win"); unmatched
    * incoming rows are inserted. `inc`/`old` resolve column names on
    * the respective side.
    *
    * One full outer join on the keys (one shuffle per side): each
    * matched pair emits the incoming row when the predicate is true,
    * the stored row when it is false, and nothing when it is NULL;
    * every unmatched row of either side is kept, NULL keys included
    * (they never match). With duplicate keys each matched pair decides
    * on its own. Output has stored's columns; a full outer join cannot
    * prove a column non-NULL, so every output column is nullable. */
  def conditionalUpsert(stored: DataFrame, incoming: DataFrame, keys: Seq[String])(
      incomingWins: (String => Column, String => Column) => Column): DataFrame = {
    // each side's columns renamed apart, plus a presence flag named
    // like the prefix: references resolve by name, so two sides of one
    // lineage (a self-join to the analyzer) stay unambiguous
    def side(df: DataFrame, p: String): DataFrame =
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(s"${p}_$c")) :+
        lit(true).as(p): _*)
    val inc = (c: String) => col(s"__inc_$c")
    val old = (c: String) => col(s"__old_$c")
    val cond = keys.map(k => inc(k) === old(k)).reduce(_ && _)
    // true → incoming row, false → stored row, NULL → drop the pair
    val takeInc = when(col("__old").isNull, true)
      .when(col("__inc").isNull, false)
      .otherwise(incomingWins(inc, old))
    side(incoming, "__inc").join(side(stored, "__old"), cond, "full_outer")
      .withColumn("__take", takeInc)
      .filter(col("__take").isNotNull)
      .select(stored.columns.toIndexedSeq.map(c =>
        when(col("__take"), inc(c)).otherwise(old(c)).as(c)): _*)
  }

  /** U7 (main_scraper.py:35-36,342-356): freshness-gated work list —
    * rows never scraped or older than `days` before `now`. Drives the
    * connector fan-out; `now` injected for reproducibility. */
  def freshnessGate(df: DataFrame, tsCol: String, now: Column, days: Int): DataFrame =
    df.filter(col(tsCol).isNull || col(tsCol) < now - expr(s"INTERVAL $days DAYS"))

  /** U8 (playlist_video_extractor.py:32-42): idempotent-job ledger —
    * drop work items already recorded. */
  def skipProcessed(work: DataFrame, ledger: DataFrame, workKey: String,
      ledgerKey: String): DataFrame =
    work.join(ledger.select(col(ledgerKey).as(workKey)), Seq(workKey), "left_anti")

  /** U9 (main_scraper.py:276-331,383-391): append-only status pings;
    * the "current status" view is latest-event-per-key — derived by
    * window, never by UPDATE, so the log stays immutable (and the view
    * is one shuffle). */
  def latestByKey(log: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols(log, keys): _*)
      .orderBy(order.map(_.desc): _*)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
