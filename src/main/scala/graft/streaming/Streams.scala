package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.connectors.ConnectorRuntime
import graft.functions.YtFunctions
import graft.ingest.TranscriptFiles
import graft.ops.{Expect, ParquetTableStore, Upserts}

/** Structured-Streaming shapes for the reference's streaming-ish
  * patterns (SURVEY §2.9).
  *
  *  - [[inboxStream]]: the add_transcripts.py inbox poll → a file
  *    source over the inbox dir; each micro-batch runs the U6
  *    conditional upsert ("timestamped transcripts win") into the
  *    versioned store via foreachBatch. `cleanSource=delete` replaces
  *    the reference's manual unlink-after-success.
  *  - [[eventCounts]]: append-only run-log/ping events → watermarked
  *    tumbling-window counts (the latest-status view stays a batch
  *    window over the log, W3).
  *  - The 7-day refresh loop maps to Trigger.AvailableNow incremental
  *    batches, not a continuous stream — modeled in batch by U7.
  */
object Streams {

  val inboxSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("content", StringType)))

  /** Run independent-TABLE store commits concurrently, wait for all
    * of them, and return their results in op order — each op returns
    * the version it committed, so a following group-marker swap can
    * pin EXPLICIT versions instead of re-reading heads (a competitor
    * advancing a member between an op's CAS and a head re-read would
    * weave a vector no writer committed together — the torn view the
    * marker exists to rule out). The ingest loops' dominant fixed cost is the
    * per-commit action round (touched-set collect + listing + CAS
    * publish each schedule a full job round, ~mass-independent), and
    * a micro-batch lands 3 artifact tables — serializing them pays
    * that round 3×. The store's atomicity is per table (each
    * pointer's CAS serializes its own publishes), so commits on
    * DISTINCT tables are safe to overlap; callers keep any
    * cross-table ORDERING constraint (rejects-before-artifacts,
    * merge-before-append) by sequencing those commits outside this
    * helper. All ops run to completion even when one fails (no
    * straggler keeps writing while the batch unwinds), then the
    * first failure is rethrown so foreachBatch aborts the batch. */
  private[streaming] def commitInParallel[T](ops: (() => T)*): Seq[T] = {
    // a DEDICATED pool per call, one thread per op — never the global
    // fork-join pool: each op blocks on Spark job rounds + filesystem
    // CAS, not CPU, and the round-12 `blocking{}` marker only asked
    // the shared pool to grow, which left this path's cost hostage to
    // whatever else the JVM had queued on ExecutionContext.global
    // (the st1 8↔34 s battery oscillation — cost nondeterminism, the
    // round-14 verdict's perf-weak item). N short-lived threads per
    // micro-batch are noise next to the commit job rounds they
    // overlap, and the pool's state is now a pure function of this
    // call. All ops run to completion even when one fails (no
    // straggler keeps writing while the batch unwinds), then the
    // first failure is rethrown so foreachBatch aborts the batch.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, ops.size))
    try {
      val futures = ops.map(op =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = op()
        }))
      val done = futures.map(f => scala.util.Try(f.get()))
      done.collectFirst {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw e.getCause
        case scala.util.Failure(e) => throw e
      }
      done.map(_.get)
    } finally pool.shutdown()
  }

  /** Derive an inbox micro-batch size from the dir's file-size stats
    * — the autoBandGeometry discipline applied to stream batching: a
    * fixed file count is wrong in both directions (thousands of tiny
    * transcript files per batch barely amortize the per-batch
    * full-table commit; a few huge exports per batch blow the batch
    * memory budget). Targets `targetBatchBytes` of raw text per
    * micro-batch from the MEAN file size of the files present when
    * the stream starts (the inbox's file-size distribution is stable
    * in steady state; the [1, 4096] clamp bounds the pathological
    * tails). An empty or absent inbox has no stats — fall back to a
    * conservative 16. */
  def autoMaxFilesPerTrigger(inboxDir: String,
      targetBatchBytes: Long = 32L << 20): Int = {
    require(targetBatchBytes >= 1)
    val dir = java.nio.file.Paths.get(inboxDir)
    if (!java.nio.file.Files.isDirectory(dir)) 16
    else {
      val s = java.nio.file.Files.list(dir)
      val sizes =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p))
            // the file source's own hidden-file rule: names starting
            // with '.' or '_' (_SUCCESS, .part-*.crc, dotfiles) are
            // never read, so they must not skew the mean — an inbox
            // populated by a Spark write is >half metadata files and
            // would otherwise clamp the derivation to the ceiling
            .filter { p =>
              val n = p.getFileName.toString
              !n.startsWith(".") && !n.startsWith("_")
            }
            // a file can vanish between the listing and the stat (a
            // concurrent cleanSource=delete consumer draining the
            // inbox, a producer's write-then-rename) — skip it rather
            // than abort stream startup on NoSuchFileException
            .flatMap(p =>
              scala.util.Try(java.nio.file.Files.size(p)).toOption)
            .toSeq
        } finally s.close()
      if (sizes.isEmpty) 16
      else {
        val mean = math.max(1L, sizes.sum / sizes.size)
        math.max(1L, math.min(4096L, targetBatchBytes / mean)).toInt
      }
    }
  }

  /** Start the streaming inbox: watch `inboxDir` for transcript
    * files, parse each, and conditionally-upsert valid ones into
    * `store`/`table` keyed by video_id. Returns the running query
    * (callers use processAllAvailable in tests, start/await in prod).
    * `maxFilesPerTrigger` None derives the batch size from the
    * inbox's file-size stats ([[autoMaxFilesPerTrigger]], computed
    * ONCE at stream start); pass Some(n) to pin it. */
  def inboxStream(spark: SparkSession, inboxDir: String,
      store: ParquetTableStore, table: String,
      deleteProcessed: Boolean = false,
      checkpointDir: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    val files = spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger",
        maxFilesPerTrigger.getOrElse(autoMaxFilesPerTrigger(inboxDir)))
      .option("cleanSource", if (deleteProcessed) "delete" else "off")
      .text(inboxDir)
      .select(input_file_name().as("path"), col("value").as("content"))

    // A checkpoint makes restarts INCREMENTAL (only files that
    // appeared since the last run are re-read — the availableNow
    // refresh discipline); without one, each invocation reprocesses
    // the whole inbox, which stays CORRECT because the U6 merge is
    // convergent (timestamped-wins is idempotent re-applied), but
    // costs a full re-read per restart. Deployments that keep the
    // inbox dir (deleteProcessed=false) should checkpoint.
    val writer = files.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val parsed = batch.as[(String, String)]
          .map { case (p, c) => TranscriptFiles.parseContent(p, c) }
          .filter(col("valid"))
          // Option[String] fields encode as nullable string columns
          .select(col("video_id"), col("transcript"))
        // batch-internal dedup MUST apply the same preference as the
        // cross-batch U6 merge: timestamped beats plain (then
        // transcript text as the total tie-break) — ordering on text
        // alone would let a plain transcript beat a timestamped one
        // that happened to land in the same micro-batch, a permanent
        // loss the per-batch schedule should never influence
        val incoming = Upserts.dedupKeepLast(parsed, Seq("video_id"),
          Seq(YtFunctions.hasTimestamps(col("transcript")),
            col("transcript")))
        // read-derive-replace: the merge derives from the snapshot it
        // read, so the publish pins to THAT pointer — a competing
        // writer (second inbox stream, a backfill) landing in between
        // raises ConcurrentCommitException and the retry re-reads the
        // winner and re-merges, instead of silently overwriting it
        store.withCommitRetries() {
          // an absent table pins the CAS to ABSENCE: a competitor
          // creating the table between the read and the publish raises
          // ConcurrentCommitException and this retry re-reads + merges,
          // instead of silently replacing the competitor's rows
          val (stored, pin) = store.readPinnedOption(spark, table)
          store.commit(spark, table, stored.fold(incoming)(
            Upserts.conditionalUpsert(_, incoming,
              Seq("video_id")) { (inc, old) =>
              YtFunctions.hasTimestamps(inc("transcript")) ||
                !YtFunctions.hasTimestamps(old("transcript"))
            }), Expect.Pinned(pin))
          ()
        }
        ()
      }
      .start()
  }

  /** Streaming exact dedup for a continuous document feed: drop any
    * row whose normalized content fingerprint (the same digest the
    * batch d1 operator groups by) was already admitted within the
    * watermark window. State is one fingerprint per admitted doc,
    * partitioned by fingerprint like any keyed state, and the
    * watermark bounds its lifetime — the knob that makes streaming
    * dedup survive an unbounded feed (an infinite-retention dedup is
    * `dropDuplicates`, which never evicts; callers that truly want
    * exact-once-ever semantics should dedup against the STORE with
    * U2 insert-if-absent instead). Batch near-dup passes (d2-d6)
    * then run over the stored, already-exact-deduped table. */
  def dedupDocStream(docs: DataFrame, textCol: String,
      tsCol: String, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Watermarked tumbling-window event counts over a streaming event
    * log (ts, event_type): the run-log aggregation pattern. */
  def eventCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** §2.9 periodic refresh (main_scraper.py:342-356): the reference's
    * cron-ish re-run maps to Trigger.AvailableNow — process everything
    * new since the last checkpoint, then STOP. Each invocation is one
    * incremental batch over the files that appeared since the previous
    * run (checkpointed offsets), with `process(batch, batchId)` applied
    * per micro-batch — restart-safe incremental ETL without a resident
    * stream. Every ingest loop below runs through this one shell. */
  def availableNowRefresh(spark: SparkSession, inputDir: String,
      schemaDDL: String, checkpointDir: String)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schemaDDL).parquet(inputDir).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => process(batch, batchId) }
      .start()

  /** §2.9 × §3.2 end-to-end: the rate-limited INCREMENTAL scrape loop
    * (reference shape: main_scraper.py:342-377 — "re-scrape whatever
    * is due, politely, and keep going when one item dies"). One
    * AvailableNow pass over the work-item feed wires the whole chain
    * inside foreachBatch:
    *
    *   1. checkpointed incremental input: only work files that
    *      appeared since the last invocation are processed;
    *   2. U7 freshness gate against the stored table — ids scraped
    *      within `days` are dropped before any network is touched;
    *   3. [[ConnectorRuntime.fetchWithPolicy]] fan-out — rate-limited
    *      per partition, bounded retries, terminal failures as rows.
    *      The fetch stage is persisted, forced once, and unpersisted
    *      at the end of the batch (explicit lifecycle — no blocks
    *      outlive the micro-batch), so the store's planning actions
    *      cannot re-trigger fetches. (Lineage is kept: if an executor
    *      loses a cached block, that partition refetches — at-least-
    *      once on failure; a deployment needing strict at-most-once
    *      swaps in a reliable checkpoint dir.);
    *   4. successes merge into the key-bucketed store (O(delta)
    *      commit); failures LWW-upsert into a dead-letter table
    *      (latest failure per id, U9-style view over retries).
    *
    * Work items are parquet files of a single `id STRING` column;
    * the stored table is (id, payload, scraped_at). `now` is injected
    * for reproducibility, like the U7 gate it feeds. */
  def incrementalScrape(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore, table: String,
      deadLetterTable: String, fetch: String => String,
      now: org.apache.spark.sql.Column, days: Int,
      ratePerSecPerPartition: Double = 1.0, maxAttempts: Int = 3,
      backoffMs: Long = 1000L, numPartitions: Int = 0,
      sleeper: Long => Unit = Thread.sleep(_)): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id STRING", checkpointDir) {
      (batch, _) =>
        val ids = batch.select("id").distinct()
        val withTs =
          if (store.exists(table))
            ids.join(store.read(spark, table).select(col("id"), col("scraped_at")),
              Seq("id"), "left")
          else ids.withColumn("scraped_at", lit(null).cast("timestamp"))
        val due = Upserts.freshnessGate(withTs, "scraped_at", now, days)
          .select("id")
        val fetched = ConnectorRuntime.fetchWithPolicy(due, "id", fetch,
          ratePerSecPerPartition, maxAttempts, backoffMs, numPartitions,
          sleeper)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          fetched.count() // force the fetch exactly once, populate cache
          val ok = fetched.filter(col("error").isNull)
            .select(col("id"), col("payload"), now.cast("timestamp").as("scraped_at"))
          // retried like every other ingest loop's commits: a lost
          // pointer race (concurrent compactBuckets, a competing
          // writer) is a retryable conflict, not a query killer
          store.withCommitRetries()(
            store.upsertBucketed(spark, table, ok, Seq("id")))
          val dead = fetched.filter(col("error").isNotNull)
            .select(col("id"), col("error"), col("attempts"),
              now.cast("timestamp").as("failed_at"))
          if (dead.limit(1).count() > 0)
            store.withCommitRetries()(
              store.upsert(spark, deadLetterTable, dead, Seq("id")))
        } finally fetched.unpersist(false)
    }

  /** Streaming INCREMENTAL near-dup ingest — the dedup twin of
    * [[incrementalScrape]]: one AvailableNow pass over a doc feed
    * (`id BIGINT, text STRING` parquet files); per micro-batch,
    *
    *   1. in-batch near-dups collapse first (batch-sized LSH —
    *      [[graft.ops.Dedup.dropNearDuplicates]]);
    *   2. survivors probe the STORED corpus artifacts
    *      ([[graft.ops.Dedup.incrementalLshPairs]] — both corpus
    *      passes are broadcast probes, nothing corpus-sized
    *      shuffles);
    *   3. un-matched docs append to the corpus + signature +
    *      band-index tables as O(delta) bucketed commits; matched
    *      docs LWW-upsert into a reject table with their single best
    *      corpus match (id, matched_id, jaccard).
    *
    * The STORE is the streaming state: executor state stores never
    * hold corpus-scale data, and a restart resumes from the source
    * checkpoint plus the committed tables — a replayed batch
    * re-derives the same accepts and the keyed upserts absorb them
    * idempotently (at-least-once in, exactly-once effect). The probe
    * is gated on BOTH artifact tables existing, so a crash between
    * the signature and index commits replays as a probe-less first
    * batch (self-id matches are skipped; the idempotent commits
    * complete the missing table) instead of wedging on a read of the
    * never-committed index. Rejects commit FIRST, while the pinned
    * pre-batch table versions they are computed from are still
    * guaranteed live; the store should keep `keepVersions >= 2` (the
    * default) so lineage recompute of an evicted cached batch can
    * still reach its base versions. Appended index rows are capped
    * within-batch only; the global per-bucket cap is re-asserted by
    * periodic compaction (recompute
    * [[graft.ops.Dedup.lshBandIndex]] over the signature table and
    * commit) — the log-structured discipline. */
  def nearDupIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      corpusTable: String = "corpus",
      signatureTable: String = "lsh_signatures",
      indexTable: String = "lsh_band_index",
      rejectTable: String = "near_dup_rejects",
      threshold: Double = 0.6, numBuckets: Int = 32): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, _) =>
        // ONE text pass per micro-batch: signature the batch once,
        // pin it, and derive the in-batch mine, the cross-corpus
        // probe, AND the store commit from the pinned frame (a
        // signature row depends only on its own (id, text), so any
        // id-subset of the batch's signatures ≡ re-signaturing that
        // subset). The previous shape re-hashed the text 3× per
        // batch — at deployment scale the raw-text pass is the
        // dominant per-batch cost, so this is the difference between
        // O(batch) and O(3·batch) text I/O per commit.
        val sigs = graft.ops.Dedup.lshSignatures(batch, "id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val inPairs = graft.ops.Dedup.minhashLshPairsFromSigs(sigs,
          threshold = threshold)
        // the in-batch survivor set feeds the probe, the accept
        // anti-join, and the corpus commit — pin it so the in-batch
        // mine runs ONCE per batch
        val inBatch = graft.ops.Dedup.dropPairedDuplicates(batch, "id",
          inPairs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        var pinnedPairs: Option[DataFrame] = None
        val (accepted, rejects) =
          if (!store.exists(signatureTable) || !store.exists(indexTable))
            (inBatch, None)
          else {
            val survivorSigs = sigs.join(inBatch.select("id"),
              Seq("id"), "left_semi")
            // both the reject ledger and the accept anti-join consume
            // the probe result — pin it so the probe runs ONCE
            val pairs = graft.ops.Dedup.incrementalLshPairsFromSigs(
              survivorSigs, store.read(spark, indexTable),
              store.read(spark, signatureTable), threshold = threshold)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            pinnedPairs = Some(pairs)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("new_id")
              .orderBy(col("jaccard").desc, col("corpus_id").asc)
            val best = pairs.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1)
              .select(col("new_id").as("id"),
                col("corpus_id").as("matched_id"), col("jaccard"))
            (inBatch.join(pairs.select(col("new_id").as("id")).distinct(),
              Seq("id"), "left_anti"), Some(best))
          }
        // the accepted and reject sets each feed commits — pin them
        // for the batch, release before the batch ends (round-3
        // lifecycle rule). Rejects commit BEFORE the artifact tables
        // advance: they are computed from the pre-batch versions, and
        // committing them first means those versions are still live
        // while they evaluate (committing after would race pruning).
        val acc = accepted
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rej = rejects.map(_.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        try {
          rej.foreach { r =>
            if (r.limit(1).count() > 0)
              store.withCommitRetries()(
                store.upsert(spark, rejectTable, r, Seq("id")))
          }
          // once all three tables exist an empty acceptance set needs
          // no probe: each upsert's touched set is then empty, a
          // version no-op. Before that, an empty first batch must not
          // create the tables
          if (Seq(corpusTable, signatureTable, indexTable).forall(store.exists) ||
              acc.limit(1).count() > 0) {
            // two of the three commits derive from accSigs — pin it
            // so the semi-join runs once, not per commit thread
            val accSigs = sigs.join(acc.select("id"), Seq("id"), "left_semi")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            // three INDEPENDENT tables, no cross-order constraint
            // (the probe gate requires BOTH artifact tables exist, so
            // any crash-partial subset replays as a probe-less first
            // batch exactly as before) — overlap them instead of
            // paying the per-commit job round 3×
            try commitInParallel(
              () => store.withCommitRetries()(
                store.upsertBucketed(spark, corpusTable, acc, Seq("id"),
                  numBuckets)),
              () => store.withCommitRetries()(
                store.upsertBucketed(spark, signatureTable, accSigs, Seq("id"),
                  numBuckets)),
              () => store.withCommitRetries()(
                store.upsertBucketed(spark, indexTable,
                  graft.ops.Dedup.lshBandIndex(accSigs), Seq("id", "band"),
                  numBuckets)))
            finally accSigs.unpersist(false)
          }
        } finally {
          acc.unpersist(false)
          rej.foreach(_.unpersist(false))
          sigs.unpersist(false)
          inBatch.unpersist(false)
          pinnedPairs.foreach(_.unpersist(false))
        }
    }

  /** Streaming KEEP-AND-LABEL ingest — the policy alternative to
    * [[nearDupIngest]]'s reject mode: every document is accepted
    * into the corpus, and the store's duplicate-CLUSTER map is
    * maintained INCREMENTALLY instead (curation then decides per
    * cluster offline — e.g. [[graft.ops.Dedup.keepBestPerCluster]]).
    * Per micro-batch: in-batch pairs (full LSH over the batch only)
    * ∪ cross pairs (d10 probe against the stored index) fold into
    * the stored cluster table via
    * [[graft.ops.ConnectedComponents.mergeClusters]] — the fixpoint
    * touches only the delta's rep graph, never the corpus
    * (incremental ≡ from-scratch, the d12-pinned identity). The
    * cluster table holds one row per doc that appears in ≥1 pair
    * (d9's contract); unpaired docs are implicit singletons.
    *
    * Same crash-replay discipline as [[nearDupIngest]]: keyed
    * upserts absorb replayed batches idempotently (a replayed merge
    * re-derives the same labels over the already-updated store —
    * labels only coarsen toward the component min, so re-merging is
    * a no-op), and the artifact-gated probe tolerates a crash
    * between commits. */
  def clusterIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      corpusTable: String = "corpus",
      signatureTable: String = "lsh_signatures",
      indexTable: String = "lsh_band_index",
      clusterTable: String = "dup_clusters",
      threshold: Double = 0.6, numBuckets: Int = 32): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, _) =>
        val b = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // one text pass per micro-batch (see nearDupIngest): the
        // pinned signature frame feeds the in-batch mine, the
        // cross-corpus probe, and the signature/index commits.
        val sigs = graft.ops.Dedup.lshSignatures(b, "id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        var pinnedPairs: Option[DataFrame] = None
        try {
          if (b.limit(1).count() > 0) {
            val inPairs = graft.ops.Dedup.minhashLshPairsFromSigs(sigs,
              threshold = threshold)
              .select(col("id_a").as("u"), col("id_b").as("v"))
            val crossPairs =
              if (!store.exists(signatureTable) || !store.exists(indexTable))
                inPairs.limit(0)
              else graft.ops.Dedup.incrementalLshPairsFromSigs(sigs,
                store.read(spark, indexTable),
                store.read(spark, signatureTable), threshold = threshold)
                .select(col("corpus_id").as("u"), col("new_id").as("v"))
            // the merge consumes the pair set several times (the
            // rep-graph collect, the non-empty guard, the commit
            // write) — pin it so the mine+probe run ONCE per batch
            val allPairs = inPairs.unionByName(crossPairs)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            pinnedPairs = Some(allPairs)
            // the WHOLE read-merge-upsert derivation sits inside the
            // retried op: a lost CAS must re-read the WINNER's
            // snapshot and re-merge — re-applying labels computed
            // from the stale snapshot via an unpinned LWW upsert
            // could regress a concurrently-coarsened cluster label
            // and break the min-id rep invariant. CC scratch reuses
            // one dir under the checkpoint (overwritten per batch,
            // never leaked).
            store.withCommitRetries() {
              // readPinnedOption + pinned upsertBucketed: the merge
              // derives from THIS snapshot (absence pins the create,
              // so a racing creator loses cleanly), and only the rows
              // whose label CHANGED (or are new) commit — an O(delta)
              // bucketed write where the pre-r11 full snapshot
              // replace rewrote the node-sized table every batch.
              // Labels only coarsen toward the component min, so the
              // unchanged majority is byte-identical to the stored
              // version — exactly what bucket hard-linking wants.
              val (storedOpt, pin) =
                store.readPinnedOption(spark, clusterTable)
              val stored = storedOpt.getOrElse(spark.range(0)
                .select(col("id"), col("id").as("cluster_id")))
              // delta CC: rep graphs at ingest-batch size label on
              // the driver (one collect, zero fixpoint stages);
              // oversized deltas fall back to the staged fixpoint.
              // mergeClustersChanged emits only the rows whose label
              // moved (or are new) — same plan, delta-sized write.
              val changed =
                graft.ops.ConnectedComponents.mergeClustersChanged(
                  stored, allPairs,
                  scratchDir = Some(s"$checkpointDir/cc-scratch"),
                  driverMaxEdges = 1 << 20)
              if (changed.limit(1).count() > 0) {
                store.upsertBucketed(spark, clusterTable, changed, Seq("id"),
                  numBuckets, Expect.Pinned(pin))
                ()
              }
            }
            // the cluster merge above is ORDERED (pinned read-derive-
            // replace); these three artifact tables are independent —
            // overlap their commits (see commitInParallel)
            commitInParallel(
              () => store.withCommitRetries()(
                store.upsertBucketed(spark, corpusTable, b, Seq("id"),
                  numBuckets)),
              () => store.withCommitRetries()(
                store.upsertBucketed(spark, signatureTable, sigs, Seq("id"),
                  numBuckets)),
              () => store.withCommitRetries()(
                store.upsertBucketed(spark, indexTable,
                  graft.ops.Dedup.lshBandIndex(sigs), Seq("id", "band"),
                  numBuckets)))
          }
        } finally {
          b.unpersist(false)
          sigs.unpersist(false)
          pinnedPairs.foreach(_.unpersist(false))
        }
    }

  final case class UserEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class UserSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int)

  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState): a user's events belong to one session
    * until a gap > `gapMinutes` (or state timeout) closes it —
    * the per-user activity-session view a scrape/ping log needs that
    * fixed windows can't express. State is O(1) per user (start,
    * last, count); closed sessions emit downstream, open ones ride in
    * the state store — unbounded keys scale horizontally because the
    * state is partitioned by user like any other keyed shuffle. */
  def sessionize(events: Dataset[UserEvent], gapMinutes: Int = 30,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    // only the processing-time timer is implemented (setTimeoutDuration);
    // EventTimeTimeout would need setTimeoutTimestamp + a watermark and
    // silently accepting it would crash per key at runtime instead
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "sessionize supports NoTimeout and ProcessingTimeTimeout; " +
        "EventTimeTimeout needs a watermark + setTimeoutTimestamp")
    val gapMs = gapMinutes * 60L * 1000L
    val timeoutEnabled = timeout != GroupStateTimeout.NoTimeout

    def fn(userId: Long, evs: Iterator[UserEvent],
        state: GroupState[SessionState]): Iterator[UserSession] = {
      val sorted = evs.toSeq.sortBy(_.ts.getTime)
      var closed = List.empty[UserSession]
      var cur = state.getOption
      if (state.hasTimedOut && cur.isDefined) {
        val s = cur.get
        closed ::= UserSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
        cur = None
        state.remove()
      }
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            // a late event merged into the session can predate its
            // start — the reported session_start must cover it
            cur = Some(s.copy(start = math.min(s.start, t),
              last = math.max(s.last, t), n = s.n + 1))
          case Some(s) =>
            closed ::= UserSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // ProcessingTimeTimeout makes the engine re-trigger to fire
        // timers (so processAllAvailable never settles) — only arm it
        // when the caller opted in for production use.
        if (timeoutEnabled) state.setTimeoutDuration(gapMs)
      }
      closed.reverseIterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  final case class ChunkIn(ck: String, n_tokens: Long)
  final case class PackState(before: Long)
  final case class PackedChunk(shard: Long, ck: String, n_tokens: Long,
      pack_no: Long, pack_tok_start: Long)

  /** STREAMING sequence packing — the unbounded twin of
    * [[graft.ops.Packing.assignPacks]]: chunks arrive on a stream,
    * each hash shard keeps ONE running token counter as state
    * (mapGroupsWithState-style O(1) state per shard), and every
    * arriving chunk is assigned its pack immediately. Same boundary
    * arithmetic as the batch packer (pack_no = tokens-before /
    * budget); the difference is the ORDER: a stream has no global
    * deterministic order, so assignment is order-of-arrival within
    * each shard — the honest streaming contract (batch re-packing is
    * the deterministic one; this operator exists so a live ingest can
    * emit trainable examples without waiting for the batch window).
    * State never grows with history — one counter per shard — so the
    * query runs forever. */
  def packStream(chunks: Dataset[ChunkIn], budgetTokens: Int,
      numShards: Int): Dataset[PackedChunk] = {
    require(budgetTokens >= 1 && numShards >= 1)
    import chunks.sparkSession.implicits._

    def shardOf(ck: String): Long = {
      val h = graft.functions.TextFunctions.portableHash64Local(ck)
      ((h % numShards) + numShards) % numShards
    }

    def fn(shard: Long, it: Iterator[ChunkIn],
        state: GroupState[PackState]): Iterator[PackedChunk] = {
      var before = state.getOption.map(_.before).getOrElse(0L)
      val out = it.map { c =>
        val packed = PackedChunk(shard, c.ck, c.n_tokens,
          before / budgetTokens, before % budgetTokens)
        before += c.n_tokens
        packed
      }.toList
      state.update(PackState(before))
      out.iterator
    }

    chunks.groupByKey(c => shardOf(c.ck))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming LEXICAL-INDEX maintenance — the ts25 append
    * discipline driven by the ingest loop itself (the "daily-ingest
    * retrieval user" flow): one AvailableNow pass over a doc feed
    * (`id BIGINT, text STRING` parquet files); the first non-empty
    * batch BUILDS the stored BM25 index
    * ([[graft.ops.TextAnalysis.bm25BuildIndex]]), every later batch
    * FOLDS IN as an O(delta) append
    * ([[graft.ops.TextAnalysis.bm25AppendIndex]] — new postings land
    * as insert-only bucket files, the vocabulary-sized stats frame
    * alone rewrites). Probes between runs see a consistent pair
    * (stats pin the postings version) and append ≡ rebuild
    * bit-exactly, so the stored index always answers as if built
    * from scratch over everything ingested so far (gate st8).
    *
    * Crash-replay contract — WEAKER than the keyed-upsert loops and
    * deliberately explicit about it: an append is NOT idempotent (a
    * replayed batch would double postings), so a U8-style batch
    * ledger row commits LAST, after both index halves, and a
    * replayed batch whose ledger row landed is SKIPPED whole. A
    * crash inside the fold (between the postings append and the
    * stats/ledger commits) leaves the ledger unmarked; the replay
    * re-runs the fold and the append's id-validation then fails
    * LOUDLY on the half-applied state instead of double-counting —
    * recovery is a rebuild (delete the index tables; the next batch
    * rebuilds from the feed-so-far via the corpus table a real
    * deployment co-maintains). Exactly-once effect on the happy
    * path, fail-loud on the torn one — the honest contract for an
    * append-structured artifact. Feed ids must be new (exact-dedup
    * upstream, the [[nearDupIngest]] composition). */
  def lexicalIndexIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      postingsTable: String = "bm25_postings",
      statsTable: String = "bm25_stats",
      ledgerTable: String = "bm25_ingest_ledger"): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, batchId) =>
        import spark.implicits._
        val alreadyFolded = store.exists(ledgerTable) &&
          store.read(spark, ledgerTable)
            .filter(col("batch_id") === batchId).limit(1).count() > 0
        if (!alreadyFolded && batch.limit(1).count() > 0) {
          if (!store.exists(postingsTable) || !store.exists(statsTable))
            // build is a full replace, so a crash between its two
            // commits replays idempotently (the rebuild overwrites)
            graft.ops.TextAnalysis.bm25BuildIndex(batch, "id", "text",
              store, postingsTable, statsTable)
          else {
            // O(1) torn-state check in place of the corpus-sized
            // per-batch id validation: a fold that crashed between
            // the postings append and the stats commit leaves the
            // version pin behind, and folding on top would double
            // count — refuse with the standing rebuild instruction.
            // (The checkpoint + ledger make a COMPLETED batch
            // unrepeatable, and the feed contract guarantees new ids,
            // so the id-scan bought nothing else.)
            // an EMPTY stats frame has no pin row — that is the
            // healthy result of a first batch whose docs ALL
            // tokenized empty (build commits zero stats rows), not a
            // torn fold; treat it as version-compatible, exactly as
            // bm25AppendIndex's own empty-scalars path does
            val pinned = store.read(spark, statsTable)
              .select("postings_version").limit(1).collect()
              .headOption.map(_.getLong(0))
            val cur = store.currentVersion(postingsTable)
            if (pinned.nonEmpty && pinned != cur) throw new IllegalStateException(
              s"bm25 index torn: $statsTable pins postings " +
                s"v${pinned.orNull} but $postingsTable is at " +
                s"v${cur.orNull} — a fold crashed mid-apply; delete " +
                "the index tables and re-run to rebuild from the feed")
            graft.ops.TextAnalysis.bm25AppendIndex(batch, "id", "text",
              store, postingsTable, statsTable, validateNewIds = false)
          }
          store.withCommitRetries()(store.upsert(spark, ledgerTable,
            Seq(batchId).toDF("batch_id"), Seq("batch_id")))
          ()
        }
    }

  /** Streaming VECTOR-INDEX maintenance — [[lexicalIndexIngest]]'s
    * discipline for the vector family (the "daily-ingest ANN user"
    * flow): one AvailableNow pass over a vector feed (`id BIGINT,
    * embedding ARRAY<FLOAT>` parquet files); the first non-empty
    * batch BUILDS the mutable stored IVF index
    * ([[graft.ops.SimilaritySearch.ivfBuildIndexStored]] — codebook
    * fixed from that batch's deterministic sample), every later
    * batch folds in as
    * [[graft.ops.SimilaritySearch.ivfReindexVectors]], which handles
    * both INSERTS (new ids land at generation 0) and UPDATES
    * (changed ids re-assign under a bumped generation with
    * tombstones marking the old rows dead) in one delta-sized pass.
    *
    * Crash-replay contract — STRONGER than the lexical loop's and
    * needing no ledger: a reindex is replace-by-id, not an
    * accumulate, so a replayed batch re-tombstones and re-appends
    * the SAME live membership at a higher generation — effect-
    * idempotent. The index is one store group: a crash inside a fold
    * leaves the marker at the previous batch, so probes
    * ([[graft.ops.SimilaritySearch.ivfTopKStored]]) never see it, and
    * the replayed fold first rewrites the family from the marker
    * snapshot. A crashed FIRST build leaves no marker, and the replay
    * builds again. A store in the pre-group layout (meta tables, no
    * marker) is refused with
    * [[graft.ops.SimilaritySearch.IndexFormatException]] — never
    * rebuilt from one batch. Feed ids must be unique per batch (the
    * reindex contract); gate st10 pins streamed ≡ from-scratch over
    * the concatenation-with-updates. */
  def vectorIndexIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      numCentroids: Int = 32,
      codebookTable: String = "ivf_codebook",
      membersTable: String = "ivf_members",
      tombstoneTable: String = "ivf_tombstones",
      group: String = "ivf_meta"): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, embedding ARRAY<FLOAT>", checkpointDir) {
      (batch, _) =>
        if (batch.limit(1).count() > 0) {
          if (!graft.ops.SimilaritySearch.storedIndexBuilt(store, group))
            graft.ops.SimilaritySearch.ivfBuildIndexStored(batch, "id",
              "embedding", store, numCentroids, codebookTable,
              membersTable, group, tombstoneTable)
          else
            graft.ops.SimilaritySearch.ivfReindexVectors(batch, "id",
              "embedding", store, codebookTable, membersTable,
              tombstoneTable, group)
        }
    }

  /** Streaming maintenance for the FULL deployment index —
    * [[vectorIndexIngest]]'s loop extended to BOTH stored families:
    * every batch folds the IVF cell index AND the PQ code index
    * (first non-empty batch builds each, fixing both codebooks from
    * that batch's deterministic samples; later batches fold inserts +
    * updates through each family's tombstone reindex in one
    * delta-sized pass apiece), then commits the pair marker
    * ([[graft.ops.SimilaritySearch.ivfPqPairPin]]). Probes between
    * runs go through [[graft.ops.SimilaritySearch.ivfPqTopKStored]] —
    * stored cells prune, stored codes rank, no raw corpus vector read
    * anywhere.
    *
    * Crash-replay contract (the vectorIndexIngest discipline, per
    * family): a reindex is replace-by-id, so a replayed batch
    * re-lands the same live state at higher generations — effect-
    * idempotent with NO ledger. Probes read the pair marker, which
    * moves only after BOTH folds, so a crash anywhere in the batch —
    * inside a fold, or between the IVF and the PQ fold — leaves
    * probes on the previous batch; the replay repairs each family
    * from its marker and completes the batch. Both families' layouts
    * are checked before either folds, so a pre-group store is refused
    * whole. The batch is persisted across the two folds so its files
    * scan once. Gate st14 pins streamed ≡ from-scratch IVF-PQ over the
    * mutated corpus under both batch-1 codebooks. */
  def ivfPqIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      numCentroids: Int = 32, m: Int = 8, ks: Int = 16,
      dim: Int = 64): StreamingQuery = {
    import graft.ops.SimilaritySearch._
    availableNowRefresh(spark, inputDir, "id BIGINT, embedding ARRAY<FLOAT>", checkpointDir) {
      (batch, _) =>
        if (batch.limit(1).count() > 0) {
          val Seq(ivfBuilt, pqBuilt) =
            Seq("ivf_meta", "pq_meta").map(storedIndexBuilt(store, _))
          val b = batch.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (!ivfBuilt) ivfBuildIndexStored(b, "id", "embedding", store,
              numCentroids)
            else ivfReindexVectors(b, "id", "embedding", store)
            if (!pqBuilt) pqBuildIndexStored(b, "id", "embedding", store,
              m, ks, dim)
            else pqReindexVectors(b, "id", "embedding", store)
            ivfPqPairPin(spark, store)
          } finally b.unpersist(blocking = false)
        }
    }
  }

  /** Streaming DSIR λ-MODEL maintenance — the st3 sketch discipline
    * applied to the importance-weight model
    * ([[graft.ops.TextAnalysis.dsirWeights]]): the target slot
    * distribution is STATIC (committed once, first batch), and the
    * corpus slot distribution is ADDITIVE under appends — slot
    * counts over a batch union to exactly the counts over the
    * concatenated stream, so keeping the model current costs one
    * combinable (slot, c) pass per micro-batch, never a corpus
    * re-read. Per batch the loop upserts the batch's OWN counting
    * rows keyed by (batch_id, slot) — ≤ `buckets` rows — and the
    * probe ([[graft.ops.TextAnalysis.dsirWeightsFromStore]]) rolls
    * the batch rows up at read time, the
    * [[graft.ops.Sketches.mergedFromStore]] shape.
    *
    * Crash-replay contract (the sketchIngest discipline): a replayed
    * batch recomputes identical integer counts from the checkpointed
    * file list and the (batch_id, slot)-keyed upsert replaces the
    * same rows — a no-op; a torn target commit is absorbed by the
    * exists() guard. st9 pins merged-per-batch ≡ one-shot weights
    * over the concatenation. */
  def dsirIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      target: DataFrame, targetTextCol: String,
      slotsTable: String = "dsir_slots",
      targetTable: String = "dsir_target",
      buckets: Int = 4096,
      charNgrams: Option[Int] = None): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, batchId) =>
        if (!store.exists(targetTable)) {
          // the feature family (slot width, n-gram mode, hash) is
          // baked into every stored count: record it on the target
          // rows (+ a slot=-1 carrier so an all-empty target still
          // records it) so a probe with drifted knobs is REFUSED
          // instead of silently misaligning slot spaces
          val tc = graft.ops.TextAnalysis.dsirSlotCounts(target,
            targetTextCol, buckets, portableHash = true, charNgrams)
          val carrier = spark.range(1)
            .select(lit(-1L).as("slot"), lit(0L).as("c"))
          store.withCommitRetries()(store.commit(spark, targetTable,
            tc.unionByName(carrier)
              .withColumn("buckets", lit(buckets))
              .withColumn("char_n", lit(charNgrams.getOrElse(-1)))))
        }
        val bs = graft.ops.TextAnalysis.dsirSlotCounts(batch, "text",
          buckets, portableHash = true, charNgrams)
          .select(lit(batchId).as("batch_id"), col("slot"), col("c"))
        if (bs.limit(1).count() > 0)
          store.withCommitRetries()(store.upsert(spark, slotsTable, bs,
            Seq("batch_id", "slot")))
    }

  /** Streaming hot-token SKETCH maintenance — the count-min
    * discipline ([[graft.ops.Sketches]]) kept current over an
    * append-only document inbox. Per micro-batch: ONE combinable
    * constant-state pass builds the batch's sketch, which commits to
    * the store as a row KEYED BY batchId. Nothing corpus-sized is
    * ever re-read: the stored table holds one ~counter-matrix-sized
    * row per micro-batch, and the queryable sketch is their merge
    * ([[graft.ops.Sketches.mergedFromStore]]) — counter addition is
    * associative and commutative, so merge-of-batches is EXACTLY the
    * sketch of the concatenated stream, not an approximation of one.
    *
    * Crash-replay contract (the nearDupIngest discipline, adapted to
    * non-idempotent merge): a sketch MERGE replayed would double
    * count, so the loop never merges in place — it upserts the
    * batch's own row. Structured Streaming replays at most the last
    * uncommitted batch; the replay recomputes byte-identical sketch
    * bytes (deterministic seed, deterministic batch contents from the
    * checkpointed file list) and the keyed upsert replaces the same
    * row — a no-op. [[graft.ops.Sketches.compactSketchRows]] bounds
    * the row count. */
  def sketchIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      sketchTable: String = "token_cms",
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, batchId) =>
        import spark.implicits._
        val toks = batch
          .select(explode(split(trim(lower(col("text"))), "\\s+")).as("item"))
          .filter(col("item") =!= "")
        val sk = toks
          .agg(count_min_sketch(col("item"), lit(eps), lit(confidence),
            lit(seed)).as("sk"))
          .head.getAs[Array[Byte]]("sk")
        store.withCommitRetries()(
          store.upsert(spark, sketchTable,
            Seq((batchId, sk)).toDF("batch_id", "sketch"),
            Seq("batch_id")))
    }

  /** Streaming DECONTAMINATION screening — benchmark hygiene kept
    * current over an append-only document inbox (the production
    * shape: eval suites are registered rarely, the corpus arrives
    * forever, and every arriving batch must be screened BEFORE it can
    * feed a trainer). The first batch registers the benchmark gram
    * index ([[graft.ops.Decontamination.indexBenchmarks]] — eval-
    * suite-sized, broadcastable by contract); every batch then probes
    * ONLY ITSELF against the stored index
    * ([[graft.ops.Decontamination.probeStoredContamination]] — one
    * batch scan, no corpus re-read, no text shuffle) and upserts the
    * matched pairs keyed by (doc_id, bench_id) into `pairsTable` —
    * the artifact a training job anti-joins against (dc2's apply
    * step, stored). The table is created schema-only on the FIRST
    * screened batch even when it finds nothing, so a fully clean
    * feed still leaves the artifact in place and downstream
    * anti-joins/reads are unconditional.
    *
    * Crash-replay contract (the dsirIngest discipline): pair rows are
    * a pure function of the batch text and the static gram index, so
    * a replayed batch recomputes identical rows and the keyed upsert
    * replaces them — a no-op; a torn index registration replays
    * through the (bench_id, g)-keyed upsert the same way. Gate st12
    * pins the streamed pairs table ≡ one-shot [[graft.ops.
    * Decontamination.contaminationPairs]] over the concatenation. */
  def decontamIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      bench: DataFrame, benchId: String, benchText: String,
      gramsTable: String = "decontam_grams",
      pairsTable: String = "contamination",
      n: Int = 8, minShared: Int = 2): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, _) =>
        if (!store.exists(gramsTable))
          graft.ops.Decontamination.indexBenchmarks(bench, benchId,
            benchText, store, gramsTable, n)
        // pin the probe result: the emptiness check and the upsert's
        // two actions would otherwise re-scan the batch text per
        // action (the g3 pinning lesson)
        val pairs = graft.ops.Decontamination.probeStoredContamination(
          batch, "id", "text", store, gramsTable, n, minShared)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the pairs table is the artifact a training job anti-joins
          // against: it must EXIST once screening has run, even when
          // the feed is fully clean — a schema-only first commit makes
          // downstream reads/anti-joins unconditional instead of
          // special-casing absence
          if (!store.exists(pairsTable))
            try store.commit(spark, pairsTable, pairs.limit(0), Expect.New)
            catch {
              // a competitor created it — the artifact exists, which
              // is all this guard needs
              case _: graft.ops.ConcurrentCommitException => ()
            }
          if (pairs.limit(1).count() > 0)
            store.withCommitRetries()(store.upsert(spark, pairsTable,
              pairs, Seq("doc_id", "bench_id")))
        } finally pairs.unpersist(false)
    }

  /** Streaming CORPUS CURATION — tp2's batch training-prep chain as a
    * production ingest loop: every arriving document batch runs the
    * full screen BEFORE it can enter the corpus, and nothing
    * corpus-sized ever recomputes. Per micro-batch, in order:
    *
    *  1. QUALITY cut — ts2's composite score, per-row at scan rate
    *     (rounded at 1e-9 before the threshold, the d11 boundary
    *     discipline, so a 1-ulp wiggle can't flip admission);
    *  2. EXACT DEDUP — within-batch min-id winner per normalized
    *     fingerprint, then the STORED digest ledger check: the
    *     ledger is fp-bucketed, so the probe reads only the batch's
    *     touched buckets ([[graft.ops.ParquetTableStore
    *     .readBucketsOf]]) — never the corpus-sized ledger;
    *  3. DECONTAMINATION — dc4's stored benchmark-gram screen
    *     (registered on the first batch, broadcast-sized forever).
    *
    * Two artifacts commit per batch, overlapped (independent keyed
    * tables): the digest ledger gains (fp, keeper_id) for every
    * quality-passed dedup winner — contaminated or not: identical
    * text is identically contaminated, so a contaminated doc claiming
    * its fingerprint can only ever block equally-contaminated copies
    * — and `cleanTable` gains the surviving rows keyed by id.
    *
    * Crash-replay contract: every stage is a pure function of the
    * batch and the PRE-BATCH store state except the digest check,
    * whose `keeper_id == id` clause re-admits a replayed batch's own
    * claims — so a replay recomputes identical survivor rows and both
    * keyed upserts no-op, whichever commit the crash interleaved.
    *
    * SINGLE-WRITER contract (per store): the checkpoint already
    * serializes batches within one loop, but the digest commit is an
    * unpinned LWW upsert — two INDEPENDENT loops screening into the
    * same store could both pass the ledger check for one fingerprint
    * and both admit their copy (one claim survives, both rows enter
    * the clean corpus). Run one curation loop per store; fan
    * ingestion into the one inbox instead.
    * Gate st13 pins the streamed clean corpus ≡ the one-shot
    * quality→dedup→decontaminate composition with the batch order as
    * the dedup tie-break. */
  def curationIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      bench: DataFrame, benchId: String, benchText: String,
      minQuality: Double = 0.5,
      gramsTable: String = "decontam_grams",
      digestsTable: String = "corpus_digests",
      cleanTable: String = "corpus_clean",
      n: Int = 8, minShared: Int = 2,
      numBuckets: Int = 32): StreamingQuery =
    availableNowRefresh(spark, inputDir, "id BIGINT, text STRING", checkpointDir) {
      (batch, _) =>
        if (batch.limit(1).count() > 0) {
          if (!store.exists(gramsTable))
            graft.ops.Decontamination.indexBenchmarks(bench, benchId,
              benchText, store, gramsTable, n)
          val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          val scored = batch
            .filter(round(graft.ops.TextAnalysis.qualityScore(col("text")),
              9) >= minQuality)
            .withColumn("fp",
              graft.functions.TextFunctions.fingerprint(col("text")))
          // within-batch winners (min id per fingerprint) via ONE
          // window over ONE fp exchange — the groupBy+self-join form
          // exchanged the two sides on different keys, so the
          // quality+md5 text pass ran twice per batch (the
          // nearDupIngest one-text-pass rule). Winners feed the
          // ledger check, the probe, and the commits — pinned.
          val winners = scored
            .withColumn("__rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("fp").orderBy("id")))
            .filter(col("__rn") === 1).drop("__rn")
            .persist(lvl)
          try {
            val deduped =
              if (!store.exists(digestsTable)) winners
              else {
                val (stored, _) = store.readBucketsOf(spark,
                  digestsTable, winners.select("fp"))
                winners
                  .join(stored.select(col("fp"), col("keeper_id")),
                    Seq("fp"), "left")
                  .filter(col("keeper_id").isNull ||
                    col("keeper_id") === col("id"))
                  .drop("keeper_id")
              }
            val ded = deduped.persist(lvl)
            try {
              val contaminated = graft.ops.Decontamination
                .probeStoredContamination(ded, "id", "text", store,
                  gramsTable, n, minShared)
                .select(col("doc_id").as("id")).distinct()
              val survivors = ded.join(contaminated, Seq("id"), "left_anti")
                .select("id", "text").persist(lvl)
              try {
                val committed: Seq[Option[(String, Long)]] =
                  commitInParallel(
                    () => if (ded.limit(1).count() > 0)
                      Some(digestsTable ->
                        store.withCommitRetries()(
                          store.upsertBucketed(spark, digestsTable,
                            ded.select(col("fp"), col("id").as("keeper_id")),
                            Seq("fp"), numBuckets))._2)
                    else None,
                    () => if (survivors.limit(1).count() > 0)
                      Some(cleanTable ->
                        store.withCommitRetries()(
                          store.upsertBucketed(spark, cleanTable,
                            survivors, Seq("id"), numBuckets))._2)
                    else None)
                // ledger+corpus marker (the generic multi-table
                // commit): one CAS pins the pair a batch just
                // landed, so an auditor can resolve the digest
                // ledger and the clean corpus at the SAME batch
                // boundary (store.readGroup) instead of a torn
                // ledger-ahead-of-corpus view mid-commit. The vector
                // names the EXPLICIT versions the ops above returned
                // — never re-read heads, which under a concurrent
                // committer would weave a vector no writer committed
                // together. A member this batch skipped (all-reject)
                // carries forward from the live pin's vector.
                val delta = committed.flatten.toMap
                if (delta.nonEmpty)
                  store.withCommitRetries() {
                    val pin = store.groupPin(s"$cleanTable-pair")
                    store.commitGroup(pin.versions ++ delta, pin)
                  }
              } finally survivors.unpersist(false)
            } finally ded.unpersist(false)
          } finally winners.unpersist(false)
        }
    }

  /** Streaming GRAPH-ARTIFACT maintenance — the g3/g4 folds kept
    * current over an append-only edge feed (`src BIGINT, dst BIGINT`
    * parquet files), completing the streaming story for the graph
    * family the way [[lexicalIndexIngest]]/[[vectorIndexIngest]] did
    * for the lexical/vector index families. Per micro-batch the loop
    * folds the batch's edges into BOTH stored artifacts:
    *
    *  - triangle counts via
    *    [[graft.ops.PageRank.triangleCountsAppend]] — delta-sized
    *    case enumeration, O(delta) bucketed commits;
    *  - PageRank via [[graft.ops.PageRank.pageRankAppend]] — warm
    *    start from the stored vector, `buildIterations` rounds on the
    *    first batch (the from-scratch build), `foldIterations` on
    *    every later one (the rounds-side win a warm start buys; pass
    *    `tol > 0` for the residual-stopped production mode).
    *
    * Crash-replay contract — no ledger needed: both folds make a
    * replayed batch a no-op through the stored-edge anti-join
    * (triangle increments are additive over genuinely-new edges only;
    * the rank fold returns early on an empty delta), and a crash
    * BETWEEN the two folds replays into "triangle side no-ops, rank
    * side folds normally". A crash INSIDE either fold leaves that
    * family's version pin behind and the replay is refused LOUDLY
    * (the g3/g4 torn-state checks); the two families are independent
    * table sets, so one family's torn state never corrupts the other.
    * Gate st11 pins streamed ≡ from-scratch triangles + the unrolled
    * two-batch rank recurrence over the concatenated feed. */
  def graphIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      buildIterations: Int = 3, foldIterations: Int = 2,
      damping: Double = 0.85, tol: Double = 0.0): StreamingQuery =
    availableNowRefresh(spark, inputDir, "src BIGINT, dst BIGINT", checkpointDir) {
      (batch, _) =>
        if (batch.limit(1).count() > 0) {
          // both folds scan the batch several times (canonicalize,
          // anti-join, case enumeration) — pin it for the duration
          val b = batch.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val first = !store.exists("pr_meta")
            // disjoint table families -> the two folds overlap (the
            // st1 commit discipline); each is independently
            // replay-idempotent, so one failing mid-flight while the
            // other lands is just the per-family crash contract
            val metaVs: Seq[Long] = commitInParallel(
              () => graft.ops.PageRank.triangleCountsAppendVersioned(
                b, "src", "dst", store)._2,
              () => graft.ops.PageRank.pageRankAppendVersioned(
                b, "src", "dst", store,
                iterations =
                  if (first) buildIterations else foldIterations,
                damping = damping, tol = tol)._2)
            // CROSS-FAMILY marker, the ivfPqPairPin discipline made
            // generic ([[graft.ops.ParquetTableStore.commitGroup]]):
            // after BOTH folds land, one CAS pins the two families'
            // meta versions, so a consumer that needs triangles and
            // ranks from the SAME edge state resolves the marker
            // (store.readGroup("graph_pair")) instead of racing the
            // next batch's half-landed folds. A crash before the
            // swap leaves the previous consistent vector (the
            // replayed batch re-folds idempotently and swaps then).
            // The vector pins the meta versions THE FOLDS RETURNED —
            // never re-read heads, which a competitor's fold landing
            // between a fold and the swap would contaminate with a
            // version this writer never committed against.
            store.withCommitRetries() {
              store.commitGroup(Map(
                "tri_meta" -> metaVs(0), "pr_meta" -> metaVs(1)),
                store.groupPin("graph_pair"))
            }
          } finally b.unpersist(false)
        }
    }

  /** Streaming corpus maintenance, generic shape: each micro-batch
    * LWW-upserts (doc_id, text) rows into a bucketed store table —
    * the WRITER side of the CDC pair (gate st15). Crash-replay: the
    * upsert is replace-by-key, so a replayed batch re-lands the same
    * snapshot — effect-idempotent with no ledger. */
  /** `autoMaintain = true` runs the size-tiered compaction policy
    * ([[graft.ops.ParquetTableStore.autoMaintain]]) after each
    * batch's upsert — the DEPLOYMENT shape (gate st17): a streaming
    * writer is exactly the producer whose per-batch touched-bucket
    * rewrites accumulate the small-file debt the policy exists for,
    * and nobody calls maintenance by hand on a loop that runs
    * forever. No debt ⇒ no extra version; a maintenance commit is a
    * semantic no-op, so CDC consumers see its span diff EMPTY (cost,
    * no phantom changes — the u15 contract). */
  def corpusUpsertIngest(spark: SparkSession, inputDir: String,
      checkpointDir: String, store: ParquetTableStore,
      table: String = "corpus", numBuckets: Int = 8,
      autoMaintain: Boolean = false,
      maintainMaxFilesPerBucket: Int = 4,
      maintainMinBytesPerFile: Long = 8L << 20): StreamingQuery =
    availableNowRefresh(spark, inputDir, "doc_id BIGINT, text STRING", checkpointDir) {
      (batch, _) =>
        if (batch.limit(1).count() > 0) {
          store.withCommitRetries()(
            store.upsertBucketed(spark, table, batch, Seq("doc_id"),
              numBuckets))
          if (autoMaintain)
            store.withCommitRetries()(
              store.autoMaintain(spark, table,
                maintainMaxFilesPerBucket, maintainMinBytesPerFile))
        }
    }

  /** The SECOND CONSUMER of a stored corpus, fed by the store's own
    * change feed ([[ParquetTableStore.changesBetween]]) — never by
    * the ingest side: maintains a per-doc token-count table
    * (doc_id, n_tokens) that tracks `srcTable` exactly, folding ONLY
    * the keyed inserts/updates/deletes committed since its stored
    * cursor. This is the contract the CDC read exists for: an
    * independent consumer of a 100 TB table pays O(changed buckets)
    * per fold, not O(table), and needs no cooperation from whatever
    * wrote the changes (streaming upserts, manual deletes,
    * compactions — all the same feed).
    *
    * First fold (no cursor) full-builds from ONE resolved
    * (snapshot, version) pair ([[graft.ops.ParquetTableStore
    * .readVersioned]]) so the cursor records exactly the version the
    * derived table reflects — resolving the version and reading the
    * live snapshot separately would let a commit land in between and
    * leave the pair disagreeing by one span (convergent under replay,
    * but a window there is no reason to keep). Each span lands as ONE
    * atomic commit
    * ([[graft.ops.ParquetTableStore.applyChangesBucketed]]) — a
    * reader of the derived table can never observe the span's
    * upserts without its deletes. Cursor commits LAST: a crash
    * replays the same span, and the fold is replace/remove-by-key —
    * idempotent. A cursor that fell behind retention refuses loudly
    * ([[graft.ops.RetentionLostException]] at the time-travel read)
    * — rebasing is an O(table) full read, a cost this entrypoint
    * never pays silently; [[cdcTokenCountConsumerRebasing]] is the
    * explicit opt-in (gate st16). */
  def cdcTokenCountConsumer(spark: SparkSession, store: ParquetTableStore,
      srcTable: String = "corpus", derivedTable: String = "doc_tokens",
      cursorTable: String = "cdc_cursor", numBuckets: Int = 8,
      consumerId: Option[String] = None): Unit = {
    cdcTokenCountFold(spark, store, srcTable, derivedTable, cursorTable,
      numBuckets, rebaseOnRetentionLoss = false, consumerId)
    ()
  }

  /** [[cdcTokenCountConsumer]] with the REBASE path: a cursor that
    * fell behind the source's retention window (the consumer stalled
    * while ≥ keepVersions commits landed) full-rebuilds the derived
    * table from the live snapshot and resets the cursor, instead of
    * refusing forever. The rebase is an O(table) read — the explicit
    * price of falling behind, which is why the plain consumer refuses
    * loudly rather than paying it silently. Returns true iff this
    * fold rebased (first builds are a bootstrap, not a rebase —
    * false). Gate st16 pins rebase-then-converge ≡ from-scratch;
    * StreamsSpec pins the plain consumer's refusal on the same
    * history and post-rebase folds going back to O(delta) CDC. */
  def cdcTokenCountConsumerRebasing(spark: SparkSession,
      store: ParquetTableStore, srcTable: String = "corpus",
      derivedTable: String = "doc_tokens",
      cursorTable: String = "cdc_cursor", numBuckets: Int = 8,
      consumerId: Option[String] = None): Boolean =
    cdcTokenCountFold(spark, store, srcTable, derivedTable, cursorTable,
      numBuckets, rebaseOnRetentionLoss = true, consumerId)

  /** `consumerId` opts the fold into CONSUMER-AWARE RETENTION (gate
    * u18): each successful fold re-registers its cursor in the
    * source table's registry ([[graft.ops.ParquetTableStore
    * .registerCursor]]), so the writer's pruning keeps every version
    * this consumer still needs — the slow consumer stops rebasing
    * because the versions stop vanishing, up to the store's
    * maxRetained cap (beyond which the rebase path is entered by
    * policy, not surprise). */
  private def cdcTokenCountFold(spark: SparkSession,
      store: ParquetTableStore, srcTable: String, derivedTable: String,
      cursorTable: String, numBuckets: Int,
      rebaseOnRetentionLoss: Boolean,
      consumerId: Option[String] = None): Boolean = {
    import spark.implicits._
    // IllegalStateException, not require/IllegalArgument: callers of
    // the consumer entrypoints catch the same refusal type the
    // store's readVersioned/currentVersion paths throw
    if (!store.exists(srcTable))
      throw new IllegalStateException(
        s"cdcTokenCountConsumer: $srcTable has no committed version")
    def tok(df: DataFrame): DataFrame = df.select(col("doc_id"),
      graft.ops.TextAnalysis.tokenCountWs(col("text"))
        .cast("long").as("n_tokens"))
    // full build from ONE resolved (snapshot, version) pair; the
    // cursor then records exactly what the derived table reflects
    def fullBuild(): Long = {
      val (snap, v) = store.readVersioned(spark, srcTable)
      store.withCommitRetries()(store.replaceBucketed(spark,
        derivedTable, tok(snap), Seq("doc_id"), numBuckets))
      v
    }
    def commitCursor(v: Long): Unit = {
      store.withCommitRetries()(
        store.commit(spark, cursorTable, Seq(v).toDF("v")))
      // retention protection piggybacks on the cursor: versions ≥ v
      // survive the writer's pruning until this consumer advances
      consumerId.foreach(id => store.registerCursor(srcTable, id, v))
      ()
    }
    val last: Option[Long] =
      if (store.exists(cursorTable))
        Some(store.read(spark, cursorTable).head.getLong(0))
      else None
    last match {
      case None =>
        commitCursor(fullBuild())
        false
      case Some(lv) =>
        val cur = store.currentVersion(srcTable).getOrElse(
          throw new IllegalStateException(
            s"cdcTokenCountConsumer: $srcTable has no committed version"))
        if (lv == cur) false
        else {
          val rebased =
            try {
              val ch = store.changesBetween(spark, srcTable,
                Seq("doc_id"), lv, cur).persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                // the SOURCE feed maps to a DERIVED feed (same change
                // kinds, derived columns); the span lands as ONE commit
                val derived = tok(ch.filter(col("change") =!= "delete"))
                  .withColumn("change", lit("update"))
                  .unionByName(ch.filter(col("change") === "delete")
                    .select(col("doc_id"),
                      lit(null).cast("long").as("n_tokens"),
                      lit("delete").as("change")))
                store.withCommitRetries()(store.applyChangesBucketed(
                  spark, derivedTable, derived, Seq("doc_id"), numBuckets))
                commitCursor(cur)
                false
              } finally ch.unpersist(blocking = false)
            } catch {
              case _: graft.ops.RetentionLostException
                  if rebaseOnRetentionLoss =>
                commitCursor(fullBuild())
                true
            }
          rebased
        }
    }
  }
}
