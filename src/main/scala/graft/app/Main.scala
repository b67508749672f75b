package graft.app

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.connectors.FakeYouTubeConnector
import graft.ingest.PlaylistJson
import graft.ops.{ParquetTableStore, Upserts}
import graft.functions.YtFunctions

/** The run_me.py-equivalent driver (SURVEY §3.1): one CLI over the
  * whole engine — sync a channel into the versioned store, query it,
  * ingest/export the file formats.
  *
  * {{{
  *   runMain graft.app.Main sync <channelRef> <storeDir>
  *   runMain graft.app.Main summary <storeDir>
  *   runMain graft.app.Main status <storeDir>
  *   runMain graft.app.Main search-titles <storeDir> <query>
  *   runMain graft.app.Main search-transcripts <storeDir> <query>
  *   runMain graft.app.Main import-playlists <storeDir> <file.json>
  *   runMain graft.app.Main export-playlists <storeDir> <out.json>
  *   runMain graft.app.Main generate-playlists <storeDir> <csvUrl> <out.json>
  *   runMain graft.app.Main serve <storeDir> [port]
  *   runMain graft.app.Main ingest-inbox <storeDir> <inboxDir>
  *   runMain graft.app.Main dedup-transcripts <storeDir> [threshold]
  *   runMain graft.app.Main hot-terms <storeDir> [k]
  *   runMain graft.app.Main search-ranked <storeDir> "<terms>" [k]
  *   runMain graft.app.Main index-search <storeDir> [dim]
  *   runMain graft.app.Main search-hybrid <storeDir> "<terms>" [k]
  *   runMain graft.app.Main pack-transcripts <storeDir> [window] [budget]
  *   runMain graft.app.Main ingest-docs <storeDir> <inboxDir> [threshold]
  *   runMain graft.app.Main compact <storeDir> <table> [maxFilesPerBucket]
  *   runMain graft.app.Main decontaminate <storeDir> <benchDir> [exact|fuzzy] [minShared|threshold]
  *   runMain graft.app.Main cluster-docs <storeDir> <inboxDir> [threshold]
  *   runMain graft.app.Main index-docs <storeDir> <inboxDir>
  *   runMain graft.app.Main doc-search <storeDir> "<terms>" [k]
  *   runMain graft.app.Main ann-recall <storeDir> [k] [nQueries]
  *   runMain graft.app.Main export-shards <storeDir> <outDir> [nShards] [salt]
  *   runMain graft.app.Main verify-shards <storeDir> <exportDir>
  *   runMain graft.app.Main gc <storeDir> [table|all] [hours]
  * }}}
  *
  * The sync uses the deterministic offline connector (this container
  * has no network); a live deployment swaps in a YouTubeConnector
  * implementation — nothing else changes.
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <command> <storeDir> [args...]  (see scaladoc)")
    // GRAFT_MASTER points the CLI at a deployment's cluster
    val spark = graft.Session.build(master = sys.env.get("GRAFT_MASTER"))
    try run(spark, args) finally spark.stop()
  }

  private def show(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = 60)

  /** The `ingest-inbox` command over `inbox`, the inbox read through
    * the `transcript-inbox` source: LWW-merge the valid files into
    * `transcripts` (a timestamped body wins), add a minimal `videos`
    * row for each unknown video, and print the rejected files and the
    * transcripts row count. The inbox is parsed once: it is persisted
    * already hash-partitioned on `video_id`, so both merges (and any
    * commit retry) read it without a shuffle of their own, and it is
    * released even when a merge throws. The rejected files and the
    * row count are observed on the transcripts commit, with no job of
    * their own. */
  private[app] def ingestInbox(spark: SparkSession, store: ParquetTableStore,
      inbox: DataFrame): Unit = {
    val parsed = inbox.repartition(col("video_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // both merges pin to the snapshot they derive from, so a
      // concurrent sync writing the same tables is never overwritten;
      // a fresh Observation per attempt, as mergeCounted's own
      var rejects: Observation = null
      val (_, txRows) = SyncPipeline.mergeCounted(spark, store,
          "transcripts") { (cur, rows) =>
        rejects = Observation()
        val valid = Upserts.dedupKeepLast(
          parsed.observe(rejects, collect_list(when(!col("valid"),
              struct("path", "reject_reason"))).as("rejected"))
            .filter(col("valid")).select("video_id", "transcript"),
          Seq("video_id"), Seq(col("transcript")))
          // align to the full transcripts schema (add_transcripts.py
          // stamps language='en' and the fetch time on file ingest)
          .withColumn("language", lit("en"))
          .withColumn("last_fetched_timestamp", current_timestamp())
          .select("video_id", "language", "transcript", "last_fetched_timestamp")
        cur.fold(valid)(Upserts.conditionalUpsert(_, valid,
          Seq("video_id")) { (inc, old) =>
          YtFunctions.hasTimestamps(inc("transcript")) ||
            !YtFunctions.hasTimestamps(old("transcript"))
        }).observe(rows, count(lit(1)).as("rows"))
      }
      // the reference also inserts a minimal videos row for inbox
      // files whose video is unknown (add_transcripts.py:145-155)
      val minimalVideos = parsed.filter(col("valid"))
        .select(col("video_id"), col("title"),
          lit(null).cast("string").as("description"),
          lit(null).cast("string").as("channel"),
          lit(null).cast("date").as("publish_date"),
          lit(null).cast("int").as("duration_seconds"),
          lit(null).cast("long").as("view_count"),
          lit(null).cast("string").as("author"),
          lit(null).cast("string").as("channel_id"),
          lit(null).cast("string").as("thumbnail_url"),
          col("url").as("video_url"),
          current_timestamp().as("last_scraped_timestamp"))
      SyncPipeline.mergeInto(spark, store, "videos")(_.fold(minimalVideos)(
        Upserts.insertIfAbsent(_, minimalVideos, Seq("video_id"))))
      rejects.get("rejected").asInstanceOf[Seq[Row]]
        .map(r => (r.getString(0), r.getString(1))).sorted
        .foreach { case (path, reason) => println(s"rejected $path: $reason") }
      println(s"transcripts table now has ${txRows("rows")} rows")
    } finally parsed.unpersist(false)
  }

  private[app] def run(spark: SparkSession, args: Array[String]): Unit = {
    val cmd = args(0)
    val store = new ParquetTableStore(args(1))
    def t(name: String) = store.read(spark, name)

    cmd match {
      case "sync" =>
        val Array(_, storeDir, channel) = args.take(3)
        val pipe = new SyncPipeline(store, new FakeYouTubeConnector())
        val report = pipe.syncChannel(spark, channel, current_timestamp())
        println(s"synced channel '$channel' into $storeDir: " +
          s"${report.playlists} playlists, +${report.added}/-${report.removed} " +
          s"memberships, ${report.scraped} videos scraped")

      case "summary" =>
        show(YtQueries.playlistSummary(t("playlists"), t("playlist_videos")))
        show(YtQueries.summaryStats(t("playlists"), t("videos"), t("transcripts")))

      case "status" =>
        val pipe = new SyncPipeline(store, new FakeYouTubeConnector())
        show(pipe.pingStatus(spark)
          .select("playlist_id", "status", "pinged_timestamp"))

      case "search-titles" =>
        show(YtQueries.searchTitles(t("videos"), t("playlist_videos"),
          t("playlists"), args(2)))

      case "search-transcripts" =>
        show(YtQueries.searchTranscripts(t("transcripts"), t("videos"), args(2)))

      case "import-playlists" =>
        val incoming = PlaylistJson.importPlaylists(spark, args(2))
          .withColumn("item_count", lit(null).cast("int"))
          .withColumn("last_updated", lit(null).cast("timestamp"))
        val committed = SyncPipeline.mergeInto(spark, store, "playlists")(
          _.fold(incoming)(Upserts.insertIfAbsent(_, incoming,
            Seq("playlist_id"))))
        println(s"playlists table now has ${committed.count()} rows")

      case "export-playlists" =>
        PlaylistJson.writeJsonArrayFile(
          PlaylistJson.exportShape(t("playlists"), t("playlist_videos")), args(2))
        println(s"exported to ${args(2)}")

      case "serve" =>
        // the reference's Flask JSON surface (web_app.py) over the
        // same store: /api/playlists, /api/playlists/<id>/videos,
        // /api/videos/<id> — an inspection façade, not a data path
        val port = if (args.length > 2) args(2).toInt else 8080
        val api = new HttpApi(spark, store, port)
        val bound = api.start()
        println(s"serving on http://127.0.0.1:$bound (Ctrl-C to stop)")
        Thread.currentThread().join() // serve until killed

      case "generate-playlists" =>
        // the Sheets round trip's WRITE side (generate_playlists.py):
        // a link-shared sheet's CSV export (or any csv URL — file:
        // works for offline runs) → normalized entries →
        // playlists.json for import-playlists to read back
        val src = new graft.ingest.SheetsSource.CsvExport(args(2))
        val n = graft.ingest.SheetsSource.generatePlaylists(spark, src, args(3))
        println(s"Wrote $n playlists to '${args(3)}'.")

      case "ingest-inbox" =>
        ingestInbox(spark, store,
          spark.read.format("transcript-inbox").load(args(2)))

      case "dedup-transcripts" =>
        // re-upload detection over the stored corpus, in the
        // production order (PLANS.md scale probe): exact digest
        // groups first, then MinHash-LSH near-dup pairs among the
        // exact-dedup survivors
        val threshold = if (args.length > 2) args(2).toDouble else 0.8
        val tx = t("transcripts").select(col("video_id"), col("transcript"))
          .filter(col("transcript").isNotNull)
        val exact = graft.ops.Dedup
          .exactDuplicates(tx, "video_id", "transcript")
          .filter(col("n_members") > 1)
        println("exact duplicate transcript groups (same normalized text):")
        show(exact.orderBy(desc("n_members"), col("rep_id")))
        val survivors = graft.ops.Dedup
          .dropExactDuplicates(tx, "video_id", "transcript")
        // one text pass: the signature table feeds the saturation
        // audit AND the mine (minhashLshPairsFromSigs)
        val sigs = graft.ops.Dedup
          .lshSignatures(survivors, "video_id", "transcript")
        val cap = graft.ops.Dedup.DefaultBucketCap
        println(s"band-bucket saturation at cap=$cap " +
          "(n_at_cap > 0 means the mine below silently truncates recall " +
          "— raise the band geometry before trusting it):")
        show(graft.ops.Dedup.blockSaturation(
          graft.ops.Dedup.lshBandMembership(sigs),
          Seq("band", "band_hash"), cap))
        val pairs = graft.ops.Dedup
          .minhashLshPairsFromSigs(sigs, threshold = threshold)
        println(s"near-duplicate transcript pairs (jaccard >= $threshold):")
        show(pairs.orderBy(desc("jaccard"), col("id_a"), col("id_b")))

      case "search-ranked" =>
        // BM25-ranked transcript search — the relevance-ordered
        // upgrade of search-transcripts' substring match. When
        // `index-search` has committed the stored inverted index,
        // the query PROBES it ([[graft.ops.TextAnalysis
        // .bm25TopKStored]]: postings pruned to the query terms, no
        // corpus re-scan); otherwise it falls back to the
        // from-scratch [[graft.ops.TextAnalysis.bm25TopK]] — results
        // are bit-identical either way (ts21 gate).
        val terms = args(2).split("\\s+").toSeq
        val k = if (args.length > 3) args(3).toInt else 10
        // stored path only when the artifact is COMPLETE (both tables
        // — a build killed between its two commits must not wedge the
        // command) and FRESH (built from the current transcripts
        // version — a stale index would silently miss new documents)
        val indexComplete = store.exists("bm25_postings") &&
          store.exists("bm25_stats") && store.exists("bm25_meta")
        val indexFresh = indexComplete && {
          val meta = t("bm25_meta").head
          val fresh = store.currentVersion("transcripts")
            .contains(meta.getAs[Long]("src_version"))
          if (!fresh) println("(stored BM25 index is stale — " +
            "transcripts changed since index-search; falling back to " +
            "from-scratch ranking, re-run index-search to refresh)")
          fresh
        }
        def fromScratch() = {
          val tx = t("transcripts").filter(col("transcript").isNotNull)
          graft.ops.TextAnalysis.bm25TopK(tx, "video_id",
            "transcript", terms, k)
        }
        val ranked =
          if (indexFresh) {
            println("(probing stored BM25 index)")
            // an index from an older layout (pre-bucketed postings /
            // build_id stats) passes the completeness checks but the
            // probe refuses it — take the designed fallback instead
            // of dying, and say how to repair
            try graft.ops.TextAnalysis.bm25TopKStored(spark, store, terms, k)
            catch { case scala.util.control.NonFatal(e) =>
              println(s"(stored index unreadable: ${e.getMessage} — " +
                "falling back to from-scratch ranking; re-run " +
                "index-search to rebuild it in the current layout)")
              fromScratch()
            }
          } else fromScratch()
        show(ranked.join(
            t("videos").select(col("video_id").as("id"), col("title")),
            Seq("id"), "left")
          .select(col("rank"), col("id"), col("title"), col("score_r"))
          .orderBy("rank"), k)

      case "index-search" =>
        // Build the store's SEARCH ARTIFACTS once, probe them on
        // every later query (the build-once/probe-many discipline):
        //  - the BM25 inverted index (term-sorted postings +
        //    vocabulary stats) for search-ranked / search-hybrid's
        //    lexical side;
        //  - hashed-TF vectors ([[graft.ops.TextAnalysis
        //    .hashedTfVector]] — model-free feature hashing) plus an
        //    IVF index over them for search-hybrid's vector side.
        import spark.implicits._
        val dim = if (args.length > 2) args(2).toInt else 64
        val tx = t("transcripts").filter(col("transcript").isNotNull)
        graft.ops.TextAnalysis.bm25BuildIndex(tx, "video_id",
          "transcript", store)
        // the IVF machinery keys by LONG ids — derive a stable hash
        // key per video and keep the (key -> video_id) map in the
        // vector table for the probe-side join back
        val vecs = graft.ops.TextAnalysis.hashedTfVector(tx, "video_id",
          "transcript", dim)
          .select(xxhash64(col("id").cast("string")).as("id"),
            col("id").as("video_id"), col("embedding"))
        val (stored, _) = store.commit(spark, "tx_vectors", vecs)
        val n = stored.count()
        val (cb, members) = graft.ops.SimilaritySearch.ivfIndexFrames(
          stored.select("id", "embedding"), "id", "embedding",
          numCentroids = math.max(4, math.sqrt(n.toDouble).toInt))
        store.commit(spark, "tx_ivf_codebook", cb)
        store.commit(spark, "tx_ivf_members", members)
        // freshness marker: which transcripts version this index saw
        // (committed LAST, so its presence implies a complete build)
        store.commit(spark, "bm25_meta",
          Seq(("transcripts",
            store.currentVersion("transcripts").getOrElse(-1L)))
            .toDF("src_table", "src_version"))
        println(s"indexed $n transcripts: bm25_postings=" +
          s"${t("bm25_postings").count()} rows, dim=$dim, " +
          s"centroids=${t("tx_ivf_codebook").count()}")
        // completeness honesty (the dedupLinesWithin rule): a doc
        // whose text tokenizes EMPTY gets no vector row and no
        // postings — by design (an all-zeros vector has no cosine
        // direction), but silently, so the coverage gap must be
        // REPORTED: these docs can never match any search until
        // their text changes.
        val txN = tx.count()
        if (txN > n)
          println(s"(note: ${txN - n} of $txN transcripts tokenized " +
            "empty — not vectorized or indexed; they cannot match " +
            "any search)")

      case "search-hybrid" =>
        // HYBRID retrieval over the stored artifacts (`index-search`
        // first): BM25 probe (lexical) fused with a stored-IVF
        // cosine probe over the hashed-TF vectors (vector) by
        // reciprocal-rank fusion ([[graft.ops.SimilaritySearch
        // .rrfFuse]]) — the ss14 chain, end to end on the CLI, with
        // every corpus-sized computation paid at index time.
        val terms = args(2).split("\\s+").toSeq
        val k = if (args.length > 3) args(3).toInt else 10
        require(store.exists("bm25_postings") && store.exists("bm25_stats")
            && store.exists("tx_vectors") && store.exists("tx_ivf_codebook")
            && store.exists("tx_ivf_members") && store.exists("bm25_meta"),
          "search artifacts missing or incomplete — run index-search first")
        // the same freshness check search-ranked applies: a stale index
        // (transcripts changed since index-search) silently answers
        // with missing/outdated documents. Hybrid has no from-scratch
        // fallback (both artifact families would need one), so warn
        // loudly and proceed rather than refuse.
        locally {
          val meta = t("bm25_meta").head
          if (!store.currentVersion("transcripts")
              .contains(meta.getAs[Long]("src_version")))
            println("(WARNING: stored search artifacts are stale — " +
              "transcripts changed since index-search; results may miss " +
              "or misrank recent documents, re-run index-search to refresh)")
        }
        import spark.implicits._
        // hybrid has no from-scratch path (two artifact families), so
        // an unreadable index (older layout, torn pair) must fail with
        // the repair instruction, not a raw store error
        val lex =
          try graft.ops.TextAnalysis.bm25TopKStored(spark, store, terms, k)
            .select(col("id"), col("rank"))
          catch { case scala.util.control.NonFatal(e) =>
            sys.error(s"stored BM25 index unreadable (${e.getMessage}) — " +
              "re-run index-search to rebuild the search artifacts")
          }
        val dim = t("tx_vectors").select(size(col("embedding")))
          .head.getInt(0)
        val qvec = graft.ops.TextAnalysis.hashedTfVector(
          Seq((-1L, terms.mkString(" "))).toDF("id", "text"), "id", "text",
          dim)
        val vec = graft.ops.SimilaritySearch.probeStoredIvf(
          qvec, t("tx_vectors").select("id", "embedding"), "id", "embedding",
          t("tx_ivf_codebook"), t("tx_ivf_members"), k)
          .join(t("tx_vectors")
            .select(col("id").as("neighbor_id"), col("video_id")),
            Seq("neighbor_id"))
          .select(col("video_id").as("id"), col("rank"))
        val fused = graft.ops.SimilaritySearch.rrfFuse(Seq(lex, vec), k)
        show(fused.join(
            t("videos").select(col("video_id").as("id"), col("title")),
            Seq("id"), "left")
          .select(col("rank"), col("id"), col("title"), col("score_r"))
          .orderBy("rank"), k)

      case "hot-terms" =>
        // corpus hot-token report ([[graft.ops.Sketches.cmsHeavyHitters]]):
        // exact top-k transcript tokens, each carrying the count-min
        // band canary — the within_band column going false is the
        // alarm that the sketch (the thing a 100 TB deployment would
        // probe INSTEAD of exact counts) has drifted from truth
        val k = if (args.length > 2) args(2).toInt else 20
        val toks = t("transcripts")
          .filter(col("transcript").isNotNull)
          .select(explode(split(trim(lower(col("transcript"))), "\\s+"))
            .as("item"))
          .filter(col("item") =!= "")
        println(s"top-$k transcript tokens (count-min canary):")
        show(graft.ops.Sketches.cmsHeavyHitters(toks, "item", k = k), k)

      case "pack-transcripts" =>
        // training-prep over the stored corpus: exact-dedup survivors
        // → stride-overlapped context chunks → shard-packed examples
        // (the tp2 pipeline shape on store tables)
        val window = if (args.length > 2) args(2).toInt else 64
        val budget = if (args.length > 3) args(3).toInt else 256
        val tx = t("transcripts").select(col("video_id"), col("transcript"))
          .filter(col("transcript").isNotNull)
        val survivors = graft.ops.Dedup
          .dropExactDuplicates(tx, "video_id", "transcript")
        val chunks = graft.ops.TextAnalysis.chunk(survivors,
          "video_id", "transcript", window, stride = window * 3 / 4)
          .withColumn("ck", concat_ws(":", col("video_id"), col("chunk_no")))
        val packs = graft.ops.Packing.packSummary(chunks, "ck", "n_tokens",
          budgetTokens = budget, numShards = 8)
        println(s"packed training examples ($window-token windows, " +
          s"$budget-token budget):")
        show(packs.orderBy("shard", "pack_no"))
        val stats = packs.agg(count(lit(1)).as("n_packs"),
          sum("n_chunks").as("n_chunks"), sum("n_tokens").as("n_tokens"),
          round(avg("fill"), 4).as("avg_fill")).head
        println(s"packs=${stats.getLong(0)} chunks=${stats.getLong(1)} " +
          s"tokens=${stats.getLong(2)} avg_fill=${stats.getDouble(3)}")

      case "ingest-docs" =>
        // streaming incremental near-dup ingest: one AvailableNow
        // pass over new doc files (id BIGINT, text STRING parquet),
        // probed against the store's LSH artifacts; only genuinely
        // new content appends ([[graft.streaming.Streams
        // .nearDupIngest]] — the checkpoint under the store dir makes
        // re-invocations process only files added since last run)
        val inbox = args(2)
        val threshold = if (args.length > 3) args(3).toDouble else 0.6
        val q = graft.streaming.Streams.nearDupIngest(spark, inbox,
          args(1) + "/_ingest_checkpoint", store, threshold = threshold)
        q.awaitTermination()
        if (store.exists("corpus")) {
          println("corpus after ingest:")
          show(t("corpus").orderBy("id"))
        } else println("corpus after ingest: empty (no documents accepted)")
        if (store.exists("near_dup_rejects")) {
          println("rejected near-duplicates (best corpus match):")
          show(t("near_dup_rejects").orderBy("id"))
        }

      case "index-docs" =>
        // streaming lexical-index maintenance: one AvailableNow pass
        // over new doc files (id BIGINT, text STRING parquet) — the
        // first batch builds the stored BM25 index, every later
        // invocation folds only the new files in as an O(delta)
        // append ([[graft.streaming.Streams.lexicalIndexIngest]]);
        // probe with doc-search. Feed ids must be new (exact-dedup
        // upstream — compose with ingest-docs).
        // the doc-feed index lives under its OWN table names: sharing
        // index-search's bm25_postings/bm25_stats in one store would
        // route lexicalIndexIngest into bm25AppendIndex against the
        // string-keyed transcript index and die on the id-type schema
        // mismatch (loud, but a confusing collision to hand a user)
        val inbox = args(2)
        graft.streaming.Streams.lexicalIndexIngest(spark, inbox,
          args(1) + "/_index_checkpoint", store,
          postingsTable = "doc_bm25_postings",
          statsTable = "doc_bm25_stats",
          ledgerTable = "doc_bm25_ingest_ledger").awaitTermination()
        // an empty first inbox is a clean no-op: nothing built yet
        if (store.exists("doc_bm25_postings") && store.exists("doc_bm25_stats"))
          println(s"lexical index now at postings v" +
            s"${store.currentVersion("doc_bm25_postings").getOrElse(-1L)}: " +
            s"${t("doc_bm25_postings").count()} postings, " +
            s"${t("doc_bm25_stats").count()} terms")
        else println("no documents ingested yet — index not built")

      case "doc-search" =>
        // BM25 probe of the index-docs artifacts (id BIGINT corpus —
        // the doc-feed twin of search-ranked's video index)
        val terms = args(2).split("\\s+").toSeq
        val k = if (args.length > 3) args(3).toInt else 10
        require(store.exists("doc_bm25_postings") &&
            store.exists("doc_bm25_stats"),
          "no lexical index in this store — run index-docs first")
        show(graft.ops.TextAnalysis.bm25TopKStored(spark, store, terms, k,
            postingsTable = "doc_bm25_postings",
            statsTable = "doc_bm25_stats",
            tombstoneTable = "doc_bm25_tombstones")
          .orderBy("rank"), k)

      case "cluster-docs" =>
        // keep-and-label ingest: every doc is accepted, the store's
        // duplicate-cluster map is maintained incrementally
        // ([[graft.streaming.Streams.clusterIngest]]); curation
        // decides per cluster offline (keepBestPerCluster)
        val inbox = args(2)
        val threshold = if (args.length > 3) args(3).toDouble else 0.6
        val q = graft.streaming.Streams.clusterIngest(spark, inbox,
          args(1) + "/_cluster_checkpoint", store, threshold = threshold)
        q.awaitTermination()
        if (store.exists("dup_clusters")) {
          println("duplicate clusters after ingest:")
          show(t("dup_clusters").orderBy("cluster_id", "id"))
        } else println("duplicate clusters after ingest: none found yet")

      case "curate-docs" =>
        // streaming corpus curation over a doc inbox (st13's loop):
        // quality cut → exact dedup against the stored digest ledger
        // (fp-bucketed, touched-bucket reads) → decontamination
        // against the stored benchmark grams; survivors land in
        // corpus_clean. Re-invocations process only files added since
        // the last run (checkpoint under the store dir).
        // usage: curate-docs <store> <inbox> <benchDir> [minQuality]
        val inbox = args(2)
        val benchDir = args(3)
        val minQuality = if (args.length > 4) args(4).toDouble else 0.5
        val bench = spark.read.parquet(benchDir)
          .select(col("id").as("bench_id"), col("text"))
        graft.streaming.Streams.curationIngest(spark, inbox,
          args(1) + "/_curate_checkpoint", store, bench, "bench_id",
          "text", minQuality = minQuality).awaitTermination()
        if (store.exists("corpus_clean")) {
          println("clean corpus after curation:")
          show(t("corpus_clean").orderBy("id"))
        } else println("clean corpus after curation: empty " +
          "(no documents survived the screen yet)")

      case "decontaminate" =>
        // benchmark decontamination over the ingested corpus: report
        // train×eval overlap pairs and commit the cleaned corpus as a
        // separate table (the original stays untouched for audit).
        // mode `exact` = shared 8-gram windows (dc1/dc2); `fuzzy` =
        // MinHash-LSH Jaccard at the recall-derived band geometry
        // (dc3 — a miss silently KEEPS contamination, so the default
        // geometry guarantees >= 0.9 candidate recall at the
        // threshold)
        val benchDir = args(2)
        val mode = if (args.length > 3) args(3) else "exact"
        val corpus = t("corpus").select(col("id"), col("text"))
        val bench = spark.read.parquet(benchDir)
          .select(col("id").as("bench_id"), col("text"))
        // mine ONCE, stage to scratch, then report AND apply from the
        // staged pairs — calling the drop* helpers here would re-run
        // the whole mine (the dominant cost) a second time
        val minedPairs = mode match {
          case "exact" =>
            val minShared = if (args.length > 4) args(4).toInt else 2
            println("contaminated (shared 8-gram windows):")
            graft.ops.Decontamination.contaminationPairs(
              corpus, "id", "text", bench, "bench_id", "text",
              minShared = minShared)
              .orderBy(desc("n_shared"), col("doc_id"))
          case "fuzzy" =>
            val threshold = if (args.length > 4) args(4).toDouble else 0.5
            println(s"contaminated (LSH jaccard >= $threshold):")
            graft.ops.Decontamination.fuzzyContaminationPairs(
              corpus, "id", "text", bench, "bench_id", "text",
              threshold = threshold)
              .orderBy(desc("jaccard"), col("doc_id"))
          case other => throw new IllegalArgumentException(
            s"mode must be exact|fuzzy, got $other")
        }
        val scratch = graft.ops.Scratch.tempDir("graft-decon-")
        minedPairs.write.mode("overwrite").parquet(scratch)
        val staged = spark.read.parquet(scratch)
        show(staged)
        val clean = corpus.join(
          staged.select(col("doc_id").as("id")).distinct(),
          Seq("id"), "left_anti")
        val (kept, _) = store.commit(spark, "corpus_clean", clean)
        println(s"corpus_clean: ${kept.count()} of ${corpus.count()} docs kept")

      case "compact" =>
        // lakehouse maintenance: collapse fragmented buckets of a
        // bucketed store table ([[ParquetTableStore.compactBuckets]]);
        // safe to run concurrently with ingest — a lost pointer race
        // retries against the winner's base
        val table = args(2)
        val maxFiles = if (args.length > 3) args(3).toInt else 4
        val rewritten = store.withCommitRetries() {
          store.compactBuckets(spark, table, maxFiles)
        }
        if (rewritten.isEmpty)
          println(s"$table: nothing fragmented past $maxFiles files/bucket")
        else
          println(s"$table: compacted ${rewritten.size} buckets " +
            s"(${rewritten.toSeq.sorted.mkString(",")}) -> " +
            s"v${store.currentVersion(table).getOrElse(-1L)}")

      case "ann-recall" =>
        // the ss8 recall gate's PRODUCTION twin: measure the stored
        // IVF index's recall@k against the exact brute-force baseline
        // over the LIVE artifacts — the canary a deployment runs after
        // index-search (or on a schedule) to catch index drift; a
        // recall drop means the codebook no longer matches the vector
        // distribution and index-search should re-run
        val k = if (args.length > 2) args(2).toInt else 10
        val nq = if (args.length > 3) args(3).toInt else 10
        require(store.exists("tx_vectors") && store.exists("tx_ivf_codebook")
            && store.exists("tx_ivf_members"),
          "vector artifacts missing — run index-search first")
        val vecs = t("tx_vectors").select("id", "embedding")
        // deterministic query sample: the nq smallest ids
        val queries = vecs.orderBy("id").limit(nq)
        val exact = graft.ops.SimilaritySearch.bruteForceTopK(
          queries, vecs, "id", "embedding", k)
        val approx = graft.ops.SimilaritySearch.probeStoredIvf(
          queries, vecs, "id", "embedding",
          t("tx_ivf_codebook"), t("tx_ivf_members"), k)
        val recall = graft.ops.SimilaritySearch.recallAtK(exact, approx, k)
        println(s"stored-IVF recall@$k over $nq queries:")
        show(recall.orderBy("query_id"), nq)
        val mean = recall
          .agg(avg(col("hits").cast("double") / col("k").cast("double")))
          .head.getDouble(0)
        println(f"mean recall@$k = $mean%.4f")

      case "export-shards" =>
        // deterministic training-shard export of the ingested doc
        // corpus (sm10/sm11): partitioned shard files + a manifest
        // recomputed from the written bytes, with the order-sensitive
        // content hash a later verify re-checks.
        // usage: export-shards <store> <outDir> [nShards] [salt]
        val outDir = args(2)
        val nShards = if (args.length > 3) args(3).toInt else 16
        val salt = if (args.length > 4) args(4) else "shards:"
        val docs = t("corpus").select(col("id"), col("text"))
        val manifest = graft.ops.Sampling.exportShards(docs, "id",
          "text", nShards, salt, outDir)
        println(s"exported $nShards shards to $outDir/shards " +
          s"(manifest at $outDir/manifest):")
        show(manifest.orderBy("shard"))

      case "verify-shards" =>
        // read-back integrity check of a prior export-shards run: the
        // loader recomputes every manifest column (count, token mass,
        // order endpoints, content hash) from the shard FILES and
        // reports per-shard verdicts; any false verdict exits nonzero
        // (a trainer must refuse an export it cannot verify).
        // usage: verify-shards <store> <exportDir>
        val exportDir = args(2)
        val verdicts = graft.ops.Sampling.verifyShards(spark, exportDir,
          "id", "text").orderBy("shard")
        show(verdicts, n = 1000)
        val bad = verdicts.filter(!col("verified"))
          .select("shard").collect().map(_.getLong(0))
        if (bad.nonEmpty)
          sys.error(s"shard verification FAILED for shard(s) " +
            s"${bad.mkString(", ")} — the export does not match its " +
            "manifest; re-export before training on it")
        println(s"all shards verified against the stored manifest")

      case "gc" =>
        // sweep crash orphans (tmp- stagings, above-pointer dirs) for
        // one table or every table under the store root; age-gated so
        // a live writer's staging is never touched
        val hours = if (args.length > 3) args(3).toDouble else 24.0
        val olderMs = (hours * 3600 * 1000).toLong
        val tables =
          if (args.length > 2 && args(2) != "all") Seq(args(2))
          else {
            val rootDir = java.nio.file.Paths.get(args(1))
            if (!java.nio.file.Files.isDirectory(rootDir)) Seq.empty[String]
            else {
              val s = java.nio.file.Files.list(rootDir)
              try {
                import scala.jdk.CollectionConverters._
                s.iterator().asScala
                  .filter(p => java.nio.file.Files.isDirectory(p))
                  .map(_.getFileName.toString).toList.sorted
              } finally s.close()
            }
          }
        tables.foreach { tbl =>
          val swept = store.gc(tbl, olderMs)
          if (swept.nonEmpty)
            println(s"$tbl: swept ${swept.size} orphan dir(s): " +
              swept.sorted.mkString(", "))
        }
        println(s"gc done (${tables.size} tables, ${hours}h age gate)")

      case "stats" =>
        // store observability: per-table dashboard (versions, files,
        // bytes, layout stamps), group-marker vectors with staleness,
        // and per-consumer retention debt (the cursorLag report, with
        // group attribution) — the reference's summary-stats dashboard
        // shape (display.py:153-187) pointed at the ENGINE's own state
        val one = if (args.length > 2) Some(args(2)) else None
        println("== tables ==")
        store.tableStats(spark)
          .filter(one.map(t => col("table") === t)
            .getOrElse(lit(true)))
          .orderBy("table").show(1000, truncate = false)
        val groups = store.groupStats(spark)
        if (groups.limit(1).count() > 0) {
          println("== groups ==")
          groups.orderBy("group", "table").show(1000, truncate = false)
        }
        val lagTables = one.map(Seq(_)).getOrElse(store.tables)
        lagTables.foreach { tbl =>
          val lag = store.cursorLag(spark, tbl)
          if (lag.limit(1).count() > 0) {
            println(s"== consumers of $tbl ==")
            lag.orderBy("consumer").show(1000, truncate = false)
          }
        }

      case other =>
        sys.error(s"unknown command '$other' — see graft.app.Main scaladoc")
    }
  }
}
