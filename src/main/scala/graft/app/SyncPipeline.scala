package graft.app

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.connectors.YouTubeConnector
import graft.ops.{Expect, ParquetTableStore, Upserts}

/** The run_me/main_scraper end-to-end shapes (SURVEY §3.1/§3.2) as one
  * declarative pipeline over the versioned store:
  *
  *   playlists ─ U1 upsert ─┐
  *   remote contents (S8) ──┤─ U5 diff-sync per playlist ─ memberships
  *   stored video ids ──────┘
  *   work list = (new ids ∪ stale ids)  — U7 freshness gate
  *   scraped rows (S9) ─ U1 upsert → videos + U6-style transcripts
  *   ping log — append-only U9 events around every playlist sync
  *
  * Where the reference loops playlist-by-playlist and video-by-video
  * with per-row SQLite statements, every step here is one dataflow
  * over ALL playlists at once: the connector fan-out (the network
  * boundary) is the only per-row work, and it runs on executors.
  *
  * Each piece of work runs once per sync. The scrape is persisted for
  * the sync's duration (its count materializes it; both merges and
  * any retry read the cached rows) and released on every exit path.
  * The report's counts are observed on the commits that write them
  * ([[SyncPipeline.mergeCounted]]): the playlists row count on the
  * playlists commit, adds/removes on the membership commit — no job
  * of their own, and a retried commit reports its winning attempt.
  */
final class SyncPipeline(store: ParquetTableStore, connector: YouTubeConnector,
    refreshDays: Int = 7) {
  import SyncPipeline.{mergeCounted, mergeInto}

  final case class SyncReport(
      playlists: Long, added: Long, removed: Long, scraped: Long)

  /** One full channel sync (run_me.py:225-257 equivalent). `now` is
    * injected for reproducibility (F9/U7). */
  def syncChannel(spark: SparkSession, channelRef: String, now: Column): SyncReport = {
    // Version hygiene: commits return the RE-READ frame (reading the
    // published version's files, not the input's lazy plan), so it is
    // safe to keep using downstream — even across the next commit of
    // the same table. Every merge is pinned to the snapshot it derives
    // from ([[SyncPipeline.mergeInto]]), so a concurrent writer on the
    // same table (ingest-inbox on videos/transcripts) is never lost.
    // S10 + U1: refresh the playlists table
    val remotePl = connector.channelPlaylists(spark, channelRef)
      .withColumn("item_count", lit(null).cast("int"))
      .withColumn("last_updated", lit(null).cast("timestamp"))
    val (playlists, plRows) = mergeCounted(spark, store, "playlists") {
      (cur, rows) => cur.fold(remotePl)(
        Upserts.upsertLastWriteWins(_, remotePl, Seq("playlist_id")))
        .observe(rows, count(lit(1)).as("rows"))
    }
    val nPlaylists = plRows("rows").asInstanceOf[Long]
    ping(spark, playlists.select(col("playlist_id")), "started", now)

    // S8 + U5: reconcile memberships for every playlist in one pass
    // (the add/remove counts are observed on the winning attempt's
    // commit, so a retry over a competitor's version reports its own
    // diff)
    val remote = connector.playlistContents(spark, playlists)
    val (memberships, diff) = mergeCounted(spark, store, "playlist_videos") {
      (cur, counts) => Upserts.diffSync(cur.getOrElse(remote.limit(0)),
        remote, Seq("playlist_id", "video_id")).syncedCounting(counts)
    }
    val nAdds = diff("adds").asInstanceOf[Long]
    val nRemoves = diff("removes").asInstanceOf[Long]

    // U3-equivalent: refresh item_count/last_updated from the sync
    val counts = memberships.groupBy("playlist_id")
      .agg(count(lit(1)).cast("int").as("item_count"))
    val playlists2Committed = mergeInto(spark, store, "playlists") { cur =>
      val pl = cur.getOrElse(playlists)
      pl.drop("item_count")
        .join(counts, Seq("playlist_id"), "left")
        .withColumn("item_count", coalesce(col("item_count"), lit(0)))
        .withColumn("last_updated", now)
        .select(pl.columns.map(col).toIndexedSeq: _*)
    }

    // work list: member videos never scraped or stale (U7 + J9). It
    // stays a lazy frame over the videos version read here. The scrape
    // below is pinned and evaluated once, but a cached block evicted
    // under memory pressure is recomputed from this plan, so a cursor
    // protects that version from pruning until the sync ends, however
    // many commits land on videos meanwhile
    val memberIds = memberships.select(col("video_id")).distinct()
    val videosRead =
      if (store.exists("videos")) Some(store.readVersioned(spark, "videos"))
      else None
    val cursor = s"_sync-${java.util.UUID.randomUUID.toString.take(8)}"
    videosRead.foreach { case (_, v) =>
      store.registerCursor("videos", cursor, v)
    }
    var scraped: Option[DataFrame] = None
    try {
      val workList = videosRead match {
        case None => memberIds
        case Some((videosStored, _)) =>
          val stale = Upserts.freshnessGate(videosStored
            .join(memberIds, Seq("video_id"), "left_semi"),
            "last_scraped_timestamp", now, refreshDays)
            .select(col("video_id"))
          val fresh = memberIds.join(videosStored, Seq("video_id"), "left_anti")
          fresh.unionByName(stale).distinct()
      }

      // S9 + U1: scrape and upsert videos + transcripts. The scrape is
      // pinned and its count materializes it, so the connector and the
      // work-list joins run once per sync: the count, both merges (an
      // LWW merge reads its input twice, anti-join and union side) and
      // any merge retry read the cached rows
      val pinned = connector.scrapeVideos(spark, workList)
        .withColumn("last_scraped_timestamp", now)
        .persist(StorageLevel.MEMORY_AND_DISK)
      scraped = Some(pinned)
      val nScraped = pinned.count()
      val videoCols = Seq("video_id", "title", "description", "channel",
        "publish_date", "duration_seconds", "view_count", "author",
        "channel_id", "thumbnail_url", "video_url", "last_scraped_timestamp")
      val videosNew = pinned.select(videoCols.map(col): _*)
      mergeInto(spark, store, "videos")(_.fold(videosNew)(
        Upserts.upsertLastWriteWins(_, videosNew, Seq("video_id"))))

      val transcriptsNew = pinned
        .select(col("video_id"), col("language"), col("transcript"),
          now.as("last_fetched_timestamp"))
        .filter(col("transcript").isNotNull)
      mergeInto(spark, store, "transcripts")(_.fold(transcriptsNew)(
        Upserts.upsertLastWriteWins(_, transcriptsNew, Seq("video_id"))))

      ping(spark, playlists2Committed.select(col("playlist_id")),
        "completed", now)
      SyncReport(nPlaylists, nAdds, nRemoves, nScraped)
    } finally {
      scraped.foreach(_.unpersist())
      if (videosRead.nonEmpty) store.unregisterCursor("videos", cursor)
    }
  }

  /** U9: append ping events (never UPDATE; latest-status is a view).
    * `phase` stands in for the reference's AUTOINCREMENT ping_id as
    * the within-timestamp tie-break: started=0 < terminal statuses. */
  private def ping(spark: SparkSession, playlistIds: DataFrame, status: String,
      now: Column): Unit = {
    val batch = playlistIds
      .withColumn("pinged_timestamp", now)
      .withColumn("status", lit(status))
      .withColumn("phase", lit(if (status == "started") 0 else 1))
    mergeInto(spark, store, "playlist_pings")(
      _.fold(batch)(_.unionByName(batch)))
  }

  /** The latest-status view over the ping log (W3/U9). */
  def pingStatus(spark: SparkSession): DataFrame =
    Upserts.latestByKey(store.read(spark, "playlist_pings"),
      Seq("playlist_id"), Seq(col("pinged_timestamp"), col("phase")))
}

object SyncPipeline {

  /** Publish `derive(snapshot)` as `table`'s next version, with the
    * CAS pinned to the snapshot it derived from (absence when the
    * table does not exist yet). A competing commit landing between the
    * read and the publish fails the CAS, and the retry re-reads and
    * re-derives over the competitor's version instead of overwriting
    * it. `derive` runs once per attempt, so it only combines frames
    * the caller already holds — a retry never calls the connector. */
  private[app] def mergeInto(spark: SparkSession, store: ParquetTableStore,
      table: String)(derive: Option[DataFrame] => DataFrame): DataFrame =
    store.withCommitRetries() {
      val (stored, pin) = store.readPinnedOption(spark, table)
      store.commit(spark, table, derive(stored), Expect.Pinned(pin))._1
    }

  /** [[mergeInto]] that also returns metrics of the committed rows:
    * `derive` must observe them into the [[Observation]] it is given
    * (or this waits forever). They are collected by the commit's own
    * write, with no job of their own, and every attempt gets a fresh
    * Observation, so a retry reports what the winning attempt wrote. */
  private[app] def mergeCounted(spark: SparkSession, store: ParquetTableStore,
      table: String)(derive: (Option[DataFrame], Observation) => DataFrame)
      : (DataFrame, Map[String, Any]) = {
    var metrics: Observation = null
    val committed = mergeInto(spark, store, table) { stored =>
      metrics = Observation()
      derive(stored, metrics)
    }
    (committed, metrics.get)
  }
}
