package graft.connectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LIVE implementation shape of the S8/S9/S10 connector boundary:
  * a deployment supplies three plain `String => String` fetchers
  * (HTTP GET returning JSON — e.g. an Innertube/yt-dlp sidecar, an
  * API gateway, a cache) and this class turns them into the trait's
  * DataFrames with executor-side fan-out, rate limiting, retries, and
  * dead-lettering via [[ConnectorRuntime.fetchWithPolicy]].
  *
  * JSON contracts (documented, schema-checked by from_json — rows
  * that don't parse become nulls and are dropped like fetch errors):
  *  - fetchChannel(channelRef) →
  *      `[{"playlist_id":…,"title":…,"url":…}, …]`
  *  - fetchPlaylist(playlistId) →
  *      `[{"video_id":…,"position":1}, …]` (1-based order)
  *  - fetchVideo(videoId) → one object with the videos-table fields
  *      (publish_date as "yyyy-MM-dd") plus language/transcript,
  *      language preference already resolved connector-side
  *      (youtube_utils.py:170-190's manual-en > generated-en > first).
  *
  * S10 stays a DRIVER-side single fetch (one channel page per sync —
  * SURVEY §3.2's design); S8/S9 fan out over the work-list on
  * executors. Terminal fetch failures are exposed on
  * [[lastFailures]] for dead-letter sinks rather than failing the
  * stage.
  */
final class HttpJsonYouTubeConnector(
    fetchChannel: String => String,
    fetchPlaylist: String => String,
    fetchVideo: String => String,
    ratePerSecPerPartition: Double = 1.0,
    maxAttempts: Int = 3,
    backoffMs: Long = 1000L,
    sleeper: Long => Unit = Thread.sleep(_)) extends YouTubeConnector {

  @volatile private var failures: Option[DataFrame] = None
  private val cachedFetches = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Terminal (post-retry) failures of the most recent S8/S9 call:
    * (id, attempts, error). */
  def lastFailures: Option[DataFrame] = failures

  /** Unpersist all cached fetch results (call when a sync finishes). */
  def releaseCache(): Unit = synchronized {
    cachedFetches.foreach(_.unpersist())
    cachedFetches.clear()
  }

  private def fanOut(requests: DataFrame, idCol: String,
      fetch: String => String): DataFrame = {
    // The fetch stage is PERSISTED by contract, not as a tuning knob:
    // a lazy recompute would re-hit the remote origin per action —
    // wrong for side-effectful I/O at any scale, rate-limited or not.
    // SyncPipeline pins its scrape itself, so what this persist serves
    // is [[lastFailures]] (a dead-letter sink reads it after the
    // sync's own actions) and the playlist contents, which a retried
    // membership commit evaluates again.
    val fetched = ConnectorRuntime.fetchWithPolicy(requests, idCol, fetch,
      ratePerSecPerPartition, maxAttempts, backoffMs, sleeper = sleeper)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    synchronized { cachedFetches += fetched }
    failures = Some(fetched.filter(col("error").isNotNull)
      .select(col(idCol), col("attempts"), col("error")))
    fetched.filter(col("error").isNull)
  }

  override def channelPlaylists(spark: SparkSession, channelRef: String): DataFrame = {
    import spark.implicits._
    val payload = fetchChannel(channelRef) // one page per sync: driver-side
    Seq(payload).toDF("j")
      .select(explode(from_json(col("j"),
        org.apache.spark.sql.types.DataType.fromDDL(
          "array<struct<playlist_id:string,title:string,url:string>>")
          .asInstanceOf[org.apache.spark.sql.types.ArrayType])).as("p"))
      .select("p.*")
      .filter(col("playlist_id").isNotNull)
  }

  override def playlistContents(spark: SparkSession, playlists: DataFrame): DataFrame =
    fanOut(playlists.select("playlist_id"), "playlist_id", fetchPlaylist)
      .select(col("playlist_id"),
        explode(from_json(col("payload"),
          org.apache.spark.sql.types.DataType.fromDDL(
            "array<struct<video_id:string,position:int>>")
            .asInstanceOf[org.apache.spark.sql.types.ArrayType])).as("v"))
      .select(col("playlist_id"), col("v.video_id"), col("v.position"))
      .filter(col("video_id").isNotNull)

  override def scrapeVideos(spark: SparkSession, videoIds: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      """struct<title:string,description:string,channel:string,
        |publish_date:string,duration_seconds:int,view_count:bigint,
        |author:string,channel_id:string,thumbnail_url:string,
        |video_url:string,language:string,transcript:string>""".stripMargin
        .replaceAll("\n", ""))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    fanOut(videoIds.select("video_id"), "video_id", fetchVideo)
      .select(col("video_id"), from_json(col("payload"), schema).as("m"))
      .filter(col("m").isNotNull)
      .select(col("video_id"), col("m.title"), col("m.description"),
        col("m.channel"), to_date(col("m.publish_date")).as("publish_date"),
        col("m.duration_seconds"), col("m.view_count"), col("m.author"),
        col("m.channel_id"), col("m.thumbnail_url"), col("m.video_url"),
        col("m.language"), col("m.transcript"))
  }
}
