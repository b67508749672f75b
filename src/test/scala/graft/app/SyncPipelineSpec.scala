package graft.app

import org.apache.spark.sql.functions._

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.connectors.{FakeYouTubeConnector, YouTubeConnector}
import graft.ops.{ParquetTableStore, PosixStoreIo, StoreIo}

class SyncPipelineSpec extends SparkSpec {

  test("full channel sync: cold start then incremental with diff + freshness") {
    val store = new ParquetTableStore(tmpDir("sync"))
    val pipe = new SyncPipeline(store, new FakeYouTubeConnector(3))
    val t1 = to_timestamp(lit("2024-02-01 00:00:00"))

    // cold start
    val r1 = pipe.syncChannel(spark, "chanA", t1)
    assert(r1.playlists == 5)
    assert(r1.added == 15) // 5 playlists × 3 members
    assert(r1.removed == 0)
    assert(r1.scraped == 15)
    assert(store.read(spark, "videos").count() == 15)
    assert(store.read(spark, "transcripts").count() == 15)
    val pl = store.read(spark, "playlists")
    assert(pl.filter(col("item_count") === 3).count() == 5)

    // second run 3 days later: same remote state → no adds/removes,
    // nothing stale yet → nothing scraped
    val t2 = to_timestamp(lit("2024-02-04 00:00:00"))
    val r2 = pipe.syncChannel(spark, "chanA", t2)
    assert(r2.added == 0 && r2.removed == 0 && r2.scraped == 0)

    // third run 10 days later: everything stale → all rescraped
    val t3 = to_timestamp(lit("2024-02-14 00:00:00"))
    val r3 = pipe.syncChannel(spark, "chanA", t3)
    assert(r3.scraped == 15)

    // ping log is append-only with a coherent latest view
    val status = pipe.pingStatus(spark)
    assert(status.count() == 5)
    assert(status.filter(col("status") === "completed").count() == 5)
    assert(store.read(spark, "playlist_pings").count() == 5 * 2 * 3)
  }

  test("membership diff: removed remote rows disappear, retained keep attrs") {
    val store = new ParquetTableStore(tmpDir("sync2"))
    val pipe = new SyncPipeline(store, new FakeYouTubeConnector(4))
    val t1 = to_timestamp(lit("2024-03-01 00:00:00"))
    pipe.syncChannel(spark, "chanB", t1)
    assert(store.read(spark, "playlist_videos").count() == 20)

    // shrink the remote membership: connector now returns 2 per playlist
    val pipe2 = new SyncPipeline(store, new FakeYouTubeConnector(2))
    val t2 = to_timestamp(lit("2024-03-20 00:00:00"))
    val r = pipe2.syncChannel(spark, "chanB", t2)
    assert(r.removed == 10) // positions 3,4 of each playlist dropped
    assert(store.read(spark, "playlist_videos").count() == 10)
    assert(store.read(spark, "playlists")
      .filter(col("item_count") === 2).count() == 5)
  }

  test("sync merges pin the snapshot they derive from: a competing writer's rows survive") {
    import spark.implicits._
    val root = tmpDir("sync-race")
    // default retention: the competitor's extra videos commits would
    // prune the version the sync's lazy work list reads, but the sync
    // protects it with a cursor for its duration
    val plain = new ParquetTableStore(root)
    val t1 = to_timestamp(lit("2024-02-01 00:00:00"))
    new SyncPipeline(plain, new FakeYouTubeConnector(3))
      .syncChannel(spark, "chanA", t1)
    // a competitor (an ingest-inbox run, say) inserting one row
    def competitorRow(table: String, id: String): DataFrame =
      Seq(id).toDF("video_id").select(
        plain.read(spark, table).schema.map(f =>
          if (f.name == "video_id") col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
    // (1) the competitor lands while the connector scrapes — after the
    // work list was derived from the stored videos, before the merge
    var scrapes = 0
    val racingConnector = new YouTubeConnector {
      private val inner = new FakeYouTubeConnector(3)
      def channelPlaylists(s: SparkSession, ref: String) =
        inner.channelPlaylists(s, ref)
      def playlistContents(s: SparkSession, pl: DataFrame) =
        inner.playlistContents(s, pl)
      def scrapeVideos(s: SparkSession, ids: DataFrame) = {
        scrapes += 1
        plain.upsert(s, "videos", competitorRow("videos", "inbox1"),
          Seq("video_id"))
        inner.scrapeVideos(s, ids)
      }
    }
    val t2 = to_timestamp(lit("2024-02-14 00:00:00"))
    new SyncPipeline(plain, racingConnector).syncChannel(spark, "chanA", t2)
    assert(plain.read(spark, "videos").filter(col("video_id") === "inbox1")
      .count() == 1, "competitor's video row was overwritten")
    assert(plain.read(spark, "videos").count() == 16)
    // (2) the competitor lands between the pinned read and the publish:
    // the pinned CAS fails, the retry re-derives over it — and the
    // connector is not called again
    var raced = false
    val racingIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          e: Option[String]): Unit = {
        if (!raced && p.getParent.getFileName.toString == "transcripts") {
          raced = true
          plain.upsert(spark, "transcripts",
            competitorRow("transcripts", "inbox2"), Seq("video_id"))
        }
        PosixStoreIo.swapPointerIfCurrent(p, c, e)
      }
    }
    scrapes = 0
    val t3 = to_timestamp(lit("2024-03-01 00:00:00"))
    new SyncPipeline(new ParquetTableStore(root, io = racingIo),
      racingConnector).syncChannel(spark, "chanA", t3)
    assert(raced && scrapes == 1, s"raced=$raced scrapes=$scrapes")
    assert(plain.read(spark, "transcripts")
      .filter(col("video_id") === "inbox2").count() == 1,
      "competitor's transcript row was overwritten")
    // the sync released its work-list cursor
    assert(plain.cursorLag(spark, "videos").count() == 0)
  }
}
