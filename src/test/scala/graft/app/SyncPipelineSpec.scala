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

  /** A StoreIo that runs `competitor(table)` once per named table, at
    * that table's first pointer swap: after the sync read and derived
    * from its pinned snapshot, before the publish (a competitor that
    * throws fails that publish). */
  private def racingIo(tables: Set[String])(competitor: String => Unit): StoreIo =
    new StoreIo {
      private var pending = tables
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          e: Option[String]): Unit = {
        val table = p.getParent.getFileName.toString
        if (p.getFileName.toString == "_CURRENT" && pending.contains(table)) {
          pending -= table
          competitor(table)
        }
        PosixStoreIo.swapPointerIfCurrent(p, c, e)
      }
    }

  test("each work-list video is scraped once per sync") {
    val evaluated = spark.sparkContext.longAccumulator("scraped rows")
    // counts every scraped row the connector produces, however many
    // actions evaluate the frame
    val tick = udf { (_: String) => evaluated.add(1); true }.asNondeterministic()
    val counting = new YouTubeConnector {
      private val inner = new FakeYouTubeConnector(3)
      def channelPlaylists(s: SparkSession, ref: String) =
        inner.channelPlaylists(s, ref)
      def playlistContents(s: SparkSession, pl: DataFrame) =
        inner.playlistContents(s, pl)
      def scrapeVideos(s: SparkSession, ids: DataFrame) =
        inner.scrapeVideos(s, ids).filter(tick(col("video_id")))
    }
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val root = tmpDir("sync-once")
    val pipe = new SyncPipeline(new ParquetTableStore(root), counting)
    // cold, then incremental with everything stale (the path that
    // re-read the scrape most)
    for (day <- Seq("2024-02-01", "2024-02-14")) {
      evaluated.reset()
      val r = pipe.syncChannel(spark, "chanA", to_timestamp(lit(s"$day 00:00:00")))
      assert(r.scraped == 15)
      assert(evaluated.value == r.scraped, s"$day: ${evaluated.value} rows scraped")
      assert(sc.getPersistentRDDs.keySet == persistedBefore, s"$day: scrape left cached")
    }
    // a merge that throws after the scrape still releases it (and the
    // work-list cursor)
    val failing = racingIo(Set("videos")) { _ =>
      throw new IllegalStateException("injected videos publish failure")
    }
    evaluated.reset()
    val e = intercept[IllegalStateException](
      new SyncPipeline(new ParquetTableStore(root, io = failing), counting)
        .syncChannel(spark, "chanA", to_timestamp(lit("2024-03-01 00:00:00"))))
    assert(e.getMessage.contains("injected"))
    assert(evaluated.value == 15)
    assert(sc.getPersistentRDDs.keySet == persistedBefore, "failed sync left its scrape cached")
    assert(new ParquetTableStore(root).cursorLag(spark, "videos").count() == 0)
  }

  test("report counts come from the winning attempt") {
    import spark.implicits._
    val t1 = to_timestamp(lit("2024-02-01 00:00:00"))
    val t2 = to_timestamp(lit("2024-02-11 00:00:00"))
    // the competitor: one extra playlist, and memberships with two
    // rows gone and one bogus row added — so the winning attempt's
    // counts differ from the first attempt's
    def compete(store: ParquetTableStore, table: String): Unit = table match {
      case "playlists" =>
        val pl = store.read(spark, "playlists")
        store.commit(spark, "playlists", pl.unionByName(
          Seq(("PL_extra", "Extra", "https://example.invalid/PL_extra"))
            .toDF("playlist_id", "title", "url")
            .withColumn("item_count", lit(null).cast("int"))
            .withColumn("last_updated", lit(null).cast("timestamp"))))
      case "playlist_videos" =>
        val pv = store.read(spark, "playlist_videos")
        val gone = pv.filter(col("playlist_id") === "PL_chanA_1")
          .orderBy("position").limit(2)
        store.commit(spark, "playlist_videos",
          pv.join(gone.select("video_id"), Seq("video_id"), "left_anti")
            .unionByName(Seq(("PL_chanA_1", "vbogus00001", 99))
              .toDF("playlist_id", "video_id", "position")))
    }
    def report(r: SyncPipeline#SyncReport) = (r.playlists, r.added, r.removed, r.scraped)

    val rootRaced = tmpDir("sync-counts-raced")
    val plain = new ParquetTableStore(rootRaced)
    new SyncPipeline(plain, new FakeYouTubeConnector(3)).syncChannel(spark, "chanA", t1)
    var raced = Set.empty[String]
    val io = racingIo(Set("playlists", "playlist_videos")) { table =>
      raced += table
      compete(plain, table)
    }
    val racedReport = new SyncPipeline(new ParquetTableStore(rootRaced, io = io),
      new FakeYouTubeConnector(3)).syncChannel(spark, "chanA", t2)
    assert(raced == Set("playlists", "playlist_videos"))

    // a clean sync over the competitor's state
    val rootClean = tmpDir("sync-counts-clean")
    val clean = new ParquetTableStore(rootClean)
    val cleanPipe = new SyncPipeline(clean, new FakeYouTubeConnector(3))
    cleanPipe.syncChannel(spark, "chanA", t1)
    compete(clean, "playlists")
    compete(clean, "playlist_videos")
    val cleanReport = cleanPipe.syncChannel(spark, "chanA", t2)

    assert(report(racedReport) == report(cleanReport))
    // the extra playlist's 3 members and the 2 dropped rows are added,
    // the bogus row is removed
    assert(report(racedReport) == ((6L, 5L, 1L, 18L)), s"$racedReport")
    assert(plain.read(spark, "playlist_videos").count() == 18)
  }
}
