package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connectors.YouTubeConnector

/** What the seeded channel returns for one video. Pure functions of
  * (seed, video id, scrape epoch), so executors regenerate exactly what
  * the driver-side expectations assume. */
final case class ScrapedVideo(title: String, description: String,
    publish_day: Int, duration_seconds: Int, view_count: Long,
    author: String, transcript: String)

object SyncContent {
  val VocabSize = 6000
  val DayMicros: Long = 86400L * 1000000L
  /** 2026-01-01T00:00:00Z: the simulated clock's origin. */
  val T0Micros: Long = 1767225600L * 1000000L

  private def vocab(seed: Long) = Vocab.of(seed, VocabSize)

  def title(seed: Long, vid: String): String = {
    val rng = Vocab.rng(seed, "title:" + vid)
    vocab(seed).sentence(rng, 3 + rng.nextInt(5)).split(' ')
      .map(_.capitalize).mkString(" ")
  }

  /** About 60 % of videos carry a transcript at the source. */
  def hasTranscript(seed: Long, vid: String): Boolean =
    java.lang.Long.remainderUnsigned(Vocab.hash(seed, "tx?" + vid), 10) < 6

  /** 1-8 KB of `[mm:ss] words` lines, or plain lines without stamps. */
  def transcriptText(seed: Long, key: String, stamped: Boolean): String = {
    val rng = Vocab.rng(seed, "tx:" + key)
    val target = 1024 + rng.nextInt(7 * 1024)
    val v = vocab(seed)
    val sb = new StringBuilder
    var sec = 0
    while (sb.length < target) {
      if (sb.nonEmpty) sb += '\n'
      if (stamped) sb ++= f"[${sec / 60 % 100}%02d:${sec % 60}%02d] "
      sb ++= v.sentence(rng, 8 + rng.nextInt(7))
      sec += 2 + rng.nextInt(6)
    }
    sb.toString
  }

  def connectorTranscript(seed: Long, vid: String): String =
    transcriptText(seed, vid, stamped = true)

  def scrape(seed: Long, vid: String, epoch: Int): ScrapedVideo = {
    val rng = Vocab.rng(seed, "meta:" + vid)
    ScrapedVideo(
      title(seed, vid),
      vocab(seed).sentence(rng, 10 + rng.nextInt(16)),
      rng.nextInt(4000),
      60 + rng.nextInt(7140),
      rng.nextLong(5000000L) + epoch * 17L,
      s"Author ${rng.nextInt(25)}",
      if (hasTranscript(seed, vid)) connectorTranscript(seed, vid) else null)
  }

  /** How long before T0 a video was last scraped, spread over the
    * freshness window so each round pushes a steady share past it. */
  def initialAgeMicros(seed: Long, vid: String): Long =
    java.lang.Long.remainderUnsigned(Vocab.hash(seed, "age:" + vid),
      7L * 86400L) * 1000000L
}

/** A transcript as the store should hold it: `text` None means the
  * source's own transcript for the video. */
final case class Tx(text: Option[String], stamped: Boolean)

/** The files of one inbox batch and what ingesting them must do. */
final case class InboxBatch(dir: String, fresh: Seq[String], reuploads: Seq[String],
    malformed: Int)

/** The round's expected [[graft.app.SyncPipeline]] report. */
final case class SyncExpect(playlists: Long, added: Long, removed: Long,
    scraped: Long)

/** A seeded channel of ~220 playlists × ~40 items and a driver-side
  * mirror of what the store must hold after each step. Each
  * [[advance]] moves the simulated clock and churns ~2 % of the
  * memberships; [[inbox]] writes one transcript-inbox batch. */
final class Channel(val seed: Long) {
  private val nPlaylists = 220
  private val perPlaylist = 40
  private val multiShare = 0.2
  private val rng = new SplittableRandom(seed)
  private val alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-"
  val ref = "perfbench"

  private def newId(prefix: String, len: Int): String = {
    val sb = new StringBuilder(prefix)
    (0 until len).foreach(_ => sb += alphabet.charAt(rng.nextInt(alphabet.length)))
    sb.toString
  }

  val playlists: IndexedSeq[(String, String)] = (0 until nPlaylists).map { _ =>
    val id = newId("PL", 16)
    (id, SyncContent.title(seed, id))
  }
  private val plIndex = playlists.map(_._1)

  /** playlist → (video → position). */
  val members: Map[String, mutable.LinkedHashMap[String, Int]] =
    plIndex.map(_ -> mutable.LinkedHashMap.empty[String, Int]).toMap
  private val nextPos = mutable.HashMap.empty[String, Int].withDefaultValue(1)
  /** The videos table: id → last_scraped_timestamp (micros). */
  val known = mutable.HashMap.empty[String, Long]
  /** The transcripts table. */
  val tx = mutable.HashMap.empty[String, Tx]
  var nowMicros: Long = SyncContent.T0Micros
  var epoch = 0

  private def addMember(pid: String, vid: String): Unit = {
    members(pid)(vid) = nextPos(pid)
    nextPos(pid) += 1
  }

  locally {
    val nVideos = math.round(nPlaylists * perPlaylist / (1.0 + multiShare)).toInt
    val vids = (0 until nVideos).map(_ => newId("", 11)).distinct
    vids.foreach(v => addMember(plIndex(rng.nextInt(nPlaylists)), v))
    vids.filter(_ => rng.nextDouble() < multiShare).foreach { v =>
      val candidates = plIndex.filterNot(p => members(p).contains(v))
      addMember(candidates(rng.nextInt(candidates.size)), v)
    }
  }

  def membershipCount: Int = members.values.map(_.size).sum
  def memberVideos: Set[String] = members.values.flatMap(_.keys).toSet

  def nowCol: Column = timestamp_micros(lit(nowMicros))

  /** Move the clock 12 hours, which pushes ~7 % of the videos past the
    * 7-day freshness gate (a fixed step, so the re-scrape volume does
    * not swing with the seed), and churn ~2 % of the memberships (half
    * removals, half additions; of the additions 70 % are new videos and
    * 30 % existing videos joining another playlist). Returns the report
    * the next sync must produce. */
  def advance(): SyncExpect = {
    epoch += 1
    nowMicros += 12L * 3600 * 1000000L
    val half = math.max(1, membershipCount / 100)
    val all = members.toSeq.flatMap { case (p, m) => m.keys.map(p -> _) }
      .sortBy(x => (x._1, x._2))
    val removed = mutable.LinkedHashSet.empty[(String, String)]
    while (removed.size < half) removed += all(rng.nextInt(all.size))
    removed.foreach { case (p, v) => members(p).remove(v) }
    val existing = memberVideos.toIndexedSeq.sorted
    var added = 0
    while (added < half) {
      val p = plIndex(rng.nextInt(nPlaylists))
      val v = if (rng.nextDouble() < 0.7) newId("", 11)
        else existing(rng.nextInt(existing.size))
      if (!members(p).contains(v) && !removed.contains(p -> v)) {
        addMember(p, v); added += 1
      }
    }
    SyncExpect(nPlaylists, added, removed.size, workList.size)
  }

  private def staleBefore: Long = nowMicros - 7 * SyncContent.DayMicros

  /** New member videos plus stale ones: the freshness-gated work list. */
  def workList: Set[String] = memberVideos.filter(v =>
    known.get(v).forall(_ < staleBefore))

  /** Record a completed sync of `scraped` at the current clock. */
  def synced(scraped: Set[String]): Unit = scraped.foreach { v =>
    known(v) = nowMicros
    if (SyncContent.hasTranscript(seed, v)) tx(v) = Tx(None, stamped = true)
  }

  /** After the cold sync, spread the last-scraped times over the
    * freshness window (the setup restamps the videos table to match). */
  def restamp(): Unit = known.keys.toSeq.foreach { v =>
    known(v) = nowMicros - SyncContent.initialAgeMicros(seed, v)
  }

  /** Connector over this channel's current remote state. */
  def connector: YouTubeConnector = new SeededConnector(this)

  def remoteMemberships(spark: SparkSession): DataFrame = {
    import spark.implicits._
    members.toSeq.flatMap { case (p, m) => m.map { case (v, pos) => (p, v, pos) } }
      .toDF("playlist_id", "video_id", "position")
  }

  /** Write one inbox batch of `n` files: ~87 % transcripts for member
    * videos that have none, ~10 % re-uploads over stored transcripts
    * (half without timestamps, which must lose to a stamped original),
    * ~3 % malformed. Updates the mirror to the expected result. */
  def inbox(dir: String, n: Int): InboxBatch = {
    val nBad = math.max(1, n * 3 / 100)
    val nRe = math.max(2, n / 10)
    val pool = memberVideos.filter(v => !tx.contains(v)).toIndexedSeq.sorted
    val fresh = shuffle(pool).take(n - nBad - nRe)
    val reuploads = shuffle(tx.keys.toIndexedSeq.sorted).take(nRe)
    Files.createDirectories(Paths.get(dir))
    var i = 0
    def write(body: String): Unit = {
      Files.write(Paths.get(dir, f"t$i%04d.txt"), body.getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    def header(v: String) =
      if (rng.nextBoolean()) s"TITLE: ${SyncContent.title(seed, v)}\n" +
        s"URL: https://www.youtube.com/watch?v=$v\n\n"
      else s"ID: $v\n\n"
    fresh.foreach { v =>
      val stamped = rng.nextDouble() < 0.8
      val text = SyncContent.transcriptText(seed, s"inbox:$epoch:$v", stamped)
      write(header(v) + text)
      tx(v) = Tx(Some(text), stamped)
    }
    reuploads.zipWithIndex.foreach { case (v, k) =>
      val stamped = k % 2 == 0
      val text = SyncContent.transcriptText(seed, s"re:$epoch:$v", stamped)
      write(header(v) + text)
      // conditionalUpsert's rule: the upload wins when it carries
      // timestamps or the stored transcript has none
      if (stamped || !tx(v).stamped) tx(v) = Tx(Some(text), stamped)
    }
    (0 until nBad).foreach { k =>
      if (k % 2 == 0) write(s"TITLE: untitled upload $k\n\n" +
        SyncContent.transcriptText(seed, s"bad:$epoch:$k", stamped = true))
      else write(s"ID: ${newId("", 11)}\n\n")
    }
    InboxBatch(dir, fresh, reuploads, nBad)
  }

  def expectedTranscript(v: String): String =
    tx(v).text.getOrElse(SyncContent.connectorTranscript(seed, v))

  private def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var k = a.length - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** The connector the sync pipeline sees: playlists and memberships
  * come from the channel's current state, video pages are generated on
  * the executors from (seed, id, epoch). */
final class SeededConnector(ch: Channel) extends YouTubeConnector {
  override def channelPlaylists(spark: SparkSession, channelRef: String): DataFrame = {
    import spark.implicits._
    ch.playlists.map { case (id, title) =>
      (id, title, s"https://www.youtube.com/playlist?list=$id")
    }.toDF("playlist_id", "title", "url")
  }

  override def playlistContents(spark: SparkSession, playlists: DataFrame): DataFrame =
    ch.remoteMemberships(spark)
      .join(playlists.select(col("playlist_id")), Seq("playlist_id"), "left_semi")

  override def scrapeVideos(spark: SparkSession, videoIds: DataFrame): DataFrame = {
    val seed = ch.seed
    val epoch = ch.epoch
    val page = udf((v: String) => SyncContent.scrape(seed, v, epoch))
    videoIds.select(col("video_id"))
      .withColumn("p", page(col("video_id")))
      .select(col("video_id"), col("p.title").as("title"),
        col("p.description").as("description"),
        lit("perfbench-channel").as("channel"),
        date_add(lit("2015-01-01").cast("date"), col("p.publish_day"))
          .as("publish_date"),
        col("p.duration_seconds").as("duration_seconds"),
        col("p.view_count").as("view_count"),
        col("p.author").as("author"),
        lit("UC" + "p" * 22).as("channel_id"),
        concat(lit("https://i.ytimg.com/vi/"), col("video_id"), lit("/hq.jpg"))
          .as("thumbnail_url"),
        concat(lit("https://www.youtube.com/watch?v="), col("video_id"))
          .as("video_url"),
        lit("en").as("language"),
        col("p.transcript").as("transcript"))
  }
}
