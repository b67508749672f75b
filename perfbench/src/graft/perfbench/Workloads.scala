package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.app.{BenchCli, SyncPipeline}
import graft.ops.{ParquetTableStore, SimilaritySearch, TextAnalysis}
import graft.streaming.Streams

/** What a workload shares with the harness: the session, its run
  * directory, the tracer, and the record of failed output checks. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val tracer: Tracer) {
  val failures = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

/** Per-round counters a workload reports beside its spans. */
final case class RoundStats(storeDelta: StoreDelta, userBytes: Long)

object RoundStats {
  /** Walk the store after a round; a left-over staging dir fails it. */
  def observe(ctx: Ctx, observer: StoreObserver, op: Long, userBytes: Long): RoundStats = {
    val d = observer.delta()
    ctx.check(d.tmpDirs == 0, s"round $op left ${d.tmpDirs} tmp- staging dirs in the store")
    RoundStats(d, userBytes)
  }
}

/** Result of one AvailableNow pass, from `StreamingQuery.recentProgress`. */
final case class PassStat(name: String, op: Long, wallMs: Double, batches: Int,
    batchMs: Double)

/** A closed-loop workload: set up untimed, then run operations one at
  * a time. `prepare` lands an operation's inputs before its clock
  * starts; `op` does the timed work and returns the output checks,
  * which the harness runs after the clock has stopped. */
trait Workload {
  def setup(): Unit
  def prepare(i: Long): Unit = ()
  def op(i: Long): () => Unit
  /** Bytes of generated user data the store should hold now. */
  def userBytes: Long
  def observer: StoreObserver
  val rounds = mutable.ArrayBuffer.empty[RoundStats]
  val passes = mutable.ArrayBuffer.empty[PassStat]
  /** Extra named ratios for the report (e.g. dedup accept ratio). */
  def ratios: Seq[(String, Double)] = Nil
}

/** `sync`: the write path. Each operation is one scheduled update: a
  * channel sync through `SyncPipeline.syncChannel` plus one
  * transcript-inbox batch through the CLI `ingest-inbox` path. */
final class SyncWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import SyncWorkload._
  private val storeDir = s"${ctx.dir}/store"
  private val store = new ParquetTableStore(storeDir)
  private val ch = new Channel(ctx.seed)
  private val pipe = new SyncPipeline(store, ch.connector)
  val observer = new StoreObserver(storeDir, store)
  private val txLen = mutable.HashMap.empty[String, Long]
  /** The next round's plan and inbox batch, landed before its clock starts. */
  private var pending: (SyncExpect, InboxBatch, Long) = _

  private def pageBytes(v: String): Long = 100L + SyncContent.title(ch.seed, v).length +
    (if (SyncContent.hasTranscript(ch.seed, v))
      txLen.getOrElseUpdate(v, SyncContent.connectorTranscript(ch.seed, v).length.toLong)
    else 0L)

  /** Cold sync at T0, then spread last-scraped times over the 7-day
    * freshness window so every later round re-scrapes a steady share. */
  def setup(): Unit = {
    val members = ch.memberVideos
    val expect = SyncExpect(ch.playlists.size, ch.membershipCount, 0, members.size)
    val r = ctx.tracer.span("setup.cold_sync", -1)(
      pipe.syncChannel(spark, ch.ref, ch.nowCol))
    ch.synced(members)
    ctx.check(SyncExpect(r.playlists, r.added, r.removed, r.scraped) == expect,
      s"cold sync report $r, expected $expect")
    ch.restamp()
    val seed = ch.seed
    val age = udf((v: String) => SyncContent.initialAgeMicros(seed, v))
    ctx.tracer.span("setup.restamp", -1)(store.commit(spark, "videos",
      store.read(spark, "videos").withColumn("last_scraped_timestamp",
        timestamp_micros(lit(ch.nowMicros) - age(col("video_id"))))))
    ctx.tracer.span("setup.check", -1)(checkTables())
    observer.delta()
  }

  /** Plan the round on the mirror and land its inbox batch. */
  override def prepare(i: Long): Unit = {
    val expect = ch.advance()
    val work = ch.workList
    ch.synced(work)
    val inbox = ch.inbox(s"${ctx.dir}/inbox/r$i", InboxFiles)
    val bytes = work.toSeq.map(pageBytes).sum + (inbox.fresh ++ inbox.reuploads)
      .map(v => ch.tx(v).text.map(_.length.toLong).getOrElse(0L)).sum
    pending = (expect, inbox, bytes)
  }

  def op(i: Long): () => Unit = {
    val (expect, inbox, bytes) = pending
    val r = ctx.tracer.span("app.sync_channel", i) {
      pipe.syncChannel(spark, ch.ref, ch.nowCol)
    }
    val out = ctx.tracer.span("app.ingest_inbox", i) {
      BenchCli.run(spark, "ingest-inbox", storeDir, inbox.dir)
    }
    () => {
      ctx.check(SyncExpect(r.playlists, r.added, r.removed, r.scraped) == expect,
        s"round $i report $r, expected $expect")
      val rejected = out.linesIterator.count(_.startsWith("rejected "))
      ctx.check(rejected == inbox.malformed,
        s"round $i: $rejected inbox files rejected, expected ${inbox.malformed}")
      ctx.check(out.contains(s"transcripts table now has ${ch.tx.size} rows"),
        s"round $i: ingest-inbox said ${out.linesIterator.toSeq.lastOption}, " +
          s"expected ${ch.tx.size} transcripts")
      val probe = inbox.reuploads ++ inbox.fresh.take(5)
      val stored = store.read(spark, "transcripts")
        .filter(col("video_id").isin(probe: _*))
        .select("video_id", "transcript").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      probe.foreach(v => ctx.check(stored.get(v).contains(ch.expectedTranscript(v)),
        s"round $i: transcript of $v is not the one conditionalUpsert should keep"))
      checkTables()
      rounds += RoundStats.observe(ctx, observer, i, bytes)
    }
  }

  private def checkTables(): Unit = {
    def n(t: String) = store.read(spark, t).count()
    ctx.check(n("playlists") == ch.playlists.size, "playlists row count")
    ctx.check(n("playlist_videos") == ch.membershipCount, "playlist_videos row count")
    ctx.check(n("videos") == ch.known.size, "videos row count")
    ctx.check(n("transcripts") == ch.tx.size, "transcripts row count")
  }

  def userBytes: Long =
    ch.playlists.map(p => 60L + p._2.length).sum + ch.membershipCount * 40L +
      ch.known.keys.toSeq.map(v => 100L + SyncContent.title(ch.seed, v).length).sum +
      ch.tx.toSeq.map { case (v, t) =>
        t.text.map(_.length.toLong).getOrElse(pageBytes(v) - 100L -
          SyncContent.title(ch.seed, v).length)
      }.sum
}

object SyncWorkload {
  val InboxFiles = 200
}

/** `docs`: streaming ingest, index upkeep and hybrid search. Each
  * operation lands one batch, runs the three AvailableNow ingest passes
  * to termination and then answers the round's hybrid probes. */
final class DocsWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import DocsWorkload._
  private val storeDir = s"${ctx.dir}/store"
  private val store = new ParquetTableStore(storeDir)
  val observer = new StoreObserver(storeDir, store)
  private val feed = new DocFeed(ctx.seed)
  private val docInbox = s"${ctx.dir}/inbox/docs"
  private val vecInbox = s"${ctx.dir}/inbox/vectors"
  private var generated = 0L
  private var offered = 0L
  private var acceptedTotal = 0L
  private var expectedAccepted = 0L
  private var pending: (DocBatch, Long, Long) = _

  private def count(t: String): Long = if (store.exists(t)) store.read(spark, t).count() else 0L

  private def land(b: DocBatch): Unit = {
    feed.land(spark, b, docInbox, vecInbox)
    generated += b.textBytes
  }

  private def pass(name: String, op: Long)(start: => StreamingQuery): Unit = {
    val t0 = System.nanoTime()
    val q = ctx.tracer.span(s"streaming.pass.$name", op) {
      val q = start
      q.awaitTermination()
      q
    }
    val prog = q.recentProgress
    passes += PassStat(name, op, (System.nanoTime() - t0) / 1e6, prog.length,
      prog.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue)
        .getOrElse(0.0)).sum)
  }

  private def ingest(op: Long): Unit = {
    pass("near_dup", op)(Streams.nearDupIngest(spark, docInbox,
      s"$storeDir/_ingest_checkpoint", store))
    pass("lexical_index", op)(Streams.lexicalIndexIngest(spark, docInbox,
      s"$storeDir/_index_checkpoint", store,
      postingsTable = "doc_bm25_postings", statsTable = "doc_bm25_stats",
      ledgerTable = "doc_bm25_ingest_ledger"))
    pass("ivfpq", op)(Streams.ivfPqIngest(spark, vecInbox,
      s"$storeDir/_ivfpq_checkpoint", store))
  }

  /** One hybrid probe: BM25 over the doc index and IVF-PQ over the
    * vector index, each collected, then fused by reciprocal rank. */
  private def probe(op: Long, terms: Seq[String], vec: Array[Float]): Probe = {
    import spark.implicits._
    ctx.tracer.span("search.probe", op) {
      val lex = ctx.tracer.span("search.bm25", op) {
        TextAnalysis.bm25TopKStored(spark, store, terms, 10,
          postingsTable = "doc_bm25_postings", statsTable = "doc_bm25_stats",
          tombstoneTable = "doc_bm25_tombstones")
          .select(col("id"), col("rank")).collect()
          .map(r => (r.getLong(0), r.getAs[Number](1).intValue))
      }
      val ann = ctx.tracer.span("search.ivfpq", op) {
        SimilaritySearch.ivfPqTopKStored(Seq((-1L, vec.toSeq)).toDF("id", "embedding"),
          "id", "embedding", store, 10)
          .select(col("neighbor_id"), col("rank")).collect()
          .map(r => (r.getLong(0), r.getAs[Number](1).intValue))
      }
      val fused = ctx.tracer.span("search.fuse", op) {
        SimilaritySearch.rrfFuse(Seq(lex.toSeq.toDF("id", "rank"),
          ann.toSeq.toDF("id", "rank")), 10)
          .orderBy("rank").select("id").collect().map(_.getLong(0))
      }
      Probe(lex.sortBy(_._2).map(_._1).toSeq, ann.sortBy(_._2).map(_._1).toSeq, fused.toSeq)
    }
  }

  private def checkBatch(op: Long, b: DocBatch, corpus0: Long, rejects0: Long): Unit = {
    val accepted = count("corpus") - corpus0
    val rejected = count("near_dup_rejects") - rejects0
    offered += b.offered
    acceptedTotal += accepted
    expectedAccepted += b.offered - b.planted
    ctx.check(accepted + rejected == b.offered,
      s"round $op: accepted $accepted + rejected $rejected != offered ${b.offered}")
    ctx.check(rejected == b.planted,
      s"round $op: $rejected near-duplicates rejected, expected the ${b.planted} planted")
    if (b.exactCopies.nonEmpty) {
      val hit = store.read(spark, "near_dup_rejects")
        .filter(col("id").isin(b.exactCopies: _*)).count()
      ctx.check(hit == b.exactCopies.size,
        s"round $op: $hit of ${b.exactCopies.size} exact copies rejected")
    }
  }

  /** Land the next batch and count the tables it will change. */
  override def prepare(i: Long): Unit = {
    val b = feed.batch(BatchDocs, PlantShare, ReembedShare)
    land(b)
    pending = (b, count("corpus"), count("near_dup_rejects"))
  }

  /** Build every index from the first batch. */
  def setup(): Unit = {
    val b = feed.batch(FirstBatch, 0.0, 0.0)
    land(b)
    val (c0, r0) = (count("corpus"), count("near_dup_rejects"))
    ctx.tracer.span("setup.first_batch", -1)(ingest(-1))
    checkBatch(-1, b, c0, r0)
    observer.delta()
  }

  def op(i: Long): () => Unit = {
    val (b, corpus0, rejects0) = pending
    ctx.tracer.span("streaming.round", i)(ingest(i))
    val markerVec = b.vectors.find(_._1 == b.markerId).map(_._2).get
    val marker = probe(i, Seq(b.markerTerm), markerVec)
    (1 until Probes).foreach { _ =>
      val (terms, vec) = feed.probe()
      probe(i, terms, vec)
    }
    () => {
      ctx.check(marker.lex.headOption.contains(b.markerId),
        s"round $i: BM25 rank 1 for ${b.markerTerm} is ${marker.lex.headOption}, " +
          s"expected ${b.markerId}")
      // only the marker doc holds the term, so fusion ranks it first
      // unless the vector side missed it and its own top hit ties it at
      // 1/61 with a smaller id
      val want = if (!marker.ann.contains(b.markerId) &&
        marker.ann.headOption.exists(_ < b.markerId)) 2 else 1
      ctx.check(marker.fused.indexOf(b.markerId) + 1 == want,
        s"round $i: hybrid rank of ${b.markerTerm}'s doc is " +
          s"${marker.fused.indexOf(b.markerId) + 1}, expected $want")
      checkBatch(i, b, corpus0, rejects0)
      rounds += RoundStats.observe(ctx, observer, i, b.textBytes)
    }
  }

  def userBytes: Long = generated

  override def ratios: Seq[(String, Double)] = Seq(
    "dedup.accept_ratio" -> (if (offered == 0) 0.0 else acceptedTotal.toDouble / offered),
    "dedup.accept_ratio_expected" ->
      (if (offered == 0) 0.0 else expectedAccepted.toDouble / offered))
}

/** One hybrid probe's rankings: BM25, IVF-PQ and their fusion. */
final case class Probe(lex: Seq[Long], ann: Seq[Long], fused: Seq[Long])

object DocsWorkload {
  val FirstBatch = 1000
  val BatchDocs = 500
  val PlantShare = 0.2
  val ReembedShare = 0.05
  val Probes = 2
}
