package graft.app

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.connectors.FakeYouTubeConnector
import graft.ops.{ParquetTableStore, PosixStoreIo, StoreIo}

/** The ingest CLI commands end-to-end. ingest-docs: two invocations
  * over a growing inbox — the checkpoint under the store dir makes the
  * second run process only the new files, and the incremental probe
  * keeps the corpus near-dup-free across them. ingest-inbox: one
  * transcript-inbox batch merged into a synced store. */
class MainIngestSpec extends SparkSpec {
  import spark.implicits._

  private def text(tail: String): String =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango " + tail

  test("ingest-docs: incremental across CLI invocations") {
    val root = tmpDir("mainingest")
    val inbox = tmpDir("mainingest-in")
    val store = new ParquetTableStore(root)

    Seq((1L, text("original first document here")),
        (2L, "entirely different words about sailing knots weather " +
          "tides anchors harbors lighthouses navigation charts"))
      .toDF("id", "text").write.mode("append").parquet(inbox)
    Main.run(spark, Array("ingest-docs", root, inbox, "0.5"))
    assert(store.read(spark, "corpus").count() == 2)

    // second invocation: one near-dup of doc 1, one genuinely new doc
    Seq((10L, text("original first document here extended")),
        (11L, "unrelated prose on pottery kilns glazes clay wheels " +
          "firing temperatures ceramic traditions craft"))
      .toDF("id", "text").write.mode("append").parquet(inbox)
    Main.run(spark, Array("ingest-docs", root, inbox, "0.5"))

    val ids = store.read(spark, "corpus").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L), s"got $ids")
    val rej = store.read(spark, "near_dup_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("id") == 10L
      && rej.head.getAs[Long]("matched_id") == 1L)
  }

  test("curate-docs: incremental screen across CLI invocations") {
    val root = tmpDir("maincurate")
    val inbox = tmpDir("maincurate-in")
    val benchDir = tmpDir("maincurate-bench")
    val store = new ParquetTableStore(root)
    // stopword-rich text passes the ts2 quality cut; digit soup fails
    val good = "the story of the people is that it is for the land " +
      "and the water and the long river is a part of it in the end"
    val leak = "it is the case that the review of the plan is in the " +
      "hands of the board and the board is sure to act on it for all"
    Seq((100L, leak)).toDF("id", "text")
      .write.mode("overwrite").parquet(benchDir)

    Seq((1L, good), (2L, "7 13 21 99 404 7 13 21 99 404 808 101 303"),
        (3L, leak))
      .toDF("id", "text").write.mode("append").parquet(inbox)
    Main.run(spark, Array("curate-docs", root, inbox, benchDir))
    val first = store.read(spark, "corpus_clean").select("id")
      .collect().map(_.getLong(0)).toSet
    // 1 survives; 2 fails quality; 3 is benchmark-contaminated
    assert(first == Set(1L), s"got $first")

    // second invocation: a later-batch copy of doc 1 (loses the
    // fingerprint to the stored claim) and a genuinely new doc
    Seq((10L, good), (11L, good + " and that is the whole of it truly"))
      .toDF("id", "text").write.mode("append").parquet(inbox)
    Main.run(spark, Array("curate-docs", root, inbox, benchDir))
    val ids = store.read(spark, "corpus_clean").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 11L), s"got $ids")
  }

  test("compact CLI: maintenance pass after repeated ingests, snapshot unchanged") {
    import spark.implicits._
    val root = tmpDir("maincompact")
    val store = new ParquetTableStore(root, keepVersions = 10)
    store.upsertBucketed(spark, "corpus",
      (1 to 100).map(i => (i.toLong, s"text $i")).toDF("id", "text"),
      Seq("id"), numBuckets = 4)
    (1 to 5).foreach { r =>
      store.upsertBucketed(spark, "corpus",
        (1 to 30).map(i => (i.toLong, s"text $i rev $r")).toDF("id", "text"),
        Seq("id"))
    }
    val before = store.read(spark, "corpus").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    Main.run(spark, Array("compact", root, "corpus", "1"))
    val after = store.read(spark, "corpus").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after == before)
    // idempotent second pass publishes nothing
    val v = store.currentVersion("corpus")
    Main.run(spark, Array("compact", root, "corpus", "1"))
    assert(store.currentVersion("corpus") == v)
  }

  test("ingest-inbox: timestamped wins, minimal videos rows, rejects, reported row count") {
    val root = tmpDir("maininbox")
    val inbox = tmpDir("maininbox-in")
    val store = new ParquetTableStore(root)
    new SyncPipeline(store, new FakeYouTubeConnector(2))
      .syncChannel(spark, "chanA", to_timestamp(lit("2024-02-01 00:00:00")))
    // every synced transcript is timestamped; make one of them plain
    val Seq(plainOld, timedOld, timedOld2) = store.read(spark, "transcripts")
      .select("video_id").collect().map(_.getString(0)).sorted.take(3).toSeq
    store.commit(spark, "transcripts", store.read(spark, "transcripts")
      .withColumn("transcript", when(col("video_id") === plainOld,
        lit("plain old")).otherwise(col("transcript"))))
    val videosBefore = store.read(spark, "videos").collect().toSet
    val txBefore = store.read(spark, "transcripts").count()

    def file(name: String, content: String): Unit =
      Files.write(Paths.get(inbox, name), content.getBytes(StandardCharsets.UTF_8))
    def upload(id: String, body: String, title: String = "") =
      (if (title.nonEmpty) s"TITLE: $title\n" else "") +
        s"URL: https://www.youtube.com/watch?v=$id\n\n$body\n"
    file("a.txt", upload(plainOld, "plain new"))        // wins: old is plain
    file("b.txt", upload(timedOld, "plain new"))        // loses: old is timed
    file("c.txt", upload(timedOld2, "[00:05] timed new")) // wins: new is timed
    file("d.txt", upload("unknownVid1", "fresh body", "Fresh Title"))
    file("e.srt", upload("unknownVid2", "[00:01] fresh timed"))
    file("bad-noid.txt", "TITLE: orphan\n\nno id anywhere\n")
    file("bad-empty.vtt", "ID: emptyBody01\n\n\n")
    file("ignored.md", upload("unknownVid3", "not an inbox extension"))

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.run(spark, Array("ingest-inbox", root, inbox)))
    val lines = out.toString(StandardCharsets.UTF_8).linesIterator.toSeq

    val tx = store.read(spark, "transcripts").collect()
      .map(r => r.getAs[String]("video_id") -> r).toMap
    assert(tx(plainOld).getAs[String]("transcript").trim == "plain new")
    assert(tx(timedOld).getAs[String]("transcript") == s"[00:01] transcript of $timedOld")
    assert(tx(timedOld2).getAs[String]("transcript").trim == "[00:05] timed new")
    assert(tx("unknownVid1").getAs[String]("transcript").trim == "fresh body")
    assert(tx("unknownVid1").getAs[String]("language") == "en")
    assert(tx("unknownVid2").getAs[String]("transcript").trim == "[00:01] fresh timed")
    assert(tx.size == txBefore + 2 && !tx.contains("unknownVid3"))

    // unknown ids get a minimal videos row; known rows stay as they were
    val videos = store.read(spark, "videos")
    val fresh = videos.filter(col("video_id").startsWith("unknownVid")).collect()
      .map(r => r.getAs[String]("video_id") -> r).toMap
    assert(fresh.keySet == Set("unknownVid1", "unknownVid2"))
    assert(fresh("unknownVid1").getAs[String]("title") == "Fresh Title")
    assert(fresh("unknownVid2").getAs[String]("title") == "Video unknownVid2")
    assert(fresh("unknownVid1").getAs[String]("video_url") ==
      "https://www.youtube.com/watch?v=unknownVid1")
    assert(fresh("unknownVid1").isNullAt(fresh("unknownVid1").fieldIndex("view_count")))
    assert(videos.filter(!col("video_id").startsWith("unknownVid")).collect().toSet ==
      videosBefore)

    val rejected = lines.filter(_.startsWith("rejected "))
    assert(rejected.size == 2, s"$lines")
    assert(rejected.exists(l => l.contains("bad-noid.txt") && l.endsWith(": no video id")))
    assert(rejected.exists(l =>
      l.contains("bad-empty.vtt") && l.endsWith(": no transcript content")))
    assert(lines.last == s"transcripts table now has ${store.read(spark, "transcripts").count()} rows")
  }

  test("ingest-inbox: each inbox file is parsed once, and the parse is released even when a merge throws") {
    val root = tmpDir("maininbox-once")
    val inbox = tmpDir("maininbox-once-in")
    new SyncPipeline(new ParquetTableStore(root), new FakeYouTubeConnector(2))
      .syncChannel(spark, "chanA", to_timestamp(lit("2024-02-01 00:00:00")))
    def file(name: String, content: String): Unit =
      Files.write(Paths.get(inbox, name), content.getBytes(StandardCharsets.UTF_8))
    (1 to 6).foreach(i => file(s"f$i.txt",
      s"URL: https://www.youtube.com/watch?v=onceVideo0$i\n\nbody $i\n"))
    file("bad.txt", "TITLE: orphan\n\nno id anywhere\n")
    // counts every parsed row, however many actions evaluate the frame
    val parsedRows = spark.sparkContext.longAccumulator("parsed inbox rows")
    val tick = udf { (_: String) => parsedRows.add(1); true }.asNondeterministic()
    def countedInbox = spark.read.format("transcript-inbox").load(inbox)
      .filter(tick(col("path")))
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(
      Main.ingestInbox(spark, new ParquetTableStore(root), countedInbox))
    assert(parsedRows.value == 7)
    assert(sc.getPersistentRDDs.keySet == persistedBefore, "ingest left the inbox cached")
    val lines = out.toString(StandardCharsets.UTF_8).linesIterator.toSeq
    assert(lines.count(_.startsWith("rejected ")) == 1, s"$lines")
    assert(new ParquetTableStore(root).read(spark, "videos")
      .filter(col("video_id").startsWith("onceVideo")).count() == 6)

    // the videos publish throws after the transcripts merge committed
    val failing: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit = PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          e: Option[String]): Unit = {
        if (p.getParent.getFileName.toString == "videos")
          throw new IllegalStateException("injected videos publish failure")
        PosixStoreIo.swapPointerIfCurrent(p, c, e)
      }
    }
    parsedRows.reset()
    val e = intercept[IllegalStateException](Console.withOut(out)(
      Main.ingestInbox(spark, new ParquetTableStore(root, io = failing),
        countedInbox)))
    assert(e.getMessage.contains("injected"))
    assert(parsedRows.value == 7)
    assert(sc.getPersistentRDDs.keySet == persistedBefore,
      "failed ingest left the inbox cached")
  }
}
