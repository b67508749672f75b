package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.ParquetTableStore

class StreamsSpec extends SparkSpec {

  test("inbox stream: files flow through parse + conditional upsert") {
    val inbox = tmpDir("sinbox")
    val store = new ParquetTableStore(tmpDir("sstore"))
    // seed the stored table: v1 plain (loses to timestamped), v2 timestamped
    import spark.implicits._
    store.commit(spark, "transcripts", Seq(
      ("aaaaaaaaaaa", "old plain"),
      ("bbbbbbbbbbb", "[00:09] old timed")).toDF("video_id", "transcript"))

    Files.write(Paths.get(inbox, "one.txt"),
      "URL: https://youtu.be/aaaaaaaaaaa\n\n[00:01] new timed".getBytes)
    Files.write(Paths.get(inbox, "two.txt"),
      "URL: https://youtu.be/bbbbbbbbbbb\n\nnew plain".getBytes)
    Files.write(Paths.get(inbox, "three.txt"),
      "URL: https://youtu.be/ccccccccccc\n\nfresh insert".getBytes)
    Files.write(Paths.get(inbox, "bad.txt"), "no id\n\nbody".getBytes)

    val q = Streams.inboxStream(spark, inbox, store, "transcripts")
    try q.processAllAvailable() finally q.stop()

    val got = store.read(spark, "transcripts").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "aaaaaaaaaaa" -> "[00:01] new timed", // timestamped incoming wins
      "bbbbbbbbbbb" -> "[00:09] old timed", // plain incoming loses
      "ccccccccccc" -> "fresh insert"))     // unmatched inserted
  }

  test("inbox stream: timestamped beats plain WITHIN one micro-batch") {
    // both versions of one video land in the SAME batch: the in-batch
    // dedup must apply the U6 preference (timestamped wins), not raw
    // text order — 'zzz plain' > '[00:01] …' lexicographically, so a
    // text-ordered dedup would permanently discard the timestamped one
    val inbox = tmpDir("sinbox2")
    val store = new ParquetTableStore(tmpDir("sstore2"))
    Files.write(Paths.get(inbox, "a_plain.txt"),
      "URL: https://youtu.be/ddddddddddd\n\nzzz plain version".getBytes)
    Files.write(Paths.get(inbox, "b_timed.txt"),
      "URL: https://youtu.be/ddddddddddd\n\n[00:01] timed version".getBytes)
    val q = Streams.inboxStream(spark, inbox, store, "transcripts")
    try q.processAllAvailable() finally q.stop()
    val got = store.read(spark, "transcripts").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("ddddddddddd" -> "[00:01] timed version"), got.toString)
  }

  test("lexicalIndexIngest: build then append across runs == one-shot index") {
    import spark.implicits._
    val root = tmpDir("lexingest")
    val inDir = s"$root/in"
    val ck = s"$root/ck"
    val store = new ParquetTableStore(s"$root/store")
    val p1 = Seq((1L, "hash join hash scan"), (2L, "join merge sort"))
      .toDF("id", "text")
    val p2 = Seq((3L, "vector scan filter"), (4L, "merge scan scan join"))
      .toDF("id", "text")
    p1.coalesce(1).write.parquet(inDir)
    Streams.lexicalIndexIngest(spark, inDir, ck, store).awaitTermination()
    p2.coalesce(1).write.mode("append").parquet(inDir)
    Streams.lexicalIndexIngest(spark, inDir, ck, store).awaitTermination()
    // the grown index answers exactly like a one-shot build
    val scratch = new ParquetTableStore(tmpDir("lexingest-scratch"))
    graft.ops.TextAnalysis.bm25BuildIndex(p1.unionByName(p2), "id", "text",
      scratch)
    for (q <- Seq(Seq("hash", "join"), Seq("scan", "merge"))) {
      val a = graft.ops.TextAnalysis.bm25TopKStored(spark, store, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      val b = graft.ops.TextAnalysis.bm25TopKStored(spark, scratch, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(a == b, s"query $q drifted from the one-shot build")
    }
    // the ledger recorded both folded batches; a no-new-files run is
    // a version no-op (nothing re-folds)
    assert(store.read(spark, "bm25_ingest_ledger").collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L))
    val v = store.currentVersion("bm25_postings")
    Streams.lexicalIndexIngest(spark, inDir, ck, store).awaitTermination()
    assert(store.currentVersion("bm25_postings") == v)
  }

  test("autoMaxFilesPerTrigger derives the batch size from file-size stats") {
    // empty / absent inbox: no stats -> conservative default
    assert(Streams.autoMaxFilesPerTrigger(tmpDir("auto-empty")) == 16)
    assert(Streams.autoMaxFilesPerTrigger("/nonexistent/inbox-dir") == 16)
    // tiny files: target/mean blows past the ceiling -> clamp 4096
    val tiny = tmpDir("auto-tiny")
    (1 to 5).foreach(i => Files.write(Paths.get(tiny, s"t$i.txt"),
      Array.fill(1024)('x'.toByte)))
    assert(Streams.autoMaxFilesPerTrigger(tiny) == 4096)
    // the derivation is exactly target / mean, clamped: 5 files of
    // 1 KiB at a 4 KiB target -> 4 per batch
    assert(Streams.autoMaxFilesPerTrigger(tiny, targetBatchBytes = 4096) == 4)
    // huge files: mean above target -> floor clamps at 1, never 0
    assert(Streams.autoMaxFilesPerTrigger(tiny, targetBatchBytes = 100) == 1)
    // hidden/metadata files (_SUCCESS, .crc — the file source never
    // reads them) must not skew the mean: without the filter these
    // 0-byte entries would halve it and double the derived count
    Files.write(Paths.get(tiny, "_SUCCESS"), Array.empty[Byte])
    (1 to 5).foreach(i =>
      Files.write(Paths.get(tiny, s".t$i.txt.crc"), Array[Byte](1)))
    assert(Streams.autoMaxFilesPerTrigger(tiny, targetBatchBytes = 4096) == 4)
  }

  test("streaming exact dedup: duplicate content across batches is dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val deduped = Streams.dedupDocStream(
      in.toDF().toDF("id", "text", "ts"), "text", "ts",
      watermark = "1 hour")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode(OutputMode.Append).start()
    try {
      // batch 1: two distinct docs + an in-batch exact copy (differs
      // only by whitespace — the NORMALIZED fingerprint must collapse it)
      in.addData((1L, "alpha beta", t("2026-03-01 10:00:00")),
        (2L, "gamma delta", t("2026-03-01 10:00:05")),
        (3L, "  alpha   beta ", t("2026-03-01 10:00:09")))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate (inside the watermark) + new
      in.addData((4L, "alpha beta", t("2026-03-01 10:10:00")),
        (5L, "epsilon zeta", t("2026-03-01 10:10:01")))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
        .map(_.getLong(0)).toSet
      assert(got.intersect(Set(1L, 3L)).size == 1, s"in-batch dup survived: $got")
      assert(!got.contains(4L), s"cross-batch dup survived: $got")
      assert(got.contains(2L) && got.contains(5L), s"distinct docs lost: $got")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally q.stop()
  }

  test("availableNow refresh: processes only files new since last run") {
    import spark.implicits._
    val in = tmpDir("anin")
    val ckpt = tmpDir("anckpt")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def runOnce(): Unit = {
      val q = Streams.availableNowRefresh(spark, in, "k long", ckpt) { (b, _) =>
        seen.addAndGet(b.count())
      }
      try q.awaitTermination(60000) finally if (q.isActive) q.stop()
    }
    Seq(1L, 2L, 3L).toDF("k").write.mode("append").parquet(in)
    runOnce()
    assert(seen.get() == 3)
    // second invocation with nothing new → no reprocessing
    runOnce()
    assert(seen.get() == 3)
    // new file appears → only the delta processes
    Seq(4L).toDF("k").write.mode("append").parquet(in)
    runOnce()
    assert(seen.get() == 4)
  }

  test("sessionize: gap-based sessions via flatMapGroupsWithState") {
    import spark.implicits._
    import Streams.{UserEvent, UserSession}
    val dir = tmpDir("sess")
    def ev(u: Long, t: String, k: String) =
      UserEvent(u, java.sql.Timestamp.valueOf(t), k)
    // user 1: two sessions separated by a 2h gap; user 2: one session
    Seq(
      ev(1, "2024-01-01 09:00:00", "click"),
      ev(1, "2024-01-01 09:10:00", "view"),
      ev(1, "2024-01-01 11:30:00", "click"),
      ev(2, "2024-01-01 10:00:00", "signup")
    ).toDF().write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("user_id long, ts timestamp, event_type string")
      .parquet(dir).as[UserEvent]
    val q = Streams.sessionize(stream, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    try q.processAllAvailable() finally q.stop()

    // closed sessions only (open ones still in state): user 1's first
    // session closed when the 11:30 event arrived in the same batch
    val got = spark.table("sess").as[UserSession].collect()
      .map(s => (s.user_id, s.session_start.toString, s.n_events)).toSet
    assert(got == Set((1L, "2024-01-01 09:00:00.0", 2)))
  }

  test("sessionize: a merged late event extends session_start backwards") {
    import spark.implicits._
    import Streams.{UserEvent, UserSession}
    val dir = tmpDir("sess-late")
    def ev(u: Long, t: String) =
      UserEvent(u, java.sql.Timestamp.valueOf(t), "e")
    // batch 1 opens the session at 10:00; batch 2 delivers a LATE
    // 09:59 (within gap, EARLIER than the recorded start — the
    // in-batch sort cannot save it across batches) plus a 13:00 that
    // closes the session: the closed session must report start 09:59,
    // covering the merged late event
    Seq(ev(9, "2024-01-01 10:00:00"))
      .toDF().write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema("user_id long, ts timestamp, event_type string")
      .parquet(dir).as[UserEvent]
    val q = Streams.sessionize(stream, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sesslate").start()
    try {
      q.processAllAvailable()
      Seq(ev(9, "2024-01-01 09:59:00"), ev(9, "2024-01-01 13:00:00"))
        .toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sesslate").as[UserSession].collect()
      .map(s => (s.session_start.toString, s.session_end.toString, s.n_events))
      .toSet
    assert(got == Set(("2024-01-01 09:59:00.0", "2024-01-01 10:00:00.0", 2)),
      got.toString)
    // the unimplemented event-time timer is rejected eagerly, not as
    // a per-key runtime crash
    intercept[IllegalArgumentException] {
      Streams.sessionize(stream,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)
    }
  }

  test("event windowed counts with watermark (memory sink)") {
    import spark.implicits._
    val dir = tmpDir("sev")
    Seq(
      ("2024-01-01 00:00:10", "click"),
      ("2024-01-01 00:01:10", "click"),
      ("2024-01-01 00:07:00", "view")
    ).toDF("ts_s", "event_type")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"))
      .write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema("ts timestamp, event_type string")
      .parquet(dir)
    val q = Streams.eventCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("ec").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ec")
      .select(date_format(col("w_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("00:00", "click", 2L), ("00:05", "view", 1L)))
  }

  test("packStream: per-shard running state packs across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import Streams.{ChunkIn, PackedChunk}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[ChunkIn]
    val q = Streams.packStream(in.toDS(), budgetTokens = 10, numShards = 1)
      .writeStream.outputMode("append")
      .format("memory").queryName("packs").start()
    try {
      in.addData(ChunkIn("a", 4), ChunkIn("b", 4))
      q.processAllAvailable()
      // state carries ACROSS batches: the next chunk continues pack 0
      in.addData(ChunkIn("c", 4), ChunkIn("d", 4))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("packs").as[PackedChunk].collect()
      .map(c => c.ck -> (c.pack_no, c.pack_tok_start)).toMap
    assert(got.size == 4)
    // within-batch iterator order is not contractual, so assert the
    // offset MULTISET per batch: batch 1 fills offsets 0 and 4 of
    // pack 0; batch 2 resumes before=8 — one chunk straddles at
    // (0,8), the other lands in pack 1 at offset 2
    assert(Set(got("a"), got("b")) == Set((0L, 0L), (0L, 4L)), s"got $got")
    assert(Set(got("c"), got("d")) == Set((0L, 8L), (1L, 2L)), s"got $got")
    // token conservation: offsets advance by exactly the token counts
    val total = spark.table("packs").as[PackedChunk].collect()
      .map(_.n_tokens).sum
    assert(total == 16)
  }

  test("commitInParallel: 8 blocking store commits overlap without starving the pool; one failure aborts after all finish") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("cip-overlap"))
    // 8 ops > the fork-join pool's CPU parallelism floor on small
    // machines; each op blocks on a REAL store commit (Spark job +
    // filesystem CAS). Without the blocking{} marker a caller landing
    // many tables can deadlock behind its own siblings; with it the
    // pool grows and all commits land.
    val n = 8
    Streams.commitInParallel(
      (0 until n).map(i => () => {
        store.commit(spark, s"t$i", Seq((i.toLong, s"v$i")).toDF("id", "v"))
        ()
      }): _*)
    for (i <- 0 until n)
      assert(store.read(spark, s"t$i").count() == 1, s"table t$i missing")
    // failure policy: every op still runs to completion (no straggler
    // keeps writing while the batch unwinds), then the first failure
    // rethrows
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[RuntimeException] {
      Streams.commitInParallel(
        (0 until n).map(i => () => {
          if (i == 3) throw new RuntimeException("op 3 failed")
          store.commit(spark, s"u$i", Seq((i.toLong, "x")).toDF("id", "v"))
          ran.incrementAndGet()
          ()
        }): _*)
    }
    assert(e.getMessage == "op 3 failed")
    assert(ran.get() == n - 1, "a sibling op was abandoned mid-batch")
  }

  test("ivfPqIngest: a crash BETWEEN the two family folds converges on replay") {
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val b1 = e.filter(col("id") % 3 === 0)
    val b2 = e.filter(col("id") % 3 =!= 0)
      .unionByName(e.filter(col("id") % 9 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding")))
    val queries = e.filter(col("id") < 30)
    def probe(st: ParquetTableStore) =
      graft.ops.SimilaritySearch.ivfPqTopKStored(queries, "id",
        "embedding", st, k = 5, probes = 8, cellCap = 1000)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSet
    def ingest(st: ParquetTableStore, in: String, ck: String): Unit = {
      val q = Streams.ivfPqIngest(spark, in, ck, st)
      q.awaitTermination(120000)
      if (q.isActive) q.stop()
    }
    // the clean two-batch run on a fresh store
    val fresh = new ParquetTableStore(tmpDir("ivfpq-fresh"))
    val freshIn = tmpDir("ivfpq-fresh-in")
    val freshCk = tmpDir("ivfpq-fresh-ck")
    b1.coalesce(1).write.mode("append").parquet(freshIn)
    ingest(fresh, freshIn, freshCk)
    val afterB1 = probe(fresh)
    b2.coalesce(1).write.mode("append").parquet(freshIn)
    ingest(fresh, freshIn, freshCk)
    val afterB2 = probe(fresh)
    assert(afterB1.nonEmpty && afterB2 != afterB1)

    // FIRST batch crashed between the folds: IVF built, PQ not, no
    // pair marker — the paired probe refuses, the replay (re-folding
    // IVF idempotently) completes the build
    val in = tmpDir("ivfpq-in")
    val ck = tmpDir("ivfpq-ck")
    val store = new ParquetTableStore(tmpDir("ivfpq-store"))
    graft.ops.SimilaritySearch.ivfBuildIndexStored(b1, "id", "embedding",
      store, numCentroids = 32)
    intercept[IllegalArgumentException](probe(store))
    b1.coalesce(1).write.mode("append").parquet(in)
    ingest(store, in, ck)
    assert(probe(store) == afterB1)
    // SECOND batch crashed between the folds: the IVF family marker
    // moved, the PQ one and the pair marker did not. The tear is not
    // observable — the probe answers batch 1's pair exactly — and the
    // replayed batch converges on the clean run
    graft.ops.SimilaritySearch.ivfReindexVectors(b2, "id", "embedding",
      store)
    assert(probe(store) == afterB1)
    b2.coalesce(1).write.mode("append").parquet(in)
    ingest(store, in, ck)
    assert(probe(store) == afterB2)
  }

  test("cdcTokenCountConsumer: replayed fold is a no-op; a cursor behind retention refuses loudly") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("cdc-store"), keepVersions = 10)
    val base = (1 to 40).map(i => (i.toLong, s"w$i text $i")).toDF("doc_id", "text")
    store.upsertBucketed(spark, "corpus", base, Seq("doc_id"), numBuckets = 4)
    Streams.cdcTokenCountConsumer(spark, store)
    store.upsertBucketed(spark, "corpus",
      Seq((1L, "one two three four"), (99L, "fresh doc")).toDF("doc_id", "text"),
      Seq("doc_id"))
    store.deleteBucketed(spark, "corpus", Seq(7L).toDF("doc_id"), Seq("doc_id"))
    Streams.cdcTokenCountConsumer(spark, store)
    def counts(): Map[Long, Long] = store.read(spark, "doc_tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val once = counts()
    assert(once(1L) == 4L && once(99L) == 2L && !once.contains(7L)
      && once.size == 40)
    // crash BEFORE the cursor commit: the replayed fold re-applies
    // the same span — replace/remove-by-key, so content is unchanged
    // — and the whole span (upserts AND deletes) lands as exactly ONE
    // derived-table version (applyChangesBucketed): no reader can see
    // the span's updates without its deletes
    val cursorNow = store.read(spark, "cdc_cursor").head.getLong(0)
    store.commit(spark, "cdc_cursor",
      Seq(cursorNow - 2).toDF("v")) // rewind past the upsert+delete
    val dvBefore = store.currentVersion("doc_tokens").get
    Streams.cdcTokenCountConsumer(spark, store)
    assert(counts() == once)
    assert(store.currentVersion("doc_tokens").contains(dvBefore + 1),
      "a CDC span must fold as one atomic commit")
    // no-change fold: cursor current → nothing versions
    val dv = store.currentVersion("doc_tokens").get
    Streams.cdcTokenCountConsumer(spark, store)
    assert(store.currentVersion("doc_tokens").contains(dv))
    // a cursor that fell behind retention refuses at the time-travel
    // read instead of silently mis-diffing
    val tight = new ParquetTableStore(tmpDir("cdc-tight"), keepVersions = 2)
    tight.upsertBucketed(spark, "corpus", base, Seq("doc_id"), numBuckets = 4)
    Streams.cdcTokenCountConsumer(spark, tight)
    (1 to 4).foreach(i => tight.upsertBucketed(spark, "corpus",
      Seq((i.toLong, s"upd $i")).toDF("doc_id", "text"), Seq("doc_id")))
    val ex = intercept[IllegalStateException] {
      Streams.cdcTokenCountConsumer(spark, tight)
    }
    assert(ex.getMessage.contains("not retained"), ex.getMessage)
    // the refusal is the TYPED rebase signal, not a generic state error
    assert(ex.isInstanceOf[graft.ops.RetentionLostException],
      s"behind-retention must refuse with RetentionLostException, " +
        s"got ${ex.getClass.getName}")
  }

  test("cdcTokenCountConsumerRebasing: behind-retention rebases once, then folds CDC again") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("cdc-rebase"), keepVersions = 2)
    val base = (1 to 40).map(i => (i.toLong, s"w$i text $i")).toDF("doc_id", "text")
    store.upsertBucketed(spark, "corpus", base, Seq("doc_id"), numBuckets = 4)
    // bootstrap build is not a rebase
    assert(!Streams.cdcTokenCountConsumerRebasing(spark, store))
    // stall the consumer while ≥ keepVersions commits land
    (1 to 4).foreach(i => store.upsertBucketed(spark, "corpus",
      Seq((i.toLong, "one two three")).toDF("doc_id", "text"), Seq("doc_id")))
    store.deleteBucketed(spark, "corpus", Seq(9L).toDF("doc_id"), Seq("doc_id"))
    // cursor version pruned → this fold REBASES (true) and converges
    assert(Streams.cdcTokenCountConsumerRebasing(spark, store))
    def counts(): Map[Long, Long] = store.read(spark, "doc_tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = counts()
    assert((1 to 4).forall(i => after(i.toLong) == 3L) &&
      !after.contains(9L) && after.size == 39)
    // cursor now tracks the live version: a fresh delta folds as
    // ordinary O(delta) CDC (false), one atomic derived commit
    store.upsertBucketed(spark, "corpus",
      Seq((2L, "two words")).toDF("doc_id", "text"), Seq("doc_id"))
    val dv = store.currentVersion("doc_tokens").get
    assert(!Streams.cdcTokenCountConsumerRebasing(spark, store))
    assert(counts()(2L) == 2L)
    assert(store.currentVersion("doc_tokens").contains(dv + 1),
      "post-rebase folds must be single-commit CDC, not rebuilds")
    // the PLAIN consumer on the same store keeps working (cursor is
    // current) — the rebasing entrypoint is a superset, not a fork
    Streams.cdcTokenCountConsumer(spark, store)
    assert(store.currentVersion("doc_tokens").contains(dv + 1))
  }
}
