package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-writer publish: the pointer swap is a compare-and-set, so a
  * lost race is a clean retryable [[ConcurrentCommitException]], not
  * a silent last-write-wins that orphans the other writer's merge. */
class StoreCasSpec extends SparkSpec {
  import spark.implicits._

  private def ptr(dir: String): Path = Paths.get(dir, "_CURRENT")

  for (io <- Seq(("posix", PosixStoreIo), ("object", ObjectStoreIo)))
    test(s"${io._1}: concurrent CAS increments each apply exactly once") {
      val p = ptr(tmpDir(s"cas-${io._1}"))
      io._2.swapPointerIfCurrent(p, "0", None)
      val threads = (1 to 8).map(_ => new Thread(() => {
        (1 to 25).foreach { _ =>
          var done = false
          while (!done) {
            try {
              // dirty read: the object profile's in-place PUT is only
              // reader-atomic on a real object store, so a torn local
              // read (NumberFormatException) is retried like a lost CAS
              val cur = new String(Files.readAllBytes(p)).trim
              io._2.swapPointerIfCurrent(p, (cur.toLong + 1).toString, Some(cur))
              done = true
            } catch {
              case _: ConcurrentCommitException | _: NumberFormatException =>
            }
          }
        }
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(new String(Files.readAllBytes(p)).trim == "200")
    }

  test("CAS with absent-pointer expectation: second creator loses") {
    val p = ptr(tmpDir("cas-create"))
    PosixStoreIo.swapPointerIfCurrent(p, "0", None)
    val e = intercept[ConcurrentCommitException] {
      PosixStoreIo.swapPointerIfCurrent(p, "0", None)
    }
    assert(e.getMessage.contains("concurrent commit"))
  }

  test("store commit racing a competing publisher fails cleanly and retries") {
    val root = tmpDir("cas-store")
    val seed = new ParquetTableStore(root) // competing writer, normal io
    // A StoreIo whose FIRST contested CAS lets a REAL competing commit
    // publish first, then delegates — the loser must see a clean
    // conflict, drop its staged dir, and succeed on retry.
    var raced = false
    val racingIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          exp: Option[String]): Unit = {
        if (!raced && exp.isDefined) {
          raced = true
          seed.upsert(spark, "t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
        }
        PosixStoreIo.swapPointerIfCurrent(p, c, exp)
      }
    }
    seed.commit(spark, "t", Seq((1L, "a")).toDF("id", "v"))

    val store = new ParquetTableStore(root, io = racingIo)
    intercept[ConcurrentCommitException] {
      store.upsert(spark, "t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    }
    // the competing writer's publish won and nothing was lost
    assert(seed.currentVersion("t").contains(1L))
    assert(seed.read(spark, "t").count() == 2) // ids 1, 3
    // retry (the withCommitRetries path) merges over the winner's base
    store.withCommitRetries() {
      store.upsert(spark, "t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    }
    assert(seed.currentVersion("t").contains(2L))
    assert(seed.read(spark, "t").count() == 3) // ids 1, 2, 3 — no lost merge
  }

  test("publish whose staged dir gc swept: pointer restored (or removed), conflict retryable") {
    val root = tmpDir("cas-gcsweep")
    // A StoreIo that simulates gc's delete landing just AFTER the CAS
    // (the adversarial interleaving: gc's age filter read the
    // pre-touch mtime, its delete fires after the swap) — publish
    // must detect the swept dir, undo the pointer move, and throw a
    // retryable conflict instead of leaving _CURRENT naming a deleted
    // directory (a wedged table).
    var armSweep = false
    def deleteRec(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try { s.iterator().forEachRemaining(deleteRec) } finally s.close()
      }
      Files.deleteIfExists(p)
    }
    val sweepIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          exp: Option[String]): Unit = {
        PosixStoreIo.swapPointerIfCurrent(p, c, exp)
        // one-shot: gc sweeps only tmp-/above-pointer orphans, so the
        // staged dir is sweepable exactly once — the undo-CAS that
        // follows restores a COMMITTED version gc never touches
        if (armSweep) { armSweep = false; deleteRec(p.getParent.resolve(c)) }
      }
    }
    val store = new ParquetTableStore(root, io = sweepIo)
    val plain = new ParquetTableStore(root)
    store.commit(spark, "t", Seq((1L, "a")).toDF("id", "v"))
    armSweep = true
    val e = intercept[ConcurrentCommitException] {
      store.commit(spark, "t", Seq((2L, "b")).toDF("id", "v"))
    }
    armSweep = false
    assert(e.getMessage.contains("swept"))
    // the pointer was restored: the table still reads v1, not a
    // deleted dir, and a retried commit lands normally
    assert(plain.read(spark, "t").collect().map(_.getLong(0)).toSeq == Seq(1L))
    store.commit(spark, "t", Seq((2L, "b")).toDF("id", "v"))
    assert(plain.read(spark, "t").count() == 1)
    assert(plain.read(spark, "t").head.getLong(0) == 2L)
    // CREATE path: the undo removes the pointer entirely — the table
    // reads as never-created, and a later create succeeds
    armSweep = true
    intercept[ConcurrentCommitException] {
      store.commit(spark, "t2", Seq((1L, "a")).toDF("id", "v"))
    }
    armSweep = false
    assert(!plain.exists("t2"))
    store.commit(spark, "t2", Seq((1L, "a")).toDF("id", "v"))
    assert(plain.read(spark, "t2").count() == 1)
  }

  test("gc-sweep undo racing a blind replace competitor: the competitor's commit survives") {
    val root = tmpDir("cas-gcsweep-race")
    // The adversarial interleaving the undo-CAS exists for: gc sweeps
    // our freshly published staged dir, and BEFORE we notice, a
    // replace-style competitor (commit never reads the previous data
    // dir) lands CAS(expected = our staged). An unconditional undo
    // would revert the competitor's COMMITTED version — a lost
    // commit. The undo must be a CAS that loses gracefully, leaving
    // the pointer at the competitor's version.
    var arm = false
    var competitorRan = false
    def deleteRec(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try { s.iterator().forEachRemaining(deleteRec) } finally s.close()
      }
      Files.deleteIfExists(p)
    }
    lazy val plain = new ParquetTableStore(root)
    val raceIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          exp: Option[String]): Unit = {
        PosixStoreIo.swapPointerIfCurrent(p, c, exp)
        if (arm) {
          arm = false
          deleteRec(p.getParent.resolve(c)) // gc sweeps our staged dir
          import spark.implicits._
          // a REAL blind replace publishes on top (expected = c)
          plain.commit(spark, "t", Seq((9L, "z")).toDF("id", "v"))
          competitorRan = true
        }
      }
    }
    val store = new ParquetTableStore(root, io = raceIo)
    store.commit(spark, "t", Seq((1L, "a")).toDF("id", "v"))
    arm = true
    val e = intercept[ConcurrentCommitException] {
      store.commit(spark, "t", Seq((2L, "b")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("swept"), e.getMessage)
    assert(competitorRan)
    // the competitor's version is the table — NOT our pre-sweep prev
    assert(plain.read(spark, "t").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
  }

  test("readPinned/commitPinned: a commit landing after the pinned read fails the publish") {
    val root = tmpDir("cas-pinned")
    val store = new ParquetTableStore(root)
    store.commit(spark, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    // derive-then-replace: the rewrite is computed from THIS snapshot
    val (snapshot, pin) = store.readPinned(spark, "t")
    val derived = snapshot.filter(col("id") =!= 2L)
    // a competitor lands between the read and the publish
    store.upsert(spark, "t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    intercept[ConcurrentCommitException] {
      store.commit(spark, "t", derived, Expect.Pinned(pin))
    }
    // nothing lost: the competitor's merge survives intact
    assert(store.read(spark, "t").select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // the retry shape: re-read pinned (now over the winner) and publish
    val (snap2, pin2) = store.readPinned(spark, "t")
    store.commit(spark, "t", snap2.filter(col("id") =!= 2L),
      Expect.Pinned(pin2))
    assert(store.read(spark, "t").select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("upsertBucketedPinned: a commit landing after the pinned read fails; absence pin guards create") {
    val root = tmpDir("cas-bucketpin")
    val store = new ParquetTableStore(root)
    // CREATE path: pin absence, competitor creates in between → the
    // pinned publish must lose (not merge over the competitor)
    val (none, pinAbsent) = store.readPinnedOption(spark, "t")
    assert(none.isEmpty)
    store.upsertBucketed(spark, "t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    intercept[ConcurrentCommitException] {
      store.upsertBucketed(spark, "t", Seq((9L, "z")).toDF("id", "v"),
        Seq("id"), expect = Expect.Pinned(pinAbsent))
    }
    assert(store.read(spark, "t").count() == 1) // competitor intact
    // UPDATE path: derive from a pinned read, competitor lands, the
    // pinned O(delta) upsert must fail retryably; the retry re-reads
    // and lands the merge over the winner
    val (_, pin) = store.readPinnedOption(spark, "t")
    store.upsertBucketed(spark, "t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    intercept[ConcurrentCommitException] {
      store.upsertBucketed(spark, "t", Seq((3L, "c")).toDF("id", "v"),
        Seq("id"), expect = Expect.Pinned(pin))
    }
    assert(store.read(spark, "t").count() == 2) // ids 1, 2 — nothing lost
    store.withCommitRetries() {
      val (_, p2) = store.readPinnedOption(spark, "t")
      store.upsertBucketed(spark, "t", Seq((3L, "c")).toDF("id", "v"),
        Seq("id"), expect = Expect.Pinned(p2))
    }
    assert(store.read(spark, "t").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("appendBucketed racing a competing publisher: clean conflict, retry lands the union") {
    val root = tmpDir("cas-append")
    val seed = new ParquetTableStore(root)
    seed.appendBucketed(spark, "idx",
      Seq(("t1", 1L)).toDF("term", "id"), Seq("term"), numBuckets = 4)
    // a StoreIo whose first contested CAS lets a REAL competing
    // append publish first — the loser must see a clean conflict,
    // drop its staged dir, and land the UNION on retry (append is
    // insert-only: no merge can silently eat either delta)
    var raced = false
    val racingIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          exp: Option[String]): Unit = {
        if (!raced && exp.isDefined) {
          raced = true
          seed.appendBucketed(spark, "idx",
            Seq(("t2", 2L)).toDF("term", "id"), Seq("term"))
        }
        PosixStoreIo.swapPointerIfCurrent(p, c, exp)
      }
    }
    val store = new ParquetTableStore(root, io = racingIo)
    intercept[ConcurrentCommitException] {
      store.appendBucketed(spark, "idx",
        Seq(("t3", 3L)).toDF("term", "id"), Seq("term"))
    }
    // the competitor's append won and nothing was lost
    assert(seed.read(spark, "idx").collect().map(_.getLong(1)).toSet
      == Set(1L, 2L))
    // the retry shape re-stages from the winner's base: all three land
    store.withCommitRetries() {
      store.appendBucketed(spark, "idx",
        Seq(("t3", 3L)).toDF("term", "id"), Seq("term"))
    }
    assert(seed.read(spark, "idx").collect().map(_.getLong(1)).toSet
      == Set(1L, 2L, 3L))
  }

  test("commitNew: a competitor creating the table between exists() and publish loses") {
    val root = tmpDir("cas-create-new")
    val store = new ParquetTableStore(root)
    // the exists()-guarded create shape: checked absent here ...
    assert(!store.exists("t"))
    // ... competitor creates in between ...
    store.commit(spark, "t", Seq((1L, "winner")).toDF("id", "v"), Expect.New)
    // ... and the guarded create must FAIL its CAS, not replace the
    // winner (a head-CAS commit would CAS against the pointer read at
    // commit time and silently overwrite — the lost-update Expect.New
    // exists to close)
    intercept[ConcurrentCommitException] {
      store.commit(spark, "t", Seq((2L, "loser")).toDF("id", "v"), Expect.New)
    }
    assert(store.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "winner")))
    // the retry shape re-checks existence and merges instead
    store.withCommitRetries() {
      if (!store.exists("t"))
        store.commit(spark, "t", Seq((2L, "late")).toDF("id", "v"), Expect.New)
      else
        store.upsert(spark, "t", Seq((2L, "late")).toDF("id", "v"), Seq("id"))
    }
    assert(store.read(spark, "t").count() == 2)
  }

  // The write surface's one CAS parameter, over both write families:
  // every (op × expectation × competitor) cell either publishes —
  // returning exactly the version now live — or refuses with the
  // retryable conflict, leaving the competitor's version live, its row
  // intact and no staged dir behind; a pinned retry then lands over
  // the winner.
  test("expectation table: commit/upsertBucketed x head/new/pinned x competitor") {
    type Write = (ParquetTableStore, String, org.apache.spark.sql.DataFrame,
      Expect) => (org.apache.spark.sql.DataFrame, Long)
    val ops: Seq[(String, Write)] = Seq(
      "commit" -> ((st, t, df, e) => st.commit(spark, t, df, e)),
      "upsertBucketed" -> ((st, t, df, e) =>
        st.upsertBucketed(spark, t, df, Seq("id"), numBuckets = 4, e)))
    // expectation name, whether the table exists before the call, and
    // how the expectation is captured (before any competitor lands)
    val expectations: Seq[(String, Boolean,
        (ParquetTableStore, String) => Expect)] = Seq(
      ("head", true, (_, _) => Expect.Head),
      ("new", false, (_, _) => Expect.New),
      ("pinned", true, (st, t) => Expect.Pinned(st.readPinned(spark, t)._2)),
      ("pinned-absent", false,
        (st, t) => Expect.Pinned(st.readPinnedOption(spark, t)._2)))
    def ids(st: ParquetTableStore, t: String): Set[Long] =
      st.read(spark, t).select("id").collect().map(_.getLong(0)).toSet
    // staged dirs that are not the live version: any tmp- dir, and any
    // v= dir at or above the live number other than the pointed one
    def leftovers(root: String, t: String): Seq[String] = {
      def num(n: String) = n.stripPrefix("v=").takeWhile(_ != '-').toLong
      val live = new String(Files.readAllBytes(ptr(s"$root/$t"))).trim
      val s = Files.list(Paths.get(root, t))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("tmp-") || (n.startsWith("v=") &&
          n != live && num(n) >= num(live))).toList
      finally s.close()
    }
    for ((opName, write) <- ops; (eName, preexisting, capture) <- expectations;
         competitor <- Seq(false, true)) {
      val cell = s"$opName/$eName/competitor=$competitor"
      val root = tmpDir(s"cas-table-$opName-$eName-$competitor")
      val st = new ParquetTableStore(root)
      if (preexisting) write(st, "t", Seq((1L, "base")).toDF("id", "v"),
        Expect.Head)
      val expect = capture(st, "t")
      if (competitor) write(st, "t", Seq((2L, "rival")).toDF("id", "v"),
        Expect.Head)
      val mine = Seq((9L, "mine")).toDF("id", "v")
      val publishes = !competitor || eName == "head"
      if (publishes) {
        val (frame, v) = write(st, "t", mine, expect)
        assert(st.currentVersion("t").contains(v), cell)
        assert(frame.filter(col("id") === 9L).count() == 1, cell)
        assert(leftovers(root, "t").isEmpty, cell)
      } else {
        val rival = st.currentVersion("t").get
        intercept[ConcurrentCommitException](write(st, "t", mine, expect))
        assert(st.currentVersion("t").contains(rival), cell)
        assert(ids(st, "t").contains(2L), s"$cell: competitor lost")
        assert(leftovers(root, "t").isEmpty,
          s"$cell: refused publish left ${leftovers(root, "t")}")
        // the retry shape: re-read pinned over the winner, re-derive
        st.withCommitRetries() {
          val (cur, pin) = st.readPinnedOption(spark, "t")
          write(st, "t", cur.fold(mine)(_.unionByName(mine)),
            Expect.Pinned(pin))
        }
        assert(ids(st, "t").contains(2L) && ids(st, "t").contains(9L), cell)
      }
    }
    // a pin names the table it was read from
    val st = new ParquetTableStore(tmpDir("cas-table-mismatch"))
    st.commit(spark, "a", Seq((1L, "x")).toDF("id", "v"))
    val (_, pinA) = st.readPinned(spark, "a")
    intercept[IllegalArgumentException](
      st.commit(spark, "b", Seq((1L, "x")).toDF("id", "v"), Expect.Pinned(pinA)))
  }

  test("snapshot-path writes on a bucketed table are refused symmetrically") {
    val store = new ParquetTableStore(tmpDir("cas-buckguard"))
    store.upsertBucketed(spark, "b", Seq((1L, "a")).toDF("id", "v"),
      Seq("id"), numBuckets = 4)
    // commit/upsert would publish a version with no kb= dirs and
    // wedge every later bucketed upsert — refused up front
    intercept[IllegalArgumentException] {
      store.commit(spark, "b", Seq((2L, "b")).toDF("id", "v"))
    }
    intercept[IllegalArgumentException] {
      store.upsert(spark, "b", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      val (_, pin) = store.readPinned(spark, "b")
      store.commit(spark, "b", Seq((2L, "b")).toDF("id", "v"),
        Expect.Pinned(pin))
    }
    // the bucketed path still works and the table is intact
    store.upsertBucketed(spark, "b", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(store.read(spark, "b").count() == 2)
  }

  test("racing creators of a bucketed table converge on ONE bucket count") {
    // simulate losing the _BUCKETS create race: a competitor already
    // wrote _BUCKETS=4 but has not published yet (no _CURRENT); our
    // create with numBuckets=64 must ADOPT 4 instead of overwriting —
    // two bucket functions on one table would put the same key in two
    // kb= dirs (duplicate rows per key)
    val root = tmpDir("cas-buckcreate")
    val store = new ParquetTableStore(root, keepVersions = 100)
    Files.createDirectories(Paths.get(root, "t"))
    Files.write(Paths.get(root, "t", "_BUCKETS"), "4".getBytes)
    store.upsertBucketed(spark, "t", Seq((1L, "a")).toDF("id", "v"),
      Seq("id"), numBuckets = 64)
    assert(store.numBuckets("t").contains(4))
    // and the data really is bucketed with the adopted count: a
    // later delta merges by key instead of duplicating it
    store.upsertBucketed(spark, "t", Seq((1L, "a2")).toDF("id", "v"),
      Seq("id"), numBuckets = 64)
    val rows = store.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a2")), rows.toSeq.toString)
  }

  test("two-table racing writers: per-table atomicity, parents-first reads never torn") {
    // The SyncPipeline shape: each writer lands one (video, transcript)
    // pair — two SEPARATE commits, parents first. The store's contract
    // is per-TABLE atomicity (no cross-table transaction): the spec
    // pins what that does and does not guarantee. Guaranteed: no
    // committed merge on either table is ever lost, and with
    // parents-first ordering an insert-only reader can never observe a
    // child row whose parent is missing. Not guaranteed (and expected):
    // a reader may see a parent whose child has not landed yet.
    val root = tmpDir("cas-two-tables")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.commit(spark, "videos", Seq((0L, "seed")).toDF("id", "title"))
    store.commit(spark, "transcripts", Seq((0L, "seed")).toDF("video_id", "text"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 4).map(w => new Thread(() => {
      try {
        store.withCommitRetries(maxAttempts = 50) {
          store.upsert(spark, "videos",
            Seq((w.toLong, s"video$w")).toDF("id", "title"), Seq("id"))
        }
        store.withCommitRetries(maxAttempts = 50) {
          store.upsert(spark, "transcripts",
            Seq((w.toLong, s"text$w")).toDF("video_id", "text"), Seq("video_id"))
        }
      } catch { case t: Throwable => errs.add(t) }
    }))
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stopReader.get()) {
        try {
          // snapshot children FIRST, parents second: with parents-first
          // writers this ordering is the adversarial one — any torn
          // observation would show an orphan child
          val ts = store.read(spark, "transcripts")
            .select("video_id").collect().map(_.getLong(0)).toSet
          val vs = store.read(spark, "videos")
            .select("id").collect().map(_.getLong(0)).toSet
          if (!ts.subsetOf(vs))
            errs.add(new AssertionError(s"orphan transcripts: ${ts -- vs}"))
        } catch { case t: Throwable => errs.add(t) }
      }
    })
    reader.start()
    writers.foreach(_.start())
    writers.foreach(_.join())
    stopReader.set(true)
    reader.join()
    assert(errs.isEmpty, s"failure: ${errs.peek()}")
    val vids = store.read(spark, "videos").select("id")
      .collect().map(_.getLong(0)).toSet
    val trs = store.read(spark, "transcripts").select("video_id")
      .collect().map(_.getLong(0)).toSet
    assert(vids == Set(0L, 1L, 2L, 3L, 4L), s"lost a video merge: $vids")
    assert(trs == Set(0L, 1L, 2L, 3L, 4L), s"lost a transcript merge: $trs")
  }

  for (io <- Seq(("posix", PosixStoreIo), ("object", ObjectStoreIo)))
    test(s"${io._1}: three-way interleaving — gc sweep + compaction land inside one upsert publish") {
      // The round-12 undo-CAS was proven pairwise (gc-sweep vs one
      // blind competitor); this drives all THREE writer families
      // through one publish window, on both io profiles: the upserter
      // WINS its CAS, gc sweeps its just-published staged dir (the
      // pre-touch-mtime residue), and a REAL compaction attempts to
      // run INSIDE the window — while _CURRENT transiently names the
      // swept dir. Contract under that pile-up:
      //  - the in-window compaction fails RETRYABLY (a
      //    ConcurrentCommitException, never a raw NoSuchFileException
      //    out of its dir listing),
      //  - the upserter surfaces its own retryable "swept" conflict
      //    and the undo restores the pre-race version (gc swept the
      //    only successor, so the undo-CAS wins — no wedged pointer),
      //  - retried, BOTH land: compaction rewrites the fragmented
      //    buckets as a semantic no-op and the upsert merges over the
      //    compacted base — no lost commit, no resurrected version.
      val root = tmpDir(s"cas-threeway-${io._1}")
      val plain = new ParquetTableStore(root, keepVersions = 100, io = io._2)
      def deleteRec(p: Path): Unit = {
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.iterator().forEachRemaining(deleteRec) finally s.close()
        }
        Files.deleteIfExists(p)
        ()
      }
      var arm = false
      var inWindow: Option[Throwable] = None
      val threeWayIo: StoreIo = new StoreIo {
        override def swapPointer(p: Path, c: String): Unit =
          io._2.swapPointer(p, c)
        override def shareFile(s: Path, d: Path): Unit =
          io._2.shareFile(s, d)
        override def deletePointerIfCurrent(p: Path, e: String): Unit =
          io._2.deletePointerIfCurrent(p, e)
        override def swapPointerIfCurrent(p: Path, c: String,
            exp: Option[String]): Unit = {
          io._2.swapPointerIfCurrent(p, c, exp) // the upserter WINS
          if (arm) {
            arm = false
            deleteRec(p.getParent.resolve(c)) // gc sweeps the winner
            // the maintenance pass races into the window: _CURRENT
            // names the swept dir until the upserter's undo lands
            inWindow = Some(intercept[Throwable] {
              plain.compactBuckets(spark, "t", maxFilesPerBucket = 1)
            })
          }
        }
      }
      // seed with fragmented buckets so compaction has real work: a
      // new-key upsert adds a file beside the ones its bucket holds
      // (ids 0 and 1 share a bucket of 2)
      plain.upsertBucketed(spark, "t",
        Seq((0L, "seed")).toDF("id", "v"), Seq("id"),
        numBuckets = 2)
      plain.upsertBucketed(spark, "t",
        Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
      val store = new ParquetTableStore(root, keepVersions = 100,
        io = threeWayIo)
      val vBefore = plain.currentVersion("t").get
      arm = true
      val e = intercept[ConcurrentCommitException] {
        store.upsertBucketed(spark, "t",
          Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      }
      assert(e.getMessage.contains("swept"), e.getMessage)
      // the in-window compaction failed RETRYABLY, not with a raw
      // I/O error out of the vanished dir listing
      assert(inWindow.exists(_.isInstanceOf[ConcurrentCommitException]),
        s"in-window compaction threw ${inWindow.map(_.getClass)}")
      // the undo restored the pre-race version (gc swept the only
      // successor): no wedged pointer, content intact
      assert(plain.currentVersion("t").contains(vBefore))
      assert(plain.read(spark, "t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((0L, "seed"), (1L, "a2")))
      // retried AFTER the undo, the compaction lands and is a
      // semantic no-op over real fragmented-bucket work
      val compacted = plain.withCommitRetries()(
        plain.compactBuckets(spark, "t", maxFilesPerBucket = 1))
      assert(compacted.nonEmpty)
      assert(plain.read(spark, "t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((0L, "seed"), (1L, "a2")))
      // the retried upsert merges over the compacted base: no lost
      // commit, and the store is fully healthy afterwards
      store.withCommitRetries() {
        store.upsertBucketed(spark, "t",
          Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      }
      assert(plain.read(spark, "t").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((0L, "seed"), (1L, "a2"), (2L, "b")))
    }

  test("concurrent committers with retries: every delta lands, dirs never shared") {
    val root = tmpDir("cas-stress")
    val store = new ParquetTableStore(root, keepVersions = 100)
    store.commit(spark, "t", Seq((0L, "seed")).toDF("id", "v"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map(w => new Thread(() => {
      try store.withCommitRetries(maxAttempts = 50) {
        store.upsert(spark, "t",
          Seq((w.toLong, s"writer$w")).toDF("id", "v"), Seq("id"))
      } catch { case t: Throwable => errs.add(t) }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val rows = store.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L), s"lost a merge: $rows")
  }

  test("group marker: CAS conflicts, retention protection, never a mixed vector") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = new ParquetTableStore(tmpDir("store-group"),
      keepVersions = 2)
    def commitPair(tag: String): (Long, Long) = {
      store.commit(spark, "a",
        (1 to 20).map(i => (i.toLong, s"$tag$i")).toDF("k", "v"))
      store.commit(spark, "b",
        Seq((tag, 20L)).toDF("tag", "n"))
      (store.currentVersion("a").get, store.currentVersion("b").get)
    }
    val (a1, b1) = commitPair("s1")
    val pin1 = store.groupPin("g")
    store.commitGroup(Map("a" -> a1, "b" -> b1), pin1)
    // a STALE pin loses the marker CAS (the competitor advanced)
    val (a2, b2) = commitPair("s2")
    store.commitGroup(Map("a" -> a2, "b" -> b2), store.groupPin("g"))
    intercept[ConcurrentCommitException](
      store.commitGroup(Map("a" -> a1, "b" -> b1), pin1))
    // retention protection: a commit burst on `a` far past
    // keepVersions=2 must NOT prune the marker-pinned version —
    // readGroup still resolves span 2's whole vector
    (3 to 8).foreach(i => commitPair(s"s$i"))
    val g = store.readGroup(spark, "g")
    assert(g("a")._2 == a2 && g("b")._2 == b2,
      s"marker drifted: ${g.view.mapValues(_._2).toMap}")
    assert(g("a")._1.filter(col("v") === "s2_non").count() == 0)
    assert(g("a")._1.head.getString(1).startsWith("s2"))
    assert(g("b")._1.head.getString(0) == "s2")
    // advancing the marker RELEASES the old protection: after the
    // next group commit + another burst, span-2 versions prune
    val (a9, b9) = commitPair("s9")
    store.withCommitRetries()(
      store.commitGroup(Map("a" -> a9, "b" -> b9), store.groupPin("g")))
    (10 to 12).foreach(i => commitPair(s"s$i"))
    assert(!store.versions("a").contains(a2),
      "released marker version was never pruned — protection leaks")
    // a group with a nonsense member refuses at commit time
    intercept[IllegalArgumentException](
      store.commitGroup(Map("nope" -> 0L), store.groupPin("g2")))
    // an unknown group refuses at read time
    intercept[IllegalStateException](store.readGroup(spark, "missing"))
  }

  test("versioned commits return the version the call published") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store-versioned"))
    val (_, v0) = store.upsertBucketed(spark, "t",
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), numBuckets = 4)
    assert(v0 == store.currentVersion("t").get)
    val (_, v1) = store.upsertBucketed(spark, "t",
      Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(v1 == v0 + 1 && v1 == store.currentVersion("t").get)
    // empty delta: a version NO-OP reports the base it checked
    // against, never a re-read head
    val (_, vNoop) = store.upsertBucketed(spark, "t",
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(vNoop == v1)
    // snapshot paths
    val (_, s0) = store.commit(spark, "s",
      Seq((1L, "a")).toDF("id", "v"), Expect.New)
    assert(s0 == store.currentVersion("s").get)
    val (_, pin) = store.readPinned(spark, "s")
    assert(store.pinVersion(pin).contains(s0))
    val (_, s1) = store.commit(spark, "s",
      Seq((2L, "b")).toDF("id", "v"), Expect.Pinned(pin))
    assert(s1 == s0 + 1 && s1 == store.currentVersion("s").get)
  }

  test("group commit pins the writer's OWN versions, not re-read heads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the ADVICE-medium shape: writer W commits its member, a
    // competitor advances the same member, then W swaps the marker.
    // W's vector must name the version W committed — the marker
    // time-travels readers to a state some writer actually produced
    // together, never a competitor's head woven in.
    val store = new ParquetTableStore(tmpDir("store-group-own"),
      keepVersions = 4)
    val (_, vMine) = store.upsertBucketed(spark, "m",
      Seq((1L, "mine")).toDF("id", "v"), Seq("id"), numBuckets = 2)
    // competitor lands between W's member commit and W's marker swap
    store.upsertBucketed(spark, "m",
      Seq((1L, "competitor")).toDF("id", "v"), Seq("id"))
    assert(store.currentVersion("m").get == vMine + 1)
    store.withCommitRetries()(
      store.commitGroup(Map("m" -> vMine), store.groupPin("own")))
    val g = store.readGroup(spark, "own")
    assert(g("m")._2 == vMine, s"marker pinned ${g("m")._2}, not $vMine")
    assert(g("m")._1.filter(col("v") === "competitor").count() == 0,
      "group read leaked the competitor's head — vector not the writer's")
  }

  test("group CAS loser re-asserts the live marker's cursor protection") {
    import spark.implicits._
    // protect-then-CAS under-protection (ADVICE-low): the registry is
    // last-write-wins per consumer, so a loser registering at NEWER
    // versions before losing the swap would leave the live marker's
    // OLDER versions unprotected. The loser must re-assert the live
    // vector's cursors before surfacing its conflict.
    val store = new ParquetTableStore(tmpDir("store-group-reassert"),
      keepVersions = 2)
    def bump(tag: String): Long = {
      store.commit(spark, "m", Seq((tag, 1L)).toDF("tag", "n"))
      store.currentVersion("m").get
    }
    val vOld = bump("v0")
    val vNew = { bump("v1"); bump("v2"); bump("v3") }
    // both writers resolve the marker as ABSENT, then race
    val pinLoser = store.groupPin("g")
    store.commitGroup(Map("m" -> vOld), store.groupPin("g")) // winner
    assert(store.cursorFloor("m").contains(vOld))
    intercept[ConcurrentCommitException](
      store.commitGroup(Map("m" -> vNew), pinLoser))
    // without the re-assert the loser's pre-CAS registration (vNew,
    // last write) would have clobbered the winner's vOld protection
    assert(store.cursorFloor("m").contains(vOld),
      s"loser clobbered the live marker's cursor: ${store.cursorFloor("m")}")
  }

  test("dropGroup: marker gone, protection released, recommit is a fresh group") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("store-group-drop"),
      keepVersions = 2)
    def bump(tag: String): Long = {
      store.upsertBucketed(spark, "m",
        Seq((tag, 1L)).toDF("tag", "n"), Seq("tag"), numBuckets = 2)
      store.currentVersion("m").get
    }
    val v0 = bump("a")
    store.withCommitRetries()(
      store.commitGroup(Map("m" -> v0), store.groupPin("g")))
    assert(store.listGroups == Seq("g"))
    // a burst keeps v0 alive ONLY through the group's cursor
    (1 to 5).foreach(i => bump(s"b$i"))
    assert(store.versions("m").contains(v0),
      "marker protection failed before the drop — test premise broken")
    // lag report attributes the debt to the group
    val lag = store.cursorLag(spark, "m")
      .filter(org.apache.spark.sql.functions.col("group") === "g").collect()
    assert(lag.length == 1 && lag(0).getAs[Long]("cursor_version") == v0)
    // drop: reader refuses typed BEFORE protection lifts; the next
    // publish physically prunes the ex-pinned version
    assert(store.dropGroup("g"))
    assert(store.listGroups.isEmpty)
    intercept[IllegalStateException](store.readGroup(spark, "g"))
    bump("after-drop")
    assert(!store.versions("m").contains(v0),
      "dropGroup did not release the group's retention protection")
    // re-drop of an absent group: false, and sweeps any leaked cursor
    assert(!store.dropGroup("g"))
    // a commitGroup racing the drop with a stale pin loses typed and
    // its retry re-creates the group from absence
    val head = store.currentVersion("m").get
    val stale = GroupPin("g", Map("m" -> v0), Some(s"m=$v0"))
    intercept[ConcurrentCommitException](
      store.commitGroup(Map("m" -> head), stale))
    store.withCommitRetries()(
      store.commitGroup(Map("m" -> head), store.groupPin("g")))
    assert(store.readGroup(spark, "g")("m")._2 == head)
  }
}
