package graft.ops

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.YtFunctions

/** Randomized equivalence: the reference applies upserts row-at-a-time
  * (INSERT OR REPLACE / OR IGNORE / UPDATE / DELETE loops over a
  * SQLite table); graft applies them as whole-batch dataflow. For
  * random key/value sequences, the batch operators must land on
  * exactly the table the sequential loop produces.
  */
class UpsertEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(20260812)
  private def key(i: Int) = s"k${i % 17}" // small keyspace → collisions

  private def randomRows(n: Int): Seq[(String, String, Int)] =
    Seq.fill(n)((key(rnd.nextInt(100)), s"v${rnd.nextInt(1000)}", rnd.nextInt(100)))

  test("U1: batch LWW upsert == sequential INSERT OR REPLACE") {
    for (trial <- 1 to 5) {
      val storedRows = randomRows(30).distinctBy(_._1)
      val batchRows = randomRows(25)
      // reference loop: later statements overwrite earlier ones
      val table = mutable.LinkedHashMap[String, (String, String, Int)]()
      storedRows.foreach(r => table(r._1) = r)
      batchRows.foreach(r => table(r._1) = r)
      val expected = table.values.toSet

      val stored = storedRows.toDF("k", "v", "n")
      val batch = batchRows.zipWithIndex
        .map { case ((k, v, n), i) => (k, v, n, i) }.toDF("k", "v", "n", "seq")
      val incoming = Upserts.dedupKeepLast(batch, Seq("k"), Seq(col("seq"))).drop("seq")
      val got = Upserts.upsertLastWriteWins(stored, incoming, Seq("k"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("U2: batch insert-if-absent == sequential INSERT OR IGNORE") {
    for (trial <- 1 to 5) {
      val storedRows = randomRows(20).distinctBy(_._1)
      val batchRows = randomRows(25)
      val table = mutable.LinkedHashMap[String, (String, String, Int)]()
      storedRows.foreach(r => table(r._1) = r)
      batchRows.foreach(r => if (!table.contains(r._1)) table(r._1) = r)
      val expected = table.values.toSet

      val stored = storedRows.toDF("k", "v", "n")
      // INSERT OR IGNORE keeps the FIRST occurrence within the batch
      val batch = batchRows.zipWithIndex
        .map { case ((k, v, n), i) => (k, v, n, i) }.toDF("k", "v", "n", "seq")
      val firstPerKey = Upserts.dedupKeepLast(batch, Seq("k"),
        Seq(-col("seq"))).drop("seq")
      val got = Upserts.insertIfAbsent(stored, firstPerKey, Seq("k"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("U4: batch keyed delete == sequential DELETE loop") {
    for (trial <- 1 to 5) {
      val storedRows = randomRows(30)
      val deleteKeys = Seq.fill(10)(key(rnd.nextInt(100)))
      val expected = storedRows.filterNot(r => deleteKeys.contains(r._1)).toSet

      val got = Upserts.deleteByKey(
        storedRows.toDF("k", "v", "n"),
        deleteKeys.toDF("k"), Seq("k"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("U5: batch diff-sync == sequential add/remove reconciliation") {
    for (trial <- 1 to 5) {
      val storedRows = randomRows(25).distinctBy(_._1)
      val remoteRows = randomRows(25).distinctBy(_._1)
      // reference: remove stored−remote, add remote−stored (keeping
      // stored attrs for retained keys)
      val table = mutable.LinkedHashMap[String, (String, String, Int)]()
      storedRows.foreach(r => table(r._1) = r)
      val remoteKeys = remoteRows.map(_._1).toSet
      table.keys.toSeq.filterNot(remoteKeys.contains).foreach(table.remove)
      remoteRows.foreach(r => if (!table.contains(r._1)) table(r._1) = r)
      val expected = table.values.toSet

      val sync = Upserts.diffSync(
        storedRows.toDF("k", "v", "n"),
        remoteRows.toDF("k", "v", "n"), Seq("k"))
      val got = sync.synced
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == expected, s"trial $trial")
    }
  }

  test("U3: batch partial update == sequential UPDATE loop") {
    for (trial <- 1 to 5) {
      val storedRows = randomRows(25).distinctBy(_._1)
      val updates = randomRows(15).distinctBy(_._1)
      val table = mutable.LinkedHashMap[String, (String, String, Int)]()
      storedRows.foreach(r => table(r._1) = r)
      updates.foreach { case (k, v, _) =>
        table.get(k).foreach { case (_, _, n0) => table(k) = (k, v, n0) }
      }
      val expected = table.values.toSet

      val got = Upserts.updateSubset(
        storedRows.toDF("k", "v", "n"),
        updates.toDF("k", "v", "n"), Seq("k"), Seq("v"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == expected, s"trial $trial")
    }
  }

  /** The multi-join forms U5/U6 had before their single-pass rewrite
    * (four joins each), kept as the reference the rewrite must match. */
  private object Reference {
    def diffSync(stored: DataFrame, remote: DataFrame,
        keys: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
      val adds = remote.join(stored, keys, "left_anti")
      val removes = stored.join(remote, keys, "left_anti")
      val retained = stored.join(remote.select(keys.map(col): _*), keys, "left_semi")
      (adds, removes,
        retained.unionByName(adds.select(stored.columns.map(col).toIndexedSeq: _*)))
    }

    def conditionalUpsert(stored: DataFrame, incoming: DataFrame, keys: Seq[String])(
        incomingWins: (String => Column, String => Column) => Column): DataFrame = {
      val inc = incoming.alias("__inc")
      val old = stored.alias("__old")
      val cond = keys.map(k => inc(k) === old(k)).reduce(_ && _)
      val wins = incomingWins(inc.apply, old.apply)
      val matchedInc = inc.join(old, cond, "inner")
        .filter(wins).select(stored.columns.toIndexedSeq.map(inc(_)): _*)
      val matchedOldKept = old.join(inc, cond, "inner")
        .filter(!incomingWins(inc.apply, old.apply))
        .select(stored.columns.toIndexedSeq.map(old(_)): _*)
      val unmatchedInc = incoming.join(stored, keys, "left_anti")
        .select(stored.columns.toIndexedSeq.map(col): _*)
      val unmatchedOld = stored.join(incoming, keys, "left_anti")
      unmatchedOld.unionByName(matchedOldKept)
        .unionByName(matchedInc).unionByName(unmatchedInc)
    }
  }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what schema")
    assert(multiset(got) == multiset(want), s"$what rows")
  }

  private def maybe[T](r: Random, nullShare: Double)(v: => T): Option[T] =
    if (r.nextDouble() < nullShare) None else Some(v)

  // a composite key over a small keyspace (duplicates on each side) with
  // a NULL component now and then; every column nullable, as the store
  // reads it
  private def members(r: Random, n: Int): Seq[(Option[String], Option[Int],
      Option[String], Option[Long])] =
    Seq.fill(n)((maybe(r, 0.1)(s"p${r.nextInt(3)}"), maybe(r, 0.1)(r.nextInt(4)),
      maybe(r, 0.2)(s"a${r.nextInt(50)}"), maybe(r, 0.2)(r.nextLong(1000L))))

  test("U5: one-shuffle diff-sync == the multi-join form (dups, NULL keys, extra remote column)") {
    import spark.implicits._
    val r = new Random(5005)
    val keys = Seq("pl", "pos")
    for (trial <- 1 to 4) {
      val stored = members(r, 30).toDF("pl", "pos", "attr", "n")
      // by-name alignment: remote lists its columns in another order
      // and carries one stored lacks
      val remote = members(r, 30)
        .map { case (pl, pos, a, n) => (n, maybe(r, 0.3)(s"x${r.nextInt(9)}"), pos, a, pl) }
        .toDF("n", "extra", "pos", "attr", "pl")
      val (adds, removes, synced) = Reference.diffSync(stored, remote, keys)
      val got = Upserts.diffSync(stored, remote, keys)
      assertSame(got.adds, adds, s"trial $trial adds")
      assertSame(got.removes, removes, s"trial $trial removes")
      assertSame(got.synced, synced, s"trial $trial synced")
      val counts = Observation()
      assertSame(got.syncedCounting(counts), synced, s"trial $trial counted synced")
      assert(counts.get == Map("adds" -> adds.count(), "removes" -> removes.count()),
        s"trial $trial counts")
    }
  }

  test("U6: one-join conditional upsert == the multi-join form (dups, NULL keys, NULL predicates, one lineage)") {
    import spark.implicits._
    val r = new Random(6006)
    def text(): String = r.nextInt(3) match {
      case 0 => s"[00:0${r.nextInt(10)}] timed ${r.nextInt(20)}"
      case _ => s"plain ${r.nextInt(20)}"
    }
    def rows(n: Int) = Seq.fill(n)((maybe(r, 0.1)(s"v${r.nextInt(12)}"),
      maybe(r, 0.15)(text()), maybe(r, 0.25)(r.nextInt(100))))
    val predicates: Seq[(String, (String => Column, String => Column) => Column)] = Seq(
      "timestamped wins" -> ((inc, old) =>
        YtFunctions.hasTimestamps(inc("transcript")) ||
          !YtFunctions.hasTimestamps(old("transcript"))),
      "newer rank wins" -> ((inc, old) => inc("rank") > old("rank")))
    for (trial <- 1 to 3; (name, wins) <- predicates) {
      val stored = rows(25).toDF("video_id", "transcript", "rank")
      val incoming = rows(20).map { case (k, t, n) => (k, t, n, s"e${r.nextInt(5)}") }
        .toDF("video_id", "transcript", "rank", "extra")
      assertSame(Upserts.conditionalUpsert(stored, incoming, Seq("video_id"))(wins),
        Reference.conditionalUpsert(stored, incoming, Seq("video_id"))(wins),
        s"trial $trial, $name")
    }
    // both sides derived from one frame, as the u6 gate does (a
    // self-join to the analyzer; the reference form needs the non-key
    // columns derived apart)
    val base = rows(30).toDF("video_id", "transcript", "rank")
    val stored = base.select(col("video_id"), upper(col("transcript")).as("transcript"),
      (col("rank") * 2).as("rank"))
    val incoming = base.filter(col("rank") > 40)
      .select(col("video_id"), concat(lit("[00:01] "), col("transcript")).as("transcript"),
        (col("rank") + 7).as("rank"))
    for ((name, wins) <- predicates)
      assertSame(Upserts.conditionalUpsert(stored, incoming, Seq("video_id"))(wins),
        Reference.conditionalUpsert(stored, incoming, Seq("video_id"))(wins),
        s"one lineage, $name")
  }

  test("U5/U6: non-nullable inputs keep names and types; nullability only widens") {
    import spark.implicits._
    val stored = Seq(("a", 1, 10), ("b", 2, 20)).toDF("k", "p", "n")
    val remote = Seq(("b", 3, 30L), ("c", 4, 40L)).toDF("k", "p", "n")
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def widened(got: DataFrame, want: DataFrame) =
      got.schema.zip(want.schema).forall { case (g, w) => g.nullable || !w.nullable }
    val (adds, removes, synced) = Reference.diffSync(stored, remote, Seq("k"))
    val got = Upserts.diffSync(stored, remote, Seq("k"))
    for ((g, w) <- Seq(got.adds -> adds, got.removes -> removes, got.synced -> synced)) {
      assert(shape(g) == shape(w) && widened(g, w))
      assert(multiset(g) == multiset(w))
    }
    val wins: (String => Column, String => Column) => Column =
      (inc, old) => inc("n") > old("n")
    val cu = Upserts.conditionalUpsert(stored, remote, Seq("k"))(wins)
    val ref = Reference.conditionalUpsert(stored, remote, Seq("k"))(wins)
    assert(shape(cu) == shape(ref) && widened(cu, ref))
    assert(multiset(cu) == multiset(ref))
  }

  test("U5/U6 plan shape: every input row crosses exactly one shuffle, nothing broadcast") {
    import spark.implicits._
    // the number of shuffle exchanges between each input scan and the root
    def exchangesPerInput(p: SparkPlan, above: Int = 0): Seq[Int] = p match {
      case e: ShuffleExchangeExec => exchangesPerInput(e.child, above + 1)
      case leaf if leaf.children.isEmpty => Seq(above)
      case other => other.children.flatMap(exchangesPerInput(_, above))
    }
    def assertOneShuffle(df: DataFrame, what: String): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(exchangesPerInput(plan) == Seq(1, 1), s"$what:\n$plan")
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"$what:\n$plan")
    }
    def stored(rows: Seq[(String, Int, Int)]): DataFrame = {
      val dir = tmpDir("upsert-plan")
      rows.toDF("k", "p", "n").write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val a = stored(Seq(("a", 1, 1), ("b", 2, 2)))
      val b = stored(Seq(("b", 2, 3), ("c", 3, 4)))
      val sync = Upserts.diffSync(a, b, Seq("k", "p"))
      assertOneShuffle(sync.adds, "U5 adds")
      assertOneShuffle(sync.removes, "U5 removes")
      assertOneShuffle(sync.synced, "U5 synced")
      assertOneShuffle(sync.syncedCounting(Observation()), "U5 counted synced")
      assertOneShuffle(Upserts.conditionalUpsert(a, b, Seq("k", "p")) {
        (inc, old) => inc("n") > old("n")
      }, "U6")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }
}
