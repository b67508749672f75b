package graft

/** Benchmark main — times every catalog query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line (driver contract).
  *
  * Methodology: each query is fully materialized with a noop-format
  * write (count() lets Catalyst prune the plan below the aggregate;
  * noop forces every output row through the physical plan). One
  * untimed warmup of a mid-weight query absorbs session/codegen/JIT
  * startup so the first timed query isn't penalized.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // Round-10 post-mortem: the stateful-streaming gates (st3/st4/st8)
    // leave a StateStore maintenance timer that fires AFTER
    // spark.stop() and logs a ~1 KB IllegalStateException stack trace.
    // Under `run / outputStrategy := StdoutOutput` the fork's stderr is
    // merged into stdout, so that trace landed INSIDE the driver's
    // 2000-char stdout tail and displaced the contract line
    // (BENCH_r10.parsed = null). The maintenance log carries zero
    // information here (the store is being torn down on purpose), so
    // the whole package is hard-off for the bench process.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state",
      org.apache.logging.log4j.Level.OFF)

    // Round-6 lesson: swallowing exceptions here let 16 broken queries
    // masquerade as 0.1 s successes. Failures are now collected and
    // emitted as "failed":[...] in the contract line — a broken query
    // can't hide in a plausible-looking time again.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Between-query hygiene (round-6 verdict item 6): the catalog's
    // heavy gates leave session residue (shuffle files, broadcast
    // blocks, JIT/GC pressure) that drifted sub-2 s queries 3-8× in
    // r6. Dropping dead blocks and giving the JVM one collection
    // point between queries keeps each measurement independent.
    val hygiene = sys.env.get("SPARK_GRAFT_BENCH_HYGIENE").forall(_ != "0")
    def cleanse(): Unit = if (hygiene) {
      spark.catalog.clearCache()
      // System.gc() drives the ContextCleaner: unreferenced shuffle
      // files and broadcast blocks are only reclaimed when their weak
      // refs are processed, which needs an actual collection.
      System.gc()
    }
    // JVM-health snapshot for the stderr record: cumulative GC ms and
    // JIT compilation ms, code-cache + metaspace occupancy. Exists to
    // explain in-battery drift (r11 verdict item 1: st1 recorded 2.3×
    // its same-session solo floor with all three readings hot — the
    // contaminator is battery-cumulative JVM state, and this makes it
    // observable per reading instead of theorized about).
    def jvmDiag(): (Long, Long, Long, Long) = {
      import java.lang.management.ManagementFactory
      import scala.jdk.CollectionConverters._
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
      val jitMs = Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime).getOrElse(-1L)
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      def usedMb(substr: String) = pools
        .filter(_.getName.toLowerCase.contains(substr))
        .map(_.getUsage.getUsed).sum / (1024L * 1024L)
      (gcMs, jitMs, usedMb("codeheap"), usedMb("metaspace"))
    }
    def materialize(name: String): Double = {
      cleanse()
      val (gc0, jit0, _, _) = jvmDiag()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      if (t >= 2.0) {
        val (gc1, jit1, cc, meta) = jvmDiag()
        System.err.println(f"[bench] diag $name t=$t%.2f gcMs=+${gc1 - gc0} " +
          f"jitMs=+${jit1 - jit0} codeCacheMB=$cc metaspaceMB=$meta")
      }
      t
    }

    // optional args: query names to time (default: the whole catalog)
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted

    // untimed warmup (session init, codegen, parquet footer caches).
    // j1 covers the relational path; mm6 the codec-SPI/registry path
    // and ts12 the widest single codegen unit — the two whose first
    // pass otherwise runs 2-4x their warm time (JIT, not plan, cost).
    // A warmup failure is only cleared when the timed pass will re-run
    // the query (it re-adds itself there if still broken); with an
    // explicit args subset that omits it, the failure must stay on the
    // contract line instead of vanishing into stderr.
    Seq("j1_parent_child_counts", "mm6_registry_dispatch",
        "ts12_bigram_lm_score")
      .foreach { w => materialize(w); if (names.contains(w)) failed -= w }

    val firstPass = names.map { n =>
      val t = materialize(n)
      // contamination guard (round-3 lesson): any RDD blocks still
      // pinned after a query poison every later one — surface the
      // count per query so a leak can never hide in the total again
      (n, t, spark.sparkContext.getPersistentRDDs.size)
    }
    // Round-5 verdict item: the heavy composed gates drifted up to 3×
    // between the driver's catalog run and a same-session solo run
    // (GC/compilation/page-cache interference from 130+ preceding
    // queries). Re-run every query whose first time exceeded 2 s and
    // keep the BEST of the two — the stable per-query signal
    // regression detection needs; both readings are emitted (first
    // times for the re-run set under "run1") so the drift itself
    // stays observable round over round.
    val rerun: Map[String, Double] = firstPass
      .collect { case (n, t, _) if t >= 2.0 && !failed.contains(n) =>
        n -> materialize(n) }
      .toMap
    // Round-8 verdict item 1: the streaming-standup gates (st1/st2)
    // recorded 2.3× their same-session solo times even WITH best-of-2
    // — two consecutive slow readings happen. When the two readings
    // themselves disagree >1.4×, the measurement hasn't converged:
    // take a THIRD run and keep the best.
    // Round-9 verdict item 1: the disagreement trigger is blind to a
    // UNIFORMLY hot battery — r9 recorded st1 at 33.3 s (vs its
    // 7.2-8.6 s same-session floor) because both readings were hot and
    // agreed within 1.4×. Any query whose best-of-2 still exceeds 5 s
    // now gets the third run UNCONDITIONALLY: the heavy tail is a
    // handful of queries, so the extra cost is bounded, and the >2×
    // cross-round regression check stops being blind on exactly the
    // lines where it matters most. Every reading stays observable on
    // stderr, so the drift itself remains visible round over round
    // while the recorded number tracks the floor.
    val rerun3: Map[String, Double] = rerun
      .collect { case (n, t2) =>
        val t1 = firstPass.collectFirst { case (`n`, t, _) => t }.get
        (n, t1, t2)
      }
      .collect { case (n, t1, t2)
          if math.max(t1, t2) / math.min(t1, t2) > 1.4 ||
             math.min(t1, t2) > 5.0 =>
        val t3 = materialize(n)
        System.err.println(
          f"[bench] best-of-3 $n runs=[$t1%.2f,$t2%.2f,$t3%.2f]s")
        n -> t3
      }
      .toMap
    // A failed query's partial elapsed time is NOT a measurement: its
    // entry reports null and it is excluded from the headline total,
    // so `value` only ever aggregates successful materializations
    // (the failure itself stays visible in "failed").
    val results = firstPass.map { case (n, t, r) =>
      (n, math.min(math.min(t, rerun.getOrElse(n, t)),
        rerun3.getOrElse(n, t)), r, !failed.contains(n))
    }
    // The driver records only the LAST 2000 chars of stdout (measured:
    // every BENCH_r{1..4} tail is exactly 2000 chars and `parsed` was
    // null each round — the full-name maps made the line ~4 KB and the
    // truncated front never parsed). The final line must therefore fit
    // the window whole: query keys are the catalog's unique short codes
    // (name up to the first '_': d7, ss4, a7b — the ids every doc uses),
    // seconds at 2 decimals, and retained-RDD counts only when nonzero
    // (an empty map IS the round-3 contamination guard passing). The
    // full-name map still goes to stderr for local debugging.
    def shortKey(n: String): String = n.takeWhile(_ != '_')
    val keyOf: String => String =
      if (results.map(r => shortKey(r._1)).distinct.size == results.size)
        shortKey else identity
    def r2(v: Double): Double = math.round(v * 100).toDouble / 100
    System.err.println(results
      .map { case (k, v, r, ok) =>
        s"""[bench] $k ${r2(v)}s retained=$r${if (ok) "" else " FAILED"}""" }
      .mkString("\n"))
    // "rnz" (retained-RDDs-nonzero) and "hyg" were "retained_nonzero"/
    // "hygiene" through r10; shortened per the round-10 verdict — at
    // 185+ queries the r1-tier line had 24 chars of slack and these two
    // keys were the cheapest 17 chars on it.
    val retained = results.collect { case (k, _, r, _) if r != 0 =>
      "\"" + keyOf(k) + "\":" + r }.mkString("{", ",", "}")
    // first-run times of the re-run (heavy) queries: both readings of
    // every best-of-2 row stay observable — but on STDERR, never on the
    // contract line (round-6 lesson: appending run1 pushed the line past
    // the driver's 2000-char stdout tail and BENCH_r06.parsed was null)
    val run1 = firstPass.collect { case (k, t, _) if rerun.contains(k) =>
      "\"" + keyOf(k) + "\":" + r2(t) }.mkString("{", ",", "}")
    System.err.println(s"[bench] run1=$run1")
    val total = r2(results.collect { case (_, v, _, true) => v }.sum)
    val failedJson = failed.map("\"" + keyOf(_) + "\"").mkString("[", ",", "]")
    // The driver keeps only the LAST 2000 chars of stdout, so the final
    // line must fit that window whole. 2-decimal short-key entries for a
    // ~140-query catalog run ~1.7 KB; if a future catalog outgrows the
    // window, degrade per-query precision before sacrificing parseability.
    // "hygiene" records whether the between-query cleanse ran, so
    // cross-round totals are known-comparable (the cleanse adds fixed
    // per-query overhead that a hygiene-off run does not pay).
    // JSON numbers render integers BARE (10, not 10.0): Double
    // toString keeps ".0", which made the ladder's integer tier no
    // shorter than r1 for sub-10 s queries — every tier shrinks
    def js(v: Double): String =
      if (v == math.rint(v)) math.round(v).toString else v.toString
    // the sf tag carries the directory BASENAME — the driver's tail
    // window is the whole budget, and the path prefix spent 18 chars
    // of it saying nothing
    val sfTag = sfDir.replaceAll(".*/", "")
    def contract(prec: Double => Double): String = {
      val qs = results.map { case (k, v, _, ok) =>
        "\"" + keyOf(k) + "\":" + (if (ok) js(prec(v)) else "null") }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"rnz":$retained,"hyg":$hygiene,"sf":"$sfTag"}"""
    }
    def r1(v: Double): Double = math.round(v * 10).toDouble / 10
    // Precision ladder (re-derived after BENCH_r10): degrade the SLOW
    // queries to integer seconds first — a 7 s query at 1 s resolution
    // still supports the driver's >2× regression check, while the
    // sub-second majority (where 1 s resolution erases the signal
    // entirely) keeps its decimal as long as possible.
    def adaptive(cut: Double)(v: Double): Double =
      if (v >= cut) math.round(v).toDouble else r1(v)
    // Budget: the driver keeps the LAST 2000 stdout chars. With the
    // state-store logger hard-off and the contract line printed as the
    // process's final output (stop → println → flush → exit), the only
    // post-line bytes are sbt's success epilogue — 74 chars in
    // BENCH_r10's recorded tail ("[success] Total time: … completed
    // <date>"), date-length jitter ±2. 1900 leaves ~25 chars of real
    // margin; r10's "~76-char epilogue" assumption was right, its
    // 1920 budget just had no room for the 1 KB of unexpected noise
    // that the logger-off + exit ordering now makes impossible.
    val line = Seq(contract(r2), contract(r1),
        contract(adaptive(10.0)), contract(adaptive(3.0)))
      .find(_.length <= 1900)
      .getOrElse(contract(v => math.round(v).toDouble))
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
    // Contract line LAST, then exit before any async logger (state-store
    // maintenance, shutdown hooks) can write after it: stop() first so
    // Spark's own teardown noise precedes the line, flush because the
    // forked JVM's stdout is pipe-buffered (not line-buffered) and
    // System.exit would otherwise drop the unflushed tail.
    // a failing stop() must not eat the record — the line is the
    // product; teardown trouble is stderr's problem
    scala.util.Try(spark.stop())
    println(line)
    System.out.flush()
    System.exit(0)
  }
}
