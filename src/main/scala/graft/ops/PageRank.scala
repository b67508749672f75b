package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank over an edge list — the iterative-importance companion to
  * the [[ConnectedComponents]] fixpoint: where CC answers "which rows
  * are the same thing", PageRank answers "which nodes matter", the
  * ranking a curation pipeline runs over citation/link/co-occurrence
  * graphs to weight sources.
  *
  * Distributed shape (the canonical one): per iteration, ONE src-keyed
  * join attaches (rank, outdeg) to each edge and ONE dst-keyed
  * aggregate sums the incoming contributions — two key shuffles over
  * edge-sized data, nothing node- or corpus-sized ever broadcasts or
  * collects. Rank vectors are node-sized rows, re-staged each
  * iteration through a persisted RDD leaf (the CC discipline: constant
  * plan size instead of an exponentially nesting logical tree), all
  * blocks freed on return, the final vector staged to parquet and
  * handed back as a clean scan.
  *
  * Semantics contract (pinned for the oracle): r₀ = 1/N;
  * rᵢ₊₁(v) = (1−d)/N + d·Σ_{(u,v)∈E} rᵢ(u)/outdeg(u). Dangling-node
  * mass is NOT redistributed (the simplified recurrence both engines
  * replicate term-for-term); self-loops are dropped at edge
  * derivation. */
object PageRank {

  /** Directed co-order edges: within each order, the part on line i
    * points at the part on line i+1 — the basket-transition graph.
    * One (orderkey) window pass, distinct edges, self-loops dropped.
    * The window order is (linenumber, partkey) — the fixture carries
    * duplicate (orderkey, linenumber) pairs, so linenumber alone is
    * not total and lead() would be NONDETERMINISTIC (worse than a
    * flaky gate: DuckDB inlines CTEs, so each oracle reference of the
    * edge set would re-draw a different graph). Tied (linenumber,
    * partkey) rows are value-identical, so the led value sequence is
    * deterministic under this order. */
  def coOrderEdges(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    lineitem.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("__dst", lead(col("l_partkey"), 1).over(w))
      .filter(col("__dst").isNotNull && col("__dst") =!= col("l_partkey"))
      .select(col("l_partkey").as("src"), col("__dst").as("dst"))
      .distinct()
  }

  /** PER-NODE TRIANGLE COUNTS over the undirected view of an edge
    * list — the classic graph-cohesion signal (clustering
    * coefficients, community density, link-spam detection on a web
    * graph). Input edges may be directed/duplicated/self-looped; the
    * op canonicalizes to distinct undirected (u < v) pairs first.
    *
    * Algorithm (Suri & Vassilvitskii 2011, the MapReduce standard):
    * orient every undirected edge from its LOWER-(degree, id)
    * endpoint to the higher; each triangle then has exactly ONE node
    * with two outgoing edges, so the wedge self-join enumerates every
    * triangle exactly once, and the orientation bounds any node's
    * out-neighborhood by O(√m) on ANY graph — the wedge mass is
    * O(m^1.5) worst case instead of Σ deg² (a single celebrity node
    * can't go quadratic). Wedges close against the canonical edge
    * set by one equi-join; per-node counts explode the three corners.
    * Every exchange is an equi-join or combinable count — no
    * cartesian anywhere. Output: (id, n_triangles) for EVERY node in
    * the graph (zeros kept). */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val corners = triangleTriples(und)
      .select(explode(array(col("a"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    und.select(col("u").as("id"))
      .union(und.select(col("v").as("id"))).distinct()
      .join(corners, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Canonical distinct undirected (u < v) pairs of a raw edge frame
    * — self-loops dropped, direction and duplicates collapsed. */
  private def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v")).distinct()

  /** Every triangle of a canonical undirected edge set, exactly once,
    * as (a, x, y) with x < y — the Suri–Vassilvitskii enumeration
    * [[triangleCounts]] documents (degree-ordered orientation bounds
    * wedge fan-out at O(√m)). */
  private def triangleTriples(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    // (deg, id)-order orientation; und already guarantees u < v, so
    // the id tie-break collapses into du <= dv (equal degrees keep
    // the lower id as the source)
    val oriented = withDeg.select(
      when(col("du") <= col("dv"),
        struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val wedges = oriented.select(col("a"), col("b").as("x"))
      .join(oriented.select(col("a"), col("b").as("y")), Seq("a"))
      .filter(col("x") < col("y"))
    // the wedge's open side is canonical (x < y), so it closes
    // directly against the canonical undirected edge set
    wedges.join(und.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"))
      .select(col("a"), col("x"), col("y"))
  }

  /** INCREMENTAL triangle maintenance under edge APPENDS — the
    * d10/ts25 build-once/fold-delta discipline applied to the graph
    * family (reference analog: the incremental-sync shape of
    * main_scraper.py:144-179 — fold only what's new, keep the
    * artifact current). The store holds three artifacts:
    *
    *  - `edgesTable` (u, v): the canonical undirected edge set,
    *    key-bucketed — each fold appends its genuinely-new edges as
    *    an O(delta) bucketed commit;
    *  - `countsTable` (id, n_triangles): per-node counts for every
    *    node seen so far, key-bucketed — each fold rewrites only the
    *    touched ids' buckets;
    *  - `metaTable` (edges_version): the edges version the counts
    *    were derived from, committed LAST (the ts25/bm25_meta
    *    cross-table consistency marker).
    *
    * Fold math — a triangle gained by the append has 1, 2, or 3 new
    * edges, and each case enumerates EXACTLY once (never re-touching
    * the stored wedge mass):
    *
    *  1. one new edge (x,y), two stored: common stored neighbors,
    *     enumerated from the lower-(degree, id) endpoint — the
    *     bounded-intersection shape, Σ min(deg x, deg y) work;
    *  2. two new edges sharing center a, one stored closing edge:
    *     wedges WITHIN the delta (delta-sized self-join) closed
    *     against the stored set by one equi-join;
    *  3. three new edges: the S-V enumeration over the delta alone.
    *
    * Per-fold cost: a handful of stored-edge-set SCANS (the
    * anti-join, the adjacency/degree pass, and each case's closing
    * join read the table independently — edge-mass-linear, and
    * deliberately NOT persisted: pinning a deployment-scale edge set
    * per fold would cost more than the re-reads) plus delta-sized
    * work — never the O(m^1.5) wedge mass a from-scratch rebuild
    * pays. Counts are
    * ADDITIVE, so replay safety comes from the edge anti-join: a
    * replayed delta finds all its edges already stored, contributes
    * zero increments, and the commits no-op — idempotent without a
    * ledger. A crash BETWEEN commits leaves the version marker
    * behind the edge table; the next fold detects the torn state and
    * fails LOUDLY with a rebuild instruction (the st8 contract)
    * instead of double-counting or silently under-counting.
    * CONCURRENT folds are safe by the same pin discipline st2 uses:
    * every commit CASes against the snapshot this fold derived from,
    * so of two racing folds exactly one lands — the loser throws
    * [[ConcurrentCommitException]] on its FIRST commit (before any
    * count mutates) and the caller simply re-invokes the fold, which
    * re-reads the winner's state (shared edges anti-join away;
    * genuinely new edges fold normally).
    *
    * Returns the full (id, n_triangles) view after the fold —
    * identical to [[triangleCounts]] over everything appended so far
    * (gate g3 pins the identity). */
  def triangleCountsAppend(newEdges: DataFrame, srcCol: String,
      dstCol: String, store: ParquetTableStore,
      edgesTable: String = "tri_edges",
      countsTable: String = "tri_counts",
      metaTable: String = "tri_meta",
      numBuckets: Int = 32): DataFrame =
    triangleCountsAppendVersioned(newEdges, srcCol, dstCol, store,
      edgesTable, countsTable, metaTable, numBuckets)._1

  /** [[triangleCountsAppend]] returning ALSO the meta-table version
    * THIS fold committed (or, for a no-op delta, the pinned version
    * its result corresponds to) — the group-commit discipline: a
    * cross-family marker ([[graft.ops.ParquetTableStore.commitGroup]])
    * must pin the versions the writer committed, never re-read heads,
    * or a competitor's fold landing in between gets woven into a
    * vector no writer committed together. */
  def triangleCountsAppendVersioned(newEdges: DataFrame, srcCol: String,
      dstCol: String, store: ParquetTableStore,
      edgesTable: String = "tri_edges",
      countsTable: String = "tri_counts",
      metaTable: String = "tri_meta",
      numBuckets: Int = 32): (DataFrame, Long) = {
    val spark = newEdges.sparkSession
    import spark.implicits._
    val delta = canonicalUndirected(newEdges, srcCol, dstCol)
    val have = Seq(edgesTable, countsTable, metaTable).map(store.exists)
    if (have.exists(identity) && !have.forall(identity))
      throw new IllegalStateException(
        s"triangle artifacts are torn (present: " +
          Seq(edgesTable, countsTable, metaTable).zip(have)
            .collect { case (t, true) => t }.mkString(", ") +
          ") — a build crashed between commits; delete the three " +
          "tables and re-append the full edge history to rebuild")
    if (!have.head) {
      // first batch: full build (each commit creates its table; a
      // crash mid-build is caught by the torn-state check above).
      // Pin the canonical set and the counts: each bucketed commit
      // runs two actions (touched-set collect + write), and an
      // unpinned frame would re-derive the whole canonicalization /
      // wedge enumeration per action.
      val d = delta.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val counts = triangleCounts(d, "u", "v").persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // absence-pinned creates: a RACING first build must lose
          // its CAS cleanly (ConcurrentCommitException to the
          // caller), not interleave its three creates with ours
          val (_, edgesPin) = store.readPinnedOption(spark, edgesTable)
          val (_, countsPin) = store.readPinnedOption(spark, countsTable)
          val (_, ev) = store.upsertBucketed(spark, edgesTable, d,
            Seq("u", "v"), numBuckets, Expect.Pinned(edgesPin))
          store.upsertBucketed(spark, countsTable, counts, Seq("id"),
            numBuckets, Expect.Pinned(countsPin))
          val (_, mv) = store.commit(spark, metaTable,
            Seq(ev).toDF("edges_version"), Expect.New)
          return (store.read(spark, countsTable), mv)
        } finally counts.unpersist(false)
      } finally d.unpersist(false)
    }
    // every frame the fold derives from is PINNED to the snapshot it
    // was read at, and every commit CASes against its pin — two
    // concurrent folds both passing the staleness check below cannot
    // both land: the loser's FIRST commit (edges) throws
    // ConcurrentCommitException before anything double-counts, and
    // the caller re-invokes the fold over the winner's state (the
    // anti-join makes any overlap replay-safe). This is the st2
    // pinned-upsertBucketed discipline; a blanket withCommitRetries
    // would be WRONG here — the pinned closure can only lose again,
    // the retry must re-read and re-derive, i.e. re-enter the fold.
    val (metaDf, metaPin) = store.readPinned(spark, metaTable)
    val metaV = metaDf.head.getAs[Long]("edges_version")
    val curV = store.currentVersion(edgesTable).get
    if (metaV != curV)
      throw new IllegalStateException(
        s"triangle counts are stale: $metaTable records edges version " +
          s"$metaV but $edgesTable is at $curV — a fold crashed between " +
          "commits; delete the three tables and re-append the full edge " +
          "history to rebuild")
    val (storedAll, edgesPin) = store.readPinned(spark, edgesTable)
    val (countsDf, countsPin) = store.readPinned(spark, countsTable)
    val stored = storedAll.select("u", "v")
    val deltaNew = delta.join(stored, Seq("u", "v"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (deltaNew.limit(1).count() == 0)
        return (countsDf, store.pinVersion(metaPin).get)
      // stored adjacency + degrees: one scan of the edge artifact
      val adj = stored.select(col("u").as("n1"), col("v").as("n2"))
        .unionByName(stored.select(col("v").as("n1"), col("u").as("n2")))
      val deg = adj.groupBy(col("n1").as("id"))
        .agg(count(lit(1)).as("deg"))
      // case 1: one new edge, two stored — expand from the
      // lower-(deg, id) endpoint (endpoints new to the graph have
      // stored degree 0 and expand to nothing)
      val dWithDeg = deltaNew
        .join(deg.select(col("id").as("u"), col("deg").as("du")),
          Seq("u"), "left")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")),
          Seq("v"), "left")
        .select(col("u"), col("v"), coalesce(col("du"), lit(0L)).as("du"),
          coalesce(col("dv"), lit(0L)).as("dv"))
      // u < v, so the equal-degree tie keeps u as the expansion side
      val loHi = dWithDeg.select(
        when(col("du") <= col("dv"),
          struct(col("u").as("lo"), col("v").as("hi")))
          .otherwise(struct(col("v").as("lo"), col("u").as("hi"))).as("e"))
        .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
      // a == hi is impossible: it would mean (lo, hi) is stored, and
      // deltaNew was anti-joined against the stored set
      val tri1 = loHi
        .join(adj, loHi("lo") === adj("n1"))
        .select(col("lo"), col("hi"), col("n2").as("a"))
        .join(stored.select(col("u").as("cu"), col("v").as("cv")),
          least(col("a"), col("hi")) === col("cu") &&
            greatest(col("a"), col("hi")) === col("cv"))
        .select(col("a"), col("lo").as("x"), col("hi").as("y"))
      // case 2: two new edges wedge at c, stored edge closes (w < w2
      // matches the stored canonical form directly)
      val dAdj = deltaNew.select(col("u").as("c"), col("v").as("w"))
        .unionByName(deltaNew.select(col("v").as("c"), col("u").as("w")))
      val tri2 = dAdj
        .join(dAdj.select(col("c"), col("w").as("w2")), Seq("c"))
        .filter(col("w") < col("w2"))
        .join(stored, col("w") === col("u") && col("w2") === col("v"))
        .select(col("c").as("a"), col("w").as("x"), col("w2").as("y"))
      // case 3: all three edges new — the S-V pass over the delta
      val tri3 = triangleTriples(deltaNew)
      // incr feeds the touched-id set AND the fold AND the counts
      // commit's two actions — unpinned, the whole three-case wedge
      // enumeration (several stored-edge scans deep) would re-run
      // per consumer (measured 27 s/fold at x1 before pinning; the
      // enumeration itself is ~2 s)
      val incr = tri1.unionByName(tri2).unionByName(tri3)
        .select(explode(array(col("a"), col("x"), col("y"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("inc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // touched = every id whose count changes or newly exists
        val deltaNodes = deltaNew.select(col("u").as("id"))
          .unionByName(deltaNew.select(col("v").as("id"))).distinct()
        val updated = incr.select("id").unionByName(deltaNodes).distinct()
          .join(countsDf, Seq("id"), "left")
          .join(incr, Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("n_triangles"), lit(0L)) +
              coalesce(col("inc"), lit(0L))).as("n_triangles"))
        // commit order IS the consistency protocol: edges, then the
        // touched counts, then the version marker (see scaladoc) —
        // each pinned to the snapshot this fold derived from
        val (_, ev) = store.upsertBucketed(spark, edgesTable, deltaNew,
          Seq("u", "v"), numBuckets, Expect.Pinned(edgesPin))
        store.upsertBucketed(spark, countsTable, updated, Seq("id"),
          numBuckets, Expect.Pinned(countsPin))
        val (_, mv) = store.commit(spark, metaTable,
          Seq(ev).toDF("edges_version"), Expect.Pinned(metaPin))
        (store.read(spark, countsTable), mv)
      } finally incr.unpersist(false)
    } finally deltaNew.unpersist(false)
  }

  /** The canonical directed edge frame every PageRank path derives
    * from: long-cast endpoints, nulls and self-loops dropped,
    * distinct. */
  private def canonicalDirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = edges
    .select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    .where(col("src").isNotNull && col("dst").isNotNull &&
      col("src") =!= col("dst"))
    .distinct()

  /** One damped power-iteration round — the recurrence both the
    * from-scratch and the warm-started paths share (the oracle
    * unrolls exactly this). */
  private def prStep(e: DataFrame, deg: DataFrame, nodes: DataFrame,
      n: Double, damping: Double, ranks: DataFrame): DataFrame = {
    val contrib = e.join(deg, "src")
      .join(ranks.withColumnRenamed("id", "src"), "src")
      .select(col("dst").as("id"), (col("r") / col("outdeg")).as("c"))
      .groupBy("id").agg(sum(col("c")).as("inc"))
    nodes.join(contrib, Seq("id"), "left")
      .select(col("id"),
        (lit((1.0 - damping) / n) +
          lit(damping) * coalesce(col("inc"), lit(0.0))).as("r"))
  }

  /** (id, r): damped PageRank after exactly `iterations` rounds. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      scratchDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val spark = edges.sparkSession

    // Staging detours through RDD[Row] persist + createDataFrame ON
    // PURPOSE: it truncates the logical plan per iteration, so each
    // staged frame plans as a flat LogicalRDD. The round-16
    // optimization pass A/B-tested plain DataFrame persist (columnar
    // cache, codegen intact across the boundary) and MEASURED it
    // slower here (g1 4→6 s, g4 11→13 s in the full battery): these
    // staged frames are narrow (id, r)/(src, dst) rows read a handful
    // of times, so the columnar encode+decode per cached block costs
    // more than the Row conversion it saves, and the growing
    // InMemoryRelation lineage re-plans per iteration. Deliberately
    // kept on the RDD detour — evidence over theory (guide §1.1).
    val staged = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    def stage(df: DataFrame): DataFrame = {
      val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      staged += rdd
      spark.createDataFrame(rdd, df.schema)
    }
    def freeAll(): Unit = staged.foreach(_.unpersist(blocking = false))

    try {
      // edges and out-degrees are read every iteration — stage once
      val e = stage(canonicalDirected(edges, srcCol, dstCol))
      val nodes = stage(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
      val deg = stage(e.groupBy("src")
        .agg(count(lit(1)).cast("double").as("outdeg")))
      val n = nodes.count().toDouble

      var ranks = nodes.select(col("id"), lit(1.0 / n).as("r"))
      for (_ <- 1 to iterations)
        ranks = stage(prStep(e, deg, nodes, n, damping, ranks))
      // default scratch is JVM-exit-cleaned (Scratch); long-running
      // callers pass scratchDir and reuse it per batch
      val dir = scratchDir.getOrElse(Scratch.tempDir("graft-pr-"))
      ranks.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    } finally freeAll()
  }

  /** INCREMENTAL PageRank under edge APPENDS — the
    * [[triangleCountsAppend]] store discipline applied to the
    * centrality artifact. Unlike triangle counts, ranks are a
    * FIXPOINT, not an additive quantity: what the fold reuses is the
    * previous solution as the STARTING VECTOR (power iteration
    * converges from any stochastic-ish start; a warm start near the
    * fixpoint needs far fewer rounds for the same residual — the
    * delta win the probe records). Three artifacts:
    *
    *  - `edgesTable` (src, dst): canonical directed edges,
    *    key-bucketed — each fold appends its genuinely-new edges as
    *    an O(delta) bucketed commit;
    *  - `ranksTable` (id, r): the full rank vector — a SNAPSHOT
    *    table, because every fold moves every rank (bucketing would
    *    buy nothing);
    *  - `metaTable` (edges_version, n_nodes, iters): the edges
    *    version the ranks derive from, the node count, and the
    *    number of rounds the fold actually ran (the convergence
    *    mode's observable — warm folds stopping in fewer rounds IS
    *    the incremental win), committed LAST.
    *
    * Warm start: surviving nodes take `r_old * (n_old / n_new)`
    * (mass rescaled for the grown teleport denominator), genuinely
    * new nodes take `1 / n_new`. Then exactly `iterations` damped
    * rounds over the unioned edge set — deterministic, so the g4
    * oracle can unroll the whole two-batch recurrence. Pass
    * `tol > 0` to instead stop at the first round whose L1 residual
    * ||r_k − r_{k−1}||₁ < tol (capped at `iterations` rounds) — the
    * production convergence mode; the per-round residual action is
    * only paid in this mode.
    *
    * Per-fold cost: power iteration is edge-mass-linear per round
    * (contributions flow along EVERY edge — that is the operator,
    * not an implementation artifact); the incremental win is
    * ROUNDS-side (warm start) and commit-side (O(delta) edge
    * append). Concurrency/crash discipline is
    * [[triangleCountsAppend]]'s verbatim: every commit CASes against
    * the snapshot this fold derived from, a torn meta/edges pair is
    * refused loudly with a rebuild instruction, and a replayed delta
    * anti-joins away (ranks then recompute from the same state —
    * idempotent). Returns the full (id, r) view after the fold. */
  def pageRankAppend(newEdges: DataFrame, srcCol: String, dstCol: String,
      store: ParquetTableStore, iterations: Int, damping: Double = 0.85,
      tol: Double = 0.0,
      edgesTable: String = "pr_edges", ranksTable: String = "pr_ranks",
      metaTable: String = "pr_meta", numBuckets: Int = 32): DataFrame =
    pageRankAppendVersioned(newEdges, srcCol, dstCol, store, iterations,
      damping, tol, edgesTable, ranksTable, metaTable, numBuckets)._1

  /** [[pageRankAppend]] returning ALSO the meta-table version THIS
    * fold committed (no-op delta: the pinned version its result
    * corresponds to) — see [[triangleCountsAppendVersioned]] for the
    * group-commit discipline this serves. */
  def pageRankAppendVersioned(newEdges: DataFrame, srcCol: String,
      dstCol: String,
      store: ParquetTableStore, iterations: Int, damping: Double = 0.85,
      tol: Double = 0.0,
      edgesTable: String = "pr_edges", ranksTable: String = "pr_ranks",
      metaTable: String = "pr_meta",
      numBuckets: Int = 32): (DataFrame, Long) = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(tol >= 0.0, "tol must be >= 0")
    val spark = newEdges.sparkSession
    import spark.implicits._
    val have = Seq(edgesTable, ranksTable, metaTable).map(store.exists)
    if (have.exists(identity) && !have.forall(identity))
      throw new IllegalStateException(
        s"pagerank artifacts are torn (present: " +
          Seq(edgesTable, ranksTable, metaTable).zip(have)
            .collect { case (t, true) => t }.mkString(", ") +
          ") — a build crashed between commits; delete the three " +
          "tables and re-append the full edge history to rebuild")
    // the RDD-detour staging is deliberate — see [[pageRank]]'s
    // staging note (A/B-measured faster than DataFrame persist here).
    val staged = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    def stage(df: DataFrame): DataFrame = {
      val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      staged += rdd
      spark.createDataFrame(rdd, df.schema)
    }
    def freeAll(): Unit = staged.foreach(_.unpersist(blocking = false))
    // the shared damped loop: exactly `iterations` rounds, or (tol >
    // 0) the first round whose L1 residual dips below tol — returns
    // the final staged vector and the rounds actually run
    def runLoop(e: DataFrame, nodes: DataFrame, deg: DataFrame,
        n: Long, init: DataFrame): (DataFrame, Int) = {
      var ranks = stage(init)
      var it = 0
      var converged = false
      while (it < iterations && !converged) {
        val prev = ranks
        ranks = stage(prStep(e, deg, nodes, n.toDouble, damping, prev))
        it += 1
        if (tol > 0.0) {
          val resid = ranks.join(prev.withColumnRenamed("r", "r0"), "id")
            .agg(sum(abs(col("r") - col("r0")))).head.getDouble(0)
          converged = resid < tol
        }
      }
      (ranks, it)
    }
    try {
      if (!have.head) {
        // first batch: from-scratch build (uniform start, the same
        // loop) with absence-pinned creates — a racing first build
        // loses its CAS cleanly
        val d = stage(canonicalDirected(newEdges, srcCol, dstCol))
        val nodes = stage(d.select(col("src").as("id"))
          .unionByName(d.select(col("dst").as("id"))).distinct())
        val deg = stage(d.groupBy("src")
          .agg(count(lit(1)).cast("double").as("outdeg")))
        val n = nodes.count()
        val (ranks, it) = runLoop(d, nodes, deg, n,
          nodes.select(col("id"), lit(1.0 / n).as("r")))
        val (_, edgesPin) = store.readPinnedOption(spark, edgesTable)
        val (_, ranksPin) = store.readPinnedOption(spark, ranksTable)
        val (_, ev) = store.upsertBucketed(spark, edgesTable, d,
          Seq("src", "dst"), numBuckets, Expect.Pinned(edgesPin))
        store.commit(spark, ranksTable, ranks, Expect.Pinned(ranksPin))
        val (_, mv) = store.commit(spark, metaTable,
          Seq((ev, n, it)).toDF("edges_version", "n_nodes", "iters"),
          Expect.New)
        return (store.read(spark, ranksTable), mv)
      }
      val (metaDf, metaPin) = store.readPinned(spark, metaTable)
      val metaRow = metaDf.head
      val metaV = metaRow.getAs[Long]("edges_version")
      val nOld = metaRow.getAs[Long]("n_nodes")
      val curV = store.currentVersion(edgesTable).get
      if (metaV != curV)
        throw new IllegalStateException(
          s"pagerank ranks are stale: $metaTable records edges version " +
            s"$metaV but $edgesTable is at $curV — a fold crashed " +
            "between commits; delete the three tables and re-append " +
            "the full edge history to rebuild")
      val (storedAll, edgesPin) = store.readPinned(spark, edgesTable)
      val (ranksOld, ranksPin) = store.readPinned(spark, ranksTable)
      val stored = storedAll.select("src", "dst")
      val deltaNew = stage(canonicalDirected(newEdges, srcCol, dstCol)
        .join(stored, Seq("src", "dst"), "left_anti"))
      if (deltaNew.limit(1).count() == 0)
        return (ranksOld, store.pinVersion(metaPin).get)
      val e = stage(stored.unionByName(deltaNew))
      val nodes = stage(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
      val deg = stage(e.groupBy("src")
        .agg(count(lit(1)).cast("double").as("outdeg")))
      val n = nodes.count()
      val scale = nOld.toDouble / n.toDouble
      val (ranks, it) = runLoop(e, nodes, deg, n,
        nodes.join(ranksOld, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("r") * lit(scale), lit(1.0 / n)).as("r")))
      val (_, ev) = store.upsertBucketed(spark, edgesTable, deltaNew,
        Seq("src", "dst"), numBuckets, Expect.Pinned(edgesPin))
      store.commit(spark, ranksTable, ranks, Expect.Pinned(ranksPin))
      val (_, mv) = store.commit(spark, metaTable,
        Seq((ev, n, it)).toDF("edges_version", "n_nodes", "iters"),
        Expect.Pinned(metaPin))
      (store.read(spark, ranksTable), mv)
    } finally freeAll()
  }
}
