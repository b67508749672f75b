package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the baseline and the
  *    recall oracle. Cross-join shaped; correct answer, O(|Q|·|C|).
  *    Fine when |Q| is small (the common "query batch" case) because
  *    the candidate side streams through a broadcast of the queries;
  *    never materializes the full product (TakeOrdered per query via
  *    window over rank).
  *  - [[lshTopK]]: random-hyperplane LSH — sign-bit bucket join, then
  *    exact cosine only within matching buckets. The scale path: the
  *    shuffle is keyed by bucket, the pair count collapses from
  *    |Q|·|C| to the bucket collision mass. Hyperplanes are
  *    deterministic pseudo-random vectors derived from the portable
  *    hash so results are reproducible across engines and runs.
  *  - [[ivfTopK]]: the IVF variant — the bucket key is a coarse
  *    centroid cell ([[Ivf]]'s deterministic sample codebook). The
  *    corpus indexes ONCE (one cell per vector); each query probes
  *    its `probes` nearest cells; exact cosine ranks the probed
  *    members. probes/numCentroids is the recall-vs-cost dial:
  *    candidate mass per query ≈ probes·|C|/numCentroids.
  */
object SimilaritySearch {

  /** ID-NAMESPACE CONTRACT shared by every engine here: query ids
    * and corpus ids are assumed to live in ONE namespace, so
    * query_id = neighbor_id means "the same item" and the self-match
    * is excluded before ranking. Callers whose queries come from an
    * UNRELATED namespace (both numbered 0..N) must either remap
    * query ids into a disjoint range (the d20/CLI practice: negative
    * or offset ids) or pass excludeSelfPairs = false — otherwise an
    * id-colliding true neighbor is silently dropped, and recallAtK
    * cannot catch it because the exact baseline applies the same
    * exclusion. */
  private def dropSelfPairs(df: DataFrame, exclude: Boolean): DataFrame =
    if (exclude) df.filter(col("query_id") =!= col("neighbor_id")) else df

  /** The shared top-k tail every engine ends in: rank per query by
    * `scoreCol` (desc for similarities, asc for distances),
    * deterministic tie-break on neighbor_id, keep rank ≤ k. rank ≤ k
    * over row_number plans as WindowGroupLimit — no full sort of the
    * scored frame. */
  private def rankTopK(scored: DataFrame, scoreCol: String, k: Int,
      asc: Boolean = false): DataFrame = {
    val ord = if (asc) col(scoreCol).asc else col(scoreCol).desc
    val w = Window.partitionBy(col("query_id"))
      .orderBy(ord, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", scoreCol)
  }

  /** The shared verify side: candidate (query_id, neighbor_id) pairs
    * re-attach vectors — the query side by a stats-driven join (query
    * batches are small by contract → AQE broadcasts), the corpus side
    * by a pinned SHUFFLE_HASH join (never a corpus broadcast) — then
    * exact cosine. */
  private def cosineScored(cand: DataFrame, queries: DataFrame,
      candidates: DataFrame, idCol: String, vecCol: String): DataFrame =
    cand
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        "query_id")
      .join(candidates
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
        .hint("shuffle_hash"), "neighbor_id")
      .withColumn("cos",
        graft.plans.VectorKernels.cosineSim(col("q_vec"), col("c_vec")))

  /** Deterministic per-key candidate cap: first `cap` rows per key by
    * neighbor_id — bounds a hot cell/bucket (the classic skew
    * failure) so one collision can't go quadratic. */
  private def capPerKey(df: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("neighbor_id").asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap).drop("__rn")
  }

  /** Corpus cell membership, cellCap-bounded: ONE probes=1 assignment
    * pass against the shared codebook, then the per-cell cap — the
    * index-build half every IVF variant shares. */
  private def cappedMembers(corpus: DataFrame, idCol: String,
      vecCol: String, codebook: Ivf.Codebook, cellCap: Int): DataFrame =
    capPerKey(
      Ivf.assignmentsWithCodebook(corpus, idCol, vecCol, codebook,
        probes = 1)
        .select(col("id").as("neighbor_id"), col("centroid_id")),
      Seq("centroid_id"), cellCap)

  /** Exact top-k neighbors per query by cosine (desc), deterministic
    * tie-break on neighbor id. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelfPairs: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = q.crossJoin(c)
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .withColumn("cos", graft.plans.VectorKernels.cosineSim(col("q_vec"), col("c_vec")))
    rankTopK(scored, "cos", k)
  }

  /** One bucket long per table: table t's key packs the sign bits of
    * planes t*planes..t*planes+planes-1 against deterministic
    * pseudo-random hyperplanes (global plane gp's component i =
    * portableHash64("gp:i") / 2^60 - 0.5 — reproducible across
    * engines, which is what lets the SQL oracle replicate the
    * algorithm via md5). Round 4 moved the evaluation into the native
    * [[graft.plans.LshPlaneBuckets]] kernel: the composed form was
    * tables×planes interpreted `aggregate(zip_with(...))` dots per
    * row — the last interpreted-HOF hot path in the catalog — and the
    * kernel is bit-identical to it (LshKernelsSpec). */
  private def tableBuckets(vec: org.apache.spark.sql.Column,
      planes: Int, tables: Int, dim: Int) =
    graft.plans.LshKernels.lshPlaneBuckets(vec, planes, tables, dim)

  /** LSH ANN with an OR-construction over `tables` independent hash
    * tables of `planes` sign bits each: a pair is a candidate if it
    * collides in ANY table (recall 1-(1-s^planes)^tables), then exact
    * cosine + top-k over the union.
    *
    * Scale shape: candidate generation carries IDS ONLY through the
    * (table, bucket) equi-join; vectors are re-attached afterwards —
    * the query side by a stats-driven join (query batches are small →
    * broadcast), the corpus side by a pinned SHUFFLE_HASH join (never
    * a corpus broadcast). `bucketCap` bounds the per-(table, bucket)
    * candidate list (deterministic: first `cap` by id), so one hot
    * bucket — the classic LSH skew failure — cannot go quadratic;
    * capped + AQE skew-split this survives a 100× corpus. The default
    * cap is FINITE so the naive call gets the scale-safe plan; pass
    * `Int.MaxValue` to opt out explicitly.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 8,
      tables: Int = 4, bucketCap: Int = 10000,
      dim: Int = 64, excludeSelfPairs: Boolean = true): DataFrame = {
    def exploded(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
        posexplode(tableBuckets(col(vecCol), planes, tables, dim)))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "bucket")
    val qb = exploded(queries, "query_id")
    val cbAll = exploded(candidates, "neighbor_id")
    val cb =
      if (bucketCap == Int.MaxValue) cbAll
      else capPerKey(cbAll, Seq("tbl", "bucket"), bucketCap)
    val pairs = qb.join(cb, Seq("tbl", "bucket"))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select("query_id", "neighbor_id").distinct()
    rankTopK(cosineScored(pairs, queries, candidates, idCol, vecCol),
      "cos", k)
  }

  /** IVF ANN top-k: corpus assigned once to its nearest coarse cell
    * (sample codebook — deterministic, oracle-replicable); queries
    * probe their `probes` nearest cells OF THE SAME codebook (a
    * driver value: k·dim doubles, small by construction); candidates
    * are the probed cells' members (ids only, `cellCap`-bounded per
    * cell), then exact cosine + top-k.
    *
    * Scale shape mirrors [[lshTopK]]: the candidate join is keyed by
    * centroid_id carrying ids only; the query side re-attaches by a
    * stats-driven join (small by contract), the corpus side by a
    * pinned SHUFFLE_HASH join — never a corpus broadcast. At 100 TB
    * the knobs follow the dedup discipline: numCentroids ~ sqrt(|C|)
    * keeps per-cell population flat, cellCap bounds a skewed cell. */
  /** IVF ANN over an int8-QUANTIZED corpus — what a 100 TB vector
    * deployment actually runs: the corpus is stored/shuffled as
    * (q8: binary, scale: double) — dim + 8 bytes per vector instead
    * of dim·8 ([[graft.plans.Q8Kernels]]) — and every vector-valued
    * step dequantizes on the fly with the pinned ss4 arithmetic
    * (q_i·scale in double), so the whole pipeline is deterministic
    * and oracle-replicable.
    *
    * Structure mirrors [[ivfTopK]] with the corpus swapped for its
    * dequantized view: codebook + corpus cell assignment come from
    * dequantized vectors (index-build-time compute, one linear
    * assignment pass); queries arrive UNQUANTIZED (the live-query
    * deployment shape) and probe the dequantized codebook; final
    * scoring is exact cosine of raw query vs dequantized candidate.
    * The corpus-side re-attach — the largest exchange of the query —
    * carries only (neighbor_id, q8, scale) through the pinned
    * SHUFFLE_HASH join; the 8× narrower rows are the point of this
    * operator. Recall vs the float path is bounded by the ss4
    * fidelity (≈0.999 cosine on the gate corpus); the
    * quantized-recall spec pins top-k agreement empirically. */
  def quantizedIvfTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, numCentroids: Int,
      probes: Int = 4, cellCap: Int = 10000,
      excludeSelfPairs: Boolean = true): DataFrame = {
    import graft.plans.Q8Kernels
    val comp = candidates
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"))
      .withColumn("__scale", VectorCompression.int8Scale(col("__v")))
      .select(col("neighbor_id"),
        Q8Kernels.packInt8(
          VectorCompression.quantizeInt8(col("__v"), col("__scale"))).as("__q8"),
        col("__scale"))
    val dq = comp.select(col("neighbor_id").as("id"),
      Q8Kernels.dequantizeQ8(col("__q8"), col("__scale")).as("vec"))
    val codebook = Ivf.sampleCodebook(dq, "id", "vec", numCentroids)
    val capped = cappedMembers(dq, "id", "vec", codebook, cellCap)
    val queryAssign = Ivf.assignmentsWithCodebook(queries, idCol, vecCol,
      codebook, probes)
      .select(col("id").as("query_id"), col("centroid_id"))
    val cand = queryAssign.join(capped, Seq("centroid_id"))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select("query_id", "neighbor_id").distinct()
    // the verify re-attach carries (q8, scale) — 8× narrower than the
    // float form cosineScored joins — and dequantizes in the score
    val scored = cand
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        "query_id")
      .join(comp.hint("shuffle_hash"), "neighbor_id")
      .withColumn("cos", graft.plans.VectorKernels.cosineSim(col("q_vec"),
        Q8Kernels.dequantizeQ8(col("__q8"), col("__scale"))))
    rankTopK(scored, "cos", k)
  }

  def ivfTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, numCentroids: Int,
      probes: Int = 4, cellCap: Int = 10000,
      excludeSelfPairs: Boolean = true): DataFrame = {
    // ONE codebook derivation (k·dim doubles to the driver — the
    // documented Ivf contract, numeric ids required), shared by both
    // assignment sides; deriving the corpus side in-plan as well
    // would re-run the orderBy+limit codebook subplan a second time
    val codebook = Ivf.sampleCodebook(candidates, idCol, vecCol, numCentroids)
    val capped = cappedMembers(candidates, idCol, vecCol, codebook, cellCap)
    val queryAssign = Ivf.assignmentsWithCodebook(queries, idCol, vecCol,
      codebook, probes)
      .select(col("id").as("query_id"), col("centroid_id"))
    val cand = queryAssign.join(capped, Seq("centroid_id"))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select("query_id", "neighbor_id").distinct()
    rankTopK(cosineScored(cand, queries, candidates, idCol, vecCol),
      "cos", k)
  }

  /** PERSISTENT IVF index: build once, probe per batch — the
    * vector-search twin of the d10 stored LSH index. The index is
    * two plain DataFrames a table store versions like any other
    * artifact: the sample codebook (`numCentroids` rows of
    * (cid, cvec)) and the cellCap-capped member list
    * (centroid_id, neighbor_id). Building pays the one corpus
    * assignment pass; every later batch probes without it. */
  def ivfIndexFrames(candidates: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, cellCap: Int = 10000): (DataFrame, DataFrame) = {
    val codebookDf = candidates
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
      .orderBy("cid").limit(numCentroids)
    // ONE codebook derivation: the driver copy comes from the SAME
    // frame the store persists (probeStoredIvf's read shape), so the
    // stored artifact and the member assignments can never silently
    // desynchronize through a future edit to Ivf.sampleCodebook
    val codebook: Ivf.Codebook = codebookDf.collect()
      .map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()).toIndexedSeq))
      .toIndexedSeq
    (codebookDf,
      cappedMembers(candidates, idCol, vecCol, codebook, cellCap))
  }

  /** Probe a STORED IVF index ([[ivfIndexFrames]], round-tripped
    * through any table store) with a query batch: re-derive the
    * driver codebook from the stored frame (k·dim — the documented
    * [[Ivf]] driver contract), assign ONLY the batch, join the
    * stored member list, exact-cosine rank. Nothing corpus-sized is
    * re-assigned or broadcast at probe time — the corpus appears
    * only as the pinned SHUFFLE_HASH vector re-attach, exactly
    * [[ivfTopK]]'s verify side. With the same codebook, caps, and
    * probes, results are IDENTICAL to the in-memory [[ivfTopK]]
    * (spec-pinned). */
  def probeStoredIvf(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, codebookDf: DataFrame,
      members: DataFrame, k: Int, probes: Int = 4,
      excludeSelfPairs: Boolean = true): DataFrame = {
    val codebook: Ivf.Codebook = codebookDf
      .select(col("cid"), col("cvec"))
      .orderBy("cid").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()).toIndexedSeq))
      .toIndexedSeq
    val queryAssign = Ivf.assignmentsWithCodebook(queries, idCol, vecCol,
      codebook, probes)
      .select(col("id").as("query_id"), col("centroid_id"))
    val cand = queryAssign
      .join(members.select(col("centroid_id"), col("neighbor_id")),
        Seq("centroid_id"))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select("query_id", "neighbor_id").distinct()
    rankTopK(cosineScored(cand, queries, candidates, idCol, vecCol),
      "cos", k)
  }

  /** Cell membership against an EXPLICIT codebook frame — the index
    * build for a TRAINED codebook ([[Ivf.kmeansTrain]]'s centroids,
    * or any (cid, cvec) frame): the production train → index → probe
    * path, where [[ivfIndexFrames]]'s deterministic sample is
    * replaced by the Lloyd-refined geometry (better cell balance,
    * same probe contract). The returned members pair with the
    * codebook frame itself for [[probeStoredIvf]]. */
  def ivfIndexFramesWith(candidates: DataFrame, idCol: String,
      vecCol: String, codebookDf: DataFrame,
      cellCap: Int = 10000): DataFrame =
    cappedMembers(candidates, idCol, vecCol, codebookOf(codebookDf),
      cellCap)

  /** Driver codebook from a stored codebook frame — the shared read
    * half of the mutable stored-index paths. */
  private def codebookOf(codebookDf: DataFrame): Ivf.Codebook = codebookDf
    .select(col("cid"), col("cvec")).orderBy("cid").collect()
    .map(r => (r.getLong(0),
      r.getSeq[Number](1).map(_.doubleValue()).toIndexedSeq))
    .toIndexedSeq

  // ————— MUTABLE STORED INDEXES: one store group per family —————

  /** A stored index written before its families became store groups
    * (meta tables, no family marker). Such a store is never read or
    * repaired in place: rebuild it with [[ivfBuildIndexStored]] /
    * [[pqBuildIndexStored]]. */
  final class IndexFormatException(msg: String)
      extends IllegalStateException(msg)

  /** Whether the stored index family `group` is built, i.e. its group
    * marker is committed. The marker carries the name the family's
    * meta table had before the index became a store group, so a TABLE
    * under that name with no marker is a store in that layout: it is
    * refused typed, never read and never rebuilt from one ingest
    * batch. A family whose first build crashed before its marker swap
    * is simply not built, and the build re-runs. */
  def storedIndexBuilt(store: ParquetTableStore, group: String): Boolean =
    store.groupVersions(group).isDefined || {
      if (store.exists(group))
        throw new IndexFormatException(s"stored index $group predates " +
          "index groups (a meta table, no group marker) — rebuild the index")
      false
    }

  private def requireBuilt(store: ParquetTableStore, group: String,
      who: String): Unit =
    require(storedIndexBuilt(store, group),
      s"$who: index $group not built — build it first")

  /** One mutable stored index family: a codebook, a bucketed row
    * table keyed per vector by (`neighbor_id`, generation `gen`) —
    * IVF cell members or PQ codes — and a tombstone table
    * (neighbor_id, dead_below), published together by ONE group
    * marker ([[ParquetTableStore.commitGroup]]).
    *
    * Every writer takes the marker pin first, derives from the
    * versions it names, makes its per-table commits, and ends with
    * one marker swap; readers resolve the marker
    * ([[ParquetTableStore.readGroup]]). A torn family is therefore
    * never observable: until the swap, every reader sees the previous
    * marker's complete snapshot, whatever a crashed writer left at the
    * table heads. Mutations on one index must be externally serialized
    * (the bm25 contract); the marker CAS turns a violation into a
    * [[ConcurrentCommitException]] instead of a silent overwrite. */
  private final case class Family(group: String, codebook: String,
      rows: String, tombstones: String, keys: Seq[String],
      sortWithin: Seq[String], columns: Seq[String]) {
    def tables: Seq[String] = Seq(codebook, rows, tombstones)
  }

  private def ivfFamily(group: String, codebook: String, members: String,
      tombstones: String): Family = Family(group, codebook, members,
    tombstones, Seq("centroid_id"), Seq("centroid_id", "neighbor_id"),
    Seq("centroid_id", "neighbor_id", "gen"))

  private def pqFamily(group: String, codebook: String, codes: String,
      tombstones: String): Family = Family(group, codebook, codes,
    tombstones, Seq("neighbor_id"), Seq("neighbor_id"),
    Seq("neighbor_id", "codes", "gen"))

  /** Rows whose generation no tombstone marks dead — one
    * tombstone-sized broadcast. */
  private def liveRows(rows: DataFrame, tombstones: DataFrame): DataFrame =
    rows
      .join(broadcast(
        tombstones.select(col("neighbor_id"), col("dead_below"))),
        Seq("neighbor_id"), "left")
      .filter(col("dead_below").isNull ||
        coalesce(col("gen"), lit(0L)) >= col("dead_below"))
      .drop("dead_below")

  /** Writes on one family are serialized, so a staged or above-head
    * dir on a member table is a crashed writer's leftover: sweep it
    * before committing, or its version number would become ambiguous
    * to the marker's time-travel reads. */
  private def sweepCrashed(store: ParquetTableStore, f: Family): Unit =
    f.tables.foreach(store.gc(_, olderThanMs = 0L))

  /** (Re)build family `f`: the codebook, the rows derived from the
    * COMMITTED codebook frame (the [[ivfIndexFrames]] single-
    * derivation rule), an empty tombstone table, one marker swap. Every commit is
    * replace-style, so a build over any state — a crashed mutation, a
    * crashed build, a store in the pre-group layout (whose meta table
    * is dropped once the marker lands) — yields a fresh index. */
  private def buildFamily(store: ParquetTableStore, f: Family,
      codebookDf: DataFrame, numBuckets: Int)(
      rowsOf: DataFrame => DataFrame): Unit = {
    val spark = codebookDf.sparkSession
    import spark.implicits._
    val pin = store.groupPin(f.group)
    sweepCrashed(store, f)
    val (cb, cv) = store.withCommitRetries()(
      store.commit(spark, f.codebook, codebookDf))
    store.withCommitRetries()(store.replaceBucketed(spark, f.rows,
      rowsOf(cb), f.keys, numBuckets, f.sortWithin))
    val (_, tv) = store.withCommitRetries()(store.commit(spark,
      f.tombstones, Seq.empty[(Long, Long)].toDF("neighbor_id", "dead_below")))
    store.commitGroup(Map(f.codebook -> cv,
      f.rows -> store.currentVersion(f.rows).get, f.tombstones -> tv), pin)
    if (store.exists(f.group)) store.dropTable(f.group)
  }

  /** The marker pin a mutation of family `f` derives from. A member
    * head ahead of the marker is a crashed mutation's leftover,
    * invisible to readers: the family is first rewritten from the
    * marker snapshot ([[compactFamily]]), so a fold never builds on
    * half-applied commits. */
  private def pinForMutation(spark: SparkSession, store: ParquetTableStore,
      f: Family, who: String): GroupPin = {
    requireBuilt(store, f.group, who)
    sweepCrashed(store, f)
    val pin = store.groupPin(f.group)
    if (f.tables.forall(t => store.currentVersion(t) == pin.versions.get(t)))
      pin
    else {
      compactFamily(spark, store, f, pin)
      store.groupPin(f.group)
    }
  }

  /** Rewrite family `f` from the snapshot its marker `pin` names: live
    * rows re-written (dead generations dropped, live generations
    * PRESERVED so a replayed reindex stays idempotent), tombstones
    * cleared, the codebook re-committed at the marker's version if its
    * head moved — then one marker swap. What already matches the
    * marker is skipped, so compacting a clean index commits nothing.
    * No crash shape is visible through the marker, so this repairs
    * every one of them, a crashed rebuild included. */
  private def compactFamily(spark: SparkSession, store: ParquetTableStore,
      f: Family, pin: GroupPin): Unit = {
    val v = pin.versions
    def atMarker(t: String): Boolean = store.currentVersion(t).contains(v(t))
    val tomb = store.readVersion(spark, f.tombstones, v(f.tombstones))
    val clean = tomb.isEmpty
    if (!clean || !f.tables.forall(atMarker)) {
      val cv =
        if (atMarker(f.codebook)) v(f.codebook)
        else store.withCommitRetries()(store.commit(spark, f.codebook,
          store.readVersion(spark, f.codebook, v(f.codebook))))._2
      if (!clean || !atMarker(f.rows))
        store.withCommitRetries()(store.replaceBucketed(spark, f.rows,
          liveRows(store.readVersion(spark, f.rows, v(f.rows)), tomb)
            .select(f.columns.map(col): _*),
          f.keys, store.numBuckets(f.rows).get, f.sortWithin))
      val tv =
        if (clean && atMarker(f.tombstones)) v(f.tombstones)
        else store.withCommitRetries()(
          store.commit(spark, f.tombstones, tomb.limit(0)))._2
      store.commitGroup(Map(f.codebook -> cv,
        f.rows -> store.currentVersion(f.rows).get, f.tombstones -> tv), pin)
    }
  }

  /** Fold `changed` into family `f` — the delete-and-re-append path:
    * fresh rows (`encode` of the changed vectors against the marker's
    * codebook frame, carrying `neighbor_id` and the payload columns)
    * append insert-only under a bumped per-id GENERATION, a tombstone
    * marks every prior generation of those ids dead, and one marker
    * swap publishes both. One rows scan derives the generations (the
    * ts28 honest price of an id-keyed lookup); everything else is
    * delta-sized. */
  private def reindexFamily(changed: DataFrame, idCol: String,
      store: ParquetTableStore, f: Family, who: String)(
      encode: DataFrame => DataFrame): Unit = {
    val spark = changed.sparkSession
    val nDup = changed.select(col(idCol).as("id")).groupBy("id")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).limit(1).count()
    require(nDup == 0,
      s"$who: changed carries duplicate $idCol values — dedup the delta " +
        "first")
    val pin = pinForMutation(spark, store, f, who)
    val v = pin.versions
    val ids = changed.select(col(idCol).cast("long").as("neighbor_id"))
    // generations derive from EVERY row of the changed ids (dead
    // included — the ts28 resurrect rule). PINNED: the frame feeds
    // the rows append, the tombstone-emptiness check and the
    // tombstone upsert, and the rows scan behind it is the fold's one
    // corpus-sized cost (the g3 lesson)
    val gens = store.readVersion(spark, f.rows, v(f.rows))
      .join(ids, Seq("neighbor_id"), "left_semi")
      .groupBy("neighbor_id")
      .agg((max(coalesce(col("gen"), lit(0L))) + 1L).as("gen"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = encode(store.readVersion(spark, f.codebook, v(f.codebook)))
        .join(gens, Seq("neighbor_id"), "left")
        .withColumn("gen", coalesce(col("gen"), lit(0L)))
        .select(f.columns.map(col): _*)
      store.withCommitRetries()(store.appendBucketed(spark, f.rows, fresh,
        f.keys, sortWithin = f.sortWithin))
      val deadMarks = gens.select(col("neighbor_id").cast("long"),
        col("gen").as("dead_below"))
      val tv =
        if (deadMarks.limit(1).count() == 0) v(f.tombstones)
        else {
          store.withCommitRetries()(store.upsert(spark, f.tombstones,
            deadMarks, Seq("neighbor_id")))
          store.currentVersion(f.tombstones).get
        }
      store.commitGroup(Map(f.codebook -> v(f.codebook),
        f.rows -> store.currentVersion(f.rows).get, f.tombstones -> tv), pin)
    } finally gens.unpersist(blocking = false)
  }

  /** Build the MUTABLE stored IVF index — the ts28 log-structured
    * discipline ([[graft.ops.TextAnalysis.bm25ReindexDocs]]) applied
    * to the vector family, closing the gap where
    * [[ivfIndexFrames]]/[[probeStoredIvf]] are append-only and one
    * changed embedding forces a full rebuild. One store group
    * (`group`, see [[Family]]) over three tables:
    *
    *  - `codebookTable` (cid, cvec): the deterministic sample
    *    codebook, fixed at build — reindexing vectors never retrains
    *    it (cell geometry must stay comparable across mutations;
    *    retraining is a rebuild);
    *  - `membersTable` (centroid_id, neighbor_id, gen): UNCAPPED
    *    cell membership, bucketed by centroid_id so a probe opens
    *    only its touched cells' bucket dirs. The per-cell cap is
    *    applied AT PROBE TIME over the live rows — that is what
    *    keeps probe ≡ rebuild exact under mutation (a stored cap
    *    could not be maintained incrementally without re-reading the
    *    cell);
    *  - `tombstoneTable` (neighbor_id, dead_below): generations
    *    below the mark are dead (the reindex shape); a build commits
    *    it empty.
    *
    * The marker names all three versions, so a probe never assigns
    * queries against one codebook while matching members built under
    * another, and a rebuild over an existing index needs no
    * invalidation step: until its marker swap, probes answer from the
    * previous index.
    *
    * Assignment is per-id independent (probes = 1 nearest centroid
    * against the fixed codebook), so incremental reassignment of
    * only the changed ids reproduces EXACTLY the membership a full
    * rebuild over the mutated corpus would compute — the identity
    * gate ss17 pins probe ≡ rebuild bit-exactly. */
  def ivfBuildIndexStored(corpus: DataFrame, idCol: String, vecCol: String,
      store: ParquetTableStore, numCentroids: Int,
      codebookTable: String = "ivf_codebook",
      membersTable: String = "ivf_members",
      group: String = "ivf_meta",
      tombstoneTable: String = "ivf_tombstones",
      numBuckets: Int = 32): Unit =
    buildFamily(store,
      ivfFamily(group, codebookTable, membersTable, tombstoneTable),
      corpus.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
        .orderBy("cid").limit(numCentroids), numBuckets) { cb =>
      Ivf.assignmentsWithCodebook(corpus, idCol, vecCol, codebookOf(cb),
        probes = 1)
        .select(col("centroid_id"), col("id").as("neighbor_id"),
          lit(0L).as("gen"))
    }

  /** REINDEX CHANGED VECTORS in the stored IVF index: new cell
    * assignments against the marker's codebook append under a bumped
    * per-id generation, tombstones mark the prior generations dead,
    * one marker swap publishes both ([[reindexFamily]]). A crashed
    * earlier mutation is repaired from the marker snapshot first. */
  def ivfReindexVectors(changed: DataFrame, idCol: String, vecCol: String,
      store: ParquetTableStore,
      codebookTable: String = "ivf_codebook",
      membersTable: String = "ivf_members",
      tombstoneTable: String = "ivf_tombstones",
      group: String = "ivf_meta"): Unit =
    reindexFamily(changed, idCol, store,
      ivfFamily(group, codebookTable, membersTable, tombstoneTable),
      "ivfReindexVectors") { cb =>
      Ivf.assignmentsWithCodebook(changed, idCol, vecCol, codebookOf(cb),
        probes = 1)
        .select(col("centroid_id"), col("id").as("neighbor_id"))
    }

  /** COMPACT the mutable stored IVF index: rewrite the members the
    * marker names keeping only live generations, clear the
    * tombstones, swap the marker ([[compactFamily]]) — which also
    * repairs whatever a crashed build or mutation left at the heads. */
  def ivfCompactIndex(spark: SparkSession, store: ParquetTableStore,
      membersTable: String = "ivf_members",
      tombstoneTable: String = "ivf_tombstones",
      group: String = "ivf_meta",
      codebookTable: String = "ivf_codebook"): Unit = {
    val f = ivfFamily(group, codebookTable, membersTable, tombstoneTable)
    compactFamily(spark, store, f,
      pinForMutation(spark, store, f, "ivfCompactIndex"))
  }

  /** Probe the MUTABLE stored IVF index at its marker: assign ONLY the
    * query batch, open ONLY the touched cells' bucket dirs
    * ([[ParquetTableStore.readBucketsOf]] at the marker's members
    * version — directory-level pruning, the bm25TopKStored shape),
    * drop reindexed-away generations with one tombstone-sized
    * broadcast, apply the per-cell cap over the LIVE rows,
    * exact-cosine rank. `candidates` supplies the scoring vectors
    * (the caller's corpus table — pass the MUTATED corpus after a
    * reindex). Bit-identical to a from-scratch capped IVF probe over
    * the same corpus with the same build-time codebook. */
  def ivfTopKStored(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, store: ParquetTableStore, k: Int,
      probes: Int = 4, cellCap: Int = 10000,
      excludeSelfPairs: Boolean = true,
      codebookTable: String = "ivf_codebook",
      membersTable: String = "ivf_members",
      tombstoneTable: String = "ivf_tombstones",
      group: String = "ivf_meta"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    requireBuilt(store, group, "ivfTopKStored")
    val cand = ivfStoredCandidates(queries, idCol, vecCol, store, probes,
      cellCap, excludeSelfPairs, store.readGroup(queries.sparkSession, group),
      codebookTable, membersTable, tombstoneTable)
    rankTopK(cosineScored(cand, queries, candidates, idCol, vecCol),
      "cos", k)
  }

  /** The candidate-generation half of [[ivfTopKStored]] over a
    * resolved group snapshot `snap` (a family marker, or the pair
    * marker of [[ivfPqTopKStored]]): query assignment against the
    * snapshot's codebook, touched-cell bucket reads of its members
    * version, tombstone filter, live per-cell cap — returning
    * (query_id, neighbor_id) pairs for ANY scoring tail (exact
    * cosine, or [[ivfPqTopKStored]]'s stored-code ADC). */
  private def ivfStoredCandidates(queries: DataFrame, idCol: String,
      vecCol: String, store: ParquetTableStore, probes: Int,
      cellCap: Int, excludeSelfPairs: Boolean,
      snap: Map[String, (DataFrame, Long)], codebookTable: String,
      membersTable: String, tombstoneTable: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val codebook = codebookOf(snap(codebookTable)._1)
    val queryAssign = Ivf.assignmentsWithCodebook(queries, idCol, vecCol,
      codebook, probes)
      .select(col("id").as("query_id"), col("centroid_id"))
    // touched cells to the driver: ≤ |batch|·probes longs by contract
    val touched = queryAssign.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = store.readBucketsOf(spark, membersTable,
      touched.toDF("centroid_id"), snap(membersTable)._2)
    val live = liveRows(cells.filter(col("centroid_id").isin(touched: _*)),
      snap(tombstoneTable)._1)
    // per-cell cap over LIVE rows — the probe-time twin of
    // cappedMembers (see ivfBuildIndexStored's scaladoc)
    val capped = capPerKey(
      live.select(col("centroid_id"), col("neighbor_id")),
      Seq("centroid_id"), cellCap)
    queryAssign.join(capped, Seq("centroid_id"))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select("query_id", "neighbor_id").distinct()
  }

  /** AUTO PQ geometry from corpus stats — the band-miner/IVF
    * auto-sizing discipline applied to the remaining fixed vector
    * knobs (round-7 verdict item 8). Returns (m, ks):
    *  - m (subspace count): dim split into the widest subspaces of
    *    4-8 components that divide it evenly (the published PQ
    *    practice — narrower subspaces quantize finer but cost more
    *    code bytes and table lookups; degrade toward narrower
    *    divisors only for odd dims).
    *  - ks (per-subspace centroids): ~sqrt(n) rounded up to a power
    *    of two, clamped to [16, 256] — the codebook trains on an
    *    id-ordered corpus sample, so centroids beyond sample support
    *    overfit, and 256 keeps codes one byte (standard 8-bit PQ) —
    *    the cap binding at large n is the design, not a loss.
    * Pure arithmetic (no job): callers that already know n pass it;
    * [[pqAutoParams]] of a DataFrame is one columnar count away. */
  def pqAutoParams(n: Long, dim: Int): (Int, Int) = {
    require(dim >= 1, s"dim must be positive, got $dim")
    val subDim = (8 to 2 by -1).find(d => d <= dim && dim % d == 0).getOrElse(1)
    val sq = math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt
    val pow2 = if (sq <= 1) 1 else Integer.highestOneBit(sq - 1) << 1
    (dim / subDim, math.min(256, math.max(16, pow2)))
  }

  /** PRODUCT QUANTIZATION: the deterministic PQ codebook — m
    * sub-codebooks of ks centroids each, taken from the first `ks`
    * corpus vectors by id (the [[Ivf.sampleCodebook]] sample
    * discipline; k-means refinement plugs in at deployment).
    * Shape: (j)(c)(d) = subspace j, centroid c, component d.
    * ks·dim doubles to the driver — the documented small-codebook
    * contract. */
  def pqCodebook(candidates: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, dim: Int, iters: Int = 0,
      sampleN: Int = 4096): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val take = math.max(ks, if (iters > 0) sampleN else ks)
    val rows = candidates
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("v"))
      .orderBy("cid").limit(take).collect()
    require(rows.length >= ks, s"corpus has ${rows.length} < ks=$ks vectors")
    val full = rows.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val init = Array.tabulate(m, ks)((j, c) =>
      full(c).slice(j * subDim, (j + 1) * subDim))
    if (iters == 0) return init
    // per-subspace Lloyd refinement on the driver over the bounded
    // id-ordered sample (the standard PQ practice: codebooks train on
    // a corpus sample, ~1e5 vectors in production — deterministic
    // here: fixed point order, strict-< assignment ties to lower c,
    // empty cells keep their previous centroid)
    Array.tabulate(m) { j =>
      val pts = full.map(_.slice(j * subDim, (j + 1) * subDim))
      var cents = init(j)
      for (_ <- 1 to iters) {
        val sums = Array.fill(ks, subDim)(0.0)
        val counts = new Array[Long](ks)
        pts.foreach { p =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < ks) {
            var d = 0.0; var i = 0
            while (i < subDim) { val x = p(i) - cents(c)(i); d += x * x; i += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          var i = 0
          while (i < subDim) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(ks) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(subDim)(i => sums(c)(i) / counts(c))
        }
      }
      cents
    }
  }

  /** Squared L2 distance of a sub-slice of `vec` (0-based `start`,
    * length = cvals.length) against a literal centroid — unrolled
    * (element − lit)² terms summed LEFT TO RIGHT from 0.0, fully
    * codegen'd. The oracle regenerates the identical fold with
    * `list_reduce(list_prepend(0.0, …))`. */
  private def l2sqLit(vec: org.apache.spark.sql.Column, start: Int,
      cvals: Array[Double]): org.apache.spark.sql.Column =
    cvals.zipWithIndex.map { case (cv, d) =>
      val x = element_at(vec, start + d + 1).cast("double") - lit(cv)
      x * x
    }.foldLeft(lit(0.0))(_ + _)

  /** PQ ENCODE as a pure per-row Project: codes(j) = argmin over c of
    * the subspace-j squared L2, ties to the LOWER centroid id — the
    * oracle's `ORDER BY dist, c` twin. Runs as the native
    * [[graft.plans.PqKernels.PqEncode]] kernel (the unrolled literal
    * expression form generates >64 KB methods at production codebook
    * sizes and janino bails the stage to interpreted eval);
    * [[pqEncodeUnrolled]] keeps the expression form as the kernel's
    * bit-parity spec twin. Encoding rides the corpus scan with ZERO
    * exchange, which is what makes PQ build-time linear. */
  def pqEncodeExpr(vec: org.apache.spark.sql.Column,
      cb: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    graft.plans.PqKernels.pqEncode(vec, cb)

  /** The composed-expression twin of [[pqEncodeExpr]] — argmin via
    * `array_position(darr, array_min(darr))` (first index of the
    * minimum = lower centroid id on ties). Only for parity specs:
    * at real codebook sizes this form breaks whole-stage codegen. */
  private[graft] def pqEncodeUnrolled(vec: org.apache.spark.sql.Column,
      cb: Array[Array[Array[Double]]]): org.apache.spark.sql.Column = {
    val subDim = cb(0)(0).length
    val perJ = cb.zipWithIndex.map { case (cents, j) =>
      val darr = array(cents.map(cv => l2sqLit(vec, j * subDim, cv))
        .toIndexedSeq: _*)
      (array_position(darr, array_min(darr)) - 1).cast("int")
    }
    array(perJ.toIndexedSeq: _*)
  }

  /** PQ ANN with asymmetric distance computation (ADC) — the 100 TB
    * vector-MEMORY design: the corpus is carried as m small-int codes
    * per vector (m bytes packed) instead of dim floats, and search
    * never touches a corpus vector again.
    *
    *  - build: [[pqCodebook]] (ks·dim doubles) + [[pqEncodeExpr]]
    *    (zero-exchange Project over the corpus scan).
    *  - search: each query precomputes its m×ks table of subspace
    *    distances to every centroid (one unrolled Project on the
    *    |Q|-sized side), the query batch BROADCASTS against the
    *    streaming code column, and a candidate's distance is the
    *    j-ordered fold of m table lookups — per-row arithmetic, no
    *    shuffle until the top-k window (rank ≤ k plans as
    *    WindowGroupLimit).
    *
    * Approximation: distance error is bounded by the per-subspace
    * quantization error (recall pinned empirically by the spec via
    * [[recallAtK]]); determinism: every double op is an unrolled
    * +,−,× in pinned order — no ln/sqrt — so the oracle reproduces
    * `dist` BIT-exactly. |Q| small by contract (the [[bruteForceTopK]]
    * broadcast-batch shape). */
  def pqTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, ks: Int,
      dim: Int, iters: Int = 0,
      excludeSelfPairs: Boolean = true): DataFrame = {
    val cb = pqCodebook(candidates, idCol, vecCol, m, ks, dim, iters)
    val subDim = dim / m
    val codes = candidates
      .select(col(idCol).cast("long").as("neighbor_id"),
        pqEncodeExpr(col(vecCol), cb).as("codes"))
    // per-query ADC table, flattened to tbl[j*ks + c] (native kernel;
    // see pqEncodeExpr for why the unrolled form can't ship)
    val qt = queries
      .select(col(idCol).cast("long").as("query_id"),
        graft.plans.PqKernels.pqAdcTable(col(vecCol), cb).as("__tbl"))
    val scored = codes.crossJoin(broadcast(qt))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select(col("query_id"), col("neighbor_id"),
        adcDist(m, ks).as("dist"))
    rankTopK(scored, "dist", k, asc = true)
  }

  /** PQ SHORTLIST-AND-RERANK — how PQ actually deploys: [[pqTopK]]'s
    * ADC pass generates a `shortlist`-sized candidate set per query
    * from codes alone, then ONLY those `shortlist`·|Q| rows re-attach
    * their raw vectors (the pinned SHUFFLE_HASH re-join, the
    * [[quantizedIvfTopK]] discipline) for an exact squared-L2
    * rerank. Recall becomes recall@shortlist of ADC — much higher
    * than ADC@k — while the corpus itself is still never shuffled as
    * floats. Exact L2 uses the dot identity a·a − 2a·b + b·b over the
    * native codegen'd kernel, the form the oracle regenerates
    * textually. */
  def pqRerankTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int,
      m: Int, ks: Int, dim: Int, iters: Int = 0): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val short = pqTopK(queries, candidates, idCol, vecCol, shortlist,
      m, ks, dim, iters).select("query_id", "neighbor_id")
    import graft.plans.VectorKernels.dotProduct
    val scored = short
      .join(queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("q_vec")), "query_id")
      .join(candidates.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("c_vec")).hint("shuffle_hash"), "neighbor_id")
      .withColumn("l2", dotProduct(col("q_vec"), col("q_vec"))
        - lit(2.0) * dotProduct(col("q_vec"), col("c_vec"))
        + dotProduct(col("c_vec"), col("c_vec")))
    rankTopK(scored, "l2", k, asc = true)
  }

  /** Driver codebook from a stored PQ codebook frame ((j, c, cvec)
    * rows — m·ks of them, small by the PQ contract): the
    * [[codebookOf]] twin for the product-quantized family. The
    * geometry is the frame's own — m and ks from the slot ranges, dim
    * = m × the sub-vector width — so a probe never takes it from
    * caller arguments (the round-12 DSIR lesson: unrecorded knobs
    * drift silently). Refuses missing or duplicate (j, c) slots and
    * ragged sub-vectors — a torn or foreign artifact must never
    * silently encode. */
  private def pqCodebookOf(df: DataFrame): Array[Array[Array[Double]]] = {
    val rows = df.select(col("j"), col("c"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Number](2).map(_.doubleValue()).toArray))
    require(rows.nonEmpty, "stored PQ codebook is empty")
    val out = Array.ofDim[Array[Double]](rows.map(_._1).max + 1,
      rows.map(_._2).max + 1)
    rows.foreach { case (j, c, v) =>
      require(j >= 0 && c >= 0, s"stored PQ codebook slot ($j,$c) is negative")
      require(out(j)(c) == null, s"duplicate PQ codebook slot ($j,$c)")
      out(j)(c) = v
    }
    require(out.forall(_.forall(_ != null)), "stored PQ codebook is " +
      s"missing slots (expected ${out.length * out(0).length} rows)")
    require(rows.map(_._3.length).distinct.length == 1,
      "stored PQ codebook has ragged sub-vectors")
    out
  }

  /** The shared ADC distance fold: j-ordered sum of m table lookups
    * (`__tbl` flattened to tbl[j·ks + code + 1]) — pinned +-only
    * double arithmetic, bit-replicable by the oracle. */
  private def adcDist(m: Int, ks: Int): org.apache.spark.sql.Column =
    (0 until m).map { j =>
      element_at(col("__tbl"),
        lit(j * ks + 1) + element_at(col("codes"), j + 1))
    }.foldLeft(lit(0.0))(_ + _)

  /** Build the MUTABLE stored PQ index — the ss17 generation+
    * tombstone discipline applied to the DEPLOYMENT index (PQ codes
    * are the only corpus representation that shuffles at 100 TB: m
    * bytes per vector), closing the gap where [[pqTopK]]'s codes are
    * derived fresh per call and one changed embedding forced a full
    * re-encode. One store group (`group`, see [[Family]]) over three
    * tables:
    *
    *  - `codebookTable` (j, c, cvec): the m·ks sub-codebooks, fixed at
    *    build — the CODEBOOK-DRIFT CONTRACT: reindexing vectors
    *    re-encodes them against this frozen geometry and never
    *    retrains it (codes encoded under different codebooks are not
    *    comparable — one ADC table serves one codebook). When the
    *    corpus has drifted far enough that the frozen codebook's
    *    quantization error hurts recall, that is a REBUILD
    *    ([[pqBuildIndexStored]] again), not a reindex — the same
    *    rule as IVF cell geometry. The frame also carries the
    *    geometry (m, ks, dim), which every reader derives from it;
    *  - `codesTable` (neighbor_id, codes, gen): the encoded corpus,
    *    bucketed by neighbor_id so a delta re-encode appends/upserts
    *    O(delta) ([[ParquetTableStore.appendBucketed]]); probes scan
    *    all buckets BY DESIGN — ADC is the linear-scan stage, at m
    *    bytes/vector;
    *  - `tombstoneTable` (neighbor_id, dead_below): generations below
    *    the mark are dead (the reindex shape); a build commits it
    *    empty.
    *
    * Encoding is per-id independent (argmin against the fixed
    * codebook), so incremental re-encoding of only the changed ids
    * reproduces EXACTLY the codes a full re-encode over the mutated
    * corpus would compute — the identity gate ss20 pins bit-exactly. */
  def pqBuildIndexStored(corpus: DataFrame, idCol: String, vecCol: String,
      store: ParquetTableStore, m: Int, ks: Int, dim: Int,
      iters: Int = 0,
      codebookTable: String = "pq_codebook",
      codesTable: String = "pq_codes",
      tombstoneTable: String = "pq_tombstones",
      group: String = "pq_meta",
      numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = pqCodebook(corpus, idCol, vecCol, m, ks, dim, iters)
    val cbRows = for (j <- cb.indices; c <- cb(j).indices)
      yield (j, c, cb(j)(c).toSeq)
    buildFamily(store,
      pqFamily(group, codebookTable, codesTable, tombstoneTable),
      cbRows.toDF("j", "c", "cvec"), numBuckets) { cbFrame =>
      // codes cast to nullable-element array<int>: the kernel emits
      // non-null elements, but parquet round-trips relax nullability —
      // canonicalizing both write paths keeps appendBucketed's strict
      // schema check honest
      corpus.select(col(idCol).cast("long").as("neighbor_id"),
        pqEncodeExpr(col(vecCol), pqCodebookOf(cbFrame))
          .cast("array<int>").as("codes"),
        lit(0L).as("gen"))
    }
  }

  /** RE-ENCODE CHANGED VECTORS in the stored PQ index: fresh codes
    * against the marker's codebook append under a bumped per-id
    * generation, tombstones mark the prior generations dead, one
    * marker swap publishes both ([[reindexFamily]]). Geometry and
    * codebook come from the INDEX, never caller arguments. */
  def pqReindexVectors(changed: DataFrame, idCol: String, vecCol: String,
      store: ParquetTableStore,
      codebookTable: String = "pq_codebook",
      codesTable: String = "pq_codes",
      tombstoneTable: String = "pq_tombstones",
      group: String = "pq_meta"): Unit =
    reindexFamily(changed, idCol, store,
      pqFamily(group, codebookTable, codesTable, tombstoneTable),
      "pqReindexVectors") { cb =>
      changed.select(col(idCol).cast("long").as("neighbor_id"),
        pqEncodeExpr(col(vecCol), pqCodebookOf(cb))
          .cast("array<int>").as("codes"))
    }

  /** COMPACT the mutable stored PQ index: rewrite the codes the
    * marker names keeping only live generations, clear the
    * tombstones, swap the marker ([[compactFamily]]) — which also
    * repairs whatever a crashed build or mutation left at the heads. */
  def pqCompactIndex(spark: SparkSession, store: ParquetTableStore,
      codesTable: String = "pq_codes",
      tombstoneTable: String = "pq_tombstones",
      group: String = "pq_meta",
      codebookTable: String = "pq_codebook"): Unit = {
    val f = pqFamily(group, codebookTable, codesTable, tombstoneTable)
    compactFamily(spark, store, f,
      pinForMutation(spark, store, f, "pqCompactIndex"))
  }

  /** Probe the MUTABLE stored PQ index at its marker: the query batch
    * precomputes its ADC tables against the stored codebook, the code
    * column streams against the broadcast batch (pqTopK's scan — no
    * vector re-attach anywhere: the index IS the corpus
    * representation), reindexed-away generations drop via one
    * tombstone-sized broadcast, distances are the j-ordered lookup
    * fold. Bit-identical to encoding the mutated corpus from scratch
    * against the same build-time codebook (gate ss20). */
  def pqTopKStored(queries: DataFrame, idCol: String, vecCol: String,
      store: ParquetTableStore, k: Int,
      excludeSelfPairs: Boolean = true,
      codebookTable: String = "pq_codebook",
      codesTable: String = "pq_codes",
      tombstoneTable: String = "pq_tombstones",
      group: String = "pq_meta"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    requireBuilt(store, group, "pqTopKStored")
    val (live, cb) = pqStoredLive(store.readGroup(queries.sparkSession, group),
      codebookTable, codesTable, tombstoneTable)
    val qt = queries
      .select(col(idCol).cast("long").as("query_id"),
        graft.plans.PqKernels.pqAdcTable(col(vecCol), cb).as("__tbl"))
    val scored = live
      .crossJoin(broadcast(qt))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select(col("query_id"), col("neighbor_id"),
        adcDist(cb.length, cb(0).length).as("dist"))
    rankTopK(scored, "dist", k, asc = true)
  }

  /** The tombstone-filtered LIVE stored codes ((neighbor_id, codes))
    * plus the driver codebook of a resolved group snapshot `snap` —
    * the shared read half of [[pqTopKStored]] and [[ivfPqTopKStored]]. */
  private def pqStoredLive(snap: Map[String, (DataFrame, Long)],
      codebookTable: String, codesTable: String, tombstoneTable: String)
      : (DataFrame, Array[Array[Array[Double]]]) =
    (liveRows(snap(codesTable)._1, snap(tombstoneTable)._1)
      .select(col("neighbor_id"), col("codes")),
      pqCodebookOf(snap(codebookTable)._1))

  /** THE DEPLOYMENT PROBE, stored and mutable end to end: the stored
    * IVF index generates candidates ([[ivfStoredCandidates]] —
    * assignment against the stored codebook, touched-cell bucket
    * reads, live per-cell cap) and the stored PQ codes rank them by
    * ADC — no raw corpus vector is read ANYWHERE. This is
    * [[ivfPqTopK]]'s stored twin and the shape a 100 TB vector
    * service actually runs: both index families mutate independently
    * under the same log-structured discipline (fold the same delta
    * through [[ivfReindexVectors]] AND [[pqReindexVectors]]).
    *
    * Both legs read ONE snapshot: the pair marker `pairGroup`, which
    * [[ivfPqPairPin]] commits after BOTH folds, names all six member
    * versions. A probe landing between a paired mutator's IVF fold
    * and its PQ fold (or after a crash between them) therefore still
    * sees both families at the same corpus state — never updated
    * candidates ranked against stale codes, never fresh inserts
    * silently dropped by the code join. The candidate re-attach
    * carries m CODE BYTES per candidate through a pinned SHUFFLE_HASH
    * join — never floats, never a corpus broadcast. Bit-identical to
    * a from-scratch [[ivfPqTopK]] over the mutated corpus under both
    * build-time codebooks (gate ss21). */
  def ivfPqTopKStored(queries: DataFrame, idCol: String, vecCol: String,
      store: ParquetTableStore, k: Int, probes: Int = 4,
      cellCap: Int = 10000, excludeSelfPairs: Boolean = true,
      ivfCodebookTable: String = "ivf_codebook",
      ivfMembersTable: String = "ivf_members",
      ivfTombstoneTable: String = "ivf_tombstones",
      ivfGroup: String = "ivf_meta",
      pqCodebookTable: String = "pq_codebook",
      pqCodesTable: String = "pq_codes",
      pqTombstoneTable: String = "pq_tombstones",
      pqGroup: String = "pq_meta",
      pairGroup: String = "ivfpq_pair_meta"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    Seq(ivfGroup, pqGroup).foreach(requireBuilt(store, _, "ivfPqTopKStored"))
    val tables = Seq(ivfCodebookTable, ivfMembersTable, ivfTombstoneTable,
      pqCodebookTable, pqCodesTable, pqTombstoneTable)
    if (!store.groupVersions(pairGroup)
        .exists(vs => tables.forall(vs.contains)))
      throw new IllegalStateException(s"ivfPqTopKStored: pair marker " +
        s"$pairGroup does not name the six index tables — commit it with " +
        "ivfPqPairPin once both families are built")
    val snap = store.readGroup(queries.sparkSession, pairGroup)
    val cand = ivfStoredCandidates(queries, idCol, vecCol, store, probes,
      cellCap, excludeSelfPairs, snap, ivfCodebookTable, ivfMembersTable,
      ivfTombstoneTable)
    val (liveCodes, cb) = pqStoredLive(snap, pqCodebookTable, pqCodesTable,
      pqTombstoneTable)
    val qt = queries
      .select(col(idCol).cast("long").as("query_id"),
        graft.plans.PqKernels.pqAdcTable(col(vecCol), cb).as("__tbl"))
    val scored = cand
      .join(liveCodes.hint("shuffle_hash"), "neighbor_id")
      .join(broadcast(qt), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        adcDist(cb.length, cb(0).length).as("dist"))
    rankTopK(scored, "dist", k, asc = true)
  }

  /** THE PRODUCTION ANSWER SHAPE for the stored pair — shortlist-and-
    * rerank ([[ivfPqTopKStored]] + exact cosine), the composition
    * ss22's pinned non-monotonicity made necessary: raw ADC recall
    * does NOT improve with probes (more probes admit more ADC
    * impostors), so the deployed probe answers from a `shortlist`-
    * deep ADC candidate set per query (codes only — no raw corpus
    * floats move) and then re-attaches raw vectors for ONLY those
    * |Q|·shortlist pairs from `vectors` (the corpus the index
    * serves — typically the stored table itself) for an exact
    * cosine rerank. [[cosineScored]]'s join discipline: query side
    * broadcast by stats, corpus side pinned SHUFFLE_HASH — the
    * corpus is never broadcast and never shuffled as floats beyond
    * the shortlist rows. Reads the pair marker's snapshot like
    * [[ivfPqTopKStored]]. Gate ss23 pins the whole chain bit-exact
    * against the unrolled oracle; the recall-recovery property itself
    * is ss22's spec. */
  def ivfPqRerankTopKStored(queries: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String, store: ParquetTableStore, k: Int,
      shortlist: Int, probes: Int = 4, cellCap: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val short = ivfPqTopKStored(queries, idCol, vecCol, store,
      k = shortlist, probes = probes, cellCap = cellCap)
      .select("query_id", "neighbor_id")
    rankTopK(cosineScored(short, queries, vectors, idCol, vecCol),
      "cos", k)
  }

  /** Commit the CROSS-FAMILY pair marker for the stored IVF-PQ index:
    * one GROUP MARKER ([[graft.ops.ParquetTableStore.commitGroup]])
    * naming the six member versions both family markers name right
    * now. A paired mutator (both-family build, both-family reindex, a
    * compact of either family) calls this AFTER its last family fold
    * lands; until then [[ivfPqTopKStored]] keeps answering from the
    * previous pair snapshot. [[graft.streaming.Streams.ivfPqIngest]]
    * commits it every batch; a crash before the pin leaves probes on
    * the previous batch until the replayed batch re-folds
    * (idempotently) and pins. Mutations on one index pair are
    * externally serialized (the bm25 contract); the marker CAS turns
    * any violation of that contract into a retryable conflict instead
    * of a silent overwrite. */
  def ivfPqPairPin(spark: SparkSession, store: ParquetTableStore,
      ivfGroup: String = "ivf_meta",
      pqGroup: String = "pq_meta",
      pairGroup: String = "ivfpq_pair_meta"): Unit = {
    val versions = Seq(ivfGroup, pqGroup).flatMap { g =>
      requireBuilt(store, g, "ivfPqPairPin")
      store.groupVersions(g).get
    }.toMap
    store.withCommitRetries() {
      store.commitGroup(versions, store.groupPin(pairGroup))
    }
  }

  /** BINARY SHORTLIST-AND-RERANK — the 1-bit member of the
    * quantization family deployed the way binary vectors actually
    * deploy: sign-bit Hamming distance (an angular-distance proxy,
    * see [[VectorCompression.binarize]]) generates a
    * `shortlist`-sized candidate set per query from 8-bytes-per-
    * 64-dims packed words alone, then ONLY those shortlist·|Q| pairs
    * re-attach raw vectors (stats-driven broadcast on the query
    * side, pinned SHUFFLE_HASH on the corpus side — the
    * [[pqRerankTopK]] discipline) for an exact cosine rerank.
    *
    * Scale shape: the corpus-wide pass scans packed longs against a
    * broadcast |Q|-row frame of query words — pure integer per-row
    * arithmetic, no shuffle until the shortlist window (rank ≤
    * shortlist plans as WindowGroupLimit); the float re-attach is
    * shortlist-bounded. Determinism: Hamming is an exact integer
    * (ties broken on neighbor_id), the rerank is the shared cosine
    * kernel — the whole chain is oracle-replicable, no epsilon. */
  def binaryRerankTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int, dim: Int,
      excludeSelfPairs: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    import graft.ops.VectorCompression.{binarize, hamming}
    val qbits = queries.select(col(idCol).as("query_id"),
      binarize(col(vecCol), dim).as("q_bits"))
    val cbits = candidates.select(col(idCol).as("neighbor_id"),
      binarize(col(vecCol), dim).as("c_bits"))
    val scored = cbits.crossJoin(broadcast(qbits))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select(col("query_id"), col("neighbor_id"),
        hamming(col("q_bits"), col("c_bits")).as("ham"))
    val short = rankTopK(scored, "ham", shortlist, asc = true)
      .select("query_id", "neighbor_id")
    rankTopK(
      cosineScored(short, queries, candidates, idCol, vecCol),
      "cos", k)
  }

  /** IVF-PQ — the production vector index (coarse cells prune the
    * corpus, PQ codes rank inside the probed cells): candidate
    * generation is [[ivfTopK]]'s cell machinery (sample codebook,
    * pinned cosine affinity, cellCap), but the scoring re-attach
    * carries m PQ CODES per candidate instead of dim floats, and
    * ranking is the ADC table-lookup fold. Non-residual variant
    * (codes quantize the raw vectors, not cell residuals) — the
    * residual refinement is a codebook-training concern the same
    * plumbing serves. At 100 TB: the cell index prunes the scan to
    * probes/numCentroids of the corpus, and what's left shuffles at
    * m bytes per vector. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, numCentroids: Int,
      probes: Int, m: Int, ks: Int, dim: Int,
      cellCap: Int = 10000,
      excludeSelfPairs: Boolean = true): DataFrame = {
    val codebook = Ivf.sampleCodebook(candidates, idCol, vecCol, numCentroids)
    val capped = cappedMembers(candidates, idCol, vecCol, codebook, cellCap)
    val queryAssign = Ivf.assignmentsWithCodebook(queries, idCol, vecCol,
      codebook, probes)
      .select(col("id").as("query_id"), col("centroid_id"))
    val cand = queryAssign.join(capped, Seq("centroid_id"))
      .transform(dropSelfPairs(_, excludeSelfPairs))
      .select("query_id", "neighbor_id").distinct()
    // PQ scoring: candidates re-attach m CODES (not vectors)...
    val pqCb = pqCodebook(candidates, idCol, vecCol, m, ks, dim)
    val codes = candidates
      .select(col(idCol).cast("long").as("neighbor_id"),
        pqEncodeExpr(col(vecCol), pqCb).as("__codes"))
    // ...and the |Q|-sized table side broadcasts
    val qt = queries
      .select(col(idCol).cast("long").as("query_id"),
        graft.plans.PqKernels.pqAdcTable(col(vecCol), pqCb).as("__tbl"))
    val dist = (0 until m).map { j =>
      element_at(col("__tbl"),
        lit(j * ks + 1) + element_at(col("__codes"), j + 1))
    }.foldLeft(lit(0.0))(_ + _)
    val scored = cand
      .join(codes.hint("shuffle_hash"), "neighbor_id")
      .join(broadcast(qt), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("dist"))
    rankTopK(scored, "dist", k, asc = true)
  }

  /** METADATA-FILTERED ANN — "nearest neighbors WHERE label = x".
    * This is the pre-filter form: the predicate restricts the corpus
    * BEFORE indexing/probing, so top-k is exact over the qualifying
    * set (post-filtering an unfiltered ANN top-k under-returns when
    * the predicate is selective — the classic filtered-ANN trap,
    * spec-pinned). The predicate pushes into the candidate scan;
    * with IVF the index is built per filtered corpus — at 100 TB a
    * deployment keeps one stored index per hot partition-predicate
    * (the ss9 stored-index frames are the building block) and falls
    * back to pre-filter + brute force for rare predicates when the
    * qualifying set is small. */
  def filteredTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      predicate: org.apache.spark.sql.Column,
      numCentroids: Int = 0, probes: Int = 4,
      cellCap: Int = 10000): DataFrame = {
    val qualifying = candidates.filter(predicate)
    if (numCentroids <= 0) bruteForceTopK(queries, qualifying, idCol, vecCol, k)
    else ivfTopK(queries, qualifying, idCol, vecCol, k, numCentroids,
      probes, cellCap)
  }

  /** Recall@k of an ANN result against exact ground truth: both
    * frames carry (query_id, neighbor_id) rows (any extra columns
    * ignored); returns one row per ground-truth query —
    * (query_id, hits, k), hits = |approx ∩ exact|. Integer-only
    * output: the standard ANN quality gate, runnable as a
    * verification query with no float-tolerance questions (the float
    * discipline lives in the two inputs' own rank pins). Queries the
    * approx side missed entirely still appear, with hits = 0.
    *
    * Scale shape: both inputs are k·|Q|-sized — the evaluation never
    * touches the corpus. One equi-join on (query_id, neighbor_id)
    * plus a map-side-combinable count; AQE broadcasts whichever side
    * is small (both are). */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"), lit(k).as("k"))
  }

  /** MAXIMAL-MARGINAL-RELEVANCE rerank (Carbonell & Goldstein 1998)
    * — the diversification stage of a retrieval stack: greedily pick
    * `k` of each query's candidates maximizing
    * `λ·rel − (1−λ)·max_sim_to_already_selected`, so near-duplicate
    * hits stop crowding the result list (for training-data work: the
    * anti-redundancy pass when retrieving context or few-shot pools).
    *
    * `candidates` carries (query_id, neighbor_id, cos) — any ANN
    * engine's output; `vectors` re-attaches candidate embeddings by
    * one k·|Q|-sized INNER join — a candidate whose id is absent
    * from `vectors` has no embedding to diversify against and is
    * DROPPED from the rerank (rerank against the same vector frame
    * the candidates were mined from, where the join is total by
    * construction). The vector column is cast to array<float>, so
    * float and double embeddings both work. Degenerate inputs never
    * stall the greedy argmax: a zero-norm vector's cosine (0/0)
    * counts as 0 similarity, and a NaN relevance score is skipped —
    * if only NaN-scored candidates remain, the list ends early
    * rather than emitting a bogus pick. The greedy loop runs per query inside
    * `mapGroups`: distributed ACROSS queries, sequential (bounded by
    * the candidate-list length) within one — the per-group arithmetic
    * is plain Scala over the SAME double shapes the oracles pin
    * (ascending-index dot folds, `dot/sqrt(dot·dot)` cosine,
    * `λ·rel − (1−λ)·maxSim` with `1−λ` computed in-engine), so the
    * selection and scores are bit-identical to the unrolled SQL
    * replica. Ties break on (score desc, id asc); the first pick's
    * diversity term is 0 by definition. */
  def mmrRerank(candidates: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, k: Int, lambdaRel: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val spark = candidates.sparkSession
    import spark.implicits._
    val withVec = candidates
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos").cast("double"))
      .join(vectors.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<float>").as("__v")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("__v"))
      .as[(Long, Long, Double, Seq[Float])]
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0
      var i = 0
      while (i < a.length) {
        dab += a(i).toDouble * b(i).toDouble
        daa += a(i).toDouble * a(i).toDouble
        dbb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      // zero-norm vector: cosine is undefined (0/0) — treat as 0
      // similarity so a degenerate candidate can never poison the
      // greedy argmax with NaN (NaN fails > and ==, leaving no pick)
      val denom = math.sqrt(daa * dbb)
      if (denom == 0.0) 0.0 else dab / denom
    }
    withVec.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cands = it.toArray
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      var rank = 1
      var exhausted = false
      while (!exhausted && rank <= math.min(k, cands.length)) {
        var bestIdx = -1
        var bestScore = Double.NegativeInfinity
        var bestId = Long.MaxValue
        var i = 0
        while (i < cands.length) {
          if (!chosen.contains(i)) {
            val c = cands(i)
            var maxSim = 0.0
            if (chosen.nonEmpty) {
              maxSim = Double.NegativeInfinity
              chosen.foreach { j =>
                val s = cosine(c._4, cands(j)._4)
                if (s > maxSim) maxSim = s
              }
            }
            val score = lambdaRel * c._3 - (1.0 - lambdaRel) * maxSim
            // a NaN score (NaN relevance in the input) is never a
            // valid pick — skip it rather than let it stall the argmax
            if (!score.isNaN && (score > bestScore ||
                (score == bestScore && c._2 < bestId))) {
              bestScore = score; bestIdx = i; bestId = c._2
            }
          }
          i += 1
        }
        if (bestIdx < 0) exhausted = true // only NaN-scored candidates remain
        else {
          chosen += bestIdx
          out += ((q, rank, bestId, bestScore))
          rank += 1
        }
      }
      out.iterator
    }.toDF("query_id", "mmr_rank", "neighbor_id", "score")
  }

  /** RECIPROCAL-RANK FUSION (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-search combiner: each input ranking contributes
    * 1/(c + rank) per item, items missing from a list contribute 0,
    * and the fused top-`k` orders by (total score desc, id). The
    * modern retrieval stack is exactly this: a lexical ranking
    * ([[graft.ops.TextAnalysis.bm25TopK]]) fused with an embedding
    * ranking (any of the ANN engines here) — RRF needs no score
    * calibration between the two, only ranks.
    *
    * Each input's FIRST two columns must be (id, rank). Determinism:
    * every contribution is the same double on any engine
    * (1.0/(c + integer rank)), and the score sums the inputs in
    * ARGUMENT order as a plan-time expression (coalesce chain, no
    * runtime fold) — partitioning cannot move it.
    *
    * Scale shape: inputs are top-N ranking lists (k·|lists|-sized) —
    * the fusion itself never touches a corpus; the heavy lifting
    * stays in the input rankings, each already disciplined. The
    * full-outer join chain and the final window run on list-sized
    * frames. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1, s"k must be positive, got $k")
    val sides = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(r.columns(0)).as("id"),
        (lit(1.0) / (lit(c.toDouble) + col(r.columns(1)).cast("double")))
          .as(s"__c$i"))
    }
    val joined = sides.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val score = sides.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0)))
      .reduce(_ + _)
    val w = Window.orderBy(col("score").desc, col("id").asc)
    joined.withColumn("score", score)
      .orderBy(col("score").desc, col("id").asc).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("id"), round(col("score"), 6).as("score_r"))
  }
}
