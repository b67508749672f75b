package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions._

/** Dedup / similarity / text-analysis operator semantics. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("portableHash64 matches the cross-engine known vector") {
    // DuckDB: ('0x' || substr(md5('abc'),1,15))::BIGINT = 648541476951500027
    val got = Seq("abc").toDF("s")
      .select(portableHash64(col("s"))).head.getLong(0)
    assert(got == 648541476951500027L)
  }

  test("wordShingles and charNgrams edge cases") {
    val df = Seq("a b c d", "a b", "").toDF("t")
      .select(wordShingles(tokens(col("t")), 3).as("w"),
        charNgrams(col("t"), 5).as("c"))
    val rows = df.collect()
    assert(rows(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](0) == Seq.empty) // too few tokens
    assert(rows(2).getSeq[String](0) == Seq.empty) // empty text
    assert(rows(1).getSeq[String](1) == Seq.empty) // text shorter than n
  }

  test("minhash LSH finds exact duplicates with certainty and near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact
      (3L, "a quick brown fox jumps over the lazy dog again and again"),   // near
      (4L, "completely unrelated text about spark catalyst optimizer plans")
    ).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical → guaranteed candidate
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical text → identical value; unrelated → different") {
    val df = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark shuffles data across the cluster"),
      (3L, "ducks swim on the quiet pond at dawn")
    ).toDF("id", "text")
    val v = Dedup.simhashValues(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v(1L) == v(2L))
    assert(v(1L) != v(3L))
  }

  test("exact dedup keeps one representative per normalized text") {
    val df = Seq(
      (5L, "Same   Text here"), (9L, "same text HERE"), // same after normalize
      (7L, "different")
    ).toDF("id", "text")
    val reps = Dedup.dropExactDuplicates(df, "id", "text")
      .select("id").as[Long].collect().toSet
    assert(reps == Set(5L, 7L))
  }

  test("lsh ANN recall vs brute force on real embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(q, e, "id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch.lshTopK(q, e, "id", "embedding", 5,
      planes = 2, tables = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4 tables × 2 planes (4 buckets each) over 150 vectors: the
    // OR-construction union must beat the old single-table 0.3 floor
    assert(recall >= 0.3, s"recall=$recall")
    // and every approx hit must be a real vector pair, not junk
    assert(approx.forall { case (a, b) => a < 10 && b >= 0 })

    // single-table recall is a lower bound for the OR-construction
    // (every single-table candidate pair is also a multi-table one
    // when table 0 shares plane indices — here planes differ per
    // table, so assert statistically: union recall >= table-0 recall)
    val single = SimilaritySearch.lshTopK(q, e, "id", "embedding", 5,
      planes = 2, tables = 1)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallSingle = (exact intersect single).size.toDouble / exact.size
    assert(recall >= recallSingle,
      s"multi-table recall $recall < single-table $recallSingle")
  }

  test("excludeSelfPairs=false keeps an id-colliding true neighbor") {
    // queries from an UNRELATED namespace that happens to collide:
    // query 1's genuinely nearest corpus vector also has id 1 — the
    // default same-namespace rule drops it; the flag keeps it
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "embedding")
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "embedding")
    val dflt = SimilaritySearch.bruteForceTopK(q, corpus, "id",
      "embedding", k = 1).collect().map(_.getLong(2)).toSeq
    assert(dflt == Seq(2L), s"default must self-exclude, got $dflt")
    val cross = SimilaritySearch.bruteForceTopK(q, corpus, "id",
      "embedding", k = 1, excludeSelfPairs = false)
      .collect().map(_.getLong(2)).toSeq
    assert(cross == Seq(1L), s"cross-namespace must keep id 1, got $cross")
    val ivf = SimilaritySearch.ivfTopK(q, corpus, "id", "embedding",
      k = 1, numCentroids = 2, probes = 2, excludeSelfPairs = false)
      .collect().map(_.getLong(2)).toSeq
    assert(ivf == Seq(1L), s"ivf cross-namespace, got $ivf")
  }

  test("ivfPqTopK: full probing recovers plain ADC; starved probing stays within cells") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 5)
    // probes == numCentroids => candidate set is the whole corpus
    // (minus self), so IVF-PQ must EQUAL the plain ADC ranking
    val full = SimilaritySearch.ivfPqTopK(q, e, "id", "embedding",
      k = 5, numCentroids = 8, probes = 8, m = 8, ks = 16, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val adc = SimilaritySearch.pqTopK(q, e, "id", "embedding",
      k = 5, m = 8, ks = 16, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(full.toSeq == adc.toSeq)
    // starved probing returns only candidates from probed cells —
    // a subset of the ADC universe, k rows max per query
    val starved = SimilaritySearch.ivfPqTopK(q, e, "id", "embedding",
      k = 5, numCentroids = 8, probes = 1, m = 8, ks = 16, dim = 64)
      .collect()
    assert(starved.groupBy(_.getLong(0)).forall(_._2.length <= 5))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("filteredTopK: pre-filter returns k qualifying; post-filtering under-returns") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"), col("label"))
    val q = e.filter(col("id") < 5).select("id", "embedding")
    val pre = SimilaritySearch.filteredTopK(q, e, "id", "embedding",
      k = 5, predicate = col("label") === 1)
    // every result qualifies, every query fills its k
    val labels = e.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val preRows = pre.collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(preRows.forall { case (_, nb) => labels(nb) == 1 })
    assert(preRows.groupBy(_._1).forall(_._2.length == 5))
    // the trap this operator exists to avoid: filtering an
    // UNFILTERED top-5 afterwards keeps only the qualifying subset
    // of 5 — strictly fewer when the predicate is selective
    val post = SimilaritySearch.bruteForceTopK(q, e, "id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .filter { case (_, nb) => labels(nb) == 1 }
    assert(post.length < preRows.length,
      s"post-filter kept ${post.length}, pre-filter ${preRows.length}")
    // IVF engine variant agrees with brute force at full probing
    val ivf = SimilaritySearch.filteredTopK(q, e, "id", "embedding",
      k = 5, predicate = col("label") === 1, numCentroids = 4, probes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == preRows.toSet)
  }

  test("repeatedNgramSpans: cross-doc windows only, counts include within-doc repeats") {
    import spark.implicits._
    val shared = "one two three four"
    val docs = Seq(
      (1L, s"$shared alpha $shared"), // the shared 4-gram occurs twice here
      (2L, s"beta $shared gamma"),
      (3L, "nothing in common at all here")
    ).toDF("id", "text")
    val out = Dedup.repeatedNgramSpans(docs, "id", "text",
        n = 4, minDocs = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.contains(shared), out.keySet)
    assert(out(shared) == ((2L, 3L)), out(shared)) // 2 docs, 3 occurrences
    // no gram unique to one doc survives, even the within-doc repeat
    // "three four one" (doc 1 only, via the self-concatenation)
    assert(out.keySet.forall(g => g.contains("one two") ||
      g.contains("two three") || g.contains("three four") ||
      g.contains("four alpha") || g.contains("beta one") ||
      g.contains("four gamma") || g.contains("alpha one")),
      out.keySet)
    val crossDocOnly = out.forall { case (_, (nd, _)) => nd >= 2 }
    assert(crossDocOnly)
    // one combinable aggregation: partial count_distinct at the map side
    val plan = Dedup.repeatedNgramSpans(docs, "id", "text", 4, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan)
  }

  test("cutRepeatedNgramSpans: first occurrence survives, later and within-doc repeats cut") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four alpha"),          // canonical holder
      (2L, "beta one two three four gamma"),     // later occurrence -> cut
      (3L, "one two three four one two three four"), // first occ is doc1's; both cut
      (4L, "nothing shared here at all")
    ).toDF("id", "text")
    val out = Dedup.cutRepeatedNgramSpans(docs, "id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // doc1 holds the (id,pos)-minimum occurrence: untouched
    assert(out(1L) == (("one two three four alpha", 0)))
    // doc2 loses exactly the 4-token window, neighbors survive
    assert(out(2L) == (("beta gamma", 4)))
    // doc3: both its occurrences are non-canonical; overlapping cut
    // windows merge (positions 1..4 also form repeated windows with
    // doc3's self-concatenation — everything duplicated goes)
    assert(out(3L)._1 == "" || out(3L)._2 >= 8, out(3L))
    // untouched doc passes through (whitespace-normalized)
    assert(out(4L) == (("nothing shared here at all", 0)))
  }

  test("cutRepeatedNgramSpans: cleaned corpus has no repeated grams left except survivors") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val cleaned = Dedup.cutRepeatedNgramSpans(docs, "id", "text", n = 12)
    val removed = cleaned.agg(sum(col("n_removed"))).head.getLong(0)
    assert(removed > 0, "fixture corpus has cross-doc 12-grams; some must cut")
    // idempotence-ish check: every 12-gram in the cleaned corpus is
    // now unique EXCEPT windows newly formed by token rejoining
    // across cut boundaries — so re-running must remove strictly less
    val second = Dedup.cutRepeatedNgramSpans(cleaned, "id", "text", n = 12)
      .agg(sum(col("n_removed"))).head.getLong(0)
    assert(second < removed, s"second pass $second vs first $removed")
    // scale hygiene: nothing corpus-sized broadcasts — the cuts map
    // and the duplicate relation both attach via shuffle joins
    val plan = Dedup.cutRepeatedNgramSpans(docs, "id", "text", n = 12)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("repeatedNgramSpans: hashed-key exchange matches the exact-text twin") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    def rows(hashed: Boolean) =
      Dedup.repeatedNgramSpans(docs, "id", "text", n = 12, minDocs = 2,
          hashedKey = hashed)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val h = rows(true)
    assert(h == rows(false))
    assert(h.nonEmpty)
    // the default's exchange key is the 8-byte hash, not the gram text
    val plan = Dedup.repeatedNgramSpans(docs, "id", "text", 12, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__gk"), plan)
  }

  test("pqAutoParams: 4-8 wide subspaces, sqrt(n) pow2 centroids in [16,256]") {
    assert(SimilaritySearch.pqAutoParams(2000L, 64) == (8, 64))
    assert(SimilaritySearch.pqAutoParams(100L, 64) == (8, 16))     // floor
    assert(SimilaritySearch.pqAutoParams(1000000L, 64) == (8, 256)) // one-byte cap
    assert(SimilaritySearch.pqAutoParams(2000L, 60) == (10, 64))   // odd dim: 6-wide
    assert(SimilaritySearch.pqAutoParams(2000L, 7) == (1, 64))     // prime dim
    // auto params drive the real chain end to end
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val n = e.count()
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val (m, ks) = SimilaritySearch.pqAutoParams(n, dim)
    val got = SimilaritySearch.pqTopK(e.limit(3), e, "id", "embedding",
      k = 3, m = m, ks = ks, dim = dim)
    assert(got.count() == 9)
  }

  test("pq encode: argmin per subspace, tie keeps lower centroid, zero-exchange plan") {
    val vecs = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 2f, 2f)),
      (2L, Seq(0.9f, 0.9f, 0.1f, 0.1f)),
      (3L, Seq(0.5f, 0.5f, 1f, 1f)) // equidistant in BOTH subspaces
    ).toDF("id", "embedding")
    val cb = SimilaritySearch.pqCodebook(vecs, "id", "embedding",
      m = 2, ks = 2, dim = 4)
    assert(cb(0)(1).toSeq == Seq(1.0, 1.0) && cb(1)(1).toSeq == Seq(2.0, 2.0))
    val codes = vecs
      .select(col("id"), SimilaritySearch.pqEncodeExpr(col("embedding"), cb))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(1, 1))
    assert(codes(2L) == Seq(1, 0), codes(2L))
    // 0.5/0.5 is equidistant to both centroids in each subspace:
    // the first-index argmin must keep centroid 0
    assert(codes(3L) == Seq(0, 0), codes(3L))
    // encode is a pure Project riding the scan
    val plan = vecs
      .select(SimilaritySearch.pqEncodeExpr(col("embedding"), cb))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)

    // native kernel ≡ unrolled expression form, bit for bit, on the
    // real embeddings (the LshKernelsSpec discipline)
    val er = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val cbr = SimilaritySearch.pqCodebook(er, "id", "embedding", 8, 16, 64)
    val both = er.select(col("id"),
        SimilaritySearch.pqEncodeExpr(col("embedding"), cbr).as("k"),
        SimilaritySearch.pqEncodeUnrolled(col("embedding"), cbr).as("u"))
      .collect()
    assert(both.forall(r => r.getSeq[Int](1) == r.getSeq[Int](2)),
      "kernel and unrolled encode must agree exactly")

    // Lloyd refinement holds its actual guarantee — sample
    // DISTORTION never increases (rank preservation is data-
    // dependent and asserted separately above)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    def distortion(cbx: Array[Array[Array[Double]]]): Double = {
      val pts = e.orderBy("id").collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      pts.map { p =>
        cbx.zipWithIndex.map { case (cents, j) =>
          cents.map { cv =>
            cv.indices.foldLeft(0.0) { (s, i) =>
              val x = p(j * 8 + i) - cv(i); s + x * x
            }
          }.min
        }.sum
      }.sum
    }
    val cb0 = SimilaritySearch.pqCodebook(e, "id", "embedding", 8, 16, 64)
    val cb3 = SimilaritySearch.pqCodebook(e, "id", "embedding", 8, 16, 64,
      iters = 3)
    assert(distortion(cb3) <= distortion(cb0),
      "Lloyd steps must not increase training-sample distortion")
  }

  test("pq ADC top-k: recall tracks brute force, search plan shuffles only the top-k window") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 10)
    val approx = SimilaritySearch.pqTopK(q, e, "id", "embedding",
      k = 5, m = 8, ks = 16, dim = 64)
    // PQ approximates SQUARED-L2 rank, so the ground truth must be
    // exact L2 (cosine truth would conflate metric mismatch with
    // quantization error on these unnormalized vectors)
    val all = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def l2(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + (a(i) - b(i)) * (a(i) - b(i)))
    val exact = all.filter(_._1 < 10).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (cid, cv) => (l2(qv, cv), cid) }
        .sorted.take(5).map { case (_, cid) => (qid, cid) }
    }.toSet
    val approxPairs = approx.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approxPairs).size.toDouble / exact.size
    // these near-random 64-dim vectors are PQ's worst case (no
    // low-dim structure to quantize); measured 0.22 — the floor
    // asserts "well above the 5/150 ~ 0.03 chance level", and the
    // rerank test below asserts the deployment-shape quality
    assert(recall >= 0.15, s"recall=$recall")

    // the deployment shape: ADC shortlist(20) -> exact-L2 rerank.
    // Recall becomes recall@20 of ADC (measured 0.56 here) and every
    // kept distance is exact
    val rr = SimilaritySearch.pqRerankTopK(q, e, "id", "embedding",
      k = 5, shortlist = 20, m = 8, ks = 16, dim = 64)
    val rrPairs = rr.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (exact intersect rrPairs).size.toDouble / exact.size
    assert(rrRecall >= 0.5, s"rerank recall=$rrRecall")
    assert(rrRecall >= recall, "reranking a superset can only help")
    // the rerank corpus re-attach stays a shuffle join (codes-only
    // ADC did the candidate generation; floats re-attach for
    // shortlist*|Q| rows only)
    assert(rr.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "rerank must pin SHUFFLE_HASH")
    // every query returns exactly k ranked rows, ranks 1..k
    val perQ = approx.groupBy("query_id").count().collect()
    assert(perQ.forall(_.getLong(1) == 5), perQ.mkString(","))
    // the search side: codes broadcast-joined to the query tables,
    // ONE hash exchange total (the top-k window); rank<=k plans as
    // a group-limit so giant corpora never fully sort
    val plan = approx.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("near-dup drop: greedy smaller-id-wins, chains drop entirely") {
    import spark.implicits._
    // synthetic pair list: chain 1~2, 2~3 (1̸~3) and isolated 4
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val surv = Dedup.dropPairedDuplicates(docs, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    // greedy: 2 drops (pairs with 1), 3 drops (pairs with 2) — the
    // whole chain collapses to its smallest id; 4 untouched
    assert(surv == Set(1L, 4L))

    // end-to-end: exact copies → only the min-id member survives
    val d2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "an entirely different sentence about gardening and soil")
    ).toDF("id", "text")
    val got = Dedup.dropNearDuplicates(d2, "id", "text", threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 12L), s"got $got")
  }

  test("blockedFuzzyPairs: typo pairs found, blocking bounds recall, cap holds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma one"),
      (2L, "alpha beta gamma two"),  // 3 edits vs 1, same block
      (3L, "blpha beta gamma one"),  // 1 edit vs 1 but first-char edit
      (4L, "zzz completely different here"),
      (5L, "alpha beta gamma o")     // 2 deletions vs 1; len 18 → same band
    ).toDF("doc_id", "text")
    val got = Dedup.blockedFuzzyPairs(docs, "doc_id", "text",
        keyLen = 20, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1,3) is MISSED by contract: dist 1, but the prefix block differs —
    // the documented recall bound of blocking-based ER
    assert(got == Set((1L, 2L, 3), (1L, 5L, 2), (2L, 5L, 2)), got)

    // per-block cap: three identical keys, cap 2 → one pair, min ids
    val caps = Seq((10L, "same text here"), (11L, "same text here"),
      (12L, "same text here")).toDF("doc_id", "text")
    val capped = Dedup.blockedFuzzyPairs(caps, "doc_id", "text",
        keyLen = 20, maxDist = 5, bucketCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L)), capped)
  }

  test("blockedFuzzyPairs plan: merge self-join, shuffle-hash verify, no broadcast") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    val plan = Dedup.blockedFuzzyPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the in-block self-join must stay MERGE (broadcast would defeat
    // block-key exchange reuse); key re-attach is SHUFFLE_HASH over
    // the keyed barrier; nothing corpus-sized broadcasts
    assert("SortMergeJoin".r.findAllMatchIn(plan).length == 1, plan)
    assert("ShuffledHashJoin".r.findAllMatchIn(plan).length == 2, plan)
    assert(!plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("containmentPairs: quote-in-document scores ~1 where jaccard fails") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = quote + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, long),
      (2L, quote),                              // wholly contained in 1
      (3L, "an unrelated document about nothing shared at all here")
    ).toDF("id", "text")
    // 1-row bands (bands = numHashes) so candidate recall is ~1 even
    // at the pair's low jaccard — the geometry a containment deploy
    // uses (or ts7-chunk the long side under the default bands)
    val got = Dedup.containmentPairs(docs, "id", "text",
        numHashes = 32, bands = 32, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L,
      got.toSeq)
    assert(got.head._3 == 1.0, s"quote fully contained, got ${got.head._3}")
    // the symmetric engine at its default threshold cannot see it:
    // jaccard = 6/(6+40) ≈ 0.13
    val jac = Dedup.minhashLshPairs(docs, "id", "text",
        numHashes = 32, bands = 32, threshold = 0.6)
      .collect()
    assert(jac.isEmpty, jac.toSeq)
  }

  test("chunkedContainmentPairs: 6x-length quote found where direct banding misses") {
    import spark.implicits._
    // quote = 16 tokens sitting at a stride-aligned offset of a
    // 96-token (6x longer) document — containment 1, jaccard ≈ 0.15
    val quoteToks = (1 to 16).map(i => s"q$i")
    val longToks = (1 to 16).map(i => s"pre$i") ++ quoteToks ++
      (1 to 64).map(i => s"post$i")
    val docs = Seq(
      (1L, longToks.mkString(" ")),
      (2L, quoteToks.mkString(" ")),
      (3L, "an unrelated document about nothing shared at all in any way")
    ).toDF("id", "text")
    // direct containment at the DEFAULT 4-row bands: banding recall
    // ∝ jaccard, so the pair is not generated — the documented gap
    val direct = Dedup.containmentPairs(docs, "id", "text",
        threshold = 0.8).collect()
    assert(direct.isEmpty, direct.toSeq)
    // chunked: doc 2's whole-doc chunk equals doc 1's window at start
    // 16 (alignment guaranteed for quotes >= window+stride-1) →
    // chunk-level jaccard 1, banding certain, containment 1.0
    val got = Dedup.chunkedContainmentPairs(docs, "id", "text",
        windowTokens = 16, stride = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L,
      got.toSeq)
    assert(got.head._3 == 1.0, got.toSeq)
    // ids outside the packable range fail LOUDLY: a negative id would
    // otherwise decode into another doc's cid range (truncating div)
    // and surface as a bogus cross-doc pair
    val bad = Seq((-1L, quoteToks.mkString(" ")),
      (2L, quoteToks.mkString(" "))).toDF("id", "text")
    val e = intercept[Exception] {
      Dedup.chunkedContainmentPairs(bad, "id", "text",
        windowTokens = 16, stride = 8, threshold = 0.8).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("packable") ||
        e.getMessage.contains("USER_RAISED_EXCEPTION")), e.getMessage)
  }

  test("keepBestWithClusters over a stored label map equals the self-mining form") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 0.2), (2L, "b", 0.9), (3L, "c", 0.5),
      (4L, "d", 0.1), (5L, "e", 0.7), (6L, "f", 0.7)
    ).toDF("id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val mined = Dedup.keepBestPerCluster(docs, "id", pairs, col("q"))
      .select("cluster_id", "id", "n_members").collect().toSet
    // persist the label map through the store, consume the committed
    // frame — the tp6 discipline
    val store = new ParquetTableStore(tmpDir("keepbest-store"))
    val (stored, _) = store.commit(spark, "clusters",
      ConnectedComponents.duplicateClusters(pairs))
    val viaStore = Dedup.keepBestWithClusters(docs, "id", stored, col("q"))
      .select("cluster_id", "id", "n_members").collect().toSet
    assert(viaStore == mined, viaStore)
  }

  test("keepBestPerCluster: score argmax wins, singletons survive, sizes exact") {
    import spark.implicits._
    // chain 1~2, 2~3 = one cluster {1,2,3}; pair 5~6; singleton 4
    val docs = Seq(
      (1L, "a", 0.2), (2L, "b", 0.9), (3L, "c", 0.5),
      (4L, "d", 0.1), (5L, "e", 0.7), (6L, "f", 0.7)
    ).toDF("id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(docs, "id", pairs, col("q"))
      .select("cluster_id", "id", "n_members")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cluster 1: best score 0.9 → id 2 (NOT min-id 1, the d8 rule);
    // cluster 5: tie at 0.7 → min id 5; singleton 4 keeps itself
    assert(kept == Set((1L, 2L, 3L), (5L, 5L, 2L), (4L, 4L, 1L)), kept)
  }

  test("softDedupKeep: 1/|cluster| weights, singletons pass whole, expected mass ~1/cluster") {
    import spark.implicits._
    // 100 clusters of 4 (ids 4k..4k+3) + 200 singletons: the keep is
    // probabilistic, so the assertions are (a) exact weights, (b)
    // singletons never dropped, (c) per-cluster survivor mass near
    // the expected 1 in aggregate, (d) seed determinism
    val n = 100
    val clustered = (0 until 4 * n).map(_.toLong)
    val singles = (1000L until 1200L)
    val docs = (clustered ++ singles).toDF("id")
    val pairs = (0 until n).flatMap { k =>
      Seq((4L * k, 4L * k + 1), (4L * k + 1, 4L * k + 2),
        (4L * k + 2, 4L * k + 3))
    }.toDF("id_a", "id_b")
    val clusters = ConnectedComponents.duplicateClusters(pairs)
    val kept = Dedup.softDedupKeep(docs, "id", clusters, seed = "s:")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val (cKept, sKept) = kept.partition(_._1 < 1000L)
    // every singleton survives at weight 1 (u < 1.0 always at the
    // 10^4 bucket resolution since buckets are < 10000)
    assert(sKept.length == 200 && sKept.forall(_._2 == 1.0), sKept.length)
    assert(cKept.forall(_._2 == 0.25), cKept.take(3).toSeq)
    // 400 docs at p=0.25 → expected 100 survivors; 3-sigma ≈ ±26
    assert(cKept.length > 70 && cKept.length < 130, cKept.length)
    // same seed, same draw; different seed re-deals
    val again = Dedup.softDedupKeep(docs, "id", clusters, seed = "s:")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_._1).toSet)
    val other = Dedup.softDedupKeep(docs, "id", clusters, seed = "t:")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(other != again)
  }

  test("keepBestPerCluster plan: rank capped by WindowGroupLimit, sizes by aggregate") {
    import spark.implicits._
    val docs = Seq((1L, "a", 0.2), (2L, "b", 0.9)).toDF("id", "text", "q")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val plan = Dedup.keepBestPerCluster(docs, "id", pairs, col("q"))
      .queryExecution.executedPlan.toString
    // the survivor choice must keep the group limit (a giant
    // boilerplate cluster never fully sorts), and n_members must NOT
    // be a count-over-window (which would buffer the whole cluster)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("recallAtK: exact self-eval is k/k, starved probes lose recall, misses are 0") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 5)
    val exact = SimilaritySearch.bruteForceTopK(q, e, "id", "embedding", k = 5)
    // identical inputs → every query scores k hits
    val self = SimilaritySearch.recallAtK(exact, exact, k = 5)
    assert(self.filter(col("hits") =!= 5).count() == 0)
    // IVF with probes=32/32 IS exact (PipelineSpec proves top-k
    // equality elsewhere) → recall 5; probes=1 can only lose hits
    val full = SimilaritySearch.ivfTopK(q, e, "id", "embedding", 5, 32, 32)
    assert(SimilaritySearch.recallAtK(exact, full, k = 5)
      .filter(col("hits") =!= 5).count() == 0)
    val starved = SimilaritySearch.ivfTopK(q, e, "id", "embedding", 5, 32, 1)
    val rs = SimilaritySearch.recallAtK(exact, starved, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rs.size == 5 && rs.values.forall(h => h >= 0 && h <= 5), rs)
    // a query whose ANN side vanishes entirely still reports, with 0
    val none = SimilaritySearch.recallAtK(exact,
      exact.filter(col("query_id") < 0), k = 5)
    assert(none.count() == 5 &&
      none.filter(col("hits") =!= 0).count() == 0)
  }

  test("stored IVF index: parquet round-trip probe is identical to in-memory ivfTopK") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") >= 20 && col("id") < 26)
    val (cb, members) = SimilaritySearch.ivfIndexFrames(e, "id",
      "embedding", numCentroids = 16, cellCap = 1000)
    val tmp = java.nio.file.Files.createTempDirectory("ivf-index").toString
    try {
      cb.write.mode("overwrite").parquet(s"$tmp/codebook")
      members.write.mode("overwrite").parquet(s"$tmp/members")
      val probed = SimilaritySearch.probeStoredIvf(q, e, "id", "embedding",
        spark.read.parquet(s"$tmp/codebook"),
        spark.read.parquet(s"$tmp/members"), k = 4, probes = 4)
      val direct = SimilaritySearch.ivfTopK(q, e, "id", "embedding",
        k = 4, numCentroids = 16, probes = 4, cellCap = 1000)
      val pRows = probed.select("query_id", "rank", "neighbor_id").collect().toSet
      val dRows = direct.select("query_id", "rank", "neighbor_id").collect().toSet
      assert(pRows == dRows && pRows.nonEmpty)
      // probe-time plan: exactly ONE assignment subtree (the query
      // batch) — the corpus assignment was paid at build time and
      // must never recur per batch
      val probePlan = SimilaritySearch.probeStoredIvf(q, e, "id", "embedding",
        spark.read.parquet(s"$tmp/codebook"),
        spark.read.parquet(s"$tmp/members"), k = 4, probes = 4)
        .queryExecution.executedPlan.toString
      val directPlan = direct.queryExecution.executedPlan.toString
      def assigns(p: String) = "ivf_top_cells".r.findAllIn(p).size
      assert(assigns(probePlan) < assigns(directPlan),
        s"probe must not re-assign the corpus: probe=${assigns(probePlan)} direct=${assigns(directPlan)}")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("simhash hamming pairs: pigeonhole recall is complete within the radius") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // identical
      (3L, "beta gamma delta epsilon zeta eta theta iota kappa"),       // 1 word off
      (4L, "totally unrelated cooking recipe with garlic and butter sauce")
    ).toDF("id", "text")
    val sh = Dedup.simhashValues(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: every pair within hamming<=8 must be found (the
    // pigeonhole banding is COMPLETE, not probabilistic)
    val expect = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 8
    } yield (a, b)).toSet
    val got = Dedup.simhashHammingPairs(docs, "id", "text", maxDist = 8,
        width = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"got $got expect $expect")
    assert(got.contains((1L, 2L)), "identical docs must pair at distance 0")
    // radius 0 degenerates to equal-sketch pairs exactly
    val eq0 = Dedup.simhashHammingPairs(docs, "id", "text", maxDist = 0,
      width = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(eq0 == Set((1L, 2L, 0)) || eq0.forall(_._3 == 0))
  }

  test("wide (60-bit) simhash hamming pairs keep pigeonhole completeness") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "totally unrelated cooking recipe with garlic and butter sauce")
    ).toDF("id", "text")
    val sh = Dedup.simhashValues(docs, "id", "text", width = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 8
    } yield (a, b)).toSet
    val got = Dedup.simhashHammingPairs(docs, "id", "text", maxDist = 8,
        width = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"got $got expect $expect")
    assert(got.contains((1L, 2L)), "identical docs must pair at distance 0")
  }

  test("IVF ANN recall rises with probes; full probing = exact top-k") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(q, e, "id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(probes: Int): Double = {
      val approx = SimilaritySearch.ivfTopK(q, e, "id", "embedding", k = 5,
        numCentroids = 16, probes = probes)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    assert(r8 >= r2, s"recall must not fall with more probes: $r2 -> $r8")
    // probing EVERY cell scans the whole corpus ⇒ exact answer
    assert(recallAt(16) == 1.0, "full probing must equal brute force")
  }

  test("IVF assignment bounds block population and catches boundary near-dups") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val n = e.count()
    val assign = Ivf.assignments(e, "id", "embedding",
      numCentroids = 16, probes = 2)
    // every vector gets exactly `probes` cells
    assert(assign.count() == 2 * n)
    // no cell may hold a corpus-scale fraction — the point of blocking
    val maxCell = assign.groupBy("centroid_id").count()
      .agg(max("count")).head.getLong(0)
    assert(maxCell.toDouble / n <= 0.5,
      s"hottest IVF cell holds $maxCell of $n vectors")
    // a perturbed near-copy (cos ≈ 0.99) must share a cell with its
    // original — the probes=2 boundary guarantee the catalog d5 uses
    val perturbed = e.filter(col("id") % 5 === 0)
      .select((col("id") + 10000).as("id"),
        concat(array((element_at(col("embedding"), 1) + lit(0.25f)).cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairsIvf(e.unionByName(perturbed),
      "id", "embedding", numCentroids = 16, probes = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = e.filter(col("id") % 5 === 0).select("id")
      .collect().map(r => (r.getLong(0), r.getLong(0) + 10000)).toSet
    assert(expected.subsetOf(pairs),
      s"missed perturbed pairs: ${expected -- pairs}")
  }

  test("lshTopK bucketCap yields a subset of uncapped pairs, deterministically") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 10)
    def pairs(cap: Int) =
      SimilaritySearch.lshTopK(q, e, "id", "embedding", 5,
        planes = 2, tables = 2, bucketCap = cap)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(3)
    val full = pairs(Int.MaxValue)
    // a capped run may rank different survivors into the top-k, but
    // every capped CANDIDATE is an uncapped candidate; with k=5 over
    // tiny buckets the top-k sets must nest
    assert(capped.nonEmpty)
    assert(pairs(3) == capped, "cap selection must be deterministic")
    assert(full.nonEmpty)
  }

  test("lshJaccardPairs bucketCap bounds candidate mass without losing true dups") {
    // 12 docs sharing ONE hot vocabulary (every pair is a bucket
    // collision) plus an exact-dup pair: a small cap must still find
    // the exact pair (lowest ids collide inside the cap) and must
    // bound the pair count at cap²/2 per bucket.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((1L to 12L).map(i => (i, base)) :+ (100L, base)).toDF("id", "text")
    val capped = Dedup.minhashLshPairs(docs, "id", "text",
      threshold = 0.99, bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only ids 1..4 survive the per-bucket cap (first-4 by id): the
    // candidate set is exactly the 6 pairs among them
    assert(capped == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
      s"got $capped")
    // uncapped finds all 13·12/2 identical pairs
    val full = Dedup.minhashLshPairs(docs, "id", "text", threshold = 0.99)
      .count()
    assert(full == 13L * 12 / 2)
  }

  test("embeddingNearDupPairsIvf cellCap bounds a hot cell deterministically") {
    // 10 identical vectors land in one cell; cap 3 must keep exactly
    // the pairs among the 3 lowest ids
    val vec = Array.fill(8)(1.0f).toSeq
    val dupes = (1L to 10L).map(i => (i, vec)).toDF("id", "vec")
    val capped = Dedup.embeddingNearDupPairsIvf(dupes, "id", "vec",
      numCentroids = 2, probes = 1, threshold = 0.99, cellCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $capped")
    val full = Dedup.embeddingNearDupPairsIvf(dupes, "id", "vec",
      numCentroids = 2, probes = 1, threshold = 0.99)
      .count()
    assert(full == 10L * 9 / 2)
  }

  test("blockSaturation reports bound caps on the hot block") {
    val rows = ((1L to 10L).map(i => (i, "hot")) ++
      Seq((11L, "a"), (12L, "a"), (13L, "b"))).toDF("id", "block")
    val r = Dedup.blockSaturation(rows, Seq("block"), cap = 5).head
    assert(r.getLong(0) == 3)   // blocks: hot, a, b
    assert(r.getLong(1) == 1)   // only "hot" is over the cap
    assert(r.getLong(2) == 10)  // hottest population
    // exactly-full block (population == cap): __rn <= cap keeps every
    // member, so it must NOT alarm
    val full = Dedup.blockSaturation(rows, Seq("block"), cap = 10).head
    assert(full.getLong(1) == 0)
    val none = Dedup.blockSaturation(rows, Seq("block"), cap = 11).head
    assert(none.getLong(1) == 0)
    // empty frame: counts are real zeros, not null
    val empty = Dedup.blockSaturation(
      rows.filter(col("id") > 100), Seq("block"), cap = 5).head
    assert(empty.getLong(0) == 0 && empty.getLong(1) == 0)
  }

  test("embeddingNearDupPairsIvfAuto sizes cells to sqrt(n) and matches explicit") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val n = e.count()
    val cells = math.max(16, math.sqrt(n.toDouble).toInt)
    val auto = Dedup.embeddingNearDupPairsIvfAuto(e, "id", "embedding",
      probes = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.embeddingNearDupPairsIvf(e, "id", "embedding",
      numCentroids = cells, probes = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit)
  }

  test("semanticDedup keeps one survivor per embedding component") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val perturbed = e.filter(col("id") % 5 === 0)
      .select((col("id") + 10000).as("id"),
        concat(array((element_at(col("embedding"), 1) + lit(0.25f)).cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
    val corpus = e.unionByName(perturbed)
    val survivors = Dedup.semanticDedup(corpus, "id", "embedding",
      numCentroids = 16, probes = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every perturbed copy collapses onto its original (natural
    // cross-vector cosine tops out well below 0.9): the survivors are
    // exactly the natural ids, each its own cluster representative
    val naturals = e.select("id").collect().map(_.getLong(0)).toSet
    assert(survivors.map(_._1).toSet == naturals)
    assert(survivors.forall { case (id, c) => c == id })
  }

  test("semanticDedupFromPairs closes transitively (cluster, not greedy, semantics)") {
    val corpus = (1L to 5L).map(i => (i, Seq(1.0f))).toDF("id", "embedding")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.semanticDedupFromPairs(corpus, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // component {1,2,3} keeps only its min member — the greedy
    // pairwise rule (drop ids seen as id_b) would keep BOTH 1 and 2;
    // 4 and 5 are singletons and survive as their own clusters
    assert(out == Set((1L, 1L), (4L, 4L), (5L, 5L)))
  }

  test("semanticDedupFromPairs: auto ≡ driver union-find ≡ distributed fixpoint") {
    val corpus = (1L to 30L).map(i => (i, Seq(1.0f))).toDF("id", "embedding")
    // two chains + a clique + singletons
    val pairs = Seq((1L, 3L), (2L, 3L), (5L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val dist = Dedup.semanticDedupFromPairs(corpus, "id", pairs,
      driverMaxEdges = 0) // forced distributed fixpoint
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val drv = Dedup.semanticDedupFromPairs(corpus, "id", pairs,
      driverMaxEdges = 100) // forced (bound comfortably holds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drv == dist)
    // the DEFAULT auto-selects (heap-derived bound; this pair graph
    // trivially fits, so it takes the driver path) — identical labels
    val auto = Dedup.semanticDedupFromPairs(corpus, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == dist)
    assert(Dedup.defaultDriverMaxEdges() >= (1 << 16))
    // a bound one edge too small falls back to the distributed path
    val fallback = Dedup.semanticDedupFromPairs(corpus, "id", pairs,
      driverMaxEdges = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fallback == dist)
  }

  test("incrementalSemanticPairs probes a parquet round-tripped index identically") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val batch = e.filter(col("id") % 10 === 0)
      .select((col("id") + 20000).as("id"),
        concat(slice(col("embedding"), 1, 1),
          array((element_at(col("embedding"), 2) + lit(0.25f)).cast("float")),
          slice(col("embedding"), 3, 62)).as("embedding"))
    val (cb, members) = SimilaritySearch.ivfIndexFrames(e, "id", "embedding",
      numCentroids = 16, cellCap = 1000)
    val dir = tmpDir("isem")
    cb.write.parquet(s"$dir/cb")
    members.write.parquet(s"$dir/mem")
    // probes=4 against the top-1 member list: the batch side owns the
    // boundary-recall knob (the stored index is probes=1 by design —
    // at probes=2 exactly one fixture pair straddles a cell boundary)
    def pairs(c: org.apache.spark.sql.DataFrame,
        m: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalSemanticPairs(batch, "id", "embedding", c, m, e,
        probes = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = pairs(cb, members)
    val stored = pairs(spark.read.parquet(s"$dir/cb"),
      spark.read.parquet(s"$dir/mem"))
    assert(stored == direct)
    // every perturbed copy finds its original through the stored index
    val expected = e.filter(col("id") % 10 === 0).select("id")
      .collect().map(r => (r.getLong(0), r.getLong(0) + 20000)).toSet
    assert(expected.subsetOf(direct), s"missed ${expected -- direct}")
  }

  test("mmrRerank: near-duplicate hits stop crowding the list") {
    // query q; candidates: a and b are near-identical high-relevance
    // vectors, c is dissimilar with lower relevance. Plain ranking
    // returns {a, b}; MMR's second pick must be c.
    val qv = Seq(1.0f, 0.0f, 0.0f)
    val a = Seq(0.92f, 0.39f, 0.0f)
    val b = Seq(0.90f, 0.43f, 0.0f)
    val cc = Seq(0.88f, 0.0f, 0.44f)
    val vecs = Seq((100L, qv), (1L, a), (2L, b), (3L, cc))
      .toDF("id", "embedding")
    val cand = SimilaritySearch.bruteForceTopK(
      vecs.filter(col("id") === 100), vecs.filter(col("id") =!= 100),
      "id", "embedding", k = 3)
    // sanity: plain rank-2 is the near-dup
    val plain = cand.orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(plain.take(2).toSet == Set(1L, 2L))
    val mmr = SimilaritySearch.mmrRerank(cand, vecs, "id", "embedding",
      k = 3, lambdaRel = 0.7)
      .orderBy("mmr_rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(mmr.map(_._2).toSeq == Seq(1L, 3L, 2L), s"got ${mmr.toSeq}")
    // partitioning cannot move the greedy (per-group sequential)
    val mmr7 = SimilaritySearch.mmrRerank(
      cand.repartition(7), vecs, "id", "embedding", k = 3)
      .orderBy("mmr_rank").collect().map(_.getLong(2)).toSeq
    assert(mmr7 == mmr.map(_._2).toSeq)
    // an array<double> vector frame works (cast, not hard-cast crash)
    val dvecs = vecs.select(col("id"),
      col("embedding").cast("array<double>").as("embedding"))
    val mmrD = SimilaritySearch.mmrRerank(cand, dvecs, "id", "embedding",
      k = 3, lambdaRel = 0.7)
      .orderBy("mmr_rank").collect().map(_.getLong(2)).toSeq
    assert(mmrD == mmr.map(_._2).toSeq)
  }

  test("mmrRerank: degenerate inputs never stall or emit bogus picks") {
    // zero-norm vectors make cosine 0/0 — without the guard the
    // diversity scan turns every score NaN after the first pick and
    // the argmax finds nothing (crash on cands(-1) or a
    // neighbor_id=Long.MaxValue row)
    val z = Seq(0.0f, 0.0f)
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, z), (3L, z))
      .toDF("id", "embedding")
    val cand = Seq((9L, 1L, 1.0, 1), (9L, 2L, 0.5, 2), (9L, 3L, 0.4, 3))
      .toDF("query_id", "neighbor_id", "cos", "rank")
    val picks = SimilaritySearch.mmrRerank(cand, vecs, "id", "embedding",
      k = 3).orderBy("mmr_rank").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    // zero-norm candidates count as 0 similarity: all three rank,
    // in relevance order, none with a sentinel id
    assert(picks.toSeq == Seq((1, 1L), (2, 2L), (3, 3L)), s"got ${picks.toSeq}")
    // NaN relevance: never a valid pick; the list ends early instead
    val nanCand = Seq((9L, 1L, 1.0, 1), (9L, 2L, Double.NaN, 2),
      (9L, 3L, Double.NaN, 3)).toDF("query_id", "neighbor_id", "cos", "rank")
    val nanPicks = SimilaritySearch.mmrRerank(nanCand, vecs, "id",
      "embedding", k = 3).collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(nanPicks.toSeq == Seq((1, 1L)), s"got ${nanPicks.toSeq}")
  }

  test("rrfFuse: contributions sum, missing lists contribute 0, ties break on id") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = SimilaritySearch.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // 20 leads: 1/62 + 1/61 > any single-list contribution
    assert(out.head._2 == 20L)
    val expect = Map(
      10L -> 1.0 / 61, 20L -> (1.0 / 62 + 1.0 / 61),
      30L -> 1.0 / 63, 40L -> 1.0 / 62)
    out.foreach { case (_, id, s) =>
      assert(math.abs(s - expect(id)) < 1e-6, s"$id: $s") }
    // 10 (1/61 from list a only) vs 40 (1/62): 10 outranks 40
    assert(out.map(_._2).indexOf(10L) < out.map(_._2).indexOf(40L))
    // identical scores tie-break on id: two singletons at equal rank
    val t1 = Seq((5L, 1)).toDF("id", "rank")
    val t2 = Seq((3L, 1)).toDF("id", "rank")
    val tied = SimilaritySearch.rrfFuse(Seq(t1, t2), k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(tied.toSeq == Seq((1, 3L), (2, 5L)))
  }

  test("autoBandGeometry derives depth from n and width from recall") {
    // n=500, t=0.8: r = ceil(ln 500 / ln(1/0.3)) = 6;
    // b = ceil(ln 10 / 0.8^6) = 9
    assert(Dedup.autoBandGeometry(500L, 0.8) == (54, 9))
    // deeper bands at larger n (noise mass stays sublinear)...
    val (k1, b1) = Dedup.autoBandGeometry(500L, 0.8)
    val (k2, b2) = Dedup.autoBandGeometry(200000L, 0.8)
    assert(k2 / b2 > k1 / b1)
    // ...and more bands to hold the recall target at the deeper rows
    assert(b2 > b1)
    // floor: tiny corpora still get the reference depth of 4
    assert(Dedup.autoBandGeometry(10L, 0.8)._1 % 4 == 0)
    assert(Dedup.autoBandGeometry(10L, 0.8)._1 /
      Dedup.autoBandGeometry(10L, 0.8)._2 == 4)
  }

  test("minhashLshPairsAuto matches explicit at the derived geometry") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val dup = docs.filter(col("id") % 4 === 0)
      .select((col("id") + 10000).as("id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val corpus = docs.unionByName(dup)
    val n = corpus.count()
    val (numHashes, bands) = Dedup.autoBandGeometry(n, 0.8)
    val auto = Dedup.minhashLshPairsAuto(corpus, "id", "text",
      threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.minhashLshPairs(corpus, "id", "text",
      shingleLen = 3, numHashes = numHashes, bands = bands, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit)
    assert(auto.nonEmpty)
  }

  test("ngramJaccardPairsAuto matches explicit at the derived geometry") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val dup = docs.filter(col("id") % 4 === 0)
      .select((col("id") + 10000).as("id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val corpus = docs.unionByName(dup)
    val n = corpus.count()
    val (numHashes, bands) = Dedup.autoBandGeometry(n, 0.8)
    val auto = Dedup.ngramJaccardPairsAuto(corpus, "id", "text",
      threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.ngramJaccardPairs(corpus, "id", "text",
      n = 5, numHashes = numHashes, bands = bands, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit)
    assert(auto.nonEmpty)
  }

  test("langId picks the stopword-dominant language") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "der hund und die katze sind nicht da",
      "el perro y la casa de los vecinos",
      "le chat et les souris dans la maison",
      "zzz qqq www").toDF("text")
    val got = df.select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "fr", "und"))
  }

  test("quality score is bounded and ranks clean text above digit soup") {
    val df = Seq(
      ("clean", "the report covers a range of topics that it presents in detail for the reader"),
      ("soup", "8237 2384 9283 1123 4455 6677 8899 0011 2233 4455")
    ).toDF("k", "text")
    val s = df.select(col("k"), TextAnalysis.qualityScore(col("text")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s("clean") > s("soup"))
    assert(s.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("rolling fingerprint is order-sensitive where md5 fp is not") {
    val df = Seq(("a b c"), ("c b a")).toDF("text")
      .select(rollingFingerprint(tokens(col("text"))).as("r"))
    val vals = df.as[Long].collect()
    assert(vals(0) != vals(1))
  }

  test("dsir slot counts are additive: stored batch rollup reproduces one-shot weights") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark vector search at scale"),
      (2L, "cooking with garlic and butter"),
      (3L, "vector quantization for retrieval"),
      (4L, "a walk in the park"),
      (5L, "hash join exchange plans")).toDF("id", "text")
    val target = docs.filter(col("text").contains("vector"))
    val root = Scratch.tempDir("dsir-add-")
    val store = new ParquetTableStore(s"$root/store")
    // commit the λ model the way the streaming loop does: one
    // (batch_id, slot, c) upsert per batch + the static target
    store.commit(spark, "dsir_target",
      TextAnalysis.dsirSlotCounts(target, "text", 256))
    Seq(docs.filter(col("id") <= 2), docs.filter(col("id") > 2))
      .zipWithIndex.foreach { case (b, i) =>
        store.upsert(spark, "dsir_slots",
          TextAnalysis.dsirSlotCounts(b, "text", 256)
            .select(lit(i.toLong).as("batch_id"), col("slot"), col("c")),
          Seq("batch_id", "slot"))
      }
    val stored = TextAnalysis.dsirWeightsFromStore(docs, "id", "text",
      store, buckets = 256).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val oneShot = TextAnalysis.dsirWeights(docs, "id", "text",
      target, "text", buckets = 256)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(stored == oneShot && stored.nonEmpty)
    // target-like docs score above unrelated ones
    val m = stored.toMap
    assert(m(1L) > m(2L) && m(3L) > m(4L))
    // a model committed WITH its feature family recorded (the
    // dsirIngest form) refuses a drifted probe — mismatched slot
    // spaces would compute silently-wrong weights
    val root2 = Scratch.tempDir("dsir-meta-")
    val store2 = new ParquetTableStore(s"$root2/store")
    store2.commit(spark, "dsir_target",
      TextAnalysis.dsirSlotCounts(target, "text", 256)
        .withColumn("buckets", lit(256)).withColumn("char_n", lit(-1)))
    store2.upsert(spark, "dsir_slots",
      TextAnalysis.dsirSlotCounts(docs, "text", 256)
        .select(lit(0L).as("batch_id"), col("slot"), col("c")),
      Seq("batch_id", "slot"))
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeightsFromStore(docs, "id", "text", store2,
        buckets = 512)
    }
    assert(ex.getMessage.contains("buckets=256"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeightsFromStore(docs, "id", "text", store2,
        buckets = 256, charNgrams = Some(4))
    }
    assert(ex2.getMessage.contains("charNgrams=None"), ex2.getMessage)
  }

  // ---- mutable stored IVF (ss17: build → reindex → probe) ----

  private def mutatedCorpus(e: org.apache.spark.sql.DataFrame) =
    e.select(col("id"),
      when(col("id") % 7 === 0, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))

  private def probeRows(store: ParquetTableStore,
      corpus: org.apache.spark.sql.DataFrame) =
    SimilaritySearch.ivfTopKStored(
      corpus.filter(col("id") >= 100 && col("id") < 110), corpus,
      "id", "embedding", store, k = 5, probes = 8, cellCap = 1000)
      .select("query_id", "rank", "neighbor_id").collect().toSet

  test("mutable stored IVF: probe after reindex equals rebuild over the mutated corpus") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val mutated = mutatedCorpus(e)
    val rootA = Scratch.tempDir("ivf-mut-a-")
    val a = new ParquetTableStore(s"$rootA/store")
    // path A: build on the original, reindex the changed vectors
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", a,
      numCentroids = 32)
    SimilaritySearch.ivfReindexVectors(
      e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding")),
      "id", "embedding", a)
    // path C: same pinned (original-corpus) codebook, then reindex
    // EVERY vector of the mutated corpus — the degenerate full
    // reindex IS the rebuild twin under the build-pinned geometry
    val rootC = Scratch.tempDir("ivf-mut-c-")
    val c = new ParquetTableStore(s"$rootC/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", c,
      numCentroids = 32)
    SimilaritySearch.ivfReindexVectors(mutated, "id", "embedding", c)
    val afterFold = probeRows(a, mutated)
    val afterFull = probeRows(c, mutated)
    assert(afterFold.nonEmpty && afterFold == afterFull)
    // the mutation is visible: the probe differs from the pre-mutation
    // answer for at least one query (105 is both query and mutated)
    val rootD = Scratch.tempDir("ivf-mut-d-")
    val d = new ParquetTableStore(s"$rootD/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", d,
      numCentroids = 32)
    assert(probeRows(d, e) != afterFold)
  }

  test("mutable stored IVF: rebuild over a previously-reindexed store clears stale tombstones") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val root = Scratch.tempDir("ivf-rebuild-")
    val store = new ParquetTableStore(s"$root/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    SimilaritySearch.ivfReindexVectors(
      e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding")),
      "id", "embedding", store)
    // rebuild over the mutated store (the documented repair path):
    // the prior reindex's standing tombstones must NOT mark the
    // fresh gen-0 members dead or leave the meta pin torn
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    val fresh = new ParquetTableStore(
      s"${Scratch.tempDir("ivf-rebuild-f-")}/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", fresh,
      numCentroids = 32)
    assert(probeRows(store, e) == probeRows(fresh, e))
    // mutations keep working on the rebuilt store
    SimilaritySearch.ivfReindexVectors(
      e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding")),
      "id", "embedding", store)
    assert(probeRows(store, mutatedCorpus(e)).nonEmpty)
  }

  test("mutable stored IVF: reindex is effect-idempotent (the st10 no-ledger replay contract)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val root = Scratch.tempDir("ivf-replay-")
    val store = new ParquetTableStore(s"$root/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    val delta = e.filter(col("id") % 7 === 0)
      .select(col("id"), reverse(col("embedding")).as("embedding"))
    SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
    val mutated = mutatedCorpus(e)
    val once = probeRows(store, mutated)
    // the replayed fold re-tombstones and re-appends the SAME live
    // membership at a higher generation — probe unchanged, and the
    // dead rows stay bounded by churn (compaction's job)
    SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
    assert(probeRows(store, mutated) == once)
    SimilaritySearch.ivfCompactIndex(spark, store)
    assert(probeRows(store, mutated) == once)
  }

  test("mutable stored IVF: torn states are refused; compaction repairs the recoverable shape") {
    // a torn state is never observable: a crashed mutation's
    // leftovers sit at the table heads, the probe reads the marker's
    // snapshot, and compaction — or the next mutation — rewrites the
    // family from that snapshot
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val root = Scratch.tempDir("ivf-torn-")
    val store = new ParquetTableStore(s"$root/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    val delta = e.filter(col("id") % 7 === 0)
      .select(col("id"), reverse(col("embedding")).as("embedding"))
    SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
    val mutated = mutatedCorpus(e)
    val healthy = probeRows(store, mutated)
    def plantLeftovers(): Unit = {
      // a reindex that crashed after its tombstone upsert ...
      store.upsert(spark, "ivf_tombstones",
        Seq((9999999L, 1L)).toDF("neighbor_id", "dead_below"),
        Seq("neighbor_id"))
      // ... and one that crashed between its members append and its
      // tombstone upsert: a second LIVE generation for id 0 (the
      // shape compaction used to refuse as unrepairable)
      store.appendBucketed(spark, "ivf_members",
        Seq((0L, 0L, 5L)).toDF("centroid_id", "neighbor_id", "gen"),
        Seq("centroid_id"))
    }
    def leftovers(): Long =
      store.read(spark, "ivf_members").filter(col("gen") === 5L).count() +
        store.read(spark, "ivf_tombstones")
          .filter(col("neighbor_id") === 9999999L).count()
    def headsAtMarker(): Boolean = store.groupVersions("ivf_meta").get
      .forall { case (t, v) => store.currentVersion(t).contains(v) }
    plantLeftovers()
    assert(leftovers() == 2 && !headsAtMarker())
    assert(probeRows(store, mutated) == healthy)
    SimilaritySearch.ivfCompactIndex(spark, store)
    // repaired: heads are the marker's, leftovers gone, tombstones
    // cleared, answer unchanged
    assert(headsAtMarker() && leftovers() == 0)
    assert(store.read(spark, "ivf_tombstones").count() == 0)
    assert(probeRows(store, mutated) == healthy)
    // compaction is idempotent on a clean index: it commits nothing
    val clean = store.groupVersions("ivf_meta").get
    SimilaritySearch.ivfCompactIndex(spark, store)
    assert(store.groupVersions("ivf_meta").get == clean)
    assert(probeRows(store, mutated) == healthy)
    // a mutation over leftovers repairs first, then folds (the
    // replayed delta is effect-idempotent)
    plantLeftovers()
    SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
    assert(headsAtMarker() && leftovers() == 0)
    assert(probeRows(store, mutated) == healthy)
  }

  test("mutable stored IVF: a probe racing a rebuild refuses on the codebook pin") {
    // the rebuild window: a NEW codebook is committed while the
    // members still carry old-codebook assignments. The marker still
    // names the old codebook, so a probe answers the pre-rebuild
    // index exactly instead of mixing the two
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val root = Scratch.tempDir("ivf-race-")
    val store = new ParquetTableStore(s"$root/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    val before = probeRows(store, e)
    val codebook = store.read(spark, "ivf_codebook").collect().toSet
    def crashRebuild(): Unit = store.commit(spark, "ivf_codebook",
      e.filter(col("id") >= 500).limit(32)
        .select(col("id").as("cid"), col("embedding").as("cvec")))
    crashRebuild()
    assert(store.read(spark, "ivf_codebook").collect().toSet != codebook)
    assert(probeRows(store, e) == before)
    // compaction repairs a crashed rebuild: the marker's codebook is
    // re-committed at the head
    SimilaritySearch.ivfCompactIndex(spark, store)
    assert(store.read(spark, "ivf_codebook").collect().toSet == codebook)
    assert(probeRows(store, e) == before)
    // re-running the rebuild over a crashed one yields the fresh index
    crashRebuild()
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    assert(store.read(spark, "ivf_codebook").collect().toSet == codebook)
    assert(probeRows(store, e) == before && before.nonEmpty)
  }

  test("chunk-grain near-dup catches boilerplate repeats doc-grain misses (tp15 probe)") {
    import spark.implicits._
    // a 120-token boilerplate paragraph embedded in otherwise-distinct
    // docs: the unit that actually repeats in training shards
    val boiler = (0 until 120).map(i => s"bp$i").mkString(" ")
    val corpus = ((0L, boiler) +:
      (1L to 10L).map(i =>
        (i, (0 until 200).map(k => s"d${i}w$k").mkString(" ")))).toDF("id", "text")
    val batch = (1L to 5L).map { j =>
      (10000L + j,
        (0 until 48).map(k => s"n${j}p$k").mkString(" ") + " " + boiler +
          " " + (0 until 100).map(k => s"n${j}s$k").mkString(" "))
    }.toDF("id", "text")
    def probe(c: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long = {
      val sigs = Dedup.lshSignatures(c, "id", "text", shingleLen = 3)
      val index = Dedup.lshBandIndex(sigs, 32, 8, 1000)
      Dedup.incrementalLshPairs(b, "id", "text", index, sigs,
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.6)
        .select("new_id").distinct().count()
    }
    // doc grain: the boiler is ~45% of each batch doc's shingles —
    // below threshold, every leak missed
    assert(probe(corpus, batch) == 0)
    // chunk grain: the embedded paragraph aligns into whole windows
    // and every batch doc's boiler chunk dups the corpus's — caught
    def chunksOf(src: org.apache.spark.sql.DataFrame) =
      TextAnalysis.chunk(src, "id", "text", windowTokens = 64, stride = 48)
        .select((col("id") * 10000 + col("chunk_no")).as("id"),
          col("chunk_text").as("text"))
    val dupChunks = probe(chunksOf(corpus), chunksOf(batch))
    assert(dupChunks >= 5,
      s"expected every batch doc's boiler chunk flagged, got $dupChunks")
  }

  test("ss22 recall band: the mutated stored pair holds its band; exact rerank recovers ADC-impostor loss") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val root = Scratch.tempDir("ss22-band-")
    val store = new ParquetTableStore(s"$root/store")
    SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
      numCentroids = 32)
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store,
      m = 8, ks = 16, dim = 64)
    SimilaritySearch.ivfPqPairPin(spark, store)
    val delta = e.filter(col("id") % 7 === 0)
      .select(col("id"), reverse(col("embedding")).as("embedding"))
    SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
    SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
    SimilaritySearch.ivfPqPairPin(spark, store)
    val mut = mutatedCorpus(e)
    val q = mut.filter(col("id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(q, mut, "id", "embedding",
      k = 10)
    def hitsAt(probes: Int): Long = SimilaritySearch.recallAtK(exact,
        SimilaritySearch.ivfPqTopKStored(q, "id", "embedding", store,
          k = 10, probes = probes, cellCap = 100000), k = 10)
      .agg(org.apache.spark.sql.functions.sum("hits")).head.getLong(0)
    // the band: ss21 proves probe ≡ re-encode; this proves the pair
    // actually RETRIEVES — the fixture measures 32/100 at probes=8
    // (sample codebooks, ks=16: the honest quality of un-refined PQ),
    // pinned at 25 with variance margin. Exceeding the band is free;
    // a collapsed codebook or starved probe drops through it.
    val h8 = hitsAt(8)
    assert(h8 >= 25L, s"recall@10 sum $h8/100 fell through the band")
    // measured and pinned: recall is NOT probe-monotonic under an
    // approximate scorer (unlike ss8's exact-cosine IVF) — more
    // probes admit more ADC impostors, which displace true neighbors
    // (32 hits at probes=8 vs 24 at probes=32 on this fixture). The
    // production answer is shortlist-and-rerank: exact cosine over a
    // deep full-probe shortlist must recover at least the starved
    // raw-ADC recall.
    val h32 = hitsAt(32)
    assert(h32 >= 15L, s"full-probe raw ADC collapsed: $h32/100")
    import org.apache.spark.sql.expressions.Window
    import graft.plans.VectorKernels.dotProduct
    val shortlist = SimilaritySearch.ivfPqTopKStored(q, "id", "embedding",
        store, k = 40, probes = 32, cellCap = 100000)
      .select("query_id", "neighbor_id")
    val qv = mut.select(col("id").as("query_id"), col("embedding").as("qv"))
    val cv = mut.select(col("id").as("neighbor_id"), col("embedding").as("cv"))
    val reranked = shortlist.join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("cos", dotProduct(col("qv"), col("cv")) /
        (sqrt(dotProduct(col("qv"), col("qv"))) *
          sqrt(dotProduct(col("cv"), col("cv")))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= 10)
    val hRerank = SimilaritySearch.recallAtK(exact, reranked, k = 10)
      .agg(org.apache.spark.sql.functions.sum("hits")).head.getLong(0)
    assert(hRerank >= h8,
      s"exact rerank of the 40-deep shortlist recalled $hRerank < raw $h8")
  }

  // ---- mutable stored PQ (ss20: build → re-encode → probe) ----

  private def pqProbeRows(store: ParquetTableStore,
      queries: org.apache.spark.sql.DataFrame) =
    SimilaritySearch.pqTopKStored(queries, "id", "embedding", store, k = 5)
      .select("query_id", "rank", "neighbor_id", "dist").collect().toSet

  test("mutable stored PQ: probe after reindex equals full re-encode under the pinned codebook") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val mutated = mutatedCorpus(e)
    val queries = mutated.filter(col("id") < 10)
    // path A: build on the original, re-encode only the changed ids
    val a = new ParquetTableStore(s"${Scratch.tempDir("pq-mut-a-")}/store")
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", a,
      m = 8, ks = 16, dim = 64)
    SimilaritySearch.pqReindexVectors(
      e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding")),
      "id", "embedding", a)
    // path C: same pinned codebook, degenerate FULL reindex — the
    // re-encode-from-scratch twin under the frozen geometry
    val c = new ParquetTableStore(s"${Scratch.tempDir("pq-mut-c-")}/store")
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", c,
      m = 8, ks = 16, dim = 64)
    SimilaritySearch.pqReindexVectors(mutated, "id", "embedding", c)
    val afterFold = pqProbeRows(a, queries)
    val afterFull = pqProbeRows(c, queries)
    assert(afterFold.nonEmpty && afterFold == afterFull)
    // the mutation is visible vs the unmutated index (ids 0 and 7 are
    // both queries and mutated)
    val d = new ParquetTableStore(s"${Scratch.tempDir("pq-mut-d-")}/store")
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", d,
      m = 8, ks = 16, dim = 64)
    assert(pqProbeRows(d, e.filter(col("id") < 10)) != afterFold)
  }

  test("mutable stored PQ: replayed reindex no-ops; compaction repairs and refuses correctly") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val root = Scratch.tempDir("pq-replay-")
    val store = new ParquetTableStore(s"$root/store")
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store,
      m = 8, ks = 16, dim = 64)
    val delta = e.filter(col("id") % 7 === 0)
      .select(col("id"), reverse(col("embedding")).as("embedding"))
    SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
    val queries = mutatedCorpus(e).filter(col("id") < 10)
    val once = pqProbeRows(store, queries)
    // replay: same live codes at a higher generation — probe unchanged
    SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
    assert(pqProbeRows(store, queries) == once)
    SimilaritySearch.pqCompactIndex(spark, store)
    assert(pqProbeRows(store, queries) == once)
    assert(store.read(spark, "pq_tombstones").count() == 0)
    def headsAtMarker(st: ParquetTableStore, group: String): Boolean =
      st.groupVersions(group).get
        .forall { case (t, v) => st.currentVersion(t).contains(v) }
    def plantTombstone(st: ParquetTableStore, table: String): Unit =
      st.upsert(spark, table,
        Seq((9999999L, 1L)).toDF("neighbor_id", "dead_below"),
        Seq("neighbor_id"))
    // a crashed reindex's tombstone upsert: invisible to the probe,
    // and the next reindex repairs from the marker before folding
    plantTombstone(store, "pq_tombstones")
    assert(!headsAtMarker(store, "pq_meta"))
    assert(pqProbeRows(store, queries) == once)
    SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
    assert(headsAtMarker(store, "pq_meta"))
    assert(store.read(spark, "pq_tombstones")
      .filter(col("neighbor_id") === 9999999L).count() == 0)
    assert(pqProbeRows(store, queries) == once)
    // the shape compaction used to refuse: two live generations for
    // one id (a reindex crashed between its append and its tombstone
    // upsert) — invisible, and compaction now repairs it
    store.appendBucketed(spark, "pq_codes",
      store.read(spark, "pq_codes").filter(col("neighbor_id") === 0L)
        .limit(1)
        .select(col("neighbor_id"), col("codes"), lit(99L).as("gen")),
      Seq("neighbor_id"))
    assert(pqProbeRows(store, queries) == once)
    SimilaritySearch.pqCompactIndex(spark, store)
    assert(headsAtMarker(store, "pq_meta"))
    assert(store.read(spark, "pq_codes").filter(col("gen") === 99L)
      .count() == 0)
    assert(pqProbeRows(store, queries) == once)
    // the COMBINED stored probe (ss21): a torn state in EITHER family
    // is invisible through the pair marker
    def pairStore(prefix: String): ParquetTableStore = {
      val st = new ParquetTableStore(s"${Scratch.tempDir(prefix)}/store")
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", st,
        numCentroids = 32)
      SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", st,
        m = 8, ks = 16, dim = 64)
      SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", st)
      SimilaritySearch.pqReindexVectors(delta, "id", "embedding", st)
      SimilaritySearch.ivfPqPairPin(spark, st)
      st
    }
    def combinedOf(st: ParquetTableStore) =
      SimilaritySearch.ivfPqTopKStored(queries, "id", "embedding", st,
        k = 5, probes = 8, cellCap = 1000).collect().toSeq
    val store3 = pairStore("ivfpq-torn-")
    val combined = combinedOf(store3)
    assert(combined.nonEmpty)
    plantTombstone(store3, "pq_tombstones")
    assert(combinedOf(store3) == combined)
    plantTombstone(store3, "ivf_tombstones")
    assert(combinedOf(store3) == combined)
    // the compacts move both family markers; the pair marker still
    // names the pre-compaction snapshot, which stays readable
    SimilaritySearch.pqCompactIndex(spark, store3)
    SimilaritySearch.ivfCompactIndex(spark, store3)
    assert(combinedOf(store3) == combined)
    SimilaritySearch.ivfPqPairPin(spark, store3)
    assert(combinedOf(store3) == combined)
    // CROSS-FAMILY tear: one family folds a new delta, the other
    // hasn't yet — the probe keeps answering from the previous pair
    // snapshot instead of ranking fresh candidates against stale codes
    val delta2 = e.filter(col("id") % 11 === 0)
      .select(col("id"), reverse(col("embedding")).as("embedding"))
    SimilaritySearch.ivfReindexVectors(delta2, "id", "embedding", store3)
    assert(combinedOf(store3) == combined)
    // completing the PQ fold and re-pinning publishes the new state,
    // equal to a clean run of both deltas
    SimilaritySearch.pqReindexVectors(delta2, "id", "embedding", store3)
    SimilaritySearch.ivfPqPairPin(spark, store3)
    val clean = pairStore("ivfpq-clean-")
    SimilaritySearch.ivfReindexVectors(delta2, "id", "embedding", clean)
    SimilaritySearch.pqReindexVectors(delta2, "id", "embedding", clean)
    SimilaritySearch.ivfPqPairPin(spark, clean)
    assert(combinedOf(store3) == combinedOf(clean))
    assert(combinedOf(store3) != combined)

    // crashed REBUILD (a fresh codebook committed, the codes still
    // under the old one): the probe answers the pre-rebuild index,
    // compaction restores the marker's codebook, the rebuild completes
    val root2 = Scratch.tempDir("pq-race-")
    val store2 = new ParquetTableStore(s"$root2/store")
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store2,
      m = 8, ks = 16, dim = 64)
    val pre = pqProbeRows(store2, e.filter(col("id") < 10))
    store2.commit(spark, "pq_codebook", store2.read(spark, "pq_codebook")
      .select(col("j"), col("c"), reverse(col("cvec")).as("cvec")))
    assert(pqProbeRows(store2, e.filter(col("id") < 10)) == pre)
    SimilaritySearch.pqCompactIndex(spark, store2)
    assert(headsAtMarker(store2, "pq_meta"))
    assert(pqProbeRows(store2, e.filter(col("id") < 10)) == pre)
    SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store2,
      m = 8, ks = 16, dim = 64)
    assert(pqProbeRows(store2, e.filter(col("id") < 10)) == pre)
  }

  test("stored pair: legacy pair-TABLE pin honored; ivfPqPairPin migrates it") {
    // a store written before the index families became store groups
    // keeps its pins in meta tables and the pair pin in a one-row
    // TABLE. Nothing reads them any more: probes and the pair pin
    // refuse typed, and rebuilding both families is the migration
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val queries = e.filter(col("id") < 5)
    def pinned(st: ParquetTableStore): Unit = {
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", st,
        numCentroids = 16)
      SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", st,
        m = 8, ks = 16, dim = 64)
      SimilaritySearch.ivfPqPairPin(spark, st)
    }
    def probe(st: ParquetTableStore) =
      SimilaritySearch.ivfPqTopKStored(queries, "id", "embedding", st,
        k = 5, probes = 8, cellCap = 1000).collect().toSeq
    val fresh = new ParquetTableStore(
      s"${Scratch.tempDir("ivfpq-legacy-f-")}/store")
    pinned(fresh)
    val expected = probe(fresh)
    // rewind to the parent layout: markers gone, meta + pair tables
    val store = new ParquetTableStore(
      s"${Scratch.tempDir("ivfpq-legacy-")}/store")
    pinned(store)
    Seq("ivf_meta", "pq_meta", "ivfpq_pair_meta")
      .foreach(g => assert(store.dropGroup(g)))
    store.commit(spark, "ivf_meta", Seq((2L, 0L, 0L))
      .toDF("members_version", "tombstones_version", "codebook_version"))
    store.commit(spark, "pq_meta", Seq((0L, 0L, 0L, 8, 16, 64))
      .toDF("codes_version", "tombstones_version", "codebook_version",
        "m", "ks", "dim"))
    store.commit(spark, "ivfpq_pair_meta",
      Seq((0L, 0L)).toDF("ivf_meta_version", "pq_meta_version"))
    val exProbe = intercept[SimilaritySearch.IndexFormatException](
      probe(store))
    assert(exProbe.getMessage.contains("rebuild"), exProbe.getMessage)
    intercept[SimilaritySearch.IndexFormatException](
      SimilaritySearch.ivfPqPairPin(spark, store))
    // rebuilding both families is the migration: the meta tables go,
    // the pair pin becomes a marker, the answer is the fresh store's
    pinned(store)
    assert(!store.exists("ivf_meta") && !store.exists("pq_meta"))
    assert(store.groupVersions("ivfpq_pair_meta").get.keySet ==
      Set("ivf_codebook", "ivf_members", "ivf_tombstones",
        "pq_codebook", "pq_codes", "pq_tombstones"))
    assert(probe(store) == expected && expected.nonEmpty)
  }
}
