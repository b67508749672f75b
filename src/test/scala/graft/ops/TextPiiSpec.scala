package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextPiiSpec extends SparkSpec {

  private def redactOne(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").select(TextAnalysis.redactPii(col("t"))).head.getString(0)
  }

  test("emails, IPs and phones are redacted") {
    assert(redactOne("mail a.b_c%x@foo-bar.example.com now")
      == "mail <EMAIL> now")
    assert(redactOne("ip 10.1.255.7 and 192.168.0.1.")
      == "ip <IP> and <IP>.")
    assert(redactOne("call +1 555-123-4567 or (555) 123-4567 x")
      == "call <PHONE> or <PHONE> x")
  }

  test("ordering: an email's dotted domain is not counted as an IP") {
    import spark.implicits._
    // the email's domain embeds a dotted quad ("10.2.3.44.example.com");
    // because emails redact FIRST, that quad never reaches the IPv4
    // stage — only the bare host IP counts
    val row = Seq("from u1@10.2.3.44.example.com and host 10.9.9.9").toDF("t")
      .select(TextAnalysis.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .head
    assert(row.getAs[Int]("n_email") == 1)
    assert(row.getAs[Int]("n_ipv4") == 1)
    assert(row.getAs[Int]("n_phone") == 0)
    // a bare-IP "domain" is NOT an email (the TLD must be alphabetic),
    // so it falls through to the IPv4 stage instead
    val row2 = Seq("from u1@10.2.3.44 x").toDF("t")
      .select(TextAnalysis.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .head
    assert(row2.getAs[Int]("n_email") == 0)
    assert(row2.getAs[Int]("n_ipv4") == 1)
  }

  test("clean text is untouched and counts are zero") {
    import spark.implicits._
    val clean = "the quick brown fox at noon"
    assert(redactOne(clean) == clean)
    val row = Seq(clean).toDF("t")
      .select(TextAnalysis.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .head
    assert((0 until 3).forall(row.getInt(_) == 0))
  }

  test("chunking: window/stride arithmetic, tail rule, full coverage") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks: 1 chunk
      (2L, (1 to 64).map(i => s"w$i").mkString(" ")), // exactly 1 window, but 64 > 48 => 2 starts
      (3L, (1 to 100).map(i => s"w$i").mkString(" ")),
      (4L, "   ")                                     // no tokens: no chunks
    ).toDF("doc_id", "text")
    val c = TextAnalysis.chunk(docs, "doc_id", "text",
      windowTokens = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val byDoc = c.groupBy(_._1)
    assert(!byDoc.contains(4L))
    assert(byDoc(1L).toSeq == Seq((1L, 0L, 0L, 10L,
      (1 to 10).map(i => s"w$i").mkString(" "))))
    // doc 2: starts 0 and 48; tail chunk = tokens 49..64 (16 tokens)
    assert(byDoc(2L).map(x => (x._2, x._3, x._4)).toSet ==
      Set((0L, 0L, 64L), (1L, 48L, 16L)))
    // doc 3: starts 0, 48, 96; every token appears in some chunk
    assert(byDoc(3L).map(_._3).toSet == Set(0L, 48L, 96L))
    val covered = byDoc(3L).flatMap(x => x._5.split(" ")).toSet
    assert(covered == (1 to 100).map(i => s"w$i").toSet)
    // overlap: chunk k starts mid-window of chunk k-1
    val c0 = byDoc(3L).find(_._2 == 0L).get._5.split(" ")
    val c1 = byDoc(3L).find(_._2 == 1L).get._5.split(" ")
    assert(c0.drop(48).toSeq == c1.take(16).toSeq)
  }

  test("vocabCoverage: ranks, counts, and a monotone curve to 1.0") {
    import spark.implicits._
    // a 10 b 6 c 3 d 1 — 20 tokens total
    val df = Seq("a a a a a b b b c", "a a a a a b b b c c d", "")
      .toDF("text")
    val full = TextAnalysis.vocabCoverage(df, "text", k = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(full.toSeq == Seq((1, "a", 10L, 0.5), (2, "b", 6L, 0.8),
      (3, "c", 3L, 0.95), (4, "d", 1L, 1.0)))
    // truncation keeps the head of the same curve
    val top2 = TextAnalysis.vocabCoverage(df, "text", k = 2).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(top2.toSeq == Seq((1, "a"), (2, "b")))
    // count ties broken by token, deterministically
    val tied = TextAnalysis.vocabCoverage(
      Seq("z y z y").toDF("text"), "text", k = 2).collect()
      .map(_.getString(1))
    assert(tied.toSeq == Seq("y", "z"))
  }

  test("vocabCoverage plan: top-k via TakeOrdered, one token exchange") {
    import spark.implicits._
    val plan = TextAnalysis.vocabCoverage(
      Seq("a b c").toDF("text"), "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must never full-sort:\n$plan")
    val exchanges = "hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"only the token count may exchange:\n$plan")
  }

  test("gopherFilter: each rule drops its own violator, clean doc passes") {
    import spark.implicits._
    val good = "alpha beta gamma delta epsilon zeta eta theta"     // 8 distinct
    val shortDoc = "alpha beta"                                    // length rule
    val dupSoup = "spam spam spam spam spam alpha beta gamma"      // dup-token rule
    val bigramLoop = ("click here " * 4).trim + " alpha beta gamma delta" // bigram rule
    val docs = Seq((1L, good), (2L, shortDoc), (3L, dupSoup), (4L, bigramLoop))
      .toDF("id", "text")
    val kept = TextAnalysis.gopherFilter(docs, "text",
      maxDupTokenPct = 30, maxTopBigramPct = 20, minTokens = 5,
      maxTokens = 100).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
    // no-bigram doc passes the bigram rule (no repetition evidence)
    val one = Seq((9L, "single")).toDF("id", "text")
    assert(TextAnalysis.gopherFilter(one, "text", minTokens = 1)
      .count() == 1)
    // pure per-row filter: no exchange anywhere
    val plan = TextAnalysis.gopherFilter(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("bigramLmScore: add-one smoothed mean log-prob, short docs excluded, partition-invariant") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"), (4L, "  "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus = docs 1,2 (>=2 tokens); V = |{a,b}| = 2
    // C2(a,b)=3, C2(b,a)=1; C1(a)=3, C1(b)=1
    val lpAB = math.log(4.0 / 5.0) // (3+1)/(3+2)
    val lpBA = math.log(2.0 / 3.0) // (1+1)/(1+2)
    assert(out.keySet == Set(1L, 2L), out)
    assert(out(1L)._1 == 3 && out(2L)._1 == 1)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == r6((lpAB + lpBA + lpAB) / 3.0), out(1L))
    assert(out(2L)._2 == r6(lpAB), out(2L))
    // the position-ordered fold makes the float sum partitioning-proof
    val shuffled = TextAnalysis.bigramLmScore(
      docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(shuffled == out.map { case (k, v) => k -> v._2 })
    // nothing corpus-sized broadcasts: only the 1-row vocab count may
    val plan = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl == 1, s"the vocab scalar attaches as the only BNLJ:\n$plan")
    assert(bhj <= 2, s"count tables may broadcast only at toy scale:\n$plan")
  }

  test("perplexityBuckets: tertile split is monotone and partitions the scored corpus") {
    import spark.implicits._
    // 10 docs sharing a vocabulary, increasingly atypical tails
    val docs = (1L to 10L).map { i =>
      val base = "the cat sat on the mat " * 3
      val noise = (1L to i).map(j => s"zz${i}_$j").mkString(" ")
      (i, s"$base $noise")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.length == 10, "every >=2-token doc gets a bucket")
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"), byBucket.keySet)
    // p30/p70 cuts: ~3 tail, ~4 middle, ~3 head on 10 docs
    assert(byBucket("head").size == 3 && byBucket("tail").size == 3, byBucket)
    // monotone: min(head) >= max(middle) >= ... >= max(tail)
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // every scalar frame (two vocab counts — one per LM subtree —
    // plus the cut row) attaches as a broadcast, never a corpus
    // shuffle: all BNLJs are 1-row builds by construction
    val plan = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 3, plan)
  }

  test("tfidfTopK: hand-computed scores, zero-idf floor, group-limit plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple banana cherry cherry")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3)))
      .toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=3; df(apple)=2, df(banana)=3, df(cherry)=2
    assert(out((1L, 1)) == (("apple", r6(2 * math.log(1.5)))), out((1L, 1)))
    assert(out((1L, 2))._1 == "banana" && out((1L, 2))._2 == 0.0)
    assert(out((2L, 1)) == (("cherry", r6(math.log(1.5)))))
    assert(out((3L, 1)) == (("cherry", r6(2 * math.log(1.5)))))
    assert(out((3L, 2)) == (("apple", r6(math.log(1.5)))))
    // rank<=k must plan as a group-limit (no full per-doc sort at scale)
    val plan = TextAnalysis.tfidfTopK(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("lengthHistogram: bins partition the corpus, top bin open-ended, empty docs bin 0") {
    import spark.implicits._
    val docs = Seq(
      "",                                    // 1 token after split ("")
      null,                                  // null text → 0 tokens, bin 0
      "one two three",                       // 3 → bin 0
      ("w " * 10).trim,                      // 10 → bin 2
      ("w " * 100).trim                      // 100 → capped at top bin
    ).toDF("text")
    val h = TextAnalysis.lengthHistogram(docs, "text", binWidth = 4,
      numBins = 4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // bins: 0 → ["", null, "one two three"], 2 → [10-token],
    // 3 (capped) → [100-token]; null text counts as a 0-token doc in
    // bin 0 (the tokens() null contract), never a NULL bin row
    assert(h(0)._2 == 3 && h(2)._2 == 1 && h(3)._2 == 1, h)
    assert(h(0)._1 == 0 && h(2)._1 == 8 && h(3)._1 == 12) // lo_tokens
    // counts partition the corpus; cumulative reaches the total
    assert(h.values.map(_._2).sum == 5)
    assert(h(3)._3 == 5, "last cum_docs must equal the corpus size")
    // plan: corpus reduces at the combiners before the tiny window
    val plan = TextAnalysis.lengthHistogram(docs, "text", 4, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan)
  }

  test("domainStats: lowercased hosts, occurrence vs distinct-doc split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see http://A.example.com/x and http://a.example.com/y ok"),
      (2L, "ref https://b.example.org/z plus http://a.example.com/q"),
      (3L, "no links here at all")
    ).toDF("id", "text")
    val out = TextAnalysis.domainStats(docs, "id", "text")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1 hits a.example.com twice (case-folded) but is ONE doc
    assert(out("a.example.com")._1 == 3)   // 2 from doc 1 + 1 from doc 2
    assert(out("a.example.com")._2 == 2)   // docs 1 and 2
    assert(out("b.example.org") == ((1L, 1L, 4L)))  // doc 2 has 4 ws-tokens
    // tok_sum sums each contributing doc's token count once
    assert(out("a.example.com")._3 == 5 + 4)
    // the linkless doc appears under no domain
    assert(out.keySet == Set("a.example.com", "b.example.org"))
  }

  test("cleanText: NFC composes, controls/zero-widths strip, whitespace collapses") {
    import spark.implicits._
    val rows = Seq(
      "Cafe\u0301 au lait",       // decomposed -> composed
      "Caf\u00e9 au lait",        // already NFC: identical output
      "a\u0001b\u200Bcd",        // control + zero-width strip
      "  x \t\u000B\n  y z  ",  // collapse (VT stripped pre-collapse)
      "").toDF("text")
    val out = rows.select(TextAnalysis.cleanText(col("text")).as("c"))
      .collect().map(_.getString(0))
    assert(out(0) == "Caf\u00e9 au lait")
    assert(out(1) == out(0))
    assert(out(2) == "abcd")
    assert(out(3) == "x y z")
    assert(out(4) == "")
    // the kernel's fast path: NFC input returns the same value; the
    // plain-Scala eval agrees with the codegen'd DF path above
    import org.apache.spark.unsafe.types.UTF8String
    val composed = UTF8String.fromString("Caf\u00e9")
    assert(graft.plans.TextNormalizeKernel.nfc(composed) eq composed)
    assert(graft.plans.TextNormalizeKernel
      .nfc(UTF8String.fromString("Cafe\u0301")).toString == "Caf\u00e9")
  }

  test("nbQualityScores: hand-computed posteriors, tie rule, partition invariance") {
    import spark.implicits._
    // vocab is class-separable: "good"-docs say good, "bad"-docs say bad
    val docs = Seq(
      (1L, "good good clean", true),
      (2L, "good clean", true),
      (3L, "bad noisy bad", false),
      (4L, "", false)                 // empty doc: priors only
    ).toDF("id", "text", "quality")
    val byId = TextAnalysis.nbQualityScores(docs, "id", "text", "quality")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // model: V=5 (good clean bad noisy + ""), wait — "" splits to [] so
    // vocab = {good, clean, bad, noisy}; tot1 = 5, tot0 = 3;
    // priors = 2/4 each
    def lp1(c: Long) = math.log((c + 1.0) / (5 + 4.0))
    def lp0(c: Long) = math.log((c + 1.0) / (3 + 4.0))
    // doc 1 ("good good clean"): c1(good)=3, c1(clean)=2, c0 both 0
    val s1 = math.log(0.5) + lp1(3) + lp1(3) + lp1(2)
    val s0 = math.log(0.5) + lp0(0) + lp0(0) + lp0(0)
    assert(byId(1L)._1 == 1)
    assert(math.abs(byId(1L)._2 - math.rint((s1 - s0) * 1e6) / 1e6) < 1e-9)
    // class recovery on the separable vocab
    assert(byId(2L)._1 == 1 && byId(3L)._1 == 0)
    // empty doc: equal priors, zero token mass -> s1 = s0, tie -> 0
    assert(byId(4L)._1 == 0 && byId(4L)._2 == 0.0)
    // margins are partition-independent (position-ordered folds)
    val p7 = TextAnalysis.nbQualityScores(docs.repartition(7), "id", "text",
      "quality").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    byId.foreach { case (id, (_, m)) => assert(p7(id) == m) }
  }

  test("bm25TopK: hand-computed scores, ranking, and partition invariance") {
    import spark.implicits._
    // corpus: N=3, dl = (4, 3, 3), avgdl = 10/3
    val docs = Seq(
      (1L, "hash join hash scan"),
      (2L, "join merge sort"),
      (3L, "vector scan filter")).toDF("id", "text")
    val q = Seq("hash", "join")
    def bm25(tf: Long, dl: Long, df_ : Long): Double = {
      val n = 3.0; val avgdl = 10.0 / 3.0
      math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5)) *
        (tf * (1.2 + 1.0)) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    }
    val expected = Map(
      1L -> (bm25(2, 4, 1) + bm25(1, 4, 2)), // hash(df=1) + join(df=2)
      2L -> bm25(1, 3, 2))                   // join only
    val out = TextAnalysis.bm25TopK(docs, "id", "text", q, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // doc 3 matches no query term and must not appear
    assert(out.map(_._2).toSet == Set(1L, 2L))
    out.foreach { case (_, id, s) =>
      assert(math.abs(s - expected(id)) < 1e-6, s"doc $id: $s vs ${expected(id)}")
    }
    // rank 1 = the doc with the rare term at tf 2
    assert(out.find(_._1 == 1).get._2 == 1L)
    // the term-ordered fold makes the score partition-independent
    val p13 = TextAnalysis.bm25TopK(docs.repartition(13), "id", "text", q,
      k = 10).collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    out.foreach { case (_, id, s) => assert(p13(id) == s) }
  }

  test("dedupLinesWithin: first occurrence wins, order preserved, count honest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\nb\na\nc\nb\na"), // dups of a (x2) and b (x1)
      (2L, "x\ny\nz"),          // already unique
      (3L, "q"),                // single line
      (4L, null)                // null text -> empty doc, count 0
    ).toDF("id", "text")
    val out = TextAnalysis.dedupLinesWithin(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("a\nb\nc", 3L))
    assert(out(2L) == ("x\ny\nz", 0L))
    assert(out(3L) == ("q", 0L))
    assert(out(4L) == ("", 0L), "null text must not poison the counter")
  }

  test("stripBoilerplateLines: frequent lines cut everywhere, blanks and order safe") {
    import spark.implicits._
    // banner in all 12 docs, ad block in half, unique body each;
    // doc 99 is ALL boilerplate and must survive as an empty doc
    val docs = ((1L to 12L).map(i =>
        (i, s"BANNER\nbody $i\n\n${if (i % 2 == 0) "AD" else s"solo $i"}")) :+
      (99L, "BANNER\nBANNER"))
      .toDF("id", "text")
    val out = TextAnalysis.stripBoilerplateLines(docs, "id", "text",
      minDocs = 6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // banner (13 docs) and AD (6 docs) cut; body/solo lines kept in
    // order; the BLANK line is never boilerplate even though it is
    // in every doc
    assert(out(2L) == "body 2\n", s"got '${out(2L)}'")
    assert(out(1L) == "body 1\n\nsolo 1", s"got '${out(1L)}'")
    assert(out(99L) == "", "all-boilerplate doc must survive empty")
    assert(out.size == 13)
  }

  test("bigramLmScoreCross: hand-computed model, unseen-mass floors, invariance") {
    import spark.implicits._
    val ref = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug")).toDF("id", "text")
    val corpus = Seq((10L, "the cat sat"), (11L, "zzz qqq www"))
      .toDF("id", "text")
    val out = TextAnalysis.bigramLmScoreCross(ref, "text", corpus,
      "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // reference model: V = 7 {the,cat,sat,on,mat,dog,rug};
    // c2(the,cat)=1, c1(the)=4; c2(cat,sat)=1, c1(cat)=1
    val d10 = (math.log(2.0 / 11.0) + math.log(2.0 / 8.0)) / 2
    assert(out(10L)._1 == 2L)
    assert(math.abs(out(10L)._2 - d10) < 1e-6, s"got ${out(10L)}")
    // fully-unseen doc: every bigram AND left word unseen -> ln(1/V)
    val floor = math.log(1.0 / 7.0)
    assert(out(11L)._1 == 2L)
    assert(math.abs(out(11L)._2 - floor) < 1e-6, s"got ${out(11L)}")
    // the position-ordered fold keeps scores partition-independent
    val p9 = TextAnalysis.bigramLmScoreCross(ref, "text",
      corpus.repartition(9), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.foreach { case (id, (_, s)) => assert(p9(id) == s) }
  }

  test("stored BM25 index: probe bit-identical to from-scratch, build once probe many") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash join hash scan"),
      (2L, "join merge sort"),
      (3L, "vector scan filter")).toDF("id", "text")
    val store = new ParquetTableStore(tmpDir("bm25-idx"))
    TextAnalysis.bm25BuildIndex(docs, "id", "text", store)
    // two DIFFERENT queries against the one build — each bit-equal to
    // the from-scratch run (shared scoring tree, equal integer inputs)
    for (q <- Seq(Seq("hash", "join"), Seq("scan", "filter", "vector"))) {
      val scratch = TextAnalysis.bm25TopK(docs, "id", "text", q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      val stored = TextAnalysis.bm25TopKStored(spark, store, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(stored == scratch, s"query $q: stored probe drifted")
    }
    // the index carries the full vocabulary: postings have dl
    // denormalized, stats carry df + the corpus scalars per term
    val postings = store.read(spark, "bm25_postings")
    assert(postings.columns.toSeq == Seq("term", "id", "tf", "dl", "gen"))
    // the stats frame records the postings version it derives from
    // (the mixed-version guard)
    assert(store.read(spark, "bm25_stats")
      .select("postings_version").head.getLong(0)
      == store.currentVersion("bm25_postings").get)
    assert(postings.filter(col("term") === "hash")
      .select("id", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 2L, 4L)))
    val stats = store.read(spark, "bm25_stats")
      .filter(col("term") === "join").collect()
    assert(stats.length == 1)
    assert(stats(0).getAs[Long]("df") == 2L)
    assert(stats(0).getAs[Long]("n") == 3L)
    assert(stats(0).getAs[Long]("total_dl") == 10L)
    // a probe across a torn mutation fails retryably, never mixes:
    // advance ONLY the postings table (the crashed-between-commits
    // state an append that never published its stats leaves behind)
    store.appendBucketed(spark, "bm25_postings",
      Seq(("zzz", 99L, 1L, 1L, 0L)).toDF("term", "id", "tf", "dl", "gen"),
      Seq("term"))
    val e = intercept[IllegalStateException] {
      TextAnalysis.bm25TopKStored(spark, store, Seq("hash"), k = 5)
    }
    assert(e.getMessage.contains("mid-update"), e.getMessage)
  }

  test("bm25AppendIndex: append == rebuild bit-exactly, O(delta) insert-only") {
    import spark.implicits._
    val partA = Seq(
      (1L, "hash join hash scan"),
      (2L, "join merge sort"),
      (3L, "vector scan filter")).toDF("id", "text")
    val partB = Seq(
      (4L, "hash vector probe"),
      (5L, "merge scan scan join"),
      (6L, "")).toDF("id", "text") // zero-token doc: no postings, no n
    val grown = new ParquetTableStore(tmpDir("bm25-grow"))
    TextAnalysis.bm25BuildIndex(partA, "id", "text", grown)
    TextAnalysis.bm25AppendIndex(partB, "id", "text", grown)
    val scratch = new ParquetTableStore(tmpDir("bm25-scratch"))
    TextAnalysis.bm25BuildIndex(partA.unionByName(partB), "id", "text",
      scratch)
    // identical stats frames (df per term + corpus scalars) ...
    def statsOf(s: ParquetTableStore) =
      s.read(spark, "bm25_stats").drop("postings_version")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(statsOf(grown) == statsOf(scratch))
    // ... identical postings multisets ...
    def postingsOf(s: ParquetTableStore) =
      s.read(spark, "bm25_postings").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    assert(postingsOf(grown) == postingsOf(scratch))
    // ... and bit-identical probe results (the ts25 contract)
    for (q <- Seq(Seq("hash", "join"), Seq("scan", "merge"))) {
      val a = TextAnalysis.bm25TopKStored(spark, grown, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      val b = TextAnalysis.bm25TopKStored(spark, scratch, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(a == b, s"query $q: appended index drifted from rebuild")
    }
    // the append is insert-only: re-appending an indexed id fails
    // loudly (validateNewIds), as does an intra-delta duplicate
    val eDup = intercept[IllegalArgumentException] {
      TextAnalysis.bm25AppendIndex(
        Seq((4L, "hash again")).toDF("id", "text"), "id", "text", grown)
    }
    assert(eDup.getMessage.contains("already indexed"), eDup.getMessage)
    val eIntra = intercept[IllegalArgumentException] {
      TextAnalysis.bm25AppendIndex(
        Seq((7L, "a"), (7L, "b")).toDF("id", "text"), "id", "text", grown)
    }
    assert(eIntra.getMessage.contains("duplicate"), eIntra.getMessage)
  }

  test("bm25ReindexDocs: probe == rebuild over mutated corpus; replay converges; compaction exact") {
    import spark.implicits._
    val orig = Seq(
      (1L, "hash join hash scan"),
      (2L, "join merge sort"),
      (3L, "vector scan filter"),
      (4L, "hash vector probe")).toDF("id", "text")
    val store = new ParquetTableStore(tmpDir("bm25-reidx"))
    TextAnalysis.bm25BuildIndex(orig, "id", "text", store)
    // mutate doc 1 (text change), doc 2 (to ZERO tokens — must leave
    // n and total_dl), and add brand-new doc 9 (reindex subsumes
    // append: gen 0, no tombstone)
    val changed = Seq(
      (1L, "scan scan merge"),
      (2L, "   "),
      (9L, "probe filter join")).toDF("id", "text")
    TextAnalysis.bm25ReindexDocs(changed, "id", "text", store)
    val mutated = Seq(
      (1L, "scan scan merge"),
      (3L, "vector scan filter"),
      (4L, "hash vector probe"),
      (9L, "probe filter join")).toDF("id", "text")
    def probe(q: Seq[String]) =
      TextAnalysis.bm25TopKStored(spark, store, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    def scratch(q: Seq[String]) =
      TextAnalysis.bm25TopK(mutated, "id", "text", q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    for (q <- Seq(Seq("scan", "merge"), Seq("hash", "join"),
        Seq("probe", "filter")))
      assert(probe(q) == scratch(q), s"query $q drifted after reindex")
    // dead generations are invisible but still on disk; the stats
    // scalars match the mutated corpus exactly
    val st = store.read(spark, "bm25_stats").limit(1).head
    assert(st.getAs[Long]("n") == 4L)     // doc 2 left the corpus
    assert(st.getAs[Long]("total_dl") == 12L) // 3+3+3+3
    // REPLAY converges: same probe answers, no stats drift
    TextAnalysis.bm25ReindexDocs(changed, "id", "text", store)
    for (q <- Seq(Seq("scan", "merge"), Seq("probe", "filter")))
      assert(probe(q) == scratch(q), s"query $q drifted after replay")
    // RESURRECT (before compaction, while the tombstone STANDS):
    // doc 2 was reindexed to zero tokens, so every row it has is
    // dead; reindexing it back to real text must bump the generation
    // above the standing tombstone, not restart at 0 beneath it —
    // the dead-rows-only corner the generation derivation must cover
    TextAnalysis.bm25ReindexDocs(
      Seq((2L, "join merge sort")).toDF("id", "text"), "id", "text", store)
    val resurrected = Seq(
      (1L, "scan scan merge"),
      (2L, "join merge sort"),
      (3L, "vector scan filter"),
      (4L, "hash vector probe"),
      (9L, "probe filter join")).toDF("id", "text")
    def scratchR(q: Seq[String]) =
      TextAnalysis.bm25TopK(resurrected, "id", "text", q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    for (q <- Seq(Seq("join", "merge"), Seq("scan", "merge"))) {
      assert(probe(q) == scratchR(q), s"query $q drifted after resurrect")
      if (q == Seq("join", "merge"))
        assert(probe(q).map(_._2).contains(2L), "resurrected doc invisible")
    }
    // compaction drops the dead generations (postings shrink to the
    // from-scratch row count), PRESERVES live generations (the
    // crash-idempotence invariant: re-filtering the compacted rows
    // under the old tombstones must be a no-op, which a reset-to-0
    // layout breaks), clears the tombstones, and keeps answers exact
    TextAnalysis.bm25CompactIndex(spark, store)
    val scratchStore = new ParquetTableStore(tmpDir("bm25-reidx-scratch"))
    TextAnalysis.bm25BuildIndex(resurrected, "id", "text", scratchStore)
    assert(store.read(spark, "bm25_postings").count() ==
      scratchStore.read(spark, "bm25_postings").count(),
      "dead generations survived compaction")
    // doc 1 was reindexed twice (replay) — its live generation is 2;
    // a reset-to-0 compaction would have collapsed it
    assert(store.read(spark, "bm25_postings").filter(col("id") === 1L)
      .select("gen").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L),
      "live generation was not preserved through compaction")
    assert(store.read(spark, "bm25_tombstones").count() == 0)
    for (q <- Seq(Seq("scan", "merge"), Seq("hash", "join")))
      assert(probe(q) == scratchR(q), s"query $q drifted after compaction")
    // a probe landing between the tombstone and stats commits must
    // refuse: advance ONLY the tombstone table
    store.upsert(spark, "bm25_tombstones",
      Seq((4L, 1L)).toDF("id", "dead_below"), Seq("id"))
    val e = intercept[IllegalStateException] {
      TextAnalysis.bm25TopKStored(spark, store, Seq("hash"), k = 5)
    }
    assert(e.getMessage.contains("mid-update"), e.getMessage)
  }

  test("bm25 delete-everything: pins survive an emptied index; probe degrades to zero rows") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("bm25-empty"))
    val docs = Seq((1L, "scan scan merge"), (2L, "join merge sort"))
      .toDF("id", "text")
    TextAnalysis.bm25BuildIndex(docs, "id", "text", store)
    // reindex EVERY doc to zero tokens — the documented deletion
    // idiom; stats must keep a pin-carrier row, not go pin-less
    TextAnalysis.bm25ReindexDocs(
      Seq((1L, ""), (2L, "")).toDF("id", "text"), "id", "text", store)
    def probe() = TextAnalysis.bm25TopKStored(spark, store,
      Seq("merge"), k = 5).collect()
    assert(probe().isEmpty) // empty index answers empty, not a brick
    val st = store.read(spark, "bm25_stats").collect()
    assert(st.nonEmpty, "stats lost its pin rows")
    assert(st.head.getAs[Long]("n") == 0L)
    // compaction of the emptied index keeps the pins too
    TextAnalysis.bm25CompactIndex(spark, store)
    assert(probe().isEmpty)
    assert(store.read(spark, "bm25_stats").collect().nonEmpty)
    // and the index is still alive: resurrect a doc, probe scores it
    TextAnalysis.bm25ReindexDocs(
      Seq((1L, "merge merge scan")).toDF("id", "text"), "id", "text",
      store)
    val back = probe()
    assert(back.length == 1 && back.head.getLong(1) == 1L)
  }

  test("bm25 torn states: reindex refuses, compaction repairs the safe shapes and refuses the unsafe one") {
    import spark.implicits._
    def probeOf(store: ParquetTableStore)(q: Seq[String]) =
      TextAnalysis.bm25TopKStored(spark, store, q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    def scratchOf(corpus: org.apache.spark.sql.DataFrame)(q: Seq[String]) =
      TextAnalysis.bm25TopK(corpus, "id", "text", q, k = 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val orig = Seq(
      (1L, "hash join hash scan"),
      (2L, "join merge sort"),
      (3L, "vector scan filter")).toDF("id", "text")

    // SHAPE A — a reindex crashed AFTER its tombstone upsert, BEFORE
    // its stats commit: the data tables hold the fully-applied new
    // state but the stats values AND pins are pre-mutation. Simulate
    // by completing a reindex, then restoring the pre-reindex stats.
    val store = new ParquetTableStore(tmpDir("bm25-tornA"))
    TextAnalysis.bm25BuildIndex(orig, "id", "text", store)
    val statsSchema = store.read(spark, "bm25_stats").schema
    val oldStats = store.read(spark, "bm25_stats").collect().toSeq
    TextAnalysis.bm25ReindexDocs(
      Seq((1L, "merge probe")).toDF("id", "text"), "id", "text", store)
    store.commit(spark, "bm25_stats", spark.createDataFrame(
      spark.sparkContext.parallelize(oldStats), statsSchema))
    // the probe refuses the torn pair retryably
    intercept[IllegalStateException](probeOf(store)(Seq("merge")))
    // a further reindex must NOT fold on top (its stats deltas would
    // cancel against the half-applied state and then re-pin
    // consistent versions, hiding the corruption) — refuse loudly
    val eReidx = intercept[IllegalStateException] {
      TextAnalysis.bm25ReindexDocs(
        Seq((2L, "probe sort")).toDF("id", "text"), "id", "text", store)
    }
    assert(eReidx.getMessage.contains("torn"), eReidx.getMessage)
    // compaction REPAIRS it: stats rebuild from the live postings
    TextAnalysis.bm25CompactIndex(spark, store)
    val mutatedA = Seq(
      (1L, "merge probe"),
      (2L, "join merge sort"),
      (3L, "vector scan filter")).toDF("id", "text")
    for (q <- Seq(Seq("merge"), Seq("scan", "filter"), Seq("join")))
      assert(probeOf(store)(q) == scratchOf(mutatedA)(q),
        s"query $q wrong after torn-state repair")
    // and the index is mutable again
    TextAnalysis.bm25ReindexDocs(
      Seq((2L, "probe sort")).toDF("id", "text"), "id", "text", store)
    val mutatedA2 = Seq(
      (1L, "merge probe"),
      (2L, "probe sort"),
      (3L, "vector scan filter")).toDF("id", "text")
    for (q <- Seq(Seq("probe"), Seq("sort", "merge")))
      assert(probeOf(store)(q) == scratchOf(mutatedA2)(q),
        s"query $q wrong after post-repair reindex")

    // SHAPE B — a reindex crashed AFTER its postings append, BEFORE
    // its tombstone upsert: some id now has TWO live generations and
    // nothing in the index records which is current. Simulate by
    // appending a second live generation for id 1 directly.
    val storeB = new ParquetTableStore(tmpDir("bm25-tornB"))
    TextAnalysis.bm25BuildIndex(orig, "id", "text", storeB)
    storeB.appendBucketed(spark, "bm25_postings",
      Seq(("merge", 1L, 1L, 2L, 1L), ("probe", 1L, 1L, 2L, 1L))
        .toDF("term", "id", "tf", "dl", "gen"),
      Seq("term"), sortWithin = Seq("term", "id"))
    val eCompact = intercept[IllegalStateException] {
      TextAnalysis.bm25CompactIndex(spark, storeB)
    }
    assert(eCompact.getMessage.contains("Rebuild"), eCompact.getMessage)
    // rebuild recovers
    TextAnalysis.bm25BuildIndex(mutatedA, "id", "text", storeB)
    for (q <- Seq(Seq("merge"), Seq("hash", "join")))
      assert(probeOf(storeB)(q) == scratchOf(mutatedA)(q),
        s"query $q wrong after rebuild")

    // SHAPE C — a COMPACTION crashed after its postings rewrite,
    // BEFORE its tombstone clear: compacted (generation-preserving)
    // postings under standing-but-no-op tombstones, stale stats pins.
    // Simulate by compacting fully, then restoring the pre-compaction
    // tombstones and stats. Re-running compaction must converge —
    // with generations preserved the standing tombstones kill
    // nothing; a reset-to-0 rewrite would silently drop doc 1 here.
    val storeC = new ParquetTableStore(tmpDir("bm25-tornC"))
    TextAnalysis.bm25BuildIndex(orig, "id", "text", storeC)
    TextAnalysis.bm25ReindexDocs(
      Seq((1L, "merge probe")).toDF("id", "text"), "id", "text", storeC)
    val tombSchema = storeC.read(spark, "bm25_tombstones").schema
    val oldTombs = storeC.read(spark, "bm25_tombstones").collect().toSeq
    val preStats = storeC.read(spark, "bm25_stats").collect().toSeq
    TextAnalysis.bm25CompactIndex(spark, storeC)
    storeC.commit(spark, "bm25_tombstones", spark.createDataFrame(
      spark.sparkContext.parallelize(oldTombs), tombSchema))
    storeC.commit(spark, "bm25_stats", spark.createDataFrame(
      spark.sparkContext.parallelize(preStats), statsSchema))
    intercept[IllegalStateException](probeOf(storeC)(Seq("merge")))
    TextAnalysis.bm25CompactIndex(spark, storeC)
    for (q <- Seq(Seq("merge"), Seq("probe"), Seq("join")))
      assert(probeOf(storeC)(q) == scratchOf(mutatedA)(q),
        s"query $q wrong after compaction crash re-run")
    assert(storeC.read(spark, "bm25_postings")
      .filter(col("id") === 1L).count() > 0,
      "compaction re-run dropped the reindexed doc's live postings")
  }

  test("trigramLangId: held-out sentences classify to their language, ties break lang-asc") {
    import spark.implicits._
    val train = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", "a small boat sails across the quiet bay this morning"),
      ("en", "children play in the park and sing old songs together"),
      ("de", "der schnelle braune fuchs springt über den faulen hund"),
      ("de", "ein kleines boot segelt am morgen über die stille bucht"),
      ("de", "die kinder spielen im park und singen alte lieder zusammen"),
      ("fr", "le rapide renard brun saute par dessus le chien paresseux"),
      ("fr", "un petit bateau traverse la baie calme ce matin"),
      ("fr", "les enfants jouent dans le parc et chantent ensemble"),
      ("nl", "de snelle bruine vos springt over de luie hond"),
      ("nl", "een kleine boot vaart vanochtend over de stille baai"),
      ("nl", "de kinderen spelen in het park en zingen samen oude liedjes"))
      .toDF("lang", "text")
    val test = Seq(
      (1L, "we walk to the market and buy fresh bread every day"),
      (2L, "wir gehen zum markt und kaufen jeden tag frisches brot"),
      (3L, "nous allons au marche et achetons du pain frais chaque jour"),
      (4L, "wij lopen naar de markt en kopen elke dag vers brood"),
      (5L, "xy")). // no trigram: priors only, equal -> first lang asc
      toDF("id", "text")
    val got = TextAnalysis.trigramLangId(train, "lang", "text",
      test, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    assert(got(1L)._1 == "en", s"got ${got(1L)}")
    assert(got(2L)._1 == "de", s"got ${got(2L)}")
    assert(got(3L)._1 == "fr", s"got ${got(3L)}")
    assert(got(4L)._1 == "nl", s"got ${got(4L)}")
    // real sentences separate with a clear margin
    Seq(1L, 2L, 3L, 4L).foreach(i => assert(got(i)._2 > 0.5, s"$i: ${got(i)}"))
    // no-trigram doc: every language scores its prior; equal priors
    // here, so margin 0 and the lang-ASC tie-break picks "de"
    assert(got(5L) == ("de", 0.0), s"got ${got(5L)}")
    // position-ordered fold: partitioning cannot move the margin
    val p9 = TextAnalysis.trigramLangId(train.repartition(9), "lang", "text",
      test.repartition(7), "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    assert(p9 == got)
    // a labeled language whose training texts produce ZERO trigrams
    // (all < 3 chars) must still score — prior + fully-smoothed
    // ln(1/V) per gram — not silently vanish from every ranking
    val trainZh = train.unionByName(
      Seq(("zh", "好"), ("zh", "不"), ("zh", "是")).toDF("lang", "text"))
    // a doc of grams NO language saw scores ln(1/(tot+V)) per gram
    // everywhere — zh's tot=0 gives the least-negative contribution,
    // so zh must WIN; it can only win if it was ranked at all (the
    // inner-join shape this pins against dropped it entirely)
    val gotZh = TextAnalysis.trigramLangId(trainZh, "lang", "text",
      Seq((9L, "qqqqqq")).toDF("id", "text"), "id", "text").collect()
    assert(gotZh.head.getString(1) == "zh", gotZh.mkString(","))
    // and trained languages still outrank it on their own text
    val scoredLangs = TextAnalysis.trigramLangId(trainZh, "lang", "text",
      Seq((9L, "the market")).toDF("id", "text"), "id", "text")
      .collect().head
    assert(scoredLangs.getString(1) == "en")
  }

  test("trigramLangId: NULL training labels are dropped, never a winning language") {
    import spark.implicits._
    val train = Seq(
      (Some("en"), "the quick brown fox jumps over the lazy dog"),
      (Some("en"), "a small boat sails across the quiet bay"),
      (Some("fr"), "le rapide renard brun saute par dessus le chien"),
      (Some("fr"), "un petit bateau traverse la baie calme"),
      (None, "an unlabelled line of training text"))
      .toDF("lang", "text")
    // grams no labelled language saw: every language scores its prior
    // plus the smoothed ln(1/(tot+V)) per gram. A NULL label kept as a
    // language (tot = 0) outscored them all and answered lang = NULL
    val got = TextAnalysis.trigramLangId(train, "lang", "text",
      Seq((1L, "qqqqqqqqqqqqqqqq")).toDF("id", "text"), "id", "text")
      .collect()
    assert(got.length == 1 && Set("en", "fr").contains(got.head.getString(1)),
      got.mkString(","))
    // the unlabelled row changes nothing: the same language and margin
    // as training on the labelled rows alone
    val labelledOnly = TextAnalysis.trigramLangId(
      train.filter(col("lang").isNotNull), "lang", "text",
      Seq((1L, "qqqqqqqqqqqqqqqq")).toDF("id", "text"), "id", "text")
      .collect()
    assert(got.toSeq == labelledOnly.toSeq)
  }

  test("dsirWeights: target-like docs weigh positive, off-domain negative, coverage total") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "contract clause liability court ruling appeal"),
      (2L, "court ruling contract appeal liability judge"),
      (3L, "pasta recipe tomato basil garlic dinner"),
      (4L, "garlic dinner recipe pasta tomato sauce"),
      (5L, "")).toDF("id", "text") // no tokens: weight exactly 0
    // target = held-out legal text (shares features with docs 1-2)
    val target = Seq(
      "court contract ruling liability judgment",
      "appeal court clause contract judge").toDF("text")
    val w = TextAnalysis.dsirWeights(corpus, "id", "text", target, "text",
      buckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size == 5, "every corpus doc gets a weight")
    assert(w(5L) == 0.0, s"empty doc must weigh 0, got ${w(5L)}")
    // what DSIR guarantees is the ORDERING (resampling uses relative
    // weights): target-like docs must outweigh off-domain ones — the
    // absolute sign at toy counts is dominated by the +B smoothing
    for (legal <- Seq(1L, 2L); recipe <- Seq(3L, 4L))
      assert(w(legal) > w(recipe),
        s"legal $legal (${w(legal)}) must outweigh recipe $recipe (${w(recipe)})")
    // slot-ordered fold: partitioning cannot move a weight
    val p7 = TextAnalysis.dsirWeights(corpus.repartition(7), "id", "text",
      target.repartition(3), "text", buckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p7 == w)
    // the production hash path (portableHash=false → xxhash64): same
    // semantics over a different slot family — ordering and coverage
    // contracts must hold there too
    val wx = TextAnalysis.dsirWeights(corpus, "id", "text", target,
      "text", buckets = 512, portableHash = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wx.size == 5 && wx(5L) == 0.0)
    for (legal <- Seq(1L, 2L); recipe <- Seq(3L, 4L))
      assert(wx(legal) > wx(recipe),
        s"xxhash path: legal $legal (${wx(legal)}) must outweigh " +
          s"recipe $recipe (${wx(recipe)})")
  }
}
