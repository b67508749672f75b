package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.ops.{ConnectedComponents, Decontamination, Dedup, Ivf, PageRank, Sampling, SimilaritySearch, Sketches, TextAnalysis, VectorAggregates, VectorCompression}

/** LLM-training-data pipeline operators over documents/embeddings —
  * dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine), similarity search, and text analysis, each driven by the
  * real graft.ops library and verified against a DuckDB oracle that
  * replicates the algorithm (portable md5-prefix hashing makes even
  * MinHash signatures engine-identical).
  *
  * Near-duplicates are manufactured deterministically (the fixture
  * corpus has none): every 4th doc gets a copy with the first word
  * dropped, every 5th doc an exact copy / a perturbed embedding.
  */
object PipelineQueries {

  /** documents ∪ near-dup copies (id+10000, first word dropped). */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))
    val perturbed = d.filter(col("id") % 4 === 0)
      .select((col("id") + 10000).as("id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    d.unionByName(perturbed)
  }

  private val dupCorpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS id,
      |         regexp_replace(text, '^\S+\s+', '') AS text
      |  FROM documents WHERE doc_id % 4 = 0)""".stripMargin

  /** D1: exact dedup over a corpus with manufactured exact copies. */
  private val d1 = QueryDef(
    "d1_exact_dedup",
    "exact dedup via normalized md5 fingerprint groupBy",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))
      val copies = d.filter(col("id") % 5 === 0)
        .select((col("id") + 20000).as("id"), col("text"))
      Dedup.exactDuplicates(d.unionByName(copies), "id", "text")
        .orderBy("rep_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id AS id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000 AS id, text FROM documents
              WHERE doc_id % 5 = 0)
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                   min(id) AS rep_id, count(*) AS n_members
            FROM corpus GROUP BY 1 ORDER BY rep_id"""))

  /** LSH geometry for the catalog queries: 32 hashes in 8 bands × 4
    * rows. Measured trade-off: halving to 8×2 bands SLOWED both dedup
    * queries — char-gram noise similarity (~0.3 between unrelated docs
    * sharing vocabulary) makes 2-row band collisions (~j²) admit a
    * large fraction of all pairs, and the exact-verify stage swamps
    * the signature savings. 4-row bands (~j⁴ selectivity) keep the
    * candidate mass proportional to true near-dups. */
  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands

  /** The affine slot expressions for the oracle, generated from the
    * SAME coefficient sequence the engine bakes into its plan
    * (minhashCoeffs is a fixed-seed stream, so the first k entries
    * agree for every k). */
  private def minhashSlotsSqlFor(k: Int): String =
    TextFunctions.minhashCoeffs(k).map { case (a, b) =>
      s"list_min(list_transform(base, h -> (h * $a + $b) % ${TextFunctions.MinhashP}))"
    }.mkString("[", ",\n                        ", "]")

  private val minhashSlotsSql: String = minhashSlotsSqlFor(NumHashes)

  /** Per-bucket / per-cell candidate cap for the catalog queries —
    * explicit (not the library default) and replicated in the oracle's
    * cap rule, so the gate checks the cap discipline itself. Far above
    * any bucket size at gate scale, so recall is unaffected there. */
  private val CatalogCap = 1000

  private def bandConcatFor(rows: Int): String = (1 to rows)
    .map(r => s"sig[b*$rows+$r]::VARCHAR")
    .mkString(" || ',' || ")

  private val bandConcat = bandConcatFor(RowsPerBand)

  /** One side of the LSH oracle — tokenization through band keys,
    * every CTE name prefixed `p` so the incremental oracle can stand
    * up TWO independent sides (stored corpus vs new batch) over
    * different source CTEs. Arithmetic identical to [[lshOracleSql]]
    * (same kernels' portable md5 forms). `src(id, text)` must exist. */
  private def lshSideSql(p: String, src: String): String =
    s"""${p}tok AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM $src),
       ${p}it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM ${p}tok WHERE len(t) >= 3),
       ${p}based AS (SELECT id, list_transform(items, g ->
                       ('0x' || substr(md5(g), 1, 15))::BIGINT
                         % ${TextFunctions.MinhashP}) AS base
                     FROM ${p}it WHERE len(items) > 0),
       ${p}sig AS (SELECT id, $minhashSlotsSql AS sig FROM ${p}based),
       ${p}bands AS (SELECT id, b,
                       ('0x' || substr(md5($bandConcat), 1, 15))::BIGINT
                         AS band_hash
                     FROM ${p}sig, generate_series(0, ${Bands - 1}) AS gs(b)),
       ${p}hashed AS (SELECT id, list_transform(items, g ->
                        ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
                      FROM ${p}it)"""

  /** Shared LSH-candidates oracle tail; `itemsCte` must define
    * `it(id, items)`. Mirrors Dedup.lshJaccardPairs, including the
    * per-(band, bucket) first-`cap`-by-id rule. The verify measure is
    * parametric (default exact Jaccard; d15 swaps in containment)
    * over the SAME candidate chain — exactly how the engine side
    * shares its geometry. */
  private def lshOracleSql(itemsCte: String, threshold: Double,
      measureName: String = "jaccard",
      measureSql: String =
        """len(list_intersect(x.hs, y.hs))::DOUBLE /
                   len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE""",
      numHashes: Int = NumHashes, bands: Int = Bands): String = {
    s"""$itemsCte,
       based AS (SELECT id, list_transform(items, g ->
                   ('0x' || substr(md5(g), 1, 15))::BIGINT
                     % ${TextFunctions.MinhashP}) AS base
                 FROM it WHERE len(items) > 0),
       sig AS (SELECT id, ${minhashSlotsSqlFor(numHashes)} AS sig FROM based),
       bands AS (SELECT id, b,
                   ('0x' || substr(md5(${bandConcatFor(numHashes / bands)}), 1, 15))::BIGINT
                     AS band_hash
                 FROM sig, generate_series(0, ${bands - 1}) AS gs(b)),
       capped AS (SELECT id, b, band_hash,
                    row_number() OVER (PARTITION BY b, band_hash
                                       ORDER BY id) AS rn
                  FROM bands),
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM capped a JOIN capped b
                  ON a.b = b.b AND a.band_hash = b.band_hash AND a.id < b.id
                WHERE a.rn <= $CatalogCap AND b.rn <= $CatalogCap),
       hashed AS (SELECT id, list_transform(items, g ->
                    ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
                  FROM it),
       verif AS (SELECT id_a, id_b,
                   $measureSql
                     AS $measureName
                 FROM cand JOIN hashed x ON x.id = cand.id_a
                           JOIN hashed y ON y.id = cand.id_b)
       SELECT id_a, id_b, $measureName FROM verif
       WHERE $measureName >= $threshold ORDER BY id_a, id_b"""
  }

  /** D2: MinHash+LSH near-dup pairs — shingle → signature → band
    * bucket join → exact Jaccard ≥ 0.6. The oracle replicates the
    * entire algorithm (portable hashing); manufactured pairs sit at
    * jaccard ≥ 0.875, noise at ≤ 0.03 — fat margins. */
  private val d2 = QueryDef(
    "d2_minhash_lsh_pairs",
    "MinHash+LSH near-duplicate pair mining",
    (s, dir) => Dedup.minhashLshPairs(dupCorpus(s, dir), "id", "text",
      shingleLen = 3, numHashes = NumHashes, bands = Bands, threshold = 0.6,
      bucketCap = CatalogCap)
      .orderBy("id_a", "id_b"),
    Some("WITH " + dupCorpusSql + ",\n" + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM corpus),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.6)))

  /** D7: SimHash hamming-radius near-dup pairs — pigeonhole bit-band
    * blocking over the 32-bit sketch (maxDist+1 bands ⇒ recall 1.0
    * within the radius), popcount verify. Complements d3 (equal
    * values only) with the radius search its Scaladoc promises; the
    * oracle replicates sketch, banding (integer-division band
    * boundaries), cap rule, and popcount. */
  private val d7 = QueryDef(
    "d7_simhash_hamming_pairs",
    "SimHash pairs within hamming distance 2 (pigeonhole bands)",
    (s, dir) => Dedup.simhashHammingPairs(dupCorpus(s, dir), "id", "text",
      maxDist = 2, bucketCap = CatalogCap, width = 32)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH $dupCorpusSql,
            tok AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM corpus),
            hs AS (SELECT id, list_transform(t, tk ->
                     ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS h FROM tok),
            sh AS (SELECT id,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(generate_series(0, 31), i ->
                  CASE WHEN list_reduce(list_prepend(0::BIGINT,
                         list_transform(h, hv ->
                           CASE WHEN (hv >> i) % 2 = 1 THEN 1::BIGINT
                                ELSE (-1)::BIGINT END)),
                         (a, b) -> a + b) > 0
                       THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
                (a, b) -> a + b) AS simhash
              FROM hs),
            banded AS (SELECT id, b,
                         (simhash >> ((b*32)//3)) &
                         ((1::BIGINT << (((b+1)*32)//3 - (b*32)//3)) - 1)
                           AS band_bits
                       FROM sh, generate_series(0, 2) AS gs(b)),
            capped AS (SELECT id, b, band_bits,
                         row_number() OVER (PARTITION BY b, band_bits
                                            ORDER BY id) AS rn
                       FROM banded),
            cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
                     FROM capped a JOIN capped b2
                       ON a.b = b2.b AND a.band_bits = b2.band_bits
                          AND a.id < b2.id
                     WHERE a.rn <= $CatalogCap AND b2.rn <= $CatalogCap),
            verif AS (SELECT id_a, id_b,
                        bit_count(xor(x.simhash, y.simhash))::INT AS hamming
                      FROM cand JOIN sh x ON x.id = cand.id_a
                                JOIN sh y ON y.id = cand.id_b)
            SELECT id_a, id_b, hamming FROM verif
            WHERE hamming <= 2 ORDER BY id_a, id_b"""))

  /** D7B: the WIDE-sketch hamming search — d7's engine at width 60,
    * the 100 TB deployment setting (each pigeonhole band carries 20
    * bits of selectivity instead of ~10.7, pushing band-bucket
    * saturation out by ~2^9-2^10 in corpus size; the round-5 scale
    * probe measures the gap). 60 because that is every portable bit
    * the md5-prefix token hash carries, so the oracle replicates the
    * sketch bit-for-bit in signed-BIGINT arithmetic — same banding
    * (integer-division boundaries), cap rule, and popcount verify as
    * d7. */
  private val d7b = QueryDef(
    "d7b_simhash60_hamming_pairs",
    "wide (60-bit) SimHash pairs within hamming distance 2",
    (s, dir) => Dedup.simhashHammingPairs(dupCorpus(s, dir), "id", "text",
      maxDist = 2, bucketCap = CatalogCap, width = 60)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH $dupCorpusSql,
            tok AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM corpus),
            hs AS (SELECT id, list_transform(t, tk ->
                     ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS h FROM tok),
            sh AS (SELECT id,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(generate_series(0, 59), i ->
                  CASE WHEN list_reduce(list_prepend(0::BIGINT,
                         list_transform(h, hv ->
                           CASE WHEN (hv >> i) % 2 = 1 THEN 1::BIGINT
                                ELSE (-1)::BIGINT END)),
                         (a, b) -> a + b) > 0
                       THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
                (a, b) -> a + b) AS simhash
              FROM hs),
            banded AS (SELECT id, b,
                         (simhash >> ((b*60)//3)) &
                         ((1::BIGINT << (((b+1)*60)//3 - (b*60)//3)) - 1)
                           AS band_bits
                       FROM sh, generate_series(0, 2) AS gs(b)),
            capped AS (SELECT id, b, band_bits,
                         row_number() OVER (PARTITION BY b, band_bits
                                            ORDER BY id) AS rn
                       FROM banded),
            cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
                     FROM capped a JOIN capped b2
                       ON a.b = b2.b AND a.band_bits = b2.band_bits
                          AND a.id < b2.id
                     WHERE a.rn <= $CatalogCap AND b2.rn <= $CatalogCap),
            verif AS (SELECT id_a, id_b,
                        bit_count(xor(x.simhash, y.simhash))::INT AS hamming
                      FROM cand JOIN sh x ON x.id = cand.id_a
                                JOIN sh y ON y.id = cand.id_b)
            SELECT id_a, id_b, hamming FROM verif
            WHERE hamming <= 2 ORDER BY id_a, id_b"""))

  /** D8: the near-dup APPLY step — greedy smaller-id-wins drop over
    * the d2 pair list; the output is the surviving corpus users
    * actually feed downstream. Oracle: the d2 pair pipeline as a
    * nested-WITH CTE, then the anti-join. */
  private val d8 = QueryDef(
    "d8_near_dup_drop",
    "greedy near-duplicate drop (survivors after MinHash-LSH)",
    (s, dir) => Dedup.dropNearDuplicates(dupCorpus(s, dir), "id", "text",
      shingleLen = 3, numHashes = NumHashes, bands = Bands, threshold = 0.6,
      bucketCap = CatalogCap)
      .orderBy("id"),
    Some("WITH " + dupCorpusSql + ",\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + ")\n" +
      """SELECT c.id, c.text FROM corpus c
         LEFT JOIN (SELECT DISTINCT id_b FROM pairs) p ON c.id = p.id_b
         WHERE p.id_b IS NULL ORDER BY c.id"""))

  /** D9: duplicate CLUSTERS — exact transitive closure over the d2
    * pair graph via alternating large-star/small-star
    * ([[graft.ops.ConnectedComponents.duplicateClusters]]), every id
    * labeled with the min id of its component. The greedy d8 drop is
    * the cheap pairwise approximation; this is the cluster-level
    * truth curation pipelines key on. Oracle: the d2 pipeline as a
    * CTE, then a recursive reachability CTE taking min(reach). */
  private val d9 = QueryDef(
    "d9_dup_clusters",
    "connected-component duplicate classes over LSH pairs",
    (s, dir) => ConnectedComponents.duplicateClusters(
      Dedup.minhashLshPairs(dupCorpus(s, dir), "id", "text",
        shingleLen = 3, numHashes = NumHashes, bands = Bands,
        threshold = 0.6, bucketCap = CatalogCap)
        .select("id_a", "id_b"))
      .orderBy("id"),
    Some("WITH RECURSIVE " + dupCorpusSql + ",\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach)
        |SELECT node AS id, min(reach) AS cluster_id FROM cc
        |GROUP BY node ORDER BY id""".stripMargin))

  /** D10: INCREMENTAL near-dup — a new ingest batch probed against
    * the stored LSH index of an already-signatured corpus
    * ([[Dedup.incrementalLshPairs]]). The corpus (documents) is
    * signatured and band-indexed ONCE (in a deployment both live in
    * the table store; the spec proves the store round-trip); the
    * batch (the perturbed near-dup docs) probes it with broadcast
    * joins — nothing corpus-sized shuffles. The oracle stands up the
    * two sides independently and replicates the asymmetric cap rule
    * (cap lives in the stored index only — the batch side is
    * uncapped by contract). */
  private val d10 = QueryDef(
    "d10_incremental_neardup",
    "new-batch near-dup probe against a stored LSH band index",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val sigs = Dedup.lshSignatures(d, "id", "text", shingleLen = 3)
      val index = Dedup.lshBandIndex(sigs, NumHashes, Bands, CatalogCap)
      Dedup.incrementalLshPairs(batch, "id", "text", index, sigs,
        shingleLen = 3, numHashes = NumHashes, bands = Bands,
        threshold = 0.6)
        .orderBy("corpus_id", "new_id")
    },
    Some(s"""WITH oldc AS (SELECT doc_id AS id, text FROM documents),
            newc AS (SELECT doc_id + 10000 AS id,
                       regexp_replace(text, '^\\S+\\s+', '') AS text
                     FROM documents WHERE doc_id % 4 = 0),
            ${lshSideSql("o", "oldc")},
            ${lshSideSql("n", "newc")},
            ocapped AS (SELECT id, b, band_hash,
                          row_number() OVER (PARTITION BY b, band_hash
                                             ORDER BY id) AS rn
                        FROM obands),
            cand AS (SELECT DISTINCT o.id AS corpus_id, n.id AS new_id
                     FROM ocapped o JOIN nbands n
                       ON o.b = n.b AND o.band_hash = n.band_hash
                          AND o.id <> n.id
                     WHERE o.rn <= $CatalogCap),
            verif AS (SELECT corpus_id, new_id,
                        len(list_intersect(x.hs, y.hs))::DOUBLE /
                        len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE
                          AS jaccard
                      FROM cand JOIN ohashed x ON x.id = cand.corpus_id
                                JOIN nhashed y ON y.id = cand.new_id)
            SELECT corpus_id, new_id, jaccard FROM verif
            WHERE jaccard >= 0.6 ORDER BY corpus_id, new_id"""))

  /** D12: INCREMENTAL cluster maintenance
    * ([[ConnectedComponents.mergeClusters]]) — the d10 discipline
    * applied to the transitive closure: stored cluster labels (d9's
    * pipeline over the dup corpus) absorb a NEW batch's incremental
    * pairs (d10's probe, batch = further-perturbed docs at +30000)
    * WITHOUT re-clustering the corpus — the eager fixpoint touches
    * only the delta's rep-graph edges. The oracle clusters the
    * UNION of both pair sets from scratch with the recursive CTE:
    * the gate therefore pins the identity incremental ≡ full, which
    * is this operator's entire contract. */
  private val d12 = QueryDef(
    "d12_incremental_clusters",
    "new-batch pairs folded into stored clusters (≡ from-scratch)",
    (s, dir) => {
      val corpus = dupCorpus(s, dir)
      val stored = ConnectedComponents.duplicateClusters(
        Dedup.minhashLshPairs(corpus, "id", "text",
          shingleLen = 3, numHashes = NumHashes, bands = Bands,
          threshold = 0.6, bucketCap = CatalogCap)
          .select("id_a", "id_b"))
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 4 === 2)
        .select((col("doc_id") + 30000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+\\S+\\s+", "").as("text"))
      val sigs = Dedup.lshSignatures(corpus, "id", "text", shingleLen = 3)
      val index = Dedup.lshBandIndex(sigs, NumHashes, Bands, CatalogCap)
      val incPairs = Dedup.incrementalLshPairs(batch, "id", "text",
        index, sigs, shingleLen = 3, numHashes = NumHashes,
        bands = Bands, threshold = 0.6)
        .select("corpus_id", "new_id")
      ConnectedComponents.mergeClusters(stored, incPairs)
        .orderBy("id")
    },
    Some("WITH RECURSIVE " + dupCorpusSql + ",\n" +
      """newc AS (SELECT doc_id + 30000 AS id,
        |           regexp_replace(text, '^\S+\s+\S+\s+', '') AS text
        |         FROM documents WHERE doc_id % 4 = 2),
        |""".stripMargin +
      "cpairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      s"""${lshSideSql("o", "corpus")},
          ${lshSideSql("n", "newc")},\n""" +
      s"""ocapped AS (SELECT id, b, band_hash,
                        row_number() OVER (PARTITION BY b, band_hash
                                           ORDER BY id) AS rn
                      FROM obands),
          icand AS (SELECT DISTINCT o.id AS corpus_id, n.id AS new_id
                    FROM ocapped o JOIN nbands n
                      ON o.b = n.b AND o.band_hash = n.band_hash
                         AND o.id <> n.id
                    WHERE o.rn <= $CatalogCap),
          ipairs AS (SELECT corpus_id, new_id
                     FROM (SELECT corpus_id, new_id,
                             len(list_intersect(x.hs, y.hs))::DOUBLE /
                             len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE
                               AS jaccard
                           FROM icand JOIN ohashed x ON x.id = icand.corpus_id
                                      JOIN nhashed y ON y.id = icand.new_id)
                     WHERE jaccard >= 0.6),\n""" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM cpairs
        |          UNION SELECT id_b, id_a FROM cpairs
        |          UNION SELECT corpus_id, new_id FROM ipairs
        |          UNION SELECT new_id, corpus_id FROM ipairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach)
        |SELECT node AS id, min(reach) AS cluster_id FROM cc
        |GROUP BY node ORDER BY id""".stripMargin))

  /** D6: the production dedup ORDER as one verified pipeline — exact
    * dedup first (linear, digest-keyed), THEN near-dup LSH over the
    * survivors. The round-4 scale probe showed why this composition
    * is the 100 TB shape: LSH cost tracks candidate-pair mass, which
    * is quadratic in the duplication factor, so the linear exact pass
    * must run first. The corpus carries BOTH manufactured exact
    * copies (collapse in stage 1) and near-dup copies (pair up in
    * stage 2); the oracle replicates the full two-stage pipeline. */
  private val d6 = QueryDef(
    "d6_dedup_pipeline",
    "exact-dedup survivors, then MinHash-LSH near-dup pairs",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))
      val nearDups = d.filter(col("id") % 4 === 0)
        .select((col("id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val exacts = d.filter(col("id") % 5 === 0)
        .select((col("id") + 20000).as("id"), col("text"))
      val corpus = d.unionByName(nearDups).unionByName(exacts)
      val survivors = Dedup.dropExactDuplicates(corpus, "id", "text")
      Dedup.minhashLshPairs(survivors, "id", "text", shingleLen = 3,
        numHashes = NumHashes, bands = Bands, threshold = 0.6,
        bucketCap = CatalogCap)
        .orderBy("id_a", "id_b")
    },
    Some("WITH corpus AS (\n" +
      """  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS id,
        |         regexp_replace(text, '^\S+\s+', '') AS text
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000 AS id, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |reps AS (SELECT min(id) AS id FROM corpus
        |         GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |surv AS (SELECT c.id, c.text FROM corpus c JOIN reps USING (id)),
        |""".stripMargin + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM surv),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.6)))

  /** D3: SimHash values — near-identical docs collapse to (near-)equal
    * 32-bit sketches; the oracle recomputes every bit. */
  private val d3 = QueryDef(
    "d3_simhash",
    "32-bit SimHash sketch per document",
    (s, dir) => Dedup.simhashValues(dupCorpus(s, dir), "id", "text")
      .orderBy("id"),
    Some(s"""WITH $dupCorpusSql,
            tok AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM corpus),
            hs AS (SELECT id, list_transform(t, tk ->
                     ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS h FROM tok)
            SELECT id,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(generate_series(0, 31), i ->
                  CASE WHEN list_reduce(list_prepend(0::BIGINT,
                         list_transform(h, hv ->
                           CASE WHEN (hv >> i) % 2 = 1 THEN 1::BIGINT
                                ELSE (-1)::BIGINT END)),
                         (a, b) -> a + b) > 0
                       THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
                (a, b) -> a + b) AS simhash
            FROM hs ORDER BY id"""))

  /** D4: character-5-gram Jaccard — same LSH candidate engine, the
    * character-level item set (catches edits word shingles miss). */
  private val d4 = QueryDef(
    "d4_ngram_jaccard_pairs",
    "char-n-gram Jaccard near-dup pairs (LSH-blocked)",
    (s, dir) => Dedup.ngramJaccardPairs(dupCorpus(s, dir), "id", "text",
      n = 5, numHashes = NumHashes, bands = Bands, threshold = 0.7,
      bucketCap = CatalogCap)
      .orderBy("id_a", "id_b"),
    Some("WITH " + dupCorpusSql + ",\n" + lshOracleSql(
      """it AS (SELECT id, list_distinct(list_transform(
                  generate_series(1, length(text) - 4),
                  i -> substr(text, i, 5))) AS items
                FROM corpus WHERE length(text) >= 5)""", 0.7)))

  /** The geometry the AUTO band miners derive for the verify-time
    * corpus: sf0.01 documents (500 rows) + every-4th near-dup copy =
    * 625 ids → rowsPerBand 6, 9 bands, 54 hashes
    * ([[Dedup.autoBandGeometry]]). The oracle must bake SOME count
    * (static SQL), and 625 holds for any fixture regeneration whose
    * documents count stays in (330, 1094] — r=6 is stable across that
    * whole window and b depends only on (threshold, r). The auto ≡
    * explicit contract itself is pinned scale-independently in
    * PipelineSpec. */
  private val AutoGateGeometry: (Int, Int) = Dedup.autoBandGeometry(625L, 0.8)

  /** D2B: the AUTO-GEOMETRY MinHash+LSH miner — d2's engine with
    * (numHashes, bands) derived from one corpus count instead of the
    * fixed reference knob (the x30 probe's 495 s vs 32.4 s lesson:
    * band depth must grow with n or noise collisions swamp verify).
    * The oracle replicates the derived 9×6 geometry; at bench scale
    * (sf0.1, n=6250) the engine self-derives the deeper 14×8 form —
    * the bench line therefore times the true auto path. */
  private val d2b = QueryDef(
    "d2b_minhash_lsh_auto",
    "MinHash+LSH near-dup pairs, band geometry auto-sized from corpus count",
    (s, dir) => Dedup.minhashLshPairsAuto(dupCorpus(s, dir), "id", "text",
      shingleLen = 3, threshold = 0.8, bucketCap = CatalogCap)
      .orderBy("id_a", "id_b"),
    Some("WITH " + dupCorpusSql + ",\n" + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM corpus),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.8,
      numHashes = AutoGateGeometry._1, bands = AutoGateGeometry._2)))

  /** D4B: the auto-geometry char-n-gram miner — the operator whose
    * fixed knob the x30 probe actually measured at 15× wall-time.
    * Same derived 9×6 geometry and oracle discipline as d2b. */
  private val d4b = QueryDef(
    "d4b_ngram_jaccard_auto",
    "char-n-gram Jaccard near-dup pairs, band geometry auto-sized",
    (s, dir) => Dedup.ngramJaccardPairsAuto(dupCorpus(s, dir), "id", "text",
      n = 5, threshold = 0.8, bucketCap = CatalogCap)
      .orderBy("id_a", "id_b"),
    Some("WITH " + dupCorpusSql + ",\n" + lshOracleSql(
      """it AS (SELECT id, list_distinct(list_transform(
                  generate_series(1, length(text) - 4),
                  i -> substr(text, i, 5))) AS items
                FROM corpus WHERE length(text) >= 5)""", 0.8,
      numHashes = AutoGateGeometry._1, bands = AutoGateGeometry._2)))

  /** D17: the CAP-SATURATION diagnostic wired to a real miner block
    * structure — [[Dedup.blockSaturation]] over the UNCAPPED band
    * membership of the d2 corpus at the catalog geometry. cap=1 so
    * the manufactured duplicate families (which always co-bucket
    * with their originals) are exactly the over-cap blocks: the gate
    * checks all three aggregates (block count, truncating-block
    * count, hottest population) against an oracle that rebuilds the
    * band structure from scratch. This is the alarm a deployment
    * reads BEFORE trusting a capped mine — n_at_cap > 0 at the real
    * cap means silent recall loss (the x30 probe measured fixed-knob
    * IVF dropping 2/3 of true pairs exactly this way). */
  private val d17 = QueryDef(
    "d17_block_saturation",
    "cap-saturation audit of the LSH band-bucket structure",
    (s, dir) => {
      val sigs = Dedup.lshSignatures(dupCorpus(s, dir), "id", "text", 3)
      Dedup.blockSaturation(
        Dedup.lshBandMembership(sigs, NumHashes, Bands),
        Seq("band", "band_hash"), cap = 1)
    },
    Some(s"""WITH $dupCorpusSql,
            tok AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM corpus),
            it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                   FROM tok WHERE len(t) >= 3),
            based AS (SELECT id, list_transform(items, g ->
                        ('0x' || substr(md5(g), 1, 15))::BIGINT
                          % ${TextFunctions.MinhashP}) AS base
                      FROM it WHERE len(items) > 0),
            sig AS (SELECT id, $minhashSlotsSql AS sig FROM based),
            bands AS (SELECT id, b,
                        ('0x' || substr(md5($bandConcat), 1, 15))::BIGINT
                          AS band_hash
                      FROM sig, generate_series(0, ${Bands - 1}) AS gs(b)),
            pops AS (SELECT b, band_hash, count(*) AS population
                     FROM bands GROUP BY 1, 2)
            SELECT count(*) AS n_blocks,
                   coalesce(sum(CASE WHEN population > 1 THEN 1 ELSE 0 END),
                            0)::BIGINT AS n_at_cap,
                   max(population) AS max_population
            FROM pops"""))

  /** The IVF pair-mining oracle chain over a `corpus(id, embedding)`
    * CTE — replicates [[Dedup.embeddingNearDupPairsIvf]] at the
    * catalog knobs (64-anchor lowest-id codebook, 2 probes, cellCap
    * [[CatalogCap]]): assignment = top-2 anchors by (cos DESC, cid),
    * candidates = same-cell collisions under the id-ordered cap,
    * verify = precomputed-norm cosine. Emits the CTE list
    * `anchors .. scored`; consumers filter `scored` at their
    * threshold (d5 emits the pairs, d19 closes them transitively). */
  private val ivfPairChainSql: String =
    s"""anchors AS (SELECT id AS cid, embedding AS avec
                        FROM corpus ORDER BY id LIMIT 64),
            -- anchor affinity mirrors the engine's cosineSim shape:
            -- dot / sqrt(aa * bb) (single sqrt of the product)
            ranked_a AS (SELECT c.id, a.cid,
                           row_number() OVER (PARTITION BY c.id ORDER BY
                             (list_reduce(list_prepend(0.0, list_transform(
                                generate_series(1, len(c.embedding)),
                                i -> c.embedding[i]::DOUBLE * a.avec[i]::DOUBLE)),
                                (x, y) -> x + y) /
                              sqrt(
                                list_reduce(list_prepend(0.0, list_transform(
                                  generate_series(1, len(c.embedding)),
                                  i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)),
                                  (x, y) -> x + y) *
                                list_reduce(list_prepend(0.0, list_transform(
                                  generate_series(1, len(a.avec)),
                                  i -> a.avec[i]::DOUBLE * a.avec[i]::DOUBLE)),
                                  (x, y) -> x + y))) DESC, a.cid) AS rn
                         FROM corpus c, anchors a),
            assign AS (SELECT id, cid FROM ranked_a WHERE rn <= 2),
            capped AS (SELECT id, cid,
                         row_number() OVER (PARTITION BY cid
                                            ORDER BY id) AS crn
                       FROM assign),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM capped a JOIN capped b
                       ON a.cid = b.cid AND a.id < b.id
                     WHERE a.crn <= 1000 AND b.crn <= 1000),
            -- norms per vector then dot/(n_a*n_b), mirroring the
            -- engine's precomputed-norm shape (sqrt(aa)*sqrt(bb) is a
            -- different double than sqrt(aa*bb))
            normed AS (SELECT id, embedding,
                         sqrt(list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(embedding)),
                           i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                           (x, y) -> x + y)) AS norm
                       FROM corpus),
            scored AS (SELECT cand.id_a, cand.id_b,
                         list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(x.embedding)),
                           i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)),
                           (x2, y2) -> x2 + y2) /
                         (x.norm * y.norm) AS cos
                       FROM cand
                       JOIN normed x ON x.id = cand.id_a
                       JOIN normed y ON y.id = cand.id_b)"""

  /** The d5 gate corpus: embeddings plus perturbed near-copies (one
    * component bumped +0.25 — cosine vs the original ≈ 0.99 where
    * natural cross-vector cosine tops out at 0.48). */
  private val d5CorpusSql: String =
    """corpus AS (
              SELECT vec_id AS id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000 AS id,
                list_concat([(embedding[1] + 0.25)::FLOAT], embedding[2:64])
              FROM embeddings WHERE vec_id % 5 = 0)"""

  /** D5: embedding near-dup pairs, blocked by IVF coarse-centroid
    * cells (64-anchor sample codebook, 2 probes), exact cosine ≥ 0.9.
    * The oracle replicates the whole pipeline via [[ivfPairChainSql]]. */
  private val d5 = QueryDef(
    "d5_embedding_near_dup",
    "embedding-cosine near-dup pairs (IVF centroid-blocked)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val perturbed = e.filter(col("id") % 5 === 0)
        .select((col("id") + 10000).as("id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.25f)).cast("float")),
            slice(col("embedding"), 2, 63)).as("embedding"))
      Dedup.embeddingNearDupPairsIvf(e.unionByName(perturbed),
        "id", "embedding", numCentroids = 64, probes = 2, threshold = 0.9,
        cellCap = CatalogCap)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH $d5CorpusSql,
            $ivfPairChainSql
            SELECT id_a, id_b, round(cos, 6) AS cos_r
            FROM scored WHERE cos >= 0.9 ORDER BY id_a, id_b"""))

  /** D19: SEMANTIC dedup (SemDeDup, Abbas et al. 2023) — one survivor
    * per embedding-cosine component ([[Dedup.semanticDedup]]): the d5
    * pair mine, transitively CLOSED into clusters, min-id member
    * kept. The gate corpus adds a SECOND perturbation family
    * (id+20000, component 2 bumped) so real multi-member components
    * exist: {v, v′, v″} must collapse to one survivor even when the
    * blocking misses the (v′, v″) pair — the closure through v is
    * what the greedy pairwise drop (d8) cannot express. Oracle: the
    * shared [[ivfPairChainSql]] mine, a recursive reachability CTE
    * labeling every node with its component min, then the survivor
    * filter (label = own id; absent = singleton survives). */
  private val d19 = QueryDef(
    "d19_semantic_dedup",
    "semantic dedup: one survivor per embedding-cosine cluster",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val p1 = e.filter(col("id") % 5 === 0)
        .select((col("id") + 10000).as("id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.25f)).cast("float")),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val p2 = e.filter(col("id") % 10 === 0)
        .select((col("id") + 20000).as("id"),
          concat(
            slice(col("embedding"), 1, 1),
            array((element_at(col("embedding"), 2) + lit(0.25f)).cast("float")),
            slice(col("embedding"), 3, 62)).as("embedding"))
      Dedup.semanticDedup(e.unionByName(p1).unionByName(p2),
        "id", "embedding", numCentroids = 64, probes = 2, threshold = 0.9,
        cellCap = CatalogCap)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE corpus AS (
              SELECT vec_id AS id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000 AS id,
                list_concat([(embedding[1] + 0.25)::FLOAT], embedding[2:64])
              FROM embeddings WHERE vec_id % 5 = 0
              UNION ALL
              SELECT vec_id + 20000 AS id,
                list_concat([embedding[1], (embedding[2] + 0.25)::FLOAT],
                            embedding[3:64])
              FROM embeddings WHERE vec_id % 10 = 0),
            $ivfPairChainSql,
            pairs AS (SELECT id_a, id_b FROM scored WHERE cos >= 0.9),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            cc(node, reach) AS (
              SELECT src, src FROM edges
              UNION
              SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
            labels AS (SELECT node, min(reach) AS rep FROM cc GROUP BY node)
            SELECT c.id, coalesce(l.rep, c.id) AS cluster_id
            FROM corpus c LEFT JOIN labels l ON l.node = c.id
            WHERE coalesce(l.rep, c.id) = c.id ORDER BY c.id"""))

  /** D20: INCREMENTAL semantic dedup — the d10/d12 discipline closed
    * for the embedding family: the corpus (embeddings + its first
    * perturbation family) is mined and clustered ONCE and its IVF
    * index committed as frames ([[SimilaritySearch.ivfIndexFrames]]);
    * a NEW batch (the second perturbation family) then probes the
    * STORED index ([[Dedup.incrementalSemanticPairs]] — batch-only
    * assignment, stored member join, SHUFFLE_HASH verify) and folds
    * into the stored cluster map via
    * [[ConnectedComponents.mergeClusters]]. The oracle is the d12
    * identity: recursive CC over the UNION of in-corpus and cross
    * pairs from scratch — incremental ≡ full, through the stored
    * artifacts. Members use the index's probes=1 top-1 cells; the
    * batch probes 2; both replicated exactly. */
  private val d20 = QueryDef(
    "d20_incremental_semantic",
    "new-batch semantic dedup against stored IVF index + cluster map",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val p1 = e.filter(col("id") % 5 === 0)
        .select((col("id") + 10000).as("id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.25f)).cast("float")),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val corpus = e.unionByName(p1)
      val batch = e.filter(col("id") % 10 === 0)
        .select((col("id") + 20000).as("id"),
          concat(
            slice(col("embedding"), 1, 1),
            array((element_at(col("embedding"), 2) + lit(0.25f)).cast("float")),
            slice(col("embedding"), 3, 62)).as("embedding"))
      val (cb, members) = SimilaritySearch.ivfIndexFrames(corpus,
        "id", "embedding", numCentroids = 64, cellCap = CatalogCap)
      val inPairs = Dedup.embeddingNearDupPairsIvf(corpus, "id", "embedding",
        numCentroids = 64, probes = 2, threshold = 0.9,
        cellCap = CatalogCap).select("id_a", "id_b")
      val stored = ConnectedComponents.duplicateClusters(inPairs)
      val cross = Dedup.incrementalSemanticPairs(batch, "id", "embedding",
        cb, members, corpus, probes = 2, threshold = 0.9)
      ConnectedComponents.mergeClusters(stored,
        cross.select("corpus_id", "new_id"))
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE $d5CorpusSql,
            $ivfPairChainSql,
            inpairs AS (SELECT id_a, id_b FROM scored WHERE cos >= 0.9),
            mem AS (SELECT id AS neighbor_id, cid AS centroid_id
                    FROM ranked_a WHERE rn <= 1),
            mcap AS (SELECT neighbor_id, centroid_id,
                       row_number() OVER (PARTITION BY centroid_id
                                          ORDER BY neighbor_id) AS mrn
                     FROM mem),
            batchsrc AS (SELECT vec_id + 20000 AS id,
                list_concat([embedding[1], (embedding[2] + 0.25)::FLOAT],
                            embedding[3:64]) AS embedding
              FROM embeddings WHERE vec_id % 10 = 0),
            branked AS (SELECT b.id, a.cid,
                          row_number() OVER (PARTITION BY b.id ORDER BY
                            ${cosSql("b.embedding", "a.avec")} DESC,
                            a.cid) AS rn
                        FROM batchsrc b, anchors a),
            bassign AS (SELECT id, cid FROM branked WHERE rn <= 2),
            ccand AS (SELECT DISTINCT m.neighbor_id AS corpus_id,
                        b.id AS new_id
                      FROM mcap m JOIN bassign b ON m.centroid_id = b.cid
                      WHERE m.mrn <= $CatalogCap
                        AND m.neighbor_id <> b.id),
            bnormed AS (SELECT id, embedding,
                          sqrt(${dotSql("embedding", "embedding")}) AS norm
                        FROM batchsrc),
            cscored AS (SELECT ccand.corpus_id, ccand.new_id,
                          ${dotSql("x.embedding", "y.embedding")} /
                            (x.norm * y.norm) AS cos
                        FROM ccand JOIN normed x ON x.id = ccand.corpus_id
                                   JOIN bnormed y ON y.id = ccand.new_id),
            crosspairs AS (SELECT corpus_id, new_id FROM cscored
                           WHERE cos >= 0.9),
            edges AS (SELECT id_a AS src, id_b AS dst FROM inpairs
                      UNION SELECT id_b, id_a FROM inpairs
                      UNION SELECT corpus_id, new_id FROM crosspairs
                      UNION SELECT new_id, corpus_id FROM crosspairs),
            cc(node, reach) AS (
              SELECT src, src FROM edges
              UNION
              SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
            labels AS (SELECT node, min(reach) AS rep FROM cc GROUP BY node)
            SELECT node AS id, rep AS cluster_id FROM labels
            ORDER BY id"""))

  /** SS1: brute-force exact cosine top-5 per query vector — the ANN
    * baseline/recall oracle. Rank key rounded at 1e-12 so a 1-ulp
    * cross-engine wiggle can't flip an order; ties break on id. */
  private val ss1 = QueryDef(
    "ss1_bruteforce_topk",
    "exact cosine top-k neighbors (brute force baseline)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val scored = SimilaritySearch.bruteForceTopK(
        e.filter(col("id") < 10), e, "id", "embedding", k = 5)
      scored.select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
                 c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                       FROM embeddings),
            scored AS (SELECT query_id, neighbor_id,
                         list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(qv)),
                           i -> qv[i]::DOUBLE * cv[i]::DOUBLE)), (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(qv)),
                             i -> qv[i]::DOUBLE * qv[i]::DOUBLE)), (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(cv)),
                             i -> cv[i]::DOUBLE * cv[i]::DOUBLE)), (x, y) -> x + y))
                         AS cos
                       FROM q, c WHERE query_id != neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_r
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** SS3: IVF ANN top-k — corpus indexed once into 32 coarse cells
    * (sample codebook), queries probe their 8 nearest cells, exact
    * cosine ranks the members. Deterministic end to end, so the
    * oracle replicates the whole algorithm: one affinity ranking CTE
    * serves both the corpus top-1 assignment and the query top-8
    * probes (the query set is a subset of the corpus, and the engine
    * uses the same codebook + ranking formula for both). */
  private val ss3 = QueryDef(
    "ss3_ivf_ann_topk",
    "IVF coarse-cell approximate top-k (probes=8/32 cells)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.ivfTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, numCentroids = 32, probes = 8,
        cellCap = 1000)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH anchors AS (SELECT vec_id AS cid, embedding AS avec
                             FROM embeddings ORDER BY vec_id LIMIT 32),
            -- affinity rank of every corpus vector against every
            -- anchor, engine formula: dot / sqrt(aa * bb), ties on cid
            aff AS (SELECT e.vec_id AS id, a.cid,
                      row_number() OVER (PARTITION BY e.vec_id ORDER BY
                        (list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(e.embedding)),
                           i -> e.embedding[i]::DOUBLE * a.avec[i]::DOUBLE)),
                           (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(e.embedding)),
                             i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
                             (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(a.avec)),
                             i -> a.avec[i]::DOUBLE * a.avec[i]::DOUBLE)),
                             (x, y) -> x + y))) DESC, a.cid) AS rn
                    FROM embeddings e, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id < 10 AND rn <= 8),
            capped AS (SELECT neighbor_id, cid,
                         row_number() OVER (PARTITION BY cid
                                            ORDER BY neighbor_id) AS crn
                       FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                     FROM qassign q JOIN capped c ON q.cid = c.cid
                     WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            scored AS (SELECT query_id, neighbor_id,
                         list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(eq.embedding)),
                           i -> eq.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)),
                           (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(eq.embedding)),
                             i -> eq.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE)),
                             (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(ec.embedding)),
                             i -> ec.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)),
                             (x, y) -> x + y))
                         AS cos
                       FROM cand
                       JOIN embeddings eq ON eq.vec_id = cand.query_id
                       JOIN embeddings ec ON ec.vec_id = cand.neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, rank, neighbor_id
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** TS1: language-ID heuristic (stopword argmax with fixed
    * preference order). */
  private val ts1 = QueryDef(
    "ts1_lang_id",
    "stopword-heuristic language identification",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("pred"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, lang,
              regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents),
            s AS (SELECT doc_id, lang,
              len(list_filter(toks, x -> x IN ('the','a','of','to','and','in','is','that','it','for'))) AS s_en,
              len(list_filter(toks, x -> x IN ('der','die','das','und','nicht','mit','ist','ein','zu'))) AS s_de,
              len(list_filter(toks, x -> x IN ('el','la','los','de','que','y','es','un','en','no'))) AS s_es,
              len(list_filter(toks, x -> x IN ('le','la','les','et','des','un','est','que','dans'))) AS s_fr
              FROM t)
            SELECT doc_id, lang,
              CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                   WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                   WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                   WHEN s_fr > 0 THEN 'fr'
                   ELSE 'und' END AS pred
            FROM s ORDER BY doc_id"""))

  /** TS2: quality scoring — exact counts, single-division ratios, and
    * the composite score (per-row double math, rounded at output). */
  private val ts2 = QueryDef(
    "ts2_quality_score",
    "document quality components + composite score",
    (s, dir) => {
      val comps = TextAnalysis.qualityComponents(col("text"))
        .map { case (n, c) => c.as(n) }
      Tables.documents(s, dir)
        .select((col("doc_id") +: comps :+
          round(TextAnalysis.qualityScore(col("text")), 6).as("score")): _*)
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          round(col("punct_ratio"), 6).as("punct_r"),
          round(col("digit_ratio"), 6).as("digit_r"),
          round(col("stopword_ratio"), 6).as("stop_r"),
          round(col("mean_token_len"), 6).as("mean_len"),
          col("score"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
              regexp_split_to_array(trim(text), '\s+') AS toks,
              regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks
              FROM documents),
            c AS (SELECT doc_id,
              length(text) AS n_chars,
              len(toks) AS n_tokens,
              len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
              len(regexp_extract_all(text, '[0-9]')) AS digits,
              len(list_filter(ltoks, x -> x IN ('the','a','of','to','and','in','is','that','it','for'))) AS stops,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(toks, x -> length(x)::BIGINT)), (a,b) -> a+b) AS tok_chars
              FROM t)
            SELECT doc_id, n_chars, n_tokens,
              round(CASE WHEN n_chars = 0 THEN 0.0::DOUBLE
                    ELSE punct::DOUBLE / n_chars::DOUBLE END, 6) AS punct_r,
              round(CASE WHEN n_chars = 0 THEN 0.0::DOUBLE
                    ELSE digits::DOUBLE / n_chars::DOUBLE END, 6) AS digit_r,
              round(CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
                    ELSE stops::DOUBLE / n_tokens::DOUBLE END, 6) AS stop_r,
              round(CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
                    ELSE tok_chars::DOUBLE / n_tokens::DOUBLE END, 6) AS mean_len,
              round(
                0.4::DOUBLE * least(n_tokens::DOUBLE / 100.0::DOUBLE, 1.0::DOUBLE) +
                0.3::DOUBLE * least((CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
                    ELSE stops::DOUBLE / n_tokens::DOUBLE END) * 5.0::DOUBLE, 1.0::DOUBLE) +
                0.3::DOUBLE * (1.0::DOUBLE - least((CASE WHEN n_chars = 0 THEN 0.0::DOUBLE
                    ELSE digits::DOUBLE / n_chars::DOUBLE END) * 10.0::DOUBLE, 1.0::DOUBLE)),
                6) AS score
            FROM c ORDER BY doc_id"""))

  /** TS3: token counting — whitespace words and the BPE-ish regex
    * proxy. */
  private val ts3 = QueryDef(
    "ts3_token_counts",
    "whitespace + BPE-ish token counting",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws,
              len(regexp_extract_all(text,
                '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS n_bpe
            FROM documents ORDER BY doc_id"""))

  /** TS4: document fingerprints — normalized md5 and the order-
    * sensitive rolling hash (mod 1e9+7 token fold). */
  private val ts4 = QueryDef(
    "ts4_fingerprints",
    "md5 + rolling-hash document fingerprints",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.docFingerprint(col("text")).as("fp"),
        TextAnalysis.docRollingFingerprint(col("text")).as("roll_fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(regexp_split_to_array(trim(text), '\s+'),
                  tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT % 1000000007)),
                (a, b) -> (a * 31 + b) % 1000000007) AS roll_fp
            FROM documents ORDER BY doc_id"""))

  /** TS5: PII detection + redaction ([[TextAnalysis.redactPii]]).
    * The synthetic corpus carries no real PII, so the gate
    * MANUFACTURES it deterministically from the row itself (an email
    * from doc_id+source, a phone on every 3rd doc, an IPv4 on every
    * 4th) — both engines build the identical string, then the Spark
    * operator and the oracle's staged regexp_replace must agree on
    * every match boundary and every count. Patterns are RE2-safe so
    * the same strings drive both engines (see piiPatterns). */
  private val ts5 = QueryDef(
    "ts5_pii_redaction",
    "staged PII counting + redaction (email/IPv4/phone)",
    (s, dir) => {
      val raw = concat(
        lit("contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".net"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call (555) 123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(""),
        when(col("doc_id") % 4 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(""),
        lit(" "), col("text"))
      val counts = TextAnalysis.piiCounts(raw).map { case (n, c) => c.as(n) }
      Tables.documents(s, dir)
        .select((col("doc_id") +: counts :+
          TextAnalysis.redactPii(raw).as("redacted")): _*)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
              'contact user' || doc_id::VARCHAR || '@' || source || '.net' ||
              CASE WHEN doc_id % 3 = 0 THEN ' call (555) 123-' ||
                lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
              CASE WHEN doc_id % 4 = 0 THEN ' from 10.' ||
                (doc_id % 256)::VARCHAR || '.0.' ||
                ((doc_id * 7) % 256)::VARCHAR ELSE '' END ||
              ' ' || text AS raw
              FROM documents),
            r1 AS (SELECT doc_id,
              len(regexp_extract_all(raw,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
              regexp_replace(raw,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g') AS s1
              FROM t),
            r2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(s1,
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
              regexp_replace(s1,
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                '<IP>', 'g') AS s2
              FROM r1)
            SELECT doc_id, n_email, n_ipv4,
              len(regexp_extract_all(s2,
                '(\+\d{1,2}[ -])?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}')) AS n_phone,
              regexp_replace(s2,
                '(\+\d{1,2}[ -])?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}',
                '<PHONE>', 'g') AS redacted
            FROM r2 ORDER BY doc_id"""))

  /** TS6: Gopher-style repetition stats via the native one-pass
    * kernel ([[graft.plans.RepetitionKernel]]): duplicate-token
    * fraction and most-frequent-adjacent-bigram fraction — the
    * degenerate-repetition signals a curation pipeline thresholds on.
    * The oracle recomputes the same exact counts with plain list +
    * group-by arithmetic (chr(1)-joined bigram keys, identical to the
    * kernel's separator). Ratios are single int/int divisions rounded
    * at output (house determinism rule). */
  private val ts6 = QueryDef(
    "ts6_repetition_stats",
    "dup-token + top-bigram repetition fractions (native kernel)",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").as("n_tokens"),
        col("r.n_distinct").as("n_distinct"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.top_bigram_n").as("top_bigram_n"),
        round(when(col("r.n_tokens") === 0, 0.0)
          .otherwise(lit(1.0) - col("r.n_distinct").cast("double") /
            col("r.n_tokens").cast("double")), 6).as("dup_token_frac"),
        round(when(col("r.n_bigrams") === 0, 0.0)
          .otherwise(col("r.top_bigram_n").cast("double") /
            col("r.n_bigrams").cast("double")), 6).as("top_bigram_frac"))
      .orderBy("doc_id"),
    Some(s"""WITH ${gopherChainSql("", "documents", "doc_id")}
            SELECT b.doc_id, n_tokens, n_distinct,
              len(bg) AS n_bigrams,
              coalesce(top_n, 0) AS top_bigram_n,
              round(CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
                ELSE 1.0::DOUBLE - n_distinct::DOUBLE / n_tokens::DOUBLE
                END, 6) AS dup_token_frac,
              round(CASE WHEN len(bg) = 0 THEN 0.0::DOUBLE
                ELSE coalesce(top_n, 0)::DOUBLE / len(bg)::DOUBLE
                END, 6) AS top_bigram_frac
            FROM b LEFT JOIN m ON b.doc_id = m.doc_id
            ORDER BY b.doc_id"""))

  /** SS4: int8 embedding quantization ([[VectorCompression]]) — the
    * compression pass a vector corpus runs before ANN indexing. The
    * gate hash-compares the quantized int arrays THEMSELVES (the
    * arithmetic is pinned: scale = max|v|/127, round half-away-from-
    * zero — identical in both engines) plus the reconstruction
    * fidelity, whose three dot-product folds the oracle replicates
    * left-to-right so even the double sums are bit-identical. The
    * array is compared as a scalar md5 of its comma-joined elements
    * (the s3 discipline: the driver's comparator can't sort raw
    * array columns) — bit-equality of the digest IS bit-equality of
    * every quantized element. */
  private val ss4 = QueryDef(
    "ss4_int8_quantization",
    "symmetric int8 vector quantization + reconstruction fidelity",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("scale", VectorCompression.int8Scale(col("embedding")))
        .withColumn("qv", VectorCompression.quantizeInt8(col("embedding"), col("scale")))
      e.select(col("vec_id"),
          round(col("scale"), 6).as("scale_r"),
          md5(concat_ws(",", col("qv").cast("array<string>"))).as("qv_md5"),
          round(VectorCompression.fidelity(
            col("embedding"), col("qv"), col("scale")), 6).as("fid_r"))
        .orderBy("vec_id")
    },
    Some("""WITH t AS (SELECT vec_id,
              list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            s AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM t),
            q AS (SELECT vec_id, v, scale,
              CASE WHEN scale = 0 THEN list_transform(v, x -> 0::INTEGER)
                   ELSE list_transform(v, x -> round(x / scale)::INTEGER)
              END AS qv
              FROM s),
            d AS (SELECT vec_id, v, scale, qv,
              list_transform(qv, x -> x::DOUBLE * scale) AS dq
              FROM q),
            f AS (SELECT vec_id, scale, qv,
              list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(list_zip(v, dq), p -> p[1] * p[2])),
                (a, b) -> a + b) AS ab,
              list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(v, x -> x * x)), (a, b) -> a + b) AS aa,
              list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(dq, x -> x * x)), (a, b) -> a + b) AS bb
              FROM d)
            SELECT vec_id, round(scale, 6) AS scale_r,
              md5(array_to_string(qv, ',')) AS qv_md5,
              round(CASE WHEN scale = 0 THEN 0.0::DOUBLE
                    ELSE ab / sqrt(aa * bb) END, 6) AS fid_r
            FROM f ORDER BY vec_id"""))

  /** SS5: the quantized-corpus ANN pipeline END-TO-END — quantize
    * (ss4's pinned arithmetic) → pack to binary → IVF index the
    * dequantized corpus → search with RAW float queries → exact
    * cosine over dequantized candidates. This is what a 100 TB
    * vector deployment actually runs (the corpus shuffles as dim+8
    * bytes per vector, not dim·8); every stage is deterministic, so
    * the oracle replicates the whole pipeline: quantize chain, the
    * 32-anchor sample codebook OF THE DEQUANTIZED corpus, the
    * engine's affinity formula for both assignment sides (corpus:
    * dq vs dq anchors; queries: raw vs dq anchors), the cell cap,
    * and the final raw-vs-dq cosine ranking. */
  private val ss5 = QueryDef(
    "ss5_quantized_ivf_topk",
    "IVF ANN over the int8-quantized corpus (raw queries)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.quantizedIvfTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, numCentroids = 32, probes = 8,
        cellCap = 1000)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH t AS (SELECT vec_id,
              list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            s AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
              FROM t),
            dqc AS (SELECT vec_id,
              CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
                   ELSE list_transform(v, x ->
                     round(x / scale)::INTEGER::DOUBLE * scale)
              END AS dq
              FROM s),
            anchors AS (SELECT vec_id AS cid, dq AS avec FROM dqc
                        ORDER BY vec_id LIMIT 32),
            caff AS (SELECT d.vec_id AS id, a.cid,
                      row_number() OVER (PARTITION BY d.vec_id ORDER BY
                        (list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(d.dq)),
                           i -> d.dq[i] * a.avec[i])), (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(d.dq)),
                             i -> d.dq[i] * d.dq[i])), (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(a.avec)),
                             i -> a.avec[i] * a.avec[i])), (x, y) -> x + y)))
                        DESC, a.cid) AS rn
                    FROM dqc d, anchors a),
            qaff AS (SELECT e.vec_id AS id, a.cid,
                      row_number() OVER (PARTITION BY e.vec_id ORDER BY
                        (list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(e.embedding)),
                           i -> e.embedding[i]::DOUBLE * a.avec[i])),
                           (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(e.embedding)),
                             i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
                             (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(a.avec)),
                             i -> a.avec[i] * a.avec[i])), (x, y) -> x + y)))
                        DESC, a.cid) AS rn
                    FROM embeddings e, anchors a WHERE e.vec_id < 10),
            cassign AS (SELECT id AS neighbor_id, cid FROM caff WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM qaff WHERE rn <= 8),
            capped AS (SELECT neighbor_id, cid,
                         row_number() OVER (PARTITION BY cid
                                            ORDER BY neighbor_id) AS crn
                       FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                     FROM qassign q JOIN capped c ON q.cid = c.cid
                     WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            scored AS (SELECT query_id, neighbor_id,
                         list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(eq.embedding)),
                           i -> eq.embedding[i]::DOUBLE * dc.dq[i])),
                           (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(eq.embedding)),
                             i -> eq.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE)),
                             (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(dc.dq)),
                             i -> dc.dq[i] * dc.dq[i])), (x, y) -> x + y))
                         AS cos
                       FROM cand
                       JOIN embeddings eq ON eq.vec_id = cand.query_id
                       JOIN dqc dc ON dc.vec_id = cand.neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, rank, neighbor_id
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** The 8-token gram concat for the decontamination oracles — built
    * from the same n the engine bakes into its kernel call. */
  private val gram8 = (0 until 8).map(j => s"t[i+$j]").mkString(" || ' ' || ")

  /** The dc benchmark fixture: every 10th doc, first two words
    * dropped, id+50000 — shares long n-gram runs with its source doc
    * without being identical (the realistic leak: an eval item
    * paraphrased into the crawl). */
  private val benchSql =
    """bench AS (SELECT doc_id + 50000 AS bench_id,
      |            regexp_replace(text, '^\S+\s+\S+\s+', '') AS text
      |          FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  private def benchDf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 50000).as("bench_id"),
        regexp_replace(col("text"), "^\\S+\\s+\\S+\\s+", "").as("text"))

  /** DC1: benchmark DECONTAMINATION pairs ([[Decontamination]]) — the
    * pre-training hygiene step: training docs sharing ≥2 distinct
    * word 8-grams with an eval-set doc. The benchmark side broadcasts
    * (small by contract), so the corpus never shuffles text — only
    * matched gram hashes reach the (doc, bench) aggregation. The
    * oracle replicates shingling, the portable hash, the distinct
    * rule, and the threshold. */
  private val dc1 = QueryDef(
    "dc1_decontamination_pairs",
    "train×eval docs sharing >=2 distinct word 8-grams",
    (s, dir) => Decontamination.contaminationPairs(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", benchDf(s, dir), "bench_id", "text",
      n = 8, minShared = 2)
      .orderBy("doc_id", "bench_id"),
    Some(s"""WITH $benchSql,
            dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents),
            bt AS (SELECT bench_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM bench),
            dg AS (SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT doc_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM dt)),
            bg AS (SELECT DISTINCT bench_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT bench_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM bt))
            SELECT dg.doc_id, bg.bench_id,
                   count(DISTINCT dg.g) AS n_shared
            FROM dg JOIN bg ON dg.g = bg.g
            GROUP BY 1, 2 HAVING count(DISTINCT dg.g) >= 2
            ORDER BY doc_id, bench_id"""))

  /** DC2: the decontamination APPLY step — the surviving training
    * corpus after dropping every dc1-contaminated doc (one ids-only
    * anti-join; what actually feeds the trainer). */
  private val dc2 = QueryDef(
    "dc2_decontaminated_corpus",
    "training docs surviving benchmark decontamination",
    (s, dir) => Decontamination.dropContaminated(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", benchDf(s, dir), "bench_id", "text",
      n = 8, minShared = 2)
      .orderBy("doc_id"),
    Some(s"""WITH $benchSql,
            dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents),
            bt AS (SELECT bench_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM bench),
            dg AS (SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT doc_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM dt)),
            bg AS (SELECT DISTINCT bench_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT bench_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM bt)),
            bad AS (SELECT dg.doc_id
                    FROM dg JOIN bg ON dg.g = bg.g
                    GROUP BY dg.doc_id, bg.bench_id
                    HAVING count(DISTINCT dg.g) >= 2)
            SELECT d.doc_id, d.text FROM documents d
            LEFT JOIN (SELECT DISTINCT doc_id FROM bad) b
              ON d.doc_id = b.doc_id
            WHERE b.doc_id IS NULL
            ORDER BY d.doc_id"""))

  /** DC3: FUZZY decontamination pairs
    * ([[Decontamination.fuzzyContaminationPairs]]) — the paraphrase
    * net behind dc1's exact 8-gram window: train×eval pairs at
    * shingle-Jaccard ≥ 0.5 through the MinHash-LSH machinery with
    * the SIDES CHOSEN for the dc asymmetry (bench band keys
    * broadcast, corpus probed at scan rate, corpus bands uncapped —
    * a capped index would silently KEEP contaminated docs).
    * PipelineSpec proves the case dc1 structurally misses: a leak
    * reworded every 8th token shares zero exact 8-grams but stays
    * far above the Jaccard threshold. Oracle: two [[lshSideSql]]
    * sides (uncapped candidate rule, mirroring the engine's
    * incremental probe) + the d10 verify arithmetic. */
  private val dc3 = QueryDef(
    "dc3_fuzzy_decontamination",
    "train×eval docs at LSH Jaccard >= 0.5 (paraphrase leaks)",
    (s, dir) => Decontamination.fuzzyContaminationPairs(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", benchDf(s, dir), "bench_id", "text",
      // fixed oracle-pin geometry (the lshSideSql constants); the
      // DEFAULT now derives a recall-0.9 geometry from the threshold
      numHashes = NumHashes, bands = Bands,
      threshold = 0.5)
      .orderBy("doc_id", "bench_id"),
    Some(s"""WITH docsrc AS (SELECT doc_id AS id, text FROM documents),
            benchsrc AS (SELECT doc_id + 50000 AS id,
                regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text
              FROM documents WHERE doc_id % 10 = 0),
            ${lshSideSql("d", "docsrc")},
            ${lshSideSql("b", "benchsrc")},
            cand AS (SELECT DISTINCT d.id AS doc_id, n.id AS bench_id
                     FROM dbands d JOIN bbands n
                       ON d.b = n.b AND d.band_hash = n.band_hash),
            verif AS (SELECT doc_id, bench_id,
                        len(list_intersect(x.hs, y.hs))::DOUBLE /
                        len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE
                          AS jaccard
                      FROM cand JOIN dhashed x ON x.id = cand.doc_id
                                JOIN bhashed y ON y.id = cand.bench_id)
            SELECT doc_id, bench_id, jaccard FROM verif
            WHERE jaccard >= 0.5 ORDER BY doc_id, bench_id"""))

  /** DC4: decontamination against the STORED benchmark index
    * ([[Decontamination.indexBenchmarks]] /
    * [[Decontamination.probeStoredContamination]]) — the production
    * screening shape: eval suites registered in two tranches (the
    * keyed upsert merging them in the store), the corpus probed once
    * against the read-back gram table. Must equal dc1's one-shot
    * pairs over the full benchmark — the oracle IS dc1's, because
    * that identity is the gate's claim (registration round-trips and
    * tranche merging must be invisible). */
  private val dc4 = QueryDef(
    "dc4_stored_decontamination",
    "tranche-registered stored bench index probe ≡ one-shot dc1 pairs",
    (s, dir) => {
      val root = graft.ops.Scratch.tempDir("graft-dc4-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      val bench = benchDf(s, dir)
      Decontamination.indexBenchmarks(
        bench.filter(col("bench_id") % 20 === 0), "bench_id", "text",
        store)
      Decontamination.indexBenchmarks(
        bench.filter(col("bench_id") % 20 =!= 0), "bench_id", "text",
        store)
      Decontamination.probeStoredContamination(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", store, n = 8, minShared = 2)
        .orderBy("doc_id", "bench_id")
    },
    Some(s"""WITH $benchSql,
            dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents),
            bt AS (SELECT bench_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM bench),
            dg AS (SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT doc_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM dt)),
            bg AS (SELECT DISTINCT bench_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT bench_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM bt))
            SELECT dg.doc_id, bg.bench_id,
                   count(DISTINCT dg.g) AS n_shared
            FROM dg JOIN bg ON dg.g = bg.g
            GROUP BY 1, 2 HAVING count(DISTINCT dg.g) >= 2
            ORDER BY doc_id, bench_id"""))

  /** TP2: the TRAINING-PREP pipeline END-TO-END — what a pretraining
    * data job actually runs, as ONE verified composition:
    * decontaminate (dc2) → exact-dedup survivors (d1) → domain mix
    * (sm3) → context chunking (ts7) → sequence packing (sp1). Every
    * stage is the real graft.ops operator; the oracle replicates all
    * five. The scale story is the sum of the stages': broadcast
    * bench grams, one digest shuffle, a zero-shuffle mix predicate,
    * scan-rate chunking, one shard exchange for packing. */
  private val tp2 = QueryDef(
    "tp2_training_prep",
    "decontaminate -> dedup -> mix -> chunk -> pack, end to end",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val clean = Decontamination.dropContaminated(docs, "doc_id", "text",
        benchDf(s, dir), "bench_id", "text", n = 8, minShared = 2)
      val deduped = Dedup.dropExactDuplicates(clean, "doc_id", "text")
      val mixT = docs.select(col("source")).distinct()
        .withColumn("pct", lit(25) + length(col("source")) % 3 * lit(25))
      val mixed = Sampling.mixByHash(deduped, "source", "doc_id",
        mixT, "source", "pct")
      val chunks = TextAnalysis.chunk(mixed, "doc_id", "text",
        windowTokens = 64, stride = 48)
        .withColumn("ck", concat_ws(":", col("doc_id"), col("chunk_no")))
      graft.ops.Packing.packSummary(chunks, "ck", "n_tokens",
        budgetTokens = 256, numShards = 8)
        .orderBy("shard", "pack_no")
    },
    Some(s"""WITH $benchSql,
            ddt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM documents),
            dbt AS (SELECT bench_id, regexp_split_to_array(trim(text), '\\s+') AS t
                    FROM bench),
            ddg AS (SELECT doc_id,
                      ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                    FROM (SELECT doc_id,
                            unnest(list_transform(generate_series(1, len(t) - 7),
                              i -> $gram8)) AS g
                          FROM ddt)),
            dbg AS (SELECT DISTINCT bench_id,
                      ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                    FROM (SELECT bench_id,
                            unnest(list_transform(generate_series(1, len(t) - 7),
                              i -> $gram8)) AS g
                          FROM dbt)),
            bad AS (SELECT ddg.doc_id
                    FROM ddg JOIN dbg ON ddg.g = dbg.g
                    GROUP BY ddg.doc_id, dbg.bench_id
                    HAVING count(DISTINCT ddg.g) >= 2),
            clean AS (SELECT d.doc_id, d.source, d.text FROM documents d
                      LEFT JOIN (SELECT DISTINCT doc_id FROM bad) b
                        ON d.doc_id = b.doc_id
                      WHERE b.doc_id IS NULL),
            reps AS (SELECT min(doc_id) AS doc_id FROM clean
                     GROUP BY md5(regexp_replace(lower(trim(text)),
                       '\\s+', ' ', 'g'))),
            dd AS (SELECT c.doc_id, c.source, c.text FROM clean c
                   JOIN reps r ON c.doc_id = r.doc_id),
            mixed AS (SELECT doc_id, text FROM dd
                      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                            % 100 < 25 + length(source) % 3 * 25),
            t AS (SELECT doc_id,
                    regexp_split_to_array(trim(text), '\\s+') AS toks
                  FROM mixed WHERE length(trim(text)) > 0),
            c AS (SELECT doc_id, toks,
                    unnest(generate_series(0, (len(toks) - 1) // 48)) AS k
                  FROM t),
            ch AS (SELECT doc_id::VARCHAR || ':' || k::VARCHAR AS ck,
                     least(64, len(toks) - k * 48) AS n_tokens
                   FROM c),
            hh AS (SELECT ck, n_tokens,
                     ('0x' || substr(md5(ck), 1, 15))::BIGINT AS hv
                   FROM ch),
            p AS (SELECT hv % 8 AS shard, ck, n_tokens, hv,
                    coalesce(sum(n_tokens) OVER (PARTITION BY hv % 8
                      ORDER BY hv, ck
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS tok_before
                  FROM hh),
            a AS (SELECT shard, (tok_before // 256)::BIGINT AS pack_no,
                         n_tokens
                  FROM p)
            SELECT shard, pack_no, count(*) AS n_chunks,
              sum(n_tokens)::BIGINT AS n_tokens,
              round(sum(n_tokens)::DOUBLE / 256, 6) AS fill
            FROM a GROUP BY 1, 2 ORDER BY shard, pack_no"""))

  /** A8B: sketch-path grouped quantiles — approx_percentile against
    * a8's exact values, pinned inside a 2% relative error band the
    * oracle asserts true (the a7b discipline: the sketch result is
    * engine-specific, the BAND is checkable). */
  private val a8b = QueryDef(
    "a8b_approx_quantile_band",
    "approx_percentile within 2% of exact per-group quantiles",
    (s, dir) => Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("ap50"),
        percentile(col("value"), lit(0.5)).as("ep50"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("ap90"),
        percentile(col("value"), lit(0.9)).as("ep90"))
      .select(col("event_type"), col("n"),
        (abs(col("ap50") - col("ep50")) / abs(col("ep50")) <= 0.02).as("p50_ok"),
        (abs(col("ap90") - col("ep90")) / abs(col("ep90")) <= 0.02).as("p90_ok"))
      .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
              true AS p50_ok, true AS p90_ok
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** SM1: deterministic hash train/test split ([[Sampling
    * .hashSplit]]) — assignment is a pure function of the key (md5
    * bucket < 80), so the gate hash-compares the FULL membership, not
    * just the counts: reproducibility across engines IS the feature.
    * Zero shuffle (one scan + the output sort). */
  private val sm1 = QueryDef(
    "sm1_hash_split",
    "deterministic 80/20 hash split (full membership check)",
    (s, dir) => Sampling.hashSplit(Tables.documents(s, dir), "doc_id", 80)
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                        % 100 < 80
                   THEN 'train' ELSE 'test' END AS split
            FROM documents ORDER BY doc_id"""))

  /** SM2: per-stratum fixed-size sample ([[Sampling
    * .stratifiedSample]]) — 20 docs per source, drawn by hash order
    * (deterministic uniform draw). WindowGroupLimit caps each stratum
    * before its full sort; one (source) exchange. */
  private val sm2 = QueryDef(
    "sm2_stratified_sample",
    "deterministic 20-per-stratum sample by hash order",
    (s, dir) => Sampling.stratifiedSample(
        Tables.documents(s, dir), "source", "doc_id", 20)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id"),
    Some("""SELECT source, doc_id FROM (
              SELECT source, doc_id,
                row_number() OVER (PARTITION BY source
                  ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                             % 100, doc_id) AS rn
              FROM documents)
            WHERE rn <= 20 ORDER BY source, doc_id"""))

  /** TS7: context-window CHUNKING ([[TextAnalysis.chunk]]) — 64-token
    * windows at stride 48 (25% overlap), the sequence-prep step
    * before tokenization/packing. The oracle replicates window
    * arithmetic, inclusive list slicing, and the tail-chunk rule. */
  private val ts7 = QueryDef(
    "ts7_chunking",
    "stride-overlapped 64-token context windows per doc",
    (s, dir) => TextAnalysis.chunk(
      Tables.documents(s, dir), "doc_id", "text",
      windowTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_no"),
    Some("""WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents WHERE length(trim(text)) > 0),
            c AS (SELECT doc_id, toks,
              unnest(generate_series(0, (len(toks) - 1) // 48)) AS k
              FROM t)
            SELECT doc_id, k AS chunk_no, k * 48 AS start_tok,
              least(64, len(toks) - k * 48) AS n_tokens,
              array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text
            FROM c ORDER BY doc_id, chunk_no"""))

  /** SP1: sequence PACKING ([[graft.ops.Packing]]) — ts7's chunks
    * stream-packed into 256-token training examples over 8 parallel
    * hash shards; per-pack rollup (chunks, tokens, fill). The oracle
    * replicates chunking, the shard hash, the within-shard order, the
    * prefix-sum boundary rule, and the fill arithmetic. Non-final
    * packs land in (budget−window, budget+window) tokens by the
    * boundary rule (PackingSpec pins it). */
  private val sp1 = QueryDef(
    "sp1_sequence_packing",
    "shard-parallel stream packing of chunks into 256-token budgets",
    (s, dir) => graft.ops.Packing.packSummary(
      TextAnalysis.chunk(Tables.documents(s, dir), "doc_id", "text",
        windowTokens = 64, stride = 48)
        .withColumn("ck", concat_ws(":", col("doc_id"), col("chunk_no"))),
      "ck", "n_tokens", budgetTokens = 256, numShards = 8)
      .orderBy("shard", "pack_no"),
    Some("""WITH t AS (SELECT doc_id,
              regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents WHERE length(trim(text)) > 0),
            c AS (SELECT doc_id, toks,
              unnest(generate_series(0, (len(toks) - 1) // 48)) AS k
              FROM t),
            ch AS (SELECT doc_id::VARCHAR || ':' || k::VARCHAR AS ck,
              least(64, len(toks) - k * 48) AS n_tokens
              FROM c),
            h AS (SELECT ck, n_tokens,
              ('0x' || substr(md5(ck), 1, 15))::BIGINT AS hv
              FROM ch),
            p AS (SELECT hv % 8 AS shard, ck, n_tokens, hv,
              coalesce(sum(n_tokens) OVER (PARTITION BY hv % 8
                ORDER BY hv, ck
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS tok_before
              FROM h),
            a AS (SELECT shard, (tok_before // 256)::BIGINT AS pack_no,
                         n_tokens
                  FROM p)
            SELECT shard, pack_no, count(*) AS n_chunks,
              sum(n_tokens)::BIGINT AS n_tokens,
              round(sum(n_tokens)::DOUBLE / 256, 6) AS fill
            FROM a GROUP BY 1, 2 ORDER BY shard, pack_no"""))

  /** SM3: deterministic DATA MIXING ([[Sampling.mixByHash]]) — the
    * domain-mixture draw a pretraining pipeline runs ("web 30%, code
    * 100%…"), stated as a broadcast mixture table (here: derived
    * in-plan, pct = 25/50/75 by source-name length mod 3) and applied
    * as a pure per-row hash predicate: ZERO shuffle before the output
    * sort. The gate hash-compares FULL membership (sm1's discipline —
    * determinism across engines IS the feature). */
  private val sm3 = QueryDef(
    "sm3_hash_mix",
    "deterministic per-domain fractional mix (full membership)",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val mixT = d.select(col("source")).distinct()
        .withColumn("pct", lit(25) + length(col("source")) % 3 * lit(25))
      Sampling.mixByHash(d, "source", "doc_id", mixT, "source", "pct")
        .select(col("source"), col("doc_id"))
        .orderBy("source", "doc_id")
    },
    Some("""SELECT source, doc_id FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
                  < 25 + length(source) % 3 * 25
            ORDER BY source, doc_id"""))

  /** SS6: label centroids ([[VectorAggregates.labelCentroids]]) —
    * the element-wise mean embedding per label (cluster summary /
    * k-means update step), in hash-comparable LONG format. The gate
    * runs the ORDERED variant: cross-row double addition order is
    * engine-dependent, so the oracle-checked numbers come from the
    * deterministic vec_id-ordered running fold both engines replicate
    * bit-for-bit; the production unordered agg matches to the last
    * ulp (spec'd). */
  private val ss6 = QueryDef(
    "ss6_label_centroids",
    "per-label mean embedding (ordered-fold vector aggregate)",
    (s, dir) => VectorAggregates.labelCentroids(
      Tables.embeddings(s, dir), "label", "vec_id", "embedding",
      ordered = true)
      .select(col("label"), col("pos"), col("n"),
        round(col("centroid"), 6).as("centroid_r"))
      .orderBy("label", "pos"),
    Some("""WITH e AS (SELECT label, vec_id,
                         unnest(list_transform(
                           generate_series(1, len(embedding)),
                           i -> {'pos': i - 1, 'v': embedding[i]::DOUBLE}))
                           AS u
                       FROM embeddings),
            x AS (SELECT label, vec_id, u.pos AS pos, u.v AS v FROM e),
            r AS (SELECT label, pos, vec_id,
                    count(*) OVER w AS n,
                    sum(v) OVER w AS s,
                    row_number() OVER (PARTITION BY label, pos
                                       ORDER BY vec_id DESC) AS rn
                  FROM x
                  WINDOW w AS (PARTITION BY label, pos ORDER BY vec_id
                               ROWS UNBOUNDED PRECEDING))
            SELECT label, pos, n, round(s / n, 6) AS centroid_r
            FROM r WHERE rn = 1 ORDER BY label, pos"""))

  /** SS7: one DISTRIBUTED k-means (Lloyd) iteration — assignment of
    * every vector to its nearest sample anchor (ss3's oracle-pinned
    * affinity formula, probes=1) composed with the ss6 ordered-fold
    * centroid update, keyed by cell. This is the codebook-training
    * step a vector deployment runs at corpus scale (the driver-side
    * [[graft.ops.Ivf]].lloydRefine twin, distributed): broadcast
    * codebook → one assignment pass → one (cell, pos) update
    * exchange. Long-format output, bit-exact oracle. */
  private val ss7 = QueryDef(
    "ss7_kmeans_step",
    "distributed Lloyd iteration: assign + ordered centroid update",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val assign = Ivf.assignments(e, "id", "embedding",
        numCentroids = 32, probes = 1)
      VectorAggregates.labelCentroids(e.join(assign, "id"),
        "centroid_id", "id", "embedding", ordered = true)
        .select(col("centroid_id"), col("pos"), col("n"),
          round(col("centroid"), 6).as("centroid_r"))
        .orderBy("centroid_id", "pos")
    },
    Some("""WITH anchors AS (SELECT vec_id AS cid, embedding AS avec
                             FROM embeddings ORDER BY vec_id LIMIT 32),
            aff AS (SELECT e.vec_id AS id, a.cid,
                      row_number() OVER (PARTITION BY e.vec_id ORDER BY
                        (list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(e.embedding)),
                           i -> e.embedding[i]::DOUBLE * a.avec[i]::DOUBLE)),
                           (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(e.embedding)),
                             i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
                             (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(a.avec)),
                             i -> a.avec[i]::DOUBLE * a.avec[i]::DOUBLE)),
                             (x, y) -> x + y))) DESC, a.cid) AS rn
                    FROM embeddings e, anchors a),
            cassign AS (SELECT id, cid FROM aff WHERE rn <= 1),
            ex AS (SELECT c.cid, m.vec_id,
                     unnest(list_transform(
                       generate_series(1, len(m.embedding)),
                       i -> {'pos': i - 1, 'v': m.embedding[i]::DOUBLE}))
                       AS u
                   FROM cassign c JOIN embeddings m ON m.vec_id = c.id),
            x AS (SELECT cid, vec_id, u.pos AS pos, u.v AS v FROM ex),
            r AS (SELECT cid, pos, vec_id,
                    count(*) OVER w AS n,
                    sum(v) OVER w AS s,
                    row_number() OVER (PARTITION BY cid, pos
                                       ORDER BY vec_id DESC) AS rn2
                  FROM x
                  WINDOW w AS (PARTITION BY cid, pos ORDER BY vec_id
                               ROWS UNBOUNDED PRECEDING))
            SELECT cid AS centroid_id, pos, n, round(s / n, 6) AS centroid_r
            FROM r WHERE rn2 = 1 ORDER BY centroid_id, pos"""))

  /** TS8: vocabulary induction ([[TextAnalysis.vocabCoverage]]) —
    * top-100 corpus tokens with rank and cumulative stream coverage,
    * the vocab-sizing curve of tokenizer prep. Deterministic
    * tie-break on the token string; the coverage divisions are the
    * same long/long→double in both engines, rounded at output. */
  private val ts8 = QueryDef(
    "ts8_vocab_coverage",
    "top-k token frequencies with cumulative coverage",
    (s, dir) => TextAnalysis.vocabCoverage(
      Tables.documents(s, dir), "text", k = 100)
      .orderBy("rank"),
    Some("""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text),
                            '\s+')) AS token
                          FROM documents WHERE length(trim(text)) > 0),
            counts AS (SELECT token, count(*) AS n FROM toks
                       GROUP BY token),
            tot AS (SELECT sum(n) AS total FROM counts),
            topk AS (SELECT token, n FROM counts
                     ORDER BY n DESC, token LIMIT 100)
            SELECT row_number() OVER (ORDER BY n DESC, token) AS rank,
                   token, n,
                   round(sum(n) OVER (ORDER BY n DESC, token
                                      ROWS UNBOUNDED PRECEDING)
                         / total, 6) AS coverage
            FROM topk, tot ORDER BY rank"""))

  /** SM5: LEAKAGE-SAFE split ([[Sampling.leakageSafeSplit]]) — the
    * assignment hashes the duplicate-CLUSTER representative (d9's
    * connected components over the LSH pair graph), so a near-dup
    * cluster can never straddle train/test — the eval-contamination
    * mode a per-doc split cannot prevent. Oracle: d9's recursive-CTE
    * components feeding sm1's hash rule on coalesce(cluster, id).
    * Full membership compared (every doc, both sides).
    *
    * DELIBERATELY SELF-MINING (settled round 8; do not re-litigate):
    * this gate embeds the pair mine + CC so the one-call convenience
    * form — what a user reaches for first — is itself oracle-pinned
    * end to end. The stored-artifact twin a deployment runs at scale
    * (mine once, commit clusters, split from the committed labels via
    * [[Sampling.leakageSafeSplitWithClusters]]) is gated separately
    * by tp6, which proves zero mine subtrees in consumer plans. Two
    * gates, two contracts: sm5 = composition correctness, tp6 =
    * production artifact discipline; at ~4 s in-catalog the embedded
    * mine is an acceptable gate cost. */
  private val sm5 = QueryDef(
    "sm5_leakage_safe_split",
    "cluster-aware 70/30 split: near-dup clusters never straddle",
    (s, dir) => {
      val corpus = dupCorpus(s, dir)
      val pairs = Dedup.minhashLshPairs(corpus, "id", "text",
        shingleLen = 3, numHashes = NumHashes, bands = Bands,
        threshold = 0.6, bucketCap = CatalogCap)
      Sampling.leakageSafeSplit(corpus, "id", pairs, 70)
        .select(col("id"), col("split"))
        .orderBy("id")
    },
    Some("WITH RECURSIVE " + dupCorpusSql + ",\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
        |clus AS (SELECT node AS id, min(reach) AS cluster_id FROM cc
        |         GROUP BY node)
        |SELECT c.id,
        |  CASE WHEN ('0x' || substr(md5(
        |              coalesce(cl.cluster_id, c.id)::VARCHAR), 1, 15))::BIGINT
        |            % 100 < 70
        |       THEN 'train' ELSE 'test' END AS split
        |FROM corpus c LEFT JOIN clus cl ON cl.id = c.id
        |ORDER BY c.id""".stripMargin))

  /** SM4: the seeded global corpus shuffle ([[Sampling.seededShuffle]])
    * — the deterministic pre-training permutation. The gate compares
    * the (doc, shuffle_key) MAPPING (the permutation itself, since
    * rank order is exactly key order): same seed ⇒ bit-identical
    * permutation in both engines, which is the reproducibility
    * contract epoch shuffling depends on. */
  private val sm4 = QueryDef(
    "sm4_seeded_shuffle",
    "deterministic seeded global shuffle (permutation mapping)",
    (s, dir) => Sampling.seededShuffle(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "ep1")
      .select(col("doc_id"), col("shuffle_key")),
    Some("""SELECT doc_id,
              ('0x' || substr(md5('ep1:' || doc_id), 1, 15))::BIGINT
                AS shuffle_key
            FROM documents ORDER BY shuffle_key, doc_id"""))

  /** TP1: the full curation pipeline as ONE verified composition —
    * language filter (ts1's heuristic) → quality filter (ts2's score)
    * → exact dedup survivors (d1's digest, min-id representative) →
    * per-doc token stats (ts3's BPE-ish proxy). This is the query a
    * training-data pipeline actually runs; the gate proves the
    * library's pieces compose without each stage re-deriving its
    * inputs, and the oracle replicates all four stages. Threshold
    * 0.47 avoids round-composite score values that could tie at the
    * last ulp across engines. */
  private val tp1 = QueryDef(
    "tp1_curation_pipeline",
    "lang filter → quality filter → exact dedup → token stats",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))
      val copies = d.filter(col("id") % 5 === 0)
        .select((col("id") + 20000).as("id"), col("text"))
      val corpus = d.unionByName(copies)
      val kept = corpus
        .filter(TextAnalysis.langId(col("text")) === "en")
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.47)
      Dedup.dropExactDuplicates(kept, "id", "text")
        .select(col("id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("score_r"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
        .orderBy("id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id AS id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000 AS id, text FROM documents
              WHERE doc_id % 5 = 0),
            t AS (SELECT id, text,
              regexp_split_to_array(trim(text), '\s+') AS toks,
              regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks
              FROM corpus),
            feat AS (SELECT id, text,
              len(toks) AS n_tokens,
              length(text) AS n_chars,
              len(regexp_extract_all(text, '[0-9]')) AS digits,
              len(list_filter(ltoks, x -> x IN ('the','a','of','to','and','in','is','that','it','for'))) AS s_en,
              len(list_filter(ltoks, x -> x IN ('der','die','das','und','nicht','mit','ist','ein','zu'))) AS s_de,
              len(list_filter(ltoks, x -> x IN ('el','la','los','de','que','y','es','un','en','no'))) AS s_es,
              len(list_filter(ltoks, x -> x IN ('le','la','les','et','des','un','est','que','dans'))) AS s_fr
              FROM t),
            scored AS (SELECT id, text, n_tokens,
              CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                   WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                   WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                   WHEN s_fr > 0 THEN 'fr'
                   ELSE 'und' END AS pred,
              0.4::DOUBLE * least(n_tokens::DOUBLE / 100.0::DOUBLE, 1.0::DOUBLE) +
              0.3::DOUBLE * least((CASE WHEN n_tokens = 0 THEN 0.0::DOUBLE
                  ELSE s_en::DOUBLE / n_tokens::DOUBLE END) * 5.0::DOUBLE, 1.0::DOUBLE) +
              0.3::DOUBLE * (1.0::DOUBLE - least((CASE WHEN n_chars = 0 THEN 0.0::DOUBLE
                  ELSE digits::DOUBLE / n_chars::DOUBLE END) * 10.0::DOUBLE, 1.0::DOUBLE))
                AS score
              FROM feat),
            kept AS (SELECT id, text, score FROM scored
                     WHERE pred = 'en' AND score >= 0.47),
            reps AS (SELECT min(id) AS id FROM kept
                     GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
            surv AS (SELECT k.id, k.text, k.score
                     FROM kept k JOIN reps USING (id))
            SELECT id, round(score, 6) AS score_r,
              len(regexp_extract_all(text,
                '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS n_bpe
            FROM surv ORDER BY id"""))

  /** MM1: multimodal binary-column plumbing — text → utf8 bytes →
    * byte length + digest, proving binary round-trips through the
    * engine (the decode stubs live in graft.multimodal). */
  private val mm1 = QueryDef(
    "mm1_binary_roundtrip",
    "opaque binary column round-trip (length + digest)",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("bytes"))
      .select(col("doc_id"), length(col("bytes")).as("n_bytes"),
        md5(col("bytes")).as("digest"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
              md5(text) AS digest
            FROM documents ORDER BY doc_id"""))

  /** MM2: the codec SPI path itself, ORACLE-CHECKED — synthetic
    * media (text bytes as payload) through
    * [[graft.multimodal.Multimodal.decodeAndFeaturize]]: the REAL
    * mapPartitions plumbing (one codec per partition, task-completion
    * close) with the deterministic stub codec, whose features are a
    * pure function of the payload bytes — so DuckDB replicates the
    * whole path: digest, byte length, and each feature's integer
    * numerator ((ord(hex char)·31 + i·7) mod 997; the engine emits
    * numerator/997 as float32, the gate multiplies back and rounds,
    * recovering the integer exactly). A deployment's JNI codec swaps
    * in behind the same SPI; this row pins everything around it. */
  private val mm2 = QueryDef(
    "mm2_codec_featurize",
    "mapPartitions codec featurize (integer feature numerators)",
    (s, dir) => {
      import s.implicits._
      val items = graft.multimodal.Multimodal
        .syntheticMedia(Tables.documents(s, dir))
        .as[graft.multimodal.Multimodal.MediaItem]
      graft.multimodal.Multimodal.decodeAndFeaturize(items, dim = 8)
        .toDF()
        .select(col("media_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"), col("digest"),
          posexplode(col("features")).as(Seq("pos", "f")))
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("digest"), col("pos").cast("long").as("pos"),
          round(col("f") * 997.0, 0).cast("long").as("f_num"))
        .orderBy("media_id", "pos")
    },
    Some("""WITH f AS (SELECT doc_id AS media_id,
              (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS kind,
              octet_length(text::BLOB)::BIGINT AS n_bytes,
              md5(text) AS digest
            FROM documents)
            SELECT media_id, kind, n_bytes, digest, i AS pos,
              ((ord(substr(digest, (i % 32)::INT + 1, 1)) * 31 + i * 7)
                % 997)::BIGINT AS f_num
            FROM f, generate_series(0, 7) AS gs(i)
            ORDER BY media_id, pos"""))

  /** MM3: resize metadata — the aspect-preserving fit arithmetic
    * (engine-side part of a resize; the pixel re-encode is the
    * codec's job). Pure column exprs, integer output. */
  private val mm3 = QueryDef(
    "mm3_resize_meta",
    "aspect-preserving resize metadata (fit into 160x90)",
    (s, dir) => graft.multimodal.Multimodal.resizeMeta(
      graft.multimodal.Multimodal
        .syntheticMedia(Tables.documents(s, dir)), 160, 90)
      .select(col("media_id"), col("width"), col("height"),
        col("out_width"), col("out_height"))
      .orderBy("media_id"),
    Some("""WITH m AS (SELECT doc_id AS media_id,
              (n_chars % 1920 + 1)::INT AS width,
              (n_chars % 1080 + 1)::INT AS height
            FROM documents),
            s AS (SELECT *, least(160.0 / width, 90.0 / height, 1.0) AS sc
                  FROM m)
            SELECT media_id, width, height,
              floor(width * sc)::INT AS out_width,
              floor(height * sc)::INT AS out_height
            FROM s ORDER BY media_id"""))

  /** MM4: frame sampling — video rows fan out to ≤ maxFrames stride-
    * sampled frames, each frame's bytes decoded through the codec
    * SPI (stub: a 64-byte window into the payload at the frame
    * index). The stride/cap selection AND the stub decode are
    * deterministic, so the oracle replicates the fan-out and
    * hash-checks every frame payload. */
  private val mm4 = QueryDef(
    "mm4_frame_sample",
    "stride frame sampling through the codec (fan-out + payload hash)",
    (s, dir) => {
      import s.implicits._
      val items = graft.multimodal.Multimodal
        .syntheticMedia(Tables.documents(s, dir))
        .as[graft.multimodal.Multimodal.MediaItem]
      graft.multimodal.Multimodal.sampleFrames(items, maxFrames = 4)
        .toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width"), col("height"), md5(col("bytes")).as("frame_digest"))
        .orderBy("media_id", "frame_idx")
    },
    Some("""WITH v AS (SELECT doc_id AS media_id, text,
              (n_chars % 1920 + 1)::INT AS width,
              (n_chars % 1080 + 1)::INT AS height,
              (n_chars % 30 + 1)::INT AS n_frames
            FROM documents WHERE doc_id % 3 = 2),
            idx AS (SELECT media_id, text, width, height, n_frames,
                      greatest(1, n_frames // 4) AS stride
                    FROM v),
            ex AS (SELECT media_id, text, width, height,
                     unnest(range(0, n_frames, stride)) AS frame_idx
                   FROM idx),
            fr AS (SELECT *,
                     row_number() OVER (PARTITION BY media_id
                                        ORDER BY frame_idx) AS rn
                   FROM ex),
            cut AS (SELECT media_id, frame_idx, width, height,
                      least(frame_idx,
                        greatest(0, octet_length(text::BLOB) - 1)) AS lo,
                      text
                    FROM fr WHERE rn <= 4)
            SELECT media_id, frame_idx, width, height,
              md5(substr(text, lo::INT + 1, 64)) AS frame_digest
            FROM cut ORDER BY media_id, frame_idx"""))

  /** MM5: the multimodal pipeline COMPOSED with vector search —
    * codec featurize (mm2's per-partition open/close SPI path, the
    * deterministic stub codec) feeding exact cosine top-k (ss1's
    * engine): "find media that looks like this". The float feature
    * arithmetic and the cosine fold are both already oracle-pinned;
    * this gate pins their composition end-to-end. */
  private val mm5 = QueryDef(
    "mm5_visual_search",
    "codec featurize -> cosine top-k over feature vectors",
    (s, dir) => {
      import s.implicits._
      val items = graft.multimodal.Multimodal
        .syntheticMedia(Tables.documents(s, dir))
        .as[graft.multimodal.Multimodal.MediaItem]
      val feats = graft.multimodal.Multimodal
        .decodeAndFeaturize(items, dim = 8).toDF()
        .select(col("media_id").as("id"), col("features").as("embedding"))
      SimilaritySearch.bruteForceTopK(
        feats.filter(col("id") < 5), feats, "id", "embedding", k = 3)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH f AS (SELECT doc_id AS id,
              list_transform(generate_series(0, 7), i ->
                ((ord(substr(md5(text), (i % 32)::INT + 1, 1)) * 31
                  + i * 7) % 997)::FLOAT / 997.0::FLOAT) AS emb
              FROM documents),
            q AS (SELECT id AS query_id, emb AS qv FROM f WHERE id < 5),
            c AS (SELECT id AS neighbor_id, emb AS cv FROM f),
            scored AS (SELECT query_id, neighbor_id,
                ${cosSql("qv", "cv")} AS cos
              FROM q, c WHERE query_id != neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, rank, neighbor_id, cos
            FROM ranked WHERE rank <= 3
            ORDER BY query_id, rank"""))

  /** MM7: MULTIMODAL NEAR-DUP — re-uploaded/re-encoded media
    * detection as the dedup matrix's multimodal row: the codec-SPI
    * featurize path (mm5's, decode-per-partition through the real
    * Dataset plumbing) feeding the IVF cosine pair miner (d5's, via
    * the shared [[ivfPairChainSql]] oracle chain). Duplicate media
    * is manufactured by re-keying every 4th item's features
    * (id+10000 — a byte-identical re-upload decodes to identical
    * features, cosine exactly 1); the 0.999 threshold also admits
    * whatever near-collisions the 8-dim positive feature space
    * produces, which the oracle reproduces identically. */
  private val mm7 = QueryDef(
    "mm7_visual_near_dup",
    "multimodal near-dup: codec featurize -> IVF cosine pairs",
    (s, dir) => {
      import s.implicits._
      val items = graft.multimodal.Multimodal
        .syntheticMedia(Tables.documents(s, dir))
        .as[graft.multimodal.Multimodal.MediaItem]
      val feats = graft.multimodal.Multimodal
        .decodeAndFeaturize(items, dim = 8).toDF()
        .select(col("media_id").as("id"), col("features").as("embedding"))
      val copies = feats.filter(col("id") % 4 === 0)
        .select((col("id") + 10000).as("id"), col("embedding"))
      Dedup.embeddingNearDupPairsIvf(feats.unionByName(copies),
        "id", "embedding", numCentroids = 64, probes = 2,
        threshold = 0.999, cellCap = CatalogCap)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH base AS (SELECT doc_id AS id,
              list_transform(generate_series(0, 7), i ->
                ((ord(substr(md5(text), (i % 32)::INT + 1, 1)) * 31
                  + i * 7) % 997)::FLOAT / 997.0::FLOAT) AS embedding
              FROM documents),
            corpus AS (SELECT id, embedding FROM base
                       UNION ALL
                       SELECT id + 10000 AS id, embedding FROM base
                       WHERE id % 4 = 0),
            $ivfPairChainSql
            SELECT id_a, id_b, round(cos, 6) AS cos_r
            FROM scored WHERE cos >= 0.999 ORDER BY id_a, id_b"""))

  /** MM8: AUDIO NEAR-DUP through the REAL WAV decode path — mm7's
    * discipline for the audio modality, with one decisive upgrade:
    * the payloads are VALID PCM WAV files
    * ([[graft.multimodal.Multimodal.syntheticWavMedia]]), so the
    * registry dispatches to [[graft.multimodal.WavCodecProvider]]
    * and the features come from an ACTUAL javax.sound decode +
    * windowed RMS — not the digest stub fallback. Re-encoded
    * duplicates are manufactured as every 4th track re-encoded at
    * 2× gain (id+10000): RMS features scale exactly ×2 (integer
    * sawtooth windows, exact dyadic sums, one correctly-rounded
    * sqrt), so cosine against the original is exactly 1 and the IVF
    * miner must find every planted pair. Oracle: the closed-form RMS
    * per window (amplitude = md5 hex digit + 1, scaled by gain)
    * through the shared [[ivfPairChainSql]] mine. */
  private val mm8 = QueryDef(
    "mm8_audio_near_dup",
    "real WAV decode -> RMS features -> IVF cosine near-dup pairs",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"))
      val originals = graft.multimodal.Multimodal.syntheticWavMedia(docs)
      val reencoded = graft.multimodal.Multimodal.syntheticWavMedia(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")),
        gain = 2)
      val items = originals.unionByName(reencoded)
        .as[graft.multimodal.Multimodal.MediaItem]
      val feats = graft.multimodal.Multimodal
        .decodeAndFeaturize(items, dim = 8,
          provider = graft.multimodal.ModalityCodecProvider)
        .toDF()
        .select(col("media_id").as("id"), col("features").as("embedding"))
      Dedup.embeddingNearDupPairsIvf(feats, "id", "embedding",
        numCentroids = 64, probes = 2, threshold = 0.999,
        cellCap = CatalogCap)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH adocs AS (SELECT doc_id, md5(text) AS h FROM documents
                            WHERE doc_id % 3 = 1),
            tracks AS (SELECT doc_id AS id, h, 1 AS gain FROM adocs
                       UNION ALL
                       SELECT doc_id + 10000 AS id, h, 2 AS gain
                       FROM adocs WHERE doc_id % 4 = 0),
            corpus AS (SELECT id, list_transform(generate_series(1, 8), w ->
                CAST(sqrt(
                  ((('0x' || substr(h, w::INT, 1))::BIGINT + 1) * gain
                   * (('0x' || substr(h, w::INT, 1))::BIGINT + 1) * gain)::DOUBLE
                  * 2796288.0 / 549755813888.0) AS FLOAT)) AS embedding
              FROM tracks),
            $ivfPairChainSql
            SELECT id_a, id_b, round(cos, 6) AS cos_r
            FROM scored WHERE cos >= 0.999 ORDER BY id_a, id_b"""))

  /** MM9: VIDEO NEAR-DUP through the REAL container path — mm8's
    * discipline for the video modality: valid RIFF/AVI payloads
    * carrying an uncompressed 4×4 BMP frame
    * ([[graft.multimodal.Multimodal.syntheticAviMedia]]), so the
    * registry dispatches to [[graft.multimodal.AviMjpegCodecProvider]]
    * and the features come from a REAL demux + ImageIO frame decode +
    * luma pooling (no DCT between pixels and features — which is what
    * keeps the oracle exact: feature i = pixel_i/255.0f, verified
    * byte-exhaustively equal under single- and double-rounding).
    * Re-encodes are every 4th clip at 2× brightness (id+10000):
    * features scale exactly ×2, cosine exactly 1, and the IVF miner
    * must find every planted pair through the shared
    * [[ivfPairChainSql]] chain. */
  private val mm9 = QueryDef(
    "mm9_video_near_dup",
    "real AVI demux+decode -> luma pools -> IVF cosine near-dup pairs",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), col("text"))
      val originals = graft.multimodal.Multimodal.syntheticAviMedia(docs)
      val reencoded = graft.multimodal.Multimodal.syntheticAviMedia(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")),
        gain = 2)
      val items = originals.unionByName(reencoded)
        .as[graft.multimodal.Multimodal.MediaItem]
      val feats = graft.multimodal.Multimodal
        .decodeAndFeaturize(items, dim = 16,
          provider = graft.multimodal.ModalityCodecProvider)
        .toDF()
        .select(col("media_id").as("id"), col("features").as("embedding"))
      Dedup.embeddingNearDupPairsIvf(feats, "id", "embedding",
        numCentroids = 64, probes = 2, threshold = 0.999,
        cellCap = CatalogCap)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH vdocs AS (SELECT doc_id, md5(text) AS h FROM documents
                            WHERE doc_id % 3 = 2),
            clips AS (SELECT doc_id AS id, h, 1 AS gain FROM vdocs
                      UNION ALL
                      SELECT doc_id + 10000 AS id, h, 2 AS gain
                      FROM vdocs WHERE doc_id % 4 = 0),
            corpus AS (SELECT id, list_transform(generate_series(1, 16), i ->
                CAST((('0x' || substr(h, i::INT, 1))::BIGINT * 8 * gain)::DOUBLE
                  / 255.0 AS FLOAT)) AS embedding
              FROM clips),
            $ivfPairChainSql
            SELECT id_a, id_b, round(cos, 6) AS cos_r
            FROM scored WHERE cos >= 0.999 ORDER BY id_a, id_b"""))

  /** MM6: the PER-MODALITY CODEC REGISTRY, oracle-checked — mm2's
    * featurize path driven through [[graft.multimodal
    * .ModalityCodecProvider]] instead of the bare stub: every row
    * dispatches on `kind` to a REAL decoder (image → ImageIO, audio →
    * javax.sound WAV, video → RIFF/AVI MJPEG), which attempts a real
    * decode of the payload, rejects it (the synthetic payloads are
    * text bytes, not media containers), and falls back to the digest
    * stub — whose features the mm2 SQL replicates exactly. The gate
    * therefore pins the full production dispatch chain (lazy per-kind
    * codec open inside a real task, real-decoder rejection, stub
    * fallback, task-completion close of every opened sub-codec) to
    * the same integer-numerator oracle as mm2; decodable payloads
    * change only what the codec returns, never the plumbing. */
  private val mm6 = QueryDef(
    "mm6_registry_dispatch",
    "kind-dispatched codec registry featurize (real decoders, stub fallback)",
    (s, dir) => {
      import s.implicits._
      val items = graft.multimodal.Multimodal
        .syntheticMedia(Tables.documents(s, dir))
        .as[graft.multimodal.Multimodal.MediaItem]
      graft.multimodal.Multimodal.decodeAndFeaturize(items, dim = 8,
          provider = graft.multimodal.ModalityCodecProvider)
        .toDF()
        .select(col("media_id"), col("kind"),
          col("n_bytes").cast("long").as("n_bytes"), col("digest"),
          posexplode(col("features")).as(Seq("pos", "f")))
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("digest"), col("pos").cast("long").as("pos"),
          round(col("f") * 997.0, 0).cast("long").as("f_num"))
        .orderBy("media_id", "pos")
    },
    Some("""WITH f AS (SELECT doc_id AS media_id,
              (['image','audio','video'])[(doc_id % 3 + 1)::INT] AS kind,
              octet_length(text::BLOB)::BIGINT AS n_bytes,
              md5(text) AS digest
            FROM documents)
            SELECT media_id, kind, n_bytes, digest, i AS pos,
              ((ord(substr(digest, (i % 32)::INT + 1, 1)) * 31 + i * 7)
                % 997)::BIGINT AS f_num
            FROM f, generate_series(0, 7) AS gs(i)
            ORDER BY media_id, pos"""))

  /** ST1: STREAMING ↔ BATCH PARITY for the near-dup ingest loop —
    * the spec-only streaming boundary goes oracle-gated. Two
    * sequential Trigger.AvailableNow runs of
    * [[graft.streaming.Streams.nearDupIngest]] drive a corpus
    * through the versioned store: phase 1 ingests the documents
    * table (in-batch greedy LSH dedup seeds the corpus + signature
    * + band-index artifacts), phase 2 appends a perturbed batch
    * that must dedup in-batch AND probe the STORED index (the d10
    * path), committing rejects with best-match provenance. The
    * result unions kept corpus rows with the reject ledger; the
    * oracle replicates the two-phase schedule in SQL (greedy drop =
    * d8's rule per phase; cross-probe = d10's asymmetric chain
    * against phase-1 SURVIVORS only; best match = max jaccard, ties
    * to min corpus id). What no batch gate pins: checkpointed
    * file-source resume (run 2 sees only the appended file),
    * foreachBatch commit ordering (rejects before artifacts
    * advance), and store round-trips BETWEEN micro-batches. The
    * loop's contract is that arrival-ordered streaming equals the
    * sequential batch computation — the hash check enforces it. */
  /** The streaming-parity gates' corpus slice: st1/st2 stream only
    * docs with doc_id % [[StreamGateSliceMod]] == 0 (10% of
    * documents) — they pin SCHEDULE parity (checkpoint resume,
    * commit ordering, store round-trips), not throughput, and the
    * identical contract holds at a tenth of the bench weight
    * (round-6 verdict #5). ONE definition site: the engine filters
    * and the oracle SQL both derive from it, so engine and oracle
    * cannot silently drift apart. Do NOT "fix" this filter away. */
  private val StreamGateSliceMod = 10
  private def streamGateSlice(c: Column): Column =
    c % StreamGateSliceMod === 0
  private val streamGateSliceSql = s"doc_id % $StreamGateSliceMod = 0"

  private val st1 = QueryDef(
    "st1_stream_batch_parity",
    "two-phase AvailableNow near-dup ingest ≡ sequential greedy dedup",
    (s, dir) => {
      // The gate pins SCHEDULE parity (checkpoint resume, commit
      // ordering, store round-trips between micro-batches), not
      // throughput — a 10%-of-documents corpus proves the identical
      // contract at a tenth of the bench weight (round-6 verdict #5).
      val docs = Tables.documents(s, dir)
        .filter(streamGateSlice(col("doc_id")))
        .select(col("doc_id").as("id"), col("text"))
      val pert = Tables.documents(s, dir)
        .filter(streamGateSlice(col("doc_id")) && col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val root = graft.ops.Scratch.fastDir("graft-st1-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      docs.coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.nearDupIngest(s, inDir, ck, store)
        .awaitTermination()
      pert.coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.Streams.nearDupIngest(s, inDir, ck, store)
        .awaitTermination()
      val kept = store.read(s, "corpus")
        .select(col("id"), lit("kept").as("status"),
          lit(null).cast("long").as("matched_id"),
          lit(null).cast("double").as("jaccard"))
      val rejected = store.read(s, "near_dup_rejects")
        .select(col("id"), lit("rejected").as("status"),
          col("matched_id"), col("jaccard"))
      kept.unionByName(rejected).orderBy("id")
    },
    Some(s"""WITH b1 AS (SELECT doc_id AS id, text FROM documents
                        WHERE $streamGateSliceSql),
            b2 AS (SELECT doc_id + 10000 AS id,
                     regexp_replace(text, '^\\S+\\s+', '') AS text
                   FROM documents WHERE $streamGateSliceSql AND doc_id % 4 = 0),
            p1 AS (WITH """ + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM b1),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.6) + """),
            acc1 AS (SELECT b1.id, b1.text FROM b1
                     LEFT JOIN (SELECT DISTINCT id_b FROM p1) d
                       ON b1.id = d.id_b
                     WHERE d.id_b IS NULL),
            p2 AS (WITH """ + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM b2),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.6) + s"""),
            b2s AS (SELECT b2.id, b2.text FROM b2
                    LEFT JOIN (SELECT DISTINCT id_b FROM p2) d
                      ON b2.id = d.id_b
                    WHERE d.id_b IS NULL),
            ${lshSideSql("o", "acc1")},
            ${lshSideSql("n", "b2s")},
            ocapped AS (SELECT id, b, band_hash,
                          row_number() OVER (PARTITION BY b, band_hash
                                             ORDER BY id) AS rn
                        FROM obands),
            xcand AS (SELECT DISTINCT o.id AS corpus_id, n.id AS new_id
                      FROM ocapped o JOIN nbands n
                        ON o.b = n.b AND o.band_hash = n.band_hash
                           AND o.id <> n.id
                      WHERE o.rn <= ${Dedup.DefaultBucketCap}),
            xp AS (SELECT corpus_id, new_id, jaccard
                   FROM (SELECT corpus_id, new_id,
                           len(list_intersect(x.hs, y.hs))::DOUBLE /
                           len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE
                             AS jaccard
                         FROM xcand
                         JOIN ohashed x ON x.id = xcand.corpus_id
                         JOIN nhashed y ON y.id = xcand.new_id)
                   WHERE jaccard >= 0.6),
            acc2 AS (SELECT b2s.id FROM b2s
                     LEFT JOIN (SELECT DISTINCT new_id FROM xp) d
                       ON b2s.id = d.new_id
                     WHERE d.new_id IS NULL),
            rej AS (SELECT new_id AS id, corpus_id AS matched_id, jaccard,
                      row_number() OVER (PARTITION BY new_id
                                         ORDER BY jaccard DESC, corpus_id)
                        AS rn
                    FROM xp)
            SELECT id, 'kept' AS status, NULL::BIGINT AS matched_id,
                   NULL::DOUBLE AS jaccard FROM acc1
            UNION ALL
            SELECT id, 'kept', NULL, NULL FROM acc2
            UNION ALL
            SELECT id, 'rejected', matched_id, jaccard FROM rej WHERE rn = 1
            ORDER BY id"""))

  /** ST2: STREAMING CLUSTER MAINTENANCE ≡ FROM-SCRATCH — the
    * keep-and-label twin of [[st1]], pinning the d12 identity
    * through the streaming loop itself. The same two-phase
    * AvailableNow schedule drives
    * [[graft.streaming.Streams.clusterIngest]]: phase 1 mines
    * in-batch pairs and seeds the artifacts; phase 2's batch folds
    * its in-batch pairs ∪ stored-index cross pairs into the
    * committed cluster table via
    * [[graft.ops.ConnectedComponents.mergeClusters]] — the fixpoint
    * touches only the delta's rep graph. Banding is per-document,
    * so the union of {phase-1 in-batch, phase-2 in-batch, cross
    * probe} candidate pairs IS the one-shot mine's pair set (caps
    * never bind at gate scale), and the incremental fold must land
    * on the min-id labels of the full transitive closure: the
    * oracle is d9's from-scratch recursive-CC SQL over the combined
    * corpus, VERBATIM. Arrival order, checkpoint resume, and the
    * retried read-merge-upsert commit discipline all collapse away
    * — exactly the loop's contract. */
  private val st2 = QueryDef(
    "st2_stream_cluster_parity",
    "two-phase AvailableNow cluster ingest ≡ from-scratch min-id clusters",
    (s, dir) => {
      // Same 10% corpus shrink as st1 — the d12 identity this gate
      // pins is schedule-shaped, not size-shaped.
      val docs = Tables.documents(s, dir)
        .filter(streamGateSlice(col("doc_id")))
        .select(col("doc_id").as("id"), col("text"))
      val pert = Tables.documents(s, dir)
        .filter(streamGateSlice(col("doc_id")) && col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val root = graft.ops.Scratch.fastDir("graft-st2-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      docs.coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.clusterIngest(s, inDir, ck, store)
        .awaitTermination()
      pert.coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.Streams.clusterIngest(s, inDir, ck, store)
        .awaitTermination()
      store.read(s, "dup_clusters").select("id", "cluster_id").orderBy("id")
    },
    Some("WITH RECURSIVE " +
      s"""corpus AS (
        |  SELECT doc_id AS id, text FROM documents WHERE $streamGateSliceSql
        |  UNION ALL
        |  SELECT doc_id + 10000 AS id,
        |         regexp_replace(text, '^\\S+\\s+', '') AS text
        |  FROM documents
        |  WHERE $streamGateSliceSql AND doc_id % 4 = 0)""".stripMargin + ",\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach)
        |SELECT node AS id, min(reach) AS cluster_id FROM cc
        |GROUP BY node ORDER BY id""".stripMargin))

  /** ST3: STREAMING SKETCH PARITY — the
    * [[graft.streaming.Streams.sketchIngest]] loop oracle-gated: two
    * AvailableNow phases maintain one CMS row per micro-batch over
    * the st slice, then the MERGED stored sketch is probed for the
    * slice's exact top-10 tokens, each estimate pinned inside the
    * published band (the ts16 canary pushed through the STREAMING
    * maintenance path — counter addition commutes, so batch
    * boundaries cannot move a counter and merged ≡ one-shot is the
    * loop's whole contract; a replay/merge regression breaks the
    * band or the counts and turns the row red). */
  private val st3 = QueryDef(
    "st3_stream_sketch_parity",
    "streaming CMS maintenance: merged sketch in-band on exact top-10",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(streamGateSlice(col("doc_id")))
        .select(col("doc_id").as("id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st3-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      docs.filter(col("id") % 20 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.sketchIngest(s, inDir, ck, store)
        .awaitTermination()
      docs.filter(col("id") % 20 =!= 0).coalesce(1).write.mode("append")
        .parquet(inDir)
      graft.streaming.Streams.sketchIngest(s, inDir, ck, store)
        .awaitTermination()
      val merged = graft.ops.Sketches.mergedFromStore(s, store)
      val slack = math.ceil(1e-4 * merged.totalCount()).toLong
      val exact = docs
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("item"))
        .filter(col("item") =!= "")
        .groupBy("item").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("item")).limit(10)
        .collect()
      import s.implicits._
      exact.toSeq.map { r =>
        val item = r.getString(0)
        val n = r.getLong(1)
        val est = merged.estimateCount(item)
        (item, n, est >= n && est <= n + slack)
      }.toDF("item", "exact_n", "within_band")
        .orderBy(col("exact_n").desc, col("item"))
    },
    Some(s"""WITH toks AS (SELECT unnest(
              CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                   END) AS item
              FROM documents WHERE $streamGateSliceSql),
            counts AS (SELECT item, count(*)::BIGINT AS exact_n
                       FROM toks GROUP BY item)
            SELECT item, exact_n, true AS within_band
            FROM counts ORDER BY exact_n DESC, item LIMIT 10"""))

  /** ST4: WATERMARKED EVENT-TIME AGGREGATION
    * ([[graft.streaming.Streams.eventCounts]]) — the last spec-only
    * streaming op promoted to an oracle gate (st3's AvailableNow
    * phase template). Three checkpointed phases over a 10% event
    * slice: (1) the early half streams in; (2) the late half PLUS a
    * manufactured STRAGGLER whose ts sits below the checkpointed
    * watermark — the late-row drop this gate exists to pin (distinct
    * event_type, so a failed drop emits an extra output row, not a
    * silently-changed count) AND a sentinel 4 hours past the slice
    * max. The straggler is judged against the CHECKPOINTED phase-1
    * watermark at batch start (the cross-restart pin), while the
    * sentinel advances the watermark past every slice window AFTER
    * the batch — the run's no-data flush batch then emits them all
    * in append mode (the sentinel's own window never closes and
    * never emits). Two standups, not three: the sentinel needs to be
    * in a later BATCH than phase 1, not a later RUN.
    * Output = tumbling 1-hour counts per type,
    * window start as epoch seconds (both engines bucket against the
    * epoch). Oracle: the plain windowed GROUP BY over the slice —
    * equality holds precisely because the straggler was dropped and
    * every slice window closed. */
  private val st4 = QueryDef(
    "st4_stream_event_counts",
    "watermarked tumbling event counts; late straggler dropped",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .filter(col("event_id") % 10 === 0)
        .select(col("ts"), col("event_type"))
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head
      val tmin = bounds.getTimestamp(0)
      val tmax = bounds.getTimestamp(1)
      // the straggler at tmin is below the checkpointed phase-1
      // watermark (midpoint − 2h) only when the slice spans > 4h —
      // pin the fixture assumption loudly instead of letting a
      // compressed regeneration surface as an unexplained extra row
      require(tmax.getTime - tmin.getTime > 4L * 3600 * 1000,
        s"st4 fixture must span > 4h for the late-drop pin " +
          s"(got ${tmax.getTime - tmin.getTime} ms)")
      val split = new java.sql.Timestamp((tmin.getTime + tmax.getTime) / 2)
      val root = graft.ops.Scratch.fastDir("graft-st4-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val outDir = s"$root/out"
      def runOnce(): Unit = {
        val stream = s.readStream.schema("ts TIMESTAMP, event_type STRING")
          .parquet(inDir)
        graft.streaming.Streams.eventCounts(stream, "1 hour", "2 hours")
          .select((col("w_start").cast("long")).as("w_start_s"),
            col("event_type"), col("n"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet").option("path", outDir)
          .start().awaitTermination()
      }
      ev.filter(col("ts") < lit(split)).coalesce(1)
        .write.mode("append").parquet(inDir)
      runOnce()
      ev.filter(col("ts") >= lit(split))
        .unionByName(Seq((tmin, "late_probe")).toDF("ts", "event_type"))
        .unionByName(Seq((new java.sql.Timestamp(
          tmax.getTime + 4L * 3600 * 1000), "sentinel"))
          .toDF("ts", "event_type"))
        .coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      s.read.parquet(outDir).orderBy("w_start_s", "event_type")
    },
    Some("""WITH ev AS (SELECT ts, event_type FROM events
                        WHERE event_id % 10 = 0)
            SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
              AS w_start_s, event_type, count(*)::BIGINT AS n
            FROM ev GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** ST5: STREAMING EXACT DEDUP ([[graft.streaming.Streams
    * .dedupDocStream]], dropDuplicatesWithinWatermark) — the
    * checkpointed fingerprint-state contract goes oracle-gated. Two
    * AvailableNow phases: phase 1 admits a unique slice; phase 2
    * brings NEW unique docs (must pass) plus EXACT COPIES of phase-1
    * docs under fresh ids, 30 minutes later in event time — inside
    * the 1-hour watermark, so the fingerprints are still in state
    * and the copies must drop ACROSS the phase/checkpoint boundary
    * (the thing no batch dedup gate exercises). Every duplicate pair
    * straddles the phases and the fixture has no intra-phase
    * duplicates, so survivorship is deterministic — which is what
    * makes the full-membership oracle possible. */
  private val st5 = QueryDef(
    "st5_stream_exact_dedup",
    "cross-checkpoint streaming dedup: copies drop, new docs pass",
    (s, dir) => {
      val base = 1717200000L
      def slice(m: Int) = Tables.documents(s, dir)
        .filter(col("doc_id") % 20 === m)
        .select(col("doc_id").as("id"), col("text"))
      val p1 = slice(0)
        .withColumn("ts", timestamp_seconds(lit(base) + col("id") % 100))
      val p2 = slice(10)
        .withColumn("ts",
          timestamp_seconds(lit(base + 1800L) + col("id") % 100))
        .unionByName(slice(0)
          .select((col("id") + 10000).as("id"), col("text"))
          .withColumn("ts",
            timestamp_seconds(lit(base + 1800L) + col("id") % 100)))
      val root = graft.ops.Scratch.fastDir("graft-st5-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val outDir = s"$root/out"
      def runOnce(): Unit = {
        val stream = s.readStream
          .schema("id BIGINT, text STRING, ts TIMESTAMP").parquet(inDir)
        graft.streaming.Streams.dedupDocStream(stream, "text", "ts", "1 hour")
          .select("id")
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet").option("path", outDir)
          .start().awaitTermination()
      }
      p1.coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      p2.coalesce(1).write.mode("append").parquet(inDir)
      runOnce()
      s.read.parquet(outDir).orderBy("id")
    },
    Some("""SELECT doc_id AS id FROM documents WHERE doc_id % 20 = 0
            UNION ALL
            SELECT doc_id AS id FROM documents WHERE doc_id % 20 = 10
            ORDER BY id"""))

  /** ST6: STREAMING INBOX CONDITIONAL UPSERT
    * ([[graft.streaming.Streams.inboxStream]] — the add_transcripts
    * inbox poll, the last spec-only streaming loop) ORACLE-GATED.
    * Two query runs over a growing inbox of REAL transcript files
    * (driver-written fixture; the operator itself never touches the
    * driver): each id gets exactly ONE timestamped version (phase 1
    * for even slots, phase 2 for odd) and one plain version. The
    * fixture is designed ORDER-CONVERGENT: the timestamped text also
    * wins the within-batch dedupKeepLast string order, so any
    * micro-batch split, any file order, and any rerun of already-
    * seen files converges to the same fixed point — the unique
    * timestamped version per id. That convergence (U6 through
    * arbitrary streaming schedules) is exactly the loop's contract,
    * and it is what makes the oracle deterministic. */
  private val st6 = QueryDef(
    "st6_stream_inbox_upsert",
    "inbox file stream: timestamped transcripts win across batches",
    (s, dir) => {
      // 2% slice: the gate pins SCHEDULE semantics (micro-batch
      // splits, reruns, U6 convergence), not throughput — at sf0.1 a
      // 10% slice meant 10k inbox files and ~600 full-table commits
      // (65 s of pure standup); 2% proves the identical contract.
      // The fixture collect is CAPPED BY CONSTRUCTION (doc_id bound →
      // ≤ 1000 files at any sf, the r12 verdict nit): at a 100×
      // fixture the bound binds instead of the driver's heap, and
      // the oracle carries the same predicate so membership stays
      // engine-pinned (an ordered limit would not be)
      val slice = Tables.documents(s, dir)
        .filter(col("doc_id") % 50 === 0 && col("doc_id") < 50000)
        .select(col("doc_id"), col("text")).collect()
      val root = graft.ops.Scratch.fastDir("graft-st6-")
      val inbox = s"$root/inbox"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      def writeFiles(phase: Int): Unit = slice.foreach { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        val timestamped = (id % 100 == 0) == (phase == 1)
        val body =
          if (timestamped) s"[0:0$phase] $text" else s"PLAIN V$phase $text"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$inbox/p${phase}_vid$id.txt"),
          s"ID: vid$id\n\n$body".getBytes("UTF-8"))
        ()
      }
      def runOnce(): Unit = {
        // checkpointed: run 2 reads only the phase-2 files (the
        // incremental-restart contract the operator now carries)
        val q = graft.streaming.Streams.inboxStream(s, inbox, store,
          "transcripts", checkpointDir = Some(s"$root/ck"),
          maxFilesPerTrigger = Some(64))
        try q.processAllAvailable() finally q.stop()
      }
      writeFiles(1); runOnce()
      writeFiles(2); runOnce()
      store.read(s, "transcripts").orderBy("video_id")
    },
    Some("""SELECT 'vid' || doc_id AS video_id,
              CASE WHEN doc_id % 100 = 0 THEN '[0:01] ' || text
                   ELSE '[0:02] ' || text END AS transcript
            FROM documents WHERE doc_id % 50 = 0 AND doc_id < 50000
            ORDER BY video_id"""))

  /** ST7: INCREMENTAL SCRAPE LOOP
    * ([[graft.streaming.Streams.incrementalScrape]] — the reference's
    * rate-limited refresh cron, main_scraper.py:342-377; the LAST
    * spec-only streaming loop) ORACLE-GATED. Two AvailableNow phases
    * over a growing work-item feed drive the whole chain — U7
    * freshness gate against the stored table, the fan-out fetch with
    * bounded retries, O(delta) bucketed commits for successes, LWW
    * dead-letter for terminal failures:
    *
    *  - phase 1 submits the %10=0 ids with a fetch that FAILS every
    *    %30=0 id (terminal after maxAttempts=2 → dead letter) and
    *    pays P1 payloads for the rest;
    *  - phase 2 submits new ids (%10=5), re-submits a FRESH subset
    *    (%20=0 — scraped 2 days ago, inside the 7-day window, so the
    *    freshness gate must DROP them before any fetch: their P1
    *    payloads survive verbatim) and re-submits every dead-lettered
    *    id (never scraped → due) with a now-healthy fetch → P2.
    *
    *  The oracle derives the fixed point per id class: which payload
    *  generation each id carries, which scrape timestamp, and the
    *  dead-letter ledger rows (error string, attempt count, failure
    *  time) — full-outer joined so the retried-after-failure ids pin
    *  BOTH their recovery row and their preserved failure row. */
  private val st7 = QueryDef(
    "st7_stream_scrape_loop",
    "incremental scrape: freshness-gated refetch, dead-letter recovery",
    (s, dir) => {
      import s.implicits._
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val root = graft.ops.Scratch.fastDir("graft-st7-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      val t1 = to_timestamp(lit("2024-06-01 00:00:00"))
      val t2 = to_timestamp(lit("2024-06-03 00:00:00"))
      def runOnce(fetch: String => String,
          now: org.apache.spark.sql.Column): Unit =
        graft.streaming.Streams.incrementalScrape(s, inDir, ck, store,
          "scraped", "scrape_dead", fetch, now, days = 7,
          ratePerSecPerPartition = 0, maxAttempts = 2, backoffMs = 0,
          sleeper = _ => ()).awaitTermination()
      ids.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("string").as("id"))
        .coalesce(1).write.parquet(inDir)
      runOnce(id => if (id.toLong % 30 == 0)
        throw new RuntimeException("boom") else s"P1:$id", t1)
      ids.filter(col("doc_id") % 10 === 5 || col("doc_id") % 20 === 0 ||
          col("doc_id") % 30 === 0)
        .select(col("doc_id").cast("string").as("id"))
        .coalesce(1).write.mode("append").parquet(inDir)
      runOnce(id => s"P2:$id", t2)
      store.read(s, "scraped")
        .select(col("id"), col("payload"),
          col("scraped_at").cast("long").as("scraped_at_s"))
        .join(store.read(s, "scrape_dead")
          .select(col("id"), col("error"),
            col("attempts").cast("long").as("attempts"),
            col("failed_at").cast("long").as("failed_at_s")),
          Seq("id"), "full_outer")
        .orderBy(col("id"))
    },
    Some("""WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id
                       FROM documents),
            ok AS (SELECT id,
                     CASE WHEN doc_id % 30 = 0 OR doc_id % 10 = 5
                          THEN 'P2:' || id ELSE 'P1:' || id END AS payload,
                     CASE WHEN doc_id % 30 = 0 OR doc_id % 10 = 5
                          THEN epoch('2024-06-03 00:00:00'::TIMESTAMP)
                          ELSE epoch('2024-06-01 00:00:00'::TIMESTAMP)
                     END::BIGINT AS scraped_at_s
                   FROM w WHERE doc_id % 10 = 0 OR doc_id % 10 = 5),
            dead AS (SELECT id, 'RuntimeException: boom' AS error,
                       2::BIGINT AS attempts,
                       epoch('2024-06-01 00:00:00'::TIMESTAMP)::BIGINT
                         AS failed_at_s
                     FROM w WHERE doc_id % 30 = 0)
            SELECT coalesce(ok.id, dead.id) AS id, payload, scraped_at_s,
                   error, attempts, failed_at_s
            FROM ok FULL OUTER JOIN dead ON ok.id = dead.id
            ORDER BY id"""))

  /** ST8: STREAMING LEXICAL-INDEX MAINTENANCE
    * ([[graft.streaming.Streams.lexicalIndexIngest]]) — ts25's
    * append discipline driven BY the ingest loop: two AvailableNow
    * phases over a growing doc feed (first batch builds the stored
    * BM25 index, the second folds in as an O(delta) append through
    * the checkpointed restart), then the probe answers from the
    * stored pair. The oracle is the from-scratch BM25 chain over the
    * FULL corpus — the loop's whole contract is that the grown index
    * is indistinguishable from a one-shot build, bit for bit, across
    * the stream schedule. */
  private val st8 = QueryDef(
    "st8_stream_lexical_index",
    "streaming BM25 index build+append across batches ≡ one-shot build",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st8-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      docs.filter(col("id") % 2 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.lexicalIndexIngest(s, inDir, ck, store)
        .awaitTermination()
      docs.filter(col("id") % 2 === 1).coalesce(1).write.mode("append")
        .parquet(inDir)
      graft.streaming.Streams.lexicalIndexIngest(s, inDir, ck, store)
        .awaitTermination()
      TextAnalysis.bm25TopKStored(s, store,
        query = Seq("batch", "row", "column"), k = 10)
        .orderBy("rank")
    },
    Some(s"""WITH ${bm25ChainSql(Seq("batch", "row", "column"))}
            SELECT rank, id, round(score, 6) AS score_r
            FROM bmranked WHERE rank <= 10 ORDER BY rank"""))

  /** A7 scale path: approx_count_distinct sketch. The sketch value
    * itself has no exact SQL oracle by design — but its ERROR BAND
    * does: the query emits the exact count plus a boolean asserting
    * the HLL estimate landed within 10% of it (default rsd 0.05, so
    * 10% is a >2-sigma margin — deterministic for a fixed input set),
    * and the oracle pins that boolean true. A sketch regression now
    * turns the gate row red instead of passing rows-only. */
  private val a7b = QueryDef(
    "a7b_approx_distinct_sketch",
    "HLL approx distinct cardinality (sketch scale path)",
    (s, dir) => Tables.lineitem(s, dir)
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("exact_parts"),
        (abs(col("approx_parts").cast("double") - col("exact_parts").cast("double")) /
          col("exact_parts").cast("double") <= 0.1).as("within_10pct")),
    Some("""SELECT count(DISTINCT l_partkey) AS exact_parts,
              true AS within_10pct
            FROM lineitem"""))

  /** SS2: LSH-bucketed ANN, multi-table OR-construction — 4 hash
    * tables × 6 sign-bit planes (64 buckets/table; table t owns
    * global planes t*6..t*6+5), per-bucket candidate cap 200, union
    * of per-table collisions, exact cosine, top-k.
    * Approximate-by-construction but fully DETERMINISTIC (the
    * hyperplanes derive from the portable hash), so the oracle
    * replicates the whole algorithm — including the cap rule (first
    * `cap` ids per bucket). Recall vs the exact baseline is asserted
    * separately in PipelineSpec. */
  private val ss2 = QueryDef(
    "ss2_lsh_ann_topk",
    "multi-table random-hyperplane LSH approximate top-k",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.lshTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, planes = 6, tables = 4, bucketCap = 200)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH bucketed AS (
              SELECT vec_id AS id, t,
                list_reduce(list_prepend(0::BIGINT,
                  list_transform(generate_series(0, 5), o ->
                    CASE WHEN
                      list_reduce(list_prepend(0.0::DOUBLE,
                        list_transform(generate_series(1, len(embedding)), i ->
                          embedding[i]::DOUBLE *
                          ((('0x' || substr(md5((t*6+o)::VARCHAR || ':' ||
                              (i-1)::VARCHAR), 1, 15))::BIGINT::DOUBLE
                            / 1.152921504606847e18) - 0.5))),
                        (x, y) -> x + y) > 0
                    THEN (1::BIGINT << o) ELSE 0::BIGINT END)),
                  (a, b) -> a + b) AS bucket
              FROM embeddings, generate_series(0, 3) AS gs(t)),
            capped AS (SELECT id, t, bucket,
                         row_number() OVER (PARTITION BY t, bucket
                                            ORDER BY id) AS rn
                       FROM bucketed),
            cand AS (SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
                     FROM bucketed q JOIN capped c
                       ON q.t = c.t AND q.bucket = c.bucket
                     WHERE q.id < 10 AND c.rn <= 200 AND q.id != c.id),
            scored AS (SELECT query_id, neighbor_id,
                         list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, len(eq.embedding)),
                           i -> eq.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)),
                           (x, y) -> x + y) /
                         sqrt(
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(eq.embedding)),
                             i -> eq.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE)),
                             (x, y) -> x + y) *
                           list_reduce(list_prepend(0.0, list_transform(
                             generate_series(1, len(ec.embedding)),
                             i -> ec.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)),
                             (x, y) -> x + y))
                         AS cos
                       FROM cand
                       JOIN embeddings eq ON eq.vec_id = cand.query_id
                       JOIN embeddings ec ON ec.vec_id = cand.neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, rank, neighbor_id
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** ts2's composite-score arithmetic as SQL, over names for
    * (n_tokens, stops, digits, n_chars) — textually identical to the
    * ts2 oracle's expression so every quality-ranked gate pins the
    * same double arithmetic, rounded at 10^-`nd`. */
  private def qualitySql(nTokens: String, stops: String, digits: String,
      nChars: String, nd: Int): String =
    s"""round(
         0.4::DOUBLE * least($nTokens::DOUBLE / 100.0::DOUBLE, 1.0::DOUBLE) +
         0.3::DOUBLE * least((CASE WHEN $nTokens = 0 THEN 0.0::DOUBLE
             ELSE $stops::DOUBLE / $nTokens::DOUBLE END) * 5.0::DOUBLE, 1.0::DOUBLE) +
         0.3::DOUBLE * (1.0::DOUBLE - least((CASE WHEN $nChars = 0 THEN 0.0::DOUBLE
             ELSE $digits::DOUBLE / $nChars::DOUBLE END) * 10.0::DOUBLE, 1.0::DOUBLE)),
         $nd)"""

  /** The (toks, ltoks → n_tokens, stops, digits, n_chars) feature CTE
    * body shared by the quality-ranked gates; `src(id, text)`-shaped
    * input with an extra pass-through column. */
  private def qualityFeatureSql(src: String, idName: String,
      extraCol: String): String =
    s"""qm AS (SELECT $idName, $extraCol, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
           FROM $src),
       qf AS (SELECT $idName, $extraCol,
             len(toks) AS n_tokens,
             len(list_filter(ltoks, x -> x IN ('the','a','of','to','and','in','is','that','it','for'))) AS stops,
             len(regexp_extract_all(text, '[0-9]')) AS digits,
             length(text) AS n_chars
           FROM qm)"""

  /** D11: quality-argmax survivor per duplicate cluster
    * ([[Dedup.keepBestPerCluster]]) — the curation-grade dedup apply:
    * transitive-closure clusters (d9's CC engine) with the ts2
    * composite quality score choosing the KEPT copy, instead of d8's
    * positional min-id rule (production pipelines keep the best
    * member of a boilerplate family, not the first-crawled one). The
    * rank key is the score pre-rounded at 1e-9 with min-id ties —
    * the ss1 rank-pin discipline, so a 1-ulp cross-engine wiggle
    * cannot flip a winner. Oracle: LSH-pair CTE → recursive
    * reachability → per-cluster quality argmax. */
  private val d11 = QueryDef(
    "d11_cluster_best_keep",
    "quality-argmax survivor per duplicate cluster",
    (s, dir) => {
      val corpus = dupCorpus(s, dir)
        .withColumn("q9", round(TextAnalysis.qualityScore(col("text")), 9))
      val pairs = Dedup.minhashLshPairs(corpus, "id", "text",
        shingleLen = 3, numHashes = NumHashes, bands = Bands,
        threshold = 0.6, bucketCap = CatalogCap)
      Dedup.keepBestPerCluster(corpus, "id", pairs, col("q9"))
        .select(col("cluster_id"), col("id").as("keep_id"),
          col("n_members"), round(col("q9"), 6).as("score_r"))
        .orderBy("cluster_id")
    },
    Some("WITH RECURSIVE " + dupCorpusSql + ",\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
        |clus AS (SELECT node AS id, min(reach) AS cluster_id FROM cc
        |         GROUP BY node),
        |withc AS (SELECT c.id, coalesce(cl.cluster_id, c.id) AS cluster_id,
        |            c.text
        |          FROM corpus c LEFT JOIN clus cl ON cl.id = c.id),
        |""".stripMargin +
      qualityFeatureSql("withc", "id", "cluster_id") + ",\n" +
      s"""sc AS (SELECT id, cluster_id,
         ${qualitySql("n_tokens", "stops", "digits", "n_chars", 9)} AS q9
           FROM qf),\n""" +
      """r AS (SELECT *,
        |        row_number() OVER (PARTITION BY cluster_id
        |                           ORDER BY q9 DESC, id) AS rn,
        |        count(*) OVER (PARTITION BY cluster_id) AS n_members
        |      FROM sc)
        |SELECT cluster_id, id AS keep_id, n_members,
        |       round(q9, 6) AS score_r
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin))

  /** SM6: temperature-sampled mixture weights
    * ([[Sampling.temperatureWeights]], tau = 2) — the multilingual
    * rebalancing rule (weight ∝ n^(1/tau), normalized). The
    * normalizing total is the ordered running-sum fold over strata
    * (the ss6 cross-row discipline) so both engines fold the same
    * doubles in the same order; the per-stratum root is pow(n, 0.5)
    * in both engines' SQL text. */
  private val sm6 = QueryDef(
    "sm6_temperature_weights",
    "per-language temperature sampling weights (tau=2, ordered fold)",
    (s, dir) => Sampling.temperatureWeights(
      Tables.documents(s, dir), "lang", tau = 2.0)
      .select(col("lang"), col("n_docs"),
        round(col("weight"), 9).as("w_r"))
      .orderBy("lang"),
    Some("""WITH g AS (SELECT lang, count(*) AS n_docs
                       FROM documents GROUP BY lang),
            r AS (SELECT lang, n_docs,
                    pow(n_docs::DOUBLE, 0.5) AS rootn,
                    sum(pow(n_docs::DOUBLE, 0.5))
                      OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS run
                  FROM g),
            t AS (SELECT *, max(run) OVER () AS tot FROM r)
            SELECT lang, n_docs, round(rootn / tot, 9) AS w_r
            FROM t ORDER BY lang"""))

  /** SM7: token-budgeted per-source cap ([[Sampling.tokenBudgetCap]])
    * — mixtures are specified in TOKENS, not rows, so each source
    * keeps its best documents (ts2 quality order, 1e-9 rank pin,
    * min-id ties) until 800 whitespace tokens are spent; the first
    * over-budget doc is kept (bounded overshoot, never undershoot).
    * Integer running sums — no cross-row float fold at all. */
  private val sm7 = QueryDef(
    "sm7_token_budget_cap",
    "token-budgeted per-source cap in quality order",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("q9", round(TextAnalysis.qualityScore(col("text")), 9))
        .withColumn("tok", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      Sampling.tokenBudgetCap(d, "source", col("tok"), budget = 800L,
        Seq(col("q9").desc, col("doc_id").asc))
        .select(col("source"), col("doc_id"), col("tok"), col("cum_tokens"))
        .orderBy("source", "doc_id")
    },
    Some("WITH docsrc AS (SELECT doc_id, source, text FROM documents),\n" +
      qualityFeatureSql("docsrc", "doc_id", "source") + ",\n" +
      s"""sc AS (SELECT doc_id, source, n_tokens::BIGINT AS tok,
         ${qualitySql("n_tokens", "stops", "digits", "n_chars", 9)} AS q9
           FROM qf),\n""" +
      """r AS (SELECT *,
        |        sum(tok) OVER (PARTITION BY source
        |                       ORDER BY q9 DESC, doc_id
        |                       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |      FROM sc)
        |SELECT source, doc_id, tok, cum_tokens FROM r
        |WHERE cum_tokens - tok < 800 ORDER BY source, doc_id""".stripMargin))

  /** TP3: temperature-balanced mixture MATERIALIZED
    * ([[Sampling.temperatureMix]]) — sm6's weights composed into
    * per-stratum keep rates in BASIS POINTS (sm9's 10000-bucket
    * resolution; integer percent dropped sub-0.5%-share strata
    * entirely) and applied as the per-row hash draw: the "rebalance
    * the corpus toward τ-tempered language shares" job. The oracle
    * replicates the whole derivation chain (ordered-fold weights →
    * bps → md5 bucket predicate), so the gate checks the
    * COMPOSITION, not just the pieces. Full membership compared. */
  private val tp3 = QueryDef(
    "tp3_temperature_mix",
    "temperature-rebalanced corpus draw (tau=2, full membership)",
    (s, dir) => Sampling.temperatureMix(Tables.documents(s, dir),
      "lang", "doc_id", tau = 2.0, targetRows = 250L)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id"),
    Some("""WITH g AS (SELECT lang, count(*) AS n_docs
                       FROM documents GROUP BY lang),
            r AS (SELECT lang, n_docs,
                    pow(n_docs::DOUBLE, 0.5) AS rootn,
                    sum(pow(n_docs::DOUBLE, 0.5))
                      OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS run
                  FROM g),
            t AS (SELECT *, max(run) OVER () AS tot FROM r),
            p AS (SELECT lang,
                    least(10000, round(round(rootn / tot, 9) * 2500000.0
                                     / n_docs::DOUBLE)::BIGINT) AS bps
                  FROM t)
            SELECT d.lang, d.doc_id
            FROM documents d JOIN p ON p.lang = d.lang
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
                    % 10000 < p.bps
            ORDER BY d.lang, d.doc_id"""))

  /** SM8: deterministic global k-sample ([[Sampling.hashTopKSample]])
    * — the k smallest portable hashes of the key ("pull 100
    * reproducible docs for QA") with NO global sort: the plan is
    * TakeOrderedAndProject (per-partition heaps, driver merge; spec
    * asserts no Exchange). The `draw` column is the re-derivable
    * membership evidence, hash-compared here. */
  private val sm8 = QueryDef(
    "sm8_hash_topk_sample",
    "deterministic 100-doc global sample, no global sort",
    (s, dir) => Sampling.hashTopKSample(
      Tables.documents(s, dir), "doc_id", k = 100)
      .select(col("doc_id"), col("draw"))
      .orderBy("draw", "doc_id"),
    Some("""SELECT doc_id,
              ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS draw
            FROM documents ORDER BY draw, doc_id LIMIT 100"""))

  /** TS9: token-length histogram ([[TextAnalysis.lengthHistogram]])
    * — the corpus-QA length distribution, 16-token bins with an
    * open-ended top bin. Integer-only (bin, lo_tokens, n_docs,
    * cum_docs); the cumulative sum folds over ≤ numBins rows. */
  private val ts9 = QueryDef(
    "ts9_length_histogram",
    "token-length histogram with cumulative counts",
    (s, dir) => TextAnalysis.lengthHistogram(
      Tables.documents(s, dir), "text", binWidth = 16, numBins = 8)
      .orderBy("bin"),
    Some("""WITH t AS (SELECT least(
                floor(len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
                      / 16)::BIGINT, 7) AS bin
              FROM documents),
            g AS (SELECT bin, count(*) AS n_docs FROM t GROUP BY bin)
            SELECT bin, bin * 16 AS lo_tokens, n_docs,
              sum(n_docs) OVER (ORDER BY bin
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_docs
            FROM g ORDER BY bin"""))

  /** SS9: STORED-index IVF probe ([[SimilaritySearch.ivfIndexFrames]]
    * + [[SimilaritySearch.probeStoredIvf]]) — the production
    * vector-search shape: the corpus is assigned to cells ONCE (the
    * index artifacts live in the table store; the spec proves the
    * parquet round-trip and the probe ≡ in-memory ivfTopK identity),
    * then each query batch assigns only itself and joins the stored
    * member list. The oracle replicates the same algorithm with the
    * batch at ids 100–109 — a different batch than ss3's, proving
    * the index serves ARBITRARY later batches, not the one it was
    * built with. */
  private val ss9 = QueryDef(
    "ss9_stored_ivf_probe",
    "query batch probes a prebuilt IVF index (build-once, probe-many)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val (cb, members) = SimilaritySearch.ivfIndexFrames(e, "id",
        "embedding", numCentroids = 32, cellCap = 1000)
      val q = e.filter(col("id") >= 100 && col("id") < 110)
      SimilaritySearch.probeStoredIvf(q, e, "id", "embedding", cb,
        members, k = 5, probes = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH anchors AS (SELECT vec_id AS cid, embedding AS avec
                              FROM embeddings ORDER BY vec_id LIMIT 32),
             aff AS (SELECT e.vec_id AS id, a.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ${cosSql("e.embedding", "a.avec")}
                           DESC, a.cid) AS rn
                     FROM embeddings e, anchors a),
             cassign AS (SELECT id AS neighbor_id, cid FROM aff
                         WHERE rn <= 1),
             qassign AS (SELECT id AS query_id, cid FROM aff
                         WHERE id >= 100 AND id < 110 AND rn <= 8),
             capped AS (SELECT neighbor_id, cid,
                          row_number() OVER (PARTITION BY cid
                            ORDER BY neighbor_id) AS crn
                        FROM cassign),
             cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                      FROM qassign q JOIN capped c ON q.cid = c.cid
                      WHERE c.crn <= 1000
                        AND q.query_id != c.neighbor_id),
             scored AS (SELECT query_id, neighbor_id,
                          ${cosSql("eq.embedding", "ec.embedding")} AS cos
                        FROM cand
                        JOIN embeddings eq ON eq.vec_id = cand.query_id
                        JOIN embeddings ec ON ec.vec_id = cand.neighbor_id),
             ranked AS (SELECT *, row_number() OVER (
                          PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rank
                        FROM scored)
             SELECT query_id, rank, neighbor_id
             FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** TS10: Gopher-style repetition/length filter
    * ([[TextAnalysis.gopherFilter]]) — the pre-dedup quality gate.
    * All four rules bind on this fixture (thresholds chosen against
    * the measured stat distribution: dup-token median 0.54, bigram
    * p90 0.069, token p10 21/p90 88). Integer cross-product
    * comparisons — no float boundary exists anywhere in the gate. */
  private val ts10 = QueryDef(
    "ts10_gopher_filter",
    "repetition/length quality filter (integer threshold algebra)",
    (s, dir) => TextAnalysis.gopherFilter(Tables.documents(s, dir),
      "text", maxDupTokenPct = 60, maxTopBigramPct = 5,
      minTokens = 25, maxTokens = 100)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some(s"""WITH ${gopherChainSql("", "documents", "doc_id", Seq("lang"))},
            ${gopherKeepSql("", "doc_id", 25, 100, 60, 5)}
            SELECT doc_id, lang FROM keep ORDER BY doc_id"""))

  /** SM9: importance-weighted keep ([[Sampling.weightedKeep]]) —
    * each doc survives with probability equal to its ts2 quality
    * score (1e-9-rounded): the soft quality filter. Full membership
    * compared; the oracle replicates hash bucket and weight. */
  private val sm9 = QueryDef(
    "sm9_weighted_keep",
    "per-doc quality-probability keep (full membership)",
    (s, dir) => Sampling.weightedKeep(Tables.documents(s, dir),
      "doc_id", round(TextAnalysis.qualityScore(col("text")), 9))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some("WITH docsrc AS (SELECT doc_id, lang AS grp, text FROM documents),\n" +
      qualityFeatureSql("docsrc", "doc_id", "grp") + ",\n" +
      s"""sc AS (SELECT doc_id, grp,
         ${qualitySql("n_tokens", "stops", "digits", "n_chars", 9)} AS q9
           FROM qf)\n""" +
      """SELECT doc_id, grp AS lang FROM sc
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |        % 10000 < round(q9 * 10000.0)::BIGINT
        |ORDER BY doc_id""".stripMargin))

  /** SM10: TRAINING-SHARD manifest ([[Sampling.shardAssign]] /
    * [[Sampling.shardManifest]]) — the export-side last mile: shard
    * = portable-hash(salt + key) mod nShards, within-shard order =
    * (hash, key) ascending, manifest = per-shard row count, token
    * mass, and the first/last keys in that order. What the gate pins
    * is the full layout determinism: membership (n_docs), content
    * accounting (n_tokens, the ts2 empty-text rule), and the order's
    * endpoints (a membership OR order drift must move one of them).
    * The oracle recomputes the hash, the mod, both window endpoints,
    * and the token sums. */
  private val sm10 = QueryDef(
    "sm10_shard_manifest",
    "deterministic training-shard layout: counts, token mass, order endpoints",
    (s, dir) => Sampling.shardManifest(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", nShards = 16, salt = "sm10:")
      .orderBy("shard"),
    Some("""WITH asg AS (SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END AS ntok,
              ('0x' || substr(md5('sm10:' || doc_id::VARCHAR), 1, 15))
                ::BIGINT AS h
            FROM documents),
          w AS (SELECT doc_id, ntok, h % 16 AS shard,
                  row_number() OVER (PARTITION BY h % 16
                    ORDER BY h, doc_id) AS rn,
                  count(*) OVER (PARTITION BY h % 16) AS cnt
                FROM asg)
          SELECT shard, count(*)::BIGINT AS n_docs,
            sum(ntok)::BIGINT AS n_tokens,
            min(CASE WHEN rn = 1 THEN doc_id END) AS first_key,
            min(CASE WHEN rn = cnt THEN doc_id END) AS last_key
          FROM w GROUP BY shard ORDER BY shard"""))

  /** SM11: SHARD EXPORT + READ-BACK VERIFICATION
    * ([[Sampling.exportShards]] / [[Sampling.verifyShards]]) — the
    * missing half of sm10's export contract: the shards are WRITTEN
    * (partitioned files + a manifest recomputed from the written
    * bytes, now carrying an order-sensitive bit_xor content hash),
    * then a loader re-reads the files, recomputes every manifest
    * column, and compares — `verified` must come back true per shard.
    * The oracle recomputes the whole certificate from the source
    * table: layout (sm10's hash/mod/window chain), token mass, order
    * endpoints, and the content hash (bit_xor of the portable hash of
    * "pos:key:text" — XOR is partitioning-independent, the embedded
    * position makes it order-sensitive). Tamper detection (dropped
    * row, swapped positions, missing shard) is spec-pinned
    * (SamplingSpec). */
  private val sm11 = QueryDef(
    "sm11_shard_verify",
    "export shards + manifest, read back, recompute and verify",
    (s, dir) => {
      val root = graft.ops.Scratch.tempDir("graft-sm11-")
      Sampling.exportShards(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", nShards = 16, salt = "sm11:",
        s"$root/export")
      Sampling.verifyShards(s, s"$root/export", "doc_id", "text")
        .orderBy("shard")
    },
    Some("""WITH asg AS (SELECT doc_id, text,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END AS ntok,
              ('0x' || substr(md5('sm11:' || doc_id::VARCHAR), 1, 15))
                ::BIGINT AS h
            FROM documents),
          w AS (SELECT doc_id, text, ntok, h % 16 AS shard,
                  row_number() OVER (PARTITION BY h % 16
                    ORDER BY h, doc_id) AS rn,
                  count(*) OVER (PARTITION BY h % 16) AS cnt
                FROM asg)
          SELECT shard, count(*)::BIGINT AS n_docs,
            sum(ntok)::BIGINT AS n_tokens,
            min(CASE WHEN rn = 1 THEN doc_id END) AS first_key,
            min(CASE WHEN rn = cnt THEN doc_id END) AS last_key,
            bit_xor(('0x' || substr(md5(
              (rn - 1)::VARCHAR || ':' || doc_id::VARCHAR || ':' ||
                coalesce(text, '')), 1, 15))::BIGINT) AS content_hash,
            TRUE AS verified
          FROM w GROUP BY shard ORDER BY shard"""))

  /** TP4: curation pipeline v2 — this round's operators composed
    * end-to-end the way a corpus build actually runs them:
    * Gopher repetition/length filter (ts10) → QUALITY-ARGMAX
    * cluster dedup (d11: LSH pairs → CC → keep best) → token-budget
    * cap per language in quality order (sm7). Each stage consumes
    * the previous stage's survivors; the oracle replicates all
    * three stages plus the shared quality/tokenization arithmetic
    * in one SQL chain — the composition is what's verified, not
    * the pieces. */
  private val tp4 = QueryDef(
    "tp4_curation_v2",
    "gopher filter -> cluster-best dedup -> token budget (composed)",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"), col("lang"))
      val pert = base.filter(col("id") % 4 === 0)
        .select((col("id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"),
          col("lang"))
      val corpus = base.unionByName(pert)
      val filtered = TextAnalysis.gopherFilter(corpus, "text",
        maxDupTokenPct = 75, maxTopBigramPct = 10,
        minTokens = 10, maxTokens = 120)
      val scored = filtered.withColumn("q9",
        round(TextAnalysis.qualityScore(col("text")), 9))
      val pairs = Dedup.minhashLshPairs(scored, "id", "text",
        shingleLen = 3, numHashes = NumHashes, bands = Bands,
        threshold = 0.6, bucketCap = CatalogCap)
      val kept = Dedup.keepBestPerCluster(scored, "id", pairs, col("q9"))
        .withColumn("tok", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      Sampling.tokenBudgetCap(kept, "lang", col("tok"), budget = 1500L,
        Seq(col("q9").desc, col("id").asc))
        .select(col("lang"), col("id"), col("tok"), col("cum_tokens"))
        .orderBy("lang", "id")
    },
    Some("WITH RECURSIVE corpus AS (\n" +
      """  SELECT doc_id AS id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS id,
        |         regexp_replace(text, '^\S+\s+', '') AS text, lang
        |  FROM documents WHERE doc_id % 4 = 0),
        |""".stripMargin +
      gopherChainSql("g", "corpus", "id", Seq("lang", "text")) + ",\n" +
      gopherKeepSql("g", "id", 10, 120, 75, 10) + ",\n" +
      "fcorpus AS (SELECT id, lang, text FROM gkeep),\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM fcorpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
        |clus AS (SELECT node AS id, min(reach) AS cluster_id FROM cc
        |         GROUP BY node),
        |withc AS (SELECT f.id, coalesce(cl.cluster_id, f.id) AS cluster_id,
        |            f.lang, f.text
        |          FROM fcorpus f LEFT JOIN clus cl ON cl.id = f.id),
        |""".stripMargin +
      qualityFeatureSql("withc", "id", "cluster_id, lang") + ",\n" +
      s"""sc AS (SELECT id, cluster_id, lang, n_tokens::BIGINT AS tok,
         ${qualitySql("n_tokens", "stops", "digits", "n_chars", 9)} AS q9
           FROM qf),\n""" +
      """r AS (SELECT *,
        |        row_number() OVER (PARTITION BY cluster_id
        |                           ORDER BY q9 DESC, id) AS rn
        |      FROM sc),
        |kept AS (SELECT id, lang, q9, tok FROM r WHERE rn = 1),
        |rr AS (SELECT *,
        |         sum(tok) OVER (PARTITION BY lang
        |                        ORDER BY q9 DESC, id
        |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |       FROM kept)
        |SELECT lang, id, tok, cum_tokens FROM rr
        |WHERE cum_tokens - tok < 1500 ORDER BY lang, id""".stripMargin))

  /** TP6: curation v3 — tp4's composition in PRODUCTION shape (the
    * round-5 verdict's top item): the d2 pair mine + d9 cluster
    * fixpoint run ONCE and COMMIT through the versioned
    * [[graft.ops.ParquetTableStore]]; the consuming pipeline
    * (gopher filter → cluster-best keep → token budget →
    * leakage-safe split) attaches the committed label map by plain
    * joins — ZERO mine subtrees in the consuming plan
    * (StoredArtifactSpec asserts no band_hash machinery below the
    * final frame), the d10/ss9 build-once discipline applied to the
    * composed pipelines. Both consumers (keep-best AND split) read
    * the same stored artifact, which is why the mine amortizes. The
    * oracle replicates the full derivation — the committed artifacts
    * EQUAL the mine they persist, so correctness covers the store
    * round-trip too. tp4 stays the self-contained twin. */
  private val tp6 = QueryDef(
    "tp6_curation_v3",
    "stored-artifact curation: mine+cluster once, consume from the store",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"), col("lang"))
      val pert = base.filter(col("id") % 4 === 0)
        .select((col("id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"),
          col("lang"))
      val corpus = base.unionByName(pert)
      val filtered = TextAnalysis.gopherFilter(corpus, "text",
        maxDupTokenPct = 75, maxTopBigramPct = 10,
        minTokens = 10, maxTokens = 120)
      val scored = filtered.withColumn("q9",
        round(TextAnalysis.qualityScore(col("text")), 9))
      val store = new graft.ops.ParquetTableStore(
        graft.ops.Scratch.tempDir("graft-tp6-"))
      val (storedPairs, _) = store.commit(s, "dup_pairs",
        Dedup.minhashLshPairs(scored, "id", "text",
          shingleLen = 3, numHashes = NumHashes, bands = Bands,
          threshold = 0.6, bucketCap = CatalogCap)
          .select("id_a", "id_b"))
      val (storedClusters, _) = store.commit(s, "dup_clusters",
        ConnectedComponents.duplicateClusters(storedPairs))
      val kept = Dedup.keepBestWithClusters(scored, "id", storedClusters,
        col("q9"))
        .withColumn("tok", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      val budgeted = Sampling.tokenBudgetCap(kept, "lang", col("tok"),
        budget = 1500L, Seq(col("q9").desc, col("id").asc))
      Sampling.leakageSafeSplitWithClusters(budgeted, "id",
        storedClusters, 70)
        .select(col("lang"), col("id"), col("tok"), col("cum_tokens"),
          col("split"))
        .orderBy("lang", "id")
    },
    Some("WITH RECURSIVE corpus AS (\n" +
      """  SELECT doc_id AS id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS id,
        |         regexp_replace(text, '^\S+\s+', '') AS text, lang
        |  FROM documents WHERE doc_id % 4 = 0),
        |""".stripMargin +
      gopherChainSql("g", "corpus", "id", Seq("lang", "text")) + ",\n" +
      gopherKeepSql("g", "id", 10, 120, 75, 10) + ",\n" +
      "fcorpus AS (SELECT id, lang, text FROM gkeep),\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM fcorpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
        |clus AS (SELECT node AS id, min(reach) AS cluster_id FROM cc
        |         GROUP BY node),
        |withc AS (SELECT f.id, coalesce(cl.cluster_id, f.id) AS cluster_id,
        |            f.lang, f.text
        |          FROM fcorpus f LEFT JOIN clus cl ON cl.id = f.id),
        |""".stripMargin +
      qualityFeatureSql("withc", "id", "cluster_id, lang") + ",\n" +
      s"""sc AS (SELECT id, cluster_id, lang, n_tokens::BIGINT AS tok,
         ${qualitySql("n_tokens", "stops", "digits", "n_chars", 9)} AS q9
           FROM qf),\n""" +
      """r AS (SELECT *,
        |        row_number() OVER (PARTITION BY cluster_id
        |                           ORDER BY q9 DESC, id) AS rn
        |      FROM sc),
        |kept AS (SELECT id, cluster_id, lang, q9, tok FROM r WHERE rn = 1),
        |rr AS (SELECT *,
        |         sum(tok) OVER (PARTITION BY lang
        |                        ORDER BY q9 DESC, id
        |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |       FROM kept)
        |SELECT lang, id, tok, cum_tokens,
        |       CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR),
        |                                 1, 15))::BIGINT % 100 < 70
        |            THEN 'train' ELSE 'test' END AS split
        |FROM rr WHERE cum_tokens - tok < 1500
        |ORDER BY lang, id""".stripMargin))

  /** TS11: the corpus QA REPORT — language distribution, token-length
    * histogram, and quality-score deciles in ONE long-format
    * integer-only frame (section, key, n_docs): the report card a
    * curation team reads before touching thresholds. Three
    * map-side-combinable aggregations over one table, unioned. */
  private val ts11 = QueryDef(
    "ts11_corpus_report",
    "corpus QA report: lang / length / quality distributions",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val lang = d.groupBy(col("lang").as("key"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("section", lit("lang"))
      val bins = TextAnalysis.lengthHistogram(d, "text", 16, 8)
        .select(col("bin").cast("string").as("key"), col("n_docs"))
        .withColumn("section", lit("len_bin"))
      val dec = d
        .select(floor(least(
          round(TextAnalysis.qualityScore(col("text")), 9) * 10.0,
          lit(9.0))).cast("long").as("d10"))
        .groupBy(col("d10").cast("string").as("key"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("section", lit("quality_decile"))
      lang.unionByName(bins).unionByName(dec)
        .select(col("section"), col("key"), col("n_docs"))
        .orderBy("section", "key")
    },
    Some("WITH docsrc AS (SELECT doc_id, lang, text FROM documents),\n" +
      qualityFeatureSql("docsrc", "doc_id", "lang") + ",\n" +
      s"""sc AS (SELECT doc_id,
         ${qualitySql("n_tokens", "stops", "digits", "n_chars", 9)} AS q9,
           n_tokens
           FROM qf)\n""" +
      """SELECT * FROM (
        |  SELECT 'lang' AS section, lang AS key, count(*) AS n_docs
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'len_bin', least(floor(n_tokens::DOUBLE / 16)::BIGINT,
        |                          7)::VARCHAR, count(*)
        |  FROM sc GROUP BY 2
        |  UNION ALL
        |  SELECT 'quality_decile',
        |         floor(least(q9 * 10.0, 9.0))::BIGINT::VARCHAR, count(*)
        |  FROM sc GROUP BY 2)
        |ORDER BY section, key""".stripMargin))

  /** TS12: perplexity-proxy scoring ([[TextAnalysis.bigramLmScore]])
    * — the CCNet-style corpus-self-trained bigram LM, add-one
    * smoothed, scoring every document by mean token log-probability.
    * The oracle replicates the whole model: the same bigram/unigram
    * count tables, the same vocabulary size, the same
    * ln((c2+1)/(c1+V)) smoothing, and — the part that makes a float
    * gate pinnable — the same POSITION-ORDERED left fold of the
    * per-bigram log-probs, so both engines add the same doubles in
    * the same order before the 6-dp round. ln() itself may differ by
    * an ulp between libms, but a 1-ulp input wiggle moves the
    * rounded mean by ~n·ulp ≪ 0.5e-6. */
  /** The ts12 model as a reusable WITH-chain ending in
    * lmsc(doc_id, n_bigrams, lm_score) — tp5 builds its quantile
    * cuts on top of the same CTEs. */
  private val bigramLmCtes: String =
    """WITH t AS (SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents),
            tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
            x AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
                  FROM (SELECT doc_id, toks,
                          unnest(range(1, len(toks))) AS i FROM tt)),
            c2 AS (SELECT w1, w2, count(*) AS c2 FROM x GROUP BY w1, w2),
            c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
            v AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(toks) AS w FROM tt)),
            lp AS (SELECT x.doc_id, x.pos,
                     ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)::DOUBLE) AS lp
                   FROM x
                   JOIN c2 ON x.w1 = c2.w1 AND x.w2 = c2.w2
                   JOIN c1 ON x.w1 = c1.w1
                   CROSS JOIN v),
            agg AS (SELECT doc_id, count(*) AS n_bigrams,
                      list(lp ORDER BY pos) AS arr
                    FROM lp GROUP BY doc_id),
            lmsc AS (SELECT doc_id, n_bigrams,
              round(list_reduce(list_prepend(0.0::DOUBLE, arr),
                      (a, b) -> a + b) / n_bigrams, 6) AS lm_score
              FROM agg)"""

  private val ts12 = QueryDef(
    "ts12_bigram_lm_score",
    "corpus-trained bigram LM mean log-prob per document",
    (s, dir) => TextAnalysis.bigramLmScore(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"))
      .orderBy("doc_id"),
    Some(bigramLmCtes +
      "\nSELECT doc_id, n_bigrams, lm_score FROM lmsc ORDER BY doc_id"))

  /** TS24: CROSS-CORPUS LM FILTER
    * ([[TextAnalysis.bigramLmScoreCross]]) — the actual CCNet shape
    * ts12 cannot express: the bigram model trains on the TRUSTED
    * slice (lang='en' documents) and scores EVERY document. The
    * oracle mirrors the structural difference exactly: LEFT joins +
    * coalesce for the unseen mass (absent bigram → add-one floor
    * ln(1/(c1+V)); unseen left word → global floor ln(1/V)), V = the
    * REFERENCE vocabulary. Non-English docs land near the floor —
    * the reference-LM filter signal — and their scores are pinned
    * just as exactly as the head's. */
  private val ts24 = QueryDef(
    "ts24_cross_lm_filter",
    "bigram LM trained on the en slice scoring every document",
    (s, dir) => TextAnalysis.bigramLmScoreCross(
        Tables.documents(s, dir).filter(col("lang") === "en"), "text",
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"))
      .orderBy("doc_id"),
    Some("""WITH rt AS (SELECT
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents WHERE lang = 'en'),
            rtt AS (SELECT toks FROM rt WHERE len(toks) >= 2),
            rx AS (SELECT toks[i] AS w1, toks[i+1] AS w2
                   FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                         FROM rtt)),
            c2 AS (SELECT w1, w2, count(*) AS c2 FROM rx GROUP BY w1, w2),
            c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
            v AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(toks) AS w FROM rtt)),
            t AS (SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents),
            tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
            x AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
                  FROM (SELECT doc_id, toks,
                          unnest(range(1, len(toks))) AS i FROM tt)),
            lp AS (SELECT x.doc_id, x.pos,
                     ln((coalesce(c2.c2, 0) + 1)::DOUBLE /
                        (coalesce(c1.c1, 0) + v.v)::DOUBLE) AS lp
                   FROM x
                   LEFT JOIN c2 ON x.w1 = c2.w1 AND x.w2 = c2.w2
                   LEFT JOIN c1 ON x.w1 = c1.w1
                   CROSS JOIN v),
            agg AS (SELECT doc_id, count(*) AS n_bigrams,
                      list(lp ORDER BY pos) AS arr
                    FROM lp GROUP BY doc_id),
            lmsc AS (SELECT doc_id, n_bigrams,
              round(list_reduce(list_prepend(0.0::DOUBLE, arr),
                      (a, b) -> a + b) / n_bigrams, 6) AS lm_score
              FROM agg)
            SELECT doc_id, n_bigrams, lm_score FROM lmsc
            ORDER BY doc_id"""))

  /** TP5: CCNet perplexity bucketing
    * ([[TextAnalysis.perplexityBuckets]]) — the ts12 signal put to
    * its standard use: head/middle/tail labels from exact corpus
    * percentile cuts (p30/p70) over the 6-dp-rounded scores. The
    * oracle rebuilds the same LM chain, takes `quantile_cont` cuts
    * (the a8-pinned interpolation twin of Spark's `percentile`),
    * and labels with the same `>=` CASE — full membership compared.
    * Scores are 6-dp-spaced while interpolated cuts land strictly
    * inside an order-stat gap, so no boundary can straddle an
    * engine ulp. */
  private val tp5 = QueryDef(
    "tp5_perplexity_buckets",
    "head/middle/tail perplexity buckets from corpus quantile cuts",
    (s, dir) => TextAnalysis.perplexityBuckets(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("lm_score"), col("bucket"))
      .orderBy("doc_id"),
    Some(bigramLmCtes + """,
            cuts AS (SELECT quantile_cont(lm_score, 0.3) AS c_lo,
                            quantile_cont(lm_score, 0.7) AS c_hi
                     FROM lmsc)
            SELECT doc_id, lm_score,
              CASE WHEN lm_score >= c_hi THEN 'head'
                   WHEN lm_score >= c_lo THEN 'middle'
                   ELSE 'tail' END AS bucket
            FROM lmsc, cuts ORDER BY doc_id"""))

  /** The ts13 oracle, generated per iteration count: base = word
    * frequencies + char symbolization; each iteration = pair count →
    * argmax (cnt DESC, lhs, rhs) → merge application via the
    * RUN-PARITY formulation (within each maximal run of consecutive
    * matching positions, the 1st, 3rd, … merge — provably identical
    * to the engine's greedy left-to-right fold, spec-pinned in
    * BpeSpec). */
  private val bpeBaseSql: String =
    """WITH w0 AS (SELECT word, count(*)::BIGINT AS freq FROM (
            SELECT unnest(CASE WHEN length(trim(lower(text))) = 0
                          THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                          END) AS word
            FROM documents) GROUP BY word),
          s0 AS MATERIALIZED (SELECT word, freq,
            list_transform(generate_series(1, length(word)),
              i -> word[i:i]) AS syms FROM w0)"""

  /** Adjacent-pair counts CTE `p` over vocab stage `src` (the engine's
    * pinned overlap-counting zip, freq-weighted). */
  private def bpePairsSql(p: String, src: String): String =
    s""",
            $p AS MATERIALIZED (SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
                sum(freq)::BIGINT AS cnt
              FROM $src, unnest(generate_series(1, len(syms) - 1)) AS u(i)
              WHERE len(syms) >= 2 GROUP BY 1, 2)"""

  /** One merge application (the RUN-PARITY formulation — provably
    * identical to the engine's greedy left-to-right fold, BpeSpec):
    * stage `src` + 1-row merge CTE `b` → stage `out`, intermediate
    * CTEs suffixed `suf`. An EMPTY `b` applies as the identity (the
    * scalar subqueries go NULL, no position matches). */
  private def bpeApplySql(suf: String, src: String, b: String,
      out: String): String =
    s""",
            m$suf AS (SELECT word, freq, syms, i, syms[i] AS sym,
                CASE WHEN i < len(syms)
                      AND syms[i] = (SELECT lhs FROM $b)
                      AND syms[i + 1] = (SELECT rhs FROM $b)
                     THEN 1 ELSE 0 END AS mt
              FROM $src, unnest(generate_series(1, len(syms))) AS u(i)),
            g$suf AS (SELECT *, CASE WHEN mt = 1 THEN i - row_number()
                OVER (PARTITION BY word, mt ORDER BY i) END AS isl
              FROM m$suf),
            h$suf AS (SELECT *, CASE WHEN mt = 1 AND row_number()
                OVER (PARTITION BY word, isl ORDER BY i) % 2 = 1
                THEN 1 ELSE 0 END AS mg FROM g$suf),
            $out AS MATERIALIZED (SELECT word, freq,
                list(CASE WHEN mg = 1
                     THEN (SELECT lhs FROM $b) || (SELECT rhs FROM $b)
                     ELSE sym END ORDER BY i) AS syms
              FROM (SELECT *, lag(mg, 1, 0)
                      OVER (PARTITION BY word ORDER BY i) AS pmg FROM h$suf)
              WHERE pmg = 0
              GROUP BY word, freq)"""

  private def bpeOracleSql(iters: Int): String = {
    val its = (1 to iters).map { k =>
      bpePairsSql(s"p$k", s"s${k - 1}") +
        s""",
            b$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k
                    ORDER BY cnt DESC, lhs, rhs LIMIT 1)""" +
        bpeApplySql(s"$k", s"s${k - 1}", s"b$k", s"s$k")
    }.mkString
    val sel = (1 to iters).map(k =>
      s"SELECT $k AS iter, lhs, rhs, cnt AS pair_freq FROM b$k")
      .mkString("\nUNION ALL ")
    bpeBaseSql + its + "\n" + sel + "\nORDER BY iter"
  }

  /** The ts13b oracle: `rounds` rounds, each counting pairs ONCE over
    * the round's entry stage, then greedily selecting up to
    * `batchSize` merges in (cnt DESC, lhs, rhs) order whose symbols
    * are pairwise disjoint (b_j = first pair sharing no symbol with
    * b_1..b_{j-1} — exactly the engine's single ordered scan, since
    * a row it skipped for slot j stays excluded for every later
    * slot), applying them sequentially via the run-parity machinery.
    * Empty selections (pairs exhausted / all conflicting) apply as
    * identities and emit no row — matching the engine's
    * accept-fewer behavior. */
  private def bpeBatchedOracleSql(rounds: Int, batchSize: Int): String = {
    val its = (1 to rounds).map { k =>
      val src0 = if (k == 1) "s0" else s"s${k - 1}_$batchSize"
      val sels = (1 to batchSize).map { j =>
        val prior = (1 until j).map(i => s"b${k}_$i")
        val disjoint =
          if (prior.isEmpty) ""
          else {
            val symSet = prior.map(b =>
              s"SELECT lhs FROM $b UNION SELECT rhs FROM $b")
              .mkString(" UNION ")
            s"""
                    WHERE lhs NOT IN ($symSet)
                      AND rhs NOT IN ($symSet)"""
          }
        s""",
            b${k}_$j AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k$disjoint
                    ORDER BY cnt DESC, lhs, rhs LIMIT 1)""" +
          bpeApplySql(s"${k}_$j",
            if (j == 1) src0 else s"s${k}_${j - 1}",
            s"b${k}_$j", s"s${k}_$j")
      }.mkString
      bpePairsSql(s"p$k", src0) + sels
    }.mkString
    val sel = (for { k <- 1 to rounds; j <- 1 to batchSize } yield
      s"SELECT $k AS iter, $j AS rank, lhs, rhs, cnt AS pair_freq" +
        s" FROM b${k}_$j")
      .mkString("\nUNION ALL ")
    bpeBaseSql + its + "\n" + sel + "\nORDER BY iter, rank"
  }

  /** The ts13 CTE chain with a custom final select over s`iters`
    * (the trained vocabulary) — ts14 joins the corpus back against
    * it. */
  private def bpeVocabSql(iters: Int, finalSelect: String): String = {
    val full = bpeOracleSql(iters)
    full.substring(0, full.lastIndexOf("\nSELECT 1 AS iter")) +
      "\n" + finalSelect
  }

  /** TS14: the trained tokenizer APPLIED ([[graft.ops.Bpe.tokenize]])
    * — per-document BPE token counts. The corpus-scale step is one
    * (word)-keyed join of exploded document words against the
    * trained vocabulary's symbol counts; the rollup is combinable.
    * Integer-only output. */
  private val ts14 = QueryDef(
    "ts14_bpe_tokenize",
    "per-doc BPE token counts from the trained vocabulary",
    (s, dir) => graft.ops.Bpe.tokenize(
      Tables.documents(s, dir), "doc_id", "text", numMerges = 6)
      .select(col("id").as("doc_id"), col("n_words"), col("n_bpe_tokens"))
      .orderBy("doc_id"),
    Some(bpeVocabSql(6,
      """, dw AS (SELECT doc_id,
             unnest(CASE WHEN length(trim(lower(text))) = 0
                    THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                    END) AS word
           FROM documents)
         SELECT d.doc_id, count(*)::BIGINT AS n_words,
                sum(len(s.syms))::BIGINT AS n_bpe_tokens
         FROM dw d JOIN s6 s USING (word)
         GROUP BY d.doc_id ORDER BY d.doc_id""")))

  /** TS13: BPE merge induction ([[graft.ops.Bpe.learnMerges]]) — the
    * tokenizer-training step. One corpus scan builds the word
    * frequency table; every one of the 6 merge iterations then runs
    * on the VOCABULARY-sized frame only (combinable pair counts,
    * 1-row argmax collect, per-word fold). Integer/string output —
    * no float discipline needed at all; the determinism pins are the
    * overlap-counting zip, the (cnt DESC, lhs, rhs) argmax and the
    * greedy left-to-right merge, each replicated in the generated
    * oracle. */
  private val ts13 = QueryDef(
    "ts13_bpe_merges",
    "byte-pair-encoding merge induction (6 iterations)",
    (s, dir) => graft.ops.Bpe.learnMerges(
      Tables.documents(s, dir), "text", numMerges = 6)
      .orderBy("iter"),
    Some(bpeOracleSql(6)))

  /** TS13B: BATCHED BPE merge induction
    * ([[graft.ops.Bpe.learnMergesBatched]]) — the production-vocab
    * scale dial: each round runs ONE pair-count job and accepts up
    * to `batchSize` pairwise-symbol-disjoint merges from the
    * (cnt DESC, lhs, rhs) order, cutting driver round-trips from
    * O(vocab) to O(vocab/batch) (a 50k-merge vocabulary stops being
    * 50k sequential collects). Disjointness makes the batch
    * order-independent, so the recorded pre-merge counts stay exact;
    * conflicting pairs resurface next round with fresh counts. The
    * oracle replicates the full batched schedule — greedy disjoint
    * selection AND per-round application; ts13 remains the classic
    * 1-per-iteration semantics pin. The round-6 scale probe measures
    * the job-count/wall win at a production merge count. */
  private val ts13b = QueryDef(
    "ts13b_bpe_merges_batched",
    "batched BPE merge induction (3 rounds × ≤2 disjoint merges)",
    (s, dir) => graft.ops.Bpe.learnMergesBatched(
      Tables.documents(s, dir), "text", rounds = 3, batchSize = 2)
      .orderBy("iter", "rank"),
    Some(bpeBatchedOracleSql(3, 2)))

  /** The ts30 unigram-LM oracle, GENERATED per EM round and DP
    * position (the bpe-oracle discipline): seed substring counts →
    * v0 (deterministic prune), then per round: 1e-9-rounded log
    * scores, a position-unrolled Viterbi DP (dp_k_p = best-scoring
    * segmentation of each word's length-p prefix, candidates UNION'd
    * over piece lengths, argmax by (score DESC, length ASC) — the
    * engine's strict-> ascending-length loop), path piece counts,
    * and the (cnt DESC, piece ASC) prune with the char floor. Every
    * dp stage is MATERIALIZED — un-materialized CTEs inline per
    * reference and the 4-way chain would blow up exponentially. */
  private def unigramOracleSql(iters: Int, maxPieceLen: Int,
      maxWordLen: Int, minSeedCount: Int, keepPieces: Int): String =
    unigramVocabCtes(iters, maxPieceLen, maxWordLen, minSeedCount,
      keepPieces) +
      s"\n          SELECT piece, cnt FROM v$iters ORDER BY piece"

  /** The ts30 CTE chain up to the trained vocabulary v`iters` —
    * ts31's apply oracle extends it with one more unrolled DP pass
    * over the final vocab. */
  private def unigramVocabCtes(iters: Int, maxPieceLen: Int,
      maxWordLen: Int, minSeedCount: Int, keepPieces: Int): String = {
    val base = s"""WITH w0 AS (SELECT word, count(*)::BIGINT AS freq FROM (
            SELECT unnest(CASE WHEN length(trim(lower(text))) = 0
                          THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                          END) AS word
            FROM documents) GROUP BY word),
          wt AS MATERIALIZED (SELECT word, freq FROM w0
                              WHERE length(word) <= $maxWordLen),
          sub0 AS MATERIALIZED (SELECT word, freq, u.pos AS pos,
              u.len AS len, u.piece AS piece
            FROM (SELECT word, freq,
                    unnest(flatten(list_transform(
                      generate_series(1, length(word)), p ->
                      list_transform(generate_series(1,
                          least($maxPieceLen, length(word) - p + 1)), l ->
                        {'pos': p, 'len': l,
                         'piece': substr(word, p::INT, l::INT)})))) AS u
                  FROM wt)),
          seed AS MATERIALIZED (SELECT piece, sum(freq)::BIGINT AS cnt
                                FROM sub0 GROUP BY piece),
          chars AS MATERIALIZED (SELECT piece, cnt FROM seed
                                 WHERE length(piece) = 1),
          v0 AS MATERIALIZED (
            SELECT piece, cnt FROM (
              SELECT piece, cnt,
                     row_number() OVER (ORDER BY cnt DESC, piece) AS rn
              FROM seed WHERE length(piece) >= 2 AND cnt >= $minSeedCount)
            WHERE rn <= $keepPieces
            UNION ALL
            SELECT piece, greatest(cnt, 1) FROM chars)"""
    val rounds = (1 to iters).map { k =>
      val dps = (1 to maxWordLen).map { p =>
        val branches = (1 to math.min(maxPieceLen, p)).map { l =>
          s"""SELECT d.word, d.freq, d.score + c.score AS score,
                 list_append(d.path, c.piece) AS path, $l AS l
               FROM dp${k}_${p - l} d
               JOIN cand$k c ON c.word = d.word AND c.pos = ${p - l + 1}
                 AND c.len = $l"""
        }.mkString("\n               UNION ALL\n               ")
        s""",
          dp${k}_$p AS MATERIALIZED (SELECT word, freq, score, path FROM (
              SELECT word, freq, score, path,
                     row_number() OVER (PARTITION BY word
                       ORDER BY score DESC, l) AS rn
              FROM ($branches)) WHERE rn = 1)"""
      }.mkString
      val segUnion = (1 to maxWordLen).map(p =>
        s"""SELECT d.freq, d.path FROM dp${k}_$p d
             JOIN wt w ON w.word = d.word AND length(w.word) = $p""")
        .mkString("\n              UNION ALL ")
      s""",
          tot$k AS (SELECT sum(cnt)::DOUBLE AS total FROM v${k - 1}),
          sc$k AS MATERIALIZED (SELECT piece,
              round(ln(cnt::DOUBLE / total), 9) AS score
            FROM v${k - 1}, tot$k),
          cand$k AS MATERIALIZED (SELECT s.word, s.freq, s.pos, s.len,
              s.piece, c.score
            FROM sub0 s JOIN sc$k c ON c.piece = s.piece),
          dp${k}_0 AS (SELECT word, freq, 0.0::DOUBLE AS score,
              []::VARCHAR[] AS path FROM wt)$dps,
          em$k AS MATERIALIZED (SELECT piece, sum(freq)::BIGINT AS cnt
            FROM (SELECT freq, unnest(path) AS piece FROM ($segUnion))
            GROUP BY piece),
          v$k AS MATERIALIZED (
            SELECT piece, cnt FROM (
              SELECT piece, cnt,
                     row_number() OVER (ORDER BY cnt DESC, piece) AS rn
              FROM em$k WHERE length(piece) >= 2) WHERE rn <= $keepPieces
            UNION ALL
            SELECT c.piece, greatest(coalesce(e.cnt, 0), 1) AS cnt
            FROM chars c LEFT JOIN em$k e ON e.piece = c.piece)"""
    }.mkString
    s"$base$rounds"
  }

  /** TS30: UNIGRAM-LM (SentencePiece-style) tokenizer induction
    * ([[graft.ops.UnigramLm.trainVocab]]) — the other production
    * tokenizer family next to BPE (ts13): substring seed → Viterbi
    * hard-EM → deterministic prune, iterated. The ts13 discipline
    * holds (one corpus scan, iterations vocabulary-sized, staged
    * leaves); scores are 1e-9-rounded log-probs (the dsir float
    * rule) so the DP compares engine-portable doubles; the prune
    * order (cnt DESC, piece ASC, chars exempt and floored) is the
    * determinism contract UnigramLmSpec pins. The oracle unrolls
    * BOTH EM rounds position by position. */
  private val ts30 = QueryDef(
    "ts30_unigram_lm_vocab",
    "unigram-LM tokenizer induction: seed -> 2 Viterbi-EM rounds -> prune",
    (s, dir) => graft.ops.UnigramLm.trainVocab(
      Tables.documents(s, dir), "text", iters = 2, maxPieceLen = 4,
      maxWordLen = 20, minSeedCount = 2, keepPieces = 120)
      .orderBy("piece"),
    Some(unigramOracleSql(iters = 2, maxPieceLen = 4, maxWordLen = 20,
      minSeedCount = 2, keepPieces = 120)))

  /** The ts31 apply oracle: ts30's trained-vocab chain (v`iters`)
    * extended with ONE more unrolled Viterbi pass carrying the piece
    * COUNT instead of the path, then the per-doc rollup. The unknown
    * fallbacks are structural: words over the cap (absent from wt),
    * words with no in-vocab substring, and words whose DP is
    * unreachable at their length all fall out of `sega` and coalesce
    * to their char count — the engine's <unk>-per-char rule. */
  private def unigramTokenizeOracleSql(iters: Int, maxPieceLen: Int,
      maxWordLen: Int, minSeedCount: Int, keepPieces: Int): String = {
    val dps = (1 to maxWordLen).map { p =>
      val branches = (1 to math.min(maxPieceLen, p)).map { l =>
        s"""SELECT d.word, d.score + c.score AS score,
               d.np + 1 AS np, $l AS l
             FROM dpa_${p - l} d
             JOIN canda c ON c.word = d.word AND c.pos = ${p - l + 1}
               AND c.len = $l"""
      }.mkString("\n             UNION ALL\n             ")
      s""",
          dpa_$p AS MATERIALIZED (SELECT word, score, np FROM (
              SELECT word, score, np,
                     row_number() OVER (PARTITION BY word
                       ORDER BY score DESC, l) AS rn
              FROM ($branches)) WHERE rn = 1)"""
    }.mkString
    val segUnion = (1 to maxWordLen).map(p =>
      s"""SELECT d.word, d.np FROM dpa_$p d
           JOIN wt w ON w.word = d.word AND length(w.word) = $p""")
      .mkString("\n              UNION ALL ")
    unigramVocabCtes(iters, maxPieceLen, maxWordLen, minSeedCount,
      keepPieces) + s""",
          tota AS (SELECT sum(cnt)::DOUBLE AS total FROM v$iters),
          sca AS MATERIALIZED (SELECT piece,
              round(ln(cnt::DOUBLE / total), 9) AS score
            FROM v$iters, tota),
          canda AS MATERIALIZED (SELECT s.word, s.pos, s.len,
              s.piece, c.score
            FROM sub0 s JOIN sca c ON c.piece = s.piece),
          dpa_0 AS (SELECT word, 0.0::DOUBLE AS score, 0::BIGINT AS np
                    FROM wt)$dps,
          sega AS ($segUnion),
          lens AS (SELECT w.word,
              coalesce(s.np, length(w.word))::BIGINT AS np
            FROM w0 w LEFT JOIN sega s ON s.word = w.word),
          docw AS (SELECT doc_id AS id,
              unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                AS word
            FROM documents WHERE length(trim(lower(text))) > 0)
          SELECT d.id, count(*)::BIGINT AS n_words,
            sum(l.np)::BIGINT AS n_lm_tokens
          FROM docw d JOIN lens l ON l.word = d.word
          GROUP BY d.id ORDER BY d.id"""
  }

  /** TS31: UNIGRAM-LM TOKENIZATION (the apply path,
    * [[graft.ops.UnigramLm.tokenize]]) — ts30's trained vocabulary
    * applied back to the corpus, the ts14 twin for the second
    * tokenizer family: per doc, whitespace word count and Viterbi
    * piece count under the trained model. What this gate pins beyond
    * ts30 is the APPLY seam: the DP against the final pruned vocab
    * (scores over v1, not the seed), and the three unknown fallbacks
    * (over-cap words, no-candidate words, unreachable DP) counting
    * <unk>-per-char instead of vanishing — the review-found silent
    * row loss, now oracle-gated. */
  /** The ts32 byte-fallback apply oracle: ts30's trained-vocab chain
    * (v`iters`), then the apply-side DP over a FOREIGN corpus
    * (`documents.text || foreignSuffix`) where every position also
    * carries the byte edge (-100.0/byte, np += octet width) — the DP
    * is reachable for ANY word, so the only coalesce left is the
    * over-cap/no-candidate octet count (≡ the pure byte path). */
  private def unigramByteFallbackOracleSql(iters: Int, maxPieceLen: Int,
      maxWordLen: Int, minSeedCount: Int, keepPieces: Int,
      foreignSuffix: String): String = {
    val dps = (1 to maxWordLen).map { p =>
      val vocabBranches = (1 to math.min(maxPieceLen, p)).map { l =>
        s"""SELECT d.word, d.score + c.score AS score,
               d.np + 1 AS np, $l AS l
             FROM dpb_${p - l} d
             JOIN candb c ON c.word = d.word AND c.pos = ${p - l + 1}
               AND c.len = $l"""
      }.mkString("\n             UNION ALL\n             ")
      s""",
          dpb_$p AS MATERIALIZED (SELECT word, score, np FROM (
              SELECT word, score, np,
                     row_number() OVER (PARTITION BY word
                       ORDER BY score DESC, l, np DESC) AS rn
              FROM ($vocabBranches
             UNION ALL
             SELECT d.word, d.score + (-100.0 * b.b) AS score,
                 d.np + b.b AS np, 1 AS l
               FROM dpb_${p - 1} d
               JOIN byteb b ON b.word = d.word AND b.pos = $p))
              WHERE rn = 1)"""
    }.mkString
    val segUnion = (1 to maxWordLen).map(p =>
      s"""SELECT d.word, d.np FROM dpb_$p d
           JOIN awt w ON w.word = d.word AND length(w.word) = $p""")
      .mkString("\n              UNION ALL ")
    unigramVocabCtes(iters, maxPieceLen, maxWordLen, minSeedCount,
      keepPieces) + s""",
          fdocs AS (SELECT doc_id, text || '$foreignSuffix' AS text
                    FROM documents),
          aw0 AS (SELECT DISTINCT unnest(
                CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                END) AS word
              FROM fdocs),
          awt AS MATERIALIZED (SELECT word FROM aw0
                               WHERE length(word) <= $maxWordLen),
          asub AS MATERIALIZED (SELECT word, u.pos AS pos, u.len AS len,
              u.piece AS piece
            FROM (SELECT word,
                    unnest(flatten(list_transform(
                      generate_series(1, length(word)), p ->
                      list_transform(generate_series(1,
                          least($maxPieceLen, length(word) - p + 1)), l ->
                        {'pos': p, 'len': l,
                         'piece': substr(word, p::INT, l::INT)})))) AS u
                  FROM awt)),
          totb AS (SELECT sum(cnt)::DOUBLE AS total FROM v$iters),
          scb AS MATERIALIZED (SELECT piece,
              round(ln(cnt::DOUBLE / total), 9) AS score
            FROM v$iters, totb),
          candb AS MATERIALIZED (SELECT s.word, s.pos, s.len, s.piece,
              c.score
            FROM asub s JOIN scb c ON c.piece = s.piece),
          byteb AS MATERIALIZED (SELECT word, u AS pos,
              strlen(substr(word, u::INT, 1)) AS b
            FROM (SELECT word,
                    unnest(generate_series(1, length(word))) AS u
                  FROM awt)),
          dpb_0 AS (SELECT word, 0.0::DOUBLE AS score, 0::BIGINT AS np
                    FROM awt)$dps,
          segb AS ($segUnion),
          lens AS (SELECT w.word,
              coalesce(s.np, strlen(w.word))::BIGINT AS np
            FROM aw0 w LEFT JOIN segb s ON s.word = w.word),
          docw AS (SELECT doc_id AS id,
              unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                AS word
            FROM fdocs WHERE length(trim(lower(text))) > 0)
          SELECT d.id, count(*)::BIGINT AS n_words,
            sum(l.np)::BIGINT AS n_lm_tokens
          FROM docw d JOIN lens l ON l.word = d.word
          GROUP BY d.id ORDER BY d.id"""
  }

  /** TS32: BYTE-FALLBACK TOKENIZATION
    * ([[graft.ops.UnigramLm.tokenizeByteFallback]]) — ts31's apply
    * path under the production SentencePiece contract
    * (`byte_fallback=true`): unknown characters count their UTF-8
    * byte width instead of a lossy `<unk>`, so ANY input round-trips
    * (losslessness itself is spec-pinned via
    * [[graft.ops.UnigramLm.segmentPiecesByteFallback]] +
    * [[graft.ops.UnigramLm.detokenize]]). The gate trains on the
    * documents corpus and applies to a FOREIGN version of it (every
    * text suffixed with 2-, 3- and 4-byte non-ASCII words), the
    * fixture class that broke ts31's first draft; the oracle unrolls
    * the same DP with the byte edge at every position. */
  private val ts32 = QueryDef(
    "ts32_unigram_byte_fallback",
    "unigram-LM apply with byte fallback: lossless counts on a foreign corpus",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.ops.UnigramLm.trainVocab(docs, "text",
        iters = 1, maxPieceLen = 4, maxWordLen = 20, minSeedCount = 2,
        keepPieces = 120)
      val foreign = docs.select(col("doc_id"),
        concat(col("text"), lit(" caffè → 🌍"))
          .as("text"))
      graft.ops.UnigramLm.tokenizeByteFallback(foreign, "doc_id", "text",
        vocab, maxPieceLen = 4, maxWordLen = 20)
        .orderBy("id")
    },
    Some(unigramByteFallbackOracleSql(iters = 1, maxPieceLen = 4,
      maxWordLen = 20, minSeedCount = 2, keepPieces = 120,
      foreignSuffix = " caffè → 🌍")))

  private val ts31 = QueryDef(
    "ts31_unigram_lm_tokenize",
    "unigram-LM apply: per-doc Viterbi piece counts under the trained vocab",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.ops.UnigramLm.trainVocab(docs, "text",
        iters = 1, maxPieceLen = 4, maxWordLen = 20, minSeedCount = 2,
        keepPieces = 120)
      graft.ops.UnigramLm.tokenize(docs, "doc_id", "text", vocab,
        maxPieceLen = 4, maxWordLen = 20)
        .orderBy("id")
    },
    Some(unigramTokenizeOracleSql(iters = 1, maxPieceLen = 4,
      maxWordLen = 20, minSeedCount = 2, keepPieces = 120)))

  /** SS13: IVF-PQ ([[SimilaritySearch.ivfPqTopK]]) — the production
    * vector index: the ss3/ss8 coarse-cell machinery generates
    * candidates (32 sample anchors, pinned cosine affinity,
    * probes = 4, cellCap), and ADC over ss10's PQ codes ranks them
    * — the corpus re-attaches as m codes, never as floats. The
    * oracle composes BOTH pinned models: the affinity CTEs and the
    * code chain, with the j-ordered ADC fold over exactly the
    * candidate pairs. */
  private val ss13 = QueryDef(
    "ss13_ivfpq_topk",
    "IVF cells prune, PQ codes rank (the production index shape)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.ivfPqTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, numCentroids = 32, probes = 4,
        m = 8, ks = 16, dim = 64, cellCap = 1000)
        .orderBy("query_id", "rank")
    },
    Some(pqCodesCtes + s""",
            anchors AS (SELECT vec_id AS cid, embedding AS avec
                        FROM embeddings ORDER BY vec_id LIMIT 32),
            aff AS (SELECT e.vec_id AS id, a.cid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${cosSql("e.embedding", "a.avec")} DESC,
                    a.cid) AS rn
              FROM embeddings e, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id < 10 AND rn <= 4),
            cappedv AS (SELECT neighbor_id, cid,
                row_number() OVER (PARTITION BY cid
                  ORDER BY neighbor_id) AS crn
              FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
              FROM qassign q JOIN cappedv c ON q.cid = c.cid
              WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            paird AS (SELECT cand.query_id, cand.neighbor_id,
                cd.j, q.dist
              FROM cand
              JOIN codes cd ON cd.id = cand.neighbor_id
              JOIN encd q ON q.id = cand.query_id AND q.j = cd.j
                AND q.c = cd.code),
            summed AS (SELECT query_id, neighbor_id,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list(dist ORDER BY j)), (x, y) -> x + y) AS dist
              FROM paird GROUP BY query_id, neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rank
              FROM summed)
            SELECT query_id, rank, neighbor_id, dist
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** SS12: metadata-filtered ANN ([[SimilaritySearch.filteredTopK]])
    * — top-5 neighbors WHERE label = 1, the PRE-filter semantics
    * (exact over the qualifying set; post-filtering an unfiltered
    * top-k would under-return). Brute-force engine over the
    * filtered corpus; the predicate reaches the parquet scan. */
  private val ss12 = QueryDef(
    "ss12_filtered_ann",
    "metadata-filtered ANN (pre-filter semantics, label = 1)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilaritySearch.filteredTopK(
        e.filter(col("vec_id") < 10).select(col("vec_id").as("id"),
          col("embedding")),
        e.select(col("vec_id").as("id"), col("embedding"), col("label")),
        "id", "embedding", k = 5, predicate = col("label") === 1)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                        FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                  FROM embeddings WHERE label = 1),
            scored AS (SELECT query_id, neighbor_id,
                ${cosSql("qv", "cv")} AS cos
              FROM q, c WHERE query_id != neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, rank, neighbor_id, cos
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** D13: repeated n-gram audit ([[Dedup.repeatedNgramSpans]]) — the
    * Lee et al. exact-substring memorization signal: 12-token
    * windows in ≥ 2 distinct docs with doc/occurrence counts.
    * Integer-only output over exact string keys. */
  private val d13 = QueryDef(
    "d13_repeated_ngram_spans",
    "12-gram windows shared across documents (memorization audit)",
    (s, dir) => Dedup.repeatedNgramSpans(
      Tables.documents(s, dir), "doc_id", "text", n = 12, minDocs = 2)
      .orderBy("gram"),
    Some("""WITH t AS (SELECT doc_id,
              CASE WHEN length(trim(lower(text))) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
                AS toks
              FROM documents),
            g AS (SELECT doc_id,
                array_to_string(toks[i:i+11], ' ') AS gram
              FROM t, unnest(generate_series(1, len(toks) - 11)) AS u(i)
              WHERE len(toks) >= 12)
            SELECT gram, count(DISTINCT doc_id)::BIGINT AS n_docs,
              count(*)::BIGINT AS n_occ
            FROM g GROUP BY gram HAVING n_docs >= 2
            ORDER BY gram"""))

  /** D18: repeated-span CUT ([[Dedup.cutRepeatedNgramSpans]]) — the
    * APPLY to d13's audit: exact-substring deduplication, every
    * duplicated 12-token window removed except its globally-first
    * (id, pos) occurrence; within-doc repeats count as duplicates.
    * The oracle replicates the whole chain — positional windows,
    * portable hash, window-partitioned canonical pick (the engine's
    * combinable min(struct)+count form computes the same relation),
    * per-token mask with overlap merge, whitespace-normalized
    * rejoin. */
  private val d18 = QueryDef(
    "d18_repeated_span_cut",
    "exact-substring dedup: cut duplicated 12-gram windows, keep first",
    (s, dir) => Dedup.cutRepeatedNgramSpans(
      Tables.documents(s, dir), "doc_id", "text", n = 12)
      .orderBy("id"),
    Some("""WITH toks AS (SELECT doc_id AS id,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents),
            occ AS (SELECT id, i - 1 AS pos,
                      ('0x' || substr(md5(lower(
                        array_to_string(t[i:i+11], ' '))), 1, 15))::BIGINT
                        AS gh
                    FROM toks, unnest(generate_series(1, len(t) - 11)) AS u(i)
                    WHERE len(t) >= 12),
            marked AS (SELECT id, pos,
                         row_number() OVER (PARTITION BY gh
                                            ORDER BY id, pos) AS rn,
                         count(*) OVER (PARTITION BY gh) AS cnt
                       FROM occ),
            cuts AS (SELECT id, list(pos ORDER BY pos) AS ss
                     FROM marked WHERE cnt >= 2 AND rn > 1 GROUP BY id),
            outp AS (SELECT tk.id, tk.t,
                       list_transform(
                         list_filter(generate_series(1, len(tk.t)),
                           i -> len(list_filter(
                                  coalesce(c.ss, []::BIGINT[]),
                                  s -> s <= i - 1 AND i - 1 < s + 12)) = 0),
                         i -> tk.t[i]) AS kept
                     FROM toks tk LEFT JOIN cuts c ON tk.id = c.id)
            SELECT id,
                   -- DuckDB's array_to_string is NULL on an empty
                   -- list; a fully-cut doc's text is '' (Spark
                   -- concat_ws semantics)
                   coalesce(array_to_string(kept, ' '), '') AS text,
                   (len(t) - len(kept)) AS n_removed
            FROM outp ORDER BY id"""))

  /** D14: blocked fuzzy pairs ([[Dedup.blockedFuzzyPairs]]) — the
    * edit-distance (typo-class) near-dup family member. The oracle
    * replicates the whole chain: normalized 40-char key, (prefix,
    * length-band) blocking, the id-ordered per-block cap, and the
    * levenshtein verify — both engines implement the same standard
    * edit distance, so `dist` matches exactly. */
  private val d14 = QueryDef(
    "d14_blocked_fuzzy_pairs",
    "blocked edit-distance near-dup pairs (entity-resolution shape)",
    (s, dir) => Dedup.blockedFuzzyPairs(
      Tables.documents(s, dir), "doc_id", "text",
      keyLen = 40, maxDist = 5)
      .orderBy("id_a", "id_b"),
    Some("""WITH k AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                1, 40) AS k
              FROM documents),
            b AS (SELECT id, substr(k, 1, 2) AS b_pre,
              (length(k) // 6)::INT AS b_len FROM k),
            c AS (SELECT *, row_number() OVER (PARTITION BY b_pre, b_len
                ORDER BY id) AS rn FROM b),
            cp AS (SELECT * FROM c WHERE rn <= 10000),
            p AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
                  FROM cp a JOIN cp b2
                  ON a.b_pre = b2.b_pre AND a.b_len = b2.b_len
                     AND a.id < b2.id),
            v AS (SELECT p.id_a, p.id_b, levenshtein(ka.k, kb.k) AS dist
                  FROM p JOIN k ka ON ka.id = p.id_a
                         JOIN k kb ON kb.id = p.id_b)
            SELECT id_a, id_b, dist FROM v WHERE dist <= 5
            ORDER BY id_a, id_b"""))

  /** G1: PageRank over the co-order part graph ([[PageRank]]) —
    * 3 damped iterations of the pinned recurrence, oracle-unrolled
    * CTE-per-iteration. Both engines evaluate the same terms:
    * (1.0 - 0.85) is computed IN ENGINE on both sides (the two
    * literals round to the same doubles, so the subtraction is the
    * same IEEE op), r₀ = 1/N, contributions summed per dst. The
    * ×1000 on output keeps 6-7 significant digits under the 6-dp
    * round (ranks are ~1/N ≈ 5e-4 here). */
  /** The [[PageRank.coOrderEdges]] oracle twin, shared by g1 and g2:
    * the (l_linenumber, l_partkey) window order is the determinism
    * fix the op's scaladoc calls out (linenumber alone is not total
    * under the fixture's duplicate pairs), so the fragment must not
    * fork. Emits CTEs `le` and `e(src, dst)`. */
  private val coOrderEdgesSql: String =
    """le AS (SELECT l_partkey,
              lead(l_partkey) OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey) AS nxt
              FROM lineitem),
            e AS (SELECT DISTINCT l_partkey AS src, nxt AS dst FROM le
                  WHERE nxt IS NOT NULL AND nxt <> l_partkey)"""

  private val g1 = QueryDef(
    "g1_pagerank_coorder",
    "3-iteration PageRank over the co-order part graph",
    (s, dir) => PageRank.pageRank(
        PageRank.coOrderEdges(Tables.lineitem(s, dir)),
        "src", "dst", iterations = 3)
      .select(col("id").as("p_partkey"),
        round(col("r") * 1000.0, 6).as("pr_k"))
      .orderBy("p_partkey"),
    Some(s"""WITH $coOrderEdgesSql,
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e
                    GROUP BY src),
            r0 AS (SELECT id, 1.0::DOUBLE / nn.n AS r
                   FROM nodes CROSS JOIN nn),
            i1 AS (SELECT v.id,
                (1.0::DOUBLE - 0.85::DOUBLE) / v.n + 0.85::DOUBLE *
                  coalesce(sum(p.r / deg.outdeg), 0.0::DOUBLE) AS r
              FROM (SELECT nodes.id, nn.n FROM nodes CROSS JOIN nn) v
              LEFT JOIN e ON e.dst = v.id
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN r0 p ON p.id = e.src
              GROUP BY v.id, v.n),
            i2 AS (SELECT v.id,
                (1.0::DOUBLE - 0.85::DOUBLE) / v.n + 0.85::DOUBLE *
                  coalesce(sum(p.r / deg.outdeg), 0.0::DOUBLE) AS r
              FROM (SELECT nodes.id, nn.n FROM nodes CROSS JOIN nn) v
              LEFT JOIN e ON e.dst = v.id
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN i1 p ON p.id = e.src
              GROUP BY v.id, v.n),
            i3 AS (SELECT v.id,
                (1.0::DOUBLE - 0.85::DOUBLE) / v.n + 0.85::DOUBLE *
                  coalesce(sum(p.r / deg.outdeg), 0.0::DOUBLE) AS r
              FROM (SELECT nodes.id, nn.n FROM nodes CROSS JOIN nn) v
              LEFT JOIN e ON e.dst = v.id
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN i2 p ON p.id = e.src
              GROUP BY v.id, v.n)
            SELECT id AS p_partkey, round(r * 1000.0::DOUBLE, 6) AS pr_k
            FROM i3 ORDER BY p_partkey"""))

  /** G2: PER-NODE TRIANGLE COUNTS ([[PageRank.triangleCounts]]) over
    * the co-order part graph — the graph-cohesion twin of g1's
    * centrality: the degree-ordered orientation enumerates each
    * triangle exactly once with O(√m)-bounded wedge fan-out (no
    * celebrity-node quadratic blowup). The oracle counts canonical
    * a<b<c triangles by a 3-way equi-join over the same undirected
    * edge set (each triangle matched exactly once on both sides) and
    * keeps zero-triangle nodes, so membership AND counts pin. */
  private val g2 = QueryDef(
    "g2_triangle_counts",
    "per-node triangle counts over the co-order part graph",
    (s, dir) => PageRank.triangleCounts(
        PageRank.coOrderEdges(Tables.lineitem(s, dir)), "src", "dst")
      .select(col("id").as("p_partkey"), col("n_triangles"))
      .orderBy("p_partkey"),
    Some(s"""WITH $coOrderEdgesSql,
            und AS (SELECT DISTINCT least(src, dst) AS u,
                      greatest(src, dst) AS v FROM e),
            tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                    FROM und e1
                    JOIN und e2 ON e2.u = e1.v
                    JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
            corners AS (SELECT a AS id FROM tri
                        UNION ALL SELECT b FROM tri
                        UNION ALL SELECT c FROM tri),
            nodes AS (SELECT u AS id FROM und UNION SELECT v FROM und),
            cnt AS (SELECT id, count(*)::BIGINT AS n FROM corners
                    GROUP BY id)
            SELECT n.id AS p_partkey,
              coalesce(cnt.n, 0)::BIGINT AS n_triangles
            FROM nodes n LEFT JOIN cnt ON cnt.id = n.id
            ORDER BY p_partkey"""))

  /** G3: INCREMENTAL triangle maintenance
    * ([[PageRank.triangleCountsAppend]]) — the d12 identity applied
    * to the graph family: the co-order edges split into two
    * deterministic batches, the first BUILDS the stored edge/count
    * artifacts, the second FOLDS in (new-edge triangles enumerated by
    * their 1/2/3-new-edge case, O(delta + one edge-set scan) work),
    * and the folded counts must equal [[PageRank.triangleCounts]]
    * from scratch over everything — which is exactly g2's oracle.
    * The split is on the DIRECTED edges, so a canonical pair can
    * arrive in both batches via its two directions — the fold's
    * anti-join must absorb it (the replay-idempotence path, exercised
    * by real data rather than a crafted fixture). */
  private val g3 = QueryDef(
    "g3_incremental_triangles",
    "edge-append triangle maintenance ≡ from-scratch counts",
    (s, dir) => {
      val edges = PageRank.coOrderEdges(Tables.lineitem(s, dir))
      val root = graft.ops.Scratch.tempDir("graft-g3-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      PageRank.triangleCountsAppend(
        edges.filter((col("src") + col("dst")) % 3 =!= 0),
        "src", "dst", store)
      PageRank.triangleCountsAppend(
        edges.filter((col("src") + col("dst")) % 3 === 0),
        "src", "dst", store)
        .select(col("id").as("p_partkey"), col("n_triangles"))
        .orderBy("p_partkey")
    },
    // from-scratch counts over ALL edges — byte-identical to g2's
    // oracle, because that identity IS the gate's claim
    Some(s"""WITH $coOrderEdgesSql,
            und AS (SELECT DISTINCT least(src, dst) AS u,
                      greatest(src, dst) AS v FROM e),
            tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                    FROM und e1
                    JOIN und e2 ON e2.u = e1.v
                    JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
            corners AS (SELECT a AS id FROM tri
                        UNION ALL SELECT b FROM tri
                        UNION ALL SELECT c FROM tri),
            nodes AS (SELECT u AS id FROM und UNION SELECT v FROM und),
            cnt AS (SELECT id, count(*)::BIGINT AS n FROM corners
                    GROUP BY id)
            SELECT n.id AS p_partkey,
              coalesce(cnt.n, 0)::BIGINT AS n_triangles
            FROM nodes n LEFT JOIN cnt ON cnt.id = n.id
            ORDER BY p_partkey"""))

  /** The damped power-iteration round as SQL — g1's iteration body,
    * parameterized over the edge/degree/node CTE names so g4 can
    * unroll BOTH the batch-1 recurrence and the warm-started fold
    * from one textual source (the bpe-oracle generated-SQL
    * discipline). */
  private def prStepSql(out: String, prev: String, e: String,
      deg: String, nodes: String, nn: String): String =
    s"""$out AS (SELECT v.id,
                (1.0::DOUBLE - 0.85::DOUBLE) / v.n + 0.85::DOUBLE *
                  coalesce(sum(p.r / $deg.outdeg), 0.0::DOUBLE) AS r
              FROM (SELECT $nodes.id, $nn.n FROM $nodes CROSS JOIN $nn) v
              LEFT JOIN $e ON $e.dst = v.id
              LEFT JOIN $deg ON $deg.src = $e.src
              LEFT JOIN $prev p ON p.id = $e.src
              GROUP BY v.id, v.n)"""

  /** G4: INCREMENTAL PageRank under edge appends
    * ([[PageRank.pageRankAppend]]) — the g3 fold discipline applied
    * to the centrality artifact. Batch 1 (two thirds of the co-order
    * edges) BUILDS the stored ranks with g1's 3-iteration contract;
    * batch 2 folds the remaining edges in with a WARM START
    * (surviving nodes rescaled by n_old/n_new, new nodes at 1/n_new)
    * and exactly 2 more rounds. The whole two-batch recurrence is
    * deterministic, so the oracle unrolls it: 3 batch-1 rounds, the
    * rescaled warm vector, 2 full-graph rounds — every CTE generated
    * from the same textual step g1 pins. (The convergence mode —
    * `tol > 0`, residual-stopped — is spec-gated: the stop count is
    * engine-float-dependent, exactly why the GATE pins the
    * fixed-iteration contract.) */
  private val g4 = QueryDef(
    "g4_incremental_pagerank",
    "edge-append warm-started PageRank ≡ unrolled two-batch recurrence",
    (s, dir) => {
      val edges = PageRank.coOrderEdges(Tables.lineitem(s, dir))
      val root = graft.ops.Scratch.tempDir("graft-g4-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      PageRank.pageRankAppend(
        edges.filter((col("src") + col("dst")) % 3 =!= 0),
        "src", "dst", store, iterations = 3)
      PageRank.pageRankAppend(
        edges.filter((col("src") + col("dst")) % 3 === 0),
        "src", "dst", store, iterations = 2)
        .select(col("id").as("p_partkey"),
          round(col("r") * 1000.0, 6).as("pr_k"))
        .orderBy("p_partkey")
    },
    Some(s"""WITH $coOrderEdgesSql,
            e1 AS (SELECT src, dst FROM e WHERE (src + dst) % 3 <> 0),
            nodes1 AS (SELECT src AS id FROM e1 UNION SELECT dst FROM e1),
            nn1 AS (SELECT count(*)::DOUBLE AS n FROM nodes1),
            deg1 AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e1
                     GROUP BY src),
            b0 AS (SELECT id, 1.0::DOUBLE / nn1.n AS r
                   FROM nodes1 CROSS JOIN nn1),
            ${prStepSql("b1", "b0", "e1", "deg1", "nodes1", "nn1")},
            ${prStepSql("b2", "b1", "e1", "deg1", "nodes1", "nn1")},
            ${prStepSql("b3", "b2", "e1", "deg1", "nodes1", "nn1")},
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e
                    GROUP BY src),
            w0 AS (SELECT nodes.id,
                     coalesce(b3.r * (nn1.n / nn.n),
                       1.0::DOUBLE / nn.n) AS r
                   FROM nodes CROSS JOIN nn CROSS JOIN nn1
                   LEFT JOIN b3 ON b3.id = nodes.id),
            ${prStepSql("w1", "w0", "e", "deg", "nodes", "nn")},
            ${prStepSql("w2", "w1", "e", "deg", "nodes", "nn")}
            SELECT id AS p_partkey, round(r * 1000.0::DOUBLE, 6) AS pr_k
            FROM w2 ORDER BY p_partkey"""))

  /** D15: containment near-dup pairs ([[Dedup.containmentPairs]]) —
    * the asymmetric |A∩B|/min(|A|,|B|) metric over the same LSH
    * candidate chain as d2 (the oracle swaps only the verify measure
    * into the shared chain, exactly like the engine). On the dup
    * corpus the prefix-perturbed pairs score containment ≈ 0.93+
    * where Jaccard saw 0.875 — the asymmetry the metric exists for;
    * full quote-in-document capture at low Jaccard needs ts7
    * chunking first (banding recall ∝ Jaccard — documented in the
    * operator's Scaladoc and spec'd with a hand case). */
  private val d15 = QueryDef(
    "d15_containment_pairs",
    "asymmetric containment near-dup pairs (quote/inclusion metric)",
    (s, dir) => Dedup.containmentPairs(dupCorpus(s, dir), "id", "text",
      shingleLen = 3, numHashes = NumHashes, bands = Bands,
      threshold = 0.9, bucketCap = CatalogCap)
      .orderBy("id_a", "id_b"),
    Some("WITH " + dupCorpusSql + ",\n" + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM corpus),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.9,
      measureName = "containment",
      measureSql = """len(list_intersect(x.hs, y.hs))::DOUBLE /
                   least(len(list_distinct(x.hs)),
                         len(list_distinct(y.hs)))::DOUBLE""")))

  /** D16: CHUNKED containment pairs
    * ([[Dedup.chunkedContainmentPairs]]) — closes the banding-recall
    * gap d15 documents: a short quote inside a much longer document
    * (containment ≈ 1, jaccard ≈ 1/length-ratio) evades direct
    * MinHash banding, so the corpus is CHUNKED first (ts7's window
    * machinery, 16-token windows / stride 8) and containment is
    * mined chunk-vs-chunk, then rolled up to doc pairs. The fixture
    * manufactures the exact failure mode: every 6th doc contributes
    * a 16-token prefix quote as a new doc — the quote's whole-doc
    * chunk meets the original's first window at jaccard ≈ 1
    * regardless of the original's length. The oracle replicates the
    * full composition: chunk derivation (ids = id·10⁶ + chunk_no),
    * the shared LSH chain over chunks with the containment verify,
    * same-doc drop, and the doc-level max/count rollup. */
  private val d16 = QueryDef(
    "d16_chunked_containment_pairs",
    "quote-in-document capture: chunk → containment mine → doc rollup",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
      val quotes = d.filter(col("id") % 6 === 0)
        .select((col("id") + 40000).as("id"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, 16), " ")
            .as("text"))
      Dedup.chunkedContainmentPairs(d.unionByName(quotes), "id", "text",
        windowTokens = 16, stride = 8, shingleLen = 3,
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        bucketCap = CatalogCap)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH corpus AS (
              SELECT doc_id AS id, text FROM documents
              UNION ALL
              SELECT doc_id + 40000 AS id,
                     array_to_string(
                       (CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                             ELSE regexp_split_to_array(trim(text), '\s+')
                        END)[1:16], ' ') AS text
              FROM documents WHERE doc_id % 6 = 0),
            ctok AS (SELECT id,
                       CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(text), '\s+')
                       END AS t
                     FROM corpus),
            chunks AS (SELECT id * 1000000 + cn AS id,
                         array_to_string(t[cn*8+1 : cn*8+16], ' ') AS text
                       FROM ctok,
                         unnest(generate_series(0, (len(t)-1)//8)) AS u(cn)
                       WHERE len(t) > 0),
            cp AS (WITH """ + lshOracleSql(
      """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM chunks),
         it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                FROM tok WHERE len(t) >= 3)""", 0.8,
      measureName = "containment",
      measureSql = """len(list_intersect(x.hs, y.hs))::DOUBLE /
                   least(len(list_distinct(x.hs)),
                         len(list_distinct(y.hs)))::DOUBLE""") + """),
            dmap AS (SELECT id_a // 1000000 AS da, id_b // 1000000 AS db,
                            containment
                     FROM cp WHERE id_a // 1000000 <> id_b // 1000000)
            SELECT least(da, db) AS id_a, greatest(da, db) AS id_b,
                   max(containment) AS containment,
                   count(*)::BIGINT AS n_chunk_pairs
            FROM dmap GROUP BY 1, 2 ORDER BY id_a, id_b"""))

  /** TS15: TF-IDF keyword extraction ([[TextAnalysis.tfidfTopK]]) —
    * top-5 terms per doc. Ranking compares bit-identical doubles
    * (exact integer counts through one shared ln quotient); the
    * 6-dp round is display-only. */
  private val ts15 = QueryDef(
    "ts15_tfidf_topk",
    "top-5 TF-IDF terms per document",
    (s, dir) => TextAnalysis.tfidfTopK(
      Tables.documents(s, dir), "doc_id", "text", k = 5)
      .select(col("id").as("doc_id"), col("rank"), col("term"),
        col("tfidf_r"))
      .orderBy("doc_id", "rank"),
    Some("""WITH tf AS (SELECT doc_id AS id, word AS term,
              count(*)::BIGINT AS tf
              FROM (SELECT doc_id,
                unnest(CASE WHEN length(trim(lower(text))) = 0
                       THEN []::VARCHAR[]
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                       END) AS word
                FROM documents)
              GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf
                      GROUP BY term),
            n AS (SELECT count(DISTINCT id)::BIGINT AS n FROM tf),
            scored AS (SELECT tf.id, tf.term,
                tf.tf * ln(n.n::DOUBLE / dfreq.df::DOUBLE) AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN n),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY id
                ORDER BY tfidf DESC, term) AS rank
              FROM scored)
            SELECT id AS doc_id, rank, term, round(tfidf, 6) AS tfidf_r
            FROM ranked WHERE rank <= 5
            ORDER BY doc_id, rank"""))

  /** SS14: HYBRID retrieval — the modern search stack as one verified
    * query: the ts17 BM25 lexical ranking and an embedding cosine
    * ranking (ss1's engine, query = vec 0 — doc ids and vec ids
    * align in the fixture) fused by RECIPROCAL-RANK fusion
    * ([[SimilaritySearch.rrfFuse]]): score = Σ 1/(60 + rank), missing
    * side contributes 0, no score calibration needed. Both input
    * rankings are already pinned bit-exact (ts17 / ss1 disciplines),
    * and every fused score is 1/(60+int) arithmetic — the oracle
    * replicates the whole thing including both top-20 cuts. */
  /** SS16: BINARY (sign-bit) SHORTLIST + EXACT RERANK
    * ([[VectorCompression.binarize]] /
    * [[SimilaritySearch.binaryRerankTopK]]) — the 1-bit member of
    * the compression family (ss4 int8 → ss10 PQ → sign bits, 32×),
    * deployed the way binary vectors deploy: packed-word Hamming
    * (integer-exact, an angular proxy) shortlists 50 candidates per
    * query from 8 bytes/vector, then only those pairs re-attach
    * floats for the exact-cosine top-5. Deterministic end to end
    * (integer Hamming with id tie-break; shared cosine tree), so the
    * oracle replicates packing, popcount fold, shortlist window, and
    * rerank. */
  private val ss16 = QueryDef(
    "ss16_binary_rerank_topk",
    "sign-bit Hamming shortlist + exact cosine rerank top-k",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.binaryRerankTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, shortlist = 50, dim = 64)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some {
      // bit 63's value is BIGINT MIN (two's complement): DuckDB's
      // checked 1<<63 raises, so the top bit rides as the literal —
      // the sum fold stays in range (acc >= 0 plus -2^63 >= -2^63),
      // landing on the same wrapped word Spark's 1L<<63 packs
      def bitsSql(v: String): String =
        s"""list_transform(generate_series(0, 0), w ->
              list_reduce(list_prepend(0::BIGINT,
                list_transform(generate_series(0, 63),
                  j -> CASE WHEN coalesce($v[w*64 + j + 1]::DOUBLE, 0.0) <= 0
                       THEN 0::BIGINT
                       WHEN j = 63 THEN (-9223372036854775807 - 1)::BIGINT
                       ELSE (1::BIGINT << j) END)),
                (a, b) -> a + b))"""
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                     FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                  FROM embeddings),
            qb AS (SELECT query_id, ${bitsSql("qv")} AS bits FROM q),
            cb AS (SELECT neighbor_id, ${bitsSql("cv")} AS bits FROM c),
            ham AS (SELECT query_id, neighbor_id,
                      list_reduce(list_prepend(0::BIGINT,
                        list_transform(generate_series(1, len(qb.bits)),
                          w -> bit_count(xor(qb.bits[w], cb.bits[w]))::BIGINT)),
                        (a, b) -> a + b) AS ham
                    FROM qb, cb WHERE query_id != neighbor_id),
            short AS (SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY ham, neighbor_id) AS srn
                      FROM ham),
            rer AS (SELECT s.query_id, s.neighbor_id,
                      ${cosSql("q.qv", "c.cv")} AS cos
                    FROM short s
                    JOIN q ON q.query_id = s.query_id
                    JOIN c ON c.neighbor_id = s.neighbor_id
                    WHERE s.srn <= 50),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM rer)
            SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_r
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    })

  /** SS17: MUTABLE stored-IVF probe after a tombstone reindex
    * ([[SimilaritySearch.ivfBuildIndexStored]] →
    * [[SimilaritySearch.ivfReindexVectors]] →
    * [[SimilaritySearch.ivfTopKStored]]) — the ts28 log-structured
    * mutation discipline applied to the VECTOR index: every 7th
    * embedding is replaced (reversed — a pure permutation, so no new
    * float arithmetic enters the gate), the delta re-assigns under a
    * bumped generation with tombstones marking the old rows dead,
    * and the probe over the mutated corpus must equal a from-scratch
    * capped IVF probe with the SAME build-time codebook (original
    * first-32 sample — reindexing never retrains the geometry). The
    * index is one store group: build and reindex each end with one
    * marker swap, and the probe reads the marker's snapshot. The
    * oracle is that rebuild twin: original anchors, mutated
    * assignments, per-cell cap over the live membership. */
  private val ss17 = QueryDef(
    "ss17_ivf_reindex_probe",
    "stored-IVF probe after vector reindex ≡ rebuild over mutated corpus",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val root = graft.ops.Scratch.tempDir("graft-ss17-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
        numCentroids = 32)
      SimilaritySearch.ivfReindexVectors(
        e.filter(col("id") % 7 === 0)
          .select(col("id"), reverse(col("embedding")).as("embedding")),
        "id", "embedding", store)
      val mutated = e.select(col("id"),
        when(col("id") % 7 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      SimilaritySearch.ivfTopKStored(
        mutated.filter(col("id") >= 100 && col("id") < 110),
        mutated, "id", "embedding", store, k = 5, probes = 8,
        cellCap = 1000)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH anchors AS (SELECT vec_id AS cid, embedding AS avec
                              FROM embeddings ORDER BY vec_id LIMIT 32),
             mut AS (SELECT vec_id AS id,
                       CASE WHEN vec_id % 7 = 0
                            THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
                     FROM embeddings),
             aff AS (SELECT m.id, a.cid,
                       row_number() OVER (PARTITION BY m.id
                         ORDER BY ${cosSql("m.embedding", "a.avec")}
                           DESC, a.cid) AS rn
                     FROM mut m, anchors a),
             cassign AS (SELECT id AS neighbor_id, cid FROM aff
                         WHERE rn <= 1),
             qassign AS (SELECT id AS query_id, cid FROM aff
                         WHERE id >= 100 AND id < 110 AND rn <= 8),
             capped AS (SELECT neighbor_id, cid,
                          row_number() OVER (PARTITION BY cid
                            ORDER BY neighbor_id) AS crn
                        FROM cassign),
             cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                      FROM qassign q JOIN capped c ON q.cid = c.cid
                      WHERE c.crn <= 1000
                        AND q.query_id != c.neighbor_id),
             scored AS (SELECT query_id, neighbor_id,
                          ${cosSql("mq.embedding", "mc.embedding")} AS cos
                        FROM cand
                        JOIN mut mq ON mq.id = cand.query_id
                        JOIN mut mc ON mc.id = cand.neighbor_id),
             ranked AS (SELECT *, row_number() OVER (
                          PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rank
                        FROM scored)
             SELECT query_id, rank, neighbor_id
             FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** One unrolled Lloyd iteration as SQL: `prev` (cid, pos, v) long
    * centroids → ordered list rebuild → the ss3-pinned affinity
    * (cos DESC, cid) assignment → the ss7 ordered (cell, pos) window
    * fold → keep-previous for empty cells. Emits CTEs suffixed `$i`;
    * the final one is `c$i`. */
  private def lloydIterSql(i: Int, prev: String): String = {
    def dot(a: String, b: String, n: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(
            generate_series(1, $n), j -> $a * $b)), (x, y) -> x + y)"""
    s"""cv$i AS (SELECT cid, list(v ORDER BY pos) AS cv FROM $prev
                 GROUP BY cid),
        aff$i AS (SELECT e.vec_id AS id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              (${dot("e.embedding[j]::DOUBLE", "c.cv[j]", "len(e.embedding)")} /
               sqrt(${dot("e.embedding[j]::DOUBLE", "e.embedding[j]::DOUBLE",
                 "len(e.embedding)")} *
                 ${dot("c.cv[j]", "c.cv[j]", "len(c.cv)")})) DESC,
              c.cid) AS rn
          FROM embeddings e, cv$i c),
        cas$i AS (SELECT id, cid FROM aff$i WHERE rn <= 1),
        ex$i AS (SELECT c.cid, m.vec_id,
              unnest(list_transform(generate_series(1, len(m.embedding)),
                j -> {'pos': j - 1, 'v': m.embedding[j]::DOUBLE})) AS u
            FROM cas$i c JOIN embeddings m ON m.vec_id = c.id),
        x$i AS (SELECT cid, vec_id, u.pos AS pos, u.v AS v FROM ex$i),
        r$i AS (SELECT cid, pos, vec_id, count(*) OVER w AS n,
              sum(v) OVER w AS s,
              row_number() OVER (PARTITION BY cid, pos
                ORDER BY vec_id DESC) AS rn2
            FROM x$i
            WINDOW w AS (PARTITION BY cid, pos ORDER BY vec_id
                         ROWS UNBOUNDED PRECEDING)),
        f$i AS (SELECT cid, pos, s / n AS v FROM r$i WHERE rn2 = 1),
        c$i AS (SELECT p.cid, p.pos, coalesce(f.v, p.v) AS v
            FROM $prev p LEFT JOIN f$i f
              ON f.cid = p.cid AND f.pos = p.pos)"""
  }

  /** SS18: distributed k-means TO CONVERGENCE ([[Ivf.kmeansTrain]])
    * — ss7 gated one Lloyd step; this gates the production LOOP
    * (iterate assignment∘update with staged leaves, the PageRank/CC
    * discipline, centroids a frame end to end — [[Ivf.lloydRefine]]'s
    * corpus-scale twin). Two ordered-fold rounds from the
    * deterministic sample init; the oracle unrolls BOTH rounds from
    * one generated iteration body, so every intermediate — the
    * round-2 assignment against COMPUTED double centroids included —
    * is pinned bit-exactly. (The distortion-stopped mode is
    * spec-gated: the stop count is float-dependent, which is exactly
    * why the gate pins the fixed-round contract.) */
  private val ss18 = QueryDef(
    "ss18_kmeans_converged",
    "two staged Lloyd rounds ≡ unrolled assignment∘update recurrence",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val cent = Ivf.kmeansTrain(e, "id", "embedding",
        numCentroids = 32, maxIters = 2, ordered = true).centroids
      cent.select(col("cid").as("centroid_id"),
          posexplode(col("cvec")).as(Seq("pos", "c")))
        .select(col("centroid_id"), col("pos"),
          round(col("c"), 6).as("centroid_r"))
        .orderBy("centroid_id", "pos")
    },
    Some(s"""WITH c0 AS (SELECT vec_id AS cid, u.pos AS pos, u.v AS v
              FROM (SELECT vec_id,
                      unnest(list_transform(
                        generate_series(1, len(embedding)),
                        i -> {'pos': i - 1, 'v': embedding[i]::DOUBLE}))
                        AS u
                    FROM (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT 32))),
            ${lloydIterSql(1, "c0")},
            ${lloydIterSql(2, "c1")}
            SELECT cid AS centroid_id, pos, round(v, 6) AS centroid_r
            FROM c2 ORDER BY centroid_id, pos"""))

  /** SS19: TRAINED-codebook IVF probe
    * ([[Ivf.kmeansTrain]] → [[SimilaritySearch.ivfIndexFramesWith]]
    * → [[SimilaritySearch.probeStoredIvf]]) — the production vector
    * path composed end to end: two ordered Lloyd rounds train the
    * codebook (ss18's recurrence verbatim), the corpus indexes
    * against the TRAINED geometry, a later query batch probes it.
    * The oracle chains ss18's unrolled training into ss9's probe
    * shape — what this gate pins beyond its parents is the SEAM:
    * assignment of float corpus vectors against computed double
    * centroids on both the index and the query side, with the
    * per-cell cap over the trained cells. */
  private val ss19 = QueryDef(
    "ss19_trained_ivf_probe",
    "Lloyd-trained codebook → IVF index → query-batch probe",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val cent = Ivf.kmeansTrain(e, "id", "embedding",
        numCentroids = 32, maxIters = 2, ordered = true).centroids
      val members = SimilaritySearch.ivfIndexFramesWith(e, "id",
        "embedding", cent, cellCap = 1000)
      SimilaritySearch.probeStoredIvf(
        e.filter(col("id") >= 200 && col("id") < 210), e,
        "id", "embedding", cent, members, k = 5, probes = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some {
      def dot(a: String, b: String, n: String): String =
        s"""list_reduce(list_prepend(0.0, list_transform(
              generate_series(1, $n), j -> $a * $b)), (x, y) -> x + y)"""
      val cosToCent =
        s"""(${dot("e.embedding[j]::DOUBLE", "c.cv[j]", "len(e.embedding)")} /
             sqrt(${dot("e.embedding[j]::DOUBLE", "e.embedding[j]::DOUBLE",
               "len(e.embedding)")} *
               ${dot("c.cv[j]", "c.cv[j]", "len(c.cv)")}))"""
      s"""WITH c0 AS (SELECT vec_id AS cid, u.pos AS pos, u.v AS v
              FROM (SELECT vec_id,
                      unnest(list_transform(
                        generate_series(1, len(embedding)),
                        i -> {'pos': i - 1, 'v': embedding[i]::DOUBLE}))
                        AS u
                    FROM (SELECT vec_id, embedding FROM embeddings
                          ORDER BY vec_id LIMIT 32))),
            ${lloydIterSql(1, "c0")},
            ${lloydIterSql(2, "c1")},
            tcv AS (SELECT cid, list(v ORDER BY pos) AS cv FROM c2
                    GROUP BY cid),
            aff AS (SELECT e.vec_id AS id, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY $cosToCent DESC, c.cid) AS rn
                    FROM embeddings e, tcv c),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id >= 200 AND id < 210 AND rn <= 8),
            capped AS (SELECT neighbor_id, cid,
                         row_number() OVER (PARTITION BY cid
                           ORDER BY neighbor_id) AS crn
                       FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                     FROM qassign q JOIN capped c ON q.cid = c.cid
                     WHERE c.crn <= 1000
                       AND q.query_id != c.neighbor_id),
            scored AS (SELECT query_id, neighbor_id,
                         ${cosSql("eq.embedding", "ec.embedding")} AS cos
                       FROM cand
                       JOIN embeddings eq ON eq.vec_id = cand.query_id
                       JOIN embeddings ec ON ec.vec_id = cand.neighbor_id),
            ranked AS (SELECT *, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM scored)
            SELECT query_id, rank, neighbor_id
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    })

  /** SS20: MUTABLE stored-PQ probe after a tombstone reindex
    * ([[SimilaritySearch.pqBuildIndexStored]] →
    * [[SimilaritySearch.pqReindexVectors]] →
    * [[SimilaritySearch.pqTopKStored]]) — ss17's log-structured
    * mutation discipline applied to the DEPLOYMENT index (PQ codes
    * are the only corpus representation that shuffles at 100 TB):
    * every 7th embedding is replaced (reversed — a pure permutation),
    * the delta RE-ENCODES against the build-time codebook under a
    * bumped generation with tombstones marking the old codes dead
    * (one store group: the probe reads the marker's snapshot, and the
    * geometry comes from the stored codebook),
    * and the probe must equal a from-scratch encode of the mutated
    * corpus against the SAME frozen codebook (the codebook-drift
    * contract: reindexing never retrains; retraining is a rebuild).
    * The oracle is that re-encode twin: ss10's code chain with the
    * codebook sampled from the ORIGINAL embeddings and the encode
    * pass run over the mutated view, ADC tail unchanged. `dist`
    * compares BIT-exactly (the ss10 +,−,× pinned-fold discipline). */
  private val ss20 = QueryDef(
    "ss20_pq_reindex_probe",
    "stored-PQ probe after vector reindex ≡ re-encode over mutated corpus",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val root = graft.ops.Scratch.tempDir("graft-ss20-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store,
        m = 8, ks = 16, dim = 64)
      SimilaritySearch.pqReindexVectors(
        e.filter(col("id") % 7 === 0)
          .select(col("id"), reverse(col("embedding")).as("embedding")),
        "id", "embedding", store)
      val mutatedQ = e.filter(col("id") < 10)
        .select(col("id"),
          when(col("id") % 7 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      SimilaritySearch.pqTopKStored(mutatedQ, "id", "embedding", store,
        k = 5)
        .orderBy("query_id", "rank")
    },
    Some(pqCodesCtesOver("mut", "id",
      """mut AS (SELECT vec_id AS id,
                   CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
                 FROM embeddings),""") + pqAdcTail + """
            SELECT query_id, rank, neighbor_id, dist
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** SS21: THE DEPLOYMENT PROBE, stored + mutable end to end
    * ([[SimilaritySearch.ivfPqTopKStored]]) — ss13's production index
    * shape (IVF cells prune, PQ codes rank) with BOTH index families
    * in the store and BOTH mutated: the same delta (every 7th vector
    * reversed) folds through [[SimilaritySearch.ivfReindexVectors]]
    * AND [[SimilaritySearch.pqReindexVectors]] independently, then
    * [[SimilaritySearch.ivfPqPairPin]] commits the pair marker naming
    * all six member versions, and a query batch probes that one
    * snapshot through touched-cell bucket reads + live
    * per-cell cap + ADC over the live stored codes — NO raw corpus
    * vector is read anywhere (the index pair IS the corpus). The
    * oracle composes the two mutation oracles: ss17's cell chain
    * (original anchors, mutated assignments) and ss20's code chain
    * (original sub-codebooks, mutated encodes), ADC'd over exactly
    * the candidate pairs; `dist` compares BIT-exactly. */
  private val ss21 = QueryDef(
    "ss21_ivfpq_stored_probe",
    "stored IVF cells + stored PQ codes, both mutated: probe ≡ rebuild",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val root = graft.ops.Scratch.tempDir("graft-ss21-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
        numCentroids = 32)
      SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store,
        m = 8, ks = 16, dim = 64)
      val delta = e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding"))
      SimilaritySearch.ivfPqPairPin(s, store)
      SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
      SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
      SimilaritySearch.ivfPqPairPin(s, store)
      val queries = e.filter(col("id") < 10)
        .select(col("id"),
          when(col("id") % 7 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      SimilaritySearch.ivfPqTopKStored(queries, "id", "embedding",
        store, k = 5, probes = 4, cellCap = 1000)
        .orderBy("query_id", "rank")
    },
    Some(pqCodesCtesOver("mut", "id",
      """mut AS (SELECT vec_id AS id,
                   CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
                 FROM embeddings),""") + s""",
            anchors AS (SELECT vec_id AS cid, embedding AS avec
                        FROM embeddings ORDER BY vec_id LIMIT 32),
            aff AS (SELECT m.id, a.cid,
                row_number() OVER (PARTITION BY m.id
                  ORDER BY ${cosSql("m.embedding", "a.avec")} DESC,
                    a.cid) AS rn
              FROM mut m, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id < 10 AND rn <= 4),
            cappedv AS (SELECT neighbor_id, cid,
                row_number() OVER (PARTITION BY cid
                  ORDER BY neighbor_id) AS crn
              FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
              FROM qassign q JOIN cappedv c ON q.cid = c.cid
              WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            paird AS (SELECT cand.query_id, cand.neighbor_id,
                cd.j, q.dist
              FROM cand
              JOIN codes cd ON cd.id = cand.neighbor_id
              JOIN encd q ON q.id = cand.query_id AND q.j = cd.j
                AND q.c = cd.code),
            summed AS (SELECT query_id, neighbor_id,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list(dist ORDER BY j)), (x, y) -> x + y) AS dist
              FROM paird GROUP BY query_id, neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rank
              FROM summed)
            SELECT query_id, rank, neighbor_id, dist
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** SS23: SHORTLIST-AND-RERANK OVER THE STORED PAIR
    * ([[SimilaritySearch.ivfPqRerankTopKStored]]) — the production
    * ANSWER shape, promoted from ss22's spec-only property to a
    * bit-exact gate: ss22 measured that raw ADC recall is NOT
    * probe-monotonic (more probes admit more ADC impostors), so what
    * a deployment actually serves is a deep ADC shortlist from codes
    * alone re-ranked by exact cosine over ONLY the |Q|·shortlist
    * re-attached raw vectors. Same mutated stored pair as ss21/ss22;
    * the oracle unrolls the full chain — IVF cells (original
    * anchors, mutated assignments) → ADC (stored codes) → 20-deep
    * shortlist → exact-cosine rerank — and `cos` compares at 6
    * decimals (the ss16 rounding discipline). Runs on the EVEN-id
    * half corpus (the st11 cost discipline): the marginal claim is
    * the rerank SEAM on top of the stored pair, and the pair's
    * full-mass build cost is already priced by ss21/ss22 — re-paying
    * it here would double-charge the battery for a pinned claim. */
  private val ss23 = QueryDef(
    "ss23_ivfpq_rerank_stored",
    "stored-pair ADC shortlist + exact cosine rerank ≡ unrolled oracle",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
        .filter(col("id") % 2 === 0)
      val root = graft.ops.Scratch.tempDir("graft-ss23-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
        numCentroids = 32)
      SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store,
        m = 8, ks = 16, dim = 64)
      SimilaritySearch.ivfPqPairPin(s, store)
      val delta = e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding"))
      SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
      SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
      SimilaritySearch.ivfPqPairPin(s, store)
      val mut = e.select(col("id"),
        when(col("id") % 7 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val queries = mut.filter(col("id") < 10)
      SimilaritySearch.ivfPqRerankTopKStored(queries, mut, "id",
        "embedding", store, k = 5, shortlist = 20, probes = 8,
        cellCap = 1000)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy("query_id", "rank")
    },
    Some(pqCodesCtesOver("mut", "id",
      """mut AS (SELECT vec_id AS id,
                   CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
                 FROM embeddings WHERE vec_id % 2 = 0),""",
      cbWhere = "WHERE vec_id % 2 = 0") + s""",
            anchors AS (SELECT vec_id AS cid, embedding AS avec
                        FROM embeddings WHERE vec_id % 2 = 0
                        ORDER BY vec_id LIMIT 32),
            aff AS (SELECT m.id, a.cid,
                row_number() OVER (PARTITION BY m.id
                  ORDER BY ${cosSql("m.embedding", "a.avec")} DESC,
                    a.cid) AS rn
              FROM mut m, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id < 10 AND rn <= 8),
            cappedv AS (SELECT neighbor_id, cid,
                row_number() OVER (PARTITION BY cid
                  ORDER BY neighbor_id) AS crn
              FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
              FROM qassign q JOIN cappedv c ON q.cid = c.cid
              WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            paird AS (SELECT cand.query_id, cand.neighbor_id,
                cd.j, q.dist
              FROM cand
              JOIN codes cd ON cd.id = cand.neighbor_id
              JOIN encd q ON q.id = cand.query_id AND q.j = cd.j
                AND q.c = cd.code),
            summed AS (SELECT query_id, neighbor_id,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list(dist ORDER BY j)), (x, y) -> x + y) AS dist
              FROM paird GROUP BY query_id, neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rank
              FROM summed),
            short AS (SELECT query_id, neighbor_id FROM ranked
                      WHERE rank <= 20),
            rer AS (SELECT s.query_id, s.neighbor_id,
                      ${cosSql("q.embedding", "c.embedding")} AS cos
                    FROM short s
                    JOIN mut q ON q.id = s.query_id
                    JOIN mut c ON c.id = s.neighbor_id),
            rranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
              FROM rer)
            SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_r
            FROM rranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** SS22: RECALL OF THE DEPLOYMENT INDEX — ss21 pins the stored
    * mutated IVF-PQ pair EXACT against a from-scratch re-encode, but
    * exactness-vs-re-encode says nothing about retrieval QUALITY: a
    * degenerate geometry (starved probes, collapsed codebook) would
    * still match its own re-encode while recalling nothing. This
    * gate scores the stored pair's recall@10 against raw-vector
    * brute force over the SAME mutated corpus
    * ([[SimilaritySearch.recallAtK]] — per-query hits, fully
    * deterministic because ADC and cosine tie-break on id). The
    * oracle recomputes both sides: the ss21 stored-pair chain at
    * probes=8/k=10 and the exact cosine top-10, then counts the
    * overlap. The ≥-band floor is spec-pinned (PipelineSpec); the ×10
    * scale behavior (recall 31/100 → 67/100 at ×1 → ×10) is recorded in
    * PLANS.md "Stored-pair recall". */
  private val ss22 = QueryDef(
    "ss22_ivfpq_stored_recall",
    "recall@10 of the mutated stored IVF-PQ pair vs brute force",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val root = graft.ops.Scratch.tempDir("graft-ss22-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
        numCentroids = 32)
      SimilaritySearch.pqBuildIndexStored(e, "id", "embedding", store,
        m = 8, ks = 16, dim = 64)
      SimilaritySearch.ivfPqPairPin(s, store)
      val delta = e.filter(col("id") % 7 === 0)
        .select(col("id"), reverse(col("embedding")).as("embedding"))
      SimilaritySearch.ivfReindexVectors(delta, "id", "embedding", store)
      SimilaritySearch.pqReindexVectors(delta, "id", "embedding", store)
      SimilaritySearch.ivfPqPairPin(s, store)
      val mut = e.select(col("id"),
        when(col("id") % 7 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val queries = mut.filter(col("id") < 10)
      val approx = SimilaritySearch.ivfPqTopKStored(queries, "id",
        "embedding", store, k = 10, probes = 8, cellCap = 1000)
      val exact = SimilaritySearch.bruteForceTopK(queries, mut, "id",
        "embedding", k = 10)
      SimilaritySearch.recallAtK(exact, approx, k = 10)
        .orderBy("query_id")
    },
    Some(pqCodesCtesOver("mut", "id",
      """mut AS (SELECT vec_id AS id,
                   CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
                 FROM embeddings),""") + s""",
            anchors AS (SELECT vec_id AS cid, embedding AS avec
                        FROM embeddings ORDER BY vec_id LIMIT 32),
            aff AS (SELECT m.id, a.cid,
                row_number() OVER (PARTITION BY m.id
                  ORDER BY ${cosSql("m.embedding", "a.avec")} DESC,
                    a.cid) AS rn
              FROM mut m, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id < 10 AND rn <= 8),
            cappedv AS (SELECT neighbor_id, cid,
                row_number() OVER (PARTITION BY cid
                  ORDER BY neighbor_id) AS crn
              FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
              FROM qassign q JOIN cappedv c ON q.cid = c.cid
              WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            paird AS (SELECT cand.query_id, cand.neighbor_id,
                cd.j, q.dist
              FROM cand
              JOIN codes cd ON cd.id = cand.neighbor_id
              JOIN encd q ON q.id = cand.query_id AND q.j = cd.j
                AND q.c = cd.code),
            summed AS (SELECT query_id, neighbor_id,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list(dist ORDER BY j)), (x, y) -> x + y) AS dist
              FROM paird GROUP BY query_id, neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rank
              FROM summed),
            approx AS (SELECT query_id, neighbor_id FROM ranked
                       WHERE rank <= 10),
            exscored AS (SELECT q.id AS query_id, c.id AS neighbor_id,
                ${cosSql("q.embedding", "c.embedding")} AS cos
              FROM mut q, mut c WHERE q.id < 10 AND q.id != c.id),
            exranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rnk
              FROM exscored),
            exact AS (SELECT query_id, neighbor_id FROM exranked
                      WHERE rnk <= 10)
            SELECT e.query_id, count(a.neighbor_id)::BIGINT AS hits,
              10 AS k
            FROM exact e LEFT JOIN approx a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY e.query_id ORDER BY e.query_id"""))

  /** SS24: HYBRID RECALL CANARY OVER MUTATED STORED INDEXES — ss14
    * gated RRF fusion over fresh rankings and ts28/ss17 pinned each
    * stored leg exact after mutation, but nothing gated the COMPOSED
    * retrieval surface a deployment actually serves: BM25 postings
    * after a tombstone reindex + compaction, fused with the stored
    * IVF index after a vector reindex. The gate mutates every 7th
    * doc (ts28's head-word drop) and every 7th embedding (ss17's
    * reversal), folds both deltas through the stored mutation paths,
    * fuses the two stored top-20s ([[SimilaritySearch.rrfFuse]]),
    * and pins the fused list BIT-EXACT against the SQL oracle
    * (mutated bm25 chain + original-anchor mutated-assignment IVF
    * chain + the ss14 fusion tail). The RETRIEVAL-QUALITY canary
    * rides in-gate: the same stored fusion must overlap the gold
    * fusion (from-scratch BM25 + brute-force cosine over the mutated
    * corpus) on ≥ 7 of its top 10 — a degenerate post-mutation index
    * (starved probes, poisoned postings) passes exactness against
    * its own chain but reds here. The ×10 growth row (7/10 → 10/10)
    * is recorded in PLANS.md "Round-15 summary". */
  private val ss24 = QueryDef(
    "ss24_hybrid_recall_stored",
    "RRF over mutated stored BM25+IVF ≡ SQL fusion; recall band vs gold",
    (s, dir) => {
      // id%4 quarter corpus (the st11/ss23 cost discipline): the
      // marginal claims are the fusion seam and the recall band,
      // corpus-size independent; ts28/ss17/ss22 price the legs at
      // full mass
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 4 === 0)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
        .filter(col("id") % 4 === 0)
      val root = graft.ops.Scratch.tempDir("graft-ss24-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      // lexical leg: build → reindex the mutated docs → compact
      TextAnalysis.bm25BuildIndex(docs, "doc_id", "text", store)
      TextAnalysis.bm25ReindexDocs(
        docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text")),
        "doc_id", "text", store)
      TextAnalysis.bm25CompactIndex(s, store)
      // vector leg: build → reindex the mutated embeddings
      SimilaritySearch.ivfBuildIndexStored(e, "id", "embedding", store,
        numCentroids = 32)
      SimilaritySearch.ivfReindexVectors(
        e.filter(col("id") % 7 === 0)
          .select(col("id"), reverse(col("embedding")).as("embedding")),
        "id", "embedding", store)
      val mutEmb = e.select(col("id"),
        when(col("id") % 7 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val q = mutEmb.filter(col("id") === 0)
      val bmStored = TextAnalysis.bm25TopKStored(s, store,
        query = Seq("sort", "window", "stream"), k = 20)
        .select(col("id"), col("rank"))
      val annStored = SimilaritySearch.ivfTopKStored(q, mutEmb, "id",
        "embedding", store, k = 20, probes = 16, cellCap = 1000)
        .select(col("neighbor_id").as("id"), col("rank"))
      val fusedStored =
        SimilaritySearch.rrfFuse(Seq(bmStored, annStored), k = 10)
      // the canary: gold fusion = from-scratch BM25 over the mutated
      // corpus + brute-force cosine — band-pinned overlap
      val mutDocs = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          regexp_replace(col("text"), "^\\S+\\s+", ""))
          .otherwise(col("text")).as("text"))
      val bmGold = TextAnalysis.bm25TopK(mutDocs, "doc_id", "text",
        query = Seq("sort", "window", "stream"), k = 20)
        .select(col("id"), col("rank"))
      val annGold = SimilaritySearch.bruteForceTopK(q, mutEmb, "id",
        "embedding", k = 20)
        .select(col("neighbor_id").as("id"), col("rank"))
      val fusedGold =
        SimilaritySearch.rrfFuse(Seq(bmGold, annGold), k = 10)
      val hits = fusedStored.select("id")
        .join(fusedGold.select("id"), "id").count()
      require(hits >= 7,
        s"ss24: post-mutation hybrid recall@10 = $hits/10 vs the gold " +
          "fusion — below the band; the mutated stored pair degraded")
      fusedStored.orderBy("rank")
    },
    Some(s"""WITH mutated AS (SELECT doc_id,
              CASE WHEN doc_id % 7 = 0
                   THEN regexp_replace(text, '^\\S+\\s+', '')
                   ELSE text END AS text
            FROM documents WHERE doc_id % 4 = 0),
            ${bm25ChainSql(Seq("sort", "window", "stream"), "mutated")},
            anchors AS (SELECT vec_id AS cid, embedding AS avec
                        FROM embeddings WHERE vec_id % 4 = 0
                        ORDER BY vec_id LIMIT 32),
            mut AS (SELECT vec_id AS id,
                      CASE WHEN vec_id % 7 = 0
                           THEN list_reverse(embedding)
                           ELSE embedding END AS embedding
                    FROM embeddings WHERE vec_id % 4 = 0),
            aff AS (SELECT m.id, a.cid,
                      row_number() OVER (PARTITION BY m.id
                        ORDER BY ${cosSql("m.embedding", "a.avec")}
                          DESC, a.cid) AS rn
                    FROM mut m, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id = 0 AND rn <= 16),
            capped AS (SELECT neighbor_id, cid,
                         row_number() OVER (PARTITION BY cid
                           ORDER BY neighbor_id) AS crn
                       FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                     FROM qassign q JOIN capped c ON q.cid = c.cid
                     WHERE c.crn <= 1000
                       AND q.query_id != c.neighbor_id),
            anscored AS (SELECT cand.neighbor_id AS id,
                           ${cosSql("mq.embedding", "mc.embedding")} AS cos
                         FROM cand
                         JOIN mut mq ON mq.id = cand.query_id
                         JOIN mut mc ON mc.id = cand.neighbor_id),
            anranked AS (SELECT id, row_number() OVER
                (ORDER BY cos DESC, id) AS rank FROM anscored),
            b20 AS (SELECT id, rank FROM bmranked WHERE rank <= 20),
            a20 AS (SELECT id, rank FROM anranked WHERE rank <= 20),
            fused AS (SELECT coalesce(b.id, a.id) AS id,
                coalesce(1.0 / (60.0 + b.rank::DOUBLE), 0.0) +
                coalesce(1.0 / (60.0 + a.rank::DOUBLE), 0.0) AS score
              FROM b20 b FULL OUTER JOIN a20 a ON b.id = a.id),
            franked AS (SELECT id, score, row_number() OVER
                (ORDER BY score DESC, id) AS rank FROM fused)
            SELECT rank, id, round(score, 6) AS score_r
            FROM franked WHERE rank <= 10 ORDER BY rank"""))

  private val ss14 = QueryDef(
    "ss14_hybrid_rrf",
    "hybrid BM25 + embedding retrieval, reciprocal-rank fused",
    (s, dir) => {
      val bm = TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id",
        "text", query = Seq("hash", "join", "vector"), k = 20)
        .select(col("id"), col("rank"))
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val ann = SimilaritySearch.bruteForceTopK(e.filter(col("id") === 0),
        e, "id", "embedding", k = 20)
        .select(col("neighbor_id").as("id"), col("rank"))
      SimilaritySearch.rrfFuse(Seq(bm, ann), k = 10).orderBy("rank")
    },
    Some(s"""WITH ${bm25ChainSql()},
            anq AS (SELECT embedding AS qv FROM embeddings
                    WHERE vec_id = 0),
            anscored AS (SELECT e.vec_id AS id,
                           ${cosSql("qv", "e.embedding")} AS cos
                         FROM embeddings e, anq WHERE e.vec_id != 0),
            anranked AS (SELECT id, row_number() OVER
                (ORDER BY cos DESC, id) AS rank FROM anscored),
            b20 AS (SELECT id, rank FROM bmranked WHERE rank <= 20),
            a20 AS (SELECT id, rank FROM anranked WHERE rank <= 20),
            fused AS (SELECT coalesce(b.id, a.id) AS id,
                coalesce(1.0 / (60.0 + b.rank::DOUBLE), 0.0) +
                coalesce(1.0 / (60.0 + a.rank::DOUBLE), 0.0) AS score
              FROM b20 b FULL OUTER JOIN a20 a ON b.id = a.id),
            franked AS (SELECT id, score, row_number() OVER
                (ORDER BY score DESC, id) AS rank FROM fused)
            SELECT rank, id, round(score, 6) AS score_r
            FROM franked WHERE rank <= 10 ORDER BY rank"""))

  /** The ss15 MMR oracle, GENERATED per iteration (the bpe-oracle
    * discipline): candidates = the ss1 chain's per-query top-20
    * carrying vectors, then k unrolled greedy steps — each scores
    * every unselected candidate `λ·rel − (1−λ)·max_sim_to_selected`
    * (constants as `::DOUBLE` so DuckDB's decimal literals can't
    * sneak an exact 0.3 where the engine computes 1.0−0.7 in IEEE —
    * the g1 literal discipline) and takes the per-query
    * (score desc, id) argmax. */
  private def mmrOracleSql(k: Int): String = {
    val lam = "0.7::DOUBLE"
    val oneMinus = "(1.0::DOUBLE - 0.7::DOUBLE)"
    val base = s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 3),
                 c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                       FROM embeddings),
            scored AS (SELECT query_id, neighbor_id, cv,
                         ${cosSql("qv", "cv")} AS cos
                       FROM q, c WHERE query_id != neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
                       FROM scored),
            c0 AS (SELECT query_id, neighbor_id AS id, cos AS rel, cv AS v
                   FROM ranked WHERE rank <= 20),
            p1 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY ($lam * rel - $oneMinus * 0.0::DOUBLE) DESC,
                       id) AS rn
                   FROM c0),
            s1 AS (SELECT query_id, 1 AS mmr_rank, id,
                     ($lam * rel - $oneMinus * 0.0::DOUBLE) AS score, v
                   FROM p1 WHERE rn = 1)"""
    val iters = (2 to k).map { i =>
      val sel = s"selu${i - 1}"
      val selUnion = (1 until i)
        .map(j => s"SELECT query_id, id, v FROM s$j")
        .mkString(" UNION ALL ")
      s"""$sel AS ($selUnion),
            m$i AS (SELECT c.query_id, c.id, c.rel, c.v,
                      ($lam * c.rel - $oneMinus *
                        max(${cosSql("c.v", "s.v")})) AS score
                    FROM c0 c JOIN $sel s ON c.query_id = s.query_id
                    WHERE NOT EXISTS (SELECT 1 FROM $sel sx
                      WHERE sx.query_id = c.query_id AND sx.id = c.id)
                    GROUP BY c.query_id, c.id, c.rel, c.v),
            p$i AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, id) AS rn FROM m$i),
            s$i AS (SELECT query_id, $i AS mmr_rank, id, score, v
                    FROM p$i WHERE rn = 1)"""
    }.mkString(",\n            ")
    val all = (1 to k)
      .map(j => s"SELECT query_id, mmr_rank, id, score FROM s$j")
      .mkString(" UNION ALL ")
    s"""$base,
            $iters,
            allsel AS ($all)
            SELECT query_id, mmr_rank, id AS neighbor_id,
                   round(score, 6) AS score_r
            FROM allsel ORDER BY query_id, mmr_rank"""
  }

  /** SS15: MMR-DIVERSIFIED retrieval
    * ([[SimilaritySearch.mmrRerank]]) — the anti-redundancy stage
    * completing the retrieval family (exact → ANN → hybrid →
    * diverse): greedy λ-tradeoff between relevance and similarity to
    * the already-selected set, per query. The engine's per-group
    * greedy and the generated unrolled SQL compute the same IEEE
    * doubles, so selection, order, AND scores hash-match. */
  private val ss15 = QueryDef(
    "ss15_mmr_rerank",
    "MMR-diversified top-5 from exact top-20 candidates",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val cand = SimilaritySearch.bruteForceTopK(e.filter(col("id") < 3),
        e, "id", "embedding", k = 20)
      SimilaritySearch.mmrRerank(cand, e, "id", "embedding", k = 5)
        .select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
          round(col("score"), 6).as("score_r"))
        .orderBy("query_id", "mmr_rank")
    },
    Some(mmrOracleSql(5)))

  /** TP7: the ROUND-8 curation composition — fuzzy decontamination
    * (dc3's apply) feeding SEMANTIC dedup (d19) as one verified
    * query: drop every training doc at LSH Jaccard ≥ 0.5 against the
    * eval set, then collapse the surviving docs' EMBEDDINGS (plus the
    * d5 perturbation twins of the survivors — the manufactured
    * semantic dups) to one representative per cosine component. The
    * oracle stands the whole chain up: two [[lshSideSql]] sides +
    * uncapped candidate rule (dc3, CTEs prefixed `dc`), the clean-id
    * semi-join, the shared [[ivfPairChainSql]] mine over the
    * restricted corpus, and the recursive-CC survivor filter (d19).
    * Composition cost at scale is the sum of the stages' — both
    * already individually disciplined. */
  private val tp7 = QueryDef(
    "tp7_curation_v4",
    "fuzzy-decontaminate then semantic-dedup, end to end",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val clean = Decontamination.dropFuzzyContaminated(docs, "doc_id",
        "text", benchDf(s, dir), "bench_id", "text",
        // fixed oracle-pin geometry, mirrored by the dc CTEs below
        numHashes = NumHashes, bands = Bands, threshold = 0.5)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
        .join(clean.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      val perturbed = e.filter(col("id") % 5 === 0)
        .select((col("id") + 10000).as("id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.25f)).cast("float")),
            slice(col("embedding"), 2, 63)).as("embedding"))
      Dedup.semanticDedup(e.unionByName(perturbed),
        "id", "embedding", numCentroids = 64, probes = 2, threshold = 0.9,
        cellCap = CatalogCap)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE
            docsrc AS (SELECT doc_id AS id, text FROM documents),
            benchsrc AS (SELECT doc_id + 50000 AS id,
                regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text
              FROM documents WHERE doc_id % 10 = 0),
            ${lshSideSql("d", "docsrc")},
            ${lshSideSql("b", "benchsrc")},
            dccand AS (SELECT DISTINCT d.id AS doc_id, n.id AS bench_id
                       FROM dbands d JOIN bbands n
                         ON d.b = n.b AND d.band_hash = n.band_hash),
            dcverif AS (SELECT doc_id, bench_id,
                          len(list_intersect(x.hs, y.hs))::DOUBLE /
                          len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE
                            AS jaccard
                        FROM dccand JOIN dhashed x ON x.id = dccand.doc_id
                                    JOIN bhashed y ON y.id = dccand.bench_id),
            cleanids AS (SELECT doc_id FROM documents
                         WHERE doc_id NOT IN
                           (SELECT DISTINCT doc_id FROM dcverif
                            WHERE jaccard >= 0.5)),
            corpus AS (
              SELECT e.vec_id AS id, e.embedding
              FROM embeddings e JOIN cleanids c ON e.vec_id = c.doc_id
              UNION ALL
              SELECT e.vec_id + 10000 AS id,
                list_concat([(e.embedding[1] + 0.25)::FLOAT],
                            e.embedding[2:64])
              FROM embeddings e JOIN cleanids c ON e.vec_id = c.doc_id
              WHERE e.vec_id % 5 = 0),
            $ivfPairChainSql,
            pairs AS (SELECT id_a, id_b FROM scored WHERE cos >= 0.9),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            cc(node, reach) AS (
              SELECT src, src FROM edges
              UNION
              SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
            labels AS (SELECT node, min(reach) AS rep FROM cc GROUP BY node)
            SELECT c.id, coalesce(l.rep, c.id) AS cluster_id
            FROM corpus c LEFT JOIN labels l ON l.node = c.id
            WHERE coalesce(l.rep, c.id) = c.id ORDER BY c.id"""))

  /** TS16: heavy-hitter tokens with a count-min error-band canary
    * ([[Sketches.cmsHeavyHitters]]) — the third sketch discipline
    * (after a7b's HLL cardinality and a8b's approximate quantiles):
    * frequency estimation from ONE constant-state combinable pass.
    * The exact top-20 side is the oracle-checkable truth (and at
    * 100 TB the expensive one); the boolean pins each sketch
    * estimate inside its published guarantee (exact ≤ est ≤ exact +
    * eps·N), so a seed/merge/width regression turns the row red
    * instead of hiding in an approximation. */
  private val ts16 = QueryDef(
    "ts16_heavy_hitters_sketch",
    "top-20 tokens with count-min frequency band canary",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("item"))
        .filter(col("item") =!= "")
      Sketches.cmsHeavyHitters(toks, "item", k = 20)
    },
    Some("""WITH toks AS (SELECT unnest(
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\s+') END) AS item
              FROM documents),
            counts AS (SELECT item, count(*)::BIGINT AS exact_n
                       FROM toks GROUP BY item)
            SELECT item, exact_n, true AS within_band
            FROM counts ORDER BY exact_n DESC, item LIMIT 20"""))

  /** TS17: BM25 ranked retrieval ([[TextAnalysis.bm25TopK]]) — the
    * global top-10 documents for a 3-term query. Fully replicable:
    * integer tf/dl/df/N feed a shared operator tree (constants
    * combined IN ENGINE on both sides — `(1.2 + 1.0)` is an engine
    * addition in both, the g1 literal discipline) and the per-doc
    * score folds its term contributions in TERM order, so every
    * ranking compare is over bit-identical doubles. */
  /** The ts17 BM25 oracle chain over `documents`, CTEs prefixed `bm`
    * so the hybrid-fusion oracle (ss14) can stand it up next to the
    * ANN side: tokenize → dl/N/avgdl/df stats → per-term contribution
    * (constants combined in-engine, the g1 literal discipline) →
    * term-ordered fold → `bmranked(id, score, rank)`. `terms`
    * parameterizes the query bag (ts21 probes the stored index with
    * a different query than ts17's from-scratch run). */
  private def bm25ChainSql(
      terms: Seq[String] = Seq("hash", "join", "vector"),
      corpus: String = "documents"): String =
    s"""bmtoks AS (SELECT doc_id AS id,
              unnest(CASE WHEN length(trim(lower(text))) = 0
                     THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                     END) AS term
              FROM $corpus),
            bmdl AS (SELECT id, count(*)::BIGINT AS dl FROM bmtoks
                     GROUP BY id),
            bmstats AS (SELECT count(*)::BIGINT AS n,
                               sum(dl)::BIGINT AS total_dl FROM bmdl),
            bmtf AS (SELECT id, term, count(*)::BIGINT AS tf FROM bmtoks
                     WHERE term IN (${terms.map("'" + _ + "'").mkString(", ")})
                     GROUP BY id, term),
            bmdfreq AS (SELECT term, count(*)::BIGINT AS df FROM bmtf
                        GROUP BY term),
            bmcontrib AS (SELECT bmtf.id, bmtf.term,
                ln(1.0 + (n::DOUBLE - df::DOUBLE + 0.5) /
                         (df::DOUBLE + 0.5)) *
                  (tf::DOUBLE * (1.2 + 1.0)) /
                  (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE /
                    (total_dl::DOUBLE / n::DOUBLE))) AS c
              FROM bmtf JOIN bmdl USING (id) JOIN bmdfreq USING (term)
              CROSS JOIN bmstats),
            bmscored AS (SELECT id,
                list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
                  (x, y) -> x + y) AS score
              FROM bmcontrib GROUP BY id),
            bmranked AS (SELECT *, row_number() OVER
                (ORDER BY score DESC, id) AS rank FROM bmscored)"""

  private val ts17 = QueryDef(
    "ts17_bm25_topk",
    "BM25 top-10 documents for a bag-of-words query",
    (s, dir) => TextAnalysis.bm25TopK(
      Tables.documents(s, dir), "doc_id", "text",
      query = Seq("hash", "join", "vector"), k = 10)
      .orderBy("rank"),
    Some(s"""WITH ${bm25ChainSql()}
            SELECT rank, id, round(score, 6) AS score_r
            FROM bmranked WHERE rank <= 10 ORDER BY rank"""))

  /** TS22: INTRA-DOC LINE DEDUP ([[TextAnalysis.dedupLinesWithin]])
    * — the Gopher/C4 repetition-removal TRANSFORM: keep the first
    * occurrence of each distinct line, order preserved. The gate
    * manufactures a 5-line page per doc with two planted repeats
    * (lines 3 and 4 duplicate lines 2 and 1); the oracle re-derives
    * the dedup POSITIONALLY (min-index per distinct line,
    * position-ordered string_agg) rather than asserting the expected
    * string, so the first-occurrence-order contract itself is what's
    * checked. n_removed rides along so a silent no-op cannot pass. */
  private val ts22 = QueryDef(
    "ts22_dedup_lines_within",
    "first-occurrence line dedup inside each doc (order preserved)",
    (s, dir) => {
      val paged = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n", col("text"),
          substring(col("text"), 1, 15), substring(col("text"), 1, 15),
          col("text"), concat(lit("tail "), col("doc_id"))).as("text"))
      TextAnalysis.dedupLinesWithin(paged, "doc_id", "text")
        .select(col("id").as("doc_id"), col("clean"), col("n_removed"))
        .orderBy("doc_id")
    },
    Some("""WITH src AS (SELECT doc_id,
              text || chr(10) || substr(text, 1, 15) || chr(10) ||
                substr(text, 1, 15) || chr(10) || text || chr(10) ||
                'tail ' || doc_id AS t
              FROM documents),
            arr AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM src),
            lns AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(a)),
                        i -> {'i': i, 'l': a[i]})) AS s
                    FROM arr),
            ln AS (SELECT doc_id, s.i AS i, s.l AS l FROM lns),
            firsts AS (SELECT doc_id, l, min(i) AS fi FROM ln
                       GROUP BY doc_id, l),
            recon AS (SELECT doc_id,
                        string_agg(l, chr(10) ORDER BY fi) AS clean,
                        count(*) AS n_distinct
                      FROM firsts GROUP BY doc_id)
            SELECT a.doc_id, r.clean,
              (len(a.a) - r.n_distinct)::BIGINT AS n_removed
            FROM arr a JOIN recon r USING (doc_id)
            ORDER BY a.doc_id"""))

  /** TS23: CROSS-DOC BOILERPLATE LINE REMOVAL
    * ([[TextAnalysis.stripBoilerplateLines]]) — C4's line rule as
    * the apply step: a line in ≥ minDocs DISTINCT docs (cookie
    * banners, ad blocks — crawl furniture) is cut from EVERY doc,
    * survivors keep original order. The fixture plants a banner on
    * every page and an ad block on every 2nd page around the doc's
    * own unique lines; at minDocs=10 both cut corpus-wide while the
    * unique lines pass. The oracle re-derives the distinct-doc
    * frequency, the cut, and the positional reassembly. */
  private val ts23 = QueryDef(
    "ts23_strip_boilerplate",
    "corpus-frequent lines cut from every doc, order preserved",
    (s, dir) => {
      val paged = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n",
          lit("ACCEPT COOKIES TO CONTINUE"),
          col("text"),
          when(col("doc_id") % 2 === 0, lit("SPONSORED CONTENT"))
            .otherwise(concat(lit("only "), col("doc_id"))),
          concat(lit("unique "), col("doc_id"))).as("text"))
      TextAnalysis.stripBoilerplateLines(paged, "doc_id", "text",
        minDocs = 10)
        .select(col("id").as("doc_id"), col("clean"))
        .orderBy("doc_id")
    },
    Some("""WITH src AS (SELECT doc_id,
              'ACCEPT COOKIES TO CONTINUE' || chr(10) || text || chr(10) ||
                CASE WHEN doc_id % 2 = 0 THEN 'SPONSORED CONTENT'
                     ELSE 'only ' || doc_id END || chr(10) ||
                'unique ' || doc_id AS t
              FROM documents),
            arr AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM src),
            lns AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(a)),
                        i -> {'i': i, 'l': a[i]})) AS s
                    FROM arr),
            ln AS (SELECT doc_id, s.i AS i, s.l AS l FROM lns),
            freq AS (SELECT l FROM ln WHERE l != ''
                     GROUP BY l HAVING count(DISTINCT doc_id) >= 10),
            kept AS (SELECT doc_id, i, l FROM ln
                     WHERE l NOT IN (SELECT l FROM freq))
            SELECT s.doc_id,
              coalesce(k.clean, '') AS clean
            FROM src s LEFT JOIN (
              SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS clean
              FROM kept GROUP BY doc_id) k USING (doc_id)
            ORDER BY s.doc_id"""))

  /** TS21: STORED BM25 INDEX probe
    * ([[TextAnalysis.bm25BuildIndex]] / [[TextAnalysis.bm25TopKStored]])
    * — the ss9/d20 build-once/probe-many discipline for the LEXICAL
    * family: ts17 re-tokenizes the corpus per query; this gate builds
    * the inverted index (term-sorted postings with denormalized doc
    * lengths + vocabulary stats) into a versioned store ONCE, then
    * answers a DIFFERENT query than ts17's by probing it — postings
    * scan pruned to the query terms, stats filtered and broadcast, no
    * corpus re-scan. The oracle is the from-scratch BM25 chain over
    * the same terms, so the gate pins stored-probe ≡ from-scratch
    * bit-exactly (shared scoring tree over equal integer inputs).
    * tp6 weight class: the index build runs INSIDE the gate; a
    * deployment pays it once and probes many times (probe 0.76-1.42 s
    * vs 6.5-13.2 s from scratch, PLANS.md "Round-9 continuation"). */
  private val ts21 = QueryDef(
    "ts21_stored_bm25_probe",
    "BM25 top-10 via stored inverted index ≡ from-scratch chain",
    (s, dir) => {
      val root = graft.ops.Scratch.tempDir("graft-ts21-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      TextAnalysis.bm25BuildIndex(
        Tables.documents(s, dir), "doc_id", "text", store)
      TextAnalysis.bm25TopKStored(s, store,
        query = Seq("scan", "filter", "merge"), k = 10)
        .orderBy("rank")
    },
    Some(s"""WITH ${bm25ChainSql(Seq("scan", "filter", "merge"))}
            SELECT rank, id, round(score, 6) AS score_r
            FROM bmranked WHERE rank <= 10 ORDER BY rank"""))

  /** 8-language fixture for the trained language classifier (ts26):
    * (lang, text, heldOut). Already-lowercase, apostrophe-free (the
    * strings ride inside SQL literals verbatim); three training
    * sentences per language plus one held-out scoring sentence. ONE
    * constant feeds the Spark frame AND the oracle's VALUES list, so
    * the two sides cannot drift. */
  private val langFixture: Seq[(String, String, Boolean)] = Seq(
    ("en", "the quick brown fox jumps over the lazy dog", false),
    ("en", "a small boat sails across the quiet bay this morning", false),
    ("en", "children play in the park and sing old songs together", false),
    ("en", "we walk to the market and buy fresh bread every day", true),
    ("de", "der schnelle braune fuchs springt über den faulen hund", false),
    ("de", "ein kleines boot segelt am morgen über die stille bucht", false),
    ("de", "die kinder spielen im park und singen alte lieder zusammen", false),
    ("de", "wir gehen zum markt und kaufen jeden tag frisches brot", true),
    ("fr", "le rapide renard brun saute par dessus le chien paresseux", false),
    ("fr", "un petit bateau traverse la baie calme ce matin", false),
    ("fr", "les enfants jouent dans le parc et chantent ensemble", false),
    ("fr", "nous allons au marche et achetons du pain frais chaque jour", true),
    ("es", "el rapido zorro marron salta sobre el perro perezoso", false),
    ("es", "un pequeño barco cruza la bahia tranquila esta mañana", false),
    ("es", "los niños juegan en el parque y cantan canciones juntos", false),
    ("es", "vamos al mercado y compramos pan fresco todos los dias", true),
    ("it", "la rapida volpe marrone salta sopra il cane pigro", false),
    ("it", "una piccola barca attraversa la baia calma questa mattina", false),
    ("it", "i bambini giocano nel parco e cantano vecchie canzoni insieme", false),
    ("it", "andiamo al mercato e compriamo pane fresco ogni giorno", true),
    ("pt", "a rapida raposa marrom salta sobre o cachorro preguiçoso", false),
    ("pt", "um pequeno barco cruza a baia tranquila esta manha", false),
    ("pt", "as crianças brincam no parque e cantam velhas canções juntas", false),
    ("pt", "vamos ao mercado e compramos pao fresco todos os dias", true),
    ("nl", "de snelle bruine vos springt over de luie hond", false),
    ("nl", "een kleine boot vaart vanochtend over de stille baai", false),
    ("nl", "de kinderen spelen in het park en zingen samen oude liedjes", false),
    ("nl", "wij lopen naar de markt en kopen elke dag vers brood", true),
    ("sv", "den snabba bruna räven hoppar över den lata hunden", false),
    ("sv", "en liten bat seglar över den stilla viken i morse", false),
    ("sv", "barnen leker i parken och sjunger gamla visor tillsammans", false),
    ("sv", "vi gar till marknaden och köper färskt bröd varje dag", true))

  /** TS26: TRAINED CHAR-TRIGRAM LANGUAGE CLASSIFIER
    * ([[TextAnalysis.trigramLangId]]) — the multilingual upgrade of
    * ts1's 4-language stopword heuristic, in the ts18 discipline
    * (integer trigram counts, add-one smoothing, ln-quotient
    * log-probs, position-ordered per-(doc, lang) folds ⇒ the argmax
    * and margin are bit-exact cross-engine). Trains on the 8-language
    * fixture, classifies the held-out sentence per language PLUS a
    * corpus slice (integration shape: the model is broadcast-sized,
    * the corpus pays one trigram pass × |L|). The oracle replicates
    * training counts, smoothing, priors, both folds, and the
    * ranked-argmax with its lang-ASC tie-break. */
  private val ts26 = QueryDef(
    "ts26_trigram_lang_id",
    "char-trigram NB language classifier over an 8-language fixture",
    (s, dir) => {
      import s.implicits._
      val train = langFixture.filter(!_._3).map(r => (r._1, r._2))
        .toDF("lang", "text")
      val held = langFixture.filter(_._3).zipWithIndex
        .map { case ((_, t, _), i) => (-(i + 1).toLong, t) }
        .toDF("id", "text")
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id"), col("text"))
      TextAnalysis.trigramLangId(train, "lang", "text",
        held.unionByName(docs), "id", "text")
        .orderBy("id")
    },
    Some {
      val heldVals = langFixture.filter(_._3).zipWithIndex
        .map { case ((_, t, _), i) => s"(${-(i + 1)}::BIGINT, '$t')" }
        .mkString(", ")
      s"""WITH ltest AS (SELECT * FROM (VALUES $heldVals) AS h(id, text)
                     UNION ALL
                     SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
            $trigramLangSql
            SELECT id, lang, round(s - coalesce(nxt, s), 6) AS margin_r
            FROM lng WHERE rn = 1 ORDER BY id"""
    })

  /** The shared Gopher tokenize→bigram oracle chain over a prior
    * `src(idCol, carry…, text)` relation: emits CTEs `<p>t` (token
    * arrays), `<p>b` (counts + bigram list), `<p>m` (top bigram count
    * per id); [[gopherKeepSql]] adds the threshold filter as
    * `<p>keep`. ONE text keeps the five consuming oracles (ts6, ts10,
    * tp4, tp6, tp11) in sync — a tokenizer or bigram-rule change now
    * lands everywhere or nowhere. */
  private def gopherChainSql(p: String, src: String, idCol: String,
      carry: Seq[String] = Nil): String = {
    val cols = (idCol +: carry).mkString(", ")
    s"""${p}t AS (SELECT $cols,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\\s+')
              END AS toks
              FROM $src),
            ${p}b AS (SELECT $cols, len(toks) AS n_tokens,
              len(list_distinct(toks)) AS n_distinct,
              list_transform(range(1, len(toks)),
                i -> toks[i] || chr(1) || toks[i+1]) AS bg
              FROM ${p}t),
            ${p}m AS (SELECT $idCol, max(cnt) AS top_n
              FROM (SELECT $idCol, g, count(*) AS cnt
                    FROM (SELECT $idCol, unnest(bg) AS g FROM ${p}b)
                    GROUP BY $idCol, g)
              GROUP BY $idCol)"""
  }

  /** The ts10 threshold algebra over a [[gopherChainSql]] instance:
    * `<p>keep` = the surviving `<p>b` rows. */
  private def gopherKeepSql(p: String, idCol: String, minTokens: Int,
      maxTokens: Int, maxDupPct: Int, maxTopBigramPct: Int): String =
    s"""${p}keep AS (SELECT b.*
              FROM ${p}b b LEFT JOIN ${p}m m ON b.$idCol = m.$idCol
              WHERE n_tokens >= $minTokens AND n_tokens <= $maxTokens
                AND (n_tokens - n_distinct) * 100 <= n_tokens * $maxDupPct
                AND coalesce(top_n, 0) * 100 <= len(bg) * $maxTopBigramPct)"""

  /** The ts26 trigram-NB oracle chain over a prior `ltest(id, text)`
    * CTE: fixture-trained counts, add-one smoothing, priors, the two
    * position-ordered folds, and the per-id language ranking — emits
    * CTEs up to `lng(id, lang, s, rn, nxt)`; consumers take the
    * rn = 1 rows (ts26 emits prediction + margin; tp11 filters its
    * corpus to one predicted language). */
  private def trigramLangSql: String = {
    val trainVals = langFixture.filter(!_._3)
      .map(r => s"('${r._1}', '${r._2}')").mkString(", ")
    s"""ltrain(lang, text) AS (VALUES $trainVals),
            tg AS (SELECT lang,
                     unnest(list_transform(
                       generate_series(1, greatest(length(lower(text)) - 2, 0)),
                       i -> substr(lower(text), i, 3))) AS g
                   FROM ltrain),
            gm AS (SELECT lang, g, count(*)::BIGINT AS c FROM tg
                   GROUP BY lang, g),
            nd AS (SELECT lang, count(*)::BIGINT AS nd FROM ltrain
                   GROUP BY lang),
            ls AS (SELECT nd.lang, coalesce(t.tot, 0)::BIGINT AS tot
                   FROM nd LEFT JOIN (SELECT lang, sum(c)::BIGINT AS tot
                                      FROM gm GROUP BY lang) t
                     ON nd.lang = t.lang),
            sc0 AS (SELECT count(DISTINCT g)::BIGINT AS v FROM gm),
            sc1 AS (SELECT count(*)::BIGINT AS n FROM ltrain),
            xs AS (SELECT id,
                     unnest(list_transform(
                       generate_series(1, greatest(length(lower(text)) - 2, 0)),
                       i -> {'i': i, 'g': substr(lower(text), i, 3)})) AS s
                   FROM ltest),
            x AS (SELECT id, s.i AS pos, s.g AS g FROM xs),
            lp AS (SELECT x.id, l.lang, x.pos,
                     ln((coalesce(gm.c, 0) + 1)::DOUBLE /
                        (l.tot + sc0.v)::DOUBLE) AS lp
                   FROM x CROSS JOIN ls l
                   LEFT JOIN gm ON gm.lang = l.lang AND gm.g = x.g
                   CROSS JOIN sc0),
            folded AS (SELECT id, lang,
                         list_reduce(list_prepend(0.0::DOUBLE,
                           list(lp ORDER BY pos)), (a, b) -> a + b) AS w
                       FROM lp GROUP BY id, lang),
            lscored AS (SELECT t.id, nd.lang,
                         ln(nd.nd::DOUBLE / sc1.n::DOUBLE) +
                           coalesce(f.w, 0.0) AS s
                       FROM (SELECT id FROM ltest) t CROSS JOIN nd
                       LEFT JOIN folded f
                         ON f.id = t.id AND f.lang = nd.lang
                       CROSS JOIN sc1),
            lng AS (SELECT id, lang, s,
                         row_number() OVER (PARTITION BY id
                           ORDER BY s DESC, lang) AS rn,
                         lead(s) OVER (PARTITION BY id
                           ORDER BY s DESC, lang) AS nxt
                       FROM lscored)"""
  }

  /** TS27: DSIR IMPORTANCE WEIGHTS ([[TextAnalysis.dsirWeights]],
    * Xie et al. 2023) — hashed-n-gram log-likelihood ratio of a
    * target domain vs the raw corpus, the modern data-SELECTION
    * signal (ts24's cross-LM filter scores fluency under a reference
    * model; this scores domain RESEMBLANCE). Target = the docs
    * mentioning 'vector' (a deterministic in-corpus domain); every
    * corpus doc gets a weight. The oracle replicates feature
    * extraction (unigrams ∪ space-joined bigrams), the portable-hash
    * slot assignment, both smoothed distributions over the full
    * bucket space, and the slot-ordered per-doc fold — weight_r is
    * bit-exact. */
  private val ts27 = QueryDef(
    "ts27_dsir_weights",
    "DSIR hashed-ngram importance weights vs an in-corpus target",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("text").contains("vector")), "text",
        buckets = 4096)
        .orderBy("id")
    },
    Some(s"""WITH ${dsirChainSql()}
            SELECT id, weight_r FROM dwei ORDER BY id"""))

  /** The ts27 DSIR oracle chain (target = the 'vector' docs, corpus
    * = documents, 4096 buckets): feature extraction, portable-hash
    * slots, both smoothed distributions over the full bucket space,
    * the slot-ordered per-doc fold — emits `dwei(id, weight_r)` with
    * total coverage (weightless docs at 0), for ts27 to select
    * verbatim and tp12 to threshold. */
  private def dsirChainSql(charN: Option[Int] = None,
      corpusRel: String = "documents"): String = {
    // feature CTEs: word unigrams ∪ bigrams (default) or sliding
    // char n-grams of the lowercased text (the multilingual variant
    // — engine twin [[TextAnalysis.charGrams]]: no trim, spaces
    // carry signal, texts shorter than n yield nothing)
    val featCtes = charN match {
      case Some(n) =>
        s"""tfeat AS (SELECT unnest(list_transform(
                        generate_series(1,
                          greatest(length(lower(text)) - ${n - 1}, 0)),
                        i -> substr(lower(text), i, $n))) AS f
                      FROM tsrc),
            cfeat AS (SELECT doc_id, unnest(list_transform(
                        generate_series(1,
                          greatest(length(lower(text)) - ${n - 1}, 0)),
                        i -> substr(lower(text), i, $n))) AS f
                      FROM $corpusRel),"""
      case None =>
        s"""ttok AS (SELECT CASE WHEN length(trim(lower(text))) = 0
                              THEN []::VARCHAR[]
                              ELSE regexp_split_to_array(
                                trim(lower(text)), '\\s+') END AS t
                     FROM tsrc),
            tfeat AS (SELECT unnest(list_concat(t,
                        list_transform(
                          generate_series(1, greatest(len(t) - 1, 0)),
                          i -> t[i] || ' ' || t[i+1]))) AS f
                      FROM ttok),
            ctok AS (SELECT doc_id, CASE WHEN length(trim(lower(text))) = 0
                              THEN []::VARCHAR[]
                              ELSE regexp_split_to_array(
                                trim(lower(text)), '\\s+') END AS t
                     FROM $corpusRel),
            cfeat AS (SELECT doc_id, unnest(list_concat(t,
                        list_transform(
                          generate_series(1, greatest(len(t) - 1, 0)),
                          i -> t[i] || ' ' || t[i+1]))) AS f
                      FROM ctok),"""
    }
    s"""tsrc AS (SELECT text FROM $corpusRel
                          WHERE contains(text, 'vector')),
            $featCtes
            tslot AS (SELECT ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096
                        AS slot, count(*)::BIGINT AS c
                      FROM tfeat GROUP BY 1),
            cslotd AS (SELECT doc_id,
                         ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096
                           AS slot
                       FROM cfeat),
            cslot AS (SELECT slot, count(*)::BIGINT AS c FROM cslotd
                      GROUP BY slot),
            ttot AS (SELECT coalesce(sum(c), 0)::BIGINT AS tt FROM tslot),
            ctot AS (SELECT coalesce(sum(c), 0)::BIGINT AS ct FROM cslot),
            lam AS (SELECT s.slot,
                      ln((coalesce(t.c, 0) + 1)::DOUBLE /
                         (tt + 4096)::DOUBLE) -
                      ln((coalesce(c.c, 0) + 1)::DOUBLE /
                         (ct + 4096)::DOUBLE) AS lam
                    FROM (SELECT unnest(generate_series(0, 4095))::BIGINT
                            AS slot) s
                    LEFT JOIN tslot t ON t.slot = s.slot
                    LEFT JOIN cslot c ON c.slot = s.slot
                    CROSS JOIN ttot CROSS JOIN ctot),
            dslot AS (SELECT doc_id AS id, slot, count(*)::BIGINT AS cnt
                      FROM cslotd GROUP BY 1, 2),
            fold AS (SELECT id,
                       list_reduce(list_prepend(0.0::DOUBLE,
                         list(cnt::DOUBLE * lam ORDER BY slot)),
                         (a, b) -> a + b) AS w
                     FROM dslot JOIN lam USING (slot) GROUP BY id),
            dwei AS (SELECT d.doc_id AS id,
                       round(coalesce(w, 0.0), 6) AS weight_r
                     FROM $corpusRel d LEFT JOIN fold ON fold.id = d.doc_id)"""
  }

  /** ST9: STREAMING DSIR λ-MODEL MAINTENANCE
    * ([[graft.streaming.Streams]].dsirIngest +
    * [[TextAnalysis.dsirWeightsFromStore]]) — the st3 sketch
    * discipline applied to the importance-weight model: the corpus
    * slot distribution is additive under appends (slot counts over
    * batches union to EXACTLY the concatenation's counts — integer
    * identity, not an approximation), the target distribution is
    * static (committed once), so two checkpointed AvailableNow
    * phases followed by a store-side probe must reproduce ts27's
    * one-shot weights over the same corpus bit-for-bit. The oracle
    * is the ts27 chain re-rooted at the gate's 10% slice. */
  private val st9 = QueryDef(
    "st9_stream_dsir_parity",
    "streaming DSIR λ maintenance ≡ one-shot weights over the stream",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(streamGateSlice(col("doc_id")))
        .select(col("doc_id").as("id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st9-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      val target = docs.filter(col("text").contains("vector"))
      docs.filter(col("id") % 20 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.dsirIngest(s, inDir, ck, store,
        target, "text").awaitTermination()
      docs.filter(col("id") % 20 =!= 0).coalesce(1).write.mode("append")
        .parquet(inDir)
      graft.streaming.Streams.dsirIngest(s, inDir, ck, store,
        target, "text").awaitTermination()
      TextAnalysis.dsirWeightsFromStore(docs, "id", "text", store)
        .orderBy("id")
    },
    Some(s"""WITH stcorpus AS (SELECT doc_id, text FROM documents
                               WHERE $streamGateSliceSql),
            ${dsirChainSql(corpusRel = "stcorpus")}
            SELECT id, weight_r FROM dwei ORDER BY id"""))

  /** ST10: STREAMING VECTOR-INDEX MAINTENANCE
    * ([[graft.streaming.Streams]].vectorIndexIngest +
    * [[SimilaritySearch.ivfTopKStored]]) — st8's lexical loop for
    * the vector family, with batch 2 carrying both INSERTS (the
    * remaining corpus) and UPDATES (every 9th vector of batch 1
    * re-emitted reversed — the tombstone path exercised INSIDE the
    * checkpointed loop, not just by the ss17 direct call). The probe
    * over the mutated corpus must equal a from-scratch capped IVF
    * probe with the codebook batch 1 built (its lowest-32 ORIGINAL
    * vectors — updates never retrain the geometry). Each batch ends
    * with the family's marker swap, so the probe between runs reads
    * one complete batch state. */
  private val st10 = QueryDef(
    "st10_stream_vector_index",
    "streamed IVF build+reindex ≡ from-scratch probe over the mutated corpus",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val root = graft.ops.Scratch.fastDir("graft-st10-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      e.filter(col("id") % 3 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.vectorIndexIngest(s, inDir, ck, store)
        .awaitTermination()
      e.filter(col("id") % 3 =!= 0)
        .unionByName(e.filter(col("id") % 9 === 0)
          .select(col("id"), reverse(col("embedding")).as("embedding")))
        .coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.Streams.vectorIndexIngest(s, inDir, ck, store)
        .awaitTermination()
      val mutated = e.select(col("id"),
        when(col("id") % 9 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      graft.ops.SimilaritySearch.ivfTopKStored(
        mutated.filter(col("id") >= 100 && col("id") < 110), mutated,
        "id", "embedding", store, k = 5, probes = 8, cellCap = 1000)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH anchors AS (SELECT vec_id AS cid, embedding AS avec
                              FROM embeddings WHERE vec_id % 3 = 0
                              ORDER BY vec_id LIMIT 32),
             mut AS (SELECT vec_id AS id,
                       CASE WHEN vec_id % 9 = 0
                            THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
                     FROM embeddings),
             aff AS (SELECT m.id, a.cid,
                       row_number() OVER (PARTITION BY m.id
                         ORDER BY ${cosSql("m.embedding", "a.avec")}
                           DESC, a.cid) AS rn
                     FROM mut m, anchors a),
             cassign AS (SELECT id AS neighbor_id, cid FROM aff
                         WHERE rn <= 1),
             qassign AS (SELECT id AS query_id, cid FROM aff
                         WHERE id >= 100 AND id < 110 AND rn <= 8),
             capped AS (SELECT neighbor_id, cid,
                          row_number() OVER (PARTITION BY cid
                            ORDER BY neighbor_id) AS crn
                        FROM cassign),
             cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                      FROM qassign q JOIN capped c ON q.cid = c.cid
                      WHERE c.crn <= 1000
                        AND q.query_id != c.neighbor_id),
             scored AS (SELECT query_id, neighbor_id,
                          ${cosSql("mq.embedding", "mc.embedding")} AS cos
                        FROM cand
                        JOIN mut mq ON mq.id = cand.query_id
                        JOIN mut mc ON mc.id = cand.neighbor_id),
             ranked AS (SELECT *, row_number() OVER (
                          PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rank
                        FROM scored)
             SELECT query_id, rank, neighbor_id
             FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** ST14: STREAMING FULL-INDEX MAINTENANCE
    * ([[graft.streaming.Streams.ivfPqIngest]] +
    * [[SimilaritySearch.ivfPqTopKStored]]) — st10's loop extended to
    * the complete deployment pair: every batch folds the IVF cells
    * AND the PQ codes, batch 2 carries inserts + updates (every 9th
    * vector of batch 1 re-emitted reversed — both tombstone paths
    * exercised inside the checkpointed loop), and the probe goes
    * through stored cells + stored codes with no raw corpus read, at
    * the pair marker each batch commits after both folds.
    * The oracle composes the st10 cell chain (batch-1-pinned anchors,
    * mutated assignments) with the ss20 code chain (batch-1-pinned
    * sub-codebooks, mutated encodes), ADC'd over the candidates —
    * `dist` compares bit-exactly. */
  private val st14 = QueryDef(
    "st14_stream_ivfpq_index",
    "streamed IVF+PQ build/reindex ≡ from-scratch stored-pair probe",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val root = graft.ops.Scratch.fastDir("graft-st14-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      e.filter(col("id") % 3 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.ivfPqIngest(s, inDir, ck, store)
        .awaitTermination()
      e.filter(col("id") % 3 =!= 0)
        .unionByName(e.filter(col("id") % 9 === 0)
          .select(col("id"), reverse(col("embedding")).as("embedding")))
        .coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.Streams.ivfPqIngest(s, inDir, ck, store)
        .awaitTermination()
      val queries = e.filter(col("id") >= 100 && col("id") < 110)
        .select(col("id"),
          when(col("id") % 9 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
      graft.ops.SimilaritySearch.ivfPqTopKStored(queries, "id",
        "embedding", store, k = 5, probes = 8, cellCap = 1000)
        .orderBy("query_id", "rank")
    },
    Some(pqCodesCtesOver("mut", "id",
      """mut AS (SELECT vec_id AS id,
                   CASE WHEN vec_id % 9 = 0 THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
                 FROM embeddings),""",
      cbWhere = "WHERE vec_id % 3 = 0") + s""",
            anchors AS (SELECT vec_id AS cid, embedding AS avec
                        FROM embeddings WHERE vec_id % 3 = 0
                        ORDER BY vec_id LIMIT 32),
            aff AS (SELECT m.id, a.cid,
                row_number() OVER (PARTITION BY m.id
                  ORDER BY ${cosSql("m.embedding", "a.avec")} DESC,
                    a.cid) AS rn
              FROM mut m, anchors a),
            cassign AS (SELECT id AS neighbor_id, cid FROM aff
                        WHERE rn <= 1),
            qassign AS (SELECT id AS query_id, cid FROM aff
                        WHERE id >= 100 AND id < 110 AND rn <= 8),
            cappedv AS (SELECT neighbor_id, cid,
                row_number() OVER (PARTITION BY cid
                  ORDER BY neighbor_id) AS crn
              FROM cassign),
            cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
              FROM qassign q JOIN cappedv c ON q.cid = c.cid
              WHERE c.crn <= 1000 AND q.query_id != c.neighbor_id),
            paird AS (SELECT cand.query_id, cand.neighbor_id,
                cd.j, q.dist
              FROM cand
              JOIN codes cd ON cd.id = cand.neighbor_id
              JOIN encd q ON q.id = cand.query_id AND q.j = cd.j
                AND q.c = cd.code),
            summed AS (SELECT query_id, neighbor_id,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list(dist ORDER BY j)), (x, y) -> x + y) AS dist
              FROM paird GROUP BY query_id, neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rank
              FROM summed)
            SELECT query_id, rank, neighbor_id, dist
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** ST15: THE CDC-FED SECOND CONSUMER
    * ([[graft.streaming.Streams.corpusUpsertIngest]] writer +
    * [[graft.streaming.Streams.cdcTokenCountConsumer]] reader over
    * [[graft.ops.ParquetTableStore.changesBetween]]) — the contract
    * u15 exists for, driven end to end: a streaming loop upserts the
    * corpus into the store across two checkpointed runs (inserts,
    * then inserts + updates), a keyed delete lands out-of-band, and
    * an INDEPENDENT consumer keeps a per-doc token-count table
    * current by folding ONLY the store's own change feed since its
    * stored cursor — it never sees the ingest files, and each fold
    * pays O(changed buckets). The oracle recomputes the final corpus
    * (updates applied, deletions removed) and tokenizes it whole:
    * incremental maintenance must be INVISIBLE next to the
    * from-scratch build. */
  private val st15 = QueryDef(
    "st15_cdc_consumer",
    "CDC-fed derived table: cursor folds of changesBetween ≡ from-scratch",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st15-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 10)
      d.filter(col("doc_id") % 3 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.corpusUpsertIngest(s, inDir, ck, store)
        .awaitTermination()
      graft.streaming.Streams.cdcTokenCountConsumer(s, store)
      d.filter(col("doc_id") % 3 =!= 0)
        .unionByName(d.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")))
        .coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.Streams.corpusUpsertIngest(s, inDir, ck, store)
        .awaitTermination()
      graft.streaming.Streams.cdcTokenCountConsumer(s, store)
      store.deleteBucketed(s, "corpus",
        d.filter(col("doc_id") % 13 === 0).select("doc_id"), Seq("doc_id"))
      graft.streaming.Streams.cdcTokenCountConsumer(s, store)
      store.read(s, "doc_tokens").orderBy("doc_id")
    },
    Some("""WITH fin AS (SELECT doc_id,
              CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END
                AS text
            FROM documents WHERE doc_id % 13 <> 0)
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END::BIGINT AS n_tokens
            FROM fin ORDER BY doc_id"""))

  /** ST16: CDC CONSUMER REBASE — the retention-loss recovery path
    * st15's loud refusal implies ([[graft.streaming.Streams
    * .cdcTokenCountConsumerRebasing]]): the consumer bootstraps, then
    * STALLS while the writer lands three more commits against a
    * keepVersions=2 store — its cursor version is pruned, so the CDC
    * read refuses with [[graft.ops.RetentionLostException]]
    * (permanently gone, retrying is pointless) and the rebasing
    * consumer full-rebuilds from the live snapshot + resets its
    * cursor. A further delta then folds as ordinary O(changed
    * buckets) CDC — rebase is a one-time price, not a mode switch.
    * The gate ASSERTS the fold modes (bootstrap / rebase / CDC) so a
    * silently-always-rebasing consumer (correct content, O(table)
    * every fold) goes red, and the oracle rebuilds the final corpus
    * whole: recovery must be INVISIBLE next to from-scratch. */
  private val st16 = QueryDef(
    "st16_cdc_rebase",
    "CDC consumer behind retention rebases, then folds O(delta) again",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st16-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 2)
      def fold(): Boolean =
        graft.streaming.Streams.cdcTokenCountConsumerRebasing(s, store)
      // v1: a third of the corpus; consumer bootstraps at this version
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 3 === 0), Seq("doc_id"), 8)
      val bootstrapped = fold()
      // the consumer stalls while the writer lands THREE commits —
      // cursor v1 falls out of the keepVersions=2 window
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 3 =!= 0)
          .unionByName(d.filter(col("doc_id") % 9 === 0)
            .select(col("doc_id"),
              concat(col("text"), lit(" v2")).as("text"))),
        Seq("doc_id"), 8)
      store.deleteBucketed(s, "corpus",
        d.filter(col("doc_id") % 13 === 0).select("doc_id"), Seq("doc_id"))
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" v4")).as("text")),
        Seq("doc_id"), 8)
      val rebased = fold()
      // post-rebase: a fresh delta folds as ordinary CDC again
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" v5")).as("text")),
        Seq("doc_id"), 8)
      val cdcFolded = fold()
      require(!bootstrapped && rebased && !cdcFolded,
        s"st16: fold modes (bootstrap=$bootstrapped rebase=$rebased " +
          s"cdc=$cdcFolded) — expected (false, true, false)")
      store.read(s, "doc_tokens").orderBy("doc_id")
    },
    // LWW sequence: v5 (%11) over v4 (%7) over v2's update (%9) over
    // the original; %13 docs deleted at v3 unless re-upserted later
    Some("""WITH fin AS (SELECT doc_id,
              CASE WHEN doc_id % 11 = 0 THEN text || ' v5'
                   WHEN doc_id % 7 = 0 THEN text || ' v4'
                   WHEN doc_id % 9 = 0 THEN text || ' v2'
                   ELSE text END AS text
            FROM documents
            WHERE doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 13 <> 0)
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END::BIGINT AS n_tokens
            FROM fin ORDER BY doc_id"""))

  /** ST17: THE DEPLOYMENT LOOP, composed whole — a checkpointed
    * streaming writer ([[graft.streaming.Streams.corpusUpsertIngest]]
    * with the size-tiered maintenance policy running after every
    * batch), an out-of-band keyed delete, and a REGISTERED CDC
    * consumer folding the store's own change feed between runs.
    * Each piece is individually gated (st6-style ingest, u16
    * auto-maintenance, u15/u17 CDC, u18 protected retention); this
    * pins their INTERPLAY, which no other gate drives end to end:
    * maintenance commits churn versions between the consumer's folds,
    * so the CDC spans cross compaction boundaries and must diff them
    * EMPTY (cost, no phantom changes); the keepVersions=2 window
    * plus multi-commit runs would force rebases without the
    * registered cursor (st16 proves it); and the file debt the
    * writer's touched-bucket rewrites accumulate must stay bounded by
    * the in-loop policy (asserted from the manifest — max
    * files/bucket ≤ the policy threshold at the end). Fold modes are
    * asserted all-CDC; content ≡ the whole-corpus oracle. Runs on
    * the EVEN-id half corpus (the st11 cost discipline): every
    * composed stage is individually gated at full mass elsewhere
    * (st15 the ingest+fold chain, u16 the policy, u18 the
    * protection); the marginal claim here is their INTERPLAY, which
    * is corpus-size independent. */
  private val st17 = QueryDef(
    "st17_maintained_ingest",
    "streaming writer + auto-compaction + registered CDC consumer compose",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 0)
      val root = graft.ops.Scratch.fastDir("graft-st17-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 2)
      def ingest(): Unit =
        graft.streaming.Streams.corpusUpsertIngest(s, inDir, ck, store,
          autoMaintain = true, maintainMaxFilesPerBucket = 2,
          maintainMinBytesPerFile = 0L).awaitTermination()
      def fold(): Boolean =
        graft.streaming.Streams.cdcTokenCountConsumerRebasing(s, store,
          consumerId = Some("tok"))
      d.filter(col("doc_id") % 3 === 0).coalesce(1).write.parquet(inDir)
      ingest()
      val m1 = fold() // bootstrap
      d.filter(col("doc_id") % 3 =!= 0)
        .unionByName(d.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")))
        .coalesce(1).write.mode("append").parquet(inDir)
      ingest() // upsert + maintenance commits land in one run
      val m2 = fold()
      store.deleteBucketed(s, "corpus",
        d.filter(col("doc_id") % 13 === 0).select("doc_id"), Seq("doc_id"))
      val m3 = fold()
      d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v4")).as("text"))
        .coalesce(1).write.mode("append").parquet(inDir)
      ingest()
      val m4 = fold()
      require(!m1 && !m2 && !m3 && !m4,
        s"st17: fold modes ($m1,$m2,$m3,$m4) — a true means a rebase; " +
          "the registered cursor must have kept every span answerable")
      // the in-loop policy bounded the writer's file debt
      val maxFiles = store.fileManifest(s, "corpus")
        .selectExpr("regexp_extract(file, '__kb=(\\\\d+)/', 1) AS b")
        .filter(col("b") =!= "").groupBy("b").count()
        .agg(max("count")).head.getLong(0)
      require(maxFiles <= 2,
        s"st17: $maxFiles files in a bucket after maintenance — the " +
          "in-loop policy failed to bound the writer's small-file debt")
      store.read(s, "doc_tokens").orderBy("doc_id")
    },
    Some("""WITH fin AS (SELECT doc_id,
              CASE WHEN doc_id % 7 = 0 THEN text || ' v4'
                   WHEN doc_id % 9 = 0 THEN text || ' v2'
                   ELSE text END AS text
            FROM documents
            WHERE doc_id % 2 = 0
              AND (doc_id % 7 = 0 OR doc_id % 13 <> 0))
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END::BIGINT AS n_tokens
            FROM fin ORDER BY doc_id"""))

  /** ST18: the store as a streaming SOURCE
    * ([[graft.streaming.StoreTailStream]] behind
    * `spark.readStream.table("<cat>.<t>")`) — every prior st-gate
    * streams INTO the store; this one streams OUT of it: a downstream
    * consumer subscribes to a store table through Spark's own
    * streaming engine, with store VERSIONS as offsets (the CAS
    * publish sequence is already a total order — exactly-once costs
    * nothing extra). Two `Trigger.AvailableNow` runs over one
    * checkpoint: the first delivers the current snapshot (offset −1 →
    * head), the second — after two more append versions — must
    * deliver ONLY the delta files (manifest name-set diff, two
    * driver-side sidecar parses, no listing, no Spark job to plan).
    * The oracle is the whole corpus: any re-delivery across the
    * restart (a broken offset) or a lost row (a broken diff) breaks
    * the hash. The append-only refusal, the cursor handshake, and the
    * per-type reader round-trip are spec-pinned (StoreTailSpec). */
  private val st18 = QueryDef(
    "st18_stream_table_tail",
    "readStream.table over the catalog: snapshot + deltas, exactly-once",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st18-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.appendBucketed(s, "inbox", d.filter(col("doc_id") % 3 === 0),
        Seq("doc_id"), numBuckets = 8)
      s.conf.set("spark.sql.catalog.st18cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.st18cat.root", s"$root/store")
      val out = s"$root/out"
      val ck = s"$root/ck"
      def run(): Unit =
        s.readStream.table("st18cat.inbox")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      run() // snapshot batch
      store.appendBucketed(s, "inbox", d.filter(col("doc_id") % 3 === 1),
        Seq("doc_id"))
      store.appendBucketed(s, "inbox", d.filter(col("doc_id") % 3 === 2),
        Seq("doc_id"))
      run() // restart from the checkpoint: deltas only
      s.read.parquet(out).select("doc_id", "text").orderBy("doc_id")
    },
    Some("SELECT doc_id, text FROM documents ORDER BY doc_id"))

  /** ST19: the store as a streaming SINK
    * ([[graft.streaming.StoreStreamWrite]] behind
    * `writeStream.toTable("<cat>.<t>")`) — st18's other half: a
    * Spark streaming query lands IN a store table through the SQL
    * face, each epoch staged executor-side as plain parquet (Spark's
    * own `ParquetWriteSupport`, `InternalRow` straight to pages — no
    * driver relay) and folded by the driver as one keyed LWW
    * [[graft.ops.ParquetTableStore.upsertBucketed]] under the store's
    * CAS protocol. Two `Trigger.AvailableNow` runs over one
    * checkpoint: the second — a restart — must fold ONLY the new
    * files; the oracle is the whole corpus, so any duplicated or lost
    * epoch breaks the hash. Exactly-once is the epoch watermark
    * (`recordStreamEpoch`) plus keyed-merge idempotence — which is
    * also why snapshot tables refuse streaming writes (spec-pinned,
    * StoreSinkSpec, with the zombie-replay and Update-mode pins). */
  private val st19 = QueryDef(
    "st19_stream_table_sink",
    "writeStream.toTable: executor-staged epochs fold as LWW upserts",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.fastDir("graft-st19-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.upsertBucketed(s, "corpus", d.filter(col("doc_id") % 3 === 0),
        Seq("doc_id"), numBuckets = 8)
      s.conf.set("spark.sql.catalog.st19cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.st19cat.root", s"$root/store")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      def run(): Unit =
        s.readStream.schema(d.schema).parquet(inDir)
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("st19cat.corpus").awaitTermination()
      d.filter(col("doc_id") % 3 === 1).coalesce(1).write.parquet(inDir)
      run() // first epoch
      d.filter(col("doc_id") % 3 === 2).coalesce(1).write.mode("append")
        .parquet(inDir)
      run() // restart from the checkpoint: the new files only
      store.read(s, "corpus").select("doc_id", "text").orderBy("doc_id")
    },
    Some("SELECT doc_id, text FROM documents ORDER BY doc_id"))

  /** ST11: streaming GRAPH maintenance
    * ([[graft.streaming.Streams.graphIngest]]) — the g3 + g4 folds
    * driven from an edge FEED: the co-order edges arrive as two
    * parquet batches (the g3/g4 split), each micro-batch folds into
    * BOTH stored artifacts (triangle counts and warm-started
    * PageRank, overlapped — disjoint table families), and the gate
    * reads the two stored tables back joined. The oracle is the g3
    * from-scratch triangle count joined with g4's unrolled two-batch
    * rank recurrence — streamed maintenance must be INVISIBLE next to
    * the batch folds, which the shared SQL makes literal. */
  private val st11 = QueryDef(
    "st11_stream_graph_maintenance",
    "streamed edge folds ≡ from-scratch triangles + unrolled warm PageRank",
    (s, dir) => {
      // the even-id SUBGRAPH: this gate's marginal claim is the
      // streaming seam (batch boundaries, fold parity, joined
      // artifacts) — the folds' full-mass cost is already priced by
      // g3/g4, so re-paying both pipelines here would double-charge
      // the battery for an already-pinned claim
      val edges = PageRank.coOrderEdges(Tables.lineitem(s, dir))
        .filter(col("src") % 2 === 0 && col("dst") % 2 === 0)
      val root = graft.ops.Scratch.fastDir("graft-st11-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      edges.filter((col("src") + col("dst")) % 3 =!= 0)
        .coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.graphIngest(s, inDir, ck, store)
        .awaitTermination()
      edges.filter((col("src") + col("dst")) % 3 === 0)
        .coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.Streams.graphIngest(s, inDir, ck, store)
        .awaitTermination()
      store.read(s, "tri_counts")
        .join(store.read(s, "pr_ranks"), Seq("id"))
        .select(col("id").as("p_partkey"), col("n_triangles"),
          round(col("r") * 1000.0, 6).as("pr_k"))
        .orderBy("p_partkey")
    },
    // g3's from-scratch triangle oracle joined with g4's unrolled
    // recurrence — both generated from the same textual sources the
    // batch gates pin
    Some(s"""WITH $coOrderEdgesSql,
            e0 AS (SELECT src, dst FROM e
                   WHERE src % 2 = 0 AND dst % 2 = 0),
            und AS (SELECT DISTINCT least(src, dst) AS u,
                      greatest(src, dst) AS v FROM e0),
            tri AS (SELECT ta.u AS a, ta.v AS b, tb.v AS c
                    FROM und ta
                    JOIN und tb ON tb.u = ta.v
                    JOIN und tc ON tc.u = ta.u AND tc.v = tb.v),
            corners AS (SELECT a AS id FROM tri
                        UNION ALL SELECT b FROM tri
                        UNION ALL SELECT c FROM tri),
            tnodes AS (SELECT u AS id FROM und UNION SELECT v FROM und),
            tcnt AS (SELECT id, count(*)::BIGINT AS n FROM corners
                     GROUP BY id),
            e1 AS (SELECT src, dst FROM e0 WHERE (src + dst) % 3 <> 0),
            nodes1 AS (SELECT src AS id FROM e1 UNION SELECT dst FROM e1),
            nn1 AS (SELECT count(*)::DOUBLE AS n FROM nodes1),
            deg1 AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e1
                     GROUP BY src),
            b0 AS (SELECT id, 1.0::DOUBLE / nn1.n AS r
                   FROM nodes1 CROSS JOIN nn1),
            ${prStepSql("b1", "b0", "e1", "deg1", "nodes1", "nn1")},
            ${prStepSql("b2", "b1", "e1", "deg1", "nodes1", "nn1")},
            ${prStepSql("b3", "b2", "e1", "deg1", "nodes1", "nn1")},
            nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e0
                    GROUP BY src),
            w0 AS (SELECT nodes.id,
                     coalesce(b3.r * (nn1.n / nn.n),
                       1.0::DOUBLE / nn.n) AS r
                   FROM nodes CROSS JOIN nn CROSS JOIN nn1
                   LEFT JOIN b3 ON b3.id = nodes.id),
            ${prStepSql("w1", "w0", "e0", "deg", "nodes", "nn")},
            ${prStepSql("w2", "w1", "e0", "deg", "nodes", "nn")}
            SELECT tn.id AS p_partkey,
              coalesce(tcnt.n, 0)::BIGINT AS n_triangles,
              round(w2.r * 1000.0::DOUBLE, 6) AS pr_k
            FROM tnodes tn
            LEFT JOIN tcnt ON tcnt.id = tn.id
            JOIN w2 ON w2.id = tn.id
            ORDER BY p_partkey"""))

  /** ST12: streaming DECONTAMINATION screening
    * ([[graft.streaming.Streams.decontamIngest]]) — dc4's stored
    * index driven from a document FEED: the benchmark registers on
    * the first batch, every arriving corpus batch probes only itself
    * against the stored grams, and matched pairs accumulate keyed by
    * (doc_id, bench_id). The union of per-batch probes must equal the
    * one-shot dc1 pairs over the concatenated corpus — exact-gram
    * contamination is per-doc, so screening batch-by-batch loses
    * nothing (unlike near-dup, there is no cross-batch pair to miss:
    * the bench side is static). Oracle = dc1's, that identity being
    * the claim. */
  private val st12 = QueryDef(
    "st12_stream_decontamination",
    "streamed per-batch contamination screening ≡ one-shot dc1 pairs",
    (s, dir) => {
      val root = graft.ops.Scratch.fastDir("graft-st12-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
      val bench = benchDf(s, dir)
      docs.filter(col("id") % 2 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.decontamIngest(s, inDir, ck, store,
        bench, "bench_id", "text").awaitTermination()
      docs.filter(col("id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(inDir)
      graft.streaming.Streams.decontamIngest(s, inDir, ck, store,
        bench, "bench_id", "text").awaitTermination()
      store.read(s, "contamination")
        .select(col("doc_id"), col("bench_id"), col("n_shared"))
        .orderBy("doc_id", "bench_id")
    },
    Some(s"""WITH $benchSql,
            dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents),
            bt AS (SELECT bench_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM bench),
            dg AS (SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT doc_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM dt)),
            bg AS (SELECT DISTINCT bench_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT bench_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM bt))
            SELECT dg.doc_id, bg.bench_id,
                   count(DISTINCT dg.g) AS n_shared
            FROM dg JOIN bg ON dg.g = bg.g
            GROUP BY 1, 2 HAVING count(DISTINCT dg.g) >= 2
            ORDER BY doc_id, bench_id"""))

  /** ST13: streaming CORPUS CURATION
    * ([[graft.streaming.Streams.curationIngest]]) — tp2's training-
    * prep chain as a production ingest loop: two document batches
    * (evens then odds, with manufactured copies at id+20001 so exact
    * duplicates CROSS the batch boundary in both directions) each run
    * quality cut → exact dedup against the fp-bucketed stored digest
    * ledger → decontamination against the stored benchmark grams, and
    * only survivors enter the stored clean corpus. The oracle is the
    * one-shot composition with the batch order as the dedup
    * tie-break: keeper = min (batch, id) per fingerprint — an
    * earlier-batch HIGHER id beats a later-batch lower one, which the
    * fixture manufactures (an odd source doc's even-id copy lands in
    * batch 1 and must win). */
  private val st13 = QueryDef(
    "st13_stream_corpus_curation",
    "streamed quality→dedup→decontam curation ≡ one-shot composition",
    (s, dir) => {
      val root = graft.ops.Scratch.fastDir("graft-st13-")
      val inDir = s"$root/in"
      val ck = s"$root/ck"
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      val base = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
      val docs = base.unionByName(base.filter(col("id") % 5 === 0)
        .select((col("id") + 20001).as("id"), col("text")))
      val bench = benchDf(s, dir)
      docs.filter(col("id") % 2 === 0).coalesce(1).write.parquet(inDir)
      graft.streaming.Streams.curationIngest(s, inDir, ck, store,
        bench, "bench_id", "text").awaitTermination()
      docs.filter(col("id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(inDir)
      graft.streaming.Streams.curationIngest(s, inDir, ck, store,
        bench, "bench_id", "text").awaitTermination()
      store.read(s, "corpus_clean")
        .select(col("id"), col("text")).orderBy("id")
    },
    Some(s"""WITH $benchSql,
            corpus AS (SELECT doc_id AS id, doc_id % 2 AS b, text
                       FROM documents
                       UNION ALL
                       SELECT doc_id + 20001 AS id,
                              (doc_id + 20001) % 2 AS b, text
                       FROM documents WHERE doc_id % 5 = 0),
            ${qualityFeatureSql("corpus", "id", "b")},
            q AS (SELECT qf.id FROM qf
                  WHERE ${qualitySql("n_tokens", "stops", "digits",
                    "n_chars", 9)} >= 0.5),
            fpt AS (SELECT c.id, c.b, c.text,
                      md5(regexp_replace(lower(trim(c.text)), '\\s+', ' ',
                        'g')) AS f
                    FROM corpus c JOIN q ON q.id = c.id),
            win AS (SELECT id, text, row_number() OVER (
                      PARTITION BY f ORDER BY b, id) AS rn
                    FROM fpt),
            keep AS (SELECT id, text FROM win WHERE rn = 1),
            kt AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM keep),
            dg AS (SELECT id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM kt)),
            bt AS (SELECT bench_id,
                     regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM bench),
            bg AS (SELECT DISTINCT bench_id,
                     ('0x' || substr(md5(g), 1, 15))::BIGINT AS g
                   FROM (SELECT bench_id,
                           unnest(list_transform(generate_series(1, len(t) - 7),
                             i -> $gram8)) AS g
                         FROM bt)),
            bad AS (SELECT dg.id FROM dg JOIN bg ON dg.g = bg.g
                    GROUP BY dg.id, bg.bench_id
                    HAVING count(DISTINCT dg.g) >= 2)
            SELECT k.id, k.text FROM keep k
            LEFT JOIN (SELECT DISTINCT id FROM bad) x ON x.id = k.id
            WHERE x.id IS NULL
            ORDER BY k.id"""))

  /** TS29: DSIR CHAR-N-GRAM WEIGHTS — ts27's importance weights with
    * the MULTILINGUAL feature family ([[TextAnalysis.charGrams]]):
    * sliding character 4-grams of the lowercased raw text replace
    * word unigrams∪bigrams (the variant the DSIR paper runs where
    * whitespace tokenization shreds the script). Same portable-hash
    * slots, smoothing, and slot-ordered fold; the oracle swaps only
    * the feature CTEs — so what the gate pins is exactly the feature
    * seam (no-trim lowercasing, the len−n+1 window arithmetic, empty
    * short texts). */
  private val ts29 = QueryDef(
    "ts29_dsir_char_weights",
    "DSIR char-4-gram importance weights (multilingual features)",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("text").contains("vector")), "text",
        buckets = 4096, charNgrams = Some(4))
        .orderBy("id")
    },
    Some(s"""WITH ${dsirChainSql(Some(4))}
            SELECT id, weight_r FROM dwei ORDER BY id"""))

  /** TP13: GUMBEL-TOP-K IMPORTANCE RESAMPLING
    * ([[Sampling.gumbelTopK]]) — the DSIR paper's actual selection
    * stage: sample without replacement ∝ exp(weight/τ) instead of
    * tp12's hard percentile cut (which keeps only the head and
    * collapses diversity). The Gumbel keys derive from the seeded
    * portable hash (the sm-family rule), are rounded to 6 dp before
    * the top-k with ties to the id (the tp5 boundary discipline), so
    * membership is bit-stable cross-engine; the oracle recomputes
    * weights, noise, keys, and the cut. */
  private val tp13 = QueryDef(
    "tp13_dsir_gumbel_resample",
    "Gumbel-top-k resampling (∝ exp(weight/τ)) over DSIR weights",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val weights = TextAnalysis.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("text").contains("vector")), "text",
        buckets = 4096)
      Sampling.gumbelTopK(weights, "id", "weight_r", k = 200,
        tau = 0.5, seed = "tp13")
        .select(col("id"), col("weight_r"), col("gumbel_key_r"))
        .orderBy("id")
    },
    Some(s"""WITH ${dsirChainSql()},
            gu AS (SELECT id, weight_r,
                     round(weight_r / 0.5 -
                       ln(-ln((('0x' || substr(md5('tp13:' || id::VARCHAR),
                         1, 15))::BIGINT % 1000000 + 0.5) / 1000000.0)), 6)
                       AS gumbel_key_r
                   FROM dwei),
            top AS (SELECT * FROM gu ORDER BY gumbel_key_r DESC, id
                    LIMIT 200)
            SELECT id, weight_r, gumbel_key_r FROM top ORDER BY id"""))

  /** TP12: DSIR-SELECTED CORPUS — ts27's weights deployed as the
    * selection stage (the composition DSIR exists for): keep every
    * doc at or above the corpus's 70th weight percentile. The cut is
    * the EXACT interpolated percentile of the 6-dp-rounded weights
    * (the tp5 discipline — 6-dp spacing keeps the >= boundary off an
    * engine ulp), computed as a 1-row broadcast; selection is then a
    * per-row compare. The oracle recomputes weights, cut, and
    * membership, so the seam between the weight chain and the
    * threshold — including the weightless-doc-at-0 rule — is what's
    * pinned. */
  /** TP14: SOFT DEDUP ([[Dedup.softDedupKeep]]) — the SemDeDup/D4
    * alternative to hard cluster dedup: every doc keeps weight
    * 1/|cluster| (singletons 1) and survives an independent seeded
    * coin at that probability, so duplicated content keeps its
    * natural topical mass (expected one survivor per cluster)
    * instead of collapsing to exemplar choice. The oracle recomputes
    * the full chain — LSH pairs, recursive-CTE connected components
    * (the d9 oracle), cluster sizes, 1e-9-rounded weights, and the
    * 10^4-bucket hash coin — so the seam between the cluster
    * artifact and the probabilistic keep is what's pinned. */
  private val tp14 = QueryDef(
    "tp14_soft_dedup",
    "per-doc 1/|cluster| sampling weights + seeded probabilistic keep",
    (s, dir) => {
      val corpus = dupCorpus(s, dir)
      val clusters = ConnectedComponents.duplicateClusters(
        Dedup.minhashLshPairs(corpus, "id", "text",
          shingleLen = 3, numHashes = NumHashes, bands = Bands,
          threshold = 0.6, bucketCap = CatalogCap)
          .select("id_a", "id_b"))
      Dedup.softDedupKeep(corpus, "id", clusters, seed = "tp14:")
        .select(col("id"), round(col("weight"), 6).as("weight_r"))
        .orderBy("id")
    },
    Some("WITH RECURSIVE " + dupCorpusSql + ",\n" +
      "pairs AS (WITH " + lshOracleSql(
        """tok AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t
                   FROM corpus),
           it AS (SELECT id, list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS items
                  FROM tok WHERE len(t) >= 3)""", 0.6) + "),\n" +
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |cc(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT c.node, e.dst FROM cc c JOIN edges e ON e.src = c.reach),
        |cl AS (SELECT node AS id, min(reach) AS cluster_id FROM cc
        |       GROUP BY node),
        |sz AS (SELECT cluster_id, count(*)::BIGINT AS n FROM cl
        |       GROUP BY cluster_id),
        |wt AS (SELECT corpus.id,
        |         coalesce(round(1.0 / n, 9), 1.0) AS weight
        |       FROM corpus LEFT JOIN cl ON cl.id = corpus.id
        |       LEFT JOIN sz ON sz.cluster_id = cl.cluster_id)
        |SELECT id, round(weight, 6) AS weight_r FROM wt
        |WHERE ('0x' || substr(md5('tp14:' || id::VARCHAR), 1, 15))::BIGINT
        |        % 10000 < round(weight * 10000.0)::BIGINT
        |ORDER BY id""".stripMargin))

  /** TP15: CHUNK-GRAIN NEAR-DUP BEFORE PACKING — the composition the
    * doc-grain pipeline (tp2) misses: training shards repeat at the
    * CHUNK grain (a boilerplate paragraph inside otherwise-distinct
    * docs), so the dedup that protects a shard must run between
    * chunking and packing. Composed from three gated stages, each
    * keeping its own discipline: ts7's stride-overlapped chunking of
    * both the corpus and an arriving batch (batch docs are +10000
    * perturbed copies — the d10 fixture), d10's incremental LSH probe
    * at chunk grain (corpus chunks index ONCE; only the batch's
    * chunks sign and probe — at 100 TB the corpus is the stored
    * band index, the batch is delta-sized), then sp1's shard-parallel
    * stream packing over the SURVIVING batch chunks (one ids-only
    * anti-join — the near-dup drop shape). Chunk ids are
    * doc_id·10000 + chunk_no, so the two grains stay SQL-derivable
    * and collision-free. The oracle replays the whole chain:
    * chunk windows, signatures, band join, capped candidates, exact
    * Jaccard ≥ 0.6, anti-join, hash-sharded prefix-sum packing. */
  private val tp15 = QueryDef(
    "tp15_chunk_dedup_pack",
    "chunk both sides -> chunk-grain near-dup probe -> pack survivors",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
      val batchDocs = Tables.documents(s, dir)
        .filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000).as("id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      def chunksOf(src: org.apache.spark.sql.DataFrame) =
        TextAnalysis.chunk(src, "id", "text",
          windowTokens = 64, stride = 48)
          .select((col("id") * 10000 + col("chunk_no")).as("id"),
            col("chunk_text").as("text"), col("n_tokens"))
      val corpusChunks = chunksOf(docs)
      val newChunks = chunksOf(batchDocs)
      val sigs = Dedup.lshSignatures(corpusChunks, "id", "text",
        shingleLen = 3)
      val index = Dedup.lshBandIndex(sigs, NumHashes, Bands, CatalogCap)
      val dupNew = Dedup.incrementalLshPairs(newChunks, "id", "text",
        index, sigs, shingleLen = 3, numHashes = NumHashes,
        bands = Bands, threshold = 0.6)
        .select(col("new_id").as("id")).distinct()
      val survivors = newChunks.join(dupNew, Seq("id"), "left_anti")
      graft.ops.Packing.packSummary(
        survivors.withColumn("ck", col("id").cast("string")),
        "ck", "n_tokens", budgetTokens = 256, numShards = 8)
        .orderBy("shard", "pack_no")
    },
    Some(s"""WITH dsrc AS (SELECT doc_id AS id, text FROM documents),
            nsrc AS (SELECT doc_id + 10000 AS id,
                       regexp_replace(text, '^\\S+\\s+', '') AS text
                     FROM documents WHERE doc_id % 4 = 0),
            dct AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS toks
                    FROM dsrc WHERE length(trim(text)) > 0),
            dcc AS (SELECT id, toks,
                      unnest(generate_series(0, (len(toks) - 1) // 48)) AS k
                    FROM dct),
            ccorpus AS (SELECT id * 10000 + k AS id,
                          array_to_string(toks[k*48+1 : k*48+64], ' ') AS text,
                          least(64, len(toks) - k * 48) AS n_tokens
                        FROM dcc),
            nct AS (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS toks
                    FROM nsrc WHERE length(trim(text)) > 0),
            ncc AS (SELECT id, toks,
                      unnest(generate_series(0, (len(toks) - 1) // 48)) AS k
                    FROM nct),
            cnew AS (SELECT id * 10000 + k AS id,
                       array_to_string(toks[k*48+1 : k*48+64], ' ') AS text,
                       least(64, len(toks) - k * 48) AS n_tokens
                     FROM ncc),
            ${lshSideSql("o", "ccorpus")},
            ${lshSideSql("n", "cnew")},
            ocapped AS (SELECT id, b, band_hash,
                          row_number() OVER (PARTITION BY b, band_hash
                                             ORDER BY id) AS rn
                        FROM obands),
            cand AS (SELECT DISTINCT o.id AS corpus_id, n.id AS new_id
                     FROM ocapped o JOIN nbands n
                       ON o.b = n.b AND o.band_hash = n.band_hash
                          AND o.id <> n.id
                     WHERE o.rn <= $CatalogCap),
            verif AS (SELECT corpus_id, new_id,
                        len(list_intersect(x.hs, y.hs))::DOUBLE /
                        len(list_distinct(list_concat(x.hs, y.hs)))::DOUBLE
                          AS jaccard
                      FROM cand JOIN ohashed x ON x.id = cand.corpus_id
                                JOIN nhashed y ON y.id = cand.new_id),
            dups AS (SELECT DISTINCT new_id AS id FROM verif
                     WHERE jaccard >= 0.6),
            surv AS (SELECT c.id::VARCHAR AS ck, c.n_tokens FROM cnew c
                     WHERE NOT EXISTS (SELECT 1 FROM dups d
                                       WHERE d.id = c.id)),
            h AS (SELECT ck, n_tokens,
                    ('0x' || substr(md5(ck), 1, 15))::BIGINT AS hv
                  FROM surv),
            p AS (SELECT hv % 8 AS shard, ck, n_tokens, hv,
                    coalesce(sum(n_tokens) OVER (PARTITION BY hv % 8
                      ORDER BY hv, ck
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS tok_before
                  FROM h),
            a AS (SELECT shard, (tok_before // 256)::BIGINT AS pack_no,
                         n_tokens
                  FROM p)
            SELECT shard, pack_no, count(*) AS n_chunks,
              sum(n_tokens)::BIGINT AS n_tokens,
              round(sum(n_tokens)::DOUBLE / 256, 6) AS fill
            FROM a GROUP BY 1, 2 ORDER BY shard, pack_no"""))

  private val tp12 = QueryDef(
    "tp12_dsir_selection",
    "keep docs at/above the 70th DSIR-weight percentile",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val weights = TextAnalysis.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("text").contains("vector")), "text",
        buckets = 4096)
      val cut = weights.agg(percentile(col("weight_r"), lit(0.7)).as("c"))
      weights.crossJoin(broadcast(cut))
        .filter(col("weight_r") >= col("c"))
        .select(col("id"), col("weight_r"))
        .orderBy("id")
    },
    Some(s"""WITH ${dsirChainSql()},
            cut AS (SELECT quantile_cont(weight_r, 0.7) AS c FROM dwei)
            SELECT id, weight_r FROM dwei CROSS JOIN cut
            WHERE weight_r >= c ORDER BY id"""))

  /** TP11: MULTILINGUAL CURATION — the ts26 classifier deployed as a
    * pipeline stage, the composition a multilingual corpus build
    * actually runs: plant fixture-language documents into the corpus
    * (one per 10th doc, phrase cycled by id), classify EVERY doc with
    * the fixture-trained trigram model, keep the predicted-'en'
    * slice, then apply the ts10 Gopher quality gate to the survivors.
    * The oracle recomputes the full chain (trigram ranking → language
    * filter → repetition/length algebra), so the stage seams — id
    * semantics across the union, the rank-1 filter, the survivors'
    * token counts — are all pinned, not just each stage alone. Note
    * the classifier is deliberately weak on the synthetic DB-prose
    * (3 training sentences/language): the en-filter is a REAL filter
    * (~40% of docs survive it), which is exactly what makes the
    * composition worth gating. */
  private val tp11 = QueryDef(
    "tp11_multilingual_curation",
    "trigram language filter -> keep en -> gopher quality survivors",
    (s, dir) => {
      import s.implicits._
      // 1/3 corpus slice: the classify stage pays gram-mass × |L|
      // (the op's honest cost), and the composition pin is the stage
      // SEAMS, not throughput — full-corpus tp11 was the battery's
      // heaviest line (20 s at sf0.1) for no extra semantic coverage
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("id"), col("text"))
      val phrases = array(langFixture.map(r => lit(r._2)): _*)
      val noise = docs.filter(col("id") % 10 === 0)
        .select((col("id") + 50000).as("id"),
          element_at(phrases, (col("id") % 32 + 1).cast("int")).as("text"))
      val corpus = docs.unionByName(noise)
      val train = langFixture.filter(!_._3).map(r => (r._1, r._2))
        .toDF("lang", "text")
      val en = TextAnalysis.trigramLangId(train, "lang", "text",
        corpus, "id", "text")
        .filter(col("lang") === "en").select("id")
      val kept = corpus.join(en, Seq("id"), "left_semi")
      TextAnalysis.gopherFilter(kept, "text", maxDupTokenPct = 60,
        maxTopBigramPct = 5, minTokens = 25, maxTokens = 100)
        .select(col("id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
        .orderBy("id")
    },
    Some {
      val phraseList = langFixture.map(r => s"'${r._2}'").mkString("[", ", ", "]")
      s"""WITH ltest AS (
              SELECT doc_id AS id, text FROM documents
              WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id + 50000 AS id,
                ($phraseList)[(doc_id % 32 + 1)::INT] AS text
              FROM documents WHERE doc_id % 3 = 0 AND doc_id % 10 = 0),
            $trigramLangSql,
            en AS (SELECT id FROM lng WHERE rn = 1 AND lang = 'en'),
            kept AS (SELECT id, text FROM ltest
                     WHERE id IN (SELECT id FROM en)),
            ${gopherChainSql("q", "kept", "id")},
            ${gopherKeepSql("q", "id", 25, 100, 60, 5)}
            SELECT id, n_tokens::BIGINT AS n_tokens
            FROM qkeep ORDER BY id"""
    })

  /** TS25: INCREMENTAL BM25 INDEX MAINTENANCE
    * ([[TextAnalysis.bm25AppendIndex]]) — the d10 append discipline
    * for the lexical family: ts21 builds once and probes; this gate
    * builds over HALF the corpus, folds the other half in as an
    * O(delta) append (new postings land as insert-only bucket files —
    * nothing stored is read or rewritten; the vocabulary-sized stats
    * frame alone replaces), then probes the grown index. The oracle
    * is the from-scratch BM25 chain over the FULL corpus, so the gate
    * pins append ≡ rebuild bit-exactly: per-doc (tf, dl) depend only
    * on the doc's own text and the corpus stats (df, n, total_dl) are
    * additive, so the integer inputs are equal by construction and
    * the shared scoring tree does the rest. */
  private val ts25 = QueryDef(
    "ts25_bm25_append_probe",
    "BM25 probe after O(delta) index append ≡ from-scratch rebuild",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = graft.ops.Scratch.tempDir("graft-ts25-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      TextAnalysis.bm25BuildIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", store)
      TextAnalysis.bm25AppendIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", store)
      TextAnalysis.bm25TopKStored(s, store,
        query = Seq("sort", "window", "stream"), k = 10)
        .orderBy("rank")
    },
    Some(s"""WITH ${bm25ChainSql(Seq("sort", "window", "stream"))}
            SELECT rank, id, round(score, 6) AS score_r
            FROM bmranked WHERE rank <= 10 ORDER BY rank"""))

  /** TS28: BM25 REINDEX OF CHANGED DOCUMENTS
    * ([[TextAnalysis.bm25ReindexDocs]]) — closes the lexical
    * family's last maintenance gap (ts21 builds, ts25 appends; this
    * gate MUTATES). The engine builds the stored index over the full
    * corpus, then re-feeds every doc_id % 7 == 0 with its first
    * token dropped: the changed docs' old postings die by per-id
    * tombstone, the new text appends under a bumped generation, and
    * the stats frame shifts by exactly the dead/new difference
    * (df, n, total_dl) — so the probe over the mutated index must
    * equal the from-scratch BM25 chain over the MUTATED corpus,
    * which is the oracle (same chain as ts17/ts21/ts25 with the
    * mutation CTE swapped in). Dropping the first token changes
    * every mutated doc's dl and hence total_dl/avgdl, shifting ALL
    * scores — a stale or double-counted stats frame cannot
    * hash-pass. */
  private val ts28 = QueryDef(
    "ts28_bm25_reindex_probe",
    "BM25 probe after tombstone reindex ≡ rebuild over mutated corpus",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = graft.ops.Scratch.tempDir("graft-ts28-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      TextAnalysis.bm25BuildIndex(docs, "doc_id", "text", store)
      TextAnalysis.bm25ReindexDocs(
        docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text")),
        "doc_id", "text", store)
      TextAnalysis.bm25TopKStored(s, store,
        query = Seq("sort", "window", "stream"), k = 10)
        .orderBy("rank")
    },
    Some(s"""WITH mutated AS (SELECT doc_id,
              CASE WHEN doc_id % 7 = 0
                   THEN regexp_replace(text, '^\\S+\\s+', '')
                   ELSE text END AS text
            FROM documents),
            ${bm25ChainSql(Seq("sort", "window", "stream"), "mutated")}
            SELECT rank, id, round(score, 6) AS score_r
            FROM bmranked WHERE rank <= 10 ORDER BY rank"""))

  /** TS19: CORPUS TEXT CLEANING ([[TextAnalysis.cleanText]]) — NFC
    * canonical composition (native codegen'd expression; DuckDB's
    * `nfc_normalize` implements the same Unicode standard, which is
    * what makes this oracle exact) → control/zero-width strip (class
    * shared verbatim, the ts5 discipline) → whitespace collapse →
    * trim. The gate manufactures the mess deterministically on every
    * doc: a decomposed e+U+0301 (must compose), a zero-width space
    * and a control byte (must strip — built via chr() on the oracle
    * side so no raw control byte rides the SQL text), tab runs (must
    * collapse). Output includes the char count so a silent
    * normalization no-op cannot hash-pass. */
  private val ts19 = QueryDef(
    "ts19_text_clean",
    "NFC + control-strip + whitespace-collapse text cleaning",
    (s, dir) => {
      val messy = concat(col("text"),
        lit(" Cafe\u0301  du\u200B\u0001 Parc\t "))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.cleanText(messy).as("clean"))
        .withColumn("n_chars", length(col("clean")))
        .orderBy("doc_id")
    },
    Some(s"""WITH messy AS (SELECT doc_id,
              text || ' Cafe' || chr(769) || '  du' || chr(8203) ||
                chr(1) || ' Parc' || chr(9) || ' ' AS text
              FROM documents),
            cleaned AS (SELECT doc_id,
              trim(regexp_replace(regexp_replace(
                nfc_normalize(text),
                '${TextAnalysis.ControlAndZeroWidthClass}', '', 'g'),
                '\\s+', ' ', 'g')) AS clean
              FROM messy)
            SELECT doc_id, clean, length(clean) AS n_chars
            FROM cleaned ORDER BY doc_id"""))

  /** TS20: PER-DOMAIN URL ANALYTICS ([[TextAnalysis.domainStats]]) —
    * the domain-curation signal (blocklists, per-domain caps). The
    * gate plants TWO deterministic URLs per doc (one mixed-case host,
    * pinning the lowercase rule; domains recur across docs via the
    * mod classes, pinning the distinct-doc vs occurrence split).
    * Integer-only output; the host regex class is shared verbatim. */
  private val ts20 = QueryDef(
    "ts20_domain_stats",
    "per-domain URL occurrences, distinct docs, token mass",
    (s, dir) => {
      val withUrl = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" http://site"), col("doc_id") % 23,
          lit(".example.com/p"), col("doc_id"),
          lit(" and https://MIRROR"), col("doc_id") % 7,
          lit(".example.org/x")).as("text"))
      TextAnalysis.domainStats(withUrl, "doc_id", "text")
        .orderBy("domain")
    },
    Some("""WITH withurl AS (SELECT doc_id,
              text || ' http://site' || (doc_id % 23) ||
                '.example.com/p' || doc_id ||
                ' and https://MIRROR' || (doc_id % 7) ||
                '.example.org/x' AS text
              FROM documents),
            toks AS (SELECT doc_id, text,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END::BIGINT AS n_tokens
              FROM withurl),
            hosts AS (SELECT doc_id, n_tokens,
              lower(unnest(regexp_extract_all(text,
                'https?://([^/ \t\n\r]+)', 1))) AS domain
              FROM toks),
            u AS (SELECT domain, count(*)::BIGINT AS n_urls
                  FROM hosts GROUP BY domain),
            d AS (SELECT domain, count(*)::BIGINT AS n_docs,
                    sum(n_tokens)::BIGINT AS tok_sum
                  FROM (SELECT DISTINCT domain, doc_id, n_tokens
                        FROM hosts)
                  GROUP BY domain)
            SELECT u.domain, n_urls, n_docs, tok_sum
            FROM u JOIN d USING (domain) ORDER BY domain"""))

  /** TS18: TRAINABLE QUALITY CLASSIFIER
    * ([[TextAnalysis.nbQualityScores]]) — multinomial naive Bayes
    * with add-one smoothing, self-trained on gopher-filter survival
    * (ts10's exact thresholds) as the label. Every model parameter
    * is an integer count and every per-token log-prob folds in
    * position order, so predicted label AND margin are bit-exact
    * cross-engine (the ts12 discipline applied to a trained
    * classifier). The oracle replicates label derivation, training
    * counts, smoothing, priors, and both folds. */
  /** The ts18 naive-Bayes oracle chain over an `nbsrc(id, text)` CTE
    * — gopher labels at the given thresholds, add-one-smoothed
    * word×label counts, priors, and the two position-ordered folds;
    * emits CTEs `t .. sc(id, s1, s0)` for consumers to select from
    * (ts18 emits predicted+margin, tp8 feeds the survivors into the
    * token-budget stage). */
  private def nbChainSql(minTokens: Int, maxTokens: Int): String =
    s"""t AS (SELECT id,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
              FROM nbsrc),
            gb AS (SELECT id, len(toks) AS n_tokens,
                     len(list_distinct(toks)) AS n_distinct,
                     list_transform(range(1, len(toks)),
                       i -> toks[i] || chr(1) || toks[i+1]) AS bg
                   FROM t),
            gm AS (SELECT id, max(cnt) AS top_n FROM (
                     SELECT id, g, count(*) AS cnt
                     FROM (SELECT id, unnest(bg) AS g FROM gb)
                     GROUP BY id, g) GROUP BY id),
            lab AS (SELECT gb.id,
                      CASE WHEN n_tokens >= $minTokens
                            AND n_tokens <= $maxTokens
                            AND (n_tokens - n_distinct) * 100 <= n_tokens * 60
                            AND coalesce(top_n, 0) * 100 <= len(bg) * 5
                           THEN 1 ELSE 0 END AS y
                    FROM gb LEFT JOIN gm ON gb.id = gm.id),
            x AS (SELECT t.id, lab.y, i AS pos, toks[i] AS w
                  FROM t JOIN lab ON t.id = lab.id,
                    unnest(generate_series(1, len(toks))) AS u(i)),
            wm AS (SELECT w,
                     sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
                     sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS c0
                   FROM x GROUP BY w),
            stats AS (SELECT sum(c1)::BIGINT AS tot1,
                        sum(c0)::BIGINT AS tot0,
                        count(*)::BIGINT AS v FROM wm),
            priors AS (SELECT
                sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS nd1,
                sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nd0,
                count(*)::BIGINT AS n
              FROM lab),
            lpx AS (SELECT x.id, x.pos,
                      ln((c1 + 1)::DOUBLE / (tot1 + v)::DOUBLE) AS lp1,
                      ln((c0 + 1)::DOUBLE / (tot0 + v)::DOUBLE) AS lp0
                    FROM x JOIN wm USING (w) CROSS JOIN stats),
            folded AS (SELECT id,
                list_reduce(list_prepend(0.0::DOUBLE, list(lp1 ORDER BY pos)),
                  (a, b) -> a + b) AS w1,
                list_reduce(list_prepend(0.0::DOUBLE, list(lp0 ORDER BY pos)),
                  (a, b) -> a + b) AS w0
              FROM lpx GROUP BY id),
            sc AS (SELECT l.id,
                     ln(nd1::DOUBLE / n::DOUBLE) + coalesce(w1, 0.0) AS s1,
                     ln(nd0::DOUBLE / n::DOUBLE) + coalesce(w0, 0.0) AS s0
                   FROM lab l LEFT JOIN folded f ON l.id = f.id
                   CROSS JOIN priors)"""

  private val ts18 = QueryDef(
    "ts18_nb_quality_classifier",
    "naive-Bayes quality classifier, self-trained on gopher labels",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val pass = TextAnalysis.gopherFilter(docs, "text",
        maxDupTokenPct = 60, maxTopBigramPct = 5,
        minTokens = 25, maxTokens = 100)
        .select(col("doc_id")).withColumn("__q", lit(true))
      val labeled = docs.join(pass, Seq("doc_id"), "left")
        .withColumn("quality", coalesce(col("__q"), lit(false)))
      TextAnalysis.nbQualityScores(labeled, "doc_id", "text", "quality")
        .orderBy("id")
    },
    Some(s"""WITH nbsrc AS (SELECT doc_id AS id, text FROM documents),
            ${nbChainSql(25, 100)}
            SELECT id, CASE WHEN s1 > s0 THEN 1 ELSE 0 END AS predicted,
                   round(s1 - s0, 6) AS margin_r
            FROM sc ORDER BY id"""))

  /** TP8: the QUALITY-PIPELINE composition over this round's text
    * ops — clean (ts19, with the manufactured mess so the stage
    * provably does work) → gopher-labeled NB classifier (ts18, over
    * the CLEANED text) → keep predicted-quality docs → per-language
    * token budget in margin order (sm7's rule). One oracle stands up
    * all four stages from the shared builders; every ordering key is
    * either integer or a 6-dp-rounded margin with an id tiebreak. */
  private val tp8 = QueryDef(
    "tp8_curation_v5",
    "clean -> NB-classify -> per-lang token budget, end to end",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
      val cleaned = docs.withColumn("text", TextAnalysis.cleanText(
        concat(col("text"), lit(" Cafe\u0301  du\u200B\u0001 Parc\t "))))
      val pass = TextAnalysis.gopherFilter(cleaned, "text",
        maxDupTokenPct = 60, maxTopBigramPct = 5,
        minTokens = 25, maxTokens = 110)
        .select(col("doc_id")).withColumn("__q", lit(true))
      val labeled = cleaned.join(pass, Seq("doc_id"), "left")
        .withColumn("quality", coalesce(col("__q"), lit(false)))
      val scored = TextAnalysis.nbQualityScores(labeled, "doc_id", "text",
        "quality")
        .filter(col("predicted") === 1)
      val kept = cleaned
        .join(scored.select(col("id").as("doc_id"), col("margin_r")),
          Seq("doc_id"))
        .withColumn("tok", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      Sampling.tokenBudgetCap(kept, "lang", col("tok"), budget = 2000L,
        Seq(col("margin_r").desc, col("doc_id").asc))
        .select(col("lang"), col("doc_id"), col("tok"), col("cum_tokens"))
        .orderBy("lang", "doc_id")
    },
    Some(s"""WITH messy AS (SELECT doc_id, lang,
              text || ' Cafe' || chr(769) || '  du' || chr(8203) ||
                chr(1) || ' Parc' || chr(9) || ' ' AS text
              FROM documents),
            nbsrc AS (SELECT doc_id AS id, lang,
              trim(regexp_replace(regexp_replace(
                nfc_normalize(text),
                '${TextAnalysis.ControlAndZeroWidthClass}', '', 'g'),
                '\\s+', ' ', 'g')) AS text
              FROM messy),
            ${nbChainSql(25, 110)},
            kept AS (SELECT sc.id, nbsrc.lang,
                       len(t.toks)::BIGINT AS tok,
                       round(s1 - s0, 6) AS margin_r
                     FROM sc JOIN t ON sc.id = t.id
                          JOIN nbsrc ON nbsrc.id = sc.id
                     WHERE s1 > s0),
            r AS (SELECT *,
                    sum(tok) OVER (PARTITION BY lang
                                   ORDER BY margin_r DESC, id
                                   ROWS UNBOUNDED PRECEDING)::BIGINT
                      AS cum_tokens
                  FROM kept)
            SELECT lang, id AS doc_id, tok, cum_tokens FROM r
            WHERE cum_tokens - tok < 2000 ORDER BY lang, doc_id"""))

  /** TP9: DOMAIN-CURATION APPLY — ts20's per-domain analytics turned
    * into the keep decision ([[Sampling.domainCappedKeep]]): the
    * C4/RefinedWeb rule "no domain may dominate the corpus". The
    * fixture plants ONE deterministic URL per doc with a manufactured
    * boilerplate mill (every 3rd doc hits spam.example.com, so one
    * domain holds a third of the crawl) next to a 23-way long tail;
    * the cap downsamples the mill to ~cap docs in expectation while
    * the tail passes whole (cap 40 binds on the mill at every SF —
    * sf0.01's 500-doc fixture puts ~167 docs on the mill). Host
    * extraction shares
    * [[TextAnalysis.UrlHostPattern]] verbatim; the keep is sm9's
    * hash-bucket rule over the 1e-9-rounded weight min(1, cap/n_d) —
    * every arithmetic step engine-portable, so FULL membership
    * compares, not just counts. */
  private val tp9 = QueryDef(
    "tp9_domain_capped_keep",
    "per-domain cap: stats -> weight -> hash keep (composed)",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" http://"),
          when(col("doc_id") % 3 === 0, lit("spam.example.com"))
            .otherwise(concat(lit("site"), col("doc_id") % 23,
              lit(".example.org"))),
          lit("/p"), col("doc_id")).as("text"))
      val withDomain = docs.select(col("doc_id"),
        lower(regexp_extract(col("text"),
          TextAnalysis.UrlHostPattern, 1)).as("domain"))
      Sampling.domainCappedKeep(withDomain, "doc_id", "domain",
        maxDocsPerDomain = 40)
        .select(col("doc_id"), col("domain"))
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (SELECT doc_id,
              text || ' http://' ||
                CASE WHEN doc_id % 3 = 0 THEN 'spam.example.com'
                     ELSE 'site' || (doc_id % 23)::VARCHAR || '.example.org'
                END || '/p' || doc_id::VARCHAR AS text
              FROM documents),
            hosts AS (SELECT doc_id,
              lower(regexp_extract(text,
                'https?://([^/ \t\n\r]+)', 1)) AS domain
              FROM docs),
            nd AS (SELECT domain, count(DISTINCT doc_id) AS n_docs
                   FROM hosts GROUP BY domain),
            w AS (SELECT domain,
                    least(1.0, round(40.0 / n_docs, 9)) AS w
                  FROM nd)
            SELECT h.doc_id, h.domain
            FROM hosts h JOIN w USING (domain)
            WHERE ('0x' || substr(md5(h.doc_id::VARCHAR), 1, 15))::BIGINT
                    % 10000 < round(w.w * 10000.0)::BIGINT
            ORDER BY h.doc_id"""))

  /** TP10: CLEANING-PIPELINE COMPOSITION v6 — the round-9 operators
    * chained the way a crawl build runs them: intra-doc line dedup
    * (ts22) → cross-doc boilerplate strip (ts23) → per-domain cap
    * (tp9) → cross-corpus LM scoring of the SURVIVORS' cleaned text
    * against the trusted en slice (ts24). The fixture plants all
    * three defects at once (a universal banner, a duplicated body
    * line, a mill-vs-tail URL); each stage must remove exactly its
    * own defect for the final scores to hash-match. The oracle
    * replays the full chain: positional dedup → distinct-doc line
    * frequency cut → domain hash keep → left-join/coalesce LM. */
  private val tp10 = QueryDef(
    "tp10_cleaning_v6",
    "line dedup -> boilerplate strip -> domain cap -> cross-LM (composed)",
    (s, dir) => {
      val paged = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n",
          lit("ACCEPT COOKIES TO CONTINUE"),
          col("text"), col("text"),
          concat(lit("visit http://"),
            when(col("doc_id") % 3 === 0, lit("spam.example.com"))
              .otherwise(concat(lit("site"), col("doc_id") % 23,
                lit(".example.org"))),
            lit("/p"), col("doc_id"))).as("text"))
      val deduped = TextAnalysis.dedupLinesWithin(paged, "doc_id", "text")
        .select(col("id"), col("clean").as("text"))
      val stripped = TextAnalysis.stripBoilerplateLines(deduped, "id",
        "text", minDocs = 10)
      val withDomain = stripped.select(col("id"), col("clean"),
        lower(regexp_extract(col("clean"),
          TextAnalysis.UrlHostPattern, 1)).as("domain"))
      val survivors = Sampling.domainCappedKeep(withDomain, "id", "domain",
        maxDocsPerDomain = 40)
      TextAnalysis.bigramLmScoreCross(
        Tables.documents(s, dir).filter(col("lang") === "en"), "text",
        survivors, "id", "clean")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("lm_score"))
        .orderBy("doc_id")
    },
    Some("""WITH src AS (SELECT doc_id,
              'ACCEPT COOKIES TO CONTINUE' || chr(10) || text || chr(10) ||
                text || chr(10) || 'visit http://' ||
                CASE WHEN doc_id % 3 = 0 THEN 'spam.example.com'
                     ELSE 'site' || (doc_id % 23)::VARCHAR || '.example.org'
                END || '/p' || doc_id::VARCHAR AS t
              FROM documents),
            arr AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM src),
            lns0 AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(a)),
                         i -> {'i': i, 'l': a[i]})) AS s
                     FROM arr),
            ln0 AS (SELECT doc_id, s.i AS i, s.l AS l FROM lns0),
            firsts AS (SELECT doc_id, l, min(i) AS fi FROM ln0
                       GROUP BY doc_id, l),
            freq AS (SELECT l FROM firsts WHERE l != ''
                     GROUP BY l HAVING count(DISTINCT doc_id) >= 10),
            kept AS (SELECT doc_id, fi, l FROM firsts
                     WHERE l NOT IN (SELECT l FROM freq)),
            clean AS (SELECT doc_id,
                        string_agg(l, chr(10) ORDER BY fi) AS ctext
                      FROM kept GROUP BY doc_id),
            hosts AS (SELECT doc_id, ctext,
                        lower(regexp_extract(ctext,
                          'https?://([^/ \t\n\r]+)', 1)) AS domain
                      FROM clean),
            ndom AS (SELECT domain, count(DISTINCT doc_id) AS n_docs
                     FROM hosts GROUP BY domain),
            w AS (SELECT domain, least(1.0, round(40.0 / n_docs, 9)) AS w
                  FROM ndom),
            surv AS (SELECT h.doc_id, h.ctext FROM hosts h JOIN w USING (domain)
                     WHERE ('0x' || substr(md5(h.doc_id::VARCHAR), 1, 15))::BIGINT
                             % 10000 < round(w.w * 10000.0)::BIGINT),
            rt AS (SELECT
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents WHERE lang = 'en'),
            rtt AS (SELECT toks FROM rt WHERE len(toks) >= 2),
            rx AS (SELECT toks[i] AS w1, toks[i+1] AS w2
                   FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                         FROM rtt)),
            c2 AS (SELECT w1, w2, count(*) AS c2 FROM rx GROUP BY w1, w2),
            c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
            v AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(toks) AS w FROM rtt)),
            t2 AS (SELECT doc_id,
              CASE WHEN length(trim(ctext)) = 0 THEN []::VARCHAR[]
                   ELSE regexp_split_to_array(trim(ctext), '\s+') END AS toks
              FROM surv),
            tt2 AS (SELECT doc_id, toks FROM t2 WHERE len(toks) >= 2),
            x2 AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
                   FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks))) AS i FROM tt2)),
            lp2 AS (SELECT x2.doc_id, x2.pos,
                      ln((coalesce(c2.c2, 0) + 1)::DOUBLE /
                         (coalesce(c1.c1, 0) + v.v)::DOUBLE) AS lp
                    FROM x2
                    LEFT JOIN c2 ON x2.w1 = c2.w1 AND x2.w2 = c2.w2
                    LEFT JOIN c1 ON x2.w1 = c1.w1
                    CROSS JOIN v),
            agg2 AS (SELECT doc_id, count(*) AS n_bigrams,
                       list(lp ORDER BY pos) AS arr
                     FROM lp2 GROUP BY doc_id),
            lmsc2 AS (SELECT doc_id, n_bigrams,
              round(list_reduce(list_prepend(0.0::DOUBLE, arr),
                      (a, b) -> a + b) / n_bigrams, 6) AS lm_score
              FROM agg2)
            SELECT doc_id, n_bigrams, lm_score FROM lmsc2
            ORDER BY doc_id"""))

  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(
          generate_series(1, len($a)),
          i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)"""

  /** The ss1/ss3 cosine, textually regenerated: dot(a,b) /
    * sqrt(dot(a,a) * dot(b,b)) with the left operand's self-dot
    * first — the operand order the pinned oracles use. */
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"

  /** SS8: ANN recall@k as a VERIFIED query
    * ([[SimilaritySearch.recallAtK]]) — IVF with probes = 2 of 32
    * cells (deliberately starved so recall is interesting) evaluated
    * against the ss1 exact ground truth; per query, hits =
    * |IVF top-5 ∩ exact top-5|. Integer-only output. The oracle
    * replicates BOTH sides (ss1's brute-force CTE and ss3's IVF CTE
    * at probes = 2) and joins them — the recall measurement itself is
    * engine-portable, which is what lets a deployment run this gate
    * on a corpus sample as a production canary. */
  private val ss8 = QueryDef(
    "ss8_ann_recall",
    "recall@5 of starved IVF ANN vs exact ground truth",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      val q = e.filter(col("id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(q, e, "id", "embedding",
        k = 5)
      val approx = SimilaritySearch.ivfTopK(q, e, "id", "embedding",
        k = 5, numCentroids = 32, probes = 2, cellCap = 1000)
      SimilaritySearch.recallAtK(exact, approx, k = 5).orderBy("query_id")
    },
    Some(s"""WITH exact AS (
              WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                         FROM embeddings WHERE vec_id < 10),
                   c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                         FROM embeddings),
                   scored AS (SELECT query_id, neighbor_id,
                                ${cosSql("qv", "cv")} AS cos
                              FROM q, c WHERE query_id != neighbor_id),
                   ranked AS (SELECT *, row_number() OVER (
                                PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
                              FROM scored)
              SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
            approx AS (
              WITH anchors AS (SELECT vec_id AS cid, embedding AS avec
                               FROM embeddings ORDER BY vec_id LIMIT 32),
                   aff AS (SELECT e.vec_id AS id, a.cid,
                             row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY ${cosSql("e.embedding", "a.avec")}
                                 DESC, a.cid) AS rn
                           FROM embeddings e, anchors a),
                   cassign AS (SELECT id AS neighbor_id, cid FROM aff
                               WHERE rn <= 1),
                   qassign AS (SELECT id AS query_id, cid FROM aff
                               WHERE id < 10 AND rn <= 2),
                   capped AS (SELECT neighbor_id, cid,
                                row_number() OVER (PARTITION BY cid
                                  ORDER BY neighbor_id) AS crn
                              FROM cassign),
                   cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
                            FROM qassign q JOIN capped c ON q.cid = c.cid
                            WHERE c.crn <= 1000
                              AND q.query_id != c.neighbor_id),
                   scored AS (SELECT query_id, neighbor_id,
                                ${cosSql("eq.embedding", "ec.embedding")} AS cos
                              FROM cand
                              JOIN embeddings eq ON eq.vec_id = cand.query_id
                              JOIN embeddings ec ON ec.vec_id = cand.neighbor_id),
                   ranked AS (SELECT *, row_number() OVER (
                                PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
                              FROM scored)
              SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5)
            SELECT e.query_id, count(a.neighbor_id) AS hits,
                   5 AS k
            FROM exact e LEFT JOIN approx a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY e.query_id ORDER BY e.query_id"""))

  /** SS10: product-quantization ANN with asymmetric distance
    * ([[SimilaritySearch.pqTopK]]) — the corpus carried as m=8
    * 4-bit-range codes instead of 64 floats, searched via per-query
    * distance-table lookups. The oracle rebuilds the whole model:
    * the first-16-by-id sample codebook, per-subspace squared-L2
    * argmin encode (`ORDER BY dist, c` = the engine's strict-<
    * fold), the query's subspace distance tables, and the j-ORDERED
    * fold of the m table lookups. Every double op is +,−,× in
    * pinned order — no ln/sqrt anywhere — so `dist` compares
    * BIT-exactly without rounding. */
  /** The ss10 PQ model's code chain: WITH cb..codes(id, j, code),
    * encd holding every (id, subspace, centroid) sub-distance —
    * shared by ss10/ss11 (ADC over all pairs) and ss13 (ADC over
    * IVF candidates). */
  /** The PQ model's code chain over a parameterized corpus source:
    * `pre` injects leading CTEs (e.g. a mutated-corpus view), `encSrc`
    * names the frame (id-named column `vec_id` unless it's a CTE with
    * `id`) the encode pass scans. The CODEBOOK always samples the
    * ORIGINAL embeddings — pinned at build time, exactly what the
    * stored-PQ mutation contract freezes (ss20). */
  private def pqCodesCtesOver(encSrc: String, encId: String,
      pre: String, cbWhere: String = ""): String =
    s"""WITH $pre cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
                   embedding AS cv
                 FROM (SELECT vec_id, embedding FROM embeddings $cbWhere
                       ORDER BY vec_id LIMIT 16)),
            sub AS (SELECT s.c, js.j,
                list_transform(generate_series(1, 8),
                  d -> s.cv[js.j * 8 + d]::DOUBLE) AS cvec
              FROM cb s, (SELECT unnest(range(0, 8)) AS j) js),
            encd AS (SELECT e.$encId AS id, s.j, s.c,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(generate_series(1, 8),
                    d -> (e.embedding[s.j * 8 + d]::DOUBLE - s.cvec[d]) *
                         (e.embedding[s.j * 8 + d]::DOUBLE - s.cvec[d]))),
                  (x, y) -> x + y) AS dist
              FROM $encSrc e, sub s),
            codes AS (SELECT id, j, c AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY id, j
                    ORDER BY dist, c) AS rn
                FROM encd) WHERE rn = 1)"""

  private lazy val pqCodesCtes: String =
    pqCodesCtesOver("embeddings", "vec_id", "")

  /** The shared ADC tail: per-query table lookups summed in j order,
    * ranked per query — appended to any code chain. */
  private lazy val pqAdcTail: String =
    """,
            paird AS (SELECT q.id AS query_id, c.id AS neighbor_id,
                c.j, q.dist
              FROM codes c JOIN encd q ON q.j = c.j AND q.c = c.code
              WHERE q.id < 10 AND q.id != c.id),
            summed AS (SELECT query_id, neighbor_id,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list(dist ORDER BY j)), (x, y) -> x + y) AS dist
              FROM paird GROUP BY query_id, neighbor_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist, neighbor_id) AS rank
              FROM summed)"""

  /** The ss10 PQ model as a reusable WITH-chain ending in
    * ranked(query_id, neighbor_id, dist, rank) — ss11's rerank
    * shortlists from the same CTEs. */
  private lazy val pqAdcCtes: String = pqCodesCtes + pqAdcTail

  private val ss10 = QueryDef(
    "ss10_pq_adc_topk",
    "product-quantization ANN: codes + asymmetric distance tables",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.pqTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, m = 8, ks = 16, dim = 64)
        .orderBy("query_id", "rank")
    },
    Some(pqAdcCtes + """
            SELECT query_id, rank, neighbor_id, dist
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** SS11: PQ shortlist-and-rerank ([[SimilaritySearch.pqRerankTopK]])
    * — the deployment shape: ADC generates a 20-candidate shortlist
    * per query from codes alone, then exact squared-L2 (the dot
    * identity a·a − 2a·b + b·b, regenerated textually by the oracle)
    * reranks only those rows. Bit-exact `l2` output — every double op
    * is +,−,× in pinned fold order. */
  private val ss11 = QueryDef(
    "ss11_pq_rerank_topk",
    "PQ ADC shortlist -> exact-L2 rerank (deployment shape)",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding"))
      SimilaritySearch.pqRerankTopK(e.filter(col("id") < 10), e,
        "id", "embedding", k = 5, shortlist = 20, m = 8, ks = 16, dim = 64)
        .orderBy("query_id", "rank")
    },
    Some(pqAdcCtes + s""",
            short AS (SELECT query_id, neighbor_id FROM ranked
                      WHERE rank <= 20),
            rer AS (SELECT s.query_id, s.neighbor_id,
                ${dotSql("eq.embedding", "eq.embedding")}
                  - 2 * ${dotSql("eq.embedding", "ec.embedding")}
                  + ${dotSql("ec.embedding", "ec.embedding")} AS l2
              FROM short s
              JOIN embeddings eq ON eq.vec_id = s.query_id
              JOIN embeddings ec ON ec.vec_id = s.neighbor_id),
            rranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY l2, neighbor_id) AS rank
              FROM rer)
            SELECT query_id, rank, neighbor_id, l2
            FROM rranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  def defs: Seq[QueryDef] =
    Seq(d1, d2, d2b, d3, d4, d4b, d5, d6, d7, d7b, d8, d9, d10, d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, g1, g2, g3, g4, dc1, dc2, dc3, dc4, ss1, ss2,
      ss3, ss4, ss5, ss6, ss7, ss8, ss9, ss10, ss11, ss12, ss13, ss14, ss15, ss16, ss17, ss18, ss19, ss20, ss21, ss22, ss23, ss24, ts1, ts2, ts3, ts4, ts5, ts6, ts7, ts8,
      ts9, ts10, ts11, ts12, ts13, ts13b, ts14, ts15, ts16, ts17, ts18, ts19, ts20, ts21, ts22, ts23, ts24, ts25, ts26, ts27, ts28, ts29, ts30, ts31, ts32, sm1, sm2, sm3, sm4, sm5, sm6, sm7, sm8, sm9, sm10, sm11, sp1,
      tp1, tp2, tp3, tp4, tp5, tp6, tp7, tp8, tp9, tp10, tp11, tp12, tp13, tp14, tp15, mm1, mm2, mm3, mm4, mm5, mm6, mm7, mm8, mm9, a7b, a8b,
      st1, st2, st3, st4, st5, st6, st7, st8, st9, st10, st11, st12, st13, st14, st15, st16, st17, st18, st19)
}
