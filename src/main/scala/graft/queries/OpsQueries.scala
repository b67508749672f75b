package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.YtFunctions
import graft.ops.Upserts

/** SURVEY §2.5 upsert/sync operators U1–U9 as verifiable queries.
  *
  * Each builds "stored" and "incoming" snapshots from the synthetic
  * tables and runs the REAL operator from [[graft.ops.Upserts]] — the
  * oracle re-derives the expected result in plain SQL. This is the
  * correctness gate for the merge library, not a re-implementation.
  */
object OpsQueries {

  /** U1: INSERT OR REPLACE — incoming replaces matched rows wholesale. */
  private val u1 = QueryDef(
    "u1_lww_upsert",
    "last-write-wins full-row upsert",
    (s, dir) => {
      val stored = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val incoming = Tables.orders(s, dir)
        .filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1.5).as("o_totalprice"))
      Upserts.upsertLastWriteWins(stored, incoming, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    Some("""WITH incoming AS (
              SELECT o_orderkey, 'U' AS o_orderstatus,
                     o_totalprice + 1.5 AS o_totalprice
              FROM orders WHERE o_orderkey < 3000)
            SELECT * FROM incoming
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders s
            WHERE NOT EXISTS (SELECT 1 FROM incoming i
                              WHERE i.o_orderkey = s.o_orderkey)
            ORDER BY o_orderkey"""))

  /** U2: INSERT OR IGNORE — stored rows always win. */
  private val u2 = QueryDef(
    "u2_insert_if_absent",
    "insert-if-absent append",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_mktsegment")
      val stored = c.filter(col("c_custkey") < 1000)
      val incoming = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), concat(lit("NEW "), col("c_name")).as("c_name"),
          col("c_mktsegment"))
      Upserts.insertIfAbsent(stored, incoming, Seq("c_custkey"))
        .orderBy("c_custkey")
    },
    Some("""WITH stored AS (SELECT c_custkey, c_name, c_mktsegment
                            FROM customer WHERE c_custkey < 1000),
                 incoming AS (SELECT c_custkey, 'NEW ' || c_name AS c_name,
                                     c_mktsegment
                              FROM customer WHERE c_mktsegment = 'BUILDING')
            SELECT * FROM stored
            UNION ALL
            SELECT * FROM incoming i
            WHERE NOT EXISTS (SELECT 1 FROM stored s
                              WHERE s.c_custkey = i.c_custkey)
            ORDER BY c_custkey"""))

  /** U3: field-subset UPDATE — only the named columns change, explicit
    * NULL goes through (presence marker, not coalesce). */
  private val u3 = QueryDef(
    "u3_partial_update",
    "partial UPDATE of matched rows",
    (s, dir) => {
      val stored = Tables.part(s, dir)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
      val updates = Tables.part(s, dir)
        .filter(col("p_size") > 40)
        .select(col("p_partkey"),
          when(col("p_partkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(lit("Brand#UPD")).as("p_brand"),
          lit(0.0).as("p_retailprice"))
      Upserts.updateSubset(stored, updates, Seq("p_partkey"),
        Seq("p_brand", "p_retailprice"))
        .orderBy("p_partkey")
    },
    Some("""WITH upd AS (
              SELECT p_partkey,
                     CASE WHEN p_partkey % 5 = 0 THEN NULL
                          ELSE 'Brand#UPD' END AS b,
                     0.0 AS rp
              FROM part WHERE p_size > 40)
            SELECT p.p_partkey, p.p_name,
                   CASE WHEN u.p_partkey IS NOT NULL THEN u.b
                        ELSE p.p_brand END AS p_brand,
                   CASE WHEN u.p_partkey IS NOT NULL THEN u.rp
                        ELSE p.p_retailprice END AS p_retailprice
            FROM part p LEFT JOIN upd u ON p.p_partkey = u.p_partkey
            ORDER BY p.p_partkey"""))

  /** U4: keyed DELETE with a composite key. */
  private val u4 = QueryDef(
    "u4_keyed_delete",
    "keyed delete as anti-join rewrite",
    (s, dir) => {
      val stored = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 500)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val removals = stored.filter(col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber")
      Upserts.deleteByKey(stored, removals, Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem l
            WHERE l_orderkey < 500 AND NOT EXISTS (
              SELECT 1 FROM lineitem r
              WHERE r.l_orderkey = l.l_orderkey
                AND r.l_linenumber = l.l_linenumber
                AND r.l_orderkey < 500 AND r.l_quantity < 5)
            ORDER BY l_orderkey, l_linenumber"""))

  /** U5: diff-sync — reconciled membership keeps stored attributes for
    * retained keys, takes remote attributes for adds, drops removes.
    * The +100 position offset on the remote side proves which side a
    * surviving row came from. */
  private val u5 = QueryDef(
    "u5_diff_sync",
    "membership diff-sync (adds/removes/retained)",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_orderkey") < 300)
      val stored = li.filter(col("l_shipdate") < "1997-01-01")
        .groupBy("l_orderkey", "l_partkey")
        .agg(min(col("l_linenumber")).as("position"))
      val remote = li.filter(col("l_quantity") > 10)
        .groupBy("l_orderkey", "l_partkey")
        .agg((min(col("l_linenumber")) + 100).as("position"))
      Upserts.diffSync(stored, remote, Seq("l_orderkey", "l_partkey"))
        .synced.orderBy("l_orderkey", "l_partkey")
    },
    Some("""WITH base AS (SELECT * FROM lineitem WHERE l_orderkey < 300),
                 stored AS (SELECT l_orderkey, l_partkey,
                              min(l_linenumber) AS position
                            FROM base WHERE l_shipdate < '1997-01-01'
                            GROUP BY 1, 2),
                 remote AS (SELECT l_orderkey, l_partkey,
                              min(l_linenumber) + 100 AS position
                            FROM base WHERE l_quantity > 10
                            GROUP BY 1, 2)
            SELECT s.* FROM stored s
            WHERE EXISTS (SELECT 1 FROM remote r
                          WHERE r.l_orderkey = s.l_orderkey
                            AND r.l_partkey = s.l_partkey)
            UNION ALL
            SELECT r.* FROM remote r
            WHERE NOT EXISTS (SELECT 1 FROM stored s
                              WHERE s.l_orderkey = r.l_orderkey
                                AND s.l_partkey = r.l_partkey)
            ORDER BY l_orderkey, l_partkey"""))

  /** U6: conditional upsert — "timestamped transcripts always win"
    * (new wins iff it has timestamps or the old one doesn't), driven
    * by the real F5 predicate. Text is synthesized so the condition
    * splits all four ways deterministically. */
  private val u6 = QueryDef(
    "u6_conditional_upsert",
    "conditional transcript upsert (timestamped wins)",
    (s, dir) => {
      val ids = Tables.documents(s, dir).select("doc_id")
      val stored = ids.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("[01:23] stored text"))
          .otherwise(lit("stored text")).as("transcript"))
      val incoming = ids.filter(col("doc_id") < 250)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("[00:45] new version"))
            .otherwise(lit("new plain version")).as("transcript"))
      Upserts.conditionalUpsert(stored, incoming, Seq("doc_id")) { (inc, old) =>
        YtFunctions.hasTimestamps(inc("transcript")) ||
          !YtFunctions.hasTimestamps(old("transcript"))
      }.orderBy("doc_id")
    },
    Some("""WITH stored AS (
              SELECT doc_id, CASE WHEN doc_id % 2 = 0
                THEN '[01:23] stored text' ELSE 'stored text' END AS transcript
              FROM documents),
            incoming AS (
              SELECT doc_id, CASE WHEN doc_id % 3 = 0
                THEN '[00:45] new version' ELSE 'new plain version' END AS transcript
              FROM documents WHERE doc_id < 250),
            ts AS (SELECT s.doc_id, s.transcript AS old_t, i.transcript AS new_t,
                     (i.doc_id IS NOT NULL) AS matched,
                     CASE WHEN i.doc_id IS NULL THEN false
                          ELSE regexp_matches(i.transcript, '\[\d{1,2}:\d{2}\]')
                            OR NOT regexp_matches(s.transcript, '\[\d{1,2}:\d{2}\]')
                     END AS wins
                   FROM stored s LEFT JOIN incoming i ON s.doc_id = i.doc_id)
            SELECT doc_id,
                   CASE WHEN matched AND wins THEN new_t ELSE old_t END AS transcript
            FROM ts ORDER BY doc_id"""))

  /** U7: freshness-gated refresh work list — null or stale timestamps
    * only; `now` injected for reproducibility. */
  private val u7 = QueryDef(
    "u7_freshness_gate",
    "freshness-threshold refresh filter",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"),
          when(col("event_id") % 97 === 0, lit(null).cast("timestamp"))
            .otherwise(col("ts")).as("ts_n"))
      val now = to_timestamp(lit("2024-01-25 00:00:00"))
      Upserts.freshnessGate(ev, "ts_n", now, 7)
        .select("event_id").orderBy("event_id")
    },
    Some("""SELECT event_id FROM (
              SELECT event_id, CASE WHEN event_id % 97 = 0 THEN NULL
                                    ELSE ts END AS ts_n FROM events)
            WHERE ts_n IS NULL
               OR ts_n < TIMESTAMP '2024-01-25 00:00:00' - INTERVAL 7 DAY
            ORDER BY event_id"""))

  /** U8: idempotent-job ledger — skip already-processed work items. */
  private val u8 = QueryDef(
    "u8_ledger_skip",
    "processed-ledger anti-join",
    (s, dir) => {
      val work = Tables.orders(s, dir).select(col("o_custkey")).distinct()
      val ledger = Tables.customer(s, dir)
        .filter(col("c_custkey") < 750).select("c_custkey")
      Upserts.skipProcessed(work, ledger, "o_custkey", "c_custkey")
        .orderBy("o_custkey")
    },
    Some("""SELECT DISTINCT o_custkey FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_custkey < 750)
            ORDER BY o_custkey"""))

  /** U9: ping lifecycle — append-only status log; the current-status
    * view is latest-per-key joined with per-key ping counts (derived,
    * never UPDATEd). */
  private val u9 = QueryDef(
    "u9_ping_lifecycle",
    "append-only status log → latest status + ping counts",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val latest = Upserts.latestByKey(ev, Seq("user_id"),
        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type").as("latest_status"))
      val counts = ev.groupBy("user_id").agg(count(lit(1)).as("n_pings"))
      latest.join(counts, "user_id").orderBy("user_id")
    },
    Some("""WITH latest AS (
              SELECT user_id, event_type AS latest_status
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
              WHERE rn = 1),
            counts AS (SELECT user_id, count(*) AS n_pings FROM events
                       GROUP BY user_id)
            SELECT l.user_id, l.latest_status, c.n_pings
            FROM latest l JOIN counts c ON l.user_id = c.user_id
            ORDER BY l.user_id"""))

  /** U10: STORE MAINTENANCE IS A SEMANTIC NO-OP — the lakehouse
    * OPTIMIZE pass composed end to end over the real versioned
    * store: three sequential O(delta) bucketed LWW upserts (the
    * streaming ingest loops' commit shape — each fragments the
    * buckets it touches; batch 2 overwrites half of batch 1's keys,
    * exercising the merge), then [[graft.ops.ParquetTableStore
    * .compactBuckets]] (small-files compaction), then
    * [[graft.ops.Layout.zorderPublish]] (the scan-optimized publish
    * artifact, z-clustered on (n_chars, doc_id)). The gate reads the
    * PUBLISHED table: its content must equal the plain LWW fold of
    * the three batches — compaction and re-layout may touch every
    * byte of the physical layout but not one row of the logical
    * table. File-count/clustering effects are spec-pinned
    * (StoreCompactionSpec / LayoutSpec); the oracle pins the
    * no-op. */
  private val u10 = QueryDef(
    "u10_maintenance_noop",
    "bucketed upserts -> compact -> z-order publish: content unchanged",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val root = graft.ops.Scratch.tempDir("graft-u10-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      val b1 = d.filter(col("doc_id") % 3 === 0)
      val b2 = d.filter(col("doc_id") % 3 === 1)
        .unionByName(d.filter(col("doc_id") % 6 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
            col("n_chars")))
      val b3 = d.filter(col("doc_id") % 3 === 2)
      Seq(b1, b2, b3).foreach(b =>
        store.upsertBucketed(s, "corpus", b, Seq("doc_id"), numBuckets = 8))
      store.compactBuckets(s, "corpus", maxFilesPerBucket = 1)
      graft.ops.Layout.zorderPublish(s, store, "corpus", "corpus_pub",
        "n_chars", "doc_id", numFiles = 4)
      store.read(s, "corpus_pub")
        .select(col("doc_id"), col("text"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CASE WHEN doc_id % 6 = 0 THEN text || ' v2' ELSE text END
                AS text, n_chars
            FROM documents ORDER BY doc_id"""))

  /** U11: N-COLUMN Z-ORDER PUBLISH IS A SEMANTIC NO-OP — u10's
    * maintenance pin extended to the multi-axis curve real lakehouse
    * OPTIMIZE takes (3-4 columns): the fact-table shape, lineitem
    * z-clustered on (l_orderkey, l_partkey, l_suppkey) so scans
    * filtered by order, part, OR supplier all prune files. The gate
    * reads the PUBLISHED artifact; its content must equal the source
    * row for row (the oracle is a straight projection). The measured
    * per-axis span shrink on all three axes is spec-pinned
    * (LayoutSpec). */
  private val u11 = QueryDef(
    "u11_zorder3_publish",
    "3-column z-order publish: clustered layout, content unchanged",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      val root = graft.ops.Scratch.tempDir("graft-u11-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.commit(s, "fact", li)
      graft.ops.Layout.zorderPublish(s, store, "fact", "fact_pub",
        Seq("l_orderkey", "l_partkey", "l_suppkey"), numFiles = 8)
      store.read(s, "fact_pub")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
              l_quantity
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  /** U12: ZONE-MAP-PRUNED RANGE READ ≡ FULL-SCAN FILTER — the
    * read-side completion of the u11 publish: the z-ordered artifact
    * carries a per-file min/max sidecar on its curve columns
    * ([[graft.ops.ParquetTableStore.declareZoneColumns]], written
    * version-atomically inside the version dir), and a selective
    * range predicate on any curve column reads only the files whose
    * recorded range intersects it
    * ([[graft.ops.ParquetTableStore.readZonePruned]]) — with the
    * predicate re-applied after the cut, so pruning can only skip
    * files, never rows. The oracle is the plain filter over the
    * source; the measured file-count drop is spec-pinned
    * (LayoutSpec). */
  private val u12 = QueryDef(
    "u12_zonemap_pruned_read",
    "zone-map file pruning: pruned range read ≡ full-scan filter",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      val root = graft.ops.Scratch.tempDir("graft-u12-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.commit(s, "fact", li)
      graft.ops.Layout.zorderPublish(s, store, "fact", "fact_pub",
        Seq("l_orderkey", "l_partkey", "l_suppkey"), numFiles = 8)
      store.readZonePruned(s, "fact_pub", "l_partkey", 100, 300)
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
              l_quantity
            FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
            ORDER BY l_orderkey, l_linenumber"""))

  /** U13: ZONE-MAP PRUNING ON A BUCKETED INGEST TABLE — the non-key
    * pruning u12's published artifact can't give the LIVE table:
    * [[graft.ops.ParquetTableStore.declareZoneColumns]] stamps the
    * stats columns, and every write maintains the per-file sidecar
    * O(delta) (fresh files scan, hard-linked files carry their rows).
    * The gate drives the full write surface — three log-structured
    * appends in key ranges (the time-correlated shape), an upsert
    * that REWRITES some buckets' values (stale carried stats would
    * lose the moved rows), and a compaction — then range-reads
    * through the map. The oracle is the plain fold + filter; the
    * measured file cut and sidecar ≡ recompute equality are
    * spec-pinned (ZoneMapSpec). */
  private val u13 = QueryDef(
    "u13_bucketed_zonemap_read",
    "bucketed appends+upsert+compact under a zone map: pruned read ≡ filter",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      // c2 = 2*(mx/3), NOT (2*mx)/3 — the two differ when 3 ∤ mx and
      // the oracle computes the former
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u13-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.declareZoneColumns("ev", Seq("event_id"))
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      store.appendBucketed(s, "ev", ev.filter(col("event_id") > c2),
        Seq("event_id"))
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2 &&
          col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type")),
        Seq("event_id"))
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      store.readZonePruned(s, "ev", "event_id", c1 / 2, c1 + c1 / 2)
        .orderBy("event_id")
    },
    Some("""WITH mx AS (SELECT max(event_id) AS m FROM events),
            upd AS (SELECT event_id FROM events, mx
                    WHERE event_id > m // 3 AND event_id <= 2 * (m // 3)
                      AND event_id % 100 = 0)
            SELECT e.event_id, e.user_id,
                   CASE WHEN u.event_id IS NOT NULL THEN 'UPD'
                        ELSE e.event_type END AS event_type
            FROM events e CROSS JOIN mx LEFT JOIN upd u
              ON u.event_id = e.event_id
            WHERE e.event_id >= (m // 3) // 2
              AND e.event_id <= m // 3 + (m // 3) // 2
            ORDER BY e.event_id"""))

  /** U14: CHECKPOINTED-METADATA READ ≡ FULL READ — the store's
    * 100 TB metadata path: every version carries a `_manifest` file-
    * stats sidecar maintained O(delta) (rewritten buckets re-list,
    * hard-linked buckets carry their rows), and the probe path reads
    * through O(TOUCHED) machinery only — [[graft.ops
    * .ParquetTableStore.readBucketsOf]] hands Spark exactly the
    * touched bucket dirs (discovery never walks the other 10⁵ files'
    * dirs) and compaction triggers come from the manifest, never a
    * directory walk. The gate drives the full write surface (three
    * appends, a rewriting upsert, a compaction — every manifest
    * maintenance shape) and reads a key set back through the pruned
    * path with the residual key filter applied; the oracle recomputes
    * the same fold + key filter over the source. Manifest ≡ tree
    * equality per write path is spec-pinned
    * (ParquetTableStoreSpec). */
  private val u14 = QueryDef(
    "u14_manifest_pruned_read",
    "manifest-era bucketed probe: O(touched) dir read ≡ full-read filter",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u14-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      store.appendBucketed(s, "ev", ev.filter(col("event_id") > c2),
        Seq("event_id"))
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type")),
        Seq("event_id"))
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      val keys = ev.filter(col("event_id") % 97 === 0)
        .select(col("event_id"))
      val (pruned, _) = store.readBucketsOf(s, "ev", keys)
      // pruning is an optimization — correctness comes from the
      // residual key join (the readZonePruned discipline)
      pruned.join(keys, Seq("event_id"), "left_semi")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
              CASE WHEN event_id % 100 = 0 THEN 'UPD'
                   ELSE event_type END AS event_type
            FROM events WHERE event_id % 97 = 0
            ORDER BY event_id"""))

  /** U15: CHANGE-DATA-FEED BETWEEN STORE VERSIONS
    * ([[graft.ops.ParquetTableStore.changesBetween]]) — the second-
    * consumer contract: keyed inserts/updates/deletes from one
    * retained version to another, computed O(TOUCHED BUCKETS) from
    * the per-version manifests (hard links preserve file names, so a
    * bucket with an identical file set provably contributes nothing
    * — a consumer of a 100 TB table pays for the delta, not the
    * table). The gate drives the full mutation surface between the
    * endpoints — create, insert-only append, rewriting upsert (with
    * fresh keys), keyed delete ([[graft.ops.ParquetTableStore
    * .deleteBucketed]]), and a COMPACTION (file sets churn, data
    * doesn't — no phantom changes allowed) — and the oracle rebuilds
    * both snapshots in SQL and diffs them directly. The untouched-
    * buckets-never-opened claim is spec-pinned by tampering a proven-
    * identical bucket out of the old version (ParquetTableStoreSpec). */
  private val u15 = QueryDef(
    "u15_changes_between",
    "store CDC: changesBetween ≡ full two-snapshot diff oracle",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u15-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 10)
      // v0: the base snapshot the feed starts from
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      // v1: insert-only append
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      // v2: rewriting upsert — updates on stored keys + fresh keys
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") <= c2 && col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type"))
          .unionByName(ev.filter(col("event_id") % 500 === 0)
            .select((col("event_id") + lit(10L) * mx).as("event_id"),
              col("user_id"), lit("NEW").as("event_type"))),
        Seq("event_id"))
      // v3: keyed delete
      store.deleteBucketed(s, "ev",
        store.read(s, "ev").filter(col("event_id") % 171 === 0)
          .select("event_id"),
        Seq("event_id"))
      // maybe-v4: compaction — a semantic no-op the feed must not see
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      store.changesBetween(s, "ev", Seq("event_id"),
          0L, store.currentVersion("ev").get)
        .orderBy("change", "event_id")
    },
    Some("""WITH mx AS (SELECT max(event_id) AS m FROM events),
            s0 AS (SELECT event_id, user_id, event_type
                   FROM events, mx WHERE event_id <= m // 3),
            ins1 AS (SELECT event_id, user_id, event_type
                     FROM events, mx
                     WHERE event_id > m // 3 AND event_id <= 2 * (m // 3)),
            upd AS (SELECT event_id, user_id,
                      CASE WHEN event_id % 100 = 0 THEN 'UPD'
                           ELSE event_type END AS event_type
                    FROM (SELECT * FROM s0 UNION ALL SELECT * FROM ins1)),
            ins2 AS (SELECT event_id + 10 * m AS event_id, user_id,
                       'NEW' AS event_type
                     FROM events, mx WHERE event_id % 500 = 0),
            fin AS (SELECT * FROM
                      (SELECT * FROM upd UNION ALL SELECT * FROM ins2)
                    WHERE event_id % 171 <> 0)
            SELECT 'insert' AS change, f.event_id, f.user_id, f.event_type
            FROM fin f LEFT JOIN s0 ON s0.event_id = f.event_id
            WHERE s0.event_id IS NULL
            UNION ALL
            SELECT 'update', f.event_id, f.user_id, f.event_type
            FROM fin f JOIN s0 s ON s.event_id = f.event_id
            WHERE f.user_id IS DISTINCT FROM s.user_id
               OR f.event_type IS DISTINCT FROM s.event_type
            UNION ALL
            SELECT 'delete', s.event_id, s.user_id, s.event_type
            FROM s0 s LEFT JOIN fin f ON f.event_id = s.event_id
            WHERE f.event_id IS NULL
            ORDER BY change, event_id"""))

  /** U16: AUTO-MAINTENANCE POLICY
    * ([[graft.ops.ParquetTableStore.autoMaintain]]) — u10 pins
    * maintenance as a semantic no-op when INVOKED; this pins the
    * POLICY: a log-structured ingest run (five append slices, each
    * fragmenting its buckets) with the size-tiered trigger evaluated
    * after every commit — compaction fires from the manifest's
    * files-per-bucket stats, never from a directory walk, and the
    * read-back content is the invariant the oracle checks. Auto ≡
    * manual compaction and the trigger tiers (count, small-file
    * bytes, no-debt ⇒ no churn) are spec-pinned
    * (ParquetTableStoreSpec); the files-per-bucket collapse (8 → 1 at
    * ×1 and ×10) is recorded in PLANS.md "Auto-maintenance policy". */
  private val u16 = QueryDef(
    "u16_auto_maintenance",
    "size-tiered auto-compaction through an ingest run: content invariant",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u16-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 20)
      for (i <- 0 until 5) {
        store.appendBucketed(s, "docs",
          d.filter(col("doc_id") % 5 === i), Seq("doc_id"),
          numBuckets = 8)
        store.autoMaintain(s, "docs", maxFilesPerBucket = 2,
          minBytesPerFile = 0L)
      }
      store.read(s, "docs").orderBy("doc_id")
    },
    Some("SELECT doc_id, text FROM documents ORDER BY doc_id"))

  /** U17: CDC REPLICATION — replaying [[graft.ops.ParquetTableStore
    * .changesBetween]] onto a replica bootstrapped from the base
    * snapshot reconstructs the head table EXACTLY, and the whole span
    * lands as ONE atomic version publish ([[graft.ops
    * .ParquetTableStore.applyChangesBucketed]]) — the cross-region-
    * replica contract at 100 TB: the follower pays O(changed buckets)
    * per catch-up and its readers can never observe a span's upserts
    * without its deletes (the torn state a two-commit fold exposes;
    * single-publish atomicity is spec-pinned — the replay adds
    * exactly one version). The source runs the full mutation surface
    * (append, rewriting upsert with fresh keys, keyed delete,
    * compaction); the oracle rebuilds the head content in SQL. */
  private val u17 = QueryDef(
    "u17_cdc_apply",
    "CDC replication: base snapshot + one atomic change replay ≡ head",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u17-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 10)
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      val vBase = store.currentVersion("ev").get
      // the replica bootstraps ZERO-COPY from the base snapshot it
      // will replay on (cloneTable — u19's primitive; at 100 TB the
      // read-encode-write bootstrap is the failure mode), making this
      // gate the full replication recipe: link-shared bootstrap + one
      // atomic O(touched-bucket) change replay
      store.cloneTable(s, "ev", "ev_replica", Some(vBase))
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") <= c2 && col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type"))
          .unionByName(ev.filter(col("event_id") % 500 === 0)
            .select((col("event_id") + lit(10L) * mx).as("event_id"),
              col("user_id"), lit("NEW").as("event_type"))),
        Seq("event_id"))
      store.deleteBucketed(s, "ev",
        store.read(s, "ev").filter(col("event_id") % 171 === 0)
          .select("event_id"),
        Seq("event_id"))
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      val vHead = store.currentVersion("ev").get
      store.applyChangesBucketed(s, "ev_replica",
        store.changesBetween(s, "ev", Seq("event_id"), vBase, vHead),
        Seq("event_id"), numBuckets = 8)
      store.read(s, "ev_replica").orderBy("event_id")
    },
    Some("""WITH mx AS (SELECT max(event_id) AS m FROM events),
            s0 AS (SELECT event_id, user_id, event_type
                   FROM events, mx WHERE event_id <= m // 3),
            ins1 AS (SELECT event_id, user_id, event_type
                     FROM events, mx
                     WHERE event_id > m // 3 AND event_id <= 2 * (m // 3)),
            upd AS (SELECT event_id, user_id,
                      CASE WHEN event_id % 100 = 0 THEN 'UPD'
                           ELSE event_type END AS event_type
                    FROM (SELECT * FROM s0 UNION ALL SELECT * FROM ins1)),
            ins2 AS (SELECT event_id + 10 * m AS event_id, user_id,
                       'NEW' AS event_type
                     FROM events, mx WHERE event_id % 500 = 0)
            SELECT * FROM
              (SELECT * FROM upd UNION ALL SELECT * FROM ins2)
            WHERE event_id % 171 <> 0
            ORDER BY event_id"""))

  /** U18: CONSUMER-AWARE RETENTION ([[graft.ops.ParquetTableStore
    * .registerCursor]]) — the policy that makes the CDC pair
    * (u15/u17/st15) deployable: `keepVersions` is a CONSTANT, but
    * consumer lag isn't, so a slow consumer on a busy table rebases
    * over and over (st16's path — an O(table) read each time). A
    * registered cursor widens the retention window to the slowest
    * consumer (capped at the store's `maxRetained`, so a dead
    * consumer can't pin a 100 TB table's history forever — beyond
    * the cap it rebases by POLICY, not surprise). The gate replays
    * st16's exact falling-behind scenario — keepVersions=2, three
    * writer commits against a stalled consumer — but with the
    * consumer registered: every fold must stay O(delta) CDC (the
    * mode asserts go red on any rebase), and the registry must
    * RELEASE as the cursor advances (old versions prune once the
    * consumer catches up — asserted on the final version listing).
    * Same final-corpus oracle shape as st16: protection must be
    * invisible in content, visible only in cost. Runs on the EVEN-id
    * half corpus (the st11 cost discipline) — the marginal claim is
    * the retention POLICY (version counts, fold modes), which is
    * corpus-size independent; st15/st16 already price the full-mass
    * fold chain. */
  private val u18 = QueryDef(
    "u18_protected_retention",
    "registered consumer cursor widens retention: slow CDC folds never rebase",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 0)
      val root = graft.ops.Scratch.fastDir("graft-u18-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 2)
      def fold(): Boolean =
        graft.streaming.Streams.cdcTokenCountConsumerRebasing(s, store,
          consumerId = Some("tok"))
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 3 === 0), Seq("doc_id"), 8)
      val bootstrapped = fold() // registers cursor at v1
      // the stall: three commits that WOULD prune v1 under plain
      // keepVersions=2 (st16 proves it) — the registered cursor holds
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
      val second = fold() // CDC fold — NOT a rebase: v1 survived
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" v5")).as("text")),
        Seq("doc_id"), 8)
      val third = fold()
      require(!bootstrapped && !second && !third,
        s"u18: fold modes (bootstrap=$bootstrapped second=$second " +
          s"third=$third) — a true means a rebase, i.e. protection failed")
      // release: the cursor advanced to v3 before v4 published, so
      // v0-v2 must be GONE — protection never outlives its consumer
      val retained = store.versions("corpus")
      require(retained == Seq(3L, 4L),
        s"u18: expected retention released to [3, 4], got $retained")
      store.read(s, "doc_tokens").orderBy("doc_id")
    },
    Some("""WITH fin AS (SELECT doc_id,
              CASE WHEN doc_id % 11 = 0 THEN text || ' v5'
                   WHEN doc_id % 7 = 0 THEN text || ' v4'
                   WHEN doc_id % 9 = 0 THEN text || ' v2'
                   ELSE text END AS text
            FROM documents
            WHERE doc_id % 2 = 0
              AND (doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 13 <> 0))
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+'))
              END::BIGINT AS n_tokens
            FROM fin ORDER BY doc_id"""))

  /** U19: ZERO-COPY CLONE ([[graft.ops.ParquetTableStore
    * .cloneTable]]) — the replica/dev-fork bootstrap primitive: a new
    * table published at a source version by SHARING every data file
    * (hard links / server-side copies) and carrying the sidecars, no
    * parquet decode or rewrite — at 100 TB the bootstrap u17 pays a
    * full read-encode-write for becomes O(link calls). The gate
    * drives u17's full mutation surface (append, rewriting upsert
    * with fresh keys, keyed delete, compaction), clones the head,
    * then MUTATES the clone and asserts independence both ways (the
    * source's version and content are untouched by the fork's
    * commit); the oracle rebuilds the head + the fork's own update in
    * SQL. The zero-REWRITE claim itself (every cloned file shares
    * its inode) is spec-pinned — content equality can't distinguish
    * a clone from a copy, so the gate pins semantics and the spec
    * pins the cost. */
  private val u19 = QueryDef(
    "u19_zero_copy_clone",
    "zero-copy clone at a version: fork ≡ source + fork-only mutation",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u19-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 10)
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") <= c2 && col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type"))
          .unionByName(ev.filter(col("event_id") % 500 === 0)
            .select((col("event_id") + lit(10L) * mx).as("event_id"),
              col("user_id"), lit("NEW").as("event_type"))),
        Seq("event_id"))
      store.deleteBucketed(s, "ev",
        store.read(s, "ev").filter(col("event_id") % 171 === 0)
          .select("event_id"),
        Seq("event_id"))
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      val srcV = store.currentVersion("ev").get
      store.cloneTable(s, "ev", "fork")
      // the fork mutates; the source must observe NOTHING — neither a
      // version bump nor the fork's rows
      store.upsertBucketed(s, "fork",
        store.read(s, "fork").filter(col("event_id") % 233 === 0)
          .select(col("event_id"), col("user_id"),
            lit("FORK").as("event_type")),
        Seq("event_id"))
      require(store.currentVersion("ev").contains(srcV),
        "u19: the fork's commit leaked a version into the source")
      require(store.read(s, "ev")
          .filter(col("event_type") === "FORK").limit(1).count() == 0,
        "u19: the fork's rows leaked into the source table")
      store.read(s, "fork").orderBy("event_id")
    },
    Some("""WITH mx AS (SELECT max(event_id) AS m FROM events),
            s0 AS (SELECT event_id, user_id, event_type
                   FROM events, mx WHERE event_id <= m // 3),
            ins1 AS (SELECT event_id, user_id, event_type
                     FROM events, mx
                     WHERE event_id > m // 3 AND event_id <= 2 * (m // 3)),
            upd AS (SELECT event_id, user_id,
                      CASE WHEN event_id % 100 = 0 THEN 'UPD'
                           ELSE event_type END AS event_type
                    FROM (SELECT * FROM s0 UNION ALL SELECT * FROM ins1)),
            ins2 AS (SELECT event_id + 10 * m AS event_id, user_id,
                       'NEW' AS event_type
                     FROM events, mx WHERE event_id % 500 = 0),
            fin AS (SELECT * FROM
                      (SELECT * FROM upd UNION ALL SELECT * FROM ins2)
                    WHERE event_id % 171 <> 0)
            SELECT event_id, user_id,
              CASE WHEN event_id % 233 = 0 THEN 'FORK'
                   ELSE event_type END AS event_type
            FROM fin ORDER BY event_id"""))

  /** U20: MANIFEST-PLANNED READ ≡ LISTING-PLANNED READ — round 15
    * routes EVERY store read through the `_manifest`-fed
    * [[graft.sources.ManifestFileIndex]] (no directory listing, no
    * per-file stat — the O(files)-RPCs-per-query metadata walk is
    * gone), which makes the manifest LOAD-BEARING for correctness: a
    * sidecar that lost a file silently narrows every read, one that
    * invented a file fails it. The gate drives the full write surface
    * on both table shapes — bucketed (three appends, a rewriting
    * upsert that EVOLVES the schema so old hard-linked files must
    * read the new column as null through the index, a keyed delete,
    * a compaction) and snapshot (create + LWW rewrite) — then pins
    * [[graft.ops.ParquetTableStore.read]] row-for-row against
    * [[graft.ops.ParquetTableStore.readLegacy]] (the
    * partition-discovery twin) before returning the content for the
    * oracle. Bucket-restricted and zone-pruned manifest reads are
    * pinned by u12-u15; this closes the PLAIN read path. */
  private val u20 = QueryDef(
    "u20_manifest_read_parity",
    "manifest-planned store reads ≡ listing-planned across the write surface",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u20-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 10)
      store.appendBucketed(s, "docs", d.filter(col("doc_id") % 3 === 0),
        Seq("doc_id"), numBuckets = 8)
      store.appendBucketed(s, "docs", d.filter(col("doc_id") % 3 === 1),
        Seq("doc_id"))
      // evolving upsert: fresh keys (%3=2) plus rewrites (%9=0) grow
      // an `extra` column — untouched buckets keep old-schema files
      // that must read it as null through the manifest-fed index
      store.upsertBucketed(s, "docs",
        d.filter(col("doc_id") % 3 === 2)
          .unionByName(d.filter(col("doc_id") % 9 === 0)
            .select(col("doc_id"),
              concat(col("text"), lit(" v2")).as("text")))
          .withColumn("extra",
            when(col("doc_id") % 4 === 0, col("doc_id"))
              .otherwise(lit(null).cast("long"))),
        Seq("doc_id"))
      store.deleteBucketed(s, "docs",
        d.filter(col("doc_id") % 13 === 0).select("doc_id"), Seq("doc_id"))
      store.compactBuckets(s, "docs", maxFilesPerBucket = 2)
      store.commit(s, "meta", d.filter(col("doc_id") % 7 === 0))
      store.upsert(s, "meta",
        d.filter(col("doc_id") % 35 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" s2")).as("text")),
        Seq("doc_id"))
      def pinParity(table: String): Unit = {
        val m = store.read(s, table)
        val l = store.readLegacy(s, table)
        require(m.exceptAll(l).limit(1).count() == 0 &&
          l.exceptAll(m).limit(1).count() == 0,
          s"u20: manifest-planned read of $table diverges from the " +
            "listing-planned read — the manifest lost or invented files")
      }
      pinParity("docs"); pinParity("meta")
      store.read(s, "docs")
        .select(col("doc_id"), col("text"), col("extra"),
          lit("b").as("src"))
        .unionByName(store.read(s, "meta")
          .select(col("doc_id"), col("text"),
            lit(null).cast("long").as("extra"), lit("s").as("src")))
        .orderBy("src", "doc_id")
    },
    Some("""WITH fin AS (
              SELECT doc_id,
                CASE WHEN doc_id % 9 = 0 THEN text || ' v2'
                     ELSE text END AS text,
                CASE WHEN (doc_id % 3 = 2 OR doc_id % 9 = 0)
                      AND doc_id % 4 = 0 THEN doc_id
                     ELSE NULL END AS extra
              FROM documents WHERE doc_id % 13 <> 0),
            snap AS (
              SELECT doc_id,
                CASE WHEN doc_id % 35 = 0 THEN text || ' s2'
                     ELSE text END AS text
              FROM documents WHERE doc_id % 7 = 0)
            SELECT doc_id, text, extra, 'b' AS src FROM fin
            UNION ALL
            SELECT doc_id, text, NULL AS extra, 's' AS src FROM snap
            ORDER BY src, doc_id"""))

  /** U21: MULTI-TABLE ATOMIC COMMIT ([[graft.ops.ParquetTableStore
    * .commitGroup]]/[[graft.ops.ParquetTableStore.readGroup]]) — the
    * store's per-table CAS serializes each pointer, but every
    * composed loop that commits SIBLING tables (corpus+derived,
    * ledger+survivors, postings+stats, the IVF-PQ pair) had a torn
    * window where a reader resolves the pair at different batch
    * states. The GROUP MARKER closes it generically: one CAS over
    * the explicit (table → version) vector, readers time-travel to
    * the pinned versions, member versions are cursor-protected. The
    * gate replays the exact tear deterministically — a corpus+derived
    * writer commits span 2's corpus, then a reader lands BETWEEN the
    * sibling commits: it must resolve span 1's whole vector (asserted
    * on versions, content, and the derived invariant — reds if
    * readGroup ever mixes), and after the derived fold + marker swap
    * it must see span 2's whole vector. The oracle pins the final
    * content; marker CAS conflicts and retention protection are
    * spec-pinned (StoreCasSpec). */
  private val u21 = QueryDef(
    "u21_group_atomic_commit",
    "group marker: a reader between sibling commits never sees a mixed vector",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u21-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 2)
      val base = d.filter(col("doc_id") % 2 === 0)
      def charsOf(corpusV: Long) =
        store.readVersion(s, "corpus", corpusV)
          .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      // span 1: corpus, derived, ONE marker swap over both
      store.upsertBucketed(s, "corpus", base, Seq("doc_id"), numBuckets = 8)
      val cv1 = store.currentVersion("corpus").get
      store.replaceBucketed(s, "chars", charsOf(cv1), Seq("doc_id"),
        numBuckets = 8)
      val dv1 = store.currentVersion("chars").get
      store.withCommitRetries()(store.commitGroup(
        Map("corpus" -> cv1, "chars" -> dv1), store.groupPin("pair")))
      // span 2 writer commits its FIRST sibling...
      store.upsertBucketed(s, "corpus",
        base.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" v2")).as("text")),
        Seq("doc_id"))
      val cv2 = store.currentVersion("corpus").get
      // ...and a reader lands EXACTLY here, between the sibling
      // commits: the marker still names span 1's whole vector
      val mid = store.readGroup(s, "pair")
      require(mid("corpus")._2 == cv1 && mid("chars")._2 == dv1,
        s"u21: mid-commit reader resolved (${mid("corpus")._2}, " +
          s"${mid("chars")._2}), expected span-1 ($cv1, $dv1) — " +
          "the group read mixed marker states")
      require(mid("corpus")._1
          .filter(col("text").endsWith(" v2")).limit(1).count() == 0,
        "u21: mid-commit reader saw span-2 corpus rows under the " +
          "span-1 marker — torn pair")
      require(mid("corpus")._1.join(mid("chars")._1, "doc_id")
          .filter(length(col("text")).cast("long") =!= col("n"))
          .limit(1).count() == 0,
        "u21: derived invariant broken in the group read — torn pair")
      // writer completes: derived fold, then the marker swap
      store.replaceBucketed(s, "chars", charsOf(cv2), Seq("doc_id"))
      val dv2 = store.currentVersion("chars").get
      store.withCommitRetries()(store.commitGroup(
        Map("corpus" -> cv2, "chars" -> dv2), store.groupPin("pair")))
      val fin = store.readGroup(s, "pair")
      require(fin("corpus")._2 == cv2 && fin("chars")._2 == dv2,
        "u21: final group read did not resolve the span-2 vector")
      fin("corpus")._1.join(fin("chars")._1, "doc_id")
        .select(col("doc_id"), col("text"), col("n"))
        .orderBy("doc_id")
    },
    Some("""WITH fin AS (
              SELECT doc_id,
                CASE WHEN doc_id % 6 = 0 THEN text || ' v2'
                     ELSE text END AS text
              FROM documents WHERE doc_id % 2 = 0)
            SELECT doc_id, text, length(text)::BIGINT AS n
            FROM fin ORDER BY doc_id"""))

  /** U12b: the SQL CATALOG twin of u12 — the same zone-mapped
    * publish consumed through `spark.sql` over a registered store
    * view ([[graft.sources.StoreViews]]): same oracle, same rows,
    * with the range predicate written as SQL text and planned over
    * the manifest-fed scan (pushed to parquet row groups; file-level
    * zone pruning stays the readZonePruned API's job). This is the
    * "switch to SQL and nothing changes" contract, extended from the
    * fixture tables (CatalogSeamSpec) to the store. */
  private val u12b = QueryDef(
    "u12b_sql_catalog_read",
    "store SQL view: range query over the published artifact ≡ u12's oracle",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      val root = graft.ops.Scratch.tempDir("graft-u12b-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.commit(s, "fact", li)
      graft.ops.Layout.zorderPublish(s, store, "fact", "fact_pub",
        Seq("l_orderkey", "l_partkey", "l_suppkey"), numFiles = 8)
      graft.sources.StoreViews.register(s, store, prefix = "u12b",
        tables = Seq("fact_pub"))
      s.sql("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      l_quantity
               FROM u12b_fact_pub
               WHERE l_partkey BETWEEN 100 AND 300
               ORDER BY l_orderkey, l_linenumber""")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
              l_quantity
            FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
            ORDER BY l_orderkey, l_linenumber"""))

  /** U14b: the SQL CATALOG twin of u14 — the manifest-era bucketed
    * table after its full write surface (appends, rewriting upsert,
    * compaction), consumed as SQL text over the registered view:
    * same oracle as u14's API path. The view's plan is the
    * manifest-fed scan (ManifestFileIndex — no listing), so "SQL
    * face" and "100 TB metadata path" are the same plan. */
  private val u14b = QueryDef(
    "u14b_sql_catalog_probe",
    "store SQL view: key-filtered probe over the ingest table ≡ u14's oracle",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u14b-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      store.appendBucketed(s, "ev", ev.filter(col("event_id") > c2),
        Seq("event_id"))
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type")),
        Seq("event_id"))
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      graft.sources.StoreViews.register(s, store, prefix = "u14b")
      s.sql("""SELECT event_id, user_id, event_type
               FROM u14b_ev WHERE event_id % 97 = 0
               ORDER BY event_id""")
    },
    Some("""SELECT event_id, user_id,
              CASE WHEN event_id % 100 = 0 THEN 'UPD'
                   ELSE event_type END AS event_type
            FROM events WHERE event_id % 97 = 0
            ORDER BY event_id"""))

  /** U22: CURSOR-LAG OBSERVABILITY ([[graft.ops.ParquetTableStore
    * .cursorLag]]) — u18 made retention consumer-aware; this makes
    * the resulting debt VISIBLE: one row per registered consumer
    * with its staleness (spans behind the head) and the retention it
    * is pinning (versions held below the plain-retention floor, plus
    * the bytes those versions uniquely hold). The gate drives six
    * upsert spans under keepVersions=2 with a consumer stalled at v1
    * and another at v4, asserts the physical retention matches the
    * report (v0 pruned, v1-v3 alive only through the stalled cursor,
    * protected bytes nonzero for the staller and zero for the
    * current consumer), and returns the deterministic report columns
    * against a registry-join oracle. Bytes semantics (unique-to-
    * protected-window via manifest names) are spec-pinned. */
  private val u22 = QueryDef(
    "u22_cursor_lag",
    "per-consumer retention-debt report ≡ registry-join oracle",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u22-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 2)
      for (i <- 0 to 5) {
        store.upsertBucketed(s, "corpus",
          d.filter(col("doc_id") % 6 === i), Seq("doc_id"),
          numBuckets = 8)
        if (i == 1) store.registerCursor("corpus", "slow", 1L)
        if (i == 4) store.registerCursor("corpus", "mid", 4L)
      }
      // the report must agree with the PHYSICAL state: v0 pruned
      // (below the slow cursor), v1-v3 alive only through it
      require(store.versions("corpus") == Seq(1L, 2L, 3L, 4L, 5L),
        s"u22: retention drifted: ${store.versions("corpus")}")
      val lag = store.cursorLag(s, "corpus")
      val byC = lag.collect().map(r => r.getString(0) ->
        (r.getLong(4), r.getLong(5))).toMap
      require(byC("slow")._1 == 3L && byC("slow")._2 > 0L,
        s"u22: the stalled consumer pins 3 versions of real bytes — " +
          s"got $byC")
      require(byC("mid")._1 == 0L && byC("mid")._2 == 0L,
        s"u22: the current consumer pins nothing — got $byC")
      lag.select("consumer", "cursor_version", "head_version",
        "spans_behind", "versions_protected").orderBy("consumer")
    },
    Some("""WITH registry(consumer, cursor_version) AS
              (VALUES ('mid', 4::BIGINT), ('slow', 1::BIGINT)),
            const(head, keepv, floorv) AS
              (SELECT 5::BIGINT, 2::BIGINT, 1::BIGINT),
            retained AS (SELECT unnest(generate_series(floorv, head)) AS v
                         FROM const)
            SELECT r.consumer, r.cursor_version, c.head AS head_version,
                   c.head - r.cursor_version AS spans_behind,
                   (SELECT count(*) FROM retained t, const cc
                    WHERE t.v >= r.cursor_version
                      AND t.v < cc.head - cc.keepv + 1)::BIGINT
                     AS versions_protected
            FROM registry r CROSS JOIN const c
            ORDER BY consumer"""))

  /** U23: the V2 TABLE CATALOG face ([[graft.sources.GraftCatalog]])
    * — u12b/u14b's session views bound a version at REGISTRATION and
    * went silently stale until re-registered; the catalog resolves
    * the CURRENT version at ANALYSIS time, with zero registration:
    * `spark.sql("… FROM <cat>.<table>")` after two conf keys. The
    * scan underneath is the SAME manifest-fed, zone-skipping index
    * as the programmatic read (ManifestV2FileIndex — CatalogSeamSpec
    * pins it inside the BatchScan with pushdown/pruning intact).
    * This gate runs u12's range query over the z-ordered published
    * artifact through a catalog identifier against u12's oracle. */
  private val u23 = QueryDef(
    "u23_v2_catalog_read",
    "V2 catalog read: u12's range query via catalog identifier ≡ u12's oracle",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      val root = graft.ops.Scratch.tempDir("graft-u23-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.commit(s, "fact", li)
      graft.ops.Layout.zorderPublish(s, store, "fact", "fact_pub",
        Seq("l_orderkey", "l_partkey", "l_suppkey"), numFiles = 8)
      s.conf.set("spark.sql.catalog.u23cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.u23cat.root", s"$root/store")
      s.sql("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      l_quantity
               FROM u23cat.fact_pub
               WHERE l_partkey BETWEEN 100 AND 300
               ORDER BY l_orderkey, l_linenumber""")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
              l_quantity
            FROM lineitem WHERE l_partkey BETWEEN 100 AND 300
            ORDER BY l_orderkey, l_linenumber"""))

  /** U23b: the catalog's WRITE face + analysis-time version binding —
    * u14's full bucketed write surface (appends, rewriting upsert,
    * compaction) built programmatically, then a SQL `INSERT INTO`
    * through the catalog: the insert lands as a REAL store commit
    * (CAS publish, LWW merge on the stamped `_KEYS`, manifest and
    * zone-map maintenance, retention), and the very next catalog
    * query sees it with no registration or refresh — the property
    * the session views could not have. The oracle is u14's plus the
    * inserted row. */
  private val u23b = QueryDef(
    "u23b_v2_catalog_insert",
    "V2 catalog INSERT round-trip: SQL write is a store commit, read sees it",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val (c1, c2) = (mx / 3, 2 * (mx / 3))
      val root = graft.ops.Scratch.tempDir("graft-u23b-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.appendBucketed(s, "ev", ev.filter(col("event_id") <= c1),
        Seq("event_id"), numBuckets = 8)
      store.appendBucketed(s, "ev",
        ev.filter(col("event_id") > c1 && col("event_id") <= c2),
        Seq("event_id"))
      store.appendBucketed(s, "ev", ev.filter(col("event_id") > c2),
        Seq("event_id"))
      store.upsertBucketed(s, "ev",
        ev.filter(col("event_id") % 100 === 0)
          .select(col("event_id"), col("user_id"),
            lit("UPD").as("event_type")),
        Seq("event_id"))
      store.compactBuckets(s, "ev", maxFilesPerBucket = 2)
      s.conf.set("spark.sql.catalog.u23bcat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.u23bcat.root", s"$root/store")
      val vBefore = store.currentVersion("ev").get
      s.sql("INSERT INTO u23bcat.ev VALUES " +
        "(-1L, -1L, 'SQLROW'), (-2L, -2L, 'SQLROW')")
      require(store.currentVersion("ev").contains(vBefore + 1),
        "u23b: SQL INSERT did not publish a store version")
      // the u20 invariant survives the SQL writer: manifest-planned
      // and listing-planned reads agree on the post-insert table
      require(store.read(s, "ev").count() ==
        store.readLegacy(s, "ev").count(),
        "u23b: SQL INSERT broke the manifest sidecar")
      s.sql("""SELECT event_id, user_id, event_type
               FROM u23bcat.ev
               WHERE event_id % 97 = 0 OR event_id < 0
               ORDER BY event_id""")
    },
    Some("""SELECT event_id, user_id, event_type FROM (
              SELECT event_id, user_id,
                CASE WHEN event_id % 100 = 0 THEN 'UPD'
                     ELSE event_type END AS event_type
              FROM events
              UNION ALL
              SELECT -1::BIGINT, -1::BIGINT, 'SQLROW'
              UNION ALL
              SELECT -2::BIGINT, -2::BIGINT, 'SQLROW')
            WHERE event_id % 97 = 0 OR event_id < 0
            ORDER BY event_id"""))

  /** U24: GROUP LIFECYCLE END ([[graft.ops.ParquetTableStore
    * .dropGroup]]) — [[graft.ops.ParquetTableStore.commitGroup]]
    * registers a cursor that protects the marker's versions, and
    * before this round NOTHING ever released it: a retired group (an
    * abandoned composed loop, an index pair rebuilt under a new name)
    * pinned up to `protectCap` versions on every member FOREVER — the
    * exact retention-debt class u22's report exists to expose. The
    * gate drives six upsert spans under keepVersions=2 with a marker
    * pinned at span 1, asserts the protection physically held (v1
    * retained through the burst, the lag report attributing the debt
    * to the group via its `group` column, the pinned snapshot
    * answering exactly span-≤1 content), then DROPS the group and
    * asserts the full release: listGroups empty, readGroup refusing
    * typed, and the next publish physically pruning the ex-pinned
    * version. Returns the live table content against the plain
    * upsert-fold oracle; the drop-vs-concurrent-commitGroup race and
    * the loser's cursor re-assert are spec-pinned (StoreCasSpec). */
  private val u24 = QueryDef(
    "u24_group_lifecycle",
    "dropGroup releases marker protection; pinned snapshot exact before drop",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u24-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 2)
      var pinnedV = -1L
      for (i <- 0 to 5) {
        val (_, v) = store.upsertBucketed(s, "corpus",
          d.filter(col("doc_id") % 6 === i), Seq("doc_id"), numBuckets = 8)
        if (i == 1) {
          pinnedV = v
          store.withCommitRetries()(store.commitGroup(
            Map("corpus" -> v), store.groupPin("audit")))
        }
      }
      // the marker's cursor physically held span 1 through the burst
      require(store.versions("corpus").contains(pinnedV),
        s"u24: marker protection failed: ${store.versions("corpus")}")
      require(store.listGroups == Seq("audit"),
        s"u24: listGroups drifted: ${store.listGroups}")
      // the lag report attributes the debt to the GROUP, not an
      // opaque registry string: cursor at v1, 3 versions (1,2,3)
      // alive only through it (plain floor = 5-2+1 = 4)
      val lag = store.cursorLag(s, "corpus")
        .filter(col("group") === "audit").collect()
      require(lag.length == 1 &&
        lag(0).getAs[Long]("cursor_version") == pinnedV &&
        lag(0).getAs[Long]("versions_protected") == 3L,
        s"u24: lag report wrong: ${lag.mkString(";")}")
      // the pinned snapshot answers exactly span-≤1 content
      val pinned = store.readGroup(s, "audit")("corpus")._1
      require(pinned.filter(col("doc_id") % 6 >= 2).limit(1).count() == 0,
        "u24: group read leaked post-pin spans")
      require(pinned.count() == d.filter(col("doc_id") % 6 <= 1).count(),
        "u24: group read lost pinned rows")
      // DROP: marker gone first (readers refuse typed before any
      // protection lifts), then the next publish prunes v1
      require(store.dropGroup("audit"), "u24: dropGroup found no marker")
      require(store.listGroups.isEmpty, "u24: marker survived the drop")
      require(!store.dropGroup("audit"), "u24: re-drop claimed a marker")
      val refused =
        try { store.readGroup(s, "audit"); false }
        catch { case _: IllegalStateException => true }
      require(refused, "u24: readGroup answered after the drop")
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 6 === 0), Seq("doc_id"))
      require(!store.versions("corpus").contains(pinnedV),
        "u24: dropGroup did not release the retention protection — " +
          s"v$pinnedV still retained: ${store.versions("corpus")}")
      store.read(s, "corpus").select("doc_id", "text").orderBy("doc_id")
    },
    Some("""SELECT doc_id, text FROM documents ORDER BY doc_id"""))

  /** U25: SQL TIME TRAVEL through the V2 catalog — the store's
    * versioned history surfaced as `SELECT … FROM <cat>.<t> VERSION
    * AS OF <v>` (the audit/reproducibility read: "train on the corpus
    * exactly as committed before Tuesday's rewrite"). The gate
    * commits the full corpus as one LWW version, rewrites a fifth of
    * it in a second version, confirms the HEAD read sees the rewrite,
    * then returns the PINNED version-1 read — which must equal the
    * untouched fixture (the oracle). The pinned scan plans through
    * the same manifest-fed zone-skipping index as a head read, and
    * the table is read-only; INSERT-refusal, pruned-version refusal,
    * and TIMESTAMP-AS-OF refusal are spec-pinned (CatalogSeamSpec). */
  private val u25 = QueryDef(
    "u25_time_travel",
    "VERSION AS OF reads committed history exactly; head sees the rewrite",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u25-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 4)
      val (_, v1) = store.upsertBucketed(s, "corpus", d,
        Seq("doc_id"), numBuckets = 8)
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lit("REWRITTEN").as("text")),
        Seq("doc_id"))
      s.conf.set("spark.sql.catalog.u25cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.u25cat.root", s"$root/store")
      // the head moved: the rewrite is live without the VERSION clause
      require(s.sql(
        "SELECT count(*) c FROM u25cat.corpus WHERE text = 'REWRITTEN'")
        .head.getLong(0) == d.filter(col("doc_id") % 5 === 0).count(),
        "u25: head read does not see the version-2 rewrite")
      s.sql(s"""SELECT doc_id, text FROM u25cat.corpus VERSION AS OF $v1
                ORDER BY doc_id""")
    },
    Some("""SELECT doc_id, text FROM documents ORDER BY doc_id"""))

  /** U26: SQL `DELETE FROM` through the V2 catalog ([[graft.sources
    * .GraftTable.deleteWhere]] → [[graft.ops.ParquetTableStore
    * .deleteWhere]]) — the row-level delete a curation/compliance
    * pipeline issues by CONTENT ("purge the error events and the
    * first id span"), landing O(touched buckets): one zone-skipped
    * scan locates victim buckets, only those rewrite, the rest
    * hard-link, one CAS publish. The gate deletes via SQL, asserts
    * the version advanced and the manifest invariant held, then
    * returns the surviving rows against the set-difference oracle.
    * Untranslatable-predicate refusal, DELETE-as-truncate, and the
    * no-match version no-op are spec-pinned (CatalogSeamSpec). */
  private val u26 = QueryDef(
    "u26_sql_delete",
    "SQL DELETE lands as an O(touched-buckets) store commit",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val root = graft.ops.Scratch.tempDir("graft-u26-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.upsertBucketed(s, "ev", ev, Seq("event_id"), numBuckets = 8)
      s.conf.set("spark.sql.catalog.u26cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.u26cat.root", s"$root/store")
      val vBefore = store.currentVersion("ev").get
      s.sql("""DELETE FROM u26cat.ev
               WHERE event_type = 'error' OR event_id < 500""")
      require(store.currentVersion("ev").contains(vBefore + 1),
        "u26: SQL DELETE did not publish a store version")
      // deleting again is a version no-op — no victims, no churn
      s.sql("DELETE FROM u26cat.ev WHERE event_type = 'error'")
      require(store.currentVersion("ev").contains(vBefore + 1),
        "u26: no-match DELETE churned a version")
      // the manifest invariant survived the rewrite+links version
      require(store.read(s, "ev").count() ==
        store.readLegacy(s, "ev").count(),
        "u26: SQL DELETE broke the manifest sidecar")
      s.sql("""SELECT event_id, user_id, event_type FROM u26cat.ev
               ORDER BY event_id""")
    },
    Some("""SELECT event_id, user_id, event_type FROM events
            WHERE NOT (event_type = 'error' OR event_id < 500)
            ORDER BY event_id"""))

  /** U27: SQL TIME TRAVEL BY WALL-CLOCK through the V2 catalog —
    * `SELECT … FROM <cat>.<t> TIMESTAMP AS OF <ts>`, resolving
    * against the `_commit_ts` stamp every publish writes immediately
    * before its pointer CAS ([[graft.ops.ParquetTableStore
    * .versionAsOf]]): a RECORDED commit clock, never a file-mtime
    * guess (round 15 refused this syntax for exactly that reason —
    * the stamp upgrades the refusal to a contract). The gate commits
    * the corpus, rewrites a fifth of it in a second version, confirms
    * a read at version 2's stamp sees the rewrite, then returns the
    * read AT version 1's own stamp — which must equal the untouched
    * fixture (the oracle). Before-retention and pre-stamp-history
    * refusals, the micros→millis floor, and read-only-ness are
    * spec-pinned (CatalogSeamSpec). */
  private val u27 = QueryDef(
    "u27_timestamp_as_of",
    "TIMESTAMP AS OF resolves recorded commit stamps to pinned history",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u27-")
      val store = new graft.ops.ParquetTableStore(s"$root/store",
        keepVersions = 4)
      val (_, v1) = store.upsertBucketed(s, "corpus", d,
        Seq("doc_id"), numBuckets = 8)
      Thread.sleep(5) // stamps are millis; keep v2's stamp strictly later
      store.upsertBucketed(s, "corpus",
        d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lit("REWRITTEN").as("text")),
        Seq("doc_id"))
      val ts1 = store.commitTimestamp("corpus", v1).get
      val ts2 = store.commitTimestamp("corpus", v1 + 1).get
      require(ts2 > ts1, "u27: publish stamps are not monotone")
      s.conf.set("spark.sql.catalog.u27cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.u27cat.root", s"$root/store")
      def fmt(ms: Long) = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      require(s.sql(
        s"""SELECT count(*) c FROM u27cat.corpus
            TIMESTAMP AS OF '${fmt(ts2)}'
            WHERE text = 'REWRITTEN'""").head.getLong(0) ==
          d.filter(col("doc_id") % 5 === 0).count(),
        "u27: read at version-2's stamp does not see the rewrite")
      s.sql(s"""SELECT doc_id, text FROM u27cat.corpus
                TIMESTAMP AS OF '${fmt(ts1)}' ORDER BY doc_id""")
    },
    Some("""SELECT doc_id, text FROM documents ORDER BY doc_id"""))

  /** U28: atomic `CREATE TABLE … AS SELECT` / `REPLACE TABLE … AS
    * SELECT` through the V2 catalog ([[graft.sources.StagedGraftTable]])
    * — create-WITH-data is exactly the store's create-CAS discipline
    * (which is why data-less CREATE refuses): the staged V1 write
    * lands the query result as ONE store commit, `TBLPROPERTIES
    * ('graft.keys'=…, 'graft.buckets'=…)` declaring the keyed LWW
    * layout, and REPLACE rewrites wholesale in one CAS publish while
    * INHERITING the live layout (prior version stays retained). The
    * gate CTASes the even half into a keyed table, REPLACEs it with a
    * suffixed rewrite, asserts single-commit semantics + stamped
    * keys + inherited buckets in-gate, and returns the final table vs
    * the fixture-side oracle. Collision/missing-table/PARTITIONED BY
    * refusals and failed-CTAS cleanup are spec-pinned
    * (CatalogSeamSpec). */
  private val u28 = QueryDef(
    "u28_ctas",
    "CTAS / REPLACE TABLE AS SELECT land as single atomic store commits",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = graft.ops.Scratch.tempDir("graft-u28-")
      val store = new graft.ops.ParquetTableStore(s"$root/store")
      store.upsertBucketed(s, "corpus", d, Seq("doc_id"), numBuckets = 8)
      s.conf.set("spark.sql.catalog.u28cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.u28cat.root", s"$root/store")
      s.sql("""CREATE TABLE u28cat.evens
               TBLPROPERTIES('graft.keys'='doc_id','graft.buckets'='4')
               AS SELECT doc_id, text FROM u28cat.corpus
               WHERE doc_id % 2 = 0""")
      val vCreate = store.currentVersion("evens").getOrElse(
        throw new IllegalStateException("u28: CTAS did not create"))
      require(store.keyColumns("evens").contains(Seq("doc_id")),
        "u28: CTAS did not stamp the declared keys")
      require(store.numBuckets("evens").contains(4),
        "u28: CTAS did not honor the declared bucket count")
      s.sql("""REPLACE TABLE u28cat.evens AS
               SELECT doc_id, concat(text, '!') AS text FROM u28cat.corpus
               WHERE doc_id % 2 = 0""")
      require(store.currentVersion("evens").contains(vCreate + 1),
        "u28: REPLACE was not exactly one more commit")
      require(store.numBuckets("evens").contains(4) &&
        store.keyColumns("evens").contains(Seq("doc_id")),
        "u28: REPLACE did not inherit the keyed layout")
      s.sql("SELECT doc_id, text FROM u28cat.evens ORDER BY doc_id")
    },
    Some("""SELECT doc_id, text || '!' AS text FROM documents
            WHERE doc_id % 2 = 0 ORDER BY doc_id"""))

  def defs: Seq[QueryDef] =
    Seq(u1, u2, u3, u4, u5, u6, u7, u8, u9, u10, u11, u12, u12b, u13, u14,
      u14b, u15, u16, u17, u18, u19, u20, u21, u22, u23, u23b, u24, u25,
      u26, u27, u28)
}
