package graft.sinks

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Oracle-checked queries exercising the sink tier. q38 actually writes
  * and re-reads gzip line files (the one place a correctness query touches
  * disk — a scratch dir, removed by the OS); q39 pins the K3 LWW upsert
  * semantics as a pure batch operator. */
object SinkQueries {

  // q214's Derby seed: one embedded write per (session, data dir) — repeat
  // callers (bench reps) measure the partitioned parallel READ, which is
  // the operator under test, not the single-connection seeding insert
  // (the q64 CTAS-caching precedent, Scale.bucketedTables). Each key gets
  // its OWN database (name derived from the key hash), so interleaved
  // (session, dataset) callers never clobber each other's ORDERS_T, and
  // computeIfAbsent makes the seed happen exactly once per key even under
  // concurrent first calls.
  private val jdbcSeeded = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val jdbcDbCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Wall seconds the LAST q214 Derby seed took — reported by Bench's
    * `setup` block (the q64 bucketCtasSeconds precedent), so a
    * single-rep run (the sf1 protocol) can attribute the one-time
    * seeding insert separately from the partitioned read under test. */
  @volatile var jdbcSeedSeconds: Double = 0.0

  // ---------------------------------------------------------------- q38
  /** K1/K2 round-trip: events → "<seq> <data>" date-partitioned gzip text
    * → re-read via the F11 split → original rows. The oracle states the
    * expected reconstruction directly; a hash match proves the sink+scan
    * pair is lossless including the gzip codec and partition layout. */
  val q38 = QueryDef(
    "q38_line_sink_roundtrip",
    (s, d) => {
      val raw = Tables.events(s, d).select(
        lpad(col("event_id").cast("string"), 56, "0").as("sequenceNumber"),
        col("props").as("data"),
        col("ts"))
      val dir = QueryDef.tempDir("graft_q38_")
      LineFileSink.write(raw, dir, col("ts"))
      LineFileSink.read(s, dir)
        .select(col("sequenceNumber"), col("data"))
        .orderBy(col("sequenceNumber"))
    },
    Some("""SELECT lpad(CAST(event_id AS VARCHAR), 56, '0') AS sequenceNumber,
        props AS data
      FROM events ORDER BY sequenceNumber"""))

  // ---------------------------------------------------------------- q39
  /** K3 LWW upsert semantics (db.clj:113-134 effective behavior): deliver
    * every event twice — the redelivery carrying a newer order stamp and a
    * changed payload — and assert the operator keeps exactly the newest
    * row per key. Re-running on its own output is a no-op (idempotence;
    * asserted in SinkSpec). */
  val q39 = QueryDef(
    "q39_upsert_lww",
    (s, d) => {
      val e = Tables.events(s, d)
      val first = e.select(col("event_id"), col("value"), lit(1L).as("delivery"))
      val redelivered = e.select(col("event_id"), (col("value") * 2).as("value"), lit(2L).as("delivery"))
      JdbcUpsertSink.lastWriteWins(first.unionByName(redelivered), "event_id", col("delivery"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, value * 2 AS value, CAST(2 AS BIGINT) AS delivery
      FROM events ORDER BY event_id"""))

  // ---------------------------------------------------------------- q90
  /** S1 connector round-trip: events → seq-named gzip chunks
    * (K2 `yyyy/MM/dd/<last-seq>.records.log.gz` layout) → batch read back
    * through the `graft-records` DataSource V2 connector. The oracle states
    * the reconstruction, including the `partition` column the connector
    * derives from the date prefix — a hash match proves the connector's
    * chunk listing, gzip decode, F11 split, and prefix attribution are all
    * lossless. (The connector's streaming offset semantics are
    * RecordsSourceSpec's job; its data plane is identical batch vs
    * micro-batch — both read whole chunks.) */
  val q90 = QueryDef(
    "q90_records_source_roundtrip",
    (s, d) => {
      val raw = Tables.events(s, d).select(
        lpad(col("event_id").cast("string"), 56, "0").as("sequenceNumber"),
        col("props").as("data"),
        col("ts"))
      val dir = QueryDef.tempDir("graft_q90_")
      LineFileSink.writeSeqNamed(raw, dir, col("ts"))
      s.read.format("graft-records").load(dir)
        .orderBy(col("sequenceNumber"))
    },
    Some("""SELECT lpad(CAST(event_id AS VARCHAR), 56, '0') AS sequenceNumber,
        props AS data,
        strftime(ts, '%Y/%m/%d') AS partition
      FROM events ORDER BY sequenceNumber"""))

  // --------------------------------------------------------------- q163
  /** JSON-lines source/sink round-trip: documents → gzip JSON lines →
    * re-read with an EXPLICIT schema (schema-on-read; inference is a
    * convenience, not a contract) → original rows. Covers the JSON file
    * format tier next to q38's text lines and the parquet scans —
    * including unicode-safe string encoding through the Jackson
    * writer/reader pair. */
  val q163 = QueryDef(
    "q163_json_roundtrip",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      val dir = QueryDef.tempDir("graft_q163_") + "/out"
      docs.write.option("compression", "gzip").json(dir)
      s.read
        .schema("doc_id LONG, source STRING, lang STRING, text STRING")
        .json(dir)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source, lang, text FROM documents ORDER BY doc_id"""),
    doc = "gzip JSON-lines write + explicit-schema read; lossless round-trip")

  // --------------------------------------------------------------- q164
  /** CSV source/sink round-trip with hostile values: a synthesized column
    * carries commas, double quotes, and a newline — the cases that break
    * naive CSV handling — and must survive write → quoted-escape → read
    * byte-identically. Explicit schema + multiLine read (embedded
    * newlines make records span physical lines). */
  val q164 = QueryDef(
    "q164_csv_roundtrip",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          concat(lit("v,\""), col("source"), lit("\"\nrow:"), col("doc_id")).as("hostile"))
      val dir = QueryDef.tempDir("graft_q164_") + "/out"
      docs.write.option("header", "true").csv(dir)
      s.read
        .schema("doc_id LONG, source STRING, hostile STRING")
        .option("header", "true").option("multiLine", "true")
        .csv(dir)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source,
        'v,"' || source || '"' || chr(10) || 'row:' || CAST(doc_id AS VARCHAR) AS hostile
      FROM documents ORDER BY doc_id"""),
    doc = "CSV round-trip with commas/quotes/newlines in values; quoting contract pinned")

  // --------------------------------------------------------------- q165
  /** ORC round-trip under zstd — the remaining built-in columnar format
    * (parquet is the native tier everywhere else) plus modern-codec
    * coverage. Timestamp µs precision and array-free scalars survive the
    * writer/reader pair byte-identically; the oracle states the logical
    * identity (DuckDB cannot read ORC — the format fidelity is exactly
    * what the Spark-side round-trip proves). */
  val q165 = QueryDef(
    "q165_orc_roundtrip",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          col("value"))
      val dir = QueryDef.tempDir("graft_q165_") + "/out"
      ev.write.option("compression", "zstd").orc(dir)
      s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP, value DOUBLE")
        .orc(dir)
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id, event_type, ts, value
      FROM events ORDER BY event_id"""),
    doc = "ORC + zstd write/read round-trip; timestamp and double fidelity pinned")

  // ---------------------------------------------------------------- q187
  /** Batch CDC apply (MERGE INTO semantics) — the pure-DataFrame form of
    * the K3 sink's last-write-wins contract, run snapshot-scale instead of
    * row-at-a-time: a changelog of keyed upserts/deletes collapses to its
    * latest operation per key (`max_by` over the monotone sequence number —
    * one 8-byte-keyed aggregation, no window sort), then a single full
    * outer equi-join applies it to the base snapshot. Kept / updated /
    * inserted rows are labeled for the audit trail; keys whose latest op is
    * a delete drop out. At 100 TB both sides shuffle once on the merge key
    * (or zero times if the snapshot is bucketed by it — q64's layout), and
    * the changelog side is typically the small one: AQE broadcasts it.
    *
    * The changelog is derived deterministically from orders (seq =
    * o_orderkey; status F ⇒ delete; every 10th order re-keys to an unseen
    * entity so the insert path is exercised, not just typed). */
  val q187 = QueryDef(
    "q187_cdc_merge",
    (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      val log = Tables.orders(s, d).select(
        when(pmod(col("o_orderkey"), lit(10)) === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("key"),
        col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice").as("new_bal"))
      val latest = log.groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("new_bal")), col("seq")).as("ch"))
        .select(col("key"), col("ch.op").as("op"), col("ch.new_bal").as("new_bal"))
      base.join(latest, Seq("key"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(col("key"),
          when(col("op") === "U", col("new_bal")).otherwise(col("bal")).as("bal"),
          when(col("op").isNull, lit("kept"))
            .when(col("bal").isNull, lit("inserted"))
            .otherwise(lit("updated")).as("status"))
        .orderBy(col("key"))
    },
    Some("""WITH log AS (SELECT
          CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          o_orderkey AS seq,
          CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
          o_totalprice AS new_bal
        FROM orders),
      latest AS (SELECT key, arg_max(op, seq) AS op, arg_max(new_bal, seq) AS new_bal
        FROM log GROUP BY key),
      base AS (SELECT c_custkey AS key, c_acctbal AS bal FROM customer)
      SELECT COALESCE(b.key, l.key) AS key,
        CASE WHEN l.op = 'U' THEN l.new_bal ELSE b.bal END AS bal,
        CASE WHEN l.op IS NULL THEN 'kept'
             WHEN b.key IS NULL THEN 'inserted'
             ELSE 'updated' END AS status
      FROM base b FULL OUTER JOIN latest l ON b.key = l.key
      WHERE COALESCE(l.op, '') <> 'D'
      ORDER BY key"""),
    doc = "MERGE INTO as a batch operator: LWW changelog collapse + one full outer join; K3's semantics snapshot-scale")

  // --------------------------------------------------------------- q294
  /** The lakehouse MERGE sink end-to-end: seed customer balances into a
    * [[ManifestUpsertSink]] table (bucket-partitioned parquet + versioned
    * manifest), merge an order-derived update batch (updates for the
    * %7 customers, synthetic-key inserts for the %21 slice, an in-batch
    * LWW pair per key resolved by order number), then snapshot-read the
    * committed version back. The oracle states the merged result
    * relationally — a hash match proves the copy-on-write bucket
    * rewrite, the manifest commit, and the snapshot read reproduce MERGE
    * semantics exactly. The replay/no-op and untouched-bucket-zero-IO
    * contracts are SinkSpec's job; this row pins the data plane. */
  val q294 = QueryDef(
    "q294_manifest_merge",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q294_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(
          when(pmod(col("o_custkey"), lit(21)) === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      sink.read(s).select(col("key"), col("bal")).orderBy(col("key"))
    },
    Some("""WITH upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer)
      SELECT COALESCE(b.key, u.key) AS key, COALESCE(u.bal, b.bal) AS bal
      FROM base b FULL OUTER JOIN upd u ON u.key = b.key
      ORDER BY key"""),
    doc = "manifest-log lakehouse MERGE round-trip: copy-on-write bucket rewrite + snapshot read reproduce LWW merge semantics bit-for-bit")

  // --------------------------------------------------------------- q295
  /** Change data feed from the manifest log: the versioned manifests make
    * every un-vacuumed snapshot time-travel readable, so "what did batch
    * N change" is a full-outer diff of two committed versions — the CDC
    * readout downstream consumers (incremental re-training, cache
    * invalidation, audit) subscribe to, derived from the log rather than
    * maintained as a second pipeline. Builds q294's two-version table,
    * diffs v0 → v1 per key, and reports the per-change-type census with
    * a key checksum; the oracle reconstructs the same diff relationally.
    * Scale shape: the diff is one key-hash join of two snapshots — and
    * because bucket assignment is stable, at scale it prunes to the
    * buckets version N actually touched (the manifest lists them). */
  val q295 = QueryDef(
    "q295_manifest_cdf",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q295_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(
          when(pmod(col("o_custkey"), lit(21)) === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      val v0 = ManifestUpsertSink.readVersion(s, root, 0L)
        .select(col("key"), col("bal").as("bal0"))
      val v1 = ManifestUpsertSink.readVersion(s, root, 1L)
        .select(col("key"), col("bal").as("bal1"))
      v0.join(v1, Seq("key"), "full_outer")
        .select(col("key"),
          when(col("bal0").isNull, lit("inserted"))
            .when(col("bal1").isNull, lit("deleted"))
            .when(col("bal0") =!= col("bal1"), lit("updated"))
            .otherwise(lit("unchanged")).as("change"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_checksum"))
        .orderBy(col("change"))
    },
    Some("""WITH upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
      j AS (SELECT COALESCE(b.key, u.key) AS key,
          CASE WHEN b.key IS NULL THEN 'inserted'
               WHEN u.key IS NULL THEN 'unchanged'
               WHEN u.bal <> b.bal THEN 'updated'
               ELSE 'unchanged' END AS change
        FROM base b FULL OUTER JOIN upd u ON u.key = b.key)
      SELECT change, COUNT(*) AS n, CAST(SUM(key) AS BIGINT) AS key_checksum
      FROM j GROUP BY change ORDER BY change"""),
    doc = "manifest time-travel CDC: full-outer diff of two committed versions -> per-change-type census; the log IS the change feed")

  // --------------------------------------------------------------- q298
  /** The merge-time change feed: [[ManifestUpsertSink.upsertBatch]] records
    * (key, inserted|updated, old/new payload hash) for every key it merges,
    * computed from the touched-bucket rows the merge reads anyway — so
    * "what did batch N change" is a direct read of `_changes/v<N>`
    * (O(changed rows)), not a full-outer snapshot diff (O(table), q295's
    * shape). Builds q294's two-version table and censuses the v1 feed;
    * the oracle reconstructs the identical census relationally — a key in
    * the update batch is `inserted` iff absent from the base, `updated`
    * otherwise, exactly the feed's contract (the feed records physical
    * rewrites, so value-identical updates stay `updated`; the old/new
    * hashes are what lets a consumer drop them). A hash match against the
    * same history q295 diffs IS the feed==diff equivalence, pinned
    * row-for-row in SinkSpec's change-feed case. */
  val q298 = QueryDef(
    "q298_manifest_change_feed",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q298_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(
          when(pmod(col("o_custkey"), lit(21)) === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      ManifestUpsertSink.readChanges(s, root, 1L)
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_checksum"))
        .orderBy(col("change"))
    },
    Some("""WITH upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key FROM customer),
      j AS (SELECT u.key,
          CASE WHEN b.key IS NULL THEN 'inserted' ELSE 'updated' END AS change
        FROM upd u LEFT JOIN base b ON b.key = u.key)
      SELECT change, COUNT(*) AS n, CAST(SUM(key) AS BIGINT) AS key_checksum
      FROM j GROUP BY change ORDER BY change"""),
    doc = "merge-time row-level CDC feed: upsertBatch records inserted/updated keys + payload hashes as it merges; reading batch N's changes is O(changed rows), not an O(table) snapshot diff")

  // --------------------------------------------------------------- q300
  /** The lakehouse table's SQL surface: build q294's two-version table,
    * then read the v0 snapshot back through `format("graft-manifest")`
    * with `versionAsOf` — time travel through the DSv2 connector instead
    * of the Scala API — and push a filter + projection through it. The
    * connector only resolves the manifest (the same snapshotFiles path
    * the Scala reads use) and delegates to the stock parquet scan, so the
    * filter lands in PushedFilters and only (key, bal) is read — pinned
    * by SinkSpec's plan assertion; THIS row pins the data: the filtered
    * v0 snapshot must equal the relational statement of the seed batch. */
  val q300 = QueryDef(
    "q300_manifest_sql_surface",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q300_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_custkey").as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      s.read.format("graft-manifest").option("versionAsOf", 0L).load(root)
        .filter(col("bal") > 5000.0)
        .select(col("key"), col("bal"))
        .orderBy(col("key"))
    },
    Some("""SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer WHERE CAST(c_acctbal AS DOUBLE) > 5000 ORDER BY key"""),
    doc = "lakehouse SQL surface: versionAsOf time travel through the graft-manifest DSv2 connector, filter/projection pushed into the stock parquet scan over the snapshot's immutable files")

  // --------------------------------------------------------------- q301
  /** Incremental aggregate maintenance from the CDC feed — the reason a
    * change feed carries BEFORE/AFTER images: a downstream aggregate
    * (here per-keygroup balance totals) updates from the feed's deltas
    * alone, O(changed rows), never re-reading the table. Builds q294's
    * two-version table, reads batch 1's feed, applies
    * Σ(new − coalesce(old, 0)) per group on top of the v0 aggregate, and
    * emits it NEXT TO the v1 aggregate recomputed from the snapshot —
    * the oracle states both columns relationally, so a hash match IS the
    * proof that feed-maintained == recomputed for every group (decimal
    * accumulators both sides; exact, not approximately equal). This is
    * the IVM-over-CDC composition: the q187/q295 machinery consuming the
    * q298 feed instead of snapshots. */
  val q301 = QueryDef(
    "q301_cdc_incremental_agg",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q301_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(
          when(pmod(col("o_custkey"), lit(21)) === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      val img = "bal DOUBLE, key BIGINT, seq BIGINT" // name-sorted payload
      val dec = org.apache.spark.sql.types.DecimalType(28, 10)
      val delta = ManifestUpsertSink.readChanges(s, root, 1L)
        .select(pmod(col("key"), lit(10L)).as("grp"),
          (from_json(col("new_image"), img, Map.empty[String, String]).getField("bal")
            - coalesce(from_json(col("old_image"), img, Map.empty[String, String])
                .getField("bal"), lit(0.0))).as("d"))
        .groupBy(col("grp")).agg(sum(col("d").cast(dec)).as("delta"))
      def snapshotAgg(version: Long, alias: String) =
        ManifestUpsertSink.readVersion(s, root, version)
          .groupBy(pmod(col("key"), lit(10L)).as("grp"))
          .agg(sum(col("bal").cast(dec)).as(alias))
      snapshotAgg(0L, "v0_sum")
        .join(delta, Seq("grp"), "full_outer")
        .join(snapshotAgg(1L, "v1_sum"), Seq("grp"), "full_outer")
        .select(col("grp"),
          col("v1_sum").cast("double").as("recomputed_sum"),
          (coalesce(col("v0_sum"), lit(0).cast(dec))
            + coalesce(col("delta"), lit(0).cast(dec)))
            .cast("double").as("maintained_sum"))
        .orderBy(col("grp"))
    },
    Some("""WITH upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
      v1 AS (SELECT COALESCE(b.key, u.key) AS key, COALESCE(u.bal, b.bal) AS bal
        FROM base b FULL OUTER JOIN upd u ON u.key = b.key),
      d AS (SELECT u.key, u.bal - COALESCE(b.bal, 0) AS d
        FROM upd u LEFT JOIN base b ON b.key = u.key),
      v0g AS (SELECT key % 10 AS grp, SUM(CAST(bal AS DECIMAL(28,10))) AS s
        FROM base GROUP BY 1),
      v1g AS (SELECT key % 10 AS grp, SUM(CAST(bal AS DECIMAL(28,10))) AS s
        FROM v1 GROUP BY 1),
      dg AS (SELECT key % 10 AS grp, SUM(CAST(d AS DECIMAL(28,10))) AS s
        FROM d GROUP BY 1)
      SELECT COALESCE(v0g.grp, dg.grp, v1g.grp) AS grp,
        CAST(v1g.s AS DOUBLE) AS recomputed_sum,
        CAST(COALESCE(v0g.s, 0) + COALESCE(dg.s, 0) AS DOUBLE) AS maintained_sum
      FROM v0g FULL OUTER JOIN dg ON dg.grp = v0g.grp
      FULL OUTER JOIN v1g ON v1g.grp = COALESCE(v0g.grp, dg.grp)
      ORDER BY grp"""),
    doc = "IVM over CDC: per-group aggregate maintained from the change feed's before/after images (O(changed rows)) emitted next to the full v1 recompute — feed-maintained == recomputed, exactly, via decimal accumulators")

  // ---------------------------------------------------------------- q214
  /** JDBC as a SOURCE with partitioned parallel reads — the direction the
    * K3 tier hadn't exercised: orders round-trip through an embedded
    * Derby and come back via `spark.read.jdbc` with partitionColumn/
    * bounds/numPartitions, which is THE scale contract for relational
    * ingest (8 concurrent range-bounded connections, each executor
    * pulling its own key stripe — never one fat cursor on the driver).
    * The rollup proves values and row multiplicity survive both hops;
    * decimal accumulator for the engine-exact total.
    *
    * The embedded in-memory Derby is a LOCAL-MODE test double: embedded
    * Derby is single-JVM by design (in-memory or on-disk — the on-disk
    * form takes an exclusive JVM lock), so on a real multi-executor
    * cluster this seed is unreachable from executors. That is a property
    * of the fixture, not the operator: in production the URL points at a
    * network database (Postgres/MySQL — the K3 dialects), where the
    * partitioned parallel-read contract exercised here is exactly what
    * each executor's stripe connection does. */
  val q214 = QueryDef(
    "q214_jdbc_source",
    (s, d) => {
      val key = s"${System.identityHashCode(s)}:$d"
      val url = jdbcSeeded.computeIfAbsent(key, { _ =>
        val t0 = System.nanoTime()
        val u = s"jdbc:derby:memory:graftq214_${jdbcDbCounter.getAndIncrement()};create=true"
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").jdbc(u, "ORDERS_T", new java.util.Properties())
        jdbcSeedSeconds = (System.nanoTime() - t0) / 1e9
        u
      })
      s.read.format("jdbc")
        .option("url", url).option("dbtable", "ORDERS_T")
        .option("partitionColumn", "O_ORDERKEY")
        .option("lowerBound", "0").option("upperBound", "6000000")
        .option("numPartitions", "8")
        .load()
        .groupBy(pmod(col("O_CUSTKEY"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("O_TOTALPRICE").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("bucket"))
    },
    Some("""SELECT o_custkey % 10 AS bucket, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY bucket"""),
    doc = "JDBC source with range-partitioned parallel reads (8 key stripes); Derby round-trip, values pinned")

  // ---------------------------------------------------------------- q215
  /** `binaryFile` source → real codec: the multimodal INGEST path end to
    * end. Known-geometry PNGs are written with ImageIO, read back as
    * binary rows by the binaryFile source (the format for media lakes:
    * no parsing at scan, pushdown on path/size, each file one row), and
    * decoded by the real DecodeImage — the oracle knows the geometry in
    * closed form, so the whole source→decode chain is value-checked. */
  val q215 = QueryDef(
    "q215_binaryfile_ingest",
    (s, d) => {
      import java.awt.image.BufferedImage
      val dir = QueryDef.tempDir("graft_q215_")
      (0 until 12).foreach { i =>
        val img = new BufferedImage(8 + i, 5 + (i % 3), BufferedImage.TYPE_INT_RGB)
        javax.imageio.ImageIO.write(img, "png", new java.io.File(dir, f"img_$i%02d.png"))
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.png").load(dir)
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast("int").as("i"),
          graft.ext.Multimodal.decode(col("content")).as("m"))
        .select(col("i"), col("m.width").as("width"),
          col("m.height").as("height"), col("m.format").as("format"))
        .orderBy(col("i"))
    },
    Some("""SELECT CAST(i AS INT) AS i, CAST(8 + i AS INT) AS width,
        CAST(5 + (i % 3) AS INT) AS height, 'image' AS format
      FROM range(12) t(i) ORDER BY i"""),
    doc = "binaryFile media-lake ingest -> real ImageIO decode; closed-form geometry oracle")

  // ---------------------------------------------------------------- q216
  /** XML source/sink round-trip (Spark 4's built-in XML support — the
    * spark-xml donation): nation rows → rowTag elements → explicit-schema
    * read-back. Completes the built-in format matrix (parquet/ORC/CSV/
    * JSON-lines/gzip-text/XML). */
  val q216 = QueryDef(
    "q216_xml_roundtrip",
    (s, d) => {
      val dir = QueryDef.tempDir("graft_q216_") + "/out"
      Tables.nation(s, d)
        .write.format("xml").option("rootTag", "nations").option("rowTag", "nation")
        .save(dir)
      s.read.format("xml").option("rowTag", "nation")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .load(dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
      FROM nation ORDER BY n_nationkey"""),
    doc = "Spark 4 built-in XML write/read round-trip with explicit schema; completes the format matrix")

  // ---------------------------------------------------------------- q228
  /** Parquet SCHEMA EVOLUTION round-trip — the lake contract every
    * long-lived ingest pipeline depends on: batch 1 lands with the v1
    * schema, batch 2 adds a column, and a single `mergeSchema` read
    * returns the union schema with NULLs where old files lack the new
    * column. The batch id rides a partition directory (`batch=N`), so the
    * read also exercises partition discovery + partition-column typing.
    * At 100 TB mergeSchema's footer-union runs over file metadata only
    * (no data scan to discover the schema), and per-file projection
    * null-fills at scan time — no rewrite of historical data, which is
    * the entire point of additive evolution. The oracle states the
    * expected union directly (v1 rows with NULL source). */
  val q228 = QueryDef(
    "q228_schema_evolution",
    (s, d) => {
      val dir = QueryDef.tempDir("graft_q228_") + "/docs"
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("lang"))
        .write.parquet(dir + "/batch=1")
      docs.select(col("doc_id"), col("lang"), col("source"))
        .write.parquet(dir + "/batch=2")
      s.read.option("mergeSchema", "true")
        .option("basePath", dir).parquet(dir)
        .select(col("batch").cast("int").as("batch"), col("doc_id"),
          col("lang"), col("source"))
        .orderBy(col("batch"), col("doc_id"))
    },
    Some("""SELECT 1 AS batch, doc_id, lang, CAST(NULL AS VARCHAR) AS source FROM documents
      UNION ALL SELECT 2, doc_id, lang, source FROM documents
      ORDER BY batch, doc_id"""),
    doc = "additive parquet schema evolution: mergeSchema union over partition dirs, old files null-fill the new column")

  // --------------------------------------------------------------- q302
  /** Point lookup with bucket pruning: build q294's two-version table,
    * then read three keys back through `format("graft-manifest")`. The
    * manifest records (keyCol, buckets) per table and (bucket, path) per
    * file, so the connector hashes each literal with the write path's own
    * `pmod(xxhash64(k), buckets)` and plans a parquet scan over ONLY the
    * matching buckets' files — at 100 TB a needle lookup opens 1/buckets
    * of the table (no stats needed, no Bloom filters, just the layout),
    * which is the difference between an interactive lookup and a
    * full-table scan. ManifestSkippingSpec pins the scanned-file count
    * (== the keys' distinct buckets); THIS row pins the data: the pruned
    * read must return exactly the merged state of the chosen keys —
    * proof the pruning is sound, not just small. Keys chosen to cover
    * both merge outcomes: 7 and 14 are %7 customers (updated by the
    * max-seq order), 9 is untouched (kept at its seed balance). */
  val q302 = QueryDef(
    "q302_manifest_point_lookup",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q302_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_custkey").as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      s.read.format("graft-manifest").load(root)
        .filter(col("key").isin(7L, 9L, 14L))
        .select(col("key"), col("bal"))
        .orderBy(col("key"))
    },
    Some("""WITH upd0 AS (SELECT o_custkey AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer)
      SELECT COALESCE(b.key, u.key) AS key, COALESCE(u.bal, b.bal) AS bal
      FROM base b FULL OUTER JOIN upd u ON u.key = b.key
      WHERE COALESCE(b.key, u.key) IN (7, 9, 14)
      ORDER BY key"""),
    doc = "lakehouse point lookup: key-equality filters hash to their manifest buckets and the connector plans a parquet scan over only those files — 1/buckets of the table per key, stats-free")

  // --------------------------------------------------------------- q303
  /** File-level data skipping over a CLUSTERED layout: seed orders into
    * the manifest lake, rewrite with `compactClustered` (range-partition
    * by (bucket, price), sort within) so every data file covers a narrow
    * price band, then run a price-band predicate through the connector.
    * Commit-time footer stats (`_manifest/v<N>.stats`) give each file a
    * [min,max] interval; the connector's may-match evaluator drops every
    * file whose interval excludes the band BEFORE the parquet scan is
    * planned — the Delta/Iceberg data-skipping contract, here over plain
    * parquet + a text manifest. Hash bucketing alone can never skip on a
    * value predicate (each bucket is a uniform sample of the range); the
    * clustered rewrite is what converts one full-table shuffle into
    * every future band query reading only overlapping slices.
    * ManifestSkippingSpec pins scanned-file counts; this row pins that
    * the pruned read returns bit-identical rows to the relational
    * statement of the band. */
  val q303 = QueryDef(
    "q303_manifest_skipping",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q303_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 4)
      val base = Tables.orders(s, d).select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      sink.compactClustered(s, Seq("price"), slices = 16)
      s.read.format("graft-manifest").load(root)
        .filter(col("price") >= 100000.0 && col("price") < 150000.0)
        .select(col("key"), col("price"))
        .orderBy(col("key"))
    },
    Some("""SELECT o_orderkey AS key, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
      WHERE CAST(o_totalprice AS DOUBLE) >= 100000 AND CAST(o_totalprice AS DOUBLE) < 150000
      ORDER BY key"""),
    doc = "file-level data skipping: clustered compaction gives files narrow [min,max] price intervals; commit-time footer stats let the connector prune non-overlapping files before planning the parquet scan")

  // --------------------------------------------------------------- q304
  /** JOIN-view IVM from the CDC feed — the step past q301: there the
    * maintained group was a pure function of the immutable key, so a row
    * could never LEAVE its group; here the view is
    * `SELECT n_name, SUM(bal) FROM table JOIN nation ON nationkey GROUP
    * BY n_name` and an update may move a customer to a different nation.
    * The feed's BEFORE/AFTER images carry the group column on both
    * sides, so each change contributes two signed deltas — −old.bal to
    * the old row's nation, +new.bal to the new row's — and the
    * dimension join happens on the DELTAS (O(changed rows) ⋈ broadcast
    * dim), never on the re-read table. Synthetic churn: every updated
    * customer is reassigned to nation `custkey % 25`, so most updates
    * cross groups. Emitted next to the v1 recompute; the oracle states
    * both columns relationally — feed-maintained == recomputed for every
    * nation, exactly (decimal accumulators both sides). */
  val q304 = QueryDef(
    "q304_cdc_join_ivm",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q304_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_custkey").as("key"),
          pmod(col("o_custkey"), lit(25L)).as("nationkey"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)

      val img = "bal DOUBLE, key BIGINT, nationkey BIGINT, seq BIGINT" // name-sorted payload
      val dec = org.apache.spark.sql.types.DecimalType(28, 10)
      val feed = ManifestUpsertSink.readChanges(s, root, 1L)
        .select(from_json(col("old_image"), img, Map.empty[String, String]).as("o"),
          from_json(col("new_image"), img, Map.empty[String, String]).as("n"))
      // two signed deltas per change: the new row joins in, the old row
      // (absent for inserts) leaves — group-membership churn included
      val deltas = feed.select(col("n.nationkey").as("nationkey"),
          col("n.bal").cast(dec).as("d"))
        .unionAll(feed.filter(col("o").isNotNull)
          .select(col("o.nationkey").as("nationkey"), (-col("o.bal")).cast(dec).as("d")))
        .groupBy(col("nationkey")).agg(sum(col("d")).as("delta"))
      def snapshotAgg(version: Long, alias: String) =
        ManifestUpsertSink.readVersion(s, root, version)
          .groupBy(col("nationkey")).agg(sum(col("bal").cast(dec)).as(alias))
      snapshotAgg(0L, "v0_sum")
        .join(deltas, Seq("nationkey"), "full_outer")
        .join(snapshotAgg(1L, "v1_sum"), Seq("nationkey"), "full_outer")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("nationkey"), col("n_name"))),
          Seq("nationkey"))
        .select(col("nationkey"), col("n_name").as("nation"),
          col("v1_sum").cast("double").as("recomputed_sum"),
          (coalesce(col("v0_sum"), lit(0).cast(dec))
            + coalesce(col("delta"), lit(0).cast(dec)))
            .cast("double").as("maintained_sum"))
        .orderBy(col("nationkey"))
    },
    Some("""WITH upd0 AS (SELECT o_custkey AS key, o_custkey % 25 AS nationkey,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(nationkey, seq) AS nationkey, arg_max(bal, seq) AS bal
        FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_nationkey AS BIGINT) AS nationkey,
          CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
      v1 AS (SELECT COALESCE(u.key, b.key) AS key,
          COALESCE(u.nationkey, b.nationkey) AS nationkey,
          COALESCE(u.bal, b.bal) AS bal
        FROM base b FULL OUTER JOIN upd u ON u.key = b.key),
      deltas AS (SELECT u.nationkey, CAST(u.bal AS DECIMAL(28,10)) AS d FROM upd u
        UNION ALL
        SELECT b.nationkey, -CAST(b.bal AS DECIMAL(28,10)) AS d
        FROM base b JOIN upd u ON u.key = b.key),
      v0g AS (SELECT nationkey, SUM(CAST(bal AS DECIMAL(28,10))) AS s FROM base GROUP BY 1),
      v1g AS (SELECT nationkey, SUM(CAST(bal AS DECIMAL(28,10))) AS s FROM v1 GROUP BY 1),
      dg AS (SELECT nationkey, SUM(d) AS s FROM deltas GROUP BY 1),
      g AS (SELECT COALESCE(v0g.nationkey, dg.nationkey, v1g.nationkey) AS nationkey,
          v0g.s AS s0, dg.s AS sd, v1g.s AS s1
        FROM v0g FULL OUTER JOIN dg ON dg.nationkey = v0g.nationkey
        FULL OUTER JOIN v1g ON v1g.nationkey = COALESCE(v0g.nationkey, dg.nationkey))
      SELECT g.nationkey, n.n_name AS nation,
        CAST(g.s1 AS DOUBLE) AS recomputed_sum,
        CAST(COALESCE(g.s0, 0) + COALESCE(g.sd, 0) AS DOUBLE) AS maintained_sum
      FROM g JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = g.nationkey
      ORDER BY g.nationkey"""),
    doc = "join-view IVM over CDC: before/after images route two signed deltas through group-membership churn, dimension join on the O(changed rows) deltas — feed-maintained == recomputed per nation, exactly")

  // --------------------------------------------------------------- q305
  /** Z-order made physical: q186 computes, on an arithmetic lattice, how
    * many files a (user band × date window) predicate WOULD scan under
    * natural / 1-D / Morton layouts; this row builds the Morton layout
    * for real — events into the manifest lake, `compactZOrder` over
    * (user_id, day), the same two-dimensional predicate through the
    * connector — and returns the band's aggregate. The commit-time stats
    * sidecar holds each rewritten file's [min,max] in BOTH dimensions
    * (curve locality is what makes both intervals narrow at once), so
    * the connector's may-match pass prunes in two dimensions before the
    * parquet scan is planned; ManifestSkippingSpec pins the scanned-file
    * geometry (z-order prunes on x, on y, and hardest on x∧y, where
    * lexicographic clustering cannot skip its trailing dimension at
    * all). The oracle states the band aggregate relationally from the
    * raw events — layout and skipping must be invisible to the answer. */
  val q305 = QueryDef(
    "q305_manifest_zorder",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q305_")
      val sink = new ManifestUpsertSink(root, "event_id", buckets = 2)
      val base = Tables.events(s, d).select(col("event_id"), col("user_id"),
        expr("ts_ns div 86400000000000").as("dd"),
        col("value").cast("double").as("value"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      sink.compactZOrder(s, Seq("user_id", "dd"), slices = 32)
      s.read.format("graft-manifest").load(root)
        .filter(col("user_id").between(32L, 47L) && col("dd").between(19728L, 19735L))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"),
          sum(col("event_id")).as("id_checksum"))
    },
    Some("""SELECT COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        CAST(SUM(event_id) AS BIGINT) AS id_checksum
      FROM events
      WHERE user_id BETWEEN 32 AND 47
        AND epoch_ns(ts) // 86400000000000 BETWEEN 19728 AND 19735"""),
    doc = "physical z-order: compactZOrder rewrites the lake on a Morton curve of quantile ranks; the 2-D band predicate file-prunes in both dimensions via commit-time stats before the parquet scan plans")

  // --------------------------------------------------------------- q307
  /** The full CRUD lifecycle through the lake, IVM-complete: seed
    * (insert), merge (update), then DELETE every %5 key — the verb the
    * LWW merge never emits — and maintain a per-group balance aggregate
    * from the THREE change feeds alone: +new−old for merges, −old for
    * deletes (the `deleted` feed row carries the BEFORE image, which is
    * exactly the subtraction a downstream view needs). Emitted next to
    * the v2 recompute; the oracle states both relationally, so the hash
    * match proves the delete path's copy-on-write rewrite, its feed, and
    * the differential consumer all agree — O(changed rows) maintenance
    * over inserts, updates, AND removals. */
  val q307 = QueryDef(
    "q307_cdc_delete_ivm",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q307_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_custkey").as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      sink.deleteKeys(Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(5)) === 0)
        .select(col("c_custkey").as("key")), batchId = 2L)

      val img = "bal DOUBLE, key BIGINT, seq BIGINT" // name-sorted payload
      val dec = org.apache.spark.sql.types.DecimalType(28, 10)
      def grp(c: org.apache.spark.sql.Column) = pmod(c, lit(10L))
      val d1 = ManifestUpsertSink.readChanges(s, root, 1L)
        .select(grp(col("key")).as("grp"),
          (from_json(col("new_image"), img, Map.empty[String, String]).getField("bal")
            - coalesce(from_json(col("old_image"), img, Map.empty[String, String])
                .getField("bal"), lit(0.0))).cast(dec).as("d"))
      val d2 = ManifestUpsertSink.readChanges(s, root, 2L)
        .select(grp(col("key")).as("grp"),
          (-from_json(col("old_image"), img, Map.empty[String, String]).getField("bal"))
            .cast(dec).as("d"))
      val delta = d1.unionAll(d2).groupBy(col("grp")).agg(sum(col("d")).as("delta"))
      def snapshotAgg(version: Long, alias: String) =
        ManifestUpsertSink.readVersion(s, root, version)
          .groupBy(grp(col("key")).as("grp"))
          .agg(sum(col("bal").cast(dec)).as(alias))
      snapshotAgg(0L, "v0_sum")
        .join(delta, Seq("grp"), "full_outer")
        .join(snapshotAgg(2L, "v2_sum"), Seq("grp"), "full_outer")
        .select(col("grp"),
          col("v2_sum").cast("double").as("recomputed_sum"),
          (coalesce(col("v0_sum"), lit(0).cast(dec))
            + coalesce(col("delta"), lit(0).cast(dec)))
            .cast("double").as("maintained_sum"))
        .orderBy(col("grp"))
    },
    Some("""WITH upd0 AS (SELECT o_custkey AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
      v1 AS (SELECT COALESCE(b.key, u.key) AS key, COALESCE(u.bal, b.bal) AS bal
        FROM base b FULL OUTER JOIN upd u ON u.key = b.key),
      v2 AS (SELECT key, bal FROM v1 WHERE key % 5 <> 0),
      d1 AS (SELECT u.key, u.bal - COALESCE(b.bal, 0) AS d
        FROM upd u LEFT JOIN base b ON b.key = u.key),
      d2 AS (SELECT key, -bal AS d FROM v1 WHERE key % 5 = 0),
      v0g AS (SELECT key % 10 AS grp, SUM(CAST(bal AS DECIMAL(28,10))) AS s
        FROM base GROUP BY 1),
      v2g AS (SELECT key % 10 AS grp, SUM(CAST(bal AS DECIMAL(28,10))) AS s
        FROM v2 GROUP BY 1),
      dg AS (SELECT grp, SUM(d) AS s FROM (
          SELECT key % 10 AS grp, CAST(d AS DECIMAL(28,10)) AS d FROM d1
          UNION ALL
          SELECT key % 10 AS grp, CAST(d AS DECIMAL(28,10)) AS d FROM d2)
        GROUP BY grp)
      SELECT COALESCE(v0g.grp, dg.grp, v2g.grp) AS grp,
        CAST(v2g.s AS DOUBLE) AS recomputed_sum,
        CAST(COALESCE(v0g.s, 0) + COALESCE(dg.s, 0) AS DOUBLE) AS maintained_sum
      FROM v0g FULL OUTER JOIN dg ON dg.grp = v0g.grp
      FULL OUTER JOIN v2g ON v2g.grp = COALESCE(v0g.grp, dg.grp)
      ORDER BY grp"""),
    doc = "CRUD-complete CDC: keyed DELETE rewrites only touched buckets and feeds `deleted` rows with BEFORE images; the maintained aggregate absorbs inserts, updates, and removals from feeds alone — feed-maintained == recomputed, exactly")

  // --------------------------------------------------------------- q308
  /** The lake's WRITE surface behind the standard DataFrame API: build
    * the q294 two-version table entirely through
    * `df.write.format("graft-manifest").mode("append").save(root)` — the
    * first save CREATES the table (keyCol/buckets from options), the
    * second MERGEs (a V1Write delegating to upsertBatch, so `save` IS
    * the committed copy-on-write protocol, never a parallel
    * implementation) — then read the merged snapshot back through the
    * same connector. The oracle is q294's relational MERGE statement: a
    * hash match proves the write path produces the identical table the
    * Scala API builds. Streaming `writeStream.format` + replay guard are
    * SinkSpec's DSv2 case. */
  val q308 = QueryDef(
    "q308_manifest_dsv2_write",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q308_")
      Tables.customer(s, d).select(col("c_custkey").as("key"),
          col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
        .write.format("graft-manifest").option("orderCol", "seq")
        .option("keyCol", "key").option("buckets", "8").mode("append").save(root)
      Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(
          when(pmod(col("o_custkey"), lit(21)) === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
        .write.format("graft-manifest").option("orderCol", "seq")
        .mode("append").save(root)
      s.read.format("graft-manifest").load(root)
        .select(col("key"), col("bal")).orderBy(col("key"))
    },
    Some("""WITH upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer)
      SELECT COALESCE(b.key, u.key) AS key, COALESCE(u.bal, b.bal) AS bal
      FROM base b FULL OUTER JOIN upd u ON u.key = b.key
      ORDER BY key"""),
    doc = "DSv2 write surface: df.write.format(graft-manifest).mode(append) creates + MERGEs the lake table through the V1Write->upsertBatch delegation; reading back matches the relational MERGE statement")

  // --------------------------------------------------------------- q310
  private val q310Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The lake as a SQL CATALOG — zero DataFrame API in the data path:
    * `CREATE TABLE` declares (keyCol, orderCol, buckets) as table
    * properties, `INSERT INTO ... SELECT` runs the LWW MERGE (the same
    * V1Write→upsertBatch delegation as q308, now reached through pure
    * SQL against a registered catalog), and the final SELECT reads the
    * merged snapshot back by table NAME. Catalog instances are cached
    * per name by the session, so each invocation registers a fresh
    * name over its fresh root (bench reps included). The oracle is the
    * same relational MERGE statement as q294/q308 — a hash match proves
    * `spark.sql` end-to-end equals the Scala API table. */
  val q310 = QueryDef(
    "q310_manifest_sql_catalog",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q310_")
      val cat = s"graft_q310_${q310Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.customer(s, d).createOrReplaceTempView("q310_customer")
      Tables.orders(s, d).createOrReplaceTempView("q310_orders")
      s.sql(s"""CREATE TABLE $cat.bal (key BIGINT, bal DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 0L FROM q310_customer""")
      s.sql(s"""INSERT INTO $cat.bal
        SELECT CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END,
          CAST(o_totalprice AS DOUBLE), o_orderkey
        FROM q310_orders WHERE o_custkey % 7 = 0""")
      s.sql(s"SELECT key, bal FROM $cat.bal ORDER BY key")
    },
    Some("""WITH upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal FROM upd0 GROUP BY key),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer)
      SELECT COALESCE(b.key, u.key) AS key, COALESCE(u.bal, b.bal) AS bal
      FROM base b FULL OUTER JOIN upd u ON u.key = b.key
      ORDER BY key"""),
    doc = "lake tables as a SQL catalog: CREATE TABLE + INSERT INTO...SELECT (= LWW MERGE) + SELECT by name through spark.sql — the pure-SQL surface equals the Scala-API table hash-for-hash")

  // --------------------------------------------------------------- q311
  /** SCD TYPE-2 HISTORY derived from the CDC feed — the classic
    * warehouse dimension-history build, expressed as a pure window
    * function over the lake's own change log: every feed row (insert,
    * update, delete) is an event at its commit version; `lead(version)
    * OVER (PARTITION BY key ORDER BY version)` closes each interval at
    * the key's NEXT change (null = still current), and delete events
    * close their predecessor without opening a row. No snapshot diffing,
    * no table scans — O(changed rows) history maintenance, the same
    * reason the IVM tier reads the feed (q301/q304/q307). Three-version
    * lifecycle: customer base (v0), LWW order-derived updates incl. new
    * keys (v1, q298's batch), keyed deletes of every base key ≡ 0 mod 5
    * (v2). The oracle reconstructs the identical intervals relationally
    * from the raw tables: base/update/delete events, arg_max LWW inside
    * the update batch, the same lead(). At 100 TB the window partitions
    * by key — Spark shuffles the FEED (changed rows), never the table. */
  val q311 = QueryDef(
    "q311_scd2_history",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q311_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val base = Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val upd = Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(
          when(pmod(col("o_custkey"), lit(21)) === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq"))
      sink.upsertBatch(upd, "seq", batchId = 1L)
      sink.deleteKeys(base.filter(pmod(col("key"), lit(5)) === 0).select(col("key")), batchId = 2L)
      val events = (0L to 2L).map { v =>
        ManifestUpsertSink.readChanges(s, root, v)
          .select(col("key"), col("change"),
            from_json(col("new_image"), "bal DOUBLE, key BIGINT, seq BIGINT",
              Map.empty[String, String]).getField("bal").as("bal"),
            lit(v).as("ver"))
      }.reduce(_.unionByName(_))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("ver"))
      events
        .withColumn("valid_to", org.apache.spark.sql.functions.lead(col("ver"), 1).over(w))
        .filter(col("change") =!= "deleted")
        .select(col("key"), col("bal"), col("ver").as("valid_from"), col("valid_to"))
    },
    Some("""WITH base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal,
          CAST(0 AS BIGINT) AS ver, FALSE AS is_del FROM customer),
      upd0 AS (SELECT
          CASE WHEN o_custkey % 21 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS key,
          CAST(o_totalprice AS DOUBLE) AS bal, o_orderkey AS seq
        FROM orders WHERE o_custkey % 7 = 0),
      upd AS (SELECT key, arg_max(bal, seq) AS bal, CAST(1 AS BIGINT) AS ver, FALSE AS is_del
        FROM upd0 GROUP BY key),
      del AS (SELECT key, CAST(NULL AS DOUBLE) AS bal, CAST(2 AS BIGINT) AS ver, TRUE AS is_del
        FROM base WHERE key % 5 = 0),
      ev AS (SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del),
      hist AS (SELECT key, bal, ver AS valid_from,
          lead(ver) OVER (PARTITION BY key ORDER BY ver) AS valid_to, is_del
        FROM ev)
      SELECT key, bal, valid_from, valid_to FROM hist WHERE NOT is_del"""),
    doc = "SCD type-2 dimension history from the CDC feed: lead(version) over each key's change events closes intervals, deletes close without opening — O(changed rows), no snapshot diff")

  // --------------------------------------------------------------- q312
  /** TIMESTAMP time travel end-to-end through the connector: commit two
    * versions, then read the snapshot current one millisecond BEFORE the
    * second commit's stamp — resolution must land on v0 no matter what
    * the wall clock said (the stamps are read back from the manifest,
    * the CONTENT asserted is deterministic). The 10 ms pause guarantees
    * distinct stamps; the oracle is the relational statement of the seed
    * batch. Exercises versionAtTimestamp's running-max walk + the DSv2
    * `timestampAsOf` option in the per-round correctness gate. */
  val q312 = QueryDef(
    "q312_timestamp_travel",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q312_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      sink.upsertBatch(Tables.customer(s, d).select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq")), "seq", 0L)
      Thread.sleep(10) // distinct commit stamps
      sink.upsertBatch(Tables.orders(s, d).filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(col("o_custkey").as("key"),
          col("o_totalprice").cast("double").as("bal"),
          col("o_orderkey").as("seq")), "seq", 1L)
      val ts1 = ManifestUpsertSink.manifestAt(root, 1L).get.ts.get
      s.read.format("graft-manifest").option("timestampAsOf", (ts1 - 1).toString)
        .load(root).select(col("key"), col("bal")).orderBy(col("key"))
    },
    Some("""SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer ORDER BY key"""),
    doc = "timestampAsOf time travel through the DSv2 connector: a wall-clock ask strictly between two commits' stamps reads exactly the earlier snapshot")

  // --------------------------------------------------------------- q313
  /** RESTORE — rollback as a first-class, CDC-visible commit. Lifecycle:
    * v0 seeds customers; v1 MERGEs updates (key%7, doubled balance) plus
    * brand-new keys (key%13 shifted by 100000); v2 DELETEs key%11; then
    * `restore(v0)` commits v3 referencing v0's files VERBATIM (zero data
    * copy — rollback is a manifest operation, not a rewrite). Because a
    * restore CHANGES ROWS, it emits a real change feed: the per-key diff
    * of v2→v0 — deleted-at-v2 keys come back as `inserted`, v1's new
    * keys go out as `deleted`, surviving updated keys revert as
    * `updated`. The output reads that feed through `changesOf` (counts +
    * key-sums per change kind) next to the restored snapshot's own
    * census; the oracle restates all four rows from the base tables.
    * Subscribers and IVM views absorb a rollback like any other version
    * — no "out-of-band reset" path exists. */
  val q313 = QueryDef(
    "q313_restore",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q313_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 8)
      val cust = Tables.customer(s, d)
      val base = cust.select(col("c_custkey").as("key"),
        col("c_acctbal").cast("double").as("bal"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L) // v0
      val ups = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey").as("key"),
          (col("c_acctbal") * 2).cast("double").as("bal"), lit(1L).as("seq"))
      val ins = cust.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select((col("c_custkey") + 100000L).as("key"),
          col("c_acctbal").cast("double").as("bal"), lit(1L).as("seq"))
      sink.upsertBatch(ups.unionByName(ins), "seq", batchId = 1L) // v1
      sink.deleteKeys(cust.filter(pmod(col("c_custkey"), lit(11)) === 0)
        .select(col("c_custkey").as("key")), batchId = 2L) // v2
      sink.restore(s, 0L) // v3 == v0's rows, with a diff feed
      val feed = s.read.format("graft-manifest").option("changesOf", 3).load(root)
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
      val snap = s.read.format("graft-manifest").load(root)
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
        .select(lit("snapshot").as("change"), col("n"), col("key_sum"))
      feed.unionByName(snap).orderBy(col("change"))
    },
    Some("""SELECT 'deleted' AS change, COUNT(*) AS n, CAST(SUM(c_custkey + 100000) AS BIGINT) AS key_sum
        FROM customer WHERE c_custkey % 13 = 0
      UNION ALL
      SELECT 'inserted', COUNT(*), CAST(SUM(c_custkey) AS BIGINT)
        FROM customer WHERE c_custkey % 11 = 0
      UNION ALL
      SELECT 'updated', COUNT(*), CAST(SUM(c_custkey) AS BIGINT)
        FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
      UNION ALL
      SELECT 'snapshot', COUNT(*), CAST(SUM(c_custkey) AS BIGINT) FROM customer
      ORDER BY change"""),
    doc = "RESTORE to a committed version: zero-copy manifest rollback that emits the per-key current->target diff as a real CDC feed (resurrections inserted, post-target keys deleted, reverts updated); snapshot census == the restored version's")

  // --------------------------------------------------------------- q314
  /** Data-quality EXPECTATIONS routed through the lake: every document
    * is gated by named rules ([[graft.ext.Expectations]] — NULL
    * violates, unlike SQL CHECK), accepted rows MERGE into the corpus
    * table and each failing row lands in a sibling QUARANTINE table
    * carrying the comma-joined list of rules it broke — the audit trail
    * of a 100-TB ingest is a queryable table, not a log grep. The gate
    * itself is one codegen'd projection (no UDF, no shuffle); the
    * routing is two ordinary manifest merges. Output: per-rule violation
    * census read back from the quarantine table THROUGH the connector,
    * next to the accepted-table census; the oracle restates the rules
    * relationally with COALESCE(cond, FALSE) pinning the null-violates
    * contract. */
  val q314 = QueryDef(
    "q314_quality_quarantine",
    (s, d) => {
      val acceptRoot = QueryDef.tempDir("graft_q314a_")
      val quarRoot = QueryDef.tempDir("graft_q314q_")
      val rules = Seq(
        "lang_latin" -> col("lang").isin("en", "de", "fr", "es"),
        "len_min" -> (col("n_chars") >= 100L))
      val docs = Tables.documents(s, d).withColumn("seq", lit(0L))
      val ok = graft.ext.Expectations.accepted(docs, rules)
      val bad = graft.ext.Expectations.quarantined(docs, rules)
      new ManifestUpsertSink(acceptRoot, "doc_id", buckets = 8)
        .upsertBatch(ok, "seq", batchId = 0L)
      new ManifestUpsertSink(quarRoot, "doc_id", buckets = 8)
        .upsertBatch(bad, "seq", batchId = 0L)
      val perRule = s.read.format("graft-manifest").load(quarRoot)
        .select(explode(split(col("violations"), ",")).as("rule"), col("doc_id"))
        .groupBy(col("rule"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("key_sum"))
      val acceptedRow = s.read.format("graft-manifest").load(acceptRoot)
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("key_sum"))
        .select(lit("__accepted").as("rule"), col("n"), col("key_sum"))
      perRule.unionByName(acceptedRow).orderBy(col("rule"))
    },
    Some("""WITH v AS (SELECT doc_id,
        NOT COALESCE(lang IN ('en','de','fr','es'), FALSE) AS lang_latin,
        NOT COALESCE(n_chars >= 100, FALSE) AS len_min
        FROM documents)
      SELECT rule, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS key_sum FROM (
        SELECT doc_id, 'lang_latin' AS rule FROM v WHERE lang_latin
        UNION ALL
        SELECT doc_id, 'len_min' FROM v WHERE len_min)
      GROUP BY rule
      UNION ALL
      SELECT '__accepted', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
        FROM v WHERE NOT lang_latin AND NOT len_min
      ORDER BY rule"""),
    doc = "expectations gate + quarantine: named quality rules (null violates) route rows to corpus vs quarantine lake tables in one codegen'd projection; per-rule violation census reads back through the connector")

  // --------------------------------------------------------------- q315
  /** SHALLOW CLONE — zero-copy table fork: the clone's v0 manifest
    * references the source's immutable data files, then BOTH tables
    * evolve independently under copy-on-write (the clone's merge
    * rewrites its touched buckets under its OWN root; the source's
    * merge never perturbs the clone because no shared file is ever
    * mutated). The dev/test-against-production-data pattern at manifest
    * cost, Delta SHALLOW CLONE parity — including the documented vacuum
    * caveat (ManifestLifecycleSpec pins both the zero-copy structure
    * and the caveat; deep = true is the retention-safe variant). Output:
    * both tables' censuses after divergent merges; the oracle restates
    * each fork from the base table. */
  val q315 = QueryDef(
    "q315_shallow_clone",
    (s, d) => {
      val srcRoot = QueryDef.tempDir("graft_q315s_")
      val clRoot = QueryDef.tempDir("graft_q315c_")
      val sink = new ManifestUpsertSink(srcRoot, "key", buckets = 4)
      val base = Tables.part(s, d).select(col("p_partkey").as("key"),
        col("p_retailprice").cast("double").as("price"), lit(0L).as("seq"))
      sink.upsertBatch(base, "seq", batchId = 0L)
      val clone = sink.cloneTo(s, clRoot) // shallow: references source files
      clone.upsertBatch(base.filter(pmod(col("key"), lit(3)) === 0)
        .withColumn("price", col("price") * 2).withColumn("seq", lit(1L)),
        "seq", batchId = 1L)
      sink.upsertBatch(base.filter(pmod(col("key"), lit(5)) === 0)
        .withColumn("price", col("price") + 10).withColumn("seq", lit(1L)),
        "seq", batchId = 1L)
      def census(root: String, name: String) =
        s.read.format("graft-manifest").load(root)
          .agg(count(lit(1)).as("n"),
            sum(col("price").cast("decimal(28,10)")).cast("double").as("price_sum"))
          .select(lit(name).as("tbl"), col("n"), col("price_sum"))
      census(clRoot, "clone").unionByName(census(srcRoot, "source")).orderBy(col("tbl"))
    },
    Some("""WITH base AS (SELECT p_partkey AS key, CAST(p_retailprice AS DOUBLE) AS price FROM part),
      cl AS (SELECT key, CASE WHEN key % 3 = 0 THEN price * 2 ELSE price END AS price FROM base),
      src AS (SELECT key, CASE WHEN key % 5 = 0 THEN price + 10 ELSE price END AS price FROM base)
      SELECT 'clone' AS tbl, COUNT(*) AS n,
        CAST(SUM(CAST(price AS DECIMAL(28,10))) AS DOUBLE) AS price_sum FROM cl
      UNION ALL
      SELECT 'source', COUNT(*), CAST(SUM(CAST(price AS DECIMAL(28,10))) AS DOUBLE) FROM src
      ORDER BY tbl"""),
    doc = "shallow clone: zero-copy table fork off the manifest (clone v0 references source files verbatim); divergent merges stay isolated under copy-on-write — dev-vs-prod forking at manifest cost")

  // --------------------------------------------------------------- q316
  private val q316Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** SQL `MERGE INTO` — the warehouse verb the reference explicitly punts
    * on (`db.clj:83-85` throws Unsupported; its own comment says "would
    * be MERGE whenMatched update"). The statement runs through the
    * catalog's [[graft.sources.ManifestDeltaOperation]]: Spark's
    * row-level rewrite plans the matching and clause arbitration, the
    * per-row verdicts (update / insert / delete) stage as UnsafeRow
    * deltas and apply through the SAME committed copy-on-write protocol
    * as every other write — matched high-balance keys update, matched
    * low-balance keys DELETE, unmatched keys insert. The oracle restates
    * the three-clause arbitration relationally; a hash match proves the
    * pure-SQL MERGE equals the relational semantics end-to-end
    * (ManifestRowLevelSpec separately pins MERGE == Scala upsertBatch). */
  val q316 = QueryDef(
    "q316_sql_merge_into",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q316_")
      val cat = s"graft_q316_${q316Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.customer(s, d).createOrReplaceTempView("q316_customer")
      Tables.orders(s, d).createOrReplaceTempView("q316_orders")
      s.sql(s"""CREATE TABLE $cat.bal (key BIGINT, bal DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 0L FROM q316_customer""")
      // MERGE sources must be key-unique (Spark enforces the cardinality
      // check) — the LWW dedup moves INTO the source query, by max seq
      s.sql(s"""MERGE INTO $cat.bal AS t USING (
          SELECT o_custkey AS key,
            CAST(max_by(o_totalprice, o_orderkey) AS DOUBLE) AS bal,
            MAX(o_orderkey) AS seq
          FROM q316_orders WHERE o_custkey % 7 = 0 GROUP BY o_custkey
        ) AS src ON t.key = src.key
        WHEN MATCHED AND src.bal < 50000.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.bal = src.bal, t.seq = src.seq
        WHEN NOT MATCHED THEN INSERT (key, bal, seq) VALUES (src.key, src.bal, src.seq)""")
      s.sql(s"SELECT key, bal FROM $cat.bal ORDER BY key")
    },
    Some("""WITH src AS (SELECT o_custkey AS key,
          CAST(arg_max(o_totalprice, o_orderkey) AS DOUBLE) AS bal
        FROM orders WHERE o_custkey % 7 = 0 GROUP BY o_custkey),
      base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal FROM customer)
      SELECT b.key, b.bal FROM base b LEFT JOIN src s ON s.key = b.key
        WHERE s.key IS NULL                               -- untouched
      UNION ALL
      SELECT s.key, s.bal FROM src s JOIN base b ON b.key = s.key
        WHERE s.bal >= 50000.0                            -- matched update
      UNION ALL
      SELECT s.key, s.bal FROM src s LEFT JOIN base b ON b.key = s.key
        WHERE b.key IS NULL                               -- not-matched insert
      ORDER BY key"""),
    doc = "SQL MERGE INTO through the catalog (SupportsDelta row-level op): matched update, matched-and-predicate DELETE, not-matched insert — per-row verdicts staged distributed and applied via the committed copy-on-write MERGE/DELETE")

  // --------------------------------------------------------------- q317
  private val q317Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** SQL `UPDATE` with an ARBITRARY (non-key) predicate, then a
    * predicate `DELETE` — the row-level pair on one table: the UPDATE's
    * matching side reads through the connector's pruning scan, its
    * verdicts rewrite only the touched buckets, and the DELETE beyond
    * the key-equality shapes (which [[ManifestCatalog]] already served)
    * takes the same path instead of refusing. The oracle restates the
    * two statements as CASE/anti-filter algebra. */
  val q317 = QueryDef(
    "q317_sql_update",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q317_")
      val cat = s"graft_q317_${q317Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q317_part")
      s.sql(s"""CREATE TABLE $cat.parts (key BIGINT, price DOUBLE, size BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.parts
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q317_part""")
      s.sql(s"UPDATE $cat.parts SET price = price * 1.1 WHERE size >= 25")
      s.sql(s"DELETE FROM $cat.parts WHERE price < 950.0")
      s.sql(s"SELECT key, price, size FROM $cat.parts ORDER BY key")
    },
    Some("""WITH upd AS (SELECT p_partkey AS key,
          CASE WHEN p_size >= 25 THEN CAST(p_retailprice AS DOUBLE) * 1.1
               ELSE CAST(p_retailprice AS DOUBLE) END AS price,
          CAST(p_size AS BIGINT) AS size
        FROM part)
      SELECT key, price, size FROM upd WHERE NOT (price < 950.0)
      ORDER BY key"""),
    doc = "SQL UPDATE + predicate DELETE through the catalog: non-key predicates plan via the row-level rewrite over the pruning scan; verdicts apply through the keyed copy-on-write protocol with CDC feeds")

  // --------------------------------------------------------------- q318
  private val q318Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** COMPOSITE KEYS end-to-end through pure SQL: the table keys on the
    * (tenant, entity) TUPLE — `keyCol = 'tenant,entity'` — so the same
    * entity id under two tenants is two rows (the single-key trap), the
    * second INSERT LWW-merges per tuple, and the row-level UPDATE's
    * identity is the tuple. Real tables key on composites; forcing
    * pre-concatenation costs a stored column and loses bucket pruning on
    * the components. The oracle restates the tuple-keyed merge + update
    * relationally. */
  val q318 = QueryDef(
    "q318_composite_key",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q318_")
      val cat = s"graft_q318_${q318Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.customer(s, d).createOrReplaceTempView("q318_customer")
      s.sql(s"""CREATE TABLE $cat.acct (tenant BIGINT, entity BIGINT, bal DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='tenant,entity', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.acct
        SELECT CAST(c_nationkey AS BIGINT), c_custkey, CAST(c_acctbal AS DOUBLE), 0L
        FROM q318_customer""")
      // overlapping tuples LWW-replace; the SAME entities under a shifted
      // tenant INSERT as new rows — tuple identity, not entity identity
      s.sql(s"""INSERT INTO $cat.acct
        SELECT CAST(c_nationkey AS BIGINT), c_custkey, CAST(c_acctbal AS DOUBLE) + 1000.0, 1L
        FROM q318_customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT CAST(c_nationkey AS BIGINT) + 100, c_custkey, CAST(c_acctbal AS DOUBLE), 1L
        FROM q318_customer WHERE c_custkey % 5 = 0""")
      s.sql(s"UPDATE $cat.acct SET bal = bal * 2.0 WHERE entity % 7 = 0")
      s.sql(s"SELECT tenant, entity, bal FROM $cat.acct ORDER BY tenant, entity")
    },
    Some("""WITH seed AS (SELECT CAST(c_nationkey AS BIGINT) AS tenant, c_custkey AS entity,
          CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
      upd AS (SELECT CAST(c_nationkey AS BIGINT) AS tenant, c_custkey AS entity,
          CAST(c_acctbal AS DOUBLE) + 1000.0 AS bal FROM customer WHERE c_custkey % 5 = 0),
      newt AS (SELECT CAST(c_nationkey AS BIGINT) + 100 AS tenant, c_custkey AS entity,
          CAST(c_acctbal AS DOUBLE) AS bal FROM customer WHERE c_custkey % 5 = 0),
      merged AS (
        SELECT s.tenant, s.entity, COALESCE(u.bal, s.bal) AS bal
        FROM seed s LEFT JOIN upd u ON u.tenant = s.tenant AND u.entity = s.entity
        UNION ALL
        SELECT tenant, entity, bal FROM newt)
      SELECT tenant, entity,
        CASE WHEN entity % 7 = 0 THEN bal * 2.0 ELSE bal END AS bal
      FROM merged ORDER BY tenant, entity"""),
    doc = "composite keys (keyCol='tenant,entity'): tuple-identity LWW MERGE, same entity under two tenants coexists, row-level UPDATE keyed by the tuple, conjunctive-equality bucket pruning on the components")

  // --------------------------------------------------------------- q319
  /** DATE-PARTITIONED lake table + retention: the table partitions on a
    * derived year date (`partitionCol`) alongside key buckets — the
    * reference's own K2 date layout (core.clj:47-50) lifted to the lake,
    * because at 100 TB time-range scans and retention dominate the
    * access pattern and the advisory stats sidecar can't bound what a
    * merge never clustered. `dropPartitionsBefore` then expires the
    * first two years as a pure manifest edit (ManifestPartitionSpec pins
    * the zero-jobs claim and the partition-pruned scan); the final
    * census reads the surviving years back through the connector. The
    * oracle restates retention as a WHERE clause. */
  val q319 = QueryDef(
    "q319_partitioned_retention",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q319_")
      val sink = new ManifestUpsertSink(root, "key", buckets = 4,
        partitionCol = Some("year_date"))
      val rows = Tables.orders(s, d).select(
        col("o_orderkey").as("key"),
        to_date(date_trunc("year", col("o_orderdate"))).as("year_date"),
        col("o_totalprice").cast("double").as("price"),
        lit(0L).as("seq"))
      sink.upsertBatch(rows, "seq", batchId = 0L)
      sink.dropPartitionsBefore(s, "1994-01-01")
      s.read.format("graft-manifest").load(root)
        .groupBy(col("year_date"))
        .agg(count(lit(1)).as("n"),
          // exact integer cents: double sums differ across engines by ulps
          sum(round(col("price") * 100).cast("long")).as("cents"))
        .orderBy(col("year_date"))
    },
    Some("""SELECT CAST(date_trunc('year', o_orderdate) AS DATE) AS year_date,
        COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      WHERE CAST(date_trunc('year', o_orderdate) AS DATE) >= DATE '1994-01-01'
      GROUP BY 1 ORDER BY 1"""),
    doc = "date-partitioned lake (partitionCol alongside key buckets): __pdate layout, partition-pruned reads through the connector, and dropPartitionsBefore retention as a zero-I/O manifest edit")

  // --------------------------------------------------------------- q322
  private val q322Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The OPERATOR lifecycle through pure SQL — `CALL` maintenance
    * procedures (Spark 4's native ProcedureCatalog) + `TRUNCATE TABLE`:
    * ingest three LWW batches, `CALL system.compact` (file counts fold,
    * spec-pinned), `CALL system.restore` back to v1, `CALL system.vacuum`
    * the rolled-back history, then read the census. A second scratch
    * table is TRUNCATEd (a zero-I/O manifest edit) and re-inserted to
    * prove the epoch survives. The oracle restates what the data must be
    * after the verb sequence — maintenance must never change rows it
    * didn't promise to (restore promises exactly the v1 state). */
  val q322 = QueryDef(
    "q322_sql_maintenance",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q322_")
      val cat = s"graft_q322_${q322Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.customer(s, d).createOrReplaceTempView("q322_customer")
      s.sql(s"""CREATE TABLE $cat.bal (key BIGINT, bal DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 0L FROM q322_customer""") // v0
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) * 2, 1L
        FROM q322_customer WHERE c_custkey % 3 = 0""") // v1
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey, 0.0, 2L FROM q322_customer WHERE c_custkey % 5 = 0""") // v2
      s.sql(s"CALL $cat.system.compact('bal')") // v3: layout only
      s.sql(s"CALL $cat.system.restore('bal', 1)") // v4 == v1's rows
      s.sql(s"CALL $cat.system.vacuum('bal', 1)")
      // TRUNCATE on a scratch table: zero-I/O manifest edit, epoch kept
      s.sql(s"""CREATE TABLE $cat.scratch (key BIGINT, v DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='2')""")
      s.sql(s"INSERT INTO $cat.scratch SELECT c_custkey, 1.0, 0L FROM q322_customer")
      s.sql(s"TRUNCATE TABLE $cat.scratch")
      s.sql(s"INSERT INTO $cat.scratch VALUES (42, 7.0, 1)")
      s.sql(s"""SELECT b.key, b.bal, s.v
        FROM $cat.bal b LEFT JOIN $cat.scratch s ON s.key = b.key
        ORDER BY b.key""")
    },
    Some("""WITH base AS (SELECT c_custkey AS key, CAST(c_acctbal AS DOUBLE) AS bal
        FROM customer),
      v1 AS (SELECT key, CASE WHEN key % 3 = 0 THEN bal * 2 ELSE bal END AS bal
        FROM base)
      SELECT key, bal, CASE WHEN key = 42 THEN 7.0 ELSE NULL END AS v
      FROM v1 ORDER BY key"""),
    doc = "SQL CALL maintenance procedures + TRUNCATE TABLE: compact (layout-only), restore (exactly v1's rows), vacuum (history reclaim), truncate (zero-I/O manifest edit, epoch kept) — the operator surface with zero Scala, data provably preserved")

  // --------------------------------------------------------------- q323
  /** LAKE STAR JOIN with NO hints: a per-customer spend fact table and
    * two dimension tables (customer state, nation), all manifest-lake,
    * joined through the connector. The plan quality is the point — the
    * scan now implements `SupportsReportStatistics` (post-pruning
    * size/rows straight from the commit-time sidecar), so Spark
    * AUTO-BROADCASTS both dims (ManifestSkippingSpec pins
    * `BroadcastHashJoinExec` in the STATIC plan, before AQE could rescue
    * it) and `SupportsRuntimeFiltering` lets a selective dim hand the
    * fact scan a join-time IN-set that drops whole buckets' files —
    * without these, every lake join is an unsized-v2 shuffle join at
    * 100 TB (the planner assumes Long.Max for unsized scans). The oracle
    * restates the star relationally over the raw tables. */
  val q323 = QueryDef(
    "q323_lake_star_join",
    (s, d) => {
      val root1 = QueryDef.tempDir("graft_q323f_")
      val root2 = QueryDef.tempDir("graft_q323c_")
      val root3 = QueryDef.tempDir("graft_q323n_")
      // fact: per-customer spend rolled up from orders, keyed by cust
      val spend = Tables.orders(s, d).groupBy(col("o_custkey").as("cust"))
        .agg(sum(col("o_totalprice").cast("decimal(28,10)")).cast("double").as("spend"),
          count(lit(1)).as("n_orders"))
        .withColumn("seq", lit(0L))
      new ManifestUpsertSink(root1, "cust", buckets = 8)
        .upsertBatch(spend, "seq", batchId = 0L)
      new ManifestUpsertSink(root2, "cust", buckets = 4).upsertBatch(
        Tables.customer(s, d).select(col("c_custkey").as("cust"),
          col("c_nationkey").as("nation"), col("c_mktsegment").as("mkt"),
          lit(0L).as("seq")),
        "seq", batchId = 0L)
      new ManifestUpsertSink(root3, "nkey", buckets = 1).upsertBatch(
        Tables.nation(s, d).select(col("n_nationkey").as("nkey"),
          col("n_name").as("nname"), lit(0L).as("seq")),
        "seq", batchId = 0L)
      val fact = s.read.format("graft-manifest").load(root1)
      val cust = s.read.format("graft-manifest").load(root2)
      val nat = s.read.format("graft-manifest").load(root3)
      fact.join(cust, "cust")
        .join(nat, cust("nation") === nat("nkey"))
        .filter(col("mkt") === "BUILDING")
        .groupBy(col("nname"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("spend").cast("decimal(28,10)")).cast("double").as("total_spend"),
          sum(col("n_orders")).as("total_orders"))
        .orderBy(col("nname"))
    },
    Some("""WITH spend AS (
        SELECT o_custkey AS cust,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE) AS spend,
          COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey)
      SELECT n.n_name AS nname, COUNT(*) AS n_cust,
        CAST(SUM(CAST(f.spend AS DECIMAL(28,10))) AS DOUBLE) AS total_spend,
        CAST(SUM(f.n_orders) AS BIGINT) AS total_orders
      FROM spend f
      JOIN customer c ON c.c_custkey = f.cust
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY n.n_name ORDER BY nname"""),
    doc = "lake star join, zero hints: SupportsReportStatistics (post-pruning sidecar size/rows) auto-broadcasts the dims; SupportsRuntimeFiltering bucket-prunes the fact from the join's runtime IN-set — the two planner contracts that keep a 100-TB star join off the shuffle path")

  // --------------------------------------------------------------- q324
  private val q324Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** ZERO-I/O column rename SERVED LIVE through SQL: `ALTER TABLE RENAME
    * COLUMN` commits a metadata-only mapping (same files), the next
    * INSERT merges rows under the NEW physical name — a genuinely
    * mixed-vintage table — and the SELECT reads it IMMEDIATELY: the
    * connector's rename-folding scan coalesces old/new physical columns
    * per row (Delta/Iceberg column-mapping parity; compaction remains the
    * vectorization optimization, not a read prerequisite). The oracle
    * restates the rename+merge as plain algebra over the raw table; a
    * hash match proves no row, value, or vintage is lost or nulled. */
  val q324 = QueryDef(
    "q324_sql_rename_serve",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q324_")
      val cat = s"graft_q324_${q324Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q324_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q324_part""")
      s.sql(s"ALTER TABLE $cat.pp RENAME COLUMN price TO retail")
      // merge UNDER the new name while the mapping is live: the touched
      // buckets rewrite under `retail`, untouched buckets keep `price`
      // physically — the read below spans both vintages
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE) + 5.0, CAST(p_size AS BIGINT), 1L
        FROM q324_part WHERE p_partkey % 4 = 0""")
      s.sql(s"SELECT key, retail, sz FROM $cat.pp ORDER BY key")
    },
    Some("""SELECT p_partkey AS key,
        CASE WHEN p_partkey % 4 = 0 THEN CAST(p_retailprice AS DOUBLE) + 5.0
             ELSE CAST(p_retailprice AS DOUBLE) END AS retail,
        CAST(p_size AS BIGINT) AS sz
      FROM part ORDER BY key"""),
    doc = "metadata-only RENAME COLUMN served live through SQL: rename-folding scan coalesces mixed physical vintages per row (column-mapping parity), merges continue under the new name, compaction stays an optimization")

  // --------------------------------------------------------------- q325
  private val q325Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `CALL system.detail('t')` — DESCRIBE DETAIL from the manifest log +
    * stats sidecar: committed layout pair, file/row totals, partition
    * census, version count — the same commit-time metadata the scan's
    * `SupportsReportStatistics` feeds the planner, made SQL-visible with
    * ZERO data-file reads. The oracle restates the deterministic facts
    * (layout literals, the LWW row count) relationally; file counts and
    * byte totals vary with write parallelism and are deliberately left
    * out of the checked projection. */
  val q325 = QueryDef(
    "q325_sql_describe_detail",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q325_")
      val cat = s"graft_q325_${q325Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.customer(s, d).createOrReplaceTempView("q325_customer")
      s.sql(s"""CREATE TABLE $cat.bal (key BIGINT, bal DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE), 0L FROM q325_customer""") // v0
      s.sql(s"""INSERT INTO $cat.bal
        SELECT c_custkey + 1000000, 0.0, 1L FROM q325_customer
        WHERE c_custkey % 10 = 0""") // v1: pure inserts
      s.sql(s"CALL $cat.system.detail('bal')")
        .select(col("key_col"), col("buckets"), col("partition_col"),
          col("total_rows"), col("n_partitions"), col("n_versions"),
          col("has_renames"))
    },
    Some("""SELECT 'key' AS key_col, CAST(8 AS BIGINT) AS buckets,
        CAST(NULL AS VARCHAR) AS partition_col,
        (SELECT COUNT(*) + COUNT(*) FILTER (c_custkey % 10 = 0) FROM customer)
          AS total_rows,
        CAST(0 AS BIGINT) AS n_partitions, CAST(2 AS BIGINT) AS n_versions,
        FALSE AS has_renames"""),
    doc = "CALL system.detail: DESCRIBE DETAIL off the manifest log + stats sidecar (layout pair, sidecar row totals, partition census, version count) — the planner's SupportsReportStatistics inputs made SQL-visible, zero data reads")

  // --------------------------------------------------------------- q326
  /** METADATA-ONLY aggregate census: unfiltered COUNT(*) / COUNT(col) /
    * MIN / MAX over a lake table answer from the commit-time stats
    * sidecar alone — the connector's `SupportsPushDownAggregates` plans
    * a driver-local one-row scan (ManifestSkippingSpec pins
    * `LocalTableScan`, zero parquet in the plan), Delta/Iceberg's
    * metadata-only optimization. At 100 TB this census costs a manifest
    * read instead of a full-table pass. The oracle computes the same
    * census from the raw table the lake was loaded from, so the hash
    * match proves the sidecar-derived values EQUAL the data-derived
    * truth (count with nulls, integral and string bounds, date bounds). */
  val q326 = QueryDef(
    "q326_lake_metadata_census",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q326_")
      val rows = Tables.orders(s, d).select(
        col("o_orderkey").as("key"),
        when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio_opt"),
        to_date(col("o_orderdate")).as("odate"),
        lit(0L).as("seq"))
      new ManifestUpsertSink(root, "key", buckets = 8)
        .upsertBatch(rows, "seq", batchId = 0L)
      s.read.format("graft-manifest").load(root)
        .agg(count(lit(1)).as("n"), count(col("prio_opt")).as("n_prio"),
          min(col("key")).as("mn_key"), max(col("key")).as("mx_key"),
          min(col("prio_opt")).as("mn_prio"), max(col("prio_opt")).as("mx_prio"),
          min(col("odate")).as("mn_date"), max(col("odate")).as("mx_date"))
    },
    Some("""SELECT COUNT(*) AS n,
        COUNT(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END) AS n_prio,
        MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
        MIN(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END) AS mn_prio,
        MAX(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END) AS mx_prio,
        MIN(CAST(o_orderdate AS DATE)) AS mn_date, MAX(CAST(o_orderdate AS DATE)) AS mx_date
      FROM orders"""),
    doc = "metadata-only aggregate census (SupportsPushDownAggregates): unfiltered COUNT/COUNT(col)/MIN/MAX answered from the stats sidecar as a driver-local one-row scan — zero data files opened; conservative declines for filters, groups, floats, uncovered files")

  // --------------------------------------------------------------- q327
  private val q327Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** ZERO-I/O ADD + DROP COLUMN served LIVE through SQL: `ALTER TABLE
    * ADD COLUMN` commits a null-backed header (same files — the scan
    * null-fills the typed column immediately), a row-level UPDATE
    * populates it for a keyed subset (copy-on-write of the touched
    * buckets only, so the table becomes genuinely mixed-vintage:
    * rewritten files carry the column physically, carried files keep
    * null-filling through the fold), and `DROP COLUMN` retires another
    * column metadata-only (bytes stay in place, every read projects it
    * away — Delta's zero-I/O drop contract). The oracle restates the
    * whole lifecycle as plain algebra over the raw table; a hash match
    * proves the fold loses no row and resurrects no dropped byte. */
  val q327 = QueryDef(
    "q327_sql_add_drop_column",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q327_")
      val cat = s"graft_q327_${q327Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q327_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q327_part""")
      // metadata-only ADD: same files, SELECTable as typed nulls at once
      s.sql(s"ALTER TABLE $cat.pp ADD COLUMN disc DOUBLE")
      // populate a keyed subset: the delta rewrite touches only those
      // buckets — every other file keeps null-filling through the fold
      s.sql(s"UPDATE $cat.pp SET disc = price * 0.1 WHERE key % 3 = 0")
      // metadata-only DROP: bytes stay physical, reads project them away
      s.sql(s"ALTER TABLE $cat.pp DROP COLUMN sz")
      s.sql(s"SELECT key, price, disc FROM $cat.pp ORDER BY key")
    },
    Some("""SELECT p_partkey AS key, CAST(p_retailprice AS DOUBLE) AS price,
        CASE WHEN p_partkey % 3 = 0 THEN CAST(p_retailprice AS DOUBLE) * 0.1
             ELSE NULL END AS disc
      FROM part ORDER BY key"""),
    doc = "metadata-only ADD/DROP COLUMN served live through SQL: null-backed add header, row-level UPDATE materializes touched buckets (mixed vintages null-fill through the fold), zero-I/O drop projects retired bytes away; compaction stays an optimization")

  // --------------------------------------------------------------- q328
  private val q328Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** ZERO-I/O TYPE WIDENING served LIVE through SQL: `ALTER COLUMN n
    * TYPE BIGINT` respells the column in the committed schema STAMP
    * (same files — no rewrite; Iceberg v3 type promotion), every stamped
    * read requests the wide type and Spark's parquet vectorized reader
    * PROMOTES the old int32 vintages per file, and a post-widen INSERT
    * beyond Int.MaxValue lands physically wide — a genuinely
    * mixed-width table the SELECT reads as one BIGINT column. The
    * oracle restates the lifecycle as plain algebra (CAST + the
    * post-widen row) over the raw table; a hash match proves no value
    * is truncated or mis-promoted across vintages. */
  val q328 = QueryDef(
    "q328_sql_type_widening",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q328_")
      val cat = s"graft_q328_${q328Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q328_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, sz INT, price FLOAT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_size AS INT), CAST(p_retailprice AS FLOAT), 0L
        FROM q328_part""")
      // metadata-only widenings: same files, reads promote per vintage
      s.sql(s"ALTER TABLE $cat.pp ALTER COLUMN sz TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.pp ALTER COLUMN price TYPE DOUBLE")
      // a post-widen merge writes beyond the old type's range: the
      // snapshot now spans int32 and int64 vintages of one column
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_size AS BIGINT) + ${Int.MaxValue}L,
               CAST(CAST(p_retailprice AS FLOAT) AS DOUBLE) + 1.0, 1L
        FROM q328_part WHERE p_partkey % 5 = 0""")
      s.sql(s"SELECT key, sz, price FROM $cat.pp ORDER BY key")
    },
    Some(s"""SELECT p_partkey AS key,
        CASE WHEN p_partkey % 5 = 0 THEN CAST(p_size AS BIGINT) + ${Int.MaxValue}
             ELSE CAST(p_size AS BIGINT) END AS sz,
        CASE WHEN p_partkey % 5 = 0 THEN CAST(CAST(p_retailprice AS FLOAT) AS DOUBLE) + 1.0
             ELSE CAST(CAST(p_retailprice AS FLOAT) AS DOUBLE) END AS price
      FROM part ORDER BY key"""),
    doc = "metadata-only ALTER COLUMN TYPE widening (Iceberg v3 promotion parity): the committed schema stamp respells the column, stamped reads promote old narrow vintages per file via the vectorized reader, post-widen writes land wide — zero data rewritten")

  // --------------------------------------------------------------- q329
  private val q329Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** MERGE-ON-READ DELETION VECTORS through pure SQL — the full
    * lifecycle on a `mergeOnRead` table: DELETEs commit a per-bucket
    * key-list sidecar (manifest edit + tiny parquet; the touched
    * buckets' data files stay BYTE-IDENTICAL — ManifestDvSpec pins
    * that), reads fold the sidecar (anti-join by key inside the
    * connector's row-level fold scan; metadata-only COUNT(*) subtracts
    * the manifest-recorded dv rows), a row-level UPDATE is merge-on-read
    * TOO (new row images append at the commit's sequence, a dv retires
    * the old rows — see q332 for the isolated upsert lifecycle), and
    * `CALL system.compact` materializes everything. At 100 TB this is
    * the difference between O(keys) and O(bucket bytes) per trickle
    * DELETE or UPDATE, the Iceberg-v2 equality-delete + sequence-number
    * economics. The oracle restates the verb sequence as pure algebra;
    * a hash match proves no surface — fold scan, census, update, compact
    * — loses or resurrects a row. */
  val q329 = QueryDef(
    "q329_deletion_vectors",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q329_")
      val cat = s"graft_q329_${q329Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q329_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8',
          'mergeOnRead'='true')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q329_part""")
      // two trickle DELETEs: each a deletion-vector commit (zero data
      // files rewritten — the dv sidecar accumulates across statements)
      s.sql(s"DELETE FROM $cat.pp WHERE key IN (7, 13, 19)")
      s.sql(s"DELETE FROM $cat.pp WHERE key = 42")
      // the dv'd table serves WRITES mid-lifecycle too: a row-level
      // UPDATE's matching side reads through the fold (a dv-deleted key
      // must not match), and on a mergeOnRead table the update itself is
      // MERGE-ON-READ — new row images append as new files, a
      // sequence-stamped dv retires the old rows, every prior data file
      // stays byte-identical (ManifestDvSpec pins the bytes)
      s.sql(s"UPDATE $cat.pp SET price = price + 1000.0 WHERE sz >= 40")
      // compact materializes the remaining dvs; the final read must be
      // identical before and after (the fold and the materialization are
      // the same rows) — the census goes through the post-compact scan
      s.sql(s"CALL $cat.system.compact('pp')")
      s.sql(s"SELECT key, price, sz FROM $cat.pp ORDER BY key")
    },
    Some("""SELECT p_partkey AS key,
        CASE WHEN p_size >= 40 THEN CAST(p_retailprice AS DOUBLE) + 1000.0
             ELSE CAST(p_retailprice AS DOUBLE) END AS price,
        CAST(p_size AS BIGINT) AS sz
      FROM part
      WHERE p_partkey NOT IN (7, 13, 19, 42)
      ORDER BY key"""),
    doc = "merge-on-read deletion vectors (Iceberg-v2 equality-delete economics): SQL DELETE commits a per-bucket key sidecar with data files byte-identical, every read folds it, UPDATE/compact materialize — O(keys) not O(bucket bytes) per trickle delete")

  // --------------------------------------------------------------- q330
  private val q330Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** ZERO-I/O `ADD COLUMN ... NOT NULL DEFAULT` served LIVE through SQL
    * — the Iceberg-v3 initial-default shape: the ALTER commits a literal
    * in the manifest header (same files), every read folds absent/null
    * bytes to the literal (pre-add vintages fill with no rewrite; the
    * connector's fold scan coalesces per row), Spark's own INSERT
    * default-resolution fills the column when a post-add INSERT omits it
    * (the catalog declares SUPPORT_COLUMN_DEFAULT_VALUE and the schema
    * carries CURRENT/EXISTS default metadata), explicit post-add values
    * stick, and `CALL system.compact` materializes the literal
    * physically and clears the header. The oracle restates the
    * lifecycle as a CASE over the raw table; a hash match proves no
    * vintage reads null where the default was declared. */
  val q330 = QueryDef(
    "q330_add_column_default",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q330_")
      val cat = s"graft_q330_${q330Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q330_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), 0L FROM q330_part""")
      // metadata-only defaulted add: same files, pre-add rows read 'std'
      s.sql(s"ALTER TABLE $cat.pp ADD COLUMN tier STRING NOT NULL DEFAULT 'std'")
      // post-add merge with EXPLICIT values for a keyed subset: the
      // table becomes genuinely mixed-vintage (rewritten buckets carry
      // tier physically, carried buckets fill through the fold)
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), 1L, 'gold'
        FROM q330_part WHERE p_partkey % 4 = 0""")
      // ... and an INSERT that OMITS the column: Spark fills the default
      s.sql(s"INSERT INTO $cat.pp (key, price, seq) VALUES (2000001, 1.5, 1)")
      // materialize, then read — values must be identical to the live fold
      s.sql(s"CALL $cat.system.compact('pp')")
      s.sql(s"SELECT key, price, tier FROM $cat.pp ORDER BY key")
    },
    Some("""SELECT p_partkey AS key, CAST(p_retailprice AS DOUBLE) AS price,
        CASE WHEN p_partkey % 4 = 0 THEN 'gold' ELSE 'std' END AS tier
      FROM part
      UNION ALL
      SELECT 2000001, 1.5, 'std'
      ORDER BY key"""),
    doc = "metadata-only ADD COLUMN NOT NULL DEFAULT (Iceberg-v3 initial-default shape): header literal, zero data I/O, reads fold absent/null to the default across mixed vintages, INSERT omission fills via Spark's default resolution, compact materializes")

  // --------------------------------------------------------------- q331
  private val q331Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Standard-SQL `ANALYZE TABLE ... COMPUTE STATISTICS` — BI tooling's
    * default stats vocabulary aliased onto the engine's commit-time
    * census: Spark has no v2 ANALYZE execution, so the extension's
    * resolution rule ([[graft.sources.GraftAnalyzeRule]]) rewrites the
    * statement into a footer-walk rebuild of the stats sidecar. The
    * query simulates the case ANALYZE exists for — a MISSING sidecar
    * (pre-stats vintage / crashed post-commit write), under which the
    * census degrades to unknown — then ANALYZEs and reads the healed
    * census through `CALL system.detail`. The oracle restates the
    * deterministic facts (layout literals, the exact row count)
    * relationally over the raw table. */
  val q331 = QueryDef(
    "q331_analyze_table",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q331_")
      val cat = s"graft_q331_${q331Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q331_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), 0L FROM q331_part""")
      // tear the sidecar off: the census must degrade to unknown, and
      // ANALYZE must rebuild it exactly from the parquet footers
      val v = ManifestUpsertSink.latestManifest(s"$root/pp").get.version
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(root, "pp", "_manifest", s"v$v.stats"))
      s.sql(s"ANALYZE TABLE $cat.pp COMPUTE STATISTICS")
      s.sql(s"CALL $cat.system.detail('pp')")
        .select(col("key_col"), col("buckets"), col("total_rows"),
          col("n_versions"), col("dv_rows"))
    },
    Some("""SELECT 'key' AS key_col, CAST(8 AS BIGINT) AS buckets,
        (SELECT COUNT(*) FROM part) AS total_rows,
        CAST(1 AS BIGINT) AS n_versions, CAST(0 AS BIGINT) AS dv_rows"""),
    doc = "standard ANALYZE TABLE COMPUTE STATISTICS over the lake catalog (resolution-rule alias onto the commit-time census): rebuilds a torn/missing stats sidecar from parquet footers, re-lighting planner statistics, metadata-only aggregates, and DESCRIBE DETAIL")

  // --------------------------------------------------------------- q332
  private val q332Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** MERGE-ON-READ UPSERTS through pure SQL — the write-economics twin
    * of q329's deletes, unlocked by COMMIT-SEQUENCE PROVENANCE: on a
    * `mergeOnRead` table a row-level UPDATE (and a MERGE without DELETE
    * branches) APPENDS its new row images as new files and commits a
    * sequence-stamped deletion vector retiring the old rows — every
    * prior data file stays byte-identical (ManifestDvSpec pins the
    * bytes), so a 10-row update on a 100-TB table costs O(10 rows), not
    * O(touched bucket bytes). The fold masks a dv'd key only in files
    * with `file.seq < dv.seq`, which is what lets the replacement row —
    * written at the dv's own sequence — survive; stacked updates, a
    * MERGE upsert, and a trailing dv DELETE interleave sequences, and
    * the FINAL read runs pre-compaction through the live seq-aware fold
    * (per-file sub-readers in the DSv2 scan). The oracle restates the
    * statement stack as one CASE; a hash match proves no instance of a
    * key — original, first update, second update, merge image — leaks
    * through or is over-masked. */
  val q332 = QueryDef(
    "q332_mor_upsert",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q332_")
      val cat = s"graft_q332_${q332Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q332_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8',
          'mergeOnRead'='true')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q332_part""")
      // trickle UPDATE #1: appends new row images + a dv at this commit's
      // sequence — zero prior files rewritten
      s.sql(s"UPDATE $cat.pp SET price = price * 2 WHERE sz <= 5")
      // STACKED update over a subset of the same keys: its dv must mask
      // both the originals AND update #1's rows, while its own survive
      s.sql(s"UPDATE $cat.pp SET price = price + 10.0 WHERE sz <= 3")
      // MERGE without DELETE branches is merge-on-read too: one matched
      // update (overriding everything above for key 5) + one insert
      s.sql(s"""MERGE INTO $cat.pp t USING (
          SELECT CAST(5 AS BIGINT) AS key, CAST(123.0 AS DOUBLE) AS price,
                 CAST(-1 AS BIGINT) AS sz, CAST(9 AS BIGINT) AS seq
          UNION ALL
          SELECT CAST(2000001 AS BIGINT), CAST(1.5 AS DOUBLE),
                 CAST(99 AS BIGINT), CAST(9 AS BIGINT)
        ) s ON t.key = s.key
        WHEN MATCHED THEN UPDATE SET price = s.price, sz = s.sz, seq = s.seq
        WHEN NOT MATCHED THEN INSERT *""")
      // a dv DELETE on top: its sequence (newest) masks every prior
      // instance of the keys, including their upserted replacements
      s.sql(s"DELETE FROM $cat.pp WHERE key IN (11, 17)")
      // read PRE-compaction: the answer comes from the live interleaved
      // fold, not a materialized rewrite
      s.sql(s"SELECT key, price, sz FROM $cat.pp ORDER BY key")
    },
    Some("""SELECT key, price, sz FROM (
        SELECT p_partkey AS key,
          CASE WHEN p_partkey = 5 THEN CAST(123.0 AS DOUBLE)
               WHEN p_size <= 3 THEN CAST(p_retailprice AS DOUBLE) * 2 + 10.0
               WHEN p_size <= 5 THEN CAST(p_retailprice AS DOUBLE) * 2
               ELSE CAST(p_retailprice AS DOUBLE) END AS price,
          CASE WHEN p_partkey = 5 THEN CAST(-1 AS BIGINT)
               ELSE CAST(p_size AS BIGINT) END AS sz
        FROM part WHERE p_partkey NOT IN (11, 17)
        UNION ALL
        SELECT CAST(2000001 AS BIGINT), CAST(1.5 AS DOUBLE), CAST(99 AS BIGINT)
      ) t ORDER BY key"""),
    doc = "merge-on-read UPSERTs via commit-sequence provenance (Iceberg-v2 sequence-number economics): UPDATE/MERGE on a mergeOnRead table appends row images + a sequence-stamped dv, prior files byte-identical, stacked updates + deletes interleave and the live seq-aware fold answers pre-compaction")

  // --------------------------------------------------------------- q333
  private val q333Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` — the
    * COLUMN-LEVEL census (exact ndv + null count per column, one
    * aggregation pass over the logical snapshot) stored per version and
    * served back through `CALL system.col_stats` AND through the scan's
    * DSv2 column statistics, where it feeds Spark's cost-based join
    * cardinality estimation and DP join reordering
    * (AnalyzeColumnsSpec pins a 3-table reorder flipping once ndv
    * exists — without it CBO orders lake joins by size alone). The
    * oracle recomputes each column's distinct/null census relationally
    * over the raw table. */
  val q333 = QueryDef(
    "q333_analyze_columns",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q333_")
      val cat = s"graft_q333_${q333Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q333_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, brand STRING, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, p_brand, CAST(p_size AS BIGINT), 0L FROM q333_part""")
      s.sql(s"ANALYZE TABLE $cat.pp COMPUTE STATISTICS FOR COLUMNS key, brand, sz")
      s.sql(s"CALL $cat.system.col_stats('pp')")
        .orderBy(col("column_name"))
    },
    Some("""SELECT * FROM (
        SELECT 'brand' AS column_name,
          CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS ndv,
          CAST(SUM(CASE WHEN p_brand IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count
        FROM part
        UNION ALL
        SELECT 'key', CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
          CAST(SUM(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM part
        UNION ALL
        SELECT 'sz', CAST(COUNT(DISTINCT p_size) AS BIGINT),
          CAST(SUM(CASE WHEN p_size IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM part
      ) t ORDER BY column_name"""),
    doc = "ANALYZE TABLE ... FOR COLUMNS over the lake catalog: exact per-column ndv/null census stored per version, served via CALL system.col_stats and the scan's DSv2 column statistics — the feed that turns on CBO join cardinality estimation and join reordering for lake tables")

  // --------------------------------------------------------------- q334
  private val q334Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** MERGE-ON-READ for MIXED row-level statements — the write-economics
    * capstone over q329 (pure deletes) and q332 (upsert-only
    * statements): a MERGE with DELETE branches and a KEY-MOVING UPDATE
    * on a `mergeOnRead` table each commit ONE version that appends the
    * statement's new row images and records ONE deletion-vector
    * generation covering replaced ∪ deleted ∪ moved-away old keys at
    * the same commit sequence
    * ([[graft.sinks.ManifestUpsertSink.applyDeltaMergeOnRead]]) — every
    * prior data file stays byte-identical (ManifestDvSpec pins the
    * bytes and the combined change feed), so no statement class pays
    * O(touched-bucket bytes) anymore. The replacement rows survive
    * their own commit's dv (file.seq < dv.seq masking); the vacated and
    * deleted keys — with no replacement at that sequence — fold away.
    * The final read runs PRE-compaction through the live sequence-aware
    * fold; the oracle restates the statement stack relationally. */
  val q334 = QueryDef(
    "q334_mor_mixed_merge",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q334_")
      val cat = s"graft_q334_${q334Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q334_part")
      s.sql(s"""CREATE TABLE $cat.pp (key BIGINT, price DOUBLE, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8',
          'mergeOnRead'='true')""")
      s.sql(s"""INSERT INTO $cat.pp
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q334_part""")
      // MIXED MERGE: two matched DELETEs, two matched UPDATEs, one
      // NOT-MATCHED INSERT — one commit, one appended file set, one dv
      s.sql(s"""MERGE INTO $cat.pp t USING (
          SELECT CAST(2 AS BIGINT) AS key, CAST(0.0 AS DOUBLE) AS price,
                 CAST(-1 AS BIGINT) AS sz, CAST(1 AS BIGINT) AS seq
          UNION ALL SELECT CAST(3 AS BIGINT), CAST(0.0 AS DOUBLE),
                 CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
          UNION ALL SELECT CAST(4 AS BIGINT), CAST(0.0 AS DOUBLE),
                 CAST(77 AS BIGINT), CAST(1 AS BIGINT)
          UNION ALL SELECT CAST(5 AS BIGINT), CAST(0.0 AS DOUBLE),
                 CAST(77 AS BIGINT), CAST(1 AS BIGINT)
          UNION ALL SELECT CAST(2000001 AS BIGINT), CAST(9.5 AS DOUBLE),
                 CAST(88 AS BIGINT), CAST(1 AS BIGINT)
        ) s ON t.key = s.key
        WHEN MATCHED AND s.sz < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET price = t.price + 7.0, sz = s.sz, seq = s.seq
        WHEN NOT MATCHED THEN INSERT *""")
      // KEY-MOVING UPDATE: vacated keys dv away, rows land at new keys —
      // still merge-on-read, still one commit
      s.sql(s"UPDATE $cat.pp SET key = key + 3000000 WHERE sz = 1")
      s.sql(s"SELECT key, price, sz FROM $cat.pp ORDER BY key")
    },
    Some("""SELECT CASE WHEN sz = 1 THEN key + 3000000 ELSE key END AS key,
          price, sz FROM (
        SELECT p_partkey AS key,
          CASE WHEN p_partkey IN (4, 5)
               THEN CAST(p_retailprice AS DOUBLE) + 7.0
               ELSE CAST(p_retailprice AS DOUBLE) END AS price,
          CASE WHEN p_partkey IN (4, 5) THEN CAST(77 AS BIGINT)
               ELSE CAST(p_size AS BIGINT) END AS sz
        FROM part WHERE p_partkey NOT IN (2, 3)
        UNION ALL
        SELECT CAST(2000001 AS BIGINT), CAST(9.5 AS DOUBLE), CAST(88 AS BIGINT)
      ) t ORDER BY key"""),
    doc = "merge-on-read for MIXED row-level statements: MERGE with DELETE branches and key-moving UPDATE each append row images + ONE sequence-stamped dv covering replaced/deleted/moved-away keys — no statement class pays O(touched-bucket bytes); live seq-aware fold answers pre-compaction")

  // --------------------------------------------------------------- q335
  private val q335Seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** WRITE-AUDIT-PUBLISH over writable branches — the ref-surface
    * capstone: stage a statement stack (insert + MoR delete + MoR
    * update) on a branch while main stays pinned at the fork, then
    * `CALL system.fast_forward` REPLAYS the branch's commits onto main
    * ([[graft.sinks.ManifestUpsertSink.fastForwardFrom]]) — branch-own
    * data/dv files move under main's root, change feeds and stats
    * sidecars adopt, explicit commit-sequence provenance carries so the
    * merge-on-read `file.seq < dv.seq` fold stays monotone across the
    * publish, and the branch retires. The final read runs on MAIN
    * through the adopted deletion vectors pre-compaction; the oracle
    * restates the staged statements relationally. */
  val q335 = QueryDef(
    "q335_branch_fast_forward",
    (s, d) => {
      val root = QueryDef.tempDir("graft_q335_")
      val cat = s"graft_q335_${q335Seq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.ManifestCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      Tables.part(s, d).createOrReplaceTempView("q335_part")
      s.sql(s"""CREATE TABLE $cat.bt (key BIGINT, price DOUBLE, sz BIGINT, seq BIGINT)
        TBLPROPERTIES ('keyCol'='key', 'orderCol'='seq', 'buckets'='8',
          'mergeOnRead'='true')""")
      s.sql(s"""INSERT INTO $cat.bt
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE), CAST(p_size AS BIGINT), 0L
        FROM q335_part""")
      // stage on the branch: main stays pinned at the fork
      s.sql(s"CALL $cat.system.branch('bt', 'wap')")
      s.sql(s"""INSERT INTO $cat.`bt@wap` VALUES
        (CAST(4000001 AS BIGINT), CAST(1.5 AS DOUBLE), CAST(11 AS BIGINT), CAST(1 AS BIGINT)),
        (CAST(4000002 AS BIGINT), CAST(2.5 AS DOUBLE), CAST(12 AS BIGINT), CAST(1 AS BIGINT))""")
      s.sql(s"DELETE FROM $cat.`bt@wap` WHERE key IN (2, 3)")
      s.sql(s"UPDATE $cat.`bt@wap` SET price = price + 5.0, seq = 1 WHERE key IN (10, 11)")
      // publish: main fast-forwards to the branch head, branch retires
      s.sql(s"CALL $cat.system.fast_forward('bt', 'wap')")
      s.sql(s"SELECT key, price, sz FROM $cat.bt ORDER BY key")
    },
    Some("""SELECT key, price, sz FROM (
        SELECT p_partkey AS key,
          CASE WHEN p_partkey IN (10, 11)
               THEN CAST(p_retailprice AS DOUBLE) + 5.0
               ELSE CAST(p_retailprice AS DOUBLE) END AS price,
          CAST(p_size AS BIGINT) AS sz
        FROM part WHERE p_partkey NOT IN (2, 3)
        UNION ALL
        SELECT CAST(4000001 AS BIGINT), CAST(1.5 AS DOUBLE), CAST(11 AS BIGINT)
        UNION ALL
        SELECT CAST(4000002 AS BIGINT), CAST(2.5 AS DOUBLE), CAST(12 AS BIGINT)
      ) t ORDER BY key"""),
    doc = "write-audit-publish: statements stage on a writable branch, CALL system.fast_forward replays them onto main (files/feeds/sidecars adopt, seq provenance carries, branch retires) — main answers through the adopted deletion vectors pre-compaction")

  val all: Seq[QueryDef] = Seq(q38, q39, q90, q163, q164, q165, q187, q294, q295, q298, q300, q301,
    q302, q303, q304, q305, q307, q308, q310, q311, q312, q313, q314, q315, q316, q317, q318, q319,
    q322, q323, q324, q325, q326, q327, q328, q329, q330, q331, q332, q333, q334, q335, q214, q215,
    q216, q228)
}
