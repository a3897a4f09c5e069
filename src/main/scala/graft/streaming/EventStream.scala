package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import graft.etl.EventPipeline

/** Streaming tier: every transform is `DataFrame → DataFrame`, so the same
  * logical pipeline binds to `spark.read` (batch backfill, tests against
  * the DuckDB oracle) and `spark.readStream` (production) — the payoff of
  * keeping the ETL declarative (SURVEY §7.1).
  *
  * Sources: any Spark streaming source with (sequenceNumber, data) shape —
  * file/text re-reads of the K1 layout, MemoryStream in tests, rate source
  * for load tests; a Kinesis connector binds at the edge in production
  * (SURVEY §2.A S1 — the connector is external, so nothing here depends
  * on it). */
object EventStream {

  /** The reference's ingest hot path over a stream: parse the two-level
    * JSON envelope into typed events (db.clj:146-173 semantics). */
  def parse(raw: DataFrame): DataFrame = EventPipeline.parse(raw)

  /** Event-time tumbling-window counts with late-data drop (A1's rate
    * meter generalized): one shuffle on (window, key); state bounded by
    * the watermark. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Sliding-window variant (rate over trailing windows). */
  def slidingCounts(
      events: DataFrame,
      tsCol: String = "ts",
      windowLen: String = "10 minutes",
      slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide))
      .agg(count(lit(1)).as("n"))

  /** Session windows keyed by user (gap-based). */
  def sessionCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Streaming dedup by id within the watermark horizon — the streaming
    * form of the reference's id-dedup probe (J1, db.clj:100-104), with
    * state bounded by the watermark instead of an unbounded id set. */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "id",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream inner join within a ± time bound: both sides
    * watermarked so join state is bounded by watermark + bound (the
    * standard interval-join shape). Right side must carry prefixed
    * columns (`r_<key>`, `r_ts`) to keep the condition unambiguous. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      watermark: String = "10 minutes",
      bound: String = "5 minutes"): DataFrame =
    left.withWatermark("ts", watermark)
      .join(right.withWatermark("r_ts", watermark),
        expr(s"$key = r_$key AND r_ts >= ts - INTERVAL $bound AND r_ts <= ts + INTERVAL $bound"))

  /** EP2's dual-sink fan-out (core.clj:152-153: every record goes to BOTH
    * the gzip line buffer and the DB upsert) as one foreachBatch: the
    * micro-batch is cached once and written to the date-partitioned line
    * files (append) and the JDBC LWW upsert in the same commit cycle.
    * Replay safety: the upsert is idempotent; the file side may duplicate
    * lines on redelivery exactly like the reference's S3 buffer did —
    * the downstream exact-dedup operator (q40) owns that. */
  def startDualSink(
      parsed: DataFrame,
      lineDir: String,
      checkpoint: String,
      jdbc: Option[graft.sinks.JdbcUpsertSink],
      jdbcCols: Seq[String],
      orderCol: String,
      intervalMs: Long = RotationTrigger.DefaultIntervalMs,
      batchSize: Long = RotationTrigger.DefaultBatchSize): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch.persist()
        try {
          graft.sinks.LineFileSink.write(
            cached.select(col("id").as("sequenceNumber"),
              col("orig_data").as("data"), col("ts")),
            lineDir, col("ts"), batchSize, mode = "append")
          jdbc.foreach(_.upsertBatch(cached.selectExpr(jdbcCols: _*), orderCol))
        } finally cached.unpersist()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  /** Streaming → lakehouse: MERGE each micro-batch into a
    * [[graft.sinks.ManifestUpsertSink]] table. foreachBatch hands the
    * micro-batch id straight to the sink's replay guard, so a
    * crash-restart redelivery (the at-least-once window between a sink
    * commit and the offset-log commit) merges nothing twice — source
    * offset log + versioned manifest give exactly-once END TO END, the
    * streaming counterpart of the JDBC path's idempotent upsert but on
    * object-store parquet. */
  def startManifestSink(
      parsed: DataFrame,
      sink: graft.sinks.ManifestUpsertSink,
      cols: Seq[String],
      orderCol: String,
      checkpoint: String,
      intervalMs: Long = RotationTrigger.DefaultIntervalMs): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink.upsertBatch(batch.selectExpr(cols: _*), orderCol, id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  /** Stream-static join: enrich a stream against a batch dimension table
    * (e.g. parsed events ⋈ a customer/geo dim). The static side is
    * re-planned per micro-batch, so broadcast selection applies normally. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** CDC SUBSCRIPTION on a [[graft.sinks.ManifestUpsertSink]] table: a
    * streaming frame of every row-level change the table's merges record
    * — (version, key, change ∈ inserted|updated, old_hash, new_hash) —
    * the feed an incremental re-train / cache-invalidation / audit
    * consumer tails instead of diffing snapshots.
    *
    * Spark-first construction: each merge writes its change files under
    * `_changes/v<N>/` BEFORE committing the manifest, and change files
    * are immutable once their version commits — exactly the append-only
    * layout Spark's built-in file streaming source tails natively. So
    * the subscription IS `readStream.parquet` over the `_changes` glob:
    * new-version discovery, per-file exactly-once accounting, and
    * checkpoint recovery all come from the file source's own offset log
    * — no bespoke stream machinery to maintain. The version number is
    * recovered from the file path (`input_file_name`), not stored per
    * row.
    *
    * Delivery contract: exactly-once per FILE in normal operation. The
    * one at-least-once window is a writer crash BETWEEN the change write
    * and the manifest commit — the replayed batch overwrites the orphan
    * dir with fresh file names, so a subscriber that consumed the
    * orphans sees that version's changes twice; dedupe by (version, key)
    * if the consumer is not idempotent (same contract Delta CDF has for
    * uncommitted writers). Schema comes from one batch read of the
    * existing feed (a subscription starts on a table with ≥1 committed
    * merge — same precondition as [[graft.sinks.ManifestUpsertSink.read]]). */
  def changesStream(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val glob = s"$root/_changes/*"
    val schema = spark.read.parquet(glob).schema
    spark.readStream.schema(schema).parquet(glob)
      .withColumn("version",
        regexp_extract(input_file_name(), "/_changes/v(\\d+)/", 1).cast("long"))
  }

  /** CONTINUOUSLY-MAINTAINED aggregate over a manifest table — streaming
    * IVM: the q301 delta algebra on the live [[changesStream]] feed. Each
    * change row contributes `coalesce(new, 0) − coalesce(old, 0)` of
    * `valueField` (extracted from the feed's before/after images) to its
    * group — inserts add (null old), updates move, DELETES subtract
    * (null new, the `deleteKeys` feed rows) — and a
    * plain streaming sum keeps the per-group running total — after the
    * subscription has drained version N, the state equals the version-N
    * snapshot aggregate exactly (decimal accumulator, so the equality is
    * bit-exact, not approximate). O(sources·groups) state, no watermark
    * (running totals), O(changed rows) per trigger — the materialized
    * view the table's merges maintain instead of any consumer rescanning
    * snapshots. `imageSchema` is the feed image's DDL (name-sorted
    * payload columns, e.g. "bal DOUBLE, key BIGINT, seq BIGINT").
    *
    * Emits (grp, total) in update mode via the caller's writeStream. */
  def maintainedAggStream(changes: DataFrame, imageSchema: String,
      groupExpr: org.apache.spark.sql.Column, valueField: String): DataFrame =
    changeDeltas(changes, imageSchema, groupExpr, valueField)
      .groupBy(col("grp"))
      .agg(sum(col("d").cast(DeltaDec)).cast("double").as("total"))

  private val DeltaDec = org.apache.spark.sql.types.DecimalType(28, 10)

  /** THE delta-algebra contract, defined once for every IVM consumer:
    * per change row, `d` = value delta (insert adds, delete subtracts,
    * update moves) and `dn` = row-count delta (insert +1, delete −1,
    * update 0), both extracted from the feed's before/after images. */
  private def changeDeltas(changes: DataFrame, imageSchema: String,
      groupExpr: org.apache.spark.sql.Column, valueField: String): DataFrame = {
    def img(c: String) =
      from_json(col(c), imageSchema, Map.empty[String, String]).getField(valueField)
    changes.select(groupExpr.as("grp"),
      (coalesce(img("new_image"), lit(0.0))
        - coalesce(img("old_image"), lit(0.0))).as("d"),
      (when(col("new_image").isNotNull, 1L).otherwise(0L)
        - when(col("old_image").isNotNull, 1L).otherwise(0L)).as("dn"))
  }

  /** The MATERIALIZED-VIEW lifecycle closed into the lake: tail `root`'s
    * CDC feed, maintain the per-group aggregate differentially
    * ([[maintainedAggStream]]'s delta algebra, extended with a running
    * ROW COUNT per group so group death is knowable), and MERGE each
    * trigger's changed groups back into `mvSink` — a second manifest
    * table that IS the view: versioned, time-travel readable, with its
    * own CDC feed (`changesOf` on the MV shows view-level deltas), and
    * exactly-once via the same replay guard as any manifest write.
    *
    * Per trigger the update-mode aggregate emits ONLY the groups the
    * drained changes touched — O(changed groups) rows merge into the MV,
    * never a view rescan; groups whose running count hits zero are
    * DELETED from the MV (their source rows are gone), so MV snapshot ==
    * recompute-from-source exactly, including group death. The merge and
    * the delete are ONE commit ([[graft.sinks.ManifestUpsertSink.applyDelta]]),
    * so no reader or crash sees a half-applied trigger; it is
    * replay-guarded as batch id 2·id+1 (the odd id keeps the guard
    * monotone over views written when merge and delete committed as
    * 2·id and 2·id+1) — a redelivered trigger id replays as a no-op.
    *
    * State cost: O(groups) in the stream's store (dead groups keep a
    * zero entry — the price of exact counts without a TTL), O(changed
    * groups) write amplification per trigger. `imageSchema` is the feed
    * image DDL as in [[maintainedAggStream]]; `groupExpr` may reference
    * any feed column incl. the key. */
  def startMaintainedView(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      mvSink: graft.sinks.ManifestUpsertSink,
      imageSchema: String,
      groupExpr: org.apache.spark.sql.Column,
      valueField: String,
      checkpoint: String,
      intervalMs: Long = RotationTrigger.DefaultIntervalMs): StreamingQuery = {
    val maintained =
      changeDeltas(changesStream(spark, root), imageSchema, groupExpr, valueField)
        .groupBy(col("grp"))
        .agg(sum(col("d").cast(DeltaDec)).cast("double").as("total"),
          sum(col("dn")).as("n"))
    maintained.writeStream
      .outputMode("update") // only the groups this trigger's changes touched
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // persist: the statement takes several actions (one touched-
        // bucket probe per side, the feed and data writes) — without it
        // each action re-runs the stateful aggregation pipeline
        batch.persist()
        try {
          val live = batch.filter(col("n") > 0L)
            .select(col("grp"), col("total"), col("n")).withColumn("seq", lit(id))
          val dead = batch.filter(col("n") <= 0L).select(col("grp"))
          mvSink.applyDelta(live, dead, "seq", 2 * id + 1)
        } finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
  }

  /** Custom keyed state via mapGroupsWithState (A5/A6 generalized): a
    * running per-key record count + last-seen sequence number that
    * survives across micro-batches — the engine-owned form of the
    * reference's item-counter / last-sequence atoms (core.clj:124-125,
    * 158-160). State expires after `timeoutMs` of inactivity so it stays
    * bounded at any key cardinality. */
  case class KeyState(n: Long, lastSeq: String)

  def runningCounts(
      events: Dataset[(String, String)], // (key, sequenceNumber)
      timeoutMs: Long = 3600000L): Dataset[(String, Long, String)] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            (key, s.n, s.lastSeq)
          } else {
            val buf = rows.toSeq
            val prev = state.getOption.getOrElse(KeyState(0L, ""))
            val next = KeyState(prev.n + buf.size,
              (prev.lastSeq +: buf.map(_._2)).max) // seq numbers are monotone strings
            state.update(next)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            (key, next.n, next.lastSeq)
          }
      }
  }

  /** [[runningCounts]] on Spark 4's transformWithState — the successor
    * arbitrary-state API (SPARK-46815): explicit typed `ValueState` with
    * native TTL instead of mapGroupsWithState's single implicit state slot
    * + manual timeout plumbing. Requires the RocksDB state store provider
    * (TTL and multiple state variables ride its column families); callers
    * set `spark.sql.streaming.stateStore.providerClass` accordingly.
    * Output rows mirror runningCounts so either implementation can back
    * A5/A6. (Caveat shared with ProcessingTimeTimeout: processing-time
    * TTL stalls `processAllAvailable` under the test harness, so specs
    * exercise the ttlMs=0 / TimeMode.None path; TTL is for real
    * triggered deployments.) */
  class RunningCountsProcessor(ttlMs: Long)
      extends StatefulProcessor[String, (String, String), (String, Long, String)] {
    @transient private var state: ValueState[KeyState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[KeyState]("counts",
        org.apache.spark.sql.Encoders.product[KeyState],
        if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[(String, String)],
        timerValues: TimerValues): Iterator[(String, Long, String)] = {
      val buf = rows.toSeq
      val prev = Option(state.get()).getOrElse(KeyState(0L, ""))
      val next = KeyState(prev.n + buf.size,
        (prev.lastSeq +: buf.map(_._2)).max)
      state.update(next)
      Iterator.single((key, next.n, next.lastSeq))
    }
  }

  def runningCountsTws(
      events: Dataset[(String, String)], // (key, sequenceNumber)
      ttlMs: Long = 3600000L): Dataset[(String, Long, String)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new RunningCountsProcessor(ttlMs),
        // TTL state requires ProcessingTime mode (unlike timers, TTL
        // cleanup never blocks a trigger, so tests stay deterministic)
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
  }

  /** One closed gap-based session (the streaming form of the q57 batch
    * sessionizer's output row). */
  case class ClosedSession(user: String, nEvents: Long, startMs: Long, endMs: Long)
  case class SessionState(cnt: Long, startMs: Long, lastMs: Long)

  /** flatMapGroupsWithState: zero-or-more outputs per key per batch —
    * emits a ClosedSession whenever a key's new event arrives more than
    * `gapMs` after its previous one (lazy close: no timers, so the
    * operator is deterministic under replay and testable without clock
    * control; add an event-time timeout for eager close in production). */
  def closedSessions(
      events: Dataset[(String, Long)], // (user, eventTimeMs)
      gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[(String, Long)], state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var closed = List.empty[ClosedSession]
          var st = state.getOption.orNull
          sorted.foreach { t =>
            st match {
              case null => st = SessionState(1L, t, t)
              case s if t - s.lastMs > gapMs =>
                closed ::= ClosedSession(user, s.cnt, s.startMs, s.lastMs)
                st = SessionState(1L, t, t)
              case s => st = SessionState(s.cnt + 1, s.startMs, t)
            }
          }
          if (st != null) state.update(st)
          closed.reverseIterator
      }
  }

  /** K1+K2 as a streaming sink: date-partitioned gzip line files with the
    * T1 rotation contract — `Trigger.ProcessingTime(intervalMs)` bounds
    * latency (≤ interval per flush) and `maxRecordsPerFile` bounds file
    * size (≤ batchSize records per file); together they are the observable
    * behavior of the reference's count-or-time rotation
    * (core.clj:113-120), enforced by mechanism Spark owns. */
  /** K2's exact object-naming contract as a streaming sink: every
    * micro-batch commits `yyyy/MM/dd/<last-seq>.records.log.gz` files via
    * [[graft.sinks.LineFileSink.writeSeqNamed]], so the key listing doubles
    * as a resume cursor (`LineFileSink.lastCursor`) exactly like the
    * reference's upload keys (core.clj:41-58). Replayed batches rewrite
    * the same keys — idempotent. Prefer [[startLineFileSink]] when
    * downstream reads want Hive-partition pruning instead of the cursor. */
  def startSeqNamedSink(
      raw: DataFrame,
      path: String,
      checkpoint: String,
      intervalMs: Long = RotationTrigger.DefaultIntervalMs,
      batchSize: Long = RotationTrigger.DefaultBatchSize): StreamingQuery =
    raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.LineFileSink.writeSeqNamed(batch, path, col("ts"), batchSize)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  def startLineFileSink(
      raw: DataFrame,
      path: String,
      checkpoint: String,
      intervalMs: Long = RotationTrigger.DefaultIntervalMs,
      batchSize: Long = RotationTrigger.DefaultBatchSize): StreamingQuery =
    raw.select(
        graft.functions.EventFunctions.formatLine(col("sequenceNumber"), col("data")).as("value"),
        date_format(col("ts"), "yyyy").as("year"),
        date_format(col("ts"), "MM").as("month"),
        date_format(col("ts"), "dd").as("day"))
      .writeStream
      .format("text")
      .partitionBy("year", "month", "day")
      .option("compression", "gzip")
      .option("maxRecordsPerFile", batchSize)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  /** Streaming corpus telemetry — q111's health census maintained
    * INCREMENTALLY on the ingest stream: per source, running doc/token
    * counts and mean quality over everything seen so far. A plain
    * streaming aggregation (sum/count state per source — O(sources)
    * state, no watermark needed for running totals), so the batch
    * operators' quality formula ([[graft.ext.TextStats.qualityScore]])
    * runs unchanged on the stream: curation dashboards read the same
    * numbers during ingest that q111 reports after it. Exact-dup-rate is
    * deliberately absent here: a distinct-hash census is unbounded state
    * on a stream — that column stays a batch (q111) concern. */
  def runningCorpusStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens"),
        avg(graft.ext.TextStats.qualityScore(col("text"))).as("mean_quality"))

  /** The ingest parse instrumented with [[org.apache.spark.sql.Dataset.observe]]:
    * per-batch parse-health counters (rows, dead letters = outer
    * envelope/epoch failed, missing event timestamps, payload bytes) ride
    * each `StreamingQueryProgress.observedMetrics["ingest_quality"]` row.
    * This is the Spark-native form of the reference's ingestion meters
    * (core.clj:31-34): the metrics are computed INSIDE the running query —
    * no second aggregation stream, no state, no extra pass over the data —
    * and a listener/dashboard reads them per micro-batch. The dead-letter
    * predicate is the same from_json-NULL contract q65 audits in batch
    * (observed BETWEEN the parse stages — the F1 now()-fallback means the
    * OUTPUT columns never carry the failure signal). */
  def observedParse(raw: DataFrame): DataFrame =
    EventPipeline.parse(raw, observeMetrics = true)

  /** One LSH bucket's memory of a previously seen document. */
  case class BucketEntry(docId: Long, sig: Array[Long])
  /** A flagged near-duplicate: the arriving doc, the earlier doc it
    * collides with, and the signature-agreement Jaccard estimate. */
  case class NearDupHit(docId: Long, matchedId: Long, estJaccard: Double)

  /** Online near-dup detection state: per band-bucket, the last
    * `maxPerBucket` (docId, signature) entries. Arriving docs compare
    * their 64-hash MinHash signature against every resident of each of
    * their 16 buckets — agreement fraction is the unbiased Jaccard
    * estimator — and hits ≥ tau are emitted as they are discovered.
    * In-batch order is pinned by docId so replays are deterministic. */
  class NearDupProcessor(k: Int, tau: Double, maxPerBucket: Int)
      extends StatefulProcessor[String, (String, Long, Array[Long]), NearDupHit] {
    @transient private var seen: ListState[BucketEntry] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getListState[BucketEntry]("seen",
        org.apache.spark.sql.Encoders.product[BucketEntry], TTLConfig.NONE)
    }
    override def handleInputRows(bucket: String,
        rows: Iterator[(String, Long, Array[Long])],
        timerValues: TimerValues): Iterator[NearDupHit] = {
      var resident = seen.get().toVector
      val hits = Vector.newBuilder[NearDupHit]
      rows.toVector.sortBy(_._2).foreach { case (_, docId, sig) =>
        resident.foreach { e =>
          if (e.docId != docId) {
            var same = 0
            var i = 0
            while (i < k) { if (sig(i) == e.sig(i)) same += 1; i += 1 }
            val est = same.toDouble / k
            if (est >= tau) hits += NearDupHit(docId, e.docId, est)
          }
        }
        resident = (resident :+ BucketEntry(docId, sig)).takeRight(maxPerBucket)
      }
      seen.put(resident.toArray)
      hits.result().iterator
    }
  }

  /** Near-dup filtering DURING ingest — the streaming form of q41: each
    * arriving document is checked against everything previously seen that
    * shares any MinHash band bucket, without ever storing (or scanning)
    * the corpus itself. The batch pipeline's own primitives do the
    * hashing (`Dedup.minHashSignature`, the codegen'd MinHashSig native);
    * bucketing hashes each 4-hash band slice, so candidate generation is
    * the same S-curve as q41's 16×4 banding.
    *
    * Scale/semantics notes:
    *  - state is O(buckets × maxPerBucket) — `maxPerBucket` FIFO-bounds
    *    each bucket, trading recall against unbounded state (a TTL via
    *    RocksDB column families is the production alternative);
    *  - the emitted estimate is signature agreement (E[est] = J), not
    *    exact Jaccard: the stream never retains shingle sets. Downstream
    *    either trusts the estimate (tau well above the band knee) or
    *    exact-verifies flagged pairs against the durable log in batch;
    *  - a doc pair sharing multiple buckets is emitted once per shared
    *    bucket; consumers dedupe on (docId, matchedId) — deterministic,
    *    so the contract is stable under replay. */
  def streamingNearDup(docs: DataFrame, // (doc_id, text)
      k: Int = 64, bands: Int = 16, tau: Double = 0.5,
      maxPerBucket: Int = 16): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val r = k / bands // rows per band (4 at the 64/16 default — q41's knee)
    val sig = graft.ext.Dedup.minHashSignature(
      graft.ext.Dedup.wordShingles(col("text"), 3), k, 42L)
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(bands - 1)),
          b => concat_ws(":", b,
            xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r)))))).as("bucket"))
      .as[(Long, Array[Long], String)]
      .map { case (id, s, b) => (b, id, s) }
      .groupByKey(_._1)
      .transformWithState(new NearDupProcessor(k, tau, maxPerBucket),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming CORPUS-DELTA dedup — q174's directional operator on the
    * ingest stream: each arriving document is checked for near-duplicates
    * against a STATIC existing corpus via a stream-static LSH band
    * equi-join, then exact-verified against the matched corpus shingle
    * sets. Unlike [[streamingNearDup]] (stream-vs-itself, bounded state,
    * estimated Jaccard) this is STATELESS — the static side carries the
    * memory — and the emitted Jaccard is EXACT, because the corpus
    * shingle sets ride the join.
    *
    * Scale notes: `corpusBuckets` is computed once and `cache()`d by the
    * caller (or persisted as a bucketed table) — Spark re-plans the
    * static side per micro-batch, so an uncached corpus re-shingles
    * every trigger; cached, each micro-batch pays one equi-join probe
    * into the resident bucket index. A pair sharing multiple bands emits
    * once: the trailing `dropDuplicates` folds multi-band hits — on a
    * stream that operator is STATEFUL with O(emitted pairs) state (hits
    * are rare by construction; add a watermark + event-time column to
    * bound it on an unbounded deployment). Threshold semantics match
    * q41/q174: exact J >= tau on the trigram shingle sets. */
  def streamingDeltaDedup(stream: DataFrame, // (doc_id, text)
      corpus: DataFrame, // (doc_id, text), batch side
      tau: Double = 0.6, k: Int = 64, bands: Int = 16): DataFrame = {
    def shingled(df: DataFrame, idAs: String, shAs: String): DataFrame =
      df.filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id").as(idAs),
          graft.ext.Dedup.wordShingles(col("text"), 3).as(shAs))
    def banded(df: DataFrame, id: String, sh: String): DataFrame =
      df.select(col(id), col(sh),
        posexplode(graft.ext.Dedup.minHashBandHashes(col(sh), k, bands, 42L))
          .as(Seq("band", "bh")))
    val corpusBuckets = banded(shingled(corpus, "old_id", "sho"), "old_id", "sho")
    banded(shingled(stream, "new_id", "shn"), "new_id", "shn")
      .join(corpusBuckets, Seq("band", "bh"))
      .filter(col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id"),
        graft.ext.Dedup.jaccard(col("shn"), col("sho")).as("j"))
      .filter(col("j") >= tau)
      .dropDuplicates("new_id", "old_id")
  }

  /** Streaming SEMANTIC near-dup against a static corpus — the embedding
    * sibling of [[streamingDeltaDedup]] and the streaming form of q260:
    * each arriving vector is checked against the corpus's sign-LSH index
    * (band equi-join, exact cosine only on band collisions). Index
    * parameters are FROZEN AT BUILD TIME, the production contract for a
    * streaming ANN index: the centering mean is computed once from the
    * static corpus and embedded as a 64-double literal, so the stream
    * side needs NO join to center — band hashing is a pure per-row map
    * (codegen'd native HyperplaneBands), and the only stream-side shuffle
    * is the band-bucket join against the (broadcastable) corpus index.
    * Directional like the lexical form: corpus-side memory only; two
    * arrivals that duplicate each other do not flag. */
  def streamingSemanticDedup(stream: DataFrame, // (vec_id, embedding)
      corpus: DataFrame, // (vec_id, embedding), batch side
      tau: Double = 0.92): DataFrame = {
    val corpusE = corpus.select(col("vec_id").as("old_id"),
      col("embedding").cast("array<double>").as("old_emb"))
    val mean: Array[Double] = corpusE
      .select(posexplode(col("old_emb")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(avg(col("v")).as("m"))
      .orderBy(col("dim")).collect().map(_.getDouble(1))
    val meanLit = array(mean.map(lit).toIndexedSeq: _*)
    def banded(df: DataFrame, id: String, emb: String): DataFrame = {
      val cemb = zip_with(col(emb), meanLit, (x, m) => x - m)
      val bands = org.apache.spark.sql.GraftBridge.column(
        graft.functions.HyperplaneBands(
          org.apache.spark.sql.GraftBridge.expression(cemb), 64, 8, "42"))
      df.select(col(id), col(emb), posexplode(bands).as(Seq("band", "bh")))
    }
    val corpusBuckets = banded(corpusE, "old_id", "old_emb")
    banded(stream.select(col("vec_id").as("new_id"),
        col("embedding").cast("array<double>").as("new_emb")), "new_id", "new_emb")
      .join(corpusBuckets, Seq("band", "bh"))
      .filter(col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id"),
        graft.ext.Similarity.cosine(col("new_emb"), col("old_emb")).as("cos"))
      .filter(col("cos") >= tau)
      .dropDuplicates("new_id", "old_id")
  }

  /** One row of a key's refreshed top-k emission. */
  case class TopKRow(key: String, id: Long, score: Double, rank: Int)
  case class TopKEntry(id: Long, score: Double)

  /** Streaming bounded top-k state: per key, a k-row sorted buffer under
    * the total order (score desc, id asc) — the streaming form of q140's
    * bounded Aggregator and of the TopKAggregateRewrite physical shape.
    * An id is a LIVE ENTITY, not an event: a re-scored id REPLACES its
    * previous entry (incoming rows overwrite the buffered score; within
    * one micro-batch the last row for an id wins — update semantics, the
    * leaderboard contract), so a stale higher score can never outrank the
    * fresh one and an id never occupies two slots. For distinct ids the
    * merge stays a union + trim, independent of micro-batch boundary
    * placement; state is O(k) per key, never the history.
    *
    * Trim caveat (inherent to bounded state, not this impl): once an
    * entry falls outside the top-k its old score is forgotten, so a
    * later DOWNGRADE of a still-buffered id promotes only ids the buffer
    * still holds — exact semantics need O(ids) state, this keeps O(k). */
  class TopKProcessor(k: Int)
      extends StatefulProcessor[String, (String, Long, Double), TopKRow] {
    @transient private var buf: ListState[TopKEntry] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[TopKEntry]("topk",
        org.apache.spark.sql.Encoders.product[TopKEntry], TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Double)],
        timerValues: TimerValues): Iterator[TopKRow] = {
      val byId = scala.collection.mutable.LinkedHashMap[Long, TopKEntry]()
      buf.get().foreach(e => byId(e.id) = e)
      rows.foreach(r => byId(r._2) = TopKEntry(r._2, r._3)) // last write per id wins
      val merged = byId.values.toVector
        .sortBy(e => (-e.score, e.id))
        .take(k)
      buf.put(merged.toArray)
      merged.iterator.zipWithIndex.map { case (e, i) => TopKRow(key, e.id, e.score, i + 1) }
    }
  }

  /** Current top-k rows per key, re-emitted whenever the key sees input
    * (Update mode): leaderboards / worst-offender dashboards over an
    * unbounded stream with O(k) state per key. */
  def streamingTopK(
      events: Dataset[(String, Long, Double)], // (key, id, score)
      k: Int = 3): Dataset[TopKRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new TopKProcessor(k), TimeMode.None(), OutputMode.Update())
  }
}
