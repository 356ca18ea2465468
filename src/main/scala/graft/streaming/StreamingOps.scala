package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Sorting.ResultSortOps

/** Structured Streaming slice over the `events` stream (SURVEY §2.9
  * extension — the reference is batch-only; this is the capability a
  * continuously-ingesting catalog needs).
  *
  * Scale notes: state is bounded by the watermark (late rows beyond
  * `watermarkDelay` are dropped, window state is evicted once the
  * watermark passes); the aggregation is a standard partial/final
  * hash agg per window — the shuffle carries one row per
  * (window, key) per trigger, not per event.
  */
object StreamingOps {

  /** Tumbling-window counts + value sums per event type, with
    * watermarked event time. Works on both a streaming and a batch
    * DataFrame (same plan — the batch run is the oracle for tests).
    */
  def tumblingCounts(events: DataFrame, tsCol: String,
      windowLength: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(
        window(col(tsCol), windowLength).as("win"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 6).as("total_value"))
      .select(
        col("win.start").as("window_start"),
        col("event_type"), col("cnt"), col("total_value"))

  /** SLIDING-window counts (each event lands in
    * windowLength/slide overlapping windows — here 2): same bounded
    * state story as [[tumblingCounts]], state rows ×overlap. Works on
    * batch and streaming frames alike; the batch run is the oracle
    * (each event contributes to the window starting at its
    * truncated hour and the one before).
    */
  def slidingCounts(events: DataFrame, tsCol: String,
      windowLength: String, slide: String, watermarkDelay: String)
      : DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(
        window(col(tsCol), windowLength, slide).as("win"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 6).as("total_value"))
      .select(
        col("win.start").as("window_start"),
        col("event_type"), col("cnt"), col("total_value"))

  /** File-source stream over a parquet events directory (one file =
    * one micro-batch when `maxFilesPerTrigger` is 1 — deterministic
    * replay for tests; on a cluster the same code tails a landing
    * directory or Kafka).
    */
  def eventsStream(spark: SparkSession, dir: String, schema: StructType)
      : DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** `start`/`last` are epoch MICROseconds: `Timestamp.getTime` is
    * millis and truncating to it shifts micro-precision session bounds
    * (caught by the st3 oracle — parquet event times carry micros).
    */
  final case class SessionState(
      start: Long, last: Long, n: Long, total: Double)

  final case class UserSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  final case class PackDoc(doc_id: Long, source: String, n_tok: Long)

  /** Per-group packing state: tokens already emitted into the group's
    * shard stream. One long per group — the smallest possible state.
    */
  final case class PackState(before: Long)

  final case class PackAssign(
      source: String, doc_id: Long, shard_id: Long, n_tok: Long)

  /** STREAMING sequence packing via `flatMapGroupsWithState`: docs are
    * appended to each source's open shard as they arrive; a doc is
    * assigned to the shard where it starts (`before / budget`), and
    * the only state carried between triggers is the group's running
    * token count — one long per source, never evicted (an open shard
    * is genuinely open; state size is |groups|, not |docs|).
    *
    * In arrival-order streaming the shard layout is arrival-defined;
    * the batch run (Spark calls the same function once per whole
    * group) sorts each group by doc_id, which makes it exactly
    * [[graft.operators.AnalyticsOps.sequencePack]]'s id-ordered
    * semantics — the st5 query folds the assignments to the shard
    * manifest and is checked against c5's oracle SQL verbatim (the
    * "same code streams" duality st1–st3 establish).
    */
  def packStream(docs: Dataset[PackDoc], budgetTokens: Long)
      : Dataset[PackAssign] = {
    import docs.sparkSession.implicits._

    def fold(source: String, it: Iterator[PackDoc],
        state: GroupState[PackState]): Iterator[PackAssign] = {
      val sorted = it.toSeq.sortBy(_.doc_id)
      var before = state.getOption.map(_.before).getOrElse(0L)
      val out = sorted.map { d =>
        val shard = before / budgetTokens
        before += d.n_tok
        PackAssign(d.source, d.doc_id, shard, d.n_tok)
      }
      state.update(PackState(before))
      out.iterator
    }

    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fold)
  }

  /** [[packStream]] folded to the shard manifest — the st5 batch
    * query shape, column-identical to c5 (same oracle SQL).
    */
  def packManifest(docs: Dataset[PackDoc], budgetTokens: Long)
      : DataFrame =
    packStream(docs, budgetTokens)
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("shard_tokens"))
      .resultSorted(col("source").asc, col("shard_id").asc)

  /** Custom-state sessionization via `flatMapGroupsWithState`: events
    * per user are folded into sessions split wherever the gap between
    * consecutive events exceeds `gapMillis`. Emits every CLOSED
    * session; the open tail stays in the state store with an
    * EVENT-TIME TIMEOUT at `last + gapMillis` — when the watermark
    * passes that point the open session is emitted and its state
    * removed, so per-key state for inactive users neither lingers
    * forever nor withholds trailing sessions (the 100 TB requirement
    * for stateful streams). Streaming callers must set a watermark on
    * the event-time column upstream (event-time timeout requires one).
    *
    * Works identically over a batch Dataset (Spark runs the same
    * function once per whole group; timeouts never fire) — the batch
    * run is the test oracle; `emitOpen` additionally flushes the
    * trailing open session for that case.
    */
  def sessionize(events: Dataset[Event], gapMillis: Long,
      emitOpen: Boolean): Dataset[UserSession] = {
    import events.sparkSession.implicits._

    val gapMicros = gapMillis * 1000L

    // Local defs (not object members): the fold closure ships to
    // executors and must not drag the enclosing object into it.
    def epochMicros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    def microsToTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def emit(userId: Long, s: SessionState): UserSession =
      UserSession(userId, microsToTs(s.start), microsToTs(s.last),
        s.n, s.total)

    def fold(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        // Watermark passed last+gap with no new events: the open
        // session can never be extended — close and evict it.
        val s = state.get
        state.remove()
        return Iterator(emit(userId, s))
      }
      val sorted = it.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
      var cur = state.getOption
      val closed = Seq.newBuilder[UserSession]
      sorted.foreach { e =>
        val t = epochMicros(e.ts)
        cur match {
          case Some(s) if t - s.last <= gapMicros =>
            cur = Some(s.copy(last = t, n = s.n + 1,
              total = s.total + e.value))
          case Some(s) =>
            closed += emit(userId, s)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur match {
        case Some(s) if emitOpen =>
          state.remove()
          closed += emit(userId, s)
        case Some(s) =>
          state.update(s)
          // timeout API is millis; round UP so the timeout never fires
          // a fraction of a millisecond before last+gap
          state.setTimeoutTimestamp((s.last + gapMicros + 999L) / 1000L)
        case None => ()
      }
      closed.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fold)
  }

  /** Native `session_window` sessionization — the built-in counterpart
    * of [[sessionize]] (same gap semantics: touching sessions merge).
    * The aggregate is Spark's session-window hash agg: state per OPEN
    * session only once watermarked, partial/final merge of overlapping
    * windows — no custom state function, which makes this the
    * preferred form when no per-session custom logic is needed. Works
    * identically on batch frames (the oracle run); session_end is
    * emitted as max(ts) so the row matches the gaps-and-islands oracle
    * exactly (the window's own `end` is last + gap).
    */
  def sessionWindowAgg(events: DataFrame, tsCol: String, gap: String)
      : DataFrame =
    events
      // The merging-sessions aggregate is NOT whole-stage-codegen'd, so
      // every byte of the grouped row costs interpreted work — project
      // down to the three columns the aggregate reads before grouping
      // (round-5 verdict item 4: full event rows made st4 ~8× its twin).
      .select(col("user_id"), col(tsCol), col("value"))
      .groupBy(col("user_id"), session_window(col(tsCol), gap))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id").asc, col("session_start").asc)

  /** Streaming dedup: drop events whose key was already seen, with
    * state bounded by the watermark (keys older than the delay are
    * evicted — the standard exactly-once-per-key ingestion guard for
    * at-least-once sources). Batch frames get plain dropDuplicates —
    * same semantics, used as the test oracle.
    */
  def dedupStream(events: DataFrame, tsCol: String,
      keyCols: Seq[String], watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keyCols)

  /** Stream-stream inner join: purchases matched to the clicks they
    * followed within `windowHours`, both sides watermarked so the join
    * STATE IS BOUNDED — a click older than watermark−window can never
    * match a future purchase and is evicted; same for purchases. This
    * is the attribution-join shape (ad click → conversion) and the
    * canonical stateful two-stream op the reference's batch world has
    * no analogue for. Works identically on batch frames (the test
    * oracle): same API, Catalyst plans a plain range join.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      tsCol: String, windowHours: Int): DataFrame = {
    val c = (if (clicks.isStreaming)
        clicks.withWatermark(tsCol, s"$windowHours hours")
      else clicks)
      .select(col("user_id"), col("event_id").as("click_id"),
        col(tsCol).as("click_ts"))
    val p = (if (purchases.isStreaming)
        purchases.withWatermark(tsCol, "1 hour")
      else purchases)
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col(tsCol).as("purchase_ts"),
        col("value"))
    c.join(p,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") + expr(s"INTERVAL $windowHours HOURS"))
      .drop("p_user_id")
  }

  /** Production ingestion sink: every micro-batch is dedup-appended
    * into a parquet catalog table via `foreachBatch` — the streaming
    * twin of the batch pipeline's K5 first-write-wins append. Each
    * batch keeps only keys not already in the table (and the first row
    * per key within the batch, by `batchOrder`), so replaying a batch
    * after a failure appends nothing: the sink is idempotent per key,
    * which upgrades the file source's at-least-once delivery to
    * exactly-once-per-key in the table. State lives in the TABLE, not
    * the state store — the anti-join probe is a shuffle of batch-size
    * vs table-key-size per trigger (at 100 TB: partition the table on
    * the key and prune, or keep a key index; the semantics stay).
    * Rows land in the table's `partitionCols` layout
    * ([[graft.Catalog.appendPartitioned]]): a partitioned reader skips
    * files outside the partition directories, so a flat append into a
    * partitioned table would hide rows.
    */
  def dedupAppendSink(stream: DataFrame, spark: SparkSession,
      path: String, keys: Seq[String], batchOrder: String,
      checkpointDir: String, partitionCols: Seq[String] = Nil): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch's schema pins the partition columns' types, which
        // inference from directory names could change
        val existing =
          if (graft.Catalog.tableExists(spark, path))
            spark.read.schema(batch.schema).parquet(path)
          else batch.limit(0)
        graft.Catalog.appendPartitioned(
          graft.operators.ReferenceOps.newRowsOnly(
            existing, batch, keys, batchOrder),
          path, partitionCols)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuous refresh: every micro-batch MERGE-upserts into a
    * [[graft.Versioned]] table — the reference's refresh verb
    * (ethical_crawler.py:977–1005) running against a stream. Each
    * batch dedups to one row per key (latest by `batchOrder`, so a
    * batch carrying several revisions of a key lands its newest) and
    * commits ONE new snapshot; replaying a batch after a failure
    * re-merges the same rows onto the same keys, so the table
    * CONTENT is idempotent per batch even though each replay commits
    * a (content-identical) new version — readers time-travel through
    * refresh history for free. Cost per trigger: the merge's one
    * anti-join of table vs batch keys (see Versioned.mergeUpsert's
    * 100 TB note on file-pruned copy-on-write).
    */
  def mergeUpsertSink(stream: DataFrame, spark: SparkSession,
      table: String, keys: Seq[String], batchOrder: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latestPerKey = graft.operators.ReferenceOps
          .lastRowPerKey(batch, keys, batchOrder)
        if (graft.Versioned.currentVersion(spark, table).isEmpty)
          graft.Versioned.init(latestPerKey, table)
        else
          graft.Versioned.mergeUpsert(latestPerKey, table, keys)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming NEAR-DUP ingest gate: every micro-batch is gated
    * against the persisted MinHash signature store
    * ([[graft.operators.DedupOps.appendIfNovel]]) — batch docs
    * near-duplicating anything already in the store are dropped,
    * novel docs extend the store, and each batch's per-source ingest
    * report is appended to `root/reports`. State lives in the STORE,
    * not the state store, so it survives restarts and is shared with
    * the batch pipeline.
    *
    * Replaying a batch after a failure re-gates rows that are now IN
    * the store — every row rejects against its own earlier append:
    * long docs via the shared-shingle threshold, short docs (fewer
    * than `minShared` shingles, which can never reach the threshold
    * even against their own copy) via the gate's identity auto-reject
    * (bench_id == corpus_id candidate ⇒ already stored) — so the
    * store content is idempotent per batch (the k18 spec's re-append
    * property, now doing exactly-once duty for the at-least-once file
    * source).
    */
  def signatureGateSink(stream: DataFrame, spark: SparkSession,
      root: String, idCol: String, srcCol: String, textCol: String,
      minShared: Int, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // cold start: bootstrap an empty store so the first batch
          // gates against nothing and seeds it
          if (!graft.Catalog.tableExists(spark, s"$root/shingles"))
            graft.operators.DedupOps.initSignatureStore(
              batch.limit(0), idCol, textCol, root, Int.MaxValue)
          graft.operators.DedupOps
            .appendIfNovel(batch, idCol, srcCol, textCol, root,
              minShared)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(s"$root/reports")
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming MERGE-ON-READ refresh sink — the high-frequency
    * variant of [[mergeUpsertSink]]: each micro-batch lands as ONE
    * log commit ([[graft.Versioned.mergeUpsertMoR]], amp ≈ 1 —
    * MorProbe measured the CoW path at ~18× under scattered hot
    * keys), and every `foldEvery` batches OPTIMIZE folds the log
    * back into base files so the pending-log merge cost stays
    * bounded. The at-least-once file source is safe here WITHOUT a
    * dedup gate: a replayed batch re-appends the same rows under a
    * later log version and latest-wins per key makes the table
    * content idempotent.
    */
  def morUpsertSink(stream: DataFrame, spark: SparkSession,
      table: String, keys: Seq[String], deleteFlag: Option[String],
      checkpointDir: String, foldEvery: Int = 0): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.Versioned.mergeUpsertMoR(batch, table, keys, deleteFlag)
          if (foldEvery > 0 && batchId % foldEvery == foldEvery - 1)
            graft.Versioned.compact(spark, table)
          ()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMING AS-OF enrichment: left rows arrive as a micro-batched
    * stream and are attributed against a STATIC right-side history
    * (the point-in-time feature/attribution lookup in its serving
    * shape — e.g. purchases scored against a committed click log, a
    * sample stream against a feature snapshot). Because the right
    * side is fixed and each left row's match depends only on its own
    * (key, timestamp), [[graft.operators.SkewOps.asofJoin]]
    * DISTRIBUTES over any batching of the left side: per-micro-batch
    * join + append ≡ the one-shot batch join — so st7 is held to
    * r3's oracle VERBATIM (the st5 ≡ c5 adjudication pattern).
    * Per-batch cost is one |batch|+|R_keys-touched| window pass; a
    * slowly-changing right side upgrades this to re-reading the
    * versioned snapshot per batch (k-tier), semantics unchanged.
    *
    * Replay safety: `foreachBatch` is at-least-once, so a blind
    * append would DUPLICATE a batch retried after partial failure
    * and break the per-batch ≡ one-shot equivalence the sink
    * promises. Each batch therefore lands in its own
    * `batch=<batchId>` subdirectory with `overwrite` mode — a
    * replayed batchId REPLACES its previous (possibly partial)
    * output instead of appending beside it, making the sink
    * effectively-once. Readers take `outPath` recursively
    * (`batch=` is a partition column discovery dir).
    */
  def asofSink(stream: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      rightPayload: Seq[String], tiebreakCol: String,
      outPath: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // No isEmpty pre-check: each action on a foreachBatch frame
        // RE-EXECUTES the batch plan, so the guard doubled the
        // per-batch work just to skip a harmless empty-dir write
        // (round-12 verdict item 4 — same in every pure-write sink).
        graft.operators.SkewOps.asofJoin(batch, right, keyCol,
            leftTsCol, rightTsCol, rightPayload, tiebreakCol)
          .write.mode("overwrite")
          .parquet(s"$outPath/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMING EXACT-DEDUP sink — the at-least-once → exactly-once
    * boundary every production ingestion crosses: redelivered events
    * (same key, any later micro-batch) are dropped by
    * `dropDuplicatesWithinWatermark`, whose key state is EVICTED once
    * the watermark passes the key's event time + delay — bounded
    * state, unlike plain streaming `dropDuplicates` ([[dedupStream]]),
    * which must hold every key ever seen. The per-batchId overwrite
    * keeps the appended output replay-safe (asofSink's convention):
    * a restarted batch REPLACES its own partial output.
    *
    * Scale shape: dedup state is hash-partitioned by key across
    * executors (one shuffle per batch on the key), sized by
    * |keys in the watermark window|, not |keys ever| — the knob a
    * 100 TB/day stream actually has.
    *
    * A restart resumes from `checkpointDir`: files a committed batch
    * read are not read again, and the keys it kept stay in the dedup
    * state, so later redeliveries of them are still dropped.
    *
    * Consumers read the row sink: a per-batch pre-aggregate beside it
    * measured net slower at fixture scale (+0.7–0.9 s of in-stream
    * writes for −0.1–0.2 s of final read, BASELINE.md round 14).
    */
  def dedupSink(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      watermarkDelay: String, outPath: String, checkpointDir: String)
      : Unit = {
    val deduped = stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)
    val q = deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // No isEmpty pre-check: the guard re-executed the STATEFUL
        // dedup plan (state-store load + shuffle) once per batch
        // before the write ran it again — double the per-batch cost
        // for nothing (an empty batch=<id> write is harmless and
        // replay-safe).
        batch.write.mode("overwrite")
          .parquet(s"$outPath/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAM-STREAM interval join (st10) — the attribution shape
    * (purchase within N minutes of a view by the same user) joined
    * NATIVELY by Structured Streaming: both sides are unbounded, both
    * carry event-time watermarks, and the range predicate on the two
    * event times is what lets the engine EVICT join state — a side's
    * buffered rows age out once the other side's watermark passes
    * their time + window, so steady-state memory is
    * O(rate × (watermark delay + window)) per side, not O(stream).
    * That eviction bound is the production knob: the fixture replay
    * sets the delay past the corpus span so no pair is ever dropped
    * late and the result equals the batch interval join verbatim
    * (the st5 ≡ c5 adjudication pattern — st10 is held to the plain
    * relational oracle).
    *
    * Inner-join results emit as soon as both sides of a match have
    * arrived (matches ACROSS micro-batches come from the join state,
    * which the 3-batch replay exercises); the per-batchId overwrite
    * keeps the sink replay-safe (asofSink's convention). All column
    * names must be distinct across the two inputs.
    */
  def intervalJoinSink(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTsCol: String,
      rightTsCol: String, window: String, watermarkDelay: String,
      outPath: String, checkpointDir: String): Unit = {
    val l = left.withWatermark(leftTsCol, watermarkDelay)
    val r = right.withWatermark(rightTsCol, watermarkDelay)
    val cond = col(leftKey) === col(rightKey) &&
      col(rightTsCol) >= col(leftTsCol) &&
      col(rightTsCol) < col(leftTsCol) + expr(s"INTERVAL $window")
    val q = l.join(r, cond, "inner").writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no isEmpty pre-check — it re-executed the stateful join
        // per batch (see dedupSink)
        batch.write.mode("overwrite")
          .parquet(s"$outPath/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMING DISTINCT-COUNT via mergeable HLL registers: each
    * micro-batch lays its (key, bucket, ρ) registers down as one
    * batch partition of a persisted register store (≤ 256 rows per
    * key per batch — register-scale at ANY cardinality, the whole
    * point of the sketch for an unbounded stream), MAX-merged on
    * read, and the final estimate over the merged registers
    * EQUALS the batch e9 computation over the union — which is why
    * st8 is held to e9's oracle verbatim (the st5 ≡ c5 pattern):
    * register merge is exact, not approximate-on-approximate.
    * The store lays one register partition down per batch and
    * readers merge on read; at production rates the same merge runs
    * as `flatMapGroupsWithState` with the 256-register array as the
    * state value — identical algebra, state-store-resident.
    */
  def hllRegisterSink(stream: DataFrame, spark: SparkSession,
      key: String, idCol: String, storePath: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        locally {
          // No isEmpty pre-check (it doubled the per-batch scan).
          // One register partition PER BATCH (batch=<id>, overwrite):
          // a foreachBatch retry rewrites its own partition — replay-
          // idempotent by construction — and the per-batch write is
          // one small job instead of a read-union-reaggregate-swap of
          // the whole store. Readers MAX-merge at probe time
          // ([[mergedHllRegisters]]); at production rates a k18-style
          // compaction folds old batch partitions into one.
          graft.operators.AnalyticsOps
            .hllRegisters(batch, key, idCol)
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$storePath/batch=$batchId")
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** MAX-merge a per-batch HLL register store ([[hllRegisterSink]]
    * layout) back to one row per (t, bucket) — register merge is
    * exact, so the merged relation EQUALS the one-shot batch
    * registers over the union of all batches.
    */
  def mergedHllRegisters(store: DataFrame): DataFrame =
    store.groupBy(col("t"), col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /** STREAMING FREQUENCY SKETCH via mergeable Count-Min registers
    * (st11 — the [[hllRegisterSink]] pattern applied to CMS): each
    * micro-batch lays its (j, b, c) registers down as one batch
    * partition of a persisted register store — ≤ d·w rows of exact
    * integers per batch, register-scale at any stream length or key
    * cardinality, SUM-merged on read ([[mergedCmsRegisters]]).
    * Counter addition is exact, so the merged table EQUALS the one-shot
    * batch registers over the union and st11 is held to e10's
    * oracle verbatim (the st8 ≡ e9 adjudication). At production
    * rates the same merge runs as `flatMapGroupsWithState` keyed by
    * (j, b) — identical algebra, state-store-resident.
    */
  def cmsRegisterSink(stream: DataFrame, spark: SparkSession,
      itemCol: String, storePath: String, checkpointDir: String,
      d: Int = 4, w: Int = 256): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        locally {
          // No isEmpty pre-check (it doubled the per-batch scan).
          // REPLAY SAFETY: counter SUM-merge is not idempotent, so a
          // foreachBatch retry after a crash between a store rewrite
          // and the checkpoint commit would double-count the batch.
          // Writing one register partition PER BATCH (batch=<id>,
          // overwrite) makes the retry rewrite its own partition —
          // idempotent by construction — and is one small job
          // instead of a read-union-reaggregate-swap of the store.
          // Readers SUM-merge at probe time ([[mergedCmsRegisters]]);
          // at production rates a k18-style compaction folds old
          // batch partitions into one.
          graft.operators.SkewOps
            .cmsRegisters(batch, itemCol, d, w)
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$storePath/batch=$batchId")
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** SUM-merge a per-batch CMS register store ([[cmsRegisterSink]]
    * layout) back to one row per (j, b) — counter addition is exact,
    * so the merged relation EQUALS the one-shot batch registers over
    * the union of all batches (st11 ≡ e10).
    */
  def mergedCmsRegisters(store: DataFrame): DataFrame =
    store.groupBy(col("j"), col("b"))
      .agg(sum(col("c")).as("c"))

  /** Shuffle/state-partition width for a streaming child session,
    * DERIVED from the stream's OBSERVED state volume instead of a
    * literal tuned to one scale factor: a stateful operator commits
    * one state-store delta PER PARTITION PER BATCH, so the width is
    * sized to hold ~`targetRowsPerPartition` state rows per task
    * (rounded up to a power of two for stable key routing), floored
    * at 4 so small fixtures keep parallelism without paying 32
    * mostly-empty store commits per trigger. On a cluster the same
    * derivation runs over |state rows inside the watermark window| /
    * target-state-per-task (see docs/SCALE.md).
    */
  def stateWidth(stateRows: Long,
      targetRowsPerPartition: Long = 24 * 1024): Int = {
    val need = math.max(1L, (stateRows + targetRowsPerPartition - 1) /
      targetRowsPerPartition)
    math.max(4, java.lang.Long.highestOneBit(need * 2 - 1).toInt)
  }

  /** Run a streaming aggregation to completion against a memory sink
    * and return the result table. `Complete` output mode (the test
    * harness wants the final totals; `Append` + watermark close is the
    * production sink mode).
    */
  def runToMemorySink(agg: DataFrame, queryName: String,
      spark: SparkSession): DataFrame = {
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
