package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig,
  TimeMode, TimerValues, Trigger, ValueState}

/** Structured Streaming re-expression of the reference's incremental
  * chains (SURVEY §2.8). The append table IS the change stream — Spark's
  * readStream over it replaces the whole INSERT → trigger → pg_notify →
  * LISTEN → re-read → fan-out relay (utility/marketDataNotify_utility.py,
  * api/marketDataStream.py):
  *
  *  - T1  watermarked delta append → withWatermark + dropDuplicates
  *        within the watermark on the series key (late points beyond the
  *        watermark are dropped, matching SQLinserts.py:546's `<= max`
  *        stop).
  *  - T3  CDC latest-1 push → foreachBatch: per-key argmax inside the
  *        micro-batch, handed to a push callback (the WebSocket fan-out
  *        seam; a no-op subscriber set short-circuits upstream of us).
  *  - T4  debounce → Trigger.ProcessingTime ≈ the 0.25 s quiet window
  *        (cerebro.py:315-332): one micro-batch coalesces a burst.
  *  - A5  sliding request-rate count → event-time sliding window agg.
  *  - T7-ish backoff bookkeeping → mapGroupsWithState over per-key state.
  *
  * Scale notes: every aggregation keys on the item/user — state is
  * per-key and partitioned by the shuffle; watermarks bound state size;
  * foreachBatch outputs only latest-1 per key per batch (thin frames, the
  * same reason the reference keeps NOTIFY payloads under 8 KB).
  */
object Streams {

  /** Every query this object starts is built here: its session resolves
    * `file:` checkpoint paths through [[graft.sources.LocalFs]] first, so
    * offset logs, commit logs and state-store files are written without a
    * child process per file. */
  private def writer(stream: DataFrame): DataStreamWriter[Row] = {
    graft.sources.LocalFs.useForStreams(stream.sparkSession)
    stream.writeStream
  }

  /** T1: idempotent delta append — drop duplicate (key, ts) points within
    * the watermark window; points older than the watermark are dropped by
    * construction (the reference's late-data semantics). */
  def deltaAppendDedup(stream: DataFrame, keyCol: String, tsCol: String,
                       lateness: String): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCol, tsCol)

  /** T3: per-micro-batch latest-1 per key pushed to `push` (the WS seam).
    * max_by(struct) keeps it one shuffle per batch. The latest-1 rows are
    * collected once (at most one per key in the batch, the size of the
    * push itself) and handed over as a local frame; a batch without rows
    * pushes nothing. */
  def cdcLatestPush(stream: DataFrame, keyCol: String, tsCol: String,
                    trigger: Trigger, push: DataFrame => Unit): StreamingQuery =
    writer(stream)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = batch
          .groupBy(col(keyCol))
          .agg(max_by(struct(batch.columns.toIndexedSeq.map(col): _*), col(tsCol)).as("row"))
          .select(col("row.*"))
        val rows = latest.collect()
        if (rows.nonEmpty)
          push(batch.sparkSession.createDataFrame(rows.toSeq.asJava, latest.schema))
      }
      .start()

  /** Streaming corpus ingest with exact-dup suppression — the
    * dedup-on-arrival step of a continuously-fed training corpus: only
    * the FIRST document with a given content hash (within the watermark
    * horizon) survives to the curated stream. Built on
    * dropDuplicatesWithinWatermark keyed on md5(text), so the dedup state
    * store holds one 32-char hash per distinct doc and is EVICTED as the
    * watermark passes — bounded state, unlike a raw dropDuplicates whose
    * state grows with the corpus forever. Docs that race inside one
    * micro-batch dedup there too (same keyed state). For dedup beyond the
    * horizon (resubmission weeks later), compose with the batch
    * `Dedup.exactDedup` over the landed table — horizon dedup in-stream,
    * full-history dedup in the nightly compaction, which is how a 100 TB
    * ingest keeps its state store in memory. */
  def corpusIngestDedup(stream: DataFrame, textCol: String, tsCol: String,
                        lateness: String): DataFrame =
    stream.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming semantic dedup-on-arrival: each arriving document is
    * feature-hash embedded in-stream (fused kernel, no model, no state)
    * and checked against the STATIC standing-corpus embedding table via a
    * stream-static broadcast join on the sign-LSH bucket, with an exact
    * cosine verify behind it. Emits one HIT row per (arriving doc,
    * corpus near-dup) — append-safe, zero streaming state: the flagging
    * job stays stateless while [[corpusIngestDedup]] handles exact dups
    * and the nightly batch ([[graft.operators.Similarity.semanticDedupAgainst]])
    * sweeps the full horizon. `corpusEmb` columns: (corpus_id, corpus_emb).
    * Recall is the single-bucket sign-LSH probability — raise d/nPlanes
    * coherently with the batch path's banding. */
  def semanticIngestHits(stream: DataFrame, corpusEmb: DataFrame,
                         idCol: String, textCol: String, d: Int,
                         tau: Double, nPlanes: Int = 8): DataFrame = {
    val e = stream.select(col(idCol),
        graft.operators.TextAnalysis.hashEmbed(col(textCol), d).as("emb"))
      .withColumn("bucket",
        graft.operators.Similarity.lshBucket(col("emb"), nPlanes))
    val c = broadcast(corpusEmb
      .select(col("corpus_id"), col("corpus_emb"),
        graft.operators.Similarity.lshBucket(col("corpus_emb"), nPlanes)
          .as("bucket")))
    e.join(c, Seq("bucket"))
      .select(col(idCol), col("corpus_id"),
        graft.operators.Similarity.cosine(col("emb"), col("corpus_emb"))
          .as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Streaming NEAR-dup ingest gate against the MATERIALIZED LSH index
    * ([[graft.operators.Dedup.writeLshIndex]]) — the production loop the
    * stored-index trilogy exists for, completing the in-stream dedup
    * ladder: [[corpusIngestDedup]] (exact, watermark state),
    * [[semanticIngestHits]] (embedding, stateless flagging), and this
    * (near-dup, standing-index gate + append-back). Per micro-batch:
    *
    *  1. PROBE — arriving docs are checked against the standing index
    *     ([[graft.operators.Dedup.probeLshIndex]]: bucket-pruned reads,
    *     similarity from stored signatures; the corpus text is never
    *     re-read — nightly cost tracks the batch, not the corpus).
    *  2. INTRA-BATCH — docs that near-dup a LOWER-id doc of the SAME
    *     batch are also flagged (delta×delta minhash, batch-sized): two
    *     copies arriving together must not both pass just because
    *     neither is indexed yet. Rejection is conservative: a doc is
    *     rejected if it hits the index OR a lower-id batchmate, even one
    *     itself rejected.
    *  3. SINK — hit rows (new_id, old_id, est_jaccard) append to
    *     `hitsDir`, surviving docs to `acceptedDir`, both guarded by one
    *     [[commitOnce]] marker so a replayed batch never double-writes.
    *  4. APPEND-BACK — accepted docs enter the index via
    *     [[graft.operators.Dedup.appendLshIndex]] (atomic composite
    *     publish; re-delivered ids anti-join away), so batch N+1 is
    *     gated against everything batch N accepted.
    *
    * Crash contract, step by step: a replay after a crash mid-batch
    * skips the sink writes (marker exists) and re-runs the append, which
    * no-ops for ids already indexed and lands the remainder — net effect
    * exactly-once everywhere. State across restarts lives in the INDEX
    * and the ledger, not the state store: the gate itself is stateless,
    * which is what keeps it at memory-safe size over an unbounded
    * corpus. */
  def lshIngestGate(stream: DataFrame, indexPath: String, idCol: String,
                    textCol: String, threshold: Double, hitsDir: String,
                    acceptedDir: String, ledgerDir: String,
                    checkpointDir: String): StreamingQuery =
    writer(stream)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        // the batch feeds the probe, the intra-batch pairing, and the
        // accept anti-join — one materialization, released per batch
        val b = batch.localCheckpoint()
        try {
          val idxHits = graft.operators.Dedup
            .probeLshIndex(sp, indexPath, b, idCol, textCol, threshold)
          val intra = graft.operators.Dedup
            .minhashPairs(b, idCol, textCol, threshold)
            .select(col("id_b").as("new_id"), col("id_a").as("old_id"),
              col("jaccard").as("est_jaccard"))
          // hits feed the sink AND the reject set — checkpoint, release
          val hits = idxHits
            .select(col("new_id"), col("old_id"), col("est_jaccard"))
            .union(intra).localCheckpoint()
          try {
            val rejects = hits.select(col("new_id").as(idCol)).distinct()
            val accepted = b.join(rejects, Seq(idCol), "left_anti")
            commitOnce(ledgerDir, batchId) {
              hits.write.mode("append").parquet(hitsDir)
              accepted.write.mode("append").parquet(acceptedDir)
            }
            graft.operators.Dedup.appendLshIndex(
              sp, accepted, idCol, textCol, indexPath)
          } finally graft.operators.Checkpoints.release(hits)
        } finally graft.operators.Checkpoints.release(b)
        ()
      }
      .start()

  /** Continuous index maintenance for ANY stored-index leg: each
    * micro-batch flows into the index through its `append*Index`
    * function ([[graft.operators.Search.appendBm25Index]],
    * [[graft.operators.Similarity.appendIvfIndex]],
    * [[graft.operators.Dedup.appendLshIndex]]) — the nightly append
    * promoted to a streaming loop. No ledger is needed HERE, unlike
    * [[lshIngestGate]]'s sinks: the appends themselves are idempotent by
    * construction (re-delivered ids anti-join against the served
    * component, fully-duplicate batches no-op, publish is atomic), so a
    * replayed batch converges instead of double-counting, and the gate
    * stays stateless — index + checkpoint ARE the state. Use
    * [[lshIngestGate]] when arrivals must also be FLAGGED and filtered;
    * use this when the stream is pre-curated and the job is purely to
    * keep a serving index fresh. */
  def indexAppendStream(stream: DataFrame, checkpointDir: String)(
      append: (org.apache.spark.sql.SparkSession, DataFrame) => Unit): StreamingQuery =
    writer(stream)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch.sparkSession, batch); ()
      }
      .start()

  /** Streaming data-quality admission gate — the batch
    * [[graft.operators.DataQuality]] suite promoted to the ingest path.
    * Each micro-batch is scored against the declared checks IN ONE pass
    * (the suite's single-aggregation contract), the per-batch report
    * (stamped with batch_id) appends to `reportDir`, and the batch routes
    * WHOLE to `acceptedDir` or `quarantineDir` on the all-checks verdict:
    * partial admission would make replay non-deterministic, and a batch
    * with poisoned rows usually signals an upstream fault whose clean
    * rows you want held together for reprocessing (the classic
    * quarantine-table pattern).
    *
    * The verdict is a one-row driver read — a planning/control boundary
    * (it picks which SINK the batch goes to; it never touches row data).
    * Sinks are [[commitOnce]]-guarded so a replayed batch never
    * double-appends; empty batches are skipped (a ppm metric over zero
    * rows is undefined). Referential checks against standing dimensions
    * belong in the suite via a broadcast-side check column, not here —
    * this gate is deliberately stateless (report + ledger + checkpoint
    * ARE the state, the [[lshIngestGate]] discipline). */
  def dqGateStream(stream: DataFrame, tableName: String,
                   checks: Seq[graft.operators.DataQuality.Check],
                   reportDir: String, acceptedDir: String,
                   quarantineDir: String, ledgerDir: String,
                   checkpointDir: String): StreamingQuery =
    writer(stream)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.localCheckpoint()
        try {
          if (!b.isEmpty) {
            val rep = graft.operators.DataQuality.suite(tableName, b, checks)
              .withColumn("batch_id", lit(batchId))
              .localCheckpoint()
            try {
              val ok = rep.agg(min(col("passed")).as("ok")).head.getBoolean(0)
              commitOnce(ledgerDir, batchId) {
                rep.write.mode("append").parquet(reportDir)
                b.write.mode("append")
                  .parquet(if (ok) acceptedDir else quarantineDir)
              }
            } finally graft.operators.Checkpoints.release(rep)
          }
        } finally graft.operators.Checkpoints.release(b)
        ()
      }
      .start()

  /** Stream-stream interval enrichment — the streaming counterpart of the
    * batch as-of join (w7): each event row joins every quote row of the
    * same key whose timestamp lies in (event_ts − maxAge, event_ts]. Both
    * sides carry watermarks and the join condition carries the time-range
    * bound, which is what lets Spark EVICT buffered state: a quote can
    * only match events up to maxAge newer, so once the event watermark
    * passes quote_ts + maxAge the quote's state is dropped — state stays
    * O(key-cardinality × maxAge rate), not O(stream history). Strict
    * latest-per-event (the as-of verdict) composes downstream per batch
    * with max_by(quote_ts), the same device as [[cdcLatestPush]].
    *
    * Output columns: the event side's, plus the quote side's non-key
    * columns (key deduplicated by the equi-join). */
  def enrichJoin(events: DataFrame, quotes: DataFrame, keyCol: String,
                 eventTs: String, quoteTs: String,
                 lateness: String, maxAge: String): DataFrame = {
    val e = events.withWatermark(eventTs, lateness).as("e")
    val q = quotes.withWatermark(quoteTs, lateness).as("q")
    e.join(q,
      col(s"e.$keyCol") === col(s"q.$keyCol") &&
        col(s"q.$quoteTs") > col(s"e.$eventTs") - expr(s"INTERVAL $maxAge") &&
        col(s"q.$quoteTs") <= col(s"e.$eventTs"))
      .drop(col(s"q.$keyCol"))
  }

  /** Millis of a positive day-time interval literal ("10 minutes");
    * month-bearing intervals are rejected — they have no fixed length. */
  private def intervalMillis(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"interval '$s' must not carry months")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Trending top-k: the k most frequent items per sliding event-time
    * window, pushed per micro-batch — the "what's moving right now"
    * panel over the activity stream. The windowed count is the streaming
    * aggregation (watermark-bounded state, update mode emits only the
    * (window, item) groups a batch CHANGED — cheap, but a batch alone is
    * NOT the window's full standings). Ranking therefore merges each
    * batch into a panel state keyed by (window, item) and ranks the
    * touched windows against that full state, so a late single event can
    * never crown a cold item over untouched hotter ones.
    *
    * Scale shape: the panel state mirrors exactly the windows the
    * upstream aggregation itself keeps live — entries whose window end
    * has fallen `windowLen + lateness` behind the newest end are evicted
    * in lockstep with the watermark dropping their groups — so its size
    * is (retained windows) × (distinct items per window), the dashboard
    * panel itself, not stream history. It lives driver-side here (the
    * push target is a panel — KBs); a higher-cardinality deployment
    * swaps the same merge-then-rank into an external keyed store. */
  def trendingTopK(stream: DataFrame, tsCol: String, itemCol: String,
                   windowLen: String, slide: String, lateness: String,
                   k: Int, push: DataFrame => Unit): StreamingQuery = {
    val retainMs = intervalMillis(windowLen) + intervalMillis(lateness)
    // (w_start, w_end, item) -> count; merged under its own lock (foreachBatch
    // runs serially per query, but push targets may read concurrently)
    // cache-exempt: instance-scoped (one per started query, dies with it,
    // never process-lifetime) and watermark-pruned in lockstep with the
    // upstream aggregation's retained windows (filterInPlace below)
    val panel = scala.collection.mutable.Map.empty[(Long, Long, String), Long]
    writer(stream.withWatermark(tsCol, lateness)
        .groupBy(window(col(tsCol), windowLen, slide), col(itemCol))
        .agg(count(lit(1)).as("n")))
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(col("window.start").cast("long") * 1000,
            col("window.end").cast("long") * 1000, col(itemCol), col("n"))
          .collect()
        if (rows.nonEmpty) {
          val ranked = panel.synchronized {
            rows.foreach(r => panel((r.getLong(0), r.getLong(1), r.getString(2))) = r.getLong(3))
            val maxEnd = panel.keysIterator.map(_._2).max
            panel.filterInPlace { case ((_, e, _), _) => e > maxEnd - retainMs }
            val touched = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
            touched.toSeq.sorted.flatMap { case (ws, we) =>
              panel.iterator
                .collect { case ((s, e, item), n) if s == ws && e == we => (item, n) }
                .toSeq.sortBy { case (item, n) => (-n, item) }
                .take(k).zipWithIndex
                .map { case ((item, n), i) =>
                  (new java.sql.Timestamp(ws), item, n, i + 1) }
            }
          }
          val s = batch.sparkSession
          import s.implicits._
          push(ranked.toDF("w_start", itemCol, "n", "rank"))
        }
      }
      .start()
  }

  // ---- event-time bucket keepers (transformWithState) --------------------

  /** The contract the five windowed processors below share: one key is
    * one event-time bucket, final once the watermark passes `end(key)`.
    *  - Drop boundary: a row whose bucket has `end(key) <= watermark` is
    *    dropped; `end(key) > watermark` admits it. This is the boundary
    *    and strictness of Spark's own watermarked aggregation (pinned for
    *    [[trendingTopKState]] and [[quantileDailyStream]] in
    *    StreamingSpec).
    *  - The first admitted row of a bucket registers its one event-time
    *    timer at `end(key)`; the `timer_set` ValueState records it.
    *  - On expiry `flush` returns the bucket's final rows and clears the
    *    subclass state, then `timer_set` clears: no bucket outlives its
    *    end, so live state is bounded by the buckets the watermark still
    *    holds open, never by stream history.
    * Subclasses declare their state in `declare`, which runs before
    * `timer_set` is declared (the declaration order checkpoints hold),
    * and fold admitted rows in `absorb`. */
  abstract class BucketKeeper[K, I, O] extends StatefulProcessor[K, I, O] {
    @transient private var timerSet: ValueState[Boolean] = _
    protected def declare(): Unit
    protected def end(key: K): Long
    protected def absorb(key: K, rows: Iterator[I]): Iterator[O]
    protected def flush(key: K): Iterator[O]
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      declare()
      timerSet = getHandle.getValueState("timer_set", Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(key: K, rows: Iterator[I],
                                 timerValues: TimerValues): Iterator[O] = {
      val e = end(key)
      if (e <= timerValues.getCurrentWatermarkInMs()) Iterator.empty
      else {
        if (!timerSet.exists()) { getHandle.registerTimer(e); timerSet.update(true) }
        absorb(key, rows)
      }
    }
    override def handleExpiredTimer(key: K, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
      val out = flush(key)
      timerSet.clear()
      out
    }
  }

  // ---- trending top-k, state-store-backed --------------------------------

  case class WindowedHit(w_start: Long, item: String)
  case class TrendRow(w_start: java.sql.Timestamp, item: String, n: Long, rank: Int)

  /** Per-window item counter and ranker. MapState[item → count] merges
    * each batch's increments, and the ranking of a touched window reads
    * the FULL state: the merge-then-rank contract of [[trendingTopK]]'s
    * driver panel, so both variants emit identical panels (pinned by the
    * parity spec). Emits the refreshed panel on every admitted batch. The
    * counts clear once the watermark passes the window's end, which is
    * why a late row must drop there: admitting it would resurrect a
    * partial panel. State: live windows × items. */
  class TrendKeeper(k: Int, windowMs: Long) extends BucketKeeper[Long, WindowedHit, TrendRow] {
    @transient private var counts: MapState[String, Long] = _
    protected def declare(): Unit =
      counts = getHandle.getMapState("counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    protected def end(key: Long): Long = key + windowMs
    protected def absorb(key: Long, rows: Iterator[WindowedHit]): Iterator[TrendRow] = {
      rows.toSeq.groupBy(_.item).foreach { case (item, hits) =>
        val prev = if (counts.containsKey(item)) counts.getValue(item) else 0L
        counts.updateValue(item, prev + hits.size)
      }
      counts.iterator().toSeq
        .sortBy { case (item, n) => (-n, item) }
        .take(k).zipWithIndex
        .map { case ((item, n), i) => TrendRow(new java.sql.Timestamp(key), item, n, i + 1) }
        .iterator
    }
    protected def flush(key: Long): Iterator[TrendRow] = { counts.clear(); Iterator.empty }
  }

  /** [[trendingTopK]] with the panel moved OFF the driver into the
    * streaming state store — the higher-cardinality deployment that
    * scaladoc promises: events are expanded to their sliding windows
    * in-plan (a generator, pure projection — the same [ws, ws+W) with
    * ws ≡ 0 mod S containment `window()` uses), keyed by window start,
    * and [[TrendKeeper]] merges + ranks per key. The driver never holds
    * data: state lives in the (RocksDB) store, partitioned by window
    * across executors, and each batch emits the refreshed panel of every
    * touched window. Late rows drop against the eviction watermark and
    * each window's state is cleared by an event-time timer once the
    * watermark passes its end (see [[BucketKeeper]]: the drop boundary is
    * spec-pinned to agree with the aggregation variant's exactly). */
  def trendingTopKState(stream: DataFrame, tsCol: String, itemCol: String,
                        windowLen: String, slide: String, lateness: String,
                        k: Int): Dataset[TrendRow] = {
    val s = stream.sparkSession
    import s.implicits._
    val wUs = intervalMillis(windowLen) * 1000L
    val sUs = intervalMillis(slide) * 1000L
    // windows containing t: starts in (t−W, t] on the S grid — in slide
    // units m ∈ [floor((t−W)/S)+1, floor(t/S)]; integer micros end-to-end
    // (a double division here would misround near window boundaries)
    stream.withWatermark(tsCol, lateness)
      .select(unix_micros(col(tsCol)).as("t_us"), col(itemCol).as("item"))
      .select(explode(sequence(
          expr(s"(t_us - ${wUs}L) div ${sUs}L") + lit(1L),
          expr(s"t_us div ${sUs}L"))).as("m"), col("item"))
      .select(expr(s"(m * ${sUs}L) div 1000L").as("w_start"), col("item"))
      .as[WindowedHit]
      .groupByKey(_.w_start)
      .transformWithState(new TrendKeeper(k, wUs / 1000L), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- rolling 7-day active users, state-store-backed --------------------

  case class DayUser(d0_ms: Long, user_id: Long, same_day: Boolean)
  case class WauRow(day_start: java.sql.Timestamp, dau: Long, wau: Long)

  /** Per-target-day distinct-user sets for [[rollingWauStream]]: one
    * MapState of the day's own users (DAU) and one of its trailing-window
    * users (WAU), the distinct sets sliding DISTINCT cannot partially
    * aggregate. The day ends at the last instant an event can still
    * feed its trailing window. On expiry the FINAL (day, dau, wau) row
    * emits once (append semantics: stream ≡ batch row for row) and both
    * sets clear; a day with no same-day activity emits nothing, as the
    * batch read reports only observed days. State: 7 days × daily
    * actives per key range. */
  class WauKeeper(dayMs: Long) extends BucketKeeper[Long, DayUser, WauRow] {
    @transient private var dauSet: MapState[Long, Boolean] = _
    @transient private var wauSet: MapState[Long, Boolean] = _
    protected def declare(): Unit = {
      dauSet = getHandle.getMapState("dau_set", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      wauSet = getHandle.getMapState("wau_set", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
    }
    protected def end(key: Long): Long = key + dayMs
    protected def absorb(key: Long, rows: Iterator[DayUser]): Iterator[WauRow] = {
      rows.foreach { r =>
        wauSet.updateValue(r.user_id, true)
        if (r.same_day) dauSet.updateValue(r.user_id, true)
      }
      Iterator.empty
    }
    protected def flush(key: Long): Iterator[WauRow] = {
      val dau = dauSet.iterator().size.toLong
      val wau = wauSet.iterator().size.toLong
      dauSet.clear(); wauSet.clear()
      if (dau > 0L) Iterator.single(WauRow(new java.sql.Timestamp(key), dau, wau))
      else Iterator.empty
    }
  }

  /** The streaming twin of the batch DAU/WAU read (`w11_rolling_wau`),
    * the way [[ohlcBarsStream]] twins `ts_ohlc`: each event expands
    * in-plan to the 7 trailing-window target days it contributes to
    * (a generator projection — day d feeds WAU(d..d+6), with the
    * same-day flag carrying DAU membership), keyed by target day, and
    * [[WauKeeper]] maintains the two distinct-user sets per live day
    * with watermark-driven eviction. Nothing re-counts history: a day's
    * answer accumulates incrementally and emits exactly once when the
    * watermark passes its end — the incremental form the batch read
    * (one full re-count of the pair table per serve) cannot be. Parity
    * is spec-pinned row-for-row against the batch rule on fixture
    * events. */
  def rollingWauStream(stream: DataFrame, tsCol: String, userCol: String,
                       lateness: String): Dataset[WauRow] = {
    val s = stream.sparkSession
    import s.implicits._
    val dayMs = 86400000L
    stream.withWatermark(tsCol, lateness)
      .select(unix_millis(date_trunc("DAY", col(tsCol))).as("d_ms"),
        col(userCol).cast("long").as("user_id"))
      .select(col("d_ms"), col("user_id"),
        explode(sequence(lit(0L), lit(6L))).as("k"))
      .select((col("d_ms") + col("k") * lit(dayMs)).as("d0_ms"),
        col("user_id"), (col("k") === 0L).as("same_day"))
      .as[DayUser]
      .groupByKey(_.d0_ms)
      .transformWithState(new WauKeeper(dayMs), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- quantile-histogram daily maintainer -------------------------------

  case class QcEvent(d0_ms: Long, qkey: String, qc: Long)
  case class QhStreamRow(day_start: java.sql.Timestamp, qkey: String,
                         qc: Long, cnt: Long)

  /** Per-(day, key) bucket counts for [[quantileDailyStream]]: one
    * MapState qc bucket → running count, the integer-histogram partial
    * aggregation the store's nightly batch job computes in one groupBy.
    * On expiry the FINAL histogram rows of this (day, key) emit once —
    * row for row what [[graft.operators.Relational.quantileDailySketches]]
    * produces for that day — and the state clears. State: live days ×
    * keys × distinct buckets. */
  class QhKeeper(dayMs: Long) extends BucketKeeper[(Long, String), QcEvent, QhStreamRow] {
    @transient private var buckets: MapState[Long, Long] = _
    protected def declare(): Unit =
      buckets = getHandle.getMapState("qc_counts", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    protected def end(key: (Long, String)): Long = key._1 + dayMs
    protected def absorb(key: (Long, String), rows: Iterator[QcEvent]): Iterator[QhStreamRow] = {
      rows.foreach { r =>
        val prev = if (buckets.containsKey(r.qc)) buckets.getValue(r.qc) else 0L
        buckets.updateValue(r.qc, prev + 1L)
      }
      Iterator.empty
    }
    protected def flush(key: (Long, String)): Iterator[QhStreamRow] = {
      val out = buckets.iterator().map { case (qc, n) =>
        QhStreamRow(new java.sql.Timestamp(key._1), key._2, qc, n)
      }.toList
      buckets.clear()
      out.iterator
    }
  }

  /** The STREAMING maintainer of the quantile-histogram sketch store,
    * the twin of [[quantileAppendStream]]: that appender lands
    * per-MICRO-BATCH partials (correct because serve sums per (key, qc)
    * across dirs, but a day split over k batches lands k partial rows),
    * while this accumulates each (day, key)'s buckets in state and emits
    * the day's FINAL histogram exactly once when the watermark passes its
    * end — row-for-row [[graft.operators.Relational.quantileDailySketches]]
    * output, the same single-row-per-(day, key, qc) shape
    * `qh_append_night` commits, so the emitted rows can feed
    * [[idempotentSink]] + `PartitionedStore.commitVersion(append = true)`
    * directly. Late rows behind the watermark drop (the watermarked
    * batch rule); state is bounded by live days × |keys| × |distinct
    * cents| and clears on emit. The cents quantization is
    * [[graft.operators.Relational]]'s qcents contract (non-negative;
    * kept as floor(value·100) on already-validated streams). */
  def quantileDailyStream(stream: DataFrame, tsCol: String, keyCol: String,
                          valCol: String, lateness: String): Dataset[QhStreamRow] = {
    val s = stream.sparkSession
    import s.implicits._
    val dayMs = 86400000L
    stream.withWatermark(tsCol, lateness)
      .select(unix_millis(date_trunc("DAY", col(tsCol))).as("d0_ms"),
        col(keyCol).cast("string").as("qkey"),
        floor(col(valCol) * lit(1e2)).cast("long").as("qc"))
      .as[QcEvent]
      .groupByKey(e => (e.d0_ms, e.qkey))
      .transformWithState(new QhKeeper(dayMs), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- peak concurrency, state-store-backed (streaming sweep line) -------

  case class SessSlice(day_ms: Long, cs_us: Long, ce_us: Long)
  case class PeakRow(day_start: java.sql.Timestamp, peak_concurrency: Long)

  /** Per-day sweep points for [[peakConcurrencyStream]]: one MapState
    * instant µs → net ±1 delta, the collapsed sweep points the batch
    * read builds with a groupBy. On expiry the day's points replay in
    * instant order (an in-memory sort of ≤ 2 · sessions touching the
    * day; the batch read's two-phase prefix sum is the extreme-volume
    * arm), the running sum's max emits ONCE as the day's peak, and the
    * points clear. */
  class PeakKeeper(dayMs: Long) extends BucketKeeper[Long, SessSlice, PeakRow] {
    @transient private var net: MapState[Long, Long] = _
    protected def declare(): Unit =
      net = getHandle.getMapState("sweep_net", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    protected def end(key: Long): Long = key + dayMs
    private def bump(t: Long, d: Long): Unit = {
      val prev = if (net.containsKey(t)) net.getValue(t) else 0L
      net.updateValue(t, prev + d)
    }
    protected def absorb(key: Long, rows: Iterator[SessSlice]): Iterator[PeakRow] = {
      rows.foreach { r => bump(r.cs_us, 1L); bump(r.ce_us + 1L, -1L) }
      Iterator.empty
    }
    protected def flush(key: Long): Iterator[PeakRow] = {
      val pts = net.iterator().toArray.sortBy(_._1)
      net.clear()
      if (pts.isEmpty) Iterator.empty
      else {
        var open = 0L; var peak = 0L
        pts.foreach { case (_, d) => open += d; if (open > peak) peak = open }
        Iterator.single(PeakRow(new java.sql.Timestamp(key), peak))
      }
    }
  }

  /** The streaming twin of the batch sweep-line read (`w19_peak_
    * concurrency`), fed by SESSION rows (the `w8_sessionize` output
    * shape — the same upstream the batch read consumes). The watermark
    * rides on session_START: a day is final once the start-watermark
    * passes its end, because any later session starts after the day and
    * can never cover it — this is what makes exactly-once day emission
    * EXACT even for midnight-crossing sessions, whose slices land in
    * every covered day's state the moment the session arrives (no
    * waiting on session_end, which is unbounded). Each session explodes
    * in-plan to its covered days with interval clipping (the batch
    * read's own projection, integer µs end to end); [[PeakKeeper]]
    * holds the per-day collapsed sweep points and emits the day's peak
    * once when the watermark passes its end.
    *
    * Input contract: a session SOURCE stream (the appended session
    * table / CDC feed [[sessionizeStream]] writes), where this
    * operator's `withWatermark` is the query's own event-time root —
    * NOT the in-query output of a stateful sessionizer: chaining
    * directly would let the raw-event watermark outrun the re-declared
    * session_start watermark, and sessions would arrive behind it
    * (measured: the chained query runs but every day drops as late). */
  def peakConcurrencyStream(sessions: DataFrame, startCol: String,
                            endCol: String, lateness: String): Dataset[PeakRow] = {
    val s = sessions.sparkSession
    import s.implicits._
    val dayMs = 86400000L
    val dayUs = 86400L * 1000000L
    sessions.withWatermark(startCol, lateness)
      .select(unix_micros(col(startCol)).as("s_us"),
        unix_micros(col(endCol)).as("e_us"),
        to_date(col(startCol)).as("d0"), to_date(col(endCol)).as("d1"))
      .withColumn("day", explode(expr("sequence(d0, d1)")))
      .withColumn("ds", unix_micros(col("day").cast("timestamp")))
      .select((col("ds") / lit(1000L)).cast("long").as("day_ms"),
        greatest(col("s_us"), col("ds")).as("cs_us"),
        least(col("e_us"), col("ds") + lit(dayUs - 1L)).as("ce_us"))
      .as[SessSlice]
      .groupByKey(_.day_ms)
      .transformWithState(new PeakKeeper(dayMs), TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- cross-session overlap pairs, state-store-backed -------------------

  case class BinnedSess(bin: Long, user_id: Long, session_no: Long,
                        s_us: Long, e_us: Long)
  case class OverlapPair(user_a: Long, session_a: Long, user_b: Long,
                         session_b: Long, overlap_us: Long)

  /** Per-bin open sessions for [[sessionOverlapStream]]: a ListState of
    * the sessions covering this bin (bounded by bin concurrency, the
    * envelope the batch operator's per-bin fan-out has) and a session
    * counter that enforces the batch verb's hot-bin pair budget
    * (n·(n−1)/2 > maxPairsPerBin throws: a viral bin fails the query
    * loudly, never silently quadratic). On expiry the bin's C(n,2)
    * cross-user pairs enumerate ONCE, keep exact overlap ≥ 0, and a pair
    * EMITS ONLY FROM THE BIN CONTAINING ITS OVERLAP-START INSTANT
    * (max(s_a, s_b) lies in exactly one bin, and both sessions cover it):
    * exactly once per pair with no dedup exchange. Both states clear. */
  class OverlapKeeper(binUs: Long, maxPairsPerBin: Long)
      extends BucketKeeper[Long, BinnedSess, OverlapPair] {
    @transient private var open: ListState[BinnedSess] = _
    @transient private var nOpen: ValueState[Long] = _
    protected def declare(): Unit = {
      open = getHandle.getListState("open_sessions", Encoders.product[BinnedSess], TTLConfig.NONE)
      nOpen = getHandle.getValueState("n_open", Encoders.scalaLong, TTLConfig.NONE)
    }
    protected def end(key: Long): Long = (key + 1L) * (binUs / 1000L)
    protected def absorb(key: Long, rows: Iterator[BinnedSess]): Iterator[OverlapPair] = {
      var n = if (nOpen.exists()) nOpen.get() else 0L
      rows.foreach { r => open.appendValue(r); n += 1L }
      if (n * (n - 1L) / 2L > maxPairsPerBin)
        throw new IllegalStateException(
          s"sessionOverlapStream: bin pair bound exceeded maxPairsPerBin=" +
            s"$maxPairsPerBin (bin=$key, sessions=$n) — use a finer bin " +
            "or pre-cap concurrency")
      nOpen.update(n)
      Iterator.empty
    }
    protected def flush(key: Long): Iterator[OverlapPair] = {
      val ss = open.get().toArray
      open.clear(); nOpen.clear()
      val out = scala.collection.mutable.ListBuffer[OverlapPair]()
      var i = 0
      while (i < ss.length) {
        var j = i + 1
        while (j < ss.length) {
          val (x, y) = (ss(i), ss(j))
          if (x.user_id != y.user_id) {
            val os = math.max(x.s_us, y.s_us)
            val overlap = math.min(x.e_us, y.e_us) - os
            // emit only from the overlap-start instant's bin: exactly
            // one bin qualifies, and both sessions cover it
            if (overlap >= 0L && os / binUs == key) {
              val (a, b) = if (x.user_id < y.user_id) (x, y) else (y, x)
              out += OverlapPair(a.user_id, a.session_no,
                b.user_id, b.session_no, overlap)
            }
          }
          j += 1
        }
        i += 1
      }
      out.iterator
    }
  }

  /** The streaming twin of the batch binned interval-overlap join
    * (`j18_session_overlap`'s
    * [[graft.operators.Relational.sessionOverlapPairs]]): cross-user
    * session pairs overlapping in time, emitted exactly once with the
    * exact overlap duration in integer µs. Same lossless binning (a
    * session lands in every `binUs` bucket it covers), same watermark
    * lever as [[peakConcurrencyStream]] — the watermark rides on
    * session_START, so a bin is final once the start-watermark passes
    * its end (any later session starts after the bin and cannot cover
    * it), midnight-crossing/long sessions notwithstanding. Same input
    * contract too: a session SOURCE stream, not the in-query output of
    * a stateful sessionizer. State per live bin is its session list
    * (bin concurrency — the true fan-out driver), guarded by the exact
    * batch pair budget; the per-pair dedup is FREE here (overlap-start
    * bin rule) where the batch pays a shuffle. */
  def sessionOverlapStream(sessions: DataFrame, userCol: String,
                           sessionNoCol: String, startCol: String,
                           endCol: String, binUs: Long, lateness: String,
                           maxPairsPerBin: Long = 4096L): Dataset[OverlapPair] = {
    val s = sessions.sparkSession
    import s.implicits._
    sessions.withWatermark(startCol, lateness)
      .select(col(userCol).cast("long").as("user_id"),
        col(sessionNoCol).cast("long").as("session_no"),
        unix_micros(col(startCol)).as("s_us"),
        unix_micros(col(endCol)).as("e_us"))
      .withColumn("bin",
        explode(sequence(expr(s"s_us div $binUs"), expr(s"e_us div $binUs"))))
      .select(col("bin"), col("user_id"), col("session_no"),
        col("s_us"), col("e_us"))
      .as[BinnedSess]
      .groupByKey(_.bin)
      .transformWithState(new OverlapKeeper(binUs, maxPairsPerBin), TimeMode.EventTime(),
        OutputMode.Append())
  }

  // ---- cumulative distinct actives (first-seen decomposition) ------------

  case class UserDay(user_id: Long, day_ms: Long)
  case class DayCount(day_end: java.sql.Timestamp, day_ms: Long, add: Long)
  case class CumRow(day_start: java.sql.Timestamp, new_users: Long,
                    cum_actives: Long)

  /** Per-user first-seen state for [[cumulativeActivesStream]] stage A:
    * the user's min event-day (a single ValueState — the semantic FLOOR
    * of cumulative-distinct: no exact form can forget a user it has
    * seen) plus the pending timer instant. The timer sits at the END of
    * the current min day and FOLLOWS it down if an earlier in-watermark
    * day arrives (delete + re-register); when it fires the min is final
    * — any later event for an earlier day would be behind the watermark
    * — and exactly one (day_end, day, +1) row emits, after which the
    * user's rows are ignored for good. */
  class FirstSeenKeeper(dayMs: Long) extends StatefulProcessor[Long, UserDay, DayCount] {
    @transient private var minDay: ValueState[Long] = _
    @transient private var emitted: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      minDay = getHandle.getValueState("min_day", Encoders.scalaLong, TTLConfig.NONE)
      emitted = getHandle.getValueState("emitted", Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[UserDay],
                                 timerValues: TimerValues): Iterator[DayCount] = {
      if (emitted.exists()) return Iterator.empty // first-seen already final
      val wm = timerValues.getCurrentWatermarkInMs()
      // the BucketKeeper drop boundary, applied per row's day
      val live = rows.map(_.day_ms).filter(_ + dayMs > wm)
      if (live.isEmpty) return Iterator.empty
      val dmin = live.min
      if (!minDay.exists()) {
        minDay.update(dmin); getHandle.registerTimer(dmin + dayMs)
      } else if (dmin < minDay.get()) {
        getHandle.deleteTimer(minDay.get() + dayMs)
        minDay.update(dmin); getHandle.registerTimer(dmin + dayMs)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[DayCount] = {
      val d = minDay.get()
      emitted.update(true)
      Iterator.single(DayCount(new java.sql.Timestamp(d + dayMs), d, 1L))
    }
  }

  /** Stage B of [[cumulativeActivesStream]]: ONE global key over the
    * per-day traffic stage A and the day-spine branch emit — ≤ one row
    * per user LIFETIME plus one marker per day, never raw events — so
    * the running total sees days in watermark order. MapState holds the
    * pending per-day new-user counts (markers add 0 and only pin the
    * day's existence — the zero-new-user day the batch read reports);
    * on any day-end timer ALL matured days (end ≤ firing instant) flush
    * in day order through the cum ValueState, each emitting exactly
    * once — firing-order-independent when a watermark jump expires
    * several days in one batch. */
  class CumKeeper(dayMs: Long) extends StatefulProcessor[Long, DayCount, CumRow] {
    @transient private var pending: MapState[Long, Long] = _
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState("pending_days", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      cum = getHandle.getValueState("cum_actives", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[DayCount],
                                 timerValues: TimerValues): Iterator[CumRow] = {
      rows.foreach { r =>
        if (!pending.containsKey(r.day_ms)) {
          pending.updateValue(r.day_ms, r.add)
          getHandle.registerTimer(r.day_ms + dayMs)
        } else pending.updateValue(r.day_ms, pending.getValue(r.day_ms) + r.add)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[CumRow] = {
      val fireMs = expiredTimerInfo.getExpiryTimeInMs()
      val matured = pending.iterator().map(p => (p._1, p._2)).toArray
        .filter(_._1 + dayMs <= fireMs).sortBy(_._1)
      val out = matured.map { case (d, n) =>
        val c = (if (cum.exists()) cum.get() else 0L) + n
        cum.update(c); pending.removeKey(d)
        CumRow(new java.sql.Timestamp(d), n, c)
      }
      out.iterator
    }
  }

  /** The streaming twin of the batch first-seen decomposition
    * (`w18_cumulative_actives`): per day, the count of NEW users and
    * the running distinct-actives total, each day emitted exactly once
    * when the watermark passes its end. Three cooperating pieces, all
    * watermark-driven: [[FirstSeenKeeper]] (keyed by user) finalizes
    * each user's min event-day and emits one +1 row per user LIFETIME;
    * a windowed count over the same source emits one 0-marker per
    * OBSERVED day (so a day where every active is returning still
    * reports new_users = 0, as the batch read does); their union feeds
    * [[CumKeeper]]'s single global key — legitimate because its traffic
    * is one row per user ever plus one per day, never raw events, and
    * the cumulative total is inherently a single sequential fold over
    * ≤ |days| rows (the batch plan's one tiny calendar window). Nothing
    * re-counts history and no distinct-set ever re-shuffles: state is
    * one small value per user (the exact semantic floor) plus live-day
    * counters. */
  def cumulativeActivesStream(events: DataFrame, tsCol: String,
                              userCol: String, lateness: String): Dataset[CumRow] = {
    val s = events.sparkSession
    import s.implicits._
    val dayMs = 86400000L
    val wmarked = events.withWatermark(tsCol, lateness)
    val firstSeen = wmarked
      .select(col(userCol).cast("long").as("user_id"),
        unix_millis(date_trunc("DAY", col(tsCol))).as("day_ms"))
      .as[UserDay]
      .groupByKey(_.user_id)
      .transformWithState(new FirstSeenKeeper(dayMs), "day_end", OutputMode.Append())
    val daySpine = wmarked
      .groupBy(window(col(tsCol), "1 day")).agg(count(lit(1)))
      .select(col("window.end").as("day_end"),
        unix_millis(col("window.start")).as("day_ms"), lit(0L).as("add"))
      .as[DayCount]
    firstSeen.unionByName(daySpine)
      .groupByKey(_ => 0L)
      .transformWithState(new CumKeeper(dayMs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** T5 — LIVE REPLAN between micro-batches, no stream restart
    * (cerebro.py:334-414's handle_tracked_items_changed): each batch
    * RE-READS the control table (the runtime master — tracked items with
    * poll intervals; direct writes to it are the reference's NOTIFY
    * signal), gates the candidate set through the same feasibility math
    * as a6 ([[graft.operators.Relational.feasibility]] — an infeasible
    * change is REJECTED WHOLE and the live set stays untouched,
    * cerebro.py:362-376), and on accept classifies the change with the
    * j2 reconcile ([[graft.operators.Relational.reconcile]] —
    * added/removed/survivor, handed to `replanLog`). The batch's rows
    * then filter against the CURRENT live set — so rows of an item
    * enabled between batches flow from the very next batch on, and rows
    * of a rejected set's items never do.
    *
    * Scale shape: the control table is the poller registry — KBs by
    * construction (the reference holds it in one Postgres table) — so
    * the per-batch re-read + collect is control-plane-sized, never
    * data-plane; the data path stays a streaming filter against a
    * broadcast-sized set. */
  def livePollReplan(ticks: DataFrame, itemCol: String, controlDir: String,
                     rateLimit: Long, windowSeconds: Long,
                     push: DataFrame => Unit,
                     replanLog: DataFrame => Unit = _ => ()): StreamingQuery = {
    @volatile var live: Set[String] = Set.empty
    writer(ticks)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val ctl = s.read.parquet(controlDir).filter(col("enabled"))
        val feasible = graft.operators.Relational
          .feasibility(ctl, col("interval_sec"), windowSeconds, rateLimit)
          .collect()(0).getAs[Boolean]("feasible")
        if (feasible) {
          val candidate = ctl.select(col(itemCol)).distinct()
            .collect().map(_.getString(0)).toSet
          if (candidate != live) {
            import s.implicits._
            replanLog(graft.operators.Relational.reconcile(
              live.toSeq.toDF(itemCol), candidate.toSeq.toDF(itemCol),
              Seq(itemCol)))
            live = candidate
          }
        } // infeasible → keep current pollers unchanged (reject whole)
        val snapshot = live
        if (snapshot.nonEmpty)
          push(batch.filter(col(itemCol).isin(snapshot.toSeq: _*)))
        ()
      }
      .start()
  }

  /** Streaming gap sessionization — the incremental twin of the batch
    * W8 sessionizer (`InventoryQueries2.w8Sessionize`): per-key sessions
    * close after `gap` of event-time inactivity, built on Spark's
    * session_window aggregation so state merges/expires in the state
    * store and finalized sessions emit in append mode once the watermark
    * passes their end. Same output shape as batch W8 (session_start /
    * session_end / n_events / exact-decimal sum_value served as double).
    *
    * Boundary contract, measured and pinned by the spec: session_window
    * merges an event whose [ts, ts+gap) span TOUCHES the open session
    * (start == previous end merges, not just true overlap), so an event
    * arriving exactly `gap` after its predecessor stays in the session —
    * the SAME admission as the batch rule's `ts − prev > gap`, at every
    * boundary (<, ==, > are all bracketed by the spec). The parity spec
    * additionally proves stream ≡ batch row-for-row on real fixture
    * events.
    *
    * Scale shape: state is per (key, open session) and watermark-bounded;
    * the aggregation shuffles once on the key like any streaming agg —
    * no per-key driver state, no window-function sort anywhere. */
  def sessionizeStream(stream: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, gap: String,
                       lateness: String): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col(keyCol), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming OHLC bars: the batch
    * [[graft.operators.TimeSeries.ohlcBars]] rollup as a watermarked
    * tumbling-window aggregation — one finalized bar per (key, window)
    * emits in append mode once the watermark passes the window end.
    * Bar edges are the same min/max(struct(ts, id, value)) picks as the
    * batch operator and the value sum is quantized the same way, so
    * stream ≡ batch bit for bit on the same rows (parity spec-pinned).
    * State is one struct-pair buffer per open (key, window), watermark-
    * bounded; the aggregation shuffles once on the grouping key —
    * exactly the batch plan's shape, plus the state store. */
  def ohlcBarsStream(stream: DataFrame, keyCol: String, tsCol: String,
                     idCol: String, valCol: String, windowDur: String,
                     lateness: String): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(col(keyCol).as("key"), window(col(tsCol), windowDur))
      .agg(min(struct(col(tsCol), col(idCol), col(valCol))).as("_o"),
        max(struct(col(tsCol), col(idCol), col(valCol))).as("_c"),
        max(col(valCol)).as("high"), min(col(valCol)).as("low"),
        count(lit(1)).as("n"),
        sum(floor(col(valCol) * lit(1e6)).cast("long")).as("qsum"))
      .select(col("key"), col("window.start").as("bucket"),
        col(s"_o.$valCol").as("open"), col("high"), col("low"),
        col(s"_c.$valCol").as("close"), col("n"), col("qsum"))

  /** A5: sliding event-time request count (rate-limiter reconstruction:
    * 1 request = 1 row, summed per sliding window). */
  def slidingRequestCount(stream: DataFrame, tsCol: String,
                          window: String, slide: String,
                          lateness: String): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide))
      .agg(count(lit(1)).as("n_requests"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_requests"))

  // ---- T7-ish: per-key poller state via mapGroupsWithState ---------------

  case class PollEvent(item: String, ts: java.sql.Timestamp, ok: Boolean)
  case class PollerState(failures: Int, cooldownMultiplier: Int, lastTs: Long)
  case class PollerStatus(item: String, failures: Int, cooldownMultiplier: Int)

  // ---- T10: urgency-driven poll-due decisions (flatMapGroupsWithState) ---

  case class HeartbeatTick(item: String, ts: java.sql.Timestamp, intervalSec: Int)
  case class LastPollState(lastPollMs: Long)
  case class DueDecision(item: String, urgency: Double, due: Boolean)

  /** Urgency policy (snoozerScheduler.py:129-190): urgency = elapsed /
    * interval (∞ when never polled, encoded as urgency = -1 with
    * due = true); a tick with urgency ≥ 1 emits due = true and counts as
    * the poll (state advances). flatMapGroupsWithState: 0..n emissions
    * per key per batch, state is one long per item — bounded. */
  def urgencyDecisions(ticks: Dataset[HeartbeatTick]): Dataset[DueDecision] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.item)
      .flatMapGroupsWithState[LastPollState, DueDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (item, evs, state: GroupState[LastPollState]) =>
          val out = scala.collection.mutable.ArrayBuffer[DueDecision]()
          var st = state.getOption
          evs.toSeq.sortBy(_.ts.getTime).foreach { t =>
            st match {
              case None =>
                out += DueDecision(item, -1.0, due = true) // never polled → run now
                st = Some(LastPollState(t.ts.getTime))
              case Some(prev) =>
                val urgency = (t.ts.getTime - prev.lastPollMs) / 1000.0 / t.intervalSec
                val due = urgency >= 1.0
                out += DueDecision(item, urgency, due)
                if (due) st = Some(LastPollState(t.ts.getTime))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  // ---- T11: subscription registry + no-subscriber short-circuit ----------

  /** Control/data event for the fan-out registry: kind ∈ sub | unsub |
    * data. sub/unsub carry the subscriber id; data carries the payload. */
  case class FanoutEvent(item: String, ts: java.sql.Timestamp, kind: String,
                         subscriber: String, payload: Double)
  case class SubscriberSet(subs: Set[String])
  case class PushFrame(item: String, payload: Double, subscribers: Seq[String])

  /** T11 — the reference's SubscriptionRegistry + per-write push
    * (api/marketDataStream.py:34-124) as streaming state: per item, a
    * subscriber set maintained by sub/unsub control events; each data
    * event fans out ONE frame listing the current subscribers — and is
    * SUPPRESSED when the set is empty ("the no-subscriber drop is the
    * common path", :105-106), which is what keeps a firehose of table
    * writes from reaching the socket layer at all.
    *
    * State is one Set[String] per item — bounded by live subscriptions,
    * partitioned by the groupBy shuffle like every keyed state here. The
    * actual socket send is the caller's foreachBatch seam, same as
    * cdcLatestPush. */
  def subscriptionFanout(events: Dataset[FanoutEvent]): Dataset[PushFrame] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.item)
      .flatMapGroupsWithState[SubscriberSet, PushFrame](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (item, evs, state: GroupState[SubscriberSet]) =>
          val out = scala.collection.mutable.ArrayBuffer[PushFrame]()
          var subs = state.getOption.map(_.subs).getOrElse(Set.empty[String])
          // total order: iterator order across shuffle partitions is not
          // deterministic, so equal-ts events need a content tie-break
          evs.toSeq.sortBy(e => (e.ts.getTime, e.kind, e.subscriber)).foreach { e =>
            e.kind match {
              case "sub" => subs += e.subscriber
              case "unsub" => subs -= e.subscriber
              case "data" if subs.nonEmpty =>
                out += PushFrame(item, e.payload, subs.toSeq.sorted)
              case _ => () // data with no subscribers: suppressed
            }
          }
          // drop state entirely for items nobody watches — otherwise every
          // item that ever produced data pins an empty set in the state
          // store forever (drop_socket leaves no key behind either)
          if (subs.isEmpty) state.remove() else state.update(SubscriberSet(subs))
          out.iterator
      }
  }

  // ---- T6: per-key token-bucket rate limiter (transformWithState) --------

  case class Request(item: String, ts: java.sql.Timestamp)
  case class BucketState(tokens: Double, lastMs: Long)
  case class RateDecision(item: String, ts: java.sql.Timestamp,
                          allowed: Boolean, tokensAfter: Double)

  /** Token-bucket processor: `rate` tokens/sec refill up to `burst`; a
    * request is allowed iff a whole token is available, consuming it.
    * Time comes from the EVENT timestamps (not wall clock), so replays
    * and tests are deterministic; equal-ts requests tie-break by nothing
    * further — the sort is total per (ts) within a key because the
    * reference admits bursts in arrival order. Built on the
    * transformWithState StatefulProcessor API (Spark 4) with a single
    * ValueState per key — the engine-side twin of the reference's
    * in-process RateLimiter (src/RateLimiter.py:5-49): same refill
    * arithmetic, but state lives in the checkpointed store and scales
    * with the key shuffle instead of one process's memory. */
  class TokenBucketProcessor(rate: Double, burst: Double)
      extends StatefulProcessor[String, Request, RateDecision] {
    @transient private var bucket: ValueState[BucketState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getValueState("bucket", Encoders.product[BucketState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Request],
                                 timerValues: TimerValues): Iterator[RateDecision] = {
      var st = if (bucket.exists()) bucket.get()
        else BucketState(burst, Long.MinValue)
      val out = rows.toSeq.sortBy(_.ts.getTime).map { r =>
        val now = r.ts.getTime
        val refilled =
          if (st.lastMs == Long.MinValue) burst
          else math.min(burst, st.tokens + (now - st.lastMs) / 1000.0 * rate)
        val allowed = refilled >= 1.0
        val after = if (allowed) refilled - 1.0 else refilled
        st = BucketState(after, now)
        RateDecision(key, r.ts, allowed, after)
      }
      bucket.update(st)
      out.iterator
    }
  }

  /** T6 as a streaming transform: per-item admission decisions under a
    * token-bucket policy. */
  def rateLimit(requests: Dataset[Request], rate: Double,
                burst: Double): Dataset[RateDecision] = {
    import requests.sparkSession.implicits._
    requests.groupByKey(_.item)
      .transformWithState(new TokenBucketProcessor(rate, burst), TimeMode.None(), OutputMode.Append())
  }

  // ---- bounded activity tail as ListState (transformWithState) -----------

  case class Activity(item: String, ts: java.sql.Timestamp, payload: Double)
  case class TailSnapshot(item: String, ts: java.sql.Timestamp,
                          tailLen: Int, oldestPayload: Double, newestPayload: Double)

  /** Bounded last-k tail per item, kept as streaming ListState — the
    * reference's 50-event activity snapshot (api/main.py activity tail)
    * maintained incrementally instead of recomputed per read. Each event
    * appends and trims to `k`, emitting a snapshot row (tail length +
    * oldest/newest payload) so downstream sees the bounded window advance.
    * State per item is exactly k rows — the eviction the ListState API
    * exists for; at cluster scale state partitions with the key shuffle
    * and the store holds k·|items| small rows, not history. */
  class TailKeeper(k: Int) extends StatefulProcessor[String, Activity, TailSnapshot] {
    @transient private var tail: ListState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tail = getHandle.getListState("tail", Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Activity],
                                 timerValues: TimerValues): Iterator[TailSnapshot] = {
      var cur = tail.get().toSeq
      // payload tie-break: iterator order across shuffle/retry is not
      // deterministic, so equal-ts events need a content total order
      val out = rows.toSeq.sortBy(a => (a.ts.getTime, a.payload)).map { a =>
        cur = (cur :+ a.payload).takeRight(k)
        TailSnapshot(key, a.ts, cur.length, cur.head, cur.last)
      }
      tail.put(cur.toArray)
      out.iterator
    }
  }

  /** Last-k activity tail per item as a streaming transform. */
  def activityTail(events: Dataset[Activity], k: Int): Dataset[TailSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.item)
      .transformWithState(new TailKeeper(k), TimeMode.None(), OutputMode.Append())
  }

  // ---- per-item multi-currency price book (MapState) ---------------------

  case class Quote(item: String, ts: java.sql.Timestamp, currency: String, price: Double)
  case class BookSnapshot(item: String, ts: java.sql.Timestamp,
                          n_currencies: Int, book: String)

  /** Per-item latest price per CURRENCY as streaming MapState — the
    * reference tracks every item in several wallet currencies at once;
    * here each quote upserts its currency's entry and emits the full
    * book as a sorted `cur:price` string (deterministic serialization).
    * MapState gives per-currency point upserts without rewriting a whole
    * per-item struct: state size is |currencies| entries per item, and a
    * single-currency update touches one key in the store. */
  class PriceBookKeeper extends StatefulProcessor[String, Quote, BookSnapshot] {
    @transient private var book: MapState[String, Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      book = getHandle.getMapState("book", Encoders.STRING, Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Quote],
                                 timerValues: TimerValues): Iterator[BookSnapshot] = {
      // (ts, currency, price) total order: same-instant updates replay
      // identically across shuffle retries
      rows.toSeq.sortBy(q => (q.ts.getTime, q.currency, q.price)).map { q =>
        book.updateValue(q.currency, q.price)
        val entries = book.iterator().map(p => s"${p._1}:${p._2}").toSeq.sorted
        BookSnapshot(key, q.ts, entries.size, entries.mkString(","))
      }.iterator
    }
  }

  /** Per-item multi-currency latest-price book as a streaming transform. */
  def priceBook(quotes: Dataset[Quote]): Dataset[BookSnapshot] = {
    import quotes.sparkSession.implicits._
    quotes.groupByKey(_.item)
      .transformWithState(new PriceBookKeeper, TimeMode.None(), OutputMode.Append())
  }

  /** Execute `action` at most once per (ledger, batchId) across
    * SEQUENTIAL attempts — the Structured Streaming replay case: a marker
    * file commits the batch AFTER the action succeeds, so a crash
    * mid-action re-runs it on the next attempt (at-least-once action,
    * exactly-once effect when the action itself lands atomically, e.g. a
    * partition overwrite). NOT a concurrency guard: because the action
    * runs before the marker's CREATE_NEW, two CONCURRENT attempts on the
    * same batch can both execute it — one then loses the marker race and
    * returns false. Streaming replays are sequential by construction,
    * which is the case this exists for. Returns whether this call
    * published the marker. */
  def commitOnce(ledgerDir: String, batchId: Long)(action: => Unit): Boolean = {
    val dir = java.nio.file.Paths.get(ledgerDir)
    java.nio.file.Files.createDirectories(dir)
    val marker = dir.resolve(s"batch-$batchId")
    if (java.nio.file.Files.exists(marker)) false
    else {
      action
      try { java.nio.file.Files.createFile(marker); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
  }

  /** Streaming maintenance of the deterministic fixed-k sample
    * (`sample_fixed_k`'s nightly-delta loop) through the SAME
    * idempotent-algebra discipline as the KMV leg — no ledger needed:
    * each micro-batch reduces to its per-group bottom-k CANDIDATE rows
    * ([[graft.operators.Mix.sampleFixedK]] on the batch alone — ≤
    * groups×k narrow rows per batch, never batch payloads) and appends
    * them as a store version; serving re-ranks the DISTINCT stored
    * candidates ([[graft.operators.Mix.bottomKByHash]]). k-smallest is
    * min-of-union algebra: the union's k smallest hashes are always
    * among the per-batch k smallest, so serve ≡ the whole-corpus
    * sample bit for bit, and a verbatim re-delivered batch adds only
    * rows the distinct absorbs — replay-safe at SERVING time, the KMV
    * convergence argument applied to sampled ROWS instead of hashes. */
  def sampleAppendStream(stream: DataFrame, grpCol: String, idCol: String,
                         textCol: String, k: Int, storePath: String,
                         checkpointDir: String): StreamingQuery =
    indexAppendStream(stream, checkpointDir) { (_, batch) =>
      val cand = graft.operators.Mix
        .sampleFixedK(batch, grpCol, idCol, textCol, k)
        .select(col(grpCol), col(idCol), col("h"))
      graft.sources.PartitionedStore.commitVersion(cand, storePath, append = true)
      ()
    }

  /** Serving read for [[sampleAppendStream]]'s store: distinct stored
    * candidates re-ranked to the global per-group bottom-k. */
  def sampleServe(spark: org.apache.spark.sql.SparkSession,
                  storePath: String, grpCol: String, idCol: String,
                  k: Int): DataFrame =
    graft.operators.Mix.bottomKByHash(
      graft.sources.PartitionedStore.readVersion(spark, storePath).distinct(),
      grpCol, idCol, "h", k)

  /** Streaming maintenance of the stored quantile-histogram sketch
    * ([[graft.operators.Relational.quantileDailySketches]]): each
    * micro-batch's (day, key, qc, cnt) partials append as a new store
    * version, and any serve re-aggregates stored rows
    * (`quantileSpan`) — merged partials ≡ the whole-corpus build
    * because the counters are associative integer sums. UNLIKE the KMV
    * leg, count histograms have no idempotent algebra (k-min-of-union
    * absorbs a re-delivered batch; a re-summed count DOUBLES), so this
    * leg runs behind the [[commitOnce]] batch-id ledger: Structured
    * Streaming's restart replay of the last uncommitted micro-batch
    * publishes nothing the second time — the exactly-once discipline
    * the deltaAppend sink uses, applied to sketch maintenance. Two
    * batches landing partials for the SAME day is fine by construction
    * (serve sums per (key, qc) across dirs). */
  def quantileAppendStream(stream: DataFrame, tsCol: String, keyCol: String,
                           valCol: String, storePath: String,
                           ledgerDir: String,
                           checkpointDir: String): StreamingQuery =
    writer(stream)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitOnce(ledgerDir, id) {
          val b = batch.localCheckpoint()
          try {
            if (!b.isEmpty)
              graft.sources.PartitionedStore.commitVersion(
                graft.operators.Relational.quantileDailySketches(b, tsCol, keyCol, valCol),
                storePath, append = true)
          } finally graft.operators.Checkpoints.release(b)
        }
        ()
      }
      .start()

  /** Replay-guarded foreachBatch sink: Structured Streaming replays the
    * LAST micro-batch after a restart whose write finished but whose
    * offset commit didn't — a plain foreachBatch sink then writes it
    * twice. Guarding the write with [[commitOnce]] on the sink's own
    * batch-id ledger skips a replayed batch whose marker exists — the
    * reference's ON CONFLICT DO NOTHING insert idempotence
    * (src/SQLinserts.py:515-587), lifted to whole-batch granularity.
    * Output is exactly-once only when `write` lands atomically:
    * [[commitOnce]] runs the write BEFORE it creates the marker, so a
    * crash mid-write re-runs it on replay, and a non-atomic write (e.g.
    * `PartitionedStore.append`) can then leave the first attempt's
    * partial output beside the second's — at-least-once. */
  def idempotentSink(stream: DataFrame, ledgerDir: String,
                     trigger: Trigger)(write: (DataFrame, Long) => Unit): StreamingQuery =
    writer(stream)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitOnce(ledgerDir, id)(write(batch, id)); ()
      }
      .start()

  /** In-flight ingest observability: attach named data-quality metrics —
    * row count, null-key count, late-event count vs `asOf − lateness`,
    * value min/max — to a stream (or batch frame) via `Dataset.observe`.
    * The metrics ride the EXISTING pass as accumulator-style aggregates:
    * zero extra scans, zero extra shuffles, surfaced per micro-batch in
    * `StreamingQueryProgress.observedMetrics("ingest_quality")` (batch:
    * `QueryExecutionListener`). This is the monitoring half of the
    * reference's per-poll logging (cerebro.py logs fetch counts/staleness
    * per cycle) done inside the engine instead of around it. */
  def observeQuality(df: DataFrame, keyCol: String, tsCol: String,
                     valCol: String, lateCutoff: java.sql.Timestamp): DataFrame =
    df.observe("ingest_quality",
      count(lit(1)).as("n_rows"),
      sum(when(col(keyCol).isNull, 1L).otherwise(0L)).as("n_null_key"),
      sum(when(col(tsCol) < lit(lateCutoff), 1L).otherwise(0L)).as("n_late"),
      min(col(valCol)).as("val_min"),
      max(col(valCol)).as("val_max"))

  /** Exponential backoff bookkeeping (snoozerScheduler.py:192-222): per
    * item, consecutive failures double the cooldown multiplier (cap 8);
    * any success resets. Emits the post-batch state per key. */
  def backoffState(events: Dataset[PollEvent]): Dataset[PollerStatus] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.item)
      .mapGroupsWithState[PollerState, PollerStatus](GroupStateTimeout.NoTimeout) {
        (item, evs, state: GroupState[PollerState]) =>
          var st = state.getOption.getOrElse(PollerState(0, 1, 0L))
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            st = if (e.ok) PollerState(0, 1, e.ts.getTime)
            else {
              val f = st.failures + 1
              // clamp the shift: Int << wraps at 32, which would send the
              // multiplier negative after 32 straight failures
              PollerState(f, if (f >= 4) 8 else 1 << (f - 1), e.ts.getTime)
            }
          }
          state.update(st)
          PollerStatus(item, st.failures, st.cooldownMultiplier)
      }
  }

  // ---- point-in-time feature serving (the online feature store) ----------

  case class PitEvent(user_id: Long, ts_us: Long, event_id: Long,
                      etype: String, value: Double)
  case class PitViewRec(ts_us: Long, view_id: Long, value: Double)
  case class PitClickAcc(n: Long, cents: Long)
  case class PitPend(ts_us: Long, event_id: Long)
  case class PitRow(event_id: Long, user_id: Long,
                    view_value: Option[Double], view_age_us: Option[Long],
                    feature_day_us: Option[Long], n_clicks: Option[Long],
                    click_cents: Option[Long])

  /** Per-user feature state for [[pitFeaturesStream]] — the ONLINE side
    * of the `j19_pit_features` offline assembly, holding exactly what a
    * feature store's serving tier holds:
    *  - the recent VIEW tail (the streaming feature; pruned after each
    *    emission to the latest view at-or-before the oldest pending
    *    label plus everything newer — the candidate set any remaining
    *    or future label can still match);
    *  - per-day CLICK accumulators (the batch feature; once a label
    *    fires at time T, every day ending ≤ T is complete, and all but
    *    the latest such day can never be the as-of match for any
    *    remaining label — they fold away);
    *  - PENDING labels, each with an event-time timer one ms past its
    *    instant: a label only assembles once the watermark passes it,
    *    so every feature row at-or-before the label has arrived
    *    (rows behind the watermark are dropped, as in
    *    [[BucketKeeper]]; the batch read is the complete-history arm).
    * Emission replays the batch rule exactly: latest (ts, view_id)
    * view at-or-before the label; latest click day whose END ≤ the
    * label instant (same-day partials stay invisible — the nightly-job
    * contract); missing history emits NULL, never a zero-fill. */
  class PitKeeper(dayUs: Long, maxViewTail: Long = 65536L)
      extends StatefulProcessor[Long, PitEvent, PitRow] {
    @transient private var views: ListState[PitViewRec] = _
    @transient private var nViews: ValueState[Long] = _
    @transient private var days: MapState[Long, PitClickAcc] = _
    @transient private var pending: ListState[PitPend] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      views = getHandle.getListState("views", Encoders.product[PitViewRec], TTLConfig.NONE)
      nViews = getHandle.getValueState("n_views", Encoders.scalaLong, TTLConfig.NONE)
      days = getHandle.getMapState("day_clicks", Encoders.scalaLong, Encoders.product[PitClickAcc],
        TTLConfig.NONE)
      pending = getHandle.getListState("pending_labels", Encoders.product[PitPend], TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[PitEvent],
                                 timerValues: TimerValues): Iterator[PitRow] = {
      var n = if (nViews.exists()) nViews.get() else 0L
      rows.foreach { e =>
        e.etype match {
          case "view" =>
            // the view-tail budget (the failOnCap discipline): the tail
            // is bounded by a user's view volume inside the watermark
            // lag, which one bot user can blow up silently — fail loudly
            // instead of growing per-key state without limit
            n += 1L
            if (n > maxViewTail)
              throw new IllegalStateException(
                s"pitFeaturesStream: view tail exceeded maxViewTail=" +
                  s"$maxViewTail for user=$key — shorten the lateness " +
                  "window or pre-aggregate bot-grade view volume")
            views.appendValue(PitViewRec(e.ts_us, e.event_id, e.value))
          case "click" =>
            val day = e.ts_us - java.lang.Math.floorMod(e.ts_us, dayUs)
            val prev = if (days.containsKey(day)) days.getValue(day)
                       else PitClickAcc(0L, 0L)
            days.updateValue(day, PitClickAcc(prev.n + 1L,
              prev.cents + math.floor(e.value * 100.0).toLong))
          case "purchase" =>
            pending.appendValue(PitPend(e.ts_us, e.event_id))
            // +1 ms: the watermark must pass the label INSTANT, not its
            // truncated millisecond, before assembly
            getHandle.registerTimer(e.ts_us / 1000L + 1L)
          case _ => () // signup/error carry no feature or label role
        }
      }
      nViews.update(n)
      // Label-less keys must prune too: most real users never
      // purchase, and without this a label-less key accumulates views
      // and days FOREVER — the per-key state leak the maxViewTail
      // budget exists to reject, just slower. When nothing is pending
      // the safe horizon is the watermark itself (a future label
      // arrives strictly after it — the same assumption the timer
      // path's min(watermark, …) already makes); when labels ARE
      // pending, their timers prune at the tighter horizon anyway.
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      if (wmUs > 0L && !pending.get().hasNext) pruneTo(wmUs)
      Iterator.empty
    }
    /** Prune per-key state to `horizon` (µs): at-or-before the horizon
      * only the single LATEST view and the single latest COMPLETE day
      * can still be the as-of match for any remaining or future label,
      * so everything older folds away; rows past the horizon (incl.
      * open days) stay untouched. Shared by the timer path (horizon =
      * min(watermark, oldest remaining label)) and the label-less
      * input path (horizon = watermark). */
    private def pruneTo(horizon: Long): Unit = {
      // no-op guard: once a key is at its pruned constant (≤1 past view,
      // ≤1 complete day), every further batch would clear-and-rewrite
      // identical state — on RocksDB that is pure tombstone/changelog
      // churn for nothing, and the input path calls this per batch
      val vs = views.get().toArray
      val (vPast, vLive) = vs.partition(_.ts_us <= horizon)
      if (vPast.length > 1) {
        views.clear()
        val keptViews =
          vPast.sortBy(r => (r.ts_us, r.view_id)).lastOption.toSeq ++ vLive
        keptViews.foreach(views.appendValue)
        nViews.update(keptViews.size.toLong)
      }
      val ds = days.iterator().map(p => (p._1, p._2)).toArray
      val (dPast, dLive) = ds.partition(_._1 + dayUs <= horizon)
      if (dPast.length > 1) {
        days.clear()
        (dPast.sortBy(_._1).lastOption.toSeq ++ dLive)
          .foreach { case (k2, v2) => days.updateValue(k2, v2) }
      }
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[PitRow] = {
      val t = expiredTimerInfo.getExpiryTimeInMs()
      val pend = pending.get().toArray
      val (fire, keep) = pend.partition(p => p.ts_us / 1000L + 1L <= t)
      if (fire.isEmpty) return Iterator.empty
      val vs = views.get().toArray
      val ds = days.iterator().map(p => (p._1, p._2)).toArray
      val out = fire.sortBy(_.event_id).map { p =>
        val v = vs.filter(_.ts_us <= p.ts_us) match {
          case e if e.isEmpty => None
          case e => Some(e.maxBy(r => (r.ts_us, r.view_id)))
        }
        val d = ds.filter(_._1 + dayUs <= p.ts_us) match {
          case e if e.isEmpty => None
          case e => Some(e.maxBy(_._1))
        }
        PitRow(p.event_id, key,
          v.map(_.value), v.map(r => p.ts_us - r.ts_us),
          d.map(_._1), d.map(_._2.n), d.map(_._2.cents))
      }
      pending.clear(); keep.foreach(pending.appendValue)
      // prune at min(watermark, oldest remaining label), never further:
      // at-or-before that horizon only the single latest feature row can
      // still be an as-of match for any remaining or future label — but
      // an OPEN day (past the watermark) must stay accumulating even
      // when nothing is pending, or a partial current day would
      // supersede the complete prior day the next label needs; and a
      // still-pending label (a same-trigger watermark jump can finalize
      // days PAST a label whose timer hasn't run yet) pins everything
      // at-or-before its own instant
      val horizon = math.min(timerValues.getCurrentWatermarkInMs() * 1000L,
        if (keep.nonEmpty) keep.map(_.ts_us).min else Long.MaxValue)
      pruneTo(horizon)
      out.iterator
    }
  }

  /** The streaming twin of the batch point-in-time feature assembly
    * (`j19_pit_features`): labels assembled against the SAME two
    * availability rules — latest view at-or-before the label instant,
    * latest FULLY-ENDED click day (avail = next UTC midnight) — from
    * per-user state instead of asof joins, emitted exactly once when
    * the watermark passes the label. This is the online/offline parity
    * a feature store exists to guarantee: the row this stream serves
    * for a label is byte-identical to the row the batch assembly
    * computes for the training set (parity-pinned in StreamingSpec).
    * Input: the raw event stream (all types interleaved); watermark on
    * the event ts is the query's event-time root. */
  def pitFeaturesStream(events: DataFrame, tsCol: String,
                        lateness: String,
                        maxViewTail: Long = 65536L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.withWatermark(tsCol, lateness)
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col(tsCol)).as("ts_us"),
        col("event_id").cast("long").as("event_id"),
        col("event_type").as("etype"), col("value").cast("double").as("value"))
      .as[PitEvent]
      .groupByKey(_.user_id)
      .transformWithState(new PitKeeper(86400L * 1000000L, maxViewTail), TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
      .select(col("event_id"), col("user_id"), col("view_value"),
        col("view_age_us"),
        to_date(timestamp_micros(col("feature_day_us"))).as("feature_day"),
        col("n_clicks"), col("click_cents"))
  }
}
