package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events stream (event_id, ts,
  * user_id, event_type, value, props). The reference is pure batch
  * (SURVEY.md §2B — streaming is extension surface); these operators give
  * the streaming counterpart of the batch aggregations, plus stateful
  * sessionization. Batch/stream parity: every streaming transform here has
  * a batch twin in [[graft.Queries]]/[[graft.ExtensionQueries]] checked
  * against the DuckDB oracle; tests drive the streaming path from the same
  * parquet through a memory sink and assert equality with the batch result.
  */
object Streams {

  /** Schema of the normalized events stream (ts already µs TIMESTAMP_NTZ —
    * see graft.Tables.events for the nanos wrinkle).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window counts/sums with a watermark for state eviction.
    * Works on both batch and streaming DataFrames (same code path —
    * `window()` is batch-compatible), which is how the tests pin parity.
    */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
  }

  /** Sliding-window variant. */
  def slidingAgg(events: DataFrame, windowLen: String = "1 hour",
                 slide: String = "15 minutes",
                 watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
  }

  /** TWO stateful aggregations chained in one query — Spark 4 supports
    * multiple stateful operators in Append mode when the second windows
    * over the first's window column (SPARK-40925 lineage): per-5-minute
    * tumbling counts per event type, re-aggregated per hour into the
    * peak and total 5-minute load. The streaming burst-detection shape:
    * "what was the hottest 5-minute slice of each hour".
    *
    * Both stages keep windowed state evicted by the SAME watermark; the
    * second stage's input is one row per (5-min window, type) — state is
    * bounded by the window count, not the event count. Works identically
    * on batch frames (window-over-window is batch-compatible), which is
    * how e17's oracle checks it.
    */
  def chainedWindowAgg(events: DataFrame,
                       watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    val fine = src
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n5"))
    fine
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(max(col("n5")).as("peak_5min"), sum(col("n5")).as("total_n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
              col("peak_5min"), col("total_n"))
  }

  /** Native session-window aggregation (`session_window`): Spark's own
    * gap-based sessionizer — one shuffle on the key, sessions merged by the
    * engine, streaming-capable with watermark state eviction. Boundary
    * semantics: a session spans [first event, last event + gap); an event
    * at exactly `last + gap` starts a NEW session. The window+lag
    * formulation of the same computation is [[graft.ExtensionQueries]]
    * e02; this is the built-in operator for the same job.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
           min(unix_micros(col("ts").cast("timestamp"))).as("min_us"),
           max(unix_micros(col("ts").cast("timestamp"))).as("max_us"))
      .withColumn("duration_s", expr("(max_us - min_us) DIV 1000000"))
      .select(col("user_id"),
              col("session_window.start").cast("timestamp_ntz")
                .as("session_start"),
              col("n_events"), col("duration_s"))
  }

  /** Stream-stream interval join (click attribution): every purchase picks
    * up the same-user clicks in the trailing `attributionWindow`. In
    * streaming mode both sides carry watermarks and the time-range
    * predicate bounds the join state (Spark evicts rows older than
    * watermark + window); the identical plan runs on batch frames, which is
    * how the tests and the e05 oracle pin the semantics.
    */
  def clickAttribution(purchases: DataFrame, clicks: DataFrame,
                       attributionWindow: String = "1 hour",
                       watermark: String = "2 hours",
                       joinType: String = "inner"): DataFrame = {
    // left_outer: purchases with NO qualifying click survive with null
    // click columns — in streaming Spark holds them back until the
    // watermark proves no matching click can still arrive, THEN emits
    // the null-padded row (the correctness property that makes outer
    // stream-stream joins need both watermarks + the time bound)
    require(Set("inner", "left_outer")(joinType),
      s"clickAttribution: unsupported joinType $joinType")
    val p0 = if (purchases.isStreaming)
      purchases.withWatermark("ts", watermark) else purchases
    val c0 = if (clicks.isStreaming)
      clicks.withWatermark("ts", watermark) else clicks
    val p = p0.select(col("event_id").as("purchase_id"), col("user_id"),
                      col("ts").as("p_ts"))
    val c = c0.select(col("event_id").as("click_id"),
                      col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $attributionWindow") &&
        col("c_ts") <= col("p_ts"),
        joinType)
      .select(col("purchase_id"), col("user_id"), col("click_id"),
              col("c_ts"))
  }

  /** Streaming exact dedup with BOUNDED state — the streaming twin of
    * `Dedup.exactDedup`: a duplicate key arriving within the watermark
    * window is dropped, and per-key state is evicted once the watermark
    * passes it (`dropDuplicatesWithinWatermark`), so state size tracks the
    * watermark window, not the stream's lifetime — the difference between
    * a dedup that survives a year of uptime and one that OOMs. On batch
    * input the survivor per key is the FIRST row in (tsCol, remaining
    * ORDERABLE columns) order — plain dropDuplicates keeps a
    * partition-order-dependent arbitrary row, which would break the
    * repo-wide reproducibility contract (streaming keeps arrival order's
    * first, which is inherently arrival-dependent — that IS the
    * semantics). Caveat: rows that tie on the key, tsCol, and every
    * orderable column while differing only in an unorderable payload
    * (map columns) are still broken arbitrarily — a total order over
    * maps does not exist.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts",
                  watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else {
      // tiebreak on the ORDERABLE non-key columns only — a map-typed
      // payload column must not break an operator dropDuplicates accepted
      val orderable = events.schema.fields
        .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType))
        .map(_.name)
        .filterNot(c => keyCols.contains(c) || c == tsCol)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy((tsCol +: orderable.toSeq).map(col): _*)
      events.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
    }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class LatestState(ts: java.sql.Timestamp, event_id: Long,
                         value: Double)
  case class LatestOut(user_id: Long, last_ts: java.sql.Timestamp,
                       last_event_id: Long, last_value: Double)

  /** Stream-maintained latest-value-per-key materialized view: for each
    * user, the value of their most recent event by (ts, event_id) — the
    * streaming twin of the batch row_number-desc-≤-1 "latest per key"
    * (q44's shape). Late or out-of-order events NEVER regress the view:
    * the state keeps the max (ts, event_id) seen, so an event older than
    * the current latest is ignored whichever micro-batch it arrives in.
    *
    * Update-mode semantics: each micro-batch emits a refreshed row for
    * every key it touched (a true materialized view — downstream sinks
    * upsert on user_id). Bounded state: ONE (ts, id, value) triple per
    * key, |keys|-bounded regardless of event volume; no timeout, because
    * a view over all keys is precisely the contract (evicting would
    * forget the latest value). Batch mode runs the identical merge per
    * key and emits once.
    */
  def latestPerKey(events: Dataset[Event])
                  (implicit spark: SparkSession): Dataset[LatestOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestState, LatestOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[LatestState]) =>
          // fold, don't sort: one pass, O(1) memory per key even when a
          // hot key contributes millions of rows to a micro-batch.
          // Timestamp.compareTo keeps full nanosecond precision — a
          // getTime-based compare would collapse micros to millis
          var cur = state.getOption.orNull
          for (e <- rows) {
            val cmp = if (cur == null) 1 else e.ts.compareTo(cur.ts)
            if (cur == null || cmp > 0 ||
                (cmp == 0 && e.event_id > cur.event_id))
              cur = LatestState(e.ts, e.event_id, e.value)
          }
          state.update(cur)
          Iterator.single(LatestOut(userId, cur.ts, cur.event_id, cur.value))
      }
  }

  case class QuotaKey(user_id: Long, window_ms: Long)
  case class QuotaOut(event_id: Long, user_id: Long,
                      window_start: java.sql.Timestamp, rn: Long)

  /** Per-(key, tumbling window) quota: admits the first `quota` events of
    * each user in each window and drops the rest — the streaming rate
    * limiter / per-key downsampler (the streaming twin of the batch
    * row_number-≤-k quota in [[graft.operators.Corpus.quotaSample]]).
    *
    * Bounded state: ONE admitted-count int per (user, window), evicted by
    * event-time timeout once the watermark passes the window end — a hot
    * key costs 4 bytes per open window, never its event history. Admission
    * is by arrival order across micro-batches (the rate-limit semantics);
    * within a micro-batch rows are admitted in (ts, event_id) order so a
    * single-batch run — and therefore batch execution — is deterministic
    * and matches the row_number oracle.
    */
  def quotaPerWindow(events: Dataset[Event], quota: Int,
                     windowMinutes: Int = 60,
                     watermarkDelay: String = "10 minutes")
                    (implicit spark: SparkSession): Dataset[QuotaOut] = {
    import spark.implicits._
    require(quota >= 1 && windowMinutes >= 1)
    val winMs = windowMinutes * 60000L
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay)
              else events
    val timeoutConf = if (streaming) GroupStateTimeout.EventTimeTimeout
                      else GroupStateTimeout.NoTimeout
    src.groupByKey(e => QuotaKey(e.user_id,
                                 Math.floorDiv(e.ts.getTime, winMs) * winMs))
      .flatMapGroupsWithState[Int, QuotaOut](OutputMode.Append, timeoutConf) {
        (key: QuotaKey, rows: Iterator[Event], state: GroupState[Int]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var n = state.getOption.getOrElse(0)
            val out = Seq.newBuilder[QuotaOut]
            for (e <- sorted if n < quota) {
              n += 1
              out += QuotaOut(e.event_id, key.user_id,
                              new java.sql.Timestamp(key.window_ms), n.toLong)
            }
            if (streaming) {
              state.update(n)
              // evict once the watermark passes the window end (Spark
              // requires a timeout strictly beyond the current watermark)
              state.setTimeoutTimestamp(
                math.max(key.window_ms + winMs,
                         state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.result().iterator
          }
      }
  }
  case class TopKOut(window_start: java.sql.Timestamp, event_type: String,
                     cnt: Long, rk: Int)

  /** Streaming per-window top-k leaderboard: for each tumbling window,
    * the k most frequent event types. In streaming mode the counts
    * accumulate in per-window state (bounded by |distinct types| — the
    * leaderboard domain, never the event volume) and the FINAL ranking
    * emits exactly once, when the watermark proves the window closed
    * (event-time timeout; append semantics — a premature emission would
    * be wrong, ranks can still flip while the window is open). Batch
    * mode folds and emits in one pass, which is how the declared query
    * oracle-checks the ranking logic.
    */
  def windowTopK(events: Dataset[Event], k: Int,
                 windowMinutes: Int = 60,
                 watermarkDelay: String = "10 minutes")
                (implicit spark: SparkSession): Dataset[TopKOut] = {
    import spark.implicits._
    require(k >= 1 && windowMinutes >= 1)
    val winMs = windowMinutes * 60000L
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay)
              else events
    val timeoutConf = if (streaming) GroupStateTimeout.EventTimeTimeout
                      else GroupStateTimeout.NoTimeout
    def topK(windowMs: Long, counts: Map[String, Long]): Iterator[TopKOut] =
      counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).zipWithIndex
        .map { case ((t, c), i) =>
          TopKOut(new java.sql.Timestamp(windowMs), t, c, i + 1)
        }.iterator
    src.groupByKey(e => Math.floorDiv(e.ts.getTime, winMs) * winMs)
      .flatMapGroupsWithState[Map[String, Long], TopKOut](
        OutputMode.Append, timeoutConf) {
        (windowMs: Long, rows: Iterator[Event],
         state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            // window closed: the ranking is final — emit and evict
            val counts = state.get
            state.remove()
            topK(windowMs, counts)
          } else {
            var counts = state.getOption.getOrElse(Map.empty[String, Long])
            for (e <- rows)
              counts = counts.updated(e.event_type,
                counts.getOrElse(e.event_type, 0L) + 1L)
            if (streaming) {
              state.update(counts)
              state.setTimeoutTimestamp(
                math.max(windowMs + winMs,
                         state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            } else topK(windowMs, counts)
          }
      }
  }

  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Int, duration_s: Long)

  /** Stateful sessionization via flatMapGroupsWithState with EVENT-TIME
    * timeout — session-MERGE semantics (the same algorithm as Spark's
    * native session_window state store), streaming-capable and
    * bounded-memory:
    *
    *  - State per key is the list of UNFLUSHED sessions. A session is
    *    only emitted once the watermark strictly passes its `last + gap`
    *    — before that, a watermark-admissible event could still merge
    *    into it (or BRIDGE two pending sessions into one), so emitting
    *    earlier would split true sessions on late data. Pending sessions
    *    live in a (watermarkDelay + gap) horizon and adjacent ones are
    *    ≥ gap apart, so the list holds at most (watermarkDelay / gap) + 2
    *    entries per key — still bounded, however hot the key.
    *  - Events merge by interval: an event within `gap` of a session
    *    extends it; an event farther than `gap` BEFORE every pending
    *    session starts its own (out-of-order events do not glue onto a
    *    later session's tail).
    *  - Ripe sessions flush either inline (new events advance no
    *    watermark mid-batch, but earlier batches may have left ripe
    *    sessions) or via the event-time timeout when the key goes quiet.
    *
    * On a BATCH Dataset the same merge runs once per key over all rows
    * and everything is emitted at the end of the call (timeouts do not
    * exist in batch execution) — output equals the window+lag batch
    * sessionizer (e02, merge-at-exact-gap inclusive), which is how the
    * spec pins parity.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes")
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay)
              else events
    def closed(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.start), s.n,
                 (s.last - s.start) / 1000L)
    // sort by start, then coalesce any neighbors within gap (an event can
    // bridge two previously-separate sessions)
    def mergeAll(ss: Seq[SessionState]): Seq[SessionState] = {
      val sorted = ss.sortBy(s => (s.start, s.last))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionState]
      for (s <- sorted) {
        if (out.nonEmpty && s.start - out.last.last <= gapMs) {
          val p = out.remove(out.length - 1)
          out += SessionState(p.start, math.max(p.last, s.last), p.n + s.n)
        } else out += s
      }
      out.toSeq
    }
    // a session is final only when no admissible event (t >= wm) can still
    // merge into it: wm must be STRICTLY past last + gap
    def flush(userId: Long, sessions: Seq[SessionState],
              state: GroupState[Seq[SessionState]]): Iterator[SessionOut] = {
      val wm = state.getCurrentWatermarkMs()
      val (ripe, pending) = sessions.partition(_.last + gapMs < wm)
      if (pending.isEmpty) state.remove()
      else {
        state.update(pending)
        state.setTimeoutTimestamp(
          math.max(pending.map(_.last + gapMs).min, wm + 1))
      }
      ripe.sortBy(_.start).iterator.map(closed(userId, _))
    }
    val timeoutConf = if (streaming) GroupStateTimeout.EventTimeTimeout
                      else GroupStateTimeout.NoTimeout
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[SessionState], SessionOut](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[Seq[SessionState]]) =>
          if (state.hasTimedOut) flush(userId, state.get, state)
          else {
            val incoming = rows
              .map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)).toSeq
            val merged =
              mergeAll(state.getOption.getOrElse(Seq.empty) ++ incoming)
            if (streaming) flush(userId, merged, state)
            else {
              // batch: all of the key's rows were in this call — every
              // session is complete, emit them all now
              state.remove()
              merged.sortBy(_.start).iterator.map(closed(userId, _))
            }
          }
      }
  }

  /** Stream-static enrichment: join the live stream against a SLOW
    * dimension table (the lookup-table pattern — streams never wait for
    * dimension shuffles; Spark re-plans the static side per micro-batch
    * and broadcasts it when it fits). Works identically on batch
    * frames, which is how e18's oracle checks the join itself; the
    * streaming path (joined stream → grouped counts in Complete mode)
    * is pinned in StreamingSpec.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events(eventKey) === dim(dimKey))

  case class RunningOut(user_id: Long, n_events: Long,
                        sum_value_micro: Long, last_event_id: Long)

  /** Per-key running totals via the Spark 4 `transformWithState`
    * StatefulProcessor API (the successor of flatMapGroupsWithState:
    * typed per-state-variable storage, TTL support, timers, RocksDB
    * state store). Emits, once per key per micro-batch, the
    * key's cumulative (event count, exact micro-unit value sum,
    * max event id) — the streaming accumulator that feeds a live
    * metrics view.
    *
    * Determinism: the fold is order-free (count/sum/max are
    * commutative), and the value rides exact integer micro-units, so
    * the cumulative row after N batches equals the batch aggregate over
    * the same rows regardless of batch boundaries — which is exactly
    * what StreamingSpec pins cross-batch and what the e16 oracle checks
    * in batch mode.
    *
    * Bounded state: ONE 3-long row per key, ever (a hot key's history
    * never accumulates). `TTLConfig.NONE` here because the batch twin
    * must see all keys; a production view would pass a TTL so idle keys
    * age out of RocksDB.
    *
    * Scale note: state lives in the RocksDB store partitioned by the
    * grouping key — the shuffle carries (user_id, event) once per batch
    * and lookups are local to the state partition.
    */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, RunningOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var st: ValueState[RunningOut] = _
    override def init(outputMode: OutputMode,
                      timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RunningOut](
        "running", Encoders.product[RunningOut], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[RunningOut] = {
      var n = 0L; var sum = 0L; var lastId = Long.MinValue
      if (st.exists()) {
        val c = st.get()
        n = c.n_events; sum = c.sum_value_micro; lastId = c.last_event_id
      }
      for (e <- rows) {
        n += 1
        // exact micro units: double addition order would drift
        sum += math.round(e.value * 1000000.0)
        if (e.event_id > lastId) lastId = e.event_id
      }
      val out = RunningOut(key, n, sum, lastId)
      st.update(out)
      Iterator.single(out)
    }
  }

  /** One token-budgeted document offer (input to [[BudgetFillProcessor]]):
    * `h` is the deterministic priority hash. */
  case class BudgetDoc(source: String, doc_id: Long, n_tok: Long, h: String)
  /** A kept document with its cumulative token position in the source's
    * budget. */
  case class BudgetKept(source: String, doc_id: Long, n_tok: Long,
                        cum_tok: Long)

  /** Streaming token-budget corpus fill — the stateful cross-batch form
    * of the t47 batch mixer: each source keeps a running tokens-used
    * counter in typed state; every micro-batch's offers are sorted by
    * the deterministic priority hash and admitted while the budget
    * lasts. Admission is FIRST-BATCH-FIRST (earlier micro-batches spend
    * the budget first — the streaming-ingestion contract), and within a
    * batch priority-hash order, so the emitted set is a deterministic
    * function of the batch partition of the input: on a single batch it
    * equals the batch mixer exactly (the declared e29 oracle), and the
    * cross-batch carry is pinned in StreamingSpec.
    *
    * Bounded state: ONE long per source, ever. The per-batch sort is
    * per-key in-memory — at 100 TB the per-(source, batch) offer list is
    * the unit that must fit an executor, which is the same contract as
    * any per-key stateful operator; a skewed source splits by salting
    * the key and pre-aggregating offers.
    */
  class BudgetFillProcessor(budget: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, BudgetDoc, BudgetKept] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var used: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      used = getHandle.getValueState[Long](
        "used", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[BudgetDoc],
                                 tv: TimerValues): Iterator[BudgetKept] = {
      // PREFIX semantics, not greedy-skip: the cumulative count advances
      // on every offer (admitted or not), and a doc is kept iff its
      // cumulative position fits the budget — exactly the batch mixer's
      // running-sum-window filter, so the single-batch run equals the
      // window SQL and the carry across batches stays comparable.
      var cum = if (used.exists()) used.get() else 0L
      val kept = Vector.newBuilder[BudgetKept]
      for (d <- rows.toVector.sortBy(x => (x.h, x.doc_id))) {
        cum += d.n_tok
        if (cum <= budget) kept += BudgetKept(key, d.doc_id, d.n_tok, cum)
      }
      used.update(cum)
      kept.result().iterator
    }
  }

  /** [[BudgetFillProcessor]] over a document stream (or batch twin). */
  def budgetFillPerSource(docs: Dataset[BudgetDoc], budget: Long)
                         (implicit spark: SparkSession): Dataset[BudgetKept] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    if (!docs.isStreaming)
      org.apache.spark.sql.graftbridge.Bridge.ensureStateStoreCoordinator(spark)
    docs.groupByKey(_.source)
      .transformWithState(new BudgetFillProcessor(budget),
        TimeMode.None(), OutputMode.Update())
  }

  /** REAL streamed execution of the budget fill: file source over the
    * documents parquet → transformWithState budget state → memory sink.
    * `maxFilesPerTrigger` splits multi-file sources into ordered
    * micro-batches (earlier files spend the budget first).
    */
  def streamedBudgetFill(spark: SparkSession, docsPath: String,
                         workDir: String, sinkName: String,
                         budget: Long,
                         maxFilesPerTrigger: Option[Int] = None,
                         statePartitions: Int = 8): DataFrame =
      withStatePartitions(spark, statePartitions) {
    // transformWithState needs multi-column-family state → RocksDB;
    // scope the provider override to this query's checkpoint creation
    withConf(spark, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider") {
      import spark.implicits._
      implicit val s: SparkSession = spark
      val offers = fileStream(spark, docsPath, workDir, maxFilesPerTrigger)
        .select(col("source"), col("doc_id"),
          size(expr(Tokens)).cast("long").as("n_tok"),
          md5(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
        .as[BudgetDoc]
      runToMemory(budgetFillPerSource(offers, budget).toDF(),
          OutputMode.Update(), sinkName, checkpointOf(workDir))
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))
    }
  }

  /** A document's whitespace-normalized lower-case tokens (SQL). */
  private val Tokens = "regexp_extract_all(trim(regexp_replace(" +
    "lower(text), '\\\\s+', ' ')), '\\\\S+', 0)"

  /** Count-Min sketch maintained as LIVE streaming-aggregation state:
    * file source over a documents table → per-token (row, bucket)
    * fan-out with the same seeded-FNV bucketing as the batch sketch →
    * Complete-mode count per cell → memory sink. Counter addition is
    * order- and batching-free, so the post-stream counter table equals
    * the batch sketch cell for cell; state is bounded by the sketch
    * dimensions (rows × width cells), not the stream length.
    */
  def streamedCountMin(spark: SparkSession, docsPath: String,
                       workDir: String, sinkName: String,
                       rows: Int = 4, width: Int = 1024,
                       statePartitions: Int = 8): DataFrame = {
    require(width >= 2 && (width & (width - 1)) == 0,
      s"streamedCountMin: width must be a power of two, got $width")
    streamedComplete(spark, docsPath, workDir, sinkName, docs =>
      docs.select(explode(expr(Tokens)).as("w"))
        .select(explode(array((0 until rows).map(j =>
          struct(lit(j).as("j"),
            graft.functions.Expressions.fnv_hash(col("w"), j.toLong)
              .bitwiseAND(lit((width - 1).toLong)).as("b"))): _*)).as("rb"))
        .select(col("rb.j").as("j"), col("rb.b").as("b"))
        .groupBy(col("j"), col("b"))
        .agg(count(lit(1)).as("c")),
      statePartitions)
      .select(col("j"), col("b"), col("c"))
  }

  /** Live distinct-cardinality sketch: q193's deterministic 64-register
    * HLL kept as STREAMING-aggregation state — file source → per-token
    * (register, rho) projection (the same FNV-1a64 bridge and
    * trailing-zero rho) → Complete-mode MAX per register → memory sink.
    * Register MAX is order-, batching- and retry-free, so the
    * post-stream registers equal the batch sketch bit-for-bit (the
    * mergeable-sketch property, live), and state is ≤ 64 rows
    * REGARDLESS of stream length — the production shape for a
    * continuously-maintained cardinality readout over an unbounded
    * stream (cf. streamedCountMin for the frequency twin).
    */
  def streamedHllRegisters(spark: SparkSession, docsPath: String,
                           workDir: String, sinkName: String,
                           statePartitions: Int = 8): DataFrame =
    streamedComplete(spark, docsPath, workDir, sinkName, docs =>
      docs.select(explode(expr(Tokens)).as("w"))
        .select(graft.functions.Expressions.fnv_hash(col("w")).as("h"))
        .select(expr("h & 63").as("j"),
                expr("shiftrightunsigned(h, 6)").as("wnd"))
        .withColumn("rho",
          when(col("wnd") === 0L, lit(59L))
            .otherwise(
              expr("CAST(bit_count((wnd & -wnd) - 1) + 1 AS BIGINT)")))
        .groupBy(col("j")).agg(max(col("rho")).as("mj")),
      statePartitions)
      .select(col("j"), col("mj"))

  /** Live Gramian maintenance: s20's exact-integer XᵀX cells kept as
    * Complete-mode streaming state — every arriving embedding adds its
    * quantized outer-product terms into the d×d cell aggregate. Integer
    * SUM commutes with any batching, so the post-stream cells equal the
    * batch Gramian bit-for-bit, and state is ≤ d(d+1)/2 rows however
    * long the stream runs — a continuously-updated covariance the
    * downstream eigensolve (s21) can read at any instant. The
    * streaming face of [[graft.operators.LinAlg.gramCells]].
    */
  def streamedGramCells(spark: SparkSession, embPath: String,
                        workDir: String, sinkName: String,
                        statePartitions: Int = 8): DataFrame =
    streamedComplete(spark, embPath, workDir, sinkName, emb =>
      emb.select(expr("transform(embedding, x -> " +
          "CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))").as("q"))
        .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
        .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
        .filter(col("j") >= col("i"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("qi") * col("qj")).as("cell")),
      statePartitions)
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
              col("cell"))

  /** Live KMV bottom-k NDV sketch: s23's mergeable
    * [[graft.functions.Kmv]] aggregate kept as STREAMING-aggregation
    * state — file source → 64-bit key hash (FNV-1a64 + SplitMix64
    * finalizer, the s23 bridge) → Complete-mode global `kmv_sketch`
    * (a TypedImperativeAggregate: partials reduce map-side BEFORE the
    * state store, so the shuffle and the store both carry ≤ k longs,
    * never row hashes) → memory sink. The sketch is a SET (one
    * canonical value under any batching), so the post-stream sketch
    * equals the batch sketch BIT-for-bit — which is why e36 can be
    * declared against s23's identical oracle. Unlike the HLL twin
    * (streamedHllRegisters) this live readout also supports set
    * algebra downstream: union/intersect/Jaccard against any other
    * sketch without re-reading the stream.
    *
    * `keyExpr` is a SQL expression over the table's columns yielding
    * the (string-castable) key; `k` the sketch size.
    */
  def streamedKmvSketch(spark: SparkSession, tablePath: String,
                        keyExpr: String, workDir: String, sinkName: String,
                        k: Int = 1024,
                        statePartitions: Int = 8): DataFrame =
    streamedComplete(spark, tablePath, workDir, sinkName, t =>
      t.select(graft.functions.Expressions.mix64(
          graft.functions.Expressions.fnv_hash(
            expr(keyExpr).cast("string"))).as("h"))
        .agg(graft.functions.Kmv.kmv_sketch(k)(col("h")).as("sk")),
      statePartitions)
      .select(col("sk"))

  /** Generic "parquet file stream → caller-supplied transform →
    * Complete-mode memory sink" harness: the shape every live-readout
    * query here shares. The transform must end in a streaming-supported
    * aggregation; because Complete mode re-emits full state, the
    * returned table is the exact aggregate over everything streamed —
    * which is what lets callers declare the streamed query against the
    * BATCH query's oracle verbatim whenever the aggregate commutes
    * with batching (sums, counts, maxes, mergeable sketches).
    */
  def streamedComplete(spark: SparkSession, tablePath: String,
                       workDir: String, sinkName: String,
                       transform: DataFrame => DataFrame,
                       statePartitions: Int = 8): DataFrame =
      withStatePartitions(spark, statePartitions) {
    runToMemory(transform(fileStream(spark, tablePath, workDir)),
      OutputMode.Complete(), sinkName, checkpointOf(workDir))
  }

  /** [[RunningStatsProcessor]] wired to a stream (or batch twin — the
    * operator runs identically on a batch Dataset, which is how the
    * declared e16 query oracle-checks it).
    */
  def runningStatsPerKey(events: Dataset[Event])
                        (implicit spark: SparkSession): Dataset[RunningOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    if (!events.isStreaming)
      // batch execution still loads a state store; make sure the
      // driver-side coordinator endpoint exists (streaming runs create
      // it themselves)
      org.apache.spark.sql.graftbridge.Bridge.ensureStateStoreCoordinator(spark)
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Latest-row-per-user reduction with a TOTAL order — (ts, event_id)
    * max_by — so the result is identical however the input is split.
    */
  private def argmaxPerUser(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max_by(struct(col("ts").as("last_ts"),
                         col("event_id").as("last_event_id"),
                         col("value").as("last_value")),
                  struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.last_ts").as("last_ts"),
              col("m.last_event_id").as("last_event_id"),
              col("m.last_value").as("last_value"))

  /** Streaming per-key EXACT bucketed median — the q151 distinct-value
    * trick, streamed: a Complete-mode streaming aggregation maintains one
    * state row per (key, value bucket), and the median is recovered from
    * the final count grid by cumulative rank — exact type-1 median of the
    * bucketed distribution, all integers.
    *
    * The fixture is split into TWO parquet files and streamed with
    * `maxFilesPerTrigger = 1`, so the counts MUST accumulate across ≥ 2
    * real micro-batches in the state store (asserted on the query
    * progress) — a single-batch run would be a batch job in disguise.
    *
    * Scale contract: state is bounded by |keys| × |bucket grid|, NOT by
    * stream length — the grid coarseness (cents here; dollars, $10 bins
    * at higher cardinality) is the knob that trades median resolution
    * for state size. The final cumulative window runs per key over that
    * same bounded grid, never over the stream.
    */
  def streamedBucketMedian(spark: SparkSession, eventsPath: String,
                           workDir: String, sinkName: String,
                           statePartitions: Int = 4): DataFrame =
      withStatePartitions(spark, statePartitions) {
    val batch = spark.read.parquet(eventsPath)
    val ev = fileStream(spark,
      twoHalves(batch, "event_id", workDir, "streamedBucketMedian"),
      workDir, Some(1), Some(batch.schema))
    val counts = ev.filter(col("value").isNotNull)
      .select(col("event_type"),
              expr("CAST(round(value * 100) AS BIGINT)").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val bc = runToMemory(counts, OutputMode.Complete(), sinkName,
      checkpointOf(workDir), minDataBatches = 2)
    // cum + total as two windows over ONE partitioning (no self-join —
    // a memory-sink self-join trips conflicting-attribute analysis, and
    // the join would be a second shuffle anyway); both windows span the
    // bounded bucket grid per key, never the stream
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    bc.withColumn("cum", sum(col("cnt")).over(byKey.orderBy(col("bucket"))))
      .withColumn("n", sum(col("cnt")).over(byKey))
      .filter(col("cum") >= expr("(n + 1) DIV 2"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"), min(col("bucket")).as("med_cents"))
  }

  /** STREAM-STATIC incremental near-dup — the genuinely-streaming twin
    * of d26: incoming documents arrive as a file stream (two files,
    * `maxFilesPerTrigger = 1`, so ≥ 2 real micro-batches), each batch is
    * MinHash-banded IN the streaming DAG and inner-joined against the
    * STATIC parquet band index of the existing corpus — a stateless
    * stream-static join, so Append mode needs no watermark and no state
    * store — with candidate pairs landing in a parquet sink. Exact
    * Jaccard verification then runs once in batch over the collected
    * candidates (the same [[graft.operators.Dedup.verifyCandidatePairs]]
    * tail as d26, so the two paths cannot drift). Output = d26's.
    *
    * Scale: per micro-batch cost is |batch bands| joined against the
    * index — the index is the big side and is NEVER re-banded or
    * re-shuffled per batch (broadcast of the small streaming side);
    * candidates accumulate in the sink, verification is one batch job
    * over them.
    */
  def streamedIncrementalNearDup(spark: SparkSession, docsPath: String,
                                 workDir: String,
                                 splitId: Long = 400L,
                                 n: Int = 5, threshold: Double = 0.7,
                                 bands: Int = 64,
                                 rowsPerBand: Int = 4): DataFrame = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(docsPath)
    val old = docs.filter(col("doc_id") < splitId)
    val nw = docs.filter(col("doc_id") >= splitId)
    val idxPath = new java.io.File(workDir, "index").toString
    Dedup.minhashBandIndex(old, "text", "doc_id", n, bands, rowsPerBand)
      .write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
      .withColumnRenamed("id", "old_id")
    val ev = fileStream(spark,
      twoHalves(nw, "doc_id", workDir, "streamedIncrementalNearDup"),
      workDir, Some(1), Some(docs.schema))
    val cand = Dedup.minhashBandIndex(ev, "text", "doc_id",
                                      n, bands, rowsPerBand)
      .join(index, Seq("band", "bucket"))
      .filter(col("id") =!= col("old_id"))
      .select(col("old_id"), col("id").as("new_id"))
    val outPath = new java.io.File(workDir, "cands").toString
    val q = cand.writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointOf(workDir))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    requireDataBatches(q, 2, "streamedIncrementalNearDup")
    val candidates = spark.read.parquet(outPath)
      .dropDuplicates("old_id", "new_id")
    Dedup.verifyCandidatePairs(
      Dedup.shingledSide(old, "text", "doc_id", n),
      Dedup.shingledSide(nw, "text", "doc_id", n),
      candidates, threshold)
  }

  /** Symlink `target` as `dir/name`, replacing any existing entry — a
    * reused workDir must not throw FileAlreadyExistsException on the
    * second run. */
  private def linkInto(dir: java.io.File, name: String,
                       target: java.io.File): Unit = {
    dir.mkdirs()
    val link = new java.io.File(dir, name).toPath
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(link, target.toPath.toAbsolutePath)
  }

  /** `df` split by `pmod(xxhash64(key), 2)` into two one-file parquet
    * halves (`workDir/half<i>`), linked as `workDir/src/half<i>.parquet`;
    * returns that dir — streamed one file per trigger, two real
    * micro-batches. */
  private def twoHalves(df: DataFrame, key: String, workDir: String,
                        what: String): String = {
    val src = new java.io.File(workDir, "src")
    for (half <- 0 to 1) {
      val tmp = new java.io.File(workDir, s"half$half")
      df.filter(pmod(xxhash64(col(key)), lit(2)) === half)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"$what: ${part.length} parts")
      linkInto(src, s"half$half.parquet", part(0))
    }
    src.toString
  }

  /** Runs `body` with session conf `key` set to `value`, restoring the
    * prior value (or unsetting it) after.
    *
    * NOTE this mutates SHARED session conf for the duration of the
    * query — safe under this repo's one-query-at-a-time sessions
    * (Verify/Bench/specs are all sequential), NOT safe for concurrent
    * streaming queries in one session; concurrent callers must clone the
    * session (`spark.newSession()`) so conf scoping is per-query.
    */
  private def withConf[T](spark: SparkSession, key: String, value: String)
                         (body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` = `n`. Streaming
    * state partition count is PINNED INTO THE CHECKPOINT at the query's
    * first start and every micro-batch pays a fixed per-partition cost
    * (4 state-store provider opens + delta commits per partition for a
    * stream-stream join), so stateful streaming queries must size it to
    * state volume, not inherit the CPU-count batch default — measured
    * 22 s → 6 s on e27 going 32 → 8 partitions over ~2000 rows/batch. At
    * large state (the 100 TB deployment) callers raise `statePartitions`
    * when creating the checkpoint; it cannot change across restarts.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Int)
                                    (body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Parquet file stream over the table at `path`, read with its batch
    * schema unless `schema` is given. FileStreamSource needs a DIRECTORY
    * source (it force-sets basePath to the given path for non-glob
    * paths); the testdata tables are single .parquet files, so a file
    * is symlinked into `workDir/src` and that directory is streamed —
    * zero copy, production shape. `maxFilesPerTrigger` splits a
    * multi-file source into ordered micro-batches.
    */
  private[graft] def fileStream(spark: SparkSession, path: String,
                                workDir: String,
                                maxFilesPerTrigger: Option[Int] = None,
                                schema: Option[StructType] = None)
      : DataFrame = {
    val f = new java.io.File(path)
    val dir =
      if (!f.isFile) path
      else {
        val d = new java.io.File(workDir, "src")
        linkInto(d, f.getName, f)
        d.toString
      }
    val reader = spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(path).schema))
    maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString)).parquet(dir)
  }

  /** [[fileStream]] over the events table, `ts` normalized as in
    * [[graft.Tables.events]]. */
  private def eventsFileStream(spark: SparkSession, eventsPath: String,
                               workDir: String,
                               maxFilesPerTrigger: Option[Int]): DataFrame =
    graft.Tables.microsTs(
      fileStream(spark, eventsPath, workDir, maxFilesPerTrigger))

  /** The events table with every data file presented TWICE (two links
    * under `workDir/dup`) and streamed one file per trigger: each copy
    * is its own micro-batch, so copy-2 rows are always cross-batch
    * duplicates only state can reject — the same contract for a
    * single-file table and a Spark-written dir of part files. */
  private def eventsTwiceStream(spark: SparkSession, eventsPath: String,
                                workDir: String, what: String): DataFrame = {
    val f = new java.io.File(eventsPath)
    val files =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .filter(p => p.isFile && p.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq
    require(files.nonEmpty, s"$what: no parquet files under $eventsPath")
    val d = new java.io.File(workDir, "dup")
    // a REUSED workDir may hold links from a differently-shaped source —
    // stale entries would feed extra files into the stream. Plain
    // files/symlinks only: a stray non-empty subdirectory would make
    // deleteIfExists throw DirectoryNotEmptyException and abort stream
    // setup before the first micro-batch
    Option(d.listFiles).foreach(_.foreach(x =>
      if (x.isFile || java.nio.file.Files.isSymbolicLink(x.toPath))
        java.nio.file.Files.deleteIfExists(x.toPath)))
    for ((pf, i) <- files.zipWithIndex; tag <- Seq("a", "b"))
      linkInto(d, s"events_${tag}_$i.parquet", pf)
    graft.Tables.microsTs(fileStream(spark, d.toString, workDir, Some(1),
      Some(spark.read.parquet(eventsPath).schema)))
  }

  private def checkpointOf(workDir: String): String =
    new java.io.File(workDir, "ckpt").toString

  /** Fails unless `q` ran at least `min` micro-batches that read data. */
  private def requireDataBatches(q: StreamingQuery, min: Int,
                                 what: String): Unit = {
    val n = q.recentProgress.count(_.numInputRows > 0)
    require(n >= min,
      s"$what: expected >= $min data micro-batches, got $n")
  }

  /** Runs `df` to completion (`AvailableNow`) into the memory sink
    * `sinkName` under `mode`, checkpointed at `checkpoint`, and returns
    * the sink table. `minDataBatches` asserts the run really split into
    * that many micro-batches that read data. */
  private[graft] def runToMemory(df: DataFrame, mode: OutputMode,
                                 sinkName: String, checkpoint: String,
                                 minDataBatches: Int = 0): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    requireDataBatches(q, minDataBatches, sinkName)
    df.sparkSession.table(sinkName)
  }

  /** A REAL Structured Streaming execution end-to-end — not a batch twin:
    * file source over the events parquet (AvailableNow trigger, optional
    * maxFilesPerTrigger batch splitting), foreachBatch greatest-wins
    * upsert into a parquet snapshot, final snapshot returned. This is
    * the production "stream → serving snapshot" sink pattern (the
    * foreachBatch path Spark recommends for upsert sinks).
    *
    * Correctness under replay/splitting: the merge keeps, per user, the
    * row with the greatest (ts, event_id) across the existing snapshot
    * and the micro-batch — an idempotent, commutative fold, so the final
    * snapshot is byte-identical no matter how the files split into
    * micro-batches or whether a batch is re-delivered. Snapshots are
    * written as generations (write gen N+1, then swap) because a Spark
    * job cannot overwrite the files it is reading.
    *
    * Scale: each micro-batch shuffles only its own argmax (map-side
    * combined) plus the snapshot keyed by user; state lives in the
    * snapshot files, not executor memory.
    */
  def streamedLatestSnapshot(spark: SparkSession, eventsPath: String,
                             workDir: String,
                             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = eventsFileStream(spark, eventsPath, workDir, maxFilesPerTrigger)
    val snapDir = new java.io.File(workDir, "snapshot")
    var gen = 0
    val q = ev.writeStream
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val updates = argmaxPerUser(df.select(
          col("user_id"), col("ts"), col("event_id"), col("value")))
        val cur = new java.io.File(snapDir, s"gen$gen")
        val next = new java.io.File(snapDir, s"gen${gen + 1}")
        val merged =
          if (!cur.exists()) updates
          else {
            val prev = df.sparkSession.read.parquet(cur.toString)
              .select(col("user_id"), col("last_ts").as("ts"),
                      col("last_event_id").as("event_id"),
                      col("last_value").as("value"))
            argmaxPerUser(prev.unionByName(updates.select(
              col("user_id"), col("last_ts").as("ts"),
              col("last_event_id").as("event_id"),
              col("last_value").as("value"))))
          }
        merged.write.mode("overwrite").parquet(next.toString)
        gen += 1
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointOf(workDir))
      .start()
    q.awaitTermination()
    require(gen > 0, "streamedLatestSnapshot: no micro-batch ran")
    spark.read.parquet(new java.io.File(snapDir, s"gen$gen").toString)
  }

  /** A REAL watermarked Append-mode streaming aggregation — not a batch
    * twin: file source → `withWatermark(10 min)` → hourly tumbling
    * window × event_type agg → memory sink. Append mode only emits a
    * window once the watermark passes its end, so the result is the
    * subset of e01's hourly grid that the final watermark
    * (max event time − 10 min, monotone across micro-batches)
    * finalized — the tail window(s) correctly stay open. The oracle
    * encodes exactly that cutoff, making Spark's watermark-finalization
    * semantics themselves driver-checked.
    *
    * Scale: state is one row per open (hour, event_type) — bounded by
    * the watermark horizon, not by stream length; partial aggregation
    * applies before the state-store shuffle.
    */
  def streamedHourlyAgg(spark: SparkSession, eventsPath: String,
                        workDir: String, sinkName: String,
                        statePartitions: Int = 8): DataFrame =
      withStatePartitions(spark, statePartitions) {
    // watermarks require TIMESTAMP (not NTZ); session TZ is UTC so the
    // cast is lossless, and window_start is cast back to NTZ below
    val ev = eventsFileStream(spark, eventsPath, workDir, None)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double")
             .as("sum_value"))
    runToMemory(agg, OutputMode.Append(), sinkName, checkpointOf(workDir))
      .select(col("w.start").cast(TimestampNTZType).as("window_start"),
              col("event_type"), col("n"), col("sum_value"))
  }

  /** A REAL cross-micro-batch streamed deduplication: the events file is
    * presented TWICE (two symlinks) and `maxFilesPerTrigger=1` forces the
    * copies into separate micro-batches, so every row of batch 2 is a
    * duplicate that only the key state store can reject — the emitted
    * set is exactly one copy of each event, which is what the oracle
    * (the plain table) checks. Append mode: first-seen rows emit
    * immediately, duplicates are dropped on arrival.
    *
    * `dropDuplicates` here keeps UNBOUNDED key state for exactness
    * against the oracle; production streams bound it with
    * `dropDuplicatesWithinWatermark` (see [[dedupStream]]) at the cost
    * of only-within-horizon guarantees.
    */
  def streamedDedup(spark: SparkSession, eventsPath: String,
                    workDir: String, sinkName: String,
                    statePartitions: Int = 8): DataFrame =
      withStatePartitions(spark, statePartitions) {
    val ev = eventsTwiceStream(spark, eventsPath, workDir, "streamedDedup")
    runToMemory(ev.dropDuplicates("event_id"), OutputMode.Append(),
        sinkName, checkpointOf(workDir))
      .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"))
  }

  /** A REAL stream-stream inner join: clicks and purchases are two
    * watermarked streams over the same file source, joined per user on
    * a purchase-within-30-minutes-after-click time-range condition.
    * Inner stream-stream joins emit eagerly (nothing is withheld at
    * end-of-stream, unlike Append aggregations), and the watermark +
    * range condition exist to BOUND the buffered state — each side
    * keeps only rows within watermark ± range, the production
    * requirement for an unbounded join — so the emitted set equals the
    * batch join exactly and the oracle is the plain SQL join.
    *
    * Scale: state per side is O(rows within the watermark horizon) per
    * user partition, not O(stream); the join shuffles both sides on
    * user_id once.
    */
  def streamedClickPurchaseJoin(spark: SparkSession, eventsPath: String,
                                workDir: String, sinkName: String,
                                statePartitions: Int = 8): DataFrame =
    clickPurchaseJoin(spark, eventsPath, workDir, sinkName,
      statePartitions, "inner")

  /** Stream-stream LEFT OUTER join: every click emits — matched rows
    * eagerly (inner-join semantics), unmatched clicks with a null
    * purchase side once the watermark proves no match can still arrive
    * (the click's join window `[c_ts, c_ts + 30 min]` has passed fully
    * below the global watermark and its buffered state is evicted).
    * Outer rows are therefore a FUNCTION OF THE WATERMARK at
    * end-of-stream: clicks whose window is still inside the horizon are
    * withheld (correctly — a match could still arrive), so the oracle
    * reproduces the eviction rule: unmatched AND
    * `c_ts + 30 min < min(max click ts, max purchase ts) - 10 min`.
    *
    * Scale: identical to the inner variant — state per side is bounded
    * by the watermark horizon, one shuffle on user_id. The outer rows
    * add no state; they're emitted exactly at eviction.
    */
  def streamedLeftOuterJoin(spark: SparkSession, eventsPath: String,
                            workDir: String, sinkName: String,
                            statePartitions: Int = 8): DataFrame =
    clickPurchaseJoin(spark, eventsPath, workDir, sinkName,
      statePartitions, "left_outer")

  /** The click → purchase-within-30-minutes stream-stream join of
    * [[streamedClickPurchaseJoin]] / [[streamedLeftOuterJoin]]. */
  private def clickPurchaseJoin(spark: SparkSession, eventsPath: String,
                                workDir: String, sinkName: String,
                                statePartitions: Int,
                                joinType: String): DataFrame =
      withStatePartitions(spark, statePartitions) {
    val ev = eventsFileStream(spark, eventsPath, workDir, None)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
              col("ts").cast("timestamp").as("c_ts"),
              col("event_id").as("click_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
              col("ts").cast("timestamp").as("p_ts"),
              col("event_id").as("purchase_id"),
              col("value").as("purchase_value"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
    runToMemory(joined, OutputMode.Append(), sinkName, checkpointOf(workDir))
      .select(col("c_user").as("user_id"),
              col("click_id"), col("purchase_id"),
              col("c_ts").cast(TimestampNTZType).as("click_ts"),
              col("p_ts").cast(TimestampNTZType).as("purchase_ts"),
              col("purchase_value"))
  }

  /** Cross-batch dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * keeps a key's dedup state only until the watermark passes its event
    * time + delay, unlike [[streamedDedup]]'s unbounded `dropDuplicates`
    * — the production choice for unbounded streams, where "exactly once
    * per key, ever" is unenforceable without infinite state. Here the
    * delay (90 days) exceeds the fixture's 30-day span, so no state is
    * evicted mid-run and the emitted set equals exact dedup (the
    * oracle); StreamingSpec pins the complementary behavior — a
    * duplicate arriving AFTER the horizon re-emits.
    */
  def streamedDedupWithinWatermark(spark: SparkSession, eventsPath: String,
                                   workDir: String, sinkName: String,
                                   statePartitions: Int = 8): DataFrame =
      withStatePartitions(spark, statePartitions) {
    val ev = eventsTwiceStream(spark, eventsPath, workDir,
      "streamedDedupWithinWatermark")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("event_id")
    runToMemory(ev, OutputMode.Append(), sinkName, checkpointOf(workDir))
      .select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"),
              col("user_id"), col("event_type"), col("value"))
  }

  /** Streaming-state INTROSPECTION via the `statestore` batch source: runs
    * a Complete-mode per-user aggregation over the events stream to a
    * checkpoint, then reads the aggregation's state store back as a plain
    * DataFrame — (key struct, value struct with the live agg buffer) — and
    * flattens it. The returned counts/sums come from the STATE FILES, not
    * from a sink, so this checks that the state a long-running job would
    * recover from is itself correct (the oracle is the plain batch
    * aggregation).
    *
    * This is the offline half of state management at 100 TB: the same
    * reader audits skewed keys, sizes state before a migration, or
    * bootstraps a repaired checkpoint — without touching the running
    * query. The read parallelizes per state-store partition (one task per
    * shuffle partition of the streaming agg).
    */
  def stateStoreCounts(spark: SparkSession, eventsPath: String,
                       workDir: String,
                       statePartitions: Int = 8): DataFrame =
      withStatePartitions(spark, statePartitions) {
    val ev = eventsFileStream(spark, eventsPath, workDir, None)
    val ck = checkpointOf(workDir)
    val q = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
             .as("value_cents"))
      .writeStream.outputMode(OutputMode.Complete()).format("noop")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.format("statestore").load(ck)
      .select(col("key.user_id").as("user_id"),
              col("value.count").as("n_events"),
              col("value.sum").as("value_cents"))
  }

  /** STREAMING CHANGE-FEED CONSUMPTION — the live downstream half of
    * the lakehouse CDF loop
    * ([[graft.sources.Loader.tableChanges]] derives the typed events;
    * this folds them incrementally): a foreachBatch consumer
    * subscribed to commit NOTIFICATIONS (a file-source dir receiving
    * one marker file per upstream commit) maintains a materialized
    * aggregate view — per `groupExpr` group, the live COUNT (`n`) and
    * SUM of `valueCol` (`<valueCol>_sum`) — by applying only each
    * window's change events (insert/update_postimage add, delete/
    * update_preimage subtract), NEVER rescanning the table: a
    * micro-batch costs O(churn since the cursor), the incremental-
    * view-maintenance shape a 100 TB table demands of its downstream
    * aggregates.
    *
    * Exactly-once across restarts and foreachBatch's at-least-once
    * replay, by the same versioned-publish discipline as the sink
    * itself: the view state as of feed version k lives at
    * `viewDir/v<k>` (staged privately, atomically renamed), so the
    * CURSOR IS the latest published view version — a replayed batch
    * whose target version already exists is a no-op, and a restarted
    * consumer resumes from the cursor, not from scratch. First
    * activation seeds `v<oldest>` from ONE aggregate of the oldest
    * retained snapshot; every later advance is pure delta arithmetic.
    * Single-consumer contract per viewDir (the rename is last-wins on
    * local filesystems; multi-writer view maintenance wants the
    * sink's no-overwrite OCC rename).
    */
  def changeFeedView(spark: SparkSession, baseDir: String, key: String,
                     valueCol: String, groupExpr: String,
                     notifyDir: String, checkpointDir: String,
                     viewDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("text").load(notifyDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) =>
        advanceChangeFeedView(spark, baseDir, key, valueCol, groupExpr,
          viewDir)
      }
      .start()

  /** One advance of the [[changeFeedView]] materialization: fold every
    * sink commit past the cursor into the view. Exposed for direct
    * (batch) drives and the spec's cross-batch-carry pins. */
  def advanceChangeFeedView(spark: SparkSession, baseDir: String,
                            key: String, valueCol: String,
                            groupExpr: String, viewDir: String): Unit = {
    val sumCol = s"${valueCol}_sum"
    val versions = graft.sources.Loader
      .snapshotVersions(spark, baseDir).map(_._1)
    if (versions.isEmpty) return
    val target = versions.max
    val viewRoot = new java.io.File(viewDir)
    viewRoot.mkdirs()
    def publishedVersions(): Seq[Long] =
      Option(viewRoot.listFiles()).getOrElse(Array.empty).toSeq
        .map(_.getName).filter(_.startsWith("v"))
        .flatMap(_.drop(1).toLongOption).sorted
    def publish(v: Long, df: DataFrame): Unit = {
      val stage = new java.io.File(viewRoot,
        s"_stage_${java.util.UUID.randomUUID()}")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val dst = new java.io.File(viewRoot, s"v$v")
      // a replayed batch finding its target already published no-ops
      if (dst.exists() || !stage.renameTo(dst)) {
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(stage.toString), true)
        ()
      }
    }
    val cursor0 = publishedVersions().lastOption
    val cursor = cursor0.getOrElse {
      // first activation: seed from the oldest retained snapshot, so
      // even the first fold below exercises the incremental path
      val seedV = versions.min
      publish(seedV, graft.sources.Loader
        .readSnapshot(spark, s"$baseDir/v$seedV")
        .groupBy(expr(groupExpr).as("grp"))
        .agg(count(lit(1)).as("n"), sum(col(valueCol)).as(sumCol)))
      seedV
    }
    if (target > cursor) {
      val view = spark.read.parquet(s"$viewDir/v$cursor")
      val delta = graft.sources.Loader
        .tableChanges(spark, baseDir, key, cursor, target)
        .withColumn("__sgn",
          when(col("_change_type").isin("insert", "update_postimage"),
            lit(1L)).otherwise(lit(-1L)))
        .groupBy(expr(groupExpr).as("grp"))
        .agg(sum(col("__sgn")).as("__dn"),
             sum(col("__sgn") * col(valueCol)).as("__dsum"))
      val next = view
        .join(delta, Seq("grp"), "full_outer")
        .select(col("grp"),
          (coalesce(col("n"), lit(0L)) +
            coalesce(col("__dn"), lit(0L))).as("n"),
          (coalesce(col(sumCol), lit(0L)) +
            coalesce(col("__dsum"), lit(0L))).as(sumCol))
        .filter(col("n") > 0)
      publish(target, next)
    }
  }
}
