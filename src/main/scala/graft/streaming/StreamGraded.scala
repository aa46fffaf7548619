package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{Corpus, T}
import graft.sink.Footers
import graft.streaming.EventStreams.SEvent

/** The DRIVER-GRADED streaming surface (r15) — Structured Streaming
  * under the same DuckDB hash gate as every batch operator.
  *
  * Until r14 the streaming twins were verified only by
  * StreamBatchParitySpec (stream == batch on MemoryStream
  * micro-batches) — oracle-grade within ScalaTest, invisible to the
  * driver's correctness artifact. q296 promotes ONE parity pair
  * (q255's CUSUM change-point monitor vs [[EventStreams.cusumPoints]])
  * into a declared query: the events parquet is replayed through a
  * real file streaming source with `Trigger.AvailableNow`, the
  * flatMapGroupsWithState monitor runs exactly as deployed, a scratch
  * parquet sink materializes its emissions (read back lazily — r17;
  * no driver-side copy), and the DuckDB oracle recomputes
  * the expected per-day frame in SQL. A silent semantic drift between
  * the streaming recurrence and the batch formulation now fails the
  * round, not just a spec.
  *
  * What is graded — CLOSED days only: an append-mode monitor emits a
  * day when a LATER day's first event closes it, so each type's final
  * open day stays in state at end-of-replay (in deployment the idle
  * timeout flushes it; a bounded replay ends before that fires). The
  * oracle applies the same exclusion (`day < max(day) per type`) —
  * 5 types × 30 days ⇒ 145 graded rows at sf0.01.
  */
object StreamGraded {

  /** The shared replay harness: a parquet source replayed through a
    * real file streaming source under `Trigger.AvailableNow` (one batch
    * by default — see q296's scaladoc for why the graded contract
    * excludes anything only a POST-data timeout batch could emit; pass
    * `maxFilesPerTrigger = Some(1)` for replays that NEED watermark
    * progression across batches, q313), the given monitor, a parquet
    * sink. Materialization is sink + read-back (r17, the r16 verdict's
    * harness-hygiene item): the emitted frame streams to scratch
    * parquet and is handed back as an ordinary lazy scan, so
    * EVENT-PROPORTIONAL emission classes (q308/q309/q313) grade with
    * no driver-side copy — the harness itself now has the scale-safe
    * shape. Scratch trees are JVM-exit-reaped ([[ScratchExport]]).
    *
    * `schemaFrom` names the parquet whose schema types the stream
    * (readStream needs a declared schema); `glob` is the source file
    * pattern the stream actually lists. */
  private def replay(s: SparkSession, schemaFrom: String, glob: String,
                     tag: String, maxFilesPerTrigger: Option[Int] = None)(
      monitor: org.apache.spark.sql.Dataset[SEvent] => DataFrame): DataFrame = {
    // one shuffle partition per 64 MB of source, on a cloned session:
    // stateful micro-batches run with AQE disabled (see `StreamWidth`)
    val ss = StreamWidth.sizedSession(s, glob)
    import ss.implicits._
    val schema = Footers.schema(ss, schemaFrom)
    val reader = ss.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(glob)
    val ev = raw
      .select(col("event_id"), T.tsAsTimestamp(raw).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[SEvent]
    val out = monitor(ev)
    val scratch = graft.sink.ScratchExport.scratchDir(s"graft-replay-$tag-")
    val q = out
      .writeStream.format("parquet")
      .option("path", s"$scratch/out")
      .option("checkpointLocation", s"$scratch/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    // explicit schema: a zero-emission replay leaves no data files and
    // schema inference would throw; the monitor's plan already knows it
    s.read.schema(out.schema).parquet(s"$scratch/out")
  }

  /** q296: the streaming CUSUM monitor, graded end-to-end. Stage 1 is
    * the RUNBOOK batch init — per-type median targets from the trusted
    * history via the graded q255 frame ([[Corpus.cusumDays]]); the
    * collect is bounded by EVENT-TYPE cardinality (5 here; tens in any
    * deployment), never data volume. Stage 2 replays the same parquet
    * through `readStream` (one AvailableNow batch — in-batch disorder
    * is sorted inside the state handler, matching the monitor's
    * cross-batch event-time arrival contract) and materializes the
    * emitted [[EventStreams.CusumPoint]]s — since r17 to a scratch
    * parquet sink read back lazily (no driver-side copy). */
  def q296CusumStream(s: SparkSession, dir: String): DataFrame = {
    val DayUs = T.DayUs
    // batch init: the monitor's targets, from the q255 per-day frame
    val days = Corpus.cusumDays(T.events(s, dir)
      .select(col("event_type"), expr(s"(tus div $DayUs) * $DayUs").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt")))
    // bounded collect: one row per event TYPE (annotated; q202 class)
    val targets = days.selectExpr("event_type", "med").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // idle flush DISABLED for the bounded replay: whether the engine
    // schedules a timeout-firing batch after the data batch (and hence
    // whether a type idle ≥ watermark+idle at end-of-file flushes its
    // final open day) is a micro-batch scheduling detail, not a
    // semantic one — observed to differ run-to-run under AvailableNow.
    // The graded contract is therefore exactly CLOSED days; the idle
    // flush itself is deployment behavior, pinned deterministically by
    // StreamBatchParitySpec's sentinel batches.
    replay(s, s"$dir/events.parquet", s"$dir/events.parque*",
      "q296_cusum_stream")(ev =>
      EventStreams.cusumPoints(ev, targets, idleMs = Long.MaxValue / 4).toDF())
      .orderBy("event_type", "day")
  }

  /** q308: the inter-event-gap monitor, graded end-to-end — the second
    * streaming query under the hash gate, and the structurally SAFER
    * one: [[EventStreams.gapPoints]] emits only on a SUCCESSOR event
    * (a gap exists once its later endpoint arrives), and its timeout
    * path only EVICTS state (emitting nothing), so a bounded replay's
    * output is batch-schedule-independent by construction — every
    * per-user gap except none is emitted, each user's chain simply has
    * no row for its first event. The huge idleMs keeps even the
    * eviction structurally impossible, matching q296's contract. The
    * oracle is q211's lag formulation with the bitlen-log₂ bucket. */
  def q308GapStream(s: SparkSession, dir: String): DataFrame =
    replay(s, s"$dir/events.parquet", s"$dir/events.parque*",
      "q308_gap_stream")(ev =>
      EventStreams.gapPoints(ev, idleMs = Long.MaxValue / 4).toDF())
      .orderBy("user_id", "tus", "event_id")

  /** q309: the streaming EWMA spike monitor, graded end-to-end — the
    * third query under the hash gate, and q308's structural class:
    * [[EventStreams.ewmaPoints]] emits exactly one point PER EVENT as
    * it folds into the filter state, and its timeout path only EVICTS
    * (emitting nothing), so a bounded replay's output is
    * batch-schedule-independent by construction — no closed-window
    * exclusion needed, every event contributes exactly one graded row.
    * The huge idleMs keeps even mid-replay eviction (which would
    * zero-reset a user's tap history) structurally impossible. Input is
    * pre-filtered to q238's sensor sample (user_id ≡ 0 mod 3) BEFORE
    * the stateful operator — a stream filter, the deployment shape —
    * so the oracle is q238's formulation verbatim: a silent drift
    * between the 16-tap integer recurrence and the declared batch
    * window now fails the round. */
  def q309EwmaStream(s: SparkSession, dir: String): DataFrame =
    replay(s, s"$dir/events.parquet", s"$dir/events.parque*",
      "q309_ewma_stream")(ev =>
      EventStreams.ewmaPoints(ev.filter(col("user_id") % 3 === 0),
        idleMs = Long.MaxValue / 4).toDF())
      .orderBy("user_id", "tus", "event_id")

  /** q311: the streaming session-example emitter, graded end-to-end —
    * the q164-family monitor under the hash gate, closing the verdict's
    * last spec-only stateful monitor. Emission analysis (the q296/q308
    * successor-emission discipline): [[EventStreams.sessionExamples]]
    * emits a session when a LATER same-user event closes it (the
    * in-batch gap path) or when a watermark/timeout flush fires; with
    * `flushDelayMs` huge both cross-batch paths are structurally
    * disabled in the bounded replay, so the graded contract is exactly
    * the SUCCESSOR-CLOSED sessions: every session except each user's
    * final one (which is still open in state at end-of-replay; in
    * deployment the gap timeout flushes it — pinned by
    * StreamBatchParitySpec, which runs flushDelayMs = 0). The oracle is
    * q193's formulation with the matching exclusion (`session_id <
    * max(session_id)` per user, applied BEFORE the ≥3-event gate —
    * the open session is excluded whatever its size). */
  def q311SessionStream(s: SparkSession, dir: String): DataFrame =
    replay(s, s"$dir/events.parquet", s"$dir/events.parque*",
      "q311_session_stream")(ev =>
      EventStreams.sessionExamples(ev, flushDelayMs = Long.MaxValue / 4)
        .toDF())
      .orderBy("user_id", "n_events", "prefix_md5", "label")

  /** The q313 replay source: the real events coalesced into ONE file
    * (batch 0 — everything in one batch, so no real row is ever
    * watermark-late) followed by three SENTINEL waves (batches 1–3
    * under `maxFilesPerTrigger = 1`), each one click + one purchase at
    * `user_id = -1` and `max(ts) + 30/60/90 days`. Built once per (JVM,
    * dataset); mtimes are set 120 s apart so the file source's
    * timestamp order IS the batch order.
    *
    * Why THREE waves (the r16 verdict's item 4, calibrated empirically
    * at sf0.01): a stream-stream outer join emits a NULL-extended row
    * only once the watermark passes the row's full match window, the
    * watermark updates at END of a batch from that batch's max event
    * time, and the join's STATE CLEANUP observably lags one further
    * batch behind the update (measured: with waves at batches 1–2, the
    * final ~2 h of unmatched purchases emitted only in the engine's
    * optional post-data batch 3 — rows=0, not guaranteed under
    * AvailableNow). So: wave 1's huge timestamp lands the watermark
    * update at end-of-batch-1; the cleanup that evicts-and-emits ALL
    * real unmatched purchases lands in batch 3 — wave 3's DATA batch,
    * which always runs. Whether the engine schedules anything after the
    * last data batch stays irrelevant. Each wave has BOTH event types
    * because the query has two watermark nodes (clicks, purchases) and
    * the global watermark is their MIN: a click-only sentinel would
    * leave the purchase-side watermark behind and never close the left
    * state. */
  private def q313SourceDir(s: SparkSession, dir: String): String =
    graft.sink.ScratchExport.once(s"q313src:$dir") {
      val scratch = graft.sink.ScratchExport.scratchDir("graft-q313-src-")
      val base = s.read.parquet(s"$dir/events.parquet")
      val cols = base.columns.map(col).toSeq
      val mx = base.agg(max(col("ts")).as("mxts"))
      def wave(w: Int): DataFrame = Seq("click" -> (2 * w), "purchase" -> (2 * w + 1))
        .map { case (tpe, i) =>
          mx.select(
            lit(-1L - i).as("event_id"),
            expr(s"mxts + INTERVAL ${720 * w} HOURS").as("ts"),
            lit(-1L).as("user_id"), lit(tpe).as("event_type"),
            lit(0.0d).as("value"),
            lit(null).cast(base.schema("props").dataType).as("props"))
            .select(cols: _*)
        }.reduce(_.unionByName(_))
      import graft.sink.ScratchExport.writeSingleFile
      writeSingleFile(base.select(cols: _*), scratch, "b0_events.parquet", -360)
      writeSingleFile(wave(1), scratch, "b1_sentinel.parquet", -240)
      writeSingleFile(wave(2), scratch, "b2_sentinel.parquet", -120)
      writeSingleFile(wave(3), scratch, "b3_sentinel.parquet", 0)
      scratch
    }

  /** q313: the stream-stream interval JOIN graded end-to-end — the
    * fourth stateful operator class under the hash gate (q296/q308/
    * q309/q311 all grade `flatMapGroupsWithState`; this grades the
    * engine's own two-sided join state). The DEPLOYED left-outer
    * [[EventStreams.attributionAudit]] runs verbatim; since r17 the
    * graded contract covers BOTH emission classes (the r16 verdict's
    * item 4): matched rows (which emit eagerly in the batch where both
    * sides are present — schedule-independent by construction) AND the
    * NULL-extended unattributed purchases, whose watermark-closed
    * emission is made deterministic by the [[q313SourceDir]] sentinel
    * waves — two trailing data batches advance the watermark past every
    * real purchase's match window and close all left join state before
    * the replay ends, so emission no longer depends on whether the
    * engine schedules a post-data batch. Sentinels carry `user_id = -1`
    * and are excluded from the graded output by `user_id >= 0` (no real
    * user is negative). Timestamps lower to µs BIGINTs (q232's
    * render-stable compare); `value` passes through untouched, so no
    * float arithmetic crosses engines. Oracle = q232's interval join as
    * a plain LEFT join; `purchase_id` is unique, and a purchase has
    * either matched rows or one NULL row (never both), so the
    * (purchase_id, click_id) order is total with no NULL-placement
    * ambiguity between engines. */
  def q313AttributionStream(s: SparkSession, dir: String): DataFrame =
    replay(s, s"$dir/events.parquet", s"${q313SourceDir(s, dir)}/*.parquet",
      "q313_attribution_stream", maxFilesPerTrigger = Some(1))(ev =>
      EventStreams.attributionAudit(ev.toDF())
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          expr("unix_micros(p_ts)").as("p_us"),
          expr("unix_micros(c_ts)").as("c_us"), col("value")))
      // sentinel exclusion AFTER materialization, never inside the
      // monitor: a deterministic predicate there is pushed below the
      // watermark node INTO the parquet source scan, which prunes the
      // sentinel rows before they can advance the watermark and
      // silently reverts the unmatched side to schedule-dependence
      // (measured: batches 1–3 read 0 rows with the filter in-stream).
      // Each wave's purchase matches its own click (same user/ts), so
      // sentinels reach the sink as exactly one MATCHED row per wave —
      // deterministic — and are dropped here by id.
      .filter(col("user_id") >= 0)
      .orderBy("purchase_id", "click_id")

  /** q318: the WINDOWED-AGGREGATION streaming class graded end-to-end
    * (r17) — [[EventStreams.tumblingCounts]] verbatim (1 h tumbling,
    * 2 h watermark, append mode) over the [[q313SourceDir]] replay: the
    * three sentinel waves advance the watermark far past every real
    * event, so ALL real windows close-and-emit inside guaranteed data
    * batches (the q313 analysis applied to `StateStoreSaveExec`'s
    * append path). Sentinels occupy only far-future windows and are
    * excluded AFTER materialization by the window-start bound (the
    * pushdown rule); `ws` lowers to µs. `sum_val` grades cross-engine
    * because `value` is 2-decimal by generator contract: the true sum
    * is a 2-decimal rational, float error ≪ the 4-dp rounding quantum
    * (q80's shipped precedent). Oracle = q80's formulation verbatim —
    * the stream and batch tumbling windows are the same epoch-aligned
    * µs buckets. */
  def q318TumblingStream(s: SparkSession, dir: String): DataFrame = {
    // bounded scalar (q202 class): the last real event time — the
    // sentinel-exclusion bound for window starts
    val maxTus = T.events(s, dir).agg(max(col("tus"))).head().getLong(0)
    replay(s, s"$dir/events.parquet", s"${q313SourceDir(s, dir)}/*.parquet",
      "q318_tumbling_stream", maxFilesPerTrigger = Some(1))(ev =>
      EventStreams.tumblingCounts(ev.toDF())
        .select(expr("unix_micros(ws)").as("ws_us"), col("event_type"),
          col("cnt"), col("sum_val")))
      .filter(col("ws_us") <= maxTus)
      .orderBy("ws_us", "event_type")
  }

  /** q321: the HOPPING-window twin (r17) — [[EventStreams.slidingCounts]]
    * verbatim (1 h windows every 15 min; each event in 4 windows),
    * same replay, same sentinel exclusion, same emission analysis as
    * q318. Oracle = q169's µs slide expansion. */
  def q321SlidingStream(s: SparkSession, dir: String): DataFrame = {
    val maxTus = T.events(s, dir).agg(max(col("tus"))).head().getLong(0)
    replay(s, s"$dir/events.parquet", s"${q313SourceDir(s, dir)}/*.parquet",
      "q321_sliding_stream", maxFilesPerTrigger = Some(1))(ev =>
      EventStreams.slidingCounts(ev.toDF())
        .select(expr("unix_micros(ws)").as("ws_us"), col("event_type"),
          col("cnt"), col("sum_val")))
      .filter(col("ws_us") <= maxTus)
      .orderBy("ws_us", "event_type")
  }

  /** The q319 replay source: the real events plus an exact duplicate of
    * every `event_id % 13 == 0` row, one file = one batch — the dedup
    * operator must DROP the injected copies or the row count itself
    * fails the gate. Built once per (JVM, dataset). */
  private def q319SourceDir(s: SparkSession, dir: String): String =
    graft.sink.ScratchExport.once(s"q319src:$dir") {
      val scratch = graft.sink.ScratchExport.scratchDir("graft-q319-src-")
      val base = s.read.parquet(s"$dir/events.parquet")
      graft.sink.ScratchExport.writeSingleFile(
        base.unionByName(base.filter(col("event_id") % 13 === 0)),
        scratch, "b0_events_with_dups.parquet", 0)
      scratch
    }

  /** q319: the STREAMING-DEDUP class graded end-to-end (r17) —
    * [[EventStreams.dedupedEvents]] verbatim
    * (`dropDuplicatesWithinWatermark("event_id")`) over a replay source
    * carrying injected exact duplicates ([[q319SourceDir]]). Emission is
    * schedule-independent by construction: append mode emits each KEY's
    * first occurrence in its arrival batch (state holds only the seen
    * keys until watermark expiry — nothing emits on expiry), so the
    * graded output is exactly the distinct real events whatever the
    * batch boundaries. Oracle = the raw events table (each exactly
    * once): the injected copies must vanish or rows/hash fail. */
  def q319DedupStream(s: SparkSession, dir: String): DataFrame =
    replay(s, s"$dir/events.parquet", s"${q319SourceDir(s, dir)}/*.parquet",
      "q319_dedup_stream")(ev =>
      EventStreams.dedupedEvents(ev.toDF())
        .select(col("event_id"), expr("unix_micros(ts)").as("tus"),
          col("user_id"), col("event_type"), col("value")))
      .orderBy("event_id")

  /** q320: the STREAM-STATIC ENRICHMENT class graded end-to-end (r17) —
    * [[EventStreams.enrichedEvents]] verbatim: each streaming event
    * broadcast-joins its user's segment from a STATIC dimension frame
    * (derived deterministically from the same dataset: users
    * `% 11 ≠ 0` carry segment `seg(user_id % 7)`, the rest exercise the
    * left join's 'unknown' sentinel path). Stateless — one emitted row
    * per event in its arrival batch, fully schedule-independent; no
    * watermark, no sentinels. The oracle computes the segment as the
    * same pure function of user_id, so a broken join (dropped rows,
    * lost unknowns, wrong key) fails the hash. */
  def q320EnrichStream(s: SparkSession, dir: String): DataFrame = {
    val segs = T.events(s, dir)
      .select(col("user_id")).distinct()
      .filter(col("user_id") % 11 =!= 0)
      .select(col("user_id"),
        concat(lit("seg"), col("user_id") % 7).as("segment"))
    replay(s, s"$dir/events.parquet", s"$dir/events.parque*",
      "q320_enrich_stream")(ev =>
      EventStreams.enrichedEvents(ev.toDF(), segs)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("tus"), col("event_type"),
          col("segment")))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q296_cusum_stream" -> q296CusumStream _,
    "q308_gap_stream" -> q308GapStream _,
    "q309_ewma_stream" -> q309EwmaStream _,
    "q311_session_stream" -> q311SessionStream _,
    "q313_attribution_stream" -> q313AttributionStream _,
    "q318_tumbling_stream" -> q318TumblingStream _,
    "q319_dedup_stream" -> q319DedupStream _,
    "q320_enrich_stream" -> q320EnrichStream _,
    "q321_sliding_stream" -> q321SlidingStream _,
  )

  /** The q255 cusumDays frame in SQL, restricted to CLOSED days (every
    * per-type day except the last — the one still open in monitor
    * state at end-of-replay). Same lower-median target, integer slack,
    * prefix-sum/prefix-min recurrence closed form, and µs day grid as
    * the batch op; sums CAST to BIGINT (DuckDB widens to HUGEINT). */
  val oracle: Map[String, String] = Map(
    // q318: q80's tumbling formulation VERBATIM — the stream's
    // epoch-aligned 1 h windows are the same µs buckets
    "q318_tumbling_stream" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
        |       event_type, count(*) AS cnt, round(sum(value), 4) AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q321: q169's hopping expansion VERBATIM (4 slides of 15 min)
    "q321_sliding_stream" ->
      """SELECT ((epoch_us(ts) // 900000000) - h.k) * 900000000 AS ws_us,
        |       event_type, count(*) AS cnt, round(sum(value), 4) AS sum_val
        |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) h
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q319: every real event exactly once — the injected duplicates
    // must vanish through the dedup operator
    "q319_dedup_stream" ->
      """SELECT event_id, epoch_us(ts) AS tus, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // q320: the segment recomputed as the same pure function of
    // user_id the static dimension was built from
    "q320_enrich_stream" ->
      """SELECT event_id, user_id, epoch_us(ts) AS tus, event_type,
        |       CASE WHEN user_id % 11 <> 0
        |            THEN 'seg' || CAST(user_id % 7 AS VARCHAR)
        |            ELSE 'unknown' END AS segment
        |FROM events ORDER BY event_id""".stripMargin,
    // q309: q238's oracle VERBATIM (shared by reference, so the
    // streaming recurrence grades against exactly the declared batch
    // formulation — same sensor sample, same 16-tap dyadic filter,
    // same integer spike inequality, same order)
    "q309_ewma_stream" -> graft.ops.NorthStar.oracle("q238_ewma_smooth"),
    // q313: q232's interval join as a plain LEFT join — matched rows
    // plus the NULL-extended unattributed purchases (the sentinel waves
    // make their watermark-closed emission deterministic); the same
    // integer-µs time bounds. purchase_id is unique and a purchase has
    // either matches or one NULL row, so the order is total and NULL
    // placement never ties against a non-NULL click_id
    "q313_attribution_stream" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
        |                  event_type, value FROM events),
        |c AS (SELECT user_id AS c_user, tus AS c_us, event_id AS click_id
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, tus AS p_us, event_id AS purchase_id, value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT p.user_id, p.purchase_id, c.click_id, p.p_us, c.c_us, p.value
        |FROM p LEFT JOIN c
        |  ON p.user_id = c.c_user
        | AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 3600000000
        |ORDER BY p.purchase_id, c.click_id""".stripMargin,
    // q311: q193's session-example formulation with the bounded-replay
    // exclusion — each user's FINAL session (max session_id) is still
    // open in monitor state at end-of-replay, so it is excluded before
    // the >= 3-event gate; everything else is q193 verbatim
    "q311_session_stream" ->
      """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
        |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM x),
        |n AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |g AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM n),
        |a AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |             list(event_type ORDER BY tus, event_id) AS seq
        |      FROM g GROUP BY 1, 2),
        |m AS (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid
        |      FROM a)
        |SELECT user_id, n_events,
        |       md5(array_to_string(seq[1:len(seq)-1], ' ')) AS prefix_md5,
        |       seq[-1] AS label
        |FROM m WHERE session_id < last_sid AND n_events >= 3
        |ORDER BY user_id, n_events, prefix_md5, label""".stripMargin,
    // q308: q211's lag formulation — one row per (user, successor
    // event), the same (tus, event_id) tie order, the same
    // bitlen-log₂ bucket
    "q308_gap_stream" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |w AS (SELECT user_id, event_id, tus,
        |        lag(tus) OVER (PARTITION BY user_id
        |                       ORDER BY tus, event_id) AS prev_tus
        |      FROM e),
        |g AS (SELECT user_id, event_id, tus, prev_tus, tus - prev_tus AS gap
        |      FROM w WHERE prev_tus IS NOT NULL)
        |SELECT user_id, event_id, tus, prev_tus, CAST(gap AS BIGINT) AS gap,
        |       CAST(CASE WHEN gap = 0 THEN -1
        |            ELSE length(bin(gap)) - 1 END AS BIGINT) AS b
        |FROM g ORDER BY user_id, tus, event_id""".stripMargin,
    "q296_cusum_stream" ->
      """WITH c AS (SELECT event_type,
        |             (epoch_us(ts) // 86400000000) * 86400000000 AS day,
        |             count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, day, cnt,
        |        count(*) OVER (PARTITION BY event_type) AS n,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY cnt, day) AS rn
        |      FROM c),
        |md AS (SELECT event_type,
        |         max(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS med
        |       FROM m GROUP BY 1),
        |f AS (SELECT m.event_type, m.day, m.cnt, md.med,
        |        md.med // 10 AS slack, greatest(md.med, 1) AS h,
        |        max(m.day) OVER (PARTITION BY m.event_type) AS last_day
        |      FROM m JOIN md USING (event_type)),
        |p AS (SELECT *,
        |        sum(cnt - med - slack) OVER w AS pup,
        |        sum(med - slack - cnt) OVER w AS pdn
        |      FROM f
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |q AS (SELECT *,
        |        pup - least(0, min(pup) OVER w) AS splus,
        |        pdn - least(0, min(pdn) OVER w) AS sminus
        |      FROM p
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
        |       CAST(splus AS BIGINT) AS splus,
        |       CAST(sminus AS BIGINT) AS sminus,
        |       splus > h AS alarm_up, sminus > h AS alarm_down
        |FROM q WHERE day < last_day
        |ORDER BY event_type, day""".stripMargin,
  )
}
