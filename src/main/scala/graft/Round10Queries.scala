package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fingerprint, Scratch, Tables}
import graft.stream.{EventWindows, SessionClose, SessionCloseTws, StreamRun}

/** Round-10 depth queries (round-9 verdict asks #1, #2, #7, #8): the
  * EventTimeTimeout session state machine with watermark-fired final
  * emission, the same stop/restart recovery scenario under the RocksDB
  * state store provider, a watermark late-data drop audit (the streaming
  * analogue of the LSH drop audit), and the two-level partition
  * fingerprint reconcile.
  */
object Round10Queries {

  /** Pin the RocksDB provider + changelog checkpointing for the session
    * (idempotent — GraftSession.builder already defaults both; this makes
    * the queries that REQUIRE RocksDB — transformWithState — and the ones
    * that CERTIFY it deterministic under any caller's session). There is
    * deliberately no restore: the round-10 restore-after-block shape was
    * safe only while every body happened to finish its stream before
    * returning — a lazily-evaluated caller would have executed under the
    * restored provider. RocksDB is the engine's production default
    * session-wide, so "restore" has nothing to restore to.
    */
  private[graft] def ensureRocksDb(s: SparkSession): Unit = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X6, EventTimeTimeout flatMapGroupsWithState EXECUTED BY THE
    // STREAMING ENGINE — the session-close state machine the NoTimeout
    // custom-state query stops short of. Each per-user gap session is
    // emitted EXACTLY ONCE: by a successor event proving the gap
    // elapsed (data-batch close), or by state.hasTimedOut once the
    // WATERMARK passes session end + gap — which for the final sessions
    // of a bounded run only the trailing no-data micro-batch delivers
    // (the round-9 noDataBatch plumbing, exercised here). The two
    // requires pin exactly that: the run's last trigger consumed zero
    // input AND contributed emissions. Sessions the final watermark
    // never times out (the live tail within gap+lateness of stream end)
    // are never emitted; the oracle encodes both the emission rule and
    // the engine's millisecond timeout arithmetic (epoch_ms floors).
    "events_session_timeout_stream" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_session_timeout_stream")
      val src = Round7Queries.eventsChunks(s, dir)
      import s.implicits._
      val ev = src.select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
        .as[SessionClose.Event]
      val (res, stats) = StreamRun.runAvailableNowUpdateObserved(
        SessionClose.close(ev, gapMinutes = 30).toDF(),
        s"$out/run", noDataBatch = true)
      val last = stats.last
      require(last.inputRows == 0L,
        s"final trigger must be the engine's no-data batch: $stats")
      require(res.filter(col("batch_id") === last.batchId).limit(1).count() == 1L,
        "the no-data batch must contribute watermark-fired session closes")
      res.drop("batch_id")
    },
    // X6 on the NEXT-GENERATION stateful API: the identical session
    // machine re-implemented with transformWithState (StatefulProcessor
    // + typed ValueState + explicit event-time timers fired through
    // handleExpiredTimer) — certified under the SAME oracle as the
    // flatMapGroupsWithState tier, so both state APIs are pinned to
    // byte-identical emissions. transformWithState requires RocksDB,
    // adding another RocksDB-provider certification; the same
    // no-data-batch requires apply (timers fire on watermark advance
    // after the backlog drains).
    "events_session_tws_stream" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_session_tws_stream")
      val src = Round7Queries.eventsChunks(s, dir)
      import s.implicits._
      val ev = src.select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
        .as[SessionClose.Event]
      ensureRocksDb(s)
      val (res, stats) = StreamRun.runAvailableNowUpdateObserved(
        SessionCloseTws.close(ev, gapMinutes = 30).toDF(),
        s"$out/run", noDataBatch = true)
      val last = stats.last
      require(last.inputRows == 0L,
        s"final trigger must be the engine's no-data batch: $stats")
      require(res.filter(col("batch_id") === last.batchId).limit(1).count() == 1L,
        "the no-data batch must contribute timer-fired session closes")
      res.drop("batch_id")
    },
    // X6, CUSTOM-STATE stop/restart recovery — the strongest recovery
    // certification the engine has: drain the first half of the (u150)
    // events through the transformWithState session machine (INCLUDING
    // its trailing no-data batch, as a scheduled job's final run
    // would), stop, land the second half, restart against the SAME
    // checkpoint under RocksDB. The engine must restore per-user OPEN
    // SESSIONS and their REGISTERED EVENT-TIME TIMERS: boundary-
    // straddling sessions must merge with their run-2 continuations,
    // idle users' recovered timers must still fire, and the union of
    // both runs' emissions must equal the single-run session answer —
    // which the oracle certifies verbatim. Engine-level invariants
    // (resumed batch numbering, late-files-only reads) are `require`d
    // in the runner.
    "events_session_restart_tws" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_session_restart_tws")
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
      val mid = new java.sql.Timestamp(
        (bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)
      import s.implicits._
      ensureRocksDb(s)
      val (res, _, run2) = StreamRun.runRestartUpdateObserved(
        ev.filter(col("ts") < lit(mid)), ev.filter(col("ts") >= lit(mid)),
        src => SessionCloseTws.close(
          src.select(col("user_id"), col("ts"), col("value"))
            .withWatermark("ts", "1 hour")
            .as[SessionClose.Event], gapMinutes = 30).toDF(),
        s"$out/run")
      require(run2.last.inputRows == 0L,
        s"run 2 must end in a no-data batch firing recovered timers: $run2")
      res.drop("batch_id")
    },
    // X6, stop/restart recovery under the ROCKSDB state store provider —
    // at 100 TB-state the default in-memory provider is the scale
    // killer (state must fit the executor heap); RocksDB spills state
    // to local disk with incremental checkpointing and is the provider
    // a production deployment of every stateful query here would run.
    // Same scenario and invariants as events_restart_stream
    // (runRestartObserved `require`s resumed batch numbering +
    // late-files-only reads; the oracle certifies the restored-state
    // aggregation), on the user_id<150 bench-cost prefix — which at the
    // sf0.01 correctness gate is the whole table.
    "events_restart_rocksdb" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_restart_rocksdb")
      val ev = Tables.events(s, dir).filter(col("user_id") < 150)
      val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
      val mid = new java.sql.Timestamp(
        (bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)
      ensureRocksDb(s)
      val (result, _, _) = StreamRun.runRestartObserved(
        ev.filter(col("ts") < lit(mid)), ev.filter(col("ts") >= lit(mid)),
        src => EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run")
      result
    },
    // X6 observability — the WATERMARK LATE-DATA drop audit (the
    // streaming analogue of dedup_lsh_drop_audit): every 50th event_id
    // from the stream's first time-quarter is displaced to arrive AFTER
    // the whole backlog, so the advanced watermark must drop all of
    // them. The require certifies the engine's own accounting
    // (numRowsDroppedByWatermark summed over triggers = the displaced
    // row count); the certified OUTPUT is the per-window audit a
    // pipeline operator actually reads — finalized windows' batch count
    // minus streamed count — which the oracle recomputes from the same
    // lateness rule. Windows losing rows without the stream noticing,
    // or drops leaking into emitted counts, both break the compare.
    "events_late_audit" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_late_audit")
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val q1 = mn + (mx - mn) / 4
      val isLate = col("event_id") % 50 === 0 && unix_micros(col("ts")) < lit(q1)
      // 2 on-time chunks (was 4), the same cut the join-late audit took
      // in round 15: the displaced file lands AFTER the backlog either
      // way, and by then the watermark sits at max(ts)−delay regardless
      // of how many triggers advanced it — the drop accounting and the
      // certified output are chunk-count-invariant
      val src = StreamRun.chunkedSourceWithLate(
        s, ev.filter(!isLate), ev.filter(isLate), s"$out/src", 2)
      val (streamed, stats) = StreamRun.runAvailableNowObserved(
        EventWindows.tumblingStream(src, "1 hour", "1 hour"),
        s"$out/run", complete = false)
      val nLate = ev.filter(isLate).count()
      require(nLate > 0, "fixture must yield displaced rows for the audit")
      // numRowsDroppedByWatermark counts rows reaching the STATE
      // operator, i.e. post-partial-aggregation (window, type) partial
      // rows, not raw inputs — at sf0.1 the 498 displaced rows combine
      // map-side into 409 partial rows, every one dropped. The sound
      // engine-accounting bounds: at least one partial row per distinct
      // displaced group, at most one per displaced raw row — and zero
      // drops anywhere outside the displaced batch (asserted by nothing
      // else being late). The EXACT per-row accounting is the certified
      // OUTPUT below, which the oracle recomputes group-exactly.
      val lateGroups = ev.filter(isLate)
        .select(window(col("ts"), "1 hour"), col("event_type")).distinct().count()
      val dropped = stats.map(_.rowsDroppedByWatermark).sum
      require(dropped >= lateGroups && dropped <= nLate,
        s"engine-reported drops must cover the displaced set " +
          s"($lateGroups groups, $nLate rows): $stats")
      val batch = EventWindows.tumbling(ev, "1 hour")
        .select(col("window_start"), col("event_type"),
          col("n_events").as("batch_events"))
      val finalized = batch.filter(
        col("window_start") + expr("INTERVAL 1 HOUR")
          <= timestamp_micros(lit(mx)) - expr("INTERVAL 1 HOUR"))
      finalized.join(
          streamed.select(col("window_start"), col("event_type"),
            col("n_events").as("stream_events")),
          Seq("window_start", "event_type"), "left_outer")
        .select(col("window_start"), col("event_type"),
          (col("batch_events") - coalesce(col("stream_events"), lit(0L)))
            .as("n_dropped"))
        .filter(col("n_dropped") > 0)
    },
    // X6, CHAINED STATEFUL OPERATORS in one streaming query — the
    // multi-stateful-operator pipeline (watermark PROPAGATION between
    // operators) that every other X6 query, each with a single stateful
    // op, leaves unexercised: dropDuplicatesWithinWatermark keyed by
    // (user, type, hour) feeding a windowed count aggregation, append
    // mode. The dedup's output must carry a correctly-delayed watermark
    // into the aggregation for its finalization/eviction to be sound —
    // a propagation bug double-counts or drops windows and fails the
    // hash. The dedup's event-time column is the hour-TRUNCATED
    // timestamp (a plain column; an earlier draft keyed on the window()
    // STRUCT as event time and a chunk-boundary-straddling key was
    // re-emitted despite unexpired state — plain-column expiry is the
    // documented, observed-exact path), with the delay widened to 2 h
    // because truncation shifts event times up to 1 h earlier. Dedup is
    // then exact BY CONSTRUCTION (all rows of an hour arrive while that
    // hour's state is live on an event-time-ordered source), so the
    // oracle is the plain distinct-then-aggregate under the append
    // finalization cutoff at the truncated watermark.
    "events_dedup_windowed_stream" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_dedup_windowed_stream")
      val src = Round7Queries.eventsChunks(s, dir)
      val dedup = src
        .withColumn("wstart", date_trunc("hour", col("ts")))
        .withWatermark("wstart", "2 hours")
        .select(col("user_id"), col("event_type"), col("wstart"))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "wstart")
      StreamRun.runAvailableNow(
          dedup.groupBy(window(col("wstart"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_users"))
            .select(col("window.start").as("window_start"),
              col("event_type"), col("n_users")),
          s"$out/run", complete = false)
    },
    // X6, stream-stream LEFT OUTER interval join EXECUTED BY THE
    // ENGINE — the join form where the WATERMARK ITSELF produces rows:
    // a left event with no PURCHASE by the same user within 10 minutes
    // after it (the right side is the purchases subset — a subset, or
    // every left would trivially match itself) is emitted with nulls
    // only once the watermark passes left.ts + interval (no partner can
    // still arrive), i.e. at state eviction — the last of those ride
    // the trailing no-data batch. Matched pairs emit eagerly (the path
    // events_correlated_stream certifies inner-identical). Lefts within
    // interval+lateness of stream end are never resolved on a bounded
    // run; the oracle encodes the eviction cutoff in the engine's own
    // arithmetic — the global watermark is the MIN of the two sides'
    // (the purchases side ends earlier), millisecond-floored, scaled to
    // microseconds, strict beyond left.ts + interval. Same u150
    // bench-cost prefix as the inner twin — the whole table at the
    // sf0.01 gate.
    "events_correlated_outer_stream" -> { (s, dir) =>
      val out = CoreQueries.scratchDir("events_correlated_outer_stream")
      // 2 chunks (was 4): null-emission happens at state EVICTION, which
      // the final no-data batch sweeps under the FINAL watermark — the
      // answer depends on that watermark only, not on how many
      // intermediate triggers advanced it, so the extra triggers were
      // per-trigger overhead. Two triggers + the no-data batch still
      // exercise cross-batch buffering, mid-stream eviction, and the
      // trailing sweep.
      def src() = StreamRun.chunkedSource(s,
        Tables.events(s, dir).filter(col("user_id") < 150),
        s"$out/src-u150-${dir.replaceAll("[^A-Za-z0-9.]", "_")}", 2)
      val joined = EventWindows.correlateStreamsOuter(
        src(), src().filter(col("event_type") === "purchase"),
        "user_id", "10 MINUTES", "1 minute")
      StreamRun.runAvailableNow(joined, s"$out/run", complete = false,
          noDataBatch = true)
        .groupBy(col("type_left"),
          coalesce(col("type_right"), lit("__unmatched")).as("type_right"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    // A3 at TWO partition levels (SURVEY.md §7.4.3's Map[String,String]
    // spec): the UC#2 fingerprint reconcile over a dt×hr-style grouping
    // — ~720 (day, hour) cells at sf0.01, each carrying the
    // order-insensitive (count, bit_xor(xxhash64)) digest, one shuffle
    // for the whole comparison exactly like the single-level form. The
    // deterministic perturbation (every 13th error event dropped from
    // the target) makes cells inconsistent exactly where the oracle
    // recomputes a count difference; the digest catches content drift
    // the count alone would miss (pinned in FingerprintSpec).
    "integrity_multilevel" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("dt", to_date(col("ts")))
        .withColumn("hr", hour(col("ts")))
      val tgt = ev.filter(
        !(col("event_type") === "error" && col("event_id") % 13 === 0))
      Fingerprint.compare(ev, tgt, Seq("dt", "hr"))
    }
  )

  /** Gap sessions per user (identical session derivation to
    * events_sessions), emitted iff closed: every non-final session of a
    * user (a successor event proves the gap), plus final sessions whose
    * timeout the final watermark passed. The engine compares timeout
    * timestamps in floored MILLISECONDS: timeout fires iff
    * epoch_ms(session_end) + gap < epoch_ms(max ts) - lateness, strict,
    * mirrored here exactly. ONE definition serves BOTH state-API tiers
    * — that equality is the certification.
    */
  private[graft] def sessionCloseOracle(where: String): String =
    sessionOracle(where,
      """WHERE s.session_id < l.last_id
        |   OR epoch_ms(s.session_end) + 1800000 < wm.wm_ms""".stripMargin)

  /** The COMPLEMENT: sessions still OPEN at stream end (each user's
    * last session whose timeout the final watermark never reached) —
    * what the state store must still hold, never emitted.
    */
  private[graft] def sessionOpenTailOracle(where: String): String =
    sessionOracle(where,
      """WHERE s.session_id = l.last_id
        |  AND epoch_ms(s.session_end) + 1800000 >= wm.wm_ms""".stripMargin)

  private def sessionOracle(where: String, finalPredicate: String): String =
    s"""WITH base AS (SELECT user_id, ts, value FROM events $where),
      |marked AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, session_id, min(ts) AS session_start,
      |         max(ts) AS session_end, count(*) AS n_events,
      |         floor(sum(value) * 100 + 0.5) / 100 AS sum_value
      |  FROM numbered GROUP BY user_id, session_id),
      |lastsess AS (
      |  SELECT user_id, max(session_id) AS last_id FROM sess GROUP BY 1),
      |wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM base)
      |SELECT s.session_start, s.user_id, s.n_events, s.sum_value
      |FROM sess s JOIN lastsess l ON s.user_id = l.user_id, wm
      |$finalPredicate""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "events_session_timeout_stream" -> sessionCloseOracle(""),
    "events_session_tws_stream" -> sessionCloseOracle(""),
    // restart must reproduce the SINGLE-RUN session answer over the
    // whole (u150) stream — possible only if open-session state AND
    // registered timers were restored from the checkpoint
    "events_session_restart_tws" -> sessionCloseOracle("WHERE user_id < 150"),
    // identical to events_windowed restricted to the bench-cost prefix
    // — recovery under RocksDB is only certified if the restarted run
    // reproduces the batch aggregation, restored state included
    "events_restart_rocksdb" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events WHERE user_id < 150 GROUP BY 1, 2""".stripMargin,
    // matched pairs = the batch left-join's matches; null emissions =
    // lefts with no partner whose eviction the final watermark reached:
    // the engine evicts a buffered left when the (ms-floored, µs-scaled)
    // watermark passes left.ts + interval — mirrored exactly
    "events_correlated_outer_stream" ->
      """WITH l AS (SELECT * FROM events WHERE user_id < 150),
        |r AS (SELECT * FROM l WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT (epoch_ms(LEAST((SELECT max(ts) FROM l),
        |                         (SELECT max(ts) FROM r))) - 60000) * 1000
        |           AS wm_us),
        |pairs AS (
        |  SELECT l.event_type AS type_left, r.event_type AS type_right
        |  FROM l JOIN r
        |    ON l.user_id = r.user_id
        |   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE),
        |unmatched AS (
        |  SELECT l.event_type AS type_left, '__unmatched' AS type_right
        |  FROM l, wm
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM r
        |    WHERE r.user_id = l.user_id
        |      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE)
        |    AND epoch_us(l.ts) + 600000000 < wm.wm_us)
        |SELECT type_left, type_right, count(*) AS n_pairs
        |FROM (SELECT * FROM pairs UNION ALL SELECT * FROM unmatched)
        |GROUP BY 1, 2""".stripMargin,
    // the displaced subset per window IS the expected drop count; the
    // finalization cutoff mirrors events_windowed_stream_append's rule
    // (windows within lateness of stream end are never emitted, hence
    // never audited — displaced windows all sit in the first quarter,
    // far inside the cutoff)
    "events_late_audit" ->
      """WITH b AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
        |late AS (
        |  SELECT e.* FROM events e, b
        |  WHERE e.event_id % 50 = 0
        |    AND epoch_us(e.ts) < epoch_us(b.mn)
        |          + (epoch_us(b.mx) - epoch_us(b.mn)) // 4)
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       event_type, count(*) AS n_dropped
        |FROM late, b
        |GROUP BY 1, 2, b.mx
        |HAVING window_start + INTERVAL 1 HOUR <= b.mx - INTERVAL 1 HOUR"""
        .stripMargin,
    // distinct-then-aggregate with the append finalization cutoff —
    // the watermark rides the hour-truncated event time with a 2 h
    // delay, so the cutoff is date_trunc(hour, max ts) − 2 h
    "events_dedup_windowed_stream" ->
      """WITH m AS (
        |  SELECT date_trunc('hour', max(ts)) - INTERVAL 2 HOUR AS wm FROM events),
        |dd AS (SELECT DISTINCT user_id, event_type,
        |              time_bucket(INTERVAL '1 hour', ts) AS window_start
        |       FROM events)
        |SELECT window_start, event_type, count(*) AS n_users
        |FROM dd, m
        |GROUP BY 1, 2, m.wm
        |HAVING window_start + INTERVAL 1 HOUR <= m.wm""".stripMargin,
    // the perturbed target is a subset of the source within each
    // (dt, hr) cell, so multiset equality <=> equal counts — the same
    // shortcut as integrity_by_partition, now over two partition levels.
    // LEFT JOIN (not inner): a cell whose rows are ALL removed by the
    // perturbation still appears in Fingerprint.compare's output with
    // tgt_cnt NULL / consistent false — mirror that instead of silently
    // shrinking the compared set if the fixture ever yields such a cell.
    "integrity_multilevel" ->
      """WITH src AS (
        |  SELECT CAST(ts AS DATE) AS dt, hour(ts) AS hr, count(*) AS src_cnt
        |  FROM events GROUP BY 1, 2),
        |tgt AS (
        |  SELECT CAST(ts AS DATE) AS dt, hour(ts) AS hr, count(*) AS tgt_cnt
        |  FROM events
        |  WHERE NOT (event_type = 'error' AND event_id % 13 = 0)
        |  GROUP BY 1, 2)
        |SELECT s.dt, s.hr, s.src_cnt, t.tgt_cnt,
        |       COALESCE(s.src_cnt = t.tgt_cnt, FALSE) AS consistent
        |FROM src s LEFT JOIN tgt t ON s.dt = t.dt AND s.hr = t.hr""".stripMargin
  )
}
