package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-log operators over the `events` table: JSON extraction, tumbling
  * windows, as-of joins, sessionization, stateful dedup — the batch forms
  * of the streaming inventory (SURVEY.md §2.6). Streaming equivalents live
  * in graft.streaming.StreamOps.
  *
  * Time base: `ts_us` = microseconds since epoch (see Tables.events — the
  * source is nanosecond parquet, floored to µs to match DuckDB's read).
  * All window math is integer arithmetic, so results are hash-exact.
  */
object EventOps {
  // ---------------------------------------------------------------- q24
  /** JSON path extraction over the props column + aggregate. */
  val q24Json: Q = (spark, dir) =>
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
        max(get_json_object(col("props"), "$.k").cast("long")).as("k_max"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q24Oracle: String =
    """SELECT event_type,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
      | count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Tumbling 5-minute window aggregate (batch form; integer bucket math
    * so it shuffles once on (bucket, type) and scales linearly). */
  val q25TumblingWindow: Q = (spark, dir) =>
    Tables(spark, dir, "events")
      .withColumn("window_start", (expr("ts DIV 300000000000") * 300).cast("long"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .orderBy(col("window_start"), col("event_type"))

  val q25Oracle: String =
    """SELECT (epoch_ns(ts)//300000000000)*300 AS window_start, event_type,
      | count(*) AS n, round(sum(value),2) AS v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q26
  /** As-of join: each purchase matched to the user's most recent signup at
    * or before it (tie rule: a same-microsecond signup counts — the frame
    * is rangeBetween on ts_us, so all peers of the purchase's timestamp are
    * in scope regardless of event_id; the oracle mirrors this with a
    * µs-floored <= comparison). Implemented as the scalable union+window
    * pattern — one shuffle on user_id, no per-row subquery, no skew-prone
    * self-join. */
  val q26AsOfJoin: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("signup_ts",
        when(col("event_type") === "signup", col("ts_us")))
      .withColumn("last_signup_us", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("last_signup_us"))
      .orderBy(col("event_id"))
  }

  val q26Oracle: String =
    """SELECT p.event_id, p.user_id, epoch_ns(p.ts)//1000 AS ts_us,
      | (SELECT max(epoch_ns(s.ts)//1000) FROM events s
      |   WHERE s.user_id = p.user_id AND s.event_type = 'signup'
      |     AND epoch_ns(s.ts)//1000 <= epoch_ns(p.ts)//1000) AS last_signup_us
      |FROM events p WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Sessionization (30-minute inactivity gap): lag + conditional sum —
    * the classic single-shuffle batch sessionizer. */
  val q27Sessionize: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 1800L * 1000000L, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q27Oracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us FROM events),
      |g AS (SELECT user_id,
      |  CASE WHEN lag(ts_us) OVER w IS NULL
      |         OR ts_us - lag(ts_us) OVER w > 1800000000
      |       THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      | count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Keyed dedup: keep the earliest event per (user, type) — batch form of
    * dropDuplicatesWithinWatermark. */
  val q28EventDedup: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q28Oracle: String =
    """SELECT user_id, event_type, event_id, epoch_ns(ts)//1000 AS ts_us
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |   ORDER BY epoch_ns(ts)//1000, event_id) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q42
  /** E13 streaming end-to-end through the real streaming engine: the
    * events file read via readStream, watermarked 5-minute tumbling
    * windows (StreamOps.tumblingCounts), append-mode memory sink run to
    * completion. Append mode emits only FINALIZED windows — those whose
    * end is at or below the final watermark (max event time − 10 min);
    * the oracle applies the same finalization predicate to the batch
    * aggregation. */
  val q42StreamTumbling: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q42").name("q42_mem")
    val res = StreamOps.runToMemory(spark,
      StreamOps.tumblingCounts(StreamOps.readEvents(spark, dir)), name)
    res.select(
        unix_timestamp(col("window_start")).as("window_start"),
        col("event_type"), col("n"), round(col("v"), 2).as("v"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val q42Oracle: String =
    """WITH e AS (SELECT epoch_ns(ts) AS ns, event_type, value FROM events),
      |m AS (SELECT max(ns) AS mx FROM e),
      |w AS (SELECT (ns // 300000000000) * 300 AS window_start, event_type,
      |        count(*) AS n, round(sum(value), 2) AS v
      |      FROM e GROUP BY 1, 2)
      |SELECT window_start, event_type, n, v FROM w, m
      |WHERE (window_start + 300) * 1000000000 <= mx - 600000000000
      |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q45
  /** E13 streaming sessionization end-to-end: 30-minute-gap session
    * windows with a 30-minute watermark, append-mode — only sessions
    * CLOSED by the final watermark emit (session end + gap at or below
    * max event time − 30 min); the oracle applies identical gap/
    * finalization logic to batch sessionization at µs precision. */
  val q45StreamSession: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q45").name("q45_mem")
    StreamOps.runToMemory(spark,
      StreamOps.sessionWindows(StreamOps.readEvents(spark, dir)), name)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val q45Oracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS us FROM events),
      |m AS (SELECT max(us) AS mx FROM e),
      |g AS (SELECT user_id, us,
      |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
      |       THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM g),
      |agg AS (SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us,
      |  count(*) AS n_events FROM s GROUP BY user_id, sess)
      |SELECT user_id, start_us // 1000000 AS session_start, n_events
      |FROM agg, m
      |WHERE end_us + 1800000000 <= mx - 1800000000
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q46
  /** E13 streaming sliding windows (10-minute window / 5-minute slide,
    * 10-minute watermark) per user, append mode — each event lands in two
    * overlapping windows; only windows finalized by the closing watermark
    * emit. The oracle expands each event into its two window starts and
    * applies the same finalization predicate. */
  val q46StreamSliding: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q46").name("q46_mem")
    StreamOps.runToMemory(spark,
      StreamOps.slidingCounts(StreamOps.readEvents(spark, dir)), name)
      .select(unix_timestamp(col("window_start")).as("window_start"),
        col("user_id"), col("n"))
      .orderBy(col("window_start"), col("user_id"))
  }

  val q46Oracle: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS us FROM events),
      |m AS (SELECT max(us) AS mx FROM e),
      |w AS (SELECT user_id, (us // 300000000) * 300 - k.k AS ws
      |      FROM e, (VALUES (0), (300)) k(k)),
      |agg AS (SELECT ws, user_id, count(*) AS n FROM w GROUP BY ws, user_id)
      |SELECT ws AS window_start, user_id, n FROM agg, m
      |WHERE (ws + 600) * 1000000 <= mx - 600000000
      |ORDER BY window_start, user_id""".stripMargin

  // ---------------------------------------------------------------- q47
  /** E13 streaming stateful dedup end-to-end: dropDuplicatesWithinWatermark
    * on (user_id, event_type, 10-minute bucket) with a 1-hour watermark
    * through the real streaming engine. Dedup emits rows as they are
    * first seen (append mode, no window finalization), so every distinct
    * key appears exactly once; the oracle is the same distinct projection
    * at µs precision. */
  val q47StreamDedup: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q47").name("q47_mem")
    StreamOps.runToMemory(spark,
      StreamOps.dedupKeysWithinWatermark(StreamOps.readEvents(spark, dir)),
      name)
      .select(col("user_id"), col("event_type"), col("bucket_start"))
      .orderBy(col("user_id"), col("event_type"), col("bucket_start"))
  }

  val q47Oracle: String =
    """SELECT DISTINCT user_id, event_type,
      | ((epoch_ns(ts) // 1000000000) // 600) * 600 AS bucket_start
      |FROM events
      |ORDER BY user_id, event_type, bucket_start""".stripMargin

  // ---------------------------------------------------------------- q56
  /** E13 stream-stream interval join end-to-end: clicks joined to the
    * same user's purchases within the following 10 minutes, both sides
    * watermarked so join state is evictable (StreamOps.clickPurchaseJoin).
    * Inner stream-stream joins emit on match arrival — no window
    * finalization — so the drained result equals the batch interval join,
    * which the oracle runs directly at µs precision. */
  val q56StreamJoin: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q56").name("q56_mem")
    StreamOps.runToMemory(spark,
      StreamOps.clickPurchaseJoin(StreamOps.readEvents(spark, dir)), name)
      .select(col("user_id"), col("click_id"), col("purch_id"),
        col("delay_s"), col("amount"))
      .orderBy(col("user_id"), col("click_id"), col("purch_id"))
  }

  val q56Oracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |  epoch_ns(ts)//1000 AS us FROM events),
      |c AS (SELECT event_id AS click_id, user_id, us AS c_us FROM e
      |      WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purch_id, user_id, us AS p_us, value FROM e
      |      WHERE event_type = 'purchase')
      |SELECT user_id, click_id, purch_id,
      | p_us//1000000 - c_us//1000000 AS delay_s,
      | value AS amount
      |FROM c JOIN p USING (user_id)
      |WHERE p_us >= c_us AND p_us <= c_us + 600000000
      |ORDER BY user_id, click_id, purch_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** E13 custom stateful streaming via flatMapGroupsWithState: the
    * per-user signup→purchase conversion funnel
    * (StreamOps.conversionFunnel) drained through the real streaming
    * engine. The oracle computes the same funnel relationally: first
    * signup per user, then count/cents-sum of purchases at-or-after it
    * (int64 cents — exact, order-independent). */
  val q58FunnelState: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q58").name("q58_mem")
    StreamOps.runToMemory(spark,
      StreamOps.conversionFunnel(spark, StreamOps.readEvents(spark, dir)),
      name)
      .select(col("user_id"), col("signup_us"), col("n_purch"), col("cents"))
      .orderBy(col("user_id"))
  }

  val q58Oracle: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |  epoch_ns(ts)//1000 AS us FROM events),
      |s AS (SELECT user_id, min(us) AS signup_us FROM e
      |      WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (SELECT user_id, us, CAST(floor(value*100) AS BIGINT) AS c
      |      FROM e WHERE event_type = 'purchase')
      |SELECT s.user_id, s.signup_us,
      | CAST(count(p.us) AS BIGINT) AS n_purch,
      | CAST(coalesce(sum(p.c), 0) AS BIGINT) AS cents
      |FROM s LEFT JOIN p ON p.user_id = s.user_id AND p.us >= s.signup_us
      |GROUP BY s.user_id, s.signup_us
      |ORDER BY s.user_id""".stripMargin

  // ---------------------------------------------------------------- q67
  /** The q58 funnel re-expressed on Spark 4's `transformWithState`
    * (StatefulProcessor + ValueState over RocksDB column-family state —
    * the modern arbitrary-state API). Same oracle as q58: the two state
    * APIs must agree bit-for-bit. */
  val q67FunnelTws: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q67").name("q67_mem")
    StreamOps.runToMemory(spark,
      StreamOps.funnelTws(spark, StreamOps.readEvents(spark, dir)),
      name, stateStoreProvider = Some(StreamOps.RocksDBProvider))
      .select(col("user_id"), col("signup_us"), col("n_purch"), col("cents"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- q150
  /** Per-user event-type counters through `transformWithState`
    * MAPSTATE — completes the arbitrary-state primitive surface
    * (ValueState q67, event-time timers q132, MapState here): each
    * user's per-type counts live as individual RocksDB map entries, so
    * one type's counter updates without rewriting the user's whole
    * state. A drain-once run emits each user's rollup exactly once,
    * which must equal the batch groupBy — the oracle. */
  val q150TwsMapState: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q150").name("q150_mem")
    StreamOps.runToMemory(spark,
      StreamOps.typeCountsTws(spark, StreamOps.readEvents(spark, dir)),
      name, stateStoreProvider = Some(StreamOps.RocksDBProvider))
      .select(col("user_id"), col("n_types"), col("n_events"),
        col("top_type"), col("top_cnt"))
      .orderBy(col("user_id"))
  }

  val q150Oracle: String =
    """WITH c AS (SELECT user_id, event_type,
      |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY n DESC, event_type) AS rn,
      |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_types,
      |  CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      |  FROM c)
      |SELECT user_id, n_types, n_events, event_type AS top_type,
      | n AS top_cnt
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Per-user recent-activity feed through `transformWithState`
    * LISTSTATE — the last arbitrary-state primitive (ValueState q67,
    * timers q132, MapState q150): events append to a per-user list in
    * O(1), the state trims to the 3 most recent by (ts, event_id), and
    * a drain-once run's rollup equals the batch top-3 window — the
    * oracle. */
  val q152TwsListState: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q152").name("q152_mem")
    StreamOps.runToMemory(spark,
      StreamOps.recentListTws(spark, StreamOps.readEvents(spark, dir)),
      name, stateStoreProvider = Some(StreamOps.RocksDBProvider))
      .select(col("user_id"), col("n_seen"), col("recent_ids"))
      .orderBy(col("user_id"))
  }

  val q152Oracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts_us DESC, event_id DESC) AS rn,
      |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_seen
      |  FROM e)
      |SELECT user_id, n_seen,
      | string_agg(CAST(event_id AS VARCHAR), ','
      |   ORDER BY ts_us, event_id) AS recent_ids
      |FROM r WHERE rn <= 3
      |GROUP BY user_id, n_seen ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** CDC-style upsert merge: a latest-state SNAPSHOT (events before the
    * corpus-midpoint cutoff, reduced to one row per (user, type)) has a
    * DELTA batch (events after the cutoff) applied over it — the
    * last-write-wins apply step every incremental ingestion pipeline
    * runs. The merge itself is the full-outer-join + coalesce form (the
    * MERGE INTO shape); the oracle computes the same result through the
    * union-argmax formulation, so the hash gate proves the two
    * formulations equivalent.
    *
    * Scale shape: both sides reduce via a row_number window partitioned
    * on exactly the merge key before the join, so the two windows and
    * the full-outer join line up on one hash partitioning; a real
    * incremental run has |delta| ≪ |snapshot| and broadcasts the delta. */
  val q80UpsertMerge: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"))
    // cutoff at 90% of the time range: the delta is a thin recent slice,
    // so some keys update ('delta') and others survive untouched
    // ('snap') — both merge branches carry rows
    val cut = broadcast(e.agg(
      expr("min(ts_us) + ((max(ts_us) - min(ts_us)) * 9) DIV 10")
        .as("cut")))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    def latest(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn", "cut")
    val snap = latest(e.crossJoin(cut).filter(col("ts_us") < col("cut")))
      .withColumnRenamed("event_id", "snap_id")
      .withColumnRenamed("ts_us", "snap_us")
    val delta = latest(e.crossJoin(cut).filter(col("ts_us") >= col("cut")))
      .withColumnRenamed("event_id", "delta_id")
      .withColumnRenamed("ts_us", "delta_us")
    snap.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        when(col("delta_id").isNotNull, lit("delta")).otherwise(lit("snap"))
          .as("src"),
        coalesce(col("delta_id"), col("snap_id")).as("event_id"),
        coalesce(col("delta_us"), col("snap_us")).as("ts_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q80Oracle: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |    epoch_ns(ts)//1000 AS us FROM events),
      |c AS (SELECT min(us) + ((max(us) - min(us)) * 9) // 10 AS cut FROM e),
      |r AS (SELECT user_id, event_type, event_id, us,
      |    us >= cut AS is_delta,
      |    row_number() OVER (PARTITION BY user_id, event_type, us >= cut
      |      ORDER BY us DESC, event_id DESC) AS rn
      |  FROM e, c),
      |l AS (SELECT * FROM r WHERE rn = 1),
      |m AS (SELECT user_id, event_type, event_id, us, is_delta,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY is_delta DESC) AS pick
      |  FROM l)
      |SELECT user_id, event_type,
      | CASE WHEN is_delta THEN 'delta' ELSE 'snap' END AS src,
      | event_id, CAST(us AS BIGINT) AS ts_us
      |FROM m WHERE pick = 1 ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q87
  /** E13 LEFT-OUTER stream-stream interval join end-to-end: q56's
    * attribution join, but clicks with NO purchase in their 10-minute
    * window also emit (NULL purchase columns) — the shape that feeds
    * "un-attributed click" downstream consumers without a second pass.
    * Outer rows are produced by state eviction: only once the watermark
    * passes a click's whole match window can the engine prove no match
    * is coming, so clicks still inside their window at drain time never
    * finalize. The oracle reproduces both row classes: the batch
    * interval join, plus unmatched clicks whose window end precedes the
    * final GLOBAL watermark. Two pins the oracle must reproduce: (1)
    * each withWatermark node tracks its own max event time, and the
    * global watermark is the MIN across nodes — here min(max click ts,
    * max purchase ts) − 10 min, NOT the corpus max; (2) Spark tracks
    * event-time maxima at MILLISECOND precision, so the oracle floors
    * to ms before subtracting the delay. Either detail wrong is
    * one-boundary-row off at scale. */
  val q87StreamOuterJoin: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q87").name("q87_mem")
    StreamOps.runToMemory(spark,
      StreamOps.clickPurchaseLeftJoin(StreamOps.readEvents(spark, dir)), name)
      .select(col("user_id"), col("click_id"), col("click_s"),
        col("purch_id"), col("delay_s"), col("amount"))
      .orderBy(col("user_id"), col("click_id"), col("purch_id"))
  }

  val q87Oracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      |  epoch_ns(ts)//1000 AS us FROM events),
      |m AS (SELECT least(
      |        max(CASE WHEN event_type = 'click' THEN us END),
      |        max(CASE WHEN event_type = 'purchase' THEN us END))
      |      AS mn FROM e),
      |c AS (SELECT event_id AS click_id, user_id, us AS c_us FROM e
      |      WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purch_id, user_id, us AS p_us, value FROM e
      |      WHERE event_type = 'purchase'),
      |j AS (SELECT user_id, click_id, c_us, purch_id, p_us, value
      |      FROM c JOIN p USING (user_id)
      |      WHERE p_us >= c_us AND p_us <= c_us + 600000000),
      |um AS (SELECT c.user_id, c.click_id, c.c_us FROM c, m
      |      WHERE NOT EXISTS (SELECT 1 FROM p
      |        WHERE p.user_id = c.user_id AND p.p_us >= c.c_us
      |          AND p.p_us <= c.c_us + 600000000)
      |        AND c.c_us + 600000000 < (mn//1000 - 600000) * 1000)
      |SELECT user_id, click_id, c_us//1000000 AS click_s, purch_id,
      | p_us//1000000 - c_us//1000000 AS delay_s, value AS amount FROM j
      |UNION ALL
      |SELECT user_id, click_id, c_us//1000000, NULL, NULL, NULL FROM um
      |ORDER BY user_id, click_id, purch_id""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Time-series regularization: each user's event stream re-sampled
    * onto a dense hourly grid — empty hours materialize with n = 0 and
    * the last observed reading FORWARD-FILLED into them (the gap-fill +
    * LOCF step that precedes any windowed feature computation or
    * model-ready export of irregular telemetry). Per-hour "last" is the
    * max of a (ts, event_id, value) struct — deterministic under any
    * partial-agg order, never a last() over an unordered aggregate.
    *
    * Scale shape: one (user, hour) aggregate, a per-user
    * sequence+explode for the grid (row expansion local to each user's
    * span — no extra shuffle), and the forward-fill window rides the
    * same user partitioning the join already established. Bounded to
    * users < 12 to keep the harness output stable; the plan is
    * corpus-size-agnostic. */
  val q89GapFill: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("user_id") < 12)
      .select(col("user_id"),
        expr("ts DIV 3600000000000").cast("long").as("b"),
        col("ts_us"), col("event_id"), col("value"))
    val base = e.groupBy(col("user_id"), col("b"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("v"))
    val sp = base.groupBy(col("user_id"))
      .agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
    val grid = sp.select(col("user_id"),
      explode(sequence(col("b0"), col("b1"))).as("b"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(base, Seq("user_id", "b"), "left")
      .select(col("user_id"),
        (col("b") * 3600).cast("long").as("bucket_start"),
        coalesce(col("n"), lit(0L)).cast("long").as("n"),
        last(col("v"), ignoreNulls = true).over(w).as("v_ff"))
      .orderBy(col("user_id"), col("bucket_start"))
  }

  val q89Oracle: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS b,
      |    epoch_ns(ts)//1000 AS us, event_id, value FROM events
      |  WHERE user_id < 12),
      |r AS (SELECT user_id, b, value,
      |    count(*) OVER (PARTITION BY user_id, b) AS n,
      |    row_number() OVER (PARTITION BY user_id, b
      |      ORDER BY us DESC, event_id DESC) AS rn FROM e),
      |base AS (SELECT user_id, b, n, value AS v FROM r WHERE rn = 1),
      |sp AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM base
      |  GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM sp),
      |j AS (SELECT g.user_id, g.b, base.n, base.v FROM grid g
      |  LEFT JOIN base ON base.user_id = g.user_id AND base.b = g.b)
      |SELECT user_id, CAST(b * 3600 AS BIGINT) AS bucket_start,
      | CAST(coalesce(n, 0) AS BIGINT) AS n,
      | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff
      |FROM j ORDER BY user_id, bucket_start""".stripMargin

  // ---------------------------------------------------------------- q86
  /** PII-style redaction pass: numeric identifiers in the raw event
    * payload are replaced with a `<NUM>` placeholder before the payloads
    * could be shared or enter a training corpus — the scrub step every
    * privacy-conscious data pipeline runs (here digit runs stand in for
    * the id/phone/account patterns of real payloads; the regex slot is
    * the same). Map-only per row (codegen'd `regexp_count` /
    * `regexp_replace`), then one aggregate audits the pass per event
    * type: events touched, spans redacted, distinct payload SHAPES after
    * scrubbing (the cardinality collapse is the point of the pass), and
    * a length fingerprint of the scrubbed text so the oracle hash-checks
    * the actual replacement output, not just the counts. */
  val q86PiiScrub: Q = (spark, dir) => {
    val scrubbed = regexp_replace(col("props"), "[0-9]+", "<NUM>")
    Tables(spark, dir, "events")
      .select(col("event_type"),
        regexp_count(col("props"), lit("[0-9]+")).cast("long").as("hits"),
        scrubbed.as("scrub"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("hits")).as("n_redacted"),
        countDistinct(col("scrub")).as("n_shapes"),
        sum(length(col("scrub"))).cast("long").as("sum_len"))
      .orderBy(col("event_type"))
  }

  val q86Oracle: String =
    """SELECT event_type, count(*) AS n_events,
      | CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
      |   AS n_redacted,
      | CAST(count(DISTINCT regexp_replace(props, '[0-9]+', '<NUM>', 'g'))
      |   AS BIGINT) AS n_shapes,
      | CAST(sum(length(regexp_replace(props, '[0-9]+', '<NUM>', 'g')))
      |   AS BIGINT) AS sum_len
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Cohort retention — the signup-week × week-offset activity matrix
    * every growth/engagement dashboard is built on: users bucketed by
    * their FIRST active week (the cohort), then counted once per later
    * week they return.
    *
    * Scale shape: ONE shuffle on user_id does all the per-user work —
    * `groupBy(user).agg(min(wk), collect_set(wk))` computes the cohort
    * and the distinct active weeks together (collect_set is partial-
    * aggregatable and bounded by the corpus' week span, not event
    * count); the explode then feeds the (cohort, offset) rollup where
    * `count(*)` suffices — (user, offset) is unique by construction, so
    * no countDistinct re-shuffle of user ids. The naive form (distinct +
    * window-min + self-join + countDistinct) shuffles the user space
    * three times; this shuffles it once. Weeks are pure integer
    * epoch-week buckets (ts DIV 7-days-of-nanos) — engine-agnostic. */
  val q98CohortRetention: Q = (spark, dir) => {
    val wkNanos = 7L * 86400L * 1000000000L
    Tables(spark, dir, "events")
      .select(col("user_id"), expr(s"ts DIV $wkNanos").as("wk"))
      .groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"), collect_set(col("wk")).as("wks"))
      .select(col("cohort_wk"), explode(col("wks")).as("wk"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk"), col("offset_wk"))
  }

  val q98Oracle: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts)//604800000000000 AS wk FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY 1)
      |SELECT cohort_wk, wk - cohort_wk AS offset_wk,
      | CAST(count(*) AS BIGINT) AS n_users
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q100
  /** SCD2 (slowly-changing-dimension) enrichment — the warehouse shape
    * the plain as-of join (q26) approximates: the dimension's history is
    * materialized ONCE as validity intervals ([valid_from, valid_to),
    * open-ended current row) via one lead() window, then facts join on
    * key + point-in-interval. vs the as-of form, the interval table is
    * reusable across fact tables and carries explicit change audit.
    * Here: each signup event opens a new per-user "tier" version (its
    * value), purchases enrich with the tier in force at their timestamp;
    * pre-signup purchases survive null-extended (left join).
    *
    * Scale shape: the interval build is one window over the (small)
    * dimension-change stream; the join is an equi-join on user_id with
    * the range as a join filter — it shuffles on the key like any SMJ,
    * never a cross product, and each fact matches at most one interval
    * (intervals are disjoint by construction, equal-timestamp changes
    * tie-break by event_id into an empty interval). Microsecond
    * timestamps (the engine-parity time base — see the file header). */
  val q100Scd2Join: Q = (spark, dir) => {
    val ev = Tables(spark, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val dim = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("t"), col("value").as("tier"))
      .withColumn("valid_to", lead(col("t"), 1).over(w))
      .select(col("user_id").as("d_user"), col("tier"),
        col("t").as("valid_from"), col("valid_to"))
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"), col("value").as("amount"))
      .join(dim, col("user_id") === col("d_user") &&
        col("ts_us") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts_us") < col("valid_to")), "left")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("amount"), col("tier"))
      .orderBy(col("event_id"))
  }

  val q100Oracle: String =
    """WITH s AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS t,
      |    value AS tier FROM events WHERE event_type = 'signup'),
      |d AS (SELECT user_id, tier, t AS valid_from,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |      AS valid_to FROM s),
      |p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us,
      |    value AS amount FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts_us, p.amount, d.tier
      |FROM p LEFT JOIN d ON d.user_id = p.user_id
      |  AND p.ts_us >= d.valid_from
      |  AND (d.valid_to IS NULL OR p.ts_us < d.valid_to)
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q117
  /** E13 stream-static enrichment join end-to-end: the event stream
    * broadcast-joined to the static customer dimension (user → market
    * segment), then 5-minute tumbling counts per segment under a
    * 10-minute watermark — the standard "enrich the firehose against
    * the warehouse" topology. The static side adds no stream state and
    * no shuffle (map-side broadcast probe per micro-batch); window
    * finalization is identical to q42's, so the oracle applies q42's
    * watermark cutoff to the joined batch equivalent. */
  val q117StreamStatic: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q117").name("q117_mem")
    val res = StreamOps.runToMemory(spark,
      StreamOps.staticEnrichedCounts(StreamOps.readEvents(spark, dir),
        graft.Tables(spark, dir, "customer")), name)
    res.select(
        unix_timestamp(col("window_start")).as("window_start"),
        col("c_mktsegment"), col("n"), round(col("v"), 2).as("v"))
      .orderBy(col("window_start"), col("c_mktsegment"))
  }

  val q117Oracle: String =
    """WITH e AS (SELECT epoch_ns(ts) AS ns, user_id, value FROM events),
      |m AS (SELECT max(ns) AS mx FROM e),
      |j AS (SELECT (ns // 300000000000) * 300 AS window_start,
      |        c_mktsegment, count(*) AS n, round(sum(value), 2) AS v
      |      FROM e JOIN customer ON c_custkey = user_id GROUP BY 1, 2)
      |SELECT window_start, c_mktsegment, n, v FROM j, m
      |WHERE (window_start + 300) * 1000000000 <= mx - 600000000000
      |ORDER BY window_start, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Trailing-window spike detection — the ops-monitoring staple: bucket
    * the stream into 10-minute counts per event type, then flag any
    * bucket whose count exceeds 2× the mean of its previous four
    * observations. The comparison is an integer cross-multiply
    * (2·n > Σprev4 ⟺ n > 2·(Σprev4/4)) — no float mean, engine-exact.
    * The ROWS frame is over OBSERVATIONS (gaps don't widen the
    * baseline), and only buckets with a full 4-observation history
    * emit.
    *
    * Scale shape: the bucket aggregate reduces the stream to
    * |types|·|buckets| rows in one map-side-combinable shuffle; the
    * trailing window runs on that aggregate, so detection costs nothing
    * beyond the count at any event volume. */
  val q119SpikeDetect: Q = (spark, dir) => {
    val b = Tables(spark, dir, "events")
      .withColumn("bucket_start",
        (expr("ts DIV 600000000000") * 600).cast("long"))
      .groupBy(col("event_type"), col("bucket_start"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("bucket_start")).rowsBetween(-4, -1)
    b.withColumn("prev4", sum(col("n")).over(w))
      .withColumn("nprev", count(col("n")).over(w))
      .filter(col("nprev") === 4)
      .select(col("event_type"), col("bucket_start"), col("n"),
        col("prev4"), (col("n") * 2 > col("prev4")).as("spike"))
      .orderBy(col("event_type"), col("bucket_start"))
  }

  val q119Oracle: String =
    """WITH b AS (SELECT event_type,
      |    (epoch_ns(ts) // 600000000000) * 600 AS bucket_start,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT *, CAST(sum(n) OVER w AS BIGINT) AS prev4,
      |    count(n) OVER w AS nprev FROM b
      |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start
      |    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, bucket_start, n, prev4, n * 2 > prev4 AS spike
      |FROM t WHERE nprev = 4 ORDER BY event_type, bucket_start""".stripMargin

  // ---------------------------------------------------------------- q123
  /** The NATIVE as-of join (graft.plans.AsOfJoin: custom logical node →
    * planner strategy → physical merge operator, injected via
    * SparkSessionExtensions) on q26's exact semantics, as a genuine
    * TWO-TABLE enrichment: purchases as-of-joined to signups on
    * user_id. Each side shuffles once on its own key, sorts (key, time)
    * — both requirements declared to Catalyst, so pre-bucketed tables
    * would satisfy them exchange-free — and the merge holds O(1) state
    * per co-partition. Same oracle family as q26, restated two-table;
    * OpsSpec additionally pins row-for-row agreement with q26's
    * union+window form and the AsOfJoinExec node in the plan. */
  val q123NativeAsOf: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_us").as("s_ts"))
    graft.plans.AsOfJoin(purchases, signups,
        "user_id", "ts_us", "s_user", "s_ts")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("s_ts").as("last_signup_us"))
      .orderBy(col("event_id"))
  }

  val q123Oracle: String =
    """WITH p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us
      |  FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us FROM events
      |  WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id, p.ts_us,
      | (SELECT max(s.ts_us) FROM s
      |   WHERE s.user_id = p.user_id AND s.ts_us <= p.ts_us)
      |   AS last_signup_us
      |FROM p ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q125
  /** q123's native as-of join with a TOLERANCE bound (pandas
    * merge_asof's staleness window; kdb wj's interval): a signup only
    * enriches a purchase made within 7 days of it — older matches are
    * key hits but freshness misses and null-extend. Same declared
    * distribution/ordering, same O(1) merge state (the bound is one
    * comparison at emit time, not a bigger buffer), so the scale story
    * is unchanged; the oracle adds the window predicate to the
    * correlated max. */
  val q125AsOfTolerance: Q = (spark, dir) => {
    val tolUs = 7L * 86400L * 1000000L
    val e = Tables(spark, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_us").as("s_ts"))
    graft.plans.AsOfJoin(purchases, signups,
        "user_id", "ts_us", "s_user", "s_ts", Some(tolUs))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("s_ts").as("recent_signup_us"))
      .orderBy(col("event_id"))
  }

  val q125Oracle: String =
    """WITH p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us
      |  FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us FROM events
      |  WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id, p.ts_us,
      | (SELECT max(s.ts_us) FROM s
      |   WHERE s.user_id = p.user_id AND s.ts_us <= p.ts_us
      |     AND p.ts_us - s.ts_us <= 604800000000)
      |   AS recent_signup_us
      |FROM p ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q129
  /** Rolling median — the robust trailing-window feature (anomaly
    * baselines, sensor smoothing) that plain window aggregates can't
    * express because median isn't partial-aggregatable: the trailing
    * frame (last 4 events per user) is BOUNDED, so the window's
    * collect_list is a fixed-size in-row array and the exact median is
    * one sort + one index pick inside the row — no per-key state
    * beyond the frame, no second shuffle, engine-agnostic (lower
    * median by position, never an average of two). The frame rides
    * the same user-key exchange every per-user feature shares. */
  val q129RollingMedian: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id")).rowsBetween(-3, 0)
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("sorted", sort_array(collect_list(col("value")).over(w)))
      .select(col("event_id"), col("user_id"),
        size(col("sorted")).cast("long").as("n_win"),
        element_at(col("sorted"),
          expr("(size(sorted) + 1) div 2").cast("int")).as("roll_med"))
      .orderBy(col("event_id"))
  }

  val q129Oracle: String =
    """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS ts_us,
      |    value FROM events),
      |w AS (SELECT event_id, user_id,
      |    list(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS vals FROM e),
      |s AS (SELECT event_id, user_id, list_sort(vals) AS sv FROM w)
      |SELECT event_id, user_id, CAST(len(sv) AS BIGINT) AS n_win,
      | sv[(len(sv) + 1) // 2] AS roll_med
      |FROM s ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Event-time TIMERS through `transformWithState`
    * (StreamOps.AbandonProcessor): abandoned-funnel detection — users
    * whose signup saw NO purchase within 30 minutes, emitted by timer
    * when the watermark passes the deadline. Timers are the one
    * state-API surface q58/q67 don't exercise, and the only way to
    * detect the ABSENCE of an event in a stream. The oracle restates
    * the detection relationally with the same finalization predicate
    * the engine applies (deadline ≤ final watermark = max event-time
    * ms − 10 min): deadlines the watermark never reaches stay pending
    * — real streaming semantics, not an artifact. */
  val q132FunnelTimeout: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q132").name("q132_mem")
    StreamOps.runToMemory(spark,
      StreamOps.abandonTimeouts(spark, StreamOps.readEvents(spark, dir)),
      name, stateStoreProvider = Some(StreamOps.RocksDBProvider))
      .select(col("user_id"), col("signup_us"), col("deadline_ms"))
      .orderBy(col("user_id"))
  }

  val q132Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS ts_us
      |  FROM events),
      |wm AS (SELECT max(ts_us)//1000 - 600000 AS wm_ms FROM e),
      |su AS (SELECT user_id, min(ts_us) AS signup_us FROM e
      |  WHERE event_type = 'signup' GROUP BY 1),
      |conv AS (SELECT DISTINCT s.user_id FROM su s JOIN e p
      |  ON p.user_id = s.user_id AND p.event_type = 'purchase'
      |  AND p.ts_us >= s.signup_us
      |  AND p.ts_us <= s.signup_us + 1800000000)
      |SELECT s.user_id, s.signup_us,
      | s.signup_us//1000 + 1800000 AS deadline_ms
      |FROM su s, wm
      |WHERE s.user_id NOT IN (SELECT user_id FROM conv)
      |  AND s.signup_us//1000 + 1800000 <= wm_ms
      |ORDER BY s.user_id""".stripMargin

  // ---------------------------------------------------------------- q159
  /** Processing-time timers (StreamOps.IdleFlushProcessor): the
    * idle-key flush — each user's totals accumulate in ValueState and
    * flush when WALL-CLOCK time passes their re-armed deadline with no
    * further events, the one timer mode q132's event-time surface
    * leaves untouched. Driven through the timer-stream MemoryStream
    * harness (StreamOps.runTimerStream): the engine's own wall-clock
    * batches fire the armed timers (a ProcessingTime query never
    * quiesces — that perpetual batch loop IS the mode's semantics),
    * and the drain converges when every input key has flushed, a bound
    * computed from the INPUT. Wall-clock decides only WHEN each key
    * flushes; the flushed totals are pure event data, which is what
    * makes a processing-time operator oracle-checkable at all.
    * Provider-parameterized so the spec can pin RocksDB ≡ HDFS store
    * parity; the declared entry runs RocksDB. */
  def idleFlushCore(spark: SparkSession, dir: String,
      provider: Option[String]): DataFrame = {
    import graft.streaming.StreamOps
    import spark.implicits._
    val name = Scratch(spark, "q159").name("q159_mem")
    // MemoryStream feeds from the driver: the harness's clock driver,
    // not the deployment shape (a real deployment reads kafka and the
    // idle gaps are real time passing)
    val evs = Tables.events(spark, dir)
      .select(col("user_id"), col("value"))
      .as[(Long, Double)].collect()
      .map { case (u, v) => StreamOps.IdleEvent(u, v) }.toSeq
    val nKeys = evs.iterator.map(_.user_id).toSet.size.toLong
    StreamOps.runTimerStream(spark, evs, nKeys,
      (df: org.apache.spark.sql.DataFrame) => StreamOps.idleFlush(spark, df),
      name, stateStoreProvider = provider)
      .select(col("user_id"), col("n_events"), col("cents"))
      .orderBy(col("user_id"))
  }

  val q159IdleFlush: Q = (spark, dir) =>
    idleFlushCore(spark, dir, Some(graft.streaming.StreamOps.RocksDBProvider))

  val q159Oracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q160
  /** Mid-January cutover instant (epoch ns): history before it is the
    * batch side, events at/after it are the stream side. */
  private val BootCutoverNs = 1705363200000000000L

  /** State bootstrap (StreamOps.BootstrapProcessor): the
    * lambda-architecture cutover — per-user totals over the
    * PRE-cutover history are computed in batch and seeded into the
    * stream's ValueState via `handleInitialState`; the POST-cutover
    * stream folds on top. Output: every user the stream touches, with
    * totals spanning history + stream — which the oracle states as the
    * plain batch aggregate over ALL events restricted to users active
    * after the cutover, so the hash gate proves the cutover loses and
    * double-counts nothing (the migration-correctness claim). */
  val q160StateBootstrap: Q = (spark, dir) => {
    import graft.streaming.StreamOps
    val name = Scratch(spark, "q160").name("q160_mem")
    val initial = Tables.events(spark, dir)
      .filter(col("ts") < BootCutoverNs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(value*100) AS BIGINT)")).as("cents"))
    val stream = StreamOps.readEvents(spark, dir)
      .filter(col("ts") >= BootCutoverNs)
      .select(col("user_id"), col("value"))
    StreamOps.runToMemory(spark,
      StreamOps.bootstrapTotals(spark, stream, initial),
      name, stateStoreProvider = Some(StreamOps.RocksDBProvider))
      .select(col("user_id"), col("n_events"), col("cents"))
      .orderBy(col("user_id"))
  }

  val q160Oracle: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, value
      |  FROM events),
      |active AS (SELECT DISTINCT user_id FROM e
      |  WHERE ts_ns >= 1705363200000000000)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM e WHERE user_id IN (SELECT user_id FROM active)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Time-decayed engagement scoring — the recency-weighted feature
    * every ranking/retention model wants, in the only form that is
    * engine-exact: HALVING decay (weight = 1024 >> age_hours, capped)
    * instead of exp(−λΔt) — bit shifts replace libm's pow, so the
    * score is pure int64 and reproducible anywhere, while keeping the
    * property that matters (each hour of age halves the contribution;
    * 1024 gives 10 clean half-lives of resolution). Scale shape: the
    * reference instant is ONE broadcast scalar, the weight is map-side
    * arithmetic on the scan, and the only exchange is the user-key
    * aggregate — the top-20 plans as TakeOrderedAndProject, never a
    * global sort. */
  val q141DecayScore: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts_us"))
    val mx = e.agg(max(col("ts_us")).as("mx"))
    e.crossJoin(broadcast(mx))
      .select(col("user_id"),
        expr("shiftright(1024L, CAST(least((mx - ts_us) DIV 3600000000, " +
          "10) AS INT))").as("wgt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("wgt")).cast("long").as("score"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(20)
  }

  val q141Oracle: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us
      |  FROM events),
      |m AS (SELECT max(ts_us) AS mx FROM e),
      |w AS (SELECT user_id,
      |    1024 >> CAST(least((mx - ts_us) // 3600000000, 10) AS INT)
      |      AS wgt
      |  FROM e, m)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(wgt) AS BIGINT) AS score
      |FROM w GROUP BY user_id
      |ORDER BY score DESC, user_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q143
  /** Ordered k-step funnel in batch — signup → click-AFTER-signup →
    * purchase-AFTER-that-click, the strict-sequence product-analytics
    * query (q58/q67 run the 2-step version as streaming state
    * machines; this is the k-step batch form over history). Each stage
    * is a user-key aggregate of the NEXT event type constrained to
    * follow the previous stage's instant — min-ts semantics, so a user
    * converts on their earliest qualifying chain. All three aggregates
    * and both joins share the user key: one shuffle establishes the
    * partitioning and the whole chain rides it (no re-exchange), and
    * the stage table at the end is three ints. */
  val q143Funnel: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts_us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts_us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    val c1 = s1.agg(count(lit(1)).as("n")).select(lit(1).as("step"),
      lit("signup").as("stage"), col("n").cast("long").as("n_users"))
    val c2 = s2.agg(count(lit(1)).as("n")).select(lit(2).as("step"),
      lit("signup>click").as("stage"), col("n").cast("long").as("n_users"))
    val c3 = s3.agg(count(lit(1)).as("n")).select(lit(3).as("step"),
      lit("signup>click>purchase").as("stage"),
      col("n").cast("long").as("n_users"))
    c1.unionByName(c2).unionByName(c3).orderBy(col("step"))
  }

  val q143Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS ts_us
      |  FROM events),
      |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
      |SELECT step, stage, n_users FROM (
      |  SELECT 1 AS step, 'signup' AS stage,
      |    CAST(count(*) AS BIGINT) AS n_users FROM s1
      |  UNION ALL SELECT 2, 'signup>click', CAST(count(*) AS BIGINT)
      |    FROM s2
      |  UNION ALL SELECT 3, 'signup>click>purchase',
      |    CAST(count(*) AS BIGINT) FROM s3)
      |ORDER BY step""".stripMargin

  // ---------------------------------------------------------------- q145
  /** Behavior-flow transition matrix — the first-order Markov view of
    * user journeys ("what do users do right after X") that every
    * product-analytics path/sankey screen is built on: per user,
    * events order by time and consecutive event types pair via one
    * `lag` window, then (from, to) pairs count corpus-wide with each
    * row's integer share of its `from` row-total. One user-key window
    * (ts tie-break on event_id makes the sequence total-order
    * deterministic) and one pair aggregate over the k² type space —
    * the transition matrix costs the event scan plus windows over a
    * 25-row result at any volume. */
  val q145PathTransitions: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(100 * n) DIV from_total").as("pct_of_from"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q145Oracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_ns(ts)//1000 AS ts_us FROM events),
      |s AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS to_type FROM e),
      |g AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      | (100 * n) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
      |   AS pct_of_from
      |FROM g ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q146
  /** Seasonality-aware anomaly detection — q119 flags spikes against a
    * TRAILING window, which mis-fires on daily rhythm (every morning
    * "spikes" vs the night before); this builds the hour-of-day
    * seasonal BASELINE per event type (mean count over the days
    * observing that hour, integer DIV) and flags (type, day, hour)
    * buckets whose count clears 2× their own hour's baseline — the
    * compare-to-same-hour-yesterday discipline real alerting uses.
    * Integer cross-multiply (n · days > 2 · hour_total) avoids the
    * division roundoff entirely. One bucket aggregate; the baseline is
    * a window over the tiny (type × 24) space — free at any volume. */
  val q146SeasonalAnomaly: Q = (spark, dir) => {
    val b = Tables(spark, dir, "events")
      .select(col("event_type"),
        expr("ts_us DIV 86400000000").as("day"),
        expr("(ts_us DIV 3600000000) % 24").as("hour"))
      .groupBy(col("event_type"), col("day"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"), col("hour"))
    b.withColumn("hour_total", sum(col("n")).over(w))
      .withColumn("days_seen", count(lit(1)).over(w))
      .filter(col("n") * col("days_seen") > col("hour_total") * 2)
      .select(col("event_type"), col("day"), col("hour"), col("n"),
        expr("(100 * n * days_seen) DIV hour_total").as("pct_of_baseline"))
      .orderBy(col("event_type"), col("day"), col("hour"))
  }

  val q146Oracle: String =
    """WITH e AS (SELECT event_type,
      |    epoch_ns(ts)//1000//86400000000 AS day,
      |    (epoch_ns(ts)//1000//3600000000) % 24 AS hour FROM events),
      |b AS (SELECT event_type, day, hour, CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2, 3),
      |s AS (SELECT *,
      |    CAST(sum(n) OVER (PARTITION BY event_type, hour) AS BIGINT)
      |      AS hour_total,
      |    CAST(count(*) OVER (PARTITION BY event_type, hour) AS BIGINT)
      |      AS days_seen FROM b)
      |SELECT event_type, day, hour, n,
      | (100 * n * days_seen) // hour_total AS pct_of_baseline
      |FROM s WHERE n * days_seen > hour_total * 2
      |ORDER BY event_type, day, hour""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Sliding-window DISTINCT users from persisted bucket sketches —
    * the dashboard trick that makes "uniques in the trailing hour"
    * affordable at any volume: exact sliding distinct is
    * non-decomposable (you must re-touch every event in the window),
    * but per-10-minute-bucket HLL sketches UNION across the trailing
    * frame — the facts are scanned once, ever, and every window
    * evaluation is a 6-sketch merge. `hll_union_agg` runs directly as
    * a frame-bounded window aggregate over the bucket table. Gated the
    * q130 way: the exact trailing-hour distinct (flatten + distinct of
    * the buckets' user sets — affordable here, the thing that does NOT
    * scale and motivates the sketch) anchors a within-3% flag the
    * oracle reproduces as literal TRUE. */
  val q149SlidingHll: Q = (spark, dir) => {
    // RANGE frame (bucket values), not ROWS: a silent 10-min gap would
    // make a rows-frame reach one bucket further back than the window
    // semantics promise
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("bucket")).rangeBetween(-5, 0)
    Tables(spark, dir, "events")
      .select(col("event_type"),
        expr("ts_us DIV 600000000").as("bucket"), col("user_id"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        collect_set(col("user_id")).as("us"))
      .withColumn("usk", expr("hll_union_agg(sk)").over(w))
      .withColumn("est", expr("hll_sketch_estimate(usk)"))
      .withColumn("n_exact",
        size(array_distinct(flatten(collect_list(col("us")).over(w))))
          .cast("long"))
      .select(col("event_type"), col("bucket").cast("long").as("bucket"),
        col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.03)
          .as("within3pct"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val q149Oracle: String =
    """WITH e AS (SELECT event_type, epoch_ns(ts)//1000//600000000
      |    AS bucket, user_id FROM events),
      |b AS (SELECT DISTINCT event_type, bucket FROM e)
      |SELECT b.event_type, CAST(b.bucket AS BIGINT) AS bucket,
      | CAST((SELECT count(DISTINCT user_id) FROM e
      |   WHERE e.event_type = b.event_type
      |     AND e.bucket BETWEEN b.bucket - 5 AND b.bucket)
      |   AS BIGINT) AS n_exact,
      | TRUE AS within3pct
      |FROM b ORDER BY event_type, bucket""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Last-touch conversion attribution — the marketing-analytics join of
    * every purchase to the user's most recent NON-purchase touch (click/
    * view/signup/error) within a 1-hour lookback, credited per channel
    * with conversion count and attributed revenue; purchases with no
    * in-window touch land in an explicit "(none)" bucket so the credit
    * ledger always sums to total conversions. One user-key window does
    * all the matching: `last(..., ignoreNulls)` over an
    * unbounded-preceding-to-previous-row frame picks the latest
    * qualifying touch without any self-join — the classic point-in-time
    * lookup collapsed into the same single shuffle the sessionize op
    * pays (ts tie-break on event_id keeps the sequence total-order
    * deterministic). The two `last` calls share one condition, so both
    * select the same row; the channel aggregate is over the tiny k+1
    * space. At 100 TB this is one event-scan + one user-key exchange —
    * no pairwise purchase×touch blowup at any volume. */
  val q154Attribution: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val touchTs = when(col("event_type") =!= "purchase", col("ts_us"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), col("value"))
      .withColumn("touch_type", last(touch, ignoreNulls = true).over(w))
      .withColumn("touch_ts", last(touchTs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("touch_ts").isNotNull &&
          col("ts_us") - col("touch_ts") <= 3600000000L, col("touch_type"))
          .otherwise(lit("(none)")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("conversions"),
        round(sum(col("value")), 2).as("attributed_value"))
      .orderBy(col("channel"))
  }

  val q154Oracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type, value,
      |    epoch_ns(ts)//1000 AS ts_us FROM events),
      |t AS (SELECT *,
      |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
      |  last_value(CASE WHEN event_type <> 'purchase' THEN ts_us END
      |      IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
      |  FROM e)
      |SELECT CASE WHEN touch_ts IS NOT NULL AND ts_us - touch_ts <= 3600000000
      |         THEN touch_type ELSE '(none)' END AS channel,
      | count(*) AS conversions, round(sum(value),2) AS attributed_value
      |FROM t WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q178
  /** Streaming CDC upsert into the LAKE CATALOG — the
    * Delta/Iceberg-style "stream merge" every CDC-to-lakehouse
    * pipeline runs, composed from two tiers this engine already
    * proves separately: the file-source event stream and the
    * catalog's group-based COW `MERGE INTO` (q177). The event log
    * replays as 4 ingest files consumed one per micro-batch
    * (`maxFilesPerTrigger=1` + `Trigger.AvailableNow`), and each
    * batch `foreachBatch`-merges into the versioned per-user state
    * table: the batch is PRE-REDUCED to one row per key (argmax by
    * (ts_us, event_id) — so the merge source is distinct-keyed and
    * bounded by the batch's key count, never its row count), then
    * `MERGE ... WHEN MATCHED AND s newer THEN UPDATE / WHEN NOT
    * MATCHED THEN INSERT` applies latest-wins. The gate makes the
    * result independent of batch order AND replay (an older or equal
    * (ts, id) never overwrites — exactly-once state from
    * at-least-once delivery, the CDC invariant). Each micro-batch is
    * one atomic manifest commit, so readers see upsert N or N+1,
    * never a torn batch, and the version history IS the ingest
    * audit log (spec pins v4 = create + 4 merges). Emitted result:
    * the final state table, which the oracle restates as the global
    * per-user argmax over the raw log — streaming-incremental ≡
    * batch. Scale: per-batch cost is the merge's COW rewrite; a real
    * deployment key-partitions/Z-orders the state table so the
    * phase-1 group prune touches only files owning the batch's keys
    * (the q96/q107 layouts), and the pre-reduce keeps the shuffled
    * source at distinct-keys size. */
  val q178CdcUpsert: Q = (spark, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    val scratch = Scratch(spark, "q178")
    val cat = scratch.catalog
    val batchView = scratch.name("q178_batch")
    val ingest = scratch.path("ingest")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .repartition(4)
      .write.parquet(ingest)
    spark.sql(s"CREATE TABLE $cat.state " +
      "(user_id BIGINT, ts_us BIGINT, event_id BIGINT, value DOUBLE)")
    val schema = spark.read.parquet(ingest).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(ingest)
      .writeStream
      .option("checkpointLocation", scratch.path("ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        batch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("value"))
          .createOrReplaceTempView(batchView)
        // batch key BOUNDS as a target-only conjunct: equality implies
        // it for every source row (semantics unchanged), but as a
        // pushable predicate it feeds the merge's footer-stats group
        // prune, so on a key-clustered table (q96/q107 layouts) the
        // rewrite touches only files owning the batch's key range —
        // the Delta production pattern for CDC merges (spec-pinned in
        // GraftLakeCatalogSpec "bounded MERGE carries forward...").
        // The micro-batch is file-backed, so the bounds come from the
        // batch files' own parquet FOOTERS (driver metadata IO, no
        // job); an agg job is only the fallback for non-file sources.
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        val footerBounds: Option[(Long, Long)] =
          try {
            val rs = batch.inputFiles.toSeq.map(f => graft.sources
              .LakeFileStats.read(f, conf).cols("user_id"))
            val los = rs.map(_.min); val his = rs.map(_.max)
            if (rs.nonEmpty && los.forall(_.isDefined) &&
              his.forall(_.isDefined))
              Some((los.map(_.get.asInstanceOf[Long]).min,
                his.map(_.get.asInstanceOf[Long]).max))
            else None
          } catch { case scala.util.control.NonFatal(_) => None }
        val bounds = footerBounds.orElse {
          val r = batch.agg(min(col("user_id")), max(col("user_id")))
            .collect()(0)
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
        }
        if (bounds.isDefined) { // empty micro-batch: nothing to merge
          val (lo, hi) = bounds.get
          batch.sparkSession.sql(
            s"""MERGE INTO $cat.state AS t USING $batchView AS s
               |ON t.user_id = s.user_id
               |  AND t.user_id BETWEEN $lo AND $hi
               |WHEN MATCHED AND (s.ts_us > t.ts_us OR
               |  (s.ts_us = t.ts_us AND s.event_id > t.event_id))
               |  THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *
               |""".stripMargin)
        }
        ()
      }
      .start()
    q.awaitTermination()
    spark.sql(s"SELECT user_id, ts_us, event_id, value FROM $cat.state " +
      "ORDER BY user_id")
  }

  val q178Oracle: String =
    """SELECT user_id, ts_us, event_id, value FROM (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q182
  /** STREAMING READ of the lake table — the lakehouse-as-message-bus
    * composition closing the loop q178 opened (stream INTO the lake;
    * this streams OUT of it): the event log lands as three APPEND
    * commits (the ingest history), `VersionedTable.readStream` exposes
    * the table as a file-source stream — each commit's immutable
    * delta dir IS the stream's input, per-file exactly-once tracking,
    * new commits surface on the next trigger with no manifest polling
    * — and a complete-mode per-user aggregate drains over it one file
    * per micro-batch. The oracle restates the drained aggregate over
    * the raw log, so the gate proves stream-out ≡ batch over the full
    * commit history. Append-only is the contract (spec pins the loud
    * refusal on DV tables); a downstream job gets incremental,
    * replayable delivery of every commit without Kafka in the middle
    * — at 100 TB the stream reads each delta once, never the table. */
  val q182LakeStreamRead: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    import graft.streaming.StreamOps
    val scratch = Scratch(spark, "q182")
    val base = scratch.path("table")
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("value"), col("ts_us"))
    val cut1 = 1705363200000000L // 2024-01-16 (µs)
    val cut2 = 1706227200000000L // 2024-01-26 (µs)
    VersionedTable.commit(spark, ev.filter(col("ts_us") < cut1), base)
    VersionedTable.commit(spark,
      ev.filter(col("ts_us") >= cut1 && col("ts_us") < cut2), base)
    VersionedTable.commit(spark, ev.filter(col("ts_us") >= cut2), base)
    val agg = VersionedTable.readStream(spark, base)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value*100) AS BIGINT)")).as("cents"))
    StreamOps.runToMemory(spark, agg, scratch.name("q182_mem"), "complete")
      .orderBy(col("user_id"))
  }

  /** Same restatement as q159's: the per-user totals over the whole
    * log — the stream must deliver every commit exactly once. */
  val q182Oracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q201
  /** TIME-PARTITIONED EVENT TABLE — `PARTITIONED BY (days(ts))`
    * ([[graft.sources.LakePartitioning.DaysSpec]]), the canonical lake
    * layout for event logs: every commit routes rows into per-UTC-day
    * files (ISO day claims in the paths), and a time-RANGE query
    * statically prunes to its days BEFORE any task launches — the
    * pruning rides the CATALYST filters the scan builder receives, so
    * it fires even where parquet refuses the pushdown
    * (TIMESTAMP_NTZ). Here a 10-day window over the 30-day event log
    * keeps 1/3 of the files (gate: kept < total via
    * [[graft.sources.LakeReadScanBuilder.lastPartitionPrune]]); the
    * daily rollup hash-gates against DuckDB over the raw log. At
    * 100 TB this is "scan the week, not the decade". */
  val q201LakeTimePartition: Q = (spark, dir) => {
    import graft.sources.LakeReadScanBuilder
    val scratch = Scratch(spark, "q201")
    val cat = scratch.catalog
    val srcView = scratch.name("q201_src")
    Tables(spark, dir, "events")
      .select(
        expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").as("ets"),
        col("user_id"), col("value"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.ev (ets TIMESTAMP_NTZ, " +
      "user_id BIGINT, value DOUBLE) PARTITIONED BY (days(ets))")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM $srcView")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val rows = spark.sql(
      s"""SELECT CAST(ets AS DATE) AS day, count(*) AS n,
         |  round(sum(value), 2) AS total
         |FROM $cat.ev
         |WHERE ets >= TIMESTAMP_NTZ'2024-01-10 00:00:00'
         |  AND ets < TIMESTAMP_NTZ'2024-01-20 00:00:00'
         |GROUP BY 1""".stripMargin).collect()
    val packed = LakeReadScanBuilder.lastPartitionPrune.get()
    val pruned = packed >= 0 &&
      (packed >> 32).toInt < (packed & 0xffffffffL).toInt
    import spark.implicits._
    rows.toSeq
      .map(r => (r.getDate(0), r.getLong(1), r.getDouble(2), pruned))
      .toDF("day", "n", "total", "time_pruned")
      .orderBy(col("day"))
  }

  val q201Oracle: String =
    """SELECT CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE) AS day,
      | CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total,
      | TRUE AS time_pruned
      |FROM events
      |WHERE make_timestamp(epoch_ns(ts)//1000) >= TIMESTAMP '2024-01-10'
      |  AND make_timestamp(epoch_ns(ts)//1000) < TIMESTAMP '2024-01-20'
      |GROUP BY 1 ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q205
  /** WRITE-ONLY CDC UPSERT via EQUALITY DELETES
    * ([[graft.sources.VersionedTable.upsertByKeysMergeOnRead]] —
    * Iceberg's equality-delete files): the same latest-event-per-user
    * task as q178, but where q178's MERGE must READ the matching
    * target files to rewrite them (even with runtime group filtering
    * bounding WHICH files), every micro-batch here lands ONE atomic
    * commit of (batch keys as an equality-delete file + batch rows as
    * data files) and never opens a target file — O(batch) IO per
    * trigger at any table size. Sequence scoping (a delete applies
    * only to files born BEFORE it) is what keeps the batch's own rows
    * alive and lets a later corrections batch supersede in-place. The
    * keyed feed arrives range-partitioned by user (the Flink-CDC
    * per-key-ordered shape), a corrections batch then overrides three
    * users write-only, and `compact` folds all masks back into data
    * files (gate: zero delete files after). Final state hash-gates
    * against DuckDB. */
  val q205EqDeleteUpsert: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.streaming.Trigger
    val scratch = Scratch(spark, "q205")
    val ingest = scratch.path("ingest")
    val state = scratch.path("state")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .repartitionByRange(4, col("user_id"))
      .write.parquet(ingest)
    // seed the table (empty, schema-bearing) so every upsert appends
    VersionedTable.commit(spark,
      spark.read.parquet(ingest).limit(0)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("value")), state)
    val schema = spark.read.parquet(ingest).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(ingest)
      .writeStream
      .option("checkpointLocation", scratch.path("ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-key latest within the batch (each user's whole history
        // arrives in one batch — the feed is key-partitioned), then
        // ONE write-only commit: keys-as-equality-delete + rows
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        val latest = batch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("value"))
        // NOTE(r16 A/B): the upsert runs this frame three times per
        // trigger (isEmpty probe, eq-delete key write, data write);
        // persist()-ing it measured SLOWER (5.6-5.8 s -> 7.3-9.0 s
        // isolated) — InMemoryRelation materialization costs more than
        // recomputing a micro-batch-sized window. Recompute stays.
        if (!latest.isEmpty)
          VersionedTable.upsertByKeysMergeOnRead(
            batch.sparkSession, state, latest, Seq("user_id"))
        ()
      }
      .start()
    q.awaitTermination()
    // masks outstanding, every one an equality delete, and the ingest
    // data files untouched since their birth commits
    val vIngest = VersionedTable.latestVersion(spark, state).get
    val sIngest = VersionedTable.snapshotOf(spark, state, vIngest)
    val masksAreEq = sIngest.deleteFiles.nonEmpty &&
      sIngest.deleteFiles.forall(VersionedTable.isEqualityDelete)
    // corrections feed: three users superseded write-only
    val corrections = Seq(
      (0L, 4102444800000000L, 0L, 11.5),
      (1L, 4102444800000000L, 0L, 12.5),
      (2L, 4102444800000000L, 0L, 13.5))
    import spark.implicits._
    VersionedTable.upsertByKeysMergeOnRead(spark, state,
      corrections.toDF("user_id", "ts_us", "event_id", "value"),
      Seq("user_id"))
    // compact folds every mask into data files
    val vc = VersionedTable.compact(spark, state, 4)
    val folded = VersionedTable
      .snapshotOf(spark, state, vc).deleteFiles.isEmpty
    VersionedTable.read(spark, state)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("value"),
        lit(masksAreEq && folded).as("write_only_upsert"))
      .orderBy(col("user_id"))
  }

  val q205Oracle: String =
    """WITH latest AS (
      |  SELECT user_id, ts_us, event_id, value FROM (
      |    SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, value,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |), corrected AS (
      |  SELECT * FROM latest WHERE user_id > 2
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (0, 4102444800000000, 0, 11.5),
      |    (1, 4102444800000000, 0, 12.5),
      |    (2, 4102444800000000, 0, 13.5))
      |    AS c(user_id, ts_us, event_id, value)
      |)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(ts_us AS BIGINT) AS ts_us,
      |  CAST(event_id AS BIGINT) AS event_id, value,
      |  TRUE AS write_only_upsert
      |FROM corrected ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q203
  /** MONTHS-PARTITIONED ORDER TABLE — `PARTITIONED BY (months(od))`
    * ([[graft.sources.LakePartitioning.MonthsSpec]]), Iceberg's
    * epoch-month transform: the 80-month order history lands one
    * partition per UTC month, and a YEAR-RANGE query statically
    * prunes to its 12 months before any task launches (months is
    * monotone, so the q201 range-prune generalizes — gate: kept <
    * total via [[graft.sources.LakeReadScanBuilder
    * .lastPartitionPrune]]). The monthly revenue rollup hash-gates
    * against DuckDB over the raw orders. At 100 TB: scan the year,
    * not the decade — at coarser granularity than days, so the
    * manifest stays small on multi-year tables. */
  val q203LakeMonthsPartition: Q = (spark, dir) => {
    import graft.sources.LakeReadScanBuilder
    val scratch = Scratch(spark, "q203")
    val cat = scratch.catalog
    val srcView = scratch.name("q203_src")
    Tables(spark, dir, "orders")
      .select(col("o_orderdate").cast("date").as("od"),
        col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.ord (od DATE, o_orderkey BIGINT, " +
      "o_totalprice DOUBLE) PARTITIONED BY (months(od))")
    spark.sql(s"INSERT INTO $cat.ord SELECT * FROM $srcView")
    LakeReadScanBuilder.lastPartitionPrune.set(-1L)
    val rows = spark.sql(
      s"""SELECT date_trunc('month', od) AS mon, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS revenue
         |FROM $cat.ord
         |WHERE od >= DATE'1998-01-01' AND od < DATE'1999-01-01'
         |GROUP BY 1""".stripMargin).collect()
    val packed = LakeReadScanBuilder.lastPartitionPrune.get()
    val pruned = packed >= 0 &&
      (packed >> 32).toInt < (packed & 0xffffffffL).toInt
    import spark.implicits._
    rows.toSeq
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2), pruned))
      .toDF("mon", "n", "revenue", "month_pruned")
      .orderBy(col("mon"))
  }

  val q203Oracle: String =
    """SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
      | CAST(count(*) AS BIGINT) AS n,
      | round(sum(o_totalprice), 2) AS revenue, TRUE AS month_pruned
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
      |GROUP BY 1 ORDER BY mon""".stripMargin

  val keys: ListMap[String, Key] = ListMap(
    "q24_json_extract" -> Key(q24Json, q24Oracle),
    "q25_tumbling_window" -> Key(q25TumblingWindow, q25Oracle),
    "q26_asof_join" -> Key(q26AsOfJoin, q26Oracle),
    "q27_sessionize" -> Key(q27Sessionize, q27Oracle),
    "q28_event_dedup" -> Key(q28EventDedup, q28Oracle),
    "q42_stream_tumbling" -> Key(q42StreamTumbling, q42Oracle),
    "q45_stream_session" -> Key(q45StreamSession, q45Oracle),
    "q46_stream_sliding" -> Key(q46StreamSliding, q46Oracle),
    "q47_stream_dedup" -> Key(q47StreamDedup, q47Oracle),
    "q56_stream_join" -> Key(q56StreamJoin, q56Oracle),
    "q58_funnel_state" -> Key(q58FunnelState, q58Oracle),
    "q67_funnel_tws" -> Key(q67FunnelTws, q58Oracle), // same computation, two state APIs
    "q80_upsert_merge" -> Key(q80UpsertMerge, q80Oracle),
    "q86_pii_scrub" -> Key(q86PiiScrub, q86Oracle),
    "q87_stream_outer_join" -> Key(q87StreamOuterJoin, q87Oracle),
    "q89_gap_fill" -> Key(q89GapFill, q89Oracle),
    "q98_cohort_retention" -> Key(q98CohortRetention, q98Oracle),
    "q100_scd2_join" -> Key(q100Scd2Join, q100Oracle),
    "q117_stream_static" -> Key(q117StreamStatic, q117Oracle),
    "q119_spike_detect" -> Key(q119SpikeDetect, q119Oracle),
    "q123_native_asof" -> Key(q123NativeAsOf, q123Oracle),
    "q125_asof_tolerance" -> Key(q125AsOfTolerance, q125Oracle),
    "q129_rolling_median" -> Key(q129RollingMedian, q129Oracle),
    "q141_decay_score" -> Key(q141DecayScore, q141Oracle),
    "q143_funnel_batch" -> Key(q143Funnel, q143Oracle),
    "q145_path_transitions" -> Key(q145PathTransitions, q145Oracle),
    "q146_seasonal_anomaly" -> Key(q146SeasonalAnomaly, q146Oracle),
    "q149_sliding_hll" -> Key(q149SlidingHll, q149Oracle),
    "q150_tws_mapstate" -> Key(q150TwsMapState, q150Oracle),
    "q152_tws_liststate" -> Key(q152TwsListState, q152Oracle),
    "q132_funnel_timeout" -> Key(q132FunnelTimeout, q132Oracle),
    "q159_idle_flush" -> Key(q159IdleFlush, q159Oracle),
    "q160_state_bootstrap" -> Key(q160StateBootstrap, q160Oracle),
    "q178_cdc_lake_upsert" -> Key(q178CdcUpsert, q178Oracle),
    "q201_lake_time_partition" -> Key(q201LakeTimePartition, q201Oracle),
    "q203_lake_months_partition" -> Key(q203LakeMonthsPartition, q203Oracle),
    "q205_eq_delete_upsert" -> Key(q205EqDeleteUpsert, q205Oracle),
    "q182_lake_stream_read" -> Key(q182LakeStreamRead, q182Oracle),
    "q154_attribution" -> Key(q154Attribution, q154Oracle),
  )
}
