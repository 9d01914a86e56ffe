package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{QueryDef, Scratch, Tables}
import graft.QueryDef.sqlChecked

/** Event-analytics operators over the `events` table, beyond the windowing /
  * sessionization surface in [[Events]]: conversion funnels, cohort
  * retention, time-series gap-filling with last-observation-carried-forward,
  * and a stream-static enrichment join (the one Structured Streaming join
  * flavor [[Events]] does not exercise — stream-stream inner/left are there).
  *
  * The reference has no event analytics (SURVEY §2.11 — no streaming, no
  * event tables); these are north-star extensions in the same spirit as the
  * LLM-pipeline operators: each is the standard large-scale formulation of a
  * product-analytics primitive, shaped so no step is O(n²) or driver-bound.
  */
object EventAnalytics {

  private def dsum(c: org.apache.spark.sql.Column) =
    graft.functions.ExactSum.sumScaled(c, 8) // int128 exact sum — see graft.functions.Int128

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Funnel horizon: each stage must happen within 12 h of the previous. */
  val FunnelHorizonUs: Long = 12L * 3600 * 1000 * 1000

  /** Arrival-jitter bound (s), micro-batch chunk width (s), and allowed
    * lateness (s) for ev_late_audit. Declared BEFORE `defs`: the oracle
    * string interpolates them at object init, and a forward val reference
    * would silently read 0.
    */
  val LateJitterSec = 1800L
  val LateChunkSec = 1800L
  val LateDelaySec = 600L

  /** Candidate watermark delays for ev_late_sweep (seconds). */
  val SweepDelays: Seq[Long] = Seq(60L, 600L, 3600L)

  /** Shared oracle CTE chain for the late-data family: modeled arrival,
    * 30-min chunks, and the per-chunk LATE-EVENTS watermark (two
    * chunk-maxes back — the measured late/eviction split). Declared
    * before `defs` like the constants above (oracle strings interpolate
    * at object init).
    */
  private val LateCtesSql: String =
    s"""e AS (
      |  SELECT event_id, event_type, ts, value,
      |    ts + to_seconds(CAST(('0x' || substr(md5('late:' || CAST(event_id AS VARCHAR)),1,8)) AS BIGINT) % $LateJitterSec) AS arrival_ts
      |  FROM events),
      |c AS (SELECT event_type, ts, value,
      |        CAST(floor(epoch(arrival_ts)) AS BIGINT) // $LateChunkSec AS chunk FROM e),
      |cm AS (SELECT chunk, max(ts) AS chunk_max FROM c GROUP BY chunk),
      |wm AS (SELECT chunk,
      |   max(chunk_max) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
      |     - INTERVAL $LateDelaySec SECOND AS wm_enter
      |  FROM cm),
      |j AS (SELECT c.event_type, c.ts, c.value, wm.wm_enter FROM c JOIN wm USING (chunk))""".stripMargin

  /** Conversion funnel signup → click → purchase, each stage within 12 h of
    * the one before. Stage k is "first qualifying event after (and within
    * the horizon of) the user's stage-(k-1) time" — the standard ordered
    * funnel. Exposed as a function so EventAnalyticsSpec can replay it on a
    * planted micro-dataset where the expected stage times are hand-checked.
    *
    * Scale: three filter→aggregate passes and two joins, ALL keyed on
    * user_id — one hash partitioning end-to-end; every intermediate is
    * ≤1 row/user. No per-user event buffering, no sort, no window over the
    * raw stream.
    */
  def funnel(events: DataFrame): DataFrame = {
    val horizon = expr(s"INTERVAL ${FunnelHorizonUs / 3600000000L} HOURS")
    val s = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("st"))
    val c = events.filter(col("event_type") === "click")
      .join(s, "user_id")
      .filter(col("ts") >= col("st") && col("ts") <= col("st") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("ct"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") >= col("ct") && col("ts") <= col("ct") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
    s.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        date_format(col("st"), TsFmt).as("signup_ts"),
        date_format(col("ct"), TsFmt).as("click_ts"),
        date_format(col("pt"), TsFmt).as("purchase_ts"))
      .transform(d => QueryDef.largeSort(d, col("user_id")))
  }

  /** Lookback horizon for multi-touch attribution, in microseconds (7 d). */
  val AttributionLookbackUs = 7L * 24 * 3600 * 1000000L

  /** Multi-touch ATTRIBUTION (the marketing-analytics credit assignment —
    * first-touch / last-touch / linear are all derivable from this table):
    * for every conversion (`purchase`), the touches (`view`/`click`) by
    * the same user inside the lookback window, summarized exactly — touch
    * counts per channel (linear credit = count/n, left as exact integers),
    * and the first/last touch (type + event id, ties broken by (ts,
    * event_id)). ONE pass: a range-frame window over the per-user event
    * timeline — no conversion×touch pair is materialized (the oracle
    * replays via the independent interval join + ordered list aggregation,
    * so the window plan is cross-checked against the join semantics). At
    * 100 TB: one user-keyed shuffle, frame state bounded by a user's
    * 7-day event volume; output is conversion-sized.
    */
  def attribution(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("event_type"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-AttributionLookbackUs, 0)
    // struct ordering = (us, event_id) lexicographic: min is the first
    // touch in the window, max the last; purchases stay null and are
    // ignored by the aggregate
    val touchKey = when(col("event_type").isin("view", "click"),
      struct(col("us"), col("event_id"), col("event_type")))
    ev
      .withColumn("n_click",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .withColumn("n_view",
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w))
      .withColumn("ft", min(touchKey).over(w))
      .withColumn("lt", max(touchKey).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        date_format(col("ts"), TsFmt).as("conv_ts"),
        col("value").as("conv_value"),
        (col("n_click") + col("n_view")).as("n_touches"),
        col("n_click"), col("n_view"),
        col("ft.event_type").as("first_type"), col("ft.event_id").as("first_id"),
        col("lt.event_type").as("last_type"), col("lt.event_id").as("last_id"))
      .transform(d => QueryDef.largeSort(d, col("conv_id")))
  }

  /** Cohort retention: users grouped by first-seen day; n_users active at
    * each day offset 0..7 from their cohort day. The (user_id, day)
    * de-duplication happens BEFORE the cohort join, so the join and
    * everything after run on ≤ users × days rows, not on raw events — at
    * 100 TB the distinct is the only event-volume shuffle. After that
    * distinct each user contributes at most one row per (cohort, offset),
    * so a plain count replaces countDistinct (no distinct-agg Expand).
    */
  def retention(events: DataFrame, maxOffset: Int = 7): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort"))
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
      .filter(col("day_offset").between(0, maxOffset))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      // output is O(cohort days × offset cap) — small by construction, so a
      // single-partition presentation sort (no range-bounds sampling re-run)
      .transform(d => QueryDef.smallSort(d, col("cohort_day"), col("day_offset")))
  }

  /** Hourly per-type series with gaps filled: a generated hour spine ×
    * event types, left-joined to the hourly aggregate; missing hours get
    * n_events=0 / total_value=0.0, and locf_value carries the last observed
    * hour's total forward (last-observation-carried-forward).
    *
    * Scale: the raw data collapses to the hourly aggregate FIRST; the spine
    * (O(hours × types), independent of data volume) and the LOCF window run
    * on that aggregate, so the low-cardinality event_type window partitions
    * hold O(hours) rows each no matter how large the input. The 1-row
    * bounds aggregate and the spine cross join broadcast.
    */
  def gapfillHourly(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("hv"))
    val bounds = events.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      .crossJoin(events.select(col("event_type")).distinct())
    val locfW = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("hour_ts", "event_type"), "left")
      .select(
        date_format(col("hour_ts"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("hv"), lit(0.0)).as("total_value"),
        last(col("hv"), ignoreNulls = true).over(locfW).as("locf_value"))
      // output is O(hours × types) — small by construction (see retention)
      .transform(d => QueryDef.smallSort(d, col("hour"), col("event_type")))
  }

  /** EWMA smoothing numerator (alpha = 0.3 as the integer pair 30/100). */
  val EwmaAlphaNum = 30L

  /** Exponentially-weighted moving average over each event type's
    * gap-filled hourly count series, in EXACT integer micro-units:
    * s_1 = x_1·10^6, s_t = (30·x_t·10^6 + 70·s_{t-1}) DIV 100 — the
    * recursion every monitoring/forecast baseline runs, made bit-identical
    * across engines and partitionings by integer fixed-point (float EWMA
    * drifts by evaluation order). The recursion is inherently sequential
    * PER SERIES, so it runs as ONE ordered array fold per event type —
    * the per-series array is calendar-sized (O(hours), the retention
    * argument), never event-sized, and the types parallelize. The oracle
    * replays the identical recursion as a recursive CTE over the same
    * gap-filled spine.
    */
  def ewmaHourly(events: DataFrame): DataFrame = {
    val spine = gapfillHourly(events)
      .select(col("event_type"), col("hour"), col("n_events"))
    spine.groupBy(col("event_type"))
      // "yyyy-MM-dd HH:mm" sorts lexicographically = chronologically, so
      // the struct sort orders the fold without a second window pass
      .agg(sort_array(collect_list(struct(col("hour"), col("n_events")))).as("arr"))
      .select(col("event_type"), explode(expr(
        s"""aggregate(arr,
           |  CAST(array() AS ARRAY<STRUCT<hour: STRING, n: BIGINT, e: BIGINT>>),
           |  (acc, x) -> acc || array(named_struct(
           |    'hour', x.hour, 'n', x.n_events,
           |    'e', CASE WHEN size(acc) = 0 THEN x.n_events * 1000000
           |              ELSE ($EwmaAlphaNum * x.n_events * 1000000 +
           |                    (100 - $EwmaAlphaNum) * element_at(acc, -1).e) DIV 100
           |         END)))""".stripMargin)).as("r"))
      .select(col("event_type"), col("r.hour").as("hour"),
        col("r.n").as("n_events"), col("r.e").as("ewma_micro"))
      .transform(d => QueryDef.smallSort(d, col("event_type"), col("hour")))
  }

  val defs: Seq[QueryDef] = Seq(

    // INCREMENTAL aggregate maintenance (the delta-compute topology every
    // nightly rollup pipeline runs): a persisted compact rollup — per
    // (event_type, day) count + EXACT decimal value sum over history —
    // absorbs a new day's partial aggregate by an algebraic merge
    // (full-outer join + coalesce-add), instead of re-aggregating history.
    // Decimal partials make the merge EXACTLY equal to the from-scratch
    // aggregate regardless of how many increments composed the state
    // (float partials would drift by summation order — the reason the
    // state schema carries DECIMAL(38,8), cast to double only at the
    // edge). The oracle IS the full recompute over all days — the match
    // proves the merge algebra. At 100 TB: the nightly job reads ONE day +
    // a key-count-sized state table; IncrRollupSpec pins that the delta
    // scan pushes the day filter down and that iterating the merge
    // day-by-day converges to the same state.
    sqlChecked(
      "ev_incr_rollup",
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(20,8))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cutoff = "2024-01-25"
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(date_trunc("day", $"ts"), "yyyy-MM-dd"))
      def partial(df: DataFrame) = df.groupBy($"event_type", $"day")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(20,8)")).as("sv")) // DECIMAL partial: exact merge
      // state = the persisted rollup over history (written once per dir —
      // the simulation of last night's table); delta = the new days only.
      // The filter is on the PHYSICAL ts column (not the derived day
      // string) so it pushes into the parquet scan — equivalent because
      // day >= cutoff ⟺ ts >= cutoff midnight (UTC session)
      val state = s.read.parquet(incrStateDir(s, dir, cutoff))
      val delta = partial(ev.filter($"ts" >= lit(cutoff).cast("timestamp")))
      state.as("s")
        .join(delta.as("d"), Seq("event_type", "day"), "full_outer")
        .select($"event_type", $"day",
          (coalesce($"s.n", lit(0L)) + coalesce($"d.n", lit(0L))).as("n"),
          (coalesce($"s.sv", lit(BigDecimal(0)).cast("decimal(38,8)"))
            + coalesce($"d.sv", lit(BigDecimal(0)).cast("decimal(38,8)")))
            .cast("double").as("total_value"))
        .transform(d => QueryDef.largeSort(d, $"event_type", $"day"))
    },

    // Trailing-window ANOMALY detection (the ops-monitoring shape): each
    // hour's event count z-scored against the PRECEDING 24 observed hours
    // (ROWS 24 PRECEDING .. 1 PRECEDING — the current hour never pollutes
    // its own baseline), flagged when |z| > 3 with a ≥12-point warm-up
    // guard and a variance floor of 0.25 against constant-count windows.
    // Mean and variance derive from EXACT integer window sums (Σn, Σn²)
    // through an identical float expression tree in both engines, so z is
    // bit-stable and hash-checked after round-6. Scale: the window runs
    // over the AGGREGATED hourly series (one row per hour — ≤ 8 760
    // rows/year), not the event stream; the heavy work is the first
    // hour-keyed count, a plain partial-aggregable shuffle. The global
    // ORDER BY window on the tiny series is deliberate — at 100 TB the
    // series is still calendar-sized.
    sqlChecked(
      "ev_anomaly_zscore",
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT hour, n,
        |    CAST(SUM(n) OVER win AS BIGINT) AS s1,
        |    CAST(SUM(n*n) OVER win AS BIGINT) AS s2,
        |    CAST(COUNT(*) OVER win AS BIGINT) AS cnt
        |  FROM hourly
        |  WINDOW win AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT hour, n,
        |    CASE WHEN cnt >= 12 THEN
        |      round((n - CAST(s1 AS DOUBLE) / cnt)
        |        / sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt) / cnt, 0.25)), 6)
        |    END AS z
        |  FROM w)
        |SELECT hour, n, z,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly
        |FROM z ORDER BY hour""".stripMargin) { (s, dir) =>
      import s.implicits._
      val hourly = Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm").as("hour"))
        .agg(count(lit(1)).as("n"))
      val win = "OVER (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)"
      hourly
        .selectExpr("hour", "n",
          s"CAST(SUM(n) $win AS BIGINT) AS s1",
          s"CAST(SUM(n*n) $win AS BIGINT) AS s2",
          s"CAST(COUNT(*) $win AS BIGINT) AS cnt")
        .selectExpr("hour", "n",
          """CASE WHEN cnt >= 12 THEN
            |  round((n - CAST(s1 AS DOUBLE) / cnt)
            |    / sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / cnt) / cnt, 0.25)), 6)
            |END AS z""".stripMargin)
        .selectExpr("hour", "n", "z",
          "CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly")
        .transform(d => QueryDef.largeSort(d, $"hour"))
    },

    // Ordered conversion funnel with a 12 h stage horizon. Oracle re-derives
    // the three stage tables as independent SQL CTEs; non-converting users
    // keep NULL stage timestamps (left joins), so the row also pins the
    // funnel's drop-off, not just its conversions.
    sqlChecked(
      "ev_funnel",
      """WITH s AS (SELECT user_id, min(ts) AS st FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS ct FROM events e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= s.st
        |        AND e.ts <= s.st + INTERVAL 12 HOUR GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pt FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.ct
        |        AND e.ts <= c.ct + INTERVAL 12 HOUR GROUP BY e.user_id)
        |SELECT s.user_id,
        |  strftime(s.st, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
        |  strftime(c.ct, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |  strftime(p.pt, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        |FROM s LEFT JOIN c ON s.user_id = c.user_id LEFT JOIN p ON s.user_id = p.user_id
        |ORDER BY s.user_id""".stripMargin) { (s, dir) =>
      funnel(Tables.events(s, dir))
    },

    // Multi-touch attribution (see [[attribution]]). The Spark plan is a
    // range-frame window; the oracle is the INDEPENDENT interval-join +
    // ordered-list-aggregation formulation, so a hash match certifies the
    // window frame's boundary semantics against the join's BETWEEN.
    sqlChecked(
      "ev_attribution",
      s"""WITH e AS (SELECT event_id, user_id, ts, value, event_type, epoch_us(ts) AS us FROM events),
        |conv AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |tch AS (SELECT * FROM e WHERE event_type IN ('view','click')),
        |j AS (SELECT c.event_id AS conv_id, c.user_id, c.ts AS cts, c.value,
        |             t.event_id AS tid, t.event_type AS ttype, t.us AS tus
        |      FROM conv c LEFT JOIN tch t
        |        ON t.user_id = c.user_id
        |       AND t.us BETWEEN c.us - ${AttributionLookbackUs} AND c.us)
        |SELECT conv_id, user_id,
        |  strftime(cts, '%Y-%m-%d %H:%M:%S.%f') AS conv_ts,
        |  value AS conv_value,
        |  CAST(count(tid) AS BIGINT) AS n_touches,
        |  CAST(count(CASE WHEN ttype = 'click' THEN 1 END) AS BIGINT) AS n_click,
        |  CAST(count(CASE WHEN ttype = 'view' THEN 1 END) AS BIGINT) AS n_view,
        |  (array_agg(ttype ORDER BY tus, tid) FILTER (WHERE tid IS NOT NULL))[1] AS first_type,
        |  (array_agg(tid ORDER BY tus, tid) FILTER (WHERE tid IS NOT NULL))[1] AS first_id,
        |  (array_agg(ttype ORDER BY tus, tid) FILTER (WHERE tid IS NOT NULL))[-1] AS last_type,
        |  (array_agg(tid ORDER BY tus, tid) FILTER (WHERE tid IS NOT NULL))[-1] AS last_id
        |FROM j GROUP BY conv_id, user_id, cts, value
        |ORDER BY conv_id""".stripMargin) { (s, dir) =>
      attribution(Tables.events(s, dir))
    },

    // Day-0..7 cohort retention counts.
    sqlChecked(
      "ev_retention",
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id),
        |ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
        |       datediff('day', f.cohort, ud.day) AS day_offset,
        |       COUNT(*) AS n_users
        |FROM ud JOIN f ON ud.user_id = f.user_id
        |WHERE datediff('day', f.cohort, ud.day) BETWEEN 0 AND 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      retention(Tables.events(s, dir))
    },

    // Gap-filled hourly series + LOCF. Oracle generates the same spine with
    // generate_series and runs DuckDB's IGNORE NULLS window for the LOCF.
    sqlChecked(
      "ev_gapfill_locf",
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
        |sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts FROM b),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |h AS (SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n,
        |        CAST(SUM(CAST(value AS DECIMAL(20,8))) AS DOUBLE) AS hv
        |      FROM events GROUP BY 1, 2)
        |SELECT strftime(sp.hour_ts, '%Y-%m-%d %H:%M') AS hour, ty.event_type AS event_type,
        |  COALESCE(h.n, 0) AS n_events,
        |  COALESCE(h.hv, 0.0) AS total_value,
        |  last_value(h.hv IGNORE NULLS) OVER (PARTITION BY ty.event_type ORDER BY sp.hour_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        |FROM sp CROSS JOIN ty LEFT JOIN h ON h.hour_ts = sp.hour_ts AND h.event_type = ty.event_type
        |ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
      gapfillHourly(Tables.events(s, dir))
    },

    // Integer EWMA over the gap-filled hourly series (see [[ewmaHourly]]).
    // The oracle replays the recursion as a recursive CTE — a genuinely
    // different evaluation strategy (row-at-a-time self-join) from the
    // Spark side's per-series array fold, agreeing bit-for-bit because
    // the arithmetic is exact integers.
    sqlChecked(
      "ev_ewma",
      s"""WITH RECURSIVE b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
        |sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts FROM b),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |h AS (SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT ty.event_type, strftime(sp.hour_ts, '%Y-%m-%d %H:%M') AS hour,
        |    COALESCE(h.n, 0) AS n,
        |    row_number() OVER (PARTITION BY ty.event_type ORDER BY sp.hour_ts) AS idx
        |  FROM sp CROSS JOIN ty LEFT JOIN h ON h.hour_ts = sp.hour_ts AND h.event_type = ty.event_type),
        |r AS (
        |  SELECT event_type, idx, hour, n, CAST(n * 1000000 AS BIGINT) AS e
        |  FROM spine WHERE idx = 1
        |  UNION ALL
        |  SELECT s.event_type, s.idx, s.hour, s.n,
        |    CAST(($EwmaAlphaNum * s.n * 1000000 + ${100 - EwmaAlphaNum} * r.e) // 100 AS BIGINT)
        |  FROM spine s JOIN r ON s.event_type = r.event_type AND s.idx = r.idx + 1)
        |SELECT event_type, hour, CAST(n AS BIGINT) AS n_events, e AS ewma_micro
        |FROM r ORDER BY event_type, hour""".stripMargin) { (s, dir) =>
      ewmaHourly(Tables.events(s, dir))
    },

    // STREAM-STATIC join: a purchase stream enriched with a batch-computed
    // per-user dimension (lifetime event count). Stream-static inner joins
    // are STATELESS — no watermark, no join state; the static side is
    // re-planned per micro-batch (at scale: a broadcast of the dim, or a
    // co-partitioned lookup, refreshed per batch — the standard
    // dimension-enrichment topology). Oracle = the equivalent batch join.
    sqlChecked(
      "ev_stream_static_join",
      """SELECT e.event_id, e.user_id, t.n_total
        |FROM events e JOIN (SELECT user_id, COUNT(*) AS n_total
        |                    FROM events GROUP BY user_id) t ON e.user_id = t.user_id
        |WHERE e.event_type = 'purchase' ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val outDir = Scratch.dir("ev-ss-static-out")
      val ckDir = Scratch.dir("ev-ss-static-ck")
      val static = Tables.events(s, dir)
        .groupBy($"user_id").agg(count(lit(1)).as("n_total"))
      Events.withStreamPartitions(s) {
        Tables.eventsStream(s, dir)
          .filter($"event_type" === "purchase")
          .select($"event_id", $"user_id")
          .join(static, Seq("user_id"))
          .select($"event_id", $"user_id", $"n_total")
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.read.parquet(outDir).orderBy($"event_id")
    },

    // Audience-overlap set algebra through THETA sketches
    // ([[graft.functions.ThetaAgg]]) — the set-operation twin of the
    // q40_hll_cube mergeable rollup: per-audience sketches (heavy
    // purchasers / heavy clickers, ≥10 events each) are built in one pass
    // over the qualifying users, then distinct-count UNION, INTERSECTION
    // and DIFFERENCE are answered by driver-side set algebra over the
    // KILOBYTE sketches — never by re-joining the raw tables. HLL cannot
    // intersect (register maxima lose the sample identity); theta retains
    // hash samples, so "users in A and B" composes from independently
    // built sketches — at 100 TB, across audiences sketched on different
    // days/tables. Exact companions are hash-checked; estimate tolerance
    // booleans are pinned TRUE by the oracle (q20 discipline; below k=4096
    // retained hashes the sketch is exact by construction, and ThetaSpec
    // separately pins estimation-mode error above k).
    sqlChecked(
      "ev_theta_audience",
      """WITH a AS (SELECT user_id FROM events WHERE event_type = 'purchase'
        |           GROUP BY user_id HAVING count(*) >= 10),
        |b AS (SELECT user_id FROM events WHERE event_type = 'click'
        |      GROUP BY user_id HAVING count(*) >= 10)
        |SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a,
        |  CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b,
        |  CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT) AS exact_both,
        |  CAST((SELECT count(*) FROM a ANTI JOIN b USING (user_id)) AS BIGINT) AS exact_a_only,
        |  TRUE AS est_a_ok, TRUE AS est_union_ok,
        |  TRUE AS est_both_ok, TRUE AS est_a_only_ok""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.ThetaAgg
      val qualified = Tables.events(s, dir)
        .filter($"event_type".isin("purchase", "click"))
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
        .filter($"n" >= 10)
        .cache() // feeds the sketch pass AND the exact companions
      // one aggregate builds both audience sketches; 2 rows reach the
      // driver (model-collect scale)
      val sk = qualified.groupBy($"event_type").agg(ThetaAgg($"user_id").as("sk"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
      // an audience with no qualifying user yields NO group row — fall back
      // to an empty sketch so the query degrades to the oracle's zero
      // counts instead of dying on the Map lookup (ADVICE r09; hit at tiny
      // scale factors / filtered inputs)
      def audience(t: String) = ThetaAgg.wrap(
        sk.getOrElse(t, ThetaAgg.emptySketchBytes))
      val (a, b) = (audience("purchase"), audience("click"))
      val estA = a.getEstimate
      val estU = ThetaAgg.union(a, b).getEstimate
      val estI = ThetaAgg.intersect(a, b).getEstimate
      val estD = ThetaAgg.aNotB(a, b).getEstimate
      // exact companions (verification-scale — the joins the sketches
      // replace at 100 TB)
      val aSet = qualified.filter($"event_type" === "purchase").select($"user_id")
      val bSet = qualified.filter($"event_type" === "click").select($"user_id")
      val exactA = aSet.count()
      val exactB = bSet.count()
      val exactBoth = aSet.join(bSet, Seq("user_id")).count()
      val exactAOnly = aSet.join(bSet, Seq("user_id"), "left_anti").count()
      qualified.unpersist()
      def ok(est: Double, exact: Long): Boolean =
        math.abs(est - exact) <= math.max(exact, 1L) * 0.05
      Seq((exactA, exactB, exactBoth, exactAOnly,
        ok(estA, exactA), ok(estU, exactA + exactB - exactBoth),
        ok(estI, exactBoth), ok(estD, exactAOnly)))
        .toDF("exact_a", "exact_b", "exact_both", "exact_a_only",
          "est_a_ok", "est_union_ok", "est_both_ok", "est_a_only_ok")
    },

    // Exactly-once streaming UPSERT sink — update-mode aggregation +
    // `foreachBatch` with an IDEMPOTENT write (overwrite keyed on batchId,
    // the Structured Streaming production pattern for sinks without
    // transactional support): the checkpoint gives at-least-once batch
    // delivery, batchId-keyed overwrite makes replays no-ops, and the
    // final state is the last update per key — so the materialized result
    // equals the batch aggregate REGARDLESS of how input was split into
    // micro-batches (the source is re-laid out as 4 files read with
    // maxFilesPerTrigger=1, so every run really exercises multi-batch
    // update emission — per-batch updates carry only keys CHANGED in that
    // batch). Recovery/idempotence under restart is pinned separately by
    // StreamRestartSpec (checkpoint resume over an extended source; batch
    // outputs byte-stable across reruns). Scale: state is the running
    // per-key aggregate (bounded by key cardinality); each batch write is
    // only the changed keys; the batchId partition column turns the sink
    // into an append-only log compacted by last-writer-wins — the
    // lakehouse CDC-merge topology without the table format.
    sqlChecked(
      "ev_stream_upsert",
      """SELECT user_id, count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(20,8))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val srcDir = upsertSrcDir(s, dir)
      val outDir = Scratch.dir("ev-upsert-out")
      val ckDir = Scratch.dir("ev-upsert-ck")
      upsertStreamPass(s, srcDir, outDir, ckDir)
      upsertState(s, outDir)
        .transform(d => QueryDef.largeSort(d, $"user_id"))
    },

    // LATE-DATA AUDIT (the watermark what-if): exactly which rows would a
    // Structured Streaming job with allowed lateness D have dropped, had
    // this history arrived as micro-batches — the number an ops team needs
    // BEFORE picking a watermark, and the one Spark only reports after the
    // fact (numRowsDroppedByWatermark). The events table carries no ingest
    // time, so arrival is modeled as ts + an engine-portable deterministic
    // jitter of 0..29:59 (md5 of the event id — the Exprs.hash60
    // discipline), the documented stand-in for an at-least-once
    // transport's reordering. 30-min arrival chunks are the micro-batch
    // replay; Spark advances the watermark at BATCH boundaries and — the
    // subtlety LateAuditSpec's probe measured — filters late events
    // against the PREVIOUS batch's watermark while evicting state with
    // the current one (the late/eviction split, so a batch never drops
    // rows that arrived alongside the data that advanced the watermark).
    // The late-events watermark in force during chunk c is therefore
    // max(event time over chunks ≤ c−2) − D. A row is LATE when ts < wm
    // (raw lateness) and DROPPED by a 1 h windowed aggregation when its
    // window END ≤ wm (boundary inclusive — measured) — LateAuditSpec
    // replays planted chunks through a real watermarked stream and pins
    // the streamed per-window outputs to the audit's survivors exactly,
    // so the audit's semantics ARE the engine's, not an approximation.
    // Scale: the per-chunk max is one partial-aggregable
    // shuffle of the events; the running max runs over the CHUNK series
    // (time-bound — ~17.5k rows per DECADE at 30 min width, regardless of
    // event volume), broadcast back onto the events for one map-side join.
    sqlChecked(
      "ev_late_audit",
      s"""WITH $LateCtesSql
        |SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN ts < wm_enter THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(sum(CASE WHEN date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm_enter THEN 1 ELSE 0 END) AS BIGINT) AS n_late_win,
        |  max(CASE WHEN ts < wm_enter THEN (epoch_us(wm_enter) - epoch_us(ts)) // 1000000 END) AS max_late_s
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      lateAudit(withArrival(Tables.events(s, dir)), LateChunkSec, LateDelaySec)
    },

    // LATE-DATA BACKFILL (the lambda-architecture correction loop,
    // reconciled EXACTLY): the streaming path aggregates only the rows a
    // D-lateness watermark keeps; the rows it drops are the dead-letter
    // set; a second algebraic pass (the ev_incr_rollup merge discipline)
    // folds the dead-letter aggregates into the streaming rollup — and
    // the merged result must equal the batch full recompute, row by row,
    // count AND exact decimal value sum. The full-outer merge matters:
    // an (hour, type) cell fed ONLY by late rows has no streaming-side
    // row at all and must still reconcile. recon_n/recon_value are
    // computed for real against an independent full groupBy and pinned
    // TRUE by the oracle. Scale: three partial-aggregable rollups keyed
    // on (hour, type) + calendar-sized merge joins; the late/on-time
    // split reuses the audit's chunk watermark (broadcast).
    sqlChecked(
      "ev_late_backfill",
      s"""WITH $LateCtesSql,
        |lab AS (SELECT event_type, ts, value,
        |    (wm_enter IS NOT NULL AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm_enter) AS is_late
        |  FROM j),
        |ontime AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
        |    count(*) AS n, SUM(CAST(value AS DECIMAL(20,8))) AS v
        |  FROM lab WHERE NOT is_late GROUP BY 1, 2),
        |late AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
        |    count(*) AS n, SUM(CAST(value AS DECIMAL(20,8))) AS v
        |  FROM lab WHERE is_late GROUP BY 1, 2),
        |merged AS (
        |  SELECT coalesce(o.hour, l.hour) AS hour,
        |    coalesce(o.event_type, l.event_type) AS event_type,
        |    coalesce(o.n, 0) AS n_ontime, coalesce(l.n, 0) AS n_late,
        |    coalesce(o.n, 0) + coalesce(l.n, 0) AS n_total,
        |    coalesce(o.v, CAST(0 AS DECIMAL(20,8))) + coalesce(l.v, CAST(0 AS DECIMAL(20,8))) AS v_total
        |  FROM ontime o FULL OUTER JOIN late l
        |    ON o.hour = l.hour AND o.event_type = l.event_type),
        |full_rc AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
        |    count(*) AS n, SUM(CAST(value AS DECIMAL(20,8))) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT m.hour, m.event_type,
        |  CAST(m.n_ontime AS BIGINT) AS n_ontime,
        |  CAST(m.n_late AS BIGINT) AS n_late,
        |  CAST(m.n_total AS BIGINT) AS n_total,
        |  CAST(m.v_total AS DOUBLE) AS total_value,
        |  m.n_total = f.n AS recon_n,
        |  m.v_total = f.v AS recon_value
        |FROM merged m JOIN full_rc f
        |  ON f.hour = m.hour AND f.event_type = m.event_type
        |ORDER BY m.hour, m.event_type""".stripMargin) { (s, dir) =>
      lateBackfill(s, withArrival(Tables.events(s, dir)), LateChunkSec, LateDelaySec)
    },

    // WATERMARK DELAY SWEEP — the question the audit exists to answer,
    // asked across candidate delays in ONE pass: what fraction of rows
    // would a 1-minute / 10-minute / 1-hour allowed lateness drop from
    // the hourly aggregation? The high-water mark per chunk is computed
    // ONCE without any delay baked in; each row then fans out over the
    // broadcast-literal delay list and classifies against hwm − D in
    // exact integer microseconds. One event scan, one chunk aggregate,
    // one (type, delay)-keyed rollup — the sweep costs the same as a
    // single what-if. This is how you CHOOSE a watermark from data
    // instead of folklore.
    sqlChecked(
      "ev_late_sweep",
      s"""WITH e AS (
        |  SELECT event_id, event_type, ts,
        |    ts + to_seconds(CAST(('0x' || substr(md5('late:' || CAST(event_id AS VARCHAR)),1,8)) AS BIGINT) % $LateJitterSec) AS arrival_ts
        |  FROM events),
        |c AS (SELECT event_type, ts,
        |        CAST(floor(epoch(arrival_ts)) AS BIGINT) // $LateChunkSec AS chunk FROM e),
        |cm AS (SELECT chunk, max(ts) AS chunk_max FROM c GROUP BY chunk),
        |rm AS (SELECT chunk,
        |   max(chunk_max) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS hwm
        |  FROM cm),
        |j AS (SELECT c.event_type, c.ts, rm.hwm FROM c JOIN rm USING (chunk)),
        |d AS (SELECT * FROM (VALUES ${SweepDelays.map(d => s"($d)").mkString(",")}) AS t(delay_s))
        |SELECT event_type, CAST(delay_s AS BIGINT) AS delay_s,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |                     <= epoch_us(hwm) - CAST(delay_s AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  round(CAST(sum(CASE WHEN epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |                     <= epoch_us(hwm) - CAST(delay_s AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS drop_rate
        |FROM j CROSS JOIN d
        |GROUP BY event_type, delay_s
        |ORDER BY event_type, delay_s""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = withArrival(Tables.events(s, dir))
        .withColumn("chunk", expr(s"unix_seconds(arrival_ts) DIV $LateChunkSec"))
      val cm = e.groupBy($"chunk").agg(max($"ts").as("chunk_max"))
      val w = Window.orderBy($"chunk").rowsBetween(Window.unboundedPreceding, -2)
      val rm = cm.select($"chunk", max($"chunk_max").over(w).as("hwm"))
      val dropped = expr("unix_micros(date_trunc('hour', ts) + INTERVAL 1 HOUR)") <=
        expr("unix_micros(hwm) - delay_s * 1000000")
      e.join(broadcast(rm), "chunk")
        .withColumn("delay_s", explode(typedLit(SweepDelays)))
        .groupBy($"event_type", $"delay_s")
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(dropped, 1L).otherwise(0L)).as("n_dropped"))
        .withColumn("drop_rate",
          round($"n_dropped".cast("double") / $"n_events".cast("double"), 6))
        .transform(d => QueryDef.smallSort(d, $"event_type", $"delay_s"))
    }
  )

  /** The backfill-and-reconcile core (exposed for LateAuditSpec's
    * planted-frame pin, which includes a cell fed ONLY by late rows):
    * `arrived` must carry an `arrival_ts` column.
    */
  def lateBackfill(
      s: org.apache.spark.sql.SparkSession, arrived: DataFrame,
      chunkSec: Long, delaySec: Long): DataFrame = {
    import s.implicits._
    val hourFmt = "yyyy-MM-dd HH:mm"
    val lab = lateFrame(arrived, chunkSec, delaySec)
      .withColumn("is_late", $"wm_enter".isNotNull &&
        date_trunc("hour", $"ts") + expr("INTERVAL 1 HOUR") <= $"wm_enter")
      .withColumn("hour", date_format(date_trunc("hour", $"ts"), hourFmt))
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"hour", $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("v"))
    // ONE events scan feeds both merge sides: aggregate with is_late as a
    // third group key, checkpoint the calendar-sized result (DISK_ONLY,
    // the largeSort discipline), and derive each side as a filter of it.
    // Without the materialization Catalyst clones the whole lateFrame
    // subtree into each side (measured: the events scan + chunk-watermark
    // build ran TWICE); with it the merge topology — the honest
    // lambda-architecture shape, a streaming-sink table full-outer-joined
    // with a backfill table — operates on a staged intermediate, the
    // ev_incr_rollup persisted-rollup story.
    val split = lab
      .groupBy($"hour", $"event_type", $"is_late")
      .agg(count(lit(1)).as("n"), dsum($"value").as("v"))
      .localCheckpoint(eager = false,
        storageLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val zero = lit(BigDecimal(0)).cast("decimal(20,8)")
    val merged = split.filter(!$"is_late").as("o")
      .join(split.filter($"is_late").as("l"),
        $"o.hour" === $"l.hour" && $"o.event_type" === $"l.event_type", "full_outer")
      .select(
        coalesce($"o.hour", $"l.hour").as("hour"),
        coalesce($"o.event_type", $"l.event_type").as("event_type"),
        coalesce($"o.n", lit(0L)).as("n_ontime"),
        coalesce($"l.n", lit(0L)).as("n_late"),
        (coalesce($"o.n", lit(0L)) + coalesce($"l.n", lit(0L))).as("n_total"),
        (coalesce($"o.v", zero) + coalesce($"l.v", zero)).as("v_total"))
    val full = rollup(arrived
      .withColumn("hour", date_format(date_trunc("hour", $"ts"), hourFmt))).as("f")
    merged.as("m")
      .join(full, $"f.hour" === $"m.hour" && $"f.event_type" === $"m.event_type")
      .select($"m.hour", $"m.event_type",
        $"n_ontime", $"n_late", $"n_total",
        $"v_total".cast("double").as("total_value"),
        ($"n_total" === $"f.n").as("recon_n"),
        ($"v_total" === $"f.v").as("recon_value"))
      .transform(d => QueryDef.largeSort(d, $"hour", $"event_type"))
  }


  /** Deterministic modeled arrival time: ts + md5-derived jitter of
    * 0..[[LateJitterSec]]−1 seconds (engine-portable — both engines hash
    * the same string to the same 32-bit prefix).
    */
  def withArrival(events: DataFrame): DataFrame =
    events
      .withColumn("jit",
        conv(substring(md5(concat(lit("late:"), col("event_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % LateJitterSec)
      .withColumn("arrival_ts", expr("timestampadd(SECOND, jit, ts)"))
      .drop("jit")

  /** The audit itself, parametric so LateAuditSpec can replay planted
    * frames at spec-sized chunk widths: per event_type, how many rows a
    * D-second watermark would see late (raw) and drop from a 1 h windowed
    * aggregation (window end ≤ watermark), plus the worst raw lateness.
    * `arrived` must carry an `arrival_ts` column ([[withArrival]]).
    */
  def lateAudit(arrived: DataFrame, chunkSec: Long, delaySec: Long): DataFrame =
    lateFrame(arrived, chunkSec, delaySec)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("ts") < col("wm_enter"), 1L).otherwise(0L)).as("n_late"),
        sum(when(date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") <= col("wm_enter"), 1L)
          .otherwise(0L)).as("n_late_win"),
        max(when(col("ts") < col("wm_enter"),
          expr("(unix_micros(wm_enter) - unix_micros(ts)) DIV 1000000"))).as("max_late_s"))
      .transform(d => QueryDef.smallSort(d, col("event_type")))

  /** Per-row face of the audit (exposed for LateAuditSpec's streamed
    * replay): each event with its micro-batch `chunk` and the LATE-EVENTS
    * watermark `wm_enter` in force when that chunk is processed — the
    * previous chunk's start-of-batch watermark, i.e. two chunk-maxes back
    * (Spark's late/eviction watermark split, measured by the spec's probe).
    */
  def lateFrame(arrived: DataFrame, chunkSec: Long, delaySec: Long): DataFrame = {
    val e = arrived.withColumn("chunk", expr(s"unix_seconds(arrival_ts) DIV $chunkSec"))
    val cm = e.groupBy(col("chunk")).agg(max(col("ts")).as("chunk_max"))
    // running max over the chunk SERIES — small by construction (calendar-
    // sized, like ev_anomaly_zscore's hourly window), so the unpartitioned
    // window is deliberate
    val w = Window.orderBy(col("chunk")).rowsBetween(Window.unboundedPreceding, -2)
    val wm = cm.select(col("chunk"),
      (max(col("chunk_max")).over(w) - expr(s"INTERVAL $delaySec SECOND")).as("wm_enter"))
    e.join(broadcast(wm), "chunk")
  }

  /** 4-file re-layout of events for the multi-batch upsert source —
    * write-once per source dir per JVM (checkpoints/outputs stay per-call,
    * only the immutable source is shared).
    */
  private def upsertSrcDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Scratch.memoDir("ev-upsert-src", dir) { p =>
      graft.ColdBuilds.timed("ev_upsert_src", dir) {
        Tables.events(s, dir).repartition(4)
          .write.mode("overwrite").parquet(p)
      }
    }

  /** One AvailableNow pass of the upsert stream: per-user update-mode
    * aggregate, idempotent batchId-keyed foreachBatch sink. Incremental by
    * construction — a second call with the SAME checkpoint processes only
    * files added since the first (StreamRestartSpec pins that).
    */
  private[streaming] def upsertStreamPass(
      s: org.apache.spark.sql.SparkSession,
      srcDir: String, outDir: String, ckDir: String): Unit = {
    import s.implicits._
    val schema = s.read.parquet(srcDir).schema
    Events.withStreamPartitions(s) {
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // idempotent: a replayed batch overwrites its own partition
          // with identical content, never corrupting neighbours
          df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }

  /** Persisted pre-cutoff rollup for ev_incr_rollup (write-once per source
    * dir and cutoff per JVM). Schema carries the DECIMAL partial so the
    * merge stays exact.
    */
  private[streaming] def incrStateDir(
      s: org.apache.spark.sql.SparkSession, dir: String, cutoff: String): String =
    Scratch.memoDir("graft-incr-state", s"$dir|$cutoff") { p =>
      graft.ColdBuilds.timed(s"ev_incr_rollup_state@$cutoff", dir) {
        import s.implicits._
        Tables.events(s, dir)
          .filter($"ts" < lit(cutoff).cast("timestamp"))
          .withColumn("day", date_format(date_trunc("day", $"ts"), "yyyy-MM-dd"))
          .groupBy($"event_type", $"day")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(20,8)")).as("sv"))
          .write.mode("overwrite").parquet(p)
      }
    }

  /** Materialized view over the upsert sink's batch log: last update per
    * key wins (the compaction a lakehouse MERGE target would run).
    */
  private[streaming] def upsertState(
      s: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    import s.implicits._
    val log = s.read.parquet(outDir) // partition discovery yields `batch`
    val latest = Window.partitionBy($"user_id").orderBy($"batch".desc)
    log.withColumn("rn", row_number().over(latest)).filter($"rn" === 1)
      .select($"user_id", $"n_events", $"total_value")
  }
}
