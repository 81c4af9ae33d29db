package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Lineage

/** Round-7 widening: user-journey / behavioral analytics over the event
  * stream, plus the sort-based 2-D skyline — the operator families a
  * product-analytics user of the reference's Athena/Redshift query layer
  * (reference README.md:64-66: the reference delegates ALL querying to
  * the warehouse) runs daily: streaks, cohort retention, interval
  * coverage, transition matrices, Pareto frontiers.
  *
  * Shared discipline: deterministic ORDER BY on a unique key set,
  * integer-exact arithmetic (epoch days / integer microseconds — NOTES
  * rule 8: `unix_micros` vs DuckDB `EPOCH_US`, never whole-second
  * truncation), identical aliases both engines.
  *
  * Scale notes (100 TB): every query here shuffles at most once on
  * user_id (the natural even-cardinality key) plus bounded-size
  * control-plane windows; nothing is all-pairs and nothing collects
  * unbounded data to the driver.
  */
object BehaviorQueries {

  def queries: Seq[Q] = Seq(

    Q(
      "q102_activity_streaks",
      (s, d) => {
        import s.implicits._
        // Gaps-and-islands on DISTINCT activity days: consecutive days
        // share a constant (day - row_number) island key, so one
        // user-partitioned window + two bounded aggregations produce
        // longest-streak stats — never a self-join on adjacency. One
        // shuffle on user_id; distinct day count per user is bounded by
        // the calendar, so window state is tiny regardless of event
        // volume.
        val days = Tables.events(s, d)
          .select($"user_id",
            datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("day"))
          .distinct()
        val byUser = Window.partitionBy($"user_id").orderBy($"day")
        days
          .withColumn("grp", $"day" - row_number().over(byUser))
          .groupBy($"user_id", $"grp")
          .agg(count(lit(1)).as("len"))
          .groupBy($"user_id")
          .agg(max($"len").as("longest_streak"),
            count(lit(1)).as("n_streaks"),
            sum($"len").as("active_days"))
          .select($"user_id", $"longest_streak", $"n_streaks",
            $"active_days".cast("long").as("active_days"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks,
               CAST(SUM(len) AS BIGINT) AS active_days
        FROM (
          SELECT user_id, grp, COUNT(*) AS len
          FROM (
            SELECT user_id, day,
                   day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
            FROM (
              SELECT DISTINCT user_id,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
              FROM events) a
          ) b GROUP BY user_id, grp
        ) c GROUP BY user_id
        ORDER BY user_id"""),
      doc = "Consecutive-day activity streaks (gaps-and-islands): distinct epoch days, island key = day - row_number, longest/total per user — one user_id shuffle, no adjacency self-join."),

    Q(
      "q103_cohort_retention",
      (s, d) => {
        import s.implicits._
        // Weekly cohort retention triangle: cohort = first active epoch
        // week per user (a user-partitioned MIN window — no join back),
        // offset = active week - cohort week, cell = distinct users.
        // Two shuffles total (user distinct + cohort/offset agg); the
        // retention matrix is O(weeks²) rows, a driver-safe result at
        // any corpus size.
        val wk = Tables.events(s, d)
          .select($"user_id",
            expr("datediff(to_date(ts), '1970-01-01') div 7").as("week"))
          .distinct()
        wk.withColumn("cohort",
            min($"week").over(Window.partitionBy($"user_id")))
          .withColumn("wk_offset", $"week" - $"cohort")
          .groupBy($"cohort", $"wk_offset")
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort", $"wk_offset")
      },
      Some("""
        SELECT cohort, week - cohort AS wk_offset, COUNT(DISTINCT user_id) AS n_users
        FROM (
          SELECT user_id, week,
                 MIN(week) OVER (PARTITION BY user_id) AS cohort
          FROM (
            SELECT DISTINCT user_id,
                   (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) // 7 AS week
            FROM events) a
        ) b GROUP BY cohort, wk_offset
        ORDER BY cohort, wk_offset"""),
      doc = "Weekly cohort retention triangle: first-active-week cohort via a per-user MIN window (no join-back), distinct users per (cohort, week offset) — integer epoch-week arithmetic on both engines."),

    Q(
      "q104_skyline",
      (s, d) => {
        import s.implicits._
        // 2-D skyline (Pareto frontier: minimize p_size, maximize
        // p_retailprice) by the sort-based border scan, NOT the O(n²)
        // NOT-EXISTS dominance join: collapse to per-size maxima
        // (bounded by distinct sizes), one running-max window over that
        // tiny table finds frontier sizes, then a broadcast join tags
        // the surviving rows. Equal (size, price) ties don't dominate
        // each other, so all max-price rows of a frontier size survive —
        // matching strict-dominance semantics exactly.
        val part = Tables(s, d, "part")
        val bySize = part.groupBy($"p_size")
          .agg(max($"p_retailprice").as("maxp"))
        val ord = Window.orderBy($"p_size")
          .rowsBetween(Window.unboundedPreceding, -1)
        // single-task window, but over <= |distinct sizes| rows
        val frontier = bySize
          .withColumn("prevmax", max($"maxp").over(ord))
          .filter($"prevmax".isNull || $"maxp" > $"prevmax")
        part.join(broadcast(frontier), Seq("p_size"))
          .filter($"p_retailprice" === $"maxp")
          .select($"p_partkey", $"p_size".cast("long").as("p_size"),
            $"p_retailprice")
          .orderBy($"p_partkey")
      },
      Some("""
        WITH bysize AS (
          SELECT p_size, MAX(p_retailprice) AS maxp FROM part GROUP BY p_size),
        frontier AS (
          SELECT p_size, maxp,
                 MAX(maxp) OVER (ORDER BY p_size
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
          FROM bysize)
        SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS p_size, p.p_retailprice
        FROM part p JOIN frontier f ON p.p_size = f.p_size AND p.p_retailprice = f.maxp
        WHERE f.prevmax IS NULL OR f.maxp > f.prevmax
        ORDER BY p.p_partkey"""),
      doc = "2-D skyline (min size, max price) via the sort-based border scan: per-size maxima + one bounded running-max window + broadcast tag-back — O(n) data movement, never the O(n^2) NOT-EXISTS dominance join."),

    Q(
      "q105_interval_coverage",
      (s, d) => {
        import s.implicits._
        // Interval-union length per user (merge overlapping [ts, ts+30m)
        // activity windows): the classic sweep as windows — an interval
        // starts a new island iff its start exceeds the running max of
        // prior ends. Integer microseconds throughout (rule 8); island
        // length = max(end) - min(start) is order-free, so tie order
        // within equal starts cannot change the result. One shuffle on
        // user_id; per-user window state is one running max.
        val iv = Tables.events(s, d)
          .select($"user_id", $"event_id", unix_micros($"ts").as("st"))
          .withColumn("en", $"st" + 1800L * 1000000L)
        val byUser = Window.partitionBy($"user_id").orderBy($"st", $"event_id")
        iv
          .withColumn("prev_max_en",
            max($"en").over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when($"prev_max_en".isNull || $"st" > $"prev_max_en", 1).otherwise(0))
          .withColumn("island",
            sum($"brk").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy($"user_id", $"island")
          .agg((max($"en") - min($"st")).as("len"), count(lit(1)).as("n_iv"))
          .groupBy($"user_id")
          .agg(sum($"len").as("covered_us"), count(lit(1)).as("n_islands"),
            sum($"n_iv").as("n_intervals"))
          .select($"user_id", $"covered_us".cast("long").as("covered_us"),
            $"n_islands", $"n_intervals".cast("long").as("n_intervals"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, CAST(SUM(len) AS BIGINT) AS covered_us,
               COUNT(*) AS n_islands, CAST(SUM(n_iv) AS BIGINT) AS n_intervals
        FROM (
          SELECT user_id, island, MAX(en) - MIN(st) AS len, COUNT(*) AS n_iv
          FROM (
            SELECT user_id, st, en,
                   CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY st, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
            FROM (
              SELECT user_id, event_id, st, en,
                     CASE WHEN prev_max_en IS NULL OR st > prev_max_en THEN 1 ELSE 0 END AS brk
              FROM (
                SELECT user_id, event_id, EPOCH_US(ts) AS st,
                       EPOCH_US(ts) + 1800000000 AS en,
                       MAX(EPOCH_US(ts) + 1800000000) OVER (
                         PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_en
                FROM events) a) b) c
          GROUP BY user_id, island
        ) d GROUP BY user_id
        ORDER BY user_id"""),
      doc = "Interval-union coverage per user (overlapping 30-min activity windows merged by the running-max-of-ends sweep): total covered microseconds + merged-island counts, exact integer time arithmetic, one user_id shuffle."),

    Q(
      "q106_event_transitions",
      (s, d) => {
        import s.implicits._
        // First-order transition matrix over per-user event sequences:
        // lead() pairs each event with its successor (ordered by ts then
        // event_id — a unique total order, so cross-engine tie handling
        // cannot diverge), then one bounded groupBy over type pairs.
        val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, d)
          .withColumn("next_type", lead($"event_type", 1).over(byUser))
          .filter($"next_type".isNotNull)
          .groupBy($"event_type", $"next_type")
          .agg(count(lit(1)).as("n"))
          .orderBy($"event_type", $"next_type")
      },
      Some("""
        SELECT event_type, next_type, COUNT(*) AS n
        FROM (
          SELECT event_type,
                 LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          FROM events) a
        WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY event_type, next_type"""),
      doc = "First-order event-transition matrix: per-user lead() pairing on a unique total order, then a bounded type-pair aggregation — the Markov-chain input for journey modeling.")
  ,

    Q(
      "q107_percentile_disc",
      (s, d) => {
        import s.implicits._
        // Exact PERCENTILE_DISC (smallest value whose cumulative
        // distribution >= p) per group, with the target rank ceil(p*n)
        // computed in EXACT integer arithmetic — 0.9*n in doubles lands
        // an epsilon off an integer and ceil diverges across engines.
        // DuckDB's quantile_disc follows the same cumdist>=p convention
        // (probed: n=4 p=0.5 -> rank 2; n=5 p=0.9 -> rank 5), so the
        // oracle uses the NATIVE aggregate — a conformance row, not a
        // formula replay. r19 shape (guide §2.3 "aggregate before you
        // shuffle"): quantile_disc is a function of the value
        // DISTRIBUTION, so the rows pre-aggregate map-side to
        // (group, value) counts and the value at rank k is read off the
        // cumulative histogram as min{v : cum(v) >= k} — the shuffle
        // carries |distinct values| rows per group instead of every row,
        // and no full-data row_number sort funnels a group through one
        // task (was: a per-group rank window over all rows). The q35
        // bucketed-selection operator remains the path for near-unique
        // doubles where even the histogram would be row-sized.
        val counts = Tables(s, d, "lineitem")
          .select($"l_returnflag", $"l_quantity")
          .groupBy($"l_returnflag", $"l_quantity").agg(count(lit(1)).as("c"))
        val cumW = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
          .rowsBetween(Window.unboundedPreceding, 0)
        counts
          .withColumn("cum", sum($"c").over(cumW))
          .withColumn("n", sum($"c").over(Window.partitionBy($"l_returnflag")))
          .groupBy($"l_returnflag")
          .agg(
            min(when($"cum" >= expr("(n + 1) div 2"), $"l_quantity")).as("p50_disc"),
            min(when($"cum" >= expr("(9 * n + 9) div 10"), $"l_quantity")).as("p90_disc"),
            min(when($"cum" >= expr("(99 * n + 99) div 100"), $"l_quantity")).as("p99_disc"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               QUANTILE_DISC(l_quantity, 0.5)  AS p50_disc,
               QUANTILE_DISC(l_quantity, 0.9)  AS p90_disc,
               QUANTILE_DISC(l_quantity, 0.99) AS p99_disc
        FROM lineitem GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
      doc = "Exact PERCENTILE_DISC per group: rank = ceil(p*n) in pure integer arithmetic (never FP, where 0.9*n straddles an integer), one distributed per-group rank window; oracle is DuckDB's NATIVE quantile_disc — a cross-engine conformance row."),

    Q(
      "q108_hopping_windows",
      (s, d) => {
        import s.implicits._
        // Hopping (sliding) window aggregation in batch: 1-hour windows
        // every 15 minutes, so each event lands in exactly 4 windows.
        // Spark's built-in window() generator expands rows window-side
        // BEFORE the shuffle (no self-join against a calendar table) and
        // aligns window starts to the epoch — replayed in the oracle as
        // floor-to-15min minus k*15min for k in 0..3. Value sums route
        // through exact decimals (rule 2); window identity crosses the
        // gate as integer epoch microseconds (rule 8).
        Tables.events(s, d)
          .select(window($"ts", "1 hour", "15 minutes").as("w"), $"value")
          .groupBy(unix_micros($"w.start").as("win_start_us"))
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(Q.DEC)).cast("double").as("sum_value"))
          .orderBy($"win_start_us")
      },
      Some("""
        SELECT win_start_us, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM (
          SELECT (EPOCH_US(ts) // 900000000) * 900000000
                   - CAST(k AS BIGINT) * 900000000 AS win_start_us,
                 value
          FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) hops
        ) a
        GROUP BY win_start_us
        ORDER BY win_start_us"""),
      doc = "Hopping-window aggregation (1 h windows, 15 min hop): the built-in window() generator fans each event into its 4 windows map-side, epoch-aligned starts, one shuffle on the window key; exact-decimal value sums, integer-microsecond window identity."),

    Q(
      "q143_gap_fill",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // TIME-SERIES GAP FILLING + FORWARD FILL — the resampling step
        // every monitoring/feature pipeline runs before a model sees the
        // series: per event type, a DENSE hourly grid over the global
        // observed range (sequence() explode from ONE bounds row — no
        // calendar table join), hours with no events materialized as
        // n_events = 0, and the value column carried forward with
        // last(ignoreNulls) over an hour-ordered window (leading gap →
        // 0.0). Hour identity is integer epoch-micros floor-division
        // (rule 8); per-hour sums route through exact decimals (rule 2).
        // Scale shape: grid rows = types × hours (tiny vs events), one
        // shuffle for the agg, one for the per-type window.
        val ev = Tables.events(s, d).select($"event_type",
          (unix_micros($"ts") / 3600000000L).cast("long").as("hr"), $"value")
        val agg = ev.groupBy($"event_type", $"hr")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(Q.DEC)).cast("double").as("sv"))
        val grid = ev.agg(min($"hr").as("h0"), max($"hr").as("h1"))
          .select(explode(sequence($"h0", $"h1")).as("hr"))
          .crossJoin(ev.select($"event_type").distinct())
        val w = Window.partitionBy($"event_type").orderBy($"hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(agg, Seq("event_type", "hr"), "left")
          .select($"event_type", $"hr",
            coalesce($"n_events", lit(0L)).as("n_events"),
            coalesce(last($"sv", ignoreNulls = true).over(w), lit(0.0)).as("filled_value"))
          .orderBy($"event_type", $"hr")
      },
      Some("""
        WITH ev AS (SELECT event_type, EPOCH_US(ts) // 3600000000 AS hr, value FROM events),
        agg AS (SELECT event_type, hr, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sv
                FROM ev GROUP BY 1, 2),
        bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM ev),
        grid AS (SELECT t.event_type, g.hr FROM (SELECT DISTINCT event_type FROM ev) t
                 CROSS JOIN (SELECT UNNEST(RANGE((SELECT h0 FROM bounds), (SELECT h1 FROM bounds) + 1)) AS hr) g),
        joined AS (SELECT g.event_type, g.hr, COALESCE(a.n, 0) AS n_events, a.sv
                   FROM grid g LEFT JOIN agg a USING (event_type, hr))
        SELECT event_type, hr, n_events,
               COALESCE(LAST_VALUE(sv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS filled_value
        FROM joined
        ORDER BY event_type, hr"""),
      doc = "Time-series gap filling + forward fill: dense hourly grid per event type from one bounds row (sequence explode, no calendar join), missing hours as zero-count rows, value carried forward via last(ignoreNulls) ordered window with leading gaps at 0.0 — the resample/ffill primitive, integer hour identity and exact-decimal hour sums."),

    Q(
      "q147_mad_anomaly",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // ROBUST anomaly detection over the dense hourly series: flag
        // hours where |n − median| > 3·MAD per event type — the
        // median/MAD pair shrugs off the very outliers a mean/stddev
        // z-score would absorb. Built on the q143 grid so MISSING hours
        // (n = 0) are candidates too — an outage is the anomaly most
        // worth catching. Entirely INTEGER arithmetic: counts, disc
        // medians (exact rank (n+1) div 2, the q107 convention), and
        // absolute deviations are all integers, so the 3·MAD comparison
        // is bitwise engine-identical — no float thresholds.
        val ev = Tables.events(s, d).select($"event_type",
          (unix_micros($"ts") / 3600000000L).cast("long").as("hr"))
        val agg = ev.groupBy($"event_type", $"hr").agg(count(lit(1)).as("n0"))
        // the dense grid is referenced THREE times downstream (median
        // input, deviation join, final projection) and Spark re-derives
        // a referenced subtree per consumer — 24 exchanges in the
        // executed plan, three of them full event scans. The grid is
        // BOUNDED by construction (hours × event types, never
        // corpus-scaled), so one Lineage.cut snapshot makes every
        // consumer read the same few-KB blocks (r19; guide §1.2 "don't
        // compute things you throw away") — and honors the
        // spark.graft.checkpoint.reliable opt-in. Same for `dev` below
        // (two consumers).
        val series = QueryCaches.hold(Lineage.cut(
          ev.agg(min($"hr").as("h0"), max($"hr").as("h1"))
            .select(explode(sequence($"h0", $"h1")).as("hr"))
            .crossJoin(ev.select($"event_type").distinct())
            .join(agg, Seq("event_type", "hr"), "left")
            .select($"event_type", $"hr", coalesce($"n0", lit(0L)).as("n"))))
        def discMedian(df: org.apache.spark.sql.DataFrame, valueCol: String,
                       out: String) = df
          .withColumn("rn", row_number().over(
            Window.partitionBy($"event_type").orderBy(col(valueCol))).cast("long"))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"event_type")))
          .groupBy($"event_type")
          .agg(max(when($"rn" === expr("(cnt + 1) div 2"), col(valueCol))).as(out))
        val med = discMedian(series, "n", "med")
        val dev = QueryCaches.hold(Lineage.cut(
          series.join(med, "event_type")
            .withColumn("ad", abs($"n" - $"med"))))
        val mad = discMedian(dev, "ad", "mad")
        dev.join(mad, "event_type")
          .filter($"ad" > lit(3L) * $"mad")
          .select($"event_type", $"hr", $"n", $"med", $"mad")
          .orderBy($"event_type", $"hr")
      },
      Some("""
        WITH ev AS (SELECT event_type, EPOCH_US(ts) // 3600000000 AS hr FROM events),
        bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM ev),
        grid AS (SELECT t.event_type, g.hr FROM (SELECT DISTINCT event_type FROM ev) t
                 CROSS JOIN (SELECT UNNEST(RANGE((SELECT h0 FROM bounds), (SELECT h1 FROM bounds) + 1)) AS hr) g),
        agg AS (SELECT event_type, hr, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        series AS (SELECT g.event_type, g.hr, COALESCE(a.n, 0) AS n
                   FROM grid g LEFT JOIN agg a USING (event_type, hr)),
        med AS (SELECT event_type, QUANTILE_DISC(n, 0.5) AS med FROM series GROUP BY 1),
        dev AS (SELECT s.event_type, s.hr, s.n, m.med, ABS(s.n - m.med) AS ad
                FROM series s JOIN med m USING (event_type)),
        mad AS (SELECT event_type, QUANTILE_DISC(ad, 0.5) AS mad FROM dev GROUP BY 1)
        SELECT d.event_type, d.hr, d.n, d.med, m.mad
        FROM dev d JOIN mad m USING (event_type)
        WHERE d.ad > 3 * m.mad
        ORDER BY event_type, hr"""),
      doc = "Robust (median/MAD) time-series anomaly detection per event type over the dense hourly grid — missing hours are zero-count candidates, so outages flag; exact integer disc-medians (rank (n+1) div 2) and integer deviations make the 3*MAD threshold bitwise engine-identical; oracle uses DuckDB's native QUANTILE_DISC (same cumdist convention, q107)."),

    Q(
      "q144_ewma",
      (s, d) => {
        import s.implicits._
        // ORDER-DEPENDENT SEQUENTIAL KERNEL: integer EWMA (α = 1/4) per
        // user over ts-ordered events — e_0 = x_0, e_t = (x_t + 3·e_{t-1})
        // div 4 on cent-scaled values, the smoothing every rate-limiter /
        // anomaly detector runs. Spark has no ordered-scan aggregate, so
        // the recurrence folds per group: collect_list of (t, id, cents)
        // structs, array_sort (total order via the unique event_id
        // tie-break), then aggregate() seeded with the FIRST element over
        // the REST — exactly LIST_REDUCE's seeding, so DuckDB replays the
        // identical integer fold. State is bounded by the per-user event
        // count (the q107-family per-group discipline); all arithmetic is
        // integer floor-division — bitwise identical across engines.
        Tables.events(s, d)
          .select($"user_id",
            struct(unix_micros($"ts").as("t"), $"event_id".as("i"),
              round($"value" * 100).cast("long").as("c")).as("e"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            array_sort(collect_list($"e")).as("arr"))
          .select($"user_id", $"n_events",
            expr("aggregate(slice(arr, 2, size(arr) - 1), element_at(arr, 1).c, " +
              "(acc, x) -> (x.c + 3 * acc) div 4)").as("ewma_cents"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, COUNT(*) AS n_events,
               LIST_REDUCE(LIST(CAST(ROUND(value * 100) AS BIGINT) ORDER BY ts, event_id),
                 (acc, x) -> (x + 3 * acc) // 4) AS ewma_cents
        FROM events GROUP BY user_id ORDER BY user_id"""),
      doc = "Integer EWMA (alpha = 1/4) per user — the order-dependent sequential kernel: ts-ordered fold e_t = (x_t + 3*e_prev) div 4 on cent-scaled values, seeded with the first observation; per-group sorted-struct fold matches DuckDB LIST_REDUCE seeding exactly, integer floor-division end to end so the recurrence is bitwise engine-identical."),

    Q(
      "q152_funnel",
      (s, d) => {
        import s.implicits._
        // FUNNEL / ordered-sequence detection (the CEP pattern every
        // product-analytics engine ships): per user, the earliest view,
        // the first click strictly after it, the first purchase strictly
        // after that — stage = how deep the ordered chain goes. Three
        // min-aggregations over one scan (conditional min on integer
        // micros — no joins, no per-user sort): v = min(view ts); c =
        // min(click ts > v) needs v first, so the chain is two
        // groupBy passes over the SAME pre-aggregated per-user-type
        // minima table... done here as one pivot of per-type ordered
        // minima via min_by chains: compute per user the full ordered
        // chain with three conditional aggregations over the event list
        // (bounded per-user arrays, the q144 discipline).
        val ev = Tables.events(s, d)
          .select($"user_id", $"event_type", unix_micros($"ts").as("t"))
        val chain = ev.groupBy($"user_id")
          .agg(min(when($"event_type" === "view", $"t")).as("v_ts"))
          .join(ev, Seq("user_id"))
          .groupBy($"user_id", $"v_ts")
          .agg(min(when($"event_type" === "click" && $"t" > $"v_ts", $"t")).as("c_ts"))
          .join(ev, Seq("user_id"))
          .groupBy($"user_id", $"v_ts", $"c_ts")
          .agg(min(when($"event_type" === "purchase" && $"t" > $"c_ts", $"t")).as("p_ts"))
        chain.select($"user_id",
            (when($"p_ts".isNotNull, 3L).when($"c_ts".isNotNull, 2L)
              .when($"v_ts".isNotNull, 1L).otherwise(0L)).as("stage"),
            $"v_ts", $"c_ts", $"p_ts")
          .orderBy($"user_id")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type, EPOCH_US(ts) AS t FROM events),
        v AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN t END) AS v_ts
              FROM ev GROUP BY 1),
        c AS (SELECT e.user_id, v.v_ts,
                     MIN(CASE WHEN e.event_type = 'click' AND e.t > v.v_ts THEN e.t END) AS c_ts
              FROM ev e JOIN v ON e.user_id = v.user_id GROUP BY 1, 2),
        p AS (SELECT e.user_id, c.v_ts, c.c_ts,
                     MIN(CASE WHEN e.event_type = 'purchase' AND e.t > c.c_ts THEN e.t END) AS p_ts
              FROM ev e JOIN c ON e.user_id = c.user_id GROUP BY 1, 2, 3)
        SELECT user_id,
               CAST(CASE WHEN p_ts IS NOT NULL THEN 3
                         WHEN c_ts IS NOT NULL THEN 2
                         WHEN v_ts IS NOT NULL THEN 1
                         ELSE 0 END AS BIGINT) AS stage,
               v_ts, c_ts, p_ts
        FROM p
        ORDER BY user_id"""),
      doc = "Funnel / ordered-sequence detection (view -> first click after -> first purchase after): three chained conditional-min aggregations over integer micros — no per-user sort, no window state; stage counts how deep the ordered chain goes, the CEP primitive of product analytics."),

    Q(
      "q153_range_frames",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // RANGE-frame conformance (the window-family gap: q113 pins ROWS
        // frames): value-range frames over the SPARSE hourly series —
        // deliberately NOT gap-filled, because on a dense grid RANGE
        // degenerates to ROWS and the test proves nothing. A missing
        // hour inside the 4-hour lookback must be excluded by VALUE, so
        // any engine that implements RANGE as row-counting diverges on
        // the first gap. Trailing and leading frames both pinned;
        // integer counts only.
        val series = Tables.events(s, d)
          .select($"event_type", (unix_micros($"ts") / 3600000000L).cast("long").as("hr"))
          .groupBy($"event_type", $"hr").agg(count(lit(1)).as("n"))
        val back = Window.partitionBy($"event_type").orderBy($"hr").rangeBetween(-3, 0)
        val fwd = Window.partitionBy($"event_type").orderBy($"hr")
          .rangeBetween(Window.currentRow, 2)
        series.select($"event_type", $"hr", $"n",
            sum($"n").over(back).as("sum_4h_back"),
            count(lit(1)).over(back).as("rows_in_4h"),
            sum($"n").over(fwd).as("sum_3h_fwd"))
          .orderBy($"event_type", $"hr")
      },
      Some("""
        WITH series AS (
          SELECT event_type, EPOCH_US(ts) // 3600000000 AS hr, COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT event_type, hr, n,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hr
                 RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_4h_back,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
                 RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS rows_in_4h,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hr
                 RANGE BETWEEN CURRENT ROW AND 2 FOLLOWING) AS BIGINT) AS sum_3h_fwd
        FROM series
        ORDER BY event_type, hr"""),
      doc = "RANGE-frame window conformance over the sparse hourly series (q113's ROWS-frame sibling): value-range trailing and leading frames where gaps in the ordering key force the frame to exclude by VALUE, not row count — the moving-aggregate semantics that silently differ when an engine row-counts its RANGE frames."),

    Q(
      "q148_dist_drift",
      (s, d) => {
        import s.implicits._
        // DISTRIBUTION-DRIFT detection between two corpus halves (the
        // train/serve skew monitor): per event type, compare the first
        // and second half of the time range with an exact integer
        // cross-product statistic — delta2 = (o_a·N_b − o_b·N_a)², the
        // χ²-style term with the rational division deferred so every
        // comparison is integer-exact; the reported drift score is ONE
        // IEEE division of two exact integers (engine-identical, the
        // q60 mean rule). The split point is the integer midpoint hour
        // — a pure function of the data, no RNG, no wall clock.
        val ev = Tables.events(s, d).select($"event_type",
          (unix_micros($"ts") / 3600000000L).cast("long").as("hr"))
        val mid = ev.agg(((min($"hr") + max($"hr")) / lit(2L)).cast("long").as("m"))
        val counts = ev.crossJoin(mid)
          .groupBy($"event_type")
          .agg(sum(when($"hr" < $"m", 1L).otherwise(0L)).as("o_a"),
            sum(when($"hr" >= $"m", 1L).otherwise(0L)).as("o_b"))
        val totals = counts.agg(sum($"o_a").as("na"), sum($"o_b").as("nb"))
        // delta is exact int64 (envelope: N <= ~3e9 events per monitor
        // window, since o·N products bound by N²); the SQUARE happens in
        // double after ONE exact cast — delta² in int64 overflows (ANSI
        // throw) once |delta| > 3e9, which any real drift on a
        // billion-event window reaches. double(delta)·double(delta) and
        // double(na)·double(nb) are the same fixed IEEE sequence in both
        // engines.
        counts.crossJoin(totals)
          .select($"event_type", $"o_a", $"o_b",
            ($"o_a" * $"nb" - $"o_b" * $"na").as("delta"),
            ((($"o_a" * $"nb" - $"o_b" * $"na").cast("double")
              * ($"o_a" * $"nb" - $"o_b" * $"na").cast("double"))
              / ($"na".cast("double") * $"nb".cast("double"))).as("drift_score"))
          .orderBy($"event_type")
      },
      Some("""
        WITH ev AS (SELECT event_type, EPOCH_US(ts) // 3600000000 AS hr FROM events),
        mid AS (SELECT (MIN(hr) + MAX(hr)) // 2 AS m FROM ev),
        counts AS (SELECT event_type,
                     CAST(SUM(CASE WHEN hr < (SELECT m FROM mid) THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
                     CAST(SUM(CASE WHEN hr >= (SELECT m FROM mid) THEN 1 ELSE 0 END) AS BIGINT) AS o_b
                   FROM ev GROUP BY 1),
        totals AS (SELECT CAST(SUM(o_a) AS BIGINT) AS na, CAST(SUM(o_b) AS BIGINT) AS nb FROM counts)
        SELECT c.event_type, c.o_a, c.o_b,
               CAST(c.o_a * t.nb - c.o_b * t.na AS BIGINT) AS delta,
               (CAST(c.o_a * t.nb - c.o_b * t.na AS DOUBLE) * CAST(c.o_a * t.nb - c.o_b * t.na AS DOUBLE))
                 / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) AS drift_score
        FROM counts c CROSS JOIN totals t
        ORDER BY c.event_type"""),
      doc = "Distribution-drift monitor (train/serve skew): per-type first-half vs second-half comparison via the exact integer cross-product statistic (o_a*N_b - o_b*N_a)^2 — the chi-square term with division deferred to one final IEEE divide of exact integers, so the gate is engine-identical; midpoint split is a pure function of the data."),

    Q(
      "q145_grouping_sets",
      (s, d) => {
        import s.implicits._
        // GROUPING SETS beyond q29's ROLLUP: an explicit non-hierarchical
        // set list — (flag, status), (flag), (status), () — which no
        // rollup/cube shorthand expresses, plus the GROUPING() indicator
        // per column (the standard way to tell a real NULL from a
        // super-aggregate row). One shuffle: Spark expands the sets
        // map-side (Expand node), aggregates once.
        graft.operators.Scatter.even(
            Tables.lineitem(s, d), Seq($"l_orderkey", $"l_linenumber"))
          .groupingSets(
            Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
              Seq($"l_linestatus"), Seq.empty),
            $"l_returnflag", $"l_linestatus")
          .agg(grouping($"l_returnflag").cast("long").as("g_rf"),
            grouping($"l_linestatus").cast("long").as("g_ls"),
            count(lit(1)).as("n"),
            sum($"l_quantity".cast(Q.DEC)).cast("double").as("sum_qty"))
          .orderBy($"g_rf", $"g_ls", $"l_returnflag", $"l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus"""),
      doc = "Explicit GROUPING SETS — the non-hierarchical set list no ROLLUP/CUBE shorthand expresses — with per-column GROUPING() indicators distinguishing super-aggregate NULLs from data NULLs; one Expand + one aggregation shuffle, exact-decimal sums."),

    Q(
      "q110_temporal_functions",
      (s, d) => {
        import s.implicits._
        // Temporal-kernel conformance row: the extract/trunc/shift/diff
        // functions every reporting query leans on, row-level so any
        // single-date divergence between engines is a hash mismatch.
        // Calendar outputs cross the gate as formatted strings (never
        // raw date/timestamp cells) and counts as longs (rule 10);
        // day-of-week is deliberately absent — the engines number
        // weekdays differently.
        // per-row calendar chain behind the ORDER BY's own range
        // exchange (Scatter.ordered): same plan shape, every core
        // formatting instead of the one-row-group scan task
        graft.operators.Scatter.ordered(
          Tables(s, d, "orders"), Seq($"o_orderkey")) { t => t
          .select(
            $"o_orderkey",
            year($"o_orderdate").cast("long").as("y"),
            quarter($"o_orderdate").cast("long").as("q"),
            month($"o_orderdate").cast("long").as("m"),
            dayofmonth($"o_orderdate").cast("long").as("dom"),
            date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM-dd").as("month_start"),
            date_format(last_day($"o_orderdate"), "yyyy-MM-dd").as("month_end"),
            date_format(date_add(to_date($"o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
            datediff(to_date($"o_orderdate"), lit("1995-01-01")).cast("long").as("days_since"))
        }
      },
      Some("""
        SELECT o_orderkey,
               EXTRACT(YEAR FROM o_orderdate) AS y,
               EXTRACT(QUARTER FROM o_orderdate) AS q,
               EXTRACT(MONTH FROM o_orderdate) AS m,
               EXTRACT(DAY FROM o_orderdate) AS dom,
               STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
               STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
               STRFTIME(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
               CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS days_since
        FROM orders
        ORDER BY o_orderkey"""),
      doc = "Temporal-kernel conformance: extract (year/quarter/month/day), month truncation, last_day, 30-day shift, and date difference agree row-for-row across engines; calendar values cross the gate as formatted strings."),

    Q(
      "q111_pushdown_time_range",
      (s, d) => {
        import s.implicits._
        // Ten-day slice of the event stream through the SARGABLE loader:
        // the range reaches the parquet scan as an int64 nanosecond
        // predicate (PlanSpec pins PushedFilters), so row groups outside
        // the window are skipped on statistics — the normalized view's
        // ts arithmetic would read the whole lake instead. Jan 10-20
        // bounds in epoch microseconds; DuckDB applies the same
        // truncation reading ns parquet.
        Tables.eventsRange(s, d, 1704844800000000L, 1705708800000000L)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(Q.DEC)).cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM events
        WHERE EPOCH_US(ts) >= 1704844800000000 AND EPOCH_US(ts) < 1705708800000000
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "Sargable time-range scan: the range predicate is pushed to the parquet scan as exact int64 nanosecond bounds (row groups outside the window never leave disk) — the normalized timestamp view cannot push this filter; the 100 TB read-a-day-not-the-lake path."),

    Q(
      "q112_string_functions",
      (s, d) => {
        import s.implicits._
        // String-kernel conformance row (the q110 pattern for text): the
        // case/pad/translate/reverse/search/split primitives the text
        // pipeline leans on, row-level over documents so any divergence
        // in 1-based indexing, absent-match conventions (instr/STRPOS
        // return 0), or no-delimiter split behavior is a hash mismatch.
        // All pure codegen'd scalar pipelines — one scan, no shuffle
        // before the final sort.
        Tables.documents(s, d)
          .select(
            $"doc_id",
            length($"text").cast("long").as("len"),
            upper(substring($"text", 1, 12)).as("up12"),
            lower(substring($"text", 1, 12)).as("lo12"),
            lpad(substring($"text", 1, 5), 8, "*").as("lp"),
            rpad(substring($"text", 1, 5), 8, "*").as("rp"),
            translate(substring($"text", 1, 20), "aeiou", "AEIOU").as("tr"),
            reverse(substring($"text", 1, 10)).as("rev"),
            instr($"text", "data").cast("long").as("pos"),
            substring_index($"text", " ", 1).as("first_word"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS len,
               UPPER(SUBSTR(text, 1, 12)) AS up12,
               LOWER(SUBSTR(text, 1, 12)) AS lo12,
               LPAD(SUBSTR(text, 1, 5), 8, '*') AS lp,
               RPAD(SUBSTR(text, 1, 5), 8, '*') AS rp,
               TRANSLATE(SUBSTR(text, 1, 20), 'aeiou', 'AEIOU') AS tr,
               REVERSE(SUBSTR(text, 1, 10)) AS rev,
               CAST(STRPOS(text, 'data') AS BIGINT) AS pos,
               SPLIT_PART(text, ' ', 1) AS first_word
        FROM documents
        ORDER BY doc_id"""),
      doc = "String-kernel conformance: case mapping, padding, translate, reverse, 1-based substring search (0 when absent), and first-token split agree row-for-row across engines — pure codegen scalar pipelines, one scan."),

    Q(
      "q113_window_sql_verbatim",
      (s, d) => SqlSurface.sql(s, d, WindowSqlQuery),
      Some(WindowSqlQuery),
      doc = "Windowed aggregation as ONE verbatim ANSI string through spark.sql AND DuckDB (the q51/q91 evidence class): running exact-decimal sum, rank, ntile, first_value and a moving max over explicit ROWS frames on a unique total order; rank-family outputs cast to BIGINT inside the shared string so dtypes agree."),

    Q(
      "q114_numeric_functions",
      (s, d) => {
        import s.implicits._
        // Numeric-kernel conformance row (the q110/q112 pattern): round,
        // floor/ceil, abs/sign, sqrt and integer mod agree row-for-row.
        // Caveats baked in: Spark round() rounds the double's SHORTEST
        // DECIMAL representation (BigDecimal.valueOf) while DuckDB
        // rounds in scaled arithmetic — they agree on this corpus's
        // 2-decimal values at 1 decimal, but constants like 1.005
        // diverge (Spark 1.01, DuckDB 1.0), so rounding never targets
        // the data's own precision edge; sqrt is IEEE-correctly-rounded
        // in both engines (libm guarantees it, unlike pow/log); mod
        // operands stay non-negative (engines differ on negative mod
        // sign conventions).
        Tables.events(s, d)
          .select(
            $"event_id",
            round($"value", 1).as("r1"),
            floor($"value").cast("long").as("fl"),
            ceil($"value").cast("long").as("ce"),
            abs($"value" - lit(100.0)).as("ab"),
            signum($"value" - lit(100.0)).cast("long").as("sg"),
            sqrt($"value").as("sq"),
            ($"event_id" % 97).as("md"))
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id,
               ROUND(value, 1) AS r1,
               CAST(FLOOR(value) AS BIGINT) AS fl,
               CAST(CEIL(value) AS BIGINT) AS ce,
               ABS(value - 100.0::DOUBLE) AS ab,
               CAST(SIGN(value - 100.0::DOUBLE) AS BIGINT) AS sg,
               SQRT(value) AS sq,
               event_id % 97 AS md
        FROM events
        ORDER BY event_id"""),
      doc = "Numeric-kernel conformance: round/floor/ceil/abs/sign/sqrt/mod agree row-for-row — sqrt is IEEE-correctly-rounded in both engines; rounding avoids the shortest-repr divergence edge (Spark rounds the decimal string, DuckDB scaled arithmetic); mod stays non-negative."),

    Q(
      "q117_windowed_heavy_hitters",
      (s, d) => {
        import s.implicits._
        // Hopping-window heavy hitters (q108 × q84 composition): per
        // 1-hour/15-min-hop window, the event types carrying > 10% of
        // that window's events. ONE shuffle on (window, type) — the
        // window() generator fans rows map-side exactly as in q108 — and
        // the per-window total comes from a window function over the
        // already-AGGREGATED (window, type) table (|windows| × |types|
        // rows, tiny), never a second scan of the raw events. The 10%
        // gate is exact integer arithmetic (n*10 > total), no doubles.
        val perType = Tables.events(s, d)
          .select(window($"ts", "1 hour", "15 minutes").as("w"), $"event_type")
          .groupBy(unix_micros($"w.start").as("win_start_us"), $"event_type")
          .agg(count(lit(1)).as("n"))
        val winTotal = org.apache.spark.sql.expressions.Window
          .partitionBy($"win_start_us")
        perType
          .withColumn("win_total", sum($"n").over(winTotal))
          .filter($"n" * 10 > $"win_total")
          .select($"win_start_us", $"event_type", $"n", $"win_total")
          .orderBy($"win_start_us", $"event_type")
      },
      Some("""
        WITH expanded AS (
          SELECT (EPOCH_US(ts) // 900000000) * 900000000
                   - CAST(k AS BIGINT) * 900000000 AS win_start_us,
                 event_type
          FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) hops),
        per_type AS (
          SELECT win_start_us, event_type, COUNT(*) AS n
          FROM expanded GROUP BY win_start_us, event_type)
        SELECT win_start_us, event_type, n,
               CAST(SUM(n) OVER (PARTITION BY win_start_us) AS BIGINT) AS win_total
        FROM per_type
        QUALIFY n * 10 > win_total
        ORDER BY win_start_us, event_type"""),
      doc = "Hopping-window heavy hitters (q108 x q84 composition): per 1-hour/15-min window, event types above 10% of window volume — one shuffle on (window, type), per-window totals via a window function over the aggregated table (never a raw rescan), exact integer threshold."),

    Q(
      "q120_conditional_functions",
      (s, d) => {
        import s.implicits._
        // Conditional-kernel conformance row (the q110/q112/q114 family):
        // COALESCE / NULLIF / GREATEST / LEAST / CASE with NULLs in
        // play. Pinned semantics both engines share: GREATEST/LEAST
        // IGNORE NULL arguments (return the extreme of the non-null
        // ones, NULL only when all are) — the Postgres convention, NOT
        // the standard's null-poisoning; NULLIF(x, x) is NULL; CASE
        // branches evaluate top-down. NULLs are injected on
        // deterministic id subsets so every code path appears in the
        // data. All pure codegen, one scan.
        Tables.events(s, d)
          .select(
            $"event_id",
            coalesce(nullif($"event_type", lit("click")), lit("was_click")).as("co"),
            nullif($"event_id" % 3, lit(0L)).as("nf"),
            greatest($"value", lit(100.0d),
              when($"event_id" % 2 === 0, $"value" * 2).otherwise(lit(null))).as("gr"),
            least($"value", when($"event_id" % 7 === 0, lit(null)).otherwise(lit(50.0d))).as("le"),
            when($"value" > 150, lit("hi")).when($"value" > 50, lit("mid"))
              .otherwise(lit("lo")).as("band"))
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id,
               COALESCE(NULLIF(event_type, 'click'), 'was_click') AS co,
               NULLIF(event_id % 3, 0) AS nf,
               GREATEST(value, 100.0::DOUBLE,
                        CASE WHEN event_id % 2 = 0 THEN value * 2 ELSE NULL END) AS gr,
               LEAST(value, CASE WHEN event_id % 7 = 0 THEN NULL ELSE 50.0::DOUBLE END) AS le,
               CASE WHEN value > 150 THEN 'hi' WHEN value > 50 THEN 'mid' ELSE 'lo' END AS band
        FROM events
        ORDER BY event_id"""),
      doc = "Conditional-kernel conformance: COALESCE/NULLIF/GREATEST/LEAST/CASE agree row-for-row with NULLs exercised on every path — both engines use the Postgres convention (GREATEST ignores NULL args, not the standard's null-poisoning), pinned here so a dialect shift is a hash mismatch."),

    Q(
      "q121_regex_functions",
      (s, d) => {
        import s.implicits._
        // Regex-kernel conformance row. Spark executes java.util.regex,
        // DuckDB executes RE2 — the row sticks to the shared-safe
        // subset (literal classes, +/* quantifiers, anchored groups; no
        // backrefs, no lookaround — the same discipline as q53's PII
        // redaction). Pinned conventions: Spark regexp_replace is
        // global by default while DuckDB needs the explicit 'g' flag;
        // absent-match regexp_extract returns EMPTY STRING (not NULL)
        // in both; rlike/REGEXP_MATCHES is unanchored contains-match.
        Tables.documents(s, d)
          .select(
            $"doc_id",
            regexp_extract($"text", "([a-z]+)", 1).as("first_word"),
            regexp_extract($"text", "([0-9]+)", 1).as("first_num"),
            regexp_replace($"text", "[aeiou]", "_").as("devowel"),
            $"text".rlike("ing\\b").cast("long").as("has_ing"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
               REGEXP_EXTRACT(text, '([0-9]+)', 1) AS first_num,
               REGEXP_REPLACE(text, '[aeiou]', '_', 'g') AS devowel,
               CAST(REGEXP_MATCHES(text, 'ing\b') AS BIGINT) AS has_ing
        FROM documents
        ORDER BY doc_id"""),
      doc = "Regex-kernel conformance over the java.util.regex/RE2 shared-safe subset: group extraction (empty string on absent match), global replace (Spark default vs DuckDB 'g' flag — pinned), word-boundary contains-match; no backrefs or lookaround ever enter the engine.")
  ,

    Q(
      "q122_array_functions",
      (s, d) => {
        import s.implicits._
        // Array-kernel conformance row: the lambda-free array primitives
        // (q79 covers higher-order transform/filter/aggregate). Arrays
        // cross the gate as space-joined strings (NOTES determinism
        // rule) after a SORT, because Spark array_distinct preserves
        // first-occurrence order while DuckDB LIST_DISTINCT does not
        // guarantee one — sorting pins a canonical form both agree on.
        // Pinned 1-based conventions: slice(arr, 2, 3) == arr[2:4];
        // array_position returns 0 when absent in BOTH engines (DuckDB
        // v1.0 LIST_POSITION, matching Spark — not the documented NULL).
        val toks = split($"text", " ")
        Tables.documents(s, d)
          .select(
            $"doc_id",
            array_join(sort_array(toks), " ").as("sorted_toks"),
            array_join(sort_array(array_distinct(toks)), " ").as("distinct_toks"),
            array_join(slice(toks, 2, 3), " ").as("slice_2_3"),
            array_contains(toks, "the").cast("long").as("has_the"),
            array_position(toks, "data").cast("long").as("pos_data"),
            size(toks).cast("long").as("n_toks"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(text, ' ')), ' ') AS sorted_toks,
               ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ') AS distinct_toks,
               ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[2:4], ' ') AS slice_2_3,
               CAST(LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the') AS BIGINT) AS has_the,
               CAST(LIST_POSITION(STRING_SPLIT(text, ' '), 'data') AS BIGINT) AS pos_data,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_toks
        FROM documents
        ORDER BY doc_id"""),
      doc = "Array-kernel conformance: sort/distinct/slice/contains/position/length agree row-for-row — arrays cross as sorted space-joined strings (distinct ordering is engine-defined, sorting canonicalizes), 1-based slice and position conventions pinned (absent position is 0 in both).")
  ,

    Q(
      "q125_rounding_modes",
      (s, d) => {
        import s.implicits._
        // Rounding-MODE conformance row, completing q114's numeric
        // kernels: exact binary halves (k + 0.5 and k/8 doubles are
        // exactly representable, so no shortest-repr ambiguity) pushed
        // through BOTH modes — round() is HALF AWAY FROM ZERO in both
        // engines (Spark HALF_UP via BigDecimal on positives AND
        // negatives matches DuckDB ROUND), bround() is HALF TO EVEN
        // (matches DuckDB ROUND_EVEN: 2.5→2, 3.5→4, −2.5→−2). A mode
        // drift in either engine is a hash mismatch on every .5 row.
        // SIGNED ZERO pin: bround(-0.5) is +0.0 in Spark (BigDecimal has
        // no −0) but ROUND_EVEN yields IEEE −0.0 in DuckDB — the one
        // genuine divergence this row found; both sides normalize with
        // `+ 0.0` (IEEE: −0.0 + 0.0 = +0.0), documented here so the
        // edge stays visible. Pure codegen scalar pipeline, one scan —
        // the per-row BigDecimal rounding is CPU-heavy, so the ORDER
        // BY's own range exchange runs BEFORE the projection
        // (Scatter.ordered): same plan shape, rounding on every core
        // instead of inside the row-group-bound scan task.
        val h = ($"l_orderkey" % 100).cast("double") + lit(0.5)
        val e = ($"l_orderkey" % 800).cast("double") / lit(8.0)
        graft.operators.Scatter.ordered(Tables.lineitem(s, d)
            .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey"),
          Seq($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")) {
          _.select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
            round(h).as("r_away"),
            bround(h).as("r_even"),
            (round(-h) + lit(0.0)).as("r_away_neg"),
            (bround(-h) + lit(0.0)).as("r_even_neg"),
            round(e, 2).as("r2_away"),
            bround(e, 2).as("r2_even"))
        }
      },
      Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               ROUND(CAST(l_orderkey % 100 AS DOUBLE) + 0.5, 0) AS r_away,
               ROUND_EVEN(CAST(l_orderkey % 100 AS DOUBLE) + 0.5, 0) AS r_even,
               ROUND(-(CAST(l_orderkey % 100 AS DOUBLE) + 0.5), 0) + 0.0 AS r_away_neg,
               ROUND_EVEN(-(CAST(l_orderkey % 100 AS DOUBLE) + 0.5), 0) + 0.0 AS r_even_neg,
               ROUND(CAST(l_orderkey % 800 AS DOUBLE) / 8.0, 2) AS r2_away,
               ROUND_EVEN(CAST(l_orderkey % 800 AS DOUBLE) / 8.0, 2) AS r2_even
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      doc = "Rounding-mode conformance on exact binary halves: round == half-away-from-zero (Spark HALF_UP ↔ DuckDB ROUND, negatives included), bround == half-to-even (↔ ROUND_EVEN) — the two modes that silently corrupt financial aggregates when an engine swap changes them; every .5 row is a live tripwire. Found divergence, pinned: DuckDB ROUND_EVEN(-0.5) is IEEE −0.0 while Spark bround is +0.0 — normalized with +0.0 on both sides.")
  ,

    Q(
      "q127_try_functions",
      (s, d) => {
        import s.implicits._
        // Error-HANDLING kernel conformance: at 100 TB of dirty data,
        // "bad cell → NULL row, job survives" beats "bad cell → job
        // dies" — the TRY family is that contract. Pinned equivalences:
        // Spark try_divide(x, 0) == DuckDB's native x/0 (BOTH yield
        // NULL, doubles included — DuckDB never raises on /0);
        // try_cast(malformed → NULL) == TRY_CAST for unparsable
        // strings and empty string (conformance holds on clean digits
        // and whitespace-padded digits; '3.9'-style numeric strings
        // deliberately EXCLUDED — DuckDB TRY_CAST rounds to 4 where
        // Spark yields NULL, a real divergence kept out of the gate and
        // documented here); try_add overflow-to-NULL pinned against an
        // explicit CASE (DuckDB has no TRY arithmetic — its BIGINT
        // overflow raises, which is exactly why the guard is spelled
        // out). Pure codegen, one scan.
        val divisor = ($"o_orderkey" % 5).cast("double")
        val messy = when($"o_orderkey" % 3 === 0, lit("abc"))
          .when($"o_orderkey" % 3 === 1,
            concat(lit(" "), $"o_orderkey".cast("string"), lit(" ")))
          .otherwise($"o_orderkey".cast("string"))
        // try_cast of the malformed third of rows catches a JVM
        // exception each — CPU-heavy per row, so the ORDER BY's range
        // exchange runs before the projection (Scatter.ordered): same
        // plan shape, the catch cost spread over every core
        graft.operators.Scatter.ordered(
          Tables.orders(s, d).select($"o_orderkey", $"o_totalprice"),
          Seq($"o_orderkey")) {
          _.withColumn("messy", messy)
            .select($"o_orderkey",
              try_divide($"o_totalprice".cast("double"), divisor).as("td"),
              expr("try_cast(messy AS bigint)").as("tc"),
              // overflow on ~0.1% of rows, not half: TRY arithmetic
              // catches a JVM exception per overflowing row (~17 µs
              // measured) — it is the contract for RARE corruption; a
              // systematically overflowing column would make the "safe"
              // path 40× slower than the job it protects
              try_add(lit(Long.MaxValue),
                when($"o_orderkey" % 1000 === 0, 1L).otherwise(0L)).as("ta"))
        }
      },
      Some("""
        SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) / CAST(o_orderkey % 5 AS DOUBLE) AS td,
               TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'abc'
                             WHEN o_orderkey % 3 = 1 THEN ' ' || CAST(o_orderkey AS VARCHAR) || ' '
                             ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS tc,
               CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                    ELSE 9223372036854775807 END AS ta
        FROM orders
        ORDER BY o_orderkey"""),
      doc = "Error-handling (TRY) kernel conformance: try_divide(x,0)==NULL matches DuckDB's native never-raising division (doubles included); try_cast(malformed|padded-digits)==TRY_CAST (decimal-string-to-int deliberately excluded — DuckDB rounds '3.9'→4 where Spark yields NULL, divergence documented in-source); try_add BIGINT-overflow-to-NULL pinned against an explicit CASE because DuckDB's overflow raises — the dirty-data survival contract at 100 TB. Measured: each caught overflow costs ~17 µs (JVM exception), so TRY arithmetic is priced for RARE corruption — overflow kept at 0.1% of rows here, and the trade documented in-source.")
  ,

    Q(
      "q128_bitwise_functions",
      (s, d) => {
        import s.implicits._
        // Bitwise-kernel conformance row, closing the scalar-kernel
        // family (temporal/string/numeric/conditional/regex/array/
        // rounding/TRY/this): AND/OR/XOR, shifts, popcount, complement
        // over BIGINT — the primitives the engine's own bitmap algebra
        // (q81/q115), SimHash banding (q23), and hash mixing lean on.
        // Pinned conventions: right shift is ARITHMETIC
        // (sign-extending) in BOTH engines — (-x) >> 2 on every row
        // makes a logical-shift regression a hash mismatch — and
        // BIT_COUNT of a negative counts the two's-complement ones.
        // Pure codegen, one scan.
        val x = $"o_orderkey".cast("long")
        Tables.orders(s, d)
          .select($"o_orderkey",
            x.bitwiseAND(lit(255L)).as("b_and"),
            x.bitwiseOR(lit(16L)).as("b_or"),
            x.bitwiseXOR(lit(85L)).as("b_xor"),
            shiftleft(x, 3).as("shl"),
            shiftright(-x, 2).as("shr_neg"),
            bit_count(x).cast("long").as("bits"),
            bit_count(-x).cast("long").as("bits_neg"),
            bitwise_not(x).as("b_not"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               CAST(o_orderkey AS BIGINT) & 255 AS b_and,
               CAST(o_orderkey AS BIGINT) | 16 AS b_or,
               XOR(CAST(o_orderkey AS BIGINT), 85) AS b_xor,
               CAST(o_orderkey AS BIGINT) << 3 AS shl,
               (-CAST(o_orderkey AS BIGINT)) >> 2 AS shr_neg,
               CAST(BIT_COUNT(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS bits,
               CAST(BIT_COUNT(-CAST(o_orderkey AS BIGINT)) AS BIGINT) AS bits_neg,
               ~CAST(o_orderkey AS BIGINT) AS b_not
        FROM orders
        ORDER BY o_orderkey"""),
      doc = "Bitwise-kernel conformance: AND/OR/XOR/shifts/popcount/complement over BIGINT agree row-for-row — arithmetic (sign-extending) right shift pinned on negatives, two's-complement popcount pinned via BIT_COUNT(-x); the primitives under the engine's bitmap algebra, SimHash banding, and hash mixing.")
  ,

    Q(
      "q129_digest_functions",
      (s, d) => {
        import s.implicits._
        // Digest-kernel conformance: content addressing is how a 100 TB
        // pipeline names things (dedup keys, cache keys, provenance
        // ids), so the digest bytes must be IDENTICAL across engines.
        // Pinned: md5 and sha-256 over the raw UTF-8 text (lowercase
        // hex in both engines), plus a keyed content address
        // (id ':' text) proving concat feeds the digest byte-identically.
        // The shared subset is {md5, sha256} — DuckDB has no sha1/crc32,
        // Spark's fingerprint family (q35/q36) already leans on md5 —
        // so this row pins the primitive those rows build on.
        Tables.documents(s, d)
          .select($"doc_id",
            md5($"text").as("d_md5"),
            sha2($"text", 256).as("d_sha256"),
            md5(concat($"doc_id".cast("string"), lit(":"), $"text")).as("keyed_md5"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               MD5(text) AS d_md5,
               SHA256(text) AS d_sha256,
               MD5(CAST(doc_id AS VARCHAR) || ':' || text) AS keyed_md5
        FROM documents
        ORDER BY doc_id"""),
      doc = "Digest-kernel conformance: md5 and sha-256 hex digests (and a keyed id:text content address) byte-identical across engines over UTF-8 text — the primitive under content-addressed dedup, cache keys, and the q35/q36 fingerprint family; shared subset pinned (DuckDB lacks sha1/crc32).")
  ,

    Q(
      "q138_decimal_conformance",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        // DECIMAL conformance row — fixed-point is the money type, and
        // an engine swap that shifts a precision/scale rule or a cast
        // rounding mode corrupts financial aggregates SILENTLY. Pinned
        // over DECIMAL(12,2) operands (exact: the source doubles carry
        // <= 2 decimals, so both engines cast them losslessly):
        //   * +/− propagate to (13,2) and × to scale 4 IDENTICALLY in
        //     both engines — results compared as full-scale strings, so
        //     a propagation drift changes the text, not just the value.
        //   * DIVISION — divergence #1: DuckDB promotes decimal ÷
        //     decimal to DOUBLE, Spark keeps DECIMAL(27,15) rounded
        //     HALF_UP (scale = max(6, s1+p2+1) = 15 under default
        //     precision-loss rules). The oracle re-implements Spark's
        //     contract INDEPENDENTLY: exact scaled-integer HUGEINT
        //     arithmetic, (2·a·10^15 + b) // (2·b) = half-up nearest —
        //     agreement proves the quotient digits, not a shared code
        //     path. (No exact ties exist here: b = quantity·100 ≤ 5000
        //     has no 2^16/5^16 factor, so a quotient either terminates
        //     within 15 digits or repeats infinitely — and Spark's
        //     34-significant-digit intermediate cannot flip nearest at
        //     distance ≥ 10^-20 from a midpoint.)
        //   * downscale CAST — divergence #2: DuckDB decimal→decimal
        //     cast TRUNCATES toward zero (2.99→2.9), Spark rounds
        //     HALF_UP (away from zero on ties, both signs); oracle
        //     emulates with ROUND(x,1) (half-away), negatives included.
        //   * CAST to BIGINT — divergence #3: DuckDB ROUNDS (2.96→3),
        //     Spark TRUNCATES toward zero (2.96→2); oracle emulates
        //     with TRUNC, both signs.
        //   * double→decimal cast on exact k/8 binaries: Spark rounds
        //     the SHORTEST-REPR decimal string HALF_UP (q114's rule),
        //     DuckDB rounds the exact value half-away — they agree on
        //     exact-binary inputs, which is what the gate holds to.
        // Pure codegen scalar pipeline, one scan; divergences are
        // emulated on the ORACLE side so the Spark plan stays the
        // natural one a user would write. Runs over orders (unique key,
        // 1/4 of lineitem's rows): the gate checks KERNELS, and 150 k
        // rows at sf0.1 already exercise every digit/sign/tie path —
        // scale-15 BigDecimal division per row is the whole cost.
        val a = $"o_totalprice".cast(DecimalType(12, 2))
        val b = ($"o_orderkey" % 97 + 3).cast(DecimalType(12, 2))
        val negA = lit(0).cast(DecimalType(12, 2)) - a
        // scale-15 BigDecimal division per row is the whole cost — run
        // it on the parallel side of the ORDER BY's own range exchange
        // (Scatter.ordered): same plan shape, every core dividing
        graft.operators.Scatter.ordered(
          Tables.orders(s, d).select($"o_orderkey", $"o_totalprice"),
          Seq($"o_orderkey")) {
          _.select($"o_orderkey",
            (a + b).cast("string").as("d_add"),
            (a - b).cast("string").as("d_sub"),
            (a * b).cast("string").as("d_mul"),
            (negA * b).cast("string").as("d_mul_neg"),
            (a / b).cast("string").as("d_div"),
            a.cast(DecimalType(10, 1)).cast("string").as("d_cast_down"),
            negA.cast(DecimalType(10, 1)).cast("string").as("d_cast_down_neg"),
            a.cast("long").as("d_to_long"),
            negA.cast("long").as("d_to_long_neg"),
            (($"o_orderkey" % 800).cast("double") / lit(8.0))
              .cast(DecimalType(10, 2)).cast("string").as("d_from_double"))
        }
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS a,
                 CAST(o_orderkey % 97 + 3 AS DECIMAL(12,2)) AS b,
                 CAST(ROUND(o_totalprice * 100) AS HUGEINT) AS ai,
                 CAST((o_orderkey % 97 + 3) * 100 AS HUGEINT) AS bi
          FROM orders),
        divq AS (
          SELECT *, (2 * ai * 1000000000000000 + bi) // (2 * bi) AS q15
          FROM base)
        SELECT o_orderkey,
               CAST(a + b AS VARCHAR) AS d_add,
               CAST(a - b AS VARCHAR) AS d_sub,
               CAST(a * b AS VARCHAR) AS d_mul,
               CAST((-a) * b AS VARCHAR) AS d_mul_neg,
               CAST(q15 // 1000000000000000 AS VARCHAR) || '.' ||
                 LPAD(CAST(q15 % 1000000000000000 AS VARCHAR), 15, '0') AS d_div,
               CAST(CAST(ROUND(a, 1) AS DECIMAL(10,1)) AS VARCHAR) AS d_cast_down,
               CAST(CAST(ROUND(-a, 1) AS DECIMAL(10,1)) AS VARCHAR) AS d_cast_down_neg,
               CAST(TRUNC(a) AS BIGINT) AS d_to_long,
               CAST(TRUNC(-a) AS BIGINT) AS d_to_long_neg,
               CAST(CAST(CAST(o_orderkey % 800 AS DOUBLE) / 8.0 AS DECIMAL(10,2)) AS VARCHAR) AS d_from_double
        FROM divq
        ORDER BY o_orderkey"""),
      doc = "DECIMAL(38,x) conformance: +/−/× precision-scale propagation string-identical; Spark's DECIMAL(27,15) HALF_UP division pinned against an independent HUGEINT scaled-integer half-up implementation (DuckDB natively promotes decimal division to DOUBLE — divergence documented); downscale-cast rounding (Spark HALF_UP vs DuckDB truncate-toward-zero) and decimal→BIGINT casts (Spark truncates, DuckDB rounds) emulated oracle-side with ROUND/TRUNC, both signs — the money-type rules an engine swap silently breaks.")
  ,

    Q(
      "q156_session_windows",
      (s, d) => {
        import s.implicits._
        // Batch session_window conformance: Spark's built-in gap-based
        // session generator (groupBy(session_window(ts, gap), key) —
        // one shuffle on user_id, sessions merged engine-side) replayed
        // in the oracle from FIRST PRINCIPLES as the classic
        // lag-gap-flag + running-sum sessionization. Boundary semantics
        // pinned: a session window is [first_ts, last_ts + gap) with the
        // END EXCLUSIVE, so an event at exactly prev + gap starts a NEW
        // session — the oracle's new-session predicate is `diff >= gap`,
        // not `>`. Session identity crosses the gate as integer epoch
        // microseconds (rule 8); value sums route through exact decimals
        // (rule 2). At 100 TB this is the one-shuffle plan: sessions are
        // assembled inside each user_id partition, never via self-joins.
        Tables.events(s, d)
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(Q.DEC)).cast("double").as("sum_value"))
          .select($"user_id",
            unix_micros($"session_window.start").as("session_start_us"),
            unix_micros($"session_window.end").as("session_end_us"),
            $"n_events", $"sum_value")
          .orderBy($"user_id", $"session_start_us")
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, value,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged)
        SELECT user_id,
               EPOCH_US(MIN(ts)) AS session_start_us,
               EPOCH_US(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start_us"""),
      doc = "Batch gap-sessionization conformance: Spark's session_window generator vs a first-principles lag-gap-flag + running-sum oracle — end-exclusive [first, last+gap) windows, the `>= gap starts a new session` boundary pinned, integer-microsecond session identity, exact-decimal value sums; one shuffle on user_id, no self-joins.")
  ,

    Q(
      "q157_url_functions",
      (s, d) => {
        import s.implicits._
        // URL-kernel conformance: web-scale corpora carry a URL per
        // document, and domain-level grouping / parameter extraction is
        // the first step of crawl curation (host dedup, tracking-param
        // stripping). The URL is SYNTHESIZED from the row's own columns,
        // so the oracle can state each component from first principles —
        // the row then pins that Spark's parse_url(HOST/PATH/QUERY/REF/
        // PROTOCOL and per-key QUERY lookup) extracts exactly what was
        // assembled. Pure codegen scalar pipeline, one scan.
        val url = concat(lit("https://"), $"source", lit(".example.com/docs/"),
          $"lang", lit("/"), $"doc_id".cast("string"),
          lit("?lang="), $"lang", lit("&n="), $"n_chars".cast("string"),
          lit("#s"), pmod($"doc_id", lit(5)).cast("string"))
        Tables.documents(s, d)
          .select($"doc_id",
            parse_url(url, lit("PROTOCOL")).as("proto"),
            parse_url(url, lit("HOST")).as("host"),
            parse_url(url, lit("PATH")).as("path"),
            parse_url(url, lit("QUERY")).as("query"),
            parse_url(url, lit("REF")).as("frag"),
            parse_url(url, lit("QUERY"), lit("n")).as("param_n"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'https' AS proto,
               source || '.example.com' AS host,
               '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
               'lang=' || lang || '&n=' || CAST(n_chars AS VARCHAR) AS query,
               's' || CAST(doc_id % 5 AS VARCHAR) AS frag,
               CAST(n_chars AS VARCHAR) AS param_n
        FROM documents
        ORDER BY doc_id"""),
      doc = "URL-kernel conformance: parse_url PROTOCOL/HOST/PATH/QUERY/REF plus per-key query-parameter lookup over URLs synthesized from the row's own columns — the oracle states each component from first principles, so any extraction drift (delimiter handling, fragment vs query precedence) is a hash mismatch; the host/parameter kernels behind crawl-corpus domain dedup and tracking-param stripping.")
  ,

    Q(
      "q158_array_set_algebra",
      (s, d) => {
        import s.implicits._
        // Array SET-algebra conformance, completing q122's positional
        // kernels: intersect/union/except (all DISTINCT-semantics in
        // both engines — pinned), multiset remove (keeps duplicates of
        // the others), overlap predicate, and list-aggregate min/max.
        // Arrays cross the gate as SORTED space-joined strings (q122
        // rule: result order of the set ops is engine-defined; sorting
        // canonicalizes). DuckDB spellings differ everywhere
        // (LIST_INTERSECT dedups like Spark; union/except are built from
        // LIST_DISTINCT/LIST_FILTER) which is exactly what makes the row
        // a conformance gate rather than a syntax echo.
        val toks = split($"text", " ")
        val ref = array(lit("data"), lit("table"), lit("row"), lit("scan"))
        Tables.documents(s, d)
          .select($"doc_id",
            array_join(sort_array(array_intersect(toks, ref)), " ").as("i_toks"),
            array_join(sort_array(array_union(toks, ref)), " ").as("u_toks"),
            array_join(sort_array(array_except(toks, ref)), " ").as("e_toks"),
            array_join(sort_array(array_remove(toks, "the")), " ").as("rm_toks"),
            arrays_overlap(toks, ref).cast("long").as("has_overlap"),
            array_min(toks).as("min_tok"),
            array_max(toks).as("max_tok"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
                 ['data', 'table', 'row', 'scan'] AS ref
          FROM documents)
        -- COALESCE pin: DuckDB ARRAY_TO_STRING([]) is NULL while Spark
        -- array_join([]) is '' — normalized oracle-side so an EMPTY set
        -- result (e.g. no ref token present) still hash-matches
        SELECT doc_id,
               COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_INTERSECT(toks, ref)), ' '), '') AS i_toks,
               COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(toks || ref)), ' '), '') AS u_toks,
               COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
                 LIST_FILTER(toks, x -> NOT LIST_CONTAINS(ref, x)))), ' '), '') AS e_toks,
               COALESCE(ARRAY_TO_STRING(LIST_SORT(
                 LIST_FILTER(toks, x -> x != 'the')), ' '), '') AS rm_toks,
               CAST(LEN(LIST_INTERSECT(toks, ref)) > 0 AS BIGINT) AS has_overlap,
               LIST_AGGREGATE(toks, 'min') AS min_tok,
               LIST_AGGREGATE(toks, 'max') AS max_tok
        FROM t
        ORDER BY doc_id"""),
      doc = "Array set-algebra conformance: intersect/union/except (distinct semantics pinned in both engines), multiset remove, overlap predicate, list min/max — DuckDB builds the same ops from LIST_DISTINCT/LIST_FILTER primitives, so semantic drift (dedup or not, null placement) is a hash mismatch; arrays canonicalized by sort before crossing the gate.")
  ,

    Q(
      "q159_edit_distance",
      (s, d) => {
        import s.implicits._
        // Edit-distance kernels: the verify step of every fuzzy-match /
        // entity-resolution pipeline (q155 uses levenshtein inside its
        // composite; this row pins the kernel ITSELF on controlled
        // mutations). Three regimes: substitution-only distance (digit
        // swap via translate — 0↔5, so the distance varies row to row),
        // insertion-only distance (name vs its 12-char prefix: distance
        // = len−12 exactly), and the empty-string edge (= full length).
        // The THRESHOLD form (Spark levenshtein(l, r, k) returns −1 when
        // the distance exceeds k — the O(k·n) banded algorithm that
        // makes verify affordable at scale) is replayed oracle-side as
        // CASE WHEN lev <= k. translate() conformance rides along.
        val mutated = translate($"c_name", "05", "50")
        val prefix = substring($"c_name", 1, 12)
        Tables.customer(s, d)
          .select($"c_custkey",
            levenshtein($"c_name", mutated).cast("long").as("lev_sub"),
            levenshtein($"c_name", mutated, 3).cast("long").as("lev_sub_k3"),
            levenshtein($"c_name", prefix).cast("long").as("lev_ins"),
            levenshtein(lit(""), $"c_name").cast("long").as("lev_empty"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey,
               LEVENSHTEIN(c_name, TRANSLATE(c_name, '05', '50')) AS lev_sub,
               CASE WHEN LEVENSHTEIN(c_name, TRANSLATE(c_name, '05', '50')) <= 3
                    THEN LEVENSHTEIN(c_name, TRANSLATE(c_name, '05', '50'))
                    ELSE -1 END AS lev_sub_k3,
               LEVENSHTEIN(c_name, SUBSTRING(c_name, 1, 12)) AS lev_ins,
               LEVENSHTEIN('', c_name) AS lev_empty
        FROM customer
        ORDER BY c_custkey"""),
      doc = "Edit-distance kernel conformance on controlled mutations: substitution-only (digit-swap translate), insertion-only (prefix truncation), empty-string edge, and the banded THRESHOLD form (levenshtein(l,r,k) = −1 beyond k — the O(k·n) variant that keeps fuzzy-match verify affordable) replayed as CASE in the oracle; translate() rides along.")
  ,

    Q(
      "q160_width_bucket",
      (s, d) => {
        import s.implicits._
        // width_bucket histogram conformance: equal-width bucketing is
        // the map-side histogram primitive (one integer expression per
        // row, then an ordinary groupBy — no sort, no quantile pass;
        // q88's equi-HEIGHT histogram is the complementary shape). The
        // oracle replays Spark's exact evaluation — out-of-range pins:
        // v < lo → 0, v >= hi → n+1, else (v−lo)/((hi−lo)/n)+1 truncated
        // — as arithmetic, so a formula drift (e.g. (v−lo)·n/(hi−lo),
        // which differs in IEEE rounding) is a hash mismatch. The
        // shifted column drives the below-range branch on real rows.
        val b = width_bucket($"value", lit(0.0), lit(50.0), lit(25))
        val bs = width_bucket($"value" - lit(25.0), lit(0.0), lit(50.0), lit(25))
        Tables.events(s, d)
          .groupBy(b.as("bucket"), bs.as("bucket_shift"))
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(Q.DEC)).cast("double").as("sum_value"))
          .orderBy($"bucket", $"bucket_shift")
      },
      Some("""
        WITH b AS (
          SELECT value,
                 CASE WHEN value < 0.0 THEN 0
                      WHEN value >= 50.0 THEN 26
                      ELSE CAST(FLOOR(value / (50.0 / 25)) + 1 AS BIGINT) END AS bucket,
                 CASE WHEN value - 25.0 < 0.0 THEN 0
                      WHEN value - 25.0 >= 50.0 THEN 26
                      ELSE CAST(FLOOR((value - 25.0) / (50.0 / 25)) + 1 AS BIGINT)
                      END AS bucket_shift
          FROM events)
        SELECT bucket, bucket_shift, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        FROM b
        GROUP BY bucket, bucket_shift
        ORDER BY bucket, bucket_shift"""),
      doc = "width_bucket equal-width histogram conformance: Spark's evaluation replayed as oracle arithmetic — below/above-range sentinels (0, n+1) and the exact (v−lo)/width+1 IEEE formula pinned (the algebraically-equal (v−lo)·n/(hi−lo) rounds differently); map-side integer bucketing + one groupBy, the no-sort histogram shape for 100 TB profiling.")
  ,

    Q(
      "q166_lead_lag",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Offset-window kernel conformance, completing the family (q143
        // covers last(ignoreNulls) forward fill): lead with an explicit
        // DEFAULT (the missing-next sentinel), plain lag, lag IGNORE
        // NULLS (most recent prior non-null — the event-stream "last
        // good reading" kernel), and nth_value over the running frame.
        // All offsets ride ONE window spec — one shuffle on user_id,
        // one sort; the ordering key is the full unique (ts, event_id)
        // so every offset is tie-free.
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sv = when($"event_type" === "error", lit(null).cast("long"))
          .otherwise($"event_id")
        Tables.events(s, d)
          .select($"event_id", $"user_id",
            lead($"event_id", 2, -1L).over(w).as("lead2"),
            lag($"event_id", 1).over(w).as("lag1"),
            lag(sv, 1, null, ignoreNulls = true).over(w).as("lag_nn"),
            nth_value($"event_id", 2).over(wRun).as("nth2"))
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id, user_id,
               LEAD(event_id, 2, -1) OVER w AS lead2,
               LAG(event_id, 1) OVER w AS lag1,
               LAG(CASE WHEN event_type = 'error' THEN NULL ELSE event_id END
                   IGNORE NULLS) OVER w AS lag_nn,
               NTH_VALUE(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY event_id"""),
      doc = "Offset-window kernels on one window spec: lead with explicit default, lag, lag IGNORE NULLS (most recent prior non-null — the last-good-reading kernel), nth_value over the running frame; full unique ordering key so every offset is tie-free, one shuffle + one sort total.")
  ,

    Q(
      "q167_explode_outer",
      (s, d) => {
        import s.implicits._
        // OUTER generator semantics: plain explode DROPS rows whose
        // array is empty — silently losing every document without a hit,
        // the classic fan-out bug in extraction pipelines — while
        // posexplode_outer keeps them as a single (null pos, null value)
        // row. The array is the per-doc 'data' hit list (filter HOF), so
        // both branches occur on real rows; pos rides along to pin
        // 0-based ordinality. Oracle: LEFT JOIN LATERAL over zipped
        // UNNESTs (DuckDB's plain UNNEST also drops empties — the same
        // trap, the same explicit-outer fix).
        Tables.documents(s, d)
          .select($"doc_id",
            posexplode_outer(expr("filter(split(text, ' '), x -> x = 'data')")))
          .select($"doc_id", $"pos".cast("long").as("tok_pos"), $"col".as("tok"))
          .orderBy($"doc_id", $"tok_pos")
      },
      Some("""
        SELECT doc_id, CAST(u.p AS BIGINT) AS tok_pos, u.x AS tok
        FROM documents
        LEFT JOIN LATERAL (
          SELECT UNNEST(generate_series(0, LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                                           t -> t = 'data')) - 1)) AS p,
                 UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t = 'data')) AS x) u
          ON TRUE
        ORDER BY doc_id, tok_pos"""),
      doc = "Outer-generator conformance: posexplode_outer keeps empty-array rows as (null, null) where plain explode silently drops the document — the fan-out row-loss trap; 0-based ordinality pinned, oracle replays via LEFT JOIN LATERAL zipped UNNESTs.")
  ,

    Q(
      "q168_pad_format",
      (s, d) => {
        import s.implicits._
        // String padding + printf-style formatting kernels: fixed-width
        // key rendering (lpad/rpad incl. the truncate-when-longer edge)
        // and format_string (Java Formatter) vs DuckDB printf (C-style)
        // on the conservative shared subset — %s, zero-padded %0Nd,
        // fixed %.2f on exactly-representable halves. Pure codegen
        // scalar pipeline, one scan.
        Tables.customer(s, d)
          .select($"c_custkey",
            lpad($"c_name", 25, "*").as("lp"),
            rpad($"c_name", 25, "-").as("rp"),
            lpad($"c_mktsegment", 4, "#").as("lp_trunc"),
            format_string("%s=%05d", $"c_mktsegment", $"c_custkey" % 10000).as("fmt"),
            format_string("%.2f", ($"c_custkey" % 8).cast("double") / 2.0).as("fmt_f"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey,
               LPAD(c_name, 25, '*') AS lp,
               RPAD(c_name, 25, '-') AS rp,
               LPAD(c_mktsegment, 4, '#') AS lp_trunc,
               PRINTF('%s=%05d', c_mktsegment, c_custkey % 10000) AS fmt,
               PRINTF('%.2f', CAST(c_custkey % 8 AS DOUBLE) / 2.0) AS fmt_f
        FROM customer
        ORDER BY c_custkey"""),
      doc = "Padding + formatting kernels: lpad/rpad with fill chars incl. truncate-when-longer, and Java-Formatter format_string vs C-printf on the shared-safe subset (%s, %0Nd, %.2f over exact binary halves) — fixed-width render drift is a hash mismatch.")
  ,

    Q(
      "q170_like_escape",
      (s, d) => {
        import s.implicits._
        // LIKE-family conformance: wildcard _ vs an ESCAPED literal
        // underscore (the discriminating row pair is synthesized so half
        // the rows contain a real '_' and half a plain char — the
        // escaped pattern must split them while the unescaped one
        // matches both), case-insensitive ILIKE, NOT LIKE, and a
        // %-infix. Verbatim SQL predicates through expr() so the text
        // is the same the oracle runs.
        val probe = when($"c_custkey" % 2 === 0, lit("A_B")).otherwise(lit("AXB"))
        Tables.customer(s, d)
          .withColumn("probe", probe)
          .select($"c_custkey",
            expr("probe LIKE 'A$_B' ESCAPE '$'").cast("long").as("esc_us"),
            expr("probe LIKE 'A_B'").cast("long").as("wild_us"),
            expr("c_mktsegment ILIKE 'build%'").cast("long").as("ilike_pre"),
            expr("c_name NOT LIKE '%99%'").cast("long").as("not_like"),
            expr("c_name LIKE '%000_2%'").cast("long").as("infix"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey,
               CAST(probe LIKE 'A$_B' ESCAPE '$' AS BIGINT) AS esc_us,
               CAST(probe LIKE 'A_B' AS BIGINT) AS wild_us,
               CAST(c_mktsegment ILIKE 'build%' AS BIGINT) AS ilike_pre,
               CAST(c_name NOT LIKE '%99%' AS BIGINT) AS not_like,
               CAST(c_name LIKE '%000_2%' AS BIGINT) AS infix
        FROM (SELECT *, CASE WHEN c_custkey % 2 = 0 THEN 'A_B' ELSE 'AXB' END AS probe
              FROM customer) t
        ORDER BY c_custkey"""),
      doc = "LIKE-family conformance: ESCAPE'd literal underscore vs the _ wildcard on a synthesized discriminating pair (escaped pattern splits the rows, unescaped matches both), ILIKE case folding, NOT LIKE, %-infix — verbatim predicate text both engines.")
  ,

    Q(
      "q171_base64_hex",
      (s, d) => {
        import s.implicits._
        // Binary <-> text transport kernels: base64 and hex are how
        // binary media/sketch columns cross JSON APIs and text logs.
        // Padding and alphabet pinned via full-document base64, hex of
        // UTF-8 bytes, and both ROUND TRIPS decoded back to the source
        // string (a decode drift surfaces as a corrupted round trip,
        // not just a different rendering). FOUND DIVERGENCE, pinned:
        // Spark base64 emits MIME-CHUNKED output (CRLF every 76 chars,
        // java.util.Base64 MIME encoder) where DuckDB TO_BASE64 is
        // unwrapped — normalized by stripping CRLF Spark-side; the
        // round trip below decodes the CHUNKED form, proving unbase64
        // accepts both shapes.
        Tables.documents(s, d)
          .select($"doc_id",
            regexp_replace(base64($"text".cast("binary")), "\r\n", "").as("b64"),
            unbase64(base64($"text".cast("binary"))).cast("string").as("b64_rt"),
            hex(substring($"text", 1, 8)).as("hx"),
            unhex(hex(substring($"text", 1, 8))).cast("string").as("hx_rt"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               TO_BASE64(CAST(text AS BLOB)) AS b64,
               CAST(FROM_BASE64(TO_BASE64(CAST(text AS BLOB))) AS VARCHAR) AS b64_rt,
               HEX(SUBSTRING(text, 1, 8)) AS hx,
               CAST(UNHEX(HEX(SUBSTRING(text, 1, 8))) AS VARCHAR) AS hx_rt
        FROM documents
        ORDER BY doc_id"""),
      doc = "base64/hex transport kernels with both round trips: alphabet, padding, and byte fidelity pinned over full documents — the binary-column-over-text-channel path every sketch store and media API uses. Found divergence, pinned: Spark base64 is MIME-chunked (CRLF/76 chars) vs DuckDB unwrapped — stripped Spark-side, with the round trip decoding the chunked form.")
  ,

    Q(
      "q172_greatest_least",
      (s, d) => {
        import s.implicits._
        // greatest/least null semantics: BOTH engines SKIP nulls
        // (greatest(1, NULL, 3) = 3) and return NULL only when every
        // argument is null — unlike binary comparisons where null
        // poisons. The CASE-built null arguments hit the skip path on
        // 1/3 of rows and the all-null path on a deterministic subset.
        val a = ($"o_orderkey" % 97).cast("long")
        val b = ($"o_orderkey" % 89).cast("long")
        val nA = when($"o_orderkey" % 3 === 0, lit(null).cast("long")).otherwise(a)
        val nB = when($"o_orderkey" % 3 =!= 1, lit(null).cast("long")).otherwise(b)
        Tables.orders(s, d)
          .select($"o_orderkey",
            greatest(a, b, nA).as("g_skip"),
            least(a, b, nA).as("l_skip"),
            greatest(nA, nB).as("g_two_null"),
            least(nA, nB).as("l_two_null"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               GREATEST(a, b, na) AS g_skip,
               LEAST(a, b, na) AS l_skip,
               GREATEST(na, nb) AS g_two_null,
               LEAST(na, nb) AS l_two_null
        FROM (SELECT o_orderkey,
                     CAST(o_orderkey % 97 AS BIGINT) AS a,
                     CAST(o_orderkey % 89 AS BIGINT) AS b,
                     CASE WHEN o_orderkey % 3 = 0 THEN NULL
                          ELSE CAST(o_orderkey % 97 AS BIGINT) END AS na,
                     CASE WHEN o_orderkey % 3 != 1 THEN NULL
                          ELSE CAST(o_orderkey % 89 AS BIGINT) END AS nb
              FROM orders) t
        ORDER BY o_orderkey"""),
      doc = "greatest/least null-skipping conformance: nulls are ignored (not poisoning) in both engines, all-null yields NULL — pinned on CASE-built null arguments hitting the skip path and the all-null path on deterministic row subsets.")
  )

  /** Shared verbatim window-function string (q113): identical ANSI syntax
    * in Spark SQL and DuckDB. The decimal-routed running sum is exact in
    * both engines (rule 2); every OVER clause orders by the FULL unique
    * key (l_orderkey, l_linenumber, l_partkey, l_suppkey — linenumber
    * alone is NOT unique per order in this testdata) so ROWS frames are
    * tie-free.
    */
  private val WindowSqlQuery: String = """
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) OVER
             (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty,
           CAST(RANK() OVER
             (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS BIGINT) AS rk,
           CAST(NTILE(4) OVER
             (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS BIGINT) AS nt,
           FIRST_VALUE(l_quantity) OVER
             (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fv,
           MAX(l_quantity) OVER
             (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_max
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
}
