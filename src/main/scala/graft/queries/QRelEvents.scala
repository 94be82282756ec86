package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.multimodal.Multimodal
import graft.sources.Sinks

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — extended relational surface (skew/cube/set ops/HLL) + event-sequence operators.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QRelEvents {
  import Dictionaries.{Stopwords => Stop}

  def qs: Seq[Q] = Seq(

    // ---- extended relational surface: skew salting, cube, lag, set ops, HLL
    Q("q_salted_agg",  // two-phase salted aggregation == direct aggregation
      (s, dir) => SkewOps.saltedAgg(
          Tables.table(s, dir, "lineitem"), Seq("l_returnflag"),
          Seq(SkewOps.AggSpec("sum", "l_quantity", "sum_qty"),
            SkewOps.AggSpec("count", "", "cnt"),
            SkewOps.AggSpec("min", "l_extendedprice", "min_price"),
            SkewOps.AggSpec("max", "l_extendedprice", "max_price")))
        .withColumn("sum_qty", round(col("sum_qty"), 2))
        .withColumn("min_price", round(col("min_price"), 2))
        .withColumn("max_price", round(col("max_price"), 2))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt, round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q_salted_join",  // skew-safe fact-to-fact join: salted left, replicated
      (s, dir) => SkewOps.saltedJoin(  // right — row set identical to plain join
          Tables.table(s, dir, "lineitem"),
          Tables.table(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey"), salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin), singlePass = true),

    Q("q_skew_join_aqe",  // adaptive complement of q_salted_join: plain SMJ,
      (s, dir) => SkewOps.aqeSkewJoin(  // hot keys left to AQE's runtime split
          Tables.table(s, dir, "lineitem"),  // (skew-split plan-audited in
          Tables.table(s, dir, "orders")     // SkewOpsSpec on a skewed fixture)
            .withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("q_cube",
      (s, dir) => Tables.table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    Q("q_window_lag",  // lead/lag: per-user inter-event gap in seconds
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
          .filter(col("prev_ns").isNotNull)
          .select(col("user_id"), col("event_id"),
            expr("(ts_ns - prev_ns) div 1000000000").as("gap_s"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
        |  CAST((epoch_ns(ts) - epoch_ns(prev)) // 1000000000 AS BIGINT) AS gap_s
        |FROM (SELECT user_id, event_id, ts,
        |        lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |      FROM events)
        |WHERE prev IS NOT NULL ORDER BY user_id, event_id""".stripMargin)),

    Q("q_intersect",  // custkeys appearing in both halves of the order book
      (s, dir) => {
        val o = Tables.table(s, dir, "orders")
        o.filter(col("o_totalprice") >= 250000).select(col("o_custkey"))
          .intersect(o.filter(col("o_totalprice") < 250000).select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice >= 250000
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice < 250000
        |ORDER BY o_custkey""".stripMargin)),

    Q("q_except",  // custkeys with only-large orders
      (s, dir) => {
        val o = Tables.table(s, dir, "orders")
        o.filter(col("o_totalprice") >= 250000).select(col("o_custkey"))
          .except(o.filter(col("o_totalprice") < 250000).select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice >= 250000
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice < 250000
        |ORDER BY o_custkey""".stripMargin)),

    Q("q_distinct_parts",  // the exact half of the distinct-count pair — oracled
      (s, dir) => Tables.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q_approx_distinct",  // HLL++ sketch half — engine-specific values →
      (s, dir) => Tables.table(s, dir, "lineitem")  // rows-only; error band
        .groupBy(col("l_returnflag"))               // proven vs q_distinct_parts
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag"),                   // in InvariantSweepSpec (3 SFs)
      None),

    Q("q_approx_percentiles",  // t-digest-style sketch quantiles — engine-
      (s, dir) => Tables.table(s, dir, "lineitem")  // specific values → rows-
        .groupBy(col("l_returnflag"))               // only; rank-error band
        .agg(                                       // proven in InvariantSweepSpec
          round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 4).as("p50_approx"),
          round(expr("approx_percentile(l_extendedprice, 0.95, 1000)"), 4).as("p95_approx"))
        .orderBy("l_returnflag"),
      None),

    Q("q_approx_distinct_err",  // error-bound GATE for the HLL++ sketch
      // (VERDICT r15 #2: q_approx_distinct was one of two rows-only
      // entries with no value-oracled twin — the q_cws_err calibration
      // device closes it): both engines compute the EXACT per-group
      // distinct count identically, and the sketch's relative error
      // rides along as a bounded boolean — Spark evaluates
      // |hll − exact|/exact ≤ 5% (2.5σ at rsd 0.02; HLL++ switches to
      // exact sparse mode below ~1.5k so small SFs are exact), DuckDB
      // asserts the literal bound. A sketch regression past the band
      // flips the boolean and fails the hash compare — the sketch is
      // now CORRECTNESS-gated without pretending its value is
      // engine-portable. Scale: one pass, partial aggs both columns;
      // the HLL buffer is fixed-size per group.
      (s, dir) => Tables.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("a"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("a") - col("exact_parts"))
            .cast("double") / col("exact_parts") <= 0.05).as("err_le_5pct"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS err_le_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q_approx_percentiles_err",  // error-bound GATE for the quantile
      // sketch (VERDICT r15 #2, the second rows-only closure): exact
      // p50/p95 computed identically in both engines (percentile ↔
      // quantile_cont — the q_price_quartiles parity), plus the
      // sketch's RANK error as bounded booleans. approx_percentile
      // guarantees the returned value's rank within ±1/accuracy of the
      // target; with accuracy 1000 we gate at ±1% — Spark counts the
      // sketch value's true rank fraction via a 3-row broadcast join
      // back against the data (frac(< v) ≤ q+ε and frac(≤ v) ≥ q−ε),
      // DuckDB asserts the bounds. Scale: two passes over the group —
      // one agg for sketch+exact, one re-scan for the rank counts —
      // both partial-agged, the sketch frame broadcast.
      (s, dir) => {
        val li = Tables.table(s, dir, "lineitem")
        // the 3-row frame feeds both the broadcast probe and the final
        // join, so its agg subplan appears twice in the plan. That is
        // DELIBERATE (measured r16): a localCheckpoint cut costs 3.3 s
        // warm at sf0.1 vs 0.53 s for the doubled subplan — the
        // materialization barrier dwarfs the re-aggregation. The two
        // approx_percentile copies are identical, not merely close:
        // within one plan both see the same partition layout, and the
        // GK sketch's build/merge is deterministic for a fixed layout.
        val agg = li.groupBy(col("l_returnflag")).agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50a"),
          expr("approx_percentile(l_extendedprice, 0.95, 1000)").as("p95a"),
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"),
          count(lit(1)).cast("double").as("n"))
        val ranks = li
          .join(broadcast(agg.select(col("l_returnflag"), col("p50a"), col("p95a"))),
            Seq("l_returnflag"))
          .groupBy(col("l_returnflag")).agg(
            sum(when(col("l_extendedprice") < col("p50a"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("l_extendedprice") <= col("p50a"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("l_extendedprice") < col("p95a"), 1L).otherwise(0L)).as("lt95"),
            sum(when(col("l_extendedprice") <= col("p95a"), 1L).otherwise(0L)).as("le95"))
        agg.join(ranks, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            round(col("p50"), 4).as("p50"), round(col("p95"), 4).as("p95"),
            (col("lt50") / col("n") <= 0.51 && col("le50") / col("n") >= 0.49)
              .as("rank_ok_p50"),
            (col("lt95") / col("n") <= 0.96 && col("le95") / col("n") >= 0.94)
              .as("rank_ok_p95"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  TRUE AS rank_ok_p50, TRUE AS rank_ok_p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q_profile",  // one-scan column profiler (ops/Profile.scala) —
      // the ingest-time data-quality summary: row count, per-column
      // nulls, EXACT distinct count, numeric min/max and a 1e-6
      // fixed-point mean, string min/max, one output row per column.
      // Every statistic comes from ONE aggregate over the table
      // (partial aggs; the 1-row result is checkpointed and unpivoted
      // from there, so the per-column projections never re-scan);
      // exactNdv=false swaps in HLL++ at 100 TB. The oracle replays
      // each column as a scalar-aggregate UNION ALL branch.
      (s, dir) => Profile.profile(Tables.table(s, dir, "lineitem"),
        numCols = Seq("l_extendedprice", "l_orderkey", "l_partkey", "l_quantity"),
        strCols = Seq("l_linestatus", "l_returnflag")),
      Some("""SELECT 'l_extendedprice' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS ndv,
        |  round(CAST(min(l_extendedprice) AS DOUBLE), 6) AS min_num,
        |  round(CAST(max(l_extendedprice) AS DOUBLE), 6) AS max_num,
        |  round(CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
        |    / 1e6 / count(l_extendedprice), 6) AS mean_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_orderkey' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
        |  round(CAST(min(l_orderkey) AS DOUBLE), 6) AS min_num,
        |  round(CAST(max(l_orderkey) AS DOUBLE), 6) AS max_num,
        |  round(CAST(sum(CAST(round(CAST(l_orderkey AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
        |    / 1e6 / count(l_orderkey), 6) AS mean_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv,
        |  round(CAST(min(l_partkey) AS DOUBLE), 6) AS min_num,
        |  round(CAST(max(l_partkey) AS DOUBLE), 6) AS max_num,
        |  round(CAST(sum(CAST(round(CAST(l_partkey AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
        |    / 1e6 / count(l_partkey), 6) AS mean_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
        |  round(CAST(min(l_quantity) AS DOUBLE), 6) AS min_num,
        |  round(CAST(max(l_quantity) AS DOUBLE), 6) AS max_num,
        |  round(CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
        |    / 1e6 / count(l_quantity), 6) AS mean_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS ndv,
        |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
        |  CAST(NULL AS DOUBLE) AS mean_num,
        |  min(l_linestatus) AS min_str, max(l_linestatus) AS max_str
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS ndv,
        |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
        |  CAST(NULL AS DOUBLE) AS mean_num,
        |  min(l_returnflag) AS min_str, max(l_returnflag) AS max_str
        |FROM lineitem
        |ORDER BY col_name""".stripMargin), singlePass = true),

    // ---- event-sequence operators: sessionize, as-of join, range join, pivot
    Q("q_sessionize",  // 30-min-gap sessions per user
      (s, dir) => EventOps.sessionize(
          Tables.events(s, dir), "user_id", "ts_ns", gapNs = 1800L * 1000000000L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          expr("start_ns div 1000000000").as("start_s"),
          expr("end_ns div 1000000000").as("end_s"))
        .orderBy("user_id", "session_id"),
      Some("""WITH g AS (SELECT user_id, epoch_ns(ts) AS tsn,
        |        lag(epoch_ns(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |      FROM events),
        |f AS (SELECT user_id, tsn,
        |        CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS nw
        |      FROM g),
        |sid AS (SELECT user_id, tsn,
        |          sum(nw) OVER (PARTITION BY user_id ORDER BY tsn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |        FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  CAST(min(tsn) // 1000000000 AS BIGINT) AS start_s,
        |  CAST(max(tsn) // 1000000000 AS BIGINT) AS end_s
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    Q("q_session_window",  // Spark's native session_window (gap sessions as a
      (s, dir) => Tables.events(s, dir)  // first-class grouping key)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("start_s"),
          unix_timestamp(col("w.end")).as("end_s"), col("n_events"))
        .orderBy("user_id", "start_s"),
      // session_window end = last event + gap; windows merge iff the gap
      // to the previous event is < 30 min (break at >=, hence the >= in
      // the oracle's new-session flag)
      Some("""WITH g AS (SELECT user_id, epoch_ns(ts) AS tsn,
        |        lag(epoch_ns(ts), 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |      FROM events),
        |f AS (SELECT user_id, tsn,
        |        CASE WHEN prev IS NULL OR tsn - prev >= 1800000000000 THEN 1 ELSE 0 END AS nw
        |      FROM g),
        |sid AS (SELECT user_id, tsn,
        |          sum(nw) OVER (PARTITION BY user_id ORDER BY tsn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |        FROM f)
        |SELECT user_id,
        |  CAST(min(tsn) // 1000000000 AS BIGINT) AS start_s,
        |  CAST(max(tsn) // 1000000000 + 1800 AS BIGINT) AS end_s,
        |  count(*) AS n_events
        |FROM sid GROUP BY user_id, sess ORDER BY user_id, start_s""".stripMargin)),

    Q("q_asof_join",  // each click's most recent preceding purchase, per user
      (s, dir) => {
        val ev = Tables.events(s, dir)
        EventOps.asofJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"),
            Seq("user_id"), "ts_ns", "ts_ns", "event_id", "purchase_id")
          .select(col("event_id"), col("user_id"), col("purchase_id"))
          .orderBy("event_id")
      },
      Some("""SELECT c.event_id, c.user_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    Q("q_range_join",  // signups by same user within the hour before each error
      (s, dir) => {
        val ev = Tables.events(s, dir)
        EventOps.rangeCount(
            ev.filter(col("event_type") === "error"),
            ev.filter(col("event_type") === "signup"),
            Seq("user_id"), "ts_ns", "ts_ns", windowNs = 3600L * 1000000000L,
            leftId = "event_id", outCol = "n_signups")
          .select(col("event_id"), col("user_id"), col("n_signups"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id, count(s.event_id) AS n_signups
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON s.user_id = e.user_id
        |  AND epoch_ns(e.ts) - epoch_ns(s.ts) BETWEEN 1 AND 3600000000000
        |GROUP BY e.event_id, e.user_id ORDER BY e.event_id""".stripMargin)),

    Q("q_pivot",  // event-type counts pivoted to columns per user
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        val p = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
          .orderBy("user_id")
      },
      Some("""PIVOT events ON event_type
        |  IN ('click', 'view', 'purchase', 'signup', 'error')
        |  USING count(*) GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("q_unpivot",  // melt: wide per-user event-type counts back to long form
      (s, dir) => {
        val types = Seq("click", "view", "purchase")
        val p = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        val wide = types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
        wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
          .orderBy("user_id", "event_type")
      },
      Some("""WITH w AS (SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id, event_type, CAST(n AS BIGINT) AS n
        |FROM w UNPIVOT (n FOR event_type IN (click, view, purchase))
        |ORDER BY user_id, event_type""".stripMargin)),

    Q("q_window_ntile",  // ranking-family windows: ntile + percent_rank + cume_dist
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    Q("q_regex",  // regex scalar surface: extract, replace, match predicate
      (s, dir) => Tables.table(s, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          regexp_replace(col("p_type"), "[AEIOU]", "_").as("devowel"),
          col("p_brand").rlike("#[0-9]+$").cast("int").as("numbered"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devowel,
        |  CAST(regexp_matches(p_brand, '#[0-9]+$') AS INT) AS numbered
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("q_date_arith",  // temporal arithmetic: trunc, add_months, datediff, dow
      (s, dir) => Tables.table(s, dir, "orders")
        .select(col("o_orderkey"),
          // dates travel as ISO strings: date-typed outputs hash as
          // different physical types across engines
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          datediff(to_date(lit("1998-12-31")), col("o_orderdate")).as("days_to_eoy"),
          dayofweek(col("o_orderdate")).as("dow"))
        .orderBy("o_orderkey"),
      // DuckDB dayofweek: 0=Sunday; Spark: 1=Sunday → +1 aligns
      Some("""SELECT o_orderkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INT) AS days_to_eoy,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin))
  )
}
