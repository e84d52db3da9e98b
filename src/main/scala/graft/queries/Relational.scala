package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.Checkpoints
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.3–§2.9): scan/filter/
  * project, hash + broadcast joins (inner/semi/anti), partial+final hash
  * aggregation, windows, distinct, set ops, scalar string/date/math
  * functions, rollup, time bucketing.
  *
  * Every query is declarative DataFrame API so Catalyst pushes filters +
  * projections into the parquet scan and AQE picks join strategies; at
  * 100 TB the same plans hold (dims broadcast, fact-fact joins shuffle on
  * their keys, aggregates combine map-side).
  */
object Relational {

  private val sumQty = "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
  private val discPriceSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))) AS DECIMAL(22,4))"
  private val chargeSql =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))) * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4))) AS DECIMAL(24,6))"

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q01
    // TPC-H Q1-style pricing summary: full-scan partial+final hash agg.
    // Scale: map-side combine reduces 100 TB of lineitem to |flag×status|
    // groups per partition before the (tiny) shuffle.
    Q(
      "q01_pricing_summary",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-01 00:00:00").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            out(sum(dec($"l_quantity"))).as("sum_qty"),
            out(sum(dec($"l_extendedprice"))).as("sum_base_price"),
            out(sum(discPrice($"l_extendedprice", $"l_discount")))
              .as("sum_disc_price"),
            out(sum(charge($"l_extendedprice", $"l_discount", $"l_tax")))
              .as("sum_charge"),
            count(lit(1)).as("count_order"))
      },
      Some(s"""
        SELECT l_returnflag, l_linestatus,
          $sumQty AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
          CAST(sum($discPriceSql) AS DOUBLE) AS sum_disc_price,
          CAST(sum($chargeSql) AS DOUBLE) AS sum_charge,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")),

    // ---------------------------------------------------------------- q02
    // Filter + top-k: predicate pushed to parquet, TakeOrderedAndProject
    // (per-partition heap + driver merge — no global sort at scale).
    // Unique (price, orderkey, linenumber) tiebreak → deterministic set.
    Q(
      "q02_filter_topk",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "lineitem")
          .filter($"l_quantity" >= 48)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
          .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
          .limit(100)
      },
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity >= 48
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    // ---------------------------------------------------------------- q03
    // Star join: fact⋈fact shuffle join on orderkey, dims broadcast.
    Q(
      "q03_join_revenue",
      (s, dir) => {
        import s.implicits._
        val li = table(s, dir, "lineitem")
        val ord = table(s, dir, "orders")
        val cust = table(s, dir, "customer")
        val nat = table(s, dir, "nation")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(
            out(sum(discPrice($"l_extendedprice", $"l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""
        SELECT n_name,
          CAST(sum($discPriceSql) AS DOUBLE) AS revenue,
          count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")),

    // ---------------------------------------------------------------- q04
    // Left-semi join (EXISTS): no row multiplication, build side small
    // after pushdown → broadcastable at any scale.
    Q(
      "q04_semi_join",
      (s, dir) => {
        import s.implicits._
        val ord = table(s, dir, "orders")
        val big = table(s, dir, "lineitem").filter($"l_quantity" > 49)
        ord.join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o.o_orderkey AND l_quantity > 49)""")),

    // ---------------------------------------------------------------- q05
    // Left-anti join (NOT EXISTS).
    Q(
      "q05_anti_join",
      (s, dir) => {
        import s.implicits._
        val cust = table(s, dir, "customer")
        val recent = table(s, dir, "orders")
          .filter($"o_orderdate" >= lit("2001-06-01 00:00:00").cast("timestamp"))
        cust.join(recent, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name", $"c_mktsegment")
      },
      Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c.c_custkey
                            AND o_orderdate >= TIMESTAMP '2001-06-01 00:00:00')""")),

    // ---------------------------------------------------------------- q06
    // Window functions: rank + running decimal sum, deterministic order
    // (orderdate, orderkey unique). One shuffle on the partition key.
    Q(
      "q06_window_running",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        table(s, dir, "orders")
          .select(
            $"o_custkey", $"o_orderkey", tsStr($"o_orderdate").as("od"),
            row_number().over(w).cast("long").as("rn"),
            out(sum(dec($"o_totalprice"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
              .as("running_spend"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        FROM orders""")),

    // ---------------------------------------------------------------- q07
    // DISTINCT → partial+final hash aggregate.
    Q(
      "q07_distinct",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "lineitem")
          .select($"l_returnflag", $"l_linestatus").distinct()
      },
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // ---------------------------------------------------------------- q08
    // INTERSECT (set semantics).
    Q(
      "q08_intersect",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "customer").select($"c_custkey".as("custkey"))
          .intersect(table(s, dir, "orders").select($"o_custkey".as("custkey")))
      },
      Some("""
        SELECT c_custkey AS custkey FROM customer
        INTERSECT
        SELECT o_custkey AS custkey FROM orders""")),

    // ---------------------------------------------------------------- q09
    // EXCEPT (set semantics): parts never shipped.
    Q(
      "q09_except",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "part").select($"p_partkey".as("partkey"))
          .except(table(s, dir, "lineitem")
            .filter($"l_shipdate" >= lit("2001-01-01 00:00:00").cast("timestamp"))
            .select($"l_partkey".as("partkey")))
      },
      Some("""
        SELECT p_partkey AS partkey FROM part
        EXCEPT
        SELECT l_partkey AS partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'""")),

    // ---------------------------------------------------------------- q10
    // Scalar string/math functions, all codegen'd builtins.
    Q(
      "q10_scalar_string",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "part").select(
          $"p_partkey",
          upper($"p_brand").as("brand_u"),
          lower($"p_type").as("type_l"),
          substring($"p_name", 1, 8).as("name8"),
          length($"p_name").cast("long").as("name_len"),
          concat_ws(":", $"p_brand", $"p_type").as("brand_type"),
          abs($"p_size" - lit(25)).as("size_dev"),
          out($"p_retailprice".cast(D18_2)).as("price2"),
          ($"p_partkey" % 7).as("k7"))
      },
      Some("""
        SELECT p_partkey,
          upper(p_brand) AS brand_u,
          lower(p_type) AS type_l,
          substr(p_name, 1, 8) AS name8,
          length(p_name) AS name_len,
          concat_ws(':', p_brand, p_type) AS brand_type,
          abs(p_size - 25) AS size_dev,
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price2,
          p_partkey % 7 AS k7
        FROM part""")),

    // ---------------------------------------------------------------- q11
    // Date/time functions on a timestamp column.
    Q(
      "q11_datetime",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "orders").select(
          $"o_orderkey",
          year($"o_orderdate").cast("long").as("y"),
          month($"o_orderdate").cast("long").as("m"),
          dayofmonth($"o_orderdate").cast("long").as("d"),
          quarter($"o_orderdate").cast("long").as("q"),
          tsStr(date_trunc("month", $"o_orderdate")).as("mon"),
          date_format($"o_orderdate", "yyyy-MM").as("ym"))
      },
      Some("""
        SELECT o_orderkey,
          year(o_orderdate) AS y,
          month(o_orderdate) AS m,
          day(o_orderdate) AS d,
          quarter(o_orderdate) AS q,
          strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS mon,
          strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders""")),

    // ---------------------------------------------------------------- q12
    // Conditional aggregation (CASE WHEN inside agg) + min/max.
    Q(
      "q12_cond_agg",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "customer")
          .groupBy($"c_mktsegment")
          .agg(
            count(lit(1)).as("n_cust"),
            count(when($"c_acctbal" < 0, 1)).as("n_negative"),
            out(sum(dec($"c_acctbal"))).as("total_bal"),
            out(min(dec($"c_acctbal"))).as("min_bal"),
            out(max(dec($"c_acctbal"))).as("max_bal"))
      },
      Some("""
        SELECT c_mktsegment,
          count(*) AS n_cust,
          count(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_negative,
          CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
          CAST(min(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS min_bal,
          CAST(max(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS max_bal
        FROM customer GROUP BY c_mktsegment""")),

    // ---------------------------------------------------------------- q13
    // ROLLUP grouping sets.
    Q(
      "q13_rollup",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), out(sum(dec($"l_quantity"))).as("qty"))
      },
      Some(s"""
        SELECT l_returnflag, l_linestatus, count(*) AS n, $sumQty AS qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),

    // ---------------------------------------------------------------- q14
    // Event-time tumbling window (batch form of the streaming agg):
    // hour bucketing + count/sum per event type.
    Q(
      "q14_events_hourly",
      (s, dir) => {
        import s.implicits._
        table(s, dir, "events")
          .groupBy(tsStr(date_trunc("hour", $"ts")).as("h"), $"event_type")
          .agg(count(lit(1)).as("n"), out(sum(dec($"value"))).as("total"))
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
          event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM events
        GROUP BY strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), event_type""")),

    // ---------------------------------------------------------------- q151
    // ORDERED event funnel — the product-analytics staple the events
    // family lacked: view → click → purchase, where each step counts
    // only if it happens STRICTLY AFTER the user's previous step (a
    // click before the first view is not funnel progress — the
    // ordering constraint is what separates a funnel from three
    // count-distincts). Per step: users reaching it and the summed
    // conversion lag from the previous step in exact microseconds
    // (BIGINT — mean lag is one division away, and sums of exact μs
    // hash-match where interval/double arithmetic would not).
    //
    // Scale shape: three filtered scans of the events table, each
    // aggregated map-side to |users| rows, chained by user-keyed
    // joins of user-sized frames; no window over the event stream.
    // At 100 TB events this is 3 scan+agg passes (AQE broadcasts the
    // shrinking step frames) — never a per-user sort.
    Q(
      "q151_event_funnel",
      (s, dir) => {
        import s.implicits._
        val ev = table(s, dir, "events")
          .select($"user_id", $"event_type", $"ts")
        val s1 = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("t1"))
        val s2 = ev.filter($"event_type" === "click")
          .join(s1, "user_id").filter($"ts" > $"t1")
          .groupBy($"user_id")
          .agg(min($"ts").as("t2"), min($"t1").as("t1m"))
        val s3 = ev.filter($"event_type" === "purchase")
          .join(s2.select($"user_id", $"t2"), "user_id").filter($"ts" > $"t2")
          .groupBy($"user_id")
          .agg(min($"ts").as("t3"), min($"t2").as("t2m"))
        val c1 = s1.agg(count(lit(1)).cast("long").as("n1"))
        val c2 = s2.agg(count(lit(1)).cast("long").as("n2"),
          coalesce(sum(expr("unix_micros(t2) - unix_micros(t1m)")), lit(0L))
            .cast("long").as("l2"))
        val c3 = s3.agg(count(lit(1)).cast("long").as("n3"),
          coalesce(sum(expr("unix_micros(t3) - unix_micros(t2m)")), lit(0L))
            .cast("long").as("l3"))
        c1.crossJoin(c2).crossJoin(c3)
          .select(expr("""stack(3,
              CAST(1 AS BIGINT), 'view',     n1, CAST(0 AS BIGINT),
              CAST(2 AS BIGINT), 'click',    n2, l2,
              CAST(3 AS BIGINT), 'purchase', n3, l3)
            AS (step_id, step, n_users, sum_lag_us)"""))
      },
      Some("""
        WITH s1 AS (
          SELECT user_id, min(ts) AS t1
          FROM events WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1m
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t1
          GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t3, min(s2.t2) AS t2m
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          GROUP BY e.user_id),
        c1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM s1),
        c2 AS (
          SELECT CAST(count(*) AS BIGINT) AS n2,
            CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1m)), 0) AS BIGINT) AS l2
          FROM s2),
        c3 AS (
          SELECT CAST(count(*) AS BIGINT) AS n3,
            CAST(coalesce(sum(epoch_us(t3) - epoch_us(t2m)), 0) AS BIGINT) AS l3
          FROM s3)
        SELECT u.step_id, u.step, u.n_users, u.sum_lag_us
        FROM c1, c2, c3, LATERAL (
          SELECT CAST(1 AS BIGINT) AS step_id, 'view' AS step,
            c1.n1 AS n_users, CAST(0 AS BIGINT) AS sum_lag_us
          UNION ALL SELECT CAST(2 AS BIGINT), 'click', c2.n2, c2.l2
          UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', c3.n3, c3.l3) u""")),

    // ---------------------------------------------------------------- q152
    // RETENTION COHORT matrix — the other product-analytics staple:
    // users cohorted by their FIRST-activity day, each cohort's
    // active-user count at every day offset since. Day arithmetic in
    // pure integers (epoch_us div μs-per-day — engine date functions
    // disagree on nothing when there are no date functions), so the
    // matrix hash-matches exactly.
    //
    // Scale shape: the event stream collapses map-side to distinct
    // (user, day) pairs — the only corpus-sized shuffle, ~16 bytes a
    // row; first-day is a |users|-row agg of that frame, the matrix
    // a |days|²-bounded agg of the user-keyed join. Nothing scans
    // events twice.
    Q(
      "q152_retention_cohorts",
      (s, dir) => {
        import s.implicits._
        val d = Checkpoints.local(table(s, dir, "events")
          .select($"user_id",
            expr("unix_micros(ts) div 86400000000").as("day"))
          .distinct()) // consumed by first-day AND the matrix join
        val first = d.groupBy($"user_id").agg(min($"day").as("cohort_day"))
        d.join(first, "user_id")
          .groupBy($"cohort_day", ($"day" - $"cohort_day").as("offset_days"))
          .agg(count(lit(1)).cast("long").as("n_users"))
      },
      Some("""
        WITH d AS (
          SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
          FROM events),
        f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
        SELECT f.cohort_day, d.day - f.cohort_day AS offset_days,
          CAST(count(*) AS BIGINT) AS n_users
        FROM d JOIN f USING (user_id)
        GROUP BY f.cohort_day, d.day - f.cohort_day"""))
  ,

    // ---------------------------------------------------------------- q153
    // Hourly RATE-ANOMALY detection — the ops-dashboard spike alarm
    // (error-rate bursts, click floods), as an EXACT integer test:
    // per event type, an observed hour h is flagged when its count
    // sits more than 3σ from the type's mean hourly count. The z²
    // test cross-multiplies to pure BIGINTs — with H observed hours,
    // S = Σc and Q = Σc², flag iff (H·c − S)² > 9·(H·Q − S²) —
    // because (c−μ)² > 9·σ² with μ = S/H, σ² = (H·Q−S²)/H² clears
    // both denominators. No doubles, no sqrt, so the alarm table
    // hash-matches bit-free. (Magnitude note: H·Q bounds at
    // ~hours²·peak² — BIGINT-safe to ~3·10⁹ events/hour over a year;
    // past that, lift the three products to DECIMAL(38,0), the q109
    // discipline.) Output is every (type, hour) cell with its counts
    // and flag — the alarm query is `WHERE flagged = 1`.
    //
    // Scale shape: ONE events scan map-side-combined to
    // |types|×|hours| cells; the per-type moments are a second agg
    // of that tiny frame, broadcast back. Nothing scans events
    // twice.
    Q(
      "q153_rate_anomaly",
      (s, dir) => {
        import s.implicits._
        val c = Checkpoints.local(table(s, dir, "events")
          .groupBy($"event_type", tsStr(date_trunc("hour", $"ts")).as("h"))
          .agg(count(lit(1)).cast("long").as("n"))) // consumed by the moments agg AND the test
        val m = c.groupBy($"event_type").agg(
          count(lit(1)).cast("long").as("hh"),
          sum($"n").cast("long").as("ss"),
          sum($"n" * $"n").cast("long").as("qq"))
        c.join(broadcast(m), "event_type")
          .select($"event_type", $"h", $"n",
            (($"hh" * $"n" - $"ss") * ($"hh" * $"n" - $"ss")).as("lhs"),
            (lit(9L) * ($"hh" * $"qq" - $"ss" * $"ss")).as("rhs"))
          .withColumn("flagged", ($"lhs" > $"rhs").cast("long"))
      },
      Some("""
        WITH c AS (
          SELECT event_type,
            strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
            CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT event_type,
            CAST(count(*) AS BIGINT) AS hh,
            CAST(sum(n) AS BIGINT) AS ss,
            CAST(sum(n * n) AS BIGINT) AS qq
          FROM c GROUP BY event_type)
        SELECT c.event_type, c.h, c.n,
          (m.hh * c.n - m.ss) * (m.hh * c.n - m.ss) AS lhs,
          9 * (m.hh * m.qq - m.ss * m.ss) AS rhs,
          CAST((m.hh * c.n - m.ss) * (m.hh * c.n - m.ss) >
               9 * (m.hh * m.qq - m.ss * m.ss) AS BIGINT) AS flagged
        FROM c JOIN m USING (event_type)""")),

    // ---------------------------------------------------------------- q154
    // RFM SEGMENTATION — the classic user-value quartile table:
    // recency (days since the user's last event, against the
    // corpus-wide last day — integer day algebra, q152's), frequency
    // (event count), monetary (exact DECIMAL sum of value, q14's
    // discipline), each quartiled under a DETERMINISTIC total order
    // (metric, then user_id — rand-free, so the buckets hash-match;
    // best bucket = 1: most recent / most frequent / highest spend).
    // The composite `segment` concatenates the three digits — '111'
    // is the champion cell, '444' the churned tail.
    //
    // Scale shape: one events scan map-side-combined to |users|
    // rows; each quartile is ops.GlobalRank (range-partition +
    // per-partition offsets — q169's machinery, no empty-partition-
    // spec window ever concentrates the |users| sort on one task)
    // plus the integer cut (rk−1)·4 div n — bucket sizes differ by
    // ≤ 1, exactly q169's equi-depth algebra, replicated verbatim in
    // the oracle so the cut is engine-independent.
    Q(
      "q154_rfm_segments",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // consumed by the max-day aggregate AND the crossJoin —
        // materialize or the events scan+agg runs twice (the
        // q152/q153 discipline)
        val u = Checkpoints.local(table(s, dir, "events")
          .select($"user_id",
            expr("unix_micros(ts) div 86400000000").as("day"),
            $"value")
          .groupBy($"user_id")
          .agg(
            max($"day").as("last_day"),
            count(lit(1)).cast("long").as("n_events"),
            sum(dec($"value")).as("mon")))
        val mx = u.agg(max($"last_day").as("max_day"))
        val nT = u.agg(count(lit(1)).cast("long").as("n"))
        val base = u.crossJoin(broadcast(mx))
          .select($"user_id",
            ($"max_day" - $"last_day").as("r_days"),
            $"n_events", out($"mon").as("monetary"), $"mon")
        val p = s.sparkContext.defaultParallelism
        val ranked = graft.ops.GlobalRank.withRank(
          graft.ops.GlobalRank.withRank(
            graft.ops.GlobalRank.withRank(
              base, Seq($"r_days".asc, $"user_id".asc), "rrk", p),
            Seq($"n_events".desc, $"user_id".asc), "frk", p),
          Seq($"mon".desc, $"user_id".asc), "mrk", p)
        ranked.crossJoin(broadcast(nT))
          .withColumn("rb", expr("(rrk - 1) * 4 div n + 1"))
          .withColumn("fb", expr("(frk - 1) * 4 div n + 1"))
          .withColumn("mb", expr("(mrk - 1) * 4 div n + 1"))
          .select($"user_id", $"r_days", $"n_events", $"monetary",
            $"rb", $"fb", $"mb",
            concat($"rb", $"fb", $"mb").as("segment"))
      },
      Some("""
        WITH u AS (
          SELECT user_id,
            max(epoch_us(ts) // 86400000000) AS last_day,
            CAST(count(*) AS BIGINT) AS n_events,
            sum(CAST(value AS DECIMAL(18,4))) AS mon
          FROM events GROUP BY user_id),
        mx AS (SELECT max(last_day) AS max_day FROM u),
        b AS (
          SELECT user_id, max_day - last_day AS r_days, n_events,
            CAST(mon AS DOUBLE) AS monetary, mon,
            (CAST(row_number() OVER (ORDER BY max_day - last_day ASC, user_id ASC) AS BIGINT) - 1)
              * 4 // CAST(count(*) OVER () AS BIGINT) + 1 AS rb,
            (CAST(row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS BIGINT) - 1)
              * 4 // CAST(count(*) OVER () AS BIGINT) + 1 AS fb,
            (CAST(row_number() OVER (ORDER BY mon DESC, user_id ASC) AS BIGINT) - 1)
              * 4 // CAST(count(*) OVER () AS BIGINT) + 1 AS mb
          FROM u CROSS JOIN mx)
        SELECT user_id, r_days, n_events, monetary, rb, fb, mb,
          concat(CAST(rb AS VARCHAR), CAST(fb AS VARCHAR), CAST(mb AS VARCHAR)) AS segment
        FROM b""")),

    // ---------------------------------------------------------------- q162
    // ASSOCIATION RULES (market-basket): pairwise co-occurrence over
    // the order→part bipartite graph with support, both directed
    // confidences, and lift — the Apriori k=2 pass, which at corpus
    // scale is the one that matters (higher-k rule mining prunes from
    // exactly this pair table). All counts are exact BIGINTs; the
    // three ratios are single IEEE divisions of integer-valued
    // operands (lift's numerator n_ab·N stays in exact Long — max
    // ~10⁵·10⁶ here, range-guarded by the support gate at any scale
    // since n_ab·N ≤ N² needs N < 3·10⁹; beyond that, pre-divide).
    //
    // Scale shape: the basket stream collapses map-side to DISTINCT
    // (order, part) — the only lineitem-sized shuffle. The pair
    // expansion self-joins on the ORDER key, so fanout is bounded by
    // basket size k (TPC-H ~4: k²/2 ≈ 8 rows/order), never |parts|²;
    // the pair table aggregates map-side-combined, item marginals are
    // a |parts|-row agg joined back pair-keyed (AQE broadcasts), and
    // the support gate (n_ab ≥ 2) prunes before the marginal joins.
    Q(
      "q162_assoc_rules",
      (s, dir) => {
        import s.implicits._
        // consumed by pairs (both sides), marginals, and the order
        // count — one distinct shuffle, four consumers
        val items = Checkpoints.local(table(s, dir, "lineitem")
          .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct())
        val pairs = items.as("a").join(items.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
          .agg(count(lit(1)).cast("long").as("n_ab"))
          .filter($"n_ab" >= 2)
        val marg = items.groupBy($"p")
          .agg(count(lit(1)).cast("long").as("n_p"))
        val total = items.agg(countDistinct($"o").cast("long").as("n_orders"))
        pairs
          .join(marg.select($"p".as("p1"), $"n_p".as("n_a")), "p1")
          .join(marg.select($"p".as("p2"), $"n_p".as("n_b")), "p2")
          .crossJoin(broadcast(total))
          .select($"p1", $"p2", $"n_ab", $"n_a", $"n_b", $"n_orders",
            ($"n_ab".cast("double") / $"n_a").as("conf_ab"),
            ($"n_ab".cast("double") / $"n_b").as("conf_ba"),
            (($"n_ab" * $"n_orders").cast("double") / ($"n_a" * $"n_b"))
              .as("lift"))
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pairs AS (
          SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_ab
          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
          GROUP BY a.p, b.p
          HAVING count(*) >= 2),
        marg AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p
                 FROM items GROUP BY p),
        total AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders
                  FROM items)
        SELECT pr.p1, pr.p2, pr.n_ab, ma.n_p AS n_a, mb.n_p AS n_b,
          t.n_orders,
          CAST(pr.n_ab AS DOUBLE) / ma.n_p AS conf_ab,
          CAST(pr.n_ab AS DOUBLE) / mb.n_p AS conf_ba,
          CAST(pr.n_ab * t.n_orders AS DOUBLE) / (ma.n_p * mb.n_p) AS lift
        FROM pairs pr
        JOIN marg ma ON ma.p = pr.p1
        JOIN marg mb ON mb.p = pr.p2
        CROSS JOIN total t""")),

    // ---------------------------------------------------------------- q163
    // FIRST-ORDER MARKOV TRANSITIONS over per-user event streams:
    // the behavioral fingerprint behind "what happens after an
    // error?" — counts and row-normalized probabilities of each
    // (event_type → next event_type) step. The per-user order is
    // (ts, event_id): the id tiebreak makes the successor function
    // TOTAL and deterministic, so counts (and the one division each)
    // hash-match across engines — lag/lead over a tie is exactly the
    // kind of nondeterminism the oracle would catch.
    //
    // Scale shape: ONE user-keyed shuffle of 4 narrow columns into
    // the lead() window (the sessionize/q32 cost shape — per-user
    // sorts, never a global one); transitions collapse map-side to
    // the |types|² matrix (25 rows here), and the row marginal is a
    // window over THAT matrix — no second pass over events.
    Q(
      "q163_event_transitions",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        table(s, dir, "events")
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("to_type", lead($"event_type", 1).over(w))
          .filter($"to_type".isNotNull)
          .groupBy($"event_type".as("from_type"), $"to_type")
          .agg(count(lit(1)).cast("long").as("n"))
          .withColumn("n_from",
            sum($"n").over(Window.partitionBy($"from_type")).cast("long"))
          .withColumn("p", $"n".cast("double") / $"n_from")
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
            lead(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS to_type
          FROM events),
        tr AS (
          SELECT event_type AS from_type, to_type,
            CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE to_type IS NOT NULL
          GROUP BY event_type, to_type)
        SELECT from_type, to_type, n,
          CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
          CAST(n AS DOUBLE)
            / sum(n) OVER (PARTITION BY from_type) AS p
        FROM tr""")),

    // ---------------------------------------------------------------- q166
    // EVENT PATH MINING — the sequence patterns q163's first-order
    // matrix cannot see: the top-20 event-type TRIGRAMS across user
    // streams (view→view→purchase and view→purchase→view have the
    // same transition counts but very different products). Same
    // (ts, event_id) total order as q163; rank tiebreak on the path
    // string itself, share = one division by the total trigram count.
    //
    // Scale shape: the same single user-keyed window shuffle as
    // q163 (two lead()s ride the one sort); paths collapse map-side
    // to ≤ |types|³ rows (125 here), and the rank/total windows run
    // over THAT frame. Top-20 of a 125-row frame is free; at a
    // larger type alphabet it becomes TakeOrderedAndProject.
    Q(
      "q166_event_paths",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val tri = table(s, dir, "events")
          .select($"user_id", $"ts", $"event_id", $"event_type".as("s1"))
          .withColumn("s2", lead($"s1", 1).over(w))
          .withColumn("s3", lead($"s1", 2).over(w))
          .filter($"s2".isNotNull && $"s3".isNotNull)
          .groupBy($"s1", $"s2", $"s3")
          .agg(count(lit(1)).cast("long").as("n"))
        tri
          .withColumn("total", sum($"n").over(Window.partitionBy()).cast("long"))
          .withColumn("rk", row_number().over(
              Window.orderBy($"n".desc, $"s1".asc, $"s2".asc, $"s3".asc))
            .cast("long"))
          .filter($"rk" <= 20)
          .select($"rk", $"s1", $"s2", $"s3", $"n",
            ($"n".cast("double") / $"total").as("share"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type AS s1,
            lead(event_type, 1) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS s2,
            lead(event_type, 2) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS s3
          FROM events),
        tri AS (
          SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE s2 IS NOT NULL AND s3 IS NOT NULL
          GROUP BY s1, s2, s3),
        r AS (
          SELECT s1, s2, s3, n,
            CAST(sum(n) OVER () AS BIGINT) AS total,
            CAST(row_number() OVER (ORDER BY n DESC, s1, s2, s3) AS BIGINT) AS rk
          FROM tri)
        SELECT rk, s1, s2, s3, n, CAST(n AS DOUBLE) / total AS share
        FROM r WHERE rk <= 20""")),

    // ---------------------------------------------------------------- q167
    // REVENUE PARETO (the 80/20 table): customers ranked by exact
    // DECIMAL revenue into deciles, each decile's customer count,
    // revenue mass and share — the concentration read behind every
    // "top decile drives X% of revenue" claim. Deterministic rank
    // order (revenue DESC, custkey ASC); shares are single divisions
    // of exact decimal sums cast to double.
    //
    // Scale shape: orders collapse map-side to |customers| rows; the
    // decile cut is ops.GlobalRank + (rk−1)·10 div n (q169's exact
    // equi-depth algebra — no single-task window over the customer
    // frame at ANY |customers|); the decile agg is 10 rows and the
    // share window runs over those 10.
    Q(
      "q167_revenue_pareto",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // consumed by the count AND the rank — materialize once
        val cust = Checkpoints.local(table(s, dir, "orders")
          .groupBy($"o_custkey")
          .agg(sum(dec($"o_totalprice")).as("rev")))
        val nT = cust.agg(count(lit(1)).cast("long").as("n"))
        val d = graft.ops.GlobalRank.withRank(
            cust, Seq($"rev".desc, $"o_custkey".asc), "rk",
            s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(nT))
          .withColumn("decile", expr("(rk - 1) * 10 div n + 1"))
        d.groupBy($"decile")
          .agg(count(lit(1)).cast("long").as("n_cust"),
            sum($"rev").as("drev"))
          .withColumn("total", sum($"drev").over(Window.partitionBy()))
          .select($"decile", $"n_cust", out($"drev").as("revenue"),
            ($"drev".cast("double") / $"total".cast("double")).as("share"))
      },
      Some("""
        WITH cust AS (
          SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
          FROM orders GROUP BY o_custkey),
        d AS (
          SELECT o_custkey, rev,
            (CAST(row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS BIGINT) - 1)
              * 10 // CAST(count(*) OVER () AS BIGINT) + 1 AS decile
          FROM cust),
        a AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
            sum(rev) AS drev
          FROM d GROUP BY decile)
        SELECT decile, n_cust, CAST(drev AS DOUBLE) AS revenue,
          CAST(drev AS DOUBLE) / CAST(sum(drev) OVER () AS DOUBLE) AS share
        FROM a""")),

    // ---------------------------------------------------------------- q173
    // COHORT LTV MATRIX — q152's retention grid with money in it:
    // users cohorted by first-activity day, each cohort's purchase
    // count, exact DECIMAL revenue, and CUMULATIVE revenue at every
    // day offset (the lifetime-value curve a growth team reads
    // against acquisition cost). Same integer day algebra as q152
    // (epoch_us div μs/day — no engine date functions); the running
    // sum is a window over the |days|²-bounded matrix, exact in
    // decimals, cast to double only at output.
    //
    // Scale shape: purchases collapse map-side to (cohort, offset)
    // cells after a |users|-row first-day join (AQE broadcasts the
    // user frame side that fits); the cumulative window partitions
    // by cohort over the tiny matrix. Nothing scans events twice.
    Q(
      "q173_cohort_ltv",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ev = table(s, dir, "events")
          .select($"user_id",
            expr("unix_micros(ts) div 86400000000").as("day"),
            $"event_type", $"value")
        val fd = ev.groupBy($"user_id").agg(min($"day").as("d0"))
        val cells = ev.filter($"event_type" === "purchase")
          .join(fd, "user_id")
          .groupBy($"d0".as("cohort_day"), ($"day" - $"d0").as("offset"))
          .agg(count(lit(1)).cast("long").as("n_purchases"),
            countDistinct($"user_id").cast("long").as("n_buyers"),
            sum(dec($"value")).as("rev"))
        cells
          .withColumn("cum_rev", sum($"rev").over(
            Window.partitionBy($"cohort_day").orderBy($"offset")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select($"cohort_day", $"offset", $"n_purchases", $"n_buyers",
            out($"rev").as("revenue"), out($"cum_rev").as("cum_revenue"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day,
            event_type, value
          FROM events),
        fd AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY user_id),
        cells AS (
          SELECT fd.d0 AS cohort_day, ev.day - fd.d0 AS "offset",
            CAST(count(*) AS BIGINT) AS n_purchases,
            CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_buyers,
            sum(CAST(ev.value AS DECIMAL(18,4))) AS rev
          FROM ev JOIN fd ON ev.user_id = fd.user_id
          WHERE ev.event_type = 'purchase'
          GROUP BY fd.d0, ev.day - fd.d0)
        SELECT cohort_day, "offset", n_purchases, n_buyers,
          CAST(rev AS DOUBLE) AS revenue,
          CAST(sum(rev) OVER (PARTITION BY cohort_day ORDER BY "offset"
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
        FROM cells""")),

    // ---------------------------------------------------------------- q174
    // SEASONALITY HEATMAP — the (weekday × hour) activity profile
    // with a uniform-baseline lift: weekday from PURE INTEGER day
    // algebra ((epoch_day + 4) % 7 — 1970-01-01 was a Thursday; no
    // engine weekday function, whose numbering conventions disagree,
    // ever runs), hour from the shared ts extraction (q14's
    // date_trunc discipline). 168 cells, counts exact, lift = one
    // division against n/168.
    //
    // Scale shape: one scan map-side-combined to ≤ 168 × |types|
    // cells; the total is a window over those cells.
    Q(
      "q174_seasonality",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cells = table(s, dir, "events")
          .select(
            expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
            hour($"ts").cast("long").as("hr"))
          .groupBy($"dow", $"hr")
          .agg(count(lit(1)).cast("long").as("n"))
        cells
          .withColumn("total", sum($"n").over(Window.partitionBy()).cast("long"))
          .select($"dow", $"hr", $"n",
            (($"n" * 168).cast("double") / $"total").as("lift"))
      },
      Some("""
        WITH cells AS (
          SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
            CAST(extract(hour FROM ts) AS BIGINT) AS hr,
            CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
        SELECT dow, hr, n,
          CAST(n * 168 AS DOUBLE) / sum(n) OVER () AS lift
        FROM cells""")),

    // ---------------------------------------------------------------- q177
    // DATA-QUALITY CONSTRAINT SUITE (the Deequ/Great-Expectations
    // pattern): a declarative battery of checks — primary-key
    // uniqueness, domain membership, range bounds, completeness,
    // cross-table referential integrity — evaluated in bulk and
    // emitted as one (table, check, n_rows, n_violations, pass)
    // verdict frame, the gate a pipeline consults before trusting a
    // new drop. Every metric is an exact BIGINT; pass = violations=0.
    //
    // Scale shape: all same-table predicate checks share ONE scan as
    // sum(CASE) columns of a single map-side-combined agg (never one
    // pass per check); the two PK-uniqueness checks are each one
    // distinct-count agg on narrow key columns (their own shuffle —
    // the honest cost of exact uniqueness; HLL approximates it when
    // exactness is negotiable, q37); referential integrity is a
    // left_anti count on the key columns only (AQE broadcasts the
    // smaller distinct-key side). The verdict union is ~10 rows.
    Q(
      "q177_quality_checks",
      (s, dir) => {
        import s.implicits._
        val li = table(s, dir, "lineitem")
        val ord = table(s, dir, "orders")
        val cust = table(s, dir, "customer")
        // one scan, five predicate checks
        val liP = li.agg(
          count(lit(1)).cast("long").as("n"),
          sum(when($"l_quantity" < 1.0 || $"l_quantity" > 50.0, 1L)
            .otherwise(0L)).cast("long").as("v_qty"),
          sum(when($"l_extendedprice" <= 0.0, 1L).otherwise(0L))
            .cast("long").as("v_price"),
          sum(when($"l_discount" < 0.0 || $"l_discount" > 0.1, 1L)
            .otherwise(0L)).cast("long").as("v_disc"),
          sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L).otherwise(0L))
            .cast("long").as("v_rflag"),
          sum(when($"l_shipdate".isNull, 1L).otherwise(0L))
            .cast("long").as("v_ship"))
        val liChecks = liP.select(expr(
          """stack(5,
             'lineitem', 'quantity_in_1_50',      n, v_qty,
             'lineitem', 'price_positive',        n, v_price,
             'lineitem', 'discount_in_0_0.1',     n, v_disc,
             'lineitem', 'returnflag_domain',     n, v_rflag,
             'lineitem', 'shipdate_complete',     n, v_ship)
             AS (tbl, chk, n_rows, n_violations)"""))
        val ordP = ord.agg(
          count(lit(1)).cast("long").as("n"),
          sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L))
            .cast("long").as("v_status"),
          sum(when($"o_totalprice" <= 0.0, 1L).otherwise(0L))
            .cast("long").as("v_total"))
        val ordChecks = ordP.select(expr(
          """stack(2,
             'orders', 'orderstatus_domain', n, v_status,
             'orders', 'totalprice_positive', n, v_total)
             AS (tbl, chk, n_rows, n_violations)"""))
        def pkCheck(df: org.apache.spark.sql.DataFrame, tbl: String,
            keys: Seq[String]) = {
          val k = keys.map(col)
          df.select(k: _*).groupBy(k: _*)
            .agg(count(lit(1)).cast("long").as("c"))
            .agg(sum($"c").cast("long").as("n_rows"),
              sum($"c" - 1L).cast("long").as("n_violations"))
            .select(lit(tbl).as("tbl"), lit("pk_unique").as("chk"),
              $"n_rows", $"n_violations")
        }
        def fkCheck(child: org.apache.spark.sql.DataFrame, childTbl: String,
            childKey: String, parent: org.apache.spark.sql.DataFrame,
            parentKey: String) =
          child.select(col(childKey))
            .join(parent.select(col(parentKey).as(childKey)).distinct(),
              Seq(childKey), "left_anti")
            .agg(count(lit(1)).cast("long").as("n_violations"))
            .crossJoin(broadcast(
              child.agg(count(lit(1)).cast("long").as("n_rows"))))
            .select(lit(childTbl).as("tbl"),
              lit(s"fk_$childKey").as("chk"), $"n_rows", $"n_violations")
        liChecks
          .unionAll(ordChecks)
          .unionAll(pkCheck(li, "lineitem", Seq("l_orderkey", "l_linenumber")))
          .unionAll(pkCheck(ord, "orders", Seq("o_orderkey")))
          .unionAll(fkCheck(li, "lineitem", "l_orderkey", ord, "o_orderkey"))
          .unionAll(fkCheck(ord, "orders", "o_custkey", cust, "c_custkey"))
          .withColumn("pass", when($"n_violations" === 0L, 1L).otherwise(0L))
      },
      Some("""
        WITH lip AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
            CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
            CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
            CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v_rflag,
            CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
          FROM lineitem),
        ordp AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
            CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_total
          FROM orders),
        lipk AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(sum(c - 1) AS BIGINT) AS n_violations
          FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
        opk AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(sum(c - 1) AS BIGINT) AS n_violations
          FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
        lifk AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
            CAST(count(*) AS BIGINT) AS n_violations
          FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        ofk AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
            CAST(count(*) AS BIGINT) AS n_violations
          FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        v AS (
          SELECT 'lineitem' AS tbl, 'quantity_in_1_50' AS chk, n AS n_rows, v_qty AS n_violations FROM lip
          UNION ALL SELECT 'lineitem', 'price_positive', n, v_price FROM lip
          UNION ALL SELECT 'lineitem', 'discount_in_0_0.1', n, v_disc FROM lip
          UNION ALL SELECT 'lineitem', 'returnflag_domain', n, v_rflag FROM lip
          UNION ALL SELECT 'lineitem', 'shipdate_complete', n, v_ship FROM lip
          UNION ALL SELECT 'orders', 'orderstatus_domain', n, v_status FROM ordp
          UNION ALL SELECT 'orders', 'totalprice_positive', n, v_total FROM ordp
          UNION ALL SELECT 'lineitem', 'pk_unique', n_rows, n_violations FROM lipk
          UNION ALL SELECT 'orders', 'pk_unique', n_rows, n_violations FROM opk
          UNION ALL SELECT 'lineitem', 'fk_l_orderkey', n_rows, n_violations FROM lifk
          UNION ALL SELECT 'orders', 'fk_o_custkey', n_rows, n_violations FROM ofk)
        SELECT tbl, chk, n_rows, n_violations,
          CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        FROM v""")),

    // ---------------------------------------------------------------- q180
    // CONVERSION ATTRIBUTION — the marketing-analytics read over the
    // event stream: for every purchase, the FIRST and LAST touch
    // (click/view/signup) that preceded it in the user's (ts,
    // event_id)-total-ordered history, aggregated to the
    // (first_touch, last_touch) matrix with conversion counts, prior-
    // touch volumes and exact μs lag sums (purchase − last touch).
    // Purchases with no prior touch land in the 'none' cell. The
    // (ts, event_id) tiebreak is load-bearing, as in q163: without it
    // the IGNORE-NULLS navigation over equal timestamps is partition-
    // order-dependent and the matrix stops being reproducible.
    //
    // Scale shape: ONE user-keyed shuffle of 4 narrow columns; the
    // first/last/count/lag windows are all per-user frames riding the
    // SAME partitioned sort (one WindowExec), and the matrix collapse
    // is map-side-combined to ≤ (|touch types|+1)² cells. Integer μs
    // algebra throughout; the average is one division of exact Longs.
    Q(
      "q180_attribution",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val touchTypes = Seq("click", "view", "signup")
        val ev = table(s, dir, "events")
          .select($"user_id", $"event_id", $"event_type",
            expr("unix_micros(ts)").as("us"))
        val w = Window.partitionBy($"user_id")
          .orderBy($"us".asc, $"event_id".asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = when($"event_type".isin(touchTypes: _*), $"event_type")
        val touchUs = when($"event_type".isin(touchTypes: _*), $"us")
        ev
          .withColumn("first_t", first(touch, ignoreNulls = true).over(w))
          .withColumn("last_t", last(touch, ignoreNulls = true).over(w))
          .withColumn("last_us", last(touchUs, ignoreNulls = true).over(w))
          .withColumn("n_prior", count(touch).over(w).cast("long"))
          .filter($"event_type" === "purchase")
          .groupBy(
            coalesce($"first_t", lit("none")).as("first_touch"),
            coalesce($"last_t", lit("none")).as("last_touch"))
          .agg(
            count(lit(1)).cast("long").as("n_conv"),
            sum($"n_prior").cast("long").as("n_prior_touches"),
            sum(coalesce($"us" - $"last_us", lit(0L))).cast("long")
              .as("total_lag_us"))
          .withColumn("avg_lag_us",
            $"total_lag_us".cast("double") / $"n_conv".cast("double"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us
          FROM events),
        t AS (
          SELECT user_id, event_type, us,
            first_value(CASE WHEN event_type IN ('click','view','signup')
                             THEN event_type END IGNORE NULLS) OVER w AS first_t,
            last_value(CASE WHEN event_type IN ('click','view','signup')
                            THEN event_type END IGNORE NULLS) OVER w AS last_t,
            last_value(CASE WHEN event_type IN ('click','view','signup')
                            THEN us END IGNORE NULLS) OVER w AS last_us,
            count(CASE WHEN event_type IN ('click','view','signup')
                       THEN 1 END) OVER w AS n_prior
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT coalesce(first_t, 'none') AS first_touch,
          coalesce(last_t, 'none') AS last_touch,
          CAST(count(*) AS BIGINT) AS n_conv,
          CAST(sum(n_prior) AS BIGINT) AS n_prior_touches,
          CAST(sum(coalesce(us - last_us, 0)) AS BIGINT) AS total_lag_us,
          CAST(sum(coalesce(us - last_us, 0)) AS DOUBLE) / count(*) AS avg_lag_us
        FROM t WHERE event_type = 'purchase'
        GROUP BY 1, 2"""))
  )
}
