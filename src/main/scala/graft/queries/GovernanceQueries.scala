package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Exact.{dec, sumd}
import graft.core.Tables

/** Governance + profiling additions (round 11): erasure-list cascade
  * audit, time-range rolling windows, equal-frequency binning without a
  * global sort, and an exact-arithmetic correlation matrix.
  *
  * Scale notes (100 TB):
  *  - del1: the subject list broadcasts (opt-out registries are tiny
  *    next to the data), so customer/orders audit in one scan each with
  *    NO fact-side shuffle; the cascaded order-key set grows with the
  *    data so the lineitem leg deliberately takes the keyed-join path —
  *    both regimes of [[graft.operators.Forget]] exercised in one key.
  *  - w7: a time-RANGE frame is one hash exchange on the partition key;
  *    day arithmetic is integer epoch division (never double division).
  *  - hg2: edges come from the qt3 bucket-locate operator (no
  *    single-partition sort anywhere — the NTILE alternative's global
  *    total order is the thing this key exists to avoid), then binning
  *    is one broadcast-edge scan + a 4-group aggregate.
  *  - a13: every pairwise Pearson term is an exact decimal sum in ONE
  *    combinable aggregate pass (map-side partials); the final formula
  *    runs in doubles from identical exact inputs, so both engines
  *    produce the same IEEE bits. Decimal(38,8) sums overflow only
  *    past ~10^22, i.e. ~10^12 rows of price-squared — far beyond the
  *    target scale; widen the cast if you ever near it.
  *  - a14: mode = keyed count aggregate + top-1 per PARTITIONED window
  *    (WindowGroupLimit prunes map-side — the sk3 lesson: a global
  *    rank would single-partition, a partitioned one never does).
  *  - ts1: the spine is |months| × |statuses| rows built from one
  *    min/max aggregate — never a fact-sized generator; the fact table
  *    contributes one keyed count aggregate and a left join against
  *    the tiny spine.
  *  - an1: median and MAD use the shared PERCENTILE_CONT formula in
  *    its window formulation (event-type groups are partition-sized;
  *    the giant-group switch is ScalableQuantile.percentileCont,
  *    bit-identical by spec — measured crossover in SCALING.md); the
  *    group-sized med/mad frames broadcast back into one counting
  *    pass. The qt3-composed variant measured 9.4 s warm at sf0.1 —
  *    pure stage overhead on tiny groups — vs ~1.5 s for this shape.
  *  - pp1/rr1: everything after the one fact aggregate runs over
  *    AGGREGATE-sized frames (≤ |months|, ≤ |nations| rows) — pp1's
  *    period joins are calendar-exact self-joins on m−1/m−12 (a
  *    positional lag silently crosses month gaps), rr1's grand-total
  *    window is |nations|-sized; the fact table never meets a global
  *    sort.
  *  - gi1: one keyed window exchange on user_id; island grouping is
  *    integer arithmetic (day − row_number), no self-join.
  *  - w8: COUNT(DISTINCT) OVER isn't supported by several engines
  *    (BigQuery among them) — the shipped rewrite is max(dense_rank)
  *    over the same partition: both windows share ONE exchange + sort,
  *    and the oracle runs the native distinct-window form, proving the
  *    rewrite. Only valid on a non-null column (dense_rank counts a
  *    null as a value, COUNT DISTINCT ignores it).
  *  - ivm1: incremental view maintenance — the maintained aggregate is
  *    stored_agg ⊕ delta_agg (counts and decimal sums are self-
  *    inverting: deletes subtract exactly what inserts added), so the
  *    update costs one DELTA-sized aggregate + an aggregate-frame
  *    merge, never a re-aggregation of the base table. The oracle IS
  *    the full recompute over the modified table — the equality the
  *    whole technique rests on, checked bit-for-bit.
  *  - ivm2 (round 12): the NON-invertible extension — min/max can be
  *    broken by a delete; [[graft.operators.IvmFold]] re-aggregates
  *    only the groups whose delta deletes a stored extremum (broadcast
  *    semi-join on the delta-bounded affected list), everything else
  *    stays on the merge path. Same oracle discipline.
  */
object GovernanceQueries {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Per-group interpolated median via the operator's window
    * formulation (one keyed window exchange; groups here fit a
    * partition by orders of magnitude — percentileCont is the
    * bit-identical giant-group switch, ScalableQuantileSpec). */
  private def windowMedian(
      df: DataFrame, gCol: String, vCol: String, out: String): DataFrame =
    graft.operators.ScalableQuantile
      .percentileContWindow(df, gCol, vCol, Seq(0.5))
      .select(col(gCol), col("value").as(out))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "del1_forget_audit" -> ((s, dir) => {
      // erasure cascade: forget-list of customers (every 97th key) →
      // their rows in customer and orders directly, their lineitems
      // through the forgotten order keys. Per-table touch report.
      val customer = T(s, dir, "customer")
      val orders = T(s, dir, "orders")
      val lineitem = T(s, dir, "lineitem")
      val fk = customer.filter(pmod(col("c_custkey"), lit(97)) === 0)
        .select(col("c_custkey"))
      val forgottenOrders = orders
        .join(broadcast(fk.toDF("k")), col("o_custkey") === col("k"), "left_semi")
        .select(col("o_orderkey"))
      graft.operators.Forget.audit(
        Seq(("customer", customer, "c_custkey"), ("orders", orders, "o_custkey")),
        fk)
        .unionByName(graft.operators.Forget.audit(
          Seq(("lineitem", lineitem, "l_orderkey")), forgottenOrders,
          broadcastKeys = false))
        .orderBy(col("table_name"))
    }),
    "w7_rolling_range" -> ((s, dir) => {
      // rolling 30-day per-customer order stats via a RANGE frame over
      // integer epoch days — the time-windowed running-total face §2.6
      // row frames can't express (peers at the same day must all count).
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
        .rangeBetween(-30, 0)
      T(s, dir, "orders")
        .withColumn("d", expr("unix_timestamp(o_orderdate) div 86400"))
        .withColumn("n_30d", count(lit(1)).over(w))
        .withColumn("sum_30d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_orderkey"), col("o_custkey"), col("d"),
          col("n_30d"), col("sum_30d"))
        .orderBy(col("o_orderkey"))
    }),
    "hg2_quantile_bins" -> ((s, dir) => {
      // equal-frequency binning: quartile edges from the bucket-locate
      // quantile operator (exact PERCENTILE_CONT, no global sort), then
      // one broadcast-edge scan assigns bins. Edges are the shared
      // interpolation formula, so both engines bin identically.
      val orders = T(s, dir, "orders")
      val edges = graft.operators.ScalableQuantile.percentileCont(
          orders.select(lit(0).as("g"), col("o_totalprice")),
          "g", "o_totalprice", Seq(0.25, 0.5, 0.75))
        .agg(max(when(col("p") === 0.25, col("value"))).as("e1"),
          max(when(col("p") === 0.5, col("value"))).as("e2"),
          max(when(col("p") === 0.75, col("value"))).as("e3"))
      orders.crossJoin(broadcast(edges))
        .withColumn("bin",
          (col("o_totalprice") > col("e1")).cast("long") +
            (col("o_totalprice") > col("e2")).cast("long") +
            (col("o_totalprice") > col("e3")).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("bin"))
    }),
    "a13_corr_matrix" -> ((s, dir) => {
      // pairwise Pearson over lineitem numerics in ONE pass: all nine
      // moment sums are exact decimals in a single combinable
      // aggregate; the closed-form corr then runs in doubles from
      // identical inputs with an identical expression tree — same IEEE
      // bits in both engines (never the engines' own corr(), whose
      // accumulation order is unspecified).
      val q = dec(col("l_quantity"))
      val p = dec(col("l_extendedprice"))
      val d = dec(col("l_discount"))
      def corrOf(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
        (col("nn") * col(sxy) - col(sx) * col(sy)) /
          (sqrt(col("nn") * col(sxx) - col(sx) * col(sx)) *
            sqrt(col("nn") * col(syy) - col(sy) * col(sy)))
      T(s, dir, "lineitem")
        .agg(count(lit(1)).as("n"),
          sum(q).cast("double").as("sq"), sum(p).cast("double").as("sp"),
          sum(d).cast("double").as("sd"),
          sum(q * p).cast("double").as("sqp"), sum(q * d).cast("double").as("sqd"),
          sum(p * d).cast("double").as("spd"),
          sum(q * q).cast("double").as("sqq"), sum(p * p).cast("double").as("spp"),
          sum(d * d).cast("double").as("sdd"))
        .withColumn("nn", col("n").cast("double"))
        .withColumn("c_qp", corrOf("sq", "sp", "sqp", "sqq", "spp"))
        .withColumn("c_qd", corrOf("sq", "sd", "sqd", "sqq", "sdd"))
        .withColumn("c_pd", corrOf("sp", "sd", "spd", "spp", "sdd"))
        .selectExpr("""stack(3,
            'l_quantity', 'l_extendedprice', n, c_qp,
            'l_quantity', 'l_discount', n, c_qd,
            'l_extendedprice', 'l_discount', n, c_pd)
          AS (x_col, y_col, n, corr_val)""")
        .orderBy(col("x_col"), col("y_col"))
    }),
    "a14_mode" -> ((s, dir) => {
      // statistical mode per group (Teradata/Oracle STATS_MODE face):
      // most frequent l_quantity per return flag, lowest value on
      // count ties. Keyed count + top-1 per partitioned window —
      // WindowGroupLimit prunes map-side.
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("n").desc, col("l_quantity"))))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
        .orderBy(col("l_returnflag"))
    }),
    "ts1_date_spine" -> ((s, dir) => {
      // calendar-spine gap fill: monthly order counts per status with
      // explicit zero rows for months that have no orders — the date-
      // dimension join every reporting migration needs. Months as
      // exact integers (year*12 + month − 1); spine = one min/max
      // aggregate exploded, × distinct statuses.
      val o = T(s, dir, "orders").select(col("o_orderstatus"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      // bounds and the status list both derive from the counts frame.
      // Catalyst collapses each derived aggregate straight onto the
      // scan (three fact reads), so the aggregate-sized counts frame
      // is persisted once instead — one parquet scan total; not
      // unpersisted here by the pr1 ownership contract (Verify/Bench
      // clear per query)
      val counts = o.groupBy(col("o_orderstatus"), col("m"))
        .agg(count(lit(1)).as("n_orders")).persist()
      val months = counts.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("m"))
      val spine = months.crossJoin(
        counts.select(col("o_orderstatus")).distinct())
      spine.join(counts, Seq("o_orderstatus", "m"), "left")
        .select(col("o_orderstatus"),
          (expr("m div 12") * 100 + pmod(col("m"), lit(12)) + 1)
            .cast("long").as("ym"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("o_orderstatus"), col("ym"))
    }),
    "an1_outliers" -> ((s, dir) => {
      // robust anomaly profile per event type: median and MAD via the
      // shared exact PERCENTILE_CONT formula (window formulation — the
      // five event-type groups fit a partition by orders of magnitude;
      // see windowMedian's crossover note for the giant-group switch),
      // outlier = |v − med| > 3·MAD. The med/mad frames are
      // group-sized: broadcast back, one counting pass. med persists
      // (pr1 ownership contract) so dev's two consumers don't re-sort.
      val ev = T(s, dir, "events").select(col("event_type"), col("value"))
      val med = windowMedian(ev, "event_type", "value", "med").persist()
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = windowMedian(
        dev.select(col("event_type"), col("adev")), "event_type", "adev", "mad")
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med"), max(col("mad")).as("mad"),
          count(when(col("adev") > lit(3.0) * col("mad"), 1)).as("n_outliers"))
        .orderBy(col("event_type"))
    }),
    "pp1_period_over_period" -> ((s, dir) => {
      // month-over-month and year-over-year revenue deltas: one keyed
      // monthly aggregate (exact decimal revenue), then CALENDAR-exact
      // self-joins on m−1 / m−12 over the |months|-sized frame — a
      // positional lag(12) silently compares the wrong month as soon
      // as one month has no orders; the join form yields NULL deltas
      // across gaps, the standard SQL answer. The aggregate persists
      // (months-sized) so its three uses cost one fact scan.
      val m = T(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("m"))
        .agg(sumd(col("o_totalprice")).as("revenue")).persist()
      val prev1 = m.select((col("m") + 1).as("m"), col("revenue").as("rev_m1"))
      val prev12 = m.select((col("m") + 12).as("m"), col("revenue").as("rev_m12"))
      m.join(prev1, Seq("m"), "left").join(prev12, Seq("m"), "left")
        .select((expr("m div 12") * 100 + pmod(col("m"), lit(12)) + 1)
            .cast("long").as("ym"),
          col("revenue"),
          (col("revenue") - col("rev_m1")).as("mom_delta"),
          (col("revenue") - col("rev_m12")).as("yoy_delta"))
        .orderBy(col("ym"))
    }),
    "rr1_ratio_to_report" -> ((s, dir) => {
      // RATIO_TO_REPORT face: revenue share per nation. Customer dim
      // broadcasts into the fact; the share window runs over the
      // |nations|-sized aggregate.
      val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nat = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      // the grand-total window sums DECIMALS (order-independent) —
      // window-summing doubles would make `share` depend on row order
      val rev = T(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).as("rev_d"))
      rev.select(col("n_name"), col("rev_d").cast("double").as("revenue"),
          (col("rev_d").cast("double") /
            sum(col("rev_d")).over(Window.partitionBy()).cast("double"))
            .as("share"))
        .orderBy(col("n_name"))
    }),
    "gi1_islands" -> ((s, dir) => {
      // gaps-and-islands: maximal runs of consecutive active days per
      // user. Island id = day − row_number (constant within a run) —
      // pure integer arithmetic after one keyed window, no self-join.
      val days = T(s, dir, "events")
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("d"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      days.withColumn("grp", col("d") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("d")).as("start_day"), count(lit(1)).as("len"))
        .select(col("user_id"), col("start_day"), col("len"))
        .orderBy(col("user_id"), col("start_day"))
    }),
    "w8_count_distinct_window" -> ((s, dir) => {
      // COUNT(DISTINCT x) OVER (PARTITION BY g) via the max(dense_rank)
      // rewrite — the migration idiom for engines without distinct
      // windows. l_suppkey is non-null (the rewrite's contract).
      val part = Window.partitionBy(col("l_orderkey"))
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        .withColumn("dr", dense_rank().over(part.orderBy(col("l_suppkey"))))
        .withColumn("n_supp", max(col("dr")).over(part).cast("long"))
        .select(col("l_orderkey"), col("l_linenumber"), col("n_supp"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "at1_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits the user's most
      // recent PRECEDING non-purchase event; no preceding touch =
      // 'direct'. One keyed window (the w5 IGNORE-NULLS face composed
      // into the conversion reading) + a channel-sized aggregate.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_conversions"))
        .orderBy(col("channel"))
    }),
    "ab1_ab_test" -> ((s, dir) => {
      // deterministic A/B readout: variant = user_id parity (a seeded
      // hash in production — parity keeps the oracle trivially
      // mirrorable), conversion = a high-value purchase (> 300; "any
      // purchase" is degenerate on this corpus — every user has one,
      // pool = 1, z = 0/0). Two keyed aggregates collapse to ONE row;
      // rates, lift, and the two-proportion z-score are closed-form
      // doubles from exact counts — identical expression tree in both
      // engines, so identical IEEE bits. z's denominator goes through
      // nullif: a fully-degenerate test (pool 0 or 1) reads z = NULL
      // in BOTH engines instead of an ANSI division error here and a
      // NaN there.
      val pu = T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 300.0,
          1).otherwise(0)).as("conv"))
        .withColumn("v", pmod(col("user_id"), lit(2)))
      val d = (c: String) => col(c).cast("double")
      pu.agg(
          count(when(col("v") === 0, 1)).as("n0"),
          count(when(col("v") === 1, 1)).as("n1"),
          sum(when(col("v") === 0, col("conv")).otherwise(0)).as("c0"),
          sum(when(col("v") === 1, col("conv")).otherwise(0)).as("c1"))
        .withColumn("p0", d("c0") / d("n0"))
        .withColumn("p1", d("c1") / d("n1"))
        .withColumn("lift", d("c1") / d("n1") - d("c0") / d("n0"))
        .withColumn("pool", (col("c0") + col("c1")).cast("double") /
          (col("n0") + col("n1")).cast("double"))
        .withColumn("z", col("lift") /
          nullif(sqrt(col("pool") * (lit(1.0) - col("pool")) *
            (lit(1.0) / d("n0") + lit(1.0) / d("n1"))), lit(0.0)))
        .select(col("n0"), col("n1"), col("c0"), col("c1"),
          col("p0"), col("p1"), col("lift"), col("z"))
    }),
    "j11_null_safe_join" -> ((s, dir) => {
      // null-safe equi-join (<=> / IS NOT DISTINCT FROM): the migration
      // trap where Teradata/Oracle code relies on NULL = NULL matching.
      // Keys are deterministically nulled (every 53rd) on both sides;
      // the null bucket matches as a REGULAR key. Round 12: runs on
      // the null-bucket-split operator — value keys equi-join with no
      // null bucket anywhere, the null×null product broadcasts the
      // right bucket and parallelizes over the left rows — instead of
      // the plain <=> whose single NULL hash key serializes every
      // null row of both sides in one task at volume. The oracle is
      // DuckDB's native IS NOT DISTINCT FROM: the decomposition is
      // proven ≡ the builtin the way Salt.saltedJoin is.
      val o = T(s, dir, "orders").select(
        when(pmod(col("o_custkey"), lit(53)) === 0, lit(null))
          .otherwise(col("o_custkey")).as("k"),
        col("o_orderkey"))
      val c = T(s, dir, "customer").select(
        when(pmod(col("c_custkey"), lit(53)) === 0, lit(null))
          .otherwise(col("c_custkey")).as("k2"),
        col("c_custkey"))
      graft.operators.NullSafeJoin.join(o, c, "k", "k2")
        .groupBy(when(col("k").isNull, "null_key").otherwise("value_key")
          .as("match_type"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy(col("match_type"))
    }),
    "ivm1_incremental_agg" -> ((s, dir) => {
      // incremental view maintenance: a CDC delta (every 101st order
      // re-priced +10 — one delete + one insert) folds into the stored
      // per-status aggregate as stored ⊕ delta. The base aggregate here
      // stands in for the STORED view (computed once in a real
      // deployment); everything delta-ward is delta-sized, and the
      // merge joins two aggregate frames. Oracle = full recompute of
      // the modified table.
      val orders = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val touched = pmod(col("o_orderkey"), lit(101)) === 0
      val stored = orders.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n0"), sum(dec(col("o_totalprice"))).as("s0"))
      // delta aggregate: deletes carry weight −1 / −price, inserts +1;
      // ONE delta-sized pass, no per-op branches downstream
      val dels = orders.filter(touched)
        .select(col("o_orderstatus"), lit(-1L).as("w"),
          (-dec(col("o_totalprice"))).as("p"))
      val ins = orders.filter(touched)
        .select(col("o_orderstatus"), lit(1L).as("w"),
          dec(col("o_totalprice") + 10.0).as("p"))
      val delta = dels.unionByName(ins).groupBy(col("o_orderstatus"))
        .agg(sum(col("w")).as("dn"), sum(col("p")).as("ds"))
      stored.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s0"), lit(0)) + coalesce(col("ds"), lit(0)))
            .cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),
    "ivm2_minmax_view" -> ((s, dir) => {
      // NON-invertible IVM (round 12): the maintained view carries
      // min/max alongside count/sum — aggregates a delete can break.
      // The CDC delta reprices every 101st order (+10, delete+insert)
      // and DELETES the top-price order outright (argmax by price,
      // lowest key on ties — deterministic in both engines): the
      // delete that breaks its group's stored max. IvmFold
      // re-aggregates ONLY the broken group(s) from the post-delta
      // rows via a broadcast semi-join on the affected list; every
      // other group stays on the O(|delta|) stored ⊕ delta merge.
      // Oracle = full recompute over the modified table — the
      // equality the technique rests on, checked bit-for-bit.
      import graft.operators.IvmFold
      val orders = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      // deterministic argmax in ONE aggregate: lexicographic struct
      // max = highest price, then highest -key = lowest key
      val top1 = orders
        .agg(max(struct(col("o_totalprice"),
          (-col("o_orderkey")).as("nk"))).as("m"))
        .select((-col("m.nk")).as("__top_key"))
      val o2 = orders.crossJoin(broadcast(top1))
      val touched = pmod(col("o_orderkey"), lit(101)) === 0 &&
        col("o_orderkey") =!= col("__top_key")
      val stored = orders.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("s"),
          min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
      val dels = o2
        .filter(touched || col("o_orderkey") === col("__top_key"))
        .select(col("o_orderpriority"), lit("D").as("op"),
          col("o_totalprice").as("v"))
      val ins = o2.filter(touched)
        .select(col("o_orderpriority"), lit("I").as("op"),
          (col("o_totalprice") + 10.0).as("v"))
      val rowsAfter = o2.filter(col("o_orderkey") =!= col("__top_key"))
        .select(col("o_orderpriority"),
          when(touched, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("v"))
      IvmFold.foldMinMax(Some(stored), dels.unionByName(ins), rowsAfter,
          Seq("o_orderpriority"), "op", "v")
        .select(col("o_orderpriority"), col("n"),
          col("s").cast("double").as("sum_price"),
          col("mn").as("min_price"), col("mx").as("max_price"))
        .orderBy(col("o_orderpriority"))
    }),
    "ivm3_distinct_view" -> ((s, dir) => {
      // COUNT(DISTINCT) IVM (round 13) — the maintained per-priority
      // distinct-customer count under a CDC delta that exercises every
      // fold path: every 97th customer's orders are DELETED outright
      // (their (priority, custkey) pairs vanish — the rows-store
      // consult), every 101st remaining order is re-keyed to a fresh
      // customer id (delete+insert: the old pair usually survives via
      // the customer's other orders, the new pair is genuinely new —
      // the dict consult). IvmDistinct scans dict and rows store ONCE
      // each through broadcast semi-joins on the delta's own pairs;
      // the counts view itself folds invertibly (new − removed).
      // Oracle = full recompute over the modified table — the equality
      // the technique rests on, checked bit-for-bit.
      import graft.operators.IvmDistinct
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").as("ck"))
      val dropped = pmod(col("ck"), lit(97)) === 0
      val rekeyed = pmod(col("o_orderkey"), lit(101)) === 0
      // stored state stands in for the view (computed once in a real
      // deployment, maintained thereafter)
      val dict0 = IvmDistinct.dictOf(base, Seq("o_orderpriority"), "ck")
      val counts0 = IvmDistinct.viewOf(dict0, Seq("o_orderpriority"))
      val dels = base.filter(dropped || rekeyed)
        .select(col("o_orderpriority"), lit("D").as("op"), col("ck"))
      val ins = base.filter(!dropped && rekeyed)
        .select(col("o_orderpriority"), lit("I").as("op"),
          (col("ck") + 1000000L).as("ck"))
      val rowsAfter = base.filter(!dropped)
        .select(col("o_orderpriority"),
          when(rekeyed, col("ck") + 1000000L).otherwise(col("ck")).as("ck"))
      val (counts, _) = IvmDistinct.fold(Some((counts0, dict0)),
        dels.unionByName(ins), rowsAfter, Seq("o_orderpriority"), "op", "ck")
      counts.orderBy(col("o_orderpriority"))
    }),
    "ivm4_join_view" -> ((s, dir) => {
      // JOIN-view IVM (round 13) — a maintained per-nation revenue
      // view over customer ⋈ orders absorbing CDC on BOTH sides in one
      // fold: every 101st order repriced (delete+insert on the fact),
      // every 89th customer re-pointed to the next nation
      // (delete+insert on the dim) — and their overlap exercises the
      // ΔR⋈ΔS cross term, the part a naive "re-join the delta" misses.
      // The bilinear expansion keeps every leg delta-anchored: each
      // term broadcasts its delta side, the stored sides stream
      // through one scan apiece, and the view folds as aggregate ⊕
      // delta. Oracle = full recompute of the join over both modified
      // tables, bit-for-bit.
      import graft.operators.IvmJoin
      val o = T(s, dir, "orders")
        .select(col("o_custkey").as("ck"), col("o_orderkey"),
          col("o_totalprice").as("price"))
      val c = T(s, dir, "customer")
        .select(col("c_custkey").as("ck"),
          col("c_nationkey").cast("long").as("c_nationkey"))
      val repriced = pmod(col("o_orderkey"), lit(101)) === 0
      val moved = pmod(col("ck"), lit(89)) === 0
      val rBefore = o.select(col("ck"), col("price"))
      val dR = o.filter(repriced)
        .select(col("ck"), col("price"), lit("D").as("op"))
        .unionByName(o.filter(repriced)
          .select(col("ck"), (col("price") + 10.0).as("price"),
            lit("I").as("op")))
      val dS = c.filter(moved)
        .select(col("ck"), col("c_nationkey"), lit("D").as("op"))
        .unionByName(c.filter(moved)
          .select(col("ck"),
            pmod(col("c_nationkey") + 1L, lit(25L)).as("c_nationkey"),
            lit("I").as("op")))
      import graft.core.Exact.dec
      val stored = rBefore.join(c, Seq("ck"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(dec(col("price"))).as("s"))
      IvmJoin.foldSumView(Some(stored), dR, dS, rBefore, c,
          Seq("ck"), Seq("c_nationkey"), "price", "op")
        .select(col("c_nationkey"), col("n"),
          col("s").cast("double").as("sum_price"))
        .orderBy(col("c_nationkey"))
    }),
    "ivm5_quantile_view" -> ((s, dir) => {
      // QUANTILE-view IVM (round 13) — maintained exact per-priority
      // median + p90 of order prices under the ivm3 delta (every 97th
      // customer's orders dropped, every 101st remaining order
      // repriced +10). The maintained state is per-(priority, bucket)
      // COUNTS — a purely INVERTIBLE fold, no re-aggregation path no
      // matter what the delta deletes — and the read consults only the
      // candidate buckets the cumulative counts name (≈ n/1024 rows
      // per requested rank). Oracle = the sort-based PERCENTILE_CONT
      // recompute with the shared qt2 interpolation, bit-for-bit.
      import graft.operators.IvmQuantile
      val lo = 0.0; val hi = 1000000.0; val b = 1024
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").as("ck"), col("o_totalprice").as("price"))
      val dropped = pmod(col("ck"), lit(97)) === 0
      val repriced = pmod(col("o_orderkey"), lit(101)) === 0
      val counts0 = IvmQuantile.countsOf(base, Seq("o_orderpriority"),
        "price", lo, hi, b)
      val dels = base.filter(dropped || repriced)
        .select(col("o_orderpriority"), lit("D").as("op"), col("price"))
      val ins = base.filter(!dropped && repriced)
        .select(col("o_orderpriority"), lit("I").as("op"),
          (col("price") + 10.0).as("price"))
      val counts1 = IvmQuantile.foldCounts(Some(counts0),
        dels.unionByName(ins), Seq("o_orderpriority"), "op", "price",
        lo, hi, b)
      val rowsAfter = base.filter(!dropped)
        .select(col("o_orderpriority"),
          when(repriced, col("price") + 10.0).otherwise(col("price"))
            .as("price"))
      IvmQuantile.percentileCont(counts1, rowsAfter,
          Seq("o_orderpriority"), "price", Seq(0.5, 0.9), lo, hi, b)
        .orderBy(col("o_orderpriority"), col("p"))
    }),
    "ivm6_topk_view" -> ((s, dir) => {
      // TOP-K view IVM (round 13, sixth family member) — maintained
      // per-priority top-3 customers by order count (the hh1 heavy-
      // hitters shape, maintained instead of recomputed) under a CDC
      // delta built to exercise BOTH refresh paths: urgent priorities
      // (1-URGENT, 2-HIGH) lose every 97th customer's orders outright
      // (net decreases → "broken" groups re-rank their slice of the
      // counts STORE — never the fact table: counts fold invertibly,
      // so the store is the finest truth the view needs), while every
      // 101st order spawns a synthetic extra order by a fresh customer
      // in its own priority (pure inserts → the other groups stay on
      // the candidate path, provably old-topk ∪ delta keys). Oracle =
      // full recompute over the modified table, bit-for-bit.
      import graft.operators.IvmTopK
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").as("ck"))
      val urgent = col("o_orderpriority") < "3"
      val dropped = pmod(col("ck"), lit(97)) === 0 && urgent
      val synth = pmod(col("o_orderkey"), lit(101)) === 0
      val counts0 = IvmTopK.countsOf(base, Seq("o_orderpriority"), "ck")
      val topk0 = IvmTopK.viewOf(counts0, Seq("o_orderpriority"), "ck", 3)
      val dels = base.filter(dropped)
        .select(col("o_orderpriority"), lit("D").as("op"), col("ck"))
      val ins = base.filter(synth)
        .select(col("o_orderpriority"), lit("I").as("op"),
          (col("ck") + 1000000L).as("ck"))
      val (topk1, _) = IvmTopK.fold(Some((topk0, counts0)),
        dels.unionByName(ins), Seq("o_orderpriority"), "op", "ck", 3)
      topk1.select(col("o_orderpriority"), col("rnk"), col("ck"),
          col("cnt"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),
    "ivm6w_weighted_topk" -> ((s, dir) => {
      // Weighted TOP-K view IVM — ivm6's fold with the measure
      // generalized from row count to a maintained positive-long SUM:
      // top-3 customers per priority by REVENUE (order value in
      // cents — exact long arithmetic, the fixed-point money
      // discipline). Same CDC shape as ivm6 so both refresh paths
      // stay exercised; deletes carry each dropped order's own
      // weight, so the store fold stays exactly invertible. Oracle =
      // full recompute over the modified table, bit-for-bit.
      import graft.operators.IvmTopK
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").as("ck"),
          round(col("o_totalprice") * 100).cast("long").as("w"))
      val urgent = col("o_orderpriority") < "3"
      val dropped = pmod(col("ck"), lit(97)) === 0 && urgent
      val synth = pmod(col("o_orderkey"), lit(101)) === 0
      val counts0 = IvmTopK.countsOf(base, Seq("o_orderpriority"), "ck",
        Some("w"))
      val topk0 = IvmTopK.viewOf(counts0, Seq("o_orderpriority"), "ck", 3)
      val dels = base.filter(dropped)
        .select(col("o_orderpriority"), lit("D").as("op"), col("ck"),
          col("w"))
      val ins = base.filter(synth)
        .select(col("o_orderpriority"), lit("I").as("op"),
          (col("ck") + 1000000L).as("ck"), col("w"))
      val (topk1, _) = IvmTopK.fold(Some((topk0, counts0)),
        dels.unionByName(ins), Seq("o_orderpriority"), "op", "ck", 3,
        Some("w"))
      topk1.select(col("o_orderpriority"), col("rnk"), col("ck"),
          col("cnt"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),
    "ivm7_composed_view" -> ((s, dir) => {
      // COMPOSED IVM (round 14) — the canonical warehouse materialized
      // view: a MULTI-WAY JOIN feeding an AGGREGATE (revenue per
      // nation over lineitem ⋈ orders ⋈ customer), maintained
      // end-to-end by COMPOSITION of the family members instead of a
      // bespoke operator. IvmJoin.deltaJoin emits the joined relation's
      // own CDC stream (signed I/D rows, the same delta contract every
      // fold consumes), so the pipeline chains: Δ(L⋈O) from the
      // stage-1 bilinear expansion, that delta re-enters stage 2 AS
      // ΔR against the maintained intermediate join and customer, and
      // the final signed stream folds invertibly into the stored
      // (n, s) view. One change batch touches all three bases: every
      // 101st lineitem repriced +10 (delete+insert on the deepest
      // fact), every 97th order deleted outright (their lines vanish
      // from the view — and a repriced line whose order dies in the
      // SAME batch exercises the stage-1 ΔL⋈ΔO cross term), every
      // 89th customer re-pointed to the next nation (delete+insert on
      // the dim — stage 2's ΔR⋈ΔS cross term fires where an upstream
      // delta row lands on a moved customer). Every leg broadcasts
      // only delta-sized frames; the stored relations stream through
      // one scan apiece. Oracle = full recompute of the three-way
      // join over all three modified tables, bit-for-bit.
      import graft.operators.IvmJoin
      val l = T(s, dir, "lineitem").select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_extendedprice").as("price"))
      val o = T(s, dir, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"))
      val c = T(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").cast("long").as("nation"))
      val repriced = pmod(col("ok"), lit(101)) === 0
      val odropped = pmod(col("ok"), lit(97)) === 0
      val moved = pmod(col("ck"), lit(89)) === 0
      val dL = l.filter(repriced)
        .select(col("ok"), col("ln"), col("price"), lit("D").as("op"))
        .unionByName(l.filter(repriced)
          .select(col("ok"), col("ln"), (col("price") + 10.0).as("price"),
            lit("I").as("op")))
      val dO = o.filter(odropped)
        .select(col("ok"), col("ck"), lit("D").as("op"))
      val dC = c.filter(moved)
        .select(col("ck"), col("nation"), lit("D").as("op"))
        .unionByName(c.filter(moved)
          .select(col("ck"), pmod(col("nation") + 1L, lit(25L)).as("nation"),
            lit("I").as("op")))
      // stage 1: the joined fact's own CDC stream
      val d1 = IvmJoin.deltaJoin(dL, dO, l, o, Seq("ok"), "op",
        Seq("ck", "price"))
      // stage 2: upstream delta AS this join's ΔR; its R is the
      // maintained intermediate join (recomputed here as the stand-in
      // for a stored (ck, price) intermediate)
      val lo = l.join(o, Seq("ok")).select(col("ck"), col("price"))
      val d2 = IvmJoin.deltaJoin(d1, dC, lo, c, Seq("ck"), "op",
        Seq("nation", "price"))
      import graft.core.Exact.dec
      val stored = lo.join(c, Seq("ck")).groupBy(col("nation"))
        .agg(count(lit(1)).as("n"), sum(dec(col("price"))).as("s"))
      IvmJoin.foldAggSigned(Some(stored), d2, Seq("nation"), "price", "op")
        .select(col("nation"), col("n"),
          col("s").cast("double").as("sum_price"))
        .orderBy(col("nation"))
    }),
    "ivm8_multiset_view" -> ((s, dir) => {
      // MULTISET composed IVM (round 15) — ivm7's composition WITHOUT
      // the many-to-one restriction: both stages of
      // supplier ⋈ customer (on nationkey — many suppliers meet many
      // customers per nation) ⋈ orders (on custkey — many intermediate
      // rows meet many orders per customer) are MANY-TO-MANY, so the
      // maintained intermediate has no primary key and is kept as a
      // (payload, multiplicity) multiset instead. The algebra is
      // IvmJoin.deltaJoinWeighted (the bilinear expansion with
      // multiplicity PRODUCTS — deltas carry net signed weights, store
      // legs carry multiplicities) chaining into foldAggWeighted
      // (n += Σw, s += Σ w·value) — the composed-chain batch
      // algebra, oracle-checked. One change batch touches all three
      // bases: every 31st supplier's balance repriced +10 (D+I),
      // every 89th customer deleted outright (their whole fan-out
      // leaves the view), every 101st order re-prioritized (D+I on
      // the outer base). Oracle = full recompute of the three-way
      // many-to-many join over the modified tables, bit-for-bit.
      import graft.operators.IvmJoin
      val sup = T(s, dir, "supplier").select(col("s_suppkey").as("sk"),
        col("s_nationkey").as("nk"), col("s_acctbal").as("bal"))
      val cus = T(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nk"))
      val ord = T(s, dir, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("prio"))
      val repriced = pmod(col("sk"), lit(31)) === 0
      val cdropped = pmod(col("ck"), lit(89)) === 0
      val omoved = pmod(col("ok"), lit(101)) === 0
      val dS = sup.filter(repriced)
        .select(col("sk"), col("nk"), col("bal"), lit(-1L).as("__w"))
        .unionByName(sup.filter(repriced)
          .select(col("sk"), col("nk"), (col("bal") + 10.0).as("bal"),
            lit(1L).as("__w")))
      val dC = cus.filter(cdropped)
        .select(col("ck"), col("nk"), lit(-1L).as("__w"))
      val dO = ord.filter(omoved)
        .select(col("ok"), col("ck"), col("prio"), lit(-1L).as("__w"))
        .unionByName(ord.filter(omoved)
          .select(col("ok"), col("ck"),
            concat(lit("moved-"), col("prio")).as("prio"),
            lit(1L).as("__w")))
      def asSet(df: DataFrame) = df.withColumn("__mult", lit(1L))
      // stage 1 (many-to-many): Δ(S⋈C) as a net-weighted multiset
      // stream; the PRE-delta intermediate is the projected multiset
      // (ck, bal) with counted multiplicity — the stand-in for a
      // stored intermediate multiset
      val d1 = IvmJoin.deltaJoinWeighted(dS, dC, asSet(sup), asSet(cus),
        Seq("nk"), "__w", "__mult", Seq("ck", "bal"))
      val dlo = d1.groupBy(col("ck"), col("bal"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      val lo = sup.join(cus, Seq("nk"))
        .groupBy(col("ck"), col("bal")).agg(count(lit(1)).as("__mult"))
      // stage 2 (also many-to-many): upstream delta AS this join's ΔR
      val d2 = IvmJoin.deltaJoinWeighted(dlo, dO, lo, asSet(ord),
        Seq("ck"), "__w", "__mult", Seq("prio", "bal"))
      import graft.core.Exact.dec
      val stored = sup.join(cus, Seq("nk")).join(ord, Seq("ck"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(dec(col("bal"))).as("s"))
      IvmJoin.foldAggWeighted(Some(stored), d2, Seq("prio"), "bal", "__w")
        .select(col("prio"), col("n"), col("s").cast("double").as("sum_bal"))
        .orderBy(col("prio"))
    }),
    "ivm9_composed_topk" -> ((s, dir) => {
      // COMPOSED TOP-K IVM (round 16) — a NON-INVERTIBLE aggregate at
      // the top of the weighted composed chain: maintained top-3
      // nations per order priority by total order revenue (cents —
      // exact fixed-point longs) over the many-to-many chain
      // supplier ⋈ customer (on nationkey) ⋈ orders (on custkey),
      // where each joined (supplier, customer, order) derivation
      // contributes the order's cents once — multiset semantics, so
      // a nation's measure scales with its supplier fan-out. The
      // chain emits a net-weighted delta stream
      // (IvmJoin.deltaJoinWeighted, ivm8's algebra) and
      // IvmTopK.foldWeighted consumes it directly: the monotonicity
      // proof only needs per-key NET measure deltas, and a compressed
      // weighted stream IS that. One batch touches all three bases:
      // every 31st supplier MOVES to the next nation (D+I at stage 1
      // — both nations' measures shift in every priority), every 89th
      // customer deleted (net decreases → broken groups re-rank their
      // counts-store slice), every 101st order re-prioritized to a
      // fresh 'moved-' priority (insert-only new groups → the
      // clean-path candidate proof). Oracle = full recompute + rank
      // over the modified tables, bit-for-bit.
      import graft.operators.{IvmJoin, IvmTopK}
      val sup = T(s, dir, "supplier").select(col("s_suppkey").as("sk"),
        col("s_nationkey").as("nk"))
      val cus = T(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nk"))
      val ord = T(s, dir, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val smoved = pmod(col("sk"), lit(31)) === 0
      val cdropped = pmod(col("ck"), lit(89)) === 0
      val omoved = pmod(col("ok"), lit(101)) === 0
      val dS = sup.filter(smoved)
        .select(col("sk"), col("nk"), lit(-1L).as("__w"))
        .unionByName(sup.filter(smoved)
          .select(col("sk"), pmod(col("nk") + 1, lit(25)).as("nk"),
            lit(1L).as("__w")))
      val dC = cus.filter(cdropped)
        .select(col("ck"), col("nk"), lit(-1L).as("__w"))
      val dO = ord.filter(omoved)
        .select(col("ok"), col("ck"), col("prio"), col("cents"),
          lit(-1L).as("__w"))
        .unionByName(ord.filter(omoved)
          .select(col("ok"), col("ck"),
            concat(lit("moved-"), col("prio")).as("prio"), col("cents"),
            lit(1L).as("__w")))
      def asSet(df: DataFrame) = df.withColumn("__mult", lit(1L))
      // stage 1 (many-to-many on nation): Δ(S⋈C) projected to
      // (ck, nk) — multiplicity = the customer's nation's supplier
      // fan; the stored intermediate stand-in is the counted multiset
      val d1 = IvmJoin.deltaJoinWeighted(dS, dC, asSet(sup), asSet(cus),
        Seq("nk"), "__w", "__mult", Seq("ck", "nk"))
      // r16 opt: the four reused small frames (net stage-1 delta,
      // net final delta, counts seed, view seed) are lineage-truncated
      // with LAZY localCheckpoint — the top-k fold references each of
      // them 2-3×, and the refresh's candidate/broken/merge branches
      // multiplied the WHOLE upstream tree into a 622-Exchange /
      // 672-scan initial plan whose analysis+planning alone cost
      // ~2.6 s/run (plans/r16/ivm9_composed_topk_before.txt). The
      // checkpoint computes each frame once into RDD blocks and the
      // downstream plan collapses to LogicalRDD scans; .cache() was
      // tried and REJECTED (interleaved A/B: columnar materialization
      // + AQE barrier made the query 74% SLOWER, 10.8→18.8 s).
      //
      // CLUSTER-MODE TRADE (r17, the r16 verdict's reliability note):
      // localCheckpoint blocks live on executors WITHOUT replication
      // and their lineage is gone — on a multi-node cluster an
      // executor loss fails this query instead of recomputing. That is
      // the right trade HERE: these frames are aggregate-sized, the
      // query is a batch recomputation (retry = re-run).
      // A long-lived cluster caller that cannot re-run should swap in
      // df.persist(StorageLevel.DISK_ONLY_2) or a reliable
      // checkpoint(dir) at ~2× the local cost — see SCALING.md
      // "localCheckpoint on clusters".
      val dlo = d1.groupBy(col("ck"), col("nk"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
        .localCheckpoint(false)
      val lo = sup.join(cus, Seq("nk"))
        .groupBy(col("ck"), col("nk")).agg(count(lit(1)).as("__mult"))
      // stage 2: upstream delta AS this join's ΔR against orders
      val d2 = IvmJoin.deltaJoinWeighted(dlo, dO, lo, asSet(ord),
        Seq("ck"), "__w", "__mult", Seq("prio", "nk", "cents"))
      val net = d2.groupBy(col("prio"), col("nk"), col("cents"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
        .localCheckpoint(false)
      val joined = sup.join(cus, Seq("nk")).join(ord, Seq("ck"))
      val counts0 = IvmTopK.countsOf(joined, Seq("prio"), "nk",
        Some("cents")).localCheckpoint(false)
      val topk0 = IvmTopK.viewOf(counts0, Seq("prio"), "nk", 3)
        .localCheckpoint(false)
      val (topk1, _) = IvmTopK.foldWeighted(Some((topk0, counts0)), net,
        Seq("prio"), "__w", "nk", 3, Some("cents"))
      topk1.select(col("prio"), col("rnk"), col("nk"), col("cnt"))
        .orderBy(col("prio"), col("rnk"))
    }),
    "ivm10_composed_minmax" -> ((s, dir) => {
      // COMPOSED MIN/MAX IVM (round 16) — the extremum (ivm2's
      // non-invertible face) maintained OVER the ivm8 many-to-many
      // chain: per order priority, (n, Σ, min, max) of supplier
      // balance across all joined (supplier, customer, order)
      // derivations. There is no base table to re-aggregate a broken
      // extremum from — the chain maintains the FINAL joined multiset
      // itself, and IvmFold.foldMinMaxWeighted re-aggs broken groups
      // from exactly that multiset (multiplicity scales n and Σ;
      // extremes range over surviving distinct values). Same CDC
      // batch as ivm8: supplier balances repriced +10 (the D leg can
      // delete a group's max → broken re-agg), customers deleted,
      // orders re-prioritized (fresh groups, insert-only). Oracle =
      // full recompute over the modified tables, bit-for-bit.
      import graft.operators.{IvmJoin, IvmFold}
      import graft.core.Exact.dec
      val sup = T(s, dir, "supplier").select(col("s_suppkey").as("sk"),
        col("s_nationkey").as("nk"), col("s_acctbal").as("bal"))
      val cus = T(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nk"))
      val ord = T(s, dir, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("prio"))
      val repriced = pmod(col("sk"), lit(31)) === 0
      val cdropped = pmod(col("ck"), lit(89)) === 0
      val omoved = pmod(col("ok"), lit(101)) === 0
      val dS = sup.filter(repriced)
        .select(col("sk"), col("nk"), col("bal"), lit(-1L).as("__w"))
        .unionByName(sup.filter(repriced)
          .select(col("sk"), col("nk"), (col("bal") + 10.0).as("bal"),
            lit(1L).as("__w")))
      val dC = cus.filter(cdropped)
        .select(col("ck"), col("nk"), lit(-1L).as("__w"))
      val dO = ord.filter(omoved)
        .select(col("ok"), col("ck"), col("prio"), lit(-1L).as("__w"))
        .unionByName(ord.filter(omoved)
          .select(col("ok"), col("ck"),
            concat(lit("moved-"), col("prio")).as("prio"),
            lit(1L).as("__w")))
      def asSet(df: DataFrame) = df.withColumn("__mult", lit(1L))
      val d1 = IvmJoin.deltaJoinWeighted(dS, dC, asSet(sup), asSet(cus),
        Seq("nk"), "__w", "__mult", Seq("ck", "bal"))
      val dlo = d1.groupBy(col("ck"), col("bal"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      val lo = sup.join(cus, Seq("nk"))
        .groupBy(col("ck"), col("bal")).agg(count(lit(1)).as("__mult"))
      val d2 = IvmJoin.deltaJoinWeighted(dlo, dO, lo, asSet(ord),
        Seq("ck"), "__w", "__mult", Seq("prio", "bal"))
      val net = d2.groupBy(col("prio"), col("bal"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      val stored = sup.join(cus, Seq("nk")).join(ord, Seq("ck"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("bal"))).cast("decimal(28,4)").as("s"),
          min(col("bal")).as("mn"), max(col("bal")).as("mx"))
      // the POST-delta final multiset — the stand-in for the
      // maintained `final` family's touched slice
      val sup2 = sup.select(col("sk"), col("nk"),
        when(repriced, col("bal") + 10.0).otherwise(col("bal")).as("bal"))
      val cus2 = cus.filter(!cdropped)
      val ord2 = ord.select(col("ok"), col("ck"),
        when(omoved, concat(lit("moved-"), col("prio")))
          .otherwise(col("prio")).as("prio"))
      val multisetAfter = sup2.join(cus2, Seq("nk")).join(ord2, Seq("ck"))
        .groupBy(col("prio"), col("bal")).agg(count(lit(1)).as("__mult"))
      IvmFold.foldMinMaxWeighted(Some(stored), net, multisetAfter,
          Seq("prio"), "__w", "bal")
        .select(col("prio"), col("n"),
          col("s").cast("double").as("sum_bal"),
          col("mn").as("mn_bal"), col("mx").as("mx_bal"))
        .orderBy(col("prio"))
    }),
    "ivm11_composed_distinct" -> ((s, dir) => {
      // COMPOSED DISTINCT-COUNT IVM (round 16) — COUNT(DISTINCT
      // balance) per priority maintained over the ivm8 chain. The
      // weighted dictionary (pair → derivation multiplicity) makes
      // the fold fully INVERTIBLE — no rows store consulted:
      // multiplicity is the survival arbiter (a balance leaves a
      // priority exactly when its last joined derivation does), so
      // IvmDistinct.foldWeighted folds the chain's net-weighted
      // stream with nothing store-sized. Same CDC batch as ivm8.
      // Oracle = full COUNT(DISTINCT) recompute, bit-for-bit.
      import graft.operators.{IvmJoin, IvmDistinct}
      val sup = T(s, dir, "supplier").select(col("s_suppkey").as("sk"),
        col("s_nationkey").as("nk"), col("s_acctbal").as("bal"))
      val cus = T(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nk"))
      val ord = T(s, dir, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("prio"))
      val repriced = pmod(col("sk"), lit(31)) === 0
      val cdropped = pmod(col("ck"), lit(89)) === 0
      val omoved = pmod(col("ok"), lit(101)) === 0
      val dS = sup.filter(repriced)
        .select(col("sk"), col("nk"), col("bal"), lit(-1L).as("__w"))
        .unionByName(sup.filter(repriced)
          .select(col("sk"), col("nk"), (col("bal") + 10.0).as("bal"),
            lit(1L).as("__w")))
      val dC = cus.filter(cdropped)
        .select(col("ck"), col("nk"), lit(-1L).as("__w"))
      val dO = ord.filter(omoved)
        .select(col("ok"), col("ck"), col("prio"), lit(-1L).as("__w"))
        .unionByName(ord.filter(omoved)
          .select(col("ok"), col("ck"),
            concat(lit("moved-"), col("prio")).as("prio"),
            lit(1L).as("__w")))
      def asSet(df: DataFrame) = df.withColumn("__mult", lit(1L))
      val d1 = IvmJoin.deltaJoinWeighted(dS, dC, asSet(sup), asSet(cus),
        Seq("nk"), "__w", "__mult", Seq("ck", "bal"))
      val dlo = d1.groupBy(col("ck"), col("bal"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      val lo = sup.join(cus, Seq("nk"))
        .groupBy(col("ck"), col("bal")).agg(count(lit(1)).as("__mult"))
      val d2 = IvmJoin.deltaJoinWeighted(dlo, dO, lo, asSet(ord),
        Seq("ck"), "__w", "__mult", Seq("prio", "bal"))
      val net = d2.groupBy(col("prio"), col("bal"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      // stored stand-in: the maintained weighted dict + its view
      val dict0 = sup.join(cus, Seq("nk")).join(ord, Seq("ck"))
        .groupBy(col("prio"), col("bal")).agg(count(lit(1)).as("__mult"))
      val counts0 = IvmDistinct.viewOf(dict0, Seq("prio"))
      val (counts1, _) = IvmDistinct.foldWeighted(Some((counts0, dict0)),
        net, Seq("prio"), "__w", "bal")
      counts1.select(col("prio"), col("n_distinct"))
        .orderBy(col("prio"))
    }),
    "ivm12_composed_quantile" -> ((s, dir) => {
      // COMPOSED QUANTILE IVM (round 16) — exact PERCENTILE_CONT of
      // order value per priority maintained over the ivm8
      // many-to-many chain, closing the LAST family member over
      // chains: the per-(group, value-bucket) counts fold WEIGHTED
      // net deltas (IvmQuantile.foldCountsWeighted — purely
      // invertible, the quantile family never re-aggregates), and the
      // read completes the candidate-bucket rank over the maintained
      // final MULTISET with cumulative weights — a (value,
      // multiplicity) row spans multiplicity-many consecutive ranks
      // (IvmQuantile.percentileContWeighted), bit-identical to
      // expanding every derivation. Same CDC batch family as ivm8:
      // supplier moves, customer deletes, order re-prioritization.
      // Oracle = the explicit qt2 interpolation formula over the
      // modified three-way join, bit-for-bit.
      import graft.operators.{IvmJoin, IvmQuantile}
      val (qlo, qhi, qb) = (0.0, 1000000.0, 64)
      val sup = T(s, dir, "supplier").select(col("s_suppkey").as("sk"),
        col("s_nationkey").as("nk"))
      val cus = T(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nk"))
      val ord = T(s, dir, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("prio"),
        col("o_totalprice").as("price"))
      val smoved = pmod(col("sk"), lit(31)) === 0
      val cdropped = pmod(col("ck"), lit(89)) === 0
      val omoved = pmod(col("ok"), lit(101)) === 0
      val dS = sup.filter(smoved)
        .select(col("sk"), col("nk"), lit(-1L).as("__w"))
        .unionByName(sup.filter(smoved)
          .select(col("sk"), pmod(col("nk") + 1, lit(25)).as("nk"),
            lit(1L).as("__w")))
      val dC = cus.filter(cdropped)
        .select(col("ck"), col("nk"), lit(-1L).as("__w"))
      val dO = ord.filter(omoved)
        .select(col("ok"), col("ck"), col("prio"), col("price"),
          lit(-1L).as("__w"))
        .unionByName(ord.filter(omoved)
          .select(col("ok"), col("ck"),
            concat(lit("moved-"), col("prio")).as("prio"), col("price"),
            lit(1L).as("__w")))
      def asSet(df: DataFrame) = df.withColumn("__mult", lit(1L))
      // stage 1 projected to (ck) — multiplicity = the customer's
      // nation's supplier fan (what each order's value is weighted by)
      val d1 = IvmJoin.deltaJoinWeighted(dS, dC, asSet(sup), asSet(cus),
        Seq("nk"), "__w", "__mult", Seq("ck"))
      val dlo = d1.groupBy(col("ck"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      val lo1 = sup.join(cus, Seq("nk"))
        .groupBy(col("ck")).agg(count(lit(1)).as("__mult"))
      val d2 = IvmJoin.deltaJoinWeighted(dlo, dO, lo1, asSet(ord),
        Seq("ck"), "__w", "__mult", Seq("prio", "price"))
      val net = d2.groupBy(col("prio"), col("price"))
        .agg(sum(col("__w")).as("__w")).filter(col("__w") =!= 0)
      val joined = sup.join(cus, Seq("nk")).join(ord, Seq("ck"))
      val counts0 = IvmQuantile.countsOf(joined, Seq("prio"), "price",
        qlo, qhi, qb)
      val counts1 = IvmQuantile.foldCountsWeighted(Some(counts0), net,
        Seq("prio"), "__w", "price", qlo, qhi, qb)
      // the POST-delta final multiset — the maintained `final`
      // family's stand-in
      val sup2 = sup.select(col("sk"),
        when(smoved, pmod(col("nk") + 1, lit(25)))
          .otherwise(col("nk")).as("nk"))
      val cus2 = cus.filter(!cdropped)
      val ord2 = ord.select(col("ok"), col("ck"),
        when(omoved, concat(lit("moved-"), col("prio")))
          .otherwise(col("prio")).as("prio"), col("price"))
      val after = sup2.join(cus2, Seq("nk")).join(ord2, Seq("ck"))
        .groupBy(col("prio"), col("price")).agg(count(lit(1)).as("__mult"))
      IvmQuantile.percentileContWeighted(counts1, after, Seq("prio"),
          "price", "__mult", Seq(0.5, 0.9), qlo, qhi, qb)
        .orderBy(col("prio"), col("p"))
    }))

  val oracle: Map[String, String] = Map(
    "ivm7_composed_view" ->
      """WITH l2 AS (
        | SELECT l_orderkey AS ok,
        |  CASE WHEN l_orderkey % 101 = 0 THEN l_extendedprice + 10.0
        |       ELSE l_extendedprice END AS price
        | FROM lineitem),
        |o2 AS (
        | SELECT o_orderkey AS ok, o_custkey AS ck FROM orders
        | WHERE o_orderkey % 97 <> 0),
        |c2 AS (
        | SELECT c_custkey AS ck,
        |  CAST(CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 1) % 25
        |       ELSE c_nationkey END AS BIGINT) AS nation
        | FROM customer)
        |SELECT nation, COUNT(*) AS n,
        | CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM l2 JOIN o2 USING (ok) JOIN c2 USING (ck)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm8_multiset_view" ->
      """WITH s2 AS (
        | SELECT s_nationkey AS nk,
        |  CASE WHEN s_suppkey % 31 = 0 THEN s_acctbal + 10.0
        |       ELSE s_acctbal END AS bal
        | FROM supplier),
        |c2 AS (
        | SELECT c_custkey AS ck, c_nationkey AS nk FROM customer
        | WHERE c_custkey % 89 <> 0),
        |o2 AS (
        | SELECT o_custkey AS ck,
        |  CASE WHEN o_orderkey % 101 = 0
        |       THEN 'moved-' || o_orderpriority
        |       ELSE o_orderpriority END AS prio
        | FROM orders)
        |SELECT prio, COUNT(*) AS n,
        | CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM s2 JOIN c2 USING (nk) JOIN o2 USING (ck)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm9_composed_topk" ->
      """WITH s2 AS (
        | SELECT CAST(CASE WHEN s_suppkey % 31 = 0
        |       THEN (s_nationkey + 1) % 25
        |       ELSE s_nationkey END AS INTEGER) AS nk
        | FROM supplier),
        |c2 AS (
        | SELECT c_custkey AS ck, CAST(c_nationkey AS INTEGER) AS nk
        | FROM customer WHERE c_custkey % 89 <> 0),
        |o2 AS (
        | SELECT o_custkey AS ck,
        |  CASE WHEN o_orderkey % 101 = 0
        |       THEN 'moved-' || o_orderpriority
        |       ELSE o_orderpriority END AS prio,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |m AS (
        | SELECT prio, nk, CAST(SUM(cents) AS BIGINT) AS cnt
        | FROM s2 JOIN c2 USING (nk) JOIN o2 USING (ck)
        | GROUP BY 1, 2),
        |r AS (
        | SELECT prio, nk, cnt,
        |  CAST(row_number() OVER (PARTITION BY prio
        |    ORDER BY cnt DESC, nk) AS INTEGER) AS rnk
        | FROM m)
        |SELECT prio, rnk, nk, cnt FROM r WHERE rnk <= 3
        |ORDER BY prio, rnk""".stripMargin,
    "ivm10_composed_minmax" ->
      """WITH s2 AS (
        | SELECT s_nationkey AS nk,
        |  CASE WHEN s_suppkey % 31 = 0 THEN s_acctbal + 10.0
        |       ELSE s_acctbal END AS bal
        | FROM supplier),
        |c2 AS (
        | SELECT c_custkey AS ck, c_nationkey AS nk FROM customer
        | WHERE c_custkey % 89 <> 0),
        |o2 AS (
        | SELECT o_custkey AS ck,
        |  CASE WHEN o_orderkey % 101 = 0
        |       THEN 'moved-' || o_orderpriority
        |       ELSE o_orderpriority END AS prio
        | FROM orders)
        |SELECT prio, COUNT(*) AS n,
        | CAST(SUM(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
        | MIN(bal) AS mn_bal, MAX(bal) AS mx_bal
        |FROM s2 JOIN c2 USING (nk) JOIN o2 USING (ck)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm11_composed_distinct" ->
      """WITH s2 AS (
        | SELECT s_nationkey AS nk,
        |  CASE WHEN s_suppkey % 31 = 0 THEN s_acctbal + 10.0
        |       ELSE s_acctbal END AS bal
        | FROM supplier),
        |c2 AS (
        | SELECT c_custkey AS ck, c_nationkey AS nk FROM customer
        | WHERE c_custkey % 89 <> 0),
        |o2 AS (
        | SELECT o_custkey AS ck,
        |  CASE WHEN o_orderkey % 101 = 0
        |       THEN 'moved-' || o_orderpriority
        |       ELSE o_orderpriority END AS prio
        | FROM orders)
        |SELECT prio, CAST(COUNT(DISTINCT bal) AS BIGINT) AS n_distinct
        |FROM s2 JOIN c2 USING (nk) JOIN o2 USING (ck)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm12_composed_quantile" ->
      """WITH s2 AS (
        | SELECT CAST(CASE WHEN s_suppkey % 31 = 0
        |       THEN (s_nationkey + 1) % 25
        |       ELSE s_nationkey END AS INTEGER) AS nk
        | FROM supplier),
        |c2 AS (
        | SELECT c_custkey AS ck, CAST(c_nationkey AS INTEGER) AS nk
        | FROM customer WHERE c_custkey % 89 <> 0),
        |o2 AS (
        | SELECT o_custkey AS ck,
        |  CASE WHEN o_orderkey % 101 = 0
        |       THEN 'moved-' || o_orderpriority
        |       ELSE o_orderpriority END AS prio,
        |  o_totalprice AS price
        | FROM orders),
        |t AS (SELECT prio, price
        | FROM s2 JOIN c2 USING (nk) JOIN o2 USING (ck)),
        |r AS (SELECT prio, price,
        |  row_number() OVER (PARTITION BY prio ORDER BY price) AS rn,
        |  COUNT(*) OVER (PARTITION BY prio) AS n FROM t),
        |p AS (SELECT unnest([0.5, 0.9]) AS p),
        |x AS (SELECT prio, p.p AS p, price, rn, n,
        |  CAST(n - 1 AS DOUBLE) * p.p AS idx,
        |  CAST(floor(CAST(n - 1 AS DOUBLE) * p.p) AS BIGINT) + 1 AS lo,
        |  least(CAST(floor(CAST(n - 1 AS DOUBLE) * p.p) AS BIGINT) + 2, n) AS hi
        | FROM r, p),
        |g AS (SELECT prio, p,
        |  MAX(CASE WHEN rn = lo THEN price END) AS vlo,
        |  MAX(CASE WHEN rn = hi THEN price END) AS vhi,
        |  MAX(idx - floor(idx)) AS frac
        | FROM x WHERE rn = lo OR rn = hi GROUP BY prio, p)
        |SELECT prio, p, CAST(vlo AS DOUBLE) + frac * CAST(vhi - vlo AS DOUBLE) AS value
        |FROM g ORDER BY prio, p""".stripMargin,
    "del1_forget_audit" ->
      """WITH fk AS (
        | SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |fo AS (
        | SELECT DISTINCT o_orderkey AS k FROM orders
        | JOIN fk ON o_custkey = fk.k),
        |rep AS (
        | SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
        |  COUNT(fk.k) AS n_forgotten
        | FROM customer LEFT JOIN fk ON c_custkey = fk.k
        | UNION ALL
        | SELECT 'orders', COUNT(*), COUNT(fk.k)
        | FROM orders LEFT JOIN fk ON o_custkey = fk.k
        | UNION ALL
        | SELECT 'lineitem', COUNT(*), COUNT(fo.k)
        | FROM lineitem LEFT JOIN fo ON l_orderkey = fo.k)
        |SELECT table_name, n_rows, n_forgotten,
        | n_rows - n_forgotten AS n_retained
        |FROM rep ORDER BY table_name""".stripMargin,
    "w7_rolling_range" ->
      """SELECT o_orderkey, o_custkey, d,
        | COUNT(*) OVER w AS n_30d,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_30d
        |FROM (SELECT *, CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "hg2_quantile_bins" ->
      """WITH r AS (
        | SELECT o_totalprice AS v,
        |  row_number() OVER (ORDER BY o_totalprice) AS rn,
        |  COUNT(*) OVER () AS n
        | FROM orders),
        |p AS (SELECT unnest([0.25, 0.5, 0.75]) AS p),
        |x AS (SELECT p.p AS p, v, rn, n,
        |  CAST(n - 1 AS DOUBLE) * p.p AS idx,
        |  CAST(floor(CAST(n - 1 AS DOUBLE) * p.p) AS BIGINT) + 1 AS lo,
        |  least(CAST(floor(CAST(n - 1 AS DOUBLE) * p.p) AS BIGINT) + 2, n) AS hi
        | FROM r, p),
        |g AS (SELECT p,
        |  MAX(CASE WHEN rn = lo THEN v END) AS vlo,
        |  MAX(CASE WHEN rn = hi THEN v END) AS vhi,
        |  MAX(idx - floor(idx)) AS frac
        | FROM x WHERE rn = lo OR rn = hi GROUP BY 1),
        |e AS (SELECT
        |  MAX(CASE WHEN p = 0.25 THEN vlo + frac * (vhi - vlo) END) AS e1,
        |  MAX(CASE WHEN p = 0.5  THEN vlo + frac * (vhi - vlo) END) AS e2,
        |  MAX(CASE WHEN p = 0.75 THEN vlo + frac * (vhi - vlo) END) AS e3
        | FROM g)
        |SELECT CAST(CAST(o_totalprice > e1 AS INT) +
        |            CAST(o_totalprice > e2 AS INT) +
        |            CAST(o_totalprice > e3 AS INT) AS BIGINT) AS bin,
        | COUNT(*) AS n,
        | MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders, e GROUP BY 1 ORDER BY bin""".stripMargin,
    "a13_corr_matrix" ->
      """WITH a AS (
        | SELECT COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nn,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sq,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sp,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS sd,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sqp,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS sqd,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS spd,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sqq,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS spp,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS DOUBLE) AS sdd
        | FROM lineitem)
        |SELECT 'l_quantity' AS x_col, 'l_extendedprice' AS y_col, n,
        | (nn * sqp - sq * sp) /
        |  (sqrt(nn * sqq - sq * sq) * sqrt(nn * spp - sp * sp)) AS corr_val
        |FROM a
        |UNION ALL SELECT 'l_quantity', 'l_discount', n,
        | (nn * sqd - sq * sd) /
        |  (sqrt(nn * sqq - sq * sq) * sqrt(nn * sdd - sd * sd))
        |FROM a
        |UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
        | (nn * spd - sp * sd) /
        |  (sqrt(nn * spp - sp * sp) * sqrt(nn * sdd - sd * sd))
        |FROM a
        |ORDER BY x_col, y_col""".stripMargin,
    "a14_mode" ->
      """WITH c AS (
        | SELECT l_returnflag, l_quantity, COUNT(*) AS n
        | FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, l_quantity, n,
        |  row_number() OVER (PARTITION BY l_returnflag
        |                     ORDER BY n DESC, l_quantity) AS rk
        | FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n
        |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,
    "ts1_date_spine" ->
      """WITH o AS (
        | SELECT o_orderstatus,
        |  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
        | FROM orders),
        |b AS (SELECT min(m) AS lo, max(m) AS hi FROM o),
        |months AS (SELECT unnest(generate_series(lo, hi)) AS m FROM b),
        |st AS (SELECT DISTINCT o_orderstatus FROM orders),
        |c AS (SELECT o_orderstatus, m, COUNT(*) AS n FROM o GROUP BY 1, 2)
        |SELECT st.o_orderstatus,
        | CAST((months.m // 12) * 100 + (months.m % 12) + 1 AS BIGINT) AS ym,
        | COALESCE(c.n, 0) AS n_orders
        |FROM months CROSS JOIN st
        |LEFT JOIN c ON c.o_orderstatus = st.o_orderstatus AND c.m = months.m
        |ORDER BY st.o_orderstatus, ym""".stripMargin,
    "an1_outliers" ->
      """WITH ev AS (SELECT event_type AS g, value AS v FROM events),
        |r1 AS (SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS n FROM ev),
        |x1 AS (SELECT g, v, rn,
        |  CAST(n - 1 AS DOUBLE) * 0.5 AS idx,
        |  CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS lo,
        |  least(CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 2, n) AS hi
        | FROM r1),
        |m1 AS (SELECT g,
        |  MAX(CASE WHEN rn = lo THEN v END) +
        |   MAX(idx - floor(idx)) *
        |   (MAX(CASE WHEN rn = hi THEN v END) - MAX(CASE WHEN rn = lo THEN v END)) AS med
        | FROM x1 WHERE rn = lo OR rn = hi GROUP BY 1),
        |d AS (SELECT ev.g, ev.v, m1.med, abs(ev.v - m1.med) AS adev
        | FROM ev JOIN m1 ON ev.g = m1.g),
        |r2 AS (SELECT g, adev,
        |  row_number() OVER (PARTITION BY g ORDER BY adev) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS n FROM d),
        |x2 AS (SELECT g, adev, rn,
        |  CAST(n - 1 AS DOUBLE) * 0.5 AS idx,
        |  CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS lo,
        |  least(CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 2, n) AS hi
        | FROM r2),
        |m2 AS (SELECT g,
        |  MAX(CASE WHEN rn = lo THEN adev END) +
        |   MAX(idx - floor(idx)) *
        |   (MAX(CASE WHEN rn = hi THEN adev END) - MAX(CASE WHEN rn = lo THEN adev END)) AS mad
        | FROM x2 WHERE rn = lo OR rn = hi GROUP BY 1)
        |SELECT d.g AS event_type, COUNT(*) AS n,
        | MAX(d.med) AS med, MAX(m2.mad) AS mad,
        | COUNT(CASE WHEN d.adev > 3.0 * m2.mad THEN 1 END) AS n_outliers
        |FROM d JOIN m2 ON d.g = m2.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pp1_period_over_period" ->
      """WITH m AS (
        | SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        | FROM orders GROUP BY 1)
        |SELECT CAST((m.m // 12) * 100 + (m.m % 12) + 1 AS BIGINT) AS ym,
        | m.revenue,
        | m.revenue - p1.revenue AS mom_delta,
        | m.revenue - p12.revenue AS yoy_delta
        |FROM m
        |LEFT JOIN m p1 ON m.m = p1.m + 1
        |LEFT JOIN m p12 ON m.m = p12.m + 12
        |ORDER BY ym""".stripMargin,
    "rr1_ratio_to_report" ->
      """WITH r AS (
        | SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_d
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1)
        |SELECT n_name, CAST(rev_d AS DOUBLE) AS revenue,
        | CAST(rev_d AS DOUBLE) / CAST(SUM(rev_d) OVER () AS DOUBLE) AS share
        |FROM r ORDER BY n_name""".stripMargin,
    "gi1_islands" ->
      """WITH days AS (
        | SELECT DISTINCT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        | FROM events),
        |g AS (SELECT user_id, d,
        |  d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        | FROM days)
        |SELECT user_id, min(d) AS start_day, COUNT(*) AS len
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_day""".stripMargin,
    "w8_count_distinct_window" ->
      """SELECT l_orderkey, l_linenumber,
        | COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey) AS n_supp
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "at1_attribution" ->
      """WITH t AS (
        | SELECT user_id, event_type,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |             IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM events)
        |SELECT COALESCE(touch, 'direct') AS channel,
        | COUNT(*) AS n_conversions
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,
    "ab1_ab_test" ->
      """WITH pu AS (
        | SELECT user_id, CAST(user_id % 2 AS BIGINT) AS v,
        |  MAX(CASE WHEN event_type = 'purchase' AND value > 300.0
        |      THEN 1 ELSE 0 END) AS conv
        | FROM events GROUP BY 1),
        |a AS (SELECT
        |  COUNT(CASE WHEN v = 0 THEN 1 END) AS n0,
        |  COUNT(CASE WHEN v = 1 THEN 1 END) AS n1,
        |  CAST(SUM(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |  CAST(SUM(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        | FROM pu)
        |SELECT n0, n1, c0, c1,
        | CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        | CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        | CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |  - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS lift,
        | (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |   - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
        |  nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |   * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |   * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 0.0) AS z
        |FROM a""".stripMargin,
    "j11_null_safe_join" ->
      """WITH o AS (
        | SELECT CASE WHEN o_custkey % 53 = 0 THEN NULL ELSE o_custkey END AS k,
        |  o_orderkey
        | FROM orders),
        |c AS (
        | SELECT CASE WHEN c_custkey % 53 = 0 THEN NULL ELSE c_custkey END AS k2,
        |  c_custkey
        | FROM customer)
        |SELECT CASE WHEN o.k IS NULL THEN 'null_key' ELSE 'value_key' END
        |  AS match_type,
        | COUNT(*) AS n_pairs,
        | COUNT(DISTINCT c.c_custkey) AS n_customers
        |FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k2
        |GROUP BY 1 ORDER BY match_type""".stripMargin,
    "ivm2_minmax_view" ->
      """WITH t AS (
        | SELECT o_orderkey AS tk FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 1),
        |modified AS (
        | SELECT o_orderpriority,
        |  CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS v
        | FROM orders, t WHERE o_orderkey <> t.tk)
        |SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        | MIN(v) AS min_price, MAX(v) AS max_price
        |FROM modified GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm3_distinct_view" ->
      """WITH m AS (
        | SELECT o_orderpriority,
        |  CASE WHEN o_orderkey % 101 = 0 THEN o_custkey + 1000000
        |       ELSE o_custkey END AS ck
        | FROM orders WHERE o_custkey % 97 <> 0)
        |SELECT o_orderpriority,
        | CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_distinct
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm4_join_view" ->
      """WITH o2 AS (
        | SELECT o_custkey AS ck,
        |  CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS price
        | FROM orders),
        |c2 AS (
        | SELECT c_custkey AS ck,
        |  CAST(CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 1) % 25
        |       ELSE c_nationkey END AS BIGINT) AS c_nationkey
        | FROM customer)
        |SELECT c_nationkey, COUNT(*) AS n,
        | CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM o2 JOIN c2 USING (ck)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ivm5_quantile_view" ->
      """WITH m AS (
        | SELECT o_orderpriority,
        |  CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS price
        | FROM orders WHERE o_custkey % 97 <> 0),
        |r AS (SELECT o_orderpriority, price,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY price) AS rn,
        |  COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM m),
        |p AS (SELECT unnest([0.5, 0.9]) AS p),
        |x AS (SELECT o_orderpriority, p.p AS p, price, rn, n,
        |  CAST(n - 1 AS DOUBLE) * p.p AS idx,
        |  CAST(floor(CAST(n - 1 AS DOUBLE) * p.p) AS BIGINT) + 1 AS lo,
        |  least(CAST(floor(CAST(n - 1 AS DOUBLE) * p.p) AS BIGINT) + 2, n) AS hi
        | FROM r, p),
        |g AS (SELECT o_orderpriority, p,
        |  MAX(CASE WHEN rn = lo THEN price END) AS vlo,
        |  MAX(CASE WHEN rn = hi THEN price END) AS vhi,
        |  MAX(idx - floor(idx)) AS frac
        | FROM x WHERE rn = lo OR rn = hi GROUP BY o_orderpriority, p)
        |SELECT o_orderpriority, p,
        | CAST(vlo AS DOUBLE) + frac * CAST(vhi - vlo AS DOUBLE) AS value
        |FROM g ORDER BY 1, 2""".stripMargin,
    "ivm6_topk_view" ->
      """WITH modified AS (
        | SELECT o_orderpriority, o_custkey AS ck FROM orders
        | WHERE NOT (o_custkey % 97 = 0 AND o_orderpriority < '3')
        | UNION ALL
        | SELECT o_orderpriority, o_custkey + 1000000 FROM orders
        | WHERE o_orderkey % 101 = 0),
        |c AS (SELECT o_orderpriority, ck,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM modified GROUP BY 1, 2),
        |r AS (SELECT o_orderpriority, ck, cnt,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cnt DESC, ck) AS INTEGER) AS rnk
        | FROM c)
        |SELECT o_orderpriority, rnk, ck, cnt FROM r WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,
    "ivm6w_weighted_topk" ->
      """WITH modified AS (
        | SELECT o_orderpriority, o_custkey AS ck,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS w
        | FROM orders
        | WHERE NOT (o_custkey % 97 = 0 AND o_orderpriority < '3')
        | UNION ALL
        | SELECT o_orderpriority, o_custkey + 1000000,
        |  CAST(round(o_totalprice * 100) AS BIGINT)
        | FROM orders WHERE o_orderkey % 101 = 0),
        |c AS (SELECT o_orderpriority, ck,
        |  CAST(SUM(w) AS BIGINT) AS cnt
        | FROM modified GROUP BY 1, 2),
        |r AS (SELECT o_orderpriority, ck, cnt,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cnt DESC, ck) AS INTEGER) AS rnk
        | FROM c)
        |SELECT o_orderpriority, rnk, ck, cnt FROM r WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,
    "ivm1_incremental_agg" ->
      """WITH modified AS (
        | SELECT o_orderstatus, o_totalprice FROM orders
        | WHERE o_orderkey % 101 <> 0
        | UNION ALL
        | SELECT o_orderstatus, o_totalprice + 10.0 FROM orders
        | WHERE o_orderkey % 101 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM modified GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
