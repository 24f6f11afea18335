package graft.operators

import graft.Materialize.Ops
import graft.QueryRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational battery (SURVEY.md §2.10 X6-X8): aggregation, joins of every
  * strategy, windows, set ops, grouping sets, top-k, JSON extraction.
  *
  * Scale design notes (100 TB):
  * - dimension joins (region, nation, supplier, part at fixed cardinality)
  *   are explicitly `broadcast()` — no shuffle of the fact table;
  * - fact-fact joins (lineitem⋈orders) shuffle on the join key once; AQE
  *   handles skew (`spark.sql.adaptive.*` on by default in Spark 4);
  * - every aggregate is algebraic (sum/count/avg/min/max) so map-side
  *   partial aggregation halves shuffle volume;
  * - float aggregates are rounded on BOTH engine and oracle side because
  *   summation order differs across partitionings (ulp-level drift).
  */
object AnalyticsQueries extends QueryRegistry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Session-shared bucketed fact layout for q30: both facts written
    * `bucketBy(8, key).sortBy(key)` ONCE per (session, corpus
    * fingerprint). The layout cost is precisely what production pays at
    * WRITE time so that every subsequent join is exchange-free — the gate
    * query then measures the consumption side (the zero-exchange
    * sort-merge join), which is the claim the query demonstrates. Keyed
    * by corpus fingerprint so a regenerated fixture rebuilds instead of
    * joining stale buckets; storage reclaimed at JVM exit (catalog
    * entries die with the session).
    */
  private val sharedBuckets =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def sharedBucketedFacts(
      s: SparkSession, dir: String): (String, String) =
    sharedBuckets.computeIfAbsent(s.sparkContext.applicationId + "|" +
        TrainedCache.fingerprint(s"$dir/orders.parquet",
          s"$dir/lineitem.parquet"),
      k => {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val (ot, lt) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
      // the bucketed FILES are session-shared (deterministic layout of
      // the fact corpus); saveAsTable only exists to WRITE them, so the
      // shared build goes through throwaway catalog names. Each session
      // then registers its own tables straight over the shared files,
      // since consumers only JOIN these.
      val stored = TrainedCache.sharedPath(s, "bucketed_facts",
        Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet")) { tmp =>
        val (bo, bl) = (s"${ot}_sb", s"${lt}_sb")
        try {
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite").option("path", s"$tmp/facts/orders")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(bo)
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .write.mode("overwrite").option("path", s"$tmp/facts/lineitem")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(bl)
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $bo")
          s.sql(s"DROP TABLE IF EXISTS $bl")
        }
        s"$tmp/facts"
      }
      TrainedCache.registerBucketedTable(s, ot, s"$stored/orders",
        "o_orderkey", 8)
      TrainedCache.registerBucketedTable(s, lt, s"$stored/lineitem",
        "l_orderkey", 8)
      (ot, lt)
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X6: TPC-H Q1-style grouped aggregate battery
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          // avg_qty: quantities are integral, so the mean is an exact
          // integer ratio — tie-prone under round → floorAt (see Quant).
          // avg_disc keeps round: the 2-decimal discounts are binary-
          // inexact, so the mean's exact value has a huge denominator.
          Quant.floorAt(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // X6: exact percentiles per group (linear interpolation — same method
    // both engines). Exact percentile requires the group's values sorted in
    // one place; Spark's `percentile` aggregates per group after the hash
    // shuffle — at 100 TB switch to approx_percentile (t-digest, mergeable
    // map-side) which q15 mirrors for distinct counts.
    "q19_percentiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"),
          count(lit(1)).as("n"))),

    // X6: explicit GROUPING SETS (beyond rollup/cube) — per-status,
    // per-priority, and grand-total aggregates in one pass
    "q24_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  round(sum(o_totalprice), 2) AS total
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |""".stripMargin)
    }),

    // X8: full-outer join — unmatched rows on BOTH sides survive (some
    // customers dropped so orders exist without a customer row)
    "q20_full_outer" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
      val oagg = t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_totalprice").as("spend"))
      cust.join(oagg, col("c_custkey") === col("o_custkey"), "full_outer")
        .agg(
          count(when(col("n_orders").isNull, 1)).as("customers_no_orders"),
          count(when(col("c_custkey").isNull, 1)).as("orders_no_customer"),
          count(when(col("c_custkey").isNotNull && col("n_orders").isNotNull, 1))
            .as("matched"),
          round(sum(when(col("c_custkey").isNotNull, col("spend"))), 2)
            .as("matched_spend"))
    }),

    // X8: range join, bin-bucketed — same-user event pairs within 60 s.
    // The right side explodes into its minute bin and the previous one, so
    // the join is an EQUI join on (user, bin) with the fine-grained range
    // as a post-filter: at 100 TB this shuffles each row ≤ 2× on a
    // high-cardinality key instead of falling back to a broadcast
    // nested-loop over an inequality.
    "q21_range_join" -> ((s, dir) => {
      val ev = graft.CdcBatch.readEvents(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tss"),
          col("event_id"))
        .withColumn("bin", expr("tss div 60"))
      val a = ev.select(col("user_id"), col("tss").as("ta"),
        col("event_id").as("ea"), col("bin"))
      val b = ev.select(col("user_id").as("ub"), col("tss").as("tb"),
          col("event_id").as("eb"),
          explode(array(col("bin"), col("bin") - 1)).as("jb"))
      a.join(b, col("user_id") === col("ub") && col("bin") === col("jb"))
        .filter(col("tb") > col("ta") && col("tb") <= col("ta") + 60)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          Quant.floorAt(avg(col("tb") - col("ta")), 6) // int mean: see Quant
            .as("avg_gap_s"),
          max(col("tb") - col("ta")).as("max_gap_s"))
    }),

    // X6: pivot — order counts by status × priority (explicit value list;
    // absent combinations are 0 on both engines)
    "q22_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0)),

    // X7: sessionization — gap-based session ids per user over the event
    // stream (lag + running sum inside one window pass), then per-session
    // rollup. One shuffle on user_id.
    "q23_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("tss", "event_id")
      graft.CdcBatch.readEvents(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tss"),
          col("event_id"))
        .withColumn("new_s",
          when(col("tss") - lag("tss", 1).over(w) > 3600, 1)
            .when(lag("tss", 1).over(w).isNull, 1).otherwise(0))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          (max("tss") - min("tss")).as("duration_s"),
          min("tss").as("start_ts"))
    }),

    // X8: broadcast join chain over the dimension hierarchy
    "q2_join_broadcast" -> ((s, dir) => {
      val region = t(s, dir, "region")
      val nation = t(s, dir, "nation")
      val customer = t(s, dir, "customer")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
             round(sum("c_acctbal"), 2).as("sum_acctbal"))
    }),

    // X8: fact-fact shuffle join (orders⋈lineitem), one shuffle each side
    "q3_join_shuffle" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),

    // X8: semi join (EXISTS) — E1/E2 set-membership semantics
    "q4_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
    }),

    // X8: anti join (NOT EXISTS) — the reference's retry-residue diff
    // (dump2csv.py:198-207) as a relational operator
    "q5_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 150000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
    }),

    // X7: ranked window — top-3 lineitems per supplier by price
    "q6_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("l_suppkey", "rk", "l_orderkey", "l_linenumber", "l_extendedprice")
    }),

    // X7 via the custom TopKPerKey physical operator (bounded heaps, no
    // window sort) — same rows as q6 minus the rank column; the oracle is
    // the windowed SQL, so the driver verifies the custom plan's output
    "q6b_topk_custom" -> ((s, dir) =>
      org.apache.spark.sql.graft.TopK.perKey(
          t(s, dir, "lineitem"),
          Seq("l_suppkey"),
          Seq(("l_extendedprice", true), ("l_orderkey", false),
            ("l_linenumber", false)),
          k = 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")),

    // X7: running windows — cumulative sum + lag per customer order history
    "q7_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"),
        round(coalesce(lag("o_totalprice", 1).over(w), lit(0.0)), 2)
          .as("prev_price"))
    }),

    // X8/E1: set difference — customers that ordered EXCEPT Building segment
    "q8_set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
      val b = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey")).distinct()
      o.except(b)
    }),

    // X6: rollup over the region/nation hierarchy
    "q9_rollup" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val customer = t(s, dir, "customer")
      // Spark 4.1's self-join ambiguity check misfires on rollup-after-join
      // (the Expand node duplicates dataset-id tags); the plan has no actual
      // self join, so the check is safely disabled for this query.
      s.conf.set("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .select("n_name", "c_acctbal")
        .rollup("n_name")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
    }),

    // O3-style global top-k (order + limit, deterministic tiebreak)
    "q10_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)),

    // X6: exact distinct aggregation
    "q11_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))),

    // X5: JSON extraction from the props column (multimodal metadata)
    "q12_json" -> ((s, dir) =>
      graft.CdcBatch.readEvents(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
                col("event_type"))
        .groupBy("event_type")
        .agg(Quant.floorAt(avg("k"), 6).as("avg_k"), // int mean: see Quant
          max("k").as("max_k"))),

    // X8: 3-way star join — revenue by part brand for one nation's suppliers
    "q13_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      val supp = t(s, dir, "supplier")
      val nation = t(s, dir, "nation")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(broadcast(supp.join(broadcast(nation),
          supp("s_nationkey") === nation("n_nationkey"))),
          li("l_suppkey") === supp("s_suppkey"))
        .groupBy("n_name", "p_brand")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // X6: cube grouping sets
    "q14_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))),

    // X6: HLL sketch distinct. The raw sketch value is engine-specific
    // (Spark HLL++ vs DuckDB HLL), so the emitted columns are the EXACT
    // distinct counts plus a boolean accuracy gate: each engine computes its
    // own approx and asserts |approx - exact| / exact <= 0.15 (measured max
    // error across sf0.001/0.01/0.1: DuckDB 2.1%, Spark rsd-0.05 HLL++ well
    // under 15%). Both engines emit `true`, so the row hash-matches — the
    // sketch is exercised AND oracle-gated. Exact twin: q11_distinct.
    "q15_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          (abs(approx_count_distinct(col("l_partkey")).cast("double")
               - countDistinct(col("l_partkey")).cast("double"))
            / countDistinct(col("l_partkey")).cast("double") <= lit(0.15))
            .as("approx_parts_ok"),
          (abs(approx_count_distinct(col("l_orderkey"), 0.02).cast("double")
               - countDistinct(col("l_orderkey")).cast("double"))
            / countDistinct(col("l_orderkey")).cast("double") <= lit(0.15))
            .as("approx_orders_ok"))),

    // X6: mergeable quantile sketch (approx_percentile) — the 100 TB
    // companion to q19's exact percentiles: map-side partial sketches
    // merge associatively, so no group's values ever sort in one place.
    // The raw sketch value is engine-specific (Spark GK vs DuckDB t-digest),
    // so like q15 the emitted columns are a boolean accuracy gate per
    // quantile: each engine computes its own sketch and asserts
    // |approx - exact| / exact <= 0.05 (measured max error across SFs:
    // DuckDB 0.15%, Spark accuracy-1000 GK ~0.1% rank error). The exact
    // percentile here exists only to ANCHOR the gate — at 100 TB you ship
    // the sketch alone (q19 is the exact twin and carries the scale note).
    "q19b_approx_percentiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          (abs(expr("approx_percentile(l_extendedprice, 0.5, 1000)")
              .cast("double") - expr("percentile(l_extendedprice, 0.5)"))
            / expr("percentile(l_extendedprice, 0.5)") <= lit(0.05))
            .as("approx_p50_ok"),
          (abs(expr("approx_percentile(l_extendedprice, 0.9, 1000)")
              .cast("double") - expr("percentile(l_extendedprice, 0.9)"))
            / expr("percentile(l_extendedprice, 0.9)") <= lit(0.05))
            .as("approx_p90_ok"),
          (abs(expr("approx_percentile(l_extendedprice, 0.99, 1000)")
              .cast("double") - expr("percentile(l_extendedprice, 0.99)"))
            / expr("percentile(l_extendedprice, 0.99)") <= lit(0.05))
            .as("approx_p99_ok"),
          count(lit(1)).as("n"))),

    // skew handling: two-phase salted aggregate must equal the plain agg —
    // the oracle IS the unsalted SQL
    "q16_salted_agg" -> ((s, dir) =>
      Skew.saltedCountSum(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
          salts = 8, spreadCol = "l_orderkey")
        .select(col("l_returnflag"), col("n"), round(col("total"), 2).as("total"))),

    // as-of join: each event matched to the user's most recent order at or
    // before the event time (point-in-time lookup; oracle = native ASOF
    // JOIN in DuckDB). Orders deduped to one per (custkey, ts) first.
    "q18_asof_join" -> ((s, dir) => {
      val ev = graft.CdcBatch.readEvents(s, dir)
        .select(col("user_id").as("k"), expr("ts div 1000000000").as("t"),
          col("event_id"))
      val ordU = t(s, dir, "orders")
        .select(col("o_custkey").as("k"),
          // o_orderdate is TIMESTAMP_NTZ; NTZ→long needs a TIMESTAMP hop
          // (session TZ is UTC, so this is the naive epoch, = DuckDB's)
          col("o_orderdate").cast("timestamp").cast("long").as("t"),
          col("o_orderkey"), col("o_totalprice"))
        .groupBy("k", "t")
        .agg(max_by(col("o_orderkey"), col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      AsOf.asofJoin(ev, ordU, on = "k", ts = "t",
          rightCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("k").as("user_id"),
          col("o_orderkey"), col("o_totalprice"))
    }),

    // tumbling event-time windows (the streaming agg idiom, run on batch)
    "q17_daily_window" -> ((s, dir) =>
      graft.CdcBatch.readEvents(s, dir)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ets"), "1 day").as("w"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"),
             round(sum("value"), 2).as("sum_value"))
        .select(col("w.start").cast("long").as("day_start"),
          col("n_events"), col("n_users"), col("sum_value"))),

    // X8: bloom-filter runtime pre-filter + exact semi-join. The bloom is
    // built from the (selective) filtered key set and probed MAP-SIDE on
    // the fact scan — at 100 TB the few-MB broadcast bloom drops most fact
    // rows before the semi-join shuffle; the exact semi-join then removes
    // the bloom's false positives, so the result equals the plain
    // semi-join (which is the oracle). This is Spark's row-level runtime
    // filtering made explicit as an operator.
    "q25_bloom_join" -> ((s, dir) => {
      // the bloom must reach might_contain as a SCALAR SUBQUERY (Spark's
      // requirement — the same shape its InjectRuntimeFilter rule plans);
      // the graft_* functions surface the internal bloom expressions
      graft.functions.GraftExtensions.register(s)
      t(s, dir, "orders").createOrReplaceTempView("orders_bloom")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_bloom")
      s.sql(
        """WITH keys AS (SELECT o_orderkey FROM orders_bloom
          |  WHERE o_totalprice > 300000.0)
          |SELECT l_returnflag, count(*) AS n_items,
          |  round(sum(l_extendedprice), 2) AS sum_price
          |FROM lineitem_bloom
          |WHERE graft_might_contain(
          |    (SELECT graft_bloom_agg(xxhash64(o_orderkey), 100000L, 800000L)
          |     FROM keys),
          |    xxhash64(l_orderkey))
          |  AND l_orderkey IN (SELECT o_orderkey FROM keys)
          |GROUP BY 1""".stripMargin)
    }),

    // X6/X7: ordered funnel (view → click → purchase per user) in ONE scan
    // and ONE shuffle: conditional min + per-user sorted stage-time lists,
    // then array HOFs pick each stage's first event AFTER the previous
    // stage. The multi-pass alternative (one join per stage) scans the
    // event log once per stage — at 100 TB this shape reads it once, and
    // per-user arrays are bounded by that user's event count, not corpus
    // size (the ClickHouse windowFunnel shape on Spark primitives).
    "q27_funnel" -> ((s, dir) => {
      val ev = graft.CdcBatch.readEvents(s, dir)
        .select(col("user_id"), expr("ts div 1000000000").as("tss"),
          col("event_type"))
      val staged = ev.groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("tss"))).as("t_view"),
          sort_array(collect_list(
            when(col("event_type") === "click", col("tss")))).as("clicks"),
          sort_array(collect_list(
            when(col("event_type") === "purchase", col("tss"))))
            .as("purchases"))
        .withColumn("t_click",
          array_min(filter(col("clicks"), c => c > col("t_view"))))
        .withColumn("t_purchase",
          array_min(filter(col("purchases"), p => p > col("t_click"))))
      staged.agg(
        count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"),
        // count ratios → floorAt (see Quant)
        Quant.floorAt(count(col("t_click")).cast("double")
          / greatest(count(col("t_view")), lit(1L)), 6).as("view_to_click"),
        Quant.floorAt(count(col("t_purchase")).cast("double")
          / greatest(count(col("t_click")), lit(1L)), 6).as("click_to_purchase"))
    }),

    // data-quality audit battery (the Deequ-style expectation report):
    // null keys, value ranges, referential integrity (anti join), and
    // duplicate primary keys in one report. The fixture is clean, so
    // violations are synthesized deterministically (range breakers,
    // orphan references, PK duplicates) and the report must count exactly
    // those. Scan checks fold into ONE conditional aggregate over a
    // single pass; RI and PK checks are one anti-join and one groupBy.
    "q28_dq_report" -> ((s, dir) => {
      val li0 = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      val d1 = li0.filter(col("l_orderkey") % 499 === 0)
        .withColumn("l_quantity", lit(-1.0))
        .withColumn("l_discount", lit(1.5))
      val d2 = li0.filter(col("l_orderkey") % 617 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + 100000000L)
      val dup = li0.filter(col("l_orderkey") % 733 === 0)
      // materialize once: three audit branches consume `all`, and the
      // 4-branch union lineage would otherwise re-scan lineitem per branch
      val all = li0.unionByName(d1).unionByName(d2).unionByName(dup)
        .materialize()
      val scanChecks = all.agg(
        sum(when(col("l_quantity") <= 0, 1).otherwise(0)).cast("long")
          .as("nonpos_qty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1)
          .otherwise(0)).cast("long").as("bad_discount"))
      val orphans = all
        .join(t(s, dir, "orders").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orphan_lineitem").as("rule"), col("n"))
      val dups = all.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n"))
        .select(lit("duplicate_pk").as("rule"), col("n"))
      scanChecks.selectExpr(
          "stack(2, 'nonpos_qty', nonpos_qty, 'bad_discount', bad_discount)"
            + " as (rule, n)")
        .unionByName(orphans).unionByName(dups)
    }),

    // data layout: Z-order (Morton) clustering quality. Interleave the low
    // 8 bits of two scan dimensions and bucket rows by z-VALUE range (the
    // file a z-ordered writer would place them in — value-range bucketing,
    // no global sort: at scale this is repartitionByRange(z), fully
    // parallel). Per-bucket min/max spans of each dimension, compared to
    // the same-size buckets under the natural insertion order: the
    // z-layout's narrow per-file ranges on BOTH columns are what makes
    // min/max zone-map pruning effective at 100 TB. Pure integer
    // arithmetic → exact oracle parity.
    "q26_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"),
          col("l_orderkey"))
      // bitwiseAND, not % 2: the oracle uses `& 1`, and the two diverge on
      // negative inputs (% yields -1, & yields 1)
      val z = (0 until 8).map(b =>
        shiftleft(shiftright(col("x"), b).bitwiseAND(lit(1)), 2 * b) +
          shiftleft(shiftright(col("y"), b).bitwiseAND(lit(1)), 2 * b + 1))
        .reduce(_ + _)
      def spans(df: DataFrame, layout: String): DataFrame =
        df.groupBy("bucket")
          .agg((max("x") - min("x")).as("span_x"),
            (max("y") - min("y")).as("span_y"))
          .agg(lit(layout).as("layout"), count(lit(1)).as("n_buckets"),
            // integer means → floorAt (see Quant)
            Quant.floorAt(avg("span_x"), 4).as("avg_span_x"),
            Quant.floorAt(avg("span_y"), 4).as("avg_span_y"))
      val zied = li.withColumn("bucket", shiftright(z, 6))
      val natural = li.withColumn("bucket", shiftright(col("l_orderkey"), 6))
      spans(zied, "zorder").unionByName(spans(natural, "roworder"))
    }),

    // skew handling, join edition (the q16 companion): salted shuffle
    // equi-join fact×dim must equal the plain join — the oracle IS the
    // unsalted SQL. q16 covers the hot-key AGGREGATE; this covers the
    // hot-key JOIN, the case where the dim is too big to broadcast and one
    // supplier key carries a disproportionate share of the fact table.
    "q29_salted_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
          col("l_extendedprice"))
      val dim = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      Skew.saltedEquiJoin(fact, dim, Seq("s_suppkey"), salts = 8,
          spreadCol = "l_orderkey")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("revenue"))
    }),

    // anomaly detection over the event stream: per-type z-score outliers
    // (|value − mean| > 3σ). The stats pass is ONE map-side-combinable
    // aggregate of integer-quantized cent sums (sum and sum-of-squares
    // commute → deterministic mean/σ at any partitioning, bitwise equal to
    // the single-node oracle); the flagging pass joins the 3-row stats
    // table back broadcast. Two scans, zero wide shuffles beyond the
    // 3-group agg — the standard data-quality outlier sweep at 100 TB.
    "events_anomaly" -> ((s, dir) => {
      val ev = graft.CdcBatch.readEvents(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val cents = round(col("value") * 100, 0).cast("long")
      val stats = ev
        .select(col("event_type"), cents.as("cv"))
        .groupBy("event_type")
        // svv accumulates as DECIMAL(38,0): a long accumulator overflows
        // silently at ~9e18 (≈ 900 rows of |value|=1e6, i.e. guaranteed at
        // the 100 TB scale this operator targets) while the DuckDB oracle
        // keeps sum(cv*cv) as HUGEINT — both sides stay exact to 2^127 and
        // only narrow to double for the final σ division. The per-row
        // product stays long-exact while |value| < ~3e7 (cv² < 2^63);
        // beyond that quantize coarser than cents.
        .agg(count(lit(1)).as("n"), sum("cv").as("sv"),
          sum((col("cv") * col("cv")).cast("decimal(38,0)")).as("svv"))
      val mean = col("sv").cast("double") / (col("n") * lit(100.0))
      val std = sqrt(col("svv").cast("double") / (col("n") * lit(10000.0))
        - mean * mean)
      ev.join(broadcast(stats), "event_type")
        .select(col("event_type"), col("event_id"), col("n"),
          mean.as("mean_v"), std.as("std_v"),
          (abs(col("value") - mean) > lit(3.0) * std).as("outlier"))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          // mean_v = cents/(n·100), an integer ratio → floorAt (see
          // Quant); std_v keeps round (sqrt → huge denominator)
          Quant.floorAt(max("mean_v"), 4).as("mean_v"),
          round(max("std_v"), 4).as("std_v"),
          count(when(col("outlier"), 1)).as("n_outliers"),
          coalesce(sum(when(col("outlier"), col("event_id"))), lit(0L))
            .cast("long").as("sum_outlier_ids"))
    }),

    // storage co-location: bucketed-table join — both fact tables written
    // bucketed (8 buckets) and sorted on the join key, so the sort-merge
    // join consumes the bucketing as its distribution AND ordering: NO
    // exchange and NO sort on either side (BucketJoinSpec pins exactly one
    // exchange in the whole plan — the final 5-group aggregate's). This is
    // the at-rest answer to q3's shuffle join: at 100 TB a fact table
    // joined repeatedly on the same key is bucketed ONCE at write time and
    // every subsequent join skips its shuffle entirely. The merge hint
    // keeps the demonstration honest (AQE would otherwise broadcast the
    // small sf side and hide the co-location).
    "q30_bucket_join" -> ((s, dir) => {
      // the bucketed layout is built once per session (write-time cost,
      // paid once in production too); the query measures the layout's
      // PAYOFF — a sort-merge join with zero exchanges and zero sorts
      // below it (PlanAuditSpec-pinned via BucketingSpec's twin)
      val (ot, lt) = sharedBucketedFacts(s, dir)
      s.table(lt)
        .join(s.table(ot).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    // X7: RANGE window frames — the value-based frame the rows-based
    // battery (q7) can't express: per customer, order count and spend over
    // the TRAILING 30 DAYS (ties at the same timestamp all join the
    // frame). The frame sum is integer cents (exact, order-independent —
    // a double sum's accumulation order differs between engines inside a
    // value frame), divided once at the end. ntile(4) rides in the same
    // window pass over a unique ordering. One shuffle on o_custkey.
    "q31_range_window" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val base = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("ts"), // UTC
        cents.as("cents"))
      val wr = Window.partitionBy("o_custkey").orderBy("ts")
        .rangeBetween(-30L * 86400, Window.currentRow)
      val wn = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      base.select(col("o_custkey"), col("o_orderkey"), col("ts"),
        count(lit(1)).over(wr).as("n_30d"),
        (sum("cents").over(wr).cast("double") / 100.0).as("spend_30d"),
        ntile(4).over(wn).cast("long").as("spend_quartile")) // long: DuckDB ntile is BIGINT
    }),

    // cohort retention over the event stream: users grouped by first-seen
    // week, activity counted per week offset — the engagement-matrix
    // staple. Shape: one groupBy(user) for cohorts, one shuffle join back
    // on user_id (co-partitioned with the agg), one count-distinct; at
    // 100 TB the join key is the natural events partitioning, so the
    // cohort join reuses the first aggregate's exchange.
    "events_retention" -> ((s, dir) => {
      val ev = graft.CdcBatch.readEvents(s, dir)
        .select(col("user_id"),
          expr("ts div 1000000000 div 604800").as("week"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // ANALYZE-style table profiling: per-column row/non-null/distinct
    // counts and typed min/max over orders, unpivoted to one row per
    // column — the stats pass that feeds broadcast-vs-shuffle and
    // partition-layout decisions before a big job. ONE scan computes every
    // column's stats (multi-distinct runs as Spark's expand, ~n_cols× the
    // scan rows in the aggregate — the exact form is what the oracle can
    // check; a 100 TB profile swaps countDistinct for approx_count_distinct
    // and the expand collapses to one pass). Numerics/timestamps profile
    // as doubles, strings as strings; the unpivot is a literal array
    // explode of the single aggregate row — no extra shuffle.
    "q32_table_stats" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderdate")
      val strCols = Seq("o_orderstatus", "o_orderpriority")
      // TIMESTAMP_NTZ has no direct double cast; via TIMESTAMP (session TZ
      // is UTC) → double = fractional epoch seconds, DuckDB's epoch()
      def asNum(c: String) =
        if (c == "o_orderdate") col(c).cast("timestamp").cast("double")
        else col(c).cast("double")
      val aggs = (numCols ++ strCols).flatMap { c =>
        val mm =
          if (numCols.contains(c))
            Seq(min(asNum(c)).as(s"min_$c"), max(asNum(c)).as(s"max_$c"))
          else Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
        Seq(count(col(c)).as(s"cnt_$c"),
          countDistinct(col(c)).as(s"ndv_$c")) ++ mm
      }
      val one = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val entries =
        numCols.map(c => struct(lit(c).as("col_name"),
          col(s"cnt_$c").as("n_nonnull"), col(s"ndv_$c").as("n_distinct"),
          col(s"min_$c").as("min_num"), col(s"max_$c").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))) ++
        strCols.map(c => struct(lit(c).as("col_name"),
          col(s"cnt_$c").as("n_nonnull"), col(s"ndv_$c").as("n_distinct"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col(s"min_$c").as("min_str"), col(s"max_$c").as("max_str")))
      one.select(col("n_rows"), explode(array(entries: _*)).as("st"))
        .select(col("n_rows"), col("st.*"))
    }))

  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | floor(avg(l_quantity) * 1000000) / 1000000.0 AS avg_qty,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q19_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q24_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q20_full_outer" ->
      """WITH cust AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
        |oagg AS (SELECT o_custkey, count(*) AS n_orders,
        |  sum(o_totalprice) AS spend FROM orders GROUP BY 1)
        |SELECT count(*) FILTER (WHERE n_orders IS NULL) AS customers_no_orders,
        | count(*) FILTER (WHERE c_custkey IS NULL) AS orders_no_customer,
        | count(*) FILTER (WHERE c_custkey IS NOT NULL AND n_orders IS NOT NULL)
        |   AS matched,
        | round(sum(spend) FILTER (WHERE c_custkey IS NOT NULL), 2)
        |   AS matched_spend
        |FROM cust FULL OUTER JOIN oagg ON c_custkey = o_custkey""".stripMargin,
    "q21_range_join" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts)//1000 AS tss, event_id
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_pairs,
        | floor(avg(b.tss - a.tss) * 1000000) / 1000000.0 AS avg_gap_s,
        | max(b.tss - a.tss) AS max_gap_s
        |FROM ev a JOIN ev b ON a.user_id = b.user_id
        |  AND b.tss > a.tss AND b.tss <= a.tss + 60
        |GROUP BY 1""".stripMargin,
    "q22_pivot" ->
      """SELECT o_orderstatus,
        | count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
        | count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        | count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        | count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
        |   AS "4-NOT SPECIFIED",
        | count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY 1""".stripMargin,
    "q23_sessions" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts)//1000 AS tss, event_id
        |  FROM events),
        |m AS (SELECT user_id, tss,
        |  CASE WHEN lag(tss) OVER w IS NULL THEN 1
        |       WHEN tss - lag(tss) OVER w > 3600 THEN 1 ELSE 0 END AS new_s,
        |  event_id
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
        |s AS (SELECT user_id, tss, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY tss, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        | FROM m)
        |SELECT user_id, sid, count(*) AS n_events,
        | max(tss) - min(tss) AS duration_s, min(tss) AS start_ts
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q2_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers,
        | round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "q3_join_shuffle" ->
      """SELECT o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q4_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_with_orders FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_without_orders FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
        |GROUP BY 1""".stripMargin,
    "q6_window_rank" ->
      """SELECT l_suppkey, rk, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
        | FROM lineitem)
        |WHERE rk <= 3""".stripMargin,
    "q6b_topk_custom" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
        | FROM lineitem)
        |WHERE rk <= 3""".stripMargin,
    "q7_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        | round(coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey), 0.0), 2) AS prev_price
        |FROM orders""".stripMargin,
    "q8_set_except" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT DISTINCT c_custkey AS custkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "q9_rollup" ->
      """SELECT n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name)""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q11_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q12_json" ->
      """SELECT event_type,
        | floor(avg(CAST(json_extract_string(props, '$.k') AS INT)) * 1000000)
        |   / 1000000.0 AS avg_k,
        | max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q13_star_join" ->
      """SELECT n_name, p_brand,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q14_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    // q15/q19b: the raw sketches are engine-specific, so both sides emit the
    // exact values plus a boolean |approx-exact|/exact <= bound gate — each
    // engine grades its OWN sketch, and the booleans hash-match.
    "q15_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_orderkey) AS n_orders,
        | abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |   / count(DISTINCT l_partkey) <= 0.15 AS approx_parts_ok,
        | abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
        |   / count(DISTINCT l_orderkey) <= 0.15 AS approx_orders_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q19b_approx_percentiles" ->
      """SELECT l_returnflag,
        | abs(approx_quantile(l_extendedprice, 0.5)
        |     - quantile_cont(l_extendedprice, 0.5))
        |   / quantile_cont(l_extendedprice, 0.5) <= 0.05 AS approx_p50_ok,
        | abs(approx_quantile(l_extendedprice, 0.9)
        |     - quantile_cont(l_extendedprice, 0.9))
        |   / quantile_cont(l_extendedprice, 0.9) <= 0.05 AS approx_p90_ok,
        | abs(approx_quantile(l_extendedprice, 0.99)
        |     - quantile_cont(l_extendedprice, 0.99))
        |   / quantile_cont(l_extendedprice, 0.99) <= 0.05 AS approx_p99_ok,
        | count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q18_asof_join" ->
      """WITH ev AS (SELECT user_id AS k, epoch_ms(ts)//1000 AS t, event_id
        |  FROM events),
        |ordu AS (SELECT o_custkey AS k, epoch_ms(o_orderdate)//1000 AS t,
        |    arg_max(o_orderkey, o_orderkey) AS o_orderkey,
        |    arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT event_id, ev.k AS user_id, o_orderkey, o_totalprice
        |FROM ev ASOF JOIN ordu ON ev.k = ordu.k AND ev.t >= ordu.t""".stripMargin,
    "q16_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS total
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q29_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,
    "events_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(cv) AS BIGINT) AS sv,
        |  sum(cv * cv) AS svv
        | FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cv
        |       FROM ev)
        | GROUP BY 1),
        |m AS (SELECT event_type, n, sv / (n * 100.0) AS mean_v,
        |  sqrt(svv / (n * 10000.0) - (sv / (n * 100.0)) * (sv / (n * 100.0)))
        |    AS std_v
        | FROM st)
        |SELECT event_type, max(n) AS n,
        | floor(max(mean_v) * 10000) / 10000.0 AS mean_v,
        | round(max(std_v), 4) AS std_v,
        | count(*) FILTER (WHERE abs(value - mean_v) > 3.0 * std_v)
        |   AS n_outliers,
        | CAST(coalesce(sum(event_id)
        |   FILTER (WHERE abs(value - mean_v) > 3.0 * std_v), 0) AS BIGINT)
        |   AS sum_outlier_ids
        |FROM ev JOIN m USING (event_type) GROUP BY 1""".stripMargin,
    // the bucketing is a physical-layout property — the logical result is
    // the plain join, which IS the oracle
    "q30_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q31_range_window" ->
      """WITH b AS (SELECT o_custkey, o_orderkey,
        |  epoch_ms(o_orderdate) // 1000 AS ts,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders)
        |SELECT o_custkey, o_orderkey, ts,
        | count(*) OVER wr AS n_30d,
        | CAST(sum(cents) OVER wr AS BIGINT) / 100.0 AS spend_30d,
        | ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
        |   AS spend_quartile
        |FROM b
        |WINDOW wr AS (PARTITION BY o_custkey ORDER BY ts
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "events_retention" ->
      """WITH ev AS (SELECT user_id,
        |  (epoch_ms(ts) // 1000) // 604800 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM ev JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,
    "q32_table_stats" -> {
      val num = Seq("o_orderkey" -> "CAST(%s AS DOUBLE)",
        "o_custkey" -> "CAST(%s AS DOUBLE)",
        "o_totalprice" -> "CAST(%s AS DOUBLE)",
        "o_orderdate" -> "epoch(%s)")
      val str = Seq("o_orderstatus", "o_orderpriority")
      val branches =
        num.map { case (c, f) =>
          val e = f.format(c)
          s"""SELECT '$c' AS col_name, (SELECT count(*) FROM orders) AS n_rows,
             | count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
             | min($e) AS min_num, max($e) AS max_num,
             | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
             |FROM orders""".stripMargin
        } ++
        str.map(c =>
          s"""SELECT '$c' AS col_name, (SELECT count(*) FROM orders) AS n_rows,
             | count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
             | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
             | min($c) AS min_str, max($c) AS max_str
             |FROM orders""".stripMargin)
      branches.mkString("", "\nUNION ALL\n", "")
    },
    "q17_daily_window" ->
      """SELECT (epoch_ms(ts) // 1000) // 86400 * 86400 AS day_start,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q28_dq_report" ->
      """WITH li0 AS (SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |  FROM lineitem),
        |al AS (SELECT * FROM li0
        |  UNION ALL SELECT l_orderkey, l_linenumber, -1.0, 1.5 FROM li0
        |    WHERE l_orderkey % 499 = 0
        |  UNION ALL SELECT l_orderkey + 100000000, l_linenumber, l_quantity,
        |    l_discount FROM li0 WHERE l_orderkey % 617 = 0
        |  UNION ALL SELECT * FROM li0 WHERE l_orderkey % 733 = 0),
        |sc AS (SELECT
        |  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nonpos_qty,
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0
        |    END) AS BIGINT) AS bad_discount
        | FROM al),
        |orph AS (SELECT count(*) AS n FROM al l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey)),
        |dup AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n FROM (
        |  SELECT count(*) AS c FROM al GROUP BY l_orderkey, l_linenumber)
        |  WHERE c > 1)
        |SELECT 'nonpos_qty' AS rule, nonpos_qty AS n FROM sc
        |UNION ALL SELECT 'bad_discount', bad_discount FROM sc
        |UNION ALL SELECT 'orphan_lineitem', n FROM orph
        |UNION ALL SELECT 'duplicate_pk', n FROM dup""".stripMargin,
    "q27_funnel" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts)//1000 AS tss, event_type
        |  FROM events),
        |agg AS (SELECT user_id,
        |  min(CASE WHEN event_type='view' THEN tss END) AS t_view,
        |  list_sort(list(tss) FILTER (WHERE event_type='click')) AS clicks,
        |  list_sort(list(tss) FILTER (WHERE event_type='purchase'))
        |    AS purchases
        | FROM ev GROUP BY 1),
        |s1 AS (SELECT user_id, t_view, purchases,
        |  list_min(list_filter(clicks, c -> c > t_view)) AS t_click
        | FROM agg),
        |s2 AS (SELECT user_id, t_view, t_click,
        |  list_min(list_filter(purchases, p -> p > t_click)) AS t_purchase
        | FROM s1)
        |SELECT count(t_view) AS n_view, count(t_click) AS n_click,
        | count(t_purchase) AS n_purchase,
        | floor(count(t_click) * 1.0 / greatest(count(t_view), 1)
        |   * 1000000) / 1000000.0 AS view_to_click,
        | floor(count(t_purchase) * 1.0 / greatest(count(t_click), 1)
        |   * 1000000) / 1000000.0 AS click_to_purchase
        |FROM s2""".stripMargin,
    // the bloom pre-filter is removed by the exact semi-join, so the
    // oracle is the plain semi-join
    "q25_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0)
        |GROUP BY 1""".stripMargin,
    "q26_zorder" -> {
      val zTerms = (0 until 8).map(b =>
        s"((((x >> $b) & 1)::BIGINT) << ${2 * b}) + " +
          s"((((y >> $b) & 1)::BIGINT) << ${2 * b + 1})").mkString(" + ")
      s"""WITH li AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
         |  l_orderkey FROM lineitem),
         |zb AS (SELECT x, y, ($zTerms) >> 6 AS bucket FROM li),
         |nb AS (SELECT x, y, l_orderkey >> 6 AS bucket FROM li),
         |sz AS (SELECT bucket, max(x) - min(x) AS span_x,
         |  max(y) - min(y) AS span_y FROM zb GROUP BY 1),
         |sn AS (SELECT bucket, max(x) - min(x) AS span_x,
         |  max(y) - min(y) AS span_y FROM nb GROUP BY 1)
         |SELECT 'zorder' AS layout, count(*) AS n_buckets,
         |  floor(avg(span_x) * 10000) / 10000.0 AS avg_span_x,
         |  floor(avg(span_y) * 10000) / 10000.0 AS avg_span_y FROM sz
         |UNION ALL
         |SELECT 'roworder', count(*), floor(avg(span_x) * 10000) / 10000.0,
         |  floor(avg(span_y) * 10000) / 10000.0 FROM sn""".stripMargin
    })
}
