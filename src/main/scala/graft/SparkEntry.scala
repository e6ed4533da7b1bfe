package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops._
import graft.ops.SinkOps.SkipPred._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` has a matching DuckDB oracle in `oracleSql`,
  * except the three declared rows-only estimates (HLL distinct, t-digest
  * quantiles, convergence PageRank — spec-pinned in EdgeCaseSpec). Column
  * names match exactly (the driver sorts columns by name before hashing).
  * Double-typed aggregates go through AggOps.exactSum (DECIMAL inside,
  * double out) so Spark and DuckDB agree bit-for-bit regardless of
  * partition/accumulation order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TextOps.wordCount(
      Tables.documents(spark, "/root/testdata/sf0.001"), "text")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 text scan / tokenize / regex (wordcount + grep families)
    "q_wordcount" -> ((s, d) => TextOps.wordCount(Tables.documents(s, d), "text")),
    "q_grep"      -> ((s, d) => TextOps.grep(Tables.documents(s, d), "text", "s[a-z]+")),
    // Capture-group mode (reference: Grep.java:58-60, optional group arg):
    // extract the word following "the".
    "q_grep_group" -> ((s, d) =>
      TextOps.grep(Tables.documents(s, d), "text", "the ([a-z]+)", 1)),

    // §2.4 aggregate framework families
    "q_agg_sum" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        AggOps.exactSum(col("l_quantity")).as("sum_qty"),
        AggOps.exactSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("cnt"))),
    "q_agg_max" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        max("l_extendedprice").as("max_price"),
        max("l_quantity").as("max_qty"))),
    "q_agg_min" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        min("l_extendedprice").as("min_price"),
        min("l_quantity").as("min_qty"))),
    "q_agg_uniq" -> ((s, d) =>
      AggOps.uniqCount(Tables.orders(s, d), "o_orderpriority", "o_custkey")),
    "q_agg_generic" -> ((s, d) =>
      AggOps.valueAggregate(Tables.lineitem(s, d),
        Seq("l_returnflag", "l_linestatus"), "l_quantity")),
    "q_agg_histogram" -> ((s, d) =>
      AggOps.histogram(Tables.lineitem(s, d), "l_returnflag", "l_quantity", 10.0)),
    // HLL sketch path: estimates are engine-specific → no SQL oracle;
    // driver records a rows-only check (group count is stable).
    "q_agg_uniq_approx" -> ((s, d) =>
      AggOps.approxUniqCount(Tables.orders(s, d), "o_orderpriority", "o_custkey")),
    // Histogram quantiles: the deterministic bounded-state 100 TB
    // quantile (exact bucket counts + uniform interpolation) — the
    // full-oracle companion to the rows-only t-digest row.
    "q_agg_quantile_hist" -> ((s, d) =>
      AggOps.histogramQuantiles(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", 5.0)),
    // Skew report (shuffle doctor): heavy hitters + key-space size for
    // a prospective shuffle key, exact ppm shares.
    "q_skew_report" -> ((s, d) =>
      AggOps.skewReport(Tables.lineitem(s, d), "l_orderkey")),
    // Count-Min Sketch frequency estimation: fixed 4×4096 int64 grid at
    // any key cardinality; pure-sum state makes the sketch order-
    // independent, so — unlike the HLL/t-digest rows — it carries a
    // FULL oracle (DuckDB mirrors the grid via the shared hash60).
    // Probes 0..19 span present and absent keys; est ≥ exact always.
    "q_cms_freq" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
      val sketch = keys.agg(
        graft.functions.CmsAgg.sketchOf(col("k")).as("grid"))
      val w = graft.functions.CmsAgg.Width
      val probes = s.range(0, 20).select(col("id").as("key"))
      val exact = keys.groupBy("k").agg(count(lit(1)).as("cnt"))
      val ests = (0 until graft.functions.CmsAgg.Depth).map { dd =>
        element_at(col("grid"), (lit(dd * w) + pmod(TextOps.hash60(
          concat(lit(s"cms$dd-"), col("key").cast("string"))), lit(w)) +
          lit(1)).cast("int"))
      }
      probes.crossJoin(broadcast(sketch))
        .select(col("key"), least(ests: _*).as("est"))
        .join(exact, col("key") === col("k"), "left")
        .select(col("key"), col("est"),
          coalesce(col("cnt"), lit(0L)).as("exact"))
    }),
    // Incremental aggregate maintenance: "yesterday's" state (2 of 3
    // order slices) absorbs the third slice as a delta — state-sized
    // merge, base never rescanned. The oracle aggregates the WHOLE
    // table from scratch: equality proves the incremental path is
    // exact, not just close.
    "q_agg_incremental" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val prev = AggOps.aggState(
        li.filter(pmod(col("l_orderkey"), lit(3)) =!= 0),
        "l_returnflag", "l_quantity")
      val delta = AggOps.aggState(
        li.filter(pmod(col("l_orderkey"), lit(3)) === 0),
        "l_returnflag", "l_quantity")
      AggOps.aggStateView(
        AggOps.mergeAggStates(prev, delta, "l_returnflag"), "l_returnflag")
    }),
    // Data-quality constraint suite (Deequ/dbt-test shape) over a
    // deterministically dirtied orders table: row-local checks fuse
    // into ONE scan/aggregation; unique adds a keyed count, the FK an
    // anti join. 5 report rows out at any size.
    "q_quality_check" -> ((s, d) => {
      import QualityOps._
      check(dirtyOrders(Tables.orders(s, d)), "o_orderkey", Seq(
        NotNull("o_orderstatus"),
        InRange("o_totalprice", 0.0, 1e9),
        InSet("o_orderstatus", Seq("F", "O")), // 'P' counts as violation
        Unique("o_orderkey"),
        ForeignKey("o_custkey", Tables.customer(s, d), "c_custkey")))
    }),
    // CONSTRAINT-GATED COMMIT (the Delta CHECK-constraint / Deequ
    // publish-gate shape): a clean batch passes the declared suite
    // (not-null + range + unique + FK — one extra pass, O(batch)) and
    // commits; the deterministically-dirtied batch REFUSES before any
    // file is written, leaving the table byte-untouched. The result is
    // the head after the refused commit — if the gate ever leaked, the
    // dirty rows would land in the snapshot and break the hash, so the
    // oracle pins the refusal itself, not just the report.
    "q_commit_checked" -> ((s, d) => {
      import QualityOps._
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_checked", d)
      SinkOps.commitVersion(
        o.filter(col("o_orderkey") % 3 === 0), path,
        SinkOps.CommitSpec(constraints = Some(SinkOps.Constraints(
          "o_orderkey", Seq(
            NotNull("o_orderstatus"),
            InRange("o_totalprice", 0.0, 1e9),
            Unique("o_orderkey"),
            ForeignKey("o_custkey", Tables.customer(s, d), "c_custkey"))))))
      try {
        SinkOps.commitVersion(
          dirtyOrders(o.filter(col("o_orderkey") % 3 === 1)), path,
          SinkOps.CommitSpec(constraints = Some(SinkOps.Constraints(
            "o_orderkey", Seq(NotNull("o_orderstatus"),
              InRange("o_totalprice", 0.0, 1e9), Unique("o_orderkey"))))))
        throw new IllegalStateException(
          "dirty batch was accepted — the gate leaked")
      } catch { case _: IllegalArgumentException => () }
      SinkOps.readVersion(s, path)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
    }),
    // ARBITRARY-EXPRESSION CHECK + SQL FK (round 14) — the Delta
    // `ADD CONSTRAINT CHECK (<expr>)` shape plus referential
    // integrity against another versioned table, entirely from SQL:
    // expr(<boolean sql>) fuses into the one-pass aggregate (FALSE
    // violates, NULL passes — SQL standard), fk(c, graft_table(dim),
    // dim_c) anti-joins the dimension HEAD; a violating batch refuses
    // with the bounded report BEFORE the staged files publish (and
    // the staging is deleted), so the head is only ever clean slices.
    "q_sql_check_expr" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val dim = freshTmpPath(s, "graft_ckx_dim", d)
      SinkOps.commitVersion(
        Tables.customer(s, d).select("c_custkey"), dim)
      val path = freshTmpPath(s, "graft_ckx", d)
      Tables.orders(s, d).createOrReplaceTempView("r14_ckx_orders")
      s.sql(
        s"""INSERT INTO graft_table('$path')
            CHECK o_orderkey (expr(o_totalprice > 0),
                              fk(o_custkey, graft_table('$dim'),
                                 c_custkey))
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM r14_ckx_orders WHERE o_orderkey % 2 = 0""").collect()
      // A batch violating the expression refuses with the head
      // byte-untouched...
      try {
        s.sql(
          s"""INSERT INTO graft_table('$path')
              CHECK o_orderkey (expr(o_totalprice > 0))
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     -o_totalprice AS o_totalprice
              FROM r14_ckx_orders WHERE o_orderkey % 2 = 1""").collect()
        throw new IllegalStateException(
          "expr-violating batch was accepted — the gate leaked")
      } catch {
        case e: Exception
            if e.getMessage.contains("constraint violations") => ()
      }
      // ...and so does one with dangling foreign keys.
      try {
        s.sql(
          s"""INSERT INTO graft_table('$path')
              CHECK o_orderkey (fk(o_custkey, graft_table('$dim'),
                                   c_custkey))
              SELECT o_orderkey, o_custkey + 900000000 AS o_custkey,
                     o_orderstatus, o_totalprice
              FROM r14_ckx_orders WHERE o_orderkey % 2 = 1""").collect()
        throw new IllegalStateException(
          "fk-violating batch was accepted — the gate leaked")
      } catch {
        case e: Exception
            if e.getMessage.contains("constraint violations") => ()
      }
      SinkOps.readVersion(s, path)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
    }),
    // RENAME COLUMN as one metadata manifest line (Delta
    // column-mapping shape), through the SQL verb: zero data IO, old
    // dirs resolve under the new name, the pre-rename delete sidecar
    // folds at its own manifest position, and the post-rename commit
    // writes the new name natively. Oracle = the same lineage replayed
    // relationally with the rename as an alias.
    "q_rename_col" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_rename", d)
      SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 0), path)
      SinkOps.deleteVersionKeys(
        ev.filter(col("event_id") % 5 === 0).select("event_id"),
        path, "event_id")
      s.sql(
        s"ALTER TABLE graft_table('$path') RENAME COLUMN value TO amount")
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 1)
          .withColumnRenamed("value", "amount"), path)
      SinkOps.readVersion(s, path)
        .select(col("event_id"), col("event_type"), col("amount"))
    }),
    // DROP COLUMN as one metadata manifest line (the rename's twin,
    // through the SQL verb): the head reads WITHOUT the column (the
    // full star select is the proof — the driver compares schemas),
    // old bytes stay on disk unread until OPTIMIZE, a pre-drop dir and
    // a post-drop commit resolve to one schema, and a DV folds at its
    // manifest position.
    "q_drop_col" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_drop", d)
      SinkOps.commitVersion(ev.filter(col("event_id") % 3 === 0), path)
      s.sql(s"ALTER TABLE graft_table('$path') DROP COLUMN props")
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === 1).drop("props"), path)
      SinkOps.deleteVersionKeys(
        ev.filter(col("event_id") % 7 === 0).select("event_id"),
        path, "event_id")
      SinkOps.readVersion(s, path)
    }),
    // WIDEN COLUMN as one metadata manifest line (Iceberg type
    // promotion as the third evolution verb, through the SQL ALTER
    // COLUMN ... TYPE spelling): zero data IO, pre-widen dirs CAST
    // exactly in the resolve fold (only exact promotions are
    // sanctioned — int→bigint here), the post-widen commit writes the
    // wide type natively, and a DV folds at its manifest position.
    // Oracle = the merged lineage with the cast applied relationally.
    "q_widen_col" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("vint",
        (col("event_id") % 100000).cast("int"))
      val path = freshTmpPath(s, "graft_widen", d)
      SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 0), path)
      s.sql(s"ALTER TABLE graft_table('$path') " +
        "ALTER COLUMN vint TYPE BIGINT")
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 1)
          .withColumn("vint", col("vint").cast("bigint")), path)
      SinkOps.deleteVersionKeys(
        ev.filter(col("event_id") % 9 === 0).select("event_id"),
        path, "event_id")
      SinkOps.readVersion(s, path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("vint")).as("vint_sum"))
    }),
    // Grouped OLS regression from exact moments (not the double-summing
    // regr_* built-ins): price-on-quantity slope/intercept/r² per flag.
    "q_regression" -> ((s, d) =>
      AggOps.groupedRegression(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice")),
    // Welch two-sample t-test ('A' vs 'R' extended price): exact
    // DECIMAL moments in one conditional map-side-combined pass (one
    // state row out); t/dof are closed-form IEEE at the very end, the
    // oracle mirroring the association order bit-for-bit.
    "q_ttest" -> ((s, d) =>
      AggOps.welchTTest(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "A", "R")),
    // z-score outlier report: squared-domain threshold (no sqrt in the
    // decision), group moments broadcast back — facts never reshuffle.
    "q_outliers" -> ((s, d) =>
      AggOps.zscoreOutliers(Tables.events(s, d),
        "event_type", "value", "event_id", zThreshold = 2.0)),
    // Forward fill (LOCF): deterministically punched-out values (id ≡ 0
    // mod 7) re-imputed from each user's prior observation.
    "q_locf" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sparse = ev.select(col("event_id"), col("user_id"),
        EventOps.microsOf(ev, "ts").as("tus"),
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      EventOps.forwardFill(sparse, "user_id", "tus", "event_id", "value")
        .select("event_id", "user_id", "value")
    }),
    // Single-pass column profiler (ANALYZE-TABLE statistics): all
    // columns in one aggregation, one row per column out.
    "q_profile" -> ((s, d) =>
      AggOps.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus"))),
    // Scale-safe profiler twin: HLL++ NDV — no Expand, one mergeable
    // sketch pass (the 100 TB default). Estimates are engine-specific
    // → rows-only, same contract as q_agg_uniq_approx; exact q_profile
    // above stays the full-oracle twin.
    "q_profile_approx" -> ((s, d) =>
      AggOps.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus"),
        approxNdv = true)),
    // Cross-system content digest: XOR-folded portable row hashes —
    // order/partition/engine-independent table checksums.
    "q_table_digest" -> ((s, d) =>
      AggOps.tableDigest(Tables.orders(s, d), "orders",
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .union(AggOps.tableDigest(Tables.customer(s, d), "customer",
          Seq("c_custkey", "c_name", "c_mktsegment")))
        .union(AggOps.tableDigest(Tables.nation(s, d), "nation",
          Seq("n_nationkey", "n_name")))),

    // Two-level top-k: aggregate first (revenue per customer), THEN
    // rank within region — "top customers by revenue per segment", the
    // analytics staple distinct from raw-row top-k (q_window_topk).
    // Agg shrinks the window input to one row per customer, so the
    // rank window never sees raw rows; WindowGroupLimit still applies.
    "q_topk_grouped" -> ((s, d) => {
      val rev = Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(AggOps.exactSum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("revenue").desc, col("o_custkey"))
      rev.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
    }),
    // Inter-arrival gaps: per event_type, exact int64 micro diffs
    // between consecutive same-user events — mean gap rides the
    // DECIMAL-exact sum contract.
    "q_interarrival" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      ev.select(col("user_id"), col("event_id"), col("event_type"),
          EventOps.microsOf(ev, "ts").as("tus"))
        .withColumn("gap", col("tus") - lag("tus", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum("gap").as("sum_gap_us"),
          max("gap").as("max_gap_us"),
          expr("sum(gap) div count(1)").as("mean_gap_us"))
    }),
    // Exact bivariate moments: population covariance + Pearson
    // correlation from DECIMAL-exact Σx, Σy, Σxy, Σx², Σy² — the same
    // order-independent contract as q_agg_stats (built-in corr/covar
    // accumulate floats order-dependently and would not hash-match).
    "q_agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          AggOps.exactSum(col("l_quantity")).as("sx"),
          AggOps.exactSum(col("l_extendedprice")).as("sy"),
          AggOps.exactSum(col("l_quantity") * col("l_extendedprice")).as("sxy"),
          AggOps.exactSum(col("l_quantity") * col("l_quantity")).as("sxx"),
          AggOps.exactSum(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          (col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n")))
            .as("cov_pop"),
          ((col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))) /
            sqrt((col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))) *
              (col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n")))))
            .as("corr"))),
    // Ordered string aggregation (SQL string_agg / group_concat): names
    // sorted within the aggregate so the result is a deterministic
    // canonical string per group.
    "q_agg_strings" -> ((s, d) =>
      Tables.customer(s, d).groupBy("c_mktsegment").agg(
        count(lit(1)).as("n"),
        array_join(array_sort(collect_list(col("c_name"))), ",")
          .as("names"))),

    // §2.6 sorts / top-k
    "q_sort_total" -> ((s, d) =>
      SortOps.totalSort(
        Tables.lineitem(s, d).select("l_partkey", "l_orderkey", "l_linenumber"),
        col("l_partkey"), col("l_orderkey"), col("l_linenumber"))),
    "q_sort_desc_float" -> ((s, d) =>
      SortOps.totalSort(
        Tables.customer(s, d).select("c_custkey", "c_acctbal"),
        col("c_acctbal").desc, col("c_custkey"))),
    "q_topk" -> ((s, d) =>
      SortOps.topK(Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        100, col("o_totalprice").desc, col("o_orderkey"))),
    // Z-order (Morton) interleaved key over (custkey, orderkey) — the
    // multi-dimensional clustering value behind SortOps.zorderLayout;
    // exact integer bit math, oracle-recomputed in DuckDB.
    "q_zorder" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        SortOps.zorderValue(
          col("o_custkey") % 65536L, col("o_orderkey") % 65536L).as("zval"))),

    // §2.3 joins
    "q_join" -> ((s, d) => {
      val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
      JoinOps.inner(o, l, o("o_orderkey") === l("l_orderkey"))
        .select("o_orderkey", "l_linenumber", "o_custkey", "l_partkey")
    }),
    "q_join_semi" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      JoinOps.semi(o, l, o("o_orderkey") === l("l_orderkey"))
        .select("o_orderkey", "o_orderpriority")
    }),
    "q_join_anti" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      JoinOps.anti(o, l, o("o_orderkey") === l("l_orderkey"))
        .select("o_orderkey", "o_orderpriority")
    }),
    // As-of join (composed: key equi-join + time filter + latest-row
    // window): per event, the user's most recent order at event time.
    "q_join_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val eu = ev.select(col("event_id"), col("user_id"),
        EventOps.microsOf(ev, "ts").as("tus"))
      val or = Tables.orders(s, d)
      val ou = or.select(col("o_custkey").as("user_id"), col("o_orderkey"),
        EventOps.microsOf(or, "o_orderdate").as("o_us"))
      JoinOps.asofJoin(eu, ou, "user_id", "tus", "o_us", "o_orderkey")
    }),
    // Forward as-of: per view event, the same user's next purchase AT
    // or AFTER the view — the time-to-conversion direction backward
    // as-of can't express.
    "q_join_asof_fwd" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          EventOps.microsOf(ev, "ts").as("tus"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("buy_id"),
          EventOps.microsOf(ev, "ts").as("buy_us"))
      JoinOps.asofJoinForward(views, buys, "user_id", "tus", "buy_us", "buy_id")
    }),
    // Nearest as-of: per view event, the user's closest purchase in
    // EITHER direction, backward preferred on exact-distance ties
    // (pandas merge_asof direction='nearest').
    "q_join_asof_near" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          EventOps.microsOf(ev, "ts").as("tus"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("buy_id"),
          EventOps.microsOf(ev, "ts").as("buy_us"))
      JoinOps.asofJoinNearest(views, buys, "user_id", "tus", "buy_us", "buy_id")
    }),
    // Interval-overlap join: concurrent sessions of DIFFERENT users
    // (who was online together) — bucket-decomposed, never a cross join.
    "q_join_interval" -> ((s, d) => {
      val sess = EventOps.sessionize(Tables.events(s, d))
        .select(col("user_id"), col("sess_idx"),
          col("start_us"), col("end_us"))
      JoinOps.intervalOverlapJoin(sess, "user_id", "sess_idx",
        "start_us", "end_us", 3600L * 1000000L)
    }),
    // Banded range self-join: event pairs of the same user within 1 hour.
    "q_join_range" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val eu = ev.select(col("event_id"), col("user_id"),
        EventOps.microsOf(ev, "ts").as("tus"))
      JoinOps.rangeSelfJoin(eu, "user_id", "tus", "event_id", 3600L * 1000000L)
    }),
    "q_join_dim" -> ((s, d) => {
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      JoinOps.dimJoin(c, n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name").agg(
          count(lit(1)).as("n_cust"),
          AggOps.exactSum(col("c_acctbal")).as("sum_bal"))
    }),
    // Salted join (skew guard): identical results to the plain join —
    // which is exactly what the oracle verifies. Salt derives from
    // l_partkey (row-diverse) so a hot order key genuinely spreads over
    // all buckets; a low-cardinality salt source would cap the spread.
    "q_join_salted" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k"), col("l_linenumber"),
          col("l_quantity"), col("l_partkey"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      JoinOps.saltedJoin(l, o, "k", col("l_partkey"))
        .select(col("k").as("o_orderkey"), col("l_linenumber"),
          col("o_orderpriority"), col("l_quantity"))
    }),
    // CDC merge/upsert (MERGE INTO semantics): a deterministic change
    // stream (deletes, latest-wins double updates, key-shifted inserts)
    // applied to the orders snapshot — latest election is one max_by
    // agg, application one full-outer join.
    "q_merge_upsert" -> ((s, d) =>
      ops.CdcOps.mergeUpsertDemo(Tables.orders(s, d))),
    // SCD2 history build: every version as a validity interval — one
    // lead() window per key, no joins; tombstones close predecessors.
    "q_scd2" -> ((s, d) =>
      ops.CdcOps.scd2Demo(Tables.orders(s, d))),
    // Point-in-time lookup at seq=1 (mid-history: the +1000 update is
    // live, the seq-2 doubling is not): time travel as an interval-
    // filter scan over the SCD2 history. The oracle reconstructs the
    // snapshot independently by replaying changes ≤ 1.
    "q_scd2_pit" -> ((s, d) =>
      ops.CdcOps.pitLookup(ops.CdcOps.scd2Demo(Tables.orders(s, d)), 1L)),
    // Row-level reconciliation: base vs merged snapshot classified
    // added/removed/changed/unchanged — bounded (≤4 rows) at any size.
    "q_table_diff" -> ((s, d) => {
      val base = ops.CdcOps.baseOrders(Tables.orders(s, d))
      ops.CdcOps.tableDiff(base,
        ops.CdcOps.mergeApply(base,
          ops.CdcOps.demoOrderChanges(base), "o_orderkey"),
        "o_orderkey")
    }),

    // Argmax/argmin aggregation (max_by/min_by): per priority, WHICH
    // order carries the extreme price — the "top row per group without
    // a window" shape; ties impossible (price tie broken by key in the
    // ordering struct, mirrored in the oracle).
    "q_agg_argmax" -> ((s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority").agg(
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("max_key"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("min_key"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"))),
    // Cohort retention: users bucketed by first-seen week, activity
    // counted per (cohort week, active week) — the product-analytics
    // retention matrix. Two user-keyed aggs + one matrix agg.
    "q_cohort" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val e = ev.select(col("user_id"),
          EventOps.microsOf(ev, "ts").as("tus"))
        .select(col("user_id"), expr("tus div 604800000000L").as("w"))
      val first = e.groupBy("user_id").agg(min("w").as("w0"))
      e.distinct().join(first, "user_id")
        .groupBy("w0", "w").agg(countDistinct("user_id").as("n_users"))
    }),
    // Schema-evolution union (unionByName, missing columns null-filled):
    // the ETL staple for merging v1/v2 table generations.
    "q_union_byname" -> ((s, d) => {
      val v1 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      val v2 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"))
      v1.unionByName(v2, allowMissingColumns = true)
    }),

    // Scan-layer schema merge: two table GENERATIONS written with
    // different physical schemas (v2 adds n_words) land in one
    // directory tree; mergeSchema=true reconciles them at read time —
    // v1 rows surface null n_words without a rewrite. The lakehouse
    // answer to unionByName's ETL-side merge.
    "q_schema_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val out = tmpPath("graft_schema_merge", d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"),
          size(filter(split(col("text"), TextOps.WsRegex), t => t =!= ""))
            .cast("long").as("n_words"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          count(col("n_words")).as("n_with_words"),
          sum(coalesce(col("n_words"), lit(0L))).as("sum_words"))
    }),

    // §2.7 set ops
    "q_union" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), lit("first").as("src"))
        .union(o.filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), lit("second").as("src")))
    }),
    "q_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()),
    // INTERSECT/EXCEPT (distinct set semantics, same as SQL): customers
    // holding both / only-the-first of two order-status classes. Catalyst
    // plans these as aggregated semi/anti joins — no new machinery.
    "q_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    }),
    "q_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    }),
    // Multiset (bag) semantics: a customer with 3 F orders and 1 O order
    // survives EXCEPT ALL twice — multiplicities subtract instead of the
    // set ops' existence test. Spark plans both as aggregate+generate
    // (count per side, replicate the difference/min), not a join per row.
    "q_except_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .exceptAll(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    }),
    "q_intersect_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersectAll(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    }),
    // Full outer join of two per-customer aggregates (customers with only
    // F orders, only O orders, or both) — the outer-join surface with a
    // coalesced key, one shuffle per side on the join key.
    "q_join_outer" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val f = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_f"))
      val g = o.filter(col("o_orderstatus") === "O").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_o"))
      f.join(g, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("n_o"), lit(0L)).as("n_o"))
    }),

    // §2.5 window functions
    "q_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("rn"),
        AggOps.exactWindowSum(col("o_totalprice"), w).as("running_spend"))
    }),

    // Analytic window family: lag/lead over the per-customer order
    // sequence, rank/dense_rank over spend — one key exchange shared by
    // both window specs (same partition key, Catalyst reuses the sort).
    "q_window_lag" -> ((s, d) => {
      val seqW = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val rnkW = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lag("o_orderkey", 1).over(seqW).as("prev_key"),
        lead("o_orderkey", 1).over(seqW).as("next_key"),
        rank().over(rnkW).cast("long").as("rnk"),
        dense_rank().over(rnkW).cast("long").as("drnk"))
    }),
    // Window-family completion: ntile quartiles plus first/last value
    // over the full-partition frame (rank/dense_rank live in
    // q_window_lag, frames in q_window_moving).
    "q_window_extras" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        first("o_orderkey").over(full).as("first_key"),
        last("o_orderkey").over(full).as("last_key"))
    }),
    // Relative-rank completion: percent_rank + cume_dist. The full
    // tie-break makes the order total, so both are single IEEE
    // divisions of exact ranks — engine-identical.
    "q_window_ranks" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderpriority"), col("o_orderkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"))
    }),
    // Per-group top-k (row_number ≤ k): Spark plans WindowGroupLimit —
    // partial top-k before the shuffle, the distributed-safe "top N per
    // key" (a global sort+limit would funnel everything to one node).
    "q_window_topk" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
    }),

    // Statistical moments from exact sums: Σx and Σx² accumulate as
    // DECIMAL (order-independent; l_quantity is integral so x² is exact),
    // then mean/variance/stddev are fixed IEEE-754 expressions of those
    // exact inputs — bit-identical in any engine, unlike float-accumulator
    // stddev whose result depends on partition order.
    "q_agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          AggOps.exactSum(col("l_quantity")).as("s1"),
          AggOps.exactSum(col("l_quantity") * col("l_quantity")).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s1") / col("n")).as("avg_qty"),
          (col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
            .as("var_qty"),
          sqrt(greatest(
            col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")),
            lit(0.0))).as("std_qty"))),

    // Bounded-frame moving window (ROWS BETWEEN 2 PRECEDING AND CURRENT):
    // per-customer 3-order moving spend — the frame-clause surface the
    // running-sum query doesn't exercise. Sum stays DECIMAL (exact);
    // the average is an IEEE division of exact inputs.
    "q_window_moving" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        AggOps.exactWindowSum(col("o_totalprice"), w).as("mov_sum"),
        count(lit(1)).over(w).as("mov_n"))
        .withColumn("mov_avg", col("mov_sum") / col("mov_n"))
    }),

    // Rolling median over a 5-row trailing frame: an ORDER-STATISTIC
    // aggregate inside a moving window (sum/avg frames can't express
    // it). Spark bars percentile-family aggregates from framed windows
    // (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the median is
    // composed: collect the ≤5-element frame, sort_array, pick the
    // middle (odd) or average the two middles (even) — closed-form
    // array ops, no UDF. Inputs are int64 floor-cents, so every median
    // is an integer or an exact .5 — bit-identical across engines as a
    // double.
    "q_window_median" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(-4, Window.currentRow)
      val arr = sort_array(collect_list(col("cents")).over(w))
      val n = size(arr)
      // Column `/` is IEEE division (double); the frame is ≤5 elements
      // so the quotients are exact halves — cast("int") truncates to
      // the 1-based middle index.
      val med = when(n % 2 === 1,
          element_at(arr, ((n + 1) / 2).cast("int")).cast("double"))
        .otherwise((element_at(arr, (n / 2).cast("int"))
            + element_at(arr, (n / 2).cast("int") + 1))
          .cast("double") / 2.0)
      ev.select(col("user_id"), col("event_id"),
          EventOps.microsOf(ev, "ts").as("tus"),
          floor(col("value") * 100).as("cents"))
        .select(col("user_id"), col("event_id"), med.as("med_cents"))
    }),

    // Sequence-transition mining (first-order Markov counts): per-user
    // consecutive event_type pairs in event-time order, global
    // transition counts, and row-conditional probabilities in integer
    // ppm (exact int64 floor division — no libm). The lag window runs
    // on the user_id exchange; the transition matrix is |types|² rows,
    // so the second window is over a handful of rows at any scale.
    "q_markov" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val steps = ev.select(col("user_id"), col("event_type"),
          EventOps.microsOf(ev, "ts").as("tus"), col("event_id"))
        .select(col("event_type").as("to_type"),
          lag("event_type", 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
      steps.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(n * 1000000) div sum(n) over (partition by from_type)")
            .as("p_ppm"))
    }),

    // Day-of-week × hour-of-day seasonality profile in pure epoch
    // arithmetic — deliberately NO calendar functions (dow numbering
    // conventions differ across engines): dow0 = (epoch_days + 3) % 7
    // makes 0 = Monday (1970-01-01 was a Thursday), hod is the UTC
    // hour. One map-side-combined aggregation; ≤168 rows out at any
    // scale.
    "q_seasonality" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(EventOps.microsOf(ev, "ts").as("tus"), col("value"))
        .select(expr("((tus div 86400000000) + 3) % 7").as("dow0"),
          expr("(tus div 3600000000) % 24").as("hod"), col("value"))
        .groupBy("dow0", "hod")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    }),

    // Set-as-bitmask aggregation: event_type → dense bit index
    // (row_number over the tiny sorted distinct-type table, broadcast
    // into the fact scan), per-user int64 membership mask via
    // bit_or(1L << bit), cardinality via bit_count. The constant-width
    // distinct-set trick: a ≤64-domain set costs 8 bytes/user at any
    // scale (vs an unbounded collect_set), and masks AND/OR-compose
    // across rollups. The unpartitioned row_number window is over
    // |distinct types| rows — a constant.
    "q_bitset_agg" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val types = ev.select("event_type").distinct()
        .select(col("event_type"),
          (row_number().over(Window.orderBy("event_type")) - 1).as("bit"))
      ev.join(broadcast(types), "event_type")
        .groupBy("user_id")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))")
          .as("type_mask"))
        .select(col("user_id"), col("type_mask"),
          expr("CAST(bit_count(type_mask) AS INT)").as("n_types"))
    }),

    // k-anonymity suppression gate (k = KAnonK): quasi-identifier
    // groups (priority, status, order month) below k are folded into a
    // single '*' bucket before publication; retained groups carry
    // exact stats. Scan-side cost is one aggregation; the split runs
    // on the ~1,300-row grouped result. The suppressed row is emitted
    // only when suppressed groups exist (both engines agree — at large
    // SF every group can clear k).
    "q_kanon" -> ((s, d) => {
      val g = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"),
          date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        .agg(count(lit(1)).as("n"),
          // stays DECIMAL (not exactSum's double) so the suppressed
          // bucket's re-sum is order-independent too
          sum(col("o_totalprice").cast("decimal(28,4)")).as("sp"))
      val kept = g.filter(col("n") >= KAnonK)
        .select(col("o_orderpriority").as("qi_priority"),
          col("o_orderstatus").as("qi_status"),
          col("m").cast("string").as("qi_month"),
          col("n"), col("sp").cast("double").as("sum_price"))
      val supp = g.filter(col("n") < KAnonK)
        .agg(sum("n").as("n"), sum("sp").as("sp"))
        .select(lit("*").as("qi_priority"), lit("*").as("qi_status"),
          lit("*").as("qi_month"), col("n"),
          col("sp").cast("double").as("sum_price"))
        .filter(col("n").isNotNull)
      kept.unionByName(supp)
    }),

    // Time-RANGE window frame: trailing 1-hour per-user aggregate over
    // event time — the time-series staple ROWS frames can't express
    // (the frame is value-bounded, so it tracks wall time, not row
    // count). RANGE includes all peers of a tied timestamp → result is
    // order-independent; same keyed exchange shape as the ROWS twin.
    "q_window_range" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy("tus")
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      ev.select(col("event_id"), col("user_id"),
          ops.EventOps.microsOf(ev, "ts").as("tus"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          AggOps.exactWindowSum(col("value"), w).as("sum_1h"))
    }),

    // Calendar rollup: month-truncated time dimension — the standard
    // time-series aggregation missing from the flat TPC-H-ish queries.
    "q_agg_monthly" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"))),

    // Exact interpolated quantiles (percentile = sort + linear
    // interpolation at rank p·(n−1)): the distribution-profiling
    // aggregate. At 100 TB swap in approx_percentile (t-digest sketch,
    // constant state) — exact kept on the oracle path because the oracle
    // is exact.
    "q_agg_quantile" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, 0.25)").as("p25"),
        expr("percentile(l_extendedprice, 0.5)").as("median"),
        expr("percentile(l_extendedprice, 0.75)").as("p75"),
        count(lit(1)).as("cnt"))),
    // The 100 TB quantile path: t-digest sketch (constant state per
    // group, single sketch shuffle — exact percentile must hold every
    // group value in memory). Estimates are engine-specific → rows-only
    // driver check, same contract as q_agg_uniq_approx.
    "q_agg_quantile_approx" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("median_est"),
        count(lit(1)).as("cnt"))),

    // grouping sets
    "q_rollup" -> ((s, d) =>
      Tables.lineitem(s, d).rollup("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("cnt"),
        AggOps.exactSum(col("l_quantity")).as("sum_qty"))),
    "q_cube" -> ((s, d) =>
      Tables.lineitem(s, d).cube("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("cnt"),
        AggOps.exactSum(col("l_quantity")).as("sum_qty"))),
    // Pivot with a fixed value list (dynamic pivot needs a collect of
    // the pivot domain — fixed lists are the 100 TB-safe form).
    "q_pivot" -> ((s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))),
    // DYNAMIC pivot with a capped deterministic domain: the pivot
    // columns are ELECTED by an aggregate — global top-k values by
    // (count desc, value asc) over the domain-compressed count frame —
    // never by a driver collect of an unbounded domain; everything
    // outside the top-k folds into `n_other`. The output schema is
    // FIXED (k slot pairs + other) at any data: each slot carries its
    // elected value alongside its per-group count, so the result is
    // self-describing and the deterministic election replays exactly
    // in the oracle. The 100 TB shape: election + legend are
    // |domain|-row aggregates, the fact table takes one broadcast slot
    // attach and one group-by — no second scan, no driver round-trip.
    "q_pivot_dynamic" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cnts = o.groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      val wrk = Window.orderBy(col("cnt").desc, col("o_orderpriority").asc)
      val slots = cnts.withColumn("rk", row_number().over(wrk))
        .filter(col("rk") <= PivotDynK)
        .select(col("o_orderpriority").as("pv"), col("rk"))
      val legend = slots.agg(
        max(when(col("rk") === 1, col("pv"))).as("v1"),
        max(when(col("rk") === 2, col("pv"))).as("v2"),
        max(when(col("rk") === 3, col("pv"))).as("v3"))
      o.join(broadcast(slots), o("o_orderpriority") === col("pv"), "left")
        .groupBy("o_orderstatus").agg(
          sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("rk") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("rk") === 3, 1L).otherwise(0L)).as("n3"),
          sum(when(col("rk").isNull, 1L).otherwise(0L)).as("n_other"))
        .crossJoin(broadcast(legend))
        .select(col("o_orderstatus"), col("v1"), col("n1"), col("v2"),
          col("n2"), col("v3"), col("n3"), col("n_other"))
    }),

    // Deterministic hash sample — reproducible ~10% split on a stable
    // key (training-data pipelines need splits that survive re-runs and
    // engine changes; rand()-based sampling does not).
    "q_sample" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(TextOps.hash60(concat(lit("smp-"), col("o_orderkey"))) % 100 < 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // §3.3 PageRank — the reference's iterative workload. Fixed 10
    // iterations + int64 fixed-point math so ranks are bit-identical
    // across partitionings and engines (GraphOps scaladoc).
    "q_pagerank" -> ((s, d) =>
      GraphOps.pageRank(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), PrMod), PrIters)),
    // HITS hubs/authorities — 8 mutual-reinforcement rounds with
    // max-normalization so every intermediate stays exact int64
    // (GraphOps.hitsFixed scaladoc); bit-identical across engines.
    "q_hits" -> ((s, d) =>
      GraphOps.hitsFixed(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), PrMod), HitsIters)),
    // Personalized PageRank — teleport mass restricted to the mod-10
    // seed set; the related-page / topic-conditioned ranking query.
    "q_ppr" -> ((s, d) =>
      GraphOps.pageRank(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), PrMod),
        PrIters, seedMod = Some(PprSeedMod))),
    // Common-neighbor link prediction: wedge-join candidates (never all
    // pairs) on the sparse TriMod graph, exact Jaccard ppm, stable
    // top-100 under a deterministic total order.
    "q_link_predict" -> ((s, d) =>
      GraphOps.linkPredict(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), LpMod),
        LinkPredictK, LpNbrCap)),
    // Incremental PageRank vs a PERSISTED rank vector: rank the base
    // edge subset (lines 1-4) with the full 10-round budget, persist
    // the vector, then re-rank the GROWN edge set (all lines) with 3
    // warm-started rounds — the nightly-append shape; new nodes start
    // at the cold init. Oracle unrolls base+warm rounds exactly.
    "q_pagerank_incr" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val path = tmpPath("graft_prwarm", d)
      GraphOps.pageRank(
          GraphOps.edgesFromLineitem(
            li.filter(col("l_linenumber") <= 4), PrMod), PrIters)
        .select("node", "rank_fp")
        .write.mode("overwrite").parquet(path)
      GraphOps.pageRank(GraphOps.edgesFromLineitem(li, PrMod),
        PrWarmIters, prior = Some(Tables.parquet(s, path)))
    }),
    // Convergence-driven variant (driver-side scalar L1 stop). Iteration
    // count is data-dependent → no SQL oracle; driver records a
    // rows-only check per the contract.
    "q_pagerank_conv" -> ((s, d) =>
      GraphOps.pageRankConverged(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), PrMod),
        maxIters = 30, tolFp = GraphOps.Scale / 1000)._1),
    // Degree distribution on the triangle graph: the profiling pass a
    // partitioning/broadcast decision consumes.
    "q_degree_dist" -> ((s, d) =>
      GraphOps.degreeDistribution(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod))),
    // Sentence segmentation: per-sentence rows with exact-text md5s;
    // shared no-lookbehind boundary class keeps both engines identical.
    "q_sentences" -> ((s, d) =>
      TextOps.sentences(Tables.documents(s, d))),
    // Per-node triangle counts: the degree-ordered node-iterator (wedge
    // out-degrees bounded O(√m), hot vertices generate zero wedges) —
    // oracle is the canonical a<b<c three-way self-join. Uses a SPARSER
    // modulus than PageRank: mod 997 makes lineitem a near-complete
    // graph whose triangle count is cubic-degenerate (~5.7·10^7 at
    // sf0.1) — no algorithm makes enumerating those cheap; mod 9973
    // keeps realistic social-graph density at every fixture scale.
    "q_triangle" -> ((s, d) =>
      GraphOps.triangleCounts(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod))),

    // k-core decomposition (k=12 on the mod-9973 graph): parallel
    // peeling to a fixpoint — 10 rounds at sf0.01, instant at denser
    // scales. The cohesion filter that precedes community analysis.
    "q_kcore" -> ((s, d) =>
      GraphOps.kCore(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod), 12)),

    // Single-source BFS shortest-path levels (source node 1, ≤8 hops)
    // on the mod-9973 graph: broadcast-frontier expansion, one round
    // per level — oracle unrolls the same frontier rounds as
    // materialized CTEs (a naive recursive CTE enumerates ALL paths,
    // combinatorial at degree ~12; the frontier form is the scalable
    // shape on both engines).
    "q_bfs" -> ((s, d) =>
      GraphOps.bfsLevels(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod),
        BfsSource, BfsDepth)),

    // Weighted single-source shortest paths (Bellman-Ford min-merge
    // rounds, fixpoint-or-throw) on the mod-9973 graph with symmetric
    // pure-function weights — the weighted companion to q_bfs. The
    // oracle unrolls the same rounds as materialized CTEs; rounds past
    // the fixpoint are no-ops, so both engines land on the identical
    // distance vector.
    "q_sssp" -> ((s, d) =>
      GraphOps.sssp(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod),
        BfsSource, SsspMaxRounds)),

    // General weighted-graph API: DIRECTED edges carrying their own
    // weight column (src, dst, w) — a real user's first graph shape —
    // with w = min(l_linenumber) per collapsed pair (data-derived, not
    // the symmetric pure-function weight q_sssp synthesizes). Direction
    // matters: only order→part arcs exist, so the distance vector is the
    // directed reachable set. Convergence detection rides the min-merge
    // aggregate itself (origin-tagged rows, one exchange + one action
    // per round); oracle unrolls the same rounds, no-ops past fixpoint.
    "q_sssp_weighted" -> ((s, d) =>
      GraphOps.ssspWeighted(
        GraphOps.weightedEdgesFromLineitem(Tables.lineitem(s, d), TriMod),
        BfsSource, SsspWMaxRounds)),

    // Weighted PageRank on the same directed (src, dst, w) user-graph
    // shape as q_sssp_weighted: rank splits across out-arcs by weight —
    // share = (rank·w) div wdeg, int64 fixed-point throughout, so the
    // oracle's unrolled CTE rounds land bit-identical. Uses the sparse
    // mod-9973 graph (the dense mod-997 fixture's weighted mass profile
    // adds nothing the unweighted q_pagerank doesn't already pin).
    "q_pagerank_weighted" -> ((s, d) =>
      GraphOps.pageRank(
        GraphOps.weightedEdgesFromLineitem(Tables.lineitem(s, d), TriMod),
        PrwIters)),

    // Local clustering coefficient: 2·tri/(deg·(deg−1)) per node with
    // deg ≥ 2 — the neighborhood-density profile on top of the
    // degree-ordered triangle kernel. Exact int64 triangle/degree
    // counts; the single terminal IEEE division is deterministic in
    // both engines.
    "q_clustering_coef" -> ((s, d) =>
      GraphOps.clusteringCoefficient(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod))),

    // Community detection by synchronous label propagation on the
    // mod-9973 graph: plurality label over the closed neighborhood,
    // (count desc, label asc) election, fixpoint-or-throw. Converges in
    // 17/14/8 rounds at sf0.001/0.01/0.1; the oracle unrolls LpaRounds
    // rounds — rounds past the fixpoint are no-ops, so both engines
    // land on the identical labeling (the q_sssp unroll contract).
    "q_communities" -> ((s, d) =>
      GraphOps.labelPropagation(
        GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod),
        LpaRounds)),

    // WEIGHTED label propagation on the (src, dst, w) user-graph shape:
    // votes carry edge weight, self-vote weight 1, fixed WlpaRounds
    // synchronous rounds (the GraphX/GraphFrames contract — weighted
    // synchronous LPA has no convergence guarantee; both engines stop
    // at the same round).
    "q_communities_weighted" -> ((s, d) =>
      GraphOps.labelPropagationWeighted(
        GraphOps.weightedEdgesFromLineitem(Tables.lineitem(s, d), TriMod),
        WlpaRounds)),

    // Modularity of the LPA communities — the community-quality metric
    // (the graph twin of q_kmeans inertia): per community, intra-edge
    // count, degree sum, and the e/m − (d/2m)² contribution, exact
    // int64 inputs with one terminal IEEE expression.
    "q_modularity" -> ((s, d) => {
      val edges = GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod)
      GraphOps.modularity(edges,
        GraphOps.labelPropagation(edges, LpaRounds))
    }),

    // Skew-mitigation pattern: salted two-phase aggregation; oracle is
    // the plain GROUP BY (identical results prove exactness).
    "q_agg_salted" -> ((s, d) =>
      AggOps.saltedSum(Tables.lineitem(s, d), Seq("l_returnflag"),
        "l_quantity", col("l_orderkey"))),

    // Incremental JOIN-view maintenance (the delta rule ΔV = ΔO⋈L ∪
    // O⋈ΔL ∪ ΔO⋈ΔL): the base×base join is persisted ONCE, the refresh
    // reads it back and adds only delta terms whose small side
    // broadcasts — the oracle digests the full unsplit join, so
    // incremental ≡ full is hash-pinned. Boundary splits both fact
    // tables by their own event-time column, the realistic
    // ingest-partition shape.
    "q_ivm_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val bd = lit(IvmBoundary).cast("date")
      val (ob, od) = (o.filter(col("o_orderdate").cast("date") < bd),
        o.filter(col("o_orderdate").cast("date") >= bd))
      val (lb, ld) = (li.filter(col("l_shipdate").cast("date") < bd),
        li.filter(col("l_shipdate").cast("date") >= bd))
      val path = tmpPath("graft_ivm_view", d)
      JoinOps.writeJoinView(ob, lb, path)
      JoinOps.ivmJoinRefresh(ob, od, lb, ld, path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
    }),

    // Hybrid hot/cold skew join: exact fact-side key counts name the
    // hot keys; the skew mass joins a broadcast hot-dim sliver, the
    // cold tail takes the shuffle join the full-size dim would force.
    // The fact key collapses everything ≥ HotColdCut onto one key, so
    // a genuinely melted reducer exists for the cold path to dodge.
    // Oracle: the plain join — hybrid must be exactly it.
    "q_join_hotcold" -> ((s, d) => {
      val fact = Tables.lineitem(s, d)
        .withColumn("jk", least(col("l_partkey"), lit(HotColdCut)))
      JoinOps.hotColdJoin(fact, Tables.part(s, d), "jk", "p_partkey",
          hotDen = 10L)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          sum("l_linenumber").as("line_sum"))
    }),

    // Fuzzy canonicalization (entity resolution): each distinct part
    // name maps to the most frequent name within edit distance 2 of it.
    // Candidates blocked on the last token + length band INSIDE the
    // join condition — levenshtein only ever runs on the blocked sliver.
    "q_fuzzy_canon" -> ((s, d) =>
      DedupOps.fuzzyCanonicalize(Tables.part(s, d), "p_name")),

    // LLM-pipeline tier: deduplication (north star). All run over the
    // deterministic dup-bearing corpus (DedupOps.dupCorpus) so the
    // operators have real duplicates to find.
    "q_dedup_exact" -> ((s, d) =>
      DedupOps.exactDedup(DedupOps.dupCorpus(Tables.documents(s, d)))),
    // Ingestion-time dedup: the dup corpus arrives as the "incoming"
    // batch, docs with doc_id < 250 are the already-ingested set —
    // survivors are incoming rows whose text digest is new.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.dedupAgainst(
        DedupOps.dupCorpus(docs).select("doc_id", "text"),
        docs.filter(col("doc_id") < 250).select("doc_id", "text"))
        .select("doc_id")
    }),
    // Bloom-prefiltered incremental dedup: same inputs and exact same
    // result as q_dedup_incremental; rows missing the known-corpus bloom
    // sketch bypass the anti join entirely (the 100 TB ingestion shape).
    "q_dedup_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // Sketch sized for the fixture known set (the literal rides the
      // plan string; production sizes it to the known-corpus cardinality).
      DedupOps.dedupBloomPrefilter(
        DedupOps.dupCorpus(docs).select("doc_id", "text"),
        docs.filter(col("doc_id") < 250).select("doc_id", "text"),
        expectedItems = 1L << 16, numBits = 1L << 19)
        .select("doc_id")
    }),
    // Paragraph-level exact dedup (C4-style) with document reassembly,
    // over 10-word chunk paragraphs: exact copies vanish entirely, the
    // near-copy tier survives (its shifted chunks are distinct strings) —
    // the granularity difference vs q_dedup_exact is the point.
    "q_dedup_paragraph" -> ((s, d) =>
      DedupOps.paragraphDedup(
        DedupOps.chunkedParas(
          DedupOps.dupCorpus(Tables.documents(s, d)), 10))),
    "q_dedup_minhash" -> ((s, d) =>
      DedupOps.minhashPairs(DedupOps.dupCorpus(Tables.documents(s, d)))),
    // Incremental NEAR-dup dedup against a PERSISTED LSH index — the
    // daily 100 TB operation: the known corpus's band buckets + digests
    // are written once (writeMinhashIndex) and the arrivals batch is
    // judged by one keyed probe into those tables — signatures built
    // for arrivals only, the corpus never re-mined. Arrivals plant
    // cross-slice twins: exact copies (id+1M, doc_id%3=0), near copies
    // (id+2M, %3=1, first token dropped), and fresh char-reversed texts
    // (id+3M, %3=2). Verdict per arrival: exact digest hit, near-dup
    // index-neighbor count, kept flag. Oracle replays the index build
    // from the base table via the shared hash60/coefficients.
    "q_dedup_minhash_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val idx = freshTmpPath(s, "graft_mhidx", d)
      DedupOps.writeMinhashIndex(docs.select("doc_id", "text"), idx)
      val arrivals = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
        .union(docs.filter(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            reverse(col("text")).as("text")))
      DedupOps.dedupMinhashIncremental(arrivals, idx)
    }),
    // Index MAINTENANCE loop — two daily cycles end-to-end: build the
    // index from the even-id half, judge batch 1 (the odd-id half),
    // APPEND batch-1 survivors' bands + digests, then judge batch 2 —
    // exact and near twins of batch-1 survivors (+1M/+2M id spaces) are
    // caught ONLY because the append landed, twins of the original
    // known half (+4M) by the base index. freshTmpPath empties the
    // index root each run, so warmup + timed passes stay deterministic.
    // Output: the batch-2 verdict table.
    "q_dedup_index_update" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val idx = freshTmpPath(s, "graft_mhidx_upd", d)
      val evens = docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      val odds = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      DedupOps.writeMinhashIndex(evens, idx)
      val verdict1 = DedupOps.dedupMinhashIncremental(odds, idx)
      val admitted = odds.join(
        verdict1.filter(col("kept") === 1L).select("doc_id"), Seq("doc_id"),
        "left_semi")
      DedupOps.appendToMinhashIndex(admitted, idx)
      val batch2 = odds
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .union(odds.select((col("doc_id") + 2000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
        .union(evens.select((col("doc_id") + 4000000L).as("doc_id"),
          col("text")))
      DedupOps.dedupMinhashIncremental(batch2, idx)
    }),
    // Index COMPACTION — the lifecycle's periodic maintenance: the same
    // two-cycle flow as q_dedup_index_update, but the survivor append is
    // REPLAYED (appended twice — the at-least-once re-delivery a real
    // ingest loop suffers) and the index then compacted to its distinct
    // row set, committed as a new version of each index table, before
    // batch 2 is judged. The oracle is the SAME SQL as the single-append
    // update query: double-append + compact ≡ single append is exactly
    // the invariant under test, pinned bit-for-bit by the oracle gate.
    "q_dedup_index_compact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val idx = freshTmpPath(s, "graft_mhidx_cmp", d)
      val evens = docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      val odds = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      DedupOps.writeMinhashIndex(evens, idx)
      val verdict1 = DedupOps.dedupMinhashIncremental(odds, idx)
      val admitted = odds.join(
        verdict1.filter(col("kept") === 1L).select("doc_id"), Seq("doc_id"),
        "left_semi")
      DedupOps.appendToMinhashIndex(admitted, idx)
      DedupOps.appendToMinhashIndex(admitted, idx) // replayed delivery
      DedupOps.compactMinhashIndex(idx)
      val batch2 = odds
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .union(odds.select((col("doc_id") + 2000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
        .union(evens.select((col("doc_id") + 4000000L).as("doc_id"),
          col("text")))
      DedupOps.dedupMinhashIncremental(batch2, idx)
    }),
    // Incremental cluster ASSIGNMENT against the persisted cluster map:
    // the known dup-corpus (whose built-in orig/exact/near triples form
    // real clusters) is mined once into index + cluster map; arrivals
    // (last-token-dropped near variants +3M, exact twins +4M, reversed
    // fresh +5M) each join the min existing cluster of their index
    // matches — assignment-only (bridges don't merge; the periodic full
    // rebuild does), O(arrivals) per batch.
    "q_dedup_cluster_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // dupCorpus itself occupies the +1M/+2M slices; arrivals start at
      // +3M, so the base table must stay below 1M ids.
      requireIdHeadroom(docs, "doc_id")
      val known = DedupOps.dupCorpus(docs).select("doc_id", "text")
      val idx = freshTmpPath(s, "graft_mhidx_clu", d)
      DedupOps.writeMinhashIndex(known, idx)
      DedupOps.writeMinhashClusterMap(known, idx)
      val arrivals = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          regexp_replace(col("text"), "\\s*\\S+$", "").as("text"))
        .union(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            reverse(col("text")).as("text")))
      DedupOps.assignClustersIncremental(arrivals, idx)
    }),
    // Canonical MAINTENANCE on top of that assignment: the snapshot
    // mine also persists the incumbent ledger (clustered docs elect
    // the most-token/min-id winner, singletons are their own), and
    // each arrival is judged dethrones / kept_existing / new_cluster
    // with the post-batch canonical — the daily upsert a keep-best
    // dedup policy runs. Same O(arrivals) probe; the ledger join is
    // broadcast-eligible.
    "q_dedup_canonical_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val known = DedupOps.dupCorpus(docs).select("doc_id", "text")
      val idx = freshTmpPath(s, "graft_mhidx_canon", d)
      DedupOps.writeMinhashIndex(known, idx)
      DedupOps.writeMinhashClusterMap(known, idx)
      DedupOps.writeCanonicalLedger(known, idx)
      val arrivals = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          regexp_replace(col("text"), "\\s*\\S+$", "").as("text"))
        .union(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            reverse(col("text")).as("text")))
      DedupOps.canonicalIncremental(arrivals, idx)
    }),

    // STREAMING ingestion with in-stream index maintenance: micro-batch
    // 0 (the odd half) is judged against the evens-built index and its
    // survivors appended inside foreachBatch; micro-batch 1 (exact +1M
    // and near +1.5M twins of those odds) is then caught by the
    // IN-STREAM update — the always-on form of q_dedup_index_update.
    // Slice membership is cut at the literal 1M boundary (replayed
    // verbatim by the oracle), delivery in-order via staged mtimes.
    "q_stream_dedup_index" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val idx = freshTmpPath(s, "graft_mhidx_stream", d)
      val staging = tmpPath("graft_mhidx_stage", d)
      val evens = docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      val odds = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      DedupOps.writeMinhashIndex(evens, idx)
      val arrivals = odds
        .union(odds.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text")))
        .union(odds.select((col("doc_id") + 1500000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
      graft.streaming.StreamOps.indexIngestReplay(
        arrivals, idx, staging, Seq(1000000L))
    }),
    // STREAMING canonical maintenance — the always-on form of
    // q_dedup_canonical_incr with IN-STREAM artifact updates: batch 1
    // (+1M longer near-dups of knowns → dethrones; +1.5M fresh odds →
    // new_cluster) updates index, cluster map, and ledger inside
    // foreachBatch; batch 2's exact twins (+2M of the dethroners,
    // +2.5M of the fresh odds) must come back kept_existing against
    // the UPDATED incumbents — the outcome that proves the in-stream
    // upsert. Oracle replays both phases.
    "q_stream_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val idx = freshTmpPath(s, "graft_mhidx_canonstream", d)
      val staging = tmpPath("graft_canonstream_stage", d)
      val evens = docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text")
      DedupOps.writeMinhashIndex(evens, idx)
      DedupOps.writeMinhashClusterMap(evens, idx)
      DedupOps.writeCanonicalLedger(evens, idx)
      val quads = docs.filter(col("doc_id") % 4 === 0)
      val odds1 = docs.filter(col("doc_id") % 4 === 1)
      val arrivals = quads
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
        .union(odds1.select((col("doc_id") + 1500000L).as("doc_id"),
          col("text")))
        .union(quads.select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
        .union(odds1.select((col("doc_id") + 2500000L).as("doc_id"),
          col("text")))
      graft.streaming.StreamOps.canonicalIngestReplay(
        arrivals, idx, staging, Seq(2000000L))
    }),
    // Content-defined chunking dedup over the shifted-quote corpus:
    // rolling-hash boundaries move with the content, so spans shared at
    // DIFFERENT offsets still cut into identical md5-keyed chunks — the
    // property fixed-size blocking lacks and blob-scale dedup needs.
    "q_dedup_cdc" -> ((s, d) =>
      DedupOps.cdcChunkStats(DedupOps.quoteCorpus(
        Tables.documents(s, d).select("doc_id", "text")))),
    // One-row CDC store-planner report: savings a single-copy-per-
    // distinct-chunk store realizes over the quote corpus.
    "q_dedup_cdc_savings" -> ((s, d) =>
      DedupOps.cdcSavings(DedupOps.quoteCorpus(
        Tables.documents(s, d).select("doc_id", "text")))),
    // MinHash PRECISION audit (the recall audit's twin): every banded
    // candidate re-judged by exact shingle-set Jaccard ppm — the LSH
    // verify stage; over-generating band shapes fall out of true_pos.
    "q_dedup_minhash_precision" -> ((s, d) =>
      DedupOps.minhashPrecisionAudit(
        DedupOps.dupCorpus(Tables.documents(s, d)))),
    "q_dedup_simhash" -> ((s, d) =>
      DedupOps.simhashPairs(DedupOps.dupCorpus(Tables.documents(s, d)))),
    "q_dedup_ngram" -> ((s, d) =>
      DedupOps.ngramJaccardPairs(DedupOps.dupCorpus(Tables.documents(s, d)))),
    // Per-doc novelty (marginal contribution) over the dup corpus:
    // distinct 8-grams first seen in this doc, ppm — full copies (+1M
    // slice) score 0, the id-order-first originals score high.
    "q_novelty" -> ((s, d) =>
      DedupOps.noveltyStats(DedupOps.dupCorpus(Tables.documents(s, d)))),
    // Near-dup CLUSTERS from near-dup PAIRS: connected components (min-
    // label propagation, driver-scalar convergence) over the MinHash LSH
    // pairs — each doc maps to its cluster's minimum id, the canonical
    // representative a curation pipeline keeps. Oracle: recursive CTE.
    "q_dedup_cluster" -> ((s, d) =>
      GraphOps.connectedComponents(
        DedupOps.minhashPairs(DedupOps.dupCorpus(Tables.documents(s, d)))
          .select(col("doc_a").as("a"), col("doc_b").as("b")))),
    // Which copy SURVIVES the dedup drop: per near-dup cluster, keep the
    // most-token member (ties → smallest id) and ledger the reclaimed
    // tokens — one cluster-keyed max(struct) argmax, no window.
    "q_dedup_canonical" -> ((s, d) =>
      DedupOps.dedupCanonical(DedupOps.dupCorpus(Tables.documents(s, d)))),
    // The typed Aggregator (§2.10 UDAF surface) on the query path: MinHash
    // signatures computed by graft.functions.MinHashAgg (constant k·8-byte
    // buffer, merge-order independent), flattened to columns for the
    // oracle. Same values as the expression path in minhashSigArr.
    "q_minhash_udaf" -> ((s, d) => {
      val h = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.KGramHash60(col("text"), 3)).as("sh"))
        .select(col("doc_id"), (col("sh") % DedupOps.P).as("h"))
      h.groupBy("doc_id")
        .agg(graft.functions.MinHashAgg.minhashSig(col("h")).as("ms"))
        .select(col("doc_id") +:
          (0 until DedupOps.K).map(i => element_at(col("ms"), i + 1).as(s"m$i")): _*)
    }),

    // LLM-pipeline tier: similarity search over array<float> embeddings.
    // Quantized int64 dots → bit-deterministic cosine (SimilarityOps doc).
    "q_simsearch" -> ((s, d) =>
      SimilarityOps.bruteTopK(Tables.embeddings(s, d))),
    "q_simsearch_lsh" -> ((s, d) =>
      SimilarityOps.lshTopK(Tables.embeddings(s, d))),
    "q_simsearch_ivf" -> ((s, d) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, d))),
    // The same IVF index over TRAINED centroids: 2 integer-lattice Lloyd
    // iterations (floor-snapped means keep scoring exact int64), oracle
    // replays the whole training bit-identically.
    "q_simsearch_ivf_kmeans" -> ((s, d) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, d), trainIters = 2)),
    // General k-means to the Lloyd FIXED POINT (convergence-or-budget;
    // the 2-round IVF trainer is the fixed-round special case):
    // integer-lattice floor-snap keeps centroids exact int64, so the
    // fixed point is exact equality and the oracle's KmeansRounds
    // unrolled rounds are no-ops past convergence (13/9/18 rounds at
    // sf0.001/0.01/0.1). Output: centroids unnested per dimension +
    // final-assignment member counts.
    "q_kmeans" -> ((s, d) => {
      val v = SimilarityOps.withQuant(Tables.embeddings(s, d))
        .filter(col("n2") > 0)
      SimilarityOps.kmeansFixpoint(v, KmeansRounds)
        .select(col("c_id"), col("n_members"), col("inertia"),
          posexplode(col("cv")).as(Seq("dim", "c")))
        .select(col("c_id"), col("dim").cast("long").as("dim"),
          col("c"), col("n_members"), col("inertia"))
    }),
    // Product-quantization ANN: 8×16 codebooks, 4-byte codes (64×
    // compression), asymmetric-distance scan over the compressed corpus
    // — exact integer ADC sums, bit-identical ranking in both engines.
    "q_simsearch_pq" -> ((s, d) =>
      SimilarityOps.pqTopK(Tables.embeddings(s, d))),
    // Search-quality audit: recall@10 of the LSH and IVF paths against
    // the exact brute-force baseline, per query, as exact integer hit
    // counts — the >=0.9 recall claim, pinned into the driver record.
    "q_simsearch_recall" -> ((s, d) =>
      SimilarityOps.recallAtK(Tables.embeddings(s, d))),
    // Matryoshka audit: recall@10 of the 16-dim PREFIX ranking vs the
    // full 64-dim brute baseline — what a 4x-cheaper first-stage
    // retrieval would keep.
    "q_simsearch_truncdim" -> ((s, d) =>
      SimilarityOps.truncDimRecall(Tables.embeddings(s, d))),
    "q_dedup_embed" -> ((s, d) =>
      SimilarityOps.embedNearDupPairs(
        SimilarityOps.embedDupCorpus(Tables.embeddings(s, d)))),
    // SemDeDup: k-means clusters (the SAME fixed-round integer-lattice
    // Lloyd prefix as the IVF trainer, so the oracle replays it) bound
    // the pair space; exact within-cluster cosine ≥ 0.9 marks semantic
    // duplicates; per-cluster dedup-pressure rollup. Planted +1M
    // near-copies give real positives.
    "q_dedup_semantic" -> ((s, d) =>
      SimilarityOps.semanticDedup(
        SimilarityOps.embedDupCorpus(Tables.embeddings(s, d)))),
    // Hard-negative mining for contrastive training: per query vector,
    // the top-k most-similar vectors with a DIFFERENT label — the
    // bruteTopK shape with the label-inequality predicate riding the
    // broadcast join; production composes the same filter onto the
    // IVF/LSH candidate generators.
    "q_hard_negatives" -> ((s, d) =>
      SimilarityOps.hardNegatives(Tables.embeddings(s, d))),
    // Int8 scalar-quantization audit: symmetric max-abs per-vector
    // scaling, fixed IEEE expression tree per element (no float
    // reductions), per-vector code sums + saturation + worst-dim
    // reconstruction error in ppm of the vector's own scale.
    "q_embed_quantize" -> ((s, d) =>
      SimilarityOps.int8QuantAudit(Tables.embeddings(s, d))),
    // Persisted embedding-ANN index tier — the r8 text-index discipline
    // for vectors: bucket rows + quantized vectors written once per
    // corpus snapshot (writeEmbedIndex); arrivals build signatures for
    // THEMSELVES ONLY and probe with keyed joins. Arrivals plant
    // cross-slice twins: exact copies (+1M, vec_id%3=0), near copies
    // (+2M, %3=1, first component zeroed — the embedDupCorpus
    // perturbation), fresh reversed vectors (+3M, %3=2). Verdict per
    // arrival: near-neighbor count vs the index, kept flag. Oracle
    // replays the index build via the shared quantization/hyperplanes.
    "q_dedup_embed_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_embidx", d)
      SimilarityOps.writeEmbedIndex(emb, idx)
      val arrivals = emb.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .union(emb.filter(col("vec_id") % 3 === 1)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            concat(array(lit(0.0f)),
              slice(col("embedding"), 2, SimilarityOps.Dims - 1))
              .as("embedding")))
        .union(emb.filter(col("vec_id") % 3 === 2)
          .select((col("vec_id") + 3000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding")))
      SimilarityOps.embedNearDupIncremental(arrivals, idx)
    }),
    // Embed-index MAINTENANCE loop — two daily cycles end-to-end
    // (the q_dedup_index_update shape for vectors): build the index
    // from the even-id half, judge batch 1 (the odd half), APPEND
    // batch-1 survivors' vectors + bucket rows, then judge batch 2 —
    // exact twins of the odds (+1M) are caught partly through the
    // APPENDED rows (admitted odds) and partly through the base index
    // (odds that were near an even), exact twins of the evens (+4M)
    // by the base index, and reversed odds (+2M) stay fresh. Output:
    // the batch-2 verdict table.
    "q_embed_index_update" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_embidx_upd", d)
      val evens = emb.filter(col("vec_id") % 2 === 0)
        .select("vec_id", "embedding")
      val odds = emb.filter(col("vec_id") % 2 === 1)
        .select("vec_id", "embedding")
      SimilarityOps.writeEmbedIndex(evens, idx)
      val verdict1 = SimilarityOps.embedNearDupIncremental(odds, idx)
      val admitted = odds.join(
        verdict1.filter(col("kept") === 1L).select("vec_id"),
        Seq("vec_id"), "left_semi")
      SimilarityOps.appendToEmbedIndex(admitted, idx)
      val batch2 = odds
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .union(odds.select((col("vec_id") + 2000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
        .union(evens.select((col("vec_id") + 4000000L).as("vec_id"),
          col("embedding")))
      SimilarityOps.embedNearDupIncremental(batch2, idx)
    }),
    // Embed-index COMPACTION: the q_embed_index_update flow with the
    // survivor append REPLAYED (at-least-once re-delivery) and the
    // index then compacted — row dedup + GLOBAL occupancy recompute
    // (restoring the writeEmbedIndex snapshot invariant appends erode),
    // committed as a new version of each index table — before batch 2
    // is judged. Oracle = the single-append update SQL: double-append +
    // compact ≡ one clean append.
    "q_embed_index_compact" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_embidx_cmp", d)
      val evens = emb.filter(col("vec_id") % 2 === 0)
        .select("vec_id", "embedding")
      val odds = emb.filter(col("vec_id") % 2 === 1)
        .select("vec_id", "embedding")
      SimilarityOps.writeEmbedIndex(evens, idx)
      val verdict1 = SimilarityOps.embedNearDupIncremental(odds, idx)
      val admitted = odds.join(
        verdict1.filter(col("kept") === 1L).select("vec_id"),
        Seq("vec_id"), "left_semi")
      SimilarityOps.appendToEmbedIndex(admitted, idx)
      SimilarityOps.appendToEmbedIndex(admitted, idx) // replayed delivery
      SimilarityOps.compactEmbedIndex(idx)
      val batch2 = odds
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .union(odds.select((col("vec_id") + 2000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
        .union(evens.select((col("vec_id") + 4000000L).as("vec_id"),
          col("embedding")))
      SimilarityOps.embedNearDupIncremental(batch2, idx)
    }),
    // Incremental cluster ASSIGNMENT for vectors (the
    // q_dedup_cluster_incr shape): the known dup-bearing corpus
    // (embedDupCorpus — orig + zeroed-first twins form real 2-clusters)
    // is mined once into index + CC cluster map; arrivals (zeroed-first
    // variants +2M — exact twins of the +1M members, exact copies +3M,
    // reversed fresh +4M) each take the min existing cluster of their
    // index matches — assignment-only, O(arrivals) per batch. Oracle
    // replays pairs → recursive-CTE closure → assignment.
    "q_embed_cluster_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val known = SimilarityOps.embedDupCorpus(emb)
      val idx = freshTmpPath(s, "graft_embidx_clu", d)
      SimilarityOps.writeEmbedIndex(known, idx)
      SimilarityOps.writeEmbedClusterMap(known, idx)
      val arrivals = emb.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(lit(0.0f)),
            slice(col("embedding"), 2, SimilarityOps.Dims - 1))
            .as("embedding"))
        .union(emb.filter(col("vec_id") % 3 === 1)
          .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding")))
        .union(emb.filter(col("vec_id") % 3 === 2)
          .select((col("vec_id") + 4000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding")))
      SimilarityOps.assignEmbedClustersIncremental(arrivals, idx)
    }),
    // STREAMING vector ingestion with in-stream index maintenance —
    // the q_stream_dedup_index shape for embeddings: micro-batch 0
    // (the odd half) is judged against the evens-built index and its
    // survivors appended inside foreachBatch; micro-batch 1 (exact +1M
    // and near +1.5M twins of those odds) is then caught by the
    // IN-STREAM update. Slice membership cut at the 1M boundary,
    // delivery in-order via staged mtimes; output = both batches'
    // verdicts.
    "q_stream_embed_index" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_embidx_stream", d)
      val staging = tmpPath("graft_embidx_stage", d)
      val evens = emb.filter(col("vec_id") % 2 === 0)
        .select("vec_id", "embedding")
      val odds = emb.filter(col("vec_id") % 2 === 1)
        .select("vec_id", "embedding")
      SimilarityOps.writeEmbedIndex(evens, idx)
      val arrivals = odds
        .union(odds.select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding")))
        .union(odds.select((col("vec_id") + 1500000L).as("vec_id"),
          concat(array(lit(0.0f)),
            slice(col("embedding"), 2, SimilarityOps.Dims - 1))
            .as("embedding")))
      graft.streaming.StreamOps.embedIndexIngestReplay(
        arrivals, idx, staging, Seq(1000000L))
    }),
    // Incremental top-k SERVING against a persisted QUERY-domain index:
    // arriving queries (perturbed copies of the first 5 corpus vectors,
    // +1M ids — genuinely new vectors whose neighborhoods include their
    // base twins) probe the pre-built index; lshTopK's math with the
    // corpus side read from parquet instead of rebuilt in-plan.
    "q_simsearch_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_embidx_topk", d)
      SimilarityOps.writeEmbedIndex(emb, idx,
        SimilarityOps.LshTables, SimilarityOps.LshPlanes)
      val queries = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(lit(0.0f)),
            slice(col("embedding"), 2, SimilarityOps.Dims - 1))
            .as("embedding"))
      SimilarityOps.probeTopKIncremental(queries, idx)
    }),
    // Incremental IVF serving vs the persisted trained index: the
    // 2-iteration lattice-Lloyd quantizer, inverted lists, and vectors
    // written once (writeIvfIndex); arriving queries rank the stored
    // centroids, probe 4 lists by keyed join, re-rank exact cosine.
    // Oracle replays training bit-identically (kmeansTrainCtes) and
    // probes with the external query slice.
    "q_simsearch_ivf_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_ivfidx", d)
      SimilarityOps.writeIvfIndex(emb, idx)
      val queries = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(lit(0.0f)),
            slice(col("embedding"), 2, SimilarityOps.Dims - 1))
            .as("embedding"))
      SimilarityOps.ivfProbeIncremental(queries, idx)
    }),
    // Incremental PQ serving vs the persisted compressed index:
    // codebooks + 4-byte codes written once (writePqIndex); arriving
    // queries build their own distance tables against the stored
    // codebooks and ADC-scan the stored codes — the full-precision
    // corpus is never read at query time.
    "q_simsearch_pq_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      requireIdHeadroom(emb, "vec_id")
      val idx = freshTmpPath(s, "graft_pqidx", d)
      SimilarityOps.writePqIndex(emb, idx)
      val queries = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(lit(0.0f)),
            slice(col("embedding"), 2, SimilarityOps.Dims - 1))
            .as("embedding"))
      SimilarityOps.pqProbeIncremental(queries, idx)
    }),
    // Planted-pair recall of the near-dup path (ground truth by direct
    // id join, no LSH) — the >=0.9 claim as exact driver-checked counts.
    "q_dedup_embed_recall" -> ((s, d) =>
      SimilarityOps.plantedPairRecall(Tables.embeddings(s, d))),

    // Calendar spine (sequence + explode): the generated date dimension
    // gap-fill and reporting joins hang off. Weekend test is portable
    // integer arithmetic (days-since-epoch mod 7; 1970-01-01 was a
    // Thursday, so residues 2/3 are Sat/Sun) — no engine dayofweek
    // convention involved.
    "q_date_spine" -> ((s, d) =>
      s.range(0, 1).select(explode(sequence(
          lit(java.sql.Date.valueOf("1995-01-01")),
          lit(java.sql.Date.valueOf("1996-12-31")),
          expr("interval 1 day"))).as("day"))
        .select(date_format(col("day"), "yyyy-MM").as("month"), col("day"),
          pmod(datediff(col("day"),
            lit(java.sql.Date.valueOf("1970-01-01"))), lit(7)).as("dow7"))
        .groupBy("month").agg(
          count(lit(1)).as("n_days"),
          sum(when(col("dow7").isin(2, 3), 1L).otherwise(0L)).as("n_weekend"),
          min(date_format(col("day"), "yyyy-MM-dd")).as("first_day"),
          max(date_format(col("day"), "yyyy-MM-dd")).as("last_day"))),
    // Unpivot (melt): wide metric columns → long (metric, value) rows,
    // the inverse of pivot and the shape feature stores ingest. Spark's
    // native unpivot operator; value columns unify to double.
    "q_unpivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double"),
          col("l_extendedprice").cast("double"),
          col("l_discount").cast("double"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")),
    // regexp_extract_all: every long-word occurrence per document →
    // corpus frequency. The multi-match sibling of q_grep_group's
    // single-capture extract.
    "q_regex_all" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(regexp_extract_all(col("text"),
          lit("[a-z]{5,}"), lit(0))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),
    // Positional explode (UDTF/LATERAL surface): one row per token WITH
    // its 0-based position — order-preserving generation, the primitive
    // sequence labeling and n-gram windows build on. Empty tokens are
    // filtered BEFORE positioning so positions stay gap-free.
    "q_explode_pos" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), TextOps.WsRegex),
            t => t =!= "")))
        .select(col("doc_id"), col("pos"), col("col").as("token"))),

    // LLM-pipeline tier: text analysis over documents.
    "q_text_stats"  -> ((s, d) => TextStatsOps.textStats(Tables.documents(s, d))),
    // HTML/boilerplate extraction — the web-crawl front half of
    // curation, ahead of the quality tier: a deterministic synthetic
    // HTML wrapper (title/style/script/nav/footer boilerplate around
    // the document text, entity-bearing) is stripped back to main text
    // — script/style blocks dropped WITH content, tags to spaces,
    // entities decoded (&amp; last), whitespace collapsed. The script
    // body plants markup-looking text ("<p>not text</p>") that would
    // leak into the output if block-stripping broke. Pure codegen
    // expression work, zero shuffle; oracle replays wrap + extraction.
    "q_html_extract" -> ((s, d) =>
      CurationOps.htmlExtract(CurationOps.htmlWrap(Tables.documents(s, d)))),
    // Gopher doc-quality rules over the deterministic line-structured
    // page fixture — six exact integer metrics + composite keep gate;
    // scan-side expression work, zero shuffle.
    "q_gopher_rules" -> ((s, d) =>
      CurationOps.gopherRules(CurationOps.lineWrap(Tables.documents(s, d)))),
    // C4 line-level filter over the same fixture: per-line terminal-
    // punctuation/length/boilerplate gates, doc-level lorem-ipsum and
    // min-retention gates; exact retention counts. Zero shuffle.
    "q_c4_filter" -> ((s, d) =>
      CurationOps.c4LineFilter(CurationOps.lineWrap(Tables.documents(s, d)))),
    // URL canonicalization — the crawl-dedup front half: lowercase
    // scheme/host, scheme-default ports dropped, trailing slashes
    // stripped, tracking params (utm_*, fbclid) removed with real
    // params kept in order, fragment dropped. Synthetic URL fixture
    // exercises every rule; 7 hosts × cyclic groups produce real
    // canonical collisions. Pure codegen, zero shuffle.
    "q_url_normalize" -> ((s, d) =>
      CurationOps.urlNormalize(CurationOps.urlWrap(Tables.documents(s, d)))),
    // Per-domain crawl rollup over the canonical URLs: page count,
    // distinct canonical URLs (the recrawl-collapse ratio), distinct
    // paths; one domain-keyed exchange.
    "q_domain_stats" -> ((s, d) =>
      CurationOps.domainStats(
        CurationOps.urlNormalize(CurationOps.urlWrap(Tables.documents(s, d))))),
    // URL prefix-rule filter — the robots/blocklist gate after
    // canonicalization: longest matching per-domain path prefix decides
    // keep/drop (deny wins ties; no rule → allow). The rule table
    // broadcasts; the URL side shuffles once, doc-keyed, for the
    // election window.
    "q_url_filter" -> ((s, d) =>
      CurationOps.urlFilter(
        CurationOps.urlNormalize(CurationOps.urlWrap(Tables.documents(s, d))))),
    // Span-level exact dedup (the k-gram formulation of substring
    // dedup): every word 8-gram occurring in 2+ distinct docs is a
    // duplicated span position; per-doc dup share in ppm + longest
    // duplicated run. Quote corpus plants partial overlaps (every third
    // doc gets a quoting twin embedding words 3..14), so dup_ppm and
    // max_run take real intermediate values instead of 0 or 10^6.
    "q_dedup_substring" -> ((s, d) =>
      DedupOps.substringDupStats(
        DedupOps.quoteCorpus(Tables.documents(s, d)))),
    // Containment (asymmetric Jaccard) quote detection over the same
    // planted-quote corpus: the +1M quoting twins share ~half of THEIR
    // rare grams with the original while symmetric Jaccard stays low.
    "q_dedup_containment" -> ((s, d) =>
      DedupOps.containmentPairs(
        DedupOps.quoteCorpus(Tables.documents(s, d)))),
    // Train-then-apply linear quality classifier (fastText shape):
    // smoothed ppm class-probability-difference token weights, int64
    // doc sums, training-set confusion rollup. Log-free by design so
    // the scorer is order-independent and oracle-exact.
    "q_classifier_apply" -> ((s, d) =>
      TextStatsOps.linearClassifierApply(Tables.documents(s, d))),
    // Persisted-model inference: train once, write the (token, weight)
    // parquet, score a LATER corpus from the artifact — the classifier
    // twin of the BPE-vocab/MinHash-index persisted-artifact
    // discipline. The scored corpus appends an out-of-vocabulary token
    // per doc ("qzjxvw"), exercising the OOV-weight-0 + n_oov drift
    // counter every production scorer ships. Oracle replays train +
    // apply (persisted weights ≡ trained weights).
    "q_classifier_persist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = tmpPath("graft_clfw", d)
      TextStatsOps.trainWriteClassifier(docs, path)
      TextStatsOps.scoreWithClassifier(
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"),
            concat(col("text"), lit(" qzjxvw")).as("text")), path)
    }),
    // Streaming model inference against the persisted classifier
    // artifact: micro-batches of arriving documents are scored inside
    // foreachBatch (token join vs the weight parquet, OOV at weight 0),
    // verdicts accumulating across batches. Batch 2 (+1M slice) drifts
    // — two extra OOV tokens per doc — so the n_oov signal moves
    // across batches. Stateless inference ≡ batch scoring, which is
    // exactly what the oracle pins.
    "q_stream_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val wpath = tmpPath("graft_clfw_s", d)
      TextStatsOps.trainWriteClassifier(docs, wpath)
      val base = docs.filter(col("text").isNotNull)
      val arrivals = base.select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" qzjxvw")).as("text"))
        .union(base.select((col("doc_id") + 1000000L).as("doc_id"),
          col("lang"),
          concat(col("text"), lit(" qzjxvw zzdrift qqdrift")).as("text")))
      graft.streaming.StreamOps.classifierScoreReplay(
        arrivals, wpath, tmpPath("graft_clf_stage", d), Seq(1000000L))
    }),
    // Calibration / reliability table for the linear classifier:
    // rank-deciles of the int64 score (row_number under the total
    // (score, doc_id) order — deterministic in both engines, unlike
    // ntile boundary semantics), per-decile observed-positive vs
    // predicted-positive counts and exact rates. In-sample by design
    // (the demo set is the training set); a production loop feeds a
    // held-out slice through the same table.
    //
    // Scale shape (r16): the global rank is TWO-LEVEL (the packLayout
    // prefix-sum discipline) — rows coarsen into ORDER-PRESERVING
    // score buckets (monotone integer div), per-bucket counts get a
    // cumulative offset over the tiny bucket aggregate (the only
    // unpartitioned window, domain-compressed input), and each bucket
    // ranks in parallel under a window PARTITIONED by bucket. The
    // last corpus-sized single-partition window in the registry is
    // gone; rank values are bit-identical to the global window by
    // construction (bucket order ∘ in-bucket order = total order).
    "q_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = tmpPath("graft_clfcal", d)
      TextStatsOps.trainWriteClassifier(docs, path)
      val sc = TextStatsOps.scoreWithClassifier(
          docs.filter(col("text").isNotNull), path)
        .select("doc_id", "lang", "score")
      val nAll = sc.agg(count(lit(1)).as("n_all"))
      val sb = sc.agg(min("score"), max("score")).head()
      val (mnS, mxS) = (sb.getLong(0), sb.getLong(1))
      val span = math.max(1L, (mxS - mnS) / 256L + 1L)
      val bucketed = sc.withColumn("bkt",
        expr(s"(score - ${mnS}L) div ${span}L"))
      val bw = Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val boffs = bucketed.groupBy("bkt")
        .agg(count(lit(1)).as("bn"))
        .withColumn("boff", coalesce(sum("bn").over(bw), lit(0L)))
        .select("bkt", "boff")
      val iw = Window.partitionBy("bkt")
        .orderBy(col("score"), col("doc_id"))
      bucketed.join(broadcast(boffs), "bkt")
        .withColumn("rn", col("boff") + row_number().over(iw))
        .crossJoin(broadcast(nAll))
        .select(col("lang"), col("score"),
          expr("((rn - 1) * 10) div n_all").as("decile"))
        .groupBy("decile").agg(
          count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_predpos"),
          min("score").as("min_score"), max("score").as("max_score"))
        .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n"))
    }),
    // Incremental span-level dedup against a persisted gram index: the
    // snapshot's per-gram doc frequencies are written once; arrivals
    // (the quote twins) compute their own gram positions only and
    // probe by one gram-keyed join — O(arrival grams), the substring
    // twin of q_dedup_minhash_incr. Cross-boundary-only contract
    // stated in the scaladoc.
    "q_dedup_substring_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val path = freshTmpPath(s, "graft_gramidx", d)
      DedupOps.writeGramIndex(docs, path)
      DedupOps.substringDupIncremental(
        DedupOps.quoteCorpus(docs).filter(col("doc_id") >= 1000000L), path)
    }),
    // Corpus-level PII prevalence report (the audit before scrub
    // policy): per (lang, class) match/doc counts over a closed-form
    // dirtied corpus — email, phone, IPv4, card classes counted
    // independently on raw text.
    "q_pii_report" -> ((s, d) =>
      TextStatsOps.piiReport(TextStatsOps.piiCorpus(Tables.documents(s, d)))),
    // Hyperlink graph extraction — the crawl side-product: anchor
    // hrefs pulled from page HTML (stylesheet <link href> tripwire
    // excluded), rolled up to the host-to-host edge list that seeds
    // PageRank/community/frontier scoring. Per-row regex + one
    // (src,dst)-keyed rollup.
    "q_link_graph" -> ((s, d) =>
      CurationOps.linkGraph(CurationOps.linkWrap(Tables.documents(s, d)))),
    // Crawl ranking — the composition the link graph exists FOR: the
    // extracted host-to-host edges (w = link count) feed weighted
    // PageRank directly; the domain graph is tiny here but the plan is
    // the production shape (extraction fused ahead of the iterative
    // rank loop, string node keys end-to-end).
    "q_crawl_rank" -> ((s, d) =>
      GraphOps.pageRank(
        CurationOps.linkGraph(CurationOps.linkWrap(Tables.documents(s, d)))
          .select(col("src_domain").as("src"),
            col("dst_domain").as("dst"), col("n_links").as("w")),
        PrIters)),
    // Temperature-flattened domain mixing (α = 0.5): sampling weight
    // ∝ ⌊√n⌋ (exact integer sqrt), natural vs flattened share ppm and
    // a derived-budget doc allocation per lang — the low-resource
    // rebalancing every multilingual mix applies.
    "q_mix_temperature" -> ((s, d) =>
      CurationOps.temperatureMix(Tables.documents(s, d))),
    // Largest-remainder apportionment of the same flattened weights:
    // allocations that SUM EXACTLY to the budget (floor shares + one
    // extra doc to the top integer remainders) — the Hamilton-method
    // allocation a sampler actually consumes.
    "q_mix_apportion" -> ((s, d) =>
      CurationOps.mixApportion(Tables.documents(s, d))),
    // Planted-pair recall audit of the text MinHash/LSH path: truth
    // from the dupCorpus construction (exact copies at +1M, first-
    // token-dropped near copies at +2M), found from minhashPairs;
    // per-class recall ppm as driver-checked integers — the search-
    // quality number the banding shape rests on.
    "q_dedup_minhash_recall" -> ((s, d) =>
      DedupOps.minhashPlantedRecall(Tables.documents(s, d))),
    // Length-bucket padding audit: docs bucket to the next power of two
    // of their token count (pure integer bit math); per bucket, the
    // padding waste a pad-to-bucket-max loader would pay — the report
    // that chooses batching boundaries.
    "q_length_buckets" -> ((s, d) =>
      CurationOps.lengthBuckets(Tables.documents(s, d))),
    // Token-budget greedy selection — the final pretraining cut: rank
    // by lexical-diversity ppm, keep best docs until a quarter of the
    // corpus tokens is spent. Global prefix sum via the packLayout
    // bucket trick (no corpus-sized single-partition window).
    "q_budget_select" -> ((s, d) =>
      CurationOps.budgetSelect(Tables.documents(s, d))),
    "q_lang_id"     -> ((s, d) => TextStatsOps.langId(Tables.documents(s, d))),
    "q_token_count" -> ((s, d) => TextStatsOps.tokenCounts(Tables.documents(s, d))),
    "q_fingerprint" -> ((s, d) => TextStatsOps.fingerprint(Tables.documents(s, d))),
    // PII-style scrubbing over a deterministically dirtied corpus.
    "q_scrub" -> ((s, d) =>
      TextStatsOps.scrub(TextStatsOps.dirtyCorpus(Tables.documents(s, d)))),
    // Unicode canonicalization (native NFC + strip-accents codegen
    // expressions): a decomposed tail (combining acute + diaeresis) is
    // appended to every doc, then both transforms run map-side; hash60
    // sums pin the exact normalized bytes against DuckDB's
    // nfc_normalize/strip_accents (both utf8proc-backed).
    "q_text_normalize" -> ((s, d) => {
      import graft.functions.{NfcNormalizeExpr, StripAccentsExpr}
      // "cafe" + combining acute, "nai" + combining diaeresis + "ve" -
      // decomposed on purpose (NFC shortens it); escapes keep the
      // source file ASCII.
      val dec = concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))
      Tables.documents(s, d)
        .select(col("lang"), dec.as("dec"))
        .select(col("lang"), col("dec"),
          NfcNormalizeExpr(col("dec")).as("nfc"),
          StripAccentsExpr(col("dec")).as("stripped"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("dec"))).as("sum_len_dec"),
          sum(length(col("nfc"))).as("sum_len_nfc"),
          sum(length(col("stripped"))).as("sum_len_stripped"),
          sum(pmod(TextOps.hash60(col("nfc")), lit(1000000L))).as("sum_h_nfc"),
          sum(pmod(TextOps.hash60(col("stripped")), lit(1000000L))).as("sum_h_stripped"))
        .orderBy("lang")
    }),
    // Characteristic terms per doc (tf·idf, integer-scaled idf).
    "q_tfidf" -> ((s, d) =>
      TextStatsOps.tfidfTopTerms(Tables.documents(s, d))),
    // Repetition signals (Gopher/RefinedWeb duplicate-bigram filter).
    "q_repetition" -> ((s, d) =>
      TextStatsOps.repetitionStats(Tables.documents(s, d))),
    // Self-trained bigram-LM fluency score (CCNet-style quality signal),
    // ppm integer probabilities — engine-exact, no libm logs.
    "q_lm_score" -> ((s, d) =>
      TextStatsOps.lmScore(Tables.documents(s, d))),
    // Persisted-LM lifecycle: train the bigram model on the 90% slice,
    // write the (g, p_ppm) artifact, score the held-out 10% from the
    // artifact alone — unseen bigrams contribute 0 and feed the n_oov
    // drift counter. Oracle replays train+persist+apply; a spec pins
    // scoring-the-training-slice ≡ in-plan lmScore with n_oov = 0.
    "q_lm_persist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = tmpPath("graft_lm", d)
      TextStatsOps.trainWriteLm(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), path)
      TextStatsOps.scoreWithLm(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), path)
    }),
    // Code-vs-prose routing: symbol-share, indented-line-share, and
    // fence counts in exact ppm ints — the pre-curation router for
    // mixed web corpora. Fixture docs are prose, so the synthetic
    // code-marker append on the doc_id%7 slice plants true positives
    // the oracle re-derives.
    "q_code_detect" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"),
            lit("\n    if (x) { y[0] = z; }\n```\nreturn a;\n```")))
          .otherwise(col("text")).as("text"))
      TextStatsOps.codeDetect(planted)
    }),
    // Benchmark decontamination: flag dup-corpus docs sharing an 8-gram
    // with the held-out benchmark slice (doc_id % 50 == 0). Benchmark
    // gram set broadcasts; the corpus never shuffles.
    "q_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationOps.decontaminate(
        DedupOps.dupCorpus(docs), docs.filter(col("doc_id") % 50 === 0))
    }),
    // Concatenate-and-chunk packing layout: deterministic context-window
    // assignment from a global token-prefix sum (no text moves).
    "q_pack" -> ((s, d) =>
      CurationOps.packLayout(Tables.documents(s, d))),
    // Token-balanced shard export: serpentine LPT deal over the global
    // token-desc rank (bucket-trick rank, no single-partition sort);
    // per-shard doc/token load and balance ppm — the anti-straggler
    // layout decision of the final write.
    "q_shard_balance" -> ((s, d) =>
      CurationOps.shardBalance(Tables.documents(s, d))),
    // Span-corruption layout (T5-style denoising prep): hash-seeded
    // 3-token mask spans, union-merged; per-doc span/masked counts and
    // realized corruption ppm, every decision oracle-re-derivable.
    "q_span_mask" -> ((s, d) =>
      CurationOps.spanMask(Tables.documents(s, d))),
    // Overlapping token-window chunking (RAG / retrieval prep): windows
    // of 64 tokens advancing by 48; md5 per chunk pins the exact text.
    "q_chunk_overlap" -> ((s, d) =>
      CurationOps.chunkOverlap(Tables.documents(s, d))),
    // Positional phrase search: offset-trick candidate join against a
    // broadcast phrase-term table, slot-count filter, per-phrase
    // doc/occurrence rollup — exact contiguous-run semantics a
    // bag-of-words index cannot answer.
    "q_phrase_search" -> ((s, d) =>
      CurationOps.phraseSearch(Tables.documents(s, d), PhraseQueries)),
    // Inverted-index build: capped posting lists in doc order plus true
    // document frequency per term — the retrieval-index prep stage.
    "q_inverted_index" -> ((s, d) =>
      CurationOps.invertedIndex(Tables.documents(s, d))),
    // BM25-family ranked retrieval over those postings: broadcast query
    // terms prune the corpus pre-shuffle; rational idf (no libm),
    // DECIMAL-summed doc scores, top-10 per query.
    "q_rank_bm25" -> ((s, d) =>
      CurationOps.bm25TopK(Tables.documents(s, d), Bm25Queries)),
    // Retrieval-quality evaluation: MRR / P@10 / recall / AP of the
    // BM25 ranker against conjunctive (ALL-terms) boolean ground
    // truth — every metric an exact int64 ppm (floor division), the
    // eval twin of q_simsearch_recall for ranked text retrieval.
    "q_rank_eval" -> ((s, d) =>
      CurationOps.rankEval(Tables.documents(s, d), Bm25Queries)),
    // Hybrid retrieval: reciprocal-rank fusion of the BM25 and
    // term-count rankers' top-20 lists, integer micro-unit
    // contributions (exact — no float sum-order hazard), top-10 fused.
    "q_rrf_fusion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CurationOps.rrfFuse(
        CurationOps.bm25TopK(docs, Bm25Queries, 20),
        CurationOps.termCountTopK(docs, Bm25Queries, 20), 10)
    }),
    // Streaming retrieval serving against the persisted BM25 index:
    // query micro-batches served inside foreachBatch (term-pruned
    // artifact probes); stateless, so streaming ≡ one-pass batch
    // scoring — which is what the oracle pins.
    "q_stream_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = freshTmpPath(s, "graft_bm25_sidx", d)
      CurationOps.writeBm25Index(docs, path)
      import s.implicits._
      graft.streaming.StreamOps.bm25ServeReplay(
        Bm25StreamQueries.toDF("q_id", "qtext"), path,
        tmpPath("graft_bm25_stage", d), Seq(11L))
    }),
    // Persisted BM25 index round trip: write the four index tables for
    // the corpus snapshot, then serve top-k from the ARTIFACT — the
    // corpus is never re-read; postings/termdf scans prune to the
    // query's term set (PushedFilters In).
    "q_bm25_persist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = freshTmpPath(s, "graft_bm25idx", d)
      CurationOps.writeBm25Index(docs, path)
      CurationOps.bm25TopKIndexed(s, path, Bm25QueriesB)
    }),
    // Index maintenance: append an arrival batch (+1M ids, first word
    // stripped) as O(batch) partials, then serve — must equal BM25 over
    // the union corpus (the oracle replays it; df/stats partials merge
    // at serve time).
    "q_bm25_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val path = freshTmpPath(s, "graft_bm25inc", d)
      CurationOps.writeBm25Index(docs, path)
      CurationOps.appendToBm25Index(
        docs.select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text")), path)
      CurationOps.bm25TopKIndexed(s, path, Bm25QueriesB)
    }),
    // BM25-index COMPACTION: base + append partials re-AGGREGATED into
    // one new version of each index table (termdf folds per term, stats
    // to one totals row, postings re-clustered by term — the
    // prune-tightness appends erode); serve after compaction must equal
    // BM25 over the union corpus, which the q_bm25_incr oracle replays.
    // Query set A keeps the result from being a byte-twin of
    // q_bm25_incr.
    "q_bm25_compact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      requireIdHeadroom(docs, "doc_id")
      val path = freshTmpPath(s, "graft_bm25cmp", d)
      CurationOps.writeBm25Index(docs, path)
      CurationOps.appendToBm25Index(
        docs.select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text")), path)
      CurationOps.compactBm25Index(path)
      CurationOps.bm25TopKIndexed(s, path, Bm25Queries)
    }),
    // HYBRID dense+sparse retrieval — the production composition:
    // BM25 top-20 from the persisted four-table index fused by
    // exact-integer RRF with IVF-ANN top-20 from the persisted
    // (seed-centroid) vector index, on the shared doc_id ≡ vec_id
    // domain; per q_id the text query and the (perturbed, id-kept)
    // query embedding express the same information need. BOTH
    // retrievals are artifact probes — the serve plan never reads the
    // documents corpus (plan-asserted).
    "q_hybrid_retrieval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val bmPath = freshTmpPath(s, "graft_hyb_bm25", d)
      val ivfPath = freshTmpPath(s, "graft_hyb_ivf", d)
      CurationOps.writeBm25Index(docs, bmPath)
      SimilarityOps.writeIvfIndex(emb, ivfPath, trainIters = 0)
      CurationOps.hybridTopK(s, bmPath, ivfPath, Bm25Queries,
        hybridQueryVecs(emb))
    }),
    // Side-by-side retrieval judging: sparse@10, dense@10 (the fused
    // lists' rnk ≤ 10 prefixes), and hybrid@10 all scored by ONE
    // conjunctive-truth metric pass (rankEvalMulti) — the
    // hybrid-vs-both readout as exact ppm integers per (ranker, q_id).
    "q_hybrid_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val bmPath = freshTmpPath(s, "graft_hybev_bm25", d)
      val ivfPath = freshTmpPath(s, "graft_hybev_ivf", d)
      CurationOps.writeBm25Index(docs, bmPath)
      SimilarityOps.writeIvfIndex(emb, ivfPath, trainIters = 0)
      // Each ranked list is ≤ depth·|queries| rows but its probe plan
      // is consumed TWICE (its own tagged slice + the fused list), so
      // both lists are eagerly pinned — serving the eval rows and the
      // fusion from ONE ranked-list pass each.
      val sparse = CurationOps.bm25TopKIndexed(s, bmPath, Bm25Queries, 20)
        .select("q_id", "doc_id", "rnk").localCheckpoint(true)
      val dense = SimilarityOps
        .ivfProbeIncremental(hybridQueryVecs(emb), ivfPath, 20)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
        .localCheckpoint(true)
      val hybrid = CurationOps.rrfFuse(sparse, dense, 10)
        .select("q_id", "doc_id", "rnk")
      val tagged = sparse.filter(col("rnk") <= 10)
        .withColumn("ranker", lit("sparse"))
        .unionByName(dense.filter(col("rnk") <= 10)
          .withColumn("ranker", lit("dense")))
        .unionByName(hybrid.withColumn("ranker", lit("hybrid")))
      // Truth from the just-written postings artifact (one row per
      // (doc_id, w) by construction) — not a second corpus tokenize.
      CurationOps.rankEvalMulti(docs, Bm25Queries, tagged, 10,
        docTerms = Some(SinkOps.readVersion(s, s"$bmPath/postings")
          .select("doc_id", "w")))
    }),
    // Target-mix resampling by language: hash-thresholded downsampling
    // toward a 40/25/15/10/10 training mix, per-group audit output.
    "q_mix_resample" -> ((s, d) =>
      CurationOps.mixResample(Tables.documents(s, d), "lang",
        when(col("lang") === "en", 40).when(col("lang") === "zh", 25)
          .when(col("lang") === "de", 15).otherwise(10))),
    // Vocabulary coverage: top-10 corpus vocab, per-doc OOV fraction
    // (tokenizer-fit estimation before committing a vocab).
    "q_vocab_coverage" -> ((s, d) =>
      CurationOps.vocabCoverage(Tables.documents(s, d))),
    // Weighted sampling: keep probability ∝ document length (capped at 1),
    // deterministic via the id hash — importance sampling with replay.
    "q_sample_weighted" -> ((s, d) =>
      CurationOps.weightedSample(Tables.documents(s, d),
        col("n_chars") * lit(2500L)).select("doc_id", "n_chars")),
    // Corpus profile report: per-(source, lang) dataset card with exact
    // int64 token/char totals and ranges.
    "q_corpus_report" -> ((s, d) =>
      TextStatsOps.corpusReport(Tables.documents(s, d))),
    // Per-dimension embedding moments (dataset profiling before
    // normalization/whitening): 64 rows out regardless of corpus size.
    "q_embed_dimstats" -> ((s, d) =>
      SimilarityOps.dimStats(Tables.embeddings(s, d))),
    // Persisted feature-scaler lifecycle: fit per-dim min/max on the
    // 90% slice, persist the Dims-row artifact, min-max scale the
    // held-out 10% from the artifact with out-of-range clamping (the
    // n_clamped drift counter) — fit/transform without re-fitting,
    // exact int64 end-to-end. Oracle replays fit+apply.
    "q_scaler_apply" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val path = tmpPath("graft_scaler", d)
      SimilarityOps.fitWriteScaler(
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), path)
      SimilarityOps.applyScaler(
        emb.filter(pmod(col("vec_id"), lit(10)) === 0), path)
    }),
    // JL ±1 random projection (64 → 16 dims, hash-derived sign matrix
    // as array literals — map-only codegen) + per-consecutive-pair
    // distortion audit: exact int64 distances, final IEEE JL ratio.
    "q_embed_rp" -> ((s, d) =>
      SimilarityOps.rpDistortion(Tables.embeddings(s, d))),
    // Stratified deterministic sampling: per-class hash-threshold rates
    // (class-rebalancing splits that survive re-runs and engine swaps).
    "q_sample_stratified" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(TextOps.hash60(concat(lit("str-"), col("o_orderkey"))) % 100 <
          when(col("o_orderstatus") === "F", 20)
            .when(col("o_orderstatus") === "O", 5).otherwise(50))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")),
    // Deterministic train/val/test assignment (90/5/5 by hash range):
    // every row gets a stable split label that survives re-runs, engine
    // swaps, and corpus growth (a doc's split never changes). Output is
    // the per-split audit count.
    "q_split_assign" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket",
          TextOps.hash60(concat(lit("split-"), col("doc_id"))) % 100)
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // Events: sessionization, JSON props, tolerant schema-on-read parse.
    "q_sessionize" -> ((s, d) => EventOps.sessionize(Tables.events(s, d))),
    // Streaming evidence on the driver record: the Structured Streaming
    // sessionizer replayed as real micro-batches (staged files, one per
    // trigger, arbitrary event-time order) must produce the exact batch
    // session set — full oracle, same session SQL minus the index.
    "q_stream_sessionize" -> ((s, d) =>
      graft.streaming.StreamOps.sessionizeReplay(Tables.events(s, d),
        tmpPath("graft_stream_events", d))),
    // Tumbling-window streaming counts, replayed the same way; epoch-
    // aligned window starts are closed-form in the oracle. The three
    // same-corpus replays share one staging dir (written once per run).
    "q_stream_windowed" -> ((s, d) =>
      graft.streaming.StreamOps.windowedReplay(Tables.events(s, d),
        tmpPath("graft_stream_events", d))),
    // Windowed distinct-count sketch state: 64 portable HLL registers
    // per open window (bounded state for unbounded streams) — the
    // cardinality twin of q_stream_cms, full register-table oracle.
    "q_stream_hll" -> ((s, d) =>
      graft.streaming.StreamOps.windowedHllReplay(Tables.events(s, d),
        tmpPath("graft_stream_events", d))),
    // Streaming leaderboard: stateful windowed per-user aggregate in the
    // stream, top-3-per-window rank on the serving read (a state store
    // holds per-key aggregates, never a global order — rank-on-read IS
    // the production leaderboard shape).
    "q_stream_topk" -> ((s, d) =>
      graft.streaming.StreamOps.windowedTopKReplay(Tables.events(s, d),
        tmpPath("graft_stream_events", d))),
    // foreachBatch dual-sink fanout with idempotent batch_id-keyed
    // dynamic-overwrite writes (the exactly-once-effect recipe for the
    // otherwise at-least-once foreachBatch): raw lake dir + per-batch
    // partial-aggregate serving dir, read back and joined — equal per
    // type, pinned to the batch answer by the oracle.
    "q_stream_fanout" -> ((s, d) =>
      graft.streaming.StreamOps.fanoutReplay(Tables.events(s, d),
        tmpPath("graft_stream_fanout", d),
        tmpPath("graft_fanout_raw", d),
        tmpPath("graft_fanout_agg", d))),

    // Exactly-once PARQUET FILE sink: the same windowed rollup landed
    // on a lake directory through the _spark_metadata commit log +
    // checkpoint (append mode, sentinel-flushed) — the durability
    // contract memory-sink replays can't prove. Own staging dir (the
    // flush sentinel slice differs from the shared-corpus replays').
    "q_stream_file_sink" -> ((s, d) =>
      graft.streaming.StreamOps.fileSinkReplay(Tables.events(s, d),
        tmpPath("graft_stream_fsink", d),
        tmpPath("graft_fsink_out", d))),
    // Watermark late-data EXCLUSION under a real 30-min delay: batch 1
    // replays first-day events as new ids — all below the watermark,
    // all provably dropped (leaks double early windows; over-eviction
    // loses emitted ones). Own staging dir: the slices differ from the
    // shared-corpus replays'.
    "q_stream_late" -> ((s, d) =>
      graft.streaming.StreamOps.lateDataReplay(Tables.events(s, d),
        tmpPath("graft_stream_late", d))),
    // Overlapping 10-min/5-min hopping windows: every event feeds TWO
    // concurrent window states; the oracle enumerates both covering
    // starts per event in closed form.
    "q_stream_sliding" -> ((s, d) =>
      graft.streaming.StreamOps.slidingWindowedReplay(Tables.events(s, d),
        tmpPath("graft_stream_events", d))),
    // Sketches in streaming state: per-day CMS grids folded across
    // micro-batches (elementwise-sum merge == batch grid), probed for
    // keys 0-9 — full oracle via the windowed grid mirror.
    "q_stream_cms" -> ((s, d) =>
      graft.streaming.StreamOps.cmsWindowedReplay(Tables.events(s, d),
        tmpPath("graft_stream_events", d))),
    // Chained stateful aggregations in ONE streaming query (window
    // over window_time): 5-min counts re-aggregated into 30-min
    // rollups without re-reading events; Append-only emission flushed
    // by a far-future sentinel slice. Oracle = both window levels in
    // closed epoch-aligned form.
    "q_stream_chained" -> ((s, d) =>
      graft.streaming.StreamOps.chainedWindowedReplay(Tables.events(s, d),
        tmpPath("graft_stream_chained", d))),
    // The custom-state sessionizer (flatMapGroupsWithState) on the
    // driver record: sentinel events force-close every session, so the
    // emitted set equals the batch sessions (boundaries + counts; the
    // double-accumulated sum is projected away — see statefulReplay).
    "q_stream_stateful" -> ((s, d) =>
      graft.streaming.StreamOps.statefulReplay(Tables.events(s, d),
        tmpPath("graft_stream_stateful", d))),
    // The same stateful sessionizer, staged as time-ordered slices with
    // boundaries planted INSIDE sessions (intra-event quantiles), so the
    // matching result is produced by state CARRIED ACROSS micro-batches
    // rather than per-user single-batch delivery — the cross-batch state
    // path, in the driver's record.
    "q_stream_stateful_xbatch" -> ((s, d) =>
      graft.streaming.StreamOps.statefulXBatchReplay(Tables.events(s, d),
        tmpPath("graft_stream_xbatch", d))),
    // Checkpoint-restart durability: half the slices drain into a
    // checkpointed parquet sink, the query STOPS, a new query restarts
    // from the checkpoint and drains the rest — restored file-source
    // offsets + state store must reproduce the exact batch session set
    // (sessions provably straddle the restart point).
    "q_stream_restart" -> ((s, d) =>
      graft.streaming.StreamOps.statefulRestartReplay(Tables.events(s, d),
        tmpPath("graft_stream_restart", d))),
    // Streaming dedup: the staged corpus carries every event twice;
    // dropDuplicatesWithinWatermark must collapse it back to the original
    // set — oracle is the plain per-type aggregate of events.
    "q_stream_dedup" -> ((s, d) =>
      graft.streaming.StreamOps.dedupReplay(Tables.events(s, d),
        tmpPath("graft_stream_dedup", d))),
    // Stream-stream event-time interval join: view→click attribution
    // within 1 hour, both sides streamed as micro-batches of the same
    // staged corpus (a streaming self-join) — append-mode pairs must
    // equal the batch interval join exactly.
    "q_stream_join" -> ((s, d) =>
      graft.streaming.StreamOps.streamJoinReplay(Tables.events(s, d),
        tmpPath("graft_stream_join", d))),
    // LEFT OUTER stream-stream interval join: unmatched views emit null
    // click columns only when the (finite) watermark proves no click
    // can still arrive — outer rows are watermark-driven state
    // evictions. Time-ordered slices make the finite watermark safe;
    // result must equal the batch LEFT JOIN, nulls included.
    "q_stream_join_outer" -> ((s, d) =>
      graft.streaming.StreamOps.streamOuterJoinReplay(Tables.events(s, d),
        tmpPath("graft_stream_join_outer", d))),
    // FULL OUTER stream-stream interval join: unmatched rows on BOTH
    // sides emit null partners on watermark-proven eviction — the last
    // member of the stream-join family (inner/left/full). Must equal
    // the batch FULL JOIN, nulls included.
    "q_stream_join_full" -> ((s, d) =>
      graft.streaming.StreamOps.streamFullJoinReplay(Tables.events(s, d),
        tmpPath("graft_stream_join_full", d))),
    // Streaming CDC upsert (foreachBatch MERGE INTO): the demo change
    // log streamed in seq order folds into the orders snapshot; the
    // drained snapshot must equal the batch merge exactly — same
    // oracle as q_merge_upsert.
    "q_stream_upsert" -> ((s, d) => {
      val base = ops.CdcOps.baseOrders(Tables.orders(s, d))
      graft.streaming.StreamOps.upsertReplay(base,
        ops.CdcOps.demoOrderChanges(base), "o_orderkey",
        tmpPath("graft_stream_upsert", d))
    }),
    // Stream-static enrichment: micro-batches join a broadcast customer
    // snapshot; aggregate equals the batch left join.
    "q_stream_enrich" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.streaming.StreamOps.enrichReplay(Tables.events(s, d), dim,
        "user_id", tmpPath("graft_stream_events", d), "c_mktsegment")
    }),
    // Time-grid resample + forward fill (6-hour buckets): the time-
    // series downsample/carry-forward staple, dense per-user grids.
    "q_gap_fill" -> ((s, d) => EventOps.gapFill(Tables.events(s, d))),
    // Ordered funnel (signup → view → click): earliest in-order step
    // completion per user; one conditional min-agg per step, all on the
    // user_id partitioning.
    "q_funnel" -> ((s, d) => EventOps.funnel(Tables.events(s, d))),
    // Gaps-and-islands interval merge: 30-minute activity intervals
    // per user merged into maximal islands (running-max formulation).
    "q_interval_merge" -> ((s, d) =>
      EventOps.intervalMerge(Tables.events(s, d))),
    // Growth curve: cumulative distinct users by first-seen day — the
    // heavy agg is user-keyed; the running sum is over the tiny
    // per-day rollup.
    "q_cum_distinct" -> ((s, d) =>
      EventOps.cumulativeDistinct(Tables.events(s, d))),
    // Exact weighted moving average (power-of-two weights, floor-cents
    // values): ships (num, den) pairs so no division rounding crosses
    // engines; one window, k codegen lag terms.
    "q_wma" -> ((s, d) => EventOps.weightedMovingAvg(Tables.events(s, d))),
    "q_json"       -> ((s, d) => EventOps.jsonStats(Tables.events(s, d))),
    "q_parse_tolerant" -> ((s, d) =>
      EventOps.tolerantParse(Tables.documents(s, d),
        Tables.lineitem(s, d), Tables.orders(s, d))),

    // Capstone composition: the full curation pipeline (lang filter →
    // quality threshold → dedup → deterministic sample) as ONE plan.
    "q_pipeline" -> ((s, d) => PipelineOps.curate(Tables.documents(s, d))),
    // Per-stage funnel attrition of that same pipeline: docs/chars
    // surviving each gate prefix, one corpus pass (indicator sums),
    // not one count() action per stage.
    "q_curate_funnel" -> ((s, d) =>
      PipelineOps.curateFunnel(Tables.documents(s, d))),
    // The crawl front half fused onto the curation pipeline: HTML
    // strip → quality/langid/repetition gates → exact dedup → sample,
    // one Catalyst plan from page bytes to curated survivors
    // (extraction is pure projection — zero added exchanges).
    "q_crawl_pipeline" -> ((s, d) =>
      PipelineOps.crawlCurate(Tables.documents(s, d))),

    // Multimodal: binary payload columns + typed metadata (decode itself
    // is the stubbed Dataset pipeline in MultimodalOps, spec-tested).
    "q_multimodal" -> ((s, d) =>
      MultimodalOps.assetStats(Tables.documents(s, d))),
    // Frame sampling through the typed flatMap pipeline, aggregated and
    // checked against a closed-form oracle (chunk arithmetic on lengths).
    "q_frame_sample" -> ((s, d) =>
      MultimodalOps.frameSampleStats(Tables.documents(s, d))),
    // REAL image decode + resize (javax.imageio): synthesized PNGs whose
    // dimensions and planted (0,0) pixel are closed-form in doc_id — the
    // oracle proves actual pixel decoding happened, not header math.
    "q_multimodal_decode" -> ((s, d) =>
      MultimodalOps.decodeResizeStats(Tables.documents(s, d))),
    // Second real image codec: JDK JPEG decode, exact dims after a lossy
    // round trip.
    // Perceptual average-hash fingerprints from REAL decoded PNG
    // pixels: fixed 8×8 nearest-neighbor sample grid thresholded at
    // the floor-mean, 64-bit fingerprint as a bitstring + popcount.
    // The oracle regenerates the synthetic raster closed-form — all 64
    // bits must match, which only actual pixel decode produces.
    "q_image_ahash" -> ((s, d) =>
      MultimodalOps.imageAHash(Tables.documents(s, d))),
    // PNG metadata by chunk walk, NO decode — the scan-cheap half of
    // the image tier (dimension/format filters + CRC corruption triage
    // before anything pays pixel decode). Oracle: closed-form dims +
    // gray-8 header fields + all-CRCs-valid.
    "q_image_meta" -> ((s, d) =>
      MultimodalOps.imageMeta(Tables.documents(s, d))),
    // Metadata gate + decode FUSED in one pass: the chunk-walk header
    // parse admits (CRC-valid, w·h ≥ 64) assets, ONLY survivors pay
    // pixel decode + aHash — the scan-cheap/decode-expensive split as
    // one plan, no second scan or join.
    "q_image_pipeline" -> ((s, d) =>
      MultimodalOps.imageGatedAHash(Tables.documents(s, d))),
    // dHash gradient fingerprints — adjacent-sample comparisons on a
    // 9×8 grid: brightness-shift-invariant where aHash is not; decode
    // + 64 comparisons per asset in one mapPartitions, no exchange.
    "q_image_dhash" -> ((s, d) =>
      MultimodalOps.imageDHash(Tables.documents(s, d))),
    // Image NEAR-DUP pairing over aHash fingerprints — the MinHash-band
    // analogue for the multimodal tier: 4×16-bit bands generate
    // candidates (never all-pairs), exact Hamming ≤ 3 verifies. The
    // synthetic raster is a pure function of doc_id mod 256, so the
    // corpus is bounded to the < 256 slice (mutually distinct images)
    // plus planted brightness-shifted (+8) variants in the +1M id
    // slice. Banding is pigeonhole-EXHAUSTIVE at Hamming ≤ 3, so the
    // oracle checks the STRONGER closed-form all-pairs answer — the
    // banded engine result must equal it exactly.
    "q_image_neardup" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 256)
      val fps = MultimodalOps.imageAHash(base)
        .unionByName(MultimodalOps.imageAHashShifted(base, 1000000L, 8))
        .select("asset_id", "ahash")
      MultimodalOps.imageNearDupPairs(fps)
    }),
    // Canonical selection over those clusters: keep the
    // highest-resolution member (ties → smallest id) — the
    // dedupCanonical idiom for images; brightness twins share their
    // original's dimensions, so the base copy wins every planted pair.
    "q_image_canonical" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 256)
      val fps = MultimodalOps.imageAHash(base)
        .unionByName(MultimodalOps.imageAHashShifted(base, 1000000L, 8))
        .select("asset_id", "w", "h", "ahash")
      MultimodalOps.imageCanonical(fps)
    }),
    // Incremental image near-dup vs a PERSISTED aHash index — the
    // image tier's daily loop: base fingerprints banded once
    // (writeImageIndex); arrivals band THEMSELVES only and probe with
    // one keyed join. Arrival slices: exact copies (+1M, delta 0,
    // always caught — identical fingerprint), brightness +8 near
    // variants (+2M, mostly within 3 bits), brightness +128 far
    // variants (+3M, mostly fresh — though flat/tiny rasters whose
    // fingerprints are delta-invariant still collide, consistently in
    // both engines). Banding is pigeonhole-exhaustive at Hamming ≤ 3,
    // so the oracle's closed-form all-pairs verdict is EXACT.
    "q_image_dedup_incr" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 256)
      val idx = freshTmpPath(s, "graft_imgidx", d)
      MultimodalOps.writeImageIndex(
        MultimodalOps.imageAHash(base).select("asset_id", "ahash"), idx)
      val third = (r: Int) => base.filter(col("doc_id") % 3 === r)
      val arrivals = MultimodalOps.imageAHashShifted(third(0), 1000000L, 0)
        .unionByName(MultimodalOps.imageAHashShifted(third(1), 2000000L, 8))
        .unionByName(MultimodalOps.imageAHashShifted(third(2), 3000000L, 128))
        .select("asset_id", "ahash")
      MultimodalOps.imageNearDupIncremental(arrivals, idx)
    }),
    // STREAMING image-index ingest — the always-on form of
    // q_image_dedup_incr, completing the streaming-ingest matrix
    // (text/embed/image): batch 1 = exact twins of the even bases
    // (+1M, rejected) and far brightness variants of the odds (+1.5M,
    // mostly admitted + appended IN-STREAM); batch 2 = exact
    // fingerprint twins of those variants (+2M) — every one rejected,
    // either via the in-stream append (twin was admitted) or the base
    // index (twin was near base): zero batch-2 admissions, which only
    // holds if the in-stream update ran.
    "q_stream_image_index" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 256)
      val idx = freshTmpPath(s, "graft_imgidx_stream", d)
      val staging = tmpPath("graft_imgidx_stage", d)
      MultimodalOps.writeImageIndex(
        MultimodalOps.imageAHash(base).select("asset_id", "ahash"), idx)
      val evens = base.filter(col("doc_id") % 2 === 0)
      val odds = base.filter(col("doc_id") % 2 === 1)
      val arrivals = MultimodalOps.imageAHashShifted(evens, 1000000L, 0)
        .unionByName(MultimodalOps.imageAHashShifted(odds, 1500000L, 128))
        .unionByName(MultimodalOps.imageAHashShifted(odds, 2000000L, 128))
        .select("asset_id", "ahash")
      graft.streaming.StreamOps.imageIndexIngestReplay(
        arrivals, idx, staging, Seq(2000000L))
    }),
    // RGB (3-band) decode proof: per-channel means + aHashes over real
    // decoded RGB PNGs — independent closed-form gradients per channel,
    // so band swaps or gray-fusing fail the oracle on at least one band.
    "q_image_rgb" -> ((s, d) =>
      MultimodalOps.imageRgbStats(Tables.documents(s, d))),

    "q_multimodal_jpeg" -> ((s, d) =>
      MultimodalOps.jpegDecodeStats(Tables.documents(s, d))),
    // RIFF chunk-walk metadata, NO decode — the audio twin of
    // q_image_meta: format/duration filters over an audio lake at
    // header cost; closed-form oracle from the fixture parameters.
    "q_audio_meta" -> ((s, d) =>
      MultimodalOps.audioMeta(Tables.documents(s, d))),
    // Real audio codec: JDK WAV/PCM decode, exact sample sums.
    "q_multimodal_wav" -> ((s, d) =>
      MultimodalOps.wavDecodeStats(Tables.documents(s, d))),
    // Frame-level audio features (64-sample frames: exact energy Σs²
    // and zero-crossing counts) — the per-hop feature extraction a
    // speech pipeline runs before any model. Oracle regenerates the
    // synthetic PCM via lateral range() and replays the identical
    // integer arithmetic.
    "q_audio_frames" -> ((s, d) =>
      MultimodalOps.audioFrameFeatures(Tables.documents(s, d))),
    // Audio DEDUP via volume-invariant energy-delta fingerprints: the
    // +1M slice is every base recording at HALF volume (sample-exact
    // scaled synthesis, real codec round trip) — a byte or PCM digest
    // misses all of them; the delta-sign fingerprint collides. Exact
    // (n_frames, fp)-keyed self-join, never all-pairs — dedup now
    // spans all three modalities (text MinHash, image aHash, audio
    // energy-delta).
    "q_audio_dedup" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 256)
      MultimodalOps.audioDedupPairs(
        MultimodalOps.audioFingerprints(base, 0L, 1)
          .unionByName(MultimodalOps.audioFingerprints(base, 1000000L, 2)))
    }),
    // Integer linear-interpolation resample (8 kHz → 3 kHz): exact
    // ×3-scaled interpolants from the real WAV decode; sum/weighted-sum
    // checksums pin every value and position. Zero exchange.
    "q_audio_resample" -> ((s, d) =>
      MultimodalOps.audioResample(Tables.documents(s, d))),
    // Real CONTAINER-level video demux (ISO BMFF box walk + sample
    // tables): frames extracted at stco/stsc/stsz-derived offsets, byte
    // sums over the extracted slices — a mis-parsed offset breaks the
    // closed-form oracle. Pixel decode stays out (no JDK video codec).
    "q_multimodal_video" -> ((s, d) =>
      MultimodalOps.videoDemuxStats(Tables.documents(s, d))),
    // MJPEG pixel decode: real JPEG frames inside the MP4 container —
    // demux locates each sample's bytes, the JDK JPEG codec decodes
    // them, decoded dimensions aggregate per asset (closed-form oracle).
    // Retires the former "no video pixel decode" stub end-to-end.
    "q_multimodal_mjpeg" -> ((s, d) =>
      MultimodalOps.mjpegDecodeStats(Tables.documents(s, d))),

    // SQL-surface registration of the native expressions (§2.10): the
    // injected functions (hash60, array_dot_l) run inside ONE SQL text;
    // the oracle recomputes both with DuckDB's own md5/list arithmetic.
    // (GraftFunctions.register is the live-session twin of the
    // spark.sql.extensions builder hook, which the spec covers.)
    "q_sql_functions" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("documents")
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
      s.sql("""SELECT
          (SELECT sum(hash60(text) % 100000) FROM documents) AS sum_h,
          (SELECT sum(array_dot_l(
             transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
             transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))))
           FROM embeddings) AS sum_n2""")
    }),

    // SQL front door: the identical SQL text runs in spark.sql here and
    // in DuckDB as the oracle (SqlQ3 scaladoc).
    "q_sql_q3" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ3)
    }),
    // Second shared-text query: TPC-H Q1 (pricing summary) — the same
    // one SQL text runs in spark.sql and DuckDB.
    "q_sql_q1" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ1)
    }),
    // Correlated EXISTS through the front door (TPC-H Q4 shape):
    // Catalyst plans the EXISTS as a left-semi join — the subquery
    // surface an analytics user hits weekly, same one-text contract.
    "q_sql_q4" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ4)
    }),
    // Correlated scalar aggregate subquery (TPC-H Q17 shape): the
    // per-part threshold is two correlated scalar subqueries; the
    // comparison is pure int64 (quantities are integral) so both
    // engines decide each row identically — no division, no midpoint.
    "q_sql_q17" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(SqlQ17)
    }),
    // Conditional aggregation (TPC-H Q12 shape): sum(CASE…) counters.
    "q_sql_q12" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ12)
    }),
    // IN over a grouped-HAVING subquery (TPC-H Q18 shape).
    "q_sql_q18" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ18)
    }),
    // Disjunctive band predicates over both join sides (TPC-H Q19 shape).
    "q_sql_q19" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(SqlQ19)
    }),
    // NOT EXISTS anti join + division-free scalar-average threshold
    // (TPC-H Q22 shape).
    "q_sql_q22" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlQ22)
    }),
    // GROUPING SETS with grouping() membership flags — the general form
    // rollup/cube specialize. Shared text; grouping() (0/1 per column)
    // rather than grouping_id() because the bit order of the packed id
    // is engine-specific while the per-column flag is standard.
    "q_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlGroupingSets)
    }),
    // IN-subquery whose body itself contains correlated scalar
    // subqueries (TPC-H Q20 shape) — the deepest nesting in the suite.
    "q_sql_q20" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      Tables.part(s, d).createOrReplaceTempView("part")
      s.sql(SqlQ20)
    }),
    // EXISTS + NOT EXISTS against the same table with supplier
    // inequality and an outer-column correlation (TPC-H Q21 shape).
    "q_sql_q21" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("supplier")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ21)
    }),

    // Remaining TPC-H shapes through the one-text front door — with
    // these twelve the full 22-query suite runs as shared SQL (partsupp
    // is absent from the fixture, so Q2/Q9/Q11/Q16 use lineitem as the
    // part–supplier association, the Q20 precedent).
    "q_sql_q2"  -> sqlQuery(SqlQ2,  "part", "lineitem", "supplier", "nation", "region"),
    "q_sql_q5"  -> sqlQuery(SqlQ5,  "customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q_sql_q6"  -> sqlQuery(SqlQ6,  "lineitem"),
    "q_sql_q7"  -> sqlQuery(SqlQ7,  "supplier", "lineitem", "orders", "customer", "nation"),
    "q_sql_q8"  -> sqlQuery(SqlQ8,  "part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
    "q_sql_q9"  -> sqlQuery(SqlQ9,  "part", "lineitem", "supplier", "orders", "nation"),
    "q_sql_q10" -> sqlQuery(SqlQ10, "customer", "orders", "lineitem", "nation"),
    "q_sql_q11" -> sqlQuery(SqlQ11, "lineitem", "supplier", "nation"),
    "q_sql_q13" -> sqlQuery(SqlQ13, "customer", "orders"),
    "q_sql_q14" -> sqlQuery(SqlQ14, "lineitem", "part"),
    "q_sql_q15" -> sqlQuery(SqlQ15, "lineitem", "supplier"),
    "q_sql_q16" -> sqlQuery(SqlQ16, "lineitem", "part", "supplier"),
    // Window function through the front door: per-group top-5 by
    // row_number with full tie-break — proves the windowed-SQL dialect
    // is shared, not just the join/agg/subquery subset.
    "q_sql_window" -> sqlQuery(SqlWindowTopk, "lineitem"),
    // Correlated LATERAL derived table with ORDER BY + LIMIT — per-key
    // top-k as a join operand, the decorrelation-hard shape.
    "q_sql_lateral" -> sqlQuery(SqlLateral, "customer", "orders"),
    // WITH RECURSIVE through the front door (Spark 4's recursive CTE):
    // level-by-level hierarchy traversal in one shared text.
    "q_sql_recursive" -> sqlQuery(SqlRecursive, "supplier"),

    // MODE family: deterministic most-frequent value per group (ties
    // toward the smallest value on both engines).
    "q_agg_mode" -> ((s, d) =>
      AggOps.modeOf(Tables.lineitem(s, d), "l_returnflag", "l_quantity")
        .withColumnRenamed("mode_v", "mode_qty")),

    // Chi-square independence statistic from the contingency table —
    // margins broadcast, terms summed in DECIMAL (order-independent).
    "q_chisq" -> ((s, d) =>
      AggOps.chiSquare(Tables.lineitem(s, d), "l_returnflag", "l_linestatus")),

    // Exact phi-heavy-hitters over a synthesized skewed key (30% of
    // rows concentrated on three hot keys, the q_join_salted fixture
    // pattern): Misra-Gries candidates per partition, broadcast
    // semi-join, exact count verify — the full key domain never
    // shuffles.
    "q_heavy_hitters" -> ((s, d) => {
      val skewed = Tables.lineitem(s, d).select(
        when(pmod(col("l_orderkey"), lit(10)) < 3, pmod(col("l_orderkey"), lit(5)))
          .otherwise(lit(100) + col("l_orderkey")).as("hk"))
      AggOps.heavyHitters(skewed, "hk", 1000)
    }),

    // Market-basket co-occurrence: part pairs sharing an order, pair
    // support counted across orders — per-basket-bounded expansion.
    "q_cooccur" -> ((s, d) =>
      AggOps.coOccurrence(Tables.lineitem(s, d), "l_orderkey", "l_partkey")),

    // Mergeable HLL sketch rollup: daily sketches unioned to monthly
    // estimates. Approximate → rows-only; spec pins the error band.
    "q_agg_sketch_rollup" -> ((s, d) =>
      AggOps.sketchRollup(Tables.events(s, d), "ts", "user_id")),

    // Daily → monthly sketch rollup on PORTABLE registers — the
    // full-oracle twin of the rows-only q_agg_sketch_rollup: rollups
    // re-touch 64-row sketches, never fact rows, and the whole
    // register output hash-matches across engines.
    "q_sketch_rollup_portable" -> ((s, d) =>
      AggOps.portableSketchRollup(Tables.events(s, d), "ts", "user_id")),

    // Persisted PORTABLE-HLL registers + incremental merge — the
    // deterministic twin of q_agg_sketch_rollup with a FULL oracle:
    // pre-boundary orders build the 64-row register artifact once;
    // the post-boundary arrivals batch folds in by per-bucket max
    // (HLL's union algebra) without re-reading the base corpus.
    // Registers are exact comparison-indicator ints, so the entire
    // artifact hash-matches, not just a ±rsd estimate.
    "q_hll_incr" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val path = tmpPath("graft_hll", d)
      val day = col("o_orderdate").cast("date")
      val bd = lit("1995-06-01").cast("date")
      AggOps.writeHllRegisters(orders.filter(day < bd), "o_custkey", path)
      AggOps.hllMergeIncremental(orders.filter(day >= bd), "o_custkey", path)
    }),

    // Write-path round trip: distributed CSV sink → re-scan → aggregate,
    // oracle-checked against the direct aggregate on the source table —
    // equality proves the sink/scan pair lossless (doubles survive via
    // shortest-round-trip formatting). Writes to the JVM temp dir keyed
    // by scale factor + run nonce so concurrent runs can't collide.
    "q_sink_roundtrip" -> ((s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val out = tmpPath("graft_sink_rt", d)
      SinkOps.writeCsv(src, out)
      s.read.schema(src.schema).option("header", "true").csv(out)
        .groupBy("l_returnflag").agg(
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
    }),

    // JSONL round trip — write the documents as JSON lines (the LLM
    // corpus interchange format), re-scan with an explicit schema, and
    // aggregate: the oracle computes the same aggregate from the
    // pre-write table, so any row lost or mangled by JSON
    // escaping/parsing breaks the hash. Text travels the full
    // escape/unescape path; the md5-sum pin catches content mutation.
    "q_sink_jsonl" -> ((s, d) => {
      val src = Tables.documents(s, d).select("doc_id", "lang", "text")
      val out = tmpPath("graft_sink_jsonl", d)
      SinkOps.writeJsonl(src, out)
      s.read.schema(src.schema).json(out)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("doc_id").as("id_sum"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          min(md5(col("text"))).as("min_text_md5"))
    }),

    // Compressed round trip (jsonl.gz — the corpus wire format): the
    // gzip codec must be lossless through write + re-scan; same oracle
    // as the uncompressed jsonl round trip.
    "q_sink_jsonl_gz" -> ((s, d) => {
      val src = Tables.documents(s, d).select("doc_id", "lang", "text")
      val out = tmpPath("graft_sink_jsonl_gz", d)
      SinkOps.writeJsonlGz(src, out)
      s.read.schema(src.schema).json(out)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("doc_id").as("id_sum"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          min(md5(col("text"))).as("min_text_md5"))
    }),

    // ORC round trip — the second columnar format: typed round trip of
    // the full events row shape (timestamp, double, string) with a
    // filter pushed to the ORC re-scan. Oracle aggregates the pre-write
    // table identically.
    "q_sink_orc" -> ((s, d) => {
      val src = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val out = tmpPath("graft_sink_orc", d)
      SinkOps.writeOrc(src, out)
      s.read.schema(src.schema).orc(out)
        .filter(col("value") > 10.0)
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum("user_id").as("uid_sum"),
          // floor-scaled int64 sum: per-row IEEE multiply+floor is
          // engine-identical for arbitrary doubles (a DECIMAL cast's
          // rounding would be the engines' own).
          sum(floor(col("value") * 10000).cast("long")).as("value_scaled"))
    }),

    // Offset-text source round trip — the reference's flagship scan
    // contract (offset, line) with intra-file byte-range splits: write
    // the documents as ONE deterministic sorted key<TAB>value text file,
    // re-scan it through the DSv2 offset source at a small splitSize so
    // the single file fans out to many byte-range partitions, and
    // aggregate over (offset, line). The oracle recomputes every line's
    // byte offset in closed form (window sum of line byte-lengths), so a
    // lost, duplicated, or mis-offset line at ANY split boundary breaks
    // the hash match.
    "q_offset_scan" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(1).sortWithinPartitions("doc_id")
      val out = tmpPath("graft_offset_scan", d)
      SinkOps.writeKvText(src, out)
      // sum_off rides DECIMAL internally: int64 offset sums overflow at
      // the very scale this source exists for (~10^9 lines × ~5·10^10
      // mean offset ≈ 5·10^19 > 2^63 for a single 100 GB file). The
      // driver-visible column is the decimal's STRING rendering — the
      // one portable representation that stays bit-exact past 2^53
      // (a double cast would round there; both engines print an
      // integer-valued DECIMAL(38,0) identically).
      s.read.format("graft.sources.OffsetTextSource")
        .option("splitSize", "65536").load(out)
        .agg(count(lit(1)).as("n_lines"),
          sum(col("offset").cast("decimal(38,0)")).cast("string")
            .as("sum_off"),
          max(col("offset")).as("max_off"),
          sum(octet_length(col("line")).cast("long")).as("sum_len"))
    }),

    // Hive-style partitioned parquet sink → re-scan → aggregate: proves
    // the partitionBy layout round-trips losslessly (partition values
    // travel through directory names, data columns through parquet).
    // Downstream scans of such a layout partition-prune for free.
    "q_sink_partitioned" -> ((s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
      val out = tmpPath("graft_sink_part", d)
      SinkOps.writeParquet(src, out, partitionBy = Seq("l_returnflag"))
      Tables.parquet(s, out)
        .groupBy("l_returnflag", "l_linestatus").agg(
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
    }),

    // STREAMING incremental view maintenance: lineitem arrivals stream
    // in micro-batches, each batch's dim-join delta APPENDS to the
    // persisted view inside foreachBatch — always-on IVM. The digest of
    // the final artifact must equal the one-shot full join (same oracle
    // as q_ivm_join).
    "q_stream_ivm" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val bd = lit(IvmBoundary).cast("date")
      val lb = li.filter(col("l_shipdate").cast("date") < bd)
      val ld = li.filter(col("l_shipdate").cast("date") >= bd)
      // Midpoint cut → two non-degenerate micro-batches at every SF
      // (bounded two-scalar agg, the upsertReplay span precedent).
      val b = ld.agg(min("l_orderkey"), max("l_orderkey")).head()
      graft.streaming.StreamOps.ivmReplay(o, lb, ld,
          tmpPath("graft_stream_ivm_view", d),
          tmpPath("graft_stream_ivm_stage", d),
          boundaries = Seq((b.getLong(0) + b.getLong(1)) / 2))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
    }),

    // Manifest-versioned table with time travel: two snapshot commits,
    // readers pinned per version — the digest of v1 (pre-boundary
    // orders) and v2 (v1 + appended remainder) in one output, derived
    // by the oracle from date arithmetic alone.
    "q_time_travel" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_tt", d)
      val bd = lit(IvmBoundary).cast("date")
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") < bd), path)
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") >= bd), path)
      def dig(df: DataFrame, v: Int) = df.agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
          col("custkey_sum"))
      dig(SinkOps.readVersion(s, path, Some(1)), 1)
        .unionByName(dig(SinkOps.readVersion(s, path, Some(2)), 2))
    }),

    // SQL TIME TRAVEL — the lakehouse tier through the SQL front door:
    // `FROM graft_version(path, v)` is a table-valued function whose
    // builder returns the snapshot read's ANALYZED PLAN (the same
    // SinkOps.readVersion code path — one engine, two surfaces), so
    // the enclosing query's filters and pruning push into the snapshot
    // scan like any other relation. v1 digest + head digest in one
    // SQL text.
    "q_sql_time_travel" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_sqltt", d)
      val bd = lit(IvmBoundary).cast("date")
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") < bd), path)
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") >= bd), path)
      s.sql(s"""SELECT 1 AS version, count(*) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                 AS sum_price,
               CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
             FROM graft_version('$path', 1)
             UNION ALL
             SELECT 2 AS version, count(*) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                 AS sum_price,
               CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
             FROM graft_version('$path')""")
    }),

    // SQL CHANGEFEED — `FROM table_changes(path, vFrom, vTo)` (the
    // Delta TVF shape) over the same O(changed files) readChanges
    // path; aggregated per event_type so the oracle shape differs
    // from q_version_changes' row-level feed.
    "q_sql_changefeed" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_sqlcf", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(ev.filter(col("event_id") % 3 === r),
          path); ()
      }
      s.sql(s"""SELECT event_type, count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 AS val_sum
             FROM table_changes('$path', 1, 3)
             GROUP BY event_type""")
    }),

    // Versioned-table compaction (the OPTIMIZE half): after two append
    // commits, rewrite the current state as one data dir committed as
    // v3 — same digest as v2 (the oracle proves the rewrite lossless),
    // old pinned versions untouched (spec).
    "q_compact_versions" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_ttc", d)
      val bd = lit(IvmBoundary).cast("date")
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") < bd), path)
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") >= bd), path)
      val v = SinkOps.compactVersions(s, path)
      SinkOps.readVersion(s, path, Some(v)).agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
          col("custkey_sum"))
    }),

    // Manifest-level zone-map skip: three append commits declaring
    // event_id file statistics (each commit range-clustered into 4
    // files so per-file min/max are tight), then a range read that
    // PLANS only intersecting files — skipped files cost zero IO, not
    // even a footer fetch. Must equal the full-scan filter (oracle);
    // files-read < files-total is spec-pinned.
    "q_version_skip" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_vskip", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 3 === r)
            .repartitionByRange(4, col("event_id")),
          path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      SinkOps.readVersionWhere(s, path,
          Seq(LongRange("event_id", 100L, 299L)))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // STRING ZONE MAPS (r15) — file skipping on a STRING clustering
    // column (ULIDs, ISO dates, categories — half of real lakehouse
    // clustering keys): the sidecar stores Iceberg-style truncated
    // bounds (16-code-point prefix min, incremented-prefix max), the
    // planner prunes in the engines' UTF-8 binary order, and the
    // exact residual keeps the result ≡ the full-scan filter (a
    // truncated bound can only keep an extra file, never skip a
    // matching one). Before r15 a string statsCol wrote a silently
    // all-null (unprunable) sidecar. files-read < files-total is
    // spec-pinned (Round15OpsSpec).
    "q_stats_string" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_strskip", d)
      (0L to 1L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 2 === r)
            .repartitionByRange(4, col("event_type")),
          path, SinkOps.CommitSpec(stats = Seq("event_type"))); ()
      }
      SinkOps.readVersionWhere(s, path,
          Seq(StringRange("event_type", "e", "s")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum("user_id").as("user_sum"))
    }),
    // MICROS-GRANULAR TIMESTAMP ZONE MAPS (r16) — event time is THE
    // production clustering key, and the pre-r16 long cast stored
    // SECONDS-floor bounds (sound but second-granular): the #tsus
    // kind records per-file unix_micros bounds, the range read plans
    // at exact microseconds, and the residual shares the writer's
    // expression so prune and filter can never disagree. Window
    // bounds derive from the data (min/max micros → the [1/4, 1/2]
    // slice) so the query is sf-invariant; must equal the full-scan
    // epoch_us filter (oracle). files-read < files-total is
    // spec-pinned (Round16OpsSpec).
    "q_stats_ts" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_tsskip", d)
      (0L to 1L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 2 === r)
            .repartitionByRange(4, col("ts")),
          path, SinkOps.CommitSpec(stats = Seq("ts"))); ()
      }
      val b = ev.agg(min(unix_micros(col("ts").cast("timestamp"))),
        max(unix_micros(col("ts").cast("timestamp")))).head()
      val (mnUs, mxUs) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mnUs + (mxUs - mnUs) / 4, mnUs + (mxUs - mnUs) / 2)
      SinkOps.readVersionWhere(s, path, Seq(MicrosRange("ts", lo, hi)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum("user_id").as("user_sum"),
          min(unix_micros(col("ts").cast("timestamp"))).as("min_us"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_us"))
    }),
    // PARTITION PRUNE × PER-FILE ZONE MAPS (r16) — the standard
    // 100 TB layout (Delta stats-under-partitioning): the commit
    // writes BOTH sidecars (parts + leaf-relative per-file stats), a
    // read with predicates on both levels prunes the event_type
    // subtrees first (zero IO for skipped partitions) and then skips
    // files INSIDE the kept leaves whose event_id range misses —
    // before r16 the two tiers were mutually exclusive and a kept
    // partition always read all its files. Exact residuals on both
    // levels ⇒ ≡ the full-scan filter (oracle); files-kept <
    // kept-leaf files < total is spec-pinned (Round16OpsSpec).
    "q_part_skip" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_pskip", d)
      (0L to 1L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 2 === r)
            .repartitionByRange(4, col("event_id")),
          path,
          SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
            stats = Seq("event_id"))); ()
      }
      val b = ev.agg(min("event_id"), max("event_id")).head()
      val (mnId, mxId) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mnId + (mxId - mnId) / 4, mnId + (mxId - mnId) / 2)
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "view")),
            LongRange("event_id", lo, hi)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum("user_id").as("user_sum"),
          sum("event_id").as("id_sum"))
    }),
    // PARTITION PRUNE × BLOOM POINT PROBE (r16) — the canonical
    // 100 TB point read (a date/tenant predicate plus a key lookup):
    // the partitioned commit writes leaf-relative per-file bloom
    // bitmaps alongside the parts sidecar, the read prunes the
    // event_type subtrees first and then opens only bloom-positive
    // files inside them (the layout is hash-partitioned so zone maps
    // could never serve this probe). Exact residuals ⇒ ≡ the
    // full-scan conjunction (oracle); files-kept < kept-leaf files is
    // spec-pinned (Round16OpsSpec).
    "q_part_bloom" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_pbloom", d)
      SinkOps.commitVersion(ev.repartition(8), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
          blooms = Seq("event_id")))
      val probe = ev.filter(col("event_type") === "click")
        .agg(min("event_id")).head().getLong(0)
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "view")),
            LongIn("event_id", Seq(probe))))
        .select("event_id", "user_id", "event_type", "value")
    }),
    // STRING BLOOM POINT LOOKUP (r15) — the key class a dedup /
    // decontam pipeline actually probes (URLs, doc ids): membership
    // hashes through xxhash64 on both the sidecar writer and the
    // driver-side probe (one Catalyst expression, no drift), files
    // whose bitmap misses are skipped with zero IO, and the exact
    // residual equality keeps the result ≡ the full-scan filter (a
    // hash collision can only ADD a file/row for the residual to
    // drop). files-probed < files-total spec-pinned (Round15OpsSpec).
    "q_bloom_string" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("url",
        concat(lit("https://crawl.example.com/"), col("source"),
          lit("/"), col("doc_id")))
      val path = freshTmpPath(s, "graft_strbloom", d)
      SinkOps.commitVersion(docs.repartition(8), path,
        SinkOps.CommitSpec(blooms = Seq("url")))
      val probe = docs.filter(col("doc_id") === 7L)
        .select("url").collect().head.getString(0)
      SinkOps.readVersionWhere(s, path, Seq(StringIn("url", Seq(probe))))
        .select("doc_id", "lang", "n_chars")
    }),
    // DV-AWARE ZONE-MAP SKIP — file skipping on a table a CDC merge
    // stream keeps hot: the head carries an unresolved delete sidecar,
    // and the range read prunes files AND applies the DV in the same
    // scan (kept files grouped by manifest epoch, each group
    // anti-joining exactly the sidecars that scope it — the
    // resolveSnapshot fold over pruned lists). Must equal the resolved
    // full-scan filter; files-read < files-total on the DV-carrying
    // manifest is spec-pinned (Round12OpsSpec).
    "q_skip_dv" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_dvskip", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 3 === r)
            .repartitionByRange(4, col("event_id")),
          path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      SinkOps.deleteVersionKeys(
        ev.filter(col("event_id") % 7 === 0).select("event_id"),
        path, "event_id")
      SinkOps.readVersionWhere(s, path,
          Seq(LongRange("event_id", 100L, 299L)))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // HIVE-PARTITION PRUNING on a versioned table under a live DV —
    // the coarsest skip tier: two partitioned commits record their
    // partition values in parts/ sidecars, a delete sidecar keeps the
    // head hot, and the partition-scoped read plans ONLY the matching
    // event_type= subtrees (skipped partitions cost zero IO, not even
    // a listing) while folding the DV per manifest epoch. At 100 TB
    // this is the first 100-1000x — a date/tenant/language predicate
    // prunes before zone maps or parquet footers see a file. Must
    // equal the resolved full-scan filter (oracle); kept-subtrees-only
    // listing is spec-pinned (Round13PartSpec).
    "q_part_prune" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_part", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === 0), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === 1), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      SinkOps.deleteVersionKeys(
        ev.filter(col("event_id") % 7 === 0).select("event_id"),
        path, "event_id")
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "purchase"))))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // NESTED (multi-column) hive partitioning — the Iceberg
    // multi-identity-partition shape: each commit lands
    // event_type=…/vbkt=… subtrees, and a CONJUNCTION over both
    // partition columns prunes leaves MULTIPLICATIVELY (2 of 5 types x
    // 2 of 4 buckets plans ~1/5 of the leaves) before any file IO —
    // the partition twin of the multi-column zone maps. Must equal
    // the full-scan filter (oracle).
    "q_part_multi" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("vbkt",
        (col("event_id") % 4).cast("string"))
      val path = freshTmpPath(s, "graft_partk", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === 0), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type",
          "vbkt"))))
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === 1), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type",
          "vbkt"))))
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "view")),
            StringIn("vbkt", Seq("1", "3"))))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // PARTITION-SPEC EVOLUTION (round 14) — the table moves from
    // `event_type` to `event_type/vbkt` WITHOUT rewriting history
    // (Iceberg's spec-evolution shape): old dirs keep their sidecars
    // and prune on the columns THEY have, new commits land the new
    // nested layout, and a conjunction predicate prunes each dir by
    // its own spec — the vbkt predicate skips leaves only where the
    // layout can answer it, the exact residual keeps the result equal
    // to the full-scan filter everywhere (never a wrong skip).
    "q_part_evolve" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("vbkt",
        (col("event_id") % 4).cast("string"))
      val path = freshTmpPath(s, "graft_pevo", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 0), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 1), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type",
          "vbkt"))))
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "view")),
            StringIn("vbkt", Seq("1", "3"))))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // METADATA-ONLY grouped partition counts through SQL: the parts
    // sidecars' footer-derived row counts answer
    // SELECT partCol, count(*) GROUP BY with ZERO data-file IO at any
    // table size (spec vanishes the parquet files and still answers) —
    // the graft_stats economics one tier coarser. Oracle recounts the
    // rows relationally.
    "q_part_counts" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_partcnt", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 0), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      // Hot-table shape: a delete sidecar scopes v1, the post-merge
      // commit is a clean epoch — clean answers from sidecars, only
      // the DV-scoped dir pays the resolve (partCountsDv).
      SinkOps.deleteVersionKeys(
        ev.filter(col("event_id") % 11 === 0).select("event_id"),
        path, "event_id")
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 1), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      s.sql(s"SELECT event_type, n_rows FROM graft_part_counts('$path')")
    }),
    // Partition pruning through the SQL front door, on a MIXED table
    // (one partitioned + one flat commit — the Iceberg
    // partition-spec-evolution shape): graft_version_part plans the
    // partitioned dir's matching subtrees from the parts/ sidecar and
    // keeps the flat dir whole (never a wrong skip), the residual IN
    // keeping results exact. One engine, two surfaces for the
    // partition tier.
    "q_sql_part" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_sqlpart", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 0), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 1), path)
      graft.functions.GraftFunctions.register(s)
      s.sql(
        s"""SELECT event_id, user_id, event_type
            FROM graft_version_part('$path', 'event_type', 'view,error')""")
    }),
    // Snapshot changefeed: the rows added in (v1, v3] of an
    // append-only versioned table are the manifest dir difference —
    // O(changed files) planning and IO, never a two-snapshot diff.
    "q_version_changes" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_vchg", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(ev.filter(col("event_id") % 3 === r),
          path); ()
      }
      SinkOps.readChanges(s, path, 1, 3)
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // CHANGEFEED-DRIVEN IVM — the composition the changefeed exists
    // for: the lineitem facts live in a versioned table (base commit +
    // two delta commits); the join-view consumer reads its delta FROM
    // THE TABLE (readChanges v1→v3, O(changed files)) instead of being
    // handed arrival batches out of band, and refreshes by the delta
    // rule (stored view ∪ O ⋈ Δ, delta broadcast). Incremental ≡ full
    // is pinned by the unsplit-join oracle; the changefeed scan is
    // plan-asserted to never touch the base dir (Round11 spec).
    "q_changefeed_ivm" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val bd = lit(IvmBoundary).cast("date")
      val tbl = freshTmpPath(s, "graft_cfivm_tbl", d)
      val ld = li.filter(col("l_shipdate").cast("date") >= bd)
      SinkOps.commitVersion(
        li.filter(col("l_shipdate").cast("date") < bd), tbl)
      SinkOps.commitVersion(ld.filter(col("l_orderkey") % 2 === 0), tbl)
      SinkOps.commitVersion(ld.filter(col("l_orderkey") % 2 === 1), tbl)
      val view = tmpPath("graft_cfivm_view", d)
      JoinOps.writeJoinView(o, SinkOps.readVersion(s, tbl, Some(1)), view)
      Tables.parquet(s, view).unionByName(
        JoinOps.joinViewRows(o,
          broadcast(SinkOps.readChanges(s, tbl, 1, 3))))
        .groupBy(expr("o_custkey % 10").as("cust_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          sum("o_custkey").as("custkey_sum"))
    }),
    // STREAMING MERGE INGEST — CDC batches upsert into the versioned
    // table as one DV merge commit each; a key touched by BOTH
    // batches must read as the LATER batch's row (last writer wins by
    // ordered-fold, no consumer reconciliation). The oracle replays
    // the chain in batch order: %4 keys end as b2, remaining %2 as
    // b1, odd keys untouched.
    "q_stream_merge" -> ((s, d) => {
      val e = Tables.events(s, d)
      val b1 = e.filter(col("event_id") % 2 === 0)
        .withColumn("event_type", lit("b1"))
        .withColumn("value", col("value") + lit(500.0d))
        .withColumn("bseq", lit(1L))
      val b2 = e.filter(col("event_id") % 4 === 0)
        .withColumn("event_type", lit("b2"))
        .withColumn("value", col("value") + lit(900.0d))
        .withColumn("bseq", lit(2L))
      graft.streaming.StreamOps.mergeStreamReplay(e,
          b1.unionByName(b2), tmpPath("graft_smrg_tbl", d),
          tmpPath("graft_smrg_stage", d), "event_id", Seq(2L))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"))
    }),
    // CDF ATTRIBUTION — the insert-vs-update split a DV changefeed
    // cannot provide alone (a sidecar lists touched keys whether or
    // not they existed): one probe of the pre-window snapshot against
    // the broadcast touched-key set classifies every post-image row —
    // and (r15) the base commits carry BLOOM sidecars on the key, so
    // the probe plans from metadata and reads only bloom-positive
    // files (O(changed keys + affected files), never the O(table)
    // snapshot scan; split ≡ the full-scan twin, spec-pinned in
    // Round15OpsSpec). The oracle classifies by key membership in the
    // base table, so the check stays exact even if a shifted "insert"
    // key happens to collide with a live key at larger scale factors.
    "q_changefeed_classify" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_cfc", d)
      SinkOps.commitVersion(e, path,
        SinkOps.CommitSpec(blooms = Seq("event_id")))
      val batch = e.filter(col("event_id") % 5 === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") + lit(1000.0d))
        .unionByName(e.filter(col("event_id") % 3 === 0)
          .withColumn("event_id", col("event_id") + lit(100000L))
          .withColumn("event_type", lit("inserted")))
      val v2 = SinkOps.mergeVersion(batch, path, "event_id")
      SinkOps.classifyChanges(s, path, 1, v2, "event_id")
        .groupBy("change_type", "event_type").agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"))
    }),
    // TABLE-AS-STREAM — the manifest directory IS the stream: a text
    // file source tails the transaction log (one commit per
    // micro-batch), the consumer derives each batch's delta as the
    // not-yet-seen data dirs (exactly readChanges, O(changed files)),
    // and maintains the join view by the delta rule — the streaming
    // twin of q_changefeed_ivm with no out-of-band delta hand-off.
    // Same oracle: streamed maintenance ≡ the full unsplit join.
    "q_stream_changefeed" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val bd = lit(IvmBoundary).cast("date")
      val tbl = freshTmpPath(s, "graft_scf_tbl", d)
      val ld = li.filter(col("l_shipdate").cast("date") >= bd)
      SinkOps.commitVersion(
        li.filter(col("l_shipdate").cast("date") < bd), tbl)
      SinkOps.commitVersion(ld.filter(col("l_orderkey") % 2 === 0), tbl)
      SinkOps.commitVersion(ld.filter(col("l_orderkey") % 2 === 1), tbl)
      graft.streaming.StreamOps.changefeedStreamReplay(o, tbl, 1,
          tmpPath("graft_scf_view", d))
        .groupBy(expr("o_custkey % 10").as("cust_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          sum("o_custkey").as("custkey_sum"))
    }),
    // readStream.format("graft") — the DSv2-registered streaming face
    // of the versioned tier (r15): offsets are committed VERSION
    // NUMBERS, micro-batch (vFrom, vTo] reads the manifest-dir delta
    // (O(changed files), append-only enforced loudly). The first
    // batch is the folded snapshot and is never rate-limited (r16 —
    // capping it would pin the baseline to possibly-VACUUMed early
    // history); commits made WHILE the stream runs arrive as
    // maxVersionsPerTrigger-capped delta batches. Driven through an
    // exactly-once parquet sink + checkpoint, so the gate exercises
    // snapshot batch, capped delta batches, AND the file-sink commit
    // protocol. Oracle: streamed bytes ≡ the table's full content.
    "q_stream_graft_source" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val tbl = freshTmpPath(s, "graft_gss_tbl", d)
      val out = freshTmpPath(s, "graft_gss_out", d)
      val ckpt = freshTmpPath(s, "graft_gss_ckpt", d)
      SinkOps.commitVersion(li.filter(col("l_orderkey") % 3 === 0),
        tbl)
      val q = s.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(tbl)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // snapshot batch (v1)
        (1 to 2).foreach { r =>
          SinkOps.commitVersion(li.filter(col("l_orderkey") % 3 === r),
            tbl); ()
        }
        q.processAllAvailable() // two capped delta batches
      } finally q.stop()
      Tables.parquet(s, out)
        .groupBy((col("l_orderkey") % 7).as("okey_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          sum("l_partkey").as("partkey_sum"))
    }),
    // writeStream.format("graft") — the SINK half (r15), driven as a
    // graft→graft PIPE: the versioned source table streams its
    // manifest deltas into a versioned sink table, one commit per
    // micro-batch, exactly-once by deterministic batch-dir names (a
    // replayed batchId whose dir any manifest references is skipped —
    // Delta's transactional-sink discipline with zero new manifest
    // syntax). The sink table is immediately time-travelable and
    // changefeed-consumable, so stages of a 100 TB pipeline compose
    // as tables. Oracle: piped bytes ≡ the source content (orders).
    "q_stream_graft_sink" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val src = freshTmpPath(s, "graft_gsk_src", d)
      val dst = freshTmpPath(s, "graft_gsk_dst", d)
      val ckpt = freshTmpPath(s, "graft_gsk_ckpt", d)
      SinkOps.commitVersion(o.filter(col("o_orderkey") % 3 === 0), src)
      SinkOps.commitVersion(o.limit(0), dst) // initialize the sink
      val q = s.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream.format("graft")
        .option("path", dst).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // snapshot batch → one sink commit
        (1 to 2).foreach { r =>
          SinkOps.commitVersion(o.filter(col("o_orderkey") % 3 === r),
            src); ()
        }
        q.processAllAvailable() // capped deltas → one commit each
      } finally q.stop()
      SinkOps.readVersion(s, dst)
        .groupBy((col("o_custkey") % 10).as("cust_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("price_sum"),
          sum("o_orderkey").as("okey_sum"))
    }),
    // STREAMING CHANGE DATA FEED (r16) — readStream.format("graft")
    // with readChangeFeed=true: the table AS A CHANGE STREAM (Delta's
    // readChangeFeed). Batch 1 delivers the v1 snapshot as inserts;
    // a MERGE commit then streams update_preimage/update_postimage
    // pairs plus fresh inserts; a DELETE commit streams the deleted
    // keys' FULL pre-image rows — so the downstream view maintains
    // itself by pure SIGNED aggregation (+post, −pre) through
    // commits the append-only source refuses. Pre-images plan from
    // the v1 bloom sidecar (O(changed keys + affected files), the
    // classifyChanges probe). The maintained view must equal
    // recomputing the final (merged-then-deleted) table from scratch
    // — the q_changefeed_retract contract, delivered through a
    // stream.
    "q_stream_cdf" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_cdf_tbl", d)
      val out = freshTmpPath(s, "graft_cdf_out", d)
      val ckpt = freshTmpPath(s, "graft_cdf_ckpt", d)
      SinkOps.commitVersion(e, path,
        SinkOps.CommitSpec(blooms = Seq("event_id")))
      val q = s.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("keyColumn", "event_id")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: v1 snapshot as inserts
        val batch = e.filter(col("event_id") % 5 === 0)
          .withColumn("event_type", lit("updated"))
          .withColumn("value", col("value") + lit(1000.0d))
          .unionByName(e.filter(col("event_id") % 3 === 0)
            .withColumn("event_id", col("event_id") + lit(100000L))
            .withColumn("event_type", lit("inserted")))
        SinkOps.mergeVersion(batch, path, "event_id")
        q.processAllAvailable() // batch 2: update pre/post + inserts
        SinkOps.deleteVersionKeys(
          e.filter(col("event_id") % 7 === 0).select("event_id"),
          path, "event_id")
        q.processAllAvailable() // batch 3: delete pre-image rows
      } finally q.stop()
      val sign = when(col("_change_type")
        .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
      Tables.parquet(s, out)
        .groupBy("event_type")
        .agg(sum(sign).as("cnt"),
          sum(col("value").cast("decimal(28,4)") * sign)
            .cast("double").as("sum_v"))
    }),
    // CHANGEFEED WITH RETRACTIONS — the DV half of the IVM loop: an
    // aggregate view keyed by event_type absorbs a MERGE (updates that
    // MOVE rows across groups + fresh inserts) reading everything from
    // the table's own manifests — post-images via readChanges, touched
    // keys via readDeletedKeys, pre-images by ONE broadcast semi-join
    // of those keys against the prior snapshot (how DV-based CDF
    // readers actually materialize pre-images). merge-then-retract on
    // monoid states; the base is never re-aggregated. Oracle
    // recomputes the view from the merged table from scratch.
    "q_changefeed_retract" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_cfr", d)
      SinkOps.commitVersion(e, path)
      val v1state = AggOps.aggState(
        SinkOps.readVersion(s, path, Some(1)), "event_type", "value")
      val batch = e.filter(col("event_id") % 5 === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") + lit(1000.0d))
        .unionByName(e.filter(col("event_id") % 3 === 0)
          .withColumn("event_id", col("event_id") + lit(100000L))
          .withColumn("event_type", lit("inserted")))
      val v2 = SinkOps.mergeVersion(batch, path, "event_id")
      val added = SinkOps.readChanges(s, path, 1, v2)
      val touched = SinkOps.readDeletedKeys(s, path, 1, v2)
      val preImage = SinkOps.readVersion(s, path, Some(1))
        .join(broadcast(touched), Seq("event_id"), "left_semi")
      AggOps.retractAggStates(
        AggOps.mergeAggStates(v1state,
          AggOps.aggState(added, "event_type", "value"), "event_type"),
        AggOps.aggState(preImage, "event_type", "value"), "event_type")
    }),
    // Streaming versioned sink: every micro-batch commits as its own
    // queryable snapshot; the latest snapshot must equal one batch
    // write of the whole input.
    "q_stream_versions" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val b = o.agg(min("o_orderkey"), max("o_orderkey")).head()
      val latest = graft.streaming.StreamOps.versionedSinkReplay(o,
        tmpPath("graft_ttv", d), tmpPath("graft_ttv_stage", d),
        "o_orderkey", Seq((b.getLong(0) + b.getLong(1)) / 2))
      latest.agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(col("n_rows"), col("sum_price"), col("custkey_sum"),
          lit(SinkOps.currentVersion(s, tmpPath("graft_ttv", d)))
            .as("n_versions"))
    }),

    // STREAMING PARTITIONED SINK — per-micro-batch hive-partitioned
    // commits (batch-keyed): every streamed version lands partition
    // subtrees + the counted parts sidecar, so the coarsest skip tier
    // stays armed WHILE the stream runs; the result is read BACK
    // through the partition-pruned path (two of five types planned).
    // Streamed partitioned commits ≡ one batch write (oracle).
    "q_stream_part" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val b = ev.agg(min("event_id"), max("event_id")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val path = tmpPath("graft_spart", d)
      graft.streaming.StreamOps.versionedSinkReplay(ev,
        path, tmpPath("graft_spart_stage", d), "event_id",
        Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3),
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "signup"))))
        .agg(count(lit(1)).as("n_rows"),
          sum("event_id").as("id_sum"))
        .select(col("n_rows"), col("id_sum"),
          lit(SinkOps.currentVersion(s, path)).as("n_versions"))
    }),
    // MERGE INTO A PARTITIONED TABLE — the CDC batch FOLLOWS the
    // head's partition layout (the Delta table-property discipline):
    // the merge commit's data dir lands partitioned with its counted
    // sidecar, so partition pruning never erodes under churn; the
    // result reads back through the pruned path, updated rows
    // included (spec pins the all-partitioned planning).
    "q_part_merge" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_pmerge", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 0), path,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
      val upd = ev.filter(col("event_id") % 6 === 0)
        .withColumn("value", col("value") + 1000.0)
        .unionByName(ev.filter(col("event_id") % 6 === 1))
      SinkOps.mergeVersion(upd, path, "event_id")
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("purchase", "view"))))
        .select(col("event_id"), col("event_type"), col("value"))
    }),
    // STREAMING DELTA-MANIFEST SINK — the production pairing: a
    // per-batch versioned sink is exactly where full manifests grow
    // O(versions · dirs), so each micro-batch commits base:<head> +
    // one dir with a full checkpoint every 3rd commit. Four batches,
    // head ≡ one batch write of the whole input, history
    // time-travelable through the chain (n_versions pinned).
    "q_stream_delta" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val b = o.agg(min("o_orderkey"), max("o_orderkey")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val span4 = (hi - lo + 1) / 4
      val latest = graft.streaming.StreamOps.versionedSinkReplay(o,
        tmpPath("graft_ttd", d), tmpPath("graft_ttd_stage", d),
        "o_orderkey", Seq(lo + span4, lo + 2 * span4, lo + 3 * span4),
        SinkOps.CommitSpec(checkpointEvery = Some(3)))
      latest.agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(col("n_rows"), col("sum_price"), col("custkey_sum"),
          lit(SinkOps.currentVersion(s, tmpPath("graft_ttd", d)))
            .as("n_versions"))
    }),

    // INCREMENTAL OPTIMIZE (bin-packing): a monolith commit plus three
    // micro-commits; packing with the threshold at the monolith's byte
    // size rewrites ONLY the three-dir tail into one packed dir — the
    // monolith carries untouched (spec pins its files byte-identical).
    // n_dirs is derived from the files the head ACTUALLY reads (2 =
    // monolith + packed), and the digest proves the pack lossless.
    "q_compact_small" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_bp", d)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      SinkOps.commitVersion(e.filter(col("event_id") % 4 =!= 3), path,
        SinkOps.CommitSpec(stats = Seq("event_id")))
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(
          e.filter(col("event_id") % 4 === 3 && col("event_id") % 3 === r),
          path); ()
      }
      val bigBytes = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(root, "data/v1")).getLength
      val v = SinkOps.compactVersions(s, path,
        SinkOps.Compaction.SmallDirs(bigBytes, Some("event_id")))
      SinkOps.readVersion(s, path, Some(v))
        .withColumn("src_dir", regexp_extract(input_file_name(),
          "data/(v[0-9]+)/", 1))
        .agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"),
          countDistinct(col("src_dir")).as("n_dirs"))
        .select(lit(v).as("version"), col("n_dirs"), col("n_rows"),
          col("user_sum"), col("val_sum"))
    }),
    // BLOOM FILE SKIP — the point-lookup win zone maps cannot reach:
    // the table is committed hash-partitioned by user_id, so event_id
    // ranges overlap totally across files (zone maps on event_id would
    // prune NOTHING), but per-file bloom sidecars admit the probe id
    // in ~1 file — the rest are skipped with zero IO. A bloom miss
    // PROVES absence (every present value set its bits at write time);
    // false positives only cost an extra file read, the residual
    // filter keeps results exact. Spec pins files-planned < total.
    "q_bloom_skip" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_bloom", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(
          e.filter(col("user_id") % 3 === r)
            .repartition(4, col("user_id")),
          path, SinkOps.CommitSpec(blooms = Seq("event_id"))); ()
      }
      val probe = e.agg(max("event_id")).head().getLong(0)
      SinkOps.readVersionWhere(s, path, Seq(LongIn("event_id", Seq(probe))))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // MULTI-COLUMN BLOOMS — a conjunction of point probes on TWO
    // lookup keys neither of which the layout clusters: each column's
    // per-file bitmap rides the one sidecar, and the planned set is
    // the INTERSECTION of the two prunes (the bloom twin of
    // multi-column zone maps; spec pins the intersection tighter than
    // either single probe). Exact residual keeps equality.
    "q_bloom_multi" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_bloommulti", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(
          e.filter((col("event_id") + col("user_id")) % 3 === r)
            .repartition(4, col("ts")),
          path, SinkOps.CommitSpec(blooms = Seq("event_id", "user_id"))); ()
      }
      val eMax = e.agg(max("event_id")).head().getLong(0)
      val u = e.filter(col("event_id") === eMax)
        .agg(min("user_id")).head().getLong(0)
      SinkOps.readVersionWhere(s, path,
          Seq(LongIn("event_id", Seq(eMax)), LongIn("user_id", Seq(u))))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),

    // COMPOSED SKIPPING — zone maps × blooms: the planned file set is
    // the INTERSECTION of the range prune (event_id zone maps over the
    // range-clustered layout) and the point prune (user_id blooms) —
    // skipping multiplies across independent indexes. Exact residual
    // filters keep the read equal to the full-scan conjunction.
    "q_skip_compose" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_skip2", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(
          e.filter(col("event_id") % 3 === r)
            .repartitionByRange(4, col("event_id")),
          path,
          SinkOps.CommitSpec(stats = Seq("event_id"),
            blooms = Seq("user_id"))); ()
      }
      val b = e.agg(min("user_id"), min("event_id"), max("event_id"))
        .head()
      SinkOps.readVersionWhere(s, path,
          Seq(LongRange("event_id", b.getLong(1),
              (b.getLong(1) + b.getLong(2)) / 2),
            LongIn("user_id", Seq(b.getLong(0)))))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // OPTIMIZE ZORDER — full compaction under a 2-D Morton layout
    // with both dimensions zone-mapped: after the rewrite a 2-D box
    // predicate prunes files on the intersection of two tight
    // per-file ranges (spec-pinned); the rewrite itself is lossless
    // (oracle digests the whole table) and resolves any accumulated
    // DVs. The Delta OPTIMIZE ZORDER production op.
    "q_compact_zorder" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_zoptim", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(ev.filter(col("event_id") % 3 === r),
          path); ()
      }
      val v = SinkOps.compactVersions(s, path,
        SinkOps.Compaction.ZOrder(Seq("event_id", "user_id"), bits = 20))
      SinkOps.readVersion(s, path, Some(v)).agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("user_sum"),
          col("val_sum"))
    }),

    // DV MINOR COMPACTION — a retention sweep issues three
    // back-to-back key deletes (three sidecars = three anti-join
    // folds per read); coalesceDeletes unions the adjacent run into
    // ONE sidecar at O(keys) IO with zero data files touched, and the
    // head still reads exactly the triple-filtered table (oracle);
    // the fold-count drop and ordered-fold scope safety are
    // spec-pinned.
    "q_dv_coalesce" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_dvcoal", d)
      SinkOps.commitVersion(ev, path)
      Seq(5L, 7L, 11L).foreach { m =>
        SinkOps.deleteVersionKeys(
          ev.filter(col("event_id") % m === 0).select("event_id"),
          path, "event_id"); ()
      }
      SinkOps.coalesceDeletes(s, path)
      SinkOps.readVersion(s, path).agg(
        count(lit(1)).as("n_rows"),
        sum("user_id").as("user_sum"),
        AggOps.exactSum(col("value")).as("val_sum"))
    }),

    // SCHEMA EVOLUTION THROUGH THE SKIP TIER — a zone-map range read
    // over a snapshot whose later commit ADDED a column: kept files
    // still prune per sidecar, the groups union under the merged
    // schema, and legacy rows read the new column as NULL — additive
    // evolution without rewriting history, through the same skip path.
    "q_skip_evo" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_skipevo", d)
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"))
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id")))
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id")))
      SinkOps.readVersionWhere(s, path,
          Seq(LongRange("event_id", 100L, 299L)), mergeSchema = true)
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),

    // DELTA MANIFESTS + CHECKPOINTS — manifest metadata at streaming
    // commit rates: each commit's manifest carries only base:<head> +
    // its new dir (O(1) metadata per commit instead of repeating the
    // whole carry-forward list), with a FULL checkpoint manifest every
    // 3rd commit bounding every reader's base-chain walk. Time travel
    // resolves through the chain transparently: v2 (delta on v1) and
    // the head v4 (delta on the v3 checkpoint) both digest exactly.
    "q_version_delta" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_vdelta", d)
      (0L to 3L).foreach { r =>
        SinkOps.commitVersion(e.filter(col("event_id") % 4 === r),
          path, SinkOps.CommitSpec(checkpointEvery = Some(3))); ()
      }
      def dig(df: DataFrame, v: Int) = df.agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("user_sum"),
          col("val_sum"))
      dig(SinkOps.readVersion(s, path, Some(2)), 2)
        .unionByName(dig(SinkOps.readVersion(s, path, Some(4)), 4))
    }),

    // MULTI-COLUMN ZONE MAPS — per-file min/max for EVERY declared
    // column in one sidecar (the Iceberg per-primitive-column stats
    // shape): the table is laid out user-tertile per dir and
    // event-range-clustered per file, so a CONJUNCTION of two range
    // predicates prunes multiplicatively (the user predicate keeps ~one
    // dir, the event predicate ~a quarter of its files) — spec-pinned
    // tighter than either single-column prune. Exact residual
    // conjunction keeps the read equal to the full-scan filter.
    "q_stats_multi" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_statsmulti", d)
      val b = e.agg(min("user_id"), max("user_id"),
        min("event_id"), max("event_id")).head()
      val (umin, umax, emin, emax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val span3 = (umax - umin + 1) / 3
      val (t1, t2) = (umin + span3, umin + 2 * span3)
      val (elo, ehi) = (emin + (emax - emin + 1) / 4,
        emin + (emax - emin + 1) / 2)
      SinkOps.commitVersion(
        e.filter(col("user_id") < t1)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id", "user_id")))
      SinkOps.commitVersion(
        e.filter(col("user_id") >= t1 && col("user_id") < t2)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id", "user_id")))
      SinkOps.commitVersion(
        e.filter(col("user_id") >= t2)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id", "user_id")))
      SinkOps.readVersionWhere(s, path,
          Seq(LongRange("event_id", elo, ehi),
            LongRange("user_id", t1, t2 - 1)))
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),
    // SQL SKIP-TIER READ — graft_version_where splices the PRUNED
    // zone-map read into SQL: unlike graft_version(path) + WHERE
    // (filter pushed, but the file index lists every snapshot file),
    // the TVF's plan holds only sidecar-kept files — the spec pins
    // that the read touches no pruned file via _metadata.file_name.
    "q_sql_skip" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_sqlskip", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 3 === r)
            .repartitionByRange(4, col("event_id")),
          path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      s.sql(s"""SELECT event_id, user_id, event_type
             FROM graft_version_where('$path', 'event_id', 150, 349)""")
    }),

    // SQL DESCRIBE HISTORY — the metadata-only timeline through the
    // graft_history TVF: versions, dirs, rows, stat ranges, delete
    // commits and read amplification selected in plain SQL, zero
    // data-file IO (the versionHistory relation spliced as an
    // analyzed plan).
    "q_sql_history" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_sqlvh", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(e.filter(col("event_id") % 3 === r), path,
          SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      s.sql(s"""SELECT version, n_dirs, n_rows, min_stat, max_stat,
                 n_delete_commits, n_read_groups
             FROM graft_history('$path')""")
    }),

    // SQL DML, INSERT half (round 13) — the WRITER side of "one
    // engine, two surfaces": INSERT INTO / INSERT OVERWRITE against a
    // graft_table path parse through the injected GraftSqlParser and
    // execute the SAME commitVersion body as the Scala API (loud
    // contracts, staging-aware allocation, ts stamps — identical by
    // construction). Two appends then a full OVERWRITE (carry-forward
    // dropped): the head digests to the whole table at version 3.
    "q_sql_insert" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.orders(s, d).createOrReplaceTempView("r13_sqlins_orders")
      val path = freshTmpPath(s, "graft_sqlins", d)
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqlins_orders
             WHERE CAST(o_orderdate AS DATE) < DATE '$IvmBoundary'""")
        .collect()
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqlins_orders
             WHERE CAST(o_orderdate AS DATE) >= DATE '$IvmBoundary'""")
        .collect()
      val v3 = s.sql(s"""INSERT OVERWRITE graft_table('$path')
             SELECT * FROM r13_sqlins_orders""")
        .collect().head.getInt(0)
      s.sql(s"""SELECT $v3 AS version, count(*) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                 AS sum_price,
               CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
             FROM graft_version('$path')""")
    }),

    // SQL DML, DELETE half — `DELETE FROM graft_table(p) WHERE k IN
    // (...)` compiles to the SAME merge-on-read delete sidecar as
    // deleteVersionKeys (zero data files rewritten), so the whole
    // q_version_delete lifecycle — delete, pinned prior version,
    // ordered-fold re-insert — runs end-to-end through spark.sql and
    // digests identically (shared oracle shape).
    "q_sql_delete" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqldel_events")
      val path = freshTmpPath(s, "graft_sqldel", d)
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqldel_events WHERE event_id % 2 = 0""")
        .collect()
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqldel_events WHERE event_id % 2 = 1""")
        .collect()
      s.sql(s"""DELETE FROM graft_table('$path')
             WHERE event_id IN (SELECT event_id FROM r13_sqldel_events
                                WHERE event_id % 7 = 0)""")
        .collect()
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqldel_events WHERE event_id % 14 = 0""")
        .collect()
      def dig(v: Int) =
        s.sql(s"""SELECT $v AS version, count(*) AS n_rows,
                 CAST(sum(user_id) AS BIGINT) AS user_sum,
                 CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                   AS val_sum
               FROM graft_version('$path', $v)""")
      dig(2).unionByName(dig(3)).unionByName(dig(4))
    }),

    // SQL DML, MERGE half — `MERGE INTO graft_table(p) USING (...) ON
    // k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
    // compiles to the SAME one-commit DV upsert as mergeVersion
    // (delete sidecar + data dir, O(batch) write, no matched-row
    // scan); any other WHEN action refuses loudly rather than
    // silently computing something else. Same merged digest as
    // q_version_merge (shared oracle shape).
    "q_sql_merge" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqlmrg_events")
      val path = freshTmpPath(s, "graft_sqlmrg", d)
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqlmrg_events""").collect()
      s.sql(s"""MERGE INTO graft_table('$path') USING (
               SELECT event_id, ts, user_id, 'updated' AS event_type,
                      value + 1000.0 AS value, props
               FROM r13_sqlmrg_events WHERE event_id % 5 = 0
               UNION ALL
               SELECT event_id + 100000, ts, user_id, 'inserted',
                      value, props
               FROM r13_sqlmrg_events WHERE event_id % 3 = 0
             ) ON event_id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""").collect()
      s.sql(s"""SELECT event_type, count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 AS val_sum
             FROM graft_version('$path')
             GROUP BY event_type""")
    }),

    // SQL DML, UPDATE half — `UPDATE graft_table(p) SET ... WHERE k
    // IN (...)` scans the head ONCE semi-joined to the broadcast key
    // list, evaluates every SET expression against the OLD row (one
    // projection — standard UPDATE semantics), and merges the result
    // as a single O(matched) DV commit: the merge-on-read UPDATE,
    // zero file rewrites where copy-on-write would rewrite every
    // touched file.
    "q_sql_update" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqlupd_events")
      val path = freshTmpPath(s, "graft_sqlupd", d)
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqlupd_events""").collect()
      s.sql(s"""UPDATE graft_table('$path')
             SET value = value + 1000.0,
                 event_type = concat(event_type, '_u')
             WHERE event_id IN (SELECT event_id FROM r13_sqlupd_events
                                WHERE event_id % 5 = 0)""").collect()
      s.sql(s"""SELECT event_type, count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 AS val_sum
             FROM graft_version('$path')
             GROUP BY event_type""")
    }),

    // SQL METADATA AGGREGATE UNDER DVs — graft_stats routes to the
    // DV-tolerant statsAggDv (round 13): the q_stats_dv fixture read
    // through the TVF answers clean epochs from sidecars and pays the
    // resolve only for the DV-scoped ones, where the r12 TVF refused
    // the hot-table window outright.
    "q_sql_stats_dv" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_sqlstatsdv", d)
      (0L to 1L).foreach { r =>
        SinkOps.commitVersion(
          e.filter(col("event_id") % 3 === r)
            .repartitionByRange(4, col("event_id")),
          path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      SinkOps.deleteVersionKeys(
        e.filter(col("event_id") % 7 === 0).select("event_id"),
        path, "event_id")
      SinkOps.commitVersion(
        e.filter(col("event_id") % 3 === 2)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id")))
      s.sql(s"""SELECT n_rows, min_event_id, max_event_id
             FROM graft_stats('$path')""")
    }),

    // SQL MAINTENANCE — OPTIMIZE ZORDER + VACUUM through the parser
    // (Delta's maintenance SQL shape): three appends, `OPTIMIZE ...
    // ZORDER BY (event_id, user_id)` rewrites the head under the
    // Morton layout with both-column zone maps (the same
    // compactVersions ZOrder body as the Scala API), and `VACUUM ...
    // KEEP 4` reclaims exactly the three pre-compaction dirs —
    // version, vacuum count, and lossless digest all in one row.
    "q_sql_maintenance" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqlmaint_events")
      val path = freshTmpPath(s, "graft_sqlmaint", d)
      (0 to 2).foreach { r =>
        s.sql(s"""INSERT INTO graft_table('$path')
               SELECT * FROM r13_sqlmaint_events
               WHERE event_id % 3 = $r""").collect(); ()
      }
      val v = s.sql(s"""OPTIMIZE graft_table('$path')
             ZORDER BY (event_id, user_id)""").collect().head.getInt(0)
      val nVac = s.sql(s"VACUUM graft_table('$path') KEEP $v")
        .collect().head.getInt(0)
      s.sql(s"""SELECT $v AS version, $nVac AS n_vacuumed,
               count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 AS val_sum
             FROM graft_version('$path')""")
    }),

    // ONE-CALL MAINTENANCE (round 14) — maintain() closes the gauge →
    // advice → action loop: the coalescible table's adjacent delete
    // run is found AND reclaimed in one call (action pinned, version
    // advanced, resolved rows unchanged — coalescing is semantics-
    // identity by the ordered-fold contract), and the healthy table
    // costs one metadata read and NO rewrite (head version returned).
    "q_maintain" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val path = freshTmpPath(s, "graft_maint", d)
      SinkOps.commitVersion(ev, path,
        SinkOps.CommitSpec(stats = Seq("event_id")))
      Seq(5, 7).foreach { m =>
        SinkOps.deleteVersionKeys(
          ev.filter(col("event_id") % m === 0).select("event_id"),
          path, "event_id"); ()
      }
      val did = SinkOps.maintain(s, path, targetRowsPerFile = 1L)
        .collect().head
      // Second call on the now-healthy table: no action, head version.
      val idle = SinkOps.maintain(s, path, targetRowsPerFile = 1L)
        .collect().head
      SinkOps.readVersion(s, path).agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"))
        .select(lit(did.getString(0)).as("did_action"),
          lit(did.getInt(1)).as("did_version"),
          lit(idle.getString(0)).as("idle_action"),
          lit(idle.getInt(1)).as("idle_version"),
          col("n_rows"), col("user_sum"))
    }),
    // ADVISOR/MAINTAIN ON A PARTITIONED HEAD (r16) — the per-leaf
    // file-count gauge: six partitioned commits accrete ≥6 subtrees
    // per hot leaf (read amplification the flat file totals cannot
    // see), maintenanceAdvice's max_leaf_files crosses the declared
    // threshold → maintain() runs OPTIMIZE (compactVersions preserves
    // the hive layout while converging each leaf), and the re-advised
    // table says none. The compacted table reads back through the
    // partition-pruned path; counts ≡ the relational filter (oracle).
    "q_maintain_part" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_maintp", d)
      (0L to 5L).foreach { r =>
        SinkOps.commitVersion(
          ev.filter(col("event_id") % 6 === r), path,
          SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq(
            "event_type")))); ()
      }
      val gauges = SinkOps.maintenanceAdvice(s, path,
        targetRowsPerFile = 1L, maxFilesPerLeaf = 4).collect().head
      val did = SinkOps.maintain(s, path, targetRowsPerFile = 1L,
        maxFilesPerLeaf = 4).collect().head
      val idle = SinkOps.maintain(s, path, targetRowsPerFile = 1L,
        maxFilesPerLeaf = 4).collect().head
      SinkOps.readVersionWhere(s, path,
          Seq(StringIn("event_type", Seq("click", "view"))))
        .agg(count(lit(1)).as("n_rows"), sum("user_id").as("user_sum"))
        .select(lit(gauges.getAs[String]("recommendation"))
            .as("advice"),
          lit(did.getString(0)).as("did_action"),
          lit(idle.getString(0)).as("idle_action"),
          col("n_rows"), col("user_sum"))
    }),

    // DSv2 READER FORMAT (round 14) — spark.read.format("graft")
    // .option("versionAsOf", v).load(path): the fourth addressing
    // surface (Scala API / TVFs / catalog names / reader format), all
    // bit-identical by construction — the TableProvider returns the
    // same GraftTable handle the catalog serves, and the resolution
    // rule splices the same analyzed readVersion plan. The oracle
    // derives both snapshots relationally.
    "q_format_read" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_fmt", d)
      SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 0), path)
      SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 1), path)
      def dig(df: DataFrame, snap: String) = df.agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          sum(col("value").cast("decimal(28,4)")).cast("double")
            .as("val_sum"))
        .select(lit(snap).as("snap"), col("n_rows"), col("user_sum"),
          col("val_sum"))
      dig(s.read.format("graft").option("versionAsOf", "1").load(path),
          "v1")
        .unionByName(dig(s.read.format("graft").load(path), "head"))
    }),

    // MAINTENANCE ADVISOR (round 14) — versionHistory's gauges turned
    // into one actionable row per table (the graft_advice TVF,
    // metadata-only): an adjacent delete run recommends the cheap
    // coalesce_deletes, interleaved DV debt past the read-group
    // threshold recommends optimize, small files recommend bin_pack,
    // and a healthy table says none — the same table under a
    // different declared target flips bin_pack → none, pinning that
    // the recommendation IS the threshold arithmetic, not a vibe.
    "q_maintenance_advice" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, d)
      // Adjacent delete run of 3 → coalesce_deletes.
      val pc = freshTmpPath(s, "graft_adv_c", d)
      SinkOps.commitVersion(ev, pc,
        SinkOps.CommitSpec(stats = Seq("event_id")))
      Seq(5, 7, 11).foreach { m =>
        SinkOps.deleteVersionKeys(
          ev.filter(col("event_id") % m === 0).select("event_id"),
          pc, "event_id"); ()
      }
      // Interleaved commits and deletes: 4 epoch groups, no run → optimize.
      val po = freshTmpPath(s, "graft_adv_o", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(ev.filter(col("event_id") % 4 === r),
          po, SinkOps.CommitSpec(stats = Seq("event_id")))
        SinkOps.deleteVersionKeys(
          ev.filter(col("event_id") % (13 + r) === 0)
            .select("event_id"), po, "event_id"); ()
      }
      SinkOps.commitVersion(ev.filter(col("event_id") % 4 === 3), po,
        SinkOps.CommitSpec(stats = Seq("event_id")))
      // Clean 4-file commit: under a 1M-rows/file target → bin_pack;
      // the SAME table under target 1 → none.
      val pb = freshTmpPath(s, "graft_adv_b", d)
      SinkOps.commitVersion(ev.repartition(4), pb,
        SinkOps.CommitSpec(stats = Seq("event_id")))
      s.sql(s"""
        SELECT 'runs' AS t, n_read_groups, max_delete_run,
               recommendation FROM graft_advice('$pc', 1, 4)
        UNION ALL SELECT 'debt', n_read_groups, max_delete_run,
               recommendation FROM graft_advice('$po', 1, 4)
        UNION ALL SELECT 'small', n_read_groups, max_delete_run,
               recommendation FROM graft_advice('$pb', 1000000, 4)
        UNION ALL SELECT 'healthy', n_read_groups, max_delete_run,
               recommendation FROM graft_advice('$pb', 1, 4)""")
    }),
    // CATALOG-NAMED graft tables — the DSv2 TableCatalog front
    // (graft.sources.GraftCatalog + GraftTableResolutionRule + the
    // parser's named targets): CREATE TABLE cat.db.t, INSERT INTO /
    // MERGE INTO by NAME, SELECT by name with VERSION AS OF — no path
    // string in any statement, and a typo'd name is a loud
    // NoSuchTableException instead of a silently new empty table (the
    // #1 misuse class of a pure path API). Named reads splice the
    // SAME readVersion plan as the path TVFs (name ≡ path
    // bit-identity spec-pinned in Round14CatalogSpec); the oracle
    // derives both snapshots' digests relationally.
    "q_sql_catalog" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.gcat",
        classOf[graft.sources.GraftCatalog].getName)
      val wh = tmpPath("graft_catwh", d)
      s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
      val root = new org.apache.hadoop.fs.Path(s"$wh/db/ev")
      root.getFileSystem(s.sessionState.newHadoopConf())
        .delete(root, true)
      Tables.events(s, d).createOrReplaceTempView("r14_cat_events")
      s.sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
      s.sql("""CREATE TABLE gcat.db.ev (event_id BIGINT, ts TIMESTAMP,
             user_id BIGINT, event_type STRING, value DOUBLE,
             props STRING)""")
      s.sql("INSERT INTO gcat.db.ev SELECT * FROM r14_cat_events")
        .collect()
      s.sql("""MERGE INTO gcat.db.ev USING (
             SELECT event_id, ts, user_id, 'cat_upd' AS event_type,
                    value + 2000.0 AS value, props
             FROM r14_cat_events WHERE event_id % 5 = 0
             UNION ALL
             SELECT event_id + 200000, ts, user_id, 'cat_ins', value,
                    props
             FROM r14_cat_events WHERE event_id % 4 = 0
           ) ON event_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").collect()
      s.sql("""SELECT snap, event_type, n_rows, user_sum, val_sum FROM (
             SELECT 'v1' AS snap, event_type, count(*) AS n_rows,
                    CAST(sum(user_id) AS BIGINT) AS user_sum,
                    CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                      AS val_sum
             FROM gcat.db.ev VERSION AS OF 1 GROUP BY event_type
             UNION ALL
             SELECT 'head', event_type, count(*),
                    CAST(sum(user_id) AS BIGINT),
                    CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
             FROM gcat.db.ev GROUP BY event_type)""")
    }),

    // SQL SKIP-TIER WRITE — the writer half of the skip economics
    // through SQL: INSERT INTO graft_table(path, 'event_id') declares
    // zone-map sidecars for each commit (the SQL spelling of
    // CommitSpec stats), with a REPARTITION_BY_RANGE hint supplying
    // the clustering that makes per-file ranges tight — then the
    // graft_version_where TVF plans only intersecting files. A table
    // built, maintained, AND skip-read entirely in SQL.
    "q_sql_insert_skip" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqlik_events")
      val path = freshTmpPath(s, "graft_sqlik", d)
      (0 to 2).foreach { r =>
        s.sql(s"""INSERT INTO graft_table('$path', 'event_id')
               SELECT /*+ REPARTITION_BY_RANGE(4, event_id) */ *
               FROM r13_sqlik_events WHERE event_id % 3 = $r""")
          .collect(); ()
      }
      s.sql(s"""SELECT event_id, user_id, event_type
             FROM graft_version_where('$path', 'event_id', 200, 449)""")
    }),

    // TIMESTAMP TIME TRAVEL — "the table as of yesterday 06:00":
    // every commit manifest now carries a writer-stamped, strictly
    // monotone ts line (VACUUM-invariant — never an mtime), and
    // readVersionAsOf binary-searches the stamps to the latest
    // version ≤ t (O(log versions) manifest reads at 1 M commits).
    // Probed at v1's own stamp, one millisecond before v2's (both
    // resolve v1 — boundary semantics), and at v2's stamp through the
    // graft_version_asof TVF (the SQL surface of the same resolver).
    "q_time_travel_ts" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_ttts", d)
      val bd = lit(IvmBoundary).cast("date")
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") < bd), path)
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") >= bd), path)
      val ts1 = SinkOps.commitTimestamp(s, path, 1)
      val ts2 = SinkOps.commitTimestamp(s, path, 2)
      def dig(df: DataFrame, probe: String, v: Int) = df.agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(lit(probe).as("probe"), lit(v).as("version"),
          col("n_rows"), col("sum_price"), col("custkey_sum"))
      dig(SinkOps.readVersionAsOf(s, path, ts1), "at_v1_stamp", 1)
        .unionByName(dig(SinkOps.readVersionAsOf(s, path, ts2 - 1),
          "just_before_v2", 1))
        .unionByName(s.sql(
          s"""SELECT 'at_v2_stamp' AS probe, 2 AS version,
                 count(*) AS n_rows,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS sum_price,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
               FROM graft_version_asof('$path', $ts2)"""))
    }),

    // SQL RESTORE — roll the head back as a NEW commit, zero data IO,
    // history intact: a bad delete (v2) is undone by RESTORE VERSION
    // AS OF 1 (v3), a second bad delete (v4) by RESTORE TIMESTAMP AS
    // OF v3's commit stamp (v5). The head digests to the whole table
    // and the intermediate v4 stays a pinned time-travel read — the
    // incident timeline survives the recovery.
    "q_sql_restore" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqlres_events")
      val path = freshTmpPath(s, "graft_sqlres", d)
      s.sql(s"""INSERT INTO graft_table('$path')
             SELECT * FROM r13_sqlres_events""").collect()
      s.sql(s"""DELETE FROM graft_table('$path')
             WHERE event_id IN (SELECT event_id FROM r13_sqlres_events
                                WHERE event_id % 7 = 0)""").collect()
      val v3 = s.sql(
          s"RESTORE graft_table('$path') VERSION AS OF 1")
        .collect().head.getInt(0)
      s.sql(s"""DELETE FROM graft_table('$path')
             WHERE event_id IN (SELECT event_id FROM r13_sqlres_events
                                WHERE event_id % 5 = 0)""").collect()
      val ts3 = SinkOps.commitTimestamp(s, path, v3)
      val v5 = s.sql(
          s"RESTORE graft_table('$path') TIMESTAMP AS OF $ts3")
        .collect().head.getInt(0)
      s.sql(s"""SELECT $v5 AS version, count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 AS val_sum
             FROM graft_version('$path')
             UNION ALL
             SELECT 4, count(*), CAST(sum(user_id) AS BIGINT),
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
             FROM graft_version('$path', 4)""")
    }),

    // SQL SHALLOW CLONE — fork a snapshot zero-copy (the dev/test
    // branch idiom at 100 TB): the clone's first manifest references
    // the source's dirs AND its delete sidecar by absolute path (fold
    // order preserved — the cloned head reads resolved), then the
    // clone evolves independently: its own INSERT lands after the
    // cloned sidecar, so its %7-multiples survive while the source
    // head never sees the new rows.
    "q_sql_clone" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("r13_sqlcl_events")
      val src = freshTmpPath(s, "graft_sqlcl_src", d)
      val dst = freshTmpPath(s, "graft_sqlcl_dst", d)
      s.sql(s"""INSERT INTO graft_table('$src')
             SELECT * FROM r13_sqlcl_events WHERE event_id % 2 = 0""")
        .collect()
      s.sql(s"""DELETE FROM graft_table('$src')
             WHERE event_id IN (SELECT event_id FROM r13_sqlcl_events
                                WHERE event_id % 7 = 0)""").collect()
      s.sql(s"CLONE graft_table('$src') TO graft_table('$dst')")
        .collect()
      s.sql(s"""INSERT INTO graft_table('$dst')
             SELECT * FROM r13_sqlcl_events WHERE event_id % 2 = 1""")
        .collect()
      def dig(p: String, probe: String) =
        s.sql(s"""SELECT '$probe' AS probe, count(*) AS n_rows,
                 CAST(sum(user_id) AS BIGINT) AS user_sum,
                 CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                   AS val_sum
               FROM graft_version('$p')""")
      dig(dst, "dst").unionByName(dig(src, "src"))
    }),

    // TIMESTAMP-ADDRESSED CHANGEFEED — Delta's ts-based CDF: the rows
    // added since "my last sync at time t" without version
    // bookkeeping — both bounds binary-searched to versions over the
    // monotone commit stamps, then the same O(changed files) manifest
    // difference as table_changes. The (ts(v1), ts(v3)] window is
    // exactly the residue-1 and residue-2 commits.
    "q_changefeed_ts" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_cfts", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(ev.filter(col("event_id") % 3 === r),
          path); ()
      }
      val ts1 = SinkOps.commitTimestamp(s, path, 1)
      val ts3 = SinkOps.commitTimestamp(s, path, 3)
      s.sql(s"""SELECT event_type, count(*) AS n_rows,
               CAST(sum(user_id) AS BIGINT) AS user_sum,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 AS val_sum
             FROM table_changes_asof('$path', $ts1, $ts3)
             GROUP BY event_type""")
    }),

    // BOUNDED OCC COMMIT RETRY — concurrent writers LAND instead of
    // erroring: the batch's files are written once under a
    // commit-unique dir, and on a version-number collision only the
    // manifest attempt retries against the re-read head (the Delta
    // commit loop). Here a competing writer lands v2 inside the race
    // window (the test seam fires after allocation, before the
    // manifest attempt); the retrying commit re-resolves carry-forward
    // — now INCLUDING the winner's dir — and lands v3: the head holds
    // all three slices, no lost update by construction.
    "q_occ_retry" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_occ", d)
      SinkOps.commitVersion(e.filter(col("event_id") % 3 === 0), path)
      val v = SinkOps.commitVersion(
        e.filter(col("event_id") % 3 === 2), path,
        SinkOps.CommitSpec(retries = 3, beforeAttempt = n => if (n == 1) {
          SinkOps.commitVersion(e.filter(col("event_id") % 3 === 1),
            path); ()
        }))
      SinkOps.readVersion(s, path).agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("user_sum"),
          col("val_sum"))
    }),

    // OCC RETRY FOR THE DV WRITERS (round 14) — the concurrent-writer
    // story completed: a MERGE loses its version race to a competing
    // commit and RETRIES (sidecar + data dir written once under
    // commit-unique names, only the manifest attempt re-runs), with
    // the retry re-carrying the WINNER's lines so the merge's delete
    // sidecar scopes the winner's rows too — serialized semantics by
    // construction; then a key DELETE survives its own race the same
    // way. Both landed versions and the final resolved digest are
    // pinned by the oracle's relational replay of the serialized
    // order.
    "q_occ_retry_dv" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
      val path = freshTmpPath(s, "graft_occdv", d)
      SinkOps.commitVersion(e.filter(col("event_id") % 2 === 0), path)
      val vMerge = SinkOps.mergeVersion(
        e.filter(col("event_id") % 10 === 0)
          .withColumn("event_type", lit("merged"))
          .withColumn("value", col("value") + 9000.0),
        path, "event_id",
        SinkOps.CommitSpec(retries = 3, beforeAttempt = n => if (n == 1) {
          SinkOps.commitVersion(e.filter(col("event_id") % 2 === 1),
            path); ()
        }))
      val vDel = SinkOps.deleteVersionKeys(
        e.filter(col("event_id") % 6 === 0).select("event_id"), path,
        "event_id",
        retries = 3,
        beforeAttempt = n => if (n == 1) {
          SinkOps.commitVersion(
            e.filter(col("event_id") % 8 === 1)
              .withColumn("event_id", col("event_id") + 10000000L),
            path); ()
        })
      SinkOps.readVersion(s, path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          sum(col("value").cast("decimal(28,4)")).cast("double")
            .as("val_sum"))
        .withColumn("v_merge", lit(vMerge))
        .withColumn("v_del", lit(vDel))
    }),

    // OCC RETRY FOR THE MAINTENANCE VERBS (round 15) — the nightly
    // schema/maintenance job racing a live writer LANDS instead of
    // aborting: a WIDEN loses its version race to a competing append
    // and retries with per-verb re-validation (the column's CURRENT
    // type re-checked in the advanced head); then OPTIMIZE loses to
    // another append and retries by RE-RESOLVING the advanced
    // snapshot and re-packing — the racer's rows are in the pack by
    // construction, never silently dropped (a compaction's payload
    // derives from the snapshot, so unlike the metadata verbs its
    // retry re-reads data). Landed versions + final digest pinned by
    // the oracle's replay of the serialized order.
    "q_occ_retry_maint" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          (col("event_id") % 1000).cast("int").as("vint"))
      val path = freshTmpPath(s, "graft_occmaint", d)
      SinkOps.commitVersion(e.filter(col("event_id") % 2 === 0), path)
      val vWiden = SinkOps.widenVersionColumn(s, path, "vint",
        "bigint", maxTries = 2, beforeAttempt = n => if (n == 1) {
          SinkOps.commitVersion(e.filter(col("event_id") % 2 === 1),
            path); ()
        })
      val vOpt = SinkOps.compactVersions(s, path,
        retries = 2,
        beforeAttempt = n => if (n == 1) {
          SinkOps.commitVersion(
            e.filter(col("event_id") % 4 === 2)
              .withColumn("event_id", col("event_id") + 20000000L),
            path); ()
        })
      SinkOps.readVersion(s, path)
        .agg(count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          sum("vint").as("vint_sum"))
        .select(lit(vWiden).as("v_widen"), lit(vOpt).as("v_opt"),
          col("n_rows"), col("user_sum"), col("vint_sum"))
    }),

    // DV-TOLERANT METADATA AGGREGATION — cheap counts exactly when
    // the table is hottest: a CDC-merged head carries a delete
    // sidecar, and statsAggDv answers clean epochs (dirs trailing
    // every sidecar) ENTIRELY from stats sidecars while only the
    // DV-scoped epochs pay the anti-join — O(affected dirs), never
    // O(table); plain statsOnlyAgg refuses this manifest by contract.
    // Oracle recomputes count/min/max on the resolved survivors.
    "q_stats_dv" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_statsdv", d)
      (0L to 1L).foreach { r =>
        SinkOps.commitVersion(
          e.filter(col("event_id") % 3 === r)
            .repartitionByRange(4, col("event_id")),
          path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      SinkOps.deleteVersionKeys(
        e.filter(col("event_id") % 7 === 0).select("event_id"),
        path, "event_id")
      SinkOps.commitVersion(
        e.filter(col("event_id") % 3 === 2)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id")))
      SinkOps.statsAggDv(s, path)
        .select("n_rows", "min_event_id", "max_event_id")
    }),

    // K-DIMENSIONAL OPTIMIZE ZORDER — the 2-D Morton compaction
    // generalized: three columns interleave bit-by-bit (the same bit
    // budget split 3 ways) and all three get zone maps, so a 3-D box
    // predicate prunes files on the intersection of three tight
    // per-file ranges (spec pins it strictly tighter than every 2-D
    // projection). The derived zkey column makes the third dimension
    // integer-exact in both engines.
    "q_compact_zorder_k" -> ((s, d) => {
      val e = Tables.events(s, d)
      val t = e.select(col("event_id"), col("user_id"),
        pmod(col("event_id") * 37 + col("user_id"), lit(4096L))
          .as("zkey"),
        col("event_type"))
      val path = freshTmpPath(s, "graft_zoptk", d)
      (0L to 1L).foreach { r =>
        SinkOps.commitVersion(t.filter(col("event_id") % 2 === r),
          path); ()
      }
      SinkOps.compactVersions(s, path,
        SinkOps.Compaction.ZOrder(Seq("event_id", "user_id", "zkey"),
          bits = 14))
      val b = e.agg(min("user_id"), max("user_id"),
        min("event_id"), max("event_id")).head()
      val (umin, umax, emin, emax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (elo, ehi) = (emin + (emax - emin + 1) / 4,
        emin + (emax - emin + 1) / 2)
      val span3 = (umax - umin + 1) / 3
      val (ulo, uhi) = (umin + span3, umin + 2 * span3 - 1)
      SinkOps.readVersionWhere(s, path,
          Seq(LongRange("event_id", elo, ehi), LongRange("user_id", ulo, uhi),
            LongRange("zkey", 0L, 2047L)))
        .select(col("event_id"), col("user_id"), col("zkey"),
          col("event_type"))
    }),

    // RETENTION-SAFE VACUUM — the grace horizon: versions committed
    // within `retainMillis` survive even when `keep` would expire
    // them (a reader pinned mid-scan cannot lose files to an
    // aggressive sweep — Delta's retention-duration role, resolved
    // against the VACUUM-invariant commit stamps). The graced sweep
    // deletes NOTHING (all history is seconds old) and the pinned v2
    // read still answers; the eager sweep then reclaims exactly the
    // three pre-compaction dirs.
    "q_vacuum_grace" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_vacgrace", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(e.filter(col("event_id") % 3 === r),
          path); ()
      }
      SinkOps.compactVersions(s, path) // v4: one dir, v1-3 unreferenced
      val nGraced = SinkOps.expireVersions(s, path, keep = 4,
        retainMillis = 86400000L)
      // Materialized EAGERLY: the eager sweep below deletes v2's
      // files, and a lazy plan would try to read them at union time.
      val dig2 = SinkOps.readVersion(s, path, Some(2)).agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"))
        .select(lit("grace").as("probe"), lit(nGraced).as("n_deleted"),
          col("n_rows"), col("user_sum"))
        .localCheckpoint(true)
      val nEager = SinkOps.expireVersions(s, path, 4)
      dig2.unionByName(
        SinkOps.readVersion(s, path).agg(
            count(lit(1)).as("n_rows"),
            sum("user_id").as("user_sum"))
          .select(lit("eager").as("probe"), lit(nEager).as("n_deleted"),
            col("n_rows"), col("user_sum")))
    }),
    // VACUUM DRY RUN (r15) — the pre-flight for an irreversible
    // maintenance sweep: the exact would-be-reclaimed dir list from
    // the same planning body as the real sweep, with NOTHING touched
    // — proven by the pinned v2 read still answering afterwards.
    // Oracle pins the deterministic dir names AND the untouched
    // snapshot digest.
    "q_vacuum_dryrun" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_vacdry", d)
      (0L to 2L).foreach { r =>
        SinkOps.commitVersion(e.filter(col("event_id") % 3 === r),
          path); ()
      }
      SinkOps.compactVersions(s, path) // v4; v1-3 dirs unreferenced
      val would = SinkOps.vacuumDryRun(s, path, keep = 4)
      SinkOps.readVersion(s, path, Some(2)).agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"))
        .select(lit(would.size).as("n_would"),
          lit(would.sorted.mkString(",")).as("would_dirs"),
          col("n_rows"), col("user_sum"))
    }),
    // DESCRIBE HISTORY from metadata alone: the table-growth timeline
    // (rows, dirs, stat ranges per version) read from manifests +
    // stats sidecars with zero data-file IO — what an operator checks
    // before touching a 100 TB table. Oracle rebuilds each snapshot's
    // digest from the residue-class construction.
    "q_version_history" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_vh", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(e.filter(col("event_id") % 3 === r), path,
          SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      SinkOps.versionHistory(s, path)
        .select("version", "n_dirs", "n_rows", "min_stat", "max_stat",
          "n_delete_commits")
    }),
    // METADATA-ONLY aggregation: count/min/max answered from the
    // manifest's stats sidecars with ZERO data-file IO — O(manifest)
    // driver work against what would be a 100 TB scan. The oracle
    // recomputes the same digest the hard way.
    "q_stats_only" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_statsonly", d)
      (0 to 2).foreach { r =>
        SinkOps.commitVersion(e.filter(col("event_id") % 3 === r),
          path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
      }
      SinkOps.statsOnlyAgg(s, path)
        .select("n_rows", "min_event_id", "max_event_id")
    }),
    // VACUUM: after compaction the pre-compaction data dirs are
    // unreferenced by the head — expire removes exactly those two by
    // reference counting (n_removed pinned), and the surviving head
    // still reads clean (the digest proves no live file was GC'd).
    "q_expire_versions" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_tte", d)
      val bd = lit(IvmBoundary).cast("date")
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") < bd), path)
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") >= bd), path)
      val v = SinkOps.compactVersions(s, path)
      val removed = SinkOps.expireVersions(s, path, keep = v)
      SinkOps.readVersion(s, path, Some(v)).agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(lit(v).as("version"), lit(removed).as("n_removed"),
          col("n_rows"), col("sum_price"), col("custkey_sum"))
    }),

    // Write-audit-publish: v1 commits clean; a corrupted batch (negated
    // prices) is STAGED, audited by reading the staged files back,
    // rejected and rolled back — the table provably never saw it; the
    // clean batch stages, audits green, and publishes atomically. The
    // final digest is the full uncorrupted table: if the audit gate
    // ever waves the bad batch through, the negated prices break the
    // hash.
    "q_wap" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_wap", d)
      val bd = lit(IvmBoundary).cast("date")
      val rest = o.filter(col("o_orderdate").cast("date") >= bd)
      SinkOps.commitVersion(
        o.filter(col("o_orderdate").cast("date") < bd), path)
      def auditPasses(v: Int): Boolean =
        SinkOps.readStaged(s, path, v)
          .filter(col("o_totalprice") < 0).limit(1).count() == 0L
      val bad = SinkOps.stageVersion(
        rest.withColumn("o_totalprice", -col("o_totalprice")), path)
      require(!auditPasses(bad), "audit failed to flag the bad batch")
      SinkOps.rollbackStaged(s, path, bad)
      val good = SinkOps.stageVersion(rest, path)
      require(auditPasses(good), "audit flagged the clean batch")
      SinkOps.publishStaged(s, path, good)
      SinkOps.readVersion(s, path).agg(
          count(lit(1)).as("n_rows"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          sum("o_custkey").as("custkey_sum"))
        .select(lit(SinkOps.currentVersion(s, path)).as("version"),
          col("n_rows"), col("sum_price"), col("custkey_sum"))
    }),

    // Merge-on-read DELETE (deletion vectors): v3 commits a key
    // sidecar — ZERO data files rewritten — and readers resolve it by
    // one broadcast anti-join; a pinned v2 reader still sees the
    // deleted rows (time travel untouched), and v4 RE-INSERTS half the
    // deleted keys, which must survive because a delete sidecar scopes
    // only to data dirs committed BEFORE it (manifest order = commit
    // order — the ordered-fold semantics that make DV merges sound).
    "q_version_delete" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_dv", d)
      SinkOps.commitVersion(e.filter(col("event_id") % 2 === 0), path)
      SinkOps.commitVersion(e.filter(col("event_id") % 2 === 1), path)
      SinkOps.deleteVersionKeys(
        e.filter(col("event_id") % 7 === 0).select("event_id"),
        path, "event_id")
      SinkOps.commitVersion(e.filter(col("event_id") % 14 === 0), path)
      def dig(v: Int) = SinkOps.readVersion(s, path, Some(v)).agg(
          count(lit(1)).as("n_rows"),
          sum("user_id").as("user_sum"),
          AggOps.exactSum(col("value")).as("val_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("user_sum"),
          col("val_sum"))
      dig(2).unionByName(dig(3)).unionByName(dig(4))
    }),

    // MERGE as one version commit — the delete+reinsert encoding:
    // the batch (updates to every 5th key + brand-new inserted keys)
    // lands as a delete sidecar scoped to prior dirs plus a new data
    // dir, O(batch) write cost with no matched-row scan; matched keys
    // read as their new rows, unmatched pass the anti-join untouched.
    "q_version_merge" -> ((s, d) => {
      val e = Tables.events(s, d)
      val path = freshTmpPath(s, "graft_mrg", d)
      SinkOps.commitVersion(e, path)
      val batch = e.filter(col("event_id") % 5 === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") + lit(1000.0d))
        .unionByName(e.filter(col("event_id") % 3 === 0)
          .withColumn("event_id", col("event_id") + lit(100000L))
          .withColumn("event_type", lit("inserted")))
      SinkOps.mergeVersion(batch, path, "event_id")
      SinkOps.readVersion(s, path).groupBy("event_type").agg(
        count(lit(1)).as("n_rows"),
        sum("user_id").as("user_sum"),
        AggOps.exactSum(col("value")).as("val_sum"))
    }),

    // Retraction IVM: the delete half of incremental aggregate
    // maintenance — the deleted slice's state SUBTRACTS (cnt/sum have
    // inverses; min/max dropped by contract, not silently stale). The
    // oracle recomputes on the surviving rows from scratch.
    "q_ivm_retract" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val prev = AggOps.aggState(li, "l_returnflag", "l_quantity")
      val deleted = AggOps.aggState(
        li.filter(pmod(col("l_orderkey"), lit(5)) === 0),
        "l_returnflag", "l_quantity")
      AggOps.retractAggStates(prev, deleted, "l_returnflag")
    }),

    // Additive schema evolution across snapshots: v2's commit carries a
    // new column; the merged-schema read null-fills legacy rows —
    // history is never rewritten. Digest split by legacy/evolved.
    "q_evolve_versions" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val path = freshTmpPath(s, "graft_ttev", d)
      val bd = lit(IvmBoundary).cast("date")
      SinkOps.commitVersion(o.filter(col("o_orderdate").cast("date") < bd)
        .select("o_orderkey", "o_custkey", "o_totalprice"), path)
      SinkOps.commitVersion(o.filter(col("o_orderdate").cast("date") >= bd)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (col("o_custkey") % 7).as("o_segment")), path)
      SinkOps.readVersion(s, path, mergeSchema = true)
        .groupBy(col("o_segment").isNull.as("legacy"))
        .agg(count(lit(1)).as("n_rows"),
          sum("o_custkey").as("custkey_sum"),
          sum(coalesce(col("o_segment"), lit(0L))).as("seg_sum"))
    }),

    // Streaming as-of enrichment: micro-batches of events pick up the
    // latest prior order state — per-batch as-of composes losslessly,
    // so the shared q_join_asof oracle pins streamed ≡ batch.
    "q_stream_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val eu = ev.select(col("event_id"), col("user_id"),
        EventOps.microsOf(ev, "ts").as("tus"))
      val or = Tables.orders(s, d)
      val ou = or.select(col("o_custkey").as("user_id"),
        col("o_orderkey"), EventOps.microsOf(or, "o_orderdate").as("o_us"))
      val b = eu.agg(min("event_id"), max("event_id")).head()
      graft.streaming.StreamOps.asofEnrichReplay(eu, ou, "user_id",
        "tus", "o_us", "o_orderkey",
        tmpPath("graft_stream_asof", d), "event_id",
        Seq((b.getLong(0) + b.getLong(1)) / 2))
    }),

    // Incremental triangle maintenance: base count from the persisted
    // artifact + the three delta categories (1/2/3 new edges per
    // triangle), each counted once without re-enumerating base wedges.
    // Oracle re-enumerates the union with per-triangle delta tags.
    "q_triangle_incr" -> ((s, d) => {
      val canon = GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val base = canon.filter((col("a") + col("b")) % 10 =!= 0)
      val delta = canon.filter((col("a") + col("b")) % 10 === 0)
      val path = tmpPath("graft_tri_base", d)
      GraphOps.writeTriangleBase(
        base.select(col("a").as("src"), col("b").as("dst")), path)
      GraphOps.triangleIncrement(base, delta, path)
    }),

    // Per-source-file provenance audit: corpus written sharded, re-read,
    // and accounted for by the PATH each row came from (input_file_name),
    // cross-checked against the shard column with a mismatch counter the
    // oracle pins to 0 — the find-the-bad-shard sweep of a 100k-file
    // ingest. Oracle derives the same per-shard rollup from doc_id
    // arithmetic alone.
    "q_provenance" -> ((s, d) =>
      SinkOps.provenanceAudit(Tables.documents(s, d),
        tmpPath("graft_prov", d))),

    // Right-to-be-forgotten delete on a partitioned lake table: lay
    // orders down partitioned by priority, erase the custkey-mod-97
    // cohort via SinkOps.deleteWhere (partition-scoped rewrite, dynamic
    // overwrite, fully-emptied partitions removed explicitly), then
    // re-read THE TABLE and aggregate. The oracle runs the same rollup
    // on the anti-filtered source — equality proves the rewrite deleted
    // exactly the cohort and nothing else, losslessly.
    "q_gdpr_delete" -> ((s, d) => {
      val out = tmpPath("graft_gdpr", d)
      SinkOps.writeParquet(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority"),
        out, partitionBy = Seq("o_orderpriority"))
      SinkOps.deleteWhere(s, out, "o_orderpriority",
        col("o_custkey") % 97 === 0)
      Tables.parquet(s, out)
        .groupBy("o_orderpriority").agg(
          count(lit(1)).as("cnt"),
          AggOps.exactSum(col("o_totalprice")).as("sum_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
    }),

    // Bucketed-table round trip: both sides written bucketed on the join
    // key (the write-time exchange that makes every later join on that
    // key shuffle-free — plan-asserted in SinkOpsSpec), then joined and
    // aggregated; the oracle is the plain join-aggregate on the source
    // tables, so equality proves the bucketed layout lossless.
    "q_sink_bucketed" -> ((s, d) => {
      val suf = (d + "_" + RunNonce).replaceAll("[^a-zA-Z0-9]", "_")
      val lt = s"graft_bkt_lineitem_$suf"
      val ot = s"graft_bkt_orders_$suf"
      // A fresh in-memory catalog can't overwrite a location left by a
      // previous JVM (pid reuse): drop table AND orphan directory first.
      // Hadoop FS recursive delete (the q_sql_ctas / SinkOps.deleteWhere
      // pattern), not java.io.File recursion: on an object-store
      // warehouse the local-File rm would silently no-op.
      for (t <- Seq(lt, ot)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val dir = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        dir.getFileSystem(s.sessionState.newHadoopConf()).delete(dir, true)
      }
      SinkOps.writeBucketed(Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity"), lt, "l_orderkey", 8)
      SinkOps.writeBucketed(Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority"), ot, "o_orderkey", 8)
      val l = s.table(lt); val o = s.table(ot)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
    }),

    // Zstd-compressed parquet round trip: the cold-storage codec choice
    // (zstd ≈ gzip ratio at ~3× the decode speed — the right default
    // for a 100 TB archive tier). Write with compression=zstd, read
    // back, aggregate; oracle aggregates the source directly, proving
    // the codec path lossless. FileNameSpec-style check lives in
    // SinkOpsSpec (part files carry the .zstd.parquet infix).
    "q_sink_zstd" -> ((s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_quantity", "l_extendedprice")
      val out = tmpPath("graft_sink_zstd", d)
      src.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "zstd").parquet(out)
      Tables.parquet(s, out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          AggOps.exactSum(col("l_extendedprice")).as("sum_price"))
    }),

    // Mann-Whitney U (rank-sum) test between the A and R return-flag
    // populations on l_quantity — the nonparametric A/B test. Scale
    // shape: ranks are NEVER materialized per row; the value domain is
    // compressed first (one map-side-combined count agg), then the
    // rank algebra runs over the ≤|domain| distinct values (U_A =
    // Σ_v cntA(v)·(cumB(<v) + cntB(v)/2), kept integral as 2U). The
    // unpartitioned window is over the ~50-row compressed domain, not
    // the table. z uses the tie-corrected normal approximation — a
    // fixed IEEE expression of exact int64 moments, association order
    // mirrored in the oracle.
    "q_mannwhitney" -> ((s, d) => {
      val h = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_quantity").cast("long").as("v"))
        .agg(sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val t = h.select(col("ca"), col("cb"),
        coalesce(sum("cb").over(w), lit(0L)).as("cumb"))
      t.agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
          sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("u2_a"),
          sum((col("ca") + col("cb")) * (col("ca") + col("cb"))
            * (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("tie3"))
        .selectExpr("n_a", "n_b", "u2_a",
          """(CAST(u2_a AS DOUBLE) - CAST(n_a * n_b AS DOUBLE)) /
             (2.0 * sqrt(CAST(n_a * n_b AS DOUBLE) *
               ((CAST(n_a + n_b AS DOUBLE) + 1.0) -
                CAST(tie3 AS DOUBLE) /
                  (CAST(n_a + n_b AS DOUBLE) *
                   (CAST(n_a + n_b AS DOUBLE) - 1.0))) / 12.0)) AS z""")
    }),

    // Equi-depth decile binning — the feature-engineering quantizer.
    // Same domain-compression discipline as q_mannwhitney: count per
    // distinct value (map-side combined), cumulative rank over the
    // tiny compressed domain, then the whole tie-group lands in the
    // decile of its LAST member (bucket = ((cum-1)·10) div n) — a
    // deterministic rule, unlike NTILE's arbitrary tie splitting.
    // Adjacent deciles swallowed by a heavy tie-group simply don't
    // appear — exact, reproducible bucket boundaries at any scale.
    "q_binning" -> ((s, d) => {
      val h = AggOps.domainGuard(
        Tables.lineitem(s, d)
          .groupBy(col("l_quantity").cast("long").as("v"))
          .agg(count(lit(1)).as("cnt")),
        DomainBound, "q_binning")
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      h.select(col("v"), col("cnt"),
          sum("cnt").over(w).as("cum"), expr("sum(cnt) over ()").as("n"))
        .select(col("v"), col("cnt"),
          expr("((cum - 1) * 10) div n").as("bucket"))
        .groupBy("bucket").agg(sum("cnt").as("n_rows"),
          min("v").as("min_v"), max("v").as("max_v"))
    }),

    // Custom record-delimiter text round trip (lineSep = ASCII RS,
    // U+001E): the log-shard format where records are NOT
    // newline-framed — multi-line payloads stay single records, the
    // framing byte-range split contract the offset-text source pins
    // for \n. Write and read both use the custom delimiter; the
    // aggregate equals the source-table derivation (oracle), proving
    // the framing lossless.
    "q_source_linesep" -> ((s, d) => {
      val src = Tables.documents(s, d).select(
        concat_ws("|", col("doc_id"), md5(col("text"))).as("value"))
      val out = tmpPath("graft_linesep", d)
      src.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("lineSep", "\u001e").text(out)
      s.read.option("lineSep", "\u001e").text(out)
        .select(split(col("value"), "\\|").as("p"))
        .select(col("p").getItem(0).cast("long").as("doc_id"),
          col("p").getItem(1).as("h"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
          min("h").as("min_md5"), max("h").as("max_md5"))
    }),

    // Small-file compaction round trip: fragment the source into 64
    // shards (a landing zone's worth of tiny files), compact to 4
    // right-sized files with one round-robin exchange (SinkOps
    // .compact), read back and aggregate — the oracle on the source
    // proves the rewrite is a pure layout change. File-count contract
    // spec-asserted in SinkOpsSpec.
    "q_compact" -> ((s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      val frag = tmpPath("graft_compact_in", d)
      src.repartition(64).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(frag)
      val out = tmpPath("graft_compact_out", d)
      SinkOps.compact(s, frag, out, 4)
      Tables.parquet(s, out).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          AggOps.exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // Winsorized robust statistics: exact p1/p99 order statistics from
    // the compressed cents domain (discrete percentile = smallest value
    // whose inclusive cumulative count reaches ceil(n·p/100) — the
    // histogramQuantiles rank-target convention), values clipped to
    // the fences, exact clipped sum + IEEE mean. The 1-row threshold
    // frame attaches by broadcast; events never shuffle.
    "q_winsorize" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(floor(col("value") * 100).cast("long").as("c"))
      val h = AggOps.domainGuard(
        ev.groupBy("c").agg(count(lit(1)).as("k")),
        DomainBound, "q_winsorize")
      val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
      val thr = h.select(col("c"), sum("k").over(w).as("cum"),
          expr("sum(k) over ()").as("n"))
        .agg(min(when(col("cum") >= expr("(n * 1 + 99) div 100"), col("c")))
            .as("p01_c"),
          min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("c")))
            .as("p99_c"))
      ev.crossJoin(broadcast(thr))
        .select(least(greatest(col("c"), col("p01_c")), col("p99_c"))
          .as("cc"), col("p01_c"), col("p99_c"))
        .groupBy("p01_c", "p99_c")
        .agg(count(lit(1)).as("n"), sum("cc").as("sum_clip"))
        .select(col("n"), col("p01_c"), col("p99_c"), col("sum_clip"),
          (col("sum_clip").cast("double") / col("n").cast("double"))
            .as("mean_clip"))
    }),

    // Wald-Wolfowitz runs test on the daily mean-dollar series — the
    // randomness check that catches regime structure a mean/variance
    // summary can't. Sign = above/at-or-below the integer mean
    // (deterministic), runs counted via one lag over the ≤|days|
    // compressed series, z from the closed-form run moments — fixed
    // IEEE over exact int64 counts, association mirrored in the
    // oracle.
    "q_runs_test" -> ((s, d) => {
      val ser = Tables.orders(s, d)
        .select(col("o_orderdate").cast("date").as("day"),
          floor(col("o_totalprice")).cast("long").as("dollars"))
        .groupBy("day").agg(expr("sum(dollars) div count(1)").as("x"))
      val mu = ser.agg(expr("sum(x) div count(1)").as("mu"))
      val w = Window.orderBy("day")
      val signed = ser.crossJoin(broadcast(mu))
        .select(col("day"), when(col("x") > col("mu"), 1L).otherwise(0L)
          .as("sgn"))
        .select(col("sgn"), lag("sgn", 1).over(w).as("prev"))
      signed.agg(
          sum(col("sgn")).as("n_above"),
          sum(lit(1L) - col("sgn")).as("n_below"),
          (sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
            .otherwise(0L))).as("runs"))
        .selectExpr("n_above", "n_below", "runs",
          """(CAST(runs AS DOUBLE) -
              (1.0 + 2.0 * CAST(n_above * n_below AS DOUBLE)
                 / CAST(n_above + n_below AS DOUBLE))) /
             sqrt((2.0 * CAST(n_above * n_below AS DOUBLE)
                 * (2.0 * CAST(n_above * n_below AS DOUBLE)
                    - CAST(n_above + n_below AS DOUBLE)))
               / (CAST(n_above + n_below AS DOUBLE)
                  * CAST(n_above + n_below AS DOUBLE)
                  * (CAST(n_above + n_below AS DOUBLE) - 1.0))) AS z""")
    }),

    // Temporal train/test split with a leakage audit — the ML-pipeline
    // split done RIGHT: the cutoff is the earliest day whose inclusive
    // cumulative event count reaches 80%, train/test divide on it, and
    // the deliverable includes the user-overlap count — the leakage
    // number a random split hides and a temporal-split review asks
    // for. Heavy work: one day-rollup + two user-keyed distincts.
    "q_time_split" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val ev = ev0
        .select(EventOps.microsOf(ev0, "ts").as("tus"), col("user_id"))
        .select(expr("tus div 86400000000").as("day"), col("user_id"))
      val byDay = ev.groupBy("day").agg(count(lit(1)).as("k"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val cut = byDay.select(col("day"), sum("k").over(w).as("cum"),
          expr("sum(k) over ()").as("n"))
        .agg(min(when(col("cum") >= expr("(n * 80 + 99) div 100"),
          col("day"))).as("cut"))
      val tagged = ev.crossJoin(broadcast(cut))
        .select(col("user_id"),
          when(col("day") < col("cut"), "train").otherwise("test")
            .as("split"), col("cut"))
      val stats = tagged.groupBy("cut", "split")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("users"))
      val leak = tagged.select("split", "user_id").distinct()
        .groupBy("user_id").agg(count(lit(1)).as("sides"))
        .filter(col("sides") === 2)
        .agg(count(lit(1)).as("leak_users"))
      stats.crossJoin(broadcast(leak))
        .select(col("cut").as("cutoff_day"), col("split"), col("n"),
          col("users"), col("leak_users"))
    }),

    // Two-sample Kolmogorov-Smirnov distance between the purchase and
    // view value distributions — EXACT: D = max|F₁−F₂| evaluated on
    // the compressed cents domain as max|cum₁·n₂ − cum₂·n₁| (pure
    // int64; one final IEEE division by n₁n₂). The distribution-shift
    // detector with zero approximation.
    "q_ks_test" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(floor(col("value") * 100).cast("long").as("c"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("g"))
      val h = ev.groupBy("c").agg(
        sum(col("g")).as("k1"), sum(lit(1L) - col("g")).as("k2"))
      val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
      h.select(col("c"), sum("k1").over(w).as("cum1"),
          sum("k2").over(w).as("cum2"),
          expr("sum(k1) over ()").as("n1"), expr("sum(k2) over ()").as("n2"))
        .select(col("n1"), col("n2"),
          abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dn"))
        .groupBy("n1", "n2").agg(max("dn").as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("d_num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double")))
            .as("ks_d"))
    }),

    // Exact ROC AUC via the rank-sum identity AUC = U/(n₁n₀) with the
    // tie/2 convention — the q_mannwhitney algebra pointed at a
    // classifier readout (score = value, positive = purchase). Ranks
    // never materialize; 2U stays integral; one IEEE division.
    "q_auc" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(floor(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("g"))
      val h = ev.groupBy("v").agg(
        sum(col("g")).as("cp"), sum(lit(1L) - col("g")).as("cn"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val t = h.select(col("cp"), col("cn"),
        coalesce(sum("cn").over(w), lit(0L)).as("cumn"))
      t.agg(sum("cp").as("n_pos"), sum("cn").as("n_neg"),
          sum(col("cp") * (lit(2L) * col("cumn") + col("cn"))).as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          (col("u2").cast("double") / (lit(2.0)
            * col("n_pos").cast("double") * col("n_neg").cast("double")))
            .as("auc"))
    }),

    // Population drift as total-variation distance (the no-libm PSI
    // replacement): value-band distributions of the pre/post halves
    // (the q_time_split 50% cutoff), TVD = ½Σ|p−q| computed from exact
    // per-band counts — max|…| products stay int64; one IEEE close.
    "q_drift_tvd" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val ev = ev0.select(EventOps.microsOf(ev0, "ts").as("tus"),
          col("value"))
        .select(expr("tus div 86400000000").as("day"),
          floor(col("value") / 50.0).cast("long").as("band"))
      val byDay = ev.groupBy("day").agg(count(lit(1)).as("k"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val cut = byDay.select(col("day"), sum("k").over(w).as("cum"),
          expr("sum(k) over ()").as("n"))
        .agg(min(when(col("cum") >= expr("(n * 50 + 99) div 100"),
          col("day"))).as("cut"))
      val h = ev.crossJoin(broadcast(cut))
        .groupBy("band").agg(
          sum(when(col("day") < col("cut"), 1L).otherwise(0L)).as("k1"),
          sum(when(col("day") >= col("cut"), 1L).otherwise(0L)).as("k2"))
      h.select(col("k1"), col("k2"),
          expr("sum(k1) over ()").as("n1"), expr("sum(k2) over ()").as("n2"))
        .groupBy("n1", "n2")
        .agg(sum(abs(col("k1") * col("n2") - col("k2") * col("n1")))
          .as("num"))
        .select(col("n1"), col("n2"),
          (col("num").cast("double")
            / (lit(2.0) * col("n1").cast("double")
               * col("n2").cast("double"))).as("tvd"))
    }),

    // Threshold-classifier confusion matrix + precision/recall in
    // integer ppm: score = value, positive = purchase, threshold = the
    // global median cents (deterministic discrete order statistic).
    // One counting pass against the broadcast threshold.
    "q_confusion" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(floor(col("value") * 100).cast("long").as("c"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("g"))
      val h = ev.groupBy("c").agg(count(lit(1)).as("k"))
      val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
      val thr = h.select(col("c"), sum("k").over(w).as("cum"),
          expr("sum(k) over ()").as("n"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("c")))
          .as("thr"))
      ev.crossJoin(broadcast(thr))
        .agg(sum(when(col("c") >= col("thr"), col("g")).otherwise(0L))
            .as("tp"),
          sum(when(col("c") >= col("thr"), lit(1L) - col("g"))
            .otherwise(0L)).as("fp"),
          sum(when(col("c") < col("thr"), col("g")).otherwise(0L))
            .as("fn"),
          sum(when(col("c") < col("thr"), lit(1L) - col("g"))
            .otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
          expr("(tp * 1000000) div (tp + fn)").as("recall_ppm"))
    }),

    // Cumulative-gains (lift) curve by score decile: the deterministic
    // q_binning decile rule on the score domain, positives captured
    // per decile, cumulative capture rate in ppm from the top decile
    // down — the targeting-efficiency readout.
    "q_lift_curve" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(floor(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("g"))
      val h = ev.groupBy("v").agg(count(lit(1)).as("k"), sum("g").as("p"))
      val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
      val dec = h.select(col("v"), col("k"), col("p"),
          sum("k").over(w).as("cum"), expr("sum(k) over ()").as("n"))
        .select(col("k"), col("p"),
          expr("((cum - 1) * 10) div n").as("decile"))
        .groupBy("decile").agg(sum("k").as("n_rows"), sum("p").as("n_pos"))
      val wd = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      dec.select(col("decile"), col("n_rows"), col("n_pos"),
          sum("n_pos").over(wd).as("cum_pos"),
          expr("sum(n_pos) over ()").as("tot_pos"))
        .select(col("decile"), col("n_rows"), col("n_pos"),
          expr("(cum_pos * 1000000) div tot_pos").as("capture_ppm"))
    }),

    // Delete-one-bucket jackknife — error bars for a 100 TB mean
    // without resampling: 32 deterministic hash buckets, exact
    // per-bucket (n, Σcents), leave-one-out means QUANTIZED to integer
    // milli-cents (so Σθ and Σθ² stay exact int64 — a float sum over buckets
    // would be partition-order-dependent), and the jackknife variance
    // (B−1)/B·(Σθ² − (Σθ)²/B) closes in fixed IEEE. One aggregation
    // pass + 32-row algebra.
    "q_jackknife" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(floor(col("value") * 100).cast("long").as("c"),
          (TextOps.hash60(concat(lit("jk-"), col("event_id"))) % 32)
            .as("b"))
      val bk = ev.groupBy("b").agg(count(lit(1)).as("nb"),
        sum("c").as("sb"))
      val tot = bk.agg(sum("nb").as("n"), sum("sb").as("s"),
        count(lit(1)).as("nbuckets"))
      bk.crossJoin(broadcast(tot))
        .select(col("n"), col("nbuckets"),
          expr("((s - sb) * 1000) div (n - nb)").as("theta_mc"))
        .groupBy("n", "nbuckets")
        .agg(sum("theta_mc").as("st"),
          sum(col("theta_mc") * col("theta_mc")).as("stt"))
        .selectExpr("n", "nbuckets", "st", "stt",
          """(CAST(nbuckets AS DOUBLE) - 1.0) / CAST(nbuckets AS DOUBLE)
             * (CAST(stt AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                  / CAST(nbuckets AS DOUBLE)) AS jk_var_mc2""")
    }),

    // Distribution-free median confidence interval — order-statistic
    // bounds (the binomial-rank construction, no libm beyond sqrt):
    // rank bounds from n alone, values looked up in the compressed
    // cents domain. The CI a robust-metrics dashboard puts around its
    // median at any scale.
    "q_median_ci" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(floor(col("value") * 100).cast("long").as("c"))
      val h = ev.groupBy("c").agg(count(lit(1)).as("k"))
      val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
      val t = h.select(col("c"), sum("k").over(w).as("cum"),
        expr("sum(k) over ()").as("n"))
      t.select(col("c"), col("cum"), col("n"),
          expr("CAST(floor((CAST(n AS DOUBLE) " +
            "- 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)")
            .as("r_lo"),
          expr("CAST(ceil((CAST(n AS DOUBLE) " +
            "+ 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0 + 1.0) AS BIGINT)")
            .as("r_hi"),
          expr("(n + 1) div 2").as("r_med"))
        .groupBy("n", "r_lo", "r_hi", "r_med")
        .agg(min(when(col("cum") >= col("r_med"), col("c"))).as("median_c"),
          min(when(col("cum") >= col("r_lo"), col("c"))).as("ci_lo_c"),
          min(when(col("cum") >= col("r_hi"), col("c"))).as("ci_hi_c"))
        .select(col("n"), col("median_c"), col("ci_lo_c"), col("ci_hi_c"))
    }),

    // 2-D histogram (value band × hour-of-day heatmap) — the joint
    // density grid behind every anomaly heatmap; pure epoch/int
    // arithmetic, one map-side-combined agg, ≤|bands|·24 rows out.
    "q_histogram2d" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(EventOps.microsOf(ev, "ts").as("tus"), col("value"))
        .select(expr("(tus div 3600000000) % 24").as("hod"),
          floor(col("value") / 50.0).cast("long").as("band"),
          col("value"))
        .groupBy("band", "hod")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    }),

    // Label-centroid separation matrix — the embedding-space class
    // geometry report (which labels are confusable?): per-(label, dim)
    // integer centroid from quantized components, then all 45 pairwise
    // squared distances. The floor-mean shifts by +QScale before the
    // div so BOTH engines floor a nonnegative quotient (div truncates,
    // // floors — they disagree on negatives); Σ diff² ≤ 64·(2·QScale)²
    // ≈ 2.6e14 — exact int64, < 2^53.
    "q_label_centroids" -> ((s, d) => {
      val q = Tables.embeddings(s, d).select(col("label"),
        posexplode(SimilarityOps.quantize(col("embedding")))
          .as(Seq("dim", "qv")))
      val cent = q.groupBy("label", "dim")
        .agg(expr("((sum(qv) + count(1) * 1000000) div count(1)) - 1000000")
          .as("cm"))
      val a = cent.select(col("label").as("la"), col("dim"),
        col("cm").as("ca"))
      val b = cent.select(col("label").as("lb"), col("dim"),
        col("cm").as("cb"))
      a.join(b, Seq("dim")).filter(col("la") < col("lb"))
        .groupBy("la", "lb")
        .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
          .as("dist2"))
    }),

    // NEAR-dup benchmark decontamination — the 8-gram exact decontam's
    // blind spot closed: eval items that PARAPHRASE training docs
    // (here: planted first-word-stripped twins of every 37th train
    // doc) share no 8-gram but minhash-collide. Train = sources 0-9
    // (original ids), eval = sources 10-19 (+5e6) plus the planted
    // contamination (+6e6); the LSH band join emits only
    // cross-boundary pairs. Same bucketed scale shape as q_dedup_minhash.
    // SEMANTIC decontamination — the embedding-space member of the
    // family: training vectors within cos 0.95 of any benchmark vector
    // are flagged for removal (paraphrased leakage n-grams can't see).
    // Benchmark = the held-out %10 slice (+1M, clean) plus PLANTED
    // leaked train vectors (+2M exact copies of the %7 train slice) —
    // exact copies collide in every LSH table, so all are flagged.
    "q_decontam_embed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val train = emb.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val bench = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .union(emb.filter(col("vec_id") % 10 =!= 0 &&
            col("vec_id") % 7 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            col("embedding")))
      SimilarityOps.embedDecontam(train, bench)
    }),
    "q_decontam_near" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          expr("CAST(substr(source, 4, 10) AS INT)").as("si"))
      val corpus = base.filter(col("si") < 10)
        .select(col("doc_id"), col("text"))
        .union(base.filter(col("si") >= 10)
          .select(col("doc_id") + 5000000L, col("text")))
        .union(base.filter(col("si") < 10 && col("doc_id") % 37 === 0)
          .select(col("doc_id") + 6000000L,
            regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
      DedupOps.minhashCrossPairs(corpus, 5000000L)
    }),

    // Collocation mining by lift (the no-libm PMI): document-level
    // co-occurrence of frequent terms, lift = P(a,b)/(P(a)P(b))
    // computed as a mirrored integer floor-division chain in ppm. The
    // frequent-vocab filter (df ≥ 20) broadcasts and bounds the
    // per-doc pair expansion; top-20 by (lift, pair) deterministic.
    "q_collocations" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dt = docs.select(col("doc_id"),
          explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .distinct()
      val cw = dt.groupBy("w").agg(count(lit(1)).as("cw"))
        .filter(col("cw") >= 20)
      val nd = docs.agg(count(lit(1)).as("nd"))
      val freq = dt.join(broadcast(cw), "w")
      val pairs = freq.select(col("doc_id"), col("w").as("wa"),
          col("cw").as("ca"))
        .join(freq.select(col("doc_id"), col("w").as("wb"),
          col("cw").as("cb")), "doc_id")
        .filter(col("wa") < col("wb"))
        .groupBy("wa", "wb", "ca", "cb").agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      pairs.crossJoin(broadcast(nd))
        .select(col("wa"), col("wb"), col("ca"), col("cb"), col("cab"),
          expr("((cab * 1000000) div ca) * nd div cb").as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("wa"), col("wb")).limit(20)
    }),

    // Association-rule mining (market-basket 2-itemsets): orders are
    // baskets, the compressed part catalog (l_partkey mod AssocItemMod)
    // is the item domain, support is RELATIVE (≥ 1/AssocSupDiv of
    // baskets — scale-free, nothing to retune at 100 TB). Frequent
    // items prune BEFORE pair expansion (Apriori's monotonicity),
    // broadcast the ≤|catalog| frequent set, one keyed pair agg; both
    // rule directions out with exact-count conf/lift. Hot baskets are
    // capped at AssocMaxBasket top-support items (oracle mirrors the
    // identical deterministic rank).
    "q_assoc_rules" -> ((s, d) =>
      CurationOps.assocRules(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("basket"),
            (col("l_partkey") % AssocItemMod).as("item")),
        "basket", "item", AssocSupDiv, AssocMaxBasket)),

    // CUPED variance-reduced A/B readout — the modern experimentation
    // workhorse: per-user pre-period covariate x and post-period
    // metric y (both integer MEANS of cents, so every pooled moment
    // stays < 2^53 up to ~10^6 users — the q_autocorr bound), pooled
    // θ = cov(x,y)/var(x), and each arm's adjusted mean
    // ȳ − θ·(x̄_arm − x̄_pooled). Arms split on user parity; the
    // pre/post boundary is the 50%-event cutoff day. θ and the pooled
    // mean attach as a 1-row broadcast; association order mirrored in
    // the oracle.
    "q_abtest_cuped" -> ((s, d) => {
      val ev0 = Tables.events(s, d)
      val ev = ev0.select(EventOps.microsOf(ev0, "ts").as("tus"),
          col("user_id"), floor(col("value") * 100).cast("long").as("cents"))
        .select(expr("tus div 86400000000").as("day"), col("user_id"),
          col("cents"))
      val byDay = ev.groupBy("day").agg(count(lit(1)).as("k"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val cut = byDay.select(col("day"), sum("k").over(w).as("cum"),
          expr("sum(k) over ()").as("n"))
        .agg(min(when(col("cum") >= expr("(n * 50 + 99) div 100"),
          col("day"))).as("cut"))
      val tagged = ev.crossJoin(broadcast(cut))
      val pre = tagged.filter(col("day") < col("cut")).groupBy("user_id")
        .agg(expr("sum(cents) div count(1)").as("x"))
      val post = tagged.filter(col("day") >= col("cut")).groupBy("user_id")
        .agg(expr("sum(cents) div count(1)").as("y"))
      val u = pre.join(post, "user_id")
        .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
      val pooled = u.agg(count(lit(1)).as("n"),
          AggOps.exactSum(col("x"), 0).as("sx"),
          AggOps.exactSum(col("y"), 0).as("sy"),
          AggOps.exactSum(col("x") * col("y"), 0).as("sxy"),
          AggOps.exactSum(col("x") * col("x"), 0).as("sxx"))
        .select((col("sx") / col("n")).as("mx"),
          ((col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))) /
            (col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))))
            .as("theta"))
      u.groupBy("arm").agg(count(lit(1)).as("n_users"),
          AggOps.exactSum(col("x"), 0).as("ax"),
          AggOps.exactSum(col("y"), 0).as("ay"))
        .crossJoin(broadcast(pooled))
        .select(col("arm"), col("n_users"),
          (col("ay") / col("n_users")).as("mean_y"),
          ((col("ay") / col("n_users"))
            - col("theta") * ((col("ax") / col("n_users")) - col("mx")))
            .as("adj_mean_y"))
    }),

    // Tukey-fence (IQR) outlier census — the robust cousin of the
    // z-score outlier row: exact discrete quartiles from the
    // compressed cents domain, fences compared in DOUBLED integer
    // space (2c ≶ 2q ∓ 3·IQR) so no fractional arithmetic exists to
    // diverge. 1-row fence broadcast; one counting pass.
    "q_iqr_outliers" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(floor(col("value") * 100).cast("long").as("c"))
      val h = ev.groupBy("c").agg(count(lit(1)).as("k"))
      val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
      val thr = h.select(col("c"), sum("k").over(w).as("cum"),
          expr("sum(k) over ()").as("n"))
        .agg(min(when(col("cum") >= expr("(n * 25 + 99) div 100"), col("c")))
            .as("q1_c"),
          min(when(col("cum") >= expr("(n * 75 + 99) div 100"), col("c")))
            .as("q3_c"))
      ev.crossJoin(broadcast(thr))
        .groupBy("q1_c", "q3_c")
        .agg(count(lit(1)).as("n"),
          sum(when(lit(2L) * col("c")
            < lit(2L) * col("q1_c") - lit(3L) * (col("q3_c") - col("q1_c")),
            1L).otherwise(0L)).as("n_low"),
          sum(when(lit(2L) * col("c")
            > lit(2L) * col("q3_c") + lit(3L) * (col("q3_c") - col("q1_c")),
            1L).otherwise(0L)).as("n_high"))
        .select(col("n"), col("q1_c"), col("q3_c"), col("n_low"),
          col("n_high"))
    }),

    // Degree assortativity — does this graph wire hubs to hubs? The
    // Pearson correlation of end degrees over symmetrized undirected
    // edges: canonical edges → degree table (broadcast twice into the
    // edge ends), exact integer moments (each < 2^53 — degrees are
    // bounded by the modulus), fixed-IEEE close. One agg exchange.
    "q_assortativity" -> ((s, d) => {
      val und = GraphOps.edgesFromLineitem(Tables.lineitem(s, d), TriMod)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val sym = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val dx = deg.select(col("node").as("u"), col("deg").as("dx"))
      val dy = deg.select(col("node").as("v"), col("deg").as("dy"))
      sym.join(broadcast(dx), "u").join(broadcast(dy), "v")
        .agg(count(lit(1)).as("n"),
          AggOps.exactSum(col("dx"), 0).as("sx"),
          AggOps.exactSum(col("dy"), 0).as("sy"),
          AggOps.exactSum(col("dx") * col("dy"), 0).as("sxy"),
          AggOps.exactSum(col("dx") * col("dx"), 0).as("sxx"),
          AggOps.exactSum(col("dy") * col("dy"), 0).as("syy"))
        .select(col("n"),
          ((col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))) /
            sqrt((col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))) *
              (col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n")))))
            .as("assortativity"))
    }),

    // Cluster-size distribution of the near-dup graph — the dedup
    // health report (a giant near-dup cluster means a template flood;
    // many pairs means boilerplate): rollup of the q_dedup_cluster
    // components to (size, n_clusters).
    "q_cc_sizes" -> ((s, d) =>
      GraphOps.connectedComponents(
        DedupOps.minhashPairs(DedupOps.dupCorpus(Tables.documents(s, d)))
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_clusters"))),

    // Readability profile per language — words/sentence and
    // chars/word, the structural half of a Flesch-style score (no
    // syllable dictionary; shared regex classes on both engines).
    // Exact int64 counts per doc, one agg exchange, ratios fixed IEEE.
    "q_readability" -> ((s, d) => {
      val per = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("lang"),
          size(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
            .cast("long").as("nw"),
          size(filter(split(col("text"), TextOps.SentenceRegex),
            x => x =!= "")).cast("long").as("ns"),
          length(regexp_replace(col("text"), TextOps.WsRegex, ""))
            .cast("long").as("nc"))
      per.groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("ns").as("n_sents"), sum("nw").as("n_words"),
          sum("nc").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_sents"),
          col("n_words"), col("n_chars"),
          (col("n_words").cast("double") / col("n_sents").cast("double"))
            .as("words_per_sent"),
          (col("n_chars").cast("double") / col("n_words").cast("double"))
            .as("chars_per_word"))
    }),

    // GROUP BY ALL through the shared-text front door.
    "q_sql_group_all" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlGroupAll)
    }),

    // SQL DDL/DML front door: CREATE TABLE ... AS SELECT onto a lake
    // dir followed by INSERT INTO — the weekly analyst write path the
    // engine previously exposed only through the DataFrame writer. The
    // two statements land disjoint slices (F-status rows via CTAS, the
    // rest via INSERT) in one external parquet table; the deliverable
    // re-reads THE TABLE and aggregates, and the oracle runs the same
    // rollup on the source — equality proves both writes landed
    // exactly once, losslessly (the q_sink_roundtrip discipline).
    // Idempotent per run: the table and its location are dropped
    // before re-creation (bench warmup + timed passes).
    "q_sql_ctas" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("DROP TABLE IF EXISTS graft_ctas_sales")
      val loc = freshTmpPath(s, "graft_ctas", d)
      s.sql(s"""CREATE TABLE graft_ctas_sales USING PARQUET LOCATION '$loc'
                AS SELECT o_orderkey, o_custkey, o_orderstatus,
                          o_totalprice, o_orderpriority
                   FROM orders WHERE o_orderstatus = 'F'""")
      s.sql("""INSERT INTO graft_ctas_sales
               SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_totalprice, o_orderpriority
               FROM orders WHERE o_orderstatus <> 'F'""")
      s.sql("""SELECT o_orderstatus, count(*) AS n,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(28,4)))
                        AS DOUBLE) AS sum_price,
                      min(o_orderkey) AS min_key,
                      max(o_orderkey) AS max_key
               FROM graft_ctas_sales GROUP BY o_orderstatus""")
    }),

    // Rolling 7-day active users (WAU) — THE product-health series.
    // Scale shape: events first reduce to distinct (day, user) — the
    // only heavy shuffle — then each pair expands to the ≤7 window
    // days it supports and a second distinct+count runs on the reduced
    // set; the trailing horizon attaches as a 1-row broadcast max.
    "q_wau" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val du = ev.select(
          EventOps.microsOf(ev, "ts").as("tus"), col("user_id"))
        .select(expr("tus div 86400000000").as("day"), col("user_id"))
        .distinct()
      val mx = du.agg(max("day").as("m"))
      du.select(explode(expr("sequence(day, day + 6)")).as("wday"),
          col("user_id"))
        .distinct()
        .crossJoin(broadcast(mx))
        .filter(col("wday") <= col("m"))
        .groupBy("wday").agg(count(lit(1)).as("wau"))
    }),

    // 2-D skyline (Pareto frontier) of orders on (max price, min
    // date): the classic multi-criteria operator relational engines
    // lack. Spark runs SortOps.skyline2D's two-phase shape (bucketed
    // prune drops dominated rows map-side; the exact window sees only
    // the sliver); the oracle runs the naive one-window formulation —
    // pruning is semantics-preserving, so they must agree exactly.
    "q_skyline" -> ((s, d) =>
      SortOps.skyline2D(
        Tables.orders(s, d).select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("price_c"),
          col("o_orderdate").cast("date").as("day")),
        "price_c", "day")),

    // CUSUM changepoint scan over the daily mean-dollar series: the
    // level-shift detector — max |running Σ(x−μ)| marks the most
    // likely change day. Integer μ (floor mean) keeps every partial
    // sum exact int64; the argmax tie-breaks on earliest day. All
    // window work runs on the ≤|days| compressed series.
    "q_changepoint" -> ((s, d) => {
      val ser = Tables.orders(s, d)
        .select(col("o_orderdate").cast("date").as("day"),
          floor(col("o_totalprice")).cast("long").as("dollars"))
        .groupBy("day").agg(expr("sum(dollars) div count(1)").as("x"))
      val mu = ser.agg(expr("sum(x) div count(1)").as("mu"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      ser.crossJoin(broadcast(mu))
        .select(col("day"), sum(col("x") - col("mu")).over(w).as("s"))
        .select(col("day"), abs(col("s")).as("dev"))
        .orderBy(col("dev").desc, col("day").asc).limit(1)
        .select(col("day").cast("string").as("cp_day"), col("dev"))
    }),

    // Empirical-CDF quantile normalization — the rank-based feature
    // transform (quantile normalization without a gaussian table):
    // each value maps to its inclusive CDF position in integer ppm.
    // Domain-compressed: the CDF is built over the ≤|cents domain|
    // rows and BROADCAST back onto the fact table — events never
    // shuffle, the transform is a map-side join at any scale.
    "q_quantile_norm" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
      val hmap = AggOps.domainGuard(
        ev.groupBy("cents").agg(count(lit(1)).as("cnt")),
        DomainBound, "q_quantile_norm")
      val w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
      val cdf = hmap.select(col("cents"), sum("cnt").over(w).as("cum"),
          expr("sum(cnt) over ()").as("n"))
        .select(col("cents"), expr("(cum * 1000000) div n").as("cdf_ppm"))
      ev.join(broadcast(cdf), "cents")
        .select(col("event_id"), col("cents"), col("cdf_ppm"))
    }),

    // Fixed-width BANDED quantile normalization — the unbounded-domain
    // fallback for the domain-compression family (the q_histogram2d
    // shape): values quantize to $5 bands FIRST, so the compressed
    // frame holds at most range/width rows no matter how many distinct
    // raw values exist — the path a high-cardinality double column
    // takes when AggOps.domainGuard would (correctly) refuse the exact
    // per-value CDF. Band edges are deterministic integer arithmetic,
    // so the oracle replays them exactly.
    "q_quantile_norm_banded" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .filter(col("cents") >= 0) // div truncation = floor only for nonneg
        .select(col("event_id"),
          expr(s"cents div $QnormBandCents").as("band"))
      val hmap = ev.groupBy("band").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
      val cdf = hmap.select(col("band"), sum("cnt").over(w).as("cum"),
          expr("sum(cnt) over ()").as("n"))
        .select(col("band"), expr("(cum * 1000000) div n").as("cdf_ppm"))
      ev.join(broadcast(cdf), "band")
        .select(col("event_id"), col("band"), col("cdf_ppm"))
    }),

    // Hashing-trick vectorizer (feature hashing): token → fixed
    // 1024-bucket id via the shared hash60 — the vocabulary-free
    // featurization that needs NO dictionary shuffle or vocab
    // broadcast at 100 TB (the hash IS the feature id). Per-bucket
    // occupancy + distinct-term collision diagnostic; 1024 rows out.
    "q_feature_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
        .filter(col("w") =!= "")
        .select((TextOps.hash60(concat(lit("fh-"), col("w"))) % 1024)
          .as("bucket"), col("w"))
        .groupBy("bucket").agg(count(lit(1)).as("n_tokens"),
          countDistinct("w").as("n_terms"))),

    // Class-balanced downsampling: every lang class is cut to the
    // smallest class's size by keeping the m docs with the smallest
    // deterministic hash — a uniform, reproducible, shuffle-once
    // balancer (the class-imbalance fix before classifier training).
    // The 1-row min-count attaches by broadcast; ties break on doc_id.
    "q_class_balance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextOps.hash60(concat(lit("bal-"), col("doc_id"))).as("hk"))
      val m = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .agg(min("cnt").as("m"))
      val rk = Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      docs.withColumn("rk", row_number().over(rk))
        .crossJoin(broadcast(m))
        .filter(col("rk") <= col("m"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          sum("doc_id").as("id_sum"))
    }),

    // Gini coefficient of the event-value distribution — the standard
    // inequality/concentration metric (is 1% of users 99% of spend?).
    // Domain-compressed exact computation: per-distinct-cents counts
    // (map-side combined), then the weighted-rank algebra over the
    // ≤|cents domain| rows — a tie-group occupying ranks r+1..r+k
    // contributes c·(k·r + k(k+1)/2) to Σ rank·x, all exact int64; the
    // classic G = 2Σ/(nS) − (n+1)/n closes in fixed IEEE at the end.
    // Ranks are never materialized per row.
    "q_gini" -> ((s, d) => {
      val h = AggOps.domainGuard(
        Tables.events(s, d)
          .select(floor(col("value") * 100).cast("long").as("c"))
          .filter(col("c") >= 1)
          .groupBy("c").agg(count(lit(1)).as("k")),
        DomainBound, "q_gini")
      val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
      h.select(col("c"), col("k"),
          coalesce(sum("k").over(w), lit(0L)).as("r"))
        .agg(sum("k").as("n"), sum(col("c") * col("k")).as("s_cents"),
          sum(col("c") * (col("k") * col("r") + expr("k * (k + 1) div 2")))
            .as("t_rank"))
        .selectExpr("n", "s_cents", "t_rank",
          """2.0 * CAST(t_rank AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(s_cents AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini""")
    }),

    // Benford first-digit profile — the bulk fraud/corruption smoke
    // test over any monetary column: observed counts + integer-ppm
    // shares of the leading digit of exact cents (int64 → string is
    // engine-identical; no float formatting is ever parsed). 9 rows
    // out of one map-side-combined agg at any scale.
    "q_benford" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .filter(col("cents") >= 1)
        .select(substring(col("cents").cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div sum(n) over ()").as("ppm"))),

    // Lag-7 autocorrelation of the daily mean order value — the
    // weekly-seasonality detector. The series is the per-day rollup
    // (domain compression to ≤|days| rows), pairs align by date
    // arithmetic (day = day−7), and the Pearson correlation comes from
    // exact integer moments — the q_agg_corr discipline. The series is
    // the integer-div MEAN in whole dollars, not the cents total, so
    // every moment stays below 2^53 at ANY scale factor (bounded by
    // the price range × |days|, not row count): a DECIMAL whose value
    // exceeds 2^53 converts to double differently across engines
    // (DuckDB's conversion is not correctly rounded), which a 1-ulp
    // hash gate turns into a red row.
    "q_autocorr" -> ((s, d) => {
      val ser = Tables.orders(s, d)
        .select(col("o_orderdate").cast("date").as("day"),
          floor(col("o_totalprice")).cast("long").as("dollars"))
        .groupBy("day").agg(expr("sum(dollars) div count(1)").as("x"))
      val a = ser.select(col("day"), col("x"))
      val b = ser.select(col("day").as("bday"), col("x").as("y"))
      a.join(b, a("day") === date_add(col("bday"), 7))
        .agg(count(lit(1)).as("n"),
          AggOps.exactSum(col("x"), 0).as("sx"),
          AggOps.exactSum(col("y"), 0).as("sy"),
          AggOps.exactSum(col("x") * col("y"), 0).as("sxy"),
          AggOps.exactSum(col("x") * col("x"), 0).as("sxx"),
          AggOps.exactSum(col("y") * col("y"), 0).as("syy"))
        .select(col("n"),
          ((col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))) /
            sqrt((col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))) *
              (col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n")))))
            .as("corr_l7"))
    }),

    // Weekday-seasonal decomposition of the daily revenue series —
    // additive x = trend + seasonal + residual, the sanity pass every
    // metric dashboard runs before alerting on a "drop" that is just a
    // weekend. The series first compresses to ≤|days| rows
    // (domainGuard-pinned — the rank-statistics discipline), so the
    // centered 7-day trend window and the ≤7-row seasonal table are
    // tiny; trend is an exact int floor-mean over complete windows
    // only, seasonal/residual are single terminal IEEE divisions of
    // exact int sums (negatives never floor-divide — the div-vs-//
    // negative split can't bite). Weekday = epoch-days mod 7: one
    // arithmetic definition both engines share, not two calendars.
    "q_seasonal" -> ((s, d) => {
      val ser = AggOps.domainGuard(
        Tables.orders(s, d)
          .select(col("o_orderdate").cast("date").as("day"),
            floor(col("o_totalprice")).cast("long").as("dollars"))
          .groupBy("day").agg(sum("dollars").as("x")),
        20000L, "q_seasonal")
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val t = ser
        .withColumn("wd",
          expr("CAST(datediff(day, date'1970-01-01') % 7 AS BIGINT)"))
        .withColumn("tsum", sum("x").over(w))
        .withColumn("tn", count(lit(1)).over(w))
        .filter(col("tn") === 7)
        .withColumn("trend", expr("tsum div 7"))
        .withColumn("det", col("x") - col("trend"))
      val seas = t.groupBy("wd")
        .agg(sum("det").as("dsum"), count(lit(1)).as("dn"))
        .select(col("wd"),
          (col("dsum").cast("double") / col("dn").cast("double")).as("seas"))
      t.join(broadcast(seas), "wd")
        .select(col("day"), col("x"), col("trend"), col("wd"), col("seas"),
          ((col("x") - col("trend")).cast("double") - col("seas")).as("resid"))
    }),

    // CUSUM changepoint scan on the same daily series: S_k scaled by n
    // (S_k = n·prefix_k − k·total) keeps every deviation sum EXACT
    // int64 — no mean division anywhere — and the argmax day (earliest
    // on ties) is the level-shift estimate. Headroom n·total < 2^63
    // holds to ~10^15 daily dollars × 10^4 days; past it ANSI throws
    // loudly. One compressed-series window, one 1-row broadcast.
    "q_cusum" -> ((s, d) => {
      val ser = AggOps.domainGuard(
        Tables.orders(s, d)
          .select(col("o_orderdate").cast("date").as("day"),
            floor(col("o_totalprice")).cast("long").as("dollars"))
          .groupBy("day").agg(sum("dollars").as("x")),
        20000L, "q_cusum")
      val tot = ser.agg(count(lit(1)).as("n"), sum("x").as("tot"))
      val wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val wr = Window.orderBy("day")
      ser.crossJoin(broadcast(tot))
        .withColumn("s",
          col("n") * sum("x").over(wc) - row_number().over(wr) * col("tot"))
        .select(col("day").as("chg_day"), abs(col("s")).as("s_abs"),
          col("n").as("n_days"))
        .orderBy(col("s_abs").desc, col("chg_day")).limit(1)
    }),

    // Naive Bayes training counts — the quality-classifier trainer's
    // sufficient statistics: per-(lang, token) counts with
    // Laplace-smoothed likelihoods in integer ppm ((cnt+1)·10⁶ div
    // (langTotal + vocab) — no libm), capped to the top-20 tokens per
    // class by a deterministic (count desc, token asc) rank. Heavy
    // work is two token-keyed aggs; the smoothing constants attach as
    // 1-row broadcasts.
    "q_nb_train" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"),
          explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
      val cnt = toks.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("lang").agg(sum("cnt").as("tot"))
      val voc = cnt.agg(countDistinct("w").as("vocab"))
      val rk = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("w").asc)
      cnt.join(tot, "lang").crossJoin(voc)
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 20)
        .select(col("lang"), col("w"), col("cnt"), col("rk"),
          expr("((cnt + 1) * 1000000) div (tot + vocab)").as("ppm"))
    }),

    // Last-touch marketing attribution: every purchase is attributed
    // to the same user's most recent click (as-of backward join — ONE
    // shuffle via the union-merge JoinOps.asofJoin), a 7-day horizon
    // drops stale attributions, and the deliverable is the rollup by
    // recency bucket with exact floor-cents revenue. The composition
    // analytics teams actually run, expressed over the same as-of
    // machinery q_join_asof pins.
    "q_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          EventOps.microsOf(ev, "ts").as("tus"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          EventOps.microsOf(ev, "ts").as("click_us"))
      val day = 86400000000L
      JoinOps.asofJoin(buys, clicks, "user_id", "tus", "click_us",
          "click_id")
        .withColumn("gap_us", col("tus") - col("click_us"))
        .filter(col("gap_us") <= lit(7L * day))
        .select(when(col("gap_us") < lit(day), "1d")
            .when(col("gap_us") < lit(3L * day), "3d")
            .otherwise("7d").as("bucket"),
          col("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_attributed"), sum("cents").as("sum_cents"))
    }),

    // One BPE merge step — the unit of tokenizer TRAINING (the loop a
    // BPE trainer runs ~50k times): corpus → word frequency table →
    // adjacent symbol-pair counts (weighted by word freq, overlapping
    // adjacents — the classic get_stats) → argmax pair with a
    // deterministic (count desc, pair asc) tie-break → greedy
    // non-overlapping merge applied via replace() (left-to-right, the
    // same greedy order both engines implement), shrinking each word's
    // symbol count by its merge count. Scale shape: everything after
    // the word-frequency agg runs on the compressed vocab (|distinct
    // words|, not |corpus|); the 1-row best pair attaches by broadcast
    // crossJoin. Words are restricted to ^[a-z]+$ post-lower so the
    // symbol alphabet is engine-identical.
    "q_bpe_step" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("f"))
      val best = words
        .select(col("f"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("p"))
        .groupBy("p").agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("p").asc).limit(1)
        .select(col("p").as("merge_pair"), col("cnt").as("pair_count"))
      words.crossJoin(best)
        .groupBy("merge_pair", "pair_count")
        .agg(count(lit(1)).as("vocab_words"),
          sum(col("f") * length(col("w"))).as("symbols_before"),
          sum(col("f") * length(expr("replace(w, merge_pair, 'Z')")))
            .as("symbols_after"))
    }),

    // Iterative BPE tokenizer TRAINING — the k-merge loop q_bpe_step is
    // round 1 of (spec-pinned): wrapped-symbol vocab encoding, per-round
    // weighted adjacent-pair counts on the COMPRESSED vocab, the
    // (count desc, pair asc) deterministic argmax broadcast back via
    // crossJoin (no driver collect), and a greedy left-to-right
    // non-overlapping replace both engines execute identically. Output:
    // the merge table — one row per round with the elected pair, its
    // count, and the shrinking corpus symbol total.
    "q_bpe_train" -> ((s, d) =>
      BpeOps.train(Tables.documents(s, d), BpeMerges)),

    // The APPLY half of the tokenizer loop: train BpeMerges rounds,
    // then tokenize every document with the trained vocab — one keyed
    // join from word instances to merged symbol sequences; per-doc
    // exact (n_words, n_chars, n_tokens) totals, n_tokens/n_chars
    // being the compression the merges bought.
    "q_bpe_tokenize" -> ((s, d) =>
      BpeOps.tokenizeTrained(Tables.documents(s, d), BpeMerges)),
    // Per-language fertility of that tokenizer (tokens per word, ppm):
    // the number that decides per-language merge budgets.
    "q_bpe_fertility" -> ((s, d) =>
      BpeOps.fertilityByLang(Tables.documents(s, d), BpeMerges)),

    // PERSISTED-vocab apply — the production tokenization path: train
    // once, write merges + word→symbols artifacts to parquet
    // (trainWriteVocab), then tokenize by reading the artifact — no
    // retraining in the apply plan. The applied corpus appends one
    // out-of-vocabulary word per document ("qzjxvw", absent from the
    // training corpus), exercising the char-level OOV fallback every
    // real tokenizer ships; per-doc totals gain an exact n_oov count.
    // Oracle replays train + apply; persisted vocab ≡ trained vocab,
    // so the SQL twin trains the same rounds and left-joins.
    "q_bpe_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = tmpPath("graft_bpe_vocab", d)
      BpeOps.trainWriteVocab(docs, BpeMerges, path)
      BpeOps.tokenizeWithVocab(
        docs.select(col("doc_id"),
          concat(col("text"), lit(" qzjxvw")).as("text")), path)
    }),

    // Unigram-LM (SentencePiece-family) tokenizer training — the OTHER
    // production tokenizer family: fixed-round hard-EM (Viterbi
    // E-steps) over a substring piece inventory, all-integer
    // lexicographic objective (fewest pieces, then max ppm score; ties
    // to the longer piece), so the DuckDB twin unrolls the exact DP.
    // Output: the final piece table with usage counts and ppm scores.
    "q_unigram_train" -> ((s, d) =>
      graft.ops.UnigramOps.trainPieces(Tables.documents(s, d))),
    // Persisted-pieces apply with char-level OOV fallback — the
    // q_bpe_apply lifecycle for the unigram family: train → write
    // artifact → tokenize the OOV-augmented corpus from the artifact
    // ("qzjxvw" is unsegmentable — 'x'/'z' are outside the training
    // alphabet — so every non-null doc counts exactly one OOV).
    "q_unigram_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = tmpPath("graft_uni_pieces", d)
      graft.ops.UnigramOps.trainWritePieces(docs, path)
      graft.ops.UnigramOps.tokenizeWithPieces(
        docs.select(col("doc_id"),
          concat(col("text"), lit(" qzjxvw")).as("text")), path)
    }),
    // BPE-vs-unigram fertility bake-off: one corpus-total row per
    // family (shared word universe), fertility as exact floor ppm —
    // the cross-family readout the two trainers exist to feed.
    "q_unigram_fertility" -> ((s, d) =>
      graft.ops.UnigramOps.tokenizerCompare(Tables.documents(s, d),
        BpeMerges)),
    // WORDPIECE-STYLE APPLY — the third tokenizer-family
    // representative: BPE merges pairs, unigram segments optimally
    // (Viterbi DP), WordPiece-at-inference matches greedily
    // longest-first (the BERT algorithm, O(len) lookups per word).
    // Same persisted-pieces artifact and OOV char-fallback contract
    // as q_unigram_apply; the oracle replays the greedy walk as a
    // recursive CTE over precomputed longest-match lengths.
    "q_wordpiece_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = tmpPath("graft_wp_pieces", d)
      graft.ops.UnigramOps.trainWritePieces(docs, path)
      graft.ops.UnigramOps.wordpieceWithPieces(
        docs.select(col("doc_id"),
          concat(col("text"), lit(" qzjxvw")).as("text")), path)
    }),
    // Greedy-vs-Viterbi fertility over the SAME pieces — the price of
    // O(len) inference: greedy can only use MORE tokens than the
    // optimal segmentation (n_greedy ≥ n_viterbi per word, spec);
    // the corpus-level excess in exact floor ppm is the readout.
    "q_wordpiece_fertility" -> ((s, d) =>
      graft.ops.UnigramOps.wordpieceCompare(Tables.documents(s, d))),

    // Kendall tau-b rank correlation — exact, at scale, via the same
    // domain-compression discipline as q_mannwhitney: joint histogram
    // over the (l_quantity ≤50 × l_linenumber ≤7) domain, then the
    // concordant/discordant pair algebra runs on the ≤350-cell grid
    // (the inequality self-join is a broadcast nested loop over
    // constant-size data — never the raw table). Each unordered cell
    // pair is counted once (strict x2 > x ordering); tie terms n1/n2
    // from the marginals; tau-b's (n0−n1)(n0−n2) product exceeds int64
    // at 100 TB row counts, so the final expression moves to IEEE
    // doubles — association order mirrored in the oracle.
    "q_kendall" -> ((s, d) => {
      val h = Tables.lineitem(s, d)
        .groupBy(col("l_quantity").cast("long").as("x"),
          col("l_linenumber").cast("long").as("y"))
        .agg(count(lit(1)).as("c"))
      val h2 = h.select(col("x").as("x2"), col("y").as("y2"),
        col("c").as("c2"))
      val pq = h.join(h2, (col("x2") > col("x")) &&
          ((col("y2") > col("y")) || (col("y2") < col("y"))))
        .agg(sum(when(col("y2") > col("y"), col("c") * col("c2"))
            .otherwise(0L)).as("p_conc"),
          sum(when(col("y2") < col("y"), col("c") * col("c2"))
            .otherwise(0L)).as("q_disc"))
      val nx = h.groupBy("x").agg(sum("c").as("tx"))
        .agg(sum(expr("tx * (tx - 1) div 2")).as("n1"))
      val ny = h.groupBy("y").agg(sum("c").as("ty"))
        .agg(sum(expr("ty * (ty - 1) div 2")).as("n2"))
      val nn = h.agg(sum("c").as("n"))
      pq.crossJoin(nx).crossJoin(ny).crossJoin(nn)
        .selectExpr("n", "p_conc", "q_disc", "n1", "n2",
          """(CAST(p_conc AS DOUBLE) - CAST(q_disc AS DOUBLE)) /
             sqrt(CAST(n * (n - 1) div 2 - n1 AS DOUBLE) *
                  CAST(n * (n - 1) div 2 - n2 AS DOUBLE)) AS tau""")
    }),

    // Kaplan-Meier risk table (activity survival): subject = one
    // (user, event_type) activity stream; duration = days between its
    // first and last event; censored iff still active in the final
    // 7-day horizon (per-user-only durations degenerate on this
    // fixture — everyone spans the window — while per-type streams
    // churn for real). Per duration t: at-risk count (reverse
    // cumulative over the ≤ window-days domain), events, censored,
    // exact hazard ppm — the KM estimator's (d_t, n_t) table with the
    // survival product left to the consumer (a float Π is
    // engine-order-hazardous; the table is the lossless form). One
    // subject-keyed exchange + one tiny duration rollup.
    "q_survival" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val users = ev.groupBy("user_id", "event_type").agg(
        min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"))
      val mx = ev.agg(max(to_date(col("ts"))).as("max_day"))
      val byT = users.crossJoin(broadcast(mx))
        .select(
          datediff(col("last_day"), col("first_day")).cast("long").as("t"),
          (datediff(col("max_day"), col("last_day")) >= 7).cast("long")
            .as("observed"))
        .groupBy("t").agg(count(lit(1)).as("n_t"),
          sum("observed").as("d_events"))
      val wRisk = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      byT.withColumn("n_risk", sum("n_t").over(wRisk))
        .select(col("t"), col("n_risk"), col("d_events"),
          (col("n_t") - col("d_events")).as("n_censored"),
          expr("d_events * 1000000 div n_risk").as("hazard_ppm"))
    }),

    // Spearman rank correlation — exact with average-rank tie handling,
    // via the q_kendall domain-compression discipline: the joint
    // (l_quantity ≤50 × l_linenumber ≤7) histogram is the only
    // corpus-sized pass; DOUBLED average ranks (2·below + t + 1, an
    // integer, so no .5 ranks ever materialize) come from a cumulative
    // window over the ≤50-row marginals; the five moment sums are exact
    // int64 (worst cell term c·rx2·ry2 ≤ n·(2n)² < 2^63 up to n ≈ 1.3M;
    // past that the histogram sums themselves need the same
    // domainGuard-style widening every exact stat here documents). The
    // n·s products in the final Pearson-over-ranks exceed int64 at any
    // scale, so the combine is IEEE doubles over exactly-computed int64
    // sums — deterministic in both engines. The doubling cancels in the
    // ratio (numerator and variance terms both scale by 4).
    "q_spearman" -> ((s, d) => {
      val wCum = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      def ranks2(h: DataFrame, key: String): DataFrame =
        h.groupBy(col(key).as("v")).agg(sum("c").as("t"))
          .select(col("v"),
            (lit(2L) * coalesce(sum("t").over(wCum), lit(0L)) +
              col("t") + lit(1L)).as("r2"))
      val h = Tables.lineitem(s, d)
        .groupBy(col("l_quantity").cast("long").as("x"),
          col("l_linenumber").cast("long").as("y"))
        .agg(count(lit(1)).as("c"))
      val rx = ranks2(h, "x").withColumnsRenamed(
        Map("v" -> "x", "r2" -> "rx2"))
      val ry = ranks2(h, "y").withColumnsRenamed(
        Map("v" -> "y", "r2" -> "ry2"))
      h.join(rx, "x").join(ry, "y")
        .agg(sum("c").as("n"),
          sum(col("c") * col("rx2")).as("sx"),
          sum(col("c") * col("ry2")).as("sy"),
          sum(col("c") * col("rx2") * col("rx2")).as("sxx"),
          sum(col("c") * col("ry2") * col("ry2")).as("syy"),
          sum(col("c") * col("rx2") * col("ry2")).as("sxy"))
        .selectExpr("n", "sxy",
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                  (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho""")
    }),

    // l-diversity audit — the k-anonymity companion (q_kanon): per
    // quasi-identifier group (nation × market segment), how many
    // DISTINCT sensitive values (acctbal rounded to $1000 buckets)
    // appear. A group where every member shares one sensitive bucket is
    // re-identifiable even when k-anonymous; the gate is l ≥ 3. One
    // QI-keyed exchange; the distinct count rides the same aggregate
    // (exact — the sensitive domain is bounded by construction, ~12
    // buckets, so no Expand blowup).
    "q_ldiversity" -> ((s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(floor(col("c_acctbal") / 1000.0).cast("long"))
            .as("l_distinct"))
        .withColumn("diverse", (col("l_distinct") >= 3).cast("int"))),
  )

  /** Run nonce for disk-touching queries — see GraftSession.RunNonce. */
  private def RunNonce: String = GraftSession.RunNonce

  /** Loud headroom guard for the synthetic +1M/+2M/… arrival id slices
    * used by the incremental-index fixtures: those offsets silently
    * assume the base table never reaches `bound` ids — past it, arrival
    * ids collide with base ids and BOTH engine and oracle compute over a
    * corrupted id space (ADVICE r8). One 1-row scalar aggregate per
    * guarded query, the q_pagerank_weighted headroom-check discipline.
    */
  private def requireIdHeadroom(df: DataFrame, idCol: String,
                                bound: Long = 1000000L): Unit = {
    val mx = df.agg(coalesce(max(col(idCol)), lit(Long.MinValue)))
      .head.getLong(0)
    require(mx < bound,
      s"max($idCol) = $mx >= $bound: the +1M/+2M arrival id slices would " +
        "collide with base ids; widen the fixture offsets for this scale")
  }

  /** Temp path under the per-run scratch root (shutdown-hook-cleaned,
    * nonce-isolated — see GraftSession.runTmpRoot), keyed by prefix +
    * sf dir.
    */
  private def tmpPath(prefix: String, d: String): String =
    new java.io.File(GraftSession.runTmpRoot,
      prefix + "_" + d.replaceAll("[^a-zA-Z0-9.]", "_")).getPath

  /** [[tmpPath]], emptied first. A tmpPath survives within a JVM across
    * the bench's warm and timed passes, so a builder that commits
    * versions or builds an index under it starts each pass on an empty
    * root — version history and index generations restart per run.
    * The delete is the Hadoop FileSystem's, not `java.io.File`
    * recursion, which would silently no-op on an object store.
    */
  private def freshTmpPath(s: SparkSession, prefix: String,
                           d: String): String = {
    val p = tmpPath(prefix, d)
    val root = new org.apache.hadoop.fs.Path(p)
    root.getFileSystem(s.sessionState.newHadoopConf()).delete(root, true)
    p
  }

  /** q_ivm_join / q_join_hotcold constants (shared by oracles). */
  private val IvmBoundary = "1997-01-01"
  private val HotColdCut = 25L

  /** q_phrase_search query phrases (shared with the oracle VALUES). */
  private val PhraseQueries = Seq("table value part", "fast merge batch",
    "scan slow fast", "spark data vector", "window table table")

  /** Shared oracle for the batch and streaming as-of twins. */
  private val AsofOracle =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
            o AS (SELECT o_custkey AS user_id, o_orderkey,
                         epoch_us(o_orderdate) AS o_us FROM orders),
            j AS (SELECT e.event_id, e.user_id, e.tus, o.o_orderkey, o.o_us,
                         ROW_NUMBER() OVER (
                           PARTITION BY e.event_id, e.user_id, e.tus
                           ORDER BY o.o_us DESC, o.o_orderkey DESC) AS rn
                  FROM e JOIN o USING (user_id) WHERE o.o_us <= e.tus)
       SELECT event_id, user_id, tus, o_orderkey, o_us FROM j WHERE rn = 1"""

  /** Shared oracle for the batch and streaming IVM twins: the full
    * unsplit join's digest.
    */
  private val IvmJoinOracle =
    """SELECT l_returnflag, count(*) AS n_rows,
              CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price,
              CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       GROUP BY l_returnflag"""

  /** q_pagerank fixture/shape constants (shared by query + oracle). */
  private val PrMod = 997
  private val PrIters = 10

  /** q_hits / q_ppr / q_link_predict constants (shared by oracles). */
  private val HitsIters = 8
  private val PprSeedMod = 10
  private val LinkPredictK = 100

  /** q_pagerank_incr warm-start round budget (shared by oracle). */
  private val PrWarmIters = 3

  /** q_link_predict graph modulus — sparser than even TriMod: the
    * wedge-join cost is Σ deg², so the fixture keeps mean degree ~24
    * at sf0.1 (the q_triangle sparsity rationale, one notch further).
    */
  private val LpMod = 49999
  private val LpNbrCap = 256L

  /** q_triangle graph modulus (shared by query + oracle) — sparser than
    * PageRank's so triangle counts stay realistic, not cubic-degenerate.
    */
  private val TriMod = 9973

  /** q_kanon suppression threshold (shared by query + oracle). */
  private val KAnonK = 10

  /** Occupancy bound for the domain-compression statistics family
    * (AggOps.domainGuard): 2^20 compressed rows ≈ 16 MB broadcast —
    * comfortably inside executor broadcast budget, far above any
    * bounded cents/days/quantity domain. Operators whose column can
    * exceed it use the fixed-width banded variants.
    */
  private val DomainBound = 1L << 20

  /** q_quantile_norm_banded band width in cents ($5): occupancy =
    * value-range / width by construction, independent of the distinct-
    * value count — the unbounded-domain fallback shape.
    */
  private val QnormBandCents = 500L

  /** q_pivot_dynamic elected-slot count (shared by query + oracle). */
  private val PivotDynK = 3

  /** q_bfs fixture constants (shared by query + oracle). */
  private val BfsSource = 1L
  private val BfsDepth = 8

  /** q_sssp round budget (shared by query + oracle unroll). Weighted
    * shortest paths can use more hops than the unweighted BFS depth
    * (a chain of light edges can beat one heavy edge), so the budget
    * sits above BfsDepth; sssp throws if the fixpoint needs more.
    */
  private val SsspMaxRounds = 15

  /** q_sssp_weighted round budget (shared by query + oracle unroll).
    * The directed order→part graph alternates id spaces each hop, so
    * shortest weighted paths can be longer than the symmetric case;
    * rounds past the fixpoint are no-ops on both engines.
    */
  private val SsspWMaxRounds = 25

  /** q_pagerank_weighted iteration count (shared by query + oracle). */
  private val PrwIters = 10

  /** q_bpe_train merge-round count (shared by query + oracle unroll). */
  private val BpeMerges = 8

  /** q_kmeans Lloyd round budget (shared by query + oracle unroll):
    * fixpoint at 13/9/18 rounds (sf0.001/0.01/0.1); unrolled rounds
    * past the fixed point are no-ops on both engines.
    */
  private val KmeansRounds = 24

  /** q_communities round budget (shared by query + oracle unroll).
    * LPA converges in 17/14/8 rounds at sf0.001/0.01/0.1 on the
    * mod-9973 graph; rounds past the fixpoint are no-ops on both
    * engines, so the oracle unrolls the full budget.
    */
  private val LpaRounds = 24

  /** q_communities_weighted fixed round count (shared by query +
    * oracle unroll — the fixed-round contract, see
    * GraphOps.labelPropagationWeighted).
    */
  private val WlpaRounds = 10

  /** q_assoc_rules item-domain modulus + relative-support divisor
    * (shared by query + oracle): catalog compresses to ≤50 items so
    * fixture baskets co-occur; min_sup = n_baskets div 250 (0.4%).
    */
  private val AssocItemMod = 50
  private val AssocSupDiv = 250L
  private val AssocMaxBasket = 64

  /** The SQL front door: q_sql_q3 runs ONE SQL text through both engines
    * — spark.sql over temp views here, DuckDB as the oracle — proving
    * the declared surface is dialect-shared, not just API-equivalent.
    * Shape = TPC-H Q3 (shipping-priority) adapted to the fixture schema;
    * revenue rides the DECIMAL cast for order-independence, and the
    * ORDER BY carries a full tie-break so LIMIT is deterministic.
    */
  /** Shared-text GROUP BY ALL (every non-aggregate select item groups
    * implicitly) — the analyst-ergonomics surface both engines added
    * recently; one text, both engines, same rows.
    */
  private val SqlGroupAll =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
              CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                AS sum_price
       FROM orders GROUP BY ALL"""

  private val SqlQ3 =
    """SELECT l_orderkey,
              CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
              o_orderdate, o_orderpriority
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-01-01'
         AND l_shipdate > TIMESTAMP '1998-01-01'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, l_orderkey
       LIMIT 10"""

  /** TPC-H Q1 (pricing summary) adapted to the fixture schema — the
    * second shared-text query. Sums ride DECIMAL casts for
    * order-independence; averages are single IEEE divisions of the
    * exact DECIMAL-summed values cast to double. The charge product
    * casts at scale 6, not 4: price·(1−disc)·(1+tax) has SIX true
    * decimal digits, so a scale-4 cast rounds genuine midpoints and
    * engines break those ties differently (measured: 43 of 5398 rows);
    * at the value's own scale there is no midpoint to disagree on.
    */
  private val SqlQ1 =
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
              CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_price,
              CAST(sum(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_disc,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** Correlated-EXISTS front-door text (TPC-H Q4 shape adapted to the
    * fixture schema — no commit/receipt dates, so "late order" = any
    * line shipped after a fixed horizon). The correlation is the Q4
    * key equality `l_orderkey = o_orderkey`; both engines plan the
    * EXISTS as a semi join. One text, two engines.
    */
  private val SqlQ4 =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1997-09-01')
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  /** Correlated scalar-aggregate subquery text (TPC-H Q17 shape): rows
    * below 20% of their part's average quantity. The threshold
    * comparison is rearranged to avoid division — `5·q·count < sum`
    * over exact int64 (fixture quantities are integral doubles, so the
    * BIGINT cast is exact in both engines) — no IEEE rounding for the
    * engines to disagree on; the money aggregate rides the usual
    * DECIMAL cast. Two correlated scalar subqueries, one text.
    */
  private val SqlQ17 =
    """SELECT p_brand, count(*) AS n_small,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       WHERE p_size <= 10
         AND CAST(l_quantity AS BIGINT) * 5 *
               (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
             < (SELECT sum(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
                WHERE l3.l_partkey = l.l_partkey)
       GROUP BY p_brand
       ORDER BY p_brand"""

  /** CASE-conditional aggregation text (TPC-H Q12 shape — shipmode
    * replaced by the fixture's order priority): counting via
    * sum(CASE…) inside one grouped join, the classic conditional-agg
    * idiom. DuckDB sums INTEGER to HUGEINT → both sides cast to BIGINT.
    */
  private val SqlQ12 =
    """SELECT l_linestatus,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       GROUP BY l_linestatus
       ORDER BY l_linestatus"""

  /** IN-over-grouped-HAVING subquery text (TPC-H Q18, large-volume
    * customers): the membership subquery is itself an aggregate with a
    * HAVING filter — planned as a semi join against an aggregated
    * subplan. Quantities are integral doubles, so the HAVING sum is
    * exact in both engines; the ORDER BY carries a full tie-break.
    */
  private val SqlQ18 =
    """SELECT c_name, o_orderkey, o_totalprice,
              CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
       GROUP BY c_name, o_orderkey, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 20"""

  /** Disjunctive multi-predicate join text (TPC-H Q19, discount
    * revenue): OR-of-AND bands over both join sides — the shape that
    * exercises predicate normalization and join-condition pushdown
    * (Catalyst extracts the common p_partkey = l_partkey conjunct).
    */
  private val SqlQ19 =
    """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity >= 1 AND l_quantity <= 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30)"""

  /** NOT EXISTS + uncorrelated scalar subqueries text (TPC-H Q22,
    * global-market opportunity): above-average-balance customers with
    * no high-value order. The average is rearranged division-free
    * (bal·count > sum over exact DECIMAL) so no IEEE quotient exists
    * for the engines to round differently at the boundary; the NOT
    * EXISTS plans as an anti join.
    */
  private val SqlQ22 =
    """SELECT n_name, count(*) AS numcust,
              CAST(sum(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS totacctbal
       FROM customer JOIN nation ON n_nationkey = c_nationkey
       WHERE CAST(c_acctbal AS DECIMAL(28,4)) * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
             > (SELECT sum(CAST(c_acctbal AS DECIMAL(28,4))) FROM customer WHERE c_acctbal > 0.0)
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
       GROUP BY n_name
       ORDER BY n_name"""

  /** GROUPING SETS shared text: four explicit sets (the cube of two
    * columns) with per-column grouping() flags. The flags, not the
    * NULLs, distinguish "subtotal row" from "group whose key IS NULL" —
    * the correctness detail rollup/cube consumers rely on.
    */
  private val SqlGroupingSets =
    """SELECT l_returnflag, l_linestatus,
              CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
              CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
              count(*) AS cnt,
              CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())"""

  /** Nested-subquery front-door text (TPC-H Q20 shape, no partsupp in
    * the fixture): suppliers who shipped an above-average line of a
    * large part. The IN-subquery body carries TWO correlated scalar
    * subqueries — the deepest nesting in the suite; the above-average
    * test is the division-free `q·count > sum` rearrangement over
    * exact int64 (Q17's lesson), so no quotient exists for the engines
    * to round differently.
    */
  private val SqlQ20 =
    """SELECT s_name, CAST(s_acctbal AS DOUBLE) AS acctbal
       FROM supplier JOIN nation ON s_nationkey = n_nationkey
       WHERE n_name IN ('NATION_3','NATION_7','NATION_11')
         AND s_suppkey IN (
           SELECT l1.l_suppkey FROM lineitem l1
           WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
             AND CAST(l1.l_quantity AS BIGINT) *
                   (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
                 > (SELECT sum(CAST(l3.l_quantity AS BIGINT)) FROM lineitem l3
                    WHERE l3.l_partkey = l1.l_partkey))
       ORDER BY s_name"""

  /** Waiting-supplier text (TPC-H Q21 shape, fixture late = shipped
    * >60 days after order date): EXISTS proves the order is
    * multi-supplier, NOT EXISTS — correlated on the OUTER order's date
    * through a supplier-inequality predicate — proves this supplier is
    * the only late one. The classic same-table EXISTS/NOT-EXISTS pair
    * every blame/attribution query uses.
    */
  private val SqlQ21 =
    """SELECT s_name, count(*) AS numwait
       FROM supplier
       JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       JOIN orders ON o_orderkey = l1.l_orderkey
       JOIN nation ON s_nationkey = n_nationkey
       WHERE o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 20"""

  /** Recursive-CTE front-door text: a heap-style hierarchy over
    * supplier keys (children of k are 2k and 2k+1 — pure integer
    * arithmetic, because `//` vs `div` integer division is the one
    * place the dialects split), traversed level by level and rolled up
    * per depth. Demonstrates WITH RECURSIVE as shared surface; for
    * 100 TB-scale iteration the dedicated broadcast-loop graph ops
    * (pageRank, connectedComponents) remain the right tool — a
    * recursive CTE re-joins the frontier each level through the
    * general-purpose planner.
    */
  private val SqlRecursive =
    """WITH RECURSIVE tree(k, depth) AS (
         SELECT s_suppkey, 0 FROM supplier WHERE s_suppkey = 1
         UNION ALL
         SELECT s.s_suppkey, t.depth + 1
         FROM supplier s JOIN tree t ON s.s_suppkey = t.k * 2 OR s.s_suppkey = t.k * 2 + 1)
       SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
       FROM tree GROUP BY depth ORDER BY depth"""

  /** The retrieval query set for q_rank_bm25 — terms drawn from the
    * synthetic documents' vocabulary; shared verbatim by the Spark
    * query and the DuckDB oracle's VALUES table.
    */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "hash join"), (2L, "fast scan filter"), (3L, "window agg"),
    (4L, "customer order query"), (5L, "slow merge sort"))

  /** Query set for the persisted-index entries — distinct from
    * [[Bm25Queries]] so the persist/incr results aren't byte-twins of
    * q_rank_bm25.
    */
  private val Bm25QueriesB: Seq[(Long, String)] = Seq(
    (1L, "stream batch window"), (2L, "filter the table"),
    (3L, "vector scan"), (4L, "merge join order"), (5L, "big data row"))

  /** Two-micro-batch query workload for the streaming serve replay:
    * [[Bm25Queries]] in batch 1, [[Bm25QueriesB]] (ids shifted +10 so
    * the sets stay disjoint) in batch 2.
    */
  private val Bm25StreamQueries: Seq[(Long, String)] =
    Bm25Queries ++ Bm25QueriesB.map { case (id, q) => (id + 10L, q) }

  /** Dense-side query vectors for the hybrid tier: one embedding per
    * [[Bm25Queries]] q_id (the doc_id ≡ vec_id fixture bridge),
    * perturbed by the q_simsearch_incr recipe (first coordinate
    * zeroed, rest shifted right one) but KEEPING the id — a genuinely
    * new query vector whose neighborhood anchors on its base twin, and
    * whose q_id lines up with the sparse ranker's for fusion.
    */
  private def hybridQueryVecs(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id").between(1L, 5L))
      .select(col("vec_id"),
        concat(array(lit(0.0f)),
          slice(col("embedding"), 2, SimilarityOps.Dims - 1))
          .as("embedding"))

  /** Registers the named fixture tables as temp views and runs one
    * shared SQL text — the front-door pattern every q_sql_* entry uses.
    */
  private def sqlQuery(sql: String, tables: String*): (SparkSession, String) => DataFrame =
    (s, d) => {
      tables.foreach(t => Tables(s, d, t).createOrReplaceTempView(t))
      s.sql(sql)
    }

  /** Min-cost-supplier text (TPC-H Q2 shape; lineitem stands in for
    * partsupp, so "cost" = the extended price a supplier shipped the
    * part at). The correlated MIN subquery re-joins supplier→nation→
    * region inside the correlation — Q2's defining shape. The min is an
    * exact comparison of identical stored doubles, so both engines keep
    * the same rows; DISTINCT collapses repeat shipments and makes the
    * ORDER BY a total order (s_name, p_partkey determine the rest).
    */
  private val SqlQ2 =
    """SELECT DISTINCT CAST(s_acctbal AS DOUBLE) AS acctbal, s_name, n_name, p_partkey, p_name
       FROM part JOIN lineitem ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
       WHERE p_size = 15 AND r_name = 'EUROPE'
         AND l_extendedprice = (
           SELECT min(l2.l_extendedprice)
           FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
             JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
           WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
       ORDER BY acctbal DESC, n_name, s_name, p_partkey
       LIMIT 100"""

  /** Local-supplier-volume text (TPC-H Q5): the six-way join with the
    * customer-nation = supplier-nation colocation predicate carried on
    * the supplier join.
    */
  private val SqlQ5 =
    """SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name"""

  /** Forecast-revenue text (TPC-H Q6): the pure single-table scan-agg —
    * the query whose entire cost is scan + filter, the pushdown
    * showcase. Band predicates on stored doubles compare exactly.
    */
  private val SqlQ6 =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""

  /** Volume-shipping text (TPC-H Q7): nation self-pair via two aliases
    * of the same dimension plus an OR of symmetric pairs, grouped by
    * extracted year (cast to INTEGER on both engines — DuckDB EXTRACT
    * yields BIGINT, Spark INT).
    */
  private val SqlQ7 =
    """SELECT supp_nation, cust_nation, l_year,
              CAST(sum(volume) AS DOUBLE) AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
                    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)) AS volume
             FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN nation n1 ON s_nationkey = n1.n_nationkey
               JOIN nation n2 ON c_nationkey = n2.n_nationkey
             WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
               AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31') shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""

  /** National-market-share text (TPC-H Q8): conditional share =
    * sum(CASE)/sum — both sums ride exact DECIMAL and the share is one
    * IEEE division of identical operands, so the engines agree bit-for-
    * bit (the Q1 average lesson). The ELSE 0 keeps a zero share 0
    * rather than NULL when a year has no NATION_5 volume.
    */
  private val SqlQ8 =
    """SELECT o_year,
              CAST(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
                   / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
       FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)) AS volume,
                    n2.n_name AS nation
             FROM part JOIN lineitem ON p_partkey = l_partkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation n1 ON c_nationkey = n1.n_nationkey
               JOIN region ON n1.n_regionkey = r_regionkey
               JOIN nation n2 ON s_nationkey = n2.n_nationkey
             WHERE r_name = 'AMERICA' AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
               AND p_type = 'ECONOMY') all_nations
       GROUP BY o_year ORDER BY o_year"""

  /** Product-type-profit text (TPC-H Q9; no supplycost in the fixture,
    * so cost = half the part's retail price). The profit expression is
    * evaluated in IEEE double with identical textual association on
    * both engines, then cast to DECIMAL(28,4) — at the value's own
    * scale (price 2dp × discount 2dp = 4dp), so no midpoint exists for
    * the engines' tie modes to disagree on.
    */
  private val SqlQ9 =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
       FROM (SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                    CAST(l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,4)) AS amount
             FROM part JOIN lineitem ON p_partkey = l_partkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN nation ON s_nationkey = n_nationkey
             WHERE p_name LIKE '%ol%') profit
       GROUP BY nation, o_year ORDER BY nation, o_year DESC"""

  /** Returned-item-reporting text (TPC-H Q10): revenue per customer over
    * returned lines, top 20 with the custkey tie-break making the LIMIT
    * deterministic.
    */
  private val SqlQ10 =
    """SELECT c_custkey, c_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
              CAST(c_acctbal AS DOUBLE) AS acctbal, n_name
       FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation ON c_nationkey = n_nationkey
       WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
         AND l_returnflag = 'R'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20"""

  /** Important-stock text (TPC-H Q11; lineitem value stands in for
    * supplycost·availqty): groups above a fraction of the national
    * total, the fraction test division-free (sum·1000 > total over
    * exact DECIMAL) so no quotient exists to round differently.
    */
  private val SqlQ11 =
    """SELECT l_partkey AS ps_partkey,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS part_value
       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
       WHERE n_name = 'NATION_3'
       GROUP BY l_partkey
       HAVING sum(CAST(l_extendedprice AS DECIMAL(28,4))) * 1000 >
         (SELECT sum(CAST(l_extendedprice AS DECIMAL(28,4))) FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3')
       ORDER BY part_value DESC, ps_partkey"""

  /** Customer-distribution text (TPC-H Q13): LEFT JOIN with the filter
    * in the join condition (not WHERE — the distinction that keeps
    * order-less customers at count 0), then a histogram of counts.
    */
  private val SqlQ13 =
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC"""

  /** Promotion-effect text (TPC-H Q14): a percentage of conditional
    * revenue — both sums exact DECIMAL, one shared multiply-then-divide
    * in IEEE double on identical operands.
    */
  private val SqlQ14 =
    """SELECT CAST(100.00 * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
                       ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS DOUBLE) AS promo_revenue
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'"""

  /** Top-supplier text (TPC-H Q15): the CTE replaces the spec's CREATE
    * VIEW; the max-revenue filter is an uncorrelated scalar subquery
    * over the same CTE, compared in exact DECIMAL.
    */
  private val SqlQ15 =
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s_suppkey"""

  /** Parts-supplier-relationship text (TPC-H Q16; lineitem as the
    * part–supplier association): COUNT(DISTINCT) under a NOT IN
    * exclusion subquery — the anti-join + distinct-agg combination.
    */
  private val SqlQ16 =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** Windowed-SQL front-door text: per-group top-5 by row_number. The
    * ORDER BY inside the frame carries the (orderkey, linenumber)
    * unique tie-break, so both engines rank identically.
    */
  private val SqlWindowTopk =
    """SELECT l_returnflag, l_orderkey, l_linenumber, rnk
       FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
                    row_number() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
             FROM lineitem) ranked
       WHERE rnk <= 5
       ORDER BY l_returnflag, rnk"""

  /** Correlated-LATERAL front-door text: each qualifying customer joins
    * its own top-3 orders — a derived table with ORDER BY + LIMIT
    * correlated on the outer row, the decorrelation shape window
    * functions can't always replace (the inner LIMIT applies per key
    * before the join). Full tie-breaks keep the per-key top-3 unique.
    */
  private val SqlLateral =
    """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
       FROM customer, LATERAL (
         SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 3) top_orders
       WHERE c_acctbal > 9000.0
       ORDER BY c_custkey, totalprice DESC, o_orderkey"""

  /** DuckDB oracle for q_pagerank: same fixed-point integer recurrence as
    * GraphOps.pageRank, unrolled into one chained CTE per iteration
    * (`//` is DuckDB integer division = Spark's `div` on nonnegative
    * operands).
    */
  private def pageRankOracle(iters: Int, mod: Int): String = {
    val ctes = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank_fp
           FROM nodes n LEFT JOIN (
             SELECT e.dst, CAST(SUM(r.rank_fp // o.deg) AS BIGINT) AS c
             FROM edges e
             JOIN r${i - 1} r ON r.node = e.src
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst) s ON s.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM nodes),
        $ctes
        SELECT node, rank_fp, CAST(rank_fp AS DOUBLE) / 1e12 AS rank FROM r$iters"""
  }

  /** Weighted PageRank oracle: the [[pageRankOracle]] unroll with the
    * q_sssp_weighted edge derivation (w = min(l_linenumber) per collapsed
    * directed pair) and weight-proportional shares —
    * (rank_fp · w) // wdeg, all operands nonnegative so `//` ≡ `div`.
    */
  private def pageRankWeightedOracle(iters: Int, mod: Int): String = {
    val ctes = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank_fp
           FROM nodes n LEFT JOIN (
             SELECT e.dst, CAST(SUM((r.rank_fp * e.w) // o.wdeg) AS BIGINT) AS c
             FROM edges e
             JOIN r${i - 1} r ON r.node = e.src
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst) s ON s.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT l_orderkey % $mod AS src, l_partkey % $mod AS dst,
                 CAST(min(l_linenumber) AS BIGINT) AS w
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod
          GROUP BY 1, 2),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg
                   FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM nodes),
        $ctes
        SELECT node, rank_fp, CAST(rank_fp AS DOUBLE) / 1e12 AS rank FROM r$iters"""
  }

  /** HITS oracle: `iters` unrolled (authority, hub) rounds with the
    * engine's max-normalization — raw in-link (resp. out-link) sums,
    * then rescale to [0, HitsScale] by integer floor-div against the
    * round's max (scalar subquery). Mirrors GraphOps.hitsFixed
    * term-for-term.
    */
  private def hitsOracle(iters: Int, mod: Int): String = {
    val sc = graft.ops.GraphOps.HitsScale
    val ctes = (1 to iters).map { i =>
      s"""a${i}r AS MATERIALIZED (
           SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS raw
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS v
             FROM edges e JOIN h${i - 1} h ON h.node = e.src
             GROUP BY e.dst) s ON s.node = n.node),
         a$i AS MATERIALIZED (SELECT node,
           CAST((raw * $sc) // (SELECT max(raw) FROM a${i}r) AS BIGINT)
             AS a FROM a${i}r),
         h${i}r AS MATERIALIZED (
           SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS raw
           FROM nodes n LEFT JOIN (
             SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS v
             FROM edges e JOIN a$i a ON a.node = e.dst
             GROUP BY e.src) s ON s.node = n.node),
         h$i AS MATERIALIZED (SELECT node,
           CAST((raw * $sc) // (SELECT max(raw) FROM h${i}r) AS BIGINT)
             AS h FROM h${i}r)"""
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
          SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
        nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        h0 AS MATERIALIZED (SELECT node, CAST($sc AS BIGINT) AS h FROM nodes),
        $ctes
        SELECT a.node, a.a AS a_fp, h.h AS h_fp,
               CAST(a.a AS DOUBLE) / $sc.0 AS auth,
               CAST(h.h AS DOUBLE) / $sc.0 AS hub
        FROM a$iters a JOIN h$iters h ON h.node = a.node"""
  }

  /** Personalized-PageRank oracle: the [[pageRankOracle]] unroll with
    * teleport base only on the mod-`seedMod` seed set: the integers of
    * GraphOps.pageRank with `seedMod`, including the seeded r0 (the
    * engine unions the no-in-edge nodes at their base where this
    * left-joins the node set; both give base + 0 there).
    */
  private def pprOracle(iters: Int, mod: Int, seedMod: Int): String = {
    val base = "CASE WHEN n.node % " + seedMod +
      " = 0 THEN 150000000000 ELSE 0 END"
    val ctes = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT n.node,
                  CAST($base + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT)
                    AS rank_fp
           FROM nodes n LEFT JOIN (
             SELECT e.dst, CAST(SUM(r.rank_fp // o.deg) AS BIGINT) AS c
             FROM edges e
             JOIN r${i - 1} r ON r.node = e.src
             JOIN outdeg o ON o.src = e.src
             GROUP BY e.dst) s ON s.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT n.node,
          CAST(CASE WHEN n.node % $seedMod = 0 THEN 150000000000
               ELSE 0 END AS BIGINT) AS rank_fp FROM nodes n),
        $ctes
        SELECT node, rank_fp, CAST(rank_fp AS DOUBLE) / 1e12 AS rank
        FROM r$iters"""
  }

  /** Link-prediction oracle: symmetrize, wedge-join shared-neighbor
    * pairs, drop adjacent ones, exact Jaccard ppm, deterministic
    * top-k (GraphOps.linkPredict term-for-term).
    */
  private def linkPredictOracle(mod: Int, k: Int, cap: Long): String =
    s"""WITH edges AS (
          SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
        undall AS (SELECT src AS a, dst AS b FROM edges
                   UNION SELECT dst, src FROM edges),
        fd AS (SELECT b, count(*) AS bdeg FROM undall GROUP BY b),
        und AS (SELECT u.a, u.b FROM undall u
                JOIN fd ON fd.b = u.b AND fd.bdeg <= $cap),
        deg AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
        cand AS (SELECT x.a AS a, y.a AS b, count(*) AS cn
                 FROM und x JOIN und y ON x.b = y.b AND x.a < y.a
                 GROUP BY 1, 2),
        nonadj AS (SELECT c.a, c.b, c.cn FROM cand c
                   LEFT JOIN undall u ON u.a = c.a AND u.b = c.b
                   WHERE u.a IS NULL)
        SELECT n.a, n.b, n.cn,
               CAST((1000000 * n.cn) // (da.deg + db.deg - n.cn) AS BIGINT)
                 AS jacc_ppm
        FROM nonadj n JOIN deg da ON da.a = n.a JOIN deg db ON db.a = n.b
        ORDER BY n.cn DESC, jacc_ppm DESC, n.a, n.b LIMIT $k"""

  /** Warm-start incremental-PageRank oracle: `baseIters` unrolled
    * rounds over the line-1..4 edge subset, then `warmIters` rounds
    * over the FULL edge set initialized from the base result (new
    * nodes at the cold init) — GraphOps.pageRank with `prior`
    * term-for-term.
    */
  private def pageRankIncrOracle(baseIters: Int, warmIters: Int,
                                 mod: Int): String = {
    def round(name: String, prev: String, e: String, n: String,
              o: String): String =
      s"""$name AS (
           SELECT n.node,
                  CAST(150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank_fp
           FROM $n n LEFT JOIN (
             SELECT e.dst, CAST(SUM(r.rank_fp // o.deg) AS BIGINT) AS c
             FROM $e e
             JOIN $prev r ON r.node = e.src
             JOIN $o o ON o.src = e.src
             GROUP BY e.dst) s ON s.dst = n.node)"""
    val baseCtes = (1 to baseIters)
      .map(i => round(s"r$i", s"r${i - 1}", "ebase", "nodes0", "outdeg0"))
      .mkString(",\n")
    val warmCtes = (1 to warmIters)
      .map(i => round(s"s$i", s"s${i - 1}", "eall", "nodesa", "outdega"))
      .mkString(",\n")
    s"""WITH ebase AS (
          SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
          FROM lineitem
          WHERE l_linenumber <= 4 AND l_orderkey % $mod <> l_partkey % $mod),
        nodes0 AS (SELECT src AS node FROM ebase UNION SELECT dst FROM ebase),
        outdeg0 AS (SELECT src, count(*) AS deg FROM ebase GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp
               FROM nodes0),
        $baseCtes,
        eall AS (
          SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
        nodesa AS (SELECT src AS node FROM eall UNION SELECT dst FROM eall),
        outdega AS (SELECT src, count(*) AS deg FROM eall GROUP BY src),
        s0 AS (SELECT n.node,
                 CAST(COALESCE(r.rank_fp, 1000000000000) AS BIGINT)
                   AS rank_fp
               FROM nodesa n LEFT JOIN r$baseIters r ON r.node = n.node),
        $warmCtes
        SELECT node, rank_fp, CAST(rank_fp AS DOUBLE) / 1e12 AS rank
        FROM s$warmIters"""
  }

  /** Label-propagation oracle: `rounds` unrolled synchronous LPA steps
    * over the mod-`mod` graph. Each round counts the closed-
    * neighborhood label multiset (neighbor labels arriving over the
    * symmetric edge set + the node's own label) and elects the
    * plurality label with the (count desc, label asc) total order —
    * row_number here ≡ the engine's min(struct(-c, label)) aggregate.
    * Rounds at or past the fixpoint are no-ops, so unrolling the full
    * budget matches the engine's converged labeling exactly.
    */
  /** The LPA CTE chain (ed/sym/l0/c1..l`rounds`) — shared by the
    * community oracle and the modularity oracle.
    */
  private def lpaCtes(rounds: Int, mod: Int): String = {
    val ctes = (1 to rounds).map { i =>
      s"""c$i AS (SELECT node, community, COUNT(*) AS c FROM (
             SELECT s.v AS node, l.community
             FROM sym s JOIN l${i - 1} l ON s.u = l.node
             UNION ALL SELECT node, community FROM l${i - 1}) t$i
           GROUP BY node, community),
         l$i AS MATERIALIZED (SELECT node, community FROM (
             SELECT node, community, row_number() OVER (
               PARTITION BY node ORDER BY c DESC, community ASC) AS rk
             FROM c$i) e$i
           WHERE rk = 1)"""
    }.mkString(",\n")
    s"""ed AS (
          SELECT DISTINCT least(l_orderkey % $mod, l_partkey % $mod) AS a,
                          greatest(l_orderkey % $mod, l_partkey % $mod) AS b
          FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
        sym AS (SELECT a AS u, b AS v FROM ed
                UNION ALL SELECT b AS u, a AS v FROM ed),
        l0 AS (SELECT DISTINCT u AS node, u AS community FROM sym),
        $ctes"""
  }

  private def lpaOracle(rounds: Int, mod: Int): String =
    s"""WITH ${lpaCtes(rounds, mod)}
        SELECT node, community FROM l$rounds"""

  /** Modularity oracle: the LPA chain's converged labeling, then
    * e_c/m − (d_c/2m)² per community — exact int64 inputs, terminal
    * IEEE expression textually mirrored with the engine's.
    */
  private def modularityOracle(rounds: Int, mod: Int): String =
    s"""WITH ${lpaCtes(rounds, mod)},
        mm AS (SELECT COUNT(*) AS m FROM ed),
        intra AS (SELECT la.community, COUNT(*) AS intra_edges
                  FROM ed
                  JOIN l$rounds la ON la.node = ed.a
                  JOIN l$rounds lb ON lb.node = ed.b
                  WHERE la.community = lb.community
                  GROUP BY la.community),
        degs AS (SELECT l.community, COUNT(*) AS n_nodes,
                        CAST(SUM(d.deg) AS BIGINT) AS deg_sum
                 FROM (SELECT node, COUNT(*) AS deg FROM (
                         SELECT unnest([a, b]) AS node FROM ed) u
                       GROUP BY node) d
                 JOIN l$rounds l ON l.node = d.node
                 GROUP BY l.community)
        SELECT g.community, g.n_nodes,
               CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
               g.deg_sum,
               CAST(COALESCE(i.intra_edges, 0) AS DOUBLE) / mm.m -
                 (CAST(g.deg_sum AS DOUBLE) / (2.0 * mm.m)) *
                 (CAST(g.deg_sum AS DOUBLE) / (2.0 * mm.m)) AS q_contrib
        FROM degs g LEFT JOIN intra i USING (community), mm"""

  /** Weighted-LPA oracle: `rounds` unrolled synchronous weighted
    * plurality rounds over the collapsed undirected weighted graph —
    * neighbor votes carry edge weight, the self vote weight 1, same
    * (score desc, label asc) election. Fixed-round contract: both
    * engines stop at the same round whether or not a fixed point
    * exists.
    */
  private def wlpaOracle(rounds: Int, mod: Int): String = {
    val ctes = (1 to rounds).map { i =>
      s"""c$i AS (SELECT node, community, CAST(SUM(w) AS BIGINT) AS s FROM (
             SELECT s.v AS node, l.community, s.w
             FROM sym s JOIN l${i - 1} l ON s.u = l.node
             UNION ALL SELECT node, community, 1 FROM l${i - 1}) t$i
           GROUP BY node, community),
         l$i AS MATERIALIZED (SELECT node, community FROM (
             SELECT node, community, row_number() OVER (
               PARTITION BY node ORDER BY s DESC, community ASC) AS rk
             FROM c$i) e$i
           WHERE rk = 1)"""
    }.mkString(",\n")
    s"""WITH de AS (SELECT l_orderkey % $mod AS src, l_partkey % $mod AS dst,
                           CAST(min(l_linenumber) AS BIGINT) AS w
                    FROM lineitem
                    WHERE l_orderkey % $mod <> l_partkey % $mod
                    GROUP BY 1, 2),
        ed AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                      CAST(min(w) AS BIGINT) AS w
               FROM de GROUP BY 1, 2),
        sym AS (SELECT a AS u, b AS v, w FROM ed
                UNION ALL SELECT b AS u, a AS v, w FROM ed),
        l0 AS (SELECT DISTINCT u AS node, u AS community FROM sym),
        $ctes
        SELECT node, community FROM l$rounds"""
  }

  /** Batch gap-sessionizer oracle (boundaries + counts) — shared by the
    * single-batch (q_stream_stateful) and cross-batch
    * (q_stream_stateful_xbatch) stateful replays: both must emit the
    * exact batch closed-session set.
    */
  private val StatefulSessionSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus
                   FROM events),
        f AS (SELECT user_id, event_id, tus,
                CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > ${EventOps.GapUs}
                     THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        s AS (SELECT user_id, tus,
                CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY tus, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS sess_idx
              FROM f)
        SELECT user_id, MIN(tus) AS start_us, MAX(tus) AS end_us,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, sess_idx"""

  /** DuckDB oracles. The driver registers each parquet table as a view of
    * its bare name (contract example: `FROM lineitem`).
    */
  def oracleSql: Map[String, String] = Map(
    "q_wordcount" ->
      s"""SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split_regex(text, '${OracleSql.Ws}'))
                 AS word FROM documents)
         WHERE word <> '' GROUP BY word""",
    "q_grep" ->
      """SELECT m AS match, count(*) AS cnt
         FROM (SELECT unnest(regexp_extract_all(text, 's[a-z]+')) AS m FROM documents)
         WHERE m <> '' GROUP BY m""",
    "q_grep_group" ->
      """SELECT m AS match, count(*) AS cnt
         FROM (SELECT unnest(regexp_extract_all(text, 'the ([a-z]+)', 1)) AS m
               FROM documents)
         WHERE m <> '' GROUP BY m""",
    "q_agg_sum" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_agg_max" ->
      """SELECT l_returnflag, max(l_extendedprice) AS max_price,
                max(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q_agg_min" ->
      """SELECT l_returnflag, min(l_extendedprice) AS min_price,
                min(l_quantity) AS min_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q_agg_uniq" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS uniq_v,
                count(*) AS cnt
         FROM orders GROUP BY o_orderpriority""",
    "q_agg_histogram" ->
      """SELECT l_returnflag, CAST(floor(l_quantity / 10.0) AS BIGINT) AS bucket,
                count(*) AS cnt, min(l_quantity) AS min_v, max(l_quantity) AS max_v
         FROM lineitem GROUP BY l_returnflag, CAST(floor(l_quantity / 10.0) AS BIGINT)""",
    "q_agg_generic" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_v,
                max(l_quantity) AS max_v, min(l_quantity) AS min_v,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_sort_total" ->
      """SELECT l_partkey, l_orderkey, l_linenumber FROM lineitem
         ORDER BY l_partkey, l_orderkey, l_linenumber""",
    "q_sort_desc_float" ->
      """SELECT c_custkey, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey""",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_zorder" -> {
      val terms = (0 until 16).map { i =>
        s"((o_custkey % 65536) // ${1L << i}) % 2 * ${1L << (2 * i)} + " +
          s"((o_orderkey % 65536) // ${1L << i}) % 2 * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
      s"""SELECT o_orderkey, o_custkey, CAST($terms AS BIGINT) AS zval
          FROM orders"""
    },
    "q_join" ->
      """SELECT o_orderkey, l_linenumber, o_custkey, l_partkey
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
    "q_join_semi" ->
      """SELECT o_orderkey, o_orderpriority FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
    "q_join_anti" ->
      """SELECT o_orderkey, o_orderpriority FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
    "q_join_asof" -> AsofOracle,
    // Per-batch as-of composes losslessly: streamed union ≡ one batch
    // as-of over the whole input — same oracle.
    "q_stream_asof" -> AsofOracle,
    // Merged-schema read of the evolved table: legacy rows are the
    // pre-boundary commit (o_segment null), evolved rows carry
    // o_custkey % 7.
    "q_evolve_versions" ->
      s"""SELECT (CAST(o_orderdate AS DATE) < DATE '$IvmBoundary')
                   AS legacy,
                 count(*) AS n_rows,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
                 CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                                    >= DATE '$IvmBoundary'
                               THEN o_custkey % 7 ELSE 0 END) AS BIGINT)
                   AS seg_sum
          FROM orders GROUP BY 1""",
    // Re-enumerate the union with per-triangle delta-edge tags — the
    // incremental partition must land on the same category counts.
    "q_triangle_incr" ->
      s"""WITH raw AS (SELECT l_orderkey % $TriMod AS src,
                              l_partkey % $TriMod AS dst FROM lineitem),
          ed AS (SELECT DISTINCT least(src, dst) AS a,
                        greatest(src, dst) AS b
                 FROM raw WHERE src <> dst),
          tag AS (SELECT a, b,
                         CASE WHEN (a + b) % 10 = 0 THEN 1 ELSE 0 END
                           AS isd
                  FROM ed),
          tri AS (SELECT e1.isd + e2.isd + e3.isd AS nd
                  FROM tag e1
                  JOIN tag e2 ON e2.a = e1.a AND e2.b > e1.b
                  JOIN tag e3 ON e3.a = e1.b AND e3.b = e2.b)
          SELECT CAST(COALESCE(SUM(CASE WHEN nd = 0 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS t_base,
                 CAST(COALESCE(SUM(CASE WHEN nd = 1 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS t1,
                 CAST(COALESCE(SUM(CASE WHEN nd = 2 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS t2,
                 CAST(COALESCE(SUM(CASE WHEN nd = 3 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS t3,
                 CAST(COUNT(*) AS BIGINT) AS t_total
          FROM tri""",
    "q_join_asof_fwd" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
                    WHERE event_type = 'view'),
              o AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS buy_us
                    FROM events WHERE event_type = 'purchase'),
              j AS (SELECT e.event_id, e.user_id, e.tus, o.buy_id, o.buy_us,
                           ROW_NUMBER() OVER (
                             PARTITION BY e.event_id, e.user_id, e.tus
                             ORDER BY o.buy_us ASC, o.buy_id ASC) AS rn
                    FROM e JOIN o USING (user_id) WHERE o.buy_us >= e.tus)
         SELECT event_id, user_id, tus, buy_id, buy_us FROM j WHERE rn = 1""",
    // Backward and forward elections, then the nearest choice with a
    // backward preference on exact ties — the same decision tree the
    // Spark operator applies to its two window passes.
    "q_join_asof_near" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
                    WHERE event_type = 'view'),
              o AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS buy_us
                    FROM events WHERE event_type = 'purchase'),
              b AS (SELECT e.event_id, e.user_id, e.tus, o.buy_id, o.buy_us,
                           ROW_NUMBER() OVER (
                             PARTITION BY e.event_id, e.user_id, e.tus
                             ORDER BY o.buy_us DESC, o.buy_id DESC) AS rn
                    FROM e JOIN o USING (user_id) WHERE o.buy_us <= e.tus),
              f AS (SELECT e.event_id, e.user_id, e.tus, o.buy_id, o.buy_us,
                           ROW_NUMBER() OVER (
                             PARTITION BY e.event_id, e.user_id, e.tus
                             ORDER BY o.buy_us ASC, o.buy_id ASC) AS rn
                    FROM e JOIN o USING (user_id) WHERE o.buy_us >= e.tus),
              bb AS (SELECT * FROM b WHERE rn = 1),
              ff AS (SELECT * FROM f WHERE rn = 1)
         SELECT e.event_id, e.user_id, e.tus,
                CASE WHEN bb.buy_us IS NULL THEN ff.buy_id
                     WHEN ff.buy_us IS NULL THEN bb.buy_id
                     WHEN ff.buy_us - e.tus < e.tus - bb.buy_us THEN ff.buy_id
                     ELSE bb.buy_id END AS buy_id,
                CASE WHEN bb.buy_us IS NULL THEN ff.buy_us
                     WHEN ff.buy_us IS NULL THEN bb.buy_us
                     WHEN ff.buy_us - e.tus < e.tus - bb.buy_us THEN ff.buy_us
                     ELSE bb.buy_us END AS buy_us
         FROM e
         LEFT JOIN bb ON bb.event_id = e.event_id AND bb.user_id = e.user_id
                     AND bb.tus = e.tus
         LEFT JOIN ff ON ff.event_id = e.event_id AND ff.user_id = e.user_id
                     AND ff.tus = e.tus
         WHERE bb.buy_us IS NOT NULL OR ff.buy_us IS NOT NULL""",
    // Quadratic overlap join over the same session derivation — an
    // INDEPENDENT formulation (no buckets), so a bucket-decomposition
    // bug (missed pair, duplicate) cannot hide.
    "q_join_interval" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
              f AS (SELECT user_id, event_id, tus,
                      CASE WHEN lag(tus) OVER w IS NULL
                             OR tus - lag(tus) OVER w > ${graft.ops.EventOps.GapUs}
                           THEN 1 ELSE 0 END AS new_sess
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
              s AS (SELECT user_id,
                      CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                               ORDER BY tus, event_id
                                               ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS sess_idx, tus
                    FROM f),
              sess AS (SELECT user_id, sess_idx, min(tus) AS s, max(tus) AS e
                       FROM s GROUP BY user_id, sess_idx)
          SELECT a.user_id AS k_a, a.sess_idx AS id_a,
                 b.user_id AS k_b, b.sess_idx AS id_b,
                 least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
          FROM sess a JOIN sess b
            ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e""",
    "q_join_range" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events)
         SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
                b.tus - a.tus AS dt_us
         FROM e a JOIN e b ON a.user_id = b.user_id
          AND (b.tus > a.tus OR (b.tus = a.tus AND b.event_id > a.event_id))
          AND b.tus - a.tus <= 3600000000""",
    "q_join_dim" ->
      """SELECT n_name, count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_union" ->
      """SELECT o_orderkey, 'first' AS src FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, 'second' AS src FROM orders WHERE o_orderstatus = 'O'""",
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT ALL
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT ALL
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_date_spine" ->
      """WITH days AS (SELECT CAST(gs.generate_series AS DATE) AS day
                       FROM generate_series(DATE '1995-01-01',
                                            DATE '1996-12-31',
                                            INTERVAL 1 DAY) gs)
         SELECT strftime(day, '%Y-%m') AS month, count(*) AS n_days,
                CAST(sum(CASE WHEN (day - DATE '1970-01-01') % 7 IN (2, 3)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
                min(strftime(day, '%Y-%m-%d')) AS first_day,
                max(strftime(day, '%Y-%m-%d')) AS last_day
         FROM days GROUP BY month""",
    // Manual union-all unpivot: dialect-stable (UNPIVOT syntax differs
    // across engines; the union is the semantics).
    "q_unpivot" ->
      """WITH t AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
         SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                CAST(l_quantity AS DOUBLE) AS value FROM t
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                CAST(l_extendedprice AS DOUBLE) FROM t
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount',
                CAST(l_discount AS DOUBLE) FROM t""",
    "q_regex_all" ->
      """SELECT u.token, count(*) AS n
         FROM (SELECT unnest(regexp_extract_all(text, '[a-z]{5,}')) AS token
               FROM documents) u
         GROUP BY u.token""",
    // Ordinality via a range join (DuckDB lacks WITH ORDINALITY);
    // empties filtered before positioning, mirroring the Spark side.
    "q_explode_pos" ->
      s"""WITH t AS (SELECT doc_id,
               list_filter(string_split_regex(text, '${OracleSql.Ws}'),
                           x -> x <> '') AS w
             FROM documents WHERE doc_id % 100 = 0)
          SELECT doc_id, CAST(r.i - 1 AS INTEGER) AS pos, w[r.i] AS token
          FROM t JOIN range(1, 100000) r(i) ON r.i <= len(w)""",
    "q_join_outer" ->
      """WITH f AS (SELECT o_custkey, count(*) AS n_f FROM orders
                    WHERE o_orderstatus = 'F' GROUP BY o_custkey),
              g AS (SELECT o_custkey, count(*) AS n_o FROM orders
                    WHERE o_orderstatus = 'O' GROUP BY o_custkey)
         SELECT COALESCE(f.o_custkey, g.o_custkey) AS o_custkey,
                COALESCE(f.n_f, 0) AS n_f, COALESCE(g.n_o, 0) AS n_o
         FROM f FULL OUTER JOIN g ON f.o_custkey = g.o_custkey""",
    "q_window_lag" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
                lag(o_orderkey) OVER ws AS prev_key,
                lead(o_orderkey) OVER ws AS next_key,
                rank() OVER wr AS rnk,
                dense_rank() OVER wr AS drnk
         FROM orders
         WINDOW ws AS (PARTITION BY o_custkey ORDER BY o_orderkey),
                wr AS (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey)""",
    "q_window_extras" ->
      """SELECT o_orderkey, o_custkey,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                first_value(o_orderkey) OVER wf AS first_key,
                last_value(o_orderkey) OVER wf AS last_key
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
                wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "q_window_ranks" ->
      """SELECT o_orderpriority, o_orderkey,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cum_dist
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)""",
    "q_window_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "q_agg_stats" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s1,
                CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s2
         FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n, s1 / n AS avg_qty,
                s2 / n - (s1 / n) * (s1 / n) AS var_qty,
                sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS std_qty
         FROM a""",
    "q_topk_grouped" ->
      """WITH rev AS (SELECT c_mktsegment, o_custkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS revenue,
                COUNT(*) AS n_orders
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment, o_custkey),
          r AS (SELECT rev.*, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                  ORDER BY revenue DESC, o_custkey) AS rnk FROM rev)
          SELECT c_mktsegment, o_custkey, revenue, n_orders, rnk
          FROM r WHERE rnk <= 5""",
    "q_interarrival" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
                    FROM events),
          g AS (SELECT event_type,
                  tus - lag(tus) OVER (PARTITION BY user_id
                                       ORDER BY tus, event_id) AS gap
                FROM e)
          SELECT event_type, COUNT(*) AS n_gaps,
                 CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
                 CAST(MAX(gap) AS BIGINT) AS max_gap_us,
                 CAST(CAST(SUM(gap) AS BIGINT) // COUNT(*) AS BIGINT)
                   AS mean_gap_us
          FROM g WHERE gap IS NOT NULL GROUP BY event_type""",
    "q_agg_argmax" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey DESC)
                  AS rx,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice ASC, o_orderkey ASC)
                  AS rn
              FROM orders)
         SELECT o_orderpriority,
                MAX(CASE WHEN rx = 1 THEN o_orderkey END) AS max_key,
                MAX(CASE WHEN rn = 1 THEN o_orderkey END) AS min_key,
                MAX(o_totalprice) AS max_price,
                MIN(o_totalprice) AS min_price
         FROM r GROUP BY o_orderpriority""",
    "q_cohort" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS w
                    FROM events),
          f AS (SELECT user_id, MIN(w) AS w0 FROM e GROUP BY user_id),
          d AS (SELECT DISTINCT user_id, w FROM e)
          SELECT w0, w, COUNT(DISTINCT user_id) AS n_users
          FROM d JOIN f USING (user_id) GROUP BY w0, w""",
    "q_union_byname" ->
      """SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 1""",
    // The merged-scan result reconstructed from the source: even docs
    // contribute no word count (v1 generation), odd docs the ws token
    // count (v2) — same whitespace class as the engine.
    "q_schema_merge" ->
      s"""WITH d AS (SELECT doc_id, lang,
                CASE WHEN doc_id % 2 = 1 THEN CAST(len(list_filter(
                       string_split_regex(text, '${OracleSql.Ws}'),
                       x -> x <> '')) AS BIGINT) END AS n_words
              FROM documents)
          SELECT lang, count(*) AS n_docs,
                 count(n_words) AS n_with_words,
                 CAST(sum(COALESCE(n_words, 0)) AS BIGINT) AS sum_words
          FROM d GROUP BY lang""",
    "q_agg_corr" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sx,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sy,
                CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
                CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy
         FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                sxy / n - (sx / n) * (sy / n) AS cov_pop,
                (sxy / n - (sx / n) * (sy / n)) /
                  sqrt((sxx / n - (sx / n) * (sx / n)) *
                       (syy / n - (sy / n) * (sy / n))) AS corr
         FROM a""",
    "q_agg_strings" ->
      """SELECT c_mktsegment, count(*) AS n,
                string_agg(c_name, ',' ORDER BY c_name) AS names
         FROM customer GROUP BY c_mktsegment""",
    "q_window" ->
      """SELECT o_orderkey, o_custkey,
                row_number() OVER w AS rn,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE) AS running_spend
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q_pivot" ->
      """SELECT o_orderpriority,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
         FROM orders GROUP BY o_orderpriority""",
    "q_pivot_dynamic" ->
      s"""WITH cnts AS (SELECT o_orderpriority AS pv, count(*) AS cnt
                        FROM orders GROUP BY 1),
            slots AS (SELECT pv, rk FROM (
                SELECT pv, row_number() OVER (ORDER BY cnt DESC, pv ASC)
                  AS rk FROM cnts) WHERE rk <= $PivotDynK),
            legend AS (SELECT
                max(CASE WHEN rk = 1 THEN pv END) AS v1,
                max(CASE WHEN rk = 2 THEN pv END) AS v2,
                max(CASE WHEN rk = 3 THEN pv END) AS v3 FROM slots),
            counts AS (SELECT o.o_orderstatus,
                CAST(sum(CASE WHEN s.rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(sum(CASE WHEN s.rk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                CAST(sum(CASE WHEN s.rk = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                CAST(sum(CASE WHEN s.rk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_other
              FROM orders o LEFT JOIN slots s ON o.o_orderpriority = s.pv
              GROUP BY 1)
         SELECT o_orderstatus, v1, n1, v2, n2, v3, n3, n_other
         FROM counts CROSS JOIN legend""",
    "q_sql_ctas" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                min(o_orderkey) AS min_key,
                max(o_orderkey) AS max_key
         FROM orders GROUP BY o_orderstatus""",
    "q_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE CAST(concat('0x', substr(md5('smp-' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10""",
    "q_join_salted" ->
      """SELECT o_orderkey, l_linenumber, o_orderpriority, l_quantity
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "q_merge_upsert" -> OracleSql.mergeUpsertSql,
    // The streamed fold must land on the identical final snapshot.
    "q_stream_upsert" -> OracleSql.mergeUpsertSql,
    "q_scd2" -> OracleSql.scd2Sql,
    "q_scd2_pit" -> OracleSql.pitLookupSql(1L),
    "q_table_diff" -> OracleSql.tableDiffSql,
    "q_window_moving" ->
      """SELECT o_orderkey, o_custkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE)
                  AS mov_sum,
                count(*) OVER w AS mov_n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE)
                  / (count(*) OVER w) AS mov_avg
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "q_window_range" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value
                    FROM events)
         SELECT event_id, user_id,
                count(*) OVER w AS n_1h,
                CAST(sum(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE)
                  AS sum_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "q_window_median" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                           CAST(floor(value * 100) AS BIGINT) AS cents
                    FROM events)
         SELECT user_id, event_id,
                CAST(median(cents) OVER w AS DOUBLE) AS med_cents
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    "q_markov" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus,
                           event_id FROM events),
              s AS (SELECT event_type AS to_type,
                           lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY tus, event_id) AS from_type
                    FROM e),
              c AS (SELECT from_type, to_type, count(*) AS n
                    FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                CAST((n * 1000000)
                  // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
                  AS BIGINT) AS p_ppm
         FROM c""",
    "q_seasonality" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, value FROM events)
         SELECT ((tus // 86400000000) + 3) % 7 AS dow0,
                (tus // 3600000000) % 24 AS hod,
                count(*) AS n,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM e GROUP BY 1, 2""",
    "q_bitset_agg" ->
      """WITH t AS (SELECT event_type,
                           row_number() OVER (ORDER BY event_type) - 1
                             AS bit
                    FROM (SELECT DISTINCT event_type FROM events)),
              m AS (SELECT e.user_id,
                           bit_or(CAST(1 AS BIGINT) << t.bit) AS type_mask
                    FROM events e JOIN t USING (event_type)
                    GROUP BY e.user_id)
         SELECT user_id, type_mask,
                CAST(bit_count(type_mask) AS INT) AS n_types
         FROM m""",
    "q_kanon" ->
      s"""WITH g AS (SELECT o_orderpriority, o_orderstatus,
                            CAST(date_trunc('month', o_orderdate) AS DATE)
                              AS m,
                            count(*) AS n,
                            sum(CAST(o_totalprice AS DECIMAL(28,4))) AS sp
                     FROM orders GROUP BY 1, 2, 3)
          SELECT o_orderpriority AS qi_priority,
                 o_orderstatus AS qi_status,
                 CAST(m AS VARCHAR) AS qi_month,
                 n, CAST(sp AS DOUBLE) AS sum_price
          FROM g WHERE n >= $KAnonK
          UNION ALL
          SELECT '*', '*', '*', CAST(sum(n) AS BIGINT),
                 CAST(sum(sp) AS DOUBLE)
          FROM g WHERE n < $KAnonK HAVING count(*) > 0""",
    "q_agg_monthly" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price
         FROM orders GROUP BY date_trunc('month', o_orderdate)""",
    "q_tfidf" -> OracleSql.tfidfSql,
    "q_agg_quantile" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.25) AS p25,
                quantile_cont(l_extendedprice, 0.5) AS median,
                quantile_cont(l_extendedprice, 0.75) AS p75,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""",
    "q_pagerank" -> pageRankOracle(PrIters, PrMod),
    "q_hits" -> hitsOracle(HitsIters, PrMod),
    "q_pagerank_incr" -> pageRankIncrOracle(PrIters, PrWarmIters, PrMod),
    "q_ppr" -> pprOracle(PrIters, PrMod, PprSeedMod),
    "q_link_predict" -> linkPredictOracle(LpMod, LinkPredictK, LpNbrCap),
    "q_pagerank_weighted" -> pageRankWeightedOracle(PrwIters, TriMod),
    "q_communities" -> lpaOracle(LpaRounds, TriMod),
    "q_communities_weighted" -> wlpaOracle(WlpaRounds, TriMod),
    "q_modularity" -> modularityOracle(LpaRounds, TriMod),
    // Same distinct→frequent-prune→pair-count derivation; `//` ≡ `div`
    // on the nonnegative counts; conf/lift are terminal IEEE divisions
    // of exact integer products.
    "q_assoc_rules" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket,
                            l_partkey % $AssocItemMod AS item FROM lineitem),
          thr AS (SELECT COUNT(DISTINCT basket) AS n_b,
                         COUNT(DISTINCT basket) // $AssocSupDiv AS min_sup
                  FROM b),
          ic AS (SELECT item, COUNT(*) AS cnt, n_b
                 FROM b, thr GROUP BY item, n_b, min_sup
                 HAVING COUNT(*) >= min_sup),
          bf AS (SELECT basket, item FROM (
                   SELECT b.basket, b.item,
                          row_number() OVER (PARTITION BY b.basket
                            ORDER BY ic.cnt DESC, b.item ASC) AS rk
                   FROM b JOIN ic ON ic.item = b.item)
                 WHERE rk <= $AssocMaxBasket),
          fp AS (SELECT a.item AS i1, c.item AS i2, COUNT(*) AS n_pair
                 FROM bf a JOIN bf c
                   ON a.basket = c.basket AND a.item < c.item
                 GROUP BY 1, 2),
          fq AS (SELECT i1, i2, n_pair FROM fp, thr WHERE n_pair >= min_sup),
          rules AS (SELECT i1 AS ante, i2 AS cons, n_pair FROM fq
                    UNION ALL
                    SELECT i2 AS ante, i1 AS cons, n_pair FROM fq)
          SELECT r.ante, r.cons, CAST(r.n_pair AS BIGINT) AS n_pair,
                 CAST(a.cnt AS BIGINT) AS n_ante,
                 CAST(c.cnt AS BIGINT) AS n_cons,
                 CAST(r.n_pair AS DOUBLE) / CAST(a.cnt AS DOUBLE) AS conf,
                 CAST(r.n_pair * a.n_b AS DOUBLE) /
                   CAST(a.cnt * c.cnt AS DOUBLE) AS lift
          FROM rules r
          JOIN ic a ON a.item = r.ante
          JOIN ic c ON c.item = r.cons""",
    // Triangle oracle extended with the undirected degree table; lcc's
    // two int64 inputs are exact, so the one double division agrees.
    "q_clustering_coef" ->
      s"""WITH raw AS (SELECT l_orderkey % $TriMod AS src,
                              l_partkey % $TriMod AS dst FROM lineitem),
          ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM raw WHERE src <> dst),
          deg AS (SELECT node, COUNT(*) AS deg
                  FROM (SELECT unnest([a, b]) AS node FROM ed) GROUP BY node),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM ed e1
                  JOIN ed e2 ON e2.a = e1.a AND e2.b > e1.b
                  JOIN ed e3 ON e3.a = e1.b AND e3.b = e2.b),
          tc AS (SELECT node, COUNT(*) AS n_tri
                 FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
          SELECT d.node, CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
                 CAST(d.deg AS BIGINT) AS deg,
                 CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE) /
                   CAST(d.deg * (d.deg - 1) AS DOUBLE) AS lcc
          FROM deg d LEFT JOIN tc t ON t.node = d.node
          WHERE d.deg >= 2""",
    "q_degree_dist" ->
      s"""WITH raw AS (SELECT l_orderkey % $TriMod AS src,
                              l_partkey % $TriMod AS dst FROM lineitem),
          ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM raw WHERE src <> dst),
          nd AS (SELECT a AS node FROM ed UNION ALL SELECT b FROM ed),
          dg AS (SELECT node, COUNT(*) AS degree FROM nd GROUP BY node)
          SELECT degree, COUNT(*) AS n_nodes FROM dg GROUP BY degree""",
    "q_sentences" ->
      s"""WITH s AS (SELECT doc_id,
            list_filter(string_split_regex(text, '${graft.ops.TextOps.SentenceRegex}'),
              x -> x <> '') AS ss
          FROM documents WHERE text IS NOT NULL),
          e AS (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS i
                FROM s WHERE len(ss) > 0)
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
                 CAST(length(ss[i]) AS BIGINT) AS n_chars,
                 md5(ss[i]) AS sent_md5
          FROM e""",
    "q_triangle" ->
      s"""WITH raw AS (SELECT l_orderkey % $TriMod AS src,
                              l_partkey % $TriMod AS dst FROM lineitem),
          ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM raw WHERE src <> dst),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM ed e1
                  JOIN ed e2 ON e2.a = e1.a AND e2.b > e1.b
                  JOIN ed e3 ON e3.a = e1.b AND e3.b = e2.b),
          n AS (SELECT unnest([x, y, z]) AS node FROM tri)
          SELECT node, COUNT(*) AS n_tri FROM n GROUP BY node""",
    // Same multi-pass blocking + election as DedupOps.fuzzyCanonicalize:
    // block on first AND last token (pairs deduped across passes),
    // length band, levenshtein <= 2, row_number election with the full
    // (cnt DESC, name ASC) tie-break.
    "q_fuzzy_canon" ->
      """WITH counts AS (SELECT p_name AS nm, COUNT(*) AS cnt
                         FROM part GROUP BY p_name),
            keyed AS (SELECT nm, cnt, length(nm) AS len, u.blk
                      FROM counts, UNNEST(list_distinct([
                        split_part(nm, ' ', 1),
                        split_part(nm, ' ', -1)])) AS u(blk)),
            cand AS (SELECT DISTINCT a.nm, a.cnt, b.nm AS nm2, b.cnt AS cnt2
                     FROM keyed a JOIN keyed b ON a.blk = b.blk
                       AND abs(a.len - b.len) <= 2
                       AND levenshtein(a.nm, b.nm) <= 2),
            elect AS (SELECT nm, cnt, nm2, row_number() OVER
                        (PARTITION BY nm ORDER BY cnt2 DESC, nm2 ASC) AS rk
                      FROM cand)
          SELECT nm, nm2 AS canonical,
                 CAST(levenshtein(nm, nm2) AS INTEGER) AS dist,
                 CAST(cnt AS BIGINT) AS cnt
          FROM elect WHERE rk = 1""",
    // Decomposed tail built with chr() (DuckDB chr is full Unicode;
    // Spark's is not, so the Spark side uses a \u escape literal);
    // nfc_normalize + strip_accents are DuckDB built-ins.
    "q_text_normalize" ->
      s"""WITH d AS (SELECT lang,
                            text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS dec
                     FROM documents),
             n AS (SELECT lang, dec, nfc_normalize(dec) AS nfc,
                          strip_accents(dec) AS stripped FROM d)
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(length(dec)) AS BIGINT) AS sum_len_dec,
                 CAST(SUM(length(nfc)) AS BIGINT) AS sum_len_nfc,
                 CAST(SUM(length(stripped)) AS BIGINT) AS sum_len_stripped,
                 CAST(SUM(${OracleSql.hash60("nfc")} % 1000000) AS BIGINT) AS sum_h_nfc,
                 CAST(SUM(${OracleSql.hash60("stripped")} % 1000000) AS BIGINT) AS sum_h_stripped
          FROM n GROUP BY lang ORDER BY lang""",
    // Peeling unrolled to 14 rounds (fixpoint at 10 on sf0.01; extra
    // rounds are no-ops, so any early Spark convergence still matches).
    "q_kcore" -> {
      val k = 12
      val base =
        s"""e0 AS MATERIALIZED (SELECT DISTINCT least(l_orderkey % $TriMod, l_partkey % $TriMod) AS a,
                          greatest(l_orderkey % $TriMod, l_partkey % $TriMod) AS b
                   FROM lineitem
                   WHERE l_orderkey % $TriMod <> l_partkey % $TriMod)"""
      val rounds = (1 to 14).map { i =>
        s"""n$i AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e${i - 1}
                     UNION ALL SELECT b FROM e${i - 1})
                   GROUP BY node HAVING count(*) >= $k),
            e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
                   JOIN n$i x ON x.node = e.a
                   JOIN n$i y ON y.node = e.b)"""
      }.mkString(",\n")
      s"""WITH $base,
          $rounds
          SELECT node, count(*) AS deg
          FROM (SELECT a AS node FROM e14 UNION ALL SELECT b FROM e14)
          GROUP BY node"""
    },
    "q_bfs" -> {
      val sym =
        s"""sym AS MATERIALIZED (
              SELECT l_orderkey % $TriMod AS src, l_partkey % $TriMod AS dst
              FROM lineitem WHERE l_orderkey % $TriMod <> l_partkey % $TriMod
              UNION
              SELECT l_partkey % $TriMod, l_orderkey % $TriMod
              FROM lineitem WHERE l_orderkey % $TriMod <> l_partkey % $TriMod)"""
      val rounds = (1 to BfsDepth).map { i =>
        s"""f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM sym e
               JOIN f${i - 1} f ON e.src = f.node
               WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
            v$i AS MATERIALIZED (SELECT node, dist FROM v${i - 1}
               UNION ALL SELECT node, $i AS dist FROM f$i)"""
      }.mkString(",\n")
      s"""WITH $sym,
          v0 AS (SELECT CAST($BfsSource AS BIGINT) AS node, 0 AS dist),
          f0 AS (SELECT node FROM v0),
          $rounds
          SELECT node, dist FROM v$BfsDepth"""
    },
    "q_sssp" -> {
      val sym =
        s"""sym0 AS (
              SELECT l_orderkey % $TriMod AS src, l_partkey % $TriMod AS dst
              FROM lineitem WHERE l_orderkey % $TriMod <> l_partkey % $TriMod
              UNION
              SELECT l_partkey % $TriMod, l_orderkey % $TriMod
              FROM lineitem WHERE l_orderkey % $TriMod <> l_partkey % $TriMod),
            sym AS MATERIALIZED (
              SELECT src, dst, ((src + dst) % 9) + 1 AS w FROM sym0)"""
      val rounds = (1 to SsspMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d${i - 1}
               UNION ALL
               SELECT e.dst AS node, d.dist + e.w AS dist
               FROM sym e JOIN d${i - 1} d ON e.src = d.node)
             GROUP BY node)"""
      }.mkString(",\n")
      s"""WITH $sym,
          d0 AS (SELECT CAST($BfsSource AS BIGINT) AS node,
                        CAST(0 AS BIGINT) AS dist),
          $rounds
          SELECT node, dist FROM d$SsspMaxRounds"""
    },
    "q_sssp_weighted" -> {
      val we =
        s"""we AS MATERIALIZED (
              SELECT l_orderkey % $TriMod AS src, l_partkey % $TriMod AS dst,
                     CAST(min(l_linenumber) AS BIGINT) AS w
              FROM lineitem WHERE l_orderkey % $TriMod <> l_partkey % $TriMod
              GROUP BY 1, 2)"""
      val rounds = (1 to SsspWMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d${i - 1}
               UNION ALL
               SELECT e.dst AS node, d.dist + e.w AS dist
               FROM we e JOIN d${i - 1} d ON e.src = d.node)
             GROUP BY node)"""
      }.mkString(",\n")
      s"""WITH $we,
          d0 AS (SELECT CAST($BfsSource AS BIGINT) AS node,
                        CAST(0 AS BIGINT) AS dist),
          $rounds
          SELECT node, dist FROM d$SsspWMaxRounds"""
    },
    "q_dedup_exact" -> OracleSql.dedupExactSql,
    "q_dedup_incremental" -> OracleSql.dedupIncrementalSql,
    "q_dedup_bloom" -> OracleSql.dedupIncrementalSql,
    "q_dedup_paragraph" -> OracleSql.dedupParagraphSql,
    "q_decontam" -> OracleSql.decontamSql,
    "q_pack" -> OracleSql.packSql,
    "q_shard_balance" -> OracleSql.shardBalanceSql,
    "q_span_mask" -> OracleSql.spanMaskSql,
    "q_chunk_overlap" -> OracleSql.chunkOverlapSql(64, 48),
    "q_inverted_index" -> OracleSql.invertedIndexSql(20),
    "q_rank_bm25" -> OracleSql.bm25Sql(Bm25Queries, 10),
    "q_bm25_persist" -> OracleSql.bm25Sql(Bm25QueriesB, 10),
    "q_stream_bm25" -> OracleSql.bm25Sql(Bm25StreamQueries, 10),
    "q_bm25_incr" -> OracleSql.bm25IncrSql(Bm25QueriesB, 10),
    // Compaction must be serve-neutral: same union-corpus replay.
    "q_bm25_compact" -> OracleSql.bm25IncrSql(Bm25Queries, 10),
    "q_rrf_fusion" -> OracleSql.rrfSql(Bm25Queries, 20, 10),
    "q_rank_eval" -> OracleSql.rankEvalSql(Bm25Queries, 10),
    "q_hybrid_retrieval" -> OracleSql.hybridSql(Bm25Queries, 20, 10),
    "q_hybrid_eval" -> OracleSql.hybridEvalSql(Bm25Queries, 20, 10),
    "q_hll_incr" -> OracleSql.hllIncrSql("1995-06-01"),
    "q_sketch_rollup_portable" -> OracleSql.portableSketchRollupSql,
    "q_profile" -> OracleSql.profileSql("lineitem", Seq(
      "l_orderkey" -> true, "l_partkey" -> true, "l_linenumber" -> true,
      "l_quantity" -> true, "l_extendedprice" -> true,
      "l_returnflag" -> false, "l_linestatus" -> false)),
    "q_mix_resample" -> OracleSql.mixResampleSql,
    "q_vocab_coverage" -> OracleSql.vocabCoverageSql,
    "q_sample_weighted" -> OracleSql.sampleWeightedSql,
    "q_corpus_report" -> OracleSql.corpusReportSql,
    "q_split_assign" ->
      s"""WITH b AS (SELECT doc_id,
            ${OracleSql.hash60("'split-' || CAST(doc_id AS VARCHAR)")} % 100
              AS bucket FROM documents)
          SELECT CASE WHEN bucket < 90 THEN 'train'
                      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
                 count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
          FROM b GROUP BY 1""",
    "q_dedup_minhash" -> OracleSql.dedupMinhashSql,
    "q_dedup_minhash_incr" -> OracleSql.dedupMinhashIncrSql,
    "q_dedup_index_update" -> OracleSql.dedupIndexUpdateSql,
    // Deliberately the single-append update SQL: double-append + compact
    // must be probe-equivalent to one clean append.
    "q_dedup_index_compact" -> OracleSql.dedupIndexUpdateSql,
    "q_dedup_cluster_incr" -> OracleSql.dedupClusterIncrSql,
    "q_dedup_canonical_incr" -> OracleSql.dedupCanonicalIncrSql,
    "q_stream_dedup_index" -> OracleSql.dedupStreamIngestSql,
    "q_stream_canonical" -> OracleSql.canonicalStreamSql,
    "q_dedup_simhash" -> OracleSql.dedupSimhashSql,
    "q_dedup_ngram" -> OracleSql.dedupNgramSql,
    "q_novelty" -> OracleSql.noveltySql,
    "q_dedup_containment" -> OracleSql.dedupContainmentSql,
    "q_minhash_udaf" -> OracleSql.minhashUdafSql,
    "q_dedup_cluster" -> OracleSql.dedupClusterSql,
    "q_dedup_canonical" -> OracleSql.dedupCanonicalSql,
    "q_scrub" -> OracleSql.scrubSql,
    "q_embed_dimstats" -> OracleSql.dimStatsSql,
    "q_embed_rp" -> OracleSql.rpDistortionSql,
    "q_sample_stratified" -> OracleSql.sampleStratifiedSql,
    "q_simsearch" -> OracleSql.simsearchSql,
    "q_simsearch_lsh" -> OracleSql.simsearchLshSql,
    "q_simsearch_ivf" -> OracleSql.simsearchIvfSql,
    "q_simsearch_ivf_kmeans" -> OracleSql.simsearchIvfKmeansSql(2),
    "q_kmeans" -> OracleSql.kmeansSql(KmeansRounds),
    "q_bpe_train" -> OracleSql.bpeTrainSql(BpeMerges),
    "q_bpe_tokenize" -> OracleSql.bpeTokenizeSql(BpeMerges),
    "q_bpe_fertility" -> OracleSql.bpeFertilitySql(BpeMerges),
    "q_bpe_apply" -> OracleSql.bpeApplySql(BpeMerges),
    "q_unigram_train" -> OracleSql.unigramTrainSql,
    "q_unigram_apply" -> OracleSql.unigramApplySql,
    "q_unigram_fertility" -> OracleSql.unigramCompareSql(BpeMerges),
    "q_wordpiece_apply" -> OracleSql.wordpieceApplySql,
    "q_wordpiece_fertility" -> OracleSql.wordpieceCompareSql,
    "q_simsearch_pq" -> OracleSql.simsearchPqSql,
    "q_simsearch_recall" -> OracleSql.simsearchRecallSql,
    "q_simsearch_truncdim" -> OracleSql.truncDimRecallSql,
    "q_dedup_embed_recall" -> OracleSql.dedupEmbedRecallSql,
    "q_agg_salted" -> OracleSql.aggSaltedSql,
    "q_dedup_embed" -> OracleSql.dedupEmbedSql,
    "q_dedup_embed_incr" -> OracleSql.dedupEmbedIncrSql,
    "q_embed_index_update" -> OracleSql.embedIndexUpdateSql,
    // Double-append + compact (occ refresh) ≡ one clean append.
    "q_embed_index_compact" -> OracleSql.embedIndexUpdateSql,
    "q_embed_cluster_incr" -> OracleSql.embedClusterIncrSql,
    "q_stream_embed_index" -> OracleSql.embedStreamIngestSql,
    "q_simsearch_incr" -> OracleSql.simsearchIncrSql,
    "q_simsearch_ivf_incr" -> OracleSql.simsearchIvfIncrSql(2),
    "q_simsearch_pq_incr" -> OracleSql.simsearchPqIncrSql,
    "q_text_stats" -> OracleSql.textStatsSql,
    "q_html_extract" -> OracleSql.htmlExtractSql,
    "q_gopher_rules" -> OracleSql.gopherRulesSql,
    "q_c4_filter" -> OracleSql.c4FilterSql,
    "q_url_filter" -> OracleSql.urlFilterSql,
    "q_dedup_substring" -> OracleSql.dedupSubstringSql,
    "q_dedup_cdc" -> OracleSql.dedupCdcSql,
    "q_dedup_cdc_savings" -> OracleSql.dedupCdcSavingsSql,
    "q_dedup_substring_incr" -> OracleSql.dedupSubstringIncrSql,
    "q_classifier_apply" -> OracleSql.classifierApplySql,
    "q_classifier_persist" -> OracleSql.classifierPersistSql,
    "q_calibration" -> OracleSql.calibrationSql,
    "q_stream_classifier" -> OracleSql.classifierStreamSql,
    "q_hard_negatives" -> OracleSql.hardNegativesSql,
    "q_length_buckets" -> OracleSql.lengthBucketsSql,
    "q_mix_temperature" -> OracleSql.temperatureMixSql,
    "q_mix_apportion" -> OracleSql.mixApportionSql,
    "q_dedup_minhash_recall" -> OracleSql.dedupMinhashRecallSql,
    "q_dedup_minhash_precision" -> OracleSql.dedupMinhashPrecisionSql,
    "q_pii_report" -> OracleSql.piiReportSql,
    "q_budget_select" -> OracleSql.budgetSelectSql,
    "q_link_graph" -> OracleSql.linkGraphSql,
    "q_crawl_rank" -> OracleSql.crawlRankSql(PrIters),
    "q_dedup_semantic" -> OracleSql.dedupSemanticSql(),
    "q_embed_quantize" -> OracleSql.embedQuantizeSql,
    "q_url_normalize" -> OracleSql.urlNormalizeSql,
    "q_domain_stats" -> OracleSql.domainStatsSql,
    "q_lang_id" -> OracleSql.langIdSql,
    "q_token_count" -> OracleSql.tokenCountSql,
    "q_fingerprint" -> OracleSql.fingerprintSql,
    "q_repetition" -> OracleSql.repetitionSql,
    "q_lm_score" -> OracleSql.lmScoreSql,
    "q_lm_persist" -> OracleSql.lmPersistSql,
    "q_code_detect" -> OracleSql.codeDetectSql(30000L, 200000L),
    "q_scaler_apply" -> OracleSql.scalerApplySql,
    "q_sessionize" -> OracleSql.sessionizeSql,
    "q_gap_fill" -> OracleSql.gapFillSql(21600L * 1000000L),
    "q_funnel" -> OracleSql.funnelSql(Seq("signup", "view", "click")),
    "q_interval_merge" -> OracleSql.intervalMergeSql(EventOps.GapUs),
    "q_cum_distinct" -> OracleSql.cumulativeDistinctSql(86400L * 1000000L),
    "q_wma" -> OracleSql.wmaSql(8),
    "q_agg_quantile_hist" ->
      """WITH b AS (SELECT l_returnflag AS g,
                CAST(floor(l_quantity / 5.0) AS BIGINT) AS bk,
                COUNT(*) AS cnt
              FROM lineitem GROUP BY 1, 2),
          c AS (SELECT g, bk, cnt,
                CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bk
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
              FROM b),
          e25 AS (SELECT g, CAST(bk AS DOUBLE) * 5.0 + 5.0 *
                  CAST(tgt - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE) AS p25
              FROM (SELECT c.*, (n * 25 + 99) // 100 AS tgt FROM c)
              WHERE cum >= tgt AND cum - cnt < tgt),
          e50 AS (SELECT g, CAST(bk AS DOUBLE) * 5.0 + 5.0 *
                  CAST(tgt - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE) AS p50
              FROM (SELECT c.*, (n * 50 + 99) // 100 AS tgt FROM c)
              WHERE cum >= tgt AND cum - cnt < tgt),
          e75 AS (SELECT g, CAST(bk AS DOUBLE) * 5.0 + 5.0 *
                  CAST(tgt - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE) AS p75
              FROM (SELECT c.*, (n * 75 + 99) // 100 AS tgt FROM c)
              WHERE cum >= tgt AND cum - cnt < tgt)
          SELECT e25.g AS l_returnflag, p25, p50, p75
          FROM e25 JOIN e50 ON e25.g = e50.g JOIN e75 ON e25.g = e75.g""",
    "q_skew_report" ->
      """WITH c AS (SELECT l_orderkey AS key, COUNT(*) AS cnt
                    FROM lineitem GROUP BY 1),
          t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                       COUNT(*) AS n_keys FROM c),
          r AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10)
          SELECT key, cnt, total, n_keys,
                 cnt * 1000000 // total AS frac_ppm
          FROM r, t""",
    // Mirrors QualityOps.check over the same dirtied table: one CTE per
    // constraint, identical names, counts, and max-key samples.
    "q_quality_check" ->
      """WITH base AS (SELECT o_orderkey,
                CASE WHEN o_orderkey % 23 = 0 THEN o_custkey + 1000000000
                     ELSE o_custkey END AS o_custkey,
                CASE WHEN o_orderkey % 13 = 0 THEN NULL
                     ELSE o_orderstatus END AS o_orderstatus,
                CASE WHEN o_orderkey % 17 = 0 THEN -o_totalprice
                     ELSE o_totalprice END AS o_totalprice
              FROM orders),
          dirty AS (SELECT * FROM base
                    UNION ALL SELECT * FROM base WHERE o_orderkey % 19 = 0),
          nn AS (SELECT 'not_null(o_orderstatus)' AS check_name,
                CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                max(CASE WHEN o_orderstatus IS NULL THEN o_orderkey END) AS sample_key
              FROM dirty),
          rg AS (SELECT 'range(o_totalprice)',
                CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0.0 OR o_totalprice > 1000000000.0)
                         THEN 1 ELSE 0 END) AS BIGINT),
                max(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0.0 OR o_totalprice > 1000000000.0)
                         THEN o_orderkey END)
              FROM dirty),
          st AS (SELECT 'in_set(o_orderstatus)',
                CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('F', 'O')
                         THEN 1 ELSE 0 END) AS BIGINT),
                max(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('F', 'O')
                         THEN o_orderkey END)
              FROM dirty),
          uq AS (SELECT 'unique(o_orderkey)',
                CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT), max(mk)
              FROM (SELECT o_orderkey, count(*) AS cnt, max(o_orderkey) AS mk
                    FROM dirty GROUP BY o_orderkey HAVING count(*) > 1)),
          fk AS (SELECT 'foreign_key(o_custkey)',
                CAST(count(*) AS BIGINT), max(o_orderkey)
              FROM dirty
              WHERE o_custkey IS NOT NULL
                AND o_custkey NOT IN (SELECT c_custkey FROM customer))
          SELECT * FROM nn UNION ALL SELECT * FROM rg
          UNION ALL SELECT * FROM st UNION ALL SELECT * FROM uq
          UNION ALL SELECT * FROM fk""",
    // The gated table holds ONLY the clean slice: the dirty batch was
    // refused before any file landed, so the head is the first commit.
    "q_commit_checked" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         WHERE o_orderkey % 3 = 0""",
    // The expr/fk-gated table holds ONLY the clean slice: both dirty
    // batches were refused before their stagings published.
    "q_sql_check_expr" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         WHERE o_orderkey % 2 = 0""",
    // Rename lineage replayed relationally: evens minus the pre-rename
    // key deletions, plus all odds, value aliased to its new name.
    "q_rename_col" ->
      """SELECT event_id, event_type, value AS amount FROM events
         WHERE (event_id % 2 = 0 AND event_id % 5 <> 0)
            OR event_id % 2 = 1""",
    // The dropped column is absent from the star select (schema
    // compare is the drop proof); DVs applied relationally.
    "q_drop_col" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE event_id % 3 <> 2 AND event_id % 7 <> 0""",
    // Widen lineage replayed relationally: evens + odds minus the %9
    // deletions, vint cast to BIGINT (exact — int→bigint).
    "q_widen_col" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(CAST(event_id % 100000 AS BIGINT)) AS BIGINT)
                  AS vint_sum
         FROM events WHERE event_id % 9 <> 0
         GROUP BY event_type""",
    // Same exact moments, same closed-form IEEE arithmetic in the same
    // operation order — identical doubles out.
    "q_regression" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
                CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
                sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS sy_d,
                sum(CAST(CAST(l_quantity AS BIGINT) * l_extendedprice AS DECIMAL(28,4))) AS sxy_d,
                sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS syy_d
              FROM lineitem GROUP BY l_returnflag),
          d AS (SELECT l_returnflag, n,
                CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                CAST(sxx AS DOUBLE) AS sxxd, CAST(sy_d AS DOUBLE) AS syd,
                CAST(sxy_d AS DOUBLE) AS sxyd, CAST(syy_d AS DOUBLE) AS syyd
              FROM m)
          SELECT l_returnflag, n,
                 (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
                 (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd) / nd AS intercept,
                 ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) /
                   ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS r2
          FROM d""",
    "q_ttest" ->
      """WITH m AS (SELECT
              CAST(count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT) AS cnt_a,
              CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS cnt_b,
              sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(28,4)) END) AS sa_d,
              sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(28,4)) END) AS sb_d,
              sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8)) END) AS saa_d,
              sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8)) END) AS sbb_d
            FROM lineitem WHERE l_returnflag IN ('A', 'R')),
          d AS (SELECT cnt_a, cnt_b,
              CAST(cnt_a AS DOUBLE) AS na, CAST(cnt_b AS DOUBLE) AS nb,
              CAST(sa_d AS DOUBLE) AS sa, CAST(sb_d AS DOUBLE) AS sb,
              CAST(saa_d AS DOUBLE) AS saa, CAST(sbb_d AS DOUBLE) AS sbb
            FROM m),
          e AS (SELECT cnt_a, cnt_b, na, nb,
              sa / na AS ma, sb / nb AS mb,
              (saa - sa * sa / na) / (na - 1) AS va,
              (sbb - sb * sb / nb) / (nb - 1) AS vb
            FROM d),
          f AS (SELECT cnt_a, cnt_b, na, nb, ma, mb,
              va / na AS sea, vb / nb AS seb
            FROM e)
          SELECT cnt_a AS n_a, cnt_b AS n_b, ma AS mean_a, mb AS mean_b,
                 (ma - mb) / sqrt(sea + seb) AS t_stat,
                 (sea + seb) * (sea + seb) /
                   (sea * sea / (na - 1) + seb * seb / (nb - 1)) AS dof
          FROM f""",
    "q_outliers" ->
      """WITH s AS (SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sv,
                CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS svv
              FROM events GROUP BY event_type),
          st AS (SELECT event_type, sv / n AS mean,
                        svv / n - (sv / n) * (sv / n) AS variance FROM s)
          SELECT e.event_type, count(*) AS n_outliers,
                 CAST(sum(e.event_id) AS BIGINT) AS sum_outlier_ids,
                 min(e.value) AS min_outlier, max(e.value) AS max_outlier
          FROM events e JOIN st ON st.event_type = e.event_type
          WHERE (e.value - st.mean) * (e.value - st.mean) > 4.0 * st.variance
          GROUP BY e.event_type""",
    "q_locf" ->
      """WITH sparse AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
                CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
              FROM events)
          SELECT event_id, user_id,
                 last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY tus ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
          FROM sparse""",
    // From-scratch aggregate over the full table — the incremental
    // merge must reproduce this exactly.
    "q_agg_incremental" ->
      """SELECT l_returnflag, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_v,
                min(l_quantity) AS min_v, max(l_quantity) AS max_v,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_v
         FROM lineitem GROUP BY l_returnflag""",
    // From-scratch join over the unsplit tables — the persisted-view +
    // delta-rule refresh must reproduce this digest exactly (and the
    // streaming maintenance loop the same one).
    "q_ivm_join" -> IvmJoinOracle,
    "q_stream_ivm" -> IvmJoinOracle,
    // Snapshot digests from date arithmetic alone: v1 = pre-boundary
    // commit, v2 = v1 + appended remainder = the whole table.
    "q_time_travel" ->
      s"""SELECT 1 AS version, count(*) AS n_rows,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS sum_price,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
          FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$IvmBoundary'
          UNION ALL
          SELECT 2 AS version, count(*) AS n_rows,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS sum_price,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
          FROM orders""",
    "q_phrase_search" -> OracleSql.phraseSearchSql(PhraseQueries),
    // SQL time travel ≡ the q_time_travel digests: v1 = pre-boundary
    // commit, head = the whole table.
    "q_sql_time_travel" ->
      s"""SELECT 1 AS version, count(*) AS n_rows,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS sum_price,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
          FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$IvmBoundary'
          UNION ALL
          SELECT 2 AS version, count(*) AS n_rows,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS sum_price,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
          FROM orders""",
    // The SQL changefeed of (v1, v3] residue-class appends aggregates
    // the residue-1 and residue-2 rows.
    "q_sql_changefeed" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events WHERE event_id % 3 <> 0
         GROUP BY event_type""",
    // Zone-map skip must equal the full-scan filter — a skipped file
    // provably held no matching row.
    "q_version_skip" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id BETWEEN 100 AND 299""",
    // Dry-run VACUUM: deterministic would-delete list; the pinned v2
    // snapshot (residue classes 0,1) still answers — untouched.
    "q_vacuum_dryrun" ->
      """SELECT 3 AS n_would,
                'data/v1,data/v2,data/v3' AS would_dirs,
                count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events WHERE event_id % 3 IN (0, 1)""",
    // Maintenance-verb OCC: serialized replay — evens, then the odd
    // racer, widen (metadata-only, values unchanged), the shifted
    // racer, then the pack; digest over the final table, landed
    // versions pinned (racers took v2/v4 → widen v3, pack v5).
    "q_occ_retry_maint" ->
      """WITH base AS (
           SELECT event_id, user_id, event_id % 1000 AS vint
           FROM events
         ), shifted AS (
           SELECT event_id + 20000000 AS event_id, user_id, vint
           FROM base WHERE event_id % 4 = 2
         ), fulltab AS (
           SELECT * FROM base UNION ALL SELECT * FROM shifted
         )
         SELECT 3 AS v_widen, 5 AS v_opt, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(vint) AS BIGINT) AS vint_sum
         FROM fulltab""",
    // String bloom lookup ≡ the full-scan string equality (the probe
    // value is doc 7's reconstructed url).
    "q_bloom_string" ->
      """WITH d AS (
           SELECT *, 'https://crawl.example.com/' || source || '/' ||
                  CAST(doc_id AS VARCHAR) AS url
           FROM documents
         )
         SELECT doc_id, lang, n_chars FROM d
         WHERE url = (SELECT url FROM d WHERE doc_id = 7)""",
    // String zone-map read ≡ the full-scan string range filter
    // (binary collation in both engines).
    "q_stats_string" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events WHERE event_type BETWEEN 'e' AND 's'
         GROUP BY 1""",
    // Micros-granular timestamp zone-map read ≡ the full-scan
    // epoch_us range filter (the [1/4, 1/2] slice of the data's own
    // micros range — sf-invariant; integer floor division in both
    // engines).
    "q_stats_ts" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn,
                           max(epoch_us(ts)) AS mx FROM events)
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
                CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
         FROM events, b
         WHERE epoch_us(ts) BETWEEN b.mn + (b.mx - b.mn) // 4
                                AND b.mn + (b.mx - b.mn) // 2
         GROUP BY 1""",
    // Partition prune × bloom point probe ≡ the full-scan
    // conjunction (probe = the smallest click event id).
    "q_part_bloom" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_type IN ('click', 'view')
           AND event_id = (SELECT min(event_id) FROM events
                           WHERE event_type = 'click')""",
    // Partition prune × per-file zone maps ≡ the full-scan
    // conjunction of both predicates.
    "q_part_skip" ->
      """WITH b AS (SELECT min(event_id) AS mn, max(event_id) AS mx
                    FROM events)
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events, b
         WHERE event_type IN ('click', 'view')
           AND event_id BETWEEN b.mn + (b.mx - b.mn) // 4
                            AND b.mn + (b.mx - b.mn) // 2
         GROUP BY 1""",
    // DV-aware skip: the pruned-and-resolved read equals the full-scan
    // filter minus the deleted keys.
    "q_skip_dv" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id BETWEEN 100 AND 299 AND event_id % 7 <> 0""",
    // Partition-pruned read under a DV: the kept event_type subtrees
    // of the two residue-class commits, minus the deleted keys.
    "q_part_prune" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id % 3 <> 2 AND event_id % 7 <> 0
           AND event_type IN ('click', 'purchase')""",
    // Nested-partition conjunction: the two residue commits, both
    // partition predicates applied relationally.
    "q_part_multi" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id % 3 <> 2 AND event_type IN ('click', 'view')
           AND event_id % 4 IN (1, 3)""",
    // Partition counts under the hot-table DV: evens minus the
    // deleted keys (scoped to v1 only), all odds (the clean epoch).
    "q_part_counts" ->
      """SELECT event_type, count(*) AS n_rows FROM events
         WHERE (event_id % 2 = 0 AND event_id % 11 <> 0)
            OR event_id % 2 = 1
         GROUP BY event_type""",
    // SQL partition read on a mixed (partitioned + flat commit) table:
    // both halves contribute, the residual IN keeps it exact.
    "q_sql_part" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_type IN ('view', 'error')""",
    // The (v1, v3] changefeed of residue-class appends is exactly the
    // residue-1 and residue-2 rows.
    "q_version_changes" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id % 3 <> 0""",
    // Changefeed-driven refresh must equal the full unsplit join —
    // the delta came from the table's own manifests, same contract.
    "q_changefeed_ivm" ->
      """SELECT o_custkey % 10 AS cust_bucket, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1""",
    // Last-writer-wins fold of the two merge batches over the base.
    "q_stream_merge" ->
      """WITH final AS (
           SELECT event_id, user_id, 'b2' AS event_type,
                  value + 900 AS value
           FROM events WHERE event_id % 4 = 0
           UNION ALL
           SELECT event_id, user_id, 'b1', value + 500
           FROM events WHERE event_id % 2 = 0 AND event_id % 4 <> 0
           UNION ALL
           SELECT event_id, user_id, event_type, value
           FROM events WHERE event_id % 2 <> 0)
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM final GROUP BY 1""",
    // Attribution replay: a post-image row is an update iff its key
    // lives in the base table, else an insert.
    "q_changefeed_classify" ->
      """WITH upd AS (
           SELECT event_id, user_id, 'updated' AS event_type,
                  value + 1000 AS value
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 100000, user_id, 'inserted', value
           FROM events WHERE event_id % 3 = 0)
         SELECT CASE WHEN event_id IN (SELECT event_id FROM events)
                     THEN 'update' ELSE 'insert' END AS change_type,
                event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM upd GROUP BY 1, 2""",
    // Streamed manifest-tail maintenance ≡ the full unsplit join —
    // the q_changefeed_ivm contract, delivered through a stream.
    "q_stream_changefeed" ->
      """SELECT o_custkey % 10 AS cust_bucket, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1""",
    // readStream.format("graft") delivers the table exactly once:
    // streamed snapshot + deltas ≡ the full lineitem content.
    "q_stream_graft_source" ->
      """SELECT l_orderkey % 7 AS okey_bucket, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(l_partkey) AS BIGINT) AS partkey_sum
         FROM lineitem
         GROUP BY 1""",
    // graft→graft streaming pipe ≡ the source table's content.
    "q_stream_graft_sink" ->
      """SELECT o_custkey % 10 AS cust_bucket, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS price_sum,
                CAST(sum(o_orderkey) AS BIGINT) AS okey_sum
         FROM orders
         GROUP BY 1""",
    // Changefeed-with-retractions view ≡ recomputing the post-merge
    // table's aggregate from scratch (same merged CTE as
    // q_version_merge, viewed per event_type with derived avg).
    "q_changefeed_retract" ->
      """WITH upd AS (
           SELECT event_id, ts, user_id, 'updated' AS event_type,
                  value + 1000 AS value, props
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 100000, ts, user_id, 'inserted', value, props
           FROM events WHERE event_id % 3 = 0),
         merged AS (
           SELECT * FROM upd
           UNION ALL
           SELECT * FROM events
           WHERE event_id NOT IN (SELECT event_id FROM upd))
         SELECT event_type, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_v,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  / count(*) AS avg_v
         FROM merged GROUP BY 1""",
    // Streaming CDF: the signed aggregation over the streamed change
    // rows (snapshot inserts + merge pre/post pairs + delete
    // pre-images) ≡ recomputing the final merged-then-deleted table
    // from scratch — every retracted row's +insert and −pre-image
    // cancel exactly (identical DECIMAL casts of identical doubles).
    "q_stream_cdf" ->
      """WITH upd AS (
           SELECT event_id, ts, user_id, 'updated' AS event_type,
                  value + 1000 AS value, props
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 100000, ts, user_id, 'inserted', value,
                  props
           FROM events WHERE event_id % 3 = 0),
         merged AS (
           SELECT * FROM upd
           UNION ALL
           SELECT * FROM events
           WHERE event_id NOT IN (SELECT event_id FROM upd)),
         final AS (
           SELECT * FROM merged WHERE event_id NOT IN (
             SELECT event_id FROM events WHERE event_id % 7 = 0))
         SELECT event_type, count(*) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_v
         FROM final GROUP BY 1""",
    // DV resolution: v2 = everything, v3 = minus %7 keys (merge-on-
    // read anti-join), v4 = plus the re-inserted %14 keys (a later
    // data dir outruns an earlier sidecar — ordered-fold semantics).
    "q_version_delete" ->
      """SELECT 2 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events
         UNION ALL
         SELECT 3, count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events WHERE event_id % 7 <> 0
         UNION ALL
         SELECT 4, count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events WHERE event_id % 7 <> 0 OR event_id % 14 = 0""",
    // MERGE upsert semantics: batch rows win on key, others untouched.
    "q_version_merge" ->
      """WITH upd AS (
           SELECT event_id, ts, user_id, 'updated' AS event_type,
                  value + 1000 AS value, props
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 100000, ts, user_id, 'inserted', value, props
           FROM events WHERE event_id % 3 = 0),
         merged AS (
           SELECT * FROM upd
           UNION ALL
           SELECT * FROM events
           WHERE event_id NOT IN (SELECT event_id FROM upd))
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM merged GROUP BY 1""",
    // Compaction is a pure rewrite: v3 ≡ v2 ≡ the whole table.
    "q_compact_versions" ->
      """SELECT 3 AS version, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
         FROM orders""",
    // A bloom-planned point lookup equals the full-scan equality
    // filter — skipped files provably held no matching row.
    "q_bloom_skip" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id = (SELECT max(event_id) FROM events)""",
    // The two-probe bloom read equals the full-scan conjunction.
    "q_bloom_multi" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id = (SELECT max(event_id) FROM events)
           AND user_id = (SELECT min(user_id) FROM events
                          WHERE event_id =
                            (SELECT max(event_id) FROM events))""",
    // Composed zone-map × bloom planning equals the full-scan
    // conjunction — every skipped file provably held no matching row.
    "q_skip_compose" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE user_id = (SELECT min(user_id) FROM events)
           AND event_id BETWEEN (SELECT min(event_id) FROM events)
             AND (SELECT (min(event_id) + max(event_id)) // 2
                  FROM events)""",
    // The z-order rewrite is lossless: v4 digests to the whole table.
    "q_compact_zorder" ->
      """SELECT 4 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events""",
    // Coalesced deletes read exactly as the triple residue filter.
    "q_dv_coalesce" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events
         WHERE event_id % 5 <> 0 AND event_id % 7 <> 0
           AND event_id % 11 <> 0""",
    // A schema-evolved skip read equals the range filter with the
    // added column NULL for the pre-evolution (odd-id) commit's rows.
    "q_skip_evo" ->
      """SELECT event_id, user_id,
                CASE WHEN event_id % 2 = 0 THEN event_type END
                  AS event_type
         FROM events WHERE event_id BETWEEN 100 AND 299""",
    // Delta-manifest snapshots digest identically to their residue
    // construction: v2 = residues {0,1}, the head = the whole table.
    "q_version_delta" ->
      """SELECT 2 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events WHERE event_id % 4 IN (0, 1)
         UNION ALL
         SELECT 4 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events""",
    // The two-predicate multi-column prune equals the full-scan
    // conjunction; tertile and range boundaries recomputed with the
    // same integer arithmetic.
    "q_stats_multi" ->
      """WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                           min(event_id) AS emin, max(event_id) AS emax
                    FROM events),
              p AS (SELECT umin + (umax - umin + 1) // 3 AS t1,
                           umin + 2 * ((umax - umin + 1) // 3) AS t2,
                           emin + (emax - emin + 1) // 4 AS elo,
                           emin + (emax - emin + 1) // 2 AS ehi
                    FROM b)
         SELECT event_id, user_id, event_type FROM events, p
         WHERE event_id BETWEEN elo AND ehi
           AND user_id BETWEEN t1 AND t2 - 1""",
    // The SQL skip read equals the plain range filter.
    "q_sql_skip" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id BETWEEN 150 AND 349""",
    // SQL history ≡ the residue-construction digests, with the
    // append-only constants (0 delete commits, 1 read group).
    "q_sql_history" ->
      """SELECT 1 AS version, 1 AS n_dirs, count(*) AS n_rows,
                CAST(min(event_id) AS BIGINT) AS min_stat,
                CAST(max(event_id) AS BIGINT) AS max_stat,
                0 AS n_delete_commits, 1 AS n_read_groups
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT 2, 2, count(*), CAST(min(event_id) AS BIGINT),
                CAST(max(event_id) AS BIGINT), 0, 1
         FROM events WHERE event_id % 3 IN (0, 1)
         UNION ALL
         SELECT 3, 3, count(*), CAST(min(event_id) AS BIGINT),
                CAST(max(event_id) AS BIGINT), 0, 1
         FROM events""",
    // SQL INSERT lifecycle: two appends then INSERT OVERWRITE — the
    // head is the whole table at version 3.
    "q_sql_insert" ->
      """SELECT 3 AS version, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
         FROM orders""",
    // SQL DELETE ≡ the Scala DV lifecycle (q_version_delete shape):
    // v2 = everything, v3 = minus %7 keys, v4 = plus re-inserted %14
    // keys (ordered-fold semantics through the SQL front door).
    "q_sql_delete" ->
      """SELECT 2 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events
         UNION ALL
         SELECT 3, count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events WHERE event_id % 7 <> 0
         UNION ALL
         SELECT 4, count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events WHERE event_id % 7 <> 0 OR event_id % 14 = 0""",
    // SQL MERGE upsert ≡ the Scala merge (q_version_merge shape):
    // batch rows win on key, others untouched.
    "q_sql_merge" ->
      """WITH upd AS (
           SELECT event_id, ts, user_id, 'updated' AS event_type,
                  value + 1000 AS value, props
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 100000, ts, user_id, 'inserted', value, props
           FROM events WHERE event_id % 3 = 0),
         merged AS (
           SELECT * FROM upd
           UNION ALL
           SELECT * FROM events
           WHERE event_id NOT IN (SELECT event_id FROM upd))
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM merged GROUP BY 1""",
    // SQL UPDATE ≡ evaluating SET against the old rows of the matched
    // key class, everything else untouched.
    "q_sql_update" ->
      """WITH merged AS (
           SELECT event_id, user_id,
                  CASE WHEN event_id % 5 = 0 THEN event_type || '_u'
                       ELSE event_type END AS event_type,
                  CASE WHEN event_id % 5 = 0 THEN value + 1000
                       ELSE value END AS value
           FROM events)
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM merged GROUP BY 1""",
    // The DV-tolerant SQL metadata aggregate ≡ the resolved survivors
    // (the q_stats_dv contract through the TVF).
    "q_sql_stats_dv" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                min(event_id) AS min_event_id,
                max(event_id) AS max_event_id
         FROM events
         WHERE (event_id % 3 < 2 AND event_id % 7 <> 0)
            OR event_id % 3 = 2""",
    // SQL OPTIMIZE is a lossless rewrite (v4 digests to the whole
    // table) and SQL VACUUM reclaims exactly the 3 expired dirs.
    "q_sql_maintenance" ->
      """SELECT 4 AS version, 3 AS n_vacuumed, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events""",
    // The serialized replay of the raced lineage: base evens (v1) +
    // the race winner's odds (v2), %10 keys upserted by the retried
    // merge (v3), the second winner's shifted slice (v4), then the
    // retried delete of the original %6 keys (v5).
    "q_occ_retry_dv" ->
      """WITH base AS (
           SELECT event_id, user_id,
                  CASE WHEN event_id % 10 = 0 THEN 'merged'
                       ELSE event_type END AS event_type,
                  CASE WHEN event_id % 10 = 0 THEN value + 9000
                       ELSE value END AS value
           FROM events),
         plus AS (
           SELECT * FROM base
           UNION ALL
           SELECT event_id + 10000000, user_id, event_type, value
           FROM events WHERE event_id % 8 = 1),
         fin AS (
           SELECT * FROM plus WHERE event_id NOT IN (
             SELECT event_id FROM events WHERE event_id % 6 = 0))
         SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum,
                3 AS v_merge, 5 AS v_del
         FROM fin GROUP BY event_type""",
    // Spec evolution prunes per dir and filters exactly: the result
    // equals the full-scan conjunction regardless of which dirs could
    // answer which predicate from their layout.
    "q_part_evolve" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_type IN ('click', 'view')
           AND CAST(event_id % 4 AS VARCHAR) IN ('1', '3')""",
    // maintain() coalesced the 2-run into v4 (rows unchanged — the
    // fold is semantics-identity), then idled at the healthy head.
    "q_maintain" ->
      """SELECT 'coalesce_deletes' AS did_action, 4 AS did_version,
                'none' AS idle_action, 4 AS idle_version,
                count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events WHERE event_id % 5 <> 0 AND event_id % 7 <> 0""",
    // Partitioned lifecycle: six commits drive the per-leaf file
    // gauge past the threshold (advice + maintain = optimize), the
    // compacted table re-advises none, and the partition-pruned read
    // equals the relational filter.
    "q_maintain_part" ->
      """SELECT 'optimize' AS advice, 'optimize' AS did_action,
                'none' AS idle_action, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events WHERE event_type IN ('click', 'view')""",
    // The format reader's pinned v1 is the evens; the head is all.
    "q_format_read" ->
      """SELECT 'v1' AS snap, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT 'head', count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events""",
    // The advisor's recommendation is closed-form threshold
    // arithmetic over the constructed histories: a 3-run of adjacent
    // deletes coalesces, 4 interleaved epoch groups optimize, small
    // files bin-pack under a 1M target, and the same table under
    // target 1 is healthy.
    "q_maintenance_advice" ->
      """SELECT * FROM (VALUES
           ('runs', 1, 3, 'coalesce_deletes'),
           ('debt', 4, 1, 'optimize'),
           ('small', 1, 0, 'bin_pack'),
           ('healthy', 1, 0, 'none'))
         AS v(t, n_read_groups, max_delete_run, recommendation)""",
    // Catalog-named DML ≡ the path DML: v1 = the raw events digest,
    // head = the MERGE-upserted digest (batch rows win on key).
    "q_sql_catalog" ->
      """WITH upd AS (
           SELECT event_id, user_id, 'cat_upd' AS event_type,
                  value + 2000 AS value
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 200000, user_id, 'cat_ins', value
           FROM events WHERE event_id % 4 = 0),
         merged AS (
           SELECT * FROM upd
           UNION ALL
           SELECT event_id, user_id, event_type, value FROM events
           WHERE event_id NOT IN (SELECT event_id FROM upd))
         SELECT 'v1' AS snap, event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events GROUP BY event_type
         UNION ALL
         SELECT 'head', event_type, count(*),
                CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM merged GROUP BY event_type""",
    // The SQL-declared zone maps answer the range read exactly.
    "q_sql_insert_skip" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id BETWEEN 200 AND 449""",
    // Timestamp resolution: v1's own stamp and the millisecond before
    // v2's stamp both read v1 (latest version ≤ t); v2's stamp reads
    // the head.
    "q_time_travel_ts" ->
      s"""SELECT 'at_v1_stamp' AS probe, 1 AS version,
                 count(*) AS n_rows,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS sum_price,
                 CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
          FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$IvmBoundary'
          UNION ALL
          SELECT 'just_before_v2', 1, count(*),
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE),
                 CAST(sum(o_custkey) AS BIGINT)
          FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '$IvmBoundary'
          UNION ALL
          SELECT 'at_v2_stamp', 2, count(*),
                 CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE),
                 CAST(sum(o_custkey) AS BIGINT)
          FROM orders""",
    // RESTORE rolls the head back to the whole table twice (version-
    // and timestamp-addressed); the intermediate bad-delete v4 stays
    // pinned (%5 keys removed from the restored-full v3).
    "q_sql_restore" ->
      """SELECT 5 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events
         UNION ALL
         SELECT 4, count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events WHERE event_id % 5 <> 0""",
    // The clone reads the source's resolved snapshot plus its own
    // appends (odd rows land after the cloned sidecar and survive);
    // the source head never sees them.
    "q_sql_clone" ->
      """SELECT 'dst' AS probe, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events
         WHERE (event_id % 2 = 0 AND event_id % 7 <> 0)
            OR event_id % 2 = 1
         UNION ALL
         SELECT 'src', count(*), CAST(sum(user_id) AS BIGINT),
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
         FROM events WHERE event_id % 2 = 0 AND event_id % 7 <> 0""",
    // The timestamp-addressed feed of (ts(v1), ts(v3)] is exactly the
    // residue-1 and residue-2 appends.
    "q_changefeed_ts" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events WHERE event_id % 3 <> 0
         GROUP BY event_type""",
    // The retried commit lands v3 with the racer's slice carried
    // forward: the head is the whole table — no lost update.
    "q_occ_retry" ->
      """SELECT 3 AS version, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events""",
    // DV-tolerant metadata aggregate ≡ the resolved survivors: the
    // %7 delete scopes only the residue-0/1 commits before it; the
    // residue-2 commit trails the sidecar and survives whole.
    "q_stats_dv" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                min(event_id) AS min_event_id,
                max(event_id) AS max_event_id
         FROM events
         WHERE (event_id % 3 < 2 AND event_id % 7 <> 0)
            OR event_id % 3 = 2""",
    // The 3-D box read equals the full-scan conjunction; bounds and
    // the derived third dimension recomputed with the same integer
    // arithmetic.
    "q_compact_zorder_k" ->
      """WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                           min(event_id) AS emin, max(event_id) AS emax
                    FROM events),
              p AS (SELECT emin + (emax - emin + 1) // 4 AS elo,
                           emin + (emax - emin + 1) // 2 AS ehi,
                           umin + (umax - umin + 1) // 3 AS ulo,
                           umin + 2 * ((umax - umin + 1) // 3) - 1 AS uhi
                    FROM b)
         SELECT event_id, user_id,
                (event_id * 37 + user_id) % 4096 AS zkey, event_type
         FROM events, p
         WHERE event_id BETWEEN elo AND ehi
           AND user_id BETWEEN ulo AND uhi
           AND (event_id * 37 + user_id) % 4096 <= 2047""",
    // The graced sweep deletes nothing (seconds-old history is inside
    // the horizon; pinned v2 still reads); the eager sweep reclaims
    // exactly the three pre-compaction dirs.
    "q_vacuum_grace" ->
      """SELECT 'grace' AS probe, 0 AS n_deleted,
                count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events WHERE event_id % 3 < 2
         UNION ALL
         SELECT 'eager', 3, count(*), CAST(sum(user_id) AS BIGINT)
         FROM events""",
    // Metadata-only history ≡ per-snapshot digests of the residue
    // construction.
    "q_version_history" ->
      """SELECT 1 AS version, 1 AS n_dirs, count(*) AS n_rows,
                CAST(min(event_id) AS BIGINT) AS min_stat,
                CAST(max(event_id) AS BIGINT) AS max_stat,
                0 AS n_delete_commits
         FROM events WHERE event_id % 3 = 0
         UNION ALL
         SELECT 2, 2, count(*), CAST(min(event_id) AS BIGINT),
                CAST(max(event_id) AS BIGINT), 0
         FROM events WHERE event_id % 3 IN (0, 1)
         UNION ALL
         SELECT 3, 3, count(*), CAST(min(event_id) AS BIGINT),
                CAST(max(event_id) AS BIGINT), 0
         FROM events""",
    // The sidecar-only digest equals the full-scan aggregate.
    "q_stats_only" ->
      """SELECT count(*) AS n_rows,
                CAST(min(event_id) AS BIGINT) AS min_event_id,
                CAST(max(event_id) AS BIGINT) AS max_event_id
         FROM events""",
    // Bin-packing is lossless and leaves exactly two dirs (monolith +
    // packed tail): the head still digests to the whole table.
    "q_compact_small" ->
      """SELECT 5 AS version, 2 AS n_dirs, count(*) AS n_rows,
                CAST(sum(user_id) AS BIGINT) AS user_sum,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS val_sum
         FROM events""",
    // Expiry GC'd exactly the two pre-compaction dirs; the compacted
    // head still digests to the whole table.
    "q_expire_versions" ->
      """SELECT 3 AS version, 2 AS n_removed, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
         FROM orders""",
    // WAP: the corrupted stage was rolled back, the clean one
    // published — head v2 is the full uncorrupted table.
    "q_wap" ->
      """SELECT 2 AS version, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
         FROM orders""",
    // Retraction must equal the from-scratch aggregate on survivors.
    "q_ivm_retract" ->
      """SELECT l_returnflag, count(*) AS cnt,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_v,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  / count(*) AS avg_v
         FROM lineitem WHERE l_orderkey % 5 <> 0
         GROUP BY l_returnflag""",
    // Streamed versioned commits ≡ one batch write of the whole input;
    // two staged slices → exactly two versions.
    "q_stream_versions" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
                2 AS n_versions
         FROM orders""",
    // Streamed partitioned commits ≡ one batch write; three slices ⇒
    // three versions; the pruned read keeps two of five types.
    "q_stream_part" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(event_id) AS BIGINT) AS id_sum,
                3 AS n_versions
         FROM events WHERE event_type IN ('click', 'signup')""",
    // The merged head replayed relationally: untouched evens, updated
    // mod-6-0 rows, inserted mod-6-1 rows — partition filter applied.
    "q_part_merge" ->
      """WITH head AS (
           SELECT event_id, event_type, value FROM events
           WHERE event_id % 2 = 0 AND event_id % 6 <> 0
           UNION ALL
           SELECT event_id, event_type, value + 1000.0 FROM events
           WHERE event_id % 6 = 0
           UNION ALL
           SELECT event_id, event_type, value FROM events
           WHERE event_id % 6 = 1)
         SELECT event_id, event_type, value FROM head
         WHERE event_type IN ('purchase', 'view')""",
    // Streamed delta-manifest commits ≡ one batch write; four slices
    // ⇒ four versions, resolvable through the base chain.
    "q_stream_delta" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
                4 AS n_versions
         FROM orders""",
    // The plain join the hot/cold hybrid decomposes — identical results
    // prove the split is exact.
    "q_join_hotcold" ->
      s"""SELECT p_brand, count(*) AS n_rows,
                 CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
                 CAST(sum(l_linenumber) AS BIGINT) AS line_sum
          FROM lineitem JOIN part ON p_partkey = least(l_partkey, $HotColdCut)
          GROUP BY p_brand""",
    // Shard rollup from id arithmetic alone — the path-derived audit
    // must land on it with zero path/column mismatches.
    "q_provenance" ->
      """SELECT doc_id % 8 AS shard, count(*) AS n_docs,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_quality,
                CAST(0 AS BIGINT) AS n_path_mismatch
         FROM documents GROUP BY 1""",
    // Exact mirror of the CMS grid: GROUP BY (depth, hash60-cell) sums,
    // estimate = min over depth of the probe's cells (0 when absent).
    "q_cms_freq" -> {
      val w = graft.functions.CmsAgg.Width
      val dep = graft.functions.CmsAgg.Depth
      def h(e: String) =
        OracleSql.hash60(s"'cms' || CAST(d.range AS VARCHAR) || '-' || CAST($e AS VARCHAR)")
      s"""WITH keys AS (SELECT l_orderkey AS k FROM lineitem),
            grid AS (SELECT d.range AS d, ${h("k")} % $w AS cell,
                            COUNT(*) AS c
                     FROM keys, range(0, $dep) d GROUP BY 1, 2),
            probe AS (SELECT p.range AS key FROM range(0, 20) p),
            est AS (SELECT probe.key,
                           CAST(MIN(COALESCE(g.c, 0)) AS BIGINT) AS est
                    FROM probe CROSS JOIN range(0, $dep) d
                    LEFT JOIN grid g ON g.d = d.range
                      AND g.cell = ${h("probe.key")} % $w
                    GROUP BY probe.key),
            ex AS (SELECT k, COUNT(*) AS c FROM keys GROUP BY k)
          SELECT e.key, e.est, CAST(COALESCE(x.c, 0) AS BIGINT) AS exact
          FROM est e LEFT JOIN ex x ON x.k = e.key"""
    },
    "q_table_digest" -> OracleSql.tableDigestSql(Seq(
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority"),
      "customer" -> Seq("c_custkey", "c_name", "c_mktsegment"),
      "nation" -> Seq("n_nationkey", "n_name"))),
    "q_stream_sessionize" -> OracleSql.sessionizeReplaySql,
    "q_stream_join" -> OracleSql.streamJoinSql(3600L * 1000000L),
    "q_stream_join_outer" -> OracleSql.streamJoinOuterSql(3600L * 1000000L),
    "q_stream_join_full" -> OracleSql.streamJoinFullSql(3600L * 1000000L),
    "q_stream_stateful" -> StatefulSessionSql,
    // Same batch-session oracle: the cross-batch replay must produce the
    // identical closed-session set.
    "q_stream_stateful_xbatch" -> StatefulSessionSql,
    "q_stream_restart" -> StatefulSessionSql,
    "q_stream_windowed" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events)
         SELECT (tus // 600000000) * 600000000 AS w_start_us, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
         FROM e GROUP BY 1, 2""",
    "q_stream_hll" -> OracleSql.streamHllSql,
    "q_stream_topk" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, user_id, value FROM events),
         g AS (SELECT (tus // 600000000) * 600000000 AS w_start_us, user_id,
                      COUNT(*) AS n,
                      CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                        AS sum_value
               FROM e GROUP BY 1, 2),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY w_start_us
                 ORDER BY n DESC, user_id ASC) AS BIGINT) AS rn FROM g)
         SELECT w_start_us, user_id, n, sum_value, rn FROM r WHERE rn <= 3""",
    // The file-sink landing of the same rollup must read back equal.
    "q_stream_file_sink" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events)
         SELECT (tus // 600000000) * 600000000 AS w_start_us, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
         FROM e GROUP BY 1, 2""",
    // Original events only (the late replays must all drop), restricted
    // to windows whose end ≤ final watermark (max event time − 30 min —
    // append mode emits exactly those).
    "q_stream_late" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
              wm AS (SELECT max(tus) - 1800000000 AS w FROM e)
         SELECT (tus // 600000000) * 600000000 AS w_start_us, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
         FROM e, wm
         WHERE (tus // 600000000) * 600000000 + 600000000 <= wm.w
         GROUP BY 1, 2""",
    // Each event's two covering hop starts: (t div 5min)·5min and the
    // 5 minutes before it (always covers: t < start + 10min holds for
    // both by construction).
    "q_stream_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
              w AS (SELECT u.s AS w_start_us, event_type, value FROM e,
                    UNNEST([(tus // 300000000) * 300000000,
                            (tus // 300000000) * 300000000 - 300000000])
                      AS u(s))
         SELECT w_start_us, event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2""",
    // Both chained window levels in closed form: inner 5-min bucket per
    // event, outer 30-min bucket per inner bucket (inner divides outer,
    // so window_time routing == floor-div on the inner start).
    "q_stream_chained" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus FROM events),
              i AS (SELECT event_type,
                      (tus // 300000000) * 300000000 AS iw, COUNT(*) AS n
                    FROM e GROUP BY 1, 2)
         SELECT (iw // 1800000000) * 1800000000 AS w_start_us, event_type,
                CAST(SUM(n) AS BIGINT) AS total,
                CAST(MAX(n) AS BIGINT) AS peak,
                COUNT(*) AS n_inner
         FROM i GROUP BY 1, 2""",
    // Windowed twin of the q_cms_freq grid mirror: day windows are
    // epoch-aligned, the grid per window is a GROUP BY over the shared
    // portable hash, estimates are min over the depth cells.
    "q_stream_cms" -> {
      val w = graft.functions.CmsAgg.Width
      val dep = graft.functions.CmsAgg.Depth
      def h(e: String) =
        OracleSql.hash60(s"'cms' || CAST(d.range AS VARCHAR) || '-' || CAST($e AS VARCHAR)")
      s"""WITH keys AS (SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS w_us,
                               user_id AS k FROM events),
            grid AS (SELECT w_us, d.range AS d, ${h("k")} % $w AS cell,
                            COUNT(*) AS c
                     FROM keys, range(0, $dep) d GROUP BY 1, 2, 3),
            wins AS (SELECT DISTINCT w_us FROM keys),
            probe AS (SELECT p.range AS key FROM range(0, 10) p)
          SELECT w.w_us AS w_start_us, probe.key,
                 CAST(MIN(COALESCE(g.c, 0)) AS BIGINT) AS est
          FROM wins w CROSS JOIN probe CROSS JOIN range(0, $dep) d
          LEFT JOIN grid g ON g.w_us = w.w_us AND g.d = d.range
            AND g.cell = ${h("probe.key")} % $w
          GROUP BY 1, 2"""
    },
    "q_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type""",
    "q_stream_enrich" ->
      """SELECT COALESCE(c_mktsegment, 'none') AS c_mktsegment,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
         FROM events LEFT JOIN customer ON user_id = c_custkey
         GROUP BY COALESCE(c_mktsegment, 'none')""",
    "q_sql_functions" ->
      s"""SELECT
          (SELECT CAST(SUM(${OracleSql.hash60("text")} % 100000) AS BIGINT)
           FROM documents) AS sum_h,
          (SELECT CAST(SUM(CAST(list_sum(list_transform(
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
             x -> x * x)) AS BIGINT)) AS BIGINT)
           FROM embeddings) AS sum_n2""",
    "q_json" -> OracleSql.jsonStatsSql,
    "q_parse_tolerant" -> OracleSql.parseTolerantSql,
    "q_multimodal" -> OracleSql.multimodalSql,
    "q_frame_sample" -> OracleSql.frameSampleSql,
    "q_multimodal_decode" ->
      """SELECT count(*) AS n_assets,
                CAST(SUM(1 + doc_id % 16) AS BIGINT) AS sum_width,
                CAST(SUM(1 + (doc_id // 16) % 16) AS BIGINT) AS sum_height,
                CAST(SUM(doc_id % 256) AS BIGINT) AS sum_px00,
                CAST(SUM(greatest(1, (1 + doc_id % 16) // 2)) AS BIGINT)
                  AS sum_rwidth,
                CAST(SUM(greatest(1, (1 + (doc_id // 16) % 16) // 2)) AS BIGINT)
                  AS sum_rheight
         FROM documents""",
    // Closed-form twin of MultimodalOps.imageAHash on the synthetic
    // raster: pixel(x,y) = (id + 31x + 7y) mod 256 with the planted
    // (0,0) = id mod 256; floor mean over all w·h pixels; 8×8
    // nearest-neighbor grid sx = gx·w//8, sy = gy·h//8 (nonneg, so
    // `//` ≡ `div`); bits packed row-major into the bitstring.
    // Chunk-walk metadata parse: dimensions from the raster formulas,
    // gray-8 header (bit depth 8, color type 0), every CRC32 valid —
    // closed-form because the parse reads bytes, never a decoder.
    "q_image_meta" ->
      """SELECT doc_id AS asset_id,
                CAST(1 + doc_id % 16 AS BIGINT) AS width,
                CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS height,
                CAST(8 AS BIGINT) AS bit_depth,
                CAST(0 AS BIGINT) AS color_type,
                CAST(1 AS BIGINT) AS crc_ok
         FROM documents""",
    "q_image_ahash" ->
      """WITH dims AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
                              CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS h
                       FROM documents),
          m AS (SELECT doc_id, w, h,
                  CAST(SUM(CASE WHEN i.range = 0 THEN doc_id % 256
                                ELSE (doc_id + 31 * (i.range % w)
                                      + 7 * (i.range // w)) % 256
                           END) AS BIGINT) // (w * h) AS mean_px
                FROM dims, range(0, 256) i WHERE i.range < w * h
                GROUP BY doc_id, w, h),
          b AS (SELECT doc_id, w, h, mean_px, k.range AS k,
                  CASE WHEN (CASE WHEN (k.range % 8) * w // 8 = 0
                                   AND (k.range // 8) * h // 8 = 0
                                  THEN doc_id % 256
                                  ELSE (doc_id + 31 * ((k.range % 8) * w // 8)
                                        + 7 * ((k.range // 8) * h // 8)) % 256
                             END) > mean_px
                       THEN 1 ELSE 0 END AS bit
                FROM m, range(0, 64) k)
          SELECT doc_id AS asset_id, w, h, mean_px,
                 string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS ahash,
                 CAST(SUM(bit) AS BIGINT) AS n_set
          FROM b GROUP BY doc_id, w, h, mean_px""",
    // The q_image_ahash raster contract with the metadata gate folded
    // into the dims CTE: only w·h ≥ 64 images have fingerprints — the
    // oracle passing proves the gate pruned BEFORE decode, not after.
    "q_image_pipeline" ->
      """WITH dims AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
                              CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS h
                       FROM documents
                       WHERE (1 + doc_id % 16) *
                             (1 + (doc_id // 16) % 16) >= 64),
          m AS (SELECT doc_id, w, h,
                  CAST(SUM(CASE WHEN i.range = 0 THEN doc_id % 256
                                ELSE (doc_id + 31 * (i.range % w)
                                      + 7 * (i.range // w)) % 256
                           END) AS BIGINT) // (w * h) AS mean_px
                FROM dims, range(0, 256) i WHERE i.range < w * h
                GROUP BY doc_id, w, h),
          b AS (SELECT doc_id, w, h, mean_px, k.range AS k,
                  CASE WHEN (CASE WHEN (k.range % 8) * w // 8 = 0
                                   AND (k.range // 8) * h // 8 = 0
                                  THEN doc_id % 256
                                  ELSE (doc_id + 31 * ((k.range % 8) * w // 8)
                                        + 7 * ((k.range // 8) * h // 8)) % 256
                             END) > mean_px
                       THEN 1 ELSE 0 END AS bit
                FROM m, range(0, 64) k)
          SELECT doc_id AS asset_id, w, h, mean_px,
                 string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS ahash,
                 CAST(SUM(bit) AS BIGINT) AS n_set
          FROM b GROUP BY doc_id, w, h, mean_px""",
    "q_image_dhash" ->
      """WITH dims AS (SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
                              CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS h
                       FROM documents),
          b AS (SELECT doc_id, w, h, k.range AS k,
                  CASE WHEN
                    (CASE WHEN ((k.range % 8) + 1) * w // 9 = 0
                               AND (k.range // 8) * h // 8 = 0
                          THEN doc_id % 256
                          ELSE (doc_id + 31 * (((k.range % 8) + 1) * w // 9)
                                + 7 * ((k.range // 8) * h // 8)) % 256
                     END) >
                    (CASE WHEN (k.range % 8) * w // 9 = 0
                               AND (k.range // 8) * h // 8 = 0
                          THEN doc_id % 256
                          ELSE (doc_id + 31 * ((k.range % 8) * w // 9)
                                + 7 * ((k.range // 8) * h // 8)) % 256
                     END)
                  THEN 1 ELSE 0 END AS bit
                FROM dims, range(0, 64) k)
          SELECT doc_id AS asset_id, w, h,
                 string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS dhash,
                 CAST(SUM(bit) AS BIGINT) AS n_set
          FROM b GROUP BY doc_id, w, h""",
    // STRONGER-than-replay oracle for the banded near-dup path: the
    // 4×16-bit banding is pigeonhole-exhaustive at Hamming <= 3, so
    // the closed-form ALL-PAIRS answer over the regenerated
    // fingerprints (base slice delta 0, +1M slice brightness +8, every
    // pixel (p + delta) mod 256) must equal the engine's banded result
    // exactly — a banding recall bug shows up as a missing row.
    "q_image_neardup" ->
      """WITH src AS (
           SELECT doc_id AS asset_id, doc_id AS id, 0 AS delta
           FROM documents WHERE doc_id < 256
           UNION ALL
           SELECT doc_id + 1000000, doc_id, 8
           FROM documents WHERE doc_id < 256),
         dims AS (SELECT asset_id, id, delta,
                         CAST(1 + id % 16 AS BIGINT) AS w,
                         CAST(1 + (id // 16) % 16 AS BIGINT) AS h
                  FROM src),
         m AS (SELECT asset_id, id, delta, w, h,
                 CAST(SUM(((CASE WHEN i.range = 0 THEN id % 256
                            ELSE (id + 31 * (i.range % w)
                                  + 7 * (i.range // w)) % 256 END)
                           + delta) % 256) AS BIGINT) // (w * h) AS mean_px
               FROM dims, range(0, 256) i WHERE i.range < w * h
               GROUP BY asset_id, id, delta, w, h),
         b AS (SELECT asset_id, k.range AS k,
                 CASE WHEN ((CASE WHEN (k.range % 8) * w // 8 = 0
                                   AND (k.range // 8) * h // 8 = 0
                             THEN id % 256
                             ELSE (id + 31 * ((k.range % 8) * w // 8)
                                   + 7 * ((k.range // 8) * h // 8)) % 256
                             END) + delta) % 256 > mean_px
                      THEN '1' ELSE '0' END AS bit
               FROM m, range(0, 64) k),
         fp AS (SELECT asset_id,
                       string_agg(bit, '' ORDER BY k) AS ahash
                FROM b GROUP BY asset_id),
         pairs AS (SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN x.ahash[i] != y.ahash[i]
                            THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
                   FROM fp x JOIN fp y ON x.asset_id < y.asset_id)
         SELECT asset_a, asset_b, hamming FROM pairs WHERE hamming <= 3""",
    // Canonical twin: the same closed-form fingerprints, transitive
    // closure via a recursive CTE, then per cluster the most-pixel
    // member (ties → smallest id) by windowed rank.
    "q_image_canonical" ->
      """WITH RECURSIVE src AS (
           SELECT doc_id AS asset_id, doc_id AS id, 0 AS delta
           FROM documents WHERE doc_id < 256
           UNION ALL
           SELECT doc_id + 1000000, doc_id, 8
           FROM documents WHERE doc_id < 256),
         dims AS (SELECT asset_id, id, delta,
                         CAST(1 + id % 16 AS BIGINT) AS w,
                         CAST(1 + (id // 16) % 16 AS BIGINT) AS h
                  FROM src),
         m AS (SELECT asset_id, id, delta, w, h,
                 CAST(SUM(((CASE WHEN i.range = 0 THEN id % 256
                            ELSE (id + 31 * (i.range % w)
                                  + 7 * (i.range // w)) % 256 END)
                           + delta) % 256) AS BIGINT) // (w * h) AS mean_px
               FROM dims, range(0, 256) i WHERE i.range < w * h
               GROUP BY asset_id, id, delta, w, h),
         b AS (SELECT asset_id, k.range AS k,
                 CASE WHEN ((CASE WHEN (k.range % 8) * w // 8 = 0
                                   AND (k.range // 8) * h // 8 = 0
                             THEN id % 256
                             ELSE (id + 31 * ((k.range % 8) * w // 8)
                                   + 7 * ((k.range // 8) * h // 8)) % 256
                             END) + delta) % 256 > mean_px
                      THEN '1' ELSE '0' END AS bit
               FROM m, range(0, 64) k),
         fp AS (SELECT asset_id,
                       string_agg(bit, '' ORDER BY k) AS ahash
                FROM b GROUP BY asset_id),
         pairs AS (SELECT x.asset_id AS asset_a, y.asset_id AS asset_b
                   FROM fp x JOIN fp y ON x.asset_id < y.asset_id
                   WHERE CAST(list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN x.ahash[i] != y.ahash[i]
                            THEN 1 ELSE 0 END)) AS BIGINT) <= 3),
         und AS (SELECT asset_a AS u, asset_b AS v FROM pairs
                 UNION ALL SELECT asset_b, asset_a FROM pairs),
         reach(node, lbl) AS (
           SELECT u, u FROM und
           UNION
           SELECT e.v, r.lbl FROM und e JOIN reach r ON r.node = e.u),
         cl AS (SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node),
         px AS (SELECT asset_id, w * h AS px FROM dims),
         rk AS (SELECT cl.cluster, cl.node, p.px,
                  row_number() OVER (PARTITION BY cl.cluster
                    ORDER BY p.px DESC, cl.node ASC) AS rn,
                  COUNT(*) OVER (PARTITION BY cl.cluster) AS n_assets
                FROM cl JOIN px p ON p.asset_id = cl.node)
         SELECT cluster, node AS canon_id, n_assets, px AS px_kept
         FROM rk WHERE rn = 1""",
    // Incremental twin: same closed-form fingerprint regeneration over
    // the base + three arrival slices, then the EXACT all-pairs
    // cross-boundary verdict (banding is exhaustive at <= 3).
    "q_image_dedup_incr" ->
      """WITH src AS (
           SELECT doc_id AS asset_id, doc_id AS id, 0 AS delta
           FROM documents WHERE doc_id < 256
           UNION ALL
           SELECT doc_id + 1000000, doc_id, 0
           FROM documents WHERE doc_id < 256 AND doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 2000000, doc_id, 8
           FROM documents WHERE doc_id < 256 AND doc_id % 3 = 1
           UNION ALL
           SELECT doc_id + 3000000, doc_id, 128
           FROM documents WHERE doc_id < 256 AND doc_id % 3 = 2),
         dims AS (SELECT asset_id, id, delta,
                         CAST(1 + id % 16 AS BIGINT) AS w,
                         CAST(1 + (id // 16) % 16 AS BIGINT) AS h
                  FROM src),
         m AS (SELECT asset_id, id, delta, w, h,
                 CAST(SUM(((CASE WHEN i.range = 0 THEN id % 256
                            ELSE (id + 31 * (i.range % w)
                                  + 7 * (i.range // w)) % 256 END)
                           + delta) % 256) AS BIGINT) // (w * h) AS mean_px
               FROM dims, range(0, 256) i WHERE i.range < w * h
               GROUP BY asset_id, id, delta, w, h),
         b AS (SELECT asset_id, k.range AS k,
                 CASE WHEN ((CASE WHEN (k.range % 8) * w // 8 = 0
                                   AND (k.range // 8) * h // 8 = 0
                             THEN id % 256
                             ELSE (id + 31 * ((k.range % 8) * w // 8)
                                   + 7 * ((k.range // 8) * h // 8)) % 256
                             END) + delta) % 256 > mean_px
                      THEN '1' ELSE '0' END AS bit
               FROM m, range(0, 64) k),
         fp AS (SELECT asset_id,
                       string_agg(bit, '' ORDER BY k) AS ahash
                FROM b GROUP BY asset_id),
         xm AS (SELECT x.asset_id, y.asset_id AS idx_id
                FROM fp x JOIN fp y
                ON x.asset_id >= 1000000 AND y.asset_id < 1000000
                WHERE CAST(list_sum(list_transform(range(1, 65),
                        i -> CASE WHEN x.ahash[i] != y.ahash[i]
                             THEN 1 ELSE 0 END)) AS BIGINT) <= 3)
         SELECT a.asset_id,
                CAST(COUNT(m.idx_id) AS BIGINT) AS n_near,
                CAST(CASE WHEN COUNT(m.idx_id) = 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS kept
         FROM (SELECT asset_id FROM src WHERE asset_id >= 1000000) a
         LEFT JOIN xm m ON m.asset_id = a.asset_id
         GROUP BY a.asset_id""",
    // Streaming image-index twin: two-phase replay — batch 1 judged
    // against the base fingerprints, its admitted assets join the
    // index, batch 2 judged against base ∪ admitted (exact all-pairs
    // Hamming; banding is pigeonhole-exhaustive at <= 3).
    "q_stream_image_index" ->
      """WITH src AS (
           SELECT doc_id AS asset_id, doc_id AS id, 0 AS delta
           FROM documents WHERE doc_id < 256
           UNION ALL
           SELECT doc_id + 1000000, doc_id, 0
           FROM documents WHERE doc_id < 256 AND doc_id % 2 = 0
           UNION ALL
           SELECT doc_id + 1500000, doc_id, 128
           FROM documents WHERE doc_id < 256 AND doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 2000000, doc_id, 128
           FROM documents WHERE doc_id < 256 AND doc_id % 2 = 1),
         dims AS (SELECT asset_id, id, delta,
                         CAST(1 + id % 16 AS BIGINT) AS w,
                         CAST(1 + (id // 16) % 16 AS BIGINT) AS h
                  FROM src),
         m AS (SELECT asset_id, id, delta, w, h,
                 CAST(SUM(((CASE WHEN i.range = 0 THEN id % 256
                            ELSE (id + 31 * (i.range % w)
                                  + 7 * (i.range // w)) % 256 END)
                           + delta) % 256) AS BIGINT) // (w * h) AS mean_px
               FROM dims, range(0, 256) i WHERE i.range < w * h
               GROUP BY asset_id, id, delta, w, h),
         b AS (SELECT asset_id, k.range AS k,
                 CASE WHEN ((CASE WHEN (k.range % 8) * w // 8 = 0
                                   AND (k.range // 8) * h // 8 = 0
                             THEN id % 256
                             ELSE (id + 31 * ((k.range % 8) * w // 8)
                                   + 7 * ((k.range // 8) * h // 8)) % 256
                             END) + delta) % 256 > mean_px
                      THEN '1' ELSE '0' END AS bit
               FROM m, range(0, 64) k),
         fp AS (SELECT asset_id,
                       string_agg(bit, '' ORDER BY k) AS ahash
                FROM b GROUP BY asset_id),
         xm1 AS (SELECT x.asset_id, y.asset_id AS idx_id
                FROM fp x JOIN fp y
                ON x.asset_id >= 1000000 AND x.asset_id < 2000000
                  AND y.asset_id < 1000000
                WHERE CAST(list_sum(list_transform(range(1, 65),
                        i -> CASE WHEN x.ahash[i] != y.ahash[i]
                             THEN 1 ELSE 0 END)) AS BIGINT) <= 3),
         v1 AS (SELECT a.asset_id,
                CAST(COUNT(m.idx_id) AS BIGINT) AS n_near,
                CAST(CASE WHEN COUNT(m.idx_id) = 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS kept
           FROM (SELECT asset_id FROM src
                 WHERE asset_id >= 1000000 AND asset_id < 2000000) a
           LEFT JOIN xm1 m ON m.asset_id = a.asset_id
           GROUP BY a.asset_id),
         idx2 AS (SELECT asset_id FROM src WHERE asset_id < 1000000
                  UNION ALL SELECT asset_id FROM v1 WHERE kept = 1),
         xm2 AS (SELECT x.asset_id, y.asset_id AS idx_id
                FROM fp x JOIN fp y ON x.asset_id >= 2000000
                JOIN idx2 ix ON ix.asset_id = y.asset_id
                WHERE CAST(list_sum(list_transform(range(1, 65),
                        i -> CASE WHEN x.ahash[i] != y.ahash[i]
                             THEN 1 ELSE 0 END)) AS BIGINT) <= 3),
         v2 AS (SELECT a.asset_id,
                CAST(COUNT(m.idx_id) AS BIGINT) AS n_near,
                CAST(CASE WHEN COUNT(m.idx_id) = 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS kept
           FROM (SELECT asset_id FROM src WHERE asset_id >= 2000000) a
           LEFT JOIN xm2 m ON m.asset_id = a.asset_id
           GROUP BY a.asset_id)
         SELECT * FROM v1 UNION ALL SELECT * FROM v2""",
    "q_image_rgb" -> OracleSql.imageRgbSql,
    "q_multimodal_jpeg" ->
      """SELECT count(*) AS n_assets,
                CAST(SUM(1 + doc_id % 16) AS BIGINT) AS sum_width,
                CAST(SUM(1 + (doc_id // 16) % 16) AS BIGINT) AS sum_height
         FROM documents""",
    "q_audio_resample" ->
      """WITH p AS (SELECT doc_id AS asset_id,
              CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents),
          kk AS (SELECT asset_id, n, k.range AS k,
              (8 * k.range) // 3 AS i, (8 * k.range) % 3 AS r
            FROM p, range(0, 256) k WHERE 8 * k.range <= 3 * n - 4),
          v AS (SELECT asset_id, n, k,
              (3 - r) * (((asset_id * 31 + 17 * i) % 65536) - 32768)
              + r * (((asset_id * 31 + 17 * (i + 1)) % 65536) - 32768)
                AS out3
            FROM kk)
         SELECT asset_id, CAST(max(n) AS BIGINT) AS n_in,
                count(*) AS n_out,
                CAST(sum(out3) AS BIGINT) AS sum3,
                CAST(sum(out3 * (k + 1)) AS BIGINT) AS wsum3,
                CAST(min(out3) AS BIGINT) AS min3,
                CAST(max(out3) AS BIGINT) AS max3
         FROM v GROUP BY asset_id""",
    "q_audio_meta" ->
      """SELECT doc_id AS asset_id,
                CAST(1 AS BIGINT) AS audio_format,
                CAST(1 AS BIGINT) AS channels,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(16 AS BIGINT) AS bits,
                CAST(64 + doc_id % 128 AS BIGINT) AS n_samples,
                CAST((64 + doc_id % 128) * 125 AS BIGINT) AS dur_us
         FROM documents""",
    "q_multimodal_wav" ->
      // Grouped by a synthetic row key, not doc_id: the Spark side decodes
      // one asset per input ROW, so the oracle must too (grouping by
      // doc_id would silently merge duplicate ids).
      """WITH d AS (SELECT doc_id, row_number() OVER () AS rid
              FROM documents),
            s AS (SELECT rid, doc_id,
                unnest(range(64 + doc_id % 128)) AS i
              FROM d),
            a AS (SELECT rid, COUNT(*) AS n,
                CAST(SUM(((doc_id * 31 + i * 17) % 65536) - 32768)
                  AS BIGINT) AS ssum
              FROM s GROUP BY rid)
         SELECT COUNT(*) AS n_assets,
                CAST(SUM(n) AS BIGINT) AS sum_samples,
                CAST(SUM(ssum) AS BIGINT) AS sum_amp
         FROM a""",
    "q_multimodal_video" ->
      // Closed-form twin of Mp4.synthFrames: n = 4 + id mod 8 frames,
      // frame i is 32 + (id·7 + i·13) mod 64 bytes, byte j is
      // (id·7919 + i·131 + j·31) mod 256; duration = n·3000 ticks.
      """WITH fr AS (SELECT doc_id, i.range AS i,
                            CAST(32 + (doc_id*7 + i.range*13) % 64 AS BIGINT)
                              AS sz
                     FROM documents, range(0, 12) i
                     WHERE i.range < 4 + doc_id % 8),
           fb AS (SELECT doc_id, i, sz,
                         CAST(SUM((doc_id*7919 + i*131 + j.range*31) % 256)
                           AS BIGINT) AS bsum
                  FROM fr, range(0, 96) j WHERE j.range < sz
                  GROUP BY doc_id, i, sz)
         SELECT doc_id AS asset_id, COUNT(*) AS n_frames,
                CAST(SUM(sz) AS BIGINT) AS frame_bytes,
                CAST(SUM(bsum) AS BIGINT) AS frame_byte_sum,
                CAST(MAX((4 + doc_id % 8) * 3000) AS BIGINT)
                  AS duration_ticks
         FROM fb GROUP BY doc_id""",
    "q_multimodal_mjpeg" ->
      // Closed-form twin of MultimodalOps.syntheticFrameImage dims:
      // n = 3 + id mod 6 frames; frame i decodes to width
      // 1 + (id+i) mod 16 and height 1 + ((id+i) // 16) mod 16.
      """WITH fr AS (SELECT doc_id, i.range AS i
                     FROM documents, range(0, 9) i
                     WHERE i.range < 3 + doc_id % 6)
         SELECT doc_id AS asset_id, COUNT(*) AS n_frames,
                CAST(SUM(1 + (doc_id + i) % 16) AS BIGINT) AS sum_width,
                CAST(SUM(1 + ((doc_id + i) // 16) % 16) AS BIGINT) AS sum_height
         FROM fr GROUP BY doc_id""",
    "q_sql_q3" -> SqlQ3,
    "q_sql_q1" -> SqlQ1,
    "q_sql_q4" -> SqlQ4,
    "q_sql_q17" -> SqlQ17,
    "q_sql_q12" -> SqlQ12,
    "q_sql_q18" -> SqlQ18,
    "q_sql_q19" -> SqlQ19,
    "q_sql_q22" -> SqlQ22,
    "q_sql_q20" -> SqlQ20,
    "q_sql_q21" -> SqlQ21,
    "q_sql_q2"  -> SqlQ2,
    "q_sql_q5"  -> SqlQ5,
    "q_sql_q6"  -> SqlQ6,
    "q_sql_q7"  -> SqlQ7,
    "q_sql_q8"  -> SqlQ8,
    "q_sql_q9"  -> SqlQ9,
    "q_sql_q10" -> SqlQ10,
    "q_sql_q11" -> SqlQ11,
    "q_sql_q13" -> SqlQ13,
    "q_sql_q14" -> SqlQ14,
    "q_sql_q15" -> SqlQ15,
    "q_sql_q16" -> SqlQ16,
    "q_sql_window" -> SqlWindowTopk,
    "q_sql_lateral" -> SqlLateral,
    "q_sql_recursive" -> SqlRecursive,

    "q_agg_mode" ->
      """SELECT l_returnflag, mode_qty, cnt FROM (
           SELECT l_returnflag, l_quantity AS mode_qty, count(*) AS cnt,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY count(*) DESC, l_quantity) AS rn
           FROM lineitem GROUP BY l_returnflag, l_quantity) t
         WHERE rn = 1""",

    // Mirrors chiSquare's exact expression structure: the grid is the
    // full margin cross product (structural zeros contribute e),
    // e = ra·cb/n in double, (o−e)²/e per cell cast to DECIMAL(28,8),
    // order-free sum.
    "q_chisq" ->
      """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS o
                        FROM lineitem GROUP BY 1, 2),
              rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
              ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
              nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                            CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof
                     FROM cells),
              grid AS (SELECT a, b, ra, cb, COALESCE(o, 0) AS o
                       FROM rt CROSS JOIN ct LEFT JOIN cells USING (a, b))
         SELECT CAST(sum(CAST(
                  (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,8))) AS DOUBLE) AS chi2,
                dof
         FROM grid CROSS JOIN nn
         GROUP BY dof""",

    "q_cooccur" ->
      """WITH its AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS p FROM lineitem)
         SELECT a.p AS p1, b.p AS p2, count(*) AS support
         FROM its a JOIN its b ON a.bk = b.bk AND a.p < b.p
         GROUP BY 1, 2
         HAVING count(*) >= 2
         ORDER BY support DESC, p1, p2
         LIMIT 50""",

    // The oracle recomputes heaviness exactly — the sketch phase only
    // prunes candidates, so exact HAVING is the complete ground truth.
    "q_heavy_hitters" ->
      """WITH keyed AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN l_orderkey % 5
                                    ELSE 100 + l_orderkey END AS hk
                        FROM lineitem)
         SELECT hk, count(*) AS cnt FROM keyed GROUP BY hk
         HAVING count(*) * 1000 >= (SELECT count(*) FROM keyed)""",
    "q_grouping_sets" -> SqlGroupingSets,
    "q_pipeline" -> OracleSql.pipelineSql,
    "q_curate_funnel" -> OracleSql.pipelineFunnelSql,
    "q_crawl_pipeline" -> OracleSql.crawlPipelineSql,
    "q_sink_roundtrip" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""",
    "q_sink_orc" ->
      """SELECT event_type, count(*) AS n,
                CAST(SUM(user_id) AS BIGINT) AS uid_sum,
                CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
                  AS value_scaled
         FROM events WHERE value > 10.0 GROUP BY event_type""",
    "q_sink_jsonl" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
                MIN(md5(text)) AS min_text_md5
         FROM documents GROUP BY lang""",
    "q_sink_jsonl_gz" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
                MIN(md5(text)) AS min_text_md5
         FROM documents GROUP BY lang""",
    "q_offset_scan" ->
      """WITH l AS (SELECT doc_id,
                           CAST(doc_id AS VARCHAR) || chr(9) || text AS line
                    FROM documents),
              o AS (SELECT line,
                      CAST(COALESCE(SUM(octet_length(encode(line)) + 1) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS off
                    FROM l)
         SELECT count(*) AS n_lines,
                CAST(CAST(SUM(off) AS DECIMAL(38,0)) AS VARCHAR) AS sum_off,
                MAX(off) AS max_off,
                CAST(SUM(octet_length(encode(line))) AS BIGINT) AS sum_len
         FROM o""",
    "q_sink_partitioned" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_gdpr_delete" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price,
                min(o_orderkey) AS min_key,
                max(o_orderkey) AS max_key
         FROM orders WHERE o_custkey % 97 <> 0
         GROUP BY o_orderpriority""",
    "q_sink_bucketed" ->
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
                count(*) AS cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q_sink_zstd" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_price
         FROM lineitem GROUP BY l_returnflag""",
    "q_mannwhitney" ->
      """WITH h AS (SELECT CAST(l_quantity AS BIGINT) AS v,
                CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
                CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
              FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
            t AS (SELECT ca, cb,
                CAST(coalesce(sum(cb) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cumb
              FROM h),
            a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                CAST(sum(cb) AS BIGINT) AS n_b,
                CAST(sum(ca * (2 * cumb + cb)) AS BIGINT) AS u2_a,
                CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                  AS BIGINT) AS tie3
              FROM t)
         SELECT n_a, n_b, u2_a,
                (CAST(u2_a AS DOUBLE) - CAST(n_a * n_b AS DOUBLE)) /
                (2.0 * sqrt(CAST(n_a * n_b AS DOUBLE) *
                  ((CAST(n_a + n_b AS DOUBLE) + 1.0) -
                   CAST(tie3 AS DOUBLE) /
                     (CAST(n_a + n_b AS DOUBLE) *
                      (CAST(n_a + n_b AS DOUBLE) - 1.0))) / 12.0)) AS z
         FROM a""",
    "q_binning" ->
      """WITH h AS (SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS cnt
                    FROM lineitem GROUP BY 1),
            c AS (SELECT v, cnt,
                CAST(sum(cnt) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(cnt) OVER () AS BIGINT) AS n
              FROM h)
         SELECT ((cum - 1) * 10) // n AS bucket,
                CAST(sum(cnt) AS BIGINT) AS n_rows,
                min(v) AS min_v, max(v) AS max_v
         FROM c GROUP BY 1""",
    "q_source_linesep" ->
      """SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
                min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
         FROM documents""",
    "q_compact" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q_audio_frames" ->
      // Regenerate the synthetic PCM (one asset per input ROW — the
      // q_multimodal_wav rid discipline) and replay the framing math:
      // 64-sample frames, energy Σs², zero crossings on sign(s)=s≥0
      // with no crossing charged at a frame's first sample.
      """WITH d AS (SELECT doc_id, row_number() OVER () AS rid
              FROM documents),
            s AS (SELECT rid, doc_id,
                unnest(range(64 + doc_id % 128)) AS i
              FROM d),
            v AS (SELECT rid, i, i // 64 AS frame_idx,
                ((doc_id * 31 + i * 17) % 65536) - 32768 AS sv
              FROM s),
            z AS (SELECT rid, frame_idx, sv,
                CASE WHEN lag(sv) OVER w IS NULL THEN 0
                     WHEN (sv >= 0) <> (lag(sv) OVER w >= 0) THEN 1
                     ELSE 0 END AS zc
              FROM v
              WINDOW w AS (PARTITION BY rid, frame_idx ORDER BY i)),
            f AS (SELECT rid, frame_idx,
                CAST(sum(sv * sv) AS BIGINT) AS energy2,
                CAST(sum(zc) AS BIGINT) AS zcs
              FROM z GROUP BY rid, frame_idx)
         SELECT frame_idx, count(*) AS n_frames,
                CAST(sum(energy2) AS BIGINT) AS sum_energy2,
                CAST(sum(zcs) AS BIGINT) AS sum_zc
         FROM f GROUP BY frame_idx""",
    // Audio-dedup twin: regenerate both slices' PCM closed-form (the
    // volume-halved slice divides with truncation toward zero, matching
    // JVM Int division), frame energies over complete 16-sample frames,
    // delta-sign bits via a power-of-two VALUES table, exact
    // (n_frames, fp) collision join.
    "q_audio_dedup" -> {
      val pw = (0 to 10).map(k => s"($k, ${1L << k})").mkString(", ")
      val pw4 = (0 to 46).map(k => s"($k, ${1L << k})").mkString(", ")
      s"""WITH src AS (
           SELECT doc_id AS asset_id, doc_id AS id, 1 AS den
           FROM documents WHERE doc_id < 256
           UNION ALL
           SELECT doc_id + 1000000, doc_id, 2
           FROM documents WHERE doc_id < 256),
         s AS (SELECT asset_id, id, den,
                 (64 + id % 128) // 16 AS nf,
                 (64 + id % 128) // 4 AS nf4,
                 unnest(range(64 + id % 128)) AS i
               FROM src),
         v AS (SELECT asset_id, nf, nf4, i, i // 16 AS k, i // 4 AS k4,
                 CASE WHEN sv0 >= 0 THEN sv0 // den
                      ELSE -((-sv0) // den) END AS sv
               FROM (SELECT asset_id, den, nf, nf4, i,
                       ((id * 2654435761 + i * 40503) % 65536) - 32768
                         AS sv0
                     FROM s)),
         e AS (SELECT asset_id, nf, k,
                 CAST(SUM(sv * sv) AS BIGINT) AS e2
               FROM v WHERE k < nf GROUP BY asset_id, nf, k),
         bits AS (SELECT asset_id, nf, k,
                 CASE WHEN lead(e2) OVER (PARTITION BY asset_id
                   ORDER BY k) > e2 THEN 1 ELSE 0 END AS b
               FROM e),
         pw AS (SELECT * FROM (VALUES $pw) t(k, p2)),
         e4 AS (SELECT asset_id, nf4, k4,
                 CAST(SUM(sv * sv) AS BIGINT) AS e2
               FROM v WHERE k4 < nf4 GROUP BY asset_id, nf4, k4),
         bits4 AS (SELECT asset_id, nf4, k4,
                 CASE WHEN lead(e2) OVER (PARTITION BY asset_id
                   ORDER BY k4) > e2 THEN 1 ELSE 0 END AS b
               FROM e4),
         pwf AS (SELECT * FROM (VALUES $pw4) t(k, p2)),
         fpc AS (SELECT asset_id, CAST(MAX(nf) AS BIGINT) AS n_frames,
                 CAST(COALESCE(SUM(CASE WHEN bits.k < nf - 1 AND b = 1
                   THEN p2 ELSE 0 END), 0) AS BIGINT) AS fp
               FROM bits JOIN pw ON pw.k = bits.k
               GROUP BY asset_id),
         fpf AS (SELECT asset_id, CAST(MAX(nf4) AS BIGINT) AS n_frames4,
                 CAST(COALESCE(SUM(CASE WHEN bits4.k4 < nf4 - 1 AND b = 1
                   THEN p2 ELSE 0 END), 0) AS BIGINT) AS fp4
               FROM bits4 JOIN pwf ON pwf.k = bits4.k4
               GROUP BY asset_id),
         fp AS (SELECT c.asset_id, c.n_frames, f.n_frames4, c.fp, f.fp4
                FROM fpc c JOIN fpf f USING (asset_id))
         SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
                x.n_frames AS n_frames, x.n_frames4 AS n_frames4,
                x.fp AS fp, x.fp4 AS fp4
         FROM fp x JOIN fp y
         ON x.n_frames = y.n_frames AND x.n_frames4 = y.n_frames4
           AND x.fp = y.fp AND x.fp4 = y.fp4
           AND x.asset_id < y.asset_id"""
    },
    "q_label_centroids" ->
      s"""WITH qv AS (SELECT label, list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * ${ops.SimilarityOps.QScale})
                AS BIGINT)) AS v
            FROM embeddings),
          d AS (SELECT label, r.range AS dim, v[r.range + 1] AS q
                FROM qv, range(0, ${ops.SimilarityOps.Dims}) r),
          c AS (SELECT label, dim,
                CAST((CAST(sum(q) AS BIGINT) + count(*) * 1000000)
                  // count(*) - 1000000 AS BIGINT) AS cm
              FROM d GROUP BY 1, 2)
        SELECT a.label AS la, b.label AS lb,
               CAST(sum((a.cm - b.cm) * (a.cm - b.cm)) AS BIGINT) AS dist2
        FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2""",
    "q_decontam_near" -> OracleSql.decontamNearSql,
    "q_decontam_embed" -> OracleSql.decontamEmbedSql,
    "q_collocations" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, w FROM (
              SELECT doc_id, unnest(string_split_regex(lower(text),
                '${OracleSql.Ws}')) AS w FROM documents)
            WHERE regexp_full_match(w, '[a-z]+')),
          cw AS (SELECT w, count(*) AS cw FROM dt GROUP BY w
                 HAVING count(*) >= 20),
          nd AS (SELECT count(*) AS nd FROM documents),
          f AS (SELECT dt.doc_id, dt.w, cw.cw FROM dt JOIN cw USING (w)),
          p AS (SELECT a.w AS wa, b.w AS wb, a.cw AS ca, b.cw AS cb,
                count(*) AS cab
            FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5)
        SELECT wa, wb, ca, cb, cab,
               CAST(((cab * 1000000) // ca) * nd // cb AS BIGINT)
                 AS lift_ppm
        FROM p, nd
        ORDER BY lift_ppm DESC, wa, wb LIMIT 20""",
    "q_ks_test" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
              FROM events WHERE event_type IN ('purchase', 'view')),
            h AS (SELECT c, CAST(sum(g) AS BIGINT) AS k1,
                CAST(sum(1 - g) AS BIGINT) AS k2
              FROM e GROUP BY 1),
            t AS (SELECT
                CAST(sum(k1) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum1,
                CAST(sum(k2) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum2,
                CAST(sum(k1) OVER () AS BIGINT) AS n1,
                CAST(sum(k2) OVER () AS BIGINT) AS n2
              FROM h),
            a AS (SELECT n1, n2,
                CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
              FROM t GROUP BY n1, n2)
         SELECT n1, n2, d_num,
                CAST(d_num AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d
         FROM a""",
    "q_auc" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
              FROM events WHERE event_type IN ('purchase', 'view')),
            h AS (SELECT v, CAST(sum(g) AS BIGINT) AS cp,
                CAST(sum(1 - g) AS BIGINT) AS cn
              FROM e GROUP BY 1),
            t AS (SELECT cp, cn,
                CAST(coalesce(sum(cn) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cumn
              FROM h),
            a AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
                CAST(sum(cn) AS BIGINT) AS n_neg,
                CAST(sum(cp * (2 * cumn + cn)) AS BIGINT) AS u2
              FROM t)
         SELECT n_pos, n_neg, u2,
                CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE)
                  * CAST(n_neg AS DOUBLE)) AS auc
         FROM a""",
    "q_drift_tvd" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
                CAST(floor(value / 50.0) AS BIGINT) AS band FROM events),
            bd AS (SELECT day, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT day,
                CAST(sum(k) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM bd),
            ct AS (SELECT min(CASE WHEN cum >= (n * 50 + 99) // 100
                  THEN day END) AS cut FROM t),
            h AS (SELECT band,
                CAST(sum(CASE WHEN day < cut THEN 1 ELSE 0 END)
                  AS BIGINT) AS k1,
                CAST(sum(CASE WHEN day >= cut THEN 1 ELSE 0 END)
                  AS BIGINT) AS k2
              FROM e, ct GROUP BY band),
            s AS (SELECT k1, k2,
                CAST(sum(k1) OVER () AS BIGINT) AS n1,
                CAST(sum(k2) OVER () AS BIGINT) AS n2
              FROM h),
            a AS (SELECT n1, n2,
                CAST(sum(abs(k1 * n2 - k2 * n1)) AS BIGINT) AS num
              FROM s GROUP BY n1, n2)
         SELECT n1, n2,
                CAST(num AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)
                  * CAST(n2 AS DOUBLE)) AS tvd
         FROM a""",
    "q_confusion" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
              FROM events WHERE event_type IN ('purchase', 'view')),
            h AS (SELECT c, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT c,
                CAST(sum(k) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM h),
            thr AS (SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN c END)
                  AS thr FROM t),
            a AS (SELECT
                CAST(sum(CASE WHEN c >= thr THEN g ELSE 0 END) AS BIGINT)
                  AS tp,
                CAST(sum(CASE WHEN c >= thr THEN 1 - g ELSE 0 END)
                  AS BIGINT) AS fp,
                CAST(sum(CASE WHEN c < thr THEN g ELSE 0 END) AS BIGINT)
                  AS fn,
                CAST(sum(CASE WHEN c < thr THEN 1 - g ELSE 0 END)
                  AS BIGINT) AS tn
              FROM e, thr)
         SELECT tp, fp, fn, tn,
                CAST((tp * 1000000) // (tp + fp) AS BIGINT)
                  AS precision_ppm,
                CAST((tp * 1000000) // (tp + fn) AS BIGINT)
                  AS recall_ppm
         FROM a""",
    "q_lift_curve" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
              FROM events WHERE event_type IN ('purchase', 'view')),
            h AS (SELECT v, count(*) AS k, CAST(sum(g) AS BIGINT) AS p
              FROM e GROUP BY 1),
            t AS (SELECT k, p,
                CAST(sum(k) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM h),
            dec AS (SELECT ((cum - 1) * 10) // n AS decile,
                CAST(sum(k) AS BIGINT) AS n_rows,
                CAST(sum(p) AS BIGINT) AS n_pos
              FROM t GROUP BY 1),
            c AS (SELECT decile, n_rows, n_pos,
                CAST(sum(n_pos) OVER (ORDER BY decile DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pos,
                CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
              FROM dec)
         SELECT decile, n_rows, n_pos,
                CAST((cum_pos * 1000000) // tot_pos AS BIGINT)
                  AS capture_ppm
         FROM c""",
    "q_jackknife" ->
      s"""WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c,
                ${OracleSql.hash60("'jk-' || CAST(event_id AS VARCHAR)")}
                  % 32 AS b
              FROM events),
            bk AS (SELECT b, count(*) AS nb,
                CAST(sum(c) AS BIGINT) AS sb
              FROM e GROUP BY b),
            tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
                CAST(sum(sb) AS BIGINT) AS s,
                count(*) AS nbuckets
              FROM bk),
            th AS (SELECT n, nbuckets,
                CAST(((s - sb) * 1000) // (n - nb) AS BIGINT)
                  AS theta_mc
              FROM bk, tot),
            a AS (SELECT n, nbuckets,
                CAST(sum(theta_mc) AS BIGINT) AS st,
                CAST(sum(theta_mc * theta_mc) AS BIGINT) AS stt
              FROM th GROUP BY n, nbuckets)
         SELECT n, nbuckets, st, stt,
                (CAST(nbuckets AS DOUBLE) - 1.0) / CAST(nbuckets AS DOUBLE)
                * (CAST(stt AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                     / CAST(nbuckets AS DOUBLE)) AS jk_var_mc2
         FROM a""",
    "q_median_ci" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c
              FROM events),
            h AS (SELECT c, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT c,
                CAST(sum(k) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM h),
            r AS (SELECT c, cum, n,
                CAST(floor((CAST(n AS DOUBLE)
                  - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)
                  AS r_lo,
                CAST(ceil((CAST(n AS DOUBLE)
                  + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0 + 1.0) AS BIGINT)
                  AS r_hi,
                (n + 1) // 2 AS r_med
              FROM t)
         SELECT n,
                min(CASE WHEN cum >= r_med THEN c END) AS median_c,
                min(CASE WHEN cum >= r_lo THEN c END) AS ci_lo_c,
                min(CASE WHEN cum >= r_hi THEN c END) AS ci_hi_c
         FROM r GROUP BY n, r_lo, r_hi, r_med""",
    "q_histogram2d" ->
      """WITH e AS (SELECT epoch_us(ts) AS tus, value FROM events)
         SELECT CAST(floor(value / 50.0) AS BIGINT) AS band,
                (tus // 3600000000) % 24 AS hod,
                count(*) AS n,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM e GROUP BY 1, 2""",
    "q_abtest_cuped" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id,
                CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
            bd AS (SELECT day, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT day,
                CAST(sum(k) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM bd),
            ct AS (SELECT min(CASE WHEN cum >= (n * 50 + 99) // 100
                  THEN day END) AS cut FROM t),
            pre AS (SELECT user_id,
                CAST(CAST(sum(cents) AS BIGINT) // count(*) AS BIGINT)
                  AS x
              FROM e, ct WHERE day < cut GROUP BY user_id),
            post AS (SELECT user_id,
                CAST(CAST(sum(cents) AS BIGINT) // count(*) AS BIGINT)
                  AS y
              FROM e, ct WHERE day >= cut GROUP BY user_id),
            u AS (SELECT pre.user_id % 2 AS arm, x, y
              FROM pre JOIN post USING (user_id)),
            pl AS (SELECT count(*) AS n,
                CAST(sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
                CAST(sum(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS sy,
                CAST(sum(CAST(x * y AS DECIMAL(28,0))) AS DOUBLE) AS sxy,
                CAST(sum(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx
              FROM u),
            th AS (SELECT sx / n AS mx,
                (sxy / n - (sx / n) * (sy / n)) /
                (sxx / n - (sx / n) * (sx / n)) AS theta
              FROM pl),
            ar AS (SELECT arm, count(*) AS n_users,
                CAST(sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS ax,
                CAST(sum(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS ay
              FROM u GROUP BY arm)
         SELECT arm, n_users, ay / n_users AS mean_y,
                (ay / n_users) - theta * ((ax / n_users) - mx)
                  AS adj_mean_y
         FROM ar, th""",
    "q_iqr_outliers" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c
              FROM events),
            h AS (SELECT c, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT c,
                CAST(sum(k) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM h),
            thr AS (SELECT
                min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN c END)
                  AS q1_c,
                min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN c END)
                  AS q3_c
              FROM t)
         SELECT count(*) AS n, q1_c, q3_c,
                CAST(sum(CASE WHEN 2 * c < 2 * q1_c - 3 * (q3_c - q1_c)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                CAST(sum(CASE WHEN 2 * c > 2 * q3_c + 3 * (q3_c - q1_c)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         FROM e, thr GROUP BY q1_c, q3_c""",
    // Both fanout sinks must read back to the batch per-type answer.
    "q_stream_fanout" ->
      """SELECT event_type, count(*) AS n_raw,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_raw,
                count(*) AS n_agg,
                CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                  AS sum_agg
         FROM events GROUP BY event_type""",
    "q_assortativity" ->
      s"""WITH raw AS (SELECT l_orderkey % $TriMod AS src,
                l_partkey % $TriMod AS dst FROM lineitem),
            und AS (SELECT DISTINCT least(src, dst) AS a,
                greatest(src, dst) AS b FROM raw WHERE src <> dst),
            nd AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
            dg AS (SELECT node, count(*) AS deg FROM nd GROUP BY node),
            sym AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und),
            j AS (SELECT x.deg AS dx, y.deg AS dy
              FROM sym JOIN dg x ON sym.u = x.node
                       JOIN dg y ON sym.v = y.node),
            m AS (SELECT count(*) AS n,
                CAST(sum(CAST(dx AS DECIMAL(28,0))) AS DOUBLE) AS sx,
                CAST(sum(CAST(dy AS DECIMAL(28,0))) AS DOUBLE) AS sy,
                CAST(sum(CAST(dx * dy AS DECIMAL(28,0))) AS DOUBLE) AS sxy,
                CAST(sum(CAST(dx * dx AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(dy * dy AS DECIMAL(28,0))) AS DOUBLE) AS syy
              FROM j)
         SELECT n,
                (sxy / n - (sx / n) * (sy / n)) /
                sqrt((sxx / n - (sx / n) * (sx / n)) *
                     (syy / n - (sy / n) * (sy / n))) AS assortativity
         FROM m""",
    "q_cc_sizes" -> {
      s"""WITH cc AS (${OracleSql.dedupClusterSql}),
            cs AS (SELECT cluster, count(*) AS size FROM cc
              GROUP BY cluster)
         SELECT size, count(*) AS n_clusters FROM cs GROUP BY size"""
    },
    "q_readability" ->
      s"""WITH per AS (SELECT lang,
                CAST(len(list_filter(string_split_regex(text,
                  '${OracleSql.Ws}'), x -> x <> '')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split_regex(text,
                  '${graft.ops.TextOps.SentenceRegex}'), x -> x <> ''))
                  AS BIGINT) AS ns,
                CAST(length(regexp_replace(text, '${OracleSql.Ws}', '',
                  'g')) AS BIGINT) AS nc
              FROM documents WHERE text IS NOT NULL)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(ns) AS BIGINT) AS n_sents,
                CAST(sum(nw) AS BIGINT) AS n_words,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                CAST(CAST(sum(nw) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(ns) AS BIGINT) AS DOUBLE)
                  AS words_per_sent,
                CAST(CAST(sum(nc) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(nw) AS BIGINT) AS DOUBLE)
                  AS chars_per_word
         FROM per GROUP BY lang""",
    "q_sql_group_all" -> SqlGroupAll,
    "q_winsorize" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c
              FROM events),
            h AS (SELECT c, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT c,
                CAST(sum(k) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM h),
            thr AS (SELECT
                min(CASE WHEN cum >= (n * 1 + 99) // 100 THEN c END)
                  AS p01_c,
                min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN c END)
                  AS p99_c
              FROM t),
            cl AS (SELECT least(greatest(c, p01_c), p99_c) AS cc,
                p01_c, p99_c
              FROM e, thr)
         SELECT count(*) AS n, p01_c, p99_c,
                CAST(sum(cc) AS BIGINT) AS sum_clip,
                CAST(CAST(sum(cc) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_clip
         FROM cl GROUP BY p01_c, p99_c""",
    "q_runs_test" ->
      """WITH ser AS (SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                  AS BIGINT) // count(*) AS BIGINT) AS x
              FROM orders GROUP BY 1),
            mu AS (SELECT CAST(CAST(sum(x) AS BIGINT) // count(*)
                  AS BIGINT) AS mu FROM ser),
            sg AS (SELECT day,
                CASE WHEN x > mu THEN 1 ELSE 0 END AS sgn
              FROM ser, mu),
            lg AS (SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev
              FROM sg),
            a AS (SELECT CAST(sum(sgn) AS BIGINT) AS n_above,
                CAST(sum(1 - sgn) AS BIGINT) AS n_below,
                CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn
                  THEN 1 ELSE 0 END) AS BIGINT) AS runs
              FROM lg)
         SELECT n_above, n_below, runs,
                (CAST(runs AS DOUBLE) -
                 (1.0 + 2.0 * CAST(n_above * n_below AS DOUBLE)
                    / CAST(n_above + n_below AS DOUBLE))) /
                sqrt((2.0 * CAST(n_above * n_below AS DOUBLE)
                    * (2.0 * CAST(n_above * n_below AS DOUBLE)
                       - CAST(n_above + n_below AS DOUBLE)))
                  / (CAST(n_above + n_below AS DOUBLE)
                     * CAST(n_above + n_below AS DOUBLE)
                     * (CAST(n_above + n_below AS DOUBLE) - 1.0))) AS z
         FROM a""",
    "q_time_split" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id
              FROM events),
            bd AS (SELECT day, count(*) AS k FROM e GROUP BY 1),
            t AS (SELECT day,
                CAST(sum(k) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(k) OVER () AS BIGINT) AS n
              FROM bd),
            c AS (SELECT min(CASE WHEN cum >= (n * 80 + 99) // 100
                  THEN day END) AS cut FROM t),
            tg AS (SELECT user_id,
                CASE WHEN day < cut THEN 'train' ELSE 'test' END AS split,
                cut
              FROM e, c),
            st AS (SELECT cut, split, count(*) AS n,
                count(DISTINCT user_id) AS users
              FROM tg GROUP BY 1, 2),
            lk AS (SELECT count(*) AS leak_users FROM
              (SELECT user_id FROM (SELECT DISTINCT split, user_id FROM tg)
               GROUP BY user_id HAVING count(*) = 2))
         SELECT cut AS cutoff_day, split, n, users, leak_users
         FROM st, lk""",
    "q_wau" ->
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
                user_id FROM events),
            mx AS (SELECT max(day) AS m FROM du),
            e AS (SELECT DISTINCT day + i AS wday, user_id
              FROM du, range(0, 7) t(i))
         SELECT wday, count(*) AS wau
         FROM e, mx WHERE wday <= m GROUP BY wday""",
    "q_skyline" ->
      // Naive one-window formulation: dominance via two value-RANGE
      // frames on the price total order (strictly-higher / tied-or-
      // higher). The Spark side prunes first (skyline2D) — the result
      // set is identical by construction.
      """WITH o AS (SELECT o_orderkey,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c,
                CAST(o_orderdate AS DATE) AS day
              FROM orders),
            m AS (SELECT o_orderkey, price_c, day,
                min(day) OVER (ORDER BY price_c DESC
                  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS m1,
                min(day) OVER (ORDER BY price_c DESC
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS m2
              FROM o)
         SELECT o_orderkey, price_c, day
         FROM m WHERE (m1 IS NULL OR m1 > day) AND m2 >= day""",
    "q_changepoint" ->
      """WITH ser AS (SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                  AS BIGINT) // count(*) AS BIGINT) AS x
              FROM orders GROUP BY 1),
            mu AS (SELECT CAST(CAST(sum(x) AS BIGINT) // count(*)
                  AS BIGINT) AS mu FROM ser),
            c AS (SELECT day,
                abs(CAST(sum(x - mu) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT)) AS dev
              FROM ser, mu)
         SELECT CAST(day AS VARCHAR) AS cp_day, dev
         FROM c ORDER BY dev DESC, day ASC LIMIT 1""",
    "q_quantile_norm" ->
      """WITH e AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT)
                  AS cents FROM events),
            h AS (SELECT cents, count(*) AS cnt FROM e GROUP BY 1),
            cdf AS (SELECT cents,
                CAST((CAST(sum(cnt) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) * 1000000)
                  // CAST(sum(cnt) OVER () AS BIGINT) AS BIGINT)
                  AS cdf_ppm
              FROM h)
         SELECT e.event_id, e.cents, cdf.cdf_ppm
         FROM e JOIN cdf USING (cents)""",
    "q_quantile_norm_banded" ->
      s"""WITH e AS (SELECT event_id,
                CAST(floor(value * 100) AS BIGINT) // $QnormBandCents
                  AS band
              FROM events WHERE CAST(floor(value * 100) AS BIGINT) >= 0),
            h AS (SELECT band, count(*) AS cnt FROM e GROUP BY 1),
            cdf AS (SELECT band,
                CAST((CAST(sum(cnt) OVER (ORDER BY band
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) * 1000000)
                  // CAST(sum(cnt) OVER () AS BIGINT) AS BIGINT)
                  AS cdf_ppm
              FROM h)
         SELECT e.event_id, e.band, cdf.cdf_ppm
         FROM e JOIN cdf USING (band)""",
    "q_feature_hash" ->
      s"""WITH t AS (SELECT unnest(string_split_regex(lower(text),
                  '${OracleSql.Ws}')) AS w FROM documents),
            b AS (SELECT ${OracleSql.hash60("'fh-' || w")} % 1024
                  AS bucket, w
              FROM t WHERE w <> '')
         SELECT bucket, count(*) AS n_tokens,
                count(DISTINCT w) AS n_terms
         FROM b GROUP BY bucket""",
    "q_class_balance" ->
      s"""WITH d AS (SELECT doc_id, lang,
                ${OracleSql.hash60("'bal-' || CAST(doc_id AS VARCHAR)")}
                  AS hk
              FROM documents),
            m AS (SELECT min(cnt) AS m FROM
              (SELECT count(*) AS cnt FROM d GROUP BY lang)),
            r AS (SELECT doc_id, lang,
                row_number() OVER (PARTITION BY lang
                  ORDER BY hk, doc_id) AS rk
              FROM d)
         SELECT lang, count(*) AS n_kept,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM r, m WHERE rk <= m GROUP BY lang""",
    "q_gini" ->
      """WITH h AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c,
                count(*) AS k
              FROM events WHERE floor(value * 100) >= 1 GROUP BY 1),
            t AS (SELECT c, k,
                CAST(coalesce(sum(k) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS r
              FROM h),
            a AS (SELECT CAST(sum(k) AS BIGINT) AS n,
                CAST(sum(c * k) AS BIGINT) AS s_cents,
                CAST(sum(c * (k * r + k * (k + 1) // 2)) AS BIGINT)
                  AS t_rank
              FROM t)
         SELECT n, s_cents, t_rank,
                2.0 * CAST(t_rank AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(s_cents AS DOUBLE))
                - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
         FROM a""",
    "q_benford" ->
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT)
                  AS cents
              FROM lineitem WHERE floor(l_extendedprice * 100) >= 1),
            d AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit,
                count(*) AS n
              FROM c GROUP BY 1)
         SELECT digit, n,
                CAST((n * 1000000) // CAST(sum(n) OVER () AS BIGINT)
                  AS BIGINT) AS ppm
         FROM d""",
    "q_autocorr" ->
      """WITH ser AS (SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                  AS BIGINT) // count(*) AS BIGINT) AS x
              FROM orders GROUP BY 1),
            p AS (SELECT a.x, b.x AS y
              FROM ser a JOIN ser b ON a.day = b.day + 7),
            m AS (SELECT count(*) AS n,
                CAST(sum(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
                CAST(sum(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS sy,
                CAST(sum(CAST(x * y AS DECIMAL(28,0))) AS DOUBLE) AS sxy,
                CAST(sum(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(y * y AS DECIMAL(28,0))) AS DOUBLE) AS syy
              FROM p)
         SELECT n,
                (sxy / n - (sx / n) * (sy / n)) /
                sqrt((sxx / n - (sx / n) * (sx / n)) *
                     (syy / n - (sy / n) * (sy / n))) AS corr_l7
         FROM m""",
    "q_seasonal" ->
      """WITH ser AS (SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
              FROM orders GROUP BY 1),
          t AS (SELECT day, x,
                  CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS wd,
                  CAST(SUM(x) OVER w AS BIGINT) AS tsum,
                  COUNT(*) OVER w AS tn
                FROM ser
                WINDOW w AS (ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          c AS (SELECT day, x, wd, tsum // 7 AS trend,
                       x - tsum // 7 AS det
                FROM t WHERE tn = 7),
          seas AS (SELECT wd,
                     CAST(SUM(det) AS DOUBLE) / COUNT(*) AS seas
                   FROM c GROUP BY wd)
          SELECT c.day, c.x, CAST(c.trend AS BIGINT) AS trend, c.wd, s.seas,
                 CAST(c.x - c.trend AS DOUBLE) - s.seas AS resid
          FROM c JOIN seas s ON s.wd = c.wd""",
    "q_cusum" ->
      """WITH ser AS (SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS x
              FROM orders GROUP BY 1),
          tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS tot
                  FROM ser),
          c AS (SELECT day,
                  CAST(t.n * SUM(x) OVER (ORDER BY day
                                          ROWS UNBOUNDED PRECEDING)
                       - (ROW_NUMBER() OVER (ORDER BY day)) * t.tot
                    AS BIGINT) AS s,
                  t.n
                FROM ser, tot t)
          SELECT day AS chg_day, CAST(abs(s) AS BIGINT) AS s_abs,
                 n AS n_days
          FROM c ORDER BY abs(s) DESC, day LIMIT 1""",
    "q_nb_train" ->
      s"""WITH toks AS (SELECT lang,
                unnest(string_split_regex(lower(text), '${OracleSql.Ws}'))
                  AS w
              FROM documents),
            cnt AS (SELECT lang, w, count(*) AS cnt FROM toks
              WHERE regexp_full_match(w, '[a-z]+') GROUP BY 1, 2),
            tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot
              FROM cnt GROUP BY 1),
            voc AS (SELECT count(DISTINCT w) AS vocab FROM cnt),
            rk AS (SELECT c.lang, c.w, c.cnt, t.tot,
                row_number() OVER (PARTITION BY c.lang
                  ORDER BY c.cnt DESC, c.w ASC) AS rk
              FROM cnt c JOIN tot t USING (lang))
         SELECT lang, w, cnt, rk,
                CAST(((cnt + 1) * 1000000) // (tot + vocab) AS BIGINT)
                  AS ppm
         FROM rk, voc WHERE rk <= 20""",
    "q_attribution" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
                CAST(floor(value * 100) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, event_id AS click_id, epoch_us(ts)
                  AS click_us
              FROM events WHERE event_type = 'click'),
            j AS (SELECT p.event_id, p.cents, p.tus - c.click_us AS gap_us,
                ROW_NUMBER() OVER (
                  PARTITION BY p.event_id, p.user_id, p.tus
                  ORDER BY c.click_us DESC, c.click_id DESC) AS rn
              FROM p JOIN c USING (user_id) WHERE c.click_us <= p.tus),
            a AS (SELECT CASE WHEN gap_us < 86400000000 THEN '1d'
                       WHEN gap_us < 3 * 86400000000 THEN '3d'
                       ELSE '7d' END AS bucket, cents
              FROM j WHERE rn = 1 AND gap_us <= 7 * 86400000000)
         SELECT bucket, count(*) AS n_attributed,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM a GROUP BY bucket""",
    "q_bpe_step" ->
      s"""WITH w0 AS (SELECT unnest(string_split_regex(lower(text),
                  '${OracleSql.Ws}')) AS w FROM documents),
            words AS (SELECT w, count(*) AS f FROM w0
              WHERE regexp_full_match(w, '[a-z]+') AND length(w) >= 2
              GROUP BY w),
            pairs AS (SELECT substr(w, CAST(i AS INT), 2) AS p,
                CAST(sum(f) AS BIGINT) AS cnt
              FROM words, unnest(range(1, length(w))) t(i)
              GROUP BY 1),
            best AS (SELECT p AS merge_pair, cnt AS pair_count FROM pairs
              ORDER BY cnt DESC, p ASC LIMIT 1)
         SELECT merge_pair, pair_count, count(*) AS vocab_words,
                CAST(sum(f * length(w)) AS BIGINT) AS symbols_before,
                CAST(sum(f * length(replace(w, merge_pair, 'Z')))
                  AS BIGINT) AS symbols_after
         FROM words, best GROUP BY merge_pair, pair_count""",
    "q_kendall" ->
      """WITH h AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                CAST(l_linenumber AS BIGINT) AS y, count(*) AS c
              FROM lineitem GROUP BY 1, 2),
            pq AS (SELECT
                CAST(sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS p_conc,
                CAST(sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS q_disc
              FROM h a JOIN h b
                ON b.x > a.x AND (b.y > a.y OR b.y < a.y)),
            nx AS (SELECT CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS n1
              FROM (SELECT CAST(sum(c) AS BIGINT) AS tx FROM h GROUP BY x)),
            ny AS (SELECT CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS n2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS ty FROM h GROUP BY y)),
            nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h)
         SELECT n, p_conc, q_disc, n1, n2,
                (CAST(p_conc AS DOUBLE) - CAST(q_disc AS DOUBLE)) /
                sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE) *
                     CAST(n * (n - 1) // 2 - n2 AS DOUBLE)) AS tau
         FROM pq, nx, ny, nn""",
    "q_survival" ->
      """WITH u AS (SELECT user_id, event_type,
              CAST(date_diff('day', min(CAST(ts AS DATE)),
                max(CAST(ts AS DATE))) AS BIGINT) AS t,
              max(CAST(ts AS DATE)) AS last_day
            FROM events GROUP BY user_id, event_type),
          mx AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
          bt AS (SELECT t, count(*) AS n_t,
              CAST(sum(CASE WHEN date_diff('day', last_day, max_day) >= 7
                THEN 1 ELSE 0 END) AS BIGINT) AS d_events
            FROM u, mx GROUP BY t)
         SELECT t,
                CAST(sum(n_t) OVER (ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_risk,
                d_events,
                CAST(n_t - d_events AS BIGINT) AS n_censored,
                CAST((d_events * 1000000) // (sum(n_t) OVER (ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  AS BIGINT) AS hazard_ppm
         FROM bt""",
    "q_spearman" ->
      """WITH h AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                CAST(l_linenumber AS BIGINT) AS y, count(*) AS c
              FROM lineitem GROUP BY 1, 2),
            rx AS (SELECT x,
                2 * COALESCE(CAST(sum(t) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) + t + 1 AS rx2
              FROM (SELECT x, CAST(sum(c) AS BIGINT) AS t
                    FROM h GROUP BY x)),
            ry AS (SELECT y,
                2 * COALESCE(CAST(sum(t) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) + t + 1 AS ry2
              FROM (SELECT y, CAST(sum(c) AS BIGINT) AS t
                    FROM h GROUP BY y)),
            m AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                CAST(sum(c * rx2) AS BIGINT) AS sx,
                CAST(sum(c * ry2) AS BIGINT) AS sy,
                CAST(sum(c * rx2 * rx2) AS BIGINT) AS sxx,
                CAST(sum(c * ry2 * ry2) AS BIGINT) AS syy,
                CAST(sum(c * rx2 * ry2) AS BIGINT) AS sxy
              FROM h JOIN rx USING (x) JOIN ry USING (y))
         SELECT n, sxy,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                     (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
         FROM m""",
    "q_ldiversity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
                count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                  AS l_distinct,
                CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0)
                  AS BIGINT)) >= 3 AS INTEGER) AS diverse
         FROM customer GROUP BY c_nationkey, c_mktsegment""",
  )
}
