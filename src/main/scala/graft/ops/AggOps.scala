package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators — the reference's combiner/reducer +
  * "aggregate framework" families, Spark-first.
  *
  * Reference semantics (cited, not copied):
  *  - hash group-by + sum with map-side combiner: WordCount.java:54-68,81
  *  - ValueAggregator families (LONG_VALUE_SUM / MAX / MIN / UNIQ):
  *    AggregateWordCount.java:47-64, LeanAggregateWordCount.java:47-64
  *
  * Catalyst plans every groupBy below as partial HashAggregate →
  * shuffle on the group keys → final HashAggregate, i.e. the combiner
  * pattern is automatic and stays automatic at 1000 executors.
  */
object AggOps {

  /** Order-independent exact sum of a double column, returned as double.
    *
    * Double addition is not associative, so a plain sum(double) differs
    * in final ulps between partition orders (and between Spark and the
    * DuckDB oracle). Summing in DECIMAL is exact and order-independent;
    * casting the exact result back to double is deterministic on both
    * engines. Same cost class at scale: one extra cast in the scan.
    *
    * Scale contract: inputs are rounded to `scale` fractional digits
    * before summing — "exact" means exact at that scale. Keep `scale`
    * well below double precision (≤ ~12 digits total) so Spark and DuckDB
    * round identically; values needing more fractional digits than
    * `scale` lose them. DECIMAL(28,4) headroom: 10^24 — unreachable even
    * summing 10^15 rows of 10^9-sized values, so no overflow-null risk.
    */
  def exactSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Plan-side occupancy guard for the domain-compression family.
    *
    * The rank-statistics operators (Gini, quantile normalization,
    * winsorize, equi-depth binning, Mann-Whitney, KS, ...) run their
    * rank algebra over the per-distinct-value compressed histogram and
    * then broadcast it and/or run an unpartitioned cumulative window
    * over it — valid only while the compressed domain stays small
    * (bounded cents/days domains). On a high-cardinality double column
    * the "compressed" frame approaches the fact table and both the
    * broadcast and the single-partition window degrade SILENTLY.
    *
    * This guard makes the precondition explicit and LOUD: it attaches
    * the compressed frame's row count (one tiny aggregate, broadcast
    * back) and asserts `rows ≤ bound` inside the plan — the job FAILS
    * with the operator's name and remedy the moment the domain
    * outgrows the bound, instead of limping into a degenerate plan.
    * The assert rides a filter predicate (`coalesce(assert_true(...),
    * true)` — always-true for surviving plans), so no output column
    * changes and the optimizer cannot prune it as unused (spec-pinned:
    * an over-bound domain throws, an in-bound one is unchanged).
    * Operators with genuinely unbounded domains use the fixed-width
    * banded variants (q_quantile_norm_banded / q_histogram2d shape),
    * whose occupancy is range/width by construction.
    */
  def domainGuard(compressed: DataFrame, bound: Long, op: String): DataFrame = {
    val n = compressed.agg(count(lit(1)).as("_dom_n"))
    compressed.crossJoin(broadcast(n))
      .filter(coalesce(
        assert_true(col("_dom_n") <= bound,
          lit(s"$op: compressed value domain exceeds $bound rows — the " +
            "domain-compression precondition does not hold for this " +
            "column; use a fixed-width banded variant instead")),
        lit(true)))
      .drop("_dom_n")
  }

  /** Windowed (running) exact sum — same determinism rationale. */
  def exactWindowSum(c: Column, w: org.apache.spark.sql.expressions.WindowSpec,
                     scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).over(w).cast("double")

  /** Generic "value aggregator" — one pass, all families at once:
    * sum/max/min/count per group (LONG_VALUE_SUM, VALUE_MAX, VALUE_MIN,
    * COUNT families of the reference's aggregate framework).
    */
  def valueAggregate(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
      exactSum(col(valueCol)).as("sum_v"),
      max(col(valueCol)).as("max_v"),
      min(col(valueCol)).as("min_v"),
      count(lit(1)).as("cnt"))

  /** Two-phase salted aggregation — the skew-mitigation pattern for hot
    * group keys at 100 TB: rows first aggregate under (key, salt) so a
    * hot key splits across `buckets` reducers, then the per-salt partial
    * sums re-aggregate per key. Sums stay DECIMAL through both phases
    * (exact, associative), so the result is identical to a direct
    * groupBy — which is what the oracle checks. `saltFrom` must be a
    * deterministic column (results never depend on which salt a row got;
    * determinism just keeps runs reproducible).
    */
  def saltedSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
                saltFrom: Column, buckets: Int = 16): DataFrame = {
    val stage1 = df
      .withColumn("_salt", pmod(hash(saltFrom), lit(buckets)))
      .groupBy((groupCols :+ "_salt").map(col): _*)
      .agg(sum(col(valueCol).cast(DecimalType(28, 4))).as("_psum"),
        count(lit(1)).as("_pcnt"))
    stage1.groupBy(groupCols.map(col): _*)
      .agg(sum(col("_psum")).cast("double").as("sum_v"),
        sum(col("_pcnt")).as("cnt"))
  }

  /** UNIQ_VALUE_COUNT family: exact distinct count per group.
    * At 100 TB prefer `approxUniqCount` below (HLL sketch, no exact
    * distinct shuffle); exact kept here because the oracle is exact.
    */
  def uniqCount(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("uniq_v"),
           count(lit(1)).as("cnt"))

  /** Sketch-based distinct count — the 100 TB path for UNIQ: HLL++ with
    * bounded relative error, constant state per group, single shuffle of
    * sketches instead of an exact-distinct expansion. Engine-specific
    * estimates → rows-only oracle check (group keys are stable).
    */
  def approxUniqCount(df: DataFrame, groupCol: String, valueCol: String,
                      rsd: Double = 0.02): DataFrame =
    df.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(valueCol), rsd).as("uniq_est"),
           count(lit(1)).as("cnt"))

  /** VALUE_HISTOGRAM family: bucketed value distribution per group —
    * floor-division bucketing keeps the key space bounded and integer.
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
                bucketWidth: Double): DataFrame =
    df.groupBy(col(groupCol),
        floor(col(valueCol) / bucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))

  /** Histogram quantiles — the deterministic 100 TB quantile: exact
    * equi-width bucket counts (bounded state: one int64 per occupied
    * bucket, trivially mergeable map-side) plus uniform-within-bucket
    * interpolation. Unlike t-digest/approx_percentile the result is a
    * pure function of exact integers and fixed IEEE ops — bit-identical
    * on any partition layout and in the DuckDB twin — and unlike the
    * exact sort-based percentile it never materializes a group's values.
    * The rank target for probability p is ceil(n·p/100); the estimate is
    * the target bucket's lower edge + width·(rank remainder)/bucket
    * count. Resolution is the bucket width — the documented trade.
    */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                         width: Double, pcts: Seq[Int] = Seq(25, 50, 75)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 99) &&
      pcts.distinct.size == pcts.size)
    import org.apache.spark.sql.expressions.Window
    val b = df.groupBy(col(groupCol).as("g"),
        floor(col(valueCol) / width).cast("long").as("bk"))
      .agg(count(lit(1)).as("cnt"))
    val c = b
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("g").orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("g")))
    val ests = pcts.map { p =>
      c.withColumn("tgt", expr(s"(n * $p + 99) div 100"))
        .filter(col("cum") >= col("tgt") && col("cum") - col("cnt") < col("tgt"))
        .select(col("g"),
          (col("bk").cast("double") * width + lit(width) *
            (col("tgt") - (col("cum") - col("cnt"))).cast("double") /
            col("cnt").cast("double")).as(s"p$p"))
    }
    ests.reduce(_.join(_, "g")).withColumnRenamed("g", groupCol)
  }

  /** Per-key skew report — the shuffle doctor: before keying a 100 TB
    * join or aggregation on a column, this surfaces its heavy hitters
    * (top-k keys by row count with exact ppm share of the table) and
    * the key-space size — the numbers that decide between a plain
    * shuffle, a broadcast, salting, or AQE skew handling. One map-side-
    * combined count agg + TakeOrderedAndProject for the top-k + a
    * broadcast 1-row total; k+0 rows out at any table size.
    */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    counts.orderBy(col("cnt").desc, col("key")).limit(k)
      .crossJoin(broadcast(tot))
      .select(col("key"), col("cnt"), col("total"), col("n_keys"),
        expr("cnt * 1000000 div total").as("frac_ppm"))
  }

  /** Order-independent table content digest — the cross-system migration
    * check ("does the copy hold exactly these rows?"): each row's listed
    * columns canonicalize to a `|`-joined string, hash through the
    * portable 60-bit digest, and fold with XOR — commutative and
    * associative, so the digest is identical on any partition layout,
    * row order, or engine, with no overflow to manage. One map-side-
    * combined aggregation, one 3-column row out at any table size.
    * Caller lists int/string columns only (float formatting is not
    * cross-engine canonical); columns must be non-null (concat_ws skips
    * nulls, which would alias rows differing only in null position).
    */
  def tableDigest(df: DataFrame, table: String,
                  cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    df.select(TextOps.hash60(
        concat_ws("|", cols.map(c => col(c).cast("string")): _*)).as("h"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_digest"))
      .select(lit(table).as("tbl"), col("n_rows"), col("xor_digest"))
  }

  /** Single-pass column profiler — the ANALYZE-TABLE statistics pass
    * (null counts, NDV, numeric ranges) a planner or data-quality gate
    * consumes. ALL columns profile in ONE aggregation over one scan
    * (Catalyst plans the multi-distinct via one expand — still a single
    * pass over the data, one exchange), then the stats row unpivots to
    * a row per column. Numeric ranges surface as doubles (exact cast of
    * parquet-read values, no arithmetic); non-numeric columns leave
    * them null. Output rows = |columns| at any table size.
    *
    * `approxNdv`: exact NDV makes Catalyst plan the N distinct
    * aggregates via one Expand that multiplies scan rows ×(N+1) and
    * feeds a full exact-distinct shuffle per column — the classic
    * ANALYZE killer at 100 TB. With `approxNdv = true` the NDV column
    * is `approx_count_distinct` (HLL++, default 5% rsd): partial-
    * mergeable sketch state, genuinely ONE pass with NO Expand — the
    * scale default. Exact stays the oracle-checked twin (the
    * `q_agg_uniq_approx` registration precedent).
    */
  def profile(df: DataFrame, cols: Seq[String],
              approxNdv: Boolean = false): DataFrame = {
    require(cols.nonEmpty)
    val numeric = cols.filter(c => df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }).toSet
    val ndv: String => org.apache.spark.sql.Column =
      if (approxNdv) c => approx_count_distinct(col(c))
      else c => countDistinct(col(c))
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"n_$c"),
        ndv(c).as(s"nd_$c"),
        (if (numeric(c)) min(col(c)).cast("double")
         else lit(null).cast("double")).as(s"mn_$c"),
        (if (numeric(c)) max(col(c)).cast("double")
         else lit(null).cast("double")).as(s"mx_$c"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val rows = cols.map(c => struct(
      lit(c).as("col_name"), col("n_rows").as("n_rows"),
      col(s"n_$c").as("n_non_null"), col(s"nd_$c").as("n_distinct"),
      col(s"mn_$c").as("min_num"), col(s"mx_$c").as("max_num")))
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_name"), col("r.n_rows"), col("r.n_non_null"),
        (col("r.n_rows") - col("r.n_non_null")).as("n_null"),
        col("r.n_distinct"), col("r.min_num"), col("r.max_num"))
  }

  // ---- Incremental aggregate maintenance (insert-only IVM) ----

  /** Per-key aggregate STATE for incremental maintenance: every field
    * is a commutative monoid (count/sum add, min/max lattice-join), so
    * states merge associatively — the explicit user-level form of
    * Spark's own partial aggregation, and the contract a materialized
    * aggregate view needs to absorb a delta batch without rescanning
    * the base.
    *
    * Sum rides DECIMAL (exact, order-independent); avg is deliberately
    * NOT state — it's derived at read time (sum/cnt), the standard IVM
    * decomposition of non-monoid aggregates into monoid parts.
    */
  def aggState(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key)).agg(
      count(lit(1)).as("cnt"),
      sum(col(valueCol).cast(DecimalType(28, 4))).as("sum_v"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"))

  /** Merge aggregate states: re-aggregate the union of state rows with
    * each monoid's own combine. Cost is |keys in a| + |keys in b| state
    * rows — NEVER the base table: a nightly delta against a petabyte
    * base touches only the delta scan plus this state-sized merge.
    * Insert-only by design: deletes would need negative counts (fine
    * for cnt/sum) but break min/max without auxiliary per-key
    * structures — the classic IVM caveat, documented not hidden.
    */
  def mergeAggStates(a: DataFrame, b: DataFrame, key: String): DataFrame =
    a.unionByName(b).groupBy(col(key)).agg(
      sum(col("cnt")).as("cnt"),
      sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"))

  /** RETRACTION merge — the delete half of incremental aggregate
    * maintenance ([[mergeAggStates]] documents why it is insert-only):
    * cnt and sum are group monoids with inverses, so a deleted slice's
    * state subtracts exactly (state-sized work, base never rescanned);
    * min/max have NO inverse — retracting the current extremum needs
    * the runner-up, which the state does not hold — so the retractable
    * view carries (cnt, sum, avg) ONLY, by contract rather than by a
    * silently-stale column. Keys whose every row was deleted leave the
    * state (cnt 0 filtered); a retraction exceeding the insertions
    * throws — it means the delta was mis-scoped, never a valid state.
    */
  def retractAggStates(prev: DataFrame, deleted: DataFrame,
                       key: String): DataFrame = {
    val merged = prev
      .unionByName(deleted.select(col(key), (-col("cnt")).as("cnt"),
        (-col("sum_v")).as("sum_v")), allowMissingColumns = true)
      .groupBy(col(key)).agg(
        sum("cnt").as("cnt"), sum("sum_v").as("sum_v"))
    merged
      .filter(coalesce(
        assert_true(col("cnt") >= 0,
          concat(lit("retraction exceeds insertions for key "),
            col(key).cast("string"))),
        lit(true)))
      .filter(col("cnt") > 0)
      .select(col(key), col("cnt"),
        col("sum_v").cast("double").as("sum_v"),
        (col("sum_v").cast("double") / col("cnt")).as("avg_v"))
  }

  /** Read-time view over a state: derived avg, double-cast sum. */
  def aggStateView(state: DataFrame, key: String): DataFrame =
    state.select(col(key), col("cnt"),
      col("sum_v").cast("double").as("sum_v"),
      col("min_v"), col("max_v"),
      (col("sum_v").cast("double") / col("cnt")).as("avg_v"))

  /** Grouped simple linear regression (y on x) from exact moments —
    * slope, intercept, r² per group in ONE map-side-combined pass.
    * Deliberately NOT the built-in regr_slope/regr_intercept: those sum
    * doubles (order-dependent at scale); here every moment rides an
    * exact sum (BIGINT for integral x, DECIMAL for y and products), and
    * only the FINAL closed-form arithmetic runs in IEEE — identical in
    * any engine given identical exact moments. `x` must be integral
    * (cast exact); y of fixed decimal scale.
    */
  def groupedRegression(df: DataFrame, groupCol: String,
                        xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("bigint")
    val m = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"),
      sum(x * x).as("sxx"),
      sum(col(yCol).cast(DecimalType(28, 4))).as("sy_d"),
      sum((x * col(yCol)).cast(DecimalType(28, 4))).as("sxy_d"),
      sum((col(yCol) * col(yCol)).cast(DecimalType(28, 8))).as("syy_d"))
    val (n, sx, sxx) = (col("n").cast("double"), col("sx").cast("double"),
      col("sxx").cast("double"))
    val sy = col("sy_d").cast("double")
    val sxy = col("sxy_d").cast("double")
    val syy = col("syy_d").cast("double")
    val covN = n * sxy - sx * sy   // n²·cov
    val varxN = n * sxx - sx * sx  // n²·var(x)
    val varyN = n * syy - sy * sy
    m.select(col(groupCol), col("n"),
      (covN / varxN).as("slope"),
      ((sy - (covN / varxN) * sx) / n).as("intercept"),
      ((covN * covN) / (varxN * varyN)).as("r2"))
  }

  /** Welch two-sample t-test (unequal variances) between two groups,
    * from exact moments: counts and DECIMAL sums/sum-of-squares
    * accumulate order-independently in ONE map-side-combined pass (1
    * state row out at any scale), then mean/variance/t/dof are a fixed
    * closed-form IEEE expression tree over identical doubles — the
    * [[groupedRegression]] determinism contract. The oracle mirrors the
    * exact association order, so every correctly-rounded IEEE step
    * lands on the same bits. Output one row:
    * (n_a, n_b, mean_a, mean_b, t_stat, dof) with Welch–Satterthwaite
    * degrees of freedom.
    */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    val v = col(valueCol)
    val m = df.filter(isA || isB).agg(
      sum(when(isA, 1L)).as("cnt_a"),
      sum(when(isB, 1L)).as("cnt_b"),
      sum(when(isA, v.cast(DecimalType(28, 4)))).as("sa_d"),
      sum(when(isB, v.cast(DecimalType(28, 4)))).as("sb_d"),
      sum(when(isA, (v * v).cast(DecimalType(28, 8)))).as("saa_d"),
      sum(when(isB, (v * v).cast(DecimalType(28, 8)))).as("sbb_d"))
    val na = col("cnt_a").cast("double")
    val nb = col("cnt_b").cast("double")
    val sa = col("sa_d").cast("double")
    val sb = col("sb_d").cast("double")
    val saa = col("saa_d").cast("double")
    val sbb = col("sbb_d").cast("double")
    val ma = sa / na
    val mb = sb / nb
    val va = (saa - sa * sa / na) / (na - 1)
    val vb = (sbb - sb * sb / nb) / (nb - 1)
    val sea = va / na
    val seb = vb / nb
    val se2 = sea + seb
    m.select(col("cnt_a").as("n_a"), col("cnt_b").as("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      ((ma - mb) / sqrt(se2)).as("t_stat"),
      (se2 * se2 / (sea * sea / (na - 1) + seb * seb / (nb - 1))).as("dof"))
  }

  /** Grouped z-score outlier report: rows whose squared deviation from
    * the group mean exceeds (zThreshold·σ)² — compared in the squared
    * domain, so no sqrt enters the decision. Two passes over the data
    * by necessity (the mean must exist before deviations do), but pass
    * one reduces to |groups| moment rows broadcast back into pass two's
    * map-side filter — the group stats never shuffle the fact rows.
    * Moments are exact sums; the threshold arithmetic is closed-form
    * IEEE on identical inputs — engine-exact boundaries.
    */
  /** MODE family: deterministic most-frequent value per group. Ties are
    * broken toward the smallest value, so any engine elects the same
    * winner. The fact rows shuffle once as (group, value) pairs with
    * map-side combine; the argmax pass then sees only
    * |distinct (group, value)| rows — both stages hold constant state
    * per key, the 100 TB shape.
    */
  def modeOf(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(groupCol))
      .agg(max_by(struct(col("cnt"), col(valueCol).as("v")),
        struct(col("cnt"), negate(col(valueCol)))).as("w"))
      .select(col(groupCol), col("w.v").as("mode_v"), col("w.cnt").as("cnt"))

  /** Chi-square statistic of independence for two categorical columns,
    * from the contingency table. Cell and margin counts are exact
    * longs; each cell's (o−e)²/e term is one fixed IEEE expression of
    * those counts (e = ra·cb/n in double), so the oracle reproduces
    * every term bit-for-bit; terms sum in DECIMAL(28,8) for
    * order-independence. The margins are |A| and |B| rows — broadcast —
    * and the fact rows shuffle exactly once to build the cells.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col(aCol)).agg(sum("o").as("ra"))
    val colT = cells.groupBy(col(bCol)).agg(sum("o").as("cb"))
    val tot = cells.agg(sum("o").as("n"),
      ((countDistinct(col(aCol)) - 1) * (countDistinct(col(bCol)) - 1)).as("dof"))
    // The grid is the full margin cross product, NOT the observed cells:
    // a structural zero (o = 0, e > 0) still contributes e to the
    // statistic, and groupBy never materializes it. Margin tables are
    // |A| and |B| rows, so the cross join is margins-sized.
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq(aCol, bCol), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val e = col("ra").cast("double") * col("cb").cast("double") / col("n").cast("double")
    val o = col("o").cast("double")
    grid.crossJoin(broadcast(tot))
      .select((((o - e) * (o - e)) / e).cast(DecimalType(28, 8)).as("term"), col("dof"))
      .groupBy(col("dof"))
      .agg(sum(col("term")).cast("double").as("chi2"))
      .select(col("chi2"), col("dof"))
  }

  /** Exact φ-heavy-hitters with sketch-bounded shuffle — keys holding at
    * least 1/k of all rows. Phase 1 runs a Misra-Gries frequent-items
    * summary of `cap = 8·k` counters inside each partition and emits
    * every summarized key. The candidate cover is UNCONDITIONAL — no
    * partition-size/skew assumption: each decrement-all event retires
    * cap+1 row-instances, so partition p runs at most N_p/(cap+1)
    * decrements, and a key ABSENT from p's final summary has local
    * count ≤ N_p/(cap+1). A non-candidate key is absent from EVERY
    * partition's summary, so its global count ≤ Σ_p N_p/(cap+1) =
    * n/(8k+1) < n/k — it cannot be 1/k-heavy, whatever the partition
    * layout (spec-pinned with a 100×-skewed layout in AggOpsSpec).
    * Eviction is the
    * decrement-all step, NOT a per-miss min scan: one O(cap) sweep
    * frees every count-1 slot at once, so on unique-heavy streams the
    * sweep amortizes to O(1) per row (the per-miss min-scan variant
    * measured 60+ s on the mostly-unique bench fixture — the sweep
    * runs the same fixture in ~1 s). Phase 2 semi-joins the broadcast
    * candidates and counts exactly — only candidate-key rows ever
    * shuffle, and the final filter `cnt·k ≥ n` re-derives heaviness
    * from exact counts, so the nondeterministic sketch intermediate
    * cannot leak into the result. At 100 TB: the full key domain never
    * shuffles and per-partition state is a fixed 8k-entry map.
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"heaviness denominator must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val cap = 8 * k
    val cands = df.select(col(keyCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val m = scala.collection.mutable.LongMap.empty[Long]
        it.foreach { key =>
          m.get(key) match {
            case Some(c)              => m.update(key, c + 1L)
            case None if m.size < cap => m.update(key, 1L)
            case None =>
              // Misra-Gries decrement-all: every counter drops by 1
              // (the incoming key's implicit 1 cancels to 0 → it is
              // not inserted unless the sweep freed a slot).
              val ks = m.keys.toArray
              var i = 0
              while (i < ks.length) {
                val kk = ks(i); val vv = m(kk)
                if (vv <= 1L) m.subtractOne(kk) else m.update(kk, vv - 1L)
                i += 1
              }
          }
        }
        m.keys.toArray.iterator
      }.toDF(keyCol).distinct()
    val n = df.agg(count(lit(1)).as("n"))
    df.join(broadcast(cands), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * k >= col("n"))
      .select(col(keyCol), col("cnt"))
  }

  /** Frequent co-occurring item pairs (market-basket support): unordered
    * (p1 < p2) pairs of items sharing a basket, counted across baskets,
    * thresholded and top-k'd with a total-order tie-break. The pair
    * expansion is a self-join on the basket key, so its output is
    * Σ L_b² over per-basket line counts — bounded per basket (TPC-H-like
    * baskets hold ≤7 lines), never global-quadratic. Shuffles: one on
    * the basket key (both join sides reuse the same exchange), one on
    * the pair key with map-side combine.
    */
  def coOccurrence(df: DataFrame, basketCol: String, itemCol: String,
                   minSupport: Long = 2L, topK: Int = 50): DataFrame = {
    val items = df.select(col(basketCol).as("bk"), col(itemCol).as("p1")).distinct()
    items.join(items.withColumnRenamed("p1", "p2"), Seq("bk"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(topK)
  }

  /** Mergeable-sketch algebra: per-day HLL sketches of distinct keys,
    * unioned into per-month estimates WITHOUT re-touching fact rows —
    * the pre-aggregated rollup pattern that makes 100 TB distinct
    * counting incremental (persist daily sketch bytes once; any rollup
    * window is a union of sketches, not a rescan). Estimates are
    * approximate → registered rows-only; the spec pins the relative
    * error against exact distinct counts.
    */
  def sketchRollup(df: DataFrame, tsCol: String, keyCol: String): DataFrame =
    df.select(date_trunc("day",
        timestamp_micros(EventOps.microsOf(df, tsCol))).as("d"),
        col(keyCol).as("k"))
      .groupBy("d").agg(hll_sketch_agg(col("k")).as("sk"))
      .groupBy(date_trunc("month", col("d")).as("m"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_keys"))
      .orderBy("m")

  // ---- portable deterministic HyperLogLog registers ----

  /** HLL shape shared with the oracle: 64 buckets (6 hash bits), rank
    * window 32 bits → register values in [1, 33].
    */
  val HllBuckets = 64
  val HllWidth = 32

  /** Per-bucket HLL REGISTERS of a key column — the PORTABLE sketch
    * twin of [[approxUniqCount]]'s engine-native HLL++: bucket =
    * hash60 mod 64, register = max over the bucket's keys of
    * rho = (leading zeros of the next 32 hash bits) + 1. rho is
    * computed as 33 − Σ_{i<32} [rest ≥ 2^i] — a comparison-indicator
    * sum, no libm log2 — so registers are exact int64s both engines
    * and any partition layout reproduce bit-for-bit. That portability
    * is the point: unlike HLL++'s opaque binary sketches, the register
    * TABLE is itself oracle-checkable AND mergeable by per-bucket max
    * — the algebra ([[hllMergeIncremental]]) every distributed
    * count-distinct rollup runs on. 64 rows out regardless of input
    * size; one keyed exchange, map-side combined.
    */
  def hllRegisters(df: DataFrame, key: String): DataFrame =
    df.filter(col(key).isNotNull)
      .select(hllBucketOf(col(key)).as("bucket"), hllRhoOf(col(key)).as("rho"))
      .groupBy("bucket").agg(max("rho").as("reg"))

  /** Bucket expression: hash60 mod 64 — shared by the batch register
    * build and the streaming windowed-register state
    * ([[graft.streaming.StreamOps]]).
    */
  def hllBucketOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    TextOps.hash60(concat(lit("hll-"), key.cast("string"))) % HllBuckets

  /** Rank expression: rho = 33 − Σ_{i<32} [rest ≥ 2^i] over the next 32
    * hash bits — the comparison-indicator form (no libm log2), exact in
    * any engine.
    */
  def hllRhoOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = TextOps.hash60(concat(lit("hll-"), key.cast("string")))
    // h div 64 then mod 2^32 as exact bit ops (h ≥ 0): a double-routed
    // `/` would lose exactness above 2^53.
    val rest = shiftright(h, 6).bitwiseAND(lit(4294967295L))
    lit((HllWidth + 1).toLong) -
      (0 until HllWidth).map(i =>
        when(rest >= lit(1L << i), 1L).otherwise(0L)).reduce(_ + _)
  }

  /** Mergeable sketch ROLLUP on portable registers — the FULL-oracle
    * twin of [[sketchRollup]] (which stays rows-only because HLL++
    * binary sketches are engine-specific): per-day register tables
    * roll up to monthly ones by per-bucket max — rollups re-touch
    * 64-row sketches, not fact rows, exactly the incremental 100 TB
    * distinct-count pattern — and because the registers are the
    * portable comparison-indicator form, the ENTIRE rollup output
    * hash-matches across engines. Output: (m, bucket, reg) per month.
    */
  def portableSketchRollup(df: DataFrame, tsCol: String,
                           keyCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .select(date_trunc("month",
          timestamp_micros(EventOps.microsOf(df, tsCol))).as("m"),
        date_trunc("day",
          timestamp_micros(EventOps.microsOf(df, tsCol))).as("d"),
        hllBucketOf(col(keyCol)).as("bucket"),
        hllRhoOf(col(keyCol)).as("rho"))
      .groupBy("m", "d", "bucket").agg(max("rho").as("reg"))
      .groupBy("m", "bucket").agg(max("reg").as("reg"))
      .select(unix_micros(col("m")).as("m_us"), col("bucket"), col("reg"))

  /** Persist the register table for a corpus snapshot — the
    * persisted-artifact discipline (DedupOps.writeMinhashIndex) for
    * cardinality sketches: 64 rows of state summarize the whole
    * corpus's distinct-key structure, and any future batch can be
    * folded in without re-reading the corpus.
    */
  def writeHllRegisters(df: DataFrame, key: String, path: String): Unit =
    hllRegisters(df, key).write.mode("overwrite").parquet(path)

  /** Incremental sketch MERGE against persisted registers — the
    * O(arrivals) daily loop for count-distinct monitoring: arrivals
    * build their own 64-row register table; the merge is a per-bucket
    * max against the stored one (HLL's union algebra — max commutes,
    * associates, and is idempotent, so replayed appends and
    * out-of-order batches cannot corrupt the sketch; the base read
    * re-maxes per bucket to tolerate appended register generations).
    * Output per bucket: (bucket, reg_base, reg_arrivals, reg_merged),
    * absent sides as 0 — the merged column IS the updated artifact a
    * maintenance job would write back.
    */
  def hllMergeIncremental(arrivals: DataFrame, key: String,
                          path: String): DataFrame = {
    val spark = arrivals.sparkSession
    val base = Tables.parquet(spark, path)
      .groupBy("bucket").agg(max("reg").as("rb"))
    val arr = hllRegisters(arrivals, key)
      .select(col("bucket"), col("reg").as("ra"))
    base.join(arr, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("rb"), lit(0L)).as("reg_base"),
        coalesce(col("ra"), lit(0L)).as("reg_arrivals"),
        greatest(coalesce(col("rb"), lit(0L)), coalesce(col("ra"), lit(0L)))
          .as("reg_merged"))
  }

  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     idCol: String, zThreshold: Double = 3.0): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol).cast(DecimalType(28, 4))).as("sv_d"),
      sum((col(valueCol) * col(valueCol)).cast(DecimalType(28, 8))).as("svv_d"))
      .select(col(groupCol), col("n"),
        (col("sv_d").cast("double") / col("n")).as("mean"),
        (col("svv_d").cast("double") / col("n") -
          (col("sv_d").cast("double") / col("n")) *
          (col("sv_d").cast("double") / col("n"))).as("variance"))
    val dev = col(valueCol) - col("mean")
    df.join(broadcast(stats), Seq(groupCol))
      .filter(dev * dev > lit(zThreshold * zThreshold) * col("variance"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_outliers"),
        sum(col(idCol)).as("sum_outlier_ids"),
        min(col(valueCol)).as("min_outlier"),
        max(col(valueCol)).as("max_outlier"))
  }
}
