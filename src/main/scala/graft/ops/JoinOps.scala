package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators.
  *
  * Reference semantics (cited, not copied): the single join in the
  * reference is a reduce-side tagged inner equi-join — mapper tags rows
  * by source path, composite key (k, tag), partition on k, group on k,
  * secondary sort on tag (LeanJoin.java:56-100, TextPair.java:10-60,
  * KeyPartition.java:13-17, CommonReduce.java:15-25). All of that
  * machinery is what Spark's shuffled sort-merge/hash join does natively;
  * the tag disappears because the planner knows both sides.
  *
  * Scale notes: equi-joins shuffle both sides on the key unless one side
  * is broadcast. `dimJoin` forces broadcast for small dimension tables so
  * the 100 TB fact side never moves. AQE (enabled in the session) handles
  * skewed keys by splitting oversized partitions at runtime.
  */
object JoinOps {

  def inner(l: DataFrame, r: DataFrame, cond: Column): DataFrame = l.join(r, cond, "inner")

  /** EXISTS — reference had no semi join; strict superset. */
  def semi(l: DataFrame, r: DataFrame, cond: Column): DataFrame = l.join(r, cond, "left_semi")

  /** NOT EXISTS. */
  def anti(l: DataFrame, r: DataFrame, cond: Column): DataFrame = l.join(r, cond, "left_anti")

  /** Fact ⋈ small dim: broadcast the dim so the fact side never shuffles. */
  def dimJoin(fact: DataFrame, dim: DataFrame, cond: Column,
              joinType: String = "inner"): DataFrame =
    fact.join(broadcast(dim), cond, joinType)

  /** Salted equi-join — the skew-mitigation pattern for hot join keys at
    * 100 TB: the fact side gets a deterministic salt in [0, buckets), the
    * (smaller) right side is replicated once per salt value, and the join
    * runs on (key, salt) so one hot key spreads across `buckets` reducers
    * instead of melting a single one. Results are identical to the plain
    * join (which is what the oracle checks); `saltFrom` must be
    * deterministic so runs are reproducible. AQE's skew-join split is the
    * runtime alternative; explicit salting is the plan-level guarantee
    * for known-skewed keys, at the cost of a `buckets`× blow-up of the
    * replicated side.
    */
  def saltedJoin(fact: DataFrame, right: DataFrame, key: String,
                 saltFrom: Column, buckets: Int = 8): DataFrame = {
    // withColumn would silently REPLACE a caller's _salt column and then
    // drop it from the output — fail fast instead.
    require(!fact.columns.contains("_salt") && !right.columns.contains("_salt"),
      "saltedJoin reserves the column name _salt")
    val f = fact.withColumn("_salt", pmod(hash(saltFrom), lit(buckets)))
    val r = right.withColumn("_salt",
      explode(array((0 until buckets).map(lit): _*)))
    f.join(r, Seq(key, "_salt")).drop("_salt")
  }

  /** As-of join (Spark has no native one): for every left row, the single
    * most recent right row with rightTime ≤ leftTime on the same key.
    *
    * Union-merge formulation: both sides are unioned into one
    * time-ordered stream per key and the right payload is carried
    * forward with last(ignoreNulls) over a running row frame. ONE key
    * shuffle + one in-partition sort, and — unlike the equi-join +
    * row_number plan — never materializes the (left row × every earlier
    * right row) intermediate, which explodes when keys have long right
    * histories (the classic as-of scale trap). The right payload rides
    * as a single struct so all its fields come from the SAME right row.
    *
    * Ordering: right rows sort before left rows at equal time
    * (rightTime ≤ leftTime is inclusive); ties between right rows are
    * broken by rightTieBreak asc, so the carried row is the max
    * (rightTime, rightTieBreak) — deterministic across partitionings
    * and engines. Left rows with no prior right row are dropped (inner
    * as-of semantics). (rightTime, rightTieBreak) must totally order
    * the right rows of a key.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightTieBreak: String): DataFrame = {
    val (u, rCols) = asofUnion(left, right, key, leftTime, rightTime, rightTieBreak)
    val w = Window.partitionBy(key)
      .orderBy(col("_t").asc, col("_is_l").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_is_l") === 1 && col("_r").isNotNull)
    filled.select(left.columns.map(col).toSeq ++
      rCols.map(c => col("_r").getField(c).as(c)): _*)
  }

  /** Both sides unioned into one per-key stream for the union-merge
    * as-of family: left rows carry a null `_r` payload, right rows a
    * struct of all their non-key columns. `_is_l` disambiguates sides
    * at equal time, `_tb` totally orders right rows within a timestamp.
    */
  private def asofUnion(left: DataFrame, right: DataFrame, key: String,
                        leftTime: String, rightTime: String,
                        rightTieBreak: String): (DataFrame, Seq[String]) = {
    val rCols = right.columns.filterNot(_ == key).toSeq
    val lU = left.select(
      col(key) +: left.columns.filterNot(_ == key).map(col).toSeq ++: Seq(
        col(leftTime).as("_t"), lit(1).as("_is_l"),
        lit(null).cast("long").as("_tb"),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          rCols.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType, nullable = true)))).as("_r")): _*)
    val rU = right.select(
      col(key) +: left.columns.filterNot(_ == key).map(c =>
        lit(null).cast(left.schema(c).dataType).as(c)).toSeq ++: Seq(
        col(rightTime).as("_t"), lit(0).as("_is_l"),
        col(rightTieBreak).cast("long").as("_tb"),
        struct(rCols.map(col): _*).as("_r")): _*)
    (lU.unionByName(rU), rCols)
  }

  /** Forward as-of join: for every left row, the single EARLIEST right
    * row with rightTime ≥ leftTime on the same key (inclusive) — the
    * "next event after" direction. Same union-merge shape as
    * [[asofJoin]] (one key shuffle, one in-partition sort, no
    * left×history intermediate); the window simply looks forward, with
    * left rows sorting BEFORE right rows at equal time so an equal-time
    * right row is still eligible. Right-row ties at one timestamp
    * resolve to the min tie-break (the mirror of backward's max).
    * Inner semantics: left rows with no following right row are dropped.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftTime: String, rightTime: String,
                      rightTieBreak: String): DataFrame = {
    val (u, rCols) = asofUnion(left, right, key, leftTime, rightTime, rightTieBreak)
    val w = Window.partitionBy(key)
      .orderBy(col("_t").asc, col("_is_l").desc, col("_tb").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = u
      .withColumn("_r", first(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_is_l") === 1 && col("_r").isNotNull)
    filled.select(left.columns.map(col).toSeq ++
      rCols.map(c => col("_r").getField(c).as(c)): _*)
  }

  /** Nearest as-of join: the closer of the backward and forward
    * matches, backward preferred on exact distance ties (the pandas
    * merge_asof direction='nearest' contract). One key shuffle; the two
    * window passes (backward last + forward first) reuse the same
    * partitioning, so the second window adds only an in-partition
    * re-sort, not an exchange. Inner semantics: left rows with no right
    * row on either side are dropped.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      leftTime: String, rightTime: String,
                      rightTieBreak: String): DataFrame = {
    val (u, rCols) = asofUnion(left, right, key, leftTime, rightTime, rightTieBreak)
    val wB = Window.partitionBy(key)
      .orderBy(col("_t").asc, col("_is_l").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(key)
      .orderBy(col("_t").asc, col("_is_l").desc, col("_tb").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = u
      .withColumn("_rb", last(col("_r"), ignoreNulls = true).over(wB))
      .withColumn("_rf", first(col("_r"), ignoreNulls = true).over(wF))
      .filter(col("_is_l") === 1 &&
        (col("_rb").isNotNull || col("_rf").isNotNull))
    val dB = col("_t") - col("_rb").getField(rightTime)
    val dF = col("_rf").getField(rightTime) - col("_t")
    val chosen = when(col("_rb").isNull, col("_rf"))
      .when(col("_rf").isNull, col("_rb"))
      .when(dF < dB, col("_rf"))
      .otherwise(col("_rb"))
    filled.withColumn("_r", chosen)
      .select(left.columns.map(col).toSeq ++
        rCols.map(c => col("_r").getField(c).as(c)): _*)
  }

  /** Interval-overlap self-join: pairs of intervals from DIFFERENT keys
    * that overlap in time (inclusive endpoints) — concurrent sessions,
    * calendar conflicts, reservation clashes. The scale shape is the
    * bucket decomposition again: each interval explodes to the time
    * buckets it covers, overlapping intervals provably share at least
    * one bucket (their intersection lies in both cover sets), so the
    * pair generator is a plain equi-join on the bucket — never an
    * inequality cross join. Pairs spanning several shared buckets dedup
    * with one DISTINCT. Bucket width trades fan-out (long intervals →
    * many buckets) against bucket occupancy (hot buckets → quadratic
    * within); size it near the typical interval length.
    *
    * Output: (k_a, id_a, k_b, id_b, overlap_us), k_a < k_b.
    */
  def intervalOverlapJoin(iv: DataFrame, key: String, idCol: String,
                          startCol: String, endCol: String,
                          bucketUs: Long): DataFrame = {
    def side(sfx: String) = iv.select(
      col(key).as(s"k_$sfx"), col(idCol).as(s"id_$sfx"),
      col(startCol).as(s"s_$sfx"), col(endCol).as(s"e_$sfx"),
      explode(expr(
        s"sequence($startCol div $bucketUs, $endCol div $bucketUs)"))
        .as(s"bk_$sfx"))
    side("a").join(side("b"),
        col("bk_a") === col("bk_b") && col("k_a") < col("k_b") &&
          col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      .select(col("k_a"), col("id_a"), col("k_b"), col("id_b"),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b"))).as("overlap_us"))
      .distinct()
  }

  /** Banded range self-join: pairs of rows on the same key whose times
    * are within `widthUs`, earlier row first (ties by id). The classic
    * time-bucket decomposition keeps it scale-safe: the earlier side is
    * keyed by its bucket, the later side fans out to (bucket, bucket−1),
    * so the join is a plain equi-join on (key, bucket) and no row ever
    * meets more than two buckets — never an inequality cross join.
    */
  def rangeSelfJoin(df: DataFrame, key: String, timeCol: String,
                    idCol: String, widthUs: Long): DataFrame = {
    val a = df.select(col(key), col(idCol).as("id_a"), col(timeCol).as("t_a"))
      .withColumn("bucket", expr(s"t_a div $widthUs"))
    val b = df.select(col(key), col(idCol).as("id_b"), col(timeCol).as("t_b"))
      .withColumn("bucket", explode(array(
        expr(s"t_b div $widthUs"), expr(s"t_b div $widthUs - 1"))))
    // No dedup needed: for 0 ≤ t_b−t_a ≤ width the bucket delta is 0 or 1,
    // so each qualifying pair matches on exactly one of b's two keys.
    a.join(b, Seq(key, "bucket"))
      .filter((col("t_b") > col("t_a") ||
        (col("t_b") === col("t_a") && col("id_b") > col("id_a"))) &&
        col("t_b") - col("t_a") <= widthUs)
      .select(col(key), col("id_a"), col("id_b"),
        (col("t_b") - col("t_a")).as("dt_us"))
  }

  /** Persist the base JOIN VIEW for incremental maintenance
    * ([[ivmJoinDelta]]): V = π(O_base ⋈ L_base) written once per
    * snapshot. The expensive base×base join runs exactly here — every
    * later refresh reads this parquet instead of recomputing it. Both
    * inputs must carry the join key `o_orderkey`/`l_orderkey`.
    */
  def writeJoinView(oBase: DataFrame, lBase: DataFrame,
                    path: String): Unit =
    joinViewRows(oBase, lBase)
      .write.mode("overwrite").parquet(path)

  /** The view's row shape — shared by the base write and every delta
    * term (including the streaming maintenance loop) so stored and
    * freshly-derived rows union loss-free.
    */
  private[graft] def joinViewRows(o: DataFrame, l: DataFrame): DataFrame =
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("l_returnflag"), col("l_quantity"), col("o_totalprice"))

  /** Incremental JOIN-view maintenance — the delta-rule refresh every
    * warehouse runs nightly: for V = O ⋈ L split into base + arrivals,
    *
    *   ΔV = ΔO ⋈ L_base  ∪  O_base ⋈ ΔL  ∪  ΔO ⋈ ΔL
    *
    * and V_new = stored(V_base) ∪ ΔV. The 100 TB shape: the stored view
    * is READ, never recomputed; each delta term has one day-sized side
    * that broadcasts, so the corpus-sized base relations are scanned
    * once and never shuffled — refresh cost is O(arrivals + base scan),
    * not O(base ⋈ base). Returns the refreshed view rows; the
    * registered query digests them so the oracle (the full join over
    * the unsplit tables) pins incremental ≡ full exactly.
    */
  def ivmJoinRefresh(oBase: DataFrame, oDelta: DataFrame,
                     lBase: DataFrame, lDelta: DataFrame,
                     viewPath: String): DataFrame = {
    val spark = oBase.sparkSession
    val stored = Tables.parquet(spark, viewPath)
    val delta = joinViewRows(broadcast(oDelta), lBase)
      .unionByName(joinViewRows(oBase, broadcast(lDelta)))
      .unionByName(joinViewRows(broadcast(oDelta), lDelta))
    stored.unionByName(delta)
  }

  /** Hybrid hot/cold skew join — the plan-level skew answer when the
    * dim side is too big to broadcast WHOLE but the fact side's skew
    * mass sits on a handful of keys: an exact key-count over the facts
    * (map-side combined, key-domain sized) names the hot keys
    * (share ≥ 1/`hotDen` of all fact rows, so at most `hotDen` of
    * them — bounded and tiny); the hot fact slice joins a BROADCAST of the
    * dim's hot sliver, the cold remainder takes the ordinary shuffle
    * join (pinned with a merge hint so the plan is honest about the
    * non-broadcastable dim), and the union is exactly the plain join —
    * which is what the oracle checks. The skew mass never enters the
    * shuffle, so no reducer melts; the alternative salting pattern
    * ([[saltedJoin]]) pays a buckets× dim blow-up instead.
    */
  def hotColdJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                  dimKey: String, hotDen: Long = 10L): DataFrame = {
    val counts = fact.groupBy(factKey).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("t"))
    // Hot ⇔ the key carries ≥ 1/hotDen of all fact rows — scale-free,
    // so the hot set is ≤ hotDen keys at ANY corpus size.
    val hot = counts.crossJoin(broadcast(total))
      .filter(col("c") * hotDen >= col("t")).select(col(factKey))
    val factHot = fact.join(broadcast(hot), Seq(factKey), "left_semi")
    val factCold = fact.join(broadcast(hot), Seq(factKey), "left_anti")
    val dimHot = dim.join(broadcast(
      hot.withColumnRenamed(factKey, dimKey)), Seq(dimKey), "left_semi")
    val hotSide = factHot.join(broadcast(dimHot),
      col(factKey) === col(dimKey))
    val coldSide = factCold.join(dim.hint("merge"),
      col(factKey) === col(dimKey))
    hotSide.unionByName(coldSide)
  }
}
