package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.ops.{QualityOps, SinkOps}
import graft.ops.SinkOps.SkipPred._

/** Round-14 specs: type widening as a manifest op, OCC retry for the
  * DV writers, the stage-then-check commit gate, expr/fk SQL CHECK
  * constraints, the commit-time partition-value guard, history through
  * unmaterialized evolution, and the kgram k-overflow contract.
  */
class Round14OpsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private def events = Tables.events(spark, sfDir)

  // ---- type widening ----

  test("widenVersionColumn: int→bigint over three commits is a " +
      "metadata op; time travel keeps the old type; OPTIMIZE " +
      "materializes and re-arms the sidecar tier") {
    val t = tmp("r14_widen")
    val ev = events.withColumn("vint",
      (col("event_id") % 1000).cast("int"))
    SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(stats = Seq("vint")))
    val v2 = spark.sql(
      s"ALTER TABLE graft_table('$t') ALTER COLUMN vint TYPE BIGINT")
      .collect().head.getInt(0)
    assert(v2 == 2)
    // Head reads the widened type; the cast is exact.
    val head = SinkOps.readVersion(spark, t)
    assert(head.schema("vint").dataType == LongType)
    // Time travel is schema travel: v1 still reads int.
    assert(SinkOps.readVersion(spark, t, Some(1))
      .schema("vint").dataType == IntegerType)
    // Post-widen commit writes the wide type natively; resolved rows
    // equal the relational union.
    SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 1)
      .withColumn("vint", col("vint").cast("bigint")), t,
      SinkOps.CommitSpec(stats = Seq("vint")))
    val got = SinkOps.readVersion(spark, t)
      .agg(count(lit(1)), sum("vint")).collect().head
    val want = ev.agg(count(lit(1)), sum(col("vint").cast("bigint")))
      .collect().head
    assert(got == want)
    // The sidecar-planning tier refuses an unmaterialized widen...
    val e = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t, Seq(LongRange("vint", 0L, 10L)))
    }
    assert(e.getMessage.contains("rename/drop") ||
      e.getMessage.contains("evolution"),
      s"wrong refusal: ${e.getMessage}")
    // ...and DESCRIBE HISTORY stays servable through it (epoch
    // grouping on schema-filtered lines).
    assert(SinkOps.versionHistory(spark, t).count() == 3)
    // OPTIMIZE materializes: the line is purged, type stays bigint.
    SinkOps.compactVersions(spark, t, SinkOps.Compaction.Full(Some("vint")))
    assert(SinkOps.readVersion(spark, t)
      .schema("vint").dataType == LongType)
    assert(SinkOps.readVersionWhere(spark, t,
        Seq(LongRange("vint", 0L, 10L))).count() ==
      ev.filter(col("vint") >= 0 && col("vint") <= 10).count())
  }

  test("widenVersionColumn refuses narrowing and lossy changes " +
      "loudly") {
    val t = tmp("r14_widen_bad")
    val ev = events.withColumn("vint",
      (col("event_id") % 1000).cast("int"))
    SinkOps.commitVersion(ev, t)
    // Narrowing (bigint column to int).
    assert(intercept[IllegalArgumentException](
      SinkOps.widenVersionColumn(spark, t, "event_id", "int"))
      .getMessage.contains("refusing"))
    // Lossy (bigint to double).
    assert(intercept[IllegalArgumentException](
      SinkOps.widenVersionColumn(spark, t, "event_id", "double"))
      .getMessage.contains("refusing"))
    // Same type is a no-op request, refused as such.
    assert(intercept[IllegalArgumentException](
      SinkOps.widenVersionColumn(spark, t, "vint", "int"))
      .getMessage.contains("already"))
    // Unknown column.
    assert(intercept[IllegalArgumentException](
      SinkOps.widenVersionColumn(spark, t, "nope", "bigint"))
      .getMessage.contains("not in head schema"))
  }

  // ---- OCC retry for the DV writers ----

  test("mergeVersionRetrying lands when a competing commit steals " +
      "its version number, and the merge's sidecar scopes the " +
      "winner's rows (serialized semantics)") {
    val t = tmp("r14_occ_merge")
    val base = events.filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id", "event_type", "value")
    SinkOps.commitVersion(base, t)
    val competing = events.filter(col("event_id") % 2 === 1)
      .select("event_id", "user_id", "event_type", "value")
    val batch = events.filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("user_id"),
        lit("merged").as("event_type"), col("value"))
    val batchCnt = batch.count()
    var raced = false
    val v = SinkOps.mergeVersion(batch, t, "event_id",
      SinkOps.CommitSpec(retries = 3,
        beforeAttempt = n => if (n == 1 && !raced) {
        raced = true
        SinkOps.commitVersion(competing, t); ()
      }))
    // Both landed: competing took v2, the merge retried into v3.
    assert(v == 3)
    val head = SinkOps.readVersion(spark, t)
    assert(head.filter(col("event_type") === "merged").count() ==
      batchCnt)
    // The merge's keys were deleted from BOTH prior commits (the
    // retry re-carried the winner's lines): no duplicate keys.
    assert(head.groupBy("event_id").count().filter(col("count") > 1)
      .count() == 0)
    // And the competing commit's non-overlapping rows survived.
    assert(head.count() ==
      base.unionByName(competing).dropDuplicates("event_id").count())
  }

  test("deleteVersionKeysRetrying lands through a version race and " +
      "exhausts its budget loudly under persistent pressure") {
    val t = tmp("r14_occ_del")
    SinkOps.commitVersion(events.select("event_id", "user_id"), t)
    var raced = false
    val v = SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 5 === 0).select("event_id"), t,
      "event_id",
      retries = 3,
      beforeAttempt = n => if (n == 1 && !raced) {
        raced = true
        SinkOps.commitVersion(
          events.filter(col("event_id") % 2 === 1)
            .select("event_id", "user_id"), t); ()
      })
    assert(v == 3)
    assert(SinkOps.readVersion(spark, t)
      .filter(col("event_id") % 5 === 0).count() == 0)
    // Persistent pressure: a racer on EVERY attempt exhausts maxTries.
    val e = intercept[IllegalStateException] {
      SinkOps.deleteVersionKeys(
        events.limit(5).select("event_id"), t, "event_id",
        retries = 2,
        beforeAttempt = _ => {
          SinkOps.commitVersion(events.limit(3)
            .select("event_id", "user_id"), t); ()
        })
    }
    assert(e.getMessage.contains("lost 2 version races"))
  }

  // ---- stage-then-check + expr/fk SQL CHECK ----

  test("commitVersionChecked stages once: a refused batch leaves no " +
      "staging dir behind and the head untouched; a clean batch " +
      "lands with its declared zone maps") {
    val t = tmp("r14_checked_stage")
    val clean = events.filter(col("event_id") % 2 === 0)
    val v = SinkOps.commitVersion(clean, t,
      SinkOps.CommitSpec(stats = Seq("event_id"),
        constraints = Some(SinkOps.Constraints("event_id", Seq(
          QualityOps.NotNull("event_type"))))))
    assert(v == 1)
    // Declared stats landed for the checked commit (the r13 silent
    // drop, closed): the skip read plans.
    assert(SinkOps.readVersionWhere(spark, t,
        Seq(LongRange("event_id", 0L, 100L))).count() ==
      clean.filter(col("event_id").between(0, 100)).count())
    // The clean commit's own commit-unique dir is LIVE — record the
    // dirs now so the leak check below flags only NEW strays.
    val root = new org.apache.hadoop.fs.Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .map(_.getPath.getName).toSet
    val dirty = clean.withColumn("event_type",
      when(col("event_id") % 4 === 0, lit(null: String))
        .otherwise(col("event_type")))
    intercept[IllegalArgumentException] {
      SinkOps.commitVersion(dirty, t,
        SinkOps.CommitSpec(constraints = Some(SinkOps.Constraints("event_id",
          Seq(QualityOps.NotNull("event_type"))))))
    }
    // Refusal cleaned its staging: no NEW data dir remains.
    val stray = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .map(_.getPath.getName).filterNot(live)
    assert(stray.isEmpty, s"staging leaked: ${stray.mkString(", ")}")
    assert(SinkOps.currentVersion(spark, t) == 1)
  }

  test("SQL CHECK expr(...) and fk(...) gate commits: FALSE violates, " +
      "NULL passes, a dangling FK refuses, and declared stats " +
      "columns thread through the checked INSERT") {
    val dim = tmp("r14_fk_dim")
    SinkOps.commitVersion(
      Tables.customer(spark, sfDir).select("c_custkey"), dim)
    val t = tmp("r14_check_expr")
    Tables.orders(spark, sfDir).createOrReplaceTempView("r14_ck_orders")
    // Clean batch: expr + fk + stats columns all land.
    val v = spark.sql(
      s"""INSERT INTO graft_table('$t', 'o_orderkey')
          CHECK o_orderkey (expr(o_totalprice > 0),
                            fk(o_custkey, graft_table('$dim'), c_custkey))
          SELECT * FROM r14_ck_orders""").collect().head.getInt(0)
    assert(v == 1)
    assert(SinkOps.readVersionWhere(spark, t,
        Seq(LongRange("o_orderkey", 1L, 50L))).count() ==
      Tables.orders(spark, sfDir)
        .filter(col("o_orderkey").between(1, 50)).count())
    // expr violation: a negative price batch refuses with the expr in
    // the report.
    val e = intercept[Exception] {
      spark.sql(
        s"""INSERT INTO graft_table('$t')
            CHECK o_orderkey (expr(o_totalprice > 0))
            SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
            FROM r14_ck_orders LIMIT 50""").collect()
    }
    assert(e.getMessage.contains("expr(o_totalprice > 0)"),
      s"report missing the expr constraint: ${e.getMessage}")
    // NULL passes (SQL standard CHECK semantics).
    val v2 = spark.sql(
      s"""INSERT INTO graft_table('$t')
          CHECK o_orderkey (expr(o_totalprice > 0))
          SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                 CAST(NULL AS DOUBLE) AS o_totalprice
          FROM r14_ck_orders LIMIT 5""").collect().head.getInt(0)
    assert(v2 == 2)
    // fk violation: keys missing from the dimension refuse.
    val e2 = intercept[Exception] {
      spark.sql(
        s"""INSERT INTO graft_table('$t')
            CHECK o_orderkey (fk(o_custkey, graft_table('$dim'),
                                 c_custkey))
            SELECT o_orderkey, o_custkey + 900000000 AS o_custkey,
                   o_totalprice
            FROM r14_ck_orders LIMIT 20""").collect()
    }
    assert(e2.getMessage.contains("foreign_key(o_custkey)"),
      s"report missing the fk constraint: ${e2.getMessage}")
    assert(SinkOps.currentVersion(spark, t) == 2)
    // A malformed expr fails at PARSE time, before any execution.
    intercept[Exception] {
      spark.sql(
        s"""INSERT INTO graft_table('$t')
            CHECK o_orderkey (expr(o_totalprice >>> 0))
            SELECT * FROM r14_ck_orders""")
    }
  }

  // ---- commit-time partition-value guard ----

  test("partitioned commits refuse values that need hive escaping or " +
      "get mangled by partition-type inference") {
    val t = tmp("r14_part_guard")
    val bad1 = events.limit(50).withColumn("pt",
      concat(col("event_type"), lit(" x")))
    val e1 = intercept[Exception] {
      SinkOps.commitVersion(bad1, t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("pt"))))
    }
    assert(e1.getMessage.contains("hive escaping"),
      s"wrong refusal: ${e1.getMessage}")
    val bad2 = events.limit(50).withColumn("pt", lit("01"))
    val e2 = intercept[Exception] {
      SinkOps.commitVersion(bad2, t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("pt"))))
    }
    assert(e2.getMessage.contains("inference"),
      s"wrong refusal: ${e2.getMessage}")
    // Round-trip-safe values (canonical ints, plain strings, ISO
    // dates) commit fine.
    val ok = events.limit(50).withColumn("pt",
      (col("event_id") % 4).cast("string"))
    val t2 = tmp("r14_part_guard_ok")
    SinkOps.commitVersion(ok, t2,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("pt"))))
    assert(SinkOps.readVersionWhere(spark, t2,
        Seq(StringIn("pt", Seq("0", "1"))))
      .count() == ok.filter(col("pt").isin("0", "1")).count())
  }

  // ---- history + CDF through unmaterialized evolution ----

  test("versionHistory serves through an unmaterialized rename, and " +
      "readDeletedKeys refuses a window crossing one (CDF halves " +
      "symmetric)") {
    val t = tmp("r14_hist_rename")
    val ev = events.select("event_id", "user_id", "value")
    SinkOps.commitVersion(ev.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(stats = Seq("event_id")))
    SinkOps.deleteVersionKeys(
      ev.filter(col("event_id") % 6 === 0).select("event_id"), t,
      "event_id")
    SinkOps.renameVersionColumn(spark, t, "value", "amount")
    // History reports all three versions, schema line and all.
    val h = SinkOps.versionHistory(spark, t)
    assert(h.count() == 3)
    assert(h.filter(col("version") === 3)
      .select("n_read_groups").collect().head.getInt(0) >= 1)
    // A deleted-keys window crossing the rename refuses like
    // readChanges does.
    SinkOps.deleteVersionKeys(
      ev.filter(col("event_id") % 10 === 0).select("event_id")
        .withColumnRenamed("value", "amount"), t, "event_id")
    val e = intercept[IllegalArgumentException] {
      SinkOps.readDeletedKeys(spark, t, 2, 4)
    }
    assert(e.getMessage.contains("crosses a column rename/drop"),
      s"wrong refusal: ${e.getMessage}")
    // A window before the rename still serves.
    assert(SinkOps.readDeletedKeys(spark, t, 1, 2).count() ==
      ev.filter(col("event_id") % 6 === 0).count())
  }

  // ---- partition-spec evolution ----

  test("partition-spec evolution: each dir prunes by its own spec, " +
      "layout-following writers land the latest spec, and OPTIMIZE " +
      "converges the table to it") {
    val t = tmp("r14_pevo")
    val ev = events.withColumn("vbkt",
      (col("event_id") % 4).cast("string"))
      .select("event_id", "user_id", "event_type", "value", "vbkt")
    SinkOps.commitVersion(
      ev.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(
      ev.filter(col("event_id") % 2 === 1), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type",
        "vbkt"))))
    // Prune-per-dir: an event_type predicate prunes BOTH dirs'
    // leaves (kept < total), and the conjunction result is exact.
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty, "no dir should be kept whole — both are " +
      "partitioned and both carry event_type")
    assert(kept > 0 && kept < total,
      s"expected real pruning: kept $kept of $total")
    val got = SinkOps.readVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click")), StringIn("vbkt", Seq("2"))))
    val want = ev.filter(col("event_type") === "click" &&
      col("vbkt") === "2")
    assert(got.count() == want.count())
    assert(got.agg(sum("event_id")).collect().head.getLong(0) ==
      want.agg(sum("event_id")).collect().head.getLong(0))
    // A predicate column NO spec carries refuses loudly (typo guard).
    val e = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("no_such_col", Seq("x"))))
    }
    assert(e.getMessage.contains("no partitioned dir"),
      s"wrong refusal: ${e.getMessage}")
    // A layout-following MERGE lands the LATEST spec (event_type/vbkt).
    val batch = ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + 5000.0)
    SinkOps.mergeVersion(batch, t, "event_id")
    assert(SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("vbkt", Seq("0"))))
      .filter(col("value") >= 5000.0).count() ==
      batch.filter(col("vbkt") === "0").count())
    // OPTIMIZE converges the whole table to the latest spec:
    // metadata-only partition counts group by BOTH columns after.
    SinkOps.compactVersions(spark, t)
    val pc = SinkOps.partCountsOnly(spark, t)
    assert(pc.columns.toSeq == Seq("event_type", "vbkt", "n_rows"))
    assert(pc.agg(sum("n_rows")).collect().head.getLong(0) ==
      ev.dropDuplicates("event_id").count())
  }

  // ---- maintenance advisor ----

  test("maintenanceAdvice refuses a table it cannot count and keeps " +
      "its gauges consistent with versionHistory") {
    val t = tmp("r14_adv_loud")
    SinkOps.commitVersion(events.select("event_id", "user_id"), t)
    // No stats/parts sidecar: the advisor refuses like the history
    // tier (never an undercounted recommendation).
    val e = intercept[IllegalArgumentException] {
      SinkOps.maintenanceAdvice(spark, t)
    }
    assert(e.getMessage.contains("no stats or parts sidecar"),
      s"wrong refusal: ${e.getMessage}")
    val t2 = tmp("r14_adv_gauges")
    SinkOps.commitVersion(events.select("event_id", "user_id"), t2,
      SinkOps.CommitSpec(stats = Seq("event_id")))
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 3 === 0).select("event_id"), t2,
      "event_id")
    val adv = SinkOps.maintenanceAdvice(spark, t2).collect().head
    val hist = SinkOps.versionHistory(spark, t2)
      .orderBy(col("version").desc).collect().head
    assert(adv.getAs[Int]("n_read_groups") ==
      hist.getAs[Int]("n_read_groups"))
    assert(adv.getAs[Long]("n_files") == hist.getAs[Long]("n_files"))
  }

  // ---- kgram k overflow ----

  test("kgram_hash60 refuses a k literal past Int range instead of " +
      "silently wrapping") {
    graft.functions.GraftFunctions.register(spark)
    spark.sql("SELECT 'abcdef' AS t").createOrReplaceTempView("r14_kg")
    // In-range k works.
    assert(spark.sql(
      "SELECT kgram_hash60(t, 3) AS h FROM r14_kg").collect()
      .head.get(0) != null)
    // Past-Int-range k throws loudly at build time.
    val e = intercept[Exception] {
      spark.sql("SELECT kgram_hash60(t, 4294967298) FROM r14_kg")
        .collect()
    }
    assert(e.getMessage.contains("overflows the Int range"),
      s"wrong refusal: ${e.getMessage}")
  }
}
