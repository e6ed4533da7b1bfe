package graft

import org.apache.spark.sql.functions._
import graft.ops.{QualityOps, SinkOps}

/** Specs for constraint-gated commits (commitVersionChecked) and
  * RENAME COLUMN via manifest column mapping: zero-IO renames, fold
  * order against deletion vectors, time travel as schema travel,
  * materialization by OPTIMIZE, the loud refusals on the
  * sidecar-planning tiers, and the SQL ALTER TABLE verb.
  */
class Round13EvoSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private def events = Tables.events(spark, sfDir)

  // ---- constraint-gated commits ----

  test("commitVersionChecked: a clean batch commits; a violating " +
      "batch refuses with the per-constraint report and leaves the " +
      "table byte-untouched") {
    val t = tmp("r13_checked")
    val clean = events.filter(col("event_id") % 2 === 0)
    val v = SinkOps.commitVersion(clean, t,
      SinkOps.CommitSpec(constraints = Some(SinkOps.Constraints("event_id", Seq(
      QualityOps.NotNull("event_type"),
      QualityOps.InRange("value", -1e9, 1e9),
      QualityOps.Unique("event_id"))))))
    assert(v == 1)
    assert(SinkOps.readVersion(spark, t).count() == clean.count())

    val dirty = clean.limit(50)
      .withColumn("event_type",
        when(col("event_id") % 10 === 0, lit(null: String))
          .otherwise(col("event_type")))
    val e = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(dirty, t,
        SinkOps.CommitSpec(constraints = Some(SinkOps.Constraints("event_id",
          Seq(
        QualityOps.NotNull("event_type"),
        QualityOps.Unique("event_id"))))))
    }
    assert(e.getMessage.contains("not_null(event_type)"),
      s"report missing the violated constraint: ${e.getMessage}")
    // Head untouched: still v1, same rows.
    assert(SinkOps.currentVersion(spark, t) == 1)
    assert(SinkOps.readVersion(spark, t).count() == clean.count())
  }

  test("SQL INSERT ... CHECK gates the commit from SQL: the clean " +
      "batch lands, the violating batch refuses with the table " +
      "untouched, and an unrecognized constraint refuses at parse") {
    val t = tmp("r13_sql_checked")
    events.createOrReplaceTempView("r13evo_events")
    val v = spark.sql(
      s"""INSERT INTO graft_table('$t')
          CHECK event_id (not_null(event_type), unique(event_id),
            range(value, -1e9, 1e9),
            in_set(event_type, 'click', 'view', 'purchase', 'signup',
              'error'))
          SELECT * FROM r13evo_events WHERE event_id % 2 = 0""")
      .collect().head.getInt(0)
    assert(v == 1)
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        s"""INSERT INTO graft_table('$t')
            CHECK event_id (in_set(event_type, 'click'))
            SELECT * FROM r13evo_events WHERE event_id % 2 = 1""")
    }
    assert(e.getMessage.contains("in_set(event_type)"),
      s"report missing the violated constraint: ${e.getMessage}")
    assert(SinkOps.currentVersion(spark, t) == 1)
    assert(SinkOps.readVersion(spark, t).count() ==
      events.filter(col("event_id") % 2 === 0).count())
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(
        s"""INSERT INTO graft_table('$t')
            CHECK event_id (foreign_key(user_id))
            SELECT * FROM r13evo_events""")
    }
    assert(e2.getMessage.contains("unrecognized CHECK constraint"))
  }

  // ---- column rename (manifest column mapping) ----

  test("rename is one metadata line: old dirs read under the new " +
      "name, post-rename commits and deletes interleave correctly, " +
      "and time travel shows the old schema") {
    val t = tmp("r13_rename")
    SinkOps.commitVersion(events.filter(col("event_id") % 3 === 0), t)
    // DV before the rename: key column at ITS commit-time name.
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 5 === 0).select("event_id"),
      t, "event_id")
    val rv = SinkOps.renameVersionColumn(spark, t, "event_id", "eid")
    assert(rv == 3)
    // Post-rename commit writes the new name natively.
    SinkOps.commitVersion(
      events.filter(col("event_id") % 3 === 1)
        .withColumnRenamed("event_id", "eid"), t)
    // DV after the rename: keys under the NEW name.
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 7 === 0)
        .select(col("event_id").as("eid")), t, "eid")

    val got = SinkOps.readVersion(spark, t)
    assert(got.columns.contains("eid") && !got.columns.contains("event_id"))
    val want = events
      .filter(col("event_id") % 3 === 0 || col("event_id") % 3 === 1)
      .filter(!(col("event_id") % 3 === 0 && col("event_id") % 5 === 0))
      .filter(col("event_id") % 7 =!= 0)
    assert(got.count() == want.count(),
      s"resolved rename+DV count drifted: ${got.count()} vs ${want.count()}")
    val gotKeys = got.select(col("eid")).exceptAll(
      want.select(col("event_id").as("eid")))
    assert(gotKeys.isEmpty, "resolved rename+DV key set drifted")

    // Time travel is schema travel: v1 still reads event_id.
    val v1 = SinkOps.readVersion(spark, t, Some(1))
    assert(v1.columns.contains("event_id") && !v1.columns.contains("eid"))
  }

  test("the sidecar planners, stats-only aggregation, and a " +
      "changefeed window crossing the rename all refuse loudly; " +
      "OPTIMIZE materializes the rename and re-arms them") {
    val t = tmp("r13_rename_refuse")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0)
        .repartitionByRange(4, col("event_id")),
      t, SinkOps.CommitSpec(stats = Seq("event_id")))
    SinkOps.renameVersionColumn(spark, t, "value", "amount")
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
      Seq(SinkOps.SkipPred.LongRange("event_id", 100L, 299L))).count()
    }
    assert(e1.getMessage.contains("unmaterialized column rename"))
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, t)
    }
    assert(e2.getMessage.contains("unmaterialized column rename"))
    val e3 = intercept[IllegalArgumentException] {
      SinkOps.readChanges(spark, t, 1, 2).count()
    }
    assert(e3.getMessage.contains("crosses a column rename"))

    // OPTIMIZE resolves, materializes the new name, purges the line.
    SinkOps.compactVersions(spark, t,
      SinkOps.Compaction.Full(Some("event_id")))
    val head = SinkOps.readVersion(spark, t)
    assert(head.columns.contains("amount") &&
      !head.columns.contains("value"))
    // The skip tier is re-armed (fresh stats under the compaction).
    val n = SinkOps.readVersionWhere(spark, t,
      Seq(SinkOps.SkipPred.LongRange("event_id", 100L, 299L))).count()
    val wantN = events.filter(col("event_id") % 2 === 0 &&
      col("event_id").between(100, 299)).count()
    assert(n == wantN, s"post-OPTIMIZE skip read drifted: $n vs $wantN")
  }

  test("rename loud contracts: missing source, existing target, " +
      "same-name, manifest-hostile names") {
    val t = tmp("r13_rename_loud")
    SinkOps.commitVersion(events.limit(10), t)
    intercept[IllegalArgumentException] {
      SinkOps.renameVersionColumn(spark, t, "no_such", "x")
    }
    intercept[IllegalArgumentException] {
      SinkOps.renameVersionColumn(spark, t, "value", "event_id")
    }
    intercept[IllegalArgumentException] {
      SinkOps.renameVersionColumn(spark, t, "value", "value")
    }
    intercept[IllegalArgumentException] {
      SinkOps.renameVersionColumn(spark, t, "value", "a:b")
    }
  }

  test("a shallow clone of a renamed table resolves the rename " +
      "(rename lines ride the clone manifest verbatim)") {
    val src = tmp("r13_rename_clone_src")
    val dst = tmp("r13_rename_clone_dst")
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 0), src)
    SinkOps.renameVersionColumn(spark, src, "value", "amount")
    SinkOps.cloneVersion(spark, src, dst)
    val got = SinkOps.readVersion(spark, dst)
    assert(got.columns.contains("amount") &&
      !got.columns.contains("value"))
    assert(got.count() ==
      events.filter(col("event_id") % 2 === 0).count())
  }

  test("DROP COLUMN is one metadata line: the head loses the column, " +
      "time travel still has it, OPTIMIZE materializes, and a delete " +
      "sidecar keyed on the dropped column fails loudly at read") {
    val t = tmp("r13_drop")
    SinkOps.commitVersion(events.filter(col("event_id") % 3 === 0), t)
    val dv = SinkOps.dropVersionColumn(spark, t, "props")
    assert(dv == 2)
    SinkOps.commitVersion(
      events.filter(col("event_id") % 3 === 1).drop("props"), t)

    val head = SinkOps.readVersion(spark, t)
    assert(!head.columns.contains("props"), "dropped column survived")
    assert(head.count() ==
      events.filter(col("event_id") % 3 =!= 2).count())
    val v1 = SinkOps.readVersion(spark, t, Some(1))
    assert(v1.columns.contains("props"), "time travel lost the column")

    // A post-drop delete keyed on the dropped column: the sidecar
    // commits (arrival-shaped write) but the resolved read fails
    // loudly — the column provably is not in the snapshot.
    SinkOps.deleteVersionKeys(
      events.limit(5).select(col("props")), t, "props")
    intercept[Exception] { SinkOps.readVersion(spark, t).count() }
    SinkOps.restoreVersion(spark, t, 3)

    SinkOps.compactVersions(spark, t)
    val opt = SinkOps.readVersion(spark, t)
    assert(!opt.columns.contains("props") &&
      opt.count() == events.filter(col("event_id") % 3 =!= 2).count())
  }

  test("drop loud contracts + SQL DROP COLUMN equals the Scala drop") {
    val t = tmp("r13_drop_loud")
    SinkOps.commitVersion(events.limit(20), t)
    intercept[IllegalArgumentException] {
      SinkOps.dropVersionColumn(spark, t, "no_such")
    }
    val one = tmp("r13_drop_one")
    SinkOps.commitVersion(events.limit(5).select("event_id"), one)
    val e = intercept[IllegalArgumentException] {
      SinkOps.dropVersionColumn(spark, one, "event_id")
    }
    assert(e.getMessage.contains("last column"))

    val vSql = spark.sql(
      s"ALTER TABLE graft_table('$t') DROP COLUMN props")
      .collect().head.getInt(0)
    assert(vSql == 2)
    assert(!SinkOps.readVersion(spark, t).columns.contains("props"))
  }

  test("SQL ALTER TABLE RENAME COLUMN equals the Scala rename: same " +
      "returned version, same head schema and rows") {
    val sqlT = tmp("r13_rename_sql")
    val scalaT = tmp("r13_rename_scala")
    val base = events.filter(col("event_id") % 4 === 0)
    SinkOps.commitVersion(base, sqlT)
    SinkOps.commitVersion(base, scalaT)
    val vSql = spark.sql(
      s"ALTER TABLE graft_table('$sqlT') RENAME COLUMN value TO amount")
      .collect().head.getInt(0)
    val vScala = SinkOps.renameVersionColumn(spark, scalaT,
      "value", "amount")
    assert(vSql == 2 && vScala == 2)
    val a = SinkOps.readVersion(spark, sqlT)
    val b = SinkOps.readVersion(spark, scalaT)
    assert(a.columns.sameElements(b.columns))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // Unsupported ALTER tails refuse loudly.
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft_table('$sqlT') ADD COLUMN x INT")
    }
  }
}
