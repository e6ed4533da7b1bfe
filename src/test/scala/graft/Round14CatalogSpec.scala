package graft

import org.apache.spark.sql.functions._
import graft.ops.SinkOps

/** Specs for catalog-named graft tables (GraftCatalog +
  * GraftTableResolutionRule + the parser's named targets): CREATE /
  * SELECT / DML / time travel / CLONE / DROP by name, name ≡ path
  * bit-identity, and the loud not-found contract.
  */
class Round14CatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_r14_wh")
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", p.getPath)
    p.getPath
  }

  private def events = Tables.events(spark, sfDir)

  test("CREATE + INSERT + SELECT by name: the named read is " +
      "bit-identical to the path read, and DML verbs route by name") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql(
      "CREATE TABLE graft.db.ev (event_id BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE)")
    events.filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id", "event_type", "value")
      .createOrReplaceTempView("r14_ev_src")
    val v = spark.sql(
      "INSERT INTO graft.db.ev SELECT * FROM r14_ev_src")
      .collect().head.getInt(0)
    assert(v == 1)
    // name ≡ path: same rows, same schema, via the warehouse layout.
    val byName = spark.sql(
      "SELECT * FROM graft.db.ev ORDER BY event_id").collect()
    val byPath = SinkOps.readVersion(spark, s"$wh/db/ev")
      .orderBy("event_id").collect()
    assert(byName.toSeq == byPath.toSeq)
    assert(byName.nonEmpty)

    // MERGE by name: update half the rows' value, insert new keys.
    events.filter(col("event_id") % 4 === 1).limit(100)
      .select(col("event_id"), col("user_id"), col("event_type"),
        lit(99.5).as("value"))
      .createOrReplaceTempView("r14_ev_upd")
    val v2 = spark.sql(
      "MERGE INTO graft.db.ev USING (SELECT * FROM r14_ev_upd) " +
        "ON event_id").collect().head.getInt(0)
    assert(v2 == 2)
    val merged = spark.sql(
      "SELECT count(*) FROM graft.db.ev WHERE value = 99.5")
      .collect().head.getLong(0)
    assert(merged == 100)

    // DELETE by name.
    spark.sql("DELETE FROM graft.db.ev WHERE event_id IN " +
      "(SELECT event_id FROM r14_ev_upd)")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.ev WHERE value = 99.5")
      .collect().head.getLong(0) == 0)

    // Time travel by name: v1 still has the pre-merge values.
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.ev VERSION AS OF 1 " +
        "WHERE value = 99.5").collect().head.getLong(0) == 0)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.ev VERSION AS OF 2 " +
        "WHERE value = 99.5").collect().head.getLong(0) == 100)

    // OPTIMIZE + VACUUM by name keep the resolved rows.
    val before = spark.sql("SELECT count(*) FROM graft.db.ev")
      .collect().head.getLong(0)
    spark.sql("OPTIMIZE graft.db.ev")
    assert(spark.sql("SELECT count(*) FROM graft.db.ev")
      .collect().head.getLong(0) == before)
  }

  test("a typo'd table name is a loud error, never a silently new " +
      "empty table; a created-but-uncommitted table reads empty with " +
      "its declared schema") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.no_such_table").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"),
      s"expected a table-not-found error: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO graft.db.no_such_table VALUES (1)")
    }
    assert(e2.getMessage.contains("not found"),
      s"expected the loud not-found refusal: ${e2.getMessage}")

    spark.sql("CREATE TABLE graft.db.empty_t (k INT, s STRING)")
    val df = spark.sql("SELECT * FROM graft.db.empty_t")
    assert(df.columns.toSeq == Seq("k", "s"))
    assert(df.count() == 0)
  }

  test("CTAS by name, and the opt-in RETRY clause on SQL " +
      "MERGE/DELETE routes to the OCC-retrying bodies") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db3")
    events.select("event_id", "user_id", "value")
      .createOrReplaceTempView("r14_ctas_src")
    val v = spark.sql(
      "CREATE TABLE graft.db3.ct AS SELECT * FROM r14_ctas_src")
      .collect().head.getInt(0)
    assert(v == 1)
    assert(spark.sql("SELECT count(*) FROM graft.db3.ct")
      .collect().head.getLong(0) == events.count())
    // A second CTAS at the same name refuses loudly.
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.db3.ct AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("already exists"),
      s"wrong refusal: ${e.getMessage}")
    // RETRY clauses parse and land (no race here — the OCC loop's
    // race handling is pinned in Round14OpsSpec).
    val v2 = spark.sql(
      """MERGE INTO graft.db3.ct USING (
           SELECT event_id, user_id, value + 1.0 AS value
           FROM r14_ctas_src WHERE event_id % 7 = 0) ON event_id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT * RETRY 3""")
      .collect().head.getInt(0)
    assert(v2 == 2)
    val v3 = spark.sql(
      """DELETE FROM graft.db3.ct WHERE event_id IN (
           SELECT event_id FROM r14_ctas_src WHERE event_id % 3 = 0)
         RETRY 3""").collect().head.getInt(0)
    assert(v3 == 3)
    assert(spark.sql("SELECT count(*) FROM graft.db3.ct " +
      "WHERE event_id % 3 = 0").collect().head.getLong(0) == 0)
    // Trailing junk after the RETRY clause still refuses.
    intercept[Exception] {
      spark.sql("DELETE FROM graft.db3.ct WHERE event_id IN " +
        "(SELECT 1) RETRY 3 nonsense")
    }
  }

  test("spark.read.format(\"graft\"): head, VERSION AS OF, and " +
      "TIMESTAMP AS OF reads are bit-identical to the Scala API, " +
      "and a typo'd path fails loudly") {
    val t = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_r14_fmt").getPath
    val hp = new org.apache.hadoop.fs.Path(t)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    import graft.ops.SinkOps
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 0), t)
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 1), t)
    val head = spark.read.format("graft").load(t)
      .orderBy("event_id").collect()
    assert(head.toSeq ==
      SinkOps.readVersion(spark, t).orderBy("event_id").collect().toSeq)
    val v1 = spark.read.format("graft").option("versionAsOf", "1")
      .load(t).count()
    assert(v1 == events.filter(col("event_id") % 2 === 0).count())
    val ts1 = SinkOps.commitTimestamp(spark, t, 1)
    assert(spark.read.format("graft")
      .option("timestampAsOf", ts1.toString).load(t).count() == v1)
    intercept[Exception] {
      spark.read.format("graft").load(t + "_nope")
    }
  }

  test("TVFs accept catalog-qualified names: graft_version / " +
      "graft_history('graft.db.t') resolve through the warehouse " +
      "and equal their path-addressed twins") {
    wh
    graft.functions.GraftFunctions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tvf")
    val path = s"$wh/tvf/ev"
    import graft.ops.SinkOps
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 0),
      path, SinkOps.CommitSpec(stats = Seq("event_id")))
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 1),
      path, SinkOps.CommitSpec(stats = Seq("event_id")))
    val byName = spark.sql(
      "SELECT count(*) FROM graft_version('graft.tvf.ev', 1)")
      .collect().head.getLong(0)
    val byPath = spark.sql(
      s"SELECT count(*) FROM graft_version('$path', 1)")
      .collect().head.getLong(0)
    assert(byName == byPath && byName > 0)
    assert(spark.sql(
      "SELECT count(*) FROM graft_history('graft.tvf.ev')")
      .collect().head.getLong(0) == 2)
    // A typo'd name refuses loudly instead of reading an empty path.
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_version('graft.tvf.nope')")
        .collect()
    }
    assert(e.getMessage.contains("not found"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("external LOCATION, CLONE by name, ALTER TABLE RENAME by " +
      "name, and DROP TABLE") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db2")
    val ext = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_r14_ext").getPath
    val hp = new org.apache.hadoop.fs.Path(ext)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    spark.sql("CREATE TABLE graft.db2.ext_t (event_id BIGINT, " +
      s"event_type STRING) LOCATION '$ext'")
    events.select("event_id", "event_type").limit(500)
      .createOrReplaceTempView("r14_ext_src")
    spark.sql("INSERT INTO graft.db2.ext_t SELECT * FROM r14_ext_src")
    // The data landed at the external root, the name reads it.
    assert(SinkOps.currentVersion(spark, ext) == 1)
    assert(spark.sql("SELECT count(*) FROM graft.db2.ext_t")
      .collect().head.getLong(0) == 500)

    // CLONE by name: zero-copy fork discovered by the catalog via its
    // manifest (no CREATE needed).
    spark.sql("CLONE graft.db2.ext_t TO graft.db2.fork_t")
    assert(spark.sql("SELECT count(*) FROM graft.db2.fork_t")
      .collect().head.getLong(0) == 500)
    assert(spark.sql("SHOW TABLES IN graft.db2").collect()
      .map(_.getString(1)).toSet == Set("ext_t", "fork_t"))

    // ALTER TABLE RENAME COLUMN by name (parser route) — zero data IO.
    spark.sql("ALTER TABLE graft.db2.fork_t RENAME COLUMN " +
      "event_type TO etype")
    assert(spark.sql("SELECT * FROM graft.db2.fork_t").columns.toSeq ==
      Seq("event_id", "etype"))

    // DROP TABLE by name routes to the catalog; external data stays.
    spark.sql("DROP TABLE graft.db2.ext_t")
    assert(intercept[Exception](
      spark.sql("SELECT * FROM graft.db2.ext_t").collect())
      .getMessage.toLowerCase.contains("table"))
    assert(SinkOps.currentVersion(spark, ext) == 1,
      "dropping an external table must not delete its data")
  }
}
