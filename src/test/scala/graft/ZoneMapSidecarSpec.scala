package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.ops.SinkOps
import graft.ops.SinkOps.{CommitSpec, Flat, Layout, Partitioned}

/** The stats sidecar a commit writes from the footers it just wrote.
  *  - BYTE IDENTITY: for each case the written `stats/v1.txt` must equal
  *    the aggregate writer's bytes over the same dir
  *    (`SinkOps.aggregateStatsLines`, the per-dir fallback, kept as the
  *    oracle), and the case must be served from the footers or fall
  *    back, as declared.
  *  - JOBS: a stats commit starts no more Spark jobs than the same
  *    commit without stats.
  *  - REFUSALS: a column whose long cast can overflow refuses before
  *    any file is written.
  */
class ZoneMapSidecarSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private def fileText(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** Commit `df` with stats on `cols`, assert the sidecar equals the
    * aggregate writer's bytes, and return whether the footers served it.
    */
  private def sidecarServed(name: String, df: DataFrame, cols: Seq[String],
                            layout: Layout = Flat): Boolean = {
    val table = tmp(s"zm_$name")
    SinkOps.commitVersion(df, table, CommitSpec(layout = layout,
      stats = cols))
    val written = fileText(new java.io.File(table, "stats/v1.txt"))
    val header = written.linesIterator.next()
    val kinds = header.split('\t').toSeq
      .map(h => if (h.contains('#')) h.substring(h.lastIndexOf('#') + 1)
        else "")
    val dirP = new Path(table, "data/v1")
    val conf = spark.sessionState.newHadoopConf()
    val fs = dirP.getFileSystem(conf)
    val oracle = SinkOps.aggregateStatsLines(spark, fs, dirP, cols, kinds)
    assert(written === (header +: oracle).mkString("\n"), name)
    SinkOps.footerStatsLines(fs, dirP, cols, df.schema,
      SinkOps.dirFooters(fs, dirP, conf)).isDefined
  }

  /** Row groups per file of the table `sidecarServed` committed as
    * `name`.
    */
  private def rowGroups(name: String): Seq[Int] = {
    val dirP = new Path(new java.io.File(
      System.getProperty("java.io.tmpdir"), name).getPath, "data/v1")
    val conf = spark.sessionState.newHadoopConf()
    SinkOps.dirFooters(dirP.getFileSystem(conf), dirP, conf)
      .map(_._2.getBlocks.size)
  }

  test("integral stats, several columns, nulls and negatives: served " +
      "from the footers, byte-identical to the aggregate") {
    val df = spark.range(-40, 40, 1, 3).selectExpr(
      "CAST(id AS TINYINT) AS b", "CAST(id * 300 AS SHORT) AS sh",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id * 70000 AS INT) END AS i",
      "id * 4000000000 AS l")
    assert(sidecarServed("ints", df, Seq("b", "sh", "i", "l")))
    assert(sidecarServed("int1", df, Seq("i")))
  }

  test("#day stats: served from the footers, byte-identical") {
    val df = spark.range(0, 30, 1, 2).selectExpr("id",
      "date_add(DATE'1969-12-20', CAST(id * 7 AS INT)) AS d")
    assert(sidecarServed("day", df, Seq("d")))
    assert(sidecarServed("day_multi", df, Seq("id", "d")))
    // dates rebased to the legacy hybrid calendar are not epoch days
    val rebase = "spark.sql.parquet.datetimeRebaseModeInWrite"
    spark.conf.set(rebase, "LEGACY")
    try assert(!sidecarServed("day_legacy",
      df.selectExpr("id", "date_add(DATE'1000-01-01', CAST(id AS INT)) AS d"),
      Seq("d")))
    finally spark.conf.unset(rebase)
  }

  test("#str stats — supplementary code points, TAB/LF, the empty " +
      "string, values past the truncation length: served, byte-identical") {
    import spark.implicits._
    val long = "abcdefghijklmnopqrstuvwxyz"
    val values = Seq(
      // U+FFFF sorts before U+10000 by code point, after it in UTF-16
      Seq("\uFFFF", "\uD800\uDC00x", "m"),
      Seq("tab\there", "line\nfeed", "cr\rlf", "pct%25"),
      Seq("", "z", long),
      Seq(long.reverse, "\uDBFF\uDFFF" * 20, "\uD83D\uDE00" * 17 + "a"),
      Seq("\uFFFF" * 18, "a\uD83D\uDE00", "\uD83D\uDE00b"))
    // each group in one file, so its values meet in one min/max
    (values :+ values.flatten).zipWithIndex.foreach { case (vs, i) =>
      val df = vs.zipWithIndex.map { case (v, j) => (j.toLong, v) }
        .toDF("id", "s").coalesce(1)
      assert(sidecarServed(s"str$i", df, Seq("s")), vs)
      assert(sidecarServed(s"str_multi$i", df.repartition(2),
        Seq("s", "id")), vs)
    }
  }

  test("a column all null in one file and a zero-row batch: served, " +
      "byte-identical") {
    val df = spark.range(0, 20, 1, 2).selectExpr("id",
      "CASE WHEN id < 10 THEN NULL ELSE id END AS x",
      "CASE WHEN id < 10 THEN NULL ELSE CAST(id AS STRING) END AS s")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("id"))
    assert(sidecarServed("allnull", df, Seq("x", "s", "id")))
    assert(sidecarServed("empty", df.filter("id < 0"), Seq("x", "s")))
  }

  test("a multi-row-group file folds every row group: served, " +
      "byte-identical") {
    val confs = Map("parquet.block.size" -> "2048",
      "parquet.block.size.row.check.min" -> "10",
      "parquet.block.size.row.check.max" -> "10",
      "parquet.page.size.row.check.min" -> "10",
      "parquet.page.size.row.check.max" -> "10")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0, 3000, 1, 1).selectExpr(
        "(id * 7919) % 3001 - 1500 AS x",
        "CASE WHEN id < 500 THEN NULL ELSE concat('k', id % 911) END AS s",
        "date_add(DATE'2000-01-01', CAST((id * 13) % 997 AS INT)) AS d",
        // row groups disagree on U+FFFF vs U+10000: code point order
        s"concat(CASE WHEN id < 1500 THEN '\uFFFF' ELSE '\uD800\uDC00' " +
          "END, CAST(id AS STRING)) AS u")
      assert(sidecarServed("rowgroups", df, Seq("x", "s", "d", "u")))
      assert(rowGroups("zm_rowgroups").forall(_ > 2))
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("a hive-partitioned dir: served, byte-identical") {
    val df = spark.range(0, 60, 1, 3).selectExpr("id",
      "concat('p', CAST(id % 3 AS STRING)) AS p",
      "concat('s', CAST(id % 7 AS STRING)) AS s")
    assert(sidecarServed("parted", df, Seq("id", "s"),
      Partitioned(Seq("p"))))
  }

  test("INT96 timestamps, decimals, booleans and strings past parquet's " +
      "4 KB stats cap fall back to the aggregate, byte-identical") {
    val base = spark.range(0, 24, 1, 2)
    val ts = base.selectExpr("id",
      "timestamp_micros(id * 1000003) AS ts")
    assert(!sidecarServed("tsus", ts, Seq("id", "ts")))
    val dec = base.selectExpr("id", "CAST(id / 7 AS DECIMAL(12, 3)) AS m")
    assert(!sidecarServed("dec", dec, Seq("m")))
    val bool = base.selectExpr("id", "id % 2 = 0 AS f")
    assert(!sidecarServed("bool", bool, Seq("f", "id")))
    val big = base.selectExpr("id",
      "CASE WHEN id = 3 THEN repeat('w', 5000) ELSE CAST(id AS STRING) " +
        "END AS s")
    assert(!sidecarServed("bigstr", big, Seq("s")))
    // the footers still serve a file set without the long value
    assert(sidecarServed("bigstr_absent", big.filter("id <> 3"), Seq("s")))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("a flat stats commit starts no more jobs than the same commit " +
      "without stats") {
    val df = spark.range(0, 200, 1, 3).selectExpr("id",
      "CAST(id AS STRING) AS s", "date_add(DATE'2001-01-01', " +
        "CAST(id AS INT)) AS d")
    val plain = jobsDuring(
      SinkOps.commitVersion(df, tmp("zm_jobs_plain"), CommitSpec()))
    val stats = jobsDuring(SinkOps.commitVersion(df, tmp("zm_jobs_stats"),
      CommitSpec(stats = Seq("id", "s", "d"))))
    assert(plain >= 1)
    assert(stats === plain)
  }

  test("FLOAT, DOUBLE and wide DECIMAL sidecar columns refuse before any " +
      "file is written: head 0, no data, stats or blooms entry") {
    val df = spark.range(0, 4).selectExpr("id",
      "CASE WHEN id = 2 THEN double('NaN') ELSE double(id) END AS x",
      "CAST(id AS FLOAT) AS f", "CAST(id AS DECIMAL(38, 0)) AS w",
      "CAST(id AS DECIMAL(20, 2)) AS ok")
    Seq(CommitSpec(stats = Seq("x")), CommitSpec(stats = Seq("f")),
      CommitSpec(stats = Seq("w")), CommitSpec(blooms = Seq("x")),
      CommitSpec(blooms = Seq("w"))).zipWithIndex.foreach { case (spec, i) =>
      val t = tmp(s"zm_refuse$i")
      val e = intercept[IllegalArgumentException](
        SinkOps.commitVersion(df, t, spec))
      assert(e.getMessage.contains("overflow"), e.getMessage)
      assert(SinkOps.currentVersion(spark, t) === 0)
      Seq("data", "stats", "blooms").foreach(k =>
        assert(!new java.io.File(t, k).exists, s"refused commit left $k/"))
    }
    // 18 integer digits still long-cast: a DECIMAL(20, 2) commits
    assert(sidecarServed("dec_ok", df, Seq("ok")) === false)
  }
}
