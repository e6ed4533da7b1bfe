package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.ops.SinkOps

/** `Tables.parquet`, graft's parquet read: the schema comes from one
  * driver-side footer read and must equal Spark's own inference, and
  * building a read must start no Spark job.
  */
class ParquetReadSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("footer schema equals Spark's inference on every fixture table, with no job") {
    tableNames.foreach { t =>
      val p = s"$sfDir/$t.parquet"
      var ours: org.apache.spark.sql.types.StructType = null
      assert(jobsDuring { ours = Tables(spark, sfDir, t).schema } === 0, t)
      assert(ours === spark.read.parquet(p).schema, t)
    }
  }

  test("footer schema equals Spark's on commit, partitioned and replay dirs") {
    val ev = Tables.events(spark, sfDir)
    val table = tmp("pr_commit")
    SinkOps.commitVersion(ev, table,
      SinkOps.CommitSpec(stats = Seq("event_id")))
    val data = new java.io.File(table, "data").listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted
    assert(data.nonEmpty)
    data.foreach { d =>
      assert(Tables.parquet(spark, d).schema === spark.read.parquet(d).schema, d)
    }

    val parted = tmp("pr_parted")
    SinkOps.writeParquet(ev.select("event_id", "user_id", "event_type"), parted,
      partitionBy = Seq("event_type"))
    val ps = Tables.parquet(spark, parted).schema
    assert(ps === spark.read.parquet(parted).schema)
    assert(ps.fieldNames.last === "event_type") // partition columns come last
    // a leaf read under basePath keeps the partition column too
    val leaf = new java.io.File(parted).listFiles()
      .filter(_.getName.startsWith("event_type=")).map(_.getPath).min
    assert(Tables.parquet(spark, Map("basePath" -> parted), Seq(leaf)).schema ===
      spark.read.option("basePath", parted).parquet(leaf).schema)

    val staging = tmp("pr_replay")
    graft.streaming.StreamOps.cmsWindowedReplay(ev, staging).collect()
    assert(Tables.parquet(spark, staging).schema === spark.read.parquet(staging).schema)
  }

  test("multi-dir reads pick Spark's first file by path; mergeSchema keeps the union") {
    import spark.implicits._
    val a = tmp("pr_a")
    val b = tmp("pr_b")
    Seq((1L, "x")).toDF("id", "s").write.parquet(a)
    Seq((2L, "y", 3.0)).toDF("id", "s", "extra").write.parquet(b)
    // non-merging inference reads ONE footer, the first data file by
    // path, whatever the argument order
    Seq(Seq(a, b), Seq(b, a)).foreach { ps =>
      assert(Tables.parquet(spark, ps: _*).schema === spark.read.parquet(ps: _*).schema)
    }
    val merged = Tables.parquet(spark, Map("mergeSchema" -> "true"), Seq(a, b))
    assert(merged.schema === spark.read.option("mergeSchema", "true").parquet(a, b).schema)
    assert(merged.columns.toSeq === Seq("id", "s", "extra"))
  }

  test("a missing path raises Spark's own error") {
    val missing = tmp("pr_missing") + "/nope"
    val ours = intercept[AnalysisException](Tables.parquet(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition === theirs.getCondition)
    assert(ours.getClass === theirs.getClass)
  }

  test("building reads over a committed table starts no Spark job") {
    val path = tmp("pr_nojob")
    val ev = Tables.events(spark, sfDir)
    (0L to 2L).foreach { r =>
      SinkOps.commitVersion(ev.filter(col("event_id") % 3 === r)
        .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id")))
    }
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      Tables.events(spark, sfDir)
      df = SinkOps.readVersionWhere(spark, path,
        Seq(SinkOps.SkipPred.LongRange("event_id", 100L, 299L)))
    } === 0)
    assert(df.count() === ev.filter(col("event_id").between(100L, 299L)).count())
  }
}
