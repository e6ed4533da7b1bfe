package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs. sf0.001 keeps tests fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Header line of a versioned table's sidecar (`kind` is stats,
    * blooms or parts) for data dir v: the declared columns.
    */
  def sidecarHeader(table: String, kind: String, v: Int = 1): String = {
    val src = scala.io.Source.fromFile(
      new java.io.File(table, s"$kind/v$v.txt"), "UTF-8")
    try src.getLines().next() finally src.close()
  }

  /** Run `body` with the given session confs set, then put back each
    * conf's previous value (or unset it if it had none).
    */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Files a skip plan reads from flat (unpartitioned) dirs — a flat
    * dir is kept whole by partition predicates.
    */
  def flatFiles(p: graft.ops.SinkOps.SkipPlan): Seq[String] =
    p.epochs.flatMap(_.reads.filter(_._1.isEmpty).flatMap(_._2))
}

object SparkSpec {
  lazy val session: SparkSession = {
    // Hadoop's file: filesystem as every graft session has it
    val s = GraftSession.withLocalFs(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "true") // overflow contract, as GraftSession
      // full graft SQL surface incl. the DML parser, as GraftSession
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // managed tables (bucketed-join specs) must not land in the repo
      .config("spark.sql.warehouse.dir",
        new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft_test_warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
