package graft

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md), and
  * graft's parquet read path.
  *
  * All graft operators take DataFrames — these helpers only bind the
  * fixture layout `<sfDir>/<table>.parquet`. At cluster scale the same
  * operators run over any `spark.read` source; nothing below is coupled
  * to local paths.
  *
  * Read rule: every parquet read graft issues goes through [[parquet]],
  * which resolves the schema from ONE footer read on the driver and
  * hands it to `spark.read.schema(...)`. Spark's own inference reads the
  * same single footer (`_common_metadata`, else `_metadata`, else the
  * first data file by path) but does it in a one-task Spark job, a
  * fixed per-read cost of a scheduler round trip. Reads with
  * `mergeSchema` on keep Spark's distributed inference, since they need
  * every footer. The scan, and so the physical plan, is unchanged.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** `spark.read.parquet(paths: _*)` with the schema taken from one
    * driver-side footer read (see the read rule above). The session's
    * `spark.sql.parquet.mergeSchema` decides merging, as it does for
    * `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths)

  /** As above with reader options. `mergeSchema=true` keeps Spark's
    * distributed footer merge; so does any option besides `mergeSchema`
    * and `basePath`, since this reader mirrors no other.
    */
  def parquet(spark: SparkSession, options: Map[String, String],
              paths: Seq[String]): DataFrame = {
    val r = spark.read.options(options)
    val merge = options.get("mergeSchema").fold(
      spark.sessionState.conf.isParquetSchemaMergingEnabled)(_.toBoolean)
    val mirrored = options.keySet.subsetOf(Set("mergeSchema", "basePath"))
    (if (merge || !mirrored) None else footerSchema(spark, paths)) match {
      case Some(s) => r.schema(s).parquet(paths: _*)
      case None    => r.parquet(paths: _*)
    }
  }

  private val CommonMetadata = ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  private val Metadata = ParquetFileWriter.PARQUET_METADATA_FILE

  /** Spark's hidden-file rule for listed names (HadoopFSUtils): `_`/`.`
    * prefixes are skipped unless the name is a `k=v` partition dir, and
    * so are in-flight `._COPYING_` files.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The schema Spark's non-merging inference would produce from the
    * same file, or None when the read must go Spark's way: a missing or
    * empty path (Spark's error stays Spark's), a glob, a streaming
    * sink's `_spark_metadata` log, a non-partition subdirectory, an
    * empty or unreadable file, or a footer column that is also a
    * partition name (Spark would keep it in its data position).
    */
  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] = {
    val hconf = spark.sessionState.newHadoopConf()
    val leaves = ArrayBuffer.empty[FileStatus]
    val partCols = mutable.Set.empty[String]
    def partCol(name: String): Unit =
      if (name.contains("=")) partCols += name.takeWhile(_ != '=').toLowerCase
    // false: a layout this reader does not mirror
    def walk(fs: FileSystem, dir: Path, top: Boolean): Boolean =
      fs.listStatus(dir).forall { st =>
        val name = st.getPath.getName
        if (!st.isDirectory) {
          if (!hidden(name) || name == CommonMetadata || name == Metadata)
            leaves += st
          true
        } else if (name == "_spark_metadata") !top
        else if (hidden(name)) true
        else name.contains("=") && {
          partCol(name); walk(fs, st.getPath, top = false)
        }
      }
    val listed = paths.nonEmpty && paths.forall { p =>
      !p.exists("*?[]{}\\".contains(_)) && {
        val path = new Path(p)
        val fs = path.getFileSystem(hconf)
        path.toString.split('/').foreach(partCol)
        fs.exists(path) && {
          val st = fs.getFileStatus(path)
          if (st.isDirectory) walk(fs, st.getPath, top = true)
          else { leaves += st; !hidden(path.getName) }
        }
      }
    }
    // ParquetUtils.inferSchema's order: the summary files, then the
    // first data file by path
    val sorted = leaves.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val chosen = named(CommonMetadata).orElse(named(Metadata))
      .orElse(sorted.find(f => !hidden(f.getPath.getName)))
    for {
      f <- chosen if listed && f.getLen > 0
      meta <- Try(ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hconf), SKIP_ROW_GROUPS)).toOption
      schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      if !schema.fieldNames.exists(n => partCols(n.toLowerCase))
    } yield schema
  }
}
