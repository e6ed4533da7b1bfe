package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — one
  * place encoding the settings every entry point (Verify, Bench, user
  * apps) needs, with the 100 TB rationale:
  *
  *  - AQE (on by default in Spark 4) + skew-join handling: runtime
  *    re-planning splits oversized shuffle partitions — the replacement
  *    for the reference's hand-tuned reducer counts and chunk-pull
  *    balancing (SURVEY §4.2).
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the events fixture carries
  *    TIMESTAMP(NANOS), which Spark otherwise refuses to read.
  *  - UTC session timezone: timestamp arithmetic must be engine- and
  *    host-independent (the DuckDB oracle compares epoch micros).
  *  - Shuffle partitions default to the local core count; a real cluster
  *    deployment overrides this to ~2-3× total executor cores (or leaves
  *    it to AQE coalescing).
  *  - `file:` resolves to [[graft.sources.LocalFs]] ([[withLocalFs]]):
  *    without libhadoop, Hadoop's stock local filesystem forks a
  *    `chmod`, `ls -ld` or `readlink` process (~2.7 ms each) per file it
  *    creates, lists or renames — every commit, sidecar, manifest,
  *    stream checkpoint and state-store delta. LocalFs does the same
  *    in-process; no plan, job or byte written changes.
  */
object GraftSession {

  /** Run nonce: env-provided when the harness wants explicit isolation,
    * else the JVM pid — stable within a run, distinct across concurrent
    * runs (deliberately not Math.random, which would defeat
    * overwrite-on-rerun).
    */
  val RunNonce: String =
    sys.env.getOrElse("GRAFT_RUN_NONCE", ProcessHandle.current().pid().toString)

  /** Per-run scratch root under the JVM tmpdir. Every disk-touching
    * query surface (sink round trips, streaming staging, managed-table
    * warehouse) writes beneath it, and a shutdown hook removes the whole
    * tree on JVM exit — repeated Verify/Bench/test runs do not
    * accumulate directories in /tmp. (A kill -9'd JVM still leaks its
    * root; the nonce keeps such leftovers from colliding with live
    * runs.)
    */
  lazy val runTmpRoot: String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_run_$RunNonce")
    root.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }))
    root.getPath
  }

  /** Register [[graft.sources.LocalFs]] for `file:` through both
    * Hadoop entry points: `FileSystem` (commits, sidecars, manifests,
    * parquet writes) and `FileContext` (Spark's streaming checkpoint
    * and state-store files).
    */
  def withLocalFs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.LocalFs.Fs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.LocalFs.Afs].getName)

  def configure(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder =
    withLocalFs(b).config("spark.sql.shuffle.partitions", shufflePartitions)
      // Graft's SQL surface: native expressions, lakehouse TVFs, and
      // the DML parser (MERGE INTO / DELETE FROM / INSERT INTO against
      // graft_table paths). Parser injection only works at build time,
      // so the session factory is where it lives; externally-built
      // sessions get the function/TVF half via GraftFunctions.register.
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // ANSI mode is the engine's overflow contract: int64 arithmetic
      // past bounds (e.g. PageRank's damped sum on a past-headroom graph,
      // GraphOps scaladoc) THROWS instead of wrapping to silently-wrong
      // results. Spark 4 defaults to true; pinned so a deployment
      // override can't reintroduce silent wraps. Spec-pinned in
      // GraphOpsSpec ("past-headroom graphs fail loudly").
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE coalesce partitions inside persisted plans too (off by
      // default): iterative workloads cache small frames (e.g. PageRank's
      // |V|-row rank vector) whose 32+ near-empty shuffle partitions
      // otherwise inflate every downstream job's task count.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // managed tables (bucketed-sink surface) land in the per-run
      // scratch root (shutdown-hook-cleaned), never the working directory
      .config("spark.sql.warehouse.dir",
        new java.io.File(runTmpRoot, "warehouse").getPath)
      .config("spark.ui.enabled", "false")

  /** Local session sized by SPARK_GRAFT_CPUS (driver harness contract). */
  def local(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
