package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}
import org.apache.spark.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark JVM: two untimed passes (a cold one that writes each
  * query's output for the output check, then a warm one), then whole
  * timed passes over the workload's queries until the time budget is spent.
  *
  * A sample is one query's build (`SparkEntry.queries(name)`), plan
  * (`queryExecution.executedPlan`) and terminal noop write; `clearCache()`
  * follows it, outside the timed region. With `trace=1` every query of a
  * pass runs twice back to back, untraced and traced, the order
  * alternating from query to query, so the untraced samples measure the
  * tracing overhead against the same JIT and cache state.
  *
  * Args are `key=value`: fixture, queries (comma list), seed, seconds,
  * trace, check (cold-pass output dir), spans (span file of a traced run).
  * Protocol on stdout: `@@timed_start` just before the first timed sample,
  * then one `@@result {json}` line; the JVM then waits for stdin to close
  * so the caller can read its peak RSS before it exits.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val fixture = args("fixture")
    val queries = args("queries").split(",").toSeq
    val seed = args("seed").toLong
    val budgetS = args("seconds").toDouble
    val traced = args("trace") == "1"
    val checkDir = args("check")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit = System.err.println(
      f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s since JVM start")
    val cpus = "4"
    val spark = GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate().asInstanceOf[ClassicSession]
    spark.sparkContext.setLogLevel("ERROR")
    mark("session up")

    var attempted = 0
    val failures = mutable.LinkedHashMap[String, String]()
    def attempt(q: String, stage: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable =>
        failures(s"$q@$stage") = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
        false
      }
    }
    def build(q: String): DataFrame = SparkEntry.queries(q)(spark, fixture)
    def noop(df: DataFrame): Unit = {
      df.queryExecution.executedPlan
      df.write.format("noop").mode("overwrite").save()
    }
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    new java.io.File(checkDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(checkDir, "oracle_sql.json"),
      Json(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))

    val tracer = new Tracer(spark)
    // Wall seconds per query: untraced samples, and traced ones (with drains).
    val samples, tracedSamples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    // Share of the host's wanted CPU time stolen during each untraced sample.
    val stolen = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val rows = ArrayBuffer[Map[String, Any]]()
    def timed(q: String, pass: Int, tracePass: Boolean): Unit = {
      val h0 = HostCpu.ticks()
      val s0 = System.nanoTime()
      val ok = attempt(q, s"pass$pass") {
        if (tracePass) rows += tracer.traceQuery(q, pass, () => build(q))
        else noop(build(q))
      }
      val dt = (System.nanoTime() - s0) / 1e9
      val share = HostCpu.stolenShare(h0, HostCpu.ticks())
      if (ok) (if (tracePass) tracedSamples else samples).getOrElseUpdate(q, ArrayBuffer()) += dt
      if (ok && !tracePass) stolen.getOrElseUpdate(q, ArrayBuffer()) += share
      spark.catalog.clearCache()
    }

    // Untimed: a cold pass that also writes the outputs the check reads,
    // then one pass down the timed path, so timing starts past JIT warm-up.
    for (q <- order(-2)) {
      attempt(q, "cold") {
        val df = build(q)
        df.queryExecution.executedPlan
        df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
      }
      spark.catalog.clearCache()
    }
    mark("cold pass done")
    for (q <- order(-1)) {
      attempt(q, "warm")(noop(build(q)))
      spark.catalog.clearCache()
    }

    mark("warm pass done")
    // A full collection before timing and after each pass, outside every
    // sample: the old generation then holds what queries keep alive plus
    // one pass of promotions, so peak RSS follows retained memory rather
    // than how many passes a run fitted, and every pass starts on a clean heap.
    System.gc()
    println("@@timed_start")
    Console.flush()
    // Whole passes, each in a new order, until the budget is spent: every
    // query gets the same number of samples, so no partial pass tilts the
    // mix of queries the run's median is taken over.
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      for ((q, i) <- order(pass).zipWithIndex) {
        if (!traced) timed(q, pass, tracePass = false)
        else {
          val tracedFirst = (pass + i) % 2 == 0
          timed(q, pass, tracedFirst)
          timed(q, pass, !tracedFirst)
        }
      }
      System.gc()
      pass += 1
    }

    if (traced) tracer.writeSpans(args("spans"))
    println("@@result " + Json(ListMap("passes" -> pass, "attempted" -> attempted,
      "failures" -> failures, "samples" -> samples, "traced_samples" -> tracedSamples,
      "stolen" -> stolen,
      "rows" -> rows)))
    Console.flush()
    while (System.in.read() >= 0) {}
    spark.stop()
  }
}

/** Listener-side counters for one phase of one traced query. */
final class PhaseAcc {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shReadB = 0L; var shWriteB = 0L; var spillB = 0L
  var inB = 0L; var outB = 0L
  val jobSpans = ArrayBuffer[(Int, Long, Long)]()
  val batchMs = ArrayBuffer[Long]()
  val stateRows = mutable.LinkedHashMap[String, Long]() // stream run id -> last total
  val execs = ArrayBuffer[QueryExecution]()
}

/** Traced-run instrumentation. The harness labels each phase with a job
  * group, and the listener attributes every job, task, query execution
  * and streaming progress event that arrives during a phase to that
  * phase: the bus is drained before the next phase starts. Attribution
  * goes by phase window, not by group, because streaming micro-batches
  * run under their own job group, and graft's replays start them on a
  * forked session whose `StreamingQueryListener`s the harness cannot
  * reach; their progress events still pass this shared bus. */
final class Tracer(spark: ClassicSession) extends SparkListener
    with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  @volatile private var current = new PhaseAcc
  private val stagePhase = mutable.HashMap[Int, PhaseAcc]()
  private val jobStart = mutable.HashMap[Int, (PhaseAcc, Long)]()
  private val spans = ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val a = current
    a.jobs += 1
    e.stageIds.foreach(stagePhase(_) = a)
    jobStart(e.jobId) = (a, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (a, t) => a.jobSpans += ((e.jobId, t, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.getOrElse(e.stageInfo.stageId, current).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stagePhase.getOrElse(e.stageId, current)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shReadB += m.shuffleReadMetrics.totalBytesRead
      a.shWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.diskBytesSpilled
      a.inB += m.inputMetrics.bytesRead
      a.outB += m.outputMetrics.bytesWritten
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val a = current
      a.batchMs += Option(p.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      a.stateRows(p.progress.runId.toString) = p.progress.stateOperators.map(_.numRowsTotal).sum
    }
    case _ =>
  }
  private val qel = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized { current.execs += qe }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def span(name: String, parent: Long, start: Long, end: Long): Long = {
    val id = spans.size.toLong
    spans += ListMap("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> start, "end_ms" -> end)
    id
  }

  /** Runs one query as build -> plan -> exec under per-phase job groups,
    * with the listeners attached, and returns its per-query row. */
  def traceQuery(q: String, pass: Int, build: () => DataFrame): Map[String, Any] = {
    SparkBus.drain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(qel)
    def phase[A](name: String)(body: => A): (A, PhaseAcc, Long, Long) = {
      val a = new PhaseAcc
      current = a
      sc.setJobGroup(s"$q|$pass|$name", s"perfbench $q $name", interruptOnCancel = false)
      val startMs = System.currentTimeMillis(); val n0 = System.nanoTime()
      val r = try body finally sc.clearJobGroup()
      val ns = System.nanoTime() - n0
      SparkBus.drain(sc)
      (r, a, startMs, ns)
    }
    val (df, b, bStart, bNs) =
      try phase("build")(build())
      catch { case e: Throwable => detach(); throw e }
    val (_, p, pStart, pNs) = phase("plan")(df.queryExecution.executedPlan)
    val (_, e, eStart, eNs) =
      try phase("exec")(df.write.format("noop").mode("overwrite").save())
      finally detach()

    val qSpan = span(q, -1, bStart, eStart + eNs / 1000000)
    for ((name, a, start, ns) <- Seq(("build", b, bStart, bNs), ("plan", p, pStart, pNs),
                                     ("exec", e, eStart, eNs))) {
      val ps = span(name, qSpan, start, start + ns / 1000000)
      a.jobSpans.foreach { case (id, s, t) => span(s"job $id", ps, s, t) }
    }
    val all = Seq(b, p, e)
    def sum(f: PhaseAcc => Long): Long = all.map(f).sum
    val finalPlan = e.execs.lastOption.map(_.executedPlan)
    def count(pf: PartialFunction[SparkPlan, Int]): Int =
      finalPlan.map(collectWithSubqueries(_)(pf).sum).getOrElse(0)
    val filesRead = all.flatMap(_.execs).map { qe =>
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }.sum

    ListMap(
      "query" -> q, "pass" -> pass,
      "build_s" -> bNs / 1e9, "plan_s" -> pNs / 1e9, "exec_s" -> eNs / 1e9,
      "build_jobs" -> b.jobs, "plan_jobs" -> p.jobs, "exec_jobs" -> e.jobs,
      "exec_stages" -> e.stages, "exec_tasks" -> e.tasks,
      "exec_task_s" -> e.taskMs / 1e3, "exec_task_cpu_s" -> e.cpuNs / 1e9,
      "exec_gc_s" -> e.gcMs / 1e3,
      "shuffle_read_b" -> sum(_.shReadB), "shuffle_write_b" -> sum(_.shWriteB),
      "spill_b" -> sum(_.spillB), "input_b" -> sum(_.inB), "output_b" -> sum(_.outB),
      "exchanges" -> count { case _: ShuffleExchangeLike => 1 },
      "scans" -> count { case _: FileSourceScanExec => 1; case _: BatchScanExec => 1 },
      "smj" -> count { case _: SortMergeJoinExec => 1 },
      "bhj" -> count { case _: BroadcastHashJoinExec => 1 },
      "files_read" -> filesRead,
      "rdds_left" -> sc.getPersistentRDDs.size,
      "cached_plans_left" -> Tracer.cachedPlans(spark),
      "stream_batches" -> all.map(_.batchMs.size).sum,
      "batch_ms" -> all.flatMap(_.batchMs),
      "state_rows" -> all.map(_.stateRows.values.sum).sum)
  }

  private def detach(): Unit = {
    SparkBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
    synchronized { stagePhase.clear(); jobStart.clear() }
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, spans.map(Json(_)).mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Cache-manager entries; the list itself is private to Spark. */
  def cachedPlans(spark: ClassicSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }
}

/** Machine-wide CPU time from /proc/stat, in clock ticks: (busy, stolen).
  * On a virtual machine, stolen time is time a runnable vCPU waited while
  * the hypervisor ran other tenants: load from outside, not this JVM's work. */
object HostCpu {
  def ticks(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").tail.map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7)) // user nice system irq softirq; steal
  }

  /** Share of the CPU time wanted between two readings that was stolen. */
  def stolenShare(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1; val st = b._2 - a._2
    if (busy + st == 0) 0.0 else st.toDouble / (busy + st)
  }
}

object Json {
  def apply(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
