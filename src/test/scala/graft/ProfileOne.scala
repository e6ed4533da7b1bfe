package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Scratch profiling harness: run one registered query once (warm) and
  * report Spark job count, stage count, task count, child processes
  * started (JFR, [[ProcessStarts]]), summed task time, and wall time —
  * separates cluster-side work from driver overhead.
  * Usage: sbt "Test/runMain graft.ProfileOne q_kmeans[,q_x]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(defaultCpus = "32")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
    val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val ms = Option(stageTaskMs.get(s.stageInfo.stageId)).map(_.get).getOrElse(0L)
        stageAgg.put(s.stageInfo.stageId,
          (s.stageInfo.name.take(120), ms, s.stageInfo.numTasks))
        ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          stageTaskMs.computeIfAbsent(t.stageId, _ => new AtomicLong(0L))
            .addAndGet(t.taskInfo.duration)
        }
        ()
      }
    })
    names.foreach { name =>
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      run() // warm
      Thread.sleep(500)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      stageAgg.clear(); stageTaskMs.clear()
      val (wall, procs) = ProcessStarts.during(run())
      Thread.sleep(500) // let listener drain
      println(f"PROFILE $name wall=$wall%.2f jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} procs=${procs.size} taskSec=${taskMs.get / 1e3}%.1f")
      import scala.jdk.CollectionConverters._
      stageAgg.asScala.toSeq.sortBy(-_._2._2).take(8).foreach {
        case (id, (nm, ms, nt)) =>
          println(f"  STAGE $id taskSec=${ms / 1e3}%.1f tasks=$nt $nm")
      }
    }
    spark.stop()
  }
}
