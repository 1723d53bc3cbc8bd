package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-phase Spark and Catalyst counters read from Spark's public listener
  * events. A phase is a wall-clock interval the workload opens and closes;
  * a job belongs to the phase its submission time falls in, and its stages
  * and tasks follow it. Events outside every interval (warm-up) are dropped.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var open: Option[(String, Long)] = None
  private val stagePhase = mutable.Map.empty[Int, String]
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]

  private def phaseAt(ms: Long): Option[String] = synchronized {
    intervals.collectFirst { case (p, s, e) if ms >= s && ms < e => p }
      .orElse(open.collect { case (p, s) if ms >= s => p })
  }

  private def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def begin(phase: String): Unit = synchronized { open = Some(phase -> System.currentTimeMillis()) }

  def end(): Unit = {
    val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    synchronized {
      open.foreach { case (p, s) =>
        intervals += ((p, s, System.currentTimeMillis() + 1))
        counters(s"$p.spark.storage_bytes_end") = stored.toDouble
      }
      open = None
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    phaseAt(e.time).foreach { p =>
      add(s"$p.spark.jobs", 1)
      synchronized { e.stageIds.foreach(stagePhase(_) = p) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stagePhase.get(e.stageInfo.stageId)).foreach(p => add(s"$p.spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(stagePhase.get(e.stageId)).foreach { p =>
      val m = e.taskMetrics
      add(s"$p.spark.tasks", 1)
      if (m != null) {
        add(s"$p.spark.task_run_s", m.executorRunTime / 1e3)
        add(s"$p.spark.task_cpu_s", m.executorCpuTime / 1e9)
        add(s"$p.spark.gc_s", m.jvmGCTime / 1e3)
        add(s"$p.spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s"$p.spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s"$p.spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(s"$p.spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    phaseAt(start).foreach { p =>
      for ((name, key) <- Seq("analysis" -> "analysis_s", "optimization" -> "optimization_s",
          "planning" -> "planning_s"); s <- phases.get(name))
        add(s"$p.catalyst.$key", s.durationMs / 1e3)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until the listener buses have delivered every event posted so far:
    * the task count stops moving for a quiet period. */
  def drain(): Unit = {
    var last = -1.0
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = synchronized(counters.values.sum)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
