package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Sums Spark task metrics per benchmark group (modelled on the write
  * probe's MetricsAccumulator, kept separate from the program).
  *
  * Attribution: the caller opens a group with [[begin]], which also sets
  * it as the Spark job group of the calling thread. A job counts towards
  * the group named by its job-group property when that group's window
  * contains the job's submission time. Jobs launched from pool threads
  * (the `Future`s inside `KgPipeline.run`) can carry no group or a stale
  * inherited one; those are attributed to the window open when they were
  * submitted. Windows never overlap: the benchmark runs one operation at a
  * time. */
final class TaskListener extends SparkListener {
  import TaskListener._

  private val windows = new java.util.concurrent.CopyOnWriteArrayList[Window]()
  private val jobs = new ConcurrentHashMap[Int, (Long, String)]() // id -> (time, group prop)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSums = new ConcurrentHashMap[Int, Array[Double]]()

  def begin(sc: SparkContext, group: String): Unit = {
    windows.add(Window(group, System.currentTimeMillis(), Long.MaxValue))
    sc.setJobGroup(group, group, interruptOnCancel = false)
  }

  def end(sc: SparkContext, group: String): Unit = {
    sc.clearJobGroup()
    windows.asScala.filter(w => w.group == group && w.t1 == Long.MaxValue)
      .foreach(_.t1 = System.currentTimeMillis())
  }

  def within[A](sc: SparkContext, group: String)(body: => A): A = {
    begin(sc, group)
    try body finally end(sc, group)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val prop = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(js.jobId, (js.time, prop))
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val tm = te.taskMetrics
    if (tm != null) {
      val a = stageSums.computeIfAbsent(te.stageId, _ => new Array[Double](Fields.length))
      a.synchronized {
        a(0) += tm.executorCpuTime / 1e9
        a(1) += tm.jvmGCTime / 1e3
        a(2) += tm.shuffleWriteMetrics.bytesWritten / MB
        a(3) += tm.shuffleReadMetrics.fetchWaitTime / 1e3
        a(4) += (tm.diskBytesSpilled + tm.memoryBytesSpilled) / MB
        a(5) += 1
      }
    }
  }

  private def groupOf(jobId: Int): String =
    Option(jobs.get(jobId)).map { case (time, prop) =>
      val ws = windows.asScala
      def contains(w: Window) = w.t0 <= time && time <= w.t1
      ws.find(w => w.group == prop && contains(w))
        .orElse(ws.find(contains)).map(_.group).getOrElse("")
    }.getOrElse("")

  /** group -> metric -> sum (including `stages`). Drains the listener bus
    * first, so every finished task is counted. */
  def sums(sc: SparkContext): Map[String, Map[String, Double]] = {
    org.apache.spark.BenchBus.drain(sc)
    stageSums.asScala.toSeq
      .groupBy { case (stage, _) => Option(stageJob.get(stage)).map(groupOf).getOrElse("") }
      .map { case (g, stages) =>
        val tot = new Array[Double](Fields.length)
        stages.foreach { case (_, a) => a.indices.foreach(i => tot(i) += a(i)) }
        g -> (Fields.zip(tot).toMap + ("stages" -> stages.size.toDouble))
      }
  }
}

object TaskListener {
  private final case class Window(group: String, t0: Long, var t1: Long)
  val Fields: Vector[String] =
    Vector("cpu_s", "gc_s", "shuffle_write_mb", "fetch_wait_s", "spill_mb", "tasks")
  private val MB = 1024.0 * 1024.0
}
