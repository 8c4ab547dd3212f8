package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Host readings taken from outside the program under test. */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    catch { case _: Exception => "" }

  /** The aggregate `cpu` line of /proc/stat, raw; the steal fraction over a
    * row is computed from two of these by the report (run.py). */
  def statLine(): String =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).getOrElse("")

  def load1(): Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Peak resident set size (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread), in seconds. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  private val collectors = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toArray
  }

  /** Collection time of every collector so far, in seconds; allocates
    * nothing, so it can be read around a call whose allocation is counted. */
  def gcS(): Double = {
    var ms = 0L
    var i = 0
    while (i < collectors.length) {
      ms += math.max(0L, collectors(i).getCollectionTime)
      i += 1
    }
    ms / 1e3
  }

  def now(): Double = System.nanoTime() / 1e9
}

/** One timed row: an operation (or a pass of operations) with the window
  * evidence it ran in. `check` holds values the report compares with the
  * pinned expectations; `ops`/`failed` count the operations inside; `work`,
  * when set, is the timed part of the row's wall time. */
final case class Row(kind: String, name: String, t0: Double, t1: Double,
    cpuS: Double, stat0: String, stat1: String, load1: Double,
    ops: Int, failed: Int, error: String, check: Map[String, String],
    checkKey: String, work: Double = Double.NaN)

final case class Span(id: Int, name: String, parent: Int, replays: String,
    run: Int, t0: Double, t1: Double)

/** In-memory record of one benchmark process: its set-up time, timed rows,
  * spans and layer readings. Written once, as JSON, when the run ends. */
final class Recorder {
  val jvmStart: Double = Host.now() -
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  val rows = ArrayBuffer.empty[Row]
  val spans = ArrayBuffer.empty[Span]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** Start of the first timed row: set-up is everything before it, from
    * JVM start through session creation, input preparation and warm-up. */
  private var firstTimed = Double.NaN

  /** Times `body` as one row. A throw counts every op of the row failed.
    * Rows of kind `round` or `ref` are the timed ones. */
  def row(kind: String, name: String, ops: Int = 1, checkKey: String = "")(
      body: => (Int, Map[String, String])): Boolean = {
    val stat0 = Host.statLine()
    val cpu0 = Host.processCpuS()
    val t0 = Host.now()
    if (firstTimed.isNaN && (kind == "round" || kind == "ref")) firstTimed = t0
    val (failed, check, err) =
      try { val (f, c) = body; (f, c, "") }
      catch { case e: Throwable =>
        System.err.println(s"BENCH op $name failed: $e")
        e.printStackTrace()
        (ops, Map.empty[String, String], e.toString)
      }
    val t1 = Host.now()
    rows += Row(kind, name, t0, t1, Host.processCpuS() - cpu0, stat0,
      Host.statLine(), Host.load1(), ops, failed, err, check, checkKey)
    err.isEmpty && failed == 0
  }

  /** Sets the timed work of the last row (a part of its wall time). */
  def setWork(seconds: Double): Unit = rows(rows.size - 1) = rows.last.copy(work = seconds)

  private var nextSpan = 0
  private var openSpans = List.empty[Int]

  /** Records a span around `body`; `replays` names a span whose work the
    * body recomputes (its duration is subtracted for self time). */
  def span[A](name: String, run: Int, replays: String = "")(body: => A): A = {
    val id = nextSpan
    nextSpan += 1
    val parent = openSpans.headOption.getOrElse(-1)
    openSpans = id :: openSpans
    val t0 = Host.now()
    try body
    finally {
      openSpans = openSpans.tail
      spans += Span(id, name, parent, replays, run, t0, Host.now())
    }
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  def add(name: String, v: Double): Unit =
    layer(name) = layer.getOrElse(name, 0.0) + v

  def write(path: Path): Unit = {
    import Json._
    val json = obj(
      "setup_s" -> num(firstTimed - jvmStart),
      "peak_rss_mb" -> num(Host.peakRssMb()),
      "info" -> obj(info.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "layer" -> obj(layer.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "samples" -> obj(samples.toSeq.map { case (k, v) => k -> arr(v.map(num)) }: _*),
      "rows" -> arr(rows.map { r =>
        obj("kind" -> str(r.kind), "name" -> str(r.name), "t0" -> num(r.t0),
          "t1" -> num(r.t1), "cpu_s" -> num(r.cpuS), "stat0" -> str(r.stat0),
          "stat1" -> str(r.stat1), "load1" -> num(r.load1),
          "ops" -> r.ops.toString, "failed" -> r.failed.toString,
          "error" -> str(r.error), "check_key" -> str(r.checkKey), "work_s" -> num(r.work),
          "check" -> obj(r.check.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*))
      }),
      "spans" -> arr(spans.map { s =>
        obj("id" -> s.id.toString, "name" -> str(s.name), "parent" -> s.parent.toString,
          "replays" -> str(s.replays), "run" -> s.run.toString,
          "t0" -> num(s.t0), "t1" -> num(s.t1))
      }))
    Files.write(path, json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for the raw record (values pre-rendered). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
