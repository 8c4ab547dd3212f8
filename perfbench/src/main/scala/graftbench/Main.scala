package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Options handed over by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: Path, root: Path, out: Path)

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *  --work DIR --root DIR --out FILE`: runs one workload and writes the raw
  * record (rows, spans, layer readings) to FILE; run.py turns it into the
  * metrics line. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, Paths.get(kv("work")),
      Paths.get(kv("root")), Paths.get(kv("out")))
    Files.createDirectories(o.work)
    val rec = new Recorder
    rec.info("cores") = o.cores.toString
    rec.info("max_heap_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    o.workload match {
      case "kg_pipeline"  => KgWorkload.run(o, rec)
      case "turtle_docs"  => TurtleWorkload.run(o, rec)
      case "train"        => train(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec.write(o.out)
    Sessions.stop()
  }

  /** One small pass over every workload's code, run once after a build so
    * the JVM can archive the classes they load (class-data sharing); later
    * runs start from that archive instead of loading the classes again. */
  private def train(o: Opts): Unit = {
    val spark = graft.kg.KgPipeline.session(s"local[${o.cores}]", 2 * o.cores)
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val dir = o.work.resolve("train-kg").toString
    listener.within(spark.sparkContext, "train") {
      graft.kg.KgPipeline.run(spark, 500, dir)
      Sessions.rowsAndHash(KgWorkload.stagedRead(spark, dir))
    }
    Sessions.rangeRows(spark, 0L)
    listener.sums(spark.sparkContext)
    val (fixtures, _) = TurtleWorkload.corpus(o.root)
    for ((_, text) <- fixtures; doc <- graft.turtle.TurtleParser.parseFull(text)) {
      graft.turtle.TripleProducer.produce(doc)
      graft.turtle.TurtleSerializer.render(doc)
    }
  }
}

object Sessions {
  /** Stops the active session so the next one can use another master. */
  def stop(): Unit = SparkSession.getActiveSession.foreach { s =>
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Rows and an order-independent content hash of `df`: the sum over rows
    * of xxhash64(every column) mod a prime. Every column is computed. */
  def rowsAndHash(df: DataFrame): Map[String, String] = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*), lit(1000000007L))
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    Map("rows" -> r.getLong(0).toString,
      "hash" -> (if (r.isNullAt(1)) "0" else r.getLong(1).toString))
  }

  /** Runs `df` through the noop sink: every output column is computed and
    * nothing is collected. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Rows produced by every `Range` scan of the SQL executions submitted
    * at or after `sinceMs`, from the session's SQL status store. */
  def rangeRows(spark: SparkSession, sinceMs: Long): Long = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    store.executionsList().filter(_.submissionTime >= sinceMs).map { e =>
      val values = store.executionMetrics(e.executionId)
      store.planGraph(e.executionId).allNodes.filter(_.name == "Range")
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.replaceAll("[^0-9]", "").toLongOption.getOrElse(0L)).sum
    }.sum
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Runs `body` at least `minReps` times, then again while another rep of
    * the mean length so far still ends within `budgetS` of `t0`. */
  def loop(t0: Double, budgetS: Double, minReps: Int)(body: Int => Unit): Unit = {
    var i = 0
    val start = Host.now()
    def more = (Host.now() - t0) + (Host.now() - start) / i <= budgetS
    while (i < minReps || more) {
      body(i)
      i += 1
    }
  }
}
