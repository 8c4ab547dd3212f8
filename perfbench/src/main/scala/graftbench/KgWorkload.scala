package graftbench

import java.nio.file.{Files, Paths}
import graft.kg._
import graft.ops.SkewOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `kg_pipeline`: `KgPipeline.run` over the same synthetic pages at
  * local[cores]; a round is one run. After the rounds, a staged read of the
  * table the last run materialized (readTriples → EntityLinking.run →
  * entityMentionCounts), timed once and checked. The traced run adds the
  * local[1] run, a replay of the pipeline's stages, one span each, and the
  * curation queries ([[CurationQueries.traced]]).
  *
  * The synthesizer is a pure function of the page index, so the seed does
  * not change the input; it is recorded with the page count. */
object KgWorkload {
  val Pages: Long = 10000L
  val WarmPages = 500L
  val WarmRuns = 4

  /** The consumer read of a materialized table: mentions per entity. */
  def stagedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SkewOps.entityMentionCounts(EntityLinking.run(
      Materialize.readTriples(s, dir).drop("bucket").as[Model.TripleRow]))
  }

  def run(o: Opts, rec: Recorder): Unit = {
    rec.info("pages") = Pages.toString
    var dirs = 0
    var lastDir = ""
    def freshDir(): String = {
      if (lastDir.nonEmpty) Sessions.deleteTree(Paths.get(lastDir))
      dirs += 1
      lastDir = o.work.resolve(s"kg-$dirs").toString
      lastDir
    }
    def session(cores: Int): SparkSession = {
      Sessions.stop()
      KgPipeline.session(s"local[$cores]", 2 * cores)
    }

    var spark = session(o.cores)

    // the last pipeline call's own time: a round's work, without the
    // previous table's deletion and the manifest read
    var runS = 0.0
    def pipeline(s: SparkSession, sample: String, n: Long = Pages): Map[String, String] = {
      val d = freshDir()
      val t0 = Host.now()
      val r = KgPipeline.run(s, n, d)
      runS = Host.now() - t0
      rec.sample(sample, runS)
      val (nb, done) = Materialize.readManifestFull(d)
      Map("triples" -> r.triples.toString, "errors" -> r.errors.toString,
        "linked_mentions" -> r.linkedMentions.toString,
        "components" -> r.components.toString,
        "manifest_complete" -> nb.exists(n => done == (0 until n).toSet).toString)
    }
    def stagedRead(s: SparkSession): DataFrame = KgWorkload.stagedRead(s, lastDir)
    // the staged read's sink is its content hash: every column computed,
    // and the result checked
    def stagedCheck(s: SparkSession, sample: String): Map[String, String] = {
      val t0 = Host.now()
      val h = Sessions.rowsAndHash(stagedRead(s))
      rec.sample(sample, Host.now() - t0)
      h.map { case (k, v) => s"staged_$k" -> v }
    }
    val pipeKey = s"kg.pipeline.$Pages"
    /** A full-size run as a checked row whose work is the pipeline call. */
    def pipelineRow(kind: String)(body: => Map[String, String]): Unit = {
      rec.row(kind, "pipeline", checkKey = pipeKey)((0, body))
      rec.setWork(runS)
    }
    // once per run, after the rounds: the materialized table's content hash
    // and the staged read over it
    def checkTable(s: SparkSession, listener: Option[TaskListener] = None): Unit =
      rec.row("check", "table+staged_read", checkKey = s"kg.table.$Pages") {
        val table = Sessions.rowsAndHash(Materialize.readTriples(s, lastDir).drop("bucket"))
        val staged = listener match {
          case Some(l) => l.within(s.sparkContext, "kg.staged")(stagedCheck(s, "staged_read_s"))
          case None => stagedCheck(s, "staged_read_s")
        }
        (0, table ++ staged)
      }

    // the warm-up, checked, not timed: a pipeline run and staged read on
    // fewer pages, then full-size runs until the JIT has settled (the
    // first full run is about half again as slow as the fifth)
    rec.row("warmup", "pipeline+staged_read", checkKey = s"kg.warmup.$WarmPages") {
      (0, pipeline(spark, "warmup_s", WarmPages) ++ stagedCheck(spark, "warmup_s"))
    }
    for (_ <- 0 until WarmRuns) pipelineRow("warmup")(pipeline(spark, "warmup_s"))
    if (!o.trace) {
      Sessions.loop(Host.now(), o.seconds, minReps = 3) { _ =>
        pipelineRow("round")(pipeline(spark, "pipeline_s"))
      }
      checkTable(spark)
      return
    }

    // traced: the same pipeline without and with the listener, the staged
    // read, a span-per-stage replay, the curation queries, then the
    // local[1] run
    pipelineRow("ref")(pipeline(spark, "pipeline_s"))
    val sc = spark.sparkContext
    val listener = new TaskListener
    sc.addSparkListener(listener)
    val since = System.currentTimeMillis()
    pipelineRow("traced")(listener.within(sc, "kg.run")(pipeline(spark, "traced_pipeline_s")))
    rec.add("kg.parse_passes", Sessions.rangeRows(spark, since).toDouble / Pages)
    // a second reference after the traced run evens out the JIT's warming
    pipelineRow("ref")(pipeline(spark, "pipeline_s"))
    checkTable(spark, Some(listener))
    val files = Files.walk(Paths.get(lastDir, "triples"))
    try rec.add("kg.staged_files",
      files.filter(_.toString.endsWith(".parquet")).count().toDouble)
    finally files.close()

    replay(spark, rec, listener, freshDir())

    CurationQueries.traced(spark, o, rec, listener)

    val sums = listener.sums(sc)
    for ((k, v) <- sums.getOrElse("kg.run", Map.empty)) rec.add(s"kg.$k", v)
    rec.add("kg.staged_read_cpu_s", sums.get("kg.staged").flatMap(_.get("cpu_s")).getOrElse(0.0))
    for ((group, m) <- sums if group.contains("|"); (k, v) <- m if k != "tasks")
      rec.add(CurationQueries.prefix(group.takeWhile(_ != '|')) + "." + k, v)

    spark = session(1)
    pipelineRow("p1")(pipeline(spark, "pipeline_p1_s"))
  }

  /** Replays `KgPipeline.run`'s stage calls in order, one span each, every
    * stage through the noop sink. Each span records how many page scans
    * it re-ran (from the SQL metrics), so the report can subtract the
    * upstream re-extraction from its duration. */
  private def replay(spark: SparkSession, rec: Recorder, l: TaskListener, dir: String): Unit = {
    val sc = spark.sparkContext
    def stage[A](name: String, upstream: String)(body: => A): A = {
      val since = System.currentTimeMillis()
      val a = rec.span(name, 1, upstream)(l.within(sc, name)(body))
      rec.add(s"replay_passes.$name", Sessions.rangeRows(spark, since).toDouble / Pages)
      a
    }
    val pages = PagesSource.pages(spark, Pages)
    stage("kg.pages", "")(Sessions.noop(pages.toDF()))
    val triples = TripleExtraction.run(pages)
    stage("kg.extract_parse", "kg.pages")(Sessions.noop(triples.toDF()))
    stage("kg.link", "kg.extract_parse")(Sessions.noop(EntityLinking.run(triples)))
    val labels = stage("kg.canonicalize", "kg.extract_parse") {
      val lb = Canonicalize.connectedComponents(Canonicalize.sameAsEdges(triples))
      Sessions.noop(lb)
      lb
    }
    stage("kg.materialize", "kg.extract_parse") {
      Materialize.write(Canonicalize.canonicalizeTriples(triples, labels), dir)
    }
  }
}
