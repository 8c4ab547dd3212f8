package graft.kg

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkException, TestListenerBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import Materialize.Lineage

object MaterializeLineageSpec extends AdaptiveSparkPlanHelper {

  /** The lineage a committed table reads back as: one row per bucket of
    * its manifest, by the two-level aggregate over the written Parquet
    * (distinct `xxhash64(url)` pages, distinct `(xxhash64(url, block),
    * xxhash64(url))` blocks, rows with a null `error` and the others),
    * zero rows for the buckets that hold no data. */
  def readBack(spark: SparkSession, out: String): Seq[Lineage] = {
    import spark.implicits._
    val nb = Materialize.readManifestFull(out)._1.get
    val counted = Materialize.readTriples(spark, out)
      .select($"bucket", xxhash64($"url").as("uh"), xxhash64($"url", $"block").as("ubh"),
        $"error".isNull.as("ok"))
      .groupBy($"bucket", $"ubh", $"uh").agg(
        count(when($"ok", 1)).as("t"),
        count(when(!$"ok", 1)).as("e"))
      .groupBy($"bucket").agg(
        countDistinct($"uh").as("pages"),
        count(lit(1)).as("blocks"),
        sum($"t").as("triples"),
        sum($"e").as("errors"))
      .as[Lineage].collect().map(l => l.bucket -> l).toMap
    (0 until nb).map(b => counted.getOrElse(b, Lineage(b, 0, 0, 0, 0)))
  }

  def rows(spark: SparkSession, lineage: DataFrame): Seq[Lineage] = {
    import spark.implicits._
    lineage.as[Lineage].collect().toSeq.sortBy(_.bucket)
  }

  def manifestRows(out: String): Seq[Lineage] =
    Materialize.readManifestLineage(out)._2.sortBy(_.bucket)

  /** A crash state: the table's real manifest cut down to the buckets
    * `keep` chooses, each with its own lineage row. */
  def keepCommitted(out: String)(keep: Int => Boolean): Unit = {
    val (nb, lineage) = Materialize.readManifestLineage(out)
    Materialize.writeManifest(out, nb.get, lineage.filter(l => keep(l.bucket)))
  }

  /** Parquet file names per bucket directory of the table. */
  def bucketFiles(out: String): Map[Int, Set[String]] = {
    val ls = Files.list(Paths.get(out, "triples"))
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("bucket=")).map { d =>
      val files = Files.list(d)
      try d.getFileName.toString.stripPrefix("bucket=").toInt ->
        files.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally files.close()
    }.toMap
    finally ls.close()
  }

  /** The number of Spark jobs `body` starts. */
  def jobsIn[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val t = body
      TestListenerBus.drain(spark.sparkContext)
      (t, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The executed plans of the queries `body` runs, as a
    * QueryExecutionListener reads them after they finished. */
  def plansIn(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      TestListenerBus.drain(spark.sparkContext)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  def writes(p: SparkPlan): Boolean = find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined

  /** The plan's per-partition functions that run after a shuffle. */
  def countingStages(p: SparkPlan): Seq[MapPartitionsExec] = collect(p) {
    case m: MapPartitionsExec if m.find(_.isInstanceOf[ShuffleQueryStageExec]).isDefined => m
  }

  def sorts(p: SparkPlan): Seq[SortExec] = collect(p) { case s: SortExec => s }
}

class MaterializeLineageSpec extends AnyFunSuite {
  import MaterializeLineageSpec._
  private lazy val spark = SparkTestSession.spark
  private def tmp(): String = Files.createTempDirectory("graft-lineage").toString
  private def canonical(pages: Long): DataFrame = Canonicalize.canonicalizeTriples(
    TripleExtraction.run(PagesSource.pages(spark, pages)),
    spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0))

  test("lineage counted in the write equals the read-back aggregate on a 300-page run") {
    val out = tmp()
    val r = KgPipeline.run(spark, 300, out)
    val want = readBack(spark, out)
    assert(want.exists(_.triples > 0) && want.exists(_.errors > 0))
    assert(rows(spark, r.lineage) == want)
    assert(manifestRows(out) == want)
    assert(r.triples == want.map(_.triples).sum && r.errors == want.map(_.errors).sum)
  }

  test("empty buckets of an explicit bucket count commit zero rows") {
    val out = tmp()
    val lineage = Materialize.write(canonical(20), out, numBuckets = 64)
    val want = readBack(spark, out)
    assert(want.exists(l => l.pages == 0 && l.triples == 0 && l.errors == 0),
      "20 pages over 64 buckets should leave a bucket empty")
    assert(bucketFiles(out).size < 64)
    assert(rows(spark, lineage) == want)
    assert(manifestRows(out) == want)
    assert(Materialize.readManifestFull(out) == (Some(64), (0 until 64).toSet))
  }

  test("a write whose input has error rows counts them as errors") {
    import spark.implicits._
    val raw = TripleExtraction.run(PagesSource.pages(spark, 200)).toDF()
    val out = tmp()
    val lineage = rows(spark, Materialize.write(raw, out, numBuckets = 5))
    assert(lineage.map(_.errors).sum > 0)
    assert(lineage == readBack(spark, out))
    // error rows only: every row lands in `errors`
    val errOut = tmp()
    val errLineage = rows(spark,
      Materialize.write(raw.filter($"error".isNotNull), errOut, numBuckets = 3))
    assert(errLineage.map(_.triples).sum == 0 && errLineage.map(_.errors).sum > 0)
    assert(errLineage == readBack(spark, errOut))
  }

  test("a no-op resume returns the committed lineage and starts no Spark job") {
    val out = tmp()
    val first = rows(spark, Materialize.write(canonical(100), out, numBuckets = 6))
    val input = canonical(100)
    val (again, jobs) = jobsIn(spark)(Materialize.write(input, out))
    assert(jobs == 0)
    assert(rows(spark, again) == first)
    assert(first == readBack(spark, out))
  }

  test("a committed bucket without its lineage row is rewritten") {
    val out = tmp()
    Materialize.write(canonical(100), out, numBuckets = 4)
    val before = bucketFiles(out)
    val want = manifestRows(out)
    // a manifest that names its buckets without rows commits none of them
    val m = new org.apache.hadoop.fs.Path(out, "_manifest.json")
    val os = m.getFileSystem(spark.sparkContext.hadoopConfiguration).create(m, true)
    try os.write("""{"format":"graft-triples-v1","numBuckets":4,"completedBuckets":[0,1,2,3]}"""
      .getBytes("UTF-8"))
    finally os.close()
    assert(Materialize.readManifestFull(out) == (Some(4), Set.empty[Int]))
    Materialize.write(canonical(100), out)
    val after = bucketFiles(out)
    assert(after.keySet == before.keySet)
    assert(after.forall { case (b, files) => (files intersect before(b)).isEmpty })
    assert(manifestRows(out) == want)
    assert(want == readBack(spark, out))
  }

  test("the staging write is sort-free and counts its rows in its own plan") {
    val out = tmp()
    val plans = plansIn(spark)(Materialize.write(canonical(100), out, numBuckets = 4))
    val write = plans.filter(writes)
    assert(write.size == 1, plans.mkString("\n"))
    assert(countingStages(write.head).size == 1, write.head)
    assert(sorts(write.head).isEmpty, write.head)
  }

  test("a write task that sees another bucket's row fails") {
    val acc = spark.sparkContext.collectionAccumulator[Lineage]("test.lineage")
    val df = spark.range(0, 1, 1, 1).select(lit(3).as("bucket"), lit("u").as("url"),
      lit(0).as("block"), lit(null).cast("string").as("error"))
    val e = intercept[SparkException](Materialize.countLineage(df, acc).collect())
    assert(e.getMessage.contains("write task 0 got a row of bucket 3"), e.getMessage)
    assert(acc.value.isEmpty)
  }
}
