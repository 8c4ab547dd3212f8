package graft.kg

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.execution.{QueryExecution, RangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** `KgPipeline.run`'s one probe pass: both gate outcomes of each part give
  * the all-local run's results, the driver-side linked count equals the
  * join's, and a run scans its pages exactly twice. */
class KgProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-probe").toString

  /** Rows and an order-independent content hash of a materialized table. */
  private def tableHash(out: String): (Long, Long) = {
    val df = Materialize.readTriples(spark, out)
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*),
      lit(1000000007L))
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("each probe part gives the all-local results on either side of its gate") {
    val link = EntityLinking.MAX_LOCAL_NORM_MATCHES
    val cc = Canonicalize.LOCAL_CC_MAX_EDGES
    def once(linkMax: Int, ccMax: Int) = {
      val out = tmp()
      val r = KgPipeline.run(spark, 300, out, linkMax, ccMax)
      ((r.triples, r.errors, r.linkedMentions, r.components, r.buckets),
        r.measuredRows, tableHash(out))
    }
    val local = once(link, cc)
    assert(local._1._3 > 0 && local._1._4 > 0 && local._2.isDefined)
    for ((name, linkMax, ccMax) <- Seq(("linking over", 0, cc),
        ("cc over", link, 0), ("both over", 0, 0)))
      assert(once(linkMax, ccMax) == local, name)
  }

  test("the probe's linked count equals the join's on the adversarial dictionary") {
    import spark.implicits._
    import KgPipelineSpec.{adversarialDict, adversarialSurfaces}
    // surface i occurs i % 3 + 1 times, so counts weigh the duplicate
    // exact matches
    val m = adversarialSurfaces.zipWithIndex
      .flatMap { case (s, i) => Seq.tabulate(i % 3 + 1)(k => (s"http://p/$i/$k", s)) }
      .toDF("url", "surface")
    val dict = spark.createDataset(adversarialDict)
    val counts = m.groupBy($"surface").count().as[(String, Long)].collect()
    val want = EntityLinking.link(m, dict).count()
    assert(want > adversarialSurfaces.size)
    assert(EntityLinking.localLinkedCount(counts, dict).contains(want))
    assert(EntityLinking.localLinkedCount(counts, dict, maxLocal = counts.length - 1).isEmpty)
    assert(EntityLinking.localLinkedCount(counts, dict, maxLocal = adversarialDict.size - 1).isEmpty)
  }

  test("a run scans its pages twice: the probe and the write") {
    val rows = new AtomicLong
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        rows.addAndGet(collect(qe.executedPlan) { case r: RangeExec =>
          r.metrics("numOutputRows").value }.sum)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      KgPipeline.run(spark, 300, tmp())
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(rows.get == 2 * 300)
  }
}
