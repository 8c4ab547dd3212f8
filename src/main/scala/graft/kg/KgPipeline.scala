package graft.kg

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import Model._

/** End-to-end KG construction (north_star): synthesize/scan pages → extract
  * embedded Turtle → parse + produce triples → entity-link mentions →
  * canonicalize via connected components → materialize partitioned triple
  * tables with lineage + manifest.
  *
  * Session defaults for scale are set in [[session]]: AQE on (coalescing +
  * skew-join splitting), shuffle partitions sized to cores (overridable),
  * broadcast threshold left at default. Broadcast/local decisions in the
  * pipeline stages are size-gated at runtime through
  * [[graft.ops.LocalGate]]: EntityLinking builds its surface map on the
  * driver only under a row bound, Canonicalize switches between GraphOps'
  * driver-local union-find and its distributed pointer-doubling loop on
  * a distinct-edge gate, and everything else lets AQE pick the join
  * strategy from observed sizes.
  */
object KgPipeline {

  def session(master: String, shufflePartitions: Int): SparkSession = {
    val localDir = sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark")
    try java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    catch { case _: Exception => () }
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle + spill files on tmpfs: the container overlay fs adds
      // high-variance IO latency that dwarfs compute at bench scale
      .config("spark.local.dir", localDir)
      // file:// sets permissions in process instead of forking chmod per
      // file and directory (no native Hadoop IO here)
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    b.getOrCreate()
  }

  final case class Result(
      pages: Long,
      triples: Long,
      errors: Long,
      linkedMentions: Long,
      components: Long,
      lineage: DataFrame,
      buckets: Int,
      measuredRows: Option[Long])

  /** How long [[run]] waits for the observed triple count after the CC
    * gate's collect returned: the count reaches its [[Observation]]
    * through the asynchronous query listener, normally within
    * milliseconds. */
  private[kg] val ObservationWait = 10.seconds

  /** The observed row count, or None when it did not arrive within
    * [[ObservationWait]] or Spark completed the observation empty. Spark
    * does the latter when the observed node was optimized out of the
    * executed plan, as it is for 0 pages: such a run takes the cap
    * without waiting (about 1.1 s for a warm `run(spark, 0, out)` on
    * 4 cores). */
  private def observedRows(o: Observation): Option[Long] =
    Try(Await.result(o.future, ObservationWait)).toOption
      .filter(_.length > 0).map(_.getLong(0))

  /** Run the full pipeline over n synthetic pages, materializing to outDir. */
  def run(spark: SparkSession, n: Long, outDir: String): Result = {
    import spark.implicits._

    val pages: Dataset[Page] = PagesSource.pages(spark, n)

    // Downstream consumers re-run the parse per pass, deliberately:
    //  - .cache() is slower at high parallelism (MemoryStore writes
    //    serialize under 32 concurrent tasks — measured slower than
    //    local[8]);
    //  - parquet staging (write once, read per consumer) was also measured
    //    slower at this corpus shape: one parse pass costs ~1.7s at
    //    local[32] vs a 10.5M-row staging write + four reads. For corpora
    //    where parse dominates IO (heavier documents), stage to parquet
    //    here instead — the recovery-boundary structure is in
    //    Materialize.write already.
    val triples: Dataset[TripleRow] = TripleExtraction.run(pages)

    // independent actions run as concurrent Spark jobs: the scheduler
    // interleaves their stages, so the linking chain (including its eager
    // size-gated collect inside EntityLinking.link) overlaps the CC
    // iterations and the write instead of adding serial job latency
    val linkedCountF = Future(EntityLinking.run(triples).count())

    // the sameAs edges are filtered from counted triples: the CC gate's
    // eager collect scans every triple on either gate branch, so the count
    // (= the rows the write will stage) is complete when the gate returns
    // and sizes a new table without a pass of its own
    val observed = Observation()
    val edges = Canonicalize.sameAsEdges(triples.observe(observed, count(lit(1))))
    // size-gated: driver-local union-find under the edge bound, else the
    // distributed pointer-doubling loop (which localCheckpoints per round)
    val labels = Canonicalize.connectedComponents(edges)

    val canonical = Canonicalize.canonicalizeTriples(triples, labels)

    val componentsF =
      Future(labels.agg(countDistinct($"canonical")).head().getLong(0))

    val measuredRows = observedRows(observed)
    val lineage = Materialize.write(canonical, outDir,
      numBuckets = measuredRows.fold(0)(Materialize.autoBuckets(spark, _)))

    // totals come out of the (tiny, already-written) lineage table — one
    // small collect instead of two extra passes over the triple stream
    val totals = lineage.agg(sum($"triples"), sum($"errors")).head()
    def lng(i: Int): Long = if (totals.isNullAt(i)) 0L else totals.getLong(i)

    // the table's bucket count as committed: a resumed table keeps its own
    val buckets = Materialize.readManifestFull(outDir)._1.getOrElse(
      throw new IllegalStateException(s"no manifest in $outDir after the write"))

    Result(n, lng(0), lng(1),
      Await.result(linkedCountF, Duration.Inf),
      Await.result(componentsF, Duration.Inf), lineage, buckets, measuredRows)
  }
}
