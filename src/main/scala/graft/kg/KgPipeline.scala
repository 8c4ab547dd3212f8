package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
    b.getOrCreate()
  }

  final case class Result(
      pages: Long,
      triples: Long,
      errors: Long,
      linkedMentions: Long,
      components: Long,
      lineage: DataFrame)

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
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val linkedCountF = Future(EntityLinking.run(triples).count())

    val edges = Canonicalize.sameAsEdges(triples)
    // size-gated: driver-local union-find under the edge bound, else the
    // distributed pointer-doubling loop (which localCheckpoints per round)
    val labels = Canonicalize.connectedComponents(edges)

    val canonical = Canonicalize.canonicalizeTriples(triples, labels)

    val componentsF =
      Future(labels.agg(countDistinct($"canonical")).head().getLong(0))

    val lineage = Materialize.write(canonical, outDir)

    // totals come out of the (tiny, already-written) lineage table — one
    // small collect instead of two extra passes over the triple stream
    val totals = lineage.agg(sum($"triples"), sum($"errors")).head()
    def lng(i: Int): Long = if (totals.isNullAt(i)) 0L else totals.getLong(i)

    Result(n, lng(0), lng(1),
      Await.result(linkedCountF, Duration.Inf),
      Await.result(componentsF, Duration.Inf), lineage)
  }
}
