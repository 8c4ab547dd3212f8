package graft.kg

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.LocalGate
import Model._

/** End-to-end KG construction (north_star): synthesize/scan pages → extract
  * embedded Turtle → parse + produce triples → entity-link mentions →
  * canonicalize via connected components → materialize partitioned triple
  * tables whose manifest carries each bucket's lineage row.
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
  *
  * A run parses its pages twice. One [[probe]] pass collects, in a single
  * small aggregate, what the driver needs for linking (distinct mention
  * surfaces with counts), for canonicalization (distinct sameAs edges) and
  * for sizing the new table (the triple count); the write is the second
  * pass. A part over its gate falls back to the stage's own entry point
  * (`EntityLinking.run`, `Canonicalize.connectedComponents`), which
  * re-probes with its own gate.
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

  /** How long [[probe]] waits for the observed triple count after its
    * collect returned: the count reaches its [[Observation]] through the
    * asynchronous query listener, normally within milliseconds. */
  private[kg] val ObservationWait = 10.seconds

  /** The observed row count, or None when it did not arrive within
    * [[ObservationWait]]. Spark completes an observation empty when the
    * observed node was optimized out of the executed plan, which it does
    * only for a plan with no rows (0 pages): that is 0 rows. */
  private def observedRows(o: Observation): Option[Long] =
    Try(Await.result(o.future, ObservationWait)).toOption
      .map(r => if (r.length > 0) r.getLong(0) else 0L)

  /** What one pass over the triples tells the driver: the distinct mention
    * surfaces with their occurrence counts (None above the linking bound),
    * the distinct `owl:sameAs` edges (None above the CC bound), and the
    * triple count, error rows included (None only on a timeout). */
  private[graft] final case class Probe(
      surfaceCounts: Option[Array[(String, Long)]],
      edges: Option[Array[(String, String)]],
      rows: Option[Long])

  /** One aggregate over the rows that are a mention
    * ([[EntityLinking.isMention]]) or a sameAs edge
    * ([[Canonicalize.isSameAsEdge]]), projected to `(mention, a, b)` —
    * `(true, surface, null)` or `(false, src, dst)` — and grouped with a
    * count, fetched by one [[graft.ops.LocalGate.collectAtMost]] bounded by
    * the sum of the two parts' bounds; each part is then held to its own.
    * The triple count is observed below the filter: the aggregate's
    * shuffle-map stage scans every triple whether or not the collect
    * passes its gate, so the count is complete when the collect returns. */
  private[graft] def probe(triples: Dataset[TripleRow],
      linkMax: Int = EntityLinking.MAX_LOCAL_NORM_MATCHES,
      ccMax: Int = Canonicalize.LOCAL_CC_MAX_EDGES): Probe = {
    val spark = triples.sparkSession
    import spark.implicits._
    val observed = Observation()
    val m = EntityLinking.isMention
    val keys = triples.observe(observed, count(lit(1))).toDF()
      .filter(m || Canonicalize.isSameAsEdge)
      .select(m.as("mention"), when(m, $"obj_value").otherwise($"subj").as("a"),
        when(!m, $"obj_value").as("b"))
      .groupBy($"mention", $"a", $"b").count()
      .as[(Boolean, String, String, Long)]
    val got = LocalGate.collectAtMost(keys, linkMax + ccMax)
    Probe(
      got.map(_.collect { case (true, s, _, n) => (s, n) }).filter(_.length <= linkMax),
      got.map(_.collect { case (false, src, dst, _) => (src, dst) }).filter(_.length <= ccMax),
      observedRows(observed))
  }

  /** `EntityLinking.run(triples).count()`: on the driver from the probed
    * surface counts under the gate, else that call itself, which
    * re-probes with its own gate. */
  private[graft] def linkedCount(triples: Dataset[TripleRow], p: Probe,
      linkMax: Int = EntityLinking.MAX_LOCAL_NORM_MATCHES): Long =
    p.surfaceCounts
      .flatMap(EntityLinking.localLinkedCount(_,
        PagesSource.dictionary(triples.sparkSession), linkMax))
      .getOrElse(EntityLinking.run(triples).count())

  /** `Canonicalize.connectedComponents(Canonicalize.sameAsEdges(triples))`:
    * its local branch over the probed edges under the gate, else that call
    * itself, which re-probes with its own gate. */
  private[graft] def componentLabels(triples: Dataset[TripleRow], p: Probe): DataFrame =
    p.edges.fold(Canonicalize.connectedComponents(Canonicalize.sameAsEdges(triples)))(
      Canonicalize.localCC(triples.sparkSession, _))

  /** Run the full pipeline over n synthetic pages, materializing to outDir. */
  def run(spark: SparkSession, n: Long, outDir: String): Result =
    run(spark, n, outDir, EntityLinking.MAX_LOCAL_NORM_MATCHES,
      Canonicalize.LOCAL_CC_MAX_EDGES)

  /** [[run]] with the probe's two bounds given, so tests can send either
    * part, or both, to its fallback. */
  private[kg] def run(spark: SparkSession, n: Long, outDir: String,
      linkMax: Int, ccMax: Int): Result = {
    import spark.implicits._

    val pages: Dataset[Page] = PagesSource.pages(spark, n)

    // The triples are parsed twice per run, by the probe and by the write.
    // The probe's small aggregate is all that linking, canonicalization and
    // the bucket count need, so nothing is cached or staged. Measured on a
    // shared 4-core host (7g heap, 10,000-page rounds): persisting the
    // triples for the run lost 3 of 3 alternating pairs against not
    // persisting (round 1.83/2.21, 1.37/1.53, 1.74/1.86 s; 6.1/7.7,
    // 5.1/5.4, 5.8/6.3 CPU-s): the columnar cache costs more to build than
    // the passes it replaces.
    val triples: Dataset[TripleRow] = TripleExtraction.run(pages)

    val p = probe(triples, linkMax, ccMax)

    // off the main thread: the driver-local linking (or, above its gate,
    // the linking jobs) overlaps the write
    val linkedCountF = Future(linkedCount(triples, p, linkMax))

    val labels = componentLabels(triples, p)
    val canonical = Canonicalize.canonicalizeTriples(triples, labels)

    val componentsF =
      Future(labels.agg(countDistinct($"canonical")).head().getLong(0))

    val lineage = Materialize.write(canonical, outDir,
      numBuckets = p.rows.fold(0)(Materialize.autoBuckets(spark, _)))

    // the table's bucket count and lineage rows as committed: a resumed
    // table keeps its own count, and its totals are the rows' sums
    val (nb, rows) = Materialize.readManifestLineage(outDir)
    val buckets = nb.getOrElse(
      throw new IllegalStateException(s"no manifest in $outDir after the write"))

    Result(n, rows.map(_.triples).sum, rows.map(_.errors).sum,
      Await.result(linkedCountF, Duration.Inf),
      Await.result(componentsF, Duration.Inf), lineage, buckets, p.rows)
  }
}
