package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The curation layers: thirteen `SparkEntry.queries` over the sf0.01
  * `lineitem` and `documents` tables committed under perfbench/data
  * (byte-for-byte copies of the sf0.01 tables the repository's correctness
  * runs read, kept here so the benchmark reads nothing outside its
  * checkout), each through the noop sink so every output column is
  * computed. Measured per layer only (see [[traced]]): a
  * workload of their own does not fit the benchmark's time budget. */
object CurationQueries {

  /** query -> the layer (module) it exercises; q1_agg is the plain-SQL
    * control that touches no graft operator. */
  val Queries: Vector[(String, String)] = Vector(
    "q1_agg" -> "sql.control",
    "graph_degrees" -> "GraphOps", "graph_triangles" -> "GraphOps",
    "graph_pagerank" -> "GraphOps", "graph_components" -> "GraphOps",
    "dedup_minhash" -> "DedupOps", "dedup_simhash" -> "DedupOps",
    "dedup_span_coverage" -> "DedupOps",
    "text_winnow" -> "TextOps", "text_oov_rate" -> "TextOps",
    "text_pii" -> "TextOps", "text_langid" -> "TextOps",
    "stats_percentile_rank" -> "StatsOps")

  val Scale = "sf0.01"

  /** The layer readings a module's figures are named under. */
  def prefix(module: String): String =
    if (module.startsWith("sql.")) module else s"ops.$module"

  /** Times every query once under the listener, one span each, in an
    * order the seed permutes, after a warm-up pass that checks each query's
    * rows and content hash. Records `ops.<query>_s` and the per-module sums
    * of those times. Runs inside the `kg_pipeline` traced run, on its
    * session; the listener sums are read by the caller. */
  def traced(spark: SparkSession, o: Opts, rec: Recorder, listener: TaskListener): Unit = {
    val dir = o.root.resolve(s"perfbench/data/$Scale").toString
    rec.info("curation_tables") = Scale
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
    for ((q, _) <- Queries)
      rec.row("check", q, checkKey = s"curation.$q")((0, Sessions.rowsAndHash(query(q))))
    val order = new scala.util.Random(o.seed).shuffle(Queries)
    rec.row("traced", "curation_pass", ops = order.size) {
      for ((q, module) <- order) {
        val t0 = Host.now()
        rec.span(s"ops.$q", 2) {
          listener.within(spark.sparkContext, s"$module|$q")(Sessions.noop(query(q)))
        }
        val dt = Host.now() - t0
        rec.add(s"ops.${q}_s", dt)
        rec.add(prefix(module) + "_s", dt)
      }
      (0, Map.empty)
    }
  }
}
