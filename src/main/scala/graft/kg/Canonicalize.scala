package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.{GraphOps, LocalGate}
import Model.TripleRow

/** Entity canonicalization via connected components over owl:sameAs edges
  * (SURVEY.md §2.5): every vertex is labelled with the smallest IRI of its
  * component, which becomes the canonical id.
  *
  * The components come from [[graft.ops.GraphOps.connectedComponents]]'s
  * union-find and pointer-doubling loop: IRIs are interned to BIGINT ranks
  * in Spark's string order (UTF-8 bytes, the order SQL `min` uses), so the
  * shared min-id label is exactly the smallest IRI on both paths. Edges
  * are deduplicated BEFORE the components run — hub entities appear in
  * ~20% of documents, so raw edge multiplicity is power-law; dedup
  * collapses it to vocabulary scale and is itself skew-safe (partial
  * aggregation does the heavy lifting map-side).
  */
object Canonicalize {

  /** sameAs edges from the triple stream (iri ↔ iri). Column-level filter
    * and projection so the scan over the staged parquet is pruned and the
    * predicates are pushed down.
    *
    * NOT deduplicated here: [[connectedComponents]] dedups once as part of
    * its size-gate probe (and union-find is idempotent per edge anyway), so
    * deduping here too would just add a second shuffle. */
  def sameAsEdges(triples: Dataset[TripleRow]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.toDF().filter(isSameAsEdge)
      .select($"subj".as("src"), $"obj_value".as("dst"))
  }

  /** The row predicate of [[sameAsEdges]] over the triple columns: a
    * well-formed IRI → IRI `owl:sameAs` triple. */
  val isSameAsEdge: Column = col("error").isNull && col("pred") === PagesSource.SAME_AS &&
    col("obj_kind") === "iri" && col("subj_kind") === "iri"

  /** Size gate for the driver-local CC path, in DISTINCT edges: below it
    * the whole component computation is cheaper on the driver (one dedup
    * pass + collect + union-find) than the distributed loop's iterations
    * × (join + agg + checkpoint + probe) jobs. Same spirit as AQE's
    * broadcast gate: tiny data wants a local algorithm. */
  val LOCAL_CC_MAX_EDGES = 1000000

  /** Connected components over (src, dst) string edges. Output:
    * (id, canonical) — every vertex labeled with the smallest IRI of its
    * component in Spark's string order.
    *
    * One [[graft.ops.LocalGate.collectAtMost]] over the DISTINCT edges
    * picks the path (at 4M synthetic pages there are ~600k raw but only
    * ~6k distinct edges):
    *  - ≤ LOCAL_CC_MAX_EDGES: [[localCC]] over the collected edges. The
    *    result is a local relation, so downstream joins against it
    *    broadcast without stats guessing;
    *  - otherwise: [[distributedCC]] recomputes the distinct edges. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val distinct = edges.select($"src", $"dst").distinct()
    LocalGate.collectAtMost(distinct.as[(String, String)], LOCAL_CC_MAX_EDGES) match {
      case Some(es) => localCC(spark, es)
      case None => distributedCC(distinct)
    }
  }

  /** The under-gate path over collected `(src, dst)` edges: the edges'
    * IRIs are sorted on the driver and their ranks go through GraphOps'
    * union-find. Output as [[connectedComponents]]'s, as a local relation. */
  private[kg] def localCC(spark: SparkSession, es: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val iris = es.flatMap(e => Array(e._1, e._2)).distinct
      .map(UTF8String.fromString).sorted.map(_.toString)
    val rank = iris.zipWithIndex.toMap
    val labels = GraphOps.localComponents(
      es.map(e => rank(e._1).toLong), es.map(e => rank(e._2).toLong))
    spark.createDataset(labels.toIndexedSeq.map { case (n, c) =>
        (iris(n.toInt), iris(c.toInt)) })
      .toDF("id", "canonical")
  }

  /** The above-gate path (directly callable in tests): rank every IRI in
    * one sort, checkpointed so a recompute cannot renumber, run GraphOps'
    * pointer-doubling loop over the ranks, and join the labels back. */
  private[kg] def distributedCC(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ranks = edges.select($"src".as("iri")).union(edges.select($"dst"))
      .distinct().orderBy($"iri").as[String].rdd.zipWithIndex()
      .toDF("iri", "r").localCheckpoint()
    def ranked(iriCol: String, rCol: String) =
      ranks.select($"iri".as(iriCol), $"r".as(rCol))
    val ids = edges.join(ranked("src", "u"), "src").join(ranked("dst", "v"), "dst")
    GraphOps.distributedComponents(ids.select($"u", $"v"))
      .join(ranked("id", "n"), "n").join(ranked("canonical", "component"), "component")
      .select($"id", $"canonical")
  }

  /** Rewrite triples so subjects/objects use canonical entity ids.
    * Both joins are LEFT joins against the label table; non-entities pass
    * through unchanged.
    *
    * NO forced broadcast() hint: the label table is sized by the number of
    * distinct IRIs in sameAs components — corpus-scale at 100 TB, not
    * vocabulary-scale — so a forced broadcast is a driver/executor OOM.
    * The labels come out of the CC loop localCheckpoint'ed, so AQE has real
    * size stats and picks broadcast when (and only when) the table is under
    * spark.sql.autoBroadcastJoinThreshold, falling back to sort-merge with
    * skew-join splitting above it. */
  def canonicalizeTriples(triples: Dataset[TripleRow], labels: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val l = labels.select($"id", $"canonical")
    triples.toDF()
      .join(l.as("ls"), $"subj" === $"ls.id", "left")
      .withColumn("subj_c", coalesce($"ls.canonical", $"subj"))
      .drop("id", "canonical")
      .join(l.as("lo"),
        $"obj_kind" === "iri" && $"obj_value" === $"lo.id", "left")
      .withColumn("obj_c", coalesce($"lo.canonical", $"obj_value"))
      .drop("id", "canonical")
      .select($"url", $"block", $"subj_c".as("subj"), $"subj_kind", $"pred",
        $"obj_kind", $"obj_c".as("obj_value"), $"obj_datatype", $"obj_lang",
        $"error")
  }
}
