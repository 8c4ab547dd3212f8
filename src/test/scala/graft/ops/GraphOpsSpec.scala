package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.SparkTestSession

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** groups {10:[1,2,3], 20:[2,3,4], 30:[5]} →
    * edges (1,2)(1,3)(2,3)(2,4)(3,4); triangles {1,2,3} and {2,3,4}. */
  private def memberships = {
    import spark.implicits._
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L), // dup membership row
      (20L, 2L), (20L, 3L), (20L, 4L), (30L, 5L))
      .toDF("g", "it")
  }

  private def edges = GraphOps.coOccurrenceEdges(memberships, "g", "it")

  test("coOccurrenceEdges: distinct u<v pairs within groups, dups collapsed") {
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("coOccurrenceEdges cap keeps the cap smallest items of a group") {
    import spark.implicits._
    val big = Seq.tabulate(5)(i => (1L, (5 - i).toLong)).toDF("g", "it")
    val got = GraphOps.coOccurrenceEdges(big, "g", "it", cap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // kept = {1,2,3} (smallest 3 of 1..5) → pairs among those only
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("degreeCensus matches hand-computed histogram") {
    // degrees: 1→2, 2→3, 3→3, 4→2 → census {2:2 nodes, 3:2 nodes}
    val got = GraphOps.degreeCensus(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(2L -> 2L, 3L -> 2L))
  }

  test("triangleCounts matches hand-computed per-node counts") {
    // triangles {1,2,3}, {2,3,4} → 1:1, 2:2, 3:2, 4:1
    val got = GraphOps.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts is partition-invariant") {
    val base = GraphOps.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val re = GraphOps.triangleCounts(edges.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == re)
  }

  test("pageRankCredits: exact hand-computed 1-iteration credits") {
    import spark.implicits._
    // path graph 1—2—3: deg 1,2,1. seed=1000, damp 80/100 → base=200.
    // sends: node1 → 2: 1000*80/(100*1) = 800; node3 → 2: 800;
    //        node2 → each of 1,3: 1000*80/(100*2) = 400.
    // r1: n1 = 200+400 = 600, n2 = 200+1600 = 1800, n3 = 600.
    val e = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val got = GraphOps.pageRankCredits(e, iters = 1, seed = 1000L,
      dampNum = 80L, dampDen = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 600L, 2L -> 1800L, 3L -> 600L))
  }

  test("pageRankCredits conserves credit up to floor leakage, and is " +
    "partition-invariant") {
    val n = edges.select("u").union(edges.select("v")).distinct().count()
    val pr = GraphOps.pageRankCredits(edges, iters = 3)
    val rows = pr.collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = rows.map(_._2).sum
    // each hop every node leaks < deg integer units to flooring; 3 hops on
    // this 5-node graph → total within [N*seed - tiny, N*seed]
    assert(total <= n * 1000000000L)
    assert(total > (n * 1000000000L * 999L) / 1000L,
      s"floor leakage too large: $total of ${n * 1000000000L}")
    val re = GraphOps.pageRankCredits(edges.repartition(5), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.toSet == re, "integer PageRank must be partition-invariant")
  }

  test("triangleCounts matches brute-force enumeration on random graphs") {
    // adversarial cross-check of the degree-ordered orientation: the same
    // triangle set must come out as a naive lowest-edge enumeration over
    // the collected edge list, across random membership tables
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val nGroups = 15 + rnd.nextInt(15)
      val rows = Seq.fill(150)(
        (rnd.nextInt(nGroups).toLong, rnd.nextInt(20).toLong + 1L))
      val e = GraphOps.coOccurrenceEdges(rows.toDF("g", "it"), "g", "it")
      val edgeSet = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val adj = edgeSet.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupMap(_._1)(_._2).map { case (k, vs) => k -> vs.toSet }
      val exp = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, v) <- edgeSet; w <- adj(u) if w > v && adj(v).contains(w)) {
        exp(u) += 1; exp(v) += 1; exp(w) += 1
      }
      val got = GraphOps.triangleCounts(e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exp.toMap, s"trial $trial: $got vs $exp")
    }
  }

  test("connectedComponents matches union-find on random graphs and paths") {
    import spark.implicits._
    def ufComponents(es: Set[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for ((u, v) <- es) {
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      es.flatMap(e => Seq(e._1, e._2)).map(n => n -> find(n)).toMap
    }
    val rnd = new scala.util.Random(7)
    // sparse random graphs (many components) + a 40-node path whose
    // diameter forces the propagation loop well past 2 iterations
    val cases = (1 to 3).map { _ =>
      Seq.fill(60)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (u, v) => u != v }
        .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    } :+ (0L until 39L).map(i => (i, i + 1)).toSet
    for (es <- cases) {
      val df = es.toSeq.toDF("u", "v").repartition(5)
      def labels(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(GraphOps.connectedComponents(df)) == ufComponents(es))
      // the above-gate pointer-doubling loop on the same graphs
      assert(labels(GraphOps.distributedComponents(df)) == ufComponents(es))
    }
  }

  test("above-gate paths match the gated fast paths (joined triangles, " +
      "pointer-doubling components)") {
    import spark.implicits._
    // the public entry points route small inputs to the broadcast-CSR /
    // local-union-find paths; pin the at-scale shapes to the same answers
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val rows = Seq.fill(150)((rnd.nextInt(25).toLong, rnd.nextInt(40).toLong))
      val e = GraphOps.coOccurrenceEdges(rows.toDF("g", "it"), "g", "it")
      val fast = GraphOps.triangleCounts(e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val joined = GraphOps.triangleCountsJoined(e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(joined == fast, s"trial $trial: joined $joined vs fast $fast")
      // integer-credit PageRank: the driver-local hops must be bit-equal
      // to the per-hop join pipeline (integer sums are order-independent)
      val prFast = GraphOps.pageRankCredits(e, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prJoined = GraphOps.pageRankCreditsJoined(e, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(prJoined == prFast,
        s"trial $trial: pagerank joined $prJoined vs local $prFast")
    }
    // 40-node path: diameter forces the doubling loop well past 2 rounds
    val path = (0L until 39L).map(i => (i, i + 1)).toDF("u", "v")
    val loop = GraphOps.distributedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop == (0L to 39L).map(_ -> 0L).toMap)
    val localUF = GraphOps.connectedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(localUF == loop)
  }

  test("gated operators leave no pinned RDDs behind (round-7 VERDICT #4)") {
    // a long-lived session issuing many graph queries must not accumulate
    // pinned blocks
    val before = spark.sparkContext.getPersistentRDDs.size
    GraphOps.triangleCounts(edges).collect()
    GraphOps.connectedComponents(edges).collect()
    GraphOps.pageRankCredits(edges, iters = 2).collect()
    GraphOps.degreeCensus(edges).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before,
      s"net pinned-RDD increase after gated graph ops: $before -> $after")
  }

  test("a failing edge relation leaves no pinned RDDs in any gated operator") {
    import graft.kg.{Canonicalize, EntityLinking, PagesSource}
    // throws inside the tasks, i.e. while the size gate evaluates the edges
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom edge"); x
    }.asNondeterministic()
    // one partition: one failed task (and one logged trace) per operator
    val bad = spark.range(0, 8, 1, 1)
      .select(boom(col("id")).as("u"), (col("id") + 1).as("v"))
    val badIris = bad.select(col("u").cast("string").as("src"),
      col("v").cast("string").as("dst"))
    val badMentions = bad.select(col("v").cast("string").as("url"),
      col("u").cast("string").as("surface"))
    val gated: Seq[(String, () => Any)] = Seq(
      "triangleCounts" -> (() => GraphOps.triangleCounts(bad)),
      "connectedComponents" -> (() => GraphOps.connectedComponents(bad)),
      "pageRankCredits" -> (() => GraphOps.pageRankCredits(bad)),
      "Canonicalize" -> (() => Canonicalize.connectedComponents(badIris)),
      "EntityLinking" -> (() =>
        EntityLinking.link(badMentions, PagesSource.dictionary(spark))))
    for ((name, run) <- gated) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom edge")), name)
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after <= before, s"$name leaked a pin: $before -> $after")
    }
  }

  test("size gate rejects a negative or Int.MaxValue max before probing") {
    import graft.kg.{EntityLinking, PagesSource}
    val mentions = spark.range(0, 4).select(col("id").cast("string").as("url"),
      lit("Ada Lovelace").as("surface"))
    for (max <- Seq(-1, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](
        LocalGate.collectAtMost(spark.range(0, 4), max))
      assert(e.getMessage.contains("'max'") && e.getMessage.contains(s"got $max"))
      intercept[IllegalArgumentException](EntityLinking.link(mentions,
        PagesSource.dictionary(spark), maxLocal = max))
    }
  }

  test("triangle plan: keyed equi-joins only, no cartesian product") {
    // the above-gate join pipeline is the shape that must never degenerate
    val plan = GraphOps.triangleCountsJoined(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"triangle join degenerated to a cartesian:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"triangle join degenerated to a BNLJ:\n${plan.take(2000)}")
  }
}
