package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over co-occurrence graphs — the KG-side consumers of the
  * pipeline's entity/triple output (degree census, clustering structure,
  * centrality). The operators take an undirected edge list `(u, v)` with
  * `u < v`, deduplicated, both BIGINT; [[coOccurrenceEdges]] derives one
  * from any (group, item) membership table.
  *
  * Scale design:
  *  - edge derivation bounds per-group expansion with [[BoundedMinK]]
  *    (buffer ≤ cap longs regardless of group size, map-side partials) —
  *    a 10^7-member group contributes at most cap·(cap−1)/2 pairs instead
  *    of 5·10^13;
  *  - triangle counting uses degree-ordered orientation (node-iterator++,
  *    Schank & Wagner SEA'05): every edge is directed from its
  *    lower-(degree, id) endpoint, so each out-degree is O(√m) on heavy
  *    nodes and the wedge work is bounded by O(m^1.5) worst case instead
  *    of Σ deg² — the classic star-node blowup cannot happen. Below
  *    [[BROADCAST_EDGE_LIMIT]] the whole oriented adjacency fits the same
  *    memory budget a broadcast join would use, so the wedge intersection
  *    runs against a broadcast CSR index (no joins, no 10·m-row wedge
  *    stream); above it the same orientation runs as shuffled equi-joins —
  *    the only memory-safe option at 10⁹ edges;
  *  - PageRank runs in INTEGER credit units (floor division each hop), so
  *    results are bit-exact and order-independent — no float summation
  *    drift between engines, partitionings, or replays.
  */
object GraphOps {

  /** Per-group member cap for [[coOccurrenceEdges]] (same role as
    * DedupOps.BUCKET_CAP): groups beyond the cap keep their `cap` smallest
    * item ids (deterministic, partition-invariant). Inactive on the bench
    * tables — TPC-H-ish orders have ≤ 7 lines — and sized so a pathological
    * group costs ≤ cap²/2 ≈ 32k pairs, not |group|². */
  val GROUP_CAP = 256

  /** Undirected co-occurrence edges from a (group, item) membership table:
    * `u < v` iff some group contains both. A distinct on the membership
    * pair and the bounded min-k per group (one shuffle each), pair
    * generation narrow via posexplode over the sorted kept array, then one
    * distinct shuffle on the edge key. */
  def coOccurrenceEdges(memberships: DataFrame, groupCol: String,
                        itemCol: String, cap: Int = GROUP_CAP): DataFrame = {
    val minK = udaf(new BoundedMinK(cap))
    memberships.select(col(groupCol).as("g"), col(itemCol).cast("long").as("it"))
      .distinct()
      .groupBy(col("g")).agg(minK(col("it")).as("mk"))
      .select(col("mk").getField("ids").as("items"))
      // items is sorted ascending: u = items[i] (0-based), v ranges over the
      // 1-based suffix starting at i+2 — exactly the u < v pairs, no filter
      .select(posexplode(col("items")).as(Seq("i", "u")), col("items"))
      .select(col("u"),
        explode(slice(col("items"), col("i") + lit(2), size(col("items"))))
          .as("v"))
      .distinct()
  }

  /** Degree of every node of an undirected edge list.
    *
    * Explode-based (one subtree), NOT a union of two projections: a u-only
    * and a v-only branch are pruned to different column sets, which forks
    * the (expensive) edge-derivation subtree out of AQE exchange reuse and
    * computes it twice — the text_index_stats round-7 lesson applied to
    * graphs. One Generate keeps it one pass. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Degree histogram: (degree, n_nodes). Two partial-agg shuffles, the
    * second over ≤ max-degree distinct keys. */
  def degreeCensus(edges: DataFrame): DataFrame =
    degrees(edges)
      .groupBy(col("deg").as("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Edge-count gate of the triangle, CC and PageRank operators. Each one
    * fetches the edge list through [[LocalGate.collectAtMost]] (the size
    * probe is the fetch) and, at or below the gate, runs its driver-side
    * algorithm over the two endpoint arrays: the bytes a broadcast join
    * would ship to every executor anyway (the triangle index was measured
    * 4× faster than the broadcast joins on the 1.2M-edge bench graph).
    * Above the gate each runs its shuffled-join pipeline over the raw
    * edges, the only memory-safe option at 10⁹ edges. */
  val BROADCAST_EDGE_LIMIT = 4000000

  /** The edge list as two endpoint arrays `(us, vs)` when it has at most
    * [[BROADCAST_EDGE_LIMIT]] rows, else `None`. */
  private def collectEdges(edges: DataFrame): Option[(Array[Long], Array[Long])] = {
    import edges.sparkSession.implicits._
    LocalGate.collectAtMost(
        edges.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)],
        BROADCAST_EDGE_LIMIT)
      .map(ev => (ev.map(_._1), ev.map(_._2)))
  }

  /** Dense int relabelling of the endpoints in first-seen order:
    * `(ids, iu, iv)` with `ids(iu(i)) == us(i)` and `ids(iv(i)) == vs(i)`. */
  private def intern(us: Array[Long], vs: Array[Long])
      : (Array[Long], Array[Int], Array[Int]) = {
    // boxed value type: get must distinguish "absent" (null) from index 0
    val idx = new java.util.HashMap[Long, java.lang.Integer]()
    val ids = Array.newBuilder[Long]
    def one(x: Long): Int = {
      val cur = idx.get(x)
      if (cur == null) {
        val i = idx.size
        idx.put(x, i); ids += x; i
      } else cur.intValue()
    }
    val iu = new Array[Int](us.length)
    val iv = new Array[Int](vs.length)
    var i = 0
    while (i < us.length) { iu(i) = one(us(i)); iv(i) = one(vs(i)); i += 1 }
    (ids.result(), iu, iv)
  }

  /** Per-node triangle counts: (n, n_triangles), nodes in ≥ 1 triangle.
    *
    * Degree-ordered node-iterator: orient each edge from its lower
    * (degree, id) endpoint; a triangle (s, d1, d2) with rank(s) < rank(d1)
    * < rank(d2) is found exactly once as d2 ∈ N⁺(s) ∩ N⁺(d1). The triangle
    * set is orientation-independent, so an id-oriented SQL oracle
    * reproduces it. Two physical paths with identical results (gate
    * scaladoc above): broadcast-CSR sorted-array intersections under the
    * gate, oriented wedge self-join + closing equi-join above it. The
    * gate counts EDGES, which AQE cannot see past the wedge join's own
    * output statistics. */
  def triangleCounts(edges: DataFrame): DataFrame = collectEdges(edges) match {
    case Some((us, vs)) => triangleCountsIndexed(edges.sparkSession, us, vs)
    case None => triangleCountsJoined(edges)
  }

  /** CSR adjacency of the degree-ordered orientation: nodes relabelled to
    * their rank in ascending (degree, id) — ranks fit an Int under the
    * collect gate — with each out-neighbor list sorted ascending.
    * Returns (rankToId, offsets, neighbors). */
  private[ops] def csrOriented(us: Array[Long], vs: Array[Long])
      : (Array[Long], Array[Int], Array[Int]) = {
    val (ids, iu, iv) = intern(us, vs)
    val n = ids.length
    val m = iu.length
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(iu(i)) += 1; deg(iv(i)) += 1; i += 1 }
    val byRank = Array.range(0, n).sortBy(k => (deg(k), ids(k)))
    val rankToId = byRank.map(ids)
    val rankOf = new Array[Int](n)
    i = 0
    while (i < n) { rankOf(byRank(i)) = i; i += 1 }
    val outDeg = new Array[Int](n)
    i = 0
    while (i < m) {
      outDeg(math.min(rankOf(iu(i)), rankOf(iv(i)))) += 1; i += 1
    }
    val offs = new Array[Int](n + 1)
    i = 0
    while (i < n) { offs(i + 1) = offs(i) + outDeg(i); i += 1 }
    val nbrs = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(offs, n)
    i = 0
    while (i < m) {
      val ru = rankOf(iu(i)); val rv = rankOf(iv(i))
      val s = math.min(ru, rv)
      nbrs(fill(s)) = math.max(ru, rv); fill(s) += 1
      i += 1
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(nbrs, offs(i), offs(i + 1)); i += 1 }
    (rankToId, offs, nbrs)
  }

  /** Under-gate path: broadcast the CSR index, intersect neighbor lists
    * distributed over hash-spread node ranges, partial-aggregate the
    * emitted triangle corners. */
  private def triangleCountsIndexed(spark: SparkSession, us: Array[Long],
                                    vs: Array[Long]): DataFrame = {
    import spark.implicits._
    val (rankToId, offs, nbrs) = csrOriented(us, vs)
    val n = rankToId.length
    val bc = spark.sparkContext.broadcast((rankToId, offs, nbrs))
    spark.range(0, n.toLong)
      // hash-spread the rank ranges: contiguous ranges are degree-sorted
      // and would skew the per-task wedge work
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[Long]
      .mapPartitions { ranks =>
        val (ids, of, nb) = bc.value
        ranks.flatMap { sL =>
          val s = sL.toInt
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          var i = of(s)
          while (i < of(s + 1)) {
            val d1 = nb(i)
            // merge-intersect N+(s) with N+(d1): every common member d2
            // closes the triangle (s, d1, d2); both lists sorted ascending
            var a = of(s); var b = of(d1)
            while (a < of(s + 1) && b < of(d1 + 1)) {
              val x = nb(a); val y = nb(b)
              if (x == y) {
                out += ids(s); out += ids(d1); out += ids(x)
                a += 1; b += 1
              } else if (x < y) a += 1 else b += 1
            }
            i += 1
          }
          out.iterator
        }
      }.toDF("n")
      .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Above-gate path: the same degree-ordered orientation as shuffled
    * equi-joins — wedge self-join on the source, closing edge equi-join on
    * the ordered wedge pair. The wedge pair is ordered by the SAME
    * (degree, id) rank, so the closing edge — if present — is stored
    * exactly as (lower-rank, higher-rank): one keyed equi-join, no
    * orientation disjunction. */
  private[ops] def triangleCountsJoined(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val withDeg = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge (s → d) with rank(s) < rank(d); dd = degree of d so the
    // wedge join can rank out-neighbors without re-joining the degree table.
    // Consumed three times below, so it is pinned (unpinned, the sf0.1
    // co-purchase graph takes about twice as long); the result is
    // materialized as a local checkpoint before the pin is released
    val oriented = withDeg.select(
      when(uLower, col("u")).otherwise(col("v")).as("s"),
      when(uLower, col("v")).otherwise(col("u")).as("d"),
      when(uLower, col("dv")).otherwise(col("du")).as("dd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = oriented.select(col("s"), col("d").as("d1"), col("dd").as("dd1"))
    val e2 = oriented.select(col("s"), col("d").as("d2"), col("dd").as("dd2"))
    val wedges = e1.join(e2, "s")
      .filter(col("dd1") < col("dd2") ||
        (col("dd1") === col("dd2") && col("d1") < col("d2")))
      .select(col("s"), col("d1"), col("d2"))
    val closing = oriented.select(col("s").as("d1"), col("d").as("d2"))
    val triangles = wedges.join(closing, Seq("d1", "d2"))
    try triangles
      .select(explode(array(col("s"), col("d1"), col("d2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint()
    finally oriented.unpersist()
  }

  /** Connected components of an undirected edge list: (n, component) with
    * component = the SMALLEST node id in n's component — deterministic,
    * partition-invariant, engine-independent (pure min, no float). Also the
    * engine of kg.Canonicalize, which interns IRIs to order-preserving ids.
    *
    * Two physical paths with identical results:
    *  - ≤ [[BROADCAST_EDGE_LIMIT]] edges: driver union-find with path
    *    compression ([[localComponents]]) — the result relation is
    *    node-scale and LOCAL, so downstream joins against it broadcast
    *    without stats guessing;
    *  - above: hash-min propagation WITH pointer doubling
    *    ([[distributedComponents]]) — each round one keyed join +
    *    partial-agg min shuffle, then l(n) := l(l(n)) via a label-keyed
    *    self-join. The shortcut halves every label chain per round, so
    *    convergence is O(log diameter) instead of O(diameter) (a 40-node
    *    path converges in ~6 rounds where plain propagation needs 40). The
    *    label self-join key is skewed toward popular labels by
    *    construction — AQE skew-join splitting is on session-wide.
    *    localCheckpoint truncates lineage every round; the convergence
    *    probe is an any-change isEmpty — O(1) result, one job. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    collectEdges(edges) match {
      case Some((us, vs)) =>
        spark.createDataset(localComponents(us, vs).toIndexedSeq)
          .toDF("n", "component")
      case None =>
        distributedComponents(
          edges.select(col("u").cast("long"), col("v").cast("long")))
    }
  }

  /** Driver-local union-find (path-compressed, union by size, min-id label
    * tracked per root) over int-interned nodes: (n, smallest id in n's
    * component) for every endpoint. */
  private[graft] def localComponents(us: Array[Long],
                                     vs: Array[Long]): Array[(Long, Long)] = {
    val (ids, iu, iv) = intern(us, vs)
    val n = ids.length
    val parent = Array.range(0, n)
    val size = Array.fill(n)(1)
    val minId = ids.clone()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var i = 0
    while (i < iu.length) {
      val ra = find(iu(i)); val rb = find(iv(i))
      if (ra != rb) {
        val (big, small) = if (size(ra) >= size(rb)) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) += size(small)
        if (minId(small) < minId(big)) minId(big) = minId(small)
      }
      i += 1
    }
    Array.tabulate(n)(k => (ids(k), minId(find(k))))
  }

  /** Round cap of [[distributedComponents]]: doubling halves every label
    * chain each round, so graphs of diameter up to ~2^20 converge. */
  private val CC_MAX_ROUNDS = 20

  /** The distributed pointer-doubling loop over BIGINT `(u, v)` edges
    * (taken above the gate; directly callable in tests to cover the
    * at-scale path on small inputs). If the loop exhausts
    * [[CC_MAX_ROUNDS]] with labels still changing (a pathological
    * longer-chain graph), the labels returned are mid-propagation — that
    * case logs a warning instead of passing silently. */
  private[graft] def distributedComponents(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("s"), col("v").as("d"))
      .unionAll(edges.select(col("v").as("s"), col("u").as("d")))
      .localCheckpoint()
    var labels = sym.select(col("s").as("n")).distinct()
      .withColumn("l", col("n")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < CC_MAX_ROUNDS) {
      val nbrMin = sym.join(labels, col("s") === col("n"))
        .select(col("d").as("m"), col("l"))
        .unionAll(labels.select(col("n").as("m"), col("l")))
        .groupBy(col("m")).agg(min(col("l")).as("l1"))
      // pointer doubling: follow the label's own label. Every node id is a
      // key of nbrMin (the union above keeps all nodes), so the left join
      // only misses when l1(n) = n itself — coalesce covers it either way
      val next = nbrMin.as("a")
        .join(nbrMin.select(col("m").as("k"), col("l1").as("l2")).as("b"),
          col("a.l1") === col("b.k"), "left")
        .select(col("a.m").as("n"), coalesce(col("l2"), col("a.l1")).as("l"))
        .localCheckpoint()
      // round 0 always changes labels on any graph with an edge — skip
      // the probe job there
      converged = iter >= 1 && next.select(col("n"), col("l").as("ln"))
        .join(labels, "n")
        .filter(col("ln") =!= col("l"))
        .isEmpty
      labels = next
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] WARN connectedComponents: labels still " +
        s"changing after $CC_MAX_ROUNDS pointer-doubling rounds (graph " +
        s"diameter > ~2^$CC_MAX_ROUNDS?) — returned labels may be " +
        "mid-propagation")
    labels.select(col("n"), col("l").as("component"))
  }

  /** Integer-credit PageRank over an undirected edge list: every node
    * starts with `seed` credit units; each hop a node keeps
    * `seed·(dampDen−dampNum)/dampDen` as its base and sends
    * `floor(credit·dampNum / (dampDen·deg))` along each incident edge.
    * All arithmetic is BIGINT floor division — bit-exact under any
    * partitioning, summation order, or engine (no IEEE drift), at the cost
    * of leaking ≤ deg·1 credit units per node per hop to rounding
    * (relative error ≤ deg/seed ≈ 10⁻⁶ at the default seed).
    *
    * Two physical paths with identical results: because every hop is
    * pure integer arithmetic and integer addition is
    * associative-commutative, ANY evaluation order produces the same
    * bits — so under [[BROADCAST_EDGE_LIMIT]] the operator collects the
    * edge list (the bytes each hop's broadcast-shaped join would ship
    * anyway) and runs the `iters` hops
    * over int-interned arrays on the driver, replacing 3·(join +
    * partial-agg shuffle) with zero jobs after the collect. Above the
    * gate the canonical one-keyed-join + one-partial-agg-shuffle-per-hop
    * pipeline runs unchanged ([[pageRankCreditsJoined]], equality with
    * the local path pinned by GraphOpsSpec). */
  def pageRankCredits(edges: DataFrame, iters: Int = 3,
                      seed: Long = 1000000000L,
                      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0, 1)")
    require(seed * (dampDen - dampNum) % dampDen == 0,
      "seed*(1-damping) must be integer so the per-hop base is exact")
    val spark = edges.sparkSession
    import spark.implicits._
    collectEdges(edges) match {
      case Some((us, vs)) =>
        spark.createDataset(localPageRankCredits(us, vs, iters, seed, dampNum,
            dampDen).toIndexedSeq)
          .toDF("n", "c")
      // above the gate the joined pipeline re-derives from the raw edges
      // (per-hop exchange reuse, no pin — a cache was measured SLOWER than
      // recompute here, 2.36 s vs 1.67 s at sf0.1)
      case None => pageRankCreditsJoined(edges, iters, seed, dampNum, dampDen)
    }
  }

  /** Driver-local integer-credit hops over int-interned nodes; bounded by
    * the [[BROADCAST_EDGE_LIMIT]] gate. Identical bits to the joined path:
    * base + Σ floor(c·dampNum/(dampDen·deg)) per node per hop, and integer
    * sums are order-independent. */
  private[ops] def localPageRankCredits(us: Array[Long], vs: Array[Long],
      iters: Int, seed: Long, dampNum: Long,
      dampDen: Long): Array[(Long, Long)] = {
    val base = seed * (dampDen - dampNum) / dampDen
    val (ids, iu, iv) = intern(us, vs)
    val n = ids.length
    val m = iu.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(iu(i)) += 1; deg(iv(i)) += 1; i += 1 }
    var credit = Array.fill(n)(seed)
    var hop = 0
    while (hop < iters) {
      val inc = new Array[Long](n)
      i = 0
      while (i < m) {
        val a = iu(i); val b = iv(i)
        // Long '/' truncates toward zero == floor for positive operands,
        // matching the joined path's BIGINT DIV
        inc(b) += credit(a) * dampNum / (dampDen * deg(a))
        inc(a) += credit(b) * dampNum / (dampDen * deg(b))
        i += 1
      }
      i = 0
      while (i < n) { inc(i) += base; i += 1 }
      credit = inc
      hop += 1
    }
    Array.tabulate(n)(k => (ids(k), credit(k)))
  }

  /** The per-hop join pipeline (taken above the gate; directly callable in
    * tests to cover the at-scale path on small inputs). One keyed join +
    * one partial-agg shuffle per iteration — the canonical distributed
    * PageRank shape. NOT pinned: each relation is consumed once per hop
    * and Catalyst's exchange reuse covers the repeats. Nodes with no
    * incident edge are not ranked (deg ≥ 1 by construction). */
  private[ops] def pageRankCreditsJoined(edges: DataFrame, iters: Int = 3,
                      seed: Long = 1000000000L,
                      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val base = seed * (dampDen - dampNum) / dampDen // exact by the require
    val eb = edges.select(col("u").as("s"), col("v").as("d"))
      .unionAll(edges.select(col("v").as("s"), col("u").as("d")))
    val deg = eb.groupBy(col("s")).agg(count(lit(1)).as("dg"))
    val ebd = eb.join(deg, "s") // (s, d, dg): sender degree carried once
    var ranks = deg.select(col("s").as("n"), lit(seed).as("c"))
    for (_ <- 1 to iters) {
      val inc = ebd.join(ranks, col("s") === col("n"))
        // SQL DIV: exact BIGINT floor division (positive operands) — the
        // Column API's `/` would go through double and can mis-floor
        .select(col("d"),
          expr(s"(c * ${dampNum}L) DIV (${dampDen}L * dg)").as("w"))
        .groupBy(col("d")).agg(sum(col("w")).as("inc"))
      ranks = deg.select(col("s").as("n"))
        .join(inc, col("n") === col("d"), "left")
        .select(col("n"), (lit(base) + coalesce(col("inc"), lit(0L))).as("c"))
    }
    ranks
  }
}
