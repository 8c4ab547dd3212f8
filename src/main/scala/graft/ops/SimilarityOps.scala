package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.PagesSource.mix64

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`embeddings(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)`).
  *
  * Two paths:
  *  - brute-force cosine top-k — the correctness baseline: the (small) query
  *    set is broadcast; the corpus is scanned once, scores computed inside a
  *    typed mapPartitions (tight float loop, no boxing per element), top-k
  *    per query via one partial-aggregating shuffle keyed by query id.
  *  - SRP-LSH (signed random projections) bucketed variant — the scale path:
  *    each vector hashes to a bucket from the signs of `nBits` deterministic
  *    hyperplanes; queries probe their own bucket plus all Hamming-1
  *    neighbors; only candidates in probed buckets are scored. Corpus-side
  *    work per query drops from O(n) to O(n · (nBits+1) / 2^nBits).
  */
object SimilarityOps {

  /** Index of the max-cosine centroid for `v` (first wins ties). */
  def nearestCell(cs: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestScore = Double.MinValue
    var c = 0
    while (c < cs.length) {
      val s = cosine(cs(c), v)
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      // widen BEFORE multiplying: float×float products round differently
      // and would break bit-equality with the double-accumulating oracle
      val ai = a(i).toDouble; val bi = b(i).toDouble
      dot += ai * bi; na += ai * ai; nb += bi * bi; i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic hyperplane `h` for dimension `dim`: unit-free gaussian-ish
    * components from splitmix64 (public PRNG), fixed seed. */
  private def hyperplane(h: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      val r = mix64(0x5EEDL ^ (h.toLong << 32) ^ i.toLong)
      // map to (-1, 1): take 21 mantissa bits
      ((r & 0x1FFFFF).toFloat / 0x100000.toFloat) - 1.0f
    }

  /** SRP bucket of `v` in hash table `table` (tables use disjoint
    * hyperplane banks — standard multi-table LSH for recall on
    * high-dimensional data). */
  def srpBucket(v: Array[Float], nBits: Int, table: Int = 0): Int = {
    var bucket = 0
    var h = 0
    while (h < nBits) {
      val plane = Hyperplanes.get(table * 64 + h, v.length)
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * plane(i); i += 1 }
      if (dot >= 0) bucket |= (1 << h)
      h += 1
    }
    bucket
  }

  /** Per-executor hyperplane cache (deterministic contents). */
  private object Hyperplanes {
    private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Float]]()
    def get(h: Int, dim: Int): Array[Float] =
      cache.computeIfAbsent((h, dim), { case (hh, d) => hyperplane(hh, d) })
  }

  /** Column-space query fetch: the `vec_id < n` predicate is applied on the
    * DataFrame BEFORE the typed `.as[...]` boundary, so Catalyst pushes it
    * into the parquet scan (PushedFilters) — fetching 8 query vectors costs
    * a pruned scan, not a full-corpus deserialize (at 10⁹ vectors a
    * typed-lambda filter would be a full pass per ANN query). */
  private[ops] def queryFetch(embeddings: DataFrame, numQueries: Int): DataFrame =
    embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").cast("long"), col("embedding"))

  private def queryVectors(embeddings: DataFrame, numQueries: Int): Array[(Long, Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    queryFetch(embeddings, numQueries).as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  /** Brute-force cosine top-k: for each of the first `numQueries` vectors,
    * the k nearest corpus vectors (excluding self). Deterministic tie-break
    * on (score desc, vec_id asc). Returns (q_id, rank, vec_id, score_pct). */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._

    val vecs = embeddings.select($"vec_id".cast("long"), $"embedding").as[(Long, Array[Float])]
    val queries = queryVectors(embeddings, numQueries)
    val qB = spark.sparkContext.broadcast(queries)

    val scored = vecs.mapPartitions { it =>
      val qs = qB.value
      it.flatMap { case (id, v) =>
        qs.iterator.filter(_._1 != id).map { case (qid, qv) =>
          (qid, id, cosine(qv, v))
        }
      }
    }.toDF("q_id", "vec_id", "score")

    topKPerQuery(scored, k)
  }

  /** Multi-table SRP-LSH ANN: a vector is a candidate for a query if, in ANY
    * of the `nTables` tables, its bucket is within Hamming-1 of the query's.
    * Corpus-side cost per vector is nTables×nBits dot products + set probes;
    * only candidates get the full cosine. Same output shape as brute force. */
  def lshTopK(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
      nBits: Int = 8, nTables: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._

    val vecs = embeddings.select($"vec_id".cast("long"), $"embedding").as[(Long, Array[Float])]
    val queries = queryVectors(embeddings, numQueries)
    val qWithBuckets = queries.map { case (qid, qv) =>
      val probes = Array.tabulate(nTables) { t =>
        val b = srpBucket(qv, nBits, t)
        (Set(b) ++ (0 until nBits).map(i => b ^ (1 << i)))
      }
      (qid, qv, probes)
    }
    val qB = spark.sparkContext.broadcast(qWithBuckets)

    val scored = vecs.mapPartitions { it =>
      val qs = qB.value
      it.flatMap { case (id, v) =>
        val vbs = Array.tabulate(nTables)(t => srpBucket(v, nBits, t))
        qs.iterator
          .filter { case (qid, _, probes) =>
            qid != id && {
              var t = 0
              var hit = false
              while (!hit && t < nTables) { hit = probes(t).contains(vbs(t)); t += 1 }
              hit
            }
          }
          .map { case (qid, qv, _) => (qid, id, cosine(qv, v)) }
      }
    }.toDF("q_id", "vec_id", "score")

    topKPerQuery(scored, k)
  }

  /** Distributed Lloyd's k-means codebook with DETERMINISTIC everything:
    * init = the nlist lowest-id vectors (sort+limit in COLUMN space —
    * TakeOrderedAndProject over the scan, typed decode only on the nlist
    * survivors); updates accumulate FIXED-POINT longs (x·2^20 rounded) so
    * integer addition's associativity makes centroids bit-identical under
    * any shuffle merge order — double sums would drift by merge order and
    * make every consumer nondeterministic. One typed reduceGroups per
    * iteration: a shuffle of nlist×dim longs, independent of corpus size
    * (at 10^9 vectors a deployment trains on a sample; assignment is
    * unchanged). */
  def trainCentroids(embeddings: DataFrame, nlist: Int = 32,
      iters: Int = 3): Array[Array[Float]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select($"vec_id".cast("long"), $"embedding").as[(Long, Array[Float])]
    var centroids: Array[Array[Float]] =
      embeddings.select($"vec_id".cast("long"), $"embedding")
        .orderBy($"vec_id").limit(nlist)
        .as[(Long, Array[Float])].collect().map(_._2)
    require(centroids.nonEmpty, "trainCentroids needs a non-empty embeddings table")
    val Q = 1L << 20
    val nCells = centroids.length
    var it = 0
    while (it < iters) {
      val cb = spark.sparkContext.broadcast(centroids)
      // per-partition partial sums, merged on the driver: the per-cell
      // accumulator is nlist×dim longs — codebook-scale, not corpus-scale —
      // so collecting one partial per partition replaces the former
      // groupByKey/reduceGroups SHUFFLE per iteration with a straight map
      // stage (3 fewer exchanges per training run). Fixed-point integer
      // sums are associative+commutative, so the merge order (partition
      // order here, shuffle-merge order before) cannot change a single bit
      // of the result.
      val partials = vecs.mapPartitions { rows =>
        val cs = cb.value
        val sums = Array.ofDim[Long](nCells, cs(0).length)
        val counts = new Array[Long](nCells)
        rows.foreach { case (_, v) =>
          val cell = nearestCell(cs, v)
          val acc = sums(cell)
          var i = 0
          val n = math.min(acc.length, v.length)
          while (i < n) { acc(i) += math.round(v(i).toDouble * Q); i += 1 }
          counts(cell) += 1L
        }
        Iterator.range(0, nCells)
          .filter(counts(_) > 0L)
          .map(c => (c, sums(c), counts(c)))
      }.collect()
      val sum = Array.ofDim[Long](nCells, centroids(0).length)
      val n = new Array[Long](nCells)
      partials.foreach { case (c, s, cn) =>
        var i = 0
        while (i < s.length) { sum(c)(i) += s(i); i += 1 }
        n(c) += cn
      }
      val next = centroids.clone()
      var c = 0
      while (c < nCells) {
        if (n(c) > 0L) next(c) = sum(c).map(x => (x.toDouble / (n(c) * Q)).toFloat)
        c += 1
      }
      centroids = next
      cb.destroy()
      it += 1
    }
    centroids
  }

  /** Per-vector k-means cluster assignment (vec_id, cell) under the
    * [[trainCentroids]] codebook — embedding-space corpus clustering
    * (topic bucketing, diversity sampling, IVF cell routing). One narrow
    * broadcast-codebook pass over the corpus; ties go to the lowest cell
    * (same rule as the IVF index and its SQL oracle). */
  def kmeansAssign(embeddings: DataFrame, nlist: Int = 32,
      iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(trainCentroids(embeddings, nlist, iters))
    embeddings.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestCell(cB.value, v).toLong) }
      .toDF("vec_id", "cell")
  }

  /** Cluster-balanced diversity sample: up to `perCell` vectors from EVERY
    * k-means cell (lowest vec_ids — deterministic), so the sample covers
    * the embedding space uniformly instead of following corpus density —
    * the selection shape behind semantic-diversity curation (dense
    * boilerplate regions contribute the same quota as rare topics). The
    * ranked window runs per cell over the (vec_id, cell) assignment —
    * 16 bytes/row, never embeddings. */
  def diverseSample(embeddings: DataFrame, perCell: Int = 4,
      nlist: Int = 32, iters: Int = 3): DataFrame = {
    require(perCell > 0, s"perCell must be positive: $perCell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("vec_id"))
    kmeansAssign(embeddings, nlist, iters)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCell)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path: a small
    * k-means codebook (nlist cells) is trained distributed, every corpus
    * vector is assigned to its nearest cell ONCE, and each query probes
    * only its `nprobe` nearest cells — corpus-side cosine work drops to
    * ~nprobe/nlist of brute force while the codebook (nlist × dim floats)
    * stays trivially broadcastable.
    *
    * Training is Lloyd's algorithm with DETERMINISTIC init (the first
    * `nlist` vectors by id): each iteration is one typed reduceGroups
    * (map-side partial sums — one shuffle of nlist×dim doubles per
    * iteration, independent of corpus size). At 10^9 vectors a deployment
    * trains on a sample; the assignment pass and probe math are unchanged.
    * Same output shape as [[bruteForceTopK]]. */
  def ivfTopK(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
      nlist: Int = 32, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._

    val vecs = embeddings.select($"vec_id".cast("long"), $"embedding").as[(Long, Array[Float])]
    val centroids = trainCentroids(embeddings, nlist, iters)

    val queries = queryVectors(embeddings, numQueries)
    val cFinal = centroids
    val qProbes = queries.map { case (qid, qv) =>
      val byScore = cFinal.zipWithIndex
        .map { case (c, i) => (cosine(c, qv), i) }
        .sortBy { case (s, i) => (-s, i) }
        .take(nprobe).map(_._2).toSet
      (qid, qv, byScore)
    }
    val qB = spark.sparkContext.broadcast(qProbes)
    val cB = spark.sparkContext.broadcast(cFinal)

    val scored = vecs.mapPartitions { iterRows =>
      val qs = qB.value
      val cs = cB.value
      iterRows.flatMap { case (id, v) =>
        val cell = nearestCell(cs, v)
        qs.iterator
          .filter { case (qid, _, probes) => qid != id && probes.contains(cell) }
          .map { case (qid, qv, _) => (qid, id, cosine(qv, v)) }
      }
    }.toDF("q_id", "vec_id", "score")

    topKPerQuery(scored, k)
  }

  /** Embedding near-dup detection: pairs with cosine >= minCos among
    * multi-table SRP-bucket collisions (a < b).
    *
    * Scale shape: `nTables` independent 2^nBits-bucket tables (disjoint
    * hyperplane banks); a pair is a candidate if it collides in ANY table.
    * Recall for a pair at angle θ is 1-(1-(1-θ/π)^nBits)^nTables — at the
    * 16-bit/8-table default, ~0.80 at cosine exactly 0.95 and → 1.0 as
    * cosine → 1 (true duplicates collide in every table). Pick
    * nBits ≈ log2(corpusSize / targetBucketSize) at deployment scale.
    * Candidates come from [[DedupOps.bucketPairs]], which caps bucket
    * membership at DedupOps.MAX_BUCKET (observed metric
    * `embedding_lsh_bucket_cap`) so a hot bucket can never go O(k²). */
  def embeddingDedup(embeddings: DataFrame, minCos: Double = 0.95,
      nBits: Int = 16, nTables: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select($"vec_id".cast("long"), $"embedding").as[(Long, Array[Float])]
    val bucketed = vecs.flatMap { case (id, v) =>
      (0 until nTables).iterator.map(t => (id, t, srpBucket(v, nBits, t)))
    }.toDF("vec_id", "tbl", "bucket")

    // distinct candidate ids first (multi-table collisions dedupe here),
    // then fetch the two vectors — embeddings never ride through the
    // banding shuffle
    val cand = DedupOps.bucketPairs(bucketed, Seq("tbl", "bucket"), "vec_id",
      "embedding_lsh_bucket_cap")

    val vecsDf = vecs.toDF("vec_id", "embedding")
    val pairs = cand
      .join(vecsDf.withColumnRenamed("vec_id", "a").withColumnRenamed("embedding", "va"), "a")
      .join(vecsDf.withColumnRenamed("vec_id", "b").withColumnRenamed("embedding", "vb"), "b")
      .select($"a", $"b", $"va", $"vb")
      .as[(Long, Long, Array[Float], Array[Float])]

    // ROUND (not truncate) the permille: true duplicates sit at cosine
    // ~1.0 exactly where engine-level ulp differences flip a truncation
    // (1.0 vs 0.9999999 → 1000 vs 999); rounding puts the boundary half a
    // permille away from the duplicate population
    pairs.map { case (a, b, va, vb) => (a, b, math.round(cosine(va, vb) * 1000)) }
      .toDF("a", "b", "cos_permille")
      .filter($"cos_permille" >= (minCos * 1000).toLong)
  }

  /** Top-k with deterministic ordering; integer permille score for stable
    * comparisons. One shuffle keyed by q_id (numQueries keys — fine because
    * the scored set is already candidate-pruned). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"),
        (col("score") * 1000).cast("long").as("score_permille"))
  }
}
