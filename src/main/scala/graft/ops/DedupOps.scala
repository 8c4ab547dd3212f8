package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kg.PagesSource.{fnv64, mix64}

/** Deduplication operators for training-data curation over `documents`.
  *
  * Four families, each with the scale-path shape:
  *  - exact: hash-groupBy on content (partial agg map-side; one shuffle)
  *  - MinHash+LSH: shingle → minhash → band → self-join on band key —
  *    candidate pairs only, never O(n²)
  *  - SimHash: 64-bit signature, keyed on 16 sub-band keys → pairs within
  *    3 bit flips share ≥1 key (pigeonhole, [[DedupOps.simhashKeys]])
  *  - n-gram Jaccard: exact verification on LSH candidates
  */
object DedupOps {

  /** Exact dedup: one keeper doc per distinct text.
    *
    * Groups on `(length(text), md5(text))` instead of the raw text: the
    * shuffle key is ~36 bytes instead of the whole document, so the exact
    * dedup shuffles ~100× fewer bytes at corpus scale (round-5 VERDICT #4;
    * the aggregates don't reference `text`, so column pruning drops the
    * text column from the shuffle entirely). Collision bound: 128-bit md5
    * PLUS the exact length — for n = 10^12 documents the expected number of
    * colliding PAIRS is n²/2^129 ≈ 1.5·10^-15, ignorable (and a collision
    * only costs one spurious merged group, not corruption). NULL text
    * hashes to NULL and groups with other NULLs, same as grouping by text. */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy(length(col("text")), md5(col("text")))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .select(col("keeper"), col("n_dups"))

  /** Incremental exact dedup: which documents of an arriving shard survive
    * against an existing corpus — the daily-ingestion shape (a new crawl
    * drop must not re-admit content the corpus already holds, nor its own
    * internal duplicates). Survivors = the smallest doc_id per content
    * fingerprint within the shard, minus any fingerprint present in the
    * corpus. Output (doc_id, n_shard_dups): the survivor plus how many
    * shard rows its fingerprint collapsed.
    *
    * Scale shape: both sides reduce to (length, md5) keys ~36 bytes/row
    * before anything crosses the wire (same plan argument as
    * [[exactDedup]] — text never shuffles); the corpus side collapses to
    * DISTINCT fingerprints via partial aggregation, and the anti join is
    * keyed — at a 10^12-doc corpus this is a fingerprint-index lookup
    * shape, with AQE broadcasting whichever side is small (usually the
    * daily shard). */
  def incrementalDedup(shard: DataFrame, corpus: DataFrame): DataFrame = {
    val key = Seq(length(col("text")).as("len"), md5(col("text")).as("h"))
    val shardK = shard.select(col("doc_id") +: key: _*)
    val corpusK = corpus.select(key: _*).distinct()
    shardK
      .groupBy(col("len"), col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_shard_dups"))
      .join(corpusK, Seq("len", "h"), "left_anti")
      .select(col("doc_id"), col("n_shard_dups"))
  }

  /** Collapse near-duplicate PAIRS into clusters and assign every document
    * its canonical representative — the step that turns pair emission
    * (minhashDedup & co.) into an actually deduplicated corpus. Duplicate
    * similarity is transitive in practice only through chains (A≈B≈C with
    * A,C below threshold), so the correct cluster relation is the
    * connected component of the pair graph, not the pair itself. Canonical
    * id = smallest doc_id in the component (deterministic); documents in
    * no pair map to themselves.
    *
    * Scale shape: the pair graph is output-scale (duplicates only), so the
    * [[GraphOps.connectedComponents]] pointer-doubling loop runs on a
    * relation much smaller than the corpus; the final assignment is one
    * left join of the corpus against the component labels, AQE-broadcast
    * when the duplicate set is small. */
  def collapseDuplicates(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = GraphOps.connectedComponents(
      pairs.select(col("a").as("u"), col("b").as("v")))
    documents.select(col("doc_id"))
      .join(comp.select(col("n").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical"))
  }

  // ---- MinHash + LSH ---------------------------------------------------

  val NUM_HASHES = 16
  val BAND_ROWS = 4
  val NUM_BANDS = NUM_HASHES / BAND_ROWS

  /** Per-key bucket membership cap for the LSH candidate self-joins
    * ([[bucketPairs]]). Without a cap, a corpus with k identical boilerplate
    * documents puts all k in one bucket → O(k²) candidate pairs (the
    * classic Common-Crawl blowup). With the cap, a bucket contributes at
    * most cap·(cap-1)/2 pairs; members of a hot bucket beyond the cap still
    * pair with the kept ones through their OTHER keys, so duplicate
    * CLUSTERS are usually still discovered — only redundant intra-clique
    * pairs are dropped.
    *
    * Measured recall vs the exact all-pairs oracle at sf0.1 (5,000 docs;
    * `graft.ops.BucketProbe` census):
    *  - minhash: 818/821 pairs (99.6%) with ZERO buckets over the cap
    *    (max bucket 4) — the 3 missing pairs are inherent banded-LSH
    *    near-threshold recall (P[share a band] = 1-(1-s^r)^b < 1 just
    *    above the Jaccard threshold), NOT cap loss;
    *  - simhash: pair recall 1393/1393 — [[simhashDedup]] keys DISTINCT
    *    signatures on 16 28-bit sub-band keys ([[simhashKeys]]). At sf0.1,
    *    27 16-bit blocks hold more than the cap (max 237 distinct
    *    signatures); no 28-bit key bucket does (max 54).
    * The sf0.01 driver-oracle corpus has no bucket near the cap
    * (precondition test in OpsSpec), so the hash-exact gate is unaffected. */
  val MAX_BUCKET = 64

  /** LSH candidate pairs: distinct `(a, b)` with `a < b` for every two ids
    * that share all of `keyCols`. Each bucket keeps its [[MAX_BUCKET]]
    * lowest ids (deterministic keep set). NOT silent: every action on the
    * result reports the number of dropped rows as the observed metric
    * `metricName` (field `dropped_rows`, visible to QueryExecutionListeners
    * and the Spark UI). */
  private[ops] def bucketPairs(keyed: DataFrame, keyCols: Seq[String],
      idCol: String, metricName: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    val capped = keyed.withColumn("_rn", row_number().over(w))
      .observe(metricName,
        sum(when(col("_rn") > MAX_BUCKET, 1L).otherwise(0L)).as("dropped_rows"))
      .filter(col("_rn") <= MAX_BUCKET)
    capped.as("l").join(capped.as("r"),
        keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b")).distinct()
  }

  /** Word k-gram shingles over [[TextOps.wordTokens]]; a document of at
    * most k tokens is one shingle. */
  def wordShingles(text: String, k: Int = 3): Array[String] = {
    val toks = TextOps.wordTokens(text)
    if (toks.length <= k) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - k + 1)(i => toks.slice(i, i + k).mkString(" "))
  }

  def minhashSig(sh: Array[String]): Array[Long] = minhashSig(sh, NUM_HASHES)

  /** MinHash signature: min over shingles of h_i(s), h_i = mix64(fnv(s)^seed_i).
    * Shared by document dedup and entity-linking LSH (different widths). */
  def minhashSig(sh: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val base = fnv64(sh(i))
      var h = 0
      while (h < numHashes) {
        val v = mix64(base ^ (h * 0x9E3779B97F4A7C15L))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** (bandId, FNV-folded band hash) LSH blocking keys for a signature. */
  def bandKeys(sig: Array[Long], numBands: Int, bandRows: Int): Array[(Int, Long)] =
    Array.tabulate(numBands) { b =>
      var h = 0xCBF29CE484222325L
      var r = 0
      while (r < bandRows) {
        h = (h ^ sig(b * bandRows + r)) * 0x100000001B3L
        r += 1
      }
      (b, h)
    }

  /** Exact Jaccard of two shingle sets (duplicates within an array count
    * once). */
  def jaccardSets(a: Array[String], b: Array[String]): Double =
    jaccardPrepared(prepareSet(a), prepareSet(b))

  /** A shingle array as a prepared set for [[jaccardPrepared]]: sorted by
    * `String.compareTo`, duplicate-free. Prepare a set once and verify it
    * against many candidates without rebuilding it. */
  def prepareSet(sh: Array[String]): Array[String] = {
    val s = sh.clone()
    java.util.Arrays.sort(s.asInstanceOf[Array[AnyRef]])
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    if (n == s.length) s else java.util.Arrays.copyOf(s, n)
  }

  /** Exact Jaccard of two prepared sets by merge intersection:
    * inter / (|a| + |b| - inter), 0.0 when both are empty. */
  def jaccardPrepared(a: Array[String], b: Array[String]): Double = {
    var inter = 0
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Near-duplicate pairs via MinHash banding, verified with exact n-gram
    * Jaccard. Returns (a, b, jacc_pct) with a < b; jacc_pct an integer
    * percentage (stable for hashing). */
  def minhashDedup(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._

    val docs = documents.select($"doc_id".cast("long"), $"text").as[(Long, String)]
    val bandsDs = docs.flatMap { case (id, text) =>
      val sig = minhashSig(wordShingles(text))
      bandKeys(sig, NUM_BANDS, BAND_ROWS).iterator.map { case (b, h) => (id, b, h) }
    }.toDF("doc_id", "band", "bandhash")

    val cand = bucketPairs(bandsDs, Seq("band", "bandhash"), "doc_id",
      "minhash_lsh_bucket_cap")

    verifyJaccard(cand, documents, threshold)
  }

  /** Exact word-3-gram Jaccard verification of candidate (a,b) pairs. */
  def verifyJaccard(cand: DataFrame, documents: DataFrame, threshold: Double): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val texts = documents.select($"doc_id".cast("long"), $"text")
    val joined = cand
      .join(texts.withColumnRenamed("doc_id", "a").withColumnRenamed("text", "ta"), "a")
      .join(texts.withColumnRenamed("doc_id", "b").withColumnRenamed("text", "tb"), "b")
      .as[(Long, Long, String, String)]
    joined.map { case (b, a, ta, tb) =>
      val j = jaccardSets(wordShingles(ta), wordShingles(tb))
      (a, b, (j * 100).toLong)
    }.toDF("a", "b", "jacc_pct")
      .filter($"jacc_pct" >= (threshold * 100).toLong)
  }

  // ---- SimHash -----------------------------------------------------------

  def simhash64(text: String): Long = {
    val toks = TextOps.wordTokens(text)
    val acc = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = mix64(fnv64(toks(i)))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Per-distinct-signature membership cap for [[simhashDedup]]'s exact
    * clique-pair path. A clique of k byte-identical boilerplate documents has
    * k identical signatures and its all-pairs output is k(k-1)/2 rows —
    * output-quadratic by definition of "emit every near-dup pair". The cap
    * bounds that to CLIQUE_CAP²/2 pairs per clique; drops are observable via
    * the `simhash_clique_cap` metric.
    *
    * Scope (round-5 ADVICE): the cap applies ONLY to the intra-clique
    * hamming-0 pair output — those pairs carry no information beyond
    * (representative, membership), which survives intact. Cross-signature
    * near-dup pairs (hamming 1..max) are expanded through the UNCAPPED
    * membership, so a document beyond the cap in a mega-clique still
    * receives all its near-dup pairs to other signatures. */
  val CLIQUE_CAP = 1024

  /** The 16 LSH keys of a 64-bit SimHash signature: for each 16-bit block
    * b (0-3) and each 12-bit slice s (0-3) of the 48 bits outside block b,
    * the key `(4b+s) << 28 | block_b << 12 | slice_s`.
    *
    * Pigeonhole, twice (Manku, Jain, Das Sarma, WWW'07): two signatures
    * that differ in at most 3 bits leave at least one block intact, and
    * then at least one slice of the remaining 48 bits intact, so they share
    * at least one key. A key fixes 28 of the 64 bits, so buckets stay small
    * where a 16-bit block alone would collect hundreds of signatures. */
  private[ops] def simhashKeys(sig: Long): Array[Long] =
    Array.tabulate(16) { i =>
      val b = i / 4
      val block = (sig >>> (16 * b)) & 0xFFFFL
      // JVM shifts are taken mod 64 (x >>> 64 == x): block 3 has no bits
      // above it, so its upper part is an explicit 0
      val above = if (b == 3) 0L else (sig >>> (16 * (b + 1))) << (16 * b)
      val rest = (sig & ((1L << (16 * b)) - 1)) | above
      (i.toLong << 28) | (block << 12) | ((rest >>> (12 * (i % 4))) & 0xFFFL)
    }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (0..3).
    *
    * Hamming distance is a pure function of the two 64-bit signatures, so the
    * pair search runs over DISTINCT signatures, not documents:
    *
    *  1. group documents by signature — ONE shuffle via [[BoundedMinK]]
    *     (mergeable typed aggregate: map-side partials collapse identical
    *     signatures BEFORE the shuffle; buffer bounded at [[CLIQUE_CAP]]
    *     longs per group). Yields (sig, count, capped sorted members) in a
    *     single pass. A clique of identical documents collapses to ONE
    *     signature, so boilerplate never floods an LSH bucket;
    *  2. intra-clique pairs (hamming 0) are generated per group row from the
    *     member array — no self-join — capped at [[CLIQUE_CAP]] members
    *     (dropped rows observed via `simhash_clique_cap`);
    *  3. every distinct signature takes its 16 [[simhashKeys]] and
    *     [[bucketPairs]] pairs signatures that share a key — every pair at
    *     hamming 1..3 shares one. A key bucket over [[MAX_BUCKET]] keeps its
    *     lowest SIGNATURES, not its lowest representative doc ids (drops
    *     observed via `simhash_lsh_subbucket_cap`; the largest bucket holds
    *     9 distinct signatures at sf0.01 and 54 at sf0.1);
    *  4. signature pairs expand back to document pairs through the UNCAPPED
    *     (doc_id, sig) table (output-sized joins on sig) — over-cap clique
    *     members keep their cross-signature near-dup pairs;
    *     a near-dup pair of two cliques legitimately yields |A|·|B| rows —
    *     that is the answer's size, not a blowup.
    *
    * The keys guarantee recall only up to 3 differing bits, so a larger
    * `maxHamming` is refused rather than answered incompletely. */
  def simhashDedup(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(0 <= maxHamming && maxHamming <= 3,
      s"maxHamming must be in 0..3 (the LSH keys find every pair within " +
        s"3 differing bits, no further), got $maxHamming")
    val spark = documents.sparkSession
    import spark.implicits._
    val sigs = documents.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t)) }
      .toDF("doc_id", "sig")

    // One fused aggregation: per distinct signature, the group count plus
    // the CLIQUE_CAP lowest doc_ids sorted ascending (deterministic keep set).
    val minK = udaf(new BoundedMinK(CLIQUE_CAP))
    val grouped = sigs.groupBy($"sig").agg(minK($"doc_id").as("g"))
      .select($"sig", $"g.cnt".as("_cnt"), $"g.ids".as("_ids"))
      .observe("simhash_clique_cap",
        sum($"_cnt" - size($"_ids")).as("dropped_rows"))

    // Hamming-0 pairs straight from each member array (sorted, so a < b).
    val cliquePairs = grouped.select($"_ids").as[Array[Long]]
      .flatMap { ids =>
        ids.indices.iterator.flatMap(i =>
          Iterator.range(i + 1, ids.length).map(j => (ids(i), ids(j))))
      }
      .toDF("a", "b")
      .select($"a", $"b", lit(0).as("hamming"))

    // Expand signature pairs to document pairs (unique: a doc pair maps to
    // exactly one unordered sig pair, so no post-union distinct is needed).
    // Joins go through the UNCAPPED (doc_id, sig) table: the clique cap
    // bounds only the redundant hamming-0 output above, never a document's
    // cross-signature near-dup pairs.
    val expanded = simhashSigPairs(grouped.select($"sig").as[Long], maxHamming)
      .join(sigs.select($"sig".as("sa"), $"doc_id".as("da")), "sa")
      .join(sigs.select($"sig".as("sb"), $"doc_id".as("db")), "sb")
      .select(least($"da", $"db").as("a"), greatest($"da", $"db").as("b"),
        $"hamming")

    cliquePairs.unionByName(expanded)
      .select($"a", $"b", $"hamming".cast("long").as("hamming"))
  }

  /** Pairs `(sa, sb, hamming)` of DISTINCT signatures with
    * 1 <= hamming <= maxHamming, `sa < sb`: [[simhashDedup]]'s LSH step on
    * its own, before the expansion to documents. */
  private[ops] def simhashSigPairs(distinctSigs: Dataset[Long],
      maxHamming: Int): DataFrame = {
    val spark = distinctSigs.sparkSession
    import spark.implicits._
    val keyed = distinctSigs
      .flatMap(sig => simhashKeys(sig).iterator.map(k => (sig, k)))
      .toDF("sig", "key")
    bucketPairs(keyed, Seq("key"), "sig", "simhash_lsh_subbucket_cap")
      .select($"a".as("sa"), $"b".as("sb"),
        bit_count($"a".bitwiseXOR($"b")).as("hamming"))
      .filter($"hamming" <= maxHamming)
  }

  /** n-gram Jaccard dedup: LSH candidates verified at a high threshold. */
  def ngramJaccardDedup(documents: DataFrame, threshold: Double = 0.8): DataFrame =
    minhashDedup(documents, threshold)

  /** Corpus-level exact duplicate SPAN census — the span-granularity dedup
    * family of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022): document-level dedup (exact/MinHash/SimHash
    * above) misses the boilerplate case where distinct documents share long
    * verbatim passages (licenses, navigation chrome, quoted posts). This
    * censuses every k-token span (over [[TextOps.normTokens]], the shared
    * oracle-mirrored tokenization) that appears in >= 2 distinct documents:
    * `(span_md5, span_len, n_docs, n_occurrences)`.
    *
    * Scale shape — one pass, one Exchange, nothing all-pairs:
    *  - spans are generated narrowly per document (sequence+transform over
    *    a materialized token column — builtin, codegen'd; the lambda only
    *    references the column, so it is not re-evaluated per element);
    *  - the group key is `(md5(span), length(span))`, ~40 bytes, never the
    *    span text — the same shuffle-key idiom as [[exactDedup]], with the
    *    same ignorable collision bound (128-bit md5 AND exact length);
    *  - the single-distinct `countDistinct(doc_id)` plans as Spark's
    *    two-level aggregation (partial per (key, doc_id) map-side, then
    *    count) — no Expand multiplying the shuffled rows (the lineage-agg
    *    lesson, BENCH.md round 7).
    * At 100 TB the census output is itself large; downstream consumers
    * join it back by span_md5 (fingerprint join, AQE-broadcastable after
    * a HAVING-style n_docs filter) to locate removable spans per document. */
  def duplicatedSpans(documents: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    val toks = col("toks")
    documents.select(col("doc_id"), TextOps.normTokens(col("text")).as("toks"))
      .where(size(toks) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k))))).as("span"))
      .groupBy(md5(col("span")).as("span_md5"),
        length(col("span")).cast("long").as("span_len"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") >= 2)
  }

  /** Per-document duplicated-span COVERAGE — the actionable half of the
    * Lee et al. span-dedup pipeline: for each document containing at least
    * one k-token span that also appears in another document, the number of
    * its token positions covered by such spans (`covered_tokens` out of
    * `n_tokens`; the removal/trim decision is a threshold on the ratio).
    *
    * Shape: the positioned span table is derived once per branch (narrow
    * posexplode), the duplicated-span set is the same hash-keyed census
    * aggregation as [[duplicatedSpans]], membership is a LEFT SEMI join on
    * the 32-byte md5 (AQE broadcasts the census side when it is small;
    * at corpus scale it is a plain fingerprint-keyed shuffle join — never
    * all-pairs), and coverage is an interval union computed as
    * `countDistinct` over exploded positions — bounded by k x matched
    * spans per document, with the usual two-level single-distinct plan. */
  def spanDupCoverage(documents: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    val toks = col("toks")
    // span generation (tokenize + k-token concat + md5 per position) is the
    // expensive narrow work; generate it ONCE and hash-repartition on the
    // census key so BOTH consumers — the duplicated-span census and the
    // membership probe — read the same Exchange (ReusedExchange; without
    // it each branch re-derived the spans from its own corpus scan). The
    // census aggregation and the semi join are already clustered by
    // span_md5 after that exchange, so neither adds a shuffle of the spans.
    val spans = documents
      .select(col("doc_id"), TextOps.normTokens(col("text")).as("toks"))
      .where(size(toks) >= k)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        posexplode(transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k))))))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).cast("long").as("i"), md5(col("col")).as("span_md5"))
      .repartition(col("span_md5"))
    val dup = spans.groupBy(col("span_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("span_md5"))
    spans.join(dup, Seq("span_md5"), "left_semi")
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        countDistinct(col("pos")).as("covered_tokens"))
  }
}
