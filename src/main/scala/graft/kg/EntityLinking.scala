package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.{DedupOps, LocalGate}
import Model._

/** Mention detection + dictionary entity linking (SURVEY.md §2.5).
  *
  * Two-phase, Spark-first:
  *  1. EXACT: normalized-surface equi-join against the dictionary. The
  *     dictionary is tiny relative to the corpus → `broadcast()` — no
  *     shuffle of the (huge) mention side.
  *  2. LSH fallback for near-matches: MinHash over character-3-gram shingles,
  *     banded (b bands × r rows) so that near-duplicate surfaces collide on
  *     at least one band key with high probability; candidates verified with
  *     exact Jaccard, best match per surface picked by a deterministic
  *     `max(struct(jaccard, entity))` aggregation (no window needed).
  *
  * Round-3 shape: EVERYTHING per-surface-form (normalize lambda, MinHash,
  * banding, Jaccard) runs on the distinct-surface relation — vocabulary-
  * scale — and folds into one size-gated (surface → entity, method) map.
  * The mention OCCURRENCE stream (corpus-scale: 10^12 rows at target) is
  * touched by exactly two codegen'd column plans: one map-side-combined
  * distinct() and one broadcast-probe projection. No occurrence-side
  * shuffle, no occurrence-side lambdas.
  */
object EntityLinking {

  val NUM_HASHES = 12
  val BAND_ROWS = 3
  val NUM_BANDS = NUM_HASHES / BAND_ROWS
  val JACCARD_THRESHOLD = 0.35

  /** Size gate (rows) for the driver-local linking path: both the
    * distinct-surface set and the dictionary must fit (strings; 2M rows ≈
    * low hundreds of MB — stay well under driver heap). */
  val MAX_LOCAL_NORM_MATCHES = 2000000

  /** Lower-case, turn every code point that is not a letter or digit
    * into a space, collapse and trim. Classifies code points, not UTF-16
    * units: a surrogate half is never a letter, so astral-plane letters
    * and digits (CJK Extension B, mathematical alphanumerics) would vanish. */
  def normalize(s: String): String = {
    val cps = s.toLowerCase(java.util.Locale.ROOT).codePoints()
      .map(cp => if (Character.isLetterOrDigit(cp)) cp else ' '.toInt).toArray
    new String(cps, 0, cps.length)
      .split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  def shingles(norm: String, k: Int = 3): Array[String] =
    // short norms hash as a single whole-string shingle
    if (norm.length <= k) Array(norm)
    else Array.tabulate(norm.length - k + 1)(i => norm.substring(i, i + k))

  /** MinHash / banding / Jaccard shared with DedupOps (same math, linking
    * widths: 12 hashes x 3-row bands). */
  def minhash(sh: Array[String]): Array[Long] =
    DedupOps.minhashSig(sh, NUM_HASHES)

  def bands(sig: Array[Long]): Array[(Int, Long)] =
    DedupOps.bandKeys(sig, NUM_BANDS, BAND_ROWS)

  def jaccard(a: Array[String], b: Array[String]): Double =
    DedupOps.jaccardSets(a, b)

  /** Detect mentions in the triple stream: literal objects of the mention
    * predicate. PURE column projection — no typed map, no shuffle: the
    * filter and two-column projection push down to the (parquet) triple
    * source and the pass stays inside whole-stage codegen. Normalization
    * deliberately does NOT happen here: it runs per DISTINCT surface
    * inside [[link]] — at 10^12 mentions a per-occurrence normalize
    * lambda was the occurrence stream's only non-codegen operator. */
  def mentions(triples: Dataset[TripleRow]): DataFrame =
    triples.toDF().filter(isMention)
      .select(col("url"), col("obj_value").as("surface"))

  /** The row predicate of [[mentions]] over the triple columns: a
    * well-formed triple whose object is a literal of the mention
    * predicate. */
  val isMention: Column = col("error").isNull &&
    col("pred") === PagesSource.MENTIONS_PRED && col("obj_kind") === "literal"

  /** Link mentions `(url, surface)` against the dictionary. Returns one row
    * per mention occurrence that found a match (exact preferred over lsh).
    *
    * ALL per-surface-form work — normalization, MinHash, banding, Jaccard
    * verification — runs on the DISTINCT surface set (vocabulary-shaped,
    * zipf), never per occurrence: the result is a (surface → entity) map
    * that the occurrence stream consumes with a single broadcast join. The
    * occurrence-scale passes are therefore one distinct() (map-side
    * combined) and one broadcast-join projection, both codegen'd column
    * plans with zero lambdas. */
  def link(mentions: DataFrame, dict: Dataset[DictEntry],
      maxLocal: Int = MAX_LOCAL_NORM_MATCHES): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._

    // ONE gated collect doubles as the size-gate probe AND the data fetch
    // (CollectLimit over the map-side-combined distinct short-circuits).
    // Both the distinct-surface set and the dictionary must fit the gate
    // for the local path; the dictionary already has to fit the driver for
    // the exact phase's broadcast join either way.
    val distinctSurfaces = mentions.select($"surface").distinct()
    val localMap = for {
      surfaces <- LocalGate.collectAtMost(distinctSurfaces.as[String], maxLocal)
      dictArr <- LocalGate.collectAtMost(dict, maxLocal)
    } yield localSurfaceMap(surfaces, dictArr)
    val surfaceMap: DataFrame = localMap match {
      case Some(m) => broadcast(spark.createDataset(m.toSeq)
        .toDF("surface", "entity_iri", "method"))
      case None => distributedSurfaceMap(distinctSurfaces, dict)
    }

    // ONE pass over the mention occurrence stream: a broadcast hash probe
    // on the raw surface string — no normalize, no lambdas.
    mentions
      .join(surfaceMap, Seq("surface"))
      .select($"url", $"surface", $"entity_iri", $"method")
  }

  /** `link(mentions, dict).count()` from the mentions' distinct surfaces
    * with their occurrence counts, without a pass over the occurrences:
    * Σ over [[localSurfaceMap]]'s rows of that row's surface count, so an
    * exact match on a duplicated dictionary entry counts once per entry,
    * as the join emits it. None above [[link]]'s gate: more than
    * `maxLocal` surfaces or dictionary rows. */
  private[kg] def localLinkedCount(surfaceCounts: Array[(String, Long)],
      dict: Dataset[DictEntry], maxLocal: Int = MAX_LOCAL_NORM_MATCHES): Option[Long] =
    if (surfaceCounts.length > maxLocal) None
    else LocalGate.collectAtMost(dict, maxLocal).map { dictArr =>
      val counts = surfaceCounts.toMap
      localSurfaceMap(surfaceCounts.map(_._1), dictArr).iterator.map(r => counts(r._1)).sum
    }

  /** Driver-local (surface → entity, method) map — the under-gate path.
    * The whole linking decision is a pure function of (distinct surfaces,
    * dictionary), both vocabulary-scale here; computing it locally
    * replaces ~10 tiny scheduler stages (distinct → normalize → exact
    * join → anti join → band flatMaps → band join → dedup → UDF → groupBy
    * → collect) — the same tiny-data-wants-a-local-algorithm trade as
    * Canonicalize's union-find path. Semantics are identical to
    * [[distributedSurfaceMap]] (tested both ways): exact matches emit one
    * row per matching dict row (duplicates included, as the exact join
    * does); misses take the best LSH candidate by (jaccard, iri) — the
    * order Spark's max(struct(jaccard, cand_iri)) applies, IRIs compared
    * as UTF-8 bytes.
    *
    * Each distinct dictionary entry is shingled, prepared as a sorted set
    * and banded once; a missed surface prepares its own set once and
    * verifies each distinct candidate by merge intersection
    * ([[graft.ops.DedupOps.jaccardPrepared]]). Verification dominates: the
    * synthetic dictionary's `entity N` entries share most of their
    * shingles, so a fifth of it can sit behind one band key. Measured on
    * a shared 4-core host, warm, 8,000 surfaces against the 2,000-entry
    * dictionary: 0.05-0.12 s wall and 0.16-0.40 CPU-s per call, where
    * rebuilding two hash sets per candidate took 1.06-1.15 s and 3.7-3.9
    * CPU-s. Both hot loops (dictionary preparation, per-surface matching)
    * run on parallel streams over the driver's cores; the result is
    * index-assembled, so output order (and therefore the broadcast
    * relation) is bit-identical to the sequential computation. */
  private[kg] def localSurfaceMap(surfaces: Array[String],
      dictArr: Array[DictEntry]): Array[(String, String, String)] = {
    val byNorm = dictArr.groupBy(_.surface)
    val dict = dictArr.distinct
    val dictSets = new Array[Array[String]](dict.length)
    val dictBands = new Array[Array[(Int, Long)]](dict.length)
    java.util.stream.IntStream.range(0, dict.length).parallel().forEach { i =>
      val sh = shingles(dict(i).surface)
      dictSets(i) = DedupOps.prepareSet(sh)
      dictBands(i) = bands(minhash(sh))
    }
    val bandIdx: Map[(Int, Long), Array[Int]] = dict.indices.toArray
      .flatMap(i => dictBands(i).map(_ -> i))
      .groupBy(_._1).map { case (bh, es) => bh -> es.map(_._2) }
    val out = new Array[Seq[(String, String, String)]](surfaces.length)
    java.util.stream.IntStream.range(0, surfaces.length).parallel().forEach { i =>
      val s = surfaces(i)
      val norm = normalize(s)
      out(i) = byNorm.get(norm) match {
        case Some(entries) =>
          entries.toSeq.map(e => (s, e.entity_iri, "exact"))
        case None =>
          val nsh = shingles(norm)
          val nset = DedupOps.prepareSet(nsh)
          val cands = bands(minhash(nsh))
            .flatMap(bh => bandIdx.getOrElse(bh, Array.emptyIntArray))
          java.util.Arrays.sort(cands)
          var bestJ = 0.0
          var best: DictEntry = null
          var k = 0
          while (k < cands.length) {
            if (k == 0 || cands(k) != cands(k - 1)) {
              val d = dict(cands(k))
              val j = DedupOps.jaccardPrepared(nset, dictSets(cands(k)))
              if (j >= JACCARD_THRESHOLD && (best == null || j > bestJ ||
                  (j == bestJ && UTF8String.fromString(d.entity_iri)
                    .compareTo(UTF8String.fromString(best.entity_iri)) > 0))) {
                bestJ = j
                best = d
              }
            }
            k += 1
          }
          if (best == null) Nil else List((s, best.entity_iri, "lsh"))
      }
    }
    out.flatten
  }

  /** The at-scale path: the same decision as [[localSurfaceMap]] as a
    * distributed plan (used verbatim when the distinct-surface set or the
    * dictionary exceeds the local gate). */
  private def distributedSurfaceMap(distinctSurfaces: DataFrame,
      dict: Dataset[DictEntry]): DataFrame = {
    val spark = distinctSurfaces.sparkSession
    import spark.implicits._

    val dictDf = dict.toDF("dict_surface", "entity_iri")

    // the one typed map in the stage, on distinct surfaces only
    val surfaceNorm = distinctSurfaces
      .as[String].map(s => (s, normalize(s))).toDF("surface", "norm")

    val exact = surfaceNorm
      .join(broadcast(dictDf), $"norm" === $"dict_surface", "left")
      .select($"surface", $"norm", $"entity_iri")

    val missNorms = exact.filter($"entity_iri".isNull)
      .select($"norm").distinct().as[String]

    val normBands = missNorms.flatMap { norm =>
      bands(minhash(shingles(norm))).iterator.map { case (b, h) => (norm, b, h) }
    }.toDF("norm", "band", "bandhash")

    // dictionary bands are a pure function of the vocabulary — computed
    // DISTRIBUTED (a real linker dictionary has 10^7 surfaces; collecting
    // it to the driver to band it would bottleneck driver memory and
    // serialization). No forced broadcast on the band join either: a
    // forced hint would pull NUM_BANDS×|dict| rows through the driver —
    // the same at-scale OOM class the hint removal elsewhere fixes. AQE
    // broadcasts when runtime stats fit the threshold (they do for small
    // dictionaries), else shuffles both band-keyed sides.
    val dictBands = dict.flatMap { dEntry =>
      bands(minhash(shingles(dEntry.surface))).iterator.map { case (b, h) =>
        (dEntry.surface, dEntry.entity_iri, b, h)
      }
    }.toDF("dict_surface", "cand_iri", "band", "bandhash")

    val jac = udf((a: String, b: String) => jaccard(shingles(a), shingles(b)))

    // best entity per distinct norm (deterministic: lexicographic max of
    // (jaccard, entity)); vocabulary-bounded → broadcast back to mentions
    val bestPerNormPlan = normBands
      .join(dictBands, Seq("band", "bandhash"))
      .select($"norm", $"dict_surface", $"cand_iri").distinct()
      .withColumn("jaccard", jac($"norm", $"dict_surface"))
      .filter($"jaccard" >= JACCARD_THRESHOLD)
      .groupBy($"norm")
      .agg(max(struct($"jaccard", $"cand_iri")).as("best"))
      .select($"norm", $"best.cand_iri".as("lsh_iri"))

    // exact matches preferred over LSH. Both branches derive from the same
    // distinct shuffle — ReusedExchange executes it once.
    exact
      .join(bestPerNormPlan, Seq("norm"), "left")
      .filter($"entity_iri".isNotNull || $"lsh_iri".isNotNull)
      .select($"surface",
        coalesce($"entity_iri", $"lsh_iri").as("entity_iri"),
        when($"entity_iri".isNotNull, lit("exact")).otherwise(lit("lsh"))
          .as("method"))
  }

  /** End-to-end: triples → linked mentions. */
  def run(triples: Dataset[TripleRow]): DataFrame = {
    val spark = triples.sparkSession
    link(mentions(triples), PagesSource.dictionary(spark))
  }
}
