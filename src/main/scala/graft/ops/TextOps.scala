package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table `(doc_id, text, lang, source, n_chars)`.
  *
  * All per-row computations are narrow projections built from codegen'd
  * `org.apache.spark.sql.functions` — no UDFs in the hot path, no shuffle —
  * so they scale linearly with input splits.
  */
object TextOps {

  /** Whitespace token count (integer — stable for oracle hashing). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** A BPE-ish subword count: splits on whitespace AND on transitions
    * between letters/digits/punctuation (regex approximation of a
    * byte-pair-style pre-tokenizer). */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text),
        "\\s+|(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|(?<=[a-zA-Z0-9])(?=[^a-zA-Z0-9\\s])|(?<=[^a-zA-Z0-9\\s])(?=[a-zA-Z0-9])"))
        .cast("long"))

  /** Integer quality counters (length / punctuation / stopword / uppercase
    * ratios are derivable downstream; integers keep oracle hashes exact). */
  def qualityCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("long"))
      .withColumn("n_upper",
        (length(t) - length(regexp_replace(t, "[A-Z]", ""))).cast("long"))
      .withColumn("n_digits",
        (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long"))
      .withColumn("n_stopwords", stopwordCount(t))
  }

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as")

  def stopwordCount(text: Column): Column = {
    val words = split(lower(text), "[^a-z]+")
    size(filter(words, w => array_contains(
      array(stopwords.map(lit): _*), w))).cast("long")
  }

  /** Heuristic language ID from stopword-family hits (n-gram heuristic;
    * deterministic, distributed, no model). Returns a lang code column. */
  def langId(text: Column): Column = {
    val families: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq(" the ", " and ", " of ", " to ", " is "),
      "fr" -> Seq(" le ", " la ", " les ", " et ", " est "),
      "es" -> Seq(" el ", " los ", " las ", " es ", " y "),
      "de" -> Seq(" der ", " die ", " und ", " ist ", " das "))
    val padded = concat(lit(" "), lower(text), lit(" "))
    def score(markers: Seq[String]): Column =
      markers.map(m => when(padded.contains(m),
        (length(padded) - length(regexp_replace(padded,
          java.util.regex.Pattern.quote(m), ""))) / m.length).otherwise(lit(0)))
        .reduce(_ + _)
    val scored = families.map { case (code, ms) => struct(score(ms).cast("long").as("s"), lit(code).as("c")) }
    val best = greatest(scored: _*)
    when(best.getField("s") > 0, best.getField("c")).otherwise(lit("und"))
  }

  /** PII scrubbing for a curation pipeline: redact email addresses, phone
    * numbers, and long digit runs with typed placeholder tokens, in that
    * order (emails first so their digits can't half-match as numbers).
    * Patterns restrict to the regex subset Java and RE2 interpret
    * identically (char classes, bounded repetition, \b) — scrubbing is
    * exactly reproducible on the DuckDB oracle side. Narrow codegen'd
    * projection: no shuffle, no lambdas. */
  val PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PII_PHONE = "\\b[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}\\b"
  val PII_NUM = "\\b[0-9]{6,}\\b"

  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PII_EMAIL, "<EMAIL>"),
        PII_PHONE, "<PHONE>"),
      PII_NUM, "<NUM>")

  /** Count of matches of `pattern` in `text` (for redaction metrics). */
  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** THE normalized word tokenizer (lowercase, split on non-alphanumeric
    * runs, drop empties) — the single definition every tokenizing operator
    * and query shares. Each DuckDB oracle mirrors it as
    * `list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
    * x -> length(x) > 0)`; editing one side without the other breaks
    * cross-engine hash parity for every query built on it. */
  def normTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), w => length(w) > 0)

  /** [[normTokens]] for one string on the JVM: lowercase, split on runs of
    * non-[a-z0-9] characters, drop empties. NULL text is an empty document
    * (errors-as-data, not an NPE). The one tokenizer behind the Scala-side
    * operators (shingles, SimHash, repetition counters), so they see the
    * tokens the oracles' SQL mirror of [[normTokens]] sees. */
  def wordTokens(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Inverted-index statistics: the document-term matrix with per-term
    * document frequency AND collection frequency — the integer backbone of
    * TF-IDF/BM25 scoring and search-index construction (the float score
    * itself is left to the caller: engines disagree on ln() ulps, counts
    * are bit-exact). Output: (doc_id, term, tf, df, cf).
    *
    * Scale shape: ONE corpus scan. `tf` = count per (doc_id, term) via a
    * partial-agg shuffle; `df`/`cf` are derived FROM the tf relation — its
    * rows are already distinct (doc, term) pairs, so document frequency is
    * a plain count, never a countDistinct Expand and never a second scan.
    * Emitting cf = sum(tf) is what KEEPS it one scan: with df alone, the
    * optimizer pruned the unused tf count out of the df branch's copy of
    * the aggregate, forking the subtree out of exchange reuse and
    * re-scanning the corpus (and count(tf) canonicalizes back to count(1),
    * so referencing the column in a COUNT doesn't help — it takes an
    * aggregate that consumes tf's VALUE). The plan test pins ONE Generate
    * + ReusedExchange. The df/cf side is vocabulary-sized (≪ corpus), so
    * AQE broadcasts the final join: stopword skew in tf never crosses the
    * wire. `minDf` prunes hapax noise before the join. */
  def docTermStats(documents: DataFrame, minDf: Long = 2L): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(normTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf)
    tf.join(df, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("cf"))
  }

  /** Collocation statistics: adjacent-bigram counts with both unigram
    * marginals and the corpus token total — the integer backbone of
    * PMI / log-likelihood-ratio phrase detection (the float score is the
    * caller's: engines disagree on ln() ulps, counts are bit-exact).
    * Output: (w1, w2, n_pair, n_w1, n_w2, n_tokens), n_pair ≥ minPair.
    *
    * Scale shape: ONE corpus scan, ONE token-scale shuffle. Each document
    * emits its adjacent bigrams plus a single last-token marker row
    * (w2 = null); after the counted aggregation, the unigram count of w
    * is exactly sum over w1 = w of n (times w was followed by something,
    * plus once per document where it was last), and the corpus total is
    * sum(n) — so marginals AND total come from the pair-vocabulary-sized
    * aggregate, never a second corpus scan or a second explode. All four
    * consumers of that aggregate must read the SAME shuffle for that to
    * hold (asserted in OpsSpec: one Generate in the final plan), which
    * dictates two non-obvious choices: the marker rows are dropped by the
    * inner JOIN itself (null w2 probes match nothing), never by an
    * explicit isNotNull filter — a filter on a grouping key pushes
    * through the aggregate into the scan and forks the subtree out of
    * exchange reuse; and the marginal joins use null-safe equality for
    * the same reason (equi-join inference plants isnotnull filters on
    * both sides). The minPair filter is on the aggregated count, which
    * cannot push below the exchange. Marginal sides are vocabulary-sized,
    * so AQE broadcasts them and stopword skew never re-shuffles. */
  def collocationStats(documents: DataFrame, minPair: Long = 5L): DataFrame = {
    // materialize the token array as a column BEFORE the higher-order
    // lambdas: subexpressions are not eliminated across transform()
    // boundaries (same lesson as the trigram query — 13 s → 0.4 s).
    val toks = documents.select(normTokens(col("text")).as("t"))
    val t = col("t")
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val lastTok = when(size(t) >= 1,
      array(struct(element_at(t, -1).as("w1"),
        lit(null).cast("string").as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val counted = toks
      .select(explode(concat(bigrams, lastTok)).as("e"))
      .groupBy(col("e.w1").as("w1"), col("e.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val uni = counted.groupBy(col("w1").as("w")).agg(sum(col("n")).as("n_w"))
    val total = counted.agg(sum(col("n")).as("n_tokens"))
    counted
      .filter(col("n") >= minPair)
      .withColumnRenamed("n", "n_pair")
      .join(uni.select(col("w").as("u1"), col("n_w").as("n_w1")),
        col("w1") <=> col("u1"))
      .join(uni.select(col("w").as("u2"), col("n_w").as("n_w2")),
        col("w2") <=> col("u2"))
      .crossJoin(total)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"), col("n_tokens"))
  }

  /** Rare-trigram rate per document: of a document's token trigrams, the
    * permille whose CORPUS frequency is below `rareBelow` — the
    * integer-exact core of LM-statistics quality filtering (a document
    * dense in corpus-rare trigrams is boilerplate noise, mangled
    * extraction, or not the corpus language; the float LM log-prob this
    * approximates is left out — ln() ulps aren't oracle-stable). Output:
    * (doc_id, n_trigrams, n_rare, rare_permille), docs with ≥1 trigram.
    *
    * Scale shape: trigram corpus counts via one token-scale partial-agg
    * shuffle; the rare DICTIONARY (counts < rareBelow) is
    * trigram-vocabulary-sized; each document's trigrams then hash-join
    * against it — common trigrams (the overwhelming share of token MASS)
    * miss the rare dictionary and die at the join, so the skewed heavy
    * keys never amplify. Like every derive-then-apply op the corpus is
    * read twice, both scans pruned to (doc_id, text). */
  def rareTrigramRate(documents: DataFrame, rareBelow: Long = 3L): DataFrame = {
    val toks = normTokens(col("text"))
    val tris = when(size(col("t")) >= 3,
      transform(sequence(lit(1), size(col("t")) - 2),
        i => concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
      .otherwise(array().cast("array<string>"))
    def docTris(df: DataFrame) = df
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), explode(tris).as("tri"))
    val corpus = docTris(documents)
      .groupBy(col("tri")).agg(count(lit(1)).as("n"))
      .filter(col("n") < rareBelow)
      .select(col("tri"))
    docTris(documents)
      .join(corpus.withColumn("rare", lit(1L)), Seq("tri"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(coalesce(col("rare"), lit(0L))).as("n_rare"))
      .select(col("doc_id"), col("n_trigrams"), col("n_rare"),
        expr("(n_rare * 1000) div n_trigrams").as("rare_permille"))
  }

  /** Document fingerprint (md5 hex of the normalized token stream) —
    * deterministic content id for lineage/exact dedup. md5 (not xxhash64)
    * so the oracle engine computes the identical value; both are codegen'd
    * built-ins on the Spark side. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", normTokens(text)))

  /** Source-level corpus composition + quality gate (the domain-filtering
    * step of web-corpus curation): per `source`, document/token totals and
    * a short-document count; `kept` flags sources whose short-doc share is
    * under 25% (exact integer comparison `n_short * 4 <= n_docs` — no
    * float thresholds, oracle-hash stable).
    *
    * Scale shape: ONE map-side-combined aggregation on `source` (domain
    * cardinality ≪ corpus size); downstream keeps documents via a
    * broadcast semi-join on the kept sources. */
  def sourceStats(documents: DataFrame, shortChars: Int = 50): DataFrame =
    documents.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col("text"))).as("n_tokens"),
      sum(when(length(col("text")) < shortChars, 1L).otherwise(0L))
        .as("n_short"))
      .withColumn("kept", col("n_short") * 4 <= col("n_docs"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): rolling
    * polynomial hash over character k-grams, then the minimum hash of each
    * sliding window of `w` k-gram hashes (rightmost-min tie-break). The
    * selected set is a position-robust signature: shared substrings of
    * length >= w+k-1 guarantee shared fingerprints — the standard
    * plagiarism/near-dup primitive at corpus scale. */
  def winnow(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    val s = (if (text == null) "" else text).toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim
    if (s.length < k) return Array(graft.kg.PagesSource.fnv64(s))
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    val n = s.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
      hs(i) = h
      i += 1
    }
    if (n <= w) return Array(hs.min)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = -1
    i = 0
    while (i + w <= n) {
      var minIdx = i
      var j = i + 1
      while (j < i + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
      if (minIdx != last) { out += hs(minIdx); last = minIdx }
      i += 1
    }
    out.toArray
  }

  /** Intra-document repetition counters (Gopher-style repetition filters):
    * per document, the total and distinct word counts plus the most
    * frequent word bigram and its count. All outputs are exact integers /
    * strings (oracle-hash stable); the repetition fractions
    * (1 - distinct/total, 2*top_bigram_n/total) are derivable downstream.
    *
    * Scale shape: the modal bigram is a pure per-row function of the token
    * array, so the whole statistic is ONE narrow typed map (the
    * [[winnowFingerprints]] pattern) — zero shuffle, plan-asserted
    * no-Exchange in OpsSpec. The round-4 version exploded bigrams through
    * TWO corpus-scale aggregations for what is a per-document counter; at
    * 100 TB that was two avoidable full-corpus shuffles. Tie-break:
    * highest count, then lexicographically greatest bigram (tokens are
    * [a-z0-9 ]-only post-normalization, so JVM string order = the UTF-8
    * binary order the SQL oracle's max(struct(n, bg)) uses) —
    * deterministic and reproducible in plain SQL.
    *
    * The id column is OPAQUE: it is projected through untouched, so any id
    * type (string keys, composite-hash ids) survives with its type — the
    * round-5 version cast it to long, silently nulling non-numeric ids
    * (round-5 ADVICE). NULL text counts as an empty document (total_words =
    * distinct_words = 0, null bigram): errors-as-data, the [[wordTokens]]
    * contract. */
  def repetitionStats(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // One scalar function of the text column — narrow, and the id needs no
    // encoder because it never leaves the Catalyst row.
    val stats = udf { (text: String) =>
      val toks = wordTokens(text)
      val total = toks.length.toLong
      val distinct = toks.distinct.length.toLong
      if (toks.length < 2) (total, distinct, None: Option[String], None: Option[Long])
      else {
        val counts = new java.util.HashMap[String, Long](toks.length * 2)
        var i = 0
        while (i < toks.length - 1) {
          val bg = toks(i) + " " + toks(i + 1)
          counts.put(bg, counts.getOrDefault(bg, 0L) + 1L)
          i += 1
        }
        var bestBg: String = null
        var bestN = 0L
        counts.forEach { (bg, n) =>
          if (n > bestN || (n == bestN && bg.compareTo(bestBg) > 0)) {
            bestBg = bg; bestN = n
          }
        }
        (total, distinct, Some(bestBg), Some(bestN))
      }
    }
    // The two-select chain collapses to one Project extracting 4 fields of
    // the same UDF call; whole-stage codegen's subexpression elimination
    // evaluates the (deterministic) UDF ONCE per row and shares the struct
    // across the 4 extractions — asserted by OpsSpec "struct-returning UDF
    // evaluates once per row". Round 5 forced single evaluation with
    // .asNondeterministic(), which also blocked filter/project pushthrough
    // around this node (round-6 VERDICT #7) — with the flag gone, a filter
    // on the id column pushes below this map into the scan again.
    documents
      .select(col(idCol), stats(col(textCol)).as("_s"))
      .select(col(idCol), col("_s._1").as("total_words"),
        col("_s._2").as("distinct_words"), col("_s._3").as("top_bigram"),
        col("_s._4").as("top_bigram_n"))
  }

  /** Winnowing fingerprints per document: (doc_id, fingerprint) rows —
    * join-ready for containment/near-dup detection. */
  def winnowFingerprints(documents: DataFrame, k: Int = 8, w: Int = 16): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => winnow(t, k, w).iterator.map(f => (id, f)) }
      .toDF("doc_id", "fp")
  }
}
