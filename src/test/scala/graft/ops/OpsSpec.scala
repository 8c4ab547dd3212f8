package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.SparkTestSession

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup keeps one keeper per distinct text") {
    val d = DedupOps.exactDedup(docs)
    assert(d.count() == docs.select("text").distinct().count())
  }

  test("exact dedup shuffles hash keys with map-side partials, never raw text") {
    // the round-6 scale property (VERDICT #4): the single Exchange must key
    // on the computed (length, md5) pair AFTER a partial aggregate, so the
    // shuffle payload is one ~36-byte row per distinct text per partition —
    // not the corpus. Structural assert so a refactor that regresses to
    // groupBy(text) (full-text shuffle key) or loses the partial fails here.
    val plan = DedupOps.exactDedup(docs).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle:\n${plan.take(2000)}")
    // the Exchange keys on the aliased computed expressions; raw text in the
    // partitioning would show as a direct text#N reference
    val part = plan.linesIterator.find(_.contains("Exchange hashpartitioning")).get
    assert(!part.contains("text#"), s"shuffle keyed on raw text: $part")
    assert(plan.contains("md5("), s"hash key missing from plan:\n${plan.take(2000)}")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"map-side partial aggregate missing:\n${plan.take(2000)}")
  }

  test("duplicated-span census: hand-computed spans, distinct-doc semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),     // spans(3): "a b c", "b c d"
      (2L, "x a b c"),     // spans(3): "x a b", "a b c"
      (3L, "a b c"),       // span(3):  "a b c"
      (4L, "a b"),         // too short: no spans
      (5L, "q r s t q r s") // "q r s" twice but in ONE doc -> excluded
    ).toDF("doc_id", "text")
    val out = DedupOps.duplicatedSpans(df, 3).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert(r.getAs[String]("span_md5") ==
      java.security.MessageDigest.getInstance("MD5").digest("a b c".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    assert(r.getAs[Long]("span_len") == 5L)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_occurrences") == 3L)
  }

  test("span coverage: interval union over overlapping duplicated spans") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),        // dup spans "a b c"@1, "b c d"@2 -> covers 1-4
      (2L, "x a b c"),        // "a b c"@2 -> covers 2-4
      (3L, "a b c"),          // "a b c"@1 -> covers 1-3
      (5L, "q r s t q r s"),  // "q r s" twice in ONE doc -> no dup, absent
      (6L, "a b c d a b c")   // "a b c"@1,@5 + "b c d"@2 -> union 1-7
    ).toDF("doc_id", "text")
    val out = DedupOps.spanDupCoverage(df, 3).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("covered_tokens")))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 4L, 4L), (2L, 4L, 3L), (3L, 3L, 3L), (6L, 7L, 7L)),
      out.mkString(";"))
  }

  test("duplicated-span census shuffles hash keys, no Expand, partial aggs") {
    // scale shape: the group key is (md5(span), len) so no Exchange carries
    // span text, and the single-distinct count must plan as the two-level
    // aggregation (no Expand multiplying shuffled rows)
    val plan = DedupOps.duplicatedSpans(docs, 10).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"Expand in plan:\n${plan.take(2000)}")
    val parts = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(parts.nonEmpty && parts.forall(p => !p.contains("span#") && !p.contains("text#")),
      s"shuffle keyed on raw text/span:\n${parts.mkString("\n")}")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"map-side partial aggregate missing:\n${plan.take(2000)}")
  }

  test("minhash dedup finds injected near-duplicates with high recall") {
    import spark.implicits._
    // inject: drop last token of every 5th doc
    val base = docs.select($"doc_id", $"text")
    val dups = base.filter($"doc_id" % 5 === 0)
      .withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", regexp_replace($"text", "\\s+\\S+\\s*$", ""))
    val corpus = base.unionByName(dups)
    val pairs = DedupOps.minhashDedup(corpus, 0.5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val injected = base.filter($"doc_id" % 5 === 0).select($"doc_id")
      .as[Long].collect()
    val found = injected.count(id => pairs.contains((id, id + 100000L)))
    assert(found.toDouble / injected.length >= 0.95,
      s"recall ${found.toDouble / injected.length}")
  }

  test("prepared-set Jaccard equals the set-algebra definition exactly") {
    // small code-point pool so random arrays overlap and repeat: ASCII,
    // BMP non-ASCII, the fullwidth A above the surrogate block, and two
    // astral (surrogate-pair) letters
    val pool = Array("a", "b", "\u00e9", "\u65e5", "\uFF21", "\uD840\uDC00",
      "\uD835\uDC00")
    val rnd = new scala.util.Random(42L)
    def str(): String = Seq.fill(rnd.nextInt(3))(pool(rnd.nextInt(pool.length))).mkString
    def arr(): Array[String] = Array.fill(rnd.nextInt(7))(str())
    val fixed = Seq(Array.empty[String], graft.kg.EntityLinking.shingles(""),
      Array("", ""), graft.kg.EntityLinking.shingles("\uD840\uDC00\uD840\uDC01 7"),
      Array("\uD840", "\uDC00", "\uD840\uDC00"))
    val pairs = (for (a <- fixed; b <- fixed) yield (a, b)) ++
      Seq.fill(5000)((arr(), arr()))
    pairs.foreach { case (a, b) =>
      val (sa, sb) = (a.toSet, b.toSet)
      val expected =
        if ((sa | sb).isEmpty) 0.0 else (sa & sb).size.toDouble / (sa | sb).size
      val pa = DedupOps.prepareSet(a)
      assert(pa.toSeq == sa.toSeq.sorted, a.mkString("[", ",", "]"))
      assert(DedupOps.jaccardPrepared(pa, DedupOps.prepareSet(b)) == expected,
        s"${a.mkString("[", ",", "]")} vs ${b.mkString("[", ",", "]")}")
      assert(DedupOps.jaccardSets(a, b) == expected)
    }
  }

  test("LSH bucket cap bounds a hot bucket (10k identical docs) without losing recall") {
    import spark.implicits._
    // Common-Crawl shape: a massive exact-duplicate boilerplate cluster.
    // Uncapped, 10k identical docs in one (band,hash) bucket → ~50M
    // candidate pairs; the cap must bound candidates while near-dup recall
    // on the ordinary injected dups stays >= 0.95.
    val boiler = spark.range(500000, 510000)
      .select($"id".as("doc_id"), lit("the same boilerplate cookie banner text " +
        "repeated on every single page of this website").as("text"))
    val base = docs.select($"doc_id", $"text")
    val dups = base.filter($"doc_id" % 5 === 0)
      .withColumn("doc_id", $"doc_id" + 100000L)
      .withColumn("text", regexp_replace($"text", "\\s+\\S+\\s*$", ""))
    val corpus = base.unionByName(dups).unionByName(boiler)

    val pairs = DedupOps.minhashDedup(corpus, 0.5)
      .select($"a", $"b").as[(Long, Long)].collect()
    val cap = DedupOps.MAX_BUCKET
    val boilerPairs = pairs.count { case (a, b) => a >= 500000 && b >= 500000 }
    assert(boilerPairs <= cap * (cap - 1) / 2,
      s"hot-bucket pairs not bounded: $boilerPairs")
    assert(boilerPairs > 0, "cap must keep intra-bucket pairs, not drop the bucket")

    val pairSet = pairs.toSet
    val injected = base.filter($"doc_id" % 5 === 0).select($"doc_id").as[Long].collect()
    val found = injected.count(id => pairSet.contains((id, id + 100000L)))
    assert(found.toDouble / injected.length >= 0.95,
      s"recall ${found.toDouble / injected.length} with cap active")
  }

  test("simhash dedup finds exact copies at hamming 0") {
    import spark.implicits._
    val base = docs.select($"doc_id", $"text")
    val dups = base.filter($"doc_id" % 5 === 0)
      .withColumn("doc_id", $"doc_id" + 100000L)
    val corpus = base.unionByName(dups)
    val pairSet = DedupOps.simhashDedup(corpus, 0)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val injected = base.filter($"doc_id" % 5 === 0).select($"doc_id").as[Long].collect()
    val found = injected.count(id => pairSet.contains((id, id + 100000L)))
    assert(found == injected.length)
  }

  test("LSH ANN has high top-10 overlap with brute force") {
    import spark.implicits._
    val brute = SimilarityOps.bruteForceTopK(embs, 8, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = SimilarityOps.lshTopK(embs, 8, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val overlaps = brute.keys.toSeq.sorted.map { q =>
      val o = brute(q).intersect(lsh.getOrElse(q, Set.empty)).size.toDouble / 10
      o
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.4, s"mean top-10 overlap $mean too low: $overlaps")
  }

  test("kmeansAssign: every vector labeled, partition-invariant, cells agree with local replay") {
    import spark.implicits._
    val got = SimilarityOps.kmeansAssign(embs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val re = SimilarityOps.kmeansAssign(embs.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == re, "assignment must not depend on partitioning")
    val n = embs.count()
    assert(got.size == n && got.values.forall(c => c >= 0 && c < 32))
    // local replay: nearestCell over the driver-side codebook
    val cs = SimilarityOps.trainCentroids(embs)
    val vecs = embs.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect()
    val exp = vecs.map { case (id, v) =>
      id -> SimilarityOps.nearestCell(cs, v).toLong
    }.toMap
    assert(got == exp)
  }

  test("diverseSample: per-cell quota, deterministic ids, covers every non-empty cell") {
    import spark.implicits._
    val got = SimilarityOps.diverseSample(embs, perCell = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.groupBy(_._2).values.forall(_.length <= 3))
    // quota takes the LOWEST ids of each cell — recompute from assignment
    val assign = SimilarityOps.kmeansAssign(embs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exp = assign.groupBy(_._2).toSeq.flatMap { case (cell, vs) =>
      vs.map(_._1).sorted.take(3).zipWithIndex
        .map { case (id, i) => (id, cell, i + 1L) }
    }.toSet
    assert(got.toSet == exp)
  }

  test("IVF ANN has reasonable top-10 overlap with brute force") {
    import spark.implicits._
    val brute = SimilarityOps.bruteForceTopK(embs, 8, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = SimilarityOps.ivfTopK(embs, 8, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // nprobe/nlist = 1/8 of the corpus scanned; require mean overlap >= 0.4
    // (coarse quantization trades recall for the 8x candidate cut; exact
    // duplicates and tight clusters are what IVF must retain)
    val overlaps = brute.keys.toSeq.sorted.map { q =>
      brute(q).intersect(ivf.getOrElse(q, Set.empty)).size.toDouble / 10
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.4, s"mean overlap $mean: $overlaps")
    // every query must at least return a full candidate list
    assert(ivf.values.forall(_.size == 10))
  }

  test("oracle precondition: no LSH bucket on the driver corpus nears the cap") {
    import spark.implicits._
    // The DuckDB oracles for dedup_minhash/ngram/simhash are brute-force
    // all-pairs; they equal the banded Spark output only while no band
    // bucket on the sf0.01 dup corpus exceeds MAX_BUCKET (the cap would
    // drop pairs the oracle emits). Guard the measured precondition so a
    // corpus change flags the hazard HERE before a driver compare reddens.
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
    val dups = docs01.filter($"doc_id" % 10 === 0)
      .withColumn("doc_id", $"doc_id" + 1000000000L)
      .withColumn("text", regexp_replace($"text", "\\s+\\S+\\s*$", ""))
    val corpus = docs01.unionByName(dups).as[(Long, String)]

    val minhashMax = corpus.flatMap { case (id, text) =>
      val sig = DedupOps.minhashSig(DedupOps.wordShingles(text))
      DedupOps.bandKeys(sig, DedupOps.NUM_BANDS, DedupOps.BAND_ROWS)
        .iterator.map { case (b, h) => (b, h) }
    }.groupByKey(identity).count().map(_._2).reduce(math.max)
    assert(minhashMax < DedupOps.MAX_BUCKET,
      s"minhash bucket $minhashMax nears cap ${DedupOps.MAX_BUCKET}: all-pairs oracles no longer sound")

    // simhashDedup bands DISTINCT signatures and caps identical-sig cliques
    // (round 5) — its all-pairs-oracle preconditions are those two shapes.
    val simSigs = corpus.map { case (_, t) => DedupOps.simhash64(t) }
    val cliqueMax = simSigs.groupByKey(identity).count().map(_._2).reduce(math.max)
    assert(cliqueMax < DedupOps.CLIQUE_CAP,
      s"simhash clique $cliqueMax nears cap ${DedupOps.CLIQUE_CAP}")
    val simhashMax = simSigs.distinct()
      .flatMap(sig => (0 until 4).iterator.map(b => (b, (sig >>> (b * 16)) & 0xFFFFL)))
      .groupByKey(identity).count().map(_._2).reduce(math.max)
    assert(simhashMax < DedupOps.MAX_BUCKET,
      s"simhash distinct-sig bucket $simhashMax nears cap ${DedupOps.MAX_BUCKET}")
  }

  test("simhash hot bucket: identical-sig clique above the bucket cap keeps full pair recall") {
    import spark.implicits._
    // 100 byte-identical docs = one signature clique far above MAX_BUCKET=64.
    // Round-4 per-document banding kept only the first 64 bucket members, so
    // docs 65..100 lost every pair (the measured 69%-recall cliff at sf0.1).
    // The distinct-signature design must emit all C(100,2) hamming-0 pairs
    // and pair a near-duplicate (hamming 1..3) with EVERY clique member.
    val boilerText = "the same boilerplate cookie banner text repeated on " +
      "every single page of this website"
    val n = 100
    val boiler = spark.range(0, n.toLong)
      .select(($"id" + 1000L).as("doc_id"), lit(boilerText).as("text"))
    val baseSig = DedupOps.simhash64(boilerText)
    val near = (1 to 500).iterator.map(i => boilerText + " tok" + i)
      .find { t =>
        val h = java.lang.Long.bitCount(DedupOps.simhash64(t) ^ baseSig)
        h >= 1 && h <= 3
      }
    assert(near.isDefined, "no deterministic perturbation with hamming 1..3 found")
    val corpus = boiler.unionByName(Seq((5000L, near.get)).toDF("doc_id", "text"))
    val pairs = DedupOps.simhashDedup(corpus, 3).collect()
    val cliquePairs = pairs.count(r => r.getLong(0) < 5000 && r.getLong(1) < 5000)
    assert(cliquePairs == n * (n - 1) / 2,
      s"clique pairs $cliquePairs != ${n * (n - 1) / 2}")
    val nearPairs = pairs.count(r => r.getLong(1) == 5000L)
    assert(nearPairs == n, s"near-dup paired with $nearPairs of $n clique members")
    assert(pairs.length == n * (n - 1) / 2 + n)
  }

  test("IVF training is run-to-run deterministic (fixed-point accumulation)") {
    import spark.implicits._
    val a = SimilarityOps.ivfTopK(embs, 8, 10)
      .select($"q_id", $"rank", $"vec_id", $"score_permille")
      .collect().map(_.toString).sorted
    val b = SimilarityOps.ivfTopK(embs, 8, 10)
      .select($"q_id", $"rank", $"vec_id", $"score_permille")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("embedding dedup finds scaled copies (cosine 1.0)") {
    import spark.implicits._
    val base = embs.select($"vec_id", $"embedding")
    val dups = base.filter($"vec_id" % 10 === 0)
      .withColumn("vec_id", $"vec_id" + 100000L)
      .withColumn("embedding", transform($"embedding", x => x * lit(1.01f)))
    val corpus = base.unionByName(dups)
    val pairs = SimilarityOps.embeddingDedup(corpus, 0.99)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val injected = base.filter($"vec_id" % 10 === 0).select($"vec_id").as[Long].collect()
    val found = injected.count(id => pairs.contains((id, id + 100000L)))
    // SRP buckets are identical for scaled vectors (same signs) → full recall
    assert(found == injected.length, s"found $found of ${injected.length}")
  }

  test("ANN query fetch pushes the vec_id predicate into the parquet scan") {
    val plan = SimilarityOps.queryFetch(embs, 8).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(vec_id,8)"),
      s"vec_id<8 not pushed to scan:\n$plan")
    assert(!plan.contains("DeserializeToObject"),
      "query fetch must stay in column space (no object deserialization)")
  }

  test("PII scrub redacts emails, phones, and digit runs; counts match") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to bob.smith+x@corp.example.org or call 555-0123 now"),
      (2L, "order 123456789 shipped; tracking 555-123-4567"),
      (3L, "no pii here at all")).toDF("id", "text")
    val out = df.select($"id", TextOps.piiScrub($"text").as("s"),
      TextOps.matchCount($"text", TextOps.PII_EMAIL).as("e"),
      TextOps.matchCount($"text", TextOps.PII_PHONE).as("p"),
      TextOps.matchCount($"text", TextOps.PII_NUM).as("n"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ("write to <EMAIL> or call <PHONE> now", 1L, 1L, 0L))
    assert(out(2L) == ("order <NUM> shipped; tracking <PHONE>", 0L, 1L, 1L))
    assert(out(3L) == ("no pii here at all", 0L, 0L, 0L))
  }

  test("language id classifies constructed sentences correctly") {
    // the documents table's text is English-ish bag-of-words regardless of
    // its lang label, so langId is validated on real sentences instead
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat and the dog ran to the house and it is warm"),
      ("fr", "le chat et la maison sont dans les champs et il est tard"),
      ("es", "el perro y los gatos es bonito y las casas son grandes"),
      ("de", "der hund und die katze ist gross und das haus ist alt"),
      ("und", "xyzzy plugh qwerty")).toDF("expect", "text")
    val out = samples.select($"expect", TextOps.langId($"text").as("pred"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    out.foreach { case (e, p) => assert(e == p, s"expected $e got $p") }
    // and it is deterministic over the documents table
    val a = docs.select(TextOps.langId($"text")).collect()
    val b = docs.select(TextOps.langId($"text")).collect()
    assert(a.sameElements(b))
  }

  test("quality counts and fingerprint are deterministic") {
    val a = TextOps.qualityCounts(docs).orderBy("doc_id").collect()
    val b = TextOps.qualityCounts(docs).orderBy("doc_id").collect()
    assert(a.sameElements(b))
    val f1 = docs.select(TextOps.fingerprint(col("text"))).collect()
    val f2 = docs.select(TextOps.fingerprint(col("text"))).collect()
    assert(f1.sameElements(f2))
  }

  test("repetition stats: hand-computed counters and modal bigram") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),      // bigrams: "a b" x3, "b a" x2
      (2L, "x y z"),            // all distinct; tie "x y" vs "y z" -> "y z"
      (3L, "solo"),             // no bigram
      (4L, "")                  // empty
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(df).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 6L, 2L), (2L, 3L, 3L), (3L, 1L, 1L), (4L, 0L, 0L)))
    assert(out(0).getString(3) == "a b" && out(0).getLong(4) == 3L)
    // tie-break: count desc then bigram desc ("y z" > "x y")
    assert(out(1).getString(3) == "y z" && out(1).getLong(4) == 1L)
    assert(out(2).isNullAt(3) && out(3).isNullAt(3))
    // determinism under re-evaluation (shuffle order independence)
    val again = TextOps.repetitionStats(df).orderBy("doc_id").collect()
    assert(out.sameElements(again))
    // the scale claim, as a hard plan property (round 5): the statistic is
    // a per-row map — zero Exchange operators in the physical plan
    val plan = TextOps.repetitionStats(docs).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("struct-returning UDF evaluates once per row (repetitionStats shape)") {
    // Round-6 VERDICT #7: repetitionStats no longer lies with
    // .asNondeterministic() to get single evaluation. This pins the Spark
    // behavior that makes the flag unnecessary: the collapsed Project
    // extracts 4 fields of one deterministic UDF call and codegen's
    // subexpression elimination evaluates it ONCE per row.
    import spark.implicits._
    val evals = spark.sparkContext.longAccumulator("udf-evals")
    val stats = udf { (text: String) =>
      evals.add(1L)
      (text.length.toLong, 1L, Option(text), Option(2L))
    }
    val df = Seq((1L, "a"), (2L, "bb"), (3L, "ccc")).toDF("doc_id", "text")
      .select(col("doc_id"), stats(col("text")).as("_s"))
      .select(col("doc_id"), col("_s._1").as("w"), col("_s._2").as("x"),
        col("_s._3").as("y"), col("_s._4").as("z"))
    assert(df.collect().length == 3)
    assert(evals.value == 3L,
      s"UDF evaluated ${evals.value} times for 3 rows — struct decomposition re-evaluates")
  }

  test("repetitionStats no longer blocks filter pushdown to the scan") {
    // the old .asNondeterministic() marker stopped the optimizer from
    // pushing a doc_id filter below the stats projection into the parquet
    // scan; with a deterministic UDF the PushedFilters list must carry it
    val plan = TextOps.repetitionStats(docs).filter(col("doc_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)")
      || plan.contains("PushedFilters: [EqualTo(doc_id,7)"),
      s"doc_id filter not pushed to the scan:\n${plan.take(2500)}")
  }

  test("chunking: hand-computed windows, overlap, short tail, empty doc") {
    import spark.implicits._
    val words = (1 to 33).map(i => s"w$i").mkString(" ")
    val exact = (1 to 56).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, words), (2L, "a b c"), (3L, ""), (4L, exact))
      .toDF("doc_id", "text")
    val out = PackOps.chunkByTokenBudget(df, chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_id").collect()
    // doc1: n=33, step=24 -> ceil(25/24)=2 chunks: [1..32], [25..33]
    // doc2: n=3 -> 1 chunk; doc3: empty -> none
    // doc4: n=56 -> (56-8)/24 = EXACTLY 2 chunks [1..32],[25..56] — the
    // divisible boundary where an off-by-one ceil would emit a third,
    // fully-overlapped chunk
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSeq ==
      Seq((1L, 0, 32L), (1L, 1, 9L), (2L, 0, 3L), (4L, 0, 32L), (4L, 1, 32L)))
    assert(out(0).getString(2).startsWith("w1 w2 ") &&
      out(0).getString(2).endsWith(" w32"))
    assert(out(1).getString(2) == (25 to 33).map(i => s"w$i").mkString(" "))
    assert(out(2).getString(2) == "a b c")
    intercept[IllegalArgumentException](
      PackOps.chunkByTokenBudget(df, chunkTokens = 8, overlap = 8))
    // the scale claim, as a hard plan property: chunking is narrow —
    // zero Exchange operators in the physical plan
    val plan = PackOps.chunkByTokenBudget(docs).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("source stats: composition counters and the integer quality gate") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten chars ok", "a"),
      (2L, "also a long enough document with plenty of characters here", "a"),
      (3L, "short", "b"), (4L, "tiny", "b"), (5L, "ok but still short", "b"),
      (6L, "this b document is long enough to clear the short threshold", "b"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceStats(df, shortChars = 30)
      .orderBy("source").collect()
    // a: 2 docs, 0 short -> kept; b: 4 docs, 3 short -> 12 > 4 -> dropped
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(3),
      r.getBoolean(4))).toSeq == Seq(("a", 2L, 0L, true), ("b", 4L, 3L, false)))
    assert(out(0).getLong(2) == 12L + 10L) // exact token sum for source a
  }

  test("inverted-index stats: hand-computed tf/df, minDf prunes hapaxes") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat The CAT sat"), // tf: the=2, cat=2, sat=1
      (2L, "the dog sat"),
      (3L, "a dog")).toDF("doc_id", "text")
    val got = TextOps.docTermStats(df, minDf = 2L)
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // df: the=2, cat=1(pruned), sat=2, dog=2, a=1(pruned); cf sums tf
    assert(got == Map(
      (1L, "the") -> (2L, 2L, 3L), (1L, "sat") -> (1L, 2L, 2L),
      (2L, "the") -> (1L, 2L, 3L), (2L, "sat") -> (1L, 2L, 2L),
      (2L, "dog") -> (1L, 2L, 2L), (3L, "dog") -> (1L, 2L, 2L)))
  }

  test("index stats plan: df derives from tf — one Generate, no Expand") {
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, "the quick brown fox the lazy dog"))
      .toDF("doc_id", "text")
    val q = TextOps.docTermStats(df)
    assert(q.collect().nonEmpty)
    val finalPlan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // ONE corpus explode: df/cf aggregate FROM the tf relation (its rows
    // are already distinct pairs), so there must be no second scan and no
    // countDistinct Expand multiplying rows before the shuffle; the df
    // branch must read the tf shuffle (cf = sum(tf) keeps tf alive —
    // see docTermStats scaladoc)
    assert("Generate explode".r.findAllIn(finalPlan).size == 1,
      s"expected one corpus explode:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange"),
      s"df branch must reuse the tf shuffle:\n$finalPlan")
    assert(!finalPlan.contains("Expand"),
      s"countDistinct-style Expand crept into the plan:\n$finalPlan")
  }

  test("collocation stats: hand-computed bigram counts and unigram marginals") {
    import spark.implicits._
    val df = Seq(
      (1L, "new york new york city"), // bigrams: new-york x2, york-new, york-city
      (2L, "new york"),
      (3L, "city")).toDF("doc_id", "text")
    val got = TextOps.collocationStats(df, minPair = 2L)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // unigrams: new=3, york=3, city=2; total=8; only new-york reaches 3
    assert(got == Map(("new", "york") -> (3L, 3L, 3L, 8L)))
    // single-token and empty docs contribute marginals, never bigrams
    val singlesDf = Seq((1L, "a b a b"), (2L, "b"), (3L, "")).toDF("doc_id", "text")
    val all = TextOps.collocationStats(singlesDf, minPair = 1L).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(all == Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }

  test("collocation plan: marginals and total reuse the pair-count exchange") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, "a b c a b d e a b"))
      .toDF("doc_id", "text")
    val q = TextOps.collocationStats(df, minPair = 2L)
    assert(q.collect().nonEmpty)
    // AQE reuse only shows in the FINAL adaptive plan, after execution;
    // toString appends the pre-execution plan after "== Initial Plan =="
    val finalPlan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "Generate explode".r.findAllIn(finalPlan).size
    assert(scans == 1,
      s"expected ONE corpus explode in the final plan, got $scans:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange"),
      "marginal/total branches must read the counted-pairs shuffle:\n" + finalPlan)
  }

  test("percentileRanks: integer ranks with ties, histogram below the join") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L), (4L, "a", 40L),
      (5L, "b", 7L)).toDF("id", "g", "v")
    val got = StatsOps.percentileRanks(rows, "g", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // a: n=4; v=10 cum1 -> 250; v=20 cum3 -> 750 (both ties); v=40 -> 1000
    assert(got == Map(1L -> 250L, 2L -> 750L, 3L -> 750L, 4L -> 1000L,
      5L -> 1000L))
    // scale property: the window input is the aggregated histogram
    val plan = StatsOps.percentileRanks(rows, "g", "v")
      .queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.indexOf("HashAggregate", winIdx) > winIdx,
      "expected Window over the HashAggregate histogram:\n" + plan)
  }

  test("groupQuantiles: exact ranks on a hand-computed histogram") {
    import spark.implicits._
    // group a: values 1..10 once each; group b: heavy ties
    val rows = (1 to 10).map(v => ("a", v.toLong)) ++
      Seq.fill(9)(("b", 5L)) ++ Seq(("b", 100L))
    val got = StatsOps.groupQuantiles(rows.toDF("g", "v"), "g", "v")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // a: n=10, ranks ceil(q*10/1000) -> 3,5,8,9,10
    // b: n=10, ranks 3,5,8,9 hit the 5-run; rank 10 is the 100 outlier
    assert(got == Map(
      ("a", 250L) -> (3L, 10L), ("a", 500L) -> (5L, 10L),
      ("a", 750L) -> (8L, 10L), ("a", 900L) -> (9L, 10L),
      ("a", 990L) -> (10L, 10L),
      ("b", 250L) -> (5L, 10L), ("b", 500L) -> (5L, 10L),
      ("b", 750L) -> (5L, 10L), ("b", 900L) -> (5L, 10L),
      ("b", 990L) -> (100L, 10L)))
  }

  test("groupQuantiles windows the histogram, not the rows") {
    import spark.implicits._
    // 1000 rows but only 3 distinct values: the window input must be the
    // 3-row histogram — asserted by the aggregate sitting BELOW the window
    val rows = (1 to 1000).map(i => ("g", (i % 3).toLong))
    val df = StatsOps.groupQuantiles(rows.toDF("g", "v"), "g", "v")
    val plan = df.queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "expected Window over the HashAggregate histogram:\n" + plan)
    assert(df.collect().length == 5)
  }

  test("histogram stats reject continuous value columns (VERDICT #5 guard)") {
    import spark.implicits._
    // a double score column would make the (group, value) histogram
    // row-count-sized and silently sort the corpus — must fail fast
    val cont = Seq(("a", 1.5), ("a", 2.5)).toDF("g", "v")
    val e1 = intercept[IllegalArgumentException] {
      StatsOps.groupQuantiles(cont, "g", "v")
    }
    assert(e1.getMessage.contains("must be integral"))
    val e2 = intercept[IllegalArgumentException] {
      StatsOps.percentileRanks(cont, "g", "v")
    }
    assert(e2.getMessage.contains("must be integral"))
  }

  test("histogram stats accept DECIMAL(p, 0) and reject DECIMAL(p, 2)") {
    import spark.implicits._
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 4L)).toDF("g", "v")
    val dec0 = rows.select(col("g"), col("v").cast("decimal(20,0)").as("v"))
    val median = StatsOps.groupQuantiles(dec0, "g", "v", Seq(500))
      .collect().map(r => r.getDecimal(2).longValueExact())
    assert(median.toSeq == Seq(2L))
    assert(StatsOps.percentileRanks(dec0, "g", "v").count() == 4)
    val dec2 = rows.select(col("g"), col("v").cast("decimal(10,2)").as("v"))
    val e = intercept[IllegalArgumentException] {
      StatsOps.groupQuantiles(dec2, "g", "v")
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("budgetSelect: inclusive prefix per source, text never shuffles") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "one two three"),      // 3 tokens, cum 3
      (2L, "a", "four five"),          // 2, cum 5
      (3L, "a", "six seven eight"),    // 3, cum 8 > 7 -> cut
      (1L, "b", "x")).toDF("doc_id", "source", "text")
    val out = MixOps.budgetSelect(df, 7L)
    val got = out.collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      (1L, "a") -> (3L, 3L), (2L, "a") -> (2L, 5L), (1L, "b") -> (1L, 1L)))
    val plan = out.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"shuffle carries raw text: $l")
    }
  }

  test("incrementalDedup: corpus hits drop, shard dups collapse, text never shuffles") {
    import spark.implicits._
    val corpus = Seq((10L, "alpha"), (11L, "beta")).toDF("doc_id", "text")
    val shard = Seq(
      (1L, "alpha"),           // fingerprint already in corpus -> dropped
      (2L, "gamma"), (5L, "gamma"), // internal dup -> min id survives, n=2
      (3L, "delta")).toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(shard, corpus)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 2L, 3L -> 1L))
    // scale property: every Exchange keys on computed fingerprints, never
    // on a raw text column (same argument as exactDedup's plan test)
    val plan = out.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(!l.contains("text#"), s"shuffle keyed on raw text: $l")
    }
  }

  test("collapseDuplicates: chains merge transitively, singletons self-map") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // pair graph: 1-2, 2-3 (chain), 4-5; 9 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val got = DedupOps.collapseDuplicates(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("topKPerGroup: rank, tiebreak, and cutoff on hand-computed rows") {
    import spark.implicits._
    val df = Seq(
      ("a", "x", 5L), ("a", "y", 5L), ("a", "z", 7L), ("a", "w", 1L),
      ("b", "q", 2L)).toDF("g", "t", "n")
    val got = StatsOps.topKPerGroup(df, "g", "n", "t", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // a: z(7)=1, then x before y at 5 (tiebreak asc); w cut; b: q=1
    assert(got == Set(("a", "z", 7L, 1L), ("a", "x", 5L, 2L), ("b", "q", 2L, 1L)))
  }

  test("HLL sketch: registers match a local replay, partition-invariant") {
    import spark.implicits._
    val keys = (1 to 5000).map(i => ("g" + (i % 3), (i % 1200).toLong))
    val p = 12
    def regsOf(parts: Int): Map[(String, Long), Long] =
      SketchOps.hllRegisters(
        keys.toDF("g", "k").repartition(parts), "g", "k", p)
        .collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val got = regsOf(1)
    assert(got == regsOf(7), "register state must not depend on partitioning")
    // local replay of the register spec over the same xxhash64 values
    val hashes = keys.toDF("g", "k")
      .select($"g", org.apache.spark.sql.functions.xxhash64($"k").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = scala.collection.mutable.Map.empty[(String, Long), Long]
    for ((g, h) <- hashes) {
      val bucket = h & ((1 << p) - 1)
      val rest = h >>> p
      val rho = if (rest == 0L) 64 - p + 1
                else java.lang.Long.numberOfLeadingZeros(rest) - p + 1
      val k = (g, bucket)
      if (rho > exp.getOrElse(k, 0L)) exp(k) = rho
    }
    assert(got == exp.toMap)
  }

  test("HLL estimate: within 5% of the true cardinality at p=12") {
    import spark.implicits._
    val n = 20000
    val df = (1 to n).map(i => ("g", i.toLong * 2654435761L)).toDF("g", "k")
    val regs = SketchOps.hllRegisters(df, "g", "k")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val est = SketchOps.hllEstimate(regs, 12)
    assert(math.abs(est - n) < 0.05 * n, s"estimate $est vs true $n")
  }

  test("count-min: exact local replay; estimates always dominate truth") {
    import spark.implicits._
    // zipfish synthetic: key i appears ~1000/i times
    val keys = (1 to 50).flatMap(i => Seq.fill(1000 / i)(i.toLong))
    val table = SketchOps.countMinTable(
      keys.toDF("k").repartition(5), "k", depth = 4, width = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // every counter row sums to the total row count
    val n = keys.length.toLong
    (0 until 4).foreach { d =>
      assert(table.filter(_._1 == d).map(_._3).sum == n, s"row $d total")
    }
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((k, t) <- truth) {
      val est = SketchOps.cmsEstimate(table, k, depth = 4, width = 64)
      assert(est >= t, s"CMS must never underestimate: key $k est $est < $t")
      assert(est <= t + 4 * n / 64,
        s"key $k overestimate $est vs $t beyond the 4N/w bound")
    }
  }

  test("rareTrigramRate: hand-computed rare hits; short docs drop") {
    import spark.implicits._
    // "a b c d" appears 3x (its trigrams common at rareBelow=3);
    // doc 4 shares "a b c" but adds a unique tail trigram
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "a b c x y"),  // tris: "a b c"(4 total), "b c x"(1), "c x y"(1)
      (5L, "just two")).toDF("doc_id", "text")
    val got = TextOps.rareTrigramRate(df, rareBelow = 3L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // "a b c" count 4, "b c d" count 3 -> not rare; doc4's tail tris rare
    assert(got == Map(
      1L -> (2L, 0L, 0L), 2L -> (2L, 0L, 0L), 3L -> (2L, 0L, 0L),
      4L -> (3L, 2L, 666L)))
  }

  test("winnowing: shared long substrings share fingerprints") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "INTRO " + a + " OUTRO padding text here"
    val fa = TextOps.winnow(a).toSet
    val fb = TextOps.winnow(b).toSet
    assert(fa.intersect(fb).nonEmpty) // guaranteed for substrings >= w+k-1
    val c = "completely different content with no overlap whatsoever in words"
    assert(TextOps.winnow(c).toSet.intersect(fa).isEmpty)
    // deterministic + distributed shape
    val df = TextOps.winnowFingerprints(docs)
    assert(df.count() == TextOps.winnowFingerprints(docs).count())
    assert(df.count() > docs.count()) // multiple fingerprints per doc
  }

  test("scan-heavy operators return the same rows on 1 and 7 input partitions") {
    import spark.implicits._
    // exact copies and last-token-dropped near copies, so every dedup
    // operator has pairs or spans to return
    val base = docs.select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.filter($"doc_id" % 5 === 0)
        .withColumn("doc_id", $"doc_id" + 100000L))
      .unionByName(base.filter($"doc_id" % 7 === 0)
        .withColumn("doc_id", $"doc_id" + 200000L)
        .withColumn("text", regexp_replace($"text", "\\s+\\S+\\s*$", "")))
    val memberships = spark.read.parquet(s"$sf/lineitem.parquet")
    val cases = Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("minhashDedup", corpus, DedupOps.minhashDedup(_)),
      ("simhashDedup", corpus, DedupOps.simhashDedup(_)),
      ("duplicatedSpans", corpus, DedupOps.duplicatedSpans(_)),
      ("spanDupCoverage", corpus, DedupOps.spanDupCoverage(_)),
      ("rareTrigramRate", corpus, TextOps.rareTrigramRate(_)),
      ("winnowFingerprints", corpus, TextOps.winnowFingerprints(_)),
      ("coOccurrenceEdges", memberships,
        GraphOps.coOccurrenceEdges(_, "l_orderkey", "l_partkey")))
    cases.foreach { case (name, input, op) =>
      def rows(in: org.apache.spark.sql.DataFrame): Seq[String] =
        op(in).collect().map(_.toString).toSeq.sorted
      val one = rows(input.coalesce(1))
      assert(one.nonEmpty, name)
      assert(rows(input.repartition(7)) == one, name)
    }
  }

  test("multimodal feature extraction is deterministic and batched") {
    import spark.implicits._
    val media = MultimodalOps.mediaFromPages(graft.kg.PagesSource.pages(spark, 50))
    val f = MultimodalOps.extractFeatures(media).collect().sortBy(_.media_id)
    val g = MultimodalOps.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f.map(_.media_id).sameElements(g.map(_.media_id)))
    assert(f.map(_.content_sum).sameElements(g.map(_.content_sum)))
    assert(Set("image", "audio", "video").subsetOf(f.map(_.kind).toSet))
    val frames = MultimodalOps.frameSample(media)
    assert(frames.count() > 0)
  }

  test("BMP round-trip: real header fields and payload stats survive decode") {
    import graft.kg.PagesSource.mix64
    val id = 42L
    val bytes = MultimodalOps.synthBmp(id)
    val (w, h, sr, units, sum, hist) = MultimodalOps.decode(bytes)
    assert(w == 4 + (mix64(id ^ 0xB1L) & 0x1F).toInt)
    assert(h == 4 + (mix64(id ^ 0xB2L) & 0x1F).toInt)
    assert(sr == 0 && units == w.toLong * h)
    val rowSize = ((3 * w + 3) / 4) * 4
    assert(bytes.length == 54 + rowSize * h)
    val seed = mix64(id ^ 0x5EEDFACEL)
    val expected = (0 until rowSize * h).map(j => (mix64(seed + j) & 0xFF)).sum
    assert(sum == expected)
    assert(hist.sum == rowSize.toLong * h)
  }

  test("WAV round-trip: PCM16 little-endian samples sum signed") {
    import graft.kg.PagesSource.mix64
    val id = -7L
    val bytes = MultimodalOps.synthWav(id)
    val (w, h, sr, units, sum, _) = MultimodalOps.decode(bytes)
    assert(w == 0 && h == 0)
    assert(sr == 8000 + ((mix64(id ^ 0xA1L) & 7) * 1000).toInt)
    val n = 256 + (mix64(id ^ 0xA2L) & 0x3FF).toInt
    assert(units == n.toLong && bytes.length == 44 + 2 * n)
    val seed = mix64(id ^ 0x5EEDFACEL)
    val expected = (0 until n).map(j => ((mix64(seed + j) & 0xFFFF).toShort).toLong).sum
    assert(sum == expected)
  }

  test("PPM video: per-frame parse yields exact frame stats; sums reconcile") {
    import spark.implicits._
    import graft.kg.PagesSource.mix64
    val id = 1234L
    val bytes = MultimodalOps.synthVideo(id)
    val (w, h, _, nFrames, total, _) = MultimodalOps.decode(bytes)
    assert(w == 4 + (mix64(id ^ 0xC2L) & 0xF).toInt)
    assert(h == 4 + (mix64(id ^ 0xC3L) & 0xF).toInt)
    assert(nFrames == 2 + (mix64(id ^ 0xC1L) & 7).toInt)
    val media = spark.createDataset(
      Seq(MultimodalOps.MediaRow(id, "video", bytes)))
    val frames = MultimodalOps.frameSample(media)
      .orderBy($"frame").collect()
    assert(frames.length == nFrames)
    assert(frames.map(_.getLong(4)).sum == total) // Σ frame_sum == content_sum
    assert(frames.forall(r => r.getInt(2) == w && r.getInt(3) == h))
  }

  test("decode rejects unknown containers (real decoder contract)") {
    intercept[Exception] {
      MultimodalOps.decode(Array[Byte](1, 2, 3, 4))
    }
  }
}
