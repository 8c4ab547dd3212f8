package graft.kg

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = KgPipeline.session("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object KgPipelineSpec {
  /** Linking inputs where the exact phase emits duplicates, Jaccard ties
    * break differently in UTF-8 and UTF-16 order, and normalization meets
    * astral code points. */
  val adversarialDict = Seq(
    Model.DictEntry("alpha beta", "http://e/ab"),
    Model.DictEntry("alpha beta", "http://e/ab"), // duplicate row
    Model.DictEntry("alpha beta", "http://e/ab2"), // same norm, second IRI
    // four IRIs tie at Jaccard 8/9 for the norm "gamma delt"; the largest
    // in UTF-8 byte order (Spark's string order) is the emoji, while
    // UTF-16 order would pick the fullwidth A
    Model.DictEntry("gamma deltx", "http://e/t1"),
    Model.DictEntry("gamma deltz", "http://e/t2"),
    Model.DictEntry("gamma delty", "http://e/\uFF21"),
    Model.DictEntry("gamma deltw", "http://e/\uD83D\uDE00"),
    Model.DictEntry("x yz", "http://e/short"),
    Model.DictEntry("", "http://e/empty"),
    Model.DictEntry("caf\u00e9 ol\u00e9", "http://e/cafe"),
    Model.DictEntry("\uD840\uDC00\uD840\uDC01", "http://e/cjk"),
    Model.DictEntry("\uD840\uDC00\uD840\uDC01 z", "http://e/cjkz"))
  val adversarialSurfaces = Seq("Alpha Beta", "alpha-beta!", "Gamma-Delt", "X y",
    "x.y.z", "!!!", "", "ab", "Caf\u00e9 Ol\u00e9", "CAF\u00c9 OLA",
    "\uD840\uDC00\uD840\uDC01!", "\uD840\uDC02\uD840\uDC03", "\uD840\uDC00\uD840\uDC01 y",
    "\uD835\uDC00\uD835\uDC01 7", "7")
}

class KgPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  test("pages generation is deterministic and invariant holds") {
    import spark.implicits._
    val a = PagesSource.pages(spark, 100).collect().sortBy(_.url)
    val b = PagesSource.pages(spark, 100).collect().sortBy(_.url)
    assert(a.map(_.url).sameElements(b.map(_.url)))
    assert(a.map(_.text).sameElements(b.map(_.text)))
    // extraction invariant: extractText(html) == text, byte-identical
    a.foreach { p => assert(Extract.extractText(p.html) == p.text, p.url) }
    // mix of block shapes exists
    assert(a.exists(p => Extract.extractBlocks(p.html).isEmpty))
    assert(a.exists(p => Extract.extractBlocks(p.html).size == 2))
  }

  test("triple extraction yields triples and error rows, deterministically") {
    import spark.implicits._
    val pages = PagesSource.pages(spark, 200)
    val t1 = TripleExtraction.run(pages).collect()
    val t2 = TripleExtraction.run(pages).collect()
    assert(t1.sortBy(r => (r.url, r.block, r.subj, r.pred, r.obj_value))
      .sameElements(t2.sortBy(r => (r.url, r.block, r.subj, r.pred, r.obj_value))))
    val ok = t1.filter(_.error == null)
    val err = t1.filter(_.error != null)
    assert(ok.nonEmpty && err.nonEmpty)
    assert(err.forall(e => e.error.startsWith("NotFullyParsed") ||
      e.error.startsWith("ProduceError")))
    // blank node labels are globally unique per (url, block)
    val bnodes = ok.filter(_.subj_kind == "bnode").map(_.subj)
    bnodes.foreach(b => assert(b.startsWith("_:h")))
  }

  test("streaming triple extraction over a pages stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Model.Page]
    val query = TripleExtraction.run(input.toDS())
      .writeStream.format("memory").queryName("st")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(PagesSource.genPage(0), PagesSource.genPage(1))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM st WHERE error IS NULL").count() > 0)
    } finally query.stop()
  }

  test("round-trip audit: every well-formed block is byte-identical") {
    import spark.implicits._
    val rt = TripleExtraction.roundTrip(PagesSource.pages(spark, 200)).collect()
    val parsedOk = rt.filter(_.parsed)
    assert(parsedOk.nonEmpty)
    assert(parsedOk.forall(_.byte_identical))
    assert(rt.exists(!_.parsed)) // malformed rows present
  }

  test("entity linking: exact + lsh paths both link correctly") {
    import spark.implicits._
    val triples = TripleExtraction.run(PagesSource.pages(spark, 300))
    val linked = EntityLinking.run(triples).collect()
    assert(linked.nonEmpty)
    val methods = linked.map(_.getString(3)).toSet
    assert(methods.contains("exact"))
    assert(methods.contains("lsh"))
    // every link points at the entity whose surface generated the mention
    linked.foreach { r =>
      val surface = r.getString(1)
      val iri = r.getString(2)
      val e = iri.stripPrefix(PagesSource.ENTITY_NS).toInt
      assert(PagesSource.surfaceVariants(e).exists(v =>
        EntityLinking.normalize(v) == EntityLinking.normalize(surface)),
        s"mention '$surface' linked to wrong entity $iri")
    }
  }

  test("entity linking: local and distributed surface-map paths agree") {
    import spark.implicits._
    val triples = TripleExtraction.run(PagesSource.pages(spark, 300))
    val m = EntityLinking.mentions(triples)
    val dict = PagesSource.dictionary(spark)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, String, String, String)].collect().sorted.toSeq
    val local = rows(EntityLinking.link(m, dict))
    val dist = rows(EntityLinking.link(m, dict, maxLocal = 0))
    assert(local.nonEmpty && local == dist)
  }

  test("entity linking: local and distributed paths agree on an adversarial dictionary") {
    import spark.implicits._
    import KgPipelineSpec.{adversarialDict => dict, adversarialSurfaces => surfaces}
    val m = surfaces.zipWithIndex.map { case (s, i) => (s"http://p/$i", s) }
      .toDF("url", "surface")
    val ds = spark.createDataset(dict)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, String, String, String)].collect().sorted.toSeq
    val local = rows(EntityLinking.link(m, ds))
    val dist = rows(EntityLinking.link(m, ds, maxLocal = 0))
    assert(local == dist)
    def links(s: String) = local.filter(_._2 == s).map(r => (r._3, r._4))
    assert(links("Alpha Beta") ==
      Seq(("http://e/ab", "exact"), ("http://e/ab", "exact"), ("http://e/ab2", "exact")))
    assert(links("Gamma-Delt") == Seq(("http://e/\uD83D\uDE00", "lsh")))
    assert(links("!!!") == Seq(("http://e/empty", "exact")))
    assert(links("\uD840\uDC00\uD840\uDC01!") == Seq(("http://e/cjk", "exact")))
    assert(links("\uD840\uDC02\uD840\uDC03").isEmpty)
  }

  test("normalize classifies code points: astral letters and digits survive") {
    val cjk = "\uD840\uDC00\uD840\uDC01" // two CJK Extension B ideographs
    assert(EntityLinking.normalize(cjk) == cjk)
    assert(EntityLinking.normalize("\uD840\uDC02\uD840\uDC03") != EntityLinking.normalize(cjk))
    // mathematical bold A and B have no lower-case mapping
    assert(EntityLinking.normalize("\uD835\uDC00\uD835\uDC01  7!") == "\uD835\uDC00\uD835\uDC01 7")
    // an unpaired surrogate is still not a letter
    assert(EntityLinking.normalize("a\uD840b") == "a b")
    // distinct astral names no longer exact-match each other's entries
    val dict = Array(Model.DictEntry(EntityLinking.normalize(cjk), "http://e/cjk"))
    assert(EntityLinking.localSurfaceMap(Array("\uD840\uDC02\uD840\uDC03"), dict).isEmpty)
  }

  private def ccLabels(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("connected components: aliases collapse to canonical ids") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), // component {a,b,c}
      ("x", "y"), // component {x,y}
      ("q", "q")).toDF("src", "dst")
    val labels = ccLabels(Canonicalize.connectedComponents(edges))
    assert(labels("a") == "a" && labels("b") == "a" && labels("c") == "a")
    assert(labels("x") == "x" && labels("y") == "x")
    // the at-scale distributed loop must produce the identical labeling
    assert(ccLabels(Canonicalize.distributedCC(edges)) == labels)
  }

  test("local and distributed CC agree on a chain (multi-iteration case)") {
    import spark.implicits._
    // a 12-vertex path graph needs several hash-min iterations; both paths
    // must converge to min-vertex labeling
    val vs = (0 until 12).map(i => f"v$i%02d")
    val edges = vs.zip(vs.tail).toDF("src", "dst")
    val local = ccLabels(Canonicalize.connectedComponents(edges))
    assert(ccLabels(Canonicalize.distributedCC(edges)) == local)
    assert(vs.forall(v => local(v) == "v00"))
  }

  test("both CC paths pick the smallest IRI in UTF-8 byte order") {
    import org.apache.spark.sql.functions.min
    import spark.implicits._
    // UTF-16 units put the emoji (surrogate 0xD83D) before the fullwidth
    // A (0xFF21); UTF-8 bytes (0xF0.. vs 0xEF..) and SQL min put A first
    val fullA = "http://e/\uFF21"
    val emoji = "http://e/\uD83D\uDE00"
    assert(Seq(emoji, fullA).toDF("s").agg(min($"s")).head().getString(0) == fullA)
    val edges = Seq((emoji, fullA)).toDF("src", "dst")
    val want = Map(fullA -> fullA, emoji -> fullA)
    assert(ccLabels(Canonicalize.connectedComponents(edges)) == want)
    assert(ccLabels(Canonicalize.distributedCC(edges)) == want)
  }

  test("local and distributed CC match the reference on random string graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // high-BMP and astral code points only, so the UTF-16 order (astral
    // surrogates 0xD8xx sort below 0xFF21) and the UTF-8 order disagree
    val alphabet = Seq("\u4E2D", "\uFF21", "\uFF3A", "\uD83D\uDE00",
      "\uD835\uDC00")
    val names = (0 until 40).map(_ =>
      "http://e/" + Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size))).mkString)
      .distinct
    for (trial <- 1 to 3) {
      val es = Seq.fill(30)((names(rnd.nextInt(names.size)), names(rnd.nextInt(names.size))))
      val edges = es.toDF("src", "dst").repartition(3)
      val want = KgOracleGen.minLabelComponents(es)
      assert(ccLabels(Canonicalize.connectedComponents(edges)) == want, s"trial $trial")
      assert(ccLabels(Canonicalize.distributedCC(edges)) == want, s"trial $trial")
    }
  }

  test("canonicalizeTriples size-gates the label join (no forced broadcast)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val triples = TripleExtraction.run(PagesSource.pages(spark, 50))
    // corpus-scale labels (estimated size >> autoBroadcastJoinThreshold):
    // the plan must NOT hard-code a broadcast — a forced hint here is a
    // driver OOM at 100 TB (round-1 verdict)
    val big = spark.range(0, 5000000L)
      .select(concat(lit("http://kb.example/entity/"), $"id").as("id"),
        concat(lit("http://kb.example/canon/"), $"id").as("canonical"))
    val bigPlan = Canonicalize.canonicalizeTriples(triples, big)
      .queryExecution.sparkPlan.toString
    assert(bigPlan.contains("SortMergeJoin"), bigPlan.take(600))
    assert(!bigPlan.contains("BroadcastHashJoin"), bigPlan.take(600))

    // vocabulary-scale labels (local relation with known tiny size) must
    // still broadcast — the planner sees real stats, no hint needed
    val tiny = Seq(("http://kb.example/entity/1", "http://kb.example/canon/1"))
      .toDF("id", "canonical")
    val tinyPlan = Canonicalize.canonicalizeTriples(triples, tiny)
      .queryExecution.sparkPlan.toString
    assert(tinyPlan.contains("BroadcastHashJoin"), tinyPlan.take(600))
  }

  test("crashed write is idempotent: orphan bucket dirs are replaced on retry") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val triples = Canonicalize.canonicalizeTriples(
      TripleExtraction.run(PagesSource.pages(spark, 100)),
      spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0))
    // simulate a crash: data written but manifest missing for 2 buckets
    Materialize.write(triples, out)
    val full = Materialize.readTriples(spark, out).count()
    Materialize.writeManifest(out,
      (0 until Materialize.NUM_BUCKETS).toSet -- Set(0, 1))
    // retry: buckets 0 and 1 must be rewritten WITHOUT duplication
    Materialize.write(triples, out)
    assert(Materialize.readTriples(spark, out).count() == full)
    assert(Materialize.readManifest(out) == (0 until Materialize.NUM_BUCKETS).toSet)
  }

  test("identity bucket repartition: shuffle partition index == bucket id") {
    import org.apache.spark.sql.functions._
    // the write-stage scaling fix (round-7): salts invert murmur3 mod nb so
    // every bucket gets its OWN reduce task — no empty slots, no 2-bucket
    // tasks. This pins the inversion against Spark's actual HashPartitioning
    // (if the partitioner's hash ever changes, this fails loudly).
    for (nb <- Seq(7, 32, 256)) {
      val salts = Materialize.identitySalts(nb)
      assert(salts.distinct.length == nb)
      val df = spark.range(2000).toDF("id")
        .withColumn("bucket", pmod(xxhash64(col("id")), lit(nb)).cast("int"))
      val placed = Materialize.repartitionByBucketIdentity(df, nb)
        .select(col("bucket"), spark_partition_id().as("pid"))
        .filter(col("bucket") =!= col("pid"))
      assert(placed.count() == 0L,
        s"nb=$nb: some rows landed outside their bucket's own partition")
    }
  }

  test("lost manifest cannot change bucketing: sidecar pins numBuckets") {
    val out = java.nio.file.Files.createTempDirectory("graft-sidecar").toString
    val triples = Canonicalize.canonicalizeTriples(
      TripleExtraction.run(PagesSource.pages(spark, 100)),
      spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0))
    // first write with an explicit non-default bucket count
    Materialize.write(triples, out, numBuckets = 7)
    val full = Materialize.readTriples(spark, out).count()
    assert(Materialize.readManifestFull(out)._1.contains(7))
    // crash window: manifest lost between delete and rename
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_manifest.json"))
    // resume in auto mode (numBuckets=0): the sidecar must pin nb=7 —
    // without it the parallelism-sized cap would orphan dirs >= newNb
    Materialize.write(triples, out)
    assert(Materialize.readManifestFull(out)._1.contains(7))
    assert(Materialize.readTriples(spark, out).count() == full)
    // exactly buckets 0..6 on disk — no orphans
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(out, "triples"))
    val buckets = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("bucket=")).toSet
    } finally dirs.close()
    assert(buckets == (0 until 7).map(b => s"bucket=$b").toSet)
  }

  test("a failed bucket-sidecar rename fails the write") {
    // the sidecar is written before any data is staged, so the write must
    // stop there: a table without `_buckets.json` would lose its bucket
    // count together with a lost manifest
    spark.sparkContext.hadoopConfiguration.set("fs.norename.impl",
      classOf[SidecarRenameFailsFileSystem].getName)
    SparkSession.setActiveSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-norename")
    val triples = Canonicalize.canonicalizeTriples(
      TripleExtraction.run(PagesSource.pages(spark, 20)),
      spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0))
    val e = intercept[java.io.IOException] {
      Materialize.write(triples, s"norename://$dir/out", numBuckets = 3)
    }
    assert(e.getMessage.contains("_buckets.json"), e.getMessage)
    assert(!java.nio.file.Files.exists(dir.resolve("out/_buckets.json")))
    assert(!java.nio.file.Files.exists(dir.resolve("out/triples")))
  }

  test("metadata-less dir with stale bucket data is rebuilt, not merged") {
    val out = java.nio.file.Files.createTempDirectory("graft-dirty").toString
    val triples = Canonicalize.canonicalizeTriples(
      TripleExtraction.run(PagesSource.pages(spark, 100)),
      spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0))
    Materialize.write(triples, out, numBuckets = 7)
    val full = Materialize.readTriples(spark, out).count()
    // wipe ALL commit metadata (manifest + sidecar) but leave data dirs
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_manifest.json"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_buckets.json"))
    // rewrite with a different bucket count: old dirs must not survive
    Materialize.write(triples, out, numBuckets = 5)
    assert(Materialize.readTriples(spark, out).count() == full)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(out, "triples"))
    val buckets = try {
      import scala.jdk.CollectionConverters._
      dirs.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("bucket=")).toSet
    } finally dirs.close()
    assert(buckets == (0 until 5).map(b => s"bucket=$b").toSet)
    // the foreign data was renamed ASIDE (auditably recoverable), not deleted
    val aside = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("triples.foreign-")).toSeq
      } finally ls.close()
    }
    assert(aside.size == 1)
    val asideBuckets = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(out, aside.head))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("bucket=")).toSet
      } finally ls.close()
    }
    assert(asideBuckets == (0 until 7).map(b => s"bucket=$b").toSet)
  }

  test("localSurfaceMap is parallel-deterministic and linear at scale") {
    // 120k distinct surfaces against the standard dictionary: completes in
    // bounded time (a quadratic regression would take hours) and the
    // index-assembled parallel result is run-to-run identical
    val surfaces = Array.tabulate(120000) { i =>
      if (i % 3 == 0) s"entity ${i % 2000}" // exact path
      else if (i % 3 == 1) s"the entity ${i % 2000}" // lsh path
      else s"no such thing $i" // miss
    }
    val dict = PagesSource.dictionaryLocal.toArray
    val t0 = System.nanoTime()
    val a = EntityLinking.localSurfaceMap(surfaces, dict)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, s"localSurfaceMap took ${secs}s for 120k surfaces")
    val b = EntityLinking.localSurfaceMap(surfaces, dict)
    // 40k exact hits + 40k lsh hits; the 40k nonsense surfaces miss
    assert(a.length == 80000 && java.util.Arrays.equals(
      a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]]))
  }

  test("per-group commits preserve PARTIAL progress and resume completes it") {
    val out = java.nio.file.Files.createTempDirectory("graft-partial").toString
    val triples = Canonicalize.canonicalizeTriples(
      TripleExtraction.run(PagesSource.pages(spark, 100)),
      spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0))
    Materialize.write(triples, out)
    val full = Materialize.readTriples(spark, out).count()
    val nb = Materialize.readManifestFull(out)._1.get

    // simulate a crash AFTER the first commit group: only the first group's
    // buckets are committed; later buckets' data is gone with staging
    val firstGroup = (0 until nb / 4).toSet
    Materialize.writeManifest(out, nb, firstGroup)
    (nb / 4 until nb).foreach { b =>
      val dir = java.nio.file.Paths.get(out, "triples", s"bucket=$b")
      if (java.nio.file.Files.exists(dir)) {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      }
    }
    // the committed group's data survived the crash (partition-level
    // progress, not all-or-nothing)
    val partial = Materialize.readTriples(spark, out).count()
    assert(partial > 0 && partial < full)

    // resume: only the missing buckets are rewritten; totals restore exactly
    Materialize.write(triples, out)
    assert(Materialize.readTriples(spark, out).count() == full)
    assert(Materialize.readManifest(out) == (0 until nb).toSet)
  }

  test("full pipeline: run, materialize, manifest, resume") {
    val out = java.nio.file.Files.createTempDirectory("graft-kg").toString
    val r = KgPipeline.run(spark, 300, out)
    assert(r.triples > 0)
    assert(r.errors > 0)
    assert(r.linkedMentions > 0)
    assert(r.components > 0)
    assert(Materialize.readManifest(out) ==
      (0 until Materialize.autoBuckets(spark, r.triples + r.errors)).toSet)
    val written = Materialize.readTriples(spark, out)
    assert(written.count() > 0)
    // resume: a second write is a no-op (all buckets committed)
    val before = written.count()
    Materialize.write(
      Canonicalize.canonicalizeTriples(
        TripleExtraction.run(PagesSource.pages(spark, 300)),
        spark.emptyDataFrame.selectExpr("'' as id", "'' as canonical").limit(0)),
      out)
    assert(Materialize.readTriples(spark, out).count() == before)
  }
}

class BucketRuleSpec extends AnyFunSuite {
  import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
  import org.scalatest.time.SpanSugar._

  private lazy val spark = SparkTestSession.spark
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-buckets").toString

  test("autoBuckets: one bucket per core up to 200k rows each, capped") {
    val cores = spark.sparkContext.defaultParallelism
    val cap = math.max(Materialize.NUM_BUCKETS, 8 * cores)
    assert(Materialize.autoBuckets(spark, 0) == cores)
    assert(Materialize.autoBuckets(spark, Long.MaxValue) == cap)
    assert(Materialize.autoBuckets(spark, 200000L * (cores + 1) + 1) == cores + 2)
    val rows = (0 to 40).map(i => 1L << i) ++ Seq(199999L, 200000L, 200001L, Long.MaxValue)
    val nbs = rows.sorted.map(Materialize.autoBuckets(spark, _))
    assert(nbs.zip(nbs.tail).forall { case (a, b) => a <= b }, nbs)
    assert(intercept[IllegalArgumentException](Materialize.autoBuckets(spark, -1))
      .getMessage.contains("got -1"))
  }

  test("a pipeline run sizes its new table from the measured rows") {
    val out = tmp()
    val r = KgPipeline.run(spark, 300, out)
    // the observed count is the written row count, not a stand-in
    assert(r.measuredRows.contains(r.triples + r.errors))
    assert(Materialize.readTriples(spark, out).count() == r.triples + r.errors)
    val nb = Materialize.autoBuckets(spark, r.triples + r.errors)
    assert(r.buckets == nb)
    assert(Materialize.readManifestFull(out) == (Some(nb), (0 until nb).toSet))
  }

  test("a resumed table keeps its manifest's bucket count") {
    val out = tmp()
    Materialize.writeManifest(out, 32, Set.empty)
    val r = KgPipeline.run(spark, 300, out)
    assert(r.measuredRows.map(Materialize.autoBuckets(spark, _)).exists(_ != 32))
    assert(r.buckets == 32)
    assert(Materialize.readManifestFull(out) == (Some(32), (0 until 32).toSet))
  }

  test("an empty run finishes and commits a complete, empty table") {
    implicit val signaler: Signaler = ThreadSignaler
    val out = tmp()
    val r = TimeLimits.failAfter(120.seconds)(KgPipeline.run(spark, 0, out))
    assert(r.triples == 0 && r.errors == 0)
    // an empty plan completes its observation empty: 0 measured rows, so
    // the table takes the per-core floor, not the cap
    assert(r.measuredRows == Some(0))
    assert(r.buckets == Materialize.autoBuckets(spark, 0))
    assert(Materialize.readManifestFull(out) == (Some(r.buckets), (0 until r.buckets).toSet))
    // the observation completes (empty) rather than timing out: a warm
    // empty run never waits out ObservationWait
    val t0 = System.nanoTime()
    KgPipeline.run(spark, 0, tmp())
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < KgPipeline.ObservationWait.toSeconds, s)
  }
}

/** The local file system under the `norename:` scheme, except that renaming
  * onto `_buckets.json` reports failure by returning false, as Hadoop file
  * systems do. */
class SidecarRenameFailsFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: Path, dst: Path): Boolean =
    dst.getName != "_buckets.json" && super.rename(src, dst)
}
