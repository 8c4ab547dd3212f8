package graft.ops

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.SparkTestSession

/** TemporalOps / MixOps / PackOps — the training-mix operator family. */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ------------------------------------------------------------- as-of join

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofJoin picks the latest right row at-or-before each left row") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 100L),
      (10L, ts("2024-01-01 11:59:59"), 101L),
      (10L, ts("2024-01-01 12:00:00"), 102L), // equal ts: must match event 2
      (20L, ts("2024-01-01 09:00:01"), 200L)  // after left: no match
    ).toDF("user_id", "ts", "click_id")
    val out = TemporalOps.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      Seq("click_id"), inner = true)
      .select($"event_id", $"click_id").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 100L, 2L -> 102L))
  }

  test("asofJoin left mode keeps unmatched rows with null payload") {
    import spark.implicits._
    val left = Seq((1L, 20L, ts("2024-01-01 09:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((20L, ts("2024-01-01 09:00:01"), 200L))
      .toDF("user_id", "ts", "click_id")
    val out = TemporalOps.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      Seq("click_id"), inner = false).collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("click_id")))
  }

  test("asofJoin is invariant to input partitioning") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = e.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("click_id"))
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      TemporalOps.asofJoin(l, r, Seq("user_id"), "ts", "ts",
        Seq("click_id"), inner = true)
        .select($"event_id", $"click_id").as[(Long, Long)]
        .collect().sorted.toSeq
    val a = run(purchases, clicks)
    val b = run(purchases.repartition(13), clicks.repartition(7))
    assert(a.nonEmpty && a == b)
  }

  // --------------------------------------------------------- interval join

  test("intervalJoin boundary semantics: start inclusive, end exclusive, cross-bucket") {
    import spark.implicits._
    val left = Seq((1L, 7L, 1000L, 3000L)).toDF("lid", "k", "start_us", "end_us")
    val right = Seq(
      (10L, 7L, 999L),  // before: out
      (11L, 7L, 1000L), // == start: in
      (12L, 7L, 2999L), // inside (different granularity bucket): in
      (13L, 7L, 3000L), // == end: out
      (14L, 8L, 1500L)  // wrong key: out
    ).toDF("rid", "k", "ts_us")
    val out = TemporalOps.intervalJoin(left, right, Seq("k"),
      "start_us", "end_us", "ts_us", granularityUs = 1000L)
      .select($"r_rid").as[Long].collect().sorted.toSeq
    assert(out == Seq(11L, 12L))
  }

  test("intervalJoin equals the naive theta-join on real events") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val errors = e.filter($"event_type" === "error")
      .select($"event_id".as("eid"), $"user_id",
        unix_micros($"ts".cast("timestamp")).as("start_us"))
      .withColumn("end_us", $"start_us" + 600L * 1000000L)
    val clicks = e.filter($"event_type" === "click")
      .select($"event_id".as("cid"), $"user_id",
        unix_micros($"ts".cast("timestamp")).as("ts_us"))
    val bucketized = TemporalOps.intervalJoin(errors, clicks, Seq("user_id"),
      "start_us", "end_us", "ts_us", granularityUs = 600L * 1000000L)
      .select($"eid", $"r_cid").as[(Long, Long)].collect().sorted.toSeq
    val naive = errors.join(clicks.withColumnRenamed("user_id", "cuid"),
        $"cuid" === errors("user_id") &&
          $"ts_us" >= $"start_us" && $"ts_us" < $"end_us")
      .select($"eid", $"cid").as[(Long, Long)].collect().sorted.toSeq
    assert(bucketized.nonEmpty && bucketized == naive)
  }

  // ------------------------------------------------------------------- mix

  test("weightedMix: integer weights replicate exactly, missing strata drop") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i < 50) "a" else "b"))
      .toDF("id", "src")
    val out = MixOps.weightedMix(df, $"src", $"id", Map("a" -> 2.0))
    val counts = out.groupBy($"src").count().as[(String, Long)].collect().toMap
    assert(counts === Map("a" -> 100L)) // 50 keys x 2 copies; b dropped
    val copies = out.groupBy($"id").count().as[(Long, Long)].collect()
    assert(copies.forall(_._2 == 2L))
  }

  test("weightedMix: fractional epochs land near the expected rate, deterministically") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, "a")).toDF("id", "src")
    def run() = MixOps.weightedMix(df, $"src", $"id", Map("a" -> 1.7))
      .groupBy($"id").count().as[(Long, Long)].collect().toMap
    val first = run()
    assert(first == run()) // pure function of the key
    val third = first.values.count(_ == 2L)
    assert(first.values.forall(c => c == 1L || c == 2L))
    assert(third > 1200 && third < 1600, s"~70% of 2000 expected, got $third")
  }

  test("stratifiedSample: rate 1 keeps all, rate 0 absent drops, partition-invariant") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val kept = MixOps.stratifiedSample(df, $"src", $"id",
      Map("a" -> 1.0, "b" -> 0.3))
    val byStr = kept.groupBy($"src").count().as[(String, Long)].collect().toMap
    assert(byStr("a") == 250L)
    assert(byStr("b") > 40L && byStr("b") < 110L)
    val again = MixOps.stratifiedSample(df.repartition(17), $"src", $"id",
      Map("a" -> 1.0, "b" -> 0.3))
      .select($"id").as[Long].collect().sorted.toSeq
    assert(again == kept.select($"id").as[Long].collect().sorted.toSeq)
  }

  test("assignSplit: ranges match the gate, stable under growth") {
    import spark.implicits._
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val df = (0L until 1000L).toDF("id")
    val got = df.select($"id", MixOps.assignSplit($"id", fr).as("s"),
      MixOps.gate($"id", MixOps.PURPOSE_SPLIT).as("g")).as[(Long, String, Long)].collect()
    got.foreach { case (_, s, g) =>
      val expected = if (g < 8000) "train" else if (g < 9000) "val" else "test"
      assert(s == expected)
    }
    // growing the corpus never reassigns an existing key
    val bigger = (0L until 2000L).toDF("id")
      .select($"id", MixOps.assignSplit($"id", fr).as("s"))
      .as[(Long, String)].collect().toMap
    got.foreach { case (id, s, _) => assert(bigger(id) == s) }
    intercept[IllegalArgumentException] {
      MixOps.assignSplit($"id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  // ------------------------------------------------------------------ pack

  test("packSequences matches a local prefix sum and is partition-count invariant") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = PackOps.packSequences(docs, "doc_id",
      TextOps.tokenCount($"text"), budget = 512L, partitions = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq

    // local golden: cumsum in doc_id order
    val toks = docs.select($"doc_id", TextOps.tokenCount($"text"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var acc = 0L
    val golden = toks.map { case (id, n) =>
      val start = acc; acc += n; (id, n, start, start / 512L)
    }.toSeq
    assert(out == golden)

    val p1 = PackOps.packSequences(docs, "doc_id",
      TextOps.tokenCount($"text"), budget = 512L, partitions = 1)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(p1 == golden)
  }

  test("packSequences at 4096 ranges: codegen survives, plan size stays O(1) in P") {
    import spark.implicits._
    // parquet input, NOT a local Seq: ConvertToLocalRelation would fold the
    // search_bucket projection into a LocalTableScan and the test would
    // never exercise its codegen
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // a codegen fallback must THROW, not silently interpret — this is the
    // hard form of "SearchBucket stays inside whole-stage codegen at scale"
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val big = PackOps.packSequences(docs, "doc_id",
        TextOps.tokenCount($"text"), budget = 512L, partitions = 4096)
      val out = big.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val toks = docs.select($"doc_id", TextOps.tokenCount($"text"))
        .as[(Long, Long)].collect().sortBy(_._1)
      var acc = 0L
      val golden = toks.map { case (id, n) =>
        val s = acc; acc += n; (id, n, s, s / 512L)
      }.toSeq
      assert(out == golden)

      // whole-stage codegen survived at P=4096 (AQE final plans mark WSCG
      // spans with `*(n)`; with spark.sql.codegen.fallback=false above, a
      // CodegenFallback would have thrown instead of silently interpreting)
      val bigPlan = big.queryExecution.executedPlan.toString
      assert(bigPlan.contains("isFinalPlan=true") && bigPlan.contains("*("),
        bigPlan.take(800))
      // tokenCount contributes ONE legitimate CASE WHEN; an O(P) indicator
      // chain would contribute ~4095 of them
      assert("CASE WHEN".r.findAllIn(bigPlan).size <= 4,
        "O(P) indicator chain resurfaced")

      // the search_bucket EXPRESSION is O(1) plan size in the cut count:
      // 4095 cutpoints are one boxed double[] reference, not 4095 plan
      // nodes (the chained indicator-sum it replaced was O(P) plan text).
      // Isolated projection so the comparison isn't polluted by the
      // offset-map literal, which legitimately scales with non-empty ranges.
      def proj(nCuts: Int) = docs.select(graft.functions.SearchBucket
        .bucket($"doc_id", Array.tabulate(nCuts)(_.toDouble)).as("b"))
      val p4095 = proj(4095); val p63 = proj(63)
      assert(p4095.collect().length == p63.collect().length)
      val len4095 = p4095.queryExecution.executedPlan.toString.length
      val len63 = p63.queryExecution.executedPlan.toString.length
      assert(len4095 <= len63 + 32,
        s"search_bucket plan text grew with cut count: $len63 -> $len4095")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("packSequences bins respect the budget boundary rule") {
    import spark.implicits._
    val docs = Seq((0L, 300L), (1L, 300L), (2L, 500L), (3L, 10L))
      .toDF("doc_id", "n")
    val out = PackOps.packSequences(docs, "doc_id", $"n",
      budget = 512L, partitions = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // starts: 0, 300, 600, 1100 -> bins 0, 0, 1, 2
    assert(out.map(_._3).toSeq == Seq(0L, 300L, 600L, 1100L))
    assert(out.map(_._4).toSeq == Seq(0L, 0L, 1L, 2L))
  }

  // ------------------------------------------------------------- streaming

  test("batch curation operators run unchanged on streams (MixOps, TextOps)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    // stratified sampling + PII scrub are narrow column plans, so the SAME
    // operator code is streaming-legal with no modification
    val curated = graft.ops.MixOps.stratifiedSample(
      input.toDF().toDF("doc_id", "source", "text"),
      org.apache.spark.sql.functions.col("source"),
      org.apache.spark.sql.functions.col("doc_id"),
      Map("keep" -> 1.0))
      .withColumn("scrubbed", graft.ops.TextOps.piiScrub(
        org.apache.spark.sql.functions.col("text")))
    val query = curated.writeStream.format("memory").queryName("cur")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "keep", "mail a@b.co"), (2L, "drop", "x"), (3L, "keep", "y"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, scrubbed FROM cur").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "mail <EMAIL>"), (3L, "y")))
    } finally query.stop()
  }
}
