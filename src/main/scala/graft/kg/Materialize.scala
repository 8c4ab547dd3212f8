package graft.kg

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Graph materialization: partitioned triple tables + per-partition lineage
  * + a resumable checkpoint manifest (SURVEY.md §2.5 / §7 step 10).
  *
  * Iceberg-style semantics without the Iceberg runtime (not on the sandbox
  * classpath): hash-bucketed directory layout, a JSON manifest written LAST
  * (write-temp + atomic rename) as the commit point, and resume via
  * bucket-set difference against the manifest — the partition-level
  * atomic-commit + resumability contract of the north_rule.
  *
  * Scale design:
  *  - bucket = pmod(hash(subj), numBuckets): co-locates all triples of a
  *    subject → downstream subject-keyed joins and dedup are co-partitioned.
  *  - numBuckets is a PARAMETER persisted in the manifest (resume reuses the
  *    original bucketing — a changed bucket count would scramble the
  *    bucket↔data mapping). A new table is sized from its row count when
  *    the caller measured it ([[autoBuckets]]: about 200k rows per bucket,
  *    at least one bucket per core); without a measurement auto mode takes
  *    the cap, max(32, 8 × defaultParallelism).
  *  - repartition(numBuckets, bucket) before partitionBy → exactly one file
  *    per bucket, no small-file explosion.
  *  - COMMIT GRANULARITY: data is written once to a staging dir (one Spark
  *    job — no upstream recompute per group), then bucket dirs are renamed
  *    into the final table in `commitGroups` groups with a manifest update
  *    after each group. A crash mid-commit preserves the groups already
  *    renamed+committed (partition-level progress), and a crash during the
  *    staging write loses only staging. Renames are metadata ops on
  *    HDFS-like filesystems.
  *  - all filesystem mutations go through the Hadoop FileSystem API, so the
  *    exactly-once cleanup works on HDFS/S3A, not only file:// (a
  *    java.nio.file cleanup would silently no-op off-JVM-local disk).
  *  - dedup happens per document inside the parse stage (the triple
  *    identity key includes url+block, so duplicates cannot span documents)
  *    — no cluster-wide dedup shuffle or sort exists at all.
  */
object Materialize {

  /** The floor of the bucket cap: a NEW table in auto mode without a row
    * measurement gets max(NUM_BUCKETS, 8 × defaultParallelism) buckets. */
  val NUM_BUCKETS = 32

  /** Rows per bucket file that [[autoBuckets]] aims at. */
  private val ROWS_PER_BUCKET = 200000L

  /** The cap, max(NUM_BUCKETS, 8 buckets per core): the subject-hash
    * distribution is skewed (hub subjects repeat across many documents;
    * measured ~2.7x max/mean bucket size on the synthetic corpus), so with
    * ~1 bucket per task a large write is tail-bound by the hottest bucket.
    * At 8x the skewed bucket is still well under one core's share of the
    * total. At ~42M rows on 32 cores 256 buckets beat 64. */
  private def capBuckets(spark: SparkSession): Int =
    math.max(NUM_BUCKETS, spark.sparkContext.defaultParallelism * 8)

  /** Bucket count for a NEW table of `rows` measured rows:
    * clamp(ceil(rows / 200k), defaultParallelism, [[capBuckets]]).
    * Every bucket file costs a write task, a Hadoop-conf deserialization
    * and a lineage re-read whatever its size, so small tables want few
    * files. Seconds per pipeline run by bucket count, median of 3, on a
    * shared 4-core host (7g heap, [[ForkFreeLocalFileSystem]]). The rule
    * reads the triples plus the error rows (849,400 rows at 160k pages):
    *
    * {{{
    *   pages   triples    nb=1   nb=4   nb=8   nb=32   rule
    *   10k     52,834     1.71   1.49   1.67   2.17    4 (floor)
    *   40k     211,371    2.71   2.40   2.42   2.74    4 (floor)
    *   160k    846,256    7.28   5.49   5.75   5.87    5
    * }}}
    *
    * Where the rule leaves the floor it was run against it, alternating
    * runs in one JVM: at 849,400 rows nb=5 took a median 6.30 s against
    * 6.42 s for nb=4 (5 runs each, nb=5 lower in 4 pairs); at 1,698,505
    * rows (320k pages) the rule's nb=9 took 9.51 s against 9.88 s for
    * nb=4 (10 runs each) and 11.35 s for nb=32 (3 runs). The gaps are
    * within run-to-run noise: above the floor the rule is no worse than
    * one bucket per core. At ~42M rows on 32 cores (round 7, where 256
    * buckets beat 64) it picks 210; that point has not been re-run. */
  def autoBuckets(spark: SparkSession, rows: Long): Int = {
    require(rows >= 0, s"Materialize.autoBuckets: rows must be >= 0, got $rows")
    val wanted = rows / ROWS_PER_BUCKET + (if (rows % ROWS_PER_BUCKET == 0) 0 else 1)
    math.min(capBuckets(spark).toLong,
      math.max(spark.sparkContext.defaultParallelism.toLong, wanted)).toInt
  }

  def bucketed(triples: DataFrame, numBuckets: Int = NUM_BUCKETS): DataFrame =
    triples.withColumn("bucket",
      pmod(xxhash64(coalesce(col("subj"), col("url"))), lit(numBuckets)).cast("int"))

  /** Salts with `pmod(murmur3(salt(b)), nb) == b`, so
    * `repartition(nb, salt(bucket))` places bucket b EXACTLY in shuffle
    * partition b. Repartitioning on the raw bucket id hash-scatters the nb
    * bucket values over nb partitions balls-in-bins style — ~1/e of the
    * reduce slots come up EMPTY and some tasks carry 2–3 buckets (plus the
    * hot bucket, ~2.7× mean), so at small worker counts the write stage is
    * tail-bound by the unluckiest task. The identity mapping gives one
    * bucket per task: full write parallelism, unchanged one-file-per-bucket
    * output. Salt search is coupon-collector, ~nb·ln(nb) murmur3 probes on
    * the driver (microseconds at any realistic bucket count). */
  private[kg] def identitySalts(nb: Int): Array[Int] = {
    val salts = new Array[Int](nb)
    val found = new Array[Boolean](nb)
    var remaining = nb
    var s = 0
    while (remaining > 0) {
      // must match HashPartitioning's hash of a single IntegerType column:
      // Murmur3Hash(expr, seed=42) -> hashInt, then pmod by numPartitions
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(s, 42)
      val b = ((h % nb) + nb) % nb
      if (!found(b)) { found(b) = true; salts(b) = s; remaining -= 1 }
      s += 1
    }
    salts
  }

  /** One shuffle partition per bucket, partition index == bucket id (see
    * [[identitySalts]]). */
  private[kg] def repartitionByBucketIdentity(withBucket: DataFrame, nb: Int): DataFrame =
    withBucket.repartition(nb,
      element_at(typedLit(identitySalts(nb).toSeq), col("bucket") + 1))

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write buckets not yet present in the manifest; returns lineage rows.
    *
    * @param numBuckets the count for a new table, e.g. from
    *                   [[autoBuckets]]; 0 = auto (max(NUM_BUCKETS,
    *                   8×defaultParallelism), see [[capBuckets]]). A
    *                   resumed table keeps its own count either way.
    * @param commitGroups number of manifest commit points across the
    *                   pending buckets (resume granularity) */
  def write(triples: DataFrame, outDir: String, numBuckets: Int = 0,
      commitGroups: Int = 4): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val hfs = fs(spark, outDir)
    val (manifestBuckets, done) = readManifestFull(outDir)
    // numBuckets resolution order: manifest > write-once sidecar > caller >
    // auto. The sidecar exists because the manifest swap (delete+rename on
    // filesystems without atomic overwrite) can lose the manifest in a
    // crash window; without it a resume would fall back to capBuckets
    // (defaultParallelism-dependent) and, if parallelism changed, clean
    // only buckets 0..newNb-1 while committed dirs >= newNb linger as
    // orphans that readTriples would silently include.
    val sidecarBuckets = readBucketSidecar(outDir)
    val nb = manifestBuckets.orElse(sidecarBuckets).getOrElse(
      if (numBuckets > 0) numBuckets else capBuckets(spark))
    if (manifestBuckets.isEmpty && sidecarBuckets.isEmpty) {
      // no commit metadata at all: any existing triples dir is foreign or
      // pre-dates the sidecar — treat as dirty and rebuild from scratch
      // rather than merging unknown bucket dirs into this write's layout.
      // The old data is renamed ASIDE (not deleted): a table whose manifest
      // was lost out-of-band is replaced auditably and recoverably, never
      // silently destroyed. Readers scanning mid-rebuild lose visibility
      // either way — inherent to rebuilding in place.
      val triplesPath = new Path(s"$outDir/triples")
      if (hfs.exists(triplesPath)) {
        val aside = new Path(
          s"$outDir/triples.foreign-${java.util.UUID.randomUUID().toString.take(8)}")
        System.err.println(s"[graft.Materialize] WARN: $outDir/triples exists " +
          s"with no manifest and no _buckets.json sidecar; treating as foreign " +
          s"data and renaming it aside to $aside before rebuilding")
        require(hfs.rename(triplesPath, aside),
          s"could not move foreign triples dir aside to $aside")
      }
    }
    writeBucketSidecarOnce(outDir, nb)

    val withBucket = bucketed(triples, nb)
    val pendingBuckets = (0 until nb).filterNot(done)
    val pending =
      if (done.isEmpty) withBucket
      else withBucket.filter(!col("bucket").isin(done.toSeq: _*))

    if (pendingBuckets.nonEmpty) {
      // exactly-once per bucket: a crash between a group's renames and its
      // manifest commit leaves orphan bucket dirs in the final table;
      // removing uncommitted bucket dirs before re-writing makes the retry
      // idempotent (Hadoop FS → works on HDFS/S3A too)
      pendingBuckets.foreach { b =>
        val dir = new Path(s"$outDir/triples/bucket=$b")
        if (hfs.exists(dir)) hfs.delete(dir, true)
      }

      // stage ALL pending buckets in one job: one shuffle on bucket, one
      // file per bucket, no per-group recompute of the upstream pipeline
      val staging = s"$outDir/_staging"
      hfs.delete(new Path(staging), true)
      // partitionBy plans a per-task SORT on the partition column unless
      // concurrent writers are allowed; after repartitionByBucketIdentity
      // every task holds exactly ONE bucket value, so that sort orders rows
      // by a constant — pure CPU+spill waste that grows with the data.
      // Allowing a small concurrent-writer budget takes the sort-free path
      // (1 open writer per task in practice; 4 covers a task that ever sees
      // a second value, e.g. a caller that skipped the identity repartition).
      val cwKey = "spark.sql.maxConcurrentOutputFileWriters"
      val prevCw = spark.conf.getOption(cwKey)
      spark.conf.set(cwKey, "4")
      try
        repartitionByBucketIdentity(pending, nb)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(s"$staging/triples")
      finally prevCw match {
        case Some(v) => spark.conf.set(cwKey, v)
        case None    => spark.conf.unset(cwKey)
      }

      // commit in groups: rename staged bucket dirs into the final table,
      // then advance the manifest — partition-level progress survives a
      // crash between groups
      val finalTriples = new Path(s"$outDir/triples")
      hfs.mkdirs(finalTriples)
      val groupSize = math.max(1, math.ceil(
        pendingBuckets.size.toDouble / math.max(1, commitGroups)).toInt)
      var committed = done
      pendingBuckets.grouped(groupSize).foreach { group =>
        group.foreach { b =>
          val src = new Path(s"$staging/triples/bucket=$b")
          if (hfs.exists(src)) {
            // Hadoop FileSystem.rename reports most failures by returning
            // false, not throwing — a bucket must NEVER be recorded
            // committed without its data in place
            val dst = new Path(s"$outDir/triples/bucket=$b")
            if (!hfs.rename(src, dst))
              throw new java.io.IOException(
                s"bucket commit rename failed: $src -> $dst")
          }
          // a bucket with zero rows stages no dir; it is still committed
        }
        committed = committed ++ group
        writeManifest(outDir, nb, committed)
      }
      hfs.delete(new Path(staging), true)
    }

    // per-bucket lineage (counts of pages/blocks/triples/errors), computed
    // from the parquet just written: a pruned 4-column scan of the
    // materialized table instead of a full re-pass over the pipeline.
    // schema given explicitly so an empty write (zero input rows) still
    // reads back as an empty frame instead of failing schema inference
    val written = spark.read.schema(withBucket.schema)
      .parquet(s"$outDir/triples")
      .select($"bucket", $"url", $"block", $"error")
    // the aggregate is ≤ numBuckets rows: collect it ONCE, persist the
    // _lineage table from the local rows, and hand the caller the local
    // relation — this removes two driver-blocking round trips (re-read of
    // _lineage + a separate totals job) from the commit critical path.
    // pages/blocks distinct-count over 64-bit url hashes, not url strings:
    // the distinct shuffle moves 8-byte longs instead of full URLs
    // (collision odds over 10^9 pages ≈ 10^-1.. negligible at any bench
    // scale and documented; triple/error counts are exact).
    val compact = written.select($"bucket",
      xxhash64($"url").as("uh"), xxhash64($"url", $"block").as("ubh"),
      $"error".isNull.as("ok"))
    // two-level aggregation instead of groupBy(bucket).agg(countDistinct,
    // countDistinct, ...): multiple distinct aggregates plan an Expand that
    // multiplies every scanned row by the distinct-column count before the
    // shuffle (measured: lineage_agg was ~29% of the whole write at w=1).
    // Level 1 collapses to one row per (bucket, block) — map-side partials,
    // triple-count sums carried along; level 2 then needs ONE distinct
    // (pages) over the already-tiny block-level rows.
    val lineageRows = compact
      .groupBy($"bucket", $"ubh", $"uh").agg(
        count(when($"ok", 1)).as("t"),
        count(when(!$"ok", 1)).as("e"))
      .groupBy($"bucket").agg(
        countDistinct($"uh").as("pages"),
        count(lit(1)).as("blocks"),
        sum($"t").as("triples"),
        sum($"e").as("errors"))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val lineage = spark.createDataset(lineageRows)
      .toDF("bucket", "pages", "blocks", "triples", "errors")
    lineage.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/_lineage")
    lineage
  }

  /** Hadoop conf for manifest IO: the ACTIVE session's conf when one exists
    * (so the manifest resolves to the same filesystem as the data it
    * commits — fs.defaultFS / credentials come from spark.hadoop.*), plain
    * defaults otherwise (driver-less tests/tools). */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Write-once bucketing sidecar: pins numBuckets for the table's lifetime
    * BEFORE any data is staged, so bucket layout survives even a lost
    * manifest. Written via temp + rename (a direct create could crash
    * mid-write and leave an empty `_buckets.json` that the write-once
    * check would then preserve forever — permanently disabling the very
    * crash protection the sidecar provides). A VALID existing file wins;
    * an unreadable one is replaced. */
  private def writeBucketSidecarOnce(outDir: String, numBuckets: Int): Unit = {
    val p = new Path(outDir)
    val hfs = p.getFileSystem(hadoopConf)
    hfs.mkdirs(p)
    val f = new Path(outDir, "_buckets.json")
    if (readBucketSidecar(outDir).isEmpty) {
      val tmp = new Path(outDir, "_buckets.json.tmp")
      val out = hfs.create(tmp, true)
      try out.write(s"""{"numBuckets":$numBuckets}"""
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (hfs.exists(f)) hfs.delete(f, false) // corrupt leftover
      if (!hfs.rename(tmp, f))
        throw new java.io.IOException(s"bucket sidecar rename failed: $tmp -> $f")
    }
  }

  /** The whole of a small metadata file as UTF-8, or None when it does not
    * exist. */
  private def readSmallFile(f: Path): Option[String] = {
    val hfs = f.getFileSystem(hadoopConf)
    if (!hfs.exists(f)) None
    else {
      val in = hfs.open(f)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def readBucketSidecar(outDir: String): Option[Int] =
    readSmallFile(new Path(outDir, "_buckets.json")).flatMap { s =>
      "\"numBuckets\":([0-9]+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    }

  /** Manifest = commit point. Written to a temp file then atomically renamed. */
  def writeManifest(outDir: String, numBuckets: Int, buckets: Set[Int]): Unit = {
    val p = new Path(outDir)
    val hfs = p.getFileSystem(hadoopConf)
    hfs.mkdirs(p)
    val json =
      s"""{"format":"graft-triples-v1","numBuckets":$numBuckets,"completedBuckets":[${buckets.toSeq.sorted.mkString(",")}]}"""
    val tmp = new Path(outDir, "_manifest.json.tmp")
    val out = hfs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new Path(outDir, "_manifest.json")
    hfs.delete(dst, false)
    if (!hfs.rename(tmp, dst))
      throw new java.io.IOException(s"manifest commit rename failed: $tmp -> $dst")
  }

  /** Back-compat helper used by tests: manifest with the default layout. */
  def writeManifest(outDir: String, buckets: Set[Int]): Unit =
    writeManifest(outDir, readManifestFull(outDir)._1.getOrElse(NUM_BUCKETS), buckets)

  def readManifest(outDir: String): Set[Int] = readManifestFull(outDir)._2

  /** (numBuckets if a manifest exists, completed buckets). */
  def readManifestFull(outDir: String): (Option[Int], Set[Int]) =
    readSmallFile(new Path(outDir, "_manifest.json")) match {
      case None => (None, Set.empty)
      case Some(s) =>
        val nb = "\"numBuckets\":([0-9]+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
        val done = "\"completedBuckets\":\\[([0-9,]*)\\]".r.findFirstMatchIn(s)
          .map(_.group(1)).filter(_.nonEmpty)
          .map(_.split(",").map(_.toInt).toSet).getOrElse(Set.empty)
        (nb, done)
    }

  def readTriples(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/triples")
}
