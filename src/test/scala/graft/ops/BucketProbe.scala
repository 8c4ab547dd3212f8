package graft.ops

import org.apache.spark.sql.functions._

/** Diagnostic main: over-cap LSH bucket census at a given sfDir — produced
  * the measured recall attribution documented at [[DedupOps.MAX_BUCKET]]
  * and in BENCH.md ("Oracle coverage at bench scale").
  *
  * Usage: Test/runMain graft.ops.BucketProbe [/root/testdata/sf0.1]
  */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.kg.KgPipeline.session("local[16]", 32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = spark.read.parquet(
      args.headOption.getOrElse("/root/testdata/sf0.1") + "/documents.parquet")
    val d = docs.select($"doc_id".cast("long"), $"text").as[(Long, String)]
    val mh = d.flatMap { case (id, text) =>
      val sig = DedupOps.minhashSig(DedupOps.wordShingles(text))
      DedupOps.bandKeys(sig, DedupOps.NUM_BANDS, DedupOps.BAND_ROWS)
        .iterator.map { case (b, h) => (id, b, h) }
    }.toDF("doc_id", "band", "bandhash")
      .groupBy("band", "bandhash").count()
    // one action per census: over-cap count and max in a single agg
    val mhr = mh.agg(
      sum(when($"count" > DedupOps.MAX_BUCKET, 1L).otherwise(0L)),
      max($"count")).head()
    println("MINHASH buckets>" + DedupOps.MAX_BUCKET + ": " +
      mhr.getLong(0) + " max=" + mhr.getLong(1))
    // simhashDedup keys DISTINCT signatures on their 16 sub-band keys —
    // census that shape.
    val sigs = d.map { case (id, t) => (id, DedupOps.simhash64(t)) }
      .toDF("doc_id", "sig")
    val sh = sigs.select($"sig").distinct().as[Long]
      .flatMap(sig => DedupOps.simhashKeys(sig).iterator)
      .groupBy($"value").count()
    val shr = sh.agg(
      sum(when($"count" > DedupOps.MAX_BUCKET, 1L).otherwise(0L)),
      max($"count")).head()
    println("SIMHASH distinct-sig key buckets>" + DedupOps.MAX_BUCKET + ": " +
      shr.getLong(0) + " max=" + shr.getLong(1))
    // Pair recall vs the exact all-pairs answer (diagnostic scale: the sig
    // table is corpus-row-sized; the all-pairs loop runs on the driver).
    val sigArr = sigs.as[(Long, Long)].collect()
    var truth = 0L
    var i2 = 0
    while (i2 < sigArr.length) {
      var j = i2 + 1
      while (j < sigArr.length) {
        if (java.lang.Long.bitCount(sigArr(i2)._2 ^ sigArr(j)._2) <= 3) truth += 1
        j += 1
      }
      i2 += 1
    }
    val found = DedupOps.simhashDedup(docs, 3).count()
    println(f"SIMHASH pair recall: $found/$truth = ${
      if (truth == 0) 1.0 else found.toDouble / truth}%.4f")
    spark.stop()
  }
}
