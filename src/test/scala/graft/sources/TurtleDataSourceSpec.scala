package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.SparkTestSession
import java.nio.file.Files
import java.nio.charset.StandardCharsets

class TurtleDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("""spark.read.format("turtle") reads .ttl files into triple rows""") {
    val dir = Files.createTempDirectory("ttl-src")
    // two fixture docs + one malformed file
    val fixtures = graft.kg.FixtureCorpus.all.toMap
    Files.write(dir.resolve("a.ttl"),
      fixtures("reference_examples/example2.ttl").getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.ttl"),
      fixtures("reference_examples/example12.ttl").getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("bad.ttl"), "<unclosed".getBytes(StandardCharsets.UTF_8))

    val df = spark.read.format("turtle").load(dir.toString)
    val rows = df.collect()
    assert(df.rdd.getNumPartitions == 3) // one partition per document file
    val ok = rows.filter(_.getString(8) == null)
    val err = rows.filter(_.getString(8) != null)
    assert(err.length == 1 && err.head.getString(0).endsWith("bad.ttl"))
    // example2 has exactly 1 triple; example12 has 3
    assert(ok.count(_.getString(0).endsWith("a.ttl")) == 1)
    assert(ok.count(_.getString(0).endsWith("b.ttl")) == 3)
    val spider = ok.find(_.getString(0).endsWith("a.ttl")).get
    assert(spider.getString(1) == "http://example.org/#spiderman")
    // exact numeric spellings survive
    assert(ok.exists(r => r.getString(5) == "1.663E-4" &&
      r.getString(6) == "http://www.w3.org/2001/XMLSchema#double"))

    // `_`- and `.`-prefixed paths below the root are hidden: they add no
    // partition and no row
    val triple = "<http://s> <http://p> <http://o> .".getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(dir.resolve("_temporary"))
    Files.write(dir.resolve("_temporary/x.ttl"), triple)
    Files.write(dir.resolve(".x.ttl"), triple)
    val again = spark.read.format("turtle").load(dir.toString)
    assert(again.rdd.getNumPartitions == 3)
    assert(again.collect().map(_.getString(0)).toSet == rows.map(_.getString(0)).toSet)
    // the rule looks strictly below the root: a root that itself sits under
    // a `_` directory is read, recursively
    val under = dir.resolve("_landing/docs")
    Files.createDirectories(under.resolve("sub"))
    Files.write(under.resolve("sub/c.ttl"), triple)
    val nested = spark.read.format("turtle").load(under.toString).collect()
    assert(nested.length == 1 && nested.head.getString(0).endsWith("sub/c.ttl") &&
      nested.head.isNullAt(8))
  }

  test("oversized files yield a FileTooLarge error row, not an OOM slurp") {
    val dir = Files.createTempDirectory("ttl-src3")
    Files.write(dir.resolve("big.ttl"),
      ("<http://s> <http://p> \"" + "x" * 2048 + "\" .").getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("small.ttl"),
      "<http://s> <http://p> <http://o> .".getBytes(StandardCharsets.UTF_8))
    val rows = spark.read.format("turtle").option("maxBytes", "1024")
      .load(dir.toString).collect()
    val err = rows.filter(_.getString(8) != null)
    assert(err.length == 1 && err.head.getString(0).endsWith("big.ttl") &&
      err.head.getString(8).startsWith("FileTooLarge: "))
    assert(rows.count(_.getString(8) == null) == 1) // small.ttl still parses
  }

  test("bnode labels derive from document content, not file location") {
    val d1 = Files.createTempDirectory("ttl-loc1")
    val d2 = Files.createTempDirectory("ttl-loc2")
    val doc = "[] <http://p> <http://o> ."
    Files.write(d1.resolve("x.ttl"), doc.getBytes(StandardCharsets.UTF_8))
    Files.write(d2.resolve("renamed.ttl"), doc.getBytes(StandardCharsets.UTF_8))
    def subj(dir: java.nio.file.Path): String =
      spark.read.format("turtle").load(dir.toString)
        .select("subj").collect().head.getString(0)
    val (s1, s2) = (subj(d1), subj(d2))
    assert(s1 == s2 && s1.startsWith("_:h"))
  }

  test("column pruning works through the V2 scan") {
    val dir = Files.createTempDirectory("ttl-src2")
    Files.write(dir.resolve("x.ttl"),
      "<http://s> <http://p> <http://o> .".getBytes(StandardCharsets.UTF_8))
    val preds = spark.read.format("turtle").load(dir.toString)
      .select("pred").collect().map(_.getString(0))
    assert(preds.sameElements(Array("http://p")))
  }

  test("streaming reads, writes and user schemas are refused up front") {
    val dir = Files.createTempDirectory("ttl-refuse")
    Files.write(dir.resolve("x.ttl"),
      "<http://s> <http://p> <http://o> .".getBytes(StandardCharsets.UTF_8))
    val out = dir.resolve("out")
    val other = new org.apache.spark.sql.types.StructType().add("subj", "string")
    val refused: Seq[(String, () => Any, String)] = Seq(
      ("readStream", () => spark.readStream.format("turtle").load(dir.toString),
        "does not support streamed reading"),
      ("write", () => spark.read.format("turtle").load(dir.toString)
        .write.format("turtle").save(out.toString), "turtle source is read-only"),
      ("user schema", () => spark.read.schema(other).format("turtle")
        .load(dir.toString).collect(), "user-specified schema"))
    for ((name, run, says) <- refused) {
      val e = intercept[Exception](run())
      assert(String.valueOf(e.getMessage).contains(says), s"$name: ${e.getMessage}")
    }
    assert(!Files.exists(out))
  }

  test("executors read through the session's Hadoop conf") {
    val dir = Files.createTempDirectory("ttl-conf")
    Files.write(dir.resolve("x.ttl"),
      "<http://s> <http://p> <http://o> .".getBytes(StandardCharsets.UTF_8))
    // the scheme exists on the session's conf only; with the FileSystem
    // cache off, a reader that builds its own conf cannot resolve it
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.ttlconf.impl", classOf[SessionOnlyFileSystem].getName)
    conf.setBoolean("fs.ttlconf.impl.disable.cache", true)
    try {
      // a file root: listing a directory needs `file://` permission lookups
      val rows = spark.read.format("turtle").load(s"ttlconf://$dir/x.ttl").collect()
      assert(rows.length == 1 && rows.head.isNullAt(8) &&
        rows.head.getString(0).startsWith("ttlconf:"), rows.toSeq)
    } finally {
      conf.unset("fs.ttlconf.impl")
      conf.unset("fs.ttlconf.impl.disable.cache")
    }
  }
}

/** Local files under the `ttlconf` scheme. */
class SessionOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("ttlconf:///")
  override def getScheme: String = "ttlconf"
}
