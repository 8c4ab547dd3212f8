package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import Model.Page

/** Deterministic synthetic Common-Crawl-style pages table
  * (FIXTURES.md §2; BASELINE.json input_hint). Every page is a pure function
  * of its row index — identical output at any parallelism, any retry count.
  *
  * Scale note: generation is embarrassingly parallel over `spark.range`,
  * which at cluster scale splits into one lazy iterator per partition — no
  * driver-side materialization, no shuffle.
  */
object PagesSource {

  val MENTIONS_PRED = "http://graft.example/vocab#mentions"
  val SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
  val ENTITY_NS = "http://kb.example/entity/"
  val ALIAS_NS = "http://kb.example/alias/"

  val NUM_ENTITIES = 2000
  val NUM_HUBS = 5 // hub entities: ~20% of all mentions (power-law skew)

  /** splitmix64 — public-domain PRNG (Steele et al.), pure fn of the seed. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit string hash — deterministic, public algorithm. */
  def fnv64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  def entityIri(e: Int): String = ENTITY_NS + e

  /** Surface-form variants for the linking dictionary and for mention
    * generation. Variant 0 is canonical; the rest exercise normalization and
    * the LSH near-match path. */
  def surfaceVariants(e: Int): Seq[String] = Seq(
    s"entity $e", // canonical
    s"Entity $e", // case variant (exact after normalization)
    s"entity-$e", // punctuation variant (LSH path)
    s"the entity $e") // affix variant (LSH path)

  /** Pick the entity mentioned by (page i, mention k): 20% hubs, rest
    * uniform — the skew the canonicalization stage must survive. */
  def pickEntity(rng: Long): Int = {
    val r = (rng >>> 8) & 0x7FFFFFFF
    if (r % 5 == 0) ((r >>> 16) % NUM_HUBS).toInt
    else NUM_HUBS + ((r >>> 16) % (NUM_ENTITIES - NUM_HUBS)).toInt
  }

  private val langs = Array("en", "en", "en", "en", "en", "en", "fr", "es", "de", "zh")

  /** The Turtle payload(s) embedded in page i. Block 0 cycles the fixture
    * corpus; extra appended statements add deterministic mention/sameAs
    * triples that drive linking and canonicalization. ~2% of pages get a
    * malformed payload (NotFullyParsed path). */
  def payloads(i: Long): Vector[String] = {
    val fixtures = FixtureCorpus.productionSafe
    val r0 = mix64(42L ^ i)
    val base = fixtures((i % fixtures.size).toInt)

    val mentionCount = 1 + (mix64(r0 + 1) & 0x7FFFFFFF) % 3 // 1..3
    val sb = new StringBuilder(base)
    if (!base.endsWith("\n")) sb.append('\n')
    var k = 0L
    while (k < mentionCount) {
      val rk = mix64(r0 + 10 + k)
      val e = pickEntity(rk)
      val variant = surfaceVariants(e)(((rk >>> 40) % 4).toInt.abs)
      sb.append(s"""<https://site${i % 1000}.example/page/$i> <$MENTIONS_PRED> "$variant" .""")
      sb.append('\n')
      k += 1
    }
    // ~15% of pages assert an alias equivalence (CC edges)
    if ((mix64(r0 + 99) & 0x7FFFFFFF) % 100 < 15) {
      val e = pickEntity(mix64(r0 + 100))
      val a = (mix64(r0 + 101) & 0x7FFFFFFF) % 3
      sb.append(s"<${entityIri(e)}> <$SAME_AS> <$ALIAS_NS${e}_$a> .\n")
    }
    val doc = sb.toString

    val shape = (mix64(r0 + 2) & 0x7FFFFFFF) % 100
    if (shape < 2) Vector(doc + "\n<unclosed") // malformed
    else if (shape < 7) Vector.empty // no turtle block
    else if (shape < 12) Vector(doc, "<http://x.example/a> <http://x.example/b> <http://x.example/c> .\n")
    else Vector(doc)
  }

  def genPage(i: Long): Page = {
    val url = s"https://site${i % 1000}.example/page/$i"
    val ts = new Timestamp(946684800000L + i * 1009L * 1000L) // 2000-01-01 + i*1009s
    val blocks = payloads(i)
    val text = blocks.mkString // extraction invariant: concatenation, no sep
    val filler = s"Synthetic page $i of the graft corpus."
    val html = {
      val b = new StringBuilder
      b.append("<html><head><title>page ").append(i).append("</title></head><body><p>")
        .append(filler).append("</p>")
      blocks.foreach { blk =>
        b.append("<script type=\"text/turtle\">").append(blk).append("</script>")
      }
      b.append("</body></html>")
      b.toString.getBytes(StandardCharsets.UTF_8)
    }
    val lang = langs(((mix64(i ^ 7777L) & 0x7FFFFFFF) % langs.length).toInt)
    Page(url, ts, html, text, lang)
  }

  /** Generate n pages, spread evenly across the cluster. 4 partitions per
    * core: short tasks bound the straggler tail (CPU-steal on shared hosts,
    * speculative execution on real clusters). */
  def pages(spark: SparkSession, n: Long): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1,
        math.max(4 * spark.sparkContext.defaultParallelism, 4))
      .map(i => genPage(i))
  }

  /** Page count for a /root/testdata-style sf directory (FIXTURES.md §2).
    * sf0.1 is sized so the pipeline is compute-bound rather than
    * orchestration-bound at local[32] — a pipeline benchmark, not a
    * job-scheduler microbenchmark. */
  def countForSfDir(sfDir: String): Long =
    if (sfDir.contains("0.001")) 500L
    else if (sfDir.contains("0.01")) 5000L
    else if (sfDir.contains("0.1")) 2000000L
    else 500L

  /** The linking dictionary entries: all surface variants of all entities
    * (FIXTURES.md §3). Vocabulary-sized and a pure function → built on the
    * driver once (no Spark jobs) and broadcast into the linking joins. */
  lazy val dictionaryLocal: Seq[Model.DictEntry] =
    (0 until NUM_ENTITIES).flatMap { e =>
      // the dictionary carries canonical + case variant; punctuation/affix
      // variants are deliberately absent → resolved via the LSH path
      surfaceVariants(e).take(2)
        .map(s => Model.DictEntry(EntityLinking.normalize(s), entityIri(e)))
    }.distinct

  def dictionary(spark: SparkSession): Dataset[Model.DictEntry] = {
    import spark.implicits._
    spark.createDataset(dictionaryLocal)
  }
}

/** The 43-file reference fixture corpus, loaded from the application jar. */
object FixtureCorpus {
  import java.io.InputStream

  private def read(path: String): Option[String] = {
    val is: InputStream = getClass.getResourceAsStream(path)
    if (is == null) None
    else
      try Some(new String(is.readAllBytes(), StandardCharsets.UTF_8))
      finally is.close()
  }

  private val referenceNames: Seq[String] =
    (1 to 26).map(i => s"reference_examples/example$i.ttl")
  private val wildtypeNames: Seq[String] = Seq(
    "bibo.ttl", "blank_node_object_dot.ttl", "dublin_core_elements.ttl",
    "example12_only_decimal.ttl", "example12_only_double.ttl",
    "example12_only_integer.ttl", "example1_without_a.ttl",
    "example24_simple1.ttl", "example24_simple2.ttl", "foaf_mirror.ttl",
    "leading_whitespace_base.ttl", "leading_whitespace_prefix.ttl",
    "nested_lists.ttl", "nested_lists2.ttl", "owl.ttl", "rdf.ttl", "rdfs.ttl")
      .map("wildtype_examples/" + _)

  lazy val all: Vector[(String, String)] =
    (referenceNames ++ wildtypeNames).flatMap { n =>
      read(s"/ttl/$n").map(n -> _)
    }.toVector

  /** Fixtures that parse AND triple-produce — the embedding corpus for
    * synthetic pages. Excludes the reference's refusal set (16/23/24/25/26,
    * bibo, blank_node_object_dot) and the large ontologies (too big to embed
    * per page; they stay in the unit suites). */
  lazy val productionSafe: Vector[String] = {
    val refused = Set(
      "reference_examples/example16.ttl", "reference_examples/example23.ttl",
      "reference_examples/example24.ttl", "reference_examples/example25.ttl",
      "reference_examples/example26.ttl", "wildtype_examples/bibo.ttl",
      "wildtype_examples/blank_node_object_dot.ttl",
      "wildtype_examples/example24_simple1.ttl",
      "wildtype_examples/example24_simple2.ttl")
    val big = Set("wildtype_examples/foaf_mirror.ttl",
      "wildtype_examples/owl.ttl", "wildtype_examples/rdfs.ttl",
      "wildtype_examples/rdf.ttl", "wildtype_examples/dublin_core_elements.ttl")
    all.collect { case (n, s) if !refused(n) && !big(n) => s }
  }
}
