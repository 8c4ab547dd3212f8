package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import graft.turtle.{TripleProducer, TurtleParser, TurtleSerializer}
import graft.turtle.TripleProducer._
import scala.jdk.CollectionConverters._

/** `turtle_docs`: parse → produce → render on one thread over a seeded
  * mix of the fixture corpus (the large ontologies included), with seeded
  * whitespace/comment padding and, at a small rate, the fixture that must
  * fail to parse. A round is one pass over the mix. */
object TurtleWorkload {
  val Copies = 48
  val MustFail = "wildtype_examples/blank_node_object_dot.ttl"
  val MustFailRate = 0.02
  val PadRate = 0.5
  /** Untimed passes before the first round: the JIT is still speeding the
    * grammar up over the first ~20 passes. */
  val WarmPasses = 30

  final case class Doc(name: String, text: String, padded: Boolean,
      golden: Option[Vector[String]])

  /** Fixtures from the source tree, and their golden triple lines. */
  def corpus(root: Path): (Vector[(String, String)], Map[String, Vector[String]]) = {
    def read(p: Path) = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    def list(dir: Path): Vector[Path] = {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector.sortBy(_.getFileName.toString) finally s.close()
    }
    val ttl = root.resolve("src/main/resources/ttl")
    val fixtures = for {
      group <- list(ttl)
      f <- list(group) if f.toString.endsWith(".ttl")
    } yield s"${group.getFileName}/${f.getFileName}" -> read(f)
    val goldenDir = root.resolve("src/test/resources/goldens/triples")
    val goldens = fixtures.flatMap { case (name, _) =>
      val g = goldenDir.resolve(name.replace('/', '_') + ".tsv")
      if (Files.exists(g)) Some(name -> read(g).split("\n").filter(_.nonEmpty).toVector)
      else None
    }.toMap
    (fixtures, goldens)
  }

  /** Padding the grammar must keep byte for byte. */
  private def pad(rng: scala.util.Random): String =
    (0 until 1 + rng.nextInt(3)).map { _ =>
      rng.nextInt(3) match {
        case 0 => "\n" + " " * rng.nextInt(8)
        case 1 => s"\n# padding ${rng.nextInt(100000)}\n"
        case _ => "\t\n"
      }
    }.mkString

  /** Every parseable fixture `Copies` times and the must-fail fixture at
    * about 2%, in seeded order, half of them padded. The seed changes order
    * and padding, not the composition, so every seed does the same work. */
  def mix(seed: Long, fixtures: Vector[(String, String)],
      goldens: Map[String, Vector[String]]): Vector[Doc] = {
    val rng = new scala.util.Random(seed)
    val (bad, pool) = fixtures.partition(_._1 == MustFail)
    val picks = Vector.fill(Copies)(pool).flatten ++
      Vector.fill(math.round(Copies * pool.size * MustFailRate).toInt)(bad).flatten
    rng.shuffle(picks).map { case (name, text) =>
      if (rng.nextDouble() < PadRate) Doc(name, text + pad(rng), padded = true, goldens.get(name))
      else Doc(name, text, padded = false, goldens.get(name))
    }
  }

  /** Canonical triple lines, blank nodes relabelled in order of first
    * appearance (the form the golden TSVs are written in). */
  def canonical(ts: Vector[RdfTriple]): Vector[String] = {
    val ids = scala.collection.mutable.HashMap.empty[Int, Int]
    def term(t: Term): String = t match {
      case TIri(i) => s"<$i>"
      case TBnode(id) => "_:c" + ids.getOrElseUpdate(id, ids.size)
      case TLit(l, d, g) =>
        "\"" + l.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t") + "\"" +
          g.map("@" + _).getOrElse("") + d.map("^^<" + _ + ">").getOrElse("")
    }
    ts.map { t =>
      val s = t.subj match { case TLit(_, _, _) => "!literal-subject"; case x => term(x) }
      s"$s\t<${t.pred}>\t${term(t.obj)}"
    }
  }

  private type Out = (Either[_, _], Option[Either[String, Vector[RdfTriple]]], Option[String])

  /** Did every check on one document's outputs hold? */
  private def ok(d: Doc, out: Out): Boolean = out match {
    case (Left(_), _, _) => d.name == MustFail
    case (Right(_), produced, rendered) =>
      d.name != MustFail && rendered.contains(d.text) && (d.golden match {
        case Some(g) => produced.exists(_.toOption.map(canonical).contains(g))
        case None => produced.exists(_.isLeft) // the reference refuses it too
      })
  }

  def run(o: Opts, rec: Recorder): Unit = {
    var docs = Vector.empty[Doc]

    /** One pass: each document timed through parse → produce → render and
      * then checked, outside the timed part; no pass holds more than one
      * document's outputs. `timed(layer, name)(call)` wraps each call.
      * Returns (failed, triples, timed seconds). */
    def pass(timed: (Int, String) => (=> Any) => Any, docSample: String): (Int, Long, Double) = {
      var failed = 0
      var triples = 0L
      var work = 0L
      docs.foreach { d =>
        val t0 = System.nanoTime()
        val parsed = timed(0, "turtle.parse")(TurtleParser.parseFull(d.text))
          .asInstanceOf[Either[_, graft.turtle.Ast.TurtleDoc]]
        val out: Out = parsed match {
          case Right(doc) => (parsed,
            Some(timed(1, "turtle.produce")(TripleProducer.produce(doc))
              .asInstanceOf[Either[String, Vector[RdfTriple]]]),
            Some(timed(2, "turtle.render")(TurtleSerializer.render(doc)).asInstanceOf[String]))
          case Left(_) => (parsed, None, None)
        }
        val dt = System.nanoTime() - t0
        work += dt
        if (docSample.nonEmpty) rec.sample(docSample, dt / 1e3)
        if (!ok(d, out)) failed += 1
        triples += out._2.flatMap(_.toOption).map(_.size).getOrElse(0)
      }
      (failed, triples, work / 1e9)
    }
    val direct: (Int, String) => (=> Any) => Any = (_, _) => body => body
    /** A pass as a row whose work is the documents' timed part. */
    def row(kind: String, timed: (Int, String) => (=> Any) => Any, docSample: String): Unit = {
      var work = 0.0
      rec.row(kind, "pass", ops = docs.size) {
        val (f, t, w) = pass(timed, docSample)
        work = w
        (f, Map("triples" -> t.toString))
      }
      rec.setWork(work)
    }

    val (fixtures, goldens) = corpus(o.root)
    docs = mix(o.seed, fixtures, goldens)
    val bytes = docs.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    rec.info("docs_per_pass") = docs.size.toString
    rec.info("bytes_per_pass") = bytes.toString
    rec.info("padded") = docs.count(_.padded).toString
    rec.info("must_fail") = docs.count(_.name == MustFail).toString
    rec.row("warmup", "passes", ops = docs.size * WarmPasses) {
      ((0 until WarmPasses).map(_ => pass(direct, "")._1).sum, Map.empty)
    }

    if (!o.trace) {
      Sessions.loop(Host.now(), o.seconds, minReps = 10)(_ => row("round", direct, "doc_us"))
      return
    }
    // untraced and traced passes alternate; spans are kept for the first
    // traced pass, per-layer sums for all of them. Allocation and GC time
    // are summed inside the three calls only, not over the checks.
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    var passes = 0
    var alloc = 0L
    var gc = 0.0
    Sessions.loop(Host.now(), o.seconds, minReps = 10) { i =>
      if (i % 2 == 0) row("ref", direct, "doc_us")
      else {
        val sums = Array(0.0, 0.0, 0.0)
        val traced: (Int, String) => (=> Any) => Any = (layer, name) => body => {
          val gc0 = Host.gcS()
          val alloc0 = threads.getCurrentThreadAllocatedBytes
          val s = Host.now()
          val a = if (passes == 0) rec.span(name, i)(body) else body
          sums(layer) += Host.now() - s
          alloc += threads.getCurrentThreadAllocatedBytes - alloc0
          gc += Host.gcS() - gc0
          a
        }
        row("traced", traced, "")
        rec.sample("turtle.parse_s", sums(0))
        rec.sample("turtle.produce_s", sums(1))
        rec.sample("turtle.render_s", sums(2))
        passes += 1
      }
    }
    rec.add("turtle.alloc_bytes_per_byte", alloc.toDouble / (bytes * passes))
    rec.add("turtle.gc_s", gc / passes)
  }
}
