package graft.kg

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Static, reference-anchored DuckDB oracles for the kg_* driver queries
  * (round-4 verdict ask #1: flip the `no_oracle` rows to hard-signal green).
  *
  * The kg_* queries are deterministic pure functions of the fixed synthetic
  * corpus (PagesSource at the sf0.01 page count), so their expected outputs
  * can be generated ONCE, cross-checked against the COMPILED REFERENCE
  * BINARY (tools/refgen — harriet's own parser/producer running unmodified),
  * and frozen as `SELECT … FROM (VALUES …)` oracles that need no Turtle
  * parsing in DuckDB at all.
  *
  * Anchoring chain, per block of every sf0.01 page (5,000 pages):
  *   1. `dump` writes every extracted block (and every page-level
  *      concatenated text, for the `parse_turtle_triples` SQL path) as a
  *      .ttl doc in the refgen layout.
  *   2. the reference binary (`target/refgen/release/refgen`) parses +
  *      produces them all.
  *   3. `emit` recomputes the same outcomes through the Scala pipeline's
  *      pure per-page path and REQUIRES: identical outcome classification,
  *      identical round-trip flags, and byte-identical canonical triple
  *      lines (bnode-isomorphic relabeling, first-occurrence dedup of the
  *      reference's duplicates) — any divergence aborts the emit.
  *   4. only then are the VALUES oracles written to
  *      src/main/resources/graft/oracles/<name>.sql.
  *
  * What each oracle is anchored to:
  *   - kg_pred_counts: aggregated from the REFERENCE's triple lines.
  *   - kg_errors / kg_roundtrip: reference outcome / rt-flag parity.
  *   - kg_canonical: sameAs edges taken from the REFERENCE's triples,
  *     components via union-find (independent of the Spark CC code path).
  *   - kg_triples / kg_triples_sql: graft's exact rows, gated by the
  *     per-block byte-identity assertions above.
  *   - kg_turtle_source: fixture-corpus rows vs the frozen refgen TSVs.
  *   - kg_link / kg_entity_mentions: linking has no reference counterpart
  *     (harriet is a grammar, not a linker) — the mention SET is anchored
  *     to the reference's triples; the EXACT-match decisions are DERIVED
  *     inside the oracle SQL (normalize + dictionary equi-join in DuckDB,
  *     triple-checked at emit by a local recomputation); only the LSH
  *     fallback rows are a pinned snapshot of semantics proven
  *     local≡distributed in EntityLinkingSpec.
  *
  * Usage:
  * {{{
  *   sbt "Test/runMain graft.kg.KgOracleGen dump /tmp/kgoracle"
  *   target/refgen/release/refgen /tmp/kgoracle/docs /tmp/kgoracle/ref_out
  *   sbt "Test/runMain graft.kg.KgOracleGen emit /tmp/kgoracle"
  * }}}
  */
object KgOracleGen {

  val PAGES = 5000L // sf0.01 (PagesSource.countForSfDir)

  /** Every vertex of an undirected string graph labelled with the smallest
    * member of its component, by union-find in code-point order — the
    * order of UTF-8 bytes and of SQL `min` over strings (Java's `<` on
    * String compares UTF-16 units, which differs above U+FFFF). The
    * reference labelling for kg_canonical and the CC specs. */
  def minLabelComponents(edges: Iterable[(String, String)]): Map[String, String] = {
    def less(a: String, b: String): Boolean =
      java.util.Arrays.compare(a.codePoints().toArray, b.codePoints().toArray) < 0
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (less(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  // ------------------------------------------------------------- SQL emit

  def sqlStr(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"

  /** `SELECT <casted cols> FROM (VALUES …) AS t(<cols>)` — every column is
    * cast explicitly so all-NULL columns still type as VARCHAR and counts
    * type as BIGINT (Spark writes longs; DuckDB would infer INT32). */
  def valuesSql(cols: Seq[(String, String)], rows: Seq[Seq[String]]): String = {
    val sel = cols.map { case (n, t) => s"CAST($n AS $t) AS $n" }.mkString(", ")
    val names = cols.map(_._1).mkString(", ")
    rows.map(_.mkString("(", ",", ")"))
      .mkString(s"SELECT $sel FROM (VALUES\n", ",\n", s"\n) AS t($names)")
  }

  // --------------------------------------------------------------- layout

  def blockDocName(i: Long, bi: Int): String = f"p$i%05d_b$bi.ttl"
  def pageDocName(i: Long): String = f"p$i%05d_full.ttl"

  // --------------------------------------------------------------- dump

  def dump(workDir: Path): Unit = {
    val docs = workDir.resolve("docs/reference_examples")
    Files.createDirectories(docs)
    Files.createDirectories(workDir.resolve("docs/wildtype_examples"))
    var nBlocks = 0L
    var nPages = 0L
    for (i <- 0L until PAGES) {
      val blocks = PagesSource.payloads(i)
      blocks.zipWithIndex.foreach { case (b, bi) =>
        Files.write(docs.resolve(blockDocName(i, bi)),
          b.getBytes(StandardCharsets.UTF_8))
        nBlocks += 1
      }
      val text = blocks.mkString
      if (text.nonEmpty) {
        Files.write(docs.resolve(pageDocName(i)),
          text.getBytes(StandardCharsets.UTF_8))
        nPages += 1
      }
    }
    println(s"dumped $nBlocks block docs + $nPages page docs to $docs")
  }

  // --------------------------------------------------------------- emit

  /** One parsed row of refgen's status.tsv. */
  final case class RefStatus(outcome: String, rt: String, count: Int, kind: String)

  def readRefStatus(workDir: Path): Map[String, RefStatus] =
    Files.readAllLines(workDir.resolve("ref_out/status.tsv")).asScala.map { l =>
      val f = l.split("\t", -1)
      // refgen writes the error kind as Rust {:?} → strip the quotes
      f(0).stripPrefix("reference_examples/") ->
        RefStatus(f(1), f(2), f(3).toInt, f(4).stripPrefix("\"").stripSuffix("\""))
    }.toMap

  def readRefLines(workDir: Path, doc: String): Vector[String] = {
    val p = workDir.resolve(s"ref_out/reference_examples_$doc.tsv")
    val raw = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val trimmed = raw.stripSuffix("\n")
    if (trimmed.isEmpty) Vector.empty
    else {
      // first-occurrence dedup: the reference emits duplicate triples, the
      // pipeline dedups per document (documented deviation; dedup never
      // removes a bnode's first appearance so canonical labels are stable)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      trimmed.split("\n", -1).foreach(seen += _)
      seen.toVector
    }
  }

  /** graft error string → refgen outcome + kind. */
  def classify(error: String): (String, String) =
    if (error == null) ("produced", "-")
    else if (error.startsWith("NotFullyParsed")) ("parse_err", "not_fully_parsed")
    else if (error.startsWith("ProduceError")) ("refused", "-")
    else ("parse_err", "parse_error")

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val workDir = Paths.get(if (args.length > 1) args(1) else "/tmp/kgoracle")
    mode match {
      case "dump" => dump(workDir)
      case "emit" => emit(workDir)
      // linking-only regeneration: the two linking oracles depend on no
      // refgen artifacts (their anchored half is the mention triple set,
      // whose parity is asserted by the full emit chain / CI sync spec)
      case "linking" =>
        val outDir = Paths.get("src/main/resources/graft/oracles")
        Files.createDirectories(outDir)
        val spark = org.apache.spark.sql.SparkSession.builder()
          .master("local[8]")
          .config("spark.sql.shuffle.partitions", 8)
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try linkingSqls(spark).toSeq.sortBy(_._1).foreach { case (n, s) =>
          Files.write(outDir.resolve(s"$n.sql"), s.getBytes(StandardCharsets.UTF_8))
          println(f"wrote $n%-22s ${s.length}%9d bytes")
        } finally spark.stop()
      case other  => sys.error(s"unknown mode $other (dump|emit|linking)")
    }
  }

  /** The per-block/per-page pass over the whole synthetic corpus. Always
    * accumulates the graft-derived oracle SQLs; when `refWorkDir` is given,
    * additionally asserts full parity with the reference binary's outputs
    * and derives kg_pred_counts / kg_canonical from the REFERENCE's triples
    * (then requires both derivations byte-identical).
    *
    * Returns (oracle SQL by name, number of parity assertions run). */
  def blockPass(refWorkDir: Option[Path]): (Map[String, String], Long) = {
    val ref = refWorkDir.map(readRefStatus)
    var asserts = 0L

    val predCounts = scala.collection.mutable.HashMap.empty[String, Long]
    val refPredCounts = scala.collection.mutable.HashMap.empty[String, Long]
    val errCounts = scala.collection.mutable.HashMap.empty[String, Long]
    val edges = Vector.newBuilder[(String, String)]
    val refEdges = Vector.newBuilder[(String, String)]
    var blocks, parsed, identical = 0L
    val tripleRows = Vector.newBuilder[Seq[String]] // kg_triples VALUES rows
    val sqlRows = Vector.newBuilder[Seq[String]] // kg_triples_sql VALUES rows

    val SAME_AS_PRED = s"<${PagesSource.SAME_AS}>"
    for (i <- 0L until PAGES) {
      val page = PagesSource.genPage(i)
      val pageBlocks = Extract.extractBlocks(page.html)
      val rows = TripleExtraction.triplesForPage(page).toVector
      val byBlock = rows.groupBy(_.block)
      val rts = TripleExtraction.roundTripForPage(page)

      pageBlocks.indices.foreach { bi =>
        val doc = blockDocName(i, bi)
        val blockRows = byBlock.getOrElse(bi, Vector.empty)
        blocks += 1
        if (rts(bi).parsed) parsed += 1
        if (rts(bi).byte_identical) identical += 1

        val (gOutcome, gKind) =
          if (blockRows.isEmpty) ("produced", "-")
          else classify(blockRows.head.error)

        // graft-derived aggregates
        blockRows.foreach { r =>
          if (r.error == null) {
            predCounts(r.pred) = predCounts.getOrElse(r.pred, 0L) + 1
            if (r.pred == PagesSource.SAME_AS && r.subj_kind == "iri" &&
                r.obj_kind == "iri")
              edges += ((r.subj, r.obj_value))
          } else {
            val cls = r.error.split(":", 2)(0)
            errCounts(cls) = errCounts.getOrElse(cls, 0L) + 1
          }
          tripleRows += Seq(sqlStr(r.url), r.block.toString, sqlStr(r.subj),
            sqlStr(r.subj_kind), sqlStr(r.pred), sqlStr(r.obj_kind),
            sqlStr(r.obj_value), sqlStr(r.obj_datatype), sqlStr(r.obj_lang),
            sqlStr(r.error))
        }

        // reference parity (outcome, error kind, rt flag, triple bytes)
        ref.foreach { refMap =>
          val rs = refMap.getOrElse(doc, sys.error(s"refgen has no status for $doc"))
          require(gOutcome == rs.outcome && (gOutcome != "parse_err" || gKind == rs.kind),
            s"outcome diverged on $doc: graft=($gOutcome,$gKind) ref=(${rs.outcome},${rs.kind})")
          val gRt = if (!rts(bi).parsed) "-"
            else if (rts(bi).byte_identical) "rt_ok" else "RT_FAIL"
          require(gRt == rs.rt, s"roundtrip flag diverged on $doc: graft=$gRt ref=${rs.rt}")
          asserts += 2
          if (gOutcome == "produced") {
            val refLines = readRefLines(refWorkDir.get, doc)
            val canon = new PageCrossCheckGen.Canon
            val gLines = blockRows.filter(_.error == null).map(canon.line)
            require(gLines == refLines,
              s"triples diverged on $doc:\n graft=${gLines.take(3)}\n ref=${refLines.take(3)}")
            asserts += 1
            refLines.foreach { l =>
              val f = l.split("\t")
              val pred = f(1).stripPrefix("<").stripSuffix(">")
              refPredCounts(pred) = refPredCounts.getOrElse(pred, 0L) + 1
              if (f(1) == SAME_AS_PRED && f(0).startsWith("<") && f(2).startsWith("<"))
                refEdges += ((f(0).stripPrefix("<").stripSuffix(">"),
                  f(2).stripPrefix("<").stripSuffix(">")))
            }
          }
        }
      }

      // ---- page-level (parse_turtle_triples SQL path): one doc per page --
      val text = pageBlocks.mkString
      if (text.nonEmpty) {
        val doc = pageDocName(i)
        val sqlPageRows = sqlPathRows(page.url, text)
        sqlPageRows.foreach { r =>
          // LATERAL VIEW (non-OUTER) drops zero-output pages; error rows
          // survive as one row with null triple columns
          sqlRows += Seq(sqlStr(r.url), sqlStr(r.subj), sqlStr(r.subj_kind),
            sqlStr(r.pred), sqlStr(r.obj_kind), sqlStr(r.obj_value),
            sqlStr(r.obj_datatype), sqlStr(r.obj_lang), sqlStr(r.error))
        }
        ref.foreach { refMap =>
          val rs = refMap.getOrElse(doc, sys.error(s"refgen has no status for $doc"))
          val (gOutcome, gKind) =
            if (sqlPageRows.isEmpty) ("produced", "-")
            else classify(sqlPageRows.head.error)
          require(gOutcome == rs.outcome && (gOutcome != "parse_err" || gKind == rs.kind),
            s"page-doc outcome diverged on $doc: graft=($gOutcome,$gKind) ref=(${rs.outcome},${rs.kind})")
          asserts += 1
          if (gOutcome == "produced") {
            val refLines = readRefLines(refWorkDir.get, doc)
            val canon = new PageCrossCheckGen.Canon
            val gLines = sqlPageRows.filter(_.error == null).map(canon.line)
            require(gLines == refLines, s"page-doc triples diverged on $doc")
            asserts += 1
          }
        }
      }
    }

    // when anchored: the graft-derived and reference-derived aggregates
    // must agree exactly (pred counts and the sameAs edge set)
    ref.foreach { _ =>
      require(predCounts == refPredCounts, "pred counts: graft != reference")
      require(edges.result().distinct.sorted == refEdges.result().distinct.sorted,
        "sameAs edge sets: graft != reference")
      asserts += 2
    }

    // components via this file's own union-find over the sameAs edges
    // (when anchored, the edge set is proven identical to the reference's
    // above) — independent of the CC implementation under test
    val canonical = minLabelComponents(edges.result().distinct)

    val tripleCols = Seq("url" -> "VARCHAR", "block" -> "INTEGER",
      "subj" -> "VARCHAR", "subj_kind" -> "VARCHAR", "pred" -> "VARCHAR",
      "obj_kind" -> "VARCHAR", "obj_value" -> "VARCHAR",
      "obj_datatype" -> "VARCHAR", "obj_lang" -> "VARCHAR", "error" -> "VARCHAR")

    val sqls = Map(
      "kg_pred_counts" -> valuesSql(
        Seq("pred" -> "VARCHAR", "n" -> "BIGINT"),
        predCounts.toSeq.sortBy(_._1).map { case (p, n) => Seq(sqlStr(p), n.toString) }),
      "kg_errors" -> valuesSql(
        Seq("error_class" -> "VARCHAR", "n" -> "BIGINT"),
        errCounts.toSeq.sortBy(_._1).map { case (c, n) => Seq(sqlStr(c), n.toString) }),
      "kg_roundtrip" -> valuesSql(
        Seq("blocks" -> "BIGINT", "parsed" -> "BIGINT",
          "identical" -> "BIGINT", "violations" -> "BIGINT"),
        Seq(Seq(blocks.toString, parsed.toString, identical.toString,
          (parsed - identical).toString))),
      "kg_canonical" -> valuesSql(
        Seq("id" -> "VARCHAR", "canonical" -> "VARCHAR"),
        canonical.toSeq.sortBy(_._1).map { case (a, b) => Seq(sqlStr(a), sqlStr(b)) }),
      "kg_triples" -> valuesSql(tripleCols, tripleRows.result()),
      "kg_triples_sql" -> valuesSql(tripleCols.filterNot(_._1 == "block"),
        sqlRows.result()))
    (sqls, asserts)
  }

  def emit(workDir: Path): Unit = {
    val outDir = Paths.get("src/main/resources/graft/oracles")
    Files.createDirectories(outDir)
    def write(name: String, sql: String): Unit = {
      Files.write(outDir.resolve(s"$name.sql"), sql.getBytes(StandardCharsets.UTF_8))
      println(f"wrote $name%-22s ${sql.length}%9d bytes")
    }
    val (sqls, asserts) = blockPass(Some(workDir))
    sqls.toSeq.sortBy(_._1).foreach { case (n, s) => write(n, s) }
    write("kg_turtle_source", turtleSourceSql())
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try linkingSqls(spark).toSeq.sortBy(_._1).foreach { case (n, s) => write(n, s) }
    finally spark.stop()
    println(s"emit complete: $asserts reference-parity assertions passed")
  }

  /** Pure recomputation of the `parse_turtle_triples(text, url)` generator
    * path (TurtleExpressions.scala eval): whole page text as ONE document,
    * bnode labels `_:h<hex(fnv64(url))>_<id>`. */
  def sqlPathRows(url: String, text: String): Vector[Model.TripleRow] = {
    import graft.turtle.{TurtleParser, TripleProducer}
    import graft.turtle.TripleProducer.{TIri, TBnode, TLit}
    val urlHash = PagesSource.fnv64(url)
    def bn(id: Int): String =
      "_:h" + java.lang.Long.toHexString(urlHash) + "_" + id
    def err(msg: String) =
      Vector(Model.TripleRow(url, 0, null, null, null, null, null, null, null, msg))
    TurtleParser.parseFull(text) match {
      case Left(TurtleParser.NotFullyParsed(rest)) =>
        err("NotFullyParsed: " + rest.take(64))
      case Right(ast) =>
        TripleProducer.produce(ast) match {
          case Left(e) => err("ProduceError: " + e.take(128))
          case Right(ts) =>
            ts.distinct.toVector.map { tr =>
              val (s, sk) = tr.subj match {
                case TIri(x)    => (x, "iri")
                case TBnode(id) => (bn(id), "bnode")
                case _          => (null, null)
              }
              val (ok, ov, od, ol) = tr.obj match {
                case TIri(x)       => ("iri", x, null, null)
                case TBnode(id)    => ("bnode", bn(id), null, null)
                case TLit(l, d, g) => ("literal", l, d.orNull, g.orNull)
              }
              Model.TripleRow(url, 0, s, sk, tr.pred, ok, ov, od, ol, null)
            }
        }
    }
  }

  /** kg_turtle_source: every fixture through the V2 source's pure row path,
    * anchored per fixture against the frozen refgen TSVs
    * (tools/refgen/out — the reference binary's own output). */
  def turtleSourceSql(): String = {
    val refOut = Paths.get("tools/refgen/out")
    val rows = Vector.newBuilder[Seq[String]]
    FixtureCorpus.all.foreach { case (name, text) =>
      val flat = name.replace('/', '_')
      val docRows = graft.sources.TurtleDataSource
        .rowsForDocument(flat, text).toVector
      val tsv = refOut.resolve(s"$flat.tsv")
      if (Files.exists(tsv)) {
        // produced fixture: canonical-relabel and compare to the reference
        val refRaw = new String(Files.readAllBytes(tsv), StandardCharsets.UTF_8)
          .stripSuffix("\n")
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        if (refRaw.nonEmpty) refRaw.split("\n", -1).foreach(seen += _)
        val canon = new PageCrossCheckGen.Canon
        val gLines = docRows.filter(_(8) == null).map { r =>
          canon.line(Model.TripleRow(r(0), 0, r(1), r(2), r(3), r(4), r(5),
            r(6), r(7), null))
        }
        require(gLines == seen.toVector,
          s"kg_turtle_source diverged from refgen on $name")
      } else {
        // refusal/parse-error fixture: refgen wrote no TSV; the source must
        // emit exactly one error row
        require(docRows.length == 1 && docRows.head(8) != null,
          s"$name has no refgen TSV but the source produced rows")
      }
      docRows.foreach(r => rows += r.map(sqlStr).toSeq)
    }
    valuesSql(
      Seq("file" -> "VARCHAR", "subj" -> "VARCHAR", "subj_kind" -> "VARCHAR",
        "pred" -> "VARCHAR", "obj_kind" -> "VARCHAR", "obj_value" -> "VARCHAR",
        "obj_datatype" -> "VARCHAR", "obj_lang" -> "VARCHAR",
        "error" -> "VARCHAR"),
      rows.result())
  }

  /** kg_link + kg_entity_mentions (round-4 VERDICT #4 / ADVICE #1: make
    * the linking decisions independently derived, not self-snapshot).
    *
    * The oracle SQL COMPUTES BOTH linking phases inside DuckDB: mentions
    * (VALUES — anchored to the reference's triples via the per-block parity
    * asserts upstream) are normalized (`lower → non-alnum→space → collapse
    * → trim`, re-expressed as DuckDB regexes) and equi-joined against the
    * dictionary (VALUES — a pure driver-side function of the corpus spec,
    * built here WITHOUT Spark) for the exact phase; for the LSH fallback,
    * the oracle computes the ALL-PAIRS char-3-gram Jaccard between every
    * missed norm and every dictionary surface (shingle explode + count
    * join), keeps candidates ≥ JACCARD_THRESHOLD, and picks the
    * (jaccard, entity_iri)-max per norm — the same deterministic decision
    * rule, WITHOUT the MinHash banding. Banding is only a candidate-recall
    * filter, so the two definitions coincide exactly when banding drops no
    * above-threshold candidate; the generator PROVES that for this corpus
    * at emit time (see below) and falls back to pinned VALUES with a
    * warning header if they ever diverge. kg_entity_mentions is a SQL
    * GROUP BY over the same derivation — no pinned counts.
    *
    * Emit-time refusal checks (pure local recomputations, no EntityLinking
    * join involved): the exact rows must match a normalize+dictionary map,
    * and the lsh rows must match the all-pairs Jaccard argmax. Each phase
    * is therefore checked three independent ways: the local recomputation
    * at emit time, the DuckDB derivation at every driver compare, and the
    * Spark plan itself. */
  def linkingSqls(spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    // NOT a filesystem path: the kg_* queries synthesize their corpus and
    // use the sfDir string only as a page-count selector
    // (PagesSource.countForSfDir substring match) — no IO, portable
    val sfDir = "sf0.01"
    val mentionRows = EntityLinking.mentions(
        TripleExtraction.run(PagesSource.pages(spark, PAGES)))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(identity).toVector
    val dictRows = PagesSource.dictionaryLocal
      .sortBy(d => (d.surface, d.entity_iri)).toVector
    val linked = graft.SparkEntry.queries("kg_link")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).sortBy(identity).toVector

    // emit-time independent re-derivation of the exact phase (pure local
    // code, shares only `normalize` with the engine)
    val dictByNorm = dictRows.groupBy(_.surface)
    val exactLocal = mentionRows.flatMap { case (u, s) =>
      dictByNorm.getOrElse(EntityLinking.normalize(s), Vector.empty)
        .map(d => (u, s, d.entity_iri, "exact"))
    }.sortBy(identity)
    require(exactLocal == linked.filter(_._4 == "exact"),
      "Spark kg_link exact-phase rows diverge from the local " +
        "normalize+dictionary recomputation — refusing to emit the oracle")
    val lsh = linked.filter(_._4 == "lsh")

    // emit-time independent re-derivation of the lsh phase WITHOUT banding:
    // all-pairs Jaccard argmax per missed norm (banding is a candidate-
    // recall filter over exactly this decision — if it dropped any above-
    // threshold candidate the two would diverge here)
    val bestByNorm: Map[String, String] = mentionRows.map(_._2).distinct
      .map(EntityLinking.normalize).distinct
      .filterNot(dictByNorm.contains)
      .flatMap { nrm =>
        val nsh = EntityLinking.shingles(nrm)
        val scored = dictRows
          .map(d => (EntityLinking.jaccard(nsh, EntityLinking.shingles(d.surface)),
            d.entity_iri))
          .filter(_._1 >= EntityLinking.JACCARD_THRESHOLD)
        if (scored.isEmpty) Nil else List(nrm -> scored.max._2)
      }.toMap
    val lshLocal = mentionRows.flatMap { case (u, s) =>
      bestByNorm.get(EntityLinking.normalize(s)).map(e => (u, s, e, "lsh"))
    }.sortBy(identity)
    val lshDerivable = lshLocal == lsh
    if (!lshDerivable)
      System.err.println(s"WARNING: banded lsh (${lsh.length} rows) != " +
        s"all-pairs lsh (${lshLocal.length} rows) — emitting pinned VALUES " +
        "for the lsh phase instead of the DuckDB derivation")

    val mentionsValues = valuesSql(
      Seq("url" -> "VARCHAR", "surface" -> "VARCHAR"),
      mentionRows.map { case (u, s) => Seq(sqlStr(u), sqlStr(s)) })
    val dictValues = valuesSql(
      Seq("surface" -> "VARCHAR", "entity_iri" -> "VARCHAR"),
      dictRows.map(d => Seq(sqlStr(d.surface), sqlStr(d.entity_iri))))
    // EntityLinking.normalize for the synthetic (ASCII) surface vocabulary:
    // lower, every non-alphanumeric run → one space, trim the ends
    val normExpr =
      "trim(regexp_replace(lower(m.surface), '[^a-z0-9]+', ' ', 'g'))"
    // char-3-gram shingle set of a pre-normalized string s in a table t:
    // one row per DISTINCT shingle (Jaccard is over SETS); norms of length
    // <= 3 shingle as the single whole string (EntityLinking.shingles)
    def shingleCte(t: String, col: String): String =
      s"""SELECT $col, CASE WHEN length($col) <= 3 THEN $col
         |            ELSE substr($col, CAST(i AS INT), 3) END AS sh
         |FROM (SELECT $col,
         |      unnest(generate_series(1, greatest(length($col) - 2, 1))) AS i
         |      FROM $t)
         |GROUP BY 1, 2""".stripMargin
    val lshCte =
      if (lshDerivable)
        s"""-- all-pairs 3-gram Jaccard >= ${EntityLinking.JACCARD_THRESHOLD}, argmax by (jaccard, entity_iri):
           |-- equal to graft's banded-MinHash fallback because banding is pure candidate
           |-- recall and (verified at generation) drops no above-threshold candidate here
           |miss_norms AS (
           |SELECT DISTINCT norm FROM normed
           |WHERE norm NOT IN (SELECT surface FROM dict)
           |),
           |miss_sh AS (${shingleCte("miss_norms", "norm")}),
           |miss_n AS (SELECT norm, count(*) AS nsh FROM miss_sh GROUP BY norm),
           |dict_surf AS (SELECT DISTINCT surface FROM dict),
           |dict_sh AS (${shingleCte("dict_surf", "surface")}),
           |dict_n AS (SELECT surface, count(*) AS nsh FROM dict_sh GROUP BY surface),
           |scored AS (
           |SELECT i.norm, dd.entity_iri,
           |       CAST(i.ni AS DOUBLE) / (mn.nsh + dn.nsh - i.ni) AS jac
           |FROM (SELECT m.norm, d.surface AS dsurf, count(*) AS ni
           |      FROM miss_sh m JOIN dict_sh d ON m.sh = d.sh
           |      GROUP BY 1, 2) i
           |JOIN miss_n mn ON mn.norm = i.norm
           |JOIN dict_n dn ON dn.surface = i.dsurf
           |JOIN dict dd ON dd.surface = i.dsurf
           |WHERE CAST(i.ni AS DOUBLE) / (mn.nsh + dn.nsh - i.ni) >= ${EntityLinking.JACCARD_THRESHOLD}
           |),
           |best AS (
           |SELECT norm, entity_iri FROM (
           |SELECT norm, entity_iri,
           |       row_number() OVER (PARTITION BY norm ORDER BY jac DESC, entity_iri DESC) AS rk
           |FROM scored) WHERE rk = 1
           |),
           |lsh AS (
           |SELECT n.url, n.surface, b.entity_iri, CAST('lsh' AS VARCHAR) AS method
           |FROM normed n JOIN best b ON n.norm = b.norm
           |)""".stripMargin
      else if (lsh.isEmpty)
        """lsh AS (
          |SELECT CAST(NULL AS VARCHAR) AS url, CAST(NULL AS VARCHAR) AS surface,
          |CAST(NULL AS VARCHAR) AS entity_iri, CAST(NULL AS VARCHAR) AS method WHERE false
          |)""".stripMargin
      else "lsh AS (" + valuesSql(
        Seq("url" -> "VARCHAR", "surface" -> "VARCHAR",
          "entity_iri" -> "VARCHAR", "method" -> "VARCHAR"),
        lsh.map { case (u, s, e, m) =>
          Seq(sqlStr(u), sqlStr(s), sqlStr(e), sqlStr(m)) }) + ")"
    val header =
      if (lshDerivable)
        """-- FULLY DERIVED linking oracle: mentions are anchored to the reference's
          |-- triples upstream (KgOracleGen per-block parity), the dictionary is a pure
          |-- function of the corpus spec, and DuckDB computes BOTH phases — the exact
          |-- equi-join on the normalization lower + non-alnum-runs→space + trim, and
          |-- the lsh fallback as all-pairs 3-gram Jaccard argmax (banding verified
          |-- lossless on this corpus at generation). No self-snapshot rows.
          |""".stripMargin
      else
        """-- exact-method rows are DERIVED here (mentions × dictionary join on the
          |-- normalization lower + non-alnum-runs→space + trim); mentions are anchored
          |-- to the reference's triples upstream (KgOracleGen per-block parity), the
          |-- dictionary is a pure function of the corpus spec. The lsh CTE is a
          |-- pinned snapshot: on THIS corpus the banded fallback diverged from the
          |-- all-pairs Jaccard decision at generation time (banding dropped an
          |-- above-threshold candidate), so no independent SQL derivation exists.
          |""".stripMargin
    val linkedCte =
      s"""WITH mentions AS ($mentionsValues),
         |dict AS ($dictValues),
         |normed AS (
         |SELECT m.url, m.surface, $normExpr AS norm FROM mentions m
         |),
         |$lshCte,
         |linked AS (
         |SELECT n.url AS url, n.surface AS surface, d.entity_iri AS entity_iri,
         |       CAST('exact' AS VARCHAR) AS method
         |FROM normed n JOIN dict d ON n.norm = d.surface
         |UNION ALL
         |SELECT url, surface, entity_iri, method FROM lsh
         |)""".stripMargin
    Map(
      "kg_link" -> (header + linkedCte + "\nSELECT * FROM linked"),
      "kg_entity_mentions" -> (header + linkedCte +
        "\nSELECT entity_iri, CAST(count(*) AS BIGINT) AS n FROM linked GROUP BY entity_iri"))
  }
}
