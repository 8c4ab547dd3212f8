package graft.turtle

import TripleProducer.{TBnode, TIri, TLit}

/** Turtle text → flat triple rows: the one encoding behind every row-level
  * surface (the KG pipeline's extraction, the `parse_turtle_triples` SQL
  * generator, the `turtle` data source).
  *
  * A document yields either its distinct produced triples, each flattened to
  * `(subj, subj_kind, pred, obj_kind, obj_value, obj_datatype, obj_lang)`
  * with kinds `iri` / `bnode` / `literal`, or exactly one error message:
  * `NotFullyParsed: ` plus the first 64 chars of the unparsed remainder, or
  * `ProduceError: ` plus the first 128 chars of the producer's message.
  * Triples are deduplicated within the document, in memory; duplicates
  * across documents are kept.
  *
  * The caller decides the blank-node label rule (`bnode(id)`, where `id` is
  * the producer's per-document traversal sequence) and builds its own row
  * type from the flat columns (`row`) or the error message (`error`). */
object TripleRows {

  def encode[R](text: String, bnode: Int => String)(
      row: (String, String, String, String, String, String, String) => R,
      error: String => R): Iterator[R] =
    TurtleParser.parseFull(text) match {
      case Left(TurtleParser.NotFullyParsed(rest)) =>
        Iterator.single(error("NotFullyParsed: " + rest.take(64)))
      case Right(doc) =>
        TripleProducer.produce(doc) match {
          case Left(err) => Iterator.single(error("ProduceError: " + err.take(128)))
          case Right(ts) =>
            ts.distinct.iterator.map { t =>
              val (s, sk) = t.subj match {
                case TIri(i)    => (i, "iri")
                case TBnode(id) => (bnode(id), "bnode")
                case _: TLit    => (null, null) // the producer never emits one
              }
              val (ok, ov, od, ol) = t.obj match {
                case TIri(i)       => ("iri", i, null, null)
                case TBnode(id)    => ("bnode", bnode(id), null, null)
                case TLit(l, d, g) => ("literal", l, d.orNull, g.orNull)
              }
              row(s, sk, t.pred, ok, ov, od, ol)
            }
        }
    }
}
