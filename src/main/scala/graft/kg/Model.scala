package graft.kg

import java.sql.Timestamp

/** Row types of the KG-construction pipeline (BASELINE.json input_hint +
  * SURVEY.md §1.4 Spark mapping). Flat columnar shapes — no sum types cross a
  * stage boundary; ASTs live only inside mapPartitions closures. */
object Model {

  /** Input table: Common-Crawl-style web page (input_hint schema). */
  final case class Page(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  /** One RDF triple with provenance, or an error row (subj null, error set).
    * Blank nodes are rendered `_:h<urlhash>b<block>_<seq>` — deterministic
    * per (url, block, traversal order), safe under task retries
    * (SURVEY.md §1.4: never a global counter). */
  final case class TripleRow(
      url: String,
      block: Int,
      subj: String,
      subj_kind: String, // iri | bnode
      pred: String,
      obj_kind: String, // iri | bnode | literal
      obj_value: String,
      obj_datatype: String, // null for iri/bnode objects
      obj_lang: String, // null unless language-tagged literal
      error: String) // null on success rows

  /** Round-trip audit row: per extracted block, was render(parse(b)) == b. */
  final case class RoundTrip(
      url: String,
      block: Int,
      parsed: Boolean,
      byte_identical: Boolean)

  /** Dictionary entry for entity linking (broadcast side). */
  final case class DictEntry(surface: String, entity_iri: String)
}
