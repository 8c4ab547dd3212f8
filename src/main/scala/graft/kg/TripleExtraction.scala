package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.turtle.{TripleRows, TurtleParser, TurtleSerializer}
import Model._

/** Parse + triple-produce stage: `Dataset[Page] → Dataset[TripleRow]`
  * (SURVEY.md §2.3 T1-T9 as one typed flatMap — embarrassingly parallel per
  * document, no shuffle, document-scoped state lives in local variables).
  *
  * Error semantics as data (SURVEY.md §7 "hard parts"): a poison document
  * yields an error row, never a task failure. Blank-node ids are derived from
  * (url-hash, block index, traversal sequence) — deterministic under retries.
  */
object TripleExtraction {

  /** Blank-node label, unique per (page, block). */
  private def bnodeLabel(urlHash: Long, block: Int, id: Int): String =
    "_:h" + java.lang.Long.toHexString(urlHash) + "b" + block + "_" + id

  def triplesForPage(page: Page): Iterator[TripleRow] = {
    val blocks = Extract.extractBlocks(page.html)
    val urlHash = PagesSource.fnv64(page.url)
    blocks.iterator.zipWithIndex.flatMap { case (block, bi) =>
      TripleRows.encode(block, bnodeLabel(urlHash, bi, _))(
        TripleRow(page.url, bi, _, _, _, _, _, _, _, null),
        TripleRow(page.url, bi, null, null, null, null, null, null, null, _))
    }
  }

  def run(pages: Dataset[Page]): Dataset[TripleRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap(triplesForPage _)
  }

  /** Per-page body of [[roundTrip]] (pure — reused by the fuzz harness). */
  def roundTripForPage(page: Page): Vector[RoundTrip] =
    Extract.extractBlocks(page.html).zipWithIndex.map {
      case (block, bi) =>
        TurtleParser.parseFull(block) match {
          case Right(doc) =>
            RoundTrip(page.url, bi, parsed = true,
              byte_identical = TurtleSerializer.render(doc) == block)
          case Left(_) => RoundTrip(page.url, bi, parsed = false, byte_identical = false)
        }
    }

  /** Round-trip audit (the north-star byte-identity gate, per block). */
  def roundTrip(pages: Dataset[Page]): Dataset[RoundTrip] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap(roundTripForPage _)
  }
}
