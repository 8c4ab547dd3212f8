package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import graft.turtle.TripleRows

/** DataSource V2 reader for Turtle documents:
  * `spark.read.format("turtle").load("/path/to/dir-or-file.ttl")` yields one
  * row per produced RDF triple (plus error rows for malformed documents),
  * with the source file as provenance.
  *
  * One input partition per file — a Turtle document is the indivisible parse
  * unit (the grammar's prefix/base directives are document-scoped, so a file
  * cannot be split). For corpora of many files this parallelizes across the
  * cluster like any file source.
  *
  * Memory bound: because a file cannot be split, a multi-GB .ttl would
  * otherwise become one executor's whole heap. Files larger than the
  * `maxBytes` option (default [[TurtleDataSource.DEFAULT_MAX_BYTES]]) yield a
  * single `FileTooLarge: …` error row instead — error-as-data, the same
  * contract as parse failures (no task failure, no OOM kill).
  *
  * The source is read-only: `df.write.format("turtle")` falls back to the
  * V1 write path (the table has no BATCH_WRITE), whose [[createRelation]]
  * refuses by name instead of failing with an internal error.
  */
class TurtleDataSource extends TableProvider with CreatableRelationProvider
    with DataSourceRegister {
  override def shortName(): String = "turtle"

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation =
    throw new UnsupportedOperationException(
      "the turtle source is read-only: df.write.format(\"turtle\") is not supported")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TurtleDataSource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new TurtleTable(
      Option(opts.get("path")).getOrElse(
        throw new IllegalArgumentException("turtle source requires a path")),
      opts.getLong("maxBytes", TurtleDataSource.DEFAULT_MAX_BYTES))
  }
}

object TurtleDataSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("subj", StringType),
    StructField("subj_kind", StringType),
    StructField("pred", StringType),
    StructField("obj_kind", StringType),
    StructField("obj_value", StringType),
    StructField("obj_datatype", StringType),
    StructField("obj_lang", StringType),
    StructField("error", StringType)))

  /** Sorted `.ttl` files under `root` (or `root` itself when it is a file),
    * listed through the Hadoop FileSystem API so the source works on any
    * Spark-supported file system (local, HDFS, S3A, ...), not just the
    * driver's local disk. Paths with a `_`- or `.`-prefixed segment below
    * the root are skipped: Spark's hidden-file convention for metadata and
    * staging directories. */
  def listTtlFiles(root: String, conf: Configuration): Seq[String] = {
    val path = new Path(root)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Seq.empty
    else if (fs.getFileStatus(path).isFile) Seq(path.toString)
    else {
      val qualRoot = fs.makeQualified(path)
      val out = Vector.newBuilder[String]
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".ttl") &&
            !hiddenUnder(f.getPath, qualRoot))
          out += f.getPath.toString
      }
      out.result().sorted
    }
  }

  /** True if any path segment strictly below `root` (the file name included)
    * starts with `_` or `.`. */
  private def hiddenUnder(p: Path, root: Path): Boolean = {
    var cur = p
    while (cur != null && cur != root && cur.toString.length > root.toString.length) {
      val n = cur.getName
      if (n.startsWith("_") || n.startsWith(".")) return true
      cur = cur.getParent
    }
    false
  }

  /** Default per-file size gate (bytes). 64 MiB of Turtle is already ~10^6
    * statements in one indivisible parse unit; anything larger is almost
    * certainly a concatenated dump that should be split upstream. */
  val DEFAULT_MAX_BYTES: Long = 64L * 1024 * 1024

  /** Pure per-document row set — shared by the partition reader, the oracle
    * generator, and tests. Returns 9-slot arrays matching [[SCHEMA]]
    * (`file, subj, subj_kind, pred, obj_kind, obj_value, obj_datatype,
    * obj_lang, error`).
    *
    * Blank-node labels are `_:h<hex(fnv64(document text))>_<allocation id>`:
    * hashing the CONTENT (not the path) keeps labels location-independent
    * (the same document yields the same labels wherever it is stored —
    * re-reads after a move/copy stay joinable) while remaining globally
    * unique per distinct document; provenance stays in the `file` column.
    *
    * CONFLATION HAZARD (the deliberate trade of content-hashing): two
    * DIFFERENT files with byte-identical text get IDENTICAL bnode labels,
    * so a cross-file join/aggregation over `subj`/`obj_value` merges their
    * blank nodes — strict RDF graph-merge semantics instead require blank
    * nodes of separate documents to be standardized apart. Duplicate
    * documents are near-universally dedup targets in this engine's
    * pipelines (their triples are identical rows anyway), so the joinable
    * labels are usually what you want; where strict standardize-apart
    * semantics matter, disambiguate with the `file` column — e.g. group or
    * join on `(file, subj)` for bnode-kind rows — or dedup files upstream.
    */
  def rowsForDocument(file: String, text: String): Iterator[Array[String]] = {
    val contentHash = graft.kg.PagesSource.fnv64(text)
    TripleRows.encode(text,
        id => "_:h" + java.lang.Long.toHexString(contentHash) + "_" + id)(
      (s, sk, p, ok, ov, od, ol) => Array(file, s, sk, p, ok, ov, od, ol, null),
      msg => Array(file, null, null, null, null, null, null, null, msg))
  }
}

private class TurtleTable(path: String, maxBytes: Long)
    extends Table with SupportsRead {
  override def name(): String = s"turtle($path)"
  override def schema(): StructType = TurtleDataSource.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new TurtleScan(path, maxBytes)
}

/** Driver side of a read: lists the files and hands the executors the
  * session's Hadoop conf (`spark.hadoop.*` settings included), the same
  * conf the listing used. */
private class TurtleScan(path: String, maxBytes: Long) extends Scan with Batch {
  private val spark = SparkSession.active
  private val hadoopConf = spark.sessionState.newHadoopConf()
  override def readSchema(): StructType = TurtleDataSource.SCHEMA
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    TurtleDataSource.listTtlFiles(path, hadoopConf)
      .map(f => TurtleFilePartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new TurtleReaderFactory(maxBytes,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)))
}

private case class TurtleFilePartition(file: String) extends InputPartition

private class TurtleReaderFactory(maxBytes: Long,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TurtleFileReader(partition.asInstanceOf[TurtleFilePartition].file,
      maxBytes, conf.value.value)
}

private class TurtleFileReader(file: String, maxBytes: Long, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def toInternal(r: Array[String]): InternalRow =
    new GenericInternalRow(r.map(u(_): Any))

  private val rows: Iterator[InternalRow] = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val size = fs.getFileStatus(path).getLen
    if (size > maxBytes) {
      // size gate BEFORE the read: an unsplittable oversized document must
      // not be slurped into one executor's heap. Error-as-data, like every
      // other malformed input in this source.
      Iterator.single(toInternal(Array(file, null, null, null, null, null,
        null, null, s"FileTooLarge: $size bytes > maxBytes=$maxBytes")))
    } else {
      val in = fs.open(path)
      val text =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      TurtleDataSource.rowsForDocument(file, text).map(toInternal)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

