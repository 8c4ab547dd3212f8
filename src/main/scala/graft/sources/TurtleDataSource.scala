package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

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
  */
class TurtleDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "turtle"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TurtleDataSource.SCHEMA

  // writes carry the query's own schema (the sink resolves its required
  // columns by name and ignores extras like url/block/error)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = properties.asScala
    new TurtleTable(
      opts.getOrElse("path",
        throw new IllegalArgumentException("turtle source requires a path")),
      opts.get("maxbytes").orElse(opts.get("maxBytes")).map(_.toLong)
        .getOrElse(TurtleDataSource.DEFAULT_MAX_BYTES),
      opts.get("minagems").orElse(opts.get("minAgeMs")).map(_.toLong)
        .getOrElse(0L),
      opts.get("compacttail").orElse(opts.get("compactTail")).map(_.toInt)
        .getOrElse(TurtleMicroBatchStream.DEFAULT_COMPACT_TAIL),
      opts.get("fullrescanevery").orElse(opts.get("fullRescanEvery")).map(_.toInt)
        .getOrElse(TurtleMicroBatchStream.DEFAULT_FULL_RESCAN_EVERY),
      schema)
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

  /** List .ttl files via the Hadoop FileSystem API so the source works on
    * any Spark-supported filesystem (local, HDFS, S3A, ...), not just the
    * driver's local disk. */
  def listTtlFiles(root: String): Seq[String] = listTtlFiles(root, 0L)

  /** `minAgeMs > 0` skips files modified within the last `minAgeMs` — the
    * grace window for producers that copy into the landing dir
    * non-atomically (a file picked up mid-copy would parse truncated AND
    * be permanently marked seen by the streaming offset). Producers that
    * write-then-rename atomically (the usual landing protocol, and what
    * Spark's own file sources require) can leave this 0.
    *
    * Paths with a `_`- or `.`-prefixed segment under the root are skipped
    * (Spark's hidden-file convention) — in particular the sink's
    * `_temporary/<jobTag>/` staging area, so a concurrent write's staged
    * files are never read (and never half-read mid-job). */
  def listTtlFiles(root: String, minAgeMs: Long): Seq[String] =
    listTtlFilesSince(root, minAgeMs, Long.MinValue)._1.sorted

  /** Incremental listing for the streaming source's mtime watermark
    * (round-6 VERDICT #4): accepts visible `.ttl` files with modification
    * time in `[mtimeFloor, now - minAgeMs]` and returns (accepted paths,
    * unsorted; max accepted mtime; count of entries that paid per-entry
    * processing). Directory ENUMERATION is inherently O(entries) on a flat
    * landing dir — FileStreamSource parity — but entries below the floor
    * are skipped with a single timestamp compare before any name
    * qualification, string retention, or set work, so the per-trigger
    * processing cost is O(new arrivals + floor ties), not O(lifetime
    * files). `mtimeFloor = Long.MinValue` lists everything (full rescan). */
  def listTtlFilesSince(root: String, minAgeMs: Long, mtimeFloor: Long)
      : (Seq[String], Long, Int) = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) return (Seq.empty, Long.MinValue, 0)
    val cutoff =
      if (minAgeMs <= 0) Long.MaxValue else System.currentTimeMillis() - minAgeMs
    val status = fs.getFileStatus(path)
    if (status.isFile) (Seq(path.toString), status.getModificationTime, 1)
    else {
      val qualRoot = fs.makeQualified(path)
      val out = Vector.newBuilder[String]
      var maxMtime = Long.MinValue
      var processed = 0
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        val m = f.getModificationTime
        if (m >= mtimeFloor) { // floor compare FIRST: old entries cost 1 branch
          processed += 1
          if (f.isFile && f.getPath.getName.endsWith(".ttl") &&
              m <= cutoff && !hiddenUnder(f.getPath, qualRoot)) {
            out += f.getPath.toString
            if (m > maxMtime) maxMtime = m
          }
        }
      }
      (out.result(), maxMtime, processed)
    }
  }

  /** True if any path segment strictly below `root` (the file name included)
    * starts with `_` or `.` — Spark's convention for metadata/staging. */
  private[sources] def hiddenUnder(p: org.apache.hadoop.fs.Path,
      root: org.apache.hadoop.fs.Path): Boolean = {
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

private class TurtleTable(path: String, maxBytes: Long, minAgeMs: Long,
    compactTail: Int, fullRescanEvery: Int, tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"turtle($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // supportsExternalMetadata=true exists for the WRITE path (the sink
    // resolves its columns from the query schema); the reader always emits
    // the fixed triple schema, so a user-supplied read schema must refuse
    // loudly here rather than misbind columns at runtime
    require(tableSchema == TurtleDataSource.SCHEMA,
      "the turtle READER does not support user-specified schemas; " +
        "read the fixed triple schema and select/cast from it")
    new TurtleScanBuilder(path, maxBytes, minAgeMs, compactTail, fullRescanEvery)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new TurtleWriteBuilder(path, info)
}

private class TurtleScanBuilder(path: String, maxBytes: Long,
    minAgeMs: Long = 0L,
    compactTail: Int = TurtleMicroBatchStream.DEFAULT_COMPACT_TAIL,
    fullRescanEvery: Int = TurtleMicroBatchStream.DEFAULT_FULL_RESCAN_EVERY)
    extends ScanBuilder {
  override def build(): Scan =
    new TurtleScan(path, maxBytes, minAgeMs, compactTail, fullRescanEvery)
}

private class TurtleScan(path: String, maxBytes: Long, minAgeMs: Long = 0L,
    compactTail: Int = TurtleMicroBatchStream.DEFAULT_COMPACT_TAIL,
    fullRescanEvery: Int = TurtleMicroBatchStream.DEFAULT_FULL_RESCAN_EVERY)
    extends Scan with Batch {
  override def readSchema(): StructType = TurtleDataSource.SCHEMA
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // offsets resolve against the compacting seen-files registry kept
    // under <checkpointLocation>/graft-registry (see TurtleMicroBatchStream)
    new TurtleMicroBatchStream(path, maxBytes, minAgeMs, checkpointLocation,
      compactTail, fullRescanEvery)
  override def planInputPartitions(): Array[InputPartition] =
    TurtleDataSource.listTtlFiles(path)
      .map(f => TurtleFilePartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new TurtleReaderFactory(maxBytes)
}

private case class TurtleFilePartition(file: String) extends InputPartition

private class TurtleReaderFactory(maxBytes: Long) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TurtleFileReader(partition.asInstanceOf[TurtleFilePartition].file, maxBytes)
}

private class TurtleFileReader(file: String, maxBytes: Long)
    extends PartitionReader[InternalRow] {
  private def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def toInternal(r: Array[String]): InternalRow =
    new GenericInternalRow(r.map(u(_): Any))

  private val rows: Iterator[InternalRow] = {
    // executor-side read through the Hadoop FS API (new Configuration picks
    // up the cluster's core-site/hdfs-site from the classpath)
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val size = fs.getFileStatus(path).getLen
    if (size > maxBytes) {
      // size gate BEFORE the read: an unsplittable oversized document must
      // not be slurped into one executor's heap. Error-as-data, like every
      // other malformed input in this source.
      Iterator.single(toInternal(Array(file, null, null, null, null, null,
        null, null, s"FileTooLarge: $size bytes > maxBytes=$maxBytes")))
    } else {
      val text = {
        val in = fs.open(path)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](64 * 1024)
          var nRead = in.read(tmp)
          while (nRead >= 0) { buf.write(tmp, 0, nRead); nRead = in.read(tmp) }
          new String(buf.toByteArray, StandardCharsets.UTF_8)
        } finally in.close()
      }
      TurtleDataSource.rowsForDocument(file, text).map(toInternal)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

