package graft.sources.dsv2

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util
import scala.jdk.CollectionConverters._

/** S1 as a DataSource V2 table with real filter pushdown (SURVEY §4's
  * optional item): a partition-parallel object-store LISTING source —
  * rows are (path, length, modificationTime), never file contents.
  *
  * Scale shape: the root's first-level entries become input partitions
  * (one executor task per subtree), so enumerating a 100 TB bucket
  * fans out instead of looping on the driver like the reference's
  * `list_objects_v2` pagination (`s3-discovery/handler.py:32-83`).
  * String predicates on `path` (startsWith / endsWith / contains) push
  * into the enumerator and drop entries before they ever become rows.
  *
  * How a subtree is enumerated depends on its file system
  * ([[ListingReader.leafFiles]]). On local (`file:`) paths it is
  * walked with one `FileSystem.listStatus` per directory:
  * `listFiles(dir, recursive = true)` builds a `LocatedFileStatus` per
  * file, whose constructor reads the file's permission, and without
  * libhadoop `RawLocalFileSystem` answers that by forking `ls -ld` once
  * per file — a 1,000-file subtree takes seconds where the walk takes
  * milliseconds. `listStatus` on the checksummed local file system
  * hides `.crc` sidecars exactly as `listFiles` does. Every other
  * scheme keeps `listFiles`: on object stores such as S3A it is one
  * flat paged LIST (about 1,000 keys a request) where a walk would
  * send one LIST per pseudo-directory.
  *
  * Usage: `spark.read.format("graft-listing").load(rootPath)`.
  */
class ListingSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-listing"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ListingSource.schema

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ListingTable(properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("graft-listing requires a path")))
}

object ListingSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("modificationTime", TimestampType, nullable = false)))

  /** Pushable path predicates → a serializable matcher. */
  def matcher(filters: Array[Filter]): String => Boolean = {
    val preds = filters.toSeq.collect {
      case StringStartsWith("path", v) => (p: String) => p.startsWith(v)
      case StringEndsWith("path", v) => (p: String) => p.endsWith(v)
      case StringContains("path", v) => (p: String) => p.contains(v)
    }
    p => preds.forall(_(p))
  }

  def isPushable(f: Filter): Boolean = f match {
    case StringStartsWith("path", _) | StringEndsWith("path", _) |
         StringContains("path", _) => true
    case _ => false
  }

  /** Supported pushed aggregate shapes over the listing columns. */
  def toListingAgg(f: org.apache.spark.sql.connector.expressions
      .aggregate.AggregateFunc): Option[ListingAgg] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    f match {
      case _: CountStar => Some(ListingAgg("count", ""))
      case m: Min => fieldOf(m.column)
        .filter(c => c == "length" || c == "modificationTime")
        .map(ListingAgg("min", _))
      case m: Max => fieldOf(m.column)
        .filter(c => c == "length" || c == "modificationTime")
        .map(ListingAgg("max", _))
      case s: Sum => fieldOf(s.column).filter(_ == "length")
        .map(ListingAgg("sum", _))
      case _ => None
    }
  }

  def aggField(a: ListingAgg): StructField = a match {
    case ListingAgg("count", _) => StructField("count", LongType, false)
    case ListingAgg(op, "modificationTime") =>
      StructField(s"$op(modificationTime)", TimestampType, true)
    case ListingAgg(op, c) => StructField(s"$op($c)", LongType, true)
  }
}

/** One pushed aggregate: `op` ∈ count/min/max/sum over a listing col. */
case class ListingAgg(op: String, colName: String)

class ListingTable(root: String) extends Table with SupportsRead {
  override def name(): String = s"graft-listing($root)"
  override def schema(): StructType = ListingSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ListingScanBuilder(root)
}

class ListingScanBuilder(root: String)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var aggSpec: Seq[ListingAgg] = Nil

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(ListingSource.isPushable)
    pushed = accepted
    rejected // Spark re-applies these above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown (`supportCompletePushDown` stays
    * false): each input partition answers count/sum/min/max from the
    * file statuses it was going to enumerate anyway — one row per
    * subtree instead of one per object — and Spark's final
    * aggregation merges the partials, so multi-partition semantics
    * are exact. All-or-nothing: one unsupported function rejects the
    * whole aggregation (Spark then aggregates scan rows normally). */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty) return false
    val specs = aggregation.aggregateExpressions.toSeq
      .map(ListingSource.toListingAgg)
    if (specs.exists(_.isEmpty)) false
    else { aggSpec = specs.flatten; true }
  }

  override def build(): Scan =
    if (aggSpec.nonEmpty) new ListingAggScan(root, pushed, aggSpec)
    else new ListingScan(root, pushed)
}

case class ListingPartition(dir: String, recursive: Boolean)
  extends InputPartition

class ListingScan(root: String, pushed: Array[Filter])
  extends Scan with Batch {

  override def readSchema(): StructType = ListingSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-listing root=$root PushedFilters=[${pushed.mkString(", ")}]"

  /** One partition per first-level subtree + one for root-level
    * files. Pushed `StringStartsWith(path, prefix)` filters prune
    * whole SUBTREES here — a prefix filter that can never match
    * under a subtree must skip its recursive listing entirely, not
    * enumerate it and discard every entry row-by-row (at 100 TB the
    * listing IS the cost). A subtree survives when its directory
    * path is prefix-compatible with the filter value: either the
    * value extends the dir (the filtered region lives inside) or the
    * dir extends the value (the whole subtree matches). */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefixes = pushed.collect {
      case org.apache.spark.sql.sources.StringStartsWith("path", v) => v
    }
    def subtreeCanMatch(dir: String): Boolean = {
      val d = dir.stripSuffix("/") + "/"
      prefixes.forall(v => v.startsWith(d) || d.startsWith(v))
    }
    val entries = fs.listStatus(p)
    val subdirs = entries.filter(_.isDirectory)
      .filter(d => subtreeCanMatch(d.getPath.toString))
      .map(d => ListingPartition(d.getPath.toString, recursive = true))
    (subdirs :+ ListingPartition(root, recursive = false))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    new ListingReaderFactory(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      pushed)
  }
}

/** Aggregate-pushdown scan: same partition planning as [[ListingScan]],
  * but each partition emits ONE partial-aggregate row computed while
  * streaming its file statuses — a bucket-wide `count(*)`/`sum(length)`
  * ships one row per subtree to the driver-side final merge instead of
  * one row per object. */
class ListingAggScan(root: String, pushed: Array[Filter],
                     aggs: Seq[ListingAgg]) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(aggs.map(ListingSource.aggField))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-listing root=$root PushedFilters=[${pushed.mkString(", ")}] " +
      s"PushedAggregates=[${aggs.map(a => s"${a.op}(${a.colName})")
        .mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    new ListingScan(root, pushed).planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    new ListingAggReaderFactory(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      pushed, aggs)
  }
}

class ListingAggReaderFactory(conf: SerializableConfiguration,
                              pushed: Array[Filter],
                              aggs: Seq[ListingAgg])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val inner = new ListingReader(partition.asInstanceOf[ListingPartition],
      conf, ListingSource.matcher(pushed))
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (done) return false
        var n = 0L; var sum = 0L
        var minLen = Long.MaxValue; var maxLen = Long.MinValue
        var minMod = Long.MaxValue; var maxMod = Long.MinValue
        while (inner.next()) {
          val r = inner.get()
          val len = r.getLong(1); val mod = r.getLong(2)
          n += 1; sum += len
          if (len < minLen) minLen = len
          if (len > maxLen) maxLen = len
          if (mod < minMod) minMod = mod
          if (mod > maxMod) maxMod = mod
        }
        // empty partition: count 0, everything else SQL-null so the
        // final merge keeps exact aggregate semantics
        val vs: Seq[Any] = aggs.map {
          case ListingAgg("count", _) => n
          case _ if n == 0 => null
          case ListingAgg("sum", _) => sum
          case ListingAgg("min", "length") => minLen
          case ListingAgg("max", "length") => maxLen
          case ListingAgg("min", "modificationTime") => minMod
          case ListingAgg("max", "modificationTime") => maxMod
          case a => throw new IllegalStateException(s"unexpected $a")
        }
        row = InternalRow.fromSeq(vs)
        done = true
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = inner.close()
    }
  }
}

class ListingReaderFactory(conf: SerializableConfiguration,
                           pushed: Array[Filter])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val lp = partition.asInstanceOf[ListingPartition]
    new ListingReader(lp, conf, ListingSource.matcher(pushed))
  }
}

class ListingReader(part: ListingPartition,
                    conf: SerializableConfiguration,
                    keep: String => Boolean)
  extends PartitionReader[InternalRow] {

  private val path = new Path(part.dir)
  private val fs = path.getFileSystem(conf.value)
  private val iter: Iterator[FileStatus] =
    if (part.recursive) ListingReader.leafFiles(fs, path)
    // root partition: only direct (non-dir) children — subtrees are
    // other partitions
    else fs.listStatus(path).iterator.filter(_.isFile)

  private var current: InternalRow = _

  override def next(): Boolean = {
    current = null
    while (current == null && iter.hasNext) {
      val s = iter.next()
      val p = s.getPath.toString
      if (s.isFile && keep(p))
        current = InternalRow(UTF8String.fromString(p), s.getLen,
          s.getModificationTime * 1000L)
    }
    current != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object ListingReader {

  /** Every file under `dir`, recursively — the entries of
    * `fs.listFiles(dir, true)`. Local (`file:`) paths take a lazy
    * depth-first walk with one `listStatus` per directory, which builds
    * no per-file `LocatedFileStatus` (see [[ListingSource]]); other
    * schemes keep `listFiles`, the flat paged listing object stores
    * answer best. */
  def leafFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    if (fs.getScheme == "file") walk(fs, dir)
    else {
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
    }

  private def walk(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator.flatMap(s =>
      if (s.isDirectory) walk(fs, s.getPath) else Iterator.single(s))
}
