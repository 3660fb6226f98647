package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.seqfile._

/** Scan builder with column pruning — the connector-level optimization the
  * reference cannot do (it always decodes both columns, reference:
  * Parser.hs:109-110): a keys-only query never snappy-decompresses the value
  * buffers, and a bare count() decompresses nothing at all — plus partition
  * pruning: filters over hive-style `k=v` directory columns skip whole
  * files at planning time (the "free from Spark's file index" assumption in
  * SURVEY §4 does NOT hold for a custom DSv2 connector; this supplies it). */
class SeqFileScanBuilder(tableSchema: StructType, paths: Seq[String],
                         options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var partFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var keyFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggScan: Option[SeqFileAggScan] = None

  /** The scan's one file listing: taken on first use (by a pushdown
    * planner or by the built scan's first planning question), then shared
    * by every planning question the scan answers. A streaming query only
    * builds the scan and never forces it. */
  private lazy val files: Seq[SeqFileDataSource.PartitionedFile] =
    SeqFileDataSource.listPartitionedFiles(paths, new Configuration())

  private val partCols: Set[String] =
    tableSchema.fieldNames.filterNot(n =>
      n.equalsIgnoreCase("key") || n.equalsIgnoreCase("value"))
      .map(_.toLowerCase).toSet

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    partFilters = filters.filter(f =>
      f.references.forall(r => partCols.contains(r.toLowerCase))
        && PartitionFilters.supported(f))
    // key/value predicates drive zone-map block skipping in the readers
    keyFilters = filters.filter(ZoneMapPruning.usableAny)
    // ALL filters stay residual: Spark re-evaluates them on surviving rows,
    // so correctness never depends on the pruning logic.
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    partFilters ++ keyFilters

  /** ORDER BY key/value LIMIT n: zone maps select a provably sufficient
    * block subset per file (see SeqFileTopNPushdown) — partially pushed,
    * Spark's TakeOrdered still runs over the emitted superset. Offered only
    * with no filters and full sidecar coverage. */
  private var topNPlan: Option[Seq[(SeqFileDataSource.PartitionedFile, Seq[Long])]] = None

  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (partFilters.nonEmpty || keyFilters.nonEmpty || aggScan.nonEmpty)
      return false
    SeqFileTopNPushdown.orderFor(orders) match {
      case Some(key) if tableSchema.fields.exists(f =>
          f.name.equalsIgnoreCase(key.col) && f.dataType != NullType) =>
        SeqFileTopNPushdown.planFiles(files, key, limit,
            new Configuration()) match {
          case Some(plan) =>
            topNPlan = Some(plan)
            SeqFileTopNPushdown.pushes.increment()
            true
          case None => false
        }
      case _ => false
    }
  }

  /** MIN/MAX/COUNT without groupBy, served exactly from zone-map sidecars —
    * the data files are never opened (see SeqFileAggPushdown). Partial
    * pushdown only: Spark's aggregate still merges, so empty tables and
    * mixed plans behave normally. Declined whenever any filter is present
    * or any file lacks validated stats. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // Spark only pushes aggregates below fully-consumed filters, and ours
    // all stay residual — but keep the explicit guard for safety
    if (partFilters.nonEmpty || keyFilters.nonEmpty) return false
    SeqFileAggPushdown.specsFor(agg, tableSchema) match {
      case Some(specs) if specs.nonEmpty =>
        val out = SeqFileAggPushdown.schemaFor(specs, tableSchema)
        SeqFileAggPushdown.partialRow(files, specs, tableSchema,
            new Configuration()) match {
          case Some(row) =>
            aggScan = Some(new SeqFileAggScan(out, row,
              s"seqfile agg-pushdown paths=${paths.mkString(",")} " +
                s"aggs=${specs.mkString(",")}"))
            true
          case None => false
        }
      case _ => false
    }
  }

  override def build(): Scan = aggScan.getOrElse(
    new SeqFileScan(tableSchema, required, paths, () => files,
      maxSplitBytes = Option(options.get("maxSplitBytes")).map(_.toLong)
        .getOrElse(128L * 1024 * 1024),
      mode = ReadMode.parse(Option(options.get("mode")).getOrElse("FAILFAST")),
      partitionFilters = partFilters,
      keyFilters = keyFilters,
      topNPlan = topNPlan,
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong)))
}

/** Evaluate pushed filters against a file's partition values. Only shapes
  * `supported` admits are ever evaluated, so evaluation is total; values
  * compare as strings (partition columns are StringType by construction). */
object PartitionFilters {
  import org.apache.spark.sql.sources._

  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: In | _: IsNull | _: IsNotNull |
         _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: StringStartsWith => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  def eval(f: Filter, vals: Map[String, String]): Boolean = {
    def v(attr: String): Option[String] = vals.get(attr.toLowerCase)
    f match {
      case EqualTo(a, x) => v(a).contains(String.valueOf(x))
      case EqualNullSafe(a, x) => v(a).contains(String.valueOf(x))
      case In(a, xs) => v(a).exists(s => xs.exists(x => String.valueOf(x) == s))
      case IsNull(a) => v(a).isEmpty
      case IsNotNull(a) => v(a).nonEmpty
      case GreaterThan(a, x) => v(a).exists(_ > String.valueOf(x))
      case GreaterThanOrEqual(a, x) => v(a).exists(_ >= String.valueOf(x))
      case LessThan(a, x) => v(a).exists(_ < String.valueOf(x))
      case LessThanOrEqual(a, x) => v(a).exists(_ <= String.valueOf(x))
      case StringStartsWith(a, x) => v(a).exists(_.startsWith(x))
      case And(l, r) => eval(l, vals) && eval(r, vals)
      case Or(l, r) => eval(l, vals) || eval(r, vals)
      case Not(c) => !eval(c, vals)
      case _ => true // unreachable given `supported`; keep = never mis-prune
    }
  }
}

/** Malformed-record handling, mirroring Spark's JSON/CSV source modes.
  * FAILFAST is the reference's `failOnError` path (reference:
  * tests/Main.hs:35-37); PERMISSIVE reproduces the reference's `Foldable`
  * semantics, where a fold over the stream silently stops at the `Error`
  * cons cell (reference: SequenceFile.hs:74-76 — `foldMap` drops the error
  * tail); DROPMALFORMED goes beyond the reference: skip the corrupt block,
  * rescan for the next sync marker, and continue. */
object ReadMode {
  val FailFast = "FAILFAST"
  val Permissive = "PERMISSIVE"
  val DropMalformed = "DROPMALFORMED"
  def parse(s: String): String = s.toUpperCase match {
    case m @ (FailFast | Permissive | DropMalformed) => m
    case other => throw new IllegalArgumentException(
      s"seqfile mode must be FAILFAST, PERMISSIVE or DROPMALFORMED, got $other")
  }
}

object SeqFileScan {
  private[seqfile] val log = org.slf4j.LoggerFactory.getLogger(classOf[SeqFileScan])
}

class SeqFileScan(tableSchema: StructType, required: StructType,
                  paths: Seq[String],
                  listing: () => Seq[SeqFileDataSource.PartitionedFile],
                  maxSplitBytes: Long,
                  mode: String = ReadMode.FailFast,
                  partitionFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                  keyFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                  topNPlan: Option[Seq[(SeqFileDataSource.PartitionedFile, Seq[Long])]] = None,
                  maxFilesPerTrigger: Option[Int] = None,
                  maxBytesPerTrigger: Option[Long] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Storage-partitioned execution: a hive-partitioned lake reports
    * KeyGroupedPartitioning over its partition columns, so (with
    * spark.sql.sources.v2.bucketing.enabled) a groupBy on partition
    * columns runs shuffle-free and a join of two co-partitioned seqfile
    * lakes becomes a storage-partitioned join — at 100 TB the difference
    * between a full-corpus exchange and none. Unpartitioned tables report
    * UnknownPartitioning (grouping everything into one key would serialize
    * the scan). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = planInputPartitions()
    val partCols = parts.headOption
      .map(_.asInstanceOf[SeqFilePartition].partValues.map(_._1))
      .getOrElse(Nil)
    if (partCols.nonEmpty)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray,
        parts.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        parts.length)
  }

  /** Dynamic pruning: Spark may call filter() AFTER planning, with runtime
    * filters derived from a joined dimension (e.g. the join keys that
    * survived the dim's WHERE). Partition-column filters skip whole files;
    * key/value filters feed zone-map BLOCK skipping in the readers (runtime
    * data skipping — the seqfile analog of DPP on a fact table joined by
    * key). Both compose with the static pushed filters and only ever SKIP
    * data; rows are still verified by the residual join/filter, so an
    * over-broad runtime filter can't break correctness. */
  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var runtimeDataFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  private def isDataCol(n: String): Boolean =
    n.equalsIgnoreCase("key") || n.equalsIgnoreCase("value")

  // only columns present in the (pruned) output: Spark's pruning rules
  // resolve these refs against the scan output and throw on a column the
  // projection dropped
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // partition filters must reference ONLY partition columns — a filter on
    // `key` would evaluate as non-matching against partition values and
    // mis-prune whole files
    runtimeFilters = filters.filter(f =>
      f.references.forall(r => !isDataCol(r)) && PartitionFilters.supported(f))
    runtimeDataFilters = filters.filter(ZoneMapPruning.usableAny)
  }

  /** The scan's one listing, taken at its first planning question. */
  private lazy val files = listing()

  /** That listing, narrowed by the static and runtime partition filters. */
  private def liveFiles: Seq[SeqFileDataSource.PartitionedFile] =
    files.filter { pf =>
      val vals = pf.partitionValues.map { case (k, v) => k.toLowerCase -> v }.toMap
      partitionFilters.forall(PartitionFilters.eval(_, vals)) &&
        runtimeFilters.forall(PartitionFilters.eval(_, vals))
    }

  /** Size estimate so Catalyst's join planning can broadcast small seqfile
    * tables: on-disk bytes × a snappy decompression factor, scaled by the
    * fraction of columns read (pruned columns are never decompressed).
    * Partition-filter-aware: a scan of one partition out of hundreds
    * reports that partition's bytes, keeping it broadcast-eligible. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val diskBytes = liveFiles.map(_.status.getLen).sum
    override def sizeInBytes(): java.util.OptionalLong = {
      val colFraction =
        math.max(1, required.length).toDouble / math.max(1, tableSchema.length)
      java.util.OptionalLong.of((diskBytes * 3 * colFraction).toLong)
    }
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"seqfile paths=${paths.mkString(",")} columns=${required.fieldNames.mkString(",")} mode=$mode"

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SeqFileMicroBatchStream(tableSchema, required, paths, maxSplitBytes, mode,
      checkpointLocation, maxFilesPerTrigger, maxBytesPerTrigger)

  /** One partition per `maxSplitBytes` byte range per file; ranges align
    * themselves to record-block boundaries at read time by scanning for the
    * next sync marker (semantics of reference: Parser.hs:93-101). At 100 TB
    * this yields ~800k splits of 128 MiB — Spark's scheduler handles that;
    * tune `maxSplitBytes` upward for very large clusters. */
  override def planInputPartitions(): Array[InputPartition] = {
    // TopN pushdown: one partition per file with an explicit block list
    // (the selection already read every sidecar at planning)
    topNPlan match {
      case Some(plan) =>
        return plan.map { case (pf, offs) =>
          SeqFilePartition(pf.status.getPath.toString, 0L,
            pf.status.getLen, pf.partitionValues,
            fixedOffsets = Some(offs)): InputPartition
        }.toArray
      case None => ()
    }
    liveFiles.flatMap { pf =>
      val len = pf.status.getLen
      val n = math.max(1L, (len + maxSplitBytes - 1) / maxSplitBytes)
      (0L until n).map { i =>
        SeqFilePartition(pf.status.getPath.toString, i * maxSplitBytes,
          math.min((i + 1) * maxSplitBytes, len), pf.partitionValues,
          (keyFilters ++ runtimeDataFilters).toSeq)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqFileReaderFactory(tableSchema, required, mode)

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new SeqZoneBlocksSkippedMetric, new SeqZoneBlocksReadMetric)
}

case class SeqFilePartition(path: String, start: Long, end: Long,
                            partValues: Seq[(String, String)] = Nil,
                            keyFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                            fixedOffsets: Option[Seq[Long]] = None)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Hive-partition values as the partition key (only consulted when the
    * scan reports KeyGroupedPartitioning, i.e. partValues nonEmpty). */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(
      partValues.map(v => UTF8String.fromString(v._2): Any).toArray)
}

/** Every seqfile read is columnar: one ColumnarBatch per record block with
  * zero-copy vectors (the reference's columnar RecordBlock model) — Spark's
  * vectorized operators and ColumnarToRow consume it directly. Hive-
  * partition columns ride along as constant vectors and NullWritable
  * columns as all-null vectors, so no query needs a row reader. */
class SeqFileReaderFactory(tableSchema: StructType, required: StructType,
                           mode: String)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("seqfile reads are columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new SeqFileColumnarPartitionReader(partition.asInstanceOf[SeqFilePartition],
      tableSchema, required, mode)
}
