package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.seqfile.ZoneKey

/** MIN/MAX/COUNT pushdown answered ENTIRELY from zone-map sidecars: a
  * `SELECT max(key), count(*) FROM seqfileTable` never opens a data file —
  * the per-block statistics the writer already persisted are exact (true
  * min/max/count per block, not samples), so folding them is the exact
  * answer. Partial-pushdown contract: the scan emits ONE partial row which
  * Spark's aggregate merges (so mixed plans and empty tables behave like
  * any other source).
  *
  * Pushdown is accepted only when every committed data file has a
  * VALIDATED sidecar carrying stats for every referenced column, or is
  * header-only (an empty write partition's part file) — one
  * ~100-byte sidecar read per file, done with bounded driver-side
  * parallelism (PlanParallel); the payoff is skipping the entire data scan. Queries with filters never reach this
  * path (all our filters stay residual, and Spark only pushes aggregates
  * below fully-consumed filters). */
object SeqFileAggPushdown {

  sealed trait Spec
  final case class MinOf(col: String) extends Spec
  final case class MaxOf(col: String) extends Spec
  case object CountAll extends Spec

  private def colName(e: Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head.toLowerCase)
    case _ => None
  }

  /** Map the aggregation to specs we can serve; None = not pushable. */
  def specsFor(agg: Aggregation, tableSchema: StructType): Option[Seq[Spec]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    def orderedDataCol(c: String): Boolean =
      (c == "key" || c == "value") && dataTypeOf(tableSchema, c) != NullType
    val specs = agg.aggregateExpressions.map {
      case m: Min => colName(m.column).filter(orderedDataCol).map(MinOf)
      case m: Max => colName(m.column).filter(orderedDataCol).map(MaxOf)
      case _: CountStar => Some(CountAll)
      case c: Count if !c.isDistinct =>
        // count(col) == count(*) for non-null-typed data columns: the
        // format has no null-within-column representation (a NullWritable
        // column reads as all-null NullType, where count(col) would be 0 —
        // excluded by orderedDataCol)
        colName(c.column).filter(orderedDataCol).map(_ => CountAll)
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some(specs.flatten.toSeq) else None
  }

  /** Catalyst type of each partial column, aligned with `specs`. */
  def schemaFor(specs: Seq[Spec], tableSchema: StructType): StructType =
    StructType(specs.zipWithIndex.map {
      case (MinOf(c), i) => StructField(s"min_$c$i", dataTypeOf(tableSchema, c))
      case (MaxOf(c), i) => StructField(s"max_$c$i", dataTypeOf(tableSchema, c))
      case (CountAll, i) => StructField(s"cnt$i", LongType, nullable = false)
    })

  private def dataTypeOf(schema: StructType, col: String): DataType =
    schema.fields.find(_.name.equalsIgnoreCase(col)).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(s"no column $col"))

  /** Per-file sidecar fold: count plus min/max of whichever columns are
    * needed; None when the file can't serve the pushdown. */
  private final case class FileStats(count: Long,
                                     kMin: ZoneKey, kMax: ZoneKey,
                                     vMin: ZoneKey, vMax: ZoneKey)

  private def fileStats(pf: SeqFileDataSource.PartitionedFile,
                        needKey: Boolean, needVal: Boolean,
                        conf: Configuration): Option[FileStats] = {
    val entries = ZoneMapPruning.fileZones(pf, conf).getOrElse(return None)
    var count = 0L
    var kMin: ZoneKey = null; var kMax: ZoneKey = null
    var vMin: ZoneKey = null; var vMax: ZoneKey = null
    for (e <- entries) {
      count += e.count
      if (needKey) (e.kmin, e.kmax) match {
        case (Some(lo), Some(hi)) =>
          if (kMin == null || lo.cmp(kMin) < 0) kMin = lo
          if (kMax == null || hi.cmp(kMax) > 0) kMax = hi
        case _ => return None
      }
      if (needVal) (e.vmin, e.vmax) match {
        case (Some(lo), Some(hi)) =>
          if (vMin == null || lo.cmp(vMin) < 0) vMin = lo
          if (vMax == null || hi.cmp(vMax) > 0) vMax = hi
        case _ => return None
      }
    }
    Some(FileStats(count, kMin, kMax, vMin, vMax))
  }

  /** Fold every file's sidecar into one partial row. None when any file
    * lacks a valid sidecar with the needed stats (caller then declines the
    * pushdown). Sidecars are read with bounded driver-side parallelism
    * (PlanParallel): a million-file lake plans in O(files/parallelism)
    * wall-clock instead of a serial read per file. */
  def partialRow(files: Seq[SeqFileDataSource.PartitionedFile], specs: Seq[Spec],
                 tableSchema: StructType, conf: Configuration)
      : Option[InternalRow] = {
    val needKey = specs.exists {
      case MinOf("key") | MaxOf("key") => true; case _ => false }
    val needVal = specs.exists {
      case MinOf("value") | MaxOf("value") => true; case _ => false }

    if (files.isEmpty) return Some(null) // empty table: emit no partial row
    val perFile = PlanParallel.mapOrdered(files)(
      fileStats(_, needKey, needVal, conf))
    if (perFile.exists(_.isEmpty)) return None

    var count = 0L
    var kMin: ZoneKey = null; var kMax: ZoneKey = null
    var vMin: ZoneKey = null; var vMax: ZoneKey = null
    for (fsOpt <- perFile; fs = fsOpt.get) {
      count += fs.count
      if (needKey && fs.kMin != null) {
        if (kMin == null || fs.kMin.cmp(kMin) < 0) kMin = fs.kMin
        if (kMax == null || fs.kMax.cmp(kMax) > 0) kMax = fs.kMax
      }
      if (needVal && fs.vMin != null) {
        if (vMin == null || fs.vMin.cmp(vMin) < 0) vMin = fs.vMin
        if (vMax == null || fs.vMax.cmp(vMax) > 0) vMax = fs.vMax
      }
    }
    if (count == 0) return Some(null) // only header-only files: no rows

    val row = new GenericInternalRow(specs.length)
    specs.zipWithIndex.foreach { case (s, i) =>
      s match {
        case CountAll => row.update(i, count)
        case MinOf(c) => row.update(i,
          catalystValue(if (c == "key") kMin else vMin, dataTypeOf(tableSchema, c)))
        case MaxOf(c) => row.update(i,
          catalystValue(if (c == "key") kMax else vMax, dataTypeOf(tableSchema, c)))
      }
    }
    Some(row)
  }

  private def catalystValue(k: ZoneKey, dt: DataType): Any = (k, dt) match {
    case (ZoneKey.L(v), ShortType) => v.toShort
    case (ZoneKey.L(v), IntegerType) => v.toInt
    case (ZoneKey.L(v), LongType) => v
    case (ZoneKey.D(v), FloatType) => v.toFloat
    case (ZoneKey.D(v), DoubleType) => v
    case (ZoneKey.B(v), StringType) => UTF8String.fromBytes(v)
    case (ZoneKey.B(v), BinaryType) => v
    case _ => throw new IllegalArgumentException(s"cannot map $k to $dt")
  }
}

/** Scan that serves a pushed aggregation: one partition, one partial row
  * (or zero rows for an empty table). */
class SeqFileAggScan(outputSchema: StructType, row: InternalRow,
                     description0: String)
  extends Scan with Batch {
  override def readSchema(): StructType = outputSchema
  override def description(): String = description0
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(SeqFileAggPartition(outputSchema,
      Option(row).map(_.copy()).orNull))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[SeqFileAggPartition]
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted || part.row == null) false
            else { emitted = true; true }
          override def get(): InternalRow = part.row
          override def close(): Unit = ()
        }
      }
    }
}

case class SeqFileAggPartition(schema: StructType, row: InternalRow)
  extends InputPartition
