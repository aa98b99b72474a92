package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** STORAGE-PARTITIONED JOIN support for `bucket(n, col)` TxTables —
  * the scan-side contract that lets two same-bucketed tables join
  * with ZERO Exchange (Spark's SPJ, SPARK-37375):
  *
  *   - the write path laid out ONE bucket per file
  *     ([[TxTable.writeFilesBucketed]]) and recorded singleton bucket
  *     value sets in the manifest;
  *   - this wrapper re-groups the delegate parquet scan's planned
  *     file partitions BY BUCKET — one [[HasPartitionKey]] input
  *     partition per bucket value — and reports
  *     `KeyGroupedPartitioning(bucket(n, col), #groups)`;
  *   - Spark resolves the `bucket` transform through the table
  *     catalog's FunctionCatalog ([[TxPartitionFunctions.Bucket]])
  *     and, when both join sides report compatible partitioning
  *     (same canonicalName + numBuckets, `KeyGroupedShuffleSpec`),
  *     plans the join with no shuffle on either side — the layout
  *     pays the Exchange once at write time, every subsequent join
  *     rides it free (the 100 TB daily fact-fact join shape).
  *
  * Requires `spark.sql.sources.v2.bucketing.enabled=true` (Spark's
  * own gate); without it the report is ignored and the join plans
  * with ordinary shuffles — never wrong, just unoptimized. Reading
  * is untouched: the delegate's reader factory serves each bucket
  * group's files (vectorized parquet as usual). */
private[sources] object SpjScan {

  /** fileName → bucket value for the snapshot, when EVERY listed file
    * carries a singleton `bucket(n,col)` value set — None otherwise
    * (mixed-bucket files, e.g. from a V2 dynamic overwrite, disable
    * SPJ but never correctness). */
  def bucketByName(snap: TxTable.Snapshot,
      t: TxTable.PartBucket): Option[Map[String, Int]] = {
    val entries = snap.files.map { f =>
      snap.index.values.get(f).flatMap(_.get(t.name)) match {
        case Some(vs) if vs.size == 1 => vs.head.toIntOption
          .map(b => f.split('/').last -> b)
        case _ => None
      }
    }
    if (entries.exists(_.isEmpty)) None
    else Some(entries.flatten.toMap)
  }
}

private[sources] class SpjScanBuilder(delegate: ScanBuilder,
    t: TxTable.PartBucket, bucketOfName: Map[String, Int])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters {

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(requiredSchema)
      case _ => ()
    }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    delegate match {
      case p: SupportsPushDownCatalystFilters => p.pushFilters(filters)
      case _ => filters
    }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate match {
      case p: SupportsPushDownCatalystFilters => p.pushedFilters
      case _ => Array.empty
    }

  override def build(): Scan =
    new SpjScanImpl(delegate.build(), t, bucketOfName)
}

private class SpjScanImpl(delegate: Scan, t: TxTable.PartBucket,
    bucketOfName: Map[String, Int])
    extends Scan with SupportsReportPartitioning with SupportsReportStatistics {

  private lazy val spjBatch = new SpjBatch(delegate.toBatch, bucketOfName)

  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String = s"Spj(${delegate.description()})"
  override def toBatch: Batch = spjBatch

  override def outputPartitioning(): Partitioning =
    // a fully-pruned scan (every file excluded by predicates) has no
    // key groups to report — claim nothing rather than a 0-partition
    // KeyGroupedPartitioning the join planner never expects
    if (spjBatch.planned.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      Array(Expressions.bucket(t.n, t.col)),
      spjBatch.planned.length)

  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
}

/** One bucket's files as one keyed partition. */
private case class BucketFilePartition(delegate: FilePartition,
    bucket: Int) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

private class SpjBatch(delegate: Batch,
    bucketOfName: Map[String, Int]) extends Batch {

  /** The delegate's (pruned) files re-grouped one partition per
    * bucket, ordered by bucket value. Planned once. */
  lazy val planned: Array[InputPartition] = {
    val files = delegate.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"spj scan expected FilePartitions, got ${other.getClass}")
    }
    files.groupBy(f => bucketOfName(f.urlEncodedPath.split('/').last))
      .toSeq.sortBy(_._1).zipWithIndex.map { case ((b, fs), i) =>
        BucketFilePartition(FilePartition(i, fs), b): InputPartition
      }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    new SpjReaderFactory(delegate.createReaderFactory())
}

/** Unwraps the keyed partition before delegating — the parquet
  * factory sees plain FilePartitions. */
private class SpjReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case BucketFilePartition(fp, _) => fp
    case other => other
  }
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
}

// ======== DV-aware storage-partitioned joins ========
//
// The COMPOSITION of the two wrappers above and in DvScan.scala: a
// bucketed snapshot that ALSO carries deletion predicates still
// reports KeyGroupedPartitioning — per-bucket files stay grouped one
// partition per bucket (a DelEntry hides rows, it never moves them
// across buckets), and each bucket partition filters its DV'd files
// through the same bound visibility predicates DvScan uses. Without
// this, the zero-Exchange daily join disappeared the moment DML
// touched the fact table — exactly when it matters at 100 TB (the
// r17 verdict's item #2). Cost model unchanged from DvScan: the scan
// reads row-based while any predicate stands; the next compact folds
// the predicates and vectorized reads return.

/** [[SpjScanBuilder]] × [[DvScanBuilder]]: prunes with DV widening,
  * reports bucket partitioning, filters per file. */
private[sources] class SpjDvScanBuilder(spark: SparkSession,
    delegate: ScanBuilder, fullSchema: StructType,
    delsByName: Map[String, Seq[TxTable.DelEntry]],
    t: TxTable.PartBucket, bucketOfName: Map[String, Int])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters {

  private val delCols: Seq[String] = delsByName.values.flatten.toSeq
    .flatMap(d => d.ranges.map(_._1) ++ d.eqs.map(_._1) ++
      d.ins.map(_._1)).distinct

  private var pruned: StructType = fullSchema
  private var widened: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    pruned = requiredSchema
    val missing = delCols.filterNot(requiredSchema.fieldNames.contains)
      .flatMap(c => fullSchema.find(_.name == c))
    widened = StructType(requiredSchema.fields ++ missing)
    delegate match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(widened)
      case _ => ()
    }
  }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    delegate match {
      case p: SupportsPushDownCatalystFilters => p.pushFilters(filters)
      case _ => filters
    }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate match {
      case p: SupportsPushDownCatalystFilters => p.pushedFilters
      case _ => Array.empty
    }

  override def build(): Scan = new SpjDvScanImpl(spark, delegate.build(),
    pruned, widened, delsByName, t, bucketOfName)
}

private class SpjDvScanImpl(spark: SparkSession, delegate: Scan,
    pruned: StructType, widened: StructType,
    delsByName: Map[String, Seq[TxTable.DelEntry]],
    t: TxTable.PartBucket, bucketOfName: Map[String, Int])
    extends Scan with SupportsReportPartitioning
    with SupportsReportStatistics {

  private lazy val spjBatch = new SpjDvBatch(spark, delegate.toBatch,
    pruned, widened, delsByName, bucketOfName)

  override def readSchema(): StructType = pruned
  override def description(): String = s"SpjDv(${delegate.description()})"
  override def toBatch: Batch = spjBatch

  override def outputPartitioning(): Partitioning =
    if (spjBatch.planned.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      Array(Expressions.bucket(t.n, t.col)),
      spjBatch.planned.length)

  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
}

/** One bucket's files as one keyed partition, each file with its
  * bound visibility predicate (null = clean file, no filtering). */
private case class SpjDvFilePartition(
    files: Array[(FilePartition,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    bucket: Int) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    files.flatMap(_._1.preferredLocations()).distinct
}

private class SpjDvBatch(spark: SparkSession, delegate: Batch,
    pruned: StructType, widened: StructType,
    delsByName: Map[String, Seq[TxTable.DelEntry]],
    bucketOfName: Map[String, Int]) extends Batch {

  private val projOrdinals: Array[Int] =
    pruned.fieldNames.map(n => widened.fieldIndex(n))
  private val needProject = projOrdinals.length != widened.length

  private def nameOf(f: org.apache.spark.sql.execution.datasources
      .PartitionedFile): String = f.urlEncodedPath.split('/').last

  /** The delegate's (pruned) files re-grouped one partition per
    * bucket, each file paired with its visibility expression (built
    * once per distinct del-signature on the driver). */
  lazy val planned: Array[InputPartition] = {
    // keyed on the PATH-ERASED signature: a DML's N candidate files
    // share one analyzed visibility expression
    val exprCache = scala.collection.mutable
      .Map.empty[Seq[(Seq[(String, Double, Double)],
        Seq[(String, String)], Seq[(String, Seq[String])])],
        org.apache.spark.sql.catalyst.expressions.Expression]
    def exprFor(entries: Seq[TxTable.DelEntry]) =
      exprCache.getOrElseUpdate(TxTable.delSignature(entries),
        DvScan.visibilityExpr(spark, widened, entries))
    val files = delegate.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"spj-dv scan expected FilePartitions, got ${other.getClass} — " +
          "cannot guarantee deleted-row filtering; refusing")
    }
    files.groupBy(f => bucketOfName(nameOf(f))).toSeq.sortBy(_._1)
      .map { case (b, fs) =>
        SpjDvFilePartition(fs.map { f =>
          (FilePartition(0, Array(f)),
            delsByName.get(nameOf(f)).map(exprFor).orNull)
        }, b): InputPartition
      }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = planned

  override def createReaderFactory(): PartitionReaderFactory =
    new SpjDvReaderFactory(delegate.createReaderFactory(),
      if (needProject) projOrdinals else null, widened)
}

/** Row-based factory (the DvScan discipline: partitions must be
  * uniformly row-based while any predicate stands): a bucket's files
  * read sequentially — DV'd ones through their visibility predicate,
  * clean ones plainly — then project back to the pruned schema. */
private class SpjDvReaderFactory(inner: PartitionReaderFactory,
    projOrdinals: Array[Int], widened: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case SpjDvFilePartition(files, _) =>
      val makers: Array[() => PartitionReader[InternalRow]] =
        files.map {
          case (fp, null) => () => {
            val r = inner.createReader(fp)
            if (projOrdinals == null) r
            else new ProjectingRowReader(r, projOrdinals, widened)
          }
          case (fp, vis) => () =>
            new DvRowReader(inner.createReader(fp), vis, projOrdinals,
              widened)
        }
      new ConcatRowReader(makers)
    case other => inner.createReader(other)
  }
}

/** Sequential concatenation of per-file readers — one bucket
  * partition serves all its files through one iterator. */
private class ConcatRowReader(
    makers: Array[() => PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var i = 0
  private var cur: PartitionReader[InternalRow] =
    if (makers.isEmpty) null else makers(0)()
  override def next(): Boolean = {
    while (cur != null) {
      if (cur.next()) return true
      cur.close()
      i += 1
      cur = if (i < makers.length) makers(i)() else null
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
