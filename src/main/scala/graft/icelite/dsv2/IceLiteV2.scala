package graft.icelite.dsv2

import graft.icelite.{IceLite, IceSnapshot, ZoneMaps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** IceLite exposed through DataSourceV2 with REPORTED partitioning —
  * the read-side contract a 100 TB table needs: the scan tells Catalyst
  * that its partitions are exactly the table's hash buckets
  * (`KeyGroupedPartitioning(bucket(numBuckets, keyCol))`, one input
  * partition per bucket carrying its partition key), so a downstream
  * `groupBy(keyCol)` — including the merge-on-read LWW — and
  * storage-partitioned joins between IceLite tables on the key satisfy
  * their ClusteredDistribution straight off the on-disk layout with
  * ZERO exchange (requires `spark.sql.sources.v2.bucketing.enabled`,
  * set by [[IceLiteV2.register]]).
  *
  * File reading delegates to Spark's own parquet DSv2 reader factory
  * (`ParquetScan.createReaderFactory` — vectorized where the schema
  * allows), so the only custom piece is the PLANNING: bucket-aligned
  * input partitions + the `bucket` function in a FunctionCatalog whose
  * semantics equal both Spark's `pmod(hash(key), n)` HashPartitioning
  * and the driver-side `IceLite.bucketOf` (murmur3 seed 42).
  *
  * The scan yields RAW rows (engine meta columns included, possibly
  * several versions per key); [[IceLiteV2.readMerged]] layers the
  * exchange-free LWW + visibility filters on top.
  */
class IceLiteCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** The identifier's NAME is the IceLite table root path:
    * `spark.table("graft.`/path/to/table`")`.
    */
  override def loadTable(ident: Identifier): Table = {
    val root = ident.name()
    if (!IceLite.exists(root))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, root))
    new IceLiteV2Table(SparkSession.active, root)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "create through graft.icelite.IceLite.create, not the catalog")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("schema evolution happens on the write path")

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename not supported")

  // ---- FunctionCatalog: the bucket function SPJ/aggregation resolve ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}

/** `bucket(numBuckets, key)` — the table's partition transform. MUST
  * stay value-identical to Spark's `pmod(hash(key), n)` (murmur3 of the
  * UTF8 bytes, seed 42) and to the driver-side `IceLite.bucketOf`: the
  * write path's single exchange, the reported read partitioning and
  * point-lookup pruning are one and the same function.
  */
object BucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "bucket(numBuckets, key): pmod(murmur3(key), numBuckets)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == StringType,
      s"bucket(int, string) expected, got ${inputType.simpleString}")
    BucketBound
  }
}

object BucketBound extends ScalarFunction[Integer]
    with org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[Integer, Integer] {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction => BF,
    Reducer, ReducibleFunction}

  override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    IceLite.bucketOf(input.getUTF8String(1), input.getInt(0))

  /** Cross-bucket-count compatibility for storage-partitioned joins:
    * when the other side's bucket count divides this side's,
    * `pmod(h, m) == pmod(pmod(h, n), m)` (m | n), so this side's
    * buckets REDUCE into the coarser space with `b % m` and the two
    * layouts join co-partitioned — e.g. a 64-bucket fact sink against
    * an 8-bucket dimension sink, still zero exchange. Null = not
    * reducible (Spark then falls back to normal planning).
    */
  override def reducer(thisNumBuckets: Int,
      otherFunction: ReducibleFunction[_, _], otherNumBuckets: Int): Reducer[Integer, Integer] = {
    val sameFn = otherFunction match {
      case b: BF => b.canonicalName() == canonicalName()
      case _ => false
    }
    if (sameFn && otherNumBuckets > 0 && otherNumBuckets < thisNumBuckets &&
      thisNumBuckets % otherNumBuckets == 0)
      BucketReducer(otherNumBuckets)
    else null
  }
}

/** Serializable bucket reducer: ships inside the join's
  * StoragePartitionJoinParams to executors.
  */
case class BucketReducer(m: Int)
    extends org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer] {
  override def reduce(b: Integer): Integer = b % m
}

/** One input partition = one hash bucket's file set, carrying its
  * partition key so Catalyst can key-group the scan.
  */
class BucketFilePartition(idx: Int, files: Array[PartitionedFile], val bucket: Int)
    extends FilePartition(idx, files) with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

class IceLiteV2Table(spark: SparkSession, root: String) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val snap: IceSnapshot = IceLite.readLatest(root).get

  /** The snapshot this table instance is pinned to — readers that need
    * snapshot metadata (e.g. the truncate floor) must take it from
    * HERE, never from a second `readLatest` (a commit between the two
    * reads would apply an older floor to a newer file set).
    */
  private[dsv2] def pinnedSnapshot: IceSnapshot = snap

  override def name(): String = root
  /** Deep-nullable so INSERTs whose sources are nullable parquet columns
    * resolve (the insert still refuses null keys and meta values).
    */
  override def schema(): StructType =
    graft.stream.MergeApply.asNullable(IceLite.withMeta(snap.schema))
      .asInstanceOf[StructType]
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(snap.numBuckets, snap.keyCol))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(spark, root, snap, schema(), options)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new IceLiteWriteBuilder(spark, root, info)
}

class IceLiteScanBuilder(spark: SparkSession, root: String, snap: IceSnapshot,
    fullSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._

  private var readSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Any])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the table's field order (parquet reader contract)
    readSchema = StructType(
      fullSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  /** Filters are accepted for two layers of SKIPPING, never for final
    * evaluation (everything is returned as residual, so Spark
    * re-applies them — conservative and always correct):
    *   - key-equality predicates prune whole BUCKETS driver-side (the
    *     v2 form of `IceLiteTable.lookup`'s metadata pruning: a point
    *     read of a 100 TB table scans one bucket's files);
    *   - all filters are handed to the delegated parquet reader factory
    *     for row-group statistics skipping.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Finite key set implied by the filters (None = unconstrained). */
  private def finiteKeys(f: Filter): Option[Set[String]] = f match {
    case EqualTo(c, v: String) if c == snap.keyCol => Some(Set(v))
    case EqualNullSafe(c, v: String) if c == snap.keyCol => Some(Set(v))
    case In(c, vs) if c == snap.keyCol =>
      Some(vs.collect { case s: String => s }.toSet)
    case And(l, r) => (finiteKeys(l), finiteKeys(r)) match {
      case (Some(a), Some(b)) => Some(a.intersect(b))
      case (a, b) => a.orElse(b)
    }
    case Or(l, r) => for { a <- finiteKeys(l); b <- finiteKeys(r) } yield a.union(b)
    case _ => None
  }

  // ---- metadata-only aggregates: whole-table COUNT / MIN / MAX
  // answered from the zone-map sidecars' exact per-file statistics —
  // no task is ever scheduled (the Iceberg manifest-stats parity). Only
  // when the answer is PROVABLY exact: no pushed filters (Spark only
  // attempts the pushdown with no residual Filter anyway, but we guard),
  // no group-by, every committed file covered by a sidecar, min/max
  // restricted to fixed-width types (parquet may truncate BINARY stats
  // into mere bounds, and float stats are unreliable around NaN).
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{
    AggregateFunc, Aggregation, Count, CountStar, Max, Min}

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryComputeAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = tryComputeAgg(agg)
    aggResult.isDefined
  }

  private def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }

  private def tryComputeAgg(agg: Aggregation): Option[(StructType, Seq[Any])] = {
    if (agg.groupByExpressions().nonEmpty || pushed.nonEmpty) return None
    val files = snap.buckets.flatMap(b =>
      snap.base.getOrElse(b, Nil) ++ snap.deltas.getOrElse(b, Nil))
    // every file must carry stats, and per-file row counts must exist
    val stats: Seq[Map[String, ZoneMaps.ColStats]] = files.map { rel =>
      ZoneMaps.statsFor(root, rel) match {
        case Some(st) if st.nonEmpty => st
        case _ => return None
      }
    }
    val rowsPerFile: Seq[Long] = stats.map(_.values.head.rows)

    def minMax(f: AggregateFunc, wantMax: Boolean): Option[(StructField, Any)] = {
      val name = colNameOf(f.children()(0)).getOrElse(return None)
      val field = fullSchema.fields.find(_.name == name).getOrElse(return None)
      val widen: String => Long = field.dataType match {
        case ByteType | ShortType | IntegerType | LongType => _.toLong
        case BooleanType => s => if (s.toBoolean) 1L else 0L
        case _ => return None // strings may be truncated bounds; floats: NaN
      }
      val bounds = stats.map { st =>
        st.get(name) match {
          case None => return None // file predates the column: unknowable here
          case Some(s) => (if (wantMax) s.max else s.min).map(widen)
        }
      }.flatten // all-null files contribute nothing
      val v: Any = bounds.reduceOption(
        if (wantMax) (a: Long, b: Long) => a max b
        else (a: Long, b: Long) => a min b) match {
        case None => null // the column is null in every row
        case Some(l) => field.dataType match {
          case ByteType => java.lang.Byte.valueOf(l.toByte)
          case ShortType => java.lang.Short.valueOf(l.toShort)
          case IntegerType => java.lang.Integer.valueOf(l.toInt)
          case LongType => java.lang.Long.valueOf(l)
          case BooleanType => java.lang.Boolean.valueOf(l == 1L)
          case _ => return None
        }
      }
      Some((StructField(s"${if (wantMax) "max" else "min"}($name)",
        field.dataType, nullable = true), v))
    }

    val computed: Seq[(StructField, Any)] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        (StructField("count(*)", LongType, nullable = false),
          java.lang.Long.valueOf(rowsPerFile.sum))
      case c: Count if !c.isDistinct =>
        val name = colNameOf(c.column()).getOrElse(return None)
        val nonNull = stats.map { st =>
          st.get(name) match {
            case None => return None
            case Some(s) => s.rows - s.nulls
          }
        }.sum
        (StructField(s"count($name)", LongType, nullable = false),
          java.lang.Long.valueOf(nonNull))
      case m: Min => minMax(m, wantMax = false).getOrElse(return None)
      case m: Max => minMax(m, wantMax = true).getOrElse(return None)
      case _ => return None
    }
    Some((StructType(computed.map(_._1)), computed.map(_._2)))
  }

  override def build(): Scan = aggResult match {
    case Some((schemaOut, values)) =>
      new IceLiteStatsScan(schemaOut, values,
        s"IceLiteStatsScan(root=$root, snapshot=${snap.snapshotId}, metadata-only)")
    case None =>
      val prunedBuckets = pushed.flatMap(f => finiteKeys(f)).reduceOption(_ intersect _)
        .map(_.map(k => IceLite.bucketOf(k, snap.numBuckets)))
      new IceLiteScan(spark, root, snap, fullSchema, readSchema, pushed, prunedBuckets,
        options)
  }
}

/** The result of a fully-pushed aggregate: one partition, one row,
  * values computed on the driver from the zone-map sidecars.
  */
class IceLiteStatsScan(schemaOut: StructType, values: Seq[Any],
    detail: String) extends Scan with Batch {
  override def readSchema(): StructType = schemaOut
  override def toBatch: Batch = this
  override def description(): String = detail

  override def planInputPartitions(): Array[InputPartition] =
    Array(new StatsRowPartition(values.toArray))

  override def createReaderFactory(): PartitionReaderFactory =
    new StatsRowReaderFactory(schemaOut)
}

class StatsRowPartition(val values: Array[Any]) extends InputPartition

class StatsRowReaderFactory(schemaOut: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val vals = p.asInstanceOf[StatsRowPartition].values
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = {
        // strings would need UTF8String conversion; only fixed-width
        // values are ever pushed, so the raw boxes bind directly
        new GenericInternalRow(vals.asInstanceOf[Array[Any]])
      }
      override def close(): Unit = ()
    }
  }
}

class IceLiteScan(spark: SparkSession, root: String, snap: IceSnapshot,
    fullSchema: StructType, readSchema_ : StructType,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    prunedBuckets: Option[Set[Int]] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{NamedReference,
    Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  /** Effective bucket pruning: the compile-time key filters, further
    * intersected by RUNTIME filters (dynamic partition pruning — the
    * join-key values a selective build side produced at execution
    * time). `@volatile` because Spark calls [[filter]] from the exec
    * node after planning, then replans input partitions.
    */
  @volatile private var pruned: Option[Set[Int]] = prunedBuckets

  override def readSchema(): StructType = readSchema_
  override def toBatch: Batch = this
  override def description(): String = {
    val zs = zoneSkipped
    s"IceLiteScan(root=$root, snapshot=${snap.snapshotId}, " +
      s"buckets=${nonEmpty.size}/${snap.numBuckets}" +
      pruned.map(b => s", prunedToBuckets=${b.toSeq.sorted.mkString("[", ",", "]")}")
        .getOrElse("") +
      (if (zs > 0) s", zoneSkippedFiles=$zs" else "") +
      s", bucket(${snap.numBuckets}, ${snap.keyCol}))"
  }

  // ---- runtime (DPP) filtering: a probe join against a selective
  // build side scans ONLY the buckets the build side's key values hash
  // to — on a 100 TB fact table a point-ish join touches a handful of
  // buckets' files instead of the whole layout. Conservative contract:
  // predicates we can't reduce to a finite key set are ignored (the
  // join re-filters rows; partition skipping is best-effort), and the
  // filtered partitions keep their HasPartitionKey grouping, which is
  // exactly what BatchScanExec requires of a key-grouped scan under
  // runtime filtering.
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(snap.keyCol).asInstanceOf[NamedReference])

  override def filter(filters: Array[Predicate]): Unit = {
    val keySets = filters.flatMap(finiteKeysV2)
    if (keySets.nonEmpty) {
      val buckets = keySets.reduce(_ intersect _)
        .map(k => IceLite.bucketOf(k, snap.numBuckets))
      pruned = Some(pruned.fold(buckets)(_ intersect buckets))
    }
  }

  /** Finite key set implied by a V2 predicate on the key column
    * (runtime filters arrive as `IN(key, v1..vn)`; `=` handled for
    * completeness). None = unconstrained.
    */
  private def finiteKeysV2(p: Predicate): Option[Set[String]] = {
    def refIsKey(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames().sameElements(Array(snap.keyCol))
        case _ => false
      }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case l: V2Literal[_] if l.value() != null => Some(l.value().toString)
        case _ => None
      }
    p.name() match {
      case "IN" if p.children().length >= 2 && refIsKey(p.children()(0)) =>
        val vals = p.children().drop(1).flatMap(lit)
        if (vals.length == p.children().length - 1) Some(vals.toSet) else None
      case "=" if p.children().length == 2 && refIsKey(p.children()(0)) =>
        lit(p.children()(1)).map(Set(_))
      case _ => None
    }
  }

  /** A bucket's files AFTER zone-map skipping: the pushed filters cut
    * by VALUE what bucket pruning cuts by KEY — a file whose per-column
    * min/max provably excludes every pushed conjunct is dropped at
    * PLANNING time, before any task is scheduled or footer fetched
    * (files without stats are never skipped; Spark re-applies all
    * filters to the surviving rows, so this is pure work elision).
    */
  private def bucketFiles(b: Int): Seq[String] = {
    val all = snap.base.getOrElse(b, Nil) ++ snap.deltas.getOrElse(b, Nil)
    if (pushedFilters.isEmpty) all
    else all.filter { rel =>
      ZoneMaps.statsFor(root, rel)
        .forall(st => ZoneMaps.mayMatch(pushedFilters, st, fullSchema))
    }
  }

  /** Files excluded by zone maps across the surviving buckets. */
  private def zoneSkipped: Int =
    if (pushedFilters.isEmpty) 0
    else snap.buckets.filter(b => pruned.forall(_.contains(b))).map { b =>
      val all = snap.base.getOrElse(b, Nil).size + snap.deltas.getOrElse(b, Nil).size
      all - bucketFiles(b).size
    }.sum

  private def nonEmpty: Seq[Int] = snap.buckets
    .filter(b => pruned.forall(_.contains(b)))
    .filter(bucketFiles(_).nonEmpty).sorted

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(snap.numBuckets, snap.keyCol)), nonEmpty.size)

  override def planInputPartitions(): Array[InputPartition] =
    nonEmpty.zipWithIndex.map { case (b, idx) =>
      val pfiles = IceLiteV2.partitionedFiles(spark, root, bucketFiles(b)).toArray
      new BucketFilePartition(idx, pfiles, b): InputPartition
    }.toArray

  /** Delegate row decoding to Spark's own parquet DSv2 factory — a
    * ParquetScan configured with our schemas hands back a
    * PartitionReaderFactory that accepts FilePartitions (vectorized
    * when every read column supports it).
    */
  override def createReaderFactory(): PartitionReaderFactory =
    IceLiteV2.parquetReaderFactory(spark, fullSchema, readSchema_, pushedFilters)

  /** The same scan surfaced as a micro-batch stream: the table's commit
    * log consumed incrementally (see [[IceLiteMicroBatchStream]]).
    * Column pruning negotiated by the ScanBuilder applies to the
    * streamed rows too.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val startVersion = Option(options.get("startingVersion")).map(_.toLong)
      .getOrElse(0L)
    val maxPerTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
      .getOrElse(Long.MaxValue)
    require(maxPerTrigger > 0, s"maxVersionsPerTrigger must be positive: $maxPerTrigger")
    new IceLiteMicroBatchStream(spark, root, startVersion, maxPerTrigger,
      fullSchema, readSchema_, pushedFilters)
  }
}

/** Session-facing surface of the DSv2 read path. */
object IceLiteV2 {

  /** Table-relative data files as whole-file splits, stat-ed through
    * the manifest ([[IceLite.fileStatuses]]) — never listed.
    */
  private[dsv2] def partitionedFiles(spark: SparkSession, root: String,
      rels: Seq[String]): Seq[PartitionedFile] =
    IceLite.fileStatuses(spark, root, rels).map { st =>
      new PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty, st.getModificationTime, st.getLen,
        Map.empty)
    }

  /** Spark's own parquet DSv2 reader factory configured for our
    * schemas — shared by the batch scan and the micro-batch stream
    * (vectorized where the read schema allows).
    */
  private[dsv2] def parquetReaderFactory(spark: SparkSession,
      fullSchema: StructType, readSchema: StructType,
      pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val emptyIndex = new InMemoryFileIndex(spark, Seq.empty, Map.empty,
      Some(fullSchema),
      org.apache.spark.sql.execution.datasources.NoopCache,
      None, None)
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      spark, hadoopConf, emptyIndex,
      fullSchema, readSchema, StructType(Nil),
      pushedFilters, CaseInsensitiveStringMap.empty(), None,
      Seq.empty, Seq.empty, Array.empty
    ).createReaderFactory()
  }

  /** The table's change feed as a Structured Streaming source: every
    * commit after `fromVersionExclusive` delivered incrementally as raw
    * change rows — payload + (`__vc`, `__vl`) LWW version + `__tomb`
    * delete marker (the downstream-consumer surface Iceberg/Delta call
    * an incremental/CDF streaming read; null-key truncate markers are
    * filtered here). Offsets are snapshot versions stored in the SS
    * checkpoint: restart-safe, exactly-once, and a resume point expired
    * by retention FAILS at planning instead of skipping commits.
    * `maxVersionsPerTrigger` bounds catch-up batch size.
    */
  def readChangesStream(spark: SparkSession, root: String,
      fromVersionExclusive: Long = 0L,
      maxVersionsPerTrigger: Long = Long.MaxValue,
      catalogName: String = "graft"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    register(spark, catalogName)
    val keyCol = IceLite.readLatest(root).getOrElse(
      throw new IllegalStateException(s"no IceLite table at $root")).keyCol
    var r = spark.readStream
      .option("startingVersion", fromVersionExclusive.toString)
    if (maxVersionsPerTrigger != Long.MaxValue)
      r = r.option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    r.table(s"$catalogName.`$root`").where(col(keyCol).isNotNull)
  }

  /** Register the `graft` catalog (table-path resolution + the bucket
    * function) and enable v2 bucketing so reported KeyGroupedPartitioning
    * actually elides exchanges. Idempotent.
    */
  def register(spark: SparkSession, catalogName: String = "graft"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalogName", classOf[IceLiteCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // co-partitioned joins across DIFFERENT (divisible) bucket counts —
    // resolved through BucketBound.reducer
    spark.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
  }

  /** Raw bucket-grouped scan (meta columns included, multiple versions
    * per key possible) as a catalog table reference.
    */
  def readRaw(spark: SparkSession, root: String, catalogName: String = "graft")
      : org.apache.spark.sql.DataFrame = {
    register(spark, catalogName)
    spark.table(s"$catalogName.`$root`")
  }

  /** Append rows through the DSv2 write path at an explicit version —
    * the common-case wrapper over `INSERT INTO graft.`root``: stamps the
    * engine meta columns (every stored row must carry its LWW version;
    * see [[IceLiteWriteBuilder]]) and appends. Rows win against existing
    * data iff (vc, vl) exceeds the stored version of their key;
    * `tombstone=true` deletes the key at that version.
    */
  def append(spark: SparkSession, root: String, rows: org.apache.spark.sql.DataFrame,
      vc: Long, vl: Long, tombstone: Boolean = false,
      catalogName: String = "graft"): Unit = {
    import org.apache.spark.sql.functions.lit
    register(spark, catalogName)
    rows
      .withColumn(IceLite.VC, lit(vc))
      .withColumn(IceLite.VL, lit(vl))
      .withColumn(IceLite.TOMB, lit(tombstone))
      .writeTo(s"$catalogName.`$root`").append()
  }

  /** Merge-on-read over the DSv2 scan: because the scan REPORTS the
    * bucket partitioning, the LWW `groupBy(key)` satisfies its
    * distribution from the layout — the whole merged read plans with
    * ZERO exchange (pinned by V2ReadSpec), and anything downstream that
    * groups or joins on the key keeps that property.
    */
  def readMerged(spark: SparkSession, root: String, catalogName: String = "graft")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val raw0 = readRaw(spark, root, catalogName)
    // Resolve the snapshot ONCE, from the very table instance the scan
    // pinned at resolution: a concurrent commit (e.g. a TRUNCATE, or
    // the async compaction daemon) between a separate readLatest and
    // the scan's own snapshot would apply an older floor to a newer
    // file set, briefly resurrecting wiped rows.
    val snap = raw0.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.asInstanceOf[IceLiteV2Table].pinnedSnapshot
    }.getOrElse(throw new IllegalStateException(
      s"catalog read of $root did not resolve to an IceLiteV2Table"))
    // the shared fold projects the key as the grouping attribute, so
    // DOWNSTREAM groupBy/joins on the key inherit the bucket layout
    // exchange-free too
    IceLite.lwwFold(raw0.where(IceLite.visible(snap)), snap.keyCol)
      .where(!col(IceLite.TOMB))
      .drop(IceLite.metaColumns: _*)
  }
}
