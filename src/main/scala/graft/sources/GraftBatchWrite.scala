package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType

/** The NATIVE DSv2 batch write for `INSERT INTO` on a graft table —
  * the write-side twin of the manifest-planned scan. What the V1
  * `InsertableRelation` fallback could never do: declare the store's
  * CANONICAL layout to Spark's planner via
  * [[RequiresDistributionAndOrdering]], so the engine itself
  * range-partitions and sorts the incoming rows by (uid..., ts) BEFORE
  * any writer task runs — the same
  * `repartitionByRange(uid, ts).sortWithinPartitions` shape
  * [[TsStore.write]] builds by hand, now arriving for free on every
  * SQL `INSERT INTO`. The resulting files carry the same tight
  * per-file ts bounds (manifest stats) the Scala write path produces,
  * which is what makes every later ts-slice prunable.
  *
  * Commit protocol: tasks write parquet into a txn-private staging
  * directory (UUID-named files — no coordination needed); the driver's
  * [[BatchWrite.commit]] adopts the staged files and publishes ONE
  * manifest version under a writer lease, with the same CAS-rebase
  * retry as the Scala append (pure file additions serialize after any
  * concurrent commit). A crash before the publish leaves the previous
  * version live — readers never see a partial INSERT.
  */
class GraftBatchWrite(path: String, writeSchema: StructType,
                      uids: Seq[String], tsCol: String,
                      truncate: Boolean = false)
  extends Write with RequiresDistributionAndOrdering {

  require(uids.forall(writeSchema.fieldNames.contains),
    s"partition columns ${uids.mkString(",")} must be in the written schema")

  /** Range-partition by (uid..., ts): a globally ORDERED distribution —
    * co-locates each series' time range AND splits a skewed series
    * across tasks by time, exactly the Scala path's
    * `repartitionByRange`. Clustered-by-uid would hotspot one task per
    * hot series.
    */
  override def requiredDistribution(): Distribution =
    Distributions.ordered(GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol))

  override def requiredOrdering(): Array[SortOrder] =
    GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol)

  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    val staging = TsStore.txnDir(path)
    val (factory, conf, maxRecords) =
      GraftBatchWrite.parquetSetup(spark, path, writeSchema, uids)
    val boundSet = Constraints.forStore(path)
    val checks = Constraints.bind(spark, writeSchema, boundSet)
    new GraftBatchWriteExec(path, staging, writeSchema, uids, tsCol,
      factory, conf, truncate, maxRecords, checks, boundSet)
  }

  override def description(): String = s"graft-native-write:$path"
}

private[graft] object GraftBatchWrite {
  /** Shared parquet write setup for the native batch AND streaming
    * writes — the Scala path's geometry: micros timestamps (INT96 has
    * no stats), zstd, 16 MB row groups, the store's bloom columns.
    */
  def parquetSetup(spark: SparkSession, path: String,
                   writeSchema: StructType, uids: Seq[String])
      : (OutputWriterFactory, GraftSerializableConf, Long) = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val conf = job.getConfiguration
    // COLUMN MAPPING: a renamed column writes its ORIGINAL parquet
    // name ([[GraftTable.PhysicalKey]]) so every file of the store
    // carries one stable physical schema — a pure field rename here
    // (rows are positional), applied from the store's declared schema
    val declared = if (StoreLog.canLog(path))
      StoreLog.latestVersion(path)
        .flatMap(v => StoreLog.propsAt(path, v).get(GraftTable.SchemaProp))
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType])
      else None
    val physSchema = declared.filter(GraftTable.hasRenames)
      .map(d => GraftTable.toPhysical(writeSchema, d))
      .getOrElse(writeSchema)
    val dataSchema = StructType(
      physSchema.fields.filterNot(f => uids.contains(f.name)))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map("compression" -> "zstd"), dataSchema)
    // AFTER prepareWrite (which pins the session's value): INT64 micros,
    // never INT96 — INT96 columns carry no parquet min/max stats, which
    // would silently strip the manifest's ts index from every write
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.setLong("parquet.block.size", 16L << 20)
    val blooms =
      if (StoreLog.canLog(path))
        StoreLog.latestVersion(path)
          .map(v => StoreLog.bloomColsAt(path, v)).getOrElse(Nil)
      else Nil
    blooms.foreach(c => conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
    val maxRecords = spark.conf
      .getOption("spark.graft.write.maxRecordsPerFile").map(_.toLong)
      .getOrElse(8L << 20)
    (factory, new GraftSerializableConf(conf), maxRecords)
  }

  /** The (uid..., ts) ascending sort — the store's canonical order,
    * shared by the batch and streaming writes' distribution contracts.
    */
  def canonicalOrdering(writeSchema: StructType, uids: Seq[String],
                        tsCol: String): Array[SortOrder] = {
    val cols = uids ++
      (if (writeSchema.fieldNames.contains(tsCol) && !uids.contains(tsCol))
        Seq(tsCol) else Seq.empty)
    cols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  }
}

/** Driver-side commit half of the native write. */
private[sources] class GraftBatchWriteExec(path: String, staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: GraftSerializableConf,
    truncate: Boolean, maxRecordsPerFile: Long = 8L << 20,
    checks: Seq[Constraints.Bound] = Nil,
    boundSet: Seq[Constraints.Check] = Nil)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(staging, writeSchema, uids, tsCol, factory, conf,
      maxRecordsPerFile, checks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // adopt ONLY the files the committed task attempts NAMED — the
    // staging dir may also hold failed/speculative attempts' files
    // (torn footers, duplicate rows); those die with the staging dir
    val named = messages.toSeq.collect {
      case GraftWriteTaskResult(fs) => fs }.flatten
    StoreTxn.staged(path, staging, Some(named)) { txn =>
      val base = StoreLog.latestVersion(path).getOrElse { // first-ever commit
        StoreLog.ensure(path); StoreLog.latestVersion(path).get }
      txn.commit(base) { curV =>
        val curProps = StoreLog.propsAt(path, curV)
        // a CHECK constraint added while this INSERT was in flight —
        // the written rows were guarded against the set bound at
        // write-build; abort rather than commit unchecked rows after
        // the constraint's whole-table certification
        txn.abortIfChecksAdded(boundSet, curProps, "re-run the INSERT")
        // an OVERWRITE is a versioned REPLACE of the whole store and
        // refuses while a branch is open; an APPEND is a pure addition
        // that rebases cleanly ([[TsStore.stagedAppend]])
        if (truncate && curProps.contains(StoreLog.MainRefProp))
          txn.refuse(new IllegalStateException(
            s"store at $path has open branch(es) — INSERT OVERWRITE " +
              "refuses while a branch is open; publish or drop it first"))
        // an OVERWRITE redefines the whole store with canonically sorted
        // files — (re)establish the layout-order contract; an append's
        // sorted additions just inherit the parent's
        TsStore.stagedAppend(txn, curV, curProps, branch = None,
            replaceAll = truncate, tag = None) { _ =>
          if (truncate) Map(GraftTable.LayoutSortedProp -> "true")
          else Map.empty
        }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StoreLog.deleteStaging(staging)
}

private[graft] case class GraftWriteTaskResult(files: Seq[String])
  extends WriterCommitMessage

private[sources] class GraftDataWriterFactory(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: GraftSerializableConf,
    maxRecordsPerFile: Long, checks: Seq[Constraints.Bound] = Nil)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(staging, writeSchema, uids, tsCol, factory,
      conf.value, partitionId, taskId, maxRecordsPerFile, checks)
}

/** Shared task-writer base: the projections, the hive-style
  * `name=value` path rendering (Spark's own escaping and UTC string
  * cast — byte-identical to the dynamic-partition writer's layout),
  * the null-ts guard, file naming, and the commit message. Subclasses
  * supply only the OPEN-FILE policy (sorted single-writer vs hashed
  * map).
  */
private[graft] abstract class GraftWriterBase(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: Configuration,
    partitionId: Int, taskId: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends DataWriter[InternalRow] {

  // CHECK constraints ride the writer itself (codegen'd predicates,
  // one branch per row) — enforcement costs no extra pass over the
  // incoming data; see [[Constraints]]
  private val rowGuard = new Constraints.RowGuard(checks, partitionId)

  protected val dataSchema = StructType(
    writeSchema.fields.filterNot(f => uids.contains(f.name)))
  protected val uidIdx = uids.map(writeSchema.fieldIndex)
  private val tsIdx =
    if (writeSchema.fieldNames.contains(tsCol)) writeSchema.fieldIndex(tsCol) else -1
  protected val dataProj = UnsafeProjection.create(
    writeSchema.fields.zipWithIndex.filterNot { case (f, _) => uids.contains(f.name) }
      .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
      .toArray.asInstanceOf[Array[org.apache.spark.sql.catalyst.expressions.Expression]])
  // partition value rendering: Cast-to-string in UTC — the same
  // expression Spark's dynamic-partition writer uses for path segments
  private val segCasts = uidIdx.map { i =>
    Cast(BoundReference(i, writeSchema(i).dataType, writeSchema(i).nullable),
      org.apache.spark.sql.types.StringType, Some(java.time.ZoneOffset.UTC.getId))
  }

  private val taskUuid = java.util.UUID.randomUUID().toString.replace("-", "")
  private val written = Seq.newBuilder[String]
  private var fileSeq = 0

  private def attemptContext(): TaskAttemptContextImpl = {
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), taskId.toInt)
    new TaskAttemptContextImpl(conf, attemptId)
  }

  protected def partitionDir(row: InternalRow): String =
    uids.zip(segCasts).map { case (name, cast) =>
      val v = cast.eval(row)
      val seg =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v.toString)
      s"$name=$seg"
    }.mkString("/")

  /** Open the next uniquely-named file under `dir` ("" = staging root). */
  protected def openWriter(dir: String): OutputWriter = {
    val prefix = if (dir.isEmpty) "" else dir + "/"
    val rel = f"${prefix}part-$partitionId%05d-$taskUuid-$fileSeq%03d.parquet"
    fileSeq += 1
    written += rel
    factory.newInstance(s"$staging/$rel", dataSchema, attemptContext())
  }

  protected def guardTs(row: InternalRow): Unit = {
    if (tsIdx >= 0 && row.isNullAt(tsIdx))
      throw new IllegalArgumentException(
        s"null $tsCol value — refusing write (the store's time column is mandatory)")
    if (!rowGuard.isEmpty) rowGuard.check(row)
  }

  protected def closeOpenWriters(): Unit

  override def commit(): WriterCommitMessage = {
    closeOpenWriters()
    GraftWriteTaskResult(written.result())
  }

  override def abort(): Unit = closeOpenWriters()

  override def close(): Unit = closeOpenWriters()
}

/** One task's writer for SORTED input: rows arrive ordered by
  * (uid..., ts) (the Write's required ordering), so partition-directory
  * transitions are detected by comparing consecutive uid keys — one
  * open file at a time, rolled on key change or the max-records bound.
  */
private[graft] class GraftDataWriter(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: Configuration,
    partitionId: Int, taskId: Long, maxRecordsPerFile: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends GraftWriterBase(staging, writeSchema, uids, tsCol, factory, conf,
    partitionId, taskId, checks) {

  private val keyProj = UnsafeProjection.create(uidIdx.map(i =>
    BoundReference(i, writeSchema(i).dataType, writeSchema(i).nullable)).toArray
    .asInstanceOf[Array[org.apache.spark.sql.catalyst.expressions.Expression]])

  private var currentKey: UnsafeRow = _
  private var writer: OutputWriter = _
  private var recordsInFile = 0L

  private def roll(row: InternalRow): Unit = {
    closeOpenWriters()
    writer = openWriter(if (uids.isEmpty) "" else partitionDir(row))
    recordsInFile = 0L
  }

  override def write(row: InternalRow): Unit = {
    guardTs(row)
    val key = keyProj(row)
    if (currentKey == null || key != currentKey) {
      currentKey = key.copy()
      roll(row)
    } else if (recordsInFile >= maxRecordsPerFile) roll(row)
    writer.write(dataProj(row))
    recordsInFile += 1L
  }

  override protected def closeOpenWriters(): Unit =
    if (writer != null) { writer.close(); writer = null }
}

/** The STREAMING append writer: same staged parquet layout, but robust
  * to UNSORTED input — a micro-batch engine may or may not honor the
  * write's required ordering, so open writers are kept per partition
  * directory in a map (bounded by the task's distinct uid values; with
  * the ordering honored the map holds one entry). Rolls on the
  * max-records bound.
  */
private[graft] class GraftHashedDataWriter(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: Configuration,
    partitionId: Int, taskId: Long, maxRecordsPerFile: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends GraftWriterBase(staging, writeSchema, uids, tsCol, factory, conf,
    partitionId, taskId, checks) {

  private final class Open(var writer: OutputWriter, var records: Long)
  private val open = scala.collection.mutable.LinkedHashMap.empty[String, Open]

  override def write(row: InternalRow): Unit = {
    guardTs(row)
    val dir = if (uids.isEmpty) "" else partitionDir(row)
    val o = open.get(dir) match {
      case Some(cur) if cur.records < maxRecordsPerFile => cur
      case Some(cur) =>
        cur.writer.close()
        val fresh = new Open(openWriter(dir), 0L); open(dir) = fresh; fresh
      case None =>
        val fresh = new Open(openWriter(dir), 0L); open(dir) = fresh; fresh
    }
    o.writer.write(dataProj(row))
    o.records += 1L
  }

  override protected def closeOpenWriters(): Unit = {
    open.valuesIterator.foreach(o => o.writer.close())
    open.clear()
  }
}

/** Minimal serializable Hadoop-Configuration carrier (the Spark-internal
  * one is `private[spark]`).
  */
private[graft] class GraftSerializableConf(@transient var value: Configuration)
  extends Serializable {
  @throws(classOf[IOException])
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws(classOf[IOException])
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
