package graft.streaming

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{CommitIo, GraftBatchWrite, GraftDataWriter, GraftHashedDataWriter, GraftSerializableConf, GraftWriteTaskResult, StoreLog, StoreTxn, TsStore}

/** The store as a NATIVE DSv2 streaming sink — `writeStream
  * .format("graft-store")` lands micro-batches as manifest-committed
  * store writes with no user-written foreachBatch:
  *
  * {{{
  *   df.writeStream.format("graft-store")
  *     .option("path", dir).option("tsCol", "ts").option("uids", "sym")
  *     .option("feedId", "ticks")                       // append (default)
  *     .start()
  *
  *   df.writeStream.format("graft-store")
  *     .option("path", dir).option("mode", "upsert")
  *     .option("keys", "event_id").option("versionCol", "version")
  *     .option("uids", "event_type")
  *     .start()
  * }}}
  *
  * A full DSv2 `SupportsWrite` table (STREAMING_WRITE capability) — the
  * v1 `Sink.addBatch` seam is gone. APPEND mode participates in
  * planning like the batch write: `RequiresDistributionAndOrdering`
  * asks the engine to range-partition + sort each micro-batch by
  * (uid..., ts), executor tasks stage parquet in the store's canonical
  * layout, and the driver's epoch commit adopts + publishes ONE TAGGED
  * manifest version (`<feedId>-<epochId>`); a re-delivered epoch finds
  * its tag ([[StoreLog.findTag]]) and skips — the public
  * Delta/Iceberg txn-appId design, now with zero per-batch re-planning.
  * UPSERT mode stages each batch's rows distributedly, then the epoch
  * commit runs the store's partition-pruned latest-wins merge
  * ([[TsStore.upsert]]) — idempotent under re-delivery because versions
  * come from the DATA. Both paths auto-compact partitions over
  * `autoCompact` files (append defaults on — steady append ingest
  * accretes one file set per batch forever; upsert rewrites its touched
  * partitions and defaults off).
  */
class GraftStoreSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-store"

  override def supportsExternalMetadata(): Boolean = true

  /** Write-only sink: the real write schema is the streaming QUERY's
    * (delivered via `LogicalWriteInfo`); for the table-shape call,
    * answer the existing store's schema when one exists, else an empty
    * struct (nothing validates a sink table's schema against the
    * query).
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftStoreSinkProvider.pathOf(options)
    try TsStore.load(SparkSession.active, path).schema
    catch { case scala.util.control.NonFatal(_) => new StructType() }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftSinkTable(schema, new CaseInsensitiveStringMap(properties))
}

private[streaming] object GraftStoreSinkProvider {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-store sink needs a store path: .option(\"path\", dir)")
    p
  }
}

private[streaming] class GraftSinkTable(declaredSchema: StructType,
                                        options: CaseInsensitiveStringMap)
  extends Table with SupportsWrite {

  private val path = GraftStoreSinkProvider.pathOf(options)

  override def name(): String = s"graft-store-sink:$path"

  override def schema(): StructType = declaredSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // Update-as-append: the store's upsert IS the update handler
    // (latest-wins by the data's version column), and append mode takes
    // whatever rows the engine emits — so Update output needs no
    // special casing. Complete mode truncates: every epoch carries the
    // FULL result, so the commit is a versioned replace-all (the v1
    // sink accepted any OutputMode; this face must too).
    new WriteBuilder with SupportsStreamingUpdateAsAppend
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceEachEpoch = false
      override def truncate(): WriteBuilder = { replaceEachEpoch = true; this }
      override def build(): Write = {
        val tsCol = Option(options.get("tsCol")).getOrElse("ts")
        val uids = Option(options.get("uids"))
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val autoCompactOpt = Option(options.get("autoCompact")).map(_.toInt)
        val ckptInterval = Option(options.get("checkpointInterval")).map(_.toInt)
        // branch target: every epoch appends to the named branch (the
        // streaming write-audit-publish shape — land a feed invisibly,
        // audit, fast-forward); auto-compaction is forced OFF on a
        // branch (compaction is a replacing verb and refuses while a
        // branch is open)
        val branch = Option(options.get("branch")).filter(_.nonEmpty)
        if (replaceEachEpoch) {
          require(branch.isEmpty,
            "Complete-mode (replace-all) output cannot target a branch")
          // Complete output: keys/merge are moot — each epoch IS the
          // whole table; land it as a canonical-layout replace commit
          new GraftStreamingAppendWrite(path, info.schema(), uids, tsCol,
            feedId = Option(options.get("feedId")).getOrElse("feed"),
            autoCompact = None, checkpointInterval = ckptInterval,
            replaceAll = true)
        } else Option(options.get("mode")).getOrElse("append").toLowerCase match {
          case "append" =>
            new GraftStreamingAppendWrite(path, info.schema(), uids, tsCol,
              feedId = Option(options.get("feedId")).getOrElse("feed"),
              autoCompact =
                if (branch.isDefined) None else autoCompactOpt.orElse(Some(8)),
              checkpointInterval = ckptInterval, branch = branch)
          case "upsert" =>
            require(branch.isEmpty,
              "the upsert sink cannot target a branch (upsert is a " +
                "replacing merge; branches are append-only)")
            val keys = Option(options.get("keys")).getOrElse(
              throw new IllegalArgumentException(
                "graft-store upsert sink needs .option(\"keys\", \"k1,k2\")"))
              .split(',').map(_.trim).filter(_.nonEmpty).toSeq
            new GraftStreamingUpsertWrite(path, info.schema(), uids, tsCol, keys,
              versionCol = Option(options.get("versionCol")).getOrElse(
                throw new IllegalArgumentException(
                  "graft-store upsert sink needs .option(\"versionCol\", col)")),
              autoCompact = autoCompactOpt,
              checkpointInterval = ckptInterval)
          case other => throw new IllegalArgumentException(
            s"graft-store sink mode must be append|upsert, got '$other'")
        }
      }
    }
}

/** Append-only streaming write: one TAGGED manifest commit per
  * non-empty epoch; re-delivered epochs skip on their tag. The
  * exactly-once mechanism is the MANIFEST's (findTag), not the
  * checkpoint's — a fresh checkpoint replaying the source still
  * converges. Declares the canonical (uid..., ts) distribution; the
  * hashed task writer stays correct even if a given engine mode does
  * not enforce it.
  */
private[streaming] class GraftStreamingAppendWrite(path: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    feedId: String, autoCompact: Option[Int], checkpointInterval: Option[Int],
    replaceAll: Boolean = false, branch: Option[String] = None)
  extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.ordered(GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol))

  override def requiredOrdering(): Array[SortOrder] =
    GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol)

  override def toStreaming: StreamingWrite = {
    val spark = SparkSession.active
    StoreLog.ensure(path,
      checkpointInterval.getOrElse(StoreLog.CheckpointInterval))
    val (factory, conf, maxRecords) =
      GraftBatchWrite.parquetSetup(spark, path, writeSchema, uids)
    val stagingBase = TsStore.txnDir(path)
    new StreamingWrite {
      // CHECK constraints gate the stream the same way they gate batch
      // INSERTs — per row, inside the epoch's writers, before any
      // commit. Bound PER EPOCH (the engine builds one writer factory
      // per micro-batch), not once at stream start: a constraint added
      // while the query runs gates the NEXT epoch without a restart —
      // the per-write LATEST-props contract [[Constraints.forStore]]
      // documents. The epoch's bound set is kept for the commit-time
      // addedSince recheck (micro-batch epochs are serial, so the
      // single slot is never contended).
      @volatile private var epochBound: Seq[graft.sources.Constraints.Check] = Nil

      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory = {
        val bound = graft.sources.Constraints.forStore(path)
        epochBound = bound
        val checks = graft.sources.Constraints.bind(
          SparkSession.active, writeSchema, bound)
        new GraftStreamingWriterFactory(stagingBase, writeSchema, uids, tsCol,
          factory, conf, maxRecords, partitionedLayout = true, checks)
      }

      override def commit(epochId: Long,
                          messages: Array[WriterCommitMessage]): Unit = {
        val staging = s"${stagingBase}_e$epochId"
        val tag = s"$feedId-$epochId"
        // the tag guard is the APPEND path's exactly-once (re-delivered
        // rows would otherwise duplicate); a Complete-mode REPLACE is
        // idempotent by construction — re-running an epoch replaces
        // with the same content — and a fresh checkpoint restarts epoch
        // numbering, so the tag must not dedupe across queries there
        if (!replaceAll && StoreLog.findTag(path, tag).isDefined) {
          StoreLog.deleteStaging(staging) // re-delivered epoch: drop dup rows
          return
        }
        // only the committed attempts' named files (see GraftBatchWrite)
        val named = messages.toSeq.collect {
          case GraftWriteTaskResult(fs) => fs }.flatten
        val movedAny = StoreTxn.staged(path, staging, Some(named)) { txn =>
          txn.moved.nonEmpty && txn.commit(
              StoreLog.latestVersion(path).get) { curV => // ensured at start
            // ZOMBIE-DRIVER race: a replacement driver may have
            // committed THIS epoch between our findTag check and a lost
            // CAS — re-check the tag before retrying, and drop our
            // now-redundant files if it landed
            if (txn.retrying && !replaceAll &&
                StoreLog.findTag(path, tag).isDefined) {
              StoreLog.deleteDataFiles(path, txn.moved)
              false
            } else {
              val curProps = StoreLog.propsAt(path, curV)
              // a CHECK constraint added since this epoch's writers
              // bound their guard set: the staged rows were never
              // validated against it — fail the epoch (the restarted
              // query rebinds and replays the source)
              txn.abortIfChecksAdded(epochBound, curProps,
                s"epoch $epochId aborted")
              // Complete-mode epochs REPLACE the store (versioned, like
              // INSERT OVERWRITE); append epochs are pure REF-AWARE
              // additions (a branch-targeted epoch reads the branch
              // head's files and advances the branch pin in its commit)
              // and take the O(commit) transform path when branchless
              if (replaceAll && curProps.contains(StoreLog.MainRefProp))
                txn.refuse(new IllegalStateException(
                  s"store at $path has open branch(es) — Complete-mode " +
                    "epochs replace the store and refuse while a branch " +
                    "is open"))
              // the tag guards the APPEND path's exactly-once; the
              // hashed epoch writer lands rows in ARRIVAL order — the
              // store's layout-order contract is gone
              TsStore.stagedAppend(txn, curV, curProps, branch, replaceAll,
                  tag = if (replaceAll) None else Some(tag)) { parent =>
                graft.sources.GraftTable.widenedSchemaProp(parent, writeSchema) +
                  (graft.sources.GraftTable.LayoutSortedProp -> "false")
              }
              true
            }
          }
        }
        if (movedAny)
          autoCompact.foreach(cap =>
            StoreIngest.autoCompact(SparkSession.active, path, cap, tsCol, uids))
      }

      override def abort(epochId: Long,
                         messages: Array[WriterCommitMessage]): Unit =
        StoreLog.deleteStaging(s"${stagingBase}_e$epochId")
    }
  }

  override def description(): String = s"graft-store-append:$path"
}

/** Latest-wins upsert streaming write: tasks stage the epoch's rows as
  * plain full-schema parquet (a distributed spill, no layout contract);
  * the epoch commit reads the staged rows back and runs the store's
  * partition-pruned, manifest-committed MERGE ([[TsStore.upsert]]).
  * Idempotent under re-delivery because versions come from the data.
  */
private[streaming] class GraftStreamingUpsertWrite(path: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    keys: Seq[String], versionCol: String,
    autoCompact: Option[Int], checkpointInterval: Option[Int]) extends Write {

  override def toStreaming: StreamingWrite = {
    val spark = SparkSession.active
    checkpointInterval.foreach(i => StoreLog.ensure(path, i))
    // staging is a flat row spill: ALL columns are data columns
    val (factory, conf, maxRecords) =
      GraftBatchWrite.parquetSetup(spark, path, writeSchema, Seq.empty)
    val stagingBase = TsStore.txnDir(path)
    new StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory =
        new GraftStreamingWriterFactory(stagingBase, writeSchema, Seq.empty,
          tsCol, factory, conf, maxRecords, partitionedLayout = false)

      override def commit(epochId: Long,
                          messages: Array[WriterCommitMessage]): Unit = {
        val spark = SparkSession.active
        val staging = s"${stagingBase}_e$epochId"
        // read ONLY the committed attempts' named files — the staging
        // dir may hold failed/speculative attempts' torn or duplicate
        // spill files (see GraftBatchWrite)
        val named = messages.toSeq.collect {
          case GraftWriteTaskResult(fs) => fs }.flatten
        try {
          if (named.nonEmpty) {
            val batch = spark.read.schema(writeSchema)
              .parquet(named.map(f => s"$staging/$f"): _*)
            TsStore.upsert(spark, path, batch, keyCols = keys,
              versionCol = versionCol, tsCol = tsCol, uidCols = uids)
            autoCompact.foreach(cap =>
              StoreIngest.autoCompact(spark, path, cap, tsCol, uids))
          }
        } finally StoreLog.deleteStaging(staging)
      }

      override def abort(epochId: Long,
                         messages: Array[WriterCommitMessage]): Unit =
        StoreLog.deleteStaging(s"${stagingBase}_e$epochId")
    }
  }

  override def description(): String = s"graft-store-upsert:$path"
}

/** Per-epoch task writers: `partitionedLayout` = the append path's
  * hive-style store layout ([[GraftHashedDataWriter]] — correct sorted
  * or not); flat = the upsert path's row spill ([[GraftDataWriter]]
  * with no partition columns — one rolled file per task).
  */
private[streaming] class GraftStreamingWriterFactory(stagingBase: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: GraftSerializableConf, maxRecordsPerFile: Long,
    partitionedLayout: Boolean,
    checks: Seq[graft.sources.Constraints.Bound] = Nil)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val staging = s"${stagingBase}_e$epochId"
    if (partitionedLayout)
      new GraftHashedDataWriter(staging, writeSchema, uids, tsCol,
        factory, conf.value, partitionId, taskId, maxRecordsPerFile, checks)
    else
      new GraftDataWriter(staging, writeSchema, Seq.empty, tsCol,
        factory, conf.value, partitionId, taskId, maxRecordsPerFile, checks)
  }
}
