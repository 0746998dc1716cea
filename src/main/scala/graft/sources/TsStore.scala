package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native equivalent of the reference's chunked columnar timeseries
  * store (corintick: named series in LZ4-compressed MongoDB documents with
  * a `(uid, start, end)` index — `corintick/corintick.py::Corintick.write`
  * ~L100–160 / `.read` ~L60–100, reconstructed; see SURVEY.md §1).
  *
  * Mapping (SURVEY §1.2):
  *   - named series `uid`        → partition directory (`partitionBy(uid)`)
  *   - chunk `start`/`end` bounds → parquet row-group min/max stats on `ts`
  *     (rows are range-partitioned + sorted on write so row groups carry
  *     tight bounds → data skipping ≙ the Mongo compound index)
  *   - per-column LZ4 blob       → parquet column chunks (codec from conf)
  *   - metadata key/values       → ordinary columns; filters are predicates
  *
  * At 100 TB: writes shuffle once (`repartitionByRange`) producing
  * time-clustered files per uid; reads are pruned by partition (uid) and
  * row group (ts) before any executor touches data — no driver collect,
  * no full scans for sliced reads.
  */
object TsStore {

  /** What to do when an append's time range overlaps data already stored
    * for the same series — the reference's write-time overlap validation
    * (`Corintick._validate*` ~L80–100 warns on overlapping `(uid, start,
    * end)` extents, because a double-write silently duplicates ticks).
    */
  sealed trait OverlapPolicy
  object OverlapPolicy {
    /** Refuse the write (fail fast — the strict-ingest setting). */
    case object Error extends OverlapPolicy
    /** Log a warning and append anyway (the reference's default). */
    case object Warn extends OverlapPolicy
    /** Skip the pre-scan entirely (bulk backfills that manage ranges). */
    case object Allow extends OverlapPolicy
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Series of the incoming frame whose [min ts, max ts] extent
    * intersects a stored CHUNK's extent for the same uid — per-chunk
    * (per parquet file), not the per-uid hull, so a backfill into a
    * genuine gap between chunks is NOT flagged (matches the reference's
    * per-chunk `(uid, start, end)` validation; a hull check would refuse
    * every legitimate gap fill). Returns human-readable descriptions
    * (bounded by the distinct uids in ONE write batch — driver-side
    * metadata, not data).
    *
    * Also rejects null timestamps in `incoming` (one pass computes both
    * the null count and the extents, so `write` needs no separate
    * validation job).
    *
    * Scale shape: the stored side is filtered to exactly the incoming
    * uids BEFORE aggregating — with uid as a partition column that is
    * plan-time partition pruning, so the pre-scan touches only the
    * affected series' files and reduces them to per-file footer stats
    * (min/max of ts), never the full store. The Mongo analog is the
    * `(uid, start, end)` index lookup the reference does per write.
    */
  /** Partition predicate over collected uid values — one definition for
    * the overlap guard's pre-scan and [[upsertPlan]]'s base prune. A
    * single uid column (the Bundles case) becomes one IN-list predicate:
    * partition-prunable and O(1) plan nodes however many series the
    * batch touches. Composite keys fall back to an OR of conjunctions,
    * fine for the handful of series a normal batch carries. Caller
    * guarantees `rows` non-empty.
    */
  /** Balanced OR over disjuncts: a left-nested `reduce(_ || _)` builds a
    * Column tree as DEEP as the key count, and the ColumnNode→Expression
    * conversion recurses it — a 1000-key takedown chunk overflows the
    * stack before the plan even exists. Balancing keeps depth at
    * log2(n), so the chunk caps bound plan WIDTH and nothing bounds
    * depth but the logarithm.
    */
  private def orBalanced(cs: IndexedSeq[Column]): Column =
    if (cs.sizeIs == 1) cs.head
    else {
      val (a, b) = cs.splitAt(cs.size / 2)
      orBalanced(a) || orBalanced(b)
    }

  private[graft] def keyPredicate(rows: Seq[org.apache.spark.sql.Row],
                                  keyCols: Seq[String]): Column =
    if (keyCols.sizeIs == 1) col(keyCols.head).isin(rows.map(_.get(0)): _*)
    else orBalanced(rows.toIndexedSeq.map { r =>
      keyCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }.reduce(_ && _)
    })

  /** VERSIONED takedown predicate: each row is (key components…,
    * delete-version), and a stored row matches when its key equals one
    * of them AND its `versionCol` is <= that key's delete version —
    * delete-wins-ties, reinserts-at-higher-versions survive (the CDC
    * in-batch order resolution; see
    * [[graft.streaming.StoreIngest.startCdc]]). Plan size is O(rows):
    * callers chunk large key sets
    * ([[graft.streaming.StoreIngest.MaxKeysPerDeletePass]]).
    */
  private[graft] def versionedKeyPredicate(rows: Seq[org.apache.spark.sql.Row],
                                           keyCols: Seq[String],
                                           versionCol: String): Column =
    orBalanced(rows.toIndexedSeq.map { r =>
      val keyEq = keyCols.zipWithIndex
        .map { case (c, i) => col(c) === lit(r.get(i)) }.reduce(_ && _)
      keyEq && col(versionCol) <= lit(r.get(keyCols.size))
    })

  def overlappingSeries(spark: SparkSession, path: String, incoming: DataFrame,
                        tsCol: String, uidCols: Seq[String]): Seq[String] = {
    require(uidCols.nonEmpty, "overlap check needs at least one uid column")
    val inExt = incoming.groupBy(uidCols.map(col): _*)
      .agg(min(col(tsCol)).as("__in_min"), max(col(tsCol)).as("__in_max"),
        count(when(col(tsCol).isNull, lit(1))).as("__in_nulls"))
      .collect()
    val nulls = inExt.map(_.getAs[Long]("__in_nulls")).sum
    require(nulls == 0, s"$nulls null $tsCol values — refusing write")
    if (inExt.isEmpty) return Seq.empty
    val stored =
      try load(spark, path)
      catch { case _: org.apache.spark.sql.AnalysisException => return Seq.empty }
    val uidPred = keyPredicate(inExt.toSeq, uidCols)
    // keys compare as STRINGS: partition-column type inference can read
    // a numeric-looking string uid back as int ("123" → 123), and the
    // driver-side map lookup must not silently miss the overlap for it.
    // Grouping by input file gives per-CHUNK extents (ts-sorted chunked
    // writes make these tight); chunk count per uid is bounded by write
    // cadence, and compact() collapses it.
    val storedExt = stored.filter(uidPred)
      .groupBy((uidCols.map(col) :+ input_file_name().as("__file")): _*)
      .agg(min(col(tsCol)).as("__st_min"), max(col(tsCol)).as("__st_max"))
      .collect()
      .groupBy(r => uidCols.indices.map(i => String.valueOf(r.get(i))).toSeq)
      .view.mapValues(_.map(r => (r.get(uidCols.size + 1), r.get(uidCols.size + 2))).toSeq)
      .toMap
    // ts may be timestamp OR long (ns ticks) — both are Comparable
    def cmp(a: Any, b: Any) = a.asInstanceOf[Comparable[Any]].compareTo(b)
    inExt.toSeq.flatMap { r =>
      val key = uidCols.indices.map(i => String.valueOf(r.get(i))).toSeq
      val inMin = r.get(uidCols.size); val inMax = r.get(uidCols.size + 1)
      storedExt.getOrElse(key, Seq.empty).collectFirst {
        case (stMin, stMax) if cmp(inMax, stMin) >= 0 && cmp(inMin, stMax) <= 0 =>
          s"${uidCols.zip(key).map { case (c, v) => s"$c=$v" }.mkString(",")} " +
            s"incoming=[$inMin, $inMax] stored-chunk=[$stMin, $stMax]"
      }
    }
  }

  /** Monotonicity / sanity validation analogous to the reference's
    * write-time checks (`Corintick._validate*` ~L80–100): the time column
    * must be non-null; if `strictlyIncreasing`, no duplicate timestamps
    * per uid. Returns the number of violations found (0 == valid).
    */
  def validate(df: DataFrame, tsCol: String, uidCols: Seq[String],
               strictlyIncreasing: Boolean = false): Long = {
    val nulls = df.filter(col(tsCol).isNull).count()
    if (nulls > 0) return nulls
    if (!strictlyIncreasing) 0L
    else {
      val w = if (uidCols.isEmpty) Window.orderBy(col(tsCol))
              else Window.partitionBy(uidCols.map(col): _*).orderBy(col(tsCol))
      df.select((col(tsCol) <= lag(col(tsCol), 1).over(w)).as("bad"))
        .filter(col("bad")).count()
    }
  }

  /** Chunked columnar write. Range-partition by (uid, ts) so each output
    * file covers a contiguous time slice of few uids (tight row-group
    * stats), sort within partitions by ts (monotonic chunks, as the
    * reference requires of its input), then write partitioned parquet.
    *
    * Chunk geometry is PINNED, not left to cluster defaults — the
    * reference splits chunks under the 16 MB BSON document cap
    * (`serialization.py` ~L90–110) because chunk size is what makes a
    * sliced read touch little data. Here the same role is played by the
    * parquet row group: `rowGroupBytes` (default 16 MB ≙ the BSON cap)
    * bounds the unit of ts-slice skipping — a 128 MB default row group
    * makes a 1-minute slice read 128 MB per file — and
    * `maxRecordsPerFile` (default 8M rows) bounds single-file blowup so
    * one hot series cannot produce a file whose footer/metadata stalls
    * planning. Both are per-write options, not session mutations.
    */
  def write(df: DataFrame, path: String, tsCol: String = "ts",
            uidCols: Seq[String] = Seq.empty,
            mode: SaveMode = SaveMode.Overwrite,
            codec: String = "zstd",
            overlapPolicy: OverlapPolicy = OverlapPolicy.Warn,
            rowGroupBytes: Long = 16L << 20,
            maxRecordsPerFile: Long = 8L << 20,
            commitTag: Option[String] = None,
            bloomKeys: Seq[String] = Nil,
            checkpointInterval: Int = StoreLog.CheckpointInterval,
            branch: Option[String] = None): Unit = {
    // branch target: append-only onto a logged store's named branch
    // ([[TsStore.branch]]) — the write-audit-publish ingest shape. The
    // overlap guard (below) reads the MAIN view; branch-vs-branch
    // overlap is audited at publish, not per append.
    branch.foreach { b =>
      require(mode == SaveMode.Append,
        s"branch '$b' writes are append-only (Overwrite replaces the store)")
      require(StoreLog.canLog(path) && StoreLog.exists(path),
        s"branch '$b' needs a logged store at $path")
    }
    if (mode == SaveMode.Overwrite && StoreLog.canLog(path) &&
        StoreLog.exists(path))
      require(StoreLog.branches(path).isEmpty,
        s"store at $path has open branch(es) " +
          s"${StoreLog.branches(path).keys.mkString(", ")} — an Overwrite " +
          "destroys the whole log; publish or drop them first")
    // write-time overlap guard (reference behavior): appending a chunk
    // whose time range intersects what's stored for the same series is
    // almost always a double-write that silently duplicates rows. The
    // pre-scan doubles as the null-ts validation (one job computes
    // both), so `validate` runs separately only when the guard doesn't.
    // NOTE each pre-write job re-executes the incoming frame's lineage —
    // callers appending from an expensive upstream pipeline should
    // .cache() it or pass OverlapPolicy.Allow.
    // a renamed store's files carry PHYSICAL names — translate an
    // appended frame's declared names before anything touches it
    // (an Overwrite REPLACES the store, declaration included, so the
    // incoming names ARE the new physical schema: no translation).
    // CHECK constraints gate the append FIRST, on the user's declared
    // names (the guard is a codegen'd filter inside the write lineage)
    val appendChecks =
      if (mode == SaveMode.Append) Constraints.forStore(path) else Nil
    val dfC = if (mode == SaveMode.Append) Constraints.guard(df, appendChecks)
              else df
    val dfW = if (mode == SaveMode.Append) physicalFrame(dfC, physRenames(path))
              else dfC
    val overlapChecked = mode == SaveMode.Append && uidCols.nonEmpty &&
      overlapPolicy != OverlapPolicy.Allow
    // Null-ts validation: the overlap pre-scan (when it runs) counts
    // nulls in its own job. Otherwise the check rides INSIDE the write
    // lineage as a codegen'd assert_true filter (the Constraints.guard
    // pattern) — one pass over the input instead of a dedicated
    // full-scan job before the write. Exception: an Overwrite onto an
    // EXISTING logged store still pre-scans, because the overwrite
    // deletes the log before writing and a refusal must land BEFORE
    // that destruction, not mid-job.
    val mustPreScan = !overlapChecked && mode == SaveMode.Overwrite &&
      StoreLog.canLog(path) && StoreLog.exists(path)
    if (mustPreScan)
      require(validate(dfW, tsCol, uidCols) == 0, s"null $tsCol values — refusing write")
    val dfV =
      if (overlapChecked || mustPreScan) dfW
      else dfW.filter(assert_true(col(tsCol).isNotNull,
        lit(s"null $tsCol values — refusing write")).isNull)
    if (overlapChecked) {
      val bad = overlappingSeries(dfW.sparkSession, path, dfW, tsCol, uidCols)
      if (bad.nonEmpty) {
        val msg = s"append overlaps stored time ranges for ${bad.size} series " +
          s"(double-write?): ${bad.take(5).mkString("; ")}" +
          (if (bad.size > 5) " …" else "")
        if (overlapPolicy == OverlapPolicy.Error)
          throw new IllegalArgumentException(
            s"$msg — pass overlapPolicy=Warn/Allow to append anyway")
        else log.warn(msg)
      }
    }
    val rangeCols: Seq[Column] = uidCols.map(col) :+ col(tsCol)
    val sorted = dfV.repartitionByRange(rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
    // Manifest handling applies to paths whose backend has an atomic
    // publish primitive (local, file:, HDFS-likes — CommitIo.forPath);
    // other schemes take the plain write, and upsert/ensure on such a
    // path fail loudly inside StoreLog instead.
    if (mode == SaveMode.Overwrite) {
      // an overwrite is a NEW store — a stale manifest naming deleted
      // files must not survive it
      if (StoreLog.canLog(path)) StoreLog.delete(path)
      writeFiles(sorted, path, uidCols, mode, codec, rowGroupBytes,
        maxRecordsPerFile, bloomKeys)
      // adopt-commit the fresh store RIGHT HERE, while provenance is
      // known: every file just written is (uid..., ts)-sorted, so the
      // manifest records the layout-order contract (the scan's
      // sort-elision license) plus the ts column and any bloom columns
      // — properties later rewrites inherit or deliberately clear
      if (StoreLog.canLog(path))
        StoreLog.ensure(path, checkpointInterval = checkpointInterval,
          bloomCols = bloomKeys,
          props = Map(GraftTable.LayoutSortedProp -> "true",
            GraftTable.TsColProp -> tsCol))
    } else if (StoreLog.canLog(path) && StoreLog.exists(path)) {
      // logged store: appended files must be NAMED by a manifest commit
      // or manifest readers never see them. Stage to a txn-private dir,
      // move into place (invisible until committed), publish. A pure
      // file ADDITION serializes after any concurrent commit, so a CAS
      // loss always rebases onto the winner's file list.
      val staging = txnDir(path)
      val appendBlooms =
        if (bloomKeys.nonEmpty) bloomKeys
        else StoreLog.latestVersion(path)
          .map(v => StoreLog.bloomColsAt(path, v)).getOrElse(Nil)
      writeFiles(sorted, staging, uidCols, SaveMode.Overwrite, codec,
        rowGroupBytes, maxRecordsPerFile, appendBlooms)
      StoreTxn.staged(path, staging, digestCols = Some(appendBlooms)) { txn =>
        txn.commit(StoreLog.latestVersion(path).get) { curV => // exists() held above
          val curProps = StoreLog.propsAt(path, curV)
          // a CHECK constraint added since this append bound its guard
          // set means the staged rows were never validated against it —
          // abort rather than commit unchecked rows AFTER the
          // constraint's whole-table certification (see
          // [[Constraints.addedSince]]; the CAS totally orders us)
          txn.abortIfChecksAdded(appendChecks, curProps, "re-run the append")
          stagedAppend(txn, curV, curProps, branch, replaceAll = false,
            commitTag)(GraftTable.widenedSchemaProp(_, dfW.schema))
        }
      }
    } else writeFiles(sorted, path, uidCols, mode, codec, rowGroupBytes,
      maxRecordsPerFile, bloomKeys)
  }

  private[graft] def txnDir(path: String): String =
    s"$path/_graft_txn_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** logical→physical name map for the store's RENAMED columns only
    * (empty on never-renamed stores — the overwhelmingly common case).
    * See [[GraftTable.PhysicalKey]]: after ALTER TABLE RENAME COLUMN,
    * the data keeps living under the original parquet name; every
    * write path must land files carrying that one stable physical
    * schema, or reads (which request physical names) would null out
    * the new files' values.
    */
  private def physRenames(path: String): Map[String, String] =
    (if (StoreLog.canLog(path)) StoreLog.latestVersion(path)
       .map(v => StoreLog.propsAt(path, v)) else None)
      .flatMap(_.get(GraftTable.SchemaProp))
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .filter(GraftTable.hasRenames)
      .map(d => GraftTable.physMap(d).filter { case (l, p) => l != p })
      .getOrElse(Map.empty)

  /** `df` with renamed columns translated to their PHYSICAL parquet
    * names — the Scala-path twin of the DSv2 writer's COLUMN MAPPING
    * ([[GraftBatchWrite]]). Identity when `renames` is empty. The
    * mapping is applied SIMULTANEOUSLY (one select, like the writer's
    * map-based [[GraftTable.toPhysical]]): a sequential
    * withColumnRenamed fold would collide on swap-shaped rename sets
    * ({amount→value, value→score} renames `amount` onto a still-live
    * `value`, and the second step then renames BOTH).
    */
  private def physicalFrame(df: DataFrame,
                            renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(renames.getOrElse(c, c))): _*)

  /** The physical parquet write (shared by the plain and the staged-txn
    * paths). Timestamps MUST be INT64 micros, not the INT96 legacy type:
    * INT96 columns carry NO parquet min/max statistics, which silently
    * turns every ts-slice into a full scan (measured: the row-group-skip
    * test reads 100% of rows under INT96). Session-conf-only in Spark,
    * so set and restore around the write. Concurrent TsStore writes all
    * pin the SAME value, so they overlap freely under the
    * reference-counted pin below (last one out restores); a NON-TsStore
    * parquet write racing on the same session during this window would
    * still see the pinned value — acceptable (it pins the GOOD type),
    * but restore-ordering means heavy concurrent mixed writers should
    * use separate sessions.
    */
  private def writeFiles(sorted: DataFrame, path: String, uidCols: Seq[String],
                         mode: SaveMode, codec: String,
                         rowGroupBytes: Long, maxRecordsPerFile: Long,
                         bloomCols: Seq[String] = Nil): Unit = {
    // zstd default ≙ the reference's LZ4 column blobs: better ratio than
    // snappy at similar scan speed — at 100 TB the ratio IS the IO budget.
    var writer = sorted.write.mode(mode).option("compression", codec)
      .option("parquet.block.size", rowGroupBytes)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    // Per-column parquet BLOOM FILTERS (opt-in): min/max row-group stats
    // only skip on RANGE-correlated keys — a merge key uncorrelated with
    // the (uid, ts) sort order has full-domain bounds in every row
    // group, so a point/IN takedown probe reads everything. A bloom
    // answers "definitely absent" per row group regardless of ordering;
    // Spark's parquet reader consults it for = and IN pushed predicates.
    // A few KB per row group buys skipping the ~16 MB group — the right
    // trade wherever keyed deletes land (see upsert's bloomKeys).
    bloomCols.foreach { c =>
      writer = writer.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    val sess = sorted.sparkSession
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    // Reference-counted conf pin instead of a lock held across the whole
    // write job: every TsStore writer wants the SAME value (MICROS), so
    // concurrent store writes in one session may overlap freely (guide
    // §2.6 — a query with two independent sinks submits them from two
    // threads and the second job's tasks back-fill the first's tail).
    // The first entrant saves the previous value and sets MICROS; the
    // last one out restores — sequential callers see the exact old
    // save/restore semantics.
    TsStore.synchronized {
      val cur = tsPinDepth.get(sess)
      if (cur == null) {
        tsPinDepth.put(sess, (1, sess.conf.getOption(tsTypeKey)))
        sess.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      } else tsPinDepth.put(sess, (cur._1 + 1, cur._2))
    }
    try (if (uidCols.nonEmpty) writer.partitionBy(uidCols: _*) else writer).parquet(path)
    finally TsStore.synchronized {
      val (d, prev) = tsPinDepth.get(sess)
      if (d == 1) {
        tsPinDepth.remove(sess)
        prev match {
          case Some(v) => sess.conf.set(tsTypeKey, v)
          case None    => sess.conf.unset(tsTypeKey)
        }
      } else tsPinDepth.put(sess, (d - 1, prev))
    }
  }

  /** Per-session depth + saved previous value of the parquet
    * timestamp-type pin ([[writeFiles]]); all transitions run under
    * `TsStore.synchronized`.
    */
  private val tsPinDepth =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Int, Option[String])]()

  /** The MERGE read plan behind [[upsert]]: prune the stored base to the
    * partitions the delta touches, union, and keep the winning row per
    * key. Exposed separately so tests can pin the scan metadata (the
    * prune must be PLAN-TIME partition pruning, not a post-scan filter).
    *
    * Latest-wins semantics: highest `versionCol` wins; on a version tie
    * the delta row wins (MERGE's WHEN MATCHED THEN UPDATE).
    *
    * Scale shape: the collect is the delta's DISTINCT partition values —
    * driver-side metadata bounded by touched-series count, same budget as
    * the overlap guard's extent collect. The base scan then carries an
    * `uid IN (...)` predicate on partition columns only, so Catalyst
    * prunes untouched partitions before any executor reads a byte: a
    * 100-series delta against a 1M-series store scans 100 series, not
    * the store. Requires a key's partition values to be immutable (a
    * delta may not move a key across partitions) — the same contract
    * table formats impose on partition-pruned MERGE.
    */
  def upsertPlan(spark: SparkSession, path: String, delta: DataFrame,
                 keyCols: Seq[String], versionCol: String,
                 uidCols: Seq[String], asOf: Option[Long] = None,
                 touchedOpt: Option[Seq[org.apache.spark.sql.Row]] = None)
      : DataFrame = {
    require(keyCols.nonEmpty, "upsert needs at least one merge-key column")
    require(uidCols.nonEmpty, "upsert needs the store's partition columns")
    // `touchedOpt` lets [[upsert]] hand over the partition values it
    // already collected in its single probe job (emptiness + null-ts +
    // touched partitions in ONE pass over the pinned delta) — the
    // standalone path keeps the distinct-collect.
    val touched: Seq[org.apache.spark.sql.Row] = touchedOpt.getOrElse(
      delta.select(uidCols.map(col): _*).distinct().collect().toSeq)
    // empty delta → empty touched set → nothing to merge (also keeps the
    // composite-key predicate's reduce from seeing an empty collection)
    if (touched.isEmpty)
      return delta.withColumn("__src", lit(1)).transform(dedupLatest(keyCols, versionCol))
    // mergeSchema: on a schema-evolved store the base schema must be the
    // UNION of the live footers — a first-footer read could silently
    // drop a column that only some partitions carry, and the rewrite
    // below would then erase it from the touched partitions for good.
    // The union is taken over the TOUCHED partitions' files only (the
    // load is manifest-pruned to the delta's partition values BEFORE
    // the relation resolves): they are the only files the rewrite
    // covers, a column living solely in untouched partitions still
    // surfaces through read-time mergeSchema afterwards, and on a
    // million-file store this is the difference between O(touched)
    // footer reads and an O(store) metadata pass per upsert.
    val basePred = keyPredicate(touched.toSeq, uidCols)
    val base =
      try load(spark, path, mergeSchema = true, prune = Some(basePred),
        asOf = asOf)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        return delta.withColumn("__src", lit(1)).transform(dedupLatest(keyCols, versionCol)) }
    // UNION of the two schemas, not the delta's projection: a delta
    // narrower than the store must not silently DROP base-only columns
    // from the rewritten partitions (carried-over base rows keep their
    // values; delta rows get null for columns they didn't supply — the
    // whole-row MERGE UPDATE semantics). A wider delta adds its new
    // columns the same way (schema evolution; older partitions surface
    // them as null through mergeSchema reads). Same-name type conflicts
    // still fail loudly in unionByName.
    base.filter(basePred)
      .withColumn("__src", lit(0))
      .unionByName(delta.withColumn("__src", lit(1)), allowMissingColumns = true)
      .transform(dedupLatest(keyCols, versionCol))
  }

  /** Latest-wins per key: highest version, delta over base on a version
    * tie. The trailing hash tie-break makes the winner DETERMINISTIC
    * even when the delta itself carries duplicate (key, version) rows
    * with different payloads — without it, row_number() would keep
    * whichever copy the shuffle delivered first, and re-running the
    * same upsert could persist different values (breaking the engine's
    * determinism contract). Identical duplicate rows hash equal, so the
    * tie-break is only ever visible where the outcome was ambiguous.
    */
  private def dedupLatest(keyCols: Seq[String], versionCol: String)(
      u: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // xxhash64 rejects MapType at analysis time — serialize any column
    // whose type contains a map to its canonical JSON for the tie-break
    // (the events table's `props` map is a store-supported column; the
    // hash only breaks (key, version) ties, so a stable serialization is
    // all it needs to be)
    def unhashable(dt: DataType): Boolean = dt match {
      case _: MapType     => true
      case s: StructType  => s.fields.exists(f => unhashable(f.dataType))
      case a: ArrayType   => unhashable(a.elementType)
      case _              => false
    }
    val tieCols: Seq[Column] = u.schema.fields.toSeq.map { f =>
      if (unhashable(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(desc(versionCol), desc("__src"), xxhash64(tieCols: _*).desc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")
  }

  /** The O(COMMIT-FOOTPRINT) commit for PARTITION-REPLACING writes
    * (upsert, deletes, dv takedowns, maintenance): the commit is
    * expressed as a TRANSFORM — remove everything under the touched
    * `prefixes`, add the txn's adopted files — so neither the base
    * snapshot nor any rebased parent ever materializes (the remove set
    * streams per attempt through [[StoreLog.foldFiles]] with
    * row-group-skipped prefixes, and a lost CAS walks the intervening
    * RAW manifests — [[StoreTxn.conflictWalk]]: `replaced` overlap or
    * delta adds under our prefixes abort). The writer-side fix for the
    * million-file store's per-upsert driver cost.
    *
    * REPLACING verbs refuse while a branch is open: each computed its
    * rewrite against ONE view's files, and committing it would corrupt
    * whichever ref it didn't read (the tip zig-zags between views under
    * branching). Appends have their own ref-aware bodies; branch-
    * targeted DML commits through [[branchDmlCommit]], maintenance
    * through [[commitMaintenanceRewrite]].
    *
    * `boundChecks` (row-ADDING paths only — upsert, DML inserts, cow
    * UPDATE/MERGE rewrites): the CHECK constraint set the writer's
    * per-row guard was bound against at write start; each attempt aborts
    * if a constraint appeared since ([[StoreTxn.abortIfChecksAdded]]).
    * Maintenance rewrites and pure deletes pass None: they add no rows a
    * new constraint could reject (survivors were certified by the ADD
    * scan itself).
    */
  private[sources] def commitTransformWithRebase(txn: StoreTxn,
      baseVersion: Long, replaced: Seq[String],
      removeFilesOf: Long => Seq[String],
      abortOnAppendsUnder: Boolean,
      schemaForWiden: Option[org.apache.spark.sql.types.StructType] = None,
      extraProps: Map[String, String] = Map.empty,
      boundChecks: Option[Seq[Constraints.Check]] = None,
      addDvs: Map[String, Dv.Entry] = Map.empty,
      // verbs whose remove set is recomputed WHOLE from the rebased
      // parent (dropSeries: "whatever lives under the prefix now")
      // serialize soundly after ANY intervening commit — they opt out
      // of the replaced-overlap abort
      abortOnReplaced: Boolean = true,
      tag: Option[String] = None): Long = {
    val path = txn.path
    txn.commit(baseVersion,
        txn.conflictWalk(replaced, abortOnReplaced, abortOnAppendsUnder)) { v =>
      val props = StoreLog.propsAt(path, v)
      if (props.contains(StoreLog.MainRefProp))
        txn.abort(s"store at $path has an active branch " +
          s"(${StoreLog.branches(path).keys.mkString(", ")}) — " +
          "replacing operations refuse while a branch is open; publish " +
          "or drop it first (appends — and branch-targeted upsert / " +
          "deleteVectors — may still run)")
      boundChecks.foreach(txn.abortIfChecksAdded(_, props, NotValidated))
      StoreLog.commitTransform(path, v, replaced, removeFilesOf(v), txn.moved,
        addStats = txn.movedStats, addSizes = txn.movedSizes, addDvs = addDvs,
        tag = tag,
        setProps = schemaForWiden.fold(Map.empty[String, String])(sc =>
          GraftTable.widenedSchemaProp(props, sc)) ++ extraProps)
    }
  }

  /** Abort advice of a row-adding commit that met a newer constraint. */
  private val NotValidated =
    "the staged rows were never validated against them; re-run the write"

  /** The MAINTENANCE-rewrite commit ([[compactPartitions]] / [[zorder]]):
    * swap `targets` (live files of the MAIN view) for `txn.moved`. With no
    * branch open this is the streamed transform scaffold
    * ([[commitTransformWithRebase]], O(commit footprint)). Under open
    * branches the rewrite may still proceed — nightly compaction must
    * not stall for a day-scale WAP branch — when it is PROVABLY
    * semantics-preserving for every ref:
    *
    *  - a branch holding ALL targets (the common case: branches start
    *    as main's view and touch other partitions) gets its pin REBASED
    *    through the same file mapping in a follow-up commit, provided
    *    the targets' deletion-vector state matches main's (the rewrite
    *    materialized MAIN's vectors — substituting under diverging
    *    branch vectors would silently drop the branch's takedown);
    *  - a branch holding NONE of them (it replaced those partitions
    *    itself) is untouched — its own files supersede the rewrite at
    *    publish, which is exactly the branch's declared intent;
    *  - PARTIAL overlap, or diverging vectors on a shared target,
    *    refuses like the old blanket guard (genuine divergence).
    *
    * The MAIN commit advances `graft.ref.main` AND every branch's BASE
    * to itself — the rewrite is invisible to each ref's rows, so
    * publish's moved-since-creation divergence check must keep passing.
    * Branch-pin rebases are BEST-EFFORT layout propagation committed
    * after main: a crash or CAS storm between leaves the branch on its
    * pre-rewrite view — still correct (its pinned version retains its
    * files against vacuum) and still publishable (base already
    * advanced; the fast-forward simply carries the older layout).
    * Under branches the commit pays O(view) driver lists like every
    * other branch verb; branchless stores keep the streamed path.
    */
  private[sources] def commitMaintenanceRewrite(txn: StoreTxn,
      baseViewV: Long, replaced: Seq[String], targets: Seq[String],
      extraProps: Map[String, String] = Map.empty,
      tag: Option[String] = None): Long = {
    val path = txn.path
    val tipV0 = StoreLog.latestVersion(path)
      .getOrElse(txn.abort(s"no manifest at $path"))
    if (!StoreLog.propsAt(path, tipV0).contains(StoreLog.MainRefProp))
      return commitTransformWithRebase(txn, baseViewV, replaced,
        removeFilesOf = _ => targets,
        abortOnAppendsUnder = false, extraProps = extraProps, tag = tag)
    val targetSet = targets.toSet
    // the deletion-vector state the rewrite MATERIALIZED (it read live
    // rows as of baseViewV) — resolved once, only if the branch path
    // engages; the branchless path's conflict walk covers this itself
    lazy val baseDvs = StoreLog.read(path, baseViewV).dvs
    val (committed, plans) = txn.commit(tipV0) { tipV =>
      val cur = StoreLog.read(path, tipV)
      if (!cur.props.contains(StoreLog.MainRefProp))
        // every branch closed mid-verb: the rewrite was computed under
        // assumptions a publish/drop may have invalidated — re-run
        txn.abort(s"branches at $path closed mid-rewrite — re-run the " +
          "maintenance pass against the new state")
      val mv = cur.props(StoreLog.MainRefProp).toLong
      val mSnap = if (mv == cur.version) cur else StoreLog.read(path, mv)
      val mLive = mSnap.files.toSet
      // every target must still be live on MAIN: an intervening rewrite
      // or delete means ours was computed from superseded files (pure
      // appends simply join the view and survive untouched)
      if (!targets.forall(mLive))
        txn.abort(s"concurrent writer replaced rewrite targets at $path — " +
          "re-run the maintenance pass against the new base")
      // …and must carry the SAME deletion vectors it had when the pass
      // read its rows: a takedown landing on a target after baseViewV
      // (but before this commit) would be silently resurrected — the
      // staged rewrite still contains the newly-deleted rows, and the
      // replaced file's vector dies with it. Parquet files never mutate,
      // so dv state is the only way a live target's content can drift.
      if (!targets.forall(f => mSnap.dvs.get(f) == baseDvs.get(f)))
        txn.abort(s"deletion vectors changed on rewrite targets at $path " +
          "since the pass read them — re-run the maintenance pass " +
          "against the new base")
      // per-branch disjointness proofs against the CURRENT pins
      val pins: Seq[(String, Long)] = cur.props.toSeq.collect {
        case (k, s) if k.startsWith(StoreLog.BranchPropPrefix) &&
            s.toLongOption.isDefined =>
          k.stripPrefix(StoreLog.BranchPropPrefix) -> s.toLong
      }
      val plans: Seq[(String, Long, Boolean)] = pins.map { case (b, bv) =>
        val bSnap = if (bv == cur.version) cur else StoreLog.read(path, bv)
        val bLive = bSnap.files.toSet
        val overlap = targets.count(bLive)
        if (overlap == 0) (b, bv, false)
        else if (overlap == targets.size) {
          val dvEq = targets.forall(f => mSnap.dvs.get(f) == bSnap.dvs.get(f))
          if (!dvEq)
            txn.abort(s"branch '$b' at $path holds diverging deletion " +
              "vectors on the rewrite's files — publish or drop it first")
          (b, bv, true)
        } else
          txn.abort(s"branch '$b' at $path genuinely overlaps the rewrite " +
            s"($overlap of ${targets.size} files shared) — publish or " +
            "drop it first")
      }
      val newMain = mSnap.files.filterNot(targetSet) ++ txn.moved
      val live = newMain.toSet
      val desired = mSnap.dvs.filter { case (f, _) => live(f) }
      val inherited = cur.dvs.filter { case (f, _) => live(f) }
      val dvReset = if (inherited == desired) None else Some(desired)
      val v = cur.version + 1
      // Advance ONLY a non-diverged base (base == mv): publish would
      // pass today and must keep passing across a semantics-preserving
      // rewrite. A DIVERGED base — main moved since the branch was
      // created — keeps its refusal: blindly advancing it would launder
      // the divergence and let a later publish fast-forward a branch
      // view that never saw main's post-branch appends, silently
      // dropping those rows from main.
      val baseAdv = plans.flatMap { case (b, _, _) =>
        val base = cur.props.get(StoreLog.BranchBasePrefix + b)
          .flatMap(_.toLongOption)
        if (base.contains(mv))
          Some((StoreLog.BranchBasePrefix + b) -> v.toString)
        else None
      }.toMap
      // the zig-zag delta vs a branch-view tip re-adds main-exclusive
      // files — their planner index must ride (refAppendBase's rule)
      val (carryStats, carrySizes) =
        if (mv == cur.version)
          (Map.empty[String, FileStats.FileStatsMap], Map.empty[String, Long])
        else (mSnap.stats, mSnap.sizes)
      (StoreLog.commit(path, cur.version, replaced, newMain,
        parent = Some(cur), addStats = carryStats ++ txn.movedStats,
        addSizes = carrySizes ++ txn.movedSizes, tag = tag,
        resetDvs = dvReset,
        setProps = extraProps ++ baseAdv +
          (StoreLog.MainRefProp -> v.toString)), plans)
    }
    plans.foreach { case (b, bv, rebase) =>
      if (rebase) rebaseBranchPin(txn, b, bv, targetSet)
    }
    committed
  }

  /** Rebase branch `b`'s pin through a maintenance rewrite's file
    * mapping (targets → the `main` txn's files) — the follow-up commit
    * after [[commitMaintenanceRewrite]]'s main commit. Its own txn
    * adopts nothing: main's commit already NAMED the files, so no abort
    * here may delete them. BEST-EFFORT: a pin that moved or vanished
    * since the proof was taken is left alone (the concurrent branch
    * writer's view still references the old targets, which stay
    * vacuum-live through its pin), and a CAS storm gives up quietly —
    * correctness never depends on this commit.
    */
  private def rebaseBranchPin(main: StoreTxn, b: String, bv0: Long,
      targetSet: Set[String]): Unit = {
    val path = main.path
    StoreLog.latestVersion(path).foreach { tipV0 =>
      try StoreTxn.empty(path, main.lease).commit(tipV0) { tipV =>
        val cur = StoreLog.read(path, tipV)
        if (cur.props.get(StoreLog.BranchPropPrefix + b)
            .flatMap(_.toLongOption).contains(bv0)) {
          val bSnap = if (bv0 == cur.version) cur else StoreLog.read(path, bv0)
          val newB = bSnap.files.filterNot(targetSet) ++ main.moved
          val liveB = newB.toSet
          val desiredB = bSnap.dvs.filter { case (f, _) => liveB(f) }
          val inheritedB = cur.dvs.filter { case (f, _) => liveB(f) }
          val dvResetB = if (inheritedB == desiredB) None else Some(desiredB)
          StoreLog.commit(path, cur.version, Seq.empty, newB,
            parent = Some(cur),
            addStats = bSnap.stats ++ main.movedStats,
            addSizes = bSnap.sizes ++ main.movedSizes,
            resetDvs = dvResetB,
            setProps = Map(
              StoreLog.BranchPropPrefix + b -> (cur.version + 1).toString))
        }
      } catch { case _: StoreLog.CommitConflict => () }
    }
  }

  /** Partition-pruned MERGE (latest-wins upsert) into a TsStore layout —
    * the incremental-maintenance write path, CRASH-ATOMIC and
    * cross-process safe via the [[StoreLog]] manifest. The naive MERGE
    * re-windows base ∪ delta over the FULL key space (a 100 TB shuffle
    * for a 1 GB delta); this one touches only the partitions the delta
    * names:
    *
    *   1. ensure a manifest exists (v1 = the store's current files),
    *   2. read the base pruned to the delta's partition values
    *      ([[upsertPlan]] — plan-time pruning, pinned in TsStoreSpec),
    *   3. merge (one keyed window over touched-partitions ∪ delta),
    *   4. stage the merged rows to a txn-private dir INSIDE the store
    *      (underscore-hidden), then move the files into their partition
    *      dirs — present on disk but invisible to manifest readers,
    *   5. publish ONE manifest version that atomically swaps the touched
    *      partitions' old files for the new ones. Untouched partitions'
    *      files are never read OR rewritten; replaced files stay on disk
    *      for time travel ([[read]] `asOf`) until [[vacuum]].
    *
    * A crash at ANY step leaves the previous manifest live — readers see
    * fully-old or fully-new, never a mix. A concurrent writer is
    * detected by the commit CAS: commits over DISJOINT partition sets
    * serialize automatically (rebase + retry); overlapping ones abort
    * with [[StoreLog.CommitConflict]] and leave the store on the
    * winner's version (the staged files are removed). Returns the
    * committed manifest version.
    *
    * Cost: one pruned scan + one write of the touched partitions + one
    * manifest file. At 100 TB both sides scale with the DELTA's
    * footprint, not the store's.
    */
  def upsert(spark: SparkSession, path: String, delta: DataFrame,
             keyCols: Seq[String], versionCol: String,
             tsCol: String, uidCols: Seq[String],
             codec: String = "zstd",
             rowGroupBytes: Long = 16L << 20,
             maxRecordsPerFile: Long = 8L << 20,
             setProps: Map[String, String] = Map.empty,
             branch: Option[String] = None): Long = {
    // a renamed store's files (and upsertPlan's base read-back) carry
    // PHYSICAL names — translate the user delta and its named columns
    // (uid/ts columns refuse renames, so only keys/version can move).
    // CHECK constraints gate the DELTA (the new rows) on the declared
    // names; base survivors satisfied them at their own write
    val renames = physRenames(path)
    val boundChecks = Constraints.forStore(path)
    val deltaW = physicalFrame(Constraints.guard(delta, boundChecks), renames)
    val keyColsW = keyCols.map(c => renames.getOrElse(c, c))
    val versionColW = renames.getOrElse(versionCol, versionCol)
    // Pin the delta ONCE. The merge evaluates it twice (the combined
    // probe below, staging write); a nondeterministic
    // delta lineage (limit/sample/shuffled upstream) could otherwise
    // name partition set {A} during the prune but produce rows in
    // {A, B} at write time — the B partition, never merged with its
    // base rows, would then be swapped to delta rows only, silently
    // deleting base data. localCheckpoint is delta-sized. LAZY: the
    // probe below is a global aggregate — its job computes (and caches)
    // every partition of the delta, so an eager materialization pass
    // would scan the lineage a second time for nothing.
    val pinned = deltaW.localCheckpoint(false)
    // light base handle: version + raw props/blooms — a million-file
    // store's upsert must not materialize its snapshot just to commit
    // (ensure() runs only for the first-ever write's adoption commit)
    val baseV: Long = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // BRANCH-TARGETED upsert (the WAP CDC-apply shape): merge against
    // the BRANCH view and commit through [[branchDmlCommit]] — main
    // readers never see the half-applied feed; publish fast-forwards it
    val branchPin: Option[Long] = branch.map { b =>
      StoreLog.propsAt(path, baseV).get(StoreLog.BranchPropPrefix + b)
        .flatMap(_.toLongOption).getOrElse(throw new IllegalArgumentException(
          s"no branch '$b' at $path (TsStore.branch / CALL system.branch " +
            "creates one)"))
    }
    // ONE probe job over the pinned delta answers every pre-write
    // question — emptiness, null-ts validation, and the touched
    // partition values — that previously each paid their own action
    // (isEmpty + validate + upsertPlan's distinct-collect = three scans
    // of the checkpoint, three scheduled jobs). The null-ts check runs
    // on the PINNED DELTA, not the merge lineage: the base was validated
    // at its own write, so the merge can only carry a null ts the delta
    // brought in. The collected set is the delta's DISTINCT partition
    // values — the same driver budget as upsertPlan's own collect.
    val probe = pinned.agg(
      count(lit(1)).as("__n"),
      count(when(col(tsCol).isNull, lit(1))).as("__nulls"),
      collect_set(struct(uidCols.map(col): _*)).as("__parts")).head()
    if (probe.getLong(0) == 0L) return branchPin.getOrElse(baseV)
    require(probe.getLong(1) == 0L,
      s"null $tsCol values in upsert delta — refusing write")
    val merged = upsertPlan(spark, path, pinned, keyColsW, versionColW,
      uidCols, asOf = branchPin,
      touchedOpt = Some(probe.getSeq[org.apache.spark.sql.Row](2)))
    val staging = txnDir(path)
    val rangeCols: Seq[Column] = uidCols.map(col) :+ col(tsCol)
    // (A localCheckpoint of `merged` before the range write was tried
    // and measured SLOWER: repartitionByRange's bounds-sampling job and
    // the write job share the merge's shuffle map stages, so the
    // apparent double compute is mostly skipped stages — the extra
    // materialization pass costs more than it saves.)
    writeFiles(merged.repartitionByRange(rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*),
      staging, uidCols, SaveMode.Overwrite, codec, rowGroupBytes,
      maxRecordsPerFile, StoreLog.bloomColsAt(path, baseV))
    StoreTxn.staged(path, staging) { txn =>
      // the touched partition DIRECTORY prefixes — the unit of replacement
      // and of writer-vs-writer conflict detection — are read off the
      // STAGED OUTPUT's own directory names: Spark's partition-path
      // rendering (escaping, timestamp formatting, null spelling) is the
      // single source of truth, so a hand-built String.valueOf rendering
      // can never silently disagree with the directories the base files
      // actually live under (it would for e.g. timestamp uid columns).
      val prefixes: Set[String] = txn.moved.map { f =>
        val i = f.lastIndexOf('/')
        require(i > 0, s"staged upsert file '$f' is not under a partition directory")
        f.substring(0, i)
      }.toSet
      // rebase is sound ONLY if no intervening commit touched our
      // partitions — neither replaced them nor appended files under
      // them; otherwise our merge used a stale base for those rows.
      // The TRANSFORM scaffold streams the remove set and walks raw
      // manifests — O(commit footprint), never the store
      branch match {
        case Some(b) =>
          branchDmlCommit(txn, b, branchPin.get, prefixes.toSeq,
            // the upsert REPLACES whole touched partitions: its merged
            // output covers every base row of those prefixes
            removeOf = bs => bs.files.filter(f =>
              prefixes.exists(p => f.startsWith(p + "/"))),
            addDvs = Map.empty,
            boundChecks = Some(boundChecks),
            schemaForWiden = Some(delta.schema))
        case None =>
          commitTransformWithRebase(txn, baseV, prefixes.toSeq,
            // the exact remove set at each attempt's base: live files under
            // the touched prefixes, streamed (never the whole store)
            removeFilesOf = v => StoreLog.foldFiles(path, v, prefixes.toSeq)(
              Vector.empty[String])((a, e) => a :+ e.path),
            abortOnAppendsUnder = true,
            schemaForWiden = Some(delta.schema), extraProps = setProps,
            boundChecks = Some(boundChecks))
      }
    }
  }

  /** Row-level DELETE through the manifest — the one maintenance verb a
    * training-corpus owner is legally guaranteed to need (takedown
    * requests, decontamination removals) and the reference never had.
    * FILE-granular copy-on-write: one pruned scan finds the live files
    * that actually CONTAIN matching rows, only those files' surviving
    * rows are rewritten (staged → adopted → ONE manifest commit swaps
    * the affected files for their rewrites), and everything else —
    * files of the same partition included — is never read for rewrite
    * or touched. Deleted rows remain readable `asOf` any pre-delete
    * version until [[vacuum]] reclaims the replaced files. Returns the
    * committed version (the current one when nothing matches).
    *
    * Cost at 100 TB: the match scan is predicate-pushed (a takedown by
    * uid/doc-id prunes to partitions and row groups), and the rewrite
    * IO is bounded by the affected FILES' size, not the store's or even
    * the partition's. A concurrent APPEND into a touched partition
    * serializes after the delete cleanly (the delete claims only the
    * files it named; appended files are untouched by construction);
    * a concurrent commit that REPLACED a touched partition aborts with
    * [[StoreLog.CommitConflict]] — the affected files may no longer be
    * live and rewriting them would resurrect replaced rows.
    */
  def delete(spark: SparkSession, path: String, pred: Column,
             tsCol: String, uidCols: Seq[String],
             codec: String = "zstd",
             rowGroupBytes: Long = 16L << 20,
             maxRecordsPerFile: Long = 8L << 20,
             branch: Option[String] = None): Long = {
    require(uidCols.nonEmpty, "delete needs the store's partition columns")
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // a BRANCH target rewrites the branch view's affected files and
    // commits through the WAP loop — invisible to main until publish
    val baseV = branch match {
      case Some(b) =>
        StoreLog.propsAt(path, tipV).get(StoreLog.BranchPropPrefix + b)
          .flatMap(_.toLongOption).getOrElse(
            throw new IllegalArgumentException(s"no branch '$b' at $path"))
      case None => tipV
    }
    // scoped resolution: past the lazy threshold only the may-match
    // files (stats/sizes/dvs riding along) materialize — the takedown's
    // driver cost tracks its SCOPE on a million-file store
    var base = scopedBase(path, baseV, pred)
    if (base.files.isEmpty) return base.version
    // the FIND side of the copy-on-write: manifest-stat pruning first
    // (a delete by merge key on a stat-carrying store opens only the
    // files whose recorded key bounds admit a match — the CDC takedown
    // path's scale fix), then a predicate-pushed scan over what's left.
    // Pruning is conservative; stat-less files are always candidates.
    val candidates = FileStats.prune(base.files, base.stats, pred)
    if (candidates.isEmpty) return base.version
    def readFiles(fs: Seq[String]) =
      readFilesDv(spark, path, base, fs, mergeSchema = true)
    // which candidate files hold matching rows — the copy-on-write unit.
    // input_file_name() yields the scan's URL-ENCODED file URI; decoding
    // it ONCE recovers the raw on-disk path byte-for-byte (Spark encoded
    // the on-disk path once), so a suffix match against the manifest's
    // relative paths is exact even for escaped partition values
    // ('day=... 09%3A30%3A00' directories). Matching the file NAME alone
    // would NOT be sound: one write job reuses 'part-00000-<jobuuid>'
    // across every partition directory it writes, so a name key smears
    // a one-partition delete over all of them. If a URI ever fails to
    // parse, fall back to the name-key SUPERSET — correctness-safe (it
    // only rewrites extra files' survivors), just wider IO. Driver
    // cost: one string per affected file, the budget of a manifest
    // delta.
    def findAffected(fs: Seq[String]): Array[String] =
      readFiles(fs).filter(pred)
        .select(input_file_name().as("__f"))
        .distinct().collect().map(_.getString(0))
    val affectedUris =
      try findAffected(candidates)
      catch {
        // a predicate column may exist only in pruned-away files'
        // schemas (schema evolution) — resolve over the full live set
        // instead (re-resolving a FILTERED base fully first); those
        // extra files' rows are null on it and can't match, so the
        // result is identical, just unpruned
        case _: org.apache.spark.sql.AnalysisException =>
          if (base.filtered) base = StoreLog.read(path, baseV)
          findAffected(base.files)
      }
    if (affectedUris.isEmpty) return base.version
    val affected = matchManifest(path, base, affectedUris)
    // conflict unit = the affected files' partition directories, read
    // off the manifest's own paths (never re-rendered from values)
    val prefixes: Set[String] = affected.map { f =>
      val i = f.lastIndexOf('/')
      require(i > 0, s"live file '$f' is not under a partition directory")
      f.substring(0, i)
    }.toSet
    // rewrite ONLY the affected files' survivors. DELETE semantics:
    // rows where pred is TRUE go; null-pred rows stay (SQL DELETE).
    // Dv-aware read: a replacement of an already-vectored file must not
    // resurrect its vectored rows (the new file carries no vector).
    val survivors = readFilesDv(spark, path, base, affected, mergeSchema = true)
      .filter(!coalesce(pred, lit(false)))
    val staging = txnDir(path)
    val rangeCols: Seq[Column] = uidCols.map(col) :+ col(tsCol)
    writeFiles(survivors.repartitionByRange(rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*),
      staging, uidCols, SaveMode.Overwrite, codec, rowGroupBytes,
      maxRecordsPerFile, base.bloomCols)
    StoreTxn.staged(path, staging) { txn =>
      // transform commit: remove exactly the affected files, add the
      // rewrites — no parent file list materializes; a concurrent
      // REPLACE of a touched partition aborts (its `replaced` record),
      // pure appends under it serialize after this delete cleanly
      branch match {
        case Some(b) =>
          branchDmlCommit(txn, b, base.version, prefixes.toSeq,
            removeOf = _ => affected,
            addDvs = Map.empty, boundChecks = None, schemaForWiden = None)
        case None =>
          commitTransformWithRebase(txn, base.version, prefixes.toSeq,
            removeFilesOf = _ => affected,
            abortOnAppendsUnder = false)
      }
    }
  }

  /** MERGE-ON-READ delete — the deletion-vector twin of [[delete]]: no
    * data file moves. Matching rows' PARQUET ROW INDICES are recorded
    * in per-file sidecars ([[Dv]]) and one manifest commit associates
    * each affected file with its (unioned) vector; readers subtract the
    * positions, [[compactPartitions]]/[[zorder]]/any rewrite
    * materializes them.
    *
    * Why it exists at 100 TB: copy-on-write IO is O(affected FILES) —
    * a takedown of a few thousand rows scattered across a million
    * 16 MB chunks rewrites terabytes. This path's write cost is
    * O(matching rows): the find scan (manifest-stat pruned, predicate
    * pushed) plus kilobyte sidecars, written DISTRIBUTED (one task
    * group per affected file, executor-side sidecar IO; the driver
    * sees only one (file, vector, count) row per affected file — the
    * same O(commit-footprint) budget as a manifest delta).
    *
    * Semantics match [[delete]] exactly (rows where `pred` is TRUE go,
    * null-pred rows stay; pre-delete versions stay readable `asOf`;
    * concurrent replaces of a touched partition abort). Repeated
    * vectored deletes against one file swap in the union sidecar, so a
    * single manifest entry always fully describes a file's deletions.
    *
    * Returns the committed version (the base version when nothing
    * matched).
    */
  def deleteVectors(spark: SparkSession, path: String, pred: Column,
                    branch: Option[String] = None): Long = {
    // scoped resolution: past the lazy threshold only the may-match
    // files (with their stats/sizes/dvs) materialize — a keyed or
    // sliced takedown against a million-file store stays O(its scope)
    // on the driver end to end. A BRANCH target finds over the branch
    // view and commits through the WAP loop — the takedown stays
    // invisible to main until publish, dies with a drop
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    val baseV = branch match {
      case Some(b) =>
        StoreLog.propsAt(path, tipV).get(StoreLog.BranchPropPrefix + b)
          .flatMap(_.toLongOption).getOrElse(
            throw new IllegalArgumentException(s"no branch '$b' at $path"))
      case None => tipV
    }
    val base = scopedBase(path, baseV, pred)
    if (base.files.isEmpty) return base.version
    val candidates = FileStats.prune(base.files, base.stats, pred)
    if (candidates.isEmpty) return base.version
    deleteVectorsBy(spark, path, base, candidates, _.filter(pred), branch)
  }

  /** KEYED merge-on-read takedown — [[deleteKeys]]' deletion-vector
    * twin and [[deleteVectors]]' join-based one: remove every stored
    * row whose merge key appears in `keys` with `versionCol <=` that
    * key's `deleteVersionCol`, as POSITION SIDECARS instead of a
    * copy-on-write rewrite. The key set rides as DATA (broadcast into
    * the dv-aware find scan), so the plan is O(1) in the key count —
    * the million-key GDPR batch shape.
    *
    * Why it exists at 100 TB: a SCATTERED takedown feed hits a few
    * rows in very many files — [[deleteKeys]] pays O(affected files)
    * rewrite IO where this path pays O(deleted rows) sidecar bytes
    * and ONE manifest commit. Version semantics match the CDC
    * contract exactly (delete wins ties, higher-version reinserts
    * survive); re-applying the same key batch is a no-op (the find is
    * dv-aware, so already-vectored rows never re-match). Returns the
    * committed version.
    */
  def deleteKeysVectors(spark: SparkSession, path: String, keys: DataFrame,
                        keyCols: Seq[String], deleteVersionCol: String,
                        versionCol: String): Long = {
    require(keyCols.nonEmpty, "deleteKeysVectors needs the store's merge-key columns")
    val baseV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // one row per key, highest delete version wins (same resolution as
    // deleteKeys / the CDC predicate path)
    val k = keys.groupBy(keyCols.map(col): _*)
      .agg(max(col(deleteVersionCol)).as("__del_v"))
      .localCheckpoint() // evaluated by the extent probe and the find
    if (k.isEmpty) return baseV
    // manifest-level prune of the find scan: the keys' [min,max]
    // extent (effective when the key correlates with the chunk sort
    // order) AND the per-file distinct-value digest probe (the
    // SCATTERED-key accelerant — a layout-uncorrelated key set keeps
    // everything past the extent, but a digest-carrying file admits
    // the takedown only if it may actually hold a key). Past the lazy
    // threshold both gates also SCOPE the resolution itself. A
    // composite key probes on EVERY digestable component (a file
    // missing ANY component value cannot hold the composite tuple).
    val probe = keyProbe(k, keyCols)
    val dKeep = digestKeep(probe) _
    val base =
      if (keyCols.sizeIs == 1) {
        val ext = k.agg(min(col(keyCols.head)).as("lo"),
          max(col(keyCols.head)).as("hi")).first()
        scopedBase(path, baseV,
          col(keyCols.head).between(lit(ext.get(0)), lit(ext.get(1))),
          extraKeep = dKeep)
      } else if (probe.nonEmpty &&
          StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold)
        StoreLog.readFiltered(path, baseV)(e => dKeep(e.stats))
      else StoreLog.read(path, baseV)
    if (base.files.isEmpty) return base.version
    val candidates = {
      val extPruned =
        if (keyCols.sizeIs == 1) {
          val ext = k.agg(min(col(keyCols.head)).as("lo"),
            max(col(keyCols.head)).as("hi")).first()
          FileStats.prune(base.files, base.stats,
            col(keyCols.head).between(lit(ext.get(0)), lit(ext.get(1))))
        } else base.files
      extPruned.filter(f => dKeep(base.stats.get(f)))
    }
    lastTakedownCandidates = candidates.size
    if (candidates.isEmpty) return base.version
    deleteVectorsBy(spark, path, base, candidates, { df =>
      // a using-columns join moves the key columns to the FRONT of the
      // output order; dvStatSelect takes the first MaxStatsCols columns
      // in SCHEMA order (the same cap the manifest stats use), so the
      // original order must be restored or a wide table's recorded
      // dv-stat column set would silently diverge from the manifest's —
      // answers stay exact-or-refuse, but COUNT/MIN/MAX pushdowns on
      // those files would be lost
      val orig = df.columns.toSeq
      df.join(broadcast(k), keyCols, "inner")
        .filter(col(versionCol) <= col("__del_v"))
        .select(orig.map(col): _*)
    })
  }

  /** The shared merge-on-read delete machinery: `matcher` narrows the
    * dv-aware keepMeta read of the candidate files to exactly the rows
    * to delete (a predicate filter, or a broadcast key join). See
    * [[deleteVectors]] for the full contract.
    */
  private def deleteVectorsBy(spark: SparkSession, path: String,
                              base: StoreLog.Snapshot, candidates: Seq[String],
                              matcher: DataFrame => DataFrame,
                              branch: Option[String] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
    // scan-rendered uri → (manifest rel, existing vector's abs path)
    def uriMapOf(snap: StoreLog.Snapshot)(
        fs: Seq[String]): Map[String, (String, Option[String])] =
      fs.map(f => Dv.absUri(conf, path, f) ->
        (f, snap.dvs.get(f).map(e => s"$path/${e.path}"))).toMap
    import spark.implicits._
    // (file uri, row position, per-column isnull, stat-domain values)
    // of every matching LIVE row — dv-aware find, so an already-
    // vectored row is never re-deleted (and a file whose only matches
    // are already vectored is not touched again). The null flags and
    // stat-domain values ride along so the commit can record per-column
    // DELETED-NULL counts ([[Dv.Entry.nulls]], keeps COUNT(col) a
    // metadata answer) and DELETED-ROW BOUNDS ([[Dv.Entry.bounds]],
    // keeps MIN/MAX a metadata answer when provably intact). Value
    // domains mirror the manifest stats exactly ([[FileStats.ColStat]]
    // tags): integral→long, date→epoch days, timestamp→epoch micros,
    // string as-is; float/double and NTZ are never recorded (the
    // pushdown refuses them regardless).
    def matches(snap: StoreLog.Snapshot, fs: Seq[String]) =
      dvStatSelect(matcher(readFilesDv(spark, path, snap, fs,
        mergeSchema = true, keepMeta = true)))
    val v = StoreLog.withWriterLease(path) { lease =>
      val ((found, tags), uris, snapUsed) =
        try (matches(base, candidates), uriMapOf(base)(candidates), base)
        catch { // pred column only in pruned-away schemas — widen (a
          // FILTERED base re-resolves fully for this corner)
          case _: org.apache.spark.sql.AnalysisException =>
            val full =
              if (base.filtered) StoreLog.read(path, base.version) else base
            (matches(full, full.files), uriMapOf(full)(full.files), full)
        }
      val urisB = spark.sparkContext.broadcast(uris)
      // one task group per affected file: union the new positions with
      // the file's existing vector and publish a fresh sidecar. A
      // retried/speculative task writes an orphan sidecar — vacuumable
      // garbage, exactly like an unadopted staged data file (the lease
      // held here keeps vacuum off the fresh ones meanwhile).
      val written: Array[(String, String, Long, DvStatRaw)] =
        found.groupByKey(_._1).mapGroups { (uri, it) =>
          val freshB = Array.newBuilder[Long]
          val acc = new DvStatAcc
          it.foreach { case (_, p, ns, dl, dsv) =>
            freshB += p
            acc.add(ns, dl, dsv)
          }
          val fresh = freshB.result()
          val old = urisB.value.get(uri).flatMap(_._2)
            .map(Dv.read(sconf.value, _)).getOrElse(Array.empty[Long])
          val rel = Dv.newRelPath()
          val n = Dv.write(sconf.value, s"$path/$rel", old ++ fresh)
          (uri, rel, n, acc.result)
        }.collect()
      if (written.isEmpty) base.version
      else {
        val entries: Map[String, Dv.Entry] = written.map {
          case (uri, rel, n, raw) =>
          val (dataRel, _) = uris.getOrElse(uri, throw new IllegalStateException(
            s"scan uri '$uri' matches no planned file of $path — " +
              "Dv.absUri rendering diverged from the scan's"))
          // union with a pre-existing vector: summed counts / combined
          // bounds where BOTH entries know them, dropped where either
          // doesn't (a legacy entry without them stays unknowable —
          // exact-or-refuse)
          val (merged, mergedBounds) = mergeDvStats(snapUsed.dvs.get(dataRel),
            raw.nulls, raw.bounds(tags))
          dataRel -> Dv.Entry(rel, n, merged, mergedBounds)
        }.toMap
        val prefixes = entries.keySet.map { f =>
          val i = f.lastIndexOf('/')
          require(i > 0, s"live file '$f' is not under a partition directory")
          f.substring(0, i)
        }.toSeq
        branch match {
          case Some(b) =>
            // branch-targeted takedown: the vectors land on the BRANCH
            // view only (invisible to main; exact dv reset keeps the
            // refs' states from cross-leaking on later zig-zag commits)
            branchDmlCommit(StoreTxn.empty(path, Some(lease)), b,
              base.version, prefixes, removeOf = _ => Nil, addDvs = entries,
              boundChecks = None, schemaForWiden = None)
          case None =>
            // dv-only transform: no file moves, no parent file list — the
            // commit is O(changed vectors) however many files the store has
            commitTransformWithRebase(StoreTxn.empty(path, Some(lease)),
              base.version, replaced = prefixes,
              removeFilesOf = _ => Nil, abortOnAppendsUnder = false,
              addDvs = entries)
        }
      }
    }
    // the density auto-compact cue targets the MAIN view (and is
    // branch-tolerant since commitMaintenanceRewrite); BRANCH-targeted
    // takedowns skip it — their vectors live on the branch view, which
    // main-side compaction can neither see nor help
    if (v != base.version && branch.isEmpty) dvDensityCompact(spark, path)
    v
  }

  /** The deleted-row STAT PROJECTION shared by every dv writer: per
    * matching live row — (scan uri, position, per-column isnull map,
    * long-domain values, string-domain values) — capped at the stats
    * cap (schema order): the pushdowns can only use nulls/bounds
    * alongside the file's MANIFEST STATS, which
    * [[FileStats.MaxStatsCols]] bounds the same way, so a 500-column
    * table pays per-deleted-row map cost for 24 columns, not 500.
    * Value domains mirror the manifest stats exactly
    * ([[FileStats.ColStat]] tags): integral→long, date→epoch days,
    * timestamp→epoch micros, string as-is; float/double and NTZ are
    * never recorded (the pushdowns refuse them regardless).
    */
  private def dvStatSelect(df: DataFrame): (
      org.apache.spark.sql.Dataset[(String, Long, Map[String, Boolean],
        Map[String, Long], Map[String, String])],
      Map[String, String]) = {
    import df.sparkSession.implicits._
    val dataCols = df.columns.filterNot(c => c == "__file" || c == "__pos")
      .take(FileStats.MaxStatsCols).toSeq
    import org.apache.spark.sql.types._
    val tags: Map[String, String] = df.schema.fields.iterator
      .filter(f => dataCols.contains(f.name))
      .flatMap { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Some(f.name -> "i")
          case DateType => Some(f.name -> "d")
          case TimestampType => Some(f.name -> "ts")
          case StringType => Some(f.name -> "s")
          case _ => None
        }
      }.toMap
    val longDom = dataCols.filter(c => tags.get(c).exists(_ != "s"))
    val strDom = dataCols.filter(c => tags.get(c).contains("s"))
    // the empty fallbacks are TYPED literals: a bare functions.map()
    // types as map<string,string>, and an NTZ-time store with no
    // integral/date/ts column among the stat-capped set would then
    // fail the Map[String,Long] decode below with a cannot-up-cast
    // AnalysisException, aborting the DELETE
    def nonNullMap(entries: Seq[Column], empty: Column): Column =
      if (entries.isEmpty) empty
      else map_filter(map(entries: _*), (_, v) => v.isNotNull)
    val longVals = nonNullMap(longDom.flatMap { c =>
      val v = tags(c) match {
        case "d" => unix_date(col(c)).cast(LongType)
        case "ts" => unix_micros(col(c))
        case _ => col(c).cast(LongType)
      }
      Seq(lit(c), v)
    }, typedLit(Map.empty[String, Long]))
    val strVals = nonNullMap(strDom.flatMap(c => Seq(lit(c), col(c))),
      typedLit(Map.empty[String, String]))
    val ds = df.select(col("__file"), col("__pos"),
        map(dataCols.flatMap(c => Seq(lit(c), col(c).isNull)): _*).as("__nulls"),
        longVals.as("__dlong"), strVals.as("__dstr"))
      .as[(String, Long, Map[String, Boolean], Map[String, Long], Map[String, String])]
    (ds, tags)
  }

  /** One file's accumulated deleted-row stats in raw form — an
    * encodable product so the distributed stat passes can return it.
    * `bounds` builds the committed [[Dv.Bound]] map: every
    * stat-eligible column gets one — EMPTY when all its deleted values
    * were null (deletion provably can't move min/max then), dropped
    * for over-cap strings (`bad` — a truncated MAX bound would need
    * byte-order round-UP; FileStats refuses the same way).
    */
  private[sources] final case class DvStatRaw(n: Long,
      nulls: Map[String, Long],
      lo: Map[String, Long], hi: Map[String, Long],
      slo: Map[String, String], shi: Map[String, String],
      bad: Seq[String]) {
    def bounds(tags: Map[String, String]): Map[String, Dv.Bound] =
      tags.flatMap { case (c, tag) =>
        if (bad.contains(c)) None
        else if (tag == "s")
          Some(c -> slo.get(c).map(l => Dv.Bound(tag, Some(l), Some(shi(c))))
            .getOrElse(Dv.Bound.empty(tag)))
        else
          Some(c -> lo.get(c).map(l => Dv.Bound(tag, Some(l), Some(hi(c))))
            .getOrElse(Dv.Bound.empty(tag)))
      }
  }

  /** The executor-side accumulator behind [[DvStatRaw]]. */
  private[sources] final class DvStatAcc {
    var n = 0L
    val nc = scala.collection.mutable.HashMap.empty[String, Long]
    val lo = scala.collection.mutable.HashMap.empty[String, Long]
    val hi = scala.collection.mutable.HashMap.empty[String, Long]
    val slo = scala.collection.mutable.HashMap.empty[String, String]
    val shi = scala.collection.mutable.HashMap.empty[String, String]
    val bad = scala.collection.mutable.HashSet.empty[String]
    private var seeded = false

    def add(ns: Map[String, Boolean], dl: Map[String, Long],
            dsv: Map[String, String]): Unit = {
      n += 1
      if (!seeded) { ns.keysIterator.foreach(c => nc(c) = 0L); seeded = true }
      ns.foreach { case (c, isN) => if (isN) nc(c) = nc.getOrElse(c, 0L) + 1L }
      dl.foreach { case (c, v) =>
        if (!lo.contains(c) || v < lo(c)) lo(c) = v
        if (!hi.contains(c) || v > hi(c)) hi(c) = v
      }
      dsv.foreach { case (c, v) =>
        if (v.length > FileStats.MaxStringLen) { bad += c; slo.remove(c); shi.remove(c) }
        else if (!bad.contains(c)) {
          if (!slo.contains(c) || Dv.cmpBound("s", v, slo(c)) < 0) slo(c) = v
          if (!shi.contains(c) || Dv.cmpBound("s", v, shi(c)) > 0) shi(c) = v
        }
      }
    }

    def result: DvStatRaw =
      DvStatRaw(n, nc.toMap, lo.toMap, hi.toMap, slo.toMap, shi.toMap, bad.toSeq)
  }

  /** Merge a file's FRESH deleted-row stats with its pre-existing
    * vector entry's: summed counts / combined bounds where BOTH know
    * the column, dropped where either doesn't (a legacy entry without
    * stats keeps the union unknowable — exact-or-refuse).
    */
  private[graft] def mergeDvStats(old: Option[Dv.Entry],
      nulls: Map[String, Long], bounds: Map[String, Dv.Bound])
      : (Map[String, Long], Map[String, Dv.Bound]) = old match {
    case Some(o) if o.rows > 0 =>
      (nulls.flatMap { case (c, k) => o.nulls.get(c).map(x => c -> (x + k)) },
       bounds.flatMap { case (c, b) =>
         o.bounds.get(c).collect { case ob if ob.tag == b.tag =>
           c -> Dv.combineBounds(ob, b)
         }
       })
    case _ => (nulls, bounds)
  }

  /** Per-column deleted-null counts + deleted-row bounds for a delta
    * DML commit's FRESH positions, computed FROM THE FILES THEMSELVES
    * at commit time: one distributed pass over the touched files'
    * stat-capped columns, kept to the adopted fragment sidecars'
    * positions. The delta WRITERS cannot record these from the rows
    * they see — Spark's delta plans project the POST-ASSIGNMENT values
    * (an UPDATE assigning a stat column hands the writer the NEW
    * value, verified empirically), and recording those would let a
    * MIN/MAX pushdown claim a deleted end intact while the end was in
    * fact deleted. The OLD rows are still in the files (merge-on-read
    * moves nothing), so the read-back is always sound; cost is one
    * column-pruned scan of exactly the touched files. Exact-or-refuse:
    * a file whose aggregated row count mismatches its fragments'
    * position count (scan/rendering divergence) drops its stats.
    *
    * `fragsByFile`: data-file rel → (adopted fragment ABSOLUTE paths,
    * expected fresh position count). Returns rel → (nulls, bounds).
    */
  private[graft] def dvFreshStats(spark: SparkSession, path: String,
      base: StoreLog.Snapshot,
      fragsByFile: Map[String, (Seq[String], Long)])
      : Map[String, (Map[String, Long], Map[String, Dv.Bound])] = {
    if (fragsByFile.isEmpty) return Map.empty
    val conf = spark.sparkContext.hadoopConfiguration
    import spark.implicits._
    val files = fragsByFile.keys.toSeq.sorted
    val relOfUri: Map[String, String] =
      files.map(f => Dv.absUri(conf, path, f) -> f).toMap
    // the PRE-commit live view of the touched files: old vectors are
    // subtracted by readFilesDv, and this commit's fresh positions are
    // disjoint from them by construction (the operation scanned only
    // live rows)
    val live = readFilesDv(spark, path, base, files, mergeSchema = true,
      keepMeta = true)
    val fresh = dvPositionFilter(spark, path, live,
      relOfUri.map { case (uri, f) => uri -> fragsByFile(f)._1 }, keep = true)
    val (ds, tags) = dvStatSelect(fresh)
    val got: Map[String, DvStatRaw] =
      ds.groupByKey(_._1).mapGroups { (uri, it) =>
        val acc = new DvStatAcc
        it.foreach { case (_, _, ns, dl, dsv) => acc.add(ns, dl, dsv) }
        (uri, acc.result)
      }.collect().toMap.map { case (uri, raw) => relOfUri(uri) -> raw }
    fragsByFile.map { case (f, (_, expected)) =>
      got.get(f) match {
        case Some(raw) if raw.n == expected =>
          f -> (raw.nulls, raw.bounds(tags))
        case _ =>
          // fewer (or no) rows matched than positions exist — refuse
          // this file's stats rather than under-count
          f -> (Map.empty[String, Long], Map.empty[String, Dv.Bound])
      }
    }
  }

  /** Map the find scan's `input_file_name()` URIs back to manifest
    * entries — shared by [[delete]] and [[deleteKeys]]. O(scanned +
    * manifest), not a nested suffix scan: probe the manifest SET with
    * each raw path's trailing components (rel depth is partition-dirs +
    * filename, a small constant). Decoding the URL-encoded URI once
    * recovers the on-disk path byte-for-byte, so the suffix match is
    * exact even for escaped partition values; a file-NAME key alone
    * would NOT be sound (one write job reuses `part-00000-<jobuuid>`
    * across every partition directory it writes). A pathological layout
    * where a shallow rel is also a deeper rel's suffix over-matches and
    * trips the size require — loud. On an unparseable URI, fall back to
    * the name-key SUPERSET — correctness-safe (extra files' survivors
    * are rewritten unchanged), just wider IO.
    */
  private def matchManifest(path: String, base: StoreLog.Snapshot,
                            affectedUris: Array[String]): Seq[String] = {
    def nameOf(rel: String) = rel.substring(rel.lastIndexOf('/') + 1)
    try {
      val relSet = base.files.toSet
      val maxDepth = base.files.iterator.map(_.count(_ == '/')).max + 1
      val rawPaths = affectedUris.map(u => new java.net.URI(u).getPath).toSeq
      val hitSet = scala.collection.mutable.LinkedHashSet[String]()
      rawPaths.foreach { raw =>
        var idx = raw.length
        var d = 0
        while (d < maxDepth && idx > 0) {
          idx = raw.lastIndexOf('/', idx - 1)
          if (idx >= 0) {
            val cand = raw.substring(idx + 1)
            if (relSet.contains(cand)) hitSet += cand
          }
          d += 1
        }
      }
      val hit = base.files.filter(hitSet.contains)
      require(hit.size == rawPaths.size,
        s"delete matched ${rawPaths.size} scan files but ${hit.size} " +
          s"manifest entries at $path — scan outside the live snapshot?")
      hit
    } catch {
      case _: java.net.URISyntaxException =>
        val names = affectedUris.map(nameOf).toSet
        base.files.filter(f => names.contains(nameOf(f)))
    }
  }

  /** Join-based bulk takedown — [[delete]]'s large-batch twin: remove
    * every stored row whose merge key appears in `keys` with
    * `versionCol <= ` that key's `deleteVersionCol` (the same
    * delete-wins-ties / reinserts-survive version resolution as the CDC
    * predicate path). The key set is a DATAFRAME, broadcast into the
    * find scan and the survivor rewrite as an ordinary join — plan size
    * is O(1) in the key count, so a million-key takedown batch builds
    * the same plan a ten-key one does (the literal IN-list path is
    * bounded by [[graft.streaming.StoreIngest.MaxKeysPerDeletePass]];
    * this is what runs above it). One FILE-GRANULAR copy-on-write pass,
    * ONE manifest commit; deleted rows stay readable `asOf` until
    * [[vacuum]]. For single-column keys the find scan is additionally
    * manifest-stat-pruned by the key set's [min, max] extent (a
    * driver-side aggregate over the broadcast-sized key frame).
    * Returns the committed version.
    */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
                 keyCols: Seq[String], deleteVersionCol: String,
                 versionCol: String, tsCol: String, uidCols: Seq[String],
                 codec: String = "zstd",
                 rowGroupBytes: Long = 16L << 20,
                 maxRecordsPerFile: Long = 8L << 20): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs the store's merge-key columns")
    require(uidCols.nonEmpty, "deleteKeys needs the store's partition columns")
    val baseV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // one row per key, highest delete version wins (same resolution the
    // chunked predicate applies per key)
    val k = keys.groupBy(keyCols.map(col): _*)
      .agg(max(col(deleteVersionCol)).as("__del_v"))
      .localCheckpoint() // evaluated 3× below (extent, find, rewrite)
    if (k.isEmpty) return baseV
    // manifest-level prune of the FIND scan: keys' extent (sort-order-
    // correlated feeds) + per-file digest probe (scattered feeds) —
    // same gates as the dv twin, scoping the resolution itself past
    // the lazy threshold
    val probe = keyProbe(k, keyCols)
    val dKeep = digestKeep(probe) _
    val base =
      if (keyCols.sizeIs == 1) {
        val ext = k.agg(min(col(keyCols.head)).as("lo"),
          max(col(keyCols.head)).as("hi")).first()
        scopedBase(path, baseV,
          col(keyCols.head).between(lit(ext.get(0)), lit(ext.get(1))),
          extraKeep = dKeep)
      } else if (probe.nonEmpty &&
          StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold)
        StoreLog.readFiltered(path, baseV)(e => dKeep(e.stats))
      else StoreLog.read(path, baseV)
    if (base.files.isEmpty) return base.version
    val candidates = {
      val extPruned =
        if (keyCols.sizeIs == 1) {
          val ext = k.agg(min(col(keyCols.head)).as("lo"),
            max(col(keyCols.head)).as("hi")).first()
          FileStats.prune(base.files, base.stats,
            col(keyCols.head).between(lit(ext.get(0)), lit(ext.get(1))))
        } else base.files
      extPruned.filter(f => dKeep(base.stats.get(f)))
    }
    lastTakedownCandidates = candidates.size
    if (candidates.isEmpty) return base.version
    def readFiles(s: StoreLog.Snapshot, fs: Seq[String]) =
      readFilesDv(spark, path, s, fs, mergeSchema = true)
    def findAffected(s: StoreLog.Snapshot, fs: Seq[String]): Array[String] =
      readFiles(s, fs).join(broadcast(k), keyCols, "inner")
        .filter(col(versionCol) <= col("__del_v"))
        .select(input_file_name().as("__f"))
        .distinct().collect().map(_.getString(0))
    val (affectedUris, snapUsed) =
      try (findAffected(base, candidates), base)
      catch {
        // a key/version column may exist only in pruned-away files'
        // schemas (schema evolution) — re-resolve over the FULL live
        // set (a filtered base widens here too)
        case _: org.apache.spark.sql.AnalysisException =>
          val full =
            if (base.filtered) StoreLog.read(path, base.version) else base
          (findAffected(full, full.files), full)
      }
    if (affectedUris.isEmpty) return base.version
    val affected = matchManifest(path, snapUsed, affectedUris)
    val prefixes: Set[String] = affected.map { f =>
      val i = f.lastIndexOf('/')
      require(i > 0, s"live file '$f' is not under a partition directory")
      f.substring(0, i)
    }.toSet
    // survivors: rows with no matching delete key, or reinserted ABOVE
    // the key's delete version
    val survivors = readFiles(snapUsed, affected)
      .join(broadcast(k), keyCols, "left_outer")
      .filter(col("__del_v").isNull || col(versionCol) > col("__del_v"))
      .drop("__del_v")
    val staging = txnDir(path)
    val rangeCols: Seq[Column] = uidCols.map(col) :+ col(tsCol)
    writeFiles(survivors.repartitionByRange(rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*),
      staging, uidCols, SaveMode.Overwrite, codec, rowGroupBytes,
      maxRecordsPerFile, base.bloomCols)
    StoreTxn.staged(path, staging) { txn =>
      // transform commit: remove exactly the affected files, add the
      // rewrites — no parent file list materializes; a concurrent
      // REPLACE of a touched partition aborts (its `replaced` record),
      // pure appends under it serialize after this delete cleanly
      commitTransformWithRebase(txn, base.version, prefixes.toSeq,
        removeFilesOf = _ => affected,
        abortOnAppendsUnder = false)
    }
  }

  /** Compact the named partition DIRECTORIES of a logged store: rewrite
    * each prefix's live files into range-sorted chunks (one pruned read +
    * one staged write per call) and swap them in ONE CAS-committed
    * manifest version — the small-file maintenance verb for the
    * streaming-ingest regime, where every micro-batch lands its own file
    * set. Replaced chunks stay readable `asOf` pre-compaction versions
    * until [[vacuum]], like every other commit.
    *
    * Concurrency: a concurrent APPEND under a touched prefix serializes
    * cleanly (its files are not in the replace set and survive the
    * rebase); a concurrent commit that REPLACED a touched prefix aborts
    * with [[StoreLog.CommitConflict]] — the compaction's rewrite was
    * computed from files that are no longer live, and re-committing it
    * would resurrect replaced rows. Compaction is a maintenance op:
    * callers (e.g. [[graft.streaming.StoreIngest]]'s auto-compact) just
    * skip an aborted pass and retry on a later cadence.
    *
    * Returns the committed version, or the current one when every prefix
    * is already compact (nothing staged, nothing committed).
    */
  def compactPartitions(spark: SparkSession, path: String, prefixes: Seq[String],
                        tsCol: String, uidCols: Seq[String],
                        maxFilesPerPartition: Int = 1,
                        codec: String = "zstd",
                        rowGroupBytes: Long = 16L << 20,
                        maxRecordsPerFile: Long = 8L << 20): Long = {
    require(prefixes.nonEmpty, "compactPartitions needs at least one partition prefix")
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    // scoped resolution: past the lazy threshold only the TOUCHED
    // prefixes' files (their stats/sizes/dvs riding along) materialize
    // on the driver — a one-partition compaction against a million-file
    // store stays O(its scope), like the delete/takedown family.
    // Maintenance reads the MAIN view: under an open branch the tip may
    // be the branch's (the rewrite targets main; branch pins rebase or
    // prove disjoint at commit — [[commitMaintenanceRewrite]])
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    val baseV = StoreLog.mainVersionAt(path, tipV)
    val base =
      if (StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold)
        StoreLog.readFiltered(path, baseV, prefixes)(_ => true)
      else StoreLog.read(path, baseV)
    // only prefixes actually OVER the target are rewritten — an
    // already-compact partition costs nothing. A partition holding a
    // DELETION-VECTORED file is compaction-worthy at any file count:
    // materializing the vector (rewriting live rows, dropping the
    // sidecar) is part of this verb's contract.
    val byPrefix = prefixes.map { p =>
      p -> base.files.filter(_.startsWith(p + "/"))
    }.filter { case (_, fs) =>
      fs.size > maxFilesPerPartition || fs.exists(base.dvs.contains)
    }
    if (byPrefix.isEmpty) return base.version
    val targets = byPrefix.flatMap(_._2)
    val touched = byPrefix.map(_._1)
    // dv-aware: compaction MATERIALIZES deletion vectors — the rewrite
    // reads only live rows and the replaced files' vectors die with them
    val rows = readFilesDv(spark, path, base, targets, mergeSchema = true)
    val staging = txnDir(path)
    val rangeCols: Seq[Column] = uidCols.map(col) :+ col(tsCol)
    writeFiles(rows.repartitionByRange(rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*),
      staging, uidCols, SaveMode.Overwrite, codec, rowGroupBytes,
      maxRecordsPerFile, base.bloomCols)
    // maintenance commit: swap exactly the targets for the rewrite —
    // branchless, the streamed transform (no parent file list on any
    // attempt; an intervening REPLACE of a touched prefix aborts,
    // appends serialize); under open branches, the disjointness-
    // proved rewrite with branch-pin rebase.
    StoreTxn.staged(path, staging) { txn =>
      commitMaintenanceRewrite(txn, base.version,
        replaced = touched, targets = targets)
    }
  }

  /** Partition prefixes whose DELETED-ROW RATIO — manifest-recorded
    * deletion-vector cardinality over recorded file rows — is at or
    * above `ratio`. Zero IO: both numbers live in the manifest, so the
    * "has merge-on-read churn made this partition worth rewriting?"
    * question is a driver-side sum, never a cluster job. This is the
    * AUTO-compaction cue for dv density: without it a table absorbing
    * steady dv DML pays the vectored read tax (and the per-file
    * position filtering) until a human calls compact. A vectored file
    * with NO recorded row count (legacy adopted files) makes its
    * prefix's density unknowable — included conservatively, since the
    * rewrite is exactly what retires the unknown.
    */
  def dvDensePrefixes(snap: StoreLog.Snapshot, ratio: Double): Seq[String] = {
    if (snap.dvs.isEmpty || ratio <= 0) return Seq.empty
    snap.files.groupBy { f =>
      val i = f.lastIndexOf('/')
      if (i > 0) f.substring(0, i) else ""
    }.collect { case (p, fs) if p.nonEmpty &&
        fs.exists(snap.dvs.contains) => (p, fs)
    }.collect { case (p, fs)
        if {
          val dvRows = fs.iterator.map(f =>
            snap.dvs.get(f).map(_.rows).getOrElse(0L)).sum
          val recorded = fs.map(f => snap.liveRows(f)
            .map(_ + snap.dvs.get(f).map(_.rows).getOrElse(0L)))
          recorded.exists(_.isEmpty) ||
            dvRows.toDouble >= ratio * recorded.flatten.sum
        } => p
    }.toSeq.sorted
  }

  /** [[dvDensePrefixes]] computed STREAMING from the manifest chain —
    * per-prefix tallies in O(live prefixes) driver state, so the
    * post-DML hook (which runs after EVERY dv commit) never resolves a
    * million-file snapshot just to read two sums. Same semantics as
    * the snapshot variant: a prefix is dense when any of its files'
    * row counts are unrecorded (conservative) or deleted ≥ ratio ×
    * recorded; only prefixes carrying at least one vector qualify.
    */
  private[graft] def dvDensePrefixesAt(path: String, v: Long,
                                       ratio: Double): Seq[String] = {
    if (ratio <= 0) return Seq.empty
    final class T {
      var dv = 0L; var rec = 0L; var unknown = false; var hasDv = false
    }
    val m = scala.collection.mutable.Map.empty[String, T]
    StoreLog.foldFiles(path, v)(()) { (_, e) =>
      val i = e.path.lastIndexOf('/')
      if (i > 0) {
        val t = m.getOrElseUpdate(e.path.substring(0, i), new T)
        e.dv.foreach { d => t.hasDv = true; t.dv += d.rows }
        e.stats.flatMap(_.values.collectFirst {
          case cs if cs.rows >= 0 => cs.rows
        }) match {
          case Some(r) => t.rec += r
          case None => t.unknown = true
        }
      }
    }
    m.collect { case (p, t) if t.hasDv &&
        (t.unknown || t.dv.toDouble >= ratio * t.rec) => p }.toSeq.sorted
  }

  /** The batch-DML twin of the streaming sink's dv-density hook: after
    * a deletion-vector commit (SQL DELETE/UPDATE/MERGE on a dv table,
    * or the Scala dv verbs), auto-compact the prefixes whose deleted
    * ratio crossed the table's `dv.compact.ratio` property — the cue
    * itself is zero IO ([[dvDensePrefixes]]: manifest sums only).
    * Without the property the hook only LOGS an advisory at the
    * default 20% ratio: a steady-DML table that nobody compacts pays
    * the vectored-read tax forever, and the log line is the operator's
    * signal. A compaction losing its CAS to a concurrent writer is
    * skipped — the next DML commit re-checks the same manifest sums.
    *
    * BEST-EFFORT by contract: the hook runs AFTER the DML's manifest
    * commit is durable, so no failure here may surface to the caller —
    * a transient IO error in the maintenance rewrite would otherwise
    * make an already-committed DELETE/UPDATE/MERGE report failure, and
    * a client retry of a non-idempotent statement (SET v = v + 1)
    * would double-apply. Anything NonFatal is logged and swallowed;
    * the density cue re-fires on the next DML commit anyway.
    */
  private[graft] def dvDensityCompact(spark: SparkSession, path: String): Unit =
    try dvDensityCompactUnsafe(spark, path)
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"post-commit dv-density compaction at $path failed " +
          s"(DML itself is committed; will re-check next commit): $e")
    }

  private def dvDensityCompactUnsafe(spark: SparkSession, path: String): Unit =
    // density reads the MAIN view (under an open branch the tip may be
    // the branch's); compaction itself is branch-tolerant now
    // ([[commitMaintenanceRewrite]]), so the cue no longer stalls for a
    // long-lived WAP branch
    StoreLog.mainVersion(path).foreach { v =>
      val props = StoreLog.propsAt(path, StoreLog.latestVersion(path).getOrElse(v))
      props.get("dv.compact.ratio")
        .flatMap(r => scala.util.Try(r.toDouble).toOption).filter(_ > 0) match {
        case Some(ratio) =>
          val dense = dvDensePrefixesAt(path, v, ratio)
          if (dense.nonEmpty) {
            val tsCol = props.getOrElse(GraftTable.TsColProp, "ts")
            val uids = props.get(GraftTable.UidsProp)
              .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
              .getOrElse(GraftTable.partCols(path))
            if (uids.nonEmpty)
              try compactPartitions(spark, path, dense, tsCol, uids): Unit
              catch { case _: StoreLog.CommitConflict => () }
          }
        case None =>
          val dense = dvDensePrefixesAt(path, v, 0.2)
          if (dense.nonEmpty)
            log.info(s"store $path has ${dense.size} partition(s) at >=20% " +
              "deleted-row density — compact them (CALL system.compact / " +
              "TsStore.compactPartitions), or set TBLPROPERTIES" +
              "('dv.compact.ratio'='0.2') to auto-compact on DML commits")
      }
    }

  /** Exact row count of the (optionally `asOf`-versioned) live view from
    * the MANIFEST alone — zero file IO, zero Spark jobs (the Delta
    * "numRecords in the transaction log" role): every stat-carrying file
    * records its row count, so the total is a driver-side sum. `None`
    * when any live file lacks recorded stats (legacy commits, adopted
    * files whose footers failed to read) — the caller falls back to a
    * scan; NEVER a guess. At 100 TB this is the difference between a
    * metadata lookup and a cluster job for the most common question a
    * store is asked.
    */
  def countAt(path: String, asOf: Option[Long] = None): Option[Long] = {
    val snap = asOf.orElse(StoreLog.mainVersion(path))
      .map(v => StoreLog.read(path, v))
      .getOrElse(return None)
    // LIVE rows: recorded per-file counts minus each file's recorded
    // deletion-vector cardinality — still exact, still zero file IO
    val per = snap.files.map(snap.liveRows)
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** The series catalog from the MANIFEST alone — corintick's
    * `(uid, start, end)` index answered without touching a data file:
    * per partition-directory value, the summed row count and the
    * min/max of the recorded `tsCol` bounds. `None` when any live file
    * lacks the needed stats (legacy commits — fall back to
    * [[listSeries]] over a scan; never a guess). The list_uids question
    * a 100 TB store answers hundreds of times a day, for the cost of a
    * manifest read.
    */
  def catalogAt(spark: SparkSession, path: String, uidCol: String,
                tsCol: String = "ts",
                asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val snap = asOf.orElse(StoreLog.mainVersion(path))
      .map(v => StoreLog.read(path, v)).getOrElse(return None)
    // deletion vectors: a vectored file's LIVE count is exact from the
    // recorded cardinality; its ts bounds stay exact when the vector's
    // recorded deleted-row bounds ([[Dv.Entry.bounds]]) prove both ends
    // intact (every deleted ts strictly inside) — a fully-emptied file
    // contributes its zero count and no bounds, and a uid whose every
    // row is vectored away vanishes. A vector without recorded bounds
    // refuses (callers fall back to listSeries over a dv-applied scan);
    // never a guess.
    // per-file: (uid, liveRows, Option[(minUs, maxUs)])
    val per: Seq[Option[(String, Long, Option[(Long, Long)])]] = snap.files.map { f =>
      val i = f.indexOf('/')
      val j = f.indexOf('=')
      if (i <= 0 || j <= 0 || j >= i || f.substring(0, j) != uidCol) None
      else snap.stats.get(f).flatMap { fs =>
        for {
          ts <- fs.get(tsCol)
          if (ts.tag == "ts" || ts.tag == "tn") && ts.rows >= 0
          dvRows = snap.dvs.get(f).map(_.rows).getOrElse(0L)
          live = ts.rows - dvRows
          bounds <-
            if (live == 0L) Some(None)
            else if (dvRows == 0L)
              Some(Some((ts.min.asInstanceOf[Long], ts.max.asInstanceOf[Long])))
            else snap.dvs.get(f).flatMap(_.bounds.get(tsCol)).collect {
              case b if b.tag == ts.tag &&
                  (b.lo.isEmpty ||
                    (Dv.cmpBound(b.tag, b.lo.get, ts.min) > 0 &&
                     Dv.cmpBound(b.tag, b.hi.get, ts.max) < 0)) =>
                Some((ts.min.asInstanceOf[Long], ts.max.asInstanceOf[Long]))
            }
        } yield (ExternalCatalogUtils.unescapePathName(f.substring(j + 1, i)),
          live, bounds)
      }
    }
    if (per.exists(_.isEmpty)) return None
    val rows = per.flatten
      .groupBy(_._1).toSeq
      .collect { case (uid, fs) if fs.map(_._2).sum > 0 =>
        val bs = fs.flatMap(_._3)
        (uid, fs.map(_._2).sum, bs.map(_._1).min, bs.map(_._2).max)
      }
    val df = spark.createDataFrame(rows)
      .toDF(uidCol, "n_rows", "__min_us", "__max_us")
    Some(df.select(col(uidCol), col("n_rows"),
      timestamp_micros(col("__min_us")).as("ts_min"),
      timestamp_micros(col("__max_us")).as("ts_max")))
  }

  /** Store observability — the DESCRIBE DETAIL role: one row per LIVE
    * file of the (optionally `asOf`-versioned) manifest, with its
    * partition directory, on-disk size, and the manifest's recorded
    * per-column bounds (stringified, tagged with the stat's value
    * semantics — see [[FileStats.ColStat]]). Driver-side metadata only:
    * the manifest names the files, one FileSystem status call each for
    * the size — O(live files), no data pages, no Spark job until the
    * caller acts on the frame. The operational companion to the
    * maintenance verbs: "which partitions are fragmented" feeds
    * [[compactPartitions]], "which files' bounds are wide" feeds
    * [[zorder]], "what does this version hold" feeds [[restore]].
    */
  def detail(spark: SparkSession, path: String,
             asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val snap = asOf.orElse(StoreLog.mainVersion(path))
      .map(v => StoreLog.read(path, v))
      .getOrElse(throw new IllegalArgumentException(
        s"detail needs a logged store; '$path' has no manifest"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = snap.files.map { f =>
      // manifest-recorded byte length first (zero RPCs on a
      // sizes-complete store); status fallback for legacy files only
      val bytes = snap.sizes.getOrElse(f, {
        val p = new org.apache.hadoop.fs.Path(s"$path/$f")
        try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case scala.util.control.NonFatal(_) => -1L }
      })
      val i = f.lastIndexOf('/')
      val part = if (i > 0) f.substring(0, i) else ""
      val stats = snap.stats.getOrElse(f, Map.empty).map { case (c, cs) =>
        c -> org.apache.spark.sql.Row(cs.tag, String.valueOf(cs.min), String.valueOf(cs.max))
      }
      org.apache.spark.sql.Row(f, part, bytes, stats)
    }
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("min", StringType, nullable = false),
        StructField("max", StringType, nullable = false)))))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** RESTORE the store to an earlier committed version — as a NEW
    * commit, not a history rewrite (the Delta RESTORE / Iceberg
    * rollback role): the target version's file list simply becomes the
    * next manifest version. Nothing is copied or rewritten — the old
    * files are still on disk until [[StoreLog.vacuum]] reclaims them,
    * which is exactly why the retention window is the undo window. The
    * bad intermediate versions stay readable `asOf` for audit until
    * vacuumed. This is the accident-undo verb: a botched upsert, an
    * over-broad delete, a corrupted CDC batch — one O(manifest) commit
    * walks it back.
    *
    * Concurrency: restore REPLACES the whole live view, so it cannot
    * rebase over anything — a concurrent commit of any kind aborts it
    * with [[StoreLog.CommitConflict]] (re-inspect and retry; blindly
    * rebasing would silently discard the concurrent writer's rows).
    *
    * Returns the new version. Requires `toVersion` to still be
    * resolvable (inside the vacuum retention window).
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long =
    StoreLog.withWriterLease(path) { lease =>
      lease.renew()
      val curV = StoreLog.latestVersion(path)
        .getOrElse(StoreLog.ensure(path).version)
      if (curV == toVersion) curV
      else {
        // `replaced` must name every partition prefix the restore could
        // touch — concurrent writers' rebase checks look for THEIR
        // prefix there, and a sentinel would let e.g. a compaction
        // rebase over the restore and resurrect pre-restore rows. The
        // prefix union streams off both versions' folds: O(live
        // partitions) driver state, never two file lists.
        val s = scala.collection.mutable.Set.empty[String]
        def prefixesOf(v: Long): Unit =
          StoreLog.foldFiles(path, v)(()) { (_, e) =>
            val i = e.path.lastIndexOf('/')
            s += (if (i > 0) e.path.substring(0, i) else e.path)
          }
        prefixesOf(curV); prefixesOf(toVersion)
        // streamed checkpoint commit: the target's live state — files,
        // stats, sizes, and its EXACT deletion-vector set (shedding
        // newer vectors even for files live in both versions) — without
        // materializing either snapshot's maps
        StoreLog.restoreCommit(path, curV, toVersion, s.toSeq.sorted)
      }
    }

  /** Z-ORDER the live files of a logged store: rewrite them clustered on
    * the interleaved-bit Morton value of `clusterCols` (equi-depth
    * quantile buckets — [[graft.functions.ZOrder]]) and swap the whole
    * set in ONE CAS-committed manifest version. The multi-dimensional
    * layout verb (Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order
    * rewrite): a store written range-sorted on (uid, ts) carries tight
    * per-file bounds on ts alone — a query keyed on ANY other column
    * (a user id, a merge key, a metric range) prunes nothing and scans
    * the store. After z-ordering on k columns, every file is local in
    * ALL k dimensions, so [[FileStats]] manifest pruning and parquet
    * row-group stats both engage for any of them (~N^((k-1)/k) of the
    * files admit a point predicate instead of all N).
    *
    * Scale shape: one `approxQuantile` sampling pass (driver gets
    * O(buckets) literals per column), then ONE shuffle
    * (`repartitionByRange` on the Z value) and a sorted write — the
    * same IO budget as a full compaction, which this also is (small
    * files collapse into `maxRecordsPerFile`-bounded chunks). Replaced
    * chunks stay readable `asOf` pre-rewrite versions until [[vacuum]].
    *
    * Concurrency mirrors [[compactPartitions]]: a concurrent APPEND
    * serializes cleanly (its files survive the rebase un-replaced); a
    * concurrent commit that REPLACED a touched partition aborts with
    * [[StoreLog.CommitConflict]] — rewriting its dead files would
    * resurrect replaced rows. Z-order is a maintenance op; callers skip
    * an aborted pass and retry later.
    *
    * `scope` bounds the rewrite to the NAMED partition prefixes (the
    * Delta `OPTIMIZE ... WHERE` role, resolved to prefixes — see
    * [[partitionPrefixesWhere]] for the predicate face): at 100 TB you
    * re-cluster yesterday's partitions, not the decade. Out-of-scope
    * files are untouched on disk and un-replaced in the manifest (their
    * partitions never even enter the rebase conflict set, so a writer
    * landing elsewhere serializes cleanly past a scoped pass); empty =
    * whole store. A scope naming no live files is a no-op.
    *
    * Returns the committed version (the store's current version when it
    * has no live files).
    */
  def zorder(spark: SparkSession, path: String, clusterCols: Seq[String],
             uidCols: Seq[String],
             buckets: Int = 256,
             codec: String = "zstd",
             rowGroupBytes: Long = 16L << 20,
             maxRecordsPerFile: Long = 8L << 20,
             numChunks: Int = 0,
             scope: Seq[String] = Nil,
             incremental: Boolean = false): Long = {
    require(clusterCols.nonEmpty, "zorder needs at least one cluster column")
    require(uidCols.nonEmpty, "zorder needs the store's partition columns")
    require(scope.isEmpty || !incremental,
      "incremental zorder covers the whole store — name a scope OR pass incremental")
    // maintenance reads the MAIN view (under a branch the tip may be
    // the branch's); marker props read at the TIP — the freshest store
    // properties
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    val baseV = StoreLog.mainVersionAt(path, tipV)
    val props0 = StoreLog.propsAt(path, tipV)
    // INCREMENTAL (the liquid-clustering role): rewrite only files
    // added since the recorded marker — the walk reads each commit's
    // raw add/remove record (txn checkpoints keep it raw; a
    // record-less version — legacy checkpoint, restore — falls back to
    // one live-set diff), skipping the adds of PREVIOUS cluster
    // commits (their tag marks them — a pass must not churn its own
    // output). Marker soundness needs no append fencing: the marker is
    // the pass's BASE version, so files landing during the commit
    // window commit at higher versions and join the next pass's walk.
    val marker: Option[Long] =
      if (!incremental) None
      else props0.get(ClusterVersionProp).flatMap(m =>
        scala.util.Try(m.toLong).toOption)
          .filter(_ => props0.get(ClusterColsProp)
            .contains(clusterCols.mkString(",")))
    val incrTargets: Option[Seq[String]] = marker.map { m =>
      val added = scala.collection.mutable.LinkedHashSet.empty[String]
      var v = m + 1
      var raw = true
      while (raw && v <= tipV) {
        // a BRANCH-era version's raw record reflects the tip's view
        // FLIPS (zig-zag deltas), not main's semantic changes — one
        // live-set diff answers instead (conservative: re-clusters at
        // worst; never misses a main file a flip commit removed last)
        if (StoreLog.propsAt(path, v).contains(StoreLog.MainRefProp))
          raw = false
        else StoreLog.rawDelta(path, v) match {
          case Some((add, rm, _)) =>
            rm.foreach(added -= _)
            // skip ONLY the output of passes clustered on THESE columns
            // (the tag encodes them — see [[clusterTag]]): a scoped or
            // different-column pass's files are NOT clustered on the
            // marker's columns and must rejoin the walk. Legacy
            // uuid-suffixed tags never match — re-clustered once,
            // conservatively.
            if (!StoreLog.tagAt(path, v).contains(clusterTag(clusterCols)))
              added ++= add
          case None => raw = false // record-less version: diff instead
        }
        v += 1
      }
      if (raw) added.toSeq
      else {
        // fallback: files live now that were not live at the marker —
        // O(store paths) driver memory, only on restore/legacy chains
        val atMarker = StoreLog.foldFiles(path, m)(
          scala.collection.mutable.HashSet.empty[String])((s, e) => { s += e.path; s })
        StoreLog.foldFiles(path, baseV)(Vector.empty[String])((a, e) =>
          if (atMarker.contains(e.path)) a else a :+ e.path)
      }
    }
    if (incrTargets.exists(_.isEmpty)) return baseV // nothing new since marker
    def prefixOf(f: String): String = {
      val i = f.lastIndexOf('/')
      require(i > 0, s"live file '$f' is not under a partition directory")
      f.substring(0, i)
    }
    // SCOPED resolution: a prefix-bounded or incremental re-cluster
    // against a million-file store materializes only its targets (a
    // whole-store pass is O(store) by definition — its rewrite IS the
    // store — so it keeps the full resolve)
    val incrSet = incrTargets.map(_.toSet)
    val resolvePrefixes =
      incrTargets.map(_.map(prefixOf).distinct).getOrElse(scope)
    val base =
      if (resolvePrefixes.nonEmpty &&
          StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold)
        StoreLog.readFiltered(path, baseV, resolvePrefixes)(e =>
          incrSet.forall(_.contains(e.path)))
      else StoreLog.read(path, baseV)
    if (base.files.isEmpty) return base.version
    val scopeSet = scope.toSet
    val targetFiles = incrSet match {
      case Some(ts) => base.files.filter(ts.contains)
      case None if scope.isEmpty => base.files
      case None => base.files.filter(f => scopeSet(prefixOf(f)))
    }
    if (targetFiles.isEmpty) return base.version
    val prefixes: Seq[String] = targetFiles.map(prefixOf).distinct
    val rows = readFilesDv(spark, path, base, targetFiles, mergeSchema = true)
    val bs = graft.functions.ZOrder.boundaries(rows, clusterCols, buckets)
    val z = graft.functions.ZOrder.zValue(bs, clusterCols)
    // Explicit partition count (AQE would coalesce a default-count range
    // exchange, collapsing locality into giant tasks), and the sort key
    // leads with the PARTITION columns: the dynamic-partition writer's
    // required ordering is then already satisfied, so it inserts no
    // re-sort of its own — a partition-cols-only re-sort is not stable
    // and would scramble the z runs inside each output file. The count
    // is footer-only on parquet (no data pages).
    val n =
      if (numChunks > 0) numChunks
      else {
        // live row total from the MANIFEST when every target records
        // rows (commit-time footer stats minus dv cardinality — the
        // exact number rows.count() would return), saving a whole scan
        // job per pass; a store with any unrecorded file (legacy
        // adopted) falls back to the count
        val recorded = targetFiles.foldLeft(Option(0L)) {
          case (Some(acc), f) => base.liveRows(f).map(acc + _)
          case (None, _) => None
        }
        val total = recorded.getOrElse(rows.count())
        math.max(1, math.ceil(total.toDouble / maxRecordsPerFile).toInt)
      }
    val clustered = {
      val withZ = rows.withColumn("__z", z)
      val keys = uidCols.map(col) :+ col("__z")
      withZ.repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("__z")
    }
    val staging = txnDir(path)
    writeFiles(clustered, staging, uidCols, SaveMode.Overwrite, codec,
      rowGroupBytes, maxRecordsPerFile, base.bloomCols)
    StoreTxn.staged(path, staging) { txn =>
      // transform commit: swap exactly the targets for the clustered
      // rewrite — O(rewrite footprint) on every attempt, no parent file
      // list. Conflict rules unchanged: an intervening commit REPLACING
      // a touched prefix aborts, appends serialize. Whole-store and
      // incremental passes advance the CLUSTER MARKER to their base
      // version (everything live there is clustered after this commit);
      // a scoped pass covers only its prefixes and leaves it alone. The
      // commit tag marks the adds as cluster OUTPUT so later
      // incremental walks skip them.
      val markerProps =
        if (incremental || scope.isEmpty)
          Map(ClusterColsProp -> clusterCols.mkString(","),
            ClusterVersionProp -> base.version.toString)
        else Map.empty[String, String]
      commitMaintenanceRewrite(txn, base.version,
        replaced = prefixes, targets = targetFiles,
        tag = Some(clusterTag(clusterCols)),
        // z-clustered files are ordered by the interleave rank, NOT by
        // ts — the scan must stop claiming per-partition ts order
        extraProps = Map(GraftTable.LayoutSortedProp -> "false") ++ markerProps)
    }
  }

  /** Cluster-marker store properties ([[zorder]] incremental mode):
    * the version at which the whole store was last proven clustered on
    * [[ClusterColsProp]], and the commit-tag prefix that marks a
    * cluster pass's own output files (so incremental walks never churn
    * them).
    */
  val ClusterColsProp = "graft.cluster.cols"
  val ClusterVersionProp = "graft.cluster.v"
  val ClusterTagPrefix = "graft.zorder:"

  /** A cluster pass's commit tag: the prefix plus the CLUSTER COLUMNS —
    * so an incremental walk can tell "already clustered on my columns"
    * (skip) from a scoped/different-column pass's output (rejoin).
    */
  private[graft] def clusterTag(cols: Seq[String]): String =
    ClusterTagPrefix + cols.mkString(",")

  /** Resolve a partition-scope PREDICATE (a SQL boolean over the
    * store's partition columns — `"event_type = 'view'"`,
    * `"day >= '2024-06-01'"`) to the live partition PREFIXES it admits:
    * the selector behind scoped maintenance (`CALL system.zorder(...,
    * where)`, the Delta `OPTIMIZE ... WHERE` role). Manifest-only and
    * driver-side: one local row per LIVE PARTITION (never per file, and
    * no file IO), partition values directory-decoded with Spark's own
    * path unescaping (the Hive null sentinel decodes to NULL), typed as
    * strings and compared under Spark's usual implicit casts — `expr`
    * analysis gives predicate errors their natural message. The
    * `.collect()` is bounded by the live partition count by contract
    * (the same O(partitions) budget every prefix list in this file
    * carries).
    */
  def partitionPrefixesWhere(spark: SparkSession, snap: StoreLog.Snapshot,
                             where: String): Seq[String] =
    partitionPrefixesWhere(spark, snap.files.flatMap { f =>
      val i = f.lastIndexOf('/')
      if (i > 0) Some(f.substring(0, i)) else None
    }.distinct.sorted, where)

  /** Per-prefix (live file count, carries-a-deletion-vector) tallies,
    * STREAMED from the manifest chain — the compaction cue walk's
    * input, O(live prefixes) driver state on a million-file store
    * (the same budget [[dvDensePrefixesAt]] holds).
    */
  private[graft] def livePrefixStats(path: String, v: Long)
      : Map[String, (Int, Boolean)] = {
    val m = scala.collection.mutable.Map.empty[String, (Int, Boolean)]
    StoreLog.foldFiles(path, v)(()) { (_, e) =>
      val i = e.path.lastIndexOf('/')
      if (i > 0) {
        val p = e.path.substring(0, i)
        val (n, dv) = m.getOrElse(p, (0, false))
        m(p) = (n + 1, dv || e.dv.isDefined)
      }
    }
    m.toMap
  }

  /** [[partitionPrefixesWhere]] over an already-listed prefix set (the
    * streamed-cue callers' face — they hold the prefixes, never a
    * snapshot).
    */
  def partitionPrefixesWhere(spark: SparkSession, prefixes: Seq[String],
                             where: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    if (prefixes.isEmpty || where.trim.isEmpty) return prefixes
    val parsed: Seq[(String, Map[String, String])] = prefixes.map { p =>
      p -> p.split('/').toSeq.map { seg =>
        val j = seg.indexOf('=')
        require(j > 0, s"'$p' is not a partition directory prefix")
        ExternalCatalogUtils.unescapePathName(seg.substring(0, j)) ->
          ExternalCatalogUtils.unescapePathName(seg.substring(j + 1))
      }.toMap
    }
    val colNames = parsed.flatMap(_._2.keys).distinct
    val schema = StructType(
      colNames.map(StructField(_, StringType, nullable = true)) :+
        StructField("__prefix", StringType, nullable = false))
    val rows: java.util.List[Row] = parsed.map { case (p, m) =>
      Row.fromSeq(colNames.map(c => m.get(c)
        .filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        .orNull) :+ p)
    }.asJava
    spark.createDataFrame(rows, schema)
      .filter(expr(where))
      .select("__prefix")
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Change-feed read between two committed manifest versions — "what
    * changed from v_a to v_b, by merge key". The incremental-consumption
    * primitive a store CHAIN needs: a downstream stage applies the diff
    * instead of reprocessing the full live view (Delta CDF / Iceberg
    * incremental-read role, derived here purely from the manifest chain —
    * nothing extra is written at commit time).
    *
    * Returns the store's columns plus `change_type`:
    *   - `insert`: key live at `toV`, absent at `fromV` (the new row);
    *   - `update`: key live in both with a different (key, versionCol)
    *     pair (the `toV` row);
    *   - `delete`: key live at `fromV`, gone at `toV` (the OLD row, so a
    *     consumer knows what to take down).
    *
    * Scale shape: only the WINDOW's file diff is ever read — files added
    * between the versions and still live (`toV.files -- fromV.files`) on
    * the new side, files replaced/removed in the window
    * (`fromV.files -- toV.files`) on the old side. Files untouched by the
    * window's commits are in neither set, so the cost scales with what
    * the commits wrote, not the store (a 1 GB upsert against a 100 TB
    * store diffs ~2 GB whatever the store's size). Carried-over rows
    * (copy-on-write survivors rewritten with an UNCHANGED (key, version))
    * appear on both sides and cancel via an anti-join on the pair.
    *
    * Contract: the keyed-store invariants [[upsert]] maintains — one live
    * row per key, `versionCol` strictly increases when a key's payload
    * changes (a rewrite that changes a payload without bumping the
    * version is indistinguishable from a carried-over row and is
    * reported as unchanged).
    *
    * `preimages = true` additionally emits each updated key's OLD row as
    * `update_preimage` (the Delta CDF role) — what an incremental
    * aggregate consumer needs to SUBTRACT before adding the new row
    * ([[MatView]]); without it, updates are only additively visible.
    */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long,
              keyCols: Seq[String], versionCol: String,
              mergeSchema: Boolean = false,
              preimages: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "changes needs the store's merge-key columns")
    require(fromV <= toV, s"changes needs fromV <= toV, got $fromV > $toV")
    val fromSnap = StoreLog.read(path, fromV)
    val toSnap = StoreLog.read(path, toV)
    // each side reads through ITS OWN snapshot's deletion vectors, and a
    // file whose dv CHANGED inside the window (a merge-on-read delete —
    // no add/remove to diff) counts as replaced: read on BOTH sides, the
    // (key, version) anti-joins below cancel the survivors and emit the
    // newly-vectored rows as deletes
    def readFrom(fs: Seq[String]): DataFrame =
      readFilesDv(spark, path, fromSnap, fs, mergeSchema)
    def readTo(fs: Seq[String]): DataFrame =
      readFilesDv(spark, path, toSnap, fs, mergeSchema)
    val fromSet = fromSnap.files.toSet
    val toSet = toSnap.files.toSet
    val dvChanged = toSnap.files.filter(f =>
      fromSet(f) && fromSnap.dvs.get(f) != toSnap.dvs.get(f))
    val newFiles = toSnap.files.filterNot(fromSet) ++ dvChanged
    val goneFiles = fromSnap.files.filterNot(toSet) ++ dvChanged
    // empty diff → empty frame with the store's schema + change_type
    if (newFiles.isEmpty && goneFiles.isEmpty)
      return load(spark, path, mergeSchema, asOf = Some(toV))
        .withColumn("change_type", lit("")).limit(0)
    val keyEq = keyCols.map(c => col(s"n.$c") <=> col(s"o.$c")).reduce(_ && _)
    (newFiles, goneFiles) match {
      case (nf, Nil) =>
        // pure append window: every row in the added files is an insert
        readTo(nf).withColumn("change_type", lit("insert"))
      case (Nil, gf) =>
        // pure removal window: every removed-file row's key is gone
        readFrom(gf).withColumn("change_type", lit("delete"))
      case (nf, gf) =>
        // PIN both sides ONCE (the shared-subtree rule, guide §5): the
        // insert/update/delete (+preimage) branches below fan `n` and
        // `o` into up to six join inputs, and each branch would
        // otherwise replay its side's whole readFilesDv lineage (file
        // scan + dv filter) AND carry a duplicated subtree through
        // the optimizer — measured ~0.9 s of driver-side PLANNING per
        // MatView refresh before the pin, plus the repeated scans. Both
        // sides are bounded by the window's commit footprint, never the
        // store. LAZY: the first consumer's job doubles as the
        // materialization pass. localCheckpoint (not a recomputable
        // persist) is deliberate: it truncates the lineage so the
        // 6-branch plan optimizes over two leaf nodes — on executor
        // loss the QUERY retries, the price this site chooses.
        val n = readTo(nf).localCheckpoint(false)
        val o = readFrom(gf).localCheckpoint(false)
        // carried-over survivors cancel on the (key, version) pair
        val fresh = n.as("n").join(o.as("o"),
          keyEq && col(s"n.$versionCol") <=> col(s"o.$versionCol"), "left_anti")
        val oldKeys = o.select(keyCols.map(col): _*).distinct()
        val inserts = fresh.as("n").join(oldKeys.as("o"), keyEq, "left_anti")
          .withColumn("change_type", lit("insert"))
        val updates = fresh.as("n").join(oldKeys.as("o"), keyEq, "left_semi")
          .withColumn("change_type", lit("update"))
        val newKeys = n.select(keyCols.map(col): _*).distinct()
        val deletes = o.as("n").join(newKeys.as("o"), keyEq, "left_anti")
          .withColumn("change_type", lit("delete"))
        val base = inserts.unionByName(updates).unionByName(deletes)
        if (!preimages) base
        else {
          // an updated key's OLD row: on the old side, not a carried-over
          // survivor (pair anti-join), key still live on the new side
          val oldFresh = o.as("n").join(n.as("o"),
            keyEq && col(s"n.$versionCol") <=> col(s"o.$versionCol"), "left_anti")
          val updatePre = oldFresh.as("n").join(newKeys.as("o"), keyEq, "left_semi")
            .withColumn("change_type", lit("update_preimage"))
          base.unionByName(updatePre)
        }
    }
  }

  /** The conservative may-match keep for `pred` over a version's
    * files: footer stats PLUS partition pseudo-stats (from the declared
    * schema when one exists — partition columns never appear in footer
    * stats, so without them a partition-value predicate prunes
    * nothing). Shared by [[load]]'s prune and the maintenance verbs'
    * scoped resolution.
    */
  private def predKeep(path: String, v: Long, pred: Column)
      : (String, Option[FileStats.FileStatsMap]) => Boolean = {
    val node = org.apache.spark.sql.GraftShim.predTree(pred)
    val declared: Option[org.apache.spark.sql.types.StructType] =
      StoreLog.propsAt(path, v).get(GraftTable.SchemaProp)
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    (f, st) => {
      val stats = st.getOrElse(Map.empty) ++
        declared.fold(Map.empty[String, FileStats.ColStat])(sc =>
          GraftTable.partPseudoStats(f, sc))
      stats.isEmpty || FileStats.mayMatch(stats, node)
    }
  }

  /** The snapshot a PREDICATE-scoped verb (dv/cow delete) works from:
    * stripe-lazily FILTERED to the may-match files past the lazy
    * threshold (their stats/sizes/dvs ride along — everything the find
    * scan and the dv union need), the ordinary full resolution below
    * it. A `filtered` result is a strict subset view; callers that hit
    * a schema-widening corner re-resolve fully.
    */
  private def scopedBase(path: String, v: Long, pred: Column,
      extraKeep: Option[FileStats.FileStatsMap] => Boolean = _ => true)
      : StoreLog.Snapshot =
    if (StoreLog.liveFileCount(path, v) >= StoreLog.LazySnapshotThreshold) {
      val keep = predKeep(path, v, pred)
      StoreLog.readFiltered(path, v)(e =>
        keep(e.path, e.stats) && extraKeep(e.stats))
    } else StoreLog.read(path, v)

  /** Candidate-file count of the last keyed takedown's find scan —
    * observability seam for the digest-pruning specs only. PER-THREAD:
    * the takedown verbs run driver-side on the calling thread, so a
    * parallelized harness's concurrent takedowns can never interleave
    * each other's set/read (a process-global var could).
    */
  private val lastTakedownCandidatesTl: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(-1))
  private[graft] def lastTakedownCandidates: Int =
    lastTakedownCandidatesTl.get().intValue()
  private[graft] def lastTakedownCandidates_=(n: Int): Unit =
    lastTakedownCandidatesTl.set(Integer.valueOf(n))

  /** The keyed takedown's MANIFEST-LEVEL key gate, over EVERY
    * digestable merge-key column: per column, 32-bit fingerprints of
    * the key set's distinct values in the column's stat domain —
    * probed against each candidate file's recorded distinct-value
    * digest ([[FileStats.ColStat.digest]]) so a SCATTERED takedown
    * (keys uncorrelated with the (uid, ts) layout, where the [min,max]
    * extent keeps everything) drops files BEFORE any footer opens.
    * Probing ALL key columns (column-independent AND — sound because a
    * present key tuple puts each component value in its column's
    * dictionary) closes the composite-key hole: a (coarse, fine) key
    * prunes on the FINE column's digest even though the coarse first
    * column matches every file. Timestamp keys probe as micros-
    * integral fingerprints. A column is skipped — no gate from it,
    * conservatively — when its domain is undigestable or its distinct
    * key count exceeds [[FileStats.DigestProbeMaxKeys]] (a purge that
    * size touches most files anyway).
    */
  private def keyProbe(k: DataFrame, keyCols: Seq[String])
      : Map[String, (String, java.util.HashSet[Integer])] = {
    import org.apache.spark.sql.types._
    val tagged: Seq[(String, String)] = keyCols.flatMap { keyCol =>
      (k.schema(keyCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => Some("i")
        case DateType => Some("d")
        case StringType => Some("s")
        case TimestampType => Some("ts")
        case TimestampNTZType => Some("tn")
        case _ => None
      }).map(keyCol -> _)
    }
    if (tagged.isEmpty) return Map.empty
    // ONE Spark action for every probed column: per-column distinct
    // sets as capped collect_set aggregates (cap+1 elements is the
    // over-cap sentinel), not one distinct()+collect() job per column —
    // a wide composite key must not multiply driver job latency.
    // collect_set drops nulls, matching the row-probe's null skip.
    val aggs = tagged.map { case (c, _) =>
      slice(collect_set(col(c)), 1, FileStats.DigestProbeMaxKeys + 1).as(c)
    }
    val row = k.agg(aggs.head, aggs.tail: _*).head()
    val out = Map.newBuilder[String, (String, java.util.HashSet[Integer])]
    tagged.zipWithIndex.foreach { case ((keyCol, tag), i) =>
      val vals = row.getSeq[Any](i)
      if (vals.length <= FileStats.DigestProbeMaxKeys) {
        val set = new java.util.HashSet[Integer](vals.length * 2)
        vals.foreach { a =>
          val v: Any = tag match {
            case "i" => a.asInstanceOf[Number].longValue()
            case "d" => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaDate(a.asInstanceOf[java.sql.Date]).toLong
            case "s" => a.asInstanceOf[String]
            case "ts" => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaTimestamp(a.asInstanceOf[java.sql.Timestamp])
            case "tn" => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .localDateTimeToMicros(a.asInstanceOf[java.time.LocalDateTime])
          }
          set.add(FileStats.fingerprint(tag, v)); ()
        }
        out += keyCol -> ((tag, set))
      }
    }
    out.result()
  }

  /** File keep under the key probes: for EVERY probed column whose
    * recorded digest matches the probe's tag, at least one key
    * fingerprint must appear. An un-probed or un-digested column
    * contributes no gate (keeps), and an empty probe map keeps
    * everything — conservative at every fallback.
    */
  private def digestKeep(
      probes: Map[String, (String, java.util.HashSet[Integer])])(
      st: Option[FileStats.FileStatsMap]): Boolean =
    probes.forall { case (c, (tag, fps)) =>
      st.flatMap(_.get(c)) match {
        case Some(cs) if cs.digest != null && cs.tag == tag =>
          FileStats.digestMayContain(cs.digest, fps)
        case _ => true
      }
    }

  /** Read `files` of the store at `snap`, applying any DELETION VECTORS
    * the snapshot associates with them — the one chokepoint every
    * internal DataFrame read rides, so a vectored row can never
    * resurrect through a rewrite, a CDC diff, or a maintenance pass.
    *
    * Clean files stream through the ordinary parquet scan (columnar,
    * pushdown intact, no metadata columns). Vectored files additionally
    * read Spark's `_metadata` (file_path, row_index) and pass the
    * executor-side [[dvPositionFilter]]: each task loads a file's
    * sidecar once and drops its positions by binary search, the same
    * kernel the DSv2 scan uses — no join, no exchange, no driver-side
    * copy of the deleted positions. Files are keyed by [[Dv.absUri]]'s
    * rendering (pinned equal to `_metadata.file_path` in DvSpec,
    * escaped partition values included); a scanned file the rendering
    * misses fails the read rather than silently keeping deleted rows.
    * `keepMeta` keeps the `__file`/`__pos` columns on every file.
    */
  private[graft] def readFilesDv(spark: SparkSession, path: String,
      snap: StoreLog.Snapshot, files: Seq[String],
      mergeSchema: Boolean, keepMeta: Boolean = false): DataFrame = {
    // a TYPE-WIDENED store mixes physical widths (old int32 files under
    // a declared bigint, say): parquet footer MERGING refuses those, so
    // internal frames read with the declared schema EXPLICITLY and the
    // reader's native per-file upcast does the rest. Never-retyped
    // stores (no PhysicalTypeKey anywhere) keep the mergeSchema path
    // byte-identically.
    val typed = GraftTable.typedReadSchema(snap)
    def plain(fs: Seq[String]) = {
      val r = spark.read.option("mergeSchema", mergeSchema)
        .option("basePath", path)
      typed.fold(r)(r.schema).parquet(fs.map(f => s"$path/$f"): _*)
    }
    def withMetaCols(df: DataFrame) = df
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    val (dvd, clean) = files.partition(snap.dvs.contains)
    if (dvd.isEmpty)
      return if (keepMeta) withMetaCols(plain(files)) else plain(files)
    val conf = spark.sparkContext.hadoopConfiguration
    val vectors = dvd.map(f =>
      Dv.absUri(conf, path, f) -> Seq(s"$path/${snap.dvs(f).path}")).toMap
    val live = dvPositionFilter(spark, path, withMetaCols(plain(dvd)),
      vectors, keep = false)
    val filtered = if (keepMeta) live else live.drop("__file", "__pos")
    if (clean.isEmpty) filtered
    else {
      val cleanDf = if (keepMeta) withMetaCols(plain(clean)) else plain(clean)
      cleanDf.unionByName(filtered, allowMissingColumns = true)
    }
  }

  /** Filter `df`'s (`__file`, `__pos`) rows by deletion-vector
    * positions on the executors. `vectors` maps a file's scan-rendered
    * uri ([[Dv.absUri]]) to its sidecars' absolute paths; several
    * sidecars (a delta commit's fragments) are read as their sorted
    * union. `keep = false` drops the listed positions and fails on a
    * scanned file the map misses; `keep = true` keeps only the listed
    * positions (a file the map misses keeps nothing).
    */
  private def dvPositionFilter(spark: SparkSession, path: String,
      df: DataFrame, vectors: Map[String, Seq[String]],
      keep: Boolean): DataFrame = {
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val test = udf(new DvPositions(path, vectors, keep, sconf))
      .withName("graft_dv_positions")
    df.filter(test(col("__file"), col("__pos")))
  }

  /** Manifest-aware dataset load: a logged store reads exactly the live
    * (or `asOf`-versioned) file set; an unlogged one reads the directory
    * as before. `basePath` keeps partition-column inference identical in
    * both modes, so predicates on uid columns prune the same way. A
    * snapshot with ZERO files (the v1 a fresh-path upsert commits)
    * surfaces as UNABLE_TO_INFER_SCHEMA — deliberately the same
    * AnalysisException an empty unlogged directory read raises, which
    * is what [[upsertPlan]]'s empty-base catch keys on.
    */
  def load(spark: SparkSession, path: String, mergeSchema: Boolean = false,
           asOf: Option[Long] = None, prune: Option[Column] = None): DataFrame = {
    if (!StoreLog.canLog(path)) {
      require(asOf.isEmpty, s"asOf needs a manifest log; '$path' cannot carry one")
      return spark.read.option("mergeSchema", mergeSchema).parquet(path)
    }
    val vOpt = asOf.orElse(StoreLog.mainVersion(path))
    vOpt match {
      case Some(v) =>
        // manifest-stat pruning: drop files whose recorded column bounds
        // prove no row can match `prune` — BEFORE Spark opens a footer.
        // The caller still applies the predicate to the rows (pruning is
        // conservative, file-level). An all-pruned list keeps one file:
        // a zero-path parquet read cannot even infer the schema, and the
        // row filter drops everything anyway. BIG stores with a prune
        // predicate resolve STRIPE-LAZILY: only the may-match files
        // (plus their stats/sizes/dvs) materialize driver-side
        // ([[StoreLog.readFiltered]]) — identical keep rule, bounded
        // allocations.
        prune match {
          case Some(p) =>
            val keepEntry = predKeep(path, v, p)
            if (StoreLog.liveFileCount(path, v) >= StoreLog.LazySnapshotThreshold) {
              val s = StoreLog.readFiltered(path, v)(e => keepEntry(e.path, e.stats))
              if (s.files.isEmpty) {
                // all-pruned corner: fall back to the full resolution for
                // the one-live-file schema anchor (rare by construction —
                // the predicate excluded the whole store)
                val full = StoreLog.read(path, v)
                readFilesDv(spark, path, full, full.files.take(1), mergeSchema)
              } else readFilesDv(spark, path, s, s.files, mergeSchema)
            } else {
              val s = StoreLog.read(path, v)
              val kept = s.files.filter(f => keepEntry(f, s.stats.get(f)))
              val files = if (kept.isEmpty) s.files.take(1) else kept
              readFilesDv(spark, path, s, files, mergeSchema)
            }
          case None =>
            val s = StoreLog.read(path, v)
            readFilesDv(spark, path, s, s.files, mergeSchema)
        }
      case None =>
        spark.read.option("mergeSchema", mergeSchema).parquet(path)
    }
  }

  /** Committed manifest versions of a logged store (empty if unlogged). */
  def versions(path: String): Seq[Long] =
    if (StoreLog.canLog(path)) StoreLog.listVersions(path) else Seq.empty

  /** Reclaim space: drop files no retained manifest references and
    * manifests beyond the newest `retainVersions` — the time-travel
    * window shrinks accordingly. Safe to run against live writers: the
    * adopt→commit danger window is covered by the writer-lease protocol
    * (see [[StoreLog.vacuum]]); a writer stalled past the lease window
    * without renewal loses that protection, by declaration.
    */
  def vacuum(path: String, retainVersions: Int = 1, retainMs: Long = 0L): Int = {
    // age out forgotten branches FIRST, so their pinned versions stop
    // counting as retention the same pass that reclaims them
    expireBranches(path)
    StoreLog.vacuum(path, retainVersions, retainMs)
  }

  /** Pin a manifest version under a NAME (the Iceberg tag role; the
    * Scala twin of `CALL system.tag`): a `graft.tag.<name>` metadata
    * commit. The tagged era stays readable (`load(asOf)`, `VERSION AS
    * OF '<name>'`) and [[vacuum]] retains it — manifest, data files,
    * dv sidecars, checkpoint-rewritten resolution chain — however far
    * it falls behind the retention window. Re-tagging a name moves it;
    * the default pins the CURRENT version. Returns the pinned version.
    */
  def tag(path: String, name: String, version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"tag name '$name' must be [A-Za-z0-9_.-]+")
    // VERSION AS OF tries the numeric parse FIRST, so an all-digit tag
    // name would be silently shadowed by the manifest version of the
    // same number — refuse the foot-gun at creation
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF would read it " +
        "as a version number, shadowing the tag; include a letter")
    // metadata-only commit, but still CAS-raced by concurrent writer
    // churn — rebase-retry like every other commit path (a tag
    // serializes after ANY commit; only the pinned version's retention
    // must re-hold on the fresh base)
    metadataCommitWithRetry(path) { cur =>
      val v = version.getOrElse(cur.version)
      require(StoreLog.listVersions(path).contains(v),
        s"version $v is not a retained manifest version — vacuumed eras " +
          "cannot be tagged")
      (Map(s"${StoreLog.TagPropPrefix}$name" -> v.toString), v)
    }
  }

  /** The shared rebase-retry loop for METADATA-ONLY commits (tag,
    * drop_tag, branch verbs): re-read latest, recompute the props via
    * `propsOf` (which may re-validate against the fresh base and
    * throw), commit, retry on [[StoreLog.CommitConflict]]. A metadata
    * commit rebases trivially — it replaces nothing and carries the
    * parent's own file list — so concurrent writer churn must never
    * fail it spuriously.
    */
  private[sources] def metadataCommitWithRetry[T](path: String,
      filesOf: StoreLog.Snapshot => Seq[String] = _.files,
      dvsOf: StoreLog.Snapshot => Option[Map[String, Dv.Entry]] = _ => None)(
      propsOf: StoreLog.Snapshot => (Map[String, String], T)): T =
    StoreTxn.empty(path).commit(StoreLog.latestVersion(path).getOrElse(
        throw new IllegalArgumentException(s"no manifest at $path"))) { v =>
      val cur = StoreLog.read(path, v)
      val (props, result) = propsOf(cur)
      StoreLog.commit(path, cur.version, Seq.empty, filesOf(cur),
        parent = Some(cur), setProps = props, resetDvs = dvsOf(cur))
      result
    }

  /** One attempt of a staged APPEND against tip `curV` — the shared body
    * of the Scala append, SQL INSERT and `graft-store` epoch commits.
    * A branchless append is a pure addition and takes the O(commit)
    * transform path; under an active branch it is REF-AWARE
    * ([[refAppendBase]]: the target ref's files, its pointer advanced in
    * the same commit). `replaceAll` makes it a versioned REPLACE of the
    * whole store instead (INSERT OVERWRITE, Complete-mode epochs): only
    * the new files live, and every touched partition is named in
    * `replaced`, where concurrent writers' rebase walks look for theirs.
    * `props` derives the commit's property changes from the parent's.
    */
  private[graft] def stagedAppend(txn: StoreTxn, curV: Long,
      curProps: Map[String, String], branch: Option[String],
      replaceAll: Boolean, tag: Option[String])(
      props: Map[String, String] => Map[String, String]): Long = {
    val path = txn.path
    if (!replaceAll && branch.isEmpty &&
        !curProps.contains(StoreLog.MainRefProp))
      StoreLog.commitTransform(path, curV, Seq.empty,
        removeFiles = Nil, addFiles = txn.moved,
        addStats = txn.movedStats, addSizes = txn.movedSizes,
        tag = tag, setProps = props(curProps))
    else {
      val cur = StoreLog.read(path, curV)
      val (baseFiles, refProps, carryStats, carrySizes, dvReset) =
        if (replaceAll)
          (Nil, Map.empty[String, String],
            Map.empty[String, FileStats.FileStatsMap], Map.empty[String, Long],
            None)
        else refAppendBase(path, cur, branch)
      val replaced =
        if (!replaceAll) Nil
        else (cur.files ++ txn.moved).map { f =>
          val i = f.lastIndexOf('/')
          if (i > 0) f.substring(0, i) else f
        }.distinct.sorted
      StoreLog.commit(path, cur.version, replaced, baseFiles ++ txn.moved,
        parent = Some(cur), addStats = carryStats ++ txn.movedStats,
        addSizes = carrySizes ++ txn.movedSizes, tag = tag,
        resetDvs = dvReset, setProps = props(cur.props) ++ refProps)
    }
  }

  /** The ref-view base of an APPEND targeting `branch` (None = main)
    * against tip snapshot `cur` — the ref-aware half of the append
    * loops: under an active branch the tip's `files` may be the OTHER
    * ref's view, so the append resolves its target ref's files and
    * moves that ref's pointer to its own version in the same commit.
    * Returns (files, ref-advance props, carried stats, carried sizes,
    * dv reset): when the ref view is NOT the tip, the delta vs the tip
    * RE-ADDS the ref view's exclusive files, and their stats/sizes must
    * ride the commit or the zig-zag silently strips the planner's index
    * from every interleaved append (the manifest serializes a delta's
    * stats for its ADDED slice from exactly this map). The DV RESET is
    * the deletion-vector twin: since branch-targeted DML exists, the
    * two views' dv states can DIVERGE (a branch takedown vectors a file
    * both views share) — a commit inheriting the TIP's dv map would
    * leak the other ref's deletions into this ref's view, so when the
    * states differ the commit must exact-reset to the ref view's own
    * map (a checkpoint manifest; only paid when they actually diverged
    * — plain WAP append flows never do). Branchless stores pay nothing
    * (tip files, no props, empty carriage, no reset).
    */
  private[graft] def refAppendBase(path: String, cur: StoreLog.Snapshot,
      branch: Option[String]): (Seq[String], Map[String, String],
      Map[String, FileStats.FileStatsMap], Map[String, Long],
      Option[Map[String, Dv.Entry]]) = {
    def resolve(v: Long, props: Map[String, String])
        : (Seq[String], Map[String, String],
           Map[String, FileStats.FileStatsMap], Map[String, Long],
           Option[Map[String, Dv.Entry]]) =
      if (v == cur.version) (cur.files, props, Map.empty, Map.empty, None)
      else {
        val ref = StoreLog.read(path, v)
        // the dv state the commit would DEFAULT to (tip's map filtered
        // to the ref view's live files) vs the ref view's own — reset
        // only on genuine divergence
        val live = ref.files.toSet
        val inherited = cur.dvs.filter { case (f, _) => live(f) }
        val reset = if (inherited == ref.dvs) None else Some(ref.dvs)
        (ref.files, props, ref.stats, ref.sizes, reset)
      }
    branch match {
      case Some(b) =>
        val bv = cur.props.get(StoreLog.BranchPropPrefix + b)
          .flatMap(_.toLongOption).getOrElse(
            throw new IllegalArgumentException(
              s"no branch '$b' at $path (TsStore.branch / CALL " +
                "system.branch creates one)"))
        resolve(bv,
          Map(StoreLog.BranchPropPrefix + b -> (cur.version + 1).toString,
            // branch activity: advance the age-expiry touch stamp
            StoreLog.BranchTouchPrefix + b ->
              System.currentTimeMillis().toString))
      case None =>
        cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption) match {
          case Some(mv) =>
            resolve(mv, Map(StoreLog.MainRefProp -> (cur.version + 1).toString))
          case None => (cur.files, Map.empty, Map.empty, Map.empty, None)
        }
    }
  }

  /** The leased commit loop for BRANCH-TARGETED DML — the write-audit-
    * publish gap-closer: a CDC batch (partition-replacing upsert) or a
    * keyed/predicate takedown (deletion vectors) lands ON a branch,
    * invisible to every main-facing read face, and [[publishBranch]]
    * fast-forwards the result atomically (re-audited against current
    * constraints) or [[dropBranch]] abandons it, vectors included.
    *
    * The commit's `files` is the NEW BRANCH VIEW (replaced-prefix files
    * dropped when `removeUnder`, staged files added) — main readers
    * resolve through their own pin, so the tip flip is invisible; the
    * target ref's pointer advances in the same commit, and the dv state
    * exact-resets to the branch view's whenever inheritance from the
    * tip would leak the other ref's vectors. Concurrency is the honest
    * WAP contract: a CAS loss against MAIN commits rebases transparently
    * (the branch pin did not move), while ANY other commit that moved
    * THIS branch's pin since the operation read its view aborts — the
    * rewrite/find was computed against a superseded branch head, and
    * branch feeds are single-writer by design. The branch vanishing
    * mid-flight (published or dropped) aborts too. `replaced` names the
    * touched prefixes, so a stale main-side writer rebasing across the
    * published era finds the conflict in this commit's own record.
    */
  private def branchDmlCommit(txn: StoreTxn, b: String, bv0: Long,
      prefixes: Seq[String],
      removeOf: StoreLog.Snapshot => Seq[String],
      addDvs: Map[String, Dv.Entry],
      boundChecks: Option[Seq[Constraints.Check]],
      schemaForWiden: Option[org.apache.spark.sql.types.StructType]): Long = {
    val path = txn.path
    txn.commit(StoreLog.latestVersion(path).getOrElse(
        txn.abort(s"no manifest at $path"))) { tipV =>
      val cur = StoreLog.read(path, tipV)
      boundChecks.foreach(txn.abortIfChecksAdded(_, cur.props, NotValidated))
      val bvNow = cur.props.get(StoreLog.BranchPropPrefix + b)
        .flatMap(_.toLongOption).getOrElse(txn.abort(
          s"branch '$b' at $path was published or dropped mid-operation — " +
            "the staged change has no target; re-run against main or a " +
            "fresh branch"))
      if (bvNow != bv0)
        txn.abort(s"branch '$b' at $path moved (v$bv0 → v$bvNow) since this " +
          "operation read its view — re-run against the new branch head")
      val bSnap = if (bvNow == cur.version) cur else StoreLog.read(path, bvNow)
      val rm = removeOf(bSnap).toSet
      val newFiles = bSnap.files.filterNot(rm) ++ txn.moved
      val live = newFiles.toSet
      val desired = (bSnap.dvs ++ addDvs).filter { case (f, _) => live(f) }
      val inherited = (cur.dvs ++ addDvs).filter { case (f, _) => live(f) }
      val dvReset = if (inherited == desired) None else Some(desired)
      val (carryStats, carrySizes) =
        if (bvNow == cur.version)
          (Map.empty[String, FileStats.FileStatsMap], Map.empty[String, Long])
        else (bSnap.stats, bSnap.sizes)
      StoreLog.commit(path, cur.version, prefixes.sorted, newFiles,
        parent = Some(cur),
        addStats = carryStats ++ txn.movedStats,
        addSizes = carrySizes ++ txn.movedSizes,
        addDvs = addDvs, resetDvs = dvReset,
        setProps = schemaForWiden.fold(Map.empty[String, String])(sc =>
          GraftTable.widenedSchemaProp(cur.props, sc)) +
          (StoreLog.BranchPropPrefix + b -> (cur.version + 1).toString) +
          // branch activity: advance the age-expiry touch stamp
          (StoreLog.BranchTouchPrefix + b ->
            System.currentTimeMillis().toString))
    }
  }

  /** Validate a ref/tag name (shared rules: tag charset, no all-digit
    * shadowing of VERSION AS OF's numeric parse).
    */
  private def validRefName(name: String, kind: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"$kind name '$name' must be [A-Za-z0-9_.-]+")
    require(!name.forall(_.isDigit),
      s"$kind name '$name' is all digits — VERSION AS OF would read it " +
        s"as a version number, shadowing the $kind; include a letter")
  }

  /** Create a WRITABLE BRANCH at the current MAIN version (the Iceberg
    * branch / write-audit-publish pattern — see
    * [[StoreLog.MainRefProp]]): from here, `TsStore.write(branch =
    * Some(name))` / the streaming sink's `branch` option append to the
    * branch invisibly to main readers; [[publishBranch]] audits and
    * fast-forwards main atomically; [[dropBranch]] abandons. Vacuum
    * retains both refs' pinned versions like tags. Returns the branch's
    * base (= current main) version.
    */
  def branch(path: String, name: String,
             expireMs: Option[Long] = None): Long = {
    validRefName(name, "branch")
    expireMs.foreach(ms => require(ms >= 0, "branch expireMs must be >= 0"))
    metadataCommitWithRetry(path) { cur =>
      require(!cur.props.contains(s"${StoreLog.BranchPropPrefix}$name"),
        s"branch '$name' already exists at $path")
      require(!cur.props.contains(s"${StoreLog.TagPropPrefix}$name"),
        s"'$name' is a tag at $path — tags and branches share the " +
          "VERSION AS OF namespace")
      val mv = cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption)
        .getOrElse(cur.version)
      val refs = Map(
        s"${StoreLog.BranchPropPrefix}$name" -> mv.toString,
        s"${StoreLog.BranchBasePrefix}$name" -> mv.toString,
        s"${StoreLog.BranchTouchPrefix}$name" ->
          System.currentTimeMillis().toString) ++
        expireMs.map(ms =>
          s"${StoreLog.BranchExpirePrefix}$name" -> ms.toString) ++
        (if (cur.props.contains(StoreLog.MainRefProp)) Map.empty
         else Map(StoreLog.MainRefProp -> mv.toString))
      (refs, mv)
    }
  }

  /** Drop every branch whose idle age — time since creation or the
    * latest branch-targeted commit ([[StoreLog.BranchTouchPrefix]]) —
    * exceeds its declared expiry ([[branch]]'s `expireMs`; the Iceberg
    * ref-aging role): a forgotten branch otherwise pins its versions
    * against [[vacuum]] and holds maintenance-overlap proofs open
    * forever. Branches without a declared expiry never expire; an
    * ACTIVE branch's touch stamp advances with every branch commit, so
    * it never expires while in use (maintenance rebases deliberately do
    * NOT touch — they are main's activity, not the branch's). Returns
    * the dropped names. Runs automatically at the head of [[vacuum]].
    */
  def expireBranches(path: String,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    if (!StoreLog.canLog(path)) return Nil
    val v = StoreLog.latestVersion(path).getOrElse(return Nil)
    val props = StoreLog.propsAt(path, v)
    val expired = props.toSeq.collect {
      case (k, ms) if k.startsWith(StoreLog.BranchExpirePrefix) &&
          ms.toLongOption.isDefined =>
        k.stripPrefix(StoreLog.BranchExpirePrefix) -> ms.toLong
    }.filter { case (b, expMs) =>
      props.contains(StoreLog.BranchPropPrefix + b) &&
        props.get(StoreLog.BranchTouchPrefix + b).flatMap(_.toLongOption)
          .exists(t => nowMs - t > expMs)
    }.map(_._1).sorted
    expired.filter { b =>
      // a racing publish/drop beat us to it — that IS the branch
      // ending; either way only branches actually GONE are reported
      // (a swallowed CAS storm must not read as a successful expiry)
      try { dropBranch(path, b); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  /** Abandon a branch: its head's files become unreferenced (a later
    * [[vacuum]] reclaims whatever fell outside retention). The commit
    * restores MAIN's file list when it releases the last ref, so the
    * tip's live view is main's again.
    */
  def dropBranch(path: String, name: String): Unit = {
    def mainRestore(cur: StoreLog.Snapshot): Option[StoreLog.Snapshot] = {
      // from cur.props (the attempt's own base), never a fresh
      // listing a concurrent commit could skew mid-attempt
      val lastBranch = cur.props.keys
        .count(_.startsWith(StoreLog.BranchPropPrefix)) <= 1
      val mv = cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption)
      if (lastBranch && mv.isDefined && mv.get != cur.version)
        Some(StoreLog.read(path, mv.get))
      else None
    }
    metadataCommitWithRetry(path,
      filesOf = cur => mainRestore(cur).map(_.files).getOrElse(cur.files),
      // restoring main's view restores its DV STATE too: an abandoned
      // branch takedown's vectors must die with the branch (exact
      // reset only when the maps genuinely diverged)
      dvsOf = cur => mainRestore(cur).flatMap { m =>
        val live = m.files.toSet
        val inherited = cur.dvs.filter { case (f, _) => live(f) }
        if (inherited == m.dvs) None else Some(m.dvs)
      }) { cur =>
      require(cur.props.contains(s"${StoreLog.BranchPropPrefix}$name"),
        s"no branch '$name' at $path")
      val remaining =
        cur.props.keys.count(_.startsWith(StoreLog.BranchPropPrefix)) > 1
      ((Map(
        s"${StoreLog.BranchPropPrefix}$name" -> "",
        s"${StoreLog.BranchBasePrefix}$name" -> "",
        s"${StoreLog.BranchExpirePrefix}$name" -> "",
        s"${StoreLog.BranchTouchPrefix}$name" -> "") ++
        (if (remaining) Map.empty
         else Map(StoreLog.MainRefProp -> ""))), ())
    }
  }

  /** WRITE-AUDIT-PUBLISH's publish: validate the branch head against
    * the table's CURRENT constraints (CHECK + NOT NULL — one
    * stop-at-first-violation scan each over the branch view), then ONE
    * CAS commit whose `files` IS the branch view fast-forwards main and
    * releases the branch. Refuses when main moved since the branch was
    * created (diverged — like any rebase conflict) or when the audit
    * finds a violation. Returns the published (new main) version.
    */
  def publishBranch(spark: SparkSession, path: String, name: String): Long =
    StoreTxn.empty(path).commit(StoreLog.latestVersion(path).getOrElse(
        throw new IllegalArgumentException(s"no manifest at $path"))) { tipV =>
      // each retry re-reads everything: a concurrent MAIN append moves
      // the ref and the divergence check below then refuses
      val cur = StoreLog.read(path, tipV)
      val bv = cur.props.get(s"${StoreLog.BranchPropPrefix}$name")
        .flatMap(_.toLongOption).getOrElse(throw new IllegalArgumentException(
          s"no branch '$name' at $path"))
      val base = cur.props.get(s"${StoreLog.BranchBasePrefix}$name")
        .flatMap(_.toLongOption).getOrElse(bv)
      val mv = cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption)
        .getOrElse(cur.version)
      require(mv == base,
        s"cannot publish branch '$name' at $path: main moved since the " +
          s"branch was created (v$base → v$mv) — diverged; re-create the " +
          "branch from current main and replay")
      // the AUDIT: the branch's rows were guarded per append against the
      // then-current constraint set; publish re-certifies the whole
      // branch view against the set AS OF NOW, so main's whole-table
      // invariants survive the fast-forward even if constraints landed
      // after the branch's writes
      val checks = Constraints.effective(cur.props)
      if (checks.nonEmpty) {
        val view = load(spark, path, asOf = Some(bv))
        checks.foreach { c =>
          val bad = view.filter(org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.expr(c.sql)
                .cast(org.apache.spark.sql.types.BooleanType),
              org.apache.spark.sql.functions.lit(true))))
            .limit(1).count()
          require(bad == 0L,
            s"publish audit failed for branch '$name' at $path: rows " +
              s"violate constraint '${c.name}' (${c.sql}) — fix the branch " +
              "or drop it")
        }
      }
      val bSnap = if (bv == cur.version) cur else StoreLog.read(path, bv)
      val bFiles = bSnap.files
      val remaining =
        cur.props.keys.count(_.startsWith(StoreLog.BranchPropPrefix)) > 1
      val v = cur.version + 1
      val refs = Map(
        s"${StoreLog.BranchPropPrefix}$name" -> "",
        s"${StoreLog.BranchBasePrefix}$name" -> "",
        s"${StoreLog.BranchExpirePrefix}$name" -> "",
        s"${StoreLog.BranchTouchPrefix}$name" -> "") ++
        (if (remaining) Map(StoreLog.MainRefProp -> v.toString)
         else Map(StoreLog.MainRefProp -> ""))
      // publish's dv state is the BRANCH VIEW's exactly: a branch
      // takedown's vectors must land on main with the fast-forward, and
      // an inherited tip map would carry the wrong ref's entries (exact
      // reset — checkpoint — only when they genuinely differ)
      val bLive = bFiles.toSet
      val dvReset =
        if (cur.dvs.filter { case (f, _) => bLive(f) } == bSnap.dvs) None
        else Some(bSnap.dvs)
      // (no `replaced` record: branch-era DML commits carry their own
      // prefix records, which is where a stale writer's rebase walk
      // finds them — the fast-forward itself replaces nothing)
      StoreLog.commit(path, cur.version, Seq.empty, bFiles,
        parent = Some(cur), setProps = refs, resetDvs = dvReset)
    }

  /** The store's live branches: name → head version. */
  def listBranches(path: String): Map[String, Long] = StoreLog.branches(path)

  /** Remove a named tag — its version rejoins the ordinary vacuum
    * retention window.
    */
  def dropTag(path: String, name: String): Unit =
    metadataCommitWithRetry(path) { cur =>
      require(cur.props.contains(s"${StoreLog.TagPropPrefix}$name"),
        s"no tag '$name' at $path")
      (Map(s"${StoreLog.TagPropPrefix}$name" -> ""), ())
    }

  /** The store's named tags: name → pinned version. */
  def tags(path: String): Map[String, Long] = StoreLog.namedTags(path)

  /** Sliced read — the reference's core entry point (`Corintick.read`):
    * uid + inclusive time range + column projection. All three conditions
    * are declarative predicates/projections, so Catalyst pushes them to
    * the parquet scan (partition pruning on uid, row-group skipping on
    * ts, column pruning) — the Spark analog of the Mongo
    * `{uid, start:{$lte:e}, end:{$gte:s}}` index scan + projection doc.
    */
  def read(spark: SparkSession, path: String,
           uid: Option[(String, Any)] = None,
           tsCol: String = "ts",
           start: Option[java.sql.Timestamp] = None,
           end: Option[java.sql.Timestamp] = None,
           columns: Seq[String] = Seq.empty,
           meta: Map[String, Any] = Map.empty,
           mergeSchema: Boolean = false,
           asOf: Option[Long] = None): DataFrame = {
    // mergeSchema ≙ the reference's dynamic-schema read (SURVEY §1.1:
    // chunks of one uid may carry different column sets; read reassembles
    // the union, missing columns → null/NaN). Off by default: the footer
    // merge is a per-file metadata pass worth paying only for collections
    // that actually evolved. `asOf` time-travels a LOGGED store to the
    // named manifest version (upserted-away rows come back; requires the
    // version inside the vacuum retention window).
    val preds: Seq[Column] =
      uid.map { case (c, v) => col(c) === lit(v) }.toSeq ++
      start.map(s => col(tsCol) >= lit(s)) ++
      end.map(e => col(tsCol) <= lit(e)) ++
      // metadata key/values ≙ corintick's **meta kwargs on read: plain
      // equality predicates on attribute columns, pushed to the scan.
      meta.map { case (c, v) => col(c) === lit(v) }
    // the same predicates prune FILES via the manifest's recorded bounds
    // (a ts-slice on a many-file store opens only time-overlapping
    // files) and then filter ROWS on what remains
    var df = load(spark, path, mergeSchema, asOf,
      prune = preds.reduceOption(_ && _))
    preds.foreach(p => df = df.filter(p))
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    df
  }

  /** Catalog listing ≙ `Corintick.list_uids` (Mongo $group aggregation):
    * per-series row count and time extent. Map-side partial aggregation
    * makes this a single cheap shuffle at any scale.
    */
  def listSeries(df: DataFrame, uidCol: String, tsCol: String = "ts"): DataFrame =
    df.groupBy(col(uidCol))
      .agg(count(lit(1)).as("n_rows"),
           min(col(tsCol)).as("ts_min"),
           max(col(tsCol)).as("ts_max"))
      .orderBy(col(uidCol))
}

/** The per-row test behind [[TsStore.dvPositionFilter]]. Spark
  * deserializes the filter once per task, so each task loads a file's
  * positions ([[Dv.read]]) the first time it sees the file and tests
  * every later row with [[Dv.contains]].
  */
private final class DvPositions(path: String,
    vectors: Map[String, Seq[String]], keep: Boolean,
    sconf: org.apache.spark.util.SerializableConfiguration)
  extends ((String, Long) => Boolean) with Serializable {

  @transient private lazy val loaded =
    new java.util.HashMap[String, Array[Long]]()

  def apply(file: String, pos: Long): Boolean = {
    var positions = loaded.get(file)
    if (positions == null) {
      positions = load(file)
      loaded.put(file, positions)
    }
    Dv.contains(positions, pos) == keep
  }

  private def load(file: String): Array[Long] = vectors.get(file) match {
    case Some(Seq(one)) => Dv.read(sconf.value, one)
    case Some(many) =>
      val all = many.flatMap(Dv.read(sconf.value, _)).toArray
      java.util.Arrays.sort(all)
      all
    case None if keep => Array.emptyLongArray
    case None => throw new IllegalStateException(
      s"graft dv read: scan file $file matches no vectored file of $path — " +
        "Dv.absUri rendering diverged from the scan's")
  }
}
