package graft.sources

/** One optimistic store transaction — the commit scaffold every staged
  * write and every retrying metadata commit shares (the optimistic-
  * transaction shape of Delta Lake: read a version, stage, CAS the
  * next one, on a loss re-validate against what landed and retry). A
  * txn owns:
  *
  *  - the data files it adopted into partition directories (`moved`):
  *    named by no manifest until the commit lands, so they look exactly
  *    like garbage — [[abort]] deletes them;
  *  - their footer stats/sizes, read ONCE (the commit that names the
  *    files carries the planner's index for them — see [[FileStats]]);
  *  - the writer lease that keeps a concurrent vacuum off them, renewed
  *    per attempt (None for metadata-only commits, which adopt nothing);
  *  - the bounded CAS retry loop ([[commit]]): each attempt runs the
  *    verb's own body against a manifest version; a lost CAS re-reads
  *    the tip, optionally walks the intervening versions for conflicts
  *    ([[conflictWalk]]), and retries on the tip. [[StoreTxn.MaxRetries]]
  *    lost CASes in a row abort.
  *
  * Verbs keep their per-attempt rules (branch pins, maintenance target
  * checks, the publish audit, the sink's epoch-tag re-check) in the
  * body; any rule may [[abort]]. A follow-up commit that rides after
  * another txn already named the files (a branch-pin rebase) carries an
  * EMPTY `moved`: its abort must never delete committed files.
  */
private[graft] final class StoreTxn(val path: String,
    val lease: Option[StoreLog.WriterLease], val moved: Seq[String],
    digestCols: Option[Seq[String]] = None) {

  val (movedStats, movedSizes): (Map[String, FileStats.FileStatsMap],
      Map[String, Long]) =
    if (moved.isEmpty) (Map.empty, Map.empty)
    else FileStats.forFilesWithSizes(path, moved, digestCols)

  private var aborted = false
  private var attempts = 0

  /** Whether an earlier attempt of this txn lost its CAS. */
  def retrying: Boolean = attempts > 0

  /** Delete the adopted files and throw `e` — the txn is over. */
  def refuse(e: RuntimeException): Nothing = {
    aborted = true
    StoreLog.deleteDataFiles(path, moved)
    throw e
  }

  /** Delete the adopted files and throw [[StoreLog.CommitConflict]]. */
  def abort(why: String): Nothing = refuse(new StoreLog.CommitConflict(why))

  /** Abort when a CHECK constraint appeared in `props` past the set the
    * writer's row guard was bound against ([[Constraints.addedSince]]):
    * the staged rows were never validated against it, and committing
    * them would break the whole-table invariant the ADD just certified.
    */
  def abortIfChecksAdded(bound: Seq[Constraints.Check],
      props: Map[String, String], advice: String): Unit = {
    val added = Constraints.addedSince(bound, props)
    if (added.nonEmpty)
      abort(s"CHECK constraint(s) ${added.map(_.name).mkString(", ")} " +
        s"added concurrently at $path — $advice")
  }

  /** Run `attempt` against `base`, then against each fresh tip until one
    * attempt's CAS lands; returns that attempt's result. After a lost
    * CAS, `rebase(lost, tip)` sees the versions that landed in between
    * and may [[abort]]. Only CAS losses retry: every other exception —
    * an [[abort]] included — ends the txn.
    */
  def commit[T](base: Long,
      rebase: (Long, Long) => Unit = (_, _) => ())(attempt: Long => T): T = {
    var v = base
    while (true) {
      lease.foreach(_.renew())
      try return attempt(v)
      catch {
        case c: StoreLog.CommitConflict if !aborted =>
          attempts += 1
          if (attempts > StoreTxn.MaxRetries)
            abort(s"gave up after $attempts commit attempts at $path: " +
              c.getMessage)
          val tip = StoreLog.latestVersion(path).getOrElse(throw c)
          rebase(v, tip)
          v = tip
      }
    }
    sys.error("unreachable")
  }

  /** The rebase soundness walk for PARTITION-REPLACING commits over the
    * versions in (`from`, `to`]: abort when one of them replaced a
    * prefix in `replaced` (unless `abortOnReplaced` is off — verbs whose
    * remove set is recomputed whole from the rebased parent serialize
    * after anything), or — with `abortOnAppendsUnder` — added files
    * under one. Reads raw manifests (O(commit footprint)); a
    * checkpoint-cadence version without a txn record falls back to one
    * full set-diff for that version only.
    */
  def conflictWalk(replaced: Seq[String], abortOnReplaced: Boolean,
      abortOnAppendsUnder: Boolean)(from: Long, to: Long): Unit = {
    def under(f: String): Boolean = replaced.exists(p => f.startsWith(p + "/"))
    ((from + 1) to to).foreach { v =>
      val conflict =
        try {
          if (abortOnReplaced &&
              StoreLog.replacedAt(path, v).exists(replaced.contains))
            Some("replaced")
          else if (!abortOnAppendsUnder) None
          else StoreLog.rawDelta(path, v) match {
            case Some((add, _, _)) =>
              if (add.exists(under)) Some("appended into") else None
            case None =>
              val cur = StoreLog.read(path, v).files.toSet
              val prev = StoreLog.read(path, v - 1).files.toSet
              if ((cur -- prev).exists(under)) Some("appended into")
              else None
          }
        } catch {
          case _: IllegalArgumentException =>
            abort(s"manifest v$v pruned by a concurrent vacuum at " +
              s"$path — re-run against the new base")
        }
      conflict.foreach(kind =>
        abort(s"concurrent writer $kind ${replaced.mkString(",")} at " +
          s"$path — re-run the operation against the new base"))
    }
  }
}

private[graft] object StoreTxn {
  /** Lost CASes a txn retries before it aborts. High enough that a
    * pure append never gives up under ordinary writer churn; replacing
    * verbs abort on real conflicts through their walk long before it.
    */
  val MaxRetries = 50

  /** Adopt the files staged under `staging` (all of them, or only the
    * `named` ones a distributed write's committed tasks reported) under
    * a writer lease, and run `body` with the txn that owns them. The
    * staging directory is deleted whatever happens.
    */
  def staged[T](path: String, staging: String,
      named: Option[Seq[String]] = None,
      digestCols: Option[Seq[String]] = None)(body: StoreTxn => T): T =
    StoreLog.withWriterLease(path) { lease =>
      val moved =
        try named.fold(StoreLog.adoptStaged(path, staging))(
          StoreLog.adoptStagedNamed(path, staging, _))
        finally StoreLog.deleteStaging(staging)
      body(new StoreTxn(path, Some(lease), moved, digestCols))
    }

  /** A txn that adopted nothing: metadata-only commits (no lease) and
    * follow-up commits riding another txn's already-named files.
    */
  def empty(path: String,
      lease: Option[StoreLog.WriterLease] = None): StoreTxn =
    new StoreTxn(path, lease, Nil)
}
