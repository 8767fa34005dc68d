package graft

import org.apache.spark.sql.Dataset

import scala.collection.mutable.ArrayBuffer

/** Registry for DataFrames persisted INSIDE operators (signature
  * relations, codebooks, shingle sets — relations an operator reuses
  * across join sides within one returned plan).
  *
  * The caching contract: operators persist internal relations because
  * they are read 2-3× within the plan they return; the persist handle
  * is not part of the operator's public result, so a library caller
  * could otherwise never release the storage and cached blocks would
  * accumulate for the session lifetime. Every internal persist is
  * therefore routed through [[track]], and callers release them all
  * with [[releaseAll]] once the action over the returned frame has run
  * (the bench harness does this between queries; a long-lived service
  * would call it per request). Unpersisting a [[track]]ed persist is
  * always safe — a frame re-referenced later silently recomputes.
  * [[pinStage]]d frames are DIFFERENT: their lineage is truncated, so
  * after [[releaseAll]] a re-referenced pinned frame throws
  * (checkpoint block not found) instead of recomputing — rebuild the
  * frame (or write it to storage) before releasing if it must outlive
  * the release.
  */
object InternalCaches {
  private val live = ArrayBuffer.empty[Dataset[_]]
  private val liveRdds =
    ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Register an operator-internal persisted frame for later release.
    * Returns the frame for inline use: `track(df.persist())`. */
  def track[T <: Dataset[_]](ds: T): T = synchronized { live += ds; ds }

  /** Unpersist every tracked frame and forget them. BLOCKING on
    * purpose: the async form (unpersist(false)) lets freed blocks
    * linger while the next query's persists and sorts contend for the
    * same storage/execution memory — measured on the round-13 full
    * suite as selective 1.6–2.5× inflation of the heavy-sort queries
    * late in the run (s31 30.8 s in-suite vs 12.3 s fresh-JVM on
    * identical code/caches). Release happens between queries, outside
    * every timed region, so the blocking wait costs the harness, not
    * the measurement. */
  def releaseAll(): Unit = synchronized {
    live.foreach(ds => try ds.unpersist(true) catch { case _: Throwable => () })
    live.clear()
    liveRdds.foreach(r =>
      try r.unpersist(true) catch { case _: Throwable => () })
    liveRdds.clear()
  }

  /** Pin an operator-internal STAGE BOUNDARY: eager checkpoint, which
    * both materializes the relation (like persist) AND truncates its
    * lineage — downstream plans see a flat scan of the checkpointed
    * rows instead of re-embedding the whole upstream tree.
    * Iterative/multi-stage operators (census pipelines, trained
    * classifiers, beam rounds) otherwise grow their logical plans
    * multiplicatively with stage count — the round-13 p9 plan was
    * 25k scan nodes / 134k formatted lines, and Catalyst + AQE replan
    * that tree at every query stage (guide §3.3: planning time itself
    * becomes the bottleneck; the fix is materializing an
    * intermediate).
    *
    * Fault-tolerance is configurable (guide §5): by default this is a
    * `localCheckpoint` — executor-local blocks, fast, but a lost
    * executor cannot recompute the truncated stage (acceptable on the
    * single-process bench; re-run the query). With
    * `spark.graft.checkpointDir` set (or the
    * `SPARK_GRAFT_CHECKPOINT_DIR` env), pins become RELIABLE
    * `checkpoint`s into that directory (HDFS/object store on a
    * cluster) so corpus-scale lineage truncation survives executor
    * loss — the same Some(dir) discipline as `Dedup.ccCheckpoint`.
    * Local-checkpoint RDDs are registered for deterministic release
    * in [[releaseAll]]; reliable checkpoint files are left for the
    * cluster's checkpoint-dir retention (ContextCleaner with
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, or the
    * deployment's own sweeper). */
  def pinStage(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    reliableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        // persist before reliable checkpoint: materialization and the
        // checkpoint-file write are two jobs — without the persist the
        // second recomputes the whole stage (Spark's own guidance)
        df.persist()
        try df.checkpoint(true) finally df.unpersist()
      case None =>
        val cp = df.localCheckpoint()
        org.apache.spark.sql.GraftSqlBridge.checkpointedRdd(cp) match {
          case Some(r) => synchronized { liveRdds += r }
          case None =>
            // a Spark upgrade changing the checkpoint Dataset's plan
            // shape would silently reintroduce the block leak this
            // registration exists to stop — fail loudly in dev logs
            System.err.println(
              "[InternalCaches] WARNING: pinStage could not extract " +
                "the checkpointed RDD (plan shape changed?) — its " +
                "blocks will leak past releaseAll()")
        }
        cp
    }

  /** [[pinStage]] after a round-robin respread to the session's
    * shuffle parallelism. Multi-tier curation pipelines pin after
    * every filter/join tier, and those tier outputs AQE-coalesce to
    * 1-2 byte-small partitions (survivors ≈ 4.5 MB at sf0.1); the
    * pinned partitioning is what the next tier's CPU-dense pass
    * (fingerprints, simhash, shingles, BPE) runs at, so pinning the
    * coalesced layout profiled as a chain of 0.3-0.9 s single-task
    * stages between the pins. */
  def pinSpread(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pinStage(df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions))

  /** The reliable-checkpoint directory for [[pinStage]], if any:
    * session conf `spark.graft.checkpointDir` wins (testable), then
    * the `SPARK_GRAFT_CHECKPOINT_DIR` env; blank means local. */
  private[graft] def reliableDir(df: Dataset[_]): Option[String] =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
      .map(_.trim).filter(_.nonEmpty)

  /** Number of currently tracked frames (test/audit hook). */
  def trackedCount: Int = synchronized(live.size)

  /** `df.persistTracked()` = persist + register with the session-wide
    * release list — the one-token form operators use at their internal
    * persist sites. */
  implicit final class TrackedPersist[T <: Dataset[_]](private val ds: T)
      extends AnyVal {
    def persistTracked(): T = { ds.persist(); track(ds) }
  }
}
