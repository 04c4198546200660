package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Round-pinning policy for iterative operators (PageRank, connected
  * components): each round's result must be materialized with lineage
  * truncated — otherwise the plan nests one join+agg deeper per round and
  * round N replays rounds 1..N−1.
  *
  * Two pinning modes, chosen per call site:
  *  - `localCheckpoint` (default): executor block storage — no filesystem
  *    round-trip, but an executor loss makes the checkpoint unrecoverable
  *    and fails the job loudly. Right for benchmarks and short jobs.
  *  - reliable `checkpoint(dir)`: survives executor loss — the right trade
  *    on a 1000-executor cluster where losing one machine mid-iteration-10
  *    of a corpus-scale PageRank must not restart the job. Costs one
  *    filesystem write per round.
  */
object Checkpoints {

  /** The pinning function for `dir`: reliable checkpoints into `dir` when
    * set, localCheckpoint otherwise. The checkpoint directory is a
    * SparkContext-level setting — last caller wins, which is fine because
    * the dir only namespaces files.
    *
    * `eager = false` defers materialization to the consumer's first action
    * (no standalone job barrier — setup artifacts that feed exactly the
    * next job want this); `eager = true` materializes NOW, which is the
    * right mode for any artifact that will later be [[release]]d — release
    * semantics on a never-materialized lazy checkpoint would be undefined.
    */
  def pinner(spark: SparkSession, dir: Option[String], eager: Boolean = true)
      : DataFrame => DataFrame =
    dir match {
      case Some(d) =>
        spark.sparkContext.setCheckpointDir(d)
        df => df.checkpoint(eager = eager)
      case None =>
        df => df.localCheckpoint(eager = eager)
    }

  /** Free a SUPERSEDED round's pinned blocks (no-op for reliable
    * checkpoints, whose data lives in files, not the block store). Callers
    * must guarantee the Dataset is never read again — a localCheckpoint
    * cannot recompute.
    *
    * Release walks the WHOLE analyzed plan and unpersists every pinned
    * node it finds, so it also serves as the caller-side cleanup hook for
    * lazy operators that pin internal artifacts (e.g. [[Dedup.upsert]]'s
    * resolved increment, [[Graph.pageRankInt]]'s edge table, the triangle
    * census's canonical edge set): after the terminal action on such an
    * operator's result, `Checkpoints.release(result)` frees everything the
    * plan still references. Long-lived sessions (a streaming foreachBatch
    * loop calling upsert per batch) must do this or accumulate dead
    * blocks until eviction churn sets in; one-shot jobs can skip it.
    */
  def release(ds: org.apache.spark.sql.Dataset[_]): Unit =
    CheckpointBridge.unpersistCheckpoint(ds)

  /** Run `body`, which evaluates every plan in `dfs` (a multi-table
    * commit's staging, a catalog export), with each shuffling subplan that
    * two or more of them share computed once instead of once per plan.
    *
    * The shared subplans are the maximal subtrees of the analyzed plans
    * that contain a shuffle (aggregate, window, join, global sort,
    * distinct, repartition) and that another plan also contains, matched
    * by Catalyst's canonicalized `sameResult` (the test exchange reuse and
    * the cache manager apply). A projection or filter over a scan is not
    * shared: rescanning it per plan costs less than building and reading a
    * columnar cache of it. Each shared subplan is `persist`ed at
    * MEMORY_AND_DISK, which recomputes lost blocks from lineage on executor
    * loss, unlike a localCheckpoint, and is unpersisted when `body` ends,
    * however it ends. Smaller subplans are cached first, so a larger shared
    * subplan that contains one reads it from the cache.
    *
    * A subplan the caller has already cached is left alone, and only the
    * entries this call added are unpersisted. The cache manager offers no
    * atomic check-and-add, so one race remains: an equal plan that another
    * thread caches while `body` runs is a no-op for that thread, and the
    * `finally` drops the shared entry; its readers then recompute (the data
    * stays correct).
    */
  private[graft] def withSharedOnce[T](dfs: Seq[DataFrame])(body: => T): T = {
    import org.apache.spark.sql.catalyst.plans.logical._
    if (dfs.size < 2) return body
    val spark = dfs.head.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cm = spark.sharedState.cacheManager
    def cached(p: LogicalPlan) = !cm.isEmpty && cm.lookupCachedData(spark, p).isDefined
    def shuffles(p: LogicalPlan) = p.exists {
      case _: Aggregate | _: Window | _: Join | _: Distinct | _: Deduplicate
          | _: RepartitionOperation | _: SetOperation => true
      case s: Sort => s.global
      case _ => false
    }
    val plans = dfs.map(_.queryExecution.analyzed)
    def sharedWithOther(n: LogicalPlan, i: Int) =
      plans.zipWithIndex.exists { case (q, j) => j != i && q.exists(_.sameResult(n)) }
    val found = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    def visit(n: LogicalPlan, i: Int): Unit =
      if (cached(n) || n.isStreaming || !shuffles(n)) ()
      else if (sharedWithOther(n, i)) {
        if (!found.exists(_.sameResult(n))) found += n
      } else n.children.foreach(visit(_, i))
    plans.zipWithIndex.foreach { case (p, i) => visit(p, i) }
    val added = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    try {
      found.sortBy(_.collect { case n => n }.size).foreach { p =>
        if (!cached(p)) {
          cm.cacheQuery(spark, p, None, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          added += p
        }
      }
      body
    } finally added.reverse.foreach(p =>
      cm.uncacheQuery(spark, p, cascade = false, blocking = false))
  }
}
