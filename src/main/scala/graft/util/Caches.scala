package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime ownership for every `.persist()` the library takes
  * (round-7 verdict item 3: each persist needs an explicit release path).
  *
  * The library persists small derived relations whose reuse ACROSS queries
  * is load-bearing — d03's MinHash signatures are rebuilt for free by d05
  * because the CacheManager dedups by canonicalized plan — so the persists
  * cannot be scoped `try/finally` inside the operator that takes them: the
  * returned DataFrame is lazy, and the cache must still be alive when the
  * caller finally runs an action, plus for every LATER query that re-derives
  * the same plan. What was missing is the other end of the lifetime: in a
  * long-lived session the tokenized-text cache (full corpus × token arrays)
  * would stay resident forever with no eviction hook.
  *
  * `retain` is therefore the ONLY way library code persists: it registers
  * the frame here, and [[releaseAll]] is the owner's hook — called by
  * Verify and BenchSuite after their run, and by any embedding application
  * when a corpus goes out of scope. Unpersist is non-blocking (Spark drops blocks
  * asynchronously) and idempotent, so releasing twice or releasing frames
  * whose plan was cache-deduped is safe.
  */
object Caches {
  private val retained = ArrayBuffer.empty[DataFrame]
  // (session, plan): CacheManager dedup is per-session, so a same-plan df
  // built on a SECOND live session must take its own persist.
  private val seen =
    scala.collection.mutable.HashSet.empty[
      (SparkSession,
       org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]

  /** Persist `df` (default MEMORY_AND_DISK) and register it for release.
    *
    * Dedup'd by CANONICALIZED plan: a long-lived session constructs the
    * same library query many times (every lshPairs call re-derives the
    * same signature relation), and Spark's CacheManager already treats
    * those as one cache — registering each Dataset object would grow this
    * buffer (each holding a full QueryExecution) without bound between
    * releaseAll calls, and re-persisting would log an "already cached"
    * warn per call. First construction persists and registers; identical
    * later plans return untouched.
    */
  def retain(df: DataFrame): DataFrame = synchronized {
    val key = (df.sparkSession, df.queryExecution.analyzed.canonicalized)
    if (!seen.contains(key)) {
      df.persist()
      retained += df
      seen += key
    }
    df
  }

  // Keyed by (owning SparkSession, canonicalized plan) — round-12 advice:
  // a plan-only key returned a frame checkpointed under one live session
  // into queries built on a DIFFERENT live session with the same plan text,
  // and the localCheckpoint RDD belongs to one SparkContext.
  private val checkpointed =
    scala.collection.mutable.HashMap.empty[
      (SparkSession,
       org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame]

  // Memoized row counts, same key discipline (round-19, ADVICE r18):
  // every `auto` knob resolution (kmeansCells, hyperplaneBits, the
  // streaming assignment floor) sizes itself with a full df.count(), and
  // a composed query resolves the SAME corpus plan several times (s31
  // constructs ivfPqIndex + kmeansTrainedCentroids + the floor = three
  // counts of one 100 TB scan). A count is a pure function of the plan,
  // so the memo can never serve a wrong value to an unchanged plan; a
  // MUTATED external table re-read under the same plan text is already
  // outside the engine's one-session corpus contract (retainCheckpointed
  // makes the same assumption, more strongly).
  private val counted =
    scala.collection.mutable.HashMap.empty[
      ((SparkSession,
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
       Int), Long]

  /** df.count(), memoized per (session, normalized canonical plan,
    * file-index fingerprint). The count job runs OUTSIDE the monitor (it
    * can be a full corpus scan); a concurrent duplicate is resolved to
    * one entry under the lock.
    *
    * The fingerprint (round-20, ADVICE r19): a parquet/scratch path
    * OVERWRITTEN with different data within one session (the
    * shared-session spec-suite shape) re-reads under identical plan text,
    * and a plan-only key would serve the stale count into
    * resolveCells/resolveBits — silently changing derived
    * kmeansCells/hyperplaneBits. Spark stamps a fresh write-UUID into
    * every part-file name, so `df.inputFiles` (driver-side metadata the
    * freshly-built plan has already listed) changes on ANY rewrite of a
    * scanned path; hashing the sorted listing makes the rewritten plan
    * MISS instead. Plans with no file sources hash an empty listing and
    * keep the pure plan-key behavior.
    */
  def memoCount(df: DataFrame): Long = {
    val filesFp = java.util.Arrays.hashCode(
      df.inputFiles.sorted.asInstanceOf[Array[AnyRef]])
    val key = (memoKey(df), filesFp)
    synchronized {
      counted.filterInPlace((k, _) => !k._1._1.sparkContext.isStopped)
      counted.get(key)
    } match {
      case Some(n) => n
      case None =>
        val n = df.count()
        synchronized(counted.getOrElseUpdate(key, n))
    }
  }

  /** Memoized LINEAGE-TRUNCATING retain: returns an eager
    * `localCheckpoint` of `df`, computed once per canonicalized plan.
    *
    * Use instead of [[retain]] when the plan UNDER the cache is itself so
    * large that re-planning it inside every downstream broadcast-exchange
    * job dominates the wall clock: a cached relation makes EXECUTION
    * cheap, but each broadcast subplan still carries the full logical
    * tree through analysis/optimization/codegen per job — measured on the
    * IVF-PQ probe path (whose level-1 relation drags the farthest-point
    * seed chain + Lloyd rounds everywhere): 24 jobs, 0.6 s of executor
    * task time, 12 s of wall. The checkpoint replaces the plan with a
    * scan of the materialized partitions, so downstream jobs plan in
    * milliseconds. Values are identical — the checkpoint stores exactly
    * what the plan computed.
    *
    * Trade vs [[retain]]: the memo key is this process's map (not
    * Spark's CacheManager), so OTHER queries re-deriving the same plan
    * text share it only through this method — callers that rely on
    * cross-query CacheManager dedup should keep using retain.
    */
  /** The memo key: canonicalized analyzed plan, with every embedded
    * checkpoint's PHYSICAL metadata erased first.
    *
    * localCheckpoint captures the physical plan's outputOrdering /
    * outputPartitioning into the LogicalRDD node, and those fields hold
    * AttributeReferences that plan canonicalization does NOT normalize
    * (it normalizes `output` positionally; the ordering/partitioning
    * expressions keep whatever exprIds the analyzer assigned). When the
    * same checkpoint appears twice in one query (every k-means|| round:
    * the candidate relation feeds both the union and the broadcast
    * centroid aggregate), DeduplicateRelations re-instances it with FRESH
    * exprIds per construction — so two builds of the IDENTICAL query
    * produced unequal canonical plans, every chained-checkpoint lookup
    * missed, and the whole seeding chain re-trained per query and per
    * warm run (the round-18 sf10-auto finding: six IVF-PQ-family queries
    * each paying ~320 s for what should be ONE training). The rdd (part
    * of LogicalRDD equality) still distinguishes different checkpoints;
    * values are independent of the erased metadata by construction.
    */
  private def memoKey(df: DataFrame)
      : (SparkSession,
         org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (df.sparkSession, normalizeForKey(df).canonicalized)

  /** The erasure above, isolated (round-19, ADVICE r18): the LogicalRDD
    * re-instantiation matches Spark 4.1.2's 6+3-arg constructor and the
    * classic.SparkSession cast — both Spark-internal surface that a
    * version bump may reshape. The erasure is KEY-ONLY (the rdd stays in
    * LogicalRDD equality, so a false HIT is impossible); therefore the
    * safe degradation on any linkage/shape failure is to return the plan
    * UN-normalized — a cache miss (the pre-r18 behavior: re-train instead
    * of reuse), never a wrong value. CachesSpec pins the normalized-key
    * HIT so an upgrade that silently lands in the fallback fails a test
    * instead of silently regressing the sf10 training wall.
    */
  private[graft] def normalizeForKey(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    try {
      df.queryExecution.analyzed.transformUp {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          new org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd,
            org.apache.spark.sql.catalyst.plans.physical
              .UnknownPartitioning(0),
            Nil, l.isStreaming, l.stream)(
            df.sparkSession
              .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, None)
      }
    } catch {
      case e @ (_: LinkageError | _: MatchError | _: ClassCastException) =>
        Log.debug(s"memo-key normalization unavailable " +
          s"(${e.getClass.getSimpleName}) — falling back to raw plan " +
          "(cache misses, never wrong values)")
        df.queryExecution.analyzed
    }

  def retainCheckpointed(df: DataFrame): DataFrame = {
    val key = memoKey(df)
    // each memo lookup (hit/miss + plan-key hash + head of the canonical
    // plan) at DEBUG — the attribution tool for "why did this training
    // chain re-run?" (round-18: the sf10-auto x-family)
    Log.debug(s"memo ${if (synchronized(checkpointed.contains(key))) "HIT " else "MISS"} " +
      s"key=${Integer.toHexString(key._2.hashCode)} " +
      key._2.nodeName + " " +
      key._2.toString.linesIterator.take(1).mkString.take(120))
    // A memoized frame from a STOPPED session would fail at action time
    // ("SparkContext has been shut down") — unlike retain, which always
    // returned the caller's live df. EVICT dead-session entries at lookup
    // (round-12 advice: filtering alone left each dead entry pinning a
    // QueryExecution in the map until the next releaseAll).
    def liveOrEvict(): Option[DataFrame] = {
      checkpointed.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      checkpointed.get(key)
    }
    synchronized(liveOrEvict()) match {
      case Some(c) => c
      case None =>
        // The eager checkpoint is a real Spark job (a full training pass
        // for the IVF families) — run it OUTSIDE the monitor so a slow
        // checkpoint cannot block every concurrent retain. The brief
        // double-compute race is resolved under the lock: the loser's
        // blocks are unpersisted immediately.
        val fresh = df.localCheckpoint()
        synchronized {
          liveOrEvict() match {
            case Some(winner) => unpersistCheckpoint(fresh); winner
            case None => checkpointed(key) = fresh; fresh
          }
        }
    }
  }

  /** Free a checkpointed frame's blocks deterministically: localCheckpoint
    * persists the physical RDD behind a LogicalRDD node, and dropping the
    * reference alone leaves the blocks pinned until a GC cycle feeds the
    * ContextCleaner — releaseAll's contract is immediate eviction.
    */
  private def unpersistCheckpoint(c: DataFrame): Unit =
    try c.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
    // Session may already be stopped; NonFatal so OOM/interrupts propagate
    // (round-12 advice: a bare Throwable swallowed fatal JVM errors).
    catch { case scala.util.control.NonFatal(_) => () }

  /** Release every retained cache. Safe at any time: queries re-derive
    * dropped caches from source on next use (slower, never wrong).
    */
  def releaseAll(): Unit = synchronized {
    retained.foreach(df => try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }) // stopped session
    retained.clear()
    seen.clear()
    checkpointed.values.foreach(unpersistCheckpoint)
    checkpointed.clear()
    counted.clear()
  }

  def retainedCount: Int = synchronized(retained.size)

  /** True iff the session has no cached plans left (spec hook). */
  def noneCached(s: SparkSession): Boolean =
    s.sharedState.cacheManager.isEmpty
}
