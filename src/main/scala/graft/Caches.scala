package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one registry for state graft keeps across calls in a session:
  *
  *  - [[hold]]: persisted INTERNAL intermediates — frames an operator
  *    persists for its own multi-branch reuse (a tf frame read by both
  *    the df side and the join side, the affinity degree frames) but
  *    never returns, so callers could not release them;
  *  - [[memo]]: build-once shared frames, the one-artifact-many-consumers
  *    intermediates (the span family's seed frame, the affinity pair
  *    frames);
  *  - [[value]]: build-once driver-side values (the IVF corpus count,
  *    the Lloyd-trained centroid rows).
  *
  * [[clear]] is the one release call for all three. Runner, Bench and
  * DevProbe call it between runs or trials; a long-lived host session
  * (a notebook, a Runner-less service) calls it between pipelines
  * instead of letting cache pins accumulate until a global
  * `spark.catalog.clearCache()` drops the host's own frames too.
  */
object Caches {

  private val held = scala.collection.mutable.ListBuffer[DataFrame]()

  /** Memoized shared frames, keyed by (session, input plan, builder
    * tag). Without the memo a curation pipeline running spanDedup,
    * spanStrip and seedNovelty pays three full corpus scans for one
    * logical artifact. An entry whose buffers were dropped by external
    * scoped cleanup (Bench/Runner) re-persists on lookup. */
  private val memoMap =
    scala.collection.mutable.Map[(Int, Int, String), DataFrame]()

  /** Memoized driver-side values, keyed by (session, tag). */
  private val values = scala.collection.mutable.Map[(Int, String), Any]()

  /** Persist `df` (MEMORY_AND_DISK) and track it for [[clear]]. */
  def hold(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    p
  }

  /** Every frame currently tracked — the set [[Runner]] treats as
    * RUN-scoped (skipped by per-query cleanup, released at end of
    * run). */
  def tracked: Seq[DataFrame] = synchronized {
    (held ++ memoMap.values).toSeq
  }

  /** Build-once lookup for a shared persisted intermediate: the first
    * call per (session, `input` plan, `kind`) persists `build`'s
    * result (a builder may persist and materialize it itself, to
    * release its own intermediates at once); later calls return the
    * SAME frame, re-registering it if an external scoped cleanup
    * dropped its buffers. Released (and forgotten) by [[clear]]. */
  def memo(input: DataFrame, kind: String)
          (build: => DataFrame): DataFrame = synchronized {
    val key = (System.identityHashCode(input.sparkSession),
      input.queryExecution.analyzed.semanticHash(), kind)
    val df = memoMap.getOrElseUpdate(key, build)
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** Build-once lookup for a driver-side value per (session, `key`).
    * Forgotten by [[clear]], so the next lookup rebuilds it. */
  def value[T](spark: SparkSession, key: String)(build: => T): T =
    synchronized {
      values.getOrElseUpdate((System.identityHashCode(spark), key), build)
        .asInstanceOf[T]
    }

  /** Release every tracked frame and forget every memoized value.
    * Safe mid-session: a frame released while its query is still lazy
    * just recomputes. */
  def clear(): Unit = synchronized {
    (held ++ memoMap.values).foreach { df =>
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    held.clear()
    memoMap.clear()
    values.clear()
  }
}
