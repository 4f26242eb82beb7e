package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Build-once registry for intermediates shared within (and across)
  * operators — exploded shingle rows, minhash signatures, ML feature
  * inputs ([[cached]]) and driver-side values such as k-means centers,
  * codebooks, plan-gate counts and table schemas ([[memo]]). One home
  * for every `.persist` and every driver memo in the op modules, so a long
  * session (the bench, a user notebook) can release ALL of them with
  * one call instead of leaking them query over query, and a bench rep
  * never inherits the previous rep's fitted models or persisted frames.
  *
  * Builds are SINGLE-FLIGHT: `TrieMap.getOrElseUpdate` atomically
  * publishes a lazy holder, and the `lazy val` inside serializes the
  * actual build — so a concurrent first access (the 4-way parallel
  * all-query specs, `Par` legs) cannot run an EAGER build (the
  * clustering fixpoint, a KMeans fit) twice; the second caller blocks
  * on the first's holder instead.
  *
  * MEMORY_AND_DISK everywhere: still correct when an intermediate
  * outgrows executor memory at scale.
  */
object OpCache {
  private final class Holder[T](build: () => T, release: T => Unit) {
    @volatile private var forced = false
    // clear() raced an in-flight build before this flag existed: clear
    // removed the holder, saw forced=false and skipped the release,
    // then the builder persisted into a holder no longer in the map — a
    // storage leak (a later cached() call persists a SECOND copy and
    // the first is never released). Now clear() marks the holder and
    // the builder, on completing AFTER a clear, releases its own
    // result. Both flag writes happen inside the lazy-val monitor or
    // are ordered volatile writes, so at least one side releases (a
    // second unpersist is a no-op).
    @volatile private var cleared = false
    lazy val value: T = {
      val v = build()
      forced = true
      if (cleared) release(v)
      v
    }
    def drop(): Unit = {
      cleared = true
      if (forced) release(value)
    }
    /** The value if it is built; never starts a build. */
    def built: Option[T] = if (forced) Some(value) else None
  }

  private val cache = scala.collection.concurrent
    .TrieMap.empty[(SparkSession, String, String), Holder[_]]

  private def holder[T](s: SparkSession, dir: String, key: String,
      build: => T, release: T => Unit): T =
    cache.getOrElseUpdate((s, dir, key), new Holder[T](() => build, release))
      .asInstanceOf[Holder[T]].value

  /** A driver-side value built once per (session, dir, key) and
    * forgotten by [[clear]]. Keys share one namespace with [[cached]]. */
  def memo[T](s: SparkSession, dir: String, key: String)(build: => T): T =
    holder[T](s, dir, key, build, _ => ())

  /** A frame persisted once per (session, dir, key) and unpersisted by
    * [[clear]]. */
  def cached(s: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    holder[DataFrame](s, dir, key, {
      val d = build
      // iterative builds (fixpoints) return already-persisted results
      if (d.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    }, d => if (!heldElsewhere(s, d)) d.unpersist(blocking = false))

  /** Whether a session other than `s` holds a built frame of `d`'s plan.
    * Spark's cache manager is shared by every session of a SparkContext
    * and keyed by plan, so such frames are ONE cache entry: unpersisting
    * it for `s` would make the other session's frame recompute silently.
    * The entry is released by whichever holder clears last. */
  private def heldElsewhere(s: SparkSession, d: DataFrame): Boolean = {
    val plan = d.queryExecution.normalized
    cache.exists { case ((o, _, _), h) =>
      (o ne s) && h.built.exists {
        case f: Dataset[_] => f.queryExecution.normalized.sameResult(plan)
        case _ => false
      }
    }
  }

  /** Release and forget every cached frame and memo of this session.
    * Never-forced holders are dropped without building them; a holder
    * whose build is IN FLIGHT is flagged so the builder releases its
    * own result on completion (see Holder.cleared). A frame whose cache
    * entry another session still holds is forgotten but not unpersisted
    * ([[heldElsewhere]]). */
  def clear(s: SparkSession): Unit =
    cache.keys.filter(_._1 eq s).foreach(k => cache.remove(k).foreach(_.drop()))
}
