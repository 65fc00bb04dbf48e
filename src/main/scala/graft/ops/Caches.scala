package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one place graft persists a DataFrame, and the one way to release
  * what an invocation cached. The rule (the reference's C1/C2 idiom):
  *
  *   - Persist only a MAP-ONLY fan-out — a frame several plan branches
  *     read where no shared Exchange lets AQE reuse the work — and
  *     always through [[persist]] (the source guard in `CachesSpec`
  *     fails on any other persist in the library).
  *   - A function that consumes its own cache before returning (an
  *     iterative operator, an eager action, a sink) unpersists it there,
  *     as soon as it is done.
  *   - Everything else stays cached until the caller has consumed the
  *     result and calls [[release]]: operators that return a lazy
  *     DataFrame have no materialization point of their own. The
  *     harness mains release after every query; a library user calls
  *     [[release]] after consuming each result. Releasing twice is a
  *     no-op (`unpersist` on an unpersisted frame does nothing), and a
  *     frame a function already unpersisted, or left cached because it
  *     threw first, is swept the same way.
  *
  * Scoping (ADVICE r14): registration is PER CALLING THREAD. Operators
  * build their plans (and hence call [[persist]]) on the invoking
  * thread, so a thread's registry holds exactly the caches its own
  * invocations created — [[release]] from that thread never unpersists
  * a frame a CONCURRENT pipeline on another thread is still using.
  */
object Caches {

  private val registries = new java.util.concurrent.ConcurrentHashMap[
    java.lang.Long, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()

  /** Persist `df` at MEMORY_AND_DISK (a cached frame must survive memory
    * pressure without recompute, which would re-run the work it saves)
    * and register it for [[release]] on the calling thread. Returns `df`.
    */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    registries.computeIfAbsent(Thread.currentThread.getId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()).add(df)
    df
  }

  /** Unpersist every frame the CALLING thread's invocations registered
    * (non-blocking). Safe to call at any time: frames still referenced
    * by an unfinished plan recompute instead of failing, and other
    * threads' registrations are untouched.
    */
  def release(): Unit = {
    val q = registries.remove(Thread.currentThread.getId)
    if (q != null) q.forEach(_.unpersist(blocking = false))
  }
}
