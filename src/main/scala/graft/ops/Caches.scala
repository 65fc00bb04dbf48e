package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared cache registry for LAZY operators that must persist an input
  * feeding both sides of a self-join (the C1 multi-branch fan-out
  * discipline: fingerprint tables in [[graft.multimodal.ImageHash]],
  * [[graft.multimodal.VideoHash]], the tar member table in
  * [[graft.sources.Tar]]).
  *
  * Those operators return a DataFrame without running it, so they cannot
  * unpersist after "the join materializes" — there is no materialization
  * point inside them (unlike [[Graph]], which iterates internally and
  * releases each round's caches itself). Instead every such persist is
  * REGISTERED here, and the session owner releases them at its natural
  * seam: the harness mains call [[graft.Harness.releaseCaches]] between
  * queries (`clearCache`, which already drops these blocks, then
  * [[releaseAll]], which empties the registry); a library user
  * embedding many invocations in one session calls [[release]] after
  * consuming each result. Entries are idempotent to release twice —
  * `unpersist` on an already-unpersisted frame is a no-op.
  *
  * Scoping (ADVICE r14): registration is PER CALLING THREAD. Operators
  * build their plans (and hence call [[persist]]) on the invoking
  * thread, so a thread's registry holds exactly the caches its own
  * invocations created — [[release]] from that thread can never
  * unpersist a frame a CONCURRENT pipeline on another thread is still
  * using (the old session-global queue let two invocations sharing one
  * SparkSession silently drop each other's still-hot decode caches,
  * forcing recomputes). A caller that builds on one thread and
  * releases on another should use [[releaseAll]] at a point where no
  * other query on the session is executing — that is the only
  * cross-thread sweep, and it is deliberately global.
  */
object Caches {

  private val registries = new java.util.concurrent.ConcurrentHashMap[
    java.lang.Long, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()

  private def mine: java.util.concurrent.ConcurrentLinkedQueue[DataFrame] =
    registries.computeIfAbsent(Thread.currentThread.getId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())

  /** Persist `df` (MEMORY_AND_DISK — fingerprint/member tables are
    * small but must survive memory pressure without recompute, which
    * would re-run a decode pass) and register it for [[release]] on
    * the calling thread.
    */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    mine.add(df)
    df
  }

  private def drain(q: java.util.concurrent.ConcurrentLinkedQueue[DataFrame]): Unit =
    if (q != null) {
      var df = q.poll()
      while (df != null) {
        df.unpersist(blocking = false)
        df = q.poll()
      }
    }

  /** Unpersist every frame the CALLING thread's invocations registered
    * (non-blocking). Safe to call at any time: frames still referenced
    * by an unfinished plan recompute instead of failing, and other
    * threads' registrations are untouched.
    */
  def release(): Unit = drain(registries.remove(Thread.currentThread.getId))

  /** Unpersist every registered frame across ALL threads — the harness
    * seam (between queries of a harness run, session teardown). Must not run
    * while another query on the same session is executing, or that
    * query's caches recompute mid-flight (safe, but the expensive
    * decode passes run twice).
    */
  def releaseAll(): Unit = {
    val it = registries.keySet.iterator()
    while (it.hasNext) { drain(registries.remove(it.next())) }
  }
}
