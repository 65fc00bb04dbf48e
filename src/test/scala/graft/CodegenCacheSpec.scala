package graft

/** Spark's codegen class cache at the size [[Graft.configure]] sets. At
  * the default of 100 entries the two `dedup_joins` queries evict each
  * other's generated classes (a stage body is cached twice in local mode,
  * once per class loader), so every round of the pair recompiles what the
  * round before compiled.
  */
class CodegenCacheSpec extends SparkSuite {

  test("the shared session reports the configured codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
  }

  test("alternating q_setsim_join and q_dedup_chargram stops recompiling by the third round") {
    val pair = Seq("q_setsim_join", "q_dedup_chargram").map(SparkEntry.registry)
    val perRound = (1 to 3).map { _ =>
      val c0 = Harness.compiles()
      pair.foreach(q => Harness.coldRun(spark)(q.build(spark, Sf)))
      Harness.compiles() - c0
    }
    ops.Caches.release()
    info(s"classes compiled per round: ${perRound.mkString(", ")}")
    assert(perRound.last <= MaxLastRound, s"classes compiled per round: ${perRound.mkString(", ")}")
  }

  /** Classes the third round may still compile. Measured on a 4-CPU host
    * at sf0.001, rounds 1-3: 119, 6-10, 0 with the configured cache;
    * 120, 80, 84 at Spark's default size.
    */
  private val MaxLastRound = 10L
}
