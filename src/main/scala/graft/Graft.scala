package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's entry point: a configured session and the three
  * reference pipelines. Every other operator is called on its own module
  * (`dedup.Dedup`, `sim.Similarity`, `text.*`, ...):
  *
  * {{{
  * import graft.Graft
  * val spark = Graft.session()                    // tuned local session
  * Graft.runSqlToParquet(spark, sfDir, out)       // pipeline 1
  * dedup.Dedup.dropNearDups(docs, pairs)          // any operator, directly
  * }}}
  */
object Graft {

  /** A session configured the way every graft entry point expects:
    * UTC clock, right-sized shuffle partitions, and the extension pack
    * (dot_long / ngram_poly_hash SQL functions + SargableMonthRule).
    */
  def session(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply graft's required session config to ANY builder — the cluster
    * path: bring your own master/deploy settings, graft adds the UTC clock
    * and the extension pack. (Shuffle partitioning is left to the caller /
    * AQE on a real cluster.)
    *
    * `nanosAsLong` lives here — at session construction, not inside
    * [[Tables.events]] — because a loader mutating session conf is a
    * global side effect (and a race under shared sessions). The fixture
    * `events.ts` is parquet TIMESTAMP(NANOS), which the vectorized reader
    * otherwise rejects; with the flag it arrives as raw INT64 nanos and
    * [[Tables.events]] truncates to micros.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE partition coalescing respects the advisory TARGET SIZE
      // instead of chasing default parallelism (optimization r15; guide
      // §2.2 "fewer, larger reduce partitions" — and Spark's own config
      // doc recommends false). With the default (true) every
      // post-shuffle stage of a small intermediate still fans out to
      // ~spark.sql.shuffle.partitions sub-ms tasks whose scheduling
      // dominates small-stage wall clock; at cluster scale the default
      // under-sizes partitions exactly as guide §2.2 warns (M×R block
      // explosion). Size-based coalescing is the scale-correct behavior
      // at BOTH ends; the advisory size stays at Spark's default and
      // remains overridable per deployment. Quiet-host A/B at sf0.1 /
      // local[32]: q_hits 8.04→6.45 s, q_setsim_join 2.46→2.16 s,
      // q_srdata_flagship 1.39→1.30 s; worst regression q_events_gap_fill
      // 1.40→1.51 s (wide per-user window wants the extra parallelism —
      // acceptable against the across-the-board win).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")

  // ---- the three reference pipelines ----

  /** Star query → keyword normalize → index DDL → keyed sink; returns rows written. */
  def runSqlToParquet(spark: SparkSession, sfDir: String, outBase: String): Long =
    pipelines.SqlToParquet.run(spark, sfDir, outBase)

  /** DISTINCT source → cast-all → last-writer-wins merge by key. */
  def runDistinctUpsert(spark: SparkSession, sfDir: String): DataFrame =
    pipelines.DistinctUpsert.distinctUpsert(spark, sfDir)

  /** NLP preprocess → scalable numbering → chunk gather (one month bucket). */
  def runPreprocessMonthly(spark: SparkSession, sfDir: String, monthBucket: String,
                           chunkSize: Int = pipelines.Preprocess.RefChunkSize): DataFrame =
    pipelines.Preprocess.preprocessMonthly(spark, sfDir, monthBucket, chunkSize)
}
