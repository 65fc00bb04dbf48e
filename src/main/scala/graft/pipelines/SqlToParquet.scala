package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Caches, SrData}
import graft.sources.Sinks
import graft.text.Keyword

/** The reference's first pipeline — `sql_to_es_etl.py` (SURVEY §3.1) — as
  * one end-to-end flow: source query → shaping → index DDL → keyed sink.
  *
  *   1. The sr_data star query + rename-projection + casts = [[SrData.flagship]]
  *      (↔ `:54-92`).
  *   2. `persist` + actions (`count`, `show`) ↔ `:83,93-95`; the reference's
  *      magic `repartition(300)` is deliberately NOT reproduced — AQE picks
  *      post-shuffle parallelism (SURVEY §4), and the sink dedup supplies
  *      its own hash partitioning.
  *   3. Keyword-typed columns pass the E14 normalizer before the sink, the
  *      native equivalent of the index's `lowercase+asciifolding` analyzer
  *      (↔ `:102-120`) — so sink-side equality behaves like ES keyword
  *      matching.
  *   4. Index DDL: the output schema registers in the [[Sinks.SchemaRegistry]]
  *      and `ensureExists` creates the table location if absent
  *      (↔ `indices.exists`/`init()`, `:133-134`).
  *   5. Bulk write keyed by `Incident_Number` with doc-id semantics =
  *      [[Sinks.writeKeyed]] (↔ `es.mapping.id`, `:137-142`).
  */
object SqlToParquet {

  val IndexName = "sr_data_flagship"
  val Key = "Incident_Number"
  val Version = "last_modified_date"

  /** The shaped, sink-ready frame (steps 1+3). */
  def shaped(spark: SparkSession, dir: String): DataFrame =
    SrData.flagship(spark, dir)
      .withColumn("Assignee", Keyword.keywordNormalize(col("Assignee")))
      .withColumn("Client_Mnemonic", Keyword.keywordNormalize(col("Client_Mnemonic")))

  /** Run end-to-end; returns the row count written (the reference's own
    * logged action, `:94`).
    */
  def run(spark: SparkSession, dir: String, outBase: String): Long = {
    val df = Caches.persist(shaped(spark, dir))                       // C1 ↔ :83
    val n = df.count()                                                // A1 ↔ :94
    df.show(5, truncate = false)                                      // O3 ↔ :93
    Sinks.SchemaRegistry.register(IndexName, df.schema)               // S6 mapping
    Sinks.SchemaRegistry.ensureExists(spark, IndexName, outBase)      // S6 init()
    Sinks.writeKeyed(df, Key, Version, s"$outBase/$IndexName")        // S4 ↔ :137-142
    df.unpersist()                                                    // C2
    n
  }
}
