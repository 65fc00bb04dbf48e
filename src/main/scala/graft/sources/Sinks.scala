package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink surface — the reference's Elasticsearch writes re-expressed as
  * parquet-table semantics (zero-egress environment; SURVEY §2.1 S3-S6).
  *
  *   - S4 [[writeKeyed]] ↔ ES bulk index with `es.mapping.id`
  *     (`sql_to_es_etl.py:137-142`): doc-id semantics = at most one row per
  *     key; the write dedups by key first, so a re-run lands the identical
  *     table (bulk-index idempotency).
  *   - S5 [[mergeByKey]] / [[writeMerged]] ↔ ES upsert + `mode("append")`
  *     (`snowflake_to_es_etl.py:234-241`): new batch merged into the
  *     existing table, last writer (by version column) wins per key.
  *   - S6 [[SchemaRegistry]] ↔ the typed index mapping + existence check +
  *     `init()` (`sql_to_es_etl.py:98-134`, `snowflake_to_es_etl.py:107-225`).
  *
  * Scale notes: both sinks are one window over a hash partition by key —
  * no global ordering, no driver data path. The merge reads the existing
  * table once; at 100 TB you'd bound that with partition pruning on the
  * sink's bucket column (see Preprocess.writeMonthPartitioned) — the merge
  * here composes with it (merge within each month partition).
  */
object Sinks {

  /** Keep one row per key: smallest-version-last semantics are supplied by
    * `orderBy`; ties broken by every remaining column for determinism.
    */
  private def keepOne(df: DataFrame, key: String, versionDesc: String): DataFrame = {
    val tieBreak = df.columns.filterNot(c => c == key || c == versionDesc).sorted.map(asc)
    val w = Window.partitionBy(col(key)).orderBy(desc(versionDesc) +: tieBreak.toSeq: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** S4: keyed sink. Idempotent by construction — whatever the input's
    * duplication, the stored table has exactly one row per key.
    */
  def writeKeyed(df: DataFrame, key: String, version: String, path: String): Unit =
    keepOne(df, key, version).write.mode("overwrite").parquet(path)

  /** S5 merge step: existing ∪ updates, last writer per key wins.
    * `unionByName` aligns schemas by name (U1); updates win ties via the
    * `is_update` flag ranking above existing rows at equal version.
    */
  def mergeByKey(existing: DataFrame, updates: DataFrame, key: String, version: String): DataFrame = {
    val tagged = existing.withColumn("__upd", lit(0))
      .unionByName(updates.withColumn("__upd", lit(1)))
    val others = tagged.columns.filterNot(c => c == key || c == version || c == "__upd").sorted.map(asc)
    val w = Window.partitionBy(col(key)).orderBy(desc(version) +: desc("__upd") +: others.toSeq: _*)
    tagged.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__upd")
  }

  /** All path probing/cleanup goes through the Hadoop `FileSystem`
    * resolved FROM the path — so every sink works unchanged on local
    * paths, `file:` URIs, HDFS, or any object store with a Hadoop
    * connector (the reference writes to `hdfs:///projects/...`,
    * `preprocess_and_store_parquets.py:245-249`; `java.io.File` would
    * silently report "absent" for every non-local URI and re-init the
    * table).
    */
  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = hfs(spark, path)
    fs.exists(p)
  }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val (fs, p) = hfs(spark, path)
    fs.delete(p, true)
  }

  /** S5 sink, whole-table form: merge updates into the table at `path` —
    * the ES `upsert`+append write. One table write per batch:
    *
    *   - no table at `path` yet: nothing reads from it, so the batch
    *     (one row per key) is written straight to `path`;
    *   - a table exists: the merge reads it, so it is written to
    *     `path__staging` first; then `path` is deleted and the staging
    *     directory renamed to `path` through the Hadoop `FileSystem`. A
    *     failed staged write leaves the old table untouched.
    *
    * Rewrites the WHOLE table per batch, which is only appropriate for
    * small dimension-sized tables; the 100 TB path is
    * [[writeMergedPartitioned]], which bounds the rewrite to the batch's
    * touched partitions the same way the reference's ES upsert touches
    * only the batch's keys.
    */
  def writeMerged(spark: SparkSession, updates: DataFrame, key: String, version: String,
                  path: String): Unit = {
    val (fs, p) = hfs(spark, path)
    if (!fs.exists(p)) keepOne(updates, key, version).write.mode("overwrite").parquet(path)
    else {
      val staging = new org.apache.hadoop.fs.Path(path + "__staging")
      mergeByKey(spark.read.parquet(path), updates, key, version)
        .write.mode("overwrite").parquet(staging.toString)
      fs.delete(p, true)
      if (!fs.rename(staging, p))
        throw new java.io.IOException(s"merged table left at $staging: rename to $p failed")
    }
  }

  /** S5 sink, partition-bounded form — the scale path. The table is laid
    * out `partitionBy(partCol)` (compose with
    * [[graft.pipelines.Preprocess.writeMonthPartitioned]]'s month
    * buckets); a merge batch:
    *
    *   1. derives its touched partitions from the updates (one tiny
    *      distinct-collect — bounded by the number of buckets, not rows),
    *   2. reads ONLY those partitions of the existing table (partition
    *      pruning on `partCol` — untouched partitions are never opened),
    *   3. merges and stages the touched partitions, then
    *   4. commits them with dynamic partition overwrite, which replaces
    *      exactly the partitions present in the staged frame.
    *
    * Untouched partitions' files are not read, not rewritten, not even
    * listed by the commit — write amplification is 2× the BATCH's
    * partitions instead of 2× the table (↔ the reference's ES upsert
    * touching only the batch's keys, `snowflake_to_es_etl.py:234-241`).
    */
  def writeMergedPartitioned(spark: SparkSession, updates: DataFrame, key: String,
                             version: String, partCol: String, path: String): Unit = {
    require(updates.columns.contains(partCol), s"updates must carry $partCol")
    if (!pathExists(spark, path)) {
      keepOne(updates, key, version)
        .write.mode("overwrite").partitionBy(partCol).parquet(path)
      return
    }
    val touched = updates.select(partCol).distinct()
      .collect().map(_.get(0)).toSeq
    val existing = spark.read.parquet(path)
      .filter(col(partCol).isInCollection(touched))
      .select(updates.columns.map(col): _*) // partition col back to updates' column order
    val merged = mergeByKey(existing, updates, key, version)
    val tmp = path + "__staging"
    merged.write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    spark.read.parquet(tmp)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
    deletePath(spark, tmp)
  }

  /** S6: schema registry — named StructType schemas with ensure-exists DDL,
    * mirroring the ES typed mapping (Keyword/Text/Date/Integer/Boolean/
    * DenseVector) + `indices.exists`/`init()` driver flow. DenseVector
    * becomes `ArrayType(FloatType)` (SURVEY §1 type table).
    */
  object SchemaRegistry {

    /** ↔ the sr-data index mapping (`sql_to_es_etl.py:98-131`): keyword
      * and text fields → string, Date → timestamp, Integer → int,
      * Boolean → boolean, DenseVector(dims=500) → array<float>.
      */
    val SrDataIndex: StructType = new StructType()
      .add("incident_number", StringType, nullable = false) // Keyword, doc id
      .add("summary", StringType)                           // Text(analyzer=english)
      .add("description", StringType)                       // Text
      .add("status", StringType)                            // Keyword (normalized)
      .add("open_date", TimestampType)                      // Date multi-format
      .add("close_date", TimestampType)
      .add("tat", IntegerType)                              // Integer
      .add("is_federal", BooleanType)                       // Boolean
      .add("summary_vector", ArrayType(FloatType))          // DenseVector dims=500

    private val schemas = scala.collection.concurrent.TrieMap[String, StructType](
      "sr_data_index" -> SrDataIndex)

    def register(name: String, schema: StructType): Unit = schemas.put(name, schema)
    def lookup(name: String): Option[StructType] = schemas.get(name)

    /** ↔ `if not es.indices.exists: Index.init()` — create the managed
      * table location with an empty, schema-bearing parquet if absent.
      */
    def ensureExists(spark: SparkSession, name: String, basePath: String): Boolean = {
      val path = s"$basePath/$name"
      val schema = schemas.getOrElse(name,
        throw new IllegalArgumentException(s"unregistered schema: $name"))
      if (pathExists(spark, path)) false
      else {
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .write.parquet(path)
        true
      }
    }
  }
}
