package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders. Every query receives a scale-factor directory
  * (e.g. /root/testdata/sf0.01) holding one parquet file per table; Spark's
  * vectorized parquet reader + Catalyst column pruning / filter pushdown do
  * the heavy lifting.
  *
  * A bare `spark.read.parquet(path)` runs a one-task Spark job to read the
  * footer and infer the schema, on every call. [[table]] instead resolves
  * the schema of a single parquet file once per session and reads it with
  * `spark.read.schema(resolved).parquet(path)`, which only lists the file
  * on the driver: building a query over fixture tables starts no job.
  *   - The memo key is the session (held weakly), the file's qualified
  *     path, its modification time and length, and the session's parquet
  *     settings (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`). A
  *     rewritten file is re-inferred; a session with other parquet
  *     settings infers its own schema.
  *   - A directory, a glob or a missing path is read as
  *     `spark.read.parquet(path)`, unmemoized (and a missing path fails
  *     as it always did).
  *   - The memo is session metadata, not cached data:
  *     [[ops.Caches.release]] and `spark.catalog.clearCache()` leave it.
  */
object Tables {

  /** One parquet file as the schema memo sees it. */
  private final case class FileKey(path: String, modified: Long, length: Long,
                                   parquetConf: Map[String, String])

  /** Resolved schemas per session; a stopped, unreferenced session drops out. */
  private val schemas =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[FileKey, StructType]]())

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fileKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[FileKey, StructType]())
        spark.read.schema(memo.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
          .parquet(path)
    }
  }

  /** The memo key of `path` when it names one existing file and no glob. */
  private def fileKey(spark: SparkSession, path: String): Option[FileKey] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val status =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status.filter(_.isFile).map { st =>
        FileKey(fs.makeQualified(p).toString, st.getModificationTime, st.getLen,
          spark.conf.getAll.filter { case (k, _) =>
            k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
          })
      }
    }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright. With `spark.sql.legacy.parquet.nanosAsLong`
    * (set once at session construction by [[Graft.configure]] and every
    * entry-point builder — a loader must not mutate session conf) the
    * column arrives as raw INT64 nanos; truncate to microseconds with
    * integral division — the same floor DuckDB applies when it narrows
    * nanos to its micro TIMESTAMP, so both engines see identical values.
    * (ts / 1000 in double would corrupt: 1.7e18 nanos exceeds 2^53.)
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "events requires spark.sql.legacy.parquet.nanosAsLong=true at session build " +
        "(use Graft.session() or Graft.configure(builder))")
    val raw = table(spark, dir, "events")
    // normalize ts to session-local TIMESTAMP whatever the file carries:
    //   - TIMESTAMP(NANOS) files arrive as raw INT64 nanos (nanosAsLong);
    //     truncate to micros with integral division — the same floor
    //     DuckDB applies (ts / 1000 in double would corrupt: 1.7e18
    //     nanos exceeds 2^53)
    //   - plain micro files without isAdjustedToUTC infer as
    //     TIMESTAMP_NTZ; the session timezone is pinned UTC (asserted by
    //     Graft.configure), so the cast maps wall-clock to the same
    //     instant DuckDB's naive TIMESTAMP arithmetic assumes
    //   - re-written event tables (e.g. ScaleProbe's synthetic copies)
    //     already carry micro TIMESTAMP and pass through unchanged
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
