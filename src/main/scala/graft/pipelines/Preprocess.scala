package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Query
import graft.ops.{Caches, Prefix, SrData}
import graft.text.{Normalize, TextOps}

/** The reference's richest pipeline — `preprocess_and_store_parquets.py`
  * (§3.3 of SURVEY.md) — recomposed as one native Spark flow:
  *
  *   month-filtered star query → boolean filter (`is_federal == false`,
  *   ↔ `:189`) → concat_ws+trim (`:194-196`) → normalize_text (`:197-198`)
  *   → empty-string→null (`:201`) → IS NOT NULL (`:202`) → global
  *   row_number (`:210-212`) → fixed-size chunking (`:219-240`) →
  *   docpreprocess (`:241`) → month-partitioned parquet (`:243-249`).
  *
  * Two variants exist for the two scale-hostile steps, and the ORACLE
  * CHECKS THE SCALABLE ONE (both are unit-tested equal):
  *
  *   - Global numbering. Faithful: `row_number()` over a constant
  *     partition key (`:210-212`) — correct but funnels every row through
  *     ONE task. Scalable: [[graft.ops.Prefix]]'s exact ordered prefix
  *     over range partitions of the order key (per-partition counts give
  *     partition offsets; no single-task funnel, no job at build time).
  *     Same numbering because the order key is unique.
  *   - Chunk gathering. Faithful: per-chunk temp-view SQL range filter +
  *     collect to driver + re-parallelize + unionByName loop
  *     (`:219-240`) — a driver round-trip per chunk. Scalable: one
  *     `groupBy(chunk_id).agg(collect_list(struct(...)))` — a single
  *     shuffle, no driver data path.
  *
  * Faithfulness note: the reference window orders by a constant
  * (`orderBy(lit('A'))`), leaving row order engine-arbitrary. Both our
  * variants order by the unique business key (`Incident_Number`) so the
  * numbering is deterministic and oracle-comparable.
  */
object Preprocess {

  /** Reference chunk size (`onelakh = 10000`,
    * `preprocess_and_store_parquets.py:204`); fixtures use a smaller one so
    * sf0.01 produces multiple chunks.
    */
  val RefChunkSize = 10000

  /** normalize(trim(concat_ws(' ', Summary, Description))) with the
    * empty-string→null rewrite (F8) applied — the per-row text path.
    * `nullif` evaluates the chain once per row: Spark rewrites it to a
    * projection of its argument, so the lambdas of [[TextOps.preprocess]]
    * downstream see a column, not another copy of the chain.
    */
  private[graft] def normed: Column =
    nullif(Normalize.normalizeText(trim(concat_ws(" ", col("Summary"), col("Description")))), lit(""))

  /** Month-filtered, federal-excluded, normalized, non-null rows:
    * (Incident_Number, norm). ↔ `preprocess_and_store_parquets.py:187-202`.
    */
  def base(spark: SparkSession, dir: String, monthBucket: String): DataFrame =
    SrData.filtered(spark, dir, monthBucket)
      .filter(!col("is_federal"))            // P7 ↔ :189
      .select(col("Incident_Number"), normed.as("norm"))
      .filter(col("norm").isNotNull)         // P8 ↔ :202

  /** Faithful W1: global row_number over a constant partition key — every
    * row lands in one window task, exactly the reference's physical shape
    * (`preprocess_and_store_parquets.py:210-212`). Kept for parity; use
    * [[withGlobalRowNum]] at scale.
    */
  def withRowNumFaithful(df: DataFrame, orderKey: String): DataFrame =
    df.withColumn("new_column", lit("ABC"))
      .withColumn("row_num",
        row_number().over(Window.partitionBy(col("new_column")).orderBy(col(orderKey))).cast("long"))
      .drop("new_column")                    // P5 ↔ :212

  /** Scalable global numbering: `row_num` (1-based) in `orderKey` order
    * (unique) as [[Prefix.before]] over [[Prefix.rangeShards]] — the range
    * partitioner keeps partitions globally ordered, so the partition's
    * offset plus the local rank IS the global rank. Works at any
    * partition count — no single-task funnel.
    */
  def withGlobalRowNum(df: DataFrame, orderKey: String): DataFrame =
    Prefix.before(Prefix.rangeShards(df, Seq(orderKey)), Nil, "pid", Seq(orderKey), lit(1L))
      .withColumn("row_num", col("before") + 1L)
      .drop("pid", "before")

  /** chunk_id = (row_num - 1) / chunkSize, integral division (↔ the loop
    * bounds `row_num > i AND row_num <= i + onelakh`, `:219-230`).
    */
  def withChunkId(df: DataFrame, chunkSize: Int): DataFrame =
    // IntegralDivide, not double division: exact at any row count (a
    // double round-trip is only exact below ~2^52 rows)
    df.withColumn("chunk_id", expr(s"(row_num - 1) DIV ${chunkSize.toLong}"))

  /** Scalable A3: gather each chunk's ids and docs as ordered arrays in one
    * shuffle — replaces the reference's collect/re-parallelize round trip
    * (`preprocess_and_store_parquets.py:234-240`). Order inside each chunk
    * is by row_num: collect_list order is nondeterministic under
    * parallelism, so elements carry row_num in a struct and array_sort
    * restores it (struct sort compares leading field first).
    */
  def gatherChunks(df: DataFrame): DataFrame = {
    val sortedPairs = array_sort(collect_list(struct(col("row_num"), col("Incident_Number"), col("doc"))))
    df.groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sortedPairs.as("pairs"))
      .select(
        col("chunk_id"),
        col("n_docs"),
        array_join(transform(col("pairs"), _.getField("Incident_Number")), "|").as("ids"),
        array_join(transform(col("pairs"), _.getField("doc")), "|").as("docs"))
  }

  /** Faithful A3/U1/S7/S8/S9/P9/C6: the reference's chunk loop verbatim in
    * shape — temp view + SQL range filter per chunk, collect both columns
    * to the driver, re-parallelize as ONE row, accumulate with unionByName
    * onto an empty schema-seeded DataFrame. Unit-tested equal to
    * [[gatherChunks]]; never used at scale (driver round-trip per chunk).
    */
  def gatherChunksFaithful(df: DataFrame, chunkSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val persisted = Caches.persist(df)                       // C1 ↔ :218
    val total = persisted.count()                            // A1 ↔ :205-206
    persisted.createOrReplaceTempView("preprocessed")        // C6 ↔ :216
    val emptySeed = spark.createDataFrame(                   // S7 ↔ :217
      java.util.Collections.emptyList[Row](),
      StructType(Seq(
        StructField("chunk_id", LongType, nullable = false),
        StructField("n_docs", LongType, nullable = false),
        StructField("ids", StringType),
        StructField("docs", StringType))))
    val out = (0L until total by chunkSize.toLong).zipWithIndex
      .foldLeft(emptySeed) { case (acc, (lo, chunkIdx)) =>
        val chunk = spark.sql(                               // P9 ↔ :226-230
          s"SELECT * FROM preprocessed WHERE row_num > $lo AND row_num <= ${lo + chunkSize} ORDER BY row_num")
        val rows = chunk.select("Incident_Number", "doc").collect() // S9 ↔ :234-235
        val ids = rows.map(_.getString(0)).mkString("|")
        val docs = rows.map(_.getString(1)).mkString("|")
        val one = Seq((chunkIdx.toLong, rows.length.toLong, ids, docs)) // S8 ↔ :238
          .toDF("chunk_id", "n_docs", "ids", "docs")
        acc.unionByName(one)                                 // U1 ↔ :240
      }
    persisted.unpersist()                                    // C2 ↔ :250-251
    out
  }

  /** The oracle-checked pipeline: base → scalable row_number → chunk →
    * docpreprocess (UD2, per row, BEFORE the gather so the heavy text work
    * runs map-side in the scan stage) → one-shuffle chunk gather.
    */
  def preprocessMonthly(spark: SparkSession, dir: String, monthBucket: String,
                        chunkSize: Int): DataFrame = {
    val numbered = withGlobalRowNum(base(spark, dir, monthBucket), "Incident_Number")
    val processed = numbered
      .withColumn("doc", concat_ws(" ", TextOps.preprocess(col("norm")))) // UD2 ↔ :241
      .drop("norm")
    gatherChunks(withChunkId(processed, chunkSize))
  }

  /** S3: month-partitioned parquet sink. The reference loops months and
    * writes each to its own path with per-row output files
    * (`repartition(df.count())`, `:245-249`); the native form is ONE write
    * with `partitionBy("month_year")` — dynamic partition pruning then
    * serves later month-bucket reads without re-scanning. Rows are
    * clustered by the business key within partitions so parquet row-group
    * min/max stats serve key-range probes inside each month too.
    */
  def writeMonthPartitioned(df: DataFrame, outPath: String): Unit =
    df.sortWithinPartitions("month_year", "Incident_Number")
      .write.mode("overwrite").partitionBy("month_year").parquet(outPath)

  /** All-months variant feeding the sink: flagship columns → federal filter
    * → normalize → non-null, keeping month_year for partitioning.
    */
  def preprocessAllMonths(spark: SparkSession, dir: String): DataFrame =
    SrData.flagship(spark, dir)
      .filter(!col("is_federal"))
      .select(col("Incident_Number"), col("month_year"), normed.as("norm"))
      .filter(col("norm").isNotNull)
      .withColumn("doc", concat_ws(" ", TextOps.preprocess(col("norm"))))
      .drop("norm")

  // ---- DuckDB oracle (generated from the same constants/helpers) ----

  def preprocessMonthlyOracle(monthBucket: String, chunkSize: Int): String = {
    val filtered = SrData.filteredOracle(monthBucket)
    val norm = Normalize.normalizeSql("trim(concat_ws(' ', \"Summary\", \"Description\"))")
    val doc = s"array_to_string(${TextOps.preprocessSql("norm")}, ' ')"
    s"""WITH filtered AS ($filtered),
       |base AS (
       |  SELECT "Incident_Number",
       |         nullif($norm, '') AS norm
       |  FROM filtered WHERE NOT is_federal
       |),
       |nn AS (SELECT * FROM base WHERE norm IS NOT NULL),
       |numbered AS (
       |  SELECT "Incident_Number", norm,
       |         row_number() OVER (ORDER BY "Incident_Number") AS row_num
       |  FROM nn
       |),
       |processed AS (
       |  SELECT "Incident_Number", row_num,
       |         CAST((row_num - 1) // $chunkSize AS BIGINT) AS chunk_id,
       |         $doc AS doc
       |  FROM numbered
       |)
       |SELECT chunk_id,
       |       count(*) AS n_docs,
       |       string_agg("Incident_Number", '|' ORDER BY row_num) AS ids,
       |       string_agg(doc, '|' ORDER BY row_num) AS docs
       |FROM processed
       |GROUP BY chunk_id""".stripMargin
  }

  /** O2 — the reference's commented-out `ORDER BY row_num LIMIT n`
    * pagination (`preprocess_and_store_parquets.py:219-230`: one query
    * per page, each re-sorting and re-limiting the numbered frame). The
    * Spark-first twin computes EVERY page in one plan: the global
    * numbering (same machinery as W1) makes page id and in-page position
    * pure per-row arithmetic — no per-chunk job, no re-sort, no LIMIT
    * funnel through a single task. Page semantics identical: pages are
    * ordered, disjoint, ≤ chunkSize, covering the frame.
    */
  def orderedChunkPages(spark: SparkSession, dir: String, chunkSize: Int): DataFrame = {
    val keys = graft.Tables.table(spark, dir, "orders").select(col("o_orderkey"))
    // both engines on integral division (Spark DIV ↔ DuckDB //), exact at
    // any row count — no double round-trip in the page arithmetic
    withGlobalRowNum(keys, "o_orderkey")
      .select(expr(s"(row_num - 1) DIV ${chunkSize.toLong}").as("chunk_id"),
        col("row_num"), col("o_orderkey"))
      .select(col("chunk_id"),
        (col("row_num") - col("chunk_id") * chunkSize).cast("bigint").as("pos"),
        col("o_orderkey"))
  }

  def orderedChunkPagesOracle(chunkSize: Int): String =
    s"""WITH numbered AS (
       |  SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders
       |)
       |SELECT CAST((rn - 1) // $chunkSize AS BIGINT) AS chunk_id,
       |  CAST(rn - ((rn - 1) // $chunkSize) * $chunkSize AS BIGINT) AS pos,
       |  o_orderkey
       |FROM numbered""".stripMargin

  // ---- query registry ----

  def queries: Seq[(String, Query)] = Seq(
    "q_preprocess_monthly" -> Query((s, dir) => preprocessMonthly(s, dir, "3-1997", 100),
      preprocessMonthlyOracle("3-1997", 100)),
    "q_order_limit_chunks" -> Query((s, dir) => orderedChunkPages(s, dir, 1000),
      orderedChunkPagesOracle(1000))
  )
}
