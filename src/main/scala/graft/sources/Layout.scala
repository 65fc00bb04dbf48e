package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Data-layout control for scan pruning — the table-side half of the
  * predicate-pushdown story. Pushed filters (SURVEY §4) only skip I/O
  * when the FILES are organized so parquet footer min/max statistics are
  * selective: a randomly-laid-out table has every file spanning the whole
  * key domain, and a pushed range predicate still reads 100% of the data.
  *
  * [[writeRangeSorted]] is the fix (the reference writes month-bucketed
  * paths for the same reason, `preprocess_and_store_parquets.py:243-249`;
  * this generalizes to any orderable key):
  *
  *   - `repartitionByRange(n, key)` range-partitions by a sampled key
  *     histogram → files cover DISJOINT key ranges (ties of one key stay
  *     in one file);
  *   - `sortWithinPartitions(key)` orders rows inside each file → parquet
  *     row-group (and page-index) min/max are tight sub-ranges, so
  *     pruning works at row-group granularity too, and downstream
  *     merge/as-of readers see clustered keys.
  *
  * At 100 TB this is the difference between a point-lookup reading one
  * row group and reading the full table; the write costs one range
  * exchange (same price as any shuffle of the data).
  *
  * [[fileRanges]] is the audit: per-file (lo, hi, rows) of the layout
  * key, the evidence that ranges are disjoint and pruning can bite —
  * checked by `LayoutSpec`, the same proof-by-artifact pattern as the
  * plan dumps.
  */
object Layout {

  /** Write `df` as `numFiles` range-partitioned, internally-sorted
    * parquet files under `path`.
    */
  def writeRangeSorted(df: DataFrame, key: String, numFiles: Int, path: String): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  /** Per-file (file, lo, hi, rows) over the layout key — the pruning
    * audit. One scan + one aggregate keyed by file name.
    */
  def fileRanges(spark: SparkSession, path: String, key: String): DataFrame =
    spark.read.parquet(path)
      .select(input_file_name().as("file"), col(key))
      .groupBy(col("file"))
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"), count(lit(1)).as("rows"))

  // ---- Z-order (Morton) layout for multi-column pruning ----

  /** 16-bit × 16-bit Morton interleave: bit i of x lands at position 2i,
    * bit i of y at 2i+1, so sorting by z clusters rows that are close in
    * BOTH keys — the layout trick for tables probed by two independent
    * range predicates, where a single-key sort ([[writeRangeSorted]])
    * prunes one dimension and scans the other in full. Plain shift/mask
    * arithmetic (one shared term construction, Spark and SQL emitted
    * from the same loop); production keys wider than 16 bits first
    * quantize into 65536 rank buckets — same construction, coarser
    * cells. Per-row, codegen'd, shuffle-free.
    */
  def zOf(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).flatMap { i =>
      Seq(
        shiftrightunsigned(x.bitwiseAND(lit(0xFFFFL)), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)),
        shiftrightunsigned(y.bitwiseAND(lit(0xFFFFL)), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  def zOfSql(x: String, y: String): String =
    (0 until 16).flatMap { i =>
      Seq(s"((($x & 65535) >> $i) & 1) * ${1L << (2 * i)}",
          s"((($y & 65535) >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")

  /** Write `df` as `numFiles` files range-partitioned and sorted by the
    * Morton code of (xCol, yCol) — each file then covers a compact
    * rectangle-ish region of the key plane, so parquet min/max stats
    * prune on EITHER column.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    numFiles: Int, path: String): Unit =
    df.withColumn("__z", zOf(col(xCol), col(yCol)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Gate for the interleave arithmetic itself (the layout effect is
    * asserted in LayoutSpec): Morton codes over lineitem's
    * (l_partkey, l_suppkey).
    */
  def zOrderCodes(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        zOf(col("l_partkey"), col("l_suppkey")).as("z"))

  def zOrderOracle: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  CAST(${zOfSql("l_partkey", "l_suppkey")} AS BIGINT) AS z
       |FROM lineitem""".stripMargin

  // ---- deterministic output sharding + manifest ----

  /** Shard fan-out for training-data export. */
  val NumShards = 16

  /** Salt decorrelating the shard hash from the split/sample/mix hashes
    * (the [[graft.ops.CorpusOps]] salting discipline): a shard must be a
    * uniform slice of EVERY split, not aligned with one.
    */
  val ShardSalt = "#shard"

  private def fold12(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Deterministic shard id: md5-fold(doc_id ⧺ salt) mod [[NumShards]] —
    * key-hash, so the same doc lands in the same shard on every run,
    * cluster size, and partitioning, and appends never reshuffle
    * existing docs (the [[graft.ops.CorpusOps.stratifiedSplit]]
    * contract applied to output layout).
    */
  def shardOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    fold12(concat(key.cast("string"), lit(ShardSalt))) % NumShards

  /** (shard, n_docs, n_tokens, checksum) — the manifest a training-data
    * loader validates each shard against before a run: row and token
    * counts plus an order-independent content checksum (sum of per-doc
    * 48-bit key folds, widened to decimal so 10⁹-doc shards cannot wrap,
    * reduced mod 1e9+7). One scan, one hash aggregate by shard.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(
      graft.Tables.documents(spark, dir))
    docs.select(
        shardOf(col("doc_id")).as("shard"),
        size(graft.text.TextOps.tokenize(col("text"))).cast("long").as("n_tokens"),
        fold12(col("doc_id").cast("string")).as("idfold"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (sum(col("idfold").cast("decimal(38,0)")) % lit(1000000007L))
          .cast("long").as("checksum"))
  }

  def shardManifestOracle: String = {
    val fold = graft.text.TextOps.md5HexFold12Sql _
    val tk = graft.text.TextOps.tokenizeSql("text")
    s"""WITH keys AS (
       |  SELECT doc_id, text,
       |    md5(CAST(doc_id AS VARCHAR)) AS d,
       |    md5(CAST(doc_id AS VARCHAR) || '$ShardSalt') AS ds
       |  FROM documents
       |), sharded AS (
       |  SELECT (${fold("ds")}) % $NumShards AS shard,
       |    CAST(len($tk) AS BIGINT) AS n_tokens,
       |    ${fold("d")} AS idfold
       |  FROM keys
       |)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(CAST(sum(idfold) AS HUGEINT) % 1000000007 AS BIGINT) AS checksum
       |FROM sharded GROUP BY shard""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_shard_manifest" -> Query((s, dir) => shardManifest(s, dir), shardManifestOracle),
    "q_zorder_codes" -> Query((s, dir) => zOrderCodes(s, dir), zOrderOracle)
  )
}
