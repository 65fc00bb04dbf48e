package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Sliding-window document chunking — the split that feeds a
  * fixed-context model or an embedding indexer: each document becomes
  * overlapping windows of `ChunkTokens` tokens advancing by
  * `Stride` (overlap = ChunkTokens − Stride), so no boundary
  * sentence is ever seen by the model only truncated. Distinct from
  * [[graft.ops.Packing]]'s concat-then-chunk (which packs MANY docs
  * into budget-sized sequences): here every chunk is intra-document
  * and carries (doc_id, chunk_id) lineage for retrieval joins.
  *
  * Shape at 100 TB: one map stage — split, windowed slice via
  * `transform(sequence(...))`, explode. No shuffle, no state; the
  * expansion factor is bounded by ~n/Stride chunks per doc. The DuckDB
  * oracle recomputes the same windows with its own list functions —
  * independent reimplementation, same closed-form chunk-count
  * arithmetic (integral everywhere, per the repo's DIV discipline).
  */
object Chunker {

  val ChunkTokens = 32
  val Stride = 24

  /** (doc_id, chunk_id, n_toks, chunk_text): whitespace tokens,
    * windows [i·S, i·S + C); chunk count = 1 for n ≤ C else
    * (n − C + S − 1) DIV S + 1 — the last window may be short, and a
    * tail fully covered by the previous window is never emitted.
    */
  def chunks(spark: SparkSession, dir: String): DataFrame =
    chunksOf(graft.ops.ScaleOps.widen(Tables.documents(spark, dir)))

  /** The chunking pipeline on any (doc_id, text) frame — the single
    * definition both the gate and the boundary specs drive.
    */
  def chunksOf(docs: DataFrame): DataFrame = {
    val c = ChunkTokens; val s = Stride
    docs
      .select(col("doc_id"),
        filter(split(coalesce(col("text"), lit("")), " "), t => t =!= "").as("toks"))
      .withColumn("nch",
        when(size(col("toks")) <= c, lit(1))
          .otherwise(expr(s"CAST((size(toks) - $c + ${s - 1}) DIV $s AS INT) + 1")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nch") - 1)).as("chunk_id"))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        slice(col("toks"), col("chunk_id") * s + 1, lit(c)).as("win"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("win")).as("n_toks"),
        array_join(col("win"), " ").as("chunk_text"))
  }

  def chunksOracle: String = {
    val c = ChunkTokens; val s = Stride
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, toks,
       |    unnest(range(CASE WHEN len(toks) <= $c THEN 1
       |                      ELSE (len(toks) - $c + ${s - 1}) // $s + 1 END)) AS chunk_id
       |  FROM t)
       |SELECT doc_id,
       |  CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(len(list_slice(toks, chunk_id * $s + 1, chunk_id * $s + $c)) AS INTEGER) AS n_toks,
       |  -- PINNED semantic: an empty/token-free chunk is '' (Spark
       |  -- concat_ws never yields NULL) — the COALESCE aligns DuckDB's
       |  -- NULL-on-empty array_to_string to that deliberate choice
       |  COALESCE(array_to_string(list_slice(toks, chunk_id * $s + 1, chunk_id * $s + $c), ' '), '') AS chunk_text
       |FROM e""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_chunk_overlap" -> Query((sp, dir) => chunks(sp, dir), chunksOracle)
  )
}
