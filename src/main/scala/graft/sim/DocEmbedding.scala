package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.TextOps

/** Token → pretrained-word-vector document embedding — the operator the
  * reference's `MeanEmbeddings` import actually performs
  * (`preprocess_and_store_parquets.py:12`): preprocess the document into
  * tokens, look each token up in a pretrained word-vector table, and
  * mean-pool the hits into one document vector — the value that feeds the
  * 500-d `DenseVector` field the ES mapping declares
  * (`sql_to_es_etl.py:123`). [[Similarity.meanEmbedding]] (X7) mean-pools
  * vectors that already exist per row; THIS operator manufactures the
  * document vector from text + a vocabulary table — the missing step a
  * user porting reference pipeline 3 end-to-end hits first.
  *
  * Vocabulary: tokens map to vector rows by the house 48-bit md5 fold
  * modulo [[VocabSlots]] (the feature-hashing trick — every token,
  * in- or out-of-vocabulary, lands on a deterministic slot, which is what
  * makes the lookup oracle-checkable with zero egress; a deploy with a
  * real fastText/GloVe table swaps the slot column for the vocab word —
  * a data change, not different plumbing). Vectors come deterministically
  * from the `embeddings` fixture, quantized to floor(x·1000) longs per
  * the house integer-exactness discipline.
  *
  * Scale shape (the part that must survive 100 TB):
  *   - the word-vector table is VOCAB-sized, never corpus-sized — it
  *     BROADCASTS (a real 500k-word × 300-d float table is ~600 MB;
  *     quantized-long fixture slice here is KBs). The token stream never
  *     shuffles to meet it.
  *   - tokenize/slot-hash are per-row codegen over the scan;
  *   - the one exchange is the (doc_id, dim) aggregate, and scan-order
  *     doc locality means map-side partial aggregation collapses the
  *     token×dim stream to ≤ docs×dims rows per partition before it.
  */
object DocEmbedding {

  /** Vocabulary slot count. ≤ the embeddings fixture's row count at
    * EVERY scale factor (500 at sf0.001/sf0.01, 2000 at sf0.1), so
    * every slot has exactly one vector everywhere.
    */
  val VocabSlots = 500

  /** Deterministic token → slot: 48-bit md5 hex fold mod [[VocabSlots]]
    * (same idiom as [[graft.ops.CorpusOps]] bucket assignment).
    */
  def slotOf(token: Column): Column =
    conv(substring(md5(token), 1, 12), 16, 10).cast("long") % VocabSlots

  /** The pretrained table twin: (slot, q) — one quantized vector per
    * vocabulary slot, derived from the embeddings fixture.
    */
  def wordVectors(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantized(spark, dir)
      .filter(col("vec_id") < VocabSlots)
      .select(col("vec_id").as("slot"), col("q"))

  /** Per-document mean embedding in exact long form: (doc_id, dim,
    * sum_q, n_toks, mean_q). Integer sums per dimension are
    * order-independent under any partitioning; mean_q is one double
    * division over identical integers (the X7 gate discipline).
    * Documents whose preprocessed token list is empty have no vector —
    * absent from the output, as in the reference (no tokens, no mean).
    */
  def docEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(TextOps.preprocess(col("text"))).as("token"))
      .select(col("doc_id"), slotOf(col("token")).as("slot"))
    toks.join(broadcast(wordVectors(spark, dir)), "slot")
      .select(col("doc_id"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("v")).as("sum_q"), count(lit(1)).as("n_toks"))
      .select(col("doc_id"), col("dim").cast("long").as("dim"),
        col("sum_q"), col("n_toks"),
        (col("sum_q").cast("double") / col("n_toks")).as("mean_q"))
  }

  // ---- DuckDB oracle (generated from the same constants) ----

  def docEmbeddingOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextOps.preprocessSql("text")}) AS token FROM documents
       |), hashed AS (
       |  SELECT doc_id, md5(token) AS h FROM toks
       |), slots AS (
       |  SELECT doc_id, (${TextOps.md5HexFold12Sql("h")}) % $VocabSlots AS slot FROM hashed
       |), wv AS (
       |  SELECT vec_id AS slot,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT)) AS q
       |  FROM embeddings WHERE vec_id < $VocabSlots
       |), joined AS (
       |  SELECT doc_id, q FROM slots JOIN wv USING (slot)
       |), exploded AS (
       |  SELECT doc_id, i AS dim, q[i] AS v
       |  FROM joined, unnest(range(1, len(q) + 1)) AS t(i)
       |)
       |SELECT doc_id, CAST(dim - 1 AS BIGINT) AS dim, CAST(sum(v) AS BIGINT) AS sum_q,
       |  count(*) AS n_toks,
       |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_q
       |FROM exploded
       |GROUP BY doc_id, dim""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_doc_embedding" -> Query((s, dir) => docEmbedding(s, dir), docEmbeddingOracle)
  )
}
