package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.TextOps

/** Sequence packing — the training-batch assembly step after hygiene:
  * concatenate the corpus in a deterministic order and cut it into
  * fixed-token-budget sequences (GPT-style concat-then-chunk). A document
  * belongs to the sequence its FIRST token falls in: `seq_id =
  * cum_before div Budget`, where `cum_before` is the exact global running
  * token count before the document. (Beyond the reference's own surface;
  * generalizes the reference's global row-number + fixed-size chunk loop,
  * `preprocess_and_store_parquets.py:212-230`, from row counts to token
  * budgets.)
  *
  * A global running sum is the classic single-task window trap
  * (`sum().over(Window.orderBy(...))` funnels the corpus through ONE
  * task — the same W1 pathology `Preprocess.withRowNumFaithful`
  * documents). Scale shape: [[Prefix]]'s exact ordered prefix over
  * [[Prefix.rangeShards]] — range-partition by the order key, persist
  * the partition id on the narrow (doc_id, n_tokens) table, prefix-sum
  * the per-partition token totals, add partition-local running sums.
  * Nothing corpus-sized crosses a single task; the result is bit-equal
  * to the naive global window (the oracle computes exactly that).
  */
object Packing {

  /** Tokens per packed training sequence (fixture docs run 10-99 tokens,
    * so ~3-8 docs pack per sequence).
    */
  val Budget = 256L

  /** (doc_id, n_tokens, cum_before, seq_id), deterministic under any
    * cluster size / partition count.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(TextOps.tokenize(col("text"))).cast("long").as("n_tokens"))
    packOn(docs, Seq("doc_id"))
  }

  /** Width-agnostic core: exact global running sum of `n_tokens` in
    * `orderKeys` order (keys must be jointly unique), via [[Prefix]].
    * Input keeps all its columns.
    */
  def packOn(df: DataFrame, orderKeys: Seq[String]): DataFrame =
    Prefix.before(Prefix.rangeShards(df, orderKeys), Nil, "pid", orderKeys, col("n_tokens"))
      .withColumnRenamed("before", "cum_before")
      .withColumn("seq_id", expr(s"cum_before div $Budget"))
      .drop("pid")

  /** The composed finish line of the training-data pipeline: pack the
    * MIXED corpus ([[CorpusOps.mixCorpus]] epochs) — upsampled copies are
    * ordinary rows by construction, so packing composes with the mixture
    * by widening the order key to (doc_id, epoch). One lazy plan: the
    * mixture's per-row explode, a (doc_id)-keyed join attaching token
    * counts (no text moves), then the same exact prefix sum.
    */
  def mixPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val toks = docs.select(col("doc_id"),
      size(TextOps.tokenize(col("text"))).cast("long").as("n_tokens"))
    val mixed = CorpusOps.mixCorpus(docs).select(col("doc_id"), col("epoch"))
    packOn(mixed.join(toks, "doc_id"), Seq("doc_id", "epoch"))
  }

  def mixPackOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH mixed AS (${CorpusOps.mixOracle}
       |), toks AS (
       |  SELECT doc_id, CAST(len($tk) AS BIGINT) AS n_tokens FROM documents
       |)
       |SELECT m.doc_id, m.epoch, t.n_tokens,
       |  CAST(coalesce(sum(t.n_tokens) OVER (ORDER BY m.doc_id, m.epoch
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |  CAST(coalesce(sum(t.n_tokens) OVER (ORDER BY m.doc_id, m.epoch
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $Budget AS BIGINT) AS seq_id
       |FROM mixed m JOIN toks t USING (doc_id)""".stripMargin
  }

  /** DuckDB twin — the semantic contract is the NAIVE global running sum
    * (single-node, so the window is fine there); the Spark side must
    * reproduce it exactly from partition-local arithmetic. DuckDB widens
    * `sum(BIGINT) OVER` to HUGEINT (and `//` keeps the width), so both
    * window expressions CAST back to BIGINT to keep the gated schema
    * int64 on both engines.
    */
  def packOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(len($tk) AS BIGINT) AS n_tokens FROM documents
       |)
       |SELECT doc_id, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $Budget AS BIGINT) AS seq_id
       |FROM toks""".stripMargin
  }

  /** Overflow-splitting refinement of [[packSequences]]: a document whose
    * token interval [cum_before, cum_before + n) crosses sequence
    * boundaries contributes its overlap to EVERY covered sequence —
    * `(doc_id, seq_id, n_tokens_in_seq)` is the exact membership table a
    * trainer's sequence assembler materializes (GPT-style packing cuts
    * mid-document; [[packSequences]]' whole-doc `seq_id` is the
    * first-token simplification). Per-row explode bounded by
    * ceil(n/Budget)+1 sequences per doc — linear in total tokens, no new
    * shuffle beyond the prefix sum it builds on.
    *
    * Invariants (spec-pinned): per-doc splits sum to n_tokens; every
    * interior sequence holds exactly [[Budget]] tokens.
    */
  def packOverflow(spark: SparkSession, dir: String): DataFrame = {
    val b = lit(Budget)
    packSequences(spark, dir)
      .filter(col("n_tokens") > 0)
      .withColumn("last_seq", expr(s"(cum_before + n_tokens - 1) div $Budget"))
      .withColumn("seq", explode(sequence(col("seq_id"), col("last_seq"))))
      .select(col("doc_id"), col("seq").as("seq_id"),
        (least((col("seq") + 1) * b, col("cum_before") + col("n_tokens"))
          - greatest(col("seq") * b, col("cum_before"))).as("n_tokens_in_seq"))
  }

  def packOverflowOracle: String =
    s"""WITH packed AS ($packOracle)
       |SELECT doc_id, s AS seq_id,
       |  CAST(least((s + 1) * $Budget, cum_before + n_tokens)
       |     - greatest(s * $Budget, cum_before) AS BIGINT) AS n_tokens_in_seq
       |FROM packed, unnest(range(seq_id, (cum_before + n_tokens - 1) // $Budget + 1)) AS t(s)
       |WHERE n_tokens > 0""".stripMargin

  /** Salt for the shuffle order hash — decorrelated from the split /
    * sample / mix / shard hashes (house salting discipline).
    */
  val ShuffleSalt = "#shuffle"

  /** Deterministic corpus SHUFFLE + pack: training runs pack in random
    * document order (id order correlates with crawl time/source and
    * would seed every batch with neighboring docs), but the shuffle must
    * be REPRODUCIBLE — so the order key is a salted md5-fold of doc_id
    * (the [[graft.ops.CorpusOps.stratifiedSplit]] key-hash discipline
    * applied to ordering), not `rand()`. Same exact prefix sum,
    * order keys (h, doc_id) — jointly unique, so the packing is
    * bit-reproducible on any cluster while documents land in
    * hash-shuffled sequence order.
    */
  def shuffledPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(ShuffleSalt))), 1, 12), 16, 10)
          .cast("long").as("h"),
        size(TextOps.tokenize(col("text"))).cast("long").as("n_tokens"))
    packOn(docs, Seq("h", "doc_id"))
  }

  def shuffledPackOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    val fold = graft.text.TextOps.md5HexFold12Sql("hs")
    s"""WITH toks AS (
       |  SELECT doc_id, $fold AS h, CAST(len($tk) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, text,
       |          md5(CAST(doc_id AS VARCHAR) || '$ShuffleSalt') AS hs
       |        FROM documents)
       |)
       |SELECT doc_id, h, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $Budget AS BIGINT) AS seq_id
       |FROM toks""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_pack_sequences" -> Query((s, dir) => packSequences(s, dir), packOracle),
    "q_pack_overflow" -> Query((s, dir) => packOverflow(s, dir), packOverflowOracle),
    "q_pack_shuffled" -> Query((s, dir) => shuffledPack(s, dir), shuffledPackOracle),
    "q_mix_pack" -> Query((s, dir) => mixPack(s, dir), mixPackOracle)
  )
}
