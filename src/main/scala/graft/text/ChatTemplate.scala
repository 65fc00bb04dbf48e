package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Chat-template RENDERING with loss-mask spans — the last hop before
  * tokenizing supervised fine-tuning data: a (conv_id, turn_idx, role,
  * content) message table becomes one training string per conversation
  * plus the character spans the loss is computed over (assistant
  * content only — the instruction-tuning masking rule every SFT recipe
  * applies; user/system tokens are context, not targets).
  *
  * Template (fixed, ASCII): each turn renders as
  * `<|role|>\n` + content + `<|end|>\n`, concatenated in turn order.
  * [[lossSpans]] emits per assistant turn the 0-based [start, end)
  * character span of its CONTENT inside the rendered string, so
  * `substring(rendered, start, end)` == content — the round-trip the
  * spec pins. Span arithmetic is exact integer: start = Σ lengths of
  * all prior turn blocks + the turn's own header length.
  *
  * Scale shape: rendering is one conversation-keyed aggregate (sorted
  * collect of (turn_idx, block) structs — the house order-recovery
  * idiom); spans are one conversation-keyed running-sum window. Both
  * key on conv_id — never a global window — so conversations spread
  * across the cluster and a 100 TB chat corpus partitions cleanly.
  *
  * Reference scope: no chat surface in the reference; north-star
  * LLM-pipeline machinery (SURVEY.md §2.12 X188).
  */
object ChatTemplate {

  val End = "<|end|>\n"

  def header(role: Column): Column = concat(lit("<|"), role, lit("|>\n"))

  /** One turn's full rendered block. */
  def block(role: Column, content: Column): Column =
    concat(header(role), content, lit(End))

  /** (conv_id, n_turns, rendered): the training string per conversation. */
  def render(messages: DataFrame): DataFrame =
    messages
      .select(col("conv_id"), col("turn_idx"),
        block(col("role"), col("content")).as("blk"))
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        array_join(transform(
          sort_array(collect_list(struct(col("turn_idx"), col("blk")))),
          x => x.getField("blk")), "").as("rendered"))

  /** (conv_id, turn_idx, start, end): 0-based, end-exclusive character
    * span of each ASSISTANT turn's content inside [[render]]'s string.
    * Conversations without assistant turns contribute no rows.
    */
  def lossSpans(messages: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    messages
      .select(col("conv_id"), col("turn_idx"), col("role"), col("content"),
        length(block(col("role"), col("content"))).cast("long").as("blk_len"),
        length(header(col("role"))).cast("long").as("hdr_len"))
      .withColumn("prior", coalesce(
        sum(col("blk_len")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        (col("prior") + col("hdr_len")).as("start"),
        (col("prior") + col("hdr_len") + length(col("content"))).as("end"))
  }

  // ---- deterministic plant over the documents fixture ----------------

  /** Message plant: doc_id ≡ 0 (mod 3) conversations open with a system
    * turn; then 2 + doc_id % 4 alternating user/assistant turns whose
    * content varies by (doc_id, turn) so spans differ across rows.
    */
  def plantMessages(docs: DataFrame): DataFrame = {
    val n = (lit(2) + col("doc_id") % 4).cast("int")
    val sys = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("conv_id"), lit(0).as("turn_idx"),
        lit("system").as("role"),
        concat(lit("You are bot "), col("doc_id").cast("string"), lit("."))
          .as("content"))
    val turns = docs
      .select(col("doc_id"), posexplode(sequence(lit(1), n)).as(Seq("p", "j")))
      .select(col("doc_id").as("conv_id"), col("j").as("turn_idx"),
        when(col("j") % 2 === 1, lit("user")).otherwise(lit("assistant")).as("role"),
        concat(
          when(col("j") % 2 === 1, lit("ask ")).otherwise(lit("answer ")),
          col("doc_id").cast("string"), lit(" item "), col("j").cast("string"))
          .as("content"))
    sys.unionByName(turns)
  }

  private def plantSql: String =
    s"""msgs AS (
       |  SELECT doc_id AS conv_id, 0 AS turn_idx, 'system' AS role,
       |    'You are bot ' || doc_id || '.' AS content
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id, j, CASE WHEN j % 2 = 1 THEN 'user' ELSE 'assistant' END,
       |    (CASE WHEN j % 2 = 1 THEN 'ask ' ELSE 'answer ' END) ||
       |      doc_id || ' item ' || j
       |  FROM documents, unnest(range(1, 2 + doc_id % 4 + 1)) AS t(j)),
       |blk AS (
       |  SELECT conv_id, turn_idx, role, content,
       |    '<|' || role || '|>' || chr(10) || content || '<|end|>' || chr(10) AS b
       |  FROM msgs)""".stripMargin

  def renderOracle: String =
    s"""WITH ${plantSql}
       |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       |  string_agg(b, '' ORDER BY turn_idx) AS rendered
       |FROM blk GROUP BY conv_id""".stripMargin

  /** `prior` must be computed over ALL turns BEFORE the assistant
    * filter — SQL evaluates WHERE before window functions, so the
    * running sum lives in its own CTE.
    */
  def lossSpansOracle: String =
    s"""WITH ${plantSql},
       |pos AS (
       |  SELECT conv_id, turn_idx, role, content,
       |    coalesce(sum(length(b)) OVER (PARTITION BY conv_id
       |      ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS prior
       |  FROM blk)
       |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
       |  CAST(prior + length('<|' || role || '|>') + 1 AS BIGINT) AS start,
       |  CAST(prior + length('<|' || role || '|>') + 1 + length(content) AS BIGINT)
       |    AS "end"
       |FROM pos WHERE role = 'assistant'""".stripMargin

  private def planted(s: SparkSession, dir: String): DataFrame =
    plantMessages(graft.ops.ScaleOps.widen(Tables.documents(s, dir))
      .select(col("doc_id")))

  def queries: Seq[(String, Query)] = Seq(
    "q_chat_render" -> Query((s, dir) => render(planted(s, dir)), renderOracle),
    "q_chat_loss_spans" -> Query((s, dir) => lossSpans(planted(s, dir)), lossSpansOracle)
  )
}
