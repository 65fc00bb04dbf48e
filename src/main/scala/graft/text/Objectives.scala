package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Training-OBJECTIVE transforms — the last hop before tokenization in
  * a real pretraining pipeline, where documents become (input, target)
  * pairs:
  *
  *  - [[spanCorrupt]]: T5-style span corruption — mask short spans,
  *    replace each with an in-order sentinel `<extra_id_k>`, emit the
  *    masked content as the target (sentinel-prefixed, closed by the
  *    final sentinel);
  *  - [[fim]]: fill-in-the-middle (PSM order) — the code-model
  *    objective: split at two points, emit
  *    `<PRE> prefix <SUF> suffix <MID> middle`.
  *
  * "Random" is deterministic and engine-mirrorable: every choice is a
  * 48-bit md5 fold of (doc_id, position) — the house hash — so the
  * same corpus yields the same samples on any cluster size, any run
  * (reproducible training data is a FEATURE: ablations re-run the
  * exact same stream).
  *
  * Span placement is BLOCK-LOCAL: one span per complete
  * [[SpanBlock]]-token block, offset and length hashed per block.
  * Block locality is what makes the operator embarrassingly parallel
  * AND exactly mirrorable — a greedy global span walk is a sequential
  * fold; blocks never overlap by construction (offset ≤ 4, length ≤ 3,
  * block 13) and land the corruption rate at T5's ~15% (E[L]/13 ≈
  * 15.4%). Sentinels number consecutively because only the LAST block
  * can be too short to host a span. Everything runs in the per-row
  * array world: map-only, no shuffle, no UDF.
  */
object Objectives {

  val SpanBlock = 13
  /** A block hosts a span only with this many tokens (offset ≤ 4 +
    * max length 3 must fit).
    */
  val MinBlockTokens = 7

  /** The 48-bit md5 fold of (doc_id, salt, i) — integer in [0, 2^48). */
  private def fold(salt: String, i: Column): Column =
    conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt),
      i.cast("string"))), 1, 12), 16, 10).cast("long")

  private def foldSql(salt: String, i: String): String =
    "(" + graft.text.TextOps.md5HexFold12Sql(
      s"md5(CAST(doc_id AS VARCHAR) || '$salt' || CAST($i AS VARCHAR))") + ")"

  /** (doc_id, input, target, n_spans) — documents with no complete
    * block (fewer than [[MinBlockTokens]] tokens) pass through with
    * n_spans = 0 and target = the closing sentinel only.
    */
  def spanCorrupt(docs: DataFrame): DataFrame = {
    val b = SpanBlock
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      // per complete-enough block: (start, o, l, k) — k = block index
      .withColumn("spans", expr(
        s"""filter(transform(sequence(0, CAST(ceil(n / $b.0) AS INT) - 1), bi ->
           |  named_struct(
           |    'start', bi * $b,
           |    'len', least(n - bi * $b, $b),
           |    'o', ${foldCol("#sc", "bi")} % 5,
           |    'l', 1 + (${foldCol("#sc", "bi")} DIV 5) % 3,
           |    'k', bi)),
           |  s -> s.len >= $MinBlockTokens)""".stripMargin))
      .select(col("doc_id"),
        expr(
          s"""trim(concat(
             |  array_join(flatten(transform(spans, s -> concat(
             |    slice(toks, s.start + 1, s.o),
             |    array(concat('<extra_id_', s.k, '>')),
             |    slice(toks, s.start + s.o + s.l + 1, s.len - s.o - s.l)))), ' '),
             |  ' ',
             |  array_join(slice(toks, size(spans) * $b + 1,
             |    greatest(0, n - size(spans) * $b)), ' ')))""".stripMargin).as("input"),
        expr(
          s"""concat(
             |  array_join(flatten(transform(spans, s -> concat(
             |    array(concat('<extra_id_', s.k, '>')),
             |    slice(toks, s.start + s.o + 1, s.l)))), ' '),
             |  IF(size(spans) > 0, ' ', ''),
             |  concat('<extra_id_', size(spans), '>'))""".stripMargin).as("target"),
        size(col("spans")).cast("long").as("n_spans"))
  }

  /** Spark-SQL-side fold (string-built — runs inside expr). */
  private def foldCol(salt: String, i: String): String =
    s"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '$salt', " +
      s"CAST($i AS STRING))), 1, 12), 16, 10) AS BIGINT)"

  /** (doc_id, psm, p1, p2): PSM-order fill-in-the-middle. Documents
    * with fewer than 3 tokens carry no sample and are absent.
    */
  def fim(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
      .withColumn("p1", (fold("#fim1", lit(1)) % (col("n") - 2) + 1).cast("int"))
      .withColumn("p2",
        (col("p1") + fold("#fim2", lit(2)) % (col("n") - col("p1"))).cast("int") + 1)
      .select(col("doc_id"),
        concat(lit("<PRE> "),
          array_join(expr("slice(toks, 1, p1)"), " "),
          lit(" <SUF> "),
          array_join(expr("slice(toks, p2 + 1, n - p2)"), " "),
          lit(" <MID> "),
          array_join(expr("slice(toks, p1 + 1, p2 - p1)"), " ")).as("psm"),
        col("p1").cast("long").as("p1"), col("p2").cast("long").as("p2"))

  // ---- DuckDB mirrors ----

  def spanCorruptOracle: String = {
    val b = SpanBlock
    val f = foldSql("#sc", "bi")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, toks, n,
       |    list_filter(list_transform(range(0, CAST(ceil(n / $b.0) AS INTEGER)), bi ->
       |      struct_pack(start := bi * $b,
       |        l_en := least(n - bi * $b, $b),
       |        o := $f % 5,
       |        l := 1 + ($f // 5) % 3,
       |        k := bi)),
       |      s -> s.l_en >= $MinBlockTokens) AS spans
       |  FROM d)
       |SELECT doc_id,
       |  trim(COALESCE(array_to_string(flatten(list_transform(spans, s ->
       |      list_concat(list_concat(
       |        toks[s.start + 1 : s.start + s.o],
       |        ['<extra_id_' || s.k || '>']),
       |        toks[s.start + s.o + s.l + 1 : s.start + s.l_en]))), ' '), '')
       |    || ' ' ||
       |    COALESCE(array_to_string(toks[len(spans) * $b + 1 : n], ' '), '')) AS input,
       |  COALESCE(array_to_string(flatten(list_transform(spans, s ->
       |      list_concat(['<extra_id_' || s.k || '>'],
       |        toks[s.start + s.o + 1 : s.start + s.o + s.l]))), ' '), '')
       |    || CASE WHEN len(spans) > 0 THEN ' ' ELSE '' END
       |    || '<extra_id_' || len(spans) || '>' AS target,
       |  CAST(len(spans) AS BIGINT) AS n_spans
       |FROM sp""".stripMargin
  }

  def fimOracle: String = {
    val f1 = foldSql("#fim1", "1")
    val f2 = foldSql("#fim2", "2")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |cut AS (
       |  SELECT doc_id, toks, n,
       |    CAST($f1 % (n - 2) + 1 AS INTEGER) AS p1
       |  FROM d WHERE n >= 3),
       |cut2 AS (
       |  SELECT doc_id, toks, n, p1,
       |    CAST(p1 + $f2 % (n - p1) AS INTEGER) + 1 AS p2
       |  FROM cut)
       |SELECT doc_id,
       |  '<PRE> ' || COALESCE(array_to_string(toks[1 : p1], ' '), '')
       |    || ' <SUF> ' || COALESCE(array_to_string(toks[p2 + 1 : n], ' '), '')
       |    || ' <MID> ' || COALESCE(array_to_string(toks[p1 + 1 : p2], ' '), '') AS psm,
       |  CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2
       |FROM cut2""".stripMargin
  }

  private def widened(s: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"))

  def queries: Seq[(String, Query)] = Seq(
    "q_span_corruption" -> Query((s, dir) => spanCorrupt(widened(s, dir)), spanCorruptOracle),
    "q_fim" -> Query((s, dir) => fim(widened(s, dir)), fimOracle)
  )
}
