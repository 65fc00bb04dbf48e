package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** BPE merge-candidate statistics — the first iteration of byte-pair-
  * encoding tokenizer training (Sennrich et al. 2016) at corpus scale:
  * count adjacent character pairs across the corpus and surface the
  * top merge candidates. (Beyond the reference's own surface; the
  * tokenizer-training companion to [[Analysis.bpeIshTokenCount]] in the
  * LLM-data-pipeline addendum.)
  *
  * 100 TB shape — the classic BPE scale trick, re-expressed Spark-first:
  * pair counting never touches the corpus directly. The corpus collapses
  * FIRST to the (word, frequency) vocabulary table (one map-side-partial
  * aggregate — by Heaps' law the vocab is orders of magnitude smaller
  * than the corpus), and pair extraction explodes the VOCAB, weighting
  * each in-word pair by the word's corpus frequency. Every subsequent
  * BPE iteration would rerun over the same vocab-sized table, which is
  * why real trainers iterate in minutes over terabyte corpora. The
  * top-k lands via orderBy+limit = `TakeOrderedAndProject` (per-partition
  * heaps, no global sort materialization).
  *
  * Pair multiplicity within a word is preserved ("aaa" contributes
  * "a a" twice per occurrence), matching the published algorithm.
  * Tie-break: (count DESC, pair ASC) — a total order, so the top-k set
  * is deterministic on both engines.
  */
object Bpe {

  /** Merge candidates reported. */
  val TopK = 20

  /** Every adjacent character pair with its corpus-frequency-weighted
    * count — the unlimited table behind both [[topPairs]] (the gated
    * TopK report) and [[mergeTable]] (the [[UseMerges]]-deep encode
    * model).
    */
  private def pairCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val vocab = docs
      .select(explode(TextOps.tokenize(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
    val ch = split(col("w"), "")
    val m = greatest(size(ch) - 1, lit(0))
    val pairs = zip_with(slice(ch, lit(1), m), slice(ch, lit(2), m),
      (a, b) => concat(a, lit(" "), b))
    vocab
      .select(explode(pairs).as("pair"), col("wcnt"))
      .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
  }

  /** (pair, cnt) — the TopK most frequent adjacent character pairs,
    * corpus-frequency-weighted.
    */
  def topPairs(spark: SparkSession, dir: String): DataFrame =
    pairCounts(spark, dir)
      .orderBy(col("cnt").desc, col("pair"))
      .limit(TopK)

  /** DuckDB twin: same vocab-first aggregation, same weighting, same
    * total-order top-k.
    */
  def topPairsOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH words AS (
       |  SELECT unnest($tk) AS w FROM documents
       |), vocab AS (
       |  SELECT w, count(*) AS wcnt FROM words GROUP BY w
       |), pairs AS (
       |  SELECT unnest(list_transform(
       |      range(1, greatest(len(string_split(w, '')), 1)),
       |      i -> string_split(w, '')[i] || ' ' || string_split(w, '')[i+1]))
       |    AS pair, wcnt
       |  FROM vocab
       |)
       |SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
       |FROM pairs GROUP BY pair
       |ORDER BY cnt DESC, pair LIMIT $TopK""".stripMargin
  }

  // ---- BPE ENCODE: apply a merge table to the vocabulary ----

  /** Merges applied by [[encode]] — the top of the pair-count table.
    * 64 deep: large enough that the nested one-expression-per-rule form
    * this replaced would already be hurting (analyzer cost, codegen
    * method size), small enough that the oracle's per-rank SQL blocks
    * stay runnable. The Spark side's cost no longer depends on this
    * number — [[graft.plans.BpeMergeAll]] holds the whole table in one
    * constant-depth expression, so a real ~50 k-merge vocabulary is a
    * bigger reference object, not a deeper plan.
    */
  val UseMerges = 64

  /** Deterministic merge list: the [[UseMerges]] most frequent pairs in
    * (count DESC, pair ASC) rank order — collected like every model in
    * this repo (merge tables are vocab²-bounded and tiny in practice;
    * a real tokenizer ships ~50k merges, still model-sized).
    */
  def mergeTable(spark: SparkSession, dir: String): Seq[String] = {
    // tie-break equal counts by UTF-8 BYTES, not Scala's UTF-16 code-unit
    // compare: the oracle's ORDER BY pair is a binary (UTF-8) collation,
    // and the two orders differ for supplementary-plane characters
    val utf8 = Ordering.fromLessThan[String] { (a, b) =>
      val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
    }
    pairCounts(spark, dir)
      .orderBy(col("cnt").desc, col("pair")).limit(UseMerges)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (p, c) => (-c, p) }(Ordering.Tuple2(Ordering.Long, utf8))
      .take(UseMerges).map(_._1).toSeq
  }

  /** Tokenize the VOCABULARY with the merge table — the encode half of
    * BPE (the [[topPairs]] statistics are the train half): split each
    * word to characters, then apply each merge in rank order as ONE
    * greedy left-to-right pass, the whole table inside ONE
    * constant-depth [[graft.plans.BpeMergeAll]] expression (a rule's
    * single scan reaches that rule's fixpoint, since a merged token can
    * never re-form its own pair). The previous form — one nested
    * [[graft.plans.PhraseMerge]] PER rule — made plan depth linear in
    * the table and died by analyzer cost/codegen method limits at real
    * table sizes; `HygieneBpeSpec` pins the two forms equivalent.
    *
    * Declared deviation from priority-queue BPE: merges apply strictly
    * in rank order, one pass each (the published-spec discipline —
    * UD2's lemmatizer, X72's stemmer). For merge tables learned by BPE
    * training the two orders agree; for adversarial tables they can
    * differ, and the rank-order rule is the contract both engines
    * implement.
    *
    * 100 TB shape — same as [[topPairs]]: encoding touches the VOCAB,
    * never the corpus; the corpus joins the encoded vocab by word when
    * it needs true token counts. Output: (w, wcnt, n_tok, toks).
    */
  def encode(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val vocab = docs
      .select(explode(TextOps.tokenize(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
    val encoded = applyMerges(col("w"), mergeTable(spark, dir))
    vocab.select(col("w"), col("wcnt"),
      size(encoded).cast("long").as("n_tok"),
      concat_ws(" ", encoded).as("toks"))
  }

  /** Char-split `w`, then the full rank-ordered merge table in one
    * expression.
    */
  def applyMerges(w: org.apache.spark.sql.Column,
      merges: Seq[String]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.BpeMergeAll(
        org.apache.spark.sql.GraftColumnShim.expression(split(w, "")),
        merges, sep = ""))

  /** DuckDB twin: the merge table CTE (same rank order), then one
    * run-parity greedy-merge block per rank — the same relational
    * formulation `graft.text.Phrases.mergeCte` uses, instantiated per
    * merge with an empty joiner.
    */
  def encodeOracle: String =
    s"""WITH $encodeCtes,
       |$mergeBlocksSql
       |SELECT v.w, v.wcnt, e.n_tok, e.toks FROM vocab v JOIN (
       |  SELECT w, count(*) AS n_tok, string_agg(tok, ' ' ORDER BY pos) AS toks
       |  FROM m$UseMerges GROUP BY w
       |) e ON e.w = v.w""".stripMargin

  /** The per-rank greedy-merge CTE chain — chars → m1 → … → m_UseMerges. */
  private def mergeBlocksSql: String = {
    def block(i: Int, in: String, out: String): String =
      s"""${out}_m AS (
         |  SELECT w, pos, tok, lead(tok) OVER win AS nxt,
         |    CASE WHEN (tok || ' ' || lead(tok) OVER win)
         |         IN (SELECT pair FROM merges WHERE rnk = $i) THEN 1 ELSE 0 END AS mm
         |  FROM $in WINDOW win AS (PARTITION BY w ORDER BY pos)
         |), ${out}_isl AS (
         |  SELECT *, SUM(CASE WHEN mm = 1 THEN 0 ELSE 1 END)
         |    OVER (PARTITION BY w ORDER BY pos) AS island FROM ${out}_m
         |), ${out}_st AS (
         |  SELECT *, CASE WHEN mm = 1 AND (ROW_NUMBER()
         |      OVER (PARTITION BY w, island, mm ORDER BY pos) - 1) % 2 = 0
         |    THEN 1 ELSE 0 END AS strt FROM ${out}_isl
         |), ${out}_em AS (
         |  SELECT w, pos, CASE WHEN strt = 1 THEN tok || nxt ELSE tok END AS tok,
         |    COALESCE(LAG(strt) OVER (PARTITION BY w ORDER BY pos), 0) AS consumed
         |  FROM ${out}_st
         |), $out AS (
         |  SELECT w, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos, tok
         |  FROM ${out}_em WHERE consumed = 0
         |)""".stripMargin
    (1 to UseMerges)
      .map(i => block(i, if (i == 1) "chars" else s"m${i - 1}", s"m$i")).mkString(",\n")
  }

  /** Per-LANGUAGE tokenizer fertility (X183) — THE multilingual
    * tokenizer-audit number: BPE tokens emitted per word, by language
    * (a tokenizer trained on a head language inflates the token bill
    * of every tail language; recipes compare exactly this table before
    * committing a vocab). Words join the vocab-level encoding of
    * [[encode]] (the corpus never re-encodes — the vocab-sized
    * (w, n_tok) table broadcasts), fertility in integer basis points:
    * (lang, words, bpe_toks, fertility_bp).
    */
  def fertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val lw = docs
      .select(col("lang"), explode(TextOps.tokenize(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("lwcnt"))
    val enc = encode(spark, dir).select(col("w"), col("n_tok"))
    lw.join(broadcast(enc), Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("lwcnt")).as("words"),
        sum(col("lwcnt") * col("n_tok")).as("bpe_toks"))
      .select(col("lang"), col("words"), col("bpe_toks"),
        expr("(10000 * bpe_toks) DIV words").as("fertility_bp"))
  }

  def fertilityOracle: String =
    s"""WITH $encodeCtes,
       |$mergeBlocksSql,
       |enc AS (
       |  SELECT w, count(*) AS n_tok FROM m$UseMerges GROUP BY w),
       |lw AS (
       |  SELECT lang, unnest(${TextOps.tokenizeSql("text")}) AS w FROM documents),
       |lwc AS (
       |  SELECT lang, w, count(*) AS lwcnt FROM lw GROUP BY lang, w)
       |SELECT lang,
       |  CAST(SUM(lwcnt) AS BIGINT) AS words,
       |  CAST(SUM(lwcnt * n_tok) AS BIGINT) AS bpe_toks,
       |  CAST((10000 * SUM(lwcnt * n_tok)) // SUM(lwcnt) AS BIGINT) AS fertility_bp
       |FROM lwc JOIN enc USING (w) GROUP BY lang""".stripMargin

  /** The shared oracle prelude: corpus words → vocab → merge table →
    * char-split — [[encodeOracle]] and the X183 fertility oracle both
    * append the per-rank merge blocks to it.
    */
  private def encodeCtes: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""words AS (
       |  SELECT unnest($tk) AS w FROM documents
       |), vocab AS (
       |  SELECT w, count(*) AS wcnt FROM words GROUP BY w
       |), vpairs AS (
       |  SELECT unnest(list_transform(
       |      range(1, greatest(len(string_split(w, '')), 1)),
       |      i -> string_split(w, '')[i] || ' ' || string_split(w, '')[i+1]))
       |    AS pair, wcnt
       |  FROM vocab
       |), pcnt AS (
       |  SELECT pair, sum(wcnt) AS cnt FROM vpairs GROUP BY pair
       |), merges AS (
       |  SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
       |  FROM pcnt QUALIFY rnk <= $UseMerges
       |), chars AS (
       |  SELECT w, i - 1 AS pos, string_split(w, '')[i] AS tok
       |  FROM vocab, unnest(range(1, len(string_split(w, '')) + 1)) AS u(i)
       |)""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_bpe_pairs" -> Query((s, dir) => topPairs(s, dir), topPairsOracle),
    "q_bpe_encode" -> Query((s, dir) => encode(s, dir), encodeOracle),
    "q_bpe_fertility" -> Query((s, dir) => fertility(s, dir), fertilityOracle)
  )
}
