package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Phrase (collocation) building — the `build_bi` / `build_tri` capability
  * the reference's `DocPreProcess(..., build_bi=False, build_tri=False)`
  * signature declares (`preprocess_and_store_parquets.py:153`): detect
  * token pairs that co-occur far more often than chance, and rewrite the
  * token stream merging them into single `a_b` terms; a second pass over
  * the merged stream yields trigrams (`new_york` + `times` → `new_york_times`)
  * — the word2vec-style phrase pipeline (Mikolov et al. 2013 §4).
  *
  * Scoring is the published count scorer made integer-exact: qualify iff
  *
  *   (count(ab) − MinCount) · T  >  LiftThreshold · count(a) · count(b)
  *
  * where T is the pass's total token count — i.e. pointwise-mutual-
  * information lift > LiftThreshold, cross-multiplied so both engines
  * compare BIGINTs (no float division; gensim's scorer is this formula
  * with vocab size in place of T — T makes the threshold scale-free:
  * independent pairs have lift ≈ 1 at ANY corpus size, so the same
  * threshold discriminates at sf0.001 and at 100 TB). At extreme scale
  * the cross-product can exceed int64 — a production run widens the
  * compare to decimal INTERNALLY (the X63 discipline); gated outputs
  * stay BIGINT.
  *
  * Scale shape:
  *   - model build: the corpus collapses to VOCAB-sized unigram and
  *     bigram count tables (map-side partial aggregation; Heaps' law) —
  *     the only shuffles are those counts; pair extraction is a per-row
  *     `zip_with` over each token array, never a self-join;
  *   - the model itself is ≤ [[MaxPhrases]] rows by construction — it
  *     collects to the driver exactly like gensim's in-memory Phrases
  *     model, and the merge is then a PER-ROW fold over each token
  *     array (greedy left-to-right, non-overlapping — zero exchanges);
  *   - the fixture corpus is uniform word salad (no natural
  *     collocations), so probe phrases are planted per doc_id residue
  *     (the X38 planted-probe pattern): the gate proves qualifying
  *     phrases merge and random co-occurrence does not.
  *
  * The oracle expresses the same greedy merge relationally (run-parity
  * over islands of consecutive qualifying pairs) — an independent
  * formulation of the same semantics, not a transliteration.
  */
object Phrases {

  /** Minimum bigram count (gensim default). */
  val MinCount = 5

  /** PMI-lift threshold: qualify iff lift > this (integer, cross-multiplied). */
  val LiftThreshold = 10

  /** Phrase-model cap — the model stays driver-sized by construction.
    * Deterministic total order (lift desc, a, b) makes the cap stable.
    */
  val MaxPhrases = 64

  /** Planted collocations, cycled by doc_id residue; the last is a
    * trigram only the second pass can finish. No probe word collides
    * with the fixture vocabulary.
    */
  val ProbePhrases: Seq[String] = Seq(
    "machine learning", "neural network", "gradient descent",
    "tokyo metro", "new york times")

  /** text + one planted probe phrase. */
  private def plantProbe: Column =
    concat(col("text"), lit(" "),
      element_at(array(ProbePhrases.map(lit): _*),
        (col("doc_id") % ProbePhrases.length).cast("int") + 1))

  private def plantProbeSql: String = {
    val ws = ProbePhrases.map(w => s"'$w'").mkString(", ")
    s"text || ' ' || ([$ws])[CAST(doc_id % ${ProbePhrases.length} AS INTEGER) + 1]"
  }

  /** (doc_id, toks): the probed, lowercased token arrays the passes run over. */
  def tokenArrays(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), TextOps.tokenize(lower(plantProbe)).as("toks"))

  /** The phrase model for one pass: qualifying (a, b, cab, ca, cb,
    * lift_x1000), capped at [[MaxPhrases]]. Input: (doc_id, toks).
    */
  def model(tokDf: DataFrame): DataFrame = {
    val uni = tokDf.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("t"))
    val ch = col("toks")
    val m = greatest(size(ch) - 1, lit(0))
    val pairs = tokDf
      .select(explode(zip_with(slice(ch, lit(1), m), slice(ch, lit(2), m),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    pairs
      .join(uni.withColumnRenamed("w", "a").withColumnRenamed("c", "ca"), "a")
      .join(uni.withColumnRenamed("w", "b").withColumnRenamed("c", "cb"), "b")
      .crossJoin(broadcast(totals))
      .filter((col("cab") - MinCount) * col("t") > lit(LiftThreshold) * col("ca") * col("cb"))
      .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"),
        expr(s"((cab - $MinCount) * 1000 * t) DIV (ca * cb)").as("lift_x1000"))
      .orderBy(col("lift_x1000").desc, col("a"), col("b"))
      .limit(MaxPhrases)
  }

  /** Greedy left-to-right non-overlapping merge of `phrases` ("a b"
    * strings) inside one token array — one codegen'd scan per row
    * ([[graft.plans.PhraseMerge]]), no shuffle at any scale.
    */
  def mergeTokens(toks: Column, phrases: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.PhraseMerge(
        org.apache.spark.sql.GraftColumnShim.expression(toks),
        org.apache.spark.sql.GraftColumnShim.expression(array(phrases.map(lit): _*))))

  /** The composable twin of [[mergeTokens]] — the same greedy semantics
    * as an `aggregate` fold over builtin HOFs, equivalence-pinned against
    * the codegen'd primitive in `PhrasesSpec` (the RollingPolyHash
    * discipline: the primitive earns its keep only while provably equal
    * to the composition). Not on the gated path: the fold evaluates
    * outside whole-stage codegen and allocates an accumulator array per
    * step — O(n²) per-row allocation 100 TB cannot absorb.
    */
  def mergeTokensFold(toks: Column, phrases: Seq[String]): Column = {
    val pset = array(phrases.map(lit): _*)
    val empty = array().cast("array<string>")
    def folded(tk: Column): Column = {
      val f = aggregate(
        sequence(lit(0), size(tk) - 1),
        struct(empty.as("res"), lit(false).as("skip")),
        (acc, i) => {
          val t = get(tk, i)
          val nx = get(tk, i + 1)
          val hit = coalesce(array_contains(pset, concat(t, lit(" "), nx)), lit(false))
          when(acc.getField("skip"),
            struct(acc.getField("res").as("res"), lit(false).as("skip")))
            .when(hit,
              struct(concat(acc.getField("res"), array(concat(t, lit("_"), nx))).as("res"),
                lit(true).as("skip")))
            .otherwise(
              struct(concat(acc.getField("res"), array(t)).as("res"), lit(false).as("skip")))
        },
        acc => acc.getField("res"))
      when(size(tk) === 0, empty).otherwise(f)
    }
    // Bind the token array ONCE as a lambda variable. Without this,
    // CollapseProject may inline the producing expression (tokenize, or a
    // previous pass's fold) into EVERY get()/size() reference inside the
    // fold — re-evaluating it per step: O(n²) tokenizations per row, and
    // exponential across chained passes (observed: a 1.4 s trigram run
    // became a 10-minute one when the upstream cache was absent). The
    // lambda variable is evaluated once per row by the HOF machinery, so
    // the fold's cost is independent of what produced the array.
    element_at(transform(array(toks), tk => folded(tk)), 1)
  }

  /** One full pass: build the model from the arrays, collect it (model-
    * sized, ≤ [[MaxPhrases]] rows — the gensim in-memory model), merge.
    * The input is persisted first: the model build consumes it eagerly
    * (the collect) and the merge consumes it again lazily — without the
    * persist a two-pass run re-tokenizes the corpus four times. At
    * 100 TB the equivalent is checkpointing the merged stream between
    * passes (the X5b build-once index discipline).
    */
  def pass(tokDf: DataFrame): DataFrame = {
    val in = graft.ops.Caches.persist(tokDf)
    val phrases = model(in).select(concat_ws(" ", col("a"), col("b")))
      .collect().map(_.getString(0)).toSeq
    in.select(col("doc_id"), mergeTokens(col("toks"), phrases).as("toks"))
  }

  private def stream(tokDf: DataFrame): DataFrame =
    tokDf.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("term"))

  /** Gate: the pass-1 phrase model. */
  def bigramModel(spark: SparkSession, dir: String): DataFrame =
    model(tokenArrays(spark, dir))

  /** Gate: the token stream after the bigram pass. */
  def applyBigrams(spark: SparkSession, dir: String): DataFrame =
    stream(pass(tokenArrays(spark, dir)))

  /** Gate: the stream after two passes — trigrams finished. Pass 2's
    * model collect materializes pass 1's output cache, after which pass
    * 1's INPUT cache is unreachable from the final plan — released
    * eagerly here (`pass` persists the frame it is given), so the
    * invocation keeps one cache: the merged pass-1 stream.
    */
  def applyTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenArrays(spark, dir)
    val m2 = pass(pass(toks)) // pass 2 persists + (via the collect) materializes pass 1
    toks.unpersist()
    stream(m2)
  }

  // ---- DuckDB oracle (generated from the same constants) ----

  /** CTEs producing the positional token stream `toks0(doc_id, pos, tok)`. */
  private def toksCte: String =
    s"""planted AS (
       |  SELECT doc_id, $plantProbeSql AS t FROM documents
       |), arrs AS (
       |  SELECT doc_id, ${TextOps.tokenizeSql("lower(t)")} AS tk FROM planted
       |), toks0 AS (
       |  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
       |  FROM arrs, unnest(range(1, len(tk) + 1)) AS u(i)
       |)""".stripMargin

  /** Model CTE over a positional stream `$in(doc_id, pos, tok)` —
    * `${out}` = qualifying (a, b, cab, ca, cb, lift_x1000) capped.
    */
  private def modelCte(in: String, out: String): String =
    s"""${out}_uni AS (
       |  SELECT tok AS w, count(*) AS c FROM $in GROUP BY tok
       |), ${out}_tot AS (
       |  SELECT sum(c) AS t FROM ${out}_uni
       |), ${out}_pairs AS (
       |  SELECT a, b, count(*) AS cab FROM (
       |    SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
       |    FROM $in
       |  ) WHERE b IS NOT NULL GROUP BY a, b
       |), $out AS (
       |  SELECT a, b, cab, ua.c AS ca, ub.c AS cb,
       |         ((cab - $MinCount) * 1000 * t) // (ua.c * ub.c) AS lift_x1000
       |  FROM ${out}_pairs
       |  JOIN ${out}_uni ua ON ua.w = a
       |  JOIN ${out}_uni ub ON ub.w = b
       |  CROSS JOIN ${out}_tot
       |  WHERE (cab - $MinCount) * t > $LiftThreshold * ua.c * ub.c
       |  ORDER BY lift_x1000 DESC, a, b LIMIT $MaxPhrases
       |)""".stripMargin

  /** Greedy-merge CTE chain: `$in(doc_id, pos, tok)` merged against
    * `$mdl` → `$out(doc_id, pos, tok)`. Run-parity formulation: islands
    * of consecutive qualifying pairs merge at even offsets — exactly the
    * greedy left-to-right non-overlap the Spark fold computes.
    */
  private def mergeCte(in: String, mdl: String, out: String): String =
    s"""${out}_m AS (
       |  SELECT doc_id, pos, tok,
       |    lead(tok) OVER w AS nxt,
       |    CASE WHEN (tok || ' ' || lead(tok) OVER w)
       |         IN (SELECT a || ' ' || b FROM $mdl) THEN 1 ELSE 0 END AS mm
       |  FROM $in WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |), ${out}_isl AS (
       |  SELECT *, SUM(CASE WHEN mm = 1 THEN 0 ELSE 1 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM ${out}_m
       |), ${out}_st AS (
       |  SELECT *, CASE WHEN mm = 1 AND (ROW_NUMBER()
       |      OVER (PARTITION BY doc_id, island, mm ORDER BY pos) - 1) % 2 = 0
       |    THEN 1 ELSE 0 END AS strt
       |  FROM ${out}_isl
       |), ${out}_em AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN strt = 1 THEN tok || '_' || nxt ELSE tok END AS tok,
       |    COALESCE(LAG(strt) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS consumed
       |  FROM ${out}_st
       |), $out AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos, tok
       |  FROM ${out}_em WHERE consumed = 0
       |)""".stripMargin

  def bigramModelOracle: String =
    s"""WITH $toksCte, ${modelCte("toks0", "model1")}
       |SELECT a, b, CAST(cab AS BIGINT) AS cab, CAST(ca AS BIGINT) AS ca,
       |  CAST(cb AS BIGINT) AS cb, CAST(lift_x1000 AS BIGINT) AS lift_x1000
       |FROM model1""".stripMargin

  def applyBigramsOracle: String =
    s"""WITH $toksCte, ${modelCte("toks0", "model1")}, ${mergeCte("toks0", "model1", "out1")}
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok AS term FROM out1""".stripMargin

  def applyTrigramsOracle: String =
    s"""WITH $toksCte, ${modelCte("toks0", "model1")}, ${mergeCte("toks0", "model1", "out1")},
       |${modelCte("out1", "model2")}, ${mergeCte("out1", "model2", "out2")}
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok AS term FROM out2""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_phrase_bigrams" -> Query((s, dir) => bigramModel(s, dir), bigramModelOracle),
    "q_phrase_apply" -> Query((s, dir) => applyBigrams(s, dir), applyBigramsOracle),
    "q_phrase_trigrams" -> Query((s, dir) => applyTrigrams(s, dir), applyTrigramsOracle)
  )
}
