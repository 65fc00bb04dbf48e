package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Sparse retrieval over the corpus: inverted index, collection term
  * statistics, and BM25 (Robertson/Spärck Jones) ranking — the classic
  * lexical stack an LLM-data pipeline runs for decontamination lookups,
  * importance-based data selection, and eval-set retrieval baselines.
  *
  * Everything is exact-integer so every stage is oracle-gateable:
  *   - IDF carries the msb quantization the bigram-LM surprisal (X86)
  *     established: `idf_bits = msb(N) − msb(df)` with
  *     `msb(x) = length(bin(x))` — ⌊log₂⌋ in both engines, no floats;
  *   - BM25's term-frequency saturation and length normalization run in
  *     milli-units with integral division stated identically on both
  *     engines (`DIV` ↔ `//`), so scores are bit-equal, and ties break on
  *     doc_id.
  *
  * Scale: the postings build is the only corpus-sized shuffle (map-side
  * partial counts on (term, doc)); term stats and the query-term model
  * are vocab-sized; scoring touches only postings of the query's terms
  * (a broadcast semi-ish join — the corpus never re-shuffles for a
  * query), per-doc sums partial-aggregate, and the top-k is a
  * TakeOrdered, never a global sort.
  */
object Retrieval {

  /** BM25 k1 = 1.2 and b = 0.75 (the textbook defaults), in milli. */
  val K1Milli = 1200L
  val BMilli = 750L

  /** Query = the `NumQueryTerms` highest-collection-frequency terms (term
    * asc on ties) — corpus-derived, deterministic, restated by the oracle.
    */
  val NumQueryTerms = 3
  val TopK = 10

  /** Retrieval tokenization: whitespace tokens minus stopwords (dups and
    * order kept — tf needs multiplicity).
    */
  def terms(c: Column): Column = TextOps.removeStopwords(TextOps.tokenize(c))

  def termsSql(c: String): String =
    TextOps.removeStopwordsSql(TextOps.tokenizeSql(c))

  private def msb(c: Column): Column = length(bin(c)).cast("long")

  /** The inverted index in relational form: one row per (term, doc_id)
    * with the term frequency — the shape every downstream retrieval op
    * joins against, and the engine-neutral gate for the index build
    * (posting-list arrays would pin an engine's array ordering; the
    * relation pins the content).
    */
  def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(terms(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  def postings(spark: SparkSession, dir: String): DataFrame =
    postingsOf(Tables.documents(spark, dir))

  def postingsOracle: String =
    s"""WITH arrs AS (
       |  SELECT doc_id, ${termsSql("text")} AS tks FROM documents
       |), toks AS (
       |  SELECT doc_id, t FROM arrs, unnest(tks) AS u(t)
       |)
       |SELECT t AS term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |FROM toks GROUP BY 1, 2""".stripMargin

  /** Per-term collection statistics + quantized IDF: document frequency,
    * collection frequency, `idf_bits = msb(N) − msb(df)`. Vocab-sized
    * output; N (total docs) rides in as a broadcast scalar.
    */
  /** Term stats from an existing postings relation — every consumer in
    * one plan derives from the SAME postings subtree, so AQE's
    * ReuseExchange computes the corpus tokenize+count once however many
    * branches read it (RetrievalSpec pins the ReusedExchange).
    */
  def termStatsOfPostings(post: DataFrame, docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    post
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("cf"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), col("cf"),
        (msb(col("n_docs")) - msb(col("df"))).as("idf_bits"))
  }

  def termStatsOf(docs: DataFrame): DataFrame =
    termStatsOfPostings(postingsOf(docs), docs)

  def termStats(spark: SparkSession, dir: String): DataFrame =
    termStatsOf(Tables.documents(spark, dir))

  def termStatsOracle: String =
    s"""WITH post AS (${postingsOracle}),
       |nn AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT term, CAST(count(*) AS BIGINT) AS df,
       |  CAST(sum(tf) AS BIGINT) AS cf,
       |  CAST(length(bin(n_docs)) - length(bin(count(*))) AS BIGINT) AS idf_bits
       |FROM post CROSS JOIN nn
       |GROUP BY term, n_docs""".stripMargin

  /** BM25 top-k for the corpus-derived query, integer-exact:
    *
    *   ratio_m = (dl · 10⁶) div avgdl_m          (dl/avgdl in milli)
    *   norm_m  = 1000 − b_m + (b_m · ratio_m) div 1000
    *   denom_m = tf · 1000 + (k1_m · norm_m) div 1000
    *   sat_m   = (tf · (k1_m + 1000) · 1000) div denom_m
    *   score_m = Σ_t idf_bits(t) · sat_m(t)
    *
    * where avgdl_m = (Σ dl · 1000) div n over docs with ≥1 kept term.
    * Every operand is BIGINT and every division integral, so both engines
    * agree bit-for-bit; the top-k orders by (score_m desc, doc_id) — a
    * total order, so LIMIT is deterministic.
    */
  def bm25TopKOf(docs: DataFrame): DataFrame = {
    val post = postingsOf(docs)
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    val avg = dl.agg(expr("CAST((sum(dl) * 1000) DIV count(*) AS BIGINT)")
      .as("avgdl_m"))
    val qterms = termStatsOfPostings(post, docs)
      .orderBy(desc("cf"), asc("term")).limit(NumQueryTerms)
      .select(col("term"), col("idf_bits"))
    post.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(avg))
      .withColumn("ratio_m", expr("(dl * 1000000) DIV avgdl_m"))
      .withColumn("norm_m",
        lit(1000L) - lit(BMilli) + expr(s"($BMilli * ratio_m) DIV 1000"))
      .withColumn("denom_m", expr(s"tf * 1000 + ($K1Milli * norm_m) DIV 1000"))
      .withColumn("sat_m",
        expr(s"(tf * ${K1Milli + 1000L} * 1000) DIV denom_m"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_query_terms_hit"),
        sum(col("idf_bits") * col("sat_m")).cast("long").as("score_m"))
      .orderBy(desc("score_m"), asc("doc_id"))
      .limit(TopK)
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopKOf(Tables.documents(spark, dir))

  def bm25TopKOracle: String =
    s"""WITH post AS (${postingsOracle}),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |stats AS (
       |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       |    CAST(length(bin(n_docs)) - length(bin(count(*))) AS BIGINT) AS idf_bits
       |  FROM post CROSS JOIN nn GROUP BY term, n_docs
       |), dl AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY doc_id
       |), avgdl AS (
       |  SELECT CAST((sum(dl) * 1000) // count(*) AS BIGINT) AS avgdl_m FROM dl
       |), qterms AS (
       |  SELECT term, idf_bits FROM stats ORDER BY cf DESC, term LIMIT $NumQueryTerms
       |), scored AS (
       |  SELECT p.doc_id, q.idf_bits, p.tf, d.dl, a.avgdl_m,
       |    (d.dl * 1000000) // a.avgdl_m AS ratio_m
       |  FROM post p
       |  JOIN qterms q ON q.term = p.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN avgdl a
       |), parts AS (
       |  SELECT doc_id, idf_bits, tf,
       |    1000 - $BMilli + ($BMilli * ratio_m) // 1000 AS norm_m
       |  FROM scored
       |), sat AS (
       |  SELECT doc_id, idf_bits,
       |    (tf * ${K1Milli + 1000L} * 1000) //
       |      (tf * 1000 + ($K1Milli * norm_m) // 1000) AS sat_m
       |  FROM parts
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_query_terms_hit,
       |  CAST(sum(idf_bits * sat_m) AS BIGINT) AS score_m
       |FROM sat GROUP BY doc_id
       |ORDER BY score_m DESC, doc_id LIMIT $TopK""".stripMargin

  // ---- RM3 pseudo-relevance feedback (X200) -------------------------

  /** Expansion terms kept, and the milli-weights of original vs
    * expansion terms in the reranking query.
    */
  val ExpTerms = 5
  val OrigWeightM = 1000L
  val ExpWeightM = 500L

  /** The BM25 tf-saturation pipeline over an arbitrary weighted term
    * list (term, idf_bits, w) — shared by the plain top-k and the RM3
    * rerank so the arithmetic can't drift between them.
    */
  private def weightedScores(post: DataFrame, terms: DataFrame): DataFrame = {
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    val avg = dl.agg(expr("CAST((sum(dl) * 1000) DIV count(*) AS BIGINT)")
      .as("avgdl_m"))
    post.join(broadcast(terms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(avg))
      .withColumn("ratio_m", expr("(dl * 1000000) DIV avgdl_m"))
      .withColumn("norm_m",
        lit(1000L) - lit(BMilli) + expr(s"($BMilli * ratio_m) DIV 1000"))
      .withColumn("denom_m", expr(s"tf * 1000 + ($K1Milli * norm_m) DIV 1000"))
      .withColumn("sat_m",
        expr(s"(tf * ${K1Milli + 1000L} * 1000) DIV denom_m"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("w") * col("idf_bits") * col("sat_m")).cast("long").as("score_w"))
  }

  /** RM3 expansion terms: over the BM25 top-k FEEDBACK set, score each
    * non-query term by Σ tf·idf_bits and keep the top [[ExpTerms]] —
    * the pseudo-relevance-feedback step that makes a lexical retriever
    * find documents sharing no original query term. All integer;
    * feedback-set postings only (TopK docs), model sides broadcast.
    */
  def rm3TermsOf(docs: DataFrame): DataFrame = {
    val post = postingsOf(docs)
    val stats = termStatsOfPostings(post, docs)
    val qterms = stats.orderBy(desc("cf"), asc("term")).limit(NumQueryTerms)
      .select(col("term"))
    val fb = bm25TopKOf(docs).select(col("doc_id"))
    post.join(broadcast(fb), "doc_id")
      .join(stats.select(col("term"), col("idf_bits")), "term")
      .join(broadcast(qterms), Seq("term"), "left_anti")
      .groupBy(col("term"))
      .agg(sum(col("tf") * col("idf_bits")).cast("long").as("fscore"))
      .orderBy(desc("fscore"), asc("term")).limit(ExpTerms)
  }

  /** RM3 rerank: original terms at weight 1000 milli + expansion terms
    * at 500, same saturation arithmetic, top-k by (score_w desc,
    * doc_id). Documents matching ONLY expansion terms can now rank —
    * the point of the operator.
    */
  def rm3TopKOf(docs: DataFrame): DataFrame = {
    val post = postingsOf(docs)
    val stats = termStatsOfPostings(post, docs)
    val qterms = stats.orderBy(desc("cf"), asc("term")).limit(NumQueryTerms)
      .select(col("term"), col("idf_bits"), lit(OrigWeightM).as("w"))
    val exp = rm3TermsOf(docs).select(col("term"))
      .join(stats.select(col("term"), col("idf_bits")), "term")
      .select(col("term"), col("idf_bits"), lit(ExpWeightM).as("w"))
    weightedScores(post, qterms.unionByName(exp))
      .orderBy(desc("score_w"), asc("doc_id"))
      .limit(TopK)
  }

  private def rm3Ctes: String =
    s"""post AS (${postingsOracle}),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |stats AS (
       |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       |    CAST(length(bin(n_docs)) - length(bin(count(*))) AS BIGINT) AS idf_bits
       |  FROM post CROSS JOIN nn GROUP BY term, n_docs
       |), dl AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY doc_id
       |), avgdl AS (
       |  SELECT CAST((sum(dl) * 1000) // count(*) AS BIGINT) AS avgdl_m FROM dl
       |), qterms AS (
       |  SELECT term, idf_bits FROM stats ORDER BY cf DESC, term LIMIT $NumQueryTerms
       |), sat1 AS (
       |  SELECT p.doc_id, q.idf_bits,
       |    (p.tf * ${K1Milli + 1000L} * 1000) //
       |      (p.tf * 1000 + ($K1Milli * (1000 - $BMilli +
       |        ($BMilli * ((d.dl * 1000000) // a.avgdl_m)) // 1000)) // 1000) AS sat_m
       |  FROM post p
       |  JOIN qterms q ON q.term = p.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN avgdl a
       |), top10 AS (
       |  SELECT doc_id FROM sat1 GROUP BY doc_id
       |  ORDER BY CAST(sum(idf_bits * sat_m) AS BIGINT) DESC, doc_id LIMIT $TopK
       |), fbt AS (
       |  SELECT p.term, CAST(sum(p.tf * s.idf_bits) AS BIGINT) AS fscore
       |  FROM post p JOIN top10 t ON t.doc_id = p.doc_id
       |  JOIN stats s ON s.term = p.term
       |  WHERE p.term NOT IN (SELECT term FROM qterms)
       |  GROUP BY p.term
       |  ORDER BY fscore DESC, p.term LIMIT $ExpTerms
       |)""".stripMargin

  def rm3TermsOracle: String =
    s"""WITH ${rm3Ctes}
       |SELECT term, fscore FROM fbt""".stripMargin

  def rm3TopKOracle: String =
    s"""WITH ${rm3Ctes},
       |wq AS (
       |  SELECT term, idf_bits, $OrigWeightM AS w FROM qterms
       |  UNION ALL
       |  SELECT f.term, s.idf_bits, $ExpWeightM FROM fbt f
       |  JOIN stats s ON s.term = f.term
       |), sat2 AS (
       |  SELECT p.doc_id, q.idf_bits, q.w,
       |    (p.tf * ${K1Milli + 1000L} * 1000) //
       |      (p.tf * 1000 + ($K1Milli * (1000 - $BMilli +
       |        ($BMilli * ((d.dl * 1000000) // a.avgdl_m)) // 1000)) // 1000) AS sat_m
       |  FROM post p
       |  JOIN wq q ON q.term = p.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN avgdl a
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
       |  CAST(sum(w * idf_bits * sat_m) AS BIGINT) AS score_w
       |FROM sat2 GROUP BY doc_id
       |ORDER BY score_w DESC, doc_id LIMIT $TopK""".stripMargin

  // ---- snippet extraction (X213) -------------------------------------

  /** Snippet window width, in tokens. */
  val SnippetW = 10

  /** SNIPPET extraction over the BM25 top-k: for each hit document,
    * the [[SnippetW]]-token window containing the most DISTINCT query
    * terms (ties: leftmost window — a total order), rendered as text —
    * what a retrieval UI shows under each result, and the last
    * retrieval-stack surface after scoring itself. Window search is
    * pure per-row ARRAY work (sequence → filter → distinct inside
    * codegen): no per-window rows ever exist in the plan, so the
    * operator is map-only over the k hit documents however long they
    * are; the query terms ride in as a broadcast.
    */
  def snippets(docs: DataFrame): DataFrame = {
    val stats = termStatsOf(docs)
    val qterms = stats.orderBy(desc("cf"), asc("term")).limit(NumQueryTerms)
      .agg(collect_list(col("term")).as("qt"))
    val hits = bm25TopKOf(docs).select(col("doc_id"))
    docs.join(hits, "doc_id")
      .crossJoin(broadcast(qterms))
      .select(col("doc_id"), col("qt"), terms(col("text")).as("tk"))
      .filter(size(col("tk")) >= SnippetW)
      .select(col("doc_id"), col("qt"), col("tk"),
        expr(s"""transform(sequence(0, size(tk) - $SnippetW), s ->
                 |  size(array_distinct(filter(slice(tk, s + 1, $SnippetW),
                 |    t -> array_contains(qt, t)))))""".stripMargin).as("hv"))
      .select(col("doc_id"),
        expr("array_max(hv)").as("n_hits"),
        expr("array_position(hv, array_max(hv)) - 1").cast("long").as("start"),
        expr(s"array_join(slice(tk, CAST(array_position(hv, array_max(hv)) AS INT), $SnippetW), ' ')")
          .as("snippet"))
  }

  def snippetsOracle: String =
    s"""WITH post AS (${postingsOracle}),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |stats AS (
       |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       |    CAST(length(bin(n_docs)) - length(bin(count(*))) AS BIGINT) AS idf_bits
       |  FROM post CROSS JOIN nn GROUP BY term, n_docs
       |), dl AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY doc_id
       |), avgdl AS (
       |  SELECT CAST((sum(dl) * 1000) // count(*) AS BIGINT) AS avgdl_m FROM dl
       |), qterms AS (
       |  SELECT term, idf_bits FROM stats ORDER BY cf DESC, term LIMIT $NumQueryTerms
       |), sat1 AS (
       |  SELECT p.doc_id, q.idf_bits,
       |    (p.tf * ${K1Milli + 1000L} * 1000) //
       |      (p.tf * 1000 + ($K1Milli * (1000 - $BMilli +
       |        ($BMilli * ((d.dl * 1000000) // a.avgdl_m)) // 1000)) // 1000) AS sat_m
       |  FROM post p
       |  JOIN qterms q ON q.term = p.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN avgdl a
       |), top10 AS (
       |  SELECT doc_id FROM sat1 GROUP BY doc_id
       |  ORDER BY CAST(sum(idf_bits * sat_m) AS BIGINT) DESC, doc_id LIMIT $TopK
       |), qt AS (SELECT list(term ORDER BY cf DESC, term) AS qt FROM
       |    (SELECT term, cf FROM stats ORDER BY cf DESC, term LIMIT $NumQueryTerms)
       |), tk AS (
       |  SELECT d.doc_id, ${termsSql("d.text")} AS tk
       |  FROM documents d JOIN top10 USING (doc_id)
       |), hv AS (
       |  SELECT doc_id, tk,
       |    list_transform(range(0, len(tk) - $SnippetW + 1), s ->
       |      len(list_distinct(list_filter(tk[s + 1 : s + $SnippetW],
       |        t -> list_contains(qt.qt, t))))) AS hv
       |  FROM tk, qt WHERE len(tk) >= $SnippetW
       |)
       |SELECT doc_id,
       |  CAST(list_max(hv) AS INTEGER) AS n_hits,
       |  CAST(list_position(hv, list_max(hv)) - 1 AS BIGINT) AS start,
       |  array_to_string(
       |    tk[list_position(hv, list_max(hv)) : list_position(hv, list_max(hv)) + $SnippetW - 1],
       |    ' ') AS snippet
       |FROM hv""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_snippets" -> Query((s, dir) => snippets(Tables.documents(s, dir)), snippetsOracle),
    "q_inverted_postings" -> Query((s, dir) => postings(s, dir), postingsOracle),
    "q_term_stats" -> Query((s, dir) => termStats(s, dir), termStatsOracle),
    "q_bm25_topk" -> Query((s, dir) => bm25TopK(s, dir), bm25TopKOracle),
    "q_rm3_terms" -> Query((s, dir) => rm3TermsOf(Tables.documents(s, dir)), rm3TermsOracle),
    "q_rm3_topk" -> Query((s, dir) => rm3TopKOf(Tables.documents(s, dir)), rm3TopKOracle)
  )
}
