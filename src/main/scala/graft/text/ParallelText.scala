package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Parallel-text pair extraction over hreflang clusters (the step that
  * turns [[PageMeta.hreflang]]'s X163 signal into translation training
  * data): each cluster's pivot-language document is segment-aligned
  * against every other language variant with the integer-exact
  * Gale–Church DP ([[graft.plans.GaleChurchAlign]]), producing one row
  * per bead — (cluster, lang_a, lang_b, bead, a_start, a_count,
  * b_start, b_count, seg_a, seg_b) — the (lang_a, lang_b, seg_a,
  * seg_b) pairs a translation-mining corpus keeps.
  *
  * Plant (cluster g = doc_id div 4 over class-0 docs, matching the
  * X163 cluster plant): the en pivot has four segments of lengths
  * 20+10j+(g%7); fr mirrors en exactly (all 1-1 beads); de rotates by
  * g%3 — identical (1-1), middle two segments MERGED (the DP must
  * produce a 2-1 bead), or a trailing 90-char segment en lacks (a 0-1
  * insertion bead). Segment text is the language's initial repeated to
  * the segment length, so the oracle reconstructs every bead's text in
  * closed form and the gate cross-checks the DP's bead boundaries AND
  * the emitted pair text.
  *
  * Scale shape: the whole pipeline is map + explode — segment-length
  * arrays are built per cluster row (no collect_list), the DP runs
  * per cluster-pair row inside codegen, and bead rows explode out.
  * No key exchange anywhere (spec-pinned: the only exchange is the
  * widen's round-robin work-spreader); per-cluster work is O(n·m) in
  * the two variants' segment counts, bounded by the cluster, never
  * the corpus.
  *
  * Reference scope: no alignment surface in the reference; north-star
  * LLM-pipeline machinery (Gale & Church 1993; the hreflang pairing
  * practice of ParaCrawl/CCMatrix-style mining, re-expressed exact).
  */
object ParallelText {

  /** `gale_church_align(a_lens, b_lens)` as a Column — the integer-exact
    * DP over two segment-length arrays, beads out in order.
    */
  def galeChurch(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.GaleChurchAlign(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** The extra segment a c=2 cluster's de variant carries. Longer than
    * [[graft.plans.GaleChurchAlign.SkipPenalty]] + merge slack so the
    * DP's optimal move for it is the honest 0-1 insertion bead, not a
    * 1-2 merge into the neighbor.
    */
  val ExtraSegLen = 90

  /** (cluster, lang_a, lang_b, bead, a_start, a_count, b_start,
    * b_count, seg_a, seg_b) over the planted hreflang clusters.
    */
  def hreflangAligned(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .filter(col("doc_id") % 4 === 0)
      .select(expr("doc_id div 4").as("cluster"))
      .withColumn("c", (col("cluster") % 3).cast("int"))
    def L(j: Int): Column = (lit(20 + 10 * j) + (col("cluster") % 7)).cast("int")
    val enLens = array(L(0), L(1), L(2), L(3))
    val deLens = when(col("c") === 1, array(L(0), (L(1) + L(2)).cast("int"), L(3)))
      .when(col("c") === 2, array(L(0), L(1), L(2), L(3), lit(ExtraSegLen)))
      .otherwise(enLens)
    val pairs = base.select(col("cluster"), enLens.as("a_lens"),
        explode(array(
          struct(lit("de").as("lang_b"), deLens.as("b_lens")),
          struct(lit("fr").as("lang_b"), enLens.as("b_lens")))).as("v"))
      .select(col("cluster"), col("a_lens"),
        col("v").getField("lang_b").as("lang_b"),
        col("v").getField("b_lens").as("b_lens"))
    def segSum(lens: Column, start: Column, count: Column): Column =
      aggregate(slice(lens, start + 1, count), lit(0), (acc, x) => acc + x)
    pairs
      .select(col("cluster"), col("a_lens"), col("lang_b"), col("b_lens"),
        posexplode(galeChurch(col("a_lens"), col("b_lens"))).as(Seq("bead", "bd")))
      .withColumn("seg_a_len",
        segSum(col("a_lens"), col("bd").getField("a_start"),
          col("bd").getField("a_count")))
      .withColumn("seg_b_len",
        segSum(col("b_lens"), col("bd").getField("b_start"),
          col("bd").getField("b_count")))
      .select(col("cluster"), lit("en").as("lang_a"), col("lang_b"),
        col("bead").cast("int").as("bead"),
        col("bd").getField("a_start").as("a_start"),
        col("bd").getField("a_count").as("a_count"),
        col("bd").getField("b_start").as("b_start"),
        col("bd").getField("b_count").as("b_count"),
        // uniform fill per language: the concat of a bead's segments is
        // one repeat of the summed length (what the oracle restates)
        expr("repeat('e', seg_a_len)").as("seg_a"),
        expr("repeat(substring(lang_b, 1, 1), seg_b_len)").as("seg_b"))
  }

  def hreflangAlignedOracle: String =
    s"""WITH cl AS (
       |  SELECT doc_id // 4 AS cluster, (doc_id // 4) % 3 AS c,
       |    (doc_id // 4) % 7 AS o
       |  FROM documents WHERE doc_id % 4 = 0),
       |beads AS (
       |  -- fr mirrors en: four 1-1 beads, and de's c=0 rotation matches
       |  SELECT cluster, lang_b, k AS bead, k AS a_start, 1 AS a_count,
       |    k AS b_start, 1 AS b_count, 20 + 10*k + o AS alen,
       |    20 + 10*k + o AS blen
       |  FROM cl, unnest(['fr', 'de']) AS l(lang_b), unnest(range(0, 4)) AS t(k)
       |  WHERE lang_b = 'fr' OR c = 0
       |  UNION ALL
       |  -- de c=1: the middle two en segments merged → a 2-1 bead
       |  SELECT cluster, 'de', k,
       |    CASE k WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 3 END,
       |    CASE k WHEN 1 THEN 2 ELSE 1 END,
       |    k, 1,
       |    CASE k WHEN 0 THEN 20 + o WHEN 1 THEN 70 + 2*o ELSE 50 + o END,
       |    CASE k WHEN 0 THEN 20 + o WHEN 1 THEN 70 + 2*o ELSE 50 + o END
       |  FROM cl, unnest(range(0, 3)) AS t(k) WHERE c = 1
       |  UNION ALL
       |  -- de c=2: four 1-1 beads then the inserted segment as 0-1
       |  SELECT cluster, 'de', k,
       |    CASE WHEN k < 4 THEN k ELSE 4 END,
       |    CASE WHEN k < 4 THEN 1 ELSE 0 END,
       |    k, 1,
       |    CASE WHEN k < 4 THEN 20 + 10*k + o ELSE 0 END,
       |    CASE WHEN k < 4 THEN 20 + 10*k + o ELSE $ExtraSegLen END
       |  FROM cl, unnest(range(0, 5)) AS t(k) WHERE c = 2)
       |SELECT cluster, 'en' AS lang_a, lang_b, CAST(bead AS INTEGER) AS bead,
       |  CAST(a_start AS INTEGER) AS a_start, CAST(a_count AS INTEGER) AS a_count,
       |  CAST(b_start AS INTEGER) AS b_start, CAST(b_count AS INTEGER) AS b_count,
       |  repeat('e', alen) AS seg_a,
       |  repeat(CASE lang_b WHEN 'de' THEN 'd' ELSE 'f' END, blen) AS seg_b
       |FROM beads""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_hreflang_align" -> Query((s, dir) => hreflangAligned(s, dir), hreflangAlignedOracle)
  )
}
