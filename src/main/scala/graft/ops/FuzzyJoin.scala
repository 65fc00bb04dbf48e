package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Fuzzy string join — the data-cleaning/entity-resolution operator
  * (match near-identical names across catalogs) done the only way that
  * survives scale: BANDED candidate generation, never all-pairs. The
  * same blocking discipline as the dedup family ([[graft.dedup.Dedup]]
  * LSH bands, [[graft.dedup.Winnow]] rarity caps) applied to edit
  * distance:
  *
  *   1. collapse to DISTINCT names (copies multiply pair work for free);
  *   2. block by a cheap key (here: the last word — product lines in
  *      catalog names; phonetic keys or q-gram prefixes slot in the
  *      same place);
  *   3. drop blocks larger than [[MaxBucket]] (a block that big means
  *      the key is not discriminating there — the stopword/ubiquity
  *      rule; at 100 TB this caps per-block pair work at O(cap²));
  *   4. pair within blocks (a < b) and verify with the exact
  *      `levenshtein` — only block-mates ever get scored.
  *
  * Both engines implement the standard unweighted Levenshtein, so the
  * gate is exact.
  */
object FuzzyJoin {

  /** Max edit distance for a match ("cold widget" ↔ "small widget" = 4
    * on the fixture's adjective-noun names).
    */
  val MaxEdit = 4

  /** Blocks larger than this are dropped (non-discriminating key). */
  val MaxBucket = 100

  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir).select(col("p_name")).distinct()
      .withColumn("bucket", element_at(split(col("p_name"), " "), -1))
    val small = names.groupBy(col("bucket")).agg(count(lit(1)).as("g"))
      .filter(col("g") <= MaxBucket).select(col("bucket"))
    val capped = names.join(small, "bucket")
    capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
      .filter(col("dist") <= MaxEdit)
  }

  def fuzzyOracle: String =
    s"""WITH names AS (
       |  SELECT DISTINCT p_name FROM part
       |), blocked AS (
       |  SELECT p_name, list_extract(string_split(p_name, ' '), -1) AS bucket FROM names
       |), capped AS (
       |  SELECT p_name, bucket FROM blocked
       |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $MaxBucket
       |)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       |FROM capped a JOIN capped b
       |  ON a.bucket = b.bucket AND a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= $MaxEdit""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_fuzzy_join" -> Query((s, dir) => fuzzyNamePairs(s, dir), fuzzyOracle)
  )
}
