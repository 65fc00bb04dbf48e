package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space coarsely, compare
  * pairs ONLY within a cluster, and drop all but one of each
  * near-duplicate group — the semantic sibling of the lexical near-dup
  * family (X2 MinHash, X3 SimHash, X31 sign-LSH). Where X31 buckets by
  * sign pattern, this buckets by the IVF coarse assignment the ANN index
  * already maintains (X5's k-means lists, reused verbatim) — the
  * SemDeDup paper's exact design: k-means buckets, intra-bucket cosine,
  * keep one representative.
  *
  * Scale shape: candidate work is Σ c_i² over cluster sizes, the paper's
  * own tradeoff — real deploys grow k with corpus size so c stays
  * bounded (here k = [[Similarity.NumSeeds]] suits the fixture; the
  * operator takes whatever [[Similarity.coarseAssigned]] produces, so a
  * 100 TB run re-trains with a larger k and nothing else changes). Pairs
  * crossing cluster boundaries are missed by design — the same recall
  * tradeoff the IVF probe bound accepts, and the reason the exact
  * brute-force superset check lives in `SemDedupSpec`.
  *
  * Exactness: scores are the house quantized-integer cosine
  * ([[Similarity.cosFromInts]] over floor(x·1000) vectors), assignments
  * the oracle-gated IVF chain — both engines agree bit-for-bit including
  * the drop set.
  */
object SemDedup {

  /** Within-cluster pairs at/above [[Similarity.NearDupThreshold]]:
    * (list_id, vec_a, vec_b, cos_sim), vec_a < vec_b. The self-join key
    * is the coarse list — vectors never meet outside their cluster.
    *
    * `k` is THE scale knob (the SemDeDup paper's own answer): growing it
    * with the corpus keeps per-cluster size c bounded, so candidate work
    * Σc² ≈ n²/k stays near-linear and the self-join key count k never
    * degenerates into a few-key skew. Gated at the default AND at k=64
    * (`q_semantic_neardup_k64`); `SemDedupSpec` pins that larger k
    * strictly shrinks candidate-pair work on the fixture.
    */
  def pairs(spark: SparkSession, dir: String,
      k: Int = Similarity.NumSeeds): DataFrame = {
    // quantized vectors feed assignment AND both pair sides — persist so
    // quantization and the assignment's two passes run once
    val docs = graft.ops.Caches.persist(Similarity.quantized(spark, dir))
    val assigned = Similarity.coarseAssigned(docs, k)
    def side(n: String) = assigned.select(
      col("list_id"), col("vec_id").as(s"vec_$n"),
      col("q").as(s"q_$n"), col("n2").as(s"n2_$n"))
    side("a").join(side("b"), "list_id")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("list_id"), col("vec_a"), col("vec_b"),
        Similarity.cosFromInts(
          Similarity.dotq(col("q_a"), col("q_b")),
          col("n2_a"), col("n2_b")).as("cos_sim"))
      .filter(col("cos_sim") >= Similarity.NearDupThreshold)
  }

  /** The kept corpus: every vector that is not the GREATER member of a
    * near-dup pair (lowest id represents its neighborhood — the
    * SemDeDup keep-one rule, deterministic on both engines).
    */
  def kept(spark: SparkSession, dir: String): DataFrame = {
    val drop = pairs(spark, dir).select(col("vec_b").as("vec_id")).distinct()
    Similarity.quantized(spark, dir)
      .join(drop, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  // ---- DuckDB oracle (the gated IVF assignment chain, then plain joins) ----

  private def pairsCte(k: Int = Similarity.NumSeeds): String =
    s"""docs AS (${Similarity.quantizedSql}),
       |${Similarity.ivfCtesFrom("docs", k)},
       |sem_pairs AS (
       |  SELECT a.list_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${Similarity.cosSql(Similarity.dotSql("a.q", "b.q"), "a.n2", "b.n2")} AS cos_sim
       |  FROM assigned a JOIN assigned b
       |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  WHERE ${Similarity.cosSql(Similarity.dotSql("a.q", "b.q"), "a.n2", "b.n2")}
       |    >= ${Similarity.NearDupThreshold}
       |)""".stripMargin

  def pairsOracle(k: Int = Similarity.NumSeeds): String =
    s"""WITH ${pairsCte(k)}
       |SELECT list_id, vec_a, vec_b, cos_sim FROM sem_pairs""".stripMargin

  def keptOracle: String =
    s"""WITH ${pairsCte()}
       |SELECT vec_id, label FROM docs
       |WHERE vec_id NOT IN (SELECT vec_b FROM sem_pairs)""".stripMargin

  /** The grown-k gate: same operator, quadruple the clusters — the knob a
    * 100 TB run turns. k=64 on the fixture proves the parameterized path
    * end-to-end against the oracle's k=64 chain.
    */
  val GrownK = 64

  def queries: Seq[(String, Query)] = Seq(
    "q_semantic_neardup" -> Query((s, dir) => pairs(s, dir), pairsOracle()),
    "q_semantic_neardup_k64" -> Query((s, dir) => pairs(s, dir, GrownK), pairsOracle(GrownK)),
    "q_semantic_dedup" -> Query((s, dir) => kept(s, dir), keptOracle)
  )
}
