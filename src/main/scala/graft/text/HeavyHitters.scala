package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Exact corpus heavy hitters WITHOUT a vocabulary-sized shuffle — the
  * Misra-Gries two-pass discipline (Misra & Gries 1982; the MapReduce
  * formulation is folklore): find every term whose corpus frequency
  * exceeds n/[[K]] exactly, while the only shuffled rows are the tiny
  * candidate set and one scalar.
  *
  * Why not `groupBy(term).count.filter(...)`? That shuffles the ENTIRE
  * vocabulary — 10⁸-10⁹ rows for a 100 TB web corpus (the same Heaps'-law
  * wall as the tf-idf df table) — to then keep a few hundred rows. Here:
  *
  *   1. CANDIDATES: each partition streams its tokens through a k-slot
  *      Misra-Gries summary (`mapPartitions` — the legitimate per-partition
  *      imperative case: a sequential sketch with amortized O(1)/token,
  *      O(k) memory). Guarantee by pigeonhole: a term with global count
  *      > n/k has count > n_p/k in at least one partition, and per-partition
  *      MG(k) surfaces every such term, so the union of partition outputs
  *      is a SUPERSET of the true heavy hitters. Size ≤ partitions·k —
  *      broadcastable at any corpus size (1000 executors × 200 slots =
  *      2·10⁵ rows).
  *   2. EXACT RE-COUNT: second corpus scan counts ONLY candidate terms
  *      (broadcast hash join drops everything else map-side), then the
  *      exact threshold `cnt·k > n` filters false positives. The total-token
  *      scalar n rides a one-row broadcast crossJoin — the plan stays lazy,
  *      no driver collect.
  *
  * Both passes are scans; neither shuffles anything proportional to the
  * vocabulary or the corpus. The output is EXACT (not approximate), so the
  * DuckDB twin is a plain GROUP BY + HAVING — sketch on the Spark side,
  * exactness at the gate.
  */
object HeavyHitters {

  /** Sketch slots per partition; the report threshold is count > n/K. */
  val K = 200

  /** Misra-Gries k-slot summary of one token stream: every element with
    * stream frequency > len/k is guaranteed to be among the surviving
    * keys. Decrement-all is amortized O(1)/token: each batch of k
    * decrements is paid for by k prior increments.
    */
  def misraGries(iter: Iterator[String], k: Int): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    iter.foreach { t =>
      if (counts.contains(t)) counts(t) += 1L
      else if (counts.size < k) counts(t) = 1L
      else {
        val dead = List.newBuilder[String]
        counts.mapValuesInPlace((_, v) => v - 1L)
        counts.foreach { case (key, v) => if (v <= 0L) dead += key }
        dead.result().foreach(counts.remove)
      }
    }
    counts.keysIterator
  }

  /** (term, cnt) for every term with corpus count > total_tokens/[[K]],
    * exact counts, heaviest first (cnt DESC, term ASC — total order).
    */
  def heavyTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val words = docs.select(explode(TextOps.tokenize(col("text"))).as("term"))

    val candidates = words.as[String]
      .mapPartitions(it => misraGries(it, K))
      .toDF("term").distinct()

    val total = words.agg(count(lit(1)).as("n"))
    words.join(broadcast(candidates), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * K > col("n"))
      .select(col("term"), col("cnt"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** DuckDB twin — the sketch is a Spark-side execution strategy, not a
    * semantic: the result contract is exactly "terms with count > n/K".
    */
  def heavyTermsOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH words AS (
       |  SELECT unnest($tk) AS term FROM documents
       |), tot AS (
       |  SELECT count(*) AS n FROM words
       |)
       |SELECT term, count(*) AS cnt
       |FROM words, tot
       |GROUP BY term, n
       |HAVING count(*) * $K > n
       |ORDER BY cnt DESC, term""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_heavy_hitters" -> Query((s, dir) => heavyTerms(s, dir), heavyTermsOracle)
  )
}
