package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.plans.UnigramSegment

/** Unigram-LM subword tokenization (SentencePiece's model family, Kudo
  * 2018) — the DP-based alternative to BPE's greedy merges (X45/X77):
  * a piece vocabulary with −log₂-quantized costs is derived from the
  * corpus, and every word is segmented by Viterbi into its minimum-cost
  * piece sequence (ties → fewer pieces; both objectives ride one packed
  * integer so the optimum is a unique VALUE — no tie-break ambiguity for
  * the gate to trip on).
  *
  * Model build (both engines, stated once each):
  *   - corpus words = whitespace tokens of 1..[[UnigramSegment.MaxWordLen]]
  *     chars, with occurrence counts;
  *   - candidate pieces = all char n-grams (n ≤ [[UnigramSegment.MaxPieceLen]])
  *     of every word, weighted by the word's count;
  *   - kept pieces: every single character unconditionally (segmentation
  *     totality — no word is ever unsegmentable), longer pieces iff their
  *     weighted count reaches [[MinPieceCount]] (the pruning that makes
  *     the vocabulary a MODEL rather than the corpus itself);
  *   - cost(piece) = msb(total) − msb(cnt) — the X86 msb quantization of
  *     −log₂ p(piece).
  *
  * Scale: the model is vocab-sized by construction (n-grams of DISTINCT
  * words) and collects to the driver like every other model artifact
  * (Phrases / QualityModel / BPE discipline); segmentation itself is ONE
  * codegen'd per-row expression (O(len·4) hash probes against the hoisted
  * map) — the corpus never shuffles to be segmented. The DuckDB oracle
  * replays the identical DP as [[UnigramSegment.MaxWordLen]] unrolled
  * CTE steps generated by the same Scala code.
  */
object Unigram {

  /** Weighted-count floor for pieces of length ≥ 2. */
  val MinPieceCount = 2L

  private def msb(c: Column) = length(bin(c)).cast("long")

  /** Char n-grams WITH multiplicity (the [[graft.dedup.Dedup.charShingles]]
    * slice/zip_with shape, minus its distinct).
    */
  private def charGrams(c: Column, n: Int): Column = {
    val chars = split(c, "")
    val len = greatest(size(chars) - (n - 1), lit(0))
    (2 to n).foldLeft(slice(chars, lit(1), len)) { (acc, k) =>
      zip_with(acc, slice(chars, lit(k), len), (a, b) => concat(a, b))
    }
  }

  /** (word, cnt) over in-contract corpus words. */
  def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokenize(col("text"))).as("word"))
      .filter(length(col("word")).between(1, UnigramSegment.MaxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** (piece, cost) — the collected model's relational form. */
  def pieceModel(docs: DataFrame): DataFrame = {
    val words = wordTable(docs)
    val grams = (1 to UnigramSegment.MaxPieceLen).map { n =>
      words.select(explode(charGrams(col("word"), n)).as("piece"), col("cnt"))
    }.reduce(_ unionAll _)
    val pc = grams.groupBy(col("piece"))
      .agg(sum(col("cnt")).cast("long").as("pcnt"))
      .filter(length(col("piece")) === 1 || col("pcnt") >= MinPieceCount)
    val tot = pc.agg(sum(col("pcnt")).cast("long").as("total"))
    pc.crossJoin(broadcast(tot))
      .select(col("piece"), (msb(col("total")) - msb(col("pcnt"))).as("cost"))
  }

  /** Driver model arrays, piece-sorted for deterministic literals. */
  def collectModel(docs: DataFrame): (Array[String], Array[Long]) = {
    val rows = pieceModel(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  def segmentCol(word: Column, pieces: Array[String], costs: Array[Long]): Column =
    org.apache.spark.sql.GraftColumnShim.column(UnigramSegment(
      org.apache.spark.sql.GraftColumnShim.expression(word),
      org.apache.spark.sql.GraftColumnShim.expression(lit(pieces)),
      org.apache.spark.sql.GraftColumnShim.expression(lit(costs))))

  /** The gate: every distinct corpus word with its Viterbi cost and piece
    * count under the corpus-derived model.
    */
  def segmentWords(spark: SparkSession, dir: String): DataFrame =
    segmentWordsOf(Tables.documents(spark, dir))

  def segmentWordsOf(docs: DataFrame): DataFrame = {
    val (pieces, costs) = collectModel(docs)
    wordTable(docs)
      .select(col("word"), col("cnt").as("word_cnt"),
        length(col("word")).cast("long").as("word_len"),
        segmentCol(col("word"), pieces, costs).as("s"))
      .select(col("word"), col("word_cnt"), col("word_len"),
        col("s").getField("cost_bits").as("cost_bits"),
        col("s").getField("n_pieces").as("n_pieces"))
  }

  /** The identical model build + DP, as SQL: the DP unrolls into one CTE
    * per character position (b1..b16), each taking the min over the ≤4
    * vocabulary-joined extensions of earlier positions — generated by
    * the same constants that drive the expression.
    */
  def segmentOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    val L = UnigramSegment.MaxWordLen
    val P = UnigramSegment.MaxPieceLen
    val pieceUnions = (1 to P).map { n =>
      s"""SELECT substring(word, i, $n) AS piece, cnt
         |  FROM words, unnest(range(1, length(word) - $n + 2)) AS u$n(i)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val steps = (1 to L).map { i =>
      val branches = (1 to math.min(P, i)).map { k =>
        s"""SELECT b.word, b.cnt, b.wlen, b.packed + v.cost * 64 + 1 AS cand
           |    FROM b${i - k} b JOIN vocab v
           |      ON v.piece = substring(b.word, ${i - k + 1}, $k)
           |    WHERE b.wlen >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s"""b$i AS MATERIALIZED (
         |  SELECT word, cnt, wlen, min(cand) AS packed FROM (
         |    $branches
         |  ) GROUP BY word, cnt, wlen
         |)""".stripMargin
    }.mkString(",\n")
    val resUnion = (1 to L).map(i => s"SELECT * FROM b$i WHERE wlen = $i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH arrs AS (
       |  SELECT $tk AS tks FROM documents
       |), toks AS (
       |  SELECT t FROM arrs, unnest(tks) AS u(t)
       |), words AS MATERIALIZED (
       |  SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt, length(t) AS wlen
       |  FROM toks WHERE length(t) BETWEEN 1 AND $L GROUP BY t
       |), allp AS (
       |  $pieceUnions
       |), pc AS (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS pcnt FROM allp GROUP BY piece
       |), keep AS (
       |  SELECT piece, pcnt FROM pc
       |  WHERE length(piece) = 1 OR pcnt >= $MinPieceCount
       |), tot AS (SELECT CAST(sum(pcnt) AS BIGINT) AS total FROM keep),
       |vocab AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(length(bin(total)) - length(bin(pcnt)) AS BIGINT) AS cost
       |  FROM keep CROSS JOIN tot
       |), b0 AS MATERIALIZED (
       |  SELECT word, cnt, wlen, CAST(0 AS BIGINT) AS packed FROM words
       |),
       |$steps,
       |res AS (
       |  $resUnion
       |)
       |SELECT word, cnt AS word_cnt, CAST(wlen AS BIGINT) AS word_len,
       |  CAST(packed // 64 AS BIGINT) AS cost_bits,
       |  CAST(packed % 64 AS BIGINT) AS n_pieces
       |FROM res""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_unigram_segment" -> Query((s, dir) => segmentWords(s, dir), segmentOracle)
  )
}
