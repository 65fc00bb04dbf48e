package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.TextOps

/** Corpus-preparation operators a training-data pipeline runs after dedup
  * and before training — split assignment and term weighting — designed
  * Spark-first and oracle-gated like every other family:
  *
  *   - [[stratifiedSplit]]: deterministic train/val/test assignment by
  *     content-independent key hash. Per-row, shuffle-free, stable across
  *     runs/cluster sizes — the property that makes a split reproducible
  *     at 100 TB (no `rand()`, no global sort, no sampling action).
  *   - [[tfidfTopTerms]]: per-document top-k terms by tf·idf. The idf is
  *     integer-quantized (`(N·10⁶) div df`, integral division) so both
  *     engines rank identically — the same exactness discipline as the
  *     quantized cosine in [[graft.sim.Similarity]].
  *
  * Scale shapes documented per operator; both compose with the dedup
  * outputs (split AFTER dedup so near-dup pairs can't straddle splits).
  */
object CorpusOps {

  /** Split fractions in percent: [0,Train) train, [Train,TrainVal) val,
    * rest test.
    */
  val TrainPct = 80
  val TrainValPct = 90
  val Buckets = 100

  /** 48-bit fold of the md5 hex digest — the same universal-hash idiom as
    * MinHash's base hashes, applied to a scalar key.
    */
  private def md5Bucket(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long") % Buckets

  /** Bucket → label, the ONE copy of the threshold chain (its SQL twin is
    * [[labelFromBucketSql]]).
    */
  private def labelFromBucket(bucket: org.apache.spark.sql.Column) =
    when(bucket < TrainPct, "train")
      .when(bucket < TrainValPct, "val")
      .otherwise("test")

  private def labelFromBucketSql(bucket: String): String =
    s"""CASE WHEN $bucket < $TrainPct THEN 'train'
       |       WHEN $bucket < $TrainValPct THEN 'val'
       |       ELSE 'test' END""".stripMargin

  /** Split label for a key column — composable into any frame. */
  def splitLabel(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    labelFromBucket(md5Bucket(key))

  /** Deterministic stratified split: bucket = md5-fold(doc_id) mod 100.
    * Key-hash (not `rand`) means: same row → same split on every run,
    * every cluster size, every execution order; adding rows never moves
    * existing rows between splits. Per-row projection — zero shuffle.
    */
  def stratifiedSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5Bucket(col("doc_id")).as("bucket"))
      .withColumn("split", labelFromBucket(col("bucket")))

  /** SPLIT-LEAKAGE audit (X206): every exact near-dup pair (X187's
    * recall-1 list) labeled with both members' split assignments,
    * counted per unordered split pair — the off-diagonal rows ARE
    * train/test contamination at near-dup granularity (the object doc
    * above says "split AFTER dedup so near-dup pairs can't straddle
    * splits"; this table MEASURES that hazard instead of assuming the
    * ordering was followed — X34 decontamination checks exact n-grams,
    * this checks whole-document near-identity). Two doc_id metadata
    * joins over the pair list + a splits²-row aggregate.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.SetSim.similarityJoin(
      ScaleOps.widen(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text")))
      .select(col("a"), col("b"))
    val lab = stratifiedSplit(Tables.documents(spark, dir))
      .select(col("doc_id"), col("split"))
    pairs
      .join(lab.select(col("doc_id").as("a"), col("split").as("split_of_a")), Seq("a"))
      .join(lab.select(col("doc_id").as("b"), col("split").as("split_of_b")), Seq("b"))
      .select(least(col("split_of_a"), col("split_of_b")).as("split_a"),
        greatest(col("split_of_a"), col("split_of_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("pairs"))
  }

  def splitLeakageOracle: String =
    s"""WITH p AS (
       |  SELECT a, b FROM (
       |${graft.dedup.SetSim.oracle().linesIterator.map("    " + _).mkString("\n")}
       |  ) t),
       |s AS (
       |${splitOracle.linesIterator.map("  " + _).mkString("\n")}
       |)
       |SELECT least(sa.split, sb.split) AS split_a,
       |  greatest(sa.split, sb.split) AS split_b,
       |  CAST(count(*) AS BIGINT) AS pairs
       |FROM p
       |JOIN s sa ON sa.doc_id = p.a
       |JOIN s sb ON sb.doc_id = p.b
       |GROUP BY 1, 2""".stripMargin

  def splitOracle: String = {
    val fold = TextOps.md5HexFold12Sql("d")
    s"""SELECT doc_id, bucket,
       |  ${labelFromBucketSql("bucket")} AS split
       |FROM (
       |  SELECT doc_id, ($fold) % $Buckets AS bucket
       |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS d FROM documents)
       |)""".stripMargin
  }

  /** Per-language sampling percent for [[stratifiedSample]]; languages
    * absent from the list fall back to [[DefaultSamplePct]]. The shape a
    * corpus-mixing recipe takes ("keep all English, a quarter of X").
    */
  val SampleRates: Seq[(String, Int)] = Seq(
    "en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25, "zh" -> 25)
  val DefaultSamplePct = 10

  /** Deterministic weighted per-stratum sampling: keep a row iff
    * md5-fold(doc_id) mod 100 < its language's percent. Same key-hash
    * discipline as [[stratifiedSplit]] — per-row, shuffle-free, and the
    * sample is REPRODUCIBLE: same row → same verdict on every run,
    * cluster size and partitioning, and appends never resample existing
    * rows. (Spark's `stat.sampleBy` draws per-partition RNG — a
    * repartition reshuffles who is sampled, which is unacceptable for a
    * 100 TB corpus that must be re-derivable.) The sample hash is SALTED
    * (`doc_id ⧺ "#sample"`) so it is independent of the split bucket:
    * with the split's own hash, a 25% sample would fall entirely inside
    * the train buckets and never contain a val/test document.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val rate = SampleRates.tail
      .foldLeft(when(col("lang") === SampleRates.head._1, SampleRates.head._2)) {
        case (acc, (l, r)) => acc.when(col("lang") === l, r)
      }.otherwise(DefaultSamplePct)
    docs.select(col("doc_id"), col("lang"), col("source"),
        md5Bucket(concat(col("doc_id").cast("string"), lit(SampleSalt))).as("bucket"),
        rate.as("sample_pct"))
      .filter(col("bucket") < col("sample_pct"))
      .drop("bucket")
  }

  val SampleSalt = "#sample"

  def sampleOracle: String = {
    val fold = TextOps.md5HexFold12Sql("d")
    val cases = SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang, source, sample_pct FROM (
       |  SELECT doc_id, lang, source, ($fold) % $Buckets AS bucket,
       |    CASE lang $cases ELSE $DefaultSamplePct END AS sample_pct
       |  FROM (SELECT doc_id, lang, source,
       |        md5(CAST(doc_id AS VARCHAR) || '$SampleSalt') AS d FROM documents)
       |) WHERE bucket < sample_pct""".stripMargin
  }

  /** Top terms per document. */
  val TopK = 5
  val IdfScale = 1000000L

  /** Per-document top-[[TopK]] terms by tf · ((N·10⁶) div df).
    *
    * Scale shape: explode → one hash aggregate to (doc, term) tf → one
    * much smaller aggregate to per-term document frequency. The df table
    * is VOCABULARY-sized — smaller than the corpus (Heaps' law) but NOT
    * broadcast-sized at scale: a 100 TB web corpus has 10⁸–10⁹ distinct
    * terms, past any broadcast threshold and Spark's 8 GB hard cap. So no
    * broadcast hint: the tf↔df join shuffles on `term`, and at fixture
    * scale AQE's size estimate still picks a broadcast join on its own.
    * N rides in as a one-row broadcast cross join. Final per-doc top-k is
    * a window over the tf aggregate's own partitioning residue.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr(s"(n * $IdfScale) div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }

  def tfidfOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextOps.tokenizeSql("text")}) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
       |), dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), n AS (SELECT count(*) AS n FROM documents)
       |SELECT doc_id, term, tf, df,
       |  tf * ((n * $IdfScale) // df) AS score,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf * ((n * $IdfScale) // df) DESC, term) AS BIGINT) AS rank
       |FROM tf JOIN dfreq USING (term) CROSS JOIN n
       |QUALIFY rank <= $TopK""".stripMargin

  /** Pipeline gates: documents shorter than this or scoring below this
    * are excluded from training data.
    */
  val MinTokens = 10L
  val MinQuality = 0.5

  /** THE end-to-end corpus-preparation pipeline as ONE lazy plan:
    * near-dup dedup (materialized pair table) → quality gate →
    * deterministic split → per-split size report. What a user of this
    * library runs before training; every stage is the already-gated
    * operator, composed.
    *
    * Scale shape: the anti-join's drop-set side is tiny (broadcast-able;
    * its component-closure rounds iterate over the pair table only, never
    * a document), the quality gate and split label are per-row scan-stage
    * projections, and the only corpus-wide shuffle is the final 3-group
    * aggregate — i.e. the whole pipeline reads the corpus once and
    * exchanges 3 rows.
    */
  def pipelineReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val survivors = graft.dedup.Dedup.dropNearDupsFromClusters(
      docs, graft.dedup.Dedup.PairTable.wordClusters(spark, dir))
    val withToks = survivors.select(
      col("doc_id"), col("text"), TextOps.tokenize(col("text")).as("toks"))
    val q = graft.text.Analysis.qualityColumnsFromTokens(col("text"), col("toks")).toMap
    withToks
      .select(col("doc_id"), q("quality_score").as("q"), q("n_tokens").as("n_tokens"))
      .filter(col("q") >= MinQuality && col("n_tokens") >= MinTokens)
      .select(splitLabel(col("doc_id")).as("split"), col("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("sum_tokens"))
  }

  def pipelineOracle: String = {
    val qCols = graft.text.Analysis.qualitySqlColumns("text").toMap
    val fold = TextOps.md5HexFold12Sql("d")
    val dropSet = graft.dedup.Dedup.Components.dropSetSqlOn(graft.dedup.Dedup.MinHashLSH.oracle)
    s"""WITH survivors AS (
       |  SELECT * FROM documents
       |  WHERE doc_id NOT IN ($dropSet)
       |), scored AS (
       |  SELECT doc_id, ${qCols("quality_score")} AS q, ${qCols("n_tokens")} AS n_tokens
       |  FROM survivors
       |), kept AS (
       |  SELECT doc_id, n_tokens FROM scored WHERE q >= $MinQuality AND n_tokens >= $MinTokens
       |), labeled AS (
       |  SELECT ${labelFromBucketSql("bucket")} AS split, n_tokens
       |  FROM (
       |    SELECT n_tokens, ($fold) % $Buckets AS bucket
       |    FROM (SELECT n_tokens, md5(CAST(doc_id AS VARCHAR)) AS d FROM kept)
       |  )
       |)
       |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM labeled GROUP BY split""".stripMargin
  }

  /** Per-language vocabulary stats — the distinct-aggregate surface
    * (`count(DISTINCT …)` per group). Spark plans grouped count-distinct
    * as the two-phase expand/partial-aggregate rewrite; at scale the
    * pre-aggregation on (lang, term) absorbs the duplication before the
    * final per-lang count. The exact form is the gate; the HLL sketch
    * (`approx_count_distinct`) is unit-tested against it within tolerance
    * (sketches differ across engines, so it cannot be oracle-hashed).
    */
  def vocabStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("term")).as("vocab"),
        count(lit(1)).as("n_tokens"))

  def vocabOracle: String =
    s"""SELECT lang,
       |  count(DISTINCT term) AS vocab,
       |  count(*) AS n_tokens
       |FROM (
       |  SELECT lang, unnest(${TextOps.tokenizeSql("text")}) AS term FROM documents
       |)
       |GROUP BY lang""".stripMargin

  /** Exact per-language length percentiles — the corpus-report percentile
    * surface, engine-exact by construction: instead of engine-specific
    * interpolating `percentile`/`quantile_cont` (whose float interpolation
    * is not bit-portable), the percentile is DEFINED as the value at rank
    * `ceil(cnt·q)` of the ordered lengths (`percentile_disc` semantics)
    * and selected with explicit integer rank arithmetic — identical in
    * both engines, deterministic under ties (equal ranks always carry
    * equal values inside a tie run).
    *
    * Scale shape — [[Quantiles.grouped]]' histogram selection, NOT a
    * per-language sort. A `row_number` window partitioned only by `lang`
    * funnels the whole corpus through one task per language (~20 TB/task
    * at 100 TB with a handful of languages); the histogram is #langs ×
    * #distinct-lengths rows, bounded by max document length. Its integer
    * rank test `100·cum ≥ p·cnt` is `cum ≥ ceil(cnt·p/100)` — the
    * `row_number`-based `percentile_disc` definition the DuckDB oracle
    * still uses, so the gate proves the equivalence.
    */
  def lengthPercentiles(spark: SparkSession, dir: String): DataFrame =
    Quantiles.grouped(Tables.documents(spark, dir), col("lang"),
        graft.text.Analysis.wsTokenCount(col("text")))
      .select(col("k").as("lang"), col("n_rows").as("n_docs"),
        col("p50").as("p50_tokens"), col("p90").as("p90_tokens"), col("p99").as("p99_tokens"))

  def lengthPercentilesOracle: String = {
    val nTok = s"CAST(len(${TextOps.tokenizeSql("text")}) AS BIGINT)"
    def rank(pct: Int) = s"(cnt * $pct + 99) // 100"
    s"""WITH t AS (
       |  SELECT lang, $nTok AS n_tokens FROM documents
       |), ranked AS (
       |  SELECT lang, n_tokens,
       |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM t
       |)
       |SELECT lang, max(cnt) AS n_docs,
       |  max(CASE WHEN rn = ${rank(50)} THEN n_tokens END) AS p50_tokens,
       |  max(CASE WHEN rn = ${rank(90)} THEN n_tokens END) AS p90_tokens,
       |  max(CASE WHEN rn = ${rank(99)} THEN n_tokens END) AS p99_tokens
       |FROM ranked GROUP BY lang""".stripMargin
  }

  // ---- per-source document caps ----

  /** Keep at most this many documents per source (domain). */
  val SourceCap = 18

  /** Salt decorrelating the cap-order hash from the split/sample hashes. */
  val CapSalt = "#cap"

  /** Sub-buckets per source for the two-pass exact rank — the windowed
    * boundary work shrinks by this factor.
    */
  val CapBuckets = 256

  /** Per-source document cap — the "domain cap" every crawl-derived corpus
    * applies so no single site dominates training (C4/RefinedWeb drop or
    * downsample overrepresented domains). Keeps the [[SourceCap]]
    * lexicographically-first documents per source in md5-salted hash order:
    * deterministic, content-independent, append-stable (a new crawl batch
    * can only displace docs that hash later, never reshuffle the order).
    *
    * Scale shape — the naive form is `row_number() OVER (PARTITION BY
    * source ORDER BY h)`, ONE task per source: a 100 TB crawl's largest
    * domain funnels through a single executor (the same W1 pathology
    * [[lengthPercentiles]] avoids). Instead the first byte of the hash
    * ([[CapBuckets]] sub-buckets, a PREFIX of the order key) is a shard
    * for [[Prefix.shardStarts]], which gives each bucket's global
    * starting rank from the tiny per-(source, bucket) counts table.
    * Buckets entirely under the cap are kept with NO window; buckets
    * entirely past it are dropped with no window; only the ONE boundary
    * bucket per source ranks its rows, in a window partitioned by
    * (source, bucket) — 1/[[CapBuckets]] of the domain per task instead
    * of the whole domain.
    */
  def capPerSource(docs: DataFrame, cap: Int = SourceCap): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit(CapSalt))).as("h"))
      .withColumn("b", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
    val joined = d.join(Prefix.shardStarts(d, Seq("source"), "b", lit(1L)), Seq("source", "b"))
    val keptFull = joined.filter(col("start") + col("k") <= cap)
    val boundary = joined.filter(col("start") < cap && col("start") + col("k") > cap)
    val wB = Window.partitionBy(col("source"), col("b")).orderBy(col("h"), col("doc_id"))
    val keptBoundary = boundary
      .withColumn("rn", row_number().over(wB))
      .filter(col("start") + col("rn") <= cap)
    keptFull.select(col("doc_id"), col("source"))
      .unionByName(keptBoundary.select(col("doc_id"), col("source")))
  }

  /** Oracle states the SPEC (global per-source hash rank ≤ cap); the Spark
    * side implements the bucketed equivalent.
    */
  def capOracle: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    md5(CAST(doc_id AS VARCHAR) || '$CapSalt') AS h
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |  FROM h
       |)
       |SELECT doc_id, source FROM r WHERE rn <= $SourceCap""".stripMargin

  // ---- incremental distinct-term sketches (mergeable vocab stats) ----

  /** Per-batch HLL sketches of the term set, mergeable across batches —
    * the incremental form of [[vocabStats]]'s distinct counts: a corpus
    * that arrives in ingestion cycles keeps ONE small sketch per (lang,
    * batch) and answers "distinct terms so far" by union, never
    * re-scanning history (the same every-cycle shape as the X42
    * incremental dedup and X5c index serve). Sketches are Spark's
    * DataSketches HLL (`hll_sketch_agg`) — a few KB each regardless of
    * corpus size, exactly what a stats checkpoint table stores per batch.
    */
  def vocabSketchPerBatch(docs: DataFrame, batchMod: Int = 4): DataFrame =
    docs
      .select(col("lang"), (col("doc_id") % batchMod).as("batch"),
        explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy(col("lang"), col("batch"))
      .agg(hll_sketch_agg(col("term")).as("sketch"),
        count(lit(1)).as("n_tokens"))

  /** Merge the per-batch sketches to per-lang totals: `hll_union_agg`
    * over the sketch column + the estimate. The merge reads ONLY the
    * sketch table (rows = langs × batches), never the corpus.
    */
  def vocabSketchMerged(perBatch: DataFrame): DataFrame =
    perBatch.groupBy(col("lang"))
      .agg(hll_union_agg(col("sketch")).as("sketch"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("lang"),
        hll_sketch_estimate(col("sketch")).as("distinct_terms_est"),
        col("n_tokens"))

  // ---- data-mixture materialization (per-source up/downsampling) ----

  /** Per-source mixture rate in PERCENT of one epoch: 300 = 3 full
    * copies, 150 = one copy + a deterministic half, 25 = a quarter
    * sample. The shape of a training mixture recipe ("3 epochs of
    * curated source, a quarter of the crawl"); sources absent from the
    * list run at 100.
    */
  val MixRates: Seq[(String, Int)] = Seq(
    "src0" -> 300, "src1" -> 150, "src2" -> 60, "src3" -> 25)
  val DefaultMixPct = 100
  val MixSalt = "#mix"

  /** Materialize the mixture: one output row per (doc, epoch), where
    * `n_copies = rate div 100` full epochs plus one extra iff the doc's
    * salted hash bucket < `rate mod 100` — the same deterministic
    * key-hash discipline as [[stratifiedSample]] (reproducible across
    * runs/partitioning, append-stable, salt-decorrelated from the split
    * and sample hashes), extended UPWARD: upsampling is how mixtures
    * overrepresent curated sources, and materializing the epoch column
    * (rather than a weight) lets every downstream stage — packing,
    * shuffling, sharding — treat copies as ordinary rows while `epoch`
    * keeps them distinguishable.
    *
    * Scale: per-row expressions plus an explode bounded by
    * max(rate) div 100 + 1 — linear in the scan, no shuffle, no state.
    */
  def mixCorpus(docs: DataFrame): DataFrame = {
    val rate = MixRates.tail
      .foldLeft(when(col("source") === MixRates.head._1, MixRates.head._2)) {
        case (acc, (s, r)) => acc.when(col("source") === s, r)
      }.otherwise(DefaultMixPct)
    val withCopies = docs.select(col("doc_id"), col("source"),
        md5Bucket(concat(col("doc_id").cast("string"), lit(MixSalt))).as("bucket"),
        rate.as("r"))
      .withColumn("n_copies",
        (col("r") / 100).cast("int") + when(col("bucket") < col("r") % 100, 1).otherwise(0))
    withCopies
      .select(col("doc_id"), col("source"), col("n_copies").cast("long").as("n_copies"),
        explode(when(col("n_copies") >= 1, sequence(lit(1), col("n_copies")))
          .otherwise(array().cast("array<int>"))).as("epoch"))
      .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"),
        col("n_copies"))
  }

  def mixOracle: String = {
    val fold = TextOps.md5HexFold12Sql("d")
    val cases = MixRates.map { case (s, r) => s"WHEN '$s' THEN $r" }.mkString(" ")
    s"""WITH m AS (
       |  SELECT doc_id, source, ($fold) % $Buckets AS bucket,
       |    CASE source $cases ELSE $DefaultMixPct END AS r
       |  FROM (SELECT doc_id, source,
       |        md5(CAST(doc_id AS VARCHAR) || '$MixSalt') AS d FROM documents)
       |), c AS (
       |  SELECT doc_id, source,
       |    r // 100 + CASE WHEN bucket < r % 100 THEN 1 ELSE 0 END AS n_copies
       |  FROM m
       |)
       |SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS epoch,
       |  CAST(n_copies AS BIGINT) AS n_copies
       |FROM c""".stripMargin
  }

  // ---- unigram-LM surprisal scoring ----

  /** Perplexity-proxy document scoring — the CCNet-style LM quality
    * signal, with the KenLM n-gram model replaced by a corpus unigram
    * table and the floating-point log by an EXACT integer surprisal:
    *
    *   surprisal(t) = msb(total_tokens) − msb(count(t)) = ⌊log₂ total⌋ − ⌊log₂ cnt⌋
    *
    * where msb(n) = `length(bin(n))` — the position of the highest set
    * bit, a pure integer both engines compute identically (no libm, no
    * rounding divergence). Rare tokens score high; a document whose mean
    * surprisal is extreme (far above = OCR noise/gibberish, far below =
    * boilerplate of ultra-common words) is a filter candidate, exactly
    * how perplexity bands are used on web corpora.
    *
    * Scale: token counts are ONE hash aggregate (vocabulary-sized out);
    * the token↔count join shuffles on the term like [[tfidfTopTerms]]
    * (no broadcast hint — AQE chooses); the per-doc mean is a second
    * hash aggregate. Total tokens rides in as a one-row broadcast.
    */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("t"))
    val lm = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = lm.agg(sum(col("cnt")).as("total"))
    toks.join(lm, "t")
      .crossJoin(broadcast(total))
      .withColumn("s", length(bin(col("total"))) - length(bin(col("cnt"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s")).cast("long").as("surprisal_sum"),
        round(sum(col("s")) / count(lit(1)), 4).as("surprisal_avg"))
  }

  def surprisalOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tk) AS t FROM documents
       |), lm AS (
       |  SELECT t, count(*) AS cnt FROM toks GROUP BY t
       |), tot AS (
       |  SELECT sum(cnt) AS total FROM lm
       |)
       |SELECT doc_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(length(bin(total)) - length(bin(cnt))) AS BIGINT) AS surprisal_sum,
       |  round(CAST(sum(length(bin(total)) - length(bin(cnt))) AS DOUBLE) / count(*), 4)
       |    AS surprisal_avg
       |FROM toks JOIN lm USING (t) CROSS JOIN tot
       |GROUP BY doc_id""".stripMargin
  }

  /** Backoff penalty in msb bits for an unseen bigram — the integer twin
    * of Stupid Backoff's α = 0.4 discount (log2(1/0.4) ≈ 1.3, rounded up
    * to keep every term exact).
    */
  val BackoffBits = 2L

  /** Bigrams below this count are pruned from the model (KenLM's
    * singleton pruning). Besides shrinking the table, pruning is what
    * makes backoff REAL here: a model trained on the corpus it scores
    * has seen every bigram by construction, so without pruning the
    * backoff branch would be dead code.
    */
  val MinBigramCount = 2L

  /** Bigram LM surprisal with Stupid Backoff (Brants et al. 2007) — the
    * context-aware upgrade of [[unigramSurprisal]] (a CCNet-style
    * perplexity filter scores against context, which a unigram model
    * ignores). Per token at position i:
    *
    *   - first token (no context):  msb(total) − msb(cnt(w_i))
    *   - bigram in the pruned model: msb(cnt(w_{i-1})) − msb(cnt(w_{i-1} w_i))
    *   - pruned/unseen (backoff):    [[BackoffBits]] + msb(total) − msb(cnt(w_i))
    *
    * msb(x) = position of the highest set bit = ⌊log2 x⌋+1 via
    * `length(bin(x))` — every term an exact integer on both engines, the
    * house surprisal quantization. All model joins are keyed on tokens
    * (vocab/bigram-vocab-sized right sides), the context window is one
    * `lag` per doc partition — no all-pairs, no corpus-sized broadcast;
    * at 100 TB the model tables shuffle-join the token stream exactly
    * like the unigram gate.
    */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TextOps.tokenize(col("text"))).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val ctx = toks.withColumn("prev", lag(col("t"), 1).over(w))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val total = uni.agg(sum(col("cnt")).as("total"))
    val big = ctx.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("t")).agg(count(lit(1)).as("pcnt"))
      .filter(col("pcnt") >= MinBigramCount)
    def msb(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")
    ctx
      .join(uni, "t")
      .join(uni.select(col("t").as("prev"), col("cnt").as("prev_cnt")), Seq("prev"), "left")
      .join(big, Seq("prev", "t"), "left")
      .crossJoin(broadcast(total))
      .withColumn("s",
        when(col("prev").isNull, msb(col("total")) - msb(col("cnt")))
          .when(col("pcnt").isNotNull, msb(col("prev_cnt")) - msb(col("pcnt")))
          .otherwise(lit(BackoffBits) + msb(col("total")) - msb(col("cnt"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("prev").isNotNull && col("pcnt").isNull, 1L).otherwise(0L))
          .as("n_backoff"),
        sum(col("s")).cast("long").as("surprisal_sum"),
        round(sum(col("s")) / count(lit(1)), 4).as("surprisal_avg"))
  }

  def bigramSurprisalOracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH arrs AS (
       |  SELECT doc_id, $tk AS tks FROM documents
       |), toks AS (
       |  SELECT doc_id, i - 1 AS pos, tks[i] AS t
       |  FROM arrs, unnest(range(1, len(tks) + 1)) AS u(i)
       |), ctx AS (
       |  SELECT doc_id, pos, t,
       |    lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM toks
       |), uni AS (
       |  SELECT t, count(*) AS cnt FROM toks GROUP BY t
       |), tot AS (
       |  SELECT sum(cnt) AS total FROM uni
       |), big AS (
       |  SELECT prev, t, count(*) AS pcnt FROM ctx WHERE prev IS NOT NULL
       |  GROUP BY prev, t HAVING count(*) >= $MinBigramCount
       |), scored AS (
       |  SELECT c.doc_id,
       |    CASE WHEN c.prev IS NULL THEN length(bin(total)) - length(bin(u.cnt))
       |         WHEN b.pcnt IS NOT NULL THEN length(bin(p.cnt)) - length(bin(b.pcnt))
       |         ELSE $BackoffBits + length(bin(total)) - length(bin(u.cnt)) END AS s,
       |    CASE WHEN c.prev IS NOT NULL AND b.pcnt IS NULL THEN 1 ELSE 0 END AS backoff
       |  FROM ctx c
       |  JOIN uni u ON u.t = c.t
       |  LEFT JOIN uni p ON p.t = c.prev
       |  LEFT JOIN big b ON b.prev = c.prev AND b.t = c.t
       |  CROSS JOIN tot
       |)
       |SELECT doc_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(backoff) AS BIGINT) AS n_backoff,
       |  CAST(sum(s) AS BIGINT) AS surprisal_sum,
       |  round(CAST(sum(s) AS DOUBLE) / count(*), 4) AS surprisal_avg
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_lm_bigram" -> Query((s, dir) => bigramSurprisal(s, dir), bigramSurprisalOracle),
    "q_corpus_split" -> Query((s, dir) => stratifiedSplit(Tables.documents(s, dir)), splitOracle),
    "q_split_leakage" -> Query((s, dir) => splitLeakage(s, dir), splitLeakageOracle),
    "q_corpus_sample" -> Query((s, dir) => stratifiedSample(Tables.documents(s, dir)),
      sampleOracle),
    "q_corpus_mix" -> Query((s, dir) => mixCorpus(Tables.documents(s, dir)), mixOracle),
    "q_tfidf_topterms" -> Query((s, dir) => tfidfTopTerms(s, dir), tfidfOracle),
    "q_corpus_pipeline" -> Query((s, dir) => pipelineReport(s, dir), pipelineOracle),
    "q_vocab_stats" -> Query((s, dir) => vocabStats(s, dir), vocabOracle),
    "q_length_percentiles" -> Query((s, dir) => lengthPercentiles(s, dir), lengthPercentilesOracle),
    "q_source_cap" -> Query((s, dir) => capPerSource(Tables.documents(s, dir)), capOracle),
    "q_lm_surprisal" -> Query((s, dir) => unigramSurprisal(s, dir), surprisalOracle)
  )
}
