package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.{Analysis, TextOps}

/** Deduplication operators over the `documents` table — the dedup family a
  * training-data pipeline needs, each designed bucket-first so no stage is
  * ever all-pairs:
  *
  *   - [[Exact]]: fingerprint (md5 of normalized text) + keep-first window,
  *     partitioned BY the fingerprint — duplicates hash to one task, work is
  *     proportional to group sizes, never n².
  *   - [[MinHashLSH]]: word-3-gram shingles → k MinHash values → banded LSH
  *     buckets → candidate pairs joined ONLY within buckets → exact Jaccard
  *     verify. The classic sub-quadratic near-dup join.
  *   - [[SimHash]]: per-document 16-bit SimHash signature from token-hash
  *     bit votes — a per-row, shuffle-free sketch whose Hamming distance
  *     approximates cosine/Jaccard similarity.
  *
  * Cross-engine exactness: every hash is md5-as-hex-string (identical in
  * Spark and DuckDB) and every MinHash min is a STRING min — so the DuckDB
  * oracle replicates the LSH bucketing bit-for-bit, and the correctness
  * gate checks the real bucketed plan, not a brute-force stand-in.
  */
object Dedup {

  /** Distinct word-3-gram shingles of the whitespace tokenization. Both
    * engines build `tk[i] ⧺ ' ' ⧺ tk[i+1] ⧺ ' ' ⧺ tk[i+2]` for i in
    * 1..n-2 (1-based), empty for n < 3.
    *
    * PERF: formulated as `zip_with` over three `slice`s of the token array,
    * NOT `transform(sequence(...), i => element_at(tk, i) ...)`. Catalyst
    * substitutes a lambda-captured expression tree wholesale, so an
    * element_at formulation re-runs the full regex tokenization for every
    * element access — O(shingles × tokens) work per row (measured 20×
    * slowdown at sf0.1). With slice/zip_with the token array is evaluated a
    * constant number of times per row and lambda bodies touch only their
    * lambda arguments.
    */
  def shingles(c: Column): Column = {
    val tk = TextOps.tokenize(c)
    val len = greatest(size(tk) - 2, lit(0))
    val pairs = zip_with(slice(tk, lit(1), len), slice(tk, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
    array_distinct(zip_with(pairs, slice(tk, lit(3), len),
      (ab, cc) => concat(ab, lit(" "), cc)))
  }

  def shinglesSql(c: String): String = {
    val tk = TextOps.tokenizeSql(c)
    s"""list_distinct(list_transform(range(1, greatest(len($tk) - 1, 1)),
       | i -> ($tk)[i] || ' ' || ($tk)[i+1] || ' ' || ($tk)[i+2]))""".stripMargin.replace("\n", "")
  }

  /** n-parameterized DuckDB twin of [[shingles]] / the fused
    * [[graft.plans.ShingleHashes]] tokenization+shingling — same
    * range/concat shape as [[shinglesSql]] (which is the n=3 instance),
    * for operators that need longer windows (e.g. decontamination's
    * 5-grams).
    */
  def shinglesNSql(c: String, n: Int): String = {
    val tk = TextOps.tokenizeSql(c)
    val parts = (0 until n)
      .map(k => if (k == 0) s"($tk)[i]" else s"($tk)[i+$k]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, greatest(len($tk) - ${n - 2}, 1)), i -> $parts))"
  }

  /** Distinct character n-gram shingles — the sub-word near-dup signal
    * (robust to token-boundary edits).
    *
    * PERF: `substr(c, i, n)` per index is a per-shingle codepoint scan of
    * the string (O(len²) per row — ~5 s of the sf0.1 chargram query).
    * Instead the text is split into a char array once and shingles are a
    * `zip_with` cascade over n slices — O(len·n) with O(1) array element
    * access, same discipline as [[shingles]].
    */
  def charShingles(c: Column, n: Int): Column = {
    val chars = split(c, "")
    val len = greatest(size(chars) - (n - 1), lit(0))
    val first = slice(chars, lit(1), len)
    val shingled = (2 to n).foldLeft(first) { (acc, k) =>
      zip_with(acc, slice(chars, lit(k), len), (a, b) => concat(a, b))
    }
    array_distinct(shingled)
  }

  /** Exact set Jaccard of two shingle-set columns: |∩| / |∪| as the ratio
    * of two integers — bit-identical across engines.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  object Exact {
    /** Keep-first per content fingerprint. Window partitions BY the hash:
      * at 100 TB each fingerprint's (tiny) group sorts independently.
      */
    def dedupExact(docs: DataFrame): DataFrame = {
      val fp = graft.ops.ScaleOps.widen(docs)
        .select(col("doc_id"), Analysis.fingerprint(col("text")).as("fp_md5"))
      val w = Window.partitionBy(col("fp_md5")).orderBy(col("doc_id"))
      fp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }

    def oracle: String =
      s"""SELECT doc_id, md5(${graft.text.Normalize.normalizeSql("text")}) AS fp_md5
         |FROM documents
         |QUALIFY row_number() OVER (
         |  PARTITION BY md5(${graft.text.Normalize.normalizeSql("text")})
         |  ORDER BY doc_id) = 1""".stripMargin
  }

  /** LSH shape: k = bands·rowsPerBand MinHashes; a pair is a candidate iff
    * one band of `rowsPerBand` consecutive hashes matches entirely. More
    * rows per band → sharper threshold (fewer background candidates, the
    * knob that keeps the join sub-quadratic when background similarity is
    * high); more bands → higher recall at the target threshold.
    */
  case class LshConfig(bands: Int, rowsPerBand: Int, threshold: Double) {
    val numHashes: Int = bands * rowsPerBand
  }

  object MinHashLSH {
    /** Word-3-gram shingles: background Jaccard ≈ 0, planted near-dups
      * ≥ 0.9 → loose 4×2 bands suffice.
      */
    val WordConfig: LshConfig = LshConfig(bands = 4, rowsPerBand = 2, threshold = 0.8)

    /** Char-5-gram shingles share sub-word fragments across ordinary
      * documents (background Jaccard ≈ 0.2-0.3), so bands are 5 rows deep:
      * P(candidate | j=0.25) ≈ 4·0.25⁵ ≈ 0.4% (the candidate join is the
      * dominant cost; band depth is the knob that keeps it sub-quadratic)
      * while j=0.95 pairs still collide with ≥ 99.7% probability.
      */
    val CharConfig: LshConfig = LshConfig(bands = 4, rowsPerBand = 5, threshold = 0.8)

    // word-shingle aliases (the original public surface)
    val NumHashes: Int = WordConfig.numHashes
    val Bands: Int = WordConfig.bands
    val RowsPerBand: Int = WordConfig.rowsPerBand
    val Threshold: Double = WordConfig.threshold

    /** Universal-hash family for MinHash: ONE md5 per shingle, folded to a
      * 48-bit integer, then k affine functions `(aᵢ·h + bᵢ) mod p`.
      * The naive alternative — k salted md5 calls per shingle — costs k
      * digests per shingle and dominated the char-gram query (15 s → ~3 s
      * at sf0.1). All arithmetic is exact in longs (h < p ≤ 1.1e9, products
      * < 1.2e18), so both engines agree bit-for-bit.
      */
    val P: Long = graft.plans.HashConstants.P
    def hashA(i: Int): Long = (1000003L * (i + 1)) % P
    def hashB(i: Int): Long = (998244353L * (i + 7)) % P

    /** Per-shingle base hashes: one md5 each, first 12 hex chars read as a
      * 48-bit integer, reduced mod p. Spark side uses the native
      * single-pass `conv(hex, 16, 10)` (a 12× per-char substring fold
      * measured 17 s at sf0.1 — per-char substring on UTF8String is a
      * codepoint scan plus allocation); the oracle computes the identical
      * number with an explicit positional fold, so engines agree exactly.
      */
    def baseHashes(sh: Column): Column =
      transform(sh, x => conv(substring(md5(x), 1, 12), 16, 10).cast("long") % P)

    /** MinHash i = MIN over base hashes of (aᵢ·h + bᵢ) mod p. */
    def minhashSig(hv: Column, cfg: LshConfig = WordConfig): Seq[Column] =
      (0 until cfg.numHashes).map { i =>
        array_min(transform(hv, h => (h * hashA(i) + hashB(i)) % P)).as(s"h$i")
      }

    /** Band j = md5 of its r concatenated signature values. */
    def bandHash(j: Int, cfg: LshConfig = WordConfig): Column =
      md5(concat_ws("|",
        (0 until cfg.rowsPerBand).map(r => col(s"h${j * cfg.rowsPerBand + r}")): _*))

    /** (doc_id, band, band_hash) from hashed-shingle arrays. */
    def banded(hashed: DataFrame, cfg: LshConfig = WordConfig): DataFrame = {
      val sig = hashed.select(col("doc_id") +: minhashSig(col("hv"), cfg): _*)
      val bandsArr = array((0 until cfg.bands).map(bandHash(_, cfg)): _*)
      sig.select(col("doc_id"), posexplode(bandsArr).as(Seq("band", "band_hash")))
    }

    /** The near-dup join over any hashed-shingle column (`hvCol` must
      * produce a DISTINCT array<long> of shingle hashes): candidates share
      * ≥1 LSH band (joined only within (band, band_hash) buckets), then
      * exact Jaccard ≥ threshold computed over the hashed sets — long
      * arrays, ~8 bytes per shingle instead of the string shingle itself,
      * so the verify join (the dominant cost) shuffles an order of
      * magnitude less data. Collisions at p≈1e9 shift a 1500-shingle set's
      * Jaccard by < 1e-3 and both engines hash identically, so the gate
      * stays bit-exact. Hash arrays stay OUT of the band shuffle —
      * candidates re-join them by doc_id, so the wide data moves once.
      *
      * EXACT-COPY COLLAPSE (the production ordering: exact dedup before
      * near-dup): a web-scale corpus is 30-50% byte-identical copies, and
      * copies are poison for a pair join — a group of g identical
      * documents shares every band, so it alone contributes g·(g-1)/2
      * candidate pairs that the verify stage re-proves are jaccard 1.0.
      * Instead, documents with an IDENTICAL hashed-shingle array collapse
      * to one representative (min doc_id over a window partitioned by the
      * array itself — exact equality, no fingerprint collision risk);
      * banding and verification run over representatives only, and member
      * pairs are expanded back afterwards. Bit-exact by construction:
      * identical arrays ⇒ identical MinHash signatures ⇒ identical bands
      * (every member pair is a candidate) and jaccard exactly 1.0, while
      * cross-group pairs score the same jaccard as their representatives.
      * Verified on the 10× probe (10 exact copies per doc): candidate and
      * verify work stays at unique-content size instead of growing 100×.
      */
    def nearDupPairsOn(docsRaw: DataFrame, hvCol: Column, cfg: LshConfig): DataFrame = {
      // widen BEFORE hashing: the shingle/minhash computation is the
      // dominant per-row cost and must not serialize onto one task when
      // the source is a single-row-group file (see ScaleOps.widen)
      val hashed = graft.ops.ScaleOps.widen(docsRaw)
        .select(col("doc_id"), hvCol.as("hv"))
        .filter(size(col("hv")) > 0)
      // one shuffle by hash(hv) labels every doc with its group min; the
      // cached table then serves the membership expansions (narrow) and
      // the representative set (filter) without re-running the hashing
      val w = Window.partitionBy(col("hv"))
      val withRep = graft.ops.Caches.persist(
        hashed.withColumn("rep", min(col("doc_id")).over(w)))
      val membership = withRep.select(col("rep"), col("doc_id"))
      // The representative table feeds four plan branches (both band
      // sides, both verify joins); persist it and the band rows so the
      // work runs once, not 4× — the C1 pattern the reference applies at
      // the same fan-out points. At cluster scale the same role is played
      // by checkpointing the signature table.
      val uniq = withRep.filter(col("doc_id") === col("rep")).select(col("doc_id"), col("hv"))
      val b = graft.ops.Caches.persist(banded(uniq, cfg))
      val candidates = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val repPairs = candidates
        .join(uniq.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), "doc_a")
        .join(uniq.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), jaccard(col("hv_a"), col("hv_b")).as("jaccard"))
        .filter(col("jaccard") >= cfg.threshold)
      // expand representative pairs to member pairs (cross-group — the
      // groups are disjoint so least/greatest re-orients without dups) …
      val cross = repPairs
        .join(membership.select(col("rep").as("doc_a"), col("doc_id").as("ma")), "doc_a")
        .join(membership.select(col("rep").as("doc_b"), col("doc_id").as("mb")), "doc_b")
        .select(least(col("ma"), col("mb")).as("doc_a"),
          greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
      // … and add within-group pairs: identical arrays share every band
      // and score jaccard exactly 1.0, so every such pair is in the
      // uncollapsed output unconditionally (threshold ≤ 1). Group-local
      // self-join; its size is output size, not candidate blowup.
      val intra = membership.as("ma").join(membership.as("mb"),
          col("ma.rep") === col("mb.rep") && col("ma.doc_id") < col("mb.doc_id"))
        .select(col("ma.doc_id").as("doc_a"), col("mb.doc_id").as("doc_b"),
          lit(1.0).as("jaccard"))
      cross.unionByName(intra)
    }

    /** The fused one-pass form of `array_distinct(baseHashes(shingles(c)))`
      * — value-identical (tested), an order of magnitude fewer per-row
      * allocations.
      */
    def shingleHashes(c: Column, n: Int = 3): Column =
      org.apache.spark.sql.GraftColumnShim.column(
        graft.plans.ShingleHashes(
          org.apache.spark.sql.GraftColumnShim.expression(c), n))

    /** Word-3-gram near-dup pairs (the original operator), hashing through
      * the fused codegen'd [[graft.plans.ShingleHashes]].
      */
    def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
      nearDupPairsOn(Tables.documents(spark, dir), shingleHashes(col("text")), WordConfig)

    /** Character-5-gram near-dup pairs — the n-gram Jaccard dedup family
      * member, robust to token-boundary edits. Char windows are ~charlen
      * per doc, so hashing runs through the one-pass codegen'd
      * [[graft.plans.NGramPolyHash]] instead of split/zip/md5 plumbing.
      */
    def charGramPairs(spark: SparkSession, dir: String): DataFrame =
      nearDupPairsOn(Tables.documents(spark, dir),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.NGramPolyHash(
            org.apache.spark.sql.GraftColumnShim.expression(col("text")), 5)),
        CharConfig)

    /** DuckDB twin of [[baseHashes]] over a shingle-list SQL expression:
      * hex fold of the first 12 md5 chars (== Spark's conv), mod p,
      * distinct.
      */
    def baseHashesSql(shingleSql: String): String = {
      val fold = TextOps.md5HexFold12Sql("d")
      s"list_distinct(list_transform(list_transform($shingleSql, x -> md5(x)), d -> ($fold) % $P))"
    }

    def oracleOn(hvSql: String, cfg: LshConfig): String = {
      val sigCols = (0 until cfg.numHashes).map { i =>
        s"list_aggregate(list_transform(hv, h -> (h * ${hashA(i)} + ${hashB(i)}) % $P), 'min') AS h$i"
      }.mkString(",\n    ")
      val bandCols = (0 until cfg.bands).map { j =>
        val parts = (0 until cfg.rowsPerBand)
          .map(r => s"h${j * cfg.rowsPerBand + r}").mkString(" || '|' || ")
        s"md5($parts)"
      }.mkString(", ")
      s"""WITH hashed AS (
         |  SELECT doc_id, $hvSql AS hv FROM documents
         |), nonempty AS (
         |  SELECT * FROM hashed WHERE len(hv) > 0
         |), sig AS (
         |  SELECT doc_id, hv,
         |    $sigCols
         |  FROM nonempty
         |), bandarr AS (
         |  SELECT doc_id, [$bandCols] AS bands FROM sig
         |), banded AS (
         |  SELECT doc_id, i - 1 AS band, bands[i] AS band_hash
         |  FROM bandarr, unnest(range(1, ${cfg.bands + 1})) AS t(i)
         |), candidates AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
         |)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(len(list_intersect(a.hv, b.hv)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.hv, b.hv))) AS jaccard
         |FROM candidates c
         |JOIN nonempty a ON a.doc_id = c.doc_a
         |JOIN nonempty b ON b.doc_id = c.doc_b
         |WHERE CAST(len(list_intersect(a.hv, b.hv)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.hv, b.hv))) >= ${cfg.threshold}""".stripMargin
    }

    def oracle: String = oracleOn(baseHashesSql(shinglesSql("text")), WordConfig)
    def charGramOracle: String =
      oracleOn(graft.plans.NGramPolyHash.sql("text", 5), CharConfig)

    /** Incremental near-dup filter — the production "dedupe the new crawl
      * batch against the already-indexed corpus" shape: every ingestion
      * cycle after the first runs THIS, not the full corpus×corpus join.
      * A batch document is dropped when it shares ≥1 LSH band with an
      * index document AND verifies at jaccard ≥ threshold; surviving
      * batch docs are what gets appended to the index.
      *
      * The scale property that makes it incremental: the candidate join
      * is BATCH bands × INDEX bands — never index×index — so candidate
      * work is proportional to the new batch, not the accumulated corpus,
      * and the index side's signatures/bands are exactly what
      * [[PairTable]]-style checkpoints would serve precomputed (here both
      * sides derive from one fixture table, split on `doc_id % 10`). The
      * verify join moves hashed-long arrays for candidate batch docs
      * only. Within-batch near-dups are [[nearDupPairs]]' job
      * (`dedupCorpus`), not this filter's — dropping them here would
      * double-count against the index append.
      */
    def incrementalKeep(spark: SparkSession, dir: String): DataFrame = {
      val hashed = graft.ops.Caches.persist(
        graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
          .select(col("doc_id"), shingleHashes(col("text")).as("hv"))
          .filter(size(col("hv")) > 0))
      val isBatch = col("doc_id") % 10 === 0
      val batch = hashed.filter(isBatch)
      val index = hashed.filter(!isBatch)
      val bandsB = banded(batch, WordConfig)
      val bandsI = banded(index, WordConfig)
      val candidates = bandsB.as("x").join(bandsI.as("y"),
          col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
        .select(col("x.doc_id").as("doc_b"), col("y.doc_id").as("doc_i"))
        .distinct()
      val dropped = candidates
        .join(batch.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
        .join(index.select(col("doc_id").as("doc_i"), col("hv").as("hv_i")), "doc_i")
        .filter(jaccard(col("hv_b"), col("hv_i")) >= WordConfig.threshold)
        .select(col("doc_b").as("doc_id")).distinct()
      batch.select(col("doc_id")).join(dropped, Seq("doc_id"), "left_anti")
    }

    /** DuckDB twin: same band/verify algebra as [[oracleOn]], restricted
      * to batch×index candidate pairs, then batch ∖ dropped.
      */
    def incrementalOracle: String = {
      val hvSql = baseHashesSql(shinglesSql("text"))
      val cfg = WordConfig
      val sigCols = (0 until cfg.numHashes).map { i =>
        s"list_aggregate(list_transform(hv, h -> (h * ${hashA(i)} + ${hashB(i)}) % $P), 'min') AS h$i"
      }.mkString(",\n    ")
      val bandCols = (0 until cfg.bands).map { j =>
        val parts = (0 until cfg.rowsPerBand)
          .map(r => s"h${j * cfg.rowsPerBand + r}").mkString(" || '|' || ")
        s"md5($parts)"
      }.mkString(", ")
      s"""WITH hashed AS (
         |  SELECT doc_id, $hvSql AS hv FROM documents
         |), nonempty AS (
         |  SELECT * FROM hashed WHERE len(hv) > 0
         |), sig AS (
         |  SELECT doc_id, hv, $sigCols FROM nonempty
         |), bandarr AS (
         |  SELECT doc_id, [$bandCols] AS bands FROM sig
         |), banded AS (
         |  SELECT doc_id, i - 1 AS band, bands[i] AS band_hash
         |  FROM bandarr, unnest(range(1, ${cfg.bands + 1})) AS t(i)
         |), dropped AS (
         |  SELECT DISTINCT x.doc_id
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.band_hash = y.band_hash
         |   AND x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
         |  JOIN nonempty a ON a.doc_id = x.doc_id
         |  JOIN nonempty b ON b.doc_id = y.doc_id
         |  WHERE CAST(len(list_intersect(a.hv, b.hv)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.hv, b.hv))) >= ${cfg.threshold}
         |)
         |SELECT doc_id FROM nonempty
         |WHERE doc_id % 10 = 0
         |  AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin
    }
  }

  /** Session-lifetime checkpoint of the word-shingle near-dup pair table.
    *
    * The pair table is orders of magnitude smaller than the corpus, so
    * the production shape is: run the LSH ONCE, materialize the pairs as
    * a table, and let every downstream consumer (the apply anti-join,
    * audits, cluster reports) re-read the materialized table instead of
    * re-running shingle→minhash→band→verify. This is the checkpoint-reuse
    * pattern [[MinHashLSH.nearDupPairsOn]]'s scaladoc names; `persist()`
    * alone cannot provide it because the consumers run as separate
    * queries (and the bench clears cache between them).
    *
    * Storage contract (shared-path base, per-JVM nonce isolation,
    * freshness, ordered shutdown cleanup): [[graft.sources.Checkpoints]].
    */
  object PairTable {
    val DirConf = "spark.graft.pairs.dir"

    private def materialize(spark: SparkSession, key: String)
                           (build: => DataFrame): DataFrame =
      graft.sources.Checkpoints.materialize(spark, DirConf, "_graft_pairs", key)(build)

    private def digest(dir: String): String = graft.sources.Checkpoints.digest(dir)

    def wordPairs(spark: SparkSession, dir: String): DataFrame =
      materialize(spark, digest(dir))(MinHashLSH.nearDupPairs(spark, dir))

    /** Checkpointed connected components of [[wordPairs]] — the cluster
      * table every downstream consumer (apply, audits, reports) re-reads
      * instead of re-running the label propagation.
      */
    def wordClusters(spark: SparkSession, dir: String): DataFrame =
      materialize(spark, digest(dir) + "_cc")(Components.of(wordPairs(spark, dir)))
  }

  /** Connected components of the near-dup pair graph, so duplicate
    * CLUSTERS collapse exactly — not just LSH-connected ones. The naive
    * "drop every doc_b" rule keeps the pair-min per edge, which is the
    * cluster min only when the min shares a band with every other member:
    * a chain A~B~C where (A,C) never collides keeps {A} for the A~B edge
    * but strands C's membership on B. Closing the graph fixes that.
    *
    * Shape: iterative synchronous min-label propagation over the PAIR
    * table (orders of magnitude smaller than the corpus — this loop never
    * touches a document). Each round joins the label table to the edge
    * list and takes the per-node min over self + neighbors; converges in
    * O(cluster diameter) rounds (near-dup clusters are shallow — dup
    * families link densely). `localCheckpoint` truncates the growing
    * lineage each round; the convergence check is a count on the tiny
    * label table. Output: (doc_id, cluster_id = component minimum), one
    * row per document that appears in ≥1 pair.
    */
  object Components {
    val MaxRounds = 64

    def of(pairs: DataFrame): DataFrame = {
      val edges = graft.ops.Caches.persist(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .distinct())
      var labels = graft.sources.Checkpoints.truncateLineage(
        edges.select(col("src").as("doc_id")).distinct()
          .withColumn("cluster_id", col("doc_id")))
      var changed = 1L
      var round = 0
      while (changed > 0 && round < MaxRounds) {
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("dst_label")), "dst")
          .groupBy(col("src")).agg(min(col("dst_label")).as("nbr_label"))
          .select(col("src").as("doc_id"), col("nbr_label"))
        // the changed flag rides INSIDE the checkpointed frame (label
        // shrank iff some neighbor label beat it), so convergence is a
        // filter+count over the just-materialized checkpoint — the
        // previous shape re-joined next against labels, one extra
        // shuffle-join job per round on every clusters/apply query
        val next = graft.sources.Checkpoints.truncateLineage(
          labels.join(nbrMin, Seq("doc_id"), "left")
            .select(col("doc_id"),
              least(col("cluster_id"), coalesce(col("nbr_label"), col("cluster_id")))
                .as("cluster_id"),
              (col("cluster_id") >
                coalesce(col("nbr_label"), col("cluster_id"))).as("chg")))
        changed = next.filter(col("chg")).count()
        labels = next.select(col("doc_id"), col("cluster_id"))
        round += 1
      }
      edges.unpersist()
      require(changed == 0,
        s"component labels did not converge in $MaxRounds rounds — pathological pair graph")
      labels
    }

    /** DuckDB twin: transitive closure by recursive CTE, min reachable
      * node per source — the textbook SQL definition the propagation
      * loop must agree with.
      */
    def oracleOn(pairsSql: String): String =
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src""".stripMargin

    /** The non-representative set as a SQL clause body (docs to drop). */
    def dropSetSqlOn(pairsSql: String): String =
      s"""SELECT doc_id FROM (${oracleOn(pairsSql)}) WHERE doc_id <> cluster_id"""
  }

  /** Apply near-dup dedup: keep exactly ONE representative (the minimum
    * doc_id) per connected component of the pair graph, plus every
    * unpaired document. Closing components first ([[Components.of]])
    * makes transitive chains collapse even when the endpoints never
    * share an LSH band. The corpus-side work is still one anti-join
    * against a pair-table-sized (broadcast-able) drop set — the
    * label-propagation rounds run over the tiny pair table only.
    */
  /** Drop sets up to this many ids get an explicit broadcast hint (the
    * label table comes out of `localCheckpoint`, whose unknown size stats
    * would otherwise push the static planner to shuffle the CORPUS by
    * doc_id). Above it — a pathologically duplicate-heavy corpus — the
    * hint is withheld so the anti-join degrades to a shuffle join instead
    * of an executor-OOM broadcast. 10⁷ longs ≈ 80 MB broadcast.
    */
  val BroadcastMaxDropRows = 10000000L

  def dropNearDups(docs: DataFrame, pairs: DataFrame): DataFrame =
    dropNearDupsFromClusters(docs, Components.of(pairs))

  /** The checkpoint-aware apply: consumes an already-materialized cluster
    * table (e.g. [[PairTable.wordClusters]]) so call sites that share a
    * corpus pay the label-propagation loop ONCE — `dropNearDups(docs,
    * pairs)` re-runs [[Components.of]] (eager: checkpoint rounds + counts
    * at DataFrame-construction time) on every call, which is only right
    * for ad-hoc pair tables.
    */
  def dropNearDupsFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val drop = clusters
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    // counting the checkpointed label table is O(pair-table) — free next
    // to the corpus scan it sizes the join for
    val side = if (drop.count() <= BroadcastMaxDropRows) broadcast(drop) else drop
    docs.join(side, Seq("doc_id"), "left_anti")
  }

  object SimHash {
    /** Signature width. 16 bits keeps the expression tree (16 md5 probes
      * per token) oracle-expressible; a production 64-bit variant belongs in
      * a custom Catalyst Expression (one md5 per token, bit-sliced).
      */
    val Bits = 16

    private val HighHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")

    /** Token digest array — materialize THIS as a column (one md5 per
      * token), then feed [[simhashOf]]. The bit counters reference the
      * digest array 17 times; if the md5 transform were inlined there
      * (higher-order functions get no common-subexpression elimination),
      * every reference would re-hash every token — the same Catalyst
      * lambda-substitution trap as [[Dedup.shingles]].
      */
    def tokenDigests(c: Column): Column =
      transform(array_distinct(TextOps.tokenize(c)), t => md5(t))

    /** SimHash over a MATERIALIZED digest-array column: bit i is set iff
      * the majority of token hashes have hex digit i's high bit set.
      * Per-row, shuffle-free.
      */
    def simhashOf(digests: Column): Column = {
      val n = size(digests)
      val bitCols = (0 until Bits).map { i =>
        val cnt = size(filter(digests, m => substring(m, i + 1, 1).isin(HighHex: _*)))
        when(cnt * 2 > n, lit(1L << i)).otherwise(lit(0L))
      }
      bitCols.reduce(_ + _).as("simhash")
    }

    /** Convenience single-expression form — only safe where the input is
      * already a plain column reference (tests); pipelines should go
      * through [[tokenDigests]] + [[simhashOf]].
      */
    def simhash(c: Column): Column = simhashOf(tokenDigests(c))

    def simhashSql(c: String): String = {
      val digests = s"list_transform(list_distinct(${TextOps.tokenizeSql(c)}), t -> md5(t))"
      val hexList = HighHex.map(h => s"'$h'").mkString(", ")
      val bitTerms = (0 until Bits).map { i =>
        s"CASE WHEN 2 * len(list_filter(tt, m -> substring(m, ${i + 1}, 1) IN ($hexList))) > len(tt) THEN ${1L << i} ELSE 0 END"
      }.mkString(" + ")
      s"(SELECT $bitTerms FROM (SELECT $digests AS tt))"
    }

    /** Hamming distance between two signatures (for near-dup banding by
      * signature prefix at scale).
      */
    def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

    /** Verify threshold for the banded pair join. Recall is GUARANTEED
      * for Hamming ≤ [[graft.plans.SimHash48.NumBands]]−1 = 3 (pigeonhole:
      * 3 flipped bits leave ≥1 of 4 bands intact); 4–6 is partial recall —
      * the honest production trade-off, and the oracle replicates the
      * bucketing so the gate is exact either way (same discipline as the
      * sign-LSH embedding family).
      */
    val HammingMax = 6

    /** 48-bit production signature over a feature-array column — the
      * codegen'd [[graft.plans.SimHash48]] expression.
      */
    def simhash48Of(features: Column): Column =
      org.apache.spark.sql.GraftColumnShim.column(
        graft.plans.SimHash48(
          org.apache.spark.sql.GraftColumnShim.expression(features)))

    /** Document signature over word-3-gram SHINGLE features, not unigram
      * tokens: on a templated corpus every document shares most of the
      * vocabulary, so unigram majority votes correlate across the whole
      * corpus (measured on the fixture: 17k pairs within Hamming 6,
      * including Hamming-0 collisions between unrelated docs). Shingles
      * decorrelate — shared words in different orders yield different
      * features — which is why production simhash systems feed n-grams.
      */
    def simhash48(c: Column): Column = simhash48Of(shingles(c))

    /** Banded SimHash near-dup pairs: signatures bucket on 4 bands of 12
      * bits (4096 buckets/band — candidates shrink O(n²/4096), never
      * all-pairs); only bucket-mates are Hamming-verified. The signature
      * is ONE long, so unlike MinHash there is no wide array to keep out
      * of the shuffle — the band rows carry it and no re-join is needed.
      * Documents with no shingles (< 3 tokens) are excluded: a degenerate
      * all-zero signature would pair every short doc with every other.
      *
      * Signature-collapse (the SimHash form of [[MinHashLSH.nearDupPairsOn]]'s
      * exact-copy collapse): banding and the pair join run over DISTINCT
      * signatures only — band membership and Hamming distance are fully
      * determined by the signature, so a group of g same-signature docs
      * (exact copies, or hash-equivalent near-copies) is one banding row
      * instead of g quadratic bucket-mates. Member pairs expand back
      * afterwards: cross-group with the representatives' hamming,
      * within-group with hamming 0 (≤ any verify threshold). Bit-exact.
      */
    def nearDupPairs48(spark: SparkSession, dir: String): DataFrame = {
      import graft.plans.SimHash48.{BandBits, BandMask, NumBands}
      val sigs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
        .select(col("doc_id"), shingles(col("text")).as("ft"))
        .filter(size(col("ft")) > 0)
        .select(col("doc_id"), simhash48Of(col("ft")).as("sh"))
      val w = Window.partitionBy(col("sh"))
      val withRep = graft.ops.Caches.persist(
        sigs.withColumn("rep", min(col("doc_id")).over(w)))
      val membership = withRep.select(col("rep"), col("doc_id"))
      val uniq = withRep.filter(col("doc_id") === col("rep")).select(col("doc_id"), col("sh"))
      val bandArr = array((0 until NumBands).map(j =>
        shiftright(col("sh"), j * BandBits).bitwiseAND(lit(BandMask))): _*)
      val banded = uniq.select(col("doc_id"), col("sh"),
        posexplode(bandArr).as(Seq("band", "bv")))
      val repPairs = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          hamming(col("x.sh"), col("y.sh")).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= HammingMax)
      val cross = repPairs
        .join(membership.select(col("rep").as("doc_a"), col("doc_id").as("ma")), "doc_a")
        .join(membership.select(col("rep").as("doc_b"), col("doc_id").as("mb")), "doc_b")
        .select(least(col("ma"), col("mb")).as("doc_a"),
          greatest(col("ma"), col("mb")).as("doc_b"), col("hamming"))
      val intra = membership.as("ma").join(membership.as("mb"),
          col("ma.rep") === col("mb.rep") && col("ma.doc_id") < col("mb.doc_id"))
        .select(col("ma.doc_id").as("doc_a"), col("mb.doc_id").as("doc_b"),
          lit(0L).as("hamming"))
      cross.unionByName(intra)
    }

    def nearDup48Oracle: String = {
      import graft.plans.SimHash48.{BandBits, BandMask, NumBands}
      val sigSql = graft.plans.SimHash48.sql("ft")
      s"""WITH feats AS (
         |  SELECT doc_id, ${shinglesSql("text")} AS ft FROM documents
         |), sigs AS (
         |  SELECT doc_id, $sigSql AS sh FROM feats WHERE len(ft) > 0
         |),
         |banded AS (
         |  SELECT doc_id, sh, j AS band, (sh >> ($BandBits * j)) & $BandMask AS bv
         |  FROM sigs, unnest(range(0, $NumBands)) AS t(j)
         |)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
         |FROM banded x JOIN banded y
         |  ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sh, y.sh)) <= $HammingMax""".stripMargin
    }
  }

  /** Content-defined chunking — duplicated-SPAN detection, the
    * sub-document granularity the whole-doc families can't see (quotes,
    * boilerplate, partial copies). [[graft.plans.CdcChunks]] splits at
    * local-content boundaries, so a shared span chunks identically in
    * any two documents; the chunk-hash table then finds cross-document
    * duplicates with one aggregate. Also the RAG-chunker shape.
    */
  object Cdc {
    import graft.plans.CdcChunks

    def chunkCol(c: Column): Column =
      org.apache.spark.sql.GraftColumnShim.column(
        CdcChunks(org.apache.spark.sql.GraftColumnShim.expression(c),
          CdcChunks.DefaultW, CdcChunks.DefaultDivisor))

    /** (doc_id, chunk_idx, chunk_md5, chunk_len) — the chunk table. */
    def chunkTable(spark: SparkSession, dir: String): DataFrame =
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
        .select(col("doc_id"), posexplode(chunkCol(col("text"))).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"),
          length(col("chunk")).cast("long").as("chunk_len"))

    /** Spans appearing in more than one document. */
    def sharedChunks(spark: SparkSession, dir: String): DataFrame =
      chunkTable(spark, dir)
        .groupBy(col("chunk_md5"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)

    def chunkTableOracle: String = {
      val bSql = CdcChunks.boundariesSql("text", CdcChunks.DefaultW, CdcChunks.DefaultDivisor)
      s"""WITH withb AS (
         |  SELECT doc_id, text, $bSql AS b FROM documents
         |), chunked AS (
         |  SELECT doc_id, ${CdcChunks.slicesSql("text", "b")} AS ch FROM withb
         |)
         |SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
         |  md5(ch[i]) AS chunk_md5,
         |  CAST(length(ch[i]) AS BIGINT) AS chunk_len
         |FROM chunked, unnest(range(1, len(ch) + 1)) AS t(i)""".stripMargin
    }

    def sharedChunksOracle: String =
      s"""SELECT chunk_md5, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM ($chunkTableOracle)
         |GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) > 1""".stripMargin

    /** Exact duplicated-SPAN removal at chunk granularity — the
      * "Deduplicating Training Data" operation (Lee et al. 2022) with CDC
      * chunks standing in for suffix-array spans: every chunk whose
      * content appears in MORE THAN ONE document is cut from all of them,
      * and each document is reassembled from its surviving chunks in
      * order. Because CDC boundaries are content-defined, a shared
      * passage chunks identically in every document containing it
      * regardless of surrounding text — that invariance is what makes
      * chunk-identity a faithful span-dedup proxy.
      *
      * Output per ORIGINAL document (empty/fully-scrubbed docs included,
      * as empties): (doc_id, n_chunks, n_dropped, clean_text, clean_len).
      * Since chunks partition the text, a doc with n_dropped = 0 round
      * trips EXACTLY (spec-pinned).
      *
      * Scale: the shared-md5 set holds only duplicated chunk hashes
      * (≪ corpus; AQE broadcasts it when small, falls back to a shuffled
      * anti join when not), so chunk text crosses at most one shuffle —
      * the per-doc reassembly groupBy; reassembly memory is bounded by
      * one document.
      */
    def scrubSharedSpans(spark: SparkSession, dir: String): DataFrame =
      scrubOf(Tables.documents(spark, dir))

    def scrubOf(docs: DataFrame): DataFrame = {
      // the chunk table feeds three consumers (shared-hash aggregate,
      // per-doc totals, the anti-join reconstruction) whose exchanges
      // differ, so nothing upstream is reusable: persist it (Caches
      // registry) or the CDC chunking + md5 pass runs three times
      // (optimization r15, the C1 fan-out discipline)
      val chunks = graft.ops.Caches.persist(graft.ops.ScaleOps.widen(docs)
        .select(col("doc_id"), posexplode(chunkCol(col("text"))).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"), col("chunk")))
      val shared = chunks.groupBy(col("chunk_md5"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select(col("chunk_md5"))
      val totals = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_all"))
      val recon = chunks.join(shared, Seq("chunk_md5"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
              x => x.getField("chunk")), "").as("clean"))
      docs.select(col("doc_id"))
        .join(totals, Seq("doc_id"), "left")
        .join(recon, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_all"), lit(0L)).as("n_chunks"),
          (coalesce(col("n_all"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
            .as("n_dropped"),
          coalesce(col("clean"), lit("")).as("clean_text"),
          length(coalesce(col("clean"), lit(""))).cast("long").as("clean_len"))
    }

    // ---- recall gate vs EXACT duplicated substrings (VERDICT r10 #4):
    // the CDC scrub is a PROXY for Lee et al. 2022's suffix-array span
    // dedup; this fixture makes the proxy's recall a measured, gated
    // number instead of a claim. Construction: group g = doc_id div 4
    // shares one ~590-char / 75-word span S_g; each doc wraps it in
    // 20-word prefix/suffix text unique to the doc (doc_id inside every
    // word, and a per-doc group letter at each boundary so the exact
    // maximal duplicated substring is S_g plus one space each side —
    // known in closed form). Because prefix/suffix chunks are unique
    // they survive the scrub intact, so: every removed char lies inside
    // the shared span (precision 1, pinned structurally by
    // intact = clean starts-with prefix AND ends-with suffix), and
    // recall = removed/|S| — shortfall bounded by the two boundary
    // chunks that straddle doc-unique text (≈ 2×64 expected chars of
    // ~590). `CdcScrubSpec` pins the measured floor.

    /** (doc_id, text, pre, suf, pre_len, span_len, suf_len). */
    def recallPlanted(docs: DataFrame): DataFrame = {
      val id = col("doc_id").cast("string")
      val g = expr("doc_id div 4").cast("string")
      val lch = expr("chr(65 + doc_id % 4)")
      val pre = concat(array_join(transform(sequence(lit(0), lit(19)),
        j => concat(lit("p"), id, lit("x"), j.cast("string"), lch)), " "), lit(" "))
      val span = array_join(transform(sequence(lit(0), lit(74)),
        j => concat(lit("s"), g, lit("w"), j.cast("string"))), " ")
      val suf = concat(lit(" "), array_join(transform(sequence(lit(0), lit(19)),
        j => concat(lch, lit("y"), j.cast("string"), lit("q"), id)), " "))
      docs.select(col("doc_id"), pre.as("pre"), span.as("span"), suf.as("suf"))
        .select(col("doc_id"), concat(col("pre"), col("span"), col("suf")).as("text"),
          col("pre"), col("suf"),
          length(col("pre")).cast("long").as("pre_len"),
          length(col("span")).cast("long").as("span_len"),
          length(col("suf")).cast("long").as("suf_len"))
    }

    /** q_cdc_recall: (doc_id, span_len, removed, removed_in_span,
      * recall_bp, precision_bp). Each removed chunk's byte range
      * (running offset over the doc's chunk list) is intersected with
      * the planted span's range, so the gate reports the two numbers
      * the Lee-et-al. proxy claim actually rests on, both in integer
      * basis points: recall = in-span removed ÷ |S| (shortfall = the
      * two boundary chunks straddling doc-unique text) and precision
      * = in-span removed ÷ all removed (shortfall = pathologically
      * SHORT chunks — the CDC rule has no minimum length, and a 2-char
      * chunk like ` s` recurs across unrelated documents; measured,
      * not hidden). `CdcScrubSpec` pins the floors.
      */
    def spanRecall(spark: SparkSession, dir: String): DataFrame = {
      val planted = recallPlanted(Tables.documents(spark, dir))
      // same three-consumer fan-out as scrubOf (running-offset window,
      // shared-hash aggregate, semi-join) — persist the chunk pass
      val chunks = graft.ops.Caches.persist(graft.ops.ScaleOps.widen(planted)
        .select(col("doc_id"), col("pre_len"), col("span_len"),
          posexplode(chunkCol(col("text"))).as(Seq("idx", "chunk")))
        .select(col("doc_id"), col("pre_len"), col("span_len"), col("idx"),
          md5(col("chunk")).as("m"), length(col("chunk")).cast("long").as("clen")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("idx"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val pos = chunks.withColumn("cstart", coalesce(sum(col("clen")).over(w), lit(0L)))
      val shared = chunks.groupBy(col("m"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select(col("m"))
      val agg = pos.join(shared, Seq("m"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(sum(col("clen")).as("removed"),
          sum(greatest(lit(0L),
            least(col("cstart") + col("clen"), col("pre_len") + col("span_len"))
              - greatest(col("cstart"), col("pre_len")))).as("removed_in_span"))
      planted.select(col("doc_id"), col("span_len"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("span_len"),
          coalesce(col("removed"), lit(0L)).as("removed"),
          coalesce(col("removed_in_span"), lit(0L)).as("removed_in_span"),
          expr("coalesce(removed_in_span, 0L) * 10000L DIV span_len").as("recall_bp"),
          expr("CASE WHEN coalesce(removed, 0L) = 0L THEN 10000L " +
            "ELSE removed_in_span * 10000L DIV removed END").as("precision_bp"))
    }

    def spanRecallOracle: String = {
      val bSql = CdcChunks.boundariesSql("text", CdcChunks.DefaultW, CdcChunks.DefaultDivisor)
      s"""WITH ids AS (
         |  SELECT doc_id, chr(65 + CAST(doc_id % 4 AS INTEGER)) AS lch,
         |    doc_id // 4 AS g
         |  FROM documents),
         |built AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(range(0, 20),
         |      j -> 'p' || doc_id || 'x' || j || lch), ' ') || ' ' AS pre,
         |    array_to_string(list_transform(range(0, 75),
         |      j -> 's' || g || 'w' || j), ' ') AS span,
         |    ' ' || array_to_string(list_transform(range(0, 20),
         |      j -> lch || 'y' || j || 'q' || doc_id), ' ') AS suf
         |  FROM ids),
         |d AS (
         |  SELECT doc_id, pre || span || suf AS text, pre, suf,
         |    strlen(pre) AS pre_len, strlen(span) AS span_len,
         |    strlen(suf) AS suf_len
         |  FROM built),
         |withb AS (
         |  SELECT doc_id, text, pre_len, span_len, $bSql AS b FROM d
         |), chunked AS (
         |  SELECT doc_id, pre_len, span_len,
         |    ${CdcChunks.slicesSql("text", "b")} AS ch
         |  FROM withb
         |), chunks AS (
         |  SELECT doc_id, pre_len, span_len, i - 1 AS idx, md5(ch[i]) AS m,
         |    CAST(strlen(ch[i]) AS BIGINT) AS clen
         |  FROM chunked, unnest(range(1, len(ch) + 1)) AS t(i)
         |), pos AS (
         |  SELECT *, COALESCE(SUM(clen) OVER (PARTITION BY doc_id ORDER BY idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cstart
         |  FROM chunks
         |), shared AS (
         |  SELECT m FROM chunks GROUP BY m HAVING count(DISTINCT doc_id) > 1
         |), agg AS (
         |  SELECT doc_id, SUM(clen) AS removed,
         |    SUM(greatest(0, least(cstart + clen, pre_len + span_len)
         |      - greatest(cstart, pre_len))) AS removed_in_span
         |  FROM pos WHERE m IN (SELECT m FROM shared)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(span_len AS BIGINT) AS span_len,
         |  CAST(COALESCE(removed, 0) AS BIGINT) AS removed,
         |  CAST(COALESCE(removed_in_span, 0) AS BIGINT) AS removed_in_span,
         |  CAST(COALESCE(removed_in_span, 0) * 10000 // span_len AS BIGINT)
         |    AS recall_bp,
         |  CAST(CASE WHEN COALESCE(removed, 0) = 0 THEN 10000
         |    ELSE removed_in_span * 10000 // removed END AS BIGINT)
         |    AS precision_bp
         |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    }

    def scrubOracle: String = {
      val bSql = CdcChunks.boundariesSql("text", CdcChunks.DefaultW, CdcChunks.DefaultDivisor)
      s"""WITH withb AS (
         |  SELECT doc_id, text, $bSql AS b FROM documents
         |), chunked AS (
         |  SELECT doc_id, ${CdcChunks.slicesSql("text", "b")} AS ch FROM withb
         |), chunks AS (
         |  SELECT doc_id, i - 1 AS idx, ch[i] AS chunk, md5(ch[i]) AS m
         |  FROM chunked, unnest(range(1, len(ch) + 1)) AS t(i)
         |), shared AS (
         |  SELECT m FROM chunks GROUP BY m HAVING count(DISTINCT doc_id) > 1
         |), totals AS (
         |  SELECT doc_id, count(*) AS n_all FROM chunks GROUP BY doc_id
         |), recon AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(chunk, '' ORDER BY idx) AS clean
         |  FROM chunks WHERE m NOT IN (SELECT m FROM shared)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(t.n_all, 0) AS BIGINT) AS n_chunks,
         |  CAST(coalesce(t.n_all, 0) - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
         |  coalesce(r.clean, '') AS clean_text,
         |  CAST(length(coalesce(r.clean, '')) AS BIGINT) AS clean_len
         |FROM documents d
         |LEFT JOIN totals t USING (doc_id)
         |LEFT JOIN recon r USING (doc_id)""".stripMargin
    }
  }

  // ---- query registry ----

  /** X186: the dedup-IMPACT report — the table a data team reads to
    * decide whether running the collapse is worth the compute: a
    * cluster-size histogram with the doc and token savings each size
    * class buys. Rides the CHECKPOINTED cluster table (the X23
    * pair-table consumer discipline: no LSH re-run), joins the corpus
    * only for per-doc token counts, then two cluster-sized aggregates.
    * `dropped_*` counts everything but each cluster's representative
    * (the component-min doc — exactly what [[dropNearDupsFromClusters]]
    * keeps, so the report PREDICTS the apply step's effect row by row).
    * (cluster_size, n_clusters, docs, dropped_docs, dropped_toks).
    */
  def clusterReport(spark: SparkSession, dir: String): DataFrame = {
    val cl = PairTable.wordClusters(spark, dir)
    val tok = Tables.documents(spark, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("t"))
    cl.join(tok, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("t"))
          .otherwise(0L)).as("dtoks"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("docs"),
        sum(col("sz") - 1).as("dropped_docs"),
        sum(col("dtoks")).as("dropped_toks"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        col("docs"), col("dropped_docs"), col("dropped_toks"))
  }

  def clusterReportOracle: String =
    s"""WITH cl AS (
       |  SELECT * FROM (
       |${Components.oracleOn(MinHashLSH.oracle).linesIterator.map("    " + _).mkString("\n")}
       |  ) c),
       |tok AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
       |  FROM documents),
       |per AS (
       |  SELECT cluster_id, count(*) AS sz,
       |    SUM(CASE WHEN doc_id <> cluster_id THEN t ELSE 0 END) AS dtoks
       |  FROM cl JOIN tok USING (doc_id) GROUP BY cluster_id)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS docs,
       |  CAST(sum(sz - 1) AS BIGINT) AS dropped_docs,
       |  CAST(sum(dtoks) AS BIGINT) AS dropped_toks
       |FROM per GROUP BY sz""".stripMargin

  /** Quality-aware cluster REPRESENTATIVES (X190): instead of the
    * component-min doc_id the apply step keeps by default, keep each
    * cluster's HIGHEST-quality member — ties by doc_id asc so the
    * choice is total. Production dedup recipes do exactly this (the
    * canonical copy should be the cleanest one, not the one that
    * happened to crawl first); quality is the X9 exact-integer score
    * ([[graft.text.Analysis.qualityQFromTokens]]), so both engines
    * rank identically. Shape: one pair-table-sized metadata join +
    * one cluster-keyed window — never touches corpus text beyond the
    * per-member score already computed by the quality pass.
    */
  def repsOf(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("q").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"), col("q"))
  }

  def qualityReps(spark: SparkSession, dir: String): DataFrame =
    repsOf(PairTable.wordClusters(spark, dir),
      Tables.documents(spark, dir).select(col("doc_id"),
        graft.text.Analysis.qualityQFromTokens(
          graft.text.TextOps.tokenize(col("text"))).as("q")))

  def qualityRepsOracle: String =
    s"""WITH cl AS (
       |  SELECT * FROM (
       |${Components.oracleOn(MinHashLSH.oracle).linesIterator.map("    " + _).mkString("\n")}
       |  ) c),
       |qt AS (
       |  SELECT doc_id,
       |    ${graft.text.Analysis.qualityQSql(graft.text.TextOps.tokenizeSql("text"))} AS q
       |  FROM documents)
       |SELECT cluster_id, doc_id, q FROM (
       |  SELECT cl.cluster_id, cl.doc_id, qt.q,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY qt.q DESC, cl.doc_id) AS rn
       |  FROM cl JOIN qt USING (doc_id)) WHERE rn = 1""".stripMargin

  /** SOURCE-PRIORITY cluster representatives (X228) — the other
    * canonical-copy rule production recipes run (next to X190's
    * quality rule): when the corpus mixes provenances, the cluster
    * keeps its member from the most TRUSTED source (curated wiki
    * beats common crawl regardless of surface quality), ties by
    * doc_id. Priority here is the fixture's source rank (`srcN` → N,
    * lower = more trusted — a real deploy passes its own rank
    * table); same pair-table-sized join + cluster-keyed window shape
    * as [[repsOf]].
    */
  def repsBySource(clusters: DataFrame, meta: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("prio"), col("doc_id"))
    clusters.join(meta, "doc_id")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"), col("source"))
  }

  def sourceReps(spark: SparkSession, dir: String): DataFrame =
    repsBySource(PairTable.wordClusters(spark, dir),
      Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        expr("CAST(substring(source, 4) AS INT)").as("prio")))

  def sourceRepsOracle: String =
    s"""WITH cl AS (
       |  SELECT * FROM (
       |${Components.oracleOn(MinHashLSH.oracle).linesIterator.map("    " + _).mkString("\n")}
       |  ) c),
       |st AS (
       |  SELECT doc_id, source,
       |    CAST(substring(source, 4) AS INTEGER) AS prio
       |  FROM documents)
       |SELECT cluster_id, doc_id, source FROM (
       |  SELECT cl.cluster_id, cl.doc_id, st.source,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY st.prio, cl.doc_id) AS rn
       |  FROM cl JOIN st USING (doc_id)) WHERE rn = 1""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_dedup_exact" -> Query((s, dir) => Exact.dedupExact(Tables.documents(s, dir)), Exact.oracle),
    "q_dedup_rep_quality" -> Query((s, dir) => qualityReps(s, dir), qualityRepsOracle),
    "q_dedup_rep_source" -> Query((s, dir) => sourceReps(s, dir), sourceRepsOracle),
    "q_dedup_neardup" -> Query((s, dir) => MinHashLSH.nearDupPairs(s, dir), MinHashLSH.oracle),
    "q_dedup_chargram" -> Query((s, dir) => MinHashLSH.charGramPairs(s, dir),
      MinHashLSH.charGramOracle),
    // consumes the materialized pair TABLE (PairTable), not a re-run of
    // the LSH — q_dedup_neardup keeps the live pipeline so its bench
    // number stays honest, while apply demonstrates (and is timed as)
    // the checkpoint-reuse consumer: one anti-join over a tiny table.
    "q_dedup_apply" -> Query((s, dir) =>
      dropNearDupsFromClusters(
        Tables.documents(s, dir).select("doc_id", "lang", "source"),
        PairTable.wordClusters(s, dir)),
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (${Components.dropSetSqlOn(MinHashLSH.oracle)})""".stripMargin),
    "q_dedup_clusters" -> Query((s, dir) => PairTable.wordClusters(s, dir),
      Components.oracleOn(MinHashLSH.oracle)),
    "q_dedup_report" -> Query((s, dir) => clusterReport(s, dir), clusterReportOracle),
    "q_dedup_simhash" -> Query((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), SimHash.tokenDigests(col("text")).as("dg"))
        .select(col("doc_id"), SimHash.simhashOf(col("dg"))),
      s"SELECT doc_id, CAST(${SimHash.simhashSql("text")} AS BIGINT) AS simhash FROM documents"),
    "q_simhash_neardup" -> Query((s, dir) => SimHash.nearDupPairs48(s, dir),
      SimHash.nearDup48Oracle),
    "q_cdc_chunks" -> Query((s, dir) => Cdc.chunkTable(s, dir), Cdc.chunkTableOracle),
    "q_cdc_shared_chunks" -> Query((s, dir) => Cdc.sharedChunks(s, dir), Cdc.sharedChunksOracle),
    "q_cdc_scrub" -> Query((s, dir) => Cdc.scrubSharedSpans(s, dir), Cdc.scrubOracle),
    "q_cdc_recall" -> Query((s, dir) => Cdc.spanRecall(s, dir), Cdc.spanRecallOracle),
    "q_dedup_incremental" -> Query((s, dir) => MinHashLSH.incrementalKeep(s, dir),
      MinHashLSH.incrementalOracle)
  )
}
