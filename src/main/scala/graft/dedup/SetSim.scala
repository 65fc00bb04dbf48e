package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Exact set-similarity join with PREFIX FILTERING — the recall-1 exact
  * counterpart of the MinHash-LSH family (X2): every pair of documents
  * whose shingle-SET Jaccard is ≥ τ, with the exact intersection /
  * union sizes, and NOTHING missed. MinHash trades recall for speed
  * (a τ-pair can fail to collide in any band); this operator is what a
  * pipeline runs when the dedup decision must be auditable — the pair
  * list IS the ground truth the X31-style recall gates measure against.
  *
  * The trick that makes exactness affordable (the AllPairs/PPJoin
  * prefix-filter principle — public literature, re-derived here): order
  * each document's shingles by GLOBAL rarity (document frequency asc,
  * hash asc — a total order), and keep only the first
  * `p = |s| − ⌈τ·|s|⌉ + 1` as the document's PREFIX. Completeness: if
  * Jaccard(A,B) ≥ τ then |A∩B| ≥ τ·|A| (because |A∪B| ≥ |A|), so at
  * most ⌈τ|A|⌉ − 1 < |A∩B| shingles of A lie OUTSIDE the intersection's
  * order-minimum t... concretely: let t = the order-minimum of A∩B. If
  * t were outside A's prefix, all of A∩B would sit in A's last
  * ⌈τ|A|⌉ − 1 positions — fewer than |A∩B| slots. Contradiction; t is
  * in A's prefix, and symmetrically in B's. Every qualifying pair
  * therefore collides on at least one PREFIX×PREFIX shingle, and the
  * candidate join only carries each document's rarest few shingles —
  * exactly the ones with short postings lists.
  *
  * Scale shape: shingling is the X167 codegen `shingle_md5` scan; the
  * exchanges carry (doc_id, hash) pairs — text never shuffles. Document
  * frequency is one hash-keyed aggregate; the per-doc rarity order is a
  * doc-keyed window (never global — no rank over the corpus-sized
  * shingle vocabulary is ever materialized: the prefix needs only the
  * WITHIN-document order, which is the global order restricted to the
  * doc). The candidate join is prefix×prefix on the hash — by
  * construction the rarest shingles, so postings lists are short; the
  * verify join touches full sets only for surviving candidates. At τ =
  * 0.8 a candidate's verify cost is ∝ its own size, and candidates are
  * ∝ true near-dup mass, not corpus².
  *
  * Reference scope: no similarity-join surface in the reference (643
  * lines of ETL scripting); north-star LLM-pipeline machinery next to
  * `Dedup.MinHashLSH` (see SURVEY.md §2.12 X187).
  */
object SetSim {

  /** Jaccard threshold in basis points (0.8): the MinHash family's
    * published operating point, so the two operators are comparable on
    * the same corpus.
    */
  val TauBp = 8000

  /** Shingle width — the word-3-gram space MinHash banding uses. */
  val K = 3

  /** Distinct shingle-hash sets: (doc_id, h). Documents shorter than
    * [[K]] tokens have no shingles and are ABSENT (no evidence, no
    * verdict — the house contract).
    */
  def shingleSets(docs: DataFrame, k: Int = K): DataFrame =
    ExactSpans.shingleStarts(docs, k).select(col("doc_id"), col("h")).distinct()

  /** The prefix table (doc_id, h): each document's first
    * `sz − ⌈τ·sz⌉ + 1` shingles in global (df asc, h asc) rarity order
    * — ⌈τ·sz⌉ computed as `(tauBp·sz + 9999) DIV 10000`, all integer.
    */
  def prefixes(sets: DataFrame, tauBp: Int = TauBp): DataFrame =
    prefixesWith(sets,
      sets.groupBy(col("h")).agg(count(lit(1)).as("df")), tauBp)

  /** [[prefixes]] against an EXTERNAL document-frequency table — the
    * incremental path shares one rarity order across both sides.
    */
  def prefixesWith(sets: DataFrame, df: DataFrame, tauBp: Int): DataFrame = {
    val sized = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    sets.join(df, Seq("h"))
      .withColumn("rn", row_number().over(w))
      .join(sized, Seq("doc_id"))
      .filter(col("rn") <= expr(s"sz - (($tauBp * sz + 9999) DIV 10000) + 1"))
      .select(col("doc_id"), col("h"))
  }

  /** Candidate pairs (a < b) sharing at least one prefix shingle. */
  def candidates(sets: DataFrame, tauBp: Int = TauBp): DataFrame =
    candidatesFrom(prefixes(sets, tauBp))

  private def candidatesFrom(p: DataFrame): DataFrame =
    p.select(col("doc_id").as("a"), col("h"))
      .join(p.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()

  /** The exact join: (a, b, inter_sz, union_sz, jac_bp) for every pair
    * with Jaccard ≥ τ — jac_bp = ⌊10000·|A∩B| / |A∪B|⌋, all integer.
    *
    * EXACT-COPY COLLAPSE first (the X36 discipline
    * `MinHashLSH.nearDupPairsOn` applies): documents with identical
    * shingle SETS group under a set-fingerprint representative, the
    * prefix/verify machinery runs over UNIQUE sets only, and member
    * pairs are restored afterwards — cross-group pairs inherit the rep
    * pair's exact stats (identical sets, identical intersection),
    * within-group pairs are jac = 10000 with inter = union = sz
    * unconditionally (τ ≤ 1). Candidate and verify work is therefore ∝
    * unique CONTENT, not corpus size — on a copy-heavy corpus the
    * expansion's size is the output's size, never the join's.
    *
    * The unique-set table feeds five plan branches (df, prefix rank,
    * both verify sides, sizes) and the prefix table both candidate
    * sides — persist both so the shingle scan runs once, not seven
    * times (the C1 discipline; at cluster scale the same role is
    * played by checkpointing the signature table).
    */
  def similarityJoin(docs: DataFrame, tauBp: Int = TauBp, k: Int = K): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    val withRep = graft.ops.Caches.persist(docs
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.ShingleMd5(
          org.apache.spark.sql.GraftColumnShim.expression(col("text")),
          org.apache.spark.sql.GraftColumnShim.expression(lit(k)))).as("hs"))
      .select(col("doc_id"), array_sort(array_distinct(col("hs"))).as("hv"))
      .filter(size(col("hv")) > 0)
      .withColumn("fp", md5(array_join(col("hv"), "|")))
      .withColumn("rep", min(col("doc_id")).over(w)))
    val memb = withRep.select(col("rep"), col("doc_id"))
    val uniq = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("hv"))
    val sets = graft.ops.Caches.persist(uniq.select(col("doc_id"), explode(col("hv")).as("h")))
    // set size is the ARRAY's size — hv is already distinct — so no
    // count-aggregate pass over the exploded stream is needed
    val sized = uniq.select(col("doc_id"), size(col("hv")).cast("long").as("sz"))
    val p = graft.ops.Caches.persist(prefixes(sets, tauBp))
    // verify straight off the cached ARRAYS (optimization r15, guide
    // §2.4): the exploded form joined candidates×sets twice, aggregated
    // the intersection with a (a, b)-keyed exchange, then joined two
    // size tables — five exchanges after the candidate join. The array
    // form attaches each side's full (distinct, sorted) set in one
    // doc-keyed join each and computes |A∩B| per row with
    // array_intersect; sizes ride along as size(hv). Bytes are the same
    // class — the verify touches full sets of surviving candidates
    // either way — but the exchange count drops and nothing re-shuffles
    // by pair key. jac arithmetic unchanged (integer, oracle-mirrored).
    val repPairs = candidatesFrom(p)
      .join(uniq.select(col("doc_id").as("a"), col("hv").as("hva")), Seq("a"))
      .join(uniq.select(col("doc_id").as("b"), col("hv").as("hvb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("hva"), col("hvb"))).cast("long").as("inter_sz"),
        size(col("hva")).cast("long").as("sa"),
        size(col("hvb")).cast("long").as("sb"))
      .withColumn("union_sz", col("sa") + col("sb") - col("inter_sz"))
      .filter(col("inter_sz") * 10000 >= col("union_sz") * tauBp)
      .select(col("a"), col("b"), col("inter_sz"), col("union_sz"),
        expr("(10000 * inter_sz) DIV union_sz").as("jac_bp"))
    // cross-group expansion: groups are disjoint, least/greatest
    // re-orients without duplicates; stats carry over unchanged
    val cross = repPairs
      .join(memb.select(col("rep").as("a"), col("doc_id").as("ma")), Seq("a"))
      .join(memb.select(col("rep").as("b"), col("doc_id").as("mb")), Seq("b"))
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"),
        col("inter_sz"), col("union_sz"), col("jac_bp"))
    // within-group: identical sets, exact Jaccard 1 unconditionally
    val intra = memb.as("x").join(memb.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("x.rep").as("rep"))
      .join(sized.select(col("doc_id").as("rep"), col("sz")), Seq("rep"))
      .select(col("a"), col("b"), col("sz").as("inter_sz"),
        col("sz").as("union_sz"), lit(10000L).as("jac_bp"))
    cross.unionByName(intra)
  }

  /** Brute-force DuckDB mirror — ALL pairs, exact Jaccard filter. The
    * gate therefore checks recall as well as precision: a shingle the
    * prefix filter wrongly skipped would show up as a missing row.
    */
  def oracle(tauBp: Int = TauBp, k: Int = K): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, n - $k + 1), i ->
       |      md5(array_to_string(toks[i + 1 : i + $k], ' ')))) AS h
       |  FROM d WHERE n >= $k),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter_sz
       |  FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, CAST(inter_sz AS BIGINT) AS inter_sz,
       |  CAST(sa.sz + sb.sz - inter_sz AS BIGINT) AS union_sz,
       |  CAST((10000 * inter_sz) // (sa.sz + sb.sz - inter_sz) AS BIGINT) AS jac_bp
       |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
       |WHERE 10000 * inter_sz >= $tauBp * (sa.sz + sb.sz - inter_sz)""".stripMargin

  /** Cross-source duplication MATRIX (X189): how many exact τ-pairs
    * link each unordered pair of sources — the table a curation team
    * reads before weighting sources (a source that mostly republishes
    * another adds duplicates, not signal; the mixing quotas X168/X180
    * assume sources are distinct mass). Rides [[similarityJoin]]'s
    * exact pair list, so the matrix is ground truth, not an LSH
    * estimate; the two metadata joins are corpus-row-sized on doc_id
    * and the final aggregate is sources² — a handful of rows.
    */
  def crossSourceMatrix(docs: DataFrame, tauBp: Int = TauBp, k: Int = K): DataFrame = {
    val pairs = similarityJoin(docs.select(col("doc_id"), col("text")), tauBp, k)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("source_of_a")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("source_of_b")), Seq("b"))
      .select(least(col("source_of_a"), col("source_of_b")).as("src_a"),
        greatest(col("source_of_a"), col("source_of_b")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("pairs"))
  }

  def crossSourceOracle(tauBp: Int = TauBp, k: Int = K): String =
    s"""WITH p AS (
       |  SELECT * FROM (
       |${oracle(tauBp, k).linesIterator.map("    " + _).mkString("\n")}
       |  ) t)
       |SELECT least(da.source, db.source) AS src_a,
       |  greatest(da.source, db.source) AS src_b,
       |  CAST(count(*) AS BIGINT) AS pairs
       |FROM p
       |JOIN documents da ON da.doc_id = p.a
       |JOIN documents db ON db.doc_id = p.b
       |GROUP BY 1, 2""".stripMargin

  /** Incremental EXACT dedup (X198) — the production "dedupe the new
    * crawl batch against the already-indexed corpus" shape for the
    * recall-1 operator: a batch document (doc_id % 10 == 0, the X42
    * split) is dropped when some INDEX document's true Jaccard with it
    * is ≥ τ. The candidate join is BATCH prefixes × INDEX prefixes —
    * never index×index — under ONE shared rarity order (df over the
    * union; production maintains that table incrementally alongside
    * the index), so completeness carries over: the order-min common
    * shingle of a τ-pair sits in both sides' prefixes. Within-batch
    * near-dups are [[similarityJoin]]'s job, not this filter's —
    * dropping them here would double-count against the index append
    * (the X42 contract).
    */
  def incrementalKeep(spark: SparkSession, dir: String,
      tauBp: Int = TauBp, k: Int = K): DataFrame = {
    // per-doc distinct shingle ARRAYS (map-only; the exploded+DISTINCT
    // form paid a dedup exchange for sets the codegen shingler can
    // dedup in-row), persisted once for the four consumers: the
    // exploded stream below (df + both prefix sides), both verify
    // sides, and the surviving-batch base (optimization r15, guide
    // §2.3/§2.4 — same array-verify shape as [[similarityJoin]])
    val docsHv = graft.ops.Caches.persist(
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
        .select(col("doc_id"),
          org.apache.spark.sql.GraftColumnShim.column(graft.plans.ShingleMd5(
            org.apache.spark.sql.GraftColumnShim.expression(col("text")),
            org.apache.spark.sql.GraftColumnShim.expression(lit(k)))).as("hs"))
        .select(col("doc_id"), array_sort(array_distinct(col("hs"))).as("hv"))
        .filter(size(col("hv")) > 0))
    val sets = graft.ops.Caches.persist(docsHv.select(col("doc_id"), explode(col("hv")).as("h")))
    val df = sets.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val isBatch = col("doc_id") % 10 === 0
    val batch = sets.filter(isBatch)
    val index = sets.filter(!isBatch)
    val pb = prefixesWith(batch, df, tauBp)
    val pi = prefixesWith(index, df, tauBp)
    val cand = pb.select(col("doc_id").as("b"), col("h"))
      .join(pi.select(col("doc_id").as("i"), col("h")), Seq("h"))
      .select(col("b"), col("i")).distinct()
    val dropped = cand
      .join(docsHv.select(col("doc_id").as("b"), col("hv").as("hb")), Seq("b"))
      .join(docsHv.select(col("doc_id").as("i"), col("hv").as("hi")), Seq("i"))
      .select(col("b"),
        size(array_intersect(col("hb"), col("hi"))).cast("long").as("inter_sz"),
        size(col("hb")).cast("long").as("sb"),
        size(col("hi")).cast("long").as("si"))
      .filter(col("inter_sz") * 10000 >= (col("sb") + col("si") - col("inter_sz")) * tauBp)
      .select(col("b").as("doc_id")).distinct()
    docsHv.filter(isBatch).select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  def incrementalOracle(tauBp: Int = TauBp, k: Int = K): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(0, n - $k + 1), i ->
       |      md5(array_to_string(toks[i + 1 : i + $k], ' ')))) AS h
       |  FROM d WHERE n >= $k),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT b.doc_id AS bid, i.doc_id AS iid, count(*) AS inter_sz
       |  FROM sh b JOIN sh i ON b.h = i.h
       |  WHERE b.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
       |  GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT bid FROM inter
       |  JOIN sz sb ON sb.doc_id = bid JOIN sz si ON si.doc_id = iid
       |  WHERE 10000 * inter_sz >= $tauBp * (sb.sz + si.sz - inter_sz))
       |SELECT DISTINCT doc_id FROM sh
       |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT bid FROM dropped)""".stripMargin

  /** MEASURED MinHash-LSH recall against this operator's exact pair
    * list (X197) — the audit the X31 ANN-recall gate runs for the
    * similarity family, now for dedup: of the pairs whose TRUE
    * shingle-set Jaccard is ≥ τ, how many does the banded MinHash
    * pipeline (X2, 4×2 bands at the same published 0.8 operating
    * point) actually surface? One row: (n_exact, n_lsh, n_hit,
    * recall_bp) — recall_bp null only on a corpus with zero true
    * pairs (no evidence, no verdict). Both sides are oracle-mirrored,
    * so the gate pins the MEASUREMENT, not a hoped-for property; LSH
    * misses (band non-collisions, hash-fold artifacts) show up as
    * n_hit < n_exact, exactly what a production dedup audit reports.
    */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val ex = graft.ops.Caches.persist(similarityJoin(docs.select(col("doc_id"), col("text")))
      .select(col("a"), col("b")))
    // the LSH pair table feeds TWO branches (the hit semi-join and its
    // own count) — unpersisted, the candidate+verify+expansion joins
    // above MinHashLSH's internal seams run twice (the r15 plan audit
    // measured the un-cached form as a 2441-line plan with the pair
    // subtree duplicated); same C1 fan-out discipline as `ex` above
    val ls = graft.ops.Caches.persist(Dedup.MinHashLSH.nearDupPairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b")))
    val hit = ex.join(ls, Seq("a", "b"), "left_semi")
    ex.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(ls.agg(count(lit(1)).as("n_lsh"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") > 0,
          expr("(10000 * n_hit) DIV n_exact")).as("recall_bp"))
  }

  def lshRecallOracle: String =
    s"""WITH ex AS (
       |  SELECT a, b FROM (
       |${oracle().linesIterator.map("    " + _).mkString("\n")}
       |  ) t),
       |ls AS (
       |  SELECT doc_a AS a, doc_b AS b FROM (
       |${Dedup.MinHashLSH.oracle.linesIterator.map("    " + _).mkString("\n")}
       |  ) t),
       |n AS (
       |  SELECT (SELECT count(*) FROM ex) AS n_exact,
       |    (SELECT count(*) FROM ls) AS n_lsh,
       |    (SELECT count(*) FROM ex JOIN ls USING (a, b)) AS n_hit)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_lsh AS BIGINT) AS n_lsh, CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_exact > 0
       |       THEN CAST((10000 * n_hit) // n_exact AS BIGINT) END AS recall_bp
       |FROM n""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_dedup_lsh_recall" -> Query((s, dir) => lshRecall(s, dir), lshRecallOracle),
    "q_setsim_incremental" -> Query((s, dir) => incrementalKeep(s, dir), incrementalOracle()),
    "q_setsim_join" -> Query((s, dir) => similarityJoin(
      graft.ops.ScaleOps.widen(Tables.documents(s, dir))
        .select(col("doc_id"), col("text"))),
      oracle()),
    "q_setsim_sources" -> Query((s, dir) => crossSourceMatrix(
      graft.ops.ScaleOps.widen(Tables.documents(s, dir))
        .select(col("doc_id"), col("text"), col("source"))),
      crossSourceOracle())
  )
}
