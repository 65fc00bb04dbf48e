package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.plans.WinnowHashes

/** Winnowing document fingerprints and the shared-fingerprint pair join —
  * the substring-match detection layer of the dedup family: [[Dedup.Exact]]
  * sees whole-document copies, MinHash/SimHash see whole-document
  * near-dups, [[Dedup.Cdc]] sees shared chunks at content-defined
  * boundaries, and winnowing guarantees detection of ANY shared run of
  * ≥ k+w−1 characters while sampling only ~2/(w+1) of positions — the
  * granularity plagiarism and license-text detection need.
  *
  * Scale shape:
  *   - fingerprinting is per-row codegen'd ([[WinnowHashes]]), linear in
  *     the scan, no shuffle;
  *   - identical fingerprint arrays collapse to one representative
  *     BEFORE anything else (see [[sharedPairs]] — protects both cost
  *     and recall under byte-identical copies);
  *   - the pair join then drops fingerprints present in more than
  *     [[MaxDocsPerFp]] DISTINCT CONTENTS (ubiquitous boilerplate
  *     hashes — the exact analogue of a stopword list, and the bound
  *     that keeps per-fingerprint groups, hence candidate pairs,
  *     O(MaxDocsPerFp²) instead of corpus²);
  *   - surviving (fp → rep list) groups pair-join within the group,
  *     aggregate per pair — work ∝ Σ group², bounded by the cap — and
  *     expand back to member pairs.
  */
object Winnow {

  /** Drop fingerprints appearing in more than this many DISTINCT document
    * contents (ubiquity cap — bounds pair-join group size; counted after
    * the exact-copy collapse so copies cannot inflate it).
    */
  val MaxDocsPerFp = 8

  /** Report doc pairs sharing at least this many surviving fingerprints. */
  val MinShared = 4

  /** Per-copy-group cap on PAIR expansion (both the intra g·(g−1)/2
    * expansion and each side of the cross |gₐ|·|g_b| expansion).
    *
    * THE O(g²) HAZARD THIS BOUNDS: nothing else in the pipeline limits a
    * copy group's size — the ubiquity cap bounds how many DISTINCT
    * CONTENTS share a fingerprint, but one viral document with 10⁶
    * byte-identical copies at 100 TB is a single content, and expanding
    * its intra pairs would emit 5×10¹¹ rows. The pair REPORT is
    * inherently quadratic in copies, so groups larger than this cap are
    * excluded from [[sharedPairs]] entirely (not truncated — a partial
    * pair list would be silently wrong) and surface through the linear
    * [[sharedClusters]] form instead, which is the scale-safe default.
    */
  val MaxExpandGroup = 64

  def winnowCol(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      WinnowHashes(org.apache.spark.sql.GraftColumnShim.expression(c),
        WinnowHashes.DefaultK, WinnowHashes.DefaultW))

  /** (doc_id, fp) — each document's distinct winnowed fingerprints. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(winnowCol(col("text"))).as("fp"))

  /** Doc pairs sharing ≥ [[MinShared]] rare fingerprints, with the count —
    * the match-candidate report a plagiarism pipeline hands to alignment.
    *
    * EXACT-COPY COLLAPSE (same discipline as
    * [[Dedup.MinHashLSH.nearDupPairsOn]], but here it protects RECALL,
    * not just cost): identical documents share every fingerprint, so a
    * copy group of size g both (a) multiplies pair work by g² and —
    * worse — (b) inflates every one of its fingerprints' doc counts by
    * g, pushing genuinely RARE fingerprints over the [[MaxDocsPerFp]]
    * ubiquity cap: on a corpus where each doc has ~10 copies, every
    * fingerprint looks ubiquitous and the report silently empties.
    * Collapsing identical fingerprint arrays to one representative makes
    * rarity mean "across distinct contents" (the intent of the cap —
    * boilerplate is boilerplate because many DIFFERENT documents carry
    * it), keeps pair work at unique-content size, and re-expands
    * member pairs afterwards: within a copy group every pair shares all
    * of the representative's rare fingerprints; across groups the pair
    * shares exactly what the representatives share.
    */
  /** The collapse pipeline shared by every winnow report: membership =
    * (rep, doc_id) copy-group mapping; kept = each REPRESENTATIVE's rare
    * fingerprints; repCounts = rare-fingerprint count per representative;
    * sizes = copy-group cardinality. Both persisted frames are reused by
    * at least two downstream joins in every caller.
    */
  private final case class Collapsed(membership: DataFrame, kept: DataFrame,
      repCounts: DataFrame, sizes: DataFrame)

  private def collapse(spark: SparkSession, dir: String): Collapsed = {
    import org.apache.spark.sql.expressions.Window
    val docsFps = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), winnowCol(col("text")).as("fps"))
      .filter(size(col("fps")) > 0)
    // collapse key = md5 of the canonical array rendering (what the
    // oracle groups on too): the exchange partitions/sorts on a 16-byte
    // fixed-width key instead of comparing whole fingerprint arrays
    val fpsKey = md5(concat_ws(",", col("fps").cast("array<string>")))
    val withRep = graft.ops.Caches.persist(docsFps
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(fpsKey))))
    val membership = withRep.select(col("rep"), col("doc_id"))
    val uniq = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val rare = uniq.groupBy(col("fp")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") <= MaxDocsPerFp)
      .select(col("fp"))
    val kept = graft.ops.Caches.persist(uniq.join(rare, "fp"))
    val repCounts = kept.groupBy(col("doc_id").as("rep")).agg(count(lit(1)).as("nrare"))
    val sizes = membership.groupBy(col("rep")).agg(count(lit(1)).as("g"))
    Collapsed(membership, kept, repCounts, sizes)
  }

  /** Representative-level shared pairs — one row per pair of DISTINCT
    * CONTENTS sharing ≥ [[MinShared]] rare fingerprints. Always linear:
    * per-fingerprint groups are bounded by [[MaxDocsPerFp]], so this
    * relation is bounded regardless of copy-group sizes. Together with
    * [[sharedClusters]] it is the complete lossless report; member-level
    * pairs are a derived (and quadratic) view.
    */
  private def repSharedPairsOf(kept: DataFrame): DataFrame =
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinShared)

  def repSharedPairs(spark: SparkSession, dir: String): DataFrame =
    repSharedPairsOf(collapse(spark, dir).kept)

  /** SCALE-SAFE DEFAULT REPORT — the copy-cluster membership in linear
    * form: one row (rep, member, shared) per document of every
    * byte-identical copy group of size ≥ 2 whose content carries
    * ≥ [[MinShared]] rare fingerprints (every within-group pair shares
    * all `nrare` of them, so one number describes the whole group). The
    * rep itself is listed as a member, mirroring the X36 cluster-table
    * convention where the representative carries its own label. Output
    * is O(corpus), never O(g²) — this is what a 100 TB run should
    * consume; [[sharedPairs]]' member-pair expansion exists for
    * group-bounded reporting and is capped at [[MaxExpandGroup]].
    */
  def sharedClusters(spark: SparkSession, dir: String): DataFrame = {
    val c = collapse(spark, dir)
    c.membership
      .join(c.sizes.filter(col("g") >= 2).select("rep"), "rep")
      .join(c.repCounts.filter(col("nrare") >= MinShared), "rep")
      .select(col("rep"), col("doc_id").as("member"), col("nrare").as("shared"))
  }

  def sharedPairs(spark: SparkSession, dir: String): DataFrame = {
    val c = collapse(spark, dir)
    // PAIR-EXPANSION CAP (see [[MaxExpandGroup]]): only members of copy
    // groups with ≤ cap members expand to pairs; a rep pair touching a
    // larger group is withheld from this report entirely (partial pair
    // lists would be silently wrong) and remains visible through
    // [[repSharedPairs]] + [[sharedClusters]].
    val memberSmall = c.membership
      .join(c.sizes.filter(col("g") <= MaxExpandGroup).select("rep"), "rep")
    val repPairs = repSharedPairsOf(c.kept)
    // cross-group expansion (groups disjoint: least/greatest re-orients)
    val cross = repPairs
      .join(memberSmall.select(col("rep").as("doc_a"), col("doc_id").as("ma")), "doc_a")
      .join(memberSmall.select(col("rep").as("doc_b"), col("doc_id").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("shared"))
    // within-group pairs share ALL of the representative's rare fps
    val intra = memberSmall.as("ma").join(memberSmall.as("mb"),
        col("ma.rep") === col("mb.rep") && col("ma.doc_id") < col("mb.doc_id"))
      .select(col("ma.rep").as("rep"), col("ma.doc_id").as("doc_a"), col("mb.doc_id").as("doc_b"))
      .join(c.repCounts, "rep")
      .filter(col("nrare") >= MinShared)
      .select(col("doc_a"), col("doc_b"), col("nrare").as("shared"))
    cross.unionByName(intra)
  }

  /** CTE chain ending in `arr(doc_id, fps)` — the per-doc DISTINCT
    * fingerprint ARRAY (pre-unnest form; the collapse groups on it).
    */
  private def fpArrCte: String = {
    val kh = WinnowHashes.sql("text")
    s"""WITH kh AS (
       |  SELECT doc_id, $kh AS kh FROM documents
       |), p AS (
       |  SELECT doc_id, kh, least(${WinnowHashes.DefaultW}, len(kh)) AS ww
       |  FROM kh WHERE len(kh) > 0
       |), arr AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(kh) - ww + 2), s ->
       |    kh[s - 1 + list_max(list_transform(range(1, ww + 1), j ->
       |      CASE WHEN kh[s + j - 1] = list_min(kh[s : s + ww - 1]) THEN j ELSE 0 END))]
       |  )) AS fps
       |  FROM p
       |)""".stripMargin
  }

  private def fpsCte: String =
    s"""$fpArrCte, fps AS (
       |  SELECT doc_id, unnest(fps) AS fp FROM arr
       |)""".stripMargin

  def fingerprintsOracle: String =
    s"""$fpsCte
       |SELECT doc_id, fp FROM fps""".stripMargin

  /** Mirrors the collapsed plan: group identical fingerprint ARRAYS by
    * md5 of the comma-joined list (the same 16-byte collapse key the
    * Spark side partitions on), measure rarity over representatives,
    * pair reps, expand members, add within-group pairs.
    */
  /** The collapse CTE chain shared by both oracles: grp (copy-group
    * membership), kept (representatives' rare fps), rep_counts, sizes.
    */
  private def collapseCte: String =
    s"""$fpArrCte, grp AS (
       |  SELECT doc_id, fps,
       |    min(doc_id) OVER (PARTITION BY md5(array_to_string(fps, ','))) AS rep
       |  FROM arr WHERE len(fps) > 0
       |), uniq AS (
       |  SELECT doc_id, unnest(fps) AS fp FROM grp WHERE doc_id = rep
       |), rare AS (
       |  SELECT fp FROM uniq GROUP BY fp HAVING count(*) <= $MaxDocsPerFp
       |), kept AS (
       |  SELECT u.doc_id, u.fp FROM uniq u JOIN rare USING (fp)
       |), rep_counts AS (
       |  SELECT doc_id AS rep, count(*) AS nrare FROM kept GROUP BY doc_id
       |), sizes AS (
       |  SELECT rep, count(*) AS g FROM grp GROUP BY rep
       |)""".stripMargin

  def sharedPairsOracle: String =
    s"""$collapseCte, member_small AS (
       |  SELECT m.rep, m.doc_id FROM grp m
       |  JOIN sizes s ON s.rep = m.rep AND s.g <= $MaxExpandGroup
       |), rep_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinShared
       |), cross_pairs AS (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |         greatest(ma.doc_id, mb.doc_id) AS doc_b, p.shared
       |  FROM rep_pairs p
       |  JOIN member_small ma ON ma.rep = p.doc_a
       |  JOIN member_small mb ON mb.rep = p.doc_b
       |), intra_pairs AS (
       |  SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b, c.nrare AS shared
       |  FROM member_small ma JOIN member_small mb
       |    ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
       |  JOIN rep_counts c ON c.rep = ma.rep
       |  WHERE c.nrare >= $MinShared
       |)
       |SELECT doc_a, doc_b, shared FROM cross_pairs
       |UNION ALL SELECT doc_a, doc_b, shared FROM intra_pairs""".stripMargin

  def sharedClustersOracle: String =
    s"""$collapseCte
       |SELECT m.rep, m.doc_id AS member, c.nrare AS shared
       |FROM grp m
       |JOIN sizes s ON s.rep = m.rep AND s.g >= 2
       |JOIN rep_counts c ON c.rep = m.rep AND c.nrare >= $MinShared""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_winnow" -> Query((s, dir) => fingerprints(s, dir), fingerprintsOracle),
    "q_winnow_pairs" -> Query((s, dir) => sharedPairs(s, dir), sharedPairsOracle),
    "q_winnow_clusters" -> Query((s, dir) => sharedClusters(s, dir), sharedClustersOracle)
  )
}
