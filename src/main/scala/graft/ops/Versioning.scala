package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.TextOps

/** Dataset VERSIONING primitives (X208/X209) — what a 100 TB corpus
  * pipeline uses instead of timestamps to know whether two dataset
  * versions are the same data:
  *
  *  - [[fingerprint]]: an ORDER-INDEPENDENT table digest — XOR of
  *    per-row 48-bit md5 folds. Any row order, partitioning, or
  *    cluster size produces the same value (XOR is commutative/
  *    associative), so "did this rebuild change anything?" is one
  *    cheap scan + a scalar compare, never a sort. Collision posture:
  *    XOR of 48-bit folds detects any single-row change exactly and
  *    random corruption with failure odds 2⁻⁴⁸ — the CI-check tier,
  *    not cryptographic attestation.
  *  - [[versionDiff]]: the keyed three-way diff (same / changed /
  *    only_a / only_b counts) between two versions — the audit table a
  *    data registry shows next to each new version. One full outer
  *    join on the key comparing content digests; counts only, so the
  *    output is constant-size however large the versions.
  *
  * The gate plants version B from the fixture deterministically
  * (drop doc_id % 97 = 0, rewrite text of % 13 = 0, add fresh rows for
  * % 29 = 0 under shifted ids) so both engines derive identical
  * versions and the oracle states the diff from the same plant.
  */
object Versioning {

  /** 48-bit fold of md5 over the row's canonical serialization —
    * U+0001-joined (the house array-cell discipline, mirrored by the
    * oracle's chr(1)) so column boundaries can't alias.
    */
  private def rowHash(cols: Column*): Column =
    conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 12), 16, 10).cast("long")

  /** (n_rows, fingerprint): order-independent digest of documents —
    * text rides as md5 so the serialization is delimiter-safe.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(rowHash(col("doc_id").cast("string"), md5(col("text")),
        col("lang"), col("source")).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("fingerprint"))

  def fingerprintOracle: String = {
    val fold = TextOps.md5HexFold12Sql("rh")
    s"""WITH r AS (
       |  SELECT md5(CAST(doc_id AS VARCHAR) || chr(1) || md5(text) || chr(1) ||
       |    lang || chr(1) || source) AS rh
       |  FROM documents)
       |SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(bit_xor($fold) AS BIGINT) AS fingerprint
       |FROM r""".stripMargin
  }

  /** Version-B plant: drop % 97, rewrite % 13 (that survives the drop),
    * add % 29 rows back under +10⁶ ids.
    */
  def plantVersionB(docs: DataFrame): DataFrame = {
    val kept = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
    val added = docs.filter(col("doc_id") % 29 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("fresh "), col("text")).as("text"))
    kept.unionByName(added)
  }

  /** (status, n) with status ∈ same | changed | only_a | only_b. */
  def versionDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val da = a.select(col("doc_id"), md5(col("text")).as("fp_a"))
    val db = b.select(col("doc_id"), md5(col("text")).as("fp_b"))
    da.join(db, Seq("doc_id"), "full_outer")
      .select(when(col("fp_a").isNull, "only_b")
        .when(col("fp_b").isNull, "only_a")
        .when(col("fp_a") === col("fp_b"), "same")
        .otherwise("changed").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  def versionDiffOracle: String =
    s"""WITH a AS (
       |  SELECT doc_id, md5(text) AS fp_a FROM documents),
       |b AS (
       |  SELECT doc_id,
       |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END)
       |      AS fp_b
       |  FROM documents WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, md5('fresh ' || text)
       |  FROM documents WHERE doc_id % 29 = 0),
       |j AS (
       |  SELECT CASE WHEN fp_a IS NULL THEN 'only_b'
       |              WHEN fp_b IS NULL THEN 'only_a'
       |              WHEN fp_a = fp_b THEN 'same'
       |              ELSE 'changed' END AS status
       |  FROM a FULL OUTER JOIN b USING (doc_id))
       |SELECT status, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY status""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_table_fingerprint" -> Query((s, dir) =>
      fingerprint(Tables.documents(s, dir)),
      fingerprintOracle),
    "q_version_diff" -> Query((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      versionDiff(docs, plantVersionB(docs))
    }, versionDiffOracle)
  )
}
