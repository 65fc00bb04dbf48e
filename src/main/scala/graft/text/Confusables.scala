package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Unicode confusable skeletons and IDN homograph detection — the
  * security screen next to X151's Punycode layer: `pаypаl.com` with
  * Cyrillic а (U+0430) renders pixel-identical to the Latin brand and
  * is the classic phishing registration. The industry mechanic
  * (UTS #39 confusable skeletons, as browsers and registrars apply
  * it): fold each confusable code point to its Latin skeleton
  * character, then flag hosts that (a) MIX Latin with a confusable
  * script — a single-script Cyrillic host is a legitimate IDN, never
  * flagged — and (b) whose skeleton collides with a protected name
  * while the raw host differs.
  *
  * The fold table is a curated single-code-point subset of UTS #39
  * (the [[PublicSuffixes]] fixture discipline: documented, versioned
  * in code, oracle shares the SAME constant) — lowercase Cyrillic and
  * Greek lookalikes; same-script homoglyphs (l/1, rn/m) are declared
  * out of scope. Folding is one codegen'd `translate`; script tests
  * are the X155 property classes. Per-row, map-only; the brand list
  * is a literal broadcast-sized array.
  */
object Confusables {

  /** (confusable, skeleton) pairs, one code point each: Cyrillic
    * а е о р с х у і ј ѕ һ ѡ ԁ ԛ then Greek α ο ι κ ν ρ τ υ χ.
    */
  val FoldFrom: String =
    "аеорсхуіјѕһѡԁԛ" +
      "αοικνρτυχ"
  val FoldTo: String = "aeopcxyijshwdq" + "aoikvptux"

  /** The protected-name fixture (skeleton space). */
  val Brands: Seq[String] = Seq("paypal.com", "google.com")

  def skeleton(c: Column): Column = translate(c, FoldFrom, FoldTo)

  /** Latin mixed with a confusable script WITHIN ONE LABEL — the
    * precondition for a homograph, and deliberately per-label (UTS #39
    * checks labels): `почта.ru` is a pure-Cyrillic label under a Latin
    * TLD — a legitimate IDN shape that a whole-host test would
    * misflag.
    */
  def mixedScript(c: Column): Column =
    exists(split(c, "\\."), l =>
      l.rlike("[\\p{IsLatin}]") && l.rlike("[\\p{IsCyrillic}\\p{IsGreek}]"))

  /** Host plant (doc_id % 5): the Latin brand itself, a Cyrillic-а
    * spoof of it, a Greek-ο spoof of the other brand, a pure-Cyrillic
    * host (legitimate IDN — must NOT flag), and a mixed-script
    * non-brand (suspicious but colliding with nothing).
    */
  def plantHost: Column = {
    val k = col("doc_id") % 5
    when(k === 0, lit("paypal.com"))
      .when(k === 1, lit("pаypаl.com"))
      .when(k === 2, lit("gοοgle.com"))
      .when(k === 3, lit("почта.ru"))
      .otherwise(lit("wіki.org"))
  }

  /** (doc_id, host, skeleton, mixed_script, spoof). */
  def screen(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("host"),
        skeleton(col("host")).as("skeleton"),
        mixedScript(col("host")).as("mixed_script"))
      .withColumn("spoof", col("mixed_script")
        && col("skeleton").isin(Brands: _*)
        && col("skeleton") =!= col("host"))

  def screened(spark: SparkSession, dir: String): DataFrame =
    screen(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantHost.as("host")))

  def screenedOracle: String = {
    val brandList = Brands.map(b => s"'$b'").mkString(", ")
    s"""WITH hosts AS (
       |  SELECT doc_id, CASE CAST(doc_id % 5 AS INTEGER)
       |    WHEN 0 THEN 'paypal.com'
       |    WHEN 1 THEN 'pаypаl.com'
       |    WHEN 2 THEN 'gοοgle.com'
       |    WHEN 3 THEN 'почта.ru'
       |    ELSE 'wіki.org'
       |  END AS host
       |  FROM documents),
       |folded AS (
       |  SELECT doc_id, host,
       |    translate(host, '$FoldFrom', '$FoldTo') AS skeleton,
       |    len(list_filter(string_split(host, '.'),
       |      l -> regexp_matches(l, '[\\p{Latin}]')
       |        AND regexp_matches(l, '[\\p{Cyrillic}\\p{Greek}]'))) > 0
       |      AS mixed_script
       |  FROM hosts)
       |SELECT doc_id, host, skeleton, mixed_script,
       |  mixed_script AND skeleton IN ($brandList) AND skeleton <> host AS spoof
       |FROM folded""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_confusable_hosts" -> Query((s, dir) => screened(s, dir), screenedOracle)
  )
}
