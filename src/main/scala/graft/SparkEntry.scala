package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.ops.{AsofJoin, CorpusOps, DateParse, Events, Relational, SrData}
import graft.pipelines.{DistinctUpsert, Preprocess}
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.Keyword
import graft.text.Analysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each ops module contributes a (queries, oracleSql) registry pair; this
  * object is just the union. Every query takes (spark, sfDir) and builds a
  * lazy DataFrame over the fixture parquet in sfDir; the matching DuckDB
  * SQL runs on the same parquet for the driver's hash compare.
  */
object SparkEntry {

  private def registries: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (SrData.queries, SrData.oracleSql),
      (Relational.queries, Relational.oracleSql),
      (Analysis.queries, Analysis.oracleSql),
      (Preprocess.queries, Preprocess.oracleSql),
      (DistinctUpsert.queries, DistinctUpsert.oracleSql),
      (Dedup.queries, Dedup.oracleSql),
      (graft.dedup.Winnow.queries, graft.dedup.Winnow.oracleSql),
      (graft.dedup.SetSim.queries, graft.dedup.SetSim.oracleSql),
      (Similarity.queries, Similarity.oracleSql),
      (graft.sim.DocEmbedding.queries, graft.sim.DocEmbedding.oracleSql),
      (graft.sim.SemDedup.queries, graft.sim.SemDedup.oracleSql),
      (Events.queries, Events.oracleSql),
      (Keyword.queries, Keyword.oracleSql),
      (graft.text.Stemmer.queries, graft.text.Stemmer.oracleSql),
      (graft.text.Phrases.queries, graft.text.Phrases.oracleSql),
      (graft.text.QualityModel.queries, graft.text.QualityModel.oracleSql),
      (graft.text.QualityTrain.queries, graft.text.QualityTrain.oracleSql),
      (graft.text.LangProfile.queries, graft.text.LangProfile.oracleSql),
      (graft.text.Objectives.queries, graft.text.Objectives.oracleSql),
      (graft.text.Signals.queries, graft.text.Signals.oracleSql),
      (graft.text.Contamination.queries, graft.text.Contamination.oracleSql),
      (graft.text.Repetition.queries, graft.text.Repetition.oracleSql),
      (graft.text.Boilerplate.queries, graft.text.Boilerplate.oracleSql),
      (graft.text.Redact.queries, graft.text.Redact.oracleSql),
      (graft.text.Pseudonym.queries, graft.text.Pseudonym.oracleSql),
      (graft.text.Bpe.queries, graft.text.Bpe.oracleSql),
      (graft.text.Wordpiece.queries, graft.text.Wordpiece.oracleSql),
      (graft.text.HeavyHitters.queries, graft.text.HeavyHitters.oracleSql),
      (graft.text.Html.queries, graft.text.Html.oracleSql),
      (graft.text.HtmlTables.queries, graft.text.HtmlTables.oracleSql),
      (graft.text.PageMeta.queries, graft.text.PageMeta.oracleSql),
      (graft.text.ParallelText.queries, graft.text.ParallelText.oracleSql),
      (graft.text.Urls.queries, graft.text.Urls.oracleSql),
      (graft.text.Retrieval.queries, graft.text.Retrieval.oracleSql),
      (graft.text.Dsir.queries, graft.text.Dsir.oracleSql),
      (graft.text.Unigram.queries, graft.text.Unigram.oracleSql),
      (graft.text.Blocklist.queries, graft.text.Blocklist.oracleSql),
      (graft.text.Canonical.queries, graft.text.Canonical.oracleSql),
      (graft.text.Chunker.queries, graft.text.Chunker.oracleSql),
      (graft.text.ChatTemplate.queries, graft.text.ChatTemplate.oracleSql),
      (graft.multimodal.ImageHash.queries, graft.multimodal.ImageHash.oracleSql),
      (graft.multimodal.VideoHash.queries, graft.multimodal.VideoHash.oracleSql),
      (graft.text.Mojibake.queries, graft.text.Mojibake.oracleSql),
      (graft.text.Entropy.queries, graft.text.Entropy.oracleSql),
      (graft.text.Bitext.queries, graft.text.Bitext.oracleSql),
      (graft.text.Preference.queries, graft.text.Preference.oracleSql),
      (graft.text.BytePretok.queries, graft.text.BytePretok.oracleSql),
      (graft.ops.Batching.queries, graft.ops.Batching.oracleSql),
      (graft.ops.Attribution.queries, graft.ops.Attribution.oracleSql),
      (graft.multimodal.AudioSegments.queries, graft.multimodal.AudioSegments.oracleSql),
      (graft.text.Unicode.queries, graft.text.Unicode.oracleSql),
      (graft.sources.Warc.queries, graft.sources.Warc.oracleSql),
      (graft.sources.Tar.queries, graft.sources.Tar.oracleSql),
      (graft.text.Robots.queries, graft.text.Robots.oracleSql),
      (graft.text.PageRobots.queries, graft.text.PageRobots.oracleSql),
      (graft.text.Links.queries, graft.text.Links.oracleSql),
      (graft.text.Sitemaps.queries, graft.text.Sitemaps.oracleSql),
      (graft.text.Feeds.queries, graft.text.Feeds.oracleSql),
      (graft.text.Anchors.queries, graft.text.Anchors.oracleSql),
      (graft.text.Paragraphs.queries, graft.text.Paragraphs.oracleSql),
      (graft.text.Scripts.queries, graft.text.Scripts.oracleSql),
      (graft.pipelines.Hygiene.queries, graft.pipelines.Hygiene.oracleSql),
      (graft.pipelines.CrawlPipeline.queries, graft.pipelines.CrawlPipeline.oracleSql),
      (graft.pipelines.Frontier.queries, graft.pipelines.Frontier.oracleSql),
      (graft.pipelines.Redirects.queries, graft.pipelines.Redirects.oracleSql),
      (graft.pipelines.Traps.queries, graft.pipelines.Traps.oracleSql),
      (graft.pipelines.Mirrors.queries, graft.pipelines.Mirrors.oracleSql),
      (graft.pipelines.Discovery.queries, graft.pipelines.Discovery.oracleSql),
      (graft.pipelines.RangeFetch.queries, graft.pipelines.RangeFetch.oracleSql),
      (AsofJoin.queries, AsofJoin.oracleSql),
      (graft.ops.Scd.queries, graft.ops.Scd.oracleSql),
      (graft.ops.JsonProfile.queries, graft.ops.JsonProfile.oracleSql),
      (graft.ops.Privacy.queries, graft.ops.Privacy.oracleSql),
      (graft.ops.Versioning.queries, graft.ops.Versioning.oracleSql),
      (graft.ops.SkewProfile.queries, graft.ops.SkewProfile.oracleSql),
      (DateParse.queries, DateParse.oracleSql),
      (CorpusOps.queries, CorpusOps.oracleSql),
      (graft.ops.FuzzyJoin.queries, graft.ops.FuzzyJoin.oracleSql),
      (graft.ops.Packing.queries, graft.ops.Packing.oracleSql),
      (graft.ops.Quantiles.queries, graft.ops.Quantiles.oracleSql),
      (graft.ops.Graph.queries, graft.ops.Graph.oracleSql),
      (graft.ops.ScaleOps.queries, graft.ops.ScaleOps.oracleSql),
      (graft.sources.Layout.queries, graft.sources.Layout.oracleSql),
      (graft.sources.WarcWriter.queries, graft.sources.WarcWriter.oracleSql),
      (graft.sources.WarcArchive.queries, graft.sources.WarcArchive.oracleSql),
      (graft.dedup.ExactSpans.queries, graft.dedup.ExactSpans.oracleSql),
      (graft.ops.Mixing.queries, graft.ops.Mixing.oracleSql),
      (graft.text.Sentences.queries, graft.text.Sentences.oracleSql),
      (graft.text.Proximity.queries, graft.text.Proximity.oracleSql),
      (graft.text.Confusables.queries, graft.text.Confusables.oracleSql),
      (graft.ops.IntervalJoin.queries, graft.ops.IntervalJoin.oracleSql),
      (graft.sources.JsonLines.queries, graft.sources.JsonLines.oracleSql),
      (graft.sources.Pdf.queries, graft.sources.Pdf.oracleSql),
      (graft.sources.Mail.queries, graft.sources.Mail.oracleSql),
      (graft.sources.Zip.queries, graft.sources.Zip.oracleSql),
      (graft.pipelines.CdxIndex.queries, graft.pipelines.CdxIndex.oracleSql),
      (graft.pipelines.Revalidate.queries, graft.pipelines.Revalidate.oracleSql),
      (graft.ops.Sessionize.queries, graft.ops.Sessionize.oracleSql),
      (Multimodal.queries, Multimodal.oracleSql)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SrData.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registries.map(_._2).reduce(_ ++ _)
}
