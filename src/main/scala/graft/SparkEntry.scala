package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.ops.{AsofJoin, CorpusOps, DateParse, Events, Relational, SrData}
import graft.pipelines.{DistinctUpsert, Preprocess}
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.Keyword
import graft.text.Analysis

/** Driver contract — see SURVEY.md §7.
  *
  * Each ops module contributes its `queries`, one [[Query]] per name; this
  * object is their union. Every query takes (spark, sfDir) and builds a
  * lazy DataFrame over the fixture parquet in sfDir; its DuckDB SQL runs
  * on the same parquet for the driver's hash compare.
  */
object SparkEntry {

  /** Every registry module's queries, each module named once. */
  private def modules: Seq[Seq[(String, Query)]] =
    Seq(
      SrData.queries,
      Relational.queries,
      Analysis.queries,
      Preprocess.queries,
      DistinctUpsert.queries,
      Dedup.queries,
      graft.dedup.Winnow.queries,
      graft.dedup.SetSim.queries,
      Similarity.queries,
      graft.sim.DocEmbedding.queries,
      graft.sim.SemDedup.queries,
      Events.queries,
      Keyword.queries,
      graft.text.Stemmer.queries,
      graft.text.Phrases.queries,
      graft.text.QualityModel.queries,
      graft.text.QualityTrain.queries,
      graft.text.LangProfile.queries,
      graft.text.Objectives.queries,
      graft.text.Signals.queries,
      graft.text.Contamination.queries,
      graft.text.Repetition.queries,
      graft.text.Boilerplate.queries,
      graft.text.Redact.queries,
      graft.text.Pseudonym.queries,
      graft.text.Bpe.queries,
      graft.text.Wordpiece.queries,
      graft.text.HeavyHitters.queries,
      graft.text.Html.queries,
      graft.text.HtmlTables.queries,
      graft.text.PageMeta.queries,
      graft.text.ParallelText.queries,
      graft.text.Urls.queries,
      graft.text.Retrieval.queries,
      graft.text.Dsir.queries,
      graft.text.Unigram.queries,
      graft.text.Blocklist.queries,
      graft.text.Canonical.queries,
      graft.text.Chunker.queries,
      graft.text.ChatTemplate.queries,
      graft.multimodal.ImageHash.queries,
      graft.multimodal.VideoHash.queries,
      graft.text.Mojibake.queries,
      graft.text.Entropy.queries,
      graft.text.Bitext.queries,
      graft.text.Preference.queries,
      graft.text.BytePretok.queries,
      graft.ops.Batching.queries,
      graft.ops.Attribution.queries,
      graft.multimodal.AudioSegments.queries,
      graft.text.Unicode.queries,
      graft.sources.Warc.queries,
      graft.sources.Tar.queries,
      graft.text.Robots.queries,
      graft.text.PageRobots.queries,
      graft.text.Links.queries,
      graft.text.Sitemaps.queries,
      graft.text.Feeds.queries,
      graft.text.Anchors.queries,
      graft.text.Paragraphs.queries,
      graft.text.Scripts.queries,
      graft.pipelines.Hygiene.queries,
      graft.pipelines.CrawlPipeline.queries,
      graft.pipelines.Frontier.queries,
      graft.pipelines.Redirects.queries,
      graft.pipelines.Traps.queries,
      graft.pipelines.Mirrors.queries,
      graft.pipelines.Discovery.queries,
      graft.pipelines.RangeFetch.queries,
      AsofJoin.queries,
      graft.ops.Scd.queries,
      graft.ops.JsonProfile.queries,
      graft.ops.Privacy.queries,
      graft.ops.Versioning.queries,
      graft.ops.SkewProfile.queries,
      DateParse.queries,
      CorpusOps.queries,
      graft.ops.FuzzyJoin.queries,
      graft.ops.Packing.queries,
      graft.ops.Quantiles.queries,
      graft.ops.Graph.queries,
      graft.ops.ScaleOps.queries,
      graft.sources.Layout.queries,
      graft.sources.WarcWriter.queries,
      graft.sources.WarcArchive.queries,
      graft.dedup.ExactSpans.queries,
      graft.ops.Mixing.queries,
      graft.text.Sentences.queries,
      graft.text.Proximity.queries,
      graft.text.Confusables.queries,
      graft.ops.IntervalJoin.queries,
      graft.sources.JsonLines.queries,
      graft.sources.Pdf.queries,
      graft.sources.Mail.queries,
      graft.sources.Zip.queries,
      graft.pipelines.CdxIndex.queries,
      graft.pipelines.Revalidate.queries,
      graft.ops.Sessionize.queries,
      Multimodal.queries
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SrData.flagship(spark, "/root/testdata/sf0.001")

  /** Name → query over `modules`. A name registered twice, within one
    * module or across two, throws and names it: a map built with `++`
    * would keep one of the two silently.
    */
  private[graft] def union(modules: Seq[Seq[(String, Query)]]): Map[String, Query] = {
    val all = modules.flatten
    val dups = all.groupBy(_._1).collect { case (name, qs) if qs.size > 1 => name }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2, with its oracle. */
  lazy val registry: Map[String, Query] = union(modules)

  /** The build of every [[registry]] query, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }
}
