package graft

/** Contract meta-tests for the driver interface: a blank oracle silently
  * downgrades to a rows-only check, and an empty result can mask a broken
  * predicate — both are regressions this suite turns loud.
  */
class SparkEntrySpec extends SparkSuite {

  /** What one build of a registry query at [[Sf]] showed: whether it
    * returned no rows, the float/decimal hazards of its schema, its
    * non-scalar top-level columns, whether a cache entry survived
    * [[ops.Caches.release]] after it ran, and how many jobs building it
    * (the registry function call, before any action) started.
    */
  private final case class Swept(empty: Boolean, hazards: Seq[String],
                                 nonScalar: Seq[String], leaksCache: Boolean,
                                 buildJobs: Int)

  /** The queries whose build starts jobs by design, each with the reason.
    * Every other query must build with no job at all.
    */
  private val EagerBuild: Map[String, String] = Map(
    // iterative graph operators: node count, then a localCheckpoint per iteration
    "q_hits" -> "HITS iterations truncate lineage with a localCheckpoint each",
    "q_pagerank" -> "counts the nodes, then checkpoints every PageRank iteration",
    "q_image_clusters" -> "label propagation checkpoints every iteration",
    // a model or filter collected to the driver before the query is planned
    "q_bpe_encode" -> "collects the BPE merge list it encodes with",
    "q_bpe_fertility" -> "collects the BPE merge list it encodes with",
    "q_wordpiece" -> "collects the WordPiece vocabulary",
    "q_unigram_segment" -> "collects the unigram piece model",
    "q_phrase_apply" -> "collects each pass's phrase list before merging tokens",
    "q_phrase_trigrams" -> "collects each pass's phrase list before merging tokens",
    "q_frontier_new_bloom" -> "collects the Bloom filter of already-seen URLs",
    "q_decontaminate_bloom" -> "collects the Bloom filter of benchmark n-grams",
    "q_crawl_budget" -> "collects host totals to split the crawl budget",
    // materialized intermediates (Checkpoints), written once, read back by path
    "q_corpus_pipeline" -> "materializes its stages and reads them back",
    "q_warc_erasure" -> "writes a WARC archive, then reads and erases from it",
    "q_ann_recall_pq" -> "builds and writes the IVF-PQ index, then reads it back",
    "q_similarity_ivfpq_incremental" -> "builds, appends to and reads back the IVF-PQ index",
    "q_dedup_apply" -> "first in name order, so it builds and writes the word-pair components")

  /** The float and decimal columns anywhere inside `dt`, as paths. */
  private def hazards(dt: org.apache.spark.sql.types.DataType, path: String): Seq[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType         => Seq(s"$path(decimal)")
      case DoubleType | FloatType => Seq(s"$path(float)")
      case s: StructType          => s.fields.flatMap(f => hazards(f.dataType, s"$path.${f.name}")).toSeq
      case a: ArrayType           => hazards(a.elementType, s"$path[]")
      case m: MapType             => hazards(m.keyType, s"$path<k>") ++ hazards(m.valueType, s"$path<v>")
      case _                      => Nil
    }
  }

  /** The whole registry, each query built ONCE, in name order. A query
    * that throws keeps its failure, so every test reading it fails
    * with the original exception.
    */
  private lazy val sweep: Seq[(String, scala.util.Try[Swept])] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // other suites leave `.cache()` entries behind in the shared session
    spark.catalog.clearCache()
    // a fixture's schema is resolved once per session, not per build
    fixtureTables.foreach(Tables.table(spark, Sf, _))
    // a checkpointed table is written once per JVM, by whichever build
    // asks first: fresh bases make that a query of this sweep, in name
    // order, whatever other suites in the JVM materialized before
    val checkpointBases = Seq(dedup.Dedup.PairTable.DirConf, sim.Similarity.VecIndex.DirConf)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sweep-checkpoints")
    checkpointBases.foreach(k => spark.conf.set(k, s"file:$tmp/$k"))
    val counter = new JobCounter(spark)
    try {
      val swept = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val built = scala.util.Try {
          val df = counter.under(s"build/$name")(fn(spark, Sf))
          (df.schema.fields.toSeq, df.isEmpty)
        }
        ops.Caches.release()
        val leaksCache = !cacheManager.isEmpty
        // a leak must not be charged to the queries after it
        spark.catalog.clearCache()
        name -> built.map { case (fields, empty) =>
          Swept(empty, fields.flatMap(f => hazards(f.dataType, f.name)),
            fields.collect {
              case f if f.dataType.isInstanceOf[ArrayType] ||
                        f.dataType.isInstanceOf[MapType] ||
                        f.dataType.isInstanceOf[StructType] =>
                s"${f.name}: ${f.dataType.simpleString}"
            },
            leaksCache, buildJobs = 0)
        }
      }
      counter.drain()
      swept.map { case (name, r) =>
        name -> r.map(_.copy(buildJobs = counter.jobs(s"build/$name")))
      }
    } finally {
      counter.close()
      checkpointBases.foreach(spark.conf.unset)
    }
  }

  test("every oracle is non-blank SQL") {
    val bad = SparkEntry.registry.toSeq.sortBy(_._1).collect {
      case (name, q) if !q.oracleSql.trim.toUpperCase.matches("(?s)(SELECT|WITH)\\b.*") => name
    }
    assert(bad.isEmpty, s"oracles that are blank or not a SELECT/WITH query: ${bad.mkString(", ")}")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns rows at the smoke scale factor") {
    val empty = sweep.collect { case (name, r) if r.get.empty => name }
    assert(empty.isEmpty, s"queries with empty smoke results: $empty")
  }

  test("gated schemas carry no floating-point column unless whitelisted") {
    // The driver's hash gate is type- and bit-sensitive; a DOUBLE in a
    // gated output is only safe when both engines derive it from exact
    // integers through one identical expression (no rounding of
    // engine-streamed aggregates, no round(DOUBLE, n)). Each whitelist
    // entry documents why its doubles are bit-stable; anything new
    // must either stay integer or argue its way in here.
    val whitelisted: Set[String] = Set(
      // TPC-H money/ratio aggregates: both engines sum the same parquet
      // doubles; green since r1 and kept under watch rather than frozen
      "q1_pricing_summary", "q3_top_revenue", "q5_local_volume",
      "q14_promo_share", "q_events_json",
      // ratios of exact integer counts through one identical division —
      // no rounding, no streamed-double aggregation
      "q_text_quality", "q_repetition", "q_html_extract", "q_lm_surprisal",
      "q_lm_bigram",
      "q_dedup_chargram", "q_dedup_neardup",
      // similarity scores: identical dot-product expressions over the
      // same float32 inputs, evaluated per-row (order-free)
      "q_embedding_neardup", "q_mean_embedding", "q_doc_embedding",
      "q_semantic_neardup", "q_semantic_neardup_k64", "q_similarity_ivf",
      "q_similarity_ivfpq", "q_similarity_ivfpq_apply",
      "q_similarity_ivfpq_incremental", "q_similarity_topk")
    // DECIMAL is banned with NO whitelist: the driver hasher canonicalizes
    // decimal128 differently across engines even when values are bit-exact
    // (q_moment_stats, round 6 — second typing hazard class after HUGEINT).
    // Fold decimals mod 1e9+7 to BIGINT before gating instead.
    val offenders = sweep.flatMap { case (name, r) =>
      val h = r.get.hazards
      // floats may be whitelisted per-query; decimals never are
      val bad = if (whitelisted(name)) h.filter(_.endsWith("(decimal)")) else h
      if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
    }
    assert(offenders.isEmpty,
      s"hash-hazardous column types in gated outputs:\n  ${offenders.mkString("\n  ")}")
  }

  test("gated outputs carry only SCALAR top-level columns") {
    // The driver's oracle harness canonicalizes row order with a pandas
    // sort over ALL columns; an array/map/struct cell is unhashable there
    // and crashes the gate before comparison (round-9 q_warc_http /
    // q_robots_meta). Nested data must be array_join'd (U+0001 separator
    // by convention) or exploded to (idx, value) rows before gating.
    val offenders = sweep.flatMap { case (name, r) =>
      val bad = r.get.nonScalar
      if (bad.nonEmpty) Some(s"$name -> ${bad.mkString(", ")}") else None
    }
    assert(offenders.isEmpty,
      s"non-scalar top-level columns in gated outputs:\n  ${offenders.mkString("\n  ")}")
  }

  test("no registry query leaves a cache entry after Caches.release()") {
    // every persist goes through ops.Caches, so the release a library
    // user calls after consuming a result drops everything it cached
    val leaks = sweep.collect { case (name, r) if r.get.leaksCache => name }
    assert(leaks.isEmpty,
      s"queries still cached after Caches.release() (${leaks.size}): ${leaks.mkString(", ")}")
  }

  test("building a registry query starts no job unless it is declared eager") {
    assert(EagerBuild.keySet.diff(SparkEntry.queries.keySet).isEmpty,
      s"EagerBuild names unknown queries: ${EagerBuild.keySet.diff(SparkEntry.queries.keySet)}")
    val jobs = sweep.map { case (name, r) => name -> r.get.buildJobs }
    val undeclared = jobs.collect { case (name, n) if n > 0 && !EagerBuild.contains(name) =>
      s"$name: $n jobs" }
    assert(undeclared.isEmpty,
      s"queries that start jobs while being built (${undeclared.size}):\n  ${undeclared.mkString("\n  ")}")
    // a query that stopped being eager leaves the list
    val lazyNow = jobs.collect { case (name, 0) if EagerBuild.contains(name) => name }
    assert(lazyNow.isEmpty, s"declared eager but built with no job: ${lazyNow.mkString(", ")}")
  }

  test("query names are unique across module registries (no silent overwrite)") {
    // the union throws on a name registered twice, within one module or
    // across two, so the real registry building at all proves uniqueness
    assert(SparkEntry.registry.nonEmpty)
    val q = Query((s, dir) => Tables.documents(s, dir), "SELECT 1")
    val within = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(Seq("q_a" -> q, "q_b" -> q, "q_a" -> q))))
    assert(within.getMessage.contains("q_a"))
    val across = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(Seq("q_a" -> q, "q_b" -> q), Seq("q_c" -> q, "q_b" -> q))))
    assert(across.getMessage.contains("q_b") && !across.getMessage.contains("q_a"))
    assert(SparkEntry.union(Seq(Seq("q_a" -> q), Seq("q_b" -> q))).keySet === Set("q_a", "q_b"))
  }

  test("every checkpointed table reads back with the schema a bare read infers") {
    // the sweep builds every query that materializes a table
    sweep
    val written = sources.Checkpoints.writtenSchemas
    assert(written.nonEmpty, "the sweep materialized no table")
    val differ = written.toSeq.sortBy(_._1).collect {
      case (p, schema) if spark.read.parquet(p).schema != schema =>
        s"$p: stored $schema, inferred ${spark.read.parquet(p).schema}"
    }
    assert(differ.isEmpty, s"read-back schemas that differ:\n  ${differ.mkString("\n  ")}")
  }
}
