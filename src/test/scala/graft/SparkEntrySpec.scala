package graft

/** Contract meta-tests for the driver interface: a query without an oracle
  * silently downgrades to a rows-only check, and an empty result can mask
  * a broken predicate — both are regressions this suite turns loud.
  */
class SparkEntrySpec extends SparkSuite {

  /** What one build of a registry query at [[Sf]] showed: whether it
    * returned no rows, the float/decimal hazards of its schema, its
    * non-scalar top-level columns, and whether a cache entry survived
    * [[ops.Caches.release]] after it ran.
    */
  private final case class Swept(empty: Boolean, hazards: Seq[String],
                                 nonScalar: Seq[String], leaksCache: Boolean)

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
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val built = scala.util.Try {
        val df = fn(spark, Sf)
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
          leaksCache)
      }
    }
  }

  test("every registered query has a matching oracle (and no orphan oracles)") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
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

  test("query names are unique across module registries (no silent overwrite)") {
    // Map ++ would mask a duplicate key; recompute with collision detection
    val perModule = Seq(
      graft.ops.SrData.queries, graft.ops.Relational.queries,
      graft.text.Analysis.queries, graft.pipelines.Preprocess.queries,
      graft.pipelines.DistinctUpsert.queries, graft.dedup.Dedup.queries,
      graft.sim.Similarity.queries, graft.ops.Events.queries,
      graft.text.Keyword.queries, graft.ops.AsofJoin.queries,
      graft.text.Stemmer.queries, graft.text.Phrases.queries,
      graft.sim.DocEmbedding.queries,
      graft.multimodal.Multimodal.queries)
    val all = perModule.flatMap(_.keys)
    assert(all.size === all.distinct.size, "duplicate query name across modules")
  }
}
