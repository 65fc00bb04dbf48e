package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.pipelines.CdxIndex

class CdxIndexSpec extends SparkSuite {

  private lazy val rows = CdxIndex.index(spark, Sf)
    .collect().sortBy(_.getAs[Long]("rn"))

  test("one capture per document, ranks dense from 1") {
    val n = Tables.documents(spark, Sf).count()
    assert(rows.length == n)
    assert(rows.map(_.getAs[Long]("rn")).toSeq == (1L to n).toSeq)
  }

  test("global SURT order: the rank walk never goes backwards") {
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (sa, sb) = (a.getAs[String]("surt"), b.getAs[String]("surt"))
        // byte-lexicographic, the ck contract (ties broken by doc_id)
        val cmp = sa.compareTo(sb)
        assert(cmp < 0 || (cmp == 0 &&
          a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")),
          s"rank ${a.getAs[Long]("rn")}: '$sa' !< '$sb'")
      case _ =>
    }
  }

  test("surt shape: reversed host labels, `)`, canonical path (+ sorted query)") {
    rows.foreach { r =>
      val surt = r.getAs[String]("surt")
      assert(surt.matches("com,example,crawl\\d+\\).*"), surt)
      assert(!surt.contains("utm_") && !surt.contains("#"), surt)
    }
  }

  test("shards are rank-arithmetic and offsets replay as running byte sums") {
    var shard = -1L
    var running = 0L
    rows.foreach { r =>
      val rn = r.getAs[Long]("rn")
      assert(r.getAs[Long]("shard_id") == (rn - 1) / CdxIndex.RowsPerShard)
      if (r.getAs[Long]("shard_id") != shard) { shard = r.getAs[Long]("shard_id"); running = 0L }
      assert(r.getAs[Long]("byte_offset") == running,
        s"rank $rn in shard $shard")
      running += r.getAs[Long]("rec_bytes")
    }
    assert(shard > 0, "fixture must span multiple shards")
  }

  test("rec_bytes and digest replay exactly against a reference serialization") {
    import org.apache.spark.sql.Row
    // recompute the canonical target the same way the pipeline's own
    // gated canonicalizer does, then serialize by hand
    val canons = graft.text.Canonical.canonicalize(
        Tables.documents(spark, Sf).select(col("doc_id"),
          graft.pipelines.CrawlPipeline.plantUri.as("url"),
          coalesce(col("text"), lit("")).as("t")))
      .select(col("doc_id"), col("canon"), col("t"))
      .collect().map { case Row(id: Long, c: String, t: String) => id -> ((c, t)) }.toMap
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    canons.foreach { case (id, (canon, t)) =>
      val r = byDoc(id)
      val digest = MessageDigest.getInstance("SHA-256")
        .digest(t.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
      assert(r.getAs[String]("digest") == digest, s"doc $id digest")
      val reference = "WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: $canon\r\n" +
        s"WARC-Payload-Digest: sha256:$digest\r\n" +
        s"Content-Length: ${t.getBytes(StandardCharsets.UTF_8).length}\r\n\r\n" +
        t + "\r\n\r\n"
      assert(r.getAs[Long]("rec_bytes") ==
        reference.getBytes(StandardCharsets.UTF_8).length, s"doc $id bytes")
    }
  }

  test("plan shape: one range exchange, a totals-only SinglePartition") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every node, through AQE wrappers and into the persisted input
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ => p.children.flatMap(walk)
    })
    val plan = CdxIndex.index(spark, Sf).queryExecution.executedPlan
    // the persisted input is read twice (totals and local ranks): one node
    val exchanges = walk(plan).collect { case e: ShuffleExchangeExec => e }.distinct
    val ranges = exchanges.filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(ranges.size == 1, s"the global order is one range exchange:\n$plan")
    // every single-partition exchange carries the per-partition totals
    // (the final aggregate keyed by pid), never a corpus-sized input
    val singles = exchanges.filter(_.outputPartitioning == SinglePartition)
    assert(singles.nonEmpty, s"partition offsets window over the totals:\n$plan")
    singles.foreach { e =>
      e.child match {
        case agg: HashAggregateExec =>
          assert(agg.groupingExpressions.map(_.name) == Seq("pid"), e.toString)
        case other => fail(s"SinglePartition exchange over ${other.nodeName}:\n$plan")
      }
    }
  }
}
