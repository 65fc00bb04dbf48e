package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Fixed-point PageRank: exact hand-computed iterates on a micro graph,
  * mass conservation bounds, dangling handling, and determinism.
  */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("one iteration on a hand-computed micro graph is exact") {
    // 1→3, 2→3, 3→4: N=4, base = SCALE/4 = 250_000_000_000
    // iter1: no danglers except node 4 (deg 0): D = r(4) = base
    //   S(3) = r(1)/1 + r(2)/1 = 2·base; S(4) = r(3)/1 = base; S(1)=S(2)=0
    //   r'(v) = (15·base + 85·(S + D/4)) / 100
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.pagerankOf(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = Graph.Scale / 4
    val dShare = base / 4
    def step(s: Long) = (15L * base + 85L * (s + dShare)) / 100L
    assert(got(1L) == step(0L))
    assert(got(2L) == step(0L))
    assert(got(3L) == step(2L * base))
    assert(got(4L) == step(base))
  }

  test("mass never grows, floor losses stay small, ranks positive") {
    val ranks = Graph.tradePagerank(spark, Sf).persist()
    val total = ranks.agg(sum("rank_fp")).collect()(0).getLong(0)
    assert(total <= Graph.Scale, s"mass grew: $total")
    // floor division loses < 1 unit per divide per node per iteration —
    // total loss is bounded far under 1% of SCALE at any fixture size
    assert(total > Graph.Scale * 99L / 100L, s"mass leak too large: $total")
    assert(ranks.filter(col("rank_fp") <= 0).count() == 0)
    ranks.unpersist()
  }

  test("suppliers (pure sinks) accumulate more than the dangling floor") {
    val ranks = Graph.tradePagerank(spark, Sf).persist()
    val byKind = ranks.groupBy("kind").agg(
      sum("rank_fp").as("mass"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every customer points at suppliers and nothing points back, so the
    // average supplier must out-rank the average customer
    val (cm, cn) = byKind("customer")
    val (sm, sn) = byKind("supplier")
    assert(sm / sn > cm / cn, s"sink nodes should out-rank sources: $byKind")
    ranks.unpersist()
  }

  test("bit-deterministic across runs") {
    val a = Graph.tradePagerank(spark, Sf).orderBy("node").collect().toSeq
    val b = Graph.tradePagerank(spark, Sf).orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("reliable-checkpoint mode: bit-identical ranks, rounds persisted to the dir") {
    val local = Graph.tradePagerank(spark, Sf).orderBy("node").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-iter-ckpt").toString
    spark.conf.set(graft.sources.Checkpoints.IterCheckpointDirKey, dir)
    try {
      val reliable = Graph.tradePagerank(spark, Sf).orderBy("node").collect().toSeq
      assert(reliable == local,
        "checkpoint mode must change only the failure domain, never the data")
      // each round really went through the FS checkpoint dir
      def depth(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(depth).foldLeft(1)(math.max) else 1
      val root = new java.io.File(dir)
      assert(root.exists && root.listFiles().nonEmpty,
        "reliable mode must write checkpoint data under the configured dir")
    } finally {
      spark.conf.unset(graft.sources.Checkpoints.IterCheckpointDirKey)
    }
  }

  test("component propagation honors the same checkpoint switch") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    // the image near-dup clusters truncate their pair table through the
    // same switch before propagating
    def imageClusters() =
      try graft.multimodal.ImageHash.clusters(spark, Sf).orderBy("doc_id").collect().toSeq
      finally graft.ops.Caches.release()
    val local = graft.dedup.Dedup.Components.of(pairs)
      .orderBy("doc_id").collect().toSeq
    val localImages = imageClusters()
    assert(localImages.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-iter-ckpt2").toString
    spark.conf.set(graft.sources.Checkpoints.IterCheckpointDirKey, dir)
    try {
      val reliable = graft.dedup.Dedup.Components.of(pairs)
        .orderBy("doc_id").collect().toSeq
      assert(reliable == local)
      assert(imageClusters() == localImages)
    } finally {
      spark.conf.unset(graft.sources.Checkpoints.IterCheckpointDirKey)
    }
  }

  test("HITS one iteration on a hand-computed micro graph is exact") {
    // 1→3, 2→3, 1→4: N=4, base = SCALE/4
    // ar(3) = h(1)+h(2) = 2·base; ar(4) = h(1) = base; total = 3·base
    // qa = max(1, 3·base // SCALE) = 1 → a = ar
    // hr(1) = a(3)+a(4) = 3·base; hr(2) = a(3) = 2·base; total = 5·base
    // qh = max(1, 5·base // SCALE) = 1 → h = hr
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = Graph.hitsOf(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("hub_fp"), r.getAs[Long]("auth_fp")))).toMap
    val base = Graph.Scale / 4
    assert(got(3L) == ((0L, 2 * base)), "pure authority")
    assert(got(4L) == ((0L, base)))
    assert(got(1L) == ((3 * base, 0L)), "pure hub")
    assert(got(2L) == ((2 * base, 0L)))
  }

  test("HITS on the bipartite trade graph: customers are pure hubs, suppliers pure authorities") {
    val rows = Graph.tradeHits(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kind = r.getAs[String]("kind")
      if (kind == "customer") assert(r.getAs[Long]("auth_fp") == 0L, s"customer ${r.getLong(0)}")
      else assert(r.getAs[Long]("hub_fp") == 0L, s"supplier ${r.getLong(0)}")
    }
    // renormalized mass stays within (Scale/2, 2·Scale): the quotient
    // q = max(1, total // Scale) FLOORS, so total/q can overshoot Scale
    // by a factor < (q+1)/q ≤ 2 and undershoot by the same bound
    val hubMass = rows.map(_.getAs[Long]("hub_fp")).sum
    val authMass = rows.map(_.getAs[Long]("auth_fp")).sum
    assert(hubMass < 2 * Graph.Scale && hubMass > Graph.Scale / 2, s"hub mass $hubMass")
    assert(authMass < 2 * Graph.Scale && authMass > Graph.Scale / 2, s"auth mass $authMass")
  }

  test("HITS bit-deterministic across runs") {
    val a = Graph.tradeHits(spark, Sf).collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val b = Graph.tradeHits(spark, Sf).collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(a.sameElements(b))
  }
}
