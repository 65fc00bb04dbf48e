package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkSuite {

  test("shingles: fewer than 3 tokens yields empty; order-insensitive distinct set") {
    import spark.implicits._
    val df = Seq("a b", "a b c d", "x x x x").toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0).isEmpty)
    assert(rows(1) == Seq("a b c", "b c d"))
    assert(rows(2) == Seq("x x x")) // duplicates collapsed
  }

  test("exact dedup keeps the lowest doc_id per identical normalized text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello   WORLD 42"), // normalizes same as doc 3
      (2L, "completely different content"),
      (3L, "hello world 99")    // digits stripped -> same fingerprint as 1
    ).toDF("doc_id", "text")
    val out = Dedup.Exact.dedupExact(docs).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("minhash LSH finds an obvious near-dup and not a dissimilar pair") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val nearDup = base.replace("kappa", "lambda") // 1-token tail change
    val other = "one two three four five six seven eight nine ten"
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .select(col("doc_id"),
        array_distinct(Dedup.MinHashLSH.baseHashes(col("sh"))).as("hv"))
      .filter(size(col("hv")) > 0)
    val b = Dedup.MinHashLSH.banded(docs)
    val cand = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)), "near-dup pair must share at least one band")
    assert(!cand.contains((0L, 2L)) && !cand.contains((1L, 2L)),
      "dissimilar docs share no band")
  }

  test("fixture near-dup pairs all exceed the verify threshold and are plentiful") {
    val pairs = Dedup.MinHashLSH.nearDupPairs(spark, Sf)
    val n = pairs.count()
    assert(n > 0, "generator plants near-dups at every SF")
    assert(pairs.filter(col("jaccard") < Dedup.MinHashLSH.Threshold).count() === 0)
  }

  test("components close a transitive chain whose endpoints share no band") {
    import spark.implicits._
    // 1~3 and 2~3 are verified pairs; (1,2) never collides anywhere.
    // The old drop-every-doc_b rule would keep {1, 2, 4}; component
    // closure must collapse {1,2,3} to its minimum and keep {1, 4}.
    val pairs = Seq((2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val cc = Dedup.Components.of(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val kept = Dedup.dropNearDups(docs, pairs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("components converge on a long chain (diameter > one propagation round)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.Components.of(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      8L -> 8L, 9L -> 8L))
  }

  test("PairTable checkpoints under a configurable file: URI base and matches a direct run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pairs-test")
    spark.conf.set(Dedup.PairTable.DirConf, "file:" + tmp.toString)
    try {
      val viaCheckpoint = Dedup.PairTable.wordPairs(spark, Sf).collect().toSet
      val direct = Dedup.MinHashLSH.nearDupPairs(spark, Sf).collect().toSet
      assert(viaCheckpoint == direct)
      val children = tmp.toFile.listFiles()
      assert(children != null && children.nonEmpty,
        "checkpoint parquet must land under the configured base (Hadoop file: URI)")
    } finally spark.conf.unset(Dedup.PairTable.DirConf)
  }

  test("PairTable checkpoint dirs are nonce-suffixed — concurrent JVMs sharing a base never collide") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pairs-nonce")
    spark.conf.set(Dedup.PairTable.DirConf, "file:" + tmp.toString)
    try {
      Dedup.PairTable.wordPairs(spark, Sf).count()
      val names = tmp.toFile.listFiles().map(_.getName)
      assert(names.nonEmpty)
      // every dir is <md5-key>[_cc]_<jvm-nonce>: a second JVM draws its own
      // nonce, so its overwrite can never delete files this one is reading
      assert(names.forall(_.matches("^[0-9a-f]{32}(_cc)?_[0-9a-f-]{12}$")),
        s"unexpected checkpoint dir names: ${names.mkString(", ")}")
    } finally spark.conf.unset(Dedup.PairTable.DirConf)
  }

  test("dropNearDupsFromClusters over a materialized cluster table equals dropNearDups") {
    import spark.implicits._
    val pairs = Seq((2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val clusters = Dedup.Components.of(pairs)
    val viaClusters = Dedup.dropNearDupsFromClusters(docs, clusters)
      .select("doc_id").as[Long].collect().sorted
    val direct = Dedup.dropNearDups(docs, pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(viaClusters.toSeq == direct.toSeq && viaClusters.toSeq == Seq(1L, 4L))
  }

  test("exact-copy collapse is bit-exact: pairs equal the uncollapsed band+verify join") {
    import spark.implicits._
    // 14 tokens → 12 shingles; a last-token edit leaves 11 shared of 13
    // distinct (jaccard 0.846 ≥ 0.8), so the cross-group pair verifies
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu xi omicron"
    val near = base.replace("omicron", "pi")
    val other = "one two three four five six seven eight nine ten"
    // group A = {10, 25} (25 sorts BETWEEN group B's ids — exercises the
    // least/greatest re-orientation), group B = {20, 21}, 30 unrelated
    val docs = Seq((10L, base), (25L, base), (20L, near), (21L, near), (30L, other))
      .toDF("doc_id", "text")
    val cfg = Dedup.MinHashLSH.WordConfig
    val hv = Dedup.MinHashLSH.shingleHashes(col("text"))
    val got = Dedup.MinHashLSH.nearDupPairsOn(docs, hv, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // uncollapsed reference: band + verify over ALL docs, no rep collapse
    val hashed = docs.select(col("doc_id"), hv.as("hv")).filter(size(col("hv")) > 0)
    val b = Dedup.MinHashLSH.banded(hashed, cfg)
    val cand = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
    val want = cand
      .join(hashed.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), "doc_a")
      .join(hashed.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Dedup.jaccard(col("hv_a"), col("hv_b")).as("jaccard"))
      .filter(col("jaccard") >= cfg.threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"collapse changed the pair set:\n got=$got\nwant=$want")
    // and the copies really did produce intra pairs at jaccard exactly 1.0
    assert(got.contains((10L, 25L, 1.0)) && got.contains((20L, 21L, 1.0)))
    assert(got.exists(p => p._1 == 20L && p._2 == 25L), "cross pair must re-orient 25 vs 20")
  }

  test("simhash48 signature collapse is bit-exact vs the uncollapsed banded join") {
    import spark.implicits._
    import graft.plans.SimHash48.{BandBits, BandMask, NumBands}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base.replace("kappa", "lambda")
    val docs = Seq((10L, base), (25L, base), (20L, near), (21L, near),
      (30L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-sh48").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.SimHash.nearDupPairs48(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = docs
      .select(col("doc_id"), Dedup.shingles(col("text")).as("ft"))
      .filter(size(col("ft")) > 0)
      .select(col("doc_id"), Dedup.SimHash.simhash48Of(col("ft")).as("sh"))
    val bandArr = array((0 until NumBands).map(j =>
      shiftright(col("sh"), j * BandBits).bitwiseAND(lit(BandMask))): _*)
    val banded = sigs.select(col("doc_id"), col("sh"),
      posexplode(bandArr).as(Seq("band", "bv")))
    val want = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        Dedup.SimHash.hamming(col("x.sh"), col("y.sh")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= Dedup.SimHash.HammingMax).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"signature collapse changed the pair set:\n got=$got\nwant=$want")
    assert(got.contains((10L, 25L, 0L)), "exact copies pair at hamming 0")
  }

  test("simhash: identical token sets agree; near-dup hamming < dissimilar hamming") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),  // 1 token differs
      (2L, "uno dos tres cuatro cinco seis siete ocho")
    ).toDF("doc_id", "text").select(col("doc_id"), Dedup.SimHash.simhash(col("text")))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(1L)) < ham(h(0L), h(2L)),
      s"near-dup hamming ${ham(h(0L), h(1L))} should beat dissimilar ${ham(h(0L), h(2L))}")
  }

  test("incrementalKeep drops batch docs near-dup of index docs, keeps within-batch pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val edited = (1 to 29).map(i => s"tok$i").mkString(" ") + " changed"
    val other = (101 to 130).map(i => s"alt$i").mkString(" ")
    val otherEdited = (101 to 129).map(i => s"alt$i").mkString(" ") + " changed"
    val unique = (201 to 230).map(i => s"uniq$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    Seq(
      (10L, edited),      // batch, near-dup of index doc 11 => dropped
      (11L, base),        // index
      (20L, unique),      // batch, unique => kept
      (30L, other),       // batch \
      (40L, otherEdited)  // batch  - within-batch pair: BOTH kept
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Dedup.MinHashLSH.incrementalKeep(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(20L, 30L, 40L), s"got $kept")
  }

  test("cluster report predicts the apply step exactly: dropped_docs == docs removed") {
    import org.apache.spark.sql.functions._
    val rep = graft.dedup.Dedup.clusterReport(spark, Sf)
      .agg(sum(col("dropped_docs")), sum(col("docs")), sum(col("dropped_toks")))
      .collect()(0)
    val total = Tables.documents(spark, Sf).count()
    val kept = graft.dedup.Dedup.dropNearDupsFromClusters(
      Tables.documents(spark, Sf).select(col("doc_id")),
      graft.dedup.Dedup.PairTable.wordClusters(spark, Sf)).count()
    assert(rep.getLong(0) == total - kept,
      s"report dropped ${rep.getLong(0)} != apply removed ${total - kept}")
    assert(rep.getLong(2) > 0, "planted dup families must carry dropped tokens")
  }

  test("quality reps pick the highest-quality member, ties by doc_id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 10L), (2L, 99L), (3L, 99L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "q")
    val reps = Dedup.repsOf(clusters, quality).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(reps == Map(1L -> (2L, 99L), 7L -> (7L, 5L)))

    // the same rule over recall-1 SetSim pairs: 1 and 2 share a 40-token
    // body (2 is longer, so scores higher), 3 is unique; the cluster keeps
    // its best-scoring member, never simply the lowest doc_id
    val shared = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, shared),
      (2L, s"$shared extra context tokens improving coverage here today"),
      (3L, "entirely different content about something else altogether"))
      .toDF("doc_id", "text")
    val q = docs.select(col("doc_id"),
      text.Analysis.qualityQFromTokens(text.TextOps.tokenize(col("text"))).as("q"))
    val qs = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = graft.dedup.SetSim.similarityJoin(docs, 6000)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val setSimReps = Dedup.repsOf(Dedup.Components.of(pairs), q)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(setSimReps == Set(if (qs(2L) > qs(1L)) 2L else 1L))
  }

  test("fixture quality reps cover every cluster exactly once") {
    val reps = Dedup.qualityReps(spark, Sf)
    val clusters = Dedup.PairTable.wordClusters(spark, Sf)
      .select("cluster_id").distinct().count()
    assert(reps.count() == clusters)
    assert(reps.select("cluster_id").distinct().count() == clusters)
  }
}
