package graft

import org.apache.spark.sql.functions._
import graft.sources.Sinks

class SinksSpec extends SparkSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sinks").toString

  test("S4 keyed sink is idempotent: re-running the same write lands the same table") {
    import spark.implicits._
    val df = Seq(
      ("k1", "2020-01-01", "a"), ("k1", "2020-06-01", "b"), ("k2", "2020-01-01", "c")
    ).toDF("id", "ver", "payload")
    val path = tmpDir() + "/keyed"
    Sinks.writeKeyed(df, "id", "ver", path)
    val first = spark.read.parquet(path).collect().toSet
    Sinks.writeKeyed(df, "id", "ver", path)
    val second = spark.read.parquet(path).collect().toSet
    assert(first === second)
    assert(first.map(_.getString(0)) === Set("k1", "k2"))
    assert(first.find(_.getString(0) == "k1").get.getString(2) == "b", "latest version wins")
  }

  test("S5 merge: updates win per key, unmatched existing rows survive") {
    import spark.implicits._
    val existing = Seq(("k1", "2020-01-01", "old"), ("k2", "2020-01-01", "keep"))
      .toDF("id", "ver", "payload")
    val updates = Seq(("k1", "2021-01-01", "new"), ("k3", "2020-05-05", "insert"))
      .toDF("id", "ver", "payload")
    val merged = Sinks.mergeByKey(existing, updates, "id", "ver")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(merged === Map("k1" -> "new", "k2" -> "keep", "k3" -> "insert"))
  }

  test("S5 merge: at equal version the update beats the existing row") {
    import spark.implicits._
    val existing = Seq(("k1", "2020-01-01", "old")).toDF("id", "ver", "payload")
    val updates = Seq(("k1", "2020-01-01", "new")).toDF("id", "ver", "payload")
    val merged = Sinks.mergeByKey(existing, updates, "id", "ver").collect()
    assert(merged.length == 1 && merged(0).getString(2) == "new")
  }

  private def stagingLeft(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path + "__staging")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readMerged(path: String): Map[String, String] =
    spark.read.parquet(path).collect().map(r => r.getString(0) -> r.getString(2)).toMap

  test("S5 sink round-trip: first write creates, second merges") {
    import spark.implicits._
    val path = tmpDir() + "/merged"
    Sinks.writeMerged(spark,
      Seq(("k1", "2020-01-01", "v1")).toDF("id", "ver", "payload"), "id", "ver", path)
    assert(!stagingLeft(path), "the first write goes straight to the table")
    Sinks.writeMerged(spark,
      Seq(("k1", "2020-02-02", "v2"), ("k2", "2020-01-01", "w1")).toDF("id", "ver", "payload"),
      "id", "ver", path)
    assert(!stagingLeft(path), "the staged merge is renamed into place")
    assert(readMerged(path) === Map("k1" -> "v2", "k2" -> "w1"))

    // a batch whose updates fail while the staged write runs, not at analysis
    val boom = udf((s: String) => if (s != null) throw new IllegalStateException("boom") else s)
    val failing = spark.range(2).select(concat(lit("k"), col("id").cast("string")).as("id"),
      lit("2030-01-01").as("ver"), boom(col("id").cast("string")).as("payload"))
    intercept[org.apache.spark.SparkException] {
      Sinks.writeMerged(spark, failing, "id", "ver", path)
    }
    assert(readMerged(path) === Map("k1" -> "v2", "k2" -> "w1"), "the old table is untouched")
  }

  test("S5 merge fails loudly on schema drift instead of silently dropping columns") {
    import spark.implicits._
    val existing = Seq(("k1", "2020-01-01", "old")).toDF("id", "ver", "payload")
    val drifted = Seq(("k1", "2021-01-01")).toDF("id", "ver") // payload missing
    intercept[org.apache.spark.sql.AnalysisException] {
      Sinks.mergeByKey(existing, drifted, "id", "ver").collect()
    }
  }

  test("S5 sink works over a file: URI (Hadoop FileSystem, not java.io.File)") {
    import spark.implicits._
    val path = "file://" + tmpDir() + "/merged_uri"
    Sinks.writeMerged(spark,
      Seq(("k1", "2020-01-01", "v1")).toDF("id", "ver", "payload"), "id", "ver", path)
    Sinks.writeMerged(spark,
      Seq(("k1", "2020-02-02", "v2")).toDF("id", "ver", "payload"), "id", "ver", path)
    assert(readMerged(path) === Map("k1" -> "v2"),
      "an existence check that misses the file: table would re-init instead of merging")
    assert(!stagingLeft(path), "delete and rename resolve the file: URI too")
  }

  test("S5 partition-bounded merge rewrites ONLY touched partitions") {
    import spark.implicits._
    val path = tmpDir() + "/merged_part"
    Sinks.writeMergedPartitioned(spark,
      Seq(("k1", "2020-01-01", "v1", "1-2020"),
          ("k2", "2020-01-01", "w1", "2-2020"),
          ("k3", "2020-01-01", "x1", "3-2020")).toDF("id", "ver", "payload", "month_year"),
      "id", "ver", "month_year", path)

    def fileState(part: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$path/month_year=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before2 = fileState("2-2020")
    val before3 = fileState("3-2020")

    // merge batch touching ONLY partition 1-2020
    Sinks.writeMergedPartitioned(spark,
      Seq(("k1", "2021-01-01", "v2", "1-2020")).toDF("id", "ver", "payload", "month_year"),
      "id", "ver", "month_year", path)

    assert(fileState("2-2020") === before2 && fileState("3-2020") === before3,
      "untouched partitions' files must be byte-identical (same name/size/mtime)")
    val out = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out === Map("k1" -> "v2", "k2" -> "w1", "k3" -> "x1"))
  }

  test("S5 partition-bounded merge: new partitions in a batch are appended, not erased") {
    import spark.implicits._
    val path = tmpDir() + "/merged_part_new"
    Sinks.writeMergedPartitioned(spark,
      Seq(("k1", "2020-01-01", "v1", "1-2020")).toDF("id", "ver", "payload", "month_year"),
      "id", "ver", "month_year", path)
    Sinks.writeMergedPartitioned(spark,
      Seq(("k9", "2020-05-05", "z1", "5-2020")).toDF("id", "ver", "payload", "month_year"),
      "id", "ver", "month_year", path)
    val out = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out === Map("k1" -> "v1", "k9" -> "z1"))
  }

  test("S6 registry: ensureExists creates once with the typed schema, then no-ops") {
    val base = tmpDir()
    assert(Sinks.SchemaRegistry.ensureExists(spark, "sr_data_index", base))
    assert(!Sinks.SchemaRegistry.ensureExists(spark, "sr_data_index", base), "second init is a no-op")
    val stored = spark.read.parquet(s"$base/sr_data_index")
    assert(stored.count() === 0)
    assert(stored.schema("summary_vector").dataType.typeName == "array")
    assert(stored.schema("tat").dataType.typeName == "integer")
    intercept[IllegalArgumentException] {
      Sinks.SchemaRegistry.ensureExists(spark, "nope", base)
    }
  }
}
