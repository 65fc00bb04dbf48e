package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The per-session schema memo behind [[Tables.table]]: a fixture read
  * after the first starts no job, serves the schema Spark would infer,
  * and never outlives a rewrite of the file or a change of session.
  */
class TablesSpec extends SparkSuite {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private def tmpDir(): String =
    Files.createTempDirectory("graft-tables").toString

  /** Writes `df` as the single parquet file `dir/name.parquet`. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staged = s"$dir/.staged-$name"
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    val part = Files.list(Paths.get(staged)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def withCounter[T](body: JobCounter => T): T = {
    val c = new JobCounter(spark)
    try body(c) finally c.close()
  }

  test("the first read of a file infers its schema; a second read starts no job") {
    import spark.implicits._
    val dir = tmpDir()
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "t")
    withCounter { c =>
      val first = c.under("tables/first")(Tables.table(spark, dir, "t"))
      val second = c.under("tables/second")(Tables.table(spark, dir, "t"))
      c.drain()
      assert(c.jobs("tables/first") >= 1, "the first read resolves the schema")
      assert(c.jobs("tables/second") === 0, "the second read must reuse the resolved schema")
      assert(second.schema === first.schema)
      assert(second.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    }
  }

  test("the memoized schema of every fixture table is the one Spark infers") {
    assert(spark.conf.get(NanosAsLong) === "true")
    assert(fixtureTables.contains("events") && fixtureTables.size >= 10, fixtureTables)
    fixtureTables.foreach { name =>
      Tables.table(spark, Sf, name)
      val memoized = Tables.table(spark, Sf, name).schema
      assert(memoized === spark.read.parquet(s"$Sf/$name.parquet").schema, name)
    }
    assert(Tables.events(spark, Sf).schema("ts").dataType === TimestampType)
  }

  test("a file rewritten with another schema is re-inferred, not served stale") {
    import spark.implicits._
    val dir = tmpDir()
    writeFile(Seq(1L, 2L).toDF("a"), dir, "t")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("a"))
    writeFile(Seq(("x", 7), ("y", 8), ("z", 9)).toDF("b", "c"), dir, "t")
    val reread = Tables.table(spark, dir, "t")
    assert(reread.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(reread.columns.toSeq === Seq("b", "c"))
    assert(reread.as[(String, Int)].collect().toSet === Set(("x", 7), ("y", 8), ("z", 9)))
  }

  test("a session with other parquet settings resolves its own schema") {
    // the fixture's naive micro timestamps infer as TIMESTAMP_NTZ unless
    // the session turns that inference off
    assert(Tables.table(spark, Sf, "events").schema("ts").dataType === TimestampNTZType)
    val legacy = spark.newSession()
    legacy.conf.set(InferNtz, "false")
    assert(Tables.table(legacy, Sf, "events").schema("ts").dataType === TimestampType)
    assert(Tables.table(spark, Sf, "events").schema("ts").dataType === TimestampNTZType)
    // the same session, with the setting changed at run time
    try {
      spark.conf.set(InferNtz, "false")
      assert(Tables.table(spark, Sf, "events").schema("ts").dataType === TimestampType)
    } finally spark.conf.unset(InferNtz)
    assert(Tables.table(spark, Sf, "events").schema("ts").dataType === TimestampNTZType)
  }

  test("TIMESTAMP(NANOS) reads as raw INT64 only in a session with nanosAsLong") {
    val dir = tmpDir()
    val path = s"$dir/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()

    val raw = Tables.table(spark, dir, "nanos")
    assert(raw.schema("ts").dataType === LongType)
    assert(raw.head().getLong(0) === 1700000000123456789L)

    // without the flag Spark rejects the column outright; the memo must
    // not hand that session the other session's INT64 schema
    val other = spark.newSession()
    other.conf.set(NanosAsLong, "false")
    val own = intercept[AnalysisException](other.read.parquet(path))
    val memo = intercept[AnalysisException](Tables.table(other, dir, "nanos"))
    assert(own.getCondition === "PARQUET_TYPE_ILLEGAL")
    assert(memo.getCondition === own.getCondition)
  }

  test("a directory path is read as before, with no memo: appended files show") {
    import spark.implicits._
    val path = tmpDir() + "/d.parquet"
    Seq(1L, 2L, 3L).toDF("k").repartition(2).write.parquet(path)
    val dir = path.stripSuffix("/d.parquet")
    assert(Tables.table(spark, dir, "d").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    Seq(4L).toDF("k").write.mode("append").parquet(path)
    assert(Tables.table(spark, dir, "d").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("building preprocessAllMonths or distinctUpsert over read tables starts no job") {
    fixtureTables.foreach(Tables.table(spark, Sf, _))
    withCounter { c =>
      c.under("tables/preprocess")(pipelines.Preprocess.preprocessAllMonths(spark, Sf))
      c.under("tables/upsert")(pipelines.DistinctUpsert.distinctUpsert(spark, Sf))
      c.drain()
      assert(c.jobs("tables/preprocess") === 0)
      assert(c.jobs("tables/upsert") === 0)
    }
  }
}
