package graft
import java.nio.file.{Files, Paths}
import Harness.jstr
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [only=q_a,q_b]` — `only=`
  * restricts to the named queries for fast local iteration; the
  * correctness gate runs the full set.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Seq(sfDir, outDir), queries) = Harness.queries(args.toSeq)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist model inputs (Phrases.pass, SemDedup.pairs,
      // Similarity.serve*) release them here, so a full-registry run
      // never accumulates more than one query's caches
      Harness.releaseCaches(spark)
    }
    val names = queries.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
