package graft
import java.nio.file.{Files, Paths}
import Harness.jstr
/** Correctness dump: each [[SparkEntry.registry]] query's result →
  * parquet, plus oracle_sql.json (name → oracle SQL, in name order), for
  * the DuckDB oracle compare (`tools/check.py`).
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
    queries.foreach { case (name, q) =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      ops.Caches.release()
    }
    // in name order, so the dump is byte-stable across runs and commits
    val json = queries.map { case (k, q) => s"${jstr(k)}: ${jstr(q.oracleSql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
