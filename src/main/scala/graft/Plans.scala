package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dump: writes `explain("formatted")` output of every
  * registered query to `<outDir>/<name>.plan.txt`. The artifact the
  * scale review reads — pushed filters, exchange placement, codegen
  * stages, broadcast choices — without re-running anything by hand.
  * Runs on the same session as [[Bench]], so the plans are the plans
  * the bench times.
  *
  * Usage: `sbt "runMain graft.Plans /root/testdata/sf0.001 /tmp/plans [only=q_a,q_b]"`
  * — `only=` restricts to the named queries (targeted before/after plan
  * capture during an optimization pass, without the full-registry dump).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (Seq(sfDir, outDir), queries) = Harness.queries(args.toSeq)
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, q) =>
      try {
        val qe = q.build(spark, sfDir).queryExecution
        val txt = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.plan.txt"), txt)
        println(s"[plans] wrote $name")
      } catch {
        case e: Throwable => System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
      // the next query's plan must not read this one's caches
      ops.Caches.release()
    }
    spark.stop()
  }
}
