package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** The core the four harness mains ([[Bench]], [[Verify]], [[Plans]],
  * [[ScaleProbe]]) share: one session, one `only=` query
  * filter, one JSON string escaper, one full-evaluation action and one
  * cold timed run. Every main measures or dumps the same configuration.
  */
object Harness {

  /** The session every main runs on: [[Graft.session]] at
    * `local[SPARK_GRAFT_CPUS]` (default 4).
    */
  def session(): SparkSession =
    Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

  /** Splits `args` into positional arguments and the query names given
    * as `only=q_a,q_b` (None when absent: every query).
    */
  def parseArgs(args: Seq[String]): (Seq[String], Option[Set[String]]) = {
    val (filters, positional) = args.partition(_.startsWith("only="))
    (positional, filters.lastOption.map(
      _.stripPrefix("only=").split(',').filter(_.nonEmpty).toSet))
  }

  /** The entries of `registry` that `only` names, sorted by name, or the
    * sorted names `registry` does not know.
    */
  def select[V](registry: Map[String, V],
                only: Option[Set[String]]): Either[Seq[String], Seq[(String, V)]] = {
    val unknown = only.toSeq.flatten.filterNot(registry.contains).sorted
    if (unknown.nonEmpty) Left(unknown)
    else Right(registry.toSeq.filter { case (k, _) => only.forall(_.contains(k)) }.sortBy(_._1))
  }

  /** The positional arguments and the [[SparkEntry.registry]] entries selected by
    * `only=`. An unknown query name exits with status 2: a typo must not
    * turn into a run that checks nothing.
    */
  def queries(args: Seq[String]): (Seq[String], Seq[(String, Query)]) = {
    val (positional, only) = parseArgs(args)
    select(SparkEntry.registry, only) match {
      case Right(qs) => (positional, qs)
      case Left(unknown) =>
        System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
    }
  }

  /** JSON string literal: quote, backslash and every control character
    * below 0x20 escaped, so a tab in a SQL string or a stack trace never
    * breaks the reader's parse.
    */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Force full evaluation of every row and column: hash each row to one
    * 64-bit value and XOR-fold (bit_xor never overflows under ANSI mode,
    * unlike sum over 64-bit hashes). Nothing is prunable — under a bare
    * count Catalyst would drop deterministic projections — and the output
    * is one tiny row.
    */
  def fullEval(df: DataFrame): Unit = {
    val h = xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
    df.select(bit_xor(h)).collect()
    ()
  }

  /** Seconds to build and fully evaluate `df` after [[ops.Caches.release]]
    * (every main builds its queries on its own thread, so this drops
    * all the last query cached). What carries over from earlier runs is
    * JVM and codegen warm-up and the session's fixture schemas, which
    * [[Tables.table]] resolves once per session: after a warm-up, a cold
    * run pays for no schema-inference job.
    */
  def coldRun(spark: SparkSession)(df: => DataFrame): Double = {
    ops.Caches.release()
    val t0 = System.nanoTime()
    fullEval(df)
    (System.nanoTime() - t0) / 1e9
  }
}
