package graft

/** Plan-inspection tool: prints the formatted physical plan for the
  * named queries (all queries if none named) — used to audit
  * pushdown (PushedFilters/ReadSchema), broadcast choices, and
  * whole-stage codegen coverage per round.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
