package graft.tools

/** Plan-capture harness for the optimization rounds: writes
  * `.explain("formatted")` for named battery queries to files, using the
  * SHIPPED session (same configs the bench children run with), so the
  * committed `plans/r<N>/<query>_{before,after}.txt` artifacts show the
  * plan a bench pass actually executes.
  *
  * Usage: `runMain graft.tools.ExplainTool <outDir> <suffix> [q1,q2,...]`
  * (no query list = every battery entry). Reads `SPARK_GRAFT_SF_DIR`
  * like the bench; the session is [[ToolSession]]'s. Not part of any
  * driver contract — a measurement tool only.
  */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession("ERROR")
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // queryExecution.explainString: the same text `explain("formatted")`
        // prints, captured instead of swallowed by stdout
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(
          new java.io.File(outDir, s"${name}_$suffix.txt"), "UTF-8")
        try w.println(txt) finally w.close()
        System.err.println(s"[explain] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
