package graft

/** Dev tool: print a battery query's row count. */
object QCount {
  def main(args: Array[String]): Unit = {
    val spark = graft.tools.ToolSession()
    println(s"[qcount] ${args(0)}: " +
      SparkEntry.queries(args(0))(spark, args(1)).count() + " rows")
    spark.stop()
  }
}
