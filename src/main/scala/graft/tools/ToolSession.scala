package graft.tools

import org.apache.spark.sql.SparkSession

/** The shipped session ([[graft.GraftSession.create]]) as the
  * measurement tools run it: `local[SPARK_GRAFT_CPUS]` (default: every
  * available processor), TIMESTAMP(NANOS) parquet read as longs like
  * the battery, no UI, and Spark logging at `logLevel`. */
object ToolSession {
  def apply(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.GraftSession.create(configure = _
      .master(s"local[$cpus]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
