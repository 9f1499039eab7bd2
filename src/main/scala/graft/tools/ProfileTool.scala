package graft.tools

/** Job-level wall profiler for the optimization rounds: runs one battery
  * query with the shipped session and prints every Spark job's duration,
  * task count, and description to stderr — the measurement that
  * attributes a harness query's wall to its sequential actions (merge
  * passes, manifest commits, streaming micro-batches), which per-query
  * wall/cpu totals cannot. Usage:
  * `ProfileTool <query> [passes]`; `SPARK_GRAFT_SF_DIR` like the bench,
  * session from [[ToolSession]]. Not part of any
  * driver contract — a measurement tool only. */
object ProfileTool {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession("ERROR")
    final case class J(id: Int, t0: Long, desc: String,
        var tasks: Int = 0, var t1: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobs.put(e.jobId, J(e.jobId, e.time, d,
            e.stageInfos.map(_.numTasks).sum))
          order.add(e.jobId)
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val j = jobs.get(e.jobId)
          if (j != null) j.t1 = e.time
        }
      })
    var pass = 0
    while (pass < passes) {
      jobs.clear(); order.clear()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(100)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener settle
      System.err.println(f"== pass $pass: $name wall $wall%.2f s, ${order.size} jobs")
      if (pass == passes - 1) {
        import scala.jdk.CollectionConverters._
        order.asScala.foreach { id =>
          val j = jobs.get(id)
          val dur = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
          System.err.println(
            f"  job ${j.id}%4d ${dur}%7.3f s ${j.tasks}%5d tasks  ${j.desc.take(110)}")
        }
      }
      pass += 1
    }
    spark.stop()
  }
}
