package graft

/** Dev tool: print the raw sketchRecall rows (op, recall, floor) for an
  * sf dir with wall time — the tuning view behind q85, which only emits
  * violations. Test scope — not part of the library. Usage:
  *   sbt "Test/runMain graft.QRecall /root/testdata/sf0.1"
  */
object QRecall {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.tools.ToolSession()
    // warmup: parquet footers + codegen compiler init off the clock
    Seq("documents", "embeddings").foreach(t =>
      Tables.load(spark, dir, t).groupBy().count()
        .write.format("noop").mode("overwrite").save())
    val t0 = System.nanoTime()
    val rows = QueriesLlm.sketchRecall(spark, dir).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    rows.foreach(r => println(
      f"[qrecall] ${r.getString(0)}%-12s recall=${r.getDouble(1)}%.4f floor=${r.getDouble(2)}%.2f"))
    println(f"[qrecall] total: $sec%.2f s")
    // second pass, warm: the number comparable to an in-battery run
    val t1 = System.nanoTime()
    QueriesLlm.sketchRecall(spark, dir).collect()
    println(f"[qrecall] warm: ${(System.nanoTime() - t1) / 1e9}%.2f s")
    // component timings (warm)
    import graft.ops.{Dedup, Similarity}
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val e = Tables.load(spark, dir, "embeddings")
    val dD = math.max(1L, docs.count() / 500L)
    val dV = math.max(1L, e.count() / 500L)
    val q = e.filter(col("vec_id") < 10)
    def time(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[qrecall] $label%-18s ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    time("minhash_approx")(Dedup.minhashLshPairs(docs, threshold = 0.3))
    time("jaccard_probe")(Dedup.jaccardProbePairs(docs, 0.3, dD))
    time("embed_approx")(Similarity.cosineDupPairsLsh(e, 0.4, bits = 4))
    time("cosine_probe")(Similarity.cosineProbePairs(e, 0.4, dV))
    time("brute")(Similarity.bruteForceTopK(q, e, k = 5))
    time("ann_lsh")(Similarity.lshTopK(q, e, k = 5))
    time("ann_ivf")(Similarity.ivfTopK(q, e, k = 5))
    spark.stop()
  }
}
