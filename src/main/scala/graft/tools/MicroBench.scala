package graft.tools

import org.apache.spark.sql.functions._

/** Scratch operator-level microbenchmark for the optimization rounds:
  * times named sub-plans of the expensive operators with the shipped
  * session so a change can be attributed to the exact expression it
  * targets (ProfileTool attributes to jobs; this attributes within a
  * job). Measurement-only — not part of any driver contract. Usage:
  * `MicroBench <case> [passes]`; `SPARK_GRAFT_SF_DIR` like the bench,
  * session from [[ToolSession]]. */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val which = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession("ERROR")
    val docs = graft.Tables.load(spark, sfDir, "documents")
    import graft.ops.Dedup

    val wide = docs.repartition(spark.sparkContext.defaultParallelism)

    def run(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      var p = 0
      while (p < passes) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.err.println(f"[micro] $label pass $p: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        p += 1
      }
    }

    which match {
      case "char_signer" =>
        run("charGramMinhash native")(
          wide.select(graft.functions.SketchExprs
            .charGramMinhash(Dedup.normalize(col("text")), 5, 32).as("sig")))
      case "intersect" =>
        // candidate-pair-shaped intersect workload: all pairs of the
        // first 200 docs by id (~20k pairs), char shingle sets
        val sh = wide.filter(col("doc_id") < 200)
          .select(col("doc_id").as("id"),
            Dedup.charShingles(Dedup.normalize(col("text"))).as("sh"))
          .localCheckpoint(true)
        val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
        val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
        run("array_intersect 20k pairs")(
          a.crossJoin(b).filter(col("id_a") < col("id_b"))
            .select(size(array_intersect(col("sh_a"), col("sh_b"))).as("i")))
      case "q56" =>
        run("q56 full")(graft.SparkEntry.queries("q56_minhash_char")(spark, sfDir))
      case other =>
        System.err.println(s"unknown case $other")
    }
    spark.stop()
  }
}
