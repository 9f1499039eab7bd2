package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Dev tool: measure SemDeDup's same-cell pair recall vs the exact pair
  * set at a given sf — the tuning view behind the q111 floor. Test
  * scope — not part of the library. Usage:
  *   sbt "Test/runMain graft.QSemDedup /root/testdata/sf0.01 0.4"
  */
object QSemDedup {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val thr = if (args.length > 1) args(1).toDouble else 0.4
    val probe = if (args.length > 2) args(2).toInt else 1
    val spark = graft.tools.ToolSession()
    val e = Tables.load(spark, dir, "embeddings")
    val t0 = System.nanoTime()
    val sem = Similarity.semanticDupPairs(e, thr, probeCells = probe).select("id_a", "id_b").cache()
    val semN = sem.count()
    val t1 = System.nanoTime()
    val exact = Similarity.cosineDupPairs(e, thr).select("id_a", "id_b").cache()
    val exactN = exact.count()
    val t2 = System.nanoTime()
    val hit = sem.join(exact, Seq("id_a", "id_b"), "left_semi").count()
    val dedup = Similarity.semanticDedup(e, thr, probeCells = probe)
    val kept = dedup.filter(col("kept")).count()
    val total = dedup.count()
    println(f"[semdedup] corpus=${e.count()} cells~sqrt sem_pairs=$semN " +
      f"exact_pairs=$exactN hit=$hit recall=${hit.toDouble / math.max(1, exactN)}%.4f")
    println(f"[semdedup] kept=$kept/$total dropped=${total - kept}")
    println(f"[semdedup] sem=${(t1 - t0) / 1e9}%.1fs exact=${(t2 - t1) / 1e9}%.1fs")
    spark.stop()
  }
}
