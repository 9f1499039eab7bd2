package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsOf, Dedup, Multimodal, Similarity, TextAnalysis}

/** Unit coverage for the LLM-data-pipeline operators: crafted documents
  * with hand-computable expected outputs. */
class OpsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // -------------------------------------------------------------- dedup

  test("exact dedup: smallest id survives per normalized text") {
    val docs = Seq(
      (3L, "Hello   World"),
      (1L, "  hello world "),
      (2L, "something else")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "hello world", 2L),
      (2L, "something else", 1L)))
  }

  test("shingles: distinct word k-grams; short docs collapse to one shingle") {
    val df = Seq(
      ("a b c d", 0), ("a b", 1)).toDF("text", "i")
      .select(Dedup.shingles(col("text"), 3).as("sh"), col("i"))
    val rows = df.collect().sortBy(_.getInt(1))
    assert(rows(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](0) == Seq("a b"))
  }

  test("jaccardPairs finds near-identical docs and skips dissimilar ones") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text with no shared phrases at all")
      ).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("containmentPairs: an embedded snippet scores ~1.0 where jaccard misses it") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18"
    val docs = Seq(
      (1L, base),
      (2L, "w1 w2 w3 w4 w5 w6"), // prefix snippet: contained, low jaccard
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, threshold = 0.9)
      .select("id_a", "id_b", "containment").as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair is invisible to a 0.5 jaccard gate (4 shared grams
    // of 16+4 distinct) — the asymmetry containment exists to catch
    assert(Dedup.jaccardPairs(docs, threshold = 0.5).count() == 0)
  }

  test("minhash LSH: identical docs always collide; jaccard is exact on the pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val out = Dedup.minhashLshPairs(docs, threshold = 0.9)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simhash: equal docs hash equal; token order is irrelevant; disjoint docs differ") {
    val df = Seq(
      ("w1", "alpha beta gamma"),
      ("w2", "gamma alpha beta"),
      ("w3", "totally different words here")).toDF("k", "text")
      .select(col("k"), Dedup.simhash(col("text")).as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("w1") == m("w2")) // bag-of-words semantics
    assert(m("w1") != m("w3"))
  }

  // ------------------------------------------------------- text analysis

  test("token and bpeish counts") {
    val df = Seq("hello world 123 foo-bar").toDF("text").select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.bpeishCount(col("text")).as("b"))
    val r = df.collect().head
    assert(r.getInt(0) == 4)
    // hello|world|123|foo|-|bar
    assert(r.getInt(1) == 6)
  }

  test("language id picks the marker-heavy language, 'und' when signal-free") {
    val df = Seq(
      (1L, "the cat is in the house and the dog"),
      (2L, "el perro y el gato que en un parque"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(df)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq(("ab", 1), ("ba", 2), ("ab", 3)).toDF("text", "i")
      .select(col("i"), TextAnalysis.fingerprint(col("text")).as("f"))
    val m = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m(1) == m(3))
    assert(m(1) != m(2)) // anagrams fingerprint differently
  }

  test("quality score lands in [0,1] and rewards diverse text") {
    val df = Seq(
      (1L, "the the the the the the the the"),
      (2L, "varied vocabulary produces measurably better quality scores overall"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m(2L) > m(1L))
  }

  test("redactPii: email/ip/phone replaced, IPs not eaten by the phone pattern") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org today"),
      (2L, "server at 10.0.255.7 responded"),
      (3L, "call +1 (555) 010-9977 now"),
      (4L, "mixed jo@ex.io and 192.168.0.1 and +44 20 7946 0958"),
      (5L, "no pii here at all"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.redactPii(col("text")).as("r"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "mail me at <EMAIL> today")
    assert(m(2L) == "server at <IP> responded")
    assert(m(3L) == "call <PHONE> now")
    // order matters: the dotted quad must become <IP>, not half a <PHONE>
    assert(m(4L) == "mixed <EMAIL> and <IP> and <PHONE>")
    assert(m(5L) == "no pii here at all")
  }

  test("repetitionStats: top-bigram share; 0/1-token docs keep zeros") {
    val df = Seq(
      (1L, "a b a b a b"),  // bigrams: "a b"x3, "b a"x2 → top 3/5
      (2L, "x y z"),        // "x y", "y z" → top 1/2
      (3L, "single"),       // no bigrams
      (4L, ""))             // no bigrams
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((5L, 3L, 0.6)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("lmQuality: add-one unigram model matches hand-computed bits and perplexity") {
    // corpus: a×3, b×1 → N=4, V=2; P(a)=4/6, P(b)=2/6
    val df = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.lmQuality(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // doc1: -log2(2/3) = 0.585 bits; doc2: (0.585 + 1.585)/2 = 1.085
    assert(out(1L) == ((2, 0.585, 1.5)))
    assert(out(2L) == ((2, 1.085, 2.12)))
  }

  test("hashedLinearScore matches a hand-rolled reference; partitioning-independent") {
    def refFp(tok: String): Long =
      tok.zipWithIndex.map { case (c, i) =>
        c.toLong * math.floorMod((i + 1L) * 2654435761L, 1000003L)
      }.sum
    def refW(tok: String): Long =
      math.floorMod(math.floorMod(refFp(tok), 1024L) * 2654435761L, 1000003L) - 501501L
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "one two three four five"),
      (3L, "alpha alpha alpha")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.hashedLinearScore(docs)
      .select("doc_id", "n_tokens", "margin", "p_keep")
      .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    Seq((1L, "alpha beta gamma"), (2L, "one two three four five"),
      (3L, "alpha alpha alpha")).foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val s = toks.map(refW).sum
      val margin = BigDecimal(s.toDouble / (toks.size * 501501.0) + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val p = BigDecimal(1.0 / (1.0 + math.exp(-margin)) + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(id) == ((id, toks.size, margin, p)), s"doc $id")
    }
    // integer-space aggregation => identical under any partitioning
    val repart = graft.ops.TextAnalysis.hashedLinearScore(docs.repartition(7))
      .select("doc_id", "margin").as[(Long, Double)].collect().toMap
    assert(out.keySet.forall(id => repart(id) == out(id)._3))
  }

  test("gopherQuality: each rule can fail independently; flags use rounded signals") {
    val good = Array.fill(30)("word").zipWithIndex
      .map { case (w, i) => w + i }.mkString(" ") + " the a" // 32 varied words, 2 stopwords
    val df = Seq(
      (1L, good),                                   // passes all rules
      (2L, Array.fill(30)("ab").mkString(" ")),     // mean word len 2 < 3 → fail
      (3L, "short doc the a"),                      // 4 words < 25 → fail
      (4L, Array.fill(28)("word").mkString(" ") + " 77 99"), // 0 stopwords → fail
      (5L, Array.fill(15)("word1 42").mkString(" ")))        // alpha_frac 0.5 < 0.8 → fail
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(df).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> false))
  }

  test("c4LineFilter: each line rule and both doc rules fire " +
    "independently; text is rewritten to the kept lines") {
    val df = Seq(
      // 3 good lines + every line-level failure mode: unterminated,
      // too short, bad substring (case-insensitive), whitespace-only
      (1L, "alpha beta gamma stays here.\nsecond good line is kept!\n" +
        "third fine line survives too?\nno terminal punctuation here\n" +
        "too short.\nthis line has JavaScript inside.\n   \n"),
      (2L, "one good line is not enough."),            // < minLines
      (3L, "brace page code { drops.\nall of it.\nevery line."), // doc rule
      (4L, "Lorem Ipsum filler page here.\ngone too.\nall of it."),
      (5L, "quoted line ends fine \"\ngood second line right here.\n" +
        "good third line right here."))                // quote is terminal
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out.keySet == Set(1L, 5L), s"doc gates: $out")
    assert(out(1L) == (("alpha beta gamma stays here.\n" +
      "second good line is kept!\nthird fine line survives too?", 3)))
    assert(out(5L)._2 == 3)
    // thresholds are parameters, not constants
    assert(TextAnalysis.c4LineFilter(df, minLines = 1).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    intercept[IllegalArgumentException](
      TextAnalysis.c4LineFilter(df, minLines = 0))
  }

  test("removeDuplicateSpans: later copies of a k-gram lose their tokens, first survives") {
    // doc 1 and doc 3 share an 8-token span; doc 1 is first → doc 3 loses it.
    val span = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"intro $span outro"),
      (2L, "totally unrelated text right here with nothing shared at all"),
      (3L, s"prefix words here then $span and a tail"),
      (4L, "tiny doc")) // < k tokens: no grams, untouched
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((10, 0, s"intro $span outro")))
    assert(out(2L)._2 == 0)
    assert(out(3L) == ((15, 8, "prefix words here then and a tail")))
    assert(out(4L) == ((2, 0, "tiny doc")))
  }

  test("removeDuplicateSpans: a fully-duplicated doc empties; within-doc repeats dedup too") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, text),
      (2L, text), // exact copy of doc 1 → fully removed
      (3L, s"$text mid $text")) // both copies duplicate doc 1's gram
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((8, 0, text)))
    assert(out(2L) == ((8, 8, "")))
    // doc 3: gram at pos 1 and pos 10 both duplicate doc 1's single gram,
    // covering tokens 1-8 and 10-17; only "mid" (pos 9) escapes
    assert(out(3L) == ((17, 16, "mid")))
  }

  test("keepBestPerCluster: priority source wins; ties break on min id; Nil degenerates to min id") {
    val docs = Seq(
      (1L, "crawl"), (2L, "curated"), (3L, "crawl"),   // cluster 1
      (4L, "crawl"), (5L, "crawl"),                    // cluster 4
      (6L, "mirror"))                                  // singleton
      .toDF("doc_id", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L))
      .toDF("doc_id", "cluster")
    val out = Dedup.keepBestPerCluster(docs, clusters, Seq("curated"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // cluster 1: curated doc 2 beats smaller-id crawl doc 1
    assert(out(1L) == ((2L, false)) && out(2L) == ((2L, true)) && out(3L) == ((2L, false)))
    // cluster 4: same rank → min id 4
    assert(out(4L) == ((4L, true)) && out(5L) == ((4L, false)))
    // singleton keeps itself (unlisted source)
    assert(out(6L) == ((6L, true)))
    // empty priority = dedupClusters' min-id rule
    val minId = Dedup.keepBestPerCluster(docs, clusters)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(minId == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  // --------------------------------------------------------- similarity

  test("cosine: orthogonal→0, identical→1, anti-parallel→-1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), "orth"),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), "same"),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), "anti"))
      .toDF("a", "b", "k")
      .select(col("k"), round(Similarity.cosine(col("a"), col("b")), 6).as("c"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("orth") == 0.0)
    assert(m("same") == 1.0)
    assert(m("anti") == -1.0)
  }

  test("bruteForceTopK returns k best neighbours, self excluded, rank ordered") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 1L), vecs, k = 2)
      .orderBy("rank")
      .select("cand_id", "rank").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((4L, 1), (2L, 2))) // nearest first, no self
  }

  test("cosineDupPairs: exact pairs above threshold, ordered ids, none below") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),   // cos(1,2) ≈ 0.9939
      (3L, Array(0.0f, 1.0f)),   // orthogonal to 1
      (4L, Array(-1.0f, 0.0f))). // anti-parallel to 1
      toDF("vec_id", "embedding")
    val out = Similarity.cosineDupPairs(vecs, threshold = 0.9)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L))) // only the near-parallel pair; id_a < id_b
  }

  test("cosineDupPairsLsh: identical vectors always collide and verify exactly") {
    val vecs = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(64)(0.5f)),          // exact dup of 1 → sig-equal in every table
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineDupPairsLsh(vecs, threshold = 0.99)
      .select("id_a", "id_b", "cos")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("incrementalSemanticDupPairs equals the same-centroid full run " +
    "restricted to pairs touching the batch") {
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(5)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val all = (0 until 30).map { i =>
      val a = anchors(i % 5)
      (i.toLong, a.map(x => x + (rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val batch = all.filter($"vec_id" % 3 === 0)
    val corpus = all.filter($"vec_id" % 3 =!= 0)
    // index built on the corpus: centroids FROZEN there (the coarse-
    // quantizer contract), postings = corpus cell assignments
    val (postings, cents) = Similarity.semanticCellIndex(
      corpus, nlist = 5, probeCells = 2)
    import scala.jdk.CollectionConverters._
    val idx = spark.createDataFrame( // persisted-postings shape
      postings.collect().toSeq.asJava, postings.schema)
    val inc = Similarity.incrementalSemanticDupPairs(
      batch, corpus, idx, cents, threshold = 0.9, probeCells = 2)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    // reference: the SAME-CENTROID full run over corpus ∪ batch — built
    // through the incremental API with an empty corpus and empty index,
    // which degenerates to plain all-pairs generation under `cents`
    val empty = all.filter(lit(false))
    val fullSameCents = Similarity.incrementalSemanticDupPairs(
      all, empty, idx.filter(lit(false)), cents, threshold = 0.9, probeCells = 2)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
      .filter(t => t._1 % 3 == 0 || t._2 % 3 == 0)
    assert(fullSameCents.nonEmpty, "fixture must produce semantic near-dups")
    // equality both ways, cosines AND centroid cosines included
    assert(inc == fullSameCents)
  }

  test("incrementalCosineDupPairs equals the full LSH run restricted to " +
    "pairs touching the batch (persisted index, exact scores)") {
    val rnd = new scala.util.Random(7)
    // clustered corpus so near-dups genuinely occur: 30 vectors around
    // 6 anchors with small jitter, 64-dim like the battery table
    val anchors = Array.fill(6)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val all = (0 until 30).map { i =>
      val a = anchors(i % 6)
      (i.toLong, a.map(x => x + (rnd.nextGaussian() * 0.15).toFloat))
    }.toDF("vec_id", "embedding")
    val batch = all.filter($"vec_id" % 3 === 0)
    val corpus = all.filter($"vec_id" % 3 =!= 0)
    import scala.jdk.CollectionConverters._
    val live = Similarity.lshBucketIndex(corpus, bits = 4)
    // persisted-index shape, like a real deployment's postings scan
    val idx = spark.createDataFrame(live.collect().toSeq.asJava, live.schema)
    val inc = Similarity.incrementalCosineDupPairs(
      batch, corpus, idx, threshold = 0.8, bits = 4)
      .as[(Long, Long, Double)].collect().toSet
    val fullRestricted = Similarity.cosineDupPairsLsh(all, threshold = 0.8, bits = 4)
      .as[(Long, Long, Double)].collect().toSet
      .filter(t => t._1 % 3 == 0 || t._2 % 3 == 0)
    assert(fullRestricted.nonEmpty, "fixture must produce near-dup pairs")
    // equality both ways, scores included: no recall loss vs the full
    // run the incremental probe replaces
    assert(inc == fullRestricted)
  }

  test("ivfTopK: exact dup ranks first; results are per-query top-k shaped") {
    val base = (1 to 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 37 + d * 11).toFloat))
    }
    val vecs = (base :+ (100L, base.head._2.clone())).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      vecs.filter($"vec_id" === 100L), vecs, k = 3, nlist = 4, nprobe = 2)
      .orderBy("rank")
      .select("cand_id", "cos", "rank").as[(Long, Double, Int)].collect()
    assert(out.length == 3)
    assert(out.head._1 == 1L && out.head._2 == 1.0 && out.head._3 == 1) // its clone, same cell
  }

  test("ivfPqTopK: full probing + full re-rank reproduces brute force " +
    "exactly; deterministic across runs") {
    // 60 vectors over 4 cells; probing ALL cells with rerank >= corpus
    // removes every approximation, so the PQ path must agree with the
    // exact operator row-for-row (same rounding, same tie order) — any
    // ADC mis-indexing (wrong code, off-by-one LUT lookup, wrong
    // subspace slice) would perturb the candidate set or scores
    val vecs = (1 to 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 37 + d * 11).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" <= 5)
    def run() = Similarity.ivfPqTopK(
      q, vecs, k = 3, nlist = 4, nprobe = 4, m = 4, ksub = 8, rerank = 60)
      .orderBy("query_id", "rank")
      .select("query_id", "cand_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val brute = Similarity.bruteForceTopK(q, vecs, k = 3)
      .orderBy("query_id", "rank")
      .select("query_id", "cand_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val first = run()
    assert(first == brute, "full-probe IVF-PQ must equal brute force")
    assert(run() == first, "ivfPqTopK must be deterministic")
  }

  test("ivfPqTopK: exact dup ranks first under narrow probing") {
    val base = (1 to 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 37 + d * 11).toFloat))
    }
    val vecs = (base :+ (100L, base.head._2.clone())).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqTopK(
      vecs.filter($"vec_id" === 100L), vecs, k = 3,
      nlist = 4, nprobe = 2, m = 4, ksub = 8, rerank = 8)
      .orderBy("rank")
      .select("cand_id", "cos", "rank").as[(Long, Double, Int)].collect()
    assert(out.length == 3)
    // the clone quantizes to the IDENTICAL codes, so ADC scores it top
    // and the exact re-rank confirms cos=1.0
    assert(out.head._1 == 1L && out.head._2 == 1.0 && out.head._3 == 1)
  }

  test("charShingles: sliding char grams, short text collapses to itself") {
    val df = Seq(("abcdef", 0), ("ab", 1)).toDF("text", "i")
    val out = df.select(Dedup.charShingles(col("text"), 4).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("abcd", "bcde", "cdef"))
    assert(out(1) == Seq("ab"))
  }

  test("jaccardPairsChar finds character-level near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumped"), // char-level near-dup of 1
      (3L, "completely different words entirely")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairsChar(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("hot-key guard: universal boilerplate shingles don't explode pair generation") {
    // 400 docs all sharing a 5-word boilerplate prefix (every boilerplate
    // shingle has df=400) plus a unique tail; 2 real near-dup docs.
    // With maxDocFreq=50 the boilerplate posting lists (df=400 > 50) are
    // dropped, so pair fan-out comes only from genuine overlap — without
    // the guard this corpus alone would emit ~400²/2 × 3 candidate pairs.
    val boiler = "terms of service apply here"
    val docs = ((1 to 398).map(i => (i.toLong, s"$boiler unique tail $i xx$i yy$i"))
      ++ Seq((998L, s"$boiler the same interesting document body"),
             (999L, s"$boiler the same interesting document body")))
      .toDF("doc_id", "text")
    // note the guard also REMOVES boilerplate shingles from the observed
    // intersection (another reason they carry no similarity signal): the
    // dup pair's jaccard reads 5/11 ≈ 0.45 here, not 1.0
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.4, maxDocFreq = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((998L, 999L)))
  }

  test("CappedCollect: under-cap groups complete; over-cap park at cap+1") {
    val capped = udaf(new graft.functions.CappedCollect(3))
    val df = (1 to 10).map(i => (if (i <= 2) "small" else "big", i.toLong))
      .toDF("k", "id")
    val out = df.groupBy("k").agg(capped(col("id"), lit(0L)).as("ds"))
      .select(col("k"), size(col("ds")).as("n"))
      .as[(String, Int)].collect().toMap
    assert(out("small") == 2) // complete
    assert(out("big") == 4)   // 8 elements capped at cap+1 = 4 → size filter rejects
  }

  test("explodeFrames: evenly spaced fixed-width slices, short assets truncate") {
    val assets = Multimodal.toAssets(
      Seq((1L, "abcdefgh", "t"), (2L, "xy", "t")).toDF("id", "payload", "tag"),
      "id", "payload", "tag")
    val out = Multimodal.explodeFrames(assets, n = 4, width = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), new String(r.getAs[Array[Byte]](2))))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 0, "abc"), (1L, 1, "cde"), (1L, 2, "efg"), (1L, 3, "gh"), // step=2
      (2L, 0, "xy"), (2L, 1, "y")))                                  // step=1, 2 frames
  }

  test("resize: long payloads downsample to target, short pass through, meta tracks") {
    val assets = Multimodal.toAssets(
      Seq((1L, "a" * 100, "t"), (2L, "xy", "t")).toDF("id", "payload", "tag"),
      "id", "payload", "tag")
    val out = Multimodal.resize(assets, target = 8)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](2).length,
        r.getStruct(3).getLong(0)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 8, 8L), (2L, 2, 2L)))
  }

  test("syntheticPng round-trips through a REAL ImageIO decode to the " +
    "analytic pixel stats (q47's contract)") {
    for (id <- Seq(0L, 1L, 42L, 198L, 199L, 12345L)) {
      val png = Multimodal.syntheticPng(id)
      // real PNG container: magic bytes, not a histogram of our own bytes
      assert(png.take(4).map(_ & 0xFF).toSeq == Seq(0x89, 0x50, 0x4E, 0x47),
        s"id=$id did not produce a PNG")
      val (w, h, mr, mg, mb) = Multimodal.decodeImage(png).get
      assert(w == 2 + id % 7 && h == 2 + id % 5, s"id=$id raster $w x $h")
      // integer sums over <256 values: the doubles are exact, compare ==
      assert(mr == id % 199 + (w - 1) / 2.0, s"id=$id mean_r $mr")
      assert(mg == (id * 7) % 199 + (h - 1) / 2.0, s"id=$id mean_g $mg")
      assert(mb == (id * 13) % 199, s"id=$id mean_b $mb")
    }
    // undecodable / empty / null payloads are None, never a task failure
    assert(Multimodal.decodeImage("plain text, not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
  }

  test("featurize: distributed real decode of PNG assets; non-image " +
    "payloads yield null stats rows") {
    val feats = Multimodal.featurize(
      Multimodal.imageAssets(Seq(1L, 2L, 3L).toDF("id"), "id"))
      .orderBy("asset_id").collect()
    assert(feats.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    feats.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 2 + id % 7 && r.getInt(2) == 2 + id % 5)
      assert(r.getDouble(3) == id % 199 + (r.getInt(1) - 1) / 2.0)
    }
    val blob = Multimodal.toAssets(
      Seq((9L, "plain text", "t")).toDF("id", "payload", "tag"),
      "id", "payload", "tag")
    val n = Multimodal.featurize(blob).collect().head
    assert(n.getLong(0) == 9L)
    assert(n.isNullAt(1) && n.isNullAt(2) && n.isNullAt(3))
  }

  test("syntheticWav round-trips through a REAL javax.sound decode to the " +
    "analytic amplitude stats (q100's contract)") {
    for (id <- Seq(0L, 1L, 63L, 64L, 999L, 54321L)) {
      val wav = Multimodal.syntheticWav(id)
      // real RIFF container, not raw PCM
      assert(new String(wav.take(4), "US-ASCII") == "RIFF", s"id=$id not RIFF")
      val (sr, ch, n, mean, peak) = Multimodal.decodeAudio(wav).get
      assert(sr == 8000 && ch == 1)
      assert(n == 64 + id % 64, s"id=$id n_samples $n")
      // integer ramp sums: exact doubles, compare ==
      assert(mean == id % 1000 + 3 * (n - 1) / 2.0, s"id=$id mean $mean")
      assert(peak == id % 1000 + 3 * (n - 1), s"id=$id peak $peak")
    }
    assert(Multimodal.decodeAudio("not audio at all".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeAudio(null).isEmpty)
  }

  test("syntheticGif round-trips through a REAL multi-frame ImageIO decode " +
    "to the analytic per-frame stats (q102's contract)") {
    for (id <- Seq(0L, 1L, 2L, 3L, 42L, 198L, 199L, 12345L)) {
      val gif = Multimodal.syntheticGif(id)
      // real GIF container: magic bytes, not a histogram of our own bytes
      assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8"),
        s"id=$id did not produce a GIF")
      val k = (2 + id % 4).toInt
      // every=1: all frames; frame count comes from the stream itself
      val (n, frames) = Multimodal.decodeFrames(gif, every = 1).get
      assert(n == k, s"id=$id frame count $n, expected $k")
      assert(frames.map(_._1) == (0 until k), s"id=$id frame numbers")
      for ((f, w, h, mr, mg, mb) <- frames) {
        assert(w == 2 + id % 7 && h == 2 + id % 5, s"id=$id frame $f dims")
        // solid frames, exact palette: means are exact integers
        assert(mr == (id + 17 * f) % 199, s"id=$id frame $f mean_r $mr")
        assert(mg == (id * 7 + 23 * f) % 199, s"id=$id frame $f mean_g $mg")
        assert(mb == (id * 13 + 29 * f) % 199, s"id=$id frame $f mean_b $mb")
      }
      // every=2 sampling: frames 0, 2, 4... below k, frame 0 always kept
      val (n2, sampled) = Multimodal.decodeFrames(gif, every = 2).get
      assert(n2 == k)
      assert(sampled.map(_._1) == (0 until k by 2), s"id=$id sampled frames")
    }
    // undecodable / empty / null payloads are None, never a task failure
    assert(Multimodal.decodeFrames("not a video".getBytes, 1).isEmpty)
    assert(Multimodal.decodeFrames(Array.empty[Byte], 1).isEmpty)
    assert(Multimodal.decodeFrames(null, 1).isEmpty)
  }

  test("videoFrameFeatures: distributed real multi-frame decode; non-video " +
    "payloads yield one quarantine row with null stats") {
    val rows = Multimodal.videoFrameFeatures(
      Multimodal.videoAssets(Seq(1L, 2L).toDF("id"), "id"), every = 2)
      .orderBy("asset_id", "frame_no").collect()
    // id=1: k=3 → frames 0,2; id=2: k=4 → frames 0,2
    assert(rows.map(r => (r.getLong(0), r.getInt(2))).toSeq ==
      Seq((1L, 0), (1L, 2), (2L, 0), (2L, 2)))
    rows.foreach { r =>
      val (id, f) = (r.getLong(0), r.getInt(2))
      assert(r.getInt(1) == 2 + id % 4) // n_frames from the stream
      assert(r.getDouble(5) == (id + 17 * f) % 199)
    }
    val blob = Multimodal.toAssets(
      Seq((9L, "plain text", "t")).toDF("id", "payload", "tag"),
      "id", "payload", "tag")
    val q = Multimodal.videoFrameFeatures(blob).collect()
    assert(q.length == 1 && q.head.getLong(0) == 9L && q.head.isNullAt(1)
      && q.head.isNullAt(2) && q.head.isNullAt(5))
  }

  test("resizeImages: nearest-neighbor scale keeps the closed-form pixel " +
    "stats; small and undecodable payloads pass through (q101's contract)") {
    val ids = Seq(1L, 4L, 12L, 123L, 6789L)
    val out = Multimodal.featurize(
      Multimodal.resizeImages(
        Multimodal.imageAssets(ids.toDF("id"), "id"), maxDim = 3))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- ids) {
      val (sw, sh) = ((2 + id % 7).toInt, (2 + id % 5).toInt)
      val m = math.max(sw, sh)
      val (dw, dh) =
        if (m <= 3) (sw, sh)
        else (math.max(1, sw * 3 / m), math.max(1, sh * 3 / m))
      val r = out(id)
      assert(r.getInt(1) == dw && r.getInt(2) == dh, s"id=$id dims")
      // NN sampling: resized column x reads source column x*sw/dw, so the
      // exact mean_r is base_r + avg(floor(x*sw/dw)) — closed-form check
      // of actual pixel CONTENT, not just container metadata
      val expMeanR = id % 199 +
        (0 until dw).map(x => x * sw / dw).sum.toDouble / dw
      assert(r.getDouble(3) == expMeanR, s"id=$id mean_r ${r.getDouble(3)}")
      // constant channel invariant under any subsampling
      assert(r.getDouble(5) == (id * 13) % 199, s"id=$id mean_b")
    }
    // undecodable payloads pass through byte-identical, meta intact
    val blob = Multimodal.toAssets(
      Seq((7L, "not an image", "t")).toDF("id", "payload", "tag"),
      "id", "payload", "tag")
    val kept = Multimodal.resizeImages(blob, maxDim = 3).collect().head
    assert(new String(kept.getAs[Array[Byte]](2)) == "not an image")
    assert(kept.getStruct(3).getLong(0) == "not an image".length.toLong)
  }

  test("urlParts: real parse_url round-trip; null and junk URLs yield " +
    "null parts, never a failure") {
    val df = Seq(
      (1L, "https://Sub0.Site42.com/p/1?ref=3"),
      (2L, "http://a.b.co.uk/x"),
      (3L, "not a url"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "url")
    val out = graft.ops.TextAnalysis.urlParts(df, "url")
      .select("doc_id", "scheme", "host", "registered_domain", "path", "query")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "https" && out(1L).getString(2) == "sub0.site42.com")
    assert(out(1L).getString(3) == "site42.com")
    assert(out(1L).getString(4) == "/p/1" && out(1L).getString(5) == "ref=3")
    // documented heuristic limit: multi-label public suffixes collapse
    assert(out(2L).getString(3) == "co.uk")
    assert(out(3L).isNullAt(2) && out(4L).isNullAt(2))
  }

  test("perDomainCap: bounded-heap per-domain top-N, ties to lowest id, " +
    "hot domain never planned as a window") {
    val docs = ((1 to 100).map(i => (i.toLong, "hot.com", 10L)) ++
      Seq((200L, "cold.com", 5L), (201L, "cold.com", 7L)))
      .toDF("doc_id", "registered_domain", "n_chars")
    val out = graft.ops.TrainingPrep.perDomainCap(docs, cap = 3)
    val kept = out.select("doc_id").as[Long].collect().sorted.toSeq
    // hot.com: all priorities tie at 10 → the 3 LOWEST ids survive;
    // cold.com is under the cap → both survive
    assert(kept == Seq(1L, 2L, 3L, 200L, 201L))
    val windows = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      "perDomainCap must stay window-free (the head domain at 100 TB " +
        "would be one giant sort partition)")
  }

  test("dedup and similarity operators are empty-input safe") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exact(noDocs).count() == 0)
    assert(Dedup.jaccardPairs(noDocs, 0.3).count() == 0)
    assert(Dedup.minhashLshPairs(noDocs, 0.3).count() == 0)
    assert(Dedup.simhashPairs(noDocs).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosineDupPairs(noVecs, 0.5).count() == 0)
    assert(Similarity.cosineDupPairsLsh(noVecs, 0.5).count() == 0)
    intercept[IllegalArgumentException] { // explicit, not undefined behavior
      Similarity.ivfTopK(noVecs, noVecs, k = 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(noVecs, noVecs, k = 1)
    }
    // the r14 text/profiling family: empty in, empty (or None) out
    assert(TextAnalysis.c4LineFilter(noDocs).count() == 0)
    assert(noDocs
      .select(TextAnalysis.compressionRatio(col("text"))).count() == 0)
    assert(graft.ops.Profiling.histSketch(
      noDocs.select(col("doc_id").as("v")), "v", 0, 10, 4, Seq.empty)
      .select(map_entries(col("hist"))).head().getSeq[Any](0).isEmpty,
      "a global sketch of nothing is the empty map, not a crash")
    assert(graft.ops.Profiling.batchDrift(
      noDocs.select(col("doc_id").cast("double").as("v")),
      "v", 0, 10, 4, Map(0 -> 1L)) == ((0L, None)),
      "no rows -> no distribution -> no drift verdict")
  }

  test("asof: null keys never match (equi-join semantics)") {
    val l = Seq((1L, Some(10L), 5L), (2L, None, 5L)).toDF("event_id", "k", "t")
    val r = Seq((Option.empty[Long], 1L, 201L), (Some(10L), 1L, 202L))
      .toDF("k", "t", "rid")
    val out = AsOf.asof(l, r, "k", "t", "k", "t", payload = Seq("rid" -> "last_rid"))
      .orderBy("event_id")
      .collect()
      .map(x => (x.getLong(0), if (x.isNullAt(x.fieldIndex("last_rid"))) -1L
        else x.getLong(x.fieldIndex("last_rid"))))
    // key 10 matches the non-null-key right row; the null-key left row
    // matches nothing (a window partition would have grouped the nulls)
    assert(out.toSeq == Seq((1L, 202L), (2L, -1L)))
  }

  test("saltedJoin rejects outer-preserving join types on the replicated side") {
    val df = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      graft.ops.Skew.saltedJoin(df, df, "k", salts = 4, joinType = "right")
    }
  }

  test("asof forward: earliest at-or-after match; none after → null") {
    val l = Seq((1L, 10L, 6L), (2L, 10L, 8L)).toDF("event_id", "k", "t")
    val r = Seq((10L, 5L, 201L), (10L, 7L, 202L)).toDF("k", "t", "rid")
    val out = AsOf.asof(l, r, "k", "t", "k", "t",
      payload = Seq("rid" -> "next_rid"), direction = "forward")
      .orderBy("event_id")
      .collect()
      .map(x => (x.getLong(0), if (x.isNullAt(x.fieldIndex("next_rid"))) -1L
        else x.getLong(x.fieldIndex("next_rid"))))
    assert(out.toSeq == Seq((1L, 202L), (2L, -1L))) // t=6 → rid at t=7; t=8 → none
  }

  test("asof: time-bucketed plan matches per-key plan under one dominant key") {
    // one key owns ~90% of the timeline (the hot-key shape the bucketed
    // plan exists for); right rows are sparse so carry-in must cross
    // many empty buckets
    val l = (1 to 2000).map(i =>
      (i.toLong, if (i % 10 == 0) 2L else 1L, i.toLong))
      .toDF("event_id", "k", "t")
    val r = (1 to 2000 by 97).map(i => (1L, i.toLong, 1000L + i))
      .toDF("k", "t", "rid")
    val plain = AsOf.asof(l, r, "k", "t", "k", "t",
      payload = Seq("rid" -> "last_rid"), tieBreak = Seq("rid"))
    val chunked = AsOf.asof(l, r, "k", "t", "k", "t",
      payload = Seq("rid" -> "last_rid"), tieBreak = Seq("rid"),
      timeBucketSeconds = Some(50))
    assertSameRows(plain.orderBy("event_id"), chunked.orderBy("event_id"))
  }

  test("asof forward: time-bucketed plan matches per-key plan") {
    val l = (1 to 500).map(i => (i.toLong, 1L, i.toLong))
      .toDF("event_id", "k", "t")
    val r = (1 to 500 by 37).map(i => (1L, i.toLong, 2000L + i))
      .toDF("k", "t", "rid")
    val plain = AsOf.asof(l, r, "k", "t", "k", "t",
      payload = Seq("rid" -> "next_rid"), direction = "forward")
    val chunked = AsOf.asof(l, r, "k", "t", "k", "t",
      payload = Seq("rid" -> "next_rid"), direction = "forward",
      timeBucketSeconds = Some(64))
    assertSameRows(plain.orderBy("event_id"), chunked.orderBy("event_id"))
  }

  test("asof time-bucketed: ties, tie-breaks, null times and absent keys intact") {
    val l = Seq((1L, 10L, Some(100L)), (2L, 10L, Some(5L)), (3L, 10L, Some(1L)),
      (4L, 99L, Some(50L)), (5L, 10L, Option.empty[Long]))
      .toDF("event_id", "k", "t")
    val r = Seq(
      (10L, Some(5L), 201L), (10L, Some(5L), 202L),
      (10L, Some(7L), 203L), (10L, None, 999L))
      .toDF("k", "t", "rid")
    // width 2 splits the right rows across buckets; semantics must not move
    val out = AsOf.asof(l, r, "k", "t", "k", "t",
      payload = Seq("rid" -> "last_rid"), tieBreak = Seq("rid"),
      timeBucketSeconds = Some(2))
      .orderBy("event_id").select("event_id", "last_rid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
    assert(out.toSeq == Seq(
      (1L, 203L), (2L, 202L), (3L, -1L), (4L, -1L), (5L, -1L)))
  }

  test("asof with an empty right side keeps all left rows, null payloads") {
    val l = Seq((1L, 10L, 5L)).toDF("event_id", "k", "t")
    val r = Seq.empty[(Long, Long, String)].toDF("k", "t", "v")
    val out = AsOf.asof(l, r, "k", "t", "k", "t", payload = Seq("v" -> "last_v"))
      .collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("last_v")))
  }

  // -------------------------------------------------------------- as-of

  test("asof: latest at-or-before match, tie-break last wins, no-match is null") {
    val l = Seq(
      (1L, 10L, 100L), // after both right rows for key 10
      (2L, 10L, 5L),   // equal-time tie with right t=5 → inclusive
      (3L, 10L, 1L),   // before every right row → null
      (4L, 99L, 50L))  // key with no right rows → null
      .toDF("event_id", "k", "t")
    val r = Seq(
      (10L, Some(5L), 201L, "a"),
      (10L, Some(5L), 202L, "b"), // same time as 201 → higher id wins
      (10L, Some(7L), 203L, "c"),
      (10L, None, 999L, "x")) // null time: never matches
      .toDF("k", "t", "rid", "v")
    val out = AsOf.asof(l, r,
      leftKey = "k", leftTime = "t", rightKey = "k", rightTime = "t",
      payload = Seq("rid" -> "last_rid", "v" -> "last_v"),
      tieBreak = Seq("rid"))
      .orderBy("event_id")
      .select("event_id", "last_rid", "last_v")
      .collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) "" else x.getString(2)))
    assert(out.toSeq == Seq(
      (1L, 203L, "c"),  // latest at-or-before t=100
      (2L, 202L, "b"),  // inclusive tie; rid 202 beats 201
      (3L, -1L, ""),    // nothing at-or-before
      (4L, -1L, "")))   // key absent on the right
  }

  test("semanticDedup: each near-dup pair loses exactly its later " +
    "(centroid_cos, id) endpoint; sub-threshold neighbors and singletons " +
    "survive; output is deterministic") {
    // two tight direction clusters (1,3) and (2,4) plus a same-cell
    // vector (5) below the threshold: cos(1,3)=cos(2,4)≈0.999, cos(1,5)=0.6
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (3L, Array(0.95f, 0.05f, 0f, 0f)),
      (4L, Array(0f, 0.05f, 0.95f, 0f)),
      (5L, Array(0.6f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, threshold = 0.9, nlist = 2,
      probeCells = 1)
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows.size == 5, "one output row per input vector")
    assert(rows(5L)._2, "sub-threshold neighbor must be kept")
    for (pair <- Seq((1L, 3L), (2L, 4L))) {
      val (x, y) = pair
      assert(rows(x)._2 ^ rows(y)._2,
        s"exactly one of near-dup pair $pair must survive")
      val kept = if (rows(x)._2) x else y
      val dropped = if (rows(x)._2) y else x
      // survivor = the pair's EARLIER endpoint: farther from the
      // centroid, id as tie-break (the paper's diversity rule)
      val precedes = rows(kept)._1 < rows(dropped)._1 ||
        (rows(kept)._1 == rows(dropped)._1 && kept < dropped)
      assert(precedes,
        s"survivor of $pair must precede in (centroid_cos, id): $rows")
    }
    // deterministic: training and drop decisions replay bit-identically
    assertSameRows(
      out.orderBy("vec_id"),
      Similarity.semanticDedup(df, threshold = 0.9, nlist = 2,
        probeCells = 1).orderBy("vec_id"))
  }

  test("semanticDupPairs: multi-probe finds a pair split across primary " +
    "cells and reports exact cosines with primary-cell centroid_cos") {
    // 6 and 7 sit on either side of the two centroids' midline-ish
    // direction: with probeCells=2 both probe both cells, so the pair
    // must surface wherever their primary cells land
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (6L, Array(0.72f, 0f, 0.69f, 0f)),
      (7L, Array(0.69f, 0f, 0.72f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.semanticDupPairs(df, threshold = 0.99,
      nlist = 2, probeCells = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((6L, 7L)),
      s"probeCells=2 must surface the straddling pair, got ${pairs.toSeq}")
  }

  test("semanticDedupWith / semanticDupPairsWith under trainedCentroids " +
    "equal the train-inline entry points exactly (the cacheable-model " +
    "split changes nothing)") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (3L, Array(0.95f, 0.05f, 0f, 0f)),
      (4L, Array(0f, 0.05f, 0.95f, 0f)),
      (5L, Array(0.6f, 0.8f, 0f, 0f)),
      (6L, Array(0.72f, 0f, 0.69f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainedCentroids(df, nlist = 2)
    assertSameRows(
      Similarity.semanticDedupWith(df, cents, threshold = 0.9, probeCells = 2)
        .orderBy("vec_id"),
      Similarity.semanticDedup(df, threshold = 0.9, nlist = 2, probeCells = 2)
        .orderBy("vec_id"))
    assertSameRows(
      Similarity.semanticDupPairsWith(df, cents, threshold = 0.5, probeCells = 2)
        .orderBy("id_a", "id_b"),
      Similarity.semanticDupPairs(df, threshold = 0.5, nlist = 2, probeCells = 2)
        .orderBy("id_a", "id_b"))
  }

  test("heavyHitters (mergeable Misra-Gries): exact when capacity covers " +
    "the distinct items; the presence + two-sided-band invariants hold " +
    "under different partitionings when it must forget") {
    val rows = (Seq.fill(30)("a") ++ Seq.fill(20)("b") ++
      Seq.fill(3)("c") ++ Seq.fill(2)("d") ++ Seq[String](null))
    def hh(cap: Int, parts: Int): Map[String, Long] =
      TextAnalysis.heavyHitters(
        rows.toDF("item").repartition(parts), col("item"), cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // capacity >= distinct: every count exact, nulls ignored, any split
    for (parts <- Seq(1, 7))
      assert(hh(16, parts) ==
        Map("a" -> 30L, "b" -> 20L, "c" -> 3L, "d" -> 2L))
    // capacity 2 over the same 55 non-null items: threshold n/(cap+1) =
    // 55/3 ≈ 18.3 — 'a' (30) and 'b' (20) are GUARANTEED present with
    // estimates inside [true - 18.3, true]; which of c/d survive (if
    // any) is merge-order-dependent and deliberately unasserted
    val exact = Map("a" -> 30L, "b" -> 20L, "c" -> 3L, "d" -> 2L)
    for (parts <- Seq(1, 5, 11)) {
      val m = hh(2, parts)
      assert(m.size <= 2)
      assert(m.contains("a") && m.contains("b"),
        s"guaranteed-heavy items missing at parts=$parts: $m")
      m.foreach { case (k, est) =>
        assert(est <= exact(k) && exact(k) - est <= 55.0 / 3,
          s"$k estimated $est outside the MG band (true ${exact(k)})")
      }
    }
  }

  test("resolveProbes: AUTO (0) scales the probe width with log2(nlist) " +
    "so the probed-cell coverage no longer decays linearly with corpus " +
    "growth; explicit widths pass through untouched") {
    import Similarity.resolveProbes
    // explicit values are honored verbatim — the fixed-width variant the
    // cross-round recall measurements rely on
    assert(resolveProbes(4, 100000) == 4 && resolveProbes(1, 3) == 1)
    // AUTO floor: every current test corpus (nlist 16..256) resolves to
    // 4 — the r11/r12 measured recalls stay directly comparable
    assert(Seq(16, 23, 71, 224, 256).map(resolveProbes(0, _)).forall(_ == 4))
    // AUTO growth: past nlist=256 the width tracks ceil(log2(nlist)/2).
    // Coverage check at two 16x nlist scales (≈ two 256x corpus steps):
    // a FIXED width of 4 would cover 16x fewer cells at the larger
    // scale; AUTO holds the ratio to ~16x/1.5 ≈ 10.7x — the log-growth
    // tradeoff the q111 policy chose over linear (exact-cost) scaling
    assert(resolveProbes(0, 512) == 5)
    assert(resolveProbes(0, 4096) == 6)
    assert(resolveProbes(0, 8192) == 7)
    val cov512 = 5.0 / 512; val cov8192 = 7.0 / 8192
    assert(cov512 / cov8192 < 16.0 * 0.75,
      "AUTO must shrink the coverage decay vs a fixed width (16x per 16x nlist)")
    // resolution happens at the single assignCells choke point: a
    // default-argument call attaches exactly resolveProbes(0, nlist)
    // probe cells per vector
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (3L, Array(0.95f, 0.05f, 0f, 0f)),
      (4L, Array(0f, 0.05f, 0.95f, 0f)),
      (5L, Array(0.6f, 0.8f, 0f, 0f)),
      (6L, Array(0.72f, 0f, 0.69f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainedCentroids(df, nlist = 2)
    assertSameRows(
      Similarity.semanticDupPairsWith(df, cents, threshold = 0.5) // AUTO
        .orderBy("id_a", "id_b"),
      Similarity.semanticDupPairsWith(df, cents, threshold = 0.5,
        probeCells = Similarity.resolveProbes(0, 2)) // = explicit resolved
        .orderBy("id_a", "id_b"))
  }
}
