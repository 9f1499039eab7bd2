package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * All are pure column expressions (whole-stage-codegen'd, no UDFs), so
  * they run as narrow maps over the scan at any scale — the 100 TB cost
  * is exactly one pass over the text column.
  */
object TextAnalysis {

  /** Tokens of a space-separated document. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs, digit runs, and single symbols —
    * the standard cheap proxy for tokenizer token counts. */
  val bpeishPattern = "[a-z]+|[A-Z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishCount(text: Column): Column = regexp_count(text, lit(bpeishPattern))

  /** Corpus-wide heavy hitters over the normalized token stream — "the
    * most frequent tokens across 100 TB" as ONE bounded-memory sketch
    * aggregate ([[graft.functions.FrequentItemsAggregator]], mergeable
    * Misra–Gries): each executor partial holds at most ~2×capacity
    * counters, the exchange carries one ≤capacity-entry map per
    * partition, so the cost is a narrow scan + a constant-size shuffle
    * where an exact groupBy would shuffle every distinct token. Returns
    * `(item, est)` rows — at most `capacity` of them. The contract is
    * the audited MG guarantee (q128): every token with true count
    * > n/(capacity+1) is present, and `true - n/(capacity+1) <= est <=
    * true`; which SUB-threshold tokens survive depends on merge order,
    * so never consume the raw tail. Swap `itemExpr` to profile domains,
    * URLs, languages — anything string-valued. */
  def heavyHitters(
      df: DataFrame,
      itemExpr: Column,
      capacity: Int): DataFrame =
    df.select(itemExpr.cast("string").as("item"))
      .agg(graft.functions.FrequentItems
        .freqItems(col("item"), capacity).as("sk"))
      .select(explode(col("sk")).as(Seq("item", "est")))

  /** Language marker lists (tiny stopword sets). Deterministic heuristic:
    * score = number of token occurrences in each language's marker list;
    * prediction = argmax with fixed tie order en > es > de > fr, 'und' when
    * all scores are zero. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "que", "un", "est"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers.map(lit): _*)))

  /** Predicted language + per-language scores. Adds columns
    * `score_<lang>`... and `lang_pred`. */
  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = langMarkers.foldLeft(df) { case (d, (lang, m)) =>
      d.withColumn(s"score_$lang", langScore(col(textCol), m))
    }
    // argmax with fixed order: a language wins iff its score is strictly
    // greater than every earlier language's and >= every later one's.
    val pred = langMarkers.zipWithIndex.foldRight(lit("und")) {
      case (((lang, _), i), elseCol) =>
        val s = col(s"score_$lang")
        val beatsEarlier = langMarkers.take(i)
          .map { case (l2, _) => s > col(s"score_$l2") }
          .foldLeft(lit(true))(_ && _)
        val beatsLater = langMarkers.drop(i + 1)
          .map { case (l2, _) => s >= col(s"score_$l2") }
          .foldLeft(lit(true))(_ && _)
        when(s > 0 && beatsEarlier && beatsLater, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Quality score in [0,1]: mixes document length, lexical diversity,
    * filler ratio and mean token length — the standard cheap pre-filter
    * shape for web-scale corpora. Deterministic, SQL-expressible. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val fillerRatio =
      size(filter(toks, t => t.isin(lit("a"), lit("the")))).cast("double") / n
    val meanLen = (length(text) - (n - lit(1.0))) / n // single-space separated
    // the 1e-9 bias nudges scores off exact .xxxx5 rounding boundaries:
    // nice rational inputs land there exactly, and engines then disagree
    // (Spark rounds via the double's shortest decimal repr, DuckDB via
    // scaled multiply) — off-boundary, every engine rounds the same way
    round(
      least(n / lit(100.0), lit(1.0)) * 0.3 +
        distinctRatio * 0.3 +
        (lit(1.0) - fillerRatio) * 0.2 +
        least(meanLen / lit(8.0), lit(1.0)) * 0.2 +
        lit(1e-9),
      4)
  }

  /** Position-sensitive 64-bit document fingerprint: each character
    * contributes ascii(c) * w(pos) where w is a multiplicative-hash weight
    * of its 1-based position. Order-sensitive (an anagram fingerprints
    * differently), overflow-free for documents < ~50 MB, and expressible
    * in plain SQL for oracle checks. */
  def fingerprint(text: Column): Column = {
    val chars = split(text, "")
    val weighted = transform(chars, (c, i) =>
      ascii(c).cast("long") * pmod((i + lit(1)).cast("long") * lit(2654435761L), lit(1000003L)))
    aggregate(weighted, lit(0L), (acc, x) => acc + x)
  }

  /** PII redaction patterns — the C4/RefinedWeb-style scrub every
    * training-data pipeline runs before release. RE2-compatible (no
    * backrefs/lookahead) so the same pattern strings run in Spark's Java
    * regex AND the DuckDB oracle's RE2 with identical semantics. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\+?\\d[\\d ().-]{7,}\\d"

  /** Replace emails, IPv4s and phone-like digit runs with typed tokens.
    * Order is load-bearing: emails first (their local parts can contain
    * digit runs), then IPs (dotted quads would otherwise match the
    * looser phone pattern), then phones on what remains. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Intra-document repetition profile (the Gopher repetition signals):
    * for each doc, the total bigram count, the count of its single most
    * frequent bigram, and their ratio — high ratios flag boilerplate /
    * template spam. A pure narrow map over the scan: repetition is an
    * intra-document property, so reshuffling the whole token stream to
    * count it (explode + two groupBys) would pay two corpus-wide
    * exchanges for state that never leaves the row. The multiplicity
    * kernel is the native [[graft.functions.TopBigramCount]] expression
    * fused over the token array — no per-bigram string is allocated and
    * comparison is exact (a hash kernel could silently collide against
    * an oracle). Docs with fewer than two tokens keep 0s. */
  def repetitionStats(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol),
      greatest(size(tokens(col(textCol))) - 1, lit(0)).cast("long")
        .as("n_bigrams"),
      graft.functions.SketchExprs.topBigramCount(tokens(col(textCol)))
        .as("top_bigram_n"))
      .select(col(idCol), col("n_bigrams"), col("top_bigram_n"),
        round(
          when(col("n_bigrams") === 0, lit(0.0))
            .otherwise(col("top_bigram_n").cast("double") /
              col("n_bigrams").cast("double")), 6).as("top_frac"))

  /** Stopword list for the Gopher-style quality rules (the top English
    * function words; the reference pipelines carry a comparable set). */
  val gopherStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "that", "with", "for")

  /** Gopher-style document-quality ruleset (Rae et al. 2021, §A1.1 —
    * public paper): per-doc signals plus a pass/fail flag. Signals:
    *
    *   - `n_words` — whitespace token count
    *   - `mean_word_len` — average token length (single-space-separated
    *     docs: `(n_chars - (n_words-1)) / n_words`)
    *   - `alpha_frac` — fraction of tokens containing at least one
    *     alphabetic character
    *   - `stopword_n` — tokens in [[gopherStopwords]] (Gopher's
    *     "contains ≥2 stop words" rule)
    *
    * `pass_gopher` is the conjunction of the four range rules. Like
    * [[qualityScore]] this is a pure column expression — one narrow
    * codegen'd pass over the text column, no shuffle at any scale. The
    * flag is computed from the ROUNDED signals so the engine and any
    * SQL re-derivation agree on boundary documents; the 1e-9 bias (see
    * [[qualityScore]]) keeps rounding off exact .xxxx5 boundaries.
    *
    * Defaults are scaled to the synthetic corpus (10–99-word docs);
    * production Gopher bounds are minWords=50, maxWords=100000. */
  def gopherQuality(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 25,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nd = n.cast("double")
    val meanLen = round(
      (length(col(textCol)) - (nd - lit(1.0))) / nd + lit(1e-9), 4)
    val alphaFrac = round(
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / nd
        + lit(1e-9), 4)
    val stopN = size(filter(toks, t => t.isin(gopherStopwords.map(lit): _*)))
    df.select(
      col(idCol),
      n.as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_frac"),
      stopN.as("stopword_n"))
      .withColumn("pass_gopher",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stopword_n") >= minStopwords)
  }

  /** Compression-ratio quality signal (zlib-deflated bytes / raw
    * bytes): the CCNet / RedPajama-V2 `compression_ratio` member of the
    * quality-signal family — templated spam and boilerplate compress
    * far below organic prose, so pipelines gate on both tails. Thin
    * veneer over the codegen'd [[graft.functions.CompressExprs]]
    * kernel; see there for determinism and framing caveats. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    graft.functions.CompressExprs.deflateRatio(text, level)

  /** C4-style LINE-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the rule set behind the C4 corpus, reused by most web
    * pipelines since): keep only lines that (a) end in terminal
    * punctuation, (b) hold at least `minWordsPerLine` words, and
    * (c) contain none of `badSubstrings` (C4 drops "javascript"
    * lines); then drop whole documents that (d) retain fewer than
    * `minLines` lines or (e) contain any of `dropDocsWith` anywhere
    * (C4 drops pages with "{" — code — and "lorem ipsum"). The doc's
    * text is REWRITTEN to the retained lines (newline-joined), which is
    * what makes this a cleaner, not just a gate.
    *
    * Pure column functions — one narrow pass, no shuffle, no UDF: the
    * per-line rules run as a `filter` HOF over the split array, so a
    * 100 TB corpus cleans at scan speed. Sub-line boilerplate (an exact
    * paragraph recurring across docs) is [[graft.ops.Dedup
    * .removeDuplicateSpans]]'s job; this pass is line-local by design. */
  def c4LineFilter(
      df: DataFrame,
      textCol: String = "text",
      minWordsPerLine: Int = 3,
      minLines: Int = 3,
      badSubstrings: Seq[String] = Seq("javascript"),
      dropDocsWith: Seq[String] = Seq("{", "lorem ipsum")): DataFrame = {
    require(minWordsPerLine >= 1 && minLines >= 1,
      s"minWordsPerLine and minLines must be >= 1, got " +
        s"$minWordsPerLine / $minLines")
    val kept = filter(split(col(textCol), "\n"), l => {
      val t = trim(l)
      val lineOk = t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= lit(minWordsPerLine)
      badSubstrings.foldLeft(lineOk)((acc, b) =>
        acc && !lower(l).contains(lit(b)))
    })
    val docOk = dropDocsWith.foldLeft(lit(true))((acc, b) =>
      acc && !lower(col(textCol)).contains(lit(b)))
    df.filter(docOk)
      .withColumn(textCol, kept)
      .filter(size(col(textCol)) >= minLines)
      .withColumn("n_lines", size(col(textCol)))
      .withColumn(textCol, array_join(col(textCol), "\n"))
  }

  /** Corpus-trained unigram language-model score per document — the
    * deterministic core of CCNet-style perplexity filtering (public
    * recipe: score each doc under a small LM; outliers on either end are
    * boilerplate or garbage). The LM here is the corpus's own add-one-
    * smoothed unigram model: P(w) = (count(w)+1) / (N+V), and each doc
    * reports its mean negative log2 probability (`bits_per_token`) plus
    * the equivalent perplexity `2^bits` — no external model artifact, so
    * the score is exactly replayable by any engine.
    *
    * Scale shape: term counts are ONE hash aggregate (map-side combine
    * absorbs a billion-copy stopword before the wire; the result is
    * vocabulary-sized), the (N, V) totals are a 1-row frame broadcast
    * into the probability table, and docs score via a token→prob join
    * (AQE broadcasts the vocab table) followed by a per-doc aggregate.
    * Deliberately no window anywhere: a window keyed on the term would
    * pool every occurrence of a stopword in one partition. Perplexity is
    * derived from the ROUNDED bits so engine and oracle agree. */
  def lmQuality(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val counts = tok.groupBy("term").agg(count(lit(1)).as("c"))
    val stats = counts.agg(
      sum(col("c")).as("N"), count(lit(1)).as("V"))
    val probs = counts.crossJoin(broadcast(stats))
      .select(col("term"),
        ((col("c") + lit(1)).cast("double") /
          (col("N") + col("V")).cast("double")).as("p"))
    tok.join(probs, "term")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n"), sum(log2(col("p"))).as("s"))
      .select(col(idCol),
        col("n").cast("int").as("n_tokens"),
        round(-col("s") / col("n") + lit(1e-9), 4).as("bits_per_token"))
      .withColumn("ppl", round(pow(lit(2.0), col("bits_per_token")), 2))
  }

  /** Model-based quality scoring with the feature-hashing trick — the
    * engine side of a fastText-style linear classifier (the standard
    * LLM-pipeline quality gate, cf. CCNet/LLaMA data filtering;
    * hashing trick per Weinberger et al. 2009): each token hashes to
    * one of `buckets` feature slots, the document's margin is the mean
    * of its tokens' slot weights, and `p_keep` is the logistic of the
    * margin.
    *
    * The WEIGHTS here are a deterministic stand-in artifact (a
    * multiplicative hash of the slot index, centered on zero) — real
    * deployments train them offline and ship a `buckets`-sized array;
    * swapping the synthetic weight expression for a broadcast weight
    * lookup changes nothing structural. What this operator pins down
    * is the engine mechanism, built to be replayable anywhere:
    *
    *   - the token→slot hash is the positional char hash
    *     ([[fingerprint]]) mod `buckets` — plain-SQL expressible, so
    *     the battery's q98 hash-verifies the whole scoring path;
    *   - per-doc aggregation stays in INTEGER space (slot weights are
    *     integers summed as longs) until a single final division, so
    *     the result is independent of partitioning and FP addition
    *     order — a double-sum here would make the gate flaky;
    *   - shape at scale: one narrow explode + ONE hash-agg shuffle,
    *     no joins, no windows — identical to q44's cost envelope.
    *
    * Output: (id, n_tokens, margin in ~[-1,1], p_keep in (0,1)). */
  def hashedLinearScore(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val tok = df.select(col(idCol), explode_outer(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isNotNull)
    val slot = pmod(fingerprint(col("__tok")), lit(buckets.toLong))
    val wi = pmod(slot * lit(2654435761L), lit(1000003L)) - lit(501501L)
    tok.withColumn("__wi", wi)
      .groupBy(idCol)
      .agg(count(lit(1)).as("__n"), sum(col("__wi")).as("__s"))
      .select(col(idCol),
        col("__n").cast("int").as("n_tokens"),
        round(col("__s").cast("double") / (col("__n") * lit(501501.0))
          + lit(1e-9), 4).as("margin"))
      .withColumn("p_keep",
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))) + lit(1e-9), 4))
  }

  /** URL decomposition for web-corpus provenance: scheme / host /
    * registered domain / path / query via Spark's built-in `parse_url`
    * (a native expression — no UDF in the scan). `registered_domain` is
    * the last-two-labels heuristic (`substring_index(host, '.', -2)`):
    * correct for `site.com`-shaped hosts, WRONG for multi-label public
    * suffixes (`foo.co.uk` → `co.uk`) — a production deployment swaps in
    * a public-suffix-list lookup (broadcast map join on the suffix
    * trie's candidate labels); this column-level shape is what the
    * per-domain policies below consume either way. Null-safe: a null or
    * unparseable URL yields null parts, never a task failure. */
  def urlParts(df: DataFrame, urlCol: String): DataFrame = {
    // try_parse_url, not parse_url: under ANSI the strict form THROWS on
    // the malformed URLs every web crawl contains — quarantine (null
    // parts), never a task failure
    val host = try_parse_url(col(urlCol), lit("HOST"))
    df.withColumn("scheme", lower(try_parse_url(col(urlCol), lit("PROTOCOL"))))
      .withColumn("host", lower(host))
      .withColumn("registered_domain",
        when(host.isNotNull, substring_index(lower(host), ".", -2)))
      .withColumn("path", try_parse_url(col(urlCol), lit("PATH")))
      .withColumn("query", try_parse_url(col(urlCol), lit("QUERY")))
  }
}
