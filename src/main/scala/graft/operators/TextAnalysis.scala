package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Text-quality / text-statistics operators for training-data curation —
  * all built-in expressions (codegen'd, per-row, narrow; no shuffle, no UDF).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: number of matches of a GPT-2-style pre-tokenizer
    * pattern (letter runs / digit runs / punctuation runs / leading space). */
  val BpePattern = "('(?:s|t|re|ve|m|ll|d))|( ?[a-zA-Z]+)|( ?[0-9]+)|( ?[^a-zA-Z0-9\\s]+)"
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpePattern))

  def avgWordLength(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Tiny per-language function-word lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small — the heuristic, not the lexicon, is the
    * operator under test. */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "im"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "en", "que", "pour", "dans"))

  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val w = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(w, t)))
  }

  def stopwordRatio(text: Column): Column =
    stopwordHits(text, StopwordsByLang.head._2).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Heuristic language ID: the language whose function words hit most;
    * ties broken by list order above; zero hits everywhere → "unknown". */
  /** Fused per-row gate statistics ([[graft.functions.GateStats]] — ONE
    * text pass) backing [[langIdGuess]]/[[qualityScore]]/[[topTokenShare]].
    * Field-for-field value parity with the old declarative forms is the
    * expression's documented contract (oracle-gated by q24/q25/q69 and the
    * golden manifest); whole-stage-codegen subexpression elimination shares
    * a single evaluation across every gate referencing it in one filter —
    * the measured 10M-doc row-gate stage read each doc ~8 times before. */
  private def gate(text: Column): Column =
    graft.functions.GateStats(text, StopwordsByLang.map(_._2))

  def langIdGuess(text: Column): Column = {
    val hits = gate(text).getField("hits")
    val scored = StopwordsByLang.zipWithIndex.map {
      case ((lang, _), i) => (lang, hits.getItem(i))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldLeft(when(best <= 0, lit("unknown"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("unknown"))
  }

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^a-zA-Z0-9 ]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def digitRatio(text: Column): Column =
    regexp_count(text, lit("[0-9]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Composite quality score in [0,1] — the standard curation recipe: favor
    * mid-length docs with word-like tokens, penalize punctuation/digit soup.
    * Deterministic arithmetic (mirrors exactly in the oracle SQL). */
  def qualityScore(text: Column): Column = {
    // fused-counts twin of the declarative recipe: n_parts ≡ tokenCount,
    // sum_part_len/n_parts ≡ avgWordLength, n_punct/n_chars ≡ punctRatio,
    // n_digit/n_chars ≡ digitRatio — identical IEEE arithmetic, one scan
    val g = gate(text)
    val nParts = g.getField("n_parts")
    val nChars = greatest(g.getField("n_chars"), lit(1)).cast("double")
    val lenScore = least(nParts.cast("double") / lit(100.0), lit(1.0))
    val awl = g.getField("sum_part_len").cast("double") /
      greatest(nParts, lit(1)).cast("double")
    val wordScore = when(awl.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    val punctPenalty = least(
      g.getField("n_punct").cast("double") / nChars * lit(4.0), lit(1.0))
    val digitPenalty = least(
      g.getField("n_digit").cast("double") / nChars * lit(4.0), lit(1.0))
    round(
      lit(0.4) * lenScore + lit(0.3) * wordScore +
        lit(0.15) * (lit(1.0) - punctPenalty) + lit(0.15) * (lit(1.0) - digitPenalty),
      6)
  }

  /** Order-sensitive document fingerprint (rolling polynomial hash). */
  def fingerprint(text: Column): Column = Hashing.rollingFingerprint(tokens(text))

  /** Token-window chunking for long documents: word chunks of `chunkTokens`
    * with `overlap` tokens shared between consecutive chunks (the standard
    * context-window prep for training/embedding pipelines). A doc shorter
    * than one chunk yields itself. Chunk i covers tokens
    * [i*step, i*step + chunkTokens), step = chunkTokens - overlap;
    * numChunks = max(1, ceil((n_tokens - overlap) / step)). */
  def chunk(text: Column, chunkTokens: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val t = tokens(text)
    val nChunks = greatest(
      floor((size(t) - lit(overlap) + lit(step - 1)).cast("double") / lit(step)).cast("int"),
      lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(t, i * step + 1, lit(chunkTokens))))
  }

  /** PII patterns scrubbed by [[redactPii]], applied in order. Kept to regex
    * constructs with identical semantics in Java regex (Spark, codegen'd
    * regexp_replace) and RE2 (DuckDB oracle, `'g'` flag): character classes,
    * bounded repetition, non-capturing groups, word boundaries. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "[EMAIL]",
    """\b\d{3}[-.]\d{3}[-.]\d{4}\b""" -> "[PHONE]",
    """\b(?:\d{1,3}\.){3}\d{1,3}\b""" -> "[IP]")

  /** PII redaction (emails, phone numbers, IPv4 addresses → fixed tags) —
    * standard scrub pass before text enters a training corpus. Pure chained
    * `regexp_replace`: stays inside whole-stage codegen, no UDF. Order
    * matters: emails first (an address can embed digits a later pattern
    * would half-eat), IPs after phones (both are digit runs; phone needs its
    * 3-3-4 shape intact). */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Top-`k` keywords per document by TF-IDF — the classic corpus-level
    * relevance signal (topic tagging, boilerplate spotting: a "keyword"
    * with df ≈ N is template text).
    *
    * tfidf = tf * ln(N / df), rounded to 6 decimals BEFORE ranking so the
    * ordering is identical across engines (ln differs by ulps between
    * libm implementations); residual ties break on the token itself.
    *
    * Scale shape: tf = groupBy(doc, token) with map-side combine; df =
    * second-level aggregate over tf (token-keyed, combine collapses to one
    * row per distinct token per partition — stopword-heavy corpora skew the
    * JOIN key, but the build side is post-aggregation df rows, not
    * occurrences); N broadcasts as a 1-row frame; final per-doc ranking is
    * a doc-partitioned window whose rank-limit Spark pushes map-side
    * (WindowGroupLimit — plan-audited). */
  def tfIdfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // term frequency computed INSIDE each row ([[graft.functions.
    // TokenCounts]] — tf is a per-document aggregate, so the classic
    // explode → groupBy(doc, token) shuffles one row per token OCCURRENCE
    // to derive what the row already knows); the explode here emits one row
    // per DISTINCT token per doc, post-aggregation. Persisted because it
    // feeds the document-frequency aggregate AND the score join
    // (CacheScope-registered; owner drains after the action).
    val tf = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"),
          explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
        .select(col("id"), col("tc.tok").as("tok"), col("tc.tf").as("tf")))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "tok")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy("id").orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("id"), col("tok"), col("tf"), col("df"), col("tfidf"), col("rn"))
  }

  /** Per-row most-frequent-token share (the [[repetitionStats]] column as a
    * predicate-usable scalar): counts come from the fused
    * [[graft.functions.TokenCounts]]; the two folds iterate the DISTINCT
    * token array (small), so the interpreted higher-order cost is per
    * distinct token, not per occurrence. */
  def topTokenShare(text: Column): Column = {
    // top_tf ≡ array_max over token_counts tf; Σtf ≡ the part count
    // (every part is a token occurrence) — same doubles, one scan
    val g = gate(text)
    g.getField("top_tf").cast("double") /
      g.getField("n_parts").cast("long").cast("double")
  }

  /** Character-bigram language-model quality score — the perplexity-style
    * filter of CCNet-lineage curation pipelines, self-trained: the model is
    * the corpus's own bigram statistics, so "low score" = "character
    * transitions unlike this corpus" (mojibake, binary-as-text, codepoint
    * soup), with no external model artifact and full cross-engine
    * determinism. Returns (id, n_bigrams, lm_score) where lm_score =
    * Σ_occurrences ln P(c₂|c₁) / n_bigrams (avg log-prob; higher = more
    * corpus-like), P(b|a) = count(ab) / Σ_x count(ax). Docs shorter than 2
    * chars have no bigrams and drop out.
    *
    * Scale shape: per-doc bigram counts are row-local
    * ([[graft.functions.CharBigramCounts]] — no occurrence-level shuffle);
    * the model is two tiny aggregates over distinct bigrams (vocab is
    * bounded by charset², broadcastable at ANY corpus size — that's the
    * charm of char-grams vs word-grams); scoring is a broadcast join + one
    * id-keyed aggregate that collapses map-side. */
  def charLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // persist: feeds the model aggregate AND the scoring join
    val bg = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"),
          explode(graft.functions.CharBigramCounts(col(textCol))).as("bc"))
        .select(col("id"), col("bc.bg").as("bg"), col("bc.n").as("n")))
    // broadcast is SAFE here and only here: the char-bigram vocab is bounded
    // by charset² at any corpus size (the word sibling must not assume this —
    // see [[wordLmScore]])
    bg.join(broadcast(lmModel(bg, substring(col("bg"), 1, 1))), "bg")
      .groupBy("id")
      .agg(
        sum("n").as("n_bigrams"),
        round(
          sum(col("n") * log(col("cab").cast("double") / col("ca"))) /
            sum(col("n")).cast("double"),
          6).as("lm_score"))
  }

  /** Cross-corpus LM scoring — the CCNet shape: train the char-bigram model
    * on a REFERENCE corpus (the trusted high-quality slice), score a
    * different corpus under it. Unlike [[charLmScore]] (self-trained),
    * scored text can contain bigrams the reference never saw; those carry
    * no log-probability (no ad-hoc smoothing constant to un-pin the
    * determinism) and are reported as `oov_bigrams` so the downstream gate
    * can combine both signals — high OOV share IS the out-of-domain signal.
    * Returns (id, n_bigrams, oov_bigrams, lm_score); lm_score is NULL for
    * a document with zero in-model bigrams.
    *
    * Scale shape: identical to [[charLmScore]] — the model is bounded by
    * charset² (broadcast-safe at any corpus size), one occurrence-grain
    * aggregate per side, scoring joins map-side. */
  def charLmScoreAgainst(ref: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val refBg = ref
      .select(explode(graft.functions.CharBigramCounts(col(textCol))).as("bc"))
      .select(col("bc.bg").as("bg"), col("bc.n").as("n"))
    val model = lmModel(refBg, substring(col("bg"), 1, 1))
    df.select(col(idCol).as("id"),
        explode(graft.functions.CharBigramCounts(col(textCol))).as("bc"))
      .select(col("id"), col("bc.bg").as("bg"), col("bc.n").as("n"))
      .join(broadcast(model), Seq("bg"), "left")
      .groupBy("id")
      .agg(
        sum("n").as("n_bigrams"),
        coalesce(sum(when(col("cab").isNull, col("n"))), lit(0L))
          .as("oov_bigrams"),
        round(
          sum(when(col("cab").isNotNull,
            col("n") * log(col("cab").cast("double") / col("ca")))) /
            sum(when(col("cab").isNotNull, col("n"))).cast("double"),
          6).as("lm_score"))
  }

  /** Bigram LM model table (bg, cab, ca) from an exploded (id, bg, n) frame,
    * in ONE exchange over the bigram key: cab = Σn per distinct bigram
    * (groupBy with map-side combine), ca = Σcab per prefix via a whole-frame
    * window over the ALREADY-AGGREGATED table — one row per distinct bigram,
    * so the window repartition moves vocab-sized data, never occurrence-sized,
    * and no join back is needed (the old cab⋈ca-on-prefix plan re-aggregated
    * bg twice and shuffled the vocab a third time for the join). */
  private def lmModel(bg: DataFrame, pfx: Column): DataFrame =
    bg.groupBy("bg").agg(sum("n").as("cab"))
      .withColumn("ca", sum("cab").over(Window.partitionBy(pfx)))

  /** Corpus vocabulary, top `k` by global term frequency — the first pass of
    * tokenizer/vocab construction and the Zipf sanity check on a crawl.
    * Returns (tok, tf_total, df, rnk) with rnk dense over (tf_total desc,
    * tok).
    *
    * Scale shape: per-doc term counts are row-local
    * ([[graft.functions.TokenCounts]]); the global aggregate is token-keyed
    * with map-side combine (one row per distinct token per partition); the
    * top-k cut is orderBy+limit — Spark plans TakeOrderedAndProject
    * (per-partition heaps, no global sort materialization) — and only the
    * K survivors enter the rank window, so the unpartitioned window is a
    * K-row driver-sized stage, not a corpus-wide single-partition sort. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val v = df.select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum("tc.tf").as("tf_total"), count(lit(1)).as("df"))
      .orderBy(col("tf_total").desc, col("tok"))
      .limit(k)
    // partitionBy(lit(0)): the K-row input makes a single-partition window
    // correct by design, but an EMPTY partition spec trips WindowExec's
    // corpus-scale "No Partition Defined" warning on every run — a literal
    // key states the bounded-input intent and keeps real warnings visible
    v.withColumn("rnk",
      row_number().over(Window.partitionBy(lit(0))
          .orderBy(col("tf_total").desc, col("tok")))
        .cast("long"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-`k`
    * vocabulary ([[vocabTopK]]) — the tokenizer-coverage question ("how
    * much of each doc would a k-entry vocab cover?") asked before
    * committing to a vocab size. Returns (id, n_tokens, oov_tokens,
    * oov_rate).
    *
    * Scale shape: the vocab is k rows (broadcast); per-doc term counts are
    * row-local ([[graft.functions.TokenCounts]]), the explode emits one
    * row per DISTINCT token per doc, and the id-keyed aggregate collapses
    * map-side — one corpus pass after the vocab build. */
  def oovRate(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val vocab = vocabTopK(df, textCol, k).select(col("tok"))
    df.select(col(idCol).as("id"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        col("tc.tok") === col("tok"), "left")
      .groupBy("id")
      .agg(
        sum("tc.tf").as("n_tokens"),
        coalesce(sum(when(col("in_vocab").isNull, col("tc.tf"))), lit(0L))
          .as("oov_tokens"))
      .select(col("id"), col("n_tokens"), col("oov_tokens"),
        round(col("oov_tokens").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
  }

  /** BPE merge-step statistics: frequency of every ADJACENT CHARACTER PAIR
    * across the corpus, weighted by word frequency — the pair table whose
    * argmax is byte-pair-encoding's first merge (Sennrich et al. 2016,
    * public algorithm). Returns the top-`k` rows
    * (a, b, pair_count, n_words, rnk): `pair_count` = Σ word-frequency over
    * every occurrence of the pair (a word like "aaa" counts "aa" twice),
    * `n_words` = distinct vocabulary words containing it.
    *
    * Scale shape: the corpus collapses to its VOCABULARY first (token-keyed
    * aggregate with map-side combine — [[graft.functions.TokenCounts]] makes
    * per-doc counts row-local), so the pair explode runs over |vocab|
    * distinct words × (len-1) pairs, never over corpus tokens; the pair
    * aggregate is keyed by a two-char tuple (bounded by charset²) and the
    * top-k cut is TakeOrderedAndProject. An iterated BPE trainer would
    * loop this plan with a merge table folded into the tokenizer. */
  def bpePairStats(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val vocab = df
      .select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum("tc.tf").as("freq"))
      .where(length(col("tok")) >= 2)
    val pairs = vocab.select(col("tok"), col("freq"),
      explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => struct(col("tok").substr(i, lit(1)).as("a"),
          col("tok").substr(i + lit(1), lit(1)).as("b")))).as("p"))
    val agg = pairs
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("pair_count"),
        countDistinct(col("tok")).as("n_words"))
      .orderBy(col("pair_count").desc, col("a"), col("b"))
      .limit(k)
    // partitionBy(lit(0)): K-row input; see vocabTopK for why the literal key
    agg.withColumn("rnk",
      row_number().over(Window.partitionBy(lit(0))
          .orderBy(col("pair_count").desc, col("a"), col("b")))
        .cast("long"))
  }

  /** BPE tokenizer application — the other half of [[bpePairStats]]: apply a
    * rank-ordered merge table to the corpus vocabulary and report each
    * word's segmentation. A word starts as its space-separated character
    * sequence; each merge (a, b) → ab rewrites every space-delimited
    * occurrence left-to-right, one `replace` pass per merge rank. Returns
    * (tok, freq, segmented, n_symbols); Σ freq·n_symbols is the corpus
    * token count under this tokenizer — the compression curve point.
    *
    * Semantics note: this equals canonical greedy BPE EXCEPT on a run of
    * the same pair inside one word ("aaaa" under (a,a) → `aa a a`, not
    * `aa aa`): adjacent matches share their delimiter space, so the
    * single-pass rewrite takes every OTHER occurrence of a run. The
    * deviation is confined to same-symbol runs (rare in natural-language
    * vocabularies), is deterministic, and is shared bit-for-bit by the SQL
    * oracle. [[graft.functions.BpeSegment]] is the canonical-BPE twin
    * (fused per-word merge loop, property-tested against a driver
    * reference) for consumers that need exact tokenizer parity.
    *
    * Scale shape: segmentation runs over the collapsed VOCABULARY (distinct
    * words), not corpus tokens — the merge-chain cost is |vocab| × |merges|
    * row-local codegen'd string rewrites, no shuffle beyond the vocab
    * aggregate. The merge table is a plan literal (a real tokenizer ships
    * thousands of merges; they stay O(KB) in the plan, and per-JVM DFA-style
    * caching like [[graft.functions.PolicyHits]] is the swap-in if the
    * chain ever dominates). */
  def bpeSegment(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab = df
      .select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum("tc.tf").as("freq"))
    // " a b c " padding: every symbol occurrence is space-delimited on both
    // sides, so a merge pattern " a b " can never match across word edges
    // or inside a longer symbol
    val spaced = concat(lit(" "),
      array_join(split(col("tok"), ""), " "), lit(" "))
    val mergedCol = merges.foldLeft(spaced) { case (c, (a, b)) =>
      replace(c, lit(s" $a $b "), lit(s" $a$b ")) }
    vocab.withColumn("segmented", trim(mergedCol))
      .withColumn("n_symbols", size(split(trim(mergedCol), " ")).cast("long"))
  }

  /** Canonical-BPE twin of [[bpeSegment]] (exact subword-nmt semantics,
    * including same-pair runs) via the fused per-word merge loop
    * [[graft.functions.BpeSegment]]. Same output shape; same scale shape
    * (vocabulary-collapsed, row-local codegen). Not SQL-oracle-expressible
    * (the best-rank rescan loop has no bounded declarative form) —
    * property-tested against [[bpeSegment]] on run-free vocabularies and
    * against hand-computed run cases. */
  def bpeSegmentExact(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab = df
      .select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum("tc.tf").as("freq"))
    val seg = graft.functions.BpeSegment(col("tok"), merges)
    vocab.withColumn("segmented", seg)
      .withColumn("n_symbols", size(split(col("segmented"), " ")).cast("long"))
  }

  /** Quality-quantile gate: keep the top `keepFrac` of the corpus by
    * [[qualityScore]], exactly — equivalent to
    * `row_number() OVER (ORDER BY score DESC, id) <= floor(keepFrac·N)`
    * but WITHOUT the corpus-wide single-partition window that global
    * ranking normally costs. Returns (id, score, keep).
    *
    * Scale shape: scores round to 6dp, so the score histogram
    * (groupBy(score).count) is a bounded-size aggregate with map-side
    * combine; the cumulative scan runs on that tiny table; only the ONE
    * boundary score group needs within-group ranking (a window partitioned
    * by score over that group's rows — parallel, skew-free unless the
    * corpus is one score). Two driver scalars (N, boundary row) — same
    * class of action as PageRank's N, not a collect. */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      keepFrac: Double): DataFrame = {
    val scored = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"), qualityScore(col(textCol)).as("score")))
    val n = scored.count()
    val target = math.floor(keepFrac * n).toLong
    // partitionBy(lit(0)) on the bounded histogram cumsum — see [[vocabTopK]]
    val hist = scored.groupBy("score").agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy(lit(0)).orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val boundary = hist.where(col("cum") >= target)
      .orderBy(col("score").desc).limit(1)
      .select(col("score"), (col("cum") - col("cnt")).as("n_above"))
      .collect().headOption
    boundary match {
      case None => // target == 0: nothing kept
        scored.select(col("id"), col("score"), lit(false).as("keep"))
      case Some(row) =>
        val (cutoff, nAbove) = (row.getDouble(0), row.getLong(1))
        val inGroup = Window.partitionBy("score").orderBy(col("id"))
        scored
          .withColumn("keep",
            col("score") > cutoff ||
              (col("score") === cutoff &&
                row_number().over(inGroup) <= lit(target - nAbove)))
          .select(col("id"), col("score"), col("keep"))
    }
  }

  /** Token-budget gate: keep the highest-quality documents whose CUMULATIVE
    * token count fits `budgetTokens` — "give me the best N-billion-token
    * subset" — walking docs in (score desc, id) order and keeping the
    * maximal prefix with Σ n_tokens ≤ budget. The training-data shape of
    * [[qualityGate]]: budgets are set in tokens, not document counts,
    * because tokens are what the training run consumes.
    *
    * Same no-global-sort construction as [[qualityGate]], weighted: the
    * cumulative scan runs over the bounded (score → Σtokens) histogram;
    * docs strictly above the boundary score are kept outright; only the ONE
    * boundary group needs a within-group running sum (window partitioned by
    * score over that group's rows). Returns (id, score, n_tokens, keep). */
  def tokenBudgetGate(df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    val scored = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"), qualityScore(col(textCol)).as("score"),
        tokenCount(col(textCol)).cast("long").as("n_tokens")))
    // bounded histogram cumsum (see [[vocabTopK]] on the lit(0) partition)
    val hist = scored.groupBy("score").agg(sum("n_tokens").as("toks"))
      .withColumn("cum",
        sum("toks").over(Window.partitionBy(lit(0)).orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // first group (score desc) whose cumulative tokens overflow the budget;
    // groups above it are kept whole, groups below dropped whole
    val boundary = hist.where(col("cum") > budgetTokens)
      .orderBy(col("score").desc).limit(1)
      .select(col("score"), (col("cum") - col("toks")).as("toks_above"))
      .collect().headOption
    boundary match {
      case None => // the whole corpus fits
        scored.select(col("id"), col("score"), col("n_tokens"),
          lit(true).as("keep"))
      case Some(row) =>
        val (cutoff, tokensAbove) = (row.getDouble(0), row.getLong(1))
        // Only the BOUNDARY group needs the running-sum ranking — rows above
        // the cutoff keep unconditionally, rows below drop unconditionally.
        // Filter before the window: the sort covers corpus/|bins| rows, not
        // the corpus (windowing all rows partitioned by score was the one
        // measurably super-linear stage in the 10× scale run — per-score
        // partitions are data-sized, and their per-key sorts grow n log n).
        val inGroup = Window.partitionBy("score").orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val boundaryRows = scored.where(col("score") === cutoff)
          .withColumn("keep",
            sum("n_tokens").over(inGroup) <= lit(budgetTokens - tokensAbove))
        // NULL scores (e.g. null text) route through the non-boundary branch
        // explicitly: both =!= and === are null for them, so a bare filter
        // pair would silently DROP the rows; instead keep them with
        // keep = false so the output row-set always equals the input's.
        scored.where(col("score") =!= cutoff || col("score").isNull)
          .withColumn("keep",
            coalesce(col("score") > cutoff, lit(false)))
          .unionByName(boundaryRows)
          .select(col("id"), col("score"), col("n_tokens"), col("keep"))
    }
  }

  /** Hashing-trick bag-of-words featurization: each document's sparse
    * feature vector as (id, feature_idx, weight) rows, where feature_idx =
    * stableHash(token) mod `dim` and weight = total occurrences of the
    * tokens colliding into that bucket. The fixed-width representation
    * classifiers and linear probes train on without a vocabulary pass —
    * and the engine-portable hash means the SAME features fall out of the
    * oracle's SQL.
    *
    * Scale shape: per-row term counts come fused from
    * [[graft.functions.TokenCounts]] (no occurrence-level shuffle); the
    * one id-keyed aggregate collapses map-side because a row's explode
    * output stays in its partition; output is bounded by
    * min(distinct tokens, dim) rows per document. */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    require(dim >= 2, "dim >= 2")
    df.select(col(idCol).as("id"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("id"),
        pmod(graft.functions.Hashing.stableHash(col("tc.tok")), lit(dim))
          .as("feature_idx"),
        col("tc.tf").as("tf"))
      .groupBy(col("id"), col("feature_idx"))
      .agg(sum(col("tf")).as("weight"))
  }

  /** Intra-document repetition stats — the Gopher-style quality cut for
    * degenerate/templated text: `distinct_ratio` (unique tokens / tokens;
    * low = loops, keyword stuffing) and `top_token_share` (most frequent
    * token's share; high = one-token spam). Term counts come from the
    * per-row [[graft.functions.TokenCounts]] (no occurrence-level shuffle);
    * the one id-keyed aggregate collapses fully map-side because a row's
    * explode output stays in its partition. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy("id").agg(
        sum("tc.tf").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("tc.tf").as("top_cnt"))
      .select(col("id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("distinct_ratio"),
        round(col("top_cnt").cast("double") / col("n_tokens"), 6)
          .as("top_token_share"))

  /** Self-trained WORD-bigram LM score — the CCNet-style perplexity filter
    * at token level (the word sibling of [[charLmScore]]): avg log
    * P(w_i | w_{i-1}) under the corpus's own bigram table. Low scores =
    * improbable word sequences (shuffled text, keyword stuffing) that
    * char-level statistics miss. Per-row bigram counts come fused from
    * [[graft.functions.NgramCounts]] (no occurrence-level shuffle); the
    * model is two bigram-keyed aggregates + a broadcast scoring join —
    * the same engine-portable arithmetic contract as q61, so the oracle
    * value-checks it. */
  def wordLmScore(df: DataFrame, idCol: String, textCol: String,
      modelJoinHint: Option[String] = None): DataFrame = {
    // persist: feeds the model aggregate AND the scoring join
    val bg = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"),
          explode(graft.functions.NgramCounts(col(textCol), 2)).as("bc"))
        .select(col("id"), col("bc.tok").as("bg"), col("bc.tf").as("n")))
    // NO forced broadcast, unlike [[charLmScore]]: the word-bigram vocab
    // grows with the corpus (billions of distinct bigrams on real web text),
    // so shipping the model as a broadcast relation is a driver-OOM at the
    // scales this operator targets. Default None lets AQE broadcast only
    // when the measured model size fits; pass "shuffle_hash"/"merge" to pin
    // the partitioned-join shape for known-huge vocabularies.
    val model = lmModel(bg, substring_index(col("bg"), " ", 1))
    bg.join(modelJoinHint.fold(model)(model.hint(_)), "bg")
      .groupBy("id")
      .agg(
        sum("n").as("n_bigrams"),
        round(
          sum(col("n") * log(col("cab").cast("double") / col("ca"))) /
            sum(col("n")).cast("double"),
          6).as("lm_score"))
  }

  /** Compressibility quality signal ([[graft.functions.CompressionRatio]]):
    * deflate-bytes / utf8-bytes. Low = templated/looping text; the
    * MassiveText cut keeps roughly 0.25–1.0. Spec-verified (no DuckDB
    * deflate — the catalog's one deliberate non-oracle signal). */
  def compressionRatio(text: Column): Column =
    graft.functions.CompressionRatio(text)

  /** Per-document policy/blocklist hit stats ([[graft.functions.PolicyHits]]
    * — byte-level Aho–Corasick DFA): one row per input doc with the total
    * occurrence count over every pattern (overlapping occurrences included)
    * and the number of distinct patterns present. The C4-style badwords
    * gate, at the only cost shape that survives a real blocklist: ONE pass
    * over each document regardless of pattern count, vs one
    * `regexp_count`/`replace` scan PER pattern declaratively. The automaton
    * ships as its pattern strings and is built once per executor JVM
    * (cached across tasks), never per row. */
  def policyHits(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.PolicyHits(col(textCol), patterns).as("ph"))
      .select(col("id"), col("ph.n_hits").as("n_hits"),
        col("ph.n_patterns_hit").as("n_patterns_hit"))

  /** The gate built on [[policyHits]]: keep rows whose total policy-pattern
    * occurrence count is at most `maxHits` (0 = the strict C4 drop-any-hit
    * rule). Pure per-row predicate — survives pushdown, no shuffle. */
  def policyFilter(df: DataFrame, textCol: String, patterns: Seq[String],
      maxHits: Long = 0L): DataFrame =
    df.where(graft.functions.PolicyHits(col(textCol), patterns)
      .getField("n_hits") <= maxHits)

  /** Pattern-class detection + redaction — the C4/CCNet-style PII scrub:
    * each `(class, regex)` pair contributes an occurrence count (over the
    * ORIGINAL text) and a rewrite of every match to `<CLASS>`. Counting on
    * the original keeps classes order-independent; the redaction itself is
    * sequential, so patterns must not match another class's replacement
    * token (uppercase sentinels vs lowercase patterns guarantees that for
    * the usual email/phone/IP/ID classes). Regexes must stay in the
    * Java∩RE2 common dialect (character classes, `\b`, alternation — no
    * backreferences/lookahead) so the DuckDB oracle replays them exactly.
    *
    * Scale shape: pure per-row codegen'd expressions (regexp_count /
    * regexp_replace) — narrow, pushdown-transparent, zero shuffle; the cost
    * is one DFA scan per pattern per row, the same cost the reference C4
    * pipeline pays. A large blocklist belongs in [[policyHits]] (one fused
    * Aho–Corasick pass); regex redaction is for the handful of structured
    * PII shapes that need capture-free rewriting. */
  def redactPatterns(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "at least one (class, regex) pattern")
    val counts = patterns.map { case (name, re) =>
      regexp_count(col(textCol), lit(re)).cast("long").as(s"n_$name") }
    df.select(col(idCol).as("id") +: counts :+
      redact(col(textCol), patterns).as("redacted"): _*)
  }

  /** The rewrite half of [[redactPatterns]] as a bare column — for
    * pipelines that scrub in place without the per-class counts. */
  def redact(text: Column, patterns: Seq[(String, String)]): Column =
    patterns.foldLeft(text) { case (c, (name, re)) =>
      regexp_replace(c, lit(re), lit(s"<${name.toUpperCase}>")) }

  /** Context-window chunking — the doc → training-sample splitter: token
    * windows of `chunkTokens` with `overlap` tokens carried between
    * consecutive chunks (stride = chunkTokens − overlap). Chunk starts are
    * 0, stride, 2·stride, …; the LAST start is the first one whose window
    * reaches the end of the document, so every token is covered, short
    * documents produce exactly one chunk, and no chunk is fully contained
    * in its predecessor. Emits (id, chunk_idx, n_chunk_tokens, chunk_hash)
    * — the hash (md5 of the space-joined window) stands in for the chunk
    * text so downstream exact-dedup of chunks needs no payload column.
    *
    * Scale shape: split + per-row explode of a start-index sequence +
    * slice/array_join — narrow, no shuffle, output rows ≈ n_tokens/stride
    * per doc. The token array materializes once per row (not per chunk):
    * Spark evaluates the explode input a single time, then each output row
    * slices the same array. */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens >= 1")
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val n = size(toks).cast("long")
    // number of chunks: 1 + ceil(max(n - chunkTokens, 0) / stride); exact in
    // integer math (values ≪ 2^52 so the double floor is exact anyway, but
    // the add-before-divide form avoids fp entirely in both engines)
    val extra = greatest(n - chunkTokens, lit(0L))
    // `/` on longs is double division in Spark; floor+cast is exact here
    // (operands ≪ 2^52)
    val nChunks = lit(1L) +
      floor((extra + (stride - 1)).cast("double") / stride).cast("long")
    df.select(col(idCol).as("id"), toks.as("_toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("id"), col("chunk_idx"),
        slice(col("_toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)).as("_w"))
      .select(col("id"), col("chunk_idx"),
        size(col("_w")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("_w"), " ")).as("chunk_hash"))
  }

  /** Multinomial naive-Bayes label model, self-trained — the classic
    * quality/language classifier of the GPT-3/CCNet curation recipes
    * (a hashed-linear/fastText stand-in with a closed-form fit, so training
    * is two aggregates instead of SGD): P(class) · Π P(tok|class)^tf with
    * add-1 smoothing over the corpus vocabulary. Returns one row per doc:
    * actual label, predicted label (argmax posterior), integer posterior
    * score, and a `correct` flag — feed the aggregate of `correct` by
    * label into the curation dashboard, or use `predicted` on unlabeled
    * rows routed through the same model.
    *
    * Engine-exact argmax: each (tok, class) log-likelihood and each prior
    * is quantized to integer MICRO-NATS (`round(ln·10⁶)`) before scoring,
    * so posteriors are pure int64 sums — no float fold-order, identical
    * ties in Spark and the oracle, ties broken by class name. (Same trick
    * as the q100 correlation; magnitudes: |ln p| ≤ ~20 ⇒ 2·10⁷ micro-nats
    * × tf ≤ 10⁴ × vocab terms — comfortably inside int64.)
    *
    * Scale shape: per-doc term counts come fused from
    * [[graft.functions.TokenCounts]] (no occurrence-level rows); the model
    * is |vocab|·|classes| rows — AQE broadcasts it when small (the common
    * case: classes ≤ dozens, curated vocab ≤ millions) and the scoring join
    * stays tok-keyed otherwise; the per-doc argmax window is doc-keyed
    * (never global). Training data = scoring data here; split the DataFrame
    * upstream for a held-out fit. */
  def naiveBayesPredict(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    val scored = nbPosteriors(df, idCol, textCol, labelCol)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("post_q").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("id"), col("label"), col("cls").as("predicted"),
        col("post_q"),
        (col("cls") === col("label")).as("correct"))
  }

  /** Capped-vocabulary twin of [[naiveBayesPredict]]: multinomial NB over
    * HASHED bag-of-words features (the [[hashedFeatures]] hashing trick —
    * Weinberger et al. 2009) instead of the raw vocabulary. Tokens
    * colliding into a bucket pool their counts; smoothing is add-1 over
    * the FIXED `dim` buckets. Same output shape and integer micro-nat
    * contract as the exact model: (id, label, predicted, post_q, correct),
    * argmax ties broken by class name.
    *
    * Why it exists: the exact model's (vocab × classes) frame is the
    * catalog's one corpus-tracking index — a crawl whose vocabulary grows
    * 100× grows the model 100× with it. The hashed twin's model is
    * `dim × |classes|` — FIXED width at any corpus size, so the scoring
    * join's build side stays broadcastable at 100 TB. Accuracy trades
    * only through collisions (negligible while distinct tokens ≪ dim).
    *
    * Scale shape: per-doc bucket weights come fused from
    * [[graft.functions.TokenCounts]] + one per-row pmod (the id-keyed
    * aggregate collapses map-side); the model build is two bucket-keyed
    * aggregates over ≤ dim·|classes| rows; the dense grid is
    * `spark.range(dim)` × the class totals; scoring is a broadcast join
    * (the model is fixed-width by construction) + one doc-keyed sum. */
  def naiveBayesHashedPredict(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int = 1 << 18): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("post_q").desc, col("cls"))
    nbHashedPosteriors(df, idCol, textCol, labelCol, dim)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("id"), col("label"), col("cls").as("predicted"),
        col("post_q"),
        (col("cls") === col("label")).as("correct"))
  }

  /** The hashed twin of [[nbPosteriors]] — the (id, label, cls, post_q)
    * frame behind [[naiveBayesHashedPredict]] and
    * [[conformalSetsHashed]]: identical integer micro-nat contract, but
    * the model is the FIXED `dim × |classes|` hashed grid, so every
    * consumer inherits the flat-in-vocab scale shape. */
  private def nbHashedPosteriors(df: DataFrame, idCol: String,
      textCol: String, labelCol: String, dim: Int): DataFrame = {
    require(dim >= 2, "dim >= 2")
    val tfh = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"), col(labelCol).as("label"),
          explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
        .select(col("id"), col("label"),
          pmod(graft.functions.Hashing.stableHash(col("tc.tok")), lit(dim))
            .as("idx"),
          col("tc.tf").as("c"))
        .groupBy(col("id"), col("label"), col("idx"))
        .agg(sum("c").as("c")))
    val classIdx = tfh.groupBy(col("label").as("cls"), col("idx"))
      .agg(sum("c").as("ckt"))
    val classTotals = classIdx.groupBy("cls").agg(sum("ckt").as("ctot"))
    val docsPerClass = df.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("nd"))
    val totalDocs = df.groupBy().agg(count(lit(1)).as("ntot"))
    val priors = docsPerClass.crossJoin(totalDocs).select(col("cls"),
      round(log(col("nd").cast("double") / col("ntot")) * 1e6, 0)
        .cast("long").as("prq"))
    // dense (bucket × class) log-likelihoods — dim·|classes| rows, fixed
    val grid = df.sparkSession.range(dim).select(col("id").as("idx"))
    val model = grid.crossJoin(classTotals)
      .join(classIdx, Seq("idx", "cls"), "left")
      .select(col("idx"), col("cls"),
        round(log((coalesce(col("ckt"), lit(0L)) + 1).cast("double") /
          (col("ctot") + dim).cast("double")) * 1e6, 0)
          .cast("long").as("llq"))
    tfh.join(broadcast(model), Seq("idx"))
      .groupBy(col("id"), col("label"), col("cls"))
      .agg(sum(col("c") * col("llq")).as("ll"))
      .join(broadcast(priors), Seq("cls"))
      .select(col("id"), col("label"), col("cls"),
        (col("ll") + col("prq")).as("post_q"))
  }

  /** The shared trainer/scorer behind [[naiveBayesPredict]] and
    * [[selectiveRiskCurve]]: one row per (doc, class) with the integer
    * micro-nat posterior `post_q` — the argmax/margin consumers differ
    * only in the window they put on top. */
  private def nbPosteriors(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    // per-doc distinct-token counts, exploded once (feeds train AND score)
    val tf = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"), col(labelCol).as("label"),
          explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
        .select(col("id"), col("label"), col("tc.tok").as("tok"),
          col("tc.tf").as("c")))
    val classTok = tf.groupBy(col("label").as("cls"), col("tok"))
      .agg(sum("c").as("ckt"))
    val classTotals = classTok.groupBy("cls").agg(sum("ckt").as("ctot"))
    val vocab = tf.select("tok").distinct()
    val vocabSize = vocab.groupBy().agg(count(lit(1)).as("v"))
    val docsPerClass = df.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("nd"))
    val totalDocs = df.groupBy().agg(count(lit(1)).as("ntot"))
    val priors = docsPerClass.crossJoin(totalDocs).select(col("cls"),
      round(log(col("nd").cast("double") / col("ntot")) * 1e6, 0)
        .cast("long").as("prq"))
    // dense (vocab × class) log-likelihoods, micro-nat integers
    val model = vocab.crossJoin(classTotals).crossJoin(vocabSize)
      .join(classTok, Seq("tok", "cls"), "left")
      .select(col("tok"), col("cls"),
        round(log((coalesce(col("ckt"), lit(0L)) + 1).cast("double") /
          (col("ctot") + col("v")).cast("double")) * 1e6, 0)
          .cast("long").as("llq"))
    tf.join(model, Seq("tok"))
      .groupBy(col("id"), col("label"), col("cls"))
      .agg(sum(col("c") * col("llq")).as("ll"))
      .join(priors, Seq("cls"))
      .select(col("id"), col("label"), col("cls"),
        (col("ll") + col("prq")).as("post_q"))
  }

  /** Risk–coverage curve for selective prediction (Geifman & El-Yaniv
    * 2017) over the naive-Bayes classifier: at each confidence threshold,
    * what fraction of documents would an auto-labeler keep, and how
    * accurate is it on what it keeps? Confidence is the integer micro-nat
    * posterior MARGIN (top class minus runner-up — the standard abstention
    * score); a single-class corpus gets margin 0 by convention. One row
    * per threshold: kept count, coverage, correct-kept count, selective
    * accuracy. This is the table that picks the operating point for
    * model-assisted curation — "auto-accept above margin M, route the
    * rest to review" — the same way q90 picks a token-budget cutoff.
    *
    * Engine-exact: margins are differences of int64 micro-nat posteriors
    * (q109's quantization), so every comparison against the threshold
    * grid is integer; coverage/accuracy are single double divisions of
    * exact integers rounded to micro units.
    *
    * Scale shape: the posterior/margin stage is q109's (tok-keyed scoring
    * join + doc-keyed window); the curve is ONE pass of conditional
    * partial aggregates over the margins (2·|grid|+1 running sums,
    * map-side combined — no per-threshold scan, no sort, no join), then a
    * bounded |grid|-row explode of the single result row. */
  /** Per-doc posterior margin of the NB classifier (the standard
    * abstention score): (id, label, predicted, margin_q) where margin_q =
    * top posterior − runner-up in micro-nats (0 for a single-class
    * corpus). Shared by [[selectiveRiskCurve]] (sweep) and
    * [[labelRouting]] (bottom-margin picks). */
  private[graft] def nbMargins(df: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val scored = nbPosteriors(df, idCol, textCol, labelCol)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("post_q").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy("id")
      .agg(
        max(when(col("rn") === 1, col("post_q"))).as("p1"),
        max(when(col("rn") === 2, col("post_q"))).as("p2"),
        max(when(col("rn") === 1, col("cls"))).as("predicted"),
        max(when(col("rn") === 1, col("label"))).as("label"))
      .select(col("id"), col("label"), col("predicted"),
        (col("p1") - coalesce(col("p2"), col("p1"))).as("margin_q"))
  }

  def selectiveRiskCurve(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, thresholdsMicroNats: Seq[Long]): DataFrame = {
    require(thresholdsMicroNats.nonEmpty, "need a threshold grid")
    val margins = nbMargins(df, idCol, textCol, labelCol)
      .select(col("margin_q"),
        (col("predicted") === col("label")).as("correct"))
    val condSums = thresholdsMicroNats.flatMap { th =>
      Seq(
        sum(when(col("margin_q") >= th, 1L).otherwise(0L)).as(s"k_$th"),
        sum(when(col("margin_q") >= th && col("correct"), 1L)
          .otherwise(0L)).as(s"c_$th"))
    }
    val row = margins.agg(count(lit(1)).as("n_total"),
      condSums: _*)
    val entries = thresholdsMicroNats.map { th =>
      struct(lit(th).as("threshold_q"), col(s"k_$th").as("n_kept"),
        col(s"c_$th").as("n_correct"))
    }
    row.select(col("n_total"), explode(array(entries: _*)).as("e"))
      .select(col("e.threshold_q").as("threshold_q"), col("n_total"),
        col("e.n_kept").as("n_kept"),
        round(col("e.n_kept").cast("double") * 1e6 / col("n_total"), 0)
          .cast("long").as("coverage_micro"),
        col("e.n_correct").as("n_correct"),
        when(col("e.n_kept") === 0, 0L)
          .otherwise(round(col("e.n_correct").cast("double") * 1e6 /
            col("e.n_kept"), 0).cast("long")).as("acc_micro"))
  }

  /** Unigram distribution drift between two corpora — the crawl-over-crawl
    * (or source-vs-source) monitoring readout: the `k` tokens whose
    * probability moved most, with both corpora's counts and micro-prob
    * deltas. Trending this table per ingestion batch catches a source
    * going templated, a language mix shift, or a scraper regression long
    * before model metrics do; the drifted tokens name the culprit directly
    * (a KL number alone doesn't).
    *
    * Engine-exact: probabilities are micro-quantized per token
    * (`round(c·10⁶/total)` — one double division of exact integers, same
    * result in both engines), deltas are integer subtraction, and the
    * top-k rank orders by (|delta|, token) — no float fold anywhere.
    *
    * Scale shape: two token-keyed count aggregates (map-side combine via
    * the fused per-row [[graft.functions.TokenCounts]]) + a full outer
    * join on token + a TakeOrdered(k) — no global window, no driver data.
    */
  def unigramDriftMovers(a: DataFrame, b: DataFrame, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    def counts(df: DataFrame): DataFrame = df
      .select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum("tc.tf").as("c"))
    val ca = counts(a)
    val cb = counts(b)
    val ta = ca.groupBy().agg(sum("c").as("tot_a"))
    val tb = cb.groupBy().agg(sum("c").as("tot_b"))
    val joined = ca.withColumnRenamed("c", "c_a")
      .join(cb.withColumnRenamed("c", "c_b"), Seq("tok"), "full_outer")
      .crossJoin(ta).crossJoin(tb)
      .select(col("tok"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"),
        round(coalesce(col("c_a"), lit(0L)).cast("double") * 1000000.0 /
          col("tot_a"), 0).cast("long").as("pa_micro"),
        round(coalesce(col("c_b"), lit(0L)).cast("double") * 1000000.0 /
          col("tot_b"), 0).cast("long").as("pb_micro"))
      .withColumn("delta_micro", col("pa_micro") - col("pb_micro"))
    joined
      .orderBy(abs(col("delta_micro")).desc, col("tok"))
      .limit(k)
      .withColumn("rnk", row_number().over(Window.partitionBy(lit(0))
        .orderBy(abs(col("delta_micro")).desc, col("tok"))).cast("long"))
  }

  /** Zipf-law fit over the top-`k` vocabulary: least-squares slope and
    * intercept of ln(tf) against ln(rank). Healthy natural-language corpora
    * sit near slope ≈ −1; a much flatter slope flags templated/synthetic
    * text, a cliff flags a vocabulary dominated by boilerplate. One row out —
    * the corpus-level drift gauge a curation pipeline trends per crawl batch.
    *
    * Physical shape: [[vocabTopK]]'s aggregate (map-side combine over
    * per-row [[graft.functions.TokenCounts]]) + TakeOrdered(k), then a
    * 5-sum aggregate over k rows — nothing after the vocab cut exceeds k
    * rows, so corpus size only touches the first aggregate. Closed-form
    * slope from raw Σx/Σy/Σxy/Σx² (not covar_pop/var_pop built-ins, whose
    * one-pass co-moment update orders differ per engine — raw sums round
    * stably at 6 dp in both). */
  def zipfSlope(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val pts = vocabTopK(df, textCol, k).select(
      log(col("rnk").cast("double")).as("x"),
      log(col("tf_total").cast("double")).as("y"))
    val s = pts.agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val nd = col("n_terms").cast("double")
    val slope = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    s.select(col("n_terms"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / nd, 6).as("intercept"))
  }

  /** Top-`k` collocations by pointwise mutual information: bigrams whose
    * corpus probability beats the independence of their parts —
    * pmi = ln(p(w1,w2) / (p(w1)·p(w2))) with p from raw counts. The
    * classic phrase-mining signal (Church & Hanks 1990): high-PMI pairs
    * ("San Francisco", "machine learning") are the multi-word units a
    * tokenizer-vocabulary or stop-phrase list wants; a drift in the top
    * PMI table between crawls names new jargon/spam the unigram movers
    * (q112) can't see.
    *
    * `minCount` cuts the bigram table BEFORE any join — rare pairs
    * dominate raw PMI (a 1-count pair of two 1-count words maxes the
    * score) and dominate the table size; at web scale the cut is the
    * difference between joining |distinct bigrams| rows and a bounded
    * head. PMI rounds to integer micro-nats off exact int64 counts with
    * one canonical parenthesization, so both engines compute bit-equal
    * scores (the q109/q118 construction).
    *
    * Physical shape: two corpus passes ([[graft.functions.NgramCounts]] /
    * TokenCounts — per-doc counting inside the row, map-side combine in
    * the agg), both persisted; the totals are 1-row broadcast scalars
    * (designed BNLJ, q112 contract); the two unigram joins run on the
    * CUT bigram head against the vocab-bounded unigram table. Top-k via
    * orderBy+limit = TakeOrderedAndProject, never a full sort. */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    require(k >= 1 && minCount >= 1, "k >= 1, minCount >= 1")
    val bgc = graft.core.CacheScope.persist(df
      .select(explode(graft.functions.NgramCounts(col(textCol), 2)).as("bc"))
      .groupBy(col("bc.tok").as("bigram")).agg(sum("bc.tf").as("c12")))
    val ugc = graft.core.CacheScope.persist(df
      .select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok")).agg(sum("tc.tf").as("c")))
    val totB = bgc.agg(sum("c12").as("tot_b")) // 1-row scalars
    val totN = ugc.agg(sum("c").as("tot_n"))
    val d = (c: Column) => c.cast("double")
    bgc.where(col("c12") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(ugc.select(col("tok").as("w1"), col("c").as("c1")), "w1")
      .join(ugc.select(col("tok").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(totN).crossJoin(totB)
      .select(col("bigram"), col("c12"), col("c1"), col("c2"),
        // ONE canonical parenthesization, doubles from exact int64s —
        // mirrored verbatim in the oracle SQL so ln matches bit-for-bit;
        // floor(x·1e6 + 0.5) not round(): floor acts identically on the
        // identical double in both engines, where round() half-up rules
        // diverge (the q122 money-math lesson)
        floor(log(d(col("c12")) * d(col("tot_n")) * d(col("tot_n")) /
          (d(col("tot_b")) * d(col("c1")) * d(col("c2")))) * 1e6 + 0.5)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bigram"))
      .limit(k)
      .withColumn("rnk", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("pmi_micro").desc, col("bigram"))).cast("long"))
  }

  /** Active-learning label routing: the `perClassK` LOWEST-margin docs
    * per predicted class — the review queue that closes q179's loop
    * (q179 picks "auto-accept above margin M"; this hands the human
    * labeler exactly the docs under it, class-balanced so one confusable
    * class can't hog the annotation budget — classic uncertainty
    * sampling, Lewis & Gale 1994). Margins are [[nbMargins]]' exact
    * micro-nat integers; ties break by id.
    *
    * Scale shape: q109's posterior build, then ONE window rank per
    * predicted class cut at k — the rank-limit pushes map-side
    * (WindowGroupLimit), so only ≤ k·|classes| rows survive per
    * partition. */
  def labelRouting(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, perClassK: Int): DataFrame = {
    require(perClassK >= 1, "perClassK >= 1")
    val w = Window.partitionBy(col("predicted"))
      .orderBy(col("margin_q"), col("id"))
    nbMargins(df, idCol, textCol, labelCol)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= perClassK)
      .select(col("predicted"), col("rnk"), col("id"), col("margin_q"))
  }

  /** Split-conformal prediction sets over the naive-Bayes classifier
    * (Vovk et al. 2005; Angelopoulos & Bates 2023 recipe): calibrate a
    * nonconformity threshold on one half of the corpus, then measure, on
    * the other half, the coverage and average size of the label sets
    * {y : nonconf(x, y) ≤ τ} — the distribution-free upgrade of q179's
    * risk–coverage curve (q179 picks an operating point empirically;
    * conformal τ carries a finite-sample ≥ 1−α coverage guarantee).
    *
    * Pinned semantics (cross-engine exact):
    *   - nonconformity of label y = max over OTHER labels of post_q minus
    *     post_q(y), in micro-nats, TRUNCATED to milli-nats (`div 1000` —
    *     bounds the threshold histogram's cardinality; both engines
    *     truncate toward zero identically). A tie for the top posterior
    *     gives every tied label nonconformity 0;
    *   - τ(α) = the k-th smallest calibration nonconformity of the TRUE
    *     label, k = ⌈(n_cal+1)(1−α)⌉ (exact integer ceiling); k > n_cal
    *     → τ = ∞ (every label set is the full alphabet);
    *   - coverage/avg-set-size are truncating integer micro divisions.
    *
    * Scale shape: the data-sized stages are q109's NB posterior build
    * (tok-keyed scoring join + one doc window). The threshold comes from
    * a (milli-nat value → count) histogram cumsum — a bounded frame, same
    * contract as [[qualityGate]]'s boundary histogram — crossed with the
    * bounded α grid; the coverage pass is one conditional-sum aggregate
    * over the (doc × label) frame joined to the ≤|grid|-row threshold
    * table. No global sort, no driver collect. */
  def conformalSets(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, alphaPermille: Seq[Long],
      calSplit: Column => Column): DataFrame =
    conformalFromPosteriors(nbPosteriors(df, idCol, textCol, labelCol),
      alphaPermille, calSplit)

  /** [[conformalSets]] over the HASHED classifier ([[nbHashedPosteriors]]
    * — q201's fixed `dim × |classes|` model) instead of the exact
    * vocabulary model. Same conformal algebra, thresholds, and guarantees
    * (split-conformal coverage holds for ANY score function — Vovk's
    * validity needs only exchangeability, so hashing the features costs
    * set SIZE, never coverage); what changes is the scale shape: the
    * round-12 audit measured the exact row's second decade at 9.8×
    * because its posterior build pays the corpus-tracking vocab model —
    * this twin's model frame is fixed-width at any corpus size, so its
    * decade factors track data, not vocabulary. The exact variant stays
    * the calibration anchor. */
  def conformalSetsHashed(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, alphaPermille: Seq[Long],
      calSplit: Column => Column, dim: Int = 1 << 18): DataFrame =
    conformalFromPosteriors(
      nbHashedPosteriors(df, idCol, textCol, labelCol, dim),
      alphaPermille, calSplit)

  /** Shared conformal algebra over a (id, label, cls, post_q) posterior
    * frame — the exact and hashed classifiers feed the same nonconformity
    * / threshold / coverage path so the twins cannot drift (the
    * [[Similarity]] bitext twins' `marginFromScored` pattern). */
  private def conformalFromPosteriors(scored: DataFrame,
      alphaPermille: Seq[Long], calSplit: Column => Column): DataFrame = {
    require(alphaPermille.nonEmpty &&
      alphaPermille.forall(a => a >= 0L && a < 1000L), "alpha in [0,1000)")
    val w = Window.partitionBy(col("id"))
      .orderBy(col("post_q").desc, col("cls"))
    val withRn = scored.withColumn("rn", row_number().over(w))
    val p12 = withRn.where(col("rn") <= 2).groupBy("id")
      .agg(max(when(col("rn") === 1, col("post_q"))).as("p1"),
        max(when(col("rn") === 2, col("post_q"))).as("p2"))
    val nc = graft.core.CacheScope.persist(withRn.join(p12, Seq("id"))
      .select(col("id"), col("label"), col("cls"),
        expr("(CASE WHEN rn = 1 THEN coalesce(p2, p1) ELSE p1 END - post_q)" +
          " div 1000").as("nc_mq"),
        calSplit(col("id")).as("is_cal")))
    val calN = nc.where(col("is_cal") && col("cls") === col("label"))
      .agg(count(lit(1)).as("n_cal"))
    // bounded histogram cumsum over distinct milli-nat values (the
    // [[qualityGate]] contract; partitionBy(lit(0)) is the designed
    // bounded single-partition frame)
    val calCum = nc.where(col("is_cal") && col("cls") === col("label"))
      .groupBy("nc_mq").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.partitionBy(lit(0))
        .orderBy(col("nc_mq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grid = alphaPermille.map(a => struct(lit(a).as("alpha_permille")))
    val ks = calN.select(col("n_cal"),
        explode(array(grid: _*)).as("g"))
      .select(col("n_cal"), col("g.alpha_permille").as("alpha_permille"),
        expr("((n_cal + 1) * (1000 - alpha_permille) + 999) div 1000")
          .as("k_rank"))
    // LEFT join (not crossJoin): an empty calibration histogram must keep
    // one row per alpha with threshold_mq null — the documented
    // "k > n_cal => tau = infinity => full-alphabet sets" path
    val thr = ks.join(broadcast(calCum), lit(true), "left")
      .groupBy("alpha_permille", "n_cal", "k_rank")
      .agg(min(when(col("cum") >= col("k_rank"), col("nc_mq")))
        .as("threshold_mq"))
    val ev = nc.where(!col("is_cal"))
    ev.crossJoin(broadcast(thr)) // bounded ≤|grid|-row threshold table
      .groupBy("alpha_permille", "n_cal", "k_rank", "threshold_mq")
      .agg(
        countDistinct(col("id")).as("n_eval"),
        sum(when(col("threshold_mq").isNull ||
          col("nc_mq") <= col("threshold_mq"), 1L).otherwise(0L))
          .as("set_size_sum"),
        sum(when((col("cls") === col("label")) &&
          (col("threshold_mq").isNull ||
            col("nc_mq") <= col("threshold_mq")), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("alpha_permille"), col("n_cal"), col("k_rank"),
        col("threshold_mq"), col("n_eval"), col("n_covered"),
        expr("(n_covered * 1000000L) div n_eval").as("coverage_micro"),
        col("set_size_sum"),
        expr("(set_size_sum * 1000000L) div n_eval")
          .as("avg_set_size_micro"))
  }

  /** Tokenizer fertility per language bucket: subword tokens emitted per
    * whitespace word (the GPT-2-style [[BpePattern]] pre-tokenizer over
    * [[tokenCount]] words), the cross-lingual token-budget gauge — a
    * language at fertility 2.5 costs 2.5× the context window of one at
    * 1.0, which is exactly what [[ScaleOps.domainReweight]]'s token
    * shares need to price correctly. Integer-exact: per-doc counts are
    * int64, fertility is one floor division of exact sums.
    *
    * Scale shape: two codegen'd per-row regex/size counts in ONE scan,
    * map-side combined into a |languages|-row aggregate. Nothing else. */
  def tokenizerFertility(df: DataFrame, textCol: String,
      langCol: Column): DataFrame = {
    df.select(langCol.as("lang"),
        tokenCount(col(textCol)).cast("long").as("ws"),
        bpeTokenCount(col(textCol)).cast("long").as("bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("(bpe_tokens * 1000000L) div ws_tokens").as("fertility_micro"))
  }

  /** Heaps'-law vocabulary-growth curve: distinct-type count and cumulative
    * token count at each prefix of the corpus in ingestion-id order — the
    * "is the crawl still finding new language?" gauge (vocab that flattens
    * while tokens grow means the source is exhausted; Heaps 1978 predicts
    * V ≈ K·nᵝ, β ≈ 0.5, so log-log-linear growth is healthy).
    *
    * The order axis is the caller's id column (ingestion order); the curve
    * is evaluated at the caller's bounded `cutIds` grid, so no global sort
    * or row-numbering ever happens. A token contributes to vocab at cut c
    * iff its FIRST occurrence (min id over the corpus) is <= c — one
    * token-keyed aggregate — and the doc/token running totals are
    * conditional sums over the same grid (q179's one-pass trick:
    * 2·|grid|+1 partial aggregates, map-side combined, then a bounded
    * |grid|-row explode). All integer-exact.
    *
    * Scale shape: one [[graft.functions.TokenCounts]] corpus pass feeding
    * (a) the tok-keyed min-id shuffle (data-sized, the only real exchange)
    * and (b) a 1-row conditional-sum aggregate; the grid join is a
    * bounded-frame crossJoin of two 1-row frames. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      cutIds: Seq[Long]): DataFrame = {
    require(cutIds.nonEmpty, "need a cut grid")
    val tf = df.select(col(idCol).cast("long").as("id"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("id"), col("tc.tok").as("tok"), col("tc.tf").as("c"))
    val firstSeen = tf.groupBy("tok").agg(min("id").as("first_id"))
    val vocabSums = firstSeen.agg(
      count(lit(1)).as("v_total"),
      cutIds.map(cut => sum(when(col("first_id") <= cut, 1L).otherwise(0L))
        .as(s"v_$cut")): _*)
    val docSums = df.select(col(idCol).cast("long").as("id"),
        graft.functions.TokenCounts(col(textCol)).as("tcs"))
      .select(col("id"),
        aggregate(col("tcs"), lit(0L), (a, x) => a + x.getField("tf"))
          .as("nt"))
      .agg(count(lit(1)).as("d_total"),
        cutIds.flatMap(cut => Seq(
          sum(when(col("id") <= cut, 1L).otherwise(0L)).as(s"d_$cut"),
          sum(when(col("id") <= cut, col("nt")).otherwise(0L))
            .as(s"t_$cut"))): _*)
    val entries = cutIds.map { cut =>
      struct(lit(cut).as("cut_id"), col(s"d_$cut").as("n_docs"),
        col(s"t_$cut").as("cum_tokens"), col(s"v_$cut").as("vocab_size"))
    }
    docSums.crossJoin(vocabSums) // 1-row × 1-row (designed bounded BNLJ)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.cut_id").as("cut_id"), col("e.n_docs").as("n_docs"),
        col("e.cum_tokens").as("cum_tokens"),
        col("e.vocab_size").as("vocab_size"))
  }

  /** Frequency-threshold vocabulary curve — the "pick min_count" tool for
    * vocabulary construction: for each candidate floor f in `minCounts`,
    * the vocabulary size if types under f occurrences are dropped, the
    * token occurrences that stay covered, and the resulting OOV rate. The
    * complement of [[vocabGrowth]]'s axis: growth asks "is the crawl
    * exhausted?", this asks "where does the frequency tail stop paying
    * for itself?" (the Zipf tail means vocab shrinks ~geometrically in f
    * while coverage barely moves — the curve makes the knee visible).
    *
    * All integer-exact: per-type counts are int64 sums, coverage/OOV are
    * truncating micro divisions over exact totals.
    *
    * Scale shape: one [[graft.functions.TokenCounts]] corpus pass into a
    * tok-keyed count (the only data-sized exchange), then q179's
    * conditional-sum trick — 2·|grid|+2 partial aggregates over the
    * type-grain frame, map-side combined into ONE row, exploded to the
    * bounded |grid| output. No rank, no global sort, no per-threshold
    * rescan. */
  def vocabThresholdCurve(df: DataFrame, textCol: String,
      minCounts: Seq[Long]): DataFrame = {
    require(minCounts.nonEmpty, "need a min-count grid")
    val types = df.select(
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .groupBy(col("tc.tok").as("tok"))
      .agg(sum(col("tc.tf")).as("c"))
    val sums = types.agg(
      count(lit(1)).as("v_total"),
      sum(col("c")).as("t_total") +: minCounts.flatMap(f => Seq(
        sum(when(col("c") >= f, 1L).otherwise(0L)).as(s"v_$f"),
        sum(when(col("c") >= f, col("c")).otherwise(0L)).as(s"k_$f"))): _*)
    val entries = minCounts.map { f =>
      struct(lit(f).as("min_count"), col(s"v_$f").as("vocab_size"),
        col(s"k_$f").as("kept_tokens"))
    }
    sums.select(col("v_total"), col("t_total"),
        explode(array(entries: _*)).as("e"))
      .select(col("e.min_count").as("min_count"),
        col("e.vocab_size").as("vocab_size"), col("v_total").as("total_types"),
        col("e.kept_tokens").as("kept_tokens"),
        col("t_total").as("total_tokens"),
        expr("(e.kept_tokens * 1000000L) div t_total").as("coverage_micro"),
        expr("((t_total - e.kept_tokens) * 1000000L) div t_total")
          .as("oov_micro"))
  }
}
