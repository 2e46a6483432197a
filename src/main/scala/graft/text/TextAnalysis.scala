package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything here is built-in `Column` expressions (regexp/array
  * higher-order functions) — no UDFs — so the whole module stays inside
  * whole-stage codegen and scales linearly with executors; per-document
  * work is embarrassingly parallel with zero shuffles.
  *
  * These extend the reference's analytics surface (SURVEY.md §2.8's
  * regex/string functions) to the LLM-data-pipeline operators mandated
  * by BASELINE.json.
  */
object TextAnalysis {

  /** Lowercased alphanumeric word tokens. */
  def words(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-ish token count. */
  def tokenCount(c: Column): Column = size(words(c))

  /** BPE-ish rough tokenization: word pieces plus each punctuation mark
    * as its own token (approximates byte-pair token counts within ~15%
    * for latin text — good enough for corpus budgeting).
    */
  def roughTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Ratio of punctuation/symbol characters to all characters. */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[a-zA-Z0-9\\s]", "")).cast("double") /
      nullif(length(c), lit(0)).cast("double")

  /** English stopword list used for quality scoring (small on purpose —
    * a quality *signal*, not NLP).
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as")

  /** Ratio of stopword tokens to all tokens. */
  def stopwordRatio(c: Column): Column = {
    val ws = words(c)
    size(filter(ws, w => w.isInCollection(stopwords))).cast("double") /
      nullif(size(ws), lit(0)).cast("double")
  }

  /** Composite document-quality score in [0, 1]:
    * token volume (50%), low punctuation noise (25%), natural stopword
    * density (25%). The formula is deliberately simple and documented —
    * consumers needing a learned quality model plug their own column in.
    */
  def qualityScore(c: Column): Column = {
    val tokens = tokenCount(c).cast("double")
    val vol = least(lit(1.0), tokens / lit(100.0))
    val punct = coalesce(punctRatio(c), lit(0.0))
    val clean = lit(1.0) - least(lit(1.0), punct * lit(5.0))
    val stop = least(lit(1.0),
      coalesce(stopwordRatio(c), lit(0.0)) * lit(5.0))
    vol * lit(0.5) + clean * lit(0.25) + stop * lit(0.25)
  }

  /** Language-marker word sets for the n-gram/stopword language-ID
    * heuristic. CJK is detected by codepoint range instead.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for",
      "it", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit",
      "ein", "eine", "zu"),
    "es" -> Seq("el", "los", "las", "de", "que", "y", "en", "un",
      "una", "por"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans",
      "pour", "qui"))

  /** Per-language marker-hit score columns (count of marker tokens). */
  def langScores(c: Column): Map[String, Column] =
    langScoresFromWords(words(c), c)

  /** [[langScores]] over an ALREADY-tokenized word array — the shape
    * [[langIdStaged]] uses so the regexp tokenization runs once per
    * document, not once per language.
    */
  def langScoresFromWords(ws: Column, raw: Column): Map[String, Column] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(ws, w => w.isInCollection(markers)))
    } + ("zh" -> length(regexp_replace(raw, "[^\\u4e00-\\u9fff]", "")))

  /** Heuristic language ID: argmax of marker scores with deterministic
    * precedence zh > en > de > es > fr; all-zero → "unknown". A
    * heuristic like this is the standard first-pass filter in corpus
    * pipelines (fast, no model); precision on real text ≈ stopword
    * coverage.
    */
  def langId(c: Column): Column = {
    val s = langScores(c)
    val best = greatest(s("en"), s("de"), s("es"), s("fr"), s("zh"))
    when(best === 0, lit("unknown"))
      .when(s("zh") === best, lit("zh"))
      .when(s("en") === best, lit("en"))
      .when(s("de") === best, lit("de"))
      .when(s("es") === best, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Language-ID staged through explicit projections: the tokenization
    * is materialized ONCE as a word-array column, the per-language
    * marker counts over it are materialized as score columns, and only
    * then does the argmax CASE reference them. Semantically identical
    * to [[langId]]; at scale this is 1 regexp tokenization + 5 array
    * scans per row, where the collapsed expression tree would pay ~30
    * regexp evaluations (Catalyst keeps the stages because the aliased
    * expressions are non-cheap and multiply referenced).
    */
  def langIdStaged(
      df: DataFrame, textCol: String,
      outCol: String = "predicted"): DataFrame = {
    require(!df.columns.exists(c => c.startsWith("__s_") ||
        c == "__best" || c == "__ws"),
      "input must not have columns named __best, __ws or starting with __s_")
    val langs = Seq("en", "de", "es", "fr", "zh")
    val tokenized = df.withColumn("__ws", words(col(textCol)))
    val s = langScoresFromWords(col("__ws"), col(textCol))
    val scored = tokenized.withColumns(
      langs.map(l => s"__s_$l" -> s(l)).toMap)
    val best = greatest(langs.map(l => col(s"__s_$l")): _*)
    scored.withColumn("__best", best)
      .withColumn(outCol,
        when(col("__best") === 0, lit("unknown"))
          .when(col("__s_zh") === col("__best"), lit("zh"))
          .when(col("__s_en") === col("__best"), lit("en"))
          .when(col("__s_de") === col("__best"), lit("de"))
          .when(col("__s_es") === col("__best"), lit("es"))
          .otherwise(lit("fr")))
      .drop("__best" +: "__ws" +: langs.map(l => s"__s_$l"): _*)
  }

  /** Whole-document fingerprint: md5 of the whitespace-normalized,
    * lowercased text. Identical-content detection robust to case and
    * spacing differences.
    */
  def fingerprint(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")))

  /** Rolling-hash document sketch: the minimum md5 over the document's
    * word n-shingles (= a 1-permutation MinHash; cheap similarity-
    * preserving fingerprint for blocking). Deliberately skips
    * [[shingleArray]]'s `array_distinct`: the min is
    * duplicate-insensitive, so the distinct would be work for nothing.
    */
  def minShingleHash(c: Column, n: Int = 4): Column = {
    val ws = words(c)
    array_min(
      when(size(ws) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(ws) - lit(n)),
          i => md5(concat_ws(" ", slice(ws, i + 1, lit(n)))))))
  }

  /** Word n-shingles as an array column (distinct, in-order). */
  def shingleArray(c: Column, n: Int): Column = {
    val ws = words(c)
    array_distinct(
      when(size(ws) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(ws) - lit(n)),
          i => concat_ws(" ",
            slice(ws, i + 1, lit(n))))))
  }

  // ---------------------------------------------------------------- //
  // Normalization / redaction / n-grams                               //
  // ---------------------------------------------------------------- //

  /** Canonical text normalization for dedup keys and training corpora:
    * lowercase → strip everything but letters/digits/whitespace
    * (unicode classes, so CJK and accented text survive) → collapse
    * whitespace runs → trim. Pure expression, zero shuffle; the regex
    * classes are RE2-compatible so the same pattern reproduces in
    * other engines.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]", ""),
      "\\s+", " "))

  /** PII patterns redacted by [[redactPii]] — (regex, replacement).
    * Anchored on word boundaries, no lookaround (RE2-portable).
    * Order matters: SSN before phone so `123-45-6789` is never
    * half-eaten by a phone pattern.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>")

  /** Redact emails / SSNs / phone numbers to typed placeholder tokens —
    * the minimum-viable PII scrub a training-data pipeline runs before
    * anything else sees the text. Chained `regexp_replace` columns
    * (whole-stage codegen, embarrassingly parallel).
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }

  /** Count of redacted PII placeholder tokens in already-redacted
    * text.
    */
  def piiCount(redacted: Column): Column =
    size(regexp_extract_all(redacted, lit("<(EMAIL|PHONE|SSN)>"), lit(0)))

  /** PII incidence report: per group (source, language, …) and PII
    * type, how many documents contain it, how many matches there are
    * in total, and the affected-document fraction — the compliance
    * datasheet a pipeline publishes alongside the scrub itself
    * ([[redactPii]] removes PII; this measures where it came FROM, so
    * a source whose incidence spikes can be quarantined upstream).
    *
    * One corpus scan regardless of pattern count: every pattern is
    * counted per row in a single codegen projection (the [[piiPatterns]]
    * regexes are mutually non-overlapping — SSN is 3-2-4 digits,
    * phone 3-3-4 — so independent counts are exact); one
    * groups×patterns-sized aggregation; the per-type rows unpivot
    * from the aggregated frame (cell-sized, never the corpus).
    * `doc_frac` is a single exact-long division.
    */
  def piiIncidence(
      df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    val names = Seq("email", "ssn", "phone")
    val pats = names.zip(piiPatterns.map(_._1))
    val counted = df.select(
      groupCols.map(col) ++ pats.map { case (n, p) =>
        size(regexp_extract_all(coalesce(col(textCol), lit("")),
          lit(p), lit(0))).cast("long").as(s"__c_$n")
      }: _*)
    val agg0 = counted.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        pats.flatMap { case (n, _) =>
          Seq(sum(col(s"__c_$n")).as(s"__m_$n"),
            sum(when(col(s"__c_$n") > 0, 1L).otherwise(0L))
              .as(s"__d_$n"))
        }: _*)
    // unpivot via one explode off the aggregated row — a union of
    // per-type projections would re-plan (and re-scan) the aggregate
    // once per branch
    agg0.select(
      groupCols.map(col) ++ Seq(col("n_docs"),
        explode(array(names.map { n =>
          struct(lit(n).as("pii_type"),
            col(s"__d_$n").as("n_docs_with"),
            col(s"__m_$n").as("n_matches"))
        }: _*)).as("__t")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__t.pii_type").as("pii_type"), col("n_docs"),
        col("__t.n_docs_with").as("n_docs_with"),
        col("__t.n_matches").as("n_matches"),
        (col("__t.n_docs_with").cast("double") / col("n_docs"))
          .as("doc_frac")): _*)
  }

  /** Encoding-corruption (mojibake) signatures, the quality signal
    * the length/punct/stopword scores can't see: text that survived a
    * wrong-codec round-trip reads as plausible characters. Three
    * independent per-row counts, each a single codegen'd regex count:
    *
    *  - `U+FFFD` replacement characters — a decoder already gave up;
    *  - C1 control characters (`U+0080`–`U+009F`) — never legitimate
    *    in text, the classic windows-1252-read-as-latin-1 residue;
    *  - UTF-8-read-as-latin-1 double-decode bigrams: `Â`/`Ã`
    *    (`U+00C2`/`U+00C3` — the lead bytes of 2-byte UTF-8
    *    sequences) followed by a continuation-byte code point
    *    (`U+0080`–`U+00BF`), the "Ã©"/"Â " signature.
    *
    * Each count is an independent single scan, and the scans CAN
    * overlap on one class of characters: the `double_enc` continuation
    * range `U+0080`–`U+00BF` contains the whole C1 range, so a
    * sequence like `U+00C2 U+0085` contributes to BOTH `c1_chars` and
    * `double_enc` — per-signature totals are per-signature evidence
    * counts, not a partition of the corrupt characters (`n_flagged`,
    * which ORs the signatures per document, is unaffected). That is
    * the useful semantics: a C1 byte after a UTF-8 lead byte is
    * evidence for both diagnoses, and dropping it from either would
    * under-report that signature.
    */
  val mojibakePatterns: Seq[(String, String)] = Seq(
    "repl_chars" -> "\\uFFFD",
    "c1_chars" -> "[\\u0080-\\u009F]",
    "double_enc" -> "[\\u00C2\\u00C3][\\u0080-\\u00BF]")

  /** Per-group mojibake rollup over one corpus scan: document counts,
    * per-signature artifact totals, documents carrying ANY artifact,
    * and the affected-document fraction (exact-long division). The
    * quarantine screen to run per source/crawl before corrupt text
    * poisons a tokenizer's vocabulary.
    */
  def mojibakeReport(
      df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    val counted = df.select(
      groupCols.map(col) ++ mojibakePatterns.map { case (n, p) =>
        size(regexp_extract_all(coalesce(col(textCol), lit("")),
          lit(p), lit(0))).cast("long").as(s"__c_$n")
      }: _*)
    val anyBad = mojibakePatterns
      .map { case (n, _) => col(s"__c_$n") }.reduce(_ + _) > 0
    counted.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        (mojibakePatterns.map { case (n, _) =>
          sum(col(s"__c_$n")).as(n)
        } :+ sum(when(anyBad, 1L).otherwise(0L)).as("n_flagged")): _*)
      .withColumn("flagged_frac",
        col("n_flagged").cast("double") / col("n_docs"))
  }

  /** Adjacent word bigrams ("a b") as an array column — the n-gram
    * surface for collocation mining over a corpus. Empty array for
    * documents under two tokens.
    */
  def bigrams(c: Column): Column = {
    val ws = words(c)
    when(size(ws) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** Token-repetition quality signals (the Gopher/MassiveText-style
    * repetition filters): per document,
    *   - `n_bigrams` — total adjacent-bigram occurrences,
    *   - `dup_bigram_frac` — fraction of bigram occurrences beyond
    *     each bigram's first (1 − distinct/total; boilerplate and
    *     keyword-stuffed docs score high),
    *   - `top_bigram_frac` — the most frequent bigram's share of all
    *     occurrences (template/chorus detector).
    * Docs with < 2 tokens are absent (no bigrams to judge).
    *
    * Shape: explode + two aggregations (shuffle keyed on doc id), the
    * counting form of [[explodeShingles]]'s reasoning: the per-bigram
    * counts need a group, which `array_distinct` per row does not give.
    */
  def repetitionSignals(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol),
        explode(bigrams(col(textCol))).as("__bg"))
      .groupBy(col(idCol), col("__bg"))
      .agg(count(lit(1)).as("__n"))
    bg.groupBy(col(idCol))
      .agg(
        sum(col("__n")).as("n_bigrams"),
        round(lit(1.0) -
          count(lit(1)).cast("double") / sum(col("__n")), 4)
          .as("dup_bigram_frac"),
        round(max(col("__n")).cast("double") / sum(col("__n")), 4)
          .as("top_bigram_frac"))
  }

  /** Split each document into fixed token-window chunks with overlap —
    * the chunking pass a training/RAG pipeline runs before embedding
    * or packing. Chunk i covers words [i·stride, i·stride + window)
    * with stride = window − overlap; chunks are emitted until every
    * token is covered (the final chunk may be shorter than `window`).
    * Empty/absent texts produce no chunks.
    *
    * Output: (id, chunk_idx, n_tokens, chunk_text) — one row per
    * chunk. Pure expressions (tokenize once per document, slice per
    * chunk), zero shuffle, embarrassingly parallel.
    *
    * The chunk-start sequence is guarded to never run `sequence()`
    * downward (the inverted-bounds trap): docs with zero tokens are
    * filtered before the explode.
    */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, overlap: Int = 0): DataFrame = {
    require(window > 0, "window must be positive")
    require(overlap >= 0 && overlap < window,
      "overlap must be in [0, window)")
    require(!df.columns.exists(Set("__ws", "__t", "chunk_idx")),
      "input must not have columns named __ws, __t or chunk_idx")
    val stride = window - overlap
    val nChunks = (col("__t") - lit(window)).cast("double")
    df.select(col(idCol), words(col(textCol)).as("__ws"))
      .withColumn("__t", size(col("__ws")))
      .where(col("__t") > 0)
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(0),
          greatest(lit(0), ceil(nChunks / lit(stride)).cast("int"))))
          .as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__ws"), col("chunk_idx") * stride + 1, lit(window))
          .as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** Content-defined chunking — the insertion-robust chunking dedup
    * storage and incremental pipelines use instead of fixed windows:
    * a chunk boundary falls AFTER token position j whenever the
    * rolling hash of the k-gram ending at j satisfies
    * `hash(k-gram) mod targetTokens == 0`, so boundaries are a pure
    * function of LOCAL content. Insert or delete a sentence and only
    * the chunks touching the edit change — every other chunk (and its
    * md5) is byte-identical, which is what makes chunk-level dedup
    * against a previous snapshot work. Fixed-window chunking shifts
    * every subsequent boundary instead. Expected chunk length is
    * ~`targetTokens` (geometric); the final tail is always emitted;
    * a boundary at the document's last token is ignored (no empty
    * tail chunk). Empty/absent texts produce no chunks.
    *
    * The boundary hash is the engine-portable md5-prefix integer (the
    * sampling family's construction): first 8 hex chars of
    * md5(space-joined k-gram) as an unsigned 32-bit value. Output:
    * (id, chunk_idx, n_tokens, chunk_text). Pure expressions —
    * tokenize once, one md5 per position, slice per chunk; zero
    * shuffle.
    */
  def chunkByContent(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, targetTokens: Int = 64): DataFrame = {
    require(k >= 1, "k must be positive")
    require(targetTokens >= 2, "targetTokens must be at least 2")
    val reserved = Set("__ws", "__bs", "__ss", "__es", "chunk_idx",
      "__c")
    require(!df.columns.exists(reserved),
      s"input must not have columns named ${reserved.mkString(", ")}")
    val ws = col("__ws")
    val n = size(ws)
    def kgramHash(i: Column) = pmod(
      conv(substring(md5(array_join(
        slice(ws, i - lit(k) + lit(2), lit(k)), " ")), 1, 8), 16, 10)
        .cast("long"),
      lit(targetTokens.toLong))
    // 0-based positions whose ending k-gram hashes to the boundary
    // class; the last position is excluded (no empty tail), and docs
    // shorter than k simply have no interior boundaries
    val bounds = when(n >= k + 1,
        filter(sequence(lit(k - 1), n - 2), i => kgramHash(i) === 0L))
      .otherwise(array().cast("array<int>"))
    df.select(col(idCol), words(col(textCol)).as("__ws"))
      .where(size(ws) > 0)
      .withColumn("__bs", bounds)
      .withColumn("__ss",
        concat(array(lit(0)), transform(col("__bs"), b => b + 1)))
      .withColumn("__es", concat(col("__bs"), array(n - 1)))
      .select(col(idCol),
        posexplode(zip_with(col("__ss"), col("__es"), (s, e) =>
          struct((e - s + 1).as("nt"),
            array_join(slice(ws, s + 1, e - s + 1), " ").as("txt"))))
          .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.nt").cast("long").as("n_tokens"),
        col("__c.txt").as("chunk_text"))
  }

  /** Explode a document table into (id, shingle) rows, one row per
    * shingle POSITION — duplicates per document possible. Pure
    * projection + generate: no shuffle, stays in whole-stage codegen.
    * The input shape for consumers that de-duplicate later anyway
    * (e.g. inside an aggregate, where distinctness is free) — at
    * corpus scale the `.distinct()` of [[explodeShingles]] is a
    * corpus-sized exchange, so prefer this form whenever the plan can
    * absorb duplicates downstream.
    */
  def explodeShinglesRaw(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val withWords = df
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .where(size(col("__ws")) >= n)
    withWords
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(0), size(col("__ws")) - n)).as("__i"))
      .select(col(idCol), concat_ws(" ",
        (0 until n).map(j => element_at(col("__ws"), col("__i") + j + 1)): _*)
        .as("shingle"))
  }

  /** Explode a document table into (id, shingle) rows — the input shape
    * for inverted-index joins and MinHash. One row per DISTINCT shingle
    * per document (one shuffle).
    *
    * Not `explode(array_distinct(shingleArray(...)))`, which needs no
    * shuffle: here the shingle assembly (`element_at` + `concat_ws`)
    * stays inside whole-stage codegen and the dedup is one shuffle of
    * narrow rows. `array_distinct` on strings is a per-row hash set in
    * Spark 4.1, linear in k (~0.2 µs per element at k = 4 000 and
    * 16 000, one core of a 4-vCPU VM), but it and the lambda that
    * assembles the shingles run interpreted; which form is cheaper at
    * corpus scale has not been measured.
    */
  def explodeShingles(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    explodeShinglesRaw(df, idCol, textCol, n).distinct()

  /** Vocabulary coverage curve — the tokenizer-training prep question
    * "how many vocabulary entries cover X % of corpus tokens": the
    * `k` most frequent words with rank, count, and the cumulative
    * fraction of ALL corpus tokens the vocabulary covers up to that
    * rank. Ties break alphabetically so the curve is deterministic.
    *
    * Scale: one explode + one word-keyed aggregation reduce the corpus
    * to vocabulary-sized counts (map-side partial aggregation absorbs
    * Zipf skew — `the` pre-aggregates per partition before the
    * shuffle). The counts table is persisted because two consumers
    * read it (top-k and the total); the top-k plans as
    * TakeOrderedAndProject and the running sum windows over only the
    * k surviving rows, so the single-partition window is k-sized, not
    * vocabulary-sized.
    */
  def vocabCoverage(
      df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val counts = df
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .transform(graft.core.CacheScope.disk)
    val total = counts.agg(sum("cnt").as("__total"))
    val order = Seq(col("cnt").desc, col("word").asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    counts.orderBy(order: _*).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("cum_frac",
        round(sum("cnt").over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
          .cast("double") / col("__total"), 6))
      .select(col("rank"), col("word"), col("cnt"), col("cum_frac"))
  }

  /** Train a Lidstone-smoothed unigram language model over a corpus:
    * one row per vocabulary word with `logp` = ln((c_w + α)/(N +
    * α·(V+1))), plus a constant `unseen_logp` column (the α-mass
    * reserved for out-of-vocabulary words) so the frame is a
    * self-contained model — [[unigramLmScore]] needs no side channel.
    * The published CCNet-style quality signal uses a KenLM perplexity;
    * a unigram LM is its dependency-free form — same shape (mean token
    * log-probability), same use (rank documents by distributional
    * typicality, cut the tail).
    *
    * Scale: one explode + one (word) aggregation; the two scalars
    * (N, V) ride a broadcast one-row cross join, never a collect.
    */
  def unigramLm(
      df: DataFrame, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val counts = df
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      sum("n").as("__N"), count(lit(1)).as("__V"))
    counts.crossJoin(broadcast(totals))
      .select(col("word"), col("n"),
        log((col("n") + lit(alpha)) /
          (col("__N") + lit(alpha) * (col("__V") + 1))).as("logp"),
        log(lit(alpha) /
          (col("__N") + lit(alpha) * (col("__V") + 1)))
          .as("unseen_logp"))
  }

  /** Score documents against a trained [[unigramLm]]: mean token
    * log-probability (higher = more typical of the training corpus),
    * the CCNet-style quality/outlier signal. Out-of-vocabulary tokens
    * score at the model's `unseen_logp`; zero-token documents survive
    * with n_tokens 0 and a null score (filterable, never dropped).
    *
    * Scale shape: tokens aggregate to (doc, word, count) BEFORE the
    * vocabulary join — per-doc distinct words join the model, not
    * per-occurrence rows — and the weighted mean is one (doc)
    * aggregation. Stopword-heavy vocabularies skew the join key; the
    * (doc, word) pre-aggregation bounds each hot word to one row per
    * containing document.
    */
  def unigramLmScore(
      df: DataFrame, idCol: String, textCol: String,
      lm: DataFrame): DataFrame = {
    val unseen = broadcast(lm.agg(first("unseen_logp").as("__unseen")))
    val docWords = df
      .select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(idCol, "word").agg(count(lit(1)).as("__c"))
    val scored = docWords
      .join(lm.select("word", "logp"), Seq("word"), "left")
      .crossJoin(unseen)
      .groupBy(idCol)
      .agg(sum("__c").as("n_tokens"),
        (sum(col("__c") * coalesce(col("logp"), col("__unseen"))) /
          sum("__c")).as("lm_score"))
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("lm_score"))
  }

  /** Self-trained BIGRAM language-model scoring with Jelinek-Mercer
    * interpolation — the next distributional-typicality signal above
    * [[unigramLmScoreSelf]]: word-salad documents with a typical
    * unigram mix but implausible word ORDER score low, because
    *   P(w₂ | w₁) = λ · c(w₁w₂)/c(w₁·) + (1 − λ) · P_uni(w₂)
    * and the ML bigram term collapses for never-adjacent pairs.
    * Per document: (n_bigrams, mean over bigram positions of
    * ln P(w₂ | w₁)). Docs under 2 tokens carry null score, never
    * dropped. P_uni is the [[unigramLm]] Lidstone form.
    *
    * λ defaults to 0.75 — DYADIC on purpose: λ and 1 − λ are then
    * both exact binary doubles, so any engine writing the literals
    * computes bit-identical interpolation weights (1 − 0.7 is NOT
    * 0.3 in binary; the q131 EWMA argument).
    *
    * Scale shape mirrors [[unigramLmScore]]: per-doc (doc, bigram)
    * counts pre-aggregate BEFORE the model joins (a hot bigram is
    * one row per containing doc), the corpus bigram/left-context
    * models re-aggregate from that same persisted frame (no second
    * corpus scan of bigrams), and the weighted mean is one doc
    * aggregation. All model probabilities are count ratios — no
    * log-sum-exp, no order-dependent products.
    */
  def bigramLmScoreSelf(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75, alpha: Double = 0.5): DataFrame = {
    require(lambda > 0 && lambda <= 1, "lambda must be in (0, 1]")
    require(alpha > 0, "alpha must be positive")
    val bg = df
      .select(col(idCol), explode(bigrams(col(textCol))).as("__bg"))
      .groupBy(col(idCol), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .transform(graft.core.CacheScope.disk)
    val bc = bg.groupBy("__bg").agg(sum("__c").as("__n"))
      .withColumn("__l", substring_index(col("__bg"), " ", 1))
      .transform(graft.core.CacheScope.disk)
    val lc = bc.groupBy("__l").agg(sum("__n").as("__nl"))
    val wcnt = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__cw"))
    val totals = wcnt.agg(sum("__cw").as("__N"), count(lit(1)).as("__V"))
    val puni = wcnt.crossJoin(broadcast(totals))
      .select(col("w").as("__r"),
        ((col("__cw") + lit(alpha)) /
          (col("__N") + lit(alpha) * (col("__V") + 1))).as("__pu"))
    val scored = bg
      .join(bc.select("__bg", "__n", "__l"), Seq("__bg"))
      .join(lc, Seq("__l"))
      .withColumn("__r", substring_index(col("__bg"), " ", -1))
      .join(puni, Seq("__r"))
      .withColumn("__p",
        lit(lambda) * (col("__n").cast("double") / col("__nl")) +
          lit(1.0 - lambda) * col("__pu"))
      .groupBy(col(idCol))
      .agg(sum("__c").as("n_bigrams"),
        (sum(col("__c") * log(col("__p"))) / sum("__c"))
          .as("bigram_lm_score"))
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bigram_lm_score"))
  }

  /** [[unigramLm]] + [[unigramLmScore]] on the same corpus — the
    * self-scoring form the quality-floor pipeline uses.
    */
  def unigramLmScoreSelf(
      df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame =
    unigramLmScore(df, idCol, textCol,
      unigramLm(df, textCol, alpha)
        .transform(graft.core.CacheScope.disk))

  /** Collapse runs of consecutively repeated tokens to at most
    * `maxRun` copies — the elongation/stutter cleanup pass ("batch
    * batch batch" → "batch") that repetition-heavy web text needs
    * before token budgeting; [[repetitionSignals]] MEASURES this
    * pathology, this operator REMOVES it. Tokens are [[words]]
    * (lowercased alphanumeric runs); output text is the surviving
    * tokens space-joined.
    *
    * A token survives if it is among the first `maxRun` of its run:
    * position < maxRun, or some one of the `maxRun` immediately
    * preceding tokens differs. Keep-decisions depend only on a
    * bounded backward slice, so the whole pass is per-row array
    * expressions — zero shuffle, embarrassingly parallel, inside
    * whole-stage projection.
    *
    * Output: (id, text, n_tokens, n_removed) — `n_tokens` the
    * post-collapse count.
    */
  def collapseRepeats(
      df: DataFrame, idCol: String, textCol: String,
      maxRun: Int = 1): DataFrame = {
    require(maxRun >= 1, "maxRun must be >= 1")
    val ws = words(coalesce(col(textCol), lit("")))
    // Or does not short-circuit in codegen: clamp the slice start so
    // the i < maxRun rows (whose slice result is irrelevant) never
    // feed slice() a non-positive index
    val kept = filter(ws, (x, i) =>
      i < maxRun ||
        exists(slice(ws, greatest(lit(1), i - maxRun + 1), lit(maxRun)),
          y => y =!= x))
    // evaluate the lambda ONCE: reusing a higher-order-function Column
    // across several select expressions mis-binds the captured outer
    // lambda variable in some copies
    df.select(col(idCol), size(ws).as("__nw"), kept.as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as(textCol),
        size(col("__kept")).cast("long").as("n_tokens"),
        (col("__nw") - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** FUSED corpus-quality pass: [[collapseRepeats]] cleanup,
    * [[repetitionSignals]], and self-trained [[unigramLmScore]]
    * ([[unigramLmScoreSelf]]) over ONE scan of the input — the three
    * share tokenization, and running them separately scans and
    * re-tokenizes the corpus three times. Output per document:
    * (id, text — collapsed, n_tokens — post-collapse, n_removed,
    * n_bigrams, dup_bigram_frac, top_bigram_frac, lm_score), equal
    * column-for-column to collapseRepeats LEFT JOIN repetitionSignals
    * LEFT JOIN unigramLmScoreSelf (signals measure the ORIGINAL text;
    * docs under 2 tokens carry null bigram signals, zero-token docs a
    * null lm_score — filterable, never dropped; spec-pinned).
    *
    * Scale shape: one projection tokenizes each document once and
    * computes the collapse per-row (bounded backward slice, no
    * shuffle); ONE explode emits both word and bigram occurrences as
    * (kind, token) rows, and ONE map-side-combined
    * (id, kind, token) count aggregation feeds everything downstream
    * — bigram doc-signals (kind 1), per-doc word counts (kind 0),
    * AND the corpus-wide LM vocabulary (re-aggregated from the same
    * frame, never re-scanning the corpus). The persisted frames are
    * token-count tables (corpus-proportional, the price of fusion);
    * every aggregation state is a counter, never a list.
    *
    * `withBigramLm = true` adds [[bigramLmScoreSelf]]'s Jelinek-Mercer
    * `bigram_lm_score` as a fourth fused output — its corpus bigram
    * model and left-context totals RE-AGGREGATE from the same
    * (id, kind, token) count frame (kind 1), and its unigram backoff
    * shares the LM vocabulary already built for `lm_score`, so the
    * fourth signal costs two count-table aggregations and zero extra
    * corpus scans. Off by default: the three-signal plan stays
    * byte-identical for existing callers.
    */
  def qualityPass(
      df: DataFrame, idCol: String, textCol: String,
      maxRun: Int = 1, alpha: Double = 0.5,
      withBigramLm: Boolean = false,
      lambda: Double = 0.75): DataFrame = {
    require(maxRun >= 1, "maxRun must be >= 1")
    require(alpha > 0, "alpha must be positive")
    require(lambda > 0 && lambda <= 1, "lambda must be in (0, 1]")
    val reserved = Set("__ws", "__kept", "__nw", "__k", "__tok", "__c")
    require(!df.columns.exists(reserved),
      s"input must not have columns named ${reserved.mkString(", ")}")
    val ws = words(coalesce(col(textCol), lit("")))
    // cache ONLY the token arrays — everything else (sizes, the
    // collapse, bigrams) recomputes from the cached column with cheap
    // per-row expressions, keeping the cached footprint to one string
    // array per document instead of three derived columns
    val base = df
      .select(col(idCol), ws.as("__ws"))
      .transform(graft.core.CacheScope.disk)
    val wsB = col("__ws")
    val kept = filter(wsB, (x, i) =>
      i < maxRun ||
        exists(slice(wsB, greatest(lit(1), i - maxRun + 1), lit(maxRun)),
          y => y =!= x))
    // bigrams from the SAME token array ([[bigrams]] shape, minus the
    // second tokenization); docs under 2 tokens emit nothing
    val wsC = col("__ws")
    val bgs = when(size(wsC) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(wsC, lit(1), size(wsC) - 1),
        slice(wsC, lit(2), size(wsC) - 1),
        (a, b) => concat(a, lit(" "), b)))
    val counts = base
      .select(col(idCol), explode(concat(
        transform(wsC, w => struct(lit(0).as("__k"), w.as("__tok"))),
        transform(bgs, b => struct(lit(1).as("__k"), b.as("__tok")))))
        .as("__t"))
      .select(col(idCol), col("__t.__k").as("__k"),
        col("__t.__tok").as("__tok"))
      .groupBy(col(idCol), col("__k"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .transform(graft.core.CacheScope.disk)
    // repetition signals ([[repetitionSignals]]'s aggregation, verbatim)
    val sigs = counts.where(col("__k") === 1)
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_bigrams"),
        round(lit(1.0) -
          count(lit(1)).cast("double") / sum(col("__c")), 4)
          .as("dup_bigram_frac"),
        round(max(col("__c")).cast("double") / sum(col("__c")), 4)
          .as("top_bigram_frac"))
    // LM vocabulary from the SAME count frame ([[unigramLm]]'s math:
    // corpus word count = sum of per-doc counts)
    val wc = counts.where(col("__k") === 0)
      .select(col(idCol), col("__tok").as("word"), col("__c"))
    val lmCounts = wc.groupBy("word").agg(sum("__c").as("n"))
    val totals = lmCounts.agg(sum("n").as("__N"), count(lit(1)).as("__V"))
    val denom = col("__N") + lit(alpha) * (col("__V") + 1)
    val lm = lmCounts.crossJoin(broadcast(totals))
      .select(col("word"), log((col("n") + lit(alpha)) / denom).as("logp"))
    val unseen = broadcast(totals
      .select(log(lit(alpha) / denom).as("__unseen")))
    val scored = wc
      .join(lm, Seq("word"), "left")
      .crossJoin(unseen)
      .groupBy(col(idCol))
      .agg((sum(col("__c") * coalesce(col("logp"), col("__unseen"))) /
        sum(col("__c"))).as("lm_score"))
    val out = base
      .select(col(idCol), size(wsB).as("__nw"), kept.as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as(textCol),
        size(col("__kept")).cast("long").as("n_tokens"),
        (col("__nw") - size(col("__kept"))).cast("long").as("n_removed"))
      .join(sigs, Seq(idCol), "left")
      .join(scored, Seq(idCol), "left")
    if (!withBigramLm) out
    else {
      // [[bigramLmScoreSelf]]'s model, re-aggregated from the shared
      // count frame: per-doc bigram counts are the kind-1 rows, the
      // corpus bigram/left-context models fold from them, and the
      // unigram backoff reuses lmCounts + totals (raw ratio, same
      // denominator as logp)
      val dbg = counts.where(col("__k") === 1)
        .select(col(idCol), col("__tok").as("__bg"), col("__c"))
      val bc = dbg.groupBy("__bg").agg(sum("__c").as("__n"))
        .withColumn("__l", substring_index(col("__bg"), " ", 1))
      val lc = bc.groupBy("__l").agg(sum("__n").as("__nl"))
      val puni = lmCounts.crossJoin(broadcast(totals))
        .select(col("word").as("__r"),
          ((col("n") + lit(alpha)) / denom).as("__pu"))
      val bscored = dbg
        .join(bc, Seq("__bg"))
        .join(lc, Seq("__l"))
        .withColumn("__r", substring_index(col("__bg"), " ", -1))
        .join(puni, Seq("__r"))
        .withColumn("__p",
          lit(lambda) * (col("__n").cast("double") / col("__nl")) +
            lit(1.0 - lambda) * col("__pu"))
        .groupBy(col(idCol))
        .agg((sum(col("__c") * log(col("__p"))) / sum(col("__c")))
          .as("bigram_lm_score"))
      out.join(bscored, Seq(idCol), "left")
    }
  }

  /** Incrementally-maintainable corpus datasheet, shard side: per
    * (group cols × shard) — n_docs, sum_tokens, and a MERGEABLE
    * DataSketches-HLL sketch of the vocabulary. Shard datasheets are
    * built independently (one per ingest batch) and combined by
    * [[mergeDatasheets]] with sum + sketch-union — the 100 TB
    * maintenance shape: the corpus datasheet updates per append
    * without rescanning history, because every statistic is additive
    * or a mergeable sketch (exact distinct counts are neither).
    */
  def datasheetShards(
      df: DataFrame, idCol: String, textCol: String,
      groupCols: Seq[String], shard: Column): DataFrame = {
    val toks = df.select(
      (groupCols.map(col) :+ shard.as("__shard")) ++
        Seq(col(idCol), explode_outer(words(coalesce(col(textCol),
          lit("")))).as("__w")): _*)
    toks.groupBy((groupCols.map(col) :+ col("__shard")): _*)
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(col("__w")).as("sum_tokens"),
        hll_sketch_agg(col("__w")).as("vocab_sketch"))
  }

  /** Merge shard datasheets ([[datasheetShards]]) to the per-group
    * datasheet: counts add, vocabulary sketches union —
    * order-independent and associative, so any merge tree (per-batch,
    * per-region, per-day) lands on the same registers.
    * Output: (group cols, n_docs, sum_tokens, vocab_estimate).
    */
  def mergeDatasheets(
      shards: DataFrame, groupCols: Seq[String]): DataFrame =
    shards.groupBy(groupCols.map(col): _*)
      .agg(sum("n_docs").as("n_docs"),
        sum("sum_tokens").as("sum_tokens"),
        hll_sketch_estimate(hll_union_agg(col("vocab_sketch")))
          .as("vocab_estimate"))

  /** Sketch-PRESERVING shard compaction: many shard rows per group
    * collapse to one, counts summed and vocabulary sketches unioned —
    * the output is again a valid [[datasheetShards]] frame (same
    * schema, `__shard` = `shardId`), so compaction composes with
    * further appends and merges under the same algebra.
    * [[mergeDatasheets]] finalizes to an estimate; this keeps the
    * sketch alive for future unions.
    */
  def compactDatasheetShards(
      shards: DataFrame, groupCols: Seq[String],
      shardId: Long): DataFrame =
    shards.groupBy(groupCols.map(col): _*)
      .agg(sum("n_docs").as("n_docs"),
        sum("sum_tokens").as("sum_tokens"),
        hll_union_agg(col("vocab_sketch")).as("vocab_sketch"))
      .select(groupCols.map(col) ++ Seq(
        lit(shardId).as("__shard"), col("n_docs"), col("sum_tokens"),
        col("vocab_sketch")): _*)

  /** Distributed BPE vocabulary induction — the merge-table trainer a
    * tokenizer pipeline runs over its corpus (Sennrich et al.'s
    * byte-pair encoding, word-internal): start from characters, then
    * `merges` times (1) count adjacent symbol pairs corpus-wide,
    * frequency-weighted, (2) pick the most frequent pair (count DESC,
    * then lexicographic (lhs, rhs) — a deterministic total order),
    * (3) greedily merge its non-overlapping left-to-right occurrences
    * inside every word. Output: the merge table
    * (step, lhs, rhs, merged, pair_count) — the artifact a tokenizer
    * ships; `tokenCountBpeish` stays the cheap per-doc counter.
    *
    * Scale shape: training runs over the DISTINCT-word frequency
    * table (vocabulary-sized, not corpus-sized — the classic BPE
    * formulation), so per-iteration work is one map-side-combined
    * pair-count aggregation over the vocabulary plus a pure per-row
    * merge expression (an `aggregate` fold over the symbol array —
    * greedy left-to-right, no shuffle). The only driver transfer is
    * ONE row per iteration (the argmax pair via orderBy.limit(1) —
    * TakeOrdered, never a full sort); `localCheckpoint` after each
    * merge keeps the loop's lineage flat. `merges` is a small
    * constant (a real tokenizer build runs tens of thousands of
    * merges — same loop, same per-iteration cost).
    */
  /** One greedy left-to-right BPE merge over a symbol array: adjacent
    * (l, r) becomes l+r, non-overlapping, earliest first — a pure
    * `aggregate` fold, no shuffle.
    */
  private def mergeSyms(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  def bpeTrainMerges(
      df: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, "merges must be positive")
    val spark = df.sparkSession
    val pairsOf = (syms: Column) =>
      when(size(syms) < 2, array().cast("array<struct<l:string,r:string>>"))
        .otherwise(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("l"), b.as("r"))))
    var cur = df
      .select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), split(col("w"), "").as("syms"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val top = cur
        .select(col("freq"), explode(pairsOf(col("syms"))).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((step, l, r, l + r, c))
        val next = cur
          .select(col("freq"), mergeSyms(col("syms"), l, r).as("syms"))
          .localCheckpoint(true)
        cur.unpersist()
        cur = next
        step += 1
      }
    }
    cur.unpersist()
    import spark.implicits._
    out.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  /** Apply a trained BPE merge table ([[bpeTrainMerges]]'s (lhs, rhs)
    * rows, IN STEP ORDER) and count the resulting tokens per
    * document — the corpus-budgeting pass run with the REAL tokenizer
    * rather than the `tokenCountBpeish` approximation. Pure per-row
    * expressions: each word's char sequence folds through the merge
    * list (greedy left-to-right per merge, the standard apply order);
    * zero shuffle, embarrassingly parallel. Documents with no tokens
    * survive with zeros. Output: (id, n_words, n_tokens_bpe).
    *
    * The merge list is expression-composed, so it suits the
    * bounded-merge audits this engine runs (tens of merges); a full
    * production vocabulary (tens of thousands of merges) would
    * broadcast the rank table and apply it in one `mapPartitions`
    * pass instead — same semantics, documented trade.
    */
  def bpeTokenCounts(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ws = words(coalesce(col(textCol), lit("")))
    val perWord = transform(ws, w =>
      size(merges.foldLeft(split(w, ""): Column) {
        case (c, (l, r)) => mergeSyms(c, l, r)
      }))
    df.select(col(idCol), size(ws).cast("long").as("n_words"),
      coalesce(aggregate(perWord, lit(0L), (acc, x) => acc + x), lit(0L))
        .as("n_tokens_bpe"))
  }

  /** PRODUCTION BPE apply — same semantics as [[bpeTokenCounts]]
    * (greedy left-to-right merge passes IN STEP ORDER over each
    * word's character symbols), but the merge table ships as a
    * broadcast (pair → rank) hash map and the whole application runs
    * in ONE `mapPartitions` pass, so the PLAN is constant-size in the
    * vocabulary: a real 32k-merge tokenizer applies with the same
    * two-node plan as an 8-merge audit, where the expression-composed
    * path nests one `aggregate` fold per merge and blows up codegen
    * at tens of merges. Zero shuffle; embarrassingly parallel.
    *
    * Step-order fidelity (the subtle part): per word we repeatedly
    * take the MINIMUM-rank adjacent pair whose rank is ≥ a monotone
    * floor, run one greedy left-to-right non-overlapping pass for it,
    * and raise the floor past it. The floor is what makes this
    * exactly the sequential fold, not just "standard rank-priority":
    * merging a rank-k pair can create an adjacency whose pair sits
    * EARLIER in the table (two derivations yielding the same symbol
    * string), and the sequential pass for that earlier step has
    * already happened — the floor skips it, where floor-less
    * rank-priority would wrongly merge it. All ranks in `[floor,
    * chosen]` are provably absent at the current state, so skipping
    * them matches the no-op passes of the fold. Per-word cost is
    * O(applied merges × |word|), independent of table size; a
    * per-partition memo on the word string collapses repeated words
    * (Zipf: the bulk of corpus tokens) to one computation each.
    *
    * Output: (id, n_words, n_tokens_bpe) — identical to
    * [[bpeTokenCounts]], spec-pinned row-for-row on trained tables.
    * `merges` must be duplicate-free (trained tables always are; a
    * repeated pair would need one rank per occurrence).
    */
  def bpeTokenCountsFast(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.distinct.size == merges.size,
      "merge table must not contain duplicate pairs")
    val spark = df.sparkSession
    val prepped = df.select(col(idCol),
      words(coalesce(col(textCol), lit(""))).as("__ws"))
    val outSchema = StructType(Seq(prepped.schema.fields(0),
      StructField("n_words", LongType, nullable = false),
      StructField("n_tokens_bpe", LongType, nullable = false)))
    val bcPairs = spark.sparkContext.broadcast(merges.toArray)
    prepped.mapPartitions { it =>
      val pairs = bcPairs.value
      // NUL-joined key: `words` symbols are [a-z0-9]+ concatenations,
      // so NUL (\\u0000) never appears and the key is collision-free.
      val ranks = new java.util.HashMap[String, Integer](pairs.length * 2)
      var i = 0
      while (i < pairs.length) {
        ranks.put(pairs(i)._1 + "\u0000" + pairs(i)._2, i)
        i += 1
      }
      val memo = new java.util.HashMap[String, java.lang.Long]()
      def countWord(w: String): Long = {
        val cached = memo.get(w)
        if (cached != null) return cached.longValue()
        var syms = new Array[String](w.length)
        var k = 0
        while (k < w.length) { syms(k) = String.valueOf(w.charAt(k)); k += 1 }
        var n = syms.length
        var floor = 0
        var done = n < 2
        while (!done) {
          var best = -1
          var j = 0
          while (j < n - 1) {
            val r = ranks.get(syms(j) + "\u0000" + syms(j + 1))
            if (r != null && r >= floor && (best == -1 || r < best))
              best = r
            j += 1
          }
          if (best == -1) done = true
          else {
            val (l, rgt) = pairs(best)
            val out = new Array[String](n)
            var o = 0
            var p = 0
            while (p < n) {
              if (o > 0 && out(o - 1) == l && syms(p) == rgt)
                out(o - 1) = l + rgt
              else { out(o) = syms(p); o += 1 }
              p += 1
            }
            syms = out
            n = o
            floor = best + 1
            if (n < 2) done = true
          }
        }
        // Zipf memo: bound the map so a pathological all-unique-words
        // partition cannot grow driver-of-OOM state.
        if (memo.size < (1 << 17)) memo.put(w, n.toLong)
        n.toLong
      }
      it.map { row =>
        val ws = row.getSeq[String](1)
        var total = 0L
        val iter = ws.iterator
        while (iter.hasNext) total += countWord(iter.next())
        Row(row.get(0), ws.size.toLong, total)
      }
    }(Encoders.row(outSchema))
  }

  /** Locate each document's WORST token span — the sliding window of
    * `window` tokens containing the most RARE tokens (corpus
    * frequency ≤ `maxFreq`): the garbage-span detector that finds the
    * base64 blob, mojibake run, or pasted minified code inside an
    * otherwise-clean document, where whole-document quality scores
    * dilute the signal below any filter threshold. Documents shorter
    * than the window score their single full span; zero-token
    * documents survive with nulls. Output: (id, n_tokens,
    * worst_start — 0-based, first on ties, rare_in_window).
    *
    * Determinism by construction: the window statistic is an INTEGER
    * count (sum of 0/1 flags over a bounded ROWS frame), so engines
    * agree bit-for-bit and the (count DESC, start ASC) tie-break is
    * total — a float log-prob span score would tie on repeated
    * boilerplate exactly where segment-tree vs sequential window
    * summation diverge in the last ulp. Scale shape: corpus frequency
    * is one map-side-combined count; tokens join it pre-aggregated
    * per (doc, word) is unnecessary — the rare flag rides the
    * exploded row; one key shuffle + one bounded-frame window sort
    * per document; the argmax is a min-struct aggregate, no second
    * window.
    */
  def rareTokenSpans(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, maxFreq: Long): DataFrame = {
    require(window >= 1, "window must be positive")
    val wcnt = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__cw"))
    val toks = df.select(col(idCol),
        posexplode(words(coalesce(col(textCol), lit(""))))
          .as(Seq("pos", "w")))
      .join(wcnt, Seq("w"))
      .select(col(idCol), col("pos"),
        when(col("__cw") <= maxFreq, lit(1L)).otherwise(lit(0L))
          .as("__rare"))
    val fr = Window.partitionBy(idCol).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val cw = Window.partitionBy(idCol)
    val spans = toks
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("__rw", sum(col("__rare")).over(fr))
      .where(col("pos") <= col("__n") - window || col("pos") === 0)
    spans.groupBy(col(idCol))
      .agg(max(col("__n")).as("n_tokens"),
        min(struct((-col("__rw")).as("__neg"), col("pos").as("pos")))
          .as("__b"))
      .select(col(idCol), col("n_tokens"),
        col("__b.pos").as("worst_start"),
        (-col("__b.__neg")).as("rare_in_window"))
      .transform(out => df.select(col(idCol)).distinct()
        .join(out, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          col("worst_start"), col("rare_in_window")))
  }

  /** Remove duplicated lines WITHIN each document, keeping the first
    * occurrence in order — the MassiveText/Gopher intra-document
    * repetition filter (repeated nav bars, footers, chorus lines) at
    * line granularity; cross-document dedup is the Dedup family's
    * job. Lines split on `sep`; the surviving lines re-join with the
    * same separator.
    *
    * A line survives iff its index is the line's FIRST index in the
    * document (`array_position` on the prefix) — order-preserving
    * keep-first, the survivorship every published cleanup uses.
    * Per-row array expressions only: O(L²) token compares per doc in
    * the worst case, but L is lines-per-document (tens), not corpus
    * size — zero shuffle, no state, linear in documents.
    *
    * Output: (id, text, n_lines, n_removed) — `n_lines` the
    * post-dedup count.
    */
  def dedupLines(
      df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    val kept = filter(lines, (x, i) => array_position(lines, x) === i + 1)
    df.select(col(idCol), size(lines).as("__nl"), kept.as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), sep).as(textCol),
        size(col("__kept")).cast("long").as("n_lines"),
        (col("__nl") - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Remove duplicated lines CORPUS-WIDE, keeping only the first
    * occurrence across the whole table — the C4/RefinedWeb exact
    * line-level dedup (boilerplate nav bars, license footers, cookie
    * banners repeated across millions of pages survive document-level
    * dedup entirely; this is the pass that kills them). First
    * occurrence = lowest `(id, position)` lexicographically, so
    * survivorship is deterministic and order-independent.
    * [[dedupLines]] is the within-document variant.
    *
    * Scale shape (the reason this isn't "groupBy line + window"):
    * posexplode → `groupBy(line).agg(min(struct(id, pos)))` — the
    * min-struct aggregate gets a MAP-SIDE COMBINE, so a boilerplate
    * line occurring 10⁹ times collapses to one row per input
    * partition before the exchange (a `row_number` window keyed on
    * the line would sort all 10⁹ copies in one task). Winners
    * (≤ distinct lines) then re-group by id into a per-document
    * kept-position list (bounded by lines-per-document), and one
    * left join back to the input reassembles the text. Two
    * aggregations + one join; no window, no skew-prone sort.
    *
    * Output: (id, text, n_lines, n_removed) — `n_lines` the
    * post-dedup count; a document whose every line first appeared
    * elsewhere survives with empty text and `n_lines` 0.
    */
  def dedupLinesGlobal(
      df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val reserved = Set("__lines", "__pos", "__line", "__first", "__kept")
    require(!df.columns.exists(reserved),
      s"input must not have columns named ${reserved.mkString(", ")}")
    val lines = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    val src = df.select(col(idCol), lines.as("__lines"))
    val winners = src
      .select(col(idCol), posexplode(col("__lines")).as(Seq("__pos", "__line")))
      .groupBy("__line")
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
      .select(col(s"__first.$idCol").as(idCol),
        col("__first.__pos").as("__pos"))
    val keptPos = winners.groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__kept"))
    src.join(keptPos, Seq(idCol), "left")
      .withColumn("__kept",
        coalesce(col("__kept"), array().cast("array<int>")))
      .select(col(idCol),
        array_join(
          filter(col("__lines"),
            (_, i) => array_contains(col("__kept"), i)),
          sep).as(textCol),
        size(col("__kept")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed-unigram features are
    * under a TARGET distribution (the docs matching `targetPred` —
    * e.g. a trusted high-quality slice) than under the raw corpus.
    * The per-bucket add-1-smoothed log-likelihood ratio
    * ln(p_target(b) / p_raw(b)) sums over each document's token
    * occurrences; selecting high-score docs tilts the corpus toward
    * the target domain without the target's tiny size capping the
    * yield.
    *
    * Scale design: the tokenized frame persists once and feeds all
    * three legs (raw counts, target counts, doc scores); bucket
    * counts are two `buckets`-sized aggregates; the per-bucket ratio
    * table is `buckets` rows and BROADCASTS into the scoring join, so
    * the corpus-sized leg sees no shuffle beyond its own per-doc
    * aggregation. Bit-exactness across engines: the ratio quantizes
    * to integer MICRO-units per bucket (`floor(lr·1e6 + 0.5)`) before
    * the per-doc sum, so document scores are exact BIGINT sums —
    * aggregation-order-independent and identical in any engine whose
    * `ln` is within 1 ulp.
    *
    * Output: one row per document — (idCol, n_tokens, score_micro);
    * token-less documents carry n_tokens 0 and a null score (no
    * feature evidence ≠ evidence of score 0).
    */
  def dsirWeights(
      df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val tok = df
      .select(col(idCol), coalesce(targetPred.cast("boolean"),
        lit(false)).as("__t"), explode(words(col(textCol))).as("__w"))
      .select(col(idCol), col("__t"),
        (conv(substring(md5(col("__w")), 1, 8), 16, 10).cast("long")
          % buckets).as("__b"))
      .transform(graft.core.CacheScope.disk)
    val raw = tok.groupBy("__b").agg(count(lit(1)).as("__cr"))
    val tgt = tok.where(col("__t")).groupBy("__b")
      .agg(count(lit(1)).as("__ct"))
    val totals = tok.agg(
      count(lit(1)).as("__nr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"))
    // written EXACTLY as the oracle computes it — double products and
    // one division feeding ln, then micro-quantization (see scaladoc)
    val lr = raw.join(tgt, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"),
        floor(log(
          ((coalesce(col("__ct"), lit(0L)) + lit(1.0)) *
            (col("__nr") + lit(buckets.toDouble))) /
            ((col("__cr") + lit(1.0)) *
              (col("__nt") + lit(buckets.toDouble)))) *
          lit(1e6) + lit(0.5)).cast("long").as("__qlr"))
    val scores = tok.join(broadcast(lr), Seq("__b"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__qlr")).as("score_micro"))
    df.select(col(idCol))
      .join(scores, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("score_micro"))
  }

  /** DSIR selection under a token budget: rank documents by
    * [[dsirWeights]] score (descending, id ascending on ties) and
    * keep the ranked prefix whose cumulative token count stays within
    * `tokenBudget` — the deterministic top-k variant of DSIR's
    * importance resampling (same tilt, reproducible corpus).
    * Token-less documents carry no evidence and never select.
    *
    * The cumulative cut runs through
    * [[graft.sampling.Packing.takeUntilBudget]], so the global
    * running sum is histogram-pruned to the budget-crossing score bin
    * instead of one unbounded window over the corpus.
    */
  def dsirSelect(
      df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, tokenBudget: Long,
      buckets: Int = 1024): DataFrame = {
    val w = dsirWeights(df, idCol, textCol, targetPred, buckets)
      .where(col("score_micro").isNotNull)
      .withColumn("__all", lit(1))
    graft.sampling.Packing.takeUntilBudget(
        w, Seq("__all"),
        Seq(col("score_micro").desc, col(idCol).asc),
        "n_tokens", tokenBudget)
      .select(col(idCol), col("n_tokens"), col("score_micro"))
  }

  /** Feature-hashing text embedding (the "hashing trick",
    * Weinberger et al. 2009): a `dim`-dimensional bag-of-words count
    * vector where token `t` lands in bucket
    * `md5(t)[0:8] as int mod dim` — the deterministic, training-free
    * embedder a retrieval pipeline can run where a learned model
    * isn't available (or as the replayable stand-in for one: the
    * downstream quantize/index/score machinery is identical either
    * way). Cosine over these vectors is token-overlap similarity
    * weighted by term multiplicity.
    *
    * Exactness at scale: buckets derive from md5 (engine-portable —
    * DuckDB replays `('0x' || substr(md5(t), 1, 8))::BIGINT % dim`);
    * counts are exact small integers cast to double, so every
    * downstream dot product is an exact integer-valued sum, immune to
    * float summation order. Pure `Column` expression: whole-stage
    * codegen, no UDF, no shuffle.
    */
  def featureHashEmbed(textCol: Column, dim: Int): Column = {
    require(dim >= 2 && dim <= 1024, "dim must be in [2, 1024]")
    val buckets = transform(words(textCol), t =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dim)
    array((0 until dim).map(j =>
      size(filter(buckets, b => b === j)).cast("double")): _*)
  }

  /** Vocabulary coverage / OOV curve — the tokenizer-sizing question
    * asked before any vocab is frozen: at candidate vocabulary sizes
    * (top-K tokens by collection frequency), what share of all token
    * occurrences is covered, and what hits OOV?
    *
    * Scale shape: token counts collapse map-side (one data-sized
    * shuffle); the top-`checkpoints.max` frame rides
    * TakeOrderedAndProject (per-partition k-row heaps — no global
    * sort), so the ranking window runs over a BOUNDED frame the plan
    * gate proves constant-size; totals are a one-row broadcast.
    * `checkpoints.max` ≤ 4096 keeps the bounded-frame proof — larger
    * vocabs coarsen via `rankByRange` instead.
    *
    * Exactness: coverage = covered/total, ONE division of exact
    * BIGINTs per checkpoint; ties at a checkpoint boundary break by
    * token text, total-ordered on both engines.
    */
  def vocabCoverage(
      df: DataFrame, textCol: String,
      checkpoints: Seq[Int] = Seq(100, 500, 1000, 2000, 4000)): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints.max <= 4096,
      "checkpoints must be non-empty and ≤ 4096 (the bounded-frame " +
        "contract); coarser vocab curves go through rankByRange")
    val counts = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__c"))
    val totals = counts.agg(sum("__c").as("__tot"),
      count(lit(1)).as("__types"))
    val top = counts.orderBy(col("__c").desc, col("w").asc)
      .limit(checkpoints.max)
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__c").desc, col("w").asc)))
    val ck = top
      .select(col("__c"), col("__rk"),
        explode(typedLit(checkpoints.sorted)).as("vocab_size"))
      .where(col("__rk") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(sum("__c").as("covered_tokens"), count(lit(1)).as("__kept"))
    ck.crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("__kept").as("n_types"),
        col("covered_tokens"), col("__tot").as("total_tokens"),
        col("__types").as("distinct_types"),
        round(col("covered_tokens").cast("double")
          / col("__tot").cast("double"), 6).as("coverage"),
        round(lit(1.0) - col("covered_tokens").cast("double")
          / col("__tot").cast("double"), 6).as("oov_rate"))
  }

  /** Feature-hash collision audit — the dimension-sizing companion
    * to [[featureHashEmbed]]: for each candidate dim, how many
    * distinct tokens share a bucket, the worst bucket's type load,
    * and (the number that matters) the share of total TOKEN MASS
    * sitting in collided buckets — frequent tokens colliding hurt
    * the embedding far more than rare ones.
    *
    * Buckets derive exactly as the embedder does
    * (`int(md5(t)[0:8], 16) mod dim`), so the audit measures the real
    * deployment. Shape: one map-side-combined token count (the only
    * data-sized stage, hashed once and cached), one vocab-sized
    * grouping per dim, one row out per dim. All counts BIGINT; the
    * mass share divides once.
    */
  def hashCollisionAudit(
      df: DataFrame, textCol: String, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 2),
      "dims must be non-empty, each ≥ 2")
    val counts = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__c"))
      .withColumn("__h",
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
      .transform(graft.core.CacheScope.disk)
    dims.map { d =>
      counts.groupBy((col("__h") % d).as("__b"))
        .agg(count(lit(1)).as("__types"), sum("__c").as("__mass"))
        .agg(sum("__types").as("n_types"),
          count(lit(1)).as("buckets_used"),
          max("__types").as("max_bucket_types"),
          sum(when(col("__types") > 1, col("__mass")).otherwise(0L))
            .as("__cm"),
          sum("__mass").as("__tm"))
        .select(lit(d).as("dim"), col("n_types"), col("buckets_used"),
          col("max_bucket_types"),
          round(col("__cm").cast("double") / col("__tm").cast("double"),
            6).as("collision_mass_share"))
    }.reduce(_.unionByName(_))
  }

  /** Hill tail-index estimator over token collection frequencies —
    * the Zipf-tail diagnostic: α̂ = k / Σᵢ ln(xᵢ / x₍ₖ₊₁₎) over the k
    * largest counts. A heavy tail (α near 1) means vocab growth keeps
    * paying; a steep one means a small vocab saturates coverage —
    * read next to [[vocabCoverage]].
    *
    * Shape: one map-side-combined token count, one top-(k+1)
    * TakeOrderedAndProject (bounded frame — the ranking window is
    * gate-provable), one (k+1)-row aggregate. The ln sum is a k-term
    * rounded double sum (the benford-chi² pattern).
    */
  def hillTailIndex(
      df: DataFrame, textCol: String, k: Int = 500): DataFrame = {
    require(k >= 10 && k <= 4095, "k must be in [10, 4095]")
    val counts = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__c"))
    val top = counts.orderBy(col("__c").desc, col("w").asc)
      .limit(k + 1)
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__c").desc, col("w").asc)))
    val xk1 = top.where(col("__rk") === k + 1)
      .select(col("__c").as("__xk1"))
    top.where(col("__rk") <= k).crossJoin(broadcast(xk1))
      .agg(count(lit(1)).as("k"),
        max(col("__xk1")).as("x_k_plus_1"),
        sum(log(col("__c").cast("double") / col("__xk1").cast("double")))
          .as("__lnsum"))
      .select(col("k"), col("x_k_plus_1"),
        round(col("k").cast("double") / col("__lnsum"), 6).as("alpha"),
        round(col("__lnsum") / col("k").cast("double"), 6)
          .as("mean_log_excess"))
  }

  /** Top-k adjacent-word collocations by pointwise mutual information
    * — the phrase detector behind tokenizer-vocabulary seeding and
    * boilerplate discovery: `PMI(x,y) = ln(p(x,y) / (p(x)p(y)))` with
    * `p(x,y) = n_xy/N_bi` over adjacent pairs and `p(x) = n_x/N_uni`
    * over unigrams, so `PMI = ln(n_xy·N_uni² / (N_bi·n_x·n_y))` —
    * one ln over a ratio of exact integer products (numerator and
    * denominator each accumulate in DECIMAL(38,0): N_uni² alone
    * passes 2^63 at ~3·10⁹ tokens), hence bit-identical doubles
    * across engines, which is what makes ORDERING by PMI
    * deterministic cross-engine (ties broken (w1, w2)).
    *
    * `minPairCount` is load-bearing, not cosmetic: raw PMI is
    * maximized by pairs seen once (ln(N) for two hapaxes), so the
    * count floor is the standard Church–Hanks guard that keeps the
    * report about repeated phrases instead of noise.
    *
    * Scale shape: one map-side-combined unigram count, one bigram
    * count pre-filtered by `minPairCount` BEFORE the two
    * unigram-side joins (word-keyed, never pairwise beyond adjacent
    * pairs that actually occur), corpus totals on broadcast one-row
    * frames, top-k via TakeOrderedAndProject.
    *
    * Returns `(w1, w2, n_pair, n_w1, n_w2, pmi)`, top `topK` by
    * (pmi desc, w1, w2).
    */
  def pmiCollocations(
      df: DataFrame, textCol: String, minPairCount: Int = 5,
      topK: Int = 50): DataFrame = {
    require(minPairCount >= 2, "minPairCount must be >= 2 (raw PMI " +
      "over singletons is hapax noise by construction)")
    require(topK >= 1 && topK <= 10000, "topK in [1, 10000]")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val uni = df.select(explode(words(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__nw"))
      .transform(graft.core.CacheScope.disk)
    val totals = df.select(
        size(words(col(textCol))).as("__k"))
      .agg(sum(col("__k")).as("__n_uni"),
        sum(greatest(col("__k") - 1, lit(0))).as("__n_bi"))
    val pairs = df
      .select(explode(bigrams(col(textCol))).as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairCount)
      .withColumn("w1", split(col("__bg"), " ").getItem(0))
      .withColumn("w2", split(col("__bg"), " ").getItem(1))
    pairs
      .join(uni.select(col("__w").as("w1"), col("__nw").as("n_w1")),
        Seq("w1"))
      .join(uni.select(col("__w").as("w2"), col("__nw").as("n_w2")),
        Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"),
        round(log(
          (dec(col("n_pair")) * dec(col("__n_uni")) *
            dec(col("__n_uni"))).cast("double") /
          (dec(col("__n_bi")) * dec(col("n_w1")) *
            dec(col("n_w2"))).cast("double")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Per-document lexical-diversity report — the cheap gibberish /
    * boilerplate screen that reads a document's own word
    * distribution: token and type counts, type-token ratio, hapax
    * share, and the Shannon entropy of the word distribution with
    * its normalized form `H / ln(n_tokens)` (1 = every token
    * distinct, → 0 = one word repeated; both gibberish generators
    * and template boilerplate sit at the extremes real prose
    * avoids).
    *
    * Entropy is computed by the identity `H = ln n − (Σ c·ln c)/n`
    * (c = per-word counts), with each word's `c·ln c` term
    * quantized to floor-micro-units BEFORE the sum — so the
    * aggregation is an exact, ORDER-FREE integer sum (float sums
    * over per-group word sets would be summation-order-dependent
    * across engines and partitionings; the µ-floor of bit-identical
    * doubles is not). Bias is < one µ-unit per distinct word,
    * bounded and documented. The same quantize-then-sum treatment as
    * q153/q160/q171.
    *
    * Scale shape: one (doc, word) grouped count (map-side combined),
    * one doc-keyed aggregate; state bounded by per-doc vocabulary.
    * Docs with zero tokens are absent (nothing to judge — the
    * [[repetitionSignals]] contract).
    *
    * Returns `(id, n_tokens, n_types, ttr, hapax_frac, entropy,
    * norm_entropy)`; `norm_entropy` is null for single-token docs
    * (ln 1 = 0 denominator).
    */
  def lexicalDiversity(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol).as("__id"),
        explode(words(col(textCol))).as("__w"))
      .groupBy("__id", "__w").agg(count(lit(1)).as("__c"))
    val perDoc = counts.groupBy("__id")
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("__hapax"),
        sum(floor(col("__c").cast("double") *
          log(col("__c").cast("double")) * 1000000.0).cast("long"))
          .as("__clnc_micro"))
    val nD = col("n_tokens").cast("double")
    val h = log(nD) - (col("__clnc_micro").cast("double") / 1000000.0) / nD
    perDoc.select(col("__id").as(idCol), col("n_tokens"),
      col("n_types"),
      round(col("n_types").cast("double") / nD, 6).as("ttr"),
      round(col("__hapax").cast("double") /
        col("n_types").cast("double"), 6).as("hapax_frac"),
      round(h, 6).as("entropy"),
      round(when(col("n_tokens") > 1L, h / log(nD)), 6)
        .as("norm_entropy"))
  }

  /** Chao1 vocabulary-richness estimate per group — how many word
    * types a slice REALLY has, counting the ones not yet sampled:
    * observed types `t`, singleton types `f1`, doubleton types `f2`,
    * and the bias-corrected Chao1 `t + f1(f1−1)/(2(f2+1))` (Chao
    * 1984, Colwell's bias-corrected form — defined even at f2 = 0),
    * plus the Good–Turing sample coverage `1 − f1/n`. The
    * corpus-datasheet row that says whether a language/source slice's
    * vocabulary is saturated (chao1 ≈ t, coverage → 1) or badly
    * under-sampled (chao1 ≫ t) — i.e. whether MORE data from this
    * source would still grow the vocab, the question mixture
    * re-weighting keeps asking.
    *
    * Exactness: t, f1, f2, n are exact BIGINTs from one (group, word)
    * count; `f1(f1−1)` computes in DECIMAL(38,0) (a 3·10⁹-singleton
    * group passes 2^63); chao1 and coverage are each ONE mirrored
    * double expression of exact integers — bit-identical
    * cross-engine with no quantization.
    *
    * Scale shape: one (group, word) grouped count (map-side
    * combined), one group rollup. Output is group-domain-sized;
    * nothing is corpus-sized after the first combine.
    *
    * Returns `(<groupCol>, n_tokens, n_types, f1, f2, chao1,
    * coverage)`.
    */
  def vocabularyRichness(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gw = df
      .select(col(groupCol), explode(words(col(textCol))).as("__w"))
      .groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__c"))
    gw.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("f1"), col("f2"),
        round(col("n_types").cast("double") +
          (dec(col("f1")) * (dec(col("f1")) - lit(1L))).cast("double") /
            (lit(2.0) * (col("f2").cast("double") + 1.0)), 4)
          .as("chao1"),
        round(lit(1.0) - col("f1").cast("double") /
          col("n_tokens").cast("double"), 6).as("coverage"))
  }

  /** Repetition-structure richness panel per group — the
    * frequency-spectrum scalars [[vocabularyRichness]]'s f1/f2 pair
    * cannot carry: Yule's K = 10⁴·(Σc² − N)/N² (the repeat-rate
    * constant — size-invariant where TTR collapses with N, so two
    * slices of very different volume compare directly; high K = a
    * template-y, boilerplate-heavy slice), Herdan's C = ln V/ln N
    * (the log-log vocabulary exponent, the point estimate of q288's
    * fitted Heaps β), and the Good–Turing smoothed hapax count
    * c₁* = 2·V₂/V₁ (what a word seen ONCE is really worth in expected
    * future frequency — the SGT row LM smoothing actually consumes;
    * chao1's coverage reports the MASS of unseen types, this reports
    * the discounted VALUE of the seen-once ones).
    *
    * Exactness: N, V, V₁, V₂ and S₂ = Σc² are exact integers off one
    * (group, word) count (squares in DECIMAL before the sum); each
    * emitted statistic is one mirrored double expression — no
    * quantization anywhere.
    * Scale: one (group, word) grouped count (map-side combined), one
    * group rollup; output is group-domain-sized.
    */
  def richnessPanel(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gw = df
      .select(col(groupCol), explode(words(col(textCol))).as("__w"))
      .groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__c"))
    val agg = gw.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("v2"),
        sum(dec(col("__c")) * dec(col("__c"))).as("__s2"))
    val nD = col("n_tokens").cast("double")
    val yule = lit(10000.0) * (col("__s2").cast("double") - nD) /
      (nD * nD)
    agg.select(col(groupCol), col("n_tokens"), col("n_types"),
      col("v1"), col("v2"),
      round(when(col("n_tokens") >= 2L, yule)
        .otherwise(lit(null).cast("double")), 6).as("yule_k"),
      round(when(col("n_tokens") >= 2L && col("n_types") >= 1L,
          log(col("n_types").cast("double")) / log(nD))
        .otherwise(lit(null).cast("double")), 6).as("herdan_c"),
      round(when(col("v1") >= 1L,
          lit(2.0) * col("v2").cast("double") /
            col("v1").cast("double"))
        .otherwise(lit(null).cast("double")), 6).as("gt_c1_star"))
  }

  /** Good–Turing frequency-spectrum table per group: for each low
    * count c ≤ `maxC`, the number of types seen exactly c times
    * (V_c), the GT-smoothed count c* = (c+1)·V_{c+1}/V_c — what a
    * c-times-seen word is WORTH in expected future frequency, the
    * row LM smoothing actually consumes ([[richnessPanel]] carries
    * only the c = 1 scalar) — and the probability mass the spectrum
    * row holds (c·V_c/N). The whole table is the input to
    * simple-GT/Katz smoothing and the empirical check that the
    * corpus obeys the c* < c discount low counts should show.
    *
    * Exactness: V_c and N are exact integers off one (group, word)
    * count; c* and the mass share are one mirrored double division
    * each (c* null when V_c or V_{c+1} is 0 — an honest gap, not a
    * smoothed invention).
    * Scale: one (group, word) count (map-side combined), one
    * (group, c) rollup — output is group×maxC rows.
    */
  def goodTuringTable(
      df: DataFrame, groupCol: String, textCol: String,
      maxC: Int = 8, ngram: Int = 1): DataFrame = {
    require(maxC >= 1, "maxC >= 1")
    require(ngram == 1 || ngram == 2, "ngram in {1, 2}")
    val toks =
      if (ngram == 2) bigrams(col(textCol)) else words(col(textCol))
    val gw = df
      .select(col(groupCol), explode(toks).as("__w"))
      .groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__c"))
      .transform(graft.core.CacheScope.disk)
    val spectrum = gw.groupBy(col(groupCol), col("__c"))
      .agg(count(lit(1)).as("__vc"))
    val n = gw.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("__n"))
    val nextV = spectrum.select(col(groupCol),
      (col("__c") - 1L).as("__c"), col("__vc").as("__vnext"))
    spectrum
      .where(col("__c") <= maxC)
      .join(nextV, Seq(groupCol, "__c"), "left")
      .join(n, Seq(groupCol))
      .select(col(groupCol), col("__c").as("c"), col("__vc").as("v_c"),
        round(when(col("__vnext").isNotNull && col("__vc") > 0L,
          (col("__c") + 1L).cast("double") *
            col("__vnext").cast("double") / col("__vc").cast("double"))
          .otherwise(lit(null).cast("double")), 6).as("c_star"),
        round(col("__c").cast("double") * col("__vc").cast("double") /
          col("__n").cast("double"), 6).as("mass_share"))
  }

  /** Zipf rank–frequency fit per group: the least-squares slope of
    * ln(freq) on ln(rank) over the top-`topK` tokens — the OTHER
    * power law next to Heaps' (q288: vocabulary vs corpus size; this:
    * frequency vs rank inside the vocabulary). A natural-language
    * slice sits near −1; templated/boilerplate text flattens the head
    * (slope → 0 over the top ranks) and spam with pathological repeat
    * structure steepens it — the datasheet row that reads "is this
    * slice's token distribution SHAPED like language".
    *
    * Determinism: ranks are row_number over (count DESC, token ASC) —
    * a total order, so the top-K set and every (rank, freq) point are
    * unique. Exactness: the (ln rank, ln freq) points are
    * nano-quantized into exact integer OLS sums (the q288
    * discipline), one mirrored double division for the slope and
    * intercept.
    * Scale: one (group, word) count, one per-group top-K window over
    * the count frame (vocabulary-domain-sized, never row-sized), then
    * K-sized arithmetic per group.
    */
  def zipfFit(
      df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 100): DataFrame = {
    val gw = df
      .select(col(groupCol), explode(words(col(textCol))).as("__w"))
      .groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col("__w").asc)
    val top = gw.withColumn("__r", row_number().over(w))
      .where(col("__r") <= topK)
    val xq = floor(log(col("__r").cast("double")) * 1e9).cast("long")
    val yq = floor(log(col("__c").cast("double")) * 1e9).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sums = top
      .select(col(groupCol), xq.as("__xq"), yq.as("__yq"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_points"),
        sum(col("__xq")).as("__sx"), sum(col("__yq")).as("__sy"),
        sum(dec(col("__xq")) * dec(col("__yq"))).as("__sxy"),
        sum(dec(col("__xq")) * dec(col("__xq"))).as("__sxx"))
    val m = col("n_points").cast("decimal(38,0)")
    val den = (m * col("__sxx") - dec(col("__sx")) * dec(col("__sx")))
      .cast("double")
    val slope = (m * col("__sxy") - dec(col("__sx")) * dec(col("__sy")))
      .cast("double") / den
    val ok = col("n_points") >= 2L && den > 0.0
    val slopeSafe = when(ok, slope).otherwise(lit(null).cast("double"))
    // intercept exp((Σy − β·Σx)/m / 1e9) = the fitted rank-1 frequency
    val kCoef = exp(((col("__sy").cast("double") -
      slope * col("__sx").cast("double")) /
      col("n_points").cast("double")) / 1e9)
    sums.select(col(groupCol), col("n_points"),
      round(slopeSafe, 6).as("slope"),
      round(when(ok, kCoef).otherwise(lit(null).cast("double")), 4)
        .as("k_coef"))
  }

  /** Token-frequency drift leaderboard between two corpus snapshots —
    * "which words' RATES changed most" between crawls/versions, the
    * vocabulary-resolution sibling of the distribution-level drift
    * tests: per token the 2×2 table (its count vs all other tokens,
    * baseline vs current) scored by the 1-dof χ² statistic
    * `N(ad−bc)²/(r1·r2·c1·c2)`, top-k by χ². A new boilerplate
    * string, a template change, or an injection shows up here by
    * NAME, where ksTest/cvmTest only say "something moved".
    *
    * Determinism: a, b, c, d are exact BIGINTs; `ad−bc` computes in
    * DECIMAL(38,0) (exact to ~10¹⁹-token sides), then ONE mirrored
    * double chain `(ad−bc)²·N / (r1·r2·c1·c2)` — χ² is a ranking
    * score here, rounded to 4; the top-k order ties break on the
    * token. The limit plans as TakeOrderedAndProject (per-partition
    * heaps — no global sort).
    *
    * Scale shape: two (token) grouped counts (map-side combined),
    * one full-outer token-keyed join, two one-row total broadcasts —
    * vocabulary-sized throughout.
    *
    * Returns top-k `(token, cnt_base, cnt_cur, chi2)` by χ² desc.
    */
  def tokenDriftLeaderboard(
      baseline: DataFrame, current: DataFrame, textCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1 && k <= 10000, "k in [1, 10000]")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode(words(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as(out))
    val a = counts(baseline, "cnt_base")
    val b = counts(current, "cnt_cur")
    val joined = a.join(b, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("cnt_base"), lit(0L)).as("cnt_base"),
        coalesce(col("cnt_cur"), lit(0L)).as("cnt_cur"))
      .transform(graft.core.CacheScope.disk)
    val tot = joined.agg(sum(col("cnt_base")).as("__ta"),
      sum(col("cnt_cur")).as("__tb"))
    val wa = col("cnt_base")
    val wb = col("cnt_cur")
    val oa = col("__ta") - wa // other tokens, baseline side
    val ob = col("__tb") - wb
    val det = dec(wa) * dec(ob) - dec(wb) * dec(oa)
    val nTot = (col("__ta") + col("__tb")).cast("double")
    val denom = (wa + wb).cast("double") * (oa + ob).cast("double") *
      col("__ta").cast("double") * col("__tb").cast("double")
    val chi2 = when(denom > 0.0,
      det.cast("double") * det.cast("double") * nTot / denom)
    joined.crossJoin(broadcast(tot))
      .select(col("token"), col("cnt_base"), col("cnt_cur"),
        round(chi2, 4).as("chi2"))
      .orderBy(col("chi2").desc_nulls_last, col("token").asc)
      .limit(k)
  }

  /** Exact pairwise vocabulary overlap between groups — the
    * type-SET reading beside [[vocabularyRichness]]'s size and
    * [[langUnigramDivergence]]'s distribution: for every group pair,
    * the shared-type count, Jaccard, and both containments. High
    * cross-language containment is the boilerplate/code-switching
    * alarm (one slice's vocabulary living inside another's); the
    * q219 KMV overlap estimates this shape for UNBOUNDED id domains —
    * vocabularies are type-domain-sized, so here it is exact.
    *
    * Scale shape: the corpus collapses to distinct (group, word) rows
    * (map-side combined); the pair counts come from the word-keyed
    * SELF-JOIN of that frame — each word contributes
    * (groups-containing-it choose 2) rows, so the join output is
    * bounded by |vocab|·G², never corpus-sized, and nothing is ever
    * document-pairwise. Group sizes broadcast back onto the
    * group-pair-domain output.
    *
    * Returns `(group_a, group_b, n_a, n_b, n_common, jaccard,
    * contain_a, contain_b)` for group_a < group_b; Jaccard/
    * containments are single double divisions of exact counts.
    */
  def vocabOverlap(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val types = df
      .select(col(groupCol).cast("string").as("__g"),
        explode(words(col(textCol))).as("__w"))
      .where(col("__g").isNotNull)
      .distinct()
      .transform(graft.core.CacheScope.disk)
    val sizes = types.groupBy("__g").agg(count(lit(1)).as("__n"))
    val common = types
      .join(types.select(col("__g").as("__g2"), col("__w")), Seq("__w"))
      .where(col("__g") < col("__g2"))
      .groupBy("__g", "__g2").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("__g"), col("__n").as("n_a")), Seq("__g"))
      .join(sizes.select(col("__g").as("__g2"), col("__n").as("n_b")),
        Seq("__g2"))
      .select(col("__g").as("group_a"), col("__g2").as("group_b"),
        col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_common").cast("double") / col("n_a").cast("double"),
          6).as("contain_a"),
        round(col("n_common").cast("double") / col("n_b").cast("double"),
          6).as("contain_b"))
  }

  /** Per-language KL divergence of the language's unigram word
    * distribution from the whole corpus's — the "which slice speaks
    * differently" screen behind mixture re-weighting and
    * contamination triage (a language whose divergence collapses
    * toward 0 is losing its identity to cross-lingual boilerplate;
    * one that spikes has topical drift).
    *
    * `KL(lang ‖ corpus) = Σ_w (c_lw/n_l)·ln(c_lw·N / (n_l·c_w))` —
    * every ratio a single ln over exact integer products (through
    * DECIMAL(38,0); `c_lw·N` passes 2^63 at ~3·10⁹-token corpora),
    * and each word's term FLOOR-quantized to nano-units (1e9) before
    * the per-language sum, making the aggregation an exact
    * order-free integer sum — the [[lexicalDiversity]] treatment at
    * finer grain (KL terms can be very small; nano-units keep the
    * per-term bias negligible against vocabulary-sized term counts).
    * Terms are NEGATIVE for under-represented words; `floor`
    * truncates toward −∞ identically in both engines. Every word of
    * the language is by construction in the corpus (c_w ≥ c_lw > 0)
    * — no smoothing needed, the divergence is finite.
    *
    * Scale shape: one (lang, word) count, one word-keyed corpus
    * count joined word-to-word (map-side combined on both sides),
    * language totals by one more grouped sum, final per-language
    * aggregate — language-domain-sized output, nothing pairwise.
    *
    * Returns `(lang, n_tokens, n_types, kl_nano, kl)` ordered by
    * caller.
    */
  def langUnigramDivergence(
      df: DataFrame, langCol: String, textCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lw = df.select(col(langCol).as("lang"),
        explode(words(col(textCol))).as("__w"))
      .groupBy("lang", "__w").agg(count(lit(1)).as("__clw"))
      .transform(graft.core.CacheScope.disk)
    val lTot = lw.groupBy("lang").agg(sum(col("__clw")).as("__nl"))
    val cw = lw.groupBy("__w").agg(sum(col("__clw")).as("__cw"))
    val nTot = cw.agg(sum(col("__cw")).as("__n"))
    val term = lw
      .join(cw, Seq("__w"))
      .join(lTot, Seq("lang"))
      .crossJoin(broadcast(nTot))
      .select(col("lang"), col("__clw"),
        floor(col("__clw").cast("double") / col("__nl").cast("double") *
          log((dec(col("__clw")) * dec(col("__n"))).cast("double") /
            (dec(col("__nl")) * dec(col("__cw"))).cast("double")) *
          1000000000.0).cast("long").as("__t_nano"))
    term.groupBy("lang")
      .agg(sum(col("__clw")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__t_nano")).as("kl_nano"))
      .withColumn("kl",
        round(col("kl_nano").cast("double") / 1000000000.0, 6))
  }

  /** Simpson diversity of the word distribution per group: the
    * probability two randomly drawn tokens are the SAME type
    * (λ = Σc(c−1)/N(N−1), exact by construction — no squared-share
    * float sums), its inverse (the "effective vocabulary size" — how
    * many equally-common types would look this concentrated), and
    * Berger–Parker dominance (the single most common type's share).
    * The concentration row of the per-language datasheet: Chao1
    * (q258) says how many types exist, Heaps (q288) whether more are
    * coming, this says how UNEVENLY the mass sits on them — a
    * template-y source shows a high λ long before dedup would.
    *
    * Every numerator is an exact integer (c(c−1) summed in DECIMAL);
    * the three emitted ratios are one mirrored double division each.
    * Scale: one token-level grouped count, then group-cardinality
    * arithmetic.
    */
  def simpsonDiversity(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val wc = df.where(col(textCol).isNotNull)
      .select(col(groupCol), explode(words(col(textCol))).as("__w"))
      .groupBy(col(groupCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val agg = wc.groupBy(col(groupCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(dec(col("__c")) * dec(col("__c") - 1L)).as("__lnum"),
        max(col("__c")).as("__maxc"))
    val n = col("n_tokens")
    val pairs = (dec(n) * dec(n - 1L)).cast("double")
    val simpson = col("__lnum").cast("double") / pairs
    val inv = pairs / col("__lnum").cast("double")
    agg.select(col(groupCol), n, col("n_types"),
      when(n < 2L, lit(null).cast("double"))
        .otherwise(round(simpson, 6)).as("simpson"),
      when(n < 2L || col("__lnum") === 0.0,
        lit(null).cast("double"))
        .otherwise(round(inv, 4)).as("inv_simpson"),
      round(col("__maxc").cast("double") / n.cast("double"), 6)
        .as("berger_parker"))
  }

  /** Heaps'-law vocabulary-growth fit V(n) = K·n^β over the corpus in
    * doc-id order: the growth-curve reading beside Chao1's point
    * estimate — β well below 1 means the vocabulary is saturating, β
    * near 1 means more data keeps buying new types (the "will more
    * data still grow this vocab" datasheet row, with the CURVE to
    * show for it). Emits one row per checkpoint (cumulative tokens,
    * cumulative vocabulary at that doc-id boundary) plus the fitted
    * β and K from a log–log least squares over the checkpoints.
    *
    * Mechanics: checkpoint boundaries are doc-id-VALUE slices
    * (lo−1 + ⌊(hi−lo+1)·k/K⌋ — integer floor division, no global
    * row-number sort, so no single-partition window anywhere); the
    * cumulative vocabulary at a boundary is the count of words whose
    * FIRST doc id is ≤ the boundary — one grouped min per word, one
    * broadcast join against the K-row boundary frame, never a
    * token-level window. ln-points are floor-nano-quantized before
    * the (order-free) integer OLS sums; β and ln K are each one
    * mirrored double expression.
    *
    * Scale: two corpus-order scans (per-doc token counts; the
    * word→first-doc aggregation), both reducing immediately to doc-
    * and vocab-sized frames; everything after is K-row arithmetic.
    */
  def heapsLawFit(
      docs: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 12): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perDoc = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        tokenCount(col(textCol)).cast("long").as("__ntok"))
      .transform(graft.core.CacheScope.disk)
    val bounds = perDoc.agg(min(col("__id")).as("__lo"),
      max(col("__id")).as("__hi"))
    val cps = docs.sparkSession.range(1, checkpoints + 1)
      .toDF("checkpoint")
      .crossJoin(bounds)
      .select(col("checkpoint"),
        expr(s"__lo - 1 + ((__hi - __lo + 1) * checkpoint) " +
          s"div $checkpoints").as("boundary_doc"))
    val curve = perDoc.join(broadcast(cps),
        col("__id") <= col("boundary_doc"))
      .groupBy("checkpoint", "boundary_doc")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("cum_tokens"))
    val firstDoc = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        explode(words(col(textCol))).as("__w"))
      .groupBy("__w").agg(min(col("__id")).as("__fdoc"))
    val vocab = firstDoc.join(broadcast(cps),
        col("__fdoc") <= col("boundary_doc"))
      .groupBy("checkpoint").agg(count(lit(1)).as("vocab"))
    val pts = curve.join(vocab, Seq("checkpoint"))
      .transform(graft.core.CacheScope.disk)
    val quant = pts
      .where(col("cum_tokens") > 0L && col("vocab") > 0L)
      .select(
        floor(log(col("cum_tokens").cast("double")) * 1e9)
          .cast("long").as("__xq"),
        floor(log(col("vocab").cast("double")) * 1e9)
          .cast("long").as("__yq"))
    val sums = quant.agg(
      count(lit(1)).as("__m"),
      sum(col("__xq")).as("__sx"),
      sum(col("__yq")).as("__sy"),
      sum(dec(col("__xq")) * dec(col("__yq"))).as("__sxy"),
      sum(dec(col("__xq")) * dec(col("__xq"))).as("__sxx"))
    val mD = col("__m").cast("decimal(38,0)")
    val beta = (mD * col("__sxy") - dec(col("__sx")) * dec(col("__sy")))
      .cast("double") /
      (mD * col("__sxx") - dec(col("__sx")) * dec(col("__sx")))
        .cast("double")
    val fit = sums.select(
      when(col("__m") < 2L, lit(null).cast("double"))
        .otherwise(beta).as("__beta"),
      col("__m"), col("__sx"), col("__sy"))
      .select(col("__beta"),
        when(col("__beta").isNull, lit(null).cast("double"))
          .otherwise(exp(((col("__sy").cast("double") -
            col("__beta") * col("__sx").cast("double")) /
            col("__m").cast("double")) / 1e9)).as("__k"))
    pts.crossJoin(broadcast(fit))
      .select(col("checkpoint"), col("boundary_doc"), col("n_docs"),
        col("cum_tokens"), col("vocab"),
        round(col("__beta"), 6).as("beta"),
        round(col("__k"), 4).as("k_coef"))
  }

  /** Dunning log-likelihood (G²) collocations — the PMI board's
    * ([[pmiCollocations]]) statistically-honest sibling: PMI over-
    * rewards rare pairs (two hapaxes that co-occur once max it out);
    * G² weights evidence by VOLUME, scoring the full 2×2 bigram
    * table a/b/c/d (pair / w1-other / other-w2 / neither) with
    * 2·Σ O·ln(O·N / (row·col)) — zero cells contribute zero. Margins
    * here are bigram-POSITION counts (w1-as-first, w2-as-second),
    * the table the test actually wants, not unigram totals.
    *
    * Exactness: all eight table inputs are exact longs from three
    * grouped counts over ONE persisted bigram-token frame; each term
    * is o·ln((o·N)/(row·col)) — one ln per term over exact-int
    * doubles, mirrored order, round 6 at the end (the q239 rationale:
    * both engines produce identical doubles for identical ln args).
    *
    * Scale: the bigram frame shuffles once per grouping
    * (pair/first/second) — distinct-bigram-sized after; the final
    * board is one TakeOrderedAndProject.
    */
  def dunningCollocations(
      df: DataFrame, textCol: String, minPairCount: Int = 5,
      topK: Int = 50): DataFrame = {
    require(minPairCount >= 2, "minPairCount must be >= 2")
    require(topK >= 1 && topK <= 10000, "topK in [1, 10000]")
    val bi = df
      .select(explode(bigrams(col(textCol))).as("__bg"))
      .select(split(col("__bg"), " ").getItem(0).as("w1"),
        split(col("__bg"), " ").getItem(1).as("w2"))
      .transform(graft.core.CacheScope.disk)
    val pair = bi.groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairCount)
    val firsts = bi.groupBy("w1").agg(count(lit(1)).as("n_w1_first"))
    val seconds = bi.groupBy("w2").agg(count(lit(1)).as("n_w2_second"))
    val tot = bi.agg(count(lit(1)).as("__n"))
    val joined = pair
      .join(firsts, Seq("w1"))
      .join(seconds, Seq("w2"))
      .crossJoin(broadcast(tot))
    val nD = col("__n").cast("double")
    val aD = col("n_pair").cast("double")
    val r1D = col("n_w1_first").cast("double")
    val c1D = col("n_w2_second").cast("double")
    val bD = r1D - aD
    val cD = c1D - aD
    val dD = nD - r1D - c1D + aD
    def term(o: Column, row: Column, colN: Column): Column =
      when(o > 0, o * log(o * nD / (row * colN))).otherwise(lit(0.0d))
    val g2 = lit(2.0d) * (term(aD, r1D, c1D) +
      term(bD, r1D, nD - c1D) + term(cD, nD - r1D, c1D) +
      term(dD, nD - r1D, nD - c1D))
    joined.select(col("w1"), col("w2"), col("n_pair"),
        col("n_w1_first"), col("n_w2_second"), round(g2, 6).as("g2"))
      .orderBy(col("g2").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Flesch readability per group: reading-ease
    * 206.835 − 1.015·(W/S) − 84.6·(Y/W) and Flesch–Kincaid grade
    * 0.39·(W/S) + 11.8·(Y/W) − 15.59 over corpus-level word (W),
    * sentence (S) and syllable (Y) totals. Syllables are the
    * standard vowel-group heuristic (`[aeiouy]+` runs); sentences
    * are `[.!?]+` runs floored at one per document — on punctuation-
    * free corpora every document honestly reads as one long
    * sentence, which is exactly what the metric should say.
    *
    * Exactness: three exact-long counters per group (one regexp
    * pass each — no shuffle beyond the grouped sum), then each score
    * is one fixed double expression, round 4.
    */
  def readabilityScores(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val per = df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("__g"),
        size(regexp_extract_all(t, lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("__w"),
        greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0)))
          .cast("long"), lit(1L)).as("__s"),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
          .cast("long").as("__y"))
    val agg = per.groupBy("__g")
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_sentences"),
        sum(col("__y")).as("n_syllables"))
    val wD = col("n_words").cast("double")
    val sD = col("n_sentences").cast("double")
    val yD = col("n_syllables").cast("double")
    agg.select(col("__g").as(groupCol), col("n_docs"),
      col("n_words"), col("n_sentences"), col("n_syllables"),
      when(col("n_words") > 0,
        round(lit(206.835d) - lit(1.015d) * (wD / sD) -
          lit(84.6d) * (yD / wD), 4)).as("flesch"),
      when(col("n_words") > 0,
        round(lit(0.39d) * (wD / sD) + lit(11.8d) * (yD / wD) -
          lit(15.59d), 4)).as("fk_grade"))
  }

  /** RAKE keyword extraction over a corpus: candidate phrases are
    * maximal stopword-free token runs (split at [[stopwords]]);
    * each word scores degree/frequency (degree = Σ lengths of the
    * phrase occurrences containing it — co-occurrence weight;
    * frequency = its occurrence count inside phrases) and a phrase
    * scores the sum of its members' scores — the classic
    * co-occurrence-graph keyword ranker, corpus-level.
    *
    * Exactness: runs are identified by the pos − rank trick (explode
    * with position, filter stopwords, run id = pos − row_number per
    * doc — pure integer), phrases rebuilt by an ordered array fold;
    * word scores are floor(10⁶·degree/freq) longs BEFORE the phrase
    * sum (quantize-before-sum), so the board ranks by an exact
    * integer.
    *
    * Scale: one explode (row per token), one window per document
    * (partition = doc, the natural key), grouped counts at
    * distinct-word and distinct-phrase size; the board is one
    * TakeOrderedAndProject. No pairwise joins anywhere — the
    * co-occurrence graph is implicit in the degree sum.
    */
  def rakeKeywords(
      df: DataFrame, idCol: String, textCol: String,
      topK: Int = 25): DataFrame = {
    require(topK >= 1 && topK <= 10000, "topK in [1, 10000]")
    val toks = df
      .select(col(idCol).as("__id"),
        posexplode(words(col(textCol))).as(Seq("__p", "__w")))
      .where(!col("__w").isInCollection(stopwords))
      .withColumn("__run", col("__p") - row_number().over(
        Window.partitionBy("__id").orderBy("__p")))
    // one row per phrase OCCURRENCE, members in order
    val occs = toks.groupBy("__id", "__run")
      .agg(sort_array(collect_list(struct(col("__p"), col("__w"))))
        .as("__m"))
      .select(col("__id"), col("__m").getField("__w").as("__ws"),
        size(col("__m")).cast("long").as("__len"))
      .withColumn("__phrase", array_join(col("__ws"), " "))
      .transform(graft.core.CacheScope.disk)
    // word stats over phrase occurrences: freq + degree
    val wordStats = occs
      .select(explode(col("__ws")).as("__w"), col("__len"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .withColumn("__score",
        floor(lit(1e6) * col("__deg").cast("double") /
          col("__freq").cast("double")).cast("long"))
    // phrase score = Σ member word scores; members re-derived from
    // the DISTINCT phrase string (a word repeated in a phrase counts
    // each time), so the sum is one exact long per distinct phrase
    val phraseCounts = occs.groupBy("__phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    val members = phraseCounts
      .select(col("__phrase"),
        explode(split(col("__phrase"), " ")).as("__w"))
    val phraseScores = members
      .join(wordStats.select(col("__w"), col("__score")), Seq("__w"))
      .groupBy("__phrase")
      .agg(sum(col("__score")).as("score_micro"))
    phraseCounts.join(phraseScores, Seq("__phrase"))
      .select(col("__phrase").as("phrase"), col("n_occurrences"),
        col("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase").asc)
      .limit(topK)
  }

  /** Payment-card candidate strings: MAXIMAL digit runs of plausible
    * PAN length (13–19, ISO/IEC 7812). Extracting `[0-9]+` runs and
    * filtering by length is deliberately lookaround-free — RE2 (the
    * oracle's regex engine) has no lookbehind, and a bare
    * `[0-9]{13,19}` would false-positive on prefixes of longer runs.
    * Pure column expression.
    */
  def ccCandidates(c: Column): Column =
    filter(regexp_extract_all(c, lit("[0-9]+"), lit(0)),
      s => length(s).between(13, 19))

  /** Luhn checksum validity (ISO/IEC 7812 mod-10) of a digit string —
    * the check that separates real card numbers from arbitrary digit
    * runs (exactly 1 in 10 random runs passes; see LuhnSpec's
    * systematic family). Doubles every second digit from the RIGHT
    * (position parity via `(len − i) % 2`, identical 1-based
    * arithmetic in DuckDB), folds >9 back by −9, sums in one codegen'd
    * `aggregate`. False for null/empty/sub-13-digit input.
    */
  def luhnValid(digits: Column): Column = {
    val len = length(digits)
    val total = aggregate(
      sequence(lit(1), coalesce(len, lit(0))),
      lit(0L),
      (acc, i) => {
        val d = digits.substr(i, lit(1)).cast("long")
        acc + when(pmod(len - i, lit(2)) === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    coalesce(len >= 13 && pmod(total, lit(10L)) === 0, lit(false))
  }
}
