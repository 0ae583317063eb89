package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a large-scale training-data pipeline:
 * tokenization, quality scoring, language ID, document fingerprinting.
 *
 * Everything is built-in (codegen'd) expressions — higher-order array
 * functions instead of UDFs — so the hot path stays inside whole-stage
 * codegen and scales linearly with no per-row JVM boundary crossings.
 */
object TextAnalysis {

  /** RE2's `\s` class, spelled explicitly. Java regex `\s` additionally
   * matches vertical tab (\x0B); the DuckDB oracles tokenize with RE2
   * `string_split_regex('\s+')`, so using Java `\s` here would split
   * differently on any document containing \x0B. */
  val wsClass = "[ \\t\\n\\f\\r]"

  /** Whitespace tokenizer (the cross-engine-stable baseline; a BPE-ish
   * subword regex is [[bpeishTokens]]). */
  def tokens(text: Column): Column = split(trim(text), wsClass + "+")

  /** Spread a narrowly-partitioned input before CPU-heavy per-row work
   * (gram hashing runs ~μs/gram — a single-digit-MB parquet file reads as
   * ONE split, serializing millions of gram ops onto one core while 31
   * idle). No-op whenever the scan already yields >= defaultParallelism
   * splits — at production scale the input always does, so the round-robin
   * exchange this adds exists only in the small-file regime where its cost
   * (the raw doc rows, once) is noise against the 10-30x core utilization
   * it buys. getNumPartitions only plans the scan; nothing executes. */
  private[graft] def spreadForCpuWork(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch split count is the source's
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** BPE-ish tokenization: words, numbers, and single punctuation marks as
   * separate tokens — a regex approximation of byte-pair pretokenizers.
   * Whitespace is dropped via the explicit [[wsClass]], NOT `trim()` —
   * trim strips only 0x20, so a bare tab/newline token would otherwise
   * survive and diverge from the RE2 token class
   * `[A-Za-z0-9]+|[^A-Za-z0-9\t\n\f\r ]` the q_token_count oracle states. */
  def bpeishTokens(text: Column): Column =
    filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(regexp_replace(t, wsClass, "")) > 0)

  /** Small English stopword list (public domain, the usual top function words). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords.map(lit): _*)))

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /**
   * Quality-score columns: token count, stopword ratio, punctuation ratio,
   * mean token length — the standard cheap heuristics used to filter web
   * text before training (c4/ccnet-style length+symbol filters).
   */
  def withQuality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    df.withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_stopwords", stopwordCount(t).cast("long"))
      .withColumn("n_punct", punctCount(col(textCol)).cast("long"))
      .withColumn("stop_ratio", col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("mean_token_chars",
        (length(trim(col(textCol))) - col("n_tokens") + 1).cast("double") / col("n_tokens"))
  }

  /**
   * Percentile quality gate: keep rows whose `scoreCol` is at or above the
   * corpus q-quantile — the standard "drop the worst X% by heuristic score"
   * curation step. The threshold is a ONE-ROW aggregate broadcast back over
   * the corpus (`crossJoin(broadcast(...))`): one reduce + one map-side
   * filter, never a global sort or rank window (a `row_number` formulation
   * would funnel the whole corpus through one task).
   *
   * Two threshold engines, same gate shape:
   *  - exact (`approx = false`): Spark's `percentile` — type-7 linear
   *    interpolation, the same definition as DuckDB's `quantile_cont`, so
   *    the gate is oracle-checkable. The exact aggregate buffers all values
   *    on the final reducer, so it is the small/medium-corpus baseline.
   *  - KLL (`approx = true`): mergeable bounded-memory sketch
   *    ([[graft.functions.KllExpressions.kllSketchAgg]]) — the 100 TB path;
   *    the selected set differs from exact only within the sketch's
   *    normalized rank error (TextGateSpec pins the drift).
   *
   * Output = input columns + `gate_score` + `gate_th`.
   */
  def qualityGate(df: DataFrame, scoreCol: Column, q: Double,
      approx: Boolean = false,
      k: Int = graft.functions.KllExpressions.defaultK): DataFrame = {
    require(q > 0.0 && q < 1.0, s"qualityGate: q must be in (0, 1), got $q")
    val scored = df.withColumn("gate_score", scoreCol.cast("double"))
    val th =
      if (approx)
        scored.agg(graft.functions.KllExpressions.kllQuantile(
          graft.functions.KllExpressions.kllSketchAgg(col("gate_score"), k), q)
          .as("gate_th"))
      else
        scored.agg(expr(s"percentile(gate_score, $q)").as("gate_th"))
    scored.crossJoin(broadcast(th)).filter(col("gate_score") >= col("gate_th"))
  }

  /** The q-quantile of `scoreCol` as a DRIVER-HELD scalar — the same two
   * threshold engines as [[qualityGate]], for callers that apply the gate
   * elsewhere (e.g. a stateless filter on an ingest stream, where a
   * per-batch corpus aggregate is neither possible nor wanted —
   * [[graft.streaming.StreamingCuration.qualityGateStream]]). Returns None
   * on an empty/all-null corpus (no quantile exists). */
  def quantileThreshold(df: DataFrame, scoreCol: Column, q: Double,
      approx: Boolean = false,
      k: Int = graft.functions.KllExpressions.defaultK): Option[Double] = {
    require(q > 0.0 && q < 1.0, s"quantileThreshold: q must be in (0, 1), got $q")
    val scored = df.select(scoreCol.cast("double").as("gate_score"))
    val row =
      if (approx)
        scored.agg(graft.functions.KllExpressions.kllQuantile(
          graft.functions.KllExpressions.kllSketchAgg(col("gate_score"), k), q)
          .as("th")).head()
      else scored.agg(expr(s"percentile(gate_score, $q)").as("th")).head()
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }

  /** Tiny per-language function-word lists for the n-gram/stopword heuristic
   * language identifier (public-domain word lists). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "une", "des", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "las", "es", "que", "una", "con", "por", "para"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"))

  /** Scripts written without word spaces — token matching never fires for
   * them, so their markers are scored by substring occurrence instead. */
  private val spaceFreeScripts = Set("zh")

  /** Number of occurrences of `needle` in `haystack` as a column. */
  private def occurrences(haystack: Column, needle: String): Column =
    ((length(haystack) - length(replace(haystack, lit(needle), lit("")))) / needle.length)
      .cast("long")

  /**
   * Heuristic language ID: score = count of language marker hits; winner =
   * argmax with deterministic tie-break (lexicographically greatest language
   * wins on equal score via struct max-ordering). Latin-script languages
   * match whole tokens (substrings would inflate, e.g. "les" in "tables");
   * space-free scripts (zh) count marker-character occurrences, since the
   * whole sentence is one whitespace token. Emits `lang_pred` + the winning
   * score. The classic fastText-free fallback; at 100 TB it is one codegen'd
   * projection, no shuffle.
   */
  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val lowered = lower(col(textCol))
    val toks = tokens(lowered)
    val scored = langMarkers.keys.toSeq.sorted.map { lang =>
      val score =
        if (spaceFreeScripts(lang))
          langMarkers(lang).map(m => occurrences(lowered, m)).reduce(_ + _)
        else
          size(filter(toks, t => t.isin(langMarkers(lang).map(lit): _*))).cast("long")
      struct(score.as("score"), lit(lang).as("lang"))
    }
    df.withColumn("best", array_max(array(scored: _*)))
      .withColumn("lang_pred", col("best.lang"))
      .withColumn("lang_score", col("best.score"))
      .drop("best")
  }

  // ------------------------------------------------------- PII redaction

  /** PII patterns, written in the RE2 ∩ java.util.regex common subset
   * (explicit ASCII classes, no lookaround) so the DuckDB oracle's RE2
   * engine matches byte-for-byte what Spark's Java regex matches. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** SSN-shaped ids; \\b is the ASCII word boundary in both engines. */
  val idRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val phoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /**
   * PII redaction: emails → `<EMAIL>`, SSN-shaped ids → `<ID>`, phone-shaped
   * digit runs → `<PHONE>`. Precedence on overlap is the application order
   * email > id > phone — an id embedded in an email address is consumed by
   * the email redaction, and an SSN inside a longer digit run is redacted as
   * an id, never double-redacted (the placeholders contain no digits, so a
   * later pattern can never re-match inside an earlier replacement).
   * Pure codegen'd `regexp_replace` chain — no shuffle, no UDF.
   */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      emailRe, "<EMAIL>"), idRe, "<ID>"), phoneRe, "<PHONE>")

  /** `text_redacted` + per-kind redaction counts (counted as placeholder
   * occurrences in the redacted text — pure length arithmetic, identically
   * expressible in the oracle). */
  def withRedaction(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("text_redacted", redact(col(textCol)))
      .withColumn("n_emails", occurrences(col("text_redacted"), "<EMAIL>"))
      .withColumn("n_phones", occurrences(col("text_redacted"), "<PHONE>"))
      .withColumn("n_ids", occurrences(col("text_redacted"), "<ID>"))
      .withColumn("n_redactions", col("n_emails") + col("n_phones") + col("n_ids"))

  /** IPv4-shaped dotted quads. Octets deliberately not range-checked —
   * redaction favors recall ("999.1.1.1" redacts too), and the simple form
   * stays in the RE2 ∩ Java subset without a 4-way alternation. */
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  /** Payment-card-shaped digit runs: 4-4-4-{2,4} groups with optional
   * per-gap space/dash separators — covers 14/15/16-digit cards grouped or
   * flat (not the Amex 4-6-5 grouping). Word-bounded, so a longer digit
   * run is never partially consumed (it falls through to the phone rule). */
  val ccRe = "\\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{2,4}\\b"

  /**
   * [[redact]] widened with network/payment PII: emails → `<EMAIL>`,
   * card-shaped runs → `<CC>`, SSN-shaped ids → `<ID>`, IPv4 quads →
   * `<IP>`, phone-shaped digit runs → `<PHONE>`. Overlap precedence is the
   * application order email > cc > id > ip > phone: a card number is
   * consumed whole before the phone rule could eat its digit run, an SSN
   * inside any wider context stays `<ID>`, and placeholders contain no
   * digits or dots so later patterns never re-match inside earlier
   * replacements. Same pure codegen'd `regexp_replace` chain — map-side,
   * no shuffle, linear in bytes.
   */
  def redactFull(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      text, emailRe, "<EMAIL>"), ccRe, "<CC>"), idRe, "<ID>"),
      ipRe, "<IP>"), phoneRe, "<PHONE>")

  /** `text_redacted` + per-kind counts for the widened chain. */
  def withFullRedaction(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("text_redacted", redactFull(col(textCol)))
      .withColumn("n_emails", occurrences(col("text_redacted"), "<EMAIL>"))
      .withColumn("n_ccs", occurrences(col("text_redacted"), "<CC>"))
      .withColumn("n_ids", occurrences(col("text_redacted"), "<ID>"))
      .withColumn("n_ips", occurrences(col("text_redacted"), "<IP>"))
      .withColumn("n_phones", occurrences(col("text_redacted"), "<PHONE>"))
      .withColumn("n_redactions", col("n_emails") + col("n_ccs") +
        col("n_ids") + col("n_ips") + col("n_phones"))

  // ------------------------------------------------------- normalization

  /**
   * Whitespace canonicalization — the first stage of every web-text
   * pipeline (crawled HTML extractions arrive with tab runs, CRLF soup,
   * and 10-blank-line gaps):
   *
   *   1. CRLF / bare CR → LF;
   *   2. runs of horizontal whitespace (space, tab, VT, FF) → one space;
   *   3. spaces hugging a newline are absorbed into it;
   *   4. 3+ consecutive newlines → one paragraph break (2);
   *   5. leading/trailing whitespace stripped.
   *
   * Patterns are in the RE2 ∩ java.util.regex common subset (explicit
   * classes, no lookaround) so the DuckDB oracle replays them exactly.
   * Pure codegen'd `regexp_replace` chain — map-side, no shuffle.
   */
  def normalize(text: Column): Column = {
    val lf = regexp_replace(text, "\\r\\n?", "\n")
    val hws = regexp_replace(lf, "[ \\t\\x0B\\f]+", " ")
    val hugged = regexp_replace(hws, " ?\\n ?", "\n")
    val paras = regexp_replace(hugged, "\\n{3,}", "\n\n")
    regexp_replace(paras, "^[ \\n]+|[ \\n]+$", "")
  }

  /** `text_norm` + before/after char counts (the removed-count is the cheap
   * "how dirty was this shard" signal). */
  def withNormalization(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("text_norm", normalize(col(textCol)))
      .withColumn("n_chars_raw", length(col(textCol)).cast("long"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast("long"))
      .withColumn("n_chars_removed", col("n_chars_raw") - col("n_chars_norm"))

  // ----------------------------------------------------- encoding hygiene

  /** C0 controls minus \t\n\r, plus DEL — the "should never appear in clean
   * text" set. Spelled with regex hex escapes (not literal chars) so the
   * same pattern string works in Java regex and RE2 (DuckDB oracle). */
  val controlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /**
   * Encoding/mojibake audit (ftfy-style corpus hygiene, the check a crawl
   * pipeline runs before any text filter): per document,
   *
   *   - `n_replacement` — U+FFFD replacement chars (a decoder already gave
   *     up on these bytes; the text upstream is unrecoverable);
   *   - `n_control`     — C0 controls (minus \t\n\r) + DEL;
   *   - `n_mojibake`    — UTF-8-read-as-Latin-1/Windows-1252 signatures:
   *     `Ã` + [U+0080,U+00BF] (a 2-byte sequence's lead 0xC3 mis-decoded,
   *     covering é è ä ñ ï …) and the `â€` prefix (the 3-byte punctuation
   *     block U+2018–U+201D/U+2026 mis-decoded via Windows-1252);
   *   - `n_nonascii` / `ascii_ppm` — floor(10⁶·ascii/len): integer parts-
   *     per-million instead of a rounded double so the oracle compare is
   *     tie-free across engines' round() modes;
   *   - `needs_repair`  — any of the three defect counts nonzero.
   *
   * Pure codegen'd `regexp_count` projection — map-side, no shuffle, linear
   * in bytes; the patterns are RE2 ∩ java.util.regex so DuckDB replays them.
   * Counts are non-overlapping left-to-right in both engines.
   */
  def encodingAudit(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    df.select(col(idCol) +: encodingAuditCols(col(textCol)): _*)

  /** The audit's metric columns over a text column — shared by the batch
   * [[encodingAudit]] (which projects them with the id) and the streaming
   * hygiene gate (which appends them to the full arriving row). */
  def encodingAuditCols(t: Column): Seq[Column] = {
    val repl = regexp_count(t, lit("�"))
    val ctrl = regexp_count(t, lit(controlClass))
    val moji = regexp_count(t, lit("Ã[\\x80-\\xBF]")) +
      regexp_count(t, lit("â€"))
    val nonAscii = regexp_count(t, lit("[^\\x00-\\x7F]"))
    val len = length(t)
    Seq(
      repl.cast("long").as("n_replacement"),
      ctrl.cast("long").as("n_control"),
      moji.cast("long").as("n_mojibake"),
      nonAscii.cast("long").as("n_nonascii"),
      when(len === 0, lit(1000000L))
        .otherwise(floor((len - nonAscii).cast("double") * lit(1000000.0) / len)
          .cast("long")).as("ascii_ppm"),
      (repl + ctrl + moji > 0).as("needs_repair"))
  }

  // -------------------------------------------------------- HTML stripping

  /** Basic named/numeric entities, decoded in fixed order with `&amp;` LAST:
   * plain sequential replace then decodes exactly one level ("&amp;lt;"
   * becomes "&lt;", not "<"), matching a single-pass HTML unescape. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /**
   * HTML → text extraction (the stage before every text-quality filter on a
   * web crawl): drop `<script>`/`<style>` elements wholesale, drop comments,
   * flatten remaining tags to spaces, then decode the basic entities.
   * RE2 has no backreferences, so script/style close-tags are matched by
   * their own literal patterns ((?is) dotall+case-insensitive inline flags
   * work in both engines). Callers chain [[normalize]] for the whitespace
   * this leaves behind. Pure codegen'd projection — no shuffle, linear in
   * bytes, safe on a pathological 1 GB page.
   */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    htmlEntities.foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
  }

  /** `text_clean` (stripped + normalized) + the pre-strip anchor count —
   * link density is the classic boilerplate/navigation-page signal. */
  def withHtmlExtraction(df: DataFrame, htmlCol: String = "html"): DataFrame =
    df.withColumn("text_clean", normalize(stripHtml(col(htmlCol))))
      .withColumn("n_links", occurrences(col(htmlCol), "<a href"))

  // --------------------------------------- within-document paragraph dedup

  /** Keep element i iff its first index in the array is i (first-occurrence
   * filter; stable, order-preserving). */
  def keepFirstOccurrence(paras: Column): Column =
    filter(paras, (p, i) => array_position(paras, p) === i + 1)

  def splitParagraphs(text: Column): Column = split(text, "\\n{2,}")

  /**
   * Within-document repetition removal: split on blank lines (1+ consecutive
   * newlines beyond the first), keep each paragraph's FIRST occurrence
   * (preserving order), reassemble with a canonical double newline. The
   * classic boilerplate-paragraph cleaner for web-crawled training text.
   *
   * List-ops formulation (keep element i iff its first index is i) — the
   * higher-order functions are interpreted, but the work is O(paragraphs²)
   * per document on SHORT arrays, entirely map-side, and stays linear in
   * documents at 100 TB. Adds `text_dedup` and the paragraph counts
   * before and after.
   */
  def withParagraphDedup(df: DataFrame, textCol: String = "text"): DataFrame = {
    val paras = splitParagraphs(col(textCol))
    val kept = keepFirstOccurrence(paras)
    df.withColumn("n_paras", size(paras).cast("long"))
      .withColumn("text_dedup", array_join(kept, "\n\n"))
      .withColumn("n_paras_kept", size(kept).cast("long"))
  }

  // ------------------------------------------------- repetition metrics

  /**
   * Gopher-style within-document repetition metrics (Rae et al. 2021,
   * "Scaling Language Models: Methods, Analysis & Insights from Training
   * Gopher", §A1.1 repetition filters): highly repetitive documents
   * (boilerplate, scraped menus, SEO spam) are poor training text and are
   * filtered on duplicate-line and duplicate-n-gram fractions.
   *
   *   - `n_lines` / `n_dup_lines` / `dup_line_ratio`: newline-split lines
   *     that are exact repeats of an earlier line;
   *   - `n_2grams` / `n_distinct_2grams` / `dup_2gram_ratio`: word 2-grams
   *     occurring more than once (1 − distinct/total);
   *   - `top_2gram_share`: the most frequent 2-gram's share of all 2-grams.
   *
   * Scale shape: line metrics are a pure map-side projection; 2-gram counts
   * explode the one-pass 64-bit [[graft.functions.HashExpressions
   * .wordShingleHashes]] (narrow shuffle rows — (id, long), never gram
   * strings) through two keyed aggregates. Everything is codegen'd; nothing
   * is per-doc quadratic, so a pathological 1 GB document costs O(tokens)
   * like any other. The DuckDB oracle recomputes the grams as strings —
   * identical counts unless two distinct grams collide in 64 bits.
   */
  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val base = df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(array_distinct(lines))).cast("long").as("n_dup_lines"))
    val counts = df.select(col(idCol),
        explode(graft.functions.HashExpressions.wordShingleHashes(col(textCol), 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("cnt"))
    val gramAgg = counts.groupBy(col(idCol)).agg(
      sum(col("cnt")).as("n_2grams"),
      count(lit(1)).as("n_distinct_2grams"),
      max(col("cnt")).as("top_cnt"))
    base.join(gramAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        (col("n_dup_lines").cast("double") / col("n_lines")).as("dup_line_ratio"),
        coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
        coalesce(col("n_distinct_2grams"), lit(0L)).as("n_distinct_2grams"),
        when(col("n_2grams").isNull, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("n_distinct_2grams").cast("double") / col("n_2grams"))
          .as("dup_2gram_ratio"),
        when(col("n_2grams").isNull, lit(null).cast("double"))
          .otherwise(col("top_cnt").cast("double") / col("n_2grams"))
          .as("top_2gram_share"))
  }

  // ------------------------------------- perplexity-proxy quality scoring

  /**
   * Perplexity-proxy quality score without an external model (the CCNet
   * idea, self-trained): fit a character-trigram unigram model on the
   * corpus ITSELF (count / total), then score each document by its mean
   * trigram log-likelihood. Documents full of rare character sequences
   * (mojibake, binary spill, exotic boilerplate) score far below the
   * corpus norm; fluent text sits near it. Two relational passes — a
   * count aggregate (the "training"), then a trigram→model join + per-doc
   * mean — no model artifact, no UDF, fully oracle-expressible.
   *
   * Scale: per-doc gram counting is ROW-LOCAL (ngram_count_pairs), so no
   * corpus-sized exchange exists; the only shuffle is the model aggregate
   * over |distinct trigrams| (≤ charset³, effectively ~100k for web text),
   * which BROADCASTS; the scorer is map-side after the broadcast.
   * `avg_logp` is rounded to 4 decimals so parallel summation order cannot
   * leak into comparisons.
   */
  def trigramLogLikelihood(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // per-(doc, gram) counts computed ROW-LOCALLY by the codegen'd
    // ngram_count_pairs expression: the old explode-then-groupBy(doc, g)
    // formulation shuffled one row per gram INSTANCE (a corpus-sized
    // exchange); counting inside the row leaves only distinct (doc, gram)
    // pairs, with no shuffle at all before the bounded model aggregate.
    // NOT materialized (the r14 sf10 rehearsal finding): the frame is
    // corpus × ~10³ rows — materializing it wrote ~10⁹ rows to block
    // storage at sf10 (the DSIR pair's n^1.13→n^1.23 creep and an 8 GiB
    // OOM), while recomputing the row-local explode for the scorer pass
    // is one extra codegen'd scan — linear and memory-flat.
    val docGrams =
      spreadForCpuWork(df.select(col(idCol), col(textCol)))
        .select(col(idCol),
          explode(graft.functions.HashExpressions.ngramCountPairs(
            col(textCol), 3)).as("__p"))
        .select(col(idCol), col("__p.g").as("g"), col("__p.cnt").as("doc_cnt"))
    val model0 = docGrams.groupBy(col("g")).agg(sum(col("doc_cnt")).as("cnt"))
    // materialize the BOUNDED model (≤ charset³ distinct trigrams — it
    // already broadcasts, so holding it in block storage adds no new
    // boundedness assumption) with the total fused into the barrier
    // action: unmaterialized, broadcast(model), broadcast(total) (which
    // recomputed the model from scratch) and the scorer were three
    // independent subtrees, so the row-local gram extraction ran THREE
    // times per query (the importanceWeights fix, same shape). The
    // corpus-sized docGrams frame itself stays unmaterialized — see the
    // r14 note above; extraction is now two passes (model job + scorer).
    val (model, totRow) = graft.Materialize.withAgg(model0,
      _.agg(sum(col("cnt")).as("total")).head())
    val total = lit(if (totRow.isNullAt(0)) 0L else totRow.getLong(0))
    // mean over gram INSTANCES = Σ doc_cnt·logp / Σ doc_cnt
    val out = docGrams.join(broadcast(model), Seq("g"))
      .select(col(idCol), col("doc_cnt"),
        (col("doc_cnt") * (log(col("cnt")) - log(total))).as("wlogp"))
      .groupBy(col(idCol))
      .agg(sum(col("doc_cnt")).as("n_trigrams"),
        round(sum(col("wlogp")) / sum(col("doc_cnt")), 4).as("avg_logp"))
    out
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): score every corpus doc by
   * how much more likely its character trigrams are under a TARGET-domain
   * model than under the source (corpus) model — the per-doc mean of
   * ln p̂_target(g) − ln p̂_source(g). Sampling proportional to exp(logw)
   * ([[graft.operators.Sampling.weightedSample]]) then reshapes the corpus
   * toward the target domain. Both models are add-half smoothed over the
   * SOURCE vocabulary, so grams the target never saw contribute a large
   * negative (finite) term.
   *
   * Shape: identical to [[trigramLogLikelihood]] — a row-local (doc, gram)
   * count frame (no corpus-sized shuffle) feeds ONE combined model
   * aggregate (source and target counts as two sums of the same bounded
   * groupBy — ≤ hashBuckets keys, broadcasts) and the scorer. The frame is
   * deliberately NOT materialized and the explode recomputes for the
   * scorer pass — see the trigramLogLikelihood note (the r14 sf10
   * rehearsal measured materialization of the ~10⁹-row frame as the DSIR
   * family's super-linear term and its OOM).
   */
  def importanceWeights(df: DataFrame, targetPred: Column,
      idCol: String = "doc_id", textCol: String = "text",
      hashBuckets: Int = 0): DataFrame = {
    // hashBuckets > 0 switches to the paper's HASHED feature space
    // (md5-mod, DuckDB-replayable): the model key space becomes the
    // CONSTANT bucket count instead of the observed vocabulary, so the
    // per-partition partial aggregates, their exchange, and the broadcast
    // model stop growing with the corpus — the fix for the ~n^1.13 the
    // sf1 rehearsal measured on the exact-gram formulation. Bucket
    // counting is still row-local (one codegen'd pass per document).
    val pairs =
      if (hashBuckets > 0)
        graft.functions.HashExpressions.ngramBucketCounts(
          col(textCol), 3, hashBuckets)
      else graft.functions.HashExpressions.ngramCountPairs(col(textCol), 3)
    val gramKey = if (hashBuckets > 0) col("__p.b") else col("__p.g")
    val docGrams =
      spreadForCpuWork(df.select(col(idCol), targetPred.as("__is_tgt"), col(textCol)))
        .select(col(idCol), col("__is_tgt"), explode(pairs).as("__p"))
        .select(col(idCol), col("__is_tgt"),
          gramKey.as("g"), col("__p.cnt").as("doc_cnt"))
    // both models in ONE bounded aggregate: tcnt is the target-restricted
    // conditional sum of the same groupBy (0 where no target doc has g —
    // exactly the old left-join coalesce), so the frame is scanned once
    // for training instead of twice
    val model0 = docGrams.groupBy(col("g")).agg(
      sum(col("doc_cnt")).as("scnt"),
      sum(when(col("__is_tgt"), col("doc_cnt")).otherwise(lit(0L))).as("tcnt"))
    // Materialize the BOUNDED model (≤ hashBuckets rows; observed-vocab
    // rows for the exact-gram form) with the totals fused into the barrier
    // action: unmaterialized, the plan referenced the model from THREE
    // independent subtrees — broadcast(model), broadcast(totals) (which
    // recomputes model from scratch), and the scoring pass — so the
    // corpus-sized gram extraction ran three times (r20 probe: the
    // extraction+model stage alone was a third of q_dsir_weights).
    // Exchanges don't share subtree execution; the barrier makes it two
    // passes (model job + scoring), the minimum without storing the
    // corpus-sized exploded frame (measured and rejected: the write+read
    // of ~docs×grams rows costs more than the extraction it saves).
    // Totals re-enter as LITERALS — same long values, same double
    // promotion, so wlogw is bit-identical.
    val (model, totRow) = graft.Materialize.withAgg(model0,
      _.agg(sum(col("scnt")).as("stotal"),
        count(lit(1)).as("vocab"),
        sum(col("tcnt")).as("ttotal")).head())
    // empty corpus: sums are NULL where the old crossJoin carried a null
    // row into arithmetic that never executed (the scoring join is empty
    // too) — any literal gives the same empty output, so use 0
    def longOr0(i: Int) = lit(if (totRow.isNullAt(i)) 0L else totRow.getLong(i))
    val stotal = longOr0(0)
    val vocab = longOr0(1)
    val ttotal = longOr0(2)
    val half = lit(0.5)
    docGrams.join(broadcast(model), Seq("g"))
      .select(col(idCol), col("doc_cnt"),
        (col("doc_cnt") *
          (log((col("tcnt") + half) /
               (ttotal + half * vocab)) -
           log((col("scnt") + half) /
               (stotal + half * vocab)))).as("wlogw"))
      .groupBy(col(idCol))
      .agg(sum(col("doc_cnt")).as("n_trigrams"),
        // + 0.0 canonicalizes IEEE −0.0 → +0.0 (a ratio that rounds to
        // zero from below stringifies as "-0.0" in some engines)
        (round(sum(col("wlogw")) / sum(col("doc_cnt")), 4) + lit(0.0)).as("logw"))
  }

  /**
   * Out-of-vocabulary rate per document against the corpus's own top-N
   * token vocabulary — the tokenizer-coverage audit: a doc whose tokens
   * mostly fall outside the head vocabulary is foreign-language, garbled,
   * or heavily numeric relative to the corpus, and a rising corpus-level
   * OOV rate means the tokenizer vocabulary no longer fits the data.
   *
   * Shape: the vocabulary is a TakeOrdered top-N of the unigram counts
   * (deterministic (count desc, token) boundary), broadcast as a
   * ≤-vocabSize set; the per-doc probe is a row-local explode + left
   * semi-ish flag aggregated per doc — one partial-aggregatable shuffle
   * keyed by doc id. Docs with no tokens have no rows to aggregate and are
   * absent from the output (no rate exists, fabricating 0 would read as
   * "fully in-vocabulary").
   */
  def oovRate(df: DataFrame, vocabSize: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, s"oovRate: vocabSize must be >= 1, got $vocabSize")
    // materialized: both the vocabulary build and the probe read this
    // frame — tokenize/scan the corpus ONCE, not twice (the trigram-model
    // idiom; the two consumers share no exchange, so ReuseExchange can't
    // dedup them)
    val toks = graft.Materialize(df.select(col(idCol),
      explode(filter(tokens(col(textCol)), t => t =!= "")).as("tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__ov_n"))
      .orderBy(col("__ov_n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(true).as("__ov_in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count_if(col("__ov_in").isNull).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 4) + lit(0.0))
  }

  /**
   * Top-k PMI collocations (Church & Hanks 1990): adjacent whitespace-token
   * bigrams scored by pointwise mutual information — the classic phrase /
   * multi-word-expression miner ("new york" scores high because the pair
   * co-occurs far above chance). `minCount` suppresses the PMI
   * low-frequency pathology (a hapax pair always maxes PMI).
   *
   * Shape: pairing is ROW-LOCAL (zip of the token array with its own
   * tail); the shuffles are the bigram and unigram count aggregates, both
   * partial-aggregatable with bounded (≤ vocab / ≤ vocab²-observed)
   * outputs; totals are one-row frames, and top-k is orderBy+limit →
   * TakeOrdered bounded heaps. Ranking happens on the ROUNDED pmi
   * (w1, w2 tiebreak), so engine float noise cannot reorder the boundary.
   */
  def collocations(df: DataFrame, k: Int = 20, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"collocations: k must be >= 1, got $k")
    require(minCount >= 1, s"collocations: minCount must be >= 1, got $minCount")
    // materialized: the bigram and unigram passes both read the token
    // arrays — tokenize/scan once (the trigram-model idiom)
    val toks = graft.Materialize(df.select(
      filter(tokens(col(textCol)), t => t =!= "").as("__co_toks")))
    val tail = greatest(size(col("__co_toks")) - 1, lit(0))
    val pairs = toks.select(explode(arrays_zip(
        slice(col("__co_toks"), lit(1), tail).as("w1"),
        slice(col("__co_toks"), lit(2), tail).as("w2"))).as("__co_p"))
      .select(col("__co_p.w1").as("w1"), col("__co_p.w2").as("w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val uni = toks.select(explode(col("__co_toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val nb = bi.agg(sum(col("c")).cast("double").as("__co_nb"))
    val nu = uni.agg(sum(col("cu")).cast("double").as("__co_nu"))
    bi.filter(col("c") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("__co_ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("cu").as("__co_cb")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("c"),
        (round(log((col("c") / col("__co_nb")) /
          ((col("__co_ca") / col("__co_nu")) *
           (col("__co_cb") / col("__co_nu")))), 4) + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /**
   * Flesch–Kincaid readability per document (Kincaid et al. 1975): the
   * classic audience-level quality signal — too-low grade suggests
   * fragments/listicles, implausibly high suggests run-on garbage. Word
   * count = non-whitespace runs; sentences = terminator runs `[.!?]+`
   * floored at 1 (a fragment is one sentence, not a division by zero);
   * syllables = vowel-group runs floored at the word count (every word
   * has ≥ 1 syllable — the standard heuristic, engine-mirrorable as plain
   * regexp counts, no dictionary). Outputs NULL metrics for empty/no-word
   * docs. 4dp rounds; everything is a row-local regexp projection, no
   * shuffle.
   */
  def readability(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val words = size(regexp_extract_all(col(textCol),
      lit("[^ \\t\\n\\f\\r]+"), lit(0))).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    val vruns = size(regexp_extract_all(col(textCol),
      lit("[aeiouyAEIOUY]+"), lit(0))).cast("long")
    df.select(col(idCol), words.as("n_words"), sents.as("n_sentences"),
        greatest(words, vruns).as("n_syllables"))
      .withColumn("wps",
        col("n_words").cast("double") / col("n_sentences"))
      // ANSI mode: guard the by-words division (0-word docs NULL out here
      // and stay NULL through the gated metrics)
      .withColumn("spw", when(col("n_words") > 0,
        col("n_syllables").cast("double") / col("n_words")))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") > 0,
          round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - 15.59, 4)
            + lit(0.0)).as("fk_grade"),
        when(col("n_words") > 0,
          round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 4)
            + lit(0.0)).as("reading_ease"))
  }

  /**
   * Compressibility quality signals per document: UTF-8 byte length, raw
   * DEFLATE size ([[graft.functions.DeflateSize]]), and their ratio —
   * the Gopher/MassiveText-family heuristic that catches what token
   * statistics miss: templated/boilerplate text compresses to a tiny
   * fraction of its size (ratio → 0), while encrypted/binary junk pasted
   * into a "text" field barely compresses (ratio → 1); natural prose sits
   * in a stable mid band. Empty docs report ratio NULL (no evidence, not
   * perfect compressibility).
   *
   * Shape: pure row-local projection — one codegen'd expression per row,
   * no shuffle, no driver state; trivially 100 TB-safe. Not
   * oracle-expressible (no deflate in the oracle engine): rows-only, with
   * the orderings and edge cases pinned by spec.
   */
  def compressionSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        graft.functions.CompressExpressions.deflateSize(col(textCol))
          .as("deflate_bytes"))
      .withColumn("ratio", when(col("n_bytes") > 0,
        round(col("deflate_bytes").cast("double") / col("n_bytes"), 4)
          + lit(0.0)))

  /** Content fingerprint: md5 of whitespace-normalized lowercased text.
   * md5 is bit-identical across engines (unlike xxhash64/DuckDB hash), so
   * it doubles as the exact-dedup key the oracle can recompute. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), wsClass + "+", " ")))

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing: Local
   * Algorithms for Document Fingerprinting", SIGMOD 2003): hash every token
   * k-gram, slide a window of `w` hashes, keep each window's minimum →
   * a compact fingerprint set that overlaps heavily for documents sharing
   * any sufficiently long passage. Guarantees: any shared run of
   * w + k − 1 tokens produces ≥1 shared fingerprint.
   *
   * NULL text yields an EMPTY fingerprint set, same as too-short text —
   * the expression chain underneath is null-intolerant (NULL in → NULL
   * out), so the contract needs the explicit coalesce; without it a NULL
   * doc's `size(fps)` is -1 and set-overlap joins silently drop the row.
   */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    coalesce(
      array_distinct(graft.functions.HashExpressions.slidingMin(
        graft.functions.HashExpressions.wordShingleHashes(text, k), w)),
      array().cast("array<bigint>"))

  /**
   * Overlapping token-window chunking — the embedding/context-window prep
   * step (RAG corpora, long-doc embedding, packing long documents into
   * model-sized pieces): each doc explodes into windows of `chunk`
   * whitespace tokens advancing by `chunk − overlap`, so consecutive
   * chunks share `overlap` tokens and no token is lost (the final window
   * may be shorter). Output: one row per chunk — (id, chunk_id, start_tok,
   * n_chunk_tokens, chunk_text).
   *
   * Shape: pure map-side explode — no shuffle, no state; chunk counts per
   * doc are ⌈n/step⌉ so output size is input size × (1 + overlap/step).
   * The tokenizer re-evaluates per CHUNK (projection collapse inlines the
   * split into the post-explode slice) — a deliberate constant-factor
   * trade for staying expression-only; at 100 TB the alternative is one
   * `Materialize` barrier carrying the token arrays, which costs a full
   * materialized copy to save the re-tokenize.
   */
  /**
   * C4-style line/document cleaning (Raffel et al. 2020, "Exploring the
   * Limits of Transfer Learning…", §2.2 — the public C4 heuristics):
   * keep only lines that end in terminal punctuation, contain ≥ 5 words,
   * and don't mention "javascript"; keep only documents with ≥ 3
   * surviving lines, no "lorem ipsum", and no curly braces. Output: one
   * row per input doc — (id, n_lines, n_kept, c4_keep, clean_chars) —
   * so the caller can either gate on `c4_keep` or re-derive the cleaned
   * text; `clean_chars` is the length of the kept lines rejoined.
   *
   * Shape: pure map-side higher-order array expressions over the line
   * split — no shuffle, no window, no UDF; scales embarrassingly.
   */
  def withC4Filter(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l => {
      val t = trim(l)
      // \z, not $: Java's $ also matches before a trailing \r (lines are
      // split on \n, so a CRLF doc leaves \r at line end); RE2's $ in the
      // DuckDB oracle is strict end-of-string.
      t.rlike("[.!?\"]\\z") &&
        size(filter(split(t, wsClass + "+"), w => length(w) > 0)) >= 5 &&
        !lower(t).contains("javascript")
    })
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      (size(kept) >= 3 &&
        !lower(col(textCol)).contains("lorem ipsum") &&
        !col(textCol).contains("{")).as("c4_keep"),
      length(array_join(kept, "\n")).cast("long").as("clean_chars"))
  }

  /**
   * TF-IDF top terms per document — the classic IR relevance weighting
   * (Salton & Buckley 1988) with the smoothed idf sklearn popularized:
   * idf = ln((N+1)/(df+1)) + 1, so unseen-in-corpus terms can't divide
   * by zero and every idf stays positive. Returns the `topK` terms per
   * doc by tf·idf (ties broken by term asc), with the raw tf/df counts.
   *
   * Shape: explode → partial-aggregated (doc, term) counts (one shuffle
   * on (doc, term)), document frequency re-aggregated from those counts
   * (one shuffle on term, already deduped per doc so it's a count not a
   * countDistinct), N broadcast as a one-row aggregate, and the top-k
   * pick is a window partitioned by DOC — high-cardinality keys whose
   * partition size is one doc's vocabulary, so there is no hot-key
   * funnel a boilerplate value could create. Score is rounded to 6dp
   * (+0.0 canonicalizes IEEE −0.0) so rank order is engine-stable.
   */
  def tfIdfTopTerms(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 5): DataFrame = {
    require(topK >= 1, s"tfIdfTopTerms: topK must be >= 1, got $topK")
    // (doc, term) counts ONCE, materialized: both the df aggregate and the
    // scoring join read this frame — tokenize/explode and the widest
    // shuffle happen a single time (same idiom as trigramLogLikelihood)
    val tf = graft.Materialize(df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df_t") + lit(1.0))) + lit(1.0)), 6) + lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("trank", row_number().over(w).cast("long"))
      .filter(col("trank") <= topK)
      .select(col(idCol), col("trank"), col("term"), col("tf"),
        col("df_t"), col("tfidf"))
  }

  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      chunk: Int, overlap: Int = 0): DataFrame = {
    require(chunk >= 1, s"chunkByTokens: chunk must be >= 1, got $chunk")
    require(overlap >= 0 && overlap < chunk,
      s"chunkByTokens: overlap must be in [0, chunk), got $overlap (chunk=$chunk)")
    val step = chunk - overlap
    val toks = tokens(col(textCol))
    df.select(col(idCol), toks.as("__ck_toks"))
      .select(col(idCol), col("__ck_toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("__ck_toks")) - 1, lit(0)), lit(step))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        size(slice(col("__ck_toks"), col("col") + 1, lit(chunk)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("__ck_toks"), col("col") + 1, lit(chunk)), " ")
          .as("chunk_text"))
  }

  /**
   * Okapi BM25 relevance of every document against a fixed query-term set
   * (Robertson & Spärck Jones; the probabilistic idf variant
   * ln(1 + (N − df + 0.5)/(df + 0.5)) that stays positive). Returns every
   * doc with (dl, n_hits, bm25) — docs matching no query term score 0.
   *
   * Shape — NO (doc, term) shuffle at all: the per-term tfs are
   * conditional-count columns of ONE doc-keyed aggregate (tokenize once,
   * explode, partial-aggregatable — map-side combine collapses each doc's
   * tokens before the exchange, so the shuffle carries ~one row per doc);
   * corpus constants (N, Σdl, per-term df) are a single one-row aggregate
   * that broadcasts. Per-term score columns then sum in FIXED index order —
   * no float reduction whose order an engine could pick — which is what
   * lets the oracle replay this bit-for-bit modulo one final rounding.
   * Query terms are lowercase-matched; `terms.size` columns bound the
   * width (queries are short; this is search scoring, not tf-idf).
   */
  def bm25Scores(df: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase).distinct.sorted
    require(terms.nonEmpty, "bm25Scores: need at least one query term")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"bm25Scores: need k1 > 0 and b in [0,1], got k1=$k1 b=$b")
    val stats = df
      .select(col(idCol), explode_outer(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol)).agg(
        count(when(length(col("term")) > 0, 1)).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          count(when(col("term") === t, 1)).as(s"tf_$i") }: _*)
    val corpus = stats.agg(
      count(lit(1)).as("n_docs"),
      ((sum(col("dl")) / count(lit(1))).as("avgdl") +:
        terms.indices.map(i =>
          sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))): _*)
    val scored = stats.crossJoin(broadcast(corpus))
    def sTerm(i: Int) = {
      val tf = col(s"tf_$i").cast("double")
      val dfT = col(s"df_$i").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * ((tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / col("avgdl")))))
    }
    val nHits = terms.indices.map(i => (col(s"tf_$i") > 0).cast("long"))
      .reduceLeft(_ + _)
    scored.select(col(idCol), col("dl"), nHits.as("n_hits"),
      (round(terms.indices.map(sTerm).reduceLeft(_ + _), 6) + lit(0.0)).as("bm25"))
  }

  /**
   * Hashed-feature linear text classifier INFERENCE (the fastText /
   * Vowpal Wabbit "hashing trick", Weinberger et al. 2009): every token
   * hashes into one of `nBuckets` feature buckets; the model is one weight
   * per bucket — a tiny table that BROADCASTS; a document's logit is
   * `bias + (Σ_token w[h(token)]) / n_tokens` (mean pooling, fastText
   * style) and its label the logit's sign. Model inference at corpus scale
   * as pure dataflow: no per-row UDF, no ML runtime on executors — one
   * partial-aggregatable (doc, bucket) count shuffle (the tf skeleton), a
   * broadcast join against the weight table, one keyed sum.
   *
   * The bucket hash is the md5-prefix→bigint idiom (52 bits, exact in a
   * double-free path, DuckDB-replayable); production would swap xxhash64 —
   * identical plan shape. `model` is (bucket LONG, weight DOUBLE); buckets
   * absent from it weigh 0. Tokenless docs score `bias`. Output:
   * (id, n_tokens, logit, score, label). `score` (the sigmoid) is for
   * callers; oracle checks pin `logit`/`label`, since libm `exp` is not
   * bit-identical across engines.
   */
  def hashedLinearScore(df: DataFrame, model: DataFrame, nBuckets: Int,
      bias: Double = 0.0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nBuckets >= 1, s"hashedLinearScore: nBuckets must be >= 1, got $nBuckets")
    val bucket = conv(substring(md5(col("term")), 1, 13), 16, 10)
      .cast("long") % nBuckets
    val counts = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
      .select(col(idCol), bucket.as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("cnt"))
    val dotted = counts.join(broadcast(model), Seq("bucket"), "left")
      .groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * coalesce(col("weight"), lit(0.0))).as("dot"))
    df.select(col(idCol)).join(dotted, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("logit", lit(bias) + coalesce(col("dot") / col("n_tokens"), lit(0.0)))
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
      .withColumn("label", col("logit") > 0)
      .select(col(idCol), col("n_tokens"), col("logit"), col("score"), col("label"))
  }
}
