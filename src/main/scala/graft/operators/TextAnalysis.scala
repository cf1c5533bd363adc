package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  * All are pure column expressions (whole-stage codegen, no UDFs) so they
  * run at scan speed over a 100 TB corpus and push down through Catalyst.
  */
object TextAnalysis {

  /** Whitespace tokens, empty tokens removed. Single-space split keeps
    * semantics portable across engines; `tokenizeRegex` is the BPE-ish
    * variant.
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** BPE-ish tokenization: letter-runs, digit-runs, or single punctuation —
    * the common pre-tokenizer shape (GPT-2 style, simplified).
    */
  def tokenizeRegex(text: Column): Column =
    filter(split(regexp_replace(text, "([^\\p{L}\\p{N}\\s])", " $1 "), "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** PII scrub patterns, written to the Java-regex ∩ RE2 common subset so
    * masking behaves identically in Spark and any RE2 engine (DuckDB,
    * Go): character classes, bounded repetition, no lookarounds.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongDigitsRe = "[0-9]{9,}"

  /** The HOST of a URL, lowercased (scheme and port stripped) — the
    * unit RefinedWeb-style URL filtering groups and blocklists on.
    * RE2 ∩ java-regex subset like every scrub pattern here, so the
    * DuckDB oracle replays it identically; a string with no
    * `scheme://` prefix yields the empty string (filter upstream).
    */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1))

  /** Approximate REGISTRABLE domain: the last two dot-labels of
    * [[urlHost]] (`cdn.img.example.com → example.com`). HONEST LIMIT:
    * without the public-suffix list (offline by design), multi-label
    * suffixes group one level too high (`foo.co.uk → co.uk`) — per-
    * suffix pooling rather than over-splitting, the conservative
    * failure for quota/blocklist use. Swap in a PSL-backed extractor
    * where the list is available; the relational shape is unchanged.
    */
  def registrableDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Mask emails → <EMAIL>, URLs → <URL>, long digit runs → <NUM> (the
    * standard pre-training scrub). Order matters and is part of the
    * contract: emails first (an address inside a URL masks as email),
    * then URLs (removing their digits), then bare digit runs.
    */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      LongDigitsRe, "<NUM>")

  /** Pre-mask PII hit counts per kind (regexp_extract_all → size). */
  def piiCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_urls", size(regexp_extract_all(t, lit(UrlRe), lit(0))).cast("long"))
      .withColumn("n_nums", size(regexp_extract_all(t, lit(LongDigitsRe), lit(0))).cast("long"))
  }

  /** Per-source corpus DATASHEET — the summary card a curation
    * pipeline publishes with a release (Gebru et al.'s datasheet idea
    * reduced to the exactly-computable corpus row): document and token
    * counts, mean length, exact-duplicate mass (docs beyond the first
    * of each normalized-[[fingerprint]] group), short-document count,
    * and pre-mask PII hit totals per kind. Every column is exact-count
    * arithmetic except `mean_tokens` — one double division of two
    * exact longs, the q27 cross-engine convention — so the whole card
    * is oracle-checkable cell-exact.
    *
    * Scale shape: one codegen projection per row (token split, md5
    * fingerprint, three RE2-subset regex extracts) and ONE hash
    * aggregation on the source — |sources| output rows, no second
    * shuffle (the dup count rides `count_distinct` inside the same
    * aggregation).
    */
  def corpusCard(
      df: DataFrame, idCol: String, textCol: String, sourceCol: String,
      shortDocTokens: Int = 30): DataFrame = {
    val t = col(textCol)
    val enriched = df.select(col(sourceCol),
      tokenCount(t).cast("long").as("__ntok"),
      fingerprint(t).as("__fp"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long")
        .as("__nem"),
      size(regexp_extract_all(t, lit(UrlRe), lit(0))).cast("long")
        .as("__nur"),
      size(regexp_extract_all(t, lit(LongDigitsRe), lit(0))).cast("long")
        .as("__nnum"))
    enriched.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        (sum(col("__ntok")).cast("double") /
          count(lit(1)).cast("double")).as("mean_tokens"),
        (count(lit(1)) - countDistinct(col("__fp"))).as("n_dup_docs"),
        sum(when(col("__ntok") < shortDocTokens, 1L).otherwise(0L))
          .as("n_short_docs"),
        sum(col("__nem")).as("n_emails"),
        sum(col("__nur")).as("n_urls"),
        sum(col("__nnum")).as("n_digit_runs"))
  }

  /** Repetition-based quality signals (the Gopher/C4 filter family):
    * duplicate-token fraction and the most-repeated bigram with its
    * count. All exact-count arithmetic (deterministic cross-engine);
    * the bigram argmax uses a zero-padded count:bigram composite string
    * so max() is a portable argmax (DuckDB's max_by can't take struct
    * keys). One pass of array expressions + one hash aggregation on the
    * exploded bigrams — scan-speed at any corpus size.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val base = df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("dup_token_frac",
        when(col("n_tokens") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
    // long-form bigrams via the shingle window (codegen, no lambdas)
    val bigrams = graft.operators.Dedup.shingleRows(
        df.select(col(idCol), col(textCol)), idCol, textCol, 2)
      .groupBy(col(idCol), col("sh"))
      .agg(count(lit(1)).as("cnt"))
    val top = bigrams
      .groupBy(col(idCol))
      .agg(max(concat(lpad(col("cnt").cast("string"), 12, "0"), lit(":"), col("sh")))
        .as("top_composite"))
      .select(col(idCol),
        substring(col("top_composite"), 1, 12).cast("long").as("top_bigram_cnt"),
        substring(col("top_composite"), 14, 1000000).as("top_bigram"))
    base.join(top, Seq(idCol), "left")
      .na.fill(0L, Seq("top_bigram_cnt"))
  }

  /** The Gopher document-quality rule set (Rae et al. 2021, appendix
    * A1.1 — the filter battery most corpus pipelines start from),
    * per document: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (`#` and ellipses), bullet-/ellipsis-line
    * fractions, alphabetic-word fraction, and a minimum count of
    * DISTINCT required stopwords; `keep` is the conjunction. All
    * signals are exact-count arithmetic (integer counts, one double
    * division each — the q27 cross-engine convention), so the whole
    * gate is oracle-checkable cell-exact.
    *
    * Words here are WHITESPACE-regex tokens (`\s+`, so newlines split
    * words too — unlike [[tokens]]' single-space split, because the
    * line rules make multi-line text first-class); lines are the
    * non-empty `\n` segments. One pass of codegen per-row
    * expressions — no shuffle, no UDF.
    */
  def gopherQualityRules(
      df: DataFrame, textCol: String,
      stopwords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopKinds: Int = 2): DataFrame = {
    val t = col(textCol)
    val toks = filter(split(t, "\\s+"), w => w =!= "")
    val nW = size(toks).cast("long")
    val meanLen = when(nW > 0,
      aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        nW.cast("double")).otherwise(lit(0.0))
    def occ(pat: String, patLen: Int): Column =
      ((length(t) - length(replace(t, lit(pat), lit("")))) / patLen)
        .cast("long")
    val nSym = occ("#", 1) + occ("…", 1) + occ("...", 3)
    val symRatio = when(nW > 0,
      nSym.cast("double") / nW.cast("double")).otherwise(lit(0.0))
    val lines = filter(split(t, "\n"), l => l =!= "")
    val nLines = size(lines).cast("long")
    def lineFrac(p: Column => Column): Column =
      when(nLines > 0,
        size(filter(lines, p)).cast("double") / nLines.cast("double"))
        .otherwise(lit(0.0))
    val bulletFrac = lineFrac(l =>
      ltrim(l).startsWith("- ") || ltrim(l).startsWith("•") ||
        ltrim(l).startsWith("* "))
    val ellipsisFrac = lineFrac(l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))
    val alphaFrac = when(nW > 0,
      size(filter(toks, w => w.rlike("\\p{L}"))).cast("double") /
        nW.cast("double")).otherwise(lit(0.0))
    val lowToks = transform(toks, w => lower(w))
    val stopKinds = stopwords.sorted.map(s =>
      when(array_contains(lowToks, s), 1L).otherwise(0L))
      .reduce(_ + _)
    df.withColumn("n_words", nW)
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_ratio", symRatio)
      .withColumn("bullet_line_frac", bulletFrac)
      .withColumn("ellipsis_line_frac", ellipsisFrac)
      .withColumn("alpha_word_frac", alphaFrac)
      .withColumn("n_stop_kinds", stopKinds)
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_line_frac") <= maxBulletFrac &&
          col("ellipsis_line_frac") <= maxEllipsisFrac &&
          col("alpha_word_frac") >= minAlphaFrac &&
          col("n_stop_kinds") >= minStopKinds)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, reduced to
    * its SQL-replicable core) — the complement of
    * [[gopherQualityRules]]' document-level gate: a LINE is retained
    * iff it ends in terminal punctuation (`.` `!` `?` `"`), carries at
    * least `minLineWords` words, and does not mention javascript
    * (case-insensitive — C4's boilerplate tell); the PAGE survives iff
    * at least `minKeptLines` lines were retained and the raw text
    * contains neither `{` (code tell) nor "lorem ipsum". Returns the
    * input plus `n_lines`, `n_kept`, `page_keep`, and `clean_text`
    * (the retained lines re-joined with newlines — empty when nothing
    * survives). One pass of per-row array/string expressions, no
    * shuffle; every rule is exact string arithmetic, so the whole
    * battery is oracle-checkable cell-exact.
    */
  def c4LineFilters(
      df: DataFrame, textCol: String,
      minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val t = col(textCol)
    val lines = filter(split(t, "\n"), l => l =!= "")
    val kept = filter(lines, l =>
      (rtrim(l).endsWith(".") || rtrim(l).endsWith("!") ||
        rtrim(l).endsWith("?") || rtrim(l).endsWith("\"")) &&
        size(filter(split(l, " "), w => w =!= "")) >= minLineWords &&
        !lower(l).contains("javascript"))
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept", size(kept).cast("long"))
      .withColumn("page_keep",
        size(kept) >= minKeptLines &&
          !t.contains("{") && !lower(t).contains("lorem ipsum"))
      .withColumn("clean_text", array_join(kept, "\n"))
  }

  /** Word-boundary blocklist gate — the C4 "bad words" filter (Raffel
    * et al. 2020 §2.2 drop any page containing a blocklisted word; the
    * reference's closest relative is its topic-allowlist semi-join,
    * routes/voting.py:113-118, inverted to a content denylist). Hits
    * are counted on WHITESPACE TOKENS of the lowercased text, so
    * matching is word-boundary exact — a blocked `scan` never fires
    * inside `scanner`, the failure mode of substring blocklists.
    * Two-word `phrases` match on adjacent token pairs (the bigram
    * stream), same boundary rule.
    *
    * Returns every input row plus `n_term_hits` (token occurrences of
    * any blocked term), `n_distinct_terms` (how many DISTINCT blocked
    * terms appear — the severity signal reviewers triage on),
    * `n_phrase_hits`, and `keep` (no hit of either kind). Pure per-row
    * array expressions against two broadcast-literal lists — no
    * shuffle, no join, scan-speed over 100 TB; exact integer counts,
    * so the gate is oracle-checkable cell-exact. For blocklists past
    * the low thousands (where a literal `isInCollection` expression
    * stops being the right plan), explode the token stream and
    * semi-join a broadcast blocklist table instead — same semantics,
    * one map-side join.
    */
  def blocklistFilter(df: DataFrame, textCol: String,
      terms: Seq[String], phrases: Seq[String] = Nil): DataFrame = {
    require(terms.nonEmpty || phrases.nonEmpty,
      "blocklistFilter needs at least one term or phrase")
    require(phrases.forall(_.split(" ").count(_.nonEmpty) == 2),
      s"phrases must be exactly two space-separated words, got: " +
        phrases.filterNot(_.split(" ").count(_.nonEmpty) == 2).mkString(", "))
    val toks = tokens(lower(col(textCol)))
    val nTermHits =
      if (terms.isEmpty) lit(0L)
      else size(filter(toks, w => w.isInCollection(terms))).cast("long")
    val nDistinct =
      if (terms.isEmpty) lit(0L)
      else size(array_intersect(toks, lit(terms.toArray))).cast("long")
    // adjacent-pair bigrams; sequence(1, n-1) needs the n >= 2 guard
    // (Spark's sequence(1, 0) yields the DESCENDING [1, 0], not empty)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val nPhraseHits =
      if (phrases.isEmpty) lit(0L)
      else size(filter(bigrams, g => g.isInCollection(phrases))).cast("long")
    df.withColumn("n_term_hits", nTermHits)
      .withColumn("n_distinct_terms", nDistinct)
      .withColumn("n_phrase_hits", nPhraseHits)
      .withColumn("keep", nTermHits === 0 && nPhraseHits === 0)
  }

  /** Quality-score feature bundle. Ratios are exact-count divisions —
    * deterministic doubles on any engine.
    */
  def qualityFeatures(df: DataFrame, textCol: String, stopwords: Seq[String]): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks).cast("long")
    val stopHits = size(filter(toks, w => lower(w).isInCollection(stopwords))).cast("long")
    df.withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("n_tokens", nTok)
      .withColumn("n_stop", stopHits)
      .withColumn(
        "stop_ratio",
        when(nTok > 0, stopHits.cast("double") / nTok.cast("double")).otherwise(lit(0.0)))
      .withColumn(
        "mean_token_len",
        when(nTok > 0,
          aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
            nTok.cast("double")).otherwise(lit(0.0)))
  }

  /** n-gram language ID heuristic: score = stopword-hit ratio per language
    * wordlist; predicted language = argmax (deterministic tie-break by
    * language name). Trivially extended with more lists; runs as one pass
    * of array expressions.
    */
  def langId(df: DataFrame, textCol: String, wordlists: Map[String, Seq[String]]): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val nTok = size(toks).cast("double")
    val scored = wordlists.toSeq.sortBy(_._1).foldLeft(df) { case (acc, (lang, words)) =>
      acc.withColumn(
        s"score_$lang",
        when(size(toks) > 0,
          size(filter(toks, w => w.isInCollection(words))).cast("double") / nTok)
          .otherwise(lit(0.0)))
    }
    // linear argmax: greatest over (score, -index) structs — a fold that
    // re-nests the running best would grow the expression tree 2^|langs|
    val langs = wordlists.keys.toSeq.sorted
    val bestStruct =
      if (langs.size == 1) struct(col(s"score_${langs.head}").as("s"), lit(0).as("negIdx"))
      else greatest(langs.zipWithIndex.map { case (lang, i) =>
        struct(col(s"score_$lang").as("s"), lit(-i).as("negIdx"))
      }: _*)
    val predFromIdx = langs.zipWithIndex.foldLeft(lit(langs.head)) {
      case (acc, (lang, i)) =>
        when(bestStruct.getField("negIdx") === -i, lit(lang)).otherwise(acc)
    }
    scored.withColumn("pred_lang", predFromIdx)
  }

  /** Content fingerprint: md5 of case/whitespace-normalized text (runs
    * of whitespace collapse to one space) — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Deterministic 48-bit rolling (polynomial) hash of the token stream —
    * document fingerprinting robust to whitespace layout:
    * h = (h*31 + u32(xxhash64(token))) masked to 48 bits each step, so
    * the arithmetic never overflows a long (ANSI mode throws on wrap).
    */
  /** Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    * SIGMOD'03): hash every word n-gram, slide a window of `w` consecutive
    * n-gram hashes, keep the minimum of each window — any sufficiently
    * long match between two documents is guaranteed to share a selected
    * fingerprint, at ~2/(w+1) of the n-gram count.
    *
    * Per doc: n_kgrams, the selected-fingerprint count, and min/max
    * selected fingerprint. Hashes are md5-derived ([[Dedup.md5Hash60]]) so
    * the whole selection is reproducible in ANSI SQL (oracle-checkable).
    * One shuffle on the id: the n-gram window, the winnow window, and the
    * final aggregation all share its partitioning.
    *
    * Docs shorter than one window (m < w n-grams) yield one fingerprint:
    * the minimum over all their n-gram hashes.
    */
  private def winnowed(
      df: DataFrame, idCol: String, textCol: String, n: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1, s"window w=$w must be >= 1")
    val hashed = Dedup.shingleRowsPos(df, idCol, textCol, n)
      .select(col(idCol), col("pos"), Dedup.md5Hash60(col("sh")).as("h"))
    val byId = Window.partitionBy(col(idCol))
    val winFrame = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    hashed
      .withColumn("m", max(col("pos")).over(byId) + 1)
      .withColumn("win_min", min(col("h")).over(winFrame))
      // windows that fit entirely (pos+w <= m); short docs keep pos 0,
      // whose frame covers every n-gram they have
      .filter(col("pos") + w <= col("m") || (col("m") < w && col("pos") === 0))
  }

  /** The selected fingerprints themselves, one row per (doc, fingerprint)
    * — what a plagiarism/dup index stores and joins on.
    */
  def winnowFingerprintRows(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame =
    winnowed(df, idCol, textCol, n, w)
      .select(col(idCol), col("win_min").as("fp")).distinct()

  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4): DataFrame =
    winnowed(df, idCol, textCol, n, w)
      .groupBy(col(idCol))
      .agg(
        first(col("m")).cast("long").as("n_kgrams"),
        countDistinct(col("win_min")).as("n_fps"),
        min(col("win_min")).as("min_fp"),
        max(col("win_min")).as("max_fp"))

  // --------------------------------------------- line-level boilerplate

  /** (doc, line_no, line, trimmed) long-form line relation — one codegen
    * generator, no shuffle.
    */
  private def lineRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("trimmed", trim(col("line")))

  /** Corpus boilerplate lines (CCNet-style line dedup across documents):
    * a non-empty trimmed line appearing in at least `minDf` DISTINCT
    * documents is chrome (footers, cookie banners, nav), not content.
    * One shuffle on the line text; at 100 TB pre-hash the line and count
    * hashes — the df threshold only needs equality.
    */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Long): DataFrame =
    lineRows(df, idCol, textCol)
      .filter(col("trimmed") =!= "")
      .groupBy(col("trimmed"))
      .agg(countDistinct(col(idCol)).as("line_df"))
      .filter(col("line_df") >= minDf)

  /** Documents with corpus-boilerplate lines removed: per doc, the kept
    * line count, removed count, and the cleaned text (original line
    * order). Fully-boilerplate docs survive with empty text, like the
    * filtering stage of a real pipeline (dropping them is a separate
    * policy decision). The boilerplate relation is df-thresholded and
    * therefore small — the anti-join auto-broadcasts.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      minDf: Long): DataFrame = {
    val lines = lineRows(df, idCol, textCol)
    val bp = boilerplateLines(df, idCol, textCol, minDf).select("trimmed")
    val kept = lines.join(bp, Seq("trimmed"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")), "\n").as("cleaned_text"))
    lines.groupBy(col(idCol)).agg(count(lit(1)).as("__n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Order-sensitive cross-document PARAGRAPH dedup (the Dolma rule —
    * [[removeBoilerplate]]'s frequency threshold removes chrome from
    * EVERY document; this keeps each duplicated paragraph's FIRST
    * occurrence and drops every later copy, duplicated twice or ten
    * thousand times alike): the first occurrence of a non-empty trimmed
    * line is the one with the smallest `(idCol, line_no)` corpus-wide
    * (one map-side-combinable min(struct) argmin per distinct line —
    * no window, no sort); empty lines are layout, not content, and are
    * never deduplicated. Output per doc: kept/removed counts and the
    * reassembled `cleaned_text` in original line order. At 100 TB the
    * argmin groupBy and the join-back key on the raw line string —
    * pre-hash the line and carry `(hash, doc, line_no)` instead (the
    * [[boilerplateLines]] note); equality is all either side needs.
    */
  def dedupParagraphs(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = lineRows(df, idCol, textCol)
    val firsts = lines.filter(col("trimmed") =!= "")
      .groupBy(col("trimmed"))
      .agg(min(struct(col(idCol).as("__i"), col("line_no").as("__l")))
        .as("__first"))
      .select(col("trimmed"), col("__first.__i").as("__i"),
        col("__first.__l").as("__l"))
    val kept = lines.join(firsts, Seq("trimmed"), "left")
      .filter(col("trimmed") === "" ||
        (col(idCol) === col("__i") && col("line_no") === col("__l")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"),
            col("line")))), s => s.getField("line")), "\n")
          .as("cleaned_text"))
    lines.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  // ---------------------------------------------- n-gram heavy hitters

  /** Top-k word n-grams per group (corpus analytics / template mining):
    * shingle long-form, count per (group, shingle) with partial
    * aggregation absorbing the skew of common n-grams, then a per-group
    * top-k window. Deterministic tiebreak (count DESC, ngram ASC).
    */
  def ngramHeavyHitters(df: DataFrame, groupCol: String, idCol: String,
      textCol: String, n: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Dedup.shingleRows(df, idCol, textCol, n)
    val counts = sh
      .join(df.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(col(groupCol), col("sh"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col("sh").asc)
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col(groupCol), col("sh").as("ngram"), col("cnt"), col("rk"))
  }

  // ---------------------------------------------- HTML -> text

  /** HTML-to-text extraction — the first step of a web-corpus pipeline:
    * drop script/style blocks, strip tags, decode character references,
    * collapse whitespace. The structural strips are a scan-speed
    * `regexp_replace` chain whose patterns parse identically under Java
    * regex and RE2 (no backreferences, so a DuckDB/Trino oracle can
    * replay them verbatim); the entity step is the native
    * [[graft.plans.HtmlEntityDecode]] expression — numeric decimal/hex
    * references plus the practical named set, decoded in one no-rescan
    * left-to-right pass exactly like an HTML tokenizer (`&amp;lt;` →
    * literal `&lt;`, which no replace-chain ordering can express).
    * Whole-stage codegen throughout, no UDF. Not a spec-complete HTML5
    * parser (no CDATA, conditional comments, or malformed-tag
    * recovery) — the corpus-filter tradeoff, stated.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val ent = graft.plans.GraftFunctions.htmlEntityDecode(noTags)
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** [[htmlToText]] preserving BLOCK structure as lines: closing
    * block-level tags (`</p> </div> </li> </h1..6> </tr>`) and `<br>`
    * become newlines BEFORE tag stripping, then whitespace collapses
    * per line (newlines survive, runs of blank lines fold to one).
    * This is the extractor the LINE-level quality rules need —
    * [[c4LineFilters]] splits on newlines, and [[htmlToText]]'s global
    * whitespace collapse would leave every page a single line that the
    * 3-kept-lines minimum always kills. Same script/style/comment
    * removal and entity decode as [[htmlToText]]; same Java-regex/RE2
    * common subset.
    */
  def htmlToTextLines(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // br's tag name is anchored (whitespace, "/", or ">" must follow):
    // a bare "br[^>]*" also matched any tag merely STARTING with br
    // (<broken>, <breadcrumb …>) and minted spurious line breaks
    val breaks = regexp_replace(noComment,
      "(?i)<(/p|/div|/li|/h[1-6]|/tr|br(\\s[^>]*)?/?)>", "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", " ")
    val ent = graft.plans.GraftFunctions.htmlEntityDecode(noTags)
    // collapse within lines, then trim each line and fold blank runs
    val oneSpace = regexp_replace(ent, "[^\\S\\n]+", " ")
    val trimmedLines = regexp_replace(oneSpace, " ?\\n ?", "\n")
    regexp_replace(
      regexp_replace(trimmedLines, "\\n+", "\n"), "^\\s+|\\s+$", "")
  }

  // ---------------------------------------------- bigram LM scoring

  /** Corpus-trained bigram language-model score per document — the
    * KenLM/CCNet-style perplexity filter of a training-data pipeline:
    * documents whose token bigrams are improbable under the corpus's own
    * bigram statistics (gibberish, boilerplate soup, wrong-language
    * text) score low and can be thresholded out.
    *
    * Model: additive (add-α) smoothing,
    * `lp(w1,w2) = ln((c(w1,w2) + α) / (c(w1·) + α·V))`, averaged over a
    * document's bigrams; docs with fewer than 2 tokens are dropped.
    * Per-bigram log-probs are cast to DECIMAL(18,12) before the per-doc
    * sum (the repo's cross-engine float rule), so the mean is
    * summation-order-free and reproducible.
    *
    * Scale shape: two shuffles — the count-train groupBys reuse the same
    * bigram relation partitioning, the score join keys on (w1,w2) where
    * partial aggregation has already collapsed duplicates, and the vocab
    * size V rides along as a broadcast 1-row relation (never a driver
    * collect).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be positive")
    val ts = tokens(col(textCol))
    // persisted: the relation feeds three consumers (context counts,
    // bigram counts, the score join) and the extraction lambda is
    // interpreted — pay it once, not per subtree
    val bigrams = CacheRegistry.track(df.select(col(idCol), ts.as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("__ts")) - 2),
        i => struct(
          element_at(col("__ts"), i + 1).as("w1"),
          element_at(col("__ts"), i + 2).as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .persist())
    val cu = bigrams.groupBy("w1").agg(count(lit(1)).as("__cu"))
    val cb = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    val vocab = df.select(explode(ts).as("__w"))
      .agg(count_distinct(col("__w")).as("__v"))
    val lp = log((col("__cb") + lit(alpha)) /
      (col("__cu") + lit(alpha) * col("__v")))
    bigrams
      .join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(lp.cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("avg_logprob"))
  }

  /** [[bigramLogProb]] with the TRAIN and SCORE corpora decoupled — the
    * reference-model shape of the CCNet/LLaMA perplexity filter
    * (Wenzek et al. 2020): statistics come from a REFERENCE corpus
    * (`train`, e.g. a curated high-quality slice), and every document
    * of `df` is scored under them. Bigrams the reference never saw
    * score the pure smoothing mass — `ln(α / (c(w1·) + α·V))`, i.e.
    * `ln(1/V)` for an unseen context — via LEFT joins + coalesce, so
    * out-of-reference text gets a low (but finite) score instead of
    * silently vanishing from the mean. On `train == df` this equals
    * [[bigramLogProb]] exactly (every own bigram has count ≥ 1, the
    * left joins never miss). Same decimal summation rule; same
    * `< 2 tokens → dropped` domain.
    */
  /** The per-doc adjacent-bigram long form `(keep..., w1, w2)`. */
  private def bigramsOf(src: DataFrame, textCol: String,
      keep: Seq[String]): DataFrame = {
    val ts = tokens(col(textCol))
    src.select(keep.map(col) :+ ts.as("__ts"): _*)
      .filter(size(col("__ts")) >= 2)
      .select(keep.map(col) :+ explode(transform(
        sequence(lit(0), size(col("__ts")) - 2),
        i => struct(
          element_at(col("__ts"), i + 1).as("w1"),
          element_at(col("__ts"), i + 2).as("w2")))).as("__bg"): _*)
      .select(keep.map(col) :+ col("__bg.w1").as("w1") :+
        col("__bg.w2").as("w2"): _*)
  }

  /** The shared left-join scoring tail over REFERENCE statistics
    * (`cu: (w1, __cu)`, `cb: (w1, w2, __cb)`, `vocab: 1 row (__v)`) —
    * the live ([[bigramLogProbUnder]]) and persisted
    * ([[scoreUnderBigramRef]]) paths differ only in where the stats
    * relations come from.
    */
  private def scoreUnder(cu: DataFrame, cb: DataFrame, vocab: DataFrame,
      df: DataFrame, idCol: String, textCol: String,
      alpha: Double): DataFrame =
    scoreUnderBigrams(cu, cb, vocab,
      bigramsOf(df, textCol, Seq(idCol)), idCol, alpha)

  /** [[scoreUnder]] over an ALREADY-BUILT per-doc bigram relation —
    * so a caller scoring the same corpus under several reference
    * models ([[graft.operators.Sampling.dsirSelect]]) pays the bigram
    * explode ONCE, not once per model.
    */
  private[operators] def scoreUnderBigrams(cu: DataFrame, cb: DataFrame,
      vocab: DataFrame, bigrams: DataFrame, idCol: String,
      alpha: Double): DataFrame = {
    val lp = log((coalesce(col("__cb"), lit(0L)) + lit(alpha)) /
      (coalesce(col("__cu"), lit(0L)) + lit(alpha) * col("__v")))
    bigrams
      .join(cb, Seq("w1", "w2"), "left")
      .join(cu, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(lp.cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("avg_logprob"))
  }

  /** Reference-model count relations `(cu, cb, vocab)` of a training
    * corpus — the build half of [[bigramLogProbUnder]], exposed so
    * multi-model scorers assemble their own shared-bigram plans.
    */
  private[operators] def bigramModelStats(train: DataFrame,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val ref = CacheRegistry.track(
      bigramsOf(train, textCol, Nil).persist())
    (ref.groupBy("w1").agg(count(lit(1)).as("__cu")),
      ref.groupBy("w1", "w2").agg(count(lit(1)).as("__cb")),
      train.select(explode(tokens(col(textCol))).as("__w"))
        .agg(count_distinct(col("__w")).as("__v")))
  }

  /** The per-doc adjacent-bigram relation, package-shared for
    * multi-model scorers.
    */
  private[operators] def docBigrams(df: DataFrame, idCol: String,
      textCol: String): DataFrame = bigramsOf(df, textCol, Seq(idCol))

  def bigramLogProbUnder(train: DataFrame, df: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be positive")
    val (cu, cb, vocab) = bigramModelStats(train, textCol)
    scoreUnder(cu, cb, vocab, df, idCol, textCol, alpha)
  }

  /** The per-doc adjacent-TRIGRAM long form `(keep..., w1, w2, w3)` —
    * [[bigramsOf]]'s order-3 sibling.
    */
  private def trigramsOf(src: DataFrame, textCol: String,
      keep: Seq[String]): DataFrame = {
    val ts = tokens(col(textCol))
    src.select(keep.map(col) :+ ts.as("__ts"): _*)
      .filter(size(col("__ts")) >= 3)
      .select(keep.map(col) :+ explode(transform(
        sequence(lit(0), size(col("__ts")) - 3),
        i => struct(
          element_at(col("__ts"), i + 1).as("w1"),
          element_at(col("__ts"), i + 2).as("w2"),
          element_at(col("__ts"), i + 3).as("w3")))).as("__tg"): _*)
      .select(keep.map(col) :+ col("__tg.w1").as("w1") :+
        col("__tg.w2").as("w2") :+ col("__tg.w3").as("w3"): _*)
  }

  /** Trigram STUPID-BACKOFF scoring under a reference corpus (Brants
    * et al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale LM recipe: no discounting, a fixed backoff factor, raw
    * relative frequencies):
    *
    *   S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)                if seen
    *                 | λ · c(w2w3)/c(w2)                else if seen
    *                 | λ · λ · (c(w3) + α)/(N + α·V)    else
    *
    * with λ = `backoff` (the paper's 0.4) and an α-smoothed unigram
    * floor so out-of-reference words stay finite (the
    * [[bigramLogProbUnder]] convention). Returns per doc
    * `(n_trigrams, avg_logprob)` — mean `ln S` over positions 3..len,
    * decimal-summed (order-free) and rounded to 6; docs with < 3
    * tokens are outside the scored domain.
    *
    * Scale shape: counts are four aggregations over the reference
    * stream (trigrams, bigrams keyed both ways, unigrams) + one
    * broadcast (N, V) scalar row; scoring is left joins against those
    * count relations at the score-corpus's trigram granularity — per
    * shape identical to the proven bigram path, one extra join level.
    */
  def trigramLogProbUnder(train: DataFrame, df: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4,
      backoff: Double = 0.4): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be positive")
    require(backoff > 0 && backoff <= 1,
      s"backoff=$backoff must be in (0, 1]")
    val tri = CacheRegistry.track(trigramsOf(train, textCol, Nil).persist())
    val big = CacheRegistry.track(bigramsOf(train, textCol, Nil).persist())
    val uni = train.select(explode(tokens(col(textCol))).as("__w"))
    val c3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("__c3"))
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val cb = big.select(col("w1").as("w2"), col("w2").as("w3"))
      .groupBy("w2", "w3").agg(count(lit(1)).as("__cb"))
    val c1 = CacheRegistry.track(
      uni.groupBy(col("__w")).agg(count(lit(1)).as("__c1")).persist())
    val nv = uni.agg(count(lit(1)).as("__n"),
      count_distinct(col("__w")).as("__v"))
    val s = when(col("__c3").isNotNull,
        col("__c3").cast("double") / col("__c2").cast("double"))
      .otherwise(lit(backoff) * (
        when(col("__cb").isNotNull,
          col("__cb").cast("double") / col("__cu").cast("double"))
          .otherwise(lit(backoff) *
            ((coalesce(col("__c1"), lit(0L)).cast("double") + lit(alpha)) /
              (col("__n").cast("double") +
                lit(alpha) * col("__v").cast("double"))))))
    trigramsOf(df, textCol, Seq(idCol))
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2, Seq("w1", "w2"), "left")
      .join(cb, Seq("w2", "w3"), "left")
      .join(c1.select(col("__w").as("w2"), col("__c1").as("__cu")),
        Seq("w2"), "left")
      .join(c1.select(col("__w").as("w3"), col("__c1")), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(log(s).cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("avg_logprob"))
  }

  /** Interpolated KNESER-NEY bigram scoring under a reference corpus
    * (Kneser & Ney 1995; the Chen & Goodman 1999 interpolated form —
    * the strongest classical n-gram smoother, and the one KenLM-style
    * perplexity filters actually ship):
    *
    *   P(w2 | w1) = max(c(w1w2) − D, 0)/c(w1·)
    *              + (D · N1+(w1·)/c(w1·)) · Pcont(w2)
    *
    * with discount `D` (the standard 0.75) and the CONTINUATION
    * probability `Pcont(w2) = (N1+(·w2) + α)/(N1+(··) + α·V)` —
    * α-smoothed over distinct-predecessor counts so out-of-reference
    * words keep finite mass (the open-vocabulary variant of the
    * closed-vocab textbook formula; α = 0 recovers it on in-vocab
    * words). An UNSEEN context (c(w1·) = 0) scores `Pcont(w2)`
    * directly. Same decimal summation rule and `< 2 tokens → dropped`
    * domain as [[bigramLogProbUnder]]; returns per doc
    * `(n_bigrams, avg_logprob)`.
    *
    * Scale shape: five aggregations over the reference bigram stream
    * (bigram counts, context counts + distinct followers in ONE agg,
    * distinct predecessors, two broadcast scalars) and left joins at
    * the score corpus's bigram granularity — the bigramLogProbUnder
    * plan with one extra join.
    */
  def kneserNeyLogProbUnder(train: DataFrame, df: DataFrame,
      idCol: String, textCol: String, discount: Double = 0.75,
      alpha: Double = 0.4): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount=$discount must be in (0, 1)")
    require(alpha > 0, s"alpha=$alpha must be positive")
    val big = CacheRegistry.track(bigramsOf(train, textCol, Nil).persist())
    val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    val cuf = big.groupBy("w1").agg(count(lit(1)).as("__cu"),
      count_distinct(col("w2")).as("__f"))
    val pred = big.groupBy("w2").agg(count_distinct(col("w1")).as("__p"))
    val tv = big.agg(count_distinct(col("w1"), col("w2")).as("__t"))
      .crossJoin(train.select(explode(tokens(col(textCol))).as("__w"))
        .agg(count_distinct(col("__w")).as("__v")))
    val pc = (coalesce(col("__p"), lit(0L)).cast("double") + lit(alpha)) /
      (col("__t").cast("double") + lit(alpha) * col("__v").cast("double"))
    val prob = when(col("__cu").isNotNull,
      (greatest(coalesce(col("__cb"), lit(0L)).cast("double") - lit(discount),
        lit(0.0)) / col("__cu").cast("double")) +
        ((lit(discount) * col("__f").cast("double") /
          col("__cu").cast("double")) * pc))
      .otherwise(pc)
    bigramsOf(df, textCol, Seq(idCol))
      .join(cb, Seq("w1", "w2"), "left")
      .join(cuf, Seq("w1"), "left")
      .join(pred, Seq("w2"), "left")
      .crossJoin(broadcast(tv))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log(prob).cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("avg_logprob"))
  }

  /** Persist a reference bigram model — the train-ONCE half of the
    * production CCNet lifecycle (the [[graft.operators.Bpe.saveModel]]
    * convention): context counts, bigram counts, and the vocabulary
    * size as three parquet relations under `dir`. A later job — or
    * every drain of a streaming ingest — scores against the SAVED
    * statistics via [[scoreUnderBigramRef]] without touching the
    * reference corpus again; per-batch cost then follows batch size,
    * not reference size.
    */
  def saveBigramRef(train: DataFrame, textCol: String,
      dir: String): Unit = {
    val ref = CacheRegistry.track(
      bigramsOf(train, textCol, Nil).persist())
    ref.groupBy("w1").agg(count(lit(1)).as("__cu"))
      .write.mode("overwrite").parquet(s"$dir/cu")
    ref.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
      .write.mode("overwrite").parquet(s"$dir/cb")
    train.select(explode(tokens(col(textCol))).as("__w"))
      .agg(count_distinct(col("__w")).as("__v"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** Score under a [[saveBigramRef]] directory — byte-identical to
    * [[bigramLogProbUnder]] on the same reference (spec-pinned): the
    * counts are exact longs, so the persisted round trip changes
    * nothing.
    */
  def scoreUnderBigramRef(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be positive")
    scoreUnder(
      spark.read.parquet(s"$dir/cu"),
      spark.read.parquet(s"$dir/cb"),
      spark.read.parquet(s"$dir/vocab"),
      df, idCol, textCol, alpha)
  }

  /** The perplexity-filter GATE: drop the `dropFrac` lowest-scoring
    * documents (lowest mean log-prob = highest perplexity — the CCNet
    * "tail" bucket), keeping the rest. The cutoff is the EXACT
    * `k = ⌊dropFrac·n⌋`-th smallest `(score, id)` pair — ties break on
    * id, so the kept set is a deterministic function of the input and
    * the DuckDB oracle replays it with a rank window. Emits the scored
    * relation plus a `keep` boolean (the gate is a column, not a
    * filter, so the drop decision stays auditable — callers filter).
    *
    * Scale shape (exact selection WITHOUT a global sort or a
    * single-partition window): one pass for `n`/min/max, one
    * micro-bucket histogram (4096 buckets over the 6-decimal score
    * grid, collected — 4096 rows) to locate the bucket holding the
    * k-th value, then a `TakeOrderedAndProject` of rank-within-bucket
    * ≤ bucket population ≈ n/4096 rows — the classic two-round
    * distributed selection. Degenerate mass (most scores identical)
    * collapses buckets and the in-bucket top-k grows toward k; the
    * selection stays exact, just less pruned. The cutoff joins back
    * as a broadcast 1-row relation — no per-row driver traffic.
    */
  def perplexityFilter(scored: DataFrame, idCol: String,
      scoreCol: String, dropFrac: Double): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1,
      s"dropFrac=$dropFrac must be in [0, 1)")
    val s = CacheRegistry.track(scored.persist())
    val n = s.count()
    val k = math.floor(dropFrac * n).toLong
    if (k == 0L) return s.withColumn("keep", lit(true))
    // micro-integer score grid (scores are round(·, 6) by contract —
    // exact longs, no float bucket-boundary ambiguity)
    val sm = s.select(round(col(scoreCol) * 1e6, 0).cast("long").as("__sm"),
      col(idCol).cast("long").as("__id"),
      col(scoreCol).as("__sc"))
    val Array(lo, hi) = sm.agg(min(col("__sm")), max(col("__sm")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val width = math.max(1L, (hi - lo) / 4096L + 1L)
    // Column `/` is DOUBLE division — the bucket key must be the exact
    // integer quotient (SQL DIV), not a float round-trip
    def bucketOf(c: Column): Column =
      expr(s"CAST((__sm - ${lo}L) DIV ${width}L AS BIGINT)")
    val hist = sm.groupBy(bucketOf(col("__sm")).as("__b"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var below = 0L
    var bucket = -1L
    var kInBucket = k
    for ((b, c) <- hist if bucket < 0) {
      if (below + c >= k) { bucket = b; kInBucket = k - below }
      else below += c
    }
    require(kInBucket <= Int.MaxValue,
      s"perplexityFilter: $kInBucket ranks inside one score bucket " +
        "(degenerate tie mass) exceeds the top-k limit; coarsen " +
        "dropFrac or pre-jitter the score grid")
    val cut = sm.filter(bucketOf(col("__sm")) === bucket)
      .orderBy(col("__sm"), col("__id"))
      .limit(kInBucket.toInt)
      .agg(max(struct(col("__sc"), col("__id"))).as("__cut"))
    s.crossJoin(broadcast(cut))
      .withColumn("keep",
        col(scoreCol) > col("__cut.__sc") ||
          (col(scoreCol) === col("__cut.__sc") &&
            col(idCol).cast("long") > col("__cut.__id")))
      .drop("__cut")
  }

  /** Multinomial Naive-Bayes quality classifier — the deterministic
    * analog of the fastText-style "looks like the curated seed"
    * classifiers real pipelines train (GPT-3's WebText-vs-CommonCrawl
    * LR, CCNet's fastText gate, FineWeb-Edu's scorer): train
    * closed-form token counts on a LABELED seed (positive = curated),
    * score every document by the summed log-likelihood ratio
    *
    *   score(d) = Σ_w [ln P(w|pos) − ln P(w|neg)] + ln n_pos − ln n_neg
    *
    * with Laplace-`alpha` smoothing over the seed vocabulary V:
    * P(w|c) = (c(w,c) + α) / (N_c + α·V). Positive score ⇒ the
    * curated class explains the document better. NB training IS
    * counting, so unlike an SGD classifier the whole path is exactly
    * replayable: each per-token ln and each prior ln quantizes to
    * DECIMAL(18,12) before the order-free decimal sum, display
    * rounds to 6 (the repo's cross-engine float rules).
    *
    * Scale shape = the [[bigramLogProbUnder]] skeleton: training is
    * one `(token, class)` count aggregation + one broadcast scalar
    * row (N_pos, N_neg, V); scoring is the corpus token stream
    * left-joined against the count relation (AQE broadcasts it when
    * the seed vocabulary is small) and one id-keyed aggregation —
    * linear end to end, no shuffle beyond the keyed aggs.
    *
    * `labelCol` must be boolean; both classes must be non-empty.
    * Emits `(idCol, n_tokens, score, pred_pos)` for every document
    * with ≥ 1 token.
    */
  def nbQualityScore(labeled: DataFrame, labelCol: String,
      df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0): DataFrame = {
    val (cw, tot, prior) = nbModelStats(labeled, labelCol, textCol)
    nbScoreUnder(cw, tot, prior, df, idCol, textCol, alpha)
  }

  /** The NB count relations `(cw, tot, prior)` — the train half of
    * [[nbQualityScore]], exposed for persistence ([[saveNbRef]]).
    */
  private[operators] def nbModelStats(labeled: DataFrame,
      labelCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val tok = CacheRegistry.track(labeled
      .select(col(labelCol).as("__y"),
        explode(tokens(col(textCol))).as("__w"))
      .persist())
    (tok.groupBy(col("__w")).agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__cn")),
      tok.agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__np"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__nn"),
        count_distinct(col("__w")).as("__v")),
      labeled.agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__dp"),
        sum(when(!col(labelCol), 1L).otherwise(0L)).as("__dn")))
  }

  private def nbScoreUnder(cw: DataFrame, tot: DataFrame,
      prior: DataFrame, df: DataFrame, idCol: String, textCol: String,
      alpha: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(alpha > 0, s"alpha=$alpha must be positive")
    def dec(c: Column): Column = c.cast(DecimalType(18, 12))
    val term =
      dec(log((coalesce(col("__cp"), lit(0L)) + lit(alpha)) /
        (col("__np") + lit(alpha) * col("__v")))) -
      dec(log((coalesce(col("__cn"), lit(0L)) + lit(alpha)) /
        (col("__nn") + lit(alpha) * col("__v"))))
    df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .join(cw, Seq("__w"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(term).as("__s"))
      .crossJoin(broadcast(prior))
      .select(col(idCol), col("n_tokens"),
        round((col("__s") + dec(log(col("__dp"))) - dec(log(col("__dn"))))
          .cast("double"), 6).as("score"))
      .withColumn("pred_pos", col("score") > 0)
  }

  /** Persist a trained NB reference to `dir` (the [[saveBigramRef]]
    * lifecycle: train ONCE offline on the labeled seed, gate
    * anywhere — batch jobs and streaming drains read the counts, never
    * recompute them). Counts are exact longs, so the round trip is
    * byte-identical to scoring against the live relations
    * (spec-pinned).
    */
  def saveNbRef(labeled: DataFrame, labelCol: String, textCol: String,
      dir: String): Unit = {
    val (cw, tot, prior) = nbModelStats(labeled, labelCol, textCol)
    cw.write.mode("overwrite").parquet(s"$dir/cw")
    tot.write.mode("overwrite").parquet(s"$dir/tot")
    prior.write.mode("overwrite").parquet(s"$dir/prior")
  }

  /** Score under a [[saveNbRef]] directory — [[nbQualityScore]]'s
    * apply half against persisted counts.
    */
  def scoreUnderNbRef(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0): DataFrame =
    nbScoreUnder(
      spark.read.parquet(s"$dir/cw"),
      spark.read.parquet(s"$dir/tot"),
      spark.read.parquet(s"$dir/prior"),
      df, idCol, textCol, alpha)

  /** PER-GROUP perplexity gate — [[perplexityFilter]]'s exact
    * `k_g = ⌊dropFrac·n_g⌋`-th smallest `(score, id)` cutoff computed
    * independently inside every group, for HIGH-CARDINALITY group
    * columns (per-domain gates over millions of registrable domains)
    * where neither a driver-side histogram per group nor an `ntile`
    * window sort per group survives: this variant never collects and
    * never sorts a whole group.
    *
    * Fully distributed two-round selection, all keyed: (1) one
    * aggregation gives each group's `n`/min/max on the 6-decimal
    * micro-integer score grid; (2) a `(group, bucket)` histogram over
    * `buckets` equal-width integer buckets per group; (3) a running
    * sum over each group's ≤ `buckets` histogram rows (a window over
    * the HISTOGRAM relation, thousands of rows per group at most —
    * never the corpus) locates the bucket holding the k-th value and
    * how many ranks fall inside it; (4) only that one bucket's rows
    * rank within `(group, bucket)` to yield the per-group cutoff
    * struct, which joins back on the group key. Shuffles are all on
    * the group (or group+bucket) key; no stage materializes a group on
    * one partition except the single cut bucket (≈ n_g/buckets rows —
    * degenerate tie mass collapses buckets and grows it toward k_g,
    * exactly [[perplexityFilter]]'s documented behavior).
    *
    * Groups with `k_g = 0` (too few rows to drop anything) keep every
    * row. Emits the input plus `keep` — the gate stays a column.
    *
    * Selection runs entirely on the 6-decimal micro-integer grid
    * `round(score·10⁶)` with the id as tiebreak — and so does the keep
    * predicate (same key, never the raw score), so every group drops
    * EXACTLY `k_g` rows for any score precision: house round-6 scorers
    * get the raw-score answer unchanged, finer-precision scores get
    * well-defined grid semantics rather than a rank-vs-gate mismatch.
    */
  def groupedPerplexityFilter(scored: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, dropFrac: Double,
      buckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dropFrac >= 0 && dropFrac < 1,
      s"dropFrac=$dropFrac must be in [0, 1)")
    require(buckets > 0, s"buckets=$buckets must be positive")
    val s = CacheRegistry.track(scored.persist())
    val sm = s.select(col(groupCol).as("__g"),
      col(idCol).cast("long").as("__id"),
      col(scoreCol).as("__sc"),
      round(col(scoreCol) * 1e6, 0).cast("long").as("__sm"))
    val g = sm.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        min(col("__sm")).as("__lo"), max(col("__sm")).as("__hi"))
      .withColumn("__k", floor(lit(dropFrac) * col("__n")).cast("long"))
      .filter(col("__k") > 0)
      // exact integer bucket width (SQL DIV, not float division) sized
      // so (hi - lo) spans at most `buckets` buckets
      .withColumn("__w", greatest(lit(1L),
        expr(s"(__hi - __lo) DIV ${buckets}L + 1L")))
      .select("__g", "__k", "__lo", "__w")
    val bucketed = CacheRegistry.track(sm.join(g, Seq("__g"))
      .withColumn("__b", expr("(__sm - __lo) DIV __w"))
      .persist())
    val wcum = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutBucket = bucketed.groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__c"), max(col("__k")).as("__k2"))
      .withColumn("__cum", sum(col("__c")).over(wcum))
      .withColumn("__below", col("__cum") - col("__c"))
      .filter(col("__below") < col("__k2") && col("__cum") >= col("__k2"))
      .select(col("__g"), col("__b").as("__cb"),
        (col("__k2") - col("__below")).as("__kin"))
    val wrank = Window.partitionBy(col("__g"))
      .orderBy(col("__sm"), col("__id"))
    val cut = bucketed.join(cutBucket, Seq("__g"))
      .filter(col("__b") === col("__cb"))
      .withColumn("__rk", row_number().over(wrank))
      .filter(col("__rk") === col("__kin"))
      .select(col("__g").as(groupCol), col("__sm").as("__csm"),
        col("__id").as("__ci"))
    // gate on the SAME (grid value, id) key the ranking used — scores
    // finer than the 6-decimal grid get the documented grid semantics
    // (k-th smallest ON the grid, id tiebreak) instead of a silent
    // rank-vs-gate disagreement that could drop ≠ ⌊dropFrac·n⌋ rows
    s.join(cut, Seq(groupCol), "left")
      .withColumn("__smx", round(col(scoreCol) * 1e6, 0).cast("long"))
      .withColumn("keep", col("__csm").isNull ||
        col("__smx") > col("__csm") ||
        (col("__smx") === col("__csm") &&
          col(idCol).cast("long") > col("__ci")))
      .drop("__csm", "__ci", "__smx")
  }

  /** CCNet head/middle/tail buckets (Wenzek et al. 2020 §4.3): within
    * each GROUP (CCNet buckets per language), rank documents by score
    * descending and split into `buckets` equal-population tiles —
    * bucket 1 is the head (most reference-like), bucket `buckets` the
    * tail. The complement of [[perplexityFilter]]'s hard gate: CCNet
    * ships all three tiers and lets the consumer choose the mix.
    *
    * `ntile` with a total order (`score desc, id asc`) is exactly the
    * SQL-standard tile rule — bucket sizes differ by at most one,
    * larger buckets first — so the assignment is deterministic and
    * cross-engine exact. One shuffle on the group key; groups are
    * languages (dozens), so per-group windows parallelize across the
    * cluster while each stays a single partition's sort — for a
    * HIGH-CARDINALITY group column prefer the [[perplexityFilter]]
    * histogram selection per group instead.
    */
  def perplexityBuckets(scored: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, buckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets > 0, s"buckets=$buckets must be positive")
    scored.withColumn("bucket",
      ntile(buckets).over(Window.partitionBy(col(groupCol))
        .orderBy(col(scoreCol).desc, col(idCol).asc)).cast("long"))
  }
}
