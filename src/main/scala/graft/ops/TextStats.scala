package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting. All pure column
  * expressions — codegen'd, shuffle-free, linear in input bytes, so they
  * scale to 100 TB as a single mapper pass over the corpus.
  */
object TextStats {

  /** Whitespace tokens (the reference's only tokenizer analog is
    * whitespace word handling in its join/concat ops, e.g.
    * `json_pipeline.py:235`). `split` on `\s+` after trim; empty text → 0.
    */
  def whitespaceTokens(text: Column): Column = {
    // strip ALL leading/trailing whitespace: trim() removes only spaces,
    // which would leave a leading empty token after split on tab/newline-
    // prefixed text and diverge from TextKernels' tokenizer
    val stripped = regexp_replace(text, "^\\s+|\\s+$", "")
    when(length(stripped) === 0, array().cast("array<string>"))
      .otherwise(split(stripped, "\\s+"))
  }

  def tokenCount(text: Column): Column = size(whitespaceTokens(text))

  /** BPE-ish subword count: GPT-2-style pretokenizer regex — runs of
    * letters, runs of digits, single punctuation, collapsed whitespace.
    * A cheap, deterministic proxy for "how many tokens would a BPE
    * tokenizer emit" without shipping a vocab.
    */
  val BpePretokenPattern = """'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"""
  def bpeishTokenCount(text: Column): Column =
    coalesce(graft.functions.bpe_token_count(text), lit(0L))

  /** The `regexp_count` formulation [[bpeishTokenCount]]'s kernel
    * replaced — retained as the executable spec (TextStatsSpec) and the
    * shape the DuckDB oracle mirrors.
    */
  def bpeishTokenCountRegex(text: Column): Column =
    coalesce(regexp_count(text, lit(BpePretokenPattern)), lit(0))

  /** TRUE vocab-merge BPE token count (not the pretokenizer proxy):
    * each pre-token is greedily merged against the rank table —
    * lowest-ranked adjacent pair first, leftmost on positional ties —
    * and the surviving symbol counts are summed
    * ([[graft.functions.TextKernels.bpeMergeCountWith]]). [[bpeCounts]]
    * rides the default code-literal table through whole-stage codegen
    * (the `graft_bpe_merge_count` expression); [[bpeCustomCounts]]
    * switches to a BROADCAST rank map — the 100 TB shape for a real
    * trained vocabulary (GPT-2's 50k merges ≈ 1 MB: executor-cached
    * once per node, never shipped per row or per task; the lookup loop
    * is the same kernel either way). Null text counts 0.
    *
    * Output: the input plus `n_bpe_tokens`.
    */
  def bpeCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_bpe_tokens",
      coalesce(graft.functions.bpe_merge_count(col(s"`$textCol`")), lit(0L)))

  /** [[bpeCounts]] under a CUSTOM vocabulary (trained or imported) via
    * the broadcast rank map. `merges` must be non-empty — an
    * accidentally empty trained table silently falling back to the
    * default vocabulary would mis-account every budget downstream, so
    * that is an error, not a default.
    */
  def bpeCustomCounts(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty,
      "bpeCustomCounts needs a non-empty merge table (use bpeCounts for" +
        " the built-in default vocabulary)")
    val bc = df.sparkSession.sparkContext.broadcast(
      graft.functions.TextKernels.bpeRankMap(merges))
    val f = udf((s: String) =>
      if (s == null) 0L
      else graft.functions.TextKernels.bpeMergeCountWith(s, bc.value))
    df.withColumn("n_bpe_tokens", f(col(s"`$textCol`")))
  }

  /** TRAIN a BPE merge table from the corpus — Sennrich et al. 2016's
    * learner on the engine's own pre-tokenizer/word definition: per
    * round, symbolize every word under the merges learned so far
    * (the SAME greedy kernel application uses, so train and apply can
    * never disagree on symbolization), count adjacent symbol pairs
    * corpus-wide, and adopt the most frequent pair as the next merge —
    * ties broken lexicographically on the pair key, so the learned
    * table is deterministic for a given corpus regardless of
    * partitioning. Stops early when no pair reaches `minPairCount`
    * (merging noise below that count memorizes the corpus tail).
    *
    * Scale shape: `numMerges` passes, each ONE map-side-combined
    * pair-count aggregation + a `TakeOrderedAndProject` argmax (a
    * 1-row collect per round — driver traffic is the merge pair
    * itself). The per-round broadcast ships the table learned so far
    * (≤ numMerges entries). Cost is numMerges linear passes — the
    * textbook learner; at 100 TB train on a sampled slice
    * ([[graft.ops.Curation.stratifiedSample]]) exactly as production
    * tokenizers are trained on corpus subsets, then apply the learned
    * table corpus-wide through [[bpeCustomCounts]]'s broadcast path.
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be positive: $numMerges")
    require(minPairCount >= 1, s"minPairCount must be positive: $minPairCount")
    val sc = df.sparkSession.sparkContext
    // the training slice is scanned once per round — cache it for the
    // loop's duration and release before returning (the learner owns
    // this intermediate outright; nothing returned depends on it)
    val text = df.select(col(s"`$textCol`").as("__t"))
      .filter(col("__t").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var merges = Vector.empty[(String, String)]
      var exhausted = false
      while (merges.length < numMerges && !exhausted) {
        val bc = sc.broadcast(
          graft.functions.TextKernels.bpeRankMap(merges))
        val pairsOf = udf((s: String) =>
          graft.functions.TextKernels.bpeAdjacentPairs(s, bc.value))
        val best = text
          .select(explode(pairsOf(col("__t"))).as("__p"))
          .groupBy(col("__p")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= minPairCount)
          .orderBy(col("__n").desc, col("__p").asc)
          .limit(1)
          .collect()
        bc.destroy()
        if (best.isEmpty) exhausted = true
        else {
          val key = best(0).getString(0)
          val sep = key.indexOf(' ')
          merges :+= ((key.substring(0, sep), key.substring(sep + 1)))
        }
      }
      merges
    } finally text.unpersist(blocking = false)
  }

  /** Word n-gram shingles: `["a b c", "b c d", ...]` for n=3. Built with
    * higher-order functions only (sequence/transform/slice) — one
    * expression, no shuffle. The token array is LET-BOUND through a
    * one-element `transform` before the per-position lambda touches it:
    * an ordinary expression referenced inside a HOF lambda is
    * re-evaluated per element, so the unbound form re-tokenizes the
    * document at every shingle position — O(len²) regex work per doc
    * (measured: the winnow probe ground at 8× until this binding).
    * Hot bulk paths use the native kernels (`shingle_hash_set`) instead.
    */
  def shingles(text: Column, n: Int): Column =
    element_at(transform(array(whitespaceTokens(text)), toks =>
      when(size(toks) < n, array().cast("array<string>")).otherwise(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))), 1)

  /** Distinct shingle set (the unit of Jaccard similarity). */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(text, n))

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every positional k-gram
    * (60-bit truncated md5, the oracle-mirrorable form the overlap
    * family uses), slide a window of `w` hashes, keep each window's
    * minimum, and return the DISTINCT selected hashes. The guarantee
    * that makes this the partial-overlap detector: any shared token run
    * of length ≥ w + k − 1 between two documents selects at least one
    * common fingerprint — robust to reordering and surrounding edits,
    * which defeat whole-document fingerprints ([[rollingFingerprint]]).
    * Ties need no rightmost rule for the SET semantics used here: tied
    * minima are equal VALUES, so the selected set is identical either
    * way. Documents with fewer than w k-grams keep all their gram
    * hashes (the short-doc degenerate case); fewer than k tokens → []
    *
    * Density: expected 2/(w + 1) of the grams are selected — the index
    * a downstream join builds is ~3× smaller at w = 4 than full
    * shingling, which is winnowing's 100 TB pitch. Pure HOF column
    * expression: shuffle-free, whole-stage codegen.
    */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    // let-binding via a one-element transform: an ordinary expression
    // referenced inside a HOF lambda is RE-EVALUATED per element (the
    // naive form re-tokenized the document at every shingle position —
    // O(len²) regex work per doc, measured grinding at 8× probe scale);
    // binding it as a lambda variable evaluates it exactly once per row
    def let(bound: Column)(body: Column => Column): Column =
      element_at(transform(array(bound), body), 1)
    let(whitespaceTokens(text)) { toks =>
      val grams = when(size(toks) < k, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - (k - 1)),
          i => array_join(slice(toks, i, lit(k)), " ")))
      let(transform(grams,
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))) { hashes =>
        array_distinct(
          when(size(hashes) >= w,
            transform(sequence(lit(1), size(hashes) - (w - 1)),
              j => array_min(slice(hashes, j, lit(w)))))
          .otherwise(hashes))
      }
    }
  }

  // --- quality scoring -----------------------------------------------------

  /** Tiny per-language stopword lists for the heuristic scorer. Public
    * knowledge (most-frequent function words); deliberately small so the
    * regexes stay cheap.
    */
  // canonical lists live in the kernel object (TextKernels.textMetrics /
  // langId hardcode their matchers); deriving this map from them keeps
  // regex, oracle SQL, and kernels in lock-step
  val Stopwords: Map[String, Seq[String]] =
    graft.functions.TextKernels.LangStopwords.toMap

  private def wordAlternation(words: Seq[String]): String =
    words.mkString("(?i)\\b(", "|", ")\\b")

  def stopwordCount(text: Column, lang: String = "en"): Column =
    coalesce(regexp_count(text, lit(wordAlternation(Stopwords(lang)))), lit(0))

  /** Quality metrics in one projection: length, token count, mean token
    * length, punctuation ratio, digit ratio, uppercase ratio, stopword
    * ratio, and a composite [0,1] score. One pass, no shuffle.
    *
    * All six counts come from ONE kernel scan of the string
    * ([[graft.functions.TextKernels.textMetrics]] — semantically identical
    * to the regex formulation, which cost 4 `regexp_count` passes + 3
    * tokenizer splits PER EVALUATION). That matters because Catalyst
    * duplicates an aliased score into both Filter and Project when a
    * caller filters on it (no cross-operator subexpression elimination):
    * with regexes that was ~16 java.util.regex scans per row; now it is
    * two cheap byte passes, and within one projection codegen
    * subexpression elimination collapses the ten field reads to a single
    * kernel call. The ratio/score arithmetic and rounding stay declarative
    * (Spark's own `round`), so oracle parity is untouched.
    */
  def qualityMetrics(text: Column): Seq[Column] = {
    val m = graft.functions.text_metrics(text)
    val nChars = m.getField("n_chars")
    val nTok = m.getField("n_tokens")
    // coalesce mirrors the regex form's null semantics: for null text the
    // count columns were coalesce(regexp_count(null),0)=0 while
    // length/token stayed null
    val nPunct = coalesce(m.getField("n_punct"), lit(0L))
    val nDigit = coalesce(m.getField("n_digits"), lit(0L))
    val nUpper = coalesce(m.getField("n_upper"), lit(0L))
    val nStop = coalesce(m.getField("n_stopwords"), lit(0L))
    val safeChars = greatest(nChars, lit(1L))
    val safeTok = greatest(nTok, lit(1L))
    val punctRatio = round(nPunct * lit(1.0) / safeChars, 4)
    val stopRatio = round(nStop * lit(1.0) / safeTok, 4)
    val meanTokLen = round(nChars * lit(1.0) / safeTok, 4)
    // Composite: long enough, some stopwords, not punctuation/digit soup.
    // Stated as ONE division of exact int64 products — a chain of double
    // multiplications drifts in the last ulp between engines and can flip
    // round(,4) at a boundary (seen at sf0.1), while identical integers
    // divide identically everywhere. Factors (each in [0,1]):
    //   min(tok,50)/50 · max(C−2·punct,0)/C · max(C−2·digit,0)/C ·
    //   min(25·stop+T, 5·T)/(5·T)
    // with C = chars capped at 1e5 and T = tokens capped at 1e6 so the
    // products stay ≤ 2.5e18 < Long.MaxValue — uncapped, a megabyte
    // document overflows and ANSI mode (Spark 4 default) aborts the query.
    val capC = least(safeChars, lit(100000L))
    val capT = least(safeTok, lit(1000000L))
    val num = least(nTok, lit(50L)) *
      greatest(capC - lit(2L) * nPunct, lit(0L)) *
      greatest(capC - lit(2L) * nDigit, lit(0L)) *
      least(lit(25L) * nStop + capT, lit(5L) * capT)
    val den = lit(250L) * capC * capC * capT
    val score = round(
      when(nChars < 20, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double")), 4)
    Seq(
      nChars.as("n_chars"), nTok.as("n_tokens"), meanTokLen.as("mean_token_len"),
      nPunct.as("n_punct"), punctRatio.as("punct_ratio"),
      nDigit.as("n_digits"), nUpper.as("n_upper"),
      nStop.as("n_stopwords"), stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Canonical text normalization for dedup keys / downstream tokenizers:
    * control chars → space, whitespace runs collapsed to one space, edges
    * trimmed, lowercased. Character classes are explicit ranges (never
    * `\s` or POSIX names, whose definitions differ between Java regex and
    * RE2 — Java `\s` includes \x0B, RE2's does not), so the normalized
    * text is byte-identical across engines and safely hash-compared.
    */
  def normalizeText(text: Column): Column =
    lower(graft.functions.clean_whitespace(text))

  /** Unicode NFC canonical composition (e + combining acute → é) — the
    * normalization multilingual pipelines apply BEFORE hashing/dedup so
    * byte-different decompositions of identical text collide. Codegen'd
    * kernel ([[graft.functions.expressions.NfcNormalize]]) with a
    * zero-allocation passthrough for already-NFC text (the overwhelming
    * majority of real corpora). Composes with [[normalizeText]]: NFC
    * first, then whitespace/case canonicalization.
    */
  def nfcNormalize(text: Column): Column =
    graft.functions.nfc_normalize(text)

  /** The three-regex formulation the [[normalizeText]] kernel replaced —
    * retained as the executable spec (TextStatsSpec) and the shape the
    * DuckDB oracle mirrors.
    */
  def normalizeTextRegex(text: Column): Column =
    lower(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, lit("[\\x00-\\x1f\\x7f]"), lit(" ")),
          lit("[ \\t\\n\\f\\r\\x0b]+"), lit(" ")),
        lit("^ | $"), lit("")))

  /** PII masking for training corpora: emails and dashed/dotted phone
    * numbers replaced with typed placeholder tokens. Patterns restricted
    * to constructs Java regex and RE2 interpret identically (explicit
    * classes, bounded repetition, no `\b` / lookaround), so the scrubbed
    * text hash-matches the SQL oracle byte-for-byte.
    */
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhonePattern = """[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"""

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
      lit(PhonePattern), lit("<PHONE>"))

  def piiCounts(text: Column): Seq[Column] = Seq(
    coalesce(regexp_count(text, lit(EmailPattern)), lit(0)).cast("long").as("n_emails"),
    coalesce(regexp_count(text, lit(PhonePattern)), lit(0)).cast("long").as("n_phones"))

  /** Checksum-validated payment-card masking — the PII class a pure
    * regex CANNOT scrub safely: a 16-digit order id matches any card
    * regex, so regex-only masking either leaks cards (too narrow) or
    * destroys non-PII ids (too broad). The `mask_luhn` kernel masks a
    * card-shaped span — a maximal run of digit groups joined by single
    * space/dash separators ('4532015112830366' and the common
    * '4532 0151 1283 0366' / '4532-0151-…' forms alike) — only when its
    * 13–19 digits pass the ISO 7812 Luhn checksum (`<CC>`);
    * [[luhnStats]] exposes `{n_candidates, n_valid}` for the audit
    * profile. Limitation: two distinct numbers one separator apart
    * merge into a single span (greedy maximal match), so a card glued
    * to a phone number by one space can exceed 19 digits and escape.
    * One codegen'd pass, shuffle-free.
    */
  def scrubCreditCards(text: Column): Column = graft.functions.mask_luhn(text)

  def luhnStats(text: Column): Column = graft.functions.luhn_stats(text)

  /** Repetition profile (the Gopher duplicate-line fraction): of the
    * non-empty lines, what share are repeats of an earlier line. High
    * values flag boilerplate/templated documents for pretraining filters.
    */
  def dupLineStats(text: Column): Seq[Column] = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    val n = size(lines).cast("long")
    val d = size(array_distinct(lines)).cast("long")
    Seq(
      n.as("n_lines"),
      d.as("n_distinct_lines"),
      round((n - d) * lit(1.0) / greatest(n, lit(1L)), 4).as("dup_line_frac"))
  }

  /** Encoding-corruption (mojibake) profile — the curation signal for
    * text that survived a bad decode: counts of
    *  - U+FFFD replacement characters (a decoder already gave up),
    *  - C1 control characters U+0080–U+009F (valid in no sane text;
    *    the classic cp1252-bytes-read-as-latin1 tell),
    *  - `Ã`/`Â` followed by a Latin-1 supplement char (the UTF-8-bytes-
    *    decoded-as-Latin-1 double-encoding signature: 'é' → 'Ã©'),
    * plus `mojibake_score` = their sum over characters (6 dp). Patterns
    * are written in `\x{hhhh}` escapes valid in BOTH Java regex and RE2,
    * so the DuckDB oracle runs the literally identical pattern. One
    * shuffle-free projection.
    */
  def encodingProfile(text: Column): Seq[Column] = {
    val nRepl = coalesce(regexp_count(text, lit("\\x{FFFD}")), lit(0)).cast("long")
    val nC1 = coalesce(regexp_count(text, lit("[\\x{0080}-\\x{009F}]")), lit(0))
      .cast("long")
    val nDouble = coalesce(
      regexp_count(text, lit("[\\x{00C2}\\x{00C3}][\\x{0080}-\\x{00FF}]")), lit(0))
      .cast("long")
    val nChars = length(text).cast("long")
    val score = when(nChars > 0, round(
      (nRepl + nC1 + nDouble).cast("double") / nChars.cast("double"), 6))
      .otherwise(lit(0.0))
    Seq(nRepl.as("n_replacement"), nC1.as("n_c1_controls"),
      nDouble.as("n_double_encoded"), score.as("mojibake_score"))
  }

  /** Gopher REPETITION signals (the Rae et al. 2021 repetition family,
    * complementing [[gopherKeep]]'s length/character rules and
    * [[dupLineStats]]'s line counts): per document,
    *  - `dup_line_char_frac` — fraction of line characters inside
    *    duplicate lines (occurrences beyond each line's first),
    *  - `top2gram_char_frac` — fraction of text characters covered by
    *    the most frequent word 2-gram (occurrences × gram length /
    *    text chars; ties broken lexicographically),
    *  - `dup5gram_char_frac` — fraction covered by ALL word 5-grams
    *    occurring ≥ 2× (Σ count·len, overlaps counted per occurrence as
    *    in the published implementations, capped at 1).
    * High values flag templated/boilerplate documents that pass
    * length-based rules.
    *
    * Scale shape: the line fraction is a shuffle-free per-row HOF; both
    * n-gram fractions share ONE tagged explode → (id, n, gram) count
    * with map-side combine (shuffle bounded by DISTINCT (doc, gram)
    * pairs, not occurrences) → ONE second-level per-doc aggregate
    * (struct-min replaces the rank window), joined back id-keyed. Docs
    * with too few tokens for an n-gram score 0.
    */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(s"`$idCol`")
    val base = df
      .filter(id.isNotNull)
      .select(id, col(s"`$textCol`").as("__text"),
        whitespaceTokens(col(s"`$textCol`")).as("__t"),
        length(coalesce(col(s"`$textCol`"), lit(""))).cast("long").as("__nc"))
    // duplicate-line chars: per-row quadratic over DISTINCT lines — fine
    // for document-sized line counts, zero shuffle
    val lines = filter(split(col("__text"), "\n"), l => length(l) > 0)
    val lineChars = aggregate(lines, lit(0L), (acc, l) => acc + length(l))
    val dupChars = aggregate(array_distinct(lines), lit(0L), (acc, l) =>
      acc + (size(filter(lines, x => x === l)) - 1).cast("long") * length(l))
    val lineFrac = base.select(id,
      when(lineChars > 0, round(dupChars.cast("double") / lineChars.cast("double"), 6))
        .otherwise(lit(0.0)).as("dup_line_char_frac"))
    // BOTH gram families ride ONE tagged explode (the expensive
    // tokenize + fan-out scan runs once, not per family); both fractions
    // then come out of ONE second-level aggregation — the top-2-gram is
    // min(struct(-count, gram)), the struct's field-wise ordering giving
    // exactly (count desc, gram asc) without a window, so there is no
    // rank shuffle, no persisted intermediate, and no consumer race
    val bigrams = zip_with(
      slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
      slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    // CASE guard, not greatest(): Spark sequence(1, 0) DESCENDS to
    // [1, 0] instead of yielding empty, which would fabricate grams
    // from sub-5-token docs
    val fivegrams = expr(
      "CASE WHEN size(__t) >= 5 THEN transform(sequence(1, size(__t) - 4), " +
        "i -> array_join(slice(__t, i, 5), ' ')) ELSE array() END")
    val gramStats = base.select(id, col("__nc"),
      explode(concat(
        transform(bigrams, g => struct(lit(2).as("n"), g.as("g"))),
        transform(fivegrams, g => struct(lit(5).as("n"), g.as("g"))))).as("__tg"))
      .select(id, col("__nc"), col("__tg.n").as("__n"), col("__tg.g").as("__g"))
      .groupBy(id, col("__nc"), col("__n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(id, col("__nc"))
      .agg(
        min(when(col("__n") === 2,
          struct((-col("__c")).as("negc"), col("__g").as("g")))).as("__top2"),
        sum(when(col("__n") === 5 && col("__c") >= 2,
          col("__c") * length(col("__g")).cast("long"))).as("__dupc"))
      .select(id,
        when(col("__nc") > 0 && col("__top2").isNotNull, round(
          least((-col("__top2.negc") * length(col("__top2.g"))).cast("double")
            / col("__nc").cast("double"), lit(1.0)), 6))
          .otherwise(lit(0.0)).as("top2gram_char_frac"),
        when(col("__nc") > 0 && col("__dupc").isNotNull, round(
          least(col("__dupc").cast("double") / col("__nc").cast("double"), lit(1.0)), 6))
          .otherwise(lit(0.0)).as("dup5gram_char_frac"))
    lineFrac
      .join(gramStats, Seq(idCol), "left")
      .na.fill(0.0, Seq("top2gram_char_frac", "dup5gram_char_frac"))
  }

  /** C4-style line-level cleanup (the public Raffel et al. 2020
    * preprocessing rules, restated declaratively): keep a line iff it
    *   - has ≥ `minWords` whitespace words,
    *   - ends in a terminal punctuation mark (`.` `!` `?` or a closing
    *     `"` — C4's "end quotation mark"),
    *   - does not contain "javascript" (case-insensitive) — the classic
    *     cookie/JS-warning boilerplate line;
    * and flag (for the caller's DOC-level drop, C4 drops them outright)
    *   - `has_brace`: text contains `{` (code, not prose),
    *   - `has_lorem`: contains "lorem ipsum" (case-insensitive).
    * Output: `text_clean` (kept lines rejoined with `\n` — empty string
    * when nothing survives), `n_lines` (non-empty input lines),
    * `n_kept`, plus the two doc flags as 0/1 ints. One narrow
    * projection, HOF-only (shuffle-free); null text passes through null.
    */
  /** HTML → plain-text extraction — the step BEFORE [[c4LineFilter]] in a
    * web-crawl curation pipeline. A deliberately rule-based (lexer-free)
    * extractor in the C4/CCNet tradition: comments, `<script>`/`<style>`
    * blocks (with their contents) are removed; block-level tags become
    * newlines so paragraph structure survives; remaining tags are
    * stripped (only tag-SHAPED runs, `</?[a-zA-Z]…>` — a stray `a < b`
    * less-than survives); the common entities are decoded AFTER tag
    * stripping (escaped markup stays literal text) with `&amp;` decoded
    * LAST (so `&amp;lt;` yields the literal string `&lt;`, per HTML
    * semantics); horizontal whitespace (incl. NBSP) collapses to single
    * spaces, line edges trim, newline runs collapse, and the result is
    * trimmed. Output: `text_clean` plus `had_html` (0/1 int — whether
    * any tag/comment was present). Null text → null/null.
    *
    * Every pattern is valid and identical in Java regex AND RE2, so a
    * DuckDB oracle replays the chain verbatim (same discipline as
    * [[encodingProfile]]). Whitespace is normalized even for tag-free
    * input — this is an extractor, not a validator. Pure per-row
    * projection: shuffle-free, whole-stage-codegen'd, scales linearly.
    */
  def htmlExtract(text: Column): Seq[Column] = {
    val tagShaped = "</?[a-zA-Z][^>]*>"
    val stripped = Seq[Column => Column](
      regexp_replace(_, "(?s)<!--.*?-->", ""),
      regexp_replace(_, "(?is)<script[^>]*>.*?</script>", ""),
      regexp_replace(_, "(?is)<style[^>]*>.*?</style>", ""),
      regexp_replace(_,
        "(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|blockquote)\\b[^>]*>",
        "\n"),
      regexp_replace(_, tagShaped, ""))
      .foldLeft(text)((c, f) => f(c))
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(stripped) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val cleaned = Seq[Column => Column](
      regexp_replace(_, "[ \t\r\\x{00a0}]+", " "),
      regexp_replace(_, "(?m)^ +| +$", ""),
      regexp_replace(_, "\n+", "\n"),
      // NB Spark/DuckDB trim() strips spaces only — edge newlines need
      // an explicit regex trim.
      regexp_replace(_, "^\n+|\n+$", ""))
      .foldLeft(decoded)((c, f) => f(c))
    Seq(
      cleaned.as("text_clean"),
      text.rlike("(?s)" + tagShaped + "|<!--").cast("int").as("had_html"))
  }

  /** Readability profile — the Flesch reading-ease / Flesch–Kincaid
    * grade heuristics over count features any engine can replay:
    * words = non-empty whitespace tokens, sentences = terminal-
    * punctuation runs (`[.!?]+`, floored at 1 — a fragment is one
    * sentence), syllables ≈ vowel-group runs (`[aeiouy]+` on the
    * lowercased text — the standard cheap proxy; systematic bias
    * cancels when COMPARING documents, which is what a corpus filter
    * does). The exact integer counts are emitted alongside the two
    * standard scores (each a fixed-order IEEE expression, rounded):
    * {{{ flesch   = 206.835 − 1.015·(w/s) − 84.6·(syl/w)
    *     fk_grade = 0.39·(w/s) + 11.8·(syl/w) − 15.59 }}}
    * Wordless documents score null (no text to grade). Every pattern
    * is Java-regex/RE2 identical, so the oracle replays verbatim.
    * Pure per-row projection: shuffle-free, codegen'd, linear.
    */
  def readabilityProfile(text: Column): Seq[Column] = {
    val w = size(filter(split(text, "\\s+"), t => t =!= "")).cast("long")
    val s = greatest(regexp_count(text, lit("[.!?]+")).cast("long"), lit(1L))
    val syl = regexp_count(lower(text), lit("[aeiouy]+")).cast("long")
    val ws = w.cast("double") / s.cast("double")
    val sw = syl.cast("double") / w.cast("double")
    Seq(
      w.as("n_words"), s.as("n_sentences"), syl.as("n_syllable_groups"),
      when(w > 0L, round(lit(206.835) - lit(1.015) * ws - lit(84.6) * sw, 4))
        .as("flesch"),
      when(w > 0L, round(lit(0.39) * ws + lit(11.8) * sw - lit(15.59), 4))
        .as("fk_grade"))
  }

  def c4LineFilter(text: Column, minWords: Int = 3): Seq[Column] = {
    require(minWords >= 1, s"minWords must be >= 1: $minWords")
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    def lineKeep(l: Column): Column = {
      val t = regexp_replace(l, "^\\s+|\\s+$", "")
      (size(split(t, "\\s+")) >= minWords) &&
        t.rlike("[.!?\"]$") &&
        !lower(t).contains("javascript")
    }
    val kept = filter(lines, l => lineKeep(l))
    Seq(
      array_join(kept, "\n").as("text_clean"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      text.contains("{").cast("int").as("has_brace"),
      lower(text).contains("lorem ipsum").cast("int").as("has_lorem"))
  }

  /** Gopher-style rule predicate (the public Rae et al. 2021 heuristics,
    * restated over this engine's metrics): keep a document iff
    *   - 50 ≤ tokens ≤ 100 000
    *   - mean token length ∈ [3, 10]
    *   - punctuation ≤ 20% of characters
    *   - digits ≤ 30% of characters
    *   - ≥ 2 stopword hits
    * Every rule is an EXACT int64 comparison (`3·tok ≤ chars`, never a
    * rounded ratio), so the predicate cannot drift between engines — and
    * all five counts come from ONE `text_metrics` kernel scan.
    */
  def gopherKeep(text: Column): Column =
    gopherKeepFromMetrics(graft.functions.text_metrics(text))

  /** [[gopherKeep]] as a predicate over an ALREADY-computed
    * `text_metrics` struct — for callers that also consume other fields
    * of the same struct (e.g. the streaming quality monitor), so one
    * kernel pass serves both instead of re-scanning the text.
    */
  def gopherKeepFromMetrics(m: Column): Column = {
    val nChars = m.getField("n_chars")
    val nTok = m.getField("n_tokens")
    val nPunct = m.getField("n_punct")
    val nDigit = m.getField("n_digits")
    val nStop = m.getField("n_stopwords")
    nTok.between(50L, 100000L) &&
      lit(3L) * nTok <= nChars && nChars <= lit(10L) * nTok &&
      lit(5L) * nPunct <= nChars &&
      lit(10L) * nDigit <= lit(3L) * nChars &&
      nStop >= 2L
  }

  /** Corpus filter applying [[gopherKeep]]. */
  def gopherFilter(df: DataFrame, textCol: String): DataFrame =
    df.filter(gopherKeep(col(textCol)))

  /** Language-ID heuristic: per-language stopword hit counts; winner = max
    * count with lexicographic tiebreak; "und" (undetermined) when nothing
    * matches. One kernel pass ([[graft.functions.TextKernels.langId]])
    * instead of five `regexp_count` scans; the coalesce mirrors the regex
    * formulation's null behavior (null text counted 0 everywhere → "und").
    */
  def langIdExpr(text: Column): Column =
    coalesce(graft.functions.lang_id(text), lit("und"))

  /** The five-regex formulation [[langIdExpr]] replaced — retained as the
    * executable specification the kernel is spec-checked against
    * (TextStatsSpec) and the shape the generated DuckDB oracle mirrors.
    */
  def langIdRegexExpr(text: Column): Column = {
    val langs = Stopwords.keys.toSeq.sorted
    val scored = langs.map { l =>
      // negate count so that max(struct) prefers higher counts, and the
      // ascending lang code breaks ties deterministically.
      struct((-stopwordCount(text, l)).as("neg"), lit(l).as("lang"))
    }
    val best = array_min(array(scored: _*))
    when(best.getField("neg") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Document fingerprint: order-sensitive 64-bit rolling hash over tokens
    * (chain-mixed token hashes, one kernel pass per document —
    * [[graft.functions.TextKernels.rollingFingerprint]]). Content-identical
    * docs collide; reordered docs don't. Shuffle-free.
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.rolling_fingerprint(text)

  /** Content fingerprint: min hashed shingle (order-insensitive; robust to
    * shuffling sentences). Used by near-dup candidates as a cheap
    * first-pass bucket key.
    */
  def contentFingerprint(text: Column, n: Int = 3): Column =
    graft.functions.content_fingerprint(text, n)

  /** Deflate compression ratio (compressed/raw UTF-8 bytes): repetitive
    * or templated text lands far below natural prose — the cheap
    * repetition signal used alongside [[gopherKeep]] and
    * [[dupLineStats]]. Deterministic (fixed deflate level), shuffle-free,
    * one kernel pass. No SQL oracle exists (DuckDB has no deflate), so
    * its registry gate is rows-only; the spec pins known values instead.
    */
  def compressionRatio(text: Column): Column =
    graft.functions.compression_ratio(text)

  /** Unigram corpus-familiarity scoring — the engine-exact perplexity
    * proxy: for each document, the average corpus frequency of its
    * tokens (`familiarity` = Σ freq(token) / n_tokens, one division of
    * exact int64 sums — a true LM logprob would be an order-dependent
    * float sum) and the count of near-OOV tokens (corpus frequency <
    * `oovBelow`). Low familiarity / high OOV flags gibberish, encoding
    * damage, and out-of-domain text the way an LM perplexity filter
    * would, without a model artifact. Documents with no tokens (or null
    * ids) are excluded.
    *
    * Scale shape: one token explode feeding a groupBy(token) frequency
    * table (map-side combine) and a token→frequency equi-join back
    * (AQE-handled; the frequency table is Zipf-small relative to the
    * stream), then one groupBy(id) fold. The exploded tokens persist —
    * they feed both the frequency aggregate and the join probe.
    */
  /** Saturation bound for [[unigramFamiliarity]] frequency sums. */
  val FreqCap = 1000000000L

  def unigramFamiliarity(
      df: DataFrame, idCol: String, textCol: String,
      oovBelow: Long = 2L): DataFrame = {
    require(oovBelow >= 1, s"oovBelow must be at least 1: $oovBelow")
    val toks = df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`").as("__id"),
        explode(whitespaceTokens(col(s"`$textCol`"))).as("__tok"))
      .transform(graft.CachedFrames.cached)
    val freqs = toks.groupBy("__tok").agg(count(lit(1)).as("__freq"))
    toks.join(freqs, Seq("__tok"))
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_tokens"),
        // freq saturates at 1e9 before summing: a token seen a billion
        // times is maximally familiar, and the uncapped sum could pass
        // int64 at corpus scale — ANSI mode would abort the query where
        // the oracle's wider sum succeeds (same cap on both sides)
        sum(least(col("__freq"), lit(FreqCap))).as("__sum_freq"),
        sum(when(col("__freq") < oovBelow, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("familiarity",
        round(col("__sum_freq").cast("double") / col("n_tokens").cast("double"), 6))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_oov"), col("familiarity"))
  }

  /** Bigram corpus-familiarity — the 2-gram extension of
    * [[unigramFamiliarity]] (the CCNet-style LM-perplexity filter,
    * re-expressed in exact arithmetic): per document,
    *  - `n_bigrams`: consecutive token pairs,
    *  - `n_rare`: bigrams whose corpus count is below `rareBelow` — the
    *    2-gram OOV analog; unseen continuations are exactly where an LM
    *    perplexity spikes,
    *  - `bigram_cond`: Σ c(w1,w2) / Σ c(w1·) over the doc's bigrams,
    *    the aggregate continuation rate (c(w1,w2) = corpus bigram count,
    *    c(w1·) = count of w1 as a bigram LEFT — the conditional
    *    probability's denominator). Both sums are exact int64 (capped at
    *    [[FreqCap]] like the unigram op) with ONE final division — a
    *    per-bigram Σ log P(w2|w1) would be an order-dependent float sum
    *    no oracle could replay bit-exactly, and the ratio ranks
    *    documents the same way (monotone in the same evidence).
    * Documents with fewer than 2 tokens have no bigrams and drop out;
    * null ids are excluded.
    *
    * Scale shape: each doc's bigram array is built in one NARROW pass
    * (transform over the token array — no shuffle, no self-join on
    * position); the exploded bigrams persist (library caching contract,
    * same as [[unigramFamiliarity]]: the cache outlives the call —
    * Verify/Bench clearCache between queries; long-lived sessions
    * release it with `graft.CachedFrames.releaseAll()` after
    * corpus-wide scoring) and feed (a) the
    * groupBy(w1,w2) count table, (b) the groupBy(w1) left-count table —
    * both map-side combined, Zipf-small vs the stream — and (c) the
    * probe side of the two equi-joins back; then one groupBy(id) fold.
    * Hot bigrams ("of the") skew the joins, not the aggregates — AQE
    * skew-split territory, never a candidate explosion.
    */
  def bigramFamiliarity(
      df: DataFrame, idCol: String, textCol: String,
      rareBelow: Long = 2L): DataFrame = {
    require(rareBelow >= 1, s"rareBelow must be at least 1: $rareBelow")
    val bi = df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`").as("__id"),
        whitespaceTokens(col(s"`$textCol`")).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("__id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - 2), i =>
          struct(
            element_at(col("__toks"), i + 1).as("w1"),
            element_at(col("__toks"), i + 2).as("w2")))).as("__bg"))
      .select(col("__id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .transform(graft.CachedFrames.cached)
    val pairCounts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val leftCounts = bi.groupBy("w1").agg(count(lit(1)).as("__c1"))
    bi.join(pairCounts, Seq("w1", "w2"))
      .join(leftCounts, Seq("w1"))
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__c12") < rareBelow, 1L).otherwise(0L)).as("n_rare"),
        sum(least(col("__c12"), lit(FreqCap))).as("__s12"),
        sum(least(col("__c1"), lit(FreqCap))).as("__s1"))
      .withColumn("bigram_cond",
        round(col("__s12").cast("double") / col("__s1").cast("double"), 6))
      .select(col("__id").as(idCol), col("n_bigrams"), col("n_rare"), col("bigram_cond"))
  }

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al., NeurIPS 2023) in exact arithmetic: score
    * every document by how much its token distribution looks like a
    * TARGET subcorpus (the `isTarget` predicate — e.g. curated
    * wiki-like sources) relative to the raw corpus, then keep the
    * highest-weight documents. The published method weights by
    * Π p_target(tok)/p_raw(tok) over a hashed-ngram bag; a per-token
    * log-sum is an order-dependent float fold no oracle can replay
    * bit-exactly, so — same trade as [[unigramFamiliarity]] — this
    * computes the aggregate evidence ratio with exact int64 sums and ONE
    * final division:
    *   `dsir_weight` = Σ min(c_target(tok)+smooth, cap) /
    *                   Σ min(c_raw(tok)+smooth, cap)
    * (c_target = token count inside the target slice, c_raw = count in
    * the whole corpus, add-`smooth` so target-unseen tokens contribute
    * floor evidence instead of zeroing the document). Ranks documents by
    * the same evidence as the likelihood ratio: target-typical tokens
    * push the ratio toward the target share, target-alien tokens toward
    * the smoothing floor. Documents with no tokens (or null ids) drop.
    *
    * Scale shape: one token explode persisted (it feeds the two
    * frequency aggregates AND the join probe), two groupBy(token)
    * frequency tables (map-side combined, Zipf-small vs the stream), a
    * left join (target table misses are the floor case) + an equi-join
    * back, one groupBy(id) fold. Hot tokens skew the joins — AQE
    * skew-split territory, never a candidate explosion. Selection
    * composes downstream: `orderBy(weight desc).limit(k)` is
    * TakeOrderedAndProject (per-partition heads), or feed the weights to
    * Curation.epochMixture for soft resampling.
    */
  def dsirWeights(
      df: DataFrame, idCol: String, textCol: String, isTarget: Column,
      smooth: Long = 1L): DataFrame = {
    require(smooth >= 1, s"smooth must be at least 1: $smooth")
    val toks = df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`").as("__id"),
        when(isTarget, lit(1L)).otherwise(lit(0L)).as("__tgt"),
        explode(whitespaceTokens(col(s"`$textCol`"))).as("__tok"))
      .transform(graft.CachedFrames.cached)
    val targetFreq = toks.filter(col("__tgt") === 1L)
      .groupBy("__tok").agg(count(lit(1)).as("__ct"))
    val rawFreq = toks.groupBy("__tok").agg(count(lit(1)).as("__cr"))
    toks.join(targetFreq, Seq("__tok"), "left")
      .join(rawFreq, Seq("__tok"))
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(least(coalesce(col("__ct"), lit(0L)) + smooth, lit(FreqCap))).as("__st"),
        sum(least(col("__cr") + smooth, lit(FreqCap))).as("__sr"))
      .withColumn("dsir_weight",
        round(col("__st").cast("double") / col("__sr").cast("double"), 6))
      .select(col("__id").as(idCol), col("n_tokens"), col("dsir_weight"))
  }

  /** BM25 (k1 = 1.2, b = 0.75, Lucene idf) top-k ranked retrieval for a
    * fixed term list: adds `score` (rounded to 4 decimals) and `rnk`,
    * keeping the k best documents (score desc, id asc tiebreak). Only
    * documents containing at least one query term are ranked — everything
    * else scores 0 and is excluded, the standard inverted-index contract.
    * Null-id documents are excluded from ranking AND the corpus stats
    * (N, Σdl, df): an unaddressable doc can't be retrieved, and letting
    * it shift every idf would be a silent corpus-stat skew.
    *
    * Determinism across engines/runs: the term saturation is ONE division
    * of exact int64 products — with k1 = 6/5, b = 3/4,
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) ==
    * 22·tf·Σdl / (10·tf·Σdl + 3·Σdl + 9·dl·N) — and per-term scores are
    * summed in FIXED term order (a floating SUM aggregate would be
    * order-nondeterministic and flip rounded values run-to-run). Int64
    * bounds: safe while 22·tf·Σdl < 2^63 (ANSI mode aborts loudly past
    * it, e.g. Σdl ≲ 4·10^14 at tf ≤ 10^3).
    *
    * Scale shape: one agg pass for corpus stats (N, Σdl, per-term df —
    * broadcast back as a single row), one explode→filter→pivot-count
    * shuffle carrying only (id, dl, term) for MATCHING terms, then a
    * TWO-PHASE top-k: a per-partition row_number cut to k (partitioned
    * window — parallel across tasks) feeds the final unpartitioned rank
    * window, which therefore sorts at most k × numPartitions rows instead
    * of every matching doc. A common query term at 100 TB matches
    * millions of docs; without the cut the final rank is one task sorting
    * all of them. Correctness of the cut: under the same total order
    * (score desc, id asc) any global top-k row is necessarily within the
    * top k of its own partition, so the cut never drops a winner.
    */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, s"1..8 query terms: $terms")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    require(k > 0, s"k must be positive: $k")
    // null-id docs are out of scope for BOTH ranking and the corpus
    // stats (N, Σdl, df) — an unaddressable doc can't be retrieved, and
    // letting it shift every idf would be a silent corpus-stat skew
    val toks = df.filter(col(idCol).isNotNull).select(
      col(idCol).as("__id"),
      whitespaceTokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val statAggs =
      Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L))
            .as(s"__df$i")
        }
    val stats = toks.agg(statAggs.head, statAggs.tail: _*)
    val tf = toks
      .select(col("__id"), col("__dl"), explode(col("__toks")).as("__tok"))
      .filter(col("__tok").isin(terms: _*))
      .groupBy("__id", "__dl").pivot("__tok", terms).count()
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tfc = coalesce(col(s"`$t`"), lit(0L))
      val dfc = col(s"__df$i")
      // idf and saturation sequenced exactly as the oracle SQL writes them
      val idf = log(lit(1.0) +
        ((col("__n") - dfc).cast("double") + lit(0.5)) /
          (dfc.cast("double") + lit(0.5)))
      val satur = (lit(22L) * tfc * col("__sumdl")).cast("double") /
        (lit(10L) * tfc * col("__sumdl") + lit(3L) * col("__sumdl") +
          lit(9L) * col("__dl") * col("__n")).cast("double")
      idf * satur
    }.reduce(_ + _)
    val scored = tf.crossJoin(broadcast(stats))
      .withColumn("score", round(score, 4))
      .select(col("__id"), col("score"))
    // phase 1: per-partition top-k cut — parallel, bounds the final sort
    val wCut = Window.partitionBy("__pid").orderBy(desc("score"), asc("__id"))
    val cut = scored
      .withColumn("__pid", spark_partition_id())
      .withColumn("__prnk", row_number().over(wCut))
      .filter(col("__prnk") <= k)
      .drop("__pid", "__prnk")
    // phase 2: global rank over ≤ k × numPartitions survivors — the
    // unpartitioned window is bounded by the phase-1 cut, never corpus-
    // sized (r19 window audit: bounded sites stay single-window)
    val w = Window.orderBy(desc("score"), asc("__id"))
    cut
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .withColumnRenamed("__id", idCol)
  }

  // --- blockterm (dirty-word) profiling ------------------------------------

  /** Whole-word blockterm profile + keep flag — the UT1-blocklist-style
    * NSFW/spam-term ratio filter of RefinedWeb/FineWeb pipelines, on the
    * engine's standard whitespace tokenization (whole TOKENS equal to a
    * term — substring hits like "class" ⊅ "ass" never fire, the classic
    * blocklist false-positive). Output adds `n_tokens`, `n_flagged`
    * (total occurrences), `n_distinct_flagged`, `flag_ratio` (6 dp) and
    * `keep` = [flagged share ≤ `maxPerMyriad`/10⁴] as an EXACT integer
    * cross-multiplication (no float threshold compare to drift across
    * engines). Zero-token docs keep (vacuously clean, ratio 0).
    *
    * Scale shape: shuffle-free narrow projection; the term set rides the
    * HOF membership test as a constant — for curated lists (10²–10⁴
    * terms) that's a hash-set probe per token. Lists beyond literal-size
    * comfort become a broadcast join on an exploded token frame instead.
    */
  def blocktermProfile(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], maxPerMyriad: Int = 100): DataFrame = {
    require(terms.nonEmpty, "blocktermProfile needs at least one term")
    require(maxPerMyriad >= 0 && maxPerMyriad <= 10000,
      s"maxPerMyriad out of [0, 10000]: $maxPerMyriad")
    val flagged = aggregate(col("__t"), lit(0L),
      (acc, t) => acc + when(t.isInCollection(terms), 1L).otherwise(0L))
    df.select(col(s"`$idCol`"), whitespaceTokens(col(s"`$textCol`")).as("__t"))
      .select(
        col(s"`$idCol`"),
        size(col("__t")).cast("long").as("n_tokens"),
        flagged.as("n_flagged"),
        // array_intersect already returns de-duplicated elements
        size(array_intersect(col("__t"),
          array(terms.map(lit): _*))).cast("long").as("n_distinct_flagged"))
      .withColumn("flag_ratio",
        when(col("n_tokens") > 0,
          round(col("n_flagged").cast("double") / col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        (col("n_flagged") * lit(10000L) <= col("n_tokens") * lit(maxPerMyriad.toLong))
          .cast("int"))
  }

  /** [[blocktermProfile]] for term lists past literal-expression comfort
    * (≳10⁴ entries — full UT1 categories, merged multilingual lists):
    * the terms arrive as a DataFrame (one `term` column, deduplicated
    * here) and meet the corpus through a BROADCAST hash join on exploded
    * tokens instead of riding the plan as a constant collection — plan
    * size stays flat in the list size, and the list can itself be read
    * from parquet/CSV. Same output contract as [[blocktermProfile]].
    *
    * Scale shape: explode → BroadcastHashJoin (left) → one aggregation
    * keyed by (id, n_tokens) with map-side partial combine, so the
    * shuffle carries one row per document, not per token. The HOF form
    * stays preferable for small curated lists (no explode, no shuffle).
    */
  def blocktermProfileJoined(
      df: DataFrame, idCol: String, textCol: String,
      terms: DataFrame, maxPerMyriad: Int = 100): DataFrame = {
    require(maxPerMyriad >= 0 && maxPerMyriad <= 10000,
      s"maxPerMyriad out of [0, 10000]: $maxPerMyriad")
    val termSet = broadcast(
      terms.select(col("term").cast("string").as("__term")).distinct()
        .withColumn("__hit", lit(1)))
    df.select(col(s"`$idCol`"), whitespaceTokens(col(s"`$textCol`")).as("__t"))
      .select(col(s"`$idCol`"), size(col("__t")).cast("long").as("n_tokens"),
        explode_outer(col("__t")).as("__tok"))
      .join(termSet, col("__tok") === col("__term"), "left")
      .groupBy(col(s"`$idCol`"), col("n_tokens"))
      .agg(
        count(col("__hit")).as("n_flagged"),
        countDistinct(when(col("__hit").isNotNull, col("__tok")))
          .as("n_distinct_flagged"))
      .withColumn("flag_ratio",
        when(col("n_tokens") > 0,
          round(col("n_flagged").cast("double") / col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep",
        (col("n_flagged") * lit(10000L) <= col("n_tokens") * lit(maxPerMyriad.toLong))
          .cast("int"))
  }

  // --- hashed linear classifier scoring ------------------------------------

  /** Hashed bag-of-features for the linear scorer: word unigrams plus
    * adjacent-word bigrams (fastText's feature set), built with
    * codegen-friendly HOFs only. Duplicates are KEPT — a linear model
    * counts each occurrence.
    */
  def hashedFeatures(text: Column): Column = {
    val words = whitespaceTokens(text)
    val bigrams = when(size(words) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(words, lit(1), size(words) - 1),
        slice(words, lit(2), size(words) - 1),
        (a, b) => concat(a, lit(" "), b)))
    concat(words, bigrams)
  }

  /** Production feature hash: `xxhash64` — native, codegen'd, one pass
    * per feature string. The gate swaps in [[md5BucketHash]] solely so
    * DuckDB can mirror the bucket ids bit-for-bit (no xxhash64 there);
    * the scoring algebra is hash-agnostic.
    */
  def xxBucketHash(dim: Int)(f: Column): Column =
    pmod(xxhash64(f), lit(dim.toLong))

  /** Oracle-mirrorable feature hash: top 60 bits of md5 mod dim —
    * DuckDB-side `('0x' || substr(md5(f),1,15))::BIGINT % dim` (the
    * established hash-shingle idiom, see Dedup.groupOverlapExact).
    */
  def md5BucketHash(dim: Int)(f: Column): Column =
    pmod(conv(substring(md5(f), 1, 15), 16, 10).cast("long"), lit(dim.toLong))

  /** Micro-scaled pseudo-weight for feature bucket `b`: Knuth
    * multiplicative hash folded into [0, 2e6], read as
    * weight = w_micro/1e6 − 1 ∈ [−1, 1]. A stand-in for trained fastText
    * weights with the properties that matter to the ENGINE (dense int64
    * lookup-free arithmetic, deterministic across engines); swapping in a
    * learned table is a broadcast-array lookup with the same plan shape.
    */
  private def weightMicro(bucket: Column): Column =
    pmod(bucket * lit(2654435761L), lit(2000001L))

  /** Hashing-trick featurization — the sparse (doc, bucket, count)
    * term matrix with a FIXED feature space: each whitespace token
    * hashes into one of `dim` buckets (md5-top-60 mod dim — the same
    * SQL-mirrorable bucket id as [[classifierScore]]), so the matrix
    * schema never depends on the vocabulary (the property that makes
    * the hashing trick THE featurizer at corpus scale: no vocab build
    * pass, no dictionary broadcast, new tokens land deterministically).
    * Collisions are the accepted trade (Weinberger et al. 2009) — at
    * dim ≫ distinct-tokens-per-doc they perturb counts negligibly.
    * Feed the matrix to any linear model or use it as the join-ready
    * bag-of-words; [[classifierScore]] is this op fused with a weight
    * table when only the score is needed.
    *
    * Scale shape: explode to (id, bucket) → ONE map-side-combined
    * groupBy; output bounded by docs × min(dim, doc tokens). No joins.
    */
  def featureHash(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val toks = filter(
      split(regexp_replace(col(s"`$textCol`"), "^\\s+|\\s+$", ""), "\\s+"),
      w => w =!= "")
    df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`"), explode(toks).as("__tok"))
      .select(col(s"`$idCol`"),
        pmod(conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .groupBy(col(s"`$idCol`"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** FastText-style linear document scorer: hash unigram+bigram features
    * into `dim` buckets, mean-pool the bucket weights into a logit,
    * threshold at 0 for the keep/drop label — the shape of every
    * production quality/toxicity/domain classifier applied at corpus
    * scale (CCNet, DCLM, FineWeb-Edu filtering). The tokenize→hash→fold
    * hot loop is ONE codegen'd kernel pass
    * ([[graft.functions.TextKernels.hashedLinearRow]] — md5-top-60
    * buckets, so the DuckDB oracle mirrors them bit-for-bit via
    * `('0x' || substr(md5(f),1,15))::BIGINT`); only the logit/label
    * arithmetic stays declarative on top.
    *
    * Determinism across engines: the weight sum is EXACT int64 arithmetic
    * (micro-scaled weights, one float division at the end), and the label
    * is an integer comparison — no float accumulation order, no exp. The
    * logit is the mean weight in [−1, 1]; sigmoid would be a monotone
    * re-scale of it, so thresholding the logit at 0 IS thresholding the
    * probability at 0.5.
    *
    * Scale shape: shuffle-free narrow projection — one mapper pass inside
    * whole-stage codegen; at 100 TB it rides the same scan as the rest of
    * the per-doc text kernels. Docs with no tokens are dropped (no
    * features → no defined score).
    */
  def classifierScore(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int = 1 << 20): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    scoreFromFold(
      df.filter(col(idCol).isNotNull)
        .select(col(idCol),
          graft.functions.hashed_linear(col(textCol), dim).as("__s"))
        .select(col(idCol), col("__s.n_feats").as("n_feats"),
          col("__s.wsum").as("__wsum")),
      idCol)
  }

  /** The declarative HOF + `md5`/`conv` (or `xxhash64`) formulation
    * [[classifierScore]]'s kernel replaced — retained as the executable
    * spec (TextStatsSpec pins kernel ≡ this form on the corpus) and as
    * the production entry point for a CHEAPER hash: `xxBucketHash`
    * (default here) is native codegen'd xxhash64, the right choice when
    * no SQL-mirrorable bucket ids are needed.
    */
  def classifierScoreHof(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int = 1 << 20,
      bucketHash: Int => Column => Column = xxBucketHash): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val buckets = transform(col("__f"), bucketHash(dim))
    val wsum = aggregate(buckets, lit(0L), (acc, b) => acc + weightMicro(b))
    scoreFromFold(
      df.filter(col(idCol).isNotNull)
        .select(col(idCol), hashedFeatures(col(textCol)).as("__f"))
        .select(col(idCol), size(col("__f")).cast("long").as("n_feats"),
          wsum.as("__wsum")),
      idCol)
  }

  /** Shared logit/label arithmetic over a `(id, n_feats, __wsum)` fold. */
  private def scoreFromFold(folded: DataFrame, idCol: String): DataFrame =
    folded
      .filter(col("n_feats") > 0)
      .select(col(idCol), col("n_feats"),
        round((col("__wsum") - col("n_feats") * lit(1000000L)).cast("double") /
          (col("n_feats") * lit(1000000L)).cast("double"), 6).as("quality_logit"),
        (col("__wsum") >= col("n_feats") * lit(1000000L)).cast("int").as("label"))

  /** Corpus-level collocation mining: the top-K bigrams by pointwise
    * association strength ("lift" — the linear-space core of PMI:
    * `p(w1,w2) / (p(w1·)·p(·w2))`, Manning & Schütze ch. 5, using
    * bigram-position marginals so all three probabilities share the
    * bigram-count denominator). Collocations are the phrase-level twin
    * of [[topTerms]]: a corpus whose top collocations are boilerplate
    * ("click here", "all rights") is template-heavy even when unigram
    * stats look clean, and the mined list feeds phrase blocklists and
    * boilerplate strippers.
    *
    * Exactness: with c12 = count(w1,w2), c1 = count(w1, ·),
    * c2 = count(·, w2), NB = total bigrams,
    * `lift = (c12·NB) / (c1·c2)` — both products are int64-exact AND
    * below 2^53 for any corpus under ~9e15·minCount bigrams, so the
    * single double division is IEEE-identical in every engine; a
    * log-space PMI would pin the result to one engine's `ln`. The
    * `minCount` floor is the standard guard against the lift statistic's
    * hapax bias (a 1-occurrence pair has unbounded lift).
    *
    * Scale shape: one bigram explode feeding three map-side-combined
    * frequency aggregates; the pair-count frame is filtered to
    * `c12 ≥ minCount` BEFORE the two marginal joins (Zipf: that filter
    * is what keeps the join probe side small); final top-K is a
    * TakeOrdered (per-partition heap + driver merge of K), never a
    * global sort. Like [[unigramFamiliarity]], the exploded bigram
    * frame is persisted (it feeds four aggregates) and the cache
    * outlives the call — `graft.CachedFrames.releaseAll()` reclaims it in
    * long-lived sessions.
    */
  /** Bigram continuation table: for every prefix token seen at least
    * `minPrefixCount` times, its most likely successor and the exact
    * conditional probability — the argmax row of a count-based bigram
    * LM (the Markov autocomplete table, and the evidence behind
    * boilerplate detectors: a corpus where `p(next|prefix)` is
    * near 1.0 for many prefixes is template text, the same signal
    * [[gopherRepetition]] reads at the document level, measured here
    * corpus-wide).
    *
    * Ties on the pair count break to the lexicographically smallest
    * successor, so the argmax is total-order deterministic. Counts are
    * int64-exact; `p_next` is one rounded division.
    *
    * Scale shape: one bigram explode → map-side-combined pair counts
    * (the Zipf-small pair vocabulary, not the corpus), then one window
    * by prefix over that count frame for both the prefix total and the
    * argmax rank — a single exchange of the PAIR table. Skew lives on
    * stopword prefixes ("the" has many successors) — thousands of rows
    * per partition key, not a candidate explosion.
    */
  def ngramNextTable(
      df: DataFrame, textCol: String,
      minPrefixCount: Long = 10L): DataFrame = {
    require(minPrefixCount >= 1,
      s"minPrefixCount must be at least 1: $minPrefixCount")
    val pairCounts = df
      .select(whitespaceTokens(col(s"`$textCol`")).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__toks")) - 2), i =>
        struct(
          element_at(col("__toks"), i + 1).as("w1"),
          element_at(col("__toks"), i + 2).as("w2")))).as("__bg"))
      .groupBy(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val ranked = pairCounts
      .withColumn("n_prefix", sum(col("n_pair")).over(w))
      .withColumn("__rn", row_number().over(
        w.orderBy(col("n_pair").desc, col("w2"))))
    ranked
      .filter(col("__rn") === 1 && col("n_prefix") >= minPrefixCount)
      .select(col("w1"), col("w2").as("next"), col("n_pair"), col("n_prefix"),
        round(col("n_pair").cast("double") / col("n_prefix").cast("double"), 6)
          .as("p_next"))
  }

  def pmiCollocations(
      df: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be at least 1: $minCount")
    require(topK >= 1, s"topK must be at least 1: $topK")
    val bi = df
      .select(whitespaceTokens(col(s"`$textCol`")).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__toks")) - 2), i =>
        struct(
          element_at(col("__toks"), i + 1).as("w1"),
          element_at(col("__toks"), i + 2).as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .transform(graft.CachedFrames.cached)
    val pairCounts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val leftCounts = bi.groupBy("w1").agg(count(lit(1)).as("__c1"))
    val rightCounts = bi.groupBy("w2").agg(count(lit(1)).as("__c2"))
    val total = bi.agg(count(lit(1)).as("__nb"))
    pairCounts
      .join(leftCounts, Seq("w1"))
      .join(rightCounts, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        round((col("c12") * col("__nb")).cast("double") /
          (col("__c1") * col("__c2")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
