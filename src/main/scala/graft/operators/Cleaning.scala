package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Corpus-cleaning stage for training-data pipelines (north-star surface):
  * normalize → tokenize → quality-gate, as one declarative pass. Each
  * filter is a plain predicate (pushdown-friendly); rejected rows can be
  * routed to a quarantine output instead of dropped, so the pipeline is
  * auditable — at 100 TB you want to know *what* you threw away.
  */
object Cleaning {

  /** Quality thresholds for [[clean]]. */
  final case class Thresholds(
      minTokens: Int = 5,
      maxTokens: Int = 100000,
      minTypeTokenRatio: Double = 0.1,
      minMeanTokenLen: Double = 2.0,
      maxMeanTokenLen: Double = 20.0)

  /** Adds normalization + quality columns: `norm_text`, `toks`, `n_tok`,
    * `ttr`, `mean_len`, and the boolean `keep`. */
  def withQuality(df: DataFrame, text: Column, t: Thresholds = Thresholds()): DataFrame =
    df.withColumn("norm_text", TextOps.normalizeText(text))
      .withColumn("toks", filter(split(col("norm_text"), " "), x => x =!= ""))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("ttr", size(array_distinct(col("toks"))) / col("n_tok").cast("double"))
      .withColumn("mean_len",
        aggregate(col("toks"), lit(0), (acc, w) => acc + length(w)) / col("n_tok").cast("double"))
      .withColumn("keep",
        col("n_tok").between(t.minTokens, t.maxTokens) &&
        col("ttr") >= t.minTypeTokenRatio &&
        col("mean_len").between(t.minMeanTokenLen, t.maxMeanTokenLen))

  /** The keep-side of the gate (drop the working columns). */
  def clean(df: DataFrame, text: Column, t: Thresholds = Thresholds()): DataFrame =
    withQuality(df, text, t).filter(col("keep"))
      .drop("toks", "n_tok", "ttr", "mean_len", "keep")

  /** The quarantine side — rejected rows with their quality metrics, for
    * auditing what the gate removed. */
  def rejected(df: DataFrame, text: Column, t: Thresholds = Thresholds()): DataFrame =
    withQuality(df, text, t).filter(!col("keep")).drop("toks", "keep")

  /** QUANTILE quality gate — keep rows whose `score` is at or above the
    * corpus q-quantile, the relative form of [[clean]]'s absolute
    * thresholds ("keep the top quartile" survives distribution drift
    * between crawls; a fixed cutoff does not). The threshold is ONE
    * 1-row exact-percentile aggregate broadcast back into the filter —
    * no global sort, no driver round-trip; rows shuffle zero times. At
    * 100 TB the exact percentile's value-buffering state is the same
    * story as q45: swap in `percentile_approx`, whose sketch partials
    * merge associatively (the membership then being approximate is
    * usually the point at that scale). Cross-engine note: Spark's
    * `percentile` and DuckDB's `quantile_cont` both interpolate as
    * `lower + (upper − lower) · frac` with `frac` exact in binary for
    * quarter/half quantiles, so the kept SET is engine-stable — data
    * values sit only at the interpolation endpoints, never strictly
    * inside the bracket. NaN/NULL scores are the caller's job to filter
    * first (they would poison the percentile buffer). */
  def quantileGate(df: DataFrame, score: Column, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantile must be in (0,1), got $q")
    // Persisted (r20): the threshold aggregate and the gating filter
    // both consume `df`, and when the caller hands in a derived chain
    // (q97's trained scores) the whole chain re-executed once per
    // consumer — plan-counted. One disk-spillable cache replaces the
    // recompute; cold-timing harnesses clear it between reps. A frame
    // the caller already cached is used as is and stays cached.
    val (src, owned) = CacheDiscipline.persistOwned(df)
    // collision-proof internal names (the round-7 '__decontam_*' rule):
    // a user column literally named "__thr" must survive the gate intact
    val thr = src.select(score.as("__quantile_gate_s"))
      .agg(expr(s"percentile(__quantile_gate_s, ${q}D)").as("__quantile_gate_thr"))
    // materialize the gated output, release the input-chain cache (r21
    // lifecycle rule — CacheDiscipline): one execution fills src, the
    // threshold broadcast and the gate drain it, and nothing
    // chain-sized stays pinned after the operator returns
    CacheDiscipline.materialized(
      src.crossJoin(broadcast(thr))
        .filter(score >= col("__quantile_gate_thr"))
        .drop("__quantile_gate_thr"),
      (if (owned) Seq(src) else Nil): _*)
  }

  /** CCNet HEAD/MIDDLE/TAIL bucketing — the step CCNet actually runs on
    * its LM scores: per-language (per-`group`) tercile thresholds, every
    * doc labeled `head` (most target-like), `middle`, or `tail`, and the
    * published pipeline keeps head+middle (`keep`). The per-group form is
    * the point: one global threshold would let a high-resource language's
    * score distribution set the bar for every other language.
    *
    * Shape at scale — the [[quantileGate]] pattern, per group: ONE
    * percentile aggregate produces a |groups|-row threshold table
    * (languages are a dimension), broadcast back into a map-only CASE;
    * no per-group window, no global sort, the corpus shuffles zero
    * times. At 100 TB swap the exact percentile for
    * `percentile_approx` exactly as q45/q97 document.
    *
    * Cross-engine discipline: pass a GRID-SNAPPED score (e.g.
    * `Rounding.portable(ce, 6)`) — thresholds interpolate between grid
    * values and generically land strictly inside a bracket, so the
    * bucket CASE compares a grid double against a threshold both engines
    * derive bit-identically from the same sorted grid (the q135
    * determinism note, applied to bucketing). NULL scores get NULL
    * buckets (`keep = false`). */
  def ccnetBuckets(df: DataFrame, group: Column, score: Column,
      qLow: Double = 1.0 / 3, qHigh: Double = 2.0 / 3): DataFrame = {
    require(0.0 < qLow && qLow < qHigh && qHigh < 1.0,
      s"need 0 < qLow < qHigh < 1, got ($qLow, $qHigh)")
    // Persisted (r20): same double-consumption as [[quantileGate]] —
    // q137 hands in the whole bigram-LM scoring chain, which the
    // threshold aggregate and the bucketing join each re-executed.
    val (src, owned) = CacheDiscipline.persistOwned(df)
    val thr = src
      .select(group.as("__ccb_g"), score.as("__ccb_s"))
      .groupBy("__ccb_g")
      .agg(expr(s"percentile(__ccb_s, ${qLow}D)").as("__ccb_t1"),
        expr(s"percentile(__ccb_s, ${qHigh}D)").as("__ccb_t2"))
    // a doc whose group has NO threshold row (NULL group, or any future
    // left-join miss) has no per-group distribution to bucket against —
    // it takes a NULL bucket (keep=false via the coalesce), never a
    // confident "tail" off `score <= NULL` falling through to otherwise
    val bucket = when(score.isNull || col("__ccb_t1").isNull, lit(null).cast("string"))
      .when(score <= col("__ccb_t1"), "head")
      .when(score <= col("__ccb_t2"), "middle")
      .otherwise("tail")
    // materialize the bucketed output, release the input-chain cache
    // (r21 lifecycle rule — see quantileGate)
    CacheDiscipline.materialized(
      src.join(broadcast(thr), group === col("__ccb_g"), "left")
        .withColumn("bucket", bucket)
        .withColumn("keep", coalesce(col("bucket") =!= "tail", lit(false)))
        .drop("__ccb_g", "__ccb_t1", "__ccb_t2"),
      (if (owned) Seq(src) else Nil): _*)
  }

  /** Gopher-style quality rules (the published heuristic battery of Rae
    * et al. 2021 §A1.1, restated over whitespace tokens): word-count
    * bounds, mean-word-length bounds, a minimum stopword-hit count (pure
    * symbol/code pages have none) and a ceiling on the fraction of
    * characters covered by the single most frequent 2-gram (boilerplate
    * and degenerate repetition concentrate mass there — the complement
    * of [[graft.operators.TextAnalysis]] q79's DISTINCT-ratio view).
    *
    * Returns per-doc `(id, n_words, mean_word_len, stop_hits, top2_frac,
    * keep)`. Every metric — including the argmax 2-gram — is computed
    * IN-ROW with array HOFs (the gram count is per-doc state, so there
    * is nothing to shuffle): the operator is a pure map-only projection.
    * At 100 TB that means a single scan stage with zero exchanges, and
    * it composes with Structured Streaming unchanged (stateless). The
    * argmax tie-break (highest count, then lexicographically smallest
    * gram) falls out of folding the SORTED gram array: runs arrive in
    * lexicographic order and only a STRICTLY longer run replaces the
    * best. The rule thresholds are data-set parameters, not constants
    * of nature. */

  def gopherRules(df: DataFrame, id: Column, text: Column,
      stops: Seq[String] = Seq("the", "a", "and", "of", "to", "in"),
      minWords: Int = 15, maxWords: Int = 10000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
      minStopHits: Int = 2, maxTop2Frac: Double = 0.08): DataFrame = {
    val toks = TextOps.tokens(text)
    df.select(id.as("id"), length(text).as("__gq_nch"), toks.as("__gq_s"))
      .select(
        col("id"),
        size(col("__gq_s")).cast("long").as("n_words"),
        (aggregate(col("__gq_s"), lit(0), (acc, w) => acc + length(w))
          / size(col("__gq_s")).cast("double")).as("mean_word_len"),
        size(filter(col("__gq_s"), w => w.isInCollection(stops))).cast("long").as("stop_hits"),
        topGramFrac(col("__gq_s"), 2, col("__gq_nch")).as("top2_frac"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        col("stop_hits") >= minStopHits &&
        col("top2_frac") <= maxTop2Frac)
  }

  /** Fraction of the document's characters covered by its single most
    * frequent token n-gram: run-length argmax over the SORTED gram array
    * — runs arrive in lexicographic order and only a STRICTLY longer run
    * replaces the best, so the argmax tie-break is (highest count, then
    * lexicographically smallest gram). Per-doc state only — pure
    * map-side, nothing to shuffle. The argmax is the native `top_run`
    * expression ([[graft.plans.TextHashExpressions.TopRun]]): the
    * interpreted `aggregate` fold it replaces (semantics pinned equal in
    * NativeHashParitySpec) evaluated a 4-field conditional struct per
    * gram and was the battery's dominant per-token CPU — the round-10
    * `word_ngrams` trade repeated. */
  private def topGramFrac(toks: Column, n: Int, nChars: Column): Column = {
    val folded = graft.plans.GraftFunctions.topRun(
      array_sort(TextOps.shinglesNative(toks, n)))
    folded("best") * length(folded("bg")) / nChars.cast("double")
  }

  /** Duplicate fraction of an array's non-empty elements: the share of
    * occurrences beyond each element's first (0 when nothing repeats,
    * (n − n_distinct) / n otherwise; 0 on an empty array). */
  private def dupFrac(parts: Column): Column = {
    val p = filter(parts, x => x =!= "")
    when(size(p) > 0,
      (size(p) - size(array_distinct(p))) / size(p).cast("double"))
      .otherwise(lit(0.0))
  }

  /** The COMPLETE Gopher repetition battery (Rae et al. 2021 §A1.1) over
    * newline-structured text — [[gopherRules]]' four rules plus the four
    * the published battery adds: duplicate-line and duplicate-paragraph
    * fractions (lines split on `\n`, paragraphs on blank lines `\n\n`,
    * empties from the paragraph separators filtered; the fraction counts
    * occurrences beyond each distinct value's first) and top-3-gram /
    * top-4-gram character-coverage ceilings (same run-length argmax as
    * top-2). Tokens split on WHITESPACE runs (`\s+`, empties filtered)
    * because words here span line breaks — on single-space text this
    * matches [[gopherRules]]' tokens exactly.
    *
    * Shape is unchanged from [[gopherRules]]: every metric — including
    * the three argmax folds — is per-doc in-row state, so the operator
    * stays a pure MAP-ONLY projection (single scan stage, zero
    * exchanges at any scale) and composes with Structured Streaming
    * statelessly. Thresholds are data-set parameters; Gopher's published
    * values (0.30 dup-line, 0.20/0.18/0.16 top-2/3/4-gram) target web
    * crawls — defaults here are tuned so the synthetic fixture exercises
    * both outcomes where its structure allows. */
  def gopherRulesFull(df: DataFrame, id: Column, text: Column,
      stops: Seq[String] = Seq("the", "a", "and", "of", "to", "in"),
      minWords: Int = 15, maxWords: Int = 10000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
      minStopHits: Int = 2, maxTop2Frac: Double = 0.08,
      maxTop3Frac: Double = 0.10, maxTop4Frac: Double = 0.15,
      maxDupLineFrac: Double = 0.04, maxDupParaFrac: Double = 0.5): DataFrame = {
    val toks = filter(split(lower(text), "\\s+"), w => w =!= "")
    df.select(id.as("id"), length(text).as("__gq_nch"), toks.as("__gq_s"),
        filter(split(text, "\n"), l => l =!= "").as("__gq_lines"),
        filter(split(text, "\n\n"), p => p =!= "").as("__gq_paras"))
      .select(
        col("id"),
        size(col("__gq_s")).cast("long").as("n_words"),
        (aggregate(col("__gq_s"), lit(0), (acc, w) => acc + length(w))
          / size(col("__gq_s")).cast("double")).as("mean_word_len"),
        size(filter(col("__gq_s"), w => w.isInCollection(stops))).cast("long").as("stop_hits"),
        topGramFrac(col("__gq_s"), 2, col("__gq_nch")).as("top2_frac"),
        topGramFrac(col("__gq_s"), 3, col("__gq_nch")).as("top3_frac"),
        topGramFrac(col("__gq_s"), 4, col("__gq_nch")).as("top4_frac"),
        size(col("__gq_lines")).cast("long").as("n_lines"),
        dupFrac(col("__gq_lines")).as("dup_line_frac"),
        size(col("__gq_paras")).cast("long").as("n_paras"),
        dupFrac(col("__gq_paras")).as("dup_para_frac"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        col("stop_hits") >= minStopHits &&
        col("top2_frac") <= maxTop2Frac &&
        col("top3_frac") <= maxTop3Frac &&
        col("top4_frac") <= maxTop4Frac &&
        col("dup_line_frac") <= maxDupLineFrac &&
        col("dup_para_frac") <= maxDupParaFrac)
  }


  /** BENFORD FIRST-DIGIT AUDIT — the numeric-column data-quality screen
    * (auditing/fraud tooling's standard anomaly flag; naturally-grown
    * magnitudes follow `P(d) = log10(1 + 1/d)`, fabricated or truncated
    * ones don't): per leading digit 1–9 of the positive values, the
    * observed count, the Benford expectation, and the Pearson χ² term
    * `(obs − exp)² / exp` — `Σ term` against χ²(8) is the test.
    *
    * A screen, not a verdict: uniform or range-bounded columns
    * legitimately fail Benford; the operator's job is to make the
    * distribution VISIBLE next to its expectation. Shape: one map-side
    * `substring(cast(x as string), 1, 1)` digit extraction + one 9-key
    * aggregate + a 9-row spine join; counts exact, the expectation the
    * same `log10` double on both engines, the χ² term a fixed dag over
    * them.
    *
    * Domain contract: the audited digit is the leading digit of the
    * value's INTEGER PART — NULL, non-positive, and sub-unit values
    * (integer part 0) are excluded, because they have no integer
    * leading digit. True first-SIGNIFICANT-digit auditing of
    * fractional data (0.005 → digit 5) needs a mantissa normalization
    * this operator deliberately does not do — that is
    * [[benfordSignificant]]. An input with no qualifying values fails AT EXECUTION
    * via an in-plan raise_error (the χ² terms would divide by zero; a
    * silent all-zero census would read as "perfectly absent") — the
    * operator itself stays lazy and single-scan. Returns
    * `(digit, obs, exp_frac, term)` per digit, all 9 rows present. */
  def benfordAudit(df: DataFrame, value: Column): DataFrame = {
    val v = df.select(value.cast("long").as("__bf_v"))
      .filter(col("__bf_v").isNotNull && col("__bf_v") > 0)
    val counts = v
      .select(substring(col("__bf_v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    benfordCensus(df.sparkSession, counts,
      "benfordAudit: no positive integer magnitudes to audit")
  }

  /** BENFORD FIRST-SIGNIFICANT-DIGIT AUDIT — [[benfordAudit]]'s sibling
    * for FRACTIONAL data: the audited digit is the first significant
    * digit after mantissa normalization (0.005 → 5, 0.04 → 4,
    * 901.37 → 9), which is the form Benford's law actually states —
    * the integer-part variant excludes every sub-unit value by
    * contract; this one admits all positive values.
    *
    * Mantissa normalization, engine-portably: `e = floor(log10(v))`,
    * `m0 = v / 10^e`, then a one-step correction (`m0 ≥ 10 → /10`,
    * `m0 < 1 → ·10`) makes the result exact even when an engine's
    * `log10` lands an ulp across a power-of-10 boundary — the
    * correction absorbs any off-by-one exponent. The digit is then
    * `floor` of the 1e-9-GRID-SNAPPED mantissa (`round(m·1e9)/1e9`,
    * integer-scale rounding — the [[graft.functions.Rounding]]
    * identity both engines agree on): the snap absorbs the few-ulp
    * freedom the engines' `pow`/`log10` retain, so a value like 0.04
    * whose computed mantissa is 3.999999999999999x audits as digit 4
    * on BOTH engines by construction. A mantissa within 1e-9 below 10
    * snaps up and clamps to digit 9 (the documented grid contract).
    * Same shape and return as [[benfordAudit]]: map-only digit
    * extraction, one 9-key aggregate, 9-row spine. */
  def benfordSignificant(df: DataFrame, value: Column): DataFrame = {
    val v = df.select(value.cast("double").as("__bf_v"))
      .filter(col("__bf_v").isNotNull && col("__bf_v") > 0)
    val m0 = col("__bf_v") / pow(lit(10.0), floor(log10(col("__bf_v"))))
    val m = when(m0 >= 10.0, m0 / 10.0).when(m0 < 1.0, m0 * 10.0).otherwise(m0)
    val digit = least(floor(round(m * lit(1e9)) / lit(1e9)), lit(9.0)).cast("long")
    val counts = v.select(digit.as("digit")).groupBy("digit").agg(count(lit(1)).as("obs"))
    benfordCensus(df.sparkSession, counts,
      "benfordSignificant: no positive magnitudes to audit")
  }

  /** Shared Benford census: 9-row digit spine, observed counts, the
    * `log10(1 + 1/d)` expectation, and the Pearson χ² term — with the
    * loud empty-input guard (a silent all-zero census would read as
    * "perfectly absent"). */
  private def benfordCensus(spark: org.apache.spark.sql.SparkSession,
      counts: DataFrame, emptyMsg: String): DataFrame = {
    val spine = spark.range(1, 10).select(col("id").as("digit"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    spine.join(counts, Seq("digit"), "left_outer")
      .na.fill(0L, Seq("obs"))
      .withColumn("__bf_n",
        when(sum("obs").over(wAll) === 0, raise_error(lit(
          s"$emptyMsg — the χ² terms would divide by zero")))
          .otherwise(sum("obs").over(wAll)))
      .withColumn("exp_frac", log10(lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("term",
        (col("obs") - col("exp_frac") * col("__bf_n")) *
          (col("obs") - col("exp_frac") * col("__bf_n")) /
          (col("exp_frac") * col("__bf_n")))
      .select("digit", "obs", "exp_frac", "term")
  }

  /** Strip markup tags (`<...>`) to spaces and collapse whitespace — the
    * boilerplate-removal step for HTML-scraped corpora. Codegen'd string
    * built-ins only; the tag pattern is RE2-safe (no backtracking
    * constructs) so the identical regex runs on Java and RE2 engines. */
  def stripMarkup(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]*>", " "), "\\s+", " "))

  /** Redact common PII patterns (emails, phone-like digit groups) with
    * typed placeholders — the redact-on-ingest stage of a training-data
    * pipeline (redact BEFORE any write: once a blob lands in the lake the
    * copy is out of your control). Patterns are RE2-safe. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(
      text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    regexp_replace(email, "\\b\\d{3}[-.]\\d{4}\\b", "[PHONE]")
  }

  /** PII patterns shared by [[piiScrub]] and its oracle: every construct
    * is valid AND identical in meaning under both Java regex (Spark) and
    * RE2 (DuckDB) — no backreferences, no lookaround, `\b`/`\d`/bounded
    * repetition only. Order matters downstream: emails are masked FIRST
    * so their user/domain digits can never be re-matched as phone or IP
    * fragments. */
  val PiiEmail: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhone: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  /** US SSN `AAA-GG-SSSS` — the 3-2-4 shape cannot collide with
    * [[PiiPhone]]'s 3-3-4. */
  val PiiSsn: String = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  /** IBAN, FORMAT-only (country code + 2 check digits + 11-30 BBAN
    * chars, total 15-34 — Norway's 15 is the shortest real one). The
    * mod-97 checksum is deliberately NOT validated: big-number modular
    * arithmetic is not expressible identically in both engines' SQL, and
    * the format-only rule is what the published code-corpus scrubs
    * (BigCode) ship. Cards are the opposite trade — pure digit runs are
    * too common to mask unvalidated, hence the native Luhn expression
    * ([[graft.plans.LuhnMaskCards]]). */
  val PiiIban: String = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"

  /** URL canonicalization — the normalization FineWeb-style URL dedup
    * keys on: byte-distinct surface forms of the same resource (scheme/
    * host case, `www.`, default ports, tracking params, fragments,
    * trailing slashes) must collapse BEFORE any URL-keyed dedup or
    * host-level aggregation, or the dedup silently undercounts. One
    * composed chain of codegen'd regexp built-ins (map-only, stateless,
    * streams unchanged); every pattern is the Java-regex/RE2 common
    * subset so the q125 oracle runs the identical steps.
    *
    * Canonical form, in order: strip `#fragment`; lowercase the scheme
    * and the host; drop a leading `www.`; drop the scheme's default port
    * (`:80` http, `:443` https); remove `utm_*` / `fbclid` / `gclid`
    * query params (fixing the separators they leave behind); drop an
    * empty query; drop one trailing `/` (only when no query remains —
    * a `/` ending a kept param value like `?next=/` is data, not path
    * punctuation). Path, non-default ports,
    * meaningful params and their ORDER are preserved — param
    * reordering is a different resource until proven otherwise, the
    * conservative side of this trade. Inputs without a `scheme://` are
    * returned trimmed but otherwise untouched (relative references have
    * no canonical absolute form without a base). */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(trim(url), "#.*", "")
    val schemeRe = "^[A-Za-z][A-Za-z0-9.+-]*://"
    val scheme = lower(regexp_extract(u, s"($schemeRe)", 1))
    val rest = regexp_replace(u, schemeRe, "")
    val rawHost = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val tail0 = regexp_replace(rest, "^[^/?]*", "")
    val host = regexp_replace(
      when(scheme === "http://", regexp_replace(rawHost, ":80$", ""))
        .when(scheme === "https://", regexp_replace(rawHost, ":443$", ""))
        .otherwise(rawHost),
      "^www\\.", "")
    val junk = "(utm_[a-z]+|fbclid|gclid)=[^&]*"
    val tail = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(tail0, s"&$junk", ""),
            s"\\?$junk&", "?"),
          s"\\?$junk$$", ""),
        "\\?$", ""),
      "^([^?]*)/$", "$1")
    when(u.rlike(schemeRe), concat(scheme, host, tail)).otherwise(u)
  }

  /** AUDITED PII scrub — the BigCode-pipeline shape: don't just mask
    * ([[redactPii]], q62); COUNT what you removed per category, because
    * at 100 TB the per-source removal-rate report is how you notice a
    * crawl segment that is 40% dumped credentials. Returns one row per
    * input row: `(id, n_emails, n_ips, n_phones, text_redacted)`.
    *
    * Pure MAP-ONLY projection of codegen'd regexp built-ins (counts via
    * `regexp_count`, masks via global `regexp_replace`): single scan
    * stage, zero exchanges at any scale, composes statelessly with
    * Structured Streaming. Masking order is email → IP → phone over the
    * progressively-masked text; counts follow the same discipline —
    * emails are counted on the raw text, IPs and phones on the
    * email-masked text — so an email's digit runs can never double-count
    * as IP or phone fragments (the placeholders themselves contain no
    * digits or `@`, so masking introduces no new matches). NULL text
    * propagates (NULL counts + NULL redaction, SQL semantics — the same
    * convention as [[gopherRules]]' metrics); a pipeline that wants
    * null-as-empty filters or coalesces upstream. */
  def piiScrub(df: DataFrame, id: Column, text: Column): DataFrame = {
    val masked = regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmail, "[EMAIL]"),
        PiiIpv4, "[IP]"),
      PiiPhone, "[PHONE]")
    df.select(
      id.as("id"),
      regexp_count(text, lit(PiiEmail)).cast("long").as("n_emails"),
      regexp_count(regexp_replace(text, PiiEmail, "[EMAIL]"), lit(PiiIpv4))
        .cast("long").as("n_ips"),
      regexp_count(regexp_replace(text, PiiEmail, "[EMAIL]"), lit(PiiPhone))
        .cast("long").as("n_phones"),
      masked.as("text_redacted"))
  }

  /** [[piiScrub]] with the full category set — emails, Luhn-VALIDATED
    * credit cards ([[graft.plans.LuhnMaskCards]]: per-match checksum
    * validation, which no regexp can express), IBANs (format-only, see
    * [[PiiIban]]), IPv4s, SSNs, phones. One row per input row:
    * `(id, n_emails, n_cards, n_ibans, n_ips, n_ssns, n_phones,
    * text_redacted)`.
    *
    * Same map-only, single-scan-stage, stream-composable shape as
    * [[piiScrub]], and the same progressive-masking discipline, in
    * masking order email → card → IBAN → IP → SSN → phone: each
    * category is counted on the text with all PREVIOUS categories
    * masked, so an email's digits can't count as a card run, a card's
    * digits can't count as a phone, and an IBAN's 20-digit tail can't
    * count as anything else (no placeholder contains a digit or `@`, so
    * masking never CREATES a match). Longest-pattern-first ordering
    * resolves the digit-run containments deterministically. NULL text
    * propagates as in [[piiScrub]]. */
  def piiScrubFull(df: DataFrame, id: Column, text: Column): DataFrame = {
    import graft.plans.GraftFunctions.{luhnCountCards, luhnMaskCards}
    val m1 = regexp_replace(text, PiiEmail, "[EMAIL]")
    val m2 = luhnMaskCards(m1)
    val m3 = regexp_replace(m2, PiiIban, "[IBAN]")
    val m4 = regexp_replace(m3, PiiIpv4, "[IP]")
    val m5 = regexp_replace(m4, PiiSsn, "[SSN]")
    val m6 = regexp_replace(m5, PiiPhone, "[PHONE]")
    df.select(
      id.as("id"),
      regexp_count(text, lit(PiiEmail)).cast("long").as("n_emails"),
      luhnCountCards(m1).cast("long").as("n_cards"),
      regexp_count(m2, lit(PiiIban)).cast("long").as("n_ibans"),
      regexp_count(m3, lit(PiiIpv4)).cast("long").as("n_ips"),
      regexp_count(m4, lit(PiiSsn)).cast("long").as("n_ssns"),
      regexp_count(m5, lit(PiiPhone)).cast("long").as("n_phones"),
      m6.as("text_redacted"))
  }
}
