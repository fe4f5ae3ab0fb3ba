package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis pack for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All per-row
  * column expressions — embarrassingly parallel, no shuffles, and
  * everything except the higher-order folds stays in WholeStageCodegen.
  */
object Text {

  /** Bind an expensive array expression ONCE for use inside a HOF
    * lambda body. HOF lambdas are interpreted over the raw expression
    * tree, so `element_at(ws, i)` / `slice(ws, …)` with an INLINE `ws`
    * re-evaluates the whole tokenizer per element — O(tokens²) per row
    * (measured 6.6× on q_dsir_scores before [[graft.llm.Dsir]] learned
    * this). Wrapping in a one-element array and reading it back through
    * the lambda variable makes `ws` a bound attribute: evaluated once
    * per row, O(1) per reference. Prefer a real projection when the
    * call site owns the DataFrame; use this when the API must stay
    * Column-in/Column-out. */
  def bindOnce(a: Column)(f: Column => Column): Column =
    element_at(transform(array(a), f), 1)

  /** Whitespace-normalized lowercase form used for dedup/fingerprints. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count — native one-pass byte walk,
    * value-identical (NativeExprSpec twin test) to
    * `when(length(trim(text)) === 0, 0)
    *  .otherwise(size(split(trim(text), "\\s+")))`
    * without building the word array. */
  def tokenCount(text: Column): Column =
    graft.expr.WsTokenCount(text)

  /** BPE-ish token estimate: alpha runs, single digits, punctuation —
    * a GPT-2-style pre-tokenizer approximation. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))

  /** Occurrences of a constant marker substring — computed by length
    * difference (literal replace, no regex) so an ANSI-SQL oracle can
    * reproduce it exactly. */
  def substringCount(text: Column, marker: String): Column =
    ((length(text) - length(replace(text, lit(marker), lit("")))) /
      marker.length).cast("int")

  /** Punctuation density in [0, 1]. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(punctCount(text).cast("double") / length(text))

  /** Lowercased whitespace tokens that are stopwords
    * ([[graft.expr.TextCore.Stopwords]]) — a cheap fluency signal; native
    * one-pass byte walk over `lower(text)`, value-identical
    * (NativeExprSpec twin test) to
    * `size(filter(words(lower(text)), w => array_contains(Stopwords, w)))`
    * on non-null text, without building the word array; null text
    * gives null. */
  def stopwordCount(text: Column): Column =
    graft.expr.StopwordCount(text)

  def stopwordRatio(text: Column): Column =
    when(tokenCount(text) === 0, 0.0)
      .otherwise(stopwordCount(text).cast("double") / tokenCount(text))

  /** Mean word length. */
  def meanWordLen(text: Column): Column =
    when(tokenCount(text) === 0, 0.0)
      .otherwise(
        aggregate(words(text), lit(0L), (acc, w) => acc + length(w))
          .cast("double") / tokenCount(text))

  /** Composite quality score in [0, 1]: rewards mid-length docs with
    * some stopwords and low punctuation noise (heuristic in the spirit
    * of C4/Gopher quality filters). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    round((lenScore + stopScore + punctPenalty) / 3.0, 6)
  }

  /** Per-language marker words for the n-gram/stopword language-ID
    * heuristic. Scores are marker-occurrence counts in the padded text;
    * ties break in declaration order (en first), deterministically. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " los "),
    "fr" -> Seq(" le ", " les ", " et "),
    "de" -> Seq(" der ", " und ", " die "),
    "zh" -> Seq("的", "是", "了"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    markers.map(m => substringCount(padded, m)).reduce(_ + _)
  }

  /** Heuristic language ID: argmax of marker scores, "und" when all
    * zero. Deterministic tiebreak = declaration order. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> langScore(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight nests the first language's `when` outermost, so the
    // earliest declared language wins ties deterministically.
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  /** 64-bit polynomial rolling-hash fingerprint over normalized words —
    * deterministic across runs (xxhash64 is seeded constant in Spark).
    * Collision-free in practice at catalog scale for dedup pre-keys.
    * Native [[graft.expr.FingerprintExpr]]; the HOF twin below is the
    * equivalence-spec reference. */
  def fingerprint(text: Column): Column =
    call_function("text_fingerprint", text)

  /** Declarative HOF twin of [[fingerprint]] (spec reference only). */
  def fingerprintHof(text: Column): Column =
    aggregate(words(normalize(text)), lit(0L),
      (acc, w) => acc * lit(1000003L) + xxhash64(w))

  /** PII redaction: emails, IPv4 addresses and long digit runs
    * (phone-ish) replaced with fixed tokens. Patterns stay in the
    * RE2-compatible subset (no backrefs/lookarounds) so an ANSI-SQL
    * oracle reproduces them byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b\\+?[0-9][0-9() .-]{7,}[0-9]\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII hits [[redactPii]] removes — counted in the same
    * email → IP → phone sequence (an IP would otherwise also match the
    * phone pattern's digit-and-dot class and double-count). */
  def piiCount(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0)))
  }

  /** Repetition signal (Gopher-style): fraction of word occurrences
    * beyond each word's first — 0 for all-distinct text, → 1 for a
    * single word repeated. Lowercased whitespace tokens. */
  def dupWordRatio(text: Column): Column = {
    val ws = words(lower(text))
    when(tokenCount(text) === 0, 0.0)
      .otherwise(lit(1.0) -
        size(array_distinct(ws)).cast("double") / size(ws))
  }

  /** Character-distribution entropy stats — the gibberish/binary-blob
    * quality signal (natural text ~2.5-4.3 nats; base64/hex junk near
    * the alphabet ceiling; repeated filler near zero). Returns
    * struct(n_chars, sum_clnc_e6) as EXACT integers (per-distinct-char
    * `count x round(ln(count) x 1e6)`, summed), so entropy gates can
    * stay in integer cross-multiplication:
    * `H >= t  <=>  round(ln(n) x 1e6) x n - sum >= t x n x 1e6`.
    * Entropy itself = `ln(n) - sum / (n x 1e6)` nats. Native
    * [[graft.expr.CharEntropyExpr]]; callers must have registered
    * [[graft.GraftFunctions]]. */
  def charEntropy(text: Column): Column =
    call_function("char_entropy_stats", text)

  /** Declarative HOF twin of [[charEntropy]] (spec reference only):
    * code-point extraction via Java-regex `(?s).`, one sorted
    * run-length fold. */
  private[graft] def charEntropyHof(text: Column): Column = {
    val sorted = sort_array(regexp_extract_all(text, lit("(?s)."), lit(0)))
    def term(run: Column): Column =
      run * round(log(run.cast("double")) * lit(1000000.0)).cast("long")
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("n"), lit(0L).as("sum"))
    aggregate(sorted, init,
      (acc, c) => when(c === acc.getField("prev"),
        struct(acc.getField("prev").as("prev"),
          (acc.getField("run") + 1L).as("run"),
          (acc.getField("n") + 1L).as("n"),
          acc.getField("sum").as("sum")))
        .otherwise(struct(c.as("prev"), lit(1L).as("run"),
          (acc.getField("n") + 1L).as("n"),
          (acc.getField("sum") +
            when(acc.getField("run") > 0, term(acc.getField("run")))
              .otherwise(0L)).as("sum"))),
      acc => struct(acc.getField("n").as("n_chars"),
        (acc.getField("sum") +
          when(acc.getField("run") > 0, term(acc.getField("run")))
            .otherwise(0L)).as("sum_clnc_e6")))
  }

  /** All http(s) URLs in the text (RE2-safe pattern — the oracle runs
    * the identical regex). The domain blocklist/stat primitive of
    * crawl curation. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit("https?://[^\\s]+"), lit(0))

  /** Lowercased host of a URL ('' when the pattern misses). */
  def urlDomain(url: Column): Column =
    lower(regexp_extract(url, "https?://([^/\\s]+)", 1))
}
