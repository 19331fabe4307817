package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Moments
import graft.core.Snap.truncated

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * token statistics, quality scoring, language identification, and
 * document fingerprinting. Beyond the reference's surface (goetl has no
 * text operators); designed per the north-star LLM-pipeline scope.
 *
 * Everything is pure `Column` expressions (higher-order array functions,
 * no UDFs) so the whole module stays inside whole-stage codegen and
 * scales embarrassingly parallel — per-document work, no shuffle.
 *
 * Determinism contract: every formula is a fixed-order IEEE-754
 * computation over integers/ratios, so an external oracle (DuckDB)
 * reproduces results bit-exactly.
 */
object TextAnalysis {

  /** Whitespace tokenization. RAW split: leading whitespace and empty
   *  text produce empty-string artifact tokens (`split`'s contract) —
   *  the counting/statistics family below works over [[cleanTokens]]
   *  instead, so those artifacts never reach a metric. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Non-empty whitespace tokens — the split artifacts (empty text,
   *  leading/trailing whitespace) filtered out, matching the gram
   *  builders ([[ngramsOf]], inverted index, vocab coverage). Every
   *  token STATISTIC in this module counts these, so an empty document
   *  has 0 tokens, not 1. */
  def cleanTokens(text: Column): Column = filter(tokens(text), t => t =!= "")

  /** Space-joined n-gram strings of a token array — the ONE shared
   *  gram builder behind [[repetitionRatio]] and
   *  [[graft.llm.Dedup.shingles]] (gram definitions must never
   *  diverge between the repetition filter and the dedup family).
   *  Built as a zip_with chain over n bulk shifted slices: the
   *  per-position `slice+concat_ws` transform allocates a fresh
   *  sub-array per gram in interpreted HOF eval — measured 4.7×
   *  slower (and per-position `element_at` is 2.5× slower still:
   *  ANSI bounds checks). Caller guards size(w) >= n. */
  private[llm] def ngramJoin(w: Column, n: Int): Column = {
    val m = size(w) - (n - 1)
    (2 to n).foldLeft(slice(w, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(w, lit(k), m), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** Token count: NON-EMPTY whitespace tokens (empty text → 0; a
   *  leading/trailing-whitespace run adds nothing). */
  def tokenCount(text: Column): Column = size(cleanTokens(text)).cast("long")

  /** Public space-joined word n-grams of a text column (empty tokens
   *  filtered, texts shorter than n grams → empty array) — the same
   *  gram definition [[ngramJoin]] gives the dedup family. */
  private[graft] def ngramsOf(text: Column, n: Int): Column = {
    val w = cleanTokens(text)
    when(size(w) >= n, ngramJoin(w, n))
      .otherwise(array().cast("array<string>"))
  }

  /** BPE-ish token count: letter runs, digit runs, and single
   *  non-alphanumeric marks — a cheap codegen'd PROXY for subword
   *  tokenizers (stays a pure Column expression, oracle-replayable).
   *  When the count must match an actual merges table — packing
   *  context windows, sizing shards — use [[bpeTokenCountExact]]. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** REAL byte-level BPE tokenization ([[graft.functions.Bpe]]): the
   *  subword strings an actual merges table produces. A native
   *  Catalyst expression ([[graft.functions.BpeTokenizeExpr]]), not a
   *  UDF: the kernel itself is data-dependent iterative merging either
   *  way, but the expression stays inside whole-stage codegen as one
   *  reference-object call with native null handling, where a ScalaUDF
   *  is a codegen black box with per-row encoder plumbing. The vocab
   *  rides the expression (task-serialized; rank map rebuilt lazily
   *  per executor). Per-document, no shuffle — embarrassingly parallel
   *  at any scale. */
  def bpeTokenize(text: Column,
                  vocab: graft.functions.Bpe.BpeVocab = graft.functions.Bpe.DefaultVocab): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.BpeTokenizeExpr(
      org.apache.spark.sql.GraftShims.expression(text.cast("string")), vocab))

  /** Token count from the REAL merges-table tokenizer — the number
   *  sequence packing and shard budgeting should trust. See
   *  [[bpeTokenize]] for the native-expression rationale. */
  def bpeTokenCountExact(text: Column,
                         vocab: graft.functions.Bpe.BpeVocab = graft.functions.Bpe.DefaultVocab): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.BpeCountExpr(
      org.apache.spark.sql.GraftShims.expression(text.cast("string")), vocab))

  /**
   * Train a BPE merges table FROM THE CORPUS, Spark-first: the part
   * that scales with corpus bytes — pre-tokenize every document
   * (native [[graft.functions.PreTokensExpr]] kernel, stays in
   * whole-stage codegen) and count word frequencies — is ONE
   * distributed explode + aggregate with map-side partial counts; the
   * merge loop ([[graft.functions.Bpe.trainFromFreqs]]) then runs on
   * the RESULTING word-frequency table, which is bounded by the
   * language's vocabulary (Heaps' law: ~1e5–1e7 distinct pre-tokens
   * no matter how many petabytes produced them), not by corpus size.
   *
   * `maxWords` caps the driver-side table for adversarial corpora
   * (random strings, unique IDs): the top `maxWords` pre-tokens by
   * (frequency DESC, word ASC — deterministic) are kept, planned as
   * TakeOrderedAndProject (per-partition heaps, no global sort).
   * Dropping the singleton tail is an APPROXIMATION of the exact
   * merges table — tail words still carry pair statistics in exact
   * training — but pairs occurring only in dropped singletons could
   * contribute at most their (≤ cap-threshold) frequencies; on
   * natural corpora with the default 1M cap the tables coincide.
   * The result is a pure function of (corpus multiset, numMerges,
   * maxWords) — identical on any partitioning or cluster size.
   */
  def bpeTrainFromCorpus(df: DataFrame, textCol: String, numMerges: Int,
                         maxWords: Int = 1 << 20): graft.functions.Bpe.BpeVocab = {
    val pretoks = org.apache.spark.sql.GraftShims.column(
      graft.functions.PreTokensExpr(
        org.apache.spark.sql.GraftShims.expression(col(textCol).cast("string"))))
    val freqs = df.where(col(textCol).isNotNull)
      .select(explode(pretoks).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    graft.functions.Bpe.trainFromFreqs(freqs, numMerges)
  }

  /** Distinct NON-EMPTY token count (empty text → 0). */
  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(cleanTokens(text))).cast("long")

  /** Mean token length over NON-EMPTY tokens: exact integer sum /
   *  count (one IEEE division); 0.0 when there are no tokens (not
   *  0/0 — empty documents are routine in training corpora). */
  def meanTokenLength(text: Column): Column = {
    val ts = cleanTokens(text)
    when(size(ts) === 0, lit(0.0)).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(ts).cast("double"))
  }

  /** Punctuation ratio: non-alphanumeric-non-space chars / all chars.
   *  Empty text scores 0.0 (not 0/0 — ANSI mode throws on any division
   *  by zero, and empty documents are routine in training corpora). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
        length(text).cast("double"))

  /** Fraction of NON-EMPTY tokens found in `stopwords` (0.0 when
   *  there are no tokens). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ts = cleanTokens(text)
    when(size(ts) === 0, lit(0.0)).otherwise(
      size(filter(ts, t => t.isin(stopwords: _*))).cast("double") /
        size(ts).cast("double"))
  }

  /** Default English stopword set for quality scoring. */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that", "from")

  /**
   * Composite quality score in [0,1]:
   * `0.4·min(tokens/100,1) + 0.3·(1−punctRatio) + 0.3·stopwordRatio`.
   * Length rewards substance, punctuation penalizes boilerplate/markup,
   * stopwords reward natural running text (classic heuristics from
   * C4/Gopher-style corpus filtering).
   */
  def qualityScore(text: Column,
                   stopwords: Seq[String] = EnglishStopwords): Column =
    lit(0.4) * least(tokenCount(text).cast("double") / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio(text)) +
      lit(0.3) * stopwordRatio(text, stopwords)

  /** Marker-word lists for the language-ID heuristic. Standard
   *  high-frequency function words per language. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "en", "que", "pour"))

  /** Distinct-token overlap with one language's marker list. */
  def langHits(text: Column, markers: Seq[String]): Column =
    size(array_intersect(array_distinct(tokens(text)),
      array(markers.map(lit): _*))).cast("long")

  /**
   * N-gram-heuristic language ID: argmax of marker-word hits, ties
   * resolved in [[LangMarkers]] order (en > es > de > fr); zero hits
   * everywhere → "und" (undetermined).
   */
  def langId(text: Column): Column = {
    val hits = LangMarkers.map { case (l, m) => l -> langHits(text, m) }
    val best = hits.map(_._2).reduce(greatest(_, _))
    hits.foldRight(lit("und"): Column) { case ((l, h), els) =>
      when(h === best && h > 0, lit(l)).otherwise(els)
    }
  }

  /** Cross-engine 32-bit hash: first 8 hex digits of md5, as a long.
   *  Reproducible in any engine with md5 + hex parsing (the oracle uses
   *  `('0x' || substr(md5(s),1,8))::BIGINT`). */
  def md5i(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Cross-engine 60-bit hash: first 15 hex digits of md5, as a long
   *  (15, not 16 — a full 16-hex prefix can exceed signed-long range
   *  and ANSI-throw on the cast). Oracle form:
   *  `('0x' || substr(md5(s),1,15))::BIGINT`. Use where collision rate
   *  matters: at 10⁶ distinct keys the 32-bit [[md5i]] gives ~2×10⁻⁴
   *  false-match probability per probe — enough to falsely flag ~20%
   *  of thousand-gram documents in a decontamination pass — while
   *  60 bits gives ~10⁻¹². */
  private[graft] def md5l(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /**
   * Document fingerprint: rolling polynomial hash over token hashes,
   * `acc → (acc·31 + md5i(token)) mod 1e9+7`. Order-sensitive (unlike
   * a bag-of-words hash), cheap, and exactly reproducible — the
   * rolling-hash analogue for near-identical-prefix detection.
   */
  def fingerprint(text: Column): Column =
    aggregate(cleanTokens(text), lit(0L),
      (acc, t) => (acc * 31L + md5i(t)) % 1000000007L)

  /** Strip HTML markup from crawled text — the first cleaning pass of
   *  every web-corpus pipeline (C4-style): comments and
   *  script/style blocks drop with their CONTENT, remaining tags
   *  become spaces, the five predefined entities plus `&nbsp;`
   *  unescape, whitespace collapses. RE2-compatible patterns (no
   *  lookaround, no backreferences), so an external engine reproduces
   *  the result exactly. NOT a parser: pathological markup (unclosed
   *  `<script`, tags inside attributes) degrades gracefully rather
   *  than exactly — corpus cleaning wants throughput and determinism,
   *  not DOM fidelity. */
  def stripHtml(text: Column): Column = {
    // non-greedy spans with [\s\S] (not dotall flags): identical
    // semantics in java.util.regex and RE2/DuckDB. (?i) on the blocks:
    // legacy crawled HTML routinely carries <SCRIPT>/<STYLE>, and a
    // case-sensitive match would strip only the tags while KEEPING the
    // JS/CSS content as "clean" text
    val noComment = regexp_replace(text, "<!--[\\s\\S]*?-->", " ")
    val noBlocks = regexp_replace(noComment,
      "(?i)<script[^>]*>[\\s\\S]*?</script>|(?i)<style[^>]*>[\\s\\S]*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val unescaped = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&" // amp LAST: &amp;lt; is "&lt;" the TEXT
    ).foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /**
   * URL canonicalization for web-corpus dedup: two crawls of the same
   * page differ in case, default ports, `www.`, tracking params, and
   * fragments — canonical form makes exact URL dedup (and per-URL
   * joins of crawl metadata) actually fire. Rules, in order: trim;
   * drop the `#fragment`; lowercase ONLY `scheme://host[:port]` (the
   * path stays case-sensitive per RFC 3986); drop default ports
   * (`:80` http, `:443` https); drop a leading `www.`; strip
   * tracking parameters (`utm_*`, `gclid`, `fbclid`) and repair the
   * separators; drop a trailing `/`.
   *
   * Every step is a literal regex replace with NO lookaround or
   * backreference-in-pattern — RE2-safe, so an external oracle
   * replays the identical chain. Non-URL strings (no `scheme://`)
   * pass through with only the generic steps applied (trim,
   * fragment, tracking, trailing slash). Pure projection — scales as
   * a scan.
   */
  def canonicalizeUrl(url: Column, stripWww: Boolean = true): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    // lowercase the scheme://host[:port] prefix only
    val prefix = regexp_extract(noFrag, "^[^/]*//[^/?#]*", 0)
    val lowered = concat(lower(prefix),
      regexp_replace(noFrag, "^[^/]*//[^/?#]*", ""))
    // default ports: mid-URL and end-of-string forms (no lookahead)
    val p1 = regexp_replace(lowered, "^(http://[^/?#:]+):80([/?#])", "$1$2")
    val p2 = regexp_replace(p1, "^(http://[^/?#:]+):80$", "$1")
    val p3 = regexp_replace(p2, "^(https://[^/?#:]+):443([/?#])", "$1$2")
    val p4 = regexp_replace(p3, "^(https://[^/?#:]+):443$", "$1")
    val noWww =
      if (stripWww) regexp_replace(p4, "^(https?://)www\\.", "$1") else p4
    // tracking params; then repair '?&' / '&&' runs / dangling tails
    val noTrack = regexp_replace(noWww,
      "([?&])(utm_[^&=#]*|gclid|fbclid)=[^&#]*", "$1")
    // collapse '&' runs BEFORE healing '?&' — adjacent removed params
    // leave '?&&x', and '?&'-first would only strip one of the two
    val c1 = regexp_replace(noTrack, "&{2,}", "&")
    val c2 = regexp_replace(c1, "\\?&", "?")
    val c3 = regexp_replace(c2, "[?&]+$", "")
    regexp_replace(c3, "/$", "")
  }

  /** Registered domain-ish host from a URL, lowercased, userinfo and
   *  `www.` stripped — the key for per-site aggregation, blocklist
   *  filtering and domain-level dedup in web corpora. The userinfo
   *  strip matters for the BLOCKLIST use: without it,
   *  `https://x@spam.bad/` yields domain `x@spam.bad` and trivially
   *  bypasses a `spam.bad` entry. Pure regex (RE2-safe,
   *  oracle-reproducible); no scheme or unparsable input → null. */
  def extractDomain(url: Column): Column = {
    val host = regexp_extract(lower(url), "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    // userinfo strip is GREEDY (everything through the LAST '@'):
    // WHATWG-lenient fetchers resolve `https://x@y@spam.bad/` to
    // spam.bad, so a first-@ strip would leave `y@spam.bad` and slip a
    // blocklist. Port strip takes ANY suffix after ':' — a non-numeric
    // port (`spam.bad:x`) must not change the domain key either.
    val noUser = regexp_replace(host, "^.*@", "")
    val bare = regexp_replace(regexp_replace(noUser,
      ":.*$", ""), "^www\\.", "")
    // Bracketed IPv6 literal hosts (`https://[::1]:8080/`) contain the
    // port-strip ':' INSIDE the host, so the chain above would mangle
    // them to garbage ('[') — a nonsense non-null key that can never
    // match a blocklist entry. IP-literal hosts have no registered
    // domain at all, so they classify as unparsable → null (same bucket
    // as schemeless input), never a fake domain key.
    when(bare =!= "" && !noUser.startsWith("["), bare)
  }

  /** Drop rows whose URL's domain ([[extractDomain]]) is blocklisted —
   *  the C4-style site filter. The blocklist rides the plan as a
   *  literal IN-list (right size for curated lists of thousands; an
   *  adversarial-scale list would become a broadcast anti-join).
   *  Null/unparsable domains are KEPT — the filter removes known-bad
   *  sites, it does not validate URLs. `keepDomainAs` retains the
   *  derived domain as a named column so a downstream per-site
   *  aggregation reuses it instead of re-running the regex chain
   *  (Catalyst does not share subexpressions across Filter and
   *  Aggregate nodes). */
  def domainBlocklistFilter(df: DataFrame, urlCol: String,
                            blocklist: Seq[String],
                            keepDomainAs: Option[String] = None): DataFrame = {
    val name = keepDomainAs.getOrElse("__graft_domain")
    // withColumn would silently OVERWRITE an existing column of this
    // name (and the None path would then drop the caller's data)
    require(!df.columns.contains(name),
      s"domainBlocklistFilter: input already has a column named '$name'")
    val out = df.withColumn(name, extractDomain(col(urlCol)))
      .filter(col(name).isNull ||
        !col(name).isin(blocklist.map(_.toLowerCase): _*))
    if (keepDomainAs.isEmpty) out.drop(name) else out
  }

  /** Unicode NFC normalization — canonical composition, the
   *  prerequisite for hash-based dedup over multi-source corpora
   *  (decomposed "é" = `e`+U+0301 must hash like composed U+00E9).
   *  A native Catalyst expression over `java.text.Normalizer` (in
   *  every JDK — normalization tables are not expressible as SQL
   *  regexes) that stays inside whole-stage codegen, with an
   *  `isNormalized` fast path returning already-composed/ASCII text
   *  untouched. Null-safe (null → null). The oracle reproduces it
   *  with DuckDB's `nfc_normalize` — the same Unicode standard. */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.NfcNormalizeExpr(
      org.apache.spark.sql.GraftShims.expression(text.cast("string"))))

  /** Deflate compression ratio of the text's UTF-8 bytes (fixed
   *  level-6 raw stream — [[graft.functions.DeflateRatioExpr]]): the
   *  repetition/junk signal used alongside [[gopherRules]] — template
   *  boilerplate compresses far below natural prose. Null/empty →
   *  null. External-oracle note: the value depends on the zlib
   *  encoder, so gates over it get a rows-level check, not a
   *  hash-compare (same class as the multimodal decoders). */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.DeflateRatioExpr(
      org.apache.spark.sql.GraftShims.expression(text.cast("string"))))

  /** Text normalization for corpus pre-processing: strip control
   *  characters, collapse whitespace runs to one space, trim,
   *  lowercase. Patterns are RE2-compatible (no lookaround), so an
   *  external engine reproduces the result exactly. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " ")))

  /** PII redaction (training-data hygiene): email addresses →
   *  `<EMAIL>`, phone-number-shaped digit runs → `<PHONE>`.
   *  Deliberately conservative regexes — RE2-safe, no lookaround —
   *  favoring precision; swap patterns per policy. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
      "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>")

  /**
   * Split documents into overlapping token-window chunks — the
   * standard prep for context-length-bounded training/embedding:
   * chunk i covers tokens `[i·step, i·step + chunkTokens)` with
   * `step = chunkTokens − overlap`; the last chunk is the first one
   * reaching the end (possibly shorter). Returns (`idCol`, chunk_id,
   * chunk). Documents of ≤ `chunkTokens` tokens yield one chunk of
   * themselves (chunk 0). Pure projection + explode — no shuffle,
   * parallel in the documents.
   */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val step = chunkTokens - overlap
    val w = tokens(col(textCol))
    val nChunks = when(size(w) <= chunkTokens, lit(1)).otherwise(
      ceil((size(w) - lit(chunkTokens)).cast("double") / step).cast("int") + 1)
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(w, i * step + 1, lit(chunkTokens)), " "))))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk"))
  }

  /** Per-document term frequencies: (`idCol`, term, tf) over
   *  whitespace tokens. One shuffle on (doc, term) with map-side
   *  partial counts — the entry point for TF-IDF / keyword pipelines. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term")
      .agg(count(lit(1)).as("tf"))

  /** Corpus document frequencies from a [[termFrequencies]] relation:
   *  (term, df) = number of documents containing the term. (doc, term)
   *  is already unique there, so this is a plain count — partial
   *  aggregation keeps the term shuffle small.
   *
   *  Counting `nullif(tf, -1)` (tf ≥ 1, so never null ⇒ same value as
   *  count(*)) rather than `lit(1)` or bare `tf` is deliberate: it
   *  keeps the tf column alive through column pruning, so this
   *  branch's (doc, term) exchange stays IDENTICAL to the
   *  [[termFrequencies]] branch and Spark's exchange/stage reuse
   *  serves both from ONE corpus pass. Bare `count(tf)` no longer
   *  works: tf is non-nullable, so the optimizer rewrites it to
   *  count(*), pruning drops tf from the lower aggregate, the
   *  exchanges diverge canonically, and the corpus is scanned and
   *  exploded twice (observed on Spark 4.1 — the nullable nullif
   *  wrapper is not foldable, so the rewrite cannot fire). */
  def docFrequencies(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(nullif(col("tf"), lit(-1))).as("df"))

  /**
   * Top-`k` characteristic terms per document by TF-IDF.
   * Output: (`idCol`, term, tf, df, score, rank).
   *
   * The gate-checked score is the RATIONAL form `tf/df` (one IEEE
   * division of two integers — bit-reproducible in any engine); the
   * classic log-idf `tf·ln(N/df)` ranks identically within a document
   * whenever df ties break the same way, but `ln` is correctly-rounded
   * in neither engine, so cross-engine hash comparison would be
   * brittle. Production callers wanting the textbook weighting can
   * rescore with [[logIdf]] — ranking here stays (score desc, term asc).
   *
   * Scale: term-frequency shuffle, term-level df shuffle, a term-key
   * join (AQE handles stopword-term skew), then the per-doc top-k
   * window — rank never leaves its document partition.
   */
  def tfIdfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    val dfq = docFrequencies(tf)
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfq, "term")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /**
   * Corpus-statistics quality signal: per document, the fraction of
   * token OCCURRENCES whose corpus document-frequency is below
   * `minDf` — the exact-arithmetic cousin of LM-perplexity filtering
   * (CCNet-style): gibberish, OCR noise, and boilerplate-mangled text
   * carry many corpus-rare tokens, natural prose few. Deliberately a
   * ratio of two integers (one IEEE division) rather than a
   * log-probability sum: `ln` is correctly-rounded in neither engine,
   * so a perplexity score could not be hash-verified cross-engine,
   * while this signal ranks documents nearly as well for filtering.
   *
   * Output: (`idCol`, n_tokens, n_rare, rare_ratio). EMPTY text
   * tokenizes (whitespace split) to one empty-string token, which is
   * corpus-rare unless empty docs are common — so empty documents
   * score rare_ratio 1.0, i.e. lowest quality, which is the filtering
   * behavior one wants. Null-text documents produce no tokens and are
   * absent from the output. (The n_tokens=0 guard below is defensive
   * against upstream tokenizer changes; with the current split
   * semantics every surviving doc has ≥1 token.)
   * Scale: one (doc, term) shuffle for the frequencies
   * (map-side partial counts), a term-keyed join (AQE splits stopword
   * skew), one doc-keyed aggregation. The corpus is scanned once —
   * [[termFrequencies]]/[[docFrequencies]] share their exchange.
   */
  def rareTokenRatio(df: DataFrame, idCol: String, textCol: String,
                     minDf: Long): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    val dfq = docFrequencies(tf)
    tf.join(dfq, "term")
      .groupBy(idCol)
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("df") < minDf, col("tf")).otherwise(lit(0L))).as("n_rare"))
      .withColumn("rare_ratio",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_rare").cast("double") / col("n_tokens").cast("double")))
  }

  /** Textbook log-idf weight `tf · ln((1+N)/(1+df))` for production
   *  rescoring (see [[tfIdfTopK]] for why the gate uses the rational
   *  form instead). */
  def logIdf(tf: Column, df: Column, corpusSize: Column): Column =
    tf.cast("double") *
      log((lit(1L) + corpusSize).cast("double") / (lit(1L) + df).cast("double"))

  /**
   * BM25 lexical retrieval: top-`k` documents per query — the sparse
   * half of a hybrid (BM25 + embedding-ANN) retrieval stack, and the
   * standard way to mine hard negatives / find source passages at
   * corpus scale. Scoring is the BM25 shape
   * `idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with the
   * RATIONAL idf `(N − df + 0.5)/(df + 0.5)` (Robertson idf without
   * the log): `ln` is correctly-rounded in neither engine, while this
   * form is a composition of exactly-specified IEEE ops on exact
   * integers — every per-term score is bit-identical in any engine
   * that evaluates the same expression tree. Rankings match log-idf
   * BM25 whenever one term dominates; callers wanting the textbook
   * weight rescore with [[logIdf]].
   *
   * Per-(query, doc) scores SUM those per-term values, and float
   * addition is order-sensitive — so the sum is a FOLD over the
   * matched terms in ascending (binary) term order, not an unordered
   * `sum()`: both engines add bit-identical addends in the same
   * order, making the total (and thus the ranking and the emitted
   * score) reproducible cross-engine. The fold list is bounded by the
   * query's term count, not the corpus.
   *
   * Output: (`qidCol`, `idCol`, score, rank), rank = row_number by
   * (score desc, `idCol` asc) within each query, rank ≤ k. Query
   * terms are DEDUPLICATED (standard BM25 query-side binarization).
   *
   * `maxDf`: the candidate set is every doc sharing ≥1 query term, so
   * a stopword in a query drags in (nearly) the whole corpus while
   * contributing almost nothing to the score (idf → ~1/df). Setting
   * `maxDf` drops query terms whose df exceeds it BEFORE the
   * candidate join — the classic stopword-pruning lever (the
   * block-max WAND family is the exact-top-k refinement; this is the
   * simple variant that changes scores only by the pruned terms'
   * near-floor contributions). None = exact BM25 over all terms
   * (what the gate verifies).
   *
   * Scale: one corpus pass builds (doc, term, tf) — shared with
   * [[tfIdfTopK]]/[[rareTokenRatio]] via the same exchange shape; the
   * query term-set broadcast PRUNES the postings before any further
   * shuffle (only docs containing ≥1 query term survive); df for the
   * matched terms comes from the pruned postings, never a full-corpus
   * df; doc-length join is doc-keyed (AQE-handled); the final top-k
   * filter is a rank-predicate window, so Spark's WindowGroupLimit
   * keeps per-partition partial top-k ahead of the per-query shuffle.
   * Queries are assumed broadcast-small (a query SET, not a second
   * corpus); for query-corpus-scale joins use the ANN family instead.
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               maxDf: Option[Long] = None): DataFrame = {
    require(qidCol != idCol,
      s"bm25TopK: query id column '$qidCol' must differ from doc id column '$idCol'")
    // the (doc, term, tf) relation feeds FOUR consumers (doc lengths,
    // corpus stats, pruned postings, and through them df) — without
    // materialization each branch re-scans and re-explodes the corpus
    // (12 scans observed on the gate plan). Lazy localCheckpoint gives
    // compute-once with self-managed lifecycle; same rationale and
    // fault-tolerance trade as graft.llm.Dedup.minHashDedup.
    val tf = termFrequencies(docs, idCol, textCol).localCheckpoint(false)
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_tokens"))
    // two consumers (the pruning term SET and the qid re-attach), and
    // the caller's queries frame may itself derive from a corpus-sized
    // relation — materialize the query-sized term list once
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(tokens(col(qtextCol)))).as("term"))
      .localCheckpoint(false)
    val qset = qterms.select("term").distinct()
    val post = tf.join(broadcast(qset), "term")
    val dfm0 = post.groupBy("term").agg(count(lit(1)).as("df"))
    // df-pruning happens HERE — after df is known, before the
    // doc-length join and qid fan-out that the pruned terms would
    // otherwise inflate; the inner joins below drop their postings
    val dfm = maxDf.fold(dfm0)(m => dfm0.filter(col("df") <= m))
    // every sub-expression below is +,*,/ over exactly-converted
    // integers or decimal-literal constants — IEEE-deterministic as
    // long as the oracle mirrors this exact association
    val avgdl = col("total_tokens").cast("double") / col("n_docs").cast("double")
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val norm = lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)
    val termScore = idf * ((col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) * norm))
    val w = Window.partitionBy(qidCol).orderBy(col("score").desc, col(idCol).asc)
    post
      .join(broadcast(dfm), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("s", termScore)
      .join(broadcast(qterms), "term")
      .groupBy(qidCol, idCol)
      .agg(sort_array(collect_list(struct(col("term").as("t"), col("s").as("s"))))
        .as("__ts"))
      .withColumn("score", aggregate(col("__ts"), lit(0.0),
        (acc, x) => acc + x.getField("s")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }

  /**
   * N-gram coherence: per document, the mean CORPUS-probability of
   * its word n-gram occurrences —
   * `Σ_g tf_d(g)·C(g) / (nb_d · B)` where `C(g)` is the gram's corpus
   * occurrence count, `B` the corpus total, `nb_d` the doc's gram
   * count. The word-ORDER cousin of [[rareTokenRatio]] and the
   * exact-arithmetic stand-in for bigram-LM perplexity filtering:
   * shuffled/gibberish text hits corpus-rare word sequences even when
   * every individual token is common, so it scores near 0 while
   * natural prose scores high. Numerator and gram counts are EXACT
   * integer sums (order-free — no float-fold needed); the score is
   * one division of two exact values, bit-reproducible cross-engine.
   *
   * The product sum runs in decimal(38,0): `tf·C ≤ dl·B` outgrows a
   * long once `dl·B > 2^63` (a 10k-gram doc against a ~1e15-gram
   * corpus — i.e. 100 TB territory), and a silent long wrap would
   * invert the quality ranking. Decimal partial aggregation is
   * map-side combinable like any sum; the double conversion at the
   * end is exact below 2^53 (any gate-scale corpus) and correctly
   * rounded above.
   *
   * Output: (`idCol`, n_ngrams, coherence); docs with fewer than `n`
   * tokens (or null text) emit n_ngrams = 0, coherence 0.0 — lowest
   * quality, the filtering behavior one wants.
   * Scale: one (doc, gram) shuffle with map-side partials, a
   * gram-keyed corpus-count shuffle (AQE splits head-gram skew), one
   * doc-keyed re-aggregation, a doc-keyed left join back to the id
   * set; nothing all-pairs, nothing on the driver.
   */
  def ngramCoherence(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 2): DataFrame = {
    val w = tokens(col(textCol))
    val grams = df.select(col(idCol),
      explode(when(size(w) >= n, ngramJoin(w, n))
        .otherwise(array().cast("array<string>"))).as("g"))
    // three consumers (corpus gram counts, corpus total, per-doc
    // re-aggregation) — checkpoint the (doc, gram, tf) relation so the
    // corpus is scanned and exploded ONCE (same lifecycle rationale as
    // [[bm25TopK]]'s tf relation)
    val gtf = grams.groupBy(idCol, "g").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val cg = gtf.groupBy("g").agg(sum("tf").as("c"))
    val tot = gtf.agg(sum("tf").as("total"))
    val perDoc = gtf.join(cg, "g")
      .groupBy(idCol)
      .agg(sum("tf").as("n_ngrams"),
        sum(col("tf").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("num"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        when(col("n_ngrams").isNull, lit(0.0))
          .otherwise(col("num").cast("double") /
            (col("n_ngrams").cast("double") * col("total").cast("double")))
          .as("coherence"))
  }

  /**
   * The Gopher document-quality rule set (Rae et al. 2021, App. A) as
   * ONE projection: per-document booleans for each rule plus the
   * conjunction — the canonical "is this prose worth training on"
   * gate (length bounds, mean word length, symbol density, list/
   * ellipsis line structure, alphabetic-word fraction, stopword
   * presence). Every ratio test is an INTEGER cross-multiplication
   * (`10·symbols ≤ words`, never `symbols/words ≤ 0.1`), so the flags
   * are exact and engine-reproducible — no float thresholds at the
   * knife edge. Rows are FLAGGED, not filtered: corpus curation wants
   * the rule-level diagnostics (which rule kills how much of which
   * source) before committing to a drop.
   *
   * Definitions pinned for the oracle: words = whitespace tokens;
   * summed word length = non-whitespace chars; symbols = `#`,
   * non-overlapping `...`, `…`; bullet lines start with optional
   * blanks then `-`/`*`/`•`; ellipsis lines end `...`/`…` (+ blanks);
   * alphabetic = any Unicode letter (`\p{L}` — zh prose passes);
   * stopword rule counts DISTINCT stopwords present. Null text is
   * treated as empty (fails the length rule).
   *
   * Output: (`idCol`, n_words, word_count_ok, mean_len_ok, symbol_ok,
   * bullet_ok, ellipsis_ok, alpha_ok, stopword_ok, pass).
   * Scale: pure per-row projection — no shuffle, no UDF, fully
   * pushdown/codegen-friendly.
   */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L,
                  stopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                  minStopwords: Int = 2): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val w = tokens(text)
    val words = size(w).cast("long")
    val sumLen = length(regexp_replace(text, "\\s+", "")).cast("long")
    val symbols = size(regexp_extract_all(text, lit("#|\\.{3}|…"), lit(0))).cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val bullets = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val ellipses = size(filter(lines, l => l.rlike("(\\.{3}|…)\\s*$"))).cast("long")
    val alpha = size(filter(w, t => t.rlike("\\p{L}"))).cast("long")
    val stops = size(array_intersect(w,
      array(stopwords.map(lit): _*))).cast("long")
    val rules = Seq(
      "word_count_ok" -> (words >= minWords && words <= maxWords),
      "mean_len_ok"   -> (lit(3L) * words <= sumLen && sumLen <= lit(10L) * words),
      "symbol_ok"     -> (lit(10L) * symbols <= words),
      "bullet_ok"     -> (lit(10L) * bullets <= lit(9L) * nLines),
      "ellipsis_ok"   -> (lit(10L) * ellipses <= lit(3L) * nLines),
      "alpha_ok"      -> (lit(5L) * alpha >= lit(4L) * words),
      "stopword_ok"   -> (stops >= minStopwords))
    df.select(
      col(idCol) +: words.as("n_words") +:
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("pass"): _*)
  }

  /** Word n-gram repetition ratio in [0,1]: fraction of n-gram
   *  occurrences that are repeats (`1 − distinct/total`) — the
   *  Gopher-style repetition filter signal; boilerplate and looping
   *  generations score high. Texts shorter than `n` tokens score 0. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val w = tokens(text)
    // total n-gram count is size(w)−n+1 — derived arithmetically so the
    // expensive shingle-array construction appears ONCE in the plan
    // (higher-order-function lambdas block codegen subexpression
    // elimination; the 3-reference form measured 3× slower).
    val total = greatest(size(w) - lit(n - 1), lit(0))
    val distinctN = size(array_distinct(
      when(size(w) >= n, ngramJoin(w, n))
        .otherwise(array().cast("array<string>"))))
    when(total === 0, lit(0.0)).otherwise(
      lit(1.0) - distinctN.cast("double") / total.cast("double"))
  }

  /**
   * Fraction of the document's characters covered by occurrences of
   * its single most frequent word n-gram — the Gopher "top n-gram
   * character fraction" repetition signal (complementing
   * [[repetitionRatio]], which measures breadth of repetition, this
   * measures CONCENTRATION: one looping phrase dominates). Formula:
   * `count(top gram) · chars(top gram) / chars(text)`; occurrences
   * may overlap in tokens, which is the standard (and cheap)
   * convention. Ties pick the lexicographically smallest gram, so
   * the value is a pure function of the text.
   *
   * Single pass over the doc's own sorted gram array — a per-row
   * expression, no explode, no shuffle: the corpus-wide mode-finding
   * groupBy this replaces would shuffle every gram of every document.
   * Texts shorter than `n` tokens score 0.
   */
  def topNgramCharFraction(text: Column, n: Int = 2): Column =
    ngramCharFraction(text, n, dup = false)

  /**
   * Fraction of the document's characters covered by occurrences of
   * DUPLICATED word n-grams (count ≥ 2) — the Gopher "duplicate
   * n-gram character fraction" signal, conventionally used at longer
   * n (5–10) where ANY repetition is suspicious, vs
   * [[topNgramCharFraction]]'s short-n concentration. Formula:
   * `Σ_{g: count(g)≥2} count(g)·chars(g) / chars(text)` (token
   * overlap between occurrences counted, as standard). Same
   * single-pass sorted-run scan, per-row, shuffle-free. Texts
   * shorter than `n` tokens score 0.
   */
  def dupNgramCharFraction(text: Column, n: Int = 5): Column =
    ngramCharFraction(text, n, dup = true)

  /** Shared form of the two signals: the [[graft.functions.NgramCharsExpr]]
   *  kernel computes the duplicated/top char mass in one compiled
   *  sort-and-scan over the document's own grams (no explode, no
   *  shuffle, one kernel call per row — the interpreted HOF fold it
   *  replaces measured 4.8× slower on the whole q114 gate at sf0.1,
   *  4.3 → 0.9 s); the fraction arithmetic stays a plain codegen'd
   *  expression. */
  private def ngramCharFraction(text: Column, n: Int, dup: Boolean): Column = {
    val mass = org.apache.spark.sql.GraftShims.column(
      graft.functions.NgramCharsExpr(
        org.apache.spark.sql.GraftShims.expression(tokens(text)), n, dup))
    when(length(text) > 0, mass.cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
  }

  /**
   * Inverted index build: per term, corpus stats + a (capped) posting
   * list — the materialized form behind serving-side lexical
   * retrieval, where [[bm25TopK]] is the query-side one-shot.
   *
   * Output: (term, doc_freq, tf_total, postings) where `postings` is
   * the ascending-id comma-joined doc list truncated to the first
   * `maxPostings` ids. doc_freq / tf_total always reflect the FULL
   * corpus (they feed idf); only the materialized list is capped —
   * the cap is what keeps a stopword's posting row bounded instead of
   * corpus-sized.
   *
   * Mechanics: one corpus pass builds (doc, term, tf); ONE term
   * shuffle serves everything after it — the cap rank
   * (`row_number` over (term, doc↑)) and the final per-term
   * aggregate run on the same partitioning, so stats and the capped
   * list come out of a single exchange (a stats-branch + cap-branch
   * formulation re-scanned the corpus and shuffled twice; plan-
   * audited away). Inside the aggregate the list collects only
   * rank ≤ cap ids (`collect_list` skips the nulls), while
   * doc_freq/tf_total count every row.
   *
   * Empty-string tokens (split artifacts of leading whitespace /
   * empty docs) are excluded — an index entry for "" is never
   * queryable.
   */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int): DataFrame = {
    require(maxPostings > 0, "maxPostings must be positive")
    import org.apache.spark.sql.expressions.Window
    val tf = termFrequencies(df, idCol, textCol)
      .filter(col("term") =!= "")
    val w = Window.partitionBy(col("term")).orderBy(col(idCol))
    tf.withColumn("__rn", row_number().over(w))
      .groupBy("term")
      .agg(count(lit(1)).as("doc_freq"), sum("tf").as("tf_total"),
        array_join(sort_array(collect_list(
          when(col("__rn") <= maxPostings, col(idCol)))), ",")
          .as("postings"))
  }

  /**
   * Vocabulary coverage curve: the `topN` most frequent tokens with
   * each prefix's cumulative share of ALL corpus token occurrences —
   * the tokenizer-design question "how many vocabulary entries cover
   * X% of the corpus" answered directly (the curve whose knee sizes a
   * BPE/word vocab, and the OOV-rate complement: 1 − cum_frac is the
   * miss rate of a topN word vocab). Ranks order by (count desc,
   * token asc) so the curve is a pure function of the corpus; counts
   * and the running sum are exact integers, `cum_frac` one division
   * each — reproducible cross-engine. Empty-string split artifacts
   * are excluded, as [[invertedIndex]].
   *
   * Output: (rank, token, cnt, cum_cnt, cum_frac), rank ≤ `topN`.
   *
   * Scale: one token-keyed count shuffle with map-side partials, then
   * a GLOBAL rank window whose `row_number <= topN` filter plans as a
   * Partial WindowGroupLimit — each vocab partition pre-cuts to topN
   * rows, so the single-partition exchange ships at most
   * partitions × topN rows, never the vocabulary. The running sum
   * then folds over only those topN survivors (against the exact
   * corpus-wide total from the count aggregate's second branch —
   * sharing the token shuffle via the same partitioning).
   */
  /**
   * Per-source token-distribution drift: Pearson's χ² statistic of
   * each source's token histogram against the corpus-wide
   * distribution, over the corpus's `topV` most frequent tokens plus
   * one OTHER bucket for the tail — the dataset-card "is source X
   * distributionally unlike the mixture" diagnostic (binning the tail
   * keeps the category count fixed and every expected count
   * non-negligible, the standard χ² practice). A source matching the
   * corpus mix scores near 0; topically skewed or degenerate sources
   * score high (compare across sources or against the
   * χ²(df = n_categories − 1) tail).
   *
   * Determinism contract: observed and category counts are EXACT
   * integers; expected counts `C·S/T` and the per-category terms
   * `(o−e)²/e` are IEEE double arithmetic in a PINNED expression
   * order, and the per-source sum folds in CATEGORY-RANK order
   * (`sort_array` + `aggregate`, the [[bm25TopK]]/ordered-fold
   * contract) — bit-reproducible cross-engine. Categories rank by
   * (corpus count desc, token asc); OTHER is rank `topV + 1` and is
   * emitted only when the tail is non-empty (a zero-expectation
   * category is undefined in χ², and every source's observed tail
   * would be 0 anyway).
   *
   * Output: (`sourceCol`, n_tokens, n_categories, chisq).
   *
   * Scale: ONE corpus-wide (source, token) count shuffle; the corpus
   * histogram aggregates from those partials (token-keyed, map-side
   * combined), the top-V cut is the [[vocabCoverage]]
   * TakeOrderedAndProject shape, and everything after operates on
   * |sources| × (topV + 1) grid rows with the category table
   * broadcast — no second corpus pass, nothing driver-side, fold
   * lists bounded by topV + 1.
   */
  def tokenDistributionDrift(df: DataFrame, sourceCol: String,
                             textCol: String, topV: Int): DataFrame = {
    require(topV > 0, "topV must be positive")
    import org.apache.spark.sql.expressions.Window
    val otherRank = (topV + 1).toLong
    val counts = df.select(col(sourceCol),
        explode(tokens(coalesce(col(textCol), lit("")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(sourceCol, "token").agg(count(lit(1)).as("__n"))
      // consumers: corpus histogram, source totals, observed join —
      // materialize the (source, token) partials once
      .localCheckpoint(false)
    val corpus = counts.groupBy("token").agg(sum("__n").as("__c"))
      .localCheckpoint(false)
    val wR = Window.orderBy(col("__c").desc, col("token").asc)
    val cats = corpus.withColumn("__rank", row_number().over(wR).cast("long"))
      .filter(col("__rank") <= topV)
      .localCheckpoint(false)
    val tot = corpus.agg(sum("__c").as("__t"))
    val other = tot.crossJoin(broadcast(cats.agg(sum("__c").as("__topc"))))
      .select(lit(otherRank).as("__rank"), (col("__t") - col("__topc")).as("__c"))
      .filter(col("__c") > 0)
    val catFull = cats.select(col("__rank"), col("__c")).union(other)
    val srcTotals = counts.groupBy(sourceCol).agg(sum("__n").as("__s"))
    val obs = counts
      .join(broadcast(cats.select(col("token"), col("__rank"))), Seq("token"), "left")
      .withColumn("__rank", coalesce(col("__rank"), lit(otherRank)))
      .groupBy(sourceCol, "__rank").agg(sum("__n").as("__o"))
    val e = col("__c").cast("double") * col("__s").cast("double") /
      col("__t").cast("double")
    val term = (col("__o").cast("double") - e) *
      (col("__o").cast("double") - e) / e
    srcTotals.crossJoin(broadcast(catFull)).crossJoin(broadcast(tot))
      .join(obs, Seq(sourceCol, "__rank"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .select(col(sourceCol), col("__s"), col("__rank"), term.as("__term"))
      .groupBy(sourceCol)
      .agg(min("__s").as("n_tokens"),
        count(lit(1)).as("n_categories"),
        aggregate(sort_array(collect_list(struct(col("__rank").as("r"),
            col("__term").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("chisq"))
  }

  /**
   * Pointwise-mutual-information collocations: the `topK` adjacent
   * token pairs whose co-occurrence most exceeds chance — the classic
   * phrase-mining signal ("new york" scores high because its joint
   * probability dwarfs `P(new)·P(york)`).
   *
   * Pinned formula (engine-reproducible, all divisions double in this
   * exact association order):
   * `pmi = ln( (c_ab / N_bi) / ((c_a / N_uni) · (c_b / N_uni)) )`
   * with unigram counts over all tokens and bigram counts over
   * adjacent pairs; pairs below `minCount` never score. Integer
   * products are deliberately avoided — `c_ab · N²` overflows Long
   * past ~10^6-token corpora; probability ratios don't.
   *
   * Output: (w1, w2, n_pair, pmi, rank), rank over
   * (pmi desc, w1 asc, w2 asc), rank ≤ `topK`.
   *
   * Scale posture: the tokenized-array projection materializes ONCE
   * (both the unigram and bigram explodes re-read it, not the raw
   * corpus); counts are one token-keyed and one pair-keyed shuffle
   * (map-side combined); the unigram join keys on vocab-sized
   * relations; only minCount-qualified pairs reach the rank window
   * (TakeOrdered-style, never corpus-sized).
   */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long,
                      topK: Int): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val arr = df.select(
        filter(tokens(coalesce(col(textCol), lit(""))), w => w =!= "")
          .as("__w"))
      .localCheckpoint(false)
    val uni = arr.select(explode(col("__w")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__cw"))
      .localCheckpoint(false)
    val nU = uni.agg(sum("__cw").as("__nu"))
    val bi = arr.filter(size(col("__w")) >= 2)
      .select(explode(zip_with(
        slice(col("__w"), lit(1), size(col("__w")) - 1),
        slice(col("__w"), lit(2), size(col("__w")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val nB = bi.agg(sum("n_pair").as("__nb"))
    val pab = col("n_pair").cast("double") / col("__nb").cast("double")
    val pa = col("__ca").cast("double") / col("__nu").cast("double")
    val pb = col("__cb").cast("double") / col("__nu").cast("double")
    val scored = bi.filter(col("n_pair") >= minCount)
      .join(uni.select(col("__tok"), col("__cw").as("__ca")),
        col("w1") === col("__tok")).drop("__tok")
      .join(uni.select(col("__tok"), col("__cw").as("__cb")),
        col("w2") === col("__tok")).drop("__tok")
      .crossJoin(broadcast(nU)).crossJoin(broadcast(nB))
      // quantized to 1e-9 BEFORE ranking: the ln is a libm-consistent
      // native expression (see MathExpressions), and rounding makes the
      // rank order reproducible across engines (near-ties become exact
      // ties, broken by (w1, w2))
      .withColumn("pmi",
        round(graft.functions.MathFunctions.libmLog(pab / (pa * pb)), 9))
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"), col("rank"))
  }

  /**
   * Per-document lexical-diversity signals: Shannon token entropy (in
   * nats) and type-token ratio — low entropy flags repetitive or
   * template text (the cheap cousin of [[repetitionRatio]] that also
   * feeds dedup triage and sampling weights).
   *
   * Pinned: `entropy = −Σ (c/n)·ln(c/n)` folded in TOKEN order over
   * the doc's (token, count) list — deterministic double addition,
   * the χ²-drift contract; `ttr = n_types / n_tokens` as a double
   * divide. Docs with no tokens emit no row (an entropy of nothing is
   * not 0).
   *
   * Scale posture: one (doc, token) count shuffle + one doc-keyed
   * aggregate; the fold list is bounded by the doc's own vocabulary,
   * never the corpus's.
   */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cnt = df.select(col(idCol),
        explode(tokens(coalesce(col(textCol), lit("")))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
    cnt.groupBy(col(idCol))
      .agg(sum("__c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sort_array(collect_list(struct(col("__tok").as("t"),
          col("__c").as("c")))).as("__l"))
      .withColumn("entropy", -aggregate(col("__l"), lit(0.0),
        (acc, x) => acc +
          (x.getField("c").cast("double") / col("n_tokens").cast("double")) *
            graft.functions.MathFunctions.libmLog(
              x.getField("c").cast("double") / col("n_tokens").cast("double"))))
      .withColumn("ttr",
        col("n_types").cast("double") / col("n_tokens").cast("double"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("ttr"),
        col("entropy"))
  }

  /**
   * Per-document n-gram novelty rate: the fraction of a document's
   * word-n-gram OCCURRENCES whose gram appears in no other document
   * (corpus df = 1). High novelty → fresh content; near-zero novelty
   * → the document is assembled from corpus-common phrasing
   * (boilerplate, template spam, near-dup shards). Returns
   * (`idCol`, n_grams, n_novel, novelty); documents with fewer than
   * `n` tokens produce no row (they have no grams to judge).
   *
   * Scale posture — ONE corpus pass, one occurrence exchange:
   *  - grams are hashed to 64 bits immediately (xxhash64, the
   *    decontamination-family recipe: the gram identity never reaches
   *    the output, so only the hash ever shuffles — 8-byte keys, not
   *    raw n-word strings);
   *  - the occurrence stream is hash-partitioned by gram ONCE;
   *    the (gram, doc) occurrence counts AND the per-gram document
   *    frequency (a count over `Window.partitionBy(gram)`) both
   *    evaluate on that same partitioning — no second corpus
   *    exchange, no join back, and nothing corpus-sized is ever
   *    broadcast (the naive grams⋈df self-join double-scans the
   *    corpus and lets AQE broadcast the full exploded occurrence
   *    relation — the exact shape this operator exists to avoid);
   *  - the final doc-keyed aggregate ships map-side partials.
   */
  def noveltyRate(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 5): DataFrame = {
    val occ = df
      .select(col(idCol),
        explode(ngramsOf(coalesce(col(textCol), lit("")), n)).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__gh"))
      .repartition(col("__gh"))
      .groupBy(col("__gh"), col(idCol))
      .agg(count(lit(1)).as("__occ"))
    occ
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("__gh"))))
      .groupBy(col(idCol))
      .agg(sum(col("__occ")).as("n_grams"),
        sum(when(col("__df") === 1, col("__occ")).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Sentence count: number of terminal-punctuation runs (`[.!?]+`),
   *  floored at 1 — headlines and fragments are one sentence, not
   *  zero (division guard for the readability ratios). */
  def sentenceCount(text: Column): Column =
    // explicit null gate: greatest() SKIPS nulls, so without it a null
    // text would count as 1 sentence instead of null
    when(text.isNotNull, greatest(lit(1L),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long")))

  /** Heuristic syllable count: vowel-group runs per token
   *  (`[aeiouyAEIOUY]+`), floored at 1 per token — the classic
   *  readability approximation (silent-e and diphthong corrections
   *  omitted BY DESIGN: the pinned rule is engine-reproducible, and
   *  corpus filtering needs a stable monotone signal, not
   *  dictionary-grade phonetics). Empty text → 0. */
  def syllableCount(text: Column): Column =
    aggregate(cleanTokens(text), lit(0L), (acc, t) =>
      acc + greatest(lit(1L),
        size(regexp_extract_all(t, lit("[aeiouyAEIOUY]+"), lit(0))).cast("long")))

  /**
   * Flesch-Kincaid grade level:
   * `0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`, with
   * [[tokenCount]] words, [[sentenceCount]] sentences (≥ 1), and
   * [[syllableCount]] syllables — the standard readability gate for
   * training-corpus curation (grade bands select for register;
   * extreme grades flag gibberish and boilerplate). Null for texts
   * with no tokens. Pinned IEEE order: two divisions, two
   * multiplications, one addition, one subtraction, exactly as
   * written — any engine replays it bit-exactly.
   */
  def fleschKincaidGrade(text: Column): Column = {
    val wc = tokenCount(text).cast("double")
    when(wc > 0.0,
      lit(0.39) * (wc / sentenceCount(text).cast("double")) +
        lit(11.8) * (syllableCount(text).cast("double") / wc) -
        lit(15.59))
  }

  /**
   * Hapax-legomenon rate per corpus slice: the fraction of each
   * slice's VOCABULARY that occurs exactly once — the classic
   * vocabulary-health signal (healthy natural text runs ~0.4-0.6;
   * template spam collapses toward 0; OCR noise and ID dumps push
   * toward 1). Returns (keys…, vocab_size, n_hapax, n_tokens,
   * hapax_rate) per slice, over non-empty whitespace tokens.
   *
   * Scale posture: ONE (keys, token) exchange with map-side partial
   * counts, then a keys-keyed rollup of the per-token counts —
   * the same two-level shape as the TF-IDF family; nothing
   * corpus-sized past the first exchange.
   */
  def hapaxRate(df: DataFrame, keys: Seq[String], textCol: String): DataFrame = {
    require(keys.nonEmpty, "hapaxRate needs key columns")
    val cnt = df
      .select(keys.map(col) :+
        explode(cleanTokens(coalesce(col(textCol), lit("")))).as("__tok"): _*)
      .groupBy(keys.map(col) :+ col("__tok"): _*)
      .agg(count(lit(1)).as("__c"))
    cnt.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("__c")).as("n_tokens"))
      .withColumn("hapax_rate",
        col("n_hapax").cast("double") / col("vocab_size").cast("double"))
  }

  /**
   * Character-trigram language-model fluency score — the CCNet-style
   * "perplexity filter" shape, self-trained: fit an add-one-smoothed
   * char-trigram model on the corpus itself, then score every doc by
   * its average negative log-likelihood. Gibberish, binary spill, and
   * boilerplate-free keyboard mash score high; fluent text scores
   * low. Unlike the heuristic signals ([[qualityScore]],
   * [[gopherRules]]) this one adapts to whatever the corpus's
   * dominant register is, with no external model artifact.
   *
   * Pinned (engine-reproducible):
   *  - events are the `len − 2` character trigrams of the raw text
   *    (docs shorter than 3 chars emit no row);
   *  - `P(g) = (c_g + 1) / (c_ctx + V)` where `c_ctx` sums trigram
   *    counts sharing the gram's 2-char prefix and `V` = distinct
   *    third characters across corpus trigrams (the observed event
   *    space — no engine-specific charset enumeration);
   *  - `nll = −(Σ ln P) / n_grams`, the sum folded in POSITION order
   *    (deterministic double addition, the χ²-drift contract).
   *
   * Output: (`idCol`, n_grams, nll) — nll in nats per gram;
   * `exp(nll)` is the per-char perplexity if a caller wants the
   * classic units.
   *
   * Scale posture: the per-doc gram list is built in ONE projection
   * (`transform(sequence)`, no joins) and materialized once for both
   * consumers; model relations are charset-bounded (|trigrams| ≤
   * |chars|³ — vocab-sized, shuffle-joined, AQE broadcasts when
   * small); the fold list is doc-length-bounded. Nothing corpus-wide
   * ever reaches the driver.
   */
  def charLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the trigram explode multiplies the corpus ~|text| times INSIDE the
    // scan stage; over a single-row-group file that stage is one task —
    // spread the projected docs first (guide §2.5; no-op on split inputs)
    val tri = graft.core.Par.spread(df
        .select(col(idCol), coalesce(col(textCol), lit("")).as("__t"))
        .filter(length(col("__t")) >= 3))
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), length(col("__t")) - 2),
        i => col("__t").substr(i, lit(3)))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__gram")
      .localCheckpoint(false)
    val tc = tri.groupBy(col("__gram"))
      .agg(count(lit(1)).as("__ctri"))
      .localCheckpoint(false)
    val cc = tc.groupBy(substring(col("__gram"), 1, 2).as("__ctx"))
      .agg(sum("__ctri").as("__cctx"))
    val vv = tc.agg(countDistinct(substring(col("__gram"), 3, 1)).as("__v"))
    val term = graft.functions.MathFunctions.libmLog(
      (col("__ctri") + 1).cast("double") /
        (col("__cctx") + col("__v")).cast("double"))
    tri
      .join(tc, Seq("__gram"))
      .withColumn("__ctx", substring(col("__gram"), 1, 2))
      .join(cc, Seq("__ctx"))
      .crossJoin(broadcast(vv))
      .select(col(idCol), col("__pos"), term.as("__term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        aggregate(sort_array(collect_list(struct(col("__pos").as("p"),
            col("__term").as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("__s"))
      .select(col(idCol), col("n_grams"),
        (-col("__s") / col("n_grams").cast("double")).as("nll"))
  }

  /**
   * RAKE keyword extraction (Rose et al. 2010), corpus-level: the
   * `topK` multi-word keyphrases by the classic degree/frequency
   * score — the cheap unsupervised keyword miner for corpus cards and
   * topic triage.
   *
   * Pinned semantics (engine-reproducible):
   *  - text lowercases, tokenizes on whitespace; phrases are MAXIMAL
   *    runs of non-stopword tokens (stopwords are the boundaries);
   *    runs longer than `maxLen` are DROPPED (not split) — natural
   *    keyphrases are short, and an unbounded run is list/boilerplate;
   *  - word stats over phrase occurrences: `freq(w)` = occurrences,
   *    `deg(w)` = Σ length of containing phrases; `score(w) =
   *    deg(w)/freq(w)` (one double divide);
   *  - phrase score = Σ `score(w)` folded in WORD-POSITION order
   *    (identical occurrences ⇒ identical scores, so the per-phrase
   *    aggregate takes `min` — no float re-summation);
   *  - rank over (score desc, phrase asc), rank ≤ `topK`.
   *
   * Output: (phrase, n_words, n_occurrences, score, rank).
   *
   * Scale posture: one doc-keyed window assigns phrase ids (running
   * stopword count), one phrase-keyed aggregate builds occurrences,
   * word stats are a vocab-sized shuffle, and only distinct phrases
   * reach the rank window.
   */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = EnglishStopwords,
                   maxLen: Int = 4, topK: Int = 50): DataFrame = {
    require(maxLen >= 1 && topK >= 1, "maxLen and topK must be positive")
    val toks = df
      .select(col(idCol).as("__doc"),
        filter(tokens(lower(coalesce(col(textCol), lit("")))),
          w => w =!= "").as("__w"))
      .select(col("__doc"), posexplode(col("__w")))
      .withColumnsRenamed(Map("pos" -> "__pos", "col" -> "__tok"))
    val wDoc = Window.partitionBy(col("__doc")).orderBy(col("__pos"))
    val phrases = toks
      .withColumn("__stop", col("__tok").isin(stopwords.map(lit): _*))
      .withColumn("__pid", sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("__stop"))
      .groupBy(col("__doc"), col("__pid"))
      .agg(array_join(transform(sort_array(collect_list(
          struct(col("__pos").as("p"), col("__tok").as("t")))),
          s => s.getField("t")), " ").as("phrase"),
        count(lit(1)).as("n_words"))
      .filter(col("n_words") <= maxLen)
      .localCheckpoint(false)
    val words = phrases
      .select(col("phrase"), col("n_words"),
        posexplode(split(col("phrase"), " ")))
      .withColumnsRenamed(Map("pos" -> "__wpos", "col" -> "__tok"))
    val stats = words.groupBy("__tok")
      .agg(count(lit(1)).as("__freq"), sum("n_words").as("__deg"))
    val scored = words
      .join(stats, Seq("__tok"))
      .withColumn("__wscore",
        col("__deg").cast("double") / col("__freq").cast("double"))
    // identical phrase strings fold to identical scores — min is an
    // any-value pick, not a float re-aggregation
    val perPhrase = scored
      .groupBy(col("phrase"))
      .agg(min(col("n_words")).as("n_words"),
        count(lit(1)).as("__wordrows"),
        aggregate(sort_array(collect_list(struct(col("__wpos").as("p"),
            col("__wscore").as("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("__scoresum"))
      .withColumn("n_occurrences",
        (col("__wordrows") / col("n_words")).cast("long"))
      .withColumn("score",
        col("__scoresum") / col("n_occurrences").cast("double"))
    perPhrase
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("phrase").asc)).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        col("score"), col("rank"))
  }

  def vocabCoverage(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(explode(tokens(coalesce(col(textCol), lit(""))))
        .as("token"))
      .filter(col("token") =!= "")
    val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      // three consumers (total, rank cut, running sum) — localCheckpoint
      // so the corpus is exploded and count-shuffled ONCE (the
      // bm25TopK/ngramCoherence lifecycle rationale)
      .localCheckpoint(false)
    val total = counts.agg(sum("cnt").as("__total"))
    val wRank = Window.orderBy(col("cnt").desc, col("token").asc)
    val wCum = Window.orderBy(col("cnt").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topN)
      .withColumn("cum_cnt", sum("cnt").over(wCum))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("__total").cast("double"))
          .as("cum_frac"))
  }

  /**
   * Zipf slope per corpus slice: OLS fit of log-frequency against
   * log-rank over the slice's token frequency table — natural text
   * runs close to −1; template spam and boilerplate flatten toward 0,
   * OCR noise / ID dumps steepen and decorrelate. The log-log
   * `corr` column doubles as the fit-quality (Zipfianness) signal.
   *
   * Reproducibility: ranks total-order by (count DESC, token), logs
   * are the libm-consistent [[graft.functions.MathFunctions.libmLog]]
   * rounded to 9 decimals onto a decimal grid, moments are exact
   * DECIMAL sums, and the closing OLS composition reads each moment
   * TRUNCATED to the 10⁻⁶ grid — a wide-scale decimal's integer units
   * exceed 2⁵³, where native engines' decimal→double casts
   * double-round (hugeint→double, then ÷10ˢ) while the JVM's is
   * correctly rounded; snapping to 10⁻⁶ (moments here are nonnegative
   * and < 10⁹, so units < 2⁵³) makes the cast single-rounded and
   * bit-identical everywhere. `%`-truncation, not HALF_UP, because
   * that is the one rescale both engine families agree on.
   *
   * Output: (keys…, n (vocab size), slope, intercept, corr).
   *
   * Scale posture: token counts aggregate with map-side partials
   * (one (keys, token) exchange); the rank window runs over the
   * VOCABULARY relation (Heaps-bounded, not corpus-sized) on one
   * keys exchange; the closing moments ride that partitioning.
   */
  def zipfSlope(df: DataFrame, keys: Seq[String], textCol: String)
  : DataFrame = {
    val cnt = df
      .select(keys.map(col) :+
        explode(cleanTokens(col(textCol))).as("__tok"): _*)
      .groupBy(keys.map(col) :+ col("__tok"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val wr = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__cnt").desc, col("__tok").asc)
    val xy = cnt
      .withColumn("__x", round(graft.functions.MathFunctions.libmLog(
        row_number().over(wr).cast("double")), 9).cast("decimal(18,9)"))
      .withColumn("__y", round(graft.functions.MathFunctions.libmLog(
        col("__cnt").cast("double")), 9).cast("decimal(18,9)"))
    // 10⁻⁶-grid snap (see scaladoc): truncate, exact-rescale, cast once
    val m = Moments.closing(truncated(_, 6))
    Moments.collapse(xy.groupBy(keys.map(col): _*), col("__x"), col("__y"))
      .select(keys.map(col) ++ Seq(
        col("__n").as("n"),
        when(m.vx > 0, m.slope).as("slope"),
        when(m.vx > 0, m.intercept).as("intercept"),
        when(m.vx > 0 && m.vy > 0, m.corr).as("corr")): _*)
  }

  /** ln 2 as a pinned double literal (the [[graft.quality.Quality
   *  .BenfordP]] convention — no runtime transcendental). */
  private val Ln2 = 0.6931471805599453

  /**
   * Pairwise Jensen-Shannon divergence between corpus slices'
   * unigram distributions — the symmetric, bounded (≤ ln 2) corpus
   * similarity score behind source-diversity dashboards and
   * "is this new crawl just a re-skin of source X" checks. Unlike KL
   * it never divides by a zero probability, so disjoint vocabularies
   * are fine (JSD = ln 2).
   *
   * Decomposition that keeps it relational: with P, Q the two token
   * distributions and M = (P+Q)/2,
   * `JSD = ½·Σ_shared [p·ln(p/m) + q·ln(q/m)]
   *        + ½ln2·(P-mass outside shared) + ½ln2·(Q-mass outside)`
   * — only SHARED tokens (an equi self-join) need per-token terms;
   * each side's exclusive mass contributes `½ln2` per unit exactly.
   *
   * Reproducibility: per-token terms are one pinned composition
   * (`round(p·ln(p/m) + q·ln(q/m), 9)`, libm ln) summed in DECIMAL;
   * masses are exact integer token counts; ln 2 is a literal.
   *
   * Output: (slice1, slice2, n_shared_tokens, jsd), slice1 < slice2.
   * Pairs sharing NO token emit no row — their JSD is exactly ln 2,
   * and materializing the slice² cross grid for them is the caller's
   * one-liner.
   *
   * Scale posture: the tf grid (slice, token, cnt) is checkpointed;
   * the pair join is token-keyed (per-token fan-out = slices holding
   * that token — pairs grow as slices², so this is a SLICE-level
   * operator: sources, languages, months — not a per-document one);
   * totals broadcast; final agg exchanges on the pair.
   */
  def jensenShannonBySlice(df: DataFrame, sliceCol: String,
                           textCol: String): DataFrame = {
    val tf = df.filter(col(sliceCol).isNotNull)
      .select(col(sliceCol).as("__s"),
        explode(cleanTokens(col(textCol))).as("__tok"))
      .groupBy(col("__s"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val totals = tf.groupBy(col("__s")).agg(sum(col("__c")).as("__n"))
    val a = tf.select(col("__s").as("__s1"), col("__tok"),
      col("__c").as("__c1"))
    val b = tf.select(col("__s").as("__s2"), col("__tok"),
      col("__c").as("__c2"))
    val shared = a.join(b, Seq("__tok")).filter(col("__s1") < col("__s2"))
      .join(broadcast(totals.select(col("__s").as("__s1"),
        col("__n").as("__n1"))), Seq("__s1"))
      .join(broadcast(totals.select(col("__s").as("__s2"),
        col("__n").as("__n2"))), Seq("__s2"))
    val p = col("__c1").cast("double") / col("__n1").cast("double")
    val q = col("__c2").cast("double") / col("__n2").cast("double")
    val m = (p + q) / lit(2.0)
    val term = round(p * graft.functions.MathFunctions.libmLog(p / m) +
      q * graft.functions.MathFunctions.libmLog(q / m), 9)
    val agg = shared.groupBy(col("__s1"), col("__s2"))
      .agg(count(lit(1)).as("n_shared_tokens"),
        sum(term.cast("decimal(12,9)")).as("__ts"),
        sum(col("__c1")).as("__sh1"), sum(col("__c2")).as("__sh2"),
        min(col("__n1")).as("__n1"), min(col("__n2")).as("__n2"))
    val exc1 = (col("__n1") - col("__sh1")).cast("double") /
      col("__n1").cast("double")
    val exc2 = (col("__n2") - col("__sh2")).cast("double") /
      col("__n2").cast("double")
    agg.select(col("__s1").as("slice1"), col("__s2").as("slice2"),
      col("n_shared_tokens"),
      (col("__ts").cast("double") / lit(2.0) +
        lit(Ln2) / lit(2.0) * (exc1 + exc2)).as("jsd"))
  }

  /**
   * Token burstiness (dispersion index) over the corpus: for the
   * `topK` most frequent tokens, the variance-to-mean ratio of the
   * per-document count INCLUDING zero-occurrence documents — ~1 for
   * Poisson-scattered function words, ≫1 for bursty content words
   * that pile into few documents, and a spam/template tell when a
   * "function-word-looking" token is bursty.
   *
   * With N documents, total count T and per-document counts cᵢ over
   * the docs that contain the token: mean = T/N,
   * `E[x²] = Σcᵢ²/N` (zero docs contribute 0), dispersion =
   * (E[x²] − mean²)/mean. Exact integer sums, pinned double closing.
   * Rank = (total count DESC, token) — total order.
   *
   * Output: (token, n_docs, n_occurrences, dispersion, rank),
   * rank ≤ topK.
   *
   * Scale posture: one (doc, token) aggregation, one token
   * aggregation (map-side combined), a 1-row N broadcast, and the
   * global top-K rank window over token totals — vocabulary-sized,
   * with the rank window cut by a WindowGroupLimit.
   */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
                      topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val nDocs = df.agg(count(lit(1)).as("__N"))
    val tf = df
      .select(col(idCol).as("__id"),
        explode(cleanTokens(coalesce(col(textCol), lit("")))).as("token"))
      .groupBy(col("__id"), col("token"))
      .agg(count(lit(1)).as("__c"))
    val perTok = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__c")).as("n_occurrences"),
        sum(col("__c") * col("__c")).as("__ss"))
    val ranked = perTok
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("token").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(nDocs))
    val nD = col("__N").cast("double")
    val mean = col("n_occurrences").cast("double") / nD
    val e2 = col("__ss").cast("double") / nD
    ranked.select(col("token"), col("n_docs"), col("n_occurrences"),
      when(mean > 0, (e2 - mean * mean) / mean).as("dispersion"),
      col("rank"))
  }

  /**
   * Per-document character-class profile: counts and fractions of
   * ASCII letters, digits, whitespace, ASCII punctuation, and
   * everything else — the cheap first-pass quality signal that flags
   * binary spill, table dumps (digit/punct heavy), and non-Latin or
   * mojibake content (other-heavy) before any expensive scoring runs.
   *
   * Pure codegen'd column arithmetic (each count is
   * `length(text) − length(regexp_replace(text, class, ''))` — no
   * UDF, no shuffle); the fractions are single pinned IEEE divisions.
   * The class definitions are explicit ASCII ranges so any regex
   * engine (Java, RE2) agrees: letters `[A-Za-z]`, digits `[0-9]`,
   * whitespace `[ \t\n\r]`, punctuation the four ASCII ranges
   * `!-/ :-@ [-` {-~`. Empty/null text → zero counts, null fractions.
   *
   * Output: (idCol, len, n_alpha, n_digit, n_space, n_punct, n_other,
   * frac_alpha, frac_digit, frac_space, frac_punct, frac_other).
   *
   * Scale posture: one shuffle-free narrow scan.
   */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val len = length(t)
    def removed(cls: String): Column = len - length(regexp_replace(t, cls, ""))
    val nAlpha = removed("[A-Za-z]")
    val nDigit = removed("[0-9]")
    val nSpace = removed("[ \\t\\n\\r]")
    val nPunct = removed("[!-/:-@\\[-`{-~]")
    val counted = df.select(col(idCol),
      len.cast("long").as("len"),
      nAlpha.cast("long").as("n_alpha"),
      nDigit.cast("long").as("n_digit"),
      nSpace.cast("long").as("n_space"),
      nPunct.cast("long").as("n_punct"))
      .withColumn("n_other",
        col("len") - col("n_alpha") - col("n_digit") - col("n_space") -
          col("n_punct"))
    val ld = col("len").cast("double")
    def frac(c: String) =
      when(col("len") > 0, col(c).cast("double") / ld).as(s"frac_${c.drop(2)}")
    counted.select(col(idCol), col("len"), col("n_alpha"), col("n_digit"),
      col("n_space"), col("n_punct"), col("n_other"),
      frac("n_alpha"), frac("n_digit"), frac("n_space"), frac("n_punct"),
      frac("n_other"))
  }

  /**
   * Heaps'-law fit per group: vocabulary growth `V(N) ≈ K·N^β`
   * estimated by OLS of `ln V` on `ln N` over per-document
   * checkpoints of the cumulative (tokens seen, distinct tokens seen)
   * curve — the companion diagnostic to [[zipfSlope]] (natural text:
   * β ≈ 0.5–0.8; template/boilerplate corpora saturate, β → 0; random
   * noise → 1). A falling β across snapshots of a growing corpus
   * means new data is adding words slower than volume — dedup or
   * source drift.
   *
   * The cumulative-distinct curve without any stateful pass: a
   * token's FIRST document (min doc id per (group, token)) is the one
   * place it increments V, so `V(d) = Σ_{d' ≤ d} firsts(d')` — a
   * per-group running sum, same shape as N's. Checkpoints are doc
   * ids: ordering is total (doc ids unique), so the curve — and the
   * fit — is engine-exact under the [[zipfSlope]] log discipline
   * (libm ln → 9-digit round → DECIMAL(18,9) sums → 10⁻⁶ snap →
   * pinned closing).
   *
   * Output: (keys…, n_points, beta, ln_k, corr) — `ln_k` the
   * intercept (K = e^ln_k belongs to the caller: exp is not
   * engine-reproducible arithmetic, the fitted line is).
   *
   * Scale posture: token grid and first-occurrence reduction are
   * (group, token)-keyed map-side-combined aggregates; the two
   * running sums share ONE (group)-keyed sort; the closing moments
   * are constant-width partials. Nothing is collected; no all-pairs
   * anything.
   */
  def heapsLaw(df: DataFrame, keys: Seq[String], idCol: String,
               textCol: String): DataFrame = {
    // ONE corpus scan: the (group, doc, token) count grid feeds both
    // the per-doc token totals AND the first-occurrence reduction
    // (a naive two-branch explode re-scans the whole corpus twice)
    val tokc = df.select(keys.map(col) :+ col(idCol).as("__d") :+
        explode(cleanTokens(col(textCol))).as("__tok"): _*)
      .groupBy(keys.map(col) :+ col("__d") :+ col("__tok"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    // tokens per doc
    val perDoc = tokc.groupBy(keys.map(col) :+ col("__d"): _*)
      .agg(sum(col("__c")).as("__nt"))
    // vocabulary increments: each token counts once, at its first doc
    val firsts = tokc.groupBy(keys.map(col) :+ col("__tok"): _*)
      .agg(min(col("__d")).as("__d"))
      .groupBy(keys.map(col) :+ col("__d"): _*)
      .agg(count(lit(1)).as("__nv"))
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("__d"))
    val curve = perDoc
      .join(firsts, keys :+ "__d", "left")
      .withColumn("__cumn", sum(col("__nt")).over(wk))
      .withColumn("__cumv", sum(coalesce(col("__nv"), lit(0L))).over(wk))
      .filter(col("__cumn") > 0 && col("__cumv") > 0)
    val xy = curve
      .withColumn("__x", round(graft.functions.MathFunctions.libmLog(
        col("__cumn").cast("double")), 9).cast("decimal(18,9)"))
      .withColumn("__y", round(graft.functions.MathFunctions.libmLog(
        col("__cumv").cast("double")), 9).cast("decimal(18,9)"))
    val m = Moments.closing(truncated(_, 6))
    // n >= 2, not just vx > 0: the 10⁻⁶ snap leaves a single point
    // with a small positive vx artifact (1·snap(x²) ≠ snap(x)²)
    val fit = col("__n") >= 2 && m.vx > 0
    Moments.collapse(xy.groupBy(keys.map(col): _*), col("__x"), col("__y"))
      .select(keys.map(col) ++ Seq(
        col("__n").as("n_points"),
        when(fit, m.slope).as("beta"),
        when(fit, m.intercept).as("ln_k"),
        when(fit && m.vy > 0, m.corr).as("corr")): _*)
  }
  /**
   * Feature hashing (the "hashing trick"): token counts folded into a
   * FIXED `dim`-bucket space by hash — the vocabulary-free text
   * featurizer (no fit step, no vocab shipping, new tokens never
   * break the pipeline) behind linear classifiers and quality models
   * at corpus scale.
   *
   * Bucket = [[md5i]] of the token mod `dim` — the cross-engine hash
   * convention, replayable by any engine with md5 (collisions are the
   * POINT of the trick: ~n_tokens/dim per bucket, absorbed by the
   * downstream model). Emits the sparse form, one row per (doc,
   * occupied bucket) — the dense vector is a trivial pivot away and
   * would be `dim` columns of mostly zeros here.
   *
   * Output: (idCol, bucket, cnt).
   *
   * Scale posture: tokenize → hash → ONE (doc, bucket)-keyed
   * map-side-combined count; no vocabulary relation, no join,
   * nothing global.
   */
  def hashingTrick(df: DataFrame, idCol: String, textCol: String,
                   dim: Int = 1024): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    df.select(col(idCol),
        explode(cleanTokens(col(textCol))).as("__tok"))
      .withColumn("bucket", pmod(md5i(col("__tok")), lit(dim.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }
  /**
   * Log-template mining (Drain-lite): collapse each message to its
   * TEMPLATE by masking variable fragments — long hex runs (ids,
   * digests) to `<H>`, then digit runs to `<N>` — and count messages
   * per template. The ops-analytics workhorse: a million distinct log
   * lines usually collapse to a few hundred templates, and the
   * volume-per-template series is what alerting watches.
   *
   * Masking is two engine-agnostic regex passes (explicit classes,
   * fixed order — hex BEFORE digits, or every hex id would shred into
   * digit fragments); grouping is exact. `example_id` is the MINIMUM
   * id carrying the template — deterministic, an anchor for "show me
   * one real line".
   *
   * Output: (template, n_messages, example_id).
   *
   * Scale posture: masking is a codegen'd projection; ONE map-side-
   * combined count to the template grid.
   */
  def logTemplates(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val masked = regexp_replace(
      regexp_replace(col(textCol), "[0-9a-f]{8,}", "<H>"),
      "[0-9]+", "<N>")
    df.filter(col(textCol).isNotNull)
      .groupBy(masked.as("template"))
      .agg(count(lit(1)).as("n_messages"),
        min(col(idCol)).as("example_id"))
  }
}
