package graft
package gates

import org.apache.spark.sql.functions._

import graft.agg.GroupBy
import graft.llm.{Multimodal, TextAnalysis => TA}

import GateSupport._
import Oracle.{RowsOnly, Sql}

/** `graft.llm.TextAnalysis`: tokenizers, n-grams, keyword and
 *  readability scores, search and ranking metrics. */
private[graft] object TextGates {

  val gates: Seq[Gate] = Seq(
    // ---- LLM ops: token counting + quality scoring + fingerprint ----
    // w = NON-EMPTY tokens (list_filter), matching cleanTokens; the
    // zero-token guards (CASE len(w) = 0) mirror the Spark-side 0.0
    // fallbacks for empty/whitespace-only documents
    Gate("q22_text_metrics", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.tokenCount(text).as("n_tokens"),
        TA.bpeTokenCount(text).as("n_bpe"),
        TA.uniqueTokenCount(text).as("n_uniq"),
        TA.meanTokenLength(text).as("mean_len"),
        TA.punctRatio(text).as("punct_ratio"),
        TA.stopwordRatio(text, TA.EnglishStopwords).as("stop_ratio"),
        TA.qualityScore(text).as("quality"),
        TA.fingerprint(text).as("fp"))
    }, Sql(
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(w) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        | CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |   CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END AS mean_len,
        | CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
        | CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |   CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END AS stop_ratio,
        | 0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE))
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS quality,
        | list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(w, x -> ('0x'||substr(md5(x),1,8))::BIGINT)), (acc,h) -> (acc*31+h)%1000000007) AS fp
        |FROM t""".stripMargin)),

    // ---- LLM ops: n-gram-heuristic language ID ----
    Gate("q23_langid", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.langHits(text, TA.LangMarkers(0)._2).as("en_hits"),
        TA.langHits(text, TA.LangMarkers(1)._2).as("es_hits"),
        TA.langHits(text, TA.LangMarkers(2)._2).as("de_hits"),
        TA.langHits(text, TA.LangMarkers(3)._2).as("fr_hits"),
        TA.langId(text).as("pred"))
    }, Sql(
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(text,'\s+')) AS dw FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(len(list_intersect(dw, ['the','and','of','to','in','is','that','it','with','for'])) AS BIGINT) AS en_hits,
        |  CAST(len(list_intersect(dw, ['el','la','de','que','y','en','un','los','por','con'])) AS BIGINT) AS es_hits,
        |  CAST(len(list_intersect(dw, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS BIGINT) AS de_hits,
        |  CAST(len(list_intersect(dw, ['le','la','de','et','un','les','des','en','que','pour'])) AS BIGINT) AS fr_hits
        | FROM t)
        |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
        | CASE WHEN en_hits = g AND en_hits > 0 THEN 'en'
        |      WHEN es_hits = g AND es_hits > 0 THEN 'es'
        |      WHEN de_hits = g AND de_hits > 0 THEN 'de'
        |      WHEN fr_hits = g AND fr_hits > 0 THEN 'fr'
        |      ELSE 'und' END AS pred
        |FROM (SELECT *, greatest(en_hits, es_hits, de_hits, fr_hits) AS g FROM h)""".stripMargin)),

    // ---- LLM ops: multimodal binary columns (codegen'd facts) ----
    Gate("q28_multimodal", (s, dir) => {
      val m = Multimodal.attach(t(s, dir, "documents"), "doc_id",
        col("text"), "text/plain")
      m.select(col("media_id").as("doc_id"),
        Multimodal.byteLength(col("content")).as("n_bytes"),
        Multimodal.digest(col("content")).as("digest"),
        (TA.md5i(col("content").cast("string")) % 256).as("feature0"))
    }, Sql(
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | md5(text) AS digest,
        | ('0x'||substr(md5(text),1,8))::BIGINT % 256 AS feature0
        |FROM documents""".stripMargin)),

    // ---- LLM ops: corpus cleaning — normalization, PII redaction,
    //      n-gram repetition signal (C4/Gopher-style filters) ----
    Gate("q46_text_clean", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.normalize(text).as("norm"),
        TA.redactPii(text).as("redacted"),
        TA.repetitionRatio(text, 3).as("rep_ratio"))
    }, Sql(
      """WITH t AS (SELECT doc_id, text, string_split_regex(text,'\s+') AS w FROM documents),
        |g AS (SELECT doc_id, text, CASE WHEN len(w) >= 3 THEN
        |        list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |      ELSE [] END AS allg FROM t)
        |SELECT doc_id,
        | lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm,
        | regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        | CASE WHEN len(allg) = 0 THEN 0.0
        |      ELSE 1.0 - CAST(len(list_distinct(allg)) AS DOUBLE) / CAST(len(allg) AS DOUBLE) END AS rep_ratio
        |FROM g""".stripMargin)),

    // ---- LLM ops: HTML stripping — crawled pages synthesized from
    //      the corpus (tags, script/style blocks with droppable
    //      content, comments, entities), then cleaned back to running
    //      text; the C4-style first pass over raw web data ----
    // same strip pipeline in RE2: comments, script/style WITH content,
    // tags, entity unescapes (plain replace -- literal patterns, &amp;
    // LAST so double-escapes decode once), whitespace collapse
    Gate("q105_html_strip", (s, dir) => {
      val page = concat(
        lit("<html><head><style>p { color: red; }</style>"),
        lit("<script type=\"text/js\">var x = 1 &amp;&amp; 2;</script></head>"),
        lit("<!-- crawl id --><body><h1>Doc &amp; title</h1><p class=\"b\">"),
        col("text"),
        lit("</p><br/>&lt;tail&gt;&nbsp;&#39;end&#39;</body></html>"))
      t(s, dir, "documents").select(
        col("doc_id"), TA.stripHtml(page).as("clean"))
    }, Sql(
      """WITH p AS (SELECT doc_id,
        |  '<html><head><style>p { color: red; }</style><script type="text/js">var x = 1 &amp;&amp; 2;</script></head><!-- crawl id --><body><h1>Doc &amp; title</h1><p class="b">'
        |  || text || '</p><br/>&lt;tail&gt;&nbsp;&#39;end&#39;</body></html>' AS page FROM documents),
        |c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(page,
        |  '<!--[\s\S]*?-->', ' ', 'g'),
        |  '(?i)<script[^>]*>[\s\S]*?</script>|(?i)<style[^>]*>[\s\S]*?</style>', ' ', 'g'),
        |  '<[^>]*>', ' ', 'g') AS t1 FROM p),
        |u AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t1,
        |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |  '&#39;', chr(39)), '&amp;', '&') AS t2 FROM c)
        |SELECT doc_id, trim(regexp_replace(t2, '\s+', ' ', 'g')) AS clean FROM u""".stripMargin)),

    // ---- LLM ops: per-site accounting — domain extraction from
    //      synthesized URLs + blocklist filter, then docs-per-domain;
    //      the C4-style site filter and the aggregation behind
    //      domain-level corpus stats ----
    // bracketed IPv6 literal hosts → NULL (no registered domain), same
    // guard as extractDomain's `!noUser.startsWith("[")`
    Gate("q106_domains", (s, dir) => {
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com/p/"), col("doc_id"))
      // keepDomainAs: the domain derives ONCE — filter and aggregation
      // share the column instead of re-running the regex chain per row
      val docs = t(s, dir, "documents").withColumn("url", url)
      TA.domainBlocklistFilter(docs, "url",
          blocklist = Seq("src1.example.com", "src3.example.com"),
          keepDomainAs = Some("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"))
    }, Sql(
      """WITH d AS (SELECT doc_id,
        |  'https://www.' || source || '.example.com/p/' || doc_id AS url FROM documents),
        |nu AS (SELECT doc_id, regexp_replace(
        |    regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
        |    '^.*@', '') AS h0 FROM d),
        |e AS (SELECT doc_id, CASE WHEN h = '' OR h0 LIKE '[%' THEN NULL ELSE h END AS domain FROM (
        |  SELECT doc_id, h0, regexp_replace(regexp_replace(h0,
        |    ':.*$', ''), '^www\.', '') AS h FROM nu))
        |SELECT domain, count(*) AS n_docs FROM e
        |WHERE domain IS NULL OR domain NOT IN ('src1.example.com', 'src3.example.com')
        |GROUP BY 1""".stripMargin)),

    // ---- LLM ops: Unicode NFC normalization — decomposed sequences
    //      (e + U+0301) composed before hashing/dedup; both engines
    //      implement the same Unicode tables, so the gate checks
    //      byte-identical output ----
    // both engines implement the same Unicode composition tables
    Gate("q107_nfc", (s, dir) => {
      // DECOMPOSED suffix: e+COMBINING ACUTE (U+0301), A+COMBINING
      // RING (U+030A), o+COMBINING DIAERESIS (U+0308) -- NFC must
      // compose all three into caf\u00e9 / \u00c5ngstr\u00f6m; the
      // ASCII corpus text passes through untouched
      val decorated = concat(col("text"),
        lit(" cafe\u0301 A\u030Angstro\u0308m"))
      t(s, dir, "documents").select(
        col("doc_id"), TA.nfcNormalize(decorated).as("nfc"))
    }, Sql(
      ("SELECT doc_id, nfc_normalize(text || ' café Ångström') AS nfc " +
        "FROM documents"))),

    // ---- LLM ops: top-k characteristic terms per doc (TF-IDF,
    //      rational idf for cross-engine determinism) ----
    Gate("q55_tfidf", (s, dir) => {
      TA.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", k = 5)
    }, Sql(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE)/CAST(df AS DOUBLE) AS score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |       ORDER BY CAST(tf AS DOUBLE)/CAST(df AS DOUBLE) DESC, term) AS BIGINT) AS "rank"
        |FROM tf JOIN dfc USING (term) QUALIFY "rank" <= 5""".stripMargin)),

    // ---- LLM ops: rare-token quality signal — fraction of token
    //      occurrences whose corpus document-frequency is < 3; the
    //      exact-arithmetic cousin of perplexity filtering ----
    // same tf/df relations as q55; rare = corpus df below the cutoff
    Gate("q109_rare_tokens", (s, dir) => {
      TA.rareTokenRatio(t(s, dir, "documents"), "doc_id", "text", minDf = 3L)
    }, Sql(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |j AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN df < 3 THEN tf ELSE 0 END) AS BIGINT) AS n_rare
        |      FROM tf JOIN dfc USING (term) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_rare,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE CAST(n_rare AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS rare_ratio
        |FROM j""".stripMargin)),

    // ---- LLM ops: overlapping token-window chunking (context-length
    //      prep; 50-token chunks, 10-token overlap) ----
    // chunk i covers tokens [(i)*step+1, i*step+chunkTokens], step=40
    Gate("q61_chunking", (s, dir) => {
      TA.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 50, overlap = 10)
    }, Sql(
      """WITH w AS (SELECT doc_id, string_split_regex(text,'\s+') AS w FROM documents),
        |c AS (SELECT doc_id, w, CASE WHEN len(w) <= 50 THEN 1
        |        ELSE CAST(ceil((len(w) - 50) / 40.0) AS INT) + 1 END AS nc FROM w),
        |l AS (SELECT doc_id, unnest(list_transform(generate_series(1, nc),
        |        i -> {'chunk_id': i - 1,
        |              'chunk': array_to_string(w[(i-1)*40+1 : (i-1)*40+50], ' ')}),
        |        recursive := true) FROM c)
        |SELECT doc_id, chunk_id, chunk FROM l""".stripMargin)),

    // ---- LLM ops: Gopher repetition-CONCENTRATION signals — the
    //      mode-based char fractions complementing q46's breadth
    //      ratio: one looping phrase (top n-gram) vs any repeated
    //      longer n-gram. Per-row sorted-run scans, no shuffle ----
    // mode per doc via (count desc, gram asc) — matches the Spark
    // sorted-run scan's strictly-greater update (first max-count gram
    // in lexicographic order); docs shorter than n grams score 0
    Gate("q114_repetition", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents").select(col("doc_id"),
        TA.topNgramCharFraction(text, 2).as("top2_frac"),
        TA.topNgramCharFraction(text, 3).as("top3_frac"),
        TA.dupNgramCharFraction(text, 5).as("dup5_frac"))
    }, Sql(
      """WITH t AS (SELECT doc_id, length(text) AS L,
        |             string_split_regex(text,'\s+') AS w FROM documents),
        |g2 AS (SELECT doc_id, L, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS gram FROM t WHERE len(w) >= 2),
        |g3 AS (SELECT doc_id, L, unnest(list_transform(range(1, len(w)-1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |       FROM t WHERE len(w) >= 3),
        |g5 AS (SELECT doc_id, L, unnest(list_transform(range(1, len(w)-3),
        |         i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS gram
        |       FROM t WHERE len(w) >= 5),
        |top2 AS (SELECT doc_id, f FROM (
        |  SELECT doc_id, CAST(count(*)*length(gram) AS DOUBLE)/L AS f,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, gram ASC) AS rn
        |  FROM g2 GROUP BY doc_id, L, gram) WHERE rn = 1),
        |top3 AS (SELECT doc_id, f FROM (
        |  SELECT doc_id, CAST(count(*)*length(gram) AS DOUBLE)/L AS f,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, gram ASC) AS rn
        |  FROM g3 GROUP BY doc_id, L, gram) WHERE rn = 1),
    |dup5 AS (SELECT doc_id,
        |    CAST(coalesce(sum(c*glen) FILTER (WHERE c >= 2), 0) AS DOUBLE)/L AS f
        |  FROM (SELECT doc_id, L, length(gram) AS glen, count(*) AS c
        |        FROM g5 GROUP BY doc_id, L, gram) GROUP BY doc_id, L)
        |SELECT t.doc_id, coalesce(top2.f, 0.0) AS top2_frac,
        |  coalesce(top3.f, 0.0) AS top3_frac, coalesce(dup5.f, 0.0) AS dup5_frac
        |FROM t LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
        |  LEFT JOIN dup5 USING (doc_id)""".stripMargin)),

    // ---- LLM ops: BM25 lexical top-k retrieval — the sparse half of
    //      a hybrid retrieval stack (hard-negative mining, source
    //      attribution). Queries = first 8 tokens of every 100th doc;
    //      rational idf + per-(query,doc) ORDERED float fold keep the
    //      scores bit-reproducible in DuckDB (see bm25TopK doc) ----
    // mirrors bm25TopK's exact IEEE expression tree: rational idf,
    // constants as shortest-round-trip DOUBLE literals (the e0 suffix
    // forces DOUBLE parse — a DECIMAL literal would double-round
    // through int128/10^scale), and the per-(query,doc) sum as a fold
    // over terms in binary order (list_reduce over list(... ORDER BY
    // term)); Spark's fold seeds 0.0, which is additive-identity-exact
    // for the strictly positive term scores
    Gate("q118_bm25_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      // FIXED query count across scale factors (doc_id < 1000 caps it
      // at 10): the gate verifies the operator, and the bench must
      // time per-query retrieval cost, not a query fan-out that grows
      // with the corpus (500 queries at sf0.1 measured 11 s of pure
      // candidate-set multiplication)
      val queries = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < 1000)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TA.tokens(col("text")), 1, 8)).as("qtext"))
      TA.bm25TopK(docs, "doc_id", "text", queries, "query_id", "qtext", k = 10)
    }, Sql {
      val k1 = 1.2; val b = 0.75
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
         |qt AS (SELECT DISTINCT doc_id AS query_id,
         |         unnest(list_slice(string_split_regex(text,'\\s+'), 1, 8)) AS term
         |       FROM documents WHERE doc_id % 100 = 0 AND doc_id < 1000),
         |qs AS (SELECT DISTINCT term FROM qt),
         |post AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN qs USING (term)),
         |dfm AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
         |sc AS (SELECT post.doc_id, post.term,
         |         ((CAST(n_docs - df AS DOUBLE) + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0))
         |         * ((CAST(tf AS DOUBLE) * ${k1 + 1.0}e0)
         |            / (CAST(tf AS DOUBLE) + ${k1}e0 *
         |               (${1.0 - b}e0 + ${b}e0 * (CAST(dl AS DOUBLE)
         |                / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS s
         |       FROM post JOIN dfm USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         |agg AS (SELECT query_id, doc_id,
         |          list_reduce(list(s ORDER BY term), (a, x) -> a + x) AS score
         |        FROM qt JOIN sc USING (term) GROUP BY 1, 2)
         |SELECT query_id, doc_id, score,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |FROM agg QUALIFY rank <= 10""".stripMargin
    }),

    // ---- LLM ops: n-gram coherence — mean corpus-probability of each
    //      doc's bigram occurrences, the word-ORDER quality signal
    //      (exact-integer stand-in for bigram-LM perplexity; q109 is
    //      the unigram cousin). Pure integer sums + one division ----
    // same gram builder as the Spark side (adjacent token pairs),
    // exact integer sums, one double division at the end; docs with
    // < 2 tokens (or null text) left-join to n_ngrams 0 / score 0.0
    Gate("q119_bigram_coherence", (s, dir) => {
      TA.ngramCoherence(t(s, dir, "documents"), "doc_id", "text", n = 2)
    }, Sql(
      """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |ng AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |       FROM toks WHERE len(t) >= 2),
        |gtf AS (SELECT doc_id, g, count(*) AS tf FROM ng GROUP BY 1, 2),
        |cg AS (SELECT g, CAST(sum(tf) AS BIGINT) AS c FROM gtf GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM gtf),
        |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ngrams,
        |          sum(tf * c) AS num
        |        FROM gtf JOIN cg USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_ngrams, CAST(0 AS BIGINT)) AS n_ngrams,
        |  CASE WHEN n_ngrams IS NULL THEN 0.0
        |       ELSE CAST(num AS DOUBLE)
        |            / (CAST(n_ngrams AS DOUBLE) * CAST(total AS DOUBLE)) END AS coherence
        |FROM documents d LEFT JOIN agg USING (doc_id) CROSS JOIN tot""".stripMargin)),

    // ---- LLM ops: URL canonicalization — the exact-dedup key for
    //      web crawls (case, default ports, www., tracking params,
    //      fragments all collapse); synthetic variants from doc_id
    //      exercise every rule; the oracle replays the same RE2-safe
    //      regex chain ----
    // replays the identical regex chain (RE2 \1 refs + 'g' where Java
    // is implicitly global); construction and every rule mirrored
    Gate("q125_url_canonical", (s, dir) => {
      val url = concat(
        lit("HTTP://WWW.Example"), (col("doc_id") % 50).cast("string"),
        lit(".COM:80/Path/"), (col("doc_id") % 7).cast("string"),
        lit("?utm_source=feed&id="), (col("doc_id") % 20).cast("string"),
        lit("&utm_campaign=x#sec"), col("doc_id").cast("string"))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .withColumn("canon", TA.canonicalizeUrl(col("url")))
    }, Sql(
      """WITH u AS (SELECT doc_id,
        |  'HTTP://WWW.Example' || CAST(doc_id % 50 AS VARCHAR) || '.COM:80/Path/' ||
        |  CAST(doc_id % 7 AS VARCHAR) || '?utm_source=feed&id=' ||
        |  CAST(doc_id % 20 AS VARCHAR) || '&utm_campaign=x#sec' ||
        |  CAST(doc_id AS VARCHAR) AS url FROM documents),
        |c1 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*$', '', 'g') AS v FROM u),
        |c2 AS (SELECT doc_id, url,
        |        lower(regexp_extract(v, '^[^/]*//[^/?#]*')) ||
        |        regexp_replace(v, '^[^/]*//[^/?#]*', '', 'g') AS v FROM c1),
        |c3 AS (SELECT doc_id, url, regexp_replace(v, '^(http://[^/?#:]+):80([/?#])', '\1\2', 'g') AS v FROM c2),
        |c4 AS (SELECT doc_id, url, regexp_replace(v, '^(http://[^/?#:]+):80$', '\1', 'g') AS v FROM c3),
        |c5 AS (SELECT doc_id, url, regexp_replace(v, '^(https://[^/?#:]+):443([/?#])', '\1\2', 'g') AS v FROM c4),
        |c6 AS (SELECT doc_id, url, regexp_replace(v, '^(https://[^/?#:]+):443$', '\1', 'g') AS v FROM c5),
        |c7 AS (SELECT doc_id, url, regexp_replace(v, '^(https?://)www\.', '\1', 'g') AS v FROM c6),
        |c8 AS (SELECT doc_id, url, regexp_replace(v, '([?&])(utm_[^&=#]*|gclid|fbclid)=[^&#]*', '\1', 'g') AS v FROM c7),
        |c9 AS (SELECT doc_id, url, regexp_replace(v, '&{2,}', '&', 'g') AS v FROM c8),
        |c10 AS (SELECT doc_id, url, regexp_replace(v, '\?&', '?', 'g') AS v FROM c9),
        |c11 AS (SELECT doc_id, url, regexp_replace(v, '[?&]+$', '', 'g') AS v FROM c10)
        |SELECT doc_id, url, regexp_replace(v, '/$', '', 'g') AS canon FROM c11""".stripMargin)),

    // ---- LLM ops: the Gopher document-quality rule set as one
    //      projection — per-rule flags + conjunction, every ratio an
    //      INTEGER cross-multiplication (no float thresholds). Rows
    //      flagged, not filtered (curation wants per-rule kill
    //      diagnostics first) ----
    // replays every pinned definition: whitespace words, non-space
    // char sum, non-overlapping #/.../… symbols, bullet/ellipsis line
    // regexes, \p{L} alphabetic, DISTINCT stopword intersect — all
    // rule tests integer cross-multiplications
    Gate("q124_gopher_rules", (s, dir) => {
      // the synthetic corpus has a database-word vocabulary, so the
      // stopword rule uses ITS most common function words (the
      // operator default stays the canonical English list) — the
      // rule's job, "does this doc share the corpus's connective
      // tissue", is the same
      TA.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        stopwords = Seq("join", "hash", "row", "batch",
          "scan", "column", "filter", "data"))
    }, Sql(
      """WITH b AS (SELECT doc_id, coalesce(text, '') AS tx FROM documents),
        |c AS (SELECT doc_id,
        |        string_split_regex(tx, '\s+') AS t,
        |        CAST(length(regexp_replace(tx, '\s+', '', 'g')) AS BIGINT) AS sl,
        |        CAST(len(regexp_extract_all(tx, '#|\.{3}|…')) AS BIGINT) AS syms,
        |        string_split(tx, chr(10)) AS ln
        |      FROM b),
        |d AS (SELECT doc_id,
        |        CAST(len(t) AS BIGINT) AS words, sl, syms,
        |        CAST(len(ln) AS BIGINT) AS nl,
        |        CAST(len(list_filter(ln, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bl,
        |        CAST(len(list_filter(ln, l -> regexp_matches(l, '(\.{3}|…)\s*$'))) AS BIGINT) AS el,
        |        CAST(len(list_filter(t, x -> regexp_matches(x, '\p{L}'))) AS BIGINT) AS al,
        |        CAST(len(list_intersect(t,
        |          ['join','hash','row','batch','scan','column','filter','data'])) AS BIGINT) AS st
        |      FROM c)
        |SELECT doc_id, words AS n_words,
        |  (words >= 50 AND words <= 100000) AS word_count_ok,
        |  (3*words <= sl AND sl <= 10*words) AS mean_len_ok,
        |  (10*syms <= words) AS symbol_ok,
        |  (10*bl <= 9*nl) AS bullet_ok,
        |  (10*el <= 3*nl) AS ellipsis_ok,
        |  (5*al >= 4*words) AS alpha_ok,
        |  (st >= 2) AS stopword_ok,
        |  ((words >= 50 AND words <= 100000) AND (3*words <= sl AND sl <= 10*words)
        |    AND (10*syms <= words) AND (10*bl <= 9*nl) AND (10*el <= 3*nl)
        |    AND (5*al >= 4*words) AND (st >= 2)) AS pass
        |FROM d""".stripMargin)),

    // ---- retrieval: materialized inverted index with full-corpus
    //      stats and a capped posting list per term ----
    // stats over the FULL (term, doc, tf) relation; postings from the
    // rank-capped one — same split as the Spark side
    Gate("q129_inverted_index", (s, dir) =>
      TA.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        maxPostings = 20), Sql(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\s+')) AS term
        |             FROM documents),
        |td AS (SELECT term, doc_id, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
        |st AS (SELECT term, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS tf_total
        |       FROM td GROUP BY 1),
        |cap AS (SELECT term, doc_id FROM (SELECT term, doc_id,
        |          row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM td)
        |        WHERE rn <= 20),
        |p AS (SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |      FROM cap GROUP BY 1)
        |SELECT st.term, st.doc_freq, st.tf_total, p.postings FROM st JOIN p USING (term)""".stripMargin)),

    // ---- text quality: deflate compression ratio (zlib-encoder
    //      dependent → rows-level gate, unit-tested exactly) ----
    Gate("q135_compression_ratio", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        TA.compressionRatio(col("text")).as("deflate_ratio")), RowsOnly),

    // ---- tokenizer design: vocabulary coverage curve — top-100
    //      tokens with cumulative corpus share ----
    // exact token counts, global (count desc, token) rank cut to 100,
    // running sum over the survivors against the corpus-wide total
    Gate("q141_vocab_coverage", (s, dir) =>
      TA.vocabCoverage(t(s, dir, "documents"), "text", topN = 100), Sql(
      """WITH tok AS (SELECT unnest(string_split_regex(coalesce(text, ''), '\s+')) AS token
        |             FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |      WHERE token <> '' GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS "rank"
        |      FROM c QUALIFY "rank" <= 100)
        |SELECT "rank", token, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |       ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
        |FROM r CROSS JOIN t""".stripMargin)),

    // ---- curation: per-source χ² token-distribution drift against
    //      the corpus mixture (top-50 tokens + OTHER bucket) ----
    // exact integer histograms; expected counts and χ² terms replay
    // the pinned (C·S/T, (o−e)²/e) expression order; per-source sum
    // folds in category-rank order (the bm25 ordered-fold contract)
    Gate("q144_chisq_drift", (s, dir) =>
      TA.tokenDistributionDrift(t(s, dir, "documents"), "source", "text",
        topV = 50), Sql(
      """WITH tok AS (SELECT source, unnest(string_split_regex(coalesce(text, ''), '\s+')) AS token
        |             FROM documents),
        |cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n FROM tok
        |        WHERE token <> '' GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(sum(n) AS BIGINT) AS c FROM cnt GROUP BY 1),
        |cats AS (SELECT token, c, CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS r
        |         FROM corpus QUALIFY r <= 50),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus),
        |oth AS (SELECT CAST(51 AS BIGINT) AS r, t - (SELECT sum(c) FROM cats) AS c
        |        FROM tot WHERE t - (SELECT sum(c) FROM cats) > 0),
        |catfull AS (SELECT r, c FROM cats UNION ALL SELECT r, c FROM oth),
        |st AS (SELECT source, CAST(sum(n) AS BIGINT) AS s FROM cnt GROUP BY 1),
        |obs AS (SELECT cnt.source, coalesce(cats.r, 51) AS r, CAST(sum(cnt.n) AS BIGINT) AS o
        |        FROM cnt LEFT JOIN cats USING (token) GROUP BY 1, 2),
        |grid AS (SELECT st.source, st.s, catfull.r, catfull.c, tot.t,
        |           coalesce(obs.o, 0) AS o
        |         FROM st CROSS JOIN catfull CROSS JOIN tot
        |         LEFT JOIN obs ON obs.source = st.source AND obs.r = catfull.r),
        |terms AS (SELECT source, s, r,
        |   (CAST(o AS DOUBLE) - CAST(c AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
        |   * (CAST(o AS DOUBLE) - CAST(c AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
        |   / (CAST(c AS DOUBLE) * CAST(s AS DOUBLE) / CAST(t AS DOUBLE)) AS term
        |  FROM grid)
        |SELECT source, min(s) AS n_tokens, CAST(count(*) AS BIGINT) AS n_categories,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY r)),
        |    (a, x) -> a + x) AS chisq
        |FROM terms GROUP BY source""".stripMargin)),

    // ---- phrase mining: top adjacent-pair collocations by PMI ----
    // probability-ratio PMI (no integer products — they overflow at
    // corpus scale), rank over (pmi desc, w1, w2)
    Gate("q148_pmi_collocations", (s, dir) =>
      TA.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5L, topK = 50), Sql(
      """WITH arr AS (SELECT list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS w FROM documents),
        |cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS cw
        |       FROM (SELECT unnest(w) AS tok FROM arr) GROUP BY 1),
        |nu AS (SELECT CAST(sum(cw) AS BIGINT) AS nu FROM cu),
        |big AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM
        |  (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM arr
        |   WHERE len(w) >= 2)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM big GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS nb FROM cb),
        |sc AS (SELECT w1, w2, n_pair,
        |    round(ln((CAST(n_pair AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |       ((CAST(ca.cw AS DOUBLE) / CAST(nu AS DOUBLE))
        |        * (CAST(c2.cw AS DOUBLE) / CAST(nu AS DOUBLE)))), 9) AS pmi
        |  FROM cb JOIN cu ca ON ca.tok = cb.w1 JOIN cu c2 ON c2.tok = cb.w2
        |  CROSS JOIN nu CROSS JOIN nb
        |  WHERE n_pair >= 5)
        |SELECT w1, w2, n_pair, pmi, rank FROM
        |  (SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank
        |   FROM sc)
        |WHERE rank <= 50""".stripMargin)),

    // ---- text quality: per-doc Shannon token entropy + TTR ----
    // per-doc entropy folded in token order (deterministic doubles);
    // empty docs emit no row
    Gate("q149_token_entropy", (s, dir) =>
      TA.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("entropy", round(col("entropy"), 9)), Sql(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\s+')) AS tok
        |             FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok
        |      WHERE tok <> '' GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, tok, c,
        |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM c),
        |te AS (SELECT doc_id, tok, c, n,
        |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term FROM t2)
        |SELECT doc_id, min(n) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(count(*) AS DOUBLE) / CAST(min(n) AS DOUBLE) AS ttr,
        |  round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY tok)),
        |    (a, x) -> a + x)), 9) AS entropy
        |FROM te GROUP BY doc_id""".stripMargin)),

    // ---- heavy hitters: exact ≥0.2% tokens via per-partition
    //      Misra-Gries candidates + candidate-only recount ----
    // the candidate pass is a recall set — the exact answer is just
    // GROUP BY + HAVING against the DECIMAL-ceil threshold
    Gate("q153_heavy_hitters", (s, dir) =>
      graft.agg.Sketches.heavyHitters(
        t(s, dir, "documents")
          .select(explode(TA.tokens(coalesce(col("text"), lit(""))))
            .as("tok"))
          .filter(col("tok") =!= ""),
        "tok", fraction = 0.002, k = 1000), Sql(
      """WITH t2 AS (SELECT tok AS item FROM
        |    (SELECT unnest(string_split_regex(coalesce(text, ''), '\s+')) AS tok
        |     FROM documents) WHERE tok <> ''),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2)
        |SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM t2 GROUP BY 1
        |HAVING count(*) >= (SELECT CAST(ceil(CAST(0.002 AS DECIMAL(18,12)) * n) AS BIGINT)
        |                    FROM n)""".stripMargin)),

    // ---- LLM quality: self-trained char-trigram LM fluency score ----
    // add-one-smoothed trigram probabilities, V = distinct observed
    // third chars, per-doc fold in position order
    Gate("q154_char_lm", (s, dir) =>
      TA.charLmScore(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("nll", round(col("nll"), 9)), Sql(
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
        |           WHERE len(coalesce(text, '')) >= 3),
        |g AS (SELECT doc_id, i, substr(t, CAST(i AS INT), 3) AS gram FROM
        |  (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM d)),
        |tc AS (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
        |cc AS (SELECT substr(gram, 1, 2) AS ctx, CAST(sum(c) AS BIGINT) AS cc
        |       FROM tc GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT substr(gram, 3, 1)) AS BIGINT) AS v FROM tc),
        |term AS (SELECT doc_id, i,
        |    ln(CAST(tc.c + 1 AS DOUBLE) / CAST(cc.cc + vv.v AS DOUBLE)) AS term
        |  FROM g JOIN tc USING (gram) JOIN cc ON cc.ctx = substr(g.gram, 1, 2)
        |  CROSS JOIN vv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY i)),
        |    (a, x) -> a + x)) / CAST(count(*) AS DOUBLE), 9) AS nll
        |FROM term GROUP BY doc_id""".stripMargin)),

    // ---- text mining: RAKE keyphrase extraction over the corpus ----
    // phrase boundaries at stopwords, word score deg/freq, phrase
    // fold in word-position order; identical occurrences fold to
    // identical sums so min/any-value aggregation is float-safe
    Gate("q170_rake_keywords", (s, dir) =>
      TA.rakeKeywords(t(s, dir, "documents"), "doc_id", "text",
        maxLen = 4, topK = 50), Sql {
      val sw = graft.llm.TextAnalysis.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH arr AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(coalesce(text, '')), '\\s+'),
        |    x -> x <> '') AS w FROM documents),
        |tok AS (SELECT doc_id, i, w[i] AS tok FROM
        |  (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM arr
        |   WHERE len(w) >= 1)),
        |fl AS (SELECT doc_id, i, tok, tok IN ($sw) AS stop FROM tok),
        |pid AS (SELECT *, CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS pid FROM fl),
        |ph AS (SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY i) AS phrase,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM pid WHERE NOT stop GROUP BY 1, 2 HAVING count(*) <= 4),
        |wrd AS (SELECT doc_id, pid, phrase, n_words, wpos,
        |    string_split(phrase, ' ')[CAST(wpos AS INT)] AS tok
        |  FROM (SELECT doc_id, pid, phrase, n_words,
        |        unnest(generate_series(1, n_words)) AS wpos FROM ph)),
        |st AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(n_words) AS BIGINT) AS deg FROM wrd GROUP BY 1),
        |sc AS (SELECT wrd.*, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS ws
        |  FROM wrd JOIN st USING (tok)),
        |pp AS (SELECT phrase, min(n_words) AS n_words,
        |    CAST(count(*) AS BIGINT) AS wordrows,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(ws ORDER BY wpos, ws)), (a, x) -> a + x) AS ssum
        |  FROM sc GROUP BY 1),
        |fin AS (SELECT phrase, n_words, wordrows // n_words AS n_occurrences,
        |    ssum / CAST(wordrows // n_words AS DOUBLE) AS score FROM pp)
        |SELECT phrase, n_words, n_occurrences, score, rank FROM
        |  (SELECT *, CAST(row_number() OVER (ORDER BY score DESC, phrase) AS BIGINT) AS rank
        |   FROM fin)
        |WHERE rank <= 50""".stripMargin
    }),

    // ---- curation: per-doc 5-gram novelty rate (fraction of gram
    //      occurrences whose gram appears in NO other doc); hashed
    //      grams, one corpus scan, one occurrence exchange ----
    // gram occurrences whose gram has corpus df = 1
    Gate("q198_novelty", (s, dir) =>
      TA.noveltyRate(t(s, dir, "documents"), "doc_id", "text", n = 5), Sql(
      """WITH arr AS (SELECT doc_id, list_filter(
        |    string_split_regex(coalesce(text, ''), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
        |    || w[i+3] || ' ' || w[i+4] AS gram
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        |        FROM arr WHERE len(w) >= 5)),
        |df AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS d
        |       FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM g JOIN df USING (gram) GROUP BY doc_id""".stripMargin)),

    // ---- capstone: per-source dataset card — the numbers a corpus
    //      release ships with, in one pass each ----
    // fingerprint = the q22 rolling-hash formula over NON-EMPTY tokens
    // (exact replay of TextAnalysis.fingerprint, not an md5-of-raw-text
    // proxy — whitespace-variant duplicates must collapse identically),
    // tokens = non-empty whitespace split, median = the q66 disc rule
    Gate("q200_dataset_card", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source").isNotNull)
        .withColumn("__fp", TA.fingerprint(coalesce(col("text"), lit(""))))
        .withColumn("__tok", TA.tokenCount(coalesce(col("text"), lit(""))))
      val basics = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          countDistinct(col("__fp")).as("__uniq"))
        .withColumn("dup_fraction",
          (col("n_docs") - col("__uniq")).cast("double") /
            col("n_docs").cast("double"))
      val med = GroupBy.percentilesDisc(docs, Seq("source"), "n_chars",
          Seq(0.5), out = "median_chars")
        .select(col("source"), col("median_chars"))
      basics.join(med, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("median_chars"), col("dup_fraction"))
    }, Sql(
      """WITH d AS (SELECT source,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS w, n_chars
        |  FROM documents WHERE source IS NOT NULL),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(w)) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(w, x -> ('0x'||substr(md5(x),1,8))::BIGINT)),
        |      (acc,h) -> (acc*31+h)%1000000007)) AS BIGINT) AS uniq
        |  FROM d GROUP BY 1),
        |r AS (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM d WHERE n_chars IS NOT NULL),
        |m AS (SELECT source, min(CASE WHEN rn =
        |    CAST(ceil(CAST(0.5 AS DECIMAL(18,12)) * n) AS INT)
        |    THEN n_chars END) AS median_chars FROM r GROUP BY 1)
        |SELECT b.source, n_docs, n_tokens, median_chars,
        |  CAST(n_docs - uniq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_fraction
        |FROM b JOIN m USING (source)""".stripMargin)),

    // ---- curation: readability — Flesch-Kincaid grade from pinned
    //      token/sentence/vowel-group counts ----
    // pinned counts: non-empty tokens, [.!?]+ runs (min 1), vowel-group
    // runs (min 1/token); grade replays the exact IEEE order
    Gate("q205_readability", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TA.tokenCount(col("text")).as("n_words"),
        TA.sentenceCount(col("text")).as("n_sentences"),
        TA.syllableCount(col("text")).as("n_syllables"),
        TA.fleschKincaidGrade(col("text")).as("fk_grade")), Sql(
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CASE WHEN text IS NULL THEN NULL ELSE
        |      greatest(CAST(1 AS BIGINT),
        |        CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |    END AS n_sentences,
        |    CASE WHEN text IS NULL THEN NULL ELSE
        |      CAST(coalesce(list_sum(list_transform(w, x -> greatest(1,
        |        len(regexp_extract_all(x, '[aeiouyAEIOUY]+'))))), 0) AS BIGINT)
        |    END AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59 END AS fk_grade
        |FROM c""".stripMargin)),

    // ---- curation: hapax-legomenon rate per source (vocabulary
    //      health: template spam → 0, OCR noise / ID dumps → 1) ----
    Gate("q206_hapax", (s, dir) =>
      TA.hapaxRate(t(s, dir, "documents"), Seq("source"), "text"), Sql(
      """WITH tok AS (SELECT source, unnest(list_filter(
        |    string_split_regex(coalesce(text,''),'\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |        FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS hapax_rate
        |FROM cnt GROUP BY 1""".stripMargin)),

    // ---- vocabulary health: Zipf slope per source — OLS of
    //      log-frequency on log-rank (natural text ≈ −1) ----
    // rank by (count DESC, token); round-9 libm logs onto the
    // DECIMAL(18,9) grid; moments truncated to the 1e-6 grid before
    // the double cast (wide-scale decimal→double double-rounds in
    // hugeint engines; the snapped cast is single-rounded everywhere)
    Gate("q216_zipf_slope", (s, dir) =>
      TA.zipfSlope(t(s, dir, "documents"), Seq("source"), "text"), Sql(
      """WITH tok AS (SELECT source, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tok GROUP BY 1, 2),
        |r AS (SELECT source, cnt, row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, tok) AS rk FROM c),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(rk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM r),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx0, sum(y) AS sy0, sum(x * y) AS sxy0,
        |    sum(x * x) AS sxx0, sum(y * y) AS syy0
        |  FROM xy GROUP BY 1),
        |d AS (SELECT source, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx0 - (sx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sx,
        |    CAST(CAST(sy0 - (sy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sy,
        |    CAST(CAST(sxy0 - (sxy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sxx0 - (sxx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 - (syy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS syy
        |  FROM m),
        |v AS (SELECT *, nd * sxx - sx * sx AS vx, nd * syy - sy * sy AS vy,
        |    nd * sxy - sx * sy AS cov FROM d)
        |SELECT source, n,
        |  CASE WHEN vx > 0 THEN cov / vx END AS slope,
        |  CASE WHEN vx > 0 THEN (sy - (cov / vx) * sx) / nd END AS intercept,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin)),

    // ---- corpus health: pairwise Jensen-Shannon divergence between
    //      sources' unigram distributions (shared-token join +
    //      exclusive-mass closed form) ----
    // shared tokens via the tf self-join; per-token pinned term
    // round(p*ln(p/m) + q*ln(q/m), 9) summed in decimal; exclusive
    // mass contributes ln2/2 per unit exactly
    Gate("q221_jsd", (s, dir) =>
      TA.jensenShannonBySlice(t(s, dir, "documents"), "source", "text"), Sql(
      """WITH tok AS (SELECT source AS s, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE source IS NOT NULL),
        |tf AS (SELECT s, tok, CAST(count(*) AS BIGINT) AS c
        |       FROM tok GROUP BY 1, 2),
        |tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
        |sh AS (SELECT a.s AS s1, b.s AS s2, a.c AS c1, b.c AS c2,
        |    t1.n AS n1, t2.n AS n2
        |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.s < b.s
        |  JOIN tot t1 ON t1.s = a.s JOIN tot t2 ON t2.s = b.s),
        |term AS (SELECT s1, s2, c1, c2, n1, n2,
        |    round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      * ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |        / ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |           + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0))
        |    + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |      * ln((CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |        / ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |           + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2.0)), 9)
        |      AS tm
        |  FROM sh),
        |agg AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_shared_tokens,
        |    sum(CAST(tm AS DECIMAL(12,9))) AS ts,
        |    CAST(sum(c1) AS BIGINT) AS sh1, CAST(sum(c2) AS BIGINT) AS sh2,
        |    CAST(min(n1) AS BIGINT) AS n1, CAST(min(n2) AS BIGINT) AS n2
        |  FROM term GROUP BY 1, 2)
        |SELECT s1 AS slice1, s2 AS slice2, n_shared_tokens,
        |  CAST(ts AS DOUBLE) / 2.0 + 0.6931471805599453 / 2.0 *
        |    (CAST(n1 - sh1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |     + CAST(n2 - sh2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS jsd
        |FROM agg""".stripMargin)),

    // ---- corpus health: token burstiness — zero-inclusive
    //      variance-to-mean dispersion of the top-100 tokens ----
    // zero-inclusive dispersion: mean = T/N, E[x2] = sum(c^2)/N over
    // ALL documents
    Gate("q227_burstiness", (s, dir) =>
      TA.tokenBurstiness(t(s, dir, "documents"), "doc_id", "text",
        topK = 100), Sql(
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(
        |      coalesce(text, ''), '\s+'), x -> x <> '')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |pt AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(c) AS BIGINT) AS n_occurrences,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM tf GROUP BY 1),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY n_occurrences DESC,
        |      token) AS BIGINT) AS "rank"
        |  FROM pt QUALIFY "rank" <= 100)
        |SELECT token, n_docs, n_occurrences,
        |  CASE WHEN CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE) > 0
        |    THEN (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)
        |      - (CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE))
        |        * (CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE)))
        |      / (CAST(n_occurrences AS DOUBLE) / CAST(nn AS DOUBLE)) END
        |    AS dispersion,
        |  "rank"
        |FROM r CROSS JOIN nd""".stripMargin)),

    // ---- curation: per-doc character-class profile — ASCII
    //      letter/digit/space/punct/other counts and fractions, the
    //      cheap binary-spill / table-dump / mojibake first pass ----
    // identical explicit ASCII classes (engine-agnostic regex), counts
    // by removal, fractions one pinned division each
    Gate("q245_script_profile", (s, dir) =>
      TA.scriptProfile(t(s, dir, "documents"), "doc_id", "text"), Sql(
      """WITH b AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS len,
        |  CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
        |    AS BIGINT) AS n_alpha,
        |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |    AS BIGINT) AS n_digit,
        |  CAST(length(t) - length(regexp_replace(t, '[ \t\n\r]', '', 'g'))
        |    AS BIGINT) AS n_space,
        |  CAST(length(t) - length(regexp_replace(t, '[!-/:-@\[-`{-~]', '', 'g'))
        |    AS BIGINT) AS n_punct
        | FROM b),
        |d AS (SELECT *, len - n_alpha - n_digit - n_space - n_punct
        |    AS n_other FROM c)
        |SELECT doc_id, len, n_alpha, n_digit, n_space, n_punct,
        |  CAST(n_other AS BIGINT) AS n_other,
        |  CASE WHEN len > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_alpha,
        |  CASE WHEN len > 0 THEN CAST(n_digit AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_digit,
        |  CASE WHEN len > 0 THEN CAST(n_space AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_space,
        |  CASE WHEN len > 0 THEN CAST(n_punct AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_punct,
        |  CASE WHEN len > 0 THEN CAST(n_other AS DOUBLE) / CAST(len AS DOUBLE) END AS frac_other
        |FROM d""".stripMargin)),

    // ---- curation: Heaps'-law vocabulary-growth exponent per source
    //      — OLS of ln(cumulative distinct) on ln(cumulative tokens)
    //      over doc-id checkpoints (q216 zipf's companion) ----
    // the q216 tokenization + log discipline over the cumulative
    // (tokens, first-occurrence vocabulary) curve
    Gate("q246_heaps_law", (s, dir) =>
      TA.heapsLaw(t(s, dir, "documents").filter(col("source").isNotNull),
        Seq("source"), "doc_id", "text"), Sql(
      """WITH tok AS (SELECT source, doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE source IS NOT NULL),
        |pd AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nt
        |       FROM tok GROUP BY 1, 2),
        |fo AS (SELECT source, tok, min(doc_id) AS doc_id
        |       FROM tok GROUP BY 1, 2),
        |fv AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nv
        |       FROM fo GROUP BY 1, 2),
        |cur AS (SELECT pd.source, pd.doc_id,
        |    CAST(sum(nt) OVER (PARTITION BY pd.source ORDER BY pd.doc_id)
        |      AS BIGINT) AS cumn,
        |    CAST(sum(coalesce(nv, 0)) OVER (PARTITION BY pd.source
        |      ORDER BY pd.doc_id) AS BIGINT) AS cumv
        |  FROM pd LEFT JOIN fv ON fv.source = pd.source
        |    AND fv.doc_id = pd.doc_id),
        |xy AS (SELECT source,
        |    CAST(round(ln(CAST(cumn AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(CAST(cumv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM cur WHERE cumn > 0 AND cumv > 0),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points,
        |    sum(x) AS sx0, sum(y) AS sy0, sum(x * y) AS sxy0,
        |    sum(x * x) AS sxx0, sum(y * y) AS syy0
        |  FROM xy GROUP BY 1),
        |d AS (SELECT source, n_points, CAST(n_points AS DOUBLE) AS nd,
        |    CAST(CAST(sx0 - (sx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sx,
        |    CAST(CAST(sy0 - (sy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sy,
        |    CAST(CAST(sxy0 - (sxy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxy,
        |    CAST(CAST(sxx0 - (sxx0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 - (syy0 % 0.000001) AS DECIMAL(38,6)) AS DOUBLE) AS syy
        |  FROM m),
        |v AS (SELECT *, nd * sxx - sx * sx AS vx, nd * syy - sy * sy AS vy,
        |    nd * sxy - sx * sy AS cov FROM d)
        |SELECT source, n_points,
        |  CASE WHEN n_points >= 2 AND vx > 0 THEN cov / vx END AS beta,
        |  CASE WHEN n_points >= 2 AND vx > 0
        |    THEN (sy - (cov / vx) * sx) / nd END AS ln_k,
        |  CASE WHEN n_points >= 2 AND vx > 0 AND vy > 0
        |    THEN cov / (sqrt(vx) * sqrt(vy)) END AS corr
        |FROM v""".stripMargin)),

    // ---- RAG prep: 64-token chunks with 16-token overlap — all-
    //      integer chunk geometry, one shuffle-free scan ----
    // same all-integer chunk geometry: stride 48, ⌈(n−16)/48⌉ chunks
    // (≥1), inclusive 1-based list_slice clamped at n
    Gate("q247_chunking", (s, dir) =>
      graft.llm.Chunking.chunkByTokens(t(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 64, overlapTokens = 16), Sql(
      """WITH b AS (SELECT doc_id, list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b
        |      WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0, greatest(1, (n - 17) // 48 + 1) - 1))
        |      AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS token_start,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 48 + 1,
        |    chunk_id * 48 + 64), ' ') AS chunk_text
        |FROM c""".stripMargin)),

    // ---- ML prep: feature hashing — vocabulary-free token counts
    //      folded into 64 buckets by the cross-engine md5 hash ----
    // same md5-prefix hash convention (q213), mod 64, exact counts
    Gate("q251_feature_hashing", (s, dir) =>
      TA.hashingTrick(t(s, dir, "documents"), "doc_id", "text", dim = 64), Sql(
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS BIGINT)
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM tok GROUP BY 1, 2""".stripMargin)),

    // ---- ops analytics: log-template mining — synthesized log lines
    //      collapse to per-event-type templates (digit/hex masking
    //      erases the variable fragments) ----
    // same mask order (hex before digits); the digit masking erases
    // any engine float-formatting differences by construction
    Gate("q265_log_templates", (s, dir) =>
      TA.logTemplates(
        t(s, dir, "events").filter(col("user_id").isNotNull &&
          col("value").isNotNull)
          .withColumn("msg", concat(col("event_type"), lit(" user="),
            col("user_id").cast("string"), lit(" val="),
            col("value").cast("string"), lit(" "),
            coalesce(col("props"), lit("{}")))),
        "event_id", "msg"), Sql(
      """WITH e AS (SELECT event_id,
        |    event_type || ' user=' || CAST(user_id AS VARCHAR) ||
        |    ' val=' || CAST(value AS VARCHAR) || ' ' ||
        |    coalesce(props, '{}') AS msg
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL)
        |SELECT regexp_replace(regexp_replace(msg, '[0-9a-f]{8,}', '<H>',
        |    'g'), '[0-9]+', '<N>', 'g') AS template,
        |  CAST(count(*) AS BIGINT) AS n_messages,
        |  CAST(min(event_id) AS BIGINT) AS example_id
        |FROM e GROUP BY 1""".stripMargin)),

    // ---- flagship composition: the training-data prep pipeline as
    //      ONE lazy plan — quality gate (exact integer thresholds) →
    //      exact dedup (min doc id survives) → 64/16 token chunks;
    //      every stage is an already-gated operator ----
    // the whole pipeline replayed: the q245 alpha counts, token-count
    // bounds, min-doc-id exact dedup, the q247 chunk geometry
    Gate("q266_pipeline_e2e", (s, dir) => {
      val docs = t(s, dir, "documents")
      val profiled = TA.scriptProfile(docs, "doc_id", "text")
        .select(col("doc_id"), col("len"), col("n_alpha"))
      val kept = docs.join(profiled, Seq("doc_id"))
        .withColumn("n_words", size(TA.cleanTokens(col("text"))))
        .filter(col("n_words") >= 20 && col("n_words") <= 2000 &&
          col("len") > 0 && col("n_alpha") * 2L > col("len"))
      val deduped = graft.llm.Dedup.exact(
        kept.select(col("doc_id"), col("text")), Seq("text"), "doc_id")
      graft.llm.Chunking.chunkByTokens(deduped, "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
    }, Sql(
      """WITH prof AS (SELECT doc_id, text,
        |    CAST(length(coalesce(text, '')) AS BIGINT) AS len,
        |    CAST(length(coalesce(text, '')) -
        |      length(regexp_replace(coalesce(text, ''), '[A-Za-z]', '', 'g'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_words
        |  FROM documents),
        |kept AS (SELECT doc_id, text FROM prof
        |  WHERE n_words >= 20 AND n_words <= 2000 AND len > 0
        |    AND n_alpha * 2 > len),
        |dedup AS (SELECT text, min(doc_id) AS doc_id FROM kept GROUP BY 1),
        |tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '') AS toks FROM dedup),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tok
        |      WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0, greatest(1, (n - 17) // 48 + 1) - 1))
        |      AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS token_start,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 48 + 1,
        |    chunk_id * 48 + 64), ' ') AS chunk_text
        |FROM c""".stripMargin))
  )
}
