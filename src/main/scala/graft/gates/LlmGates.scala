package graft
package gates

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis => TA}

import GateSupport._
import Oracle.{AfterRun, Sql}

/** The LLM data operators: `Dedup`, `Similarity`, `Sampling`,
 *  `Multimodal` and `Augment`. */
private[graft] object LlmGates {

  val gates: Seq[Gate] = Seq(
    // ---- LLM ops: exact dedup (hash-groupBy, min-id representative) ----
    Gate("q21_dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), Seq("lang", "source"), "doc_id")
    }, Sql(
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1""".stripMargin)),

    // ---- LLM ops: MinHash+LSH near-dup (band bucket join + verify) ----
    Gate("q24_minhash", (s, dir) => {
      Dedup.minHashDedup(t(s, dir, "documents"), "doc_id", "text",
        k = 32, bands = 8, shingleN = 3, threshold = 0.5)
    }, Sql(s"WITH $minhashCtes\nSELECT id1, id2, jaccard FROM v WHERE jaccard >= 0.5")),

    // ---- LLM ops: screening-mode minhash — signature-ESTIMATED
    //      jaccard on banded candidates, no verification pass (the
    //      first-sweep mode at 100 TB; q24 gates the verified mode) ----
    // signature-position match fraction over the same banded candidates
    // (replays the exact md5 permutation minima, so the estimate is
    // bit-identical across engines)
    Gate("q75_minhash_est", (s, dir) => {
      Dedup.minHashEstPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 32, bands = 8, shingleN = 3, estThreshold = 0.5)
    }, Sql(
      s"""WITH $minhashCtes,
         |est AS (SELECT cand.id1, cand.id2,
         |    CAST(list_sum(list_transform(generate_series(1, 32),
         |      i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0
         |      AS est_jaccard
         |  FROM cand JOIN sig s1 ON s1.doc_id = cand.id1
         |            JOIN sig s2 ON s2.doc_id = cand.id2)
         |SELECT id1, id2, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin)),

    // ---- LLM ops: SimHash fingerprint (16-bit, hash-once form) ----
    Gate("q25_simhash", (s, dir) => {
      Dedup.simHashSignatures(t(s, dir, "documents"), "doc_id", "text", bits = 16)
    }, Sql(
      """WITH h AS (SELECT doc_id, list_transform(string_split_regex(text,'\s+'), x -> ('0x'||substr(md5(x),1,8))::BIGINT) AS hs FROM documents)
        |SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,15), i ->
        |   CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> i) % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1 << i ELSE 0 END)) AS BIGINT) AS simhash
        |FROM h""".stripMargin)),

    // ---- LLM ops: blocked n-gram Jaccard near-dup pairs ----
    // Oracle is the NAIVE all-pairs join on RAW STRING shingle sets —
    // deliberately hash-free: it verifies both the PPJoin-equals-naive
    // claim and that the engine's internal hash choice (xxhash64) is
    // output-invisible (Jaccard over injectively-hashed sets == over
    // string sets).
    Gate("q26_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang"), shingleN = 3, threshold = 0.5)
    }, Sql(
      """WITH w AS (SELECT doc_id, lang, string_split_regex(text,'\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, lang, list_distinct(list_transform(generate_series(1, len(w)-2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
        |      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT id1, id2, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin)),

    // ---- LLM ops: brute-force cosine top-k similarity search ----
    Gate("q27_embedding_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    }, Sql(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
        |   list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) AS cos
        |   FROM q JOIN e ON vec_id <> qid)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
        |FROM s QUALIFY "rank" <= 5""".stripMargin)),

    // ---- LLM ops: two-stage QUANTIZED top-k — int8 coarse cosine
    //      (scale-free, 4× smaller corpus footprint) cuts to 20
    //      candidates/query, float re-rank orders the final 5; every
    //      stage deterministic, so the oracle replays the identical
    //      two-stage algorithm ----
    // replays the two-stage algorithm exactly: int8 quantization
    // (round half-away-from-zero in both engines; float→double
    // promotion order mirrored), integer coarse cosine, 20-candidate
    // cut, exact double re-rank — id tie-breaks at every stage
    Gate("q112_quantized_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, candidates = 20)
    }, Sql(
      """WITH e AS (SELECT vec_id, embedding AS f,
        |    list_max(list_transform(embedding, x -> abs(x))) AS ma FROM embeddings),
        |z AS (SELECT vec_id, f,
        |    CASE WHEN ma = 0 THEN list_transform(f, x -> 0)
        |         ELSE list_transform(f, x -> CAST(round(x * 127.0 / ma) AS INTEGER)) END AS q
        |  FROM e),
        |zn AS (SELECT vec_id, f, q,
        |    sqrt(CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nq
        |  FROM z),
        |qs AS (SELECT vec_id AS query_id, f AS qf, q AS qq, nq AS qn
        |  FROM zn WHERE vec_id < 5),
        |coarse AS (SELECT query_id, zn.vec_id AS neighbor_id, zn.f AS nf,
        |    CASE WHEN qn * zn.nq = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(range(1, len(qq) + 1),
        |                i -> CAST(qq[i] AS BIGINT) * zn.q[i])) AS DOUBLE) / (qn * zn.nq)
        |    END AS qcos, qf
        |  FROM qs JOIN zn ON zn.vec_id <> query_id),
        |cand AS (SELECT query_id, neighbor_id, nf, qf FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY qcos DESC, neighbor_id) AS crank FROM coarse)
        |  WHERE crank <= 20),
        |r AS (SELECT query_id, neighbor_id,
        |    CASE WHEN sqrt(list_dot_product(qf::DOUBLE[], qf::DOUBLE[])) *
        |              sqrt(list_dot_product(nf::DOUBLE[], nf::DOUBLE[])) = 0 THEN 0.0
        |         ELSE list_dot_product(qf::DOUBLE[], nf::DOUBLE[]) /
        |      (sqrt(list_dot_product(qf::DOUBLE[], qf::DOUBLE[])) *
        |       sqrt(list_dot_product(nf::DOUBLE[], nf::DOUBLE[]))) END AS cos
        |  FROM cand)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
        |FROM r QUALIFY "rank" <= 5""".stripMargin)),

    // ---- LLM ops: embedding-cosine near-dup pairs (label-blocked) ----
    Gate("q29_embedding_neardup", (s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        blockCols = Seq("label"), threshold = 0.35)
    }, Sql(
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |        list_dot_product(a.v,b.v)/(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))) AS cos
        |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id1, id2 FROM p WHERE cos >= 0.35""".stripMargin)),

    // ---- LLM ops: LSH-bucketed approximate top-k (rows-only check:
    //      the scale path; exactness covered by q27) ----
    // LSH buckets are deterministic md5-derived constants — inline the
    // same hyperplane matrix the Spark side uses (Similarity.planesFor)
    // so the approximate ANN path is fully oracle-checked too.
    Gate("q30_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3, bits = 6)
    }, Sql {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |s AS (SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |   list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) AS cos
         |   FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid)
         |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id
         |FROM s QUALIFY "rank" <= 3""".stripMargin
    }),

    // ---- LLM ops: IVF approximate top-k (k-means coarse quantizer).
    //      Centroids are exact-decimal means (partition-order
    //      independent), recorded here so [[oracleSql]] — which Verify
    //      evaluates AFTER the queries run — can inline them into the
    //      DuckDB oracle as literals, like q30 does for hyperplanes ----
    Gate("q39_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 3, dims = 64)
      q39Centroids = cents
      Similarity.ivfTopKWith(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, centroids = cents, nprobe = 4)
    }, AfterRun(() =>
      Option.when(q39Centroids.nonEmpty)(q39OracleSql(q39Centroids)))),

    // ---- LLM ops: near-dup pair list → duplicate CLUSTERS (connected
    //      components, min-id canonical representative) ----
    // components of the q24 pair graph: transitive closure via
    // recursive CTE, component = min reachable id (tiny pair set at
    // oracle scale, so closure blowup is not a concern)
    Gate("q45_components", (s, dir) => {
      Dedup.components(Dedup.minHashDedup(t(s, dir, "documents"),
        "doc_id", "text", k = 32, bands = 8, shingleN = 3, threshold = 0.5))
    }, Sql(
      s"""WITH RECURSIVE $minhashCtes,
         |$componentsCtes
         |SELECT node, component FROM comp""".stripMargin)),

    // ---- LLM ops: cluster-aware train/val/test split — near-dup
    //      clusters never straddle splits (eval-contamination guard);
    //      assignment hashes the CLUSTER label, content-deterministic ----
    // same cluster labels as q45; split = md5(cluster-label ++ salt)
    // against cumulative thresholds (8000/9000/otherwise of 10000)
    Gate("q82_cluster_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashDedup(docs, "doc_id", "text",
        k = 32, bands = 8, shingleN = 3, threshold = 0.5)
      graft.llm.Sampling.splitByCluster(docs, pairs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split1")
        .select("doc_id", "lang", "source", "split")
    }, Sql(
      s"""WITH RECURSIVE $minhashCtes,
         |$componentsCtes
         |SELECT doc_id, lang, source,
         |  CASE WHEN h < 8000 THEN 'train'
         |       WHEN h < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT d.doc_id, d.lang, d.source,
         |        ('0x'||substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)
         |          || 'split1'),1,8))::BIGINT % 10000 AS h
         |      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)""".stripMargin)),

    // ---- LLM ops: deterministic per-key corpus quota ----
    Gate("q47_per_key_limit", (s, dir) => {
      graft.llm.Sampling.perKeyLimit(t(s, dir, "documents"),
        Seq("lang", "source"), "doc_id", n = 3)
    }, Sql(
      """SELECT * FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) <= 3""".stripMargin)),

    // ---- LLM ops: token-budget shard packing (per-language groups) ----
    Gate("q48_shard_packing", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TA.tokenCount(col("text")))
      graft.llm.Sampling.packByTokenBudget(docs, Seq("lang"),
        orderCol = "doc_id", tokenCol = "n_tokens", budget = 1000L)
        .select("doc_id", "lang", "n_tokens", "shard")
    }, Sql(
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        | CAST(floor((sum(n_tokens)
        |   OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |   - n_tokens) / 1000.0) AS BIGINT) AS shard
        |FROM t""".stripMargin)),

    // ---- LLM ops: keep-BEST exact dedup — per (lang, source) cell
    //      the highest-quality document survives (ties → min doc_id),
    //      not merely the first seen (q21's min-id rule) ----
    // same quality-score replay as q78; best-per-text via window
    // rank (DESC NULLS LAST matches Spark's desc_nulls_last)
    Gate("q98_dedup_best", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__q", TA.qualityScore(col("text")))
      Dedup.exactKeepBest(docs, Seq("lang", "source"), "__q", "doc_id")
        .select("doc_id", "lang", "source")
    }, Sql(
      """WITH t AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, source, text,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS q
        |  FROM t)
        |SELECT doc_id, lang, source FROM q
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |  ORDER BY (CASE WHEN isnan(q) THEN NULL ELSE q END) DESC NULLS LAST,
        |           doc_id) = 1""".stripMargin)),

    // ---- LLM ops: pretraining SEQUENCE construction — shard by
    //      token budget, concatenate each shard in order with an eos
    //      separator; one row per ~1000-token training sequence ----
    // same shard rule as q48, then ordered string_agg per shard;
    // sums cast to BIGINT (DuckDB sums integers into HUGEINT).
    // coalesce(text,'') INSIDE the agg: string_agg silently SKIPS
    // nulls while packSequences keeps a null doc's boundary as an
    // empty segment — the corpus has no null texts today, but the
    // oracle must encode the same contract, not rely on the invariant
    Gate("q96_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TA.tokenCount(col("text")))
      graft.llm.Sampling.packSequences(docs, Seq("lang"),
        orderCol = "doc_id", tokenCol = "n_tokens", textCol = "text",
        budget = 1000L)
        .select("lang", "shard", "sequence", "seq_tokens", "n_docs")
    }, Sql(
      """WITH t AS (SELECT doc_id, lang, text,
        |  CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT *, CAST(floor((sum(n_tokens)
        |  OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |  - n_tokens) / 1000.0) AS BIGINT) AS shard FROM t)
        |SELECT lang, shard,
        |  string_agg(coalesce(text, ''), '<eos>' ORDER BY doc_id) AS sequence,
        |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens, count(*) AS n_docs
        |FROM s GROUP BY 1, 2""".stripMargin)),

    // ---- LLM ops: end-to-end near-dup removal (pairs → clusters →
    //      keep canonical representative) ----
    // corpus minus non-canonical near-dups (node != its component min)
    Gate("q49_drop_near_dups", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropNearDuplicates(docs,
        Dedup.minHashDedup(docs, "doc_id", "text",
          k = 32, bands = 8, shingleN = 3, threshold = 0.5),
        "doc_id")
    }, Sql(
      s"""WITH RECURSIVE $minhashCtes,
         |$componentsCtes
         |SELECT d.* FROM documents d
         |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)""".stripMargin)),

    // ---- LLM ops: benchmark decontamination (n-gram collision check;
    //      benchmark grams broadcast, corpus never shuffles) ----
    // corpus docs sharing any distinct 3-gram with the src0 benchmark
    // (60-bit md5 prefix — see Dedup.contaminationHits on collisions)
    Gate("q53_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationHits(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
    }, Sql(
      """WITH w AS (SELECT doc_id, source, string_split_regex(text,'\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, source, list_transform(list_distinct(list_transform(generate_series(1, len(w)-2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])),
        |        s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS sh FROM w),
        |bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE source = 'src0'),
        |cg AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE source <> 'src0')
        |SELECT doc_id, count(*) AS n_hits
        |FROM cg JOIN bench USING (h) GROUP BY doc_id""".stripMargin)),

    // ---- LLM ops: corpus-frequency BOILERPLATE removal — lines
    //      present in ≥20% of documents (a footer injected into every
    //      third doc) deleted from ALL of them; content lines kept ----
    // same footer injection, then line doc-frequencies; the threshold
    // ceil replays Spark's double product (0.2::DOUBLE)
    Gate("q95_boilerplate", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\nSHARED FOOTER")))
          .otherwise(col("text")))
      Dedup.removeBoilerplateLines(docs, "doc_id", "text", minDocFrac = 0.2)
        .select("doc_id", "text", "lang")
    }, Sql(
      """WITH docs AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || 'SHARED FOOTER'
        |       ELSE text END AS text, lang FROM documents),
        |n AS (SELECT count(*) AS c FROM docs WHERE text IS NOT NULL),
        |base AS (SELECT doc_id, string_split(text, chr(10)) AS lst
        |         FROM docs WHERE text IS NOT NULL),
        |l AS (SELECT doc_id, lst[i] AS line, i
        |      FROM base, UNNEST(generate_series(1, len(lst))) AS t(i)),
        |freq AS (SELECT line FROM
        |  (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1) f, n
        |  WHERE f.df >= ceil(0.2::DOUBLE * n.c)),
        |kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM freq)),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS t2
        |      FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(r.t2, '') END AS text,
        |  d.lang
        |FROM docs d LEFT JOIN r USING (doc_id)""".stripMargin)),

    // ---- LLM ops: corpus-level exact line dedup (C4 recipe) over
    //      deterministic 8-token lines ----
    // chunk into 8-token lines, keep each line's corpus-wide first
    // occurrence (by doc_id, then position), reassemble in order
    Gate("q54_line_dedup", (s, dir) => {
      val w = split(col("text"), "\\s+")
      // per-LINE slice is fine here (unlike the per-GRAM slice the
      // shingle path banned): one allocation per 8 tokens, not per token
      val chunked = t(s, dir, "documents").select(col("doc_id"),
        when(size(w) >= 1,
          array_join(transform(
            sequence(lit(0), floor((size(w) - 1).cast("double") / 8.0).cast("int")),
            i => concat_ws(" ", slice(w, i * 8 + 1, lit(8)))), "\n"))
          .otherwise(lit("")).as("text"))
      Dedup.dedupLines(chunked, "doc_id", "text", "\n")
    }, Sql(
      """WITH w AS (SELECT doc_id, string_split_regex(text,'\s+') AS w FROM documents),
        |c AS (SELECT doc_id, list_transform(generate_series(0, CAST(floor((len(w)-1)/8) AS INT)),
        |        i -> array_to_string(w[i*8+1 : i*8+8], ' ')) AS ls FROM w WHERE len(w) >= 1),
        |l AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
        |        i -> {'pos': i, 'ln': ls[i]}), recursive := true) FROM c),
        |k AS (SELECT doc_id, pos, ln FROM l
        |      QUALIFY row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) = 1)
        |SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
        |FROM k GROUP BY doc_id""".stripMargin)),

    // ---- LLM ops: incremental ingest dedup (new crawl vs seen corpus,
    //      content-hash anti-join) ----
    Gate("q57_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.newAgainstSeen(docs, docs.filter(col("doc_id") % 7 === 0), "text")
    }, Sql(
      """SELECT * FROM documents
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)""".stripMargin)),

    // ---- LLM ops: content-deterministic STRATIFIED sample — per-
    //      language keep fractions, reproducible on any engine (head
    //      language downsampled, tail kept whole, es dropped) ----
    // per-stratum thresholds over the same md5 rule; es has no
    // threshold (NULL) and drops out entirely
    Gate("q80_stratified_hash", (s, dir) => {
      graft.llm.Sampling.stratifiedByHash(t(s, dir, "documents"), "lang",
        Map("en" -> 0.3, "de" -> 1.0, "fr" -> 0.5, "zh" -> 0.0),
        keyCol = "doc_id", salt = "mix1")
    }, Sql(
      """SELECT * FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'mix1'),1,8))::BIGINT % 10000
        |  < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 10000
        |              WHEN 'fr' THEN 5000 WHEN 'zh' THEN 0 END""".stripMargin)),

    // ---- LLM ops: content-deterministic Bernoulli sample (stable
    //      row set independent of partitioning — unlike df.sample) ----
    Gate("q58_hash_sample", (s, dir) => {
      graft.llm.Sampling.hashSample(t(s, dir, "documents"),
        "doc_id", numer = 3, denom = 10, salt = "s1")
    }, Sql(
      """SELECT * FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 's1'),1,8))::BIGINT % 10 < 3""".stripMargin)),

    // ---- LLM ops: content-deterministic EXACT-k sample (globally
    //      smallest k hashes — "carve exactly 150 eval docs"); plans
    //      as TakeOrderedAndProject, no global sort ----
    // the k globally smallest salted hashes, hash collisions broken by
    // the key — a total order, so the SET is engine-independent
    Gate("q108_exact_k", (s, dir) => {
      graft.llm.Sampling.exactKByHash(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", k = 150, salt = "ev")
    }, Sql(
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY ('0x'||substr(md5(doc_id::VARCHAR || 'ev'),1,8))::BIGINT, doc_id
        |LIMIT 150""".stripMargin)),

    // ---- LLM ops: WEIGHT-proportional deterministic sample — keep
    //      probability min(1, rate·n_chars): longer docs favored,
    //      row set stable across runs/engines/partitionings ----
    // h < rate · weight · 2^32 — both sides promote to double; the
    // 32-bit hash is exactly representable, so the compare replays
    // bit-identically in any IEEE engine
    Gate("q84_weighted_sample", (s, dir) => {
      graft.llm.Sampling.weightedHashSample(t(s, dir, "documents"),
        "doc_id", "n_chars", baseRate = 0.002, salt = "w1")
    }, Sql(
      """SELECT * FROM documents
        |WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'w1'),1,8))::BIGINT
        |  < (0.002::DOUBLE * n_chars::DOUBLE) * 4294967296.0""".stripMargin)),

    // ---- LLM ops: temperature rebalancing (multilingual sampling,
    //      alpha 0.5) — expected 250 rows allocated ∝ sqrt(stratum
    //      size), waterfilled, applied via the deterministic hash
    //      rule; integer thresholds stashed for the oracle ----
    Gate("q85_temperature_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.filter(col("lang").isNotNull)
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fr = graft.llm.Sampling.temperatureFractions(counts,
        alpha = 0.5, targetRows = 250)
      q85Thresholds = fr.map { case (k, f) => k -> math.round(f * 10000) }
      graft.llm.Sampling.stratifiedByHash(docs, "lang", fr,
        keyCol = "doc_id", salt = "temp1", denom = 10000)
    }, AfterRun(() =>
      Option.when(q85Thresholds.nonEmpty)(q85OracleSql(q85Thresholds)))),

    // ---- composition: an end-to-end training-corpus pipeline through
    //      the library — normalize → quality+language filter → exact
    //      dedup → deterministic sample → per-source quota ----
    // normalize -> quality>0.5 & lang='en' -> exact dedup -> 80%
    // deterministic sample -> <=50 docs per source (formulas mirror the
    // q22 quality / q23 langid oracles over the NORMALIZED text)
    Gate("q62_corpus_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", TA.normalize(col("text")))
      val kept = docs
        .filter(TA.qualityScore(col("text")) > 0.5)
        .filter(TA.langId(col("text")) === "en")
      val deduped = Dedup.exact(kept, Seq("text"), "doc_id")
      val sampled = graft.llm.Sampling.hashSample(deduped, "doc_id", 8, 10, "mix")
      graft.llm.Sampling.perKeyLimit(sampled, Seq("source"), "doc_id", n = 50)
        .select("doc_id", "text", "lang", "source")
    }, Sql(
      """WITH nrm AS (SELECT doc_id,
        |   lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS text,
        |   lang, source FROM documents),
        |t AS (SELECT *, list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM nrm),
        |q AS (SELECT *,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS quality,
        |   list_distinct(w) AS dw FROM t),
        |h AS (SELECT *,
        |  len(list_intersect(dw, ['the','and','of','to','in','is','that','it','with','for'])) AS en_hits,
        |  len(list_intersect(dw, ['el','la','de','que','y','en','un','los','por','con'])) AS es_hits,
        |  len(list_intersect(dw, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS de_hits,
        |  len(list_intersect(dw, ['le','la','de','et','un','les','des','en','que','pour'])) AS fr_hits
        | FROM q),
        |lg AS (SELECT *, CASE WHEN en_hits = g AND en_hits > 0 THEN 'en'
        |      WHEN es_hits = g AND es_hits > 0 THEN 'es'
        |      WHEN de_hits = g AND de_hits > 0 THEN 'de'
        |      WHEN fr_hits = g AND fr_hits > 0 THEN 'fr'
        |      ELSE 'und' END AS pred
        | FROM (SELECT *, greatest(en_hits, es_hits, de_hits, fr_hits) AS g FROM h)),
        |kept AS (SELECT doc_id, text, lang, source FROM lg WHERE quality > 0.5 AND pred = 'en'),
        |ded AS (SELECT * FROM kept QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        |smp AS (SELECT * FROM ded WHERE ('0x'||substr(md5(doc_id::VARCHAR || 'mix'),1,8))::BIGINT % 10 < 8)
        |SELECT doc_id, text, lang, source FROM smp
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 50""".stripMargin)),

    // ---- LLM ops: EXACT global top-fraction by quality score via the
    //      two-pass histogram (no global sort; only the threshold
    //      bucket is exactly ranked) — "keep the best 30%" ----
    // global rank by (quality DESC, doc_id), first ceil(0.3*n) survive
    // — the histogram implementation must reproduce the rank-defined
    // set exactly (same score expression as q62's oracle)
    Gate("q78_quality_topfrac", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__q", TA.qualityScore(col("text")))
      graft.llm.Sampling.topFractionByScore(docs, "__q", "doc_id",
        fraction = 0.3)
        .select("doc_id", "lang", "source")
    }, Sql(
      """WITH t AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, source,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS q
        |  FROM t),
        |nn AS (SELECT * FROM q WHERE q IS NOT NULL),
        |lim AS (SELECT CAST(ceil(0.3 * count(*)) AS BIGINT) AS n FROM nn)
        |SELECT doc_id, lang, source FROM nn
        |QUALIFY row_number() OVER (ORDER BY q DESC, doc_id) <= (SELECT n FROM lim)""".stripMargin)),

    // ---- LLM ops: PER-KEY top-fraction — each language keeps its
    //      best 40% by quality (one window, rank + count per group) ----
    // per-language rank against the per-language ceil(0.4*count)
    Gate("q79_quality_topfrac_perkey", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__q", TA.qualityScore(col("text")))
      graft.llm.Sampling.topFractionByScorePerKey(
        docs, Seq("lang"), "__q", "doc_id", fraction = 0.4)
        .select("doc_id", "lang", "source")
    }, Sql(
      """WITH t AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, source,
        |   0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
        |   + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
        |   + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0 ELSE CAST(len(list_filter(w, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from'], x))) AS DOUBLE) / CAST(len(w) AS DOUBLE) END) AS q
        |  FROM t)
        |SELECT doc_id, lang, source FROM q WHERE q IS NOT NULL
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
        |  <= ceil(0.4 * count(*) OVER (PARTITION BY lang))""".stripMargin)),

    // ---- LLM ops: UNBLOCKED semantic near-dup — IVF clusters as
    //      automatic blocks (q29's caller-supplied blocking, solved);
    //      exact-decimal centroids recorded for the oracle like q39 ----
    Gate("q68_semantic_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nlist = 8, iters = 2, dims = 64)
      q68Centroids = cents
      Dedup.semanticNearDup(e, "vec_id", "embedding", cents, threshold = 0.35)
    }, AfterRun(() =>
      Option.when(q68Centroids.nonEmpty)(q68OracleSql(q68Centroids)))),

    // ---- LLM ops: SimHash near-dup pairs (bit-sampling LSH bands;
    //      pigeonhole-complete, so output == naive all-pairs) ----
    // naive all-pairs: the banded LSH candidates are pigeonhole-
    // complete at maxHamming < bands, so the results must coincide
    Gate("q69_simhash_pairs", (s, dir) => {
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
        bits = 16, maxHamming = 1, bands = 2)
    }, Sql(
      """WITH h AS (SELECT doc_id, list_transform(string_split_regex(text,'\s+'), x -> ('0x'||substr(md5(x),1,8))::BIGINT) AS hs FROM documents),
        |s AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,15), i ->
        |   CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> i) % 2 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1 << i ELSE 0 END)) AS BIGINT) AS sig FROM h)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 1""".stripMargin)),

    // ---- LLM ops: image perceptual hash (dHash) over REAL decoded
    //      PNG pixels — the image-dedup fingerprint. The fixture
    //      synthesizes 9x8 RGB PNGs from a formula of doc_id (encode
    //      is lossless, grid == hash resolution, so pooling is
    //      identity), the operator decodes with javax.imageio and
    //      hashes the pixels; the oracle replays the formula without
    //      ever decoding — the gate passes iff the encode→decode→
    //      pool→compare chain is pixel-exact. Pairing over these
    //      hashes is Dedup.hammingPairs (unit-tested; q25/q69 gate
    //      the shared banding machinery) ----
    // replays the q116 pixel formula without decoding — the Spark side
    // must recover these exact values through PNG encode -> imageio
    // decode -> integer gray -> neighbor compare
    Gate("q116_image_dhash", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val png = Multimodal.rgbPng(9, 8, (x, y) => {
              val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
              (v << 16) | (v << 8) | v
            })
            Multimodal.MediaRecord(id, png,
              Multimodal.MediaMeta("image/png", Some(9), Some(8), None))
          }
        }
        .transform(Multimodal.imageDHash(_))
        .select(col("media_id").as("doc_id"), col("dhash_bits").as("dhash"))
    }, Sql(
      """SELECT doc_id, string_agg(
        |    CASE WHEN (doc_id*31 + (x+1)*7 + y*13) % 256
        |            > (doc_id*31 + x*7 + y*13) % 256
        |         THEN '1' ELSE '0' END, '' ORDER BY y, x) AS dhash
        |FROM documents, range(0, 8) t1(y), range(0, 8) t2(x)
        |GROUP BY doc_id""".stripMargin)),

    // ---- LLM ops: audio envelope fingerprint over REAL decoded
    //      PCM — the audio-dedup analogue of q116: WAV clips
    //      synthesized from a formula of doc_id (16-bit PCM
    //      round-trips bit-exactly), fingerprinted in pure integer
    //      math (mean-vs-mean by cross-multiplication, no floats),
    //      so the oracle replays the formula without decoding ----
    // replays the q117 sample formula without decoding: per-bucket
    // mean |amplitude| vs clip mean by integer cross-multiplication
    // (samples are non-negative, so |amp| = amp)
    Gate("q117_audio_fingerprint", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val samples = Array.tabulate(1024)(i =>
              ((id * 7 + i * 13) % 4096).toShort)
            Multimodal.MediaRecord(id, Multimodal.pcmWav(samples),
              Multimodal.MediaMeta("audio/wav", None, None, Some(128L)))
          }
        }
        .transform(Multimodal.audioFingerprint(_, buckets = 64))
        .select(col("media_id").as("doc_id"), col("fp_bits").as("fp"),
          col("n_frames"))
    }, Sql(
      """WITH s AS (SELECT doc_id, (doc_id*7 + i*13) % 4096 AS amp,
        |    (i*64)//1024 AS b
        |  FROM documents, range(0, 1024) t(i)),
        |bs AS (SELECT doc_id, b, sum(amp) AS sb, count(*) AS cb
        |       FROM s GROUP BY 1, 2),
        |g AS (SELECT doc_id, sum(amp) AS sg, count(*) AS cg
        |      FROM s GROUP BY 1)
        |SELECT doc_id,
        |  string_agg(CASE WHEN sb*cg > sg*cb THEN '1' ELSE '0' END,
        |             '' ORDER BY b) AS fp,
        |  CAST(1024 AS BIGINT) AS n_frames
        |FROM bs JOIN g USING (doc_id) GROUP BY doc_id""".stripMargin)),

    // ---- LLM ops: hybrid retrieval — BM25 lexical top-10 fused with
    //      brute-force cosine ANN top-10 by reciprocal-rank fusion
    //      (1/(60+rank) per source, ordered-fold sum). The ranked
    //      lists are query-bounded; fusion shuffles rank rows only ----
    // composes the q118 BM25 pipeline (k=10) with the q27-style
    // brute-force cosine ANN (k=10, same query ids) and fuses by
    // 1/(60+rank) per source, folded in source order — every
    // contribution one IEEE division, same ordered-fold determinism
    // as q118's score sum
    Gate("q120_hybrid_rrf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val queries = docs
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < 1000)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TA.tokens(col("text")), 1, 8)).as("qtext"))
      val lex = TA.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(e,
          e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 1000),
          "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, sem), "query_id", "id", "rank",
          kRrf = 60, k = 10)
        .select(col("query_id"), col("id").as("doc_id"),
          col("rrf"), col("rank"))
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
         |bagg AS (SELECT query_id, doc_id,
         |           list_reduce(list(s ORDER BY term), (a, x) -> a + x) AS score
         |         FROM qt JOIN sc USING (term) GROUP BY 1, 2),
         |bmr AS (SELECT query_id, doc_id AS id,
         |          CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |        FROM bagg QUALIFY rank <= 10),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e
         |      WHERE vec_id % 100 = 0 AND vec_id < 1000),
         |s2 AS (SELECT qid AS query_id, vec_id AS id,
         |    list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) AS cos
         |  FROM q JOIN e ON vec_id <> qid),
         |annr AS (SELECT query_id, id,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, id) AS BIGINT) AS rank
         |         FROM s2 QUALIFY rank <= 10),
         |u AS (SELECT query_id, id, 0 AS src,
         |        1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)) AS s FROM bmr
         |      UNION ALL
         |      SELECT query_id, id, 1 AS src,
         |        1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)) AS s FROM annr),
         |f AS (SELECT query_id, id,
         |        list_reduce(list(s ORDER BY src), (a, x) -> a + x) AS rrf
         |      FROM u GROUP BY 1, 2)
         |SELECT query_id, id AS doc_id, rrf,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY rrf DESC, id) AS BIGINT) AS rank
         |FROM f QUALIFY rank <= 10""".stripMargin
    }),

    // ---- LLM ops: copied-SPAN detection via winnowing (MOSS) — the
    //      scalable stand-in for suffix-array exact-substring dedup:
    //      any shared run of ≥ w+k−1 tokens leaves a common selected
    //      fingerprint; corpus-frequency cap drops boilerplate ----
    // replays winnowing exactly: 5-token grams (i ranges over the
    // len−4 complete grams), 16-hex md5 prefix, window-of-4 minimum
    // of hash:zero-padded-position (equal hashes resolve to the
    // smallest position), distinct per doc, ≤50-doc frequency cap,
    // pair counts ≥ 2
    Gate("q121_copied_spans", (s, dir) => {
      Dedup.copiedSpanPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDocFreq = 50)
    }, Sql(
      """WITH toks AS (SELECT doc_id, string_split_regex(text,'\s+') AS t FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |         i -> struct_pack(pos := i - 1,
        |                h := substr(md5(array_to_string(t[i:i+4], ' ')), 1, 16)))) AS u
        |       FROM toks),
        |g AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g0),
        |sel AS (SELECT doc_id,
        |          min(h || ':' || lpad(CAST(pos AS VARCHAR), 8, '0'))
        |            OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
        |        FROM g),
        |fp AS (SELECT DISTINCT doc_id, substr(wk, 1, 16) AS fp FROM sel),
        |kept AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |WHERE a.fp IN (SELECT fp FROM kept)
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // ---- LLM ops: training-mix assembly — "12k tokens at 50/20/15/15
    //      en/de/fr/es" (zh unweighted → excluded): per-source keep
    //      fractions from the token budget, applied via the content-
    //      deterministic hash rule; integer thresholds inlined into
    //      the oracle at run time (q85 pattern) ----
    Gate("q123_token_mixture", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TA.tokenCount(col("text")))
      val weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.15)
      val totals = docs.filter(col("lang").isNotNull)
        .groupBy("lang").agg(sum(col("n_tokens")).as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fr = graft.llm.Sampling.budgetFractions(totals, weights,
        budgetTokens = 12000L)
      q123Thresholds = fr.map { case (k, f) => k -> math.round(f * 10000) }
      graft.llm.Sampling.mixtureByTokenBudget(docs, "lang", "doc_id",
        "n_tokens", weights, budgetTokens = 12000L, salt = "mix1")
    }, AfterRun(() =>
      Option.when(q123Thresholds.nonEmpty)(q123OracleSql(q123Thresholds)))),

    // ---- LLM ops: exact duplicated-span detection (Lee et al.
    //      2021) — maximal ≥k-token ranges repeated in the corpus ----
    // same k-gram windows (lead over (doc, pos)) and islands pass;
    // space-joined grams, end-exclusive [pos, pos+k) ranges
    Gate("q131_duplicate_spans", (s, dir) =>
      graft.llm.Dedup.duplicateSpans(t(s, dir, "documents"),
        "doc_id", "text", k = 5), Sql(
      """WITH d AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS l
        |           FROM documents),
        |t AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) - 1 AS pos FROM d),
        |tf AS (SELECT doc_id, term, pos FROM t WHERE term <> ''),
        |g AS (SELECT doc_id, pos,
        |        term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w || ' ' ||
        |        lead(term, 3) OVER w || ' ' || lead(term, 4) OVER w AS gram,
        |        lead(term, 4) OVER w AS lastt
        |      FROM tf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |g2 AS (SELECT doc_id, pos, gram FROM g WHERE lastt IS NOT NULL),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |h AS (SELECT doc_id, pos AS s, pos + 5 AS e FROM g2
        |      WHERE gram IN (SELECT gram FROM dup)),
        |i AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM h),
        |j AS (SELECT doc_id, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni FROM i),
        |k2 AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM j)
        |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
        |       max(e) - min(s) AS span_tokens
        |FROM k2 GROUP BY doc_id, isl""".stripMargin)),

    // ---- retrieval eval: recall@10 of LSH ANN against the exact
    //      brute-force ranking, same queries ----
    // both arms replayed with the SAME hyperplane signatures as the
    // q30 oracle (k=10): exact arm joins all, approx arm joins within
    // buckets; recall = |∩| / n_exact with missed queries kept at 0
    Gate("q136_ann_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.recallAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 10)
    }, Sql {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |base AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
         |hit AS (SELECT ex.query_id, count(*) AS hits, min(ap.rn) AS first_hit_rank
         |        FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT base.query_id, n_exact, coalesce(hits, 0) AS hits,
         |  CAST(coalesce(hits, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall,
         |  first_hit_rank,
         |  CASE WHEN first_hit_rank IS NOT NULL
         |       THEN 1e0 / CAST(first_hit_rank AS DOUBLE) ELSE 0e0 END AS rr
         |FROM base LEFT JOIN hit USING (query_id)""".stripMargin
    }),

    // ---- curation: cross-source 5-gram overlap matrix (the
    //      dataset-card contamination report) ----
    // distinct (source, 60-bit md5 5-gram) relation self-joined on
    // the hash — the q53 shingle/hash recipe, pairwise
    Gate("q137_source_overlap", (s, dir) => {
      // spread (r20, guide §2.5): the 5-shingle explode + hashing ran
      // inside the single-task scan stage (baseline telemetry: 4.0 s
      // wall at 1.5 busy cores); project-then-spread parallelizes it —
      // a no-op on inputs the scan can split. Result-invariant: the
      // overlap matrix is a distinct + exact pair count.
      val sh = graft.core.Par.spread(
          t(s, dir, "documents").select(col("source"), col("text")))
        .select(col("source"),
          explode(graft.llm.Dedup.hashedShingles(col("text"), 5)).as("h"))
      graft.llm.Dedup.overlapMatrix(sh, "source", "h")
    }, Sql(
      """WITH w AS (SELECT source, string_split_regex(text,'\s+') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, ('0x'||substr(md5(s),1,15))::BIGINT AS h FROM (
        |  SELECT source, unnest(list_distinct(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS s FROM w))
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin)),

    // ---- retrieval training data: hard-negative mining — per query
    //      the top-k neighbors INSIDE the cosine band [0.1, 0.5) ----
    // brute-force cosine ranking restricted to the negative band
    // [0.1, 0.5) — same fixed-order double arithmetic as q27
    Gate("q139_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, maxCos = 0.5, minCos = 0.1)
    }, Sql(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
        |   list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) AS cos
        |   FROM q JOIN e ON vec_id <> qid),
        |b AS (SELECT * FROM s WHERE cos < 0.5 AND cos >= 0.1)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS "rank", neighbor_id, cos
        |FROM b QUALIFY "rank" <= 5""".stripMargin)),

    // ---- curation: prototypicality pruning (Sorscher et al. 2022) —
    //      drop the most-prototypical half of each k-means cluster;
    //      trained centroids stashed for the oracle like q39/q68 ----
    Gate("q140_prototype_prune", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(e, "vec_id", "embedding",
        nlist = 8, iters = 2)
      q140Centroids = cents
      Similarity.prototypePrune(e, "vec_id", "embedding", cents,
        dropNum = 1, dropDen = 2)
    }, AfterRun(() =>
      Option.when(q140Centroids.nonEmpty)(q140OracleSql(q140Centroids)))),

    // ---- multimodal dedup: real PNG decode → dHash → banded hamming
    //      near-dup pairs (bit-sampling LSH, pigeonhole-complete, so
    //      the all-pairs oracle is exactly equivalent) ----
    // the q116 pixel formula with a parity bump at cell (4,4); banding
    // with maxHamming < bands is pigeonhole-COMPLETE, so the all-pairs
    // replay is exactly the banded result
    Gate("q164_image_neardup", (s, dir) => {
      import s.implicits._
      val hashes = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val png = Multimodal.rgbPng(9, 8, (x, y) => {
              // MULTIPLICATIVE class pattern: each class gets its own
              // gradient slope, so cross-class dhashes are FAR (an
              // additive offset cancels in neighbor comparisons and
              // made all 5000 sf0.1 docs one near-dup cluster — the
              // pair list then grows quadratically in corpus size
              // instead of class size)
              val base = (((id % 50 + 1) * (x * 7 + y * 13 + 3)) % 256).toInt
              val v = if (id % 2 == 1 && x == 4 && y == 4)
                (base + 60) % 256
              else base
              (v << 16) | (v << 8) | v
            })
            Multimodal.MediaRecord(id, png,
              Multimodal.MediaMeta("image/png", Some(9), Some(8), None))
          }
        }
        .transform(Multimodal.imageDHash(_))
        .toDF()
      Dedup.hammingPairs(hashes, "media_id", "dhash", bits = 64,
        maxHamming = 3, bands = 8)
    }, Sql(
      """WITH bits AS (SELECT doc_id, y, x,
        |    CASE WHEN (CASE WHEN doc_id % 2 = 1 AND x + 1 = 4 AND y = 4
        |         THEN ((doc_id % 50 + 1) * ((x+1)*7 + y*13 + 3) + 60) % 256
        |         ELSE ((doc_id % 50 + 1) * ((x+1)*7 + y*13 + 3)) % 256 END)
        |       > (CASE WHEN doc_id % 2 = 1 AND x = 4 AND y = 4
        |         THEN ((doc_id % 50 + 1) * (x*7 + y*13 + 3) + 60) % 256
        |         ELSE ((doc_id % 50 + 1) * (x*7 + y*13 + 3)) % 256 END)
        |      THEN '1' ELSE '0' END AS b
        |  FROM documents, range(0, 8) t1(y), range(0, 8) t2(x)),
        |h AS (SELECT doc_id, string_agg(b, '' ORDER BY y, x) AS dh
        |      FROM bits GROUP BY doc_id),
        |p AS (SELECT h1.doc_id AS id1, h2.doc_id AS id2,
        |    CAST(len(list_filter(range(1, 65),
        |      i -> substr(h1.dh, CAST(i AS INT), 1) <> substr(h2.dh, CAST(i AS INT), 1))) AS BIGINT) AS hamming
        |  FROM h h1 JOIN h h2 ON h1.doc_id < h2.doc_id)
        |SELECT id1, id2, hamming FROM p WHERE hamming <= 3""".stripMargin)),

    // ---- multimodal dedup: real WAV decode → envelope fingerprint →
    //      banded hamming pairs (the q164 pattern on audio) ----
    // the q117 amp formula with a parity bump on bucket 6; bit rule =
    // exact integer cross-multiplication; banding pigeonhole-complete
    Gate("q171_audio_neardup", (s, dir) => {
      import s.implicits._
      val fps = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val samples = Array.tabulate(1024) { i =>
              val base = (((id % 50 + 1) * (i * 13 + 7)) % 4096).toInt
              val v = if (id % 2 == 1 && i / 16 == 6) base + 512 else base
              v.toShort
            }
            Multimodal.MediaRecord(id, Multimodal.pcmWav(samples),
              Multimodal.MediaMeta("audio/wav", None, None, Some(128L)))
          }
        }
        .transform(Multimodal.audioFingerprint(_, buckets = 64))
        .toDF()
      Dedup.hammingPairs(fps, "media_id", "fp", bits = 64,
        maxHamming = 3, bands = 8)
    }, Sql(
      """WITH s AS (SELECT doc_id,
        |    ((doc_id % 50 + 1) * (i*13 + 7)) % 4096 +
        |      CASE WHEN doc_id % 2 = 1 AND i // 16 = 6 THEN 512 ELSE 0 END AS amp,
        |    (i*64) // 1024 AS b
        |  FROM documents, range(0, 1024) t(i)),
        |bs AS (SELECT doc_id, b, CAST(sum(amp) AS BIGINT) AS sb,
        |    CAST(count(*) AS BIGINT) AS cb FROM s GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(amp) AS BIGINT) AS st,
        |    CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        |bits AS (SELECT bs.doc_id, b,
        |    CASE WHEN sb * n > st * cb THEN 1 ELSE 0 END AS bit
        |  FROM bs JOIN tot ON tot.doc_id = bs.doc_id),
        |p AS (SELECT b1.doc_id AS id1, b2.doc_id AS id2,
        |    CAST(sum(CASE WHEN b1.bit <> b2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM bits b1 JOIN bits b2 ON b1.doc_id < b2.doc_id AND b1.b = b2.b
        |  GROUP BY 1, 2)
        |SELECT id1, id2, hamming FROM p WHERE hamming <= 3""".stripMargin)),

    // ---- model-ops: embedding-centroid drift between segments
    //      (integer-quantized per-dim sums, dimension-ordered fold) ----
    // power-of-two scaling is exact for any double; floor exact; the
    // per-dim integer sums stand in for centroids (counts cancel)
    Gate("q188_centroid_drift", (s, dir) =>
      Similarity.centroidDrift(
        t(s, dir, "embeddings")
          .withColumn("half", (col("vec_id") % 2).cast("int")),
        "half", "embedding"), Sql(
      """WITH e AS (SELECT CAST(vec_id % 2 AS INT) AS g, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND len(embedding) > 0 AND vec_id IS NOT NULL),
        |dd AS (SELECT g, i - 1 AS d, CAST(floor(v[i] * 16777216.0) AS BIGINT) AS t
        |  FROM (SELECT g, v, unnest(generate_series(1, len(v))) AS i FROM e)),
        |sm AS (SELECT g, d, CAST(sum(t) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM dd GROUP BY 1, 2),
        |j AS (SELECT a.g AS g1, b.g AS g2, a.d,
        |    CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) AS xy,
        |    CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) AS xx,
        |    CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) AS yy,
        |    a.n AS n1, b.n AS n2
        |  FROM sm a JOIN sm b ON a.d = b.d AND a.g < b.g),
        |f AS (SELECT g1, g2, max(n1) AS n_1, max(n2) AS n_2,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(xy ORDER BY d)), (p, x) -> p + x) AS sxy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(xx ORDER BY d)), (p, x) -> p + x) AS sxx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(yy ORDER BY d)), (p, x) -> p + x) AS syy
        |  FROM j GROUP BY 1, 2)
        |SELECT g1, g2, n_1, n_2,
        |  CASE WHEN sxx > 0 AND syy > 0
        |    THEN sxy / (sqrt(sxx) * sqrt(syy)) END AS cosine
        |FROM f""".stripMargin)),

    // ---- contrastive training data: deterministic hash-ring
    //      negative sampling + payload join ----
    // the hash ring replayed literally; offset in [1, n-1] so an
    // anchor never samples itself
    Gate("q189_negative_sampling", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Sampling.negativeSamples(docs, "doc_id", k = 4)
        .join(docs.select(col("doc_id").as("neg_id"),
          col("n_chars").as("neg_chars")), Seq("neg_id"))
        .select(col("doc_id"), col("slot"), col("neg_id"), col("neg_chars"))
    }, Sql(
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        |  WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, j AS slot,
        |    (doc_id + 1 + ((doc_id * 2654435761 + j * 40503) % (n - 1))) % n AS neg_id
        |  FROM documents CROSS JOIN nn
        |  CROSS JOIN (VALUES (1), (2), (3), (4)) t(j)
        |  WHERE doc_id IS NOT NULL)
        |SELECT s.doc_id, s.slot, s.neg_id, d.n_chars AS neg_chars
        |FROM s JOIN documents d ON d.doc_id = s.neg_id""".stripMargin)),

    // ---- sampling: sequential Poisson (weight-proportional exact-k
    //      per language, quantized integer priorities) ----
    // same md5 uniform, same quantized integer priority, same
    // (priority, key) total order
    Gate("q209_weighted_priority", (s, dir) =>
      graft.llm.Sampling.weightedPriority(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "doc_id", "n_chars", k = 5, salt = "wp1"), Sql(
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR || 'wp1'), 1, 8))::BIGINT AS u,
        |    CAST(round(CAST(n_chars AS DOUBLE)) AS BIGINT) AS w
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
        |p AS (SELECT doc_id, lang, n_chars, (u * 1048576) // w AS prio
        |  FROM d WHERE w >= 1)
        |SELECT doc_id, lang, n_chars FROM p
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY prio, doc_id) <= 5""".stripMargin)),

    // ---- training data: deterministic MLM example generation
    //      (hash-chosen masks, flat masked_text/targets strings) ----
    // replay the per-position hash rule over the same non-empty tokens
    Gate("q210_mlm_mask", (s, dir) =>
      graft.llm.Augment.mlmMask(t(s, dir, "documents"), "doc_id", "text",
        denom = 7), Sql(
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |z AS (SELECT doc_id, w,
        |    list_transform(range(len(w)), i ->
        |      ('0x' || substr(md5(doc_id::VARCHAR || '_' || i::VARCHAR
        |        || '_mlm1'), 1, 8))::BIGINT % 7 = 0) AS hits
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  coalesce(array_to_string(list_transform(range(len(w)), i ->
        |    CASE WHEN hits[i + 1] THEN '<mask>' ELSE w[i + 1] END), ' '), '')
        |    AS masked_text,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(len(w)), i -> hits[i + 1]),
        |    i -> i::VARCHAR || ':' || w[i + 1]), ' '), '') AS targets,
        |  CAST(len(list_filter(range(len(w)), i -> hits[i + 1])) AS BIGINT)
        |    AS n_masked
        |FROM z""".stripMargin)),

    // ---- training data: T5-style span corruption — block-hashed
    //      non-overlapping spans, consecutive sentinels ----
    // replay the block-hash rule: block b corrupted iff
    // md5(id_b<b>_sc1) % 3 = 0; span = first 3 tokens of the block;
    // sentinel k = corrupted blocks before mine
    Gate("q223_span_corrupt", (s, dir) =>
      graft.llm.Augment.spanCorrupt(t(s, dir, "documents"),
        "doc_id", "text", blockSize = 10, spanLen = 3, denom = 3), Sql(
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |z AS (SELECT doc_id, w,
        |    list_transform(range((len(w) + 9) // 10), b ->
        |      ('0x' || substr(md5(doc_id::VARCHAR || '_b' || b::VARCHAR
        |        || '_sc1'), 1, 8))::BIGINT % 3 = 0) AS hits
        |  FROM t),
        |z2 AS (SELECT doc_id, w, hits,
        |    list_transform(range(len(hits)), b -> CASE WHEN b = 0 THEN 0
        |      ELSE CAST(coalesce(list_sum(list_transform(range(b), bb ->
        |        CASE WHEN hits[bb + 1] THEN 1 ELSE 0 END)), 0) AS INT)
        |      END) AS pfx
        |  FROM z)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(range(len(w)), i ->
        |    hits[i // 10 + 1] AND i % 10 = 0)) AS BIGINT) AS n_spans,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(len(w)), i ->
        |      NOT (hits[i // 10 + 1] AND i % 10 < 3)
        |      OR (hits[i // 10 + 1] AND i % 10 = 0)),
        |    i -> CASE WHEN hits[i // 10 + 1] AND i % 10 = 0
        |      THEN '<extra_id_' || pfx[i // 10 + 1]::VARCHAR || '>'
        |      ELSE w[i + 1] END), ' '), '') AS corrupted_text,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(len(w)), i -> hits[i // 10 + 1] AND i % 10 < 3),
        |    i -> CASE WHEN hits[i // 10 + 1] AND i % 10 = 0
        |      THEN '<extra_id_' || pfx[i // 10 + 1]::VARCHAR || '> ' || w[i + 1]
        |      ELSE w[i + 1] END), ' '), '') AS targets
        |FROM z2""".stripMargin)),

    // ---- training data: EXACT stratified train/valid/test split —
    //      hash-ranked consecutive ranges, floor-boundary counts ----
    // rank by (md5 draw, id) per stratum; thresholds floor(c_j * n)
    // with the LEFT-TO-RIGHT accumulated cumulative fractions
    // (0.7 + 0.2 = 0.8999999999999999 — replayed verbatim)
    Gate("q224_exact_split", (s, dir) =>
      graft.llm.Sampling.exactSplit(
        t(s, dir, "documents").select("doc_id", "lang"),
        Seq("lang"), "doc_id",
        Seq("train" -> 0.7, "valid" -> 0.2, "test" -> 0.1), salt = "sp1"), Sql(
      s"""WITH d AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR || 'sp1'), 1, 8))::BIGINT AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS n
        |  FROM d)
        |SELECT doc_id, lang,
        |  CASE WHEN rk <= floor(${0.7} * n) THEN 'train'
        |       WHEN rk <= floor(${0.7 + 0.2} * n) THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin)),

    // ---- dedup: DIRECTED containment pairs — asymmetric overlap
    //      (quotes/wrappers/reposts symmetric Jaccard can't see);
    //      one-sided rarest-prefix filter ----
    // all-pairs replay over the same distinct-shingle sets (hash-
    // agnostic: containment over injectively-hashed sets equals
    // containment over the string sets)
    Gate("q228_containment", (s, dir) =>
      graft.llm.Dedup.containmentPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleN = 3, threshold = 0.8), Sql(
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS sh FROM w),
        |p AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS overlap,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / CAST(len(a.sh) AS DOUBLE) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(a.sh) > 0)
        |SELECT src_id, dst_id, overlap, containment
        |FROM p WHERE containment >= 0.8""".stripMargin)),

    // ---- retrieval eval: rank-biased overlap between the exact and
    //      LSH rankings — order-sensitive, top-weighted (recall@k
    //      can't see rank agreement) ----
    // the two rankings replayed as in q136; per shared item the
    // precomputed suffix-sum literal at max(rank, rank), round-12
    // decimal sum, (1-p) literal
    Gate("q230_rbo", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.rankBiasedOverlap(exact, approx, "query_id",
        "neighbor_id", "rank", k = 10, p = 0.9)
    }, Sql {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      val sfx = (1 to 10).map(m =>
        (m to 10).map(d => math.pow(0.9, d - 1) / d).sum)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |jj AS (SELECT ex.query_id,
         |    CAST(round(($sfx)[greatest(ex.rn, ap.rn)], 12)
         |      AS DECIMAL(16,12)) AS contrib
         |  FROM ex JOIN ap USING (query_id, neighbor_id)),
         |s AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap,
         |    sum(contrib) AS ts FROM jj GROUP BY 1),
         |base AS (SELECT DISTINCT query_id FROM ex)
         |SELECT base.query_id, coalesce(n_overlap, 0) AS n_overlap,
         |  ${1.0 - 0.9} * coalesce(CAST(ts AS DOUBLE), 0.0) AS rbo
         |FROM base LEFT JOIN s USING (query_id)""".stripMargin
    }),

    // ---- retrieval eval: nDCG@10 of the LSH ranking against exact —
    //      graded, log-discounted, literal-pinned discounts ----
    // same ranking replay; rel = k+1 - exact rank, literal discount
    // and ideal-DCG arrays, round-12 decimal term sums
    Gate("q231_ndcg", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.ndcgAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 10)
    }, Sql {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      val disc = (1 to 10)
        .map(d => 1.0 / (math.log(d + 1.0) / math.log(2.0)))
      val discL = disc.mkString("[", ", ", "]")
      val idealL = disc.zipWithIndex
        .scanLeft(0.0) { case (acc, (dc, i)) => acc + (10 - i) * dc }
        .tail.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |terms AS (SELECT ap.query_id,
         |    CAST(round(CAST(CASE WHEN ex.rn IS NOT NULL
         |        THEN 11 - ex.rn ELSE 0 END AS DOUBLE)
         |      * ($discL)[ap.rn], 12) AS DECIMAL(18,12)) AS term
         |  FROM ap LEFT JOIN ex USING (query_id, neighbor_id)),
         |d AS (SELECT query_id, sum(term) AS dcg0 FROM terms GROUP BY 1),
         |ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY 1)
         |SELECT ne.query_id, n_exact,
         |  coalesce(CAST(dcg0 AS DOUBLE), 0.0) AS dcg,
         |  ($idealL)[CAST(n_exact AS INT)] AS idcg,
         |  CASE WHEN ($idealL)[CAST(n_exact AS INT)] > 0
         |    THEN coalesce(CAST(dcg0 AS DOUBLE), 0.0)
         |      / ($idealL)[CAST(n_exact AS INT)] END AS ndcg
         |FROM ne LEFT JOIN d USING (query_id)""".stripMargin
    }),

    // ---- embedding QA: per-dimension Fisher class-separation
    //      profile — which dims carry the label ----
    // the engine's 1e-6 snapped grid in integer micro-units: per-row
    // squares HALF_UP to 1e-6 ((vu²+500000)//1e6 — exact integers),
    // moments close as exact micro-unit sums over one correctly-
    // rounded division, the between-scatter Σs_c²/n_c folds
    // SEQUENTIALLY in class order (list_reduce — the crossGroupCosine
    // discipline), closing chain pinned IEEE
    Gate("q294_class_separation", (s, dir) =>
      graft.llm.Similarity.classSeparation(
        t(s, dir, "embeddings")
          .withColumn("label", (col("vec_id") % 5).cast("int")),
        "embedding", "label"), Sql(
      """WITH e AS (SELECT CAST(vec_id % 5 AS INT) AS c,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding IS NOT NULL),
        |x AS (SELECT c, CAST(i - 1 AS INT) AS dim,
        |    CAST(CAST(v[i] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
        |  FROM (SELECT c, v, unnest(generate_series(1, len(v))) AS i
        |        FROM e)),
        |g AS (SELECT c, dim, CAST(count(*) AS BIGINT) AS n,
        |    sum(vu) AS su,
        |    sum((vu * vu + 500000) // 1000000) AS ssu
        |  FROM x GROUP BY 1, 2),
        |p AS (SELECT dim, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(su) AS DOUBLE) / 1000000.0 AS ts,
        |    CAST(sum(ssu) AS DOUBLE) / 1000000.0 AS tss,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(su AS DOUBLE) / 1000000.0) *
        |           (CAST(su AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)
        |           ORDER BY c)),
        |      (a, t) -> a + t) AS bsum
        |  FROM g GROUP BY dim),
        |f AS (SELECT dim, n,
        |    CASE WHEN tss - bsum > 0
        |      THEN (bsum - ts * ts / CAST(n AS DOUBLE)) / (tss - bsum)
        |    END AS fisher
        |  FROM p)
        |SELECT dim, n, fisher,
        |  CAST(row_number() OVER (ORDER BY fisher DESC NULLS LAST, dim)
        |    AS INT) AS "rank"
        |FROM f""".stripMargin)),

    // ---- retrieval eval: MAP@10 of the LSH ranking vs brute-force —
    //      binary relevance, precision-weighted, hits-early wins ----
    // same LSH/brute ranking replay as q231; binary relevance, running
    // hit count per approx rank, round-12 decimal precision terms, one
    // closing division by min(n_exact, k)
    Gate("q298_map", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
        k = 10)
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        k = 10, bits = 6)
      Similarity.mapAtK(approx, exact, "query_id", "neighbor_id",
        "rank", k = 10)
    }, Sql {
      val planes = graft.llm.Similarity.planesFor(6, 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val arr = pl.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bkt AS (SELECT vec_id, v, $bucketExpr AS b FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, b FROM bkt WHERE vec_id < 50),
         |ex AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(v,v))) DESC,
         |      e.vec_id) AS rn
         |  FROM q JOIN e ON e.vec_id <> qid) WHERE rn <= 10),
         |ap AS (SELECT query_id, neighbor_id, rn FROM (
         |  SELECT qid AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      list_dot_product(qv,c.v)/(sqrt(list_dot_product(qv,qv))*sqrt(list_dot_product(c.v,c.v))) DESC,
         |      c.vec_id) AS rn
         |  FROM q JOIN bkt c ON q.b = c.b AND c.vec_id <> q.qid) WHERE rn <= 10),
         |hits AS (SELECT ap.query_id, ap.rn,
         |    CASE WHEN ex.rn IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM ap LEFT JOIN ex USING (query_id, neighbor_id)),
         |cum AS (SELECT query_id, rn, rel,
         |    sum(rel) OVER (PARTITION BY query_id ORDER BY rn) AS cumrel
         |  FROM hits),
         |terms AS (SELECT query_id,
         |    CAST(round(CAST(rel * cumrel AS DOUBLE) / CAST(rn AS DOUBLE),
         |      12) AS DECIMAL(18,12)) AS term FROM cum),
         |s AS (SELECT query_id, sum(term) AS s0 FROM terms GROUP BY 1),
         |ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ex GROUP BY 1)
         |SELECT ne.query_id, n_exact,
         |  coalesce(CAST(s0 AS DOUBLE), 0.0)
         |    / CAST(least(n_exact, 10) AS DOUBLE) AS ap
         |FROM ne LEFT JOIN s USING (query_id)""".stripMargin
    }),

    // ---- sampling: deterministic bottom-k coordinated sample —
    //      the mergeable bottom-k sketch per key ----
    // distinct (key, id) grid, md5-prefix hash, rank cut over the
    // (hash, id) total order
    Gate("q403_bottom_k", (s, dir) =>
      graft.llm.Sampling.bottomKByHash(t(s, dir, "events"),
        Seq("event_type"), "event_id", k = 7), Sql(
      """WITH d AS (SELECT DISTINCT event_type AS k, event_id AS id
        |  FROM events WHERE event_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |h AS (SELECT k, id,
        |    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT
        |      AS hv
        |  FROM d),
        |r AS (SELECT k, id, CAST(row_number() OVER (PARTITION BY k
        |    ORDER BY hv, id) AS BIGINT) AS rn FROM h)
        |SELECT k AS event_type, id AS event_id, rn AS "rank"
        |FROM r WHERE rn <= 7""".stripMargin)),

    // ---- LLM prep: DSIR importance weights — hashed-unigram
    //      target/raw log-ratios, bucket-order per-doc fold ----
    // hashingTrick's token/bucket conventions, exact integer bucket
    // counts, one pinned Laplace log-ratio per bucket (smoothing
    // constants in-expression), per-doc fold in bucket order
    Gate("q372_dsir", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Sampling.dsirWeights(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text",
        dim = 64)
    }, Sql(
      """WITH rt AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |rb AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64
        |      AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM rt GROUP BY 1, 2),
        |rtot AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cr
        |  FROM rb GROUP BY 1),
        |tt0 AS (SELECT unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND lang = 'en'),
        |ttot AS (SELECT CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT
        |      % 64 AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS ct FROM tt0 GROUP BY 1),
        |nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS nrv FROM rtot),
        |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS ntv
        |  FROM ttot),
        |lr AS (SELECT r.b,
        |    ln((CAST(coalesce(t.ct, 0) AS DOUBLE) + 0.5)
        |        / (ntv + 0.5 * 64.0))
        |      - ln((CAST(r.cr AS DOUBLE) + 0.5)
        |        / (nrv + 0.5 * 64.0)) AS lr
        |  FROM rtot r LEFT JOIN ttot t ON t.b = r.b, nr, nt),
        |f AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend([0.0],
        |      list([CAST(cnt AS DOUBLE), lr.lr] ORDER BY rb.b)),
        |    (acc, p) -> [acc[1] + p[1] * p[2]]) AS m
        |  FROM rb JOIN lr ON lr.b = rb.b GROUP BY 1)
        |SELECT doc_id, n_tokens, m[1] AS log_weight
        |FROM f""".stripMargin)),

    // ---- embeddings: centroid silhouette — O(n·k) cluster-quality
    //      score; 1e-6-grid components, exact-decimal centroids,
    //      dim-ordered dot/norm folds, per-point output ----
    // the q294 snapping (1e-6 micro-units) + exact-decimal centroids
    // (Σvu double / 1e6 / n — the established double-cast
    // equivalence), dim-ORDERED list_reduce dot/norm folds, pinned
    // silhouette chain verbatim
    Gate("q330_centroid_silhouette", (s, dir) =>
      graft.llm.Similarity.centroidSilhouette(
        t(s, dir, "embeddings")
          .withColumn("cluster", (col("vec_id") % 5).cast("int")),
        "vec_id", "embedding", "cluster"), Sql(
      """WITH e AS (SELECT vec_id, CAST(vec_id % 5 AS INT) AS cluster,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id IS NOT NULL
        |    AND embedding IS NOT NULL AND len(embedding) > 0),
        |x AS (SELECT vec_id, cluster, CAST(i - 1 AS INT) AS dim,
        |    CAST(CAST(v[i] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
        |  FROM (SELECT vec_id, cluster, v,
        |        unnest(generate_series(1, len(v))) AS i FROM e)),
        |cen AS (SELECT cluster AS cc, dim,
        |    (CAST(sum(vu) AS DOUBLE) / 1000000.0)
        |      / CAST(count(*) AS DOUBLE) AS mu
        |  FROM x GROUP BY 1, 2),
        |pv AS (SELECT vec_id, cluster, dim,
        |    CAST(vu AS DOUBLE) / 1000000.0 AS sv FROM x),
        |pc AS (SELECT p.vec_id, p.cluster, c.cc,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(p.sv * c.mu ORDER BY p.dim)), (s, t) -> s + t) AS dt,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(p.sv * p.sv ORDER BY p.dim)), (s, t) -> s + t) AS np,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(c.mu * c.mu ORDER BY p.dim)), (s, t) -> s + t) AS nc
        |  FROM pv p JOIN cen c ON p.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |cs AS (SELECT *, CASE WHEN np > 0.0 AND nc > 0.0
        |    THEN dt / (sqrt(np) * sqrt(nc)) END AS cs FROM pc),
        |pp AS (SELECT vec_id, cluster,
        |    max(CASE WHEN cluster = cc THEN cs END) AS cos_own,
        |    max(CASE WHEN cluster <> cc THEN cs END)
        |      AS cos_nearest_other
        |  FROM cs GROUP BY 1, 2)
        |SELECT vec_id, cluster, cos_own, cos_nearest_other,
        |  CASE WHEN cos_own IS NOT NULL
        |      AND cos_nearest_other IS NOT NULL
        |      AND greatest(CAST(1.0 AS DOUBLE) - cos_own,
        |        CAST(1.0 AS DOUBLE) - cos_nearest_other) > 0.0 THEN
        |    ((CAST(1.0 AS DOUBLE) - cos_nearest_other)
        |      - (CAST(1.0 AS DOUBLE) - cos_own))
        |    / greatest(CAST(1.0 AS DOUBLE) - cos_own,
        |        CAST(1.0 AS DOUBLE) - cos_nearest_other)
        |  END AS silhouette
        |FROM pp""".stripMargin))
  )
}
