"""Registry family: text (split from the single-file registry; query names and behavior unchanged)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    D,
    F,
    T,
    Window,
    _LAT,
    _LON,
    load,
    register,
    table_rows,
)
from gipspark.queries._shared import (  # noqa: F401
    BPE_PATTERN,
    MIX_RATES_BP,
    UPSAMPLE_FACTORS,
    _BD_TICK,
    _BD_VOCAB,
    _BLOCK_TERMS,
    _BLOCK_THRESHOLD,
    _BM25_TERMS,
    _BPE_ROUNDS,
    _CDC_W,
    _CHARCLASSES,
    _CHI2_MIN_FREQ,
    _CHI2_TOPK,
    _CMS_CELL,
    _CONDORCET_K,
    _COOC_CAP,
    _CRAWL_BUDGET,
    _CRAWL_RULES,
    _CRAWL_RULES_SQL,
    _CUR_QUALITY_MIN,
    _CUR_SAMPLE_K,
    _DECON_BENCH_DOCS,
    _DECON_N,
    _DOT,
    _EB_SERVERS,
    _ECE_EN,
    _ECE_HITS,
    _KWIC_CTX,
    _KWIC_TERMS,
    _LANGID_CM_SQL,
    _LIGHT_STEM,
    _MESSY_URL_SQL,
    _MIX_DEFAULT_BP,
    _PACK_B,
    _PACK_BUDGET,
    _PACK_H,
    _PERIODS,
    _PII_AUG_SQL,
    _PII_EMAIL,
    _PII_IP,
    _PII_PHONE,
    _PR_EDGE_DST,
    _PR_N,
    _PS_K,
    _RAKE_STOPS,
    _RRF_K,
    _RRF_SCALE,
    _RTQ_PAGE,
    _RTQ_SLABS,
    _STTR_WIN,
    _SURP_SCALE,
    _TB_BURST,
    _TB_RATE_SEC,
    _TRIE_DEPTHS,
    _TT_BLOCK,
    _TT_SCALE,
    _UPF_H,
    _URL_SQL,
    _VSHARE_KS,
    _WILSON_EXPR,
    _WIN_H,
    _WIN_K,
    _WIN_P,
    _WIN_W,
    _bm25_tf_sql,
    _bpe_oracle_sql,
    _curation_oracle_sql,
    _langid_scores_sql,
    _lcp_bucket_sql,
    _mix_case_sql,
    _pii_aug_col,
    _upsample_case_sql,
)



@register(
    "bpe_token_counts",
    f"""
SELECT doc_id,
       len(regexp_extract_all(text, $${BPE_PATTERN}$$)) AS n_bpe,
       len(list_distinct(regexp_extract_all(text, $${BPE_PATTERN}$$))) AS n_bpe_distinct,
       {T.TOKEN_COUNT_SQL.format(t='text')} AS n_ws
FROM documents WHERE doc_id < 300
""",
)
def bpe_token_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # idx=0: whole-match extraction (Spark defaults to capture group 1)
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(bpe).alias("n_bpe"),
        F.size(F.array_distinct(bpe)).alias("n_bpe_distinct"),
        T.token_count(F.col("text")).alias("n_ws"),
    )



def _bpe_merge_oracle_sql() -> str:
    from gipspark.functions.bpe import bpe_oracle_init, bpe_oracle_replace_chain

    chain = bpe_oracle_replace_chain(bpe_oracle_init("tok"))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, $${BPE_PATTERN}$$)) AS tok
  FROM documents WHERE doc_id < 300
), enc AS (
  SELECT doc_id, {chain} AS enc FROM toks
)
SELECT doc_id,
       cast(count(*) as bigint) AS n_pretokens,
       cast(sum(length(enc) - length(replace(enc, chr(2), ''))) as bigint)
         AS n_bpe_tokens
FROM enc GROUP BY doc_id ORDER BY doc_id
"""


@register("bpe_merge_token_counts", _bpe_merge_oracle_sql())
def bpe_merge_token_counts(spark, sf_dir):
    """Learned-BPE token counts (VERDICT r4 next-round #5 — the real
    sibling of bpe_token_counts' pre-tokenizer match count): apply the
    COMMITTED merge table (gipspark/functions/bpe_merges.py, trained
    offline by tools/train_bpe.py on the fixture corpus) to every
    pre-token and count resulting subword tokens per document. The
    merge replay is sequential rank-order (provably equivalent to
    best-rank-first for a learned table — functions/bpe.py docstring),
    which the DuckDB oracle reproduces bit-exactly as a chain of plain
    replace() calls over a chr(2)/chr(3)-wrapped encoding (wrapped
    tokens share no characters, so non-overlapping leftmost replace ==
    the kernel's merge sweep). Scale shape: explode pre-tokens (narrow),
    one Arrow-vectorized UDF with the broadcast-sized merge closure and
    a per-batch memo over unique tokens (Zipf hit rate), one hash
    aggregate on doc_id."""
    from gipspark.functions.bpe import bpe_token_count

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
        ).alias("tok"),
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pretokens"),
            F.sum(bpe_token_count(F.col("tok"))).cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_fingerprint_groups",
    f"""
SELECT {T.doc_fingerprint_sql('text')} AS fp, count(*) AS n, min(doc_id) AS keep_id
FROM documents GROUP BY fp
""",
)
def doc_fingerprint_groups(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy(T.doc_fingerprint(F.col("text")).alias("fp")).agg(
        F.count("*").alias("n"), F.min("doc_id").alias("keep_id")
    )



@register(
    "token_quality_langid",
    f"""
SELECT doc_id,
       {T.TOKEN_COUNT_SQL.format(t='text')} AS n_tokens,
       {T.quality_score_sql('text')} AS quality,
       {T.lang_id_sql('text')} AS pred_lang,
       lang
FROM documents WHERE doc_id < 100
""",
)
def token_quality_langid(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("pred_lang"),
        "lang",
    )



@register(
    "rolling_fingerprint",
    # Rabin–Karp-style rolling hash over the token stream:
    #   h ← (h·131 + tok_hash mod 1000003) mod 1000000007
    # pure int64 arithmetic, overflow-free (max ≈ 2^40), replayed
    # exactly by the oracle's list_reduce fold
    f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(cast(0 as bigint), list_transform(w, s -> {D.MD5_LONG_SQL.format(x='s')} % 1000003)),
         (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
FROM toks
""",
)
def rolling_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, s: (acc * 131 + D.md5_long(s) % 1000003) % F.lit(1000000007).cast("long"),
    )
    return d.select("doc_id", fp.alias("fp"))



@register(
    "pivot_lang_by_source",
    """
SELECT source,
       cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       cast(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       cast(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       cast(sum(CASE WHEN lang NOT IN ('en','de','fr') THEN 1 ELSE 0 END) AS BIGINT) AS other
FROM documents GROUP BY source
""",
)
def pivot_lang_by_source(spark, sf_dir):
    """Pivoted inventory calendar view (GIPS DataInventory renders
    tile×date availability as a matrix; same shape here as
    source×lang). Explicit value list => one pass, no distinct-values
    pre-query; the oracle mirrors pivot as conditional aggregation."""
    d = load(spark, sf_dir, "documents").withColumn(
        "lang_g",
        F.when(F.col("lang").isin("en", "de", "fr"), F.col("lang")).otherwise("other"),
    )
    return (
        d.groupBy("source")
        .pivot("lang_g", ["en", "de", "fr", "other"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["en", "de", "fr", "other"])
    )



@register(
    "stratified_sample_docs",
    f"""
WITH buckets AS (
  SELECT doc_id, lang,
         {D.MD5_LONG_SQL.format(x="cast(doc_id as varchar)")} % 10000 AS bucket
  FROM documents
)
SELECT doc_id, lang, cast(bucket as bigint) AS bucket
FROM buckets
WHERE bucket < {_mix_case_sql()}
""",
)
def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling (per-language mixing rates).

    Pure narrow plan: one scan, a codegen hash + filter, no shuffle and
    no driver state — at 100 TB this is exactly one pass over the corpus
    with the filter running inside the parquet scan stage. Hash-based
    membership (md5(doc_id) bucket) makes the mix reproducible under
    AQE re-planning and task retries, unlike rand()-based sampling."""
    d = load(spark, sf_dir, "documents")
    bucket = D.md5_long(F.col("doc_id").cast("string")) % 10000
    rate = F.lit(_MIX_DEFAULT_BP)
    for lang, bp in reversed(list(MIX_RATES_BP.items())):
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )



@register(
    "quality_cap_per_source",
    f"""
WITH scored AS (
  SELECT doc_id, source, {T.quality_score_sql('text')} AS q FROM documents
), ranked AS (
  SELECT doc_id, source, q,
         cast(row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) as int) AS qrank
  FROM scored
)
SELECT doc_id, source, q, qrank FROM ranked WHERE qrank <= 10
""",
)
def quality_cap_per_source(spark, sf_dir):
    """Per-source quality cap: keep the top-10 docs per source by the
    deterministic quality score (tie-break doc_id). The domain-cap op
    every crawl-curation pipeline needs. Because the rank filter is a
    plain ``row_number() <= k`` over the window, Catalyst plans a
    two-phase WindowGroupLimit: each map task keeps only its local
    top-k per source BEFORE the shuffle, so a mega-domain ships
    k·num_partitions candidate rows, not its whole population — the
    skew-safe scale path with no custom operator
    (tests/test_plan_hygiene.py pins the optimization)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("q").desc(), F.col("doc_id"))
    return (
        d.select("doc_id", "source", T.quality_score(F.col("text")).alias("q"))
        .withColumn("qrank", F.row_number().over(w).cast("int"))
        .filter(F.col("qrank") <= 10)
    )



@register(
    "tfidf_top_terms",
    f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), filt AS (
  SELECT doc_id, source, term FROM toks WHERE regexp_full_match(term, '[a-z]{{3,}}')
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM filt GROUP BY term
), tf AS (
  SELECT source, term, count(*) AS tf FROM filt GROUP BY source, term
), scored AS (
  SELECT tf.source, tf.term, tf.tf, df.df,
         cast(tf.tf as double) * (SELECT count(*) FROM documents) / df.df AS score
  FROM tf JOIN df USING (term)
)
SELECT source, term, tf, df, score, rnk FROM (
  SELECT source, term, tf, df, score,
         cast(row_number() OVER (PARTITION BY source ORDER BY score DESC, term) as int) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
)
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-5 terms per source. idf is the exact rational
    n_docs/df (no log: ln() differs across libm implementations in the
    last ulp; tf*n/df is two exact IEEE ops, bit-identical both
    engines, and order-preserving for ranking within a fixed corpus).
    Shape at scale: explode → two hash aggregates (term df, per-source
    tf) → broadcast-joinable df side only if the vocabulary is small;
    here it's a plain shuffle join on term, then a per-source top-k
    window. The 1-row corpus count rides in as a broadcast cross join,
    not a driver-side collect."""
    d = load(spark, sf_dir, "documents")
    filt = (
        d.select("doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").rlike("^[a-z]{3,}$"))
    )
    df_side = filt.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    tf_side = filt.groupBy("source", "term").agg(F.count("*").alias("tf"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf_side.join(df_side, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source", "term", "tf", "df",
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("source", "term", "tf", "df", "score", "rnk")
    )



@register(
    "ngram_decontaminate",
    f"""
WITH bench AS (
  SELECT DISTINCT array_to_string(
           list_slice(regexp_split_to_array(lower(trim(text)), '\\s+'), 1, {_DECON_N}), ' ') AS ng
  FROM documents
  WHERE doc_id < {_DECON_BENCH_DOCS}
    AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= {_DECON_N}
), grams AS (
  SELECT doc_id, unnest({D.shingles_sql('text', _DECON_N)}) AS ng FROM documents
)
SELECT g.doc_id, count(*) AS n_hits
FROM grams g JOIN bench b ON g.ng = b.ng
GROUP BY g.doc_id
""",
)
def ngram_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any 8-gram
    with the benchmark set (here: the leading 8-gram of the first ten
    docs — self-hits included by construction, which pins correctness).

    Scale shape: benchmark n-grams are a tiny broadcast dim; the corpus
    side is one explode over distinct shingles and a hash aggregate —
    shuffle bounded by the HIT count, not the corpus, because the
    broadcast hash join filters before the aggregate."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    bench = (
        d.filter(F.col("doc_id") < _DECON_BENCH_DOCS)
        .select(F.concat_ws(" ", F.slice(toks, 1, _DECON_N)).alias("ng"), F.size(toks).alias("nt"))
        .filter(F.col("nt") >= _DECON_N)
        .select("ng")
        .distinct()
    )
    grams = d.select("doc_id", F.explode(D.shingles(F.col("text"), _DECON_N)).alias("ng"))
    return (
        grams.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )



@register(
    "mixture_upsample_docs",
    f"""
SELECT doc_id, lang,
       cast(unnest(generate_series(1, {_upsample_case_sql()})) as int) AS copy
FROM documents
""",
)
def mixture_upsample_docs(spark, sf_dir):
    """Deterministic mixture upsampling: explode(sequence(1, k(lang)))
    gives each document k copies with a stable copy index — a narrow
    per-row generate, no shuffle, no rand(); the inverse op of
    stratified_sample_docs in a mixing pipeline."""
    d = load(spark, sf_dir, "documents")
    k = F.lit(1)
    for lang, f_ in UPSAMPLE_FACTORS.items():
        k = F.when(F.col("lang") == lang, F.lit(f_)).otherwise(k)
    return d.select(
        "doc_id", "lang", F.explode(F.sequence(F.lit(1), k)).alias("copy0")
    ).select("doc_id", "lang", F.col("copy0").cast("int").alias("copy"))



@register(
    "repetition_filter_docs",
    f"""
WITH grams AS (
  SELECT doc_id,
         len({D.shingles_all_sql('text', 3)}) AS n_tri,
         len({D.shingles_sql('text', 3)}) AS n_uniq
  FROM documents
)
SELECT doc_id, cast(n_tri as bigint) AS n_tri,
       cast(CASE WHEN n_tri = 0 THEN 0
                 ELSE ((n_tri - n_uniq) * 1000000) // n_tri END as bigint) AS dup_ppm,
       (CASE WHEN n_tri = 0 THEN 0
             ELSE ((n_tri - n_uniq) * 1000000) // n_tri END) <= 50000 AS keep
FROM grams
""",
)
def repetition_filter_docs(spark, sf_dir):
    """Gopher-style repetition filter: fraction of duplicated word
    trigrams per document as exact integer ppm, plus the keep/drop
    decision at 5%. Entirely JVM higher-order functions on the token
    array (size vs array_distinct size) — NO explode, NO shuffle, no
    Python: the quality gate runs inside the scan stage, which is the
    only shape that survives a 10^12-doc corpus. Oracle replays the
    same tokenizer/list pipeline in DuckDB with BIGINT floor-division
    (never a float ratio)."""
    d = load(spark, sf_dir, "documents")
    n_tri = F.size(D.shingles_all(F.col("text"), 3))
    n_uniq = F.size(D.shingles(F.col("text"), 3))
    g = d.select("doc_id", n_tri.alias("n_tri"), n_uniq.alias("n_uniq"))
    dup_ppm = F.when(F.col("n_tri") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("((n_tri - n_uniq) * 1000000L) div n_tri")
    )
    return g.select(
        "doc_id",
        F.col("n_tri").cast("long").alias("n_tri"),
        dup_ppm.cast("long").alias("dup_ppm"),
        (dup_ppm <= 50000).alias("keep"),
    )



@register(
    "url_host_stats",
    f"""
WITH urls AS (
  SELECT doc_id, n_chars, {_URL_SQL} AS url FROM documents
), parsed AS (
  SELECT doc_id, n_chars,
         split_part(split_part(url, '/', 3), ':', 1) AS host,
         cast(split_part(split_part(url, '/', 3), ':', 2) as int) AS port,
         split_part(url, '/', 4) AS section
  FROM urls
)
SELECT host, port,
       cast(count(*) as bigint) AS n_docs,
       cast(count(DISTINCT section) as bigint) AS n_sections,
       cast(sum(cast(n_chars as bigint)) as bigint) AS total_chars
FROM parsed GROUP BY host, port
""",
)
def url_host_stats(spark, sf_dir):
    """URL parsing + per-host rollup (the crawl-frontier accounting op):
    synthesize the canonical url per doc, parse host/port/section back
    out with ``split_part`` (identical call text on both engines — the
    parse is the point, not the synthesis), and aggregate docs /
    distinct sections / total bytes per host. Pure codegen string ops
    inside the scan stage followed by one map-side-combinable
    aggregate whose key domain is the host set — bounded by the crawl's
    domain count, not its page count."""
    d = load(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com:8443/"),
            F.col("lang"),
            F.lit("/doc-"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    parsed = urls.select(
        "n_chars",
        F.expr("split_part(split_part(url, '/', 3), ':', 1)").alias("host"),
        F.expr("cast(split_part(split_part(url, '/', 3), ':', 2) as int)").alias("port"),
        F.expr("split_part(url, '/', 4)").alias("section"),
    )
    return parsed.groupBy("host", "port").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("section").alias("n_sections"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )



@register(
    "crawl_diff_snapshots",
    f"""
WITH snap_a AS (
  SELECT doc_id, source, md5(text) AS digest
  FROM documents
  WHERE {D.MD5_LONG_SQL.format(x="concat('a:', cast(doc_id as varchar))")} % 100 < 90
), snap_b AS (
  SELECT doc_id, source,
         md5(CASE WHEN {D.MD5_LONG_SQL.format(x="concat('c:', cast(doc_id as varchar))")} % 100 < 20
                  THEN concat(text, ' updated') ELSE text END) AS digest
  FROM documents
  WHERE {D.MD5_LONG_SQL.format(x="concat('b:', cast(doc_id as varchar))")} % 100 < 90
), diff AS (
  SELECT coalesce(a.source, b.source) AS source,
         CASE WHEN a.digest IS NULL THEN 'added'
              WHEN b.digest IS NULL THEN 'removed'
              WHEN a.digest <> b.digest THEN 'changed'
              ELSE 'same' END AS status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
)
SELECT source, status, cast(count(*) as bigint) AS n
FROM diff GROUP BY source, status
""",
)
def crawl_diff_snapshots(spark, sf_dir):
    """Crawl-snapshot diff (what changed between two crawls of the same
    corpus): two deterministically-derived snapshot views of the doc
    table — md5-bucket membership decides presence per snapshot, a
    third bucket mutates 20% of surviving texts — full-outer-joined on
    url key, each page classified added / removed / changed / same by
    content digest, rolled up per source. The join keys on doc id, so
    at scale both sides shuffle once on the same key (or read
    pre-bucketed snapshots with zero exchange); digests are md5 so the
    oracle replays them bit-exactly."""
    d = load(spark, sf_dir, "documents")
    a_bucket = D.md5_long(F.concat(F.lit("a:"), F.col("doc_id").cast("string"))) % 100
    b_bucket = D.md5_long(F.concat(F.lit("b:"), F.col("doc_id").cast("string"))) % 100
    c_bucket = D.md5_long(F.concat(F.lit("c:"), F.col("doc_id").cast("string"))) % 100
    snap_a = d.filter(a_bucket < 90).select(
        "doc_id", F.col("source").alias("source_a"), F.md5("text").alias("digest_a")
    )
    text_b = F.when(c_bucket < 20, F.concat(F.col("text"), F.lit(" updated"))).otherwise(
        F.col("text")
    )
    snap_b = d.filter(b_bucket < 90).select(
        "doc_id", F.col("source").alias("source_b"), F.md5(text_b).alias("digest_b")
    )
    diff = snap_a.join(snap_b, "doc_id", "full_outer").select(
        F.coalesce("source_a", "source_b").alias("source"),
        F.when(F.col("digest_a").isNull(), F.lit("added"))
        .when(F.col("digest_b").isNull(), F.lit("removed"))
        .when(F.col("digest_a") != F.col("digest_b"), F.lit("changed"))
        .otherwise(F.lit("same"))
        .alias("status"),
    )
    return diff.groupBy("source", "status").agg(F.count(F.lit(1)).alias("n"))



@register(
    "inverted_index_terms",
    """
WITH td AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), td2 AS (SELECT term, doc_id FROM td WHERE term <> '')
SELECT term,
       cast(count(*) as bigint) AS df,
       string_agg(cast(doc_id as varchar), ',' ORDER BY doc_id) AS postings
FROM td2 GROUP BY term
""",
)
def inverted_index_terms(spark, sf_dir):
    """Inverted-index construction (term → sorted postings list), the
    backbone of corpus search and of exact-substring decontamination
    at scale. ONE shuffle: explode feeds groupBy(term) directly and
    collect_set dedupes (doc, term) repeats inside the aggregate — no
    separate distinct exchange on the wider (term, doc) key. Postings
    are order-deterministic (sort_array over the set — never
    collect_list, whose order is partition-dependent), serialized as a
    comma string so the driver hash is representation-stable across
    engines. Per-term postings are the only wide rows; a mega-term at
    100 TB would be capped or block-split (df is the guard input)."""
    d = load(spark, sf_dir, "documents")
    td = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    postings = F.sort_array(F.collect_set("doc_id"))
    return td.groupBy("term").agg(
        F.size(postings).cast("long").alias("df"),
        F.array_join(F.transform(postings, lambda x: x.cast("string")), ",").alias(
            "postings"
        ),
    )



@register(
    "cms_heavy_hitters_terms",
    f"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), t2 AS (SELECT term FROM t WHERE term <> ''),
cells AS (
  SELECT j, {_CMS_CELL} % 1024 AS c
  FROM t2, (VALUES (0),(1),(2)) AS h(j)
), sketch AS (
  SELECT j AS r, c, cast(count(*) as bigint) AS cnt FROM cells GROUP BY j, c
), cand AS (SELECT DISTINCT term FROM t2),
probes AS (
  SELECT term, j AS r, {_CMS_CELL} % 1024 AS c
  FROM cand, (VALUES (0),(1),(2)) AS h(j)
), est AS (
  SELECT term AS item, cast(min(coalesce(cnt, 0)) as bigint) AS est
  FROM probes LEFT JOIN sketch USING (r, c)
  GROUP BY term
)
SELECT item, est FROM est WHERE est >= 100
""",
)
def cms_heavy_hitters_terms(spark, sf_dir):
    """Count-min-sketch heavy hitters over the token stream
    (operators/sketch.py): the sketch is ONE aggregate with ≤ 3×1024
    output rows no matter how large the vocabulary — the fixed-size
    frequency summary a 100 TB corpus needs when a full per-term
    groupBy is too wide. Estimates are integer mins over integer sums
    (never an underestimate), so the DuckDB replay is bit-exact."""
    from gipspark.operators.sketch import cms_heavy_hitters

    d = load(spark, sf_dir, "documents")
    terms = d.select(F.explode(T.tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    return cms_heavy_hitters(terms, "term", threshold=100)



@register(
    "pii_scrub_docs",
    f"""
WITH aug AS (
  SELECT source, {_PII_AUG_SQL} AS t FROM documents
)
SELECT source,
       cast(sum(len(regexp_extract_all(t, '{_PII_EMAIL}'))) as bigint) AS n_emails,
       cast(sum(len(regexp_extract_all(t, '{_PII_IP}'))) as bigint) AS n_ips,
       cast(sum(len(regexp_extract_all(t, '{_PII_PHONE}'))) as bigint) AS n_phones,
       cast(sum(length(t) - length(
         regexp_replace(regexp_replace(regexp_replace(
           t, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_IP}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'))) as bigint) AS delta_chars
FROM aug GROUP BY source
""",
)
def pii_scrub_docs(spark, sf_dir):
    """PII detect + scrub over the corpus (the redaction pass every
    public web-text pipeline runs before training): JVM regexp_count /
    regexp_replace only — no Python in the loop — one narrow map then
    one aggregate per source. delta_chars audits the redaction (chars
    removed net of placeholder inserts), the counts audit detection.
    Patterns live in the RE2∩Java subset so the oracle scans match."""
    docs = load(spark, sf_dir, "documents")
    t = _pii_aug_col()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IP),
            F.lit("<IP>"),
        ),
        F.lit(_PII_PHONE),
        F.lit("<PHONE>"),
    )
    return docs.groupBy("source").agg(
        F.sum(F.regexp_count(t, F.lit(_PII_EMAIL))).cast("long").alias("n_emails"),
        F.sum(F.regexp_count(t, F.lit(_PII_IP))).cast("long").alias("n_ips"),
        F.sum(F.regexp_count(t, F.lit(_PII_PHONE))).cast("long").alias("n_phones"),
        F.sum(F.length(t) - F.length(scrubbed)).cast("long").alias("delta_chars"),
    )



@register(
    "chisq_contrib_lang_source",
    """
WITH obs AS (
  SELECT lang, source, cast(count(*) as bigint) AS o
  FROM documents GROUP BY lang, source
), r AS (SELECT lang, cast(sum(o) as bigint) AS rt FROM obs GROUP BY lang),
c AS (SELECT source, cast(sum(o) as bigint) AS ct FROM obs GROUP BY source),
n AS (SELECT cast(sum(o) as bigint) AS nt FROM obs),
d AS (
  SELECT obs.lang, obs.source, obs.o, r.rt, c.ct,
         cast(obs.o as hugeint) * cast(n.nt as hugeint)
           - cast(r.rt as hugeint) * cast(c.ct as hugeint) AS dev,
         cast(n.nt as hugeint) * cast(r.rt as hugeint) * cast(c.ct as hugeint) AS den_h
  FROM obs JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
)
SELECT lang, source, o, rt, ct,
       cast(dev * dev as double) AS num,
       cast(den_h as double) AS den,
       cast(dev * dev as double) / cast(den_h as double) AS contrib
FROM d
""",
)
def chisq_contrib_lang_source(spark, sf_dir):
    """Chi-square independence contributions for the lang × source
    contingency table: per cell, (O·N − R·C)² / (N·R·C) — algebraically
    (O − E)²/E with E = R·C/N, multiplied through by N so numerator and
    denominator are exact bigints; the per-cell double is one division.
    Emitting contributions per cell (not the order-dependent float
    total) keeps the result hashable; Σ contrib = the χ² statistic.
    Marginals ride as broadcast aggregates — the contingency shuffle
    is the only big-table exchange. The grand total is a 1-row
    broadcast (BroadcastNestedLoopJoin over exactly one build row —
    the same allowlisted shape as morans/tfidf; a literal join key
    constant-folds back to the nested loop, so crossJoin is the honest
    spelling), and dev/num/den live in DECIMAL(38,0) mirrored by DuckDB
    HUGEINT: dev scales ~N² and num ~N⁴, which wraps int64 silently
    past N≈10⁴·(dependence strength) — exact up to N≈2·10⁹ docs in
    128-bit, emitted as doubles (both engines' int→double conversion
    is correctly rounded, so the hash stays exact)."""
    docs = load(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").cast("long").alias("o"))
    r = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    c = obs.groupBy("source").agg(F.sum("o").cast("long").alias("ct"))
    n = obs.agg(F.sum("o").cast("long").alias("nt"))
    j = (
        obs.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
    )
    d38 = "decimal(38,0)"
    o_, nt_, rt_, ct_ = (F.col(x).cast(d38) for x in ("o", "nt", "rt", "ct"))
    dev = (o_ * nt_ - rt_ * ct_).cast(d38)
    num = (dev * dev).cast(d38)
    den = (nt_ * rt_ * ct_).cast(d38)
    return j.select(
        "lang",
        "source",
        "o",
        "rt",
        "ct",
        num.cast("double").alias("num"),
        den.cast("double").alias("den"),
        (num.cast("double") / den.cast("double")).alias("contrib"),
    )



@register(
    "url_canonicalize_docs",
    f"""
WITH raw AS (
  SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents WHERE doc_id < 400
), parts AS (
  SELECT doc_id,
         lower(split_part(url, '://', 1)) AS scheme,
         lower(split_part(split_part(split_part(url, '://', 2), '/', 1), ':', 1)) AS host,
         list_filter(
           regexp_split_to_array(split_part(split_part(url, '?', 1), '://', 2), '/')[2:],
           seg -> seg <> '' AND seg <> '.') AS segs,
         split_part(split_part(url, '?', 2), '#', 1) AS query
  FROM raw
)
SELECT doc_id,
       scheme || '://' || host || '/' || array_to_string(segs, '/') ||
         CASE WHEN query <> '' THEN '?' || array_to_string(list_sort(regexp_split_to_array(query, '&')), '&')
              ELSE '' END AS canon_url
FROM parts
""",
)
def url_canonicalize_docs(spark, sf_dir):
    """URL canonicalization (RFC 3986 normalizations a crawl dedup
    needs): lowercase scheme+host, drop the https default port, remove
    '.' and empty path segments (collapse '//', strip '/./'), sort
    query parameters, strip fragments. One pass of codegen string/array
    ops inside the scan stage — no UDF, no shuffle; at crawl scale this
    runs before the URL-level exact dedup (dedup_exact_docs) so near-
    identical URLs collide. Synthesis plants every obstacle
    deterministically; the oracle replays parse+normalize textually."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    url = F.expr(_MESSY_URL_SQL.replace(" as varchar)", " as string)"))
    raw = d.select("doc_id", url.alias("url"))
    scheme = F.lower(F.split(F.col("url"), "://")[0])
    after_scheme = F.split(F.col("url"), "://")[1]
    authority = F.split(after_scheme, "/")[0]
    host = F.lower(F.split(authority, ":")[0])
    path_q = F.split(F.col("url"), r"\?")
    path_part = F.split(path_q[0], "://")[1]
    segs = F.slice(F.split(path_part, "/"), 2, 1000)
    norm_segs = F.filter(segs, lambda s: (s != "") & (s != "."))
    query = F.split(F.coalesce(F.element_at(path_q, 2), F.lit("")), "#")[0]
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.lit("/"),
        F.concat_ws("/", norm_segs),
        F.when(
            query != "",
            F.concat(F.lit("?"), F.concat_ws("&", F.array_sort(F.split(query, "&")))),
        ).otherwise(F.lit("")),
    )
    return raw.select("doc_id", canon.alias("canon_url"))



@register(
    "crawl_policy_docs",
    f"""
WITH urls AS (
  SELECT doc_id, '/' || lang || '/' ||
         (CASE WHEN doc_id % 4 = 0 THEN 'private' ELSE 'docs' END) ||
         '/doc-' || cast(doc_id as varchar) AS path
  FROM documents
),
rules(prefix, allow) AS (VALUES {_CRAWL_RULES_SQL}),
prefixes AS (
  SELECT doc_id, path,
         array_to_string(regexp_split_to_array(path, '/')[1:d + 1], '/') AS pref
  FROM urls, LATERAL (SELECT unnest([0, 1, 2]) AS d) t
),
matched AS (
  SELECT p.doc_id, p.path, r.prefix, r.allow
  FROM prefixes p JOIN rules r ON r.prefix = p.pref
)
SELECT doc_id, path,
       max(length(prefix)) AS rule_len,
       cast(min(CASE WHEN length(prefix) = m THEN (CASE WHEN allow THEN 1 ELSE 0 END) END) as bigint) AS allow_i
FROM (SELECT *, max(length(prefix)) OVER (PARTITION BY doc_id) AS m FROM matched)
GROUP BY doc_id, path
""",
)
def crawl_policy_docs(spark, sf_dir):
    """robots.txt-style crawl policy join: match every URL path against
    a rule table where the LONGEST matching prefix wins. Longest-prefix
    match as an equi-join: each path explodes its bounded prefix chain
    (depth ≤ 2 segments here; real robots rules are similarly shallow),
    equi-joins the rule dim on the exact prefix, and a per-doc window
    max picks the longest hit — no LIKE scan, no inequality join, so
    the 10^12-row URL side shuffles only its exploded prefixes (a small
    constant factor) against a broadcast-sized rule table."""
    d = load(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("/"),
            F.col("lang"),
            F.lit("/"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("private")).otherwise(F.lit("docs")),
            F.lit("/doc-"),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    )
    rules = spark.createDataFrame(_CRAWL_RULES, "prefix string, allow boolean")
    prefixes = urls.select(
        "doc_id",
        "path",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("d"),
    ).select(
        "doc_id",
        "path",
        F.concat_ws("/", F.slice(F.split(F.col("path"), "/"), 1, F.col("d") + 1)).alias("pref"),
    )
    matched = prefixes.join(
        F.broadcast(rules.withColumnRenamed("prefix", "pref")), "pref"
    ).select("doc_id", "path", F.col("pref").alias("prefix"), "allow")
    w = Window.partitionBy("doc_id")
    flagged = matched.withColumn("m", F.max(F.length("prefix")).over(w))
    return flagged.groupBy("doc_id", "path").agg(
        F.max(F.length("prefix")).alias("rule_len"),
        F.min(
            F.when(
                F.length("prefix") == F.col("m"),
                F.when(F.col("allow"), F.lit(1)).otherwise(F.lit(0)),
            )
        )
        .cast("long")
        .alias("allow_i"),
    )



@register(
    "vocab_coverage_docs",
    """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS n FROM toks GROUP BY tok
), head AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk FROM counts
  ) WHERE rk <= 25
)
SELECT t.doc_id,
       cast(count(*) as bigint) AS n_tokens,
       cast(sum(CASE WHEN h.tok IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_head,
       cast((1000000 * sum(CASE WHEN h.tok IS NOT NULL THEN 1 ELSE 0 END)) // count(*) as bigint)
         AS head_ppm
FROM toks t LEFT JOIN head h ON h.tok = t.tok
GROUP BY t.doc_id
""",
)
def vocab_coverage_docs(spark, sf_dir):
    """Head-vocabulary coverage (a perplexity-proxy quality signal the
    LM-free way): the 25 most frequent corpus terms (deterministic
    tie-break on the term) form the head vocab; each doc reports what
    integer fraction (ppm) of its tokens fall inside it — gibberish and
    non-prose pages score low, boilerplate scores suspiciously high.
    Two passes over the token explode: one map-side-combinable count
    keyed by term, a TakeOrdered top-k (never a full sort), then a
    broadcast semi-probe of the 25-row head into the second pass. All
    integer — ppm via floor division, no float drift."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    head = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(25).select("tok")
    hit = F.when(F.col("h_tok").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    return (
        toks.join(
            F.broadcast(head.select(F.col("tok").alias("h_tok"))),
            toks.tok == F.col("h_tok"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(hit).alias("n_head"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_head",
            F.floor((1000000 * F.col("n_head")) / F.col("n_tokens")).cast("long").alias("head_ppm"),
        )
    )



@register("curation_pipeline_docs", _curation_oracle_sql())
def curation_pipeline_docs(spark, sf_dir):
    """The composed LLM-corpus curation flow, end to end in one plan:
    Gopher repetition gate (scan-stage HOFs) → surface-quality gate
    (same stage) → exact dedup (one digest hash-agg, keep min id) →
    MinHash-LSH near-dup with exact-Jaccard verify (candidate-bounded
    self-join, drop docs with a smaller verified partner) → exact-k
    per-source sample (salted-md5 rank, WindowGroupLimit). Every stage
    is an already-oracled component; what this query proves is the
    COMPOSITION — stage order, survivor flow, and the single plan
    Catalyst builds for it (gates pushed into the scan, one digest
    shuffle, one band shuffle, one sample shuffle)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n_tri = F.size(D.shingles_all(F.col("text"), 3))
    n_uniq = F.size(D.shingles(F.col("text"), 3))
    rep_ppm = F.when(n_tri == 0, F.lit(0).cast("long")).otherwise(
        ((n_tri.cast("long") - n_uniq.cast("long")) * 1000000) / n_tri.cast("long")
    )
    gated = d.filter(
        (F.floor(rep_ppm) <= 50000) & (T.quality_score(F.col("text")) >= _CUR_QUALITY_MIN)
    )
    keep = gated.groupBy(F.md5("text").alias("__dig")).agg(F.min("doc_id").alias("doc_id"))
    surv2 = d.join(keep.select("doc_id"), "doc_id")
    cand = D.minhash_lsh_pairs(surv2, n_hashes=8, bands=4, shingle_n=2).select("id_a", "id_b")
    sh = surv2.select(
        F.col("doc_id").alias("sid"), D.shingles(F.col("text"), 2).alias("sh")
    ).withColumn("sz", F.size("sh"))
    ver = (
        cand.join(
            sh.select(F.col("sid").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("sid").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(2 * F.col("common") >= F.col("sz_a") + F.col("sz_b") - F.col("common"))
    )
    drops = ver.select(F.col("id_b").alias("doc_id")).distinct()
    surv3 = surv2.join(drops, "doc_id", "left_anti").select("doc_id", "source")
    smp = D.md5_long(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(smp.asc(), F.col("doc_id").asc())
    return (
        surv3.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _CUR_SAMPLE_K)
    )



@register(
    "anchor_text_topk",
    f"""
WITH edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
), src AS (
  SELECT doc_id AS src,
         (regexp_split_to_array(lower(trim(text)), '\\s+'))[1:3] AS anchor
  FROM documents
), terms AS (
  SELECT e.dst, unnest(s.anchor) AS term FROM edges e JOIN src s ON s.src = e.src
), counts AS (
  SELECT dst, term, cast(count(*) as bigint) AS n_refs FROM terms GROUP BY dst, term
), r AS (
  SELECT dst, term, n_refs,
         cast(row_number() OVER (PARTITION BY dst ORDER BY n_refs DESC, term ASC) as int) AS rank
  FROM counts
)
SELECT dst, term, n_refs, rank FROM r WHERE rank <= 2
""",
)
def anchor_text_topk(spark, sf_dir):
    """Anchor-text aggregation — the web-search signal: for every link
    target, the top-2 terms of incoming link contexts (first 3 tokens
    of each linking doc, the deterministic anchor stand-in over the
    md5-derived link graph shared with pagerank_doc_links). One
    explode → one hash agg → one window top-k; at corpus scale this is
    the classic one-shuffle postings build (anchor corpus ∝ edges,
    never |docs|²)."""
    n = table_rows(sf_dir, "documents")
    d = load(spark, sf_dir, "documents")
    src = d.select(
        F.col("doc_id").alias("src"), F.slice(T.tokens(F.col("text")), 1, 3).alias("anchor")
    )
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[
                    D.md5_long(F.concat(F.lit(f"e:{j}:"), F.col("doc_id").cast("string"))) % n
                    for j in range(3)
                ]
            )
        ).alias("dst"),
    )
    counts = (
        edges.join(src, "src")
        .select("dst", F.explode("anchor").alias("term"))
        .groupBy("dst", "term")
        .agg(F.count("*").cast("long").alias("n_refs"))
    )
    w = Window.partitionBy("dst").orderBy(F.col("n_refs").desc(), F.col("term").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("dst", "term", "n_refs", "rank")
    )



@register(
    "pmi_collocations_docs",
    r"""
WITH t AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents
), uf AS (
  SELECT w FROM (SELECT unnest(toks) AS w FROM t)
  WHERE regexp_full_match(w, '[a-z]{3,}')
), cx AS (
  SELECT w, cast(count(*) as bigint) AS c FROM uf GROUP BY w
), nt AS (SELECT cast(count(*) as bigint) AS n FROM uf),
raw AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
  FROM t WHERE len(toks) >= 2
), bf AS (
  SELECT s.w1 AS w1, s.w2 AS w2 FROM raw
  WHERE regexp_full_match(s.w1, '[a-z]{3,}') AND regexp_full_match(s.w2, '[a-z]{3,}')
), cxy AS (
  SELECT w1, w2, cast(count(*) as bigint) AS c_xy FROM bf GROUP BY w1, w2
)
SELECT w1, w2, c_xy, c1, c2, pmi_ratio FROM (
  SELECT cxy.w1, cxy.w2, cxy.c_xy, a.c AS c1, b.c AS c2,
         cast(cxy.c_xy as double) * cast(nt.n as double)
           / cast(a.c as double) / cast(b.c as double) AS pmi_ratio
  FROM cxy JOIN cx a ON cxy.w1 = a.w JOIN cx b ON cxy.w2 = b.w, nt
  WHERE cxy.c_xy >= 3
)
ORDER BY pmi_ratio DESC, w1, w2 LIMIT 100
""",
)
def pmi_collocations_docs(spark, sf_dir):
    """PMI-ranked bigram collocations over the corpus — the phrase
    detector an LLM-data pipeline runs before vocabulary / tokenizer
    decisions (word2vec-style phrase merging). Bigrams are adjacent
    token pairs built JVM-side with transform(sequence(...)) over the
    token array (no explode-then-self-join, no Python), unigram and
    bigram counts are two hash aggregates, and the vocabulary joins are
    plain equi-joins on the word (the vocab of a 10^12-token corpus is
    ~10^8 rows — too big to broadcast, fine to shuffle). The corpus
    total rides as a 1-row broadcast. Ranking is by the exact rational
    c_xy·N/(c_x·c_y) — PMI without the log, order-preserving since log
    is monotone, computed as doubles from exact integers in the same
    textual order both engines; global top-100 with full deterministic
    tie-breaks plans as TakeOrderedAndProject (no full sort)."""
    d = load(spark, sf_dir, "documents")
    t = d.select(T.tokens(F.col("text")).alias("toks"))
    uf = t.select(F.explode("toks").alias("w")).filter(F.col("w").rlike("^[a-z]{3,}$"))
    cx = uf.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    nt = uf.agg(F.count("*").cast("long").alias("n"))
    bf = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] as w1, toks[i + 1] as w2))"
                )
            ).alias("s")
        )
        .select("s.w1", "s.w2")
        .filter(F.col("w1").rlike("^[a-z]{3,}$") & F.col("w2").rlike("^[a-z]{3,}$"))
    )
    cxy = (
        bf.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= 3)
    )
    scored = (
        cxy.join(cx.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(cx.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1", "w2", "c_xy", "c1", "c2",
            (
                F.col("c_xy").cast("double") * F.col("n").cast("double")
                / F.col("c1").cast("double") / F.col("c2").cast("double")
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.col("pmi_ratio").desc(), "w1", "w2").limit(100)



@register(
    "cooccurrence_pairs_docs",
    rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
), dt AS (
  SELECT DISTINCT doc_id, w FROM toks WHERE regexp_full_match(w, '[a-z]{{3,}}')
), capped AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY w) AS rn FROM dt
  ) WHERE rn <= {_COOC_CAP}
), pairs AS (
  SELECT a.w AS w1, b.w AS w2
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.w < b.w
)
SELECT w1, w2, support FROM (
  SELECT w1, w2, cast(count(*) as bigint) AS support FROM pairs GROUP BY w1, w2
) WHERE support >= 3
ORDER BY support DESC, w1, w2 LIMIT 100
""",
)
def cooccurrence_pairs_docs(spark, sf_dir):
    """Document-level term co-occurrence support counts — the
    market-basket / co-occurrence-graph builder (word2vec doc-window,
    topic pre-pass) that complements pmi_collocations_docs' ADJACENCY
    pairs with BAG pairs. The quadratic step is bounded BEFORE the
    self-join, per house rule: each doc's distinct filtered terms are
    capped to the first {_COOC_CAP} (alphabetical — deterministic, and
    WindowGroupLimit pushes the cap into the sort), so the within-doc
    equi-join emits ≤ C({_COOC_CAP},2)=66 pairs per doc — linear in the
    corpus, never |vocab|². Support counting is one hash agg; the
    global top-100 with full tie-breaks plans as TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{3,}$"))
        .distinct()
    )
    wcap = Window.partitionBy("doc_id").orderBy("w")
    capped = (
        dt.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _COOC_CAP)
        .select("doc_id", "w")
    )
    a = capped.select("doc_id", F.col("w").alias("w1"))
    b = capped.select("doc_id", F.col("w").alias("w2"))
    pairs = a.join(b, "doc_id").filter(F.col("w1") < F.col("w2"))
    sup = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 3)
    )
    return sup.orderBy(F.col("support").desc(), "w1", "w2").limit(100)



@register(
    "url_templates_hosts",
    f"""
WITH urls AS (
  SELECT concat(source, '.example.com') AS host,
         concat('/', lang, '/', cast(doc_id % 13 as varchar), '/doc-',
                cast(doc_id as varchar)) AS path
  FROM documents
), tpl AS (
  SELECT host, regexp_replace(path, '[0-9]+', '{{n}}', 'g') AS template
  FROM urls
), counts AS (
  SELECT host, template, cast(count(*) as bigint) AS n_urls
  FROM tpl GROUP BY host, template
)
SELECT host, template, n_urls, rnk FROM (
  SELECT host, template, n_urls,
         cast(row_number() OVER (PARTITION BY host ORDER BY n_urls DESC, template) as int) AS rnk
  FROM counts
) WHERE rnk <= 3
""",
)
def url_templates_hosts(spark, sf_dir):
    """URL path-template mining per host — collapse numeric segments to
    '{{n}}' and rank the top templates, the crawl-frontier heuristic
    that finds pagination/ID patterns so a crawler caps per-template
    fetch budgets. One codegen regexp inside the scan stage, one hash
    agg, WindowGroupLimit top-3 per host — no Python, one shuffle on
    (host, template) plus the tiny per-host window."""
    d = load(spark, sf_dir, "documents")
    tpl = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.regexp_replace(
            F.concat(
                F.lit("/"), F.col("lang"), F.lit("/"),
                (F.col("doc_id") % 13).cast("string"), F.lit("/doc-"),
                F.col("doc_id").cast("string"),
            ),
            "[0-9]+",
            "{n}",
        ).alias("template"),
    )
    counts = tpl.groupBy("host", "template").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
    w = Window.partitionBy("host").orderBy(F.col("n_urls").desc(), "template")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("host", "template", "n_urls", "rnk")
    )



@register(
    "readability_docs",
    r"""
WITH m AS (
  SELECT doc_id,
         cast(len(regexp_split_to_array(lower(trim(text)), '\s+')) as bigint) AS words,
         cast(greatest(1, length(regexp_replace(text, '[^.!?]', '', 'g'))) as bigint) AS sentences,
         cast(len(regexp_extract_all(lower(text), '[aeiou]+')) as bigint) AS vowel_groups
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id, words, sentences, vowel_groups,
       206.835 - 1.015 * (cast(words as double) / cast(sentences as double))
               - 84.6 * (cast(vowel_groups as double) / cast(words as double)) AS flesch
FROM m WHERE words >= 1
""",
)
def readability_docs(spark, sf_dir):
    """Flesch reading-ease per document — the readability gate an LLM
    corpus-quality pipeline runs next to the Gopher rules: words =
    whitespace tokens (the module's token convention), sentences =
    terminal-punctuation count (floored at 1), syllables approximated
    by vowel groups (the standard regex heuristic). All three counts
    are exact integers from codegen regexps inside the scan stage (no
    shuffle at all — a pure narrow projection); the score is doubles
    over exact ints in one fixed textual order both engines."""
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    m = d.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).cast("long").alias("words"),
        F.greatest(
            F.lit(1),
            F.length(F.regexp_replace(F.col("text"), "[^.!?]", "")),
        ).cast("long").alias("sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiou]+")).cast("long").alias("vowel_groups"),
    )
    return m.filter(F.col("words") >= 1).select(
        "doc_id", "words", "sentences", "vowel_groups",
        (
            F.lit(206.835)
            - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences").cast("double"))
            - F.lit(84.6) * (F.col("vowel_groups").cast("double") / F.col("words").cast("double"))
        ).alias("flesch"),
    )



@register(
    "winnowing_docs",
    # winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS fingerprint):
    # in every window of W consecutive k-gram hashes select the min,
    # RIGHTMOST on ties — encoded as min(h*P + (P-1-pos)) so one
    # bigint min() is the whole selection rule in both engines.
    f"""
WITH toks AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)), i -> {{'pos': i, 'g': arr[i]}})) AS u
  FROM (SELECT doc_id, {D.shingles_all_sql('text', _WIN_K)} AS arr FROM documents)
), seq AS (
  SELECT doc_id, u.pos AS pos,
         ({D.MD5_LONG_SQL.format(x='u.g')}) % {_WIN_H} AS h
  FROM toks
), c AS (
  SELECT doc_id, pos, h * {_WIN_P} + ({_WIN_P - 1} - pos) AS cval FROM seq
), w AS (
  SELECT doc_id, pos,
         min(cval) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS m
  FROM c
), fw AS (SELECT doc_id, m FROM w WHERE pos >= {_WIN_W}),
a1 AS (SELECT doc_id, cast(count(*) as bigint) AS n_grams FROM seq GROUP BY doc_id),
a2 AS (
  SELECT doc_id, cast(count(*) as bigint) AS n_windows,
         cast(count(DISTINCT m) as bigint) AS n_selected,
         cast(sum(DISTINCT m) as bigint) AS fp_checksum
  FROM fw GROUP BY doc_id
)
SELECT a1.doc_id, n_grams, n_windows, n_selected, fp_checksum,
       cast(n_selected as double) / cast(n_windows as double) AS density
FROM a1 JOIN a2 ON a2.doc_id = a1.doc_id
""",
)
def winnowing_docs(spark, sf_dir):
    """Winnowing document fingerprints (the MOSS algorithm): per doc,
    the positional k-gram hashes selected by the min-per-window rule —
    the local selection that GUARANTEES any shared substring of
    ≥ W+K−1 tokens contributes a shared fingerprint while keeping the
    stored set ~2/(W+1) of all grams. This is the fingerprint a
    plagiarism/overlap index stores instead of every shingle; the repo's
    rolling_fingerprint is the per-doc digest, this is the per-position
    selective one.

    Scale shape: tokens never leave the JVM — k-grams via HOFs in the
    scan stage, md5-derived hashes, ONE doc_id shuffle shared by the
    selection window and both aggregates; output is 4 ints + 1 double
    per doc. The rightmost-on-ties rule rides inside a single bigint
    min() (h·P + (P−1−pos)), so selection is whole-stage-codegen, not
    a UDF. Docs shorter than W+K−1 tokens have no full window and drop
    out on both engines."""
    d = load(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.posexplode(D.shingles_all(F.col("text"), _WIN_K)).alias("pos0", "g"),
    )
    seq = g.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (D.md5_long(F.col("g")) % F.lit(_WIN_H)).alias("h"),
    )
    c = seq.select(
        "doc_id",
        "pos",
        (F.col("h") * F.lit(_WIN_P) + (F.lit(_WIN_P - 1) - F.col("pos"))).alias("cval"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(_WIN_W - 1), 0)
    fw = (
        c.withColumn("m", F.min("cval").over(win))
        .filter(F.col("pos") >= _WIN_W)
        .select("doc_id", "m")
    )
    a1 = seq.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    a2 = fw.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.count_distinct("m").cast("long").alias("n_selected"),
        F.sum_distinct(F.col("m")).cast("long").alias("fp_checksum"),
    )
    return a1.join(a2, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_windows",
        "n_selected",
        "fp_checksum",
        (F.col("n_selected").cast("double") / F.col("n_windows").cast("double")).alias(
            "density"
        ),
    )



@register(
    "blocklist_match_docs",
    # substring occurrence counting via the length-difference identity
    # (len(s) − len(replace(s, t, ''))) / len(t) — exact integer, no
    # regex engine parity risk, pure codegen in the scan stage.
    f"""
WITH m AS (
  SELECT doc_id,
         {", ".join(f"cast((len(text) - len(replace(text, '{t}', ''))) as bigint) // {len(t)} AS m{i}" for i, t in enumerate(_BLOCK_TERMS))}
  FROM documents
)
SELECT doc_id,
       cast({" + ".join(f"m{i}" for i in range(len(_BLOCK_TERMS)))} as bigint) AS total_matches,
       cast({" + ".join(f"(CASE WHEN m{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(_BLOCK_TERMS)))} as bigint) AS n_terms_matched,
       cast(greatest({", ".join(f"m{i}" for i in range(len(_BLOCK_TERMS)))}) as bigint) AS max_single,
       cast(CASE WHEN {" + ".join(f"m{i}" for i in range(len(_BLOCK_TERMS)))} >= {_BLOCK_THRESHOLD} THEN 1 ELSE 0 END as bigint) AS blocked
FROM m
""",
)
def blocklist_match_docs(spark, sf_dir):
    """Blocklist term matching over the corpus — the spam/NSFW/boiler-
    plate gate every web-text curation pipeline runs before anything
    expensive: per doc, occurrence counts for a frozen term list, how
    many distinct terms hit, the hottest single term count, and the
    block decision. Occurrences are counted by the length-difference
    identity (no regex engine, no per-row Python): exact integers,
    identical semantics in both engines.

    Scale shape: pure narrow — one projection in the scan stage, all
    whole-stage codegen, zero shuffles; the term list is a compile-time
    literal (at a real 100 TB run the list is small enough to render
    into the plan the same way). Overlapping occurrences follow
    replace() semantics (non-overlapping, left-to-right) on both
    engines by construction."""
    d = load(spark, sf_dir, "documents")
    ms = [
        F.expr(
            f"CAST((length(text) - length(replace(text, '{t}', ''))) DIV {len(t)} AS BIGINT)"
        ).alias(f"m{i}")
        for i, t in enumerate(_BLOCK_TERMS)
    ]
    m = d.select("doc_id", *ms)
    total = sum(F.col(f"m{i}") for i in range(len(_BLOCK_TERMS)))
    nterms = sum(
        F.when(F.col(f"m{i}") > 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(len(_BLOCK_TERMS))
    )
    return m.select(
        "doc_id",
        total.cast("long").alias("total_matches"),
        nterms.cast("long").alias("n_terms_matched"),
        F.greatest(*[F.col(f"m{i}") for i in range(len(_BLOCK_TERMS))]).cast("long").alias("max_single"),
        F.when(total >= F.lit(_BLOCK_THRESHOLD), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("blocked"),
    )



@register(
    "langid_eval_classes",
    # per-class precision/recall/F1 of the heuristic lang-id against
    # the gold lang column. f1 = 2·tp/(support + predicted) — one exact
    # division instead of the p→r→f1 double chain.
    f"""
WITH {_LANGID_CM_SQL},
rows_t AS (SELECT gold, cast(sum(n) as bigint) AS support FROM cm GROUP BY gold),
cols_t AS (SELECT pred, cast(sum(n) as bigint) AS predicted FROM cm GROUP BY pred),
tp AS (SELECT gold, cast(sum(n) as bigint) AS tp FROM cm WHERE gold = pred GROUP BY gold)
SELECT r.gold AS lang, r.support,
       coalesce(c.predicted, 0) AS predicted,
       coalesce(tp.tp, 0) AS tp,
       CASE WHEN coalesce(c.predicted, 0) = 0 THEN 0.0
            ELSE cast(coalesce(tp.tp, 0) as double) / cast(c.predicted as double) END AS precision_,
       cast(coalesce(tp.tp, 0) as double) / cast(r.support as double) AS recall_,
       cast(2 * coalesce(tp.tp, 0) as double)
         / cast(r.support + coalesce(c.predicted, 0) as double) AS f1
FROM rows_t r
LEFT JOIN cols_t c ON c.pred = r.gold
LEFT JOIN tp ON tp.gold = r.gold
""",
)
def langid_eval_classes(spark, sf_dir):
    """Per-class evaluation of the heuristic n-gram language identifier
    (functions/text.lang_id) against the gold ``lang`` column — the
    classifier-quality report a curation pipeline checks before trusting
    a lang filter at 100 TB: support, predicted count, true positives,
    precision, recall, F1 per language. F1 uses the 2·tp/(support +
    predicted) identity so it is ONE exact division; tp/support/predicted
    stay bigints.

    Scale shape: the only corpus-scale work is the (gold, pred)
    confusion hash-agg (classifier runs as codegen HOFs in the scan
    stage); everything after is class-cardinality joins."""
    d = load(spark, sf_dir, "documents")
    cm = d.groupBy(
        F.col("lang").alias("gold"), T.lang_id(F.col("text")).alias("pred")
    ).agg(F.count("*").cast("long").alias("n"))
    rows_t = cm.groupBy("gold").agg(F.sum("n").cast("long").alias("support"))
    cols_t = cm.groupBy(F.col("pred")).agg(F.sum("n").cast("long").alias("predicted"))
    tp = (
        cm.filter(F.col("gold") == F.col("pred"))
        .groupBy("gold")
        .agg(F.sum("n").cast("long").alias("tp"))
    )
    out = (
        rows_t.join(cols_t, rows_t["gold"] == cols_t["pred"], "left")
        .join(tp, "gold", "left")
        .select(
            F.col("gold").alias("lang"),
            "support",
            F.coalesce(F.col("predicted"), F.lit(0)).alias("predicted"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    return out.select(
        "lang",
        "support",
        "predicted",
        "tp",
        F.when(F.col("predicted") == 0, F.lit(0.0))
        .otherwise(F.col("tp").cast("double") / F.col("predicted").cast("double"))
        .alias("precision_"),
        (F.col("tp").cast("double") / F.col("support").cast("double")).alias("recall_"),
        (
            (2 * F.col("tp")).cast("double")
            / (F.col("support") + F.col("predicted")).cast("double")
        ).alias("f1"),
    )



@register(
    "kappa_langid_docs",
    # Cohen's kappa as ONE exact rational: (N·agree − Σ row·col) /
    # (N² − Σ row·col) — numerator and denominator bigints, kappa the
    # only double.
    f"""
WITH {_LANGID_CM_SQL},
rows_t AS (SELECT gold AS cls, cast(sum(n) as bigint) AS rn FROM cm GROUP BY gold),
cols_t AS (SELECT pred AS cls, cast(sum(n) as bigint) AS cn FROM cm GROUP BY pred),
j AS (
  SELECT coalesce(r.rn, 0) * coalesce(c.cn, 0) AS rc
  FROM rows_t r FULL OUTER JOIN cols_t c USING (cls)
),
s AS (
  SELECT (SELECT cast(sum(n) as bigint) FROM cm) AS n_docs,
         (SELECT cast(coalesce(sum(n), 0) as bigint) FROM cm WHERE gold = pred) AS agree,
         cast(sum(rc) as bigint) AS chance
  FROM j
)
SELECT n_docs, agree, chance,
       cast(n_docs * agree - chance as double) / cast(n_docs * n_docs - chance as double) AS kappa
FROM s
""",
)
def kappa_langid_docs(spark, sf_dir):
    """Cohen's kappa between the heuristic language identifier and the
    gold lang column — chance-corrected agreement, the single number
    that says whether the lang filter beats guessing the majority
    class. Rearranged to the exact rational (N·agree − Σ_c row_c·col_c)
    / (N² − Σ_c row_c·col_c) so both moments are bigints and kappa is
    the only double; marginals meet in a class-cardinality full-outer
    join (pred-only classes like 'und' contribute zero because their
    gold marginal is zero).

    Scale shape: one confusion hash-agg over the corpus, then
    class-cardinality arithmetic."""
    d = load(spark, sf_dir, "documents")
    cm = d.groupBy(
        F.col("lang").alias("gold"), T.lang_id(F.col("text")).alias("pred")
    ).agg(F.count("*").cast("long").alias("n"))
    rows_t = cm.groupBy(F.col("gold").alias("cls")).agg(F.sum("n").cast("long").alias("rn"))
    cols_t = cm.groupBy(F.col("pred").alias("cls")).agg(F.sum("n").cast("long").alias("cn"))
    j = rows_t.join(cols_t, "cls", "full_outer").select(
        (F.coalesce(F.col("rn"), F.lit(0)) * F.coalesce(F.col("cn"), F.lit(0))).alias("rc")
    )
    tot = cm.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.when(F.col("gold") == F.col("pred"), F.col("n"))), F.lit(0))
        .cast("long")
        .alias("agree"),
    )
    ch = j.agg(F.sum("rc").cast("long").alias("chance"))
    s = (
        tot.withColumn("__k", F.lit(1))
        .join(F.broadcast(ch.withColumn("__k", F.lit(1))), "__k")
        .drop("__k")
    )
    return s.select(
        "n_docs",
        "agree",
        "chance",
        (
            (F.col("n_docs") * F.col("agree") - F.col("chance")).cast("double")
            / (F.col("n_docs") * F.col("n_docs") - F.col("chance")).cast("double")
        ).alias("kappa"),
    )



@register(
    "wilson_host_ranking",
    f"""
WITH h AS (
  SELECT source AS host,
         cast(count(*) as bigint) AS n_docs,
         cast(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) as bigint) AS n_good
  FROM documents GROUP BY source
), w AS (
  SELECT host, n_docs, n_good,
         cast(n_good as double) AS s_d, cast(n_docs as double) AS n_d
  FROM h
), scored AS (
  SELECT host, n_docs, n_good, {_WILSON_EXPR} AS wilson_lb FROM w
)
SELECT host, n_docs, n_good, wilson_lb,
       cast(row_number() OVER (ORDER BY wilson_lb DESC, host ASC) as int) AS rank
FROM scored
""",
)
def wilson_host_ranking(spark, sf_dir):
    """Host quality ranking by the Wilson score lower bound (z=1.96) on
    the per-host good-doc rate (n_chars ≥ 300) — the right way to rank
    hosts with wildly different doc counts: a 3/3 host must NOT outrank
    a 180/200 one, which raw rates do and the Wilson bound doesn't.
    This is the crawl-prioritization score a frontier feeds back into
    politeness budgets. The formula is rendered once as a Python string
    and spliced into BOTH plans (the benford literal-sharing
    discipline), so every IEEE op — including the correctly-rounded
    sqrt — executes in the same textual order.

    Scale shape: one host-key hash-agg over the corpus (map-side
    combinable, key domain = host count), then scoring and ranking on
    the host-cardinality table (the unpartitioned ranking window is
    bounded by the domain count, not the doc count)."""
    d = load(spark, sf_dir, "documents")
    h = d.groupBy(F.col("source").alias("host")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0)).cast("long").alias("n_good"),
    )
    w = h.select(
        "host",
        "n_docs",
        "n_good",
        F.col("n_good").cast("double").alias("s_d"),
        F.col("n_docs").cast("double").alias("n_d"),
    )
    scored = w.select("host", "n_docs", "n_good", F.expr(_WILSON_EXPR).alias("wilson_lb"))
    return scored.select(
        "host",
        "n_docs",
        "n_good",
        "wilson_lb",
        F.row_number()
        .over(Window.orderBy(F.col("wilson_lb").desc(), F.col("host").asc()))
        .cast("int")
        .alias("rank"),
    )



@register(
    "lexical_stats_docs",
    # lexical-diversity quality features: type-token ratio, hapax
    # fraction, mean word length — all from one explode + per-doc aggs,
    # exact integers with the ratios as single divisions.
    """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), wf AS (
  SELECT doc_id, w, cast(count(*) as bigint) AS c FROM toks GROUP BY doc_id, w
), agg AS (
  SELECT doc_id,
         cast(sum(c) as bigint) AS n_tokens,
         cast(count(*) as bigint) AS n_types,
         cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) as bigint) AS n_hapax,
         cast(sum(cast(len(w) as bigint) * c) as bigint) AS sum_wlen
  FROM wf GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       cast(n_types as double) / cast(n_tokens as double) AS ttr,
       cast(n_hapax as double) / cast(n_types as double) AS hapax_frac,
       cast(sum_wlen as double) / cast(n_tokens as double) AS mean_wlen
FROM agg
""",
)
def lexical_stats_docs(spark, sf_dir):
    """Lexical-diversity statistics per document — the vocabulary-side
    quality features (type-token ratio, hapax fraction, mean word
    length) that complement the surface features in quality_score and
    the repetition gate: machine-generated or boilerplate text shows
    abnormally low TTR and hapax fraction at normal lengths. Counts
    stay exact bigints; each ratio is one division.

    Scale shape: one tokenize-explode (JVM regexp in the scan stage) →
    one (doc, word) hash-agg → one doc hash-agg, both map-side
    combinable; one doc_id-keyed shuffle total, output one row per
    doc."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    wf = toks.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("c"))
    agg = wf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.sum(F.length("w").cast("long") * F.col("c")).cast("long").alias("sum_wlen"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        (F.col("n_types").cast("double") / F.col("n_tokens").cast("double")).alias("ttr"),
        (F.col("n_hapax").cast("double") / F.col("n_types").cast("double")).alias("hapax_frac"),
        (F.col("sum_wlen").cast("double") / F.col("n_tokens").cast("double")).alias("mean_wlen"),
    )



@register(
    "table_fingerprint_diff",
    # order-independent table fingerprints: additive md5 checksum per
    # snapshot in DECIMAL(38,0)/HUGEINT (sums commute, so the
    # fingerprint is partition-order-proof), equality iff the content
    # digests match — the reconcile-without-moving-rows primitive.
    f"""
WITH snap_a AS (
  SELECT doc_id, md5(text) AS digest FROM documents
  WHERE {D.MD5_LONG_SQL.format(x="concat('a:', cast(doc_id as varchar))")} % 100 < 90
), snap_b AS (
  SELECT doc_id,
         md5(CASE WHEN {D.MD5_LONG_SQL.format(x="concat('c:', cast(doc_id as varchar))")} % 100 < 20
                  THEN concat(text, ' updated') ELSE text END) AS digest
  FROM documents
  WHERE {D.MD5_LONG_SQL.format(x="concat('b:', cast(doc_id as varchar))")} % 100 < 90
), fa AS (
  SELECT cast(count(*) as bigint) AS n_rows,
         cast(sum(cast({D.MD5_LONG_SQL.format(x="concat(cast(doc_id as varchar), ':', digest)")} as hugeint)) as double) AS checksum
  FROM snap_a
), fb AS (
  SELECT cast(count(*) as bigint) AS n_rows,
         cast(sum(cast({D.MD5_LONG_SQL.format(x="concat(cast(doc_id as varchar), ':', digest)")} as hugeint)) as double) AS checksum
  FROM snap_b
)
SELECT fa.n_rows AS rows_a, fb.n_rows AS rows_b,
       fa.checksum AS checksum_a, fb.checksum AS checksum_b,
       cast(CASE WHEN fa.n_rows = fb.n_rows AND fa.checksum = fb.checksum THEN 1 ELSE 0 END as bigint) AS identical
FROM fa, fb
""",
)
def table_fingerprint_diff(spark, sf_dir):
    """Order-independent table fingerprints for snapshot reconciliation
    — the 100 TB way to answer "are these two copies identical?"
    without shipping a single row: each snapshot folds to (row count,
    additive md5 checksum). Addition commutes, so the fingerprint is
    identical under any partitioning; the per-row hash covers the key
    AND the content digest, so a changed text or a dropped row flips
    the checksum. Sums ride in DECIMAL(38,0)/HUGEINT (500 rows ×
    ~2^60 already exceeds int64 — the chisq wrap lesson). Snapshots
    reuse the crawl_diff fixtures; crawl_diff tells you WHICH rows
    differ, this tells you WHETHER, at a millionth of the cost.

    Scale shape: two narrow scans, each collapsing to ONE row before
    anything moves; the final combine is a 1-row × 1-row join."""
    d = load(spark, sf_dir, "documents")
    dec = "decimal(38,0)"

    def snap(tag_keep, tag_mut=None):
        df = d.filter(D.md5_long(F.concat(F.lit(f"{tag_keep}:"), F.col("doc_id").cast("string"))) % 100 < 90)
        if tag_mut:
            digest = F.md5(
                F.when(
                    D.md5_long(F.concat(F.lit(f"{tag_mut}:"), F.col("doc_id").cast("string"))) % 100 < 20,
                    F.concat(F.col("text"), F.lit(" updated")),
                ).otherwise(F.col("text"))
            )
        else:
            digest = F.md5(F.col("text"))
        rowh = D.md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":"), digest))
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(rowh.cast(dec)).cast("double").alias("checksum"),
        )

    fa = snap("a")
    fb = snap("b", "c")
    out = (
        fa.select(F.col("n_rows").alias("rows_a"), F.col("checksum").alias("checksum_a"))
        .withColumn("__k", F.lit(1))
        .join(
            F.broadcast(
                fb.select(
                    F.col("n_rows").alias("rows_b"), F.col("checksum").alias("checksum_b")
                ).withColumn("__k", F.lit(1))
            ),
            "__k",
        )
        .drop("__k")
    )
    return out.select(
        "rows_a",
        "rows_b",
        "checksum_a",
        "checksum_b",
        F.when(
            (F.col("rows_a") == F.col("rows_b")) & (F.col("checksum_a") == F.col("checksum_b")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("identical"),
    )



@register(
    "url_param_mining",
    # query-string parameter mining over the messy URL corpus: per
    # param key, frequency / distinct values / tracking-param flag —
    # the crawl-frontier signal for which params to strip (session ids,
    # utm_*) vs keep (pagination) during URL canonicalization.
    f"""
WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
q AS (
  SELECT doc_id,
         split_part(split_part(url, '?', 2), '#', 1) AS qs
  FROM raw
), kv AS (
  SELECT doc_id, unnest(string_split(qs, '&')) AS p FROM q WHERE qs <> ''
), parsed AS (
  SELECT doc_id, split_part(p, '=', 1) AS pkey, split_part(p, '=', 2) AS pval FROM kv
)
SELECT pkey,
       cast(count(*) as bigint) AS n_occurrences,
       cast(count(DISTINCT doc_id) as bigint) AS n_urls,
       cast(count(DISTINCT pval) as bigint) AS n_values,
       cast(CASE WHEN pkey LIKE 'utm_%' OR pkey IN ('sid', 'sessionid', 'fbclid') THEN 1 ELSE 0 END as bigint) AS is_tracking
FROM parsed GROUP BY pkey
""",
)
def url_param_mining(spark, sf_dir):
    """Query-string parameter mining over the messy URL corpus — the
    crawl-side analysis that decides which params URL canonicalization
    may strip: per key, occurrences, URL coverage, value cardinality
    (a near-unique value set means a session id; a tiny one means
    pagination), and the static tracking-param flag. Pure codegen
    string splits in the scan stage plus one param-key hash-agg — key
    domain bounded by the site's parameter vocabulary, not its page
    count."""
    d = load(spark, sf_dir, "documents")
    url = F.expr(_MESSY_URL_SQL.replace(" as varchar)", " as string)"))
    q = d.select(
        "doc_id",
        F.split_part(F.split_part(url, F.lit("?"), F.lit(2)), F.lit("#"), F.lit(1)).alias("qs"),
    )
    kv = q.filter(F.col("qs") != "").select(
        "doc_id", F.explode(F.split(F.col("qs"), "&")).alias("p")
    )
    parsed = kv.select(
        "doc_id",
        F.split_part(F.col("p"), F.lit("="), F.lit(1)).alias("pkey"),
        F.split_part(F.col("p"), F.lit("="), F.lit(2)).alias("pval"),
    )
    return parsed.groupBy("pkey").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_urls"),
        F.countDistinct("pval").cast("long").alias("n_values"),
        F.when(
            F.col("pkey").startswith("utm_") | F.col("pkey").isin("sid", "sessionid", "fbclid"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_tracking"),
    )



@register(
    "spearman_tokens_chars",
    f"""
WITH m AS (
  SELECT source, cast(n_chars as bigint) AS x,
         cast({T.TOKEN_COUNT_SQL.format(t='text')} as bigint) AS y
  FROM documents
), rk AS (
  SELECT source,
         2 * rank() OVER (PARTITION BY source ORDER BY x)
           + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
         2 * rank() OVER (PARTITION BY source ORDER BY y)
           + count(*) OVER (PARTITION BY source, y) - 1 AS ry
  FROM m
), st AS (
  SELECT source,
         cast(count(*) as DECIMAL(38,0)) AS n,
         cast(sum(rx) as DECIMAL(38,0)) AS sx,
         cast(sum(ry) as DECIMAL(38,0)) AS sy,
         cast(sum(cast(rx as DECIMAL(38,0)) * rx) as DECIMAL(38,0)) AS sxx,
         cast(sum(cast(ry as DECIMAL(38,0)) * ry) as DECIMAL(38,0)) AS syy,
         cast(sum(cast(rx as DECIMAL(38,0)) * ry) as DECIMAL(38,0)) AS sxy
  FROM rk GROUP BY source
)
SELECT source,
       cast(n as bigint) AS n_docs,
       cast(n * sxy - sx * sy as double) AS num,
       cast(n * sxx - sx * sx as double) AS vx,
       cast(n * syy - sy * sy as double) AS vy,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
            ELSE cast(n * sxy - sx * sy as double)
                 / sqrt(cast(n * sxx - sx * sx as double))
                 / sqrt(cast(n * syy - sy * sy as double)) END AS rho
FROM st ORDER BY source
""",
)
def spearman_tokens_chars(spark, sf_dir):
    """Per-source Spearman rank correlation between document length
    (n_chars) and whitespace token count — the monotone-association
    screen a curation pipeline runs before trusting one as a proxy for
    the other. Ties use the standard average-rank convention kept
    EXACT as integers: 2*avg_rank = 2*min_rank + tie_count - 1 (rank()
    is the min rank of a tie group in both engines), so the Pearson
    sufficient statistics over doubled ranks are exact DECIMAL(38,0)
    (the chisq overflow lesson: 2*avg_rank is ~2n and its squared sums
    pass int64 near 1e9 docs/source). rho is the only double, computed
    from the exact moments in the same textual order as the oracle.
    Scale shape: two window ranks partitioned by source + one hash
    agg — no self-join, no driver collect."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        T.token_count(F.col("text")).cast("long").alias("y"),
    )
    wx = Window.partitionBy("source").orderBy("x")
    wxt = Window.partitionBy("source", "x")
    wy = Window.partitionBy("source").orderBy("y")
    wyt = Window.partitionBy("source", "y")
    rk = m.select(
        "source",
        (F.lit(2) * F.rank().over(wx) + F.count("*").over(wxt) - F.lit(1)).alias("rx"),
        (F.lit(2) * F.rank().over(wy) + F.count("*").over(wyt) - F.lit(1)).alias("ry"),
    )
    st = rk.groupBy("source").agg(
        F.count("*").cast(dec).alias("n"),
        # sum the doubled ranks AS decimal — rx/ry are ~2n each, so an
        # int64 sum wraps near 2e9 docs/source while DuckDB's
        # sum(BIGINT) promotes to HUGEINT and stays exact (ADVICE r3)
        F.sum(F.col("rx").cast(dec)).alias("sx"),
        F.sum(F.col("ry").cast(dec)).alias("sy"),
        F.sum(F.col("rx").cast(dec) * F.col("rx")).cast(dec).alias("sxx"),
        F.sum(F.col("ry").cast(dec) * F.col("ry")).cast(dec).alias("syy"),
        F.sum(F.col("rx").cast(dec) * F.col("ry")).cast(dec).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return st.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        num.cast("double").alias("num"),
        vx.cast("double").alias("vx"),
        vy.cast("double").alias("vy"),
        F.when((vx == 0) | (vy == 0), F.lit(0.0))
        .otherwise(
            num.cast("double") / F.sqrt(vx.cast("double")) / F.sqrt(vy.cast("double"))
        )
        .alias("rho"),
    ).orderBy("source")



@register(
    "vocab_growth_curve",
    f"""
WITH firstocc AS (
  SELECT term, min(doc_id) AS md
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY term
), b AS (
  SELECT (md * 10) // (SELECT count(*) FROM documents) + 1 AS decile FROM firstocc
), per AS (
  SELECT decile, cast(count(*) as bigint) AS new_terms FROM b GROUP BY decile
), spine AS (
  SELECT cast(d as bigint) AS decile
  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) AS t(d)
), filled AS (
  SELECT s.decile, coalesce(p.new_terms, 0) AS new_terms
  FROM spine s LEFT JOIN per p ON s.decile = p.decile
)
SELECT cast(decile as bigint) AS decile,
       cast((decile * (SELECT count(*) FROM documents)) // 10 as bigint) AS n_docs,
       cast(new_terms as bigint) AS new_terms,
       cast(sum(new_terms) OVER (ORDER BY decile) as bigint) AS vocab
FROM filled ORDER BY decile
""",
)
def vocab_growth_curve(spark, sf_dir):
    """Heaps-law vocabulary growth curve: distinct-vocabulary size at
    each corpus decile (docs ordered by their contiguous synthetic
    doc_id) — the tokenizer-budget question (how fast does new
    vocabulary appear as the crawl grows?). Scale shape: ONE hash agg
    maps every term to its first-occurrence doc (map-side combinable,
    shuffle ∝ vocabulary, not corpus); deciles are exact integer
    division on that dim-sized table; the cumulative sum runs over ≤10
    rows. No global sort of the corpus, no per-checkpoint rescan.
    Exact integers end to end."""
    n = table_rows(sf_dir, "documents")
    docs = load(spark, sf_dir, "documents")
    first = (
        docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("md"))
    )
    per = (
        first.select((F.expr(f"md * 10 DIV {n}") + F.lit(1)).alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    # gapfill to all 10 deciles: a decile contributing no NEW terms is
    # itself the signal (the vocabulary saturated) and must appear
    spine = spark.range(1, 11).select(F.col("id").alias("decile"))
    filled = spine.join(per, "decile", "left").select(
        "decile", F.coalesce(F.col("new_terms"), F.lit(0)).cast("long").alias("new_terms")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return filled.select(
        F.col("decile").cast("long").alias("decile"),
        # raw doc count at the decile boundary (was misnamed n_docs_k —
        # renamed before the contract ossified, ADVICE r3)
        F.expr(f"CAST(decile * {n} DIV 10 AS BIGINT)").alias("n_docs"),
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("vocab"),
    ).orderBy("decile")



@register(
    "bm25_topk_docs",
    f"""
WITH pt AS (
  SELECT doc_id,
         cast({T.TOKEN_COUNT_SQL.format(t='text')} as bigint) AS dl,
         cast({_bm25_tf_sql('join')} as bigint) AS tf1,
         cast({_bm25_tf_sql('hash')} as bigint) AS tf2,
         cast({_bm25_tf_sql('scan')} as bigint) AS tf3
  FROM documents
), st AS (
  SELECT cast(count(*) as bigint) AS n, cast(sum(dl) as bigint) AS sumdl,
         cast(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) as bigint) AS df1,
         cast(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) as bigint) AS df2,
         cast(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) as bigint) AS df3
  FROM pt
), sc AS (
  SELECT doc_id,
    (CASE WHEN tf1 > 0 THEN ((cast(st.n - st.df1 as double) + 0.5) / (cast(st.df1 as double) + 0.5) + 1.0)
      * ((cast(tf1 as double) * 2.2) / (cast(tf1 as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / (cast(st.sumdl as double) / cast(st.n as double)))))) ELSE 0.0 END)
    + (CASE WHEN tf2 > 0 THEN ((cast(st.n - st.df2 as double) + 0.5) / (cast(st.df2 as double) + 0.5) + 1.0)
      * ((cast(tf2 as double) * 2.2) / (cast(tf2 as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / (cast(st.sumdl as double) / cast(st.n as double)))))) ELSE 0.0 END)
    + (CASE WHEN tf3 > 0 THEN ((cast(st.n - st.df3 as double) + 0.5) / (cast(st.df3 as double) + 0.5) + 1.0)
      * ((cast(tf3 as double) * 2.2) / (cast(tf3 as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / (cast(st.sumdl as double) / cast(st.n as double)))))) ELSE 0.0 END)
    AS score
  FROM pt CROSS JOIN st
)
SELECT doc_id, score FROM sc WHERE score > 0.0
ORDER BY score DESC, doc_id LIMIT 20
""",
)
def bm25_topk_docs(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a frozen 3-term query
    over the documents table — the missing IR tier above the boolean
    inverted index. Per-doc tf comes from JVM higher-order filters over
    the token array (no explode, no shuffle on the term key), corpus
    stats (N, Σdl, per-term df) are ONE single-row aggregate broadcast
    back, and the top-20 plans as TakeOrderedAndProject. The idf keeps
    BM25's exact rational form (N−df+0.5)/(df+0.5)+1 WITHOUT the log —
    log is monotone so per-term ordering is preserved, and dropping it
    is what keeps both engines bit-exact (÷, ×, + on doubles derived
    from exact integers, summed in fixed textual term order; libm ln
    ulps would not survive the hash compare). At 10^12 docs this is a
    scan + map + 1-row broadcast + top-k: no quadratic anywhere."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))

    def _tf(term):
        return F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("long")

    pt = d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("dl"),
        *[_tf(t).alias(f"tf{i + 1}") for i, t in enumerate(_BM25_TERMS)],
    )
    st = pt.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sumdl"),
        *[
            F.sum(F.when(F.col(f"tf{i + 1}") > 0, 1).otherwise(0)).alias(f"df{i + 1}")
            for i in range(3)
        ],
    )
    dlov = F.col("dl").cast("double") / (
        F.col("sumdl").cast("double") / F.col("n").cast("double")
    )

    def _score(i):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = (
            (F.col("n") - df).cast("double") + F.lit(0.5)
        ) / (df.cast("double") + F.lit(0.5)) + F.lit(1.0)
        tfn = (tf.cast("double") * F.lit(2.2)) / (
            tf.cast("double") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * dlov)
        )
        return F.when(tf > 0, idf * tfn).otherwise(F.lit(0.0))

    sc = pt.crossJoin(F.broadcast(st)).select(
        "doc_id", (_score(1) + _score(2) + _score(3)).alias("score")
    )
    return (
        sc.filter(F.col("score") > 0.0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )



@register(
    "burrows_delta_sources",
    f"""
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, cast(count(*) as bigint) AS cnt FROM tok GROUP BY w
  ) ORDER BY cnt DESC, w LIMIT {_BD_VOCAB}
), toks AS (
  SELECT source, cast(count(*) as bigint) AS tok_s FROM tok GROUP BY source
), cnts AS (
  SELECT t.source, t.w, cast(count(*) as bigint) AS c
  FROM tok t JOIN vocab v ON t.w = v.w
  GROUP BY t.source, t.w
), f AS (
  SELECT s.source, v.w,
         (coalesce(c.c, 0) * {_BD_TICK}) // s.tok_s AS ft
  FROM toks s CROSS JOIN vocab v
  LEFT JOIN cnts c ON c.source = s.source AND c.w = v.w
), st AS (
  SELECT w, cast(count(*) as bigint) AS ns, cast(sum(ft) as bigint) AS s,
         cast(sum(cast(ft as hugeint) * ft) as hugeint) AS sx2
  FROM f GROUP BY w
), z AS (
  SELECT f.source, f.w,
         CASE WHEN st.ns * st.sx2 - cast(st.s as hugeint) * st.s = 0 THEN 0.0
              ELSE cast(st.ns * f.ft - st.s as double)
                   / sqrt(cast(st.ns * st.sx2 - cast(st.s as hugeint) * st.s as double)
                          * cast(st.ns as double) / cast(st.ns - 1 as double))
         END AS z
  FROM f JOIN st ON st.w = f.w
)
SELECT a.source AS src_a, b.source AS src_b,
       cast(count(*) as bigint) AS n_words,
       cast(sum(cast(floor(abs(a.z - b.z) * 1000000000.0) as bigint)) as bigint)
         AS delta_tick
FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
GROUP BY src_a, src_b
ORDER BY delta_tick, src_a, src_b LIMIT 40
""",
)
def burrows_delta_sources(spark, sf_dir):
    """Burrows' Delta stylometric distance between sources (the
    classic authorship-attribution measure): z-score each source's
    relative frequency of the top-{_BD_VOCAB} corpus words against the
    across-source distribution, then Delta(a,b) = Σ_w |z_aw − z_bw|.
    Exactness: relative frequencies are integer ticks
    (count·10⁹ // source_tokens — exact while a (source, word) count
    stays below ~9.2e9), moments are integer/decimal sums (order-free),
    each z is ONE fixed-form double expression from exact integers
    (sqrt is correctly rounded; no libm transcendental), and the
    pair sum is over floor(|Δz|·10⁹) ticks so double summation order
    cannot matter. σ=0 words contribute z=0. The 40 closest pairs
    (most similar style) are returned. Shape: explode → two counts,
    a {_BD_VOCAB}-row broadcast vocab, a sources×vocab grid (S·V rows),
    and a self-join on the word key — S² · V pair rows, fine for
    thousands of sources; past that the same profiles feed the LSH
    cosine path (operators/similarity.py)."""
    dec = "decimal(38,0)"
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(_BD_VOCAB)
        .select("w")
    )
    toks = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("tok_s"))
    cnts = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    f = (
        toks.crossJoin(F.broadcast(vocab))
        .join(cnts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(f"(coalesce(c, 0) * {_BD_TICK}) div tok_s").alias("ft"),
        )
    )
    st = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("ft").cast("long").alias("s"),
        F.sum(F.col("ft").cast(dec) * F.col("ft")).cast(dec).alias("sx2"),
    )
    var_num = F.col("ns").cast(dec) * F.col("sx2") - F.col("s").cast(dec) * F.col("s")
    z_val = (F.col("ns") * F.col("ft") - F.col("s")).cast("double") / F.sqrt(
        var_num.cast("double")
        * F.col("ns").cast("double")
        / (F.col("ns") - 1).cast("double")
    )
    z = f.join(st, "w").select(
        "source", "w", F.when(var_num == 0, F.lit(0.0)).otherwise(z_val).alias("z")
    )
    zb = z.select(
        F.col("source").alias("src_b"), F.col("w").alias("wb"), F.col("z").alias("zb")
    )
    return (
        z.join(zb, (F.col("w") == F.col("wb")) & (F.col("source") < F.col("src_b")))
        .select(
            F.col("source").alias("src_a"),
            "src_b",
            F.floor(F.abs(F.col("z") - F.col("zb")) * F.lit(1000000000.0))
            .cast("long")
            .alias("dz"),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("dz").cast("long").alias("delta_tick"),
        )
        .orderBy("delta_tick", "src_a", "src_b")
        .limit(40)
    )



@register(
    "herfindahl_lang_source",
    """
WITH c AS (
  SELECT source, lang, cast(count(*) as bigint) AS n
  FROM documents GROUP BY source, lang
), s AS (
  SELECT source, cast(sum(n) as bigint) AS n_docs,
         cast(count(*) as bigint) AS n_langs,
         cast(sum(cast(n as hugeint) * n) as decimal(38,0)) AS sum_sq
  FROM c GROUP BY source
)
SELECT source, n_docs, n_langs, cast(sum_sq as bigint) AS sum_sq,
       cast(sum_sq as double) / (cast(n_docs as double) * cast(n_docs as double)) AS hhi
FROM s
""",
)
def herfindahl_lang_source(spark, sf_dir):
    """Herfindahl–Hirschman concentration of languages within each
    source (= Simpson index; 1/HHI is the effective language count) —
    the diversity audit a crawl pipeline runs to catch sources whose
    lang mix collapsed. Exact: shares never materialize; HHI =
    Σn²/N² with both moments integer (decimal38 for the squares) and
    ONE fixed-form double division at the end — the entropy variant is
    deliberately avoided because ln() ulps differ across libm
    implementations. Two groupBys, second over #sources·#langs rows."""
    dec = "decimal(38,0)"
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(F.col("n").cast(dec) * F.col("n")).cast(dec).alias("sum_sq"),
    )
    return s.select(
        "source",
        "n_docs",
        "n_langs",
        F.col("sum_sq").cast("long").alias("sum_sq"),
        (
            F.col("sum_sq").cast("double")
            / (F.col("n_docs").cast("double") * F.col("n_docs").cast("double"))
        ).alias("hhi"),
    )



@register(
    "bigram_next_token_docs",
    r"""
WITH t AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents
), raw AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
  FROM t WHERE len(toks) >= 2
), bf AS (
  SELECT s.w1 AS w1, s.w2 AS w2 FROM raw
  WHERE regexp_full_match(s.w1, '[a-z]{3,}') AND regexp_full_match(s.w2, '[a-z]{3,}')
), cxy AS (
  SELECT w1, w2, cast(count(*) as bigint) AS n_pair FROM bf GROUP BY w1, w2
), r AS (
  SELECT w1, w2, n_pair,
         cast(sum(n_pair) OVER (PARTITION BY w1) as bigint) AS n_head,
         row_number() OVER (PARTITION BY w1 ORDER BY n_pair DESC, w2) AS rn
  FROM cxy
)
SELECT w1 AS head_tok, w2 AS next_tok, n_pair, n_head,
       cast(n_pair as double) / cast(n_head as double) AS p_next
FROM r WHERE rn = 1 AND n_head >= 5
""",
)
def bigram_next_token_docs(spark, sf_dir):
    """Bigram language-model table: for every head token seen ≥5
    times, the argmax next token with its conditional probability —
    the greedy-completion / boilerplate-detector companion to
    pmi_collocations_docs (which ranks by association instead of
    conditional frequency). Bigrams are built JVM-side with
    transform(sequence(...)) over the token array; the head totals and
    the argmax share ONE shuffle on w1 (window sum + row_number over
    the same partition key — Catalyst plans a single exchange).
    Deterministic ties: higher count, then lexicographic next token."""
    d = load(spark, sf_dir, "documents")
    t = d.select(T.tokens(F.col("text")).alias("toks"))
    bf = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] as w1, toks[i + 1] as w2))"
                )
            ).alias("s")
        )
        .select("s.w1", "s.w2")
        .filter(F.col("w1").rlike("^[a-z]{3,}$") & F.col("w2").rlike("^[a-z]{3,}$"))
    )
    cxy = bf.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n_pair"))
    wp = Window.partitionBy("w1")
    r = cxy.select(
        "w1", "w2", "n_pair",
        F.sum("n_pair").over(wp).cast("long").alias("n_head"),
        F.row_number()
        .over(wp.orderBy(F.col("n_pair").desc(), F.col("w2")))
        .alias("rn"),
    )
    return r.filter((F.col("rn") == 1) & (F.col("n_head") >= 5)).select(
        F.col("w1").alias("head_tok"),
        F.col("w2").alias("next_tok"),
        "n_pair",
        "n_head",
        (F.col("n_pair").cast("double") / F.col("n_head").cast("double")).alias("p_next"),
    )



@register(
    "boilerplate_ratio_hosts",
    """
WITH tg AS (
  SELECT DISTINCT doc_id, source, g FROM (
    SELECT doc_id, source, unnest("""
    + D.shingles_all_sql("text", 3)
    + """) AS g
    FROM documents)
), nd AS (SELECT source, cast(count(DISTINCT doc_id) as bigint) AS n_docs FROM tg GROUP BY source),
df AS (SELECT source, g, cast(count(*) as bigint) AS df FROM tg GROUP BY source, g),
mark AS (
  SELECT tg.doc_id, tg.source,
         CASE WHEN 2 * df.df >= nd.n_docs THEN 1 ELSE 0 END AS common
  FROM tg JOIN df ON tg.source = df.source AND tg.g = df.g
          JOIN nd ON tg.source = nd.source
)
SELECT source, cast(count(DISTINCT doc_id) as bigint) AS n_docs,
       cast(count(*) as bigint) AS n_gram_inc,
       cast(sum(common) as bigint) AS n_common_inc,
       cast(sum(common) as double) / cast(count(*) as double) AS boilerplate_ratio
FROM mark GROUP BY source
""",
)
def boilerplate_ratio_hosts(spark, sf_dir):
    """Boilerplate share per host (source as host key): the fraction
    of each doc's DISTINCT trigrams that are host-common (present in
    ≥50% of the host's docs) — navboxes, footers and templated chrome
    score high, original prose scores low. The curation signal
    repetition_filter_docs can't see: repetition scores WITHIN a doc,
    this scores ACROSS a host's corpus. Micro-averaged per host
    (integer incidence sums, one final division) so no float
    accumulation order can drift. Shuffle ∝ distinct (doc, trigram)
    incidences — linear in corpus size, grouped by (host, trigram),
    never a doc×doc comparison."""
    d = load(spark, sf_dir, "documents")
    tg = (
        d.select("doc_id", "source", F.explode(D.shingles_all(F.col("text"), 3)).alias("g"))
        .distinct()
    )
    nd = tg.groupBy("source").agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    df_ = tg.groupBy("source", "g").agg(F.count("*").cast("long").alias("df"))
    mark = (
        tg.join(df_, ["source", "g"])
        .join(F.broadcast(nd), "source")
        .select(
            "doc_id", "source",
            F.when(2 * F.col("df") >= F.col("n_docs"), 1).otherwise(0).alias("common"),
        )
    )
    return mark.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_gram_inc"),
        F.sum("common").cast("long").alias("n_common_inc"),
        (F.sum("common").cast("double") / F.count("*").cast("double")).alias("boilerplate_ratio"),
    )



@register(
    "pack_sequences_docs",
    f"""
WITH RECURSIVE d AS (
  SELECT cast(doc_id as bigint) AS doc_id,
         greatest(1, cast(n_chars as bigint) // 4) AS tok,
         {_PACK_H} % {_PACK_B} AS bucket
  FROM documents
), o AS (
  SELECT doc_id, tok, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM d
), step(bucket, rn, doc_id, tok, seq_id, "offset", cum) AS (
  SELECT bucket, rn, doc_id, tok, cast(0 as bigint), cast(0 as bigint), tok
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.tok,
         CASE WHEN s.cum + o.tok > {_PACK_BUDGET} THEN s.seq_id + 1 ELSE s.seq_id END,
         CASE WHEN s.cum + o.tok > {_PACK_BUDGET} THEN cast(0 as bigint) ELSE s.cum END,
         CASE WHEN s.cum + o.tok > {_PACK_BUDGET} THEN o.tok ELSE s.cum + o.tok END
  FROM step s JOIN o ON o.bucket = s.bucket AND o.rn = s.rn + 1
)
SELECT doc_id, bucket, tok, seq_id, "offset" FROM step
""",
)
def pack_sequences_docs(spark, sf_dir):
    """Greedy sequence packing (operators/packing.py): every doc
    assigned a (bucket, seq_id, offset) slot in fixed 512-token
    training sequences — the padding-minimizing concat step of a
    pretraining pipeline, made distributed by salting into md5 buckets
    that pack independently in doc_id order. Spark runs one
    applyInPandas scan per bucket (the only shuffle); the oracle
    replays the identical running-total-with-reset recurrence row by
    row with WITH RECURSIVE, so every seq boundary is checked, not
    just the totals. Token counts are the n_chars//4 estimator (the
    deterministic stand-in for a real tokenizer; bpe_token_counts is
    the exact-count twin)."""
    from gipspark.operators.packing import pack_sequences

    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.greatest(F.lit(1).cast("long"), F.expr("cast(n_chars as bigint) div 4")).alias("tok"),
        (D.md5_long(F.concat(F.lit("p:"), F.col("doc_id").cast("string"))) % _PACK_B).alias(
            "bucket"
        ),
    )
    return pack_sequences(d, budget=_PACK_BUDGET)



@register(
    "tokenizer_fertility_langs",
    f"""
WITH t AS (
  SELECT lang,
         len(regexp_extract_all(text, $${BPE_PATTERN}$$)) AS n_bpe,
         {T.TOKEN_COUNT_SQL.format(t='text')} AS n_ws
  FROM documents
)
SELECT lang,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(n_bpe) as bigint) AS bpe_tokens,
       cast(sum(n_ws) as bigint) AS ws_tokens,
       cast(sum(n_bpe) as double) / cast(sum(n_ws) as double) AS fertility
FROM t GROUP BY lang
""",
)
def tokenizer_fertility_langs(spark, sf_dir):
    """Tokenizer fertility per language: BPE-ish tokens emitted per
    whitespace word — THE metric a pretraining team checks before
    fixing a tokenizer (high-fertility languages pay more compute per
    word and starve in a token-budgeted mixture). One narrow regexp
    pass + one hash aggregate; integer token sums, one final
    division. Uses the same frozen BPE_PATTERN as bpe_token_counts
    (the per-doc twin)."""
    d = load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    t = d.select("lang", F.size(bpe).alias("n_bpe"), T.token_count(F.col("text")).alias("n_ws"))
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bpe").cast("long").alias("bpe_tokens"),
        F.sum("n_ws").cast("long").alias("ws_tokens"),
        (F.sum("n_bpe").cast("double") / F.sum("n_ws").cast("double")).alias("fertility"),
    )



@register("compression_ratio_docs", None)
def compression_ratio_docs(spark, sf_dir):
    """zlib compression-ratio quality filter (rows-only: zlib is not
    SQL-expressible): compressed/raw byte length per doc — the
    Gopher/CCNet-style repetition signal that catches templated or
    looping text the token-level filters miss. One Arrow-batched
    mapInPandas pass (functions/text.compression_ratio_frame);
    determinism pinned by the golden pytest against direct zlib.
    The ratio is one division of exact ints."""
    from pyspark.sql.types import LongType, StructField, StructType

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("raw_len", LongType()),
            StructField("comp_len", LongType()),
        ]
    )
    out = d.mapInPandas(lambda it: T.compression_ratio_frame(it), schema=schema)
    return out.select(
        "doc_id", "raw_len", "comp_len",
        (
            F.col("comp_len").cast("double")
            / F.greatest(F.lit(1).cast("long"), F.col("raw_len")).cast("double")
        ).alias("ratio"),
    )



@register(
    "calibration_ece_docs",
    f"""
WITH s AS (
  SELECT cast({_ECE_EN} as double)
           / cast({_ECE_HITS} + 1 as double) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM documents
), b AS (
  SELECT least(9, cast(floor(score * 10.0) as int)) AS bin, score, label FROM s
)
SELECT bin,
       cast(count(*) as bigint) AS n,
       cast(sum(label) as bigint) AS n_pos,
       (cast(bin as double) + 0.5) / 10.0 AS conf_mid,
       cast(sum(label) as double) / cast(count(*) as double) AS acc,
       abs(cast(sum(label) as double) / cast(count(*) as double)
           - (cast(bin as double) + 0.5) / 10.0) * cast(count(*) as double) AS ece_term
FROM b GROUP BY bin
""",
)
def calibration_ece_docs(spark, sf_dir):
    """Reliability diagram for the marker-stopword English classifier:
    docs are binned by predicted P(en) = en-marker hits / (all marker
    hits + 1) into deciles; each bin reports accuracy vs the bin
    midpoint plus its |acc − conf|·n ECE contribution (sum ÷ N off-line
    = expected calibration error) — the calibration audit run before
    trusting a quality/lang classifier to gate a corpus.  Integer hit
    counts → one exact division per doc; per-bin stats are integer
    sums and single IEEE ops, so the hash is partition-stable.  One
    narrow projection + one 10-key hash agg."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))

    def hits(lang):
        return F.size(F.filter(toks, lambda t: t.isin(T.LANG_MARKERS[lang])))

    all_hits = None
    for lang in T._LANG_ORDER:
        h = hits(lang)
        all_hits = h if all_hits is None else all_hits + h
    s = d.select(
        (hits("en").cast("double") / (all_hits + F.lit(1)).cast("double")).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    b = s.select(
        F.least(F.lit(9), F.floor(F.col("score") * 10.0).cast("int")).alias("bin"),
        "label",
    )
    acc = F.sum("label").cast("double") / F.count("*").cast("double")
    mid = (F.col("bin").cast("double") + F.lit(0.5)) / F.lit(10.0)
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            acc.alias("acc_raw"),
        )
        .select(
            "bin", "n", "n_pos",
            mid.alias("conf_mid"),
            F.col("acc_raw").alias("acc"),
            (F.abs(F.col("acc_raw") - mid) * F.col("n").cast("double")).alias("ece_term"),
        )
    )



@register(
    "kneser_ney_bigrams",
    r"""
WITH t AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents
), raw AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
  FROM t WHERE len(toks) >= 2
), bf AS (
  SELECT s.w1 AS w1, s.w2 AS w2 FROM raw
  WHERE regexp_full_match(s.w1, '[a-z]{3,}') AND regexp_full_match(s.w2, '[a-z]{3,}')
), cxy AS (
  SELECT w1, w2, cast(count(*) as bigint) AS n_pair FROM bf GROUP BY w1, w2
), heads AS (
  SELECT w1, cast(sum(n_pair) as bigint) AS n_head,
         cast(count(*) as bigint) AS n1p_head
  FROM cxy GROUP BY w1
), tails AS (
  SELECT w2, cast(count(*) as bigint) AS n1p_tail FROM cxy GROUP BY w2
), tot AS (
  SELECT cast(count(*) as bigint) AS n_bigrams FROM cxy
)
SELECT w1 AS head_tok, w2 AS next_tok, n_pair, n_head, n1p_head, n1p_tail,
       greatest(cast(n_pair as double) - 0.75, 0.0) / cast(n_head as double)
         + ((0.75 * cast(n1p_head as double)) / cast(n_head as double))
           * (cast(n1p_tail as double) / cast(n_bigrams as double)) AS p_kn
FROM cxy
JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN tot
WHERE n_head >= 20
ORDER BY p_kn DESC, w1, w2
LIMIT 200
""",
)
def kneser_ney_bigrams(spark, sf_dir):
    """Interpolated Kneser–Ney bigram probabilities (discount 0.75) —
    the smoothed companion to bigram_next_token_docs and the classic
    cheap perplexity-proxy scorer for corpus filtering.  KN is exactly
    hashable because every term is rational with a dyadic discount:
    max(c−0.75,0)/c(w1) + 0.75·N1+(w1·)/c(w1) · N1+(·w2)/|bigrams|,
    written in the identical textual order both sides (one final add —
    single IEEE ops are deterministic; only reassociation isn't).
    Three hash aggs over the one bigram explode (pair counts, head
    margins, tail fan-in) + a 1-row broadcast for the bigram total."""
    d = load(spark, sf_dir, "documents")
    t = d.select(T.tokens(F.col("text")).alias("toks"))
    bf = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] as w1, toks[i + 1] as w2))"
                )
            ).alias("s")
        )
        .select("s.w1", "s.w2")
        .filter(F.col("w1").rlike("^[a-z]{3,}$") & F.col("w2").rlike("^[a-z]{3,}$"))
    )
    cxy = bf.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n_pair"))
    heads = cxy.groupBy("w1").agg(
        F.sum("n_pair").cast("long").alias("n_head"),
        F.count("*").cast("long").alias("n1p_head"),
    )
    tails = cxy.groupBy("w2").agg(F.count("*").cast("long").alias("n1p_tail"))
    tot = cxy.agg(F.count("*").cast("long").alias("n_bigrams"))
    p_kn = F.greatest(F.col("n_pair").cast("double") - F.lit(0.75), F.lit(0.0)) / F.col(
        "n_head"
    ).cast("double") + (
        (F.lit(0.75) * F.col("n1p_head").cast("double")) / F.col("n_head").cast("double")
    ) * (F.col("n1p_tail").cast("double") / F.col("n_bigrams").cast("double"))
    out = (
        cxy.join(heads, "w1")
        .join(tails, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_head") >= 20)
        .select(
            F.col("w1").alias("head_tok"), F.col("w2").alias("next_tok"),
            "n_pair", "n_head", "n1p_head", "n1p_tail", p_kn.alias("p_kn"),
        )
    )
    return out.orderBy(F.col("p_kn").desc(), "head_tok", "next_tok").limit(200)



@register(
    "rake_word_scores_docs",
    f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z]') AS toks FROM documents
), ex AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                                       i -> struct_pack(i := i, w := toks[i]))) AS s
  FROM t
), pos AS (
  SELECT doc_id, s.i AS i, s.w AS w,
         CASE WHEN s.w = '' OR len(s.w) < 2
                   OR s.w IN ({', '.join("'" + w + "'" for w in _RAKE_STOPS)})
              THEN 1 ELSE 0 END AS brk
  FROM ex
), ph AS (
  SELECT doc_id, i, w, brk,
         cast(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS phrase_id
  FROM pos
), words AS (
  SELECT p.doc_id, p.phrase_id, p.w,
         cast(count(*) OVER (PARTITION BY p.doc_id, p.phrase_id) as bigint) AS phrase_len
  FROM ph p WHERE p.brk = 0
), st AS (
  SELECT w AS word,
         cast(count(*) as bigint) AS freq,
         cast(sum(phrase_len) as bigint) AS degree
  FROM words GROUP BY w
)
SELECT word, freq, degree,
       cast(degree as double) / cast(freq as double) AS rake_score
FROM st
WHERE freq >= 5
ORDER BY rake_score DESC, word
LIMIT 100
""",
)
def rake_word_scores_docs(spark, sf_dir):
    """RAKE keyword scores (degree/frequency) over candidate phrases —
    the zero-model keyword extractor: text splits into phrases at
    stopwords and non-letter runs; a word's degree accumulates the
    length of every phrase it appears in, and deg/freq favours words
    living in long multi-word phrases.  One posexplode + one per-doc
    ordered window (running break count = phrase id) + two hash aggs;
    everything integer until the single final division; top-100
    deterministic (score DESC, word).  Phrase-level RAKE sums
    per-word ratios (reassociation-unstable), so the word-score table
    IS the exactness-safe contract."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), "[^a-z]")
    pos = d.select("doc_id", F.posexplode(toks).alias("i", "w")).select(
        "doc_id",
        (F.col("i") + 1).alias("i"),
        "w",
        F.when(
            (F.col("w") == "") | (F.length("w") < 2) | F.col("w").isin(_RAKE_STOPS), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    wp = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ph = pos.select(
        "doc_id", "i", "w", "brk", F.sum("brk").over(wp).cast("long").alias("phrase_id")
    )
    wl = Window.partitionBy("doc_id", "phrase_id")
    words = ph.filter(F.col("brk") == 0).select(
        "doc_id", "phrase_id", "w", F.count("*").over(wl).cast("long").alias("phrase_len")
    )
    st = words.groupBy(F.col("w").alias("word")).agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("phrase_len").cast("long").alias("degree"),
    )
    out = st.filter(F.col("freq") >= 5).select(
        "word", "freq", "degree",
        (F.col("degree").cast("double") / F.col("freq").cast("double")).alias("rake_score"),
    )
    return out.orderBy(F.col("rake_score").desc(), "word").limit(100)



@register(
    "crawl_budget_apportion",
    f"""
WITH g AS (
  SELECT source, cast(count(*) as bigint) AS n_docs FROM documents GROUP BY source
), tot AS (
  SELECT cast(sum(n_docs) as bigint) AS n_total, cast(count(*) as bigint) AS n_src FROM g
), q AS (
  SELECT source, n_docs,
         ({_CRAWL_BUDGET} * n_docs) // n_total AS base,
         ({_CRAWL_BUDGET} * n_docs) % n_total AS rem,
         n_total
  FROM g CROSS JOIN tot
), r AS (
  SELECT source, n_docs, base, rem,
         cast(row_number() OVER (ORDER BY rem DESC, source) as bigint) AS rk,
         cast({_CRAWL_BUDGET} - sum(base) OVER () as bigint) AS leftover
  FROM q
)
SELECT source, n_docs, cast(base as bigint) AS base,
       CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS extra,
       cast(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END as bigint) AS alloc
FROM r
""",
)
def crawl_budget_apportion(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a fixed crawl
    budget of {_CRAWL_BUDGET} fetch slots across sources, proportional
    to corpus share — how a crawler divides politeness-bounded slots
    so that Σalloc == budget EXACTLY (floor quotas under-allocate; the
    leftover goes to the largest integer remainders, ties broken by
    source id).  Pure integer arithmetic end to end — remainders are
    compared as exact modulo values, never float fractions.  The
    window runs over the SOURCE table (bounded dimension), not docs;
    one hash agg + 1-row total broadcast + one bounded window."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    tot = g.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_src"),
    )
    B = F.lit(_CRAWL_BUDGET).cast("long")
    q = g.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs",
        F.floor(B * F.col("n_docs") / F.col("n_total")).cast("long").alias("base"),
        ((B * F.col("n_docs")) % F.col("n_total")).alias("rem"),
    )
    wall = Window.partitionBy()
    r = q.select(
        "source", "n_docs", "base",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")).cast("long").alias("rk"),
        (B - F.sum("base").over(wall)).cast("long").alias("leftover"),
    )
    extra = F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "source", "n_docs",
        F.col("base").cast("long").alias("base"),
        extra.alias("extra"),
        (F.col("base") + extra).cast("long").alias("alloc"),
    )



@register(
    "soundex_blocking_docs",
    r"""
WITH words AS (
  SELECT DISTINCT w
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w FROM documents)
  WHERE regexp_full_match(w, '[a-z]{3,}')
), m AS (
  SELECT w, upper(w) AS u,
         list_filter(list_transform(string_split(upper(w), ''), c ->
           CASE WHEN c IN ('B','F','P','V') THEN '1'
                WHEN c IN ('C','G','J','K','Q','S','X','Z') THEN '2'
                WHEN c IN ('D','T') THEN '3'
                WHEN c = 'L' THEN '4'
                WHEN c IN ('M','N') THEN '5'
                WHEN c = 'R' THEN '6'
                WHEN c IN ('A','E','I','O','U','Y') THEN '0'
                ELSE NULL END), x -> x IS NOT NULL) AS codes
  FROM words
), s AS (
  SELECT w, u,
         list_reduce(codes, (a, b) ->
           CASE WHEN substr(a, -1, 1) = b THEN a ELSE a || b END) AS collapsed
  FROM m
), sx AS (
  SELECT w,
         substr(u, 1, 1) || rpad(substr(replace(
           CASE WHEN substr(u, 1, 1) IN ('H', 'W') THEN collapsed
                ELSE substr(collapsed, 2) END, '0', ''), 1, 3), 3, '0') AS code
  FROM s
)
SELECT code,
       cast(count(*) as bigint) AS n_words,
       cast(count(*) * (count(*) - 1) / 2 as bigint) AS n_pairs,
       min(w) AS first_word,
       max(w) AS last_word
FROM sx GROUP BY code
""",
)
def soundex_blocking_docs(spark, sf_dir):
    """Soundex phonetic blocking over the corpus vocabulary — the
    classic record-linkage blocking key (candidate pairs only inside a
    shared 4-char phonetic code, Σ block² instead of |vocab|²).  The
    oracle does NOT mirror Spark's JVM soundex: it re-derives American
    Soundex (H/W-collapse rule included: Ashcraft→A261, Pfister→P236,
    Honeyman→H555 — probed against Spark) from the published spec as
    list_transform code-mapping + a left-fold adjacent-collapse — two
    genuinely independent implementations agreeing bit-for-bit, the
    strongest correctness evidence in the linkage family.  One distinct
    on tokens + one codegen soundex + one hash agg per block."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{3,}$"))
        .distinct()
    )
    sx = words.select("w", F.soundex(F.upper(F.col("w"))).alias("code"))
    return (
        sx.groupBy("code")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            (F.count("*") * (F.count("*") - 1) / 2).cast("long").alias("n_pairs"),
            F.min("w").alias("first_word"),
            F.max("w").alias("last_word"),
        )
    )



@register(
    "cdc_chunks_docs",
    f"""
WITH pos AS (
  SELECT doc_id, source, text,
         unnest(generate_series({_CDC_W}, len(text))) AS i
  FROM documents
),
bnd AS (
  SELECT DISTINCT doc_id, b FROM (
    SELECT doc_id, i AS b FROM pos
    WHERE substr(md5(substr(text, i - {_CDC_W} + 1, {_CDC_W})), 1, 1) = '0'
    UNION ALL
    SELECT doc_id, len(text) AS b FROM documents
  )
),
chunks AS (
  SELECT d.doc_id, d.source,
         substr(d.text,
                cast(coalesce(lag(b.b) OVER (PARTITION BY b.doc_id ORDER BY b.b), 0) + 1 as int),
                cast(b.b - coalesce(lag(b.b) OVER (PARTITION BY b.doc_id ORDER BY b.b), 0) as int)
         ) AS chunk,
         b.b - coalesce(lag(b.b) OVER (PARTITION BY b.doc_id ORDER BY b.b), 0) AS clen
  FROM bnd b JOIN documents d ON d.doc_id = b.doc_id
),
hashed AS (SELECT doc_id, source, md5(chunk) AS h, clen FROM chunks),
freq AS (SELECT h, cast(count(*) as bigint) AS nf FROM hashed GROUP BY h)
SELECT hashed.source,
       cast(count(*) as bigint) AS n_chunks,
       cast(count(DISTINCT hashed.h) as bigint) AS n_distinct,
       cast(sum(clen) as bigint) AS total_chars,
       cast(sum(CASE WHEN nf >= 2 THEN 1 ELSE 0 END) as bigint) AS dup_chunks,
       cast(sum(CASE WHEN nf >= 2 THEN clen ELSE 0 END) as bigint) AS dup_chars
FROM hashed JOIN freq ON freq.h = hashed.h
GROUP BY hashed.source
""",
)
def cdc_chunks_docs(spark, sf_dir):
    """Content-defined chunking (the FastCDC/rsync boundary trick that
    makes chunk dedup robust to insertions, unlike the fixed-width
    chunk_dedup_docs): a boundary lands after any position whose
    trailing 8-char window's md5 starts with hex '0' (expected chunk
    ≈ 16 chars), plus a forced boundary at end-of-doc, so chunk edges
    move WITH the content. Per-source dedup profile over the global
    chunk-hash frequency table. The position explode is linear in
    corpus chars (one narrow explode, no self-join); chunk hashing and
    the frequency join shuffle on the chunk hash — the exact shape a
    petabyte CDC store uses. DuckDB replays the identical windows."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pos = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(_CDC_W), F.length("text"))).alias("i"),
    )
    flags = pos.filter(
        F.substring(F.md5(F.expr(f"substring(text, i - {_CDC_W} + 1, {_CDC_W})")), 1, 1)
        == "0"
    ).select("doc_id", F.col("i").alias("b"))
    bnd = flags.union(d.select("doc_id", F.length("text").alias("b"))).distinct()
    w = Window.partitionBy("doc_id").orderBy("b")
    ch = (
        bnd.withColumn("prev", F.coalesce(F.lag("b").over(w), F.lit(0)))
        .join(d, "doc_id")
        .select(
            "doc_id",
            "source",
            F.expr("substring(text, cast(prev + 1 as int), cast(b - prev as int))").alias(
                "chunk"
            ),
            (F.col("b") - F.col("prev")).alias("clen"),
        )
    )
    hashed = ch.select("doc_id", "source", F.md5("chunk").alias("h"), "clen")
    freq = hashed.groupBy("h").agg(F.count("*").cast("long").alias("nf"))
    return (
        hashed.join(freq, "h")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.countDistinct("h").cast("long").alias("n_distinct"),
            F.sum("clen").cast("long").alias("total_chars"),
            F.sum(F.when(F.col("nf") >= 2, 1).otherwise(0)).cast("long").alias("dup_chunks"),
            F.sum(F.when(F.col("nf") >= 2, F.col("clen")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
        )
    )



@register(
    "texttiling_boundaries_docs",
    f"""
WITH toks AS (
  SELECT doc_id, u.w AS w, u.i AS i
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(a)), i -> {{'i': i, 'w': a[i]}})) AS u
    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)
  )
),
blk AS (
  SELECT doc_id, cast((i - 1) // {_TT_BLOCK} as bigint) AS b, w,
         cast(count(*) as bigint) AS c
  FROM toks GROUP BY doc_id, b, w
),
norms AS (
  SELECT doc_id, b, cast(sum(c * c) as bigint) AS n2 FROM blk GROUP BY doc_id, b
),
dots AS (
  SELECT a.doc_id, a.b AS g, cast(sum(a.c * b.c) as bigint) AS dot
  FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND b.b = a.b + 1 AND a.w = b.w
  GROUP BY a.doc_id, a.b
),
gaps AS (
  SELECT n1.doc_id, n1.b AS g,
         coalesce(d.dot, 0) AS dot, n1.n2 AS na, n2.n2 AS nb,
         (coalesce(d.dot, 0) * coalesce(d.dot, 0) * {_TT_SCALE}) // (n1.n2 * n2.n2) AS cos2q
  FROM norms n1
  JOIN norms n2 ON n2.doc_id = n1.doc_id AND n2.b = n1.b + 1
  LEFT JOIN dots d ON d.doc_id = n1.doc_id AND d.g = n1.b
),
summ AS (
  SELECT doc_id,
         cast(count(*) as bigint) AS n_gaps,
         cast(sum(CASE WHEN 4 * dot * dot < na * nb THEN 1 ELSE 0 END) as bigint)
           AS n_boundaries,
         min(cos2q) AS min_cos2q
  FROM gaps GROUP BY doc_id
)
SELECT s.doc_id, s.n_gaps, s.n_boundaries, s.min_cos2q,
       min(g.g) AS deepest_gap
FROM summ s JOIN gaps g ON g.doc_id = s.doc_id AND g.cos2q = s.min_cos2q
GROUP BY s.doc_id, s.n_gaps, s.n_boundaries, s.min_cos2q
""",
)
def texttiling_boundaries_docs(spark, sf_dir):
    """TextTiling topic segmentation (Hearst's block-comparison): carve
    each doc into 10-token blocks, score adjacent-block cohesion by
    term-vector cosine, and call a gap a topic boundary when cos < 1/2
    — evaluated as 4·dot² < |a|²·|b|² so no sqrt/division enters the
    hash; the deepest valley is picked by an integer fixed-point cos²
    quotient (1e12 scale) with min-gap tie-break. Block term vectors
    are one groupBy; adjacent dot-products are an equi-join on
    (doc, block+1, term) — shuffle ∝ corpus tokens, never block pairs.
    DuckDB replays the identical integer pipeline."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.posexplode(T.tokens(F.col("text"))).alias("p", "w"),
    )
    blk = (
        toks.select("doc_id", F.expr(f"p div {_TT_BLOCK}").cast("long").alias("b"), "w")
        .groupBy("doc_id", "b", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    norms = blk.groupBy("doc_id", "b").agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("n2"))
    a = blk.alias("a")
    bb = blk.alias("bb")
    dots = (
        a.join(
            bb,
            (F.col("a.doc_id") == F.col("bb.doc_id"))
            & (F.col("bb.b") == F.col("a.b") + 1)
            & (F.col("a.w") == F.col("bb.w")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"), F.col("a.b").alias("g"))
        .agg(F.sum(F.col("a.c") * F.col("bb.c")).cast("long").alias("dot"))
    )
    n1 = norms.alias("n1")
    n2 = norms.alias("n2")
    gaps = (
        n1.join(
            n2,
            (F.col("n2.doc_id") == F.col("n1.doc_id")) & (F.col("n2.b") == F.col("n1.b") + 1),
        )
        .join(
            dots.alias("dd"),
            (F.col("dd.doc_id") == F.col("n1.doc_id")) & (F.col("dd.g") == F.col("n1.b")),
            "left",
        )
        .select(
            F.col("n1.doc_id").alias("doc_id"),
            F.col("n1.b").alias("g"),
            F.coalesce(F.col("dd.dot"), F.lit(0)).alias("dot"),
            F.col("n1.n2").alias("na"),
            F.col("n2.n2").alias("nb"),
        )
        .withColumn(
            "cos2q",
            F.expr(f"(dot * dot * cast({_TT_SCALE} as bigint)) div (na * nb)").cast("long"),
        )
    )
    summ = gaps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum(
            F.when(4 * F.col("dot") * F.col("dot") < F.col("na") * F.col("nb"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_boundaries"),
        F.min("cos2q").alias("min_cos2q"),
    )
    g2 = gaps.select(F.col("doc_id").alias("gd"), "g", F.col("cos2q").alias("gq"))
    return (
        summ.join(g2, (F.col("gd") == F.col("doc_id")) & (F.col("gq") == F.col("min_cos2q")))
        .groupBy("doc_id", "n_gaps", "n_boundaries", "min_cos2q")
        .agg(F.min("g").alias("deepest_gap"))
    )



@register(
    "hindex_hosts",
    """
WITH scored AS (
  SELECT source, n_chars // 100 AS score,
         cast(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) as bigint)
           AS rk
  FROM documents
)
SELECT source,
       cast(count(*) as bigint) AS n_docs,
       cast(max(least(rk, score)) as bigint) AS h_index,
       cast(max(score) as bigint) AS top_score
FROM scored GROUP BY source
""",
)
def hindex_hosts(spark, sf_dir):
    """h-index per source/host over doc scores (n_chars in hundreds —
    the bibliometric h: the largest k such that k docs score ≥ k; the
    standard 'does this host have sustained substance or one big page'
    curation signal). One ranking window per source partition, then
    max(min(rank, score)) — a textbook two-shuffle plan that holds at
    any host cardinality because the window partitions by host."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    scored = d.select(
        "source",
        (F.col("n_chars") / 100).cast("long").alias("score"),
        F.row_number().over(w).cast("long").alias("rk"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max(F.least(F.col("rk"), F.col("score"))).cast("long").alias("h_index"),
        F.max("score").cast("long").alias("top_score"),
    )



@register(
    "bigram_surprisal_docs",
    f"""
WITH toks AS (
  SELECT doc_id, u.w AS w, u.i AS i
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(a)), i -> {{'i': i, 'w': a[i]}})) AS u
    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)
  )
),
big AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
lm AS (
  SELECT w1, w2, cast(count(*) as bigint) AS c12 FROM big GROUP BY w1, w2
),
uni AS (
  SELECT w1, cast(sum(c12) as bigint) AS c1 FROM lm GROUP BY w1
),
scored AS (
  SELECT big.doc_id, (lm.c12 * {_SURP_SCALE}) // uni.c1 AS p
  FROM big JOIN lm ON lm.w1 = big.w1 AND lm.w2 = big.w2
  JOIN uni ON uni.w1 = big.w1
)
SELECT doc_id,
       cast(count(*) as bigint) AS n_bigrams,
       cast(sum(p) as bigint) AS sum_p,
       cast(sum(p) // count(*) as bigint) AS mean_p
FROM scored GROUP BY doc_id
""",
)
def bigram_surprisal_docs(spark, sf_dir):
    """Per-doc fluency under the corpus's own bigram LM — the fluency /
    gibberish-detector curation signal — in the repo's log-free
    fixed-point discipline: p̂(w2|w1) = c(w1,w2)·1e9 // c(w1,·) (exact
    integer division, both engines identical), and each doc reports
    its bigram count, summed scaled probability, and integer mean. A
    doc of common transitions scores high; boilerplate keyboard-mash
    scores near zero. Plan: one token explode, one bigram groupBy (the
    LM), one conditional-total groupBy, then a bigram-keyed hash join
    back to doc bigrams — shuffle ∝ corpus tokens."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.posexplode(T.tokens(F.col("text"))).alias("i", "w"))
    a = toks.alias("a")
    b = toks.alias("b")
    big = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("b.i") == F.col("a.i") + 1),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.w").alias("w1"),
        F.col("b.w").alias("w2"),
    )
    lm = big.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    uni = lm.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    scored = (
        big.join(lm, ["w1", "w2"])
        .join(uni, "w1")
        .select(
            "doc_id",
            F.expr(f"(c12 * cast({_SURP_SCALE} as bigint)) div c1").cast("long").alias("p"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("p").cast("long").alias("sum_p"),
        )
        .withColumn("mean_p", F.expr("sum_p div n_bigrams").cast("long"))
    )



@register(
    "zipf_doubling_slope_sources",
    """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), tf AS (
  SELECT source, w, cast(count(*) as bigint) AS f FROM toks GROUP BY source, w
), ranked AS (
  SELECT source, f,
         cast(row_number() OVER (PARTITION BY source ORDER BY f DESC, w) as bigint) AS r
  FROM tf
), pts AS (
  SELECT source,
         cast(len(bin(r)) - 1 as bigint) AS x,
         cast(len(bin(f)) - 1 as bigint) AS y
  FROM ranked
), s AS (
  SELECT source, cast(count(*) as bigint) AS n,
         cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
         cast(sum(x * x) as bigint) AS sxx, cast(sum(x * y) as bigint) AS sxy
  FROM pts GROUP BY source
)
SELECT source, n, sx, sy, sxx, sxy,
       cast(n * sxy - sx * sy as bigint) AS slope_num,
       cast(n * sxx - sx * sx as bigint) AS slope_den,
       cast(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                 ELSE ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
            END as bigint) AS slope_q
FROM s
""",
)
def zipf_doubling_slope_sources(spark, sf_dir):
    """Zipf exponent per source, fit without a single transcendental:
    every term contributes the point (⌊log2 rank⌋, ⌊log2 freq⌋), both
    computed EXACTLY as len(bin(k))−1 (binary-string length — integer
    in both engines, no libm), and the OLS slope is emitted as the
    exact integer pair (n·Σxy − ΣxΣy, n·Σxx − Σx²) plus a 1e6
    fixed-point quotient. A healthy natural-language source slopes
    near −1; keyword-stuffed or templated hosts flatten — a corpus-QA
    signal next to lexical_stats/vocab_growth. One token explode, one
    (source, term) agg, one per-source ranking window."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    tf = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("f"))
    w_rank = Window.partitionBy("source").orderBy(F.col("f").desc(), "w")
    pts = tf.select(
        "source",
        (F.length(F.bin(F.row_number().over(w_rank).cast("long"))) - 1)
        .cast("long")
        .alias("x"),
        (F.length(F.bin(F.col("f"))) - 1).cast("long").alias("y"),
    )
    s = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        "source",
        "n",
        "sx",
        "sy",
        "sxx",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long").alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long").alias("slope_den"),
        F.when(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") == 0, F.lit(0))
        .otherwise(
            F.expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)")
        )
        .cast("long")
        .alias("slope_q"),
    )



@register(
    "chi2_terms_by_lang",
    f"""
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), raw AS (
  SELECT lang, w, cast(count(*) as bigint) AS o FROM toks GROUP BY lang, w
), keep AS (
  SELECT w FROM raw GROUP BY w HAVING sum(o) >= {_CHI2_MIN_FREQ}
), obs AS (SELECT raw.* FROM raw JOIN keep USING (w)),
r AS (SELECT lang, cast(sum(o) as bigint) AS rt FROM obs GROUP BY lang),
c AS (SELECT w, cast(sum(o) as bigint) AS ct FROM obs GROUP BY w),
n AS (SELECT cast(sum(o) as bigint) AS nt FROM obs),
d AS (
  SELECT obs.lang, obs.w, obs.o, r.rt, c.ct,
         cast(obs.o as hugeint) * cast(n.nt as hugeint)
           - cast(r.rt as hugeint) * cast(c.ct as hugeint) AS dev,
         cast(n.nt as hugeint) * cast(r.rt as hugeint) * cast(c.ct as hugeint) AS den_h
  FROM obs JOIN r USING (lang) JOIN c USING (w) CROSS JOIN n
), scored AS (
  SELECT lang, w, o, rt, ct,
         cast(dev * dev as double) / cast(den_h as double) AS contrib
  FROM d
), topk AS (
  SELECT lang, w, o, rt, ct, contrib,
         cast(row_number() OVER (PARTITION BY lang ORDER BY contrib DESC, w) as int) AS rk
  FROM scored
)
SELECT lang, w, o, rt, ct, contrib, rk FROM topk WHERE rk <= {_CHI2_TOPK}
""",
)
def chi2_terms_by_lang(spark, sf_dir):
    """Chi-square term selection per language — the classic supervised
    feature-selection pass a lang-id / topic pipeline runs over the
    (lang × term) contingency matrix: per kept term (global freq ≥ 5,
    the df floor that bounds the matrix at web scale), contribution
    (O·N − R·C)²/(N·R·C) with dev/num/den exact in DECIMAL(38,0) ↔
    HUGEINT (the chisq_contrib discipline — one correctly-rounded
    double per cell at the very end), then the top 10 terms per
    language by a group-limit window. Marginals are computed on the
    FILTERED matrix so the table is self-consistent. Shuffles: token
    explode → (lang, term) agg → term-keyed df-filter join; the grand
    total is the allowlisted 1-row broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(T.tokens(F.col("text"))).alias("w"))
    raw = toks.groupBy("lang", "w").agg(F.count("*").cast("long").alias("o"))
    keep = raw.groupBy("w").agg(F.sum("o").alias("tot")).filter(
        F.col("tot") >= _CHI2_MIN_FREQ
    ).select("w")
    obs = raw.join(keep, "w")
    r = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    c = obs.groupBy("w").agg(F.sum("o").cast("long").alias("ct"))
    n = obs.agg(F.sum("o").cast("long").alias("nt"))
    j = (
        obs.join(F.broadcast(r), "lang")
        .join(c, "w")
        .crossJoin(F.broadcast(n))
    )
    d38 = "decimal(38,0)"
    o_, nt_, rt_, ct_ = (F.col(x).cast(d38) for x in ("o", "nt", "rt", "ct"))
    dev = (o_ * nt_ - rt_ * ct_).cast(d38)
    scored = j.select(
        "lang",
        "w",
        "o",
        "rt",
        "ct",
        ((dev * dev).cast(d38).cast("double") / (nt_ * rt_ * ct_).cast(d38).cast("double")).alias(
            "contrib"
        ),
    )
    w_top = Window.partitionBy("lang").orderBy(F.col("contrib").desc(), "w")
    return (
        scored.withColumn("rk", F.row_number().over(w_top).cast("int"))
        .filter(F.col("rk") <= _CHI2_TOPK)
        .select("lang", "w", "o", "rt", "ct", "contrib", "rk")
    )



@register(
    "vocab_topk_share_sources",
    f"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), tf AS (
  SELECT source, w, cast(count(*) as bigint) AS f FROM toks GROUP BY source, w
), ranked AS (
  SELECT source, f,
         cast(row_number() OVER (PARTITION BY source ORDER BY f DESC, w) as bigint) AS r
  FROM tf
), tot AS (
  SELECT source, cast(sum(f) as bigint) AS t, cast(count(*) as bigint) AS v
  FROM ranked GROUP BY source
), ks(k) AS (VALUES {', '.join(f'({k})' for k in _VSHARE_KS)})
SELECT r.source, ks.k,
       cast(sum(CASE WHEN r.r <= ks.k THEN r.f ELSE 0 END) as bigint) AS top_f,
       any_value(tot.t) AS total_f,
       any_value(tot.v) AS vocab,
       cast((sum(CASE WHEN r.r <= ks.k THEN r.f ELSE 0 END) * 1000000) // any_value(tot.t)
            as bigint) AS share_q
FROM ranked r JOIN tot ON tot.source = r.source CROSS JOIN ks
GROUP BY r.source, ks.k
""",
)
def vocab_topk_share_sources(spark, sf_dir):
    """Vocabulary concentration curve per source: the share of all
    tokens captured by the top-{{10,100,1000}} terms (1e6 fixed-point)
    — the template/boilerplate detector that complements the Zipf
    slope (a templated host's top-10 share saturates; organic text
    doesn't). One (source, term) agg, one per-source ranking window,
    and a 3-row k-dim broadcast. Integer exact."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    tf = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("f"))
    w_rank = Window.partitionBy("source").orderBy(F.col("f").desc(), "w")
    ranked = tf.select("source", "f", F.row_number().over(w_rank).cast("long").alias("r"))
    tot = ranked.groupBy("source").agg(
        F.sum("f").cast("long").alias("t"), F.count("*").cast("long").alias("v")
    )
    ks = spark.createDataFrame([(k,) for k in _VSHARE_KS], "k int")
    return (
        ranked.join(tot, "source")
        .crossJoin(F.broadcast(ks))
        .groupBy("source", "k")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("k"), F.col("f")).otherwise(0))
            .cast("long")
            .alias("top_f"),
            F.first("t").alias("total_f"),
            F.first("v").alias("vocab"),
        )
        .withColumn("share_q", F.expr("(top_f * 1000000) div total_f").cast("long"))
    )



@register(
    "rle_profile_docs",
    """
WITH pos AS (
  SELECT doc_id, len(text) AS n,
         unnest(generate_series(2, len(text))) AS i, text
  FROM documents
),
brk AS (
  SELECT doc_id, any_value(n) AS n,
         cast(sum(CASE WHEN substr(text, cast(i as int), 1)
                        <> substr(text, cast(i as int) - 1, 1) THEN 1 ELSE 0 END) as bigint)
           AS n_breaks
  FROM pos GROUP BY doc_id
)
SELECT d.doc_id, cast(d.n_chars as bigint) AS n_chars,
       cast(coalesce(b.n_breaks, 0) + 1 as bigint) AS n_runs,
       cast((cast(coalesce(b.n_breaks, 0) + 1 as bigint) * 1000000) // d.n_chars as bigint)
         AS rle_ratio_q
FROM documents d LEFT JOIN brk b ON b.doc_id = d.doc_id
WHERE d.n_chars > 0
""",
)
def rle_profile_docs(spark, sf_dir):
    """Run-length-encoding compressibility profile — the ORACLED
    stand-in for compression_ratio_docs (whose zlib output is
    library-specific, hence rows-only): runs = adjacent-differing-char
    breaks + 1, ratio = runs/chars in 1e6 fixed point. Long-run
    keyboard-mash and padded boilerplate score low; natural text sits
    near 1. One linear position explode + one per-doc agg — no
    windows, no self-join; shuffle ∝ corpus chars."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    pos = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(2), F.length("text"))).alias("i"),
    )
    brk = pos.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.expr("substring(text, cast(i as int), 1) <> substring(text, cast(i as int) - 1, 1)"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_breaks")
    )
    return (
        d.filter(F.col("n_chars") > 0)
        .join(brk, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            (F.coalesce(F.col("n_breaks"), F.lit(0)) + 1).cast("long").alias("n_runs"),
        )
        .withColumn("rle_ratio_q", F.expr("(n_runs * 1000000) div n_chars").cast("long"))
    )



@register(
    "charclass_histogram_docs",
    f"""
WITH c AS (
  SELECT source,
         {', '.join(f"cast(sum(len(regexp_extract_all(text, '{pat}'))) as bigint) AS {name}" for name, pat in _CHARCLASSES)},
         cast(sum(len(text)) as bigint) AS total
  FROM documents GROUP BY source
)
SELECT source, letters, digits, spaces, punct, total,
       cast(total - letters - digits - spaces - punct as bigint) AS other,
       cast((letters * 1000000) // total as bigint) AS letters_q,
       cast((digits * 1000000) // total as bigint) AS digits_q
FROM c
""",
)
def charclass_histogram_docs(spark, sf_dir):
    """Character-class composition per source (the mixed-script /
    numeric-spam / markup-residue detector a crawl-QA pass runs before
    language ID): letter, digit, space, and punctuation counts from
    identical explicit character-class regexes in both engines (no
    \\p{{...}} names — those bind to each engine's Unicode table
    version), plus 1e6 fixed-point shares. One scan, one agg; the
    regex work is JVM codegen, not Python."""
    d = load(spark, sf_dir, "documents")
    aggs = [
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)))
        .cast("long")
        .alias(name)
        for name, pat in _CHARCLASSES
    ]
    aggs.append(F.sum(F.length("text")).cast("long").alias("total"))
    c = d.groupBy("source").agg(*aggs)
    return c.select(
        "source",
        "letters",
        "digits",
        "spaces",
        "punct",
        "total",
        (F.col("total") - F.col("letters") - F.col("digits") - F.col("spaces") - F.col("punct"))
        .cast("long")
        .alias("other"),
        F.expr("(letters * 1000000) div total").cast("long").alias("letters_q"),
        F.expr("(digits * 1000000) div total").cast("long").alias("digits_q"),
    )



@register(
    "unique_prefix_urls",
    f"""
WITH urls AS (
  SELECT DISTINCT concat('https://', source, '/',
                         substr(md5(concat('u:', cast(doc_id as varchar))), 1,
                                cast(1 + {_UPF_H} % 12 as int))) AS url
  FROM documents
),
ranked AS (
  SELECT url, cast(row_number() OVER (ORDER BY url) as bigint) AS rn FROM urls
),
pairs AS (
  SELECT a.url AS ua, b.url AS ub, a.rn
  FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
),
lcp AS (
  SELECT rn,
         coalesce(min(CASE WHEN substr(ua, cast(i as int), 1) <> substr(ub, cast(i as int), 1)
                           THEN i END) - 1,
                  least(len(ua), len(ub))) AS l
  FROM (SELECT ua, ub, rn, unnest(generate_series(1, least(len(ua), len(ub)))) AS i
        FROM pairs)
  GROUP BY rn, ua, ub
),
per AS (
  SELECT r.url, r.rn, len(r.url) AS ln,
         greatest(coalesce(lp.l, 0), coalesce(ln_.l, 0)) AS maxlcp
  FROM ranked r
  LEFT JOIN lcp lp ON lp.rn = r.rn - 1
  LEFT JOIN lcp ln_ ON ln_.rn = r.rn
)
SELECT url, cast(ln as bigint) AS url_len,
       cast(least(maxlcp + 1, ln) as bigint) AS uniq_prefix_len,
       CASE WHEN maxlcp + 1 > ln THEN 1 ELSE 0 END AS is_prefix_of_other
FROM per
""",
)
def unique_prefix_urls(spark, sf_dir):
    """Shortest unique prefix per URL (the minimal discriminating key —
    what a prefix-compressed URL index or autocomplete layer stores):
    the classic sort-neighbor reduction — a string's shortest unique
    prefix depends ONLY on its two lexicographic neighbors, so one
    global sort (two-phase rank, no single-partition window), one
    rn+1 self-join, and a per-pair LCP by exploding character
    positions (linear in total chars). maxlcp+1 capped at the URL's
    own length flags exact-prefix collisions. DuckDB replays the
    identical neighbor LCP."""
    from gipspark.operators.ranking import global_row_number

    d = load(spark, sf_dir, "documents")
    h = D.md5_long(F.concat(F.lit("u:"), F.col("doc_id").cast("string")))
    urls = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/"),
            F.substring(
                F.md5(F.concat(F.lit("u:"), F.col("doc_id").cast("string"))),
                F.lit(1),
                (1 + h % 12).cast("int"),
            ),
        ).alias("url")
    ).distinct()
    ranked = global_row_number(urls, ["url"], out="rn")
    a = ranked.alias("a")
    b = ranked.alias("b")
    pairs = a.join(b, F.col("b.rn") == F.col("a.rn") + 1).select(
        F.col("a.url").alias("ua"), F.col("b.url").alias("ub"), F.col("a.rn").alias("rn")
    )
    expl = pairs.select(
        "ua",
        "ub",
        "rn",
        F.explode(F.sequence(F.lit(1), F.least(F.length("ua"), F.length("ub")))).alias("i"),
    )
    lcp = (
        expl.groupBy("rn", "ua", "ub")
        .agg(
            F.min(
                F.when(
                    F.expr(
                        "substring(ua, cast(i as int), 1) <> substring(ub, cast(i as int), 1)"
                    ),
                    F.col("i"),
                )
            ).alias("firstdiff")
        )
        .select(
            "rn",
            F.coalesce(
                F.col("firstdiff") - 1, F.least(F.length("ua"), F.length("ub"))
            ).alias("l"),
        )
    )
    lp = lcp.select((F.col("rn") + 1).alias("rn"), F.col("l").alias("l_prev"))
    ln_ = lcp.select("rn", F.col("l").alias("l_next"))
    per = (
        ranked.join(lp, "rn", "left")
        .join(ln_, "rn", "left")
        .select(
            "url",
            F.length("url").alias("ln"),
            F.greatest(
                F.coalesce(F.col("l_prev"), F.lit(0)), F.coalesce(F.col("l_next"), F.lit(0))
            ).alias("maxlcp"),
        )
    )
    return per.select(
        "url",
        F.col("ln").cast("long").alias("url_len"),
        F.least(F.col("maxlcp") + 1, F.col("ln")).cast("long").alias("uniq_prefix_len"),
        F.when(F.col("maxlcp") + 1 > F.col("ln"), 1).otherwise(0).alias("is_prefix_of_other"),
    )



@register(
    "doc_novelty_hosts",
    """
WITH toks AS (
  SELECT DISTINCT doc_id, source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), hdf AS (
  SELECT source, w, cast(count(*) as bigint) AS df FROM toks GROUP BY source, w
)
SELECT t.doc_id,
       cast(count(*) as bigint) AS n_distinct,
       cast(sum(CASE WHEN h.df >= 2 THEN 1 ELSE 0 END) as bigint) AS n_shared,
       cast(((count(*) - sum(CASE WHEN h.df >= 2 THEN 1 ELSE 0 END)) * 1000000)
            // count(*) as bigint) AS novelty_q
FROM toks t JOIN hdf h ON h.source = t.source AND h.w = t.w
GROUP BY t.doc_id
""",
)
def doc_novelty_hosts(spark, sf_dir):
    """Within-host novelty per doc — the boilerplate-vs-content signal
    a crawler uses to stop fetching a template-heavy host: the share
    of a doc's DISTINCT terms that appear in NO other doc of the same
    host (host-df = 1 ⇒ unique to this doc, since the doc itself
    contributes exactly one distinct occurrence). Navigation chrome
    shared across a host scores 0; genuinely new articles score high.
    One distinct-token explode, one (host, term) df agg, one df join
    back — shuffle ∝ distinct tokens, 1e6 fixed-point share."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .distinct()
    )
    hdf = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("df"))
    return (
        toks.join(hdf, ["source", "w"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("long").alias("n_shared"),
        )
        .withColumn(
            "novelty_q",
            F.expr("((n_distinct - n_shared) * 1000000) div n_distinct").cast("long"),
        )
    )



@register(
    "rrf_fusion_docs",
    f"""
WITH feat AS (
  SELECT doc_id, source, cast(n_chars as bigint) AS len_score,
         cast(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) as bigint)
           AS vocab_score,
         {D.MD5_LONG_SQL.format(x="concat('rrf:', cast(doc_id as varchar))")} AS tiebreak
  FROM documents
), ranked AS (
  SELECT doc_id, source,
         cast(row_number() OVER (PARTITION BY source ORDER BY len_score DESC, doc_id) as bigint) AS r1,
         cast(row_number() OVER (PARTITION BY source ORDER BY vocab_score DESC, doc_id) as bigint) AS r2,
         cast(row_number() OVER (PARTITION BY source ORDER BY tiebreak, doc_id) as bigint) AS r3
  FROM feat
), scored AS (
  SELECT doc_id, source, r1, r2, r3,
         {_RRF_SCALE} // ({_RRF_K} + r1) + {_RRF_SCALE} // ({_RRF_K} + r2)
           + {_RRF_SCALE} // ({_RRF_K} + r3) AS rrf_q
  FROM ranked
)
SELECT source, doc_id, r1, r2, r3, cast(rrf_q as bigint) AS rrf_q,
       cast(row_number() OVER (PARTITION BY source ORDER BY rrf_q DESC, doc_id) as int)
         AS fused_rank
FROM scored
QUALIFY fused_rank <= 3
""",
)
def rrf_fusion_docs(spark, sf_dir):
    """Reciprocal-rank fusion of three independent rankers per source
    (the zero-training ensemble every multi-signal search stack uses —
    Cormack's RRF): length, vocabulary richness, and an md5 shuffle
    baseline each produce a per-source ranking; the fused score
    Σ 1e9//(60+rank) is exact integer arithmetic (reciprocals as
    floor divisions — deterministic, unlike float 1/(k+r)), and the
    top-3 per source come from a group-limit window. All windows
    partition by source — fusion never needs a global sort."""
    d = load(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("len_score"),
        F.size(F.array_distinct(T.tokens(F.col("text")))).cast("long").alias("vocab_score"),
        D.md5_long(F.concat(F.lit("rrf:"), F.col("doc_id").cast("string"))).alias("tiebreak"),
    )
    w1 = Window.partitionBy("source").orderBy(F.col("len_score").desc(), "doc_id")
    w2 = Window.partitionBy("source").orderBy(F.col("vocab_score").desc(), "doc_id")
    w3 = Window.partitionBy("source").orderBy("tiebreak", "doc_id")
    ranked = feat.select(
        "doc_id",
        "source",
        F.row_number().over(w1).cast("long").alias("r1"),
        F.row_number().over(w2).cast("long").alias("r2"),
        F.row_number().over(w3).cast("long").alias("r3"),
    )
    scored = ranked.withColumn(
        "rrf_q",
        (
            F.expr(f"cast({_RRF_SCALE} as bigint) div ({_RRF_K} + r1)")
            + F.expr(f"cast({_RRF_SCALE} as bigint) div ({_RRF_K} + r2)")
            + F.expr(f"cast({_RRF_SCALE} as bigint) div ({_RRF_K} + r3)")
        ).cast("long"),
    )
    w_f = Window.partitionBy("source").orderBy(F.col("rrf_q").desc(), "doc_id")
    return (
        scored.withColumn("fused_rank", F.row_number().over(w_f).cast("int"))
        .filter(F.col("fused_rank") <= 3)
        .select("source", "doc_id", "r1", "r2", "r3", "rrf_q", "fused_rank")
    )



@register(
    "kwic_snippets_docs",
    f"""
WITH hits AS (
  {' UNION ALL '.join(
      f'''SELECT doc_id, source, '{t}' AS term, i,
         substr(text, cast(greatest(1, i - {_KWIC_CTX}) as int),
                cast(i - greatest(1, i - {_KWIC_CTX}) + {len(t)} + {_KWIC_CTX} as int)) AS snippet
  FROM (SELECT doc_id, source, text, unnest(generate_series(1, len(text) - {len(t) - 1})) AS i
        FROM documents)
  WHERE substr(text, cast(i as int), {len(t)}) = '{t}'
    AND (i = 1 OR substr(text, cast(i as int) - 1, 1) = ' ')
    AND (i + {len(t)} > len(text) OR substr(text, cast(i as int) + {len(t)}, 1) = ' ')'''
      for t in _KWIC_TERMS
  )}
),
firsts AS (
  SELECT term, source, doc_id, i, snippet,
         row_number() OVER (PARTITION BY term, source ORDER BY doc_id, i) AS rn
  FROM hits
)
SELECT h.term, h.source, cast(count(*) as bigint) AS n_hits,
       cast(count(DISTINCT h.doc_id) as bigint) AS n_docs,
       any_value(f.snippet) AS first_snippet
FROM hits h JOIN firsts f ON f.term = h.term AND f.source = h.source AND f.rn = 1
GROUP BY h.term, h.source
""",
)
def kwic_snippets_docs(spark, sf_dir):
    """Keyword-in-context concordance (the corpus-linguistics KWIC
    view — every search 'snippet' generator is this): exact
    whitespace-boundary matches of a literal term list found by a
    linear character-position explode, ±15-char context windows cut
    with pure substring arithmetic, and per (term, source) the hit
    count, doc frequency, and the deterministic first snippet
    (ordered by doc, offset). No regex engine differences to trust —
    both engines compare raw substrings. Scan cost is chars × terms,
    the same linear shape as the CDC chunker."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    parts = []
    for t in _KWIC_TERMS:
        tl = len(t)
        pos = d.select(
            "doc_id",
            "source",
            "text",
            F.explode(F.sequence(F.lit(1), F.length("text") - (tl - 1))).alias("i"),
        )
        m = pos.filter(
            (F.expr(f"substring(text, cast(i as int), {tl})") == t)
            & ((F.col("i") == 1) | (F.expr("substring(text, cast(i as int) - 1, 1)") == " "))
            & (
                (F.col("i") + tl > F.length("text"))
                | (F.expr(f"substring(text, cast(i as int) + {tl}, 1)") == " ")
            )
        ).select(
            "doc_id",
            "source",
            F.lit(t).alias("term"),
            "i",
            F.expr(
                f"substring(text, cast(greatest(1, i - {_KWIC_CTX}) as int), "
                f"cast(i - greatest(1, i - {_KWIC_CTX}) + {tl} + {_KWIC_CTX} as int))"
            ).alias("snippet"),
        )
        parts.append(m)
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionAll(p)
    w_first = Window.partitionBy("term", "source").orderBy("doc_id", "i")
    firsts = (
        hits.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select("term", "source", F.col("snippet").alias("first_snippet"))
    )
    return (
        hits.groupBy("term", "source")
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .join(firsts, ["term", "source"])
        .select("term", "source", "n_hits", "n_docs", "first_snippet")
    )



@register(
    "priority_sample_docs",
    f"""
WITH pri AS (
  SELECT doc_id, cast(n_chars as bigint) AS w,
         {D.MD5_LONG_SQL.format(x="concat('ps:', cast(doc_id as varchar))")}
           // greatest(cast(n_chars as bigint), 1) AS priority
  FROM documents
), ranked AS (
  SELECT doc_id, w, priority,
         cast(row_number() OVER (ORDER BY priority, doc_id) as int) AS rk
  FROM pri
)
SELECT doc_id, w, cast(priority as bigint) AS priority, rk
FROM ranked WHERE rk <= {_PS_K}
""",
)
def priority_sample_docs(spark, sf_dir):
    """Priority sampling (Duffield/Lund/Thorup — the weighted
    without-replacement scheme whose subset-sum estimates are
    near-optimal): each doc draws the deterministic md5 uniform and
    its priority is hash//weight, so heavier docs get systematically
    smaller priorities; the sample is the k smallest. RNG-free
    (repeatable across reruns — the property a lineage-audited
    pipeline needs), exact integer priorities; the top-k is
    TakeOrderedAndProject-shaped, never a full sort. Completes the
    sampling family: stratified (equal), systematic (cumulative),
    HT (inclusion-prob), priority (weighted min-k)."""
    d = load(spark, sf_dir, "documents")
    pri = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        D.md5_long(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))).alias("h"),
    ).select(
        "doc_id",
        "w",
        F.expr("h div greatest(w, cast(1 as bigint))").alias("priority"),
    )
    w_rank = Window.orderBy("priority", "doc_id")
    return (
        pri.withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= _PS_K)
        .select("doc_id", "w", F.col("priority").cast("long").alias("priority"), "rk")
    )



@register(
    "greedy_knapsack_docs",
    """
WITH items AS (
  SELECT doc_id,
         cast(n_chars as bigint) AS weight,
         cast(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) as bigint)
           AS value
  FROM documents WHERE n_chars > 0
),
budget AS (SELECT cast(sum(weight) // 10 as bigint) AS cap FROM items),
ranked AS (
  SELECT doc_id, weight, value,
         (value * 1000000) // weight AS density_q,
         sum(weight) OVER (ORDER BY (value * 1000000) // weight DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM items
)
SELECT r.doc_id, r.weight, r.value, cast(r.density_q as bigint) AS density_q,
       cast(r.cum_w as bigint) AS cum_w
FROM ranked r CROSS JOIN budget b
WHERE r.cum_w <= b.cap
""",
)
def greedy_knapsack_docs(spark, sf_dir):
    """Greedy density knapsack — select docs maximizing vocabulary
    value under a character budget (10% of the corpus), the
    budgeted-crawl / training-token-budget selection heuristic (and
    the classic 1/2-approximation): density = value·1e6 // weight is
    an exact integer (no float ratio to disagree on), the take-while
    is a running-weight window in density order, and the budget is
    the allowlisted 1-row broadcast. At scale the prefix cumsum runs
    on the two-phase pattern; the fixture's single window documents
    the semantics."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    items = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.size(F.array_distinct(T.tokens(F.col("text")))).cast("long").alias("value"),
    )
    budget = items.agg(F.expr("sum(weight) div 10").cast("long").alias("cap"))
    ranked = items.withColumn(
        "density_q", F.expr("(value * 1000000) div weight").cast("long")
    )
    w_cum = Window.orderBy(F.col("density_q").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = ranked.withColumn("cum_w", F.sum("weight").over(w_cum).cast("long"))
    return (
        ranked.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_w") <= F.col("cap"))
        .select("doc_id", "weight", "value", "density_q", "cum_w")
    )



@register(
    "condorcet_terms",
    f"""
WITH t AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tc AS (
  SELECT source, term, cast(count(*) as bigint) AS c
  FROM t WHERE term <> '' GROUP BY source, term
), cand AS (
  SELECT term, cast(sum(c) as bigint) AS gc
  FROM tc GROUP BY term ORDER BY gc DESC, term LIMIT {_CONDORCET_K}
), srcs AS (SELECT DISTINCT source FROM tc),
ballot AS (
  SELECT s.source, cand.term, cand.gc, coalesce(tc.c, 0) AS c
  FROM srcs s CROSS JOIN cand
  LEFT JOIN tc ON tc.source = s.source AND tc.term = cand.term
), ranked AS (
  SELECT source, term, gc, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
  FROM ballot
), borda AS (
  SELECT term, any_value(gc) AS gc,
         cast(sum({_CONDORCET_K} - rk) as bigint) AS borda
  FROM ranked GROUP BY term
), duels AS (
  SELECT a.term AS ta, b.term AS tb,
         cast(count(*) FILTER (WHERE a.c > b.c) as bigint) AS a_wins,
         cast(count(*) FILTER (WHERE b.c > a.c) as bigint) AS b_wins
  FROM ballot a JOIN ballot b
    ON a.source = b.source AND a.term < b.term
  GROUP BY a.term, b.term
), cop AS (
  SELECT term,
         cast(sum(CASE WHEN w > l THEN 1 WHEN w < l THEN -1 ELSE 0 END) as bigint)
           AS copeland,
         cast(count(*) FILTER (WHERE w > l) as bigint) AS n_beaten
  FROM (
    SELECT ta AS term, a_wins AS w, b_wins AS l FROM duels
    UNION ALL
    SELECT tb AS term, b_wins AS w, a_wins AS l FROM duels
  ) GROUP BY term
)
SELECT borda.term, borda.gc AS global_count, borda.borda,
       cop.copeland, cop.n_beaten,
       CASE WHEN cop.n_beaten = {_CONDORCET_K} - 1 THEN true ELSE false END
         AS condorcet_winner
FROM borda JOIN cop ON cop.term = borda.term
ORDER BY borda.borda DESC, borda.term
""",
)
def condorcet_terms(spark, sf_dir):
    """Rank aggregation by social-choice rules over per-source term
    counts — each source is a VOTER ranking the top-{_CONDORCET_K}
    global terms by its own frequency, and the query reports Borda
    scores (positional), Copeland scores (pairwise-majority wins minus
    losses), and the Condorcet winner flag (beats every rival head-to-
    head). The metasearch complement to rrf_fusion_docs: RRF fuses by
    reciprocal position; Condorcet/Copeland expose where sources
    DISAGREE (a term with high Borda but negative Copeland is loved by
    a few voters and beaten by most). Exact integers: ballots are
    counts, duels are count comparisons, ranks break ties by term.
    Scale shape: one (source,term) hash agg on the big table; the
    candidate set is top-K bounded, so ballots are #sources x K rows
    and duels K^2 x #sources — dim scale forever."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tc = t.groupBy("source", "term").agg(F.count("*").cast("long").alias("c"))
    cand = (
        tc.groupBy("term")
        .agg(F.sum("c").cast("long").alias("gc"))
        .orderBy(F.col("gc").desc(), "term")
        .limit(_CONDORCET_K)
    )
    srcs = tc.select("source").distinct()
    ballot = (
        srcs.crossJoin(F.broadcast(cand))
        .join(tc, ["source", "term"], "left")
        .select("source", "term", "gc", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    ranked = ballot.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.col("c").desc(), "term")
        ),
    )
    borda = ranked.groupBy("term").agg(
        F.any_value("gc").alias("gc"),
        F.sum(F.lit(_CONDORCET_K) - F.col("rk")).cast("long").alias("borda"),
    )
    a = ballot.select(
        F.col("source").alias("s"), F.col("term").alias("ta"), F.col("c").alias("c_a")
    )
    b = ballot.select(
        F.col("source").alias("s"), F.col("term").alias("tb"), F.col("c").alias("c_b")
    )
    duels = (
        a.join(b, (a["s"] == b["s"]) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.when(F.col("c_a") > F.col("c_b"), 1)).cast("long").alias("a_wins"),
            F.count(F.when(F.col("c_b") > F.col("c_a"), 1)).cast("long").alias("b_wins"),
        )
    )
    both = duels.select(
        F.col("ta").alias("term"), F.col("a_wins").alias("w"), F.col("b_wins").alias("l")
    ).unionAll(
        duels.select(
            F.col("tb").alias("term"), F.col("b_wins").alias("w"), F.col("a_wins").alias("l")
        )
    )
    cop = both.groupBy("term").agg(
        F.sum(
            F.when(F.col("w") > F.col("l"), 1)
            .when(F.col("w") < F.col("l"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("copeland"),
        F.count(F.when(F.col("w") > F.col("l"), 1)).cast("long").alias("n_beaten"),
    )
    return (
        borda.join(cop, "term")
        .select(
            "term",
            F.col("gc").alias("global_count"),
            "borda",
            "copeland",
            "n_beaten",
            (F.col("n_beaten") == _CONDORCET_K - 1).alias("condorcet_winner"),
        )
        .orderBy(F.col("borda").desc(), "term")
    )



@register(
    "roc_auc_docs",
    """
WITH m AS (
  SELECT cast(n_chars as bigint) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
), rk AS (
  SELECT pos,
         2 * rank() OVER (ORDER BY score) + count(*) OVER (PARTITION BY score) - 1
           AS r2
  FROM m
), tot AS (
  SELECT cast(sum(pos) as bigint) AS n_pos,
         cast(count(*) - sum(pos) as bigint) AS n_neg,
         cast(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) as bigint) AS rsum2
  FROM rk
), h AS (
  SELECT score, cast(count(*) as bigint) AS c, cast(sum(pos) as bigint) AS p
  FROM m GROUP BY score
), dec AS (
  SELECT score,
         sum(c) OVER (ORDER BY score DESC) AS n_ge,
         sum(p) OVER (ORDER BY score DESC) AS tp,
         ntile(10) OVER (ORDER BY score DESC) AS tile
  FROM h
), pick AS (
  SELECT tile, max(score) FILTER (WHERE rn = 1) AS threshold,
         max(n_ge) FILTER (WHERE rn = 1) AS n_ge,
         max(tp) FILTER (WHERE rn = 1) AS tp
  FROM (SELECT *, row_number() OVER (PARTITION BY tile ORDER BY score) AS rn
        FROM dec)
  GROUP BY tile
)
SELECT cast(pick.tile as int) AS decile, cast(pick.threshold as bigint) AS threshold,
       cast(pick.tp as bigint) AS tp,
       cast(pick.n_ge - pick.tp as bigint) AS fp,
       cast(pick.tp * 1000000 // tot.n_pos as bigint) AS tpr_q,
       cast((pick.n_ge - pick.tp) * 1000000 // tot.n_neg as bigint) AS fpr_q,
       tot.n_pos, tot.n_neg,
       cast(tot.rsum2 - tot.n_pos * (tot.n_pos + 1) as bigint) AS u2,
       cast(tot.rsum2 - tot.n_pos * (tot.n_pos + 1) as double)
         / (2.0 * cast(tot.n_pos * tot.n_neg as double)) AS auc
FROM pick, tot ORDER BY decile
""",
)
def roc_auc_docs(spark, sf_dir):
    """ROC curve + exact AUC of document length as an is-English
    classifier — the model-evaluation table (calibration_ece_docs is
    the probability-quality complement; this is the RANKING-quality
    one). AUC comes from the rank formula with exact doubled-average
    ranks: u2 = 2*U = sum(r2 over positives) - n_pos(n_pos+1), auc =
    u2 / (2*n_pos*n_neg) as the only float (ties counted half, the
    standard convention). The curve samples score-descending deciles:
    each row is the exact confusion census (tp, fp) at that threshold
    with floor-tick TPR/FPR. Scale shape: one global rank window +
    one score histogram — never a per-threshold rescan."""
    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        F.col("n_chars").cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    rk = m.select(
        "pos",
        (
            F.lit(2) * F.rank().over(Window.orderBy("score"))
            + F.count("*").over(Window.partitionBy("score"))
            - F.lit(1)
        ).alias("r2"),
    )
    tot = rk.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("pos")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("pos") == 1, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("rsum2"),
    )
    h = m.groupBy("score").agg(
        F.count("*").cast("long").alias("c"), F.sum("pos").cast("long").alias("p")
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = h.select(
        "score",
        F.sum("c").over(wdesc).alias("n_ge"),
        F.sum("p").over(wdesc).alias("tp"),
        F.ntile(10).over(Window.orderBy(F.col("score").desc())).alias("tile"),
    )
    pick = (
        dec.withColumn(
            "rn", F.row_number().over(Window.partitionBy("tile").orderBy("score"))
        )
        .filter(F.col("rn") == 1)
        .select("tile", F.col("score").alias("threshold"), "n_ge", "tp")
    )
    return (
        pick.crossJoin(F.broadcast(tot))
        .select(
            F.col("tile").cast("int").alias("decile"),
            F.col("threshold").cast("long").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            (F.col("n_ge") - F.col("tp")).cast("long").alias("fp"),
            F.expr("(tp * 1000000) div n_pos").cast("long").alias("tpr_q"),
            F.expr("((n_ge - tp) * 1000000) div n_neg").cast("long").alias("fpr_q"),
            "n_pos",
            "n_neg",
            (F.col("rsum2") - F.col("n_pos") * (F.col("n_pos") + 1))
            .cast("long")
            .alias("u2"),
            (
                (F.col("rsum2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
                / (F.lit(2.0) * (F.col("n_pos") * F.col("n_neg")).cast("double"))
            ).alias("auc"),
        )
        .orderBy("decile")
    )



@register(
    "chao1_vocab_estimate",
    """
WITH t AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tc AS (
  SELECT source, term, cast(count(*) as bigint) AS r
  FROM t WHERE term <> '' GROUP BY source, term
)
SELECT source,
       cast(count(*) as bigint) AS vocab,
       cast(count(*) FILTER (WHERE r = 1) as bigint) AS f1,
       cast(count(*) FILTER (WHERE r = 2) as bigint) AS f2,
       cast(CASE WHEN count(*) FILTER (WHERE r = 2) > 0
                 THEN count(*) * 1000000
                      + (count(*) FILTER (WHERE r = 1))
                        * (count(*) FILTER (WHERE r = 1)) * 1000000
                        // (2 * count(*) FILTER (WHERE r = 2))
                 ELSE count(*) * 1000000
                      + (count(*) FILTER (WHERE r = 1))
                        * ((count(*) FILTER (WHERE r = 1)) - 1) * 1000000 // 2
            END as bigint) AS chao1_q
FROM tc GROUP BY source ORDER BY source
""",
)
def chao1_vocab_estimate(spark, sf_dir):
    """Chao1 species-richness estimate of each source's TRUE
    vocabulary — how many distinct terms the source would show with
    infinite sampling, from the observed singleton/doubleton counts:
    chao1 = V + F1^2/(2 F2) (bias-corrected V + F1(F1-1)/2 when F2=0),
    in floor micro-ticks. The asymptote complement to
    vocab_growth_curve (the trajectory) and capture_recapture_dups
    (the same estimator family aimed at duplicates): a curation
    pipeline compares chao1 against observed V to decide whether a
    source is exhausted or barely sampled. One (source,term) agg +
    one source agg, exact integers throughout."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tc = t.groupBy("source", "term").agg(F.count("*").cast("long").alias("r"))
    g = tc.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.count(F.when(F.col("r") == 1, 1)).cast("long").alias("f1"),
        F.count(F.when(F.col("r") == 2, 1)).cast("long").alias("f2"),
    )
    return g.select(
        "source",
        "vocab",
        "f1",
        "f2",
        F.expr(
            """cast(CASE WHEN f2 > 0
                     THEN vocab * 1000000 + (f1 * f1 * 1000000) div (2 * f2)
                     ELSE vocab * 1000000 + (f1 * (f1 - 1) * 1000000) div 2
                END as bigint)"""
        ).alias("chao1_q"),
    ).orderBy("source")



@register("bpe_merge_training", _bpe_oracle_sql())
def bpe_merge_training(spark, sf_dir):
    """Byte-pair-encoding merge TRAINING — the tokenizer-construction
    step itself (bpe_token_counts applies a fixed tokenizer; this
    learns one): {_BPE_ROUNDS} greedy merge rounds over the word-
    frequency table, each round counting weighted adjacent symbol
    pairs, picking the argmax (weight desc, pair asc — deterministic),
    and rewriting every word. The rewrite trick that keeps it exact
    in BOTH engines: symbols join with DOUBLE spaces and the padded
    pattern ' a  b ' consumes only one separator, so one
    left-to-right replace() merges all disjoint occurrences
    greedily = classic BPE; overlapping runs ('a a a') merge once,
    also classic. Scale shape: the big table is touched ONCE by the
    word-frequency agg (the Sennrich insight — BPE trains on the
    word table, not the corpus); each round is a dim-scale explode +
    agg + broadcast 1-row merge rule. Outputs the learned merge list
    with weights and the shrinking symbol total."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    w = words.select(
        "word",
        "freq",
        F.concat(
            F.lit(" "),
            F.replace(
                F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
                F.lit(" "),
                F.lit("  "),
            ),
            F.lit("  </w> "),
        ).alias("s"),
    ).localCheckpoint()
    out = None
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = w.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(trim(s), ' +')) - 1),"
                    " i -> element_at(split(trim(s), ' +'), i) || ' ' ||"
                    " element_at(split(trim(s), ' +'), i + 1))"
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("weight"))
            .orderBy(F.col("weight").desc(), "pair")
            .limit(1)
            .localCheckpoint()
        )
        w = (
            w.crossJoin(F.broadcast(best))
            .select(
                "word",
                "freq",
                F.replace(
                    F.col("s"),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("pair"), F.lit(" "), F.lit("  ")),
                        F.lit(" "),
                    ),
                    F.concat(
                        F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")
                    ),
                ).alias("s"),
            )
            .localCheckpoint()
        )
        nsym = w.agg(
            F.sum(F.col("freq") * F.size(F.split(F.trim(F.col("s")), " +")))
            .cast("long")
            .alias("n_symbols_after")
        )
        row = (
            best.crossJoin(F.broadcast(nsym))
            .select(
                F.lit(r).alias("rnd"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "weight",
                "n_symbols_after",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("rnd")



@register(
    "knee_detection_terms",
    f"""
WITH t AS (
  SELECT unnest({D.shingles_all_sql('text', 3)}) AS term FROM documents
), tc AS (
  SELECT term, cast(count(*) as bigint) AS c FROM t WHERE term <> '' GROUP BY term
), rk AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r,
         sum(c) OVER (ORDER BY c DESC, term) AS headsum
  FROM tc
), ends AS (
  SELECT cast(max(r) as bigint) AS vn,
         cast(max(CASE WHEN r = 1 THEN c END) as bigint) AS c1,
         cast(max(CASE WHEN rl = 1 THEN c END) as bigint) AS cv,
         cast(sum(c) as bigint) AS total
  FROM (SELECT c, r, row_number() OVER (ORDER BY c ASC, r DESC) AS rl FROM rk)
), scored AS (
  SELECT rk.r, rk.c, rk.headsum,
         abs((ends.vn - 1) * (rk.c - ends.c1) - (ends.cv - ends.c1) * (rk.r - 1))
           AS cross_mag
  FROM rk, ends
), pick AS (
  SELECT r, c, headsum, cross_mag,
         row_number() OVER (ORDER BY cross_mag DESC, r) AS rn
  FROM scored
)
SELECT ends.vn AS vocab, pick.r AS knee_rank, pick.c AS knee_count,
       cast(pick.cross_mag as bigint) AS cross_at_knee,
       cast(pick.headsum * 1000000 // ends.total as bigint) AS head_mass_q
FROM pick, ends WHERE pick.rn = 1
""",
)
def knee_detection_terms(spark, sf_dir):
    """Knee/elbow detection on the trigram rank-frequency curve —
    the Kneedle-style cutoff chooser: the knee is the rank whose point
    lies farthest from the chord between the curve's endpoints, i.e.
    argmax |cross((P1->PN), (P1->Pr))| — an EXACT integer cross
    product (no normalization needed for the argmax since the chord is
    fixed), with ties to the smallest rank. This is how a pipeline
    picks 'keep the head above the knee' thresholds (vocab caps,
    stop-shingle lists, candidate cutoffs) without a magic constant;
    head_mass_q reports what fraction of token mass the head up to
    the knee holds. Scale shape: one term agg + rank windows; the
    endpoints are a 1-row anchor."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(F.explode(D.shingles_all(F.col("text"), 3)).alias("term")).filter(
        F.col("term") != ""
    )
    tc = t.groupBy("term").agg(F.count("*").cast("long").alias("c"))
    wdesc = Window.orderBy(F.col("c").desc(), "term")
    rk = tc.select(
        "c",
        F.row_number().over(wdesc).alias("r"),
        F.sum("c").over(wdesc.rowsBetween(Window.unboundedPreceding, 0)).alias("headsum"),
    ).localCheckpoint()
    ends = rk.withColumn(
        "rl", F.row_number().over(Window.orderBy(F.col("c").asc(), F.col("r").desc()))
    ).agg(
        F.max("r").cast("long").alias("vn"),
        F.max(F.when(F.col("r") == 1, F.col("c"))).cast("long").alias("c1"),
        F.max(F.when(F.col("rl") == 1, F.col("c"))).cast("long").alias("cv"),
        F.sum("c").cast("long").alias("total"),
    )
    scored = rk.crossJoin(F.broadcast(ends)).select(
        "r",
        "c",
        "headsum",
        "vn",
        "total",
        F.abs(
            (F.col("vn") - 1) * (F.col("c") - F.col("c1"))
            - (F.col("cv") - F.col("c1")) * (F.col("r") - 1)
        ).alias("cross_mag"),
    )
    pick = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("cross_mag").desc(), "r"))
    ).filter(F.col("rn") == 1)
    return pick.select(
        F.col("vn").alias("vocab"),
        F.col("r").alias("knee_rank"),
        F.col("c").alias("knee_count"),
        F.col("cross_mag").cast("long").alias("cross_at_knee"),
        F.expr("(headsum * 1000000) div total").cast("long").alias("head_mass_q"),
    )



@register(
    "influence_topk_docs",
    """
WITH m AS (
  SELECT doc_id, cast(n_chars as bigint) AS y,
         cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) as bigint) AS x
  FROM documents
), s AS (
  SELECT cast(count(*) as HUGEINT) AS n,
         cast(sum(x) as HUGEINT) AS sx, cast(sum(y) as HUGEINT) AS sy,
         cast(sum(cast(x as HUGEINT) * x) as HUGEINT) AS sxx,
         cast(sum(cast(x as HUGEINT) * y) as HUGEINT) AS sxy
  FROM m
), c AS (
  SELECT n, sx, n * sxx - sx * sx AS det,
         sy * sxx - sx * sxy AS a_num, n * sxy - sx * sy AS b_num
  FROM s
), r AS (
  SELECT m.doc_id, m.x, m.y, c.n, c.det,
         cast(m.y as HUGEINT) * c.det - c.a_num - c.b_num * m.x AS e_det,
         c.det + (c.n * m.x - c.sx) * (c.n * m.x - c.sx) AS h_num
  FROM m, c
), sse AS (
  SELECT cast(sum(e_det * e_det) as HUGEINT) AS sse_d2 FROM r
), d AS (
  SELECT r.doc_id, r.x, r.y,
         cast(r.e_det as bigint) AS e_det,
         cast(r.h_num as bigint) AS h_num,
         cast(r.e_det as double) * cast(r.e_det as double)
           * cast(r.h_num as double)
           * cast(r.n - 2 as double) * cast(r.n as double) * cast(r.det as double)
           / (2.0 * cast(sse.sse_d2 as double)
              * cast(r.n * r.det - r.h_num as double)
              * cast(r.n * r.det - r.h_num as double)) AS cooks_d
  FROM r, sse
)
SELECT doc_id, x, y, e_det, h_num, cooks_d
FROM d ORDER BY cooks_d DESC, doc_id LIMIT 10
""",
)
def influence_topk_docs(spark, sf_dir):
    """Top-10 most influential rows of the length~tokens regression by
    exact Cook's distance — the model-audit step that names WHICH
    documents bend the fit (conformal_interval_contract bounds errors;
    this attributes them): D_i = E_i^2 * H_i * (n-2) * n * det /
    (2 * SSE_d2 * (n*det - H_i)^2), where E_i = y*det - A - B*x is
    the det-scaled residual, H_i = det + (n*x - Sx)^2 the n*det-scaled
    leverage, and SSE_d2 = Sum(E^2) — every component an exact integer
    from one moment aggregate, with Cook's D the only float, formed in
    one fixed textual order (the spearman convention; ranking doubles
    that are bit-identical both engines is safe). Scale shape: one
    moment agg + one broadcast scorer pass + TakeOrdered top-10."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("y"),
        T.token_count(F.col("text")).cast("long").alias("x"),
    )
    s = m.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    c = s.select(
        "n",
        "sx",
        F.expr("n * sxx - sx * sx").alias("det"),
        F.expr("sy * sxx - sx * sxy").alias("a_num"),
        F.expr("n * sxy - sx * sy").alias("b_num"),
    ).localCheckpoint()
    r = m.crossJoin(F.broadcast(c)).select(
        "doc_id",
        "x",
        "y",
        "n",
        "det",
        F.expr(f"cast(y as {dec}) * det - a_num - b_num * x").alias("e_det"),
        F.expr("det + (n * x - sx) * (n * x - sx)").alias("h_num"),
    )
    r = r.localCheckpoint()
    sse = r.agg(F.sum(F.col("e_det") * F.col("e_det")).cast(dec).alias("sse_d2"))
    d = r.crossJoin(F.broadcast(sse)).select(
        "doc_id",
        "x",
        "y",
        F.col("e_det").cast("long").alias("e_det"),
        F.col("h_num").cast("long").alias("h_num"),
        (
            F.col("e_det").cast("double")
            * F.col("e_det").cast("double")
            * F.col("h_num").cast("double")
            * (F.col("n") - 2).cast("double")
            * F.col("n").cast("double")
            * F.col("det").cast("double")
            / (
                F.lit(2.0)
                * F.col("sse_d2").cast("double")
                * (F.col("n") * F.col("det") - F.col("h_num")).cast("double")
                * (F.col("n") * F.col("det") - F.col("h_num")).cast("double")
            )
        ).alias("cooks_d"),
    )
    return d.orderBy(F.col("cooks_d").desc(), "doc_id").limit(10)



@register(
    "kendalls_w_terms",
    f"""
WITH t AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tc AS (
  SELECT source, term, cast(count(*) as bigint) AS c
  FROM t WHERE term <> '' GROUP BY source, term
), cand AS (
  SELECT term FROM (
    SELECT term, sum(c) AS gc FROM tc GROUP BY term
    ORDER BY gc DESC, term LIMIT {_CONDORCET_K}
  )
), srcs AS (SELECT DISTINCT source FROM tc),
ballot AS (
  SELECT s.source, cand.term, coalesce(tc.c, 0) AS c
  FROM srcs s CROSS JOIN cand
  LEFT JOIN tc ON tc.source = s.source AND tc.term = cand.term
), ranked AS (
  SELECT source, term,
         2 * rank() OVER (PARTITION BY source ORDER BY c DESC)
           + count(*) OVER (PARTITION BY source, c) - 1 AS r2
  FROM ballot
), rsum AS (
  SELECT term, cast(sum(r2) as bigint) AS r2sum FROM ranked GROUP BY term
), k AS (
  SELECT cast(count(*) as bigint) AS n,
         (SELECT cast(count(*) as bigint) FROM srcs) AS m
  FROM cand
), dev AS (
  SELECT cast(sum((cast(r2sum as HUGEINT) * k.n - tot.t) *
                  (cast(r2sum as HUGEINT) * k.n - tot.t)) as HUGEINT) AS s4n2
  FROM rsum, k, (SELECT cast(sum(r2sum) as HUGEINT) AS t FROM rsum) tot
)
SELECT k.m AS n_voters, k.n AS n_items,
       cast(dev.s4n2 as double)
         / (cast(k.n as double) * k.n)
         / (cast(k.m as double) * k.m * (cast(k.n as double) * k.n * k.n - k.n))
         * 12.0 / 4.0 AS w
FROM k, dev
""",
)
def kendalls_w_terms(spark, sf_dir):
    """Kendall's W coefficient of concordance: do the 20 sources RANK
    the top-{_CONDORCET_K} terms consistently? (condorcet_terms asks
    who wins; W asks whether the voters even agree — W near 1 means
    one shared vocabulary ordering, near 0 means per-source dialects.)
    Ranks use the doubled-average-rank idiom per source-ballot, rank
    sums deviate from their exact mean via cross-multiplication
    (r2sum*n - total, so no division), and W = 12*S/(m^2(n^3-n)) with
    the doubling and n-scaling folded into one fixed-order float
    expression (the /4 un-doubles, the /n^2 un-scales). Scale shape:
    one (source,term) agg; ballots are m x n dim rows."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tc = t.groupBy("source", "term").agg(F.count("*").cast("long").alias("c"))
    cand = (
        tc.groupBy("term")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.col("gc").desc(), "term")
        .limit(_CONDORCET_K)
        .select("term")
    )
    srcs = tc.select("source").distinct()
    ballot = (
        srcs.crossJoin(F.broadcast(cand))
        .join(tc, ["source", "term"], "left")
        .select("source", "term", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    ranked = ballot.select(
        "source",
        "term",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("source").orderBy(F.col("c").desc()))
            + F.count("*").over(Window.partitionBy("source", "c"))
            - F.lit(1)
        ).alias("r2"),
    )
    rsum = ranked.groupBy("term").agg(F.sum("r2").cast("long").alias("r2sum"))
    rsum = rsum.localCheckpoint()
    dec = "decimal(38,0)"
    k = cand.agg(F.count("*").cast("long").alias("n")).crossJoin(
        srcs.agg(F.count("*").cast("long").alias("m"))
    )
    tot = rsum.agg(F.sum("r2sum").cast(dec).alias("t"))
    dev = (
        rsum.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("r2sum").cast(dec) * F.col("n") - F.col("t"))
                * (F.col("r2sum").cast(dec) * F.col("n") - F.col("t"))
            )
            .cast(dec)
            .alias("s4n2")
        )
    )
    return (
        k.crossJoin(F.broadcast(dev))
        .select(
            F.col("m").alias("n_voters"),
            F.col("n").alias("n_items"),
            (
                F.col("s4n2").cast("double")
                / (F.col("n").cast("double") * F.col("n"))
                / (
                    F.col("m").cast("double")
                    * F.col("m")
                    * (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n"))
                )
                * F.lit(12.0)
                / F.lit(4.0)
            ).alias("w"),
        )
    )



# --- round-4 session-4 batch 3: IR/model eval + causality ------------------


@register(
    "pr_auc_docs",
    """
WITH m AS (
  SELECT cast(n_chars as bigint) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
), h AS (
  SELECT score, cast(count(*) as bigint) AS c, cast(sum(pos) as bigint) AS p
  FROM m GROUP BY score
), cum AS (
  SELECT score, c, p,
         sum(c) OVER (ORDER BY score DESC) AS n_ge,
         sum(p) OVER (ORDER BY score DESC) AS tp
  FROM h
), tot AS (
  SELECT cast(sum(pos) as bigint) AS n_pos, cast(count(*) as bigint) AS n FROM m
), ap AS (
  SELECT cast(sum((cast(p as HUGEINT) * tp * 1000000) // n_ge) as bigint) AS term_sum
  FROM cum
), dec AS (
  SELECT score, n_ge, tp, ntile(10) OVER (ORDER BY score DESC) AS tile
  FROM cum
), pick AS (
  SELECT tile, max(score) FILTER (WHERE rn = 1) AS threshold,
         max(n_ge) FILTER (WHERE rn = 1) AS n_ge,
         max(tp) FILTER (WHERE rn = 1) AS tp
  FROM (SELECT *, row_number() OVER (PARTITION BY tile ORDER BY score) AS rn
        FROM dec)
  GROUP BY tile
)
SELECT cast(pick.tile as int) AS decile,
       cast(pick.threshold as bigint) AS threshold,
       cast(pick.tp as bigint) AS tp,
       cast(pick.n_ge as bigint) AS n_retrieved,
       cast(pick.tp * 1000000 // pick.n_ge as bigint) AS precision_q,
       cast(pick.tp * 1000000 // tot.n_pos as bigint) AS recall_q,
       tot.n_pos,
       cast(ap.term_sum // tot.n_pos as bigint) AS ap_micro
FROM pick, tot, ap ORDER BY decile
""",
)
def pr_auc_docs(spark, sf_dir):
    """Precision-recall curve + average precision of doc length as an
    is-English retriever — the imbalanced-class companion to
    roc_auc_docs (ROC flatters rare-positive retrieval; PR does not).
    AP is the step integral Σ_s Δrecall_s·precision_s over distinct
    score thresholds: each term is the exact floor micro-tick
    (p_s·tp_s·10⁶) div n_ge_s (ties collapse into one threshold — the
    histogram convention), summed in bigint and divided once by n_pos.
    The curve rows are score-descending deciles with exact confusion
    counts and floor-tick precision/recall. Scale shape: one score
    histogram + one cumulative window over distinct scores — never a
    per-threshold rescan."""
    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        F.col("n_chars").cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    h = m.groupBy("score").agg(
        F.count("*").cast("long").alias("c"), F.sum("pos").cast("long").alias("p")
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "score",
        "c",
        "p",
        F.sum("c").over(wdesc).alias("n_ge"),
        F.sum("p").over(wdesc).alias("tp"),
    )
    tot = m.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n"),
    )
    ap = cum.agg(
        F.sum(
            F.expr("(cast(p as decimal(38,0)) * tp * 1000000) div n_ge")
        )
        .cast("long")
        .alias("term_sum")
    )
    dec = cum.select(
        "score",
        "n_ge",
        "tp",
        F.ntile(10).over(Window.orderBy(F.col("score").desc())).alias("tile"),
    )
    pick = (
        dec.withColumn(
            "rn", F.row_number().over(Window.partitionBy("tile").orderBy("score"))
        )
        .filter(F.col("rn") == 1)
        .select("tile", F.col("score").alias("threshold"), "n_ge", "tp")
    )
    return (
        pick.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ap))
        .select(
            F.col("tile").cast("int").alias("decile"),
            F.col("threshold").cast("long").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("n_ge").cast("long").alias("n_retrieved"),
            F.expr("(tp * 1000000) div n_ge").cast("long").alias("precision_q"),
            F.expr("(tp * 1000000) div n_pos").cast("long").alias("recall_q"),
            "n_pos",
            F.expr("term_sum div n_pos").cast("long").alias("ap_micro"),
        )
        .orderBy("decile")
    )



@register(
    "mcnemar_langid_docs",
    f"""
WITH m AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS gold,
         CASE WHEN {T.lang_id_sql('text')} = 'en' THEN 1 ELSE 0 END AS pred_a,
         CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x = 'the')) > 0 THEN 1 ELSE 0 END AS pred_b
  FROM documents
), cells AS (
  SELECT cast(count(*) FILTER (WHERE pred_a = gold AND pred_b <> gold) as bigint) AS b,
         cast(count(*) FILTER (WHERE pred_a <> gold AND pred_b = gold) as bigint) AS c,
         cast(count(*) FILTER (WHERE pred_a = gold AND pred_b = gold) as bigint) AS both_right,
         cast(count(*) FILTER (WHERE pred_a <> gold AND pred_b <> gold) as bigint) AS both_wrong,
         cast(count(*) as bigint) AS n
  FROM m
)
SELECT b, c, both_right, both_wrong, n,
       CASE WHEN b + c = 0 THEN 0
            ELSE cast((abs(b - c) - 1) * (abs(b - c) - 1) * 1000 // (b + c) as bigint)
       END AS chi2_milli
FROM cells
""",
)
def mcnemar_langid_docs(spark, sf_dir):
    """McNemar's paired test between the marker-stopword language
    identifier and the naive contains-'the' baseline on is-English:
    the discordant cells b (full model right, baseline wrong) and c
    (baseline right, full model wrong) are all that matter — shared
    errors cancel, which is exactly what an unpaired accuracy
    comparison (langid_eval_classes) cannot see. Continuity-corrected
    χ² = (|b−c|−1)²/(b+c) as one exact milli-tick of bigints; kappa_
    langid_docs measures agreement, this measures paired superiority.
    Scale shape: one codegen classification pass + a single 5-counter
    aggregate."""
    d = load(spark, sf_dir, "documents")
    m = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("gold"),
        F.when(T.lang_id(F.col("text")) == "en", 1).otherwise(0).alias("pred_a"),
        F.when(
            F.array_contains(T.tokens(F.col("text")), "the"), 1
        )
        .otherwise(0)
        .alias("pred_b"),
    )
    cells = m.agg(
        F.count(F.when((F.col("pred_a") == F.col("gold")) & (F.col("pred_b") != F.col("gold")), 1))
        .cast("long")
        .alias("b"),
        F.count(F.when((F.col("pred_a") != F.col("gold")) & (F.col("pred_b") == F.col("gold")), 1))
        .cast("long")
        .alias("c"),
        F.count(F.when((F.col("pred_a") == F.col("gold")) & (F.col("pred_b") == F.col("gold")), 1))
        .cast("long")
        .alias("both_right"),
        F.count(F.when((F.col("pred_a") != F.col("gold")) & (F.col("pred_b") != F.col("gold")), 1))
        .cast("long")
        .alias("both_wrong"),
        F.count("*").cast("long").alias("n"),
    )
    return cells.select(
        "b",
        "c",
        "both_right",
        "both_wrong",
        "n",
        F.when(F.col("b") + F.col("c") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "cast((abs(b - c) - 1) * (abs(b - c) - 1) * 1000 div (b + c) as bigint)"
            )
        )
        .alias("chi2_milli"),
    )



@register(
    "brier_reliability_docs",
    f"""
WITH scored AS (
  SELECT doc_id,
         least({T.TOKEN_COUNT_SQL.format(t='text')}, 100) AS p100,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
  FROM documents
), binned AS (
  SELECT p100 // 10 AS bin, p100, y FROM scored
)
SELECT cast(bin as bigint) AS bin,
       cast(count(*) as bigint) AS n,
       cast(sum(p100) as bigint) AS sum_p100,
       cast(sum(y) as bigint) AS n_pos,
       cast(sum((p100 - 100 * y) * (p100 - 100 * y)) as bigint) AS brier_contrib,
       cast((sum(p100) - 100 * sum(y)) * (sum(p100) - 100 * sum(y)) as bigint) AS rel_num,
       cast(CASE WHEN sum(p100) - 100 * sum(y) >= 0
                 THEN (sum(p100) - 100 * sum(y)) * 1000 // count(*)
                 ELSE -((100 * sum(y) - sum(p100)) * 1000 // count(*)) END as bigint) AS calib_gap_milli
FROM binned GROUP BY bin ORDER BY bin
""",
)
def brier_reliability_docs(spark, sf_dir):
    """Brier-score reliability diagram: a toy probabilistic predictor
    p = min(1, tokens/100) forecasting "doc is long" (n_chars ≥ 300),
    decomposed per forecast decile — the calibration audit every
    quality-classifier pipeline needs before its scores gate data.
    Probabilities live on the exact 0..100 integer grid (p100), so the
    per-bin Brier contribution Σ(p100 − 100y)², the reliability
    numerator (Σp100 − 100Σy)², and the milli-tick calibration gap are
    ALL exact bigints — Murphy's reliability/resolution terms are
    recoverable from (n, sum_p100, n_pos) per bin without a single
    float reduction. Scale shape: one projection + one 11-bin hash agg
    — shuffle ∝ bins."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        F.least(T.token_count(F.col("text")), F.lit(100)).cast("long").alias("p100"),
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).cast("long").alias("y"),
    )
    gap = F.sum("p100") - F.lit(100) * F.sum("y")
    return (
        scored.groupBy(F.expr("p100 div 10").cast("long").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("p100").cast("long").alias("sum_p100"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum((F.col("p100") - F.lit(100) * F.col("y")) * (F.col("p100") - F.lit(100) * F.col("y")))
            .cast("long")
            .alias("brier_contrib"),
            (gap * gap).cast("long").alias("rel_num"),
            F.expr(
                "cast(CASE WHEN sum(p100) - 100 * sum(y) >= 0"
                " THEN (sum(p100) - 100 * sum(y)) * 1000 div count(*)"
                " ELSE -((100 * sum(y) - sum(p100)) * 1000 div count(*)) END as bigint)"
            ).alias("calib_gap_milli"),
        )
        .orderBy("bin")
    )



@register(
    "light_stem_vocab_docs",
    f"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), stemmed AS (
  SELECT source, w, {_LIGHT_STEM.format(w='w')} AS stem FROM toks
)
SELECT source,
       cast(count(*) as bigint) AS n_tokens,
       cast(count(DISTINCT w) as bigint) AS vocab_raw,
       cast(count(DISTINCT stem) as bigint) AS vocab_stemmed,
       cast((count(DISTINCT w) - count(DISTINCT stem)) * 1000 // count(DISTINCT w) as bigint) AS collapse_milli
FROM stemmed GROUP BY source ORDER BY source
""",
)
def light_stem_vocab_docs(spark, sf_dir):
    """Vocabulary collapse under a light suffix stemmer (ies→y, -ing,
    -ed, plural -s with the -ss guard) — the quick morphological
    normalization a tokenizer-budget analysis runs to ask "how much of
    this corpus's vocab is inflection?". The rule set is ONE textual
    SQL CASE (_LIGHT_STEM) evaluated verbatim by both engines, so stems
    are definitionally identical; outputs are distinct-counts and an
    exact milli collapse ratio. Scale shape: one token explode + one
    per-source distinct agg — shuffle ∝ tokens, and the two distincts
    share the (source, token) spine. Raw- vs stemmed-vocab per source
    feeds the tokenizer_fertility_langs family."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    stemmed = toks.withColumn("stem", F.expr(_LIGHT_STEM.format(w="w")))
    return (
        stemmed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("w").cast("long").alias("vocab_raw"),
            F.countDistinct("stem").cast("long").alias("vocab_stemmed"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_raw",
            "vocab_stemmed",
            F.expr(
                "cast((vocab_raw - vocab_stemmed) * 1000 div vocab_raw as bigint)"
            ).alias("collapse_milli"),
        )
        .orderBy("source")
    )



@register(
    "token_branching_docs",
    """
WITH toks AS (
  SELECT doc_id, u.w AS w, u.i AS i
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(a)), i -> {'i': i, 'w': a[i]})) AS u
    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)
  )
), bigrams AS (
  SELECT a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), stats AS (
  SELECT w, cast(count(*) as bigint) AS freq FROM toks GROUP BY w
), rb AS (
  SELECT w1 AS w, cast(count(DISTINCT w2) as bigint) AS n_right FROM bigrams GROUP BY w1
), lb AS (
  SELECT w2 AS w, cast(count(DISTINCT w1) as bigint) AS n_left FROM bigrams GROUP BY w2
), top AS (
  SELECT s.w, s.freq,
         coalesce(lb.n_left, 0) AS n_left, coalesce(rb.n_right, 0) AS n_right
  FROM stats s LEFT JOIN lb ON s.w = lb.w LEFT JOIN rb ON s.w = rb.w
  ORDER BY s.freq DESC, s.w ASC LIMIT 20
)
SELECT w, freq, n_left, n_right,
       cast(n_right * 1000 // greatest(n_left, 1) as bigint) AS branch_ratio_milli
FROM top ORDER BY freq DESC, w ASC
""",
)
def token_branching_docs(spark, sf_dir):
    """Left/right branching factors of the corpus's top-20 tokens:
    distinct predecessor and successor vocabularies per token — the
    accessor-variety statistic unsupervised segmenters (Harris) use to
    find word/phrase boundaries, and a quick collocation-rigidity
    probe (a token glued into one template has tiny branching). Pure
    distinct counting over the positional bigram table, exact both
    engines; ratio in floor milli ticks with a greatest(,1) guard for
    pure sentence-initial tokens. Scale shape: one posexplode, one
    positional self-equi-join (the bigram_surprisal spine), three
    hash aggs, one top-k — shuffle ∝ tokens."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.posexplode(T.tokens(F.col("text"))).alias("i", "w"))
    a = toks.alias("a")
    b = toks.alias("b")
    bigrams = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("b.i") == F.col("a.i") + 1),
    ).select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
    stats = toks.groupBy("w").agg(F.count("*").cast("long").alias("freq"))
    rb = bigrams.groupBy(F.col("w1").alias("w")).agg(
        F.countDistinct("w2").cast("long").alias("n_right")
    )
    lb = bigrams.groupBy(F.col("w2").alias("w")).agg(
        F.countDistinct("w1").cast("long").alias("n_left")
    )
    top = (
        stats.join(lb, "w", "left")
        .join(rb, "w", "left")
        .select(
            "w",
            "freq",
            F.coalesce("n_left", F.lit(0)).cast("long").alias("n_left"),
            F.coalesce("n_right", F.lit(0)).cast("long").alias("n_right"),
        )
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(20)
    )
    return top.select(
        "w",
        "freq",
        "n_left",
        "n_right",
        F.expr("cast(n_right * 1000 div greatest(n_left, 1) as bigint)").alias(
            "branch_ratio_milli"
        ),
    ).orderBy(F.desc("freq"), F.asc("w"))



@register(
    "tvd_token_drift_sources",
    """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), per_sw AS (
  SELECT source, w, cast(count(*) as bigint) AS c_ws FROM toks GROUP BY source, w
), per_w AS (
  SELECT w, cast(sum(c_ws) as bigint) AS c_w FROM per_sw GROUP BY w
), per_s AS (
  SELECT source, cast(sum(c_ws) as bigint) AS n_s FROM per_sw GROUP BY source
), total AS (
  SELECT cast(sum(c_w) as bigint) AS n FROM per_w
), terms AS (
  SELECT sw.source,
         cast(sum(abs(cast(sw.c_ws as DECIMAL(38,0)) * t.n - cast(w.c_w as DECIMAL(38,0)) * s.n_s)) as DECIMAL(38,0)) AS num,
         cast(max(cast(2 as DECIMAL(38,0)) * s.n_s * t.n) as DECIMAL(38,0)) AS den
  FROM per_sw sw
  JOIN per_w w ON sw.w = w.w
  JOIN per_s s ON sw.source = s.source
  CROSS JOIN total t
  GROUP BY sw.source
)
SELECT source, cast(num as double) AS num, cast(den as double) AS den,
       cast(num as double) / cast(den as double) AS tvd_lower
FROM terms ORDER BY source
""",
)
def tvd_token_drift_sources(spark, sf_dir):
    """Total-variation distance between each source's token unigram
    distribution and the corpus distribution — the exact, bounded-[0,1]
    drift score for "which shard's language diverges" (KS needs an
    ordering, χ² blows up on rare tokens, KL needs the banned ln();
    TVD is the rational one). Cross-multiplied to integers: Σ_w
    |c_ws·N − c_w·N_s| accumulates with DECIMAL(38,0) operands cast
    BEFORE the multiply (int64 products overflow near web scale — the
    spearman lesson), the final ratio
    one exact decimal→double division. Reported as tvd_lower: the sum
    runs over tokens PRESENT in the source; the absent-token mass
    (each |0 − c_w·N_s| term) is recoverable as 2·N·N_s·tvd_total =
    num + (N − Σ_w∈s c_w)·N_s but kept out to keep the join spine on
    per_sw. Scale shape: three hash aggs on the (source, token) spine
    + one token-keyed dim join + a 1-row total broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    per_sw = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("c_ws"))
    per_w = per_sw.groupBy("w").agg(F.sum("c_ws").cast("long").alias("c_w"))
    per_s = per_sw.groupBy("source").agg(F.sum("c_ws").cast("long").alias("n_s"))
    total = per_w.agg(F.sum("c_w").cast("long").alias("n"))
    dec = "decimal(38,0)"
    terms = (
        per_sw.join(per_w, "w")
        .join(F.broadcast(per_s), "source")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    F.col("c_ws").cast(dec) * F.col("n")
                    - F.col("c_w").cast(dec) * F.col("n_s")
                )
            )
            .cast(dec)
            .alias("num"),
            F.max(F.lit(2).cast(dec) * F.col("n_s") * F.col("n")).cast(dec).alias("den"),
        )
    )
    return terms.select(
        "source",
        F.col("num").cast("double").alias("num"),
        F.col("den").cast("double").alias("den"),
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("tvd_lower"),
    ).orderBy("source")



@register(
    "term_dispersion_sources",
    """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), per_sw AS (
  SELECT w, source, cast(count(*) as bigint) AS c FROM toks GROUP BY w, source
), parts AS (
  SELECT cast(count(DISTINCT source) as bigint) AS n_parts FROM documents
), per_w AS (
  SELECT w, cast(sum(c) as bigint) AS tot, cast(sum(c * c) as bigint) AS sum_sq,
         cast(count(*) as bigint) AS n_present
  FROM per_sw GROUP BY w
), top AS (
  SELECT w, tot, sum_sq, n_present FROM per_w ORDER BY tot DESC, w ASC LIMIT 20
)
SELECT w, tot, sum_sq, n_present, p.n_parts,
       1.0 - sqrt(cast(p.n_parts * sum_sq - tot * tot as double)) / cast(tot as double)
           / sqrt(cast(p.n_parts - 1 as double)) AS juilland_d
FROM top, parts p ORDER BY tot DESC, w ASC
""",
)
def term_dispersion_sources(spark, sf_dir):
    """Juilland's D dispersion for the corpus's top-20 terms: is a
    frequent term frequent EVERYWHERE (D→1) or piled into one shard
    (D→0)? The corpus-linguistics statistic that separates true
    stopwords from boilerplate artifacts — a high-frequency low-D term
    is a template string, not language. D = 1 − CV/√(n−1) with CV =
    √(n·Σx² − tot²)/tot over the per-source frequency vector (absent
    sources contribute exact zeros through the Σx² identity, so only
    PRESENT (term, source) rows are ever materialized). Integer sums,
    then one textually-identical sqrt/divide chain — exact IEEE both
    engines. Scale shape: one (term, source) hash agg, one term agg,
    one top-k, one 1-row part-count anchor."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    per_sw = toks.groupBy("w", "source").agg(F.count("*").cast("long").alias("c"))
    parts = d.agg(F.countDistinct("source").cast("long").alias("n_parts"))
    per_w = per_sw.groupBy("w").agg(
        F.sum("c").cast("long").alias("tot"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
        F.count("*").cast("long").alias("n_present"),
    )
    top = per_w.orderBy(F.desc("tot"), F.asc("w")).limit(20)
    jd = F.lit(1.0) - F.sqrt(
        (F.col("n_parts") * F.col("sum_sq") - F.col("tot") * F.col("tot")).cast("double")
    ) / F.col("tot").cast("double") / F.sqrt((F.col("n_parts") - 1).cast("double"))
    return (
        top.crossJoin(F.broadcast(parts))
        .select("w", "tot", "sum_sq", "n_present", "n_parts", jd.alias("juilland_d"))
        .orderBy(F.desc("tot"), F.asc("w"))
    )



@register(
    "youden_threshold_docs",
    f"""
WITH scored AS (
  SELECT least({T.TOKEN_COUNT_SQL.format(t='text')}, 100) AS p100,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
  FROM documents
), per_score AS (
  SELECT p100, cast(count(*) FILTER (WHERE y = 1) as bigint) AS pos,
         cast(count(*) FILTER (WHERE y = 0) as bigint) AS neg
  FROM scored GROUP BY p100
), cum AS (
  SELECT p100,
         sum(pos) OVER (ORDER BY p100 DESC) AS tp,
         sum(neg) OVER (ORDER BY p100 DESC) AS fp,
         sum(pos) OVER () AS pp, sum(neg) OVER () AS nn
  FROM per_score
), j AS (
  SELECT cast(p100 as bigint) AS threshold,
         cast(tp as bigint) AS tp, cast(fp as bigint) AS fp,
         cast(pp - tp as bigint) AS fn, cast(nn - fp as bigint) AS tn,
         cast(tp * nn - fp * pp as bigint) AS j_num,
         cast(pp * nn as bigint) AS j_den,
         cast(row_number() OVER (ORDER BY (tp * nn - fp * pp) DESC, p100 DESC) as int) AS rnk
  FROM cum
)
SELECT threshold, tp, fp, fn, tn,
       cast(CASE WHEN j_num >= 0 THEN j_num * 1000000 // j_den
                 ELSE -((-j_num) * 1000000 // j_den) END as bigint) AS j_micro
FROM j WHERE rnk = 1
""",
)
def youden_threshold_docs(spark, sf_dir):
    """Youden-J optimal operating point for the length classifier of
    brier_reliability_docs: sweep every achievable threshold ("predict
    long when p100 ≥ t"), maximize J = TPR − FPR, break ties toward
    the higher (more conservative) threshold — the one-row DECISION
    the roc_auc_docs curve only plots. Maximization compares the
    integer cross-product tp·N − fp·P (P, N constant), so the argmax
    is exact; J itself is reported in sign-safe micro ticks. Scale
    shape: one score-histogram hash agg (≤101 rows), two window
    cumsums and a top-1 on that dim — the scan is touched once."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        F.least(T.token_count(F.col("text")), F.lit(100)).cast("long").alias("p100"),
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).cast("long").alias("y"),
    )
    per_score = scored.groupBy("p100").agg(
        F.count(F.when(F.col("y") == 1, 1)).cast("long").alias("pos"),
        F.count(F.when(F.col("y") == 0, 1)).cast("long").alias("neg"),
    )
    wdesc = Window.orderBy(F.desc("p100")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per_score.select(
        "p100",
        F.sum("pos").over(wdesc).alias("tp"),
        F.sum("neg").over(wdesc).alias("fp"),
        F.sum("pos").over(wall).alias("pp"),
        F.sum("neg").over(wall).alias("nn"),
    )
    j = cum.select(
        F.col("p100").cast("long").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (F.col("pp") - F.col("tp")).cast("long").alias("fn"),
        (F.col("nn") - F.col("fp")).cast("long").alias("tn"),
        (F.col("tp") * F.col("nn") - F.col("fp") * F.col("pp")).cast("long").alias("j_num"),
        (F.col("pp") * F.col("nn")).cast("long").alias("j_den"),
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(F.col("tp") * F.col("nn") - F.col("fp") * F.col("pp")),
                F.desc("p100"),
            )
        )
        .alias("rnk"),
    )
    return j.filter(F.col("rnk") == 1).select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "cast(CASE WHEN j_num >= 0 THEN j_num * 1000000 div j_den"
            " ELSE -((-j_num) * 1000000 div j_den) END as bigint)"
        ).alias("j_micro"),
    )



@register(
    "sttr_docs",
    f"""
WITH toks AS (
  SELECT source, doc_id, u.w AS w, u.i AS i
  FROM (
    SELECT source, doc_id,
           unnest(list_transform(generate_series(1, len(a)), i -> {{'i': i, 'w': a[i]}})) AS u
    FROM (SELECT source, doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)
  )
), windows AS (
  SELECT source, doc_id, (i - 1) // {_STTR_WIN} AS win,
         cast(count(*) as bigint) AS n_tok,
         cast(count(DISTINCT w) as bigint) AS n_types
  FROM toks GROUP BY source, doc_id, win
), full_w AS (
  SELECT source, n_types FROM windows WHERE n_tok = {_STTR_WIN}
)
SELECT source,
       cast(count(*) as bigint) AS n_windows,
       cast(sum(n_types) as bigint) AS types_total,
       cast(sum(n_types) * 1000000 // (count(*) * {_STTR_WIN}) as bigint) AS sttr_micro
FROM full_w GROUP BY source ORDER BY source
""",
)
def sttr_docs(spark, sf_dir):
    """Standardized type-token ratio (STTR): mean TTR over fixed
    {_STTR_WIN}-token windows instead of whole documents — the
    length-invariant lexical-diversity measure (raw TTR in
    lexical_stats_docs shrinks mechanically with doc length; Heaps'
    law makes cross-length comparison meaningless, which is exactly
    what windowing fixes). Only FULL windows count, so the ratio
    denominator is the constant window size and sttr_micro =
    Σtypes·10⁶ // (windows·{_STTR_WIN}) is one exact floor division
    over integer counts. Scale shape: one positional token explode +
    one (doc, window) distinct agg + one source rollup — shuffle ∝
    tokens once."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    toks = d.select(
        "source", "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("i", "w")
    )
    windows = toks.groupBy(
        "source", "doc_id", F.expr(f"i div {_STTR_WIN}").alias("win")
    ).agg(
        F.count("*").cast("long").alias("n_tok"),
        F.countDistinct("w").cast("long").alias("n_types"),
    )
    full_w = windows.filter(F.col("n_tok") == _STTR_WIN)
    return (
        full_w.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum("n_types").cast("long").alias("types_total"),
            F.expr(
                f"cast(sum(n_types) * 1000000 div (count(*) * {_STTR_WIN}) as bigint)"
            ).alias("sttr_micro"),
        )
        .orderBy("source")
    )



@register(
    "zipf_abbreviation_docs",
    """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), freq AS (
  SELECT w, cast(count(*) as bigint) AS f, cast(length(w) as bigint) AS wl
  FROM toks GROUP BY w
), ranked AS (
  SELECT w, f, wl,
         ntile(10) OVER (ORDER BY f DESC, w ASC) AS decile
  FROM freq
)
SELECT cast(decile as bigint) AS freq_decile,
       cast(count(*) as bigint) AS n_types,
       cast(sum(f) as bigint) AS tokens_covered,
       cast(sum(wl) * 1000 // count(*) as bigint) AS mean_type_len_milli,
       cast(sum(wl * f) * 1000 // sum(f) as bigint) AS mean_token_len_milli
FROM ranked GROUP BY decile ORDER BY freq_decile
""",
)
def zipf_abbreviation_docs(spark, sf_dir):
    """Zipf's law of abbreviation (brevity law): mean word length by
    corpus-frequency decile — in natural language the top deciles are
    measurably SHORTER (communication-efficiency pressure), and a
    corpus that violates the monotone trend is typically template
    spam or machine-generated filler, which makes this a one-pass
    corpus-health probe next to zipf_doubling_slope (rank-frequency)
    and vocab_growth_curve (Heaps). Both the type-weighted and
    token-weighted mean lengths are exact milli floor ratios of
    integer sums; deciles are deterministic ntile over (freq desc,
    token asc). Scale shape: one token hash agg + one vocab-dim
    window + one 10-row rollup."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("w"))
    freq = toks.groupBy("w").agg(F.count("*").cast("long").alias("f")).withColumn(
        "wl", F.length("w").cast("long")
    )
    ranked = freq.withColumn(
        "decile", F.ntile(10).over(Window.orderBy(F.desc("f"), F.asc("w")))
    )
    return (
        ranked.groupBy(F.col("decile").cast("long").alias("freq_decile"))
        .agg(
            F.count("*").cast("long").alias("n_types"),
            F.sum("f").cast("long").alias("tokens_covered"),
            F.expr("cast(sum(wl) * 1000 div count(*) as bigint)").alias(
                "mean_type_len_milli"
            ),
            F.expr("cast(sum(wl * f) * 1000 div sum(f) as bigint)").alias(
                "mean_token_len_milli"
            ),
        )
        .orderBy("freq_decile")
    )



@register(
    "splithalf_fingerprint_sources",
    f"""
WITH toks AS (
  SELECT source, doc_id % 2 AS half,
         unnest({D.shingles_sql('text', 3)}) AS s
  FROM documents
), freq AS (
  SELECT source, half, s, cast(count(*) as bigint) AS f
  FROM toks GROUP BY source, half, s
), ranked AS (
  SELECT source, half, s,
         row_number() OVER (PARTITION BY source, half ORDER BY f DESC, s ASC) AS rn
  FROM freq
), top AS (SELECT source, half, s FROM ranked WHERE rn <= 50),
ovl AS (
  SELECT a.source, cast(count(*) as bigint) AS n_common
  FROM top a JOIN top b ON a.source = b.source AND a.s = b.s
  WHERE a.half = 0 AND b.half = 1
  GROUP BY a.source
), sizes AS (
  SELECT source,
         cast(count(*) FILTER (WHERE half = 0) as bigint) AS n0,
         cast(count(*) FILTER (WHERE half = 1) as bigint) AS n1
  FROM top GROUP BY source
)
SELECT s.source, s.n0, s.n1, cast(coalesce(o.n_common, 0) as bigint) AS n_common,
       cast(coalesce(o.n_common, 0) * 1000000 // (s.n0 + s.n1 - coalesce(o.n_common, 0)) as bigint)
         AS jaccard_micro
FROM sizes s LEFT JOIN ovl o ON s.source = o.source
ORDER BY s.source
""",
)
def splithalf_fingerprint_sources(spark, sf_dir):
    """Split-half fingerprint stability: Jaccard of each source's
    top-50 trigram shingles between its even-doc_id and odd-doc_id
    halves — a TEMPLATED source reproduces its fingerprint from any
    half (→10⁶), an organic one does not; this is the reliability
    test (the psychometrics split-half, applied to corpus
    fingerprints) that says whether per-source signatures like
    winnow_match_sources are stable enough to act on. Deterministic
    top-50 (freq desc, shingle asc), integer overlap, floor micro.
    Scale shape: one (source, half, shingle) hash agg + one window
    top-k + a 100-row-per-source dim self-join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(D.shingles(F.col("text"), 3)).alias("s"),
    )
    freq = toks.groupBy("source", "half", "s").agg(
        F.count("*").cast("long").alias("f")
    )
    w = Window.partitionBy("source", "half").orderBy(F.desc("f"), F.asc("s"))
    top = freq.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 50)
    a = top.filter(F.col("half") == 0).select("source", "s")
    b = top.filter(F.col("half") == 1).select("source", "s")
    ovl = a.join(b, ["source", "s"]).groupBy("source").agg(
        F.count("*").cast("long").alias("n_common")
    )
    sizes = top.groupBy("source").agg(
        F.count(F.when(F.col("half") == 0, 1)).cast("long").alias("n0"),
        F.count(F.when(F.col("half") == 1, 1)).cast("long").alias("n1"),
    )
    return (
        sizes.join(ovl, "source", "left")
        .select(
            "source",
            "n0",
            "n1",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        )
        .select(
            "source",
            "n0",
            "n1",
            "n_common",
            F.expr(
                "cast(n_common * 1000000 div (n0 + n1 - n_common) as bigint)"
            ).alias("jaccard_micro"),
        )
        .orderBy("source")
    )



@register(
    "token_periodicity_sources",
    f"""
WITH toks AS (
  SELECT source, doc_id, u.w AS w, u.i AS i
  FROM (
    SELECT source, doc_id,
           unnest(list_transform(generate_series(1, len(a)), i -> {{'i': i, 'w': a[i]}})) AS u
    FROM (SELECT source, doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)
  )
), lagged AS (
  SELECT a.source, p.p,
         cast(count(*) as bigint) AS n_pairs,
         cast(count(*) FILTER (WHERE a.w = b.w) as bigint) AS n_match
  FROM toks a
  CROSS JOIN (VALUES {",".join(f"({p})" for p in _PERIODS)}) AS p(p)
  JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + p.p
  GROUP BY a.source, p.p
)
SELECT source, cast(p as bigint) AS period, n_pairs, n_match,
       cast(n_match * 1000000 // n_pairs as bigint) AS match_micro
FROM lagged ORDER BY source, period
""",
)
def token_periodicity_sources(spark, sf_dir):
    """Token-sequence periodicity: for lags 1..8, the probability that
    a token equals the token p positions later (within the same doc),
    per source — machine-looping text ("buy now buy now buy now")
    lights up at its loop period, so the lag profile is a generator-
    artifact detector that repetition_filter_docs (adjacent repeats
    only) generalizes into a spectrum. Exact integer match counting
    over the positional token spine joined at 8 literal offsets; the
    per-lag rate in floor micro. Scale shape: one positional explode +
    an 8-value literal dim fan-out + one positional self-equi-join —
    shuffle ∝ 8× tokens."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    toks = d.select(
        "source", "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("i", "w")
    )
    a = toks.select(
        "source",
        "doc_id",
        F.col("i").alias("ia"),
        F.col("w").alias("wa"),
        F.explode(F.array(*[F.lit(p) for p in _PERIODS])).alias("p"),
    )
    b = toks.select("doc_id", F.col("i").alias("ib"), F.col("w").alias("wb"))
    lagged = (
        a.join(b, (a["doc_id"] == b["doc_id"]) & (F.col("ib") == F.col("ia") + F.col("p")))
        .groupBy("source", "p")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.count(F.when(F.col("wa") == F.col("wb"), 1)).cast("long").alias("n_match"),
        )
    )
    return lagged.select(
        "source",
        F.col("p").cast("long").alias("period"),
        "n_pairs",
        "n_match",
        F.expr("cast(n_match * 1000000 div n_pairs as bigint)").alias("match_micro"),
    ).orderBy("source", "period")



@register(
    "waterfill_crawl_hosts",
    """
WITH dem AS (
  SELECT source AS host, cast(count(*) as bigint) AS demand
  FROM documents GROUP BY source
), tot AS (
  SELECT cast(sum(demand) as bigint) AS td, cast(count(*) as bigint) AS m,
         cast(sum(demand) // 2 as bigint) AS budget
  FROM dem
), ranked AS (
  SELECT host, demand,
         cast(row_number() OVER (ORDER BY demand ASC, host ASC) as bigint) AS k,
         cast(sum(demand) OVER (ORDER BY demand ASC, host ASC) as bigint) AS pk
  FROM dem
), feas AS (
  SELECT r.k FROM ranked r CROSS JOIN tot
  WHERE r.demand <= (tot.budget - (r.pk - r.demand)) // (tot.m - r.k + 1)
), brk AS (SELECT cast(coalesce(max(k), 0) as bigint) AS ks FROM feas),
lvl AS (
  SELECT CASE WHEN b.ks >= t.m THEN NULL
              ELSE (t.budget - coalesce(r.pk, 0)) // (t.m - b.ks) END AS level
  FROM brk b CROSS JOIN tot t LEFT JOIN ranked r ON r.k = b.ks
)
SELECT r.host, r.demand,
       cast(CASE WHEN l.level IS NULL OR r.demand <= l.level
                 THEN r.demand ELSE l.level END as bigint) AS alloc,
       CASE WHEN l.level IS NOT NULL AND r.demand > l.level THEN 1 ELSE 0 END AS capped
FROM ranked r CROSS JOIN lvl l ORDER BY r.host
""",
)
def waterfill_crawl_hosts(spark, sf_dir):
    """Max-min fair (water-filling) allocation of a fetch budget across
    hosts — the OTHER fair-division principle next to proportional
    apportionment (crawl_budget_apportion): small hosts get their full
    demand, big hosts are capped at one common waterline L chosen so
    the budget is exhausted — the allocation every rate limiter and
    bandwidth scheduler converges to. The waterline has a sorted
    closed form (no iteration): with demands d₁≤…≤d_m and prefix sums
    P, the break point k* is the largest k with d_k ≤ (B−P_{k−1})//(m−k+1),
    and L = (B−P_{k*})//(m−k*) — one window pass + integer floors on
    nonnegative quantities. Scale shape: the corpus collapses to the
    host dim in one hash agg; the window runs on that dim; anchors
    are 1-row."""
    d = load(spark, sf_dir, "documents")
    dem = d.groupBy(F.col("source").alias("host")).agg(
        F.count("*").cast("long").alias("demand")
    )
    tot = dem.agg(
        F.sum("demand").cast("long").alias("td"),
        F.count("*").cast("long").alias("m"),
        F.expr("cast(sum(demand) div 2 as bigint)").alias("budget"),
    )
    w = Window.orderBy(F.col("demand").asc(), F.col("host").asc())
    ranked = dem.select(
        "host",
        "demand",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("demand").over(w).cast("long").alias("pk"),
    ).localCheckpoint()
    feas = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            F.col("demand")
            <= F.expr("(budget - (pk - demand)) div (m - k + 1)")
        )
        .select("k")
    )
    brk = feas.agg(F.coalesce(F.max("k"), F.lit(0)).cast("long").alias("ks"))
    lvl = (
        brk.crossJoin(F.broadcast(tot))
        .join(ranked.select(F.col("k").alias("ks"), "pk"), "ks", "left")
        .select(
            F.when(F.col("ks") >= F.col("m"), F.lit(None).cast("long"))
            .otherwise(
                F.expr("(budget - coalesce(pk, 0L)) div (m - ks)").cast("long")
            )
            .alias("level")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(lvl))
        .select(
            "host",
            "demand",
            F.when(
                F.col("level").isNull() | (F.col("demand") <= F.col("level")),
                F.col("demand"),
            )
            .otherwise(F.col("level"))
            .cast("long")
            .alias("alloc"),
            F.when(
                F.col("level").isNotNull() & (F.col("demand") > F.col("level")), 1
            )
            .otherwise(0)
            .alias("capped"),
        )
        .orderBy("host")
    )



@register(
    "host_mirror_pairs",
    f"""
WITH hf AS (
  SELECT DISTINCT source, {T.doc_fingerprint_sql('text')} AS fp FROM documents
), hn AS (SELECT source, cast(count(*) as bigint) AS nfp FROM hf GROUP BY source),
pairs AS (
  SELECT a.source AS host_a, b.source AS host_b, cast(count(*) as bigint) AS n_shared
  FROM hf a JOIN hf b ON a.fp = b.fp AND a.source < b.source
  GROUP BY host_a, host_b
)
SELECT p.host_a, p.host_b, p.n_shared, na.nfp AS nfp_a, nb.nfp AS nfp_b,
       cast((p.n_shared * 1000000) // least(na.nfp, nb.nfp) as bigint) AS overlap_q
FROM pairs p JOIN hn na ON na.source = p.host_a JOIN hn nb ON nb.source = p.host_b
WHERE p.n_shared >= 2 ORDER BY p.host_a, p.host_b
""",
)
def host_mirror_pairs(spark, sf_dir):
    """Host-level mirror detection — the crawl-dedup planner's view:
    pairs of hosts sharing >= 2 identical content fingerprints, with
    the overlap coefficient n_shared/min(|A|,|B|) in micro — a pair
    near 10⁶ is a full mirror (fetch one, skip the other; the
    crawl-budget decision), a moderate one is syndication
    (neardup_geo_spread maps dup pairs in SPACE, this maps them onto
    the host topology where the crawler acts). The fp posting join is
    bounded by duplicate-group sizes — shuffle ∝ Σ|group|², the same
    budget as containment_pairs — never hosts². One distinct agg, one
    posting self-join, one pair agg."""
    d = load(spark, sf_dir, "documents")
    hf = d.select("source", T.doc_fingerprint(F.col("text")).alias("fp")).distinct()
    hn = hf.groupBy("source").agg(F.count("*").cast("long").alias("nfp"))
    a = hf.select(F.col("source").alias("host_a"), "fp")
    b = hf.select(F.col("source").alias("host_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    na = hn.select(F.col("source").alias("host_a"), F.col("nfp").alias("nfp_a"))
    nb = hn.select(F.col("source").alias("host_b"), F.col("nfp").alias("nfp_b"))
    return (
        pairs.join(na, "host_a")
        .join(nb, "host_b")
        .select(
            "host_a",
            "host_b",
            "n_shared",
            "nfp_a",
            "nfp_b",
            F.expr(
                "cast((n_shared * 1000000) div least(nfp_a, nfp_b) as bigint)"
            ).alias("overlap_q"),
        )
        .orderBy("host_a", "host_b")
    )



@register(
    "term_burstiness_docs",
    f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), tc AS (
  SELECT doc_id, tok, cast(count(*) as bigint) AS c FROM toks GROUP BY doc_id, tok
), term AS (
  SELECT tok, cast(count(*) as bigint) AS df,
         cast(count(CASE WHEN c >= 2 THEN 1 END) as bigint) AS df2,
         cast(sum(c) as bigint) AS tf
  FROM tc GROUP BY tok
), top AS (
  SELECT tok, df, df2, tf,
         row_number() OVER (ORDER BY tf DESC, tok ASC) AS rn
  FROM term
)
SELECT tok, df, df2, tf,
       cast((df2 * 1000000) // df as bigint) AS burstiness_q
FROM top WHERE rn <= 50 ORDER BY tok
""",
)
def term_burstiness_docs(spark, sf_dir):
    """Church-Gale term burstiness for the 50 highest-frequency terms:
    P(term occurs AGAIN | it occurred) ≈ df₂/df — the adaptation
    statistic that separates CONTENT words (bursty: one mention breeds
    more, df₂/df high) from FUNCTION words (Poisson-ish, low) even at
    equal total frequency, which is why burstiness beats raw tf for
    keywording and why LM smoothing needs cache models
    (term_dispersion measures spread ACROSS parts; this measures
    clumping WITHIN docs — orthogonal axes of the same postings).
    Exact integer counts, one micro floor. Scale shape: one
    (doc, term) hash agg + one term agg + top-50 window — postings
    never joined against each other."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("c"))
    term = tc.groupBy("tok").agg(
        F.count("*").cast("long").alias("df"),
        F.count(F.when(F.col("c") >= 2, 1)).cast("long").alias("df2"),
        F.sum("c").cast("long").alias("tf"),
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("tok").asc())
    return (
        term.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select(
            "tok",
            "df",
            "df2",
            "tf",
            F.expr("cast((df2 * 1000000) div df as bigint)").alias("burstiness_q"),
        )
        .orderBy("tok")
    )



@register(
    "crosslang_twin_docs",
    f"""
WITH fp AS (
  SELECT doc_id, lang, {T.doc_fingerprint_sql('text')} AS f FROM documents
), grp AS (
  SELECT f, cast(count(*) as bigint) AS n_docs,
         cast(count(DISTINCT lang) as bigint) AS n_langs,
         cast(min(doc_id) as bigint) AS keep_id,
         string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
  FROM fp GROUP BY f
)
SELECT keep_id, n_docs, n_langs, langs
FROM grp WHERE n_langs >= 2 ORDER BY keep_id
""",
)
def crosslang_twin_docs(spark, sf_dir):
    """Cross-language twins: content-fingerprint groups whose members
    carry DIFFERENT language labels — identical normalized token sets
    cannot be two languages, so every row is either a lang-metadata
    error (feeding langid_eval's confusion matrix with hard
    negatives) or boilerplate so language-free the label is
    meaningless (chrome, number tables — exactly what a lang-stratified
    sampler must not count toward either language's budget). The
    dedup machinery already groups these docs; this op reads the
    LABEL DISAGREEMENT the dedup view discards. One fingerprint hash
    agg with a sorted distinct string_agg — deterministic in both
    engines. Scale shape: shuffle ∝ docs once."""
    d = load(spark, sf_dir, "documents")
    fp = d.select("doc_id", "lang", T.doc_fingerprint(F.col("text")).alias("f"))
    return (
        fp.groupBy("f")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.min("doc_id").cast("long").alias("keep_id"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        )
        .filter(F.col("n_langs") >= 2)
        .select("keep_id", "n_docs", "n_langs", "langs")
        .orderBy("keep_id")
    )



@register(
    "quality_dup_interaction",
    f"""
WITH fp AS (
  SELECT doc_id, n_chars, {T.doc_fingerprint_sql('text')} AS f FROM documents
), dup AS (
  SELECT doc_id, n_chars,
         CASE WHEN count(*) OVER (PARTITION BY f) >= 2 THEN 1 ELSE 0 END AS is_dup
  FROM fp
), dec AS (
  SELECT is_dup,
         ((row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) - 1) * 10)
           // (count(*) OVER ()) AS decile
  FROM dup
)
SELECT cast(decile as bigint) AS len_decile,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(is_dup) as bigint) AS n_dup_docs,
       cast((sum(is_dup) * 1000000) // count(*) as bigint) AS dup_q
FROM dec GROUP BY decile ORDER BY len_decile
""",
)
def quality_dup_interaction(spark, sf_dir):
    """Duplication × quality interaction: exact-dup rate per document-
    length decile — the curation cross-tab that decides WHERE the
    dedup budget matters: web boilerplate concentrates duplication in
    the short tail (high dup_q at low deciles → dedup is a quality
    filter in disguise), while a flat profile means dedup and quality
    filtering are independent axes and must BOTH run
    (curation_pipeline composes them; this measures whether the
    composition is redundant). Deciles are exact rank buckets
    ((rn−1)·10/N — no ntile ambiguity, deterministic tie order), dup
    membership is one fingerprint window. Scale shape: one window
    over the fingerprint hash + one global rank (repartitionByRange
    at scale) + one 10-row agg."""
    d = load(spark, sf_dir, "documents")
    fp = d.select("doc_id", "n_chars", T.doc_fingerprint(F.col("text")).alias("f"))
    dup = fp.select(
        "doc_id",
        "n_chars",
        F.when(F.count("*").over(Window.partitionBy("f")) >= 2, 1)
        .otherwise(0)
        .alias("is_dup"),
    )
    dec = dup.select(
        "is_dup",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc()))
        .cast("long")
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("nn"),
    ).select(
        "is_dup", F.expr("cast(((rn - 1) * 10) div nn as bigint)").alias("decile")
    )
    return (
        dec.groupBy(F.col("decile").alias("len_decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.expr("cast((sum(is_dup) * 1000000) div count(*) as bigint)").alias(
                "dup_q"
            ),
        )
        .orderBy("len_decile")
    )



@register(
    "template_slots_hosts",
    """
WITH arrs AS (
  SELECT source, doc_id,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
  FROM documents
), toks AS (
  SELECT source, g.i AS pos, arr[g.i] AS tok
  FROM arrs CROSS JOIN generate_series(1, 20) AS g(i)
  WHERE g.i <= len(arr)
), slot AS (
  SELECT source, pos, cast(count(DISTINCT tok) as bigint) AS n_distinct,
         cast(count(*) as bigint) AS n_docs
  FROM toks GROUP BY source, pos
)
SELECT source,
       cast(count(*) as bigint) AS n_positions,
       cast(count(CASE WHEN n_distinct = 1 THEN 1 END) as bigint) AS n_fixed_slots,
       cast(sum(n_distinct) as bigint) AS sum_distinct,
       cast((count(CASE WHEN n_distinct = 1 THEN 1 END) * 1000000) // count(*)
            as bigint) AS template_q
FROM slot GROUP BY source ORDER BY source
""",
)
def template_slots_hosts(spark, sf_dir):
    """Positional template-slot detection per host: for the first 20
    token positions, how many are FIXED across the host's docs (one
    distinct token — boilerplate chrome) vs free (content slots) —
    the wrapper-induction view of templating that frequency-based
    boilerplate_ratio can't give: a token can be rare corpus-wide yet
    sit in a fixed slot of one host's template, and it's the POSITION
    constancy that identifies the template. template_q near 10⁶ =
    fully templated host (extract by position); near 0 = freeform
    (needs content-based extraction). One posexplode bounded at 20
    positions + two hash aggs — shuffle ∝ 20·docs."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("source", "doc_id", F.posexplode(T.tokens(F.col("text"))))
        .withColumnRenamed("pos", "pos0")
        .filter(F.col("pos0") < 20)
        .select("source", (F.col("pos0") + 1).alias("pos"), F.col("col").alias("tok"))
    )
    slot = toks.groupBy("source", "pos").agg(
        F.countDistinct("tok").cast("long").alias("n_distinct"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return (
        slot.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_positions"),
            F.count(F.when(F.col("n_distinct") == 1, 1))
            .cast("long")
            .alias("n_fixed_slots"),
            F.sum("n_distinct").cast("long").alias("sum_distinct"),
            F.expr(
                "cast((count(CASE WHEN n_distinct = 1 THEN 1 END) * 1000000)"
                " div count(*) as bigint)"
            ).alias("template_q"),
        )
        .orderBy("source")
    )



@register(
    "qq_table_langs",
    """
WITH en AS (
  SELECT n_chars,
         cast(row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) as bigint) AS rn,
         cast(count(*) OVER () as bigint) AS n
  FROM documents WHERE lang = 'en'
), oth AS (
  SELECT lang, n_chars,
         cast(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars ASC, doc_id ASC) as bigint) AS rn,
         cast(count(*) OVER (PARTITION BY lang) as bigint) AS n
  FROM documents WHERE lang != 'en'
), qs(q) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)),
enq AS (
  SELECT qs.q, max(en.n_chars) AS en_chars
  FROM qs JOIN en ON en.rn = (en.n * qs.q + 9) // 10 GROUP BY qs.q
), othq AS (
  SELECT o.lang, qs.q, max(o.n_chars) AS lang_chars
  FROM qs JOIN oth o ON o.rn = (o.n * qs.q + 9) // 10 GROUP BY o.lang, qs.q
)
SELECT o.lang, cast(o.q as bigint) AS decile,
       cast(e.en_chars as bigint) AS en_chars,
       cast(o.lang_chars as bigint) AS lang_chars,
       cast(o.lang_chars - e.en_chars as bigint) AS shift_chars
FROM othq o JOIN enq e ON e.q = o.q ORDER BY o.lang, decile
""",
)
def qq_table_langs(spark, sf_dir):
    """Quantile-quantile shift table: each non-English language's
    document-length deciles against English's — the full
    DISTRIBUTIONAL comparison that single-number tests (ks_drift,
    mann_whitney) collapse: a uniform shift_chars means a pure
    location offset (scale token budgets per lang), a fanning one
    means the tails differ (cap outliers per lang before mixing) —
    the exact diagnostic a multilingual sampler needs to equalize
    compute per language. All deciles are exact order statistics at
    rank ⌈n·q/10⌉ (deterministic ties), joined on the literal 9-row
    decile dim. Scale shape: two partitioned rank windows + dim-scale
    joins."""
    d = load(spark, sf_dir, "documents")
    en = d.filter(F.col("lang") == "en").select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc()))
        .cast("long")
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    oth = d.filter(F.col("lang") != "en").select(
        "lang",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.col("n_chars").asc(), F.col("doc_id").asc()
            )
        )
        .cast("long")
        .alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).cast("long").alias("n"),
    )
    qs = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    enq = (
        F.broadcast(qs)
        .join(en, en.rn == F.expr("(n * q + 9) div 10"))
        .groupBy("q")
        .agg(F.max("n_chars").alias("en_chars"))
    )
    othq = (
        F.broadcast(qs)
        .join(oth, oth.rn == F.expr("(n * q + 9) div 10"))
        .groupBy("lang", "q")
        .agg(F.max("n_chars").alias("lang_chars"))
    )
    return (
        othq.join(enq, "q")
        .select(
            "lang",
            F.col("q").alias("decile"),
            F.col("en_chars").cast("long").alias("en_chars"),
            F.col("lang_chars").cast("long").alias("lang_chars"),
            (F.col("lang_chars") - F.col("en_chars")).cast("long").alias("shift_chars"),
        )
        .orderBy("lang", "decile")
    )



@register(
    "loso_token_influence_sources",
    f"""
WITH per AS (
  SELECT source, cast(count(*) as bigint) AS n,
         cast(sum({T.TOKEN_COUNT_SQL.format(t='text')}) as bigint) AS tok
  FROM documents GROUP BY source
), tot AS (
  SELECT cast(sum(n) as bigint) AS nn, cast(sum(tok) as bigint) AS tt FROM per
)
SELECT p.source, p.n AS n_docs, p.tok AS n_tokens,
       cast((t.tt * 1000) // t.nn as bigint) AS mean_tok_milli_all,
       cast(((t.tt - p.tok) * 1000) // (t.nn - p.n) as bigint) AS mean_tok_milli_loso,
       cast(((t.tt - p.tok) * 1000) // (t.nn - p.n)
            - (t.tt * 1000) // t.nn as bigint) AS delta_milli
FROM per p CROSS JOIN tot t ORDER BY p.source
""",
)
def loso_token_influence_sources(spark, sf_dir):
    """Leave-one-source-out influence on corpus composition — the
    data-valuation screen that answers 'which source is dragging the
    mix': for each source, the corpus mean tokens-per-doc WITH and
    WITHOUT it (LOSO is exact for linear statistics — two subtractions
    against the 1-row total anchor, no recomputation pass per
    holdout), and the signed delta in milli-tokens. A large positive
    delta means removing the source RAISES corpus quality-proxy —
    the cheapest possible Shapley-style attribution, run before
    anyone pays for per-source perplexity ablations
    (mixture_temperature_weights then decides the reweighting).
    Deltas are differences of nonneg floors — sign-safe. Scale shape:
    one source hash agg + a 1-row fold."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(T.token_count(F.col("text"))).cast("long").alias("tok"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("tok").cast("long").alias("tt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("tok").alias("n_tokens"),
            F.expr("cast((tt * 1000) div nn as bigint)").alias("mean_tok_milli_all"),
            F.expr("cast(((tt - tok) * 1000) div (nn - n) as bigint)").alias(
                "mean_tok_milli_loso"
            ),
            F.expr(
                "cast(((tt - tok) * 1000) div (nn - n) - (tt * 1000) div nn as bigint)"
            ).alias("delta_milli"),
        )
        .orderBy("source")
    )



@register(
    "corpus_growth_recall",
    f"""
WITH half AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < (SELECT count(*) FROM embeddings) // 2),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
ph AS (
  SELECT q.vec_id AS qid, h.vec_id AS nid,
         {_DOT.format(a='q.embedding', b='h.embedding')} AS dot
  FROM q JOIN half h ON h.vec_id != q.vec_id
), pf AS (
  SELECT q.vec_id AS qid, e.vec_id AS nid,
         {_DOT.format(a='q.embedding', b='e.embedding')} AS dot
  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
), rh AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS r
  FROM ph
), rf AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS r
  FROM pf
)
SELECT h.qid AS vec_id,
       cast(count(*) as bigint) AS n_survived,
       cast(3 - count(*) as bigint) AS n_displaced
FROM (SELECT qid, nid FROM rh WHERE r <= 3) h
JOIN (SELECT qid, nid FROM rf WHERE r <= 3) f ON h.qid = f.qid AND h.nid = f.nid
GROUP BY h.qid ORDER BY vec_id
""",
)
def corpus_growth_recall(spark, sf_dir):
    """Index-staleness audit under corpus growth: for 20 probes, how
    many of the top-3 neighbors found in the FIRST HALF of the corpus
    survive as top-3 once the full corpus lands — the displacement
    rate that sets the re-index cadence for any vector store built
    incrementally (int8_recall audits precision compression,
    prefix_dim audits dimension compression; this audits TIME — the
    only axis that degrades while you do nothing). High displacement
    means fresh vectors keep dethroning old neighbors and a
    half-built index is already stale. Both rankings are exact
    fold-dot brute force over their snapshot; survival is one
    equi-join on (probe, neighbor). Probe-broadcast × corpus shape,
    twice."""
    from gipspark.functions.vectors import dot_product

    emb = load(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    half = emb.filter(F.col("vec_id") < n // 2)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    def topk(corpus):
        pairs = (
            F.broadcast(q)
            .join(
                corpus.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")),
                F.col("nid") != F.col("qid"),
            )
            .select("qid", "nid", dot_product(F.col("qe"), F.col("ne")).alias("dot"))
        )
        w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("nid"))
        return (
            pairs.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 3)
            .select("qid", "nid")
        )
    th = topk(half)
    tf = topk(emb)
    return (
        th.join(tf, ["qid", "nid"])
        .groupBy(F.col("qid").alias("vec_id"))
        .agg(
            F.count("*").cast("long").alias("n_survived"),
            (F.lit(3) - F.count("*")).cast("long").alias("n_displaced"),
        )
        .orderBy("vec_id")
    )



@register(
    "langid_margin_docs",
    f"""
WITH sc AS (
  SELECT {T.lang_id_sql('text')} AS pred,
         list_reverse_sort([{_langid_scores_sql()}]) AS srt
  FROM documents
), m AS (
  SELECT pred, srt[1] AS best, srt[1] - srt[2] AS margin FROM sc
)
SELECT pred AS lang,
       cast(count(*) as bigint) AS n_docs,
       cast(count(CASE WHEN best > 0 AND margin = 0 THEN 1 END) as bigint) AS n_tied,
       cast(count(CASE WHEN best > 0 AND margin <= 1 THEN 1 END) as bigint) AS n_low,
       cast((count(CASE WHEN best > 0 AND margin <= 1 THEN 1 END) * 1000000)
            // count(*) as bigint) AS low_margin_q
FROM m GROUP BY pred ORDER BY lang
""",
)
def langid_margin_docs(spark, sf_dir):
    """Language-ID confidence margins — the routing economics of a
    classifier cascade: per predicted language, how many docs the
    cheap marker-count classifier decided by a TIE (margin 0 —
    alphabetical tie-break did the work) or by a 1-marker margin —
    exactly the docs a production pipeline escalates to the expensive
    model, so low_margin_q IS the cascade's second-stage invocation
    rate and its cost forecast (langid_eval/kappa score the
    DECISIONS; this prices the uncertainty BEHIND them). The five
    marker scores sort as an integer array (identical semantics both
    engines); margins are exact. One narrow projection + one hash
    agg."""
    toks = T.tokens(F.col("text"))
    scores = [
        F.size(F.filter(toks, (lambda L: (lambda t: t.isin(T.LANG_MARKERS[L])))(lang)))
        for lang in T._LANG_ORDER
    ]
    srt = F.sort_array(F.array(*scores), asc=False)
    d = load(spark, sf_dir, "documents")
    m = d.select(
        T.lang_id(F.col("text")).alias("pred"),
        F.element_at(srt, 1).alias("best"),
        (F.element_at(srt, 1) - F.element_at(srt, 2)).alias("margin"),
    )
    low = (F.col("best") > 0) & (F.col("margin") <= 1)
    return (
        m.groupBy(F.col("pred").alias("lang"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when((F.col("best") > 0) & (F.col("margin") == 0), 1))
            .cast("long")
            .alias("n_tied"),
            F.count(F.when(low, 1)).cast("long").alias("n_low"),
            F.expr(
                "cast((count(CASE WHEN best > 0 AND margin <= 1 THEN 1 END)"
                " * 1000000) div count(*) as bigint)"
            ).alias("low_margin_q"),
        )
        .orderBy("lang")
    )



@register(
    "rtree_quality_audit",
    f"""
WITH pts AS (
  SELECT c_custkey AS ck, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), xr AS (
  SELECT ck, lat, lon, row_number() OVER (ORDER BY lon, ck) - 1 AS xrank,
         count(*) OVER () AS n
  FROM pts
), sl AS (
  SELECT ck, lat, lon, n,
         (xrank * {_RTQ_SLABS}) // n AS slab
  FROM xr
), pg AS (
  SELECT ck, lat, lon, slab,
         cast(slab as bigint) * 1000
           + (row_number() OVER (PARTITION BY slab ORDER BY lat, ck) - 1) // {_RTQ_PAGE}
           AS page_id
  FROM sl
), mbr AS (
  SELECT page_id, cast(count(*) as bigint) AS n_pts,
         min(lon) AS x0, max(lon) AS x1, min(lat) AS y0, max(lat) AS y1
  FROM pg GROUP BY page_id
), ovl AS (
  SELECT a.page_id AS page_id,
         cast(count(CASE WHEN least(a.x1, b.x1) > greatest(a.x0, b.x0)
                          AND least(a.y1, b.y1) > greatest(a.y0, b.y0)
                     THEN 1 END) as bigint) AS n_overlapping,
         sum(CASE WHEN least(a.x1, b.x1) > greatest(a.x0, b.x0)
                   AND least(a.y1, b.y1) > greatest(a.y0, b.y0)
             THEN (least(a.x1, b.x1) - greatest(a.x0, b.x0))
                  * (least(a.y1, b.y1) - greatest(a.y0, b.y0))
             ELSE 0.0 END) AS overlap_area
  FROM mbr a JOIN mbr b ON a.page_id != b.page_id
  GROUP BY a.page_id
)
SELECT m.page_id AS page_id, m.n_pts,
       (m.x1 - m.x0) * (m.y1 - m.y0) AS mbr_area,
       coalesce(o.n_overlapping, 0) AS n_overlapping,
       coalesce(o.overlap_area, 0.0) AS overlap_area
FROM mbr m LEFT JOIN ovl o ON o.page_id = m.page_id
ORDER BY page_id
""",
)
def rtree_quality_audit(spark, sf_dir):
    """R-tree bulk-load QUALITY metrics for an STR packing of the
    customer cloud: per leaf page, its MBR area and the count/area of
    overlap with sibling MBRs — the two numbers (coverage, overlap)
    that predict range-query fan-out for any R-tree (Beckmann's R*
    criteria): a query falling in overlap must descend BOTH pages, so
    Σoverlap is the expected extra page reads per point query. Uses
    the same STR math as str_pack_customers ({_RTQ_SLABS} lon slabs,
    then {_RTQ_PAGE}-row lat runs; the windows here are the
    query-scale stand-in for its distributed two-phase global rank).
    MBR arithmetic is identical double products both engines; the
    sibling-overlap join is page_count² — index METADATA scale, never
    data scale. Together with spatial_zonemap_audit this closes the
    layout-QA loop: zone maps measure 1-D/SFC layouts, this measures
    true rectangle pages."""
    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("ck"),
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    xr = pts.select(
        "ck",
        "lat",
        "lon",
        (F.row_number().over(Window.orderBy("lon", "ck")) - 1).alias("xrank"),
        F.count("*").over(w_all).alias("n"),
    )
    sl = xr.select(
        "ck", "lat", "lon", F.expr(f"(xrank * {_RTQ_SLABS}) div n").alias("slab")
    )
    pg = sl.select(
        "lat",
        "lon",
        (
            F.col("slab").cast("long") * 1000
            + F.expr(
                f"(row_number() OVER (PARTITION BY slab ORDER BY lat, ck) - 1)"
                f" div {_RTQ_PAGE}"
            )
        ).alias("page_id"),
    )
    mbr = pg.groupBy("page_id").agg(
        F.count("*").cast("long").alias("n_pts"),
        F.min("lon").alias("x0"),
        F.max("lon").alias("x1"),
        F.min("lat").alias("y0"),
        F.max("lat").alias("y1"),
    )
    a = mbr.alias("a")
    b = mbr.alias("b")
    inter = (F.least(F.col("a.x1"), F.col("b.x1")) > F.greatest(F.col("a.x0"), F.col("b.x0"))) & (
        F.least(F.col("a.y1"), F.col("b.y1")) > F.greatest(F.col("a.y0"), F.col("b.y0"))
    )
    ovl = (
        a.join(b, F.col("a.page_id") != F.col("b.page_id"))
        .groupBy(F.col("a.page_id").alias("page_id"))
        .agg(
            F.count(F.when(inter, 1)).cast("long").alias("n_overlapping"),
            F.sum(
                F.when(
                    inter,
                    (F.least(F.col("a.x1"), F.col("b.x1")) - F.greatest(F.col("a.x0"), F.col("b.x0")))
                    * (F.least(F.col("a.y1"), F.col("b.y1")) - F.greatest(F.col("a.y0"), F.col("b.y0"))),
                ).otherwise(F.lit(0.0))
            ).alias("overlap_area"),
        )
    )
    return (
        mbr.join(ovl, "page_id", "left")
        .select(
            "page_id",
            "n_pts",
            ((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))).alias("mbr_area"),
            F.coalesce("n_overlapping", F.lit(0).cast("long")).alias("n_overlapping"),
            F.coalesce("overlap_area", F.lit(0.0)).alias("overlap_area"),
        )
        .orderBy("page_id")
    )



@register(
    "url_front_coding_audit",
    f"""
WITH urls AS (
  SELECT doc_id, {_URL_SQL} AS url,
         split_part(split_part({_URL_SQL}, '/', 3), ':', 1) AS host
  FROM documents
), srt AS (
  SELECT host, url,
         lag(url) OVER (PARTITION BY host ORDER BY url, doc_id) AS prev
  FROM urls
), coded AS (
  SELECT host, cast(length(url) as bigint) AS raw_bytes,
         cast({_lcp_bucket_sql('url', 'prev')} as bigint) AS lcp_b
  FROM srt
)
SELECT host,
       cast(count(*) as bigint) AS n_urls,
       cast(sum(raw_bytes) as bigint) AS raw_bytes,
       cast(sum(raw_bytes - lcp_b) as bigint) AS coded_bytes,
       cast((sum(raw_bytes - lcp_b) * 1000000) // sum(raw_bytes) as bigint)
         AS coded_ratio_q
FROM coded GROUP BY host ORDER BY host
""",
)
def url_front_coding_audit(spark, sf_dir):
    """Front-coding (incremental/prefix encoding) audit for sorted URL
    dictionaries — the compression scheme inside Lucene term dicts,
    Parquet DELTA_BYTE_ARRAY, and every crawl-frontier store: with
    URLs sorted per host, each entry stores only its suffix after the
    longest common prefix with its predecessor. The audit prices the
    layout exactly, using BUCKETED LCP (largest l ∈ {_FC_BUCKETS} with
    equal l-prefixes — a branch ladder of substr equalities, identical
    both engines, deliberately avoiding a per-character loop) — a
    conservative lower bound on real savings. Per host: raw vs coded
    bytes and the coded ratio in micro. Scale shape: one lag window
    per host over the sorted dictionary + one agg — exactly the
    write-path cost of building the dictionary itself."""
    docs = load(spark, sf_dir, "documents")
    url_col = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com:8443/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
    )
    urls = docs.select(
        "doc_id",
        url_col.alias("url"),
        F.col("source").alias("src"),
    ).select(
        "doc_id",
        "url",
        F.expr("split_part(split_part(url, '/', 3), ':', 1)").alias("host"),
    )
    w = Window.partitionBy("host").orderBy("url", "doc_id")
    srt = urls.select("host", "url", F.lag("url").over(w).alias("prev"))
    lcp = F.expr(_lcp_bucket_sql("url", "prev"))
    coded = srt.select(
        "host",
        F.length("url").cast("long").alias("raw_bytes"),
        lcp.cast("long").alias("lcp_b"),
    )
    return (
        coded.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum("raw_bytes").cast("long").alias("raw_bytes"),
            F.sum(F.col("raw_bytes") - F.col("lcp_b")).cast("long").alias("coded_bytes"),
            F.expr(
                "cast((sum(raw_bytes - lcp_b) * 1000000) div sum(raw_bytes) as bigint)"
            ).alias("coded_ratio_q"),
        )
        .orderBy("host")
    )



@register(
    "fleiss_kappa_langid",
    """
WITH rated AS (
  SELECT doc_id,
         CASE WHEN length(text) % 3 = 0 THEN lang
              WHEN length(text) % 7 = 0 THEN 'und' ELSE lang END AS r1,
         CASE WHEN doc_id % 5 = 0 THEN 'und' ELSE lang END AS r2,
         lang AS r3
  FROM documents
), long AS (
  SELECT doc_id, r1 AS cat FROM rated
  UNION ALL SELECT doc_id, r2 FROM rated
  UNION ALL SELECT doc_id, r3 FROM rated
), cell AS (
  SELECT doc_id, cat, cast(count(*) as bigint) AS nij FROM long GROUP BY doc_id, cat
), per_doc AS (
  SELECT doc_id, cast(sum(nij * nij) - 3 as bigint) AS agree_num
  FROM cell GROUP BY doc_id
), tots AS (
  SELECT cast(count(*) as bigint) AS n FROM rated
), cat_tot AS (
  SELECT cat, cast(sum(nij) as bigint) AS cj FROM cell GROUP BY cat
), stats AS (
  SELECT t.n,
         (SELECT cast(sum(agree_num) as bigint) FROM per_doc) AS sum_agree,
         (SELECT cast(sum(cast(cj as DECIMAL(38,0)) * cj) as DECIMAL(38,0))
          FROM cat_tot) AS sum_cj2
  FROM tots t
)
SELECT cast(n as bigint) AS n_docs,
       cast(sum_agree as bigint) AS sum_agree,
       cast(sum_agree as double) / cast(n * 6 as double) AS p_bar,
       cast(sum_cj2 as double) / cast(cast(n as DECIMAL(38,0)) * n * 9 as double)
         AS p_e,
       (cast(sum_agree as double) / cast(n * 6 as double)
        - cast(sum_cj2 as double) / cast(cast(n as DECIMAL(38,0)) * n * 9 as double))
       / (1.0 - cast(sum_cj2 as double)
                / cast(cast(n as DECIMAL(38,0)) * n * 9 as double)) AS kappa
FROM stats
""",
)
def fleiss_kappa_langid(spark, sf_dir):
    """Fleiss' κ for THREE language raters per document (the stored
    label plus two deterministic heuristic variants that disagree on
    length-/id-derived slices) — the multi-rater chance-corrected
    agreement statistic that kappa_langid_docs (two raters, Cohen) and
    cochrans_q_events (binary outcomes) don't cover: per-doc agreement
    Pᵢ = (Σnᵢⱼ² − m)/(m(m−1)) with m=3, chance agreement from squared
    category shares. All sufficient statistics are exact integers
    (category totals squared through DECIMAL(38,0)); κ is assembled
    from them in the same textual double tree both engines. The
    'which annotator pipeline can I trust' gate before treating any
    auto-label as ground truth. Two hash aggs + 1-row combines."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    rated = docs.select(
        "doc_id",
        F.when(F.length("text") % 3 == 0, F.col("lang"))
        .when(F.length("text") % 7 == 0, F.lit("und"))
        .otherwise(F.col("lang"))
        .alias("r1"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("und")).otherwise(F.col("lang")).alias("r2"),
        F.col("lang").alias("r3"),
    )
    long_df = (
        rated.select("doc_id", F.col("r1").alias("cat"))
        .unionByName(rated.select("doc_id", F.col("r2").alias("cat")))
        .unionByName(rated.select("doc_id", F.col("r3").alias("cat")))
    )
    cell = long_df.groupBy("doc_id", "cat").agg(F.count("*").cast("long").alias("nij"))
    per_doc = cell.groupBy("doc_id").agg(
        (F.sum(F.col("nij") * F.col("nij")) - 3).cast("long").alias("agree_num")
    )
    n_df = rated.agg(F.count("*").cast("long").alias("n"))
    agree_df = per_doc.agg(F.sum("agree_num").cast("long").alias("sum_agree"))
    cj2_df = (
        cell.groupBy("cat")
        .agg(F.sum("nij").cast("long").alias("cj"))
        .agg(F.sum(F.col("cj").cast(dec) * F.col("cj")).cast(dec).alias("sum_cj2"))
    )
    s = n_df.crossJoin(F.broadcast(agree_df)).crossJoin(F.broadcast(cj2_df))
    p_bar = F.col("sum_agree").cast("double") / (F.col("n") * 6).cast("double")
    p_e = F.col("sum_cj2").cast("double") / (
        F.col("n").cast(dec) * F.col("n") * 9
    ).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("sum_agree").cast("long").alias("sum_agree"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )



@register(
    "erlang_b_blocking",
    f"""
WITH RECURSIVE load AS (
  SELECT event_type, cast(count(*) as bigint) AS n_ev,
         cast(count(DISTINCT epoch_us(ts) // 1000000 // 3600) as bigint) AS n_hr
  FROM events GROUP BY event_type
), eb(event_type, n, b, a) AS (
  SELECT event_type, 0,
         cast(1.0 as double),
         cast(n_ev as double) / cast(n_hr as double)
  FROM load
  UNION ALL
  SELECT event_type, n + 1,
         (a * b) / (cast(n + 1 as double) + a * b),
         a
  FROM eb WHERE n < {_EB_SERVERS}
)
SELECT event_type, cast(n as int) AS n_servers,
       cast(round(a * 1000.0, 0) as bigint) AS offered_milli_erlangs,
       cast(round(b * 1000000000.0, 0) as bigint) AS blocking_nano
FROM eb WHERE n >= 1 ORDER BY event_type, n_servers
""",
)
def erlang_b_blocking(spark, sf_dir):
    """Erlang-B blocking curve per event type — the century-old
    telephony formula that still sizes every connection pool, trunk
    group, and GPU-serving fleet: with offered load a erlangs (here
    events per active hour, each holding one server-hour), the
    probability an arrival finds all n servers busy follows the exact
    recursion B₀=1, Bₙ = aBₙ₋₁/(n + aBₙ₋₁) — numerically stable and
    irreducibly SEQUENTIAL in n, so the engine runs it as the
    kalman_smooth_daily ordered-fold pattern (one aggregate() over the
    literal 1..{_EB_SERVERS} sequence per type, emitting every step)
    against a recursive-CTE oracle executing the same IEEE tree. Read
    the curve at your SLA (say blocking ≤ 1e-3) and the column is your
    server count. One hash agg + a per-type fold over {_EB_SERVERS}
    literal steps."""
    ev = load(spark, sf_dir, "events")
    ld = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_ev"),
        F.countDistinct(F.expr("unix_timestamp(ts) div 3600")).cast("long").alias("n_hr"),
    )
    fold = ld.select(
        "event_type",
        (F.col("n_ev").cast("double") / F.col("n_hr").cast("double")).alias("a"),
        F.expr(
            f"""
aggregate(
  sequence(1, {_EB_SERVERS}),
  named_struct('b', cast(1.0 as double),
               'o', cast(array() as array<struct<n:int,b:double>>)),
  (acc, n) -> named_struct(
    'b', (a * acc.b) / (cast(n as double) + a * acc.b),
    'o', concat(acc.o, array(named_struct(
        'n', n, 'b', (a * acc.b) / (cast(n as double) + a * acc.b))))),
  acc -> acc.o) AS o
"""
        ),
    )
    return (
        fold.select("event_type", "a", F.explode("o").alias("e"))
        .select(
            "event_type",
            F.col("e.n").cast("int").alias("n_servers"),
            F.round(F.col("a") * F.lit(1000.0), 0).cast("long").alias("offered_milli_erlangs"),
            F.round(F.col("e.b") * F.lit(1000000000.0), 0).cast("long").alias("blocking_nano"),
        )
        .orderBy("event_type", "n_servers")
    )



@register(
    "prefix_trie_stats_urls",
    f"""
WITH urls AS (
  SELECT {_URL_SQL} AS url FROM documents
), depths AS (
  SELECT cast(d as int) AS d
  FROM (VALUES {", ".join(f"({d})" for d in _TRIE_DEPTHS)}) AS t(d)
), pfx AS (
  SELECT d.d, substr(u.url, 1, d.d) AS p
  FROM urls u CROSS JOIN depths d
), nodes AS (
  SELECT d, p, cast(count(*) as bigint) AS n_urls FROM pfx GROUP BY d, p
)
SELECT d AS depth,
       cast(count(*) as bigint) AS n_nodes,
       cast(max(n_urls) as bigint) AS max_fanout_urls,
       cast(sum(n_urls) as bigint) AS n_urls_total,
       cast((sum(n_urls) * 1000) // count(*) as bigint) AS avg_urls_per_node_milli
FROM nodes GROUP BY d ORDER BY depth
""",
)
def prefix_trie_stats_urls(spark, sf_dir):
    """Prefix-trie profile of the URL dictionary: distinct prefixes
    (trie nodes) and URL fan-out at depths {_TRIE_DEPTHS} — the
    structural numbers that size a crawl frontier's radix tree /
    ART index and predict url_front_coding_audit's savings (few
    nodes at depth 20 = long shared runs = front-coding gold; a node
    explosion between depths marks where hosts diverge into paths).
    One prefix fan-out agg per literal depth — the trie is never
    materialized, only measured, which is the trick: at 10¹² URLs
    you can price the index before building it. Pure string/codegen
    ops."""
    docs = load(spark, sf_dir, "documents")
    url_col = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com:8443/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
    )
    urls = docs.select(url_col.alias("url"))
    depths = spark.createDataFrame([(d,) for d in _TRIE_DEPTHS], "d int")
    pfx = urls.crossJoin(F.broadcast(depths)).select(
        "d", F.expr("substr(url, 1, d)").alias("p")
    )
    nodes = pfx.groupBy("d", "p").agg(F.count("*").cast("long").alias("n_urls"))
    return (
        nodes.groupBy(F.col("d").alias("depth"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.max("n_urls").cast("long").alias("max_fanout_urls"),
            F.sum("n_urls").cast("long").alias("n_urls_total"),
            F.expr("(sum(n_urls) * 1000) div count(*)").alias("avg_urls_per_node_milli"),
        )
        .orderBy("depth")
    )



@register(
    "token_bucket_replay_users",
    f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), tb(user_id, rn, n, tokens_milli, last_t, n_ok, n_throttled) AS (
  SELECT user_id, 0, n, cast({_TB_BURST * 1000} as bigint), cast(0 as bigint),
         cast(0 as bigint), cast(0 as bigint)
  FROM (SELECT DISTINCT user_id, n FROM ev)
  UNION ALL
  SELECT p.user_id, p.rn + 1, p.n,
         CASE WHEN least(cast({_TB_BURST * 1000} as bigint),
                         p.tokens_milli + ((e.t - p.last_t) * 1000) // {_TB_RATE_SEC})
                   >= 1000
              THEN least(cast({_TB_BURST * 1000} as bigint),
                         p.tokens_milli + ((e.t - p.last_t) * 1000) // {_TB_RATE_SEC})
                   - 1000
              ELSE least(cast({_TB_BURST * 1000} as bigint),
                         p.tokens_milli + ((e.t - p.last_t) * 1000) // {_TB_RATE_SEC})
         END,
         e.t,
         p.n_ok + CASE WHEN least(cast({_TB_BURST * 1000} as bigint),
                              p.tokens_milli
                              + ((e.t - p.last_t) * 1000) // {_TB_RATE_SEC}) >= 1000
                       THEN 1 ELSE 0 END,
         p.n_throttled + CASE WHEN least(cast({_TB_BURST * 1000} as bigint),
                                    p.tokens_milli
                                    + ((e.t - p.last_t) * 1000) // {_TB_RATE_SEC}) >= 1000
                              THEN 0 ELSE 1 END
  FROM tb p JOIN ev e ON e.user_id = p.user_id AND e.rn = p.rn + 1
)
SELECT user_id, cast(n as bigint) AS n_requests, n_ok, n_throttled,
       cast((n_throttled * 1000000) // n as bigint) AS throttle_share_q
FROM tb WHERE rn = n ORDER BY user_id
""",
)
def token_bucket_replay_users(spark, sf_dir):
    """Token-bucket rate-limiter replay (1 token / {_TB_RATE_SEC} s,
    burst {_TB_BURST}) against each user's real request stream — the
    capacity-planning question every API gateway answers by guessing:
    with THIS policy, which users get throttled and how hard? Refill
    is integer milli-tokens (elapsed·1000 // rate — no float drip),
    consumption is the classic take-if-≥1 state machine, which is
    sequential per user and therefore the ordered-fold pattern once
    more (scalar struct state; the oracle replays the identical
    integer machine in a recursive CTE). throttle_share near zero =
    policy headroom; bursty users (fano_burstiness's top decile) are
    exactly the ones the burst parameter protects — or fails to."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id", F.expr("unix_timestamp(ts)").alias("t"), "event_id"
    )
    fold = base.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_requests"),
        F.expr(
            f"""
aggregate(
  transform(array_sort(collect_list(struct(t, event_id))), x -> x.t),
  named_struct('tok', cast({_TB_BURST * 1000} as bigint), 'last_t', cast(0 as bigint),
               'n_ok', cast(0 as bigint), 'n_thr', cast(0 as bigint)),
  (acc, t) -> named_struct(
    'tok', CASE WHEN least(cast({_TB_BURST * 1000} as bigint),
                      acc.tok + ((t - acc.last_t) * 1000) div {_TB_RATE_SEC}) >= 1000
                THEN least(cast({_TB_BURST * 1000} as bigint),
                      acc.tok + ((t - acc.last_t) * 1000) div {_TB_RATE_SEC}) - 1000
                ELSE least(cast({_TB_BURST * 1000} as bigint),
                      acc.tok + ((t - acc.last_t) * 1000) div {_TB_RATE_SEC}) END,
    'last_t', t,
    'n_ok', acc.n_ok + CASE WHEN least(cast({_TB_BURST * 1000} as bigint),
                         acc.tok + ((t - acc.last_t) * 1000) div {_TB_RATE_SEC}) >= 1000
                            THEN 1L ELSE 0L END,
    'n_thr', acc.n_thr + CASE WHEN least(cast({_TB_BURST * 1000} as bigint),
                          acc.tok + ((t - acc.last_t) * 1000) div {_TB_RATE_SEC}) >= 1000
                               THEN 0L ELSE 1L END),
  acc -> acc) AS st
"""
        ).alias("st"),
    )
    return fold.select(
        "user_id",
        "n_requests",
        F.col("st.n_ok").cast("long").alias("n_ok"),
        F.col("st.n_thr").cast("long").alias("n_throttled"),
        F.expr("(st.n_thr * 1000000) div n_requests").alias("throttle_share_q"),
    ).orderBy("user_id")



# ---------------------------------------------------------------------------
# round-4 batch (session 3z): Luhn, edge duplication, anagrams, effect sizes
# ---------------------------------------------------------------------------


@register(
    "luhn_check_docs",
    """
WITH runs AS (
  SELECT doc_id, source, unnest(regexp_extract_all(
           text || ' ' || cast(doc_id * 4532015112830366 % 10000000000000000 as varchar),
           '[0-9]{13,16}')) AS num
  FROM documents
), digits AS (
  SELECT doc_id, source, num,
         list_sum(list_transform(generate_series(1, length(num)),
           i -> CASE WHEN (length(num) - i) % 2 = 1
                THEN CASE WHEN cast(substr(num, i, 1) as int) * 2 > 9
                          THEN cast(substr(num, i, 1) as int) * 2 - 9
                          ELSE cast(substr(num, i, 1) as int) * 2 END
                ELSE cast(substr(num, i, 1) as int) END)) AS luhn_sum
  FROM runs
)
SELECT source,
       cast(count(*) as bigint) AS n_candidates,
       cast(count(CASE WHEN luhn_sum % 10 = 0 THEN 1 END) as bigint) AS n_luhn_valid,
       cast((count(CASE WHEN luhn_sum % 10 = 0 THEN 1 END) * 1000000)
            // count(*) as bigint) AS valid_share_q
FROM digits GROUP BY source ORDER BY source
""",
)
def luhn_check_docs(spark, sf_dir):
    """Luhn checksum triage of card-shaped digit runs — the upgrade
    pii_scrub_docs' regex pass needs: a 13–16-digit run matches the
    card PATTERN, but only ~10% of random digit strings pass Luhn, so
    the valid-share per source separates real payment-card leakage
    (share → 10⁶) from order ids and timestamps (share ≈ 10⁵, the
    chance rate — which is what this corpus shows; a deterministic
    per-doc digit run is salted in so every source has candidates).
    The double-every-second-digit-from-the-right rule is pure integer
    substr math over a per-candidate digit fold — no UDF. One
    extract-explode + one census."""
    docs = load(spark, sf_dir, "documents")
    runs = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "regexp_extract_all(text || ' ' ||"
                " cast(doc_id * 4532015112830366 % 10000000000000000 as string),"
                " '[0-9]{13,16}', 0)"
            )
        ).alias("num"),
    )
    digits = runs.select(
        "source",
        F.expr(
            """
aggregate(
  transform(sequence(1, length(num)),
    i -> CASE WHEN (length(num) - i) % 2 = 1
         THEN CASE WHEN cast(substr(num, i, 1) as int) * 2 > 9
                   THEN cast(substr(num, i, 1) as int) * 2 - 9
                   ELSE cast(substr(num, i, 1) as int) * 2 END
         ELSE cast(substr(num, i, 1) as int) END),
  0, (s, x) -> s + x) AS luhn_sum
"""
        ).alias("luhn_sum"),
    )
    return (
        digits.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.count(F.when(F.col("luhn_sum") % 10 == 0, 1))
            .cast("long")
            .alias("n_luhn_valid"),
            F.expr(
                "(count(CASE WHEN luhn_sum % 10 = 0 THEN 1 END) * 1000000)"
                " div count(*)"
            ).alias("valid_share_q"),
        )
        .orderBy("source")
    )



@register(
    "anagram_groups_terms",
    """
WITH toks AS (
  SELECT DISTINCT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
), keyed AS (
  SELECT w, array_to_string(list_sort(regexp_extract_all(w, '.')), '') AS sig
  FROM toks WHERE length(w) >= 4
), grp AS (
  SELECT sig, cast(count(*) as bigint) AS n_words, min(w) AS first_word
  FROM keyed GROUP BY sig
)
SELECT cast(n_words as int) AS group_size,
       cast(count(*) as bigint) AS n_groups,
       min(first_word) AS example_word
FROM grp GROUP BY n_words ORDER BY group_size
""",
)
def anagram_groups_terms(spark, sf_dir):
    """Anagram-group census of the vocabulary: words keyed by their
    sorted-character signature — the canonical-form blocking idiom
    (soundex_blocking's phonetic cousin, symspell's deletion cousin)
    in its purest form: a PERFECT blocking key (no false negatives
    within the transposition edit class) whose group-size histogram
    measures how much signature-based candidate pruning the
    vocabulary even admits. Char explode via regexp_extract_all('.')
    + array sort + join — identical semantics both engines (verified
    parity probe), no UDF. One distinct-vocab agg + two censuses."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("w")).distinct()
    keyed = toks.filter(F.length("w") >= 4).select(
        "w",
        F.expr("array_join(array_sort(regexp_extract_all(w, '.', 0)), '')").alias("sig"),
    )
    grp = keyed.groupBy("sig").agg(
        F.count("*").cast("long").alias("n_words"), F.min("w").alias("first_word")
    )
    return (
        grp.groupBy(F.col("n_words").cast("int").alias("group_size"))
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.min("first_word").alias("example_word"),
        )
        .orderBy("group_size")
    )



@register(
    "doc_hygiene_census",
    """
WITH base AS (
  SELECT source, text, length(text) AS len,
         length(trim(text)) AS trimmed_len,
         md5(text) AS digest
  FROM documents
), dup AS (
  SELECT digest, cast(count(*) as bigint) AS c FROM base GROUP BY digest
)
SELECT b.source,
       cast(count(*) as bigint) AS n_docs,
       cast(count(CASE WHEN b.len = 0 THEN 1 END) as bigint) AS n_empty,
       cast(count(CASE WHEN b.len > 0 AND b.trimmed_len = 0 THEN 1 END) as bigint)
         AS n_whitespace_only,
       cast(count(CASE WHEN b.trimmed_len > 0 AND b.trimmed_len < 20 THEN 1 END)
            as bigint) AS n_too_short,
       cast(count(CASE WHEN d.c > 1 THEN 1 END) as bigint) AS n_exact_dups,
       cast(min(b.len) as bigint) AS min_len, cast(max(b.len) as bigint) AS max_len
FROM base b JOIN dup d ON d.digest = b.digest
GROUP BY b.source ORDER BY b.source
""",
)
def doc_hygiene_census(spark, sf_dir):
    """Document-hygiene preflight per source: empties,
    whitespace-only, too-short (<20 trimmed chars), exact-duplicate
    members, and the length envelope — the five checks
    curation_pipeline_docs' first stage implicitly assumes someone
    ran, stated as one census so an ingest regression (a scraper
    suddenly emitting empty bodies for one host) is a diff on THIS
    table instead of a mystery downstream (quality scores divide by
    token counts; an empty-doc wave turns them into noise). One
    digest agg + one join + one census."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.length("text").alias("len"),
        F.length(F.trim(F.col("text"))).alias("trimmed_len"),
        F.md5("text").alias("digest"),
    )
    dup = base.groupBy("digest").agg(F.count("*").cast("long").alias("c"))
    return (
        base.join(dup, "digest")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when(F.col("len") == 0, 1)).cast("long").alias("n_empty"),
            F.count(F.when((F.col("len") > 0) & (F.col("trimmed_len") == 0), 1))
            .cast("long")
            .alias("n_whitespace_only"),
            F.count(
                F.when((F.col("trimmed_len") > 0) & (F.col("trimmed_len") < 20), 1)
            )
            .cast("long")
            .alias("n_too_short"),
            F.count(F.when(F.col("c") > 1, 1)).cast("long").alias("n_exact_dups"),
            F.min("len").cast("long").alias("min_len"),
            F.max("len").cast("long").alias("max_len"),
        )
        .orderBy("source")
    )



def _bpe_curve_oracle_sql() -> str:
    from gipspark.functions.bpe import bpe_oracle_init
    from gipspark.functions.bpe_merges import MERGES

    def chain_at(r: int) -> str:
        def wrap(t: str) -> str:
            return f"chr(2)||'{t}'||chr(3)"

        expr = bpe_oracle_init("tok")
        for a, b in MERGES[:r]:
            expr = f"replace({expr}, {wrap(a)}||{wrap(b)}, {wrap(a + b)})"
        return expr

    checkpoints = sorted({0, len(MERGES) // 4, len(MERGES) // 2, len(MERGES)})
    arms = "\nUNION ALL\n".join(
        f"""SELECT {r} AS n_merges,
       cast(sum(length({chain_at(r)}) - length(replace({chain_at(r)}, chr(2), ''))) as bigint)
         AS total_tokens,
       cast(sum(length(tok)) as bigint) AS total_chars
FROM toks"""
        for r in checkpoints
    )
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, $${BPE_PATTERN}$$)) AS tok
  FROM documents WHERE doc_id < 300
)
SELECT n_merges, total_tokens, total_chars,
       cast(total_tokens * 1000 // total_chars as bigint) AS tokens_per_kchar
FROM ({arms}) ORDER BY n_merges
"""


@register("bpe_vocab_curve", _bpe_curve_oracle_sql())
def bpe_vocab_curve(spark, sf_dir):
    """BPE vocab-size curve (r5, the sibling of bpe_merge_token_counts):
    corpus token count under PREFIXES of the committed merge table
    (0 / quarter / half / full merges — prefixes of a learned table are
    themselves valid learned tables because training is sequential).
    This is the compression-vs-vocab trade every tokenizer choice walks:
    tokens-per-kilochar falls as merges accumulate and the knee says
    where extra vocab stops paying. Bit-exact both sides — the oracle
    replays each truncated chain with the same wrapped-encoding replace
    trick. Scale shape: one explode + one Arrow UDF pass per
    checkpoint arm + a 4-row union of scalar aggregates; memoized per
    batch over unique pre-tokens."""
    from gipspark.functions.bpe import bpe_token_count_at
    from gipspark.functions.bpe_merges import MERGES

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
        ).alias("tok")
    )
    checkpoints = sorted({0, len(MERGES) // 4, len(MERGES) // 2, len(MERGES)})
    arms = []
    for r in checkpoints:
        cnt = bpe_token_count_at(r)
        arms.append(
            toks.agg(
                F.lit(r).cast("long").alias("n_merges"),
                F.sum(cnt(F.col("tok"))).cast("long").alias("total_tokens"),
                F.sum(F.length("tok")).cast("long").alias("total_chars"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.select(
        "n_merges",
        "total_tokens",
        "total_chars",
        F.expr("cast((total_tokens * 1000) div total_chars as bigint)").alias(
            "tokens_per_kchar"
        ),
    ).orderBy("n_merges")


@register(
    "heaps_law_docs",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
), firsts AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
), doc_tokens AS (
  SELECT doc_id, cast(count(*) as bigint) AS n FROM toks GROUP BY doc_id
), cps AS (
  SELECT unnest([32, 64, 128, 256, 500]) AS cp
)
SELECT cast(cp as bigint) AS n_docs,
       (SELECT cast(coalesce(sum(n), 0) as bigint) FROM doc_tokens WHERE doc_id < cp)
         AS n_tokens,
       (SELECT cast(count(*) as bigint) FROM firsts WHERE first_doc < cp)
         AS n_types,
       (SELECT cast(count(*) * 1000000 as bigint) FROM firsts WHERE first_doc < cp)
         // (SELECT cast(greatest(coalesce(sum(n), 1), 1) as bigint)
             FROM doc_tokens WHERE doc_id < cp)
         AS ttr_micro
FROM cps ORDER BY n_docs
""",
)
def heaps_law_docs(spark, sf_dir):
    """Heaps'-law vocabulary growth curve (r5): distinct types vs
    cumulative tokens at doubling document-count checkpoints, in
    doc_id order (a total order, so 'first N docs' is deterministic).
    The companion diagnostic to zipf_doubling_slope_sources that every
    training-data pipeline reads before sizing a tokenizer vocab or
    judging dedup health: a corpus whose type count keeps growing at
    the Heaps rate V≈K·nᵝ is healthy; a flattening curve means
    near-duplicate contamination, and a superlinear one means noise /
    PII / encoding garbage. Exact integers — types counted via each
    term's min first-occurrence doc (one hash agg), token totals via a
    per-doc count, checkpoints evaluated by comparison not windowing;
    the type-token ratio is a floor-div micro tick. Scale shape: one
    explode + two hash aggs, checkpoint arms are scalar lookups on the
    two aggregates (the doubling-bucket trick keeps the output
    dim-bounded at any corpus size)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    arms = []
    for cp in (32, 64, 128, 256, 500):
        types = firsts.filter(F.col("first_doc") < cp).agg(
            F.count("*").cast("long").alias("n_types")
        )
        tokens = doc_tokens.filter(F.col("doc_id") < cp).agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_tokens")
        )
        arms.append(
            types.crossJoin(F.broadcast(tokens)).select(
                F.lit(cp).cast("long").alias("n_docs"),
                "n_tokens",
                "n_types",
                F.expr(
                    "cast((n_types * 1000000) div greatest(n_tokens, 1) as bigint)"
                ).alias("ttr_micro"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("n_docs")


@register(
    "oov_bigram_rate_docs",
    r"""
WITH toks AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS pos
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok,
           generate_subscripts(regexp_split_to_array(lower(trim(text)), '\s+'), 1) AS idx
    FROM documents
  )
), bi AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
), ref AS (
  SELECT DISTINCT w1, w2 FROM bi WHERE doc_id % 2 = 0
)
SELECT bi.doc_id,
       cast(count(*) as bigint) AS n_bigrams,
       cast(count(*) FILTER (WHERE ref.w1 IS NULL) as bigint) AS n_oov,
       cast(count(*) FILTER (WHERE ref.w1 IS NULL) * 1000000 // count(*) as bigint)
         AS oov_rate_micro
FROM bi LEFT JOIN ref ON ref.w1 = bi.w1 AND ref.w2 = bi.w2
WHERE bi.doc_id % 2 = 1
GROUP BY bi.doc_id ORDER BY bi.doc_id
""",
)
def oov_bigram_rate_docs(spark, sf_dir):
    """Out-of-vocabulary bigram rate (r5): score each held-out doc
    (odd doc_ids) by the fraction of its token bigrams never seen in
    the reference half (even doc_ids) — the libm-free stand-in for LM
    perplexity filtering that training-data pipelines actually deploy
    first (a doc whose bigrams are mostly novel against a large
    reference is boilerplate mutation, encoding damage, or another
    language; near-zero OOV on a held-out doc conversely flags
    train/eval CONTAMINATION — this is the same statistic
    n-gram decontamination thresholds). Exact integers end to end:
    bigrams via a positional self-join on the exploded token index, a
    distinct reference set, one left join + conditional counts.
    Scale shape: bigram sets shuffle on (w1, w2) — Σposting bounded by
    corpus tokens; the reference set is itself a distributed table
    (never collected), so the join scales as a plain equi-join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    bi = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.tok").alias("w1"),
            F.col("b.tok").alias("w2"),
        )
    )
    ref = bi.filter(F.col("doc_id") % 2 == 0).select("w1", "w2").distinct()
    scored = bi.filter(F.col("doc_id") % 2 == 1).join(
        ref.withColumn("__seen", F.lit(1)), ["w1", "w2"], "left"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.count_if(F.col("__seen").isNull()).cast("long").alias("n_oov"),
            F.expr(
                "cast((count_if(__seen is null) * 1000000) div count(*) as bigint)"
            ).alias("oov_rate_micro"),
        )
        .orderBy("doc_id")
    )


def _ranker_agreement_sql() -> str:
    from gipspark.queries._shared import _BM25_TERMS, _bm25_tf_sql

    arms = []
    for term in _BM25_TERMS:
        tf = _bm25_tf_sql(term)
        arms.append(f"""
SELECT '{term}' AS term, n_matched, overlap_at_10 FROM (
  WITH pt AS (
    SELECT doc_id,
           cast({{dl}} as bigint) AS dl,
           cast({tf} as bigint) AS tf
    FROM documents
  ), st AS (
    SELECT cast(count(*) as bigint) AS n, cast(sum(dl) as bigint) AS sumdl,
           cast(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) as bigint) AS df
    FROM pt
  ), m AS (SELECT pt.*, st.n, st.sumdl, st.df FROM pt CROSS JOIN st WHERE tf > 0),
  bm AS (
    SELECT doc_id FROM (
      SELECT doc_id,
             ((cast(n - df as double) + 0.5) / (cast(df as double) + 0.5) + 1.0)
             * ((cast(tf as double) * 2.2) / (cast(tf as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / (cast(sumdl as double) / cast(n as double)))))) AS s
      FROM m) ORDER BY s DESC, doc_id LIMIT 10
  ), tfr AS (
    SELECT doc_id FROM m ORDER BY tf DESC, doc_id LIMIT 10
  )
  SELECT (SELECT cast(count(*) as bigint) FROM m) AS n_matched,
         (SELECT cast(count(*) as bigint) FROM bm JOIN tfr USING (doc_id))
           AS overlap_at_10
)""")
    body = "\nUNION ALL\n".join(arms)
    return body.replace(
        "{dl}", "len(regexp_split_to_array(lower(trim(text)), '\\s+'))"
    ) + "\nORDER BY term"


@register("ranker_agreement_contract", _ranker_agreement_sql())
def ranker_agreement_contract(spark, sf_dir):
    """Ranker-agreement contract (r5): per frozen query term, the
    overlap@10 between BM25 (saturated tf, length-normalized) and raw
    term-frequency ranking — for a single term, classic TF-IDF orders
    purely by tf (idf is constant within the term), so this census
    isolates exactly what BM25's k1 saturation + b length prior CHANGE
    in the result page, which is the evidence a search tuner wants
    before touching those knobs (overlap 10/10 = the prior is inert on
    this corpus; low overlap = long docs were dominating raw tf). Both
    rankers use exact deterministic tie-breaks (score/tf desc, doc_id)
    and BM25 keeps the log-free rational idf (the bm25_topk_docs
    discipline) so every double is bit-identical cross-engine. Scale
    shape: per term one 1-row stats broadcast + two top-10
    TakeOrderedAndProject + one 10×10 join — constant beyond the scan."""
    from gipspark.queries._shared import _BM25_TERMS

    d = load(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    out = None
    for term in _BM25_TERMS:
        pt = d.select(
            "doc_id",
            T.token_count(F.col("text")).cast("long").alias("dl"),
            F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("long").alias("tf"),
        )
        st = pt.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dl").cast("long").alias("sumdl"),
            F.sum(F.when(F.col("tf") > 0, 1).otherwise(0)).cast("long").alias("df"),
        )
        m = pt.filter(F.col("tf") > 0).crossJoin(F.broadcast(st))
        s = (
            ((F.col("n") - F.col("df")).cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1.0
        ) * (
            (F.col("tf").cast("double") * 2.2)
            / (
                F.col("tf").cast("double")
                + 1.2
                * (
                    0.25
                    + 0.75
                    * (
                        F.col("dl").cast("double")
                        / (F.col("sumdl").cast("double") / F.col("n").cast("double"))
                    )
                )
            )
        )
        bm = (
            m.select("doc_id", s.alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id")
        )
        tfr = (
            m.select("doc_id", "tf")
            .orderBy(F.desc("tf"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id")
        )
        n_matched = m.agg(F.count("*").cast("long").alias("n_matched"))
        overlap = bm.join(tfr, "doc_id").agg(
            F.count("*").cast("long").alias("overlap_at_10")
        )
        row = (
            n_matched.crossJoin(F.broadcast(overlap))
            .select(F.lit(term).alias("term"), "n_matched", "overlap_at_10")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("term")
