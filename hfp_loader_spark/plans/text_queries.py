"""Text-analysis query catalog over ``documents`` (SURVEY §2.11 text tier).

Tokenization, term counts, TF-IDF, language-ID, quality scoring, and
fingerprinting — all zero-UDF Catalyst expressions from
``operators.text``, each with a DuckDB oracle (``string_split_regex`` +
``unnest`` on the SQL side).

Scale shape: tokenize/score are narrow projections fused into the scan;
``explode`` happens only where a term-level aggregate follows immediately,
so partial (map-side) aggregation absorbs the ~100× row blowup before any
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hfp_loader_spark.operators.relational import global_top_k, top_k_per_group
from hfp_loader_spark.operators.text import (
    LANG_LEXICONS,
    fingerprint,
    predict_lang,
    quality_features,
    quality_score,
    tokens,
)
from hfp_loader_spark.plans import money as _mny
from hfp_loader_spark.plans.catalog import TOKS_SQL, _t, defquery

_TOKS_SQL = TOKS_SQL  # the shared oracle tokenizer (plans.catalog)


@defquery(
    "text_token_counts_top20",
    f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
    SELECT term, CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY term
    ORDER BY n DESC, term
    LIMIT 20
    """,
    doc="Global term frequencies: tokenize → explode → count → top-20. "
    "Partial aggregation happens before the shuffle; the final top-k is "
    "TakeOrderedAndProject.",
)
def text_token_counts_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    return global_top_k(counts, [F.desc("n"), F.asc("term")], 20)


@defquery(
    "text_zipf_spectrum",
    f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT term, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY term)
    SELECT CAST(length(bin(c)) AS INT) AS bucket,
           CAST(count(*) AS BIGINT)    AS n_terms,
           CAST(sum(c) AS BIGINT)      AS n_occurrences,
           min(term)                   AS example_term
    FROM tf GROUP BY 1
    """,
    doc="Zipf frequency-of-frequencies spectrum: term occurrence counts "
    "bucketed by binary magnitude (length(bin(c)) — an INTEGER log2, "
    "immune to the libm log2(2^k) boundary ulp that a float bucket "
    "would gamble on), with term and occurrence mass per bucket. "
    "Bucket 1 is the hapax legomena count — the classic corpus-health "
    "signal (a scraped corpus with a collapsed hapax fraction is "
    "boilerplate-heavy; an inflated one is OCR noise). Scale shape: "
    "explode → map-side-combined term count → ≤64-row rollup.",
)
def text_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    return (
        tf.groupBy(F.length(F.bin("c")).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("c").alias("n_occurrences"),
            F.min("term").alias("example_term"),
        )
    )


@defquery(
    "text_doc_token_stats",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           round(CASE WHEN len(t) > 0
                 THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t)
                 ELSE 0 END, 4)                  AS mean_token_len
    FROM toks
    """,
    doc="Per-document token counting (whitespace+regex tokenizer): counts, "
    "distinct counts, mean token length. Pure narrow projection — no "
    "shuffle at any scale.",
)
def text_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
        F.round(
            F.when(
                n > 0,
                F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)) / n,
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("mean_token_len"),
    )


@defquery(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored WHERE doc_id < 50
    ) WHERE rn <= 3
    """,
    doc="TF-IDF: term frequency × ln(N/df), top-3 terms per document "
    "(rounded score + term tiebreak). Two aggregations share the exploded "
    "tokens; the df side is tiny and broadcast into the join.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; at scale use a broadcast scalar subquery
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias(
            "tfidf"
        ),
    )
    return top_k_per_group(
        scored.where(F.col("doc_id") < 50),
        ["doc_id"],
        [F.desc("tfidf"), F.asc("term")],
        3,
    ).select("doc_id", "term", "tfidf", F.col("rn").cast("long").alias("rn"))


def _lex_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
    return f"len(list_filter(t, x -> list_contains([{words}], x)))"


@defquery(
    "text_langid_agreement",
    f"""
    WITH scored AS (
      SELECT lang,
             {_lex_sql("de")} AS de_h, {_lex_sql("en")} AS en_h,
             {_lex_sql("es")} AS es_h, {_lex_sql("fr")} AS fr_h
      FROM (SELECT lang, {_TOKS_SQL} AS t FROM documents)
    ),
    pred AS (
      SELECT lang,
             CASE WHEN de_h > 0 AND de_h >= en_h AND de_h >= es_h AND de_h >= fr_h THEN 'de'
                  WHEN en_h > 0 AND en_h >= es_h AND en_h >= fr_h THEN 'en'
                  WHEN es_h > 0 AND es_h >= fr_h THEN 'es'
                  WHEN fr_h > 0 THEN 'fr'
                  ELSE 'und' END AS predicted
      FROM scored
    )
    SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, predicted
    """,
    doc="Language-ID heuristic: per-language stopword hits, argmax with "
    "alphabetical tiebreak, compared against the labeled lang column. "
    "One narrow projection + one small aggregate.",
)
def text_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang", predict_lang(tokens(F.col("text"))).alias("predicted")
        )
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


# (doc_id, quality, n_toks) — the DuckDB mirror of operators.text.
# quality_score, shared by every quality-consuming oracle (one definition,
# same rationale as TOKS_SQL).
_QUALITY_SCORED_SQL = f"""
    feats AS (
      SELECT doc_id, length(text) AS n_chars, {_TOKS_SQL} AS t,
             len(list_filter({_TOKS_SQL},
                 x -> list_contains(['the','a','and','of','to','in','is','value','table'], x)))
               AS stop_hits
      FROM documents
    ),
    scored AS (
      SELECT doc_id, len(t) AS n_toks,
             round(0.4 * least(len(t) / 50.0, 1.0)
                 + 0.3 * (1.0 - least(abs(CASE WHEN len(t) > 0
                       THEN list_sum(list_transform(t, x -> len(x))) * 1.0 / len(t)
                       ELSE 0 END - 5.0) / 5.0, 1.0))
                 + 0.3 * (CASE WHEN len(t) > 0 THEN stop_hits * 1.0 / len(t) ELSE 0 END),
               4) AS quality
      FROM feats
    )
"""


@defquery(
    "text_quality_top20",
    f"""
    WITH {_QUALITY_SCORED_SQL}
    SELECT doc_id, quality FROM scored
    ORDER BY quality DESC, doc_id LIMIT 20
    """,
    doc="Quality scoring (length + token-shape + stopword-ratio mix in "
    "[0,1]) and global top-20. The score is a pushdown-friendly narrow "
    "projection — the 100 TB use is filtering before expensive stages.",
)
def text_quality_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", quality_score(F.col("text"), round_to=4).alias("quality")
    )
    return global_top_k(scored, [F.desc("quality"), F.asc("doc_id")], 20)


@defquery(
    "text_quality_bin_budget",
    f"""
    WITH {_QUALITY_SCORED_SQL}
    SELECT least(CAST(floor(quality * 10) AS BIGINT), 9) AS quality_bin,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_toks) AS BIGINT)   AS total_tokens,
           -- quality is already 4dp-quantized, so its average is an
           -- integer quotient in 1e-4 units: tie-free integer half-up
           {_mny._sql_int_avg(
               "sum(CAST(round(quality * 10000) AS HUGEINT))", 4, 10000)}
             AS avg_quality
    FROM scored
    GROUP BY 1
    """,
    doc="Quality-binned token budget — the curriculum/data-mixing input a "
    "pre-training pipeline computes before sampling (how many tokens "
    "exist per quality stratum): each doc lands in a FIXED-VALUE decile "
    "bin (floor(quality·10), clamped) via a row-local projection — "
    "deliberately NOT ntile(), whose global rank window would be a "
    "single-partition sort over the corpus at 100 TB — then one hash "
    "aggregate over ≤10 groups. Composable with mixture_sample: the "
    "per-bin budgets become its per-source keep thresholds.",
)
def text_quality_bin_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score(F.col("text"), round_to=4).alias("quality"),
        F.size(tokens(F.col("text"))).alias("n_toks"),
    )
    return (
        scored.withColumn(
            "quality_bin",
            F.least(
                F.floor(F.col("quality") * 10).cast("long"), F.lit(9)
            ),
        )
        .groupBy("quality_bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            _mny._int_avg(
                F.sum(
                    F.round(F.col("quality") * 10000).cast("decimal(38,0)")
                ),
                F.count("*"),
                4,
                10000,
            ).alias("avg_quality"),
        )
    )


@defquery(
    "text_fingerprint_groups",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5(coalesce(array_to_string(({_TOKS_SQL})[1:5], ' '), '')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM fp GROUP BY fingerprint
    HAVING count(*) > 1
    """,
    doc="Document fingerprinting: md5 over the normalized 5-token prefix "
    "shingle → duplicate groups. The dedup shuffle carries 16-byte keys, "
    "never document bodies.",
)
def text_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


# GPT-2-style pre-tokenizer (simplified, RE2/Java-regex compatible: no
# backtracking constructs): contractions, letter runs, digit runs,
# punctuation runs — each with an optional leading space.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"
_BPE_SQL = _BPE_RE.replace("'", "''")  # escape for the SQL string literal


@defquery(
    "text_bpe_token_counts",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_SQL}')))
             AS BIGINT) AS n_distinct
    FROM documents
    """,
    doc="BPE-ish token counting: GPT-2-style pre-tokenizer regex "
    "(contractions / letter runs / digit runs / punctuation, optional "
    "leading space) via regexp_extract_all on both engines. The "
    "training-data token-budget primitive; narrow projection, no shuffle.",
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


@defquery(
    "text_repetition_flags",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM t WHERE len(toks) > 1
    ),
    bgc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
    bgm AS (SELECT doc_id, max(c) AS max_c, sum(c) AS tot_c FROM bgc GROUP BY 1),
    uni AS (SELECT doc_id, len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct
            FROM t)
    SELECT u.doc_id,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           round(CASE WHEN u.n_tokens > 0
                      THEN 1.0 - u.n_distinct * 1.0 / u.n_tokens
                      ELSE 0.0 END, 6) AS dup_unigram_frac,
           round(coalesce(b.max_c * 1.0 / b.tot_c, 0.0), 6) AS top_bigram_frac,
           (round(CASE WHEN u.n_tokens > 0
                       THEN 1.0 - u.n_distinct * 1.0 / u.n_tokens
                       ELSE 0.0 END, 6) >= 0.30
            OR round(coalesce(b.max_c * 1.0 / b.tot_c, 0.0), 6) >= 0.18)
             AS flagged
    FROM uni u LEFT JOIN bgm b ON u.doc_id = b.doc_id
    """,
    doc="Gopher-style repetition gates (operators.text.repetition_metrics): "
    "duplicate-unigram fraction (narrow array expression, no explode) + "
    "top-bigram fraction (explode → two-level aggregate with map-side "
    "partials) joined on the unique doc id. Oracle replays both metrics "
    "with list functions + unnest.",
)
def text_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import repetition_metrics

    return repetition_metrics(_t(spark, sf_dir, "documents"))


# The synthetic corpus contains no PII, so the scrub query plants a
# deterministic email/IP/phone per row from key columns, then proves both
# engines redact them identically (counts + scrubbed-text hash). The unit
# suite (tests/test_text_pii.py) additionally covers tricky literals.
_PII_AUG_SQL = (
    "text || ' contact ' || source || '@example.' || lang"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    " || ' tel +358 40 ' || CAST(1000000 + doc_id % 9000000 AS VARCHAR)"
)


@defquery(
    "text_pii_redaction",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS body FROM documents),
    scrubbed AS (
      SELECT doc_id,
             len(regexp_extract_all(body,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
             regexp_replace(
               regexp_replace(
                 regexp_replace(body,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                   '<EMAIL>', 'g'),
                 '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b', '<IP>', 'g'),
               '\\+[0-9][0-9 ()-]{{6,}}[0-9]', '<PHONE>', 'g') AS clean
      FROM aug
    )
    SELECT doc_id,
           CAST(n_email AS BIGINT) AS n_email,
           CAST(length(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_hash
    FROM scrubbed
    """,
    doc="PII redaction (operators.text.scrub_pii): ordered "
    "email → IPv4 → phone regexp_replace chain in the shared "
    "Java-regex ∩ RE2 dialect; parity proven by per-row match counts and "
    "an md5 of the scrubbed body. Narrow projection — fused into the "
    "scan, zero shuffles, trivially 100 TB-safe.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import pii_counts, scrub_pii

    docs = _t(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("@example."),
        F.col("lang"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
        F.lit(" tel +358 40 "),
        (F.lit(1000000) + F.col("doc_id") % 9000000).cast("string"),
    )
    aug = docs.select("doc_id", body.alias("body"))
    clean = scrub_pii(F.col("body"))
    return aug.select(
        "doc_id",
        pii_counts(F.col("body"))["email"].cast("long").alias("n_email"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_hash"),
    )


@defquery(
    "text_unigram_surprisal",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents),
    tf AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT sum(c) AS n FROM tf)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(c * 1.0 / n)), 6) AS avg_neg_logp
    FROM toks JOIN tf USING (t), tot
    GROUP BY doc_id
    """,
    doc="Unigram language-model surprisal per document: corpus term "
    "probabilities (one aggregate), then avg(-ln p(t)) over each doc's "
    "tokens — the perplexity-style quality signal LM pipelines filter "
    "on (high = atypical text). The term-prob table is vocabulary-"
    "sized → broadcast onto the exploded tokens; partial aggregation "
    "collapses the explode before the doc-key shuffle.",
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    tf = toks.groupBy("t").agg(F.count("*").alias("_c"))
    total = tf.agg(F.sum("_c").alias("_n"))
    probs = tf.crossJoin(F.broadcast(total)).select(
        "t", (F.col("_c") / F.col("_n")).alias("_p")
    )
    return (
        toks.join(F.broadcast(probs), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log("_p")), 6).alias("avg_neg_logp"),
        )
    )


@defquery(
    "text_bigram_surprisal",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(toks[1:len(toks)-1]) AS a,
             unnest(toks[2:len(toks)])   AS b
      FROM t WHERE len(toks) >= 2
    ),
    c2 AS (SELECT a, b, count(*) AS c FROM bg GROUP BY a, b),
    c1 AS (SELECT a, sum(c) AS n FROM c2 GROUP BY a)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(c * 1.0 / n)), 6) AS avg_neg_logp2
    FROM bg JOIN c2 USING (a, b) JOIN c1 USING (a)
    GROUP BY doc_id
    """,
    doc="Bigram conditional surprisal per document: p(b|a) = c(a,b) / "
    "c(a,·) over the corpus bigram multiset, then avg(-ln p) per doc — "
    "the next step up from text_unigram_surprisal in LM-quality "
    "filtering (catches locally-plausible-but-incoherent token streams "
    "that unigram stats miss). Bigrams come from zipping the token array "
    "with its own shifted slice (top-level zip_with — NOT an index "
    "lambda, which would re-run the tokenizer per position, the "
    "word_shingles lesson); the conditional-prob table is "
    "bigram-vocabulary-sized and broadcasts onto the exploded stream; "
    "partial aggregation collapses the explode before the doc-key "
    "shuffle.",
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n1),
                F.slice(toks, 2, n1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("_bg"),
    ).select("doc_id", F.col("_bg.a").alias("a"), F.col("_bg.b").alias("b"))
    c2 = bg.groupBy("a", "b").agg(F.count("*").alias("_c"))
    c1 = c2.groupBy("a").agg(F.sum("_c").alias("_n"))
    probs = c2.join(c1, "a").select(
        "a", "b", (F.col("_c") / F.col("_n")).alias("_p")
    )
    return (
        bg.join(F.broadcast(probs), ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log("_p")), 6).alias("avg_neg_logp2"),
        )
    )


# Corpus-adapted stopword set for the Gopher rule demo: the synthetic
# vocabulary has only two of Gopher's eight English stopwords, so the
# entry exercises the ≥2-distinct rule with common corpus words instead
# (the operator defaults to the paper's list).
_GOPHER_STOPS = ("the", "a", "value", "table", "data", "key")


@defquery(
    "text_gopher_rules",
    rf"""
    WITH base AS (
      SELECT doc_id, coalesce(text, '') AS text FROM documents
    ), w AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'),
                         x -> len(x) > 0) AS words,
             list_filter(string_split(text, chr(10)),
                         l -> len(l) > 0) AS lines
      FROM base
    ), m AS (
      SELECT doc_id,
             len(words) AS nw,
             coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS sl,
             len(text) - len(replace(text, '#', '')) AS nhash,
             (len(text) - len(replace(text, '...', ''))) / 3 AS nell,
             len(list_filter(words,
                 x -> regexp_matches(x, '[a-zA-Z]'))) AS nalpha,
             len(list_intersect(
                 list_distinct(list_transform(words, x -> lower(x))),
                 ['the', 'a', 'value', 'table', 'data', 'key'])) AS nstop,
             len(lines) AS nl,
             len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[-*•]'))) AS nbul,
             len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS nelll
      FROM w
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           nw >= 50 AND nw <= 100000 AS word_count_ok,
           nw > 0 AND (sl / nw) >= 3.0 AND (sl / nw) <= 10.0
             AS mean_word_len_ok,
           nw > 0 AND ((nhash + nell) / nw) <= 0.1 AS symbol_ratio_ok,
           nw > 0 AND (nalpha / nw) >= 0.8 AS alpha_word_frac_ok,
           nstop >= 2 AS stopword_ok,
           nl = 0 OR (nbul / nl) <= 0.9 AS bullet_frac_ok,
           nl = 0 OR (nelll / nl) <= 0.3 AS ellipsis_frac_ok,
           (nw >= 50 AND nw <= 100000)
             AND (nw > 0 AND (sl / nw) >= 3.0 AND (sl / nw) <= 10.0)
             AND (nw > 0 AND ((nhash + nell) / nw) <= 0.1)
             AND (nw > 0 AND (nalpha / nw) >= 0.8)
             AND nstop >= 2
             AND (nl = 0 OR (nbul / nl) <= 0.9)
             AND (nl = 0 OR (nelll / nl) <= 0.3) AS gopher_keep
    FROM m
    """,
    doc="Gopher rule-based quality gates (operators.text."
    "gopher_quality_flags; Rae et al. 2021 §A1.1): per-document rule "
    "booleans — word count in [50, 100k], mean word length in [3, 10], "
    "symbol-per-word ratio, alphabetic-word fraction, ≥2 distinct "
    "stopwords (corpus-adapted list), bullet/ellipsis line fractions — "
    "plus their conjunction gopher_keep, the MassiveWeb first-stage "
    "hard filter. All integer counts with one division per ratio, so "
    "the oracle's doubles are bit-identical; a pure narrow projection "
    "at scale (pushes below every join/shuffle).",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags(
        F.coalesce(F.col("text"), F.lit("")),
        stopwords=_GOPHER_STOPS,
        min_stopwords=2,
    )
    return docs.select(
        "doc_id",
        flags["n_words"].alias("n_words"),
        flags["word_count_ok"].alias("word_count_ok"),
        flags["mean_word_len_ok"].alias("mean_word_len_ok"),
        flags["symbol_ratio_ok"].alias("symbol_ratio_ok"),
        flags["alpha_word_frac_ok"].alias("alpha_word_frac_ok"),
        flags["stopword_ok"].alias("stopword_ok"),
        flags["bullet_frac_ok"].alias("bullet_frac_ok"),
        flags["ellipsis_frac_ok"].alias("ellipsis_frac_ok"),
        flags["gopher_keep"].alias("gopher_keep"),
    )


@defquery(
    "text_c4_line_filter",
    rf"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), shaped AS (
      -- fixture shaping (both engines identically): the corpus is
      -- single-line word soup, so wrap tokens into 8-word lines and
      -- derive punctuation / blacklist injections from (doc_id, line
      -- index) — the FILTER below is the operator under test
      SELECT doc_id,
        list_concat(
          CASE WHEN doc_id % 17 = 2
               THEN ['lorem ipsum dolor sit amet.'] ELSE [] END,
          list_concat(
            CASE WHEN doc_id % 19 = 4
                 THEN ['{{ config block }}'] ELSE [] END,
            list_transform(
              range(0, CAST(ceil(len(toks) / 8.0) AS INT)), j ->
                (CASE WHEN (doc_id + j) % 11 = 5
                      THEN 'javascript ' ELSE '' END)
                || array_to_string(toks[(j*8+1):(j*8+8)], ' ')
                || (CASE (doc_id + j) % 4 WHEN 0 THEN ''
                    WHEN 1 THEN '.' WHEN 2 THEN '!' ELSE '?' END)))
        ) AS lines
      FROM t
    ), pages AS (
      SELECT doc_id, coalesce(array_to_string(lines, chr(10)), '') AS text
      FROM shaped
    ), f AS (
      SELECT doc_id, text,
        list_filter(string_split(text, chr(10)),
                    l -> len(trim(l)) > 0) AS lines
      FROM pages
    ), k AS (
      SELECT doc_id, text, len(lines) AS n_lines,
        list_filter(lines, l ->
          regexp_matches(l, '[.!?"]\s*$')
          AND len(list_filter(string_split_regex(l, '\s+'),
                              w -> len(w) > 0)) >= 3
          AND NOT contains(lower(l), 'javascript')) AS kept
      FROM f
    )
    SELECT doc_id,
      CAST(n_lines AS BIGINT) AS n_lines,
      CAST(len(kept) AS BIGINT) AS n_kept_lines,
      len(kept) >= 5 AND NOT contains(text, '{{')
        AND NOT contains(lower(text), 'lorem ipsum') AS page_keep,
      -- coalesce: DuckDB array_to_string([]) is NULL, Spark
      -- array_join([]) is '' — pin the empty-page hash to md5('')
      md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_hash
    FROM k
    """,
    doc="C4 line-level cleaning (operators.text.c4_line_filter; Raffel "
    "et al. 2020 §2.2): lines are retained iff they end in terminal "
    "punctuation, carry ≥3 words, and lack 'javascript'; the page "
    "survives iff ≥5 lines remain and the raw text has no brace and no "
    "'lorem ipsum'. The corpus has no line structure, so both engines "
    "first shape identical synthetic pages (8-word lines, punctuation "
    "and blacklist injections keyed on (doc_id, line index)); the "
    "cleaned text is pinned by md5. Pure string logic, exact parity, "
    "zero shuffle — the filter fuses into the scan at any scale.",
)
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import c4_line_filter

    docs = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")

    def build(t):
        nl = F.ceil(F.size(t) / F.lit(8.0)).cast("int")
        body = F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(F.lit(0), nl - 1),
                lambda j: F.concat(
                    F.when(
                        (doc_id + j) % 11 == 5, F.lit("javascript ")
                    ).otherwise(F.lit("")),
                    F.array_join(F.slice(t, j * 8 + 1, 8), " "),
                    F.when((doc_id + j) % 4 == 0, F.lit(""))
                    .when((doc_id + j) % 4 == 1, F.lit("."))
                    .when((doc_id + j) % 4 == 2, F.lit("!"))
                    .otherwise(F.lit("?")),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        lorem = F.when(
            doc_id % 17 == 2, F.array(F.lit("lorem ipsum dolor sit amet."))
        ).otherwise(F.array().cast("array<string>"))
        brace = F.when(
            doc_id % 19 == 4, F.array(F.lit("{ config block }"))
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(lorem, brace, body)

    # let-bind the token array once (the word_shingles lesson: unbound,
    # the tokenizer re-runs per line reference)
    shaped = F.element_at(
        F.transform(F.array(tokens(F.col("text"))), build), 1
    )
    page = docs.select(
        "doc_id", F.array_join(shaped, "\n").alias("_text")
    )
    flt = c4_line_filter(F.col("_text"))
    return page.select(
        "doc_id",
        flt["n_lines"].alias("n_lines"),
        flt["n_kept_lines"].alias("n_kept_lines"),
        flt["page_keep"].alias("page_keep"),
        F.md5(flt["cleaned_text"]).alias("clean_hash"),
    )


@defquery(
    "text_line_crossdoc_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    shaped AS (
      -- fixture shaping (both engines identically): wrap tokens into
      -- 6-word lines; exact-duplicate and containment-pair documents in
      -- the corpus then collide on whole lines, which is the behavior
      -- under test
      SELECT doc_id,
        list_transform(
          range(0, CAST(ceil(len(toks) / 6.0) AS INT)),
          j -> array_to_string(toks[(j*6+1):(j*6+6)], ' ')) AS lines
      FROM t
    ),
    lx AS (
      SELECT doc_id,
             CAST(unnest(range(0, len(lines))) AS INT) AS line_no,
             unnest(lines) AS line
      FROM shaped WHERE len(lines) > 0
    ),
    firsts AS (
      SELECT md5(line) AS line_key,
             min(struct_pack(d := doc_id, l := line_no)) AS f
      FROM lx GROUP BY 1
    ),
    kept AS (
      SELECT l.doc_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             list(l.line ORDER BY l.line_no) AS kl
      FROM lx l JOIN firsts fs ON md5(l.line) = fs.line_key
      WHERE l.doc_id = (fs.f).d AND l.line_no = (fs.f).l
      GROUP BY 1
    ),
    totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
      FROM lx GROUP BY 1
    )
    SELECT t.doc_id, t.n_lines,
      coalesce(k.n_kept, 0) AS n_kept,
      -- coalesce: DuckDB array_to_string([]) is NULL, Spark
      -- array_join([]) is '' — pin the all-duplicate page to md5('')
      md5(coalesce(array_to_string(k.kl, chr(10)), '')) AS clean_hash
    FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
    doc="Corpus-wide cross-document line dedup (operators.text."
    "dedup_lines_crossdoc; C4 §2.2 'all but one of any span occurring "
    "more than once' at line granularity / CCNet §3.1 paragraph dedup): "
    "every line keyed by md5, only the corpus-wide first (doc, position) "
    "occurrence survives, documents re-joined in line order and pinned "
    "by md5. The word-soup corpus is shaped into 6-word lines on both "
    "engines so its exact-duplicate and containment documents collide "
    "on whole lines. Scale shape: one explode to (id, pos, 16-byte "
    "key), one constant-state aggregate per key, one co-partitioned "
    "re-join, one doc-local reassembly — no corpus window, no cross "
    "join.",
)
def text_line_crossdoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import dedup_lines_crossdoc

    docs = _t(spark, sf_dir, "documents")

    def build(t):
        nl = F.ceil(F.size(t) / F.lit(6.0)).cast("int")
        return F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(F.lit(0), nl - 1),
                lambda j: F.array_join(F.slice(t, j * 6 + 1, 6), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # let-bind the token array once (the word_shingles lesson: unbound,
    # the tokenizer re-runs per line reference)
    shaped = F.element_at(
        F.transform(F.array(tokens(F.col("text"))), build), 1
    )
    pages = docs.select(
        "doc_id", F.array_join(shaped, "\n").alias("text")
    )
    return dedup_lines_crossdoc(pages)


# One md5-byte hash bucket of a token, mod 64 — the SQL twin of
# operators.text._md5_bucket (the engine-portable hashed-feature trick;
# see sample_dsir_importance for the 256-bucket variant).
def _CCNET_BKT(col: str) -> str:
    return (
        f"CAST(((strpos('0123456789abcdef', md5({col})[1]) - 1) * 16"
        f" + strpos('0123456789abcdef', md5({col})[2]) - 1) % 64 AS INT)"
    )


@defquery(
    "text_ccnet_perplexity",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    bg0 AS (
      SELECT doc_id,
             unnest(tk[1:len(tk)-1]) AS a,
             unnest(tk[2:len(tk)])   AS b
      FROM t WHERE len(tk) >= 2
    ),
    bg AS (
      SELECT doc_id, {_CCNET_BKT('a')} AS b1, {_CCNET_BKT('b')} AS b2
      FROM bg0
    ),
    lm AS (
      SELECT b1, b2 FROM bg JOIN documents d USING (doc_id)
      WHERE d.lang = 'en'
    ),
    c2 AS (SELECT b1, b2, count(*) AS c FROM lm GROUP BY 1, 2),
    c1 AS (SELECT b1, sum(c) AS n FROM c2 GROUP BY 1),
    ev AS (
      -- ONE fixed expression shape, mirrored in the Spark plan: two
      -- adds and a divide (IEEE correctly-rounded), so only ln and the
      -- per-doc mean's summation order are engine-soft (pinned round 6)
      SELECT doc_id,
             ln((coalesce(c2.c, 0) + 0.5) / (coalesce(c1.n, 0) + 32.0))
               AS logp
      FROM bg LEFT JOIN c2 USING (b1, b2) LEFT JOIN c1 USING (b1)
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(-logp), 6) AS ce_nats
      FROM ev GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, ce_nats,
           CASE WHEN ce_nats < 3.18 THEN 'head'
                WHEN ce_nats < 3.23 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM scored
    """,
    doc="CCNet perplexity filtering (operators.text.ccnet_perplexity; "
    "Wenzek et al. 2020 §4.3): every document scored by cross-entropy "
    "under a hashed-bucket bigram LM trained ONLY on the trusted target "
    "domain (here: the English documents — the paper's Wikipedia), then "
    "split head/middle/tail with FIXED cutoffs the way CCNet freezes its "
    "per-language percentile cutoffs into constants. The absolute-fluency "
    "complement of DSIR's two-domain ratio. Buckets are one md5 byte mod "
    "64 (engine-portable, OOV-free); p(b2|b1) is Laplace-smoothed "
    "(s=0.5, B=64). Scale shape: the LM is ≤ 64² rows built by one hash "
    "aggregate (map-side partials absorb the bigram explode) and "
    "BROADCAST onto the corpus bigram stream; the only data-sized "
    "shuffle is the per-document aggregate; the bucket split is a "
    "constant comparison riding the scan — no global rank window.",
)
def text_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import ccnet_bucket, ccnet_perplexity

    docs = _t(spark, sf_dir, "documents")
    scored = ccnet_perplexity(
        docs, docs.where(F.col("lang") == "en"), num_buckets=64
    ).withColumn("ce_nats", F.round("ce_nats", 6))
    return scored.select(
        "doc_id",
        "n_bigrams",
        "ce_nats",
        ccnet_bucket(F.col("ce_nats"), 3.18, 3.23).alias("ppl_bucket"),
    )


def _gopher_rep_oracle() -> str:
    """Full SQL replication of gopher_repetition_fractions (generated:
    9 n-values → 9 pivot joins).  MATERIALIZED CTEs are load-bearing —
    DuckDB inlines plain CTEs, which nests the position unnest inside
    the coverage unnest (unsupported); generate_subscripts is likewise
    avoided (it IS an unnest internally)."""
    from hfp_loader_spark.operators.text import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
    )

    top_ns, dup_ns = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    frac = (
        "round(CASE WHEN b.total_chars > 0 THEN coalesce({src}, 0) * 1.0 "
        "/ b.total_chars ELSE 0.0 END, 6)"
    )
    sel = [
        frac.format(src=f"t{n}.topchars") + f" AS top_ngram_frac_{n}"
        for n in top_ns
    ] + [
        frac.format(src=f"d{n}.dupchars") + f" AS dup_ngram_frac_{n}"
        for n in dup_ns
    ]
    joins = [
        f"LEFT JOIN top t{n} ON t{n}.doc_id = b.doc_id AND t{n}.n = {n}"
        for n in top_ns
    ] + [
        f"LEFT JOIN dupc d{n} ON d{n}.doc_id = b.doc_id AND d{n}.n = {n}"
        for n in dup_ns
    ]
    keep = " AND ".join(
        [
            frac.format(src=f"t{n}.topchars") + f" <= {GOPHER_TOP_NGRAM_MAX[n]}"
            for n in top_ns
        ]
        + [
            frac.format(src=f"d{n}.dupchars")
            + f" <= {GOPHER_DUP_NGRAM_MAX[n]}"
            for n in dup_ns
        ]
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '[^a-z0-9]+'),
                         x -> len(x) > 0) AS tk
      FROM documents
    ),
    base AS (
      SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
                  AS BIGINT) AS total_chars
      FROM t
    ),
    ns AS (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n),
    ev AS MATERIALIZED (
      SELECT doc_id, n,
             unnest(generate_series(1, len(tk) - n + 1)) AS pos, tk
      FROM base CROSS JOIN ns WHERE len(tk) >= n
    ),
    g AS MATERIALIZED (
      SELECT doc_id, n, pos,
             array_to_string(tk[pos:pos+n-1], ' ') AS gram
      FROM ev
    ),
    c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    top AS (
      SELECT doc_id, n,
             (max(struct_pack(c := c, l := len(gram) - (n - 1),
                              g := gram))).c
             * (max(struct_pack(c := c, l := len(gram) - (n - 1),
                                g := gram))).l AS topchars
      FROM c WHERE n <= 4 GROUP BY 1, 2
    ),
    dupocc AS MATERIALIZED (
      SELECT g.doc_id, g.n, g.pos FROM g JOIN c USING (doc_id, n, gram)
      WHERE c.c >= 2 AND g.n >= 5
    ),
    cov AS MATERIALIZED (
      SELECT DISTINCT doc_id, n,
             unnest(generate_series(pos, pos + n - 1)) AS tp
      FROM dupocc
    ),
    lens AS MATERIALIZED (
      SELECT doc_id, unnest(generate_series(1, len(tk))) AS tp,
             unnest(list_transform(tk, x -> len(x))) AS l
      FROM base
    ),
    dupc AS (
      SELECT cov.doc_id, cov.n, sum(l) AS dupchars
      FROM cov JOIN lens USING (doc_id, tp) GROUP BY 1, 2
    )
    SELECT b.doc_id, b.n_tokens, b.total_chars,
           {", ".join(sel)},
           ({keep}) AS gopher_rep_keep
    FROM base b
    {" ".join(joins)}
    """


@defquery(
    "text_gopher_repetition",
    _gopher_rep_oracle(),
    doc="The COMPLETE Gopher §A1.2 repetition suite (operators.text."
    "gopher_repetition_fractions; Rae et al. 2021 Table A1): per "
    "document, chars in the most frequent {2,3,4}-gram (all occurrences, "
    "the DataTrove-convention count×len) and chars COVERED by ≥2× "
    "{5..10}-grams (position union, each char once), all as exact "
    "integer ratios with the paper's thresholds folded into one keep "
    "flag — the seven repetition rows repetition_metrics' unigram/bigram "
    "corner was missing. Scale shape: positional gram arrays for every n "
    "in ONE let-bound projection (tokenizer runs once per consumer), one "
    "(id, n, gram) hash count with map-side partials absorbing the Σn× "
    "explode, coverage via a doc-keyed distinct + join — nothing "
    "corpus-global, work linear in corpus tokens × 9.",
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import gopher_repetition_fractions

    return gopher_repetition_fractions(_t(spark, sf_dir, "documents"))


_VOCAB_SIZE = 16  # the synthetic corpus has ~31 distinct terms; top-16
#                   splits documents across oov_rate ≈ 0.18 – 0.77


@defquery(
    "text_vocab_oov_rate",
    f"""
    WITH dt AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    tc AS (SELECT term, count(*) AS c FROM dt GROUP BY 1),
    vocab AS (SELECT term FROM tc ORDER BY c DESC, term LIMIT {_VOCAB_SIZE}),
    per AS (
      SELECT dt.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM dt LEFT JOIN vocab v USING (term)
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.n_oov, 0) AS n_oov,
           CASE WHEN p.n_tokens > 0
                THEN round(p.n_oov / CAST(p.n_tokens AS DOUBLE), 4)
           END AS oov_rate
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc="Tokenizer-coverage audit (operators.text.vocab_oov_rates): per "
    "document, the fraction of token occurrences outside the corpus's "
    "own top-16 vocabulary — the question a vocab-size decision asks "
    "before training a tokenizer, and per-source rollups of this locate "
    "which slice a vocab underserves. Scale shape: vocabulary via "
    "map-side-combined term counts + global top-k "
    "(TakeOrderedAndProject — per-partition heap, no full sort), then "
    "BROADCAST onto the token stream; one shuffle total (the "
    "per-document count). Zero-token documents keep a row with NULL "
    "oov_rate (0/0 is unmeasured, not clean).",
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import vocab_oov_rates

    return vocab_oov_rates(_t(spark, sf_dir, "documents"), _VOCAB_SIZE)


@defquery(
    "text_token_entropy",
    f"""
    WITH dt AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    cnt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
            FROM dt GROUP BY 1, 2),
    per AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
      FROM cnt GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.n_distinct, 0) AS n_distinct,
           -- same algebraic form as the Spark plan: ln(n) − (Σ c·ln c)/n
           round(ln(CAST(p.n_tokens AS DOUBLE))
                 - p.clnc / CAST(p.n_tokens AS DOUBLE), 4) AS entropy
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc="Within-document token-distribution Shannon entropy in nats "
    "(operators.text.token_entropy): the diversity twin of the Gopher "
    "repetition fractions — near-zero H flags template junk and "
    "keyword stuffing that no single dominant n-gram betrays; H ≈ "
    "ln(n_distinct) means even usage. Computed as ln(n) − (Σ c·ln c)/n "
    "over exact integer counts, the same algebraic form on both "
    "engines, rounded once. Zero-token documents keep a row with NULL "
    "entropy. Scale shape: one (doc, token) map-side-combined count, "
    "one per-doc aggregate — no corpus-global state at all.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


@defquery(
    "text_term_burstiness",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    tc AS (
      SELECT term, doc_id, CAST(count(*) AS HUGEINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM documents),
    ag AS (
      SELECT term,
             CAST(sum(c) AS HUGEINT)     AS sc,
             CAST(sum(c * c) AS HUGEINT) AS sc2,
             CAST(count(*) AS BIGINT)    AS n_docs
      FROM tc GROUP BY term
    ),
    top AS (
      SELECT term, sc, sc2, n_docs FROM ag
      ORDER BY sc DESC, term LIMIT 20
    )
    SELECT term, CAST(sc AS BIGINT) AS n_occurrences, n_docs,
           -- docs WITHOUT the term count as zeros: n is the corpus size
           round(CAST(nd.n * sc2 - sc * sc AS DOUBLE)
                 / CAST(nd.n * sc AS DOUBLE), 6) AS burstiness
    FROM top CROSS JOIN nd
    """,
    doc="Per-term burstiness (variance-to-mean ratio of per-document "
    "counts, zeros included) for the 20 most frequent terms: VMR ≈ 1 "
    "is Poisson scatter (function words), VMR ≫ 1 is topical "
    "clustering — the Church & Gale (1995) term-distribution "
    "diagnostic, and a boilerplate detector (a template phrase's "
    "term has HIGH df and LOW burstiness). Exact integer moments via "
    "n·Σc² − (Σc)² over (term, doc) counts, one division + round. "
    "Scale shape: one (term, doc)-keyed count with map-side combine, "
    "one term rollup, TakeOrderedAndProject for the top-20.",
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.relational import global_top_k

    docs = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    tc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast(dec).alias("c"))
    )
    ag = tc.groupBy("term").agg(
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
        F.count("*").cast("long").alias("n_docs"),
    )
    top = global_top_k(ag, [F.desc("sc"), F.asc("term")], 20)
    nd = docs.agg(F.count("*").cast(dec).alias("n"))
    return top.crossJoin(F.broadcast(nd)).select(
        "term",
        F.col("sc").cast("long").alias("n_occurrences"),
        "n_docs",
        F.round(
            (F.col("n") * F.col("sc2") - F.col("sc") * F.col("sc")).cast(
                "double"
            )
            / (F.col("n") * F.col("sc")).cast("double"),
            6,
        ).alias("burstiness"),
    )


@defquery(
    "text_good_turing_unseen",
    f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(c) AS DOUBLE), 6) AS p_unseen
    FROM tf GROUP BY source
    """,
    doc="Good–Turing unseen-vocabulary mass per source: P₀ = N₁/N (the "
    "hapax count over total tokens) — the probability the NEXT token "
    "drawn from this source is a word never seen before. The "
    "per-source companion of text_zipf_spectrum's bucket 1: a source "
    "whose p_unseen collapses is saturated/templated (stop crawling "
    "it), one that stays high keeps contributing novel vocabulary — "
    "the marginal-value signal for crawl budgeting. One "
    "(source, term) count + one source rollup, exact integer inputs.",
)
def text_good_turing_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    hap = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        hap.cast("long").alias("n_hapax"),
        F.round(
            hap.cast("double") / F.sum("c").cast("double"), 6
        ).alias("p_unseen"),
    )


@defquery(
    "text_template_lines",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    shaped AS (
      -- the SAME 6-word shaping as text_line_crossdoc_dedup: one
      -- definition of "line" across the line-dedup pair of entries
      SELECT doc_id,
        list_transform(
          range(0, CAST(ceil(len(toks) / 6.0) AS INT)),
          j -> array_to_string(toks[(j*6+1):(j*6+6)], ' ')) AS lines
      FROM t
    ),
    lx AS (
      SELECT doc_id, unnest(lines) AS line
      FROM shaped WHERE len(lines) > 0
    ),
    ag AS (
      SELECT md5(line) AS line_key,
             min(line) AS line,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM lx GROUP BY 1
    )
    SELECT line, n_occurrences, n_docs FROM ag
    WHERE n_docs >= 2
    ORDER BY n_occurrences DESC, line
    LIMIT 20
    """,
    doc="Template/boilerplate line mining — the HUB view of "
    "text_line_crossdoc_dedup (same 6-word line shaping): the 20 most "
    "repeated cross-document lines with occurrence and document "
    "counts. What a curation run eyeballs BEFORE turning on line "
    "dedup: navigation chrome, cookie banners, and license blurbs "
    "show up here first (C4 §2.2's motivating examples). One "
    "16-byte-key aggregate + TakeOrderedAndProject.",
)
def text_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")

    def build(t):
        nl = F.ceil(F.size(t) / F.lit(6.0)).cast("int")
        return F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(F.lit(0), nl - 1),
                lambda j: F.array_join(F.slice(t, j * 6 + 1, 6), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    shaped = F.element_at(
        F.transform(F.array(tokens(F.col("text"))), build), 1
    )
    lx = docs.select(
        "doc_id", F.explode(shaped).alias("line")
    )
    ag = lx.groupBy(F.md5("line").alias("line_key")).agg(
        F.min("line").alias("line"),
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return global_top_k(
        ag.where(F.col("n_docs") >= 2).select(
            "line", "n_occurrences", "n_docs"
        ),
        [F.desc("n_occurrences"), F.asc("line")],
        20,
    )


@defquery(
    "text_ngram_exclusivity",
    f"""
    WITH t AS (SELECT source, {_TOKS_SQL} AS tk FROM documents),
    bg AS (
      SELECT DISTINCT source, tk[i] || ' ' || tk[i + 1] AS b
      FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)
      WHERE len(tk) >= 2
    ),
    srcs AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_sources FROM bg GROUP BY b
    )
    SELECT bg.source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN srcs.n_sources = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exclusive,
           round(CAST(sum(CASE WHEN srcs.n_sources = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS exclusivity
    FROM bg JOIN srcs ON srcs.b = bg.b
    GROUP BY bg.source
    """,
    doc="Per-source bigram exclusivity: the fraction of a source's "
    "distinct bigrams appearing in NO other source — the "
    "cross-source-uniqueness complement of dedup_cross_source_overlap "
    "(pairwise shared mass) and text_good_turing_unseen (within-source "
    "novelty). A mirror or scrape-of-a-scrape collapses toward 0; a "
    "genuinely independent source holds its exclusivity. One distinct "
    "(source, bigram) projection, one bigram-keyed count, one re-join "
    "co-partitioned with the count's own exchange.",
)
def text_ngram_exclusivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import word_ngrams

    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        "source",
        F.explode(word_ngrams(tokens(F.col("text")), 2)).alias("b"),
    ).distinct()
    srcs = bg.groupBy("b").agg(F.count("*").alias("n_sources"))
    excl = F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
    return (
        bg.join(srcs, "b")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_bigrams"),
            excl.alias("n_exclusive"),
            F.round(
                excl.cast("double") / F.count("*").cast("double"), 6
            ).alias("exclusivity"),
        )
    )


@defquery(
    "text_zipf_fit",
    f"""
    WITH tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
      GROUP BY term
    ),
    top AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
                 AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y
      FROM tf ORDER BY freq DESC, term LIMIT 500
    ),
    a AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM top
    )
    -- + 0.0 mirrors linear_fit's negative-zero normalization: a tiny
    -- negative slope rounds to -0.0 on DuckDB, +0.0 on Spark
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
             AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) + 0.0 AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
             AS r2
    FROM a
    """,
    doc="Zipf rank-frequency fit (operators.relational.linear_fit): OLS "
    "of ln(freq) on ln(rank) over the top-500 terms (deterministic "
    "freq-desc/term-asc rank). Natural text slopes near −1 with high "
    "R²; templated or machine-generated corpora bend the curve — the "
    "corpus-health diagnostic next to burstiness and Good–Turing. "
    "Scale shape: term-count aggregate → TakeOrderedAndProject top-500 "
    "(per-task heaps, no global sort) → rank window and five OLS sums "
    "on the 500-row frame; identical expression tree in the oracle so "
    "the doubles agree exactly.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hfp_loader_spark.operators.relational import global_top_k, linear_fit
    from hfp_loader_spark.operators.text import tokens

    tf = (
        _t(spark, sf_dir, "documents")
        .select(
            F.explode(
                tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = global_top_k(tf, [F.desc("freq"), F.asc("term")], 500)
    ranked = top.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), F.asc("term")))
            .cast("double")
        ).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    return linear_fit(ranked, "x", "y")


_PACK_LEN = 256


@defquery(
    "text_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n FROM documents
    ),
    p AS (
      SELECT doc_id, n,
             CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS off
      FROM t
    ),
    e AS (
      SELECT doc_id, n, off,
             unnest(generate_series(off // {_PACK_LEN},
                                    (off + n - 1) // {_PACK_LEN})) AS chunk_id
      FROM p WHERE n > 0
    )
    SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
           CAST(least(off + n, (chunk_id + 1) * {_PACK_LEN}) -
                greatest(off, chunk_id * {_PACK_LEN}) AS BIGINT)
             AS n_chunk_tokens,
           off AS doc_offset
    FROM e
    """,
    doc="Training-example packing (operators.packing.pack_chunks; r12): "
    "concatenate the corpus in doc_id order and cut every 256 tokens — "
    "the pretraining chunking step; output maps every (chunk, doc) "
    "overlap with exact token spans (Σ per doc = its token count; Σ "
    "per chunk = 256 except the tail). The distributed primitive is an "
    "exclusive prefix sum WITHOUT a single-partition window: "
    "order-contiguous range shards → per-shard running sums + an "
    "n_shards-row cumulative offset frame glued by broadcast join "
    "(operators.packing.exclusive_prefix_sum) — integer-identical to "
    "the oracle's global window, corpus-parallel at any scale. The "
    "oracle IS the one-window definition, so the sharded scan is "
    "value-checked against it.",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.packing import pack_chunks

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    )
    return pack_chunks(docs, "n", seq_len=_PACK_LEN)


_PACK_SHARDS = 8


@defquery(
    "text_pack_greedy_bins",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n FROM documents
    ),
    b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM t WHERE n > 0),
    d AS (
      SELECT (doc_id - b.lo)
               // greatest(1, (b.hi - b.lo + {_PACK_SHARDS})
                              // {_PACK_SHARDS}) AS shard,
             doc_id, n,
             row_number() OVER (
               PARTITION BY (doc_id - b.lo)
                 // greatest(1, (b.hi - b.lo + {_PACK_SHARDS})
                                // {_PACK_SHARDS})
               ORDER BY doc_id) AS rn
      FROM t, b WHERE n > 0
    ),
    r AS (
      SELECT shard, doc_id, n, rn, CAST(0 AS BIGINT) AS bin, n AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.doc_id, d.n, d.rn,
             CASE WHEN r.fill + d.n > {_PACK_LEN}
                  THEN r.bin + 1 ELSE r.bin END,
             CASE WHEN r.fill + d.n > {_PACK_LEN}
                  THEN d.n ELSE r.fill + d.n END
      FROM r JOIN d ON d.shard = r.shard AND d.rn = r.rn + 1
    )
    SELECT shard, bin, doc_id, n AS n_tokens FROM r
    """,
    doc="NO-SPLIT training-example packing "
    "(operators.packing.pack_greedy_bins; r12) — the instruction-tuning "
    "variant: documents stay whole; within each of 8 order-contiguous "
    "range shards a greedy in-order scan appends to the current "
    "256-token bin, opening a new one on overflow (oversize docs land "
    "alone in over-full singleton bins — nothing silently dropped). "
    "The running-fill-with-reset recurrence is not window-expressible, "
    "so each shard packs in ONE applyInPandas (Arrow) pass; shards pack "
    "independently and in parallel, exactly how production packers "
    "shard by output file. The deterministic shard function "
    "(range_shard: (id−lo) div width from the data's bounds) lets the "
    "DuckDB oracle replay the whole scan as a RECURSIVE CTE stepping "
    "one document per shard per iteration — the catalog's first "
    "recursive-oracle entry, value-checking a stateful Arrow operator "
    "end to end.",
)
def text_pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.packing import pack_greedy_bins

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    )
    return pack_greedy_bins(
        docs, "n", seq_len=_PACK_LEN, n_shards=_PACK_SHARDS
    )


_BPE_MERGES = 6


def _bpe_oracle(n_merges: int) -> str:
    """BPE training unrolled in SQL — an INDEPENDENT formulation of the
    greedy merge (gaps-and-islands parity over exploded symbol
    positions: adjacent overlapping matches only exist when
    left == right, and greedy-from-the-left keeps each island's odd
    offsets) checking the Spark fold bit-for-bit."""
    parts = [
        f"""
    WITH w AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({TOKS_SQL}) AS tok FROM documents)
      GROUP BY 1
    ),
    v0 AS (
      SELECT word, freq,
             list_transform(generate_series(1, len(word)),
                            i -> word[i:i]) AS syms
      FROM w
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(f""",
    pc{r} AS (
      SELECT syms[i] AS l, syms[i + 1] AS r2,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM v{r - 1}, unnest(generate_series(1, len(syms) - 1)) AS t(i)
      WHERE len(syms) > 1
      GROUP BY 1, 2
    ),
    b{r} AS (SELECT l, r2, cnt FROM pc{r} ORDER BY cnt DESC, l, r2 LIMIT 1),
    e{r} AS (
      SELECT v.word, v.freq, t.i AS pos, v.syms[t.i] AS sym,
             v.syms[t.i + 1] AS nxt,
             coalesce(v.syms[t.i] = b.l
                      AND v.syms[t.i + 1] = b.r2, false) AS m
      FROM v{r - 1} v
      CROSS JOIN unnest(generate_series(1, len(v.syms))) AS t(i)
      LEFT JOIN b{r} b ON true
    ),
    s{r} AS (
      SELECT *, pos - row_number()
                  OVER (PARTITION BY word, m ORDER BY pos) AS isl
      FROM e{r}
    ),
    g{r} AS (
      SELECT *, m AND (row_number()
                 OVER (PARTITION BY word, m, isl ORDER BY pos) % 2 = 1)
                AS mstart
      FROM s{r}
    ),
    h{r} AS (
      SELECT *, coalesce(lag(mstart)
                 OVER (PARTITION BY word ORDER BY pos), false) AS consumed
      FROM g{r}
    ),
    v{r} AS (
      SELECT word, any_value(freq) AS freq,
             list(CASE WHEN mstart THEN sym || nxt ELSE sym END
                  ORDER BY pos) AS syms
      FROM h{r} WHERE NOT consumed
      GROUP BY word
    )""")
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, l AS pair_left, "
        f"r2 AS pair_right, cnt AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append("\n    " + finals)
    return "".join(parts)


@defquery(
    "text_bpe_merges",
    _bpe_oracle(_BPE_MERGES),
    doc="BPE tokenizer TRAINING as one lazy plan "
    "(operators.bpe.bpe_train): classic word-level byte-pair "
    "encoding — corpus tokenized and word-counted ONCE, then one "
    "global aggregate gathers the distinct-word vocab into ONE row of "
    "(word, freq, symbols) structs, and each of the 6 merge rounds is "
    "a projection of that row (no join, no exchange, no pin): the "
    "freq-weighted adjacent pairs flattened into one sorted array, one "
    "fold over it for the best run (count desc, pair asc), and the "
    "greedy left-to-right merge fold over every word; a pair-less "
    "round merges nothing and emits no row, so a corpus that runs out "
    "of pairs degrades to fewer merges. Output "
    "= the ordered merge table — THE tokenizer artifact. FULL oracle "
    "via an INDEPENDENT greedy formulation (gaps-and-islands parity "
    "over exploded symbol positions), so two distinct derivations of "
    "the recurrence must agree bit-for-bit; operators.bpe.bpe_segment "
    "replays the learned table as plan literals for apply-side "
    "segmentation.",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), _BPE_MERGES)
