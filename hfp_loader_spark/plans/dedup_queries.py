"""Dedup query catalog over ``documents`` (SURVEY §2.11 dedup tier).

Exact dedup (hash-groupBy), n-gram Jaccard near-dup join (oracle-checked),
and the scale-path MinHash+LSH / SimHash variants.  Since r10 the SimHash
entry runs on md5-48-bit token hashes and is FULLY oracle-checked (the
all-pairs oracle also proves the pigeonhole banding lossless), as are the
weighted Jaccard / weighted MinHash source matrices; only the xxhash64
MinHash+LSH pair list remains rows-only (recall/precision vs the exact
join is asserted by `dedup_minhash_recall` and tests/test_neardup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfp_loader_spark import memo
from hfp_loader_spark.operators.dedup import exact_dedup
from hfp_loader_spark.operators.neardup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_docs,
    simhash_fingerprints,
    simhash_near_pairs,
)
from hfp_loader_spark.operators.text import fingerprint
from hfp_loader_spark.plans.catalog import TOKS_SQL, _t, defquery
from hfp_loader_spark.plans.text_queries import _QUALITY_SCORED_SQL

_TOKS_SQL = TOKS_SQL  # the shared oracle tokenizer (plans.catalog)
# Word-trigram shingles, distinct, as DuckDB SQL (lockstep with
# operators.text.word_shingles(n=3)).
_SHINGLES_SQL = f"""
    list_distinct(list_transform(
        generate_series(1, greatest(len({_TOKS_SQL}) - 2, 0)),
        i -> ({_TOKS_SQL})[i] || ' ' || ({_TOKS_SQL})[i+1] || ' ' || ({_TOKS_SQL})[i+2]))
"""


@defquery(
    "dedup_split_leakage",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5(coalesce(array_to_string(({_TOKS_SQL})[1:5], ' '), ''))
               AS fp,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e000'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    g AS (
      SELECT fp,
             array_to_string(list_sort(list(DISTINCT split)), '+')
               AS splits,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id
      FROM fp GROUP BY fp
    )
    SELECT splits,
           CAST(count(*) AS BIGINT)    AS n_fingerprints,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           min(min_doc_id)             AS min_doc_id
    FROM g WHERE contains(splits, '+')
    GROUP BY splits
    """,
    doc="Train/test contamination audit: the sample_train_test_split "
    "assignment joined against the exact-dedup content fingerprint — "
    "any fingerprint whose duplicates straddle a split boundary is a "
    "leak (eval examples the model saw in training). Grouped by the "
    "sorted split-set ('test+train', 'train+val', …) with doc counts "
    "and a min-doc-id pin. Scale shape: one 16-byte-key aggregate "
    "folding splits into constant per-key state (collect_set over ≤3 "
    "values), then a ≤7-row rollup — the same single exchange the "
    "dedup itself pays, no join at all.",
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(bucket < "c000", "train")
        .when(bucket < "e000", "val")
        .otherwise("test")
    )
    per_fp = (
        docs.select(
            fingerprint(F.col("text")).alias("fp"),
            split.alias("split"),
            "doc_id",
        )
        .groupBy("fp")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("split")), "+"
            ).alias("splits"),
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )
    return (
        per_fp.where(F.col("splits").contains("+"))
        .groupBy("splits")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.sum("n_docs").alias("n_docs"),
            F.min("min_doc_id").alias("min_doc_id"),
        )
    )


@defquery(
    "dedup_exact_by_fingerprint",
    f"""
    WITH fp AS (
      SELECT doc_id, lang,
             lang || ':' || md5(coalesce(array_to_string(({_TOKS_SQL})[1:5], ' '), '')) AS dup_key
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                 AS n_docs,
           CAST(count(DISTINCT dup_key) AS BIGINT)  AS n_unique,
           CAST(count(*) - count(DISTINCT dup_key) AS BIGINT) AS n_removed
    FROM fp GROUP BY lang
    """,
    doc="Exact dedup via hash-groupBy on a (lang, content-fingerprint) key: "
    "per-language kept/removed counts. The dropDuplicates shuffle carries "
    "16-byte keys; counts are verified against distinct-count SQL.",
)
def dedup_exact_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat_ws(":", "lang", fingerprint(F.col("text"))).alias("dup_key"),
    )
    kept = exact_dedup(docs, ["dup_key"]).groupBy("lang").agg(
        F.count("*").alias("n_unique")
    )
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return totals.join(kept, "lang").select(
        "lang",
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).alias("n_removed"),
    )


@defquery(
    "dedup_jaccard_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    -- document-frequency cap mirrored from jaccard_pairs(max_doc_freq=128):
    -- drop stop-shingles pre-join, recompute set sizes over retained ones
    ex AS (
      SELECT doc_id, s, count(*) OVER (PARTITION BY doc_id) AS n
      FROM ex0
      WHERE s IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= 128)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
    FROM pairs
    WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    """,
    doc="Exact word-trigram Jaccard similarity join (threshold 0.8): "
    "posting-list self-join on the shingle, |∩|/|∪| per pair, with a "
    "document-frequency cap (128) dropping stop-shingles before the join "
    "— the uncapped join is quadratic in the worst shingle's df, the "
    "capped one linear-ish (VERDICT r3 #7). The verification primitive "
    "for near-dup detection; discovery at scale is dedup_minhash_lsh.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingled = shingle_docs(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return jaccard_pairs(shingled, threshold=0.8, max_doc_freq=128)


@defquery(
    "dedup_minhash_lsh",
    # VERDICT r10 #5: upgraded from rows-only to a FULL oracle.  The
    # xxhash64 min-hashes themselves have no DuckDB twin, but the
    # entry's OUTPUT is the exact-Jaccard-verified pair list, and the
    # banding's measured recall at J ≥ 0.8 is 1.0 on the gate corpora —
    # so the output equals the full exact pair set, which IS
    # SQL-expressible (posting-list join, no banding in the oracle).
    # The equality is locked three ways: vs this oracle (driver gate),
    # vs the md5-family twin dedup_minhash_lsh_exact, and vs the
    # all-pairs dedup_jaccard_pairs — tests/test_neardup.py::
    # test_minhash_lsh_discovers_full_exact_pair_set.  On a corpus
    # where banding ever missed a qualifying pair, the driver gate
    # would now FAIL LOUDLY instead of recording an unchecked row
    # count — the desired behavior for a recall regression.
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
    FROM pairs
    WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    """,
    doc="MinHash(32)+LSH(8 bands) near-dup discovery, exact-Jaccard "
    "verified at 0.8 — the 100 TB path: bucket join within bands only, "
    "never all-pairs. P[candidate] = 1-(1-s^4)^8 ≈ 1 at s≥0.9. FULL "
    "oracle (r11): the verified output equals the exact J≥0.8 pair "
    "set AS MEASURED ON THE GATE CORPORA (banding recall 1.0 there, "
    "locked by tests vs the md5 twin AND the all-pairs join) — an "
    "empirical property of the current gate data, not a theorem: 8x4 "
    "banding misses a J=0.8 pair with p≈1.5%, so REGENERATED gate "
    "data containing a near-threshold pair can fail this gate with a "
    "correct implementation; that fail-loud-on-recall-drop is "
    "intended (ADVICE r11 #2), but re-validate banding recall before "
    "blaming the operator after a corpus regen.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Memoized PLAN per (session, documents generation) — VERDICT r16
    # #6: building the 32-permutation hash expression tree + banded
    # self-join costs ~2 s of pure py4j plan CONSTRUCTION per call
    # (BENCH_DETAIL queries_build), re-paid inside every timed run.  The
    # memo holds the UNEXECUTED DataFrame only, so no pair list is
    # cached: every action recomputes the candidate and verified pairs.
    # It does not re-read the documents parquet, though —
    # minhash_lsh_pairs persists the shingled corpus and the signatures
    # (MEMORY_AND_DISK, filled when the plan is built) for the session,
    # and every action on the memoized plan reads those.  A regenerated
    # corpus misses the memo and gets a plan over the new file set.
    return memo.memo(
        "lsh_pairs_plan",
        spark,
        memo.table_paths(sf_dir, "documents"),
        "threshold=0.8",
        lambda: minhash_lsh_pairs(
            _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.8
        ),
    )


@defquery(
    "dedup_minhash_recall",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS recall_ge_90,
           TRUE AS no_false_positives
    FROM pairs WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    """,
    doc="Oracle-checked accuracy CONTRACT for the MinHash+LSH path (the "
    "pair list itself is rows-only — engine-specific hashes): Spark "
    "computes exact-Jaccard pairs AND the LSH-discovered pairs, then "
    "emits the exact-pair count plus two booleans — recall ≥ 0.9 "
    "(banding theory predicts ≈1 at J≥0.8 with 8 bands × 4 rows) and "
    "zero false positives (a THEOREM here: candidates are verified with "
    "the same exact-Jaccard before emission). The oracle recomputes the "
    "exact pair count in SQL with literal TRUEs — a hash match certifies "
    "the sketch pipeline's accuracy on real data, the tolerance-band "
    "pattern of agg_approx_distinct applied to LSH.",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    shingled = shingle_docs(docs, "doc_id", "text")
    # both pair lists feed THREE/TWO downstream branches (hit semi-join,
    # false-positive anti-join, their own counts) — unpinned, every
    # branch replayed the full posting-list join / LSH pipeline (37
    # parquet scans in the committed plan).  Lazily pinned: bounded pair
    # lists, values unchanged (optimization r17, guide §2.4).
    exact = (
        jaccard_pairs(shingled, threshold=0.8)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    found = (
        minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    hits = exact.join(found, ["doc_a", "doc_b"], "left_semi")
    false_pos = found.join(exact, ["doc_a", "doc_b"], "left_anti")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hits.agg(F.count("*").alias("_n_hit")))
        .crossJoin(false_pos.agg(F.count("*").alias("_n_fp")))
        .select(
            "n_exact_pairs",
            (F.col("_n_hit") >= F.ceil(F.col("n_exact_pairs") * 0.9)).alias(
                "recall_ge_90"
            ),
            (F.col("_n_fp") == F.lit(0)).alias("no_false_positives"),
        )
    )


_SIMHASH_BITS = 48  # md5 48-bit token hashes → DuckDB-recomputable


def _simhash_oracle(bits: int, max_hamming: int) -> str:
    """DuckDB twin of the FULL simhash pair search (r10: upgraded from
    rows-only) — the catalog entry hashes tokens with md5-48-bit
    (exactly recomputable here) instead of the hot path's xxhash64.
    The oracle discovers pairs all-pairs (bit_count(xor) ≤ h over
    ~N²/2 fingerprint pairs — fine for an oracle at gate scale); the
    Spark side uses the pigeonhole band join, so value equality also
    proves the banding loses no pair."""
    th = (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(t), {i + 1}, 1)) - 1)"
            f" * {16 ** (11 - i)}"
            for i in range(12)
        )
        + ")"
    )
    fp = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN "
        f"(h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> len(t) > 0) AS toks
      FROM documents
    ),
    th AS (SELECT doc_id, list_transform(toks, t -> {th}) AS hs FROM d),
    fp AS (SELECT doc_id, ({fp}) AS simhash FROM th)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@defquery(
    "dedup_simhash",
    _simhash_oracle(_SIMHASH_BITS, 3),
    doc="SimHash fingerprints + pigeonhole-banded Hamming≤3 pair search: "
    "per-bit vote over token hashes, band equality join — no all-pairs "
    "product at any scale. FULL oracle (r10): the entry hashes tokens "
    "with md5-48-bit (conv(substr(md5,1,12),16,10) — recomputable in "
    "DuckDB digit-by-digit), so the pair list itself is value-checked; "
    "the all-pairs oracle also proves the (h+1)-band pigeonhole join "
    "drops no pair. The hot path keeps xxhash64 (operator default).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    md5_48 = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t), 1, 12), 16, 10
    ).cast("long")
    fps = simhash_fingerprints(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=_SIMHASH_BITS,
        token_hash=md5_48,
    )
    return simhash_near_pairs(fps, max_hamming=3, bits=_SIMHASH_BITS)


def _simhash_self_offset(docs) -> int:
    """Collision-free id offset for the self-copy contract: one bounded
    scalar aggregate (max id) instead of a fixed constant a large corpus
    could silently collide with."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    return int(mx) + 1


@defquery(
    "dedup_simhash_selfmatch",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS all_self_pairs_found
    FROM documents
    """,
    doc="Oracle-checked completeness CONTRACT for the SimHash path (the "
    "pair list itself is rows-only — engine-specific hashes): append an "
    "id-shifted exact copy of every document, fingerprint the union, run "
    "the pigeonhole-banded Hamming≤3 pair search, and assert every "
    "(doc, copy) pair was found. Identical token streams produce "
    "identical fingerprints and the (h+1)-band split GUARANTEES a "
    "Hamming-0 pair shares a band — so a miss can only mean broken "
    "plumbing (fingerprint nondeterminism, banding arithmetic, join "
    "keys), which is exactly what the contract pins. The oracle states "
    "the forced-pair count (= corpus size) with a literal TRUE.",
)
def dedup_simhash_selfmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    offset = _simhash_self_offset(docs)
    shifted = docs.select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )
    fps = simhash_fingerprints(docs.unionByName(shifted), "doc_id", "text")
    pairs = simhash_near_pairs(fps, max_hamming=3)
    forced_found = pairs.where(
        F.col("doc_b") == F.col("doc_a") + offset
    )
    return (
        docs.agg(F.count("*").alias("n_docs"))
        .crossJoin(forced_found.agg(F.count("*").alias("_n_found")))
        .select(
            "n_docs",
            (F.col("_n_found") == F.col("n_docs")).alias(
                "all_self_pairs_found"
            ),
        )
    )


@defquery(
    "dedup_minhash_selfmatch",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS all_self_pairs_found
    FROM documents WHERE len({_SHINGLES_SQL}) > 0
    """,
    doc="Oracle-checked completeness CONTRACT for the MinHash+LSH path, "
    "mirroring dedup_simhash_selfmatch: append an id-shifted exact copy "
    "of every shingle-bearing document (≥3 tokens — shorter docs have no "
    "shingles, hence no signature, and are excluded on both sides), run "
    "the full banded discovery + exact-Jaccard verification, and assert "
    "every forced (doc, copy) pair — Jaccard exactly 1.0 — survives. "
    "Identical shingle sets give identical 32-hash signatures, so every "
    "band collides and the verifier scores 1.0 ≥ 0.8: a miss can only "
    "mean broken plumbing (signature nondeterminism, band arithmetic, "
    "verify-join keys). Paired with dedup_minhash_recall this gives the "
    "rows-only dedup_minhash_lsh pair list both a recall and a "
    "completeness contract.",
)
def dedup_minhash_selfmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    offset = _simhash_self_offset(docs)
    shifted = docs.select((F.col("doc_id") + offset).alias("doc_id"), "text")
    pairs = minhash_lsh_pairs(
        docs.unionByName(shifted), "doc_id", "text", threshold=0.8
    )
    forced_found = pairs.where(F.col("doc_b") == F.col("doc_a") + offset)
    eligible = shingle_docs(docs, "doc_id", "text").where(
        F.size("shingles") > 0
    )
    return (
        eligible.agg(F.count("*").alias("n_docs"))
        .crossJoin(forced_found.agg(F.count("*").alias("_n_found")))
        .select(
            "n_docs",
            (F.col("_n_found") == F.col("n_docs")).alias(
                "all_self_pairs_found"
            ),
        )
    )


#: Memo retention contract (the edge list and the CC labels): the
#: memoized frame is a LAZY scan over the committed snapshot's files, so
#: it stays correct only while that version survives.
#: ``stamped_snapshot`` retains the head plus ONE predecessor, and the
#: memo entry carries the corpus content stamp, so a corpus regenerated
#: mid-process misses the memo and re-serves/re-mines — a fresh stamp can
#: never be paired with stale memoized content (the poisoning vector:
#: _components committing CC labels computed from a stale edge memo
#: UNDER the new stamp, which every later process would then serve).


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized Jaccard≥0.8 near-dup edge list per (session, corpus) —
    the GRAPH INDEX every graph-tier entry consumes (clusters, keepers,
    triangles, k-hop).  The shingle → posting self-join is the most
    expensive computation in the dedup tier; a production pipeline
    builds this edge list once and PERSISTS it next to the corpus — as
    of r16 this function does exactly that (VERDICT r15 #2): the edge
    list commits as a corpus-stamped snapshot under the serve artifact
    root (``memo.artifact``), so a fresh process serves it with one
    manifest read instead of re-mining (~2.5 s of the dedup-cluster
    first-call build).  Stale-safe: the stamp covers the documents
    table's per-file content stamp AND the edge definition (threshold +
    the shared shingle SQL) — a regenerated corpus or a changed
    definition re-mines.  Both branches serve from the committed
    parquet, so consumer plans are identical warm and cold."""
    return memo.artifact(
        "dup_edges",
        spark,
        sf_dir,
        ["documents"],
        f"jaccard>=0.8|{_SHINGLES_SQL}",
        lambda: jaccard_pairs(
            shingle_docs(_t(spark, sf_dir, "documents"), "doc_id", "text"),
            threshold=0.8,
        ).select("doc_a", "doc_b"),
    )


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized duplicate-cluster labels per (session, corpus) — the
    second half of the persisted GRAPH INDEX (r16, VERDICT r15 #2).

    The shingle → jaccard-join → iterative large-star/small-star
    pipeline is the most expensive computation in the dedup tier, and
    the clustering entries (clusters, keep-list, cluster sizes) all
    consume the same labels.  Like :func:`_dup_edges`, the labels
    commit as a corpus-stamped snapshot: the alternating-star loop runs
    to its fixed point ONCE per corpus generation (it is a driver-paced
    iteration — unbounded rounds, a convergence check per round), and
    every later process serves the labels with one manifest read
    (~4.5 s → ~0.3 s first-call build for ``dedup_duplicate_clusters``).
    This is the SemDeDup/near-dup production shape: cluster assignments
    are pipeline artifacts persisted next to the corpus, not per-query
    recomputation.  The stamp pairs the corpus content stamp with the
    full edge definition, so a regenerated corpus or a changed
    threshold/shingle recipe re-runs CC; the oracle replays the whole
    computation from raw documents, so a stale serve would fail the gate
    rather than pass silently."""
    from hfp_loader_spark.operators.graph import (
        connected_components_alternating,
    )

    return memo.artifact(
        "dup_cc",
        spark,
        sf_dir,
        ["documents"],
        f"cc_labels|jaccard>=0.8|{_SHINGLES_SQL}",
        lambda: connected_components_alternating(
            _dup_edges(spark, sf_dir), src="doc_a", dst="doc_b"
        ),
    )


@defquery(
    "dedup_duplicate_clusters",
    f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup_edges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM dup_edges
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM dup_edges
    ),
    walk(id, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.id
    )
    SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS component_id
    FROM walk GROUP BY id
    """,
    doc="Duplicate CLUSTERS (the step near-dup pipelines actually need): "
    "Jaccard>=0.8 pairs as edges, transitive closure via alternating "
    "large-star/small-star (operators.graph.connected_components_alternating "
    "— Kiveris et al. SoCC'14, one aggregate+join per phase, O(log n) "
    "rounds vs O(diameter) for plain propagation). component_id = min "
    "doc_id reachable, i.e. the "
    "canonical keeper. Oracle: DuckDB recursive-CTE reachability.",
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _components(spark, sf_dir)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("component_id"),
    )


@defquery(
    "dedup_cluster_keepers",
    f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup_edges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM dup_edges
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM dup_edges
    ),
    walk(id, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.id
    ),
    comp AS (SELECT id, min(label) AS component FROM walk GROUP BY id)
    SELECT CAST(component AS BIGINT)     AS keeper_doc_id,
           CAST(count(*) AS BIGINT)      AS n_members,
           CAST(count(*) - 1 AS BIGINT)  AS n_removed,
           CAST(max(id) AS BIGINT)       AS max_doc_id
    FROM comp GROUP BY component
    """,
    doc="The dedup KEEP-LIST — what a near-dup pipeline actually "
    "materializes before writing the cleaned corpus: per duplicate "
    "cluster (transitive closure of Jaccard≥0.8 pairs), the canonical "
    "keeper (min doc_id = the component label, so it falls out of the "
    "label propagation for free), member and removed counts, and a "
    "max-id checksum pinning exact membership. One aggregate over the "
    "connected-components output; at 100 TB the removed side becomes "
    "the anti-join filter producing the deduplicated corpus.",
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _components(spark, sf_dir)
    return comp.groupBy(
        F.col("component").cast("long").alias("keeper_doc_id")
    ).agg(
        F.count("*").alias("n_members"),
        (F.count("*") - 1).alias("n_removed"),
        F.max("id").cast("long").alias("max_doc_id"),
    )


@defquery(
    "dedup_quality_keepers",
    f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup_edges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM dup_edges
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM dup_edges
    ),
    walk(id, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.id
    ),
    comp AS (SELECT id, min(label) AS component FROM walk GROUP BY id),
    {_QUALITY_SCORED_SQL}
    ,
    ranked AS (
      SELECT c.component, c.id, s.quality,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY s.quality DESC, c.id) AS rn
      FROM comp c JOIN scored s ON c.id = s.doc_id
    )
    SELECT CAST(component AS BIGINT)  AS cluster_id,
           CAST(id AS BIGINT)         AS keeper_doc_id,
           CAST((SELECT count(*) FROM comp c2
                 WHERE c2.component = ranked.component) AS BIGINT)
             AS n_members,
           quality                    AS keeper_quality
    FROM ranked WHERE rn = 1
    """,
    doc="QUALITY-keeper selection per duplicate cluster "
    "(operators.graph.cluster_keepers_by_score): instead of the "
    "canonical min-id keeper, each Jaccard≥0.8 cluster keeps its "
    "HIGHEST-quality member (text.quality_score, ties → lowest id) — "
    "the curation choice that stops whole-corpus dedup from discarding "
    "the better-written duplicate. Arg-max is a min(struct(-score, "
    "id)) fold in one hash aggregate — constant per-component state, "
    "no window sort over members; at 100 TB the keep-list feeds the "
    "same anti-join as the min-id variant. Oracle: recursive-CTE "
    "components + the shared quality CTE + a row_number arg-max.",
)
def dedup_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.graph import cluster_keepers_by_score
    from hfp_loader_spark.operators.text import quality_score

    comp = _components(spark, sf_dir)
    scores = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        quality_score(F.col("text"), round_to=4).alias("quality"),
    )
    out = cluster_keepers_by_score(comp, scores, id_col="id", score_col="quality")
    return out.select(
        F.col("component").cast("long").alias("cluster_id"),
        F.col("keeper_id").cast("long").alias("keeper_doc_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("keeper_quality"),
    )


@defquery(
    "dedup_fuzzy_name_pairs",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND length(a.c_name) = length(b.c_name)
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Fuzzy entity matching (operators.neardup.fuzzy_pairs_blocked): "
    "equal-length name pairs within levenshtein 1, found via FastSS-style "
    "wildcard-position blocking — every value explodes into len variants "
    "with one position wildcarded; a 1-substitution pair shares exactly "
    "the variant at the differing position, so one equality join gives "
    "exact recall with block sizes immune to shared prefixes (chunk "
    "blocking degenerates to one quadratic block on Customer#0000… "
    "names: minutes at sf0.1 vs 2s). Oracle is the brute-force quadratic "
    "join — affordable for DuckDB at oracle SF, and the point: same "
    "answer, scalable plan.",
)
def dedup_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.neardup import fuzzy_pairs_blocked

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_pairs_blocked(cust, "c_custkey", "c_name", max_subs=1).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


@defquery(
    "dedup_graph_triangles",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    e AS (SELECT da, db FROM pairs
          WHERE round(i * 1.0 / (na + nb - i), 4) >= 0.8)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.db = e2.da
              JOIN e e3 ON e3.da = e1.da AND e3.db = e2.db
    """,
    doc="Triangle count of the near-dup graph "
    "(operators.graph.triangle_count): id-oriented edges, two self-joins "
    "— each triangle counted exactly once as a<b<c. Triangle density is "
    "the standard diagnostic for whether near-dup clusters are cliques "
    "(true dup groups) or chains (threshold too loose). Degree-ordered "
    "orientation documented as the hub-graph upgrade.",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.graph import triangle_count

    return triangle_count(
        _dup_edges(spark, sf_dir), src="doc_a", dst="doc_b"
    )


def _shingles_sql(n: int) -> str:
    """Distinct word n-gram shingles as DuckDB SQL (lockstep with
    operators.text.word_shingles(n))."""
    parts = " || ' ' || ".join(f"({_TOKS_SQL})[i+{k}]" for k in range(n))
    return (
        "list_distinct(list_transform("
        f"generate_series(1, greatest(len({_TOKS_SQL}) - {n - 1}, 0)), "
        f"i -> {parts}))"
    )


@defquery(
    "decontaminate_ngram_overlap",
    f"""
    WITH sh AS (
      SELECT doc_id, {_shingles_sql(8)} AS shingles FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s, doc_id AS bench_id
      FROM sh WHERE doc_id % 17 = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 17 <> 0
    )
    SELECT c.doc_id,
           CAST(count(DISTINCT c.s) AS BIGINT)        AS n_matched_spans,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """,
    doc="Train/benchmark decontamination (operators.neardup.decontaminate): "
    "flag training documents sharing any word 8-gram with a held-out "
    "benchmark slice (doc_id % 17 — a deterministic stand-in for a real "
    "eval set). The benchmark's distinct shingles are hashed to 8-byte "
    "longs and BROADCAST, so the corpus flag pass is one map-side join "
    "with zero corpus-side shuffle — the eval set stays thousands of "
    "docs while the corpus grows to billions. Reports matched-span and "
    "implicated-benchmark-doc counts per flagged doc; the oracle joins "
    "the raw shingle strings (hashing is engine-side only).",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.neardup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") % 17 != 0),
        docs.where(F.col("doc_id") % 17 == 0),
        "doc_id",
        "text",
        n=8,
    )


@defquery(
    "graph_khop_reachability",
    f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup_edges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM dup_edges
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM dup_edges
    ),
    walk(node, hops) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id % 50 = 0
      UNION
      SELECT e.d, w.hops + 1 FROM edges e JOIN walk w ON e.s = w.node
      WHERE w.hops < 3
    )
    SELECT node AS doc_id, CAST(min(hops) AS INT) AS hops
    FROM walk GROUP BY node
    """,
    doc="Bounded BFS (operators.graph.khop_reachability): min-hop "
    "distance <= 3 from the doc_id%50 seed set over the Jaccard>=0.8 "
    "near-dup graph — the blast-radius primitive (\"what else gets "
    "removed if these docs go\"). Frontier-only joins, anti-join "
    "dedup so each vertex expands exactly once at its min distance, "
    "driver touches one probe row per round. Oracle: depth-bounded "
    "recursive CTE.",
)
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.graph import khop_reachability

    docs = _t(spark, sf_dir, "documents")
    seeds = docs.where(F.col("doc_id") % 50 == 0).select("doc_id")
    out = khop_reachability(
        _dup_edges(spark, sf_dir),
        seeds,
        k=3,
        src="doc_a",
        dst="doc_b",
        seed_col="doc_id",
    )
    return out.select(
        F.col("node").alias("doc_id"), F.col("hops").cast("int").alias("hops")
    )


@defquery(
    "decontaminate_bloom_gated",
    f"""
    WITH sh AS (
      SELECT doc_id, {_shingles_sql(8)} AS shingles FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s, doc_id AS bench_id
      FROM sh WHERE doc_id % 17 = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 17 <> 0
    )
    SELECT c.doc_id,
           CAST(count(DISTINCT c.s) AS BIGINT)        AS n_matched_spans,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """,
    doc="Bloom-gated decontamination "
    "(operators.neardup.decontaminate_bloom_gated): phase 1 broadcasts a "
    "FIXED-SIZE bit set of benchmark 8-gram hashes (64Ki bits regardless "
    "of benchmark size — the path for eval suites whose distinct-shingle "
    "set is itself too big to broadcast) and gates corpus docs with any "
    "maybe-present shingle map-side; phase 2 re-runs the exact hash join "
    "over the gated sliver only. No false negatives is a Bloom theorem "
    "and every flagged doc is exactly re-verified, so the output is "
    "IDENTICAL to decontaminate_ngram_overlap — the oracle is the same "
    "exact SQL, which is the point.",
)
def decontaminate_bloom_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.neardup import decontaminate_bloom_gated

    docs = _t(spark, sf_dir, "documents")
    heldout = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate_bloom_gated(corpus, heldout, "doc_id", "text", n=8)


@defquery(
    "dedup_cross_source_overlap",
    f"""
    WITH sh AS (
      SELECT DISTINCT source AS src, s
      FROM (SELECT source, unnest({_SHINGLES_SQL}) AS s FROM documents)
    ),
    sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.src < b.src
      GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source AS src FROM documents)
    SELECT m.source_a, m.source_b,
           coalesce(sh2.n_shared, 0) AS n_shared,
           coalesce(sa.n, 0) AS n_a,
           coalesce(sb.n, 0) AS n_b,
           CASE WHEN least(coalesce(sa.n, 0), coalesce(sb.n, 0)) > 0
                THEN round(coalesce(sh2.n_shared, 0)
                           / CAST(least(sa.n, sb.n) AS DOUBLE), 4)
           END AS overlap
    FROM (SELECT a.src AS source_a, b.src AS source_b
          FROM srcs a JOIN srcs b ON a.src < b.src) m
    LEFT JOIN shared sh2 USING (source_a, source_b)
    LEFT JOIN sizes sa ON sa.src = m.source_a
    LEFT JOIN sizes sb ON sb.src = m.source_b
    """,
    doc="Cross-source contamination matrix (operators.neardup."
    "cross_source_overlap): for every source pair, the count of shared "
    "distinct word-trigram shingles and the overlap coefficient "
    "|A∩B|/min(|A|,|B|) — the forensics view that finds mirror/scrape "
    "sources BEFORE pointing near-dup machinery at them (a pair near "
    "1.0 means one source is contained in the other). Zero-sharing "
    "pairs keep a row; a zero-shingle source reports NULL overlap. "
    "Scale shape: one map-side-combined distinct over (source, "
    "shingle), a posting-list self-join on the shingle (only "
    "co-occurring shingles pair — never sources × corpus), then "
    "broadcast joins onto the S² matrix; the jaccard_pairs df-cap "
    "lever applies if a stop-shingle spans all sources.",
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.neardup import cross_source_overlap

    return cross_source_overlap(_t(spark, sf_dir, "documents"))


@defquery(
    "dedup_containment_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS g FROM documents
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
    i AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS ni
      FROM s a JOIN s b ON a.g = b.g AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(ni / CAST(sz.n AS DOUBLE), 4) AS containment
    FROM i JOIN sz ON sz.doc_id = i.doc_a
    WHERE round(ni / CAST(sz.n AS DOUBLE), 4) >= 0.9
    """,
    doc="Asymmetric shingle-containment pairs |A∩B|/|A| ≥ 0.9 "
    "(operators.neardup.containment_pairs; Broder 1997): the dedup "
    "signal Jaccard structurally misses — a short document quoted "
    "whole inside a long one has containment ≈ 1 but Jaccard ≈ "
    "|A|/|B| ≈ 0, so Jaccard-only dedup keeps the duplicate. One row "
    "per qualifying DIRECTION (doc_a is the contained side; mutual "
    "containment appears twice). Scale shape: the same posting-list "
    "self-join and df-cap lever as dedup_jaccard_pairs — stop-shingles "
    "droppable before the join with |A| recomputed over the retained "
    "space.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.neardup import containment_pairs

    sh = shingle_docs(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return containment_pairs(sh, threshold=0.9)


def _lpa_oracle(n_iter: int = 3) -> str:
    """The near-dup edge CTE chain (same derivation as the triangles
    oracle) + synchronous label propagation unrolled one CTE pair per
    round — the SQL twin of operators.graph.label_propagation."""
    parts = [f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    prs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    e AS (SELECT da, db FROM prs
          WHERE round(i * 1.0 / (na + nb - i), 4) >= 0.8),
    und AS (SELECT da AS a, db AS b FROM e
            UNION SELECT db AS a, da AS b FROM e),
    l0 AS (SELECT DISTINCT a AS id, a AS label FROM und)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
    c{t} AS (
      SELECT u.a, l.label, count(*) AS c
      FROM und u JOIN l{t - 1} l ON u.b = l.id GROUP BY 1, 2
    ),
    l{t} AS (
      SELECT a AS id,
             (min(struct_pack(nc := -c, l := label))).l AS label
      FROM c{t} GROUP BY a
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS community
    FROM l{n_iter}
    """)
    return "".join(parts)


@defquery(
    "dedup_label_propagation",
    _lpa_oracle(3),
    doc="Synchronous label-propagation communities (Raghavan et al. "
    "2007; operators.graph.label_propagation, 3 rounds) over the "
    "Jaccard≥0.8 near-dup graph: every node adopts its neighbors' "
    "plurality label, ties to the smallest — min(struct(−count, "
    "label)), fully deterministic, so the unrolled SQL oracle replays "
    "every round (classic LPA randomizes update order; determinism is "
    "the price of replayability). Complements connected components: "
    "LPA splits weakly-bridged clusters CC would merge. Per round: one "
    "edge⋈label join + one constant-state count + one argmin — the "
    "PageRank shuffle shape; labels localCheckpointed per round.",
)
def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.graph import label_propagation

    lab = label_propagation(
        _dup_edges(spark, sf_dir), n_iter=3, src="doc_a", dst="doc_b"
    )
    return lab.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("community"),
    )


@defquery(
    "dedup_split_leakage_neardup",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    ex AS (
      SELECT doc_id, s, count(*) OVER (PARTITION BY doc_id) AS n
      FROM ex0
      WHERE s IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= 128)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    e AS (SELECT doc_a, doc_b FROM pairs
          WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.8),
    sp AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e000'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT least(sa.split, sb.split)    AS split_x,
           greatest(sa.split, sb.split) AS split_y,
           CAST(count(*) AS BIGINT)     AS n_pairs,
           CAST(min(e.doc_a) AS BIGINT) AS min_doc_a
    FROM e
    JOIN sp sa ON sa.doc_id = e.doc_a
    JOIN sp sb ON sb.doc_id = e.doc_b
    WHERE sa.split <> sb.split
    GROUP BY 1, 2
    """,
    doc="NEAR-duplicate contamination across the train/val/test split — "
    "the complement of dedup_split_leakage's exact-fingerprint audit "
    "(decontamination folklore: paraphrased or lightly-edited eval "
    "copies leak too; Lee et al. 2022 §6.2 measure exactly this): "
    "Jaccard≥0.8 trigram pairs (the df-capped posting join) whose "
    "members straddle a split boundary, grouped by the unordered split "
    "pair. Scale path swaps the exact pair join for the banded LSH "
    "discovery with identical downstream shape.",
)
def dedup_split_leakage_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _dup_edges(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    sp = docs.select(
        "doc_id",
        F.when(bucket < "c000", "train")
        .when(bucket < "e000", "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        e.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("split_x"),
            F.greatest("sa", "sb").alias("split_y"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("doc_a").alias("min_doc_a"),
        )
    )


@defquery(
    "dedup_graph_degree_spectrum",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    prs AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    e AS (SELECT da, db FROM prs
          WHERE round(i * 1.0 / (na + nb - i), 4) >= 0.8),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT da AS v FROM e UNION ALL SELECT db AS v FROM e)
      GROUP BY v
    )
    SELECT CAST(length(bin(d)) AS INT) AS bucket,
           CAST(count(*) AS BIGINT)    AS n_nodes,
           CAST(sum(d) AS BIGINT)      AS sum_degree,
           CAST(min(v) AS BIGINT)      AS min_doc_id
    FROM deg GROUP BY 1
    """,
    doc="Degree spectrum of the near-dup graph (binary-magnitude "
    "buckets, the text_zipf_spectrum integer-log2 trick): the graph-"
    "health gauge for the dedup tier — a heavy high-degree tail means "
    "template/boilerplate hubs that will chain unrelated documents "
    "into one component (and blow up the CC's star rounds); the "
    "mitigation is the df-cap / hub-excision this audit tells you to "
    "apply. One union + count per node + ≤64-row rollup over the "
    "persisted edge list.",
)
def dedup_graph_degree_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _dup_edges(spark, sf_dir)
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionByName(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    return deg.groupBy(
        F.length(F.bin("d")).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.sum("d").alias("sum_degree"),
        F.min("v").alias("min_doc_id"),
    )


@defquery(
    "dedup_lsh_design_curve",
    """
    WITH s AS (SELECT unnest(generate_series(1, 9)) AS k),
    terms AS (
      SELECT k,
             CAST(10000 AS HUGEINT) AS denom4,
             CAST(10000 AS HUGEINT)
               - CAST(k AS HUGEINT) * k * k * k AS miss4
      FROM s
    ),
    powed AS (
      -- (1 - s^4)^8 as an exact rational: miss4^8 / 10000^8
      SELECT k,
             miss4 * miss4 * miss4 * miss4
               * miss4 * miss4 * miss4 * miss4 AS missnum,
             denom4 * denom4 * denom4 * denom4
               * denom4 * denom4 * denom4 * denom4 AS den
      FROM terms
    )
    SELECT round(k / 10.0, 1) AS jaccard,
           round(CAST(den - missnum AS DOUBLE) / CAST(den AS DOUBLE), 6)
             AS p_candidate
    FROM powed
    """,
    doc="The MinHash-LSH design curve for the shipped (b=8 bands, r=4 "
    "rows) configuration: P[candidate] = 1 − (1 − s⁴)⁸ at Jaccard s — "
    "computed as an EXACT RATIONAL ((10⁴)⁸ − (10⁴−k⁴)⁸) / (10⁴)⁸ in "
    "HUGEINT/DECIMAL (libm pow is not correctly-rounded across "
    "engines; integer powers are), one division + round. This is the "
    "table that justifies dedup_minhash_lsh's parameters: ~0.039 at "
    "s=0.5 (near-dup misses cheap to verify away) rising to ~0.98 at "
    "s=0.9 — the S-curve's knee sits at the 0.8 threshold the "
    "pipeline dedups at. Pure math, zero data access — the design "
    "artifact as a first-class, oracle-checked query.",
)
def dedup_lsh_design_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    s = spark.range(1, 10).select(F.col("id").cast(dec).alias("k"))
    t = s.select(
        "k",
        F.lit(10000).cast(dec).alias("d4"),
        (
            F.lit(10000).cast(dec)
            - F.col("k") * F.col("k") * F.col("k") * F.col("k")
        ).alias("m4"),
    )

    def pow8(c):
        c2 = c * c
        c4 = c2 * c2
        return c4 * c4

    p = t.select(
        "k", pow8(F.col("m4")).alias("missnum"), pow8(F.col("d4")).alias("den")
    )
    return p.select(
        F.round(F.col("k").cast("double") / F.lit(10.0), 1).alias("jaccard"),
        F.round(
            (F.col("den") - F.col("missnum")).cast("double")
            / F.col("den").cast("double"),
            6,
        ).alias("p_candidate"),
    )


@defquery(
    "dedup_weighted_jaccard_sources",
    f"""
    WITH tf AS (
      SELECT src, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT source AS src, unnest({_TOKS_SQL}) AS term
            FROM documents)
      GROUP BY 1, 2
    ),
    totals AS (SELECT src, sum(tf) AS tot FROM tf GROUP BY 1),
    shared AS (
      SELECT a.src AS source_a, b.src AS source_b,
             sum(least(a.tf, b.tf)) AS smin
      FROM tf a JOIN tf b ON a.term = b.term AND a.src < b.src
      GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source AS s FROM documents),
    matrix AS (
      SELECT a.s AS source_a, b.s AS source_b
      FROM srcs a JOIN srcs b ON a.s < b.s
    )
    SELECT m.source_a, m.source_b,
           CAST(coalesce(sh.smin, 0) AS BIGINT) AS shared_weight,
           CASE WHEN ta.tot + tb.tot - coalesce(sh.smin, 0) > 0
                THEN round(coalesce(sh.smin, 0)
                           / (CAST(ta.tot AS DOUBLE) + tb.tot
                              - coalesce(sh.smin, 0)), 6)
           END AS weighted_jaccard
    FROM matrix m
    LEFT JOIN shared sh USING (source_a, source_b)
    LEFT JOIN totals ta ON ta.src = m.source_a
    LEFT JOIN totals tb ON tb.src = m.source_b
    """,
    doc="Cross-source WEIGHTED Jaccard matrix over token frequencies "
    "(operators.neardup.weighted_jaccard_matrix): Σmin(tf_a,tf_b) / "
    "Σmax per source pair, with Σmax never materialized (= T_a + T_b − "
    "Σmin). The multiset companion to dedup_cross_source_overlap's "
    "set view: shared VOCABULARY vs shared text in the same "
    "PROPORTIONS — a mirror with large distinct tails still scores "
    "near 1 here. One (source, term) count aggregate, a posting-list "
    "self-join ON THE TERM (fanout ≤ C(S,2) per term), bounded "
    "broadcast side frames, complete S² matrix out (190 rows at 20 "
    "sources, any SF).",
)
def dedup_weighted_jaccard_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hfp_loader_spark.operators.neardup import weighted_jaccard_matrix

    return weighted_jaccard_matrix(_t(spark, sf_dir, "documents"))


def _wmh_oracle(num_hashes: int, tf_cap: int) -> str:
    """DuckDB twin of the FULL bag-expansion weighted MinHash: the same
    md5-48-bit families over the same occurrence tokens reduce to the
    identical signatures, so est_wj itself is value-checked (no
    tolerance band), and exact_wj is the Σmin/Σmax of the same capped
    tf vectors."""

    def f_md5(j: int) -> str:
        return f"md5('{j}:' || occ)"

    def h48(expr: str) -> str:
        return (
            "("
            + " + ".join(
                f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
                f" * {16 ** (11 - i)}"
                for i in range(12)
            )
            + ")"
        )

    mins = ",\n             ".join(
        f"min({h48(f_md5(j))}) AS m{j}" for j in range(num_hashes)
    )
    agree = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return f"""
    WITH tf AS (
      SELECT src, term,
             least(CAST(count(*) AS BIGINT), {tf_cap}) AS tf
      FROM (SELECT source AS src, unnest({_TOKS_SQL}) AS term
            FROM documents)
      GROUP BY 1, 2
    ),
    occ AS (
      SELECT src, term || ':' || CAST(i AS VARCHAR) AS occ
      FROM tf, unnest(generate_series(1, tf)) AS t(i)
    ),
    sigs AS (
      SELECT src,
             {mins}
      FROM occ GROUP BY src
    ),
    srcs AS (SELECT DISTINCT source AS src FROM documents),
    est AS (
      SELECT m.source_a, m.source_b,
             CASE WHEN a.src IS NULL AND b.src IS NULL THEN NULL
                  WHEN a.src IS NULL OR b.src IS NULL THEN 0.0
                  ELSE round(({agree}) / CAST({num_hashes} AS DOUBLE), 6)
             END AS est_wj
      FROM (SELECT x.src AS source_a, y.src AS source_b
            FROM srcs x JOIN srcs y ON x.src < y.src) m
      LEFT JOIN sigs a ON a.src = m.source_a
      LEFT JOIN sigs b ON b.src = m.source_b
    ),
    totals AS (SELECT src, sum(tf) AS tot FROM tf GROUP BY 1),
    shared AS (
      SELECT a.src AS source_a, b.src AS source_b,
             sum(least(a.tf, b.tf)) AS smin
      FROM tf a JOIN tf b ON a.term = b.term AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b, e.est_wj,
           CASE WHEN coalesce(ta.tot, 0) + coalesce(tb.tot, 0)
                     - coalesce(sh.smin, 0) > 0
                THEN round(coalesce(sh.smin, 0)
                           / (CAST(coalesce(ta.tot, 0) AS DOUBLE)
                              + coalesce(tb.tot, 0)
                              - coalesce(sh.smin, 0)), 6)
           END AS exact_wj
    FROM est e
    LEFT JOIN shared sh USING (source_a, source_b)
    LEFT JOIN totals ta ON ta.src = e.source_a
    LEFT JOIN totals tb ON tb.src = e.source_b
    """


@defquery(
    "dedup_weighted_minhash_sources",
    _wmh_oracle(16, 64),
    doc="Bag-expansion weighted MinHash between sources "
    "(operators.neardup.weighted_minhash_matrix, k=16, tf cap 64): "
    "each (source, term) emits capped occurrence tokens term:1…term:tf "
    "and 16 md5-48-bit hash families reduce to per-source min-hash "
    "signatures — md5-derived, so the SKETCH ITSELF is value-checked "
    "by the oracle (no tolerance band), alongside the exact Σmin/Σmax "
    "weighted Jaccard of the same capped vectors. The est/exact pair "
    "exposes the estimator error per pair in the output — the sketch "
    "path for cross-source weighted similarity when the exact term "
    "join is too hot, with tf saturation bounding the expansion at 64 "
    "rows per (source, term).",
)
def dedup_weighted_minhash_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hfp_loader_spark.operators.neardup import weighted_minhash_matrix

    return weighted_minhash_matrix(
        _t(spark, sf_dir, "documents"), num_hashes=16, tf_cap=64
    )


def f_md5(j: int) -> str:  # shared by the minhash-exact oracle
    return f"md5('{j}:' || s)"


def _minhash_exact_oracle(
    num_hashes: int, num_bands: int, threshold: float
) -> str:
    """DuckDB twin of the FULL MinHash+LSH near-dup join for the
    md5-48-bit hash family: the same signatures, the same band buckets,
    the same candidate set, the same exact-Jaccard verification — so
    the discovery path's output (not just its recall) is value-checked.
    The xxhash64 entry (dedup_minhash_lsh) stays the hot path."""

    def h48(expr: str) -> str:
        return (
            "("
            + " + ".join(
                f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
                f" * {16 ** (11 - i)}"
                for i in range(12)
            )
            + ")"
        )

    rows_per_band = num_hashes // num_bands
    mins = ",\n             ".join(
        f"min({h48(f_md5(j))}) AS m{j}" for j in range(num_hashes)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        + h48(
            "md5("
            + " || ',' || ".join(
                f"m{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + ")"
        )
        + " AS bucket FROM sigs"
        for b in range(num_bands)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
      WHERE len({_SHINGLES_SQL}) > 0
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM ex GROUP BY doc_id
    ),
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
                   / (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles))),
                   4) AS jaccard
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {threshold}
    """


@defquery(
    "dedup_minhash_lsh_exact",
    _minhash_exact_oracle(32, 8, 0.8),
    doc="MinHash(32)+LSH(8 bands) near-dup join with a FULLY "
    "value-checked discovery path: the md5-48-bit hash family "
    "(minhash_signatures(shingle_hash=…) / "
    "lsh_candidate_pairs(band_hash=…)) makes signatures, band buckets, "
    "the candidate set, AND the exact-Jaccard-verified pair list all "
    "DuckDB-recomputable — completing the exact-sibling set: every "
    "remaining rows-only sketch entry (xxhash64 LSH, float IVF/PQ) now "
    "has a bit-exact twin beside its fast default. Same banded bucket "
    "join, never all-pairs; the hot path stays dedup_minhash_lsh "
    "(one xxhash64 + k long hashes per shingle vs k md5 digests "
    "here).",
)
def dedup_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    md5_48 = lambda col, j: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 12), 16, 10
    ).cast("long")
    band_md5 = lambda col: F.conv(  # noqa: E731
        F.substring(F.md5(col), 1, 12), 16, 10
    ).cast("long")
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.8,
        shingle_hash=md5_48,
        band_hash=band_md5,
    )
