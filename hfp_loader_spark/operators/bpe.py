"""Byte-pair-encoding tokenizer TRAINING as one-row Catalyst plans
(extension tier; the reference has no text surface — SURVEY §2.11).

Classic word-level BPE (Sennrich et al. 2016, the public algorithm every
subword tokenizer descends from): pre-tokenize the corpus into words,
count word frequencies, split words into character symbols, then N
times (a) count adjacent symbol pairs weighted by word frequency,
(b) merge the most frequent pair everywhere, greedily left-to-right
within each word.  The learned artifact is the ordered MERGE TABLE —
apply it in order and you have the tokenizer.

Spark shape: the corpus is touched ONCE (tokenize → word counts), and
one global aggregate gathers the word counts into ONE row ``V`` of
``(word, freq, syms)`` structs sorted by word.  Every merge round is
then a projection of that row — no join, no exchange, no pin, so the
whole training is one lazy plan whose first action runs it: the pairs
of every word, weighted by its frequency, are flattened into one
sorted array; one ``aggregate`` fold over it sums each (left, right)
run and keeps the best run (count desc, pair asc — strict ``>`` keeps
the first of tied runs); and the greedy merge fold rebuilds every
word's symbols.  A round without pairs yields a NULL best pair, which
merges nothing and emits no row, so a corpus that runs out of pairs
degrades to fewer merges.

Scale bound: the vocabulary and each round's pair array live in one
row on one task.  On the sf0.1 documents corpus that is 31 distinct
words and 107 weighted pairs in the first round; a vocabulary of
millions of words needs a blocked layout.

Exactness: every step is integer counts + lexicographic ties, so the
whole training replays in SQL.  The oracle uses an INDEPENDENT
formulation of the greedy merge (gaps-and-islands parity over exploded
symbol positions — adjacent overlapping matches only exist when
left==right, and greedy-from-the-left keeps islands' odd offsets),
which strengthens the check: two different derivations of the same
recurrence must agree bit-for-bit.

Greedy-fold correctness note: the fold merges ``x`` into ``out[-1]``
iff ``out[-1] == left and x == right``; a symbol just CREATED by a
this-round merge can never false-positive as ``left`` because
``left || right == left`` would need an empty ``right``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MERGE = (
    "struct<merge_rank:int,pair_left:string,pair_right:string,"
    "pair_count:bigint>"
)


def _chars(word: str) -> str:
    """SQL text: a word split into single-character symbols (code-point
    slices — identical semantics to the oracle's ``word[i:i]``)."""
    return (
        f"transform(sequence(1, length({word})), i -> substr({word}, i, 1))"
    )


def _greedy_merge(syms: str, left: str, right: str) -> str:
    """SQL text: greedy left-to-right merge of the (left, right) pair
    inside one symbol array — an expression-only fold; a NULL pair (no
    pair survived the round) is the identity."""
    return (
        f"aggregate({syms}, CAST(array() AS array<string>), (o, x) -> "
        f"IF(size(o) > 0 AND element_at(o, -1) = {left} AND x = {right}, "
        f"concat(slice(o, 1, size(o) - 1), array(concat({left}, {right}))),"
        " concat(o, array(x))))"
    )


# SQL text over the state row: every word's adjacent symbol pairs with
# the word's frequency, as one array sorted by (l, r2)
_PAIRS = (
    "array_sort(flatten(transform(V, w -> zip_with("
    "slice(w.syms, 1, size(w.syms) - 1), slice(w.syms, 2, size(w.syms)), "
    "(x, y) -> struct(x AS l, y AS r2, w.freq AS c)))))"
)

# SQL text: the best (l, r2, c) run of the sorted pair array, NULL when
# it is empty — one fold whose accumulator carries the current run and
# the best finished run; strict ``>`` keeps the first of tied runs
_NO_RUN = (
    "struct(CAST(NULL AS STRING) AS l, CAST(NULL AS STRING) AS r2, "
    "0L AS c)"
)
_BEST = (
    f"aggregate({_PAIRS}, struct({_NO_RUN} AS cur, {_NO_RUN} AS best), "
    "(a, p) -> IF(p.l = a.cur.l AND p.r2 = a.cur.r2, "
    "struct(struct(p.l AS l, p.r2 AS r2, a.cur.c + p.c AS c) AS cur, "
    "a.best AS best), "
    "struct(p AS cur, IF(a.cur.c > a.best.c, a.cur, a.best) AS best)), "
    "a -> IF(a.cur.c > a.best.c, a.cur, IF(a.best.c > 0, a.best, NULL)))"
)

# SQL text: every word's symbols after merging the round's best pair
# ``B``, bound once outside the per-word lambda — the optimizer inlines
# the projection that made ``B`` (it counts references, not lambda
# calls), which per word would redo the round's pair fold
_APPLY = (
    "transform(array(B), top -> transform(V, w -> struct(w.word AS word, "
    "w.freq AS freq, "
    f"{_greedy_merge('w.syms', 'top.l', 'top.r2')} AS syms)))[0]"
)


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from a document corpus;
    returns the ordered merge table
    ``(merge_rank, pair_left, pair_right, pair_count)`` — ≤ n_merges
    rows (fewer iff the vocabulary runs out of pairs).

    The plan is the word-count aggregate, one global aggregate into the
    state row and ``n_merges`` rounds of projections of that row:
    building it runs no job (see the module docstring for its scale
    bound)."""
    from hfp_loader_spark.operators.text import tokens

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    st = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
        .selectExpr(
            "array_sort(collect_list(struct(word, freq, "
            f"{_chars('word')} AS syms))) AS V",
            f"CAST(array() AS array<{_MERGE}>) AS M",
        )
    )
    for rank in range(1, n_merges + 1):
        st = st.selectExpr("V", "M", f"{_BEST} AS B").selectExpr(
            f"{_APPLY} AS V",
            "concat(M, array(IF(B IS NULL, NULL, struct("
            f"{rank} AS merge_rank, B.l AS pair_left, B.r2 AS pair_right, "
            "B.c AS pair_count)))) AS M",
        )
    return st.selectExpr("inline(filter(M, e -> e IS NOT NULL))")


def bpe_segment(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "pieces",
) -> DataFrame:
    """APPLY a learned merge table: segment each word into subword
    pieces by replaying the merges IN RANK ORDER (the defining
    tokenizer semantics) — one fold over the table, as a literal array,
    of the same greedy merge training uses, so segmenting is one narrow
    no-shuffle projection however many rows stream through.  ``merges``
    is the ordered ``[(pair_left, pair_right), …]`` list (collect the
    bounded :func:`bpe_train` output — the tokenizer model is
    driver-sized by definition)."""
    table = F.array(
        *(
            F.struct(F.lit(left).alias("l"), F.lit(right).alias("r2"))
            for left, right in merges
        )
    ).cast("array<struct<l:string,r2:string>>")
    pieces = (
        f"aggregate(_merges, {_chars(f'`{word_col}`')}, (s, m) -> "
        f"{_greedy_merge('s', 'm.l', 'm.r2')})"
    )
    return (
        words.withColumn("_merges", table)
        .withColumn(out_col, F.expr(pieces))
        .drop("_merges")
    )
