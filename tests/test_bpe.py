"""BPE tokenizer training/segmentation (operators/bpe.py, r12)."""

from __future__ import annotations

import re
from collections import Counter

import pytest


def _python_bpe(texts: list[str], n_merges: int):
    """Classic BPE reference (Sennrich-style), pure Python."""
    words = Counter()
    for t in texts:
        for w in [x for x in re.split("[^a-z0-9]+", (t or "").lower()) if x]:
            words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        if not pc:
            break
        (left, right), cnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((rank, left, right, cnt))
        for w, syms in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_python_reference_with_overlap_runs(spark):
    """The unrolled-plan trainer must reproduce the classic algorithm
    exactly — including the greedy non-overlapping rule on repeated-
    character runs ('aaaa' + merge (a,a) → [aa, aa], never [aa, a, a])
    and NULL/empty documents contributing nothing."""
    from hfp_loader_spark.operators.bpe import bpe_segment, bpe_train

    texts = [
        "low low low lower lower newest newest newest widest widest",
        "the newest widest low bird bird",
        "aaaa aaaa aaa banana bananas",
        None,
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(map(tuple, bpe_train(docs, 8).collect()))
    ref, vocab = _python_bpe([t for t in texts if t], 8)
    assert got == sorted(ref) and len(got) == 8

    # apply side: replaying the learned table reproduces the reference
    # trainer's final segmentation of every trained word
    merges = [(left, right) for _, left, right, _ in sorted(ref)]
    seg = {
        r["word"]: list(r["pieces"])
        for r in bpe_segment(
            spark.createDataFrame(
                [(w,) for w in vocab], "word string"
            ),
            merges,
        ).collect()
    }
    assert seg == vocab

    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, 0)


def test_bpe_train_degrades_when_pairs_run_out(spark):
    """A vocabulary of single-character words has no pairs: asking for
    5 merges yields an EMPTY merge table (left-join degradation), not
    an error or an annihilated result."""
    from hfp_loader_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    assert bpe_train(docs, 5).count() == 0


def test_bpe_train_on_empty_documents_has_no_rows(spark):
    """An all-empty ``documents`` table gathers an empty vocabulary:
    every round finds no pair, so the merge table is empty."""
    from hfp_loader_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train(docs, 6).collect() == []


def test_bpe_round_best_pair_is_bound_once_per_round(spark):
    """Each round binds its best pair outside the per-word lambda, so
    the fold over the round's pair array runs once per round, not once
    per word."""
    from plan_text import call_bodies, optimized_plan

    from hfp_loader_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower newest widest")], "doc_id long, text string"
    )
    plan = optimized_plan(bpe_train(docs, 3))
    words = call_bodies(plan, "transform(V#")
    assert words and "array_sort(flatten(" in plan
    assert not [w for w in words if "array_sort(flatten(" in w]
