"""Benchmark harness: headline queries at SPARK_GRAFT_SF_DIR (default
sf0.1), one JSON line on stdout.

Each query is the registered catalog entry (same code path as the
correctness gate), materialized with the noop sink so every column is
computed but nothing is collected to the driver.  A warmup run of the
flagship absorbs JVM/codegen startup so the numbers measure the plans,
not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # one per tier: relational aggs, join+topk, windows, HFP parity,
    # near-dup discovery, TF-IDF, vector topk (exact + ANN), sessions,
    # genuine streaming dedup.
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_local_supplier_revenue",
    "q6_forecast_revenue",
    "merge_upsert_orders",
    "scd2_user_state_intervals",
    "window_lag_lead_running",
    "hfp_typed_coercion_net",
    "dedup_minhash_lsh",
    "text_tfidf_top_terms",
    "sim_cosine_topk",
    "sim_cosine_topk_arrow",
    "sim_ann_signlsh",
    "sim_ann_ivf",
    "sim_ann_pq",
    "events_funnel_windowed",
    "dedup_duplicate_clusters",
    # iterative tier: fixed-round join+localCheckpoint loops (BFS frontier
    # expansion; power-iteration pagerank) — regressions in the per-round
    # shape were invisible to BENCH_r*.json before these two.
    "graph_khop_reachability",
    "graph_pagerank_cust_supp",
    "semdedup_keep_list",
    "decontaminate_ngram_overlap",
    "stream_session_counts",
    "streaming_watermark_dedup",
    "streaming_sliding_availablenow",
    # round 9: DSIR importance weighting — explode → two bounded count
    # aggregates → broadcast ratio join → per-doc sum; added so the
    # data-selection tier has a measured representative (raises the
    # headline total by its own cost vs earlier rounds' 24-query sum).
    "sample_dsir_importance",
    # round 9 session 2: the retrieval-fusion composition (BM25 chain +
    # dense top-k + full-outer RRF merge) and the unrolled greedy MMR —
    # the two heaviest new shapes; each adds its own cost to the total.
    "rank_rrf_fusion",
    "sim_mmr_rerank",
    # round 9 session 3: fixed-point PCA — one Arrow partial-Gram corpus
    # pass + checkpointed integer power iteration; the decomposition
    # tier's measured representative (adds its own cost to the total).
    "emb_power_iteration_pc1",
    # round 10: the two new plan shapes — in-row basket pair expansion
    # (association mining) and the bag-expansion weighted-MinHash sketch
    # (16 min-aggregates over an occurrence explode); each adds its own
    # cost to the total vs r9's 28-query sum.
    "orders_basket_brand_rules",
    "dedup_weighted_minhash_sources",
    # round 11 (VERDICT r10 #1): the exact-index trilogy — the ONLY
    # catalog entries that TRAIN at corpus scale (fixed-point Lloyd
    # rounds as unrolled broadcast-join plans: IVF cell assignment, PQ
    # sub-space codebooks + integer ADC, G-grouped k-means in one
    # plan).  Until now a training-cost regression was invisible to
    # BENCH_r*.json; each adds its own cost to the total vs r10's
    # 31-query sum, and tests/test_plan_audit.py caps their exchanges.
    "sim_ann_ivf_exact_cells",
    "sim_ann_pq_exact_codes",
    "emb_kmeans_by_label",
    # round 12: the fused IVF-PQ persisted-index serve path — partition
    # pruning × code compression × bounded rerank fetch, the
    # 10^9-vector composition; adds its own cost to the total vs r11's
    # 34-query sum.
    "sim_ann_ivfpq",
    # round 12: BPE tokenizer training — corpus-once word counts, then 6
    # merge rounds iterating on the bounded vocab frame (per-round
    # explode+agg, TakeOrdered argmax, expression-fold merge); the
    # vocab-state-iteration shape's measured representative.
    "text_bpe_merges",
    # round 12: the trajectory/geospatial tier's measured representative
    # — synthetic trajectory derivation + the per-vehicle window family
    # (row_number, lag legs, implied speeds) + per-vehicle aggregate,
    # all on ONE vehicle-key exchange (alias-before-window so the
    # partitioning guarantee survives; regression = a second exchange,
    # capped in tests/test_plan_audit.py); adds its own cost to the
    # total vs the 36-query sum.
    "geo_leg_speed_profile",
    # round 13: the persisted position lake's serve path — log appends
    # compacted into the cell-partitioned layout, region box read via
    # static cell partition filters (the geo twin of sim_ann_ivf's
    # serve shape); adds its own cost to the total vs the 37-query sum.
    "geo_lake_cells_served",
]


#: Host-speed calibration reference: wall seconds of ``_calibrate`` on
#: the round-10 build host, measured IN-BENCH (after the full headline
#: set, JVM hot: 1.596 s; a cold standalone probe reads ~1.84 s) — r10
#: raw and normalized totals coincide by construction; earlier/later
#: hosts rescale.  ``value_normalized`` = raw total ×
#: (CALIB_REF / calib_now) makes BENCH_r*.json comparable across
#: driver hosts — two rounds were burned re-litigating host variance
#: (VERDICT r9 #5); the bench now self-normalizes.
CALIB_REF = 1.60

#: Python-worker-lane reference (VERDICT r15 #3): wall seconds of
#: :func:`_calibrate_arrow` measured IN-BENCH on the round-15 healthy
#: host (the round that introduced the probe).  The published
#: ``calib_arrow_ratio = calib_arrow_sec / CALIB_ARROW_REF`` makes
#: sim-tier host sag mechanically attributable: a round whose JVM probe
#: is flat but whose arrow ratio reads 1.4× has a slow PYTHON lane
#: (fork / Arrow serde / numpy), which is exactly the residual that
#: muddied r14.  Attribution only — the headline normalization stays on
#: the JVM probe, since most headline entries are pure-JVM plans.
CALIB_ARROW_REF = 0.753


def _calibrate(spark) -> float:
    """Fixed CPU-bound measurement, independent of sf_dir and of every
    catalog plan: a 48M-row md5 chain reduced to one row.  Pure codegen
    arithmetic → scales with host CPU speed exactly like the query
    plans' compute; min-of-3 strips scheduler jitter.  CALIB_REF was
    measured against THIS exact workload (48M rows, double-md5, max
    aggregate) — changing the row count or expression invalidates it."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(48_000_000)
            .select(
                F.md5(
                    F.md5(F.concat(F.lit("calib:"), F.col("id").cast("string")))
                ).alias("h")
            )
            .agg(F.max("h"))
            .collect()
        )
        return time.perf_counter() - t0

    return min(once() for _ in range(3))


#: Job-scheduling-latency reference (r17): median milliseconds of a
#: trivial 4-partition collect on the r15/r16-era reference host class
#: (~25-50 ms in healthy local mode).  The JVM compute probe
#: (:func:`_calibrate`, ONE large job) cannot see per-job scheduler
#: latency, yet the checkpoint-barrier-heavy entries (k-means training,
#: BPE rounds, streaming micro-batches) run DOZENS of tiny jobs per
#: timed run — on a host where this probe reads 150-300 ms (observed
#: during r17's build windows) those entries inflate 2-3× while calib
#: stays flat.  Attribution only, like ``calib_arrow_ratio``: published
#: as ``calib_sched_ms`` so a swing concentrated in barrier-heavy
#: entries is mechanically attributable to scheduler health.
CALIB_SCHED_REF_MS = 40.0


def _calibrate_sched(spark) -> float:
    """Median wall milliseconds of 10 trivial 4-partition jobs — the
    per-job scheduling + result-fetch floor every localCheckpoint
    barrier and micro-batch pays.  Independent of sf_dir and of data
    volume by construction."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(100, numPartitions=4).collect()
        return (time.perf_counter() - t0) * 1000.0

    once()  # absorb first-call overhead
    runs = sorted(once() for _ in range(10))
    return runs[len(runs) // 2]


#: Name of the committed full-detail artifact (per-query times, spreads,
#: regression list).  The driver's BENCH_r*.json captures only the last
#: ~2000 stdout chars, so the detail lives here and in earlier stdout
#: lines; the FINAL stdout line stays compact (see :func:`render_output`).
DETAIL_FILE = "BENCH_DETAIL.json"


def _round_bench_files(repo_dir: str) -> list[str]:
    """Driver ROUND files ``BENCH_r<digits>.json`` sorted by round, the
    shared universe for after_bench stamping and the walkback.  The
    driver's scaling runs (``BENCH_r16_c8.json``) are excluded: a
    same-round lower-core wrapper sorting after the round file made the
    stamp and the walkback disagree about "the newest bench file"
    (VERDICT r16 #5 — the r16 detail ended the round stamped with its
    OWN round's file and the driver could not align it)."""
    import glob
    import re

    out = []
    for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:
            out.append((int(m.group(1)), p))
    return [p for _, p in sorted(out)]


def _load_prev_queries(repo_dir: str) -> tuple[dict | None, str | None]:
    """Newest usable previous per-query time map (VERDICT r14 #2).

    Walks ``BENCH_r*.json`` newest→oldest and returns the first file
    with a parseable ``queries`` map — r14's ``parsed: null`` (the
    truncated headline line) must be SKIPPED, not compared against.  A
    driver round whose BENCH file carries only the compact headline
    (every round from r15 on) is recovered from the committed
    ``BENCH_DETAIL.json``: the detail written during round N stamps
    ``after_bench`` with round N-1's filename (the newest BENCH file at
    run time), so a detail whose ``after_bench`` is the file immediately
    BEFORE ``BENCH_rN.json`` carries round N's per-query map.  A detail
    stamped with the CURRENT newest file corresponds to a round with no
    BENCH file yet (a local rehearsal) and is deliberately ignored — the
    driver's comparison must never target rehearsal numbers from a
    different host."""
    prevs = _round_bench_files(repo_dir)
    detail_after = None
    detail_q = None
    try:
        with open(os.path.join(repo_dir, DETAIL_FILE)) as fh:
            d = json.load(fh)
        if isinstance(d.get("queries"), dict) and d["queries"]:
            detail_after = d.get("after_bench")
            detail_q = d["queries"]
    except Exception:
        pass
    names = [os.path.basename(p) for p in prevs]
    for i in range(len(prevs) - 1, -1, -1):
        try:
            with open(prevs[i]) as fh:
                doc = json.load(fh)
            q = (doc.get("parsed") or doc).get("queries")
            if isinstance(q, dict) and q:
                return q, names[i]
        except Exception:
            pass
        # no usable queries in BENCH_r{i}; the detail artifact written
        # during that round (stamped with its predecessor) fills the gap
        prev_name = names[i - 1] if i > 0 else None
        if detail_q is not None and detail_after == prev_name:
            return detail_q, f"{names[i]} (via {DETAIL_FILE})"
    return None, None


def _calibrate_arrow(spark) -> float:
    """Python-worker-lane calibration (r15): a fixed Arrow mapInPandas
    workload — 4M rows through pandas batches, one numpy reduction per
    batch.  The JVM probe (:func:`_calibrate`) cannot see Python fork /
    Arrow serde / numpy host speed, and the similarity tier's entries
    are exactly that lane: three independent r14/r15 runs showed sim_*
    entries 1.4-1.6× while the JVM calib read only 1.1-1.2× — this
    probe makes that residual mechanically attributable.  Compared
    against :data:`CALIB_ARROW_REF` (pinned r16 from the r15 healthy
    host) via the published ``calib_arrow_ratio``, clamped like the JVM
    probe."""
    import pandas as pd

    from pyspark.sql import functions as F  # noqa: F401

    def batch_sum(it):
        import numpy as np

        total = 0.0
        for pdf in it:
            v = pdf["id"].to_numpy(dtype="float64")
            total += float(np.sqrt(v + 1.5).sum())
        yield pd.DataFrame({"s": [total]})

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(4_000_000, numPartitions=8)
            .mapInPandas(batch_sum, "s double")
            .agg({"s": "sum"})
            .collect()
        )
        return time.perf_counter() - t0

    return min(once() for _ in range(3))


def prev_round_comparison(
    times: dict[str, float],
    repo_dir: str,
    spread: dict[str, list[float]] | None = None,
) -> dict | None:
    """Mechanical round-over-round comparison (VERDICT r11 #4): load the
    newest USABLE ``BENCH_r*.json`` in the repo (walking past files with
    no parseable query map — VERDICT r14 #2), intersect its per-query
    map with this run's, and publish the common-subset ratio IN the
    JSON — host normalization has misled two rounds running (r10's
    calib was co-load-contaminated, r11's total then read as a phantom
    1.9× regression); the common-set raw ratio is the comparison the
    judge reconstructs by hand anyway, so emit it mechanically.

    Since r14 the ratio carries its own error bar (VERDICT r13 #3: r13
    burned its perf story on an 18% swing that was mostly single-run
    jitter): ``ratio_vs_prev_common_med`` recomputes the ratio on this
    round's per-entry MEDIANS, and every ≥1.25× per-entry regression is
    listed with its own [min, med, max] spread plus a mechanical
    ``within_spread_heuristic`` verdict (the regression magnitude fits
    inside the entry's own observed run-to-run spread →
    jitter-compatible; outside it → a genuine plan change to explain).
    The field is a one-sided HEURISTIC (hence the name, ADVICE r14): the
    previous round's min had its own unpublished spread, so a moderate
    real regression under jittery current runs can still read as
    jitter-compatible."""
    prev_q, prev_name = _load_prev_queries(repo_dir)
    if not prev_q:
        return None
    common = sorted(set(prev_q) & set(times))
    if not common:
        return None
    now_sum = round(sum(times[q] for q in common), 3)
    prev_sum = round(sum(prev_q[q] for q in common), 3)
    out = {
        "prev_bench": prev_name,
        "queries_common_prev": len(common),
        "raw_common_now_sec": now_sum,
        "raw_common_prev_sec": prev_sum,
        "ratio_vs_prev_common": round(now_sum / prev_sum, 3)
        if prev_sum
        else None,
    }
    if spread:
        # lower median — for the 2-run entries len//2 would pick the
        # MAX and inflate the error-bar ratio exactly where samples are
        # fewest; the lower middle is the min there and the true median
        # for the 3-run entries
        med_sum = sum(
            spread[q][(len(spread[q]) - 1) // 2]
            for q in common
            if q in spread
        )
        out["ratio_vs_prev_common_med"] = (
            round(med_sum / prev_sum, 3) if prev_sum else None
        )
        regressions = []
        for q in common:
            if not prev_q[q] or q not in spread:
                continue
            ratio = times[q] / prev_q[q]
            if ratio < 1.25:
                continue
            s = spread[q]
            regressions.append(
                {
                    "query": q,
                    "ratio": round(ratio, 2),
                    "prev_sec": prev_q[q],
                    "now_spread_sec": s,
                    "within_spread_heuristic": ratio
                    <= (s[-1] / s[0] if s[0] else 1),
                }
            )
        regressions.sort(key=lambda r: -r["ratio"])
        out["regressions_1p25x"] = regressions
    return out


#: Keys that stay ON the final stdout line.  Everything else (the
#: per-query maps, spreads, regression list) moves to earlier stdout
#: lines + the DETAIL_FILE artifact.  The driver records only the last
#: ~2000 chars of stdout and parses the LAST line — r14's headline line
#: grew to ~5.4 kB and the front (metric, value, calib) was truncated
#: away, so the driver recorded ``parsed: null`` and the whole round's
#: perf story was lost (VERDICT r14 #1).  Hard budget: final line must
#: stay well under the 2000-char capture window.
FINAL_LINE_KEYS = (
    "metric",
    "value",
    "unit",
    "sf",
    "cpus",
    "n_queries",
    "calib_sec",
    "calib_pre_sec",
    "calib_post_sec",
    "calib_arrow_sec",
    "calib_ref_sec",
    "calib_arrow_ref_sec",
    "calib_arrow_ratio",
    "calib_sched_ms",
    "calib_rejected",
    "calib_arrow_rejected",
    "value_normalized",
    "prev_bench",
    "queries_common_prev",
    "raw_common_now_sec",
    "raw_common_prev_sec",
    "ratio_vs_prev_common",
    "ratio_vs_prev_common_med",
    "regressions_1p25x_count",
    "detail_file",
)

#: Byte budget for the final line — comfortably inside the driver's
#: 2000-char tail capture even with a stray trailing newline or a few
#: extra log bytes after it.
FINAL_LINE_MAX_BYTES = 1500


def render_output(out: dict) -> tuple[list[str], str]:
    """Split the full result doc into (detail stdout lines, final line).

    The FINAL line is the driver's machine-readable record: compact
    scalars only (metric/value/calib/ratios), guaranteed to parse
    standalone and to fit the tail-capture window.  Detail maps are
    emitted as their own earlier JSON lines, each self-identifying via
    ``"bench_detail"`` so nothing ambiguous precedes the headline."""
    final = {k: out[k] for k in FINAL_LINE_KEYS if k in out}
    final["n_queries"] = len(out.get("queries") or {})
    final["regressions_1p25x_count"] = len(out.get("regressions_1p25x") or [])
    final["detail_file"] = out.get("detail_file", DETAIL_FILE)
    detail_lines = [
        json.dumps({"bench_detail": k, k: out[k]})
        for k in (
            "queries",
            "queries_spread",
            "queries_build",
            "regressions_1p25x",
        )
        if k in out
    ]
    final_line = json.dumps(final)
    if len(final_line) > FINAL_LINE_MAX_BYTES:
        # Never let the headline outgrow the capture window again: shed
        # optional keys (largest first) until it fits.  metric/value/
        # calib/ratio fields are tiny; this only triggers if a future
        # field grows pathologically.
        for k in (
            "regressions_1p25x_count",
            "raw_common_prev_sec",
            "raw_common_now_sec",
            "queries_common_prev",
            "calib_arrow_rejected",
            "calib_rejected",
            "prev_bench",
        ):
            final.pop(k, None)
            final_line = json.dumps(final)
            if len(final_line) <= FINAL_LINE_MAX_BYTES:
                break
    return detail_lines, final_line


def write_detail(out: dict, repo_dir: str, cpus: int | None = None) -> str:
    """Persist the FULL result doc (per-query times, spreads, regression
    list, calib bracket) so the next round's comparison can target this
    round even though the driver's BENCH file carries only the compact
    headline.  ``after_bench`` stamps the newest ROUND file
    (``BENCH_r<digits>.json``) existing at run time — i.e. the PREVIOUS
    round — which is how :func:`_load_prev_queries` aligns the detail
    with the BENCH file the driver writes for THIS run afterwards.

    Per-run evidence is never clobbered (VERDICT r16 #5: the driver's
    same-round 8-core scaling run overwrote the 32-core detail and the
    round's per-query comparison was lost):

    * every run additionally writes ``BENCH_DETAIL_c<cpus>.json`` —
      the per-run record, keyed by core count, that a later run at a
      different core count can never touch;
    * the canonical ``DETAIL_FILE`` (the walkback's comparison
      baseline) is only (over)written by a run with ``cpus`` >= the
      canonical's recorded ``cpus`` — the full-core run owns it, a
      subsequent scaling run at fewer cores leaves it intact.  A
      canonical without a ``cpus`` field (pre-r17 format) is always
      replaceable.

    Returns the per-run keyed filename (published as ``detail_file``
    on the final line, so each BENCH_r*.json points at the detail that
    belongs to ITS run)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    prevs = _round_bench_files(repo_dir)
    doc = dict(out)
    doc["after_bench"] = os.path.basename(prevs[-1]) if prevs else None
    doc["cpus"] = cpus

    def _write(name: str) -> None:
        tmp = os.path.join(repo_dir, name + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1)
        os.replace(tmp, os.path.join(repo_dir, name))

    keyed = f"BENCH_DETAIL_c{cpus}.json"
    _write(keyed)
    canonical_cpus = None
    try:
        with open(os.path.join(repo_dir, DETAIL_FILE)) as fh:
            canonical_cpus = json.load(fh).get("cpus")
    except Exception:
        pass
    if not isinstance(canonical_cpus, int) or cpus >= canonical_cpus:
        _write(DETAIL_FILE)
    return keyed


def arrow_attribution(calib_arrow: float) -> dict:
    """Python-lane attribution fields (VERDICT r15 #3), clamped exactly
    like the JVM probe — a broken probe must not publish a bogus
    attribution.  ``calib_arrow_ratio`` > 1 = the Python-worker lane is
    slower than the reference host, which is where sim_* / Arrow-UDF
    entries would sag while pure-JVM plans stay flat."""
    if (
        calib_arrow > 0
        and CALIB_ARROW_REF / 5.0 <= calib_arrow <= CALIB_ARROW_REF * 5.0
    ):
        return {
            "calib_arrow_ratio": round(calib_arrow / CALIB_ARROW_REF, 3)
        }
    return {
        "calib_arrow_rejected": (
            f"calib_arrow_sec {calib_arrow} outside "
            f"[{CALIB_ARROW_REF / 5.0:.3g}, {CALIB_ARROW_REF * 5.0:.3g}]"
            " — arrow ratio not published"
        )
    }


def normalize_total(total: float, calib: float) -> tuple[float, str | None]:
    """Host-normalize the headline total with a sanity clamp (VERDICT
    r10 #8): a broken calibration silently rescaling the whole total is
    the failure mode normalization introduces.  A probe reading more
    than 5× off the reference host is outside the fleet's plausible
    range — treat it as a probe defect, publish the RAW total as
    normalized, and return the rejection note for the JSON.  Documented
    in BASELINE.md §Host-speed calibration."""
    if calib <= 0 or not (CALIB_REF / 5.0 <= calib <= CALIB_REF * 5.0):
        return total, (
            f"calib_sec {calib} outside [{CALIB_REF / 5.0:.3g}, "
            f"{CALIB_REF * 5.0:.3g}] — normalization skipped, "
            "value_normalized = raw"
        )
    return round(total * CALIB_REF / calib, 3), None


def _hfp_day_dir(rows_per_group: int) -> str:
    """Synthesize (once, cached) an HFP day of raw CSV blobs at the
    bench scale — the reference's actual input shape (FIXTURES.md §A:
    3 event groups × n files of headerless 44-column CSV with the full
    garbage/empty/dup value domains)."""
    cache = f"/tmp/hfp_bench_day_{rows_per_group}"
    done = os.path.join(cache, "_DONE")
    if not os.path.exists(done):
        import shutil
        from pathlib import Path

        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests")
        )
        from hfp_fixtures import write_fixture

        shutil.rmtree(cache, ignore_errors=True)
        write_fixture(
            Path(cache), rows_per_group=rows_per_group, n_files=8
        )
        open(done, "w").close()
    return cache


def _lifecycle_landing_dir(spark, sf_dir: str) -> str:
    """Stage (once per process+sf, unmeasured) 4 parquet landing files
    of the bench trajectory slice — the stream source for
    :func:`run_stream_lifecycle`.  Files live in a clean subdir so the
    parquet stream reader sees nothing else."""
    import glob as _glob
    import hashlib
    import shutil

    from pyspark.sql import functions as F

    from hfp_loader_spark.memo import stamp, table_paths

    # the events content stamp joins the cache key: regenerated testdata
    # under the same path must re-stage, not stream the old slice
    events_stamp = stamp(table_paths(sf_dir, "events"))
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{events_stamp}".encode()
    ).hexdigest()[:8]
    cache = f"/tmp/hfp_bench_landing_{key}"
    done = os.path.join(cache, "_DONE")
    files = os.path.join(cache, "files")
    if not os.path.exists(done):
        from hfp_loader_spark.plans.geo_queries import _traj

        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(files)
        tr = _traj(spark, sf_dir).select(
            "vehicle_id", "event_id", "t_us", "lat", "lng"
        )
        for i in range(4):
            stage = os.path.join(cache, f"_stage_{i}")
            (
                tr.where(F.col("vehicle_id") % 4 == i)
                .coalesce(1)
                .write.parquet(stage)
            )
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(files, f"b{i}.parquet"))
            shutil.rmtree(stage)
        open(done, "w").close()
    return files


def run_stream_lifecycle(spark, sf_dir: str) -> float:
    """One measured pass of the position-log streaming lifecycle
    (VERDICT r13 #7): 4 availableNow micro-batches (one landing file
    each) commit O(delta) appends → ``compact_snapshot`` collapses the
    append chain → ``truncate_history`` reclaims old manifests → the
    compacted head serves a per-cell aggregate.  Log + checkpoint are
    fresh per run so every commit does real work; landing files are
    staged once, outside the timer."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hfp_loader_spark.maintenance import compact_snapshot
    from hfp_loader_spark.operators.geo import load_positions
    from hfp_loader_spark.streaming.jobs import stream_ingest_positions
    from hfp_loader_spark.versioned import truncate_history

    landing = _lifecycle_landing_dir(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="hfp_bench_lifecycle_")
    log_root = os.path.join(work, "poslog")
    t0 = time.perf_counter()
    stream_ingest_positions(spark, landing, log_root)
    compact_snapshot(spark, log_root, min_dirs=2)
    truncate_history(spark, log_root, keep_last=1)
    (
        load_positions(spark, log_root)
        .groupBy("cell")
        .count()
        .orderBy(F.desc("count"), "cell")
        .limit(5)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    dt = time.perf_counter() - t0
    shutil.rmtree(work, ignore_errors=True)
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hfp_loader_spark.plans import catalog
    from hfp_loader_spark.session import get_spark

    spark = get_spark(app_name="bench")

    def run(name: str) -> float:
        builder = catalog.REGISTRY[name].builder
        t0 = time.perf_counter()
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warmup: JVM + codegen + parquet footer cache.  The relational plans
    # warm through the flagship; the text tier's regex/higher-order-array
    # codegen is warmed on a 50-doc slice so the measured near-dup number
    # reflects the plan, not first-compile JIT.
    run("q1_pricing_summary")
    from hfp_loader_spark.operators.neardup import minhash_lsh_pairs

    warm_docs = (
        catalog.load_table(spark, sf_dir, "documents").limit(50)
    )
    minhash_lsh_pairs(
        warm_docs, "doc_id", "text", threshold=0.8, reuse_shingles=False
    ).write.format("noop").mode("overwrite").save()

    # ... and the Arrow/Python-worker lane (fork + Arrow serde init),
    # exercised by the mapInPandas entries.
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.similarity import arrow_top_k

    warm_emb = catalog.load_table(spark, sf_dir, "embeddings").limit(50)
    arrow_top_k(
        warm_emb,
        warm_emb.select(F.col("vec_id").alias("query_id"), "embedding").limit(2),
        k=2,
    ).write.format("noop").mode("overwrite").save()

    # Calibrate BEFORE the headline set as well as after, and publish
    # the MIN (VERDICT r11 #4): a co-loaded driver host can contaminate
    # a single probe by 1.4× — inside the 5× clamp — and a contaminated
    # calib silently rescales the whole normalized total (it did, in
    # both directions, across r10/r11).  Two probes bracketing the run
    # make one clean window sufficient.
    calib_pre = round(_calibrate(spark), 3)

    # min-of-3 with published spread (VERDICT r13 #3): single runs
    # measured ±40% run-to-run on identical plans (GC pauses / VM
    # jitter landing on random queries); the minimum is the
    # reproducible cost of the plan itself, and the per-entry
    # [min, med, max] gives the round-over-round ratio its error bar.
    #
    # ``build`` additionally times the entry's FIRST builder() call —
    # pure plan construction for most entries (py4j expression trees;
    # r15 found several entries are 80-95% that), but for entries with
    # one-time per-process work (corpus-stamped index training, cached
    # pair derivation, bounded driver-iteration rounds) it includes
    # that first-call cost too: dedup_duplicate_clusters re-builds in
    # 0.03 s after its 6-7 s first call.  Either way the subsequent 3
    # timed runs measure the steady-state cost — ``times`` keeps the
    # exact r13/r14 semantics (build + execute, min-of-3) — and the
    # map lets a round-over-round swing be attributed mechanically.
    # Detail-only; never on the final line.
    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    build: dict[str, float] = {}
    for name in HEADLINE:
        builder = catalog.REGISTRY[name].builder
        t0 = time.perf_counter()
        builder(spark, sf_dir)
        build[name] = round(time.perf_counter() - t0, 3)
        runs = sorted(round(run(name), 3) for _ in range(3))
        times[name] = runs[0]
        spread[name] = runs

    # End-to-end HFP load (VERDICT r9 #4): the reference's whole-job
    # shape (service/hfpTask.ts:83-145) — CSV blob scan → typed
    # projection → anti-join dedup → VP routing → parquet sink — at the
    # events-table volume of this sf (100k rows ≈ sf0.1).  Fresh sink
    # per run so the dedup anti-join does real work both times.
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else 0.1

    def run_hfp_load() -> float:
        import shutil
        import tempfile

        from hfp_loader_spark.job import hfp_load
        from hfp_loader_spark.sink import ParquetSink

        day = _hfp_day_dir(max(1_000, int(333_333 * sf_val)))
        out = tempfile.mkdtemp(prefix="hfp_bench_sink_")
        t0 = time.perf_counter()
        hfp_load(spark, day, "2021-02-09", ParquetSink(out))
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return dt

    # min-of-3 since r15 (was 2): the day load is the largest, most
    # scheduling-sensitive entry — its spread spans 3.5-6.5 s on one
    # host depending on co-load, and a 2-sample min repeatedly sampled
    # the slow tail.
    hfp_runs = sorted(round(run_hfp_load(), 3) for _ in range(3))
    times["hfp_load_day_e2e"] = hfp_runs[0]
    spread["hfp_load_day_e2e"] = hfp_runs

    # Streaming ingest lifecycle (VERDICT r13 #7): N micro-batch O(delta)
    # appends → compact → truncate → serve, measured — a regression in
    # the O(delta) promise (an append rescanning the log, a compaction
    # rereading history per batch) now moves BENCH, not only tests.
    life_runs = sorted(
        round(run_stream_lifecycle(spark, sf_dir), 3) for _ in range(3)
    )
    times["stream_ingest_lifecycle"] = life_runs[0]
    spread["stream_ingest_lifecycle"] = life_runs

    total = round(sum(times.values()), 3)
    calib_post = round(_calibrate(spark), 3)
    calib_arrow = round(_calibrate_arrow(spark), 3)
    calib_sched = round(_calibrate_sched(spark), 1)
    calib = min(calib_pre, calib_post)
    normalized, rejected = normalize_total(total, calib)
    out = {
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_spread": spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
        "calib_sec": calib,
        "calib_pre_sec": calib_pre,
        "calib_post_sec": calib_post,
        "calib_arrow_sec": calib_arrow,
        "calib_sched_ms": calib_sched,
        "calib_ref_sec": CALIB_REF,
        "calib_arrow_ref_sec": CALIB_ARROW_REF,
        "value_normalized": normalized,
        "queries_build": build,
    }
    out.update(arrow_attribution(calib_arrow))
    if rejected:
        out["calib_rejected"] = rejected
    out["cpus"] = int(
        os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
    )
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # comparison BEFORE write_detail: the on-disk detail file is still
    # the PREVIOUS round's at this point and must be readable as such
    cmp = prev_round_comparison(times, repo_dir, spread)
    if cmp:
        out.update(cmp)
    out["detail_file"] = write_detail(out, repo_dir, out["cpus"])
    detail_lines, final_line = render_output(out)
    for line in detail_lines:
        print(line)
    print(final_line)


if __name__ == "__main__":
    main()
