"""Seeded benchmark inputs, cached on disk under a key with a completion marker.

Three input kinds, each a pure function of ``(seed, size)``:

- an HFP day: the CSV blob tree of ``tests/hfp_fixtures.write_fixture``;
- a catalog corpus: the ten parquet tables the query catalog reads, with
  the column types and value domains of the TPC-H-like test data;
- position landing files: four parquet micro-batches for the stream
  lifecycle.

A cache entry is published by writing ``_DONE`` last, so an interrupted
generation is regenerated instead of served half-written.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
from pathlib import Path

HFP_DATE = "2021-02-09"

#: Near-duplicate documents carry this suffix (the test data's convention).
DUP_SUFFIX = " dup"

_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge"
    " order vector line table data agg value key stream window spark part"
    " group big sort query fast"
).split()


def cached(cache_root: Path, kind: str, key: dict, build) -> Path:
    """Return ``cache_root/<kind>-<key>``; call ``build(dir)`` on a miss."""
    name = kind + "-" + "-".join(f"{k}{v}" for k, v in sorted(key.items()))
    out = cache_root / name
    if (out / "_DONE").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    meta = build(out)
    (out / "_META.json").write_text(json.dumps(meta, sort_keys=True))
    (out / "_DONE").write_text("")
    return out


def read_meta(path: Path) -> dict:
    return json.loads((path / "_META.json").read_text())


def hfp_day(cache_root: Path, seed: int, rows_per_group: int, blobs: int) -> Path:
    """One synthetic HFP day; ``_META.json`` holds the expected per-table
    inserts of a fresh load, derived as the golden ETL test derives them."""
    from tests.hfp_fixtures import write_fixture
    from tests.test_etl_golden import expected_counts

    def build(out: Path) -> dict:
        rows = write_fixture(
            out,
            date=HFP_DATE,
            rows_per_group=rows_per_group,
            n_files=blobs,
            seed=seed,
        )
        csv_bytes = sum(p.stat().st_size for p in (out / "csv").rglob("*.csv"))
        return {
            "expected": expected_counts(rows),
            "input_rows": sum(len(r) for r in rows.values()),
            "input_bytes": csv_bytes,
        }

    return cached(
        cache_root,
        "hfp",
        {"s": seed, "r": rows_per_group, "b": blobs},
        build,
    )


def _write_parquet(out: Path, name: str, columns: dict, schema) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns, schema=schema)
    pq.write_table(table, out / f"{name}.parquet")
    return table.num_rows


def catalog_corpus(cache_root: Path, seed: int, scale: int) -> Path:
    """The catalog's ten tables at ``scale`` thousand lineitem rows.

    Row ratios, key ranges and value domains follow the test data's
    TPC-H-like generator: 4 lineitems per order, 10 orders per customer,
    documents with ~5% near-duplicates, unit-norm 64-d embeddings with a
    faint per-label centre.  The schemas equal the test data's.
    """
    import numpy as np
    import pyarrow as pa

    def build(out: Path) -> dict:
        rng = np.random.default_rng(seed)
        n_line = scale * 1000
        n_ord, n_cust, n_part = n_line // 4, n_line // 40, n_line // 30
        n_supp, n_ev = max(10, n_line // 600), n_line // 6
        n_doc = n_emb = 500
        i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
        ts = pa.timestamp("us")
        rows = {}

        def put(name, cols, fields):
            rows[name] = _write_parquet(out, name, cols, pa.schema(fields))

        put(
            "region",
            {"r_regionkey": np.arange(5, dtype=np.int32),
             "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
            [("r_regionkey", i32), ("r_name", pa.string())],
        )
        put(
            "nation",
            {"n_nationkey": np.arange(25, dtype=np.int32),
             "n_name": [f"NATION_{i}" for i in range(25)],
             "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
            [("n_nationkey", i32), ("n_name", pa.string()), ("n_regionkey", i32)],
        )
        segments = np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )
        put(
            "customer",
            {"c_custkey": np.arange(n_cust, dtype=np.int64),
             "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
             "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
             "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
             "c_mktsegment": segments[rng.integers(0, 5, n_cust)]},
            [("c_custkey", i64), ("c_name", pa.string()), ("c_nationkey", i32),
             ("c_acctbal", f64), ("c_mktsegment", pa.string())],
        )
        put(
            "supplier",
            {"s_suppkey": np.arange(n_supp, dtype=np.int64),
             "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
             "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
             "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
            [("s_suppkey", i64), ("s_name", pa.string()), ("s_nationkey", i32),
             ("s_acctbal", f64)],
        )
        adjectives = ["small", "red", "blue", "hot", "green", "big", "cold", "dark"]
        nouns = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
        types = np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"])
        put(
            "part",
            {"p_partkey": np.arange(n_part, dtype=np.int64),
             "p_name": [
                 f"{adjectives[a]} {nouns[b]}"
                 for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
             ],
             "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
             "p_type": types[rng.integers(0, 6, n_part)],
             "p_size": rng.integers(1, 51, n_part).astype(np.int32),
             "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
            [("p_partkey", i64), ("p_name", pa.string()), ("p_brand", pa.string()),
             ("p_type", pa.string()), ("p_size", i32), ("p_retailprice", f64)],
        )
        day0 = np.datetime64("1995-01-01", "us")
        day_us = 86_400_000_000
        put(
            "orders",
            {"o_orderkey": np.arange(n_ord, dtype=np.int64),
             "o_custkey": rng.integers(0, n_cust, n_ord),
             "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
             "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
             "o_orderdate": day0 + rng.integers(0, 2400, n_ord) * day_us,
             "o_orderpriority": np.array(
                 ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
             )[rng.integers(0, 5, n_ord)]},
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", pa.string()),
             ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", pa.string())],
        )
        qty = rng.integers(1, 51, n_line).astype(np.float64)
        put(
            "lineitem",
            {"l_orderkey": rng.integers(0, n_ord, n_line),
             "l_partkey": rng.integers(0, n_part, n_line),
             "l_suppkey": rng.integers(0, n_supp, n_line),
             "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
             "l_quantity": qty,
             "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
             "l_discount": rng.integers(0, 11, n_line) / 100.0,
             "l_tax": rng.integers(0, 9, n_line) / 100.0,
             "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
             "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
             "l_shipdate": day0 + rng.integers(1, 2500, n_line) * day_us},
            [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
             ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
             ("l_discount", f64), ("l_tax", f64), ("l_returnflag", pa.string()),
             ("l_linestatus", pa.string()), ("l_shipdate", ts)],
        )
        ev0 = np.datetime64("2024-01-01", "us")
        ev_ts = np.sort(ev0 + rng.integers(0, 30 * day_us, n_ev))
        put(
            "events",
            {"event_id": np.arange(n_ev, dtype=np.int64),
             "ts": ev_ts,
             "user_id": rng.integers(0, 150, n_ev),
             "event_type": np.array(
                 ["signup", "error", "click", "view", "purchase"]
             )[rng.integers(0, 5, n_ev)],
             "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
             "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]},
            [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", pa.string()),
             ("value", f64), ("props", pa.string())],
        )
        texts = []
        for i in range(n_doc):
            if i > 10 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + DUP_SUFFIX)
            else:
                n = int(rng.integers(10, 100))
                texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
        put(
            "documents",
            {"doc_id": np.arange(n_doc, dtype=np.int64),
             "text": texts,
             "lang": np.array(["en", "en", "en", "zh", "es", "de", "fr"])[
                 rng.integers(0, 7, n_doc)
             ],
             "source": [f"src{i % 20}" for i in range(n_doc)],
             "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
            [("doc_id", i64), ("text", pa.string()), ("lang", pa.string()),
             ("source", pa.string()), ("n_chars", i64)],
        )
        # A faint per-label centre: same-label cosine about 0.02, as in the
        # test data, so k-means sees the same weak cluster structure.
        label = rng.integers(0, 10, n_emb)
        centres = rng.normal(size=(10, 64))
        centres /= np.linalg.norm(centres, axis=1, keepdims=True)
        emb = (rng.normal(size=(n_emb, 64)) + 1.17 * centres[label]).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        put(
            "embeddings",
            {"vec_id": np.arange(n_emb, dtype=np.int64),
             "embedding": [row.tolist() for row in emb],
             "label": label.astype(np.int32)},
            [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
        )
        return {"rows": rows, "input_rows": sum(rows.values())}

    return cached(cache_root, "corpus", {"s": seed, "k": scale}, build)


def landing_files(cache_root: Path, seed: int, rows_per_batch: int, batches: int) -> Path:
    """Position micro-batches ``files/b<i>.parquet`` for the stream lifecycle.

    Vehicles move on a random walk around Helsinki, so the 20-cells-per-
    degree grid of ``stream_ingest_positions`` sees a skewed cell histogram.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(out: Path) -> dict:
        rng = np.random.default_rng(seed)
        files = out / "files"
        files.mkdir()
        schema = pa.schema(
            [("vehicle_id", pa.int64()), ("event_id", pa.int64()),
             ("t_us", pa.int64()), ("lat", pa.float64()), ("lng", pa.float64())]
        )
        t0 = int(datetime.datetime(2021, 2, 9, tzinfo=datetime.timezone.utc).timestamp() * 1e6)
        for b in range(batches):
            n = rows_per_batch
            vehicle = rng.integers(0, 200, n)
            lat = 60.17 + np.cumsum(rng.normal(0, 0.01, n)) % 0.4
            lng = 24.94 + np.cumsum(rng.normal(0, 0.02, n)) % 0.8
            pq.write_table(
                pa.table(
                    {"vehicle_id": vehicle,
                     "event_id": np.arange(b * n, (b + 1) * n, dtype=np.int64),
                     "t_us": t0 + np.sort(rng.integers(0, 86_400_000_000, n)),
                     "lat": np.round(lat, 6),
                     "lng": np.round(lng, 6)},
                    schema=schema,
                ),
                files / f"b{b}.parquet",
            )
        input_bytes = sum(p.stat().st_size for p in files.iterdir())
        return {"input_rows": rows_per_batch * batches, "input_bytes": input_bytes}

    return cached(
        cache_root, "landing", {"s": seed, "r": rows_per_batch, "b": batches}, build
    )


def derive_seed(seed: int, salt: str) -> int:
    """Independent sub-seed per input kind (stable across Python runs)."""
    return random.Random(f"{seed}:{salt}").getrandbits(31)


def dir_bytes(path: str | os.PathLike) -> tuple[int, int]:
    """(total bytes, parquet file count) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files
