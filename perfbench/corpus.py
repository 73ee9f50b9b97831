"""Seeded generators for the benchmark's inputs.

`write_corpus` writes the ten catalog tables (the TPC-H-like star schema
plus `events`, `documents` and `embeddings`) with the column names,
types and value domains the operator modules and their DuckDB oracles
read. Each table is one parquet file holding one row group, the layout
the operators are tuned for. `audit_backlog` writes the DataReport
input: auditLog JSON lines, one file per micro-batch, with a fixed
share of out-of-order and late rows.

Every value is drawn from `numpy.random.default_rng(seed)`, so the same
seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
EMBED_DIM = 64
# the catalog tables' scale factor: TPC-H SF-1 row counts times SF, with
# floors where a table would come out too small for its operators
SF = 0.01


def _day_stamps(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, pool, n, p=None):
    return np.asarray(pool, dtype=object)[rng.choice(len(pool), n, p=p)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(_pick(rng, WORDS, k)))
    # about one document in twenty is a near-duplicate of another one
    for i in rng.choice(n, max(1, n // 20), replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return texts


def _embeddings(rng, n, labels):
    centers = rng.normal(size=(10, EMBED_DIM))
    v = centers[labels] * 0.15 + rng.normal(size=(n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables at scale factor `SF` into `out_dir`; return
    the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(10, int(150_000 * SF)), max(5, int(10_000 * SF))
    n_part, n_ord = max(20, int(200_000 * SF)), max(100, int(1_500_000 * SF))
    n_line, n_ev = max(400, int(6_000_000 * SF)), max(100, int(1_000_000 * SF))
    n_doc, n_emb = max(500, int(50_000 * SF)), max(500, int(20_000 * SF))
    n_users = max(10, int(15_000 * SF))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _day_stamps(rng, n_line, "1995-01-02", 2498),
    })
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    vecs = _embeddings(rng, n_emb, labels)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


AUDIT_TYPES = ["shelf", "unshelf", "black", "chlid_shelf", "child_unshelf"]
AUDIT_AREAS = ["AREA_US", "AREA_CT", "AREA_AR", "AREA_IN", "AREA_ID"]
AUDIT_T0 = 1_514_800_800  # 2018-01-01 10:00:00 UTC, the reference's sample day
WINDOW_S, WATERMARK_S, DISORDER_S = 30, 40, 30
DISORDER_SHARE = 0.1  # rows moved back by 1..DISORDER_S seconds
LATE_SHARE = 0.05  # rows beyond the watermark, from the third file on


@dataclass
class Backlog:
    files: list[str]
    rows: int
    late_per_file: list[int]
    on_time: list[str]  # the JSON lines Spark must aggregate

    @property
    def late(self) -> int:
        return sum(self.late_per_file)


def _audit_line(ts: int, typ: str, area: str, user: int) -> str:
    dt = np.datetime_as_string(np.datetime64(ts, "s")).replace("T", " ")
    return json.dumps({"dt": dt, "type": typ, "username": f"shenhe{user}", "area": area})


def audit_backlog(out_dir: str, n_files: int, rows_per_file: int, seed: int) -> Backlog:
    """Write `n_files` auditLog JSON files of `rows_per_file` lines each.

    File i covers event times [T0 + 30 i, T0 + 30 (i + 1)). A
    `DISORDER_SHARE` of its rows is moved back by 1..30 s, which stays
    inside the 40 s watermark. From file 2 on, a `LATE_SHARE` of its rows
    is late: each sits in a window of its own that ends at least 30 s
    before the watermark batch i-1 set, so Spark drops every one of them
    and counts each once in `numRowsDroppedByWatermark`. The file
    mtimes rise one second per file, which fixes the trigger order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    files, on_time, late, max_ts = [], [], [], []
    for i in range(n_files):
        start = AUDIT_T0 + WINDOW_S * i
        ts = np.sort(start + rng.integers(0, WINDOW_S, rows_per_file))
        moved = rng.random(rows_per_file) < DISORDER_SHARE
        ts = np.where(moved, ts - rng.integers(1, DISORDER_S + 1, rows_per_file), ts)
        n_late = int(round(rows_per_file * LATE_SHARE)) if i >= 2 else 0
        # the late-event watermark of batch i is batch i-1's: max event
        # time of files 0..i-2 minus 40 s; every late window ends below it
        if n_late:
            bound = max_ts[i - 2] - WATERMARK_S
            last_start = (bound - 2 * WINDOW_S) // WINDOW_S * WINDOW_S
            starts = last_start - WINDOW_S * np.arange(n_late)
            ts[:n_late] = starts + rng.integers(0, WINDOW_S, n_late)
        max_ts.append(max(int(ts.max()), max_ts[-1] if max_ts else 0))
        types = _pick(rng, AUDIT_TYPES, rows_per_file)
        areas = _pick(rng, AUDIT_AREAS, rows_per_file)
        users = rng.integers(1, 6, rows_per_file)
        lines = [_audit_line(int(t), ty, ar, int(u))
                 for t, ty, ar, u in zip(ts, types, areas, users)]
        on_time += lines[n_late:]
        late.append(n_late)
        order = rng.permutation(rows_per_file)
        path = os.path.join(out_dir, f"audit-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines[j] for j in order) + "\n")
        os.utime(path, (AUDIT_T0 + i, AUDIT_T0 + i))
        files.append(path)
    return Backlog(files, n_files * rows_per_file, late, on_time)
