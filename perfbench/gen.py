"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files, so a run's inputs can be rebuilt
and its expected results cached. Files land under a directory the
caller names (the benchmark's work area), never inside the package or
the engine's own scratch locations.

The tables mirror the layout of the testdata described in TESTDATA.md (a
TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``): same column
names, parquet types, key ranges and value domains, so every engine
query and its DuckDB oracle run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_COLORS = ["blue", "hot", "small", "old", "red", "new", "cold", "green"]
_THINGS = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring",
           "spring"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_DIM = 64
_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding a table never shifts
    the draws of another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _days(rng, n, lo_day, hi_day):
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(_EPOCH_1995 + d * _US_PER_DAY, pa.timestamp("us"))


def _texts(rng, n, dup_share):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    # near-duplicates: another document's text plus one marker word
    dups = rng.choice(n, int(n * dup_share), replace=False)
    srcs = rng.integers(0, n, len(dups))
    for d, s in zip(dups, srcs):
        out[d] = out[s] + " dup"
    return out


def documents_table(rng, n, dup_share=0.05):
    text = _texts(rng, n, dup_share)
    lang = np.where(rng.random(n) < 0.4, 0, rng.integers(1, 5, n))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([_LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings_table(rng, n):
    v = rng.standard_normal((n, _DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events_table(rng, n, n_users):
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(
            [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(
            np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            pa.string()),
    })


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (row counts as in
    TESTDATA.md: 6e6·sf lineitem rows, 1e6·sf events)."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99,
                                                 n_cust), 2)),
        "c_mktsegment": pa.array(
            [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)])})
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99,
                                                 n_supp), 2))})
    r = _rng(seed, "part")
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{_COLORS[a]} {_THINGS[b]}" for a, b in
                            zip(r.integers(0, 8, n_part),
                                r.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             r.integers(1, 26, n_part)]),
        "p_type": pa.array([_PTYPES[i] for i in r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0)})
    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in
                                   r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500_000,
                                                    n_ord), 2)),
        "o_orderdate": _days(r, n_ord, 0, 2404),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in
                                     r.integers(0, 5, n_ord)])})
    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105_000,
                                                       n_li), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in
                                  r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in
                                  r.integers(0, 2, n_li)]),
        "l_shipdate": _days(r, n_li, 1, 2499)})
    t["events"] = events_table(_rng(seed, "events"), n_ev, n_users)
    t["documents"] = documents_table(_rng(seed, "documents"), n_doc)
    t["embeddings"] = embeddings_table(_rng(seed, "embeddings"), n_emb)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    total bytes written."""
    total = 0
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        write_table(tables[name], path)
        total += os.path.getsize(path)
    return total


def _with_text(t: pa.Table, texts: list[str]) -> pa.Table:
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     pa.array(texts, pa.string()))
    return t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                        pa.array([len(x) for x in texts], pa.int64()))


def ingest_plan(seed: int, sf: float, n_batches: int) -> dict:
    """The ``ingest`` workload's inputs, all drawn from ``seed``.

    Embeddings and events are one star-table draw at ``sf``; documents
    are drawn without near-duplicates. A seeded half of each is history
    (loaded into fresh stores at set-up); the other half is dealt into
    ``n_batches`` equal batches. Each batch also re-sends a seeded share
    of items the stores already hold, and its event upserts mix updates
    of held event ids (new ``value``) with inserts of new ones. Every
    batch plants exactly one near-duplicate: one of its new documents
    takes the text of a held, signable document plus a marker word, so
    each batch pairs with the store and folds one merge — the same
    store work whichever documents the seed deals.

    Returns ``{"history": {...}, "batches": [{...}, ...], "params"}``
    where each entry maps ``documents``/``embeddings``/``events`` to a
    pyarrow table.
    """
    base = star_tables(seed, sf)
    base["documents"] = documents_table(
        _rng(seed, "ingest-documents"), base["documents"].num_rows,
        dup_share=0.0)
    r = _rng(seed, "ingest")
    resend = float(r.uniform(0.10, 0.20))
    update_share = float(r.uniform(0.3, 0.5))
    hist, batches = {}, [dict() for _ in range(n_batches)]
    for name in ("documents", "embeddings", "events"):
        t = base[name]
        texts = t["text"].to_pylist() if name == "documents" else None
        perm = r.permutation(t.num_rows)
        half = t.num_rows // 2
        hist[name] = t.take(np.sort(perm[:half]))
        fresh = perm[half:]
        per = len(fresh) // n_batches
        held = np.sort(perm[:half])
        for b in range(n_batches):
            mine = np.sort(fresh[b * per:(b + 1) * per])
            if name == "events":
                # upserts: new events are inserts; re-sent held events
                # are updates carrying a new value
                n_up = int(round(per * update_share))
                up = np.sort(r.choice(held, n_up, replace=False))
                upd = t.take(up)
                vals = np.round(upd["value"].to_numpy()
                                + r.uniform(1, 10, n_up), 2)
                upd = upd.set_column(upd.schema.get_field_index("value"),
                                     "value", pa.array(vals))
                batches[b][name] = pa.concat_tables([upd, t.take(mine)])
            else:
                if texts is not None:
                    # 256 bytes: the shortest payload the image
                    # signature accepts
                    src = r.choice([i for i in held if len(texts[i]) >= 256])
                    texts[int(r.choice(mine))] = texts[src] + " dup"
                    t = _with_text(t, texts)
                n_re = int(round(per * resend))
                re = np.sort(r.choice(held, n_re, replace=False))
                batches[b][name] = t.take(np.concatenate([re, mine]))
            held = np.concatenate([held, mine])
    return {"history": hist, "batches": batches,
            "params": {"resend_share": round(resend, 4),
                       "update_share": round(update_share, 4),
                       "batch_rows": {k: v.num_rows for k, v in
                                      batches[0].items()}}}
