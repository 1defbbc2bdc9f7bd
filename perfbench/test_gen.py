"""Generator determinism: the same seed writes byte-identical inputs, and
another seed deals a different batch split.

    python -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os

from perfbench import gen


def _ingest_files(seed: int, out: str) -> dict[str, bytes]:
    plan = gen.ingest_plan(seed, 0.001, 4)
    parts = [("history", plan["history"])] + [
        (f"batch-{k}", b) for k, b in enumerate(plan["batches"])]
    files = {}
    for part, tables in parts:
        for name, table in tables.items():
            path = os.path.join(out, part, f"{name}.parquet")
            gen.write_table(table, path)
            with open(path, "rb") as f:
                files[f"{part}/{name}"] = f.read()
    return files


def _star_files(seed: int, out: str) -> dict[str, bytes]:
    gen.write_tables(gen.star_tables(seed, 0.001), out)
    files = {}
    for t in gen.TABLES:
        with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
            files[t] = f.read()
    return files


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _star_files(7, str(tmp_path / "a"))
    b = _star_files(7, str(tmp_path / "b"))
    assert a == b
    a = _ingest_files(7, str(tmp_path / "ia"))
    b = _ingest_files(7, str(tmp_path / "ib"))
    assert a == b


def test_other_seed_gives_other_batch_split():
    def split(seed):
        plan = gen.ingest_plan(seed, 0.001, 4)
        return [sorted(b["documents"]["doc_id"].to_pylist())
                for b in plan["batches"]]
    assert split(7) != split(8)
    # and other data, not only another deal of the same rows
    a = gen.star_tables(7, 0.001)["documents"]["text"].to_pylist()
    b = gen.star_tables(8, 0.001)["documents"]["text"].to_pylist()
    assert a != b

