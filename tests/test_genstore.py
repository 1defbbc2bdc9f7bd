"""Crash-injection matrix for the generation-commit protocol
(operators/genstore.py) over every store that commits through it.

Each row drives one store operation and injects a crash by making
``genstore.commit`` or ``genstore.retain`` raise once, the way a dying
writer would stop at that point:

- crash after the data write, before ``_COMMIT``: readers stay on the
  old generation and the retry numbers past the orphan;
- crash after ``_COMMIT``, before ``retain``: the new generation is
  live and the next write cleans up;
- a reader that resolved before a rebuild committed still reads the
  generation it resolved, which the rebuild retained.

Frames stay under 100 rows so the matrix runs in the core pass. Old
on-disk layouts are refused with a rebuild message, and a guard keeps
the format decision inside genstore.py.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from datatools_spark.operators import genstore


class Crash(Exception):
    pass


def _crash_once(monkeypatch, name):
    real = getattr(genstore, name)
    armed = [True]

    def boom(*a, **k):
        if armed[0]:
            armed[0] = False
            raise Crash(name)
        return real(*a, **k)
    monkeypatch.setattr(genstore, name, boom)


def _dirs(path):
    """Generation numbers on disk under ``path``, committed or not."""
    if not os.path.isdir(path):
        return []
    return sorted(int(d[4:]) for d in os.listdir(path)
                  if d.startswith("gen-"))


# ------------------------------------------------------------ store rows
# Each row: setup() makes two committed generations (writes 0 and 1);
# prepare(i) runs unarmed work write i depends on; write(i) is the
# operation under test; live() resolves a reader handle and read_at()
# reads through it; expect(i) is the state after writes 0..i.
# commit_dir/retain_dir are the genstore roots the op commits into and
# prunes, keep the generations retain leaves there.

class Row:
    keep = 2
    numbered = True     # the retry numbers past the orphan

    def __init__(self, spark, path):
        self.spark, self.path = spark, path
        self.commit_dir = self.retain_dir = path

    def setup(self):
        self.prepare(0)
        self.write(0)
        self.prepare(1)
        self.write(1)

    def prepare(self, i):
        pass

    def read(self):
        return self.read_at(self.live())

    def live(self):
        return genstore.resolve(self.spark, self.path)


class SigCompact(Row):
    def _docs(self):
        return self.spark.createDataFrame(
            [(i, f"w{i % 5} shared words {i}") for i in range(30)],
            "doc_id long, text string")

    def setup(self):
        from datatools_spark.operators.sigstore import (
            update_signature_store)
        update_signature_store(self.spark, self._docs(), self.path)
        self.write(1)

    def write(self, i):
        from datatools_spark.operators.sigstore import (
            compact_signature_store)
        compact_signature_store(self.spark, self.path)

    def read_at(self, root):
        return sorted(r[0] for r in self.spark.read.parquet(root)
                      .select("doc_id").collect())

    def expect(self, i):
        return list(range(30))


class IvfBuild(Row):
    def _emb(self, n):
        rnd = random.Random(5)
        rows = [(v, [rnd.uniform(-1, 1) for _ in range(4)])
                for v in range(60)]
        return self.spark.createDataFrame(
            rows[:n], "vec_id long, embedding array<double>")

    def write(self, i):
        from datatools_spark.operators.ivfstore import build_ivf_index
        cents = self._emb(3).select(
            F.col("vec_id").alias("centroid_id"), "embedding")
        build_ivf_index(self.spark, self._emb(20 + 10 * i), cents,
                        self.path)

    def live(self):
        from datatools_spark.operators.ivfstore import _resolve_root
        return _resolve_root(self.spark, self.path)

    def read_at(self, root):
        return sorted(r[0] for r in self.spark.read.parquet(
            f"{root}/data").select("vec_id").collect())

    def expect(self, i):
        return list(range(20 + 10 * i))


class Kmv(Row):
    def _batch(self, i):
        return self.spark.range(20 * i, 20 * i + 30).select(
            (F.col("id") % 2).alias("g"),
            F.concat(F.lit("w"), (F.col("id") % 37).cast("string"))
            .alias("item"))

    def write(self, i):
        from datatools_spark.operators.sketches import update_kmv_store
        update_kmv_store(self.spark, self._batch(i), self.path, ["g"],
                         "item", k=8)

    def read_at(self, root):
        return {r["g"]: r["hs"] for r in self.spark.read.parquet(root)
                .collect()}

    def expect(self, i):
        from functools import reduce

        from datatools_spark.operators.sketches import kmv_sketch
        allb = reduce(lambda a, b: a.unionByName(b),
                      [self._batch(j) for j in range(i + 1)])
        return {r["g"]: r["hs"] for r in
                kmv_sketch(allb, ["g"], "item", k=8).collect()}


class ValueSample(Row):
    def _batch(self, i):
        return self.spark.range(20 * i, 20 * i + 20).select(
            (F.col("id") % 2).alias("g"), F.col("id"),
            ((F.col("id") * 7) % 23).cast("double").alias("v"))

    def write(self, i):
        from datatools_spark.operators.sketches import (
            update_value_sample_store)
        update_value_sample_store(self.spark, self._batch(i), self.path,
                                  ["g"], "id", "v", k=8)

    def read_at(self, root):
        return {r["g"]: r["vs"] for r in self.spark.read.parquet(root)
                .collect()}

    def expect(self, i):
        from datatools_spark.operators.sketches import value_sample_sketch
        allb = self.spark.range(0, 20 * i + 20).select(
            (F.col("id") % 2).alias("g"), F.col("id"),
            ((F.col("id") * 7) % 23).cast("double").alias("v"))
        return {r["g"]: r["vs"] for r in value_sample_sketch(
            allb, ["g"], "id", "v", k=8).collect()}


class Cms(Row):
    def _batch(self, i):
        return self.spark.range(20 * i, 20 * i + 25).select(
            F.concat(F.lit("w"), (F.col("id") % 11).cast("string"))
            .alias("item"))

    def write(self, i):
        from datatools_spark.operators.sketches import update_cms_store
        update_cms_store(self.spark, self._batch(i), self.path, "item", i,
                         width=64)

    def read_at(self, root):
        return {(r["row"], r["bucket"]): r["c"] for r in
                self.spark.read.parquet(f"{root}/sketch").collect()}

    def expect(self, i):
        from functools import reduce

        from datatools_spark.operators.sketches import cms_build
        allb = reduce(lambda a, b: a.unionByName(b),
                      [self._batch(j) for j in range(i + 1)])
        return {(r["row"], r["bucket"]): r["c"]
                for r in cms_build(allb, "item", width=64).collect()}


class MergeInto(Row):
    """merge_into with auto-checkpointing: the data generation commits
    through ``_log``; its post-commit maintenance commits and retires
    checkpoints under ``_ckpt``, which keeps one live."""
    keep = 1

    def __init__(self, spark, path):
        super().__init__(spark, path)
        self.commit_dir = f"{path}/_log"
        self.retain_dir = f"{path}/_ckpt"

    def setup(self):
        from datatools_spark.operators.mergestore import init_merge_store
        init_merge_store(self.spark, self.spark.range(0, 40).select(
            "id", (F.col("id") * 2).alias("v")).coalesce(2),
            self.path, ["id"])
        self.write(1)

    def write(self, i):
        from datatools_spark.operators.mergestore import merge_into
        merge_into(self.spark, self.path, self.spark.createDataFrame(
            [(i, -i)], "id long, v long"), ["id"],
            retain_generations=1)

    def live(self):
        from datatools_spark.operators.mergestore import (
            merge_store_live_files)
        return merge_store_live_files(self.spark, self.path)

    def read_at(self, files):
        return {r["id"]: r["v"] for r in
                self.spark.read.parquet(*files).collect()}

    def expect(self, i):
        want = {k: 2 * k for k in range(40)}
        want.update({j: -j for j in range(1, i + 1)})
        return want


class RollupRefresh(Row):
    """refresh_feed_rollup: the snapshot's number is the merge
    generation it applied through, so a retry after a crash before
    commit rewrites the orphan's number instead of passing it."""
    numbered = False

    def __init__(self, spark, path):
        super().__init__(spark, path)
        self.root = f"{path}_merge"
        self.commit_dir = self.retain_dir = path

    def setup(self):
        from datatools_spark.operators.mergestore import (
            init_feed_rollup, init_merge_store)
        init_merge_store(self.spark, self.spark.range(0, 30).select(
            "id", (F.col("id") % 3).alias("grp"),
            F.col("id").cast("double").alias("v")).coalesce(1),
            self.root, ["id"])
        init_feed_rollup(self.spark, self.root, self.path, ["grp"], "v")
        self.prepare(1)
        self.write(1)

    def prepare(self, i):
        from datatools_spark.operators.mergestore import merge_into
        merge_into(self.spark, self.root, self.spark.createDataFrame(
            [(i, i % 3, 100.0 * i)], "id long, grp long, v double"),
            ["id"], change_feed=True)

    def write(self, i):
        from datatools_spark.operators.mergestore import (
            refresh_feed_rollup)
        refresh_feed_rollup(self.spark, self.root, self.path, ["grp"], "v")

    def read_at(self, root):
        return {r["grp"]: (float(r["s"]), r["n"]) for r in
                self.spark.read.parquet(root).collect()}

    def expect(self, i):
        vals = {k: float(k) for k in range(30)}
        vals.update({j: 100.0 * j for j in range(1, i + 1)})
        out = {}
        for k, v in vals.items():
            s, n = out.get(k % 3, (0.0, 0))
            out[k % 3] = (s + v, n + 1)
        return out


ROWS = {"sig_compaction": SigCompact, "ivf_build": IvfBuild,
        "kmv": Kmv, "value_sample": ValueSample, "cms": Cms,
        "merge_into": MergeInto, "rollup_refresh": RollupRefresh}


@pytest.fixture(params=sorted(ROWS))
def row(request, spark, tmp_path):
    r = ROWS[request.param](spark, str(tmp_path / "store"))
    r.setup()
    return r


def test_crash_before_commit_keeps_readers_on_old_generation(
        row, monkeypatch):
    spark = row.spark
    before = genstore.committed(spark, row.commit_dir)
    row.prepare(2)
    _crash_once(monkeypatch, "commit")
    with pytest.raises(Crash):
        row.write(2)
    orphan = _dirs(row.commit_dir)[-1]
    assert orphan not in genstore.committed(spark, row.commit_dir)
    assert genstore.committed(spark, row.commit_dir) == before
    assert row.read() == row.expect(1)
    row.write(2)                                    # the retry
    now = genstore.committed(spark, row.commit_dir)
    assert now[-1] == (orphan + 1 if row.numbered else orphan)
    assert row.read() == row.expect(2)


def test_crash_before_retain_leaves_new_generation_live(row, monkeypatch):
    spark = row.spark
    row.prepare(2)
    _crash_once(monkeypatch, "retain")
    with pytest.raises(Crash):
        row.write(2)
    assert row.read() == row.expect(2)
    left = genstore.committed(spark, row.retain_dir)
    assert len(left) == row.keep + 1                # nothing pruned yet
    row.prepare(3)
    row.write(3)                                    # cleans up
    kept = genstore.committed(spark, row.retain_dir)
    assert len(kept) == row.keep and kept[-1] > left[-1]
    assert _dirs(row.retain_dir) == kept
    assert row.read() == row.expect(3)


def test_reader_keeps_the_generation_it_resolved(row):
    handle = row.live()
    row.prepare(2)
    row.write(2)
    assert row.read() == row.expect(2)
    assert row.read_at(handle) == row.expect(1)


# ---------------------------------------------- checkpoint cleanup

class _DeleteCrash:
    """A FileSystem that dies right after its first delete of a path
    containing ``marker``: a checkpoint killed part-way through its
    cleanup."""

    def __init__(self, real, marker, armed):
        self.real, self.marker, self.armed = real, marker, armed

    def __getattr__(self, name):
        return getattr(self.real, name)

    def delete(self, p, recursive):
        out = self.real.delete(p, recursive)
        if self.armed[0] and self.marker in str(p):
            self.armed[0] = False
            raise Crash(str(p))
        return out


@pytest.mark.parametrize("marker", ["/part-", "/_log/gen-000001"],
                         ids=["dead_files", "logs"])
def test_checkpoint_crash_mid_cleanup_is_finished_next_time(
        spark, tmp_path, monkeypatch, marker):
    """A checkpoint that dies while reclaiming dead files, or after
    deleting the log that tombstoned a drained data dir, leaves no
    file-less data dir or covered metadata behind once the next
    checkpoint has run."""
    from datatools_spark.operators.mergestore import (
        checkpoint_merge_store, init_merge_store, merge_into,
        read_merge_store)
    root = str(tmp_path / "store")
    init_merge_store(spark, spark.range(0, 20).select(
        "id", (F.col("id") * 2).alias("v")).coalesce(1), root, ["id"])

    def upsert(k):
        merge_into(spark, root, spark.createDataFrame(
            [(k, -k)], "id long, v long"), ["id"])
    for k in (1, 2, 3):
        upsert(k)
    real_fs, armed = genstore.fs, [True]
    monkeypatch.setattr(genstore, "fs", lambda s, p: (
        lambda f, jp: (_DeleteCrash(f, marker, armed), jp))(
            *real_fs(s, p)))
    with pytest.raises(Crash):
        checkpoint_merge_store(spark, root, retain_generations=1)
    monkeypatch.setattr(genstore, "fs", real_fs)
    for k in (4, 5):
        upsert(k)
    res = checkpoint_merge_store(spark, root, retain_generations=1)
    wm = res["watermark"]
    assert wm == 4
    for g in _dirs(root):
        if g <= wm:
            assert any(n.startswith("part-") for n in os.listdir(
                genstore.gen_path(root, g))), f"drained gen {g} leaked"
    for sub in ("_log", "_stats"):
        assert all(g > wm for g in _dirs(f"{root}/{sub}"))
    assert _dirs(f"{root}/_ckpt") == [wm]
    want = {k: 2 * k for k in range(20)}
    want.update({k: -k for k in range(1, 6)})
    assert {r["id"]: r["v"] for r in
            read_merge_store(spark, root).collect()} == want


# ------------------------------------------------------- old layouts

def _old_sig_bare(spark, path):
    spark.range(3).select(F.col("id").alias("doc_id")).write.parquet(path)


def _old_sig_pp(spark, path):
    spark.range(3).select(F.col("id").alias("media_id"),
                          (F.col("id") % 2).cast("int").alias("_pp")) \
        .write.partitionBy("_pp").parquet(path)


def _old_ivf_bare(spark, path):
    spark.range(3).select(F.col("id").alias("vec_id")) \
        .write.parquet(f"{path}/data")


def _old_merge(spark, path):
    # unpadded gen-N dirs; the log committed by Spark's _SUCCESS only
    spark.range(3).select(F.col("id")).write.parquet(f"{path}/gen-0")
    spark.createDataFrame([], "file string").write.parquet(
        f"{path}/_log/gen-0")


def _old_snapshot(prefix):
    def make(spark, path):
        spark.range(1).write.parquet(f"{path}/{prefix}0")
    return make


def _call(name):
    def run(spark, path):
        from datatools_spark.operators import (ivfstore, mergestore,
                                               sigstore, sketches)
        docs = spark.createDataFrame([(9, "a b c")],
                                     "doc_id long, text string")
        items = spark.createDataFrame([("w",)], "item string")
        return {
            "sig_update": lambda: sigstore.update_signature_store(
                spark, docs, path),
            "image_snapshot": lambda: sigstore.snapshot_image_store(
                spark, path),
            "ivf_search": lambda: ivfstore.ivf_index_stats(spark, path),
            "kmv_read": lambda: sketches.read_kmv_store(spark, path),
            "vs_read": lambda: sketches.read_value_sample_store(
                spark, path),
            "cms_update": lambda: sketches.update_cms_store(
                spark, items, path, "item", 0),
            "rollup_read": lambda: mergestore.read_feed_rollup(spark,
                                                               path),
            "merge_read": lambda: mergestore.read_merge_store(spark,
                                                              path),
        }[name]()
    return run


@pytest.mark.parametrize("make,call", [
    (_old_sig_bare, "sig_update"),
    (_old_sig_pp, "image_snapshot"),
    (_old_ivf_bare, "ivf_search"),
    (_old_snapshot("kmv-b"), "kmv_read"),
    (_old_snapshot("vs-b"), "vs_read"),
    (_old_snapshot("cms-b"), "cms_update"),
    (_old_snapshot("rollup-g"), "rollup_read"),
    (_old_merge, "merge_read"),
], ids=["bare_table", "hive_pp", "bare_data", "kmv_b", "vs_b", "cms_b",
        "rollup_g", "merge_gen"])
def test_old_layout_is_refused(spark, tmp_path, make, call):
    path = str(tmp_path / "old")
    make(spark, path)
    with pytest.raises(ValueError, match="rebuild") as exc:
        _call(call)(spark, path)
    assert path in str(exc.value)


def test_generation_format_lives_only_in_genstore():
    here = os.path.dirname(__file__)
    ops = os.path.join(here, "..", "datatools_spark", "operators")
    for mod in ("sigstore", "ivfstore", "sketches", "mergestore"):
        with open(os.path.join(ops, f"{mod}.py")) as f:
            src = f.read()
        for token in ("_SUCCESS", "_COMMIT", "listStatus(",
                      "getFileSystem("):
            assert token not in src, f"{mod}.py spells {token!r}"
