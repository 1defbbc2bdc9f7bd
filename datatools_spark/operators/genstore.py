"""The one on-disk generation format every snapshot store commits through.

A store root holds numbered generation dirs ``gen-NNNNNN``. A generation
becomes visible to readers only when its ``_COMMIT`` marker exists, and
writers create the marker after every table of the generation has landed.
A crash at any point therefore leaves readers on the previous committed
generation, and the half-written dir stays an invisible orphan. The next
write numbers past every existing dir, orphans included, so it never
writes into a crashed writer's leftovers.

The protocol is five functions with no options:

- :func:`committed` lists the committed generation numbers;
- :func:`resolve` returns the live (newest committed) dir, or ``None``
  for a new store;
- :func:`next_gen` numbers the next generation;
- :func:`commit` writes the marker;
- :func:`retain` keeps the newest two committed generations and deletes
  every older dir. The previous generation survives one more commit, so
  a reader that resolved it just before a new commit still finds it.

A root that holds data but no committed generation was written in a
layout that predates this format (a bare table, hive ``_pp=*`` dirs,
bare ``data/``, ``kmv-b*``/``vs-b*``/``cms-b*``/``rollup-g*`` snapshots).
:func:`committed` refuses it instead of reading it as empty.

Stores are single-writer. Every call here is a driver-side filesystem
operation; none runs a Spark job. :func:`fs`, :func:`gen_path` and
:func:`data_files` are the filesystem helpers the stores share.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["committed", "resolve", "next_gen", "commit", "retain",
           "fs", "gen_path", "data_files"]

_PREFIX = "gen-"
_MARKER = "_COMMIT"


def fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``."""
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def gen_path(path: str, n: int) -> str:
    """Directory of generation ``n`` under the store root ``path``."""
    return f"{path}/{_PREFIX}{n:06d}"


def data_files(spark: SparkSession, path: str) -> list[str]:
    """Sorted data files directly inside ``path`` (names not starting
    with ``_`` or ``.``); empty when ``path`` does not exist."""
    f, jp = fs(spark, path)
    if not f.exists(jp):
        return []
    return sorted(str(st.getPath()) for st in f.listStatus(jp)
                  if st.isFile() and not st.getPath().getName()
                  .startswith(("_", ".")))


def _scan(spark: SparkSession, path: str):
    """One listing of ``path``: every generation number on disk, the
    committed ones, and the first entry that is not a generation but
    holds data (hidden ``_``/``.`` names are metadata, except hive
    partition dirs like ``_pp=3``)."""
    f, jp = fs(spark, path)
    if not f.exists(jp):
        return [], [], None
    gens, done, foreign = [], [], None
    for st in f.listStatus(jp):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(_PREFIX):
            try:
                n = int(name[len(_PREFIX):])
            except ValueError:
                continue    # foreign gen-* dirs (gen-4.bak): not ours
            gens.append(n)
            if f.exists(spark._jvm.org.apache.hadoop.fs.Path(
                    f"{path}/{name}/{_MARKER}")):
                done.append(n)
        elif foreign is None and (not name.startswith(("_", "."))
                                  or "=" in name):
            foreign = name
    return sorted(gens), sorted(done), foreign


def committed(spark: SparkSession, path: str) -> list[int]:
    """Committed generation numbers under ``path``, oldest first. Raises
    ``ValueError`` for a root holding data in a pre-generation layout."""
    _, done, foreign = _scan(spark, path)
    if not done and foreign is not None:
        raise ValueError(
            f"store at {path} holds {foreign!r} but no committed "
            f"{_PREFIX}* generation — it was written in an older layout "
            "this version no longer reads; rebuild the store")
    return done


def resolve(spark: SparkSession, path: str) -> str | None:
    """Directory of the newest committed generation, or ``None`` when
    the store has none yet."""
    done = committed(spark, path)
    return gen_path(path, done[-1]) if done else None


def next_gen(spark: SparkSession, path: str) -> int:
    """The number after every existing generation dir, committed or
    orphaned (0 for a new store)."""
    gens, _, _ = _scan(spark, path)
    return gens[-1] + 1 if gens else 0


def commit(spark: SparkSession, path: str, n: int) -> None:
    """Make generation ``n`` visible: write its marker. Call only after
    every table of the generation has been written."""
    f, _ = fs(spark, path)
    f.create(spark._jvm.org.apache.hadoop.fs.Path(
        f"{gen_path(path, n)}/{_MARKER}")).close()


def retain(spark: SparkSession, path: str) -> None:
    """Keep the newest two committed generations; delete every dir
    numbered below them, crash orphans included."""
    gens, done, _ = _scan(spark, path)
    if not done:
        return
    floor = done[-2] if len(done) > 1 else done[-1]
    f, _ = fs(spark, path)
    for g in gens:
        if g < floor:
            f.delete(spark._jvm.org.apache.hadoop.fs.Path(
                gen_path(path, g)), True)
