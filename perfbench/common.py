"""Session handling, the forcing action and the oracle cache shared by
the benchmark workloads."""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import tempfile
import time

CORES = 4
DRIVER_MEM = "2g"


def configure_env(work: str) -> None:
    """Point every temporary location of this process, the JVM it
    launches and the Python workers at ``work``, and pin the core count.
    Must run before pyspark launches its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the short-lived JVM that spark-submit starts to build the driver's
    # command line; the driver JVM gets the same through spark_conf
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = tmp


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        # counters are read from the status store after the measured
        # region; keep every job and stage of a run in it
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(work: str):
    """``get_spark`` (session start plus package shipping), timed."""
    from datatools_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warmup(spark) -> float:
    """A small generic query through the paths every op takes (aggregate
    and join shuffles, a window, code generation), so the first op of a
    session does not also pay the engine's own start-up. Touches no
    workload input. Timed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    rows = spark.range(20_000).select((F.col("id") % 97).alias("k"),
                                      F.col("id").alias("v"))
    sums = rows.groupBy("k").agg(F.sum("v").alias("s"))
    df = (rows.join(sums, "k")
          .withColumn("r", F.row_number().over(
              Window.partitionBy("k").orderBy("v"))))
    forced_frame(df).collect()
    return time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for
    the JVM (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def forced_frame(df):
    """The full-column forcing aggregate of ``bench.py:force_value``:
    xxhash64 over every output column (maps serialized to JSON first),
    folded with bit_xor into one row."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType
    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in df.schema.fields]
    return df.select(F.xxhash64(*cols).alias("_h")).agg(F.bit_xor("_h"))


def force(tracer, df):
    """Plan (timed as the catalyst layer) and run the forcing aggregate;
    returns its single value."""
    with tracer.span("catalyst.plan"):
        fdf = forced_frame(df)
        fdf._jdf.queryExecution().executedPlan()
    with tracer.span("action"):
        return fdf.collect()[0][0]


def files_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class _Result:
    def __init__(self, names, rows):
        self.description = [(n,) for n in names]
        self._rows = rows

    def fetchall(self):
        return self._rows


class OracleCache:
    """Stands in for the DuckDB connection that
    ``tests/oracle_harness.compare`` executes the oracle SQL on: results
    are cached on disk per (input bytes, SQL), so a seed's expected
    results are computed once. ``connect`` opens the real connection on
    the first miss."""

    def __init__(self, cache_dir: str, data_key: str, connect):
        self.dir = cache_dir
        self.key = data_key
        self._connect = connect
        self._con = None
        self.misses = 0
        os.makedirs(cache_dir, exist_ok=True)

    def execute(self, sql: str) -> _Result:
        k = hashlib.sha256((self.key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.dir, f"{k}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                names, rows = pickle.load(f)
            return _Result(names, rows)
        self.misses += 1
        if self._con is None:
            self._con = self._connect()
        res = self._con.execute(sql)
        names = [d[0] for d in res.description]
        rows = res.fetchall()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump((names, rows), f)
        os.replace(tmp, path)
        return _Result(names, rows)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes of every regular file, number of parquet data files) under
    ``path``."""
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
            n += f.endswith(".parquet")
    return total, n
