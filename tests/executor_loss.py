"""Every lineage-cut site of the engine, run once on a two-executor
``local-cluster`` with one executor JVM killed right after a cut.

    python tests/executor_loss.py SF_DIR TMP_DIR

prints one JSON line: the answer of each site (the same :data:`SITES`
functions ``tests/test_cut_recovery.py`` runs on its ``local[N]`` session
for the expected answers), the number of executors killed at each site,
and the error of a cut made before any checkpoint directory is set.

It runs in its own process because a process holds one SparkContext, and
the test session's belongs to the ``local[N]`` fixture. Operators are
forced onto their distributed venues (the over-budget regime the cuts
serve). Partition coalescing is off so every cut spans both executors,
and losing one executor loses part of every cut.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ecommerce_etl_pipeline_spark.llmops import classifier  # noqa: E402
from ecommerce_etl_pipeline_spark.operators import caches, graph  # noqa: E402
from ecommerce_etl_pipeline_spark.sources.io import load_table  # noqa: E402
from ecommerce_etl_pipeline_spark.streaming import streams  # noqa: E402

MASTER = "local-cluster[2,1,1024]"
EXECUTORS = 2
UPSERT_TABLE = "t_cut_upsert"


def cut_helper(spark: SparkSession, sf_dir: str, tmp: str) -> int:
    return caches.cut(spark.range(200_000, numPartitions=8)).count()


def gd_distributed(spark: SparkSession, sf_dir: str, tmp: str) -> list[int]:
    docs = load_table(spark, sf_dir, "documents").repartition(8)
    weights, _feats = classifier.train_linear_scorer(docs, iterations=3)
    return weights


def pagerank_distributed(spark: SparkSession, sf_dir: str, tmp: str) -> list[list[int]]:
    # a ring, chords and a dangling sink (node 60)
    edges = [(i, (i + 1) % 60) for i in range(60)]
    edges += [(i, (7 * i + 3) % 60) for i in range(60)] + [(5, 60), (17, 60)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG").repartition(8)
    ranks = graph.pagerank_portable(df, iterations=3)
    return sorted([r["node"], r["rank"]] for r in ranks.collect())


def keyed_upsert(spark: SparkSession, sf_dir: str, tmp: str) -> list[int]:
    """Two keyed ``stream_to_table`` runs: the first creates the table, the
    second upserts into it through the cut."""
    spark.sql(f"DROP TABLE IF EXISTS {UPSERT_TABLE}")
    for name, lo, hi, mod in (("a", 0, 6000, 7), ("b", 3000, 9000, 5)):
        path = os.path.join(tmp, f"upsert_{name}")
        rows = spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % mod).alias("v")
        )
        rows.repartition(4).write.mode("overwrite").parquet(path)
        stream = spark.readStream.schema("k LONG, v LONG").parquet(path)
        streams.stream_to_table(stream, UPSERT_TABLE, keys=["k"])
    row = spark.table(UPSERT_TABLE).selectExpr(
        "count(*) AS n", "sum(k) AS sk", "sum(k * v) AS skv"
    ).first()
    spark.sql(f"DROP TABLE {UPSERT_TABLE}")
    return [row["n"], row["sk"], row["skv"]]


SITES = {
    "cut_helper": cut_helper,
    "gd_distributed": gd_distributed,
    "pagerank_distributed": pagerank_distributed,
    "keyed_upsert": keyed_upsert,
}


def _executor_pids(app_id: str) -> list[int]:
    """PIDs of this application's executor JVMs, matched on the ``java``
    command line (a shell whose command names the class would match a
    plain ``pgrep -f``)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                argv = fh.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if (
            os.path.basename(argv[0]) == "java"
            and "org.apache.spark.executor.CoarseGrainedExecutorBackend" in argv
            and app_id in argv
        ):
            pids.append(int(entry))
    return sorted(pids)


def _wait_for(pred, what: str, timeout_s: float = 120.0) -> None:
    deadline = time.monotonic() + timeout_s
    while not pred():
        if time.monotonic() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def _private_spark_home(tmp: str) -> None:
    """Point ``SPARK_HOME`` at a copy of the install made of symlinks plus
    its own ``work`` dir: local-cluster workers write each application's
    executor logs under ``$SPARK_HOME/work``."""
    from pyspark.find_spark_home import _find_spark_home

    real, home = _find_spark_home(), os.path.join(tmp, "spark-home")
    os.makedirs(os.path.join(home, "work"))
    for entry in os.listdir(real):
        if entry != "work":
            os.symlink(os.path.join(real, entry), os.path.join(home, entry))
    os.environ["SPARK_HOME"] = home


def main(sf_dir: str, tmp: str) -> dict:
    from ecommerce_etl_pipeline_spark.operators import venue
    from ecommerce_etl_pipeline_spark.session import get_spark

    _private_spark_home(tmp)
    # a local-mode heap setting inherited from the caller would size this
    # driver too; get_spark leaves a local-cluster driver at the default
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    spark = get_spark(
        app_name="executor-loss",
        master=MASTER,
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jsc, app_id = spark.sparkContext._jsc, spark.sparkContext.applicationId

    def live() -> int:
        return jsc.sc().getExecutorMemoryStatus().size() - 1  # minus the driver

    _wait_for(lambda: live() == EXECUTORS, "executors to register")
    out: dict = {"answers": {}, "kills": {}}
    try:
        caches.cut(spark.range(10))
        out["no_dir_error"] = None
    except Exception as e:  # noqa: BLE001 - the error is the answer
        out["no_dir_error"] = " ".join(str(e).splitlines()[:2])
    spark.sparkContext.setCheckpointDir(os.path.join(tmp, "checkpoints"))

    venue.driver_rows = lambda df, max_rows, op: None
    cut, kills = caches.cut, []

    def cut_then_kill(df: DataFrame, eager: bool = True) -> DataFrame:
        out_df = cut(df, eager)
        if not kills:
            kills.append(_executor_pids(app_id)[0])
            os.kill(kills[0], signal.SIGKILL)
            _wait_for(lambda: live() == EXECUTORS - 1, "the driver to drop the executor")
        return out_df

    caches.cut = cut_then_kill
    for name, site in SITES.items():
        _wait_for(
            lambda: live() == EXECUTORS and len(_executor_pids(app_id)) == EXECUTORS,
            "a replacement executor",
        )
        kills.clear()
        out["answers"][name] = site(spark, sf_dir, os.path.join(tmp, name))
        out["kills"][name] = len(kills)
    spark.stop()
    return out


if __name__ == "__main__":
    print(json.dumps(main(*sys.argv[1:3])))
