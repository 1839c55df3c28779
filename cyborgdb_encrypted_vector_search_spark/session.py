"""SparkSession factory with scale-appropriate defaults.

The reference initializes its "session" via side-effectful imports
(model load + collection creation at import time, reference
src/embeddings.py:3, src/chromadb_store.py:3-4). Here session init is
explicit, and the defaults are chosen for a real cluster:

- AQE on (runtime re-plan, skew-join handling, partition coalescing).
- Arrow enabled for every pandas interchange (the embed/mutate UDF path).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Shuffle partitions sized by caller (32 for local bench; a cluster
  deployment would size this to ~2-3x total cores).
- On ``local[...]`` masters the Python workers start through
  ``workerpath/pyspark_zipcache_worker.py``, which stops every task
  re-reading every zip directory on the worker's path (~150 ms a task
  on CPython 3.11); other masters are left alone, since their workers'
  paths are not this driver's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workerpath")
WORKER_MODULE = "pyspark_zipcache_worker"


def _worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The Python worker settings for ``master``, merged with the caller's.

    Only ``local[...]`` masters get them: there the workers run on this
    host and can import from this package's directory. A caller's
    ``spark.python.worker.module`` wins; its
    ``spark.executorEnv.PYTHONPATH`` is kept behind this directory.
    """
    if not master.startswith("local"):
        return {}
    path_key = "spark.executorEnv.PYTHONPATH"
    caller_path = extra_conf.get(path_key)
    return {
        "spark.python.worker.module": extra_conf.get(
            "spark.python.worker.module", WORKER_MODULE
        ),
        path_key: os.pathsep.join(p for p in (WORKER_DIR, caller_path) if p),
    }


def get_spark(
    app_name: str = "cyborgdb-encrypted-vector-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes coalesced reads by SHUFFLE BYTES and cannot see a
        # downstream operator's fan-out or per-row CPU, so a small
        # shuffle that feeds CPU-dense work can collapse to ONE
        # post-shuffle partition and serialize its stage on one core.
        # 64k keeps such shuffles parallel; at real data scale
        # partitions dwarf the floor and the setting is inert. Without
        # it, curate_attack (whose dedup.lsh_candidate_pairs shuffle is
        # such a stage) lost 1.1 % throughput and 1.0 % p50 latency in
        # the median of 6 alternated perfbench seeds (local[4]).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled-hash-join preference was A/B'd in r12
        # (preferSortMergeJoin=false + adaptive
        # maxShuffledHashJoinLocalMapThreshold=128m, guide §3.1/§9) and
        # REJECTED: the dup-key banded self-joins of the dedup family
        # degraded multi-fold (dedup_simhash_groups 2.3 -> 10.5s, minhash/
        # substring/streaming-dedup 1.5-3x) — SHJ builds per-partition
        # multi-maps over heavily duplicated band keys where SMJ merges
        # sorted runs. Engine-wide the defaults win.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Small local driver UIs are useless in CI and cost startup time.
        .config("spark.ui.enabled", "false")
        # Console progress bars write carriage-return frames that can
        # interleave with (and corrupt) machine-read stdout (a JSON result
        # line then fails to parse). Progress belongs in the UI/logs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    conf.update(_worker_conf(master, conf))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
