"""Fixed cost of a Python Spark job: warm medians on ``local[N]``.

Times three trivial jobs on a session from ``session.get_spark``:

- ``jvm``: ``spark.range(4, numPartitions=1).collect()``, no Python task;
- ``arrow_1p``: an identity ``mapInArrow`` over 1 partition;
- ``arrow_4p``: the same over 4 partitions;

and prints one JSON line with each median (ms) and the Python jobs'
excess over the JVM job, the per-job floor every ``mapInArrow`` /
``mapInPandas`` / UDF call of the package pays before its body runs.
The first ``--warm`` runs of each job are not counted (worker start,
JIT). Usage:

  python tools/python_job_floor.py [--cores 4] [--reps 15] [--warm 3]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _identity(batches):
    yield from batches


def _median_ms(fn, reps: int, warm: int) -> float:
    for _ in range(warm):
        fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1e3)
    return round(statistics.median(times), 1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--warm", type=int, default=3)
    args = ap.parse_args()

    from cyborgdb_encrypted_vector_search_spark.session import get_spark

    spark = get_spark(
        app_name="python-job-floor", master=f"local[{args.cores}]", shuffle_partitions=4
    )
    jobs = {
        "jvm": lambda: spark.range(0, 4, 1, 1).collect(),
        "arrow_1p": lambda: spark.range(0, 4, 1, 1).mapInArrow(_identity, "id long").collect(),
        "arrow_4p": lambda: spark.range(0, 4, 1, 4).mapInArrow(_identity, "id long").collect(),
    }
    out = {"cores": args.cores, "reps": args.reps, "worker_module": spark.conf.get(
        "spark.python.worker.module", None)}
    for name, fn in jobs.items():
        out[f"{name}_ms"] = _median_ms(fn, args.reps, args.warm)
    for name in ("arrow_1p", "arrow_4p"):
        out[f"{name}_over_jvm_ms"] = round(out[f"{name}_ms"] - out["jvm_ms"], 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
