"""Run every catalog entry under a PLAIN SparkSession.

A caller of ``__spark_entry__`` may build its own
``SparkSession.builder.getOrCreate()`` with none of our factory confs —
exactly the environment that produced every round-1 failure (events.ts
surfacing as TIMESTAMP_NTZ instead of the factory's long-nanos shape).
This script is that environment: no
timezone conf, no shuffle sizing, no Arrow flag. Each query runs with
``limit(5).collect()`` — enough to force full analysis + execution of
the plan (AnalysisException, the r1 bug class, can't hide) without
materializing whole results.

Usage: python tools/smoke_plain.py [sf_dir]
Exit 0 = every entry ran; 1 = failures (printed as JSON).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    from cyborgdb_encrypted_vector_search_spark.caching import release_all

    errors: dict[str, str] = {}
    names = list(E.queries().items())
    for name, fn in names:
        try:
            fn(spark, sf_dir).limit(5).collect()
        except Exception as ex:  # noqa: BLE001 — we report every failure
            errors[name] = f"{type(ex).__name__}: {ex}"[:300]
        finally:
            # per-query persists must not accumulate across the
            # sweep on a default-heap session
            release_all()
    print(
        json.dumps(
            {"sf_dir": sf_dir, "n_queries": len(names), "errors": errors}
        )
    )
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
