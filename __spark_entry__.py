"""Driver contract for the spark-graft builder (PySpark target).

A caller runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema +
order-insensitive values). ``tests/test_spark_entry.py`` does exactly
that for all 123 entries; ``tools/parity.py`` is the same check as a
script. docs/CATALOG_PRUNE.md names the paper feature each entry
serves.

All real logic lives in ``cyborgdb_encrypted_vector_search_spark/``; this module just
adapts the query catalog (plans/catalog.py) to the driver's API.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _catalog():
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries

    return entries()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: top-3 nearest documents (cosine) to a
    stored vector — the reference's kNN retrieval flow (SURVEY.md §3.3)
    as one declarative Spark plan. Every catalog query (this one
    included) runs on ANY session — plain or factory-built; the
    registry normalizes session-dependent types (events.ts) at load."""
    cat = _catalog()
    return cat["knn_topk_cosine"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    NOTE for long-running drivers: some operators persist frames as a
    correctness device (see cyborgdb_encrypted_vector_search_spark/caching.py);
    call ``caching.release_all()`` AFTER materializing each query's
    result (never between a query's build and its action) to keep a
    multi-query sweep from accumulating caches — tools/parity.py,
    tools/smoke_plain.py and tests/test_spark_entry.py all do this.
    """
    return {name: e.fn for name, e in _catalog().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return {name: e.sql for name, e in _catalog().items() if e.sql is not None}
