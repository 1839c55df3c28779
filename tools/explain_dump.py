"""Dump `.explain("formatted")` for named catalog queries to files.

Usage:
    python tools/explain_dump.py <outdir> <suffix> q1,q2,...
    python tools/explain_dump.py --midloop <outdir> <suffix> q1,q2,...

Writes <outdir>/<query>_<suffix>.txt for each named query, the plan
evidence a change to a query's physical plan cites. The plan is
captured at $SPARK_GRAFT_SF_DIR (default sf0.1) on the package's
session factory (`session.get_spark`), so PushedFilters / join
strategies / exchange counts match what the catalog runs. NOTE:
iterative operators (the star-contraction CC rounds) execute eagerly
while the query function builds; the dumped plan is the FINAL assembled
plan. `--midloop` instead arms caching.snap_plan's sink while the
query builds, capturing each round frame's plan BEFORE its checkpoint
truncates lineage, and writes the ROUND-2 plan per label (round 1 when
a loop converges immediately) as
<outdir>/<query>_midloop_<label>_<suffix>.txt — so the per-round
claims (broadcast probes vs shuffled semi-join chains) are auditable.
A query that reaches no snap_plan site writes nothing in that mode and
gets a warning on stderr.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def dump(spark, names, outdir: str, suffix: str, midloop: bool, sf_dir: str) -> None:
    from cyborgdb_encrypted_vector_search_spark import caching
    from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries

    os.makedirs(outdir, exist_ok=True)
    cat = entries()
    for name in names:
        if not midloop:
            df = cat[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(outdir, f"{name}_{suffix}.txt"), "w"
            ) as f:
                f.write(plan)
            print(f"[ok] {name} -> {name}_{suffix}.txt", file=sys.stderr)
            caching.release_all()
            continue
        caching._PLAN_SINK = []
        try:
            cat[name].fn(spark, sf_dir)
            sink = caching._PLAN_SINK
        finally:
            caching._PLAN_SINK = None
        by_label: dict[str, list[str]] = {}
        for label, p in sink:
            by_label.setdefault(label, []).append(p)
        if not by_label:
            print(
                f"[warn] {name}: reached no caching.snap_plan site; "
                "no midloop plan written",
                file=sys.stderr,
            )
        for label, ps in by_label.items():
            pick = ps[1] if len(ps) > 1 else ps[0]
            out = f"{name}_midloop_{label}_{suffix}.txt"
            with open(os.path.join(outdir, out), "w") as f:
                f.write(
                    f"(round {2 if len(ps) > 1 else 1} of "
                    f"{len(ps)} captured rounds)\n"
                )
                f.write(pick)
            print(f"[ok] {name} -> {out}", file=sys.stderr)
        caching.release_all()


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--midloop"]
    midloop = "--midloop" in sys.argv
    outdir, suffix, names = args[0], args[1], args[2].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from cyborgdb_encrypted_vector_search_spark.session import get_spark

    spark = get_spark(
        app_name="explain-dump",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    dump(spark, names, outdir, suffix, midloop, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
