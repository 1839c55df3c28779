"""CI invariant: every catalog entry runs under a PLAIN SparkSession.

`__spark_entry__` promises that its queries run on ANY session. A
caller's `SparkSession.builder.getOrCreate()` has none of our factory
confs — the exact environment difference behind every round-1 failure
(events.ts TIMESTAMP_NTZ vs the factory's long-nanos shape). A bare
session can't be built inside this pytest process (getOrCreate would
return the already-running factory session), so the check runs
tools/smoke_plain.py in a subprocess and asserts exit 0 and one report
row per entry.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as E

REPO = Path(__file__).resolve().parent.parent


def test_events_ts_normalization_is_session_tz_independent():
    """registry.load's NTZ normalization must be exact on a non-UTC
    driver (ADVICE r2: the old cast('timestamp_ntz') converted via the
    session timezone). Runs tools/smoke_tz.py under America/New_York
    across all three ts shapes (nanos-NTZ, LTZ-micros, bigint-nanos)."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "smoke_tz.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    report_line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert report_line, f"no report; stderr tail: {proc.stderr[-2000:]}"
    report = json.loads(report_line[-1])
    assert report["errors"] == {}, json.dumps(report["errors"], indent=2)
    assert proc.returncode == 0


def test_all_entries_run_on_plain_session():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "smoke_plain.py")],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=str(REPO),
    )
    # last stdout line is the JSON report
    report_line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert report_line, f"no report; stderr tail: {proc.stderr[-2000:]}"
    report = json.loads(report_line[-1])
    assert report["errors"] == {}, json.dumps(report["errors"], indent=2)
    assert proc.returncode == 0
    assert report["n_queries"] == len(E.queries())
