"""`tools/explain_dump.py --midloop` on a query with no snap_plan site."""

from __future__ import annotations

from conftest import SF_SMOKE, load_tool

from cyborgdb_encrypted_vector_search_spark import caching


def test_midloop_without_snap_site_warns_and_writes_nothing(
    spark, tmp_path, capsys
):
    explain_dump = load_tool("explain_dump")
    explain_dump.dump(
        spark, ["vector_scan_stats"], str(tmp_path), "t", True, SF_SMOKE
    )
    assert list(tmp_path.iterdir()) == []
    err = capsys.readouterr().err
    assert "[warn] vector_scan_stats" in err
    assert caching._PLAN_SINK is None
