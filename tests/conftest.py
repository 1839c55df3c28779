from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from cyborgdb_encrypted_vector_search_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def load_tool(name: str):
    """Import ``tools/<name>.py`` (a script directory, not a package)."""
    spec = importlib.util.spec_from_file_location(
        name, REPO / "tools" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cyborgdb-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def kernel_frames(monkeypatch):
    """The kernel frames (``knn.topk_candidates`` results) that the
    searches called under this fixture build, in call order. A search
    returns a local frame merged on the driver, so these are where its
    scans, filters and plan shape show."""
    from cyborgdb_encrypted_vector_search_spark.operators import knn

    frames = []
    real = knn.topk_candidates

    def spy(*args, **kwargs):
        frames.append(real(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(knn, "topk_candidates", spy)
    return frames


@pytest.fixture
def cc_placements(monkeypatch):
    """Call to iterate both placements of ``dedup.connected_components``:
    ``"driver"`` (the union-find, under the real cap) and ``"star"``
    (cap forced below any edge count, so even an empty pair frame takes
    the star contraction). Each phase asserts it ran the half it names."""
    from cyborgdb_encrypted_vector_search_spark.operators import dedup

    cap, star = dedup._DRIVER_CLOSURE_CAP, dedup.connected_components_star
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return star(*args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components_star", spy)

    def placements():
        calls.clear()
        monkeypatch.setattr(dedup, "_DRIVER_CLOSURE_CAP", cap)
        yield "driver"
        assert not calls, "the driver placement ran the star contraction"
        monkeypatch.setattr(dedup, "_DRIVER_CLOSURE_CAP", -1)
        yield "star"
        assert calls, "the star placement never ran the star contraction"

    return placements
