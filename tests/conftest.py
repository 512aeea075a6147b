import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
# tests exercise every path hundreds of times — session warm-start
# priming would only re-run what the suite runs anyway
os.environ.setdefault("SPARK_GRAFT_WARM_START", "0")


@pytest.fixture(scope="session")
def spark():
    from xml_to_es_spark.session import get_spark

    s = get_spark(app="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def wand_sides(monkeypatch):
    """``for side in wand_sides(): ...`` runs the loop body once on each
    side of ``QueryEngine.topk_wand``'s coordinator switch — the class
    bound patched to ∞ ("coordinator"), then to 0 ("spark") — and
    checks after each pass that only the named side answered
    ``topk_wand`` calls in it."""
    from xml_to_es_spark.operators.query_engine import QueryEngine

    seen = {"coordinator": 0, "spark": 0}
    coord, kernel = QueryEngine._wand_coordinator, QueryEngine._wand_group_kernel

    def spy(side, real):
        def call(self, *a, **kw):
            seen[side] += 1
            return real(self, *a, **kw)
        return call

    monkeypatch.setattr(QueryEngine, "_wand_coordinator", spy("coordinator", coord))
    monkeypatch.setattr(QueryEngine, "_wand_group_kernel", spy("spark", kernel))

    def sides():
        for side, bound in (("coordinator", math.inf), ("spark", 0)):
            monkeypatch.setattr(QueryEngine, "_COORDINATOR_MAX_POSTINGS", bound)
            seen.update(coordinator=0, spark=0)
            yield side
            other = "spark" if side == "coordinator" else "coordinator"
            assert seen[side] > 0 and seen[other] == 0, (side, seen)

    return sides
