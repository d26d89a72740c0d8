from __future__ import annotations

import pytest

from linkgraph.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="linkgraph-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "2048"},
    )
    yield s


@pytest.fixture
def distributed(monkeypatch):
    """Force every operator onto its distributed plan: the small-graph
    guard of plans/local.py at 0 vertices (for tests whose subject is
    the distributed plan itself)."""
    import linkgraph.plans.local as local

    monkeypatch.setattr(local, "MAX_VERTICES", 0)
