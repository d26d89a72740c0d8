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


@pytest.fixture
def frame_tier(monkeypatch):
    """Carry the incremental graph as frames (stream_driver.FrameGraph)
    while every operator keeps its own small-graph guard: the setting
    for tests whose subject is the frame backend's driver loop, sinks
    and resume rather than the operators' distributed plans (those run
    under ``distributed``). Fails a test that never carried a graph."""
    import linkgraph.plans.local as local
    import linkgraph.streaming.stream_driver as sd

    carry, carried = sd.carry, []

    def frames(*a, **kw):
        with monkeypatch.context() as m:
            m.setattr(local, "MAX_VERTICES", 0)
            carried.append(carry(*a, **kw))
        return carried[-1]

    monkeypatch.setattr(sd, "carry", frames)
    yield
    assert carried and all(isinstance(g, sd.FrameGraph) for g in carried)
