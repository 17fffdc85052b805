"""Defaults of the streaming-twin wrappers, checked without a JVM.

Each wrapper's default checkpoint directory names its checkpoint
lineage: a changed default starts a new lineage, and a resumed file
stream would then fold its whole history a second time. Every wrapper
is driven with a fake stream that records the writer calls and a fake
catalog that records any use, so these tests start no Spark session.
"""

from __future__ import annotations

import os

import pytest

from clinpy_spark.streaming.anomaly import stream_period_counts
from clinpy_spark.streaming.drift import stream_ks_counts, stream_psi_counts
from clinpy_spark.streaming.glm import stream_negbin_grid
from clinpy_spark.streaming.quality import stream_check_suite
from clinpy_spark.streaming.sink import stream_stats_to_catalog
from clinpy_spark.streaming.survival import (
    stream_cox_partials,
    stream_cox_tv_partials,
    stream_finegray_partials,
    stream_km_partials,
)


class _Writer:
    def __init__(self, calls: dict):
        self.calls = calls

    def foreachBatch(self, fn):
        self.calls["fold"] = fn
        return self

    def option(self, key, value):
        self.calls.setdefault("options", {})[key] = value
        return self

    def trigger(self, **kw):
        self.calls["trigger"] = kw
        return self

    def start(self):
        self.calls["started"] = True
        return "query"


class _Stream:
    def __init__(self):
        self.calls: dict = {}

    @property
    def writeStream(self):
        return _Writer(self.calls)


class _Catalog:
    def __init__(self, project_dir: str):
        self.project_dir = project_dir
        self.used: list[str] = []

    def __getattr__(self, name):
        self.used.append(name)
        raise AttributeError(name)


class _EmptyBatch:
    def __init__(self):
        self.used: list[str] = []

    def isEmpty(self):
        return True

    def __getattr__(self, name):
        self.used.append(name)
        raise AttributeError(name)


_CHECKS = [{"name": "c", "check": "completeness", "col": "v"}]

WRAPPERS = [
    ("cusum", lambda s, c, n: stream_period_counts(s, c, n)),
    ("psi", lambda s, c, n: stream_psi_counts(s, c, n, "v", [0.5])),
    ("ks", lambda s, c, n: stream_ks_counts(s, c, n, "v")),
    ("nb2", lambda s, c, n: stream_negbin_grid(s, c, n, "x", "y")),
    ("checks", lambda s, c, n: stream_check_suite(s, c, n, _CHECKS)),
    ("km", lambda s, c, n: stream_km_partials(s, c, n, "t", "e", "g")),
    ("cox", lambda s, c, n: stream_cox_partials(s, c, n, "t", "e", ["x"])),
    ("fg", lambda s, c, n: stream_finegray_partials(s, c, n, "t", "st", "g")),
    ("coxtv",
     lambda s, c, n: stream_cox_tv_partials(s, c, n, "a", "b", "e", "x")),
    ("stats", lambda s, c, n: stream_stats_to_catalog(s, c, n, ["k"], ["v"])),
]


@pytest.mark.parametrize("tag,start", WRAPPERS, ids=[t for t, _ in WRAPPERS])
def test_stream_wrapper_defaults(tmp_path, tag, start):
    stream, catalog = _Stream(), _Catalog(str(tmp_path / "proj"))

    assert start(stream, catalog, "state") == "query"

    calls = stream.calls
    assert calls["options"] == {"checkpointLocation": os.path.join(
        str(tmp_path / "proj"), "state") + f".__{tag}_checkpoint__"}
    assert calls["trigger"] == {"availableNow": True}
    assert calls["started"]

    batch = _EmptyBatch()
    calls["fold"](batch, 0)
    assert catalog.used == [] and batch.used == []
