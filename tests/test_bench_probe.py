"""bench.py's opt-in executor-time probe, against a faked Spark UI."""

from __future__ import annotations

import io
import json
import types
import urllib.request

import bench


def _fake_spark():
    sc = types.SimpleNamespace(uiWebUrl="http://localhost:4040", applicationId="app")
    return types.SimpleNamespace(sparkContext=sc)


def _stages_response(stages):
    return io.BytesIO(json.dumps(stages).encode())


def test_exec_probe_failed_pre_read_records_nothing(monkeypatch):
    stages = [
        {"stageId": 0, "executorRunTime": 900},
        {"stageId": 1, "executorRunTime": 50},
    ]
    calls = []

    def urlopen(url):
        calls.append(url)
        if len(calls) == 1:
            raise OSError("UI not reachable yet")
        return _stages_response(stages)

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    probe = bench._exec_ms_probe(_fake_spark())
    ran = []
    assert bench._bracketed_exec_ms(probe, lambda: ran.append(1)) is None
    assert ran == [1]


def test_exec_probe_counts_only_new_stages(monkeypatch):
    reads = iter(
        [
            [{"stageId": 0, "executorRunTime": 900}],
            [
                {"stageId": 0, "executorRunTime": 900},
                {"stageId": 1, "executorRunTime": 50},
                {"stageId": 2, "executorRunTime": 25},
            ],
        ]
    )
    monkeypatch.setattr(
        urllib.request, "urlopen", lambda url: _stages_response(next(reads))
    )
    probe = bench._exec_ms_probe(_fake_spark())
    assert bench._bracketed_exec_ms(probe, lambda: None) == 75
