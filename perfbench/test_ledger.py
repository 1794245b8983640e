"""Tests of the event-log ledger against a committed fixture.

    python -m pytest perfbench/test_ledger.py -q

``fixtures/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of
one ``local[2]`` session: 2,000 rows through a lag window (one shuffle)
and an identity ``mapInArrow``, materialized twice, first to ``noop``
under job description ``pb:noop``, then as a parquet write partitioned
by ``k`` under ``pb:write``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ledger  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog_small.jsonl")
PY = "time to run Python workers"


@pytest.fixture(scope="module")
def events():
    return ledger.read_events(FIXTURE)


def test_whole_log_counts(events):
    led = ledger.fold(events)
    assert (led.jobs, led.stages, led.tasks, led.failed_tasks) == (2, 4, 8, 0)
    # one MapInArrow stage per materialization, 2,000 rows each time
    assert led.stages_with(PY, "MapInArrow") == 2
    assert led.metric("number of output rows", "MapInArrow") == 4000
    assert led.metric("data sent to Python workers", "MapInArrow") == 99136
    assert led.shuffle_bytes == 36178
    assert led.run_s == pytest.approx(8.157)
    assert led.busy_s == pytest.approx(4.938)


def test_select_by_job_description(events):
    noop = ledger.fold(events, ledger.describe("pb:noop"))
    write = ledger.fold(events, ledger.describe("pb:write"))
    assert (noop.jobs, noop.stages, write.jobs, write.stages) == (1, 2, 1, 2)
    for led in (noop, write):
        assert led.stages_with(PY, "MapInArrow") == 1
        assert led.metric("number of output rows", "MapInArrow") == 2000
        assert led.shuffle_bytes == 18089
    # only the parquet write commits tasks
    assert noop.metric("task commit time") == 0
    assert write.metric("task commit time") == 37
    # a metric owned by another node is not attributed to MapInArrow
    assert write.metric(PY, "Exchange") == 0
    assert ledger.fold(events, ledger.describe("pb:none")).tasks == 0


def test_sql_executions(events):
    ex = ledger.sql_executions(events)
    assert [(e["id"], e["end"] - e["start"]) for e in ex] == \
        [(0, 4469), (1, 2463)]
    writes = [e["id"] for e in ex
              if "Arguments: file:/tmp/fixture/out, " in e["plan"]]
    assert writes == [1]


def test_reconcile(events):
    led = ledger.fold(events)
    assert led.reconcile(wall_s=6.0, nproc=2)["ok"]
    # stage spans longer than the wall: the log is not of this run
    assert not led.reconcile(wall_s=3.0, nproc=2)["ok"]
    # more task time than two slots could run in the busy span
    assert not led.reconcile(wall_s=6.0, nproc=1)["ok"]
