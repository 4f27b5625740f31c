"""The correctness gate accepts exactly what the engine should publish.

Sink tables are built here with pyarrow, as the engine's contract says they
look; each deliberate fault must make the gate fail."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import verify  # noqa: E402

HEADERS_TYPE = gen.KAFKA_ARROW_SCHEMA.field("headers").type


def _record(plan: gen.Plan, i: int, strip_error: bool = False) -> tuple[bytes, bytes | None, list]:
    """(key, value, headers) of record ``i`` as its channel publishes it."""
    headers = [{"key": k, "value": v} for k, v in gen.headers_of(plan, i)]
    channel = plan.channel[i]
    if channel != gen.OUTPUT and not strip_error:
        headers.append({"key": verify.ERROR_HEADER, "value": b"some error"})
    if channel == gen.OUTPUT:
        value = b"q" * int(plan.n[i])
    elif channel == gen.PROD_DLT:
        value = b""
    else:
        value = plan.values[i].as_py()
    return gen.record_key(i), value, headers or None


def _sinks(plan: gen.Plan, rows: dict[int, list]) -> list:
    return [
        (
            0,
            channel,
            pa.table(
                {
                    "key": pa.array([r[0] for r in recs], pa.binary()),
                    "value": pa.array([r[1] for r in recs], pa.binary()),
                    "headers": pa.array([r[2] for r in recs], HEADERS_TYPE),
                }
            ),
        )
        for channel, recs in rows.items()
    ]


def _published(plan: gen.Plan, **kw) -> dict[int, list]:
    rows: dict[int, list] = {c: [] for c in range(len(gen.CHANNELS))}
    for i in range(plan.rows):
        rows[int(plan.channel[i])].append(_record(plan, i, **kw))
    return rows


@pytest.fixture(params=sorted(gen.WORKLOADS))
def plan(request):
    return gen.build_plan(request.param, seed=7, seconds=1, ticks=1, rows_per_file=100)


def test_correct_sinks_pass(plan):
    v = verify.verify(plan, _sinks(plan, _published(plan)))
    assert v.failed == 0, v.reasons
    assert len(v.ok_idx) == plan.rows


def test_plan_is_deterministic_and_covers_every_channel():
    a = gen.build_plan("error-storm", seed=3, seconds=1, ticks=1)
    b = gen.build_plan("error-storm", seed=3, seconds=1, ticks=1)
    assert np.array_equal(a.kind, b.kind) and a.values.equals(b.values)
    assert set(np.unique(a.channel)) == set(range(len(gen.CHANNELS)))


def test_dropped_channel_fails(plan):
    rows = _published(plan)
    dropped = len(rows[gen.DESER_DLT])
    assert dropped > 0
    rows[gen.DESER_DLT] = []
    v = verify.verify(plan, _sinks(plan, rows))
    assert v.failed == dropped and v.reasons["missing"] == dropped


def test_stripped_error_header_fails(plan):
    rows = _published(plan)
    rows[gen.PROCESS_DLT] = [
        _record(plan, i, strip_error=True) for i in range(plan.rows) if plan.channel[i] == gen.PROCESS_DLT
    ]
    v = verify.verify(plan, _sinks(plan, rows))
    assert v.failed == len(rows[gen.PROCESS_DLT]) > 0
    assert v.reasons["header"] == v.failed


def test_lost_own_header_fails():
    plan = gen.build_plan("error-storm", seed=5, seconds=1, ticks=1, rows_per_file=50)
    rows = _published(plan)
    key, value, headers = rows[gen.OUTPUT][0]
    rows[gen.OUTPUT][0] = (key, value, headers[1:])
    assert verify.verify(plan, _sinks(plan, rows)).failed == 1


def test_wrong_payloads_fail():
    plan = gen.build_plan("bulk-drain", seed=5, seconds=1, ticks=1, rows_per_file=200)
    rows = _published(plan)
    out = [r for r in rows[gen.OUTPUT] if len(r[1]) > 0]
    k, v, h = out[0]
    bad_char = (k, v[:-1] + b"Z", h)
    k2, v2, h2 = out[1]
    short = (k2, v2[:-1], h2)
    k3, _, h3 = rows[gen.PROD_DLT][0]
    not_empty = (k3, b"x", h3)
    k4, v4, h4 = rows[gen.DESER_DLT][0]
    altered = (k4, v4 + b"!", h4)
    rows[gen.OUTPUT] = [bad_char, short] + out[2:] + [r for r in rows[gen.OUTPUT] if len(r[1]) == 0]
    rows[gen.PROD_DLT] = [not_empty] + rows[gen.PROD_DLT][1:]
    rows[gen.DESER_DLT] = [altered] + rows[gen.DESER_DLT][1:]
    v = verify.verify(plan, _sinks(plan, rows))
    assert v.failed == 4 and v.reasons["payload"] == 4


def test_duplicate_and_misroute_fail():
    plan = gen.build_plan("bulk-drain", seed=9, seconds=1, ticks=1, rows_per_file=200)
    rows = _published(plan)
    rows[gen.OUTPUT].append(rows[gen.OUTPUT][0])  # duplicated
    rows[gen.PROCESS_DLT].append(rows[gen.PROD_DLT].pop())  # misrouted
    v = verify.verify(plan, _sinks(plan, rows))
    assert v.reasons["duplicated"] == 1 and v.reasons["misrouted"] == 1
    assert v.failed == 2
