"""Correctness gate: every generated record must reach its channel intact.

Reads the per-batch sink directories the engine host wrote and compares
them, record by record, with the channel the generator assigned:

* output: ``len(value) == n`` and every byte is ``a``-``z``;
* process and deserialization dead letters: the original bytes (NULL stays
  NULL);
* production dead letter: an empty (not NULL) value;
* every channel keeps the record's headers in order; a dead letter carries
  one more, ``error.message``, last and non-empty.

A record that is missing, duplicated, misrouted or wrong in payload or
headers counts once as failed.  The gate also returns, for every record
delivered correctly, the return time of the sink write that published it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

ERROR_HEADER = "error.message"

#: sink topic directory (``EngineConfig()`` defaults) → channel code
TOPIC_CHANNEL = {
    "output": gen.OUTPUT,
    "process-exception.DLT": gen.PROCESS_DLT,
    "deserialization-exception.DLT": gen.DESER_DLT,
    "production-exception.DLT": gen.PROD_DLT,
}


@dataclass
class Verdict:
    attempted: int
    failed_mask: np.ndarray
    reasons: dict[str, int] = field(default_factory=dict)
    #: per correctly delivered record: its index and the batch that wrote it
    ok_idx: np.ndarray | None = None
    ok_batch: np.ndarray | None = None
    ok_channel: np.ndarray | None = None

    @property
    def failed(self) -> int:
        return int(self.failed_mask.sum()) + self.reasons.get("foreign", 0)


def _binary_data(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data bytes) of a BinaryArray."""
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    buf = arr.buffers()[2]
    data = np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.zeros(0, np.uint8)
    return offsets, data


def _check_output(value: pa.Array, n: np.ndarray) -> np.ndarray:
    """Bad-row mask for the output channel: wrong length or a byte outside
    ``a``-``z``."""
    lengths = pc.binary_length(value).fill_null(-1).to_numpy(zero_copy_only=False)
    bad = lengths != n
    offsets, data = _binary_data(value)
    seg = data[offsets[0] : offsets[-1]]
    pos = np.nonzero((seg < ord("a")) | (seg > ord("z")))[0] + offsets[0]
    bad[np.searchsorted(offsets, pos, side="right") - 1] = True
    return bad


def _same_bytes(value: pa.Array, expected: pa.Array) -> np.ndarray:
    """Mask of rows equal to ``expected``, NULL equal to NULL."""
    both_null = pc.and_(pc.is_null(value), pc.is_null(expected))
    eq = pc.fill_null(pc.equal(value, expected), False)
    return pc.or_(both_null, eq).to_numpy(zero_copy_only=False)


def _check_headers(headers: pa.Array, idx: np.ndarray, base: np.ndarray, dead_letter: bool) -> np.ndarray:
    """Bad-row mask: the record's own headers, in order, then (dead letters
    only) a non-empty ``error.message`` last."""
    want = base.astype(np.int64) + (1 if dead_letter else 0)
    lens = pc.list_value_length(headers).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    bad = lens != want
    flat = pc.list_flatten(headers)
    keys = np.array(flat.field("key").to_pylist(), dtype=object)
    vals = flat.field("value")
    row = np.repeat(np.arange(len(idx)), lens)
    starts = np.cumsum(lens) - lens
    pos = np.arange(len(row)) - starts[row]
    own = pos < base[row]  # the record's own headers; the rest is error.message
    names = np.array(gen.HEADER_KEYS + (ERROR_HEADER,), dtype=object)
    good = keys == np.where(own, names[np.minimum(pos, len(gen.HEADER_KEYS) - 1)], ERROR_HEADER)
    want_vals = [gen.header_value(i, p) for i, p in zip(idx[row[own]].tolist(), pos[own].tolist())]
    own_vals = np.array(vals.filter(pa.array(own)).to_pylist() + [None], dtype=object)[:-1]
    good[own] &= own_vals == np.array(want_vals + [None], dtype=object)[:-1]
    err_len = pc.binary_length(vals.filter(pa.array(~own))).fill_null(0).to_numpy(zero_copy_only=False)
    good[~own] &= err_len > 0
    bad[row[~good]] = True
    return bad


def read_sinks(sink_dir: str) -> list[tuple[int, int, pa.Table]]:
    """(batch, channel, table) for every sink write directory."""
    out = []
    if not os.path.isdir(sink_dir):
        return out
    for bdir in sorted(os.listdir(sink_dir)):
        if not bdir.startswith("b"):
            continue
        batch = int(bdir[1:])
        for topic in sorted(os.listdir(os.path.join(sink_dir, bdir))):
            path = os.path.join(sink_dir, bdir, topic)
            table = pq.read_table(path, columns=["key", "value", "headers"])
            out.append((batch, TOPIC_CHANNEL.get(topic, -1), table))
    return out


def verify(plan: gen.Plan, sinks: list[tuple[int, int, pa.Table]]) -> Verdict:
    rows = plan.rows
    expected = plan.channel
    failed = np.zeros(rows, dtype=bool)
    seen = np.zeros(rows, dtype=np.int64)
    reasons = {"missing": 0, "duplicated": 0, "misrouted": 0, "payload": 0, "header": 0, "foreign": 0}
    parts = []
    for batch, channel, table in sinks:
        if table.num_rows == 0:
            continue
        keys = table.column("key").to_pylist()
        idx = np.full(len(keys), -1, dtype=np.int64)
        for i, k in enumerate(keys):
            if k is not None and len(k) == 10 and k[:1] == b"k" and k[1:].isdigit():
                idx[i] = int(k[1:])
        known = (idx >= 0) & (idx < rows)
        reasons["foreign"] += int((~known).sum())
        table, idx = table.filter(pa.array(known)), idx[known]
        np.add.at(seen, idx, 1)
        misrouted = expected[idx] != channel
        reasons["misrouted"] += int(misrouted.sum())
        value = table.column("value").combine_chunks()
        if channel == gen.OUTPUT:
            bad_payload = _check_output(value, plan.n[idx])
        elif channel == gen.PROD_DLT:
            bad_payload = pc.fill_null(pc.not_equal(pc.binary_length(value), 0), True).to_numpy(
                zero_copy_only=False
            )
        elif channel in (gen.PROCESS_DLT, gen.DESER_DLT):
            bad_payload = ~_same_bytes(value, plan.values.take(pa.array(idx)))
        else:
            bad_payload = np.ones(len(idx), dtype=bool)
        bad_header = _check_headers(
            table.column("headers").combine_chunks(),
            idx,
            plan.n_headers[idx],
            dead_letter=channel != gen.OUTPUT,
        )
        reasons["payload"] += int((bad_payload & ~misrouted).sum())
        reasons["header"] += int((bad_header & ~misrouted).sum())
        bad = misrouted | bad_payload | bad_header
        failed[idx[bad]] = True
        parts.append((idx[~bad], np.full(int((~bad).sum()), batch), np.full(int((~bad).sum()), channel)))
    reasons["missing"] = int((seen == 0).sum())
    reasons["duplicated"] = int((seen > 1).sum())
    failed |= seen != 1
    verdict = Verdict(rows, failed, reasons)
    if parts:
        idx = np.concatenate([p[0] for p in parts])
        keep = ~failed[idx]
        verdict.ok_idx = idx[keep]
        verdict.ok_batch = np.concatenate([p[1] for p in parts])[keep]
        verdict.ok_channel = np.concatenate([p[2] for p in parts])[keep]
    return verdict
