"""Seeded workload generator: Kafka-source-shaped records as parquet files.

The generator emulates one input topic with ``PARTITIONS`` partitions (one
per Spark core at ``local[4]``) by writing one file per partition per tick.
Files are written under a hidden name and renamed into the watched
directory, so the engine's file source never sees a partial file.

Two modes:

* ``backlog`` writes every tick at once (a pre-staged backlog for the
  ``availableNow`` drains);
* ``schedule`` writes tick ``i`` at ``t0 + i * tick_s`` in an open loop: the
  schedule never waits for the engine, and every tick's write-completion
  time is logged so lateness can be reported.

Run as a process: ``python3 perfbench/gen.py --workload W --seed N
--seconds S --dir SRC --mode backlog|schedule --log LOG.json``.  The same
``build_plan`` call, made again by the verifier, returns the same records,
so the expected channel of every record is known without a manifest.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITIONS = 4

# Expected sink channel of each record, as assigned by the generator.
OUTPUT, PROCESS_DLT, DESER_DLT, PROD_DLT = 0, 1, 2, 3
CHANNELS = ("output", "process_dlt", "deser_dlt", "prod_dlt")

# Record kinds a mix draws from; each maps to exactly one channel.
VALID, NEGATIVE, NULL_VALUE, GARBAGE, OVERSIZE = range(5)
KIND_CHANNEL = {
    VALID: OUTPUT,
    NEGATIVE: PROCESS_DLT,
    NULL_VALUE: PROCESS_DLT,
    GARBAGE: DESER_DLT,
    OVERSIZE: PROD_DLT,
}

#: Smallest n whose output record exceeds the 1 MiB ``max.request.size``
#: for any key length: oversize records are never generated by the engine.
OVERSIZE_MIN = 1_048_577

HEADER_KEYS = ("trace-id", "source")

#: rows per file of the query-start probes: they time query start, not work
PROBE_ROWS_PER_FILE = 16

KAFKA_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
    ]
)


@dataclass(frozen=True)
class Mix:
    """Share of each record kind, and the size ranges they draw from."""

    shares: dict[int, float]
    valid_n: tuple[int, int]  # inclusive range of n for valid records
    garbage_len: tuple[int, int]  # inclusive byte length range (4 excluded)
    headers: int  # headers per record carrying any
    header_share: float  # share of records carrying headers


#: 97% valid with n over 0-4096 chars, 3% errors split across the three
#: dead-letter channels, 20% of records carrying one header.
BULK_MIX = Mix(
    shares={VALID: 0.97, NEGATIVE: 0.01, GARBAGE: 0.01, OVERSIZE: 0.01},
    valid_n=(0, 4096),
    garbage_len=(0, 64),
    headers=1,
    header_share=0.2,
)

#: Poison-pill incident: about 80% of records fail, the few valid ones are
#: short, so the mapper barely runs; every record carries two headers.
STORM_MIX = Mix(
    shares={VALID: 0.2, NEGATIVE: 0.3, NULL_VALUE: 0.02, GARBAGE: 0.3, OVERSIZE: 0.18},
    valid_n=(0, 64),
    garbage_len=(0, 256),
    headers=2,
    header_share=1.0,
)


@dataclass(frozen=True)
class Workload:
    name: str
    mix: Mix
    mode: str  # "backlog" or "schedule"
    rows_per_file: int
    #: backlog: nominal drain capacity in rows/s, sizing the backlog so a
    #: drain lasts about ``--seconds``; schedule: the offered rate
    rate: int
    files_per_trigger: int = 0  # backlog: maxFilesPerTrigger of the drain
    tick_s: float = 0.0  # schedule: seconds between ticks

    @property
    def rows_per_tick(self) -> int:
        return self.rows_per_file * PARTITIONS

    def ticks(self, seconds: float) -> int:
        if self.mode == "schedule":
            return max(1, round(seconds / self.tick_s))
        per_trigger = self.files_per_trigger // PARTITIONS
        ticks = math.ceil(seconds * self.rate / self.rows_per_tick)
        return per_trigger * max(1, math.ceil(ticks / per_trigger))


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk-drain", BULK_MIX, "backlog", rows_per_file=2000, rate=5000, files_per_trigger=8),
        Workload("error-storm", STORM_MIX, "backlog", rows_per_file=10000, rate=32000, files_per_trigger=8),
        # about a tenth of bulk-drain capacity, in small files on a fixed tick
        Workload("trickle", BULK_MIX, "schedule", rows_per_file=50, rate=800, tick_s=0.25),
    )
}


def slice_workload(name: str) -> Workload:
    """The backlog drained at local[k] and local[1] for the parallel-speedup
    baseline: the workload's own mix in its drain layout (trickle has no
    drain layout and uses bulk-drain's)."""
    w = WORKLOADS[name]
    return w if w.mode == "backlog" else WORKLOADS["bulk-drain"]


@dataclass
class Plan:
    """Every record of one run, in generation order."""

    workload: Workload
    ticks: int
    kind: np.ndarray  # int8 record kind
    n: np.ndarray  # int64 decoded n (0 where the value is not an int)
    values: pa.BinaryArray  # value bytes as written
    n_headers: np.ndarray  # int8 headers carried by each record

    @property
    def rows(self) -> int:
        return len(self.kind)

    @property
    def channel(self) -> np.ndarray:
        lookup = np.array([KIND_CHANNEL[k] for k in range(len(KIND_CHANNEL))], dtype=np.int8)
        return lookup[self.kind]


def record_key(idx: int) -> bytes:
    return b"k%09d" % idx


def header_value(idx: int, pos: int) -> bytes:
    return b"%s-%09d" % (HEADER_KEYS[pos].encode(), idx)


def build_plan(
    workload: str,
    seed: int,
    seconds: float,
    ticks: int | None = None,
    rows_per_file: int | None = None,
) -> Plan:
    """All records of a run; the same arguments always give the same records."""
    w = WORKLOADS[workload]
    if rows_per_file is not None:
        w = dataclasses.replace(w, rows_per_file=rows_per_file)
    ticks = w.ticks(seconds) if ticks is None else ticks
    rows = ticks * w.rows_per_tick
    rng = np.random.Generator(np.random.PCG64(seed))
    kinds = np.array(sorted(w.mix.shares), dtype=np.int8)
    probs = np.array([w.mix.shares[k] for k in kinds])
    kind = rng.choice(kinds, size=rows, p=probs / probs.sum())
    lo, hi = w.mix.valid_n
    n = np.where(
        kind == VALID,
        rng.integers(lo, hi + 1, size=rows),
        np.where(
            kind == NEGATIVE,
            rng.integers(-(2**31), 0, size=rows),
            np.where(kind == OVERSIZE, rng.integers(OVERSIZE_MIN, 2**31, size=rows), 0),
        ),
    ).astype(np.int64)
    glo, ghi = w.mix.garbage_len
    garbage_len = rng.integers(glo, ghi, size=rows)
    garbage_len = np.where(garbage_len >= 4, garbage_len + 1, garbage_len)  # never 4
    raw = rng.integers(0, 256, size=int(garbage_len.sum()), dtype=np.uint8).tobytes()
    be = n.astype(">i4").tobytes()
    values: list[bytes | None] = []
    pos = 0
    for i in range(rows):
        k = kind[i]
        if k == GARBAGE:
            ln = int(garbage_len[i])
            values.append(raw[pos : pos + ln])
            pos += ln
        elif k == NULL_VALUE:
            values.append(None)
        else:
            values.append(be[4 * i : 4 * i + 4])
    carries = rng.random(rows) < w.mix.header_share
    n_headers = np.where(carries, w.mix.headers, 0).astype(np.int8)
    return Plan(w, ticks, kind, n, pa.array(values, pa.binary()), n_headers)


def headers_of(plan: Plan, idx: int) -> list[tuple[str, bytes]]:
    return [(HEADER_KEYS[p], header_value(idx, p)) for p in range(plan.n_headers[idx])]


def tick_tables(plan: Plan, tick: int, stamp: float) -> list[pa.Table]:
    """One Kafka-source-shaped table per partition for ``tick``."""
    w = plan.workload
    tables = []
    base = tick * w.rows_per_tick
    ts = pa.scalar(int(stamp * 1e6), pa.timestamp("us", tz="UTC"))
    for p in range(PARTITIONS):
        lo = base + p * w.rows_per_file
        idx = range(lo, lo + w.rows_per_file)
        headers = [
            [{"key": k, "value": v} for k, v in headers_of(plan, i)] or None for i in idx
        ]
        n = w.rows_per_file
        tables.append(
            pa.table(
                {
                    "key": pa.array([record_key(i) for i in idx], pa.binary()),
                    "value": plan.values[lo : lo + n],
                    "topic": pa.array(["input"] * n, pa.string()),
                    "partition": pa.array([p] * n, pa.int32()),
                    "offset": pa.array(range(tick * n, (tick + 1) * n), pa.int64()),
                    "timestamp": pa.array([ts] * n, ts.type),
                    "timestampType": pa.array([0] * n, pa.int32()),
                    "headers": pa.array(headers, KAFKA_ARROW_SCHEMA.field("headers").type),
                },
                schema=KAFKA_ARROW_SCHEMA,
            )
        )
    return tables


def write_tick(directory: str, tick: int, tables: list[pa.Table]) -> None:
    for p, table in enumerate(tables):
        tmp = os.path.join(directory, f".part-{tick:05d}-{p}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(directory, f"part-{tick:05d}-{p}.parquet"))


def run(plan: Plan, directory: str, mode: str) -> dict:
    """Write the plan's ticks; return the log (t0 and per-tick lateness)."""
    os.makedirs(directory, exist_ok=True)
    if mode == "backlog":
        # every tick of a backlog is due when staging starts
        t0 = time.time()
        written = []
        for tick in range(plan.ticks):
            write_tick(directory, tick, tick_tables(plan, tick, t0))
            written.append(time.time())
        return {"t0": t0, "tick_s": 0.0, "written": written}
    tick_s = plan.workload.tick_s
    # build every tick before the clock starts, so a tick's write is cheap;
    # only the creation stamp is set when the tick falls due
    tables = [tick_tables(plan, tick, 0.0) for tick in range(plan.ticks)]
    ts_col = KAFKA_ARROW_SCHEMA.get_field_index("timestamp")
    ts_type = KAFKA_ARROW_SCHEMA.field("timestamp").type
    t0 = time.time() + 0.2
    written = []
    for tick in range(plan.ticks):
        due = t0 + tick * tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        stamp = pa.array([int(due * 1e6)] * plan.workload.rows_per_file, ts_type)
        write_tick(
            directory,
            tick,
            [t.set_column(ts_col, "timestamp", stamp) for t in tables[tick]],
        )
        written.append(time.time())
    return {"t0": t0, "tick_s": tick_s, "written": written}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--ticks", type=int, default=None)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--mode", required=True, choices=("backlog", "schedule"))
    ap.add_argument("--log", required=True)
    args = ap.parse_args(argv)
    plan = build_plan(args.workload, args.seed, args.seconds, args.ticks)
    log = run(plan, args.dir, args.mode)
    log["rows"] = plan.rows
    tmp = args.log + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(log, fh)
    os.rename(tmp, args.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
