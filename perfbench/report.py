"""Metrics from one run: correctness verdicts, end-to-end and per-layer numbers.

``END_TO_END`` and ``PER_LAYER`` are the metric names and units the
benchmark reports; ``BENCHMARK.json`` lists the same ones (a self-test keeps
the two in step).
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import sys

import numpy as np

import gen
import verify

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cpu_ms_per_krow": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "runner.process_batch_ms": "ms",
    "runner.self_ms": "ms",
    "runner.batches": "count",
    "runner.rows_per_batch": "rows",
    "runner.jobs_per_batch": "count",
    "runner.dlt_overlap": "ratio",
    "runner.parallel_speedup": "ratio",
    **{f"sink.{c}.{m}": u for c in gen.CHANNELS for m, u in (("write_ms", "ms"), ("rows", "rows"), ("bytes", "bytes"))},
    "sink.empty_write_frac": "ratio",
    "source.trigger_overhead_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.wal_commit_ms": "ms",
    "source.commit_offsets_ms": "ms",
    "source.backlog_files_max": "count",
    "gen.lateness_ms": "ms",
    "topology.route_ms": "ms",
    "mapper.random_lowercase_string_ns_per_char": "ns/char",
    "headers.append_error_header_ns_per_row": "ns/row",
    "serde.int32be_decode_ns_per_row": "ns/row",
    "serde.int32be_encode_ns_per_row": "ns/row",
    "jvm.gc_ms": "ms",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_rows_per_s": "ratio",
    "trace.overhead_latency_p50": "ratio",
}

CHANNEL_CODE = {name: code for code, name in enumerate(gen.CHANNELS)}
DLT_CHANNELS = ("process_dlt", "deser_dlt", "prod_dlt")
#: a schedule tick written later than this after its due time means the
#: generator did not offer the stated rate: the run is invalid
MAX_LATENESS_S = 0.25


def _union(intervals: list[tuple[float, float]], lo: float = -np.inf, hi: float = np.inf) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


class PassReport:
    """Verdict and numbers of one measured pass."""

    def __init__(self, p: dict, plan: gen.Plan, log: dict) -> None:
        self.p = p
        self.plan = plan
        self.log = log
        self.sinks = verify.read_sinks(p["sink"])
        self.verdict = verify.verify(plan, self.sinks)
        w = plan.workload
        # a tick's write completion minus its due time; on a backlog every
        # tick is due when staging starts, so this is the staging time
        self.lateness = [t - (log["t0"] + i * log["tick_s"]) for i, t in enumerate(log["written"])]
        self.first_due = log["t0"] if w.mode == "schedule" else p["t_start"]
        v = self.verdict
        n_batches = max([x["batch"] for x in p["writes"]] + [0]) + 1
        end_of = np.zeros((n_batches, len(gen.CHANNELS)))
        for x in p["writes"]:
            end_of[x["batch"], CHANNEL_CODE[x["channel"]]] = x["end"]
        if v.ok_idx is not None and len(v.ok_idx):
            if w.mode == "schedule":
                due = log["t0"] + (v.ok_idx // w.rows_per_tick) * log["tick_s"]
            else:
                due = np.full(len(v.ok_idx), p["t_start"])
            self.latency_s = end_of[v.ok_batch, v.ok_channel] - due
        else:
            self.latency_s = np.zeros(0)
        self.last_end = max((x["end"] for x in p["writes"]), default=self.first_due)

    @property
    def delivered(self) -> int:
        return len(self.latency_s)

    def rows_per_s(self) -> float:
        span = self.last_end - self.first_due
        return self.delivered / span if span > 0 else 0.0

    def latency_ms(self, q: float) -> float:
        return float(np.percentile(self.latency_s, q) * 1e3) if self.delivered else 0.0

    def end_to_end(self, setup_s: float, peak_rss: int) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "rows_per_s": self.rows_per_s(),
            "latency_p50_ms": self.latency_ms(50),
            "latency_p90_ms": self.latency_ms(90),
            "cpu_ms_per_krow": self.p["cpu_s"] * 1e3 / (self.plan.rows / 1e3),
            "peak_rss_mb": peak_rss / 2**20,
        }

    # ── per-layer numbers (traced pass) ─────────────────────────────────
    def spans(self) -> list[dict]:
        """Every span of the pass: name, start, end, parent, trace (= batch
        id), self time."""
        p, out = self.p, []

        def add(name, start, end, trace, parent=None):
            out.append(
                {"id": len(out), "name": name, "start": start, "end": end, "trace": trace, "parent": parent}
            )
            return len(out) - 1

        for b in p["batches"]:
            pid = add("runner.process_batch", b["start"], b["end"], b["batch"])
            for r in p["routes"]:
                if r["batch"] == b["batch"]:
                    add("topology.route", r["start"], r["end"], b["batch"], pid)
            for x in p["writes"]:
                if x["batch"] == b["batch"]:
                    add(f"sink.{x['channel']}.write", x["start"], x["end"], b["batch"], pid)
        for prog in p["progress"]:
            start = _epoch(prog["timestamp"])
            d = prog["durationMs"]
            tid = add("source.trigger", start, start + d.get("triggerExecution", 0) / 1e3, prog["batchId"])
            for key, ms in d.items():
                if key != "triggerExecution":
                    # progress gives durations only: each phase span starts at the trigger
                    add(f"source.{key}", start, start + ms / 1e3, prog["batchId"], tid)
        children: dict[int, list[tuple[float, float]]] = {}
        for s in out:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in out:
            covered = _union(children.get(s["id"], []), s["start"], s["end"])
            s["self_ms"] = (s["end"] - s["start"] - covered) * 1e3
        return out

    def per_layer(self, spans: list[dict], layers: dict, speedup: float) -> dict[str, float]:
        p = self.p
        m: dict[str, float] = {}
        batches = p["batches"]
        m["runner.process_batch_ms"] = _median((b["end"] - b["start"]) * 1e3 for b in batches)
        m["runner.self_ms"] = _median(s["self_ms"] for s in spans if s["name"] == "runner.process_batch")
        m["runner.batches"] = float(len(batches))
        data = [x for x in p["progress"] if x["numInputRows"] > 0]
        m["runner.rows_per_batch"] = _median(x["numInputRows"] for x in data)
        m["runner.jobs_per_batch"] = _median(b["jobs"] for b in batches)
        overlaps = []
        for b in batches:
            dlt = [(x["start"], x["end"]) for x in p["writes"] if x["batch"] == b["batch"] and x["channel"] in DLT_CHANNELS]
            union = _union(dlt)
            if union > 0:
                overlaps.append(sum(e - s for s, e in dlt) / union)
        m["runner.dlt_overlap"] = _median(overlaps, 1.0)
        m["runner.parallel_speedup"] = speedup
        rows = {(b, gen.CHANNELS[c]): t.num_rows for b, c, t in self.sinks if c >= 0}
        for ch in gen.CHANNELS:
            m[f"sink.{ch}.write_ms"] = _median((x["end"] - x["start"]) * 1e3 for x in p["writes"] if x["channel"] == ch)
            m[f"sink.{ch}.rows"] = float(sum(n for (b, c), n in rows.items() if c == ch))
            m[f"sink.{ch}.bytes"] = float(_sink_bytes(p["sink"], ch))
        empty = sum(1 for x in p["writes"] if rows.get((x["batch"], x["channel"]), 0) == 0)
        m["sink.empty_write_frac"] = empty / len(p["writes"]) if p["writes"] else 0.0
        d = [x["durationMs"] for x in data]
        m["source.trigger_overhead_ms"] = _median(x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d)
        m["source.latest_offset_ms"] = _median(x.get("latestOffset", 0) for x in d)
        m["source.wal_commit_ms"] = _median(x.get("walCommit", 0) for x in d)
        m["source.commit_offsets_ms"] = _median(x.get("commitOffsets", 0) for x in d)
        m["source.backlog_files_max"] = float(self.backlog_files_max(data))
        m["gen.lateness_ms"] = max(self.lateness) * 1e3
        m["topology.route_ms"] = _median((r["end"] - r["start"]) * 1e3 for r in p["routes"])
        for key in (
            "mapper.random_lowercase_string_ns_per_char",
            "headers.append_error_header_ns_per_row",
            "serde.int32be_decode_ns_per_row",
            "serde.int32be_encode_ns_per_row",
        ):
            m[key] = float(layers[key])
        m["jvm.gc_ms"] = p["gc_ms"]
        m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
        return m

    def backlog_files_max(self, data: list[dict]) -> int:
        """Most files waiting at any trigger start: files written by then
        minus files the earlier triggers consumed (every file holds
        ``rows_per_file`` rows)."""
        w = self.plan.workload
        written = sorted(self.log["written"])
        consumed, most = 0, 0
        for x in sorted(data, key=lambda x: x["batchId"]):
            start = _epoch(x["timestamp"])
            if w.mode == "schedule":
                visible = gen.PARTITIONS * int(np.searchsorted(written, start, side="right"))
            else:
                visible = gen.PARTITIONS * len(written)
            most = max(most, visible - consumed)
            consumed += x["numInputRows"] // w.rows_per_file
        return most


def _sink_bytes(sink_dir: str, channel: str) -> int:
    topic = {v: k for k, v in verify.TOPIC_CHANNEL.items()}[CHANNEL_CODE[channel]]
    total = 0
    for bdir in os.listdir(sink_dir) if os.path.isdir(sink_dir) else []:
        path = os.path.join(sink_dir, bdir, topic)
        if os.path.isdir(path):
            total += sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet"))
    return total


def _print_metrics(metrics: dict[str, float], units: dict[str, str]) -> None:
    for name, unit in units.items():
        print(f"{name:<46} {metrics[name]:>16.4f} {unit}")


def emit(args, result: dict, staged: dict, validity: dict, peak_rss: int) -> int:
    """Verify every pass, print the metrics and the result line; return
    the exit code."""
    plan = gen.build_plan(args.workload, args.seed, args.seconds)
    reports = {}
    for name, p in result["passes"].items():
        with open(staged[name]["log"]) as fh:
            reports[name] = PassReport(p, plan, json.load(fh))
    main = reports["main"]
    setup_s = result["session_s"] + result["warmup_s"] + statistics.median(result["query_start_s"])
    attempted = sum(r.verdict.attempted for r in reports.values())
    failed = sum(r.verdict.failed for r in reports.values())
    lateness = max(max(r.lateness) for r in reports.values())
    validity["gen_lateness_max_ms"] = lateness * 1e3
    behind = plan.workload.mode == "schedule" and lateness > MAX_LATENESS_S
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "validity": validity,
        "failed_frac": failed / attempted,
        "failures": {n: r.verdict.reasons for n, r in reports.items()},
        "latency_samples": main.delivered,
        "latency_p99_ms": main.latency_ms(99),
        "setup": {
            "session_s": result["session_s"],
            "warmup_s": result["warmup_s"],
            "query_start_s": result["query_start_s"],
        },
        "batch_s": [b["end"] - b["start"] for b in main.p["batches"]],
    }
    if behind:
        print(json.dumps({"detail": detail}))
        print(
            f"invalid run: the generator fell {lateness * 1e3:.0f} ms behind its schedule",
            file=sys.stderr,
        )
        return 3
    e2e = main.end_to_end(setup_s, peak_rss)
    if args.trace:
        traced = reports["traced"]
        spans = traced.spans()
        speedup = result["slice"]["rows_per_s"] / result["slice1"]["rows_per_s"]
        metrics = traced.per_layer(spans, result["layers"], speedup)
        metrics["trace.overhead_rows_per_s"] = traced.rows_per_s() / main.rows_per_s() - 1
        metrics["trace.overhead_latency_p50"] = traced.latency_ms(50) / main.latency_ms(50) - 1
        detail["traced_latency_p99_ms"] = traced.latency_ms(99)
        detail["slice"] = {"k": result["slice"], "1": result["slice1"]}
        out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                {"detail": detail, "end_to_end_untraced": e2e, "per_layer": metrics,
                 "layers": result["layers"], "spans": spans, "progress": traced.p["progress"]},
                fh,
            )
        detail["spans_file"] = os.path.relpath(path)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    _print_metrics(metrics, units)
    print(f"{'failed_frac':<46} {failed / attempted:>16.4f} ratio")
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if failed == 0 else 1
