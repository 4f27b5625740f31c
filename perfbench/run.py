"""Dead-letter stream benchmark: one command, every metric, checked outputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk-drain|error-storm|trickle \\
        --seed N --seconds S --trace 0|1

Starts the engine host (``engine.py``, its own process tree: Python
driver + Spark JVM at ``local[k]``, k = min(4, nproc)) and feeds it from the
seeded generator process (``gen.py``).  Samples the engine tree's memory
from outside, checks every published record (``verify.py``) and prints
the metrics, one per line with units, then as the last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same pass untraced
and then traced, and reports the per-layer metrics, the tracing overhead
and a span file under ``.bench_out/``.

Exit codes: 0 on a correct, valid run; 1 when an output is wrong or the
engine failed; 2 when the engine package is not next to this directory;
3 when the generator fell behind its schedule (the run's latency would
not be that of the offered rate, so none is reported).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402
import report  # noqa: E402

ENGINE_PACKAGE = "kafka_streams_dead_letter_publishing_spark"
#: the whole command must end within this many seconds
RUN_BUDGET_S = 170.0
#: Spark parallelism: one core per emulated topic partition, at most nproc
CORES = min(gen.PARTITIONS, os.cpu_count() or 1)
#: driver heap of the engine JVM (driver and executors share it at local[k])
HEAP = "1g"
#: RSS and CPU sampling period of the engine process tree
SAMPLE_S = 0.1
#: seeds of the set-up inputs and the speedup slice, derived from --seed
WARMUP_SEED, PROBE_SEED, SLICE_SEED = 1_000_003, 2_000_003, 3_000_003
SLICE_TRIGGERS = 1


class Sampler:
    """Peak RSS of the engine host and its JVM, and last-seen CPU of every
    process in the engine tree.

    RSS counts the host and its direct children only: the JVM starts
    short-lived helper processes (shell commands of the local file system),
    and until such a child calls exec it reports the JVM's own pages as its
    RSS, which would count the JVM twice."""

    def __init__(self) -> None:
        self.peak_rss = 0
        self.cpu: dict[int, float] = {}

    def sample(self, root: int, rss: bool) -> None:
        for pid in procstat.tree_pids(root):
            if pid != root:  # root is a direct child: counted by rusage once reaped
                self.cpu[pid] = max(self.cpu.get(pid, 0.0), procstat.cpu_seconds(pid))
        if rss:
            now = sum(procstat.rss_bytes(p) for p in [root, *procstat.children(root)])
            self.peak_rss = max(self.peak_rss, now)


class Orchestrator:
    def __init__(self, args) -> None:
        self.args = args
        self.t_begin = time.time()
        self.deadline = self.t_begin + RUN_BUDGET_S
        self.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.procs: list[subprocess.Popen] = []
        self.generators: list[tuple[subprocess.Popen, str]] = []
        self.sampler = Sampler()
        self.staged: dict[str, dict] = {}

    # ── child processes ───────────────────────────────────────────────
    def env(self) -> dict:
        env = dict(os.environ)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            PYTHONDONTWRITEBYTECODE="1",
        )
        return env

    def spawn(self, argv: list[str], log: str) -> subprocess.Popen:
        with open(os.path.join(self.work, log), "ab") as fh:
            proc = subprocess.Popen(
                [sys.executable, *argv],
                cwd=self.work,
                env=self.env(),
                stdout=fh,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
        self.procs.append(proc)
        return proc

    def gen_argv(self, workload: str, seed: int, directory: str, mode: str, log: str, ticks=None):
        argv = [
            os.path.join(HERE, "gen.py"),
            f"--workload={workload}",
            f"--seed={seed}",
            f"--seconds={self.args.seconds}",
            f"--dir={directory}",
            f"--mode={mode}",
            f"--log={log}",
        ]
        return argv + ([f"--ticks={ticks}"] if ticks is not None else [])

    def stage_now(self, workload: str, seed: int, directory: str, ticks=None, rows_per_file=None) -> None:
        """Set-up inputs, written before the engine starts."""
        plan = gen.build_plan(workload, seed, self.args.seconds, ticks, rows_per_file)
        gen.run(plan, directory, "backlog")

    def answer(self, phase: str, req: dict) -> None:
        """Generate the input set the engine host asked for."""
        log = os.path.join(self.work, f"gen-{phase}.json")
        if req.get("slice"):
            w = gen.slice_workload(self.args.workload)
            argv = self.gen_argv(w.name, self.args.seed + SLICE_SEED, req["dir"], "backlog", log, self.slice_ticks())
        else:
            argv = self.gen_argv(self.args.workload, self.args.seed, req["dir"], req["mode"], log)
        proc = self.spawn(argv, f"gen-{phase}.out")
        if req["mode"] == "backlog":
            if proc.wait(timeout=max(1.0, self.deadline - time.time())) != 0:
                raise RuntimeError(f"generator failed for phase {phase}")
            with open(log) as fh:
                rows = json.load(fh)["rows"]
        else:
            self.generators.append((proc, log))
            w = gen.WORKLOADS[self.args.workload]
            rows = w.ticks(self.args.seconds) * w.rows_per_tick
        self.staged[phase] = {"rows": rows, "log": log}
        ok = os.path.join(self.work, f"ok-{phase}.json")
        with open(ok + ".tmp", "w") as fh:
            json.dump(self.staged[phase], fh)
        os.rename(ok + ".tmp", ok)

    def slice_ticks(self) -> int:
        w = gen.slice_workload(self.args.workload)
        return SLICE_TRIGGERS * w.files_per_trigger // gen.PARTITIONS

    def run_engine(self, role: str, cores: int) -> dict:
        """Run one engine host to completion; answer its input requests."""
        for name in os.listdir(self.work):
            if name.startswith(("req-", "ok-")) or name == "result.json":
                os.remove(os.path.join(self.work, name))
        t_spawn = time.time()
        proc = self.spawn(
            [
                os.path.join(HERE, "engine.py"),
                f"--work={self.work}",
                f"--workload={self.args.workload}",
                f"--seconds={self.args.seconds}",
                f"--cores={cores}",
                f"--heap={HEAP}",
                f"--trace={self.args.trace}",
                f"--role={role}",
                f"--fault={self.args.fault}",
                f"--t-spawn={t_spawn}",
                f"--deadline={self.deadline - 5}",
            ],
            f"engine-{role}.out",
        )
        answered: set[str] = set()
        while proc.poll() is None:
            if time.time() > self.deadline:
                raise TimeoutError("engine did not finish within the run budget")
            self.sampler.sample(proc.pid, rss=role == "main")
            for name in os.listdir(self.work):
                if name.startswith("req-") and name.endswith(".json"):
                    phase = name[4:-5]
                    if phase not in answered:
                        answered.add(phase)
                        with open(os.path.join(self.work, name)) as fh:
                            self.answer(phase, json.load(fh))
            time.sleep(SAMPLE_S)
        if proc.returncode != 0:
            with open(os.path.join(self.work, f"engine-{role}.out"), "rb") as fh:
                tail = fh.read()[-4000:].decode(errors="replace")
            raise RuntimeError(f"engine host ({role}) exited {proc.returncode}:\n{tail}")
        with open(os.path.join(self.work, "result.json")) as fh:
            return json.load(fh)

    def reap_generators(self) -> None:
        for proc, _ in self.generators:
            if proc.wait(timeout=max(1.0, self.deadline - time.time())) != 0:
                raise RuntimeError("generator failed")

    def stop_all(self) -> None:
        """Kill what is left of every process group this run started (the
        engine host's JVM may outlive the host by a moment) and wait until
        each group is gone."""
        for proc in self.procs:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            for _ in range(200):
                try:
                    os.killpg(proc.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.05)

    # ── the run ───────────────────────────────────────────────────────
    def run(self) -> int:
        a = self.args
        os.makedirs(self.work, exist_ok=True)
        busy0 = procstat.machine_cpu()
        w = gen.slice_workload(a.workload)
        # the warm-up drains one tick of the slice layout: it compiles every
        # query plan the measured pass runs
        self.stage_now(w.name, a.seed + WARMUP_SEED, os.path.join(self.work, "src-warmup"), ticks=1)
        self.stage_now(
            a.workload,
            a.seed + PROBE_SEED,
            os.path.join(self.work, "src-probe"),
            ticks=1,
            rows_per_file=gen.PROBE_ROWS_PER_FILE,
        )
        result = self.run_engine("main", CORES)
        self.reap_generators()
        if a.trace:
            slice1 = self.run_engine("slice", 1)
            result["slice1"] = slice1["slice"]
        busy1 = procstat.machine_cpu()
        ours = sum(self.sampler.cpu.values())
        for who in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN):
            ru = resource.getrusage(who)
            ours += ru.ru_utime + ru.ru_stime
        busy, steal = busy1[0] - busy0[0], busy1[1] - busy0[1]
        validity = {
            "nproc": os.cpu_count(),
            "cores": CORES,
            "heap": HEAP,
            "heap_max_mb": result["heap_max_mb"],
            "cpu_foreign_frac": max(0.0, busy - ours) / busy if busy > 0 else 0.0,
            "cpu_steal_frac": steal / (busy + steal) if busy + steal > 0 else 0.0,
        }
        return report.emit(a, result, self.staged, validity, self.sampler.peak_rss)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: a faulty sink the correctness gate must catch
    ap.add_argument("--fault", default="none", choices=("none", "drop-channel", "strip-header"))
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, ENGINE_PACKAGE, "streaming", "runner.py")):
        print(f"engine package {ENGINE_PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    orch = Orchestrator(args)
    # a terminated run still stops its children and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return orch.run()
    except (RuntimeError, TimeoutError, subprocess.TimeoutExpired) as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        orch.stop_all()
        shutil.rmtree(orch.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(orch.work))


if __name__ == "__main__":
    sys.exit(main())
