"""rc_scanner_spark benchmark: one command, four workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Generates the workload's inputs from
the seed, starts the driver process (``worker.py``) on ``local[4]``
(or fewer cores, never more than ``nproc``), samples the driver
process tree's peak resident memory from outside, and for ``stream_live`` runs the
open-loop SSE generator (``sse_gen.py``) as a separate process.

Prints a context line (``{"perfbench": {...}}``: host cores, Spark
cores, load average at start and end, commit, ``failed_ratio``, first
problems) and, last, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.

Everything a run writes lives under ``.perfbench/`` in the checkout;
the run's scratch directory is removed at the end, and traced runs
leave their spans in ``.perfbench/traces/``.  ``--sf`` and
``--events`` shrink a run for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: Workload parameters.  BENCHMARK.json lists the measured workloads
#: (their sizes are also stated in each ``why``); ``batch_scan`` and
#: ``stream_live`` are extra lanes for manual runs (see README.md).
WORKLOADS = {
    "batch_scan": {"sf": 0.01},
    "batch_llm": {"sf": 0.01},
    "stream_replay": {"sf": 0.001, "events": 1500},
    "stream_live": {"sf": 0.001, "rate": 100.0},
}
#: Events the live generator holds beyond the measured window: enough
#: for session start and the first micro-batch.
LIVE_SPARE_S = 20
#: Events of the replay's set-up query: four source partitions at the
#: default ``batchlines``, so a set-up starts one Python reader per core.
WARM_EVENTS = 400
WORKER_DEADLINE_S = 165
#: Memory sampling interval.  A sample walks /proc; sampling more often
#: takes a noticeable share of a core from the run it measures.
SAMPLE_S = 0.5


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("rc_scanner_spark/__init__.py", "bench.py", "tools/check_oracle.py",
                  "BENCHMARK.json")
    )


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_ticks() -> list[int]:
    """The host's cumulative CPU ticks: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / max(1, sum(d)), 4)


def _commit() -> str:
    try:
        # the ceiling keeps git from searching above the checkout
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10,
                             env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)})
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class ProcessTree:
    """The processes descending from one root pid and their peak
    summed resident memory, sampled from /proc.  Spark's Python daemons
    put themselves in process groups of their own, so the tree is
    followed by parent pid, and every pid ever seen is remembered (with
    its start time, so a reused pid is never mistaken for ours) until
    ``stop`` has ended it."""

    def __init__(self, root: int):
        self.root = root
        self.seen: dict[int, str] = {}
        self.peak_rss = 0
        self._last = 0

    @staticmethod
    def _stat(pid: int) -> tuple[int, str, str] | None:
        """(parent pid, start time, command name) of ``pid``."""
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                head, _, rest = f.read().rpartition(")")
        except OSError:
            return None
        fields = rest.split()
        return int(fields[1]), fields[19], head.partition("(")[2]

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        info: dict[int, tuple[int, str, str]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = self._stat(int(entry))
                if st:
                    children.setdefault(st[0], []).append(int(entry))
                    info[int(entry)] = st
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            if pid not in info:
                continue
            ppid, start, comm = info[pid]
            self.seen.setdefault(pid, start)
            todo += children.get(pid, [])
            # A child the JVM is spawning shows the JVM's own pages
            # until it execs; counting it would count the JVM twice.
            if not (comm == "java" and ppid in info and info[ppid][2] == "java"):
                total += self._resident(pid, comm)
        # A level counts once two samples in a row reach it: a spawn
        # caught mid-exec is gone by the next sample.
        self.peak_rss = max(self.peak_rss, min(total, self._last))
        self._last = total

    @staticmethod
    def _resident(pid: int, comm: str) -> int:
        """Resident bytes of ``pid``.  Python processes count their
        proportional set size, so forked Spark workers do not count
        their parent's pages again.  The JVM shares nothing with the
        rest of the tree and its smaps walk costs tens of milliseconds,
        so it counts plain RSS."""
        try:
            if comm == "java":
                with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                    return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def alive(self) -> list[int]:
        return [pid for pid, start in self.seen.items()
                if (st := self._stat(pid)) and st[1] == start]

    def stop(self, proc: subprocess.Popen, timeout: float = 15.0) -> None:
        """Kill the whole tree and wait until every process has ended."""
        self.sample()
        for pid in self.alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        deadline = time.time() + timeout
        while self.alive() and time.time() < deadline:
            time.sleep(0.05)


def make_inputs(run_dir: str, workload: str, seed: int, seconds: float,
                overrides: dict) -> dict:
    sys.path.insert(0, HERE)
    import datagen

    params = {**WORKLOADS[workload], **overrides}
    data = os.path.join(run_dir, "data")
    params["table_rows"] = datagen.write_tables(data, seed, params["sf"])
    if workload == "stream_live" and "events" not in overrides:
        params["events"] = int(params["rate"] * (seconds + LIVE_SPARE_S))
    if "events" in params:
        capture = datagen.Capture(seed, params["events"])
        path = os.path.join(run_dir, "capture.jsonl")
        capture.write_jsonl(path)
        with open(os.path.join(run_dir, "dims.json"), "w", encoding="utf-8") as f:
            json.dump({"users": capture.users,
                       "revisions": [(int(i), t) for i, t in capture.revisions]}, f)
        with open(path, encoding="utf-8") as src, \
                open(os.path.join(run_dir, "warm.jsonl"), "w", encoding="utf-8") as dst:
            for i, line in enumerate(src):
                if i >= WARM_EVENTS:
                    break
                dst.write(line)
    with open(os.path.join(run_dir, "inputs.json"), "w", encoding="utf-8") as f:
        json.dump(params, f)
    return params


def worker_env(run_dir: str, cores: int) -> dict:
    """Environment of the driver process: the program's default
    settings, with all scratch space inside the run directory."""
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=local,
        SPARK_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.local.dir={local} pyspark-shell"
        ),
    )
    for name in ("SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEM"):
        env.pop(name, None)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description="rc_scanner_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="Spark cores, capped at nproc (default 4)")
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--events", type=int, help="override the workload's event count")
    ap.add_argument("--fault", default="", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not _program_present():
        print("perfbench: run from the root of an rc_scanner_spark checkout "
              "(rc_scanner_spark/, bench.py, tools/ and BENCHMARK.json)", file=sys.stderr)
        return 2
    started = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    nproc = os.cpu_count() or 1
    cores = max(1, min(args.cores, nproc))
    loadavg_start = _loadavg()
    ticks_start = _cpu_ticks()

    run_dir = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(STATE, "traces")
    os.makedirs(traces, exist_ok=True)
    procs: list[tuple[subprocess.Popen, ProcessTree]] = []
    try:
        overrides = {k: getattr(args, k) for k in ("sf", "events")
                     if getattr(args, k) is not None}
        params = make_inputs(run_dir, args.workload, args.seed, args.seconds, overrides)
        env = worker_env(run_dir, cores)
        if args.workload == "stream_live":
            os.makedirs(os.path.join(run_dir, "gen"))
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "sse_gen.py"),
                 "--capture", os.path.join(run_dir, "capture.jsonl"),
                 "--rate", str(params["rate"]), "--dir", os.path.join(run_dir, "gen")],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            )
            procs.append((gen, ProcessTree(gen.pid)))
        result_path = os.path.join(run_dir, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--sf", str(params["sf"]),
            "--events", str(params.get("events", 0)), "--rate", str(params.get("rate", 0)),
            "--fault", args.fault, "--result", result_path,
            "--spans", os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"),
        ]
        log_path = os.path.join(run_dir, "worker.log")
        with open(log_path, "wb") as log:
            cmd += ["--spawn-time", repr(time.time())]
            worker = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log, stderr=log)
            tree = ProcessTree(worker.pid)
            procs.append((worker, tree))
            deadline = started + WORKER_DEADLINE_S
            # The worker renames its result into place as its last act;
            # the Spark shutdown after it is not part of the run.
            while (worker.poll() is None and not os.path.exists(result_path)
                   and time.time() < deadline):
                tree.sample()
                time.sleep(SAMPLE_S)
        done = os.path.exists(result_path)
        why = "timed out" if worker.poll() is None else f"exited with {worker.returncode}"
        for proc, ptree in procs:
            ptree.stop(proc)
        if not done:
            with open(log_path, encoding="utf-8", errors="replace") as f:
                tail = f.read()[-4000:]
            print(f"perfbench: worker {why} without a result\n{tail}", file=sys.stderr)
            return 1
        with open(result_path, encoding="utf-8") as f:
            res = json.load(f)
        peak = tree.peak_rss
    finally:
        for proc, ptree in procs:
            if ptree.alive():
                ptree.stop(proc)
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = dict(res["metrics"], peak_rss_mb=peak / (1 << 20))
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    extra = {k: v for k, v in values.items() if k not in metrics and v}
    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "spark_cores": res["context"].get("spark_cores"),
        "loadavg_start": loadavg_start,
        "loadavg_end": _loadavg(),
        "cpu_steal_ratio": _steal_ratio(ticks_start, _cpu_ticks()),
        "commit": _commit(),
        "failed_ratio": failed / attempted,
        "problems": res["problems"][:5],
        "inputs": {k: v for k, v in params.items() if k != "table_rows"},
        **{k: v for k, v in res["context"].items() if k not in ("spark_cores", "table_rows")},
        "extra_metrics": extra,
        "sampler_cpu_s": round(time.process_time(), 2),
        "wall_s": round(time.time() - started, 2),
    }
    print(json.dumps({"perfbench": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
