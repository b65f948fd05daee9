"""Benchmark worker: one workload in one driver process.

Started by ``run.py`` (which samples this process tree's memory from
outside and owns input generation).  Drives the program only through
its public functions -- ``session.get_spark``, the ``queries``
registry builders, ``tables.load_table``, the ``rcstream`` source,
``streaming.pipeline`` and its flag-log sink -- and writes one result
JSON: ``attempted``, ``failed``, ``problems``, ``metrics`` and
``context``.

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the measured phase alternates untraced and traced
passes (drains, or halves of the live window); the per-layer metrics
come from the traced ones and ``trace.overhead_ratio`` compares the
two.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402

# The regexes of the streaming filter: the scanner registry's patterns.
PATTERNS = ("(?i)spark", r"\bvector\b", "merge (batch|scan)")
#: Set-ups per run; ``setup_s`` is their median.  Batch set-ups
#: restart the session; replay set-ups keep it, because a first
#: micro-batch in a new session costs about 10 s.
SETUPS = {"batch": 5, "stream": 3}
#: Least measured batch passes (replay drains) per run, one more when
#: traced (they alternate untraced and traced); a run measures at least
#: ``--seconds``.  The metrics are medians over them.
PASSES = 3


def batch_queries(workload: str = "batch_llm") -> list[str]:
    """The bench headline split in two, in headline order and with its
    share groups: ``batch_llm`` is the near-dup, ANN and text queries,
    ``batch_scan`` the relational and scanner rest."""
    from bench import HEADLINE

    llm = [q for q in HEADLINE if q.startswith(("dedup_", "ann_", "tfidf_", "llm_"))]
    return llm if workload == "batch_llm" else [q for q in HEADLINE if q not in llm]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Ctx:
    """Shared state of one worker run."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.data = os.path.join(args.run_dir, "data")
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            bench = json.load(f)
        self.layer = {m["name"]: 0.0 for m in bench["per_layer"]}
        self.e2e: dict[str, float] = {}
        self.context: dict = {}
        self.spark = None
        self.registry = None
        self.get_spark_s: list[float] = []
        self.stream = None  # a Stream kept across set-ups that share the session

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def setup_session(self) -> None:
        """``get_spark`` + ``build_registry`` + bench.py's warm-ups."""
        tr = self.tracer
        with tr.span("setup"):
            t = time.perf_counter()
            with tr.span("session.get_spark"):
                from rc_scanner_spark.session import get_spark

                self.spark = get_spark("perfbench")
            self.get_spark_s.append(time.perf_counter() - t)
            with tr.span("queries.build_registry"):
                from rc_scanner_spark.queries import build_registry

                self.registry = build_registry()
            with tr.span("warmup"):
                self.registry["scan_verb"].fn(self.spark, self.data).count()
                self.spark.sql("SELECT lower('MÜller straße 你好 Ω'), upper('ñoño')").collect()
        sc = self.spark.sparkContext
        self.context["spark_cores"] = sc.defaultParallelism
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()

    def set_up(self, times: int, first_batch=None, restart: bool = True):
        """Set up ``times`` times and record the median as ``setup_s``.
        A set-up is ``setup_session`` plus, for streams,
        ``first_batch(ctx)``: a new query's first micro-batch, which a
        user pays once per query start.  The first set-up runs from the
        driver process spawn, so it includes interpreter and JVM start
        (``setup_runs_s[0]`` in the context line).  Each later one
        runs in the same JVM: with ``restart`` it stops the session and
        builds a new one, otherwise it fetches the running one.
        Returns the last ``first_batch`` result."""
        self.tracer.enabled = bool(self.args.trace)
        runs, out = [], None
        for i in range(times):
            if i and restart:
                self.spark.stop()
            t0 = time.time() if i else self.args.spawn_time
            self.setup_session()
            if first_batch is not None:
                with self.tracer.span("setup.first_batch"):
                    out = first_batch(self)
            runs.append(time.time() - t0)
        self.tracer.enabled = False
        self.e2e["setup_s"] = median(runs)
        self.layer["session.get_spark_s"] = median(self.get_spark_s)
        self.context["setup_runs_s"] = runs
        return out

    def heap_peak_mb(self) -> float:
        """Sum of the driver JVM's heap pools' peak used sizes: the
        on-heap share of ``peak_rss_mb``, which heap growth hides."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "HEAP") / (1 << 20)

    def job_stats(self, group: str) -> dict[str, float]:
        """Jobs, completed stages and their task metrics for one job
        group, read from the driver's status store."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "executor_run_s"), 0.0)
        for job in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                try:
                    sd = self.store.lastStageAttempt(stage)
                except Exception:  # evicted or never attempted (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
        return out


class LoadTableProbe:
    """Counts and times ``tables.load_table`` calls while installed.
    Query builders resolve the function through the module at call
    time, so swapping the module attribute sees every call."""

    def __init__(self):
        from rc_scanner_spark import tables

        self.tables = tables
        self.orig = tables.load_table
        self.calls = 0
        self.seconds = 0.0
        self.names: list[str] = []

    def __enter__(self):
        orig = self.orig

        def load_table(spark, sf_dir, name):
            t = time.perf_counter()
            try:
                return orig(spark, sf_dir, name)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1
                self.names.append(name)

        self.tables.load_table = load_table
        return self

    def __exit__(self, *exc):
        self.tables.load_table = self.orig


# -- batch -------------------------------------------------------------------


def run_batch(ctx: Ctx) -> None:
    from bench import _share_group
    from checks import Oracle, digest_key, load_digests
    from rc_scanner_spark.operators.dedup import release_caches

    args, spark, registry = ctx.args, ctx.spark, ctx.registry
    sc = spark.sparkContext
    names = batch_queries(args.workload)
    rows = ctx.context["table_rows"]

    def boundary(i: int) -> None:
        # bench.py's protocol: caches persist only within a share group
        if not (i and _share_group(names[i - 1]) == _share_group(names[i])):
            spark.catalog.clearCache()
            release_caches()

    # Check pass, untimed: every query once against its oracle.  It is
    # also the first warm-up.
    t_check = time.perf_counter()
    spark_s = 0.0
    oracle = Oracle(ctx.data)
    recorded = load_digests().get(digest_key(args.sf, args.seed), {})
    wrong: set[str] = set()
    rows_read: dict[str, int] = {}
    for i, q in enumerate(names):
        boundary(i)
        sc.setJobGroup(f"perfbench:{q}:check", q)
        try:
            t = time.perf_counter()
            with LoadTableProbe() as probe:
                pdf = registry[q].fn(spark, ctx.data).toPandas()
            spark_s += time.perf_counter() - t
            rows_read[q] = sum(rows[t] for t in set(probe.names))
            if args.fault == f"drop_rows:{q}":
                pdf = pdf.iloc[1:]
            why = oracle.check(q, registry[q].sql, pdf, recorded)
        except Exception as e:  # a query that raises is a wrong output
            why = f"error: {str(e)[:200]}"
        if why:
            wrong.add(q)
            ctx.problems.append(f"{q}: {why}")
    oracle.close()
    ctx.context["check_s"] = {"spark": spark_s, "total": time.perf_counter() - t_check}
    spark.catalog.clearCache()
    release_caches()

    tr = ctx.tracer
    samples = {
        traced: {q: {"build": [], "exec": [], "total": []} for q in names}
        for traced in (False, True)
    }
    stats: dict[str, list[dict]] = {q: [] for q in names}
    pass_totals: dict[bool, list[float]] = {False: [], True: []}
    loads: list[tuple[int, float]] = []
    t_start = time.perf_counter()
    p = 0
    while True:
        # Pass 0 warms up: after the check pass the queries still run
        # far slower than later passes, so it is left out of every metric.
        warm = p == 0
        traced = bool(args.trace) and p % 2 == 0 and not warm
        tr.enabled = traced
        pass_total = 0.0
        with LoadTableProbe() if traced else contextlib.nullcontext() as probe:
            for i, q in enumerate(names):
                boundary(i)
                fn = registry[q].fn
                g = f"perfbench:{q}:{p}"
                try:
                    with tr.span(q):
                        sc.setJobGroup(g + ":build", q)
                        t0 = time.perf_counter()
                        with tr.span("queries.build"):
                            df = fn(spark, ctx.data)
                        t1 = time.perf_counter()
                        sc.setJobGroup(g + ":exec", q)
                        t2 = time.perf_counter()
                        with tr.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                except Exception as e:
                    ctx.attempted += 1
                    ctx.fail(f"{q}: error: {str(e)[:200]}")
                    continue
                ctx.attempted += 1
                if q in wrong:
                    ctx.failed += 1
                pass_total += t1 - t0 + t3 - t2
                if warm:
                    continue
                s = samples[traced][q]
                s["build"].append(t1 - t0)
                s["exec"].append(t3 - t2)
                s["total"].append(t1 - t0 + t3 - t2)
                if traced:
                    st = ctx.job_stats(g + ":exec")
                    st["build_jobs"] = ctx.job_stats(g + ":build")["jobs"]
                    stats[q].append(st)
        if traced:
            loads.append((probe.calls, probe.seconds))
        if warm:
            ctx.context["warm_pass_s"] = pass_total
        else:
            pass_totals[traced].append(pass_total)
        p += 1
        if p > PASSES + args.trace and time.perf_counter() - t_start >= args.seconds:
            break
    tr.enabled = False
    sc.setJobGroup("perfbench:idle", "")

    total = sum(median(samples[False][q]["total"]) for q in names)
    ctx.e2e.update(query_total_s=total, events_per_s=sum(rows_read.values()) / total)
    ctx.context["pass_s"] = pass_totals[False]
    ctx.context["rows_read"] = sum(rows_read.values())
    if not args.trace:
        return
    lay = ctx.layer
    traced = samples[True]
    lay["queries.build_s"] = sum(median(traced[q]["build"]) for q in names)
    lay["tables.load_table_calls"] = median([c for c, _ in loads])
    lay["tables.load_table_s"] = median([s for _, s in loads])
    for q in names:
        lay[f"{q}.build_s"] = median(traced[q]["build"])
        lay[f"{q}.exec_s"] = median(traced[q]["exec"])
        for key in ("build_jobs", "jobs", "stages"):
            lay[f"{q}.{key}"] = median([st[key] for st in stats[q]])
        for key in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "executor_run_s"):
            lay[f"exec.{key}"] += median([st[key] for st in stats[q]])
    lay["trace.overhead_ratio"] = median(pass_totals[True]) / median(pass_totals[False])


# -- streams -----------------------------------------------------------------


def _line(offset: str | None) -> int:
    """The rcstream offset ``{"line": n}`` as n; a batch that starts
    from the initial offset reports none."""
    try:
        return int(json.loads(offset)["line"])
    except (TypeError, ValueError, KeyError):
        return 0


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """One record per completed micro-batch, keyed by query id."""

        def __init__(self):
            self.batches: dict[str, list[dict]] = {}

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            from datetime import datetime

            p = event.progress
            src = p.sources[0] if p.sources else None
            start = _line(src.startOffset) if src else 0
            end = _line(src.endOffset) if src else start
            latest = _line(src.latestOffset) if src else end
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            dur = dict(p.durationMs or {})
            ops = p.stateOperators or []
            self.batches.setdefault(str(p.id), []).append(
                {
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "start": start,
                    "end": end,
                    "latest": latest,
                    "trigger_start": ts,
                    "commit": ts + dur.get("triggerExecution", 0) / 1000.0,
                    "dur": dur,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()


class Stream:
    """Dimensions, filter spec and listener shared by one stream run."""

    def __init__(self, ctx: Ctx):
        from rc_scanner_spark.filters import FilterSpec
        from rc_scanner_spark.schemas import REVISIONS_SCHEMA, USERS_SCHEMA
        from rc_scanner_spark.sources.sse import RcChangeDataSource

        spark = ctx.spark
        self.ctx = ctx
        with open(os.path.join(ctx.args.run_dir, "dims.json"), encoding="utf-8") as f:
            dims = json.load(f)
        self.users = spark.createDataFrame([tuple(u) for u in dims["users"]], USERS_SCHEMA)
        self.revisions = spark.createDataFrame(
            [tuple(r) for r in dims["revisions"]], REVISIONS_SCHEMA)
        self.spec = FilterSpec(
            name="perfbench",
            streamfilter={"type": ("edit", "create"), "bot": False, "namespace": 2},
            sites=("en.wikipedia.org",),
            max_edits=200,
            regexes=PATTERNS,
            log_level=2,
        )
        spark.dataSource.register(RcChangeDataSource)
        self.listener = _progress_listener()
        spark.streams.addListener(self.listener)
        ctx.stream = self

    def start(self, options: dict, name: str):
        """build_pipeline over an rcstream source (its default options
        plus ``options``) into the flag-log sink."""
        from rc_scanner_spark.streaming.pipeline import build_pipeline, start_flaglog_sink

        tr = self.ctx.tracer
        run = os.path.join(self.ctx.args.run_dir, name)
        reader = self.ctx.spark.readStream.format("rcstream")
        for k, v in options.items():
            reader = reader.option(k, v)
        with tr.span("streaming.build_pipeline"):
            flagged = build_pipeline(reader.load(), self.spec, self.users, self.revisions)
        with tr.span("sinks.start_flaglog_sink"):
            query = start_flaglog_sink(flagged, run + "-sink", run + "-ckpt", query_name=name)
        return query, run + "-sink"

    def batches(self, query, until_offset: int, timeout: float = 60.0) -> list[dict]:
        """Progress records of ``query`` once one reaches
        ``until_offset`` (listener events arrive asynchronously)."""
        deadline = time.time() + timeout
        qid = str(query.id)
        while True:
            got = list(self.listener.batches.get(qid, []))
            if any(b["end"] >= until_offset for b in got) or time.time() > deadline:
                return sorted(got, key=lambda b: b["batch_id"])
            time.sleep(0.02)

    def expected_titles(self, path: str) -> set[str]:
        """The batch twin: ``scanner.scan`` over the same capture."""
        from rc_scanner_spark.scanner import scan
        from rc_scanner_spark.schemas import CHANGE_SCHEMA

        changes = self.ctx.spark.read.schema(CHANGE_SCHEMA).json(path)
        rows = scan(changes, self.spec, self.users, self.revisions).select("title").collect()
        return {r.title for r in rows}

    def check(self, sink: str, expected: set[str], batches: list[dict], n: int,
              fault: bool) -> tuple[int, int, int]:
        """Check one stream's output; returns the sink's (rows, files,
        bytes)."""
        from checks import check_stream, read_sink

        if fault:
            _duplicate_one_sink_row(sink)
        rows, files, size = read_sink(sink)
        problems = check_stream(rows, expected, batches, n)
        for why in problems:
            self.ctx.fail(f"stream: {why}")
        return len(rows), files, size

    def source_probe(self, path: str, ranges: list[tuple[int, int]]) -> None:
        """``ChangeStreamReader.partitions`` and ``read`` called
        directly on the capture with the source's default options."""
        from rc_scanner_spark.schemas import CHANGE_SCHEMA
        from rc_scanner_spark.sources.sse import ChangeStreamReader

        tr, lay = self.ctx.tracer, self.ctx.layer
        reader = ChangeStreamReader(CHANGE_SCHEMA, {"path": path})
        n_parts: list[int] = []
        rows = 0
        t = time.perf_counter()
        with tr.span("sources.sse.read"):
            for lo, hi in ranges:
                parts = reader.partitions({"line": lo}, {"line": hi})
                n_parts.append(len(parts))
                for part in parts:
                    rows += sum(1 for _ in reader.read(part))
        lay["sse.partitions_per_batch"] = median(n_parts)
        lay["sse.read_rows_per_s"] = rows / (time.perf_counter() - t)

    def layer_from_batches(self, batches: list[dict]) -> None:
        lay = self.ctx.layer
        dur = [b["dur"] for b in batches]
        lay["stream.batches"] = len(batches)
        lay["stream.rows_per_batch_p50"] = median([b["rows"] for b in batches])
        trig = [d.get("triggerExecution", 0) for d in dur]
        lay["stream.trigger_ms_p50"] = median(trig)
        lay["stream.trigger_ms_p99"] = pct(trig, 99)
        for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                          ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
            lay[f"stream.{name}_ms_p50"] = median([d.get(key, 0) for d in dur])
        lay["sse.latest_offset_ms"] = median([d.get("latestOffset", 0) for d in dur])
        # events the source offered but no batch had taken at a trigger
        lay["sse.lag_events_max"] = max((b["latest"] - b["start"] for b in batches), default=0)
        lay["state.rows_total"] = max((b["state_rows"] for b in batches), default=0)
        lay["state.memory_bytes"] = max((b["state_bytes"] for b in batches), default=0)
        lay["state.commit_ms"] = median([b["state_commit_ms"] for b in batches])

    def exec_layer(self, run_ids: list[str]) -> None:
        lay = self.ctx.layer
        totals = [self.ctx.job_stats(r) for r in run_ids]
        for key in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "executor_run_s"):
            lay[f"exec.{key}"] = median([t[key] for t in totals])


def _duplicate_one_sink_row(sink: str) -> None:
    """Seeded fault for the benchmark's own tests: the first flagged
    row is written to the sink a second time."""
    import glob

    for path in sorted(glob.glob(os.path.join(sink, "epoch=*", "part-*"))):
        with open(path, encoding="utf-8") as f:
            first = f.readline()
        if first.strip():
            with open(path, "a", encoding="utf-8") as f:
                f.write(first if first.endswith("\n") else first + "\n")
            return


def run_replay(ctx: Ctx) -> None:
    args = ctx.args
    path = os.path.join(args.run_dir, "capture.jsonl")
    warm_path = os.path.join(args.run_dir, "warm.jsonl")
    tr = ctx.tracer

    def first_batch(ctx: Ctx) -> Stream:
        # a short replay through the same plan, into a sink of its own
        stream = ctx.stream or Stream(ctx)
        query, _ = stream.start({"path": warm_path}, f"warm{len(ctx.get_spark_s)}")
        query.processAllAvailable()
        query.stop()
        return stream

    stream = ctx.set_up(SETUPS["stream"], first_batch, restart=False)
    expected = stream.expected_titles(path)

    drains: dict[bool, list[float]] = {False: [], True: []}
    latencies: list[float] = []
    busy: list[float] = []
    traced_batches: list[dict] = []
    sink_stats: list[tuple[int, int, int]] = []
    run_ids: list[str] = []
    t_start = time.perf_counter()
    k = 0
    while True:
        # Drain 0 warms up: the first full backlogs of a run still run
        # slower than later ones, so it is checked but left out of
        # every metric.
        warm = k == 0
        traced = bool(args.trace) and k % 2 == 0 and not warm
        tr.enabled = traced
        t0 = time.time()
        with tr.span("stream.drain"):
            query, sink = stream.start({"path": path}, f"drain{k}")
            with tr.span("stream.process_all_available"):
                query.processAllAvailable()
        t1 = time.time()
        query.stop()
        batches = stream.batches(query, args.events)
        ctx.attempted += args.events
        sink_stats.append(stream.check(sink, expected, batches, args.events,
                                       fault=args.fault == "dup_sink_event" and k == 0))
        if warm:
            ctx.context["warm_drain_s"] = t1 - t0
        elif traced:
            drains[True].append(t1 - t0)
            run_ids.append(str(query.runId))
            traced_batches += batches
            for b in batches:
                tr.add("stream.micro_batch", b["trigger_start"], b["commit"],
                       batch_id=b["batch_id"], rows=b["rows"])
        else:
            drains[False].append(t1 - t0)
            busy.append(sum(b["dur"].get("triggerExecution", 0) for b in batches) / 1000.0)
            for b in batches:
                latencies += [b["commit"] - t0] * b["rows"]
        k += 1
        if k > PASSES + args.trace and time.perf_counter() - t_start >= args.seconds:
            break
    tr.enabled = False

    drain = median(drains[False])
    ctx.e2e.update(
        query_total_s=median(busy),
        events_per_s=args.events / drain,
        latency_p50_ms=1000 * pct(latencies, 50),
        latency_p99_ms=1000 * pct(latencies, 99),
    )
    ctx.context["drains"] = k
    ctx.context["drain_s"] = drains[False]
    ctx.context["busy_s"] = busy
    if not args.trace:
        return
    lay = ctx.layer
    stream.layer_from_batches(traced_batches)
    lay["stream.batches"] = len(traced_batches) / len(run_ids)
    stream.exec_layer(run_ids)
    stream.source_probe(path, [(0, args.events)])
    rows = median([s[0] for s in sink_stats])
    lay["sink.rows"] = rows
    lay["sink.files"] = median([s[1] for s in sink_stats])
    lay["sink.bytes"] = median([s[2] for s in sink_stats])
    lay["filters.flagged_ratio"] = rows / args.events
    lay["trace.overhead_ratio"] = median(drains[True]) / drain


def run_live(ctx: Ctx) -> None:
    args = ctx.args
    gen = os.path.join(args.run_dir, "gen")
    tr = ctx.tracer
    port = _wait_file(os.path.join(gen, "port"), 30.0)

    def first_batch(ctx: Ctx):
        stream = Stream(ctx)
        query, sink = stream.start({"url": f"http://127.0.0.1:{port}/"}, "live")
        return stream, query, sink, stream.batches(query, 1)

    # The open-loop feed cannot wait for more set-ups: one, from the
    # spawn to the commit of the first live micro-batch.
    stream, query, sink, first = ctx.set_up(1, first_batch)
    if not first:
        raise RuntimeError("no micro-batch within 60 s of the stream start")
    win_start = first[0]["commit"]
    ctx.e2e["setup_s"] = win_start - args.spawn_time
    t0 = float(_wait_file(os.path.join(gen, "t0"), 5.0))
    rate = args.rate

    # Measured window: events due in [win_start, win_start + seconds).
    # With --trace 1 the first half runs untraced, the second traced.
    win_end = win_start + args.seconds
    half = win_start + args.seconds / 2
    if args.trace:
        time.sleep(max(0.0, half - time.time()))
        tr.enabled = True
    time.sleep(max(0.0, win_end - time.time()))
    open(os.path.join(gen, "stop"), "w").close()
    stats = json.loads(_wait_file(os.path.join(gen, "stats.json"), 30.0))
    sent = stats["sent"]
    batches = stream.batches(query, sent)
    query.stop()
    tr.enabled = False

    prefix = os.path.join(args.run_dir, "delivered.jsonl")
    with open(os.path.join(args.run_dir, "capture.jsonl"), encoding="utf-8") as src, \
            open(prefix, "w", encoding="utf-8") as dst:
        for i, line in enumerate(src):
            if i >= sent:
                break
            dst.write(line)
    ctx.attempted += sent
    n_rows, n_files, n_bytes = stream.check(
        sink, stream.expected_titles(prefix), batches, sent,
        fault=args.fault == "dup_sink_event")

    latencies: list[float] = []
    delivered = 0
    lo = math.ceil((win_start - t0) * rate)
    hi = min(sent, math.ceil((win_end - t0) * rate))
    for b in batches:
        for i in range(max(b["start"], lo), min(b["end"], hi)):
            latencies.append(b["commit"] - (t0 + i / rate))
            delivered += 1
    window = [b for b in batches if b["batch_id"] > 0 and b["trigger_start"] < win_end]
    ctx.e2e.update(
        query_total_s=sum(b["dur"].get("triggerExecution", 0) for b in window) / 1000.0,
        events_per_s=delivered / args.seconds,
        latency_p50_ms=1000 * pct(latencies, 50),
        latency_p99_ms=1000 * pct(latencies, 99),
    )
    ctx.context["generator"] = stats
    ctx.context["window_events"] = hi - lo
    ctx.context["batches"] = len(batches)
    if not args.trace:
        return
    lay = ctx.layer
    second = [b for b in window if b["trigger_start"] >= half]
    first_half = [b for b in window if b["trigger_start"] < half]
    for b in second:
        tr.add("stream.micro_batch", b["trigger_start"], b["commit"],
               batch_id=b["batch_id"], rows=b["rows"])
    stream.layer_from_batches(second)
    stream.exec_layer([str(query.runId)])
    stream.source_probe(prefix, [(b["start"], b["end"]) for b in second])
    lay["sink.rows"] = n_rows
    lay["sink.files"] = n_files
    lay["sink.bytes"] = n_bytes
    lay["filters.flagged_ratio"] = n_rows / sent
    # live: due by the generator's schedule, not just offered
    lay["sse.lag_events_max"] = max(
        (min(sent, math.floor((b["trigger_start"] - t0) * rate) + 1) - b["start"]
         for b in window), default=0)
    trig = [b["dur"].get("triggerExecution", 0) for b in first_half]
    lay["trace.overhead_ratio"] = (
        median([b["dur"].get("triggerExecution", 0) for b in second]) / median(trig)
        if trig else 1.0)


def _wait_file(path: str, timeout: float) -> str:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"{os.path.basename(path)} not written in {timeout:.0f} s")
        time.sleep(0.02)
    with open(path, encoding="utf-8") as f:
        return f.read()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--events", type=int, default=0)
    ap.add_argument("--rate", type=float, default=0.0)
    ap.add_argument("--fault", default="")
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    ctx = Ctx(args)
    with open(os.path.join(args.run_dir, "inputs.json"), encoding="utf-8") as f:
        ctx.context["table_rows"] = json.load(f)["table_rows"]
    if args.workload.startswith("batch"):
        ctx.set_up(SETUPS["batch"])
        run_batch(ctx)
    elif args.workload == "stream_replay":
        run_replay(ctx)
    else:
        run_live(ctx)
    if args.trace:
        ctx.layer["jvm.heap_peak_mb"] = ctx.heap_peak_mb()
        ctx.tracer.write(args.spans)
    metrics = ctx.layer if args.trace else ctx.e2e
    with open(args.result + ".tmp", "w", encoding="utf-8") as f:
        json.dump(
            {
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "problems": ctx.problems,
                "metrics": metrics,
                "context": ctx.context,
            },
            f,
        )
    os.replace(args.result + ".tmp", args.result)
    ctx.spark.stop()


if __name__ == "__main__":
    main()
