"""Run isolation, Spark session start-up, JVM probes, span tracing and
summary statistics shared by the workloads.

Nothing here changes the program under test: the session comes from
``trialstreamer_spark.session.get_spark`` and every probe reads the JVM
from outside (py4j management beans, the status tracker, /proc).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: defaults for the two existing sizing variables when the caller does not
#: set them: a fixed core count keeps runs comparable across machines, and
#: a small heap keeps the benchmark from claiming most of a shared box
#: (the session's own default is 24g).
DEFAULT_CPUS = "4"
DEFAULT_DRIVER_MEM = "3g"


def isolate(run_root: str) -> dict:
    """Point every on-disk location the package and Spark use at a fresh
    directory under ``run_root``, so no run reads an earlier run's
    sidecars, buckets, spill or checkpoints. Must run before the JVM
    starts. Returns the effective settings for the report."""
    if os.path.exists(run_root):
        shutil.rmtree(run_root)
    tmp = os.path.join(run_root, "tmp")
    for d in ("tmp", "local", "sidecars", "buckets", "sql-warehouse"):
        os.makedirs(os.path.join(run_root, d))
    env = os.environ
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    env["SPARK_GRAFT_SIDECAR_DIR"] = os.path.join(run_root, "sidecars")
    env["SPARK_GRAFT_BUCKET_DIR"] = os.path.join(run_root, "buckets")
    env["TMPDIR"] = tmp
    # Python workers start from a fresh interpreter: without the checkout
    # on their path the mapInPandas parse cannot import the package.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    env.setdefault("SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f'--conf "spark.driver.extraJavaOptions={java_opts}"',
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.sql.warehouse.dir="
            + os.path.join(run_root, "sql-warehouse"),
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "spark.driver.memory": env["SPARK_DRIVER_MEM"],
    }


def start_session(app: str):
    """The package's own session factory, plus one trivial job so the
    returned session has launched its executor threads."""
    from trialstreamer_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the context, then end the JVM process and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate, never leave it running
            proc.kill()
            proc.wait(timeout=30)


class Jvm:
    """Read-only probes of the session's JVM."""

    def __init__(self, spark):
        self.spark = spark
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gcs))

    def heap_used_mb(self) -> float:
        return self._mem.getHeapMemoryUsage().getUsed() / 2**20

    def retained_heap_mb(self) -> float:
        """Heap still in use after a full collection: what the session
        keeps alive (caches, broadcast and plan state) once work stops."""
        self.spark._jvm.java.lang.System.gc()
        return self.heap_used_mb()

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM process: its peak resident set since start."""
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not reported")


def job_floor_ms(spark) -> float:
    """Per-job scheduler floor via the repository's own probe."""
    from tools.bench_floor import measure_floor

    return measure_floor(spark)["floor_median"] * 1000.0


# -- tracing ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    group: str = ""
    gc_ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory spans around calls into the package's public functions.

    Each span runs under its own Spark job group, so the status tracker
    attributes jobs, stages and tasks to it after the run; GC time comes
    from the JVM's collector beans at span entry and exit. Inactive (an
    untraced run, or an untraced operation of a traced run), a span is a
    bare ``yield`` and costs nothing."""

    def __init__(self, spark, jvm: Jvm, active: bool):
        self.spark = spark
        self.jvm = jvm
        self.active = active
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, request: int | None = None):
        if not self.active:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        group = f"perfbench-{idx}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        sp = Span(name, layer, 0.0, parent=parent, request=request, group=group)
        self.spans.append(sp)
        self._stack.append(idx)
        sp.gc_ms = -self.jvm.gc_ms()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.gc_ms += self.jvm.gc_ms()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def resolve_counts(self) -> None:
        """Attribute jobs/stages/tasks to spans from the status tracker.
        ``span.extra["groups"]`` lists job groups Spark set itself (a
        streaming query runs its batches under its run id)."""
        st = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            for g in [sp.group, *sp.extra.get("groups", [])]:
                for jid in st.getJobIdsForGroup(g):
                    info = st.getJobInfo(jid)
                    if info is None:
                        continue
                    sp.jobs += 1
                    for sid in info.stageIds:
                        sinfo = st.getStageInfo(sid)
                        if sinfo is not None:
                            sp.stages += 1
                            sp.tasks += sinfo.numTasks

    def self_ms(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        sp = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.ms - covered * 1000.0

    def inclusive(self, idx: int, attr: str) -> float:
        """A counter summed over a span and all its descendants."""
        total = getattr(self.spans[idx], attr)
        for j, c in enumerate(self.spans):
            if c.parent == idx:
                total += self.inclusive(j, attr)
        return total


# -- statistics ------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return float(s[k])


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs))




# -- the run ---------------------------------------------------------------

#: printed with --trace 0, on every workload (BENCHMARK.json end_to_end)
END_TO_END = {
    "setup_s": "s",
    "op_latency_ms": "ms",
    "ops_per_s": "1/s",
}

#: package layers a span can belong to; "bench" is the benchmark's own
#: code inside a timed operation
LAYERS = (
    "api.engine",
    "api.query_ast",
    "plans.postings",
    "sources.pubmed_xml",
    "streaming.pipeline",
    "functions.annotate",
    "operators.upsert",
    "io.sidecars",
    "registry",
)

#: layer statistics a workload records (median over its samples; 0 on a
#: workload that never reaches the layer)
LAYER_STATS = {
    "operators.upsert.bytes_written_mb": "MB",
    "operators.upsert.write_amplification": "ratio",
    "operators.upsert.versions_on_disk": "count",
    "streaming.pipeline.n_files": "count",
    "sources.pubmed_xml.records_per_s": "1/s",
    "sidecars.bytes_on_disk_mb": "MB",
    **{f"prepare.{h}_s": "s" for h in registry.HOOKS},
}

#: per registry query, the median over its traced executions:
#: suffix -> (unit, value of one span)
REGISTRY_STATS = {
    "_s": ("s", lambda sp: sp.ms / 1000.0),
    "_jobs": ("count", lambda sp: sp.jobs),
    "_gc_ms": ("ms", lambda sp: sp.gc_ms),
}


def per_layer_units() -> dict[str, str]:
    """printed with --trace 1, on every workload (BENCHMARK.json per_layer)"""
    units = {
        "session.job_floor_start_ms": "ms",
        "session.job_floor_end_ms": "ms",
        "session.gc_ms_per_op": "ms",
        "session.jobs_per_op": "count",
        "session.stages_per_op": "count",
        "session.tasks_per_op": "count",
        "trace.overhead_pct": "%",
        "trace.spans": "count",
    }
    for layer in LAYERS:
        units[f"{layer}.calls"] = "count"
        units[f"{layer}.jobs"] = "count"
        units[f"{layer}.self_pct"] = "%"
    units.update(LAYER_STATS)
    for q in registry.QUERIES:
        for suffix, (unit, _value) in REGISTRY_STATS.items():
            units[f"registry.{q}{suffix}"] = unit
    return units


class SetupFailed(Exception):
    """Every set-up repetition failed: the run has nothing to measure."""


@dataclass
class Op:
    """One timed operation of a workload's closed loop."""

    kind: str
    traced: bool
    seconds: float = 0.0
    gc_ms: float = 0.0
    heap_mb: float = 0.0
    span: int | None = None
    ok: bool = True
    request: dict | None = None
    rows: list | None = None


class Bench:
    """State of one benchmark run: the session, the timed operations,
    the correctness tally, the spans and the report."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 run_root: str, settings: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_root = run_root
        self.spark = None
        self.jvm: Jvm | None = None
        self.tracer: Tracer | None = None
        self.ops: list[Op] = []
        self.setup_s: list[float] = []
        self.session_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.stats: dict[str, list[float]] = {}
        self.floor_ms: dict[str, float] = {}
        self.peak_rss_mb = 0.0
        self.retained_heap_mb = 0.0
        #: operation kinds behind op_latency_ms and ops_per_s (None: all)
        self.primary: tuple[str, ...] | None = None
        self.report: dict = {"workload": workload, "seed": seed,
                             "trace": trace, "settings": settings}
        #: wall-clock phase boundaries of the whole run, for its budget
        self.phases: dict[str, float] = {"begin": time.perf_counter()}

    # -- phases ------------------------------------------------------------

    def start(self):
        t0 = self.phases["inputs"] = time.perf_counter()
        self.spark = start_session(f"perfbench-{self.workload}")
        self.session_s = time.perf_counter() - t0
        self.jvm = Jvm(self.spark)
        self.tracer = Tracer(self.spark, self.jvm, self.trace)
        return self.spark

    def set_up(self, fn, reps: int):
        """Run the workload's set-up ``reps`` times; a failing rep is a
        failed operation, never swallowed. Returns the last successful
        rep's value; raises SetupFailed when no rep succeeded."""
        value = None
        for _ in range(reps):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                value = fn()
            except Exception as exc:  # noqa: BLE001 — counted and reported
                self._fail(f"set-up: {exc!r}")
                continue
            self.setup_s.append(time.perf_counter() - t0)
        if not self.setup_s:
            raise SetupFailed(f"all {reps} set-up repetitions failed")
        return value

    def warm_up(self, fn) -> None:
        """Untimed work between set-up and the timed loop; a failure is
        a failed operation."""
        self.phases["setup"] = time.perf_counter()
        self.attempted += 1
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — counted and reported
            self._fail(f"warm-up: {exc!r}")
        self.phases["warm_up"] = time.perf_counter()

    def loop(self, op, period: int = 1, min_blocks: int = 1,
             max_ops: int | None = None) -> None:
        """Closed loop: call ``op(i, traced)`` in whole blocks of ``period``
        operations, at least ``min_blocks`` of them, until the timed
        operations add up to ``--seconds``; whole blocks keep the mix the
        same in every run. With tracing on, blocks run untraced, traced,
        untraced (repeating), at least three of them, so each operation
        kind is measured both ways and, the traced block lying midway
        between two untraced ones, a linear warm-up trend through the run
        cancels out of the overhead estimate."""
        self.phases.setdefault("setup", time.perf_counter())
        self.floor_ms["start"] = job_floor_ms(self.spark)
        if self.trace:
            min_blocks = max(min_blocks, 3)
        # a program whose operations all fail fast must still end the run
        deadline = time.perf_counter() + 4 * self.seconds + 120
        i = 0
        while (
            sum(o.seconds for o in self.ops) < self.seconds
            or i % period
            or i < min_blocks * period
        ) and i != max_ops and time.perf_counter() < deadline:
            traced = self.trace and (i // period) % 3 == 1
            self.tracer.active = traced
            try:
                op(i, traced)
            finally:
                self.tracer.active = self.trace
            i += 1
        self.floor_ms["end"] = job_floor_ms(self.spark)
        self.peak_rss_mb = self.jvm.peak_rss_mb()
        self.retained_heap_mb = self.jvm.retained_heap_mb()
        self.phases["loop"] = time.perf_counter()

    @contextmanager
    def timed(self, kind: str, traced: bool):
        """Time one operation. An exception fails the operation and the
        loop goes on; its time counts towards the run, its latency is not
        counted."""
        rec = Op(kind, traced)
        self.ops.append(rec)
        self.attempted += 1
        gc0 = self.jvm.gc_ms()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", "bench") as sp:
                rec.span = None if sp is None else len(self.tracer.spans) - 1
                yield rec
        except Exception as exc:  # noqa: BLE001 — counted and reported
            rec.ok = False
            self._fail(f"{kind}: {exc!r}")
        rec.seconds = time.perf_counter() - t0
        rec.gc_ms = self.jvm.gc_ms() - gc0
        rec.heap_mb = self.jvm.heap_used_mb()

    def check(self, fn, rec: Op | None = None) -> None:
        """Run a correctness check; a failure fails ``rec`` (or counts as
        a failed operation of its own)."""
        if rec is None:
            self.attempted += 1
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — counted and reported
            if rec is not None:
                rec.ok = False
            self._fail(f"check{'' if rec is None else ' ' + rec.kind}: {exc!r}")

    def stat(self, name: str, value: float) -> None:
        self.stats.setdefault(name, []).append(float(value))

    def _fail(self, msg: str) -> None:
        import traceback

        self.failed += 1
        self.errors.append(msg[:500])
        traceback.print_exc(file=sys.stderr)

    # -- results -----------------------------------------------------------

    def latencies_ms(self, kinds=None, traced: bool = False) -> list[float]:
        return [o.seconds * 1000 for o in self.ops
                if o.ok and o.traced == traced and (kinds is None or o.kind in kinds)]

    def end_to_end(self) -> dict[str, float]:
        """Per operation kind medians, combined by geometric mean: the
        kinds' latencies are far apart, so a percentile of the pooled
        sample would jump between kinds from run to run."""
        kinds = sorted({o.kind for o in self.ops if self.primary is None
                        or o.kind in self.primary})
        timed_s = sum(o.seconds for o in self.ops if not o.traced)
        return {
            "setup_s": self.session_s + median(self.setup_s),
            "op_latency_ms": geomean([median(self.latencies_ms([k])) for k in kinds]),
            "ops_per_s": len(self.latencies_ms(self.primary)) / timed_s,
        }

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        tr.resolve_counts()
        op_spans = [o.span for o in self.ops if o.span is not None and o.ok]
        n = max(1, len(op_spans))
        roots = [i for i, s in enumerate(tr.spans) if s.parent is None]
        root_ms = sum(tr.spans[i].ms for i in roots) or 1.0
        out = {
            "session.job_floor_start_ms": self.floor_ms["start"],
            "session.job_floor_end_ms": self.floor_ms["end"],
            "session.gc_ms_per_op": sum(o.gc_ms for o in self.ops) / max(1, len(self.ops)),
            "session.jobs_per_op": sum(tr.inclusive(i, "jobs") for i in op_spans) / n,
            "session.stages_per_op": sum(tr.inclusive(i, "stages") for i in op_spans) / n,
            "session.tasks_per_op": sum(tr.inclusive(i, "tasks") for i in op_spans) / n,
            "trace.overhead_pct": self.trace_overhead_pct(),
            "trace.spans": len(tr.spans),
        }
        for layer in LAYERS:
            idx = [i for i, s in enumerate(tr.spans) if s.layer == layer]
            out[f"{layer}.calls"] = len(idx)
            out[f"{layer}.jobs"] = sum(tr.spans[i].jobs for i in idx)
            out[f"{layer}.self_pct"] = 100.0 * sum(tr.self_ms(i) for i in idx) / root_ms
        for name in LAYER_STATS:
            out[name] = median(self.stats[name]) if name in self.stats else 0.0
        for q in registry.QUERIES:
            spans = [s for s in tr.spans if s.name == f"registry.{q}"]
            for suffix, (_unit, value) in REGISTRY_STATS.items():
                out[f"registry.{q}{suffix}"] = (
                    median([value(s) for s in spans]) if spans else 0.0
                )
        return out

    def trace_overhead_pct(self) -> float:
        """Traced over untraced median latency per operation kind,
        geometric mean over kinds, as a percentage above 1."""
        ratios = []
        for kind in sorted({o.kind for o in self.ops}):
            on = self.latencies_ms([kind], traced=True)
            off = self.latencies_ms([kind], traced=False)
            if on and off:
                ratios.append(median(on) / median(off))
        return (geomean(ratios) - 1.0) * 100.0 if ratios else 0.0

    def span_table(self) -> list[dict]:
        tr = self.tracer
        return [
            {"name": s.name, "layer": s.layer, "parent": s.parent,
             "request": s.request, "ms": s.ms, "self_ms": tr.self_ms(i),
             "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
             "gc_ms": s.gc_ms, **{k: v for k, v in s.extra.items() if k != "groups"}}
            for i, s in enumerate(tr.spans)
        ]

    def finish(self) -> dict:
        """The result object: end-to-end metrics untraced, per-layer
        metrics traced. The full report goes into ``self.report``."""
        if self.trace:
            metrics = self.per_layer()
            units = per_layer_units()
            self.report["spans"] = self.span_table()
        else:
            metrics = self.end_to_end()
            units = END_TO_END
            # box-speed drift stamp: latency in units of the run's mean
            # job floor (across runs it tracks op_latency_ms closely)
            self.report["op_latency_per_floor"] = metrics["op_latency_ms"] / (
                (self.floor_ms["start"] + self.floor_ms["end"]) / 2
            )
        self.phases["checks"] = time.perf_counter()
        marks = list(self.phases.items())
        self.report.update({
            "phase_s": {k: t - marks[i][1] for i, (k, t) in enumerate(marks[1:])},
            "session_start_s": self.session_s,
            "peak_rss_mb": self.peak_rss_mb,
            "retained_heap_mb": self.retained_heap_mb,
            "setup_reps_s": self.setup_s,
            "job_floor_ms": self.floor_ms,
            "ops_failed_ratio": self.failed / max(1, self.attempted),
            "errors": self.errors,
            "per_op": [
                {"kind": o.kind, "traced": o.traced, "ok": o.ok,
                 "ms": o.seconds * 1000, "gc_ms": o.gc_ms, "heap_mb": o.heap_mb}
                for o in self.ops
            ],
            "layer_stats": {k: median(v) for k, v in sorted(self.stats.items())},
        })
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }

    def abandoned(self) -> dict:
        """The result of a run whose set-up never succeeded: nothing was
        measured, and every failure is counted."""
        self.report.update({"setup_reps_s": self.setup_s, "errors": self.errors})
        return {"correct": False, "attempted": self.attempted,
                "failed": self.failed, "metrics": {}}
