"""``daily_update``: the cron loop, writes beside reads.

Set-up builds a warehouse the way the update tests do (fixture tables
linked into a fresh root) and ingests a baseline file. Then, one file at
a time, the loop lands a seeded update file and runs
``update.update_pubmed`` (timed as ``update_file``), followed by a fixed
read probe (timed as ``read_probe``): the landed pmids looked up in
``pubmed_raw``, then ``meta``, ``covid19`` and a ``picosearch``. After
every file, outside the timed region, ``pubmed_raw`` must equal the
pure-Python replay of the landed files.

With tracing on, the traced files (the middle one of every three) run
``update_pubmed``'s constituent public calls under spans instead of the
one call, and a side-effect-free re-parse of the file splits parse time
from the stream's addBatch time.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from perfbench import harness as H
from perfbench import inputs, oracles

SETUP_REPS = 2
PROBE_TERMS = [{"field": "population", "cui": "C0000001"}]


class StreamProgress:
    """A StreamingQueryListener that keeps each query's progress events
    and signals termination, so a span can read its micro-batch figures."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                with outer.lock:
                    outer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.append(str(event.runId))
                    outer.changed.notify_all()

        self.lock = threading.Lock()
        self.changed = threading.Condition(self.lock)
        self.progress: list = []
        self.started: list[str] = []
        self.terminated: list[str] = []
        self.listener = Listener()

    def runs_since(self, n_started: int, timeout: float = 30.0) -> tuple[list, list]:
        """Run ids of the queries started after the first ``n_started``,
        once each has terminated, and their progress events. Listener
        events arrive asynchronously, after the query has returned."""
        with self.changed:
            self.changed.wait_for(
                lambda: len(self.started) > n_started
                and set(self.started[n_started:]) <= set(self.terminated),
                timeout,
            )
            runs = self.started[n_started:]
            return runs, [p for p in self.progress if str(p.runId) in runs]


def _link_fixture(fixture: str, wh: str) -> None:
    os.makedirs(wh)
    for fn in os.listdir(fixture):
        if fn.endswith(".parquet"):
            os.symlink(os.path.join(fixture, fn), os.path.join(wh, fn))


def _written(wh: str) -> dict[str, int]:
    """path → size of every regular file the update path wrote."""
    out = {}
    for dirpath, _dirs, files in os.walk(wh):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                out[p] = os.path.getsize(p)
    return out


def _versions(wh: str) -> int:
    n = 0
    for t in os.listdir(wh):
        d = os.path.join(wh, t)
        if os.path.isdir(d) and not os.path.islink(d):
            n += sum(1 for v in os.listdir(d) if v[:1] == "v" and v[1:].isdigit())
    return n


def _rows_on_disk(table_dir: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(table_dir, "_current")):
        return 0
    with open(os.path.join(table_dir, "_current")) as f:
        v = f.read().strip()
    return pq.ParquetDataset(os.path.join(table_dir, v)).read(columns=[]).num_rows


def run(b: H.Bench) -> None:
    from fixtures.generate import generate
    from pyspark.sql import functions as F

    from trialstreamer_spark.api import engine
    from trialstreamer_spark.update import update_pubmed

    fixture = os.path.join(b.run_root, "fixture")
    generate(fixture, n_pubmed=inputs.UPDATE_PUBMED_ROWS, seed=inputs.WAREHOUSE_SEED)
    # more files than any run lands: a cycle takes several seconds
    files = inputs.write_update_files(
        b.seed, os.path.join(b.run_root, "updates"), n_files=int(b.seconds) + 8
    )
    baseline, updates = files[0], files[1:]
    parsed = {p: oracles.parse_update_file(p) for p in files}

    spark = b.start()
    progress = StreamProgress() if b.trace else None

    reps = iter(range(SETUP_REPS))

    def set_up():
        rep = next(reps)
        wh = os.path.join(b.run_root, f"wh{rep}")
        landing = os.path.join(b.run_root, f"landing{rep}")
        _link_fixture(fixture, wh)
        os.makedirs(landing)
        shutil.copy(baseline, landing)
        update_pubmed(spark, landing, wh)
        return wh, landing

    wh, landing = b.set_up(set_up, SETUP_REPS)
    ann_dir = os.path.join(wh, "pubmed_annotations")
    state = oracles.replay([baseline])
    b.check(lambda: _expect_raw(wh, state))
    tables = engine.Tables(spark, wh)
    b.primary = ("update_file",)

    def probe(landed: list[str]) -> dict:
        seen = {}
        with b.tracer.span("operators.upsert.read", "operators.upsert"):
            seen["raw"] = (
                tables.t("pubmed_raw")
                .filter(F.col("pmid").isin(landed))
                .select("pmid")
                .collect()
            )
        for name, call in (
            ("meta", lambda: engine.meta(tables)),
            ("covid19", lambda: engine.covid19(tables)),
            ("picosearch", lambda: engine.picosearch(tables, PROBE_TERMS)),
        ):
            with b.tracer.span(f"api.engine.{name}", "api.engine"):
                seen[name] = call().collect()
        return seen

    # set-up already ran the update path twice; warm the read path once
    b.warm_up(lambda: probe(sorted(state)[:200]))

    def op(i: int, traced: bool) -> None:
        nonlocal state
        path = updates[i]
        arts, dels = parsed[path]
        landed = sorted({p for p, _ in arts} | set(dels))
        stream_span = None
        if traced:
            # the tracer's own bookkeeping stays outside the timed
            # operation; the listener is registered for traced files only
            before = _written(wh)
            ann_rows = _rows_on_disk(ann_dir)
            n_started = len(progress.started)
            spark.streams.addListener(progress.listener)
        try:
            with b.timed("update_file", traced) as rec:
                rec.request = {"file": os.path.basename(path), "records": len(arts) + len(dels)}
                shutil.copy(path, landing)
                if traced:
                    stream_span = _traced_update(b, spark, wh, landing)
                else:
                    update_pubmed(spark, landing, wh)
            if stream_span is not None:
                _stream_stats(b, progress, n_started, stream_span)
        finally:
            if traced:
                spark.streams.removeListener(progress.listener)
        state = oracles.replay([path], state)
        b.check(lambda: _expect_raw(wh, state))
        if traced:
            b.stat("functions.annotate.rows", _rows_on_disk(ann_dir) - ann_rows)
            _write_stats(b, wh, before, path)
            _reparse(b, spark, path, len(arts) + len(dels))
        seen = {}
        with b.timed("read_probe", traced):
            seen.update(probe(landed))
        want = {p for p in landed if p in state}
        b.check(lambda: _expect_probe(seen, want))

    b.loop(op, max_ops=len(updates))

    upd = [o for o in b.ops if o.kind == "update_file" and o.ok and not o.traced]
    b.report.update(
        {
            "update_file_p50_s": H.median([o.seconds for o in upd]),
            "update_records_per_s": sum(o.request["records"] for o in upd)
            / sum(o.seconds for o in upd),
            "read_after_write_p50_ms": H.median(b.latencies_ms(["read_probe"])),
            "files_landed": len(upd),
        }
    )


def _expect_raw(wh: str, state: dict) -> None:
    got = oracles.raw_state(wh)
    if got != state:
        missing = sorted(set(state) - set(got))[:5]
        extra = sorted(set(got) - set(state))[:5]
        stale = sorted(p for p in set(got) & set(state) if got[p] != state[p])[:5]
        raise AssertionError(
            f"pubmed_raw != replay: missing {missing} extra {extra} stale {stale}"
        )


def _expect_probe(seen: dict, want: set) -> None:
    got = {r.pmid for r in seen["raw"]}
    if got != want:
        raise AssertionError(f"landed pmids visible {len(got)} != {len(want)}")
    if not seen["meta"] or seen["meta"][0].last_updated is None:
        raise AssertionError("meta has no fullcheck watermark")


def _traced_update(b: H.Bench, spark, wh: str, landing: str):
    """update.update_pubmed, one public call per span. Returns the
    stream's span."""
    from pyspark.sql import functions as F

    from trialstreamer_spark.functions.annotate import incremental_annotate
    from trialstreamer_spark.operators.upsert import ParquetTable
    from trialstreamer_spark.streaming.pipeline import PubmedPipeline

    pipe = PubmedPipeline(spark, wh)
    with b.tracer.span("streaming.pipeline.run_stream", "streaming.pipeline") as stream:
        pipe.run_stream(landing, os.path.join(wh, "_checkpoint"))

    articles = pipe.articles.read().select(
        "pmid", F.col("title"), F.col("abstract_plaintext")
    )
    ann_dir = os.path.join(wh, "pubmed_annotations")
    ann_table = ParquetTable(spark, ann_dir)
    done = (
        ann_table.read().select("pmid")
        if ann_table.current_version() is not None
        else spark.createDataFrame([], "pmid string")
    )
    with b.tracer.span("functions.annotate.incremental_annotate", "functions.annotate"):
        t0 = time.perf_counter()
        new_ann = incremental_annotate(articles, done, None, pico=True)
        nonempty = new_ann.limit(1).count()
        b.stat("functions.annotate.incremental_s", time.perf_counter() - t0)
    if nonempty:
        with b.tracer.span("operators.upsert.merge", "operators.upsert"):
            t0 = time.perf_counter()
            ann_table.merge(new_ann, "pmid")
            b.stat("operators.upsert.merge_s", time.perf_counter() - t0)
    with b.tracer.span("streaming.pipeline.log_run", "streaming.pipeline"):
        pipe.log_run("fullcheck")
    return stream


def _stream_stats(b: H.Bench, progress: StreamProgress, n_started: int, span) -> None:
    """Micro-batch figures of the streams a traced file started, from the
    listener's events (they arrive after the query has returned)."""
    runs, events = progress.runs_since(n_started)
    # Spark runs a stream's micro-batch jobs under its run id as job group
    span.extra["groups"] = runs
    batches = [p for p in events if p.numInputRows]
    span.extra["batches"] = [
        {"source_rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
        for p in batches
    ]
    for p in batches:
        b.stat("streaming.pipeline.trigger_ms", p.durationMs.get("triggerExecution", 0))
        b.stat("streaming.pipeline.add_batch_ms", p.durationMs.get("addBatch", 0))
    # both counts read the same: each action of the micro-batch re-reads
    # the landed files, and the pipeline's observed file count sees every
    # read (so lower is better: one read per landed file is the floor)
    stats = [p.observedMetrics.get("batch_stats") for p in batches]
    if all(stats):
        b.stat("streaming.pipeline.n_files", sum(st["n_files"] for st in stats))
    b.stat("streaming.pipeline.source_rows", sum(p.numInputRows for p in batches))


def _write_stats(b: H.Bench, wh: str, before: dict, landed: str) -> None:
    after = _written(wh)
    new_bytes = sum(s for p, s in after.items() if p not in before)
    b.stat("operators.upsert.bytes_written_mb", new_bytes / 2**20)
    b.stat("operators.upsert.write_amplification", new_bytes / os.path.getsize(landed))
    b.stat("operators.upsert.versions_on_disk", _versions(wh))
    b.stat("warehouse_mb_on_disk", sum(after.values()) / 2**20)


def _reparse(b: H.Bench, spark, path: str, records: int) -> None:
    """Parse the landed file again, outside the timed cycle, to split
    the mapInPandas parse from the stream's addBatch time."""
    from trialstreamer_spark.sources import pubmed_xml

    with b.tracer.span("sources.pubmed_xml.parse", "sources.pubmed_xml"):
        t0 = time.perf_counter()
        pubmed_xml.read_articles(spark, path).count()
        pubmed_xml.read_deletes(spark, path).count()
        dt = time.perf_counter() - t0
    b.stat("sources.pubmed_xml.parse_s", dt)
    b.stat("sources.pubmed_xml.records_per_s", records / dt)
