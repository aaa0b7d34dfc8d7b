"""``search_mix``: read-only traffic — API requests over a fixed
fixtures warehouse, and registry analytics queries over a fixed
sf0.001 corpus (perfbench/registry.py).

Set-up builds the postings index and runs the registry's ``prepare_*``
hooks on a fresh copy of the corpus. Then one client thread in a closed
loop with no think time issues blocks of the seeded request list
(inputs.search_requests) followed by one execution of each registry
query, until the measured time reaches ``--seconds``. Every operation
collects its rows; the rows are checked against DuckDB oracles after
the loop.
"""

from __future__ import annotations

import os
import time

from perfbench import harness as H
from perfbench import inputs, oracles, registry

SETUP_REPS = 2
API_BLOCK = len(inputs.SEARCH_CYCLE)
BLOCK = API_BLOCK + len(registry.QUERIES)
POSTINGS_PROBES = 3


def execute(tables, req: dict) -> list:
    from trialstreamer_spark.api import engine, query_ast

    kind, a = req["kind"], req["args"]
    if kind == "picosearch":
        return engine.picosearch(tables, a["terms"]).collect()
    if kind == "pico_query":
        return query_ast.pico_query(
            tables.t("pubmed_annotations"),
            p=a.get("p"),
            i=a.get("i"),
            o=a.get("o"),
            pubmed=tables.t("pubmed"),
        ).select("pmid", "ti").collect()
    if kind == "autocomplete":
        return engine.autocomplete(tables, a["q"]).collect()
    if kind == "get_trial":
        return engine.get_trial(tables, a["uuid"]).collect()
    return getattr(engine, kind)(tables).collect()


def layer_of(kind: str) -> str:
    return "api.query_ast" if kind == "pico_query" else "api.engine"


def run(b: H.Bench) -> None:
    from trialstreamer_spark import io as hooks
    from trialstreamer_spark.api import engine
    from trialstreamer_spark.plans.all_queries import QUERIES
    from fixtures.generate import generate

    wh = os.path.join(b.run_root, "warehouse")
    generate(wh, n_pubmed=inputs.SEARCH_PUBMED_ROWS, seed=inputs.WAREHOUSE_SEED)
    corpus = registry.write_corpus(os.path.join(b.run_root, "corpus"))
    requests = inputs.search_requests(b.seed, wh)
    warm, requests = requests[:API_BLOCK], requests[API_BLOCK:]

    spark = b.start()
    tables = engine.Tables(spark, wh)
    copies = iter(range(SETUP_REPS))

    def set_up() -> str:
        with b.tracer.span("api.engine.prepare_postings", "plans.postings"):
            t0 = time.perf_counter()
            engine.prepare_postings(tables)
            b.stat("plans.postings.prepare_s", time.perf_counter() - t0)
        sf = registry.corpus_copy(corpus, os.path.join(b.run_root, f"corpus{next(copies)}"))
        for name, kwargs in registry.HOOKS.items():
            with b.tracer.span(f"io.{name}", "io.sidecars"):
                t0 = time.perf_counter()
                getattr(hooks, name)(spark, sf, **kwargs)
                b.stat(f"prepare.{name}_s", time.perf_counter() - t0)
        return sf

    sf = b.set_up(set_up, SETUP_REPS)
    sidecars = registry.bytes_on_disk(
        os.environ["SPARK_GRAFT_SIDECAR_DIR"], os.environ["SPARK_GRAFT_BUCKET_DIR"]
    )
    b.stat("sidecars.bytes_on_disk_mb", sidecars / 2**20 / len(b.setup_s))

    # the first requests compile every plan shape and leave the JIT
    # mid-warm-up: a block timed right after set-up ran 15 % slower than
    # the third, so one block runs untimed first (one request of each
    # kind was not enough: the first timed block then varied by 20 %);
    # each registry query likewise runs once untimed, its first run being
    # mostly code generation
    def warm_up() -> None:
        for req in warm:
            execute(tables, req)
        for name in registry.QUERIES:
            QUERIES[name](spark, sf).toPandas()

    b.warm_up(warm_up)

    def op(i: int, traced: bool) -> None:
        block, j = divmod(i, BLOCK)
        if j >= API_BLOCK:
            name = registry.QUERIES[j - API_BLOCK]
            with b.timed(f"registry.{name}", traced) as rec:
                rec.request = {"query": name}
                with b.tracer.span(f"registry.{name}", "registry", request=i):
                    # collected as the oracle comparison reads it
                    rec.rows = QUERIES[name](spark, sf).toPandas()
            return
        req = requests[(block * API_BLOCK + j) % len(requests)]
        kind = req["kind"]
        if traced and kind == "picosearch":
            # expansion probe outside the timed op: the engine expands
            # internally, so its cost is measured by a second call
            with b.tracer.span("api.engine.expand_query", "api.engine", request=i):
                t0 = time.perf_counter()
                engine.expand_query(tables, req["args"]["terms"])
                b.stat("api.engine.expand_query_ms", (time.perf_counter() - t0) * 1000)
        with b.timed(kind, traced) as rec:
            rec.request = req
            with b.tracer.span(f"{layer_of(kind)}.{kind}", layer_of(kind), request=i):
                rec.rows = execute(tables, req)

    b.loop(op, period=BLOCK)

    if b.trace:
        # same terms through both pubmed-leg paths (auto picks scan below
        # the postings crossover, so the index is otherwise never read)
        probes = [r for r in requests if r["kind"] == "picosearch"][:POSTINGS_PROBES]
        for req in probes:
            for path, name, layer in (
                ("postings", "plans.postings.search", "plans.postings"),
                ("scan", "api.engine.scan_search", "api.engine"),
            ):
                with b.tracer.span(name, layer):
                    t0 = time.perf_counter()
                    engine.picosearch(tables, req["args"]["terms"], path=path).collect()
                    b.stat(f"{name}_ms", (time.perf_counter() - t0) * 1000)
        b.phases["probes"] = time.perf_counter()

    first: dict[str, object] = {}
    for rec in b.ops:
        if not rec.ok:
            continue
        if rec.kind.startswith("registry."):
            # each query against its oracle once; every later execution
            # must return the same result
            q = rec.request["query"]
            if q in first:
                check = lambda rec=rec, q=q: oracles.same_frame(first[q], rec.rows)
            else:
                first[q] = rec.rows
                check = lambda rec=rec, q=q: oracles.check_registry(q, rec.rows, sf)
        else:
            check = lambda rec=rec: oracles.check_search(rec.request, rec.rows, wh)
        b.check(check, rec)

    lat = {k: b.latencies_ms([k]) for k in sorted({o.kind for o in b.ops})}
    lat = {k: v for k, v in lat.items() if v}
    api = {k: v for k, v in lat.items() if not k.startswith("registry.")}
    reg = [H.median(v) for k, v in lat.items() if k.startswith("registry.")]
    every = [x for v in api.values() for x in v]
    lookups = b.latencies_ms(["autocomplete", "get_trial"])
    b.report.update(
        {
            "search_p50_ms": H.median(every),
            "search_p95_ms": H.pct(every, 95),
            "search_samples": len(every),
            "picosearch_p50_ms": H.median(lat["picosearch"]),
            "lookup_p50_ms": H.median(lookups),
            "registry_total_s": sum(reg) / 1000.0,
            "registry_geomean_ms": H.geomean(reg),
            "per_kind_p50_ms": {k: H.median(v) for k, v in sorted(lat.items())},
            "per_kind_samples": {k: len(v) for k, v in sorted(lat.items())},
        }
    )
