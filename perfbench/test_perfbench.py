"""The benchmark's own tests: seeded inputs are reproducible, the replay
oracle agrees with the pipeline, the printed metrics are exactly the
declared ones, and the command refuses to run without the package.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import harness as H
from perfbench import inputs, oracles, registry

ROOT = H.ROOT


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    H.isolate(str(tmp_path_factory.mktemp("perfbench") / "run"))
    session = H.start_session("perfbench-tests")
    yield session
    H.stop_session(session)


@pytest.fixture(scope="module")
def search_warehouse(tmp_path_factory):
    from fixtures.generate import generate

    wh = str(tmp_path_factory.mktemp("search") / "wh")
    generate(wh, n_pubmed=inputs.SEARCH_PUBMED_ROWS, seed=inputs.WAREHOUSE_SEED)
    return wh


def test_same_seed_same_request_list(search_warehouse):
    a = json.dumps(inputs.search_requests(7, search_warehouse), sort_keys=True)
    b = json.dumps(inputs.search_requests(7, search_warehouse), sort_keys=True)
    c = json.dumps(inputs.search_requests(8, search_warehouse), sort_keys=True)
    assert a == b
    assert a != c


def test_request_list_covers_the_mix(search_warehouse):
    reqs = inputs.search_requests(3, search_warehouse)
    kinds = {r["kind"] for r in reqs}
    assert kinds == set(inputs.SEARCH_CYCLE)
    widths = {len(r["args"]["terms"]) for r in reqs if r["kind"] == "picosearch"}
    assert widths == {1, 2, 3}
    prefixes = [len(r["args"]["q"]) for r in reqs if r["kind"] == "autocomplete"]
    assert min(prefixes) < 3 <= max(prefixes)
    expects = {r["args"]["expect"] for r in reqs if r["kind"] == "get_trial"}
    assert expects == {"pmid", "regid", "doi", "miss"}


def test_same_seed_same_warehouse(tmp_path):
    from fixtures.generate import generate

    for d in ("a", "b"):
        generate(str(tmp_path / d), n_pubmed=200, seed=inputs.WAREHOUSE_SEED)
    for fn in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / fn).read_bytes() == (tmp_path / "b" / fn).read_bytes(), fn


def test_same_seed_same_update_files(tmp_path):
    def contents(d, seed):
        paths = inputs.write_update_files(seed, str(tmp_path / d), n_files=4)
        return [gzip.decompress(open(p, "rb").read()) for p in paths]

    assert contents("a", 5) == contents("b", 5)
    assert contents("a", 5) != contents("c", 6)


def test_same_registry_corpus_every_run(tmp_path):
    def contents(d):
        out = registry.write_corpus(str(tmp_path / d))
        return {fn: (tmp_path / d / fn).read_bytes() for fn in sorted(os.listdir(out))}

    assert contents("a") == contents("b")


def test_registry_subset_has_oracles_and_hooks():
    from trialstreamer_spark import io
    from trialstreamer_spark.plans.all_queries import ORACLES

    assert set(registry.QUERIES) <= set(ORACLES)
    assert any(q.endswith("_stream_parity") for q in registry.QUERIES)
    assert all(callable(getattr(io, h)) for h in registry.HOOKS)


def test_update_files_mix_the_cases(tmp_path):
    paths = inputs.write_update_files(11, str(tmp_path), n_files=3)
    state = oracles.replay(paths[:1])
    for prev, path in zip(paths, paths[1:]):
        arts, dels = oracles.parse_update_file(path)
        pmids = [p for p, _ in arts]
        assert len(pmids) > len(set(pmids))  # in-file duplicates
        assert set(pmids) & set(state)  # modifications
        assert set(pmids) & {p for p, _ in oracles.parse_update_file(prev)[0]}
        assert set(dels) & set(pmids)  # delete then reinsert in one file
        assert set(dels) - set(pmids)  # plain deletes
        state = oracles.replay([path], state)


def test_replay_keeps_last_occurrence_and_same_file_reinsert(tmp_path):
    from fixtures.pubmed_xml import generate_xml_fixtures

    paths = generate_xml_fixtures(str(tmp_path))
    state = oracles.replay(list(paths.values()))
    assert state["2001"] == "Updated-twice title 2001"
    assert "2002" not in state
    assert state["2003"] == "Reborn title 2003"
    assert state["2011"] == "Fixture title 2011"  # VernacularTitle fallback


def test_replay_matches_pipeline_file_by_file(spark, tmp_path):
    """The oracle against the streaming update path, one landed file at a
    time, as the daily_update workload lands them."""
    from fixtures.pubmed_xml import generate_xml_fixtures
    from trialstreamer_spark.streaming.pipeline import PubmedPipeline

    paths = sorted(generate_xml_fixtures(str(tmp_path / "xml")).values())
    wh, landing = str(tmp_path / "wh"), str(tmp_path / "landing")
    os.makedirs(landing)
    pipe = PubmedPipeline(spark, wh)
    for i, p in enumerate(paths):
        shutil.copy(p, landing)
        pipe.run_stream(landing, os.path.join(wh, "_checkpoint"))
        assert oracles.raw_state(wh) == oracles.replay(paths[: i + 1])


def test_replay_matches_pipeline_in_one_batch(spark, tmp_path):
    from fixtures.pubmed_xml import generate_xml_fixtures
    from trialstreamer_spark.streaming.pipeline import PubmedPipeline

    paths = generate_xml_fixtures(str(tmp_path / "xml"))
    wh = str(tmp_path / "wh")
    PubmedPipeline(spark, wh).run_batch(os.path.join(str(tmp_path / "xml"), "*.xml.gz"))
    assert oracles.raw_state(wh) == oracles.replay(list(paths.values()))


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _bench(spark, trace: bool) -> H.Bench:
    """A finished-looking run with a few operations and spans."""
    b = H.Bench("search_mix", 1, 1.0, trace, "unused", {})
    b.spark, b.jvm = spark, H.Jvm(spark)
    b.tracer = H.Tracer(spark, b.jvm, trace)
    b.session_s, b.setup_s = 1.0, [2.0, 3.0]
    b.floor_ms = {"start": 50.0, "end": 51.0}
    b.phases["setup"] = b.phases["loop"] = b.phases["begin"]
    b.peak_rss_mb = b.jvm.peak_rss_mb()
    for traced in (False, True):
        b.tracer.active = traced
        with b.timed("meta", traced):
            with b.tracer.span("api.engine.meta", "api.engine"):
                spark.range(10).count()
    return b


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_are_the_declared_ones(spark, trace):
    end_to_end, per_layer = _declared()
    result = _bench(spark, trace).finish()
    want = per_layer if trace else end_to_end
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    assert result["correct"] and result["attempted"] == 2 and result["failed"] == 0


def test_failed_set_up_is_a_failed_run():
    b = H.Bench("search_mix", 1, 1.0, False, "unused", {})

    def fail():
        raise RuntimeError("prepare hook failed")

    with pytest.raises(H.SetupFailed):
        b.set_up(fail, 2)
    assert b.abandoned() == {"correct": False, "attempted": 2, "failed": 2, "metrics": {}}


def test_span_counts_and_self_time(spark):
    b = _bench(spark, True)
    b.tracer.resolve_counts()
    op, inner = b.tracer.spans
    assert inner.parent == 0 and inner.jobs >= 1 and op.jobs == 0
    assert 0 <= b.tracer.self_ms(0) < op.ms
    assert b.tracer.self_ms(1) == pytest.approx(inner.ms)
    assert b.tracer.inclusive(0, "jobs") == inner.jobs


def test_self_time_subtracts_overlapping_children():
    tr = H.Tracer(None, None, False)
    tr.spans = [
        H.Span("root", "bench", 0.0, 1.0),
        H.Span("a", "x", 0.1, 0.4, parent=0),
        H.Span("b", "x", 0.3, 0.5, parent=0),
        H.Span("c", "x", 0.7, 0.8, parent=0),
    ]
    assert tr.self_ms(0) == pytest.approx(500.0)


def test_percentiles():
    assert H.pct([5, 1, 4, 2, 3], 50) == 3
    assert H.pct(list(range(1, 101)), 95) == 95
    assert H.median([1, 2, 3, 10]) == 2.5


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
