"""The registry analytics part of ``search_mix``: a fixed subset of the
registry queries (``plans/all_queries.QUERIES``) over a fixed sf0.001
corpus, after the ``prepare_*`` hooks those queries read.

Subset rule: the ROADMAP targets whose first (plan-compiling) execution
took under 3 s in one cold pass over the candidates at sf0.001 on 4
cores, plus the fastest ``*_stream_parity`` query of
``bench_r12_baseline.json`` as the floor-bound case. ``kmeans_lloyd2``
(6.2 s), ``jaccard_prefix_filter_pairs`` (4.5 s) and
``concept_match_greedy`` (4.1 s) fail the rule: their untimed first
runs would not fit the run budget (see README.md).

Hook rule (``trialstreamer_spark.io`` functions): the hooks whose output
the subset reads, limited to the tables and bucket layouts it reads.
Adding the ten hooks one at a time after a warm pass changed the
subset's Spark job counts only for ``warm_cache`` (every query but the
parity one) and ``prepare_buckets`` (``sole_late_supplier``); the other
eight left them unchanged.
"""

from __future__ import annotations

import contextlib
import os
import sys

#: registry queries timed, in the order one block issues them
QUERIES = (
    "core_join_topk",
    "sole_late_supplier",
    "ann_two_stage_rerank",
    "xling_margin_topk",
    "dup_pair_jaccard_calibration",
    "upsert_sink_stream_parity",
)

#: ``prepare_*`` hooks the set-up runs, in order, with their arguments
HOOKS = {
    "warm_cache": {
        "tables": ("customer", "orders", "lineitem", "supplier", "documents", "embeddings"),
    },
    # sole_late_supplier's two layouts
    "prepare_buckets": {"variants": ("orders_by_orderkey", "lineitem_by_orderkey")},
}

#: ``tools/gen_scale`` multiple of sf0.1's row counts (sf0.001), and its
#: seed: the corpus is fixed, like the API's warehouse, so the workload
#: seed varies the requests and not the data the registry queries read
CORPUS_MULT = 0.01
CORPUS_SEED = 7


def write_corpus(out_dir: str) -> str:
    """The sf0.001 corpus (``tools/gen_scale``); its row-count log goes
    to stderr so stdout keeps only the result lines."""
    from tools import gen_scale

    with contextlib.redirect_stdout(sys.stderr):
        gen_scale.generate(out_dir, CORPUS_MULT, seed=CORPUS_SEED)
    return out_dir


def corpus_copy(corpus: str, out_dir: str) -> str:
    """Hard links to the corpus under a new path. Sidecars, bucket tables
    and the in-memory table cache are keyed on the corpus path, so each
    copy makes the hooks build from scratch."""
    os.makedirs(out_dir)
    for fn in sorted(os.listdir(corpus)):
        os.link(os.path.join(corpus, fn), os.path.join(out_dir, fn))
    return out_dir


def bytes_on_disk(*dirs: str) -> int:
    total = 0
    for d in dirs:
        for dirpath, _dirs, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
