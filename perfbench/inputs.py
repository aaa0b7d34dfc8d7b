"""Seeded workload inputs. The same seed gives byte-identical request
lists and update-file contents; nothing here touches Spark.

- ``search_requests``: the ``search_mix`` request list over a
  ``fixtures.generate`` warehouse.
- ``write_update_files``: the ``daily_update`` baseline and update
  files, built with ``fixtures.pubmed_xml``.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random

import pyarrow.parquet as pq

#: the fixed read warehouse both workloads query (fixtures.generate seed).
#: Sizes are scaled down from a 20k-article warehouse so that a whole
#: measurement (48 runs) fits its time budget; at these sizes a request
#: is still dominated by its Spark job count, as at 20k.
WAREHOUSE_SEED = 42
SEARCH_PUBMED_ROWS = 4000
UPDATE_PUBMED_ROWS = 1200

#: request kinds in the order one schedule cycle issues them; every cycle
#: has the same composition, so a run's mix does not depend on the seed.
#: This is a coverage schedule — every request kind and code path in a
#: short block — not a measured traffic mix; no request log exists.
SEARCH_CYCLE = (
    "picosearch",
    "autocomplete",
    "pico_query",
    "get_trial",
    "picosearch",
    "year_counts",
    "autocomplete",
    "meta",
    "picosearch",
    "get_trial",
    "covid19",
    "pico_query",
)
FIELDS = ("population", "interventions", "outcomes")
#: assumed term popularity skew (no measured query log)
ZIPF_S = 1.1


def concepts() -> list[dict]:
    """The fixture concept forest, COVID sentinel excluded."""
    from fixtures.generate import COVID_CUI, build_concepts

    forest, _closure = build_concepts(random.Random(0))
    return [c for c in forest if c["cui"] != COVID_CUI]


class Zipf:
    """Draw items with probability proportional to 1/rank^s, over a
    seeded popularity order."""

    def __init__(self, items: list, rng: random.Random, s: float = ZIPF_S):
        self.items = list(items)
        rng.shuffle(self.items)
        weights = [1.0 / (r + 1) ** s for r in range(len(self.items))]
        self.cum = list(itertools.accumulate(weights))
        self.rng = rng

    def draw(self):
        x = self.rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]


def _ids(warehouse: str) -> dict[str, list[str]]:
    def col(table: str, name: str) -> list[str]:
        path = os.path.join(warehouse, f"{table}.parquet")
        vals = pq.read_table(path, columns=[name]).column(name).to_pylist()
        return sorted({v for v in vals if v})

    return {
        "pmid": col("pubmed", "pmid"),
        "regid": col("ictrp", "regid"),
        "doi": col("medrxiv_covid19", "doi"),
    }


def search_requests(seed: int, warehouse: str, n: int = 600) -> list[dict]:
    """``n`` requests cycling through SEARCH_CYCLE. Picosearch requests
    carry 1, 2, then 3 terms per cycle, the third one with the COVID term
    that adds the preprint leg; terms are Zipf-popular root and leaf
    CUIs. Autocomplete alternates prefixes below and at or above three
    characters; get_trial rotates pmid, regid and doi hits and misses."""
    from fixtures.generate import COVID_CUI

    rng = random.Random(seed)
    pool = concepts()
    cuis = Zipf([c["cui"] for c in pool], rng)
    mesh = Zipf(sorted({c["mesh_term"] for c in pool}), rng)
    strings = Zipf(sorted({c["cui_str"] for c in pool}), rng)
    ids = _ids(warehouse)
    seen: dict[str, int] = {}
    out = []
    for k in range(n):
        kind = SEARCH_CYCLE[k % len(SEARCH_CYCLE)]
        j = seen.get(kind, 0)
        seen[kind] = j + 1
        if kind == "picosearch":
            width = 1 + j % 3
            fields = rng.sample(FIELDS, min(width, 2))
            terms = [{"field": f, "cui": cuis.draw()} for f in fields]
            if width == 3:
                terms.append({"field": "population", "cui": COVID_CUI})
            args = {"terms": terms}
        elif kind == "autocomplete":
            s = strings.draw()
            size = rng.randint(1, 2) if j % 2 == 0 else rng.randint(3, 6)
            args = {"q": s[:size]}
        elif kind == "get_trial":
            which = ("pmid", "regid", "doi", "miss")[j % 4]
            uuid = (
                f"missing-{rng.randrange(10**6)}"
                if which == "miss"
                else rng.choice(ids[which])
            )
            args = {"uuid": uuid, "expect": which}
        elif kind == "pico_query":
            if j % 2 == 0:
                args = {"p": ["OR", mesh.draw(), mesh.draw()], "i": mesh.draw()}
            else:
                args = {"p": [mesh.draw(), ["OR", mesh.draw(), mesh.draw()]],
                        "o": mesh.draw()}
        else:
            args = {}
        out.append({"id": k, "kind": kind, "args": args})
    return out


# -- daily_update ----------------------------------------------------------

BASE_PMID = 5_000_000
#: file sizes and the update-file makeup below (60 % new pmids, 25 %
#: modifications, 5 % deletes, plus duplicates and repeats) are
#: assumptions that exercise every update case, not measured PubMed
#: figures; files are 200 records instead of 1k to fit the time budget
BASELINE_RECORDS = 600
RECORDS_PER_FILE = 200


def update_file_name(i: int) -> str:
    return f"pubmed26n{i:04d}.xml.gz"


def write_update_files(seed: int, out_dir: str, n_files: int) -> list[str]:
    """Baseline file 0 plus ``n_files`` update files. Each update mixes
    new pmids, modifications of live pmids, DeleteCitations, an in-file
    duplicate (last occurrence wins), repeats of the previous file's
    pmids and one delete-then-reinsert in the same file. Returns the
    paths in landing order."""
    from fixtures.pubmed_xml import _article, _write

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    next_pmid = BASE_PMID
    live: set[str] = set()
    previous: list[str] = []
    paths = []

    def fresh() -> str:
        nonlocal next_pmid
        next_pmid += 1
        return str(next_pmid)

    for i in range(n_files + 1):
        arts: list[str] = []  # pmids in record order
        dels: list[str] = []
        if i == 0:
            arts = [fresh() for _ in range(BASELINE_RECORDS)]
        else:
            pool = sorted(live)
            n_new = RECORDS_PER_FILE * 6 // 10
            n_mod = RECORDS_PER_FILE // 4
            n_del = RECORDS_PER_FILE // 20
            mods = rng.sample(pool, n_mod)
            repeats = rng.sample(previous, min(len(previous), 10))
            dels = rng.sample(sorted(set(pool) - set(mods) - set(repeats)), n_del)
            reborn = dels[0]
            arts = [fresh() for _ in range(n_new)] + mods + repeats + [reborn]
            rng.shuffle(arts)
            arts += rng.sample(arts, 10)  # in-file duplicates
        body = "".join(
            _article(p, body=f"S{seed} F{i} R{k} title %s")
            for k, p in enumerate(arts)
        ) + "".join(f"<DeleteCitation><PMID>{p}</PMID></DeleteCitation>" for p in dels)
        path = os.path.join(out_dir, update_file_name(i))
        _write(path, body)
        paths.append(path)
        live -= set(dels)
        live |= set(arts)
        previous = sorted(set(arts))
    return paths
