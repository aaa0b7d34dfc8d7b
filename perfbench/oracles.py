"""Correctness oracles. All of them run outside the timed region.

- ``replay``: pure-Python PubMed update semantics (files in name order;
  per file, deletes first, then upserts with the last occurrence of a
  pmid winning) — what ``pubmed_raw`` must hold after each file.
- search checks: DuckDB oracles through ``tests.oracle_util`` for the
  picosearch pubmed leg, ``pico_query`` boolean trees and the fixed
  reads, plus shape checks for autocomplete and get_trial.
- registry checks: each query's ``ORACLES`` SQL through the same
  ``tests.oracle_util.assert_matches``, exact values.
"""

from __future__ import annotations

import gzip
import io
import os
import xml.etree.ElementTree as ET

import pandas as pd
import pyarrow.parquet as pq

# -- daily_update ----------------------------------------------------------


def parse_update_file(path: str) -> tuple[list[tuple[str, str]], list[str]]:
    """(pmid, title) upserts in record order, and the deleted pmids."""
    with open(path, "rb") as f:
        raw = f.read()
    if path.endswith(".gz"):
        raw = gzip.decompress(raw)
    arts, dels = [], []
    for _, elem in ET.iterparse(io.BytesIO(raw), events=("end",)):
        if elem.tag == "MedlineCitation":
            title = elem.findtext("Article/ArticleTitle") or elem.findtext(
                "Article/VernacularTitle"
            )
            arts.append((elem.findtext("PMID"), title))
            elem.clear()
        elif elem.tag == "DeleteCitation":
            dels.extend(p.text for p in elem.findall("PMID"))
            elem.clear()
    return arts, dels


def replay(paths: list[str], state: dict[str, str] | None = None) -> dict[str, str]:
    """Apply update files to ``state`` (pmid → title) in file-name order."""
    state = dict(state or {})
    for path in sorted(paths, key=os.path.basename):
        arts, dels = parse_update_file(path)
        for p in dels:
            state.pop(p, None)
        for pmid, title in arts:
            state[pmid] = title
    return state


def committed_rows(table_dir: str, columns: list[str]) -> pd.DataFrame:
    """The committed version of a ParquetTable, read without Spark."""
    with open(os.path.join(table_dir, "_current")) as f:
        version = f.read().strip()
    return pq.read_table(os.path.join(table_dir, version), columns=columns).to_pandas()


def raw_state(warehouse: str) -> dict[str, str]:
    df = committed_rows(os.path.join(warehouse, "pubmed_raw"), ["pmid", "title"])
    if df["pmid"].duplicated().any():
        raise AssertionError("pubmed_raw holds a pmid twice")
    return dict(zip(df["pmid"], df["title"]))


# -- search_mix ------------------------------------------------------------


class Rows:
    """Rows already collected by a timed request, in the shape
    ``tests.oracle_util.assert_matches`` reads (it only calls toPandas),
    so a check never re-runs the Spark plan."""

    def __init__(self, rows: list, columns: list[str], numeric: tuple[str, ...] = ()):
        df = pd.DataFrame([[r[c] for c in columns] for r in rows], columns=columns)
        # Spark hands a numeric column with nulls over as float64 NaN; an
        # all-null column built here would otherwise stay object dtype
        for c in numeric:
            df[c] = pd.to_numeric(df[c]).astype("float64")
        self._df = df

    def toPandas(self) -> pd.DataFrame:
        return self._df


class Frame(Rows):
    """A result a timed operation already collected with ``toPandas``."""

    def __init__(self, df: pd.DataFrame):
        self._df = df


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def expansion(cui: str, warehouse: str) -> list[str]:
    from tests.oracle_util import run_oracle

    sql = f"""
    SELECT DISTINCT descendant_cui AS cui FROM cui_closure
    WHERE ancestor_cui = {_sql_str(cui)} AND depth <= 1
    UNION SELECT {_sql_str(cui)}
    """
    return sorted(run_oracle(sql, warehouse)["cui"].tolist())


def picosearch_pubmed_sql(terms: list[dict], warehouse: str) -> str:
    conds = []
    for t in terms:
        in_list = ", ".join(_sql_str(c) for c in expansion(t["cui"], warehouse))
        conds.append(
            f"len(list_filter(pa.{t['field']}_mesh, x -> x.cui IN ({in_list}))) > 0"
        )
    return f"""
    SELECT pm.pmid, pm.year,
           CAST(pa.prob_low_rob AS DOUBLE) * pa.num_randomized AS score
    FROM pubmed pm JOIN pubmed_annotations pa USING (pmid)
    WHERE pm.is_rct_balanced AND pm.is_human AND {' AND '.join(conds)}
    ORDER BY score DESC NULLS LAST, pm.pmid
    LIMIT 250
    """


def ast_sql(ast, field: str) -> str:
    """DuckDB predicate for a ``query_ast`` tree (mesh_term leaves)."""
    if isinstance(ast, str):
        return (
            f"len(list_filter({field}_mesh, x -> x.mesh_term = {_sql_str(ast)})) > 0"
        )
    if ast[0] in ("OR", "AND"):
        op, parts = ast[0], ast[1:]
    else:
        op, parts = "AND", ast
    return "(" + f" {op} ".join(ast_sql(p, field) for p in parts) + ")"


def pico_query_sql(args: dict) -> str:
    conds = [
        ast_sql(args[key], field)
        for key, field in (("p", "population"), ("i", "interventions"), ("o", "outcomes"))
        if key in args
    ]
    return f"""
    SELECT pa.pmid, pm.ti FROM pubmed_annotations pa JOIN pubmed pm USING (pmid)
    WHERE {' AND '.join(conds)}
    """


FIXED_SQL = {
    "covid19": (
        ["id", "year", "result_set"],
        ("year",),
        """
    SELECT pm.pmid AS id, pm.year, 'trialstreamer_published' AS result_set
    FROM pubmed pm JOIN pubmed_annotations pa USING (pmid)
    WHERE pm.is_rct_balanced
      AND len(list_filter(pa.population_mesh, x -> x.mesh_ui = 'C000657245')) > 0
    UNION ALL
    SELECT doi AS id, year, 'trialstreamer_preprint' AS result_set
    FROM medrxiv_covid19 WHERE is_rct_balanced
    """,
    ),
    "meta": (
        ["last_updated", "num_rcts"],
        (),
        """
    SELECT strftime((SELECT MAX(download_date) FROM update_log
                     WHERE update_type = 'fullcheck'),
                    '%Y-%m-%d %H:%M:%S') AS last_updated,
           format('{:,}', (SELECT COUNT(*) FROM pubmed WHERE is_rct_balanced))
               AS num_rcts
    """,
    ),
    "year_counts": (
        ["year", "count_rct_precise", "count_rct_balanced", "count_rct_sensitive",
         "count_ptyp_rct", "est_rct_count"],
        (),
        """
    SELECT year,
           CAST(SUM(CASE WHEN is_rct_precise THEN 1 ELSE 0 END) AS BIGINT) AS count_rct_precise,
           CAST(SUM(CASE WHEN is_rct_balanced THEN 1 ELSE 0 END) AS BIGINT) AS count_rct_balanced,
           COUNT(*) AS count_rct_sensitive,
           CAST(SUM(CASE WHEN ptyp_rct = 1 THEN 1 ELSE 0 END) AS BIGINT) AS count_ptyp_rct,
           CAST(ROUND(COUNT(*) * (CAST(SUM(CAST(FLOOR(CAST(rct_probability AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
                                  / 1000000.0 / COUNT(*))) AS BIGINT) AS est_rct_count
    FROM pubmed WHERE year >= 1948
    GROUP BY year ORDER BY year
    """,
    ),
}

SOURCE_OF = {"pmid": "pubmed", "regid": "ictrp", "doi": "medrxiv"}


def check_search(req: dict, rows: list, warehouse: str) -> None:
    """Raise AssertionError when a request's collected rows are wrong."""
    from fixtures.generate import COVID_CUI
    from tests.oracle_util import assert_matches

    kind, args = req["kind"], req["args"]
    if kind == "picosearch":
        pub = [r for r in rows if r["article_type"] == "journal article"]
        assert_matches(
            Rows(pub, ["pmid", "year", "score"], numeric=("year", "score")),
            picosearch_pubmed_sql(args["terms"], warehouse),
            warehouse,
            float_tol=1e-9,
        )
        has_cov = any(
            t["cui"] == COVID_CUI and t["field"] == "population" for t in args["terms"]
        )
        if not has_cov and any(r["article_type"] == "preprint" for r in rows):
            raise AssertionError("preprint leg without the COVID term")
    elif kind == "pico_query":
        assert_matches(Rows(rows, ["pmid", "ti"]), pico_query_sql(args), warehouse)
    elif kind == "autocomplete":
        q = args["q"].lower()
        if len(rows) > 5 or not all(r["cui_str"].lower().startswith(q) for r in rows):
            raise AssertionError(f"autocomplete {args['q']!r}: {len(rows)} rows")
    elif kind == "get_trial":
        got = {r["source_table"] for r in rows}
        want = set() if args["expect"] == "miss" else {SOURCE_OF[args["expect"]]}
        if got != want:
            raise AssertionError(f"get_trial {args['uuid']!r}: {got} != {want}")
    else:
        columns, numeric, sql = FIXED_SQL[kind]
        assert_matches(Rows(rows, columns, numeric), sql, warehouse)


# -- registry --------------------------------------------------------------


def check_registry(name: str, frame: pd.DataFrame, sf_dir: str) -> None:
    from tests.oracle_util import assert_matches
    from trialstreamer_spark.plans.all_queries import ORACLES

    assert_matches(Frame(frame), ORACLES[name], sf_dir)


def same_frame(want: pd.DataFrame, got: pd.DataFrame) -> None:
    from tests.oracle_util import canonicalize

    if not canonicalize(got).equals(canonicalize(want)):
        raise AssertionError("result differs from the query's earlier execution")
