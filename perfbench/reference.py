"""Reference outputs for the benchmark workloads, computed in DuckDB.

The feature table and the deduplicated corpus are checked against the
catalog's own oracle SQL (the same strings `tools/check_oracle.py`
runs), composed over the generated files. The vault needs no engine:
the generator writes the expected load counts and `current` snapshot
itself (`expected.json`).

Each SQL reference is written as `<output>.reference.parquet` next to
the inputs; `load_reference` returns every output of a workload as a
sorted list of normalised tuples, the form `normalise` gives Spark rows.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

# The feature table the vault_features iteration builds, as the catalog
# oracles it is made of. Every per-user feature is left-joined onto the
# user universe (extract_chords keeps every user).
FEATURE_ORACLES = {
    "f_chords": "q_chords",
    "f_sess": "q_session_stats",
    "f_purch": "q_event_count_window",
    "f_spend": "q_event_sum_window",
    "f_uniq": "q_event_distinct_window",
    "f_pivot": "q_pivot_registry",
}
FEATURE_COLUMNS = [
    "user_id", "chord_ts_us", "n_sessions", "n_events", "n_purchases",
    "total", "n_unique", "path", "click", "error", "purchase",
]
PATH_EVENTS = 5  # q_previous_interactions' n


def _connect(workdir: str):
    import duckdb

    con = duckdb.connect(config={"threads": str(os.cpu_count() or 1), "memory_limit": "3GB"})
    tmp = os.path.join(workdir, "duckdb_tmp")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _feature_build(con, inputs: str) -> str:
    from featurestore_spark.queries.catalog import QUERIES

    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs}/events.parquet')"
    )
    for name, query in FEATURE_ORACLES.items():
        con.execute(f"CREATE TABLE {name} AS {QUERIES[query].oracle}")
    con.execute(
        "CREATE TABLE f_paths AS SELECT user_id, "
        "string_agg(event_type, ',' ORDER BY ts_us, event_id) AS path "
        f"FROM ({QUERIES['q_previous_interactions'].oracle}) GROUP BY user_id"
    )
    return """
    SELECT c.user_id, c.chord_ts_us, s.n_sessions, s.n_events, p.n_purchases,
           sp.total, u.n_unique, pa.path, pv.click, pv.error, pv.purchase
    FROM f_chords c
    LEFT JOIN f_sess s USING (user_id)
    LEFT JOIN f_purch p USING (user_id)
    LEFT JOIN f_spend sp USING (user_id)
    LEFT JOIN f_uniq u USING (user_id)
    LEFT JOIN f_paths pa USING (user_id)
    LEFT JOIN f_pivot pv USING (user_id)
    """


def curated_sql(src_table: str) -> str:
    """curate_corpus(docs, 'gopher') over raw text: the q_curate_gopher
    oracle with the plain text column in place of its fixture synthesis."""
    from featurestore_spark.queries.catalog import (
        _GDR_KEEP,
        _gdr_ctes,
        _grt_ctes,
        _grt_keep,
    )

    raw = "coalesce(text, '')"
    return (
        "WITH "
        + _gdr_ctes(raw, src_table)
        + ",\n    "
        + _grt_ctes(raw, src_table)
        + f""",
    dkeep AS (SELECT doc_id FROM sig WHERE {_GDR_KEEP}),
    rkeep AS (SELECT doc_id FROM final WHERE {_grt_keep()})
    SELECT t.doc_id, t.t AS text FROM toked t
    JOIN dkeep USING (doc_id) JOIN rkeep USING (doc_id)"""
    )


def _corpus_dedup(con, inputs: str) -> str:
    from featurestore_spark.queries.catalog import QUERIES

    con.execute(
        "CREATE TABLE raw_docs AS SELECT * FROM "
        f"read_parquet('{inputs}/documents.parquet')"
    )
    con.execute(f"CREATE TABLE curated AS {curated_sql('raw_docs')}")
    # dedup_keep_best's quality column is the curated text's length
    con.execute(
        "CREATE TABLE documents AS SELECT doc_id, text, "
        "CAST(length(text) AS BIGINT) AS n_chars FROM curated"
    )
    # MATERIALIZED: without it DuckDB re-evaluates the MinHash edge CTE
    # inside every step of the recursive component walk (minutes, not
    # seconds, at a few thousand documents)
    sql = QUERIES["q_dedup_best"].oracle
    return sql.replace("edges AS (SELECT", "edges AS MATERIALIZED (SELECT", 1)


# workload -> {output name: DuckDB builder}; the vault output's reference
# is gen.py's expected.json
SQL_OUTPUTS = {
    "vault_features": {"features": _feature_build},
    "corpus_dedup": {"kept": _corpus_dedup},
}


def build_reference(workload: str, inputs: str) -> None:
    """Write `<output>.reference.parquet` for a workload's SQL-checked outputs."""
    for output, build in SQL_OUTPUTS[workload].items():
        con = _connect(inputs)
        try:
            sql = build(con, inputs)
            path = os.path.join(inputs, f"{output}.reference.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
        finally:
            con.close()


def normalise(rows) -> list[tuple]:
    """Rows as sorted tuples; floats rounded so engines compare exactly."""
    out = []
    for r in rows:
        out.append(tuple(round(v, 6) if isinstance(v, float) else v for v in r))
    out.sort(key=lambda t: tuple((v is None, v if v is not None else 0) for v in t))
    return out


def load_reference(workload: str, inputs: str) -> dict:
    """{'rows': {output: normalised expected rows}, 'results': vault load counts}."""
    ref = {"rows": {}}
    for output in SQL_OUTPUTS[workload]:
        table = pq.read_table(os.path.join(inputs, f"{output}.reference.parquet"))
        ref["rows"][output] = normalise(zip(*[table.column(c).to_pylist() for c in table.column_names]))
    expected = os.path.join(inputs, "expected.json")
    if os.path.exists(expected):
        with open(expected) as f:
            exp = json.load(f)
        ref["rows"]["vault_current"] = normalise(tuple(r) for r in exp["current"])
        ref["results"] = exp["results"]
    return ref
