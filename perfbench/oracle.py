"""Independent DuckDB expectations for the benchmark's outputs.

The transcript oracles reuse the parse, enrich and route CTEs of
``__spark_entry__.oracle_sql()["flagship"]`` with the events-derived
``transcripts`` CTE taken out, so they run over the staged transcript
files registered as a ``transcripts`` view.
"""

from __future__ import annotations

from pathlib import Path

import duckdb


def _routed_ctes() -> str:
    import __spark_entry__ as e
    from opentelemetry_collector_contrib_spark.data.transcripts import (
        TRANSCRIPTS_ORACLE_CTE,
    )

    base = e._BASE_CTES
    if not e.oracle_sql()["flagship"].startswith(base):
        raise RuntimeError("oracle_sql()['flagship'] no longer starts with _BASE_CTES")
    derive = TRANSCRIPTS_ORACLE_CTE.strip() + ","
    if derive not in base:
        raise RuntimeError("transcripts CTE not found in _BASE_CTES")
    return base.replace(derive, "")


def _counts_sql() -> str:
    import __spark_entry__ as e
    from opentelemetry_collector_contrib_spark.data.transcripts import (
        TRANSCRIPTS_ORACLE_CTE,
    )

    return e.oracle_sql()["flagship"].replace(TRANSCRIPTS_ORACLE_CTE.strip() + ",", "")


def _connect(files_glob: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW transcripts AS SELECT * FROM "
        f"read_parquet('{files_glob}', filename = true)"
    )
    return con


def transcript_expectations(input_dir: Path) -> dict:
    """Per-route rows, per-(file, route) rows and the counts table of the
    flagship DAG over every parquet file in ``input_dir``."""
    con = _connect(str(input_dir / "*.parquet"))
    try:
        per_file: dict[str, dict[str, int]] = {}
        for fname, route, n in con.sql(
            _routed_ctes() + "\nSELECT filename, route, count(*) FROM routed GROUP BY ALL"
        ).fetchall():
            per_file.setdefault(Path(fname).name, {})[route] = int(n)
        counts = sorted(
            (m, route, role or "", int(n))
            for m, route, role, n in con.sql(_counts_sql()).fetchall()
        )
    finally:
        con.close()
    routes: dict[str, int] = {}
    for per in per_file.values():
        for r, n in per.items():
            routes[r] = routes.get(r, 0) + n
    return {"routes": routes, "per_file": per_file, "counts": counts}


# --- query suite ----------------------------------------------------------------

SUITE_TABLES = ("events", "documents", "embeddings", "nation")


def canonical_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, every cell canonicalized as
    in ``tools/check_contract.py``, so Spark and DuckDB outputs compare
    equal regardless of column and row order."""
    from canonical import make_cell

    canon = make_cell(sig=9, nan_repr="NaN")
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    return cols, sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def suite_expectations(sf_dir: Path, names: list[str]) -> dict[str, tuple]:
    """name -> canonical (columns, rows) of the query's ``oracle_sql()``
    twin over the tables in ``sf_dir``."""
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    con = duckdb.connect()
    try:
        for t in SUITE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir / t}.parquet'")
        out = {}
        for name in names:
            cur = con.sql(oracles[name])
            out[name] = canonical_rows(cur.columns, cur.fetchall())
    finally:
        con.close()
    return out
