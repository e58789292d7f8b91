"""Output check for registry queries: rendered-string equality with the DuckDB oracle.

Same rule as the repository's oracle-parity test: sort columns by name, sort
rows on every column, and compare each cell's rendered string, with NULL and
NaN equal only to each other. A type mismatch (an int against the same
number as a float) renders differently and fails.
"""

from __future__ import annotations

import math


def render(pdf) -> dict:
    """Canonical, JSON-storable form of a pandas result."""
    df = pdf.reindex(sorted(pdf.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    cols = {c: df[c].tolist() for c in df.columns}

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return str(v)

    return {
        "columns": list(df.columns),
        "rows": [[cell(cols[c][i]) for c in df.columns] for i in range(len(df))],
    }


def compare(got: dict, want: dict) -> str | None:
    """None when equal, else a description of the first difference."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} != {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


def duckdb_views(tables_dir: str, tables):
    """A DuckDB connection with one view per staged table directory."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet/*.parquet')")
    return con
