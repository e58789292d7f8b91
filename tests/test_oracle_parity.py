"""Correctness gate rehearsal: every oracle-backed query must match DuckDB.

Mimics the driver's t2 check: run the Spark builder and the DuckDB oracle
at sf0.01, sort columns by name, sort rows, compare RENDERED STRING values
(the driver hashes string-rendered cells, so a DuckDB HUGEINT surfacing as
pandas float ``19525.0`` against Spark's int ``19525`` must FAIL here even
though the numbers are equal — float64 shortest-roundtrip rendering is
injective, so string equality on doubles is bit-exactness).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from spark_etl_pipeline_spark.plans import registry
from tests.conftest import SF_CORRECTNESS

registry.load_all()
ORACLE_SPECS = [s for s in registry.REGISTRY.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in registry.REGISTRY.values() if s.oracle is None]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s, d = canon(spark_pdf), canon(duck_pdf)
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            a_nan = a is None or (isinstance(a, float) and math.isnan(a))
            b_nan = b is None or (isinstance(b, float) and math.isnan(b))
            if a_nan or b_nan:
                assert a_nan and b_nan, f"{name}.{col}[{i}]: {a!r} != {b!r}"
                continue
            # Type-strict, driver-style: compare rendered strings, never
            # coerce. float(19525) == 19525.0 would hide the HUGEINT
            # oracle-type bug class the driver's hash rejects.
            assert str(a) == str(b), f"{name}.{col}[{i}]: {a!r} != {b!r} (rendered)"


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_oracle_parity(spark, duck, spec):
    spark_pdf = spec.builder(spark, SF_CORRECTNESS).toPandas()
    duck_pdf = duck.sql(spec.oracle).df()
    compare(spark_pdf, duck_pdf, spec.name)


def test_oracle_parity_distributed_iterative_paths(spark, duck, monkeypatch):
    """At sf0.01 every connected-components and BFS input sits under its
    row gate, so the registry oracles above check only the driver-local
    solves. With both caps at 0 the two headline consumers run their
    distributed loops and must match the same oracles."""
    from spark_etl_pipeline_spark.operators import dedup, graph

    monkeypatch.setattr(dedup, "CC_BROADCAST_MAX_ROWS", 0)
    monkeypatch.setattr(graph, "BFS_BROADCAST_MAX_ROWS", 0)
    for name in ("docs_dedup_corpus", "graph_reachability"):
        spec = registry.REGISTRY[name]
        compare(
            spec.builder(spark, SF_CORRECTNESS).toPandas(),
            duck.sql(spec.oracle).df(),
            name,
        )


def test_no_rows_only_queries_remain():
    """Every registered query is DuckDB-oracle-backed — zero rows-only
    exemptions. This replaces a parametrized run-and-count check over
    ``ROWS_ONLY_SPECS`` that pytest reported as the suite's one
    perpetual "skipped" (an empty parameter set auto-skips): the skip
    was the INVARIANT hiding as a non-result. If a genuinely
    non-SQL-expressible query is ever registered, restore the weaker
    parametrized gate for it (execute + schema + count>0) instead of
    deleting this assertion — a rows-only query is exempt from the
    oracle, not from scrutiny."""
    assert ROWS_ONLY_SPECS == [], (
        "rows-only (oracle-less) queries registered: "
        f"{[s.name for s in ROWS_ONLY_SPECS]} — add the weaker "
        "run-and-count gate back for them"
    )
