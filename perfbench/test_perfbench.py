"""Unit tests of the benchmark's own parts: event-log parser and output checks.

    python3 -m pytest perfbench -q

``fixtures/tiny_eventlog.jsonl`` is a recorded Spark 4.1 event log, cut to the
events the parser reads, with paths and plan text removed. It holds two job
groups on a ``local[2]`` session:

- ``t/count``: ``spark.range(0, 1000, 1, 4).groupBy(id % 10).count().collect()``;
- ``t/write``: the same 1000 rows, 4 partitions, written as parquet with
  ``partitionBy("k")`` where ``k = id % 3``.
"""

from __future__ import annotations

import os
import re

import pandas as pd

import check
import clickstream
import eventlog
import run

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "tiny_eventlog.jsonl")


def test_parser_counts_jobs_stages_tasks_per_group():
    groups = eventlog.parse_file(FIXTURE)
    count, write = groups["t/count"], groups["t/write"]
    assert (count["jobs"], count["stages"], count["tasks"]) == (1, 2, 5)
    assert count["shuffle_write_bytes"] > 0
    assert count["shuffle_read_bytes"] == count["shuffle_write_bytes"]
    assert write["jobs"] == 1 and write["tasks"] == 4
    assert write["output_records"] == 1000
    assert write["task_run_ms"] > 0 and write["task_cpu_ns"] > 0


def test_parser_reads_driver_side_write_metrics():
    write = eventlog.parse_file(FIXTURE)["t/write"]
    assert eventlog.sql_sum(write, "number of output rows", "Execute InsertIntoHadoopFsRelationCommand") == 1000
    assert eventlog.sql_sum(write, "number of written files") == 12  # 4 tasks x 3 partitions
    assert eventlog.sql_sum(write, "written output") > 0


def _frame():
    return pd.DataFrame({"k": [2, 1, 3], "v": [0.5, None, 1.25], "s": ["b", "a", "c"]})


def _checked(problem) -> run.Run:
    r = run.Run(spark=None, tracer=None)
    r.check(problem, "test")
    return r


def test_registry_check_passes_equal_output_in_any_row_order():
    want = check.render(_frame())
    got = check.render(_frame().iloc[::-1])
    r = _checked(lambda: check.compare(got, want))
    assert (r.attempted, r.failed) == (1, 0)


def test_registry_check_counts_perturbed_output_as_failed():
    want = check.render(_frame())
    perturbed = [
        _frame().assign(v=[0.5, None, 1.2500001]),  # one value off
        _frame().assign(k=[2.0, 1.0, 3.0]),  # same numbers, other type
        _frame().iloc[:2],  # a row missing
        _frame().rename(columns={"s": "t"}),  # a column renamed
    ]
    for pdf in perturbed:
        r = _checked(lambda: check.compare(check.render(pdf), want))
        assert (r.attempted, r.failed) == (1, 1), pdf


def test_clickstream_check_counts_perturbed_output_as_failed():
    rows = clickstream.generate(300, seed=7)
    expected = sorted(clickstream.expected_rows(rows), key=str)
    marker = {"expected_rows": len(expected), "fingerprint": clickstream.fingerprint(expected)}
    assert _checked(lambda: run.output_problem(expected[::-1], marker)).failed == 0
    changed = [expected[0][:3] + ("99:99:99",) + expected[0][4:]] + expected[1:]
    for bad in (changed, expected[1:], expected + expected[:1]):
        assert _checked(lambda: run.output_problem(bad, marker)).failed == 1


def test_generator_covers_the_reference_cases():
    rows = clickstream.generate(2000, seed=3)
    sites = {r[1]["siteseq"] for r in rows}
    assert set(clickstream.SITES.values()) <= sites
    assert any(r[2] is None for r in rows)  # null userid
    assert any(len(r[4]) == 20 for r in rows)  # secondless timestamp
    assert len({(r[0], r[1]["siteseq"], *r[2:]) for r in rows}) < len(rows)  # duplicate rows
    assert any('", "' in r[6] for r in rows)  # multi-element product arrays
    codes = [int(c) for r in rows for c in re.findall(r'"P(\d+)"', r[6])]
    assert any(c >= clickstream.DIM_CODES for c in codes)  # codes missing from the dimension
    dim_codes = {(site, code) for site, code, *_ in clickstream.dimension()}
    out = clickstream.expected_rows(rows)
    assert any(r[6] is None for r in out)  # login rows through the null-pad branch
    assert len(out) < len(rows)
    assert rows == clickstream.generate(2000, seed=3)
    assert all((r[1], r[6]) in dim_codes for r in out if r[6] is not None)
