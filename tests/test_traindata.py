"""Training-data operators: positive-path and invariant tests.

The oracle parity suite proves the registered queries match DuckDB on
the corpus; these tests pin behavior the synthetic corpus cannot reach
(it contains no PII) and structural invariants of the operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators.traindata import (
    PACK_CONTEXT,
    SAMPLE_RATES,
    scrub_pii,
    split_column,
)
from spark_etl_pipeline_spark.plans import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_pii_scrub_redacts_real_shaped_pii(spark):
    rows = [
        (1, "contact bob.smith+spam@corp-mail.co.uk for details"),
        (2, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (3, "account 123456789 was charged"),
        (4, "no pii here at all"),
        (5, "mix: a@b.io from 8.8.8.8 ref 00112233"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scrubbed, n_red = scrub_pii(F.col("text"))
    got = {
        r.doc_id: (r.clean, r.n)
        for r in df.select("doc_id", scrubbed.alias("clean"), n_red.alias("n")).collect()
    }
    assert got[1] == ("contact [EMAIL] for details", 1)
    assert got[2] == ("server at [IP] and [IP] responded", 2)
    assert got[3] == ("account [NUM] was charged", 1)
    assert got[4] == ("no pii here at all", 0)
    assert got[5] == ("mix: [EMAIL] from [IP] ref [NUM]", 3)


def test_split_is_pure_function_of_id(spark):
    # the same ids must land in the same split in two independent plans
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id")
    a = docs.withColumn("s", split_column()).collect()
    b = docs.orderBy(F.desc("doc_id")).withColumn("s", split_column()).collect()
    assert {r.doc_id: r.s for r in a} == {r.doc_id: r.s for r in b}
    fracs = {s: 0 for s in ("train", "val", "test")}
    for r in a:
        fracs[r.s] += 1
    # 90/5/5 within loose tolerance on the small sample
    assert fracs["train"] > fracs["val"] + fracs["test"]


def test_decontaminate_flags_eval_overlap(spark):
    df = registry.REGISTRY["text_decontaminate"].builder(spark, SF_SMOKE)
    rows = df.collect()
    # eval docs themselves are excluded from the output
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all((r.n_shared > 0) == (r.contaminated == 1) for r in rows)


def test_pack_sequences_invariants(spark):
    rows = registry.REGISTRY["docs_pack_sequences"].builder(spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            cum += r.n_tokens
            assert r.cum_tokens == cum, f"{lang}: cum broken at {r.doc_id}"
            assert 0 <= r.offset_in_pack < PACK_CONTEXT
            assert r.pack_id == (r.cum_tokens - r.n_tokens) // PACK_CONTEXT
            assert r.n_packs_spanned >= 1


def test_pack_sequences_sharded_invariants(spark):
    rows = (
        registry.REGISTRY["docs_pack_sequences_sharded"]
        .builder(spark, SF_SMOKE)
        .collect()
    )
    by_stream: dict[tuple, list] = {}
    for r in rows:
        by_stream.setdefault((r.lang, r.shard), []).append(r)
    assert len(by_stream) > len({k[0] for k in by_stream}), (
        "sharding produced only one stream per language"
    )
    for key, rs in by_stream.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            cum += r.n_tokens
            assert r.cum_tokens == cum, f"{key}: cum broken at {r.doc_id}"
            assert 0 <= r.offset_in_pack < PACK_CONTEXT


def test_pack_sequences_sharded_window_partitions_on_shard(spark):
    # The point of the sharded variant: NO single-partition-per-language
    # window. The exchange feeding the window must hash on (lang, shard).
    df = registry.REGISTRY["docs_pack_sequences_sharded"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert any("shard" in ln and "lang" in ln for ln in shuffles), (
        f"window exchange does not partition on (lang, shard):\n{plan[:2000]}"
    )


def test_bounded_stratum_rank_is_exact_and_bounded(spark, tmp_path):
    """The hash pre-filter must (a) produce row-identical output to the
    unfiltered full-stratum ranking and (b) actually bound the window
    input on a stratum much larger than K."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_etl_pipeline_spark.operators.traindata import (
        STRAT_HASH_MOD,
        STRATUM_K,
        bounded_stratum_rank,
        id_hash_spark,
    )

    n = 5000
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(1, n + 1)),
                "lang": ["en"] * (n - 50) + ["xx"] * 50,
                "text": ["w"] * n,
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs_h = (
        spark.read.parquet(str(tmp_path / "documents.parquet"))
        .select(
            "doc_id",
            "lang",
            F.expr(id_hash_spark("doc_id", STRAT_HASH_MOD)).alias("h"),
        )
    )
    targets = (
        docs_h.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_str"))
        .withColumn("k", F.lit(STRATUM_K))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    full = (
        docs_h.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_K)
        .select("doc_id", "lang", "rk")
    )
    bounded = bounded_stratum_rank(docs_h, targets, "lang", "k")
    got = bounded.filter(F.col("rk") <= STRATUM_K).select("doc_id", "lang", "rk")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))
    # boundedness: the big stratum (4950 rows) must shed most of its
    # rows before the window — expected input is SAFETY*K = 80 rows
    window_input = bounded.count()  # rows that entered the rank window
    assert window_input < n // 5, (
        f"pre-filter did not bound the window: {window_input} of {n} rows"
    )
    # the registered query on the same corpus agrees with full ranking
    spec = registry.REGISTRY["text_stratified_sample"]
    reg = spec.builder(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, reg)) == sorted(map(tuple, full.collect()))


def test_weighted_sample_rates_and_determinism(spark):
    q = registry.REGISTRY["events_weighted_sample"].builder
    a = q(spark, SF_SMOKE).collect()
    b = q(spark, SF_SMOKE).collect()
    assert {r.event_id for r in a} == {r.event_id for r in b}
    full = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    totals = {r.event_type: r.n for r in full.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    kept: dict[str, int] = {t: 0 for t in totals}
    for r in a:
        kept[r.event_type] += 1
    for t, n in totals.items():
        rate = SAMPLE_RATES[t] / 10000
        if rate == 1.0:
            assert kept[t] == n, f"{t}: keep-all class lost rows"
        else:
            assert kept[t] < n, f"{t}: downsampled class kept everything"


def test_short_doc_guards_match_oracle(spark, tmp_path):
    """The synthetic corpus has only long docs; this pins the short-doc
    path: Spark's sequence(1, 0) DESCENDS where DuckDB's generate_series
    is empty, so un-guarded shingle/bigram transforms crash (ANSI) or
    diverge on docs under n tokens. Runs the real builders and the real
    oracles on a corpus of 0..10-token docs and compares type-strictly.
    """
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_oracle_parity import compare

    texts = {
        1: "",  # splits to one empty token
        2: "one",
        3: "one two",
        4: "a b c d e f g",  # 7 tokens: below the 8-token shingle width
        5: "a b c d e f g h",  # exactly one shingle
        6: "a b c d e f g h i j",
        97: "a b c d e f g h x",  # eval doc (97 % 97 == 0) sharing 5's shingle
    }
    pq.write_table(
        pa.table(
            {"doc_id": list(texts.keys()), "text": list(texts.values())}
        ),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    try:
        for name in ("text_repetition_score", "text_decontaminate"):
            spec = registry.REGISTRY[name]
            spark_pdf = spec.builder(spark, str(tmp_path)).toPandas()
            duck_pdf = con.sql(spec.oracle).df()
            compare(spark_pdf, duck_pdf, name)
        # positive contamination coverage: docs 5 and 6 share the eval
        # doc's leading 8-token shingle; docs under 8 tokens have no
        # shingles, so they are absent from BOTH engines' outputs (the
        # explode drops them identically — they trivially can't be
        # contaminated)
        decon = {
            r.doc_id: r.contaminated
            for r in registry.REGISTRY["text_decontaminate"]
            .builder(spark, str(tmp_path))
            .collect()
        }
        assert decon == {5: 1, 6: 1}
    finally:
        con.close()


def test_zscore_degenerate_class_is_null_in_both_engines(spark, tmp_path):
    """A class whose values are all equal has var = 0: unguarded, Spark's
    Divide yields NULL while DuckDB yields inf/NaN. The var > 0 guard
    pins both engines to NULL; verified on a corpus built to contain a
    flat class (the synthetic events never produce one)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_oracle_parity import compare

    rows = {
        "event_id": [1, 2, 3, 4, 5, 6, 7],
        "event_type": ["flat", "flat", "flat", "vary", "vary", "vary", "vary"],
        "value": [5.0, 5.0, 5.0, 1.0, 2.0, 3.0, 10.0],
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    try:
        spec = registry.REGISTRY["events_zscore"]
        spark_pdf = spec.builder(spark, str(tmp_path)).toPandas()
        compare(spark_pdf, con.sql(spec.oracle).df(), "events_zscore")
        z = {
            r.event_id: r.z
            for r in spec.builder(spark, str(tmp_path)).collect()
        }
        assert all(z[i] is None for i in (1, 2, 3)), "flat class must be NULL"
        assert all(z[i] is not None for i in (4, 5, 6, 7))
    finally:
        con.close()


def test_connected_components_resolves_transitive_clusters(spark):
    from spark_etl_pipeline_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (1~4 never directly paired), triangle 7-8-9, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9), (21, 20)],
        "src long, dst long",
    )
    got = {r.id: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 7, 20: 20, 21: 20}


def test_connected_components_broadcast_gate_fallback(spark, monkeypatch):
    """The r16 runtime guard on CC_BROADCAST_LABELS: a label table over
    CC_BROADCAST_MAX_ROWS degrades to un-hinted (sort-merge) rounds at
    runtime with identical labels — the 100TB dup graph OOM-safety
    path. Also pins the plan shape of both branches on a round-shaped
    join (the loop's own joins hide behind checkpoint materialization,
    so the strategy is asserted on the identical construction)."""
    from spark_etl_pipeline_spark.operators import dedup

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9), (21, 20)],
        "src long, dst long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 7, 20: 20, 21: 20}
    monkeypatch.setattr(dedup, "CC_BROADCAST_MAX_ROWS", 0)
    got = {r.id: r.label for r in dedup.connected_components(edges).collect()}
    assert got == want

    # plan pin: the same round-shaped join with the hint plans BHJ,
    # without it SMJ (the checkpointed side carries no stats)
    sym = edges.selectExpr("src s", "dst d").localCheckpoint()
    labels = sym.selectExpr("s id", "s label").distinct().localCheckpoint()
    for bcast, needle in ((True, "BroadcastHashJoin"), (False, "SortMergeJoin")):
        j = sym.join(dedup._label_side(labels, bcast), sym.d == labels.id)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert needle in plan, f"bcast={bcast}: {plan}"


def test_connected_components_chain_exhaustion_and_star_fallback(spark, monkeypatch):
    import pytest

    from spark_etl_pipeline_spark.operators import dedup
    from spark_etl_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    # The budget and the fallback govern only the distributed loop; a
    # row cap of 0 keeps this tiny chain off the driver-local solve.
    monkeypatch.setattr(dedup, "CC_BROADCAST_MAX_ROWS", 0)
    # A 31-vertex chain has diameter 30: min-label propagation moves one
    # hop per round, so the default 25-round budget exhausts before the
    # fixpoint. With fallback disabled the guard must raise — never
    # return partial labels.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, fallback=None)
    want = {i: 0 for i in range(31)}
    # The DEFAULT path now hands the exhausted graph to star contraction
    # and still converges — the pipeline no longer hard-fails on long
    # dup chains.
    got = {r.id: r.label for r in connected_components(chain).collect()}
    assert got == want
    # A bumped budget converges by propagation alone.
    got = {
        r.id: r.label
        for r in connected_components(chain, max_iters=40, fallback=None).collect()
    }
    assert got == want
    # Star contraction converges DIRECTLY with the default budget —
    # O(log² n) rounds, diameter-independent.
    got = {r.id: r.label for r in connected_components_star(chain).collect()}
    assert got == want


def test_connected_components_chain_local_solve(spark):
    """The driver-local counterpart: under the row gate the same
    diameter-30 chain is solved on the driver, where the round budget
    does not apply — exact labels with ``fallback=None``, no raise."""
    from spark_etl_pipeline_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    got = {r.id: r.label for r in connected_components(chain, fallback=None).collect()}
    assert got == {i: 0 for i in range(31)}


def test_connected_components_star_resolves_transitive_clusters(spark):
    from spark_etl_pipeline_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9), (21, 20)],
        "src long, dst long",
    )
    got = {r.id: r.label for r in connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 7, 20: 20, 21: 20}


def test_connected_components_matches_union_find_property(spark, monkeypatch):
    # randomized edge lists vs a pure-Python union-find reference, on
    # both sides of the row gate: the distributed loop (cap 0) and the
    # driver-local solve (default cap, left in place for the star run)
    from hypothesis import given, settings, strategies as st

    from spark_etl_pipeline_spark.operators import dedup
    from spark_etl_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    caps = (0, dedup.CC_BROADCAST_MAX_ROWS)

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical min-label per vertex
        return {v: find(v) for v in parent}

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=1,
            max_size=25,
        )
    )
    def check(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        want = uf_components(edges)
        for cap in caps:
            monkeypatch.setattr(dedup, "CC_BROADCAST_MAX_ROWS", cap)
            got = {r.id: r.label for r in connected_components(df).collect()}
            assert got == want, f"cap={cap}"
        star = {r.id: r.label for r in connected_components_star(df).collect()}
        assert star == want

    check()


def test_incremental_dedup_base_wins_and_greedy_min(spark):
    """Pin the two rules the oracle can't isolate: (1) a delta doc dies
    to a base near-dup even when the BASE id is LARGER; (2) within the
    batch, only the partner with the smaller id survives; (3) a
    transitive chain is greedy-pairwise, not connected-components."""
    from spark_etl_pipeline_spark.operators.dedup import incremental_survivors

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "one two three four five six seven eight nine ten"
    rows = [
        # delta 1 dups base 100 (larger base id): base must still win.
        (1, shared + " tail_a"),
        (100, shared + " tail_b"),
        # delta 3 and 5 dup each other, no base partner: 3 survives.
        (3, uniq + " closer_x"),
        (5, uniq + " closer_y"),
        # delta 7: clean, survives.
        (7, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    delta_ids = {1, 3, 5, 7}
    out = incremental_survivors(
        docs, lambda c: c.isin([int(i) for i in delta_ids])
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == {3, 7}, got
