"""Per-operator unit tests for the SURVEY.md §2 inventory quirks."""

import math

import pytest

from pyspark.sql import functions as F

from plan_checks import assert_no_python_rdd_scan

from quantum_rag_data_pipeline_spark.operators import aggregates as agg_ops
from quantum_rag_data_pipeline_spark.operators import projection as proj_ops
from quantum_rag_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)
from quantum_rag_data_pipeline_spark.operators.text import lang_id, token_count
from quantum_rag_data_pipeline_spark.sources.ercot import (
    FakeErcotClient,
    RetryingClient,
    ThrottledError,
    envelope_to_df,
)
from quantum_rag_data_pipeline_spark.sources.weather import (
    daily_avg_temperature,
    fake_daily_weather,
    fake_hourly_weather,
    hourly_wide_table,
)


def test_p2_permissive_cast_drops_bad_cells(spark):
    """P2 (src/main.py:74-79): junk cells → NULL, aggregates over the rest."""
    env = {
        "fields": [{"name": "x"}, {"name": "y"}],
        "data": [[1, "2.5"], ["N/A", 3], [None, "junk"], [4], []],
    }
    df = envelope_to_df(spark, env)
    out = df.select(
        proj_ops.permissive_double("x").alias("x"), proj_ops.permissive_double("y").alias("y")
    ).agg(F.sum("x").alias("sx"), F.count("x").alias("cx"), F.sum("y").alias("sy"))
    row = out.collect()[0]
    assert row["sx"] == 5.0 and row["cx"] == 2  # 1 + 4; "N/A"/None dropped
    assert row["sy"] == 5.5  # 2.5 + 3; short records padded with NULL


@pytest.mark.parametrize("env, schema, rows", [
    ({}, "struct<>", []),
    # header-less: one zero-column row per record
    ({"fields": [], "data": [[1], ["x", 2], []]}, "struct<>", [(), (), ()]),
    ({"fields": [{"name": "a"}, {"name": "b"}]}, "struct<a:string,b:string>", []),
    ({"fields": [{"name": "a"}, {"name": "b"}], "data": []}, "struct<a:string,b:string>", []),
    # short records pad with NULL, long ones are cut, every cell is str()
    ({"fields": [{"name": "a"}, {"name": "b"}, {"name": "c"}],
      "data": [[1.5, None, "N/A"], ["x"], [1, 2, 3, 4], [], [True, 0.1]]},
     "struct<a:string,b:string,c:string>",
     [("1.5", None, "N/A"), ("x", None, None), ("1", "2", "3"), (None, None, None),
      ("True", "0.1", None)]),
], ids=["empty", "no-fields", "header-only", "header-empty-data", "short-and-long"])
def test_envelope_to_df_is_a_jvm_local_relation(spark, env, schema, rows):
    """Every envelope shape, degenerate ones included, keeps its schema,
    rows and count and plans without a Python-RDD scan."""
    df = envelope_to_df(spark, env)
    assert df.schema.simpleString() == schema
    assert [tuple(r) for r in df.collect()] == rows
    assert df.count() == len(rows)
    assert_no_python_rdd_scan(df)


def test_a1_empty_values_yield_zero(spark):
    """A1 (src/main.py:90-91): zero parseable values → 0.0, not NULL."""
    df = spark.createDataFrame([("a",)], "v string")
    out = df.select(proj_ops.permissive_double("v").alias("v")).agg(
        F.coalesce(F.sum("v"), F.lit(0.0)).alias("s")
    )
    assert out.collect()[0]["s"] == 0.0


def test_p15_literal_backslash_n_scrub(spark):
    """P15 quirk (embedding_service.py:67): scrubs the two-char literal
    \\n, leaves real newlines."""
    df = spark.createDataFrame([(r"a\nb" + "\nc",)], "t string")
    out = df.select(proj_ops.scrub_literal_backslash_n("t").alias("s")).collect()[0]["s"]
    assert out == "a b\nc"
    fixed = df.select(
        proj_ops.scrub_literal_backslash_n("t", fix_newlines=True).alias("s")
    ).collect()[0]["s"]
    assert fixed == "a b c"


def test_a3_horizontal_skipna_mean(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (1.0, None, 3.0), (None, None, None)], "a double, b double, c double"
    )
    vals = [r["m"] for r in df.select(agg_ops.horizontal_skipna_mean(["a", "b", "c"], "m")).collect()]
    assert vals[0] == 2.0
    assert vals[1] == 2.0  # pandas skipna semantics (weather.py:111)
    assert vals[2] is None


def test_s2_retry_backoff():
    """S2 (client.py:61-71): exponential backoff with jitter, then success."""
    calls = {"n": 0}
    sleeps = []

    def fetch(endpoint, params):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ThrottledError("429")
        return {"fields": [], "data": []}

    client = RetryingClient(fetch, max_retries=8, base_delay=5.0,
                            sleep=sleeps.append, rand=lambda a, b: 1.0)
    assert client.get_data("ep", {}) == {"fields": [], "data": []}
    assert sleeps == [5.0 * 1 + 1.0, 5.0 * 2 + 1.0]  # base*2**attempt + jitter


def test_weather_daily_avg_and_wide_table(spark):
    daily = fake_daily_weather(spark, "2025-05-01", "2025-05-03")
    avg = daily_avg_temperature(daily)
    rows = {str(r["date"]): r["avg_temp_c"] for r in avg.collect()}
    assert len(rows) == 3
    # cross-checks: round(mean of non-null, 2) per the reference
    import statistics

    pdf = daily.toPandas()
    for day, got in rows.items():
        vals = [v for v in pdf[pdf["date"].astype(str) == day]["tavg"] if v == v and v is not None]
        assert got == round(statistics.mean(vals), 2)

    hourly = fake_hourly_weather(spark, "2025-05-01")
    wide = hourly_wide_table(hourly)
    assert wide.columns[0] == "timestamp"
    assert "houston_temp_c" in wide.columns and "avg_temperature_f" in wide.columns
    w0 = wide.collect()[0]
    present = [w0[f"{c}_temp_c"] for c in
               ("houston", "austin", "dallas", "san_antonio", "fort_worth", "corpus_christi")]
    present = [v for v in present if v is not None]
    assert abs(w0["avg_temperature_c"] - sum(present) / len(present)) < 1e-9
    assert abs(w0["avg_temperature_f"] - (w0["avg_temperature_c"] * 9 / 5 + 32)) < 1e-9


def test_weather_fakes_are_jvm_local_relations(spark):
    """The fake weather sources keep their rows (dates; naive hours read
    as UTC by the pinned session) and plan without a Python-RDD scan."""
    from datetime import date, timedelta

    from quantum_rag_data_pipeline_spark.sources.weather import CITIES, HOURLY_CITIES, _det_temp

    daily = fake_daily_weather(spark, "2025-05-01", "2025-05-03")
    days = [date(2025, 5, 1) + timedelta(days=i) for i in range(3)]
    assert [tuple(r) for r in daily.collect()] == [
        (c, d, _det_temp(c, d.isoformat())) for d in days for c in CITIES]
    hourly = fake_hourly_weather(spark, "2025-05-01")
    t0 = 1746057600  # 2025-05-01T00:00:00Z, in seconds
    got = hourly.select("city", F.unix_micros("time"), "temp_c").collect()
    assert [tuple(r) for r in got] == [
        (c, (t0 + 3600 * h) * 10**6, _det_temp(c, f"2025-05-01T{h:02d}:00:00"))
        for c in HOURLY_CITIES for h in range(24)]
    for df in (daily, hourly):
        assert_no_python_rdd_scan(df)


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "same  text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3]  # whitespace-normalized match, min id wins


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    sh = df.select(word_shingles("t", 3).alias("s")).collect()[0]["s"]
    assert sorted(sh) == ["a b c", "b c d"]
    short = spark.createDataFrame([("a b",)], "t string")
    sh2 = short.select(word_shingles("t", 3).alias("s")).collect()[0]["s"]
    assert sh2 == ["a b"]


def test_ngram_jaccard_hashed_candidate_key(spark):
    """Round-14 internals pin: the PPJoin candidate self-join is keyed on
    xxhash64(shingle) LONGS (guide §2.3 — the exchange/broadcast ships 8
    bytes per prefix row, not the n-gram string), and the output is still
    the exact brute-force answer — the downstream array_intersect
    verification makes hash-collision candidates harmless."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different document about spark shuffles"),
        (4, "a completely different document about spark shuffles"),
        (5, "short text"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = ngram_jaccard_pairs(df, n=3, threshold=0.5)
    # brute force on the same shingle definition
    def sh(t, n=3):
        tk = t.strip().split()
        return ({" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
                if len(tk) >= n else {" ".join(tk)})
    exp = {}
    sets = {i: sh(t) for i, t in docs}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= 0.5:
                    exp[(a, b)] = round(j, 6)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got == exp and (1, 2) in got and (3, 4) in got
    # internals: the candidate join key must be the xxhash64 long, and the
    # exact verification must still be present downstream. Captured via
    # the public explain() API (round-14 advisor: the py4j
    # _jvm.PythonSQLUtils reach-through breaks under Spark Connect).
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "xxhash64(shingle" in plan, "candidate join key regressed to strings"
    assert "array_intersect" in plan, "exact verification missing"
    spark.catalog.clearCache()


def test_minhash_lsh_finds_near_dups_that_jaccard_finds(spark, sf_dir):
    """LSH recall invariant: high-similarity pairs from the exact
    Jaccard operator must be recovered by the LSH candidates."""
    from quantum_rag_data_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(docs, n=5, threshold=0.6).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(docs, num_hashes=64, bands=16, n=5, verify_threshold=0.4).collect()}
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low ({len(exact)} exact pairs)"


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww vv uu")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_blocking_guarantee_default_params(spark):
    """Pigeonhole property: at the default (max_hamming=3, blocks=4),
    blocking must find EVERY pair within 3 flipped bits. 200 random
    64-bit codes, each paired with a copy that has 0-3 random bits
    flipped — zero missed pairs allowed."""
    import random

    from quantum_rag_data_pipeline_spark.operators.dedup import simhash_pairs_from_codes

    rng = random.Random(7)

    def signed(u):  # two's-complement uint64 -> int64
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = []
    expected = set()
    for i in range(200):
        base = rng.getrandbits(64)
        nflips = rng.randrange(0, 4)
        flipped = base
        for _ in range(nflips):
            flipped ^= 1 << rng.randrange(64)
        rows.append((2 * i, signed(base)))
        rows.append((2 * i + 1, signed(flipped)))
        expected.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "doc_id long, sh long")
    found = {(r["id_a"], r["id_b"]) for r in simhash_pairs_from_codes(df).collect()}
    assert expected - found == set(), f"missed {len(expected - found)} pairs"


def test_simhash_rejects_guarantee_breaking_params(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, max_hamming=8, blocks=4)


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it is fine",),
         ("el gato y la casa de los niños",),
         ("qqq zzz www",)],
        "t string",
    )
    langs = [r["l"] for r in df.select(lang_id("t").alias("l")).collect()]
    assert langs == ["en", "es", "und"]


def test_token_count(spark):
    df = spark.createDataFrame([("  a  b   c ",), ("", ), (" ", )], "t string")
    counts = [r["n"] for r in df.select(token_count("t").alias("n")).collect()]
    assert counts == [3, 0, 0]


def test_fake_ercot_client_deterministic(spark):
    c = FakeErcotClient({"ep": ["a", "b"]})
    e1 = c.get_data("ep", {"d": "2025-01-01"})
    e2 = c.get_data("ep", {"d": "2025-01-01"})
    e3 = c.get_data("ep", {"d": "2025-01-02"})
    assert e1 == e2
    assert e1 != e3


def test_near_dup_fast_matches_exact(spark, sf_dir):
    """Hybrid matmul-prefilter + exact-rescore must equal brute force."""
    from quantum_rag_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_fast,
    )
    from quantum_rag_data_pipeline_spark.sources.registry import load_table

    e = load_table(spark, "embeddings", sf_dir)
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in embedding_near_dup_pairs(e, threshold=0.4, dim=64).collect()}
    fast = {(r["id_a"], r["id_b"]): r["cos_sim"]
            for r in embedding_near_dup_pairs_fast(e, dim=64, threshold=0.4).collect()}
    assert fast == exact


def test_salted_count_distinct_exact(spark, sf_dir):
    from quantum_rag_data_pipeline_spark.operators.skew import salted_count_distinct
    from quantum_rag_data_pipeline_spark.sources.registry import load_table

    li = load_table(spark, "lineitem", sf_dir)
    want = {r["l_returnflag"]: r["n"] for r in
            li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()}
    got = {r["l_returnflag"]: r["n_distinct_l_partkey"] for r in
           salted_count_distinct(li, ["l_returnflag"], "l_partkey", buckets=16).collect()}
    assert got == want


def test_salted_join_equals_plain_join(spark, sf_dir):
    from quantum_rag_data_pipeline_spark.operators.skew import salted_join
    from quantum_rag_data_pipeline_spark.sources.registry import load_table

    orders = load_table(spark, "orders", sf_dir).withColumnRenamed("o_custkey", "c_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    plain = orders.join(cust, "c_custkey").groupBy("c_mktsegment").count()
    salted = salted_join(orders, cust, "c_custkey", ["o_orderkey"], buckets=8) \
        .groupBy("c_mktsegment").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_connected_components_chain_and_islands(spark):
    """A 30-node path graph (worst-case diameter) plus two disjoint islands:
    pointer jumping must resolve the chain in O(log n) rounds, labels must
    be the component minima."""
    from quantum_rag_data_pipeline_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(30)]            # 0..30 one component
    islands = [(100, 101), (200, 201), (201, 202)]
    edges = spark.createDataFrame(chain + islands, ["src", "dst"])
    got = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert all(got[i] == 0 for i in range(31))
    assert got[100] == got[101] == 100
    assert got[200] == got[201] == got[202] == 200


def test_connected_components_long_chain_crosses_stats_reset(spark):
    """A path long enough that convergence takes more rounds than
    _STATS_RESET_EVERY, so the loop's catalyst-stats spill (labels →
    scratch parquet → re-read, round 14) executes mid-iteration: labels
    must be unchanged by the round-trip, and the checkpointed plan's
    sizeInBytes must actually have been reset (stays far below the
    unguarded doubling trajectory)."""
    from quantum_rag_data_pipeline_spark.operators import graph as g

    n = 700  # diameter 699 → ~10-11 pointer-jump rounds > _STATS_RESET_EVERY=8
    edges = spark.range(n - 1).selectExpr("id as src", "id + 1 as dst")
    out = g.connected_components(edges, local_max_edges=0)  # force the loop
    stats_bits = int(
        out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert len(got) == n and all(v == 0 for v in got.values())
    # unguarded, round-11 stats carry ~125k bits (doubling from 83/round-1);
    # the round-8 reset restarts from a file-size estimate (~20 bits), so
    # anything near the doubling trajectory means the spill didn't happen.
    assert stats_bits < 10_000, f"stats not reset: {stats_bits} bits"


def test_connected_components_local_vs_distributed_parity(spark):
    """The size-gated driver union-find (round 14) must label exactly as
    the distributed pointer-jump loop — same (node, cluster_id) set,
    cluster_id = component minimum — on a graph mixing a chain, a star,
    islands, duplicate/reversed edges and self-loops."""
    import random

    from quantum_rag_data_pipeline_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40)]                 # chain
    edges += [(500, 500 + i) for i in range(1, 12)]         # star
    edges += [(1000, 1001), (1002, 1001), (1001, 1000)]     # dup + reversed
    edges += [(2000, 2000)]                                 # self-loop only
    edges += [(rng.randrange(3000, 3050), rng.randrange(3000, 3050))
              for _ in range(120)]                          # random clump
    df = spark.createDataFrame(edges, ["src", "dst"])
    local = {(r["node"], r["cluster_id"])
             for r in connected_components(df).collect()}            # gated path
    dist = {(r["node"], r["cluster_id"])
            for r in connected_components(df, local_max_edges=0).collect()}
    assert local == dist and len(local) > 0


@pytest.mark.parametrize("B", [5, 8])
@pytest.mark.parametrize("mode", ["knn_graph", "near_dup", "incremental"])
def test_gram_kernel_exact_with_forced_empty_blocks(spark, monkeypatch, mode, B):
    """Every mode of the shared blocked-gram kernel against brute force,
    with the block count forced far above the row count: 12 rows into
    5/8 blocks leave blocks EMPTY, so cross groups (x, y) with an empty
    y-block arrive b-less. Diagonality must come from the group key, not
    from len(b) (round-15 hardening) — inferring it re-ran the diagonal
    kernel there and duplicated block-x's within-pairs, corrupting kNN
    ranks and near-dup pair multiplicity. Modes: the kNN graph (top-keep
    with exact scores), near-dup pairs ≥ τ (threshold mode), and the
    incremental kNN update, whose old×old, old×new and new×new grids
    share one pass."""
    import random

    from quantum_rag_data_pipeline_spark.operators import similarity as sim

    random.seed(3)
    rows = [(i, [random.random() for _ in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def seq_cos(a, b):  # the engine's sequential fold, op for op
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d, na, nb = d + x * y, na + x * x, nb + y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    cos = {(i, j): seq_cos(rows[i][1], rows[j][1])
           for i in range(12) for j in range(12) if i != j}
    if mode == "near_dup":
        tau = 0.8
        exp = {(i, j) for (i, j), c in cos.items() if i < j and c >= tau}
        assert 0 < len(exp) < 66  # the threshold splits the pairs
        out = sim.embedding_near_dup_pairs_fast(df, dim=8, threshold=tau, n_blocks=B)
        got = [(r["id_a"], r["id_b"]) for r in out.collect()]
        assert len(got) == len(set(got)), "a pair was emitted twice"
        assert set(got) == exp, sorted(set(got) ^ exp)[:6]
        return
    exp = set()
    for i in range(12):
        order = sorted((-cos[i, j], j) for j in range(12) if j != i)[:3]
        exp |= {(i, j, rnk) for rnk, (_negc, j) in enumerate(order, 1)}
    if mode == "knn_graph":
        out = sim.knn_graph(df, k=3, dim=8, n_blocks=B)
    else:
        monkeypatch.setattr(sim, "_auto_blocks", lambda *a, **kw: B)
        out = sim.knn_graph_incremental(df.filter("vec_id % 3 != 0"),
                                        df.filter("vec_id % 3 = 0"), k=3, dim=8)
    got = [(r["src"], r["dst"], r["rnk"]) for r in out.collect()]
    assert len(got) == len(set(got)) == 36
    assert set(got) == exp, sorted(set(got) ^ exp)[:6]


def test_knn_graph_incremental_is_one_gram_pass(spark, sf_dir):
    """The incremental kNN update is one membership frame over three
    pid-namespaced grids, so its plan runs the gram kernel ONCE (it was
    three passes: old candidates, the old×new cross pass, new×new)."""
    from quantum_rag_data_pipeline_spark.queries import QUERIES

    df = QUERIES["knn_graph_incremental_parity"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_connected_components_local_path_is_jvm_local_relation(spark):
    """The union-find labels must return as a JVM local relation (Arrow
    createDataFrame path, round 15): a pickled list-of-tuples comes back
    as a PYTHON RDD whose partitions spin up python workers on every
    downstream action (measured in bench context: the canonical
    pipeline's save stage read 69.6 s summed runTime at 0.3 s CPU —
    pure worker wait). Pin that the local path's plan contains no
    Python-RDD scan."""
    from quantum_rag_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["src", "dst"])
    out = connected_components(edges)  # 3 edges → gated local path
    plan = assert_no_python_rdd_scan(out)
    assert "LocalTableScan" in plan, plan
    assert {(r["node"], r["cluster_id"]) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_empty_graph_without_arrow(spark):
    """The local union-find path must return a TYPED empty frame for an
    empty edge list in any session config: without Arrow, a schema-less
    createDataFrame of an empty pandas frame cannot infer a schema."""
    from quantum_rag_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = connected_components(edges)
        assert out.collect() == []
        assert out.schema.simpleString() == "struct<node:bigint,cluster_id:bigint>"
    finally:
        spark.conf.set(key, prev)


def test_functional_dependency_profile_matches_oracle_on_empty_tables(spark, sf_dir, tmp_path):
    """An empty input table contributes no candidate row, exactly like
    the DuckDB oracle's GROUP BY (a global aggregate would emit one
    all-null row per empty table). Nation keeps its rows, so one
    candidate survives."""
    import os
    import sys

    import duckdb
    import pyarrow.parquet as pq

    from quantum_rag_data_pipeline_spark.queries import ORACLE, QUERIES

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from oracle_check import table_hash

    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem", "events"):
        src = pq.read_table(f"{sf_dir}/{t}.parquet")
        pq.write_table(src if t == "nation" else src.schema.empty_table(),
                       str(tmp_path / f"{t}.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    name = "functional_dependency_profile"
    sdf = QUERIES[name](spark, str(tmp_path))
    scols = sdf.columns
    srows = [tuple(d[c] for c in scols) for d in sdf.toArrow().to_pylist()]
    dtab = con.execute(ORACLE[name]).arrow()
    dcols = list(dtab.schema.names)
    drows = [tuple(d[c] for c in dcols) for d in dtab.to_pylist()]
    assert len(srows) == len(drows) == 1, (srows, drows)
    assert table_hash(scols, srows) == table_hash(dcols, drows), (srows, drows)


def test_curation_split_deterministic_and_complete(spark):
    from quantum_rag_data_pipeline_spark.operators.curation import assign_split

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out1 = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}
    out2 = {r["doc_id"]: r["split"] for r in assign_split(df.repartition(7)).collect()}
    assert out1 == out2  # stable under repartitioning
    from collections import Counter
    c = Counter(out1.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_pii_redaction_and_packing(spark):
    from pyspark.sql import functions as F
    from quantum_rag_data_pipeline_spark.operators.curation import (
        pack_token_budget, pii_match_count, redact_pii, EMAIL_RE)

    df = spark.createDataFrame(
        [("mail me at a.b@x-corp.io or call 555-123-4567",), ("clean text",)], ["t"])
    got = df.select(redact_pii("t").alias("r"),
                    pii_match_count("t", EMAIL_RE).alias("ne")).collect()
    assert got[0]["r"] == "mail me at <EMAIL> or call <PHONE>"
    assert got[0]["ne"] == 1 and got[1]["ne"] == 0

    docs = spark.createDataFrame(
        [("s", i, 300) for i in range(10)], ["g", "i", "ntok"])
    bins = pack_token_budget(docs, "g", "i", "ntok", 1000)
    by_bin = {r["bin"] for r in bins.collect()}
    assert by_bin == {0, 1, 2}  # 3000 tokens / 1000 budget, straddling allowed


def test_chunk_by_tokens_reconstructs(spark):
    from quantum_rag_data_pipeline_spark.operators.text import chunk_by_tokens

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(70))), (2, "a b"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_by_tokens(docs, chunk_size=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # empty/whitespace docs -> zero chunks
    assert 3 not in by_doc and 4 not in by_doc
    # short doc -> one chunk, exact text
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk == "a b" and by_doc[2][0].chunk_ntok == 2
    # 70 tokens, step 24 -> starts 0,24,48 -> 3 chunks; stitching the
    # first (chunk_size-overlap) tokens of each chunk + the tail of the
    # last reconstructs the doc
    chunks = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [c.chunk_ntok for c in chunks] == [32, 32, 22]
    toks = []
    for c in chunks[:-1]:
        toks.extend(c.chunk.split(" ")[:24])
    toks.extend(chunks[-1].chunk.split(" "))
    assert toks == [f"t{i}" for i in range(70)]


def test_stratified_sample_exact_counts(spark):
    import math

    from quantum_rag_data_pipeline_spark.operators.curation import stratified_sample_exact

    rows = [(i, "s%d" % (i % 3)) for i in range(101)]
    df = spark.createDataFrame(rows, "id long, stratum string")
    out = stratified_sample_exact(df, ["stratum"], "id", 0.3, salt=1)
    got = {
        r.stratum: r.n
        for r in out.filter("sampled").groupBy("stratum").count().withColumnRenamed("count", "n").collect()
    }
    totals = {r.stratum: r.n for r in df.groupBy("stratum").count().withColumnRenamed("count", "n").collect()}
    assert got == {s: math.ceil(n * 0.3) for s, n in totals.items()}
    # determinism under repartition
    out2 = stratified_sample_exact(df.repartition(7), ["stratum"], "id", 0.3, salt=1)
    a = sorted(r.id for r in out.filter("sampled").collect())
    b = sorted(r.id for r in out2.filter("sampled").collect())
    assert a == b


def test_decontaminate_flags_injected_overlap(spark):
    from quantum_rag_data_pipeline_spark.operators.curation import decontaminate

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox jumps and more"),  # 5-token overlap
            (2, "completely unrelated text with no shared phrases at all"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    out = decontaminate(train, ev, ngram=4, min_shared=1).collect()
    assert {(r.train_id, r.eval_id) for r in out} == {(1, 100)}
    # doc 1 shares exactly two distinct 4-grams of the eval doc
    assert out[0].n_shared == 2


def test_assign_to_centroids_self_and_ties(spark):
    from quantum_rag_data_pipeline_spark.operators.similarity import assign_to_centroids

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0, 0.0]),   # -> centroid 0, cos 1
            (11, [0.0, 3.0, 0.0, 0.0]),   # -> centroid 1, cos 1
            (12, [1.0, 1.0, 0.0, 0.0]),   # exact tie -> lowest id wins
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.centroid_id, r.cos_sim) for r in assign_to_centroids(vecs, cents, dim=4).collect()}
    assert got[10] == (0, 1.0) and got[11] == (1, 1.0)
    assert got[12][0] == 0


def test_assign_to_centroids_empty_centroid_table(spark):
    """Round-12 advisor pin: an empty centroid table must return an
    empty frame with the declared schema (the old broadcast-join shape's
    semantics), not raise AxisError normalizing a (0,) array."""
    from quantum_rag_data_pipeline_spark.operators.similarity import assign_to_centroids

    cents = spark.createDataFrame([], "centroid_id long, embedding array<double>")
    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id long, embedding array<double>")
    out = assign_to_centroids(vecs, cents, dim=2)
    assert out.columns == ["vec_id", "centroid_id", "cos_sim"]
    assert out.count() == 0


def test_gopher_flags_rules(spark):
    from quantum_rag_data_pipeline_spark.operators.curation import gopher_quality_flags

    good = " ".join(["the"] + [f"word{i}" for i in range(40)])  # 41 tokens, has 'the', no dominance
    repetitive = " ".join(["the"] * 10 + [f"word{i}" for i in range(30)])
    short = "the tiny one"
    docs = spark.createDataFrame(
        [(1, good), (2, repetitive), (3, short)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert got[1].pass_r1 and got[1].pass_r3 and got[1].pass_r4
    assert not got[2].pass_r3      # 10/40 'the' > 0.15 dominance
    assert not got[3].pass_r1      # too short


def test_kmeans_lloyd_matches_numpy(spark):
    import numpy as np

    from quantum_rag_data_pipeline_spark.operators.similarity import kmeans_lloyd

    rng = np.random.default_rng(7)
    # three well-separated blobs in 8-d
    blobs = np.concatenate([
        rng.normal(0, 0.05, (20, 8)) + center
        for center in (np.eye(8)[0] * 5, np.eye(8)[3] * 5, np.eye(8)[6] * 5)
    ])
    rows = [(i, [float(x) for x in blobs[i]]) for i in range(len(blobs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {r.centroid_id: np.array(r.embedding) for r in kmeans_lloyd(df, k=3, dim=8, n_iter=4).collect()}
    assert len(got) == 3

    # numpy reference: identical seeding (vectors 0..2), cosine E-step,
    # mean M-step, 4 rounds
    C = blobs[:3].copy()
    for _ in range(4):
        cs = (blobs @ C.T) / (
            np.linalg.norm(blobs, axis=1, keepdims=True) * np.linalg.norm(C, axis=1)
        )
        a = np.argmax(cs, axis=1)
        C = np.stack([blobs[a == j].mean(axis=0) for j in range(3)])
    for j in range(3):
        assert np.allclose(got[j], C[j], atol=1e-9), f"centroid {j} diverged"


def test_srp_ann_recall_floor_and_table_knob(spark, sf_dir):
    """SRP-ANN empirical recall vs brute force — the test the
    ann_lsh_topk docstring used to attribute (incorrectly) to the
    MinHash recall test. On this corpus (max cross-pair cos ≈ 0.51,
    weakly-similar neighbors) top-10 recall at 8 planes is LOW by
    design — the SRP collision S-curve gives weak pairs little mass —
    so the honest invariants are: a measured floor (0.20 at 4 tables,
    sf0.001), monotone-ish improvement with more tables (the recall
    knob actually works), and perfect recall of the high-similarity
    regime (self at cos 1.0 — also driver-gated via
    ann_lsh_self_recovery/ann_lsh_topk's planted-copy contract)."""
    from pyspark.sql import functions as F

    from quantum_rag_data_pipeline_spark.operators import similarity as sim_ops
    from quantum_rag_data_pipeline_spark.sources.registry import load_table

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {(r.query_id, r.vec_id)
          for r in sim_ops.brute_force_topk(e, q, k=10, dim=64).collect()}

    def recall(n_tables):
        ls = {(r.query_id, r.vec_id)
              for r in sim_ops.lsh_bucket_topk(
                  e, q, dim=64, k=10, n_planes=8, n_tables=n_tables).collect()}
        return len(bf & ls) / len(bf)

    r2, r8 = recall(2), recall(8)
    assert r2 >= 0.10   # measured 0.15 — floor with slack
    assert r8 >= 0.18   # measured 0.25
    assert r8 > r2      # more tables must buy recall
    # the high-similarity regime is exact: self is always recovered
    self_hits = {(r.query_id, r.vec_id)
                 for r in sim_ops.lsh_bucket_topk(
                     e, q, dim=64, k=1, n_planes=8, n_tables=4).collect()}
    assert self_hits == {(i, i) for i in range(10)}


def test_dot_fast_path_skips_plan_bound_columns(spark):
    """Round-5 advisor item: the name-based F.expr fast path must only
    fire for unresolved F.col inputs. Plan-bound columns (df["v"]) keep
    their bound expression tree — so scoring across a join binds each
    side correctly, and a stale bound reference fails LOUDLY instead of
    silently rebinding both sides to whichever 'v' survived a rename
    (the old dot(v, v) trap)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from quantum_rag_data_pipeline_spark.operators import similarity as sim_ops

    df1 = spark.createDataFrame([(1, [3.0, 0.0])], "id int, v array<double>")
    df2 = spark.createDataFrame([(1, [0.0, 5.0])], "id int, v array<double>")

    # 1) cross-binding over a join where BOTH sides expose 'v': the bound
    #    path must compute the cross dot (0.0), not dot(v, v) (9 or 25),
    #    and not raise AMBIGUOUS_REFERENCE like the old expr rebind did.
    j = df1.join(df2, "id")
    [row] = j.select(sim_ops.dot(df1["v"], df2["v"], 2).alias("d")).collect()
    assert row.d == 0.0

    # 2) a bound column whose source was renamed OUT of the plan fails at
    #    analysis — the exact scenario that used to silently self-bind.
    j2 = df1.join(df2.select("id", F.col("v").alias("w")), "id")
    with pytest.raises(AnalysisException):
        j2.select(sim_ops.dot(df1["v"], df2["v"], 2).alias("d")).collect()

    # 3) unresolved F.col inputs still take the memoized expr fast path
    #    (same value, cache populated under a fresh key).
    sim_ops._dot_cache_for_session().clear()
    [row3] = df1.select(sim_ops.dot(F.col("v"), F.col("v"), 2).alias("d")).collect()
    assert row3.d == 9.0
    assert ("v", "v", 2) in sim_ops._dot_cache_for_session()


def test_cache_scope_releases_entries(spark):
    """Round-5 advisor item: external long-lived sessions need an
    in-library guard for the CacheManager-accumulation failure mode.
    cache_scope must leave the session cache empty on exit, success or
    raise."""
    import pytest

    from quantum_rag_data_pipeline_spark.session import cache_scope

    jcm = spark._jsparkSession.sharedState().cacheManager()
    with cache_scope(spark):
        df = spark.range(100).cache()
        assert df.count() == 100
        assert not jcm.isEmpty()
    assert jcm.isEmpty()

    with pytest.raises(RuntimeError):
        with cache_scope(spark):
            spark.range(10).cache().count()
            raise RuntimeError("boom")
    assert jcm.isEmpty()


def test_copurchase_edges_memo_respects_with_counts(spark, sf_dir):
    """Round-6 regression: the memo-hit path must apply the same
    with_counts projection as the build path — the first bench after the
    co column landed had the SECOND artifact consumer receive (u,v,co)
    and fail unionByName with a schema mismatch."""
    from quantum_rag_data_pipeline_spark.operators import graph as graph_ops

    first = graph_ops.copurchase_edges(spark, sf_dir)          # build
    again = graph_ops.copurchase_edges(spark, sf_dir)          # memo hit
    counted = graph_ops.copurchase_edges(spark, sf_dir, with_counts=True)
    assert first.columns == ["u", "v"]
    assert again.columns == ["u", "v"]
    assert counted.columns == ["u", "v", "co"]
    # and the memo must not leak across orderings: counts-first session
    graph_ops._EDGE_MEMO.clear()
    c2 = graph_ops.copurchase_edges(spark, sf_dir, with_counts=True)
    p2 = graph_ops.copurchase_edges(spark, sf_dir)
    assert c2.columns == ["u", "v", "co"] and p2.columns == ["u", "v"]
