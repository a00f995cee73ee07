"""Unit tests for the round-2 operator additions: triangle counting,
BFS levels, weighted median, prefix-filtered set-similarity join, and
the Pareto frontier / CUSUM / checksum query shapes."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_triangle_count_known_graph(spark):
    """K4 minus one edge has 2 triangles; verify node/edge counts too."""
    from health_data_transformation_spark.operators.graph import (
        canonical_edges,
        triangle_count,
    )

    # K4 on {1,2,3,4} minus edge (3,4): triangles {1,2,3} and {1,2,4}
    raw = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 1), (3, 1)],  # dups+reverse
        "u LONG, v LONG",
    )
    edges = canonical_edges(raw, "u", "v")
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 5, 2)


def test_triangle_count_no_triangles(spark):
    from health_data_transformation_spark.operators.graph import (
        canonical_edges,
        triangle_count,
    )

    # a path 1-2-3-4 has no triangles
    raw = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u LONG, v LONG")
    row = triangle_count(canonical_edges(raw, "u", "v")).collect()[0]
    assert row.n_triangles == 0


def test_bfs_levels_chain_and_cutoff(spark):
    """Chain 1-2-3-4-5: levels are hop counts; max_depth truncates."""
    from health_data_transformation_spark.operators.graph import (
        bfs_levels,
        symmetrize,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a LONG, b LONG"
    )
    sym = symmetrize(chain, "a", "b")
    got = {r.node: r.lvl for r in bfs_levels(sym, seed=1, max_depth=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # node 5 is beyond depth 3


def test_bfs_levels_picks_min_level(spark):
    """Diamond 1-2, 1-3, 2-4, 3-4: node 4 is level 2 exactly once."""
    from health_data_transformation_spark.operators.graph import (
        bfs_levels,
        symmetrize,
    )

    edges = symmetrize(
        spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4)], "a LONG, b LONG"),
        "a",
        "b",
    )
    rows = bfs_levels(edges, seed=1, max_depth=4).collect()
    got = {r.node: r.lvl for r in rows}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}
    assert len(rows) == 4  # each node appears once


def test_grouped_weighted_median_hand_case(spark):
    from health_data_transformation_spark.operators.profile import (
        grouped_weighted_median,
    )

    # group g: values 1 (w 1), 2 (w 1), 10 (w 2) -> total 4, median = value
    # where cum*2 >= 4 -> cum(1)=1 no, cum(2)=2 yes -> 2
    # group h: single value
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 10, 2), ("h", 7, 5)],
        "k STRING, v LONG, w LONG",
    )
    got = {
        r.k: (r.weighted_median, r.total_weight)
        for r in grouped_weighted_median(df, "k", "v", "w").collect()
    }
    assert got == {"g": (2, 4), "h": (7, 5)}


def test_prefix_filter_equals_all_pairs(spark):
    """Prefix-filtered pairs == brute-force pairs (zero false negatives
    is the lemma; zero false positives comes from exact verification)."""
    from health_data_transformation_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),   # J(1,2)=3/5=0.6
        (3, ["x", "y", "z", "w"]),   # disjoint from 1,2
        (4, ["x", "y", "z", "q"]),   # J(3,4)=3/5=0.6
        (5, ["a", "x"]),             # low overlap with all
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, s ARRAY<STRING>")
    got = {
        (r.id_a, r.id_b)
        for r in prefix_filter_jaccard_pairs(
            df, set_col="s", threshold_pct=50
        ).collect()
    }
    # brute force
    import itertools

    expect = set()
    for (ia, sa), (ib, sb) in itertools.combinations(docs, 2):
        inter = len(set(sa) & set(sb))
        un = len(set(sa) | set(sb))
        if inter * 100 >= 50 * un:
            expect.add((min(ia, ib), max(ia, ib)))
    assert got == expect == {(1, 2), (3, 4)}


def test_prefix_filter_reports_exact_sizes(spark):
    from health_data_transformation_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "d"])], "doc_id LONG, s ARRAY<STRING>"
    )
    rows = prefix_filter_jaccard_pairs(df, set_col="s", threshold_pct=50).collect()
    assert len(rows) == 1 and rows[0].inter == 2 and rows[0].un == 4


def test_prefix_filter_broadcast_size_guard(spark, tmp_path, monkeypatch):
    """ADVICE r13: on a coarse scan the verify attaches are broadcast
    only while the input's plan-stats estimate (never below the sets
    side's) fits the session's spark.sql.autoBroadcastJoinThreshold.  With the estimate patched
    above it, the plan carries no broadcast hint and the rows equal
    the unpatched run's."""
    from health_data_transformation_spark.operators import skew
    from health_data_transformation_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    # docs i and i+35 share 3 of 5 tokens (J=0.6); all other pairs 2 of 6
    docs = [(i, [f"a{i % 5}", f"b{i % 7}", "common", f"u{i}"]) for i in range(40)]
    p = str(tmp_path / "sets.parquet")
    spark.createDataFrame(docs, "doc_id LONG, s ARRAY<STRING>").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    assert skew.coarse_scan_width(df) > 0  # the verify-width branch

    def run():
        out = prefix_filter_jaccard_pairs(df, set_col="s", threshold_pct=50)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return plan, sorted(tuple(r) for r in out.collect())

    plan, rows = run()
    assert plan.count("strategy=broadcast") == 2
    assert len(rows) == 5

    conf = spark._jsparkSession.sessionState().conf()
    over = conf.autoBroadcastJoinThreshold() + 1
    monkeypatch.setattr(skew, "plan_size_bytes", lambda _df: over)
    guarded_plan, guarded_rows = run()
    assert "strategy=broadcast" not in guarded_plan
    assert guarded_rows == rows


def test_custom_datasource_shards_cover_rows_exactly(spark):
    """Shard planning covers [0, rows) exactly once, incl. ragged tail."""
    from health_data_transformation_spark.sources.pydatasource import (
        SyntheticActivityReader,
        register,
    )

    r = SyntheticActivityReader({"rows": "103", "shards": "4"})
    spans = [(p.start, p.end) for p in r.partitions()]
    assert spans[0][0] == 0 and spans[-1][1] == 103
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b == c and a < b
    register(spark)
    df = (
        spark.read.format("synthetic_activity")
        .option("rows", 103)
        .option("shards", 4)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 103
    assert sorted(r.row_id for r in rows) == list(range(103))


def test_custom_datasource_deterministic_values(spark):
    """Row content matches the md5 contract independently of sharding."""
    import hashlib

    from health_data_transformation_spark.sources.pydatasource import register

    register(spark)
    one = (
        spark.read.format("synthetic_activity")
        .option("rows", 50)
        .option("shards", 1)
        .load()
        .collect()
    )
    seven = (
        spark.read.format("synthetic_activity")
        .option("rows", 50)
        .option("shards", 7)
        .load()
        .collect()
    )
    assert sorted(map(tuple, one)) == sorted(map(tuple, seven))
    h = int(hashlib.md5(b"7").hexdigest()[:15], 16)
    row7 = next(r for r in one if r.row_id == 7)
    assert row7.user_id == h % 1000 and row7.amount_cents == h % 100000
