"""Unit tests: as-of join edge cases, recursive fixpoint, multimodal
plumbing, approx sketch tolerance."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from warehouse_pg_spark.operators.asof import asof_join
from warehouse_pg_spark.operators.recursive import recursive_union


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def asof_frames(spark):
    quotes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0),
            (1, _ts("2024-01-01T10:05:00"), 101.0),
            (2, _ts("2024-01-01T10:01:00"), 200.0),
        ],
        ["key", "qts", "price"],
    )
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:03:00"), 5),   # matches 10:00 quote
            (1, _ts("2024-01-01T10:05:00"), 6),   # equal-ts -> 10:05 quote
            (2, _ts("2024-01-01T10:00:00"), 7),   # before any quote -> null
            (3, _ts("2024-01-01T10:00:00"), 8),   # key never quoted -> null
        ],
        ["key", "tts", "qty"],
    )
    return trades, quotes


def test_asof_basic(spark, asof_frames):
    trades, quotes = asof_frames
    out = asof_join(
        trades, quotes, on=["key"], left_ts="tts", right_ts="qts",
        right_values=["price"],
    )
    rows = {(r.key, r.qty): (r.asof_price, r.asof_ts) for r in out.collect()}
    assert rows[(1, 5)][0] == 100.0
    assert rows[(1, 6)][0] == 101.0  # inclusive match at equal ts
    assert rows[(2, 7)][0] is None
    assert rows[(3, 8)][0] is None
    assert out.count() == trades.count()  # left rows preserved


def test_asof_no_keys(spark, asof_frames):
    # empty `on`: one global as-of match over every right row
    trades, quotes = asof_frames
    out = asof_join(
        trades, quotes, on=[], left_ts="tts", right_ts="qts",
        right_values=["price"],
    )
    rows = {(r.key, r.qty): r.asof_price for r in out.collect()}
    assert rows == {(1, 5): 200.0, (1, 6): 101.0, (2, 7): 100.0, (3, 8): 100.0}


def test_asof_strict(spark, asof_frames):
    trades, quotes = asof_frames
    out = asof_join(
        trades, quotes, on=["key"], left_ts="tts", right_ts="qts",
        right_values=["price"], strict=True,
    )
    rows = {(r.key, r.qty): r.asof_price for r in out.collect()}
    assert rows[(1, 6)] == 100.0  # strictly-before excludes equal ts


def test_asof_tolerance(spark, asof_frames):
    trades, quotes = asof_frames
    out = asof_join(
        trades, quotes, on=["key"], left_ts="tts", right_ts="qts",
        right_values=["price"], tolerance_ms=60_000,
    )
    rows = {(r.key, r.qty): r.asof_price for r in out.collect()}
    assert rows[(1, 5)] is None  # 3 min > 1 min tolerance
    assert rows[(1, 6)] == 101.0


def test_recursive_union_all_semantics(spark):
    base = spark.createDataFrame([(1,)], ["n"])
    out = recursive_union(
        base,
        lambda t: t.filter(F.col("n") < 5).select((F.col("n") + 1).alias("n")),
        distinct=False,
    )
    assert sorted(r.n for r in out.collect()) == [1, 2, 3, 4, 5]


def test_recursive_distinct_terminates_on_cycle(spark):
    # 3-node cycle: UNION-distinct must converge, not loop forever
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])

    def step(t):
        e = edges.select(F.col("src").alias("s2"), F.col("dst").alias("d2"))
        return t.join(e, t.dst == F.col("s2")).select(
            t.src.alias("src"), F.col("d2").alias("dst")
        )

    out = recursive_union(edges, step, distinct=True, max_iterations=10)
    assert out.count() == 9  # full closure of a 3-cycle


def test_recursive_max_iterations(spark):
    base = spark.createDataFrame([(1,)], ["n"])
    with pytest.raises(RuntimeError, match="converge"):
        recursive_union(
            base,
            lambda t: t.select((F.col("n") + 1).alias("n")),  # never empty
            distinct=False,
            max_iterations=3,
        )


def test_multimodal_feature_extraction(spark):
    from warehouse_pg_spark.multimodal.columns import (
        MEDIA_SCHEMA,
        extract_features,
        frame_sample_plan,
    )

    rows = [
        (1, "image", b"img-bytes-1", ("image/png", 64, 64, None)),
        (2, "image", b"img-bytes-2", ("image/png", 32, 32, None)),
        (3, "video", b"vid-bytes", ("video/mp4", 640, 480, 3000)),
        (4, "image", None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id[1].features) == 8
    assert by_id[1].digest != by_id[2].digest
    assert by_id[4].features is None
    # determinism: same payload -> same features
    feats2 = {r.media_id: r.features for r in extract_features(media).collect()}
    assert feats2[1] == by_id[1].features

    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert len(frames) == 4  # 0,1000,2000,3000 for the single video


def test_multimodal_real_decode_is_stubbed():
    from warehouse_pg_spark.multimodal.columns import decode_real

    with pytest.raises(NotImplementedError):
        decode_real(b"x", "image")


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """The query self-certifies: within_5pct is computed Spark-side from
    the sketch vs exact NDV; all rows must certify True."""
    from warehouse_pg_spark.queries import REGISTRY

    rows = REGISTRY["agg_approx_count_distinct"].fn(spark, sf_dir).collect()
    assert rows and all(r.within_5pct for r in rows)
    assert all(r.exact_nd_parts > 0 for r in rows)


def test_hll_partial_merge_accuracy(spark, sf_dir):
    """Union-merged HLL sketch NDV must be within 5% of the exact
    per-region distinct customer count (gp_hyperloglog.c analogue) —
    certified by the query's own within_5pct column."""
    from warehouse_pg_spark.queries import REGISTRY

    rows = REGISTRY["agg_hll_partial_merge"].fn(spark, sf_dir).collect()
    assert rows and all(r.within_5pct for r in rows)
    assert all(r.exact_ndv > 0 for r in rows)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF (single-probe over 8 cells) must still surface genuinely
    near neighbors: every IVF hit's cosine must be >= the 20th-best
    brute-force cosine (the probe trades recall for 1/8 the work, but
    what it returns has to be high-quality)."""
    from warehouse_pg_spark.queries import REGISTRY

    ivf = REGISTRY["sim_ivf_bucketed"].fn(spark, sf_dir).collect()
    assert len(ivf) > 0
    brute = REGISTRY["sim_topk_bruteforce"].fn(spark, sf_dir).collect()
    floor20 = min(r.cosine for r in brute)  # brute query is top-10
    for r in ivf:
        assert r.cosine >= floor20 - 0.15, (r.vec_id, r.cosine, floor20)


def test_tree_aggregate_var_pop_matches_builtin(spark, sf_dir):
    """TreeAggregate (CREATE AGGREGATE with combinefunc, SURVEY §7.5)
    must reproduce var_pop through its partial→merge→final pipeline."""
    from pyspark.sql import functions as F

    from warehouse_pg_spark.operators.uda import var_pop_uda
    from warehouse_pg_spark.queries.registry import table

    li = table(spark, sf_dir, "lineitem")
    got = {
        r.l_returnflag: r.var_pop
        for r in var_pop_uda("l_quantity").apply(li, ["l_returnflag"]).collect()
    }
    expected = {
        r.l_returnflag: r.v
        for r in li.groupBy("l_returnflag")
        .agg(F.var_pop("l_quantity").alias("v"))
        .collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9 * max(abs(v), 1.0), (k, got[k], v)


def test_tree_aggregate_merges_across_partitions(spark):
    """The merge path must actually fire: input forced to many
    partitions, each contributing a partial state."""
    from pyspark.sql import functions as F

    from warehouse_pg_spark.operators.uda import var_pop_uda

    df = (
        spark.range(0, 10_000)
        .repartition(16)
        .select(F.lit("g").alias("k"), (F.col("id") % 100).cast("double").alias("x"))
    )
    out = var_pop_uda("x").apply(df, ["k"]).collect()
    assert len(out) == 1
    expected = df.agg(F.var_pop("x")).collect()[0][0]
    assert abs(out[0].var_pop - expected) < 1e-9


def test_assert_op_scalar_subquery_raises(spark, sf_dir):
    """AssertOp analogue (nodeAssertOp.c:151): a scalar subquery that
    returns more than one row must raise at runtime — Spark enforces
    this natively (SCALAR_SUBQUERY_TOO_MANY_ROWS)."""
    import pytest as _pytest

    from warehouse_pg_spark.queries.registry import table as _table

    _table(spark, sf_dir, "nation").createOrReplaceTempView("assert_nation")
    df = spark.sql(
        "SELECT n_name, (SELECT n_regionkey FROM assert_nation) AS r "
        "FROM assert_nation"
    )
    with _pytest.raises(Exception, match="(?i)more than one row|TOO_MANY_ROWS"):
        df.collect()


def test_assert_true_gate(spark, sf_dir):
    """F.assert_true as the explicit AssertOp surface: passes rows
    through when the predicate holds, errors when violated."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from warehouse_pg_spark.queries.registry import table as _table

    n = _table(spark, sf_dir, "nation")
    ok = n.select(F.assert_true(F.col("n_nationkey") >= 0), "n_name")
    assert ok.count() == n.count()
    bad = n.select(F.assert_true(F.col("n_nationkey") > 5), "n_name")
    with _pytest.raises(Exception):
        bad.collect()


def test_engine_metrics_introspection(spark, sf_dir):
    """gp_toolkit-style table metrics: every fixture table reports
    rows/bytes/files plus its distribution hint."""
    from warehouse_pg_spark.engine import Engine

    eng = Engine(spark=spark)
    eng.attach_fixtures(sf_dir)
    m = {r.table_name: r for r in eng.metrics().collect()}
    assert "lineitem" in m and "nation" in m
    assert m["lineitem"].n_rows > 1000
    assert m["lineitem"].n_bytes > 0 and m["lineitem"].n_files >= 1
    assert m["nation"].distribution == "replicated"
    assert m["lineitem"].distribution == "hash"
    assert m["lineitem"].dist_keys == ["l_orderkey"]


def test_sum_exclude_null_semantics(spark):
    """PG: SUM over the post-exclusion frame ignores NULLs — excluding a
    NULL-valued current row must not null the result, and a frame whose
    surviving values are all NULL sums to NULL (nodeWindowAgg.c)."""
    from pyspark.sql import functions as F

    from warehouse_pg_spark.operators.window_ext import sum_exclude

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 5.0)], ["p", "i", "v"]
    )
    out = {
        r.i: r.sum_excl
        for r in sum_exclude(
            df, "v", ["p"], ["i"], -1, 1, exclude="current row", out="sum_excl"
        ).collect()
    }
    assert out[1] is None  # survivor set {NULL} → NULL
    assert out[2] == 15.0  # NULL current row excluded: 10 + 5
    assert out[3] is None  # survivor set {NULL} → NULL

    # EXCLUDE GROUP where the whole peer group is NULL-valued
    df2 = spark.createDataFrame(
        [("a", 1, None), ("a", 1, None), ("a", 2, 7.0)], ["p", "i", "v"]
    )
    rows = sum_exclude(
        df2, "v", ["p"], ["i"], -1, 1,
        exclude="group", out="sum_excl", frame_type="range",
    ).collect()
    got = {(r.i, idx): r.sum_excl for idx, r in enumerate(sorted(rows, key=lambda r: r.i))}
    by_i = {}
    for r in rows:
        by_i.setdefault(r.i, []).append(r.sum_excl)
    assert by_i[1] == [7.0, 7.0]  # NULL peer group excluded → 7 survives
    assert by_i[2] == [None]  # only peers (itself) excluded → {NULL,NULL} → NULL


def test_minmax_exclude_matches_duckdb(spark):
    """Anti-frame-union min/max vs DuckDB's native EXCLUDE evaluation."""
    import duckdb

    from warehouse_pg_spark.operators.window_ext import minmax_exclude

    data = [("a", i) for i in [1, 2, 2, 3, 5, 5, 8]] + [("b", i) for i in [4, 4, 6]]
    df = spark.createDataFrame(data, ["p", "v"])
    out = minmax_exclude(
        df, "v", ["p"], ["v"], -2, 2,
        agg="min", exclude="group", out="m", frame_type="range",
    )
    got = sorted((r.p, r.v, r.m) for r in out.collect())
    con = duckdb.connect()
    exp = sorted(
        con.execute(
            """SELECT p, v, MIN(v) OVER (PARTITION BY p ORDER BY v
               RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP)
               FROM (SELECT unnest(['a','a','a','a','a','a','a','b','b','b']) p,
                            unnest([1,2,2,3,5,5,8,4,4,6]) v)"""
        ).fetchall()
    )
    con.close()
    assert got == exp


def test_minmax_exclude_range_current_row_matches_duckdb(spark):
    """RANGE + EXCLUDE CURRENT ROW (the formerly-punted combination):
    flanking RANGE frames plus peers-minus-self via ROWS flanks inside
    a peer-keyed partition, vs DuckDB's native evaluation. Duplicate
    values in the peer group are the tricky case — excluding the
    current row must NOT exclude its ties."""
    import duckdb

    from warehouse_pg_spark.operators.window_ext import minmax_exclude

    data = [("a", i) for i in [1, 2, 2, 3, 5, 5, 8]] + [("b", i) for i in [4, 4, 6]]
    df = spark.createDataFrame(data, ["p", "v"])
    got_df = minmax_exclude(
        df, "v", ["p"], ["v"], -2, 2,
        agg="min", exclude="current row", out="m", frame_type="range",
    )
    got_df = minmax_exclude(
        got_df, "v", ["p"], ["v"], -2, 2,
        agg="max", exclude="current row", out="x", frame_type="range",
    )
    got = sorted((r.p, r.v, r.m, r.x) for r in got_df.collect())
    con = duckdb.connect()
    exp = sorted(
        con.execute(
            """SELECT p, v,
               MIN(v) OVER (PARTITION BY p ORDER BY v
                 RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
                 EXCLUDE CURRENT ROW),
               MAX(v) OVER (PARTITION BY p ORDER BY v
                 RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
                 EXCLUDE CURRENT ROW)
               FROM (SELECT unnest(['a','a','a','a','a','a','a','b','b','b']) p,
                            unnest([1,2,2,3,5,5,8,4,4,6]) v)"""
        ).fetchall()
    )
    con.close()
    assert got == exp


def test_merge_no_insert_keeps_null_key_rows(spark, tmp_path):
    """merge(insert=False) must keep target rows whose first merge key
    is NULL — the join is eqNullSafe, so a NULL key is a real row."""
    from warehouse_pg_spark.operators.dml import ParquetTable

    path = str(tmp_path / "nullkey_t")
    spark.createDataFrame(
        [(1, 10.0), (None, 99.0), (2, 20.0)], "id int, v double"
    ).write.parquet(path)
    t = ParquetTable(spark, path)
    stats = t.merge(
        spark.createDataFrame([(1, 100.0)], "id int, v double"),
        on=["id"],
        insert=False,
    )
    assert stats == {"updated": 1, "inserted": 0}
    rows = sorted(
        ((r.id, r.v) for r in t.read().collect()),
        key=lambda x: (x[0] is None, x[0]),
    )
    assert rows == [(1, 100.0), (2, 20.0), (None, 99.0)]


def test_metrics_handles_bucketed_tables(spark, sf_dir):
    """Engine.metrics() must not crash on pathless catalog entries
    (bucketed managed tables register with path='')."""
    from warehouse_pg_spark.engine import Engine

    eng = Engine(spark)
    eng.attach_fixtures(sf_dir)
    nation = eng.table("nation")
    eng.create_bucketed_table("nation_bkt", nation, keys=("n_nationkey",), num_buckets=4)
    m = {r.table_name: r for r in eng.metrics().collect()}
    assert "nation_bkt" in m
    assert m["nation_bkt"].n_rows == nation.count()
    assert m["nation_bkt"].n_bytes > 0


def test_ngram_dedup_hot_shingle_cap(spark):
    """A boilerplate shingle shared by hundreds of docs must not create
    a df² candidate bucket: hot shingles (df > cap) are dropped before
    the self-join, so boilerplate-only overlap yields no pairs, while
    genuinely similar docs (rare shingles) still pair up."""
    from warehouse_pg_spark.queries.dedup import ngram_jaccard_pairs

    boiler = "click here to subscribe to our newsletter today"
    rows = [(i, f"{boiler} unique{i} token{i} word{i}") for i in range(150)]
    # one genuine near-dup pair with rare shingles
    rows += [
        (900, "the quick brown fox jumps over the lazy dog entirely"),
        (901, "the quick brown fox jumps over the lazy dog entirely now"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(d, df_cap=100).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (900, 901) in ids
    # without the cap the 150 boilerplate docs would form 150*149/2 =
    # 11175 candidate pairs; with it, none survive
    assert all(a >= 900 for a, _ in ids), ids


def test_ngram_grouped_pairs_strategy_equivalent(spark):
    """The large-input pair strategy (groupBy(shingle) + in-group pair
    explosion) must produce exactly the self-join strategy's rows —
    dedup_ngram_jaccard switches between them on input size (r18), so
    the two physical plans must be interchangeable."""
    from warehouse_pg_spark.queries.dedup import ngram_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma delta theta iota"),
        (4, "one two three four five six seven"),
        (5, "one two three four five six eight"),
        (6, "totally different content in this document"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sj = sorted(map(tuple, ngram_jaccard_pairs(d, grouped=False).collect()))
    gp = sorted(map(tuple, ngram_jaccard_pairs(d, grouped=True).collect()))
    assert sj == gp and len(sj) > 0, (sj, gp)


def test_shingle_rows_unique_by_construction(spark):
    """Load-bearing invariant for the r17 shuffle removals: the exploded
    (doc_id, shingle) rows are ALREADY unique because _shingles applies
    array_distinct per document — dedup/minhash/cluster dropped their
    .distinct() on this set (one full shuffle each) on the strength of
    this. Repeated shingles inside one document must collapse."""
    from pyspark.sql import functions as F

    from warehouse_pg_spark.queries.dedup import _shingles

    rows = [
        (1, "a b c a b c a b c"),          # every 3-gram repeats 2-3x
        (2, "x y z"),                        # single shingle
        (3, "one two"),                      # shorter than n: slice pads
        (4, "spam spam spam spam spam"),     # one distinct shingle only
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sh = d.select("doc_id", F.explode(_shingles("text")).alias("shingle"))
    total = sh.count()
    distinct = sh.distinct().count()
    assert total == distinct, (total, distinct)
    # and the degenerate repeat-doc really did collapse to one shingle
    assert sh.filter("doc_id = 4").count() == 1


def test_label_propagation_cap_exhaustion_raises(spark):
    """Exhausting the propagation cap with labels still changing must
    RAISE, not silently return non-converged (wrong) cluster ids
    (r17 advice). A path graph propagates the min label one hop per
    application, so an 8-node path cannot converge in 1+2 applications
    but does in 1+10 (labels all collapse to node 0)."""
    import pytest

    from warehouse_pg_spark.queries.dedup import _propagate_min_labels

    n = 8
    pairs = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    with pytest.raises(RuntimeError, match="cap"):
        _propagate_min_labels(edges, max_rounds=2)
    labels = _propagate_min_labels(edges, max_rounds=10).collect()
    assert len(labels) == n
    assert all(r.label == 0 for r in labels), labels


def test_asof_forward_and_nearest(spark, asof_frames):
    trades, quotes = asof_frames
    fwd = asof_join(
        trades, quotes, on=["key"], left_ts="tts", right_ts="qts",
        right_values=["price"], direction="forward",
    )
    rows = {(r.key, r.qty): r.asof_price for r in fwd.collect()}
    assert rows[(1, 5)] == 101.0   # next quote at 10:05
    assert rows[(1, 6)] == 101.0   # equal ts matches forward too
    assert rows[(2, 7)] == 200.0   # 10:01 quote is ahead of 10:00 trade
    assert rows[(3, 8)] is None    # key never quoted

    near = asof_join(
        trades, quotes, on=["key"], left_ts="tts", right_ts="qts",
        right_values=["price"], direction="nearest",
    )
    rows = {(r.key, r.qty): r.asof_price for r in near.collect()}
    assert rows[(1, 5)] == 101.0   # 2 min forward beats 3 min back
    assert rows[(1, 6)] == 101.0   # exact hit
    assert rows[(2, 7)] == 200.0   # only forward exists


def test_xpath_modes_and_malformed_xml(spark):
    """xpath() element/text/attr modes (xml.c:4245) + malformed-doc
    skip; xmlagg unordered form."""
    from warehouse_pg_spark.functions.xml import xmlagg, xpath

    df = spark.createDataFrame(
        [
            (1, '<r><a k="x"><b>t1</b></a><a k="y"><b>t2</b></a></r>'),
            (2, "<r></r>"),
            (3, "not-xml"),
            (4, None),
        ],
        ["id", "doc"],
    )
    rows = {
        r.id: (r.els, r.txt, r.attrs)
        for r in df.select(
            "id",
            xpath("doc", "a").alias("els"),
            xpath("doc", "a/b/text()").alias("txt"),
            xpath("doc", "a/@k").alias("attrs"),
        ).collect()
    }
    assert rows[1][1] == ["t1", "t2"]
    assert rows[1][2] == ["x", "y"]
    assert rows[1][0][0].startswith('<a k="x">')
    assert rows[2] == ([], [], [])
    assert rows[3] == ([], [], [])  # malformed: empty, not error
    assert rows[4] == (None, None, None)

    agg = (
        df.filter(df.id == 1)
        .select(xpath("doc", "a/b/text()").alias("t"))
        .select(F.explode("t").alias("t"))
        .agg(xmlagg("t").alias("x"))
        .collect()[0]
        .x
    )
    assert agg == "t1t2"


def test_rows_exclude_group_ties_matches_duckdb(spark):
    """Bounded ROWS frame + EXCLUDE GROUP/TIES (the last two cells of
    the frame x exclusion matrix, nodeWindowAgg.c:1454-1480) via the
    collect-filter evaluator. Aggregating the ORDER BY key itself makes
    per-row outputs position-functions, so sorted tuples are invariant
    under tie-order — cross-engine comparable even with peer groups
    wider than the frame (the over-subtraction trap)."""
    import duckdb

    from warehouse_pg_spark.operators.window_ext import rows_exclude_agg

    vals_a = [1, 2, 2, 2, 2, 3, 5, 5, 8]  # peer block of 4 > frame width
    vals_b = [4, 4, 6]
    data = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(data, ["p", "v"])
    con = duckdb.connect()
    ps = ["a"] * len(vals_a) + ["b"] * len(vals_b)
    src = (
        f"(SELECT unnest({ps}) p, unnest({vals_a + vals_b}) v)"
    )
    for agg, dk in [("sum", "SUM"), ("min", "MIN"), ("max", "MAX"),
                    ("count", "COUNT"), ("avg", "AVG")]:
        for mode, dm in [("group", "GROUP"), ("ties", "TIES"),
                         ("current row", "CURRENT ROW")]:
            out = rows_exclude_agg(
                df, "v", ["p"], ["v"], -2, 1, agg=agg, exclude=mode, out="r"
            )
            got = sorted(
                ((r.p, r.v, None if r.r is None else float(r.r))
                 for r in out.collect()),
                key=lambda t: (t[0], t[1], t[2] is not None, t[2] or 0.0),
            )
            exp = sorted(
                ((p, v, None if r is None else float(r))
                 for p, v, r in con.execute(
                    f"""SELECT p, v, {dk}(v) OVER (
                          PARTITION BY p ORDER BY v
                          ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING
                          EXCLUDE {dm}) FROM {src}"""
                ).fetchall()),
                key=lambda t: (t[0], t[1], t[2] is not None, t[2] or 0.0),
            )
            assert got == exp, (agg, mode)
    con.close()


def test_rows_exclude_unbounded_matches_duckdb(spark):
    """ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING + EXCLUDE
    GROUP/TIES — the deterministic-under-ties form — computed without
    collection (partition subtraction / prefix-suffix flanks)."""
    import duckdb

    from pyspark.sql.window import Window

    from warehouse_pg_spark.operators.window_ext import rows_exclude_agg

    vals_a = [1, 2, 2, 3, 5, 5, 8]
    vals_b = [4, 4, 6]
    data = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(data, ["p", "v"])
    con = duckdb.connect()
    ps = ["a"] * len(vals_a) + ["b"] * len(vals_b)
    src = (
        f"(SELECT unnest({ps}) p, unnest({vals_a + vals_b}) v)"
    )
    for agg, dk in [("sum", "SUM"), ("min", "MIN"), ("max", "MAX")]:
        for mode, dm in [("group", "GROUP"), ("ties", "TIES"),
                         ("current row", "CURRENT ROW")]:
            out = rows_exclude_agg(
                df, "v", ["p"], ["v"],
                Window.unboundedPreceding, Window.unboundedFollowing,
                agg=agg, exclude=mode, out="r",
            )
            got = sorted(
                ((r.p, r.v, None if r.r is None else float(r.r))
                 for r in out.collect()),
                key=lambda t: (t[0], t[1], t[2] is not None, t[2] or 0.0),
            )
            exp = sorted(
                ((p, v, None if r is None else float(r))
                 for p, v, r in con.execute(
                    f"""SELECT p, v, {dk}(v) OVER (
                          PARTITION BY p ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING
                          EXCLUDE {dm}) FROM {src}"""
                ).fetchall()),
                key=lambda t: (t[0], t[1], t[2] is not None, t[2] or 0.0),
            )
            assert got == exp, (agg, mode)
    con.close()


def test_rows_exclude_null_semantics(spark):
    """NULL values in the frame: excluded NULLs must not poison the
    result; an all-NULL survivor set aggregates to NULL (PG)."""
    from warehouse_pg_spark.operators.window_ext import rows_exclude_agg

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 2, 4.0), ("a", 3, None)],
        ["p", "k", "v"],
    )
    rows = rows_exclude_agg(
        df, "v", ["p"], ["k"], -3, 3, agg="sum", exclude="group", out="r"
    ).collect()
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append(r.r)
    assert by_k[1] == [4.0]          # exclude {10} → {NULL, 4, NULL}
    assert by_k[2] == [10.0, 10.0]   # exclude the k=2 block
    assert by_k[3] == [14.0]         # exclude {NULL} → 10 + 4


def _brute_rows_exclude(rows, start, end, agg, mode):
    """Reference evaluator for ROWS frames + EXCLUDE over ONE sorted
    partition (rows = [(key, value)]), mirroring nodeWindowAgg.c's
    re-aggregate-the-frame-minus-exclusion. start/end of None mean
    unbounded. (DuckDB is NOT used as the oracle here: with a
    negative-offset frame end + EXCLUDE it returns [unb, rn-1]-shaped
    results regardless of the bound, diverging from PG.)"""
    n = len(rows)
    out = []
    for i, (k, _v) in enumerate(rows):
        lo = 0 if start is None else max(0, i + start)
        hi = n - 1 if end is None else min(n - 1, i + end)
        idx = set(range(lo, hi + 1))
        in_frame = lo <= i <= hi
        if mode == "current row":
            idx.discard(i)
        elif mode == "group":
            idx = {j for j in idx if rows[j][0] != k}
        else:  # ties: peers leave, self stays (if in frame)
            idx = {j for j in idx if rows[j][0] != k}
            if in_frame:
                idx.add(i)
        vals = [rows[j][1] for j in idx if rows[j][1] is not None]
        if agg == "count":
            out.append(float(len(vals)))
        elif not vals:
            out.append(None)
        elif agg == "sum":
            out.append(float(sum(vals)))
        elif agg == "min":
            out.append(float(min(vals)))
        elif agg == "max":
            out.append(float(max(vals)))
        else:
            out.append(sum(vals) / len(vals))
    return out


def test_rows_exclude_half_unbounded_matches_bruteforce(spark):
    """Half-unbounded ROWS frames + EXCLUDE — the final cell of the
    frame x exclusion matrix (nodeWindowAgg.c:1454-1480), both
    directions, positive AND negative finite offsets, against a
    transparent brute-force evaluator. Peer blocks share their value,
    so every per-row result is invariant under the (PG-undefined) tie
    order and multisets compare exactly."""
    from pyspark.sql.window import Window

    from warehouse_pg_spark.operators.window_ext import rows_exclude_agg

    # (key, value): multi-row peer blocks share the value (else the PG
    # tie order would leak into per-row results); NULL coverage via an
    # all-NULL block, a NULL singleton, and a NULL-key block
    blocks_a = [(1, 10), (2, 20), (2, 20), (2, 20), (3, 7), (5, 40),
                (5, 40), (7, None), (7, None), (8, 1), (9, 33)]
    blocks_b = [(4, 5), (4, 5), (6, None), (None, 2), (None, 2)]
    data = [("a", k, v) for k, v in blocks_a] + [
        ("b", k, v) for k, v in blocks_b
    ]
    df = spark.createDataFrame(data, "p string, k int, v int")
    # Spark ascending default is NULLS FIRST — sort the reference the
    # same way (None key block first)
    key = lambda kv: (kv[0] is not None, kv[0])  # noqa: E731
    parts = {"a": sorted(blocks_a, key=key), "b": sorted(blocks_b, key=key)}
    UNB_P, UNB_F = Window.unboundedPreceding, Window.unboundedFollowing
    frames = [(UNB_P, 0), (UNB_P, 2), (UNB_P, -2),
              (0, UNB_F), (-2, UNB_F), (2, UNB_F)]
    for start, end in frames:
        b_start = None if start == UNB_P else start
        b_end = None if end == UNB_F else end
        for agg in ("sum", "min", "max", "count", "avg"):
            for mode in ("group", "ties", "current row"):
                out = rows_exclude_agg(
                    df, "v", ["p"], ["k"], start, end,
                    agg=agg, exclude=mode, out="r",
                )
                got = {}
                for r in out.collect():
                    got.setdefault(r.p, []).append(
                        (r.k, None if r.r is None else round(float(r.r), 9))
                    )
                exp = {}
                for p, rows in parts.items():
                    res = _brute_rows_exclude(rows, b_start, b_end, agg, mode)
                    exp[p] = [
                        (k, None if x is None else round(x, 9))
                        for (k, _v), x in zip(rows, res)
                    ]
                for p in exp:
                    canon = lambda t: (  # noqa: E731
                        t[0] is not None, t[0] or 0,
                        t[1] is not None, t[1] or 0.0,
                    )
                    assert sorted(got[p], key=canon) == sorted(
                        exp[p], key=canon
                    ), (start, end, agg, mode, p)


def test_rows_exclude_half_unbounded_ties_deterministic(spark):
    """UNBOUNDED PRECEDING..CURRENT ROW + EXCLUDE GROUP/TIES over a
    tied key: survivors are exactly the rows with a strictly-smaller
    key (+ self for TIES) — tie-order-invariant, the oracle-safe form
    the registry query uses."""
    from pyspark.sql.window import Window

    from warehouse_pg_spark.operators.window_ext import rows_exclude_agg

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 2, 21), ("a", 2, 22),
         ("a", 3, 30)],
        "p string, k int, v int",
    )
    rows = rows_exclude_agg(
        df, "v", ["p"], ["k"], Window.unboundedPreceding, 0,
        agg="sum", exclude="group", out="r",
    ).collect()
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append(r.r)
    assert by_k[1] == [None]               # nothing strictly before
    assert sorted(by_k[2]) == [10, 10, 10]  # the k=2 block all excluded
    assert by_k[3] == [10 + 20 + 21 + 22]
    rows = rows_exclude_agg(
        df, "v", ["p"], ["k"], Window.unboundedPreceding, 0,
        agg="max", exclude="ties", out="r",
    ).collect()
    got = sorted((r.k, r.v, r.r) for r in rows)
    assert got == [(1, 10, 10), (2, 20, 20), (2, 21, 21), (2, 22, 22),
                   (3, 30, 30)]


def test_minmax_exclude_rows_group_delegates(spark):
    """minmax_exclude no longer raises for ROWS + GROUP/TIES — it
    routes to the collect-filter evaluator."""
    from warehouse_pg_spark.operators.window_ext import minmax_exclude

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("a", 3)], ["p", "v"]
    )
    out = minmax_exclude(
        df, "v", ["p"], ["v"], -1, 1, agg="min", exclude="group",
        out="m", frame_type="rows",
    )
    assert {r.v for r in out.collect()} == {1, 2, 3}


def test_minmax_exclude_rejects_continuous_range_key(spark):
    """RANGE + EXCLUDE GROUP's ±1 flank bounds are only sound on
    discrete keys — a float ORDER BY column must raise, not silently
    drop near-peers (window_ext._require_discrete_order_key)."""
    import pytest

    from warehouse_pg_spark.operators.window_ext import minmax_exclude

    df = spark.createDataFrame(
        [("a", 1.5), ("a", 1.9), ("a", 3.0)], ["p", "v"]
    )
    with pytest.raises(ValueError, match="discrete.*ORDER BY"):
        minmax_exclude(
            df, "v", ["p"], ["v"], -2, 2, agg="min", exclude="group",
            out="m", frame_type="range",
        ).collect()
    # explicit opt-in for integer-valued floats still works
    minmax_exclude(
        df, "v", ["p"], ["v"], -2, 2, agg="min", exclude="group",
        out="m", frame_type="range", assume_discrete=True,
    ).collect()


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucketed two-sided range join vs a brute-force theta join:
    intervals spanning many buckets (replication > 2), touching
    endpoints (closed vs half-open), equi keys, and no duplicate pairs
    from multi-bucket co-occurrence."""
    from warehouse_pg_spark.operators.range_join import interval_overlap_join

    left = spark.createDataFrame(
        [(1, "a", 0, 25), (2, "a", 10, 12), (3, "b", 5, 40), (4, "a", 30, 30)],
        ["lid", "k", "ls", "le"],
    )
    right = spark.createDataFrame(
        [(10, "a", 20, 35), (11, "a", 12, 14), (12, "b", 0, 100),
         (13, "a", 30, 50), (14, "c", 0, 99)],
        ["rid", "k", "rs", "re"],
    )
    for closed in (False, True):
        for on in ([], ["k"]):
            got = sorted(
                (r.lid, r.rid)
                for r in interval_overlap_join(
                    left, right, "ls", "le", "rs", "re",
                    bucket_width=10, on=on, closed=closed,
                ).collect()
            )
            cmp_ = "<=" if closed else "<"
            cond = f"l.ls {cmp_} r.re AND r.rs {cmp_} l.le"
            if on:
                cond += " AND l.k = r.k"
            exp = sorted(
                (r.lid, r.rid)
                for r in left.alias("l")
                .join(right.alias("r"), F.expr(cond))
                .select("l.lid", "r.rid")
                .collect()
            )
            assert got == exp, (closed, on)


def test_interval_overlap_join_is_hash_join(spark):
    """With broadcast disabled (the big x big case) the bucketed range
    join must still plan as an equi hash/sort-merge join — never
    BroadcastNestedLoopJoin or CartesianProduct."""
    from warehouse_pg_spark.operators.range_join import interval_overlap_join

    left = spark.range(1000).select(
        F.col("id").alias("lid"),
        (F.col("id") * 7 % 5000).alias("ls"),
        (F.col("id") * 7 % 5000 + 50).alias("le"),
    )
    right = spark.range(1000).select(
        F.col("id").alias("rid"),
        (F.col("id") * 13 % 5000).alias("rs"),
        (F.col("id") * 13 % 5000 + 50).alias("re"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            interval_overlap_join(
                left, right, "ls", "le", "rs", "re", bucket_width=64
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_range_exclude_frame_without_offset_zero(spark):
    """RANGE frames whose bounds exclude value-offset 0 (e.g. 5
    PRECEDING AND 1 PRECEDING): the current row and its peers are not
    in the frame, and PG's exclusion only REMOVES rows already in the
    frame (nodeWindowAgg.c row_is_in_frame + exclusion filter) — so
    every EXCLUDE mode is a no-op and the result equals the plain
    frame aggregate. The subtraction path used to over-subtract the
    peer group here. (DuckDB is NOT the oracle for this: it both adds
    the current row under TIES and widens the frame under CURRENT ROW,
    diverging from PG.)"""
    from pyspark.sql.window import Window as W

    from warehouse_pg_spark.operators.window_ext import (
        minmax_exclude,
        sum_exclude,
    )

    data = [("a", 1, 10), ("a", 2, 20), ("a", 2, 21), ("a", 4, 40),
            ("a", 6, 60)]
    df = spark.createDataFrame(data, "p string, k int, v int")
    for lo, hi in [(-5, -1), (1, 3)]:
        w = W.partitionBy("p").orderBy("k").rangeBetween(lo, hi)
        plain_sum = sorted(
            (r.k, r.v, None if r.s is None else int(r.s))
            for r in df.withColumn("s", F.sum("v").over(w)).collect()
        )
        plain_min = sorted(
            (r.k, r.v, None if r.m is None else int(r.m))
            for r in df.withColumn("m", F.min("v").over(w)).collect()
        )
        for mode in ("group", "ties", "current row"):
            got = sorted(
                (r.k, r.v, None if r.s is None else int(r.s))
                for r in sum_exclude(
                    df, "v", ["p"], ["k"], lo, hi, exclude=mode,
                    out="s", frame_type="range",
                ).collect()
            )
            assert got == plain_sum, ("sum", lo, hi, mode)
            got = sorted(
                (r.k, r.v, None if r.m is None else int(r.m))
                for r in minmax_exclude(
                    df, "v", ["p"], ["k"], lo, hi, agg="min",
                    exclude=mode, out="m", frame_type="range",
                ).collect()
            )
            assert got == plain_min, ("min", lo, hi, mode)
