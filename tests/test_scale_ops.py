"""Scale-operator tests: salted join equivalence, bucketed join shuffle
elimination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdkafka_streams_spark.core.io import load_table
from rdkafka_streams_spark.core.plan import exchange_counts
from rdkafka_streams_spark.operators.bucketing import read_bucketed, write_bucketed
from rdkafka_streams_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    plain = l.join(o, "l_orderkey").groupBy("o_orderstatus").count()
    salted = salted_join(l, o, "l_orderkey").groupBy("o_orderstatus").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    big = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c"), (9, "x")], "k int, v string")
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    out = salted_join(big, dim, "k", n_salts=4, how="left").collect()
    got = {(r["k"], r["v"]): r["name"] for r in out}
    assert got == {(1, "a"): "one", (1, "b"): "one", (2, "c"): "two", (9, "x"): None}


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o, "orders_b", "o_orderkey", 8, sort_cols="o_orderkey")
    write_bucketed(l, "lineitem_b", "l_orderkey", 8, sort_cols="l_orderkey")
    yield "orders_b", "lineitem_b"
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, bucketed_tables):
    ot, lt = bucketed_tables
    o, l = read_bucketed(spark, ot), read_bucketed(spark, lt)
    joined = o.join(l, o.o_orderkey == l.l_orderkey).select("o_orderkey", "l_quantity")
    # co-located buckets: the join itself requires NO exchange
    assert sum(exchange_counts(joined)) == 0
    # and it still computes the right thing
    plain = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert joined.count() == plain


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned layout + day filter → directory-level pruning
    (PartitionFilters on the scan), the 100 TB time-filter fast path."""
    from rdkafka_streams_spark.core.io import load_table, write_partitioned
    from rdkafka_streams_spark.core.plan import partition_filters

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, "day")

    back = spark.read.parquet(path)
    one_day = back.where(F.col("day") == "2024-01-05")
    pf = " ".join(partition_filters(one_day))
    assert "day" in pf, f"no partition pruning in plan: {pf}"
    expect = ev.where(F.col("day") == "2024-01-05").count()
    assert one_day.count() == expect and expect > 0


def test_partitioned_write_bounds_files_per_partition(spark, sf_dir, tmp_path):
    from pathlib import Path

    from rdkafka_streams_spark.core.io import load_table, write_partitioned

    ev = load_table(spark, sf_dir, "events").repartition(8).withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    path = str(tmp_path / "events_capped")
    write_partitioned(ev, path, "day", target_files_per_partition=2)
    for d in Path(path).glob("day=*"):
        n = len([f for f in d.glob("*.parquet")])
        assert 1 <= n <= 2, f"{d.name} has {n} files"


def test_compact_rewrites_to_target_count(spark, sf_dir, tmp_path):
    from pathlib import Path

    from rdkafka_streams_spark.core.io import compact, load_table

    path = str(tmp_path / "fragmented")
    ev = load_table(spark, sf_dir, "events")
    before = ev.count()
    ev.repartition(64).write.parquet(path)  # 64 tiny files
    assert len(list(Path(path).glob("*.parquet"))) == 64
    n = compact(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert len(list(Path(path).glob("*.parquet"))) == 1
    assert spark.read.parquet(path).count() == before


def test_salted_join_rejects_right_full(spark, sf_dir):
    import pytest

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(l.withColumnRenamed("l_suppkey", "s_suppkey"), s, "s_suppkey", how="full")


def test_connected_components_chain_and_islands(spark):
    from rdkafka_streams_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter > 1 ⇒ needs multiple rounds), island 10-11,
    # self-contained triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_topk_per_group_salted_equals_plain(spark, sf_dir):
    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.operators.topk import top_k_per_group, top_k_per_group_salted

    l = load_table(spark, sf_dir, "lineitem")
    order = [F.col("l_quantity").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    plain = top_k_per_group(l, ["l_returnflag"], order, 10)
    salted = top_k_per_group_salted(l, ["l_returnflag"], order, 10, n_salts=8)
    key = ["l_returnflag", "rn"]
    assert sorted(map(tuple, plain.select(*key, "l_orderkey").collect())) == sorted(
        map(tuple, salted.select(*key, "l_orderkey").collect())
    )


def test_connected_components_deep_chain_converges(spark):
    """A 200-link chain (diameter ≫ the handful of rounds dense graphs
    need) must converge via the pointer-doubling rounds — plain propagation
    alone would need 200 rounds and trip max_iters."""
    from rdkafka_streams_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    out = connected_components(chain)
    assert out.where(F.col("component") != 0).count() == 0
    assert out.count() == 201


def test_connected_components_star_deep_chain_converges(spark):
    """The alternating small-star/large-star variant collapses the same
    200-link chain within its O(log n) round bound (max_iters=20 ≫ log₂ 200
    but ≪ the 200 rounds plain propagation would need)."""
    from rdkafka_streams_spark.operators.graph import connected_components_star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    out = connected_components_star(chain, max_iters=20)
    assert out.where(F.col("component") != 0).count() == 0
    assert out.count() == 201


def test_key_skew_profile_ranks_hot_keys(spark):
    """X2 diagnostic: the hot key tops the profile with the right share and
    skew factor (count ÷ mean-per-key), uniform keys sit near 1."""
    from rdkafka_streams_spark.operators.skew import key_skew_profile

    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    prof = key_skew_profile(df, "k", top_k=3).collect()
    assert prof[0]["k"] == "hot" and prof[0]["n"] == 80
    assert prof[0]["share"] == 0.8
    # 21 distinct keys, mean = 100/21 ≈ 4.76 → hot factor = 80/4.76 = 16.8
    assert prof[0]["skew_factor"] == 16.8
    assert all(r["skew_factor"] == 0.21 for r in prof[1:])


def test_zorder_clusters_both_dimensions(spark, sf_dir):
    """The data-skipping claim behind morton_key, measured directly: split
    the sorted table into contiguous chunks (stand-ins for parquet row
    groups) and compare per-chunk value spans. Sorting by x alone leaves
    chunk spans on y at ~the full domain (no pruning possible on y);
    z-order keeps BOTH mean spans well under the domain, which is exactly
    what makes min/max row-group pruning work on either filter column."""
    import math

    from pyspark.sql import functions as F

    from rdkafka_streams_spark.core.io import load_table
    from rdkafka_streams_spark.operators.zorder import morton_key

    # both dims need real entropy for the comparison to mean anything:
    # event_id%256 is dense-uniform, props.k spans its own 0..99 domain
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 256).alias("x"),
        (F.get_json_object("props", "$.k").cast("long") % 256).alias("y"),
    )

    def mean_spans(order_col):
        rows = ev.withColumn("__o", order_col).orderBy("__o").collect()
        n_chunks = 16
        sz = math.ceil(len(rows) / n_chunks)
        spans_x, spans_y = [], []
        for i in range(0, len(rows), sz):
            chunk = rows[i : i + sz]
            spans_x.append(max(r["x"] for r in chunk) - min(r["x"] for r in chunk))
            spans_y.append(max(r["y"] for r in chunk) - min(r["y"] for r in chunk))
        return sum(spans_x) / len(spans_x), sum(spans_y) / len(spans_y)

    dom = ev.agg(
        (F.max("x") - F.min("x")).alias("dx"), (F.max("y") - F.min("y")).alias("dy")
    ).first()

    x_sort_x, x_sort_y = mean_spans(F.col("x"))
    z_x, z_y = mean_spans(morton_key("x", "y", bits=8))

    # under x-sort, y within a chunk is unconstrained — ~the full domain
    assert x_sort_y > dom["dy"] * 0.8, f"fixture degenerate: {x_sort_y} vs dy={dom['dy']}"
    assert z_y < x_sort_y * 0.5, f"z-order didn't cluster y: {z_y} vs {x_sort_y}"
    assert z_x < dom["dx"] * 0.8, f"z-order lost x locality entirely: {z_x} vs dx={dom['dx']}"


def test_hybrid_skew_join_equals_plain_join(spark):
    """hybrid_skew_join ≡ plain join on a deliberately skewed keyspace —
    one key carrying half the rows routes through the salted branch, the
    rest through the cold branch, and the union must lose/duplicate
    nothing (including rows of keys absent from the dim on how='left')."""
    from rdkafka_streams_spark.operators.skew import hybrid_skew_join

    rows = [(1, i) for i in range(50)] + [(k, k) for k in range(2, 30)] + [(99, 0)]
    big = spark.createDataFrame(rows, "k int, v int")
    dim = spark.createDataFrame([(k, f"n{k}") for k in range(1, 30)], "k int, name string")
    hot = spark.createDataFrame([(1,)], "k int")
    plain = sorted(map(tuple, big.join(dim, "k", "left").collect()))
    hybrid = sorted(
        map(tuple, hybrid_skew_join(big, dim, "k", hot_keys=hot, n_salts=4, how="left").collect())
    )
    assert plain == hybrid
