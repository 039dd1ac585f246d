"""ETL idioms: JSON results explode + timestamp extraction."""

import pyspark.sql.functions as F
import pytest

from data_misc_tools_spark.operators.etl import json_results_explode, parse_event_time


def test_explode_n_elements(spark):
    df = spark.createDataFrame(
        [
            (1, '{"results":[{"type":"a","v":1},{"type":"b","v":2}]}'),
            (2, '{"results":[{"type":"c","v":3}]}'),
            (3, '{"results":[]}'),
            (4, None),
        ],
        "id int, content string",
    )
    out = json_results_explode(df, "content", "type string, v int")
    rows = [(r.id, r.ev.type if r.ev else None) for r in out.orderBy("id").collect()]
    # 1 -> 2 rows, 2 -> 1 row, 3/4 -> one null row each (explode_outer keeps ctx)
    assert rows == [(1, "a"), (1, "b"), (2, "c"), (3, None), (4, None)]


def test_nested_braces_safe(spark):
    # the reference's split-on-'},{' regex breaks on nested objects
    # (SURVEY §7.3); from_json does not
    df = spark.createDataFrame(
        [(1, '{"results":[{"type":"x","meta":{"a":1,"b":2}},{"type":"y","meta":{}}]}')],
        "id int, content string",
    )
    out = json_results_explode(df, "content", "type string")
    assert [r.ev.type for r in out.collect()] == ["x", "y"]


def test_ctx_passthrough(spark):
    df = spark.createDataFrame(
        [(1, "keep-me", '{"results":[{"t":"a"}]}')], "id int, tag string, content string"
    )
    out = json_results_explode(df, "content", "t string").first()
    assert out.tag == "keep-me" and out.id == 1


def test_parse_event_time(spark):
    df = spark.createDataFrame(
        [("2024-03-01T12:30:45.123456Z",), ("2024-03-01T12:30:45",)], "s string"
    )
    rows = df.select(parse_event_time("s").alias("ts")).collect()
    assert str(rows[0].ts) == "2024-03-01 12:30:45"  # sub-seconds truncated (README:217)
    assert str(rows[1].ts) == "2024-03-01 12:30:45"


def test_kf_topics_import_gate(spark):
    from data_misc_tools_spark.operators.kafka import kf_topics

    with pytest.raises(ImportError, match="confluent-kafka or kafka-python"):
        kf_topics(spark, "broker:9092")


class TestSnapshotDiff:
    def test_classifies_insert_update_delete(self, spark):
        from data_misc_tools_spark.operators.etl import snapshot_diff

        old = spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0), (4, None)],
            "k long, v double",
        )
        new = spark.createDataFrame(
            [(1, 10.0), (2, 25.0), (5, 50.0), (4, None)],
            "k long, v double",
        )
        got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
        # 1 unchanged (absent), 4 null==null unchanged (null-safe eq)
        assert got == {2: "update", 3: "delete", 5: "insert"}

    def test_null_to_value_is_update(self, spark):
        from data_misc_tools_spark.operators.etl import snapshot_diff

        old = spark.createDataFrame([(1, None)], "k long, v double")
        new = spark.createDataFrame([(1, 7.0)], "k long, v double")
        got = snapshot_diff(old, new, ["k"]).collect()
        assert [(r.k, r.change_type) for r in got] == [(1, "update")]


class TestScd2Intervals:
    def test_runs_collapse_with_open_tail(self, spark):
        from data_misc_tools_spark.operators.etl import scd2_intervals

        rows = [
            (1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "a"),
            (2, 1, "x"),
        ]
        df = spark.createDataFrame(rows, "k long, t long, s string")
        got = sorted(
            (r.k, r.s, r.valid_from, r.valid_to)
            for r in scd2_intervals(df, "k", "t", "s").collect()
        )
        assert got == [
            (1, "a", 1, 3), (1, "a", 4, None), (1, "b", 3, 4),
            (2, "x", 1, None),
        ]


def test_compact_changelog_latest_wins_and_deletes(spark):
    from data_misc_tools_spark.operators.cdc import compact_changelog

    log = spark.createDataFrame(
        [
            (1, 1, "a", "upsert"),
            (1, 3, "a2", "upsert"),
            (2, 2, "b", "upsert"),
            (2, 5, None, "delete"),
            (3, 4, "c", "delete"),
            (3, 6, "c2", "upsert"),  # re-created after delete
        ],
        "k long, seq long, val string, op string",
    )
    out = {r.k: (r.seq, r.val) for r in
           compact_changelog(log, ["k"], ["seq"], op_col="op").collect()}
    assert out == {1: (3, "a2"), 3: (6, "c2")}
    # without op semantics, the newest row survives regardless of op
    raw = {r.k: r.seq for r in compact_changelog(log, ["k"], ["seq"]).collect()}
    assert raw == {1: 3, 2: 5, 3: 6}


def test_merge_snapshot_applies_changes_without_touching_rest(spark):
    from data_misc_tools_spark.operators.cdc import merge_snapshot

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, val string"
    )
    log = spark.createDataFrame(
        [(2, 1, "b2", "upsert"), (3, 2, None, "delete"), (4, 3, "d", "upsert")],
        "k long, seq long, val string, op string",
    )
    out = {r.k: r.val for r in
           merge_snapshot(base, log, ["k"], ["seq"], op_col="op").collect()}
    assert out == {1: "a", 2: "b2", 4: "d"}  # 3 deleted, 1 untouched


def test_merge_snapshot_keeps_base_rows_newer_than_their_changes(spark):
    """A base row carries its own sequence: an older, out-of-order
    change (upsert or delete) for its key does not replace it."""
    from data_misc_tools_spark.operators.cdc import merge_snapshot

    base = spark.createDataFrame(
        [(1, 5, "a"), (2, 5, "b"), (3, 1, "c"), (4, 1, "d")],
        "k long, seq long, val string",
    )
    log = spark.createDataFrame(
        [
            (1, 3, "a-old", "upsert"),
            (2, 3, None, "delete"),
            (3, 4, "c2", "upsert"),
            (4, 2, None, "delete"),
        ],
        "k long, seq long, val string, op string",
    )
    out = {tuple(r) for r in
           merge_snapshot(base, log, ["k"], ["seq"], op_col="op").collect()}
    assert out == {(1, 5, "a"), (2, 5, "b"), (3, 4, "c2")}


def test_compact_changelog_keeps_column_order_and_null_seq_loses(spark):
    """The output columns follow the changelog's order (keys not moved
    first), and a NULL sequence loses to any non-NULL one — the winner
    of a row_number over the sequence DESC (NULLS LAST)."""
    from data_misc_tools_spark.operators.cdc import compact_changelog

    log = spark.createDataFrame(
        [
            ("x", 1, 2, "u"),
            ("x-null", 1, None, "u"),
            ("y-null", 2, None, "u"),
            ("z", 3, 7, "u"),
            ("z-null", 3, None, "u"),
        ],
        "val string, k long, seq long, op string",
    )
    out = compact_changelog(log, ["k"], ["seq"], op_col="op")
    assert out.columns == ["val", "k", "seq", "op"]
    assert sorted(map(tuple, out.collect())) == [
        ("x", 1, 2, "u"), ("y-null", 2, None, "u"), ("z", 3, 7, "u"),
    ]


def test_dataset_fingerprint_order_insensitive_and_sensitive_to_data(spark):
    from data_misc_tools_spark.operators.etl import dataset_fingerprint

    rows = [(i, f"v{i % 7}", None if i % 5 == 0 else f"s{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    fp = dataset_fingerprint(df, ["id", "a", "b"]).collect()[0]
    assert fp.n_rows == 100
    # identical under any row order / partitioning
    again = dataset_fingerprint(df.orderBy("a").repartition(13), ["id", "a", "b"]).collect()[0]
    assert again.fingerprint == fp.fingerprint
    # any single-value change moves the checksum
    mut = spark.createDataFrame(
        [(i, f"v{i % 7}", None if i % 5 == 0 else ("s999" if i == 3 else f"s{i}"))
         for i in range(100)],
        "id long, a string, b string")
    assert dataset_fingerprint(mut, ["id", "a", "b"]).collect()[0].fingerprint != fp.fingerprint
    # null vs literal backslash-N sentinel collision is the documented
    # canonicalization; column order matters
    other = dataset_fingerprint(df, ["a", "id", "b"]).collect()[0]
    assert other.fingerprint != fp.fingerprint


def test_salted_skew_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from data_misc_tools_spark.operators.etl import salted_skew_join

    # heavy skew: key 'hot' holds 90% of the big side
    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", i * 2) for i in range(1000)],
        "row_id long, k string, v long",
    )
    small = spark.createDataFrame(
        [("hot", 100), ("cold", 1), ("absent", 7)], "k string, w long"
    )
    got = salted_skew_join(big, small, key="k", n_salts=8, dist_col="row_id")
    plain = big.join(small, "k")
    assert got.count() == plain.count() == 1000
    a = got.groupBy("k").agg(F.sum(F.col("v") * F.col("w")).alias("s")).collect()
    b = plain.groupBy("k").agg(F.sum(F.col("v") * F.col("w")).alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the hot key really spreads across salts
    n_salts_used = (
        big.withColumn("__salt", F.pmod(F.xxhash64("row_id"), F.lit(8)))
        .where("k = 'hot'").select("__salt").distinct().count()
    )
    assert n_salts_used == 8
    # left join keeps unmatched big rows exactly once
    big2 = big.union(spark.createDataFrame([(9999, "nokey", 0)], big.schema))
    left = salted_skew_join(big2, small, key="k", n_salts=4, dist_col="row_id")
    assert left.where("k = 'nokey'").count() == 0  # inner drops it
    left2 = salted_skew_join(
        big2, small, key="k", n_salts=4, dist_col="row_id", how="left"
    )
    assert left2.count() == 1001
    assert left2.where("k = 'nokey'").collect()[0].w is None


class TestRendezvousAssign:
    def test_adding_a_shard_moves_only_keys_it_wins(self, spark):
        """The HRW contract: going from n to n+1 shards, every key
        either stays put or moves TO the new shard — never between
        old shards (hash%n would scramble nearly all of them)."""
        from data_misc_tools_spark.operators.etl import rendezvous_assign

        df = spark.range(300).withColumnRenamed("id", "k")
        before = {
            r.k: r.shard
            for r in rendezvous_assign(df, ["a", "b", "c"], "k").collect()
        }
        after = {
            r.k: r.shard
            for r in rendezvous_assign(df, ["a", "b", "c", "d"], "k").collect()
        }
        moved = {k for k in before if before[k] != after[k]}
        assert all(after[k] == "d" for k in moved)
        # and the new shard takes roughly 1/4 of the keys
        assert 40 <= len(moved) <= 110

    def test_removing_a_shard_redistributes_only_its_keys(self, spark):
        from data_misc_tools_spark.operators.etl import rendezvous_assign

        df = spark.range(300).withColumnRenamed("id", "k")
        full = {
            r.k: r.shard
            for r in rendezvous_assign(df, ["a", "b", "c"], "k").collect()
        }
        without_b = {
            r.k: r.shard
            for r in rendezvous_assign(df, ["a", "c"], "k").collect()
        }
        for k, s in full.items():
            if s != "b":
                assert without_b[k] == s, k  # non-b keys never move

    def test_shard_order_does_not_matter(self, spark):
        from data_misc_tools_spark.operators.etl import rendezvous_assign

        df = spark.range(50).withColumnRenamed("id", "k")
        x = rendezvous_assign(df, ["a", "b", "c"], "k").collect()
        y = rendezvous_assign(df, ["c", "a", "b"], "k").collect()
        assert sorted(map(tuple, x)) == sorted(map(tuple, y))

    def test_empty_shards_raise(self, spark):
        from data_misc_tools_spark.operators.etl import rendezvous_assign

        with pytest.raises(ValueError):
            rendezvous_assign(spark.range(1), [], "id")


class TestGlobalRank:
    def test_equals_single_window_rank_with_heavy_ties(self, spark):
        import random

        from pyspark.sql import functions as F

        from data_misc_tools_spark.operators.etl import global_rank

        random.seed(2)
        rows = [
            (i, "".join(random.choice("ab") for _ in range(4)))
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "doc_id long, key string").repartition(7)
        got = {
            r.doc_id: r.grank
            for r in global_rank(df, [F.col("key"), F.col("doc_id")]).collect()
        }
        ref = {
            i: r + 1
            for r, (i, k) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
        }
        assert got == ref

    def test_rank_is_partitioning_invariant(self, spark):
        from pyspark.sql import functions as F

        from data_misc_tools_spark.operators.etl import global_rank

        rows = [(i, i % 5) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, key long")
        a = {
            r.doc_id: r.grank
            for r in global_rank(
                df.repartition(3), [F.col("key"), F.col("doc_id")]
            ).collect()
        }
        b = {
            r.doc_id: r.grank
            for r in global_rank(
                df.repartition(11), [F.col("key"), F.col("doc_id")],
                num_partitions=5,
            ).collect()
        }
        assert a == b


class TestParetoSkyline:
    def test_equals_brute_force_3d(self, spark):
        import random

        from data_misc_tools_spark.operators.etl import pareto_skyline

        random.seed(6)
        rows = [
            (i, random.randint(0, 1000), random.randint(0, 1000),
             random.randint(0, 1000))
            for i in range(400)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, x long, y long, z long"
        ).repartition(5)
        got = {r.doc_id for r in pareto_skyline(df, ["x", "y", "z"]).collect()}

        def dominated(p, q):
            return all(qa >= pa for qa, pa in zip(q[1:], p[1:])) and any(
                qa > pa for qa, pa in zip(q[1:], p[1:])
            )

        ref = {
            p[0]
            for p in rows
            if not any(dominated(p, q) for q in rows if q is not p)
        }
        assert got == ref

    def test_tied_points_survive_together(self, spark):
        from data_misc_tools_spark.operators.etl import pareto_skyline

        dup = spark.createDataFrame(
            [(0, 5, 5), (1, 5, 5), (2, 1, 9), (3, 9, 1), (4, 1, 1)],
            "doc_id long, x long, y long",
        )
        got = {r.doc_id for r in pareto_skyline(dup, ["x", "y"]).collect()}
        # equal points don't dominate each other; (1,1) is dominated
        assert got == {0, 1, 2, 3}

    def test_candidate_guard_raises(self, spark):
        import pytest as _pytest

        from data_misc_tools_spark.operators.etl import pareto_skyline

        # anti-chain: x + y constant -> nothing dominates anything,
        # pruning removes nothing, guard must fire
        rows = [(i, i, 100 - i) for i in range(101)]
        df = spark.createDataFrame(rows, "doc_id long, x long, y long")
        with _pytest.raises(ValueError, match="candidates"):
            pareto_skyline(df, ["x", "y"], max_candidates=50)

    def test_constant_dim_is_harmless(self, spark):
        from data_misc_tools_spark.operators.etl import pareto_skyline

        rows = [(0, 7, 1), (1, 7, 2), (2, 7, 2)]
        df = spark.createDataFrame(rows, "doc_id long, x long, y long")
        got = {r.doc_id for r in pareto_skyline(df, ["x", "y"]).collect()}
        assert got == {1, 2}


def test_cascade_purge_partitions_every_level(spark):
    from data_misc_tools_spark.operators.etl import cascade_purge

    cust = spark.createDataFrame([(1,), (2,), (3,)], "ck int")
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2), (13, 3)], "ok int, ck int"
    )
    items = spark.createDataFrame(
        [(10, "a"), (10, "b"), (11, "c"), (12, "d"), (13, "e")],
        "ok int, sku string",
    )
    subjects = spark.createDataFrame([(1,), (99,)], "ck int")  # 99 unknown
    report, kept = cascade_purge(
        subjects,
        [
            ("cust", cust, "ck", "ck"),
            ("orders", orders, "ck", "ok"),
            ("items", items, "ok", None),
        ],
    )
    rep = {r.table_name: (r.n_rows, r.n_deleted, r.n_kept) for r in report.collect()}
    assert rep == {
        "cust": (3, 1, 2),
        "orders": (4, 2, 2),     # orders 10, 11
        "items": (5, 3, 2),      # items of orders 10, 11
    }
    assert {r.ck for r in kept["cust"].collect()} == {2, 3}
    assert {r.ok for r in kept["orders"].collect()} == {12, 13}
    assert {r.sku for r in kept["items"].collect()} == {"d", "e"}
    # doomed ∪ kept is a partition: kept + deleted == rows at each level
    for name in rep:
        assert rep[name][1] + rep[name][2] == rep[name][0]


def test_quantile_normalize_aligns_distributions(spark):
    from data_misc_tools_spark.operators.etl import quantile_normalize

    # group A = 1..10, group B = 100x A: after normalization both map
    # onto the pooled order statistics at the same quantiles
    rows = [(i, "a", i) for i in range(1, 11)] + [
        (100 + i, "b", 100 * i) for i in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "id int, g string, v int")
    out = {r.id: r for r in quantile_normalize(df, "g", "v", "id").collect()}
    pooled = sorted(v for _, _, v in rows)
    n_pool, n_g = 20, 10
    for rid, g, v in rows:
        r = out[rid]
        # python reference of the exact mapping
        grp_rank = sorted(x for i2, g2, x in rows if g2 == g).index(v) + 1
        idx = -(-grp_rank * n_pool // n_g)  # ceil
        assert (r.grp_rank, r.n_group, r.pool_idx) == (grp_rank, n_g, idx)
        assert r.normalized == pooled[idx - 1]
    # equal-rank rows in different groups normalize to the SAME value
    a = [out[i] for i in range(1, 11)]
    b = [out[100 + i] for i in range(1, 11)]
    for ra, rb in zip(sorted(a, key=lambda r: r.grp_rank),
                      sorted(b, key=lambda r: r.grp_rank)):
        assert ra.normalized == rb.normalized


class TestTargetEncodeLoo:
    def test_matches_hand_computation(self, spark):
        from data_misc_tools_spark.operators.etl import target_encode_loo

        rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
                (4, "b", 5.0), (5, "b", 7.0), (6, "c", 99.0)]
        df = spark.createDataFrame(rows, "id long, cat string, y double")
        got = {r.id: r.te_loo
               for r in target_encode_loo(df, "cat", "y", 100).collect()}
        assert got[1] == 2500.0 and got[2] == 2000.0 and got[3] == 1500.0
        assert got[4] == 700.0 and got[5] == 500.0  # two-row cat swaps
        # singleton falls back to the global leave-one-out mean
        assert got[6] == (17100 - 9900) / 5

    def test_never_contains_own_label(self, spark):
        """The leakage property: perturbing row i's target must not
        change row i's encoding beyond the global fallback case."""
        from data_misc_tools_spark.operators.etl import target_encode_loo

        base = [(i, "g", float(i)) for i in range(10)]
        df1 = spark.createDataFrame(base, "id long, cat string, y double")
        df2 = spark.createDataFrame(
            [(0, "g", 1000.0)] + base[1:], "id long, cat string, y double"
        )
        e1 = {r.id: r.te_loo for r in target_encode_loo(df1, "cat", "y").collect()}
        e2 = {r.id: r.te_loo for r in target_encode_loo(df2, "cat", "y").collect()}
        assert e1[0] == e2[0]  # own-label change invisible to own encoding
        assert all(e1[i] != e2[i] for i in range(1, 10))  # visible to others

    def test_single_row_table_is_null(self, spark):
        from data_misc_tools_spark.operators.etl import target_encode_loo

        df = spark.createDataFrame([(1, "x", 5.0)], "id long, cat string, y double")
        assert target_encode_loo(df, "cat", "y").collect()[0].te_loo is None


class TestMetricDecomposition:
    def test_contributions_reconcile_with_delta(self, spark):
        import random

        from data_misc_tools_spark.operators.etl import metric_decomposition

        rng = random.Random(47)
        old = [
            ("s" + str(rng.randrange(4)), rng.randrange(1, 4),
             rng.randrange(0, 1000))
            for _ in range(800)
        ]
        new = [
            ("s" + str(rng.randrange(5)), rng.randrange(1, 4),  # s4 is new
             rng.randrange(0, 1200))
            for _ in range(900)
        ]
        odf = spark.createDataFrame(old, "seg string, w long, x long")
        ndf = spark.createDataFrame(new, "seg string, w long, x long")
        rows = metric_decomposition(odf, ndf, "seg", "w", "x").collect()
        # exact python reference for the aggregates
        import collections

        def stats(data):
            w = collections.Counter()
            v = collections.Counter()
            for s, ww, x in data:
                w[s] += ww
                v[s] += ww * x
            return w, v

        wo, vo = stats(old)
        wn, vn = stats(new)
        tw_o, tw_n = sum(wo.values()), sum(wn.values())
        metric_old = sum(vo.values()) / tw_o
        metric_new = sum(vn.values()) / tw_n
        mix = sum(r["mix_contrib"] for r in rows)
        rate = sum(r["rate_contrib"] for r in rows)
        # mix + rate == delta (exact algebra; float ~1e-12 residual)
        assert abs((mix + rate) - (metric_new - metric_old)) < 1e-9
        by_seg = {r["segment"]: r for r in rows}
        for s in set(wo) | set(wn):
            r = by_seg[s]
            assert r["w_old"] == wo.get(s, 0) / tw_o
            assert r["w_new"] == wn.get(s, 0) / tw_n
            r_old = vo[s] / wo[s] if s in wo else 0.0
            assert r["r_old"] == r_old
        # the brand-new segment contributes ONLY through mix (r_old=0
        # convention) plus its rate term w_new*(r_new-0)
        nv = by_seg["s4"]
        assert nv["n_old"] == 0 and nv["mix_contrib"] == 0.0
        assert nv["rate_contrib"] == nv["w_new"] * nv["r_new"]

    def test_pure_mix_shift_zero_rate_term(self, spark):
        from data_misc_tools_spark.operators.etl import metric_decomposition

        # same per-segment rates, different composition: all change
        # must land in mix_contrib
        old = [("a", 1, 10)] * 80 + [("b", 1, 50)] * 20
        new = [("a", 1, 10)] * 20 + [("b", 1, 50)] * 80
        odf = spark.createDataFrame(old, "seg string, w long, x long")
        ndf = spark.createDataFrame(new, "seg string, w long, x long")
        rows = metric_decomposition(odf, ndf, "seg", "w", "x").collect()
        assert all(r["rate_contrib"] == 0.0 for r in rows)
        assert abs(sum(r["mix_contrib"] for r in rows) - (42.0 - 18.0)) < 1e-12


class TestWritePlan:
    def test_matches_python_width_model(self, spark):
        from data_misc_tools_spark.operators.etl import write_plan

        rows = [
            ("a", 1, 1.5, "xx"), ("a", 2, 2.5, "yyyy"),
            ("b", 3, 3.5, None), ("a", None, None, "z"),
        ]
        df = spark.createDataFrame(
            rows, "k string, i long, d double, s string"
        )
        got = {r.part_key: r for r in write_plan(df, "k", target_mb=1).collect()}
        import math

        ref = {}
        for k, i, d, s in rows:
            w = len(k.encode()) + 8 + 8 + (len(s.encode()) if s else 0)
            st = ref.setdefault(k, [0, 0])
            st[0] += 1
            st[1] += w
        for k, (n, b) in ref.items():
            r = got[k]
            assert (r.n_rows, r.est_bytes) == (n, b)
            nf = max(1, math.ceil(b / (1024 * 1024)))
            assert r.n_files == nf
            assert r.rows_per_file == math.ceil(n / nf)

    def test_ceil_fans_out_hot_keys(self, spark):
        from pyspark.sql import functions as FF

        from data_misc_tools_spark.operators.etl import write_plan

        # one hot key with ~3 MB of string payload at a 1 MB target
        df = spark.range(3000).select(
            FF.lit("hot").alias("k"),
            FF.repeat(FF.lit("x"), 1024).alias("payload"),
        )
        r = write_plan(df, "k", target_mb=1).collect()[0]
        assert r.est_bytes == 3000 * (3 + 1024)
        assert r.n_files == 3
        assert r.rows_per_file == 1000

    def test_unpartitioned_and_guards(self, spark):
        import pytest as _pytest

        from data_misc_tools_spark.operators.etl import write_plan

        df = spark.createDataFrame([(1, "a")], "i long, s string")
        r = write_plan(df).collect()[0]
        assert r.part_key == "__all__" and r.n_rows == 1
        with _pytest.raises(ValueError, match="target_mb"):
            write_plan(df, target_mb=0)
        nested = df.select("i", __import__("pyspark").sql.functions.array("s").alias("arr"))
        with _pytest.raises(ValueError, match="nested"):
            write_plan(nested)


class TestScd2Intervals:
    """cdc.scd2_intervals — Kimball type-2 history from a changelog."""

    def test_runs_collapse_and_chain(self, spark):
        from data_misc_tools_spark.operators.cdc import scd2_intervals

        rows = [
            (1, "a", 10, 100),
            (1, "a", 20, 101),   # same state: collapses into run 1
            (1, "b", 30, 102),
            (1, "a", 40, 103),   # back to a: NEW run (not merged)
            (2, "x", 10, 104),
        ]
        out = scd2_intervals(
            spark.createDataFrame(rows, "k long, s string, ts long, id long"),
            key_cols=["k"], state_cols=["s"], seq_cols=["ts", "id"],
        ).collect()
        got = {
            (r.k, r.version): (r.s, r.valid_from, r.valid_to, r.is_current)
            for r in out
        }
        assert got == {
            (1, 1): ("a", 10, 30, False),
            (1, 2): ("b", 30, 40, False),
            (1, 3): ("a", 40, None, True),
            (2, 1): ("x", 10, None, True),
        }

    def test_null_states_form_runs(self, spark):
        from data_misc_tools_spark.operators.cdc import scd2_intervals

        rows = [(1, None, 10, 1), (1, None, 20, 2), (1, "a", 30, 3)]
        out = scd2_intervals(
            spark.createDataFrame(rows, "k long, s string, ts long, id long"),
            key_cols=["k"], state_cols=["s"], seq_cols=["ts", "id"],
        ).collect()
        got = {(r.k, r.version): (r.s, r.valid_from, r.valid_to) for r in out}
        assert got == {(1, 1): (None, 10, 30), (1, 2): ("a", 30, None)}

    def test_multi_state_cols_and_tie_order(self, spark):
        from data_misc_tools_spark.operators.cdc import scd2_intervals

        # equal ts rows ordered by the id tiebreak; change in EITHER
        # state col opens a run
        rows = [(1, "a", 1, 10, 1), (1, "a", 2, 10, 2), (1, "b", 2, 10, 3)]
        out = scd2_intervals(
            spark.createDataFrame(
                rows, "k long, s1 string, s2 long, ts long, id long"
            ),
            key_cols=["k"], state_cols=["s1", "s2"], seq_cols=["ts", "id"],
        ).collect()
        assert [(r.s1, r.s2, r.version) for r in sorted(out, key=lambda r: r.version)] == [
            ("a", 1, 1), ("a", 2, 2), ("b", 2, 3),
        ]

    def test_plan_one_exchange_no_python(self, spark):
        from data_misc_tools_spark.operators.cdc import scd2_intervals

        df = spark.createDataFrame(
            [(1, "a", 10, 1)], "k long, s string, ts long, id long"
        )
        plan = (
            scd2_intervals(df, ["k"], ["s"], ["ts", "id"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        for m in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert m not in plan
        assert plan.count("Exchange") <= 2  # one hash exchange (+AQE read)


class TestProfileColumns:
    def test_hand_profile(self, spark):
        from data_misc_tools_spark.operators.etl import profile_columns

        df = spark.createDataFrame(
            [("a", 3, None), ("b", 1, None), ("a", None, None), (None, 100, None)],
            "s string, x long, z string",
        )
        got = {
            r.column: r
            for r in profile_columns(df, ["s", "x", "z"]).collect()
        }
        s = got["s"]
        assert (s.n, s.n_null, s.n_distinct) == (4, 1, 2)
        assert (s.min_value, s.max_value) == ("a", "b")
        assert (s.top_value, s.top_count) == ("a", 2)
        x = got["x"]
        # numeric order, not string order: max is 100 even though
        # "100" < "3" lexicographically
        assert (x.min_value, x.max_value) == ("1", "100")
        assert x.n_distinct == 3
        assert x.top_count == 1 and x.top_value == "1"  # tie -> asc value
        z = got["z"]  # all-NULL column still reports a row
        assert (z.n, z.n_null, z.n_distinct) == (4, 4, 0)
        assert z.top_value is None and z.top_count is None

    def test_empty_cols_guard(self, spark):
        import pytest as _pytest

        from data_misc_tools_spark.operators.etl import profile_columns

        df = spark.createDataFrame([(1,)], "x long")
        with _pytest.raises(ValueError, match="at least one column"):
            profile_columns(df, [])
