"""Operator unit tests: as-of join vs naive reference implementation,
top-k, dedup, simhash, similarity."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from _spark_multi_format_data_lake_pipeline_spark.operators.joins import asof_join
from _spark_multi_format_data_lake_pipeline_spark.operators.topk import top_k, top_k_per_group
from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import (
    exact_dedup_keepers,
    minhash_near_dup_pairs,
    simhash,
)
from _spark_multi_format_data_lake_pipeline_spark.llm.similarity import topk_cosine


def test_asof_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d"), (3, 1, "e")],
        schema="k int, t int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 200), (2, 7, 300), (9, 1, 999)],
        schema="k int, t int, val int",
    )
    # non-strict: right.t <= left.t
    got = {
        (r.k, r.t): r.val
        for r in asof_join(
            left, right, by=["k"], left_on="t", right_on="t", right_cols=["val"]
        ).collect()
    }
    assert got == {(1, 10): 100, (1, 20): 200, (1, 5): 100, (2, 7): 300, (3, 1): None}

    # strict: right.t < left.t — the (2,7)/(1,5) matches disappear
    got_strict = {
        (r.k, r.t): r.val
        for r in asof_join(
            left, right, by=["k"], left_on="t", right_on="t",
            right_cols=["val"], strict=True,
        ).collect()
    }
    assert got_strict == {
        (1, 10): 100, (1, 20): 200, (1, 5): None, (2, 7): None, (3, 1): None,
    }


def test_asof_join_name_collision_suffix(spark):
    left = spark.createDataFrame([(1, 10, "L")], schema="k int, t int, val string")
    right = spark.createDataFrame([(1, 5, "R")], schema="k int, t int, val string")
    out = asof_join(left, right, ["k"], "t", "t", ["val"])
    row = out.collect()[0]
    assert row.val == "L" and row.val_right == "R"


def test_top_k(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], schema="x int")
    got = [r.x for r in top_k(df, [F.col("x").desc()], 3).collect()]
    assert got == [99, 98, 97]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 3), ("b", 9)], schema="g string, x int"
    )
    got = sorted(
        (r.g, r.x, r.rnk)
        for r in top_k_per_group(df, ["g"], [F.col("x").desc()], 2).collect()
    )
    assert got == [("a", 5, 1), ("a", 3, 2), ("b", 9, 1)] or got == sorted(
        [("a", 5, 1), ("a", 3, 2), ("b", 9, 1)]
    )


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        schema="doc_id bigint, text string",
    )
    out = {r.doc_id: r.n_copies for r in exact_dedup_keepers(df, "doc_id", "text").collect()}
    assert out == {1: 3, 3: 1}


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")  # one word differs
    # filler docs get per-doc token vocabularies so they share no shingles
    rows = [(0, base), (1, near)] + [
        (i, " ".join(f"tok{i}_{j}" for j in range(15))) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(df, "doc_id", "text", threshold=0.4).collect()
    }
    assert (0, 1) in pairs
    # no false positives among the unrelated docs
    assert all(a == 0 and b == 1 for a, b in pairs)


def test_epoch_shard_order_is_deterministic_and_reseeds(spark):
    """Epoch shuffle: (shard, pos) is a pure function of (seed, id) —
    identical under any partitioning — and a new seed re-deals both
    membership and order (the next epoch)."""
    from _spark_multi_format_data_lake_pipeline_spark.operators.sampling import epoch_shard_order

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = {(r.doc_id, r.shard, r.pos)
         for r in epoch_shard_order(df, "doc_id", 4, seed=1).collect()}
    b = {(r.doc_id, r.shard, r.pos)
         for r in epoch_shard_order(df.repartition(13), "doc_id", 4, seed=1).collect()}
    assert a == b  # partitioning-independent
    c = {(r.doc_id, r.shard, r.pos)
         for r in epoch_shard_order(df, "doc_id", 4, seed=2).collect()}
    assert a != c  # a new seed is a new epoch
    # every shard is a contiguous 1..n_s numbering and ids spread across shards
    by_shard: dict = {}
    for doc_id, shard, pos in a:
        by_shard.setdefault(shard, []).append(pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_epoch_shard_order_rejects_colliding_columns(spark):
    """withColumn would silently overwrite a caller's shard/pos/__h."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.operators.sampling import epoch_shard_order

    df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="shard"):
        epoch_shard_order(df.withColumn("shard", df.doc_id), "doc_id", 4)
    with pytest.raises(ValueError, match="pos"):
        epoch_shard_order(df.withColumn("pos", df.doc_id), "doc_id", 4)


def test_minhash_bucket_cap_drops_boilerplate_buckets(spark):
    """max_bucket bounds the per-bucket pair explosion: a bucket larger
    than the cap (boilerplate text shared by many docs) is dropped
    entirely — the documented recall trade-off that keeps Σ|bucket|²
    bounded at corpus scale."""
    rows = [(i, "identical boilerplate text repeated across many documents x")
            for i in range(12)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    capped = minhash_near_dup_pairs(
        df, "doc_id", "text", threshold=0.4, max_bucket=5
    ).count()
    assert capped == 0  # 12-member buckets exceed the cap of 5
    uncapped = minhash_near_dup_pairs(
        df, "doc_id", "text", threshold=0.4, max_bucket=50
    ).count()
    assert uncapped == 12 * 11 // 2  # all pairs once the cap admits them


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "the quick brown fox jumps over the lazy dog near the river bend"),
            (2, "completely unrelated words about spark catalyst tungsten codegen"),
        ],
        schema="id bigint, text string",
    )
    fp = {r.id: r.f for r in df.select("id", simhash("text").alias("f")).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])
    assert ham(fp[0], fp[1]) <= 16


def test_topk_cosine_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    mat = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = mat[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    expected = sorted(
        ((round(cos(v, q), 4), -k) for k, v in mat.items()), reverse=True
    )[:5]
    expected_ids = [-negk for _, negk in expected]

    got = [r.vec_id for r in topk_cosine(emb, list(q), k=5).collect()]
    assert got == expected_ids


def test_connected_components(spark):
    from _spark_multi_format_data_lake_pipeline_spark.operators.graph import connected_components

    # two components: {1,2,3,4} (chain) and {10,11}; 20-21-22 triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src bigint, dst bigint",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_distributed_path(spark):
    from _spark_multi_format_data_lake_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src bigint, dst bigint"
    )
    got = {
        r.node: r.component
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


class TestBinnedRangeJoin:
    def test_matches_naive_between_join(self, spark):
        from _spark_multi_format_data_lake_pipeline_spark.operators.joins import binned_range_join

        pts = spark.createDataFrame(
            [(i, i * 3 % 101) for i in range(200)], "pid bigint, x bigint"
        )
        ivs = spark.createDataFrame(
            [(j, j * 7 % 90, j * 7 % 90 + (j % 13)) for j in range(40)],
            "iid bigint, lo bigint, hi bigint",
        )
        got = {
            (r["pid"], r["iid"])
            for r in binned_range_join(pts, ivs, "x", "lo", "hi", bin_width=5).collect()
        }
        want = {
            (r["pid"], r["iid"])
            for r in pts.join(
                ivs, pts.x.between(ivs.lo, ivs.hi)
            ).collect()
        }
        assert got == want and len(want) > 0

    def test_no_duplicate_pairs_when_interval_spans_bins(self, spark):
        from _spark_multi_format_data_lake_pipeline_spark.operators.joins import binned_range_join

        pts = spark.createDataFrame([(1, 50)], "pid bigint, x bigint")
        ivs = spark.createDataFrame([(1, 0, 100)], "iid bigint, lo bigint, hi bigint")
        rows = binned_range_join(pts, ivs, "x", "lo", "hi", bin_width=10).collect()
        assert len(rows) == 1

    def test_negative_values_bin_correctly(self, spark):
        # floor division keeps bins aligned below zero (floor(-3/10) = -1)
        from _spark_multi_format_data_lake_pipeline_spark.operators.joins import binned_range_join

        pts = spark.createDataFrame([(1, -3), (2, -15), (3, 4)], "pid bigint, x bigint")
        ivs = spark.createDataFrame([(1, -10, 0)], "iid bigint, lo bigint, hi bigint")
        got = sorted(
            r["pid"]
            for r in binned_range_join(pts, ivs, "x", "lo", "hi", bin_width=10).collect()
        )
        assert got == [1]

    def test_rejects_outer(self, spark):
        import pytest as _pytest

        from _spark_multi_format_data_lake_pipeline_spark.operators.joins import binned_range_join

        df = spark.range(1)
        with _pytest.raises(ValueError):
            binned_range_join(df, df, "id", "id", "id", 1, how="left")


def test_minhash_sha_twin_finds_planted_near_dup(spark):
    """The sha-lane twin (q141) must find the same planted near-dup as the
    production xxhash64 path — only the hash family differs, not the
    banding semantics."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import (
        minhash_near_dup_pairs,
        minhash_near_dup_pairs_sha,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base + "with one extra tail phrase"
    rows = [(0, base), (1, near)] + [
        (i, f"completely unrelated document number {i} about topic {i * 7}")
        for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sha_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs_sha(df, "doc_id", "text", threshold=0.5).collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (0, 1) in sha_pairs
    assert (0, 1) in xx_pairs


def test_leakage_safe_split_never_straddles_duplicates(spark):
    """Planted byte-identical copies must land in the same split, whatever
    their raw ids hash to; fractions stay near 80/10/10 on unique texts."""
    from _spark_multi_format_data_lake_pipeline_spark.operators.sampling import leakage_safe_split

    # 60 duplicate groups of 3 copies each, ids deliberately interleaved
    rows = []
    for g in range(60):
        for c in range(3):
            rows.append((g + c * 1000, f"shared text for group {g}"))
    rows += [(5000 + i, f"unique text {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = leakage_safe_split(df, "doc_id", "text").collect()
    by_text_group: dict = {}
    for r in out:
        if r.canonical_id < 1000:  # a planted dup group, canonical = g
            by_text_group.setdefault(r.canonical_id, set()).add(r.split)
    assert len(by_text_group) == 60
    assert all(len(s) == 1 for s in by_text_group.values())
    splits = [r.split for r in out]
    n = len(splits)
    assert 0.6 < splits.count("train") / n < 0.95
    assert splits.count("val") > 0 and splits.count("test") > 0


def test_pagerank_two_node_cycle_is_uniform(spark):
    """A→B→A is symmetric: both nodes hold rank 0.5 at every iteration."""
    import pytest as _pt

    from _spark_multi_format_data_lake_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    got = {r.node: r.r for r in pagerank(edges, iters=7).collect()}
    assert got["a"] == _pt.approx(0.5, abs=1e-12)
    assert got["b"] == _pt.approx(0.5, abs=1e-12)


def test_pagerank_mass_conserved_and_hub_wins(spark):
    """Star graph with a back-edge (no dangling nodes): total mass stays 1
    and the hub outranks every spoke."""
    import pytest as _pt

    from _spark_multi_format_data_lake_pipeline_spark.operators.graph import pagerank

    spokes = ["s1", "s2", "s3", "s4"]
    edges = spark.createDataFrame(
        [(s, "hub") for s in spokes] + [("hub", s) for s in spokes],
        "src string, dst string",
    )
    got = {r.node: r.r for r in pagerank(edges, iters=10).collect()}
    assert sum(got.values()) == _pt.approx(1.0, abs=1e-9)
    assert all(got["hub"] > got[s] for s in spokes)


def test_pagerank_drops_null_endpoint_edges(spark):
    """Edges with a NULL endpoint are dropped before the out-weight
    join: no NULL node appears, a node reachable only through a
    NULL-source edge is absent, the NULL-destination edge does not
    dilute its source's out-weight, and the ranks still sum to 1."""
    import pytest as _pt

    from _spark_multi_format_data_lake_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), (None, "d"), ("a", None)],
        "src string, dst string",
    )
    got = {r.node: r.r for r in pagerank(edges, iters=10).collect()}
    assert set(got) == {"a", "b", "c"}
    assert sum(got.values()) == _pt.approx(1.0, abs=1e-9)
    assert all(v == _pt.approx(1 / 3, abs=1e-9) for v in got.values())


def test_pagerank_weights_shift_rank(spark):
    """src splits mass 3:1 between b and c -> b must outrank c; the
    unreferenced src holds exactly the teleport share (1-d)/N."""
    import pytest as _pt

    from _spark_multi_format_data_lake_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("src", "b", 3.0), ("src", "c", 1.0), ("b", "src", 1.0), ("c", "src", 1.0)],
        "src string, dst string, w double",
    )
    got = {r.node: r.r for r in pagerank(edges, weight="w", iters=8).collect()}
    assert got["b"] > got["c"]
    assert sum(got.values()) == _pt.approx(1.0, abs=1e-9)


def test_prefix_filter_jaccard_equals_brute_force(spark):
    """Lossless-pruning contract: prefix-filtered output == all-pairs, on a
    corpus built to hit the traps — identical docs, whitespace-only docs,
    df ties, a planted near-dup, and sizes (5, 10, 15, 20, 25) where a
    float ceil(0.8*sz) would round up across the integer boundary and
    silently shorten the prefix."""
    import itertools
    import random
    import re

    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import prefix_filter_jaccard_pairs

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (0, "alpha beta gamma delta epsilon"),              # sz=5: ceil trap
        (1, "alpha beta gamma delta zeta"),                  # J=4/6 with doc 0
        (2, "alpha beta gamma delta epsilon"),               # identical to 0
        (3, "   "),                                          # whitespace-only
        (4, "alpha  beta   gamma  delta"),                   # multi-space runs
    ] + [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.choice((5, 10, 15, 20, 25)))))
        for i in range(5, 60)
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")

    for t in (0.5, 0.8):
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in prefix_filter_jaccard_pairs(df, "doc_id", "text", threshold=t).collect()
        }
        sets = {
            i: set(re.split(r"\s+", s.strip().lower()))
            for i, s in rows
            if s.strip()
        }
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                want.add((a, b, round(inter / union, 6)))
        assert got == want, f"threshold {t}: {got ^ want}"
    # the planted exact pair and the planted 4/6 near-pair both survive 0.5
    assert any(p[:2] == (0, 2) for p in got | want)


def test_groups_frame_rewrite_semantics(spark):
    """dense_rank + RANGE(-2, 0) implements the SQL:2011 GROUPS frame: the
    frame covers the current peer GROUP and the 2 preceding groups, with
    every tie row of each group counted, and gaps in the order key do NOT
    shrink the frame (where RANGE over the raw key would)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("x", 1, 10.0), ("x", 1, 5.0), ("x", 2, 7.0), ("x", 9, 3.0), ("x", 50, 1.0)],
        schema="part string, bucket int, v double",
    )
    dr = Window.partitionBy("part").orderBy("bucket")
    frame = Window.partitionBy("part").orderBy("ordinal").rangeBetween(-2, Window.currentRow)
    out = {
        r.bucket: r.s
        for r in df.withColumn("ordinal", F.dense_rank().over(dr))
        .withColumn("s", F.sum("v").over(frame))
        .select("bucket", "s")
        .distinct()
        .collect()
    }
    # bucket 9 (3rd group): ties of bucket 1 (15) + 7 + 3 = 25 — a RANGE
    # frame over the raw bucket (9-2..9) would have returned just 3.
    # bucket 50 (4th group): groups 2,3,4 = 7 + 3 + 1 = 11.
    assert out == {1: 15.0, 2: 22.0, 9: 25.0, 50: 11.0}


def test_prefix_filter_reuses_stale_token_ranking_losslessly(spark):
    """Incremental posture (SCALING.md): a token ranking precomputed on an
    OLD corpus half — missing every token the new half introduced — must
    still produce exactly the brute-force pairs, because any one total
    order is sound; only bucket sizes (performance) depend on freshness."""
    import itertools
    import re

    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import (
        prefix_filter_jaccard_pairs,
        token_rank_table,
    )

    old = [(i, f"alpha beta gamma tok{i} tok{i+1}") for i in range(0, 10)]
    new = [(i, f"alpha beta NEW{i} NEW{i+1} gamma") for i in range(10, 20)]
    full = spark.createDataFrame(old + new, "doc_id bigint, text string")
    stale_rank = token_rank_table(
        spark.createDataFrame(old, "doc_id bigint, text string"), "text"
    )

    for rank in (None, stale_rank):
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in prefix_filter_jaccard_pairs(
                full, "doc_id", "text", threshold=0.5, token_rank=rank
            ).collect()
        }
        sets = {
            i: set(re.split(r"\s+", t.strip().lower())) for i, t in old + new
        }
        want = {
            (a, b, round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6))
            for a, b in itertools.combinations(sorted(sets), 2)
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
        }
        assert got == want, f"rank={'stale' if rank is not None else 'self'}"


# ---------------------------------------------------------------------------
# interval coalescing (operators/intervals.py)
# ---------------------------------------------------------------------------

def _merge_ref(iv):
    """Python reference: sort, sweep, merge overlapping-or-touching."""
    out = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += 1
        else:
            out.append([s, e, 1])
    return sorted((s, e, n) for s, e, n in out)


def test_merge_intervals_basic_and_touching(spark):
    from _spark_multi_format_data_lake_pipeline_spark.operators.intervals import merge_intervals

    rows = [
        ("u", 0, 10), ("u", 5, 12),   # overlap -> [0,12]
        ("u", 12, 15),                # touching -> merges into [0,15]
        ("u", 20, 25),                # gap -> own island
        ("v", 3, 4),                  # other key untouched
    ]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = sorted(
        (r["k"], r["s"], r["e"], r["n_merged"])
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    )
    assert got == [("u", 0, 15, 3), ("u", 20, 25, 1), ("v", 3, 4, 1)]


def test_merge_intervals_matches_reference_random(spark):
    import random

    from _spark_multi_format_data_lake_pipeline_spark.operators.intervals import merge_intervals

    rng = random.Random(23)
    rows = []
    per_key = {}
    for k in ("a", "b", "c"):
        iv = []
        for _ in range(40):
            s = rng.randint(0, 200)
            e = s + rng.randint(0, 30)
            iv.append((s, e))
            rows.append((k, s, e))
        per_key[k] = iv
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = {}
    for r in merge_intervals(df, ["k"], "s", "e").collect():
        got.setdefault(r["k"], []).append((r["s"], r["e"], r["n_merged"]))
    for k, iv in per_key.items():
        assert sorted(got[k]) == _merge_ref(iv), k


def test_merge_intervals_rejects_malformed(spark):
    import pytest as _pytest

    from _spark_multi_format_data_lake_pipeline_spark.operators.intervals import merge_intervals

    df = spark.createDataFrame([("u", 5, 3)], "k string, s int, e int")
    with _pytest.raises(ValueError, match="inverted"):
        merge_intervals(df, ["k"], "s", "e")
    df2 = spark.createDataFrame([("u", None, 3)], "k string, s int, e int")
    with _pytest.raises(ValueError, match="NULL or inverted"):
        merge_intervals(df2, ["k"], "s", "e")


# ---------------------------------------------------------------------------
# multi-touch attribution (operators/attribution.py)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def touch_events(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # user 1: view, click, view -> purchase (3 touches)
        (1, base + dt.timedelta(hours=0), 1, "view"),
        (2, base + dt.timedelta(hours=1), 1, "click"),
        (3, base + dt.timedelta(hours=2), 1, "view"),
        (4, base + dt.timedelta(hours=3), 1, "purchase"),
        # user 2: single click -> purchase
        (5, base + dt.timedelta(hours=0), 2, "click"),
        (6, base + dt.timedelta(hours=1), 2, "purchase"),
        # user 3: touch OUTSIDE the lookback + purchase with no valid touch
        (7, base - dt.timedelta(days=30), 3, "view"),
        (8, base, 3, "purchase"),
        # user 4: touch AFTER the conversion never counts
        (9, base + dt.timedelta(hours=1), 4, "purchase"),
        (10, base + dt.timedelta(hours=2), 4, "click"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def test_attribution_linear_and_first_last(spark, touch_events):
    from _spark_multi_format_data_lake_pipeline_spark.operators.attribution import multi_touch_credits

    lin = {
        r["channel"]: (r["n_touches"], r["credit"])
        for r in multi_touch_credits(touch_events, "linear").collect()
    }
    # user1: view 2/3, click 1/3; user2: click 1 -> view 0.666667, click 1.333333
    assert lin["view"] == (2, round(2 / 3, 6))
    assert lin["click"] == (2, round(1 / 3 + 1.0, 6))

    first = {
        r["channel"]: r["credit"]
        for r in multi_touch_credits(touch_events, "first").collect()
    }
    # user1 first touch = view; user2 first = click
    assert first == {"view": 1.0, "click": 1.0}

    last = {
        r["channel"]: r["credit"]
        for r in multi_touch_credits(touch_events, "last").collect()
    }
    # user1 last touch = view; user2 last = click
    assert last == {"view": 1.0, "click": 1.0}


def test_attribution_u_shaped_and_credit_conservation(spark, touch_events):
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.attribution import multi_touch_credits

    u = {
        r["channel"]: r["credit"]
        for r in multi_touch_credits(touch_events, "u").collect()
    }
    # user1 (3 touches): first view 0.4, middle click 0.2, last view 0.4
    # user2 (1 touch): click 1.0
    assert u["view"] == 0.8
    assert u["click"] == round(0.2 + 1.0, 6)

    # credit conservation: every model's total == attributed conversions (2)
    for model in ("first", "last", "linear", "u"):
        total = (
            multi_touch_credits(touch_events, model)
            .agg(F.sum("credit").alias("t"))
            .head()["t"]
        )
        assert abs(total - 2.0) < 1e-9, model


def test_attribution_unknown_model_raises(spark, touch_events):
    import pytest as _pytest

    from _spark_multi_format_data_lake_pipeline_spark.operators.attribution import multi_touch_credits

    with _pytest.raises(ValueError, match="unknown attribution model"):
        multi_touch_credits(touch_events, "shapley")


# ---------------------------------------------------------------------------
# global (key-less) interval coalescing — the two-prefix recipe
# ---------------------------------------------------------------------------


def test_merge_intervals_global_matches_window_and_is_partition_invariant(spark):
    """merge_intervals(key_cols=[]) must equal the single-task window
    formulation (run here via a constant key) for ANY partition count —
    the partition-invariance property that proves the two driver-prefix
    handoffs (prefix-max of ends, prefix-sum of island flags) compose
    correctly across range-partition boundaries."""
    import random

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.intervals import (
        _merge_intervals_global,
        merge_intervals,
    )

    rng = random.Random(31)
    rows = []
    for _ in range(3000):
        s = rng.randint(0, 150000)
        rows.append((s, s + rng.randint(0, 40)))
    df = spark.createDataFrame(rows, "s long, e long")
    ref = sorted(
        (r["s"], r["e"], r["n_merged"])
        for r in merge_intervals(
            df.withColumn("k", F.lit(1)), ["k"], "s", "e"
        ).collect()
    )
    assert len(ref) > 100  # sparse enough that islands actually exist
    for parts in (1, 3, 32):
        got = sorted(
            (r["s"], r["e"], r["n_merged"])
            for r in _merge_intervals_global(
                df, "s", "e", num_partitions=parts
            ).collect()
        )
        assert got == ref, f"partition count {parts} changed the islands"
    # the public dispatch takes the same path
    via_api = sorted(
        (r["s"], r["e"], r["n_merged"])
        for r in merge_intervals(df, [], "s", "e").collect()
    )
    assert via_api == ref


def test_merge_intervals_global_touching_and_empty(spark):
    from _spark_multi_format_data_lake_pipeline_spark.operators.intervals import merge_intervals

    df = spark.createDataFrame(
        [(0, 10), (5, 12), (12, 15), (20, 25)], "s int, e int"
    )
    got = sorted(
        (r["s"], r["e"], r["n_merged"])
        for r in merge_intervals(df, [], "s", "e").collect()
    )
    assert got == [(0, 15, 3), (20, 25, 1)]
    assert merge_intervals(df.filter("s < 0"), [], "s", "e").count() == 0


def test_exact_substring_cuts_planted_spans(spark):
    """Planted duplicate spans come back as maximal merged cut lists:
    a 10-token span shared by two docs yields one span of len 10 in
    each; an internal repeat inside one doc is cut too; unique text
    yields nothing."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import exact_substring_cuts

    shared = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    uniq_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq_b = "one two three four five six seven eight nine ten"
    rep = "x1 x2 x3 x4 x5 x6 x7 x8"  # 8 toks, repeated within doc 3
    docs = spark.createDataFrame(
        [
            (1, f"{uniq_a} {shared}"),
            (2, f"{shared} {uniq_b}"),
            (3, f"{rep} filler1 filler2 {rep}"),
            (4, "totally unique words nobody else repeats anywhere here now"),
        ],
        "doc_id long, text string",
    )
    cuts = {
        (r.doc_id, r.span_start, r.span_len)
        for r in exact_substring_cuts(docs, n=8).collect()
    }
    # doc 1: shared span at tokens 10..19; doc 2: at 0..9
    # doc 3: both copies of the 8-token repeat (positions 0 and 10)
    assert cuts == {
        (1, 10, 10),
        (2, 0, 10),
        (3, 0, 8),
        (3, 10, 8),
    }


def test_exact_substring_cuts_merges_adjacent_islands(spark):
    """Two dup grams whose intervals overlap inside one doc merge into a
    single maximal span (the gaps-and-islands rule), and a doc shorter
    than n yields no grams at all."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import exact_substring_cuts

    # doc 30 contains two overlapping copies of material from docs 10/20:
    # tokens 0..8 = 9-token span from doc 10 (grams at pos 0,1) -> one
    # merged span of len 9
    span9 = "a1 a2 a3 a4 a5 a6 a7 a8 a9"
    docs = spark.createDataFrame(
        [
            (10, f"{span9} pad1 pad2 pad3"),
            (30, f"{span9} tail1 tail2 tail3 tail4"),
            (40, "short doc under eight"),
        ],
        "doc_id long, text string",
    )
    cuts = {
        (r.doc_id, r.span_start, r.span_len, r.n_dup_grams)
        for r in exact_substring_cuts(docs, n=8).collect()
    }
    assert cuts == {(10, 0, 9, 2), (30, 0, 9, 2)}


def test_remove_cut_spans_rewrites_and_handles_full_cut(spark):
    """Cuts drop exactly the covered tokens; a doc cut end-to-end comes
    back empty (not missing); docs without cuts pass through whole."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import remove_cut_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z"), (3, "p q")],
        "doc_id long, text string",
    )
    cuts = spark.createDataFrame(
        [(1, 1, 2), (1, 4, 1), (2, 0, 3)],
        "doc_id long, span_start long, span_len long",
    )
    out = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"], r["cleaned_text"])
        for r in remove_cut_spans(docs, cuts).collect()
    }
    assert out[1] == (6, 3, "a d f")
    assert out[2] == (3, 0, "")
    assert out[3] == (2, 2, "p q")


def test_exact_substring_short_span_recall(spark):
    """The measured <n-token recall floor of the n-gram-anchor form
    (r7 VERDICT item 6), exact on a planted corpus: duplicated spans of
    2/3/5/7 tokens contain no duplicated 8-gram and are invisible to
    the default (n=8, min_occ=2) pass, while 8/10/12-token spans are
    covered EXACTLY — so of the 94 planted duplicated tokens (2 copies
    x (2+3+5+7+8+10+12)), the default pass recalls 60/94 = 63.8%, and
    the (n=3, min_occ=2) short-span pass recovers every span >= 3,
    lifting the union to 90/94 (only the 2-token span stays below any
    trigram anchor). The production short-span threshold is HIGH
    frequency (q225: min_occ=5), verified here too: a fragment planted
    5 times is cut, pair-duplicated short spans are intentionally not.
    These numbers are recorded in SCALING.md."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import exact_substring_cuts

    # per-span unique vocab so no accidental cross-span gram collides;
    # filler unique per doc so no gram crosses a planted boundary
    spans = {L: " ".join(f"dup{L}_{k}" for k in range(L)) for L in (2, 3, 5, 7, 8, 10, 12)}
    hot = "hotfrag x hotfrag"  # 3 tokens, planted in 5 docs
    rows, truth = [], {}  # truth: (doc_id) -> set of planted-dup positions
    did = 0
    for L, s in spans.items():
        for copy in range(2):
            did += 1
            filler = " ".join(f"u{did}_{i}" for i in range(6))
            text = f"{filler} {s} {filler.replace('u', 'v')}"
            rows.append((did, text))
            truth[did] = set(range(6, 6 + L))
    for _ in range(5):
        did += 1
        rows.append((did, " ".join(f"w{did}_{i}" for i in range(4)) + " " + hot))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def coverage(cuts_df):
        cov = {}
        for r in cuts_df.collect():
            cov.setdefault(r.doc_id, set()).update(
                range(r.span_start, r.span_start + r.span_len)
            )
        return cov

    total = sum(len(v) for v in truth.values())
    assert total == 94

    cov8 = coverage(exact_substring_cuts(docs, n=8))
    hit8 = sum(len(truth[d] & cov8.get(d, set())) for d in truth)
    # long spans covered EXACTLY (no over-cut into unique filler)
    for d, c in cov8.items():
        assert c <= truth.get(d, set())
    assert hit8 == 2 * (8 + 10 + 12) == 60
    assert round(hit8 / total, 3) == 0.638

    cov3 = coverage(exact_substring_cuts(docs, n=3, min_occ=2))
    hit_union = sum(
        len(truth[d] & (cov8.get(d, set()) | cov3.get(d, set())))
        for d in truth
    )
    assert hit_union == total - 2 * 2 == 90  # only the 2-token span is sub-anchor

    # production short-span pass: HIGH threshold isolates the hot
    # fragment, leaves pair-duplicated spans alone
    hot_cuts = exact_substring_cuts(docs, n=3, min_occ=5).collect()
    assert {r.doc_id for r in hot_cuts} == set(range(15, 20))
    assert all((r.span_start, r.span_len) == (4, 3) for r in hot_cuts)
