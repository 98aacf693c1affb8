"""Property-based spot checks (SURVEY.md §5 item 4) with hypothesis:
merge idempotency, union-by-name alignment, dedup count conservation."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import exact_dedup_keepers

TEXTS = st.lists(
    st.text(alphabet="abcde ", min_size=0, max_size=12), min_size=1, max_size=25
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=TEXTS)
@_SETTINGS
def test_dedup_conserves_counts(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    out = exact_dedup_keepers(df, "doc_id", "text").collect()
    # copies sum to input size; keepers are distinct; keeper ids exist
    assert sum(r.n_copies for r in out) == len(texts)
    assert len({r.content_sha256 for r in out}) == len(out)
    assert len(out) == len(set(texts))
    ids = set(range(len(texts)))
    assert all(r.doc_id in ids for r in out)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 100), st.text(alphabet="xyz", max_size=4)),
        min_size=0,
        max_size=10,
    )
)
@_SETTINGS
def test_union_by_name_alignment(spark, rows):
    a = spark.createDataFrame(rows or [(0, "")], "num int, s string")
    # same data, columns swapped — unionByName must realign
    b = a.select("s", "num")
    u = a.unionByName(b)
    assert u.count() == 2 * a.count()
    assert sorted(map(tuple, u.collect())) == sorted(
        list(map(tuple, a.collect())) + [(r.num, r.s) for r in b.collect()]
    )


@given(
    base=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=8
    ),
    update=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=8
    ),
)
@_SETTINGS
def test_merge_upsert_idempotent_antijoin(spark, base, update):
    """merge(merge(t, u), u) == merge(t, u) for the anti-join upsert,
    expressed on DataFrames directly (no catalog round-trip per example)."""
    from pyspark.sql import functions as F

    # dedup keys within each batch (merge semantics assume unique source keys)
    def mk(rows):
        df = spark.createDataFrame(rows, "id int, v int")
        return df.groupBy("id").agg(F.max("v").alias("v"))

    t, u = mk(base), mk(update)
    once = t.join(u, "id", "left_anti").unionByName(u)
    twice = once.join(u, "id", "left_anti").unionByName(u)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),      # user_id
            st.integers(0, 7200),   # seconds offset
            st.booleans(),          # click vs purchase
        ),
        min_size=0,
        max_size=20,
    )
)
@_SETTINGS
def test_interval_join_matches_naive(spark, events):
    """stream_stream_join's batch formulation == a driver-side nested loop
    over the same interval condition, on arbitrary event sets."""
    from _spark_multi_format_data_lake_pipeline_spark.streaming.events import stream_stream_join

    rows = [
        (i, f"2024-01-01 00:00:00", u, "click" if is_c else "purchase", s)
        for i, (u, s, is_c) in enumerate(events)
    ]
    df = spark.createDataFrame(
        [(i, u, t, s) for i, _, u, t, s in rows],
        "event_id bigint, user_id bigint, event_type string, off bigint",
    ).selectExpr(
        "event_id",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,off) AS ts",
        "user_id",
        "event_type",
    )
    clicks = df.filter("event_type = 'click'")
    purchases = df.filter("event_type = 'purchase'")
    got = {
        (r.user_id, r.left_id, r.right_id)
        for r in stream_stream_join(clicks, purchases, within="30 minutes").collect()
    }

    evs = [(i, u, s, is_c) for i, (u, s, is_c) in enumerate(events)]
    want = {
        (cu, ci, pi)
        for ci, cu, cs, c_is_c in evs if c_is_c
        for pi, pu, ps, p_is_c in evs if not p_is_c
        if pu == cu and cs <= ps <= cs + 1800
    }
    assert got == want


@pytest.mark.slow
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=3,  # shingles are WORD 3-grams: need >= 3 words
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_incremental_filter_self_is_empty_and_idempotent(spark, texts):
    """Deduping a corpus against itself removes everything (every doc's
    signature agrees 100% with itself); filtering an already-filtered batch
    again removes nothing more. Docs need >= 3 words — shorter docs have
    no word-3-gram signature and are (correctly) always kept."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import minhash_incremental_filter

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id bigint, text string"
    )
    assert minhash_incremental_filter(df, df, "id", "text").count() == 0

    # disjoint alphabets -> nothing filtered; re-filter is a fixpoint
    other = spark.createDataFrame([(99, "zzz qqq www " * 3)], "id bigint, text string")
    once = minhash_incremental_filter(df, other, "id", "text")
    twice = minhash_incremental_filter(once, other, "id", "text")
    assert sorted(r.id for r in once.collect()) == sorted(r.id for r in twice.collect())


def test_weighted_sample_partitioning_invariant(spark):
    """A-ES selection is a pure function of the data: identical rows are
    chosen regardless of how the input is partitioned (the property
    df.sample does NOT have)."""
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.sampling import weighted_sample

    rows = [(i, f"g{i % 3}", float(1 + (i * 7) % 50)) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, grp string, w double")

    def pick(frame):
        return {
            (r["grp"], r["id"])
            for r in weighted_sample(frame, "id", "w", 4, by="grp").collect()
        }

    base = pick(df)
    assert pick(df.repartition(17)) == base
    assert pick(df.repartition(1)) == base
    assert pick(df.orderBy(F.desc("id"))) == base
    # 4 per group, 3 groups
    assert len(base) == 12
    # global form: k rows total, same invariance
    g = {r["id"] for r in weighted_sample(df, "id", "w", 10).collect()}
    assert len(g) == 10
    assert {r["id"] for r in weighted_sample(df.repartition(13), "id", "w", 10).collect()} == g


def test_weighted_sample_prefers_heavy_rows(spark):
    """Rows with 100x weight should dominate the sample."""
    from _spark_multi_format_data_lake_pipeline_spark.operators.sampling import weighted_sample

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    picked = {r["id"] for r in weighted_sample(df, "id", "w", 30).collect()}
    heavy = sum(1 for i in picked if i < 50)
    assert heavy >= 20, f"only {heavy}/30 heavy rows sampled"


@given(
    dims=st.tuples(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
    ),
    data=st.binary(min_size=0, max_size=600),
)
@_SETTINGS
def test_bmp_roundtrip_preserves_header_and_rows(dims, data):
    """Pure-Python property (no Spark): any (w, h) and any pixel bytes
    round-trip through the stdlib BMP codec — decoded dims match, the
    pixel array has exactly stride*h bytes, and each stored row starts
    with the corresponding input bytes (zero-padded, 4-byte aligned)."""
    from _spark_multi_format_data_lake_pipeline_spark.llm.multimodal import decode_bmp, encode_bmp

    w, h = dims
    img = decode_bmp(encode_bmp(w, h, data))
    assert (img.width, img.height) == (w, h)
    stride = (3 * w + 3) // 4 * 4
    assert len(img.pixels) == stride * h
    for r in range(h):
        want = data[r * 3 * w : (r + 1) * 3 * w]
        got = img.pixels[r * stride : r * stride + len(want)]
        assert got == want


@given(
    dims=st.tuples(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
    ),
    data=st.binary(min_size=0, max_size=600),
)
@_SETTINGS
def test_ppm_roundtrip(dims, data):
    from _spark_multi_format_data_lake_pipeline_spark.llm.multimodal import decode_ppm, encode_ppm

    w, h = dims
    img = decode_ppm(encode_ppm(w, h, data))
    assert (img.width, img.height) == (w, h)
    assert len(img.pixels) == 3 * w * h
    assert img.pixels[: min(len(data), 3 * w * h)] == data[: 3 * w * h]


@given(texts=TEXTS, ids=st.permutations(list(range(25))))
@_SETTINGS
def test_leakage_safe_split_is_content_deterministic(spark, texts, ids):
    """Split assignment depends only on content groups, never on row order
    or which duplicate carries which id beyond the group minimum: shuffling
    ids within the corpus re-deals canonicals but every text group still
    lands wholly inside one split."""
    from _spark_multi_format_data_lake_pipeline_spark.operators.sampling import leakage_safe_split

    rows = [(ids[i], t) for i, t in enumerate(texts[:25])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = leakage_safe_split(df, "doc_id", "text").collect()
    by_id = {r.doc_id: (r.canonical_id, r.split) for r in out}
    text_of = {ids[i]: t for i, t in enumerate(texts[:25])}
    splits_per_text: dict = {}
    for doc_id, (canon, split) in by_id.items():
        splits_per_text.setdefault(text_of[doc_id], set()).add(split)
        assert text_of[canon] == text_of[doc_id]  # canonical shares the text
    assert all(len(s) == 1 for s in splits_per_text.values())


@given(
    values=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=60),
    cut=st.integers(min_value=0, max_value=59),
)
@_SETTINGS
def test_hll_register_merge_is_grouping_invariant(spark, values, cut):
    """Registers merged from ANY two-way split of the input equal the
    one-pass registers — the associativity/commutativity that makes the
    sketch safely incremental (q136 + stream_hll_register_sink)."""
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.functions.sketches import (
        hll_merge_registers,
        hll_register_partials,
    )

    cut = min(cut, len(values) - 1)
    df = spark.createDataFrame(
        [(v, 0 if i <= cut else 1) for i, v in enumerate(values)],
        "v bigint, part int",
    )
    split_regs = sorted(
        map(
            tuple,
            hll_merge_registers(
                hll_register_partials(df, "v", "part", p=4)
            ).collect(),
        )
    )
    whole_regs = sorted(
        map(
            tuple,
            hll_merge_registers(
                hll_register_partials(df, "v", F.lit(0), p=4)
            ).collect(),
        )
    )
    assert split_regs == whole_regs


@given(
    texts=st.lists(
        # tiny alphabet + short docs → dense token collisions, many ties
        st.text(alphabet="ab c", min_size=0, max_size=20),
        min_size=2,
        max_size=18,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.65, 0.8, 0.9]),
)
@_SETTINGS
def test_prefix_filter_jaccard_is_lossless(spark, texts, threshold):
    """Prefix pruning must NEVER drop a qualifying pair at any threshold —
    the exactness contract that separates it from LSH (q166)."""
    import itertools
    import re

    from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import prefix_filter_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    sets = {
        i: set(re.split(r"\s+", t.strip().lower()))
        for i, t in enumerate(texts)
        if t.strip()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if len(sets[a] | sets[b])
        and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold
    }
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    ),
    parts=st.integers(1, 9),
)
@_SETTINGS
def test_skyline_equals_dominance_definition(spark, pts, parts):
    """pareto_frontier_2d == the O(n²) dominance definition for ANY point
    multiset and ANY partition count (partition-invariance is the load-
    bearing claim: the prefix-max handoff must not depend on where range
    boundaries land)."""
    from _spark_multi_format_data_lake_pipeline_spark.operators.skyline import pareto_frontier_2d

    df = spark.createDataFrame(pts, "cost int, gain int")
    got = sorted(
        (r["cost"], r["gain"])
        for r in pareto_frontier_2d(df, "cost", "gain", num_partitions=parts).collect()
    )
    brute = sorted(
        a
        for a in pts
        if not any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in pts
        )
    )
    assert got == brute


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 50),
            st.integers(1, 9),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    ),
    parts=st.integers(1, 7),
)
@_SETTINGS
def test_grouped_running_sum_equals_window(spark, rows, parts):
    """grouped_running_sum == SUM OVER (PARTITION BY g ORDER BY o) for any
    unique-(group, order) multiset and any partition count — integer
    weights, so sums are exact and equality is bitwise."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.prefix import grouped_running_sum

    df = spark.createDataFrame(
        [(g, o, float(v)) for g, o, v in rows], "g string, o int, v double"
    )
    w = Window.partitionBy("g").orderBy("o")
    expected = {
        (r["g"], r["o"]): r["cw"]
        for r in df.select("g", "o", F.sum("v").over(w).alias("cw")).collect()
    }
    got = {
        (r["g"], r["o"]): r["cw"]
        for r in grouped_running_sum(
            df, ["g"], "o", "v", out_col="cw", num_partitions=parts
        ).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 20)),
            st.one_of(st.none(), st.floats(-5, 25, allow_nan=False)),
        ),
        min_size=0,
        max_size=30,
    )
)
@_SETTINGS
def test_expectations_match_pandas_reference(spark, rows):
    """expect()'s counting semantics == a plain-Python reference for any
    (nullable id, nullable value) table: null handling, range bounds,
    uniqueness surplus."""
    from _spark_multi_format_data_lake_pipeline_spark.operators.expectations import (
        expect,
        in_range,
        not_null,
        unique,
    )

    # genuinely empty frame for rows=[] — the SUM-over-zero-rows
    # coalesce branch must be exercised, not substituted away
    df = spark.createDataFrame(rows, "id int, v double")
    data = rows
    got = {
        r["rule"]: (r["n_violations"], r["n_checked"])
        for r in expect(
            df,
            [
                not_null("nn", "id"),
                in_range("rng", "v", 0.0, 10.0),
                unique("uq", "id"),
            ],
        ).collect()
    }
    n = len(data)
    nn = sum(1 for i, _ in data if i is None)
    rng = sum(1 for _, v in data if v is not None and (v < 0.0 or v > 10.0))
    from collections import Counter

    uq = sum(c - 1 for c in Counter(i for i, _ in data).values())
    assert got == {"nn": (nn, n), "rng": (rng, n), "uq": (uq, n)}


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 40),
            st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@_SETTINGS
def test_grouped_running_sum_float_weights_close_to_window(spark, rows):
    """For INEXACT doubles the operator's partial-sum association may
    differ from the window's strict fold in low-order bits (documented);
    assert closeness, not bit-equality — the bitwise guarantee is scoped
    to exactly-representable sums and pinned by the integer-weight
    property above."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.prefix import grouped_running_sum

    df = spark.createDataFrame(rows, "g string, o int, v double")
    w = Window.partitionBy("g").orderBy("o")
    expected = {
        (r["g"], r["o"]): r["cw"]
        for r in df.select("g", "o", F.sum("v").over(w).alias("cw")).collect()
    }
    got = {
        (r["g"], r["o"]): r["cw"]
        for r in grouped_running_sum(df, ["g"], "o", "v", out_col="cw", num_partitions=5).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert math.isclose(got[k], expected[k], rel_tol=1e-9, abs_tol=1e-9), k


@pytest.mark.slow
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 3)),
            st.tuples(st.just("upsert"), st.integers(0, 3)),
            st.tuples(st.just("delete"), st.integers(0, 9)),
            st.tuples(st.just("update"), st.integers(0, 9)),
            st.tuples(st.just("compact"), st.just(0)),
        ),
        min_size=2,
        max_size=5,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lakehouse_verbs_model_row_ids_and_feed(spark, ops):
    """Model-based property over random verb sequences on a table with
    BOTH change-data-feed and row-tracking enabled: (1) the snapshot
    always equals a dict model; (2) row ids stay unique and a
    never-deleted key keeps ONE id for its whole life; (3) replaying
    read_change_feed over the enablement snapshot reproduces the final
    state (compaction emits nothing, appends serve as inserts)."""
    import shutil
    import tempfile

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        enable_change_data_feed,
        enable_row_tracking,
        read_change_feed,
        read_version,
        read_version_row_ids,
        versioned_count,
        versioned_delete,
        versioned_update,
        versioned_upsert,
        versioned_write,
        versions,
    )

    base = tempfile.mkdtemp(prefix="prop_lake_")
    t = base + "/t"
    try:
        mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
        model = {i: f"v{i}" for i in range(6)}
        versioned_write(mk(sorted(model.items())).coalesce(1), t)  # v1
        enable_change_data_feed(t)
        enable_row_tracking(t)
        enable_v = versions(t)[-1]
        start_model = dict(model)
        key_ids: dict[int, int] = {}  # key -> id while continuously live
        seq = 100
        for op, arg in ops:
            if op == "append":
                rows = {seq + i: f"a{seq + i}" for i in range(arg + 1)}
                versioned_write(mk(sorted(rows.items())).coalesce(1), t)
                model.update(rows)
                seq += 10
            elif op == "upsert":
                rows = {arg: f"u{seq}", seq: f"i{seq}"}
                versioned_upsert(mk(sorted(rows.items())), t, ["id"])
                model.update(rows)
                seq += 10
            elif op == "delete":
                versioned_delete(spark, t, f"id = {arg}")
                model.pop(arg, None)
            elif op == "update":
                versioned_update(spark, t, {"v": "'X'"}, f"id = {arg}")
                if arg in model:
                    model[arg] = "X"
            else:
                compact(spark, t, target_files=1)
            got = {
                r["id"]: r["v"] for r in read_version(spark, t).collect()
            }
            assert got == model, f"after {op}({arg}): snapshot != model"
            ids = {
                r["id"]: r["_row_id"]
                for r in read_version_row_ids(spark, t).collect()
            }
            assert len(set(ids.values())) == len(ids), "ids must be unique"
            for k, rid in ids.items():
                if k in key_ids:
                    assert rid == key_ids[k], (
                        f"key {k} changed id {key_ids[k]} -> {rid} "
                        f"after {op}({arg})"
                    )
            key_ids = {k: ids[k] for k in ids}  # deleted keys drop out
        assert versioned_count(spark, t).first()["count"] == len(model)
        # feed replay law: enablement snapshot + feed == final state
        head = versions(t)[-1]
        if head > enable_v:
            replay = dict(start_model)
            for r in sorted(
                read_change_feed(spark, t, enable_v, head).collect(),
                key=lambda r: r["_commit_version"],
            ):
                if r["_change_type"] == "delete":
                    replay.pop(r["id"], None)
                elif r["_change_type"] in ("insert", "update_postimage"):
                    replay[r["id"]] = r["v"]
            assert replay == model, "feed replay must reproduce the head"
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.slow
@given(
    winner=st.sampled_from(
        [
            "append_in",
            "append_out",
            "upsert_low",
            "upsert_high",
            "delete_low",
            "delete_high",
            "delete_dv_low",
            "delete_dv_high",
        ]
    ),
    loser=st.sampled_from(
        [
            "upsert_low",
            "upsert_high",
            "delete_low",
            "delete_high",
            "delete_dv_low",
            "delete_dv_high",
        ]
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_commit_race_rebase_matches_serial_order(spark, winner, loser):
    """Write-serializable optimistic commits, property-tested over the
    verb matrix: whatever the interleaving, (a) an APPEND winner always
    lets the loser rebase (serial order loser→winner), (b) a rewrite
    winner confined to a PROVABLY DISJOINT file lets the loser rebase
    (winner→loser), (c) overlapping rewrites refuse deterministically
    and a re-run against the new head converges — and in every case the
    final table equals the model's serial-order state.  The ``delete_dv_*``
    verbs are merge-on-read deletes (deletion vectors) with the same
    model as their copy-on-write twins."""
    import tempfile

    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        ConcurrentCommitError,
        read_version,
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )

    t = tempfile.mkdtemp(prefix="race_prop_") + "/t"
    low = [(i, f"v{i}") for i in range(10)]
    high = [(i, f"v{i}") for i in range(100, 110)]
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk(low).coalesce(1), t)  # v1: the low file
    versioned_write(mk(high).coalesce(1), t)  # v2: the high file

    def run(verb, tag):
        if verb == "append_in":  # new ids, but inside the low range
            versioned_write(mk([(50, f"a{tag}"), (51, f"a{tag}")]), t)
        elif verb == "append_out":
            versioned_write(mk([(200, f"a{tag}"), (201, f"a{tag}")]), t)
        elif verb == "upsert_low":
            versioned_upsert(mk([(1, f"u{tag}"), (3, f"u{tag}")]), t, ["id"])
        elif verb == "upsert_high":
            versioned_upsert(
                mk([(101, f"u{tag}"), (103, f"u{tag}")]), t, ["id"]
            )
        elif verb.startswith("delete"):
            strategy = "dv" if "_dv_" in verb else "cow"
            if verb.endswith("low"):
                versioned_delete(
                    spark, t, "id <= 2", prune_col="id", lo=0, hi=2,
                    strategy=strategy,
                )
            else:
                versioned_delete(
                    spark, t, "id >= 108", prune_col="id", lo=108, hi=109,
                    strategy=strategy,
                )

    def model(state, verb, tag):
        if verb == "append_in":
            state[50] = state[51] = f"a{tag}"
        elif verb == "append_out":
            state[200] = state[201] = f"a{tag}"
        elif verb == "upsert_low":
            state[1] = state[3] = f"u{tag}"
        elif verb == "upsert_high":
            state[101] = state[103] = f"u{tag}"
        elif verb.startswith("delete"):
            for i in (0, 1, 2) if verb.endswith("low") else (108, 109):
                state.pop(i, None)
        return state

    real_cs = V._commit_state
    fired = {"done": False}

    def racy_cs(path, state, prev):
        if not fired["done"] and state["version"] == 3:
            fired["done"] = True
            run(winner, "W")  # the winner lands v3 first
        return real_cs(path, state, prev)

    side = lambda verb: verb.split("_")[-1]
    overlapping = (
        winner.startswith(("upsert", "delete"))
        and side(winner) == side(loser)
    )
    V._commit_state = racy_cs
    try:
        if overlapping:
            try:
                run(loser, "L")
                raise AssertionError(
                    f"{loser} over {winner} shares a read-set file and "
                    "must refuse the rebase"
                )
            except ConcurrentCommitError:
                pass
            run(loser, "L")  # re-run against the new head converges
        else:
            run(loser, "L")  # rebases: both commits land
    finally:
        V._commit_state = real_cs
    assert fired["done"]
    expected = dict(low + high)
    # serial order: append winners land AFTER the loser (blind write);
    # rewrite winners land BEFORE it.  With this verb set the model
    # states coincide for the commuting pairs, so one order suffices
    # per branch.
    if winner.startswith("append"):
        expected = model(model(expected, loser, "L"), winner, "W")
    else:
        expected = model(model(expected, winner, "W"), loser, "L")
    got = {r["id"]: r["v"] for r in read_version(spark, t).collect()}
    assert got == expected, (
        f"winner={winner} loser={loser}: table diverged from the "
        f"serial-order model"
    )
