"""Property-based checks (hypothesis): randomized inputs against
reference implementations — the operators' semantic contracts, not
just the fixture's happy path. Example counts are kept small because
every example is a full Spark job."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import asof, chunking, maintenance

SETTINGS = dict(max_examples=12, deadline=None)


@settings(**SETTINGS)
@given(
    n_tokens=st.integers(min_value=1, max_value=300),
    chunk=st.integers(min_value=2, max_value=80),
    data=st.data(),
)
def test_chunking_covers_every_token_with_exact_overlap(
    spark, n_tokens, chunk, data
):
    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    text = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunking.chunk_documents(df, "doc_id", "text", chunk, overlap).collect(),
        key=lambda r: r.chunk_idx,
    )
    stride = chunk - overlap
    # chunk starts advance by exactly the stride
    assert [r.chunk_start for r in rows] == [i * stride for i in range(len(rows))]
    # every token covered: last chunk reaches the end
    last = rows[-1]
    assert last.chunk_start + last.chunk_n_tokens == n_tokens
    # no chunk exceeds the window; only the last may be short
    assert all(r.chunk_n_tokens == chunk for r in rows[:-1])
    assert rows[-1].chunk_n_tokens <= chunk
    # each non-final chunk is followed by one overlapping `overlap` tokens
    for a, b in zip(rows, rows[1:]):
        assert a.chunk_start + chunk - b.chunk_start == overlap


@settings(**SETTINGS)
@given(
    left_ts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=12
    ),
    right_ts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=0, max_size=12
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts):
    left = spark.createDataFrame(
        [(1, int(t), i) for i, t in enumerate(left_ts)], "k long, ts long, lid long"
    )
    right = spark.createDataFrame(
        [(1, int(t), float(i)) for i, t in enumerate(sorted(set(right_ts)))],
        "k long, rts long, val double",
    )
    got = {
        r.lid: r.val
        for r in asof.asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    lp = pd.DataFrame({"k": 1, "ts": left_ts, "lid": range(len(left_ts))}).sort_values(
        "ts", kind="stable"
    )
    rts_u = sorted(set(right_ts))
    rp = pd.DataFrame(
        {"k": 1, "rts": rts_u, "val": [float(i) for i in range(len(rts_u))]}
    )
    if len(rp):
        want_df = pd.merge_asof(
            lp, rp, left_on="ts", right_on="rts", by="k", direction="backward"
        )
        want = {
            int(r.lid): (None if pd.isna(r.val) else r.val)
            for r in want_df.itertuples()
        }
    else:
        want = {int(i): None for i in lp.lid}
    assert got == want


@settings(**SETTINGS)
@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=5),
        max_size=8,
    ),
    upd=st.dictionaries(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=5),
        max_size=8,
    ),
)
def test_latest_wins_merge_semantics_random(spark, base, upd):
    if not base and not upd:
        return
    bdf = spark.createDataFrame(
        [(k, f"b{k}", v) for k, v in base.items()] or [(None, None, None)],
        "k long, payload string, ver long",
    ).filter("k is not null")
    udf_ = spark.createDataFrame(
        [(k, f"u{k}", v) for k, v in upd.items()] or [(None, None, None)],
        "k long, payload string, ver long",
    ).filter("k is not null")
    got = {
        r.k: r.payload
        for r in maintenance.latest_wins_merge(bdf, udf_, ["k"], "ver").collect()
    }
    want = {}
    for k, v in base.items():
        want[k] = f"b{k}"
    for k, v in upd.items():
        # update wins on ties (and on strictly higher version)
        if k not in base or v >= base[k]:
            want[k] = f"u{k}"
    assert got == want


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=6),
        min_size=1,
        max_size=10,
        unique=True,
    ),
)
def test_fuzzy_pairs_match_bruteforce(spark, words):
    """Blocked fuzzy join == brute force on random short strings over a
    tiny alphabet (dense edit-distance neighborhoods stress the
    length-band completeness argument hardest)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import fuzzy

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        (r.val_a, r.val_b, r.dist)
        for r in fuzzy.fuzzy_self_pairs(df, "w").collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (min(a, b), max(a, b), lev(a, b))
        for i, a in enumerate(words)
        for b in words[i + 1:]
        if lev(a, b) <= 3
    }
    assert got == want


@settings(**SETTINGS)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_zvalue_interleave_roundtrip(spark, xs):
    """The Morton value must decode back to its inputs exactly —
    interleaving is a bijection on (x, y)."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import layout

    df = spark.createDataFrame(xs, "x long, y long")
    rows = df.select(
        "x", "y", layout.zvalue([F.col("x"), F.col("y")]).alias("z")
    ).collect()
    for r in rows:
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(layout.BITS))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(layout.BITS))
        assert (x, y) == (r.x, r.y)


@settings(**SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_skyline_2d_matches_quadratic_brute_force(spark, pts):
    """The O(n log n) RANGE-frame skyline must equal the quadratic
    dominance definition exactly — including duplicate maxima, which
    do not dominate each other and must all survive."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import topk

    df = spark.createDataFrame(
        [(1, i, int(x), int(y)) for i, (x, y) in enumerate(pts)],
        "g long, rid long, x long, y long",
    )
    got = sorted(
        (r.rid for r in topk.skyline_2d(df, ["g"], "x", "y").collect())
    )
    want = sorted(
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            px >= x and py >= y and (px > x or py > y) for px, py in pts
        )
    )
    assert got == want


@settings(**SETTINGS)
@given(
    ys=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=2, max_size=14
    )
)
def test_theil_sen_matches_reference_median_of_slopes(spark, ys):
    """Rank-selected Theil-Sen must equal the plain median of all
    pairwise slopes, with the even case averaged as (lo + hi) / 2."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import timeseries

    df = spark.createDataFrame(
        [(1, i, int(y)) for i, y in enumerate(ys)], "g long, x long, y long"
    )
    row = timeseries.theil_sen_slope(df, "g", "x", "y").collect()[0]
    slopes = sorted(
        (ys[j] - ys[i]) / (j - i)
        for i in range(len(ys))
        for j in range(i + 1, len(ys))
    )
    n = len(slopes)
    want = (
        slopes[n // 2]
        if n % 2
        else (slopes[n // 2 - 1] + slopes[n // 2]) / 2.0
    )
    assert row.n_pairs == n
    assert row.median_slope == want


@settings(**SETTINGS)
@given(
    ys=st.lists(
        st.integers(min_value=-10000, max_value=10000),
        min_size=1,
        max_size=14,
    )
)
def test_holt_final_matches_reference_fold(spark, ys):
    """The JVM struct-fold Holt recurrence must equal the plain Python
    left fold bit-for-bit (same seed l=x1, b=0; same operand order)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import aggregation

    df = spark.createDataFrame(
        [(1, i, int(y)) for i, y in enumerate(ys)], "g long, t long, v long"
    )
    row = aggregation.holt_final(
        df, "g", ["t"], "v"
    ).collect()[0]
    l, b = float(ys[0]), 0.0
    for x in ys[1:]:
        l_new = 0.3 * float(x) + 0.7 * (l + b)
        b = 0.1 * (l_new - l) + 0.9 * b
        l = l_new
    assert row.n_points == len(ys)
    assert row.level == l
    assert row.trend == b


@settings(**SETTINGS)
@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10), st.booleans()
        ),
        min_size=1,
        max_size=25,
    )
)
def test_km_curve_matches_reference_estimator(spark, obs):
    """km_curve must equal a plain Python Kaplan-Meier reference:
    same risk sets, same event rows kept, same micro-nat cumsum."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import timeseries

    df = spark.createDataFrame(
        [(int(t), bool(e)) for t, e in obs], "duration long, ev boolean"
    )
    got = {
        r.t: (r.n_events, r.n_risk, r.log_survival_micronat)
        for r in timeseries.km_curve(df, "duration", "ev").collect()
    }
    want = {}
    cum = 0
    removed = 0
    import math

    for t in sorted({t for t, _ in obs}):
        d = sum(1 for tt, e in obs if tt == t and e)
        c = sum(1 for tt, e in obs if tt == t and not e)
        n = len(obs) - removed
        removed += d + c
        if d > 0 and n > d:
            cum += int(
                # Python round = banker's; Spark/DuckDB round = half-up.
                # Use the same half-up quantization as the operator.
                math.floor(math.log((n - d) / n) * 1_000_000 + 0.5)
            )
            want[t] = (d, n, cum)
    assert got == want
