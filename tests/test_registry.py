"""Registry-contract pins — no Spark session needed.

The driver's hard correctness gate evaluates the FIRST 50 entries of
__spark_entry__.queries() in declaration order; docs/QUERIES.md
documents that head as deliberately frozen (best-verified queries
stay in the gated window; new work appends at the tail). These tests
make an accidental reorder/insertion a test failure instead of a
silent gate change, and keep queries()/oracle_sql() key parity."""

from __future__ import annotations

import __spark_entry__ as entrymod

FROZEN_HEAD_50 = [
    "flagship_event_stats", "validation_split", "row_hash_documents",
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "top3_orders_per_customer", "segment_order_coverage",
    "rollup_returns", "priority_with_returns", "token_stats_by_lang",
    "doc_quality", "lang_pred_counts", "fingerprint_docs",
    "exact_dedup_docs", "cosine_topk", "events_hourly",
    "minhash_near_dup", "window_order_analytics",
    "rolling_7day_revenue", "sessionization", "asof_purchase_click",
    "distinct_agg_orders", "pivot_event_type_by_day",
    "unpivot_lineitem_metrics", "setops_nations",
    "median_price_by_brand", "range_join_price_bands", "top_bigrams",
    "stopword_profile", "vector_norms_by_label", "simhash_docs",
    "ngram_jaccard_pairs", "embedding_near_dup", "lsh_ann_topk",
    "ivf_ann_topk", "cube_order_stats", "grouping_sets_orders",
    "rolling_fingerprint", "quartiles_by_segment",
    "monthly_order_seasonality", "json_props_stats",
    "q17_small_qty_revenue", "q4_late_orders", "q6_revenue_forecast",
    "q7_volume_shipping", "q10_returned_items", "q14_promo_revenue",
    "q15_top_supplier", "q18_large_orders",
]


def test_gated_head_order_is_frozen():
    assert list(entrymod.queries().keys())[:50] == FROZEN_HEAD_50


def test_every_query_has_an_oracle_and_vice_versa():
    q = set(entrymod.queries().keys())
    o = set(entrymod.oracle_sql().keys())
    assert q == o, (sorted(q - o), sorted(o - q))


def test_every_query_is_callable_and_documented():
    for name, fn in entrymod.queries().items():
        assert callable(fn), name
        assert fn.__doc__ and len(fn.__doc__) > 40, (
            f"{name} lacks a meaningful docstring"
        )


def test_no_oracle_carries_the_rexs_whitespace_shorthand():
    """Java regex \\s matches vertical tab; RE2's does not (r8,
    tests/test_java_ws.py). _java_ws expands the shorthand at
    the oracle_sql() exit — this pin fails if a future oracle path
    bypasses it and reintroduces engine-interpreted \\s."""
    for name, sql in entrymod.oracle_sql().items():
        assert r"\s" not in sql, (
            f"{name}: RE2 \\s shorthand reached DuckDB — route the "
            "oracle through _java_ws or spell the Java class out"
        )


NULLABLE_ORDER_KEY_PINS = {
    # oracle name -> required explicit-NULLS fragment in its top-level
    # ORDER BY. Spark ASC defaults to NULLS FIRST while DuckDB defaults
    # to NULLS LAST in both directions, so every nullable sort key in a
    # declared-ORDER-BY oracle must pin placement explicitly (r12's one
    # hostile-fixture C3 `tie`: stratified_split's NULL-lang group).
    # Nullability evidence: testdata_hostile_nonan NULL census (r13).
    # r14 (ADVICE): tie-breaker keys of these oracles are pinned too —
    # the pins match the Spark side's .asc()/.desc() defaults (ASC
    # NULLS FIRST / DESC NULLS LAST), so a future fixture with NULLs
    # at tie positions cannot re-open the placement channel.
    "q4_late_orders": "o_orderpriority NULLS FIRST",
    "q18_large_orders":
        "totalprice_cents DESC NULLS LAST, o_orderkey ASC NULLS FIRST",
    "q22_idle_rich_customers": "c_mktsegment NULLS FIRST",
    "centroid_cohesion": "label NULLS FIRST",
    "q2_min_unit_price_supplier":
        "acctbal DESC NULLS LAST, s_name NULLS FIRST, p_partkey NULLS FIRST",
    "hash_sample_by_lang": "lang NULLS FIRST",
    "stratified_split": "ORDER BY 1 NULLS FIRST, 2 NULLS FIRST",
    "skew_profile_events": "n_rows DESC NULLS LAST, key ASC NULLS FIRST",
}


def _top_level_order_by(sql: str) -> str | None:
    """The whitespace-normalized top-level ORDER BY clause of `sql`
    (up to a trailing LIMIT), or None. Same quote-aware paren-depth
    scan as tools/indep_check.has_top_level_order_by — re-implemented
    here so the registry pins share no code with the gate comparators
    (the independence rule tests/test_indep_check.py pins)."""
    flat = " ".join(sql.split())
    up = flat.upper()
    depth = 0
    start = None
    i, n = 0, len(flat)
    while i < n:
        c = flat[i]
        if c == "'":
            i += 1
            while i < n and flat[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and up.startswith("ORDER BY", i):
            before_ok = i == 0 or not (
                flat[i - 1].isalnum() or flat[i - 1] == "_"
            )
            if before_ok:
                start = i  # keep scanning: want the LAST top-level one
                i += 7
        i += 1
    if start is None:
        return None
    clause = flat[start:]
    lim = clause.upper().rfind(" LIMIT ")
    return clause[:lim] if lim != -1 else clause


def test_nullable_order_keys_pin_null_placement():
    """Every declared-ORDER-BY oracle whose sort key can be NULL (per
    the hostile-fixture NULL census) spells NULLS FIRST/LAST out, so
    the C3 ordered compare (tools/indep_check.c3_verdict) stays
    exact on NULL-bearing fixtures instead of tying on the engines'
    opposite placement defaults.

    Two layers (r14, both ADVICE hardenings):
    1. the expected fragment must appear in the oracle's TOP-LEVEL
       ORDER BY clause, whitespace-normalized — a subquery/window
       ORDER BY cannot satisfy the pin and a benign re-wrap cannot
       break it;
    2. EVERY sort key of that top-level clause (tie-breakers included)
       must carry an explicit NULLS keyword.
    Oracles outside this pin set are exempt by census: every other
    declared-ORDER-BY oracle sorts only on keys the generators emit
    non-null at all fixtures including testdata_hostile_nonan (r13
    census); extend the pin set if a census ever finds a new nullable
    sort key."""
    oracles = entrymod.oracle_sql()
    for name, fragment in NULLABLE_ORDER_KEY_PINS.items():
        clause = _top_level_order_by(oracles[name])
        assert clause is not None, f"{name}: top-level ORDER BY vanished"
        assert " ".join(fragment.split()) in clause, (
            f"{name}: nullable sort key lost its explicit NULLS "
            f"placement (expected '{fragment}' in top-level '{clause}')"
        )
        # layer 2: no unpinned key anywhere in the clause — split the
        # key list on top-level commas, require NULLS on each item
        keys, depth, cur = [], 0, []
        for ch in clause[len("ORDER BY "):]:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                keys.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        keys.append("".join(cur).strip())
        for key in keys:
            assert "NULLS FIRST" in key.upper() or "NULLS LAST" in key.upper(), (
                f"{name}: sort key '{key}' has no explicit NULLS placement"
            )
