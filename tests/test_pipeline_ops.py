from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import decontam, maintenance, pii


# ---------------------------------------------------------------- PII


def test_pii_scrub_redacts_all_classes(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="mail me at jane.doe@corp.io or call 555-123-4567"),
            Row(id=2, t="server at 192.168.0.1 answered"),
            Row(id=3, t="nothing sensitive here"),
        ]
    )
    out = df.select("id", pii.scrub(F.col("t")).alias("s")).collect()
    by_id = {r.id: r.s for r in out}
    assert by_id[1] == "mail me at <EMAIL> or call <PHONE>"
    assert by_id[2] == "server at <IP> answered"
    assert by_id[3] == "nothing sensitive here"


def test_pii_counts_per_class(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="a@b.io c@d.net 555-000-1111 10.0.0.1 10.0.0.2 10.0.0.3")]
    )
    counts = pii.pii_counts(F.col("t"))
    row = df.select(
        counts["email"].alias("e"), counts["phone"].alias("p"), counts["ip"].alias("i")
    ).first()
    assert (row.e, row.p, row.i) == (2, 1, 3)


def test_pii_email_scrub_runs_before_ip(spark):
    # a dotted-quad inside an email's domain must be scrubbed as part
    # of the EMAIL, not chopped up by the IP pass first
    df = spark.createDataFrame([Row(t="x a@1.2.3.4.com y")])
    s = df.select(pii.scrub(F.col("t")).alias("s")).first().s
    assert s == "x <EMAIL> y"


# --------------------------------------------------------- decontam


def test_contamination_report_finds_planted_leak(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta"),  # leaks 2 trigrams
            Row(doc_id=2, text="foo bar baz qux"),  # clean
            Row(doc_id=3, text="alpha beta gamma zeta"),  # leaks 1 trigram
        ]
    )
    eval_set = spark.createDataFrame(
        [
            Row(doc_id=100, text="alpha beta gamma delta epsilon"),
            Row(doc_id=101, text="totally disjoint eval text"),
        ]
    )
    out = {
        r.eval_id: (r.n_contaminated_train_docs, r.n_leaked_ngrams)
        for r in decontam.contamination_report(
            train, eval_set, "doc_id", "text", n=3
        ).collect()
    }
    # doc 100 shares "alpha beta gamma" (docs 1 and 3) and
    # "beta gamma delta" (doc 1 only) -> 2 docs, 2 distinct ngrams
    assert out[100] == (2, 2)
    # doc 101 must still be reported, with zeros
    assert out[101] == (0, 0)


def test_contamination_broadcasts_eval_side(spark):
    train = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    eval_set = spark.createDataFrame([Row(doc_id=2, text="b c d e")])
    plan = (
        decontam.contamination_report(train, eval_set, "doc_id", "text", n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_doc_ngrams_edge_rows(spark):
    """One row per distinct n-gram per document. A document shorter than
    n is one n-gram, its whole token list, so blank text gives the empty
    n-gram "" as in the decontamination oracle. NULL text gives "" too,
    where the oracle gives no n-gram."""
    docs = spark.createDataFrame(
        [(1, None), (2, "   "), (3, ""), (4, "a b"), (5, "a b c d"), (6, "\ta b"), (7, "x y x y")],
        "doc_id bigint, text string",
    )
    got = sorted(tuple(r) for r in decontam.doc_ngrams(docs, "doc_id", "text", 3).collect())
    assert got == [
        (1, ""), (2, ""), (3, ""), (4, "a b"), (5, "a b c"), (5, "b c d"),
        (6, " a b"), (7, "x y x"), (7, "y x y"),
    ]


# ------------------------------------------------------------ merge


def test_latest_wins_merge_applies_updates_once(spark):
    base = spark.createDataFrame(
        [Row(k=1, v="old1", ver=0), Row(k=2, v="old2", ver=0), Row(k=3, v="old3", ver=0)]
    )
    updates = spark.createDataFrame([Row(k=2, v="new2", ver=1)])
    merged = maintenance.latest_wins_merge(base, updates, ["k"], "ver")
    got = {r.k: (r.v, r.ver) for r in merged.collect()}
    assert got == {1: ("old1", 0), 2: ("new2", 1), 3: ("old3", 0)}


def test_latest_wins_merge_is_idempotent_on_replay(spark):
    """Re-merging the same updates batch must be a no-op — the fix for
    the reference's at-least-once double-append (code/utils.py:195-207)."""
    base = spark.createDataFrame([Row(k=1, v="a", ver=0), Row(k=2, v="b", ver=0)])
    updates = spark.createDataFrame([Row(k=1, v="a2", ver=1)])
    once = maintenance.latest_wins_merge(base, updates, ["k"], "ver")
    twice = maintenance.latest_wins_merge(once, updates, ["k"], "ver")
    assert sorted(twice.collect()) == sorted(once.collect())


def test_latest_wins_merge_update_beats_base_on_version_tie(spark):
    base = spark.createDataFrame([Row(k=1, v="base", ver=5)])
    updates = spark.createDataFrame([Row(k=1, v="update", ver=5)])
    merged = maintenance.latest_wins_merge(base, updates, ["k"], "ver")
    assert merged.first().v == "update"


def test_latest_wins_merge_with_deletes_semantics(spark):
    """Tombstone kills the key only while it is the newest version:
    update->delete removes, delete->re-insert resurrects, a STALE
    tombstone (older than the live row) must not delete, and replaying
    the same updates is a no-op (idempotent)."""
    base = spark.createDataFrame(
        [Row(k=k, v=f"base{k}", ver=1, _deleted=False) for k in (1, 2, 3, 4)]
    )
    updates = spark.createDataFrame(
        [
            Row(k=1, v="upd1", ver=2, _deleted=False),   # plain update
            Row(k=2, v=None, ver=2, _deleted=True),      # delete
            Row(k=3, v=None, ver=2, _deleted=True),      # delete...
            Row(k=3, v="back3", ver=3, _deleted=False),  # ...then resurrect
            Row(k=4, v=None, ver=0, _deleted=True),      # STALE tombstone
        ]
    )
    merged = maintenance.latest_wins_merge_with_deletes(
        base, updates, ["k"], "ver"
    )
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: "upd1", 3: "back3", 4: "base4"}
    # idempotent: re-merging the same feed over the compacted result
    # (carrying versions forward) changes nothing
    again = maintenance.latest_wins_merge_with_deletes(
        merged.withColumn("ver", F.when(F.col("k") == 3, 3).otherwise(2)),
        updates,
        ["k"],
        "ver",
    )
    assert {r.k: r.v for r in again.collect()} == got


# ------------------------------------------------------------- bm25


def test_bm25_ranks_planted_relevant_doc_first(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import search

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark spark spark join"),
            Row(doc_id=2, text="spark filler words here and more filler"),
            Row(doc_id=3, text="completely unrelated content"),
            Row(doc_id=4, text="join window join"),
        ]
    )
    out = search.bm25_topk(docs, "doc_id", "text", ["spark", "join"], k=10)
    rows = out.orderBy("rank").collect()
    # doc 3 matches nothing -> absent; doc 1 has the highest tf mass
    assert [r.doc_id for r in rows][0] == 1
    assert 3 not in {r.doc_id for r in rows}
    assert all(rows[i].bm25 >= rows[i + 1].bm25 for i in range(len(rows) - 1))


def test_sparse_cosine_planted_copy_survives_any_pruning(spark):
    """Identical docs keep cos_sim 1.0 under df pruning (their pruned
    weight vectors are identical), and the df cap drops common-term
    pairs: docs sharing ONLY a ubiquitous bigram produce no pair."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import search

    common = "the cat"  # appears in every doc -> df = N > cap
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{common} filler{i} word{i} extra{i} tail{i}") for i in range(1, 9)]
        + [
            Row(doc_id=100, text="rare bigram alpha beta gamma"),
            Row(doc_id=200, text="rare bigram alpha beta gamma"),  # exact copy
        ]
    )
    out = search.sparse_tfidf_cosine_pairs(
        docs, "doc_id", "text", df_cap=3, threshold=0.5
    ).collect()
    pairs = {(r.id_a, r.id_b): r.cos_sim for r in out}
    assert pairs.get((100, 200)) == 1.0  # planted copy at exactly 1.0
    # the filler docs share only the ubiquitous "the cat" bigram, which
    # the df cap (0.3 * 10 = 3 < 8) prunes -> no pair emitted for them
    assert all(a == 100 and b == 200 for (a, b) in pairs)


def test_sparse_cosine_fanout_bounded_by_df_cap(spark):
    """The inverted-index join's candidate volume follows sum(df^2)
    over KEPT terms: with a tight cap, a corpus dominated by one
    common bigram generates no quadratic pair blow-up."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import search

    # 40 docs all sharing 'zz yy'; each also has one unique bigram
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"zz yy unique{i} tok{i}") for i in range(40)]
    )
    out = search.sparse_tfidf_cosine_pairs(
        docs, "doc_id", "text", df_cap=4, threshold=0.1
    )
    assert out.count() == 0  # common bigram pruned, uniques never join


def test_interval_overlap_join_equals_brute_force(spark):
    """Binned candidate generation must lose nothing: random integer
    intervals, binned join == brute-force overlap predicate — including
    same-bin-but-disjoint pairs (pruned) and overlaps that straddle bin
    boundaries (kept)."""
    import random

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import timeseries

    rng = random.Random(7)
    lrows = [
        Row(lid=i, ls=(s := rng.randrange(0, 500)), le=s + rng.randrange(0, 40))
        for i in range(60)
    ]
    rrows = [
        Row(rid=i, rs=(s := rng.randrange(0, 500)), re=s + rng.randrange(0, 40))
        for i in range(60)
    ]
    left = spark.createDataFrame(lrows)
    right = spark.createDataFrame(rrows)
    got = {
        (r.lid, r.rid)
        for r in timeseries.interval_overlap_join(
            left, right, "lid", "rid", "ls", "le", "rs", "re", bin_width=16
        ).collect()
    }
    want = {
        (l.lid, r.rid)
        for l in lrows
        for r in rrows
        if l.ls <= r.re and r.rs <= l.le
    }
    assert got == want
    # sanity on the fixture: it must actually exercise both hazards
    same_bin_disjoint = any(
        l.ls // 16 <= r.re // 16 and r.rs // 16 <= l.le // 16
        and not (l.ls <= r.re and r.rs <= l.le)
        for l in lrows for r in rrows
    )
    cross_bin_overlap = any(
        (l.ls <= r.re and r.rs <= l.le) and l.ls // 16 != r.rs // 16
        for l in lrows for r in rrows
    )
    assert same_bin_disjoint and cross_bin_overlap


def test_bm25_corpus_side_not_shuffled_for_df_join(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import search

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="spark join data") for i in range(10)]
    )
    plan = (
        search.bm25_topk(docs, "doc_id", "text", ["spark"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ----------------------------------------------- partitioned writes


def test_write_partitioned_prunes_at_planning_time(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("shard")
    )
    path = str(tmp_path / "parts")
    df.write.partitionBy("shard").mode("overwrite").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("shard") == "2")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # pruning shows up as a PartitionFilters entry on the scan...
    assert "PartitionFilters" in plan and "shard" in plan
    # ...and only the matching directory's rows are read
    assert scan.count() == 25


# --------------------------------------------------------- gap fill


def test_resample_ffill_densifies_and_carries_forward(spark):
    import datetime as dt

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import timeseries

    df = spark.createDataFrame(
        [
            Row(k="a", day=dt.date(2024, 1, 1), v=10),
            Row(k="a", day=dt.date(2024, 1, 4), v=40),
            Row(k="b", day=dt.date(2024, 2, 1), v=7),
        ]
    )
    out = timeseries.resample_ffill(df, "k", "day", ["v"], step="1 day")
    rows = {(r.k, str(r.day)): (r.v, r.is_filled) for r in out.collect()}
    # a: 4 days total, gaps on the 2nd and 3rd carry 10
    assert rows[("a", "2024-01-01")] == (10, False)
    assert rows[("a", "2024-01-02")] == (10, True)
    assert rows[("a", "2024-01-03")] == (10, True)
    assert rows[("a", "2024-01-04")] == (40, False)
    # b: single-day series stays a single observed row
    assert rows[("b", "2024-02-01")] == (7, False)
    assert len(rows) == 5


# --------------------------------------------------------- chunking


def test_chunk_documents_geometry_and_overlap(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import chunking

    toks = " ".join(f"t{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([Row(doc_id=1, text=toks)])
    out = chunking.chunk_documents(df, "doc_id", "text", 64, 16).collect()
    by_idx = {r.chunk_idx: r for r in out}
    assert len(out) == 2
    assert by_idx[0].chunk_start == 0 and by_idx[0].chunk_n_tokens == 64
    # second chunk starts at stride 48 and is clipped to the tail
    assert by_idx[1].chunk_start == 48 and by_idx[1].chunk_n_tokens == 52
    # 16-token overlap: chunk 1 begins inside chunk 0
    assert by_idx[1].chunk_text.split()[0] == "t48"


def test_chunk_documents_short_doc_single_chunk(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import chunking

    df = spark.createDataFrame([Row(doc_id=1, text="just three tokens")])
    out = chunking.chunk_documents(df, "doc_id", "text", 64, 16).collect()
    assert len(out) == 1
    assert out[0].chunk_n_tokens == 3 and out[0].chunk_start == 0


def test_chunk_documents_rejects_bad_overlap(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import chunking

    df = spark.createDataFrame([Row(doc_id=1, text="x")])
    try:
        chunking.chunk_documents(df, "doc_id", "text", 64, 64)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ------------------------------------------------------ plan profile


def test_plan_profile_counts_exchanges_and_broadcasts(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans.explain import profile

    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    joined = a.join(F.broadcast(b), "k").groupBy((F.col("k") % 3).alias("g")).count()
    p = profile(joined)
    assert p.broadcasts == 1
    assert p.exchanges >= 1  # the groupBy shuffle
    assert "Exchange" in p.plan


# --------------------------------------------------------- count-min


def test_count_min_never_underestimates_and_collides_as_expected(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import sketches

    # 40 keys, key i appearing i+1 times; width 8 forces collisions
    rows = [(k,) for k in range(40) for _ in range(k + 1)]
    df = spark.createDataFrame(rows, "k long")
    out = sketches.count_min_estimates(df, "k", depth=4, width=8).collect()
    assert len(out) == 40
    # CM guarantee: estimate >= exact, always
    assert all(r.cm_est >= r.exact_n for r in out)
    # with 40 keys in 8 buckets, collisions must inflate SOME estimate
    assert any(r.cm_est > r.exact_n for r in out)
    # exact totals preserved
    assert sum(r.exact_n for r in out) == len(rows)


# ------------------------------------------------------------- bloom
# Spark's runtime bloom filter pre-filters the probe side of a
# selective shuffle join; these pin that it drops no true match.


def _runtime_bloom_join(spark, tmp_path, probe, build, build_filter):
    """Join parquet copies of probe and build (filtered) with runtime
    bloom filters on and broadcast off; return (rows, bloom_injected)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    pdir, bdir = str(tmp_path / "probe"), str(tmp_path / "build")
    probe.write.mode("overwrite").parquet(pdir)
    build.write.mode("overwrite").parquet(bdir)
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = spark.read.parquet(pdir).join(
            spark.read.parquet(bdir).filter(build_filter), "k"
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return rows, "bloomfilter" in plan.lower().replace(" ", "")


def test_bloom_prefilter_has_no_false_negatives(spark, tmp_path):
    probe = spark.createDataFrame([(k, f"p{k}") for k in range(500)], "k long, p string")
    build = spark.createDataFrame([(k,) for k in range(0, 500, 7)], "k long")
    rows, injected = _runtime_bloom_join(
        spark, tmp_path, probe, build, F.col("k") % 2 == 0
    )
    assert injected
    # every true match survives the pre-filter
    assert {r.k for r in rows} == set(range(0, 500, 14))


def test_bloom_prefilter_keeps_duplicate_probe_rows(spark, tmp_path):
    probe = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, p string")
    build = spark.createDataFrame([(1,), (2,)], "k long")
    rows, injected = _runtime_bloom_join(spark, tmp_path, probe, build, F.col("k") == 1)
    assert injected
    assert sorted((r.k, r.p) for r in rows) == [(1, "a"), (1, "a")]


def test_bloom_prefilter_join_equals_plain_join(spark, tmp_path):
    probe_rows = [(k, k * 10) for k in range(200)]
    build_rows = [(k, f"x{k}") for k in range(0, 200, 11)]
    probe = spark.createDataFrame(probe_rows, "k long, v long")
    build = spark.createDataFrame(build_rows, "k long, attr string")
    rows, injected = _runtime_bloom_join(
        spark, tmp_path, probe, build, F.col("attr") != "x0"
    )
    assert injected
    expected = sorted(
        (pk, v, attr)
        for pk, v in probe_rows
        for bk, attr in build_rows
        if pk == bk and attr != "x0"
    )
    assert sorted((r.k, r.v, r.attr) for r in rows) == expected


def test_hll_registers_merge_by_max(spark):
    """The register build is a true mergeable sketch: sketching two
    halves separately and union-merging by MAX equals sketching the
    whole — the property that makes partial aggregation / map-side
    combine correct at any partitioning."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import sketches

    whole = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    lo = whole.filter(F.col("k") < 777)
    hi = whole.filter(F.col("k") >= 777)
    merged = (
        sketches.hll_registers(lo, "k")
        .unionByName(sketches.hll_registers(hi, "k"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("rank"))
    )
    direct = {(r.bucket, r.rank) for r in sketches.hll_registers(whole, "k").collect()}
    assert {(r.bucket, r.rank) for r in merged.collect()} == direct


def test_hll_estimate_within_expected_error(spark):
    """m=256 registers -> standard error ~1.04/sqrt(256) = 6.5%; the
    estimate on 2000 uniform keys must land well inside 4 sigma."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import sketches

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    est = sketches.hll_estimate(sketches.hll_registers(df, "k")).collect()[0]
    assert abs(est.hll_est - 2000) / 2000 < 0.26
    assert 0 < est.n_registers <= 256


def test_fuzzy_self_pairs_lossless_blocking(spark):
    """Length-band blocking must lose NOTHING vs brute force: every
    edit changes length by <=1, so pairs within distance d meet in the
    left side's length block. Planted corpus exercises insert / delete
    / substitute across block boundaries."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import fuzzy

    words = [
        "kitten", "sitting", "kitte", "kittens", "mitten",
        "abc", "abcd", "xbcd", "zzzzzzz", "a",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        (r.val_a, r.val_b, r.dist)
        for r in fuzzy.fuzzy_self_pairs(df, "w", max_dist=2).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    want = {
        (min(a, b), max(a, b), lev(a, b))
        for i, a in enumerate(words)
        for b in words[i + 1:]
        if lev(a, b) <= 2
    }
    assert got == want


def test_pagerank_star_center_dominates(spark):
    """On a star graph the hub must outrank every leaf, and symmetric
    leaves must tie exactly (integer arithmetic -> exact equality, not
    approximate)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import graph

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "u long, v long"
    )
    pr = {r.node: r.pr_micro for r in graph.pagerank_micro(edges, iters=5).collect()}
    leaves = [pr[i] for i in range(1, 9)]
    assert len(set(leaves)) == 1
    assert pr[0] > leaves[0] * 3


def test_bfs_min_dist_levels_and_unreachable(spark):
    """On a path graph 0-1-2-3-4-5 plus a disconnected edge 10-11, BFS
    from the min node (0) with max_depth=3 must report exact level
    distances, truncate at the depth bound (4, 5 absent), and never
    reach the other component."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import graph

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "u long, v long",
    )
    got = {r.node: r.dist for r in graph.bfs_min_dist(edges, max_depth=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_min_dist_shortcut_wins(spark):
    """A node reachable by two routes gets the SHORTER distance (level
    order, not discovery order): 0-1-2-3 chain plus direct 0-3 edge."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import graph

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "u long, v long"
    )
    got = {r.node: r.dist for r in graph.bfs_min_dist(edges, max_depth=3).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 2: 2}


def test_table_profile_two_pass_split_and_counts(spark):
    """The multi-column report comes from exactly TWO aggregate passes
    (r15: a distinct-only Expand aggregate crossJoined with a plain
    min/max/nulls aggregate — combining them made Catalyst evaluate the
    non-distinct aggregates over the Expand-multiplied rows, measured
    ~2.4x slower), and nulls must count into n_nulls but not
    n_distinct."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import profile

    df = spark.createDataFrame(
        [(1, None, 2.5), (2, "x", 2.5), (3, "x", None), (4, "y", 0.125)],
        "a long, b string, c double",
    )
    out = {r.col_name: r for r in profile.table_profile(df).collect()}
    assert (out["b"].n_nulls, out["b"].n_distinct) == (1, 2)
    assert (out["c"].n_nulls, out["c"].n_distinct) == (1, 2)
    assert out["c"].min_val == "0.1250" and out["c"].max_val == "2.5000"
    assert out["a"].n_rows == 4
    plan = (
        profile.table_profile(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ") <= 2  # one per aggregate pass, no more
    # the min/max pass must NOT ride the Expand: exactly one Expand
    # subtree (the multi-DISTINCT one), and min/max only outside it
    assert plan.count("Expand") == 1


def test_aqe_splits_skewed_join_partitions(spark):
    """The session factory claims AQE skew-join handling; prove the
    runtime plan actually marks and splits the hot key: a 95%-one-key
    fact joined to a dim (broadcast disabled so a shuffle join runs)
    must show skew=true in the final adaptive plan."""
    from pyspark.sql import functions as F

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_part = spark.conf.get("spark.sql.shuffle.partitions")
    prev_factor = spark.conf.get(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    )
    prev_size = spark.conf.get(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    )
    prev_advisory = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id").cast("string")).alias("p"),
        )
        dim = spark.range(200_001).select(F.col("id").alias("k"), (F.col("id") * 2).alias("d"))
        joined = fact.join(dim, "k")
        # collect() drives THIS frame's QueryExecution (count() would
        # build a separate execution whose adaptive plan we can't read)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.shuffle.partitions", prev_part)
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", prev_factor
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            prev_size,
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", prev_advisory
        )


def test_dynamic_partition_pruning_on_dim_filter(spark, tmp_path):
    """A filter on the DIMENSION must prune the partitioned FACT scan
    at runtime (DPP) — the 100 TB star-join discipline: only 3 of 20
    fact partitions read."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "fact")
    spark.range(100_000).select(
        F.col("id"), (F.col("id") % 20).cast("string").alias("part")
    ).write.partitionBy("part").mode("overwrite").parquet(d)
    fact = spark.read.parquet(d)
    dim = (
        spark.range(20)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 20).cast("string").alias("part"),
        )
        .filter(F.col("k") < 3)
    )
    j = fact.join(dim, "part")
    assert len(j.collect()) == 15_000
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injected_for_selective_join(spark, tmp_path):
    """With runtime bloom filters on, a selective small side must
    inject a BloomFilter onto the big side's scan — rows drop before
    the join shuffle instead of after it."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    d1, d2 = str(tmp_path / "big"), str(tmp_path / "small")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.range(1_000_000).select(
            (F.col("id") % 50_000).alias("k"), F.col("id").alias("v")
        ).write.mode("overwrite").parquet(d1)
        spark.range(100).select((F.col("id") * 13).alias("k")).write.mode(
            "overwrite"
        ).parquet(d2)
        big, small = spark.read.parquet(d1), spark.read.parquet(d2)
        j = big.join(small.filter(F.col("k") % 2 == 0), "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloomfilter" in plan.lower().replace(" ", "")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_hll_union_equals_sketch_of_union(spark):
    """Sketch algebra: union-of-registers must equal the sketch built
    directly on the concatenated keys — exactly, register for
    register."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import sketches

    a = spark.range(0, 1500).select(F.col("id").alias("k"))
    b = spark.range(1000, 2500).select(F.col("id").alias("k"))
    u = sketches.hll_union(
        [sketches.hll_registers(a, "k"), sketches.hll_registers(b, "k")]
    )
    direct = sketches.hll_registers(a.unionByName(b), "k")
    assert {(r.bucket, r.rank) for r in u.collect()} == {
        (r.bucket, r.rank) for r in direct.collect()
    }
