from __future__ import annotations

from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import dedup


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
    (4, "completely different text about spark query engines and columnar storage"),
    (5, "another unrelated document mentioning streaming watermarks and windows"),
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup_keeps_min_id(spark):
    out = dedup.exact_dedup(docs_df(spark), ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]  # 2 removed, survivor is min id 1


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    out = dedup._shingled(df, "doc_id", "text", 3, "sh").collect()[0]
    assert sorted(out["sh"]) == ["a b c", "b c d"]


def test_minhash_finds_planted_dups(spark):
    pairs = dedup.minhash_near_dup(
        docs_df(spark), "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in pairs}
    assert found[(1, 2)] == 1.0  # exact dup always collides in every band
    assert (1, 3) in found and found[(1, 3)] > 0.5  # near dup
    assert (4, 5) not in found  # unrelated docs don't pair
    assert all(a < b for a, b in found)  # canonical pair order


def test_minhash_signature_shape(spark):
    shingled = dedup._shingled(docs_df(spark), "doc_id", "text", 3, "_sh")
    sigs = shingled.select("doc_id", dedup._sig_from_shingles("_sh", 8).alias("sig"))
    rows = sigs.collect()
    assert all(len(r["sig"]) == 8 for r in rows)
    by_id = {r["doc_id"]: r["sig"] for r in rows}
    assert by_id[1] == by_id[2]  # identical text -> identical signature


def _simhash(df):
    """(doc_id, simhash) through the portable vector path the registry
    queries use."""
    votes = dedup.simhash_votes_vector(dedup.token_md5s(F.col("text")))
    return df.select("doc_id", dedup.simhash_from_votes_vector(votes).alias("simhash"))


def test_simhash_identical_and_different(spark):
    out = {r["doc_id"]: r["simhash"] for r in _simhash(docs_df(spark)).collect()}
    assert out[1] == out[2]  # identical text
    df = spark.createDataFrame(
        [(1, out[1]), (4, out[4])], "id bigint, h bigint"
    )
    ham = df.select(
        F.bit_count(F.lit(out[1]).bitwiseXOR(F.col("h"))).alias("d")
    ).collect()
    assert ham[0]["d"] == 0
    assert ham[1]["d"] > 10  # unrelated text far away


def test_ngram_jaccard_planted_copies(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact copy of 1
        (3, "alpha beta gamma something else entirely here"),  # same block, low sim
        (4, "totally different opening words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert pairs == {(1, 2): 1.0}


def test_ngram_length_bucketing_bounds_skewed_blocks(spark):
    """Skew hardening: a corpus where EVERY doc shares one opening
    shingle (boilerplate header) used to make one block quadratic. With
    threshold-derived length bucketing the candidate count collapses,
    and the emitted pair set is unchanged (the bucket scheme provably
    never drops a pair the jaccard filter would keep)."""
    # 24 docs, same 3-word opening: 14 with sizes growing ×1.5 (spread
    # across buckets) + 10 near-identical sizes (one bounded bucket)
    rows = []
    for i in range(14):
        n_extra = int(8 * (1.5 ** i))
        body = " ".join(f"w{i}_{j}" for j in range(n_extra))
        rows.append((i, f"common header words {body}"))
    for i in range(10):
        body = " ".join(f"p{i}_{j}" for j in range(300 + i))
        rows.append((50 + i, f"common header words {body}"))
    # plus one genuine near-dup pair sharing the header
    rows.append((100, "common header words " + " ".join(f"x{j}" for j in range(20))))
    rows.append((101, "common header words " + " ".join(f"x{j}" for j in range(19))))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    shingled = dedup._shingled(df, "doc_id", "text", 3, "_shingles")

    def n_candidates(bucketing):
        return dedup._ngram_blocked_pairs(shingled, "doc_id", 0.8, bucketing, None).count()

    n_cand_skewed = n_candidates(False)
    n_cand_bucketed = n_candidates(True)
    assert n_cand_skewed == 26 * 25 // 2  # the quadratic block
    assert n_cand_bucketed < n_cand_skewed / 2  # bounded neighborhoods

    def pairset(bucketing):
        return {
            (r["id_a"], r["id_b"], r["jaccard_sim"])
            for r in dedup.ngram_jaccard_pairs(
                df, "doc_id", "text", threshold=0.8, length_bucketing=bucketing
            ).collect()
        }

    assert pairset(True) == pairset(False)
    assert (100, 101) in {(a, b) for a, b, _ in pairset(True)}


def test_portable_simhash_matches_and_differs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "entirely unrelated words list")],
        "doc_id bigint, text string",
    )
    bits = dedup.PORTABLE_SIMHASH_BITS
    out = {r["doc_id"]: r["simhash"] for r in _simhash(df).collect()}
    assert out[1] == out[2]          # identical text -> identical fingerprint
    assert out[1] != out[3]          # different text -> different fingerprint
    assert 0 <= out[1] < (1 << bits)


def test_duplicate_clusters_chain_and_isolated(spark):
    # chain 1-2-3-4-5 (diameter 4 -> needs 4 propagation rounds),
    # pair {10, 11}, isolated 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a bigint, id_b bigint"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "doc_id bigint"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs, vertices, "doc_id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}


def test_duplicate_clusters_respects_max_iter(spark):
    # with max_iter=1 the far end of the chain cannot reach the min yet
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a bigint, id_b bigint")
    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]], "doc_id bigint")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs, vertices, "doc_id", max_iter=1).collect()
    }
    assert out[2] == 1 and out[4] == 3  # one hop done, fixpoint not reached


def test_simhash_hamming_pairs_equals_brute_force(spark):
    """Pigeonhole banding must generate EXACTLY the brute-force pair
    set — no misses (guaranteed by construction) and no extras
    (killed by the bit_count verify)."""
    import itertools

    from pyspark.sql import Row

    fps = [0b0, 0b1, 0b11, 0b111, 0b1111, 1 << 31, (1 << 31) | 0b11, 0xDEADBEEF]
    df = spark.createDataFrame(
        [Row(doc_id=i, simhash=v) for i, v in enumerate(fps)]
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_hamming_pairs(
            df, "doc_id", "simhash", max_hamming=3, bits=32
        ).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(fps), 2):
        h = bin(a ^ b).count("1")
        if h <= 3:
            want[(i, j)] = h
    assert got == want and len(want) > 0


def test_leakage_safe_split_cotravel(spark):
    """Near-identical docs (same normalization fingerprint) must land
    in the SAME split — the property doc_id-keyed splitting violates."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["leakage_safe_split"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_rep = {}
    for r in out:
        by_rep.setdefault(r.rep_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_rep.values())  # co-travel
    # the doubled corpus means every rep has at least its twin
    sizes = [sum(1 for r in out if r.rep_id == rep) for rep in list(by_rep)[:5]]
    assert all(n >= 2 for n in sizes)
    splits = {r.split for r in out}
    assert splits == {"train", "val"}


def test_overlap_coefficient_catches_quote_jaccard_misses(spark):
    """A short quote inside a long document: overlap coefficient 1.0,
    Jaccard tiny — the asymmetric case that justifies the operator.
    Also: pairs sharing ONLY corpus-common shingles generate no
    candidate (the df cap prunes them)."""
    from pyspark.sql import Row

    long_words = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(40, 52))  # 12-word excerpt
    common = "the cat sat on the mat again and again"   # shared by many
    rows = (
        [Row(doc_id=1, text=long_words), Row(doc_id=2, text=quote)]
        + [Row(doc_id=100 + i, text=common) for i in range(20)]
    )
    df = spark.createDataFrame(rows)
    out = dedup.overlap_coefficient_pairs(
        df, "doc_id", "text", shingle_n=3, threshold=0.9, df_cap=4
    ).collect()
    pairs = {(r.id_a, r.id_b): r.overlap_coef for r in out}
    assert pairs.get((1, 2)) == 1.0          # quote fully contained
    assert all(a < 100 for (a, b) in pairs)  # common-only docs: no pairs
    # contrast: the same pair's Jaccard is far below any useful threshold
    jac = dedup.ngram_jaccard_pairs(
        df.filter(df.doc_id < 100), "doc_id", "text", threshold=0.0
    ).collect()
    j = {(r.id_a, r.id_b): r.jaccard_sim for r in jac}
    assert j.get((1, 2), 0.0) < 0.1


def test_overlap_prefix_filter_loses_no_qualifying_pair(spark):
    """Prefix filtering must be output-identical to brute force when
    every shingle is rare (df_cap high): the guarantee is that a pair
    reaching overlap >= t on its smaller side always shares a shingle
    inside the smaller side's rarest-first prefix. Corpus: overlapping
    sliding excerpts of one long doc at varied lengths, so many pairs
    sit exactly at and around the threshold."""
    from pyspark.sql import Row

    words = [f"w{i}" for i in range(60)]
    rows = [Row(doc_id=0, text=" ".join(words))]
    did = 1
    for start in range(0, 40, 5):
        for length in (10, 20, 30):
            rows.append(
                Row(doc_id=did, text=" ".join(words[start : start + length]))
            )
            did += 1
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b): r.overlap_coef
        for r in dedup.overlap_coefficient_pairs(
            df, "doc_id", "text", shingle_n=3, threshold=0.8, df_cap=10**6
        ).collect()
    }
    # brute force over the same shingle sets
    sh = {
        r.doc_id: set(r.s)
        for r in dedup._shingled(df, "doc_id", "text", 3, "s").collect()
    }
    want = {}
    ids = sorted(sh)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sh[i] & sh[j])
                coef = round(inter / min(len(sh[i]), len(sh[j])), 6)
                if coef >= 0.8:
                    want[(i, j)] = coef
    assert got == want


def test_minhash_bucket_cap_bounds_duplicate_set_blowup(spark):
    """A planted set of identical documents puts N matching signatures
    in EVERY band bucket — N(N-1)/2 pairs from one key at scale (the
    boilerplate failure mode). bucket_cap must bound the fan-out to the
    cap's pair count while leaving genuinely-distinct near-dup pairs
    untouched."""
    from pyspark.sql import Row

    boiler = "the same boilerplate page body repeated verbatim " * 4
    distinct_a = " ".join(f"a{i}" for i in range(30))
    distinct_b = " ".join(f"a{i}" for i in range(29)) + " zz"  # near-dup of a
    rows = [Row(doc_id=i, text=boiler) for i in range(60)]
    rows += [Row(doc_id=1000, text=distinct_a), Row(doc_id=1001, text=distinct_b)]
    df = spark.createDataFrame(rows)

    capped = dedup.minhash_near_dup(
        df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.8, bucket_cap=8
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    # the near-dup pair of distinct contents survives the cap
    assert (1000, 1001) in pairs
    # duplicate-set pairs are bounded by C(cap,2), not C(60,2)=1770
    dup_pairs = {(a, b) for (a, b) in pairs if a < 100 and b < 100}
    assert 0 < len(dup_pairs) <= 8 * 7 // 2
    # survivors are the deterministic smallest ids
    assert max(x for p in dup_pairs for x in p) <= 7

    # uncapped default: the full quadratic pair set (current gate
    # semantics, oracle-mirrored)
    uncapped = dedup.minhash_near_dup(
        df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.8
    ).count()
    assert uncapped >= 60 * 59 // 2


def test_simhash_bucket_cap_bounds_duplicate_fingerprints(spark):
    """N identical fingerprints share every pigeonhole chunk bucket;
    bucket_cap bounds that to C(cap,2) pairs with smallest-id
    survivors, while a genuinely-near pair (1 differing bit) still
    comes through."""
    from pyspark.sql import Row

    rows = [Row(doc_id=i, simhash=0x0F0F0F0F) for i in range(50)]
    rows += [Row(doc_id=900, simhash=0x70F0F0F0), Row(doc_id=901, simhash=0x70F0F0F1)]
    fp = spark.createDataFrame(rows)
    out = dedup.simhash_hamming_pairs(
        fp, "doc_id", max_hamming=3, bits=32, bucket_cap=6
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (900, 901) in pairs
    dup_pairs = {(a, b) for (a, b) in pairs if a < 100 and b < 100}
    assert 0 < len(dup_pairs) <= 6 * 5 // 2
    assert max(x for p in dup_pairs for x in p) <= 5


def test_ngram_block_cap_bounds_duplicate_blocks(spark):
    """Identical documents share (first-shingle, length-bucket);
    block_cap bounds the pairs to C(cap,2)-scale while a distinct
    near-dup pair still comes through."""
    from pyspark.sql import Row

    boiler = "common opening shingle words " + " ".join(f"x{i}" for i in range(20))
    da = " ".join(f"y{i}" for i in range(25))
    db = " ".join(f"y{i}" for i in range(24)) + " zz"
    rows = [Row(doc_id=i, text=boiler) for i in range(40)]
    rows += [Row(doc_id=500, text=da), Row(doc_id=501, text=db)]
    df = spark.createDataFrame(rows)
    out = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.8, block_cap=5
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (500, 501) in pairs
    dup_pairs = {(a, b) for (a, b) in pairs if a < 100 and b < 100}
    # two tags x two buckets can each carry cap entries; the bound is
    # a small multiple of C(cap,2), nowhere near C(40,2)=780
    assert 0 < len(dup_pairs) <= 2 * (5 * 4 // 2)
    assert max(x for p in dup_pairs for x in p) <= 9
