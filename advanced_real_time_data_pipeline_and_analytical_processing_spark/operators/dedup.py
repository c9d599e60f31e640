"""Deduplication operators for large-scale corpus curation.

All pure DataFrame compositions — no Python in the hot path. Shapes are
chosen for 100 TB: everything reduces to explode → hash-aggregate →
bucket-join, i.e. linear passes plus shuffles on bounded keys, never an
all-pairs comparison (candidate pairs only, post-LSH).

- exact_dedup:        hash-groupBy on content hash, keep deterministic min-id
- minhash_near_dup:   shingle → 64-perm minhash → banded LSH → candidate
                      pairs → exact-Jaccard verify (candidates only)
- simhash_votes_vector/simhash_from_votes_vector: portable 32-bit
                      simhash from md5 hex-digit votes
- ngram_jaccard_pairs: exact word-shingle Jaccard for candidate pairs
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans.materialize import (
    materialize,
    materialize_round,
    persist_on_key,
    release,
)

from .text import tokens

# minhash_near_dup's LSH shape: 16 bands of 4 signature rows
NUM_HASHES = 64
BANDS = 16


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a projected token-array column (see
    text.tokens), built with sequence+transform (native, codegen'd) —
    no UDF. A document shorter than ``n`` tokens is ONE shingle (its
    whole token list), a rule the SQL mirrors share."""
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams)


def _shingled(
    df: DataFrame, id_col: str, text_col: str, n: int, out_col: str
) -> DataFrame:
    """(id, out_col: array<string>) — tokenize in its OWN projection,
    then shingle from the projected array."""
    # NULL text has no shingle set and is invisible to every SQL
    # mirror (NULL never equality-joins) — drop it BEFORE tokenizing
    # (filtering on the token array would re-run the split per row
    # just for the null probe once Catalyst collapses the projections).
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(
            F.col(id_col),
            shingles_from_tokens(F.col("_toks"), n).alias(out_col),
        )
    )


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (the min id — deterministic, unlike
    dropDuplicates) per distinct content. Single hash-aggregate; the
    shuffle key is the content hash, so 100 TB dedups at the cost of one
    shuffle of (hash, id) pairs, not row payloads."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in content_cols]
    content_hash = F.sha2(F.concat_ws("||", *parts), 256)
    keep = (
        df.select(F.col(id_col), content_hash.alias("_chash"))
        .groupBy("_chash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # Broadcast-join back when the survivor set is small; at scale the
    # id-only semi join shuffles just (id) pairs.
    return df.join(keep, on=id_col, how="left_semi")


def _sig_from_shingles(shingle_col: str, num_hashes: int) -> Column:
    """array<int> signature: element j = min over shingles of
    murmur3(shingle, seed=j). Pure per-row expression — no explode, no
    shuffle, no aggregate."""

    def _min_hash(seed: int) -> Column:
        return F.array_min(
            F.transform(F.col(shingle_col), lambda s: F.hash(s, F.lit(seed)))
        )

    return F.array(*[_min_hash(j) for j in range(num_hashes)])


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition on id so per-row signature work uses the whole
    cluster even when the source has few splits (one small parquet file
    locally; at 100 TB the scan already yields thousands of splits). The
    exchange is also reused by every consumer of the lineage — the LSH
    self-join and the verify join read it instead of re-scanning."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: split each NUM_HASHES signature into BANDS bands of
    NUM_HASHES/BANDS rows, hash each band, self-join per
    (band_idx, band_hash) bucket. Returns distinct (id_a < id_b) pairs.

    HASH collisions between distinct contents are rare and bounded —
    but a bucket holding N genuinely IDENTICAL documents is not a
    collision, it is N matching signatures, and it emits N(N-1)/2
    pairs from one key (the boilerplate failure mode: a million
    copies of one page is 5e11 pairs). Two mitigations, in order:

    1. PRIMARY — exact-dedup first. Run :func:`exact_dedup` and
       near-dup only the distinct-content representatives: within a
       duplicate set every pair is trivially jaccard 1.0 and is
       already recoverable from the exact-dup groups, so nothing is
       lost and no bucket ever holds two identical contents.
    2. BACKSTOP — ``bucket_cap``: keep only each bucket's ``cap``
       smallest ids before the self-join (deterministic row_number on
       the same (band_idx, band_hash) key the join shuffles on),
       bounding worst-case fan-out to cap*(cap-1)/2 per bucket per
       band regardless of how degenerate the corpus is — the same
       bound pattern as graph.cooccurrence_edges. Default ``None``
       preserves exact candidate semantics for oracle-mirrored use.
    """
    rows = NUM_HASHES // BANDS
    band_entries = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.hash(F.concat_ws(",", *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)]))
                    for b in range(BANDS)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    if bucket_cap is not None:
        w = Window.partitionBy("band_idx", "band_hash").orderBy(
            F.col(id_col).asc()
        )
        band_entries = (
            band_entries.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with exact
    word-trigram Jaccard (computed only for candidate pairs). Returns
    (id_a, id_b, jaccard_sim) with jaccard_sim >= 0.9.

    The (id, shingles) frame feeds three consumers (signature build,
    verify join id_a side, verify join id_b side); materialize()
    (persist since r14) computes it once in executor storage so the
    shingling runs once, not three times (measured 2x cold at sf0.1;
    persist vs localCheckpoint A/B in OPTIMIZATION_r14.md). Same trade as
    duplicate_clusters: blocks are freed when the driver GCs the
    plan; on a fault-tolerant cluster run, swap for persist(DISK) if
    executor loss must be survivable mid-query."""
    base = _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    shingled = _shingled(base, id_col, text_col, 3, "_shingles").transform(materialize)
    sigs = shingled.select(
        id_col, _sig_from_shingles("_shingles", NUM_HASHES).alias("sig")
    )
    pairs = minhash_candidate_pairs(sigs, id_col, bucket_cap)
    return (
        pairs.join(shingled.withColumnRenamed(id_col, "id_a").withColumnRenamed("_shingles", "_sa"), "id_a")
        .join(shingled.withColumnRenamed(id_col, "id_b").withColumnRenamed("_shingles", "_sb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("_sa"), F.col("_sb")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= 0.9)
    )


# Portable (md5-hex-digit) simhash: bit j votes on the parity of hex
# digit j of md5(token). Reproducible in any engine with md5() — which
# makes it oracle-checkable value-for-value against DuckDB.
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")
PORTABLE_SIMHASH_BITS = 32  # md5 hex has 32 digits → one vote per digit


def token_md5s(text_col: Column) -> Column:
    """array<string>: md5 hex digest of each distinct token."""
    return F.transform(F.array_distinct(tokens(text_col)), lambda t: F.md5(t))


def simhash_votes_vector(md5s_col: Column) -> Column:
    """All 32 signed votes in ONE fold over the token-md5 array:
    accumulator = array<int> of vote sums, each step zip_adds the
    per-digit votes of one md5. Replaces 32 independent per-bit
    folds (each rescanning the array) with a single pass — ~32× less
    expression work per row."""
    zeros = F.array_repeat(F.lit(0), PORTABLE_SIMHASH_BITS)
    digits = F.sequence(F.lit(1), F.lit(PORTABLE_SIMHASH_BITS))

    def step(acc: Column, m: Column) -> Column:
        digit_votes = F.transform(
            digits,
            lambda d: F.when(m.substr(d, F.lit(1)).isin(*_ODD_HEX), 1).otherwise(-1),
        )
        return F.zip_with(acc, digit_votes, lambda a, b: a + b)

    return F.aggregate(md5s_col, zeros, step)


def simhash_from_votes_vector(votes_col: Column) -> Column:
    """bigint fingerprint straight from the votes ARRAY: one
    zip-with-powers fold instead of 32 extracted columns + a 32-term
    sum — a far smaller expression tree (2x faster warm, and cheaper
    to codegen-compile, than the column-wise form)."""
    powers = F.array(
        *[F.lit(1 << j).cast("bigint") for j in range(PORTABLE_SIMHASH_BITS)]
    )
    return F.aggregate(
        F.zip_with(
            votes_col,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def duplicate_clusters(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str,
) -> DataFrame:
    """Connected components over near-dup pairs: every id gets
    ``cluster_id`` = the minimum id reachable through the pair graph —
    the canonical "keep one doc per duplicate cluster" step that runs
    AFTER pair generation (minhash/ngram/embedding near-dup all emit
    pairs, but transitive duplicates A~B~C must collapse to ONE
    cluster even when A~C was never emitted).

    Iterative min-label propagation WITH POINTER DOUBLING (r6): per
    round every vertex takes the min of (its label, its neighbors'
    labels, the label OF its label node). The neighbor step alone
    converges in O(diameter) rounds, which is NOT scale-safe: the r6
    full-registry sf1.0 sweep caught a 60-member identical-text group
    whose lead()-chained edges form a 60-node path — diameter 60 > the
    20-round cap, so the loop returned unconverged labels (10x the true
    cluster count). The label-of-label shortcut halves remaining path
    length per round, so convergence is O(log diameter) — 20 rounds
    cover diameters up to ~2^20 at two shuffles per round instead of
    one. Each round ends with a materialize_round() lineage cut —
    without it the plan doubles per iteration and the 100 TB run dies
    in the optimizer long before the executors. The convergence probe
    rides the same cached frame (one cheap count per round).

    ``pairs``: (id_a, id_b) undirected edges. ``vertices``: one row per
    id (isolated ids keep themselves as cluster_id). Returns
    (id_col, cluster_id).
    """
    # Materialize the (bidirectional) edge list once — every round joins
    # against it on _src, and without a barrier each round would
    # re-execute the full pair-generation lineage (fingerprint/LSH/
    # scan). persist_on_key (not localCheckpoint) so the cached frame
    # advertises hash(_src) partitioning and the per-round join only
    # shuffles the label side (see plans/materialize.py).
    edges = persist_on_key(
        pairs.select(F.col("id_a").alias("_src"), F.col("id_b").alias("_dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("_src"), F.col("id_a").alias("_dst"))
        ),
        "_src",
    )
    labels = vertices.select(
        F.col(id_col).alias("_vid"), F.col(id_col).alias("_label")
    ).transform(materialize)
    labels0 = labels  # handle to the initial frame for end-of-loop release
    prev = None  # previous round's eager frame, released once superseded
    for _ in range(20):
        nbr_min = (
            edges.join(labels, edges._src == labels._vid)
            .select(F.col("_dst").alias("_vid"), "_label")
            .groupBy("_vid")
            .agg(F.min("_label").alias("_nbr"))
        )
        # pointer doubling: the label of my label node. labels is keyed
        # by _vid, so one self-join on (_label = _vid) resolves it; a
        # label is always a reachable node id, so label-of-label is
        # reachable too and min stays within the component.
        lab2 = labels.select(
            F.col("_vid").alias("_lvid"), F.col("_label").alias("_llabel")
        )
        stepped = (
            labels.join(nbr_min, "_vid", "left")
            .join(lab2, F.col("_label") == F.col("_lvid"), "left")
            .select(
                "_vid",
                F.least(
                    F.col("_label"),
                    F.coalesce("_nbr", "_label"),
                    F.coalesce("_llabel", "_label"),
                ).alias("_new"),
                F.col("_label"),
            )
            .transform(lambda _d: materialize_round(_d, eager=True))
        )
        release(prev)
        prev = stepped
        converged = stepped.filter(F.col("_new") < F.col("_label")).isEmpty()
        labels = stepped.select("_vid", F.col("_new").alias("_label"))
        if converged:
            break
    # the result derives from the final (checkpointed) round only, so
    # the loop-invariant edge list and the initial label frame can be
    # dropped in durable mode
    release(edges)
    if labels is not labels0:
        release(labels0)
    return labels.select(
        F.col("_vid").alias(id_col), F.col("_label").alias("cluster_id")
    )


def _ngram_blocked_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    length_bucketing: bool,
    block_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from a (id, _shingles) frame.

    Blocking key = the first shingle, PLUS (by default) a
    threshold-derived length bucket that bounds skewed blocks — the
    boilerplate-header failure mode where millions of docs share one
    opening shingle and the block goes quadratic.

    Why the bucket is lossless: jaccard(A,B) >= t implies
    min(|A|,|B|) >= |A∩B| >= t*|A∪B| >= t*max(|A|,|B|), so the distinct
    shingle-set sizes of any pair the caller will keep differ by at most
    a factor 1/t. Bucket = floor(ln(size)/ln(1/t)); such a pair's
    buckets differ by at most 1, and each doc enters its own bucket and
    the next one (tagged so each qualifying pair meets exactly once).
    Every pair the jaccard filter could accept is still generated —
    the candidate set only sheds pairs the filter would reject.

    The entries the self-join shuffles are LIGHT — (id, block, bucket,
    tag), four scalars — the shingle arrays stay out of the exchange
    entirely (the caller re-joins them by id for the verify step, the
    same fetch-payload-late shape as minhash_near_dup)."""
    import math

    light = shingled.select(
        F.col(id_col),
        F.element_at("_shingles", 1).alias("_blk"),
        F.size("_shingles").alias("_sz"),
    )

    if length_bucketing and 0.0 < threshold < 1.0:
        width = math.log(1.0 / threshold)
        bkt = F.floor(
            F.log(F.col("_sz").cast("double")) / F.lit(width)
        ).cast("long")
        entries = light.select(
            id_col,
            "_blk",
            F.explode(
                F.array(
                    F.struct(bkt.alias("b"), F.lit(0).alias("t")),
                    F.struct((bkt + 1).alias("b"), F.lit(1).alias("t")),
                )
            ).alias("_bt"),
        ).select(
            id_col, "_blk",
            F.col("_bt.b").alias("_bkt"), F.col("_bt.t").alias("_tag"),
        )
        if block_cap is not None:
            # duplicate-set backstop (same pattern as
            # minhash_candidate_pairs): N identical docs share
            # (_blk, _bkt, _tag); keep the cap smallest ids per key.
            wcap = Window.partitionBy("_blk", "_bkt", "_tag").orderBy(
                F.col(id_col).asc()
            )
            entries = (
                entries.withColumn("_rn", F.row_number().over(wcap))
                .filter(F.col("_rn") <= block_cap)
                .drop("_rn")
            )
        # Self-join via subquery ALIASES of the identical plan: the
        # canonical plans match, so the shuffle below the join is built
        # once and ReusedExchange feeds the other side.
        a, b = entries.alias("a"), entries.alias("b")
        return a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._bkt") == F.col("b._bkt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # both-shifted matches duplicate the both-base match:
            # keep (0,0) [same bucket], (0,1)/(1,0) [adjacent]
            & ~((F.col("a._tag") == 1) & (F.col("b._tag") == 1)),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )

    if block_cap is not None:
        wcap = Window.partitionBy("_blk").orderBy(F.col(id_col).asc())
        light = (
            light.withColumn("_rn", F.row_number().over(wcap))
            .filter(F.col("_rn") <= block_cap)
            .drop("_rn")
        )
    a, b = light.alias("a"), light.alias("b")
    return a.join(
        b,
        (F.col("a._blk") == F.col("b._blk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    length_bucketing: bool = True,
    block_cap: int | None = None,
) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs over blocked
    candidates (see _ngram_blocked_pairs for the skew-hardening
    scheme). Returns (id_a, id_b, jaccard_sim) >= 0.8.

    Same fetch-payload-late shape as minhash_near_dup: the shingled
    frame is materialized once (materialize(): persist), the blocked
    self-join shuffles only light (id, block, bucket, tag) rows, and
    the shingle arrays come back via id joins for the verify only."""
    base = _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    shingled = _shingled(base, id_col, text_col, 3, "_shingles").transform(materialize)
    cand = _ngram_blocked_pairs(shingled, id_col, 0.8, length_bucketing, block_cap)
    return (
        cand.join(
            shingled.withColumnRenamed(id_col, "id_a").withColumnRenamed(
                "_shingles", "_sa"
            ),
            "id_a",
        )
        .join(
            shingled.withColumnRenamed(id_col, "id_b").withColumnRenamed(
                "_shingles", "_sb"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("_sa"), F.col("_sb")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= 0.8)
    )


def simhash_hamming_pairs(
    fp: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = PORTABLE_SIMHASH_BITS,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, via pigeonhole
    banding: split the ``bits``-bit fingerprint into ``max_hamming+1``
    chunks — any pair within ``max_hamming`` differing bits agrees on
    at least one whole chunk (pigeonhole), so an equi-join on
    (chunk_idx, chunk_value) buckets generates every qualifying pair
    without an all-pairs product. Exact ``bit_count(xor)`` verify on
    the candidates only; multi-chunk agreements dedup via distinct.

    This is the index-side complement of the simhash fingerprints:
    fingerprints compress each doc to one int64, the banded join is
    O(collisions), and the verify is two ints per candidate — the
    cheapest of the near-dup family at 100 TB (MinHash carries 64-int
    signatures; this carries ONE long)."""
    chunks = max_hamming + 1
    if bits % chunks != 0:
        raise ValueError(f"bits={bits} not divisible by chunks={chunks}")
    width = bits // chunks
    mask = (1 << width) - 1
    vals = F.array(
        *[
            F.shiftrightunsigned(F.col(sim_col), i * width).bitwiseAND(
                F.lit(mask)
            )
            for i in range(chunks)
        ]
    )
    entries = fp.select(
        F.col(id_col), F.col(sim_col), F.posexplode(vals).alias("_ci", "_cv")
    )
    if bucket_cap is not None:
        # same duplicate-set backstop as minhash_candidate_pairs: N
        # identical fingerprints share every chunk bucket (N^2/2 pairs
        # from one key); cap each (chunk_idx, chunk_value) bucket at its
        # `cap` smallest ids. Exact-dedup-first remains the primary
        # mitigation; default None keeps oracle-mirrored semantics.
        w = Window.partitionBy("_ci", "_cv").orderBy(F.col(id_col).asc())
        entries = (
            entries.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    a, b = entries.alias("a"), entries.alias("b")
    ham = F.bit_count(
        F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
    )
    return (
        a.join(
            b,
            (F.col("a._ci") == F.col("b._ci"))
            & (F.col("a._cv") == F.col("b._cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def overlap_coefficient_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Containment / overlap-coefficient near-dup pairs:
    |A∩B| / min(|A|,|B|) over distinct word trigrams — the ASYMMETRIC
    complement to Jaccard: a 12-token quote inside a 500-token document
    scores 1.0 here but near 0 on Jaccard, so this is the detector for
    quotes, excerpts, and boilerplate embedded in longer documents
    (where jaccard-style length bucketing is exactly wrong).

    Candidates = pairs sharing at least one RARE shingle (document
    frequency <= the ABSOLUTE cap of 20) from an inverted-index
    equi-join — the sparse-cosine play: the absolute cap bounds the
    join fan-out to sum(df^2) <= 20 * postings, LINEAR in corpus
    size (a fractional cap grows with N and goes quadratic at scale),
    and a pair whose overlap consists ONLY of corpus-common shingles
    carries no containment specificity to begin with.

    On top of the rare-shingle index sits PREFIX FILTERING (the
    set-similarity-join standard, Vernica et al.): one side of the
    candidate join posts only each document's first
    floor((1-t)*n)+2 rare shingles (t = 0.9) in rarest-first (df, shingle)
    canonical order (n = the doc's distinct-shingle count; the +2
    covers float-floor ulp error). A pair reaching overlap >= t on
    its smaller side can miss at most floor((1-t)*n_small) of the
    small side's shingles, so at least one of its first
    floor((1-t)*n_small)+1 rare shingles IS shared — the prefix x
    full join therefore generates every qualifying pair that the
    plain rare-index join would, while skipping most non-qualifying
    candidates (measured 1.5M -> ~0.2M candidates at sf0.1, identical
    verified output). Guarantee bound: exact for docs up to ~2e5
    distinct shingles (beyond that the round(.,6) verify can admit a
    border pair the prefix proof doesn't cover).

    Exact |A∩B| verify runs on candidates only, fetch-payload-late
    (the shingle arrays never enter the candidate shuffle). Returns
    (id_a, id_b, overlap_coef) >= 0.9.
    """
    base = _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    sh = _shingled(base, id_col, text_col, 3, "_shingles").transform(materialize)
    postings = sh.select(
        F.col(id_col), F.size("_shingles").alias("_n"), F.explode("_shingles").alias("_s")
    )
    dfreq = postings.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    # rare feeds TWO consumers (the prefix window and the full posting
    # side of the candidate join) — un-materialized, each re-runs the
    # corpus-scale explode + df-count exchange + cap join (the static
    # plan shows NO ReusedExchange between the two subtrees). r15 calm
    # A/B (3 interleaved rounds x 3 in-JVM reps): medians 4.0-4.8 ->
    # 3.6-4.3 s, minima equal — a small local win inside noise, kept
    # for the structural reason: at scale this halves the heaviest
    # shuffle (the per-shingle df aggregate), same §2.4 rule as every
    # other dedup barrier.
    rare = postings.join(
        dfreq.filter(F.col("_df") <= F.lit(20)), "_s"
    ).transform(materialize)
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("_s").asc())
    prefix = (
        rare.withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.floor((1.0 - 0.9) * F.col("_n")).cast("int") + 2
        )
        .select(F.col(id_col).alias("id_a"), "_s")
    )
    b = rare.select(F.col(id_col).alias("id_b"), "_s")
    cand = (
        prefix.join(b, ["_s"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    score = F.round(
        inter.cast("double")
        / F.least(F.size("_sa"), F.size("_sb")).cast("double"),
        6,
    )
    return (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("_shingles").alias("_sa")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("_shingles").alias("_sb")),
            "id_b",
        )
        .select("id_a", "id_b", score.alias("overlap_coef"))
        .filter(F.col("overlap_coef") >= 0.9)
    )
