"""Deduplication operators for large-scale corpus curation.

Five flavors, from exact to approximate (SURVEY §7.2-M8; these are engine
extensions — the reference has no dedup surface):

- exact:       fingerprint (md5 of normalized text) → keep min-id per group
- n-gram Jaccard: exact pairwise similarity via shingle inverted index
- MinHash+LSH: banded signature bucketing → candidates → exact verify
- SimHash:     64-bit sign-hash, banded hamming candidates
- embedding:   cosine near-dup pairs (see operators/similarity.py)

Scale posture: every flavor is shuffle-bounded joins/aggregations on
(token|shingle|band) keys — no driver-side state, no O(n²) step except the
final verification on *candidate pairs* (whose count LSH controls). Exact
pairwise Jaccard is provided as the small-scale oracle-checkable baseline;
MinHash/LSH is the 100 TB path.

Storage contract (same as ``graph.pagerank``): the shingle/signature
frames these operators ``.cache()`` are REFERENCED MULTIPLE TIMES inside
one returned plan and stay pinned for the session once materialized —
a long-lived session interleaving many dedup queries should call
``spark.catalog.clearCache()`` (or unpersist via ``spark.sparkContext``)
between workloads; the cache is an executor-storage trade the CALLER
owns, not a leak the operator can release itself (the plan is lazy —
unpersisting before consumption would defeat the reuse).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.textfns import (
    fingerprint_md5,
    tokens,
    word_ngrams,
)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, fingerprint_col: str = "fingerprint"
) -> DataFrame:
    """One surviving row (min id) per normalized-content fingerprint."""
    fp = df.select(F.col(id_col), fingerprint_md5(text_col).alias(fingerprint_col))
    return fp.groupBy(fingerprint_col).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_duplicates")
    )


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) exploded DISTINCT word-n-gram shingle index.

    The token array is materialized in its own projection BEFORE the
    n-gram ``transform`` so the regex split runs once per document —
    referencing ``tokens(text)`` inside the shingling lambda would
    re-evaluate the split per array element (O(tokens²) regex work).
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return toked.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col("__toks"), n))
        ).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = True,
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct word-n-gram shingle sets.

    Candidate generation is an inverted shingle-index self-join (only pairs
    sharing ≥1 shingle are ever materialized — never a cross join). With
    ``prefix_filter`` (the at-scale default) it applies the AllPairs/PPJoin
    prefix principle: order shingles by ascending global frequency; a pair
    with Jaccard ≥ t must share an element within each doc's first
    ``|d| − ⌈t·|d|⌉ + 1`` shingles (overlap ⌈t·|d|⌉ is implied by the
    threshold, and per-set prefixes are supersets of the pair-level
    requirement), so only those prefixes enter the join. Frequent shingles
    — exactly the ones that explode the naive join — are the ones pruned.
    Verification against the FULL shingle sets is exact either way.

    Returns (id_a, id_b, common, jaccard) with id_a < id_b and
    jaccard ≥ threshold. Jaccard = |A∩B| / (|A|+|B|−|A∩B|) — exact integer
    counts, deterministic division.

    ``new_ids`` (requires ``prefix_filter``) switches to INCREMENTAL
    mode — the daily-increment dedup pattern at 100 TB: one side of the
    candidate join is restricted to the given new-document ids, so the
    plan generates only new×all candidates and never re-verifies
    old×old pairs (which a previous run already emitted). Returns
    exactly the pairs with ≥1 new side; the prefix + positional bounds
    are pair-symmetric, so pruning stays exact, and both-new pairs are
    normalized + deduplicated.

    Frequency model (the 100× probe's only superlinear
    leg was the corpus-wide vocabulary aggregate + corpus×vocab shuffle
    join that attached exact document frequencies): the prefix principle
    is exact under ANY deterministic global total order — frequency
    ordering is a pruning HEURISTIC, not a correctness requirement — so
    the order key is now ``(sampled_df, shingle_hash)`` from a BOUNDED
    heavy-hitter model: a deterministic 1/8 doc sample's shingles,
    aggregated (sample-sized, not corpus-sized) and capped to the top
    2¹⁶ by frequency (TakeOrdered — never a full sort). The model
    broadcast-joins onto the shingle index (absent ⇒ df 0, ordered by
    hash among themselves), so NO corpus-sized frame ever shuffles on
    the shingle key before candidate generation, and the vocabulary
    aggregate can no longer spill regardless of corpus size. Hot
    shingles — the ones that blow up the candidate join — are by
    definition heavy in any uniform doc sample, so they still sort last
    and fall out of the prefixes.
    """
    from pyspark.sql.window import Window

    if new_ids is not None and not prefix_filter:
        raise ValueError(
            "incremental mode (new_ids) requires prefix_filter=True — "
            "the un-pruned baseline has no incremental formulation"
        )

    # join on 8-byte shingle hashes, not ~20-byte strings: same equality
    # semantics (64-bit collision odds are negligible at any corpus size
    # that fits a cluster), much lighter shuffle. Hashing happens on the
    # EXPLODED rows (whole-stage-codegen'd) — hashing inside an array
    # ``transform`` lambda falls out of codegen and re-evaluates the
    # upstream token split per element (~4× the whole pipeline's cost,
    # measured at sf0.1).
    sh = (
        doc_shingles(df, id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
        .cache()
    )

    if prefix_filter:
        model = (
            sh.filter(
                F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(8))
                == 0
            )
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .orderBy(F.col("__df").desc(), "shingle")
            .limit(1 << 16)
        )
        by_id = Window.partitionBy(id_col)
        ranked = (
            sh.join(F.broadcast(model), "shingle", "left")
            .withColumn("__df", F.coalesce("__df", F.lit(0)))
            # row_number and the per-doc size share ONE window exchange
            # (same partitioning) — no separate sizes join here
            .withColumn(
                "__pos",
                F.row_number().over(by_id.orderBy("__df", "shingle")),
            )
            .withColumn("n_shingles", F.count(F.lit(1)).over(by_id))
        )
        # ε-guard keeps float noise in t·|d| from inflating the ceil and
        # shortening the prefix (false negatives); verification forgives
        # any extra candidates, never a missed one
        alpha = F.ceil(F.lit(threshold) * F.col("n_shingles") - F.lit(1e-9))
        # persist: prefix feeds BOTH sides of the candidate self-join —
        # without the cut the window sort above it executes twice (the
        # dominant 100× probe cost). MEMORY_AND_DISK (PySpark stores
        # serialized blocks, which spill under pressure anyway) beat
        # DISK_ONLY on the 100× fixture under a halved 12 GB unified
        # pool: 116.5/96.6 s vs 129.0/125.2 s interleaved, ~17% faster;
        # at sf0.1 the two are within noise (3.44 vs 3.19 / 4.14 vs 4.51 s
        # medians-of-5 across the two prefix consumers).
        from pyspark import StorageLevel

        prefix = (
            ranked.filter(
                F.col("__pos") <= F.col("n_shingles") - alpha + F.lit(1)
            )
            .select(F.col(id_col), "shingle", "__pos", "n_shingles")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        a_src = prefix
        if new_ids is not None:
            # incremental: the a-side of the candidate join carries only
            # NEW docs, so candidates are new×all — old×old never joins.
            # new_ids is increment-dim; broadcast-friendly via AQE.
            a_src = prefix.join(
                new_ids.select(id_col).distinct(), id_col, "left_semi"
            )
        a = a_src.select(
            F.col(id_col).alias("id_a"),
            "shingle",
            F.col("__pos").alias("__pa"),
            F.col("n_shingles").alias("__na"),
        )
        b = prefix.select(
            F.col(id_col).alias("id_b"),
            "shingle",
            F.col("__pos").alias("__pb"),
            F.col("n_shingles").alias("__nb"),
        )
        # PPJoin positional filter on top of the prefix principle: a pair
        # matching at (frequency-ordered) positions pa/pb can still reach
        # overlap at most 1 + min(|A|−pa, |B|−pb); Jaccard ≥ t needs
        # overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉, so pairs whose upper bound falls
        # short never reach verification. A pair is kept if ANY of its
        # prefix matches passes the bound — a superset of PPJoin's
        # first-match rule, so no false negatives; the same ε-guard keeps
        # float noise from inflating the ceil (which would over-prune).
        pair_alpha = F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("__na") + F.col("__nb"))
            - F.lit(1e-9)
        )
        ubound = F.lit(1) + F.least(
            F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
        )
        if new_ids is None:
            cand = (
                a.join(b, on="shingle")
                .filter(F.col("id_a") < F.col("id_b"))
                .filter(ubound >= pair_alpha)
                .select("id_a", "id_b")
                .distinct()
            )
        else:
            # a-side is new-only, so require only distinct ids; the
            # prefix principle and the positional bound are symmetric in
            # (a, b), so pruning before normalization loses no pair.
            # Normalize order afterwards (both-new pairs arrive twice).
            cand = (
                a.join(b, on="shingle")
                .filter(F.col("id_a") != F.col("id_b"))
                .filter(ubound >= pair_alpha)
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
                .distinct()
            )
        # verify against the FULL sets — but as per-doc hash ARRAYS, not
        # exploded rows: candidates × avg set size explodes (sf0.1 skew
        # fixture: 718k pairs → ~140M rows through the exploded join);
        # joining one array row per doc side and intersecting JVM-side
        # (array_intersect) moves only |pairs| + |docs| rows. At corpus
        # scale the array table is one row per doc — AQE broadcasts it
        # when small, hash-joins it when not.
        # NOT cached: the per-doc collect_list over the cached sh is a
        # cheap map-combined agg; storing a second corpus-sized frame
        # costs more memory pressure than the recompute (100× probe)
        arrs = sh.groupBy(id_col).agg(
            F.array_sort(F.collect_list("shingle")).alias("__arr")
        )
        common = (
            cand.join(
                arrs.select(
                    F.col(id_col).alias("id_a"), F.col("__arr").alias("__arr_a")
                ),
                "id_a",
            )
            .join(
                arrs.select(
                    F.col(id_col).alias("id_b"), F.col("__arr").alias("__arr_b")
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__arr_a", "__arr_b")).alias(
                    "common"
                ),
                # the arrays ARE the per-doc distinct shingle sets, so
                # their sizes ARE n_shingles — read them here instead of
                # aggregating a separate `sizes` frame and joining it
                # twice in the finalize (−1 corpus agg, −2 pair-table
                # joins)
                F.size("__arr_a").alias("na"),
                F.size("__arr_b").alias("nb"),
            )
            .filter(F.col("common") > 0)
        )
        return _jaccard_threshold(common, threshold)
    # without the prefix: count intersections straight off the
    # inverted-index self-join (one pass, no candidate materialization)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_finalize(common, sizes, id_col, threshold)


def _jaccard_finalize(
    common: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, common) × per-doc shingle counts → thresholded
    ``(id_a, id_b, common, jaccard)`` — the output contract shared by the
    exact and MinHash-LSH paths (one copy, so a contract fix cannot miss
    a path). na/nb are DOC-dim
    (corpus-sized): no broadcast hint — AQE decides from runtime stats."""
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb"))
    return _jaccard_threshold(common.join(na, "id_a").join(nb, "id_b"), threshold)


def _jaccard_threshold(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, common, na, nb) → thresholded
    ``(id_a, id_b, common, jaccard)`` — the shared arithmetic tail; the
    prefix path arrives here with na/nb read off its verification arrays
    (no sizes join), the other paths via :func:`_jaccard_finalize`."""
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.col("common").cast("long").alias("common"),
            (
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def _banded_candidate_pairs(
    frame: DataFrame, id_col: str, bucket_cols: list
) -> DataFrame:
    """Explode per-band bucket columns and self-join on (band, bucket)
    equality into distinct ``(id_a < id_b)`` candidate pairs — the LSH
    banding core shared by the MinHash and SimHash paths."""
    banded = frame.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), c.alias("bucket"))
                    for b, c in enumerate(bucket_cols)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def decontamination_flags(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Training-data decontamination: flag corpus documents sharing any
    word ``n``-gram with an eval/benchmark document (the standard overlap
    rule for test-set leakage removal).

    Scale posture: the eval side collapses to a DISTINCT shingle set —
    benchmarks are dim-sized, so it broadcasts and the corpus side is one
    scan + broadcast hash join + one groupBy(id); the 100 TB corpus is
    never shuffled on shingles.

    Output: one row per corpus doc — ``n_contaminated_shingles`` (distinct
    overlapping n-grams) and a boolean ``contaminated``.
    """
    c_sh = doc_shingles(corpus, id_col, text_col, n)
    e_sh = F.broadcast(
        doc_shingles(eval_docs, id_col, text_col, n).select("shingle").distinct()
    )
    # doc_shingles is distinct per doc: count == countDistinct
    hits = c_sh.join(e_sh, "shingle").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_contaminated_shingles")
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_shingles", F.lit(0))
            .cast("long")
            .alias("n_contaminated_shingles"),
            (
                F.coalesce("n_contaminated_shingles", F.lit(0)) > 0
            ).alias("contaminated"),
        )
    )


def bloom_decontamination_flags(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    k: int = 2,
    hex_chars: int = 4,
) -> DataFrame:
    """Decontamination via a blocked Bloom filter (Bloom 1970; blocked
    variant à la Putze/Sanders/Singler 2007) over the eval shingle
    set — the compact-filter variant of :func:`decontamination_flags` for
    when even the DISTINCT eval shingle set is too wide to broadcast as
    full strings (each n-gram shingle is ~tens of bytes; a bucket id is
    ``hex_chars``/2 bytes).

    The filter is ``k`` independent bucket arrays of ``16^hex_chars``
    buckets; shingle *s* maps into array *i* at bucket
    ``md5(i ‖ ':' ‖ s)[:hex_chars]``. A corpus shingle is bloom-positive
    iff ALL ``k`` of its buckets are occupied by some eval shingle — no
    false negatives by construction (every eval shingle occupies its own
    buckets); false positives at rate ≈ fill_ratio**k, the classic Bloom
    trade documented per deployment by sizing ``hex_chars``/``k`` against
    |eval shingles|. md5-derived bucketing keeps the whole filter
    bit-identical across Spark and DuckDB, so the entry is FULLY
    hash-gated cross-engine (unlike engine-specific bloom builtins).

    Scale shape: the broadcast payload is the distinct (i, bucket) set —
    ``k × |eval shingles|`` fixed-width ids, ~10× smaller than the shingle
    strings themselves; the corpus is one scan + broadcast semi-join +
    two map-combined groupBys, never shuffled on shingles.

    Output: one row per corpus doc — ``n_bloom_hits`` (bloom-positive
    distinct shingles) and ``contaminated_bloom``. Superset of the exact
    flags (`tests/test_dedup.py` pins the no-false-negative property).
    """
    idx = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("i")

    def bucket(sh: Column) -> Column:
        return F.substring(
            F.md5(F.concat_ws(":", F.col("i").cast("string"), sh)),
            1,
            hex_chars,
        )

    e_sh = doc_shingles(eval_docs, id_col, text_col, n).select(
        "shingle"
    ).distinct()
    eval_buckets = (
        e_sh.select("shingle", idx)
        .select("i", bucket(F.col("shingle")).alias("pos"))
        .distinct()
    )
    c_sh = doc_shingles(corpus, id_col, text_col, n)
    c_pos = c_sh.select(id_col, "shingle", idx).select(
        id_col, "shingle", "i", bucket(F.col("shingle")).alias("pos")
    )
    # (i, pos) is distinct on the eval side → a corpus shingle matches at
    # most once per array; positive iff all k arrays hit
    positive = (
        c_pos.join(F.broadcast(eval_buckets), ["i", "pos"])
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("nm"))
        .filter(F.col("nm") == k)
    )
    hits = positive.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bloom_hits")
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bloom_hits", F.lit(0))
            .cast("long")
            .alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias(
                "contaminated_bloom"
            ),
        )
    )


def minhash_signatures(
    shingles: DataFrame,
    id_col: str,
    num_perm: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One row per id with ``num_perm`` min-hash values. Permutation *i* is
    simulated as ``xxhash64(i, shingle)`` (seeded 64-bit hash — the standard
    one-hash-function-per-band trick); the signature is a single group-by
    with ``num_perm`` min-aggregates — one shuffle, map-side combined.

    (A/B note: a universal-hash family ``(a_i·h + b_i) mod 2³¹−1``
    over one shared base hash was tried to shrink the aggregate's
    per-row work; a 20M-row warm microbench read it NO faster — the
    min-buffer update, not the 8-byte xxhash64, dominates — so the
    simpler per-perm seeded hash stays.)

    ``hash_fn="md5"`` swaps every hash for ``md5(i || ':' || shingle)`` with
    lexicographic string min — slower (hex strings beat 64-bit ints at
    nothing) but bit-identical in DuckDB, so the WHOLE pipeline including
    banding becomes oracle-checkable cross-engine. Production stays on
    xxhash64."""
    if hash_fn == "md5":
        aggs = [
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
            ).alias(f"mh_{i}")
            for i in range(num_perm)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
            for i in range(num_perm)
        ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Band the signature (``bands`` bands × ``num_perm/bands`` rows), hash
    each band, and emit distinct id pairs sharing any band bucket.

    Probability a pair with Jaccard s collides ≥ 1 − (1 − s^r)^b.
    """
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError("bands must divide num_perm")
    if hash_fn == "md5":
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias(f"band_{b}")
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(
                F.lit(b), *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias(f"band_{b}")
            for b in range(bands)
        ]
    return _banded_candidate_pairs(signatures, id_col, band_cols)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    internals: dict | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → banded
    candidates → EXACT Jaccard verification of candidates only.

    Output schema matches :func:`ngram_jaccard_pairs`; at any scale the
    candidate set (not n²) bounds the verification join. ``hash_fn="md5"``
    keeps raw shingle strings (no xxhash64 pre-hash) so every stage is
    reproducible in DuckDB SQL.

    ``internals`` (optional out-param): receives the pipeline's
    CACHED doc-sized frames — ``"arrs"``, the per-doc sorted shingle
    array table (one row per doc with ≥ 1 ``n``-gram, i.e. ≥ ``n``
    tokens) — so gating wrappers can derive eligibility from the SAME
    cached corpus pass instead of re-tokenizing the corpus.
    """
    sh = doc_shingles(df, id_col, text_col, n)
    if hash_fn != "md5":
        sh = sh.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    sh = sh.cache()
    # cache the DOC-sized signature table: the banding self-join below
    # references the signature subtree on both sides and ReuseExchange
    # does not fire across the BroadcastExchange side, so without the
    # cache the corpus-sized 64-min aggregation executes TWICE per run
    # (seen in the captured plan: two HashAggregate[64 mins] pairs over
    # the same InMemoryTableScan). One row of 65 longs per doc — smaller
    # than the sh cache that already anchors this pipeline.
    sig = minhash_signatures(sh, id_col, num_perm, hash_fn=hash_fn).cache()
    cand = lsh_candidate_pairs(sig, id_col, num_perm, bands, hash_fn=hash_fn)

    # verify against the FULL sets as per-doc shingle ARRAYS (the same
    # rewrite the prefix path carries): the exploded form shuffled the
    # whole shingle index twice (join on id_a, then on (id_b, shingle))
    # plus a separate per-doc sizes aggregate + two pair-table joins;
    # here ONE collect_list agg builds the doc-side array table, the
    # candidate list joins it twice (AQE broadcasts it when small), and
    # common/na/nb all read off the arrays JVM-side. Identical output:
    # doc_shingles is distinct per doc, so |array_intersect| == the
    # exploded join's per-pair count, and a zero-common candidate is
    # dropped by the same jaccard >= threshold filter that dropped its
    # absent row before (threshold > 0 by contract).
    # cache the DOC-sized array table too: the verify joins reference it
    # on both pair sides and each side otherwise re-runs the collect_list
    # aggregation over the cached sh (two ObjectHashAggregate pairs in
    # the captured plan).
    arrs = sh.groupBy(id_col).agg(
        F.array_sort(F.collect_list("shingle")).alias("__arr")
    ).cache()
    if internals is not None:
        internals["arrs"] = arrs
    common = (
        cand.join(
            arrs.select(
                F.col(id_col).alias("id_a"), F.col("__arr").alias("__arr_a")
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col(id_col).alias("id_b"), F.col("__arr").alias("__arr_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__arr_a", "__arr_b")).alias("common"),
            F.size("__arr_a").alias("na"),
            F.size("__arr_b").alias("nb"),
        )
        .filter(F.col("common") > 0)
    )
    return _jaccard_threshold(common, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: 64-bit int from the first 16 hex chars of md5 — the cross-engine-
#: reproducible hash family (DuckDB derives the same bits from the hex
#: digest); shiftleft|or packing wraps safely under ANSI mode.
_MD5_PACK64 = (
    "transform(__toks, t -> "
    "shiftleft(cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint), 32) | "
    "cast(conv(substr(md5(t), 9, 8), 16, 10) as bigint))"
)


def simhash_bits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc SimHash as ``bits/16`` packed 16-bit band integers.

    Classic Charikar sign-hash: token instance votes +1/−1 on each bit of
    its 64-bit hash; bit = 1 iff the vote sum is positive (⟺ ones > n/2).
    Packing into 16-bit bands serves both banding (hamming ≤ 3 ⇒ ≥ 1 equal
    band among 4, pigeonhole) and cheap hamming via bit_count(xor).

    Physical shape: tokenization + xxhash64 stay JVM-side (one hash array
    per doc, no explode/shuffle); the 64-way bit-vote tally is one
    Arrow-batched numpy pass — a 64-column conditional-sum hash aggregate
    over exploded tokens costs ~|tokens|×64 codegen branches plus a
    shuffle, the vectorized tally is embarrassingly parallel per batch.
    Docs with zero tokens are excluded (parity with the explode form).

    ``hash_fn="md5"`` swaps the per-token sign hash for the first 64 bits
    of md5 — bit-identical in DuckDB, making the whole pipeline
    oracle-checkable cross-engine (same trick as
    :func:`minhash_signatures`). Production stays on xxhash64.
    """
    from pyspark.sql.functions import pandas_udf

    n_bands = bits // 16
    if n_bands * 16 != bits:
        raise ValueError("bits must be a multiple of 16")

    @pandas_udf("array<long>")
    def _bands(hs: pd.Series) -> pd.Series:
        arrs = hs.to_numpy()
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if len(arrs) == 0 or lens.sum() == 0:
            return pd.Series([np.zeros(n_bands, dtype=np.int64)] * len(arrs))
        flat = np.concatenate(arrs).astype(np.int64).view(np.uint64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        ones = np.empty((len(arrs), bits), dtype=np.int64)
        for b in range(bits):
            ones[:, b] = np.add.reduceat((flat >> np.uint64(b)) & np.uint64(1), starts)
        bit_set = (2 * ones) > lens[:, None]
        weights = (1 << np.arange(16, dtype=np.int64))
        out = np.empty((len(arrs), n_bands), dtype=np.int64)
        for band in range(n_bands):
            out[:, band] = bit_set[:, band * 16:(band + 1) * 16] @ weights
        return pd.Series(list(out))

    if hash_fn == "md5":
        hash_expr = F.expr(_MD5_PACK64)
    else:
        hash_expr = F.transform("__toks", lambda t: F.xxhash64(t))
    hashed = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(F.col(id_col), hash_expr.alias("__hs"))
    )
    banded = hashed.select(F.col(id_col), _bands("__hs").alias("__b"))
    return banded.select(
        F.col(id_col),
        *[F.col("__b")[i].alias(f"sh_band_{i}") for i in range(n_bands)],
    )


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    internals: dict | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``
    (≤ 3 with 4×16-bit bands ⇒ candidate recall is exact by pigeonhole).

    ``internals`` (optional out-param): receives ``"bits"``, the
    CACHED doc-sized band table (one row per doc with ≥ 1 token), so
    gating wrappers can derive eligibility from the same cached corpus
    pass instead of re-tokenizing."""
    sh = simhash_bits(df, id_col, text_col, hash_fn=hash_fn).cache()
    if internals is not None:
        internals["bits"] = sh
    n_bands = 4
    cand = _banded_candidate_pairs(
        sh, id_col, [F.col(f"sh_band_{b}") for b in range(n_bands)]
    )
    sa = sh.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"sh_band_{i}").alias(f"a_{i}") for i in range(n_bands)],
    )
    sb = sh.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"sh_band_{i}").alias(f"b_{i}") for i in range(n_bands)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a_{i}").bitwiseXOR(F.col(f"b_{i}")))
        for i in range(n_bands)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )
