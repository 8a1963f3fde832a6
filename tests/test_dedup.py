"""Ground-truth tests for the dedup family on planted duplicates —
the hash-based operators (MinHash/SimHash) have no SQL oracle, so recall
against known near-duplicates is their correctness contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "the bird in the tall green tree near the old stone wall by the river"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")          # 1-token edit
FAR = (
    "completely different content about spark engines aggregating parquet "
    "tables with hash joins and shuffle partitions at massive scale daily"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),            # exact duplicate of 1
        (3, NEAR),            # near duplicate of 1/2
        (4, FAR),
        (5, "The  quick brown fox... " + BASE[20:]),  # normalization probe
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "doc_id", "text").collect()
    groups = {r["doc_id"]: r["n_duplicates"] for r in out}
    # docs 1,2 are identical; doc 5 normalizes to the same text
    # (caps/punct/whitespace) → one fingerprint group of 3, min id survives
    assert groups[1] == 3
    assert 2 not in groups and 5 not in groups
    assert groups[4] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_prefix_filter_is_exact(spark, docs):
    """The AllPairs prefix-filtered form must emit EXACTLY the naive
    inverted-index join's pairs — the prefix only prunes candidates that
    provably cannot reach the threshold."""
    for t in (0.1, 0.3, 0.5, 0.9):
        naive = {
            (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, prefix_filter=False
            ).collect()
        }
        pruned = {
            (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, prefix_filter=True
            ).collect()
        }
        assert pruned == naive, f"mismatch at threshold {t}"


def test_minhash_lsh_recalls_planted_pairs(spark, docs):
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    # exact duplicates collide in every band; the near-dup pair has
    # jaccard ~0.9 → collision probability ≈ 1 at 16 bands × 4 rows
    assert (1, 2) in got
    assert (1, 3) in got
    assert not any({a, b} == {1, 4} for a, b in got)


def test_minhash_agrees_with_exact_jaccard(spark, docs):
    """LSH+verify must report the same jaccard values as the exact operator
    for every pair it emits (verification IS the exact computation)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    for pair, j in approx.items():
        assert pair in exact
        assert abs(exact[pair] - j) < 1e-12


def test_simhash_near_dups(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(
            docs, "doc_id", "text", max_hamming=10
        ).collect()
    }
    assert got.get((1, 2)) == 0     # identical token multiset → same simhash
    assert (1, 3) in got and got[(1, 3)] <= 10
    assert not any({a, b} == {1, 4} for a, b in got)


def test_decontamination_flags_per_document(spark):
    """One row per corpus doc: an overlapping 4-gram flags it, no overlap
    or too few tokens to shingle leaves it clean."""
    from feature_generation_benchmark_spark.operators.dedup import (
        decontamination_flags,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text with no overlap at all here"),
            (3, "short"),
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [(100, "quick brown fox jumps")], ["doc_id", "text"]
    )
    got = sorted(
        map(
            tuple,
            decontamination_flags(
                corpus, eval_docs, "doc_id", "text", n=4
            ).collect(),
        )
    )
    assert [r[0] for r in got] == [1, 2, 3]
    by_id = {r[0]: r for r in got}
    assert by_id[1][2] is True and by_id[1][1] >= 1   # overlapping 4-gram
    assert by_id[2] == (2, 0, False)                  # no overlap
    assert by_id[3] == (3, 0, False)                  # too short to shingle


def test_incremental_equals_batch_restricted(spark, docs):
    """Incremental mode (new_ids) must return EXACTLY the batch pair set
    restricted to pairs with >=1 new side — nothing lost to the pruning
    asymmetry, no old x old pair emitted, both-new pairs deduplicated."""
    full = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    assert full, "fixture must contain near-dup pairs"
    for new_set in ({1}, {2, 3}, {4}, {1, 2, 3, 5}):
        new_df = spark.createDataFrame(
            [(i,) for i in new_set], "doc_id long"
        )
        inc = {
            (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                docs,
                "doc_id",
                "text",
                n=3,
                threshold=0.3,
                new_ids=new_df,
            ).collect()
        }
        want = {
            p: v
            for p, v in full.items()
            if p[0] in new_set or p[1] in new_set
        }
        assert inc == want, (new_set, inc, want)


def test_incremental_requires_prefix_filter(spark, docs):
    new_df = docs.select("doc_id").limit(1)
    with pytest.raises(ValueError, match="prefix_filter"):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=False, new_ids=new_df
        )


def test_bloom_decontamination_superset_no_false_negatives(spark):
    """Bloom membership can only over-approximate: every exactly-
    contaminated doc is bloom-flagged (no false negatives — structural),
    and the filter is sized so FALSE POSITIVES actually occur on this
    corpus (otherwise the entry would never exercise the approximation
    path it exists to model)."""
    from feature_generation_benchmark_spark.workloads.dedup import (
        decontamination,
        decontamination_bloom,
    )

    sf = "/root/testdata/sf0.01"
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in decontamination(spark, sf).collect()
    }
    bloom = {
        r["doc_id"]: r["contaminated_bloom"]
        for r in decontamination_bloom(spark, sf).collect()
    }
    assert set(exact) == set(bloom)
    false_neg = [d for d, c in exact.items() if c and not bloom[d]]
    assert false_neg == []
    false_pos = [d for d, c in bloom.items() if c and not exact[d]]
    assert len(false_pos) > 0  # 16 at sf0.01 with k=2, 16-bit buckets


def test_bloom_decontamination_short_docs_unflagged(spark):
    """Docs with fewer than n tokens have no shingles → never flagged."""
    from feature_generation_benchmark_spark.operators.dedup import (
        bloom_decontamination_flags,
    )

    corpus = spark.createDataFrame(
        [(1, "too short"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in bloom_decontamination_flags(
            corpus, ev, "doc_id", "text", n=4
        ).collect()
    }
    assert rows[1]["n_bloom_hits"] == 0
    assert rows[1]["contaminated_bloom"] is False
    assert rows[2]["contaminated_bloom"] is True
