"""Tests for queries/linkage.py: exact ssjoin vs brute force, tier
coverage arithmetic, PageRank mass conservation; and the Hamming-banded
near-dup join (ops/dedup.hamming_neardup_pairs) vs brute force."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_setsim_matches_bruteforce(spark):
    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.ops.dedup import shingle_sets
    from osmart_etl_spark.queries.linkage import _SS_T, setsim_exact_join

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in setsim_exact_join(spark, SF_SMALL).collect()
    }

    docs = read_table(spark, SF_SMALL, "documents")
    sets = shingle_sets(docs, "doc_id", "text", k=5)
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sb"))
    ni = F.size(F.array_intersect("sa", "sb")).cast("double")
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (ni / (F.size("sa") + F.size("sb") - ni.cast("bigint"))).alias("j"),
        )
        .filter(F.col("j") >= _SS_T)
        .collect()
    )
    want = {(r.id_a, r.id_b): r.j for r in brute}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k]


def test_setsim_tier_windows_cover_all_pair_sums():
    """The three tiers must leave no gap: every qualifying pair sum is
    inside some tier's pigeonhole-valid window (the recall argument)."""
    from osmart_etl_spark.queries.linkage import (
        _SS_T,
        _SS_TIER1_G,
        _SS_TIER2_G,
        _SS_TIER2_MIN_N,
        _SS_TIER3_MIN_N,
    )

    ratio = (1 + _SS_T) / (1 - _SS_T)  # sum <= ratio * (G-1) is valid
    t1_hi = ratio * (_SS_TIER1_G - 1)
    t2_hi = ratio * (_SS_TIER2_G - 1)
    # Any qualifying pair with sum > t1_hi has its smaller side
    # > t*sum/(1+t) — must be inside tier-2 membership.
    min_small_side = _SS_T * t1_hi / (1 + _SS_T)
    assert min_small_side > _SS_TIER2_MIN_N
    # Any pair with sum > t2_hi has its larger side > sum/2 — must be
    # inside tier-3 membership (brute force).
    assert t2_hi / 2 > _SS_TIER3_MIN_N


def test_pagerank_mass_and_floor(spark):
    from osmart_etl_spark.queries.linkage import _PR_MASS, graph_pagerank

    rows = graph_pagerank(spark, SF_SMALL).collect()
    n = len(rows)
    total = sum(r.rank_scaled for r in rows)
    jump = (15 * _PR_MASS) // (100 * n)
    # Every node keeps at least the teleport mass.
    assert all(r.rank_scaled >= jump for r in rows)
    # Integer truncation only LEAKS mass: total <= MASS, and the leak
    # is bounded by (edges + nodes) units per iteration — far under 1%.
    assert total <= _PR_MASS
    assert total > 0.99 * _PR_MASS


def test_containment_detects_true_embedding(spark, tmp_path):
    """Functional proof for containment_pairs' candidate scheme: a
    truncated copy of a doc (its first half) must be detected as
    contained in the full doc at C ≥ 0.9, even though the symmetric
    Jaccard is only ~0.5 (the case the LSH index provably misses)."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.queries import analytics4

    base = (
        read_table(spark, SF_SMALL, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    halves = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(F.col("text"), 1, (F.length("text") / 2).cast("int")).alias(
            "text"
        ),
        "lang",
        "source",
        "n_chars",
    )
    aug_dir = str(tmp_path / "docs_aug")
    base.unionAll(halves).write.parquet(f"{aug_dir}/documents.parquet")

    out = analytics4.containment_pairs(spark, aug_dir).collect()
    found = {(r.id_small, r.id_big): (r.containment, r.jaccard) for r in out}
    # every half-doc must be found contained in its own full doc
    for i in range(20):
        key = (100000 + i, i)
        assert key in found, f"half of doc {i} not detected"
        c, j = found[key]
        assert c >= 0.9
        assert j < 0.9  # and it is NOT a symmetric near-dup


def test_lsh_recall_audit_finds_all_ground_truth(spark):
    """The production banding config must have recall 1.0 on the audit
    sample at every test SF (16 hashes / 4x4 bands at J>=0.5 — the
    S-curve gives ~99.4% per-pair inclusion at J=0.5, and the sampled
    ground truths here are all J well above threshold); precision is
    intentionally low — banding is a candidate GENERATOR, the verify
    stage owns precision."""
    from osmart_etl_spark.queries.base import REGISTRY
    from tests.conftest import SF_SMALL

    r = REGISTRY["lsh_recall_audit"].fn(spark, SF_SMALL).collect()[0]
    assert r.n_exact > 0, "audit sample must contain ground-truth pairs"
    assert r.n_found == r.n_exact and r.recall == 1.0
    assert r.n_candidates >= r.n_found


def test_banding_completeness_vs_brute_force(spark):
    """Pigeonhole banding must find EVERY pair within max_dist — seeded
    random 64-bit hashes plus planted near-dup clusters, compared
    against the O(n²) definition."""
    from osmart_etl_spark.ops.dedup import hamming_neardup_pairs

    rng = random.Random(42)
    rows = []
    base_hashes = [rng.getrandbits(64) for _ in range(60)]
    hid = 0
    for h in base_hashes:
        rows.append((hid, h - (1 << 64) if h >= 1 << 63 else h))
        hid += 1
        if rng.random() < 0.4:  # planted near-dup: flip <=3 bits
            flipped = h
            for _ in range(rng.randint(0, 3)):
                flipped ^= 1 << rng.randrange(64)
            rows.append(
                (hid, flipped - (1 << 64) if flipped >= 1 << 63 else flipped)
            )
            hid += 1
    df = spark.createDataFrame(rows, "id bigint, h bigint")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_neardup_pairs(df, "id", "h", max_dist=3).collect()
    }
    want = set()
    for i, (ia, ha) in enumerate(rows):
        for ib, hb in rows[i + 1 :]:
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want.add((min(ia, ib), max(ia, ib), d))
    assert got == want and len(want) > 0


def test_hamming_neardup_rejects_degenerate_banding(spark):
    """max_dist+1 > bits would make width 0 (all-zero masks → one bucket
    per band → silent O(n²) cross join); must raise at entry, as must
    bits outside 1..64 and negative max_dist (round-11 ADVICE)."""
    from osmart_etl_spark.ops.dedup import hamming_neardup_pairs

    df = spark.createDataFrame([(1, 0), (2, 1)], "id bigint, h bigint")
    with pytest.raises(ValueError, match="bands cannot partition"):
        hamming_neardup_pairs(df, "id", "h", max_dist=8, bits=4)
    with pytest.raises(ValueError, match="bits"):
        hamming_neardup_pairs(df, "id", "h", max_dist=3, bits=65)
    with pytest.raises(ValueError, match="max_dist"):
        hamming_neardup_pairs(df, "id", "h", max_dist=-1)
