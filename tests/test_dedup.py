"""Deduplication operators: exact, MinHash+LSH, SimHash — on planted
duplicates (properties the driver's random tables can't guarantee)."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from engine.operators.dedup import (
    exact_dedup_groups,
    minhash_signature,
    simhash64,
    verified_near_dups,
    with_shingles,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
OTHER = "completely different text with no overlap whatsoever in any shingle at all"


def union_find(n, edges):
    """Single-process connected-components oracle: min-id labels."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, "  THE  quick brown fox jumps over the lazy dog near the old river bank today "),
        # ^ exact dup of 1 after normalization (case + whitespace)
        (4, NEAR),                      # near dup of 1 (one word differs)
        (5, OTHER),
        (6, "short text"),              # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["canonical_id"]: r["n_dups"] for r in exact_dedup_groups(docs).collect()}
    assert out[1] == 3          # docs 1, 2, 3 collapse after normalization
    assert out[4] == 1
    assert out[5] == 1


def test_minhash_signature_matches_python(docs):
    sigs = {r["doc_id"]: r for r in minhash_signature(docs).collect()}
    # identical docs → identical signatures
    assert all(sigs[1][f"sig_{h}"] == sigs[2][f"sig_{h}"] for h in range(8))
    # signature equals the hand-computed minhash
    toks = BASE.split()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    for h in range(8):
        expect = min(
            hashlib.md5(f"{s}#{h}".encode()).hexdigest() for s in shingles
        )
        assert sigs[1][f"sig_{h}"] == expect
    # doc 6 has < 3 tokens → excluded
    assert 6 not in sigs


def test_lsh_near_dups_find_planted_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verified_near_dups(docs, threshold=0.2).collect()
    }
    # exact dups share all bands and jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    # doc 3 differs only by case/whitespace: shingling is case-SENSITIVE
    # by design (normalize upstream if wanted), so jaccard < 1 here
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    # the near-dup pair is found and its jaccard matches the set math
    toks_a, toks_b = BASE.split(), NEAR.split()
    sh_a = {" ".join(toks_a[i : i + 3]) for i in range(len(toks_a) - 2)}
    sh_b = {" ".join(toks_b[i : i + 3]) for i in range(len(toks_b) - 2)}
    expect = round(len(sh_a & sh_b) / len(sh_a | sh_b), 6)
    assert pairs[(1, 4)] == pytest.approx(expect, abs=1e-9)
    # unrelated docs never pair
    assert not any(5 in p for p in pairs)


def test_verify_jaccard_drops_pairs_without_shingles(docs, spark):
    """The shared verification step: a candidate whose doc has no
    shingles (doc 6) or is missing (doc 99) is dropped, not divided by
    an empty union; a real pair keeps its exact Jaccard."""
    from engine.operators.dedup import verify_jaccard

    pairs = spark.createDataFrame(
        [(1, 4), (1, 6), (4, 99)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verify_jaccard(docs, pairs, threshold=0.0).collect()
    }
    assert set(got) == {(1, 4)}
    toks_a, toks_b = BASE.split(), NEAR.split()
    sh_a = {" ".join(toks_a[i : i + 3]) for i in range(len(toks_a) - 2)}
    sh_b = {" ".join(toks_b[i : i + 3]) for i in range(len(toks_b) - 2)}
    assert got[(1, 4)] == round(len(sh_a & sh_b) / len(sh_a | sh_b), 6)


def test_simhash_identical_and_bounded(docs):
    out = {
        r["doc_id"]: r["sim_0"]
        for r in simhash64(docs, num_chunks=1, chunk_bits=16).collect()
    }
    assert out[1] == out[2] == out[3]   # same token set → same simhash
    assert out[1] != out[5]
    assert all(v is None or 0 <= v < (1 << 16) for v in out.values())


def test_word_shingles_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["sh"] for r in with_shingles(df, out="sh").collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []
    assert got[3] == []
    assert got[4] == []


def test_simhash_near_pairs_complete_vs_bruteforce(docs, spark):
    """Banded Hamming join is exact-complete at max_hamming <= 3:
    result set == brute-force all-pairs filter on the same simhashes."""
    from engine.operators.dedup import simhash64, simhash_near_pairs

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    # same token set -> hamming 0 (docs 1,2 identical; doc 3 differs by
    # case, and tokens are case-sensitive here, so it is NOT hamming 0)
    assert got[(1, 2)] == 0
    sims = {
        r["doc_id"]: (r["sim_0"], r["sim_1"], r["sim_2"], r["sim_3"])
        for r in simhash64(docs).collect()
    }
    expect = {}
    ids = sorted(sims)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sims[a], sims[b]))
            if ham <= 3:
                expect[(a, b)] = ham
    assert got == expect


def test_simhash64_chunks_bounded(docs):
    from engine.operators.dedup import simhash64

    for r in simhash64(docs).collect():
        for c in range(4):
            v = r[f"sim_{c}"]
            assert v is None or 0 <= v < (1 << 16)


def test_connected_components_chain_and_singletons(spark):
    """Connected components converge past multi-hop chains (diameter
    3 here — deeper than any sf0.01 cluster) and leave singletons
    labeled by their own id."""
    from engine.operators.dedup import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (6, 7), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(vertices, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 4: 1, 6: 1, 7: 1, 2: 2, 3: 2, 5: 5}


def test_simhash_candidate_envelope(spark):
    """Pins the documented O(n²/2^chunk_bits) random-collision bound of
    the chunked SimHash blocking join (dedup.py): on n unrelated docs
    the candidate count stays within the num_chunks*C(n,2)/2^chunk_bits
    envelope, widening chunks (same md5 bit budget) collapses it, and
    verification never promotes a random collision to a near-dup."""
    import random

    from engine.operators.dedup import simhash_near_pairs

    rng = random.Random(99)
    n = 1500
    rows = [
        (i, " ".join(f"w{rng.randrange(10**9)}" for _ in range(20)))
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def n_candidates(chunk_bits):
        # every candidate passes a Hamming bound of all 4*chunk_bits bits
        return simhash_near_pairs(
            docs, max_hamming=4 * chunk_bits, num_chunks=4, chunk_bits=chunk_bits
        ).count()

    expected16 = 4 * n * (n - 1) / 2 / 2**16  # ≈ 69 at n=1500
    c16 = n_candidates(16)
    assert 0 < c16 < 10 * expected16
    # widening chunks 16 → 24 bits divides the envelope by 2^8
    c24 = n_candidates(24)
    assert c24 <= c16 / 10
    # random collisions never survive Hamming verification
    assert simhash_near_pairs(docs, max_hamming=3).count() == 0


def test_connected_components_star_differential(spark):
    """Large-star/small-star contraction agrees with the union-find
    oracle on a mixed graph: cliques, a chain, singletons."""
    from engine.operators.dedup import connected_components

    edges = [
        (1, 4), (4, 6), (6, 7), (2, 3),          # chain + pair
        (10, 11), (11, 12), (10, 12),            # triangle
        (15, 18), (18, 16), (16, 19), (19, 15),  # cycle
    ]
    vertices = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(vertices, pairs).collect()
    }
    assert star == union_find(20, edges)
    assert star[15] == star[16] == star[18] == star[19] == 15
    assert star[0] == 0 and star[5] == 5  # singletons


def test_connected_components_star_long_chain(spark):
    """The adversarial case for per-round label propagation: a path
    graph of diameter 119. Star contraction converges in O(log²)
    rounds (asserted <= 12 here), and RAISES rather than return
    truncated labels when its round cap runs out first."""
    from engine.operators.dedup import connected_components

    n = 120
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(vertices, pairs, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(n)}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, pairs, max_iter=1)


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property check over random graphs: the distributed CC operator
    reproduces the single-process union-find oracle (min-id labels),
    across densities from forest-sparse to near-complete."""
    import random

    from engine.operators.dedup import connected_components

    rng = random.Random(17)
    for n_edges in (5, 25, 80):
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        exp = union_find(n, edges)
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(vertices, pairs).collect()
        }
        assert got == exp, n_edges


def test_near_dup_clusters_planted(docs):
    """Docs 1/2/3 (exact dups after normalization? no — shingles are
    case-sensitive: 1,2 identical; 3 near; 4 near) cluster together at
    threshold 0.2; unrelated docs stay singletons."""
    from engine.operators.dedup import near_dup_clusters

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(docs, threshold=0.2).collect()
    }
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[5] == 5 and got[6] == 6
