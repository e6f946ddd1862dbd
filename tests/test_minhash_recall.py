"""The minhash recall boundary, pinned (VERDICT r3 item 6).

x_dedup_near_minhash's EXACT gate rests on the banding math documented
in its docstring (operators/dedup.py): with N_BANDS bands of
ROWS_PER_BAND rows, a pair at Jaccard J becomes an LSH candidate with
probability 1-(1-J^ROWS_PER_BAND)^N_BANDS over the choice of hash
family.  The family here is seeded and deterministic, so for the FIXED
fixture the gate is exact — but only because every fixture ground-truth
pair sits where the analytic miss probability is negligible (measured
worst pair: J=0.889 -> miss ~4e-4).

This module makes that assumption break loudly instead of rotting
silently:

* a fixture guard re-measures the ground-truth Jaccard distribution of
  the documents tables and fails with remediation guidance if any pair
  has analytic miss probability > 1% (J below ~0.80);
* for sf0.001 it additionally runs the real candidate pipeline and
  asserts deterministic full recall on today's fixture;
* a synthetic corpus spanning the knee (J ~ 0.55-1.0) checks the
  contract's shape: every miss of a ground-truth pair is detected by
  differencing against ground truth, and any miss lies in the
  documented legitimate-miss region (analytic miss probability above
  1e-6 — pairs safer than that are all caught by the seeded family).
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

from kafka_connect_sse_spark.operators.dedup import (
    N_BANDS,
    ROWS_PER_BAND,
    SHINGLE_K,
    minhash_candidates,
)

REPO = Path(__file__).resolve().parents[1]


def miss_prob(j: float) -> float:
    """Analytic probability the banded LSH never buckets a pair at
    Jaccard j (over the random choice of hash family)."""
    return (1.0 - j**ROWS_PER_BAND) ** N_BANDS


@pytest.fixture(scope="module")
def spark():
    from kafka_connect_sse_spark.session import get_spark

    return get_spark(shuffle_partitions=8)


_TRUTH_SQL = f"""
WITH t AS (SELECT doc_id, str_split(text, ' ') AS l
           FROM read_parquet('{{path}}')),
sh AS (SELECT doc_id,
         CASE WHEN len(l) >= {SHINGLE_K} THEN
           list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                          for i in range(1, len(l) - {SHINGLE_K - 2})])
         ELSE [] END AS s
       FROM t)
SELECT a.doc_id, b.doc_id,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(a.s || b.s)) AS j
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(a.s || b.s)) >= 0.5
"""


def _ground_truth(path: str):
    return duckdb.sql(_TRUTH_SQL.format(path=path)).fetchall()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fixture_pairs_have_negligible_analytic_miss_probability(sf):
    rows = _ground_truth(f"/root/testdata/{sf}/documents.parquet")
    assert rows, "fixture lost its near-dup pairs entirely"
    risky = [(a, b, j, miss_prob(j)) for a, b, j in rows if miss_prob(j) > 0.01]
    assert not risky, (
        "fixture now contains near-dup pairs the banded LSH has a > 1% "
        f"chance of missing: {risky[:5]} — at {N_BANDS} bands x "
        f"{ROWS_PER_BAND} rows the x_dedup_near_minhash EXACT gate is no "
        "longer trustworthy on this fixture; widen bands (more, shorter) "
        "or lower the verify threshold (operators/dedup.py docstring)"
    )


def test_fixture_recall_is_deterministically_full_sf0001(spark):
    """On today's fixture the seeded family catches every true pair —
    the same fact the driver's EXACT oracle asserts, localized here so a
    recall regression points at banding, not at a generic hash mismatch."""
    truth = {
        (a, b)
        for a, b, _ in _ground_truth("/root/testdata/sf0.001/documents.parquet")
    }
    from kafka_connect_sse_spark.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    cand = {(r.doc_a, r.doc_b) for r in minhash_candidates(d).collect()}
    assert truth <= cand, f"LSH missed fixture pairs: {truth - cand}"


def _overlap_doc_pair(pair_id: int, shared: int, unique: int):
    """Two docs sharing a `shared`-token prefix then diverging into
    `unique` private tokens each; tokens globally unique per pair so
    cross-pair Jaccard is 0."""
    p = f"p{pair_id}"
    common = [f"{p}c{i}" for i in range(shared)]
    a = common + [f"{p}a{i}" for i in range(unique)]
    b = common + [f"{p}b{i}" for i in range(unique)]
    return " ".join(a), " ".join(b)


def _shingle_set(text: str) -> set:
    toks = text.split(" ")
    return {
        " ".join(toks[i : i + SHINGLE_K])
        for i in range(len(toks) - SHINGLE_K + 1)
    }


def _jaccard(x: str, y: str) -> float:
    sx, sy = _shingle_set(x), _shingle_set(y)
    return len(sx & sy) / len(sx | sy)


def test_borderline_misses_detected_and_safe_pairs_always_caught(spark):
    """Synthetic corpus spanning the knee: pairs with analytic miss
    probability below 1e-6 (J >~ 0.97) must be caught; any miss of a
    >= 0.5 ground-truth pair must be (a) detected by differencing
    against ground truth and (b) inside the documented legitimate-miss
    region (miss probability > 1e-6)."""
    docs = []
    truth: dict[tuple[int, int], float] = {}
    did = 0
    # sweep shared-prefix sizes: J from ~0.55 up to 1.0
    for k, (shared, unique) in enumerate(
        [(200, 0), (200, 1), (400, 6), (120, 8), (90, 10), (70, 12),
         (60, 14), (50, 16), (45, 18)]
    ):
        a, b = _overlap_doc_pair(k, shared, unique)
        docs.append((did, a))
        docs.append((did + 1, b))
        truth[(did, did + 1)] = _jaccard(a, b)
        did += 2
    # noise docs with no shared shingles
    for i in range(20):
        docs.append((did, " ".join(f"n{i}x{j}" for j in range(30))))
        did += 1

    js = sorted(truth.values())
    assert js[0] < 0.8 and js[-1] == 1.0, "corpus must span the knee"

    df = spark.createDataFrame(docs, "doc_id long, text string")
    cand = {(r.doc_a, r.doc_b) for r in minhash_candidates(df).collect()}

    true_pairs = {p for p, j in truth.items() if j >= 0.5}
    safe = {p for p, j in truth.items() if miss_prob(j) < 1e-6}
    assert safe, "corpus must include pairs safely above the knee"

    missed_safe = safe - cand
    assert not missed_safe, (
        f"pairs with < 1e-6 analytic miss probability missed: "
        f"{[(p, truth[p]) for p in missed_safe]}"
    )

    # every miss is detectable and lies in the legitimate-miss region
    missed = true_pairs - cand
    for p in missed:
        assert miss_prob(truth[p]) > 1e-6, (p, truth[p], miss_prob(truth[p]))

    # candidates between unrelated docs are fine pre-verify; the operator
    # filters with exact Jaccard downstream.  Sanity: re-deriving Jaccard
    # for caught true pairs agrees with ground truth.
    texts = dict(docs)
    for a, b in cand & true_pairs:
        assert _jaccard(texts[a], texts[b]) == pytest.approx(truth[(a, b)])


_TRUTH_SQL_INVERTED = f"""
WITH t AS (SELECT doc_id, str_split(text, ' ') AS l
           FROM read_parquet('{{path}}')),
sh AS (SELECT doc_id,
         CASE WHEN len(l) >= {SHINGLE_K} THEN
           list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                          for i in range(1, len(l) - {SHINGLE_K - 2})])
         ELSE [] END AS s
       FROM t),
ex AS (SELECT doc_id, len(s) AS ns, UNNEST(s) AS g FROM sh),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         ANY_VALUE(a.ns) AS na, ANY_VALUE(b.ns) AS nb, COUNT(*) AS c
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT da, db, CAST(c AS DOUBLE) / (na + nb - c) AS j
FROM common WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5
"""


def test_generated_sf1_fixture_stays_in_high_recall_regime():
    """The repo-generated sf1 tier (tools/gen_fixture.py) must satisfy the
    same analytic recall bound as the driver fixtures — its near-dup
    planting (ordered insertion into >=60-token bases) exists precisely
    to keep every planted pair above the banded-LSH knee.  Uses the
    inverted-index ground truth (the cross-join form is intractable at
    50k docs).  Skipped when the tier has not been generated."""
    import os

    path = str(REPO / "testdata" / "sf1" / "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("sf1 tier not generated (tools/gen_fixture.py --sf 1)")
    rows = duckdb.sql(_TRUTH_SQL_INVERTED.format(path=path)).fetchall()
    assert rows, "sf1 fixture lost its near-dup pairs entirely"
    risky = [(a, b, j, miss_prob(j)) for a, b, j in rows if miss_prob(j) > 0.01]
    assert not risky, (
        "generated sf1 fixture contains pairs below the high-recall "
        f"regime: {risky[:5]} — regenerate with a longer near-dup base "
        "floor (tools/gen_fixture.py gen_documents)"
    )
