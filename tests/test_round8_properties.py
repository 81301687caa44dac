"""Property tests for the round-8 operators (the reference's
QuickCheck style, SURVEY.md §5.3): each op is checked against an
ENGINE-INDEPENDENT python reference over hypothesis-generated inputs —
a third implementation, so agreement is evidence beyond the DuckDB
oracle pair.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

P = 2_147_483_647
COEFFS = [(2, 1), (3, 7), (5, 13), (7, 31), (11, 61), (13, 127)]


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P


def _shingles_of(text: str) -> list[str]:
    toks = [t for t in text.split(" ") if t]
    return [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _minhashes_of(text: str, num_hashes: int) -> list[int]:
    hs = [_h64(s) for s in _shingles_of(text)]
    if not hs:
        return []
    return [min((a * h + b) % P for h in hs) for a, b in COEFFS[:num_hashes]]


def _bands_of(text: str, num_hashes: int = 4, bands: int = 2):
    mh = _minhashes_of(text, num_hashes)
    if not mh:
        return []
    r = num_hashes // bands
    return [
        (b, "_".join(str(m) for m in mh[b * r : (b + 1) * r]))
        for b in range(bands)
    ]


_texts = st.lists(
    st.lists(
        st.sampled_from(["row", "scan", "hash", "key", "fast", "x"]),
        min_size=0,
        max_size=5,
    ).map(" ".join),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(texts=_texts)
def _near_dup_prop(spark, texts):
    from striot_spark.functions.dedup import near_dup_filter

    rows = list(enumerate(texts))
    # python reference: first-wins per band bucket over ascending ids
    owner: dict = {}
    kept_ref = []
    for i, t in rows:
        bands = _bands_of(t)
        dup = any(owner.get(b, i) < i for b in bands)
        for b in bands:
            owner.setdefault(b, i)
        if not dup:
            kept_ref.append(i)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in near_dup_filter(df, "doc_id", "text").collect()
    )
    assert got == kept_ref


def test_near_dup_filter_matches_python_reference(spark):
    """First-wins band semantics against an independent python
    implementation of the full minhash/band pipeline, over random
    small-vocab corpora (collision-rich by construction)."""
    _near_dup_prop(spark)


def _lsh_pairs_ref(left, right, num_hashes, bands, threshold, ordered):
    """Brute-force MinHash-LSH pairs: every (i, j) that shares a band,
    agrees on at least half its minhashes and whose exact shingle
    Jaccard reaches ``threshold`` -> that Jaccard."""
    out = {}
    for i, s in left:
        for j, t in right:
            if ordered and not i < j:
                continue
            ms, mt = _minhashes_of(s, num_hashes), _minhashes_of(t, num_hashes)
            if not ms or not mt:
                continue
            shared = set(_bands_of(s, num_hashes, bands)) & set(
                _bands_of(t, num_hashes, bands)
            )
            agree = sum(x == y for x, y in zip(ms, mt)) / num_hashes
            a, b = set(_shingles_of(s)), set(_shingles_of(t))
            jac = len(a & b) / len(a | b)
            if shared and agree >= 0.5 and jac >= threshold:
                out[(i, j)] = jac
    return out


_geometries = st.sampled_from([(6, 3), (4, 2), (6, 2), (4, 4), (2, 1)])
_BASES = ["row scan hash key fast", "scan hash key fast x", "x fast row scan"]
# copies of three base docs with short random tails: exact dups, near
# dups on both sides of the Jaccard threshold, and band-sharing pairs
# the agreement prefilter drops (random small-vocab texts rarely pair)
_near_texts = st.lists(
    st.tuples(
        st.integers(0, len(_BASES) - 1),
        st.lists(st.sampled_from(["row", "scan", "hash", "key", "x"]), max_size=3),
    ),
    min_size=2,
    max_size=8,
).map(lambda picks: [" ".join([*_BASES[i].split(), *tail]) for i, tail in picks])


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    texts=_near_texts,
    others=_near_texts,
    geometry=_geometries,
    threshold=st.sampled_from([0.3, 0.7]),
)
def _lsh_pairs_prop(spark, texts, others, geometry, threshold):
    from striot_spark.functions.dedup import (
        cross_corpus_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    num_hashes, bands = geometry
    kw = dict(num_hashes=num_hashes, bands=bands, threshold=threshold)
    rows, other_rows = list(enumerate(texts)), list(enumerate(others))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    odf = spark.createDataFrame(other_rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in lsh_near_dup_pairs(df, "doc_id", "text", **kw).collect()
    }
    assert got == pytest.approx(
        _lsh_pairs_ref(rows, rows, num_hashes, bands, threshold, True)
    )
    got = {
        (r["train_id"], r["eval_id"]): r["jaccard"]
        for r in cross_corpus_near_dup_pairs(
            df, odf, "doc_id", "text", **kw
        ).collect()
    }
    assert got == pytest.approx(
        _lsh_pairs_ref(rows, other_rows, num_hashes, bands, threshold, False)
    )


def test_lsh_pair_pipelines_match_python_reference(spark):
    """The fused near-dup pipeline and its cross-corpus form against a
    brute-force python compare over every pair, across banding
    geometries and thresholds: a pair is found iff it shares a band,
    agrees on at least half its minhashes and its exact shingle
    Jaccard reaches the threshold."""
    _lsh_pairs_prop(spark)


@settings(
    max_examples=15, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    counts=st.dictionaries(
        st.integers(-5, 20), st.integers(1, 7), min_size=1, max_size=8
    )
)
def _quantile_prop(spark, counts):
    from striot_spark.functions.analytics import binned_quantile_serve

    df = spark.createDataFrame(
        sorted(counts.items()), "bin long, n_rows long"
    )
    got = sorted(
        (r["q"], r["bin"])
        for r in binned_quantile_serve(df, "bin", "n_rows").collect()
    )
    vals = [b for b in sorted(counts) for _ in range(counts[b])]
    n = len(vals)
    expect = sorted(
        (q, vals[(q * (n - 1)) // 10] if n > 1 else vals[0])
        for q in range(11)
    )
    assert got == expect


def test_binned_quantile_serve_matches_rank_selection(spark):
    """The sequence-explode decile cover equals expand-rank-select for
    ANY bin table, including negative bins, gaps, and N=1."""
    _quantile_prop(spark)


@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(texts=_texts, phrase=st.lists(
    st.sampled_from(["row", "scan", "hash"]), min_size=1, max_size=3
))
def _phrase_prop(spark, texts, phrase):
    from striot_spark.functions.text import (
        phrase_search,
        positional_postings,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    post = positional_postings(df, "doc_id", "text")
    got = {
        (r["doc"],): r["n_matches"]
        for r in phrase_search(post, [" ".join(phrase)]).collect()
    }
    for i, t in rows:
        toks = [x for x in t.split(" ") if x]
        k = len(phrase)
        n = sum(
            1
            for j in range(len(toks) - k + 1)
            if toks[j : j + k] == phrase
        )
        if n:
            assert got.get((i,)) == n
        else:
            assert (i,) not in got
    assert sum(got.values()) == sum(
        1
        for _, t in rows
        for j in range(len([x for x in t.split(" ") if x]))
        if [x for x in t.split(" ") if x][j : j + len(phrase)] == phrase
    )


def test_phrase_search_matches_sublist_scan(spark):
    """Positional-intersection phrase counts equal a naive sliding
    sublist scan for ANY corpus and phrase length 1-3."""
    _phrase_prop(spark)


@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=25),
    bins=st.integers(1, 6),
)
def _equidepth_prop(spark, vals, bins):
    from striot_spark.functions.analytics import equidepth_histogram

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "cv long, tb long")
    got = {
        r["bucket"]: (r["n_rows"], r["lo"], r["hi"])
        for r in equidepth_histogram(df, "cv", "tb", bins=bins).collect()
    }
    n = len(vals)
    ordered = sorted(rows)
    expect: dict = {}
    for rank, (v, _) in enumerate(ordered):
        b = rank * bins // n
        cnt, lo, hi = expect.get(b, (0, v, v))
        expect[b] = (cnt + 1, min(lo, v), max(hi, v))
    assert got == expect


def test_equidepth_histogram_matches_sorted_reference(spark):
    """Bucket assignment, counts and ranges equal the sort-then-slice
    python reference for ANY values (dups, negatives) and bin count."""
    _equidepth_prop(spark)
