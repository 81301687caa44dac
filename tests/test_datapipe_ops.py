"""Unit tests for the training-data-pipeline operator internals: shingle
fast path, fingerprint semantics, near-dup pair verification, and the
scatter parallelism guard."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from striot_spark.tempdirs import striot_mkdtemp
from striot_spark.core.scale import scatter
from striot_spark.functions import dedup as D
from striot_spark.functions import text as T


def _shingles(spark, texts, n):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    rows = df.select("id", D.shingles(F.col("text"), n).alias("s")).orderBy("id").collect()
    return [r["s"] for r in rows]


def test_shingles_bigram_fast_path_matches_expected(spark):
    texts = [
        "a b c d",
        "one two",
        "solo",
        "",
        "  spaced   out  ",
    ]
    got = _shingles(spark, texts, 2)
    assert got[0] == ["a b", "b c", "c d"]
    assert got[1] == ["one two"]
    assert got[2] == []  # fewer tokens than n → no shingle set
    assert got[3] == []
    assert got[4] == ["spaced out"]


def test_shingles_bigram_fast_path_matches_general_formula(spark):
    """The n=2 zip_with fast path must emit exactly what the general
    slice-per-index path emits (trigram run as the general reference)."""
    texts = ["w x y z q", "a b c", "a b", "a"]
    fast = _shingles(spark, texts, 2)
    # general path expectation computed in python
    for t, got in zip(texts, fast):
        toks = [x for x in t.split(" ") if x]
        exp = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        assert got == exp


def test_rolling_fingerprint_is_order_sensitive_bag_is_not(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha")], "doc_id long, text string"
    )
    bag = {r["doc_id"]: r["fingerprint"] for r in T.doc_fingerprint(df, "doc_id", "text").collect()}
    roll = {r["doc_id"]: r["rolling_fp"] for r in T.rolling_fingerprint(df, "doc_id", "text").collect()}
    assert bag[0] == bag[1]  # same token bag → same bag fingerprint
    assert roll[0] != roll[1]  # different order → different rolling hash


def test_simhash_near_dup_pairs_hamming_is_exact(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (2, "entirely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    pairs = D.simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=8).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert by_pair.get((0, 1)) == 0  # identical docs: hamming 0
    # hamming values must match direct bit_count(xor) of the fingerprints
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(df, "doc_id", "text").collect()}
    for (a, b), ham in by_pair.items():
        assert ham == bin(sh[a] ^ sh[b]).count("1")


def test_bpe_tokens_splits_long_numbers_and_marks(spark):
    df = spark.createDataFrame([(0, "hello world2025! x=12345")], "id long, text string")
    toks = df.select(T.bpe_tokens(F.col("text")).alias("t")).collect()[0]["t"]
    assert toks == ["hello", "world", "202", "5", "!", "x", "=", "123", "45"]


def test_scatter_noop_on_well_partitioned_input(spark):
    target = spark.sparkContext.defaultParallelism
    small = spark.range(100)  # range default partitions = defaultParallelism
    wide = small.repartition(target + 4)
    assert scatter(wide).rdd.getNumPartitions() == target + 4  # untouched
    narrow = small.coalesce(1)
    assert scatter(narrow).rdd.getNumPartitions() == target


def test_banding_geometry_fails_fast(spark):
    """r8 ADVICE: bands not dividing num_hashes silently ignored the
    trailing hashes, and bands > num_hashes made every band signature
    the empty string (all docs collide in every bucket — a first-wins
    filter would suppress the corpus down to the min-id doc with no
    error). Every banding entry point must refuse both geometries
    before touching any data."""
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    for fn in (
        lambda **kw: D.lsh_bands(df, "doc_id", "text", **kw),
        lambda **kw: D.lsh_candidate_pairs(df, "doc_id", "text", **kw),
        lambda **kw: D.near_dup_filter(df, "doc_id", "text", **kw),
        lambda **kw: D.lsh_near_dup_pairs(df, "doc_id", "text", **kw),
    ):
        with pytest.raises(ValueError, match="divide"):
            fn(num_hashes=4, bands=3)
        with pytest.raises(ValueError, match="divide|>= 1"):
            fn(num_hashes=2, bands=4)
        with pytest.raises(ValueError, match=">= 1"):
            fn(num_hashes=4, bands=0)
    # the streaming form validates at CONSTRUCTION time, before any
    # state directory or checkpoint is created
    with pytest.raises(ValueError, match="divide"):
        D.near_dup_filter_stream(
            df, "/tmp/x", "/tmp/y", "/tmp/z", "doc_id", "text",
            ["doc_id"], num_hashes=4, bands=3,
        )


def test_lsh_candidate_pairs_find_exact_dups(spark):
    df = spark.createDataFrame(
        [
            (0, "spark streams process events with windows and joins"),
            (1, "spark streams process events with windows and joins"),
            (2, "completely unrelated text goes here today friends yes"),
        ],
        "doc_id long, text string",
    )
    cands = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(df, "doc_id", "text").collect()}
    assert (0, 1) in cands
    verified = D.ngram_jaccard_pairs(
        D.lsh_candidate_pairs(df, "doc_id", "text"), df, "doc_id", "text", threshold=0.7
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {(0, 1)}
    assert all(r["jaccard"] == pytest.approx(1.0) for r in verified)
    # the fused single-scan pipeline returns exactly the same rows
    fused = D.lsh_near_dup_pairs(df, "doc_id", "text", threshold=0.7).collect()
    assert sorted(map(tuple, fused)) == sorted(map(tuple, verified))


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """Prefix filtering is EXACT: on a randomized corpus the output
    equals the all-pairs shingle-Jaccard >= t compare, across several
    thresholds (different prefix lengths / size-filter bounds)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 14)))
        for _ in range(40)
    ]
    # a few engineered near-dup pairs so thresholds actually bite
    texts += [texts[0], texts[1] + " extra", "solo"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    def brute(t):
        sets = {
            i: {
                f"{a} {b}"
                for a, b in zip(tx.split()[:-1], tx.split()[1:])
            }
            for i, tx in enumerate(texts)
            if len(tx.split()) >= 2
        }
        out = set()
        for i, j in itertools.combinations(sorted(sets), 2):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if union and inter / union >= t:
                out.add((i, j))
        return out

    for t in (0.5, 0.7, 0.9):
        # both verify paths: bitmap (small vocab) and sorted-rank
        # array_intersect fallback (max_bitmap_vocab=0 forces it)
        for max_vocab in (1 << 16, 0):
            got = {
                (r["id_a"], r["id_b"])
                for r in D.prefix_filter_jaccard_pairs(
                    df,
                    "doc_id",
                    "text",
                    threshold=t,
                    max_bitmap_vocab=max_vocab,
                ).collect()
            }
            assert got == brute(t), (t, max_vocab)


def test_prefix_filter_jaccard_skewed_lengths(spark):
    """Stress the size filter + asymmetric indexing prefix + positional
    bound: docs of wildly different lengths, heavy duplication, and
    containment pairs (A substring-of B) — the shapes most likely to
    expose an off-by-one in the prefix-length math."""
    import itertools
    import random

    rng = random.Random(99)
    vocab = [f"t{i}" for i in range(18)]  # tiny vocab -> dense overlap
    texts = []
    for n in (2, 3, 5, 9, 17, 33, 60):
        base = " ".join(rng.choice(vocab) for _ in range(n))
        texts.append(base)
        texts.append(base)  # exact dup (jaccard 1.0)
        texts.append(base + " " + rng.choice(vocab))  # near-containment
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    def brute(t):
        sets = {
            i: {f"{a} {b}" for a, b in zip(tx.split()[:-1], tx.split()[1:])}
            for i, tx in enumerate(texts)
            if len(tx.split()) >= 2
        }
        out = set()
        for i, j in itertools.combinations(sorted(sets), 2):
            u = len(sets[i] | sets[j])
            if u and len(sets[i] & sets[j]) / u >= t:
                out.add((i, j))
        return out

    for t in (0.6, 0.8):
        got = {
            (r["id_a"], r["id_b"])
            for r in D.prefix_filter_jaccard_pairs(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        assert got == brute(t), t


def test_prefix_filter_emit_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="emit"):
        D.prefix_filter_jaccard_pairs(df, "doc_id", "text", emit="candidate")
    with pytest.raises(ValueError, match="shingle_n"):
        D.prefix_filter_jaccard_pairs(df, "doc_id", "text", shingle_n="anto")


def test_prefix_filter_auto_shingle_width(spark, sf_dir):
    """PERF.md §17 as a rule: on the driver corpus the 2-gram vocabulary
    (~916 shingles) cannot separate the docs, so ``shingle_n='auto'``
    must skip it and land on the smallest width whose vocabulary clears
    ``max(auto_min_vocab, doc_count)`` — and at that width the prefix
    filter is exact here: candidates == verified pairs (zero wasted
    verification), the candidate bound the auto rule exists to buy."""
    from striot_spark.functions.dedup import _auto_shingle_n
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = _auto_shingle_n(docs, "text", (2, 4, 6), 4096)
    assert n == 4  # 2-gram vocab ~916 < bar; 4-gram ~24.7k clears it
    cands = D.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", shingle_n="auto", emit="candidates"
    ).count()
    verified = D.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=n
    ).count()
    assert cands == verified > 0


def test_cross_corpus_near_dups_never_pair_within_a_side(spark):
    """The band join runs BETWEEN corpora: an exact dup across sides is
    found (jaccard 1.0, regardless of id order), while identical docs
    WITHIN one side never pair."""
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "alpha beta gamma delta epsilon zeta"),  # in-side dup
            (12, "totally different words here entirely now"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta"),  # cross-side dup
            (3, "unrelated benchmark prompt text sample thing"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["train_id"], r["eval_id"], r["jaccard"])
        for r in D.cross_corpus_near_dup_pairs(
            train, eval_df, "doc_id", "text", threshold=0.7
        ).collect()
    }
    # note eval id (2) < both train ids: no ordering constraint applies
    assert got == {(10, 2, 1.0), (11, 2, 1.0)}


def test_dedup_groups_connected_components(spark):
    from striot_spark.functions.dedup import dedup_groups

    # two chains, one cycle, one isolated pair; labels must reach the
    # component minimum across multiple hops
    pairs = spark.createDataFrame(
        [
            (5, 6), (6, 7), (7, 8),          # chain -> min 5
            (10, 11), (11, 12), (12, 10),    # cycle -> min 10
            (2, 9),                          # pair  -> min 2
            (20, 21), (21, 22),              # chain joined out of order
        ],
        "id_a long, id_b long",
    )
    expected = {
        5: 5, 6: 5, 7: 5, 8: 5,
        10: 10, 11: 10, 12: 10,
        2: 2, 9: 2,
        20: 20, 21: 20, 22: 20,
    }
    # both paths: driver union-find (small gate) and distributed
    # min-label propagation (threshold=0 forces it)
    for threshold in (1_000_000, 0):
        got = {
            r["doc_id"]: r["group_id"]
            for r in dedup_groups(
                pairs, driver_edge_threshold=threshold
            ).collect()
        }
        assert got == expected, threshold


def test_contamination_check_finds_shared_ngrams(spark):
    from striot_spark.functions.dedup import contamination_check

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains eval 5-gram
            (2, "one two three four five six"),  # disjoint
            (3, "alpha beta gamma delta epsilon"),  # the 5-gram exactly
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_collisions"]
        for r in contamination_check(
            train, eval_df, "doc_id", "text", ngram_n=5
        ).collect()
    }
    # doc 1 and doc 3 both contain "alpha beta gamma delta epsilon";
    # doc 2 shares nothing; doc 1 additionally shares no OTHER 5-gram
    assert got == {1: 1, 3: 1}


def test_repetition_stats_ratio(spark):
    from striot_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # bigrams: ab ba ab ba ab -> 5 total, 2 unique
            (2, "x y z"),  # 2 total, 2 unique
            (3, "solo"),  # no bigrams -> excluded
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_ngrams"] == 5 and got[1]["n_unique"] == 2
    assert got[1]["dup_ratio"] == pytest.approx(3 / 5)
    assert got[2]["dup_ratio"] == 0.0


def test_corpus_mix_hits_target_proportions(spark):
    from striot_spark.functions.sampling import corpus_mix

    rows = (
        [(i, "en") for i in range(1000)]
        + [(10_000 + i, "de") for i in range(400)]
        + [(20_000 + i, "xx") for i in range(50)]  # not in weights -> dropped
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = corpus_mix(df, "doc_id", "lang", {"en": 750, "de": 250}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert set(by_lang) == {"en", "de"}
    n_en, n_de = len(by_lang["en"]), len(by_lang["de"])
    # never up-samples; proportions near 3:1 (hash-bucket quantization)
    assert n_de <= 400 and n_en <= 1000
    assert n_en / max(n_de, 1) == pytest.approx(3.0, rel=0.15)
    # deterministic: same inputs -> identical member set
    again = corpus_mix(df, "doc_id", "lang", {"en": 750, "de": 250}).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_multimodal_resize_and_frame_sample_plumbing(spark):
    """The Spark-side plumbing for resize / frame-sample (schema, Arrow
    batch shape, fan-out) is real; the codec is a deterministic stub."""
    from striot_spark.functions.multimodal import (
        frame_sample,
        resize_media,
        to_media,
    )

    df = spark.createDataFrame(
        [(0, "abcdef" * 40), (1, "xyz")], "doc_id long, text string"
    )
    media = to_media(df, "doc_id", "text")
    resized = resize_media(media, 16, 16).collect()
    assert {r["doc_id"] for r in resized} == {0, 1}
    assert all(len(r["media"]) == (16 * 16) // 64 for r in resized)
    frames = frame_sample(media, every_n_bytes=64).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 240-byte payload → 4 frames of ≤64 bytes; 3-byte payload → 1 frame
    assert len(by_doc[0]) == 4 and len(by_doc[1]) == 1
    assert sorted(r["frame_idx"] for r in by_doc[0]) == [0, 1, 2, 3]
    assert b"".join(bytes(r["frame"]) for r in sorted(by_doc[0], key=lambda r: r["frame_idx"])) == b"abcdef" * 40


def test_hash_sample_deterministic_and_nested(spark):
    from striot_spark.functions import sampling as S

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s20 = {r["doc_id"] for r in S.hash_sample(df, "doc_id", rate=0.2).collect()}
    s20_again = {r["doc_id"] for r in S.hash_sample(df, "doc_id", rate=0.2).collect()}
    s10 = {r["doc_id"] for r in S.hash_sample(df, "doc_id", rate=0.1).collect()}
    assert s20 == s20_again  # stable across runs
    assert s10 <= s20  # nested samples compose
    assert 0.1 < len(s20) / 2000 < 0.3  # near the nominal rate


def test_hash_sample_strata_rates(spark):
    from striot_spark.functions import sampling as S

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id long, grp string",
    )
    out = S.hash_sample(
        df, "doc_id", strata_col="grp", rates={"a": 0.5}, default_rate=0.0
    ).collect()
    assert all(r["grp"] == "a" for r in out)  # default 0 drops stratum b
    assert 0.3 < len(out) / 1000 < 0.7


def test_reservoir_sample_exact_n_per_stratum(spark):
    from striot_spark.functions import sampling as S

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(300)], "doc_id long, grp string"
    )
    out = S.reservoir_sample(df, "doc_id", "grp", 7).collect()
    counts = {}
    for r in out:
        counts[r["grp"]] = counts.get(r["grp"], 0) + 1
    assert counts == {"g0": 7, "g1": 7, "g2": 7}
    again = {r["doc_id"] for r in S.reservoir_sample(df, "doc_id", "grp", 7).collect()}
    assert again == {r["doc_id"] for r in out}  # deterministic


def test_chunk_documents_overlap_and_reconstruction(spark):
    df = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(100))),  # 100 tokens
            (1, "short doc"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        T.chunk_documents(df, "doc_id", "text", max_tokens=10, overlap=2).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # stride 8: chunks cover [0,10) [8,18) ... last must reach token 99
    chunks0 = by_doc[0]
    assert chunks0[0]["chunk_text"].split()[0] == "t0"
    for prev, cur in zip(chunks0, chunks0[1:]):
        ptoks, ctoks = prev["chunk_text"].split(), cur["chunk_text"].split()
        assert ptoks[-2:] == ctoks[:2]  # 2-token overlap
    covered = []
    for c in chunks0:
        covered.extend(c["chunk_text"].split()[2:] if covered else c["chunk_text"].split())
    assert covered == [f"t{i}" for i in range(100)]  # lossless coverage
    assert [r["chunk_idx"] for r in by_doc[1]] == [0]
    assert by_doc[2][0]["n_tokens"] == 0  # empty doc -> one empty chunk


def test_pack_sequences_first_fit_property(spark):
    """Pack assignment == brute-force cumulative first-fit per shard;
    a pack exceeds its budget by at most its final document."""
    import random

    from striot_spark.functions.text import pack_sequences

    rng = random.Random(13)
    rows = [
        (i, rng.choice(["en", "de"]), " ".join(["w"] * rng.randrange(1, 40)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["doc_id"]): (r["lang"], r["n_tokens"], r["pack_id"])
        for r in pack_sequences(df, "doc_id", "text", ["lang"], 64).collect()
    }
    cum = {"en": 0, "de": 0}
    for i, lang, text in rows:  # doc_id order within shard
        ntok = len(text.split())
        assert got[i] == (lang, ntok, cum[lang] // 64), i
        cum[lang] += ntok


def test_kmeans_recovers_separated_blobs(spark):
    """Spherical k-means must exactly recover three well-separated
    direction clusters and converge to stable centroids."""
    import random

    from striot_spark.functions.similarity import kmeans

    rng = random.Random(3)
    axes = [(10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0)]
    rows = []
    for i in range(90):
        ax = axes[i % 3]
        rows.append((i, [a + rng.uniform(-0.5, 0.5) for a in ax]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = kmeans(df, k=3, max_iter=4)
    got = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    # every blob lands in one cluster, clusters are distinct
    labels = [{got[i] for i in range(90) if i % 3 == b} for b in range(3)]
    assert all(len(s) == 1 for s in labels)
    assert len(set().union(*labels)) == 3
    # each centroid points along its blob's axis
    for s, b in zip(labels, range(3)):
        c = cents[s.pop()]
        assert max(range(3), key=lambda d: c[d]) == b


def test_kmeans_refuses_k_above_row_count(spark):
    """k > rows used to IndexError deep in the M-step rebuild
    (cents[i] past the init list); it must fail fast with a clear
    ValueError instead (r07 ADVICE)."""
    from striot_spark.functions.similarity import kmeans

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="only 2 rows"):
        kmeans(df, k=5, max_iter=1)


def test_lexical_search_empty_query_returns_empty(spark):
    """An empty query token list must yield an empty result with the
    contract (id, score) schema, not an AttributeError on a None score
    (r07 ADVICE)."""
    from striot_spark.functions.text import lexical_search

    df = spark.createDataFrame(
        [(0, "some words"), (1, "more words")], "doc_id long, text string"
    )
    got = lexical_search(df, "doc_id", "text", [], k=5)
    assert got.columns == ["doc_id", "score"]
    assert got.collect() == []


def test_zorder_key_assert_range_rejects_negatives(spark):
    """assert_range=True must raise on out-of-range coordinates —
    negative inputs sign-extend and silently destroy zone-map locality
    otherwise (r07 ADVICE)."""
    from striot_spark.functions.bucketing import zorder_key

    df = spark.createDataFrame([(3, -1)], "a long, b long")
    ok = spark.createDataFrame([(3, 2)], "a long, b long")
    assert (
        ok.select(zorder_key(["a", "b"], bits=4, assert_range=True)).count()
        == 1
    )
    with pytest.raises(Exception, match="out of"):
        df.select(
            zorder_key(["a", "b"], bits=4, assert_range=True)
        ).collect()


def test_short_docs_have_no_shingles_or_signatures(spark):
    """Docs with fewer than shingle_n tokens must vanish from the
    signature/pair tiers (matching the oracle's range(1, len(tk)) CTE,
    which emits no shingle rows for them)."""
    from striot_spark.functions.dedup import (
        lsh_near_dup_pairs,
        minhash_signatures,
        shingles,
    )

    rows = [
        (0, "single"),
        (1, ""),
        (2, "two tokens here repeated two tokens here repeated"),
        (3, "two tokens here repeated two tokens here repeated"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        "doc_id", F.size(shingles(F.col("text"), 2)).alias("n")
    )
    got = {r["doc_id"]: r["n"] for r in sh.collect()}
    assert got[0] == 0 and got[1] == 0 and got[2] > 0

    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=4)
    assert sorted(r["doc_id"] for r in sigs.collect()) == [2, 3]

    pairs = lsh_near_dup_pairs(df, "doc_id", "text", num_hashes=6, bands=3)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(2, 3)]


def test_build_vocab_and_encode_documents(spark):
    from striot_spark.functions.text import build_vocab, encode_documents

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "zebra quux"),
        ],
        "doc_id long, text string",
    )
    vocab = build_vocab(df, "text", vocab_size=3)
    v = {r["token"]: r["token_id"] for r in vocab.collect()}
    # freqs: the=3, sat=2, then ties (cat/dog/mat/on/zebra/quux=1) break
    # alphabetically -> cat
    assert v == {"the": 0, "sat": 1, "cat": 2}
    enc = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in encode_documents(df, "doc_id", "text", vocab).collect()
    }
    assert enc[1] == ([0, 2, 1, -1, 0, -1], 6)  # order-preserving
    assert enc[3] == ([-1, -1], 2)


def test_split_assign_partitions_and_determinism(spark):
    from striot_spark.functions.sampling import split_assign

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = split_assign(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by) == {"train", "val", "test"}
    # every id assigned exactly once; proportions near 80/10/10
    assert sum(len(s) for s in by.values()) == 2000
    assert 0.75 <= len(by["train"]) / 2000 <= 0.85
    # determinism across recomputation
    again = split_assign(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    assert {(r["doc_id"], r["split"]) for r in again} == {
        (r["doc_id"], r["split"]) for r in out
    }


def test_extract_features_bridges_media_to_ann(spark):
    """decode -> embed -> assign: binary media rows become dense
    vectors via mapInPandas, then flow straight into the similarity
    operators (nearest_centroid) — the full multimodal indexing
    composition with a deterministic stub encoder."""
    from striot_spark.functions.multimodal import (
        embed_stub,
        extract_features,
        to_media,
    )
    from striot_spark.functions.similarity import nearest_centroid

    rows = [
        (1, b"aaaaaaaaaaaaaaaa"),        # concentrated histogram
        (2, b"abcdefghijklmnop" * 4),    # uniform histogram
        (3, b"aaaaaaaabbbbbbbb"),
    ]
    df = to_media(
        spark.createDataFrame(rows, "doc_id long, payload binary"),
        "doc_id",
        "payload",
    )
    feats = extract_features(df, dim=8)
    got = {r["doc_id"]: list(r["features"]) for r in feats.collect()}
    # deterministic: matches the stub computed locally
    for doc_id, payload in rows:
        assert got[doc_id] == embed_stub(payload, 8)
    assert all(abs(sum(v) - 1.0) < 1e-9 for v in got.values())  # L1 mass
    # bridge into ANN: assign each media vector to a centroid
    cents = spark.createDataFrame(
        [(0, embed_stub(b"a" * 16, 8)), (1, embed_stub(b"abcdefgh" * 2, 8))],
        "centroid_id long, features array<double>",
    )
    assigned = {
        r["doc_id"]: r["centroid_id"]
        for r in nearest_centroid(
            feats, cents, id_col="doc_id", vec_col="features"
        ).collect()
    }
    assert assigned[1] == 0  # all-'a' payload matches the 'a' centroid
    assert assigned[2] == 1  # uniform payload matches the uniform one


def test_simhash_band_recall_pigeonhole(spark):
    """4 bands x 15 bits over 60-bit fingerprints: any pair within
    hamming distance 3 differs in at most 3 bands, so at least one
    band matches — recall is GUARANTEED (pigeonhole), not
    probabilistic, for hamming <= bands-1. Verified on synthetic
    fingerprints with exactly 0..3 flipped bits."""
    import random

    from striot_spark.functions.dedup import simhash_band_pairs_from_hashes

    rng = random.Random(5)
    rows = []
    base_ids = []
    for i in range(20):
        base = rng.getrandbits(60)
        a = 1000 + i * 10
        rows.append((a, base))
        flips = rng.sample(range(60), rng.randint(0, 3))
        mutated = base
        for b in flips:
            mutated ^= 1 << b
        rows.append((a + 1, mutated))
        base_ids.append((a, a + 1))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_band_pairs_from_hashes(
            df, bands=4, band_bits=15, max_hamming=8
        ).collect()
    }
    for pair in base_ids:
        assert pair in got, pair


def test_track_persist_release_hook(spark):
    """ADVICE r05: the pair-generation operators' persisted work tables
    register with the session-scoped tracker, and release_persisted()
    unpersists them all — the leak-control contract the registered-query
    wrapper invokes between driver sweep entries."""
    from striot_spark.functions import caching as C

    C.release_persisted()  # start clean
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "zz yy xx ww vv")],
        "id long, text string",
    )
    sigs = D.minhash_signatures(df, "id", "text", num_hashes=4, shingle_n=2)
    assert sigs.count() == 3
    assert len(C._PERSISTED) >= 1
    tracked = list(C._PERSISTED)
    released = C.release_persisted()
    assert released == len(tracked)
    assert C._PERSISTED == []
    assert all(t.storageLevel.useMemory is False for t in tracked)
    # releasing is repeatable and safe when nothing is tracked
    assert C.release_persisted() == 0


def test_tfidf_top_terms_rank_contract(spark):
    from striot_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana rare"),
            (2, "apple banana banana cherry"),
            (3, "apple cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2)
    rows = {
        (r["doc_id"], r["rank"]): (r["token"], r["tf"], r["df_ct"])
        for r in out.collect()
    }
    # doc 1: apple tf=2 (df 3) beats rare/banana tf=1; among tf=1 the
    # rarer term wins (rare df=1 < banana df=2)
    assert rows[(1, 1)] == ("apple", 2, 3)
    assert rows[(1, 2)] == ("rare", 1, 1)
    # doc 3: cherry tf=3 first, apple second
    assert rows[(3, 1)][0] == "cherry"
    assert rows[(3, 2)][0] == "apple"
    # tfidf score column exists and is 0 for corpus-universal terms
    sc = {
        (r["doc_id"], r["token"]): r["tfidf"]
        for r in tfidf_top_terms(docs, "doc_id", "text", k=3).collect()
    }
    assert sc[(1, "apple")] == 0.0  # df == N -> ln(1) == 0
    assert sc[(1, "rare")] > 0.0


def test_blocklist_filter_word_boundary_not_substring(spark):
    from striot_spark.functions.text import blocked_terms, blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "the car drives"),
            (2, "a scar heals"),  # 'car' as substring only -> kept
            (3, "car bomb text"),
            (4, "clean document here"),
        ],
        "doc_id long, text string",
    )
    kept = blocklist_filter(docs, "text", ("car", "bomb"))
    assert {r["doc_id"] for r in kept.collect()} == {2, 4}
    dropped = blocklist_filter(
        docs, "text", ("car", "bomb"), keep_matches=True
    )
    assert {r["doc_id"] for r in dropped.collect()} == {1, 3}
    hits = docs.select(
        "doc_id", blocked_terms(F.col("text"), ("car", "bomb")).alias("t")
    )
    got = {r["doc_id"]: r["t"] for r in hits.collect()}
    assert got[3] == ["bomb", "car"] and got[2] == []


def test_canonical_docs_keeps_best_and_untouched(spark):
    from striot_spark.functions.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(i, f"d{i}", ln) for i, ln in
         [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99), (6, 1)]],
        "doc_id long, text string, n_chars long",
    )
    # component {1,2,3}: 2 and 3 tie on n_chars=30 -> smaller id 2 wins
    # component {4,6}: 4 wins on n_chars; 5 untouched -> survives
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 6)], "id_a long, id_b long"
    )
    out = canonical_docs(docs, pairs, "doc_id", "n_chars")
    assert {r["doc_id"] for r in out.collect()} == {2, 4, 5}


def test_select_token_budget_prefix_nesting(spark):
    from striot_spark.functions.sampling import select_token_budget

    docs = spark.createDataFrame(
        [(i, (i * 7919) % 23 + 1) for i in range(200)],
        "doc_id long, n_tokens long",
    )
    order = [F.col("n_tokens").desc(), F.col("doc_id").asc()]
    small = select_token_budget(docs, "doc_id", "n_tokens", 500, order)
    big = select_token_budget(docs, "doc_id", "n_tokens", 1500, order)
    s_ids = {r["doc_id"] for r in small.collect()}
    b_rows = {r["doc_id"]: r["cum_tokens"] for r in big.collect()}
    assert s_ids <= set(b_rows)  # budgets nest
    assert max(b_rows.values()) <= 1500  # never overshoots
    # the cut is exactly the priority-order prefix
    ordered = sorted(
        [(r["n_tokens"], r["doc_id"]) for r in docs.collect()],
        key=lambda t: (-t[0], t[1]),
    )
    acc, expect = 0, set()
    for nt, did in ordered:
        if acc + nt > 1500:
            break
        acc += nt
        expect.add(did)
    assert set(b_rows) == expect


def test_temperature_mix_flattens_without_upsampling(spark):
    from striot_spark.functions.sampling import temperature_mix

    rows = (
        [(i, "big") for i in range(400)]
        + [(i + 1000, "mid") for i in range(100)]
        + [(i + 2000, "tiny") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "doc_id", "lang").groupBy("lang").count()
    got = {r["lang"]: r["count"] for r in out.collect()}
    # tiny stratum keeps everything (rate sqrt(25/25)=1); expected rates
    # sqrt(25/100)=0.5 and sqrt(25/400)=0.25 up to md5-bucket noise
    assert got["tiny"] == 25
    assert 30 <= got["mid"] <= 70
    assert 60 <= got["big"] <= 140
    # flattening: share gap narrows but order is preserved
    assert got["big"] > got["mid"] > 0


def test_global_prefix_sum_two_pass_matches_single_sort(spark):
    from striot_spark.core.scale import SMALL_INPUT_CONF, global_prefix_sum

    rows = [((i * 37) % 1000, i % 13 + 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    spark.conf.set(SMALL_INPUT_CONF, "0")
    try:
        out = global_prefix_sum(df, [F.col("k")], "v", "cum")
        got = {r["k"]: r["cum"] for r in out.collect()}
    finally:
        spark.conf.unset(SMALL_INPUT_CONF)
    acc, expect = 0, {}
    for k, v in sorted(rows):
        acc += v
        expect[k] = acc
    assert got == expect


def test_latest_snapshot_picks_max_order_row(spark):
    from striot_spark.functions.analytics import latest_snapshot

    log = spark.createDataFrame(
        [
            (1, 10, 1, "a"),
            (1, 20, 2, "b"),   # latest for key 1
            (1, 20, 1, "c"),   # same version, lower tiebreak
            (2, 5, 9, "d"),    # only row for key 2
        ],
        "k long, ver long, seq long, payload string",
    )
    snap = latest_snapshot(log, ["k"], ["ver", "seq"], ["payload", "ver"])
    got = {r["k"]: (r["payload"], r["ver"]) for r in snap.collect()}
    assert got == {1: ("b", 20), 2: ("d", 5)}


def test_canonical_docs_random_graph_property(spark):
    """canonical_docs == brute-force (connected components + per-group
    argmax by (pref DESC, id ASC)) on pseudo-random pair graphs."""
    import random

    from striot_spark.functions.dedup import canonical_docs

    rng = random.Random(20260814)
    for trial in range(3):
        n = 40
        ids = list(range(n))
        prefs = {i: rng.randrange(0, 8) for i in ids}  # deliberate ties
        docs = spark.createDataFrame(
            [(i, f"t{i}", prefs[i]) for i in ids],
            "doc_id long, text string, pref long",
        )
        edges = set()
        for _ in range(rng.randrange(10, 40)):
            a, b = rng.sample(ids, 2)
            edges.add((min(a, b), max(a, b)))
        pairs = spark.createDataFrame(
            sorted(edges), "id_a long, id_b long"
        )
        got = {
            r["doc_id"]
            for r in canonical_docs(docs, pairs, "doc_id", "pref").collect()
        }
        # brute force: union-find then argmax per component
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comps: dict[int, list[int]] = {}
        for i in ids:
            comps.setdefault(find(i), []).append(i)
        expect = set()
        touched = {x for e in edges for x in e}
        for members in comps.values():
            in_graph = [m for m in members if m in touched]
            if not in_graph:
                expect.update(members)  # singletons survive
            else:
                expect.add(min(in_graph, key=lambda m: (-prefs[m], m)))
                expect.update(m for m in members if m not in touched)
        assert got == expect, f"trial {trial}"


def test_shared_ngram_pairs_semantics_and_cap(spark):
    from striot_spark.functions.dedup import shared_ngram_pairs

    mk = lambda ws: " ".join(ws)
    seq = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [
            (1, mk(seq)),                      # shares run with 2
            (2, mk(["x"] + seq[:6] + ["y"])),  # 6-token run from doc 1
            (3, mk(["a", "b", "c", "d", "e", "f"])),  # unique run
            (4, "boiler plate boiler plate"),  # too short for 6-gram
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in shared_ngram_pairs(
            docs, "doc_id", "text", ngram_n=6, df_cap=100
        ).collect()
    }
    assert got == {(1, 2)}
    # boilerplate cap: a run in >cap docs generates NO pairs
    many = spark.createDataFrame(
        [(i, mk(seq[:6])) for i in range(10)],
        "doc_id long, text string",
    )
    capped = shared_ngram_pairs(
        many, "doc_id", "text", ngram_n=6, df_cap=5
    )
    assert capped.count() == 0
    uncapped = shared_ngram_pairs(
        many, "doc_id", "text", ngram_n=6, df_cap=100
    )
    assert uncapped.count() == 45  # C(10,2)


def test_linear_quality_filter_integer_threshold(spark):
    from striot_spark.functions.text import (
        linear_quality_filter,
        linear_quality_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat in a hat", 180),
            (2, "zxq qqq", 180),
            (3, "!!! ??? ;;; :::", 180),
        ],
        "doc_id long, text string, n_chars long",
    )
    scores = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            linear_quality_score(F.col("text"), F.col("n_chars")).alias("s"),
        ).collect()
    }
    # doc 1: 4 stopword hits (the, on, the... 'the' x2, 'on', 'a', 'in')
    # give it a decisively positive score; doc 3's punctuation is
    # penalized below doc 2
    assert scores[1] > scores[2] > scores[3]
    kept = linear_quality_filter(docs, "text", "n_chars", scores[1])
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_scrub_pii_masks_shapes_not_substrings(spark):
    from striot_spark.functions.text import pii_hit_counts, scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk for details"),
            (2, "server at 192.168.1.17 went down"),
            (3, "card 4111 1111 1111 1111 charged"),
            (4, "call +1-202-555-0147 today"),
            (5, "version 1.2 costs 35 dollars"),  # must NOT mask
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", scrub_pii(F.col("text")).alias("t")
        ).collect()
    }
    assert got[1] == "contact <EMAIL> for details"
    assert got[2] == "server at <IP> went down"
    assert got[3] == "card <NUMBER> charged"
    assert got[4] == "call <PHONE> today"
    assert got[5] == "version 1.2 costs 35 dollars"
    counts = {
        r["doc_id"]: r["c"]
        for r in docs.select(
            "doc_id", pii_hit_counts(F.col("text")).alias("c")
        ).collect()
    }
    assert counts[1]["<EMAIL>"] == 1 and counts[1]["<IP>"] == 0
    assert counts[5] == {"<EMAIL>": 0, "<IP>": 0, "<NUMBER>": 0, "<PHONE>": 0}


def test_bloom_decontaminate_equals_exact_under_forced_fps(spark):
    """A deliberately TINY bloom (64 bits, 1 hash) drives the false-
    positive rate toward 1 — the exact-verify pass must still make the
    result identical to the plain NOT-EXISTS filter, and no clean doc
    may be lost (no false negatives by construction)."""
    from striot_spark.functions.dedup import bloom_decontaminate

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(8))) for i in range(1, 30)
    ]
    # doc 50 shares its whole text with eval doc 100 -> contaminated
    rows.append((50, "alpha beta gamma delta epsilon zeta"))
    train = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    for m in (64, 1 << 14):
        got = sorted(
            r["doc_id"]
            for r in bloom_decontaminate(
                train, eval_df, "doc_id", "text", ngram_n=5, num_bits=m
            ).collect()
        )
        assert got == list(range(1, 30)), f"num_bits={m}"


def test_bloom_decontaminate_short_docs_are_clean(spark):
    """Docs with fewer than ngram_n tokens have no n-gram set — they
    must pass the filter (empty exists() is false), matching the
    oracle's no-gram convention."""
    from striot_spark.functions.dedup import bloom_decontaminate

    train = spark.createDataFrame(
        [(1, "too short"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    got = sorted(
        r["doc_id"]
        for r in bloom_decontaminate(
            train, eval_df, "doc_id", "text", ngram_n=5
        ).collect()
    )
    assert got == [1]


def test_scrub_duplicated_spans_brute_force(spark):
    """Operator result equals a Python brute-force on a corpus with
    overlapping frequent spans, a doc that is ALL boilerplate, and a
    short doc with no n-gram."""
    from striot_spark.functions.dedup import scrub_duplicated_spans

    rows = [
        (1, "a b c d e x y z w v"),      # shares 'a b c d e' with 2,3
        (2, "p a b c d e q r s t"),      # overlapping occurrence
        (3, "a b c d e"),                # entirely boilerplate
        (4, "unique tokens only here now friend"),
        (5, "tiny doc"),                 # < 5 tokens: passes through
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n = 5

    texts = {i: t.split() for i, t in rows}
    from collections import defaultdict

    docs_per_gram = defaultdict(set)
    for i, tk in texts.items():
        for j in range(len(tk) - n + 1):
            docs_per_gram[tuple(tk[j : j + n])].add(i)
    expected = {}
    for i, tk in texts.items():
        cov = set()
        for j in range(len(tk) - n + 1):
            if len(docs_per_gram[tuple(tk[j : j + n])]) >= 2:
                cov.update(range(j, j + n))
        keptoks = [t for j, t in enumerate(tk) if j not in cov]
        expected[i] = (" ".join(keptoks), len(tk), len(tk) - len(keptoks))

    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in scrub_duplicated_spans(
            df, "doc_id", "text", ngram_n=n, min_docs=2
        ).collect()
    }
    assert got == expected
    # both join strategies agree
    got_hash = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in scrub_duplicated_spans(
            df, "doc_id", "text", ngram_n=n, min_docs=2,
            broadcast_freq=False,
        ).collect()
    }
    assert got_hash == expected


def test_audit_checks_single_pass(spark):
    """N row-level checks produce one report row each, computed in a
    single aggregation over one scan (no per-check subplans)."""
    from striot_spark.functions import audit as A

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, 200.0), (None, "zz", -1.0)],
        "id long, code string, v double",
    )
    rep = A.audit(
        df,
        [
            A.not_null("id"),
            A.not_null("code"),
            A.in_range("v", 0, 100),
            A.one_of("code", ("a", "b")),
        ],
    )
    got = {r["check"]: (r["n_violations"], r["n_rows"]) for r in rep.collect()}
    assert got == {
        "not_null(id)": (1, 3),
        "not_null(code)": (1, 3),
        "in_range(v,0,100)": (2, 3),
        "one_of(code,a,b)": (1, 3),
    }
    plan = rep._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-plan
    # one aggregation pipeline: partial+final HashAggregate, one scan
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") <= 1
    assert "Union" not in plan


def test_audit_unique_and_fk(spark):
    from striot_spark.functions import audit as A

    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, k long"
    )
    dim = spark.createDataFrame([(10,), (20,)], "k long")
    uk = A.unique_key(
        fact.select("k"), ["k"]
    ).collect()[0]
    assert (uk["n_violations"], uk["n_rows"]) == (1, 4)  # k=10 twice
    fk = A.foreign_key(fact, "k", dim, "k").collect()[0]
    # id=3 orphaned; the null key is not a violation
    assert (fk["n_violations"], fk["n_rows"]) == (1, 4)


def test_snapshot_diff_property_roundtrip(spark):
    """For ANY pair of snapshots, applying the diff to `old` must
    reproduce `new` exactly: inserts+updates take new's payload,
    deletes drop, unchanged keys keep old's payload (hypothesis over
    random key/payload maps — the reference's QuickCheck style,
    SURVEY.md §5.3)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from striot_spark.functions.analytics import snapshot_diff

    # \x00/\x01 and the literal null sentinel in the alphabet + TWO
    # compare columns: the injection classes a separator-based digest
    # fails on (cross-column shifts, value==sentinel collisions)
    payload = st.one_of(
        st.none(),
        st.text(alphabet="ab\x00\x01<NULL> ", max_size=6),
    )
    snap = st.dictionaries(
        st.integers(0, 12), st.tuples(payload, payload), max_size=10
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(old=snap, new=snap)
    def prop(old, new):
        o = spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in old.items()]
            or [(None, None, None)],
            "k long, v string, w string",
        ).filter(F.col("k").isNotNull())
        n = spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in new.items()]
            or [(None, None, None)],
            "k long, v string, w string",
        ).filter(F.col("k").isNotNull())
        diff = {
            r["k"]: r["op"]
            for r in snapshot_diff(o, n, ["k"], ["v", "w"]).collect()
        }
        applied = dict(old)
        for k, op in diff.items():
            if op == "delete":
                applied.pop(k)
            else:  # insert / update
                applied[k] = new[k]
        assert applied == new
        # and no spurious ops: unchanged keys never appear
        for k, op in diff.items():
            if op == "update":
                assert old[k] != new[k]

    prop()


def test_cms_estimate_is_upper_bound_and_tight_when_sparse(spark):
    """CMS structural guarantees: estimate >= exact for every token;
    with width >> vocabulary (no collisions) estimate == exact."""
    from striot_spark.functions.analytics import cms_heavy_hitters

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d e"), (3, "c c f")],
        "id long, text string",
    )
    wide = cms_heavy_hitters(df, "text", top_k=10, depth=3, width=4096)
    for r in wide.collect():
        assert r["cms_estimate"] == r["exact_n"], r
    narrow = cms_heavy_hitters(df, "text", top_k=10, depth=2, width=2)
    for r in narrow.collect():
        assert r["cms_estimate"] >= r["exact_n"], r


def _uf_groups(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = sorted((ru, rv))
            parent[hi] = lo
    return {n: find(n) for n in parent}


def test_dedup_groups_logrounds_chain_and_random(spark):
    """Large-star/small-star CC must equal union-find on (a) a
    200-node CHAIN — the O(diameter) killer the label-propagation
    path documents as out of scope — and (b) random graphs."""
    import random

    from striot_spark.functions.dedup import dedup_groups_logrounds

    cases = [("chain", [(i, i + 1) for i in range(200)])]
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        randg = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(80)
        ]
        cases.append(
            (f"random{seed}", [(u, v) for u, v in randg if u != v])
        )
    for name, edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["doc_id"]: r["group_id"]
            for r in dedup_groups_logrounds(df).collect()
        }
        assert got == _uf_groups(edges), name


def test_dedup_groups_logrounds_matches_label_prop(spark):
    """Both CC lowerings agree on a clustered near-dup-shaped graph
    (the label-propagation path's home turf)."""
    from striot_spark.functions.dedup import (
        dedup_groups,
        dedup_groups_logrounds,
    )

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {
        r["doc_id"]: r["group_id"]
        for r in dedup_groups(df, driver_edge_threshold=0).collect()
    }
    b = {
        r["doc_id"]: r["group_id"]
        for r in dedup_groups_logrounds(df).collect()
    }
    assert a == b == _uf_groups(edges)


def test_systematic_weighted_sample_exact_properties(spark):
    from striot_spark.functions.sampling import systematic_weighted_sample

    docs = spark.createDataFrame(
        [(i, (i * 7919) % 37) for i in range(300)],
        "doc_id long, w long",
    )
    stride = 50
    out = systematic_weighted_sample(docs, "doc_id", "w", stride)
    rows = {r["doc_id"]: (r["w"], r["cum_weight"]) for r in out.collect()}
    data = sorted((i, (i * 7919) % 37) for i in range(300))
    total = sum(w for _, w in data)
    # exactly one kept row per grid point in (0, total]
    assert len(rows) == total // stride
    # heavy rows (w >= stride) always kept; zero-weight rows never
    for i, w in data:
        if w >= stride:
            assert i in rows
        if w == 0:
            assert i not in rows
    # brute-force replication of the grid rule
    acc, expect = 0, {}
    for i, w in data:
        if w > 0 and (acc + w) // stride > acc // stride:
            expect[i] = (w, acc + w)
        acc += w
    assert rows == expect


def test_systematic_weighted_sample_grids_nest(spark):
    from striot_spark.functions.sampling import systematic_weighted_sample

    docs = spark.createDataFrame(
        [(i, (i * 104729) % 19 + 1) for i in range(200)],
        "doc_id long, w long",
    )
    fine = {
        r["doc_id"]
        for r in systematic_weighted_sample(docs, "doc_id", "w", 25).collect()
    }
    coarse = {
        r["doc_id"]
        for r in systematic_weighted_sample(docs, "doc_id", "w", 50).collect()
    }
    assert coarse <= fine  # multiples of 2s are a subset of multiples of s


def test_pagerank_cycle_is_exact_fixed_point(spark):
    from striot_spark.functions.graph import pagerank

    # 3-cycle: outdeg 1 everywhere, so rank scale is a fixed point of
    # teleport + 85*rank//100 = 0.15e9 + 0.85e9 = 1e9 exactly
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges, 4).collect()}
    assert out == {"a": 10**9, "b": 10**9, "c": 10**9}


def test_pagerank_star_matches_hand_rolled(spark):
    from striot_spark.functions.graph import pagerank

    # undirected star: hub h <-> leaves x,y,z (both directions)
    und = [("h", "x"), ("h", "y"), ("h", "z")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src string, dst string"
    )
    scale, dn, dd = 10**9, 85, 100
    tp = (dd - dn) * scale // dd
    ranks = {n: scale for n in "hxyz"}
    deg = {"h": 3, "x": 1, "y": 1, "z": 1}
    adj = {"h": list("xyz"), "x": ["h"], "y": ["h"], "z": ["h"]}
    for _ in range(3):
        contrib = {u: ranks[u] // deg[u] for u in ranks}
        ranks = {
            v: tp + dn * sum(contrib[u] for u in adj[v]) // dd
            for v in ranks
        }
    out = {r["node"]: r["rank"] for r in pagerank(edges, 3).collect()}
    assert out == ranks


def test_scd2_asof_equals_latest_wins_and_ties_are_empty(spark):
    import datetime

    from striot_spark.functions.analytics import (
        latest_snapshot,
        scd2_history,
        snapshot_asof,
    )

    t = datetime.datetime(2024, 1, 1)

    def at(s):
        return t + datetime.timedelta(seconds=s)

    # key 1: two changes + a TIED pair at s=20 (id 4 must win);
    # key 2: single current row
    log = spark.createDataFrame(
        [
            (1, at(0), 1, "a"),
            (1, at(10), 2, "b"),
            (1, at(20), 3, "c"),
            (1, at(20), 4, "d"),
            (2, at(5), 5, "x"),
        ],
        "k long, ts timestamp, eid long, v string",
    )
    hist = scd2_history(log, ["k"], "ts", "eid", ["eid", "v"])
    rows = {
        (r["k"], r["eid"]): (r["valid_from"], r["valid_to"])
        for r in hist.collect()
    }
    assert rows[(1, 3)] == (at(20), at(20))  # overwritten tie: empty
    assert rows[(1, 4)] == (at(20), None)  # tie winner: current
    # as-of at several instants equals latest-wins over the cut log
    for probe in (at(0), at(15), at(20), at(99)):
        snap = {
            (r["k"], r["v"])
            for r in snapshot_asof(hist, probe).select("k", "v").collect()
        }
        ref = {
            (r["k"], r["v"])
            for r in latest_snapshot(
                log.filter(F.col("ts") <= probe), ["k"], ["ts", "eid"], ["v"]
            ).collect()
        }
        assert snap == ref, probe


def test_zorder_key_matches_python_interleave(spark):
    from striot_spark.functions.bucketing import zorder_key

    def ref(a, b, bits=10):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(i, (i * 37) % 1024, (i * 101) % 1024) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = df.withColumn("z", zorder_key(["a", "b"], bits=10))
    for r in out.collect():
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_files_cover_small_rectangles(spark):
    from striot_spark.functions.bucketing import zone_map, zorder_key

    # 2^14-range z-keys chopped into 2^10-span files: each file's
    # rectangle is at most 2^5 wide per dimension
    rows = [(i, (i * 37) % 128, (i * 101) % 128) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    z = df.withColumn("z", zorder_key(["a", "b"], bits=7))
    files = z.withColumn("f", F.shiftright(F.col("z"), 10))
    zm = zone_map(files, "f", ["a", "b"]).collect()
    assert len(zm) > 1
    for r in zm:
        assert r["max_a"] - r["min_a"] < 32
        assert r["max_b"] - r["min_b"] < 32


def test_hll_distinct_accuracy_and_dup_insensitivity(spark):
    from striot_spark.functions.analytics import hll_distinct

    rows = []
    for g, n in (("s", 100), ("m", 1000), ("l", 5000)):
        rows += [(g, f"{g}-item-{i}") for i in range(n)]
    # duplicates must not move the estimate (register max is idempotent)
    rows += [("m", f"m-item-{i % 50}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, item string")
    est = {r["g"]: r["hll_est"] for r in hll_distinct(df, ["g"], "item").collect()}
    for g, n in (("s", 100), ("m", 1000), ("l", 5000)):
        rel = abs(est[g] / n - 1)
        assert rel < 0.35, (g, n, est[g])  # ~2.5 sigma at m=64
    nodup = df.distinct()
    est2 = {
        r["g"]: r["hll_est"]
        for r in hll_distinct(nodup, ["g"], "item").collect()
    }
    assert est == est2


def test_compact_files_collapses_file_count_preserving_rows(spark, tmp_path):
    import os

    from striot_spark.functions.bucketing import compact_files

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    spark.range(20000).withColumn("v", F.col("id") * 3).repartition(
        50
    ).write.parquet(src)
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_before == 50
    got = compact_files(spark, src, out, target_bytes=64 * 1024)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert 1 <= n_after < n_before
    assert sorted(
        (r["id"], r["v"]) for r in got.collect()
    ) == [(i, i * 3) for i in range(20000)]
    # narrow rewrite: a tighter budget yields proportionally more files
    out2 = str(tmp_path / "compact2")
    compact_files(spark, src, out2, target_bytes=16 * 1024)
    n2 = len([f for f in os.listdir(out2) if f.endswith(".parquet")])
    assert n2 > n_after


def test_importance_weights_rank_target_like_docs(spark):
    from striot_spark.functions.sampling import importance_weights

    # target topic uses a disjoint vocabulary from the off-target noise
    rows = [(i, "t", "alpha beta gamma delta alpha beta") for i in range(6)]
    rows += [(10 + i, "o", "zero one two three four five") for i in range(6)]
    rows += [(20, "t", "alpha beta zero one")]  # mixed doc: in between
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["raw_score"])
        for r in importance_weights(
            df, "doc_id", "text", F.col("grp") == "t", buckets=512
        ).collect()
    }
    # per-token normalized score orders: pure-target > mixed > pure-noise
    def per_tok(i):
        n, s = out[i]
        return s / n

    assert per_tok(0) > per_tok(20) > per_tok(10)
    # target tokens appear ONLY in target rows -> their bucket weight is
    # scale (ratio 1); a pure-target doc scores exactly n_tokens * scale
    n, s = out[0]
    assert s == n * 10**6


def test_table_digest_detects_changes_not_order(spark):
    from striot_spark.functions.analytics import table_digest

    rows = [(i, f"u{i % 7}", i * 3) for i in range(500)]
    a = spark.createDataFrame(rows, "id long, u string, v long")
    b = spark.createDataFrame(list(reversed(rows)), "id long, u string, v long").repartition(7)

    def dig(df):
        return sorted(map(tuple, table_digest(df, ["id", "u", "v"]).collect()))

    assert dig(a) == dig(b)  # order/partitioning-insensitive
    changed = spark.createDataFrame(
        rows[:-1] + [(499, "u3", 9999)], "id long, u string, v long"
    )
    assert dig(changed) != dig(a)  # one changed row flips a bucket
    duped = spark.createDataFrame(rows + rows[:1], "id long, u string, v long")
    assert dig(duped) != dig(a)  # duplicates do NOT cancel (sum, not xor)


def test_quantiles_at_scale_matches_python_and_forced_two_pass(spark):
    from striot_spark.functions.analytics import quantiles_at_scale

    vals = [((i * 7919) % 1000, i) for i in range(2000)]
    df = spark.createDataFrame(vals, "v long, tb long")
    expect = sorted(vals)
    want = {
        k: expect[k * 1999 // 10][0] for k in range(11)
    }
    got = {
        r["q"]: r["v"]
        for r in quantiles_at_scale(df, "v", "tb").collect()
    }
    assert got == want
    # force the range-partitioned two-pass path and assert identity
    old = spark.conf.get("striot.globalIndex.smallInputBytes", None)
    try:
        spark.conf.set("striot.globalIndex.smallInputBytes", "0")
        got2 = {
            r["q"]: r["v"]
            for r in quantiles_at_scale(df, "v", "tb").collect()
        }
    finally:
        if old is None:
            spark.conf.unset("striot.globalIndex.smallInputBytes")
        else:
            spark.conf.set("striot.globalIndex.smallInputBytes", old)
    assert got2 == want


def test_same_key_pairs_hand_computed(spark):
    """Order 1 holds parts {3, 1, 2} (one duplicated) -> pairs (1,2),
    (1,3), (2,3); order 2 holds {2, 3} -> (2,3) collapsing with order
    1's in the global distinct; order 3 is a singleton -> no pairs.
    Pairs are canonical (a < b) regardless of row order."""
    from striot_spark.functions.graph import same_key_pairs

    df = spark.createDataFrame(
        [(1, 3), (1, 1), (1, 2), (1, 1), (2, 3), (2, 2), (3, 9)],
        "k long, p long",
    )
    got = {
        (r["u"], r["v"])
        for r in same_key_pairs(df, "k", "p").collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_same_key_pairs_counted_multiplicity(spark):
    """unique=False keeps one row per (key, pair) co-occurrence: the
    (1,2) pair occurs under keys 10 and 20 -> two rows; within a key
    duplicates still collapse (key 10 holds item 1 twice). The
    consumer's groupBy(pair).count() then yields exact co-occurrence
    counts (q234 support, q278 wedge multiplicity)."""
    from striot_spark.functions.graph import same_key_pairs

    df = spark.createDataFrame(
        [(10, 1), (10, 1), (10, 2), (10, 3), (20, 1), (20, 2), (30, 7)],
        "k long, p long",
    )
    rows = sorted(
        (r["u"], r["v"])
        for r in same_key_pairs(df, "k", "p", unique=False).collect()
    )
    assert rows == [(1, 2), (1, 2), (1, 3), (2, 3)]


def test_same_key_pairs_rejects_null_keys(spark):
    """NULL-key rows must produce NO pairs — matching the null-rejecting
    equi-join the helper replaced (ADVICE r14: a bare groupBy would pool
    every NULL-keyed row into one group and fabricate edges among
    them). NULL items drop inside collect_set, matching the join form's
    x < y predicate."""
    from striot_spark.functions.graph import same_key_pairs

    df = spark.createDataFrame(
        [(None, 1), (None, 2), (None, 3), (1, 7), (1, 8), (1, None)],
        "k long, p long",
    )
    got = {
        (r["u"], r["v"]) for r in same_key_pairs(df, "k", "p").collect()
    }
    assert got == {(7, 8)}
    counted = {
        (r["u"], r["v"])
        for r in same_key_pairs(df, "k", "p", unique=False).collect()
    }
    assert counted == {(7, 8)}


def test_same_key_pairs_matches_self_join_on_lineitem(spark, sf_dir):
    """The decisive equivalence: on the real co-purchase build the
    helper's pair SET equals the classic self-join's, both directions
    (PERF §43 swapped all 11 graph-query pair builds onto the helper)."""
    from striot_spark.functions.graph import same_key_pairs
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    joined = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
    )
    helper = same_key_pairs(li, "l_orderkey", "l_partkey")
    assert helper.exceptAll(joined).count() == 0
    assert joined.exceptAll(helper).count() == 0


def test_triangle_count_known_graphs(spark):
    from striot_spark.functions.graph import triangle_count

    def count(pairs):
        df = spark.createDataFrame(pairs, "a long, b long")
        return triangle_count(df).collect()[0]["n_triangles"]

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert count(k4) == 4  # K4 has C(4,3) triangles
    square = [(1, 2), (2, 3), (3, 4), (4, 1)]
    assert count(square) == 0
    # two triangles sharing an edge + a pendant node
    bowtie = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 5)]
    assert count(bowtie) == 2


def test_funnel_strict_ordering(spark):
    import datetime

    from striot_spark.functions.analytics import funnel

    t = datetime.datetime(2024, 1, 1)

    def at(s):
        return t + datetime.timedelta(seconds=s)

    rows = [
        # u1 converts in order
        (1, at(0), "view"), (1, at(10), "click"), (1, at(20), "purchase"),
        # u2 clicks BEFORE viewing: click must not count; later click does
        (2, at(0), "click"), (2, at(5), "view"), (2, at(9), "purchase"),
        (2, at(12), "click"), (2, at(30), "purchase"),
        # u3 never clicks
        (3, at(0), "view"), (3, at(50), "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string")
    out = {
        r["u"]: (r["t_view"], r["t_click"], r["t_purchase"])
        for r in funnel(df, ["u"], "ts", "et", ["view", "click", "purchase"]).collect()
    }
    assert out[1] == (at(0), at(10), at(20))
    # u2: first click AFTER view is t=12; first purchase after that is 30
    assert out[2] == (at(5), at(12), at(30))
    assert out[3] == (at(0), None, None)


def test_retention_cohorts_triangle(spark):
    import datetime

    from striot_spark.functions.analytics import retention_cohorts

    def day(d):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)

    rows = [
        (1, day(0)), (1, day(7)), (1, day(8)),  # cohort 0, weeks 0+1
        (2, day(1)), (2, day(15)),              # cohort 0, weeks 0+2
        (3, day(9)),                            # cohort 1, week 1 only
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = {
        (r["cohort"], r["period_offset"]): r["n_active"]
        for r in retention_cohorts(df, ["u"], "ts", "2024-01-01").collect()
    }
    assert out == {(0, 0): 2, (0, 1): 1, (0, 2): 1, (1, 0): 1}


def test_hll_register_merge_equals_union_sketch(spark):
    """The mergeability law behind q156: max-merging two groups'
    registers gives EXACTLY the registers (and estimate) of the
    unioned item set."""
    from striot_spark.functions.analytics import hll_estimate, hll_registers

    rows = [("a", f"x{i}") for i in range(400)]
    rows += [("b", f"y{i}") for i in range(300)]
    rows += [("b", f"x{i}") for i in range(100)]  # overlap with a
    df = spark.createDataFrame(rows, "g string, item string")
    regs = hll_registers(df, ["g"], "item")
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .withColumn("g", F.lit("u"))
    )
    est_merged = hll_estimate(merged, ["g"]).collect()[0]["hll_est"]
    union = df.select(F.lit("u").alias("g"), "item").distinct()
    est_union = (
        hll_estimate(hll_registers(union, ["g"], "item"), ["g"])
        .collect()[0]["hll_est"]
    )
    assert est_merged == est_union


def test_join_size_estimate_is_exact(spark):
    from striot_spark.functions.audit import join_size_estimate

    a = spark.createDataFrame(
        [(k,) for k in [1] * 5 + [2] * 3 + [3]], "k long"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1] * 4 + [3] * 2 + [4]], "k long"
    )
    out = join_size_estimate(a, b, "k", "k")
    total = [r for r in out.collect() if r["key_value"] == "<TOTAL>"][0]
    actual = a.join(b, "k").count()
    assert total["rows_out"] == actual == 5 * 4 + 1 * 2


def test_join_size_estimate_disjoint_keys_is_zero(spark):
    from striot_spark.functions.audit import join_size_estimate

    a = spark.createDataFrame([(1,), (1,)], "k long")
    b = spark.createDataFrame([(2,)], "k long")
    rows = join_size_estimate(a, b, "k", "k").collect()
    assert len(rows) == 1
    assert (rows[0]["key_value"], rows[0]["rows_out"], rows[0]["permille"]) == (
        "<TOTAL>", 0, 0,
    )


def test_apply_changes_tombstone_semantics(spark):
    """Delete only wins when nothing newer follows: U-then-D drops the
    key, D-then-U resurrects it, and n_changes counts the full log."""
    from striot_spark.functions.analytics import apply_changes

    log = spark.createDataFrame(
        [
            # key 1: upsert then delete -> gone
            (1, 1, "U", "a"),
            (1, 2, "D", None),
            # key 2: delete then newer upsert -> alive with latest
            (2, 1, "D", None),
            (2, 2, "U", "x"),
            (2, 3, "U", "y"),
            # key 3: single upsert -> alive
            (3, 1, "U", "z"),
        ],
        "k long, seq long, op string, payload string",
    )
    out = {
        r["k"]: (r["payload"], r["n_changes"])
        for r in apply_changes(
            log, ["k"], ["seq"], ["payload"], "op"
        ).collect()
    }
    assert out == {2: ("y", 3), 3: ("z", 1)}


def test_winsorized_stats_matches_python_reference(spark):
    from striot_spark.functions.analytics import winsorized_stats

    vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000, -500, 10]
    rows = [("g", v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, c long, tb long")
    got = winsorized_stats(df, ["g"], "c", "tb").collect()[0]
    # boundaries at rank k*(n-1) DIV 20 of sorted values
    sv = sorted(vals)
    n = len(vals)
    lo, hi = sv[(n - 1) // 20], sv[19 * (n - 1) // 20]
    ref = sum(min(max(v, lo), hi) for v in vals)
    assert got["n"] == n and got["wsum"] == ref
    assert got["n_lo"] == sum(v < lo for v in vals)
    assert got["n_hi"] == sum(v > hi for v in vals)


def test_weighted_quantiles_python_reference(spark):
    """Suffix-selection semantics under zero weights and value ties,
    on both the small-input window and the forced two-pass path."""
    from striot_spark.functions.analytics import weighted_quantiles

    rows = [
        (10, 1, 3), (10, 2, 0), (20, 3, 5), (20, 4, 1), (30, 5, 1),
        (40, 6, 0), (50, 7, 2),
    ]
    total = sum(w for _, _, w in rows)

    def ref(p):
        cw = 0
        for v, _, w in sorted(rows, key=lambda r: (r[0], r[1])):
            cw += w
            if cw * 100 >= p * total:
                return v, cw
        raise AssertionError

    df = spark.createDataFrame(rows, "val long, tb long, w long")
    old = spark.conf.get("striot.globalIndex.smallInputBytes", None)
    try:
        for forced in (None, "0"):
            if forced is not None:
                spark.conf.set("striot.globalIndex.smallInputBytes", forced)
            got = {
                r["p"]: (r["value"], r["cum_w"], r["total_w"])
                for r in weighted_quantiles(df, "val", "tb", "w").collect()
            }
            for p in (25, 50, 75):
                v, cw = ref(p)
                assert got[p] == (v, cw, total), (forced, p, got[p])
    finally:
        if old is None:
            spark.conf.unset("striot.globalIndex.smallInputBytes")
        else:
            spark.conf.set("striot.globalIndex.smallInputBytes", old)


def test_k_core_converges_to_true_core(spark):
    """On a graph whose peel cascades (chain tail into a clique), a
    fixed round count >= the cascade depth reproduces the true k-core;
    mid-cascade rounds match a python reference peel."""
    from striot_spark.functions.graph import k_core

    # 4-clique (1,2,3,4) with a chain 4-5-6 hanging off it
    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    sym = und + [(b, a) for a, b in und]

    def ref_peel(es, k, rounds):
        for _ in range(rounds):
            deg = {}
            for s, _d in es:
                deg[s] = deg.get(s, 0) + 1
            ok = {v for v, d in deg.items() if d >= k}
            es = [(s, d) for s, d in es if s in ok and d in ok]
        return es

    df = spark.createDataFrame(sym, "u long, v long")
    for rounds in (1, 2, 3):
        got = {
            (r["node"], r["deg"])
            for r in k_core(df, k=2, rounds=rounds, src="u", dst="v").collect()
        }
        es = ref_peel(sym, 2, rounds)
        deg = {}
        for s, _d in es:
            deg[s] = deg.get(s, 0) + 1
        assert got == set(deg.items()), rounds
    # rounds=2 already reaches the fixed point here: the 2-core is the
    # clique; node 6 falls in round 1, node 5 in round 2
    assert {n for n, _ in got} == {1, 2, 3, 4}


def test_k_core_deep_peel_crosses_checkpoint_cadence(spark):
    """A 18-node chain hanging off a 3-clique peels ONE node per round
    under k=2, so rounds=18 crosses the localCheckpoint lineage cut
    (every 2 rounds) nine times — the deep-peel regression for the
    cadence added per VERDICT r8 task 4. Each round references the
    previous edge set 3 times, so the plan grows ~3^rounds between
    cuts: without the cadence this peel OOMs the driver in plan-string
    generation; with it the result must equal the true 2-core (the
    clique)."""
    from striot_spark.functions.graph import k_core

    clique = [(1, 2), (1, 3), (2, 3)]
    chain = [(3 + i, 4 + i) for i in range(18)]  # 3-4-...-21
    und = clique + chain
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "u long, v long")
    got = {
        (r["node"], r["deg"])
        for r in k_core(df, k=2, rounds=18, src="u", dst="v").collect()
    }
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_sorted_export_files_cover_disjoint_key_ranges(spark):
    """q200's layout claim: after repartitionByRange +
    sortWithinPartitions, parquet files cover pairwise-disjoint
    interleave_key ranges, so reading files in range order IS the
    global order without a sort."""
    import glob

    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % 1000).alias("interleave_key"),
    )
    out = striot_mkdtemp(prefix="striot_export_gate_") + "/d"
    (
        df.repartitionByRange(6, F.col("interleave_key"))
        .sortWithinPartitions("interleave_key", "doc_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    import duckdb

    spans = []
    for f in glob.glob(out + "/*.parquet"):
        lo, hi, n = duckdb.sql(
            f"SELECT min(interleave_key), max(interleave_key), count(*) "
            f"FROM '{f}'"
        ).fetchone()
        if n:
            spans.append((lo, hi))
    spans.sort()
    assert len(spans) > 1
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # ranges may touch, never overlap


def test_compression_ratio_deterministic_and_ordering(spark):
    """zlib permille is stable across runs and orders repetitive text
    below natural-ish prose; empty text -> 0, null -> null."""
    from striot_spark.functions.text import compression_ratio_pm

    rows = [
        (1, "spam " * 200),
        (2, "the quick brown fox jumps over a lazy dog near the bank "
            "of the quiet river while rain falls on old stones"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["z"]
        for r in df.select(
            "doc_id", compression_ratio_pm(F.col("text")).alias("z")
        ).collect()
    }
    out2 = {
        r["doc_id"]: r["z"]
        for r in df.select(
            "doc_id", compression_ratio_pm(F.col("text")).alias("z")
        ).collect()
    }
    assert out == out2  # deterministic
    assert out[3] == 0 and out[4] is None
    assert out[1] < out[2]  # repetitive text compresses far better
    import zlib

    raw = rows[0][1].encode()
    assert out[1] == len(zlib.compress(raw, 6)) * 1000 // len(raw)


def test_grain_rollup_combine_law(spark):
    """Coarser grains re-aggregated from finer partials equal direct
    aggregation of raw rows — the algebraic law q166 depends on."""
    import datetime as dt

    from striot_spark.functions.analytics import grain_rollup

    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(50):
        rows.append(
            (base + dt.timedelta(minutes=7 * i), "a" if i % 3 else "b",
             float(i) + 0.25)
        )
    df = spark.createDataFrame(rows, "ts timestamp, k string, value double")
    out = grain_rollup(df, "ts", "value", ["k"])
    got = {
        (r["grain"], r["bucket"], r["k"]): (r["n"], r["sum_c"])
        for r in out.collect()
    }
    # python reference: direct aggregation at each grain
    from collections import defaultdict

    for grain, trunc in (
        ("minute", lambda t: t.replace(second=0, microsecond=0)),
        ("hour", lambda t: t.replace(minute=0, second=0, microsecond=0)),
        ("day", lambda t: t.replace(hour=0, minute=0, second=0,
                                    microsecond=0)),
    ):
        ref = defaultdict(lambda: [0, 0])
        for ts, k, v in rows:
            b = trunc(ts)
            ref[(b, k)][0] += 1
            ref[(b, k)][1] += round(v * 100)
        for (b, k), (n, sc) in ref.items():
            assert got[(grain, b, k)] == (n, sc), (grain, b, k)


def test_posting_lists_caps_heavy_tokens(spark):
    """A token present in many docs emits df over ALL docs but only
    the first-k ascending ids in the posting head."""
    from striot_spark.functions.text import posting_lists

    rows = [(i, "hot unique%d" % i) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["token"]: (r["df_ct"], r["postings"])
        for r in posting_lists(df, "doc_id", "text", k=3).collect()
    }
    assert out["hot"] == (20, "0,1,2")
    assert out["unique7"] == (1, "7")


def test_k_anonymous_rows_edges(spark):
    """k=1 keeps everything; k above the largest group suppresses all;
    invalid k raises."""
    import pytest

    from striot_spark.functions.audit import k_anonymous_rows

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id long, qi string"
    )
    assert k_anonymous_rows(df, ["qi"], 1).count() == 3
    assert k_anonymous_rows(df, ["qi"], 2).count() == 2
    assert k_anonymous_rows(df, ["qi"], 5).count() == 0
    with pytest.raises(ValueError):
        k_anonymous_rows(df, ["qi"], 0)


def test_bloom_file_index_has_no_false_negatives_and_prunes(spark):
    """The per-file Bloom index must surface EVERY (key, file) pair
    that actually exists (no false negatives — the property the
    consumer's correctness rests on) while pruning a meaningful share
    of the (probe, file) space."""
    import random

    from striot_spark.functions.bucketing import (
        bloom_file_index,
        bloom_file_lookup,
    )

    rng = random.Random(7)
    rows = [(rng.randrange(50), fid) for fid in range(16) for _ in range(30)]
    df = spark.createDataFrame(rows, "key long, file_id long")
    idx = bloom_file_index(df, "file_id", "key")
    probes = list(range(0, 50, 3))
    cand = {
        (r["probe_key"], r["file_id"])
        for r in bloom_file_lookup(idx, probes).collect()
    }
    truth = {
        (r["key"], r["file_id"])
        for r in df.filter(F.col("key").isin(probes)).distinct().collect()
    }
    assert truth <= cand  # no false negatives, ever
    assert len(cand) < len(probes) * 16  # and it actually prunes


def test_phrase_search_is_order_sensitive_and_counts(spark):
    """Exact phrase matching: consecutive positions only (reversed
    word order must NOT match), with per-doc occurrence counts."""
    from striot_spark.functions.text import (
        phrase_search,
        positional_postings,
    )

    rows = [
        (0, "big red fox jumps big red fox"),
        (1, "red big fox"),          # reversed pair: no match
        (2, "big  red fox"),         # double space must not break pos
        (3, "big blue fox"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    post = positional_postings(docs, "doc_id", "text")
    got = {
        (r["phrase_id"], r["doc"]): r["n_matches"]
        for r in phrase_search(post, ["big red", "red fox jumps"]).collect()
    }
    assert got == {(0, 0): 2, (0, 2): 1, (1, 0): 1}


def test_label_propagation_separates_bridged_cliques(spark):
    """Frequency voting must keep two 4-cliques joined by ONE bridge
    edge in separate communities (where min-label CC would merge
    them), with deterministic smallest-label ties."""
    from itertools import combinations

    from striot_spark.functions.graph import label_propagation

    c1 = list(combinations([0, 1, 2, 3], 2))
    c2 = list(combinations([10, 11, 12, 13], 2))
    bridge = [(3, 10)]
    e = c1 + c2 + bridge
    edges = spark.createDataFrame(
        e + [(b, a) for a, b in e], "src long, dst long"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert len({got[n] for n in (0, 1, 2, 3)}) == 1
    assert len({got[n] for n in (10, 11, 12, 13)}) == 1
    assert got[0] != got[10]  # the bridge must NOT merge the cliques


def test_label_propagation_string_node_ids(spark):
    """The arg-max pick negates the VOTE COUNT, never the label, so
    LPA stays valid for any orderable id type (the trade graph uses
    'c123'/'s45' string ids). Triangle x-y-z, 1 round: every node
    sees both other labels once — tie breaks to the lexicographically
    smallest neighbor label."""
    from striot_spark.functions.graph import label_propagation

    e = [("x", "y"), ("y", "z"), ("x", "z")]
    edges = spark.createDataFrame(
        e + [(b, a) for a, b in e], "src string, dst string"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=1).collect()
    }
    assert got == {"x": "y", "y": "x", "z": "x"}


def test_binned_quantile_serve_exact_rank_selection(spark):
    """Decile reconstruction from bin counts must pick exactly the bin
    holding rank (q*(N-1)) DIV 10 for every decile — verified against
    a python reference on a small irregular distribution."""
    from striot_spark.functions.analytics import binned_quantile_serve

    counts = [(0, 3), (2, 5), (3, 1), (7, 11)]  # N=20, gappy bins
    df = spark.createDataFrame(counts, "bin long, n_rows long")
    got = sorted(
        (r["q"], r["bin"])
        for r in binned_quantile_serve(df, "bin", "n_rows").collect()
    )
    # python reference: expand, rank, select
    vals = [b for b, n in counts for _ in range(n)]
    expect = sorted((q, vals[(q * (len(vals) - 1)) // 10]) for q in range(11))
    assert got == expect


def test_modularity_matches_python_reference(spark):
    """Integer-ppm Newman modularity against a hand-computed
    reference: two 3-cliques with one bridge edge, partitioned by
    clique."""
    from itertools import combinations

    from striot_spark.functions.graph import modularity

    c1, c2 = [0, 1, 2], [10, 11, 12]
    und = list(combinations(c1, 2)) + list(combinations(c2, 2)) + [(2, 10)]
    e = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(e, "src long, dst long")
    labels = spark.createDataFrame(
        [(n, 0) for n in c1] + [(n, 1) for n in c2], "node long, label long"
    )
    got = modularity(edges, labels).collect()[0]
    # python reference: E=14 directed; per community ec=6, dc=7
    E = len(e)
    ec, dc = 6, 7
    expect = (2 * (ec * E - dc * dc)) * 1_000_000 // (E * E)
    assert got["q_ppm"] == expect
    assert got["n_communities"] == 2 and got["e_directed"] == E


def test_binned_quantile_serve_single_row_input(spark):
    """N=1: every quantile index must map to the single bin (the
    oracle's range-join form emits all 11 rows; an empty result here
    was a guaranteed hash mismatch)."""
    from striot_spark.functions.analytics import binned_quantile_serve

    df = spark.createDataFrame([(4, 1)], "bin long, n_rows long")
    got = sorted(
        (r["q"], r["bin"])
        for r in binned_quantile_serve(df, "bin", "n_rows").collect()
    )
    assert got == [(q, 4) for q in range(11)]


def test_bloom_lookup_string_keys_no_false_negatives(spark):
    """String-keyed index + string probes: '007' must hash as '007',
    not int-coerced to 7 — a coercion would prune files that really
    hold the key (a false negative)."""
    from striot_spark.functions.bucketing import (
        bloom_file_index,
        bloom_file_lookup,
    )

    rows = [("007", 0), ("7", 1), ("abc", 1)]
    df = spark.createDataFrame(rows, "key string, file_id long")
    idx = bloom_file_index(df, "file_id", "key")
    cand = {
        (r["probe_key"], r["file_id"])
        for r in bloom_file_lookup(idx, ["007", "abc"]).collect()
    }
    assert ("007", 0) in cand and ("abc", 1) in cand


def test_equidepth_histogram_buckets_are_balanced_and_ordered(spark):
    """Every bucket holds floor/ceil(N/bins) rows exactly, buckets
    cover disjoint ascending value ranges, and the forced two-pass
    rank path (smallInputBytes=0) agrees with the plain path."""
    from striot_spark.functions.analytics import equidepth_histogram

    rows = [(v * 7 % 101, i) for i, v in enumerate(range(23))]  # N=23
    df = spark.createDataFrame(rows, "cv long, tb long")
    for conf in (None, "0"):
        if conf is not None:
            spark.conf.set("striot.globalIndex.smallInputBytes", conf)
        try:
            got = sorted(
                (r["bucket"], r["n_rows"], r["lo"], r["hi"])
                for r in equidepth_histogram(df, "cv", "tb", bins=5)
                .collect()
            )
        finally:
            spark.conf.unset("striot.globalIndex.smallInputBytes")
        assert [b for b, *_ in got] == [0, 1, 2, 3, 4]
        assert {n for _, n, *_ in got} <= {4, 5} and sum(
            n for _, n, *_ in got
        ) == 23
        for (_, _, _, hi_a), (_, _, lo_b, _) in zip(got, got[1:]):
            assert hi_a <= lo_b  # disjoint ascending ranges


def test_personalized_pagerank_concentrates_on_seed_component(spark):
    """With the teleport mass on a seed in one component, the other
    component must stay at exactly 0 rank while every node reachable
    within the iteration horizon is positive; the uniform variant
    ranks both components."""
    from striot_spark.functions.graph import pagerank

    und = [(0, 1), (1, 2), (10, 11)]  # two components
    e = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(e, "src long, dst long")
    ppr = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=3, seeds=[0]).collect()
    }
    assert ppr[0] > 0 and ppr[1] > 0 and ppr[2] > 0
    assert ppr[10] == 0 and ppr[11] == 0
    uni = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=3).collect()
    }
    assert all(v > 0 for v in uni.values())


def test_pagerank_dangling_policies_match_integer_reference(spark):
    """On a genuinely directed graph with a sink (a->b, b->c, a->c; c
    has no out-edges), each dangling policy must match an exact
    integer hand-roll: 'ignore' ranks src-only nodes and leaks sink
    mass (historical default), 'self' gives the sink a self-loop,
    'redistribute' returns the residual N*scale - sum(ranks) DIV N to
    every node, conserving total mass to < N dust."""
    from striot_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    scale, dn, dd, iters = 10**9, 85, 100, 3
    tp = (dd - dn) * scale // dd

    def ref(policy):
        adj = {"a": ["b", "c"], "b": ["c"]}
        nodes = ["a", "b"] if policy == "ignore" else ["a", "b", "c"]
        if policy == "self":
            adj = {**adj, "c": ["c"]}
        ranks = {v: scale for v in nodes}
        for _ in range(iters):
            contrib = {
                u: ranks[u] // len(adj[u]) for u in adj if u in ranks
            }
            nxt = {
                v: tp
                + dn
                * sum(c for u, c in contrib.items() if v in adj[u])
                // dd
                for v in nodes
            }
            if policy == "redistribute":
                resid = len(nodes) * scale - sum(nxt.values())
                assert resid >= 0
                add = resid // len(nodes)
                nxt = {v: r + add for v, r in nxt.items()}
            ranks = nxt
        return ranks

    for policy in ("ignore", "self", "redistribute"):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(edges, iters, dangling=policy).collect()
        }
        assert got == ref(policy), policy
    # redistribute conserves mass up to DIV dust (< N per round is
    # re-collected next round; after the final correction < N total)
    total = sum(ref("redistribute").values())
    assert 0 <= 3 * scale - total < 3
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, 1, dangling="bogus")


def test_pagerank_seed_validation(spark):
    """Duplicate seeds are deduped (per-seed mass unchanged); a seed
    absent from the node table raises instead of silently dropping
    its share of teleport mass (r8 ADVICE)."""
    from striot_spark.functions.graph import pagerank

    und = [(0, 1), (1, 2)]
    e = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(e, "src long, dst long")
    once = {
        r["node"]: r["rank"]
        for r in pagerank(edges, 2, seeds=[0]).collect()
    }
    duped = {
        r["node"]: r["rank"]
        for r in pagerank(edges, 2, seeds=[0, 0, 0]).collect()
    }
    assert duped == once
    with pytest.raises(ValueError, match="absent"):
        pagerank(edges, 1, seeds=[0, 99]).collect()


def test_pagerank_headroom_guard_trips(spark):
    """The documented 2^63 bound is ENFORCED (VERDICT r9 task 2,
    modularity's 10x-probe precedent): damp_num * N * scale past the
    long range raises at setup instead of silently wrapping, and the
    weighted form additionally guards the rank-ceiling * max_weight
    product. Normal parameters are untouched."""
    from striot_spark.functions.graph import pagerank

    und = [(0, 1), (1, 2)]
    e = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(e, "src long, dst long")
    # N=3, damp_num=85: 85 * 3 * 2^61 >> 2^63-1
    with pytest.raises(ValueError, match="damp_num"):
        pagerank(edges, 1, scale=2**61)
    # weighted: N * scale * max_w = 3 * 1e9 * 2^40 >> 2^63-1
    w = spark.createDataFrame(
        [(0, 1, 2**40), (1, 2, 2**40), (1, 0, 2**40), (2, 1, 2**40)],
        "src long, dst long, w long",
    )
    with pytest.raises(ValueError, match="max_weight"):
        pagerank(w, 1, weight="w")
    # sane parameters still run (and the guard did not change results:
    # the hand-rolled fixed-point tests above pin the values)
    assert pagerank(edges, 1).count() == 3


def test_khop_reach_hll_tracks_exact_and_is_monotone(spark):
    """khop_reach_hll vs exact khop_reach on a seeded G(n, p) graph
    large enough for the raw (bias-uncorrected) estimate's accurate
    regime (reach_2 ~ n=400 >> 2.5m=160): per-node relative error of
    est_2 within the documented ~1.04/sqrt(64) sketch tolerance (3x
    headroom — errors across nodes are correlated, sharing one hash
    function), and register max-merge only grows sketches, so
    est_2 >= est_1 for every node."""
    import random

    from striot_spark.functions.graph import khop_reach, khop_reach_hll

    rng = random.Random(421)
    n = 400
    und = [
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.06
    ]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src long, dst long")
    exact = {
        r["node"]: (r["reach_1"], r["reach_2"])
        for r in khop_reach(e, hops=2).collect()
    }
    est = {
        r["node"]: (r["est_1"], r["est_2"])
        for r in khop_reach_hll(e, hops=2).collect()
    }
    assert set(est) == set(exact)
    rel = []
    for node, (e1, e2) in est.items():
        assert e2 >= e1  # register dominance => estimate monotone
        x2 = exact[node][1]
        # sketch may include the node itself at k>=2 (documented)
        rel.append(abs(e2 - x2) / max(x2, 1))
    rel.sort()
    assert rel[len(rel) // 2] <= 0.2  # median inside ~1.5 sigma
    assert rel[-1] <= 0.4  # worst node inside 3 sigma


def test_neighborhood_function_consistency(spark):
    """N(h) is the exact integer sum of the per-node khop_reach_hll
    estimates (same seeded graph → bit-equal), monotone non-decreasing
    in h (register dominance), and ppm_of_max ends at exactly 1e6 on
    the deepest hop."""
    import random

    from striot_spark.functions.graph import (
        khop_reach_hll,
        neighborhood_function,
    )

    rng = random.Random(99)
    und = [
        (a, b)
        for a in range(60)
        for b in range(a + 1, 60)
        if rng.random() < 0.08
    ]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src long, dst long")
    per = khop_reach_hll(e, hops=3).agg(
        *[F.sum(f"est_{h}").alias(f"s{h}") for h in (1, 2, 3)]
    ).collect()[0]
    nf = {
        r["hop"]: (r["nf_est"], r["ppm_of_max"])
        for r in neighborhood_function(e, hops=3).collect()
    }
    assert set(nf) == {1, 2, 3}
    for h in (1, 2, 3):
        assert nf[h][0] == per[f"s{h}"]
        assert nf[h][1] <= 1_000_000
    assert nf[1][0] <= nf[2][0] <= nf[3][0]
    assert nf[3][1] == 1_000_000


def test_rrf_fuse_hand_computed(spark):
    """Two 2-item ranked lists: rrf = sum of 1e6 DIV (60 + rank) over
    the lists a doc appears in, absent arm contributes 0, final order
    (rrf desc, id asc), absent ranks emitted as 0."""
    from striot_spark.functions.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank long")
    got = [
        (r["doc_id"], r["rrf"], r["la"], r["lb"])
        for r in rrf_fuse(
            [a, b], id_col="doc_id", rank_cols=["la", "lb"], k=10
        ).collect()
    ]
    r1, r2 = 1_000_000 // 61, 1_000_000 // 62
    assert got == [
        (2, r2 + r1, 2, 1),  # in both lists
        (1, r1, 1, 0),
        (3, r2, 0, 2),
    ]
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], id_col="doc_id")


def test_rrf_fuse_non_identifier_rank_cols(spark):
    """Caller-supplied rank_cols that are not bare SQL identifiers
    (spaces, hyphens, reserved words) must still parse — the fused
    term backtick-quotes the interpolated name (ADVICE r10)."""
    from striot_spark.functions.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank long")
    got = [
        (r["doc_id"], r["rrf"])
        for r in rrf_fuse(
            [a, b],
            id_col="doc_id",
            rank_cols=["bm25 rank", "select"],  # space + reserved word
            k=10,
        ).collect()
    ]
    r1, r2 = 1_000_000 // 61, 1_000_000 // 62
    assert got == [(2, r2 + r1), (1, r1), (3, r2)]


def test_harmonic_centrality_hll_star_and_consistency(spark):
    """hc is the exact integer fold of the khop_reach_hll estimate
    deltas (same graph → bit-equal recomputation), and on a star graph
    the hub — adjacent to everything — dominates every leaf."""
    from striot_spark.functions.graph import (
        harmonic_centrality_hll,
        khop_reach_hll,
    )

    n = 300
    und = [(0, i) for i in range(1, n)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src long, dst long")
    hc = {
        r["node"]: r["hc_est"]
        for r in harmonic_centrality_hll(e, hops=2).collect()
    }
    per = {
        r["node"]: (r["est_1"], r["est_2"])
        for r in khop_reach_hll(e, hops=2).collect()
    }
    for node, (e1, e2) in per.items():
        assert hc[node] == e1 * 1_000_000 + (e2 - e1) * 1_000_000 // 2
        assert hc[node] > 0
    assert all(hc[0] > hc[leaf] for leaf in range(1, n))


def _naive_ktruss(und, k, rounds):
    """Brute-force reference: peel edges with < k-2 triangle support
    for exactly `rounds` synchronous rounds, then return survivors
    with final support."""

    def support(es):
        s = {}
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        for u, v in es:
            s[(u, v)] = len(adj[u] & adj[v])
        return s

    es = {(min(a, b), max(a, b)) for a, b in und if a != b}
    for _ in range(rounds):
        if k - 2 <= 0:
            break
        s = support(es)
        es = {e for e in es if s[e] >= k - 2}
    s = support(es)
    return sorted((u, v, s[(u, v)]) for u, v in es)


def test_ktruss_hand_computed(spark):
    """K4 {1..4} + pendant triangle {4,5,6} + bridge (6,7): the
    4-truss is exactly the K4 (every edge in 2 triangles); at k=3 the
    pendant triangle survives too (support 1) and only the
    triangle-free bridge dies."""
    from striot_spark.functions.graph import k_truss

    und = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4
        + [(4, 5), (5, 6), (4, 6)]  # pendant triangle
        + [(6, 7)]  # bridge
    )
    e = spark.createDataFrame(und, "a long, b long")
    got4 = sorted(
        (r["a"], r["b"], r["support"])
        for r in k_truss(e, k=4, rounds=2).collect()
    )
    assert got4 == [
        (1, 2, 2), (1, 3, 2), (1, 4, 2), (2, 3, 2), (2, 4, 2), (3, 4, 2)
    ]
    got3 = sorted(
        (r["a"], r["b"], r["support"])
        for r in k_truss(e, k=3, rounds=2).collect()
    )
    assert got3 == _naive_ktruss(und, 3, 2)
    with pytest.raises(ValueError, match="k must be"):
        k_truss(e, k=1, rounds=1)


def test_ktruss_matches_naive_on_random_graph(spark):
    """Fixed-round peeling equals the brute-force reference on a
    seeded G(n, p) graph for k=3 and k=4 — including the recomputed
    final supports and the convergence case (a round that removes
    nothing leaves the set unchanged)."""
    import random

    from striot_spark.functions.graph import k_truss

    rng = random.Random(77)
    und = [
        (a, b)
        for a in range(30)
        for b in range(a + 1, 30)
        if rng.random() < 0.2
    ]
    e = spark.createDataFrame(und, "a long, b long")
    for k, rounds in ((3, 2), (4, 3)):
        got = sorted(
            (r["a"], r["b"], r["support"])
            for r in k_truss(e, k=k, rounds=rounds).collect()
        )
        assert got == _naive_ktruss(und, k, rounds), (k, rounds)


def test_ktruss_stale_orientation_support_is_exact(spark):
    """k_truss reuses the ROUND-0 degree orientation across peels
    (r16): support from the round-0 orientation filtered to a
    survivor subset must equal support from RE-orienting the subset —
    support values are orientation-independent, only the wedge-join
    bound depends on the direction choice."""
    import random

    from striot_spark.functions.graph import (
        _edge_triangle_support,
        _orient_pairs,
        _support_from_oriented,
    )

    rng = random.Random(13)
    und = [
        (a, b)
        for a in range(24)
        for b in range(a + 1, 24)
        if rng.random() < 0.25
    ]
    p = spark.createDataFrame(und, "u long, v long")
    ori0 = _orient_pairs(p).persist()
    # survivors: drop ~30% of pairs deterministically
    keep = [uv for uv in und if (uv[0] * 31 + uv[1]) % 10 >= 3]
    kdf = spark.createDataFrame(keep, "u long, v long")
    via_stale = sorted(
        (r["u"], r["v"], r["sup"])
        for r in _support_from_oriented(
            ori0.join(kdf, ["u", "v"], "left_semi")
        ).collect()
    )
    via_reorient = sorted(
        (r["u"], r["v"], r["sup"])
        for r in _edge_triangle_support(kdf).collect()
    )
    ori0.unpersist()
    assert via_stale == via_reorient


def test_weighted_pagerank_matches_integer_reference(spark):
    """Weighted PageRank on a 3-node directed cycle-with-chord: edge
    multiplicities steer the mass exactly as the integer hand-roll
    (per-edge contribution (rank*w) DIV strength); w=1 everywhere must
    reproduce the unweighted ranks bit-for-bit."""
    from striot_spark.functions.graph import pagerank

    wedges = [("a", "b", 3), ("a", "c", 1), ("b", "a", 2), ("c", "a", 2)]
    df = spark.createDataFrame(wedges, "src string, dst string, w long")
    scale, dn, dd, iters = 10**9, 85, 100, 3
    tp = (dd - dn) * scale // dd
    strength = {"a": 4, "b": 2, "c": 2}
    ranks = {v: scale for v in "abc"}
    for _ in range(iters):
        inc = {v: 0 for v in "abc"}
        for s, d, w in wedges:
            inc[d] += ranks[s] * w // strength[s]
        ranks = {v: tp + dn * inc[v] // dd for v in "abc"}
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters, weight="w").collect()
    }
    assert got == ranks
    ones = df.withColumn("w", F.lit(1))
    plain = {
        r["node"]: r["rank"] for r in pagerank(ones, iters).collect()
    }
    weighted_ones = {
        r["node"]: r["rank"]
        for r in pagerank(ones, iters, weight="w").collect()
    }
    assert weighted_ones == plain


def test_weighted_label_propagation_votes_by_multiplicity(spark):
    """An edge observed w times votes w times: node 0's neighbors are
    1 (w=1) and 2 (w=3) — the weighted vote picks label 2 where the
    unweighted count ties and falls back to the smallest label 1.
    w=1 everywhere must equal the unweighted rounds exactly."""
    from striot_spark.functions.graph import label_propagation

    und = [(0, 1, 1), (0, 2, 3)]
    sym = und + [(b, a, w) for a, b, w in und]
    e = spark.createDataFrame(sym, "u long, v long, w long")
    weighted = {
        r["node"]: r["label"]
        for r in label_propagation(
            e, rounds=1, src="u", dst="v", weight="w"
        ).collect()
    }
    unweighted = {
        r["node"]: r["label"]
        for r in label_propagation(
            e, rounds=1, src="u", dst="v"
        ).collect()
    }
    assert weighted[0] == 2 and unweighted[0] == 1
    ones = e.withColumn("w", F.lit(1))
    for rounds in (1, 3):
        a = sorted(
            (r["node"], r["label"])
            for r in label_propagation(
                ones, rounds=rounds, src="u", dst="v", weight="w"
            ).collect()
        )
        b = sorted(
            (r["node"], r["label"])
            for r in label_propagation(
                ones, rounds=rounds, src="u", dst="v"
            ).collect()
        )
        assert a == b


def test_khop_reach_hand_computed(spark):
    """Path graph 1-2-3-4 plus a triangle 4-5-6(-4): reach_1 is the
    degree, reach_2 adds the two-hop frontier, self always excluded
    even through cycles (node 5's 2-hop walk returns to 5 via 4/6)."""
    from striot_spark.functions.graph import khop_reach

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "u long, v long")
    got = {
        r["node"]: (r["reach_1"], r["reach_2"])
        for r in khop_reach(e, hops=2, src="u", dst="v").collect()
    }
    # exact reference computed independently
    import itertools

    adj: dict = {}
    for a_, b_ in sym:
        adj.setdefault(a_, set()).add(b_)
    ref = {}
    for n in adj:
        r1 = adj[n] - {n}
        r2 = set(
            itertools.chain.from_iterable(adj[x] for x in r1)
        ) | r1
        ref[n] = (len(r1), len(r2 - {n}))
    assert got == ref


def test_edge_neighborhood_jaccard_hand_computed(spark):
    """Triangle 1-2-3 plus pendant 3-4: the triangle edges share one
    common neighbor (j = 1/3); the bridge 3-4 shares none (j = 0);
    w=integer ppm with one global DIV."""
    from striot_spark.functions.graph import edge_neighborhood_jaccard

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): (r["common_nbrs"], r["union_nbrs"], r["j_ppm"])
        for r in edge_neighborhood_jaccard(pairs).collect()
    }
    # deg: 1->2, 2->2, 3->3, 4->1
    assert got[(1, 2)] == (1, 3, 1_000_000 // 3)  # common {3}
    assert got[(1, 3)] == (1, 4, 250_000)  # common {2}, union 2+3-1
    assert got[(2, 3)] == (1, 4, 250_000)
    assert got[(3, 4)] == (0, 4, 0)  # bridge: no common neighbor


def test_weighted_modularity_matches_hand_roll(spark):
    """Weighted modularity (Newman 2004) against an exact integer
    hand-roll: two 2-node communities joined by a light bridge, heavy
    intra-community weights; w=1 must equal the unweighted metric."""
    from striot_spark.functions.graph import modularity

    und = [(1, 2, 5), (3, 4, 5), (2, 3, 1)]
    sym = und + [(b, a, w) for a, b, w in und]
    e = spark.createDataFrame(sym, "src long, dst long, w long")
    labels = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "y")], "node long, label string"
    )
    scale = 1_000_000
    W = sum(w for _, _, w in sym)  # 22
    dc = {"x": 5 + 5 + 1, "y": 5 + 5 + 1}  # out-strength per community
    ec = {"x": 10, "y": 10}  # intra-community directed weight
    expect = (
        sum(ec[c] * W - dc[c] ** 2 for c in ("x", "y")) * scale // (W * W)
    )
    row = modularity(e, labels, weight="w", scale=scale).collect()[0]
    assert row["q_ppm"] == expect
    assert row["n_communities"] == 2 and row["e_directed"] == W
    ones = e.withColumn("w", F.lit(1))
    plain = modularity(ones, labels, scale=scale).collect()[0]
    weighted_ones = modularity(
        ones, labels, weight="w", scale=scale
    ).collect()[0]
    assert (
        weighted_ones["q_ppm"],
        weighted_ones["e_directed"],
    ) == (plain["q_ppm"], plain["e_directed"])


def test_hll_union_and_intersection_bounds(spark):
    """Register-MAX union must dominate both sides and never exceed
    their sum; inclusion-exclusion intersection of two overlapping
    integer sets must land near the true overlap (sketch tolerance at
    m=64 is ~13% relative)."""
    from striot_spark.functions.analytics import hll_estimate, hll_registers

    a = [(f"u{i}",) for i in range(0, 120)]
    b = [(f"u{i}",) for i in range(60, 200)]  # true overlap 60
    df = spark.createDataFrame(
        [("a", x) for (x,) in a] + [("b", x) for (x,) in b],
        "s string, item string",
    )
    regs = hll_registers(df, ["s"], "item")
    est = {
        r["s"]: r["hll_est"]
        for r in hll_estimate(regs, ["s"]).collect()
    }
    u = hll_estimate(
        regs.groupBy("bucket").agg(F.max("reg").alias("reg")), []
    ).collect()[0]["hll_est"]
    assert u >= max(est["a"], est["b"]) and u <= est["a"] + est["b"]
    inter = est["a"] + est["b"] - u
    assert abs(inter - 60) <= 0.5 * 200  # loose sketch bound, m=64


def test_association_rules_hand_computed(spark):
    """Support/confidence/lift in integer permille/ppm against a
    hand-computed 4-basket example."""
    import datetime as dt

    rows = []
    for uid, types in [(1, ["x", "y"]), (2, ["x", "y"]), (3, ["x"]),
                       (4, ["y", "z"])]:
        for i, t in enumerate(types):
            rows.append((uid * 10 + i, uid, t,
                         dt.datetime(2024, 1, 1), 1.0))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
        "ts timestamp, value double",
    )
    # baskets: x:{1,2,3} y:{1,2,4} z:{4}; xy co-occurs in 2, yz in 1.
    # support_pm(xy) = 2*1000//4 = 500, conf = 2*1000//3 = 666,
    # lift_ppm = 2*4*1e6//(3*3) = 888888; yz: 250 / 333 / 1333333
    pair_ref = {("x", "y"): (2, 500, 666, 888888),
                ("y", "z"): (1, 250, 333, 1333333)}
    import os

    d = striot_mkdtemp(prefix="striot_q234_t_")
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    from striot_spark.queries.registry import REGISTRY, _load

    _load()
    out = {
        (r["ante"], r["cons"]): (
            r["n_ab"], r["support_pm"], r["confidence_pm"], r["lift_ppm"]
        )
        for r in REGISTRY["q234_association_rules"].fn(spark, d).collect()
    }
    assert out == pair_ref


def test_sssp_hand_computed_hop_vs_cost(spark):
    """Fixed-round Bellman-Ford semantics: after R rounds dist = min
    cost over paths with <= R edges. Direct arc 1->4 costs 5 (one
    hop); the detour 1->2->3->4 costs 3 but needs three hops — so
    rounds=1/2 report 5 and rounds=3 reports 3. Sources sit at 0,
    unit costs (cost=None) give BFS hop distances."""
    from striot_spark.functions.graph import sssp

    arcs = [(1, 4, 5), (1, 2, 1), (2, 3, 1), (3, 4, 1)]
    e = spark.createDataFrame(arcs, "s long, t long, c long")

    def run(rounds):
        return {
            r["node"]: r["dist"]
            for r in sssp(
                e, [1], rounds=rounds, src="s", dst="t", cost="c"
            ).collect()
        }

    assert run(1) == {1: 0, 4: 5, 2: 1}
    assert run(2) == {1: 0, 4: 5, 2: 1, 3: 2}
    assert run(3) == {1: 0, 4: 3, 2: 1, 3: 2}
    # unit costs = BFS hop distances
    hops = {
        r["node"]: r["dist"]
        for r in sssp(e, [1], rounds=3, src="s", dst="t").collect()
    }
    assert hops == {1: 0, 2: 1, 3: 2, 4: 1}


def test_sssp_matches_reference_dp(spark):
    """Random directed multigraph vs an independently-written Python
    DP over the same fixed-round recurrence (dist_r(v) = min over
    <= r-edge paths), including parallel arcs (min-cost reduce) and a
    multi-source set."""
    import random

    from striot_spark.functions.graph import sssp

    rng = random.Random(1107)
    arcs = [
        (rng.randrange(12), rng.randrange(12), rng.randrange(1, 50))
        for _ in range(60)
    ]
    sources = [0, 7]
    rounds = 4
    # reference DP: full Bellman-Ford unroll with min-cost arc reduce
    best: dict = {}  # self-loops allowed; with cost >= 0 they never win
    for s, t, c in arcs:
        best[(s, t)] = min(best.get((s, t), c), c)
    nodes = {s for s, _, _ in arcs} | {t for _, t, _ in arcs}
    dist = {s: 0 for s in sources if s in nodes}
    for _ in range(rounds):
        nxt = dict(dist)
        for (s, t), c in best.items():
            if s in dist:
                d = dist[s] + c
                if t not in nxt or d < nxt[t]:
                    nxt[t] = d
        dist = nxt
    e = spark.createDataFrame(arcs, "s long, t long, c long")
    got = {
        r["node"]: r["dist"]
        for r in sssp(
            e, sources, rounds=rounds, src="s", dst="t", cost="c"
        ).collect()
    }
    assert got == dist


def test_sssp_validation_and_headroom(spark):
    """Setup-time guards: empty/absent sources, negative costs, and
    the rounds * max_cost 2^63 ceiling all raise at setup instead of
    silently wrapping or dropping mass (the pagerank guard policy)."""
    from striot_spark.functions.graph import sssp

    e = spark.createDataFrame([(1, 2, 3)], "s long, t long, c long")
    with pytest.raises(ValueError, match="non-empty"):
        sssp(e, [], src="s", dst="t")
    with pytest.raises(ValueError, match="absent"):
        sssp(e, [99], src="s", dst="t")
    neg = spark.createDataFrame([(1, 2, -4)], "s long, t long, c long")
    with pytest.raises(ValueError, match="negative cost"):
        sssp(neg, [1], src="s", dst="t", cost="c")
    big = spark.createDataFrame(
        [(1, 2, 2**62)], "s long, t long, c long"
    )
    with pytest.raises(ValueError, match="2\\^63"):
        sssp(big, [1], rounds=4, src="s", dst="t", cost="c")


def test_degree_distribution_and_assortativity_hand_computed(spark):
    """Star K_{1,4} (both directions): degrees are {4:1, 1:4} and the
    assortativity is exactly -1 (every arc joins a deg-4 hub to a
    deg-1 leaf — perfectly disassortative); the path graph 1-2-3-4
    reproduces the Pearson value computed independently in Python."""
    from striot_spark.functions.graph import (
        degree_assortativity,
        degree_distribution,
    )

    star = [(0, i) for i in range(1, 5)]
    sym = star + [(b, a) for a, b in star]
    e = spark.createDataFrame(sym, "src long, dst long")
    hist = {
        r["degree"]: r["n_nodes"]
        for r in degree_distribution(e).collect()
    }
    assert hist == {4: 1, 1: 4}
    row = degree_assortativity(e).collect()[0]
    assert row["m_arcs"] == 8
    assert abs(row["r_assort"] - (-1.0)) < 1e-12

    path = [(1, 2), (2, 3), (3, 4)]
    psym = path + [(b, a) for a, b in path]
    pe = spark.createDataFrame(psym, "src long, dst long")
    got = degree_assortativity(pe).collect()[0]
    deg = {1: 1, 2: 2, 3: 2, 4: 1}
    arcs = [(deg[a], deg[b]) for a, b in psym]
    m = len(arcs)
    sx = sum(x for x, _ in arcs)
    sy = sum(y for _, y in arcs)
    sxy = sum(x * y for x, y in arcs)
    sx2 = sum(x * x for x, _ in arcs)
    sy2 = sum(y * y for _, y in arcs)
    import math

    ref = (m * sxy - sx * sy) / math.sqrt(
        (m * sx2 - sx * sx) * (m * sy2 - sy * sy)
    )
    assert got["m_arcs"] == m
    assert abs(got["r_assort"] - ref) < 1e-12


def test_sssp_parents_deterministic_and_dist_consistent(spark):
    """Parent pointers: two equal-cost predecessors for node 4 (via 2
    and via 3) — the struct-min fold must pick the MINIMUM id (2),
    deterministically; sources self-parent; the dist column is
    bit-identical to the distance-only mode."""
    from striot_spark.functions.graph import sssp

    arcs = [(1, 2, 1), (1, 3, 1), (2, 4, 1), (3, 4, 1), (4, 5, 2)]
    e = spark.createDataFrame(arcs, "s long, t long, c long")
    got = {
        r["node"]: (r["dist"], r["parent"])
        for r in sssp(
            e, [1], rounds=3, src="s", dst="t", cost="c",
            return_parents=True,
        ).collect()
    }
    assert got == {
        1: (0, 1),  # source self-parents
        2: (1, 1),
        3: (1, 1),
        4: (2, 2),  # tie 2 vs 3 -> min id
        5: (4, 4),
    }
    plain = {
        r["node"]: r["dist"]
        for r in sssp(
            e, [1], rounds=3, src="s", dst="t", cost="c"
        ).collect()
    }
    assert plain == {k: v[0] for k, v in got.items()}


def test_sssp_parents_late_equal_offer_takes_min_id(spark):
    """A smaller-id predecessor whose equal-cost offer only lands in a
    LATER round must still win the parent slot: 1->9->4 (cost 2+2)
    reaches 5 at round 3 via 4; 1->2 (cost 4) also offers 5 dist 5
    at round 2 via 2... constructed so node 5 gets dist 4 offers
    from BOTH 4 (round 3) and 6 (round 2), parent = min(4, 6) = 4
    even though 6's offer arrived first."""
    from striot_spark.functions.graph import sssp

    arcs = [
        (1, 9, 2), (9, 4, 1), (4, 5, 1),   # 5 via 4: dist 4, 3 hops
        (1, 6, 3), (6, 5, 1),              # 5 via 6: dist 4, 2 hops
    ]
    e = spark.createDataFrame(arcs, "s long, t long, c long")
    got = {
        r["node"]: (r["dist"], r["parent"])
        for r in sssp(
            e, [1], rounds=3, src="s", dst="t", cost="c",
            return_parents=True,
        ).collect()
    }
    assert got[5] == (4, 4)


def test_harmonic_centrality_pivots_hand_computed(spark):
    """Weighted path p1 -2- n2 -3- n3 with pivots {p1}: hc(n2) =
    1e6//2, hc(n3) = 1e6//5; with pivots {p1, n3} the folds add and
    every non-pivot-reaching node counts n_reached correctly; a
    single-pivot run must equal sssp's fold exactly."""
    from striot_spark.functions.graph import (
        harmonic_centrality_pivots,
        sssp,
    )

    und = [(1, 2, 2), (2, 3, 3)]
    sym = und + [(b, a, c) for a, b, c in und]
    e = spark.createDataFrame(sym, "s long, t long, c long")
    got = {
        r["node"]: (r["n_reached"], r["hc_est"])
        for r in harmonic_centrality_pivots(
            e, [1], rounds=3, src="s", dst="t", cost="c"
        ).collect()
    }
    assert got == {2: (1, 1_000_000 // 2), 3: (1, 1_000_000 // 5)}
    got2 = {
        r["node"]: (r["n_reached"], r["hc_est"])
        for r in harmonic_centrality_pivots(
            e, [1, 3], rounds=3, src="s", dst="t", cost="c"
        ).collect()
    }
    # node 2: d(1,2)=2, d(3,2)=3; node 1: d(3,1)=5; node 3: d(1,3)=5
    assert got2 == {
        1: (1, 1_000_000 // 5),
        2: (2, 1_000_000 // 2 + 1_000_000 // 3),
        3: (1, 1_000_000 // 5),
    }
    # single-pivot consistency vs sssp
    d = {
        r["node"]: r["dist"]
        for r in sssp(e, [1], rounds=3, src="s", dst="t", cost="c").collect()
    }
    ref = {
        n: (1, 1_000_000 // dd) for n, dd in d.items() if dd > 0
    }
    assert got == ref


def test_harmonic_centrality_pivots_validation(spark):
    from striot_spark.functions.graph import harmonic_centrality_pivots

    e = spark.createDataFrame([(1, 2, 3)], "s long, t long, c long")
    with pytest.raises(ValueError, match="non-empty"):
        harmonic_centrality_pivots(e, [], src="s", dst="t")
    with pytest.raises(ValueError, match="absent"):
        harmonic_centrality_pivots(e, [42], src="s", dst="t")


def test_local_clustering_hand_computed(spark):
    """Triangle 1-2-3 with pendant 3-4: nodes 1,2 have lcc=1 (their
    whole neighborhood is closed), node 3 has deg 3 and one triangle
    (lcc = 2·1e6 DIV 6), node 4 deg 1 -> lcc 0; input direction and
    duplicates must not matter (canonical dedup inside)."""
    from striot_spark.functions.graph import local_clustering

    arcs = [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1), (4, 3)]  # dups+revs
    e = spark.createDataFrame(arcs, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["n_tri"], r["lcc_ppm"])
        for r in local_clustering(e).collect()
    }
    assert got == {
        1: (2, 1, 1_000_000),
        2: (2, 1, 1_000_000),
        3: (3, 1, 2_000_000 // 6),
        4: (1, 0, 0),
    }


def test_link_prediction_ra_hand_computed(spark):
    """Path 1-2-3 plus 3-4: the distance-2 non-edges are (1,3) via 2,
    (2,4) via 3, (1,4)? no — d(1,4)=3. ra uses deg of the middle:
    ra(1,3) = 1e6 DIV deg(2) = 500000, ra(2,4) = 1e6 DIV deg(3) =
    500000. Existing edges are excluded even when they close wedges
    (star 5-6,5-7,6-7: (6,7) is an edge, not a candidate)."""
    from striot_spark.functions.graph import link_prediction_ra

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7), (6, 7)],
        "src long, dst long",
    )
    got = {
        (r["u"], r["v"]): (r["common_nbrs"], r["ra_ppm"])
        for r in link_prediction_ra(e).collect()
    }
    assert got == {
        (1, 3): (1, 1_000_000 // 2),
        (2, 4): (1, 1_000_000 // 2),
    }


def test_strength_core_weighted_and_unit_equivalence(spark):
    """s-core (k_core(weight=...)): a hub with many light edges peels
    where a pair with one heavy edge survives; w=1 must reproduce the
    unweighted k_core bit-for-bit on the same graph."""
    from striot_spark.functions.graph import k_core

    # hub 0 with 3 weight-1 edges (strength 3); pair (8,9) weight 5
    und = [(0, 1, 1), (0, 2, 1), (0, 3, 1), (8, 9, 5)]
    sym = und + [(b, a, w) for a, b, w in und]
    e = spark.createDataFrame(sym, "a long, b long, w long")
    got = {
        r["node"]: r["deg"]
        for r in k_core(e, k=4, rounds=3, weight="w").collect()
    }
    assert got == {8: 5, 9: 5}  # hub + leaves peeled, heavy pair stays
    # w=1 equivalence against the unweighted form
    ones = e.withColumn("w", F.lit(1))
    a = sorted(
        (r["node"], r["deg"])
        for r in k_core(ones, k=2, rounds=2, weight="w").collect()
    )
    b = sorted(
        (r["node"], r["deg"])
        for r in k_core(e.drop("w"), k=2, rounds=2).collect()
    )
    assert a == b


def test_shuffle_shard_deterministic_and_balanced(spark):
    """Same (seed, corpus) -> identical layout across invocations;
    different seed -> different permutation; every shard's positions
    are 1..len(shard) dense; n_shards=1 is a global shuffle."""
    from striot_spark.functions.sampling import shuffle_shard

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shard(df, "doc_id", 4, seed="s1").collect()
    )
    b = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shard(df, "doc_id", 4, seed="s1").collect()
    )
    assert a == b
    c = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shard(df, "doc_id", 4, seed="s2").collect()
    )
    assert a != c
    import collections

    by_shard = collections.defaultdict(list)
    for _, sh, pos in a:
        by_shard[sh].append(pos)
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    one = shuffle_shard(df, "doc_id", 1, seed="x").collect()
    assert sorted(r["pos"] for r in one) == list(range(1, 201))
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shard(df, "doc_id", 0)


def test_degree_assortativity_zero_variance_is_zero(spark):
    """Regular graphs (every endpoint the same degree) have no mixing
    signal: r is DEFINED as 0.0 instead of 0/sqrt(0) — Spark ANSI
    would throw and DuckDB would yield NaN, neither comparable (the
    sf0.001 quarter window hit exactly this)."""
    from striot_spark.functions.graph import degree_assortativity

    # 4-cycle: every node degree 2, zero variance
    und = [(1, 2), (2, 3), (3, 4), (4, 1)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src long, dst long")
    row = degree_assortativity(e).collect()[0]
    assert row["m_arcs"] == 8
    assert row["r_assort"] == 0.0


def test_coreness_converges_to_true_core_numbers(spark):
    """Triangle 1-2-3 with pendant chain 3-4-5: core numbers are
    {1:2, 2:2, 3:2, 4:1, 5:1}; the h-index iteration from degrees
    (3's degree is 3) must reach them within a few rounds, and the
    sequence is monotone non-increasing round over round."""
    from striot_spark.functions.graph import coreness

    und = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src long, dst long")
    truth = {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}
    got = {
        r["node"]: r["coreness"]
        for r in coreness(e, rounds=4).collect()
    }
    assert got == truth
    # round-0 is the degree; each round is <= the previous
    prev = {
        r["node"]: r["coreness"]
        for r in coreness(e, rounds=0).collect()
    }
    assert prev == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}  # degrees
    for k in (1, 2, 3):
        cur = {
            r["node"]: r["coreness"]
            for r in coreness(e, rounds=k).collect()
        }
        assert all(cur[n] <= prev[n] for n in cur)
        prev = cur
    assert prev == truth


# ---------------------------------------------------------------------------
# round 12: hub-degree guards, capped variants, strict cost typing,
# self-loop semantics (VERDICT r11 task 3 + ADVICE r11)
# ---------------------------------------------------------------------------


def _sym(und):
    return und + [(b, a) for a, b in und]


def test_hub_degree_guard_raises_on_all_three(spark):
    """A star hub above the (lowered) threshold must raise at setup in
    link_prediction_ra / local_clustering / coreness, each naming the
    conf and the max_degree= escape hatch; below threshold all run."""
    from striot_spark.functions.graph import (
        HUB_DEGREE_CONF,
        coreness,
        link_prediction_ra,
        local_clustering,
    )

    star = _sym([(0, i) for i in range(1, 7)])  # hub degree 6
    e = spark.createDataFrame(star, "src long, dst long")
    old = spark.conf.get(HUB_DEGREE_CONF, None)
    spark.conf.set(HUB_DEGREE_CONF, "5")
    try:
        for op in (
            lambda: link_prediction_ra(e).count(),
            lambda: local_clustering(e).count(),
            lambda: coreness(e, rounds=1).count(),
        ):
            with pytest.raises(ValueError, match="maxHubDegree"):
                op()
        spark.conf.set(HUB_DEGREE_CONF, "6")
        assert link_prediction_ra(e).count() >= 0
        assert local_clustering(e).count() == 7
        assert coreness(e, rounds=1).count() == 7
    finally:
        if old is None:
            spark.conf.unset(HUB_DEGREE_CONF)
        else:
            spark.conf.set(HUB_DEGREE_CONF, old)


def test_coreness_capped_equals_least_of_uncapped(spark):
    """k-bounded coreness (counting H-index path) returns exactly
    least(coreness, k) at every round — the clipped iteration tracks
    the unclipped one (H(min(x,k)) = min(H(x),k), induction)."""
    from striot_spark.functions.graph import coreness

    und = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 4), (2, 4)]
    e = spark.createDataFrame(_sym(und), "src long, dst long")
    for rounds in (0, 1, 3):
        full = {
            r["node"]: r["coreness"]
            for r in coreness(e, rounds=rounds).collect()
        }
        for cap in (1, 2, 3):
            capped = {
                r["node"]: r["coreness"]
                for r in coreness(e, rounds=rounds, max_degree=cap).collect()
            }
            assert capped == {n: min(v, cap) for n, v in full.items()}


def test_link_prediction_ra_capped_drops_hub_centers(spark):
    """Capping at k removes wedge centers with deg > k: on a hub (deg
    3) + triangle graph the capped score keeps only low-degree
    centers; equals the uncapped score of the same graph when k >=
    max degree."""
    from striot_spark.functions.graph import link_prediction_ra

    # hub 0 adjacent to 1,2,3; plus edge 1-2 (so 1,2 have deg 2; 3 deg 1)
    und = [(0, 1), (0, 2), (0, 3), (1, 2)]
    e = spark.createDataFrame(_sym(und), "src long, dst long")
    full = {
        (r["u"], r["v"]): (r["common_nbrs"], r["ra_ppm"])
        for r in link_prediction_ra(e).collect()
    }
    # uncapped: pairs (1,3),(2,3) via center 0 (deg 3, term 333333);
    # (0,?) none — 0 adjacent to all; plus no others
    assert full == {
        (1, 3): (1, 333333),
        (2, 3): (1, 333333),
    }
    same = {
        (r["u"], r["v"]): (r["common_nbrs"], r["ra_ppm"])
        for r in link_prediction_ra(e, max_degree=3).collect()
    }
    assert same == full
    capped = {
        (r["u"], r["v"]): (r["common_nbrs"], r["ra_ppm"])
        for r in link_prediction_ra(e, max_degree=2).collect()
    }
    assert capped == {}  # only center with common neighbors was the hub


def test_local_clustering_capped_is_exact_on_induced_subgraph(spark):
    """max_degree=k equals running local_clustering on the subgraph
    induced by nodes with degree <= k (hubs dropped, degrees
    recomputed)."""
    from striot_spark.functions.graph import local_clustering

    # hub 0 over a 4-clique {1,2,3,4}: hub degree 4, clique degrees 4
    # (3 in-clique + hub); drop-at-3 removes 0 AND... everyone has
    # deg 4, so use hub deg 5: 0 adj to 1..5, clique {1,2,3,4}
    und = [(0, i) for i in range(1, 6)] + [
        (a, b) for a in range(1, 5) for b in range(a + 1, 5)
    ]
    e = spark.createDataFrame(_sym(und), "src long, dst long")
    capped = {
        r["node"]: (r["degree"], r["n_tri"], r["lcc_ppm"])
        for r in local_clustering(e, max_degree=4).collect()
    }
    # induced subgraph after dropping node 0 (deg 5): clique {1,2,3,4}
    # (deg 3 each, lcc 1.0) + isolated-from-subgraph node 5 (degree 0
    # -> not present: no surviving edges touch it)
    assert capped == {
        n: (3, 3, 1_000_000) for n in (1, 2, 3, 4)
    }
    sub = spark.createDataFrame(
        _sym([(a, b) for a in range(1, 5) for b in range(a + 1, 5)]),
        "src long, dst long",
    )
    direct = {
        r["node"]: (r["degree"], r["n_tri"], r["lcc_ppm"])
        for r in local_clustering(sub).collect()
    }
    assert direct == capped


def test_integral_cost_validation(spark):
    """DOUBLE cost/weight columns are rejected at setup (cast('long')
    would truncate -0.5 to 0 PAST the negative-cost guard and floor
    fractional costs silently) — sssp, harmonic pivots, k_core."""
    from striot_spark.functions.graph import (
        harmonic_centrality_pivots,
        k_core,
        sssp,
    )

    e = spark.createDataFrame(
        [(1, 2, -0.5), (2, 3, 1.5)], "src long, dst long, c double"
    )
    with pytest.raises(ValueError, match="non-integral"):
        sssp(e, sources=[1], rounds=2, cost="c")
    with pytest.raises(ValueError, match="non-integral"):
        harmonic_centrality_pivots(e, pivots=[1], rounds=2, cost="c")
    with pytest.raises(ValueError, match="non-integral"):
        k_core(e, k=1, rounds=1, src="src", dst="dst", weight="c")
    # integral columns still accepted
    ei = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1)], "src long, dst long, c long"
    )
    assert sssp(ei, sources=[1], rounds=2, cost="c").count() == 3


def test_core_family_ignores_self_loops(spark):
    """A self-loop must not inflate degree/h-index: with loop (3,3)
    added, coreness and k_core match the loop-free graph exactly."""
    from striot_spark.functions.graph import coreness, k_core

    und = [(1, 2), (2, 3), (3, 1), (3, 4)]
    clean = spark.createDataFrame(_sym(und), "src long, dst long")
    loopy = spark.createDataFrame(
        _sym(und) + [(3, 3)], "src long, dst long"
    )
    for rounds in (0, 2):
        a = {
            r["node"]: r["coreness"]
            for r in coreness(clean, rounds=rounds).collect()
        }
        b = {
            r["node"]: r["coreness"]
            for r in coreness(loopy, rounds=rounds).collect()
        }
        assert a == b
    ka = {
        r["node"]: r["deg"]
        for r in k_core(clean, k=2, rounds=3, src="src", dst="dst").collect()
    }
    kb = {
        r["node"]: r["deg"]
        for r in k_core(loopy, k=2, rounds=3, src="src", dst="dst").collect()
    }
    assert ka == kb


def test_betweenness_pivots_hand_computed(spark):
    """Path 1-2-3-4-5, pivot {1}, 4 rounds: Brandes deltas are
    delta(2)=3, delta(3)=2, delta(4)=1 (x scale). Diamond 1-2-4,
    1-3-4: the split path halves sigma-ratios (1//2 per branch), and
    a second pivot at the opposite corner doubles symmetric nodes."""
    from striot_spark.functions.graph import betweenness_pivots

    path = _sym([(1, 2), (2, 3), (3, 4), (4, 5)])
    e = spark.createDataFrame(path, "src long, dst long")
    got = {
        r["node"]: r["bc_ppm"]
        for r in betweenness_pivots(e, pivots=[1], rounds=4).collect()
    }
    assert got == {2: 3_000_000, 3: 2_000_000, 4: 1_000_000}

    diamond = _sym([(1, 2), (1, 3), (2, 4), (3, 4)])
    d = spark.createDataFrame(diamond, "src long, dst long")
    got1 = {
        r["node"]: r["bc_ppm"]
        for r in betweenness_pivots(d, pivots=[1], rounds=2).collect()
    }
    assert got1 == {2: 500_000, 3: 500_000}
    got2 = {
        r["node"]: r["bc_ppm"]
        for r in betweenness_pivots(d, pivots=[1, 4], rounds=2).collect()
    }
    assert got2 == {2: 1_000_000, 3: 1_000_000}


def test_betweenness_pivots_settled_reoffer_is_discarded(spark):
    """Pins the forward phase's settled-node discard (the kept
    left_anti; folding it into one groupBy was measured and rejected,
    see graph.py): offers arriving at an ALREADY-settled node must
    not perturb its dist or sigma. Triangle 1-2, 2-3, 1-3 from pivot 1:
    node 3 settles at dist 1 / sigma 1; round 2 re-offers 3 via 2 —
    a longer path that contributes nothing. Brandes delta(2) =
    delta(3) = 0 here (no interior nodes on shortest paths), so the
    observable pin is the empty positive-delta result PLUS the chain
    1-2-3-4 + shortcut 1-3, where node 3 keeps sigma 1 via the
    shortcut (dist 1) and delta(3) = 1 x scale (it brokers only 4),
    while node 2 brokers nothing."""
    from striot_spark.functions.graph import betweenness_pivots

    tri = _sym([(1, 2), (2, 3), (1, 3)])
    e = spark.createDataFrame(tri, "src long, dst long")
    assert betweenness_pivots(e, pivots=[1], rounds=3).collect() == []

    chain_cut = _sym([(1, 2), (2, 3), (3, 4), (1, 3)])
    e2 = spark.createDataFrame(chain_cut, "src long, dst long")
    got = {
        r["node"]: r["bc_ppm"]
        for r in betweenness_pivots(e2, pivots=[1], rounds=3).collect()
    }
    assert got == {3: 1_000_000}


def test_betweenness_pivots_rounds1_is_empty(spark):
    """Horizon 1 has no interior nodes: the only backward level is the
    pivot's own (dist-0) row, which the final filter drops — the result
    is empty with the (node, bc_ppm) schema. Pins the r16 dead-level
    skip's rounds==1 fallback."""
    from striot_spark.functions.graph import betweenness_pivots

    e = spark.createDataFrame(
        _sym([(1, 2), (2, 3), (3, 4)]), "src long, dst long"
    )
    out = betweenness_pivots(e, pivots=[1, 3], rounds=1)
    assert out.columns == ["node", "bc_ppm"]
    assert out.collect() == []


def test_betweenness_pivots_validation(spark):
    """Empty pivots, absent pivots, and the sigma headroom guard all
    raise at setup."""
    from striot_spark.functions.graph import betweenness_pivots

    e = spark.createDataFrame(
        _sym([(1, 2), (2, 3)]), "src long, dst long"
    )
    with pytest.raises(ValueError, match="non-empty"):
        betweenness_pivots(e, pivots=[], rounds=2)
    with pytest.raises(ValueError, match="absent"):
        betweenness_pivots(e, pivots=[99], rounds=2)
    # max_indegree 2: 2^rounds crosses 2^62 only past 62 rounds
    with pytest.raises(ValueError, match="sigma"):
        betweenness_pivots(e, pivots=[1], rounds=63)


def test_q58_keep_first_pick_independent_of_column_order(spark):
    """ADVICE r13: q58's struct-min dedup must pick the smallest doc_id
    per duplicate text REGARDLESS of the parquet's on-disk column
    order. Stage documents with doc_id as the LAST file column and a
    lang ordering that would flip the pick if the struct were built
    from file order (doc 5's lang 'aa' sorts before doc 3's 'zz', so a
    file-order struct-min over the tied text would keep doc 5; the
    explicit doc_id-first struct keeps doc 3). doc_ids 3, 5, 8 all
    pass the 50% hash sample (md5 bucket < 5000), so a wrong pick
    would be visible in the output, not silently sampled away."""
    from striot_spark.queries.datapipe import q58_corpus_build

    dup = "the " + " ".join(f"w{i}" for i in range(19))  # 20 tokens, 5% stopwords
    uniq = "the " + " ".join(f"u{i}" for i in range(19))
    docs = spark.createDataFrame(
        [
            (dup, "zz", "s", 0, 3),
            (dup, "aa", "s", 0, 5),
            (uniq, "aa", "s", 0, 8),
        ],
        "text string, lang string, source string, n_chars bigint, doc_id bigint",
    )
    d = striot_mkdtemp(prefix="striot_q58_colorder_")
    docs.write.parquet(d + "/documents.parquet")
    kept_ids = {
        r["doc_id"] for r in q58_corpus_build(spark, d).select("doc_id").collect()
    }
    assert kept_ids == {3, 8}


def test_unigram_surprisal_hand_computed(spark):
    """Corpus 'a a b' / 'b c': counts a=2 b=2 c=1, total 5.
    bits = floor(log2(total DIV cnt)): a,b -> log2(2)=1, c ->
    floor(log2(5))=2. d1 = 1+1+1 = 3 bits over 3 tokens (1000
    millibits); d2 = 1+2 = 3 bits over 2 tokens (1500)."""
    from striot_spark.queries.datapipe import q272_unigram_surprisal

    docs = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "b c")], "doc_id string, text string"
    )
    out = striot_mkdtemp(prefix="striot_q272_") + "/documents.parquet"
    docs.write.parquet(out)
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["surprisal_bits"], r["mean_millibits"]
        )
        for r in q272_unigram_surprisal(spark, out.rsplit("/", 1)[0]).collect()
    }
    assert got == {"d1": (3, 3, 1000), "d2": (2, 3, 1500)}


def test_integral_weight_validation_pagerank_lpa_modularity(spark):
    """The round-12 integral-type guard extended to ALL weighted graph
    ops: pagerank / label_propagation / modularity reject DOUBLE
    weight columns at setup (same silent-truncation disease ADVICE
    r11 flagged on sssp/k_core)."""
    from striot_spark.functions.graph import (
        label_propagation,
        modularity,
        pagerank,
    )

    e = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 1.5)], "src long, dst long, w double"
    )
    with pytest.raises(ValueError, match="non-integral"):
        pagerank(e, iterations=1, weight="w")
    with pytest.raises(ValueError, match="non-integral"):
        label_propagation(e, rounds=1, weight="w")
    with pytest.raises(ValueError, match="non-integral"):
        modularity(e, spark.createDataFrame([(1, 10), (2, 10)], "node long, label long"),
                   weight="w")


def test_betweenness_pivots_matches_naive_on_random_graph(spark):
    """betweenness_pivots equals a pure-Python level-synchronous
    BFS + Brandes accumulation implementing the IDENTICAL scaled
    integer recurrence (per-DAG-arc term sigma_u*(scale+delta_w) DIV
    sigma_w, summed per node, summed over pivots) on a seeded random
    graph at full horizon — the same naive-reference pattern as
    k-truss."""
    import random

    from striot_spark.functions.graph import betweenness_pivots

    rng = random.Random(1207)
    n = 12
    und = [
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.3
    ]
    sym = _sym(und)
    adj = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)
    nodes = sorted(adj)
    pivots = [nodes[0], nodes[len(nodes) // 2]]
    rounds = n
    scale = 1_000_000

    expected = {}
    for p in pivots:
        dist = {p: 0}
        sigma = {p: 1}
        frontier = [p]
        for k in range(1, rounds + 1):
            offers = {}
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        offers[v] = offers.get(v, 0) + sigma[u]
            for v, s in offers.items():
                dist[v] = k
                sigma[v] = s
            frontier = list(offers)
        delta = {}
        for lvl in range(rounds - 1, -1, -1):
            for u in [x for x in dist if dist[x] == lvl]:
                acc = 0
                for w in adj.get(u, ()):
                    if dist.get(w) == lvl + 1:
                        acc += (
                            sigma[u] * (scale + delta.get(w, 0))
                        ) // sigma[w]
                if acc:
                    delta[u] = acc
        for v, d in delta.items():
            if v != p:
                expected[v] = expected.get(v, 0) + d

    e = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: r["bc_ppm"]
        for r in betweenness_pivots(
            e, pivots=pivots, rounds=rounds, scale=scale
        ).collect()
    }
    assert got == {v: d for v, d in expected.items() if d > 0}


def test_coreness_capped_matches_naive_on_random_graph(spark):
    """k-bounded coreness (counting H-index path) equals a pure-Python
    clipped h-index iteration on a seeded random graph, every round
    and several caps — the random-graph extension of the hand-graph
    least() identity test."""
    import random

    from striot_spark.functions.graph import coreness

    rng = random.Random(1212)
    n = 14
    und = [
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.35
    ]
    sym = _sym(und)
    adj = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)

    def naive(rounds, cap):
        c = {v: min(len(adj[v]), cap) for v in adj}
        for _ in range(rounds):
            nxt = {}
            for v in adj:
                vals = sorted((c[u] for u in adj[v]), reverse=True)
                h = 0
                for i, x in enumerate(vals, start=1):
                    h = max(h, min(i, x))
                nxt[v] = h
            c = nxt
        return c

    e = spark.createDataFrame(sym, "src long, dst long")
    for rounds in (1, 3):
        for cap in (2, 4):
            got = {
                r["node"]: r["coreness"]
                for r in coreness(
                    e, rounds=rounds, max_degree=cap
                ).collect()
            }
            assert got == naive(rounds, cap)


def test_bm25_length_normalization_and_saturation(spark):
    """bm25_search's two components q178 lacks: (a) equal tf, shorter
    doc wins (length normalization); (b) 10x the tf yields far less
    than 10x the score (saturation approaches k1+1)."""
    from striot_spark.functions.text import bm25_search

    filler = " ".join(["pad"] * 40)
    df = spark.createDataFrame(
        [
            (0, "hit one two"),                 # tf=1, dl=3
            (1, "hit " + filler),               # tf=1, dl=41
            (2, ("hit " * 10) + filler),        # tf=10, dl=50
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(df, "doc_id", "text", ["hit"], k=10).collect()
    }
    assert got[0] > got[1], "shorter doc with equal tf must score higher"
    assert got[2] < 10 * got[1] / 2, "tf saturation must cap the gain"


def test_bm25_token_escaping_and_dialect_guards(spark):
    """bm25_score_sql interpolates tokens into SQL string literals
    (ADVICE r12): a single-quote token must be escaped (ANSI doubled
    quote, not a broken expression), and backslash / control-char
    tokens must raise rather than silently diverge between Spark's
    backslash-escaping parser and ANSI DuckDB."""
    import pytest

    from striot_spark.functions.text import bm25_score_sql, bm25_search

    df = spark.createDataFrame(
        [(0, "it's here"), (1, "plain words")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(df, "doc_id", "text", ["it's"], k=5).collect()
    }
    assert set(got) == {0} and got[0] > 0
    for bad in ["a\\b", "a\nb", "a\tb"]:
        with pytest.raises(ValueError, match="backslash or control"):
            bm25_score_sql("text", [bad], [1], 2, 10)


def test_bm25_parameter_range_guards(spark):
    """The tf=0 saturation denominator is (k1_milli * norm) DIV 1000;
    k1_milli * (1000 - b_milli) < 1000 underflows it to 0 and Spark's
    non-ANSI DIV nulls the whole score (ADVICE r12) — enforced as a
    setup ValueError, the module's guard policy."""
    import pytest

    from striot_spark.functions.text import bm25_score_sql

    # k1=0.001, b=0.75: 1 * 250 < 1000 -> tf=0 denominator is 0
    with pytest.raises(ValueError, match="underflows"):
        bm25_score_sql("text", ["t"], [1], 2, 10, k1_milli=1, b_milli=750)
    # b >= 1000 lets norm itself reach 0 for short docs
    with pytest.raises(ValueError, match="b_milli"):
        bm25_score_sql("text", ["t"], [1], 2, 10, b_milli=1000)
    with pytest.raises(ValueError, match="k1_milli"):
        bm25_score_sql("text", ["t"], [1], 2, 10, k1_milli=0)
    # the boundary case k1*(1000-b) == 1000 is legal and total
    dl, score = bm25_score_sql(
        "text", ["t"], [1], 2, 10, k1_milli=4, b_milli=750
    )
    assert "DIV" in score


def test_bm25_empty_query_returns_empty(spark):
    from striot_spark.functions.text import bm25_search

    df = spark.createDataFrame(
        [(0, "some words")], "doc_id long, text string"
    )
    got = bm25_search(df, "doc_id", "text", [], k=5)
    assert got.columns == ["doc_id", "dl", "score"]
    assert got.collect() == []


def test_bigram_surprisal_hand_computed_and_context_sensitive(spark):
    """Corpus 'a b a b' / 'b a'. Unigrams: a=3 b=3, total 6.
    Bigrams: (a,b)=2, (b,a)=2.
    d1: first 'a' pays floor(log2(6 DIV 3)) = 1; then (a,b):
    floor(log2(3 DIV 2)) = 0, (b,a): 0, (a,b): 0 -> 1 bit / 4 tokens
    (250 millibits). d2: first 'b' pays 1; (b,a) pays 0 -> 1 bit / 2
    tokens (500). The templated doc d1 (repeated bigrams) lands BELOW
    its unigram surprisal (q272 would give 1000 millibits) — the
    context-sensitivity gate."""
    from striot_spark.queries.datapipe import q280_bigram_surprisal

    docs = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "b a")], "doc_id string, text string"
    )
    out = striot_mkdtemp(prefix="striot_q280_") + "/documents.parquet"
    docs.write.parquet(out)
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["surprisal_bits"], r["mean_millibits"]
        )
        for r in q280_bigram_surprisal(
            spark, out.rsplit("/", 1)[0]
        ).collect()
    }
    assert got == {"d1": (4, 1, 250), "d2": (2, 1, 500)}


def test_hits_hand_computed_and_guards(spark):
    """3-node DAG 1->2, 1->3, 2->3 at scale=1000 (mass 3000), 2
    rounds, by hand: r1 auth (0,1000,2000) tot 3000 -> unchanged;
    hub raw (3000,2000,0) tot 5000 -> (1800,1200,0). r2 auth raw
    (0,1800,3000) tot 4800 -> (0,1125,1875); hub raw (3000,1875,0)
    tot 4875 -> (1846,1153,0)."""
    import pytest as _pytest

    from striot_spark.functions.graph import hits

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {
        r["node"]: (r["auth"], r["hub"])
        for r in hits(e, iterations=2, scale=1000).collect()
    }
    assert got == {1: (0, 1846), 2: (1125, 1153), 3: (1875, 0)}
    with _pytest.raises(ValueError, match="iterations"):
        hits(e, iterations=0)
    # headroom: max_deg * N * scale past 2^63 must raise, not wrap
    with _pytest.raises(ValueError, match="2\\^63"):
        hits(e, iterations=1, scale=2**62)


def test_butterfly_count_hand_computed(spark):
    """Orders o1={p1,p2,p3}, o2={p1,p2}: cooc(p1,p2)=2 -> one
    butterfly on p1 and p2; all pairs involving p3 have cooc 1 ->
    p3 absent. Registered shape exercised via a temp lineitem."""

    from striot_spark.queries.tpch import q278_butterfly_count

    ns = 800_000_000_000_000_000  # load_table converts nano l_shipdate
    rows = [
        (1, 101, ns), (1, 102, ns), (1, 103, ns),
        (2, 101, ns), (2, 102, ns),
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate long"
    )
    d = striot_mkdtemp(prefix="striot_q278_")
    li.write.parquet(d + "/lineitem.parquet")
    got = {
        r["part"]: r["n_butterflies"]
        for r in q278_butterfly_count(spark, d).collect()
    }
    assert got == {101: 1, 102: 1}


def test_rich_club_hand_computed(spark):
    """Co-purchase graph = triangle {1,2,3} + pendant 4-1 (orders
    {1,2},{1,3},{2,3},{1,4}). Degrees 3,2,2,1. Only k=1 qualifies
    (k=2 leaves one node): N_1=3, E_1=3 (the triangle), phi =
    2*3*1e6 DIV (3*2) = 1000000 — a perfect rich club."""

    from striot_spark.queries.tpch import q281_rich_club

    ns = 800_000_000_000_000_000
    rows = [
        (1, 1, ns), (1, 2, ns), (2, 1, ns), (2, 3, ns),
        (3, 2, ns), (3, 3, ns), (4, 1, ns), (4, 4, ns),
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate long"
    )
    d = striot_mkdtemp(prefix="striot_q281_")
    li.write.parquet(d + "/lineitem.parquet")
    got = [tuple(r) for r in q281_rich_club(spark, d).collect()]
    assert got == [(1, 3, 3, 1000000)]


def test_exponential_histogram_excludes_zero_cents(spark):
    """A 0.00-value event has no log2 bucket — the documented domain
    guard drops it; 0.01 lands in bucket 0 ([1,1] cents), 1.28 in
    bucket 7 ([128,255])."""

    from striot_spark.queries.events_ops import (
        q284_exponential_histogram,
    )

    ns = 800_000_000_000_000_000
    ev = spark.createDataFrame(
        [
            (1, ns, 1, "click", 0.0, "{}"),
            (2, ns, 1, "click", 0.01, "{}"),
            (3, ns, 1, "click", 1.28, "{}"),
        ],
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    )
    d = striot_mkdtemp(prefix="striot_q284_")
    ev.write.parquet(d + "/events.parquet")
    got = {
        r["bucket"]: (r["lo_c"], r["hi_c"], r["n_events"], r["sum_c"])
        for r in q284_exponential_histogram(spark, d).collect()
    }
    assert got == {0: (1, 1, 1, 1), 7: (128, 255, 1, 128)}


def test_prototypicality_band_drops_both_deciles(spark):
    """10 vectors in one label: the top and bottom rank (deciles of
    n=10) are dropped, the middle 8 kept."""

    from striot_spark.queries.datapipe import q283_prototypicality_band

    rows = [
        (i, [1.0, float(i) / 10.0], 0) for i in range(10)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = striot_mkdtemp(prefix="striot_q283_")
    emb.write.parquet(d + "/embeddings.parquet")
    got = sorted(
        r["r"] for r in q283_prototypicality_band(spark, d).collect()
    )
    assert got == [2, 3, 4, 5, 6, 7, 8, 9]


def test_transitivity_hand_computed(spark):
    """Triangle {1,2,3} + pendant 4-1: wedges C(3,2)+1+1 = 5,
    triangles 1, transitivity = 3*1e6 DIV 5 = 600000."""

    from striot_spark.queries.tpch import q285_transitivity

    ns = 800_000_000_000_000_000
    rows = [
        (1, 1, ns), (1, 2, ns), (2, 1, ns), (2, 3, ns),
        (3, 2, ns), (3, 3, ns), (4, 1, ns), (4, 4, ns),
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate long"
    )
    d = striot_mkdtemp(prefix="striot_q285_")
    li.write.parquet(d + "/lineitem.parquet")
    got = [tuple(r) for r in q285_transitivity(spark, d).collect()]
    assert got == [(5, 1, 600000)]


def test_katz_hand_computed_and_guards(spark):
    """Edges 1->2, 2->3, 1->3, R=2: walks ending per round
    w1=(0,1,2), w2=(0,0,1); katz_scaled = w1*2 + w2*1 =
    (0, 2, 5)."""
    import pytest as _pytest

    from striot_spark.functions.graph import katz_centrality

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    got = sorted(
        tuple(r) for r in katz_centrality(e, rounds=2).collect()
    )
    assert got == [(1, 0), (2, 2), (3, 5)]
    with _pytest.raises(ValueError, match="rounds"):
        katz_centrality(e, rounds=0)
    # max_indeg 2: N * 2^r * 2^r crosses 2^62 past ~r=30
    with _pytest.raises(ValueError, match="headroom"):
        katz_centrality(e, rounds=40)


def test_hits_matches_naive_on_random_graph(spark):
    """hits() equals a pure-Python loop implementing the IDENTICAL
    integer recurrence (raw in/out sums, L1 renormalization
    raw * N*scale // tot) on a seeded random DIRECTED graph — the
    naive-reference pattern of the betweenness/k-truss tests."""
    import random

    from striot_spark.functions.graph import hits

    rng = random.Random(1208)
    n = 10
    arcs = sorted(
        {
            (a, b)
            for a in range(n)
            for b in range(n)
            if a != b and rng.random() < 0.25
        }
    )
    nodes = sorted({a for a, _ in arcs} | {b for _, b in arcs})
    scale = 1000
    mass = len(nodes) * scale
    iters = 3

    h = {v: scale for v in nodes}
    a_vec = {}
    for _ in range(iters):
        raw = {v: 0 for v in nodes}
        for u, v in arcs:
            raw[v] += h[u]
        tot = sum(raw.values())
        a_vec = {v: raw[v] * mass // tot for v in nodes}
        raw = {v: 0 for v in nodes}
        for u, v in arcs:
            raw[u] += a_vec[v]
        tot = sum(raw.values())
        h = {v: raw[v] * mass // tot for v in nodes}

    e = spark.createDataFrame(arcs, "src long, dst long")
    got = {
        r["node"]: (r["auth"], r["hub"])
        for r in hits(e, iterations=iters, scale=scale).collect()
    }
    assert got == {v: (a_vec[v], h[v]) for v in nodes}


def test_katz_matches_naive_on_random_graph(spark):
    """katz_centrality() equals the pure-Python walk recurrence
    katz_scaled = sum w_r * 2^(R-r) on a seeded random directed
    graph at a horizon past the fixture depth (also stresses the
    lineage cuts)."""
    import random

    from striot_spark.functions.graph import katz_centrality

    rng = random.Random(1209)
    n = 10
    arcs = sorted(
        {
            (a, b)
            for a in range(n)
            for b in range(n)
            if a != b and rng.random() < 0.25
        }
    )
    nodes = sorted({a for a, _ in arcs} | {b for _, b in arcs})
    rounds = 6

    w = {v: 1 for v in nodes}
    acc = {v: 0 for v in nodes}
    for r in range(1, rounds + 1):
        nxt = {v: 0 for v in nodes}
        for u, v in arcs:
            nxt[v] += w[u]
        w = nxt
        for v in nodes:
            acc[v] += w[v] * 2 ** (rounds - r)

    e = spark.createDataFrame(arcs, "src long, dst long")
    got = {
        r["node"]: r["katz_scaled"]
        for r in katz_centrality(e, rounds=rounds).collect()
    }
    assert got == acc


def test_avg_neighbor_degree_hand_computed(spark):
    """Triangle {1,2,3} + pendant 4-1 (degrees 3,2,2,1):
    knn(1) = deg(1) = 3.000; knn(2) = (5+5)/(2*2) = 2.500;
    knn(3) = (2+2+1)/3 = 1.666 (floor DIV in milli-units)."""

    from striot_spark.queries.tpch import q291_avg_neighbor_degree

    ns = 800_000_000_000_000_000
    rows = [
        (1, 1, ns), (1, 2, ns), (2, 1, ns), (2, 3, ns),
        (3, 2, ns), (3, 3, ns), (4, 1, ns), (4, 4, ns),
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate long"
    )
    d = striot_mkdtemp(prefix="striot_q291_")
    li.write.parquet(d + "/lineitem.parquet")
    got = sorted(
        tuple(r) for r in q291_avg_neighbor_degree(spark, d).collect()
    )
    assert got == [(1, 1, 3000), (2, 2, 2500), (3, 1, 1666)]
