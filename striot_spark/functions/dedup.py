"""Deduplication operators for training-data pipelines.

Three tiers, all shuffle-conscious:

- **Exact**: hash-groupBy on a content digest. One shuffle on the digest;
  at 100 TB the digest (16 bytes) shuffles, never the document bodies.
- **MinHash + LSH**: shingle → k minhashes → b bands → band-bucket join.
  Candidate pairs come from equi-joins on (band_id, band_signature) —
  no all-pairs comparison ever materializes. Hashes derive from md5
  (engine-reproducible; functions/text.py:md5_hash64), so signatures are
  deterministic and oracle-checkable.
- **SimHash**: 64-bit majority-vote fingerprint; near-dups differ in few
  bits. Computed via explode(64 bits)+groupBy — declarative, no UDF.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from striot_spark.core.scale import scatter
from striot_spark.functions.caching import track_persist
from striot_spark.functions.text import md5_hash64, tokens_col

MERSENNE_P = 2_147_483_647  # 2^31-1, classic Carter-Wegman modulus
# (a, b) pairs for the universal hash family h_i(x) = (a_i*x + b_i) mod p
MINHASH_COEFFS = [(2, 1), (3, 7), (5, 13), (7, 31), (11, 61), (13, 127)]


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: digest → (kept id, duplicate count)."""
    return (
        df.withColumn("fp", F.md5(F.encode(F.col(text_col), "UTF-8")))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (pure Column expr).

    n=2 (the common near-dup shingle) takes an O(tokens) path —
    ``zip_with`` over two shifted slices; the general path slices per
    index (O(tokens*n) work per doc, measured ~10x slower at n=2).

    Docs with fewer than ``n`` tokens yield an EMPTY array (they have no
    n-gram set to compare, and signature builders drop them) — matching
    the oracle SQL's ``range(1, len(tk))`` shingle CTE, which emits no
    rows for them.
    """
    empty = F.array().cast("array<string>")
    toks = F.filter(tokens_col(text), lambda t: t != F.lit(""))
    sz = F.size(toks)
    if n == 2:
        fast = F.zip_with(
            F.slice(toks, 1, sz - 1),
            F.slice(toks, 2, sz - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
        return F.when(sz < 2, empty).otherwise(fast)
    k = sz - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    return F.when(sz < n, empty).otherwise(
        F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
        )
    )


def dedup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate PAIRS → dedup GROUPS: connected components of the
    pair graph by iterative min-label propagation (each node adopts the
    smallest label among itself and its neighbors until fixpoint — the
    standard large-scale CC formulation; converges in O(component
    diameter) rounds, and near-dup components are shallow clusters, not
    long chains). Returns ``(doc_id, group_id)`` where ``group_id`` is
    the smallest doc id in the component — deterministic in any engine.

    This is the step that turns a pair list (q29/q45/q68) into the
    keep-one-per-group decision of a corpus dedup. Docs in no pair are
    their own group and are NOT emitted — the caller unions them back
    with ``group_id = doc_id`` (a zero-shuffle projection), so the
    iteration only ever touches the pair graph, which is orders of
    magnitude smaller than the corpus.

    Per round: one equi-join of edges with labels + one min groupBy —
    both on node ids (longs). Convergence is checked via ``sum(label)``,
    which strictly decreases while any label changes (labels only move
    down), so the check is one tiny aggregate action, not a join.
    Raises if ``max_iter`` rounds don't converge (pathological
    diameter — for adversarial chain/path graphs use
    ``dedup_groups_logrounds``, the O(log^2 n)-round large-star/
    small-star contraction).

    Lineage discipline: edges (which carry the full upstream pair-
    generation plan) and each round's labels are ``localCheckpoint``-ed.
    Without it every round NESTS the previous round's plan — the
    logical plan grows exponentially and the driver OOMs building plan
    strings around round 5 (observed). An iterative dataflow must cut
    its lineage each round; k-means sidesteps the same trap by inlining
    centroids as literals, but labels here are data-sized.

    Two paths, chosen by the pair count (same philosophy as broadcast
    planning and the numbering gate): a near-dup pair graph is usually
    minute next to its corpus — up to ``driver_edge_threshold`` PAIRS
    (16 bytes each; 1M default ≈ 16 MB) the one-directional pair list
    is collected and union-find runs on the driver in milliseconds,
    replacing ~2 cluster jobs per round with one collect. The
    distributed min-label propagation handles anything larger and is
    what the threshold=0 tests pin. It stays rather than deferring to
    ``dedup_groups_logrounds``: on q74's near-dup graph the star
    contraction measured 1.75x slower (PERF.md §50).
    """
    # one-directional pair list materializes once; union-find needs no
    # reversed edges, so the driver path collects HALF the rows and the
    # bidirectional union is derived only on the distributed path
    upairs = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=True)
    n_pairs = upairs.count()  # free: counts the materialized checkpoint
    if n_pairs <= driver_edge_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in upairs.collect():
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id so the root IS the group id
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        return pairs.sparkSession.createDataFrame(
            rows, "doc_id long, group_id long"
        )
    edges = upairs.union(
        upairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = (
        edges.select("u")
        .distinct()
        .select("u", F.col("u").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # decimal(38,0) sum: 64-bit (e.g. snowflake/hash-derived) ids summed
    # over a large graph overflow a long — ANSI mode would throw, legacy
    # mode would wrap and could fake convergence
    _sum = F.sum(F.col("lbl").cast("decimal(38,0)"))
    prev_sum = labels.agg(_sum).collect()[0][0]
    for _ in range(max_iter):
        nbr_min = edges.join(
            labels.select(F.col("u").alias("v"), "lbl"), "v"
        ).select("u", "lbl")
        # lazy checkpoint: the sum action below materializes it, so each
        # round is ONE job (eager would run a second, redundant one)
        new_labels = (
            nbr_min.union(labels)
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(_sum).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            return labels.select(
                F.col("u").alias("doc_id"), F.col("lbl").alias("group_id")
            )
        prev_sum = new_sum
    raise RuntimeError(
        f"connected components did not converge in {max_iter} rounds"
    )


def dedup_groups_logrounds(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components in O(log^2 n) ROUNDS via alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — public
    methodology). Same contract as ``dedup_groups``: (doc_id,
    group_id=component min), docs in no pair not emitted.

    ``dedup_groups``' min-label propagation converges in O(component
    DIAMETER) rounds — ideal for near-dup clusters (shallow), hopeless
    for chain-shaped graphs (a 10k-node path needs 10k rounds). The
    star operations instead contract greedily toward each node's
    neighborhood minimum:

    - large-star(u): connect every STRICTLY LARGER neighbor to
      ``m = min(N(u) ∪ {u})``;
    - small-star(u): connect every smaller-or-equal neighbor and u
      itself to ``m``.

    Alternating the two preserves connectivity and strictly flattens
    the forest; the edge set converges to exactly the star
    {(v, component_min)} — detected when (count, checksum) of the
    canonical edge set stops changing (two tiny aggregate actions per
    round, no join). Per round: one bidirectional explode + one min
    groupBy + one equi-join on the node id. Lineage is cut with
    ``localCheckpoint`` per round like the label-propagation path.

    Both algorithms are exact; this one is the documented choice when
    component diameter is unbounded (the caveat raised in
    ``dedup_groups``' docstring, now closed).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select("u")
        .union(edges.select(F.col("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _canon(e: DataFrame) -> DataFrame:
        return e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()

    def _star(e: DataFrame, large: bool) -> DataFrame:
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        j = nbrs.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(m.select("u", F.col("m").alias("v")))
        return _canon(out.filter(F.col("u") != F.col("v")))

    def _sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    cur = _canon(edges)
    prev_sig = None
    for _ in range(max_iter):
        cur = _star(cur, large=True)
        cur = _star(cur, large=False).localCheckpoint(eager=True)
        sig = _sig(cur)
        if sig == prev_sig:
            labels = (
                cur.union(
                    cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
                )
                .groupBy("u")
                .agg(F.min("v").alias("lbl"))
            )
            return (
                nodes.join(labels, "u", "left")
                .select(
                    F.col("u").alias("doc_id"),
                    F.least(
                        F.coalesce(F.col("lbl"), F.col("u")), F.col("u")
                    ).alias("group_id"),
                )
            )
        prev_sig = sig
    raise RuntimeError(
        f"star contraction did not converge in {max_iter} rounds"
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 5,
) -> DataFrame:
    """Benchmark-contamination detection: which training documents
    contain any n-gram that also appears in the evaluation set (the
    overlap filter applied before training-corpus release — e.g. GPT-3
    appendix C / PaLM app. treat 8-13-gram collisions as contamination;
    public methodology).

    Returns (id, n_collisions) for contaminated train docs only, where
    ``n_collisions`` counts the DISTINCT shared n-grams.

    Scale shape: the eval side of a contamination check is benchmarks —
    MBs against a 100 TB corpus — so its distinct n-gram set is
    broadcast and the train side is ONE scan + broadcast-hash semi-join
    + one groupBy on the doc id. The corpus is never shuffled by
    n-gram.
    """
    grams = lambda c: F.array_distinct(shingles(c, ngram_n))  # noqa: E731
    eval_grams = (
        eval_df.select(F.explode(grams(F.col(text_col))).alias("g"))
        .distinct()
    )
    hits = scatter(train).select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("g")
    )
    return (
        hits.join(F.broadcast(eval_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )


def contamination_scores(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 5,
) -> DataFrame:
    """Per-document contamination fraction — the decontamination FILTER
    granularity (keep/drop per training doc), where
    ``contamination_check`` reports only colliding docs and raw counts.

    For every train doc with at least one n-gram, returns
    (id, n_grams, n_collisions, score): ``n_grams`` distinct n-grams in
    the doc, ``n_collisions`` of them appearing anywhere in the eval
    corpus, ``score`` their ratio. Docs shorter than ``ngram_n`` tokens
    have no n-gram set to score and emit no row (same convention as the
    signature builders).

    Scale shape (same as ``contamination_check``): the eval n-gram set
    is broadcast, the train corpus is ONE scan + broadcast left join +
    one groupBy(id) — the corpus never shuffles by n-gram.
    """
    grams = lambda c: F.array_distinct(shingles(c, ngram_n))  # noqa: E731
    eval_grams = (
        eval_df.select(F.explode(grams(F.col(text_col))).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    g = scatter(train).select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("g")
    )
    return (
        g.join(F.broadcast(eval_grams), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias(
                "n_collisions"
            ),
        )
        .withColumn("score", F.col("n_collisions") / F.col("n_grams"))
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 5,
    num_hashes: int = 3,
    num_bits: int | None = None,
) -> DataFrame:
    """Decontaminated training corpus — train documents sharing NO
    ``ngram_n``-gram with the eval set — via a Bloom-filter prefilter
    with an exact verification pass, so the result is IDENTICAL to the
    exact broadcast-join filter (Bloom has no false negatives; false
    positives are re-checked exactly).

    Scale shape: ``contamination_check`` explodes every train doc into
    its n-grams and joins — correct, but the join input is
    corpus-of-grams-sized even when contamination is rare (the normal
    case: benchmarks are MBs against 100 TB). Here the eval grams fold
    into a bit-array PLAN LITERAL (a single ``F.lit(list)`` constant —
    ~16 bits/gram, power of two; an eval set of 1M distinct grams is a
    2 MB literal, broadcast cost not shuffle cost), and the corpus-side
    test is one exploded scan whose bloom probe runs INSIDE whole-stage
    codegen (deliberately NOT an ``exists()`` higher-order lambda:
    those evaluate interpreted, measured ~4x slower). The only join
    input the corpus ever feeds is the Bloom-POSITIVE id set — true
    contaminations plus the engineered ~0.1% FP tail — which is
    broadcast back; only those docs pay the exact broadcast n-gram
    check.

    The driver materializes only the eval position set (bounded by
    ``num_hashes * |eval grams|`` — eval-sized, same bound as the
    broadcast in ``contamination_check``).
    """
    grams = lambda c: F.array_distinct(shingles(c, ngram_n))  # noqa: E731
    # persisted: consumed up to three times (sizing count, positions
    # collect, exact-verify join) — released by the registry wrapper
    eval_grams = track_persist(
        scatter(eval_df)
        .select(F.explode(grams(F.col(text_col))).alias("g"))
        .distinct()
    )
    k = int(num_hashes)
    if num_bits is None:
        n_grams = eval_grams.count()
        num_bits = 1 << max(10, (16 * max(n_grams, 1) - 1).bit_length())
    m = int(num_bits)
    pos = lambda g, i: F.pmod(F.xxhash64(g, F.lit(i)), F.lit(m))  # noqa: E731
    positions = [
        r[0]
        for r in eval_grams.select(
            F.explode(F.array(*[pos(F.col("g"), i) for i in range(k)])).alias(
                "p"
            )
        )
        .distinct()
        .collect()
    ]
    words = [0] * ((m + 63) // 64)
    for p in positions:
        words[p >> 6] |= 1 << (p & 63)
    # ONE array literal (not CreateArray of 16k children: interpreted
    # eval walks every child per probe, and codegen compiles them all)
    bitmap = F.lit(
        [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    )

    def bloom_hit(g: Column) -> Column:
        cond = F.lit(True)
        for i in range(k):
            p = pos(g, i)
            word = F.element_at(bitmap, F.floor(p / 64).cast("int") + 1)
            cond = cond & (F.getbit(word, F.pmod(p, F.lit(64))) == 1)
        return cond

    train = scatter(train)  # the gram scan is CPU-bound per-row work
    gram_occ = train.select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("g")
    )
    flagged_ids = (
        gram_occ.filter(bloom_hit(F.col("g"))).select(id_col).distinct()
    )
    candidates = train.join(F.broadcast(flagged_ids), id_col, "semi")
    cand_grams = candidates.select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("g")
    )
    contaminated = (
        cand_grams.join(F.broadcast(eval_grams), "g")
        .select(id_col)
        .distinct()
    )
    # survivors = train minus exactly-contaminated (bloom-clean docs by
    # definition are not in `contaminated`, so one anti-join covers
    # both the fast path and the verified false positives)
    return train.join(F.broadcast(contaminated), id_col, "left_anti")


def scrub_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 5,
    min_docs: int = 2,
    broadcast_freq: bool = True,
) -> DataFrame:
    """Remove every token covered by an n-gram that occurs in at least
    ``min_docs`` DISTINCT documents — span-level deduplication (the
    frequent-n-gram form of Lee et al. 2022's exact-substring dedup /
    RefinedWeb's repeated-span scrubbing: boilerplate, license headers
    and navigation chrome repeat across pages, and dropping whole
    documents for a shared span throws away good text).

    Returns (id, clean_text, n_tokens, n_removed): the reassembled
    document (single-space joined survivors), its original token count
    and how many tokens were scrubbed. Docs shorter than ``ngram_n``
    tokens have no n-gram and pass through unmodified.

    Scale shape: ONE (doc,gram) groupBy builds the frequent-gram table
    (map-side partial count of distinct doc per gram — the classic
    heavy-hitter pass); occurrences then join it ON GRAM — broadcast by
    default (the >=min_docs heavy-hitter set is corpus-sublinear; pass
    ``broadcast_freq=False`` for a hash equi-join when it is not) —
    and fold into ONE per-doc covered-positions array (bounded by the
    doc's own token count). Reassembly is an in-row indexed filter
    inside codegen: token bodies are never shuffled, only (id, pos)
    hits and the final doc-keyed array join move.
    """
    toks = lambda c: F.filter(  # noqa: E731
        F.split(c, " "), lambda t: t != F.lit("")
    )
    gram_pos = scatter(df).select(
        F.col(id_col),
        F.posexplode(shingles(F.col(text_col), ngram_n)).alias(
            "pos0", "gram"
        ),
    )
    freq = (
        gram_pos.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("c"))
        .filter(F.col("c") >= int(min_docs))
        .select("gram")
    )
    if broadcast_freq:
        freq = F.broadcast(freq)
    cov = (
        gram_pos.join(freq, "gram")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(
                                F.col("pos0"),
                                F.col("pos0") + F.lit(ngram_n - 1),
                            )
                        )
                    )
                )
            ).alias("__cov")
        )
    )
    out = scatter(df).join(cov, id_col, "left").withColumn(
        "__cov", F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    )
    tk = toks(F.col(text_col))
    kept = F.filter(
        tk, lambda t, i: ~F.array_contains(F.col("__cov"), i)
    )
    return out.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(tk).alias("n_tokens"),
        (F.size(tk) - F.size(kept)).alias("n_removed"),
    )


def _hash_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, with_sets: bool
) -> DataFrame:
    """The one persisted MinHash work table: ``(id, [sset,] __mh_base)``
    — the doc's distinct shingle set (only ``with_sets``, for the
    exact-Jaccard verify) and its md5 base-hash array, restricted to
    docs that have shingles (under ``shingle_n`` tokens there is no
    signature and nothing to pair).

    The persist is a materialization barrier: Catalyst's
    CollapseProject would otherwise inline the base array into every
    signature expression, re-running the md5 pass k times (measured 6x
    cost at k=6); behind it md5 runs once and the k cheap ``array_min``
    transforms read the cached array. The shingle expression evaluates
    twice per row (cheap ``zip_with``); the dominant md5 transform runs
    once. The size filter sits ABOVE the barrier so its predicate reads
    the cached array instead of being pushed into (and duplicating) the
    md5 projection."""
    sh = shingles(F.col(text_col), shingle_n)
    cols = [F.col(id_col)]
    if with_sets:
        cols.append(F.array_distinct(sh).alias("sset"))
    cols.append(
        F.transform(sh, lambda s: md5_hash64(s) % MERSENNE_P).alias("__mh_base")
    )
    return track_persist(scatter(df).select(*cols)).filter(
        F.size("__mh_base") > 0
    )


def _signatures(work: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """``(id, mh0..mh{k-1})``: each signature is ``array_min`` of one
    affine map of ``MINHASH_COEFFS`` over the work table's base array."""
    return work.select(
        F.col(id_col),
        *[
            F.array_min(
                F.transform(
                    F.col("__mh_base"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P,
                )
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
        ],
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 4, shingle_n: int = 2
) -> DataFrame:
    """Per-document minhash signature columns mh0..mh{k-1}.

    Pure projection: the shingle array lives inside the row, so each
    signature is ``array_min(transform(...))`` over it — base hash
    (md5-derived, engine-reproducible) then the affine family. A 100 TB
    signature pass is one parquet scan with ZERO shuffles (the earlier
    explode+groupBy form shuffled every shingle). The persisted table
    carries the base array only.
    """
    work = _hash_table(df, id_col, text_col, shingle_n, with_sets=False)
    return _signatures(work, id_col, num_hashes)


def _banding_rows_per_band(num_hashes: int, bands: int) -> int:
    """Fail-fast banding geometry check (r8 ADVICE): a ``bands`` that
    does not divide ``num_hashes`` would silently ignore the trailing
    hashes, and ``bands > num_hashes`` would make every band signature
    the empty string — ALL documents collide in every bucket, and a
    first-wins filter then suppresses the entire corpus but the min-id
    doc with no error. Both are configuration bugs, not tunings."""
    if num_hashes < 1 or bands < 1:
        raise ValueError(
            f"num_hashes and bands must be >= 1, got "
            f"num_hashes={num_hashes}, bands={bands}"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): "
            "trailing hashes would be silently ignored"
        )
    return num_hashes // bands


def _band_rows(
    work: DataFrame, id_col: str, num_hashes: int, bands: int,
    keep_mh: bool = False,
) -> DataFrame:
    """``(id, [mh0..,] band, sig)`` of a work table's signatures: one row
    per (doc, band), ``sig`` the band's minhashes joined by ``_``.
    ``keep_mh`` carries the signature columns along for the agreement
    prefilter of ``_band_pairs``."""
    rows_per_band = _banding_rows_per_band(num_hashes, bands)
    mh_names = [f"mh{i}" for i in range(num_hashes)] if keep_mh else []
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return _signatures(work, id_col, num_hashes).select(
        F.col(id_col), *mh_names, F.explode(F.array(*band_cols)).alias("bs")
    ).select(id_col, *mh_names, "bs.band", "bs.sig")


def _band_pairs(
    a: DataFrame, b: DataFrame, id_col: str, num_hashes: int,
    min_sig_agreement: float, ids: tuple[str, str], ordered: bool,
) -> DataFrame:
    """Candidate pairs of two ``keep_mh`` band tables: docs sharing a
    (band, sig) bucket — an equi-join, never all-pairs — whose minhash
    Jaccard *estimate* (the fraction of agreeing signature components,
    an unbiased estimator) reaches ``min_sig_agreement``. Banding with
    short bands is recall-friendly but false-positive-heavy; this
    prefilter prunes most FPs with column compares on longs before the
    expensive shingle-set verify. ``ordered`` keeps only a.id < b.id
    (a self-join's unordered pairs, each once). Output ``ids``,
    distinct."""
    a, b = a.alias("a"), b.alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig"))
    if ordered:
        on = on & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    agree = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int")
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        a.join(b, on)
        .filter(agree >= F.lit(min_sig_agreement))
        .select(
            F.col(f"a.{id_col}").alias(ids[0]),
            F.col(f"b.{id_col}").alias(ids[1]),
        )
        .distinct()
    )


def _jaccard_verify(
    cands: DataFrame, a: DataFrame, b: DataFrame, id_col: str,
    ids: tuple[str, str], threshold: float, broadcast_b: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard of candidate pairs ``ids`` against the
    ``(id_col, sset)`` tables ``a`` and ``b``; keeps ``>= threshold``.
    Only candidates are scored — the sets join by doc id, bodies never
    move. The candidate side is scattered: AQE coalesces the small
    distinct shuffle to one partition, which would serialize the
    set-intersect work."""
    id_a, id_b = ids
    sets_b = b.select(F.col(id_col).alias(id_b), F.col("sset").alias("set_b"))
    if broadcast_b:
        sets_b = F.broadcast(sets_b)
    return (
        scatter(cands)
        .join(a.select(F.col(id_col).alias(id_a), F.col("sset").alias("set_a")), id_a)
        .join(sets_b, id_b)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(id_a, id_b, "jaccard")
    )


def _lsh_self_pairs(
    work: DataFrame, id_col: str, num_hashes: int, bands: int,
    min_sig_agreement: float,
) -> DataFrame:
    """The candidate stage over one work table: its band rows
    self-joined into ``(id_a, id_b)``, id_a < id_b."""
    banded = _band_rows(work, id_col, num_hashes, bands, keep_mh=True)
    return _band_pairs(
        banded, banded, id_col, num_hashes, min_sig_agreement,
        ("id_a", "id_b"), ordered=True,
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 2,
    min_sig_agreement: float = 0.5,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate
    pairs. Join key = (band_id, concatenated in-band minhashes); output
    (id_a, id_b) with id_a < id_b, distinct, pre-filtered by the
    signature-agreement estimate (``_band_pairs``). The md5 base table
    is persisted once: a self-join recomputes its lineage on BOTH
    sides, and at 100 TB it would be written to storage before
    candidate generation — persist is the in-session analogue.
    """
    work = _hash_table(df, id_col, text_col, shingle_n, with_sets=False)
    return _lsh_self_pairs(work, id_col, num_hashes, bands, min_sig_agreement)


def lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 4,
    bands: int = 2,
    shingle_n: int = 2,
) -> DataFrame:
    """Band-membership table (id, band, sig): each document's LSH band
    signatures as rows — the same band construction as the pair
    family's candidate stage, without its agreement columns. One
    signature scan (zero-shuffle projection, md5 base persisted once
    in ``_hash_table``) + an in-row band explode; docs too
    short to shingle emit no rows."""
    work = _hash_table(df, id_col, text_col, shingle_n, with_sets=False)
    return _band_rows(work, id_col, num_hashes, bands)


def near_dup_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 4,
    bands: int = 2,
    shingle_n: int = 2,
) -> DataFrame:
    """FIRST-WINS near-dup suppression — the ingest-filter form of LSH
    dedup (reference has no near-dup surface; this extends the
    ``streamFilter`` idea, ``FunctionalProcessing.hs:93-97``, to
    content-similarity): every document registers its LSH bands, each
    distinct (band, sig) bucket is OWNED by the smallest ``id_col``
    presenting it, and a document is suppressed iff any of its bands
    is owned by an earlier document. Docs too short to shingle have no
    bands and are always kept. Returns the kept rows of ``df``
    (all columns).

    Unlike the pair family (q29) + connected-components + keep-one
    pipeline (q104), this decides KEEP/DROP per document against the
    band-bucket state alone — one pass, no pair materialization, no
    iterative clustering — which is exactly the shape an ingest
    gate needs; the price is OR-banding's false-positive rate, tuned
    by ``rows_per_band = num_hashes // bands`` (more rows per band =
    stricter). The same first-wins-per-bucket semantics applied
    incrementally is ``near_dup_filter_stream``, and this batch form
    is its oracle.

    Scale: bands is one signature scan + in-row explode (#docs x
    bands rows, compact (long, int, string) tuples); ownership is one
    keyed groupBy on (band, sig); the dup decision is an equi-join of
    bands to owners; suppression is a left_anti on id. Zero
    cartesians, zero driver materialization, every shuffle on a
    compact key.
    """
    b = lsh_bands(df, id_col, text_col, num_hashes, bands, shingle_n)
    own = b.groupBy("band", "sig").agg(F.min(id_col).alias("__owner"))
    dup_ids = (
        b.join(own, ["band", "sig"])
        .filter(F.col("__owner") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    return df.join(dup_ids, id_col, "left_anti")


def near_dup_filter_stream(
    sdf: DataFrame,
    out_dir: str,
    snap_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    keep_cols: Sequence[str],
    num_hashes: int = 4,
    bands: int = 2,
    shingle_n: int = 2,
    available_now: bool = True,
    state_parts: int = 16,
    gc_grace_batches: int = 0,
    drain_shuffle_partitions: int | None = None,
):
    """ONLINE near-dup ingest filter: the streaming form of
    ``near_dup_filter`` — suppress each arriving document that shares
    an LSH band with ANY earlier document (earlier arrivals in this
    run, or any document already in the band-owner state), appending
    the kept rows to ``out_dir`` as they pass. This is the dedup gate
    a 100 TB training-data ingest runs AT the pipe, instead of
    re-clustering the corpus after the fact.

    Per micro-batch (foreachBatch): compute the batch's band table
    (one signature scan of the batch), look up each band in the owner
    snapshot (equi-join on (band, sig)) and against the batch's own
    earlier arrivals (min-id per band within the batch), drop
    documents with any owned band, append the kept rows, then merge
    the batch's bands into the owner snapshot (min per bucket —
    monotone, so cross-batch order only matters through arrival
    itself) with the same manifest-committed + run-id crash discipline
    as ``incremental_agg_sink``: a replayed batch id (same run) is
    skipped whole, and the kept-rows append is a per-batch
    subdirectory OVERWRITE, so the crash-replay of an uncommitted
    batch rewrites the same files instead of double-appending.
    Restarting with a fresh checkpoint against the same state refuses
    (run-id mismatch) rather than silently re-admitting duplicates.

    Batch parity: with arrival order == ``id_col`` order (how the
    replay harness stages corpora), the final kept set is EXACTLY
    ``near_dup_filter`` of the full corpus — first-wins per bucket is
    min-id per bucket — which makes the batch form the oracle for the
    driver gate (q225).

    Scale: state is #distinct band buckets (compact), not #documents;
    each batch costs one signature scan of the batch + two keyed
    shuffles (batch-band groupBy, snapshot merge) + one equi-join
    against the snapshot. The owner snapshot is hash-prefix
    partitioned on (band, sig) into ``state_parts`` (>= 1) partitions
    (``streaming.runtime._PartitionedState``): the ownership lookup is
    an equi-join, so each batch READS only the partitions its bands
    hash into and REWRITES only those — per-batch cost
    O(batch + touched-state) rather than O(all band buckets), which is
    what keeps the gate viable when the bucket table itself outgrows a
    per-batch rewrite. Read the kept corpus back with ``read_kept``
    below; the owner snapshot with ``streaming.runtime.read_snapshot``.
    """
    import os as _os

    from striot_spark.streaming.runtime import _snapshot_sink

    # validate at stream-construction time, not first-batch time: a
    # bad banding geometry must fail before any state is written
    _banding_rows_per_band(num_hashes, bands)

    def _bands(batch_df: DataFrame) -> DataFrame:
        return lsh_bands(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n
        )

    def _merge(batch_df: DataFrame, batch_id: int, b, prev):
        batch_own = b.groupBy("band", "sig").agg(
            F.min(id_col).alias("__bown")
        )
        hit = b.join(batch_own, ["band", "sig"])
        is_dup = F.col("__bown") < F.col(id_col)
        if prev is not None:
            # the ownership lookup is equi on (band, sig): partitions
            # the batch doesn't hash into cannot own any of its bands
            hit = hit.join(prev, ["band", "sig"], "left")
            is_dup = F.col("owner").isNotNull() | is_dup
        dup_ids = hit.filter(is_dup).select(id_col).distinct()
        # kept rows land BEFORE the manifest flip, as a per-batch
        # overwrite: the replay of an uncommitted batch rewrites them
        kept = batch_df.join(dup_ids, id_col, "left_anti")
        kept.select(*keep_cols).write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"b{batch_id:05d}")
        )
        owners = b.select("band", "sig", F.col(id_col).alias("owner"))
        if prev is not None:
            owners = prev.unionByName(owners)
        return owners.groupBy("band", "sig").agg(
            F.min("owner").alias("owner")
        )

    return _snapshot_sink(
        sdf, snap_dir, checkpoint_dir, ["band", "sig"], _bands, _merge,
        available_now, state_parts, gc_grace_batches,
        drain_shuffle_partitions,
    )


def read_kept(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the kept corpus written by ``near_dup_filter_stream``
    (per-batch subdirectories)."""
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    )


def ngram_jaccard_pairs(
    candidates: DataFrame, df: DataFrame, id_col: str, text_col: str,
    shingle_n: int = 2, threshold: float = 0.7,
) -> DataFrame:
    """Verify LSH candidates with exact shingle-set Jaccard. Only
    candidate pairs are scored — the shingle arrays join by doc id."""
    # computed once, joined twice (id_a and id_b sides) → materialize;
    # scattered: the set build is CPU-heavy per row
    sets_ = track_persist(
        scatter(df).select(
            F.col(id_col),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sset"),
        )
    )
    return _jaccard_verify(
        candidates, sets_, sets_, id_col, ("id_a", "id_b"), threshold
    )


def _auto_shingle_n(
    df: DataFrame,
    text_col: str,
    candidates: tuple[int, ...],
    min_vocab: int,
) -> int:
    """Pick a shingle width whose vocabulary can separate the corpus.

    One body scan probes the distinct-shingle count at every width in
    ``candidates`` simultaneously: each doc emits its shingle array per
    width, and a ``groupBy(width)`` + ``approx_count_distinct`` reduces
    them — HLL sketches combine map-side, so the shuffle carries
    O(widths) sketch payloads, never tokens. The smallest width whose
    approximate vocabulary reaches ``max(min_vocab, doc_count)`` wins
    (a vocabulary smaller than the doc count cannot give most documents
    a rare prefix token — pigeonhole); if none reaches it, the widest
    candidate is the best available. Measured basis: PERF.md §17.
    """
    cands = sorted({int(n) for n in candidates})
    if not cands:
        raise ValueError("auto_candidates must be non-empty")
    probe = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("n"),
                            shingles(F.col(text_col), n).alias("sh"),
                        )
                        for n in cands
                    ]
                )
            ).alias("x")
        )
        .select(F.col("x.n").alias("n"), F.explode("x.sh").alias("tok"))
        .groupBy("n")
        .agg(F.approx_count_distinct("tok").alias("vocab"))
    )
    vocabs = {int(r["n"]): int(r["vocab"]) for r in probe.collect()}
    bar = max(int(min_vocab), df.count())
    for n in cands:
        if vocabs.get(n, 0) >= bar:
            return n
    return cands[-1]


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int | str = 2,
    threshold: float = 0.7,
    max_bitmap_vocab: int = 1 << 12,
    emit: str = "pairs",
    auto_candidates: tuple[int, ...] = (2, 4, 6),
    auto_min_vocab: int = 4096,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — every
    pair with shingle-set Jaccard >= ``threshold``, no LSH approximation
    and no all-pairs compare (AllPairs/PPJoin family; Bayardo et al.
    WWW'07, Xiao et al. WWW'08 — public literature).

    Candidate generation: order each doc's shingle set by ascending
    GLOBAL document frequency (rarest first, ties on the shingle string)
    and keep only the first ``s - ceil(t*s) + 1`` shingles (the prefix).
    If J(x, y) >= t then ``|x ∩ y| >= ceil(t * max(|x|,|y|))``, and two
    sets whose overlap is at least a can always be detected from
    prefixes of length ``size - a + 1`` under any shared total order —
    so every qualifying pair shares a PREFIX token and survives the
    prefix equi-join. Rarest-first ordering is the scale lever: high-
    frequency shingles (the fan-out risk of a plain inverted index)
    land outside prefixes, so candidate volume tracks the rare end of
    the vocabulary. A size filter (``t*max <= min``) prunes before the
    verify join.

    Shingles are factorized to dense integer FREQUENCY RANKS through a
    global dictionary (rank 0 = rarest; `core/scale.py:global_index`
    over the vocabulary, itself size-gated scale-safe). The dictionary
    is a bijection, so every set operation downstream — prefixes,
    candidate join, exact intersect — runs on sorted int arrays instead
    of strings: rarest-first prefix = ``slice(ranks, 1, p)``. The
    indexed (smaller) side additionally uses PPJoin's shorter indexing
    prefix ``s - ceil(2t/(1+t)*s) + 1``, valid because each unordered
    pair is generated exactly once as (larger probes, smaller indexed),
    and each candidate occurrence passes the positional remaining-suffix
    bound ``1 + min(|x|-px, |y|-py) >= ceil(t/(1+t)*(|x|+|y|))``
    (lossless: the occurrence at the pair's smallest common rank always
    satisfies it when J >= t).

    Verification is adaptive on the vocabulary size the dictionary pass
    just measured: if it fits ``max_bitmap_vocab`` bits (default 2^12),
    rank sets are also materialized as fixed-width long bitmaps and the
    exact intersect is ``zip_with(&) + bit_count`` — measured 8.5x
    faster than ``array_intersect`` per PAIR on the 931-shingle sf0.1
    corpus (the prefix-filter worst case, where candidates are ~10%
    of all-pairs). The gate is deliberately LOW: the bitmap BUILD is
    ``n_words x |rset|`` interpreted lambda ops per doc, so its cost
    scales with the vocabulary while the rank-array path scales with
    the doc — measured crossover (PERF.md §24): vocab 931 bitmap
    3.35s vs rank 3.82s (ties/wins), vocab 9310 bitmap 46.7s vs rank
    13.9s (3.4x CLIFF). Above the gate, ``array_intersect`` on the
    sorted rank arrays. Both are exact; ``|union| = sz_a + sz_b -
    |intersect|`` avoids ever building the union array.

    Shuffle ledger at 100 TB: one groupBy on the shingle for the
    dictionary, one groupBy on the id to build rank sets, one
    prefix-rank equi-join (ids + ints only), one verify join against
    the persisted (id, rank-set) table. Bodies are scanned once, never
    shuffled. All joins are equi-joins — plan-gated no CartesianProduct.

    Complements ``lsh_near_dup_pairs`` (approximate, fixed-cost): use
    LSH when a bounded miss rate is acceptable, prefix filtering when
    the output must be exactly the >= t pairs.

    Choosing ``shingle_n`` (measured, PERF.md §17): prefix filtering is
    selective only when the shingle VOCABULARY is large relative to the
    corpus — rare shingles are what keep prefixes from colliding. On the
    driver corpus, 2-gram shingling (931-token vocab) is the worst case:
    candidates run at ~10% of all-pairs. 6-gram shingling (24k→234k
    vocab, the regime any real large corpus is in) makes the filter
    PERFECT there — candidates == verified pairs (100% precision) at
    both measured scales. The default stays ``shingle_n=2`` for
    backwards compatibility with existing oracles; pass
    ``shingle_n="auto"`` to apply that finding as a rule: one extra
    aggregate-only corpus scan probes the vocabulary at each width in
    ``auto_candidates`` simultaneously (HyperLogLog sketches — partial
    aggregation map-side, only sketch bytes cross the shuffle) and the
    smallest width whose vocabulary reaches
    ``max(auto_min_vocab, ~doc_count)`` wins (else the widest
    candidate). The probe costs one body scan, so at 100 TB prefer
    passing an explicit width you know saturates; ``"auto"`` is for
    corpora you have not profiled.
    """
    from striot_spark.core.scale import global_index

    if emit not in ("pairs", "candidates"):
        raise ValueError(
            f"emit must be 'pairs' or 'candidates', got {emit!r}"
        )
    if shingle_n == "auto":
        shingle_n = _auto_shingle_n(
            df, text_col, auto_candidates, auto_min_vocab
        )
    elif not isinstance(shingle_n, int):
        raise ValueError(
            f"shingle_n must be an int or 'auto', got {shingle_n!r}"
        )
    t = float(threshold)
    # persisted: both the dictionary pass (freq) and the rank-set build
    # consume toks — without the cache the document BODIES would be
    # scanned and shingled twice, breaking the one-corpus-scan ledger
    # below (locally measured neutral; at 100 TB it is a whole extra
    # corpus read). Tokens are ids + shingle strings, far narrower than
    # bodies.
    toks = scatter(df).select(
        F.col(id_col).alias("sid"),
        F.explode(
            F.array_distinct(shingles(F.col(text_col), shingle_n))
        ).alias("tok"),
    ).persist()
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf")).persist()
    vocab = freq.count()  # materializes freq; reused by the dictionary
    # (freq is released after sets_ materializes below; sets_ itself
    # stays cached for the caller's candidate + verify consumers)
    # rank 0 = globally rarest (ties on the shingle string)
    dict_ = global_index(freq, [F.col("tf"), F.col("tok")], "rank").select(
        "tok", "rank"
    )
    sets_ = (
        toks.join(dict_, "tok")
        .groupBy("sid")
        .agg(F.sort_array(F.collect_list("rank")).alias("rset"))
        .withColumn("ssz", F.size("rset"))
    )
    use_bitmap = vocab <= max_bitmap_vocab
    if use_bitmap:
        # max(1,...): sequence(0, -1) would yield a DESCENDING 2-element
        # sequence on an empty vocabulary, not an empty bitmap
        n_words = max(1, (vocab + 63) // 64)
        sets_ = sets_.withColumn(
            "bm",
            F.expr(
                f"transform(sequence(0, {n_words - 1}), w -> aggregate("
                "filter(rset, r -> r div 64 = w), cast(0 as bigint), "
                "(acc, r) -> acc | shiftleft(cast(1 as bigint), "
                "cast(r % 64 as int))))"
            ),
        )
    sets_ = track_persist(sets_)
    sets_.count()  # materialize the rank sets off the toks/freq caches
    freq.unpersist()  # ... then release the vocabulary table
    toks.unpersist()  # ... and the token table (rank sets carry on)
    # epsilon guards the float ceil: a ULP-high product would shorten
    # a prefix (false negatives); a longer prefix is always safe
    ssz = F.col("ssz")

    def _plen(factor: float):
        return ssz - F.ceil(ssz * F.lit(factor) - F.lit(1e-9)).cast("int") + 1

    probing = sets_.select(
        "sid",
        "ssz",
        F.posexplode(F.slice("rset", 1, _plen(t))).alias("ppos", "prank"),
    )
    indexed = sets_.select(
        "sid",
        "ssz",
        F.posexplode(
            F.slice("rset", 1, _plen(2 * t / (1 + t)))
        ).alias("ppos", "prank"),
    )
    a = probing.select(
        F.col("sid").alias("pid"),
        F.col("ssz").alias("psz"),
        F.col("ppos").alias("pxp"),
        "prank",
    )
    b = indexed.select(
        F.col("sid").alias("iid"),
        F.col("ssz").alias("isz"),
        F.col("ppos").alias("pyp"),
        "prank",
    )
    # required overlap for J >= t between these two set sizes
    alpha = F.ceil(
        F.lit(t / (1 + t)) * (F.col("psz") + F.col("isz")) - F.lit(1e-9)
    )
    cands = (
        a.join(b, "prank")
        # each unordered pair exactly once: larger (by size, then id)
        # probes the smaller one's index prefix
        .filter(
            (F.col("isz") < F.col("psz"))
            | ((F.col("isz") == F.col("psz")) & (F.col("iid") < F.col("pid")))
        )
        # size filter: J >= t forces t*|larger| <= |smaller|
        .filter(F.lit(t) * F.col("psz") <= F.col("isz") + F.lit(1e-9))
        # positional remaining-suffix bound (0-based posexplode indices)
        .filter(
            F.lit(1)
            + F.least(
                F.col("psz") - F.col("pxp") - 1,
                F.col("isz") - F.col("pyp") - 1,
            )
            >= alpha
        )
        .select(
            F.least("pid", "iid").alias("id_a"),
            F.greatest("pid", "iid").alias("id_b"),
        )
        .distinct()
    )
    if emit == "candidates":
        # diagnostics surface (PERF.md scale evidence): the pre-verify
        # candidate set, whose growth vs corpus size is the subquadratic
        # claim being measured
        return cands
    set_col = "bm" if use_bitmap else "rset"
    joined = cands.join(
        sets_.select(
            F.col("sid").alias("id_a"),
            F.col(set_col).alias("set_a"),
            F.col("ssz").alias("sz_a"),
        ),
        "id_a",
    ).join(
        sets_.select(
            F.col("sid").alias("id_b"),
            F.col(set_col).alias("set_b"),
            F.col("ssz").alias("sz_b"),
        ),
        "id_b",
    )
    if use_bitmap:
        inter = F.expr(
            "aggregate(zip_with(set_a, set_b, (x, y) -> bit_count(x & y)), "
            "0, (acc, v) -> acc + v)"
        )
    else:
        inter = F.size(F.array_intersect("set_a", "set_b"))
    return (
        joined.withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 2,
    min_sig_agreement: float = 0.5,
    threshold: float = 0.7,
) -> DataFrame:
    """Fused MinHash-LSH near-dup pipeline: candidates + exact verify.

    The candidate stage of ``lsh_candidate_pairs`` followed by the
    verify stage of ``ngram_jaccard_pairs``, but over ONE persisted
    work table carrying both the md5 base-hash array (for signatures)
    and the distinct shingle set (for the verify), so the document
    corpus is scanned once. The separate functions each scan + shingle
    the corpus — at 100 TB that's the difference between one and two
    full passes over the document bodies. Downstream joins move only
    (id, longs) / (id, shingle set) — never the bodies.
    """
    work = _hash_table(df, id_col, text_col, shingle_n, with_sets=True)
    cands = _lsh_self_pairs(work, id_col, num_hashes, bands, min_sig_agreement)
    return _jaccard_verify(cands, work, work, id_col, ("id_a", "id_b"), threshold)


def cross_corpus_near_dup_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 6,
    bands: int = 3,
    shingle_n: int = 2,
    min_sig_agreement: float = 0.5,
    threshold: float = 0.7,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — decontamination at
    PAIR granularity: which training documents near-duplicate which
    eval documents (``contamination_check``/``contamination_scores``
    flag n-gram collisions without identifying the eval counterpart;
    near-dup train/eval overlap is the other published decontamination
    criterion alongside exact n-gram collision).

    The stages of ``lsh_near_dup_pairs`` (minhash signatures →
    band-bucket equi-join → signature-agreement prefilter → exact
    shingle-Jaccard verify), but the band join runs BETWEEN the corpora,
    never within one: no train-train or eval-eval pair is ever
    generated, and no id ordering is imposed — the same id value on
    both sides is a legitimate (exact-dup) pair.

    Scale shape: eval corpora are benchmarks — MBs against a 100 TB
    train corpus — so ``broadcast_eval`` (default) broadcasts the eval
    band table and shingle sets: the train bodies are scanned ONCE and
    the band probe is a broadcast hash join, no train-side shuffle.
    Downstream moves only (ids, longs) and candidate-doc shingle sets.
    Set ``broadcast_eval=False`` when both sides are large: the joins
    become shuffled bucketed equi-joins — still never all-pairs.

    Returns (train_id, eval_id, jaccard) with jaccard >= ``threshold``.
    """
    ids = ("train_id", "eval_id")
    tw, ew = (
        _hash_table(d, id_col, text_col, shingle_n, with_sets=True)
        for d in (train, eval_df)
    )
    tb, eb = (
        _band_rows(w, id_col, num_hashes, bands, keep_mh=True) for w in (tw, ew)
    )
    # materialize both caches before the joins consume them twice
    # (band probe + verify): without the force, concurrent subtree
    # execution inside the one action could shingle+md5 a side twice
    # before its cache populates — the same guarantee
    # prefix_filter_jaccard_pairs buys with its count()
    tw.count()
    ew.count()
    if broadcast_eval:
        eb = F.broadcast(eb)
    cands = _band_pairs(
        tb, eb, id_col, num_hashes, min_sig_agreement, ids, ordered=False
    )
    return _jaccard_verify(
        cands, tw, ew, id_col, ids, threshold, broadcast_b=broadcast_eval
    )


def token_hashes(text_col: str) -> Column:
    """The 60-bit md5 hash of each non-empty space-split token of
    ``text_col``, as an array (``simhash_bits``' input)."""
    return F.expr(
        f"""
        transform(
          filter(split({text_col}, ' '), t -> t <> ''),
          t -> CAST(conv(substring(md5(encode(t, 'UTF-8')), 1, 15),
                         16, 10) AS BIGINT))
        """
    )


def simhash_bits(hashes_col: str) -> Column:
    """60-bit SimHash of the token-hash array column ``hashes_col``:
    each token votes +1 or -1 on every bit, and a bit is set where its
    vote sum is positive. The one fingerprint definition, shared by
    ``simhash`` (batch) and ``streaming/runtime.py:
    fingerprint_dedup_stream``."""
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              {hashes_col},
              array_repeat(CAST(0 AS BIGINT), 60),
              (acc, h) -> zip_with(
                  acc, sequence(0, 59),
                  (a, b) -> a + CASE WHEN (h >> b) & 1 = 1
                                 THEN CAST(1 AS BIGINT)
                                 ELSE CAST(-1 AS BIGINT) END)),
            sequence(0, 59),
            (v, b) -> CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b
                           ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (acc, x) -> acc + x)
        """
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash fingerprint, fully declarative — and a pure
    projection: the bit-vote fold runs over the in-row token-hash array
    (``aggregate`` + ``zip_with``), so a 100 TB fingerprint pass is one
    parquet scan with ZERO shuffles (the earlier explode+groupBy form
    shuffled every token). Zero-token docs are dropped (parity with the
    unnest-based oracle SQL).
    """
    return (
        scatter(df)
        .withColumn("hs", token_hashes(text_col))
        .filter(F.size("hs") > 0)
        .select(id_col, simhash_bits("hs").alias("simhash"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    band_bits: int = 15,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs at scale: band the fingerprint into
    ``bands`` x ``band_bits``-bit keys, equi-join docs sharing any band
    (near-dups differ in few bits, so by pigeonhole they agree on at
    least one band whenever hamming < bands), then verify with exact
    ``bit_count(xor)``. No all-pairs comparison ever materializes; the
    join keys are (band, 15-bit int) — tiny shuffle payloads.
    """
    # fingerprints are (id, long) but cost an md5 per token to derive;
    # self-join recomputes lineage per side → materialize once
    sh = track_persist(simhash(df, id_col, text_col))
    return simhash_band_pairs_from_hashes(
        sh, bands, band_bits, max_hamming, id_col=id_col
    )


def simhash_band_pairs_from_hashes(
    sh: DataFrame,
    bands: int = 4,
    band_bits: int = 15,
    max_hamming: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band-join + exact verify over a precomputed ``(id, simhash)``
    frame — the candidate stage of ``simhash_near_dup_pairs``, exposed
    so the pigeonhole-recall guarantee (hamming <= bands-1 pairs MUST
    share a band) is testable on controlled fingerprints."""
    mask = (1 << band_bits) - 1
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    a, b_ = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    prefer_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → surviving CANONICAL documents: the keep-one-
    per-group decision that completes a corpus dedup (pairs → groups →
    pick one representative, drop the rest).

    Selection rule: within each connected-component group, keep the
    member with the largest ``prefer_col`` (e.g. length or an integer
    quality score), tiebreak smallest id — both via one ``max_by`` on a
    struct, so the pick is a single groupBy with map-side partials and
    is engine-deterministic as long as ``prefer_col`` is integral
    (float preference keys would reintroduce ulp-order hazards; cast
    quality scores to integer milli-units first).

    Docs in no pair survive by definition and never enter the group
    machinery: the group table is pair-graph-sized (≪ corpus), the
    non-dup complement is a broadcast LEFT ANTI against it, and the
    winners' ids broadcast back as a LEFT SEMI — the corpus is scanned
    twice but shuffled never.
    """
    from pyspark.sql.functions import broadcast

    groups = dedup_groups(pairs, id_a=id_a, id_b=id_b)
    ranked = docs.join(
        broadcast(groups), docs[id_col] == groups["doc_id"], "inner"
    ).select(
        groups["group_id"],
        docs[id_col].alias("_cid"),
        F.col(prefer_col).alias("_pref"),
    )
    winners = ranked.groupBy("group_id").agg(
        F.max_by(
            F.col("_cid"), F.struct(F.col("_pref"), -F.col("_cid"))
        ).alias("_win")
    )
    survivors_in_groups = docs.join(
        broadcast(winners.select(F.col("_win").alias(id_col))),
        id_col,
        "left_semi",
    )
    untouched = docs.join(
        broadcast(groups.select(F.col("doc_id").alias(id_col))),
        id_col,
        "left_anti",
    )
    return untouched.unionByName(survivors_in_groups)


def shared_ngram_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 6,
    df_cap: int = 100,
) -> DataFrame:
    """Exact-substring duplication signal: document pairs sharing at
    least one exact ``ngram_n``-token run — the cheap distributed form
    of suffix-array exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", public): a shared
    long token run IS a shared substring of ≥ n tokens.

    Scale shape (one corpus shuffle, no self-join): distinct
    (doc, gram) explode → ONE groupBy on the gram collecting the
    bounded member list → in-row pair expansion. Grams in more than
    ``df_cap`` documents are dropped (boilerplate guard — a ubiquitous
    run would expand quadratically and signals template text, not
    duplication; the cap bounds per-gram work at cap²/2). Grams in
    only one doc expand to nothing. The final distinct runs on the
    pair-graph-sized output, not the corpus.
    """
    # scatter first: the shingle scan is CPU-bound per-row work, and a
    # single-row-group input otherwise fuses ALL of it into a 1-task
    # scan stage (r17 jobprobe: 3.4s on one core of 32 at sf0.1) —
    # the same treatment every other gram scan in this module applies;
    # no-op once the input already has enough partitions (100 TB)
    grams = scatter(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(shingles(F.col(text_col), ngram_n))
        ).alias("gram"),
    )
    members = (
        grams.groupBy("gram")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= F.lit(df_cap))
        )
    )
    # i<j pair expansion over the (sorted, ≤df_cap) member list as two
    # codegen-able Generates — posexplode picks the lesser member, the
    # sliced explode its greater partners. NOT a nested in-row
    # transform: higher-order lambdas evaluate interpreted (PERF §23),
    # and at df_cap=100 that put up to ~5000 interpreted struct
    # constructions in a single hot row (PERF §43's finding, applied
    # here the same round)
    heads = members.select(
        F.col("ids"), F.posexplode("ids").alias("__i", "id_a")
    ).filter(F.size("ids") > F.col("__i") + 1)
    return (
        heads.select(
            F.col("id_a"),
            F.explode(
                F.slice(
                    F.col("ids"), F.col("__i") + F.lit(2), F.size("ids")
                )
            ).alias("id_b"),
        )
        .distinct()
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_edit: int,
) -> DataFrame:
    """Blocked record linkage: candidate pairs from an EXACT equi-join
    on the blocking keys, verified by Levenshtein edit distance — the
    classic entity-resolution shape (block, then compare) applied the
    same way every pair family here is: candidate generation is always
    an equi-join on compact keys, NEVER all-pairs (plan-gated no
    CartesianProduct/BroadcastNestedLoopJoin).

    Blocking keys bound the comparison budget: with blocks of size b,
    a block contributes b(b-1)/2 distance evaluations instead of the
    corpus-quadratic; choose keys the way LSH bands are chosen
    (high recall for true matches — a match outside every block is
    never seen, which is the standard blocking trade-off, not a bug of
    the lowering). ``levenshtein`` is Spark's built-in JVM
    implementation (exact integer edit distance; DuckDB's agrees
    symbol for symbol, so the oracle gates it).

    Emits (id_a, id_b, edit_dist) with id_a < id_b.
    """
    blocks = [F.col(c) for c in block_cols]
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(name_col).alias("name_a"), *blocks
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(name_col).alias("name_b"), *blocks
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, list(block_cols))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= max_edit)
        .select("id_a", "id_b", "edit_dist")
    )
