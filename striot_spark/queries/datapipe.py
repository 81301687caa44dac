"""Training-data-pipeline queries: text analysis, dedup, fingerprinting,
similarity search, multimodal plumbing — over the ``documents`` and
``embeddings`` tables. Every hash derives from md5 so the DuckDB oracle
computes identical values (functions/text.py:md5_hash64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from striot_spark.tempdirs import striot_mkdtemp
from striot_spark.functions import dedup as D
from striot_spark.functions import sampling as SAMP
from striot_spark.functions import similarity as SIM
from striot_spark.functions import text as T
from striot_spark.functions.multimodal import extract_media_meta, to_media
from striot_spark.queries.registry import register
from striot_spark.sources.batch import load_table

# md5 hash-bucket expression shared by the sampling/split oracles
_HB_MIX = "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000"

H64 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
NTOK = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
STOP_EN = "('the','a','of','and','to','in','is','it','for','on')"


@register(
    "q21_text_stats",
    f"""
    SELECT doc_id,
           {NTOK} AS n_tokens,
           length(text) AS n_chars,
           length(replace(text, ' ', '')) / {NTOK} AS avg_token_len,
           len(list_filter(string_split(text, ' '), x -> x IN {STOP_EN}))
               / {NTOK} AS stop_ratio
    FROM documents
    """,
    doc="token counting + quality ratios as pure projections — a "
    "document-quality pass is one parquet scan (no Python)",
)
def q21_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n = T.token_count(text)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length(text).alias("n_chars"),
        (T.char_count_no_spaces(text) / n).alias("avg_token_len"),
        (T.stopword_hits(text) / n).alias("stop_ratio"),
    )


def _lang_sql() -> str:
    hits = {
        lang: f"len(list_filter(string_split(text,' '), x -> x IN "
        f"({', '.join(repr(w) for w in words)})))"
        for lang, words in T.LANG_MARKERS.items()
    }
    best = f"greatest({hits['en']}, {hits['es']}, {hits['de']}, {hits['fr']})"
    case = " ".join(
        f"WHEN {hits[lang]} = best AND best > 0 THEN '{lang}'"
        for lang in sorted(T.LANG_MARKERS)
    )
    return f"""
    SELECT doc_id, lang, CASE {case} ELSE 'und' END AS predicted_lang
    FROM (SELECT doc_id, lang, text, {best} AS best FROM documents) t
    """


@register(
    "q22_lang_id",
    _lang_sql(),
    doc="language-ID heuristic: stopword-marker hits per language, "
    "deterministic tie-break — declarative, scan-speed",
)
def q22_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", T.predict_lang(F.col("text")).alias("predicted_lang")
    )


@register(
    "q23_dedup_exact",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dupes
    FROM documents GROUP BY md5(text)
    """,
    doc="exact dedup: digest groupBy — 16-byte keys shuffle, never bodies",
)
def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "doc_id", "text")


@register(
    "q24_doc_fingerprint",
    f"""
    SELECT doc_id,
           CAST(sum({H64.format(x='token')} % 1000000007) % 1000000007
                AS BIGINT) AS fingerprint,
           count(*) AS n_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents) t
    WHERE token <> ''
    GROUP BY doc_id
    """,
    doc="bag-of-tokens document fingerprint mod p — order-insensitive, "
    "exact under distributed aggregation",
)
def q24_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.doc_fingerprint(docs, "doc_id", "text")


def _minhash_sql(num_hashes: int = 4) -> str:
    base = f"{H64.format(x='shingle')} % 2147483647"
    mins = ", ".join(
        f"min(({a} * ({base}) + {b}) % 2147483647) AS mh{i}"
        for i, (a, b) in enumerate(D.MINHASH_COEFFS[:num_hashes])
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    sh AS (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS shingle FROM idx)
    SELECT doc_id, {mins} FROM sh GROUP BY doc_id
    """


@register(
    "q25_minhash_signatures",
    _minhash_sql(),
    doc="MinHash signatures over 2-gram shingles (Carter-Wegman affine "
    "family over md5 base hash): map-side-combinable min() aggregates",
)
def q25_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, "doc_id", "text", num_hashes=4, shingle_n=2)


@register(
    "q26_simhash",
    f"""
    WITH toks AS (
        SELECT doc_id, {H64.format(x='token')} AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents) t
        WHERE token <> ''),
    votes AS (
        SELECT doc_id, i,
               sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM toks, range(0, 60) r(i)
        GROUP BY doc_id, i)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
    doc="SimHash 60-bit fingerprint, fully declarative bit-vote "
    "(two narrow map-side-combinable shuffles)",
)
def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text")


@register(
    "q27_ann_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT query_id, vec_id, cos, rnk FROM (
        SELECT 0 AS query_id, e.vec_id,
               round(list_dot_product(e.v, qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(qv, qv))), 6) AS cos,
               row_number() OVER (
                   ORDER BY round(list_dot_product(e.v, qv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(qv, qv))), 6) DESC,
                            e.vec_id ASC) AS rnk
        FROM e, q WHERE e.vec_id <> 0) t
    WHERE rnk <= 10
    """,
    doc="brute-force cosine top-k: broadcast query side, JVM fold dot "
    "product, deterministic rank (baseline for the LSH ANN path)",
)
def q27_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") != 0)
    return SIM.brute_force_topk(base, query, k=10)


@register(
    "q28_multimodal_meta",
    f"""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS digest,
           CAST(16 + {H64.format(x='text')} % 1024 AS BIGINT) AS width,
           CAST(16 + ({H64.format(x='text')} // 1024) % 1024 AS BIGINT)
               AS height
    FROM documents
    """,
    doc="multimodal plumbing: binary payload column → mapInPandas "
    "(Arrow-batched) metadata extraction; codec stubbed deterministically "
    "(functions/multimodal.py:decode_stub)",
)
def q28_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = to_media(docs, "doc_id", "text")
    return extract_media_meta(media)


@register(
    "q37_ann_ivf",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT label AS qlabel, v AS qv FROM e WHERE vec_id = 0)
    SELECT query_id, vec_id, cos, rnk FROM (
        SELECT 0 AS query_id, e.vec_id,
               round(list_dot_product(e.v, qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(qv, qv))), 6) AS cos,
               row_number() OVER (
                   ORDER BY round(list_dot_product(e.v, qv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(qv, qv))), 6) DESC,
                            e.vec_id ASC) AS rnk
        FROM e, q WHERE e.label = qlabel AND e.vec_id <> 0) t
    WHERE rnk <= 5
    """,
    doc="IVF-style ANN: probe only the query's coarse partition (label "
    "= inverted-file cell); base table partition-prunable, query side "
    "broadcast — the scale path next to the q27 brute-force baseline",
)
def q37_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"), "label", "embedding"
    )
    base = emb.filter(F.col("vec_id") != 0)
    return SIM.ivf_topk(base, query, k=5)


@register(
    "q38_quality_class",
    f"""
    SELECT doc_id, n_tokens, stop_ratio,
           CASE WHEN n_tokens >= 20 AND n_tokens <= 10000
                     AND stop_ratio >= 0.05 THEN 'keep'
                WHEN n_tokens >= 5 THEN 'review'
                ELSE 'drop' END AS quality_class
    FROM (
        SELECT doc_id,
               {NTOK} AS n_tokens,
               len(list_filter(string_split(text, ' '), x -> x IN {STOP_EN}))
                   / {NTOK} AS stop_ratio
        FROM documents) t
    """,
    doc="quality-gating classifier over token/stopword stats — the "
    "keep/review/drop pass of a training-data pipeline, pure projections",
)
def q38_quality_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n = T.token_count(text)
    ratio = T.stopword_hits(text) / n
    out = docs.select(
        "doc_id", n.alias("n_tokens"), ratio.alias("stop_ratio")
    )
    cls = (
        F.when(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 10000)
            & (F.col("stop_ratio") >= 0.05),
            F.lit("keep"),
        )
        .when(F.col("n_tokens") >= 5, F.lit("review"))
        .otherwise(F.lit("drop"))
    )
    return out.withColumn("quality_class", cls)


@register(
    "q42_embedding_near_dups",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
    """,
    doc="embedding-cosine near-dup pairs: within-cell (IVF label) "
    "self-join + JVM fold cosine — candidate generation is one equi-join "
    "shuffle on the cell id, never all-pairs",
)
def q42_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_near_dup_pairs(emb, threshold=0.35)


@register(
    "q43_rolling_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       list_filter(string_split(text, ' '), x -> x <> ''),
                       t -> ({H64.format(x='t')}) % 1000000007)),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp,
           CAST({NTOK} AS BIGINT) AS n_tokens
    FROM documents
    """,
    doc="order-SENSITIVE Rabin-Karp rolling fingerprint: polynomial fold "
    "over the in-row token array — pure projection, zero shuffles at any "
    "scale (complements the order-insensitive bag fingerprint q24)",
)
def q43_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.rolling_fingerprint(docs, "doc_id", "text")


@register(
    "q44_bpe_token_stats",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{T.BPE_REGEX}')) AS n_bpe_tokens,
           {NTOK} AS n_ws_tokens,
           length(text)
               / greatest(len(regexp_extract_all(text, '{T.BPE_REGEX}')), 1)
               AS chars_per_bpe_token
    FROM documents
    """,
    doc="BPE-ish regex tokenizer (letter runs / <=3-digit number chunks "
    "/ single marks) vs whitespace token counts — regexp_extract_all "
    "JVM-side, the token-budget pass of a training-data pipeline",
)
def q44_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_bpe = T.bpe_token_count(text)
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        T.token_count(text).alias("n_ws_tokens"),
        (F.length(text) / F.greatest(n_bpe, F.lit(1))).alias(
            "chars_per_bpe_token"
        ),
    )


def _simhash_sql_cte() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {H64.format(x='token')} AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents) t
        WHERE token <> ''),
    votes AS (
        SELECT doc_id, i,
               sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM toks, range(0, 60) r(i)
        GROUP BY doc_id, i),
    sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id)
    """

def _cc_sql_cte() -> str:
    """Shared oracle prefix of every connected-components query (q74,
    q104, q129, q186, q187, q188): the q45 simhash pair graph plus the
    recursive transitive closure, ending at the ``reach`` CTE so
    callers append their own final SELECT (or a ``comp`` CTE)."""
    return (
        _simhash_sql_cte().replace("WITH toks", "WITH RECURSIVE toks", 1)
        + """,
    p AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a, sh b, range(0, 4) r(band)
        WHERE a.doc_id < b.doc_id
          AND ((a.simhash >> (band * 15)) & 32767)
              = ((b.simhash >> (band * 15)) & 32767)
          AND bit_count(xor(a.simhash, b.simhash)) <= 8),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM p
        UNION SELECT id_b, id_a FROM p),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)"""
    )




@register(
    "q45_simhash_near_dups",
    _simhash_sql_cte()
    + """
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a, sh b, range(0, 4) r(band)
    WHERE a.doc_id < b.doc_id
      AND ((a.simhash >> (band * 15)) & 32767)
          = ((b.simhash >> (band * 15)) & 32767)
      AND bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
    doc="SimHash near-dup pairs: 4x15-bit band equi-join (pigeonhole "
    "recall for hamming < 4, catches most <=8) + exact bit_count(xor) "
    "verify — join keys are 15-bit ints, no all-pairs compare",
)
def q45_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )


# shared by q74 and q129 (two lowerings of one answer)
DEDUP_GROUPS_ORACLE = _cc_sql_cte() + """
    SELECT u AS doc_id, least(u, min(v)) AS group_id
    FROM reach GROUP BY u
    """


@register(
    "q74_dedup_groups",
    DEDUP_GROUPS_ORACLE,
    doc="near-dup pairs (q45's simhash graph) -> dedup groups via "
    "connected components: min-label propagation, one edge-label "
    "equi-join + one min groupBy per round, O(component diameter) "
    "rounds, convergence checked by a monotone sum aggregate; group_id "
    "= smallest doc id in the component (engine-deterministic). The "
    "oracle computes the same components with a recursive "
    "transitive-closure CTE (feasible at test scale)",
)
def q74_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )
    return D.dedup_groups(pairs)


@register(
    "q75_vocab_encode",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    freq AS (
        SELECT tok, count(*) AS tf
        FROM (SELECT unnest(tk) AS tok FROM toks) t GROUP BY tok),
    v AS (
        SELECT tok,
               CAST(row_number() OVER (ORDER BY tf DESC, tok ASC) AS BIGINT)
                   - 1 AS token_id
        FROM freq
        QUALIFY row_number() OVER (ORDER BY tf DESC, tok ASC) <= 50),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks),
    e AS (
        SELECT doc_id, i, CAST(coalesce(v.token_id, -1) AS BIGINT) AS tid
        FROM idx LEFT JOIN v ON tk[i] = v.tok)
    SELECT doc_id,
           string_agg(tid::VARCHAR, ' ' ORDER BY i) AS ids_str,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
    FROM e GROUP BY doc_id
    """,
    doc="vocabulary build (top-50 by frequency, rank 0 = most frequent) "
    "+ order-preserving integer encoding of every document with OOV=-1: "
    "the tokenize-to-ids pass feeding sequence packing. The vocab "
    "inlines as a MapType literal, so the corpus encode is a ZERO-JOIN "
    "zero-shuffle projection (streamMapCache pattern); ids emitted "
    "space-joined for cross-engine hash comparison",
)
def q75_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = T.build_vocab(docs, "text", vocab_size=50)
    enc = T.encode_documents(docs, "doc_id", "text", vocab, oov_id=-1)
    return enc.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        F.array_join(
            F.transform(F.col("token_ids"), lambda t: t.cast("string")), " "
        ).alias("ids_str"),
        "n_tokens",
        F.size(
            F.filter(F.col("token_ids"), lambda t: t == F.lit(-1))
        ).cast("long").alias("n_oov"),
    )


@register(
    "q76_split_assign",
    f"""
    SELECT doc_id,
           CASE WHEN {_HB_MIX} < 8000 THEN 'train'
                WHEN {_HB_MIX} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="deterministic train/val/test assignment (80/10/10) from the "
    "md5 id-bucket: pure projection, no leakage path — membership "
    "depends only on the id, never on partitioning or row order",
)
def q76_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


def _random_projection_sql(dim: int = 64, out_dim: int = 4, seed: int = 7) -> str:
    from striot_spark.functions.similarity import _hyperplane

    comps = ", ".join(
        "round(list_dot_product(v, ["
        + ", ".join(repr(c) for c in _hyperplane(dim, seed + p))
        + f"]), 6) AS p{p}"
        for p in range(out_dim)
    )
    return f"""
    SELECT vec_id, {comps}
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
    """


@register(
    "q77_random_projection",
    _random_projection_sql(),
    doc="Johnson-Lindenstrauss random projection 64d -> 4d: "
    "deterministic integer-recurrence directions inlined as plan "
    "literals, one sequential-fold dot product per output dim — "
    "zero-shuffle single-scan dimensionality reduction, the standard "
    "pre-step before ANN indexing",
)
def q77_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj = SIM.random_projection(
        emb, "vec_id", "embedding", in_dim=64, out_dim=4, seed=7
    )
    return proj.select(
        "vec_id",
        *[
            F.round(F.col("projected")[p], 6).alias(f"p{p}")
            for p in range(4)
        ],
    )


def _lsh_near_dup_sql() -> str:
    """DuckDB oracle for the full MinHash-LSH near-dup pipeline:
    bigram shingles → 6 md5-derived minhashes → 3 bands of 2 →
    band-bucket join → signature-agreement prefilter (>= 0.5) →
    exact shingle-set Jaccard verify (>= 0.7). Mirrors
    functions/dedup.py:lsh_candidate_pairs + ngram_jaccard_pairs."""
    from striot_spark.functions.dedup import MERSENNE_P, MINHASH_COEFFS

    p = MERSENNE_P
    mins = ", ".join(
        f"min(({a} * h + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_case = (
        "CASE band WHEN 0 THEN mh0::VARCHAR || '_' || mh1::VARCHAR "
        "WHEN 1 THEN mh2::VARCHAR || '_' || mh3::VARCHAR "
        "ELSE mh4::VARCHAR || '_' || mh5::VARCHAR END"
    )
    agree = " + ".join(f"(a.mh{i} = b.mh{i})::INT" for i in range(6))
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    sh AS (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS shingle FROM idx),
    hb AS (
        SELECT doc_id, shingle,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h
        FROM sh),
    sigs AS (
        SELECT doc_id, {mins} FROM hb GROUP BY doc_id),
    banded AS (
        SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, band,
               {band_case} AS sig
        FROM sigs, range(0, 3) r(band)),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        WHERE ({agree}) / 6.0 >= 0.5),
    sets_ AS (
        SELECT doc_id, list_distinct(list(shingle)) AS sset
        FROM sh GROUP BY doc_id)
    SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.sset, sb.sset))
               / len(list_distinct(list_concat(sa.sset, sb.sset))) AS jaccard
        FROM cands c
        JOIN sets_ sa ON sa.doc_id = c.id_a
        JOIN sets_ sb ON sb.doc_id = c.id_b) t
    WHERE jaccard >= 0.7
    """


@register(
    "q29_lsh_near_dups",
    _lsh_near_dup_sql(),
    doc="MinHash-LSH banding → candidate pairs → exact shingle-Jaccard "
    "verification (threshold 0.7); no all-pairs compare materializes",
)
def q29_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.lsh_near_dup_pairs(docs, "doc_id", "text", threshold=0.7)


@register(
    "q68_prefix_jaccard_pairs",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    sh AS (
        SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i + 1] AS shingle FROM idx),
    sets_ AS (
        SELECT doc_id, list_distinct(list(shingle)) AS sset
        FROM sh GROUP BY doc_id),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               len(list_intersect(sa.sset, sb.sset))
               / len(list_distinct(list_concat(sa.sset, sb.sset))) AS jaccard
        FROM cands c
        JOIN sets_ sa ON sa.doc_id = c.id_a
        JOIN sets_ sb ON sb.doc_id = c.id_b) t
    WHERE jaccard >= 0.7
    """,
    doc="EXACT n-gram-Jaccard near-dup join via prefix filtering "
    "(AllPairs/PPJoin): rarest-first global shingle order, prefix of "
    "size s-ceil(t*s)+1, candidates from the prefix-token equi-join + "
    "size filter, exact verify on candidates only. Same >=0.7 output "
    "as an all-pairs compare, never an all-pairs plan; the oracle uses "
    "a full inverted index (exact for t>0, feasible only at test scale)",
)
def q68_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_filter_jaccard_pairs(docs, "doc_id", "text", threshold=0.7)


@register(
    "q69_contamination_check",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks),
    g AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM idx),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, count(*) AS n_collisions
    FROM tr JOIN ev USING (gram)
    GROUP BY tr.doc_id
    """,
    doc="benchmark-contamination check: train docs sharing any 5-gram "
    "with the (broadcast) eval split — one corpus scan + broadcast "
    "semi-join + one id groupBy; the corpus never shuffles by n-gram",
)
def q69_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return D.contamination_check(train, eval_df, "doc_id", "text", ngram_n=5)


def _cross_corpus_near_dup_sql(split_mod: int = 20) -> str:
    """DuckDB oracle for the cross-corpus MinHash-LSH near-dup join:
    identical hash machinery to ``_lsh_near_dup_sql`` (bigram shingles →
    6 md5-derived minhashes → 3 bands of 2 → agreement >= 0.5 → exact
    Jaccard >= 0.7), but candidates pair a train doc
    (``doc_id % {split_mod} <> 0``) with an eval doc (``= 0``), never
    two docs of the same side."""
    from striot_spark.functions.dedup import MERSENNE_P, MINHASH_COEFFS

    p = MERSENNE_P
    mins = ", ".join(
        f"min(({a} * h + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_case = (
        "CASE band WHEN 0 THEN mh0::VARCHAR || '_' || mh1::VARCHAR "
        "WHEN 1 THEN mh2::VARCHAR || '_' || mh3::VARCHAR "
        "ELSE mh4::VARCHAR || '_' || mh5::VARCHAR END"
    )
    agree = " + ".join(f"(a.mh{i} = b.mh{i})::INT" for i in range(6))
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    sh AS (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS shingle FROM idx),
    hb AS (
        SELECT doc_id, shingle,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h
        FROM sh),
    sigs AS (
        SELECT doc_id, {mins} FROM hb GROUP BY doc_id),
    banded AS (
        SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, band,
               {band_case} AS sig
        FROM sigs, range(0, 3) r(band)),
    cands AS (
        SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id % {split_mod} <> 0 AND b.doc_id % {split_mod} = 0
          AND ({agree}) / 6.0 >= 0.5),
    sets_ AS (
        SELECT doc_id, list_distinct(list(shingle)) AS sset
        FROM sh GROUP BY doc_id)
    SELECT train_id, eval_id, jaccard FROM (
        SELECT c.train_id, c.eval_id,
               len(list_intersect(sa.sset, sb.sset))
               / len(list_distinct(list_concat(sa.sset, sb.sset))) AS jaccard
        FROM cands c
        JOIN sets_ sa ON sa.doc_id = c.train_id
        JOIN sets_ sb ON sb.doc_id = c.eval_id) t
    WHERE jaccard >= 0.7
    """


@register(
    "q94_cross_corpus_near_dups",
    _cross_corpus_near_dup_sql(),
    doc="cross-corpus near-dup decontamination at pair granularity: "
    "MinHash-LSH band join BETWEEN the train split (doc_id % 20 != 0) "
    "and the eval split (== 0) — the eval side is broadcast, the train "
    "bodies are scanned once and never shuffled; exact shingle-Jaccard "
    "verify on candidates only",
)
def q94_cross_corpus_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.cross_corpus_near_dup_pairs(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        "doc_id",
        "text",
        threshold=0.7,
    )


@register(
    "q95_contamination_scores",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks),
    g AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM idx),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, count(*) AS n_grams,
           count(ev.gram) AS n_collisions,
           count(ev.gram) / count(*) AS score
    FROM tr LEFT JOIN ev USING (gram)
    GROUP BY tr.doc_id
    """,
    doc="per-document contamination fraction (the decontam keep/drop "
    "filter granularity; q69 reports colliding docs only): broadcast "
    "eval 5-gram set, one corpus scan, broadcast left join + one "
    "groupBy(doc_id) — the corpus never shuffles by n-gram",
)
def q95_contamination_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.contamination_scores(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        "doc_id",
        "text",
        ngram_n=5,
    )


@register(
    "q70_repetition_stats",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
    b AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS g FROM idx),
    s AS (SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT g) AS n_unique
          FROM b GROUP BY doc_id)
    SELECT doc_id, n_ngrams, n_unique,
           (n_ngrams - n_unique) / n_ngrams AS dup_ratio
    FROM s WHERE n_ngrams > 0
    """,
    doc="intra-doc repetition quality signal (Gopher/MassiveText-style "
    "duplicate-n-gram ratio): zero-shuffle projection over the in-row "
    "bigram array",
)
def q70_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.repetition_stats(docs, "doc_id", "text", ngram_n=2)


@register(
    "q99_corpus_pipeline",
    """
    WITH train AS (
        SELECT doc_id, text, lang, n_chars FROM documents
        WHERE doc_id % 97 <> 0 AND n_chars >= 50),
    keep AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY md5(text)),
    t2 AS (SELECT t.* FROM train t JOIN keep USING (doc_id)),
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                   AS tk
        FROM t2),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks),
    g AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM idx),
    etoks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                   AS tk
        FROM documents WHERE doc_id % 97 = 0),
    eidx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM etoks),
    ev AS (
        SELECT DISTINCT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM eidx),
    contaminated AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)),
    t3 AS (SELECT * FROM t2
           WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
    SELECT doc_id, lang, n_chars FROM t3
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 <
          CASE lang WHEN 'en' THEN 9000 ELSE 5000 END
    """,
    doc="END-TO-END corpus build composing the pipeline operators under "
    "ONE oracle: length floor (metadata filter) -> exact dedup "
    "(16-byte digest groupBy + semi-join, bodies never shuffle) -> "
    "benchmark decontamination (broadcast eval 5-gram set, anti-join) "
    "-> deterministic per-lang hash sampling (zero-shuffle filter). "
    "Every stage is the registered operator, not a reimplementation — "
    "the composability claim of the whole library, driver-verified",
)
def q99_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(
        (F.col("doc_id") % 97 != 0) & (F.col("n_chars") >= 50)
    )
    kept = D.exact_dedup(train, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    deduped = train.join(kept, "doc_id", "left_semi")
    contaminated = D.contamination_check(
        deduped, eval_df, "doc_id", "text", ngram_n=5
    ).select("doc_id")
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    sampled = SAMP.hash_sample(
        clean, "doc_id", strata_col="lang", rates={"en": 0.9},
        default_rate=0.5,
    )
    return sampled.select("doc_id", "lang", "n_chars")


_MIX_WEIGHTS = {"en": 400, "zh": 150, "es": 150, "de": 150, "fr": 150}


@register(
    "q71_corpus_mix",
    f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w(lang, wt) AS (VALUES ('de', 150), ('en', 400), ('es', 150),
                           ('fr', 150), ('zh', 150)),
    j AS (SELECT c.lang, c.n, w.wt FROM c JOIN w USING (lang)),
    nn AS (SELECT min(n * 1000 // wt) AS nout FROM j),
    th AS (SELECT lang, ((SELECT nout FROM nn) * wt // 1000) * 10000 // n
                      AS thr FROM j)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN th USING (lang)
    WHERE {_HB_MIX} < thr
    """,
    doc="corpus mixing: resample to a target language mix (40% en / "
    "15% each of 4 others) without up-sampling — per-stratum counts to "
    "the driver (k rows, scale-invariant), then the same deterministic "
    "md5-bucket rate filter as q51; all-integer threshold arithmetic "
    "reproduces the exact member set in any engine",
)
def q71_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.corpus_mix(docs, "doc_id", "lang", _MIX_WEIGHTS).select(
        "doc_id", "lang", "source"
    )


def _lsh_ann_sql(dim: int = 64, n_planes: int = 6, k: int = 5) -> str:
    from striot_spark.functions.similarity import _hyperplane

    planes = [
        "[" + ", ".join(repr(c) for c in _hyperplane(dim, 42 + p)) + "]"
        for p in range(n_planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {pl}) >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        for p, pl in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT query_id, vec_id, cos, rnk FROM (
        SELECT 0 AS query_id, b.vec_id,
               round(list_dot_product(b.v, qv)
                     / (sqrt(list_dot_product(b.v, b.v))
                        * sqrt(list_dot_product(qv, qv))), 6) AS cos,
               row_number() OVER (
                   ORDER BY round(list_dot_product(b.v, qv)
                            / (sqrt(list_dot_product(b.v, b.v))
                               * sqrt(list_dot_product(qv, qv))), 6) DESC,
                            b.vec_id ASC) AS rnk
        FROM b, q WHERE b.bucket = qbucket AND b.vec_id <> 0) t
    WHERE rnk <= {k}
    """


@register(
    "q48_ann_lsh",
    _lsh_ann_sql(),
    doc="hyperplane-LSH ANN: deterministic sign-bit buckets (seeded "
    "integer arithmetic, reproducible in any engine) prune the scored "
    "set ~2^planes; equi-join on the bucket id, query side broadcast",
)
def q48_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") != 0)
    return SIM.lsh_topk(base, query, dim=64, k=5, n_planes=6)


_HB = "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000"


@register(
    "q51_stratified_sample",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_HB} < CASE source WHEN 'src1' THEN 5000
                              WHEN 'src7' THEN 2500 ELSE 1000 END
    """,
    doc="deterministic hash-bucket stratified sampling (per-source keep "
    "rates): pure projection + filter, ZERO shuffles at any scale; "
    "membership is stable across runs/engines/partitionings and nested "
    "samples compose — the reproducibility contract corpus builds need",
)
def q51_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.hash_sample(
        docs,
        "doc_id",
        strata_col="source",
        rates={"src1": 0.5, "src7": 0.25},
        default_rate=0.1,
    ).select("doc_id", "lang", "source")


@register(
    "q52_reservoir_per_lang",
    f"""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_HB} ASC, doc_id ASC) AS rn
        FROM documents) t
    WHERE rn <= 5
    """,
    doc="deterministic per-stratum reservoir: exactly n smallest "
    "id-hashes per language — one shuffle on the stratum key; for huge "
    "strata use hash_sample(rate=n/N) instead (documented trade-off)",
)
def q52_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.reservoir_sample(docs, "doc_id", "lang", 5).select(
        "doc_id", "lang", "source"
    )


@register(
    "q57_chunk_documents",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    n AS (
        SELECT doc_id, tk,
               greatest(1, CAST(ceil((len(tk) - 16) / 48.0) AS BIGINT)) AS m
        FROM toks),
    c AS (
        SELECT doc_id, tk, unnest(range(0, m)) AS chunk_idx FROM n)
    SELECT doc_id, chunk_idx,
           array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
               AS chunk_text,
           len(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS n_tokens
    FROM c
    """,
    doc="context-window chunking with overlap (64-token chunks, stride "
    "48): sequence/slice/explode — one scan, zero shuffles, zero "
    "Python; the LLM-corpus packing step",
)
def q57_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.chunk_documents(docs, "doc_id", "text", max_tokens=64, overlap=16)


@register(
    "q58_corpus_build",
    f"""
    WITH kept AS (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents),
    quality AS (
        SELECT doc_id, text,
               {NTOK} AS nt,
               len(list_filter(string_split(text, ' '),
                               x -> x IN {STOP_EN})) AS stops
        FROM kept WHERE rn = 1),
    gated AS (
        SELECT doc_id, text FROM quality
        WHERE nt >= 20 AND nt <= 10000 AND stops / nt >= 0.05),
    sampled AS (
        SELECT doc_id, text FROM gated
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
              % 10000 < 5000),
    toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM sampled),
    n AS (
        SELECT doc_id, tk,
               greatest(1, CAST(ceil((len(tk) - 16) / 48.0) AS BIGINT)) AS m
        FROM toks),
    c AS (
        SELECT doc_id, tk, unnest(range(0, m)) AS chunk_idx FROM n)
    SELECT doc_id, chunk_idx,
           array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
               AS chunk_text,
           len(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS n_tokens
    FROM c
    """,
    doc="end-to-end corpus build in ONE plan: exact dedup (keep first "
    "per digest) → quality gate (q38 'keep' rule) → deterministic 50% "
    "hash sample → 64-token chunks with overlap 16 — the full "
    "training-data pipeline; only the dedup step shuffles (16-byte "
    "digests), everything else is scan-local",
)
def q58_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # keep-first per digest as a struct-min aggregate: map-side partials
    # ship one winner per digest per task instead of sorting every
    # duplicate inside its digest partition (the canonical_docs max_by
    # pattern; same r13 finding as LPA's arg-max, PERF §42). doc_id is
    # placed FIRST in the struct explicitly — struct-min compares
    # field-by-field in struct order, and doc_id is unique, so the min
    # is the smallest-id row regardless of the parquet's on-disk column
    # order (ADVICE r13: `*docs.columns` silently changed the pick if
    # doc_id ever stopped being the leading file column).
    kept = (
        docs.groupBy(
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("__fp")
        )
        .agg(
            F.min(
                F.struct(
                    F.col("doc_id"),
                    *[F.col(c) for c in docs.columns if c != "doc_id"],
                )
            ).alias("__r")
        )
        .select("__r.*")
        .select(*docs.columns)
    )
    n = T.token_count(F.col("text"))
    gated = kept.filter(
        (n >= 20)
        & (n <= 10000)
        & (T.stopword_hits(F.col("text")) / n >= 0.05)
    )
    sampled = SAMP.hash_sample(gated, "doc_id", rate=0.5)
    return T.chunk_documents(sampled, "doc_id", "text", max_tokens=64, overlap=16)


@register(
    "q62_sequence_pack",
    f"""
    SELECT doc_id, lang, n_tokens,
           CAST(floor(prev_cum / 256.0) AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, lang, {NTOK} AS n_tokens,
               coalesce(sum({NTOK}) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev_cum
        FROM documents)
    """,
    doc="sequence packing for training batches: deterministic first-fit "
    "of docs into 256-token packs per lang shard via a cumulative-sum "
    "window (functions/text.py:pack_sequences) — one shuffle on the "
    "shard key, pack overflows its budget by at most one doc; at scale "
    "the shard key is lang x hash bucket so no shard serializes",
)
def q62_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.text import pack_sequences
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", ["lang"], budget=256)


@register(
    "q63_nearest_centroid",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id < 8)
    SELECT vec_id, centroid_id, cos FROM (
        SELECT e.vec_id, c.centroid_id,
               round(list_dot_product(e.v, cv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cos,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_dot_product(e.v, cv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(cv, cv))), 6) DESC,
                            c.centroid_id ASC) AS rnk
        FROM e, c WHERE e.vec_id >= 8) t
    WHERE rnk = 1
    """,
    doc="nearest-centroid assignment (IVF coarse-quantizer build / "
    "k-means E-step): the k centroids are collected once and inlined "
    "as literal arrays, so assignment is a pure projection — one scan, "
    "zero joins/shuffles, k JVM fold dot-products per row, argmax via "
    "array_max over (cos, -cid) structs with deterministic ties",
)
def q63_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return SIM.nearest_centroid(
        emb.filter(F.col("vec_id") >= 8), cents
    )


@register(
    "q96_semantic_near_dups",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id < 8),
         a AS (
           SELECT vec_id, centroid_id, v FROM (
             SELECT e.vec_id, c.centroid_id, e.v,
                    row_number() OVER (
                        PARTITION BY e.vec_id
                        ORDER BY round(list_dot_product(e.v, cv)
                                 / (sqrt(list_dot_product(e.v, e.v))
                                    * sqrt(list_dot_product(cv, cv))), 6)
                                 DESC,
                                 c.centroid_id ASC) AS rnk
             FROM e, c WHERE e.vec_id >= 8) t
           WHERE rnk = 1)
    SELECT id_a, id_b, cos FROM (
        SELECT a1.vec_id AS id_a, a2.vec_id AS id_b,
               round(list_dot_product(a1.v, a2.v)
                     / (sqrt(list_dot_product(a1.v, a1.v))
                        * sqrt(list_dot_product(a2.v, a2.v))), 6) AS cos
        FROM a a1 JOIN a a2
          ON a1.centroid_id = a2.centroid_id AND a1.vec_id < a2.vec_id) t
    WHERE cos >= 0.4
    """,
    doc="SemDeDup-style semantic near-dup pairs: nearest-centroid cell "
    "assignment (zero-shuffle literal-centroid projection) then "
    "pairwise cosine WITHIN each cell only — k cells turn all-pairs "
    "O(n^2) into k*O((n/k)^2); one shuffle by cell id, equi-join "
    "pair-gen, never a corpus cartesian. Threshold 0.4 fits this "
    "synthetic corpus's near-random cosine range (real corpora ~0.95)",
)
def q96_semantic_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return SIM.semantic_near_dup_pairs(
        emb.filter(F.col("vec_id") >= 8), cents, threshold=0.4
    )


@register(
    "q64_kmeans_clusters",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c0 AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                      AS cid,
                  v AS cv
           FROM e
           QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
         a1 AS (
           SELECT vec_id, cid, v FROM (
               SELECT e.vec_id, c0.cid, e.v,
                      row_number() OVER (
                          PARTITION BY e.vec_id
                          ORDER BY round(list_dot_product(e.v, cv)
                                   / (sqrt(list_dot_product(e.v, e.v))
                                      * sqrt(list_dot_product(cv, cv))),
                                   6) DESC,
                                   c0.cid ASC) AS rnk
               FROM e, c0) t
           WHERE rnk = 1),
         m AS (
           SELECT cid, p,
                  CAST(sum(CAST(floor(v[p] * 1000000 + 0.5) AS BIGINT))
                       AS DOUBLE) / count(*) AS comp
           FROM a1 CROSS JOIN range(1, 65) t(p)
           GROUP BY cid, p),
         mc AS (SELECT cid, list(comp ORDER BY p) AS cv FROM m GROUP BY cid),
         -- a centroid that lost every point keeps its init position
         -- (kmeans keeps empty clusters at their previous coordinates;
         -- dropping them here would mis-assign the survivors' neighbors)
         c1 AS (SELECT c0.cid, coalesce(mc.cv, c0.cv) AS cv
                FROM c0 LEFT JOIN mc USING (cid))
    SELECT vec_id, centroid_id, cos FROM (
        SELECT e.vec_id, c1.cid AS centroid_id,
               round(list_dot_product(e.v, c1.cv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(c1.cv, c1.cv))), 6) AS cos,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_dot_product(e.v, c1.cv)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(c1.cv, c1.cv))),
                            6) DESC,
                            c1.cid ASC) AS rnk
        FROM e, c1) t
    WHERE rnk = 1
    """,
    doc="spherical k-means (Lloyd's) building IVF cells from scratch: "
    "E-step is the zero-shuffle nearest_centroid projection fused into "
    "the M-step, whose per-dimension means are EXACT integer sums of "
    "1e-6-quantized coordinates (one shuffle, map-side combine, k x dim "
    "longs to the driver) — long addition commutes, so centroids are "
    "bit-identical under any partitioning/retry order and the full "
    "E->M->E iteration is reproduced by a DuckDB oracle (registered "
    "here as one Lloyd iteration so the driver hash-checks the real "
    "E/M machinery; multi-iteration convergence is unit-tested on "
    "synthetic blobs)",
)
def q64_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = SIM.kmeans(emb, k=8, max_iter=1)
    return assigned


@register(
    "q84_incremental_ingest_dedup",
    f"""
    WITH hist AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
    new AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
    seen AS (SELECT DISTINCT md5(text) AS fp FROM hist),
    survivors AS (
        SELECT n.doc_id, md5(n.text) AS fp FROM new n
        WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = md5(n.text))),
    -- also drop exact dups WITHIN the new batch (keep smallest id)
    kept AS (
        SELECT min(doc_id) AS doc_id, fp
        FROM survivors GROUP BY fp)
    SELECT doc_id, fp FROM kept
    """,
    doc="incremental corpus ingestion: a new batch deduped against the "
    "HISTORICAL corpus (digest anti-join — 16-byte keys shuffle, "
    "never bodies) and within itself (digest groupBy, keep smallest "
    "id). The daily-append shape: history contributes only its "
    "fingerprint table, which at 100 TB is the persisted artifact of "
    "past ingests, not a rescan",
)
def q84_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    seen = hist.select(
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fp")
    ).distinct()
    fresh = new.withColumn(
        "fp", F.md5(F.encode(F.col("text"), "UTF-8"))
    ).join(seen, "fp", "left_anti")
    return fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", "fp"
    )


@register(
    "q85_length_quartiles",
    """
    SELECT doc_id, lang,
           ntile(4) OVER (PARTITION BY lang
                          ORDER BY length(text) NULLS FIRST, doc_id)
               AS quartile
    FROM documents
    """,
    doc="per-language length quartiles via ntile — the stratification "
    "prep for length-balanced sampling; partitioned by lang so no "
    "single-partition global sort (deterministic doc_id tiebreak)",
)
def q85_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.length("text"), F.col("doc_id"))
    return docs.select(
        "doc_id", "lang", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "q102_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                   AS tk
        FROM documents),
    flat AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM flat
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df_ct FROM flat
              GROUP BY tok)
    SELECT doc_id, tok AS token, tf, df_ct,
           CAST(row_number() OVER (
               PARTITION BY doc_id
               ORDER BY tf DESC, df_ct ASC, tok ASC) AS INT) AS rank
    FROM tf JOIN dfreq USING (tok)
    QUALIFY rank <= 5
    """,
    doc="top-5 distinctive terms per document by TF-IDF-style ranking "
    "(tf DESC, document-frequency ASC, term ASC — the lexicographic "
    "form, so rank never depends on a float ln and is bit-reproducible "
    "across engines). One (doc,token) groupBy + a broadcast of the "
    "vocabulary-sized DF table; the float tfidf score column exists on "
    "the operator but is deliberately not part of the gated projection",
)
def q102_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs, "doc_id", "text", k=5).select(
        "doc_id", "token", "tf", "df_ct", "rank"
    )


@register(
    "q103_blocklist_filter",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE NOT list_has_any(
        list_filter(string_split(text, ' '), x -> x <> ''),
        ['vector', 'stream', 'hash'])
    """,
    doc="C4-style badwords/policy filter: drop any document containing "
    "a blocklisted TOKEN (word-boundary exact, not substring). The "
    "blocklist inlines as an array literal and membership is "
    "arrays_overlap inside whole-stage codegen — a zero-shuffle "
    "single-scan pass at any corpus size",
)
def q103_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = T.blocklist_filter(
        docs, "text", ("vector", "stream", "hash")
    )
    return kept.select("doc_id", "lang", "n_chars")


@register(
    "q104_canonical_docs",
    _cc_sql_cte()
    + """,
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS group_id
        FROM reach GROUP BY u),
    winners AS (
        SELECT group_id, doc_id AS win FROM (
            SELECT c.group_id, d.doc_id,
                   row_number() OVER (
                       PARTITION BY c.group_id
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
            FROM comp c JOIN documents d USING (doc_id))
        WHERE rn = 1)
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id IN (SELECT win FROM winners)
       OR d.doc_id NOT IN (SELECT doc_id FROM comp)
    """,
    doc="keep-one-per-group CANONICAL selection completing the dedup "
    "story: simhash near-dup pairs (q45 graph) -> connected-component "
    "groups (q74 machinery) -> per-group winner by (n_chars DESC, "
    "doc_id ASC) via one max_by groupBy (integer preference key — "
    "engine-deterministic). Group/winner tables are pair-graph-sized "
    "and broadcast; the corpus itself is never shuffled",
)
def q104_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )
    return D.canonical_docs(docs, pairs, "doc_id", "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "q105_token_budget_select",
    """
    WITH t AS (
        SELECT doc_id, n_chars,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY n_chars DESC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM t)
    SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 6000
    """,
    doc="budgeted greedy corpus selection ('best N tokens'): walk docs "
    "in (n_chars DESC, doc_id) priority order, keep while the "
    "INCLUSIVE running token total stays within budget — a strict "
    "prefix of the priority order, so budgets nest. The running total "
    "is the two-pass range-partitioned global_prefix_sum (no "
    "Exchange SinglePartition at scale; plan-gated)",
)
def q105_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "n_chars",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    sel = SAMP.select_token_budget(
        t,
        "doc_id",
        "n_tokens",
        budget=6000,
        order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    return sel.select("doc_id", "n_tokens", "cum_tokens")


@register(
    "q106_temperature_mix",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS c_min FROM c),
    thr AS (
        SELECT lang,
               CAST(floor(sqrt((100000000 * c_min) // n)) AS BIGINT) AS t
        FROM c, m)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000
          < thr.t
    """,
    doc="temperature-flattened multilingual rebalancing at alpha=1/2 "
    "(stratum shares move toward sqrt(c_s)): per-lang keep rate "
    "sqrt(c_min/c_s), thresholds in EXACT integer arithmetic "
    "(isqrt(RES^2*c_min // c_s)) over a k-row driver count, applied "
    "as the deterministic md5-bucket filter — zero-shuffle scan, "
    "membership identical in any engine",
)
def q106_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.temperature_mix(docs, "doc_id", "lang").select(
        "doc_id", "lang"
    )


@register(
    "q109_shared_ngram_pairs",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                   AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 4)) AS i FROM toks),
    g AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] AS gram
        FROM idx),
    c AS (SELECT gram FROM g GROUP BY gram
          HAVING count(*) BETWEEN 2 AND 100),
    k AS (SELECT g.doc_id, g.gram FROM g JOIN c USING (gram))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM k a JOIN k b USING (gram)
    WHERE a.doc_id < b.doc_id
    """,
    doc="exact-substring duplication pairs (docs sharing an exact "
    "6-token run — the distributed form of suffix-array exact-"
    "substring dedup, Lee et al. 2022 public methodology): distinct "
    "(doc, gram) explode -> ONE gram groupBy collecting the bounded "
    "member list -> IN-ROW i<j pair expansion (no self-join of the "
    "exploded corpus; grams in >100 docs dropped as boilerplate so "
    "per-gram work is capped at cap^2/2). Final distinct runs on the "
    "pair graph, not the corpus",
)
def q109_shared_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.shared_ngram_pairs(
        docs, "doc_id", "text", ngram_n=6, df_cap=100
    )


@register(
    "q110_quality_filter_linear",
    f"""
    SELECT doc_id, quality FROM (
        SELECT doc_id,
               CAST(100 * len(list_filter(string_split(text, ' '),
                                          x -> x IN {STOP_EN}))
                    + 10 * {NTOK}
                    - 50 * length(regexp_replace(text, '[a-z0-9 ]', '',
                                                 'g'))
                    - abs(n_chars - 180) AS BIGINT) AS quality
        FROM documents) t
    WHERE quality >= 700
    """,
    doc="model-based quality gate: an integer linear classifier "
    "(fasttext-quality-filter shape) with weights inlined as plan "
    "literals — stopword evidence + token mass vs punctuation noise "
    "and length deviation, ALL-INTEGER so the threshold is engine-"
    "exact (float-weight models gate on ulp-sensitive sums; quantize "
    "weights to integers instead). Zero-shuffle scan+filter, "
    "plan-gated",
)
def q110_quality_filter_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = T.linear_quality_filter(
        docs, "text", "n_chars", threshold=700
    )
    return kept.select("doc_id", "quality")


@register(
    "q112_domain_quality_filter",
    f"""
    WITH s AS (
        SELECT source,
               sum({NTOK}) AS total_tokens,
               sum(len(list_filter(string_split(text, ' '),
                                   x -> x IN {STOP_EN}))) AS stop_hits
        FROM documents GROUP BY source),
    keep AS (
        SELECT source FROM s
        WHERE stop_hits * 100 >= 6 * total_tokens)
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d JOIN keep USING (source)
    """,
    doc="domain-level quality gate (C4-style: judge the DOMAIN, drop "
    "its documents wholesale): per-source integer token/stopword "
    "totals -> keep sources with stopword density >= 6% by the "
    "all-integer gate hits*100 >= 6*tokens -> broadcast the kept "
    "domain list back over the corpus. Two scans, one O(domains) "
    "shuffle, corpus never shuffled (functions/text.py:"
    "domain_quality_filter)",
)
def q112_domain_quality_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = T.domain_quality_filter(docs, "source", "text", min_stop_pct=6)
    return kept.select("doc_id", "source", "lang", "n_chars")


@register(
    "q113_bloom_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks),
    g AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM idx),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    bad AS (
        SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        WHERE g.doc_id % 97 <> 0)
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    doc="decontamination FILTER via Bloom prefilter + exact verify "
    "(functions/dedup.py:bloom_decontaminate): eval 5-grams fold into "
    "ONE bit-array plan literal probed inside whole-stage codegen on "
    "a single exploded corpus scan (measured ~4x faster than the "
    "interpreted exists() higher-order form); only the Bloom-positive "
    "id set — true hits + ~0.1% FP tail — is broadcast back for the "
    "exact n-gram check. No false negatives by construction, false "
    "positives re-verified — the oracle is the plain exact NOT-EXISTS "
    "filter, proving result identity",
)
def q113_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    kept = D.bloom_decontaminate(train, eval_df, "doc_id", "text", ngram_n=5)
    return kept.select("doc_id", "lang", "n_chars")


@register(
    "q114_scrub_duplicated_spans",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks),
    g AS (
        SELECT doc_id, i,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM idx),
    freq AS (
        SELECT gram FROM g GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
        SELECT DISTINCT doc_id, unnest(range(i, i + 5)) AS p
        FROM g JOIN freq USING (gram)),
    tokpos AS (
        SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS j
        FROM toks),
    keep AS (
        SELECT t.doc_id, t.tok, t.j FROM tokpos t
        WHERE NOT EXISTS (SELECT 1 FROM cov c
                          WHERE c.doc_id = t.doc_id AND c.p = t.j)),
    agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS ct,
               count(*) AS nk
        FROM keep GROUP BY doc_id)
    SELECT x.doc_id, coalesce(a.ct, '') AS clean_text,
           len(x.tk) AS n_tokens,
           len(x.tk) - coalesce(a.nk, 0) AS n_removed
    FROM toks x LEFT JOIN agg a USING (doc_id)
    """,
    doc="span-level dedup (Lee et al. 2022 exact-substring shape / "
    "RefinedWeb repeated-span scrub): tokens covered by any 5-gram "
    "occurring in >=2 distinct docs are REMOVED and the doc "
    "reassembled — boilerplate dies, the document survives "
    "(functions/dedup.py:scrub_duplicated_spans). One (doc,gram) "
    "groupBy for the heavy-hitter table, broadcast back over the "
    "occurrence stream, per-doc coverage folded to ONE in-row "
    "positions array, reassembly an indexed in-row filter — token "
    "bodies never shuffle",
)
def q114_scrub_duplicated_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.scrub_duplicated_spans(
        docs, "doc_id", "text", ngram_n=5, min_docs=2
    )


# shared by q128 (batch) and q130 (stream)
CMS_ORACLE = """
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
            AS tok
        FROM documents),
    ex AS (
        SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok
        ORDER BY exact_n DESC, tok LIMIT 20),
    b0 AS (SELECT ('0x' || substr(md5(tok || '#0'), 1, 15))::BIGINT % 512
               AS pos, count(*) AS c FROM toks GROUP BY 1),
    b1 AS (SELECT ('0x' || substr(md5(tok || '#1'), 1, 15))::BIGINT % 512
               AS pos, count(*) AS c FROM toks GROUP BY 1),
    b2 AS (SELECT ('0x' || substr(md5(tok || '#2'), 1, 15))::BIGINT % 512
               AS pos, count(*) AS c FROM toks GROUP BY 1)
    SELECT e.tok, e.exact_n, least(s0.c, s1.c, s2.c) AS cms_estimate
    FROM ex e
    JOIN b0 s0 ON s0.pos =
        ('0x' || substr(md5(e.tok || '#0'), 1, 15))::BIGINT % 512
    JOIN b1 s1 ON s1.pos =
        ('0x' || substr(md5(e.tok || '#1'), 1, 15))::BIGINT % 512
    JOIN b2 s2 ON s2.pos =
        ('0x' || substr(md5(e.tok || '#2'), 1, 15))::BIGINT % 512
    """


@register(
    "q128_cms_heavy_hitters",
    CMS_ORACLE,
    doc="count-min-sketch heavy hitters vs exact ground truth "
    "(functions/analytics.py:cms_heavy_hitters; Cormode & "
    "Muthukrishnan 2005): the sketch hashes are md5-derived so the "
    "APPROXIMATE estimates are bit-reproducible and sit under the "
    "exact oracle gate. Sketch build is one token explode + "
    "groupBy(bucket) whose output is depth x width rows regardless "
    "of vocabulary — partials merge map-side, the finished sketch is "
    "a driver literal, and estimate >= exact is a structural "
    "guarantee the test asserts",
)
def q128_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import cms_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return cms_heavy_hitters(docs, "text", top_k=20, depth=3, width=512)


@register(
    "q129_dedup_groups_logrounds",
    DEDUP_GROUPS_ORACLE,
    doc="the SAME dedup-groups result as q74, computed by the "
    "O(log^2 n)-round large-star/small-star contraction "
    "(functions/dedup.py:dedup_groups_logrounds; Kiveris et al. "
    "SoCC'14) instead of O(diameter) label propagation — driver-gate "
    "proof the two exact CC lowerings agree on a real pair graph. "
    "Use this path when component diameter is unbounded (chain-shaped "
    "link graphs); per round one bidirectional explode + min groupBy "
    "+ node-id equi-join, (count, checksum) fixpoint detection",
)
def q129_dedup_groups_logrounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )
    return D.dedup_groups_logrounds(pairs)


@register(
    "q131_systematic_weighted_sample",
    f"""
    WITH t AS (SELECT doc_id, {NTOK} AS n_tokens FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING
               ) AS cum_weight
        FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_weight AS BIGINT) AS cum_weight
    FROM c
    WHERE n_tokens > 0
      AND cum_weight // 500 > (cum_weight - n_tokens) // 500
    """,
    doc="weight-proportional corpus sampling without a single float: "
    "systematic (grid) draw over the cumulative token axis — keep a "
    "row iff its weight span contains a multiple of stride=500, so "
    "heavy docs are always kept and light docs at exactly w/stride "
    "along the walk. Pure function of (data, order, stride): "
    "reproducible on any engine/partitioning, coarser grids nest "
    "inside finer ones. Running total is the two-pass range-"
    "partitioned global_prefix_sum (no Exchange SinglePartition at "
    "scale), grid test is a scan-side integer DIV filter "
    "(functions/sampling.py:systematic_weighted_sample)",
)
def q131_systematic_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    sel = SAMP.systematic_weighted_sample(
        t, "doc_id", "n_tokens", stride=500
    )
    return sel.select("doc_id", "n_tokens", "cum_weight")


@register(
    "q136_novelty_stats",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                   AS tk
        FROM documents),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks),
    g AS (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
               tk[i+3] || ' ' || tk[i+4] AS gram
        FROM idx),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
    u AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY gram
          HAVING count(*) = 1),
    uc AS (SELECT doc_id, count(*) AS n_unique FROM u GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(t.n_grams, 0) AS INTEGER) AS n_grams,
           CAST(COALESCE(uc.n_unique, 0) AS BIGINT) AS n_unique
    FROM documents d
    LEFT JOIN tot t ON d.doc_id = t.doc_id
    LEFT JOIN uc ON d.doc_id = uc.doc_id
    """,
    doc="cross-corpus novelty per doc: distinct 5-gram count and how "
    "many of those appear in NO other doc (integer numerator/"
    "denominator of the novelty ratio) — the boilerplate/memorization "
    "signal dual to q70's within-doc repetition stats. Zero joins on "
    "the gram axis: the df=1 owner comes back as min(doc_id) inside "
    "the one gram groupBy (q109's trick); totals are a scan-side "
    "size(array_distinct) projection; the only join is doc-keyed "
    "(functions/text.py:novelty_stats)",
)
def q136_novelty_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.novelty_stats(docs, "doc_id", "text", n=5)


@register(
    "q139_hll_distinct",
    f"""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents),
    h AS (SELECT lang, {H64.format(x='tok')} AS hv FROM toks),
    r AS (
        SELECT lang, hv % 64 AS bucket,
               CASE WHEN (hv // 64) = 0 THEN 40
                    ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                               + 1, 40)
               END AS rho
        FROM h),
    regs AS (SELECT lang, bucket, max(rho) AS reg
             FROM r GROUP BY lang, bucket),
    g AS (SELECT lang, count(*) AS n_obs,
                 sum((1::BIGINT << (40 - reg))) AS s_obs
          FROM regs GROUP BY lang),
    ex AS (SELECT lang, count(DISTINCT tok) AS exact_distinct
           FROM toks GROUP BY lang)
    SELECT g.lang, ex.exact_distinct,
           CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                (1000 * (s_obs + (64 - n_obs) * (1::BIGINT << 40)))
                AS BIGINT) AS hll_est
    FROM g JOIN ex ON g.lang = ex.lang
    """,
    doc="HyperLogLog distinct-token estimate per language NEXT TO its "
    "exact count, the cardinality twin of q128's count-min sketch: "
    "md5-derived bucket/rho, per-(lang,bucket) MAX registers (dup-"
    "insensitive, algebraic — the shuffle carries <= m partial "
    "registers per group per task, never the token stream), and the "
    "harmonic mean evaluated entirely in shifted longs so the "
    "APPROXIMATE estimate is bit-reproducible on any engine "
    "(functions/analytics.py:hll_distinct). At 100 TB keep the "
    "register table and drop the exact side; both run here so the "
    "gate proves the sketch math",
)
def q139_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(T.nonempty_tokens(F.col("text"))).alias("tok")
    )
    est = hll_distinct(toks, ["lang"], "tok")
    exact = toks.groupBy("lang").agg(
        F.count_distinct(F.col("tok")).alias("exact_distinct")
    )
    return exact.join(est, "lang").select(
        "lang", "exact_distinct", "hll_est"
    )


@register(
    "q140_fuzzy_link_pairs",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc="blocked record linkage (entity resolution): candidate pairs "
    "from the EXACT (brand, size) blocking equi-join, verified by "
    "built-in integer Levenshtein — the block-then-compare shape with "
    "the same scale contract as every pair family here (candidates "
    "from a key equi-join, never all-pairs; plan-gated no cartesian). "
    "Spark's and DuckDB's edit distances agree symbol for symbol, so "
    "the verify step itself is oracle-gated "
    "(functions/dedup.py:fuzzy_pairs)",
)
def q140_fuzzy_link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part")
    return D.fuzzy_pairs(
        parts, "p_partkey", "p_name", ["p_brand", "p_size"], max_edit=4
    )


@register(
    "q144_importance_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents),
    b AS (SELECT doc_id, lang,
                 {H64.format(x='tok')} % 4096 AS bkt
          FROM toks),
    w AS (SELECT bkt, count(*) AS n_c,
                 (sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000)
                     // count(*) AS wt
          FROM b GROUP BY bkt),
    s AS (SELECT b.doc_id, count(*) AS n_tokens, sum(w.wt) AS raw_score
          FROM b JOIN w ON b.bkt = w.bkt GROUP BY b.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.raw_score, 0) AS BIGINT) AS raw_score
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    doc="DSIR-shaped importance scoring (hashed-feature target/corpus "
    "occurrence ratios, Xie et al. 2023 methodology) in exact integer "
    "arithmetic: one exploded scan counts corpus AND target (lang=en) "
    "occurrences per 4096 hashed buckets together, the weight vector "
    "returns to the plan as ONE F.lit array literal (PERF.md §23 "
    "rule), and scoring is a zero-shuffle in-row fold — docs are "
    "never joined or shuffled. Rank by raw_score DIV n_tokens or "
    "feed raw_score straight into q131's systematic weighted sampler "
    "(functions/sampling.py:importance_weights)",
)
def q144_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.importance_weights(
        docs, "doc_id", "text", F.col("lang") == "en"
    )


@register(
    "q145_label_centroids",
    """
    WITH idx AS (
        SELECT label, embedding AS em,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           CAST(sum(CAST(floor(CAST(em[i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT)) AS BIGINT) AS q_sum,
           count(*) AS n
    FROM idx GROUP BY label, i
    """,
    doc="per-label embedding centroids in the kmeans M-step transport "
    "form: (label, dim) -> exact integer sum of quantized coordinates "
    "+ count, one posexplode + one groupBy whose shuffle carries at "
    "most #labels x dim partials per task regardless of corpus size; "
    "long sums are order-insensitive so the centroid is bit-identical "
    "on any engine/partitioning, with the single float division "
    "deferred to the consumer "
    "(functions/similarity.py:group_centroids)",
)
def q145_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.group_centroids(emb, "label")


@register(
    "q163_entity_resolution",
    """
    WITH RECURSIVE p AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM p
        UNION SELECT id_b, id_a FROM p),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
    comp AS (
        SELECT u AS pk, least(u, min(v)) AS group_id
        FROM reach GROUP BY u),
    winners AS (
        SELECT group_id, pk AS win FROM (
            SELECT c.group_id, c.pk,
                   row_number() OVER (
                       PARTITION BY c.group_id
                       ORDER BY pt.p_size DESC, c.pk ASC) AS rn
            FROM comp c JOIN part pt ON c.pk = pt.p_partkey)
        WHERE rn = 1)
    SELECT pt.p_partkey, pt.p_brand, pt.p_size FROM part pt
    WHERE pt.p_partkey IN (SELECT win FROM winners)
       OR pt.p_partkey NOT IN (SELECT pk FROM comp)
    """,
    doc="END-TO-END entity resolution: blocked Levenshtein linkage "
    "(q140's fuzzy_pairs) -> connected-component entity groups "
    "(q74's min-label CC) -> canonical keep-one per entity (q104's "
    "integer-preference max_by) — block, verify, cluster, "
    "canonicalize as one composed pipeline under a single gate. "
    "Every stage keeps its own scale contract: equi-join candidates, "
    "pair-graph-sized group machinery, corpus never shuffled in the "
    "keep-one step",
)
def q163_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part")
    pairs = D.fuzzy_pairs(
        parts, "p_partkey", "p_name", ["p_brand", "p_size"], max_edit=4
    ).select("id_a", "id_b")
    kept = D.canonical_docs(parts, pairs, "p_partkey", "p_size")
    return kept.select("p_partkey", "p_brand", "p_size")


# The RE2-safe subset of functions/text.py:PII_PATTERNS (email, IPv4,
# card-shaped digit runs). The phone pattern uses lookaround, which
# DuckDB's RE2 cannot run, so the oracle-gated query scrubs with the
# first three patterns; the full four-pattern set stays covered by
# tests/test_datapipe_ops.py:test_scrub_pii_masks_shapes_not_substrings.
_PII_EMAIL, _PII_IP, _PII_NUM = (p for p, _ in T.PII_PATTERNS[:3])

# Deterministic PII-bearing suffix derived from doc_id — the synthetic
# corpus carries no real PII, so both engines append the same
# email/IP/card-shaped spans before scrubbing. Spark and SQL forms of
# the identical concatenation.
_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com from ' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.20.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
    " || '.9 card 4111 1111 1111 '"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "q165_pii_scrub",
    f"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUG_SQL} AS t
        FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_NUM}', '<NUMBER>', 'g') AS scrubbed,
           len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
           len(regexp_extract_all(t, '{_PII_IP}')) AS n_ip,
           len(regexp_extract_all(t, '{_PII_NUM}')) AS n_number
    FROM aug
    """,
    doc="PII release scrubbing (functions/text.py:scrub_pii) under the "
    "driver gate: email/IPv4/card-shaped spans masked with typed "
    "placeholders by chained regexp_replace, per-pattern hit counts "
    "as the audit columns — one corpus scan, whole-stage codegen, no "
    "Python, no shuffle; the C4/Dolma-style release pass. Input text "
    "is augmented with deterministic doc_id-derived PII shapes so the "
    "scrub provably fires on every row in both engines",
)
def q165_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.text import PII_PATTERNS, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com from "),
            (did % 256).cast("string"),
            F.lit(".20."),
            ((did * 7) % 256).cast("string"),
            F.lit(".9 card 4111 1111 1111 "),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    t = F.col("t")

    def hits(pat: str) -> F.Column:
        return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))

    return aug.select(
        "doc_id",
        scrub_pii(t, PII_PATTERNS[:3]).alias("scrubbed"),
        hits(PII_PATTERNS[0][0]).alias("n_email"),
        hits(PII_PATTERNS[1][0]).alias("n_ip"),
        hits(PII_PATTERNS[2][0]).alias("n_number"),
    )


@register(
    "q168_k_anonymity",
    """
    WITH s AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS group_n
        FROM customer GROUP BY 1, 2)
    SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, s.group_n
    FROM customer c
    JOIN s ON c.c_nationkey = s.c_nationkey
          AND c.c_mktsegment = s.c_mktsegment
    WHERE s.group_n >= 10
    """,
    doc="k-anonymity release gate (functions/audit.py:k_anonymous_rows, "
    "k=10): rows whose (nation, segment) quasi-identifier combination "
    "is shared by fewer than k customers are suppressed before "
    "release, survivors annotated with their group size. Group sizes "
    "from one map-side-combined groupBy; the >=k list broadcasts back "
    "so the corpus is filtered by a broadcast hash join — never "
    "sorted or re-shuffled (the window-count form would per-QI-sort "
    "the whole table); plan-gated BHJ",
)
def q168_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.audit import k_anonymous_rows

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymous_rows(
        cust, ["c_nationkey", "c_mktsegment"], k=10
    ).select("c_custkey", "c_nationkey", "c_mktsegment", "group_n")


@register(
    "q170_posting_lists",
    """
    WITH flat AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS token
        FROM documents),
    r AS (
        SELECT token, doc_id,
               row_number() OVER (
                   PARTITION BY token ORDER BY doc_id) AS rnk,
               count(*) OVER (PARTITION BY token) AS df_ct
        FROM flat)
    SELECT token, df_ct,
           string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY doc_id) AS postings
    FROM r WHERE rnk <= 5
    GROUP BY token, df_ct
    """,
    doc="inverted-index build (functions/text.py:posting_lists): per "
    "token, document frequency + the first-5 ascending doc ids as the "
    "posting-list head. ONE token shuffle reused by the rank window, "
    "the df window and the final groupBy (superset keys, no second "
    "Exchange — plan-gated); the rank filter runs BEFORE collect, so "
    "a stop-word with a billion postings buffers k ids, never the "
    "full list. Posting head emitted as a comma string for "
    "engine-portable hashing",
)
def q170_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.posting_lists(docs, "doc_id", "text", k=5)


@register(
    "q171_weighted_median_len",
    f"""
    WITH v AS (
        SELECT n_chars AS val, doc_id, {NTOK} AS w FROM documents),
    c AS (
        SELECT val, doc_id, w,
               sum(w) OVER (ORDER BY val, doc_id) AS cw,
               sum(w) OVER () AS tw
        FROM v),
    p AS (SELECT unnest([25, 50, 75]) AS p)
    SELECT p.p AS p, min(c.val) AS value, CAST(min(c.cw) AS BIGINT) AS cum_w,
           CAST(min(c.tw) AS BIGINT) AS total_w
    FROM c JOIN p ON c.cw * 100 >= p.p * c.tw
    GROUP BY p.p
    """,
    doc="token-weighted length quantiles "
    "(functions/analytics.py:weighted_quantiles): the document length "
    "at which 25/50/75% of the corpus' TOKEN MASS lies at or below — "
    "the curriculum/packing statistic an unweighted median misstates "
    "when long docs dominate. Cumulative weights from the two-pass "
    "range-partitioned global_prefix_sum (no single-partition "
    "Exchange — plan-gated), 1-row total broadcast; qualifying rows "
    "form a suffix of the order so each percentile is a plain min, "
    "all-integer comparisons",
)
def q171_weighted_median_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(
        F.col("n_chars").alias("val"),
        "doc_id",
        T.token_count(F.col("text")).alias("w"),
    )
    from striot_spark.functions.analytics import weighted_quantiles

    return weighted_quantiles(v, "val", "doc_id", "w")


@register(
    "q175_pq_encode",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
    s AS (SELECT unnest([0, 1, 2, 3]) AS sub),
    d AS (
        SELECT e.vec_id, s.sub, c.cid,
               round(list_dot_product(
                         list_slice(v, s.sub*16 + 1, (s.sub+1)*16),
                         list_slice(v, s.sub*16 + 1, (s.sub+1)*16))
                     - 2 * list_dot_product(
                         list_slice(v, s.sub*16 + 1, (s.sub+1)*16),
                         list_slice(cv, s.sub*16 + 1, (s.sub+1)*16))
                     + list_dot_product(
                         list_slice(cv, s.sub*16 + 1, (s.sub+1)*16),
                         list_slice(cv, s.sub*16 + 1, (s.sub+1)*16)),
                     6) AS dist
        FROM e, c, s WHERE e.vec_id >= 4)
    SELECT vec_id, sub, cid AS code, dist FROM (
        SELECT vec_id, sub, cid, dist,
               row_number() OVER (
                   PARTITION BY vec_id, sub
                   ORDER BY dist, cid) AS rnk
        FROM d) t
    WHERE rnk = 1
    """,
    doc="product-quantization encode "
    "(functions/similarity.py:pq_encode): vectors split into 4 "
    "16-dim subvectors, each assigned to its nearest of 4 inlined "
    "codebook entries by squared L2 (dot-product expansion, round-6 "
    "cross-engine convention) — the d-floats -> m-codes compression "
    "an ANN index stores. Pure projection: one scan, zero "
    "joins/shuffles (plan-gated), m x c JVM fold dot-products per "
    "row; deterministic tie-break toward the smaller code",
)
def q175_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    book = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return SIM.pq_encode(emb.filter(F.col("vec_id") >= 4), book, m=4)


_COS_Q = (
    "round(list_dot_product(b.v, q.qv)"
    " / (sqrt(list_dot_product(b.v, b.v))"
    "    * sqrt(list_dot_product(q.qv, q.qv))), 6)"
)


@register(
    "q176_ann_recall_eval",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
          WHERE vec_id < 8),
    b AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 8),
    ex AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, b.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_COS_Q} DESC, b.vec_id ASC) AS rnk
            FROM b, q) t
        WHERE rnk <= 5),
    iv AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, b.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_COS_Q} DESC, b.vec_id ASC) AS rnk
            FROM b JOIN q ON b.label = q.qlabel) t
        WHERE rnk <= 5)
    SELECT ex.qid AS query_id, count(iv.vec_id) AS n_hit,
           count(*) AS k
    FROM ex LEFT JOIN iv
      ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
    GROUP BY ex.qid
    """,
    doc="offline ANN quality eval: recall@5 of the IVF probe (q37's "
    "one-cell scan) against the exact brute-force ground truth (q27) "
    "per query vector — the measurement that justifies shipping an "
    "approximate index at 100 TB, computed by the engine itself. "
    "Both rankings share the round-6 cosine and id tie-break; the "
    "hit count is an equi-join of two k-row-per-query tables (never "
    "corpus-sized) aggregated from the exact side, so unfound "
    "neighbors count as misses",
)
def q176_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    base = emb.filter(F.col("vec_id") >= 8)
    exact = SIM.brute_force_topk(base, queries, k=5).select(
        "query_id", "vec_id"
    )
    approx = SIM.ivf_topk(base, queries, k=5).select(
        F.col("query_id").alias("aq"), F.col("vec_id").alias("av")
    )
    j = exact.join(
        approx,
        (F.col("query_id") == F.col("aq"))
        & (F.col("vec_id") == F.col("av")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.col("av")).alias("n_hit"),
        F.count(F.lit(1)).alias("k"),
    )


@register(
    "q177_collocations",
    """
    WITH tk AS (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
    toks AS (SELECT unnest(t) AS tok FROM tk),
    uni AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    tot AS (SELECT count(*) AS n_total FROM toks),
    idx AS (SELECT t, unnest(range(1, len(t))) AS i FROM tk),
    bg AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM idx),
    bc AS (SELECT w1, w2, count(*) AS nab FROM bg GROUP BY w1, w2
           HAVING count(*) >= 5)
    SELECT w1, w2, nab, a.n AS na, b.n AS nb,
           (nab * n_total * 10000) // (a.n * b.n) AS score
    FROM bc JOIN uni a ON bc.w1 = a.tok
            JOIN uni b ON bc.w2 = b.tok, tot
    ORDER BY score DESC, nab DESC, w1, w2 LIMIT 20
    """,
    doc="collocation mining (functions/text.py:collocations): top-20 "
    "adjacent bigrams by the scaled integer PMI proxy "
    "nab*N*10000 DIV (na*nb) — phrase detection / tokenizer-merge "
    "scoring, engine-exact because the ranking never touches a "
    "float. Bigrams form IN-ROW (zip_with against the array's own "
    "shift, no self-join), one (w1,w2) count shuffle with map-side "
    "partials, vocabulary-sized unigram counts broadcast back "
    "(plan-gated BHJ), total (score, nab, w1, w2) tie order",
)
def q177_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.collocations(docs, "text", min_count=5, k=20)


@register(
    "q178_lexical_search",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    dfs AS (
        SELECT
            sum(CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END)
                AS df0,
            sum(CASE WHEN list_contains(t, 'stream') THEN 1 ELSE 0 END)
                AS df1,
            sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END)
                AS df2
        FROM toks),
    scored AS (
        SELECT doc_id,
               len(list_filter(t, x -> x = 'vector'))
                   * (CASE WHEN df0 > 0 THEN n_docs // df0 ELSE 0 END)
             + len(list_filter(t, x -> x = 'stream'))
                   * (CASE WHEN df1 > 0 THEN n_docs // df1 ELSE 0 END)
             + len(list_filter(t, x -> x = 'window'))
                   * (CASE WHEN df2 > 0 THEN n_docs // df2 ELSE 0 END)
                   AS score
        FROM toks, nd, dfs)
    SELECT doc_id, CAST(score AS BIGINT) AS score
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
    doc="lexical retrieval (functions/text.py:lexical_search): top-10 "
    "docs for the query {vector, stream, window} under integer tf-idf "
    "score Σ tf * (N_docs DIV df) — BM25-shaped, engine-exact. "
    "Pass 1 computes df for the query tokens only (a 3-long-column "
    "aggregate; a serving deployment reads q170's posting lists "
    "instead); pass 2 scores as a PURE PROJECTION with the weights "
    "inlined as literals — zero joins/shuffles over the corpus, "
    "TakeOrdered top-k (plan-gated)",
)
def q178_lexical_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.lexical_search(
        docs, "doc_id", "text", ["vector", "stream", "window"], k=10
    )


_PHRASES = ["slow hash batch", "table hash", "customer join"]


def _q227_oracle() -> str:
    arms = []
    for pid, phrase in enumerate(_PHRASES):
        toks = phrase.split()
        joins, conds = [], []
        for i, w in enumerate(toks[1:], start=1):
            joins.append(
                f"JOIN pos t{i} ON t{i}.doc_id = t0.doc_id "
                f"AND t{i}.i = t0.i + {i} AND t{i}.term = '{w}'"
            )
        arms.append(
            f"""
    SELECT CAST({pid} AS BIGINT) AS phrase_id, t0.doc_id AS doc,
           count(*) AS n_matches
    FROM pos t0 {' '.join(joins)}
    WHERE t0.term = '{toks[0]}' GROUP BY t0.doc_id"""
        )
    body = "\n    UNION ALL".join(arms)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    idx AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
            FROM toks),
    pos AS (SELECT doc_id, i, tk[i] AS term FROM idx)
    {body}
    """


@register(
    "q227_phrase_search",
    _q227_oracle(),
    doc="EXACT phrase search over positional posting lists "
    "(functions/text.py:positional_postings/phrase_search): three "
    "phrases — a trigram and two bigrams — resolved by the standard "
    "positional-intersection evaluation (Manning et al., IR ch. 2): "
    "each phrase token filters the index to its occurrences "
    "normalized to the phrase START (pos - i), then k-1 equi-joins "
    "on (doc, start); survivors are exact occurrences, counted per "
    "doc. Join inputs are term-occurrence-sized (term filter pushes "
    "to the scan), never corpus-sized — the retrieval primitive "
    "bag-of-words tf-idf (q178) cannot express, served from the "
    "positional extension of q170's index (bucket by term at scale "
    "and the joins co-locate). Order-sensitivity is the gate: "
    "'customer join' must not match 'join customer'",
)
def q227_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    postings = T.positional_postings(docs, "doc_id", "text")
    return T.phrase_search(postings, _PHRASES)


@register(
    "q182_rank_normalize",
    """
    SELECT doc_id, lang,
           CASE WHEN n > 1 THEN (r * 1000) // (n - 1) ELSE 0 END
               AS len_permille
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id) - 1 AS r,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents) t
    """,
    doc="per-group rank normalization (the quantile-transform feature "
    "encoder): each doc's length mapped to its integer permille rank "
    "within its language — distribution-free, outlier-immune, and "
    "engine-exact (rank arithmetic, no floats). One key shuffle "
    "shared by both windows (same partitioning); ties totally "
    "ordered by doc_id so the transform is deterministic. The "
    "normalize-before-mixing step heterogeneous corpora need",
)
def q182_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    wr = W.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    wn = W.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        (F.row_number().over(wr) - F.lit(1)).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN n > 1 THEN (r * 1000) DIV (n - 1) ELSE 0 END"
        ).alias("len_permille"),
    )


@register(
    "q185_oov_audit",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
    freq AS (
        SELECT tok, count(*) AS tf
        FROM (SELECT unnest(t) AS tok FROM toks) x GROUP BY tok),
    v AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (
                       ORDER BY tf DESC, tok ASC) AS rnk
            FROM freq) r
        WHERE rnk <= 100),
    vl AS (SELECT list(tok) AS vlist FROM v)
    SELECT doc_id, len(t) AS n_tokens,
           len(list_filter(t, x -> NOT list_contains(vlist, x)))
               AS n_oov,
           CASE WHEN len(t) > 0
                THEN len(list_filter(t, x -> NOT list_contains(vlist, x)))
                     * 1000 // len(t)
                ELSE 0 END AS oov_permille
    FROM toks, vl
    """,
    doc="tokenizer-vocabulary coverage audit: per doc, whitespace "
    "token count, how many fall outside the top-100 frequency-ranked "
    "vocabulary (q75's build_vocab ranking: tf DESC, token ASC "
    "ties), and the integer OOV permille — the coverage check run "
    "before committing to a vocab size. The vocabulary is collected "
    "once and inlined as a literal array, so the corpus audit is a "
    "ZERO-JOIN zero-shuffle projection (q75's map-literal "
    "discipline); the vocab build itself rides the size-gated "
    "global_index",
)
def q185_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = T.build_vocab(docs, "text", 100)
    vlist = [r["token"] for r in vocab.collect()]
    lit_v = F.array(*[F.lit(t) for t in vlist])
    toks = T.nonempty_tokens(F.col("text"))
    n_oov = F.size(
        F.filter(toks, lambda x: ~F.array_contains(lit_v, x))
    )
    sel = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_oov.alias("n_oov"),
    )
    return sel.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (n_oov * 1000) DIV n_tokens "
            "ELSE 0 END"
        ).alias("oov_permille"),
    )


@register(
    "q186_dup_cluster_census",
    _cc_sql_cte()
    + """,
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS group_id
        FROM reach GROUP BY u),
    sz AS (SELECT group_id, count(*) AS cluster_size FROM comp
           GROUP BY group_id)
    SELECT cluster_size, count(*) AS n_clusters
    FROM sz GROUP BY cluster_size
    """,
    doc="duplicate-cluster census: the size distribution of q74's "
    "near-dup connected components (how much of the corpus sits in "
    "2-doc pairs vs mega-clusters) — the diagnostic that sets dedup "
    "policy (keep-one-per-cluster erases mega-clusters; cap-per-"
    "cluster keeps diversity) BEFORE deleting anything. Two tiny "
    "aggregations on the component table; all heavy lifting is the "
    "proven q45 pair-gen + q74 min-label machinery",
)
def q186_dup_cluster_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )
    comp = D.dedup_groups(pairs)
    sz = comp.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sz.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


_EK_MIX = (
    "('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % 10000"
)


@register(
    "q187_leakage_aware_split",
    _cc_sql_cte()
    + f""",
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS group_id
        FROM reach GROUP BY u),
    eff AS (
        SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS k
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
    SELECT doc_id, k AS split_key,
           CASE WHEN {_EK_MIX} < 8000 THEN 'train'
                WHEN {_EK_MIX} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM eff
    """,
    doc="LEAKAGE-AWARE train/val/test split: q76's deterministic "
    "md5-bucket assignment, but keyed on the near-dup COMPONENT id "
    "(q74's connected components) instead of the doc id — every "
    "member of a duplicate cluster lands in the same split, closing "
    "the eval-contamination hole a per-doc split leaves open (near-"
    "identical docs straddling train and test). Singletons fall back "
    "to their own id; assignment stays a pure projection over the "
    "(doc, effective-key) table, so the only added cost is the "
    "component build the dedup pass already ran",
)
def q187_leakage_aware_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )
    comp = D.dedup_groups(pairs)
    eff = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("group_id"), F.col("doc_id")).alias("k"),
    )
    return SAMP.split_assign(
        eff, "k", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", F.col("k").alias("split_key"), "split")


@register(
    "q188_cap_per_cluster",
    _cc_sql_cte()
    + """,
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS group_id
        FROM reach GROUP BY u),
    eff AS (
        SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS g
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    rk AS (
        SELECT doc_id, g,
               row_number() OVER (
                   PARTITION BY g ORDER BY doc_id) AS rnk
        FROM eff)
    SELECT doc_id, g AS group_id FROM rk WHERE rnk <= 2
    """,
    doc="cap-per-cluster dedup policy: keep at most 2 docs (smallest "
    "ids) from every near-dup component, singletons untouched — the "
    "diversity-preserving alternative to keep-one canonicalization "
    "that q186's census motivates (mega-clusters shrink to 2, pairs "
    "survive intact). Rank window partitioned by the component key "
    "over the (doc, key) table; the heavy lifting is the same proven "
    "pair-gen + CC machinery, the policy itself is one bounded "
    "window pass",
)
def q188_cap_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bands=4, band_bits=15, max_hamming=8
    )
    comp = D.dedup_groups(pairs)
    eff = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("group_id"), F.col("doc_id")).alias("g"),
    )
    w = W.partitionBy("g").orderBy(F.col("doc_id").asc())
    return (
        eff.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("doc_id", F.col("g").alias("group_id"))
    )


@register(
    "q190_media_embed",
    """
    WITH g AS (SELECT unnest(range(0, 16)) AS dim),
    d AS (SELECT doc_id, greatest(1, length(text)) AS total
          FROM documents),
    i AS (SELECT doc_id, text,
                 unnest(range(1, length(text) + 1)) AS i
          FROM documents),
    h AS (SELECT doc_id, ord(substr(text, i, 1)) % 16 AS dim,
                 count(*) AS cnt
          FROM i GROUP BY 1, 2)
    SELECT d.doc_id, CAST(g.dim AS INTEGER) AS dim,
           coalesce(h.cnt, 0) / d.total AS feat
    FROM d CROSS JOIN g
    LEFT JOIN h ON d.doc_id = h.doc_id AND g.dim = h.dim
    """,
    doc="the multimodal ENCODE path under the full hash-compare gate: "
    "binary media payloads stream through Arrow-batched mapInPandas "
    "(functions/multimodal.py:extract_features) into dense feature "
    "vectors — the deterministic byte-histogram stub keeps the exact "
    "numeric shape a model forward pass would have, and because the "
    "synthetic payloads are ASCII the DuckDB oracle reproduces every "
    "float (small-int division is IEEE-exact in both engines). "
    "Upgrades the multimodal plumbing from rows-only checks to "
    "value-gated; one scan, no shuffle, embarrassingly parallel "
    "encode",
)
def q190_media_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = to_media(docs, "doc_id", "text")
    feats = extract_features(media, dim=16)
    return feats.select(
        "doc_id",
        F.posexplode("features").alias("dim", "feat"),
    )


@register(
    "q194_pareto_frontier",
    f"""
    WITH m AS (
        SELECT doc_id, {NTOK} AS x,
               len(list_filter(string_split(text, ' '),
                               t -> t IN {STOP_EN})) AS y
        FROM documents),
    cand AS (
        SELECT x, max(y) AS y, min(doc_id) AS doc_id
        FROM m GROUP BY x),
    r AS (
        SELECT doc_id, x, y,
               max(y) OVER (
                   ORDER BY x DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS best_above
        FROM cand)
    SELECT doc_id, x AS n_tokens, y AS stop_hits
    FROM r WHERE best_above IS NULL OR y > best_above
    """,
    doc="2-D Pareto frontier (skyline) over (token count, stopword "
    "hits), maximizing both: docs no other doc dominates — the "
    "multi-objective selection shape (quality vs length) that a "
    "cartesian dominance join would make O(n²). Lowering: collapse "
    "to one candidate per distinct x (max y, min doc_id tie), then "
    "ONE running-max window in x-descending order — a candidate "
    "survives iff its y beats every candidate with larger x; "
    "O(n log n) total, the window runs over the DISTINCT-x table "
    "(bounded by the metric's cardinality, not the corpus)",
)
def q194_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    m = docs.select(
        "doc_id",
        T.token_count(text).alias("x"),
        T.stopword_hits(text).alias("y"),
    )
    cand = m.groupBy("x").agg(
        F.max("y").alias("y"), F.min("doc_id").alias("doc_id")
    )
    w = W.orderBy(F.col("x").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    r = cand.select(
        "doc_id", "x", "y", F.max("y").over(w).alias("best_above")
    )
    return r.filter(
        F.col("best_above").isNull() | (F.col("y") > F.col("best_above"))
    ).select(
        "doc_id", F.col("x").alias("n_tokens"), F.col("y").alias("stop_hits")
    )


@register(
    "q197_curriculum_interleave",
    """
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source ORDER BY doc_id) - 1 AS rnk
        FROM documents)
    SELECT doc_id, source, rnk AS round, 
           rnk * 100 + ('0x' || substr(md5(source), 1, 15))::BIGINT % 100
               AS interleave_key
    FROM r
    """,
    doc="deterministic round-robin corpus interleave: each doc gets "
    "an interleave key (round * K + stable source offset) so reading "
    "in key order alternates sources round-by-round — the "
    "source-balanced training order a curriculum wants, without any "
    "global shuffle of the corpus (one per-source rank window; the "
    "total order is a SORT KEY the consumer applies, not an imposed "
    "global sort here). Source offset is an md5 bucket so ordering "
    "within a round is stable in any engine; K=100 bounds sources "
    "per round",
)
def q197_curriculum_interleave(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.col("doc_id").asc())
    r = docs.select(
        "doc_id",
        "source",
        (F.row_number().over(w) - F.lit(1)).alias("round"),
    )
    return r.select(
        "doc_id",
        "source",
        "round",
        (
            F.col("round") * F.lit(100)
            + md5_hash64(F.col("source")) % F.lit(100)
        ).alias("interleave_key"),
    )


@register(
    "q200_sorted_export",
    """
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source ORDER BY doc_id) - 1 AS rnk
        FROM documents)
    SELECT doc_id,
           rnk * 100 + ('0x' || substr(md5(source), 1, 15))::BIGINT % 100
               AS interleave_key,
           length(text) AS n_chars
    FROM r JOIN documents USING (doc_id, source)
    """,
    doc="the corpus EXPORT step: the q197 interleave order written as "
    "a globally range-partitioned, within-file-sorted parquet layout "
    "(repartitionByRange + sortWithinPartitions + maxRecordsPerFile) "
    "and read back — files cover disjoint key ranges, so a training "
    "job streams them in name order and sees the exact curriculum "
    "order with NO global sort at read time; the oracle proves the "
    "layout round-trips content exactly. The write's range exchange "
    "is the one unavoidable shuffle of an ordered export; a "
    "file-level disjointness check runs in the unit suite",
)
def q200_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pyspark.sql import Window as W

    from striot_spark.functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.col("doc_id").asc())
    keyed = docs.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars"),
        (
            (F.row_number().over(w) - F.lit(1)) * F.lit(100)
            + md5_hash64(F.col("source")) % F.lit(100)
        ).alias("interleave_key"),
    )
    out = striot_mkdtemp(prefix="striot_q200_export_") + "/data"
    (
        keyed.repartitionByRange(8, F.col("interleave_key"))
        .sortWithinPartitions("interleave_key", "doc_id")
        .write.option("maxRecordsPerFile", "2000")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.select("doc_id", "interleave_key", "n_chars")


@register(
    "q204_int8_quantize",
    """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    i AS (
        SELECT vec_id, v, nrm,
               unnest(range(1, len(v) + 1)) AS i
        FROM n WHERE nrm > 0)
    SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
           CAST(round(v[i] / nrm * 127, 0) AS BIGINT) AS q8
    FROM i
    """,
    doc="int8 embedding quantization (the storage-compression prep "
    "for ANN serving): L2-normalize then scale to [-127, 127] — 4x "
    "smaller than float32 with the norm stored once. Cross-engine "
    "exactness piggybacks the proven cosine discipline: the norm is "
    "the same sqrt(list_dot_product) both engines compute "
    "bit-identically, and the final round lands on integers. Pure "
    "projection (posexplode of an in-row transform): one scan, zero "
    "joins/shuffles; zero-norm vectors are dropped on both sides",
)
def q204_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.similarity import as_double, dot

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    n = emb.select(
        "vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("nrm")
    ).filter(F.col("nrm") > 0)
    q = n.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("v"),
                lambda x: F.round(x / F.col("nrm") * 127, 0).cast("long"),
            )
        ).alias("dim", "q8"),
    )
    return q.select("vec_id", F.col("dim").cast("int").alias("dim"), "q8")


@register(
    "q210_corpus_card",
    f"""
    SELECT count(*) AS n_docs,
           CAST(sum({NTOK}) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           CAST(sum(CASE WHEN {NTOK} < 20 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_short
    FROM documents
    """,
    doc="the dataset-card summary row: corpus size in docs / tokens / "
    "chars, language and source cardinalities, length extremes and "
    "the short-doc count (threshold 20 tokens — chosen to BITE on "
    "the fixtures; a predicate no row matches would gate nothing) — "
    "every release ships one of these, and "
    "every number here is an exact integer from ONE scan (the "
    "distinct counts are dimension-bounded). The cheap always-run "
    "audit in front of the deep passes (q124 column profile, q186 "
    "dup census)",
)
def q210_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = T.token_count(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum((ntok < 20).cast("long")).alias("n_short"),
    )


_LANG_HITS_SQL = {
    "en": "len(list_filter(t, x -> x IN ('the','and','of','to','is')))",
    "es": "len(list_filter(t, x -> x IN ('el','la','de','que','los')))",
    "de": "len(list_filter(t, x -> x IN ('der','die','und','das','ist')))",
    "fr": "len(list_filter(t, x -> x IN ('le','la','et','les','des')))",
}


@register(
    "q211_mixed_language_audit",
    f"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0
                    THEN text || ' el que de la que el de'
                    ELSE text END AS text
        FROM documents),
    h AS (
        SELECT doc_id,
               {_LANG_HITS_SQL['en']} AS h_en,
               {_LANG_HITS_SQL['es']} AS h_es,
               {_LANG_HITS_SQL['de']} AS h_de,
               {_LANG_HITS_SQL['fr']} AS h_fr
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                         AS t
              FROM aug) x),
    r AS (
        SELECT doc_id,
               greatest(h_en, h_es, h_de, h_fr) AS best,
               h_en + h_es + h_de + h_fr
                   - greatest(h_en, h_es, h_de, h_fr) AS rest
        FROM h)
    SELECT doc_id, best, rest,
           CASE WHEN best > 0 AND 2 * rest > best
                THEN 1 ELSE 0 END AS mixed
    FROM r
    """,
    doc="mixed-language detection on top of q22's marker-based "
    "language ID: per doc, the strongest language's marker hits vs "
    "the total hits of ALL OTHER languages — flagged mixed when the "
    "others exceed half the winner (integer cross-multiplication). "
    "The code-switching / wrong-segmentation audit a multilingual "
    "corpus runs before per-language routing; still one zero-shuffle "
    "scan (all four hit counters are in-row filters). Every tenth doc "
    "is deterministically augmented with a Spanish marker phrase on "
    "BOTH sides (q165's discipline) so the mixed path is genuinely "
    "exercised — the raw fixtures are single-language and would gate "
    "nothing",
)
def q211_mixed_language_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" el que de la que el de")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hits = [
        T.lang_hits(F.col("text"), lang).alias(f"h_{lang}")
        for lang in ("en", "es", "de", "fr")
    ]
    h = aug.select("doc_id", *hits)
    best = F.greatest("h_en", "h_es", "h_de", "h_fr")
    total = (
        F.col("h_en") + F.col("h_es") + F.col("h_de") + F.col("h_fr")
    )
    r = h.select(
        "doc_id",
        best.alias("best"),
        (total - best).alias("rest"),
    )
    return r.select(
        "doc_id",
        "best",
        "rest",
        F.when(
            (F.col("best") > 0) & (2 * F.col("rest") > F.col("best")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("mixed"),
    )


@register(
    "q213_source_drift",
    """
    WITH h AS (
        SELECT source,
               sum(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1,
                              15))::BIGINT % 2 = 0
                        THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1,
                              15))::BIGINT % 2 = 1
                        THEN 1 ELSE 0 END) AS n_b
        FROM documents GROUP BY source),
    t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM h)
    SELECT h.source, CAST(h.n_a AS BIGINT) AS n_a,
           CAST(h.n_b AS BIGINT) AS n_b,
           CAST((h.n_a * 1000) // t.ta AS BIGINT) AS share_a_pm,
           CAST((h.n_b * 1000) // t.tb AS BIGINT) AS share_b_pm,
           CAST(abs((h.n_a * 1000) // t.ta - (h.n_b * 1000) // t.tb)
               AS BIGINT) AS drift_pm
    FROM h, t
    """,
    doc="corpus composition drift between two cohorts (here the "
    "deterministic md5-parity doc split standing in for snapshot A "
    "vs B — a plain even/odd split aliases with the fixtures' "
    "round-robin source assignment and degenerates to one-sided "
    "cohorts): per-source document shares in integer permille and their "
    "absolute drift — the mix-shift monitor run before retraining "
    "(a source silently doubling its share changes the model). One "
    "conditional-count groupBy + a 2-long totals row broadcast "
    "back; all-integer shares so the flag threshold is engine-exact",
)
def q213_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from striot_spark.functions.text import md5_hash64

    par = md5_hash64(F.col("doc_id").cast("string")) % 2
    h = docs.groupBy("source").agg(
        F.sum((par == 0).cast("long")).alias("n_a"),
        F.sum((par == 1).cast("long")).alias("n_b"),
    )
    t = h.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    j = h.crossJoin(F.broadcast(t))
    share_a = F.expr("(n_a * 1000) DIV ta")
    share_b = F.expr("(n_b * 1000) DIV tb")
    return j.select(
        "source",
        "n_a",
        "n_b",
        share_a.alias("share_a_pm"),
        share_b.alias("share_b_pm"),
        F.abs(share_a - share_b).alias("drift_pm"),
    )


@register(
    "q214_dup_threshold_curve",
    _simhash_sql_cte()
    + """,
    x AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hd
        FROM (SELECT DISTINCT a.doc_id, a.simhash
              FROM sh a) a,
             (SELECT DISTINCT b.doc_id, b.simhash
              FROM sh b) b,
             range(0, 4) r(band)
        WHERE a.doc_id < b.doc_id
          AND ((a.simhash >> (band * 15)) & 32767)
              = ((b.simhash >> (band * 15)) & 32767)),
    u AS (SELECT DISTINCT id_a, id_b, hd FROM x),
    thr AS (SELECT unnest([4, 8, 12]) AS t)
    SELECT thr.t AS max_hamming, count(*) AS n_pairs
    FROM u JOIN thr ON u.hd <= thr.t
    GROUP BY thr.t
    """,
    doc="near-dup threshold tuning curve: candidate pairs from the "
    "q45 simhash band join, counted at hamming cutoffs 4/8/12 from "
    "ONE pair table (the banded candidates are computed once, each "
    "threshold is a filter over the same distinct pairs) — the "
    "sweep that picks a dedup threshold BEFORE committing to a "
    "deletion pass, without re-running candidate generation per "
    "setting",
)
def q214_dup_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.caching import track_persist

    docs = load_table(spark, sf_dir, "documents")
    # the proven q45 machinery at the LOOSEST threshold: candidates
    # with exact hamming attached, computed (and persisted) once —
    # each tighter cutoff is then a filter over the same pair table
    u = track_persist(
        D.simhash_near_dup_pairs(
            docs, "doc_id", "text", bands=4, band_bits=15,
            max_hamming=12,
        ).select("id_a", "id_b", F.col("hamming").alias("hd"))
    )
    thr = u.crossJoin(
        F.broadcast(
            u.sparkSession.createDataFrame([(4,), (8,), (12,)], "t int")
        )
    ).filter(F.col("hd") <= F.col("t"))
    return thr.groupBy(F.col("t").alias("max_hamming")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "q215_compression_quality",
    """
    WITH g AS (
        SELECT doc_id, n_chars, length(text) AS L,
               CASE WHEN length(text) < 4 THEN NULL ELSE
                   list_transform(
                       range(1, length(text) - 2),
                       i -> substring(text, CAST(i AS INTEGER), 4))
               END AS gs
        FROM documents)
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(CASE WHEN L < 4 THEN 0 ELSE
               CAST(L - 3 - len(list_distinct(gs)) AS BIGINT) * 1000
               // (L - 3) END AS BIGINT) AS dup4_pm
    FROM g
    """,
    doc="compression-quality screen, oracle-checkable successor of "
    "the zlib permille (which was the registry's one standing "
    "rows-only ledger row): the DUPLICATE CHARACTER-4-GRAM permille "
    "— (n_grams - n_distinct) * 1000 DIV n_grams over the in-row "
    "sliding char 4-gram array — is the deterministic repetitiveness "
    "proxy for the same template-spam signal (char-level, unlike "
    "q70's token bigrams, so it tracks byte-level compressibility), "
    "and it IS Column algebra: exact integers, hash-comparable, "
    "zero shuffle — a 100 TB screen is one parquet scan. The zlib "
    "permille itself stays available as the documented non-SQL "
    "adjunct functions/text.py:compression_ratio_pm (scalar "
    "@pandas_udf, unit-tested determinism/ordering) for callers who "
    "want the real compressor",
)
def q215_compression_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.core.scale import scatter

    docs = load_table(spark, sf_dir, "documents")
    # the in-row 4-gram transform is CPU-bound per-row work; a single-
    # row-group input otherwise fuses it into a 1-task scan (r17
    # jobprobe: 1.57s on one core of 32) — scatter() is a no-op once
    # the input has enough partitions
    return scatter(docs).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "CAST(CASE WHEN length(text) < 4 THEN 0 ELSE "
            "CAST(length(text) - 3 - size(array_distinct(transform("
            "sequence(1, length(text) - 3), "
            "i -> substring(text, i, 4)))) AS BIGINT) * 1000 "
            "DIV (length(text) - 3) END AS BIGINT)"
        ).alias("dup4_pm"),
    )


@register(
    "q222_stratum_floor_split",
    f"""
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_HB_MIX}, doc_id) AS rk
        FROM documents)
    SELECT doc_id, lang,
           CASE WHEN rk <= 10 THEN 'val' ELSE 'train' END AS split
    FROM r
    """,
    doc="stratified split with a PER-STRATUM FLOOR: every language "
    "contributes exactly its 10 lowest-md5-bucket docs to the "
    "validation set (deterministic quota — q76's global-ratio split "
    "can starve a rare stratum entirely, and an eval set missing a "
    "language can't measure it). Ranking inside each stratum by the "
    "md5 bucket keeps membership id-deterministic and "
    "rerun/partitioning-stable; one per-stratum rank window, "
    "doc_id tiebreak",
)
def q222_stratum_floor_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    hb = md5_hash64(F.col("doc_id").cast("string")) % 10000
    w = W.partitionBy("lang").orderBy(hb.asc(), F.col("doc_id").asc())
    r = docs.select(
        "doc_id", "lang", F.row_number().over(w).alias("rk")
    )
    return r.select(
        "doc_id",
        "lang",
        F.when(F.col("rk") <= 10, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@register(
    "q247_hybrid_rrf",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    dfs AS (
        SELECT
            sum(CASE WHEN list_contains(t, 'vector') THEN 1 ELSE 0 END)
                AS df0,
            sum(CASE WHEN list_contains(t, 'stream') THEN 1 ELSE 0 END)
                AS df1,
            sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END)
                AS df2
        FROM toks),
    scored AS (
        SELECT doc_id,
               len(list_filter(t, x -> x = 'vector'))
                   * (CASE WHEN df0 > 0 THEN n_docs // df0 ELSE 0 END)
             + len(list_filter(t, x -> x = 'stream'))
                   * (CASE WHEN df1 > 0 THEN n_docs // df1 ELSE 0 END)
             + len(list_filter(t, x -> x = 'window'))
                   * (CASE WHEN df2 > 0 THEN n_docs // df2 ELSE 0 END)
                   AS score
        FROM toks, nd, dfs),
    lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS r
            FROM scored WHERE score > 0),
    lex50 AS (SELECT doc_id, r FROM lex WHERE r <= 50),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    vec AS (SELECT e.vec_id AS doc_id,
                   row_number() OVER (
                       ORDER BY round(list_dot_product(e.v, qv)
                                / (sqrt(list_dot_product(e.v, e.v))
                                   * sqrt(list_dot_product(qv, qv))), 6)
                                DESC,
                                e.vec_id ASC) AS r
            FROM e, q WHERE e.vec_id <> 0),
    vec50 AS (SELECT doc_id, r FROM vec WHERE r <= 50),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               CAST(CASE WHEN l.r IS NOT NULL
                         THEN 1000000 // (60 + l.r) ELSE 0 END
                  + CASE WHEN v.r IS NOT NULL
                         THEN 1000000 // (60 + v.r) ELSE 0 END
                    AS BIGINT) AS rrf,
               CAST(COALESCE(l.r, 0) AS BIGINT) AS lex_rank,
               CAST(COALESCE(v.r, 0) AS BIGINT) AS vec_rank
        FROM lex50 l FULL OUTER JOIN vec50 v ON l.doc_id = v.doc_id)
    SELECT doc_id, rrf, lex_rank, vec_rank
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
    doc="HYBRID retrieval via reciprocal-rank fusion "
    "(functions/similarity.py:rrf_fuse, Cormack/Clarke/Buttcher "
    "SIGIR'09): the lexical arm is q178's integer tf-idf top-50 "
    "(corpus never joined — scores are a pure projection), the vector "
    "arm is q27's brute-force cosine top-50 against the vec_id=0 "
    "query (broadcast query, JVM fold dot product, rounded-cos "
    "deterministic rank), and fusion is rrf = sum of "
    "1e6 DIV (60 + rank) over the arms a doc appears in — exact "
    "integers, so the fused top-10 is engine-exact where float RRF "
    "reorders under summation error. The N-way fuse touches only the "
    "top-K candidate frames (<=50 rows each); corpus-scale work stays "
    "in the per-arm producers. Documents and embeddings share the id "
    "space (vec_id i embeds doc i) per TESTDATA",
)
def q247_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.similarity import brute_force_topk, rrf_fuse
    from striot_spark.functions.text import lexical_search

    docs = load_table(spark, sf_dir, "documents")
    lex = lexical_search(
        docs, "doc_id", "text", ["vector", "stream", "window"], k=50
    )
    # 1-based rank within the already-k-row lexical frame — the window
    # is over <=50 rows, driver-trivial by construction
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("query_id"), "embedding"
    )
    vec = brute_force_topk(
        emb.filter(F.col("vec_id") != 0), qv, k=50
    ).select(F.col("vec_id").alias("doc_id"), F.col("rnk").alias("rank"))
    return rrf_fuse(
        [lexr, vec],
        id_col="doc_id",
        rank_cols=["lex_rank", "vec_rank"],
        k=10,
    )


@register(
    "q265_shuffle_shard",
    """
    WITH h AS (
        SELECT doc_id,
               ('0x' || substr(md5('ep0' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT AS hv
        FROM documents)
    SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 8
                                   ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    doc="deterministic seeded shuffle + shard assignment "
    "(functions/sampling.py:shuffle_shard) — the epoch-0 training "
    "export: shard = 60-bit md5(seed || id) mod 8, position = rank "
    "of the hash within the shard (id tiebreak: determinism must "
    "not hinge on hash-collision absence). Same (seed, corpus) "
    "always yields the identical layout in ANY engine — unlike "
    "Spark's rand(seed), whose draw depends on partitioning. The "
    "hash is a pure projection; the per-shard rank is a window sort "
    "PARTITIONED BY shard (spills; shard count is the knob that "
    "bounds per-shard sort size at 100 TB — never rank over an "
    "unpartitioned window)",
)
def q265_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SAMP.shuffle_shard(docs, "doc_id", n_shards=8, seed="ep0")


# shared by q272 (batch) and q273 (stream)
SURPRISAL_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS tok
        FROM documents),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
    bits AS (SELECT tok,
                    CAST(length(bin(total // c)) - 1 AS BIGINT) AS b
             FROM cnt CROSS JOIN tot),
    s AS (SELECT t.doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(b.b) AS BIGINT) AS surprisal_bits
          FROM toks t JOIN bits b ON b.tok = t.tok
          GROUP BY t.doc_id)
    SELECT doc_id, n_tokens, surprisal_bits,
           CAST(surprisal_bits * 1000 // n_tokens AS BIGINT)
               AS mean_millibits
    FROM s
    """


@register(
    "q272_unigram_surprisal",
    SURPRISAL_ORACLE,
    doc="per-doc INTEGER unigram surprisal — the info-theoretic "
    "member of the quality-screen family (the exact-arithmetic "
    "stand-in for the perplexity filter every LLM corpus pipeline "
    "runs): bits(tok) = floor(log2(N_total DIV count(tok))), "
    "surprisal_bits(doc) = sum over its tokens — high = rare-token- "
    "heavy (OOV junk, codes, boilerplate IDs), low = stopword soup; "
    "mean_millibits normalizes by length. floor-log2 is computed "
    "EXACTLY as length(bin(x)) - 1 — integer bit length, no libm: "
    "float log2 is not correctly-rounded the same way across "
    "engines near power-of-two boundaries, bit length is "
    "bit-identical everywhere. Plan: one explode -> vocab-sized "
    "token groupBy -> per-TYPE bits computed once on the vocab "
    "table (not per occurrence) -> token-keyed join back -> doc "
    "groupBy; the scalar total rides a 1-row broadcast cross join "
    "(q238's idiom). Two keyed shuffles + one vocab join, no "
    "floats, no UDFs — a 100 TB surprisal pass is a token shuffle "
    "plus a doc reduce",
)
def q272_unigram_surprisal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.text import nonempty_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(nonempty_tokens(F.col("text"))).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("total"))
    bits = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.expr("CAST(length(bin(total DIV c)) - 1 AS BIGINT)").alias(
            "b"
        ),
    )
    return (
        toks.join(bits, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("b").cast("long").alias("surprisal_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "surprisal_bits",
            F.expr(
                "CAST(surprisal_bits * 1000 DIV n_tokens AS BIGINT)"
            ).alias("mean_millibits"),
        )
    )


@register(
    "q275_mrr_eval",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
          WHERE vec_id < 8),
    b AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 8),
    r AS (SELECT q.qid, b.label, q.qlabel,
                 row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY round(list_dot_product(b.v, q.qv)
                              / (sqrt(list_dot_product(b.v, b.v))
                                 * sqrt(list_dot_product(q.qv, q.qv))),
                              6) DESC, b.vec_id ASC) AS rnk
          FROM b, q)
    SELECT qid AS query_id,
           CAST(min(rnk) AS BIGINT) AS first_rank,
           CAST(1000000 // min(rnk) AS BIGINT) AS rr_ppm
    FROM r WHERE label = qlabel GROUP BY qid
    """,
    doc="reciprocal-rank retrieval eval — the ranking-quality "
    "complement of q176's recall@5 (recall asks 'did the relevant "
    "items make the cut'; RR asks 'HOW HIGH does the first one "
    "sit'): per query vector, rank the whole base by the shared "
    "round-6 cosine + id tie-break and take the first SAME-LABEL "
    "hit, rr_ppm = 1e6 DIV first_rank (exact integer; averaging "
    "the 8 rows gives MRR). First ranks spread 2-32 on the "
    "fixtures, so the gate is non-vacuous. Query side broadcast, "
    "one window per query partition — the same scale shape as the "
    "brute-force scorer it reuses",
)
def q275_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.similarity import (
        as_double,
        norm,
        pair_cosine,
        scatter,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        as_double(F.col("embedding")).alias("qv"),
    ).withColumn("nqv", norm(F.col("qv")))
    base = scatter(emb.filter(F.col("vec_id") >= 8)).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    scored = base.crossJoin(F.broadcast(q)).withColumn(
        "cos",
        F.round(
            pair_cosine(
                F.col("v"), F.col("nv"), F.col("qv"), F.col("nqv")
            ),
            6,
        ),
    )
    w = W.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("label") == F.col("qlabel"))
        .groupBy(F.col("qid").alias("query_id"))
        .agg(F.min("rnk").cast("long").alias("first_rank"))
        .select(
            "query_id",
            "first_rank",
            F.expr("CAST(1000000 DIV first_rank AS BIGINT)").alias(
                "rr_ppm"
            ),
        )
    )


_BM25_QUERY = ["dup", "key", "batch"]
_BM25_K1_M = 1200
_BM25_B_M = 750


def _q276_oracle() -> str:
    """Mirror of functions/text.py:bm25_search's integer formula with
    the corpus stats computed in SQL instead of collected literals —
    identical values, identical DIV order."""
    tok = "list_filter(string_split(text, ' '), x -> x <> '')"
    norm = (
        f"({1000 - _BM25_B_M} + {_BM25_B_M} * len(t) * n_docs // tot)"
    )
    terms = []
    for i, w in enumerate(_BM25_QUERY):
        tf = f"len(list_filter(t, x -> x = '{w}'))"
        sat = (
            f"({tf} * {(_BM25_K1_M + 1000) * 1000000} "
            f"// ({tf} * 1000 + ({_BM25_K1_M} * {norm}) // 1000))"
        )
        idf = f"((n_docs - df{i} + 1) * 1000 // (df{i} + 1))"
        terms.append(f"{sat} * {idf}")
    score = " + ".join(terms)
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(t, '{w}') THEN 1 ELSE 0 END)"
        f" AS df{i}"
        for i, w in enumerate(_BM25_QUERY)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {tok} AS t FROM documents),
    stats AS (SELECT count(*) AS n_docs, sum(len(t)) AS tot,
                     {dfs}
              FROM toks),
    scored AS (
        SELECT doc_id, len(t) AS dl, {score} AS score
        FROM toks, stats)
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, CAST(score AS BIGINT) AS score
    FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """


@register(
    "q276_bm25_rank",
    _q276_oracle(),
    doc="TRUE BM25 retrieval (functions/text.py:bm25_search, Robertson "
    "& Walker's Okapi weighting) for the query {dup, key, batch} — "
    "the length-normalized tf SATURATION q178's plain tf*idf lacks, "
    "in exact integer arithmetic: sat_ppm = tf*(k1+1)*1e6 DIV "
    "(tf*1000 + k1*((1-b) + b*dl*N DIV total_tokens)) with "
    "k1=1.2/b=0.75 as milli-integers and the rational Robertson idf "
    "(N-df+1)*1000 DIV (df+1) — log-free so the ranking is "
    "bit-identical across engines (documented delta: per-term "
    "df-ordering identical to log-BM25, cross-term weighting "
    "rational instead of logarithmic). 'dup' is rare (df 25/500) vs "
    "'key'/'batch' (df ~400), so idf spans 75x and saturation + "
    "length normalization decide the order within the dup-containing "
    "set — the gate is non-vacuous on both BM25 components. Pass 1: "
    "ONE corpus scan for N/total_tokens/dfs, inlined as literals; "
    "pass 2: pure projection + TakeOrdered top-10 (zero joins, zero "
    "corpus shuffles; plan-gated)",
)
def q276_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bm25_search(
        docs,
        "doc_id",
        "text",
        _BM25_QUERY,
        k=10,
        k1_milli=_BM25_K1_M,
        b_milli=_BM25_B_M,
    )


@register(
    "q279_map_eval",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
          WHERE vec_id < 8),
    b AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 8),
    r AS (SELECT q.qid, b.label, q.qlabel,
                 row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY round(list_dot_product(b.v, q.qv)
                              / (sqrt(list_dot_product(b.v, b.v))
                                 * sqrt(list_dot_product(q.qv, q.qv))),
                              6) DESC, b.vec_id ASC) AS rnk
          FROM b, q),
    h AS (SELECT qid, rnk,
                 row_number() OVER (
                     PARTITION BY qid ORDER BY rnk) AS j
          FROM r WHERE label = qlabel AND rnk <= 10),
    agg AS (SELECT qid, count(*) AS n_rel_topk,
                   sum(j * 1000000 // rnk) AS s
            FROM h GROUP BY qid),
    rt AS (SELECT q.qid, count(*) AS r_total
           FROM b JOIN q ON b.label = q.qlabel GROUP BY q.qid)
    SELECT rt.qid AS query_id,
           CAST(coalesce(agg.n_rel_topk, 0) AS BIGINT) AS n_rel_topk,
           CAST(coalesce(agg.s // least(greatest(rt.r_total, 1), 10), 0)
                AS BIGINT) AS ap_ppm
    FROM rt LEFT JOIN agg ON rt.qid = agg.qid
    """,
    doc="mean-average-precision retrieval eval — completes the "
    "retrieval-quality trio (q176 recall@5: did the relevant items "
    "make the cut; q275 MRR: how high is the FIRST one; MAP@10: how "
    "well is the WHOLE relevant set ordered): per query vector, the "
    "j-th same-label hit at rank r_j in the top-10 contributes "
    "precision@r_j = j*1e6 DIV r_j, and ap_ppm = Σ_j prec_j DIV "
    "min(R_total, 10) — the standard AP@k normalization, exact "
    "integers after the shared round-6-cosine + id tie-break "
    "ranking. Queries whose top-10 holds no relevant item emit "
    "ap_ppm = 0 (left join from r_total keeps them); a query whose "
    "label has ZERO same-label base vectors is omitted entirely — "
    "r_total is an inner join on label, identically in the oracle "
    "(on this fixture every label has base vectors, so all 8 rows "
    "emit; ADVICE r12 contract note). Query side broadcast, "
    "one window per query partition — q275's scale shape; averaging "
    "the 8 rows gives MAP",
)
def q279_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.similarity import (
        as_double,
        norm,
        pair_cosine,
        scatter,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        as_double(F.col("embedding")).alias("qv"),
    ).withColumn("nqv", norm(F.col("qv")))
    base = scatter(emb.filter(F.col("vec_id") >= 8)).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    scored = base.crossJoin(F.broadcast(q)).withColumn(
        "cos",
        F.round(
            pair_cosine(
                F.col("v"), F.col("nv"), F.col("qv"), F.col("nqv")
            ),
            6,
        ),
    )
    wr = W.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(wr))
    wj = W.partitionBy("qid").orderBy(F.col("rnk").asc())
    hits = (
        ranked.filter(
            (F.col("label") == F.col("qlabel")) & (F.col("rnk") <= 10)
        )
        .withColumn("j", F.row_number().over(wj))
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rel_topk"),
            F.sum(F.expr("j * 1000000 DIV rnk")).alias("s"),
        )
    )
    r_total = (
        base.groupBy(F.col("label").alias("qlabel"))
        .agg(F.count(F.lit(1)).alias("r_total"))
        .join(
            q.select("qid", "qlabel"), "qlabel"
        )
        .select("qid", "r_total")
    )
    return (
        r_total.join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_rel_topk"), F.lit(0))
            .cast("long")
            .alias("n_rel_topk"),
            F.coalesce(
                F.expr("s DIV least(greatest(r_total, 1), 10)"),
                F.lit(0),
            )
            .cast("long")
            .alias("ap_ppm"),
        )
    )


@register(
    "q280_bigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
    occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM occ GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
    bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
           FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                 FROM toks)),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
           FROM bg GROUP BY w1, w2),
    bb AS (SELECT bc.w1, bc.w2,
                  CAST(length(bin(u.c // bc.cb)) - 1 AS BIGINT) AS b
           FROM bc JOIN uni u ON u.tok = bc.w1),
    ub AS (SELECT tok,
                  CAST(length(bin(total // c)) - 1 AS BIGINT) AS b
           FROM uni CROSS JOIN tot),
    fb AS (SELECT x.doc_id, ub.b
           FROM (SELECT doc_id, t[1] AS tok FROM toks
                 WHERE len(t) >= 1) x
           JOIN ub ON ub.tok = x.tok),
    sb AS (SELECT bg.doc_id, CAST(sum(bb.b) AS BIGINT) AS s
           FROM bg JOIN bb ON bb.w1 = bg.w1 AND bb.w2 = bg.w2
           GROUP BY bg.doc_id)
    SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(fb.b + coalesce(sb.s, 0) AS BIGINT) AS surprisal_bits,
           CAST((fb.b + coalesce(sb.s, 0)) * 1000 // len(t.t)
                AS BIGINT) AS mean_millibits
    FROM toks t JOIN fb ON fb.doc_id = t.doc_id
    LEFT JOIN sb ON sb.doc_id = t.doc_id
    WHERE len(t.t) >= 1
    """,
    doc="per-doc BIGRAM-conditional surprisal — q272's context-"
    "sensitive extension (the 2-gram LM member of the perplexity-"
    "filter family): the first token pays the unigram cost "
    "floor_log2(N_total DIV cnt(w)), every later token pays the "
    "CONDITIONAL cost floor_log2(cnt(prev) DIV cnt(prev, cur)) — "
    "cnt(prev) >= cnt(prev, cur) by construction, so bits >= 0. "
    "Context-sensitivity is the gate: templated docs whose bigrams "
    "repeat verbatim score far below q272 on the SAME unigram "
    "multiset. floor-log2 as length(bin(x)) - 1, integer-exact "
    "(q272's rationale). Plan: bigrams form IN-ROW (zip_with "
    "against the array's own shift, q177's idiom — no positional "
    "self-join), per-TYPE bits computed once on the bigram-vocab "
    "table joined to vocab-sized unigram counts, then one (w1, w2) "
    "join back + doc groupBy; three keyed shuffles, no floats, no "
    "UDFs — a 100 TB pass is a bigram shuffle plus a doc reduce",
)
def q280_bigram_surprisal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.text import nonempty_tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", nonempty_tokens(F.col("text")).alias("tk")
    ).filter(F.size("tk") >= 1)
    occ = docs.select(
        "doc_id", F.explode(F.col("tk")).alias("tok")
    )
    uni = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = uni.agg(F.sum("c").cast("long").alias("total"))
    ub = uni.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.expr("CAST(length(bin(total DIV c)) - 1 AS BIGINT)").alias(
            "b"
        ),
    )
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(tk, 1, greatest(0, size(tk) - 1))"),
                F.expr("slice(tk, 2, greatest(0, size(tk) - 1))"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    bb = bc.join(
        uni.select(F.col("tok").alias("w1"), "c"), "w1"
    ).select(
        "w1",
        "w2",
        F.expr("CAST(length(bin(c DIV cb)) - 1 AS BIGINT)").alias("b"),
    )
    fb = docs.select(
        "doc_id", F.element_at("tk", 1).alias("tok")
    ).join(ub, "tok").select("doc_id", F.col("b").alias("fb"))
    sb = (
        bg.join(bb, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.sum("b").cast("long").alias("s"))
    )
    return (
        docs.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
        .join(fb, "doc_id")
        .join(sb, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("fb") + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("surprisal_bits"),
            F.expr(
                "CAST((fb + coalesce(s, 0)) * 1000 DIV n_tokens "
                "AS BIGINT)"
            ).alias("mean_millibits"),
        )
    )


@register(
    "q283_prototypicality_band",
    """
    WITH idx AS (
        SELECT label, embedding AS em,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings),
    cs AS (SELECT label, i,
                  sum(CAST(floor(CAST(em[i] AS DOUBLE) * 1000000 + 0.5)
                           AS BIGINT)) AS q,
                  count(*) AS n
           FROM idx GROUP BY label, i),
    cen AS (SELECT label,
                   list(CAST(q AS DOUBLE) / n / 1000000 ORDER BY i)
                       AS cl
            FROM cs GROUP BY label),
    sc AS (SELECT v.vec_id, v.label,
                  round(list_dot_product(v.em, c.cl)
                        / (sqrt(list_dot_product(v.em, v.em))
                           * sqrt(list_dot_product(c.cl, c.cl))),
                        6) AS cos
           FROM (SELECT vec_id, label, embedding::DOUBLE[] AS em
                 FROM embeddings) v
           JOIN cen c ON c.label = v.label),
    r AS (SELECT vec_id, label,
                 row_number() OVER (
                     PARTITION BY label
                     ORDER BY cos DESC, vec_id ASC) AS r,
                 count(*) OVER (PARTITION BY label) AS n
          FROM sc)
    SELECT vec_id, label, CAST(r AS BIGINT) AS r,
           CAST(n AS BIGINT) AS n_label
    FROM r WHERE r > n // 10 AND r <= n - n // 10
    """,
    doc="prototypicality BAND filter over embeddings (the D4 / "
    "SSL-prototypes pruning recipe, Sorscher et al. 2022 + Abbas et "
    "al. 2023 methodology): rank every vector within its label by "
    "cosine to the LABEL CENTROID and drop BOTH tails — the top "
    "decile (most prototypical = redundant near the cluster center) "
    "and the bottom decile (far outliers = likely noise), keeping "
    "the informative middle band. Centroids come from q145's exact "
    "integer micro-unit sums (engine-identical), converted to "
    "doubles by the SAME IEEE division on both engines and inlined "
    "as per-label array literals, so scoring is a ZERO-JOIN "
    "projection (10 labels x 64 dims of literals); ranking uses the "
    "shared round-6-cosine + vec_id tie-break (q275's determinism "
    "contract) and the output is integers only. One label-window "
    "rank, band edges by integer DIV — at 100 TB this is one "
    "centroid pass + one scan + one label-keyed window",
)
def q283_prototypicality_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.similarity import (
        as_double,
        norm,
        pair_cosine,
        scatter,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select(
            "label",
            F.posexplode(as_double(F.col("embedding"))).alias("i", "x"),
        )
        .groupBy("label", "i")
        .agg(
            F.sum(
                F.expr("CAST(floor(x * 1000000 + 0.5) AS BIGINT)")
            ).alias("q"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    cents: dict = {}
    for row in qs:
        # round q to double BEFORE dividing, matching the oracle's
        # CAST(q AS DOUBLE) / n operation order — Python's int/int is
        # correctly-rounded exact-rational division and can differ by
        # 1 ulp once q exceeds 2^53 (ADVICE r12)
        cents.setdefault(int(row["label"]), {})[int(row["i"])] = (
            float(int(row["q"])) / int(row["n"]) / 1000000
        )
    map_args = []
    for lbl in sorted(cents):
        dims = cents[lbl]
        arr = [dims[i] for i in range(len(dims))]
        map_args.append(F.lit(lbl))
        map_args.append(F.array(*[F.lit(x) for x in arr]))
    cmap = F.create_map(*map_args)
    scored = scatter(emb).select(
        "vec_id",
        "label",
        as_double(F.col("embedding")).alias("v"),
        cmap[F.col("label")].alias("c"),
    ).select(
        "vec_id",
        "label",
        F.round(
            pair_cosine(
                F.col("v"), norm(F.col("v")), F.col("c"), norm(F.col("c"))
            ),
            6,
        ).alias("cos"),
    )
    wr = W.partitionBy("label").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    wn = W.partitionBy("label")
    ranked = scored.select(
        "vec_id",
        "label",
        F.row_number().over(wr).cast("long").alias("r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n_label"),
    )
    return ranked.filter(
        (F.col("r") > F.expr("n_label DIV 10"))
        & (F.col("r") <= F.expr("n_label - n_label DIV 10"))
    )


@register(
    "q288_hard_negatives",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
          WHERE vec_id < 8),
    b AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 8),
    r AS (SELECT q.qid, b.vec_id, b.label,
                 row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY round(list_dot_product(b.v, q.qv)
                              / (sqrt(list_dot_product(b.v, b.v))
                                 * sqrt(list_dot_product(q.qv, q.qv))),
                              6) DESC, b.vec_id ASC) AS rnk
          FROM b, q WHERE b.label <> q.qlabel)
    SELECT qid AS query_id, vec_id AS neg_id,
           CAST(label AS BIGINT) AS neg_label,
           CAST(rnk AS BIGINT) AS hard_rank
    FROM r WHERE rnk <= 5
    """,
    doc="HARD-NEGATIVE mining for contrastive training pairs (the "
    "dense-retrieval data-prep step, Karpukhin et al. 2020 DPR "
    "methodology): per anchor vector, the 5 highest-cosine "
    "WRONG-label base vectors — the negatives that sit closest to "
    "the decision boundary, where random negatives are trivially "
    "easy and contribute no gradient. Ranking restricted to "
    "label <> qlabel BEFORE the window (the semi-join filter rides "
    "the broadcast), then the shared round-6-cosine + id tie-break "
    "(q275's determinism contract); output integers only. Completes "
    "the embedding-pair prep set: positives from near-dup/ANN "
    "(q27/q42/q96), informative middles from the band filter "
    "(q283), hard negatives here. Query side broadcast, one window "
    "per anchor partition — the brute-force scorer's scale shape; "
    "at serving scale the base side is IVF-pruned first (q37)",
)
def q288_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from striot_spark.functions.similarity import (
        as_double,
        norm,
        pair_cosine,
        scatter,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        as_double(F.col("embedding")).alias("qv"),
    ).withColumn("nqv", norm(F.col("qv")))
    base = scatter(emb.filter(F.col("vec_id") >= 8)).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .withColumn(
            "cos",
            F.round(
                pair_cosine(
                    F.col("v"), F.col("nv"), F.col("qv"), F.col("nqv")
                ),
                6,
            ),
        )
    )
    wr = W.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neg_id"),
            F.col("label").cast("long").alias("neg_label"),
            F.col("rnk").cast("long").alias("hard_rank"),
        )
    )


@register(
    "q289_frequent_trigrams",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
    g AS (SELECT doc_id,
                 t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                FROM toks)
          WHERE len(t) >= 3)
    SELECT gram,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram ASC LIMIT 20
    """,
    doc="corpus-level frequent TOKEN trigram mining: the top-20 "
    "3-token phrases by occurrence with their document frequency — "
    "the boilerplate-template detector (repeated navigation strings, "
    "license headers, SEO spam templates) that feeds a removal "
    "blocklist in C4/CCNet-style cleaning; the corpus-global "
    "complement of q70's intra-doc repetition and q215's in-row "
    "char-4-gram permille, and the text counterpart of q208's EVENT "
    "trigrams. Trigrams form IN-ROW (transform over an index "
    "sequence, zero self-joins), one (gram) groupBy with map-side "
    "partials carries both counts, top-20 under the total "
    "(count DESC, gram ASC) order via TakeOrdered — at 100 TB this "
    "is one token-window shuffle, the same budget as the vocab "
    "build. Fixture spread probed before registration (max count "
    "8-9, thousands of grams with count >= 2 at BOTH scales — "
    "4/5-grams were too flat; vacuous-gate discipline)",
)
def q289_frequent_trigrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.text import nonempty_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", nonempty_tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 3)
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3), i -> "
                "concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("gram"),
    )
    return (
        g.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(20)
    )
