"""Registry wrappers + DuckDB oracles for the LLM-data-pipeline
operators (SURVEY.md §2 C1-C11).

The oracles are programmatically generated SQL built from the same
sketch parameters (k, hash count, bands, thresholds) via the sql_*
twins in functions/ — structurally independent implementations (SQL
text vs. Column API) that must agree bit-for-bit because both are
anchored on md5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import vectors as V
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import textops as X
from ..session import prep, rotate_cached, spread
from ..sources.tables import load

# ---------------------------------------------------------------- C1


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return D.exact_dedup(load(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash,
       min(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS is_duplicate
FROM documents
"""

# ---------------------------------------------------------------- C2

# τ sits inside the banding curve's high-recall region ON PURPOSE:
# with r = n/bands = 4 rows/band, P(candidate|j) = 1-(1-j⁴)^b ≈ 80% at
# j=0.8 (b=3) and ≈ 96% at j=0.9.  dedup_lsh_recall MEASURED the r1
# setting (τ=0.25) at 1.6% recall — the result was an arbitrary sliver
# of the corpus's template-similar band, not a dedup.  τ=0.8 is the
# near-dup contract minhash banding actually delivers (measured recall
# 1.0 on this corpus's bimodal pair distribution: j≥0.8 pairs are
# j≥0.9).  (n, bands) re-anchored 16/4 → 12/3 on r3 measurement at
# sf0.1: SAME r=4 selectivity and identical verified pairs (256), but
# 25% fewer digests and fewer OR-noise candidates (39.6k vs 49.2k) —
# 2.6 s → 2.0 s steady.  The rejected direction, r=3 (12/4), keeps the
# hash saving but 5.8×es the candidate noise (283k) and got SLOWER.
_MH_K, _MH_N, _MH_BANDS, _MH_TAU = 5, 12, 3, 0.8


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return D.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        k=_MH_K,
        n_hashes=_MH_N,
        bands=_MH_BANDS,
        threshold=_MH_TAU,
    )


def _minhash_sql(src: str = "documents") -> str:
    # ``src``: the relation the pairs compute OVER — the funnel key
    # (C76) runs the SAME pipeline on the admitted subset, where the
    # bucket cap must count only admitted members
    r = _MH_N // _MH_BANDS
    raw = H.sql_char_shingles("text", _MH_K)
    sh = f"list_distinct(list_transform({raw}, s -> {H.sql_hash64('s', 'sh')}))"
    mh = H.sql_minhash_array("sh", _MH_N)
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, {H.sql_band_key('mh', b, r)} AS bkey FROM mh"
        for b in range(_MH_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS sh FROM {src}
),
mh AS (
  SELECT doc_id, sh, {mh} AS mh FROM sh
),
banded AS (
  {band_selects}
),
sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bucket_n FROM banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       len(list_intersect(sh_a, sh_b))::DOUBLE / len(list_distinct(sh_a || sh_b))::DOUBLE AS jaccard
FROM cand
WHERE len(list_intersect(sh_a, sh_b))::DOUBLE / len(list_distinct(sh_a || sh_b))::DOUBLE >= {_MH_TAU}
"""


# ---------------------------------------------------------------- C3


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return D.simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


def _simhash_sql() -> str:
    sim_expr = H.sql_simhash32(H.sql_tokens("text"))
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {8 * b}) & 255 AS bval FROM sims"
        for b in range(4)
    )
    return f"""
WITH sims AS (
  SELECT doc_id, {sim_expr} AS simhash FROM documents
),
banded AS (
  {band_selects}
),
sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bval) AS bucket_n FROM banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {H.sql_hamming32('a.simhash', 'b.simhash')} AS hamming
FROM sized a JOIN sized b
  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
WHERE {H.sql_hamming32('a.simhash', 'b.simhash')} <= 3
"""


# ---------------------------------------------------------------- C4

_TJ_TAU = 0.9


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return D.token_jaccard_pairs(
        load(spark, sf_dir, "documents"), block_col="lang", threshold=_TJ_TAU
    )


def _token_jaccard_sql(tau: float = _TJ_TAU) -> str:
    toks = f"list_distinct({H.sql_tokens('text')})"
    return f"""
WITH t0 AS (
  SELECT doc_id, lang AS block, {toks} AS tok FROM documents
),
t AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY block) AS block_n FROM t0
  ) WHERE block_n <= {D.DEFAULT_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.tok, b.tok))::DOUBLE / len(list_distinct(a.tok || b.tok))::DOUBLE AS jaccard
FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.tok, b.tok))::DOUBLE / len(list_distinct(a.tok || b.tok))::DOUBLE >= {tau}
"""


# ---------------------------------------------------------------- C5

_EC_TAU = 0.4

def _sql_bucket(dims: list[int]) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {2**i} ELSE 0 END)"
        for i, d in enumerate(dims)
    )


_SQL_BUCKET = _sql_bucket(D.EMB_BUCKET_DIMS)

# banded candidate CTEs shared by the dedup oracle and the recall eval:
# expects a CTE named `{src}` with (vec_id, embedding available via the
# base table) — built over a named source table expression
def _sql_emb_banded_cand(src: str) -> str:
    band_selects = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, CAST({_sql_bucket(dims)} AS INTEGER) AS bval FROM {src}"
        for b, dims in enumerate(D.EMB_BANDS)
    )
    return f"""
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM (
    SELECT * FROM (
      SELECT *, count(*) OVER (PARTITION BY band, bval) AS bucket_n
      FROM ({band_selects})
    ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
  ) a JOIN (
    SELECT * FROM (
      SELECT *, count(*) OVER (PARTITION BY band, bval) AS bucket_n
      FROM ({band_selects})
    ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
  ) b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return D.embedding_cosine_pairs(load(spark, sf_dir, "embeddings"), threshold=_EC_TAU)


def _embedding_cosine_sql() -> str:
    cos = V.sql_cosine("a.v", "b.v")
    return f"""
WITH src AS (SELECT vec_id, embedding FROM embeddings),
cand AS (
{_sql_emb_banded_cand("src")}
),
e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
)
SELECT c.vec_a, c.vec_b, {cos} AS cosine
FROM cand c
JOIN e a ON a.vec_id = c.vec_a
JOIN e b ON b.vec_id = c.vec_b
WHERE {cos} >= {_EC_TAU}
"""


# ---------------------------------------------------------------- C6

_ANN_NQ, _ANN_K = 10, 5


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        embs.filter(F.col("vec_id") < _ANN_NQ), embs, k=_ANN_K
    )


def _ann_bruteforce_sql() -> str:
    cos = V.sql_cosine("q.v", "c.v")
    return f"""
WITH e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM (SELECT * FROM e WHERE vec_id < {_ANN_NQ}) q
  JOIN e c ON q.vec_id <> c.vec_id
)
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {_ANN_K}
"""


# ---------------------------------------------------------------- C7


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    return S.lsh_topk(embs.filter(F.col("vec_id") < _ANN_NQ), embs, k=_ANN_K)


def _ann_lsh_sql() -> str:
    cos = V.sql_cosine("q.v", "c.v")
    return f"""
WITH e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v,
         CAST({_SQL_BUCKET} AS INTEGER) AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM (SELECT * FROM e WHERE vec_id < {_ANN_NQ}) q
  JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {_ANN_K}
"""


# ---------------------------------------------------------------- C8


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    lang, score = X.predict_lang(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang.alias("predicted_lang"),
        score.cast("int").alias("stopword_hits"),
    )


def _langid_sql() -> str:
    lang_expr, score_expr = X.sql_predict_lang(H.sql_tokens("text"))
    return f"""
SELECT doc_id, lang AS labeled_lang,
       {lang_expr} AS predicted_lang,
       CAST({score_expr} AS INTEGER) AS stopword_hits
FROM documents
"""


# ---------------------------------------------------------------- C9


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    feats = X.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(name) for name, c in feats.items()],
        X.quality_score(feats).alias("quality"),
    )


def _quality_sql() -> str:
    toks = H.sql_tokens("text")
    n_stop = X.sql_hits(toks, X.LANG_PROFILES["en"])
    return f"""
SELECT doc_id,
  CAST(len(text) AS INTEGER) AS n_chars,
  CAST(len({toks}) AS INTEGER) AS n_tokens,
  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE / len(text) AS punct_ratio,
  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / len(text) AS digit_ratio,
  {n_stop}::DOUBLE / len({toks}) AS stopword_ratio,
  (len(text) - (len({toks}) - 1))::DOUBLE / len({toks}) AS mean_word_len,
  (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE / len(text)) * 0.25
  + (1.0 - len(regexp_extract_all(text, '[0-9]'))::DOUBLE / len(text)) * 0.25
  + ({n_stop}::DOUBLE / len({toks})) * 0.25
  + (CASE WHEN (len(text) - (len({toks}) - 1))::DOUBLE / len({toks}) >= 3.0
          AND (len(text) - (len({toks}) - 1))::DOUBLE / len({toks}) <= 10.0
     THEN 0.25 ELSE 0.0 END) AS quality
FROM documents
"""


# ---------------------------------------------------------------- C10


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    counts = X.token_counts(F.col("text"))
    return docs.select("doc_id", *[c.alias(name) for name, c in counts.items()])


def _token_count_sql() -> str:
    return f"""
SELECT doc_id,
  CAST(len({H.sql_tokens('text')}) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '{X.BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
  CAST(len(text) AS INTEGER) AS n_chars
FROM documents
"""


# ---------------------------------------------------------------- C11

_FP_K, _FP_W = 8, 4


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    fps = X.winnow_fingerprints(F.col("text"), k=_FP_K, w=_FP_W)
    return docs.select(
        "doc_id",
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
    )


def _fingerprint_sql() -> str:
    fps = X.sql_winnow_fingerprints("text", _FP_K, _FP_W)
    return f"""
SELECT doc_id,
  CAST(len({fps}) AS INTEGER) AS n_fingerprints,
  list_min({fps}) AS fp_min,
  list_max({fps}) AS fp_max
FROM documents
"""


# ---------------------------------------------------------------- C13


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS (C2 minhash-LSH) → dedup CLUSTERS via distributed
    min-label propagation; cluster_id = min doc_id of the component."""
    prep(spark)
    pairs = D.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU,
    ).select("doc_a", "doc_b")
    return G.connected_components(pairs)


def _clusters_sql(src: str = "documents") -> str:
    return f"""
WITH RECURSIVE
base AS (SELECT doc_a, doc_b FROM ({_minhash_sql(src)}) mh),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM base
  UNION
  SELECT doc_b AS u, doc_a AS v FROM base
),
reach AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
"""


# ---------------------------------------------------------------- C14


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    feats = X.pii_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_emails"].alias("n_emails"),
        feats["n_phones"].alias("n_phones"),
        F.md5(feats["redacted"]).alias("redacted_hash"),
    )


def _pii_sql() -> str:
    return f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{X.EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text, '{X.PHONE_RE}')) AS INTEGER) AS n_phones,
  md5(regexp_replace(regexp_replace(text, '{X.EMAIL_RE}', '<EMAIL>', 'g'),
                     '{X.PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
FROM documents
"""


# ---------------------------------------------------------------- C15

_TOPK_TERMS = 20


def doc_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k terms by document frequency — the inverted-index /
    vocabulary primitive.  Distinct-tokens-per-doc explode → count —
    partial aggregation makes the shuffle |vocab|-sized, not
    corpus-sized; deterministic (df DESC, term) tiebreak."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.select(
            F.explode(F.array_distinct(H.tokens(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), "term")
        .limit(_TOPK_TERMS)
    )


def _term_topk_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({H.sql_tokens('text')})) AS term FROM documents
)
SELECT term, count(*) AS n_docs FROM t
GROUP BY term ORDER BY n_docs DESC, term LIMIT {_TOPK_TERMS}
"""


# ---------------------------------------------------------------- C16


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (fixed-point-deterministic)."""
    prep(spark)
    cents = S.label_centroids(spread(load(spark, sf_dir, "embeddings")))
    return cents.select(
        "label", F.posexplode("centroid").alias("dim", "centroid_val")
    ).select("label", (F.col("dim") + 1).alias("dim"), "centroid_val")


_CENT_SQL_BASE = f"""
e AS (
  SELECT vec_id, label, {V.sql_to_double('embedding')} AS v FROM embeddings
),
comp AS (
  SELECT label, t.dim AS dim, CAST(floor(v[t.dim] * {S.QUANT}) AS BIGINT) AS q
  FROM e, UNNEST(range(1, len(v)+1)) AS t(dim)
),
cent_dim AS (
  SELECT label, dim, CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / ({S.QUANT} * count(*)) AS c
  FROM comp GROUP BY label, dim
)"""


def _centroids_sql() -> str:
    return f"""
WITH {_CENT_SQL_BASE}
SELECT label, CAST(dim AS INTEGER) AS dim, c AS centroid_val FROM cent_dim
"""


# ---------------------------------------------------------------- C17


# nprobe=2 per ann_recall_eval's measurement (sf0.1: recall@5 0.12 at
# nprobe=1 → 0.28 at nprobe=2 for 2× in-cell scoring) — on this
# synthetic corpus labels are weak clusters, so probing one cell is not
# a defensible default; the eval key keeps both settings measurable.
_IVF_NPROBE = 2


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        embs.filter(F.col("vec_id") < _ANN_NQ), embs, k=_ANN_K, nprobe=_IVF_NPROBE
    )


def _ann_ivf_sql(nprobe: int = 1) -> str:
    cos_probe = V.sql_cosine("q.v", "cent.cv")
    cos = V.sql_cosine("q.v", "c.v")
    return f"""
WITH {_CENT_SQL_BASE},
cent AS (
  SELECT label, list(c ORDER BY dim) AS cv FROM cent_dim GROUP BY label
),
probe AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, cent.label,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos_probe} DESC, cent.label) AS rn
    FROM (SELECT * FROM e WHERE vec_id < {_ANN_NQ}) q CROSS JOIN cent
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM (SELECT * FROM e WHERE vec_id < {_ANN_NQ}) q
  JOIN probe p ON p.query_id = q.vec_id
  JOIN e c ON c.label = p.label AND c.vec_id <> q.vec_id
)
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {_ANN_K}
"""


# ---------------------------------------------------------------- C18


def corpus_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup accounting: minhash pairs → components → keep
    the min-id member per cluster → per-source kept/dropped counts."""
    prep(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    clusters = G.connected_components(pairs)
    dropped = (F.col("cluster_id").isNotNull()) & (F.col("cluster_id") != F.col("doc_id"))
    return (
        docs.join(clusters, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dropped.cast("long")).alias("n_dropped"),
            F.sum((~dropped).cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


def _dedup_summary_sql() -> str:
    return f"""
WITH clusters AS ({_clusters_sql()})
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
FROM documents LEFT JOIN clusters USING (doc_id)
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------- C19


def corpus_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation rollup: per-source doc counts + mean quality/tokens.
    Means use fixed-point accumulation (floor(q·1e6) summed as longs) so
    the aggregate is order-independent — a float mean would drift with
    partitioning."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    feats = X.quality_features(F.col("text"))
    q = X.quality_score(feats)
    per_doc = docs.select(
        "source",
        F.floor(q * 1_000_000).cast("long").alias("q_micros"),
        feats["n_tokens"].alias("n_tokens"),
    )
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy("source")
        .agg(
            n.alias("n_docs"),
            (F.sum("q_micros").cast("double") / (F.lit(1_000_000) * n)).alias("mean_quality"),
            (F.sum("n_tokens").cast("double") / n).alias("mean_tokens"),
        )
        .orderBy("source")
    )


def _quality_by_source_sql() -> str:
    return f"""
SELECT source, count(*) AS n_docs,
       CAST(CAST(sum(CAST(floor(quality * 1000000) AS BIGINT)) AS VARCHAR) AS DOUBLE) / (1000000 * count(*)) AS mean_quality,
       CAST(CAST(sum(n_tokens) AS VARCHAR) AS DOUBLE) / count(*) AS mean_tokens
FROM ({_quality_sql()}) q JOIN documents USING (doc_id)
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------- C20


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@k of every approximate index
    (sign-LSH, IVF at nprobe=1 and nprobe=2) against the brute-force
    ground truth, per query — the measurement loop every production ANN
    deployment runs before trading accuracy for speed, and the evidence
    behind this engine's nprobe default."""
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < _ANN_NQ)
    # the exact baseline feeds every method/config/width overlap join
    # below — without a pin each consumer replays the full interpreted-
    # cosine cross-join (the dominant cost of these eval keys, r12);
    # the pinned frame is only n_queries·k narrow rows, and the three
    # eval keys share ONE cache entry (identical canonical plan)
    bf = (
        S.brute_force_topk(qs, embs, k=_ANN_K)
        .select("query_id", "neighbor_id")
        .persist()
    )
    rotate_cached("ann_bf_truth", [bf])

    def _method(method: str, ann: DataFrame) -> DataFrame:
        overlap = (
            bf.join(ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        return (
            bf.select("query_id")
            .distinct()
            .join(overlap, "query_id", "left")
            .select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                (F.coalesce("n_overlap", F.lit(0)).cast("double") / _ANN_K).alias(
                    "recall_at_k"
                ),
            )
        )

    return (
        _method("lsh", S.lsh_topk(qs, embs, k=_ANN_K))
        .unionAll(_method("ivf_p1", S.ivf_topk(qs, embs, k=_ANN_K, nprobe=1)))
        .unionAll(_method("ivf_p2", S.ivf_topk(qs, embs, k=_ANN_K, nprobe=2)))
        .unionAll(
            _method(
                "ivf_kmeans_p2",
                S.kmeans_ivf_topk(
                    qs, embs, k=_ANN_K, nprobe=2, km_k=_KM_K, iters=_KM_ITERS
                ),
            )
        )
        .orderBy("method", "query_id")
    )


def _ann_recall_sql() -> str:
    def _method(method: str, sub: str) -> str:
        return f"""
  SELECT '{method}' AS method, q.query_id,
         COALESCE(o.n_overlap, 0) AS n_overlap,
         CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / {_ANN_K} AS recall_at_k
  FROM (SELECT DISTINCT query_id FROM bf) q
  LEFT JOIN (
    SELECT bf.query_id, count(*) AS n_overlap
    FROM bf JOIN ({sub}) a USING (query_id, neighbor_id)
    GROUP BY bf.query_id
  ) o USING (query_id)"""

    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({_ann_bruteforce_sql()}) b)
SELECT * FROM (
{_method("lsh", _ann_lsh_sql())}
  UNION ALL
{_method("ivf_p1", _ann_ivf_sql(nprobe=1))}
  UNION ALL
{_method("ivf_p2", _ann_ivf_sql(nprobe=2))}
  UNION ALL
{_method("ivf_kmeans_p2", _ann_ivf_kmeans_sql(nprobe=2))}
)
ORDER BY method, query_id
"""


# ---------------------------------------------------------------- C12


def multimodal_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + typed metadata → Arrow-batched feature
    extraction over mapInPandas.

    The gated projection flattens the feature vector into scalar columns
    (f0..f3): the driver's canonicalizer sorts every column with pandas,
    which cannot order array cells (r2 gate error: ``unhashable type:
    'list'``).  The array-valued operator output stays available via
    operators/multimodal.py extract_features.

    Content-gated since r4: the oracle replays the md5-derived features
    digit-by-digit in SQL (MULTIMODAL_STUB_SQL), so the Arrow-batched
    mapInPandas path — batch shape, byte counts, checksums, feature
    floats — is value-verified, not just row-counted."""
    prep(spark)
    media = M.as_media_table(spread(load(spark, sf_dir, "documents")))
    feats = M.extract_features(media)
    return feats.select(
        "doc_id",
        "modality",
        "n_bytes",
        "checksum",
        *[F.col("feature").getItem(i).alias(f"f{i}") for i in range(4)],
    )


MULTIMODAL_STUB_SQL = """
WITH hx AS (
  SELECT doc_id,
         (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         md5(text) AS checksum
  FROM documents
)
SELECT doc_id, modality, n_bytes, checksum,
       ((strpos('0123456789abcdef', substr(checksum, 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(checksum, 2, 1)) - 1)) / 255.0 AS f0,
       ((strpos('0123456789abcdef', substr(checksum, 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(checksum, 4, 1)) - 1)) / 255.0 AS f1,
       ((strpos('0123456789abcdef', substr(checksum, 5, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(checksum, 6, 1)) - 1)) / 255.0 AS f2,
       ((strpos('0123456789abcdef', substr(checksum, 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(checksum, 8, 1)) - 1)) / 255.0 AS f3
FROM hx
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, hash-gated: synthesize genuine PNG/JPEG/WAV/
    MJPEG-AVI payloads per doc (integer content patterns,
    operators/multimodal.py), parse them back with pure-stdlib decoders
    over Arrow-batched mapInPandas, and emit per-file stats.  The
    oracle recomputes every stat from the closed-form content formulas
    — if the PNG chunk walk, zlib inflate, scanline unfilter, JPEG
    huffman decode, RIFF walk, ISO-BMFF box walk, or per-frame MJPEG
    aggregation were wrong, the hash would not match.  Video rows split
    between MJPEG-AVI (r5) and MJPEG-MP4 (r6: ftyp/moov/mdat walk, stbl
    sample tables → per-sample JPEG decode) — same frame formulas, so
    one closed-form oracle covers both containers; H.264 stays declared
    out-of-scope (the stsd walk refuses non-jpeg entries loudly)."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    return M.decode_features(M.synthesize_media(docs))


MULTIMODAL_DECODE_SQL = """
WITH m AS (
  SELECT doc_id, ['image','audio','video'][(doc_id % 3) + 1] AS modality
  FROM documents
),
img AS (
  SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
  FROM m WHERE modality = 'image' AND doc_id % 6 = 0
),
-- jpeg: solid-shade 8x8 blocks; lossy round-trip is closed-form integer
-- arithmetic (DC-only: F00=8*(v-128); dc_q=round_away(F00/16);
-- pixel=clamp(2*dc_q+128)) -- replays operators/multimodal.py exactly
jpg_blocks AS (
  SELECT i.doc_id,
         (i.doc_id * 7 + bx.bx * 11 + by.by * 23) % 256 AS v
  FROM (SELECT doc_id FROM m WHERE modality = 'image' AND doc_id % 6 = 3) i,
       LATERAL (SELECT unnest(range(0, 2)) AS bx) bx,
       LATERAL (SELECT unnest(range(0, 2)) AS by) by
),
jpg_px AS (
  SELECT doc_id,
         least(greatest(2 * (CASE WHEN 8 * (v - 128) >= 0
                  THEN (2 * (8 * (v - 128)) + 16) // 32
                  ELSE -((2 * (8 * (128 - v)) + 16) // 32) END) + 128, 0), 255) AS px
  FROM jpg_blocks
),
jpg_stats AS (
  SELECT doc_id,
         CAST(64 * sum(px) AS BIGINT) AS content_sum,
         CAST(min(px) AS BIGINT) AS content_min,
         CAST(max(px) AS BIGINT) AS content_max
  FROM jpg_px GROUP BY doc_id
),
img_stats AS (
  SELECT i.doc_id,
         CAST(sum((x.x * 7 + y.y * 13 + i.doc_id) % 256) AS BIGINT) AS content_sum,
         CAST(min((x.x * 7 + y.y * 13 + i.doc_id) % 256) AS BIGINT) AS content_min,
         CAST(max((x.x * 7 + y.y * 13 + i.doc_id) % 256) AS BIGINT) AS content_max
  FROM img i,
       LATERAL (SELECT unnest(range(0, i.w)) AS x) x,
       LATERAL (SELECT unnest(range(0, i.h)) AS y) y
  GROUP BY i.doc_id
),
aud AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sr,
         400 + doc_id % 100 AS n
  FROM m WHERE modality = 'audio'
),
aud_stats AS (
  SELECT a.doc_id,
         CAST(sum(((i.i * 17 + a.doc_id * 31) % 65536) - 32768) AS BIGINT) AS content_sum,
         CAST(min(((i.i * 17 + a.doc_id * 31) % 65536) - 32768) AS BIGINT) AS content_min,
         CAST(max(((i.i * 17 + a.doc_id * 31) % 65536) - 32768) AS BIGINT) AS content_max
  FROM aud a, LATERAL (SELECT unnest(range(0, a.n)) AS i) i
  GROUP BY a.doc_id
),
-- MJPEG/AVI (r5): frame f shifts the solid-block shade by f*29; the
-- per-frame lossy round-trip is the same closed-form integer arithmetic
-- as jpg_px, aggregated over 2 + doc_id % 3 frames
avi_blocks AS (
  SELECT i.doc_id, i.nf,
         (i.doc_id * 7 + f.f * 29 + bx.bx * 11 + by.by * 23) % 256 AS v
  FROM (SELECT doc_id, 2 + doc_id % 3 AS nf
        FROM m WHERE modality = 'video') i,
       LATERAL (SELECT unnest(range(0, i.nf)) AS f) f,
       LATERAL (SELECT unnest(range(0, 2)) AS bx) bx,
       LATERAL (SELECT unnest(range(0, 2)) AS by) by
),
avi_px AS (
  SELECT doc_id, nf,
         least(greatest(2 * (CASE WHEN 8 * (v - 128) >= 0
                  THEN (2 * (8 * (v - 128)) + 16) // 32
                  ELSE -((2 * (8 * (128 - v)) + 16) // 32) END) + 128, 0), 255) AS px
  FROM avi_blocks
),
avi_stats AS (
  SELECT doc_id, max(nf) AS nf,
         CAST(64 * sum(px) AS BIGINT) AS content_sum,
         CAST(min(px) AS BIGINT) AS content_min,
         CAST(max(px) AS BIGINT) AS content_max
  FROM avi_px GROUP BY doc_id
)
SELECT i.doc_id, 'image' AS modality, 'png' AS fmt, true AS decoded,
       CAST(i.w AS INTEGER) AS width, CAST(i.h AS INTEGER) AS height,
       CAST(NULL AS INTEGER) AS sample_rate,
       CAST(i.w * i.h AS BIGINT) AS n_units,
       s.content_sum, s.content_min, s.content_max,
       CAST(1 AS BIGINT) AS n_frames
FROM img i JOIN img_stats s USING (doc_id)
UNION ALL
SELECT s.doc_id, 'image', 'jpeg', true,
       16, 16, NULL, CAST(256 AS BIGINT),
       s.content_sum, s.content_min, s.content_max, CAST(1 AS BIGINT)
FROM jpg_stats s
UNION ALL
SELECT a.doc_id, 'audio', 'wav', true,
       NULL, NULL, a.sr, CAST(a.n AS BIGINT),
       s.content_sum, s.content_min, s.content_max, CAST(NULL AS BIGINT)
FROM aud a JOIN aud_stats s USING (doc_id)
UNION ALL
SELECT s.doc_id, 'video', CASE WHEN s.doc_id % 6 = 2 THEN 'avi' ELSE 'mp4' END, true,
       16, 16, NULL, CAST(256 * s.nf AS BIGINT),
       s.content_sum, s.content_min, s.content_max, CAST(s.nf AS BIGINT)
FROM avi_stats s
"""


# ---------------------------------------------------------------- C24

# hash-gated evaluation stratum (~20% of docs): small enough that exact
# all-pairs ground truth is affordable, deterministic across engines
_RECALL_THRESH = int(0.2 * (1 << 60))


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the sketch dedups, measured — the evidence
    loop for sketch parameters (VERDICT r1 #8).  On a hash-gated ~20%
    stratum: ground truth = exact all-pairs similarity (jaccard ≥ τ for
    minhash; hamming ≤ 3 for simhash) via a broadcast self-join (the
    declared exact-baseline pattern, stratum-bounded); candidates = the
    operators' own pre-verification band pairs.  recall = |cand ∩
    truth| / |truth|.  Simhash should read 1.0 — its 4×8-bit banding is
    a pigeonhole guarantee for hamming ≤ 3 — so a sub-1.0 value there
    is a bucket-cap artifact, while minhash recall quantifies the
    1-(1-j^r)^b curve against this corpus's pair distribution."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    stratum = docs.filter(
        H.hash64(F.col("doc_id").cast("string"), "recall") < F.lit(_RECALL_THRESH)
    )

    # --- minhash: truth (exact jaccard on shingle sets) vs candidates
    # explicit repartition of the aggregated sets frame (r12): it is a
    # few MB, so AQE coalesces it to ONE post-shuffle partition — the
    # all-pairs truth join then ran its per-pair set intersections
    # single-threaded (measured: three ~10 s one-task stages at sf0.1)
    # and the broadcast BUILD side computed every collect_set in one
    # task too.  Bytes under-state compute here; a user
    # REPARTITION_BY_NUM is exempt from AQE coalescing, so both sides
    # keep the host's parallelism (40 → ~14 s at sf0.1).
    sets = D.shingle_sets(stratum, k=_MH_K).repartition(
        spark.sparkContext.defaultParallelism
    )
    a, b = sets.alias("a"), sets.alias("b")
    _inter = F.size(F.array_intersect("a.sh", "b.sh"))
    jac = (
        # |A∪B| = |A|+|B|−|A∩B|: identical value, no union array built
        _inter.cast("double")
        / (F.size("a.sh") + F.size("b.sh") - _inter).cast("double")
    )
    truth_mh = (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(jac >= _MH_TAU)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    cand_mh = D.minhash_candidate_pairs(
        stratum, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS
    ).select("doc_a", "doc_b")

    # --- simhash: truth (exact hamming over full sketches) vs candidates
    sims = D.simhash_values(stratum)
    sa, sb = sims.alias("a"), sims.alias("b")
    truth_sim = (
        sa.join(F.broadcast(sb), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(H.hamming32(F.col("a.simhash"), F.col("b.simhash")) <= 3)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    cand_sim = D.simhash_band_pairs(stratum).select("doc_a", "doc_b")

    # --- embedding sign-LSH: truth (exact cosine) vs banded candidates
    embs = spread(load(spark, sf_dir, "embeddings"))
    stratum_emb = embs.filter(
        H.hash64(F.col("vec_id").cast("string"), "recall") < F.lit(_RECALL_THRESH)
    )
    ewidth = V.probe_width(embs)
    estrat = stratum_emb.select(
        "vec_id", V.to_double(F.col("embedding")).alias("v")
    ).withColumn("n", V.norm_w("v", ewidth))
    ea, eb = estrat.alias("a"), estrat.alias("b")
    truth_emb = (
        ea.join(F.broadcast(eb), F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(
            V.cosine_prenormed_w("a.v", "b.v", "a.n", "b.n", ewidth)
            >= _EC_TAU
        )
        .select(F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b"))
    )
    cand_emb = D.embedding_candidate_pairs(stratum_emb).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )

    def _method_row(method: str, truth: DataFrame, cand: DataFrame) -> DataFrame:
        hits = truth.join(cand, ["doc_a", "doc_b"])
        return (
            truth.agg(F.count("*").alias("n_truth"))
            .crossJoin(F.broadcast(cand.agg(F.count("*").alias("n_cand"))))
            .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_hit"))))
            .select(
                F.lit(method).alias("method"),
                "n_truth",
                "n_cand",
                "n_hit",
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_hit").cast("double") / F.col("n_truth").cast("double"),
                ).alias("recall"),
            )
        )

    return (
        _method_row("minhash_lsh", truth_mh, cand_mh)
        .unionAll(_method_row("simhash", truth_sim, cand_sim))
        .unionAll(_method_row("embedding_cosine", truth_emb, cand_emb))
        .orderBy("method")
    )


def _lsh_recall_sql() -> str:
    r = _MH_N // _MH_BANDS
    gate = f"{H.sql_hash64('CAST(doc_id AS VARCHAR)', 'recall')} < {_RECALL_THRESH}"
    raw = H.sql_char_shingles("text", _MH_K)
    sh = f"list_distinct(list_transform({raw}, s -> {H.sql_hash64('s', 'sh')}))"
    mh = H.sql_minhash_array("sh", _MH_N)
    jac = (
        "len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh))::DOUBLE"
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {H.sql_band_key('mh', b, r)} AS bkey FROM mh"
        for b in range(_MH_BANDS)
    )
    sim_expr = H.sql_simhash32(H.sql_tokens("text"))
    sim_band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {8 * b}) & 255 AS bval FROM sims"
        for b in range(4)
    )
    egate = f"{H.sql_hash64('CAST(vec_id AS VARCHAR)', 'recall')} < {_RECALL_THRESH}"
    ecos = V.sql_cosine("a.v", "b.v")
    return f"""
WITH stratum AS (
  SELECT doc_id, text FROM documents WHERE {gate}
),
sh AS (SELECT doc_id, {sh} AS sh FROM stratum),
truth_mh AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {jac} >= {_MH_TAU}
),
mh AS (SELECT doc_id, {mh} AS mh FROM sh),
banded AS (
  {band_selects}
),
sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bucket_n FROM banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
cand_mh AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sims AS (SELECT doc_id, {sim_expr} AS simhash FROM stratum),
truth_sim AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
  WHERE {H.sql_hamming32('a.simhash', 'b.simhash')} <= 3
),
sim_banded AS (
  {sim_band_selects}
),
sim_sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bval) AS bucket_n FROM sim_banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
cand_sim AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sim_sized a JOIN sim_sized b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
),
esrc AS (
  SELECT vec_id, embedding FROM embeddings WHERE {egate}
),
estrat AS (
  SELECT vec_id, {V.sql_to_double("embedding")} AS v FROM esrc
),
truth_emb AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM estrat a JOIN estrat b ON a.vec_id < b.vec_id
  WHERE {ecos} >= {_EC_TAU}
),
cand_emb AS (
  SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
{_sql_emb_banded_cand("esrc")}
  )
),
stats AS (
  SELECT 'minhash_lsh' AS method,
         (SELECT count(*) FROM truth_mh) AS n_truth,
         (SELECT count(*) FROM cand_mh) AS n_cand,
         (SELECT count(*) FROM truth_mh t JOIN cand_mh c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit
  UNION ALL
  SELECT 'simhash',
         (SELECT count(*) FROM truth_sim),
         (SELECT count(*) FROM cand_sim),
         (SELECT count(*) FROM truth_sim t JOIN cand_sim c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
  UNION ALL
  SELECT 'embedding_cosine',
         (SELECT count(*) FROM truth_emb),
         (SELECT count(*) FROM cand_emb),
         (SELECT count(*) FROM truth_emb t JOIN cand_emb c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
)
SELECT method, n_truth, n_cand, n_hit,
       CASE WHEN n_truth > 0
            THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall
FROM stats ORDER BY method
"""


# ---------------------------------------------------------------- C26

# eval-set gate (~5% of docs stand in for a held-out benchmark) and the
# n-gram width/flag threshold of the decontamination contract
_EVAL_THRESH = int(0.05 * (1 << 60))
_DECON_N = 5
_DECON_FLAG_MIN = 3


def _token_gram_hashes(n: int):
    """Distinct hashed token n-grams of ``text`` as a Column (Spark) —
    grams are space-joined token windows hashed to 60-bit longs, so the
    contamination join moves 8-byte keys, never gram strings."""
    toks = H.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - (n - 1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(F.transform(grams, lambda g: H.hash64(g, "decon")))


def _sql_token_gram_hashes(n: int) -> str:
    toks = H.sql_tokens("text")
    grams = (
        f"list_transform(range(1, greatest(1, len({toks}) - {n - 1}) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return f"list_distinct(list_transform({grams}, g -> {H.sql_hash64('g', 'decon')}))"


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the train-set hygiene pass every
    LLM data pipeline runs: flag training docs sharing ≥3 token
    5-grams with the held-out eval set.  Scale shape: the eval set is
    tiny by construction (benchmarks are), so its distinct gram hashes
    BROADCAST; the corpus streams through one exploded-gram semi-join
    with map-side partial counts — no corpus-sized shuffle, no gram
    strings past the hash."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    is_eval = H.hash64(F.col("doc_id").cast("string"), "eval") < F.lit(_EVAL_THRESH)
    grams = docs.select("doc_id", is_eval.alias("is_eval"), _token_gram_hashes(_DECON_N).alias("gh"))
    eval_grams = (
        grams.filter("is_eval")
        .select(F.explode("gh").alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # ONE train-corpus pass: n_grams rides along the exploded rows, hit
    # markers come from a broadcast LEFT join (not semi + join-back,
    # which would run the gram pipeline over the corpus twice), and the
    # per-doc rollup needs no second branch because every doc has ≥1
    # gram row
    exploded = grams.filter(~F.col("is_eval")).select(
        "doc_id", F.size("gh").cast("long").alias("n_grams"), F.explode("gh").alias("gh")
    )
    return (
        exploded.join(F.broadcast(eval_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double")
            ).alias("contamination_rate"),
            (F.col("n_contaminated") >= _DECON_FLAG_MIN).alias("is_contaminated"),
        )
    )


def _decontaminate_sql() -> str:
    gh = _sql_token_gram_hashes(_DECON_N)
    gate = f"{H.sql_hash64('CAST(doc_id AS VARCHAR)', 'eval')} < {_EVAL_THRESH}"
    return f"""
WITH grams AS (
  SELECT doc_id, ({gate}) AS is_eval, {gh} AS gh FROM documents
),
eval_grams AS (
  SELECT DISTINCT unnest(gh) AS g FROM grams WHERE is_eval
),
train AS (SELECT doc_id, gh FROM grams WHERE NOT is_eval),
exploded AS (SELECT doc_id, unnest(gh) AS g FROM train),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM exploded WHERE g IN (SELECT g FROM eval_grams)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.gh) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(len(t.gh) AS DOUBLE)
         AS contamination_rate,
       COALESCE(h.n_contaminated, 0) >= {_DECON_FLAG_MIN} AS is_contaminated
FROM train t LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------- C27

_REP_N = 3
_REP_FLAG = 0.2


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition — the boilerplate/spam signal: ratio of
    repeated token 3-grams (1 - distinct/total) plus the hottest gram's
    count.  Flat two-level aggregation (doc×gram counts, then per-doc
    rollup), all map-side-combining, no arrays cross a shuffle."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    toks = H.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - (_REP_N - 1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, _REP_N)),
    )
    g = docs.select("doc_id", F.explode(grams).alias("gram")).select(
        "doc_id", H.hash64(F.col("gram"), "rep").alias("gh")
    )
    per_gram = g.groupBy("doc_id", "gh").agg(F.count(F.lit(1)).alias("c"))
    ratio = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams").cast("double")
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").cast("long").alias("max_gram_count"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            "max_gram_count",
            ratio.alias("repetition_ratio"),
            (ratio > _REP_FLAG).alias("is_repetitive"),
        )
    )


def _repetition_sql() -> str:
    toks = H.sql_tokens("text")
    grams = (
        f"list_transform(range(1, greatest(1, len({toks}) - {_REP_N - 1}) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {_REP_N - 1}), ' '))"
    )
    ratio = "1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)"
    return f"""
WITH g AS (
  SELECT doc_id, {H.sql_hash64('g', 'rep')} AS gh
  FROM (SELECT doc_id, unnest({grams}) AS g FROM documents)
),
pg AS (SELECT doc_id, gh, count(*) AS c FROM g GROUP BY doc_id, gh),
pd AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_grams,
         count(*) AS n_distinct,
         CAST(max(c) AS BIGINT) AS max_gram_count
  FROM pg GROUP BY doc_id
)
SELECT doc_id, n_grams, n_distinct, max_gram_count,
       {ratio} AS repetition_ratio,
       ({ratio}) > {_REP_FLAG} AS is_repetitive
FROM pd
"""


# ---------------------------------------------------------------- C28

_NOV_RARE_MAX = 2


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative novelty — the integer-deterministic core of
    perplexity-style quality filtering (no log(): libm last-ulp drift
    would break cross-engine hashes; rational stats carry the same
    signal).  Per doc over token 3-grams: mean corpus frequency of its
    grams (high = boilerplate) and the fraction occurring ≤2 times
    corpus-wide (high = gibberish/novel).  Shape: one exploded-gram
    pass builds the global frequency table (map-side combine), one
    hash join attaches frequencies, one per-doc rollup — all narrow
    8-byte gram keys."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    toks = H.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - (_REP_N - 1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, _REP_N)),
    )
    g = docs.select("doc_id", F.explode(grams).alias("gram")).select(
        "doc_id", H.hash64(F.col("gram"), "nov").alias("gh")
    )
    freq = g.groupBy("gh").agg(F.count(F.lit(1)).alias("freq"))
    return (
        g.join(freq, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("freq").cast("long").alias("freq_sum"),
            F.sum((F.col("freq") <= _NOV_RARE_MAX).cast("long")).cast("long").alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("freq_sum").cast("double") / F.col("n_grams").cast("double")).alias(
                "mean_gram_freq"
            ),
            (F.col("n_rare").cast("double") / F.col("n_grams").cast("double")).alias(
                "rare_frac"
            ),
        )
    )


def _ngram_novelty_sql() -> str:
    toks = H.sql_tokens("text")
    grams = (
        f"list_transform(range(1, greatest(1, len({toks}) - {_REP_N - 1}) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {_REP_N - 1}), ' '))"
    )
    return f"""
WITH g AS (
  SELECT doc_id, {H.sql_hash64('g', 'nov')} AS gh
  FROM (SELECT doc_id, unnest({grams}) AS g FROM documents)
),
freq AS (SELECT gh, count(*) AS freq FROM g GROUP BY gh),
pd AS (
  SELECT doc_id,
         count(*) AS n_grams,
         CAST(sum(freq) AS BIGINT) AS freq_sum,
         CAST(sum(CASE WHEN freq <= {_NOV_RARE_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM g JOIN freq USING (gh) GROUP BY doc_id
)
SELECT doc_id, n_grams,
       CAST(freq_sum AS DOUBLE) / CAST(n_grams AS DOUBLE) AS mean_gram_freq,
       CAST(n_rare AS DOUBLE) / CAST(n_grams AS DOUBLE) AS rare_frac
FROM pd
"""


# ---------------------------------------------------------------- C29

_N_SHARDS = 8


def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment — the write-side primitive of a data
    pipeline: a deterministic global shuffle order (hash-keyed, so the
    'random' order is reproducible and auditable) mapped to
    (shard, pos_in_shard).  Shard = hash % N spreads docs uniformly;
    position = rank within shard by the same hash.  One shuffle
    (partitionBy shard), rank map-side-prunable; at 100 TB this is
    exactly the partitionBy('shard').sortWithinPartitions(...) write
    plan, expressed as a queryable table."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    h = H.hash64(F.col("doc_id").cast("string"), "shuffle")
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", (F.col("h") % _N_SHARDS).cast("int"))
        .withColumn("pos_in_shard", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", "shard", "pos_in_shard")
    )


def _shard_plan_sql() -> str:
    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "shuffle")
    return f"""
WITH hashed AS (
  SELECT doc_id, {h} AS h, CAST(({h}) % {_N_SHARDS} AS INTEGER) AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT)
         AS pos_in_shard
FROM hashed
"""


# ---------------------------------------------------------------- C21

# deterministic per-stratum sampling rates; thresholds are exact 60-bit
# integers computed HERE so Spark and the oracle compare against the
# same literal (no float rounding inside either engine)
_SAMPLE_RATES = {"en": 0.25, "de": 1.0, "es": 0.5, "fr": 0.75, "zh": 0.1}
_SAMPLE_THRESH = {s: int(r * (1 << 60)) for s, r in _SAMPLE_RATES.items()}


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — THE training-data mixing
    primitive: accept a doc iff md5-hash64(doc_id) falls below its
    stratum's 60-bit threshold.  Hash-gated (not rand()-gated) so the
    sample is reproducible across runs, engines, and cluster
    topologies, and any doc's membership is auditable after the fact.
    One narrow scan + one tiny agg; no shuffle wider than the rollup."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    thresh = F.create_map(
        *[F.lit(x) for kv in _SAMPLE_THRESH.items() for x in kv]
    )[F.col("lang")]
    keep = H.hash64(F.col("doc_id").cast("string"), "sample") < thresh
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_sampled"),
            (F.sum(keep.cast("long")).cast("double") / F.count(F.lit(1))).alias("observed_rate"),
        )
        .orderBy("lang")
    )


def _stratified_sample_sql() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {t}" for s, t in sorted(_SAMPLE_THRESH.items())
    )
    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "sample")
    return f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN {h} < (CASE lang {cases} END) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(CAST(sum(CASE WHEN {h} < (CASE lang {cases} END) THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) / count(*) AS observed_rate
FROM documents
GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------- C22

_MIX_TARGET = {"en": 0.40, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning: per-stratum acceptance rates that hit a target
    language composition while keeping ALL of the limiting stratum
    (rate 1.0 for the scarcest-vs-target language, proportionally lower
    elsewhere).  rate_s = target_s · min_j(count_j/target_j) / count_s —
    the whole computation is one tiny agg + a 1-row broadcast scalar,
    independent of corpus size."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    target = F.create_map(
        *[F.lit(x) for kv in _MIX_TARGET.items() for x in kv]
    )[F.col("lang")]
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    ratio = counts.select(
        "lang", "n_docs", (F.col("n_docs").cast("double") / target).alias("cap_ratio"),
        target.alias("target_share"),
    )
    min_ratio = ratio.agg(F.min("cap_ratio").alias("min_ratio"))
    return (
        ratio.crossJoin(F.broadcast(min_ratio))
        .select(
            "lang",
            "n_docs",
            "target_share",
            F.least(
                F.lit(1.0),
                F.col("target_share") * F.col("min_ratio") / F.col("n_docs").cast("double"),
            ).alias("acceptance_rate"),
        )
        .orderBy("lang")
    )


def _mixture_weights_sql() -> str:
    cases = " ".join(f"WHEN '{s}' THEN {t}" for s, t in sorted(_MIX_TARGET.items()))
    return f"""
WITH counts AS (
  SELECT lang, count(*) AS n_docs, CAST((CASE lang {cases} END) AS DOUBLE) AS target_share
  FROM documents GROUP BY lang
),
ratio AS (
  SELECT lang, n_docs, target_share,
         CAST(n_docs AS DOUBLE) / target_share AS cap_ratio
  FROM counts
)
SELECT lang, n_docs, target_share,
       CAST(least(1.0, target_share * (SELECT min(cap_ratio) FROM ratio) / CAST(n_docs AS DOUBLE)) AS DOUBLE) AS acceptance_rate
FROM ratio ORDER BY lang
"""


# ---------------------------------------------------------------- C23


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by tf×(N/df) — the tf-idf feature primitive
    with a RATIONAL idf (N/df instead of ln(N/df)): the ranking is
    order-isomorphic for fixed tf and keeps every score a single IEEE
    division of exact integers, so Spark and the oracle agree bit-for-
    bit (libm vs JVM ``log`` can differ in the last ulp).

    Scale: tf is one explode+groupBy shuffle on (doc, term); df is a
    map-side-combined rollup of that (terms ≪ postings); N broadcasts
    as a 1-row scalar; the final per-doc top-k is a window over the
    (doc, term) postings — never the raw corpus."""
    prep(spark)
    from pyspark.sql import Window as W

    docs = spread(load(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(H.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def _tfidf_sql() -> str:
    toks = H.sql_tokens("text")
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest({toks}) AS t(term)
  GROUP BY doc_id, t.term
),
df_t AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score, rank FROM (
  SELECT doc_id, term, tf, df,
         CAST(tf * n_docs AS DOUBLE) / df AS score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, term) AS INTEGER) AS rank
  FROM tf JOIN df_t USING (term), n
) WHERE rank <= 3
"""


# ---------------------------------------------------------------- C30

_CHUNK_SIZE, _CHUNK_STRIDE = 64, 48


def doc_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunk plan: split every doc into 64-token windows
    advancing by 48 tokens (16-token overlap) — the tokenize-and-window
    step in front of embedding / training-sequence generation.  Pure
    per-row sequence+explode: no shuffle at all, chunk rows are born on
    the partition that read the doc, so at 100 TB this runs at scan
    speed."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    d = docs.select("doc_id", F.size(H.tokens(F.col("text"))).alias("n_tok"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_tok") - 1, F.lit(0)), F.lit(_CHUNK_STRIDE)
    )
    return d.select(
        "doc_id", "n_tok", F.posexplode(starts).alias("chunk_idx", "start_tok")
    ).select(
        "doc_id",
        "n_tok",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.least(F.lit(_CHUNK_SIZE), F.col("n_tok") - F.col("start_tok"))
        .cast("int")
        .alias("n_chunk_tok"),
    )


def _chunk_plan_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, CAST(len({H.sql_tokens('text')}) AS INTEGER) AS n_tok FROM documents
)
SELECT doc_id, n_tok,
       CAST(t.s // {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(t.s AS INTEGER) AS start_tok,
       CAST(least({_CHUNK_SIZE}, n_tok - t.s) AS INTEGER) AS n_chunk_tok
FROM d, UNNEST(range(0, greatest(n_tok, 1), {_CHUNK_STRIDE})) AS t(s)
"""


# ---------------------------------------------------------------- C31

_PACK_BUDGET = 512


def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: docs are laid out in the
    deterministic hash-shuffle order (same order corpus_shard_plan
    writes), then packed contiguously into 512-token training
    sequences — pack = exclusive-prefix-token-count // budget.  The
    cumulative window runs PER SHARD (partitionBy shard), so the global
    sort a naive corpus-wide cumsum would need — a single-task
    bottleneck at 100 TB — never happens; every shard packs in
    parallel, matching how shards are written and read."""
    prep(spark)
    from pyspark.sql import Window as W

    docs = spread(load(spark, sf_dir, "documents"))
    h = H.hash64(F.col("doc_id").cast("string"), "shuffle")
    d = docs.select(
        "doc_id", h.alias("h"), F.size(H.tokens(F.col("text"))).alias("n_tok")
    ).withColumn("shard", (F.col("h") % _N_SHARDS).cast("int"))
    w = W.partitionBy("shard").orderBy("h", "doc_id").rowsBetween(W.unboundedPreceding, -1)
    packed = d.select(
        "shard",
        "doc_id",
        "n_tok",
        (F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(_PACK_BUDGET))
        .cast("long")
        .alias("pack_id"),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
    )


def _token_pack_sql() -> str:
    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "shuffle")
    return f"""
WITH d AS (
  SELECT doc_id, {h} AS h,
         CAST(({h}) % {_N_SHARDS} AS INTEGER) AS shard,
         len({H.sql_tokens('text')}) AS n_tok
  FROM documents
),
packed AS (
  SELECT shard, doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM d
)
SELECT shard, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens
FROM packed GROUP BY shard, pack_id
"""


# ---------------------------------------------------------------- C32

_Q_SCALE = 1_000_000


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit per vector — the compression
    step an ANN index applies before serving: scale = maxabs/127,
    q_i = floor(v_i·127/maxabs + 0.5) ∈ [-127, 127].  Emits the scale
    (fixed-point), quantized min/max/sum, and saturation count, so the
    quantization error profile is queryable corpus-wide.  Per-row folds
    only — no shuffle, runs at scan speed on any corpus size."""
    prep(spark)
    embs = spread(load(spark, sf_dir, "embeddings"))
    v = V.to_double(F.col("embedding"))
    e = embs.select("vec_id", v.alias("v")).withColumn(
        "maxabs",
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))),
    )
    q = F.when(F.col("maxabs") == 0.0, F.transform(F.col("v"), lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.floor(x * F.lit(127.0) / F.col("maxabs") + F.lit(0.5)).cast("long"),
        )
    )
    qd = e.select("vec_id", "maxabs", q.alias("q"))
    return qd.select(
        "vec_id",
        F.floor(F.col("maxabs") * _Q_SCALE).cast("long").alias("scale_fp"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.size(F.filter("q", lambda x: F.abs(x) == 127)).alias("n_saturated"),
    )


def _quantize_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
m AS (
  SELECT vec_id, v,
         list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> abs(x))),
                     (acc, x) -> greatest(acc, x)) AS maxabs
  FROM e
),
qd AS (
  SELECT vec_id, maxabs,
         CASE WHEN maxabs = 0.0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT))
         END AS q
  FROM m
)
SELECT vec_id,
       CAST(floor(maxabs * {_Q_SCALE}) AS BIGINT) AS scale_fp,
       list_min(q) AS q_min,
       list_max(q) AS q_max,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, x) -> acc + x) AS BIGINT) AS q_sum,
       CAST(len(list_filter(q, x -> abs(x) = 127)) AS INTEGER) AS n_saturated
FROM qd
"""


# ---------------------------------------------------------------- C33

_KM_K, _KM_ITERS = 8, 2


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of fixed-point k-means (operators/
    kmeans.py) — distributed iterative ML whose every step is integer
    arithmetic, so the oracle replays the identical iterations in SQL
    and the hashes must agree."""
    prep(spark)
    from ..operators import kmeans as KM

    return KM.kmeans_stats(spread(load(spark, sf_dir, "embeddings")), k=_KM_K, iters=_KM_ITERS)


def _km_assign_sql(cent: str, name: str) -> str:
    return f"""{name}_d AS (
  SELECT c.vec_id, t.cid, CAST(sum((c.qv - t.qc) * (c.qv - t.qc)) AS BIGINT) AS dist
  FROM comp c JOIN {cent} t USING (dim)
  GROUP BY c.vec_id, t.cid
),
{name} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM {name}_d
  ) WHERE rn = 1
)"""


def _km_update_sql(assigned: str, name: str) -> str:
    return f"""{name} AS (
  SELECT a.cid, c.dim,
         CAST(floor(CAST(CAST(sum(c.qv) AS VARCHAR) AS DOUBLE) / count(*)) AS BIGINT) AS qc
  FROM {assigned} a JOIN comp c USING (vec_id)
  GROUP BY a.cid, c.dim
)"""


def _kmeans_sql() -> str:
    from ..operators.kmeans import QUANT as _KMQ

    parts = [
        f"""e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
comp AS (
  SELECT vec_id, CAST(t.dim - 1 AS INTEGER) AS dim,
         CAST(floor(v[t.dim] * {_KMQ}) AS BIGINT) AS qv
  FROM e, UNNEST(range(1, len(v)+1)) AS t(dim)
),
cent0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, dim, qv AS qc FROM comp WHERE vec_id < {_KM_K}
)"""
    ]
    cent = "cent0"
    assigned = None
    for i in range(1, _KM_ITERS + 1):
        assigned = f"a{i}"
        parts.append(_km_assign_sql(cent, assigned))
        cent = f"cent{i}"
        parts.append(_km_update_sql(assigned, cent))
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT s.cid AS cluster_id, s.n_vecs, s.inertia_fp, ch.centroid_checksum
FROM (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(dist) AS BIGINT) AS inertia_fp
  FROM {assigned} GROUP BY cid
) s
JOIN (
  SELECT cid, CAST(sum(qc) AS BIGINT) AS centroid_checksum FROM {cent} GROUP BY cid
) ch USING (cid)
ORDER BY cluster_id
"""


# ---------------------------------------------------------------- C34

_PCA_ITERS = 5


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus via 5
    fixed-point power iterations (operators/pca.py) — distributed
    linear algebra whose every step is integer arithmetic; the oracle
    replays the identical Gram-matrix build and iterations in SQL."""
    prep(spark)
    from ..operators import pca

    return pca.power_iteration_topvec(
        spread(load(spark, sf_dir, "embeddings")), iters=_PCA_ITERS
    )


def _power_iter_sql() -> str:
    from ..operators.kmeans import QUANT as _Q

    parts = [
        f"""e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
comp AS (
  SELECT vec_id, CAST(t.dim - 1 AS INTEGER) AS dim,
         CAST(floor(v[t.dim] * {_Q}) AS BIGINT) AS qv
  FROM e, UNNEST(range(1, len(v)+1)) AS t(dim)
),
means AS (
  SELECT dim, CAST(sum(qv) // count(*) AS BIGINT) AS m FROM comp GROUP BY dim
),
centered AS (
  SELECT c.vec_id, c.dim, c.qv - m.m AS qc FROM comp c JOIN means m USING (dim)
),
cov AS (
  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.qc * b.qc) // count(*) AS BIGINT) AS c
  FROM centered a JOIN centered b USING (vec_id) GROUP BY a.dim, b.dim
),
x0 AS (
  SELECT DISTINCT i AS dim, CAST({_Q} AS BIGINT) AS x FROM cov
)"""
    ]
    prev = "x0"
    for it in range(1, _PCA_ITERS + 1):
        parts.append(
            f"""y{it} AS (
  SELECT cov.i, CAST(sum((cov.c * x.x) // {_Q}) AS BIGINT) AS y
  FROM cov JOIN {prev} x ON x.dim = cov.j GROUP BY cov.i
),
x{it} AS (
  SELECT y.i AS dim, CAST(y.y // greatest(m.mx // {_Q}, 1) AS BIGINT) AS x
  FROM y{it} y CROSS JOIN (SELECT max(abs(y)) AS mx FROM y{it}) m
)"""
        )
        prev = f"x{it}"
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT dim, x AS eigvec_fp FROM {prev} ORDER BY dim
"""


# ---------------------------------------------------------------- C35


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval confusion matrix for the language-ID heuristic:
    (labeled, predicted) counts plus per-label recall share — the
    quality gate a filtering pipeline needs before trusting a cheap
    classifier to route a 100 TB corpus.  Single scan + a |langs|²
    rollup."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    lang, _score = X.predict_lang(F.col("text"))
    pred = docs.select(F.col("lang").alias("labeled_lang"), lang.alias("predicted_lang"))
    counts = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.groupBy("labeled_lang").agg(F.sum("n_docs").cast("long").alias("n_label"))
    return (
        counts.join(totals, "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_label").cast("double")).alias("share"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


def _langid_confusion_sql() -> str:
    lang_expr, _ = X.sql_predict_lang(H.sql_tokens("text"))
    return f"""
WITH pred AS (
  SELECT lang AS labeled_lang, {lang_expr} AS predicted_lang FROM documents
),
counts AS (
  SELECT labeled_lang, predicted_lang, count(*) AS n_docs
  FROM pred GROUP BY labeled_lang, predicted_lang
),
totals AS (
  SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS n_label FROM counts GROUP BY labeled_lang
)
SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
       CAST(c.n_docs AS DOUBLE) / CAST(t.n_label AS DOUBLE) AS share
FROM counts c JOIN totals t USING (labeled_lang)
ORDER BY labeled_lang, predicted_lang
"""


# ---------------------------------------------------------------- C36

_BPE_TOPK = 20


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step — the tokenizer-training primitive: global
    counts of adjacent character pairs within whitespace tokens, top-20
    by frequency.  Scale shape: the exploded pair stream map-side
    combines into a vocabulary bounded by |charset|² (a few thousand
    rows regardless of corpus size), so the final global-order window
    runs over a tiny aggregate, never the corpus."""
    prep(spark)
    from pyspark.sql import Window as W

    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(H.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = W.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BPE_TOPK)
        .select("rank", "pair", "n_occurrences")
        .orderBy("rank")
    )


def _bpe_pair_sql() -> str:
    toks = H.sql_tokens("text")
    return f"""
WITH tok AS (
  SELECT unnest({toks}) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
  FROM tok WHERE len(w) >= 2
),
counts AS (SELECT pair, count(*) AS n_occurrences FROM pairs GROUP BY pair)
SELECT rank, pair, n_occurrences FROM (
  SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INTEGER) AS rank,
         pair, n_occurrences
  FROM counts
) WHERE rank <= {_BPE_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------- C37

_SPAN_N = 8
_SPAN_FLAG = 0.5


def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection — the 'dedup training data at
    the substring level' primitive: for every doc, how many of its
    8-token windows (stride 1, so any alignment is caught) also occur
    in at least one other document.  Scale shape: the classic
    exact-substring MapReduce — only 60-bit span hashes cross the
    shuffle (8 B/row, never gram strings), doc frequency is one
    hash-partitioned count, and the join back to docs rides the same
    partitioning.  No pairwise comparisons anywhere."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    toks = H.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - (_SPAN_N - 1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, _SPAN_N)),
    )
    spans = docs.select(
        "doc_id",
        F.array_distinct(F.transform(grams, lambda g: H.hash64(g, "span"))).alias("sh"),
    )
    ds = spans.select(
        "doc_id", F.size("sh").cast("long").alias("n_spans"), F.explode("sh").alias("s")
    )
    freq = ds.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    shared = F.sum((F.col("df") >= 2).cast("long"))
    return (
        ds.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            shared.alias("n_shared_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_shared_spans",
            (
                F.col("n_shared_spans").cast("double") / F.col("n_spans").cast("double")
            ).alias("shared_frac"),
            (
                F.col("n_shared_spans").cast("double")
                >= F.lit(_SPAN_FLAG) * F.col("n_spans").cast("double")
            ).alias("is_dup_heavy"),
        )
    )


def _dup_spans_sql() -> str:
    toks = H.sql_tokens("text")
    grams = (
        f"list_transform(range(1, greatest(1, len({toks}) - {_SPAN_N - 1}) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {_SPAN_N - 1}), ' '))"
    )
    return f"""
WITH spans AS (
  SELECT doc_id,
         list_distinct(list_transform({grams}, g -> {H.sql_hash64('g', 'span')})) AS sh
  FROM documents
),
ds AS (SELECT doc_id, len(sh) AS n_spans, unnest(sh) AS s FROM spans),
freq AS (SELECT s, count(*) AS df FROM ds GROUP BY s)
SELECT d.doc_id,
       CAST(max(d.n_spans) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
       CAST(CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
         / CAST(max(d.n_spans) AS DOUBLE) AS shared_frac,
       CAST(CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
         >= {_SPAN_FLAG} * CAST(max(d.n_spans) AS DOUBLE) AS is_dup_heavy
FROM ds d JOIN freq f USING (s)
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------- C38

_CURVE_TAUS = [0.5, 0.6, 0.7, 0.8, 0.9]


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep evidence for picking a dedup τ: verified pair
    counts at five jaccard thresholds from ONE pass over the exact
    within-block pair set (same machinery as C4) — five conditional
    sums in a single aggregate, unpivoted with ``stack``.  This is the
    curve an operator reads before committing a 100 TB dedup to a
    threshold; computing it costs one pair-set pass, not five."""
    prep(spark)
    pairs = D.token_jaccard_pairs(
        load(spark, sf_dir, "documents"), block_col="lang", threshold=min(_CURVE_TAUS)
    )
    agg = pairs.agg(
        *[
            F.coalesce(F.sum((F.col("jaccard") >= F.lit(t)).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"n{i}")
            for i, t in enumerate(_CURVE_TAUS)
        ]
    )
    stack_args = ", ".join(f"CAST({t} AS DOUBLE), n{i}" for i, t in enumerate(_CURVE_TAUS))
    return agg.select(
        F.expr(f"stack({len(_CURVE_TAUS)}, {stack_args}) AS (threshold, n_pairs)")
    ).orderBy("threshold")


def _threshold_curve_sql() -> str:
    taus = ", ".join(f"{t}e0" for t in _CURVE_TAUS)
    return f"""
WITH pairs AS ({_token_jaccard_sql(tau=min(_CURVE_TAUS))}),
t AS (SELECT unnest([{taus}]) AS threshold)
SELECT t.threshold,
       CAST(coalesce(sum(CASE WHEN p.jaccard >= t.threshold THEN 1 END), 0) AS BIGINT)
         AS n_pairs
FROM t LEFT JOIN pairs p ON true
GROUP BY t.threshold
ORDER BY t.threshold
"""


# ---------------------------------------------------------------- C39


def corpus_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram per source — the batch-shape
    / padding-waste planning view for training: docs and token mass per
    [2^(b-1), 2^b) bucket.  The bucket is the integer bit length of the
    token count (via base-2 string conversion) — integer-exact on both
    engines, no floor(log2(double)) boundary risk at exact powers of
    two.  Single scan, map-side combine into |sources|×64 rows."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    n = F.size(H.tokens(F.col("text")))
    bits = F.length(F.conv(n.cast("string"), 10, 2)).cast("integer")
    d = docs.select(
        "source", n.cast("long").alias("n_tokens"), bits.alias("bucket_bits")
    )
    return (
        d.groupBy("source", "bucket_bits")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source", "bucket_bits")
    )


def _token_histogram_sql() -> str:
    toks = H.sql_tokens("text")
    n = f"CAST(len({toks}) AS BIGINT)"
    return f"""
WITH d AS (
  SELECT source, {n} AS n_tokens,
         CAST(length(bin({n})) AS INTEGER) AS bucket_bits
  FROM documents
)
SELECT source, bucket_bits, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM d GROUP BY source, bucket_bits
ORDER BY source, bucket_bits
"""


# ---------------------------------------------------------------- C40

# funnel stage predicates (cumulative ANDs, all per-row column exprs)
_FUNNEL_MIN_CHARS = 100
_FUNNEL_MIN_TOKENS = 20
_FUNNEL_MIN_DISTINCT = 0.3
_FUNNEL_TOKLEN_LO, _FUNNEL_TOKLEN_HI = 3.0, 12.0


def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-yield funnel — the pipeline-dashboard view every training
    corpus build needs: how many docs survive each successive quality
    gate (min chars → min tokens → distinct-token ratio → mean token
    length), as cumulative counts and yield fractions.  All four gates
    are per-row column expressions, so the whole funnel is ONE corpus
    scan with five conditional sums, unpivoted to stage rows."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    toks = H.tokens(F.col("text"))
    n_tok = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
    mean_toklen = (F.length(F.concat_ws("", toks))).cast("double") / n_tok.cast("double")
    s1 = F.col("n_chars") >= _FUNNEL_MIN_CHARS
    s2 = s1 & (n_tok >= _FUNNEL_MIN_TOKENS)
    s3 = s2 & (distinct_ratio >= _FUNNEL_MIN_DISTINCT)
    s4 = s3 & mean_toklen.between(_FUNNEL_TOKLEN_LO, _FUNNEL_TOKLEN_HI)
    stages = [
        ("0_total", F.lit(True)),
        ("1_min_chars", s1),
        ("2_min_tokens", s2),
        ("3_distinct_ratio", s3),
        ("4_token_length", s4),
    ]
    agg = docs.agg(
        *[F.sum(pred.cast("long")).alias(f"n{i}") for i, (_, pred) in enumerate(stages)]
    )
    stack_args = ", ".join(f"'{name}', n{i}" for i, (name, _) in enumerate(stages))
    return agg.select(
        F.expr(f"stack({len(stages)}, {stack_args}) AS (stage, n_docs)"),
        F.col("n0").alias("_total"),
    ).select(
        "stage",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("_total").cast("double")).alias("yield_frac"),
    ).orderBy("stage")


def _quality_funnel_sql() -> str:
    toks = H.sql_tokens("text")
    n_tok = f"len({toks})"
    distinct_ratio = f"CAST(len(list_distinct({toks})) AS DOUBLE) / CAST({n_tok} AS DOUBLE)"
    mean_toklen = (
        f"CAST(len(array_to_string({toks}, '')) AS DOUBLE) / CAST({n_tok} AS DOUBLE)"
    )
    s1 = f"(n_chars >= {_FUNNEL_MIN_CHARS})"
    s2 = f"({s1} AND {n_tok} >= {_FUNNEL_MIN_TOKENS})"
    s3 = f"({s2} AND {distinct_ratio} >= {_FUNNEL_MIN_DISTINCT})"
    s4 = (
        f"({s3} AND {mean_toklen} BETWEEN {_FUNNEL_TOKLEN_LO} AND {_FUNNEL_TOKLEN_HI})"
    )
    preds = [("0_total", "true"), ("1_min_chars", s1), ("2_min_tokens", s2),
             ("3_distinct_ratio", s3), ("4_token_length", s4)]
    sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN {p} THEN 1 ELSE 0 END) AS BIGINT) AS n{i}"
        for i, (_, p) in enumerate(preds)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS stage, n{i} AS n_docs, "
        f"CAST(n{i} AS DOUBLE) / CAST(n0 AS DOUBLE) AS yield_frac FROM agg"
        for i, (name, _) in enumerate(preds)
    )
    return f"""
WITH agg AS (
  SELECT {sums}
  FROM documents
)
{rows}
ORDER BY stage
"""



# ---------------------------------------------------------------- C41

_POSTINGS_TERMS, _POSTINGS_SAMPLE = 10, 5


def doc_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists for the top-10 document-frequency
    terms: df count plus the first 5 doc_ids as a comma-joined sample —
    the search-index build primitive.  The term→doc explode aggregates
    partially map-side (|vocab|-sized shuffle); the top-term set is
    broadcast back so posting assembly only touches rows for 10 terms,
    and the per-term top-5 window runs on that tiny filtered frame."""
    from pyspark.sql import Window as W

    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.explode(F.array_distinct(H.tokens(F.col("text")))).alias("term")
    )
    top = (
        t.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), "term")
        .limit(_POSTINGS_TERMS)
    )
    w = W.partitionBy("term").orderBy("doc_id")
    sample = (
        t.join(F.broadcast(top.select("term")), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _POSTINGS_SAMPLE)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("posting_sample")
        )
    )
    return (
        top.join(sample, "term")
        .select("term", "n_docs", "posting_sample")
        .orderBy(F.desc("n_docs"), "term")
    )


def _posting_lists_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({H.sql_tokens('text')})) AS term FROM documents
),
top AS (
  SELECT term, count(*) AS n_docs FROM t
  GROUP BY term ORDER BY n_docs DESC, term LIMIT {_POSTINGS_TERMS}
),
ranked AS (
  SELECT t.term, t.doc_id,
         row_number() OVER (PARTITION BY t.term ORDER BY t.doc_id) AS rn
  FROM t JOIN top USING (term)
),
sample AS (
  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting_sample
  FROM ranked WHERE rn <= {_POSTINGS_SAMPLE} GROUP BY term
)
SELECT term, n_docs, posting_sample
FROM top JOIN sample USING (term)
ORDER BY n_docs DESC, term
"""


# ---------------------------------------------------------------- C42

_PQ_SUBDIM, _PQ_CODES = 8, 4
# trained-ADC knobs (C63/C64): Lloyd-trained per-subspace codebooks over
# unit-normalized vectors.  Chosen from a measured sf0.01 sweep (r5):
#   subdim=8 codes=16 → recall@5 0.28; 4/16 → 0.34; 4/32 → 0.42;
#   2/16 → 0.60 (128 bits/vec); 4/64 → 0.66 (96 bits/vec, 21×
#   compression) ← picked: best recall at the best compression.
# Extra Lloyd rounds beyond 2 did not help (structure-free synthetic
# embeddings — same finding as ann_sweep_eval's IVF curve).
_ADC_SUBDIM, _ADC_CODES, _ADC_ITERS = 4, 64, 2


def embedding_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit: per (subspace, code) cell population
    and mean quantized squared distance for an 8×8-dim PQ over the
    embedding corpus — the compression-quality evidence you gather
    before settling a PQ layout for a billion-vector index.  Codebook =
    per-label centroid subvectors (deterministic fixed-point, shared
    with IVF); assignment arithmetic is integer end-to-end
    (operators/similarity.py pq_assign)."""
    prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    assign = S.pq_assign(emb, n_subdim=_PQ_SUBDIM, n_codes=_PQ_CODES)
    return (
        assign.groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum("dqsum").cast("double")
                / (F.lit(S.QUANT) * F.count(F.lit(1)))
            ).alias("mean_sq_dist"),
        )
        .orderBy("subspace", "code")
    )


def _pq_audit_sql() -> str:
    return f"""
WITH {_CENT_SQL_BASE},
codes AS (
  SELECT label AS code, dim, c FROM cent_dim WHERE label < {_PQ_CODES}
),
vcomp AS (
  SELECT vec_id, t.dim AS dim, v[t.dim] AS val
  FROM e, UNNEST(range(1, len(v)+1)) AS t(dim)
),
dq AS (
  SELECT v.vec_id, CAST((v.dim - 1) // {_PQ_SUBDIM} AS INTEGER) AS subspace, k.code,
         CAST(sum(CAST(floor((v.val - k.c) * (v.val - k.c) * {S.QUANT}) AS BIGINT)) AS BIGINT) AS dqsum
  FROM vcomp v JOIN codes k USING (dim)
  GROUP BY v.vec_id, (v.dim - 1) // {_PQ_SUBDIM}, k.code
),
best AS (
  SELECT vec_id, subspace, code, dqsum,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dqsum, code) AS rn
  FROM dq
)
SELECT subspace, code, count(*) AS n_vectors,
       CAST(CAST(sum(dqsum) AS VARCHAR) AS DOUBLE) / ({S.QUANT} * count(*)) AS mean_sq_dist
FROM best WHERE rn = 1
GROUP BY subspace, code
ORDER BY subspace, code
"""


# ---------------------------------------------------------------- C43


def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over Lloyd-refined cells (operators/similarity.py
    kmeans_ivf_topk): the same probe-then-score IVF shape as C17, but
    the coarse quantizer is the 2-iteration fixed-point k-means instead
    of the given labels — the trained-cell production build.  The
    oracle replays the identical Lloyd rounds as unrolled CTEs, then
    the integer probe and the cosine top-k."""
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    return S.kmeans_ivf_topk(
        embs.filter(F.col("vec_id") < _ANN_NQ),
        embs,
        k=_ANN_K,
        nprobe=_IVF_NPROBE,
        km_k=_KM_K,
        iters=_KM_ITERS,
    )


def _km_chain_parts(iters: int) -> tuple[list[str], str]:
    """Shared CTE chain for every kmeans-IVF oracle: components →
    seeded centroids → ``iters`` unrolled Lloyd rounds → final `cells`
    assignment.  Returns (parts, final_centroid_cte_name)."""
    from ..operators.kmeans import QUANT as _KMQ

    parts = [
        f"""e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
comp AS (
  SELECT vec_id, CAST(t.dim - 1 AS INTEGER) AS dim,
         CAST(floor(v[t.dim] * {_KMQ}) AS BIGINT) AS qv
  FROM e, UNNEST(range(1, len(v)+1)) AS t(dim)
),
cent0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, dim, qv AS qc FROM comp WHERE vec_id < {_KM_K}
)"""
    ]
    cent = "cent0"
    for i in range(1, iters + 1):
        parts.append(_km_assign_sql(cent, f"a{i}"))
        cent = f"cent{i}"
        parts.append(_km_update_sql(f"a{i}", cent))
    parts.append(_km_assign_sql(cent, "cells"))
    return parts, cent


def _km_probe_parts(nprobe: int, iters: int) -> list[str]:
    parts, cent = _km_chain_parts(iters)
    parts.append(
        f"""qd AS (
  SELECT c.vec_id, t.cid, CAST(sum((c.qv - t.qc) * (c.qv - t.qc)) AS BIGINT) AS dist
  FROM comp c JOIN {cent} t USING (dim)
  WHERE c.vec_id < {_ANN_NQ}
  GROUP BY c.vec_id, t.cid
),
probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM qd
  ) WHERE rn <= {nprobe}
)"""
    )
    return parts


def _ann_ivf_kmeans_sql(nprobe: int = 2, iters: int | None = None) -> str:
    cos = V.sql_cosine("q.v", "c.v")
    parts = _km_probe_parts(nprobe, _KM_ITERS if iters is None else iters)
    parts.append(
        f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM (SELECT * FROM e WHERE vec_id < {_ANN_NQ}) q
  JOIN probe p ON p.query_id = q.vec_id
  JOIN cells cl ON cl.cid = p.cid
  JOIN e c ON c.vec_id = cl.vec_id AND c.vec_id <> q.vec_id
)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {_ANN_K}
"""


def _ann_ivf_kmeans_scan_sql(nprobe: int, iters: int) -> str:
    """Probe cost of one sweep config: Σ probed-cell sizes (candidates
    examined, including the query's own row) — the denominator of the
    recall/cost tradeoff."""
    ctes = ",\n".join(_km_probe_parts(nprobe, iters))
    return f"""
WITH {ctes}
SELECT CAST(sum(cn) AS BIGINT) AS scanned
FROM probe JOIN (SELECT cid, count(*) AS cn FROM cells GROUP BY cid) s USING (cid)
"""


# ---------------------------------------------------------------- C53


_INCR_THRESH = int(0.2 * (1 << 60))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators/dedup.py
    minhash_incremental_pairs): a hash-gated ~20% of the corpus plays
    the incoming batch, the rest is the already-deduped base — the
    operator finds exactly the near-dup pairs touching the batch
    WITHOUT regenerating the base×base pair space.  The oracle runs the
    FULL pair pipeline and filters to incoming-touching pairs, so the
    gate proves the structural shortcut loses nothing."""
    prep(spark)
    docs = load(spark, sf_dir, "documents")
    gate = H.hash64(F.col("doc_id").cast("string"), "incr") < F.lit(_INCR_THRESH)
    return (
        D.minhash_incremental_pairs(
            docs.filter(~gate),
            docs.filter(gate),
            k=_MH_K,
            n_hashes=_MH_N,
            bands=_MH_BANDS,
            threshold=_MH_TAU,
        )
        .orderBy("doc_a", "doc_b")
    )


def _dedup_incremental_sql() -> str:
    ga = H.sql_hash64("CAST(doc_a AS VARCHAR)", "incr")
    gb = H.sql_hash64("CAST(doc_b AS VARCHAR)", "incr")
    return f"""
WITH p AS ({_minhash_sql()})
SELECT doc_a, doc_b, jaccard,
       CASE WHEN {ga} < {_INCR_THRESH} AND {gb} < {_INCR_THRESH}
            THEN 'new' ELSE 'cross' END AS pair_type
FROM p
WHERE {ga} < {_INCR_THRESH} OR {gb} < {_INCR_THRESH}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------- C52


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE histogram: how many clusters of 2, 3, …
    docs the corpus holds (plus singletons counted from the
    complement) — the power-law evidence that sizes dedup batch
    planning (a handful of mega-clusters vs a long tail changes the
    keep-strategy and the bucket caps).  Two tiny aggregates over the
    component output; the pair pipeline is the shared cached minhash."""
    prep(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    comp = G.connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _cluster_histogram_sql() -> str:
    return f"""
WITH clusters AS ({_clusters_sql()}),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


# ---------------------------------------------------------------- C50


def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier evaluation over the embedding corpus: predict each
    query vector's label by majority vote among its brute-force top-k
    cosine neighbors (ties → smaller label), and emit the
    (true_label, predicted_label) confusion counts — the quality probe
    a labeling/classification pipeline runs on its embedding space.

    Scale shape: reuses the broadcast-query brute-force top-k (bounded
    by construction); the vote is a |queries|·k-row aggregate; output
    is ≤ |labels|² rows."""
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < _ANN_NQ)
    labels = embs.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        S.brute_force_topk(qs, embs, k=_ANN_K)
        .join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "n_label")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("predicted_label"))
    )
    truth = qs.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (
        pred.join(F.broadcast(truth), "query_id")
        .groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .orderBy("true_label", "predicted_label")
    )


KNN_LABEL_EVAL_SQL = f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({{BF}}) b),
votes AS (
  SELECT bf.query_id, e.label AS n_label, count(*) AS n_votes
  FROM bf JOIN embeddings e ON e.vec_id = bf.neighbor_id
  GROUP BY bf.query_id, e.label
),
pred AS (
  SELECT query_id, n_label AS predicted_label FROM (
    SELECT query_id, n_label,
           row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, n_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT t.label AS true_label, p.predicted_label,
       CAST(count(*) AS BIGINT) AS n_queries
FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
GROUP BY t.label, p.predicted_label
ORDER BY true_label, predicted_label
"""
KNN_LABEL_EVAL_SQL = KNN_LABEL_EVAL_SQL.replace("{BF}", _ann_bruteforce_sql())


# ---------------------------------------------------------------- C51


_ABLATION_DIMS = [8, 16, 32, 64]


def ann_dim_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension ablation: recall@k of brute-force
    cosine top-k computed on only the FIRST d dimensions, against the
    full-width ground truth — the measurement behind truncating stored
    embeddings (a 2-8× storage/compute lever if the head dims carry the
    signal).  One row per width: (n_dims, total_overlap, recall_at_k).

    Exactness: integer overlap totals, one double division per row."""
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < _ANN_NQ)
    # the exact baseline feeds every method/config/width overlap join
    # below — without a pin each consumer replays the full interpreted-
    # cosine cross-join (the dominant cost of these eval keys, r12);
    # the pinned frame is only n_queries·k narrow rows, and the three
    # eval keys share ONE cache entry (identical canonical plan)
    bf = (
        S.brute_force_topk(qs, embs, k=_ANN_K)
        .select("query_id", "neighbor_id")
        .persist()
    )
    rotate_cached("ann_bf_truth", [bf])
    denom = qs.agg((F.count(F.lit(1)) * _ANN_K).cast("long").alias("n_possible"))
    out = None
    for d in _ABLATION_DIMS:
        trunc = embs.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tq = trunc.filter(F.col("vec_id") < _ANN_NQ)
        tk = S.brute_force_topk(tq, trunc, k=_ANN_K).select("query_id", "neighbor_id")
        row = (
            bf.join(tk, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("total_overlap"))
            .crossJoin(F.broadcast(denom))
            .select(
                F.lit(d).alias("n_dims"),
                "total_overlap",
                (
                    F.col("total_overlap").cast("double")
                    / F.col("n_possible").cast("double")
                ).alias("recall_at_k"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("n_dims")


def _ann_dim_ablation_sql() -> str:
    def _trunc_topk(d: int) -> str:
        cos = V.sql_cosine("q.v", "c.v")
        return f"""
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id) AS rank
    FROM (SELECT vec_id, {V.sql_to_double(f'embedding[1:{d}]')} AS v FROM embeddings WHERE vec_id < {_ANN_NQ}) q
    JOIN (SELECT vec_id, {V.sql_to_double(f'embedding[1:{d}]')} AS v FROM embeddings) c
      ON q.vec_id <> c.vec_id
  ) WHERE rank <= {_ANN_K}"""

    blocks = []
    for d in _ABLATION_DIMS:
        blocks.append(
            f"""  SELECT {d} AS n_dims,
         (SELECT CAST(count(*) AS BIGINT) FROM ({_trunc_topk(d)}) t
          JOIN bf ON t.query_id = bf.query_id AND t.neighbor_id = bf.neighbor_id) AS total_overlap"""
        )
        blocks.append("  UNION ALL")
    union = "\n".join(blocks[:-1])
    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({_ann_bruteforce_sql()}) b),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings WHERE vec_id < {_ANN_NQ})
SELECT n_dims, total_overlap,
       CAST(total_overlap AS DOUBLE) / CAST(n_queries * {_ANN_K} AS DOUBLE) AS recall_at_k
FROM (
{union}
), nq
ORDER BY n_dims
"""


# ---------------------------------------------------------------- C49


_SWEEP_CONFIGS = [(2, 1), (2, 2), (2, 4), (2, 6), (5, 1), (5, 2), (5, 4)]


def ann_sweep_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost SWEEP over the trained IVF index (VERDICT r3 item
    10): Lloyd iterations × nprobe, one row per config with aggregate
    recall@k against brute force AND the probe cost (Σ probed-cell
    sizes) — the curve an operator reads to pick the cheapest config
    above a recall floor.  Exactness: recall comes from integer overlap
    counts (one double division at the end); the oracle replays every
    config's Lloyd chain as unrolled CTEs.

    Scale shape: ONE trained quantizer per iteration count is shared by
    all nprobe settings (ivf_topk_from_cells), brute-force ground truth
    is computed once, and every per-config result is a 1-row aggregate
    — the sweep's output is |configs| rows regardless of corpus size.
    """
    prep(spark)
    embs = load(spark, sf_dir, "embeddings")
    qs = embs.filter(F.col("vec_id") < _ANN_NQ)
    # the exact baseline feeds every method/config/width overlap join
    # below — without a pin each consumer replays the full interpreted-
    # cosine cross-join (the dominant cost of these eval keys, r12);
    # the pinned frame is only n_queries·k narrow rows, and the three
    # eval keys share ONE cache entry (identical canonical plan)
    bf = (
        S.brute_force_topk(qs, embs, k=_ANN_K)
        .select("query_id", "neighbor_id")
        .persist()
    )
    rotate_cached("ann_bf_truth", [bf])
    denom = qs.agg(
        (F.count(F.lit(1)) * _ANN_K).cast("long").alias("n_possible"),
        F.count(F.lit(1)).cast("long").alias("n_queries"),
    )
    corpus_n = embs.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    from ..operators import kmeans as KM

    out = None
    pinned = []
    # try/finally (ADVICE r12): an exception mid-sweep must still hand
    # every already-pinned handle to the rotation slot, or the partial
    # sweep's checkpointed frames stay outside any slot until GC
    try:
        for iters in sorted({i for i, _ in _SWEEP_CONFIGS}):
            # rotate=False: BOTH quantizers' cells/cents must stay pinned
            # until the sweep's one action runs — per-call rotation
            # unpersisted the iters=2 handles when iters=5 built, and the
            # final union replayed the whole Lloyd chain per config (r12:
            # >100 s of the sweep's 133 s cold at sf0.1 was these replays)
            cells, cents = KM.kmeans_cells(embs, k=_KM_K, iters=iters, rotate=False)
            pinned += [cells, cents]
            sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("cn"))
            probes = [np for it, np in _SWEEP_CONFIGS if it == iters]
            # probe and score ONCE per quantizer at the LARGEST nprobe,
            # keeping the probe rank: a corpus vector lives in exactly one
            # cell, so every smaller-nprobe config is the probe_rank <= p
            # slice of these two pinned frames — one probe+score subtree
            # per quantizer instead of one per configuration (r12; this
            # and the pinned exact baseline took the sweep from ~125 s to
            # ~17 s at sf0.1)
            probed = S.kmeans_probe(qs, cents, max(probes), with_rank=True).persist()
            scored = S.ivf_scored_candidates(
                qs, embs, cells, cents, max(probes)
            ).persist()
            pinned += [probed, scored]
            for nprobe in probes:
                topk = S.topk_from_scored(
                    scored.filter(F.col("probe_rank") <= nprobe).drop("probe_rank"),
                    _ANN_K,
                )
                overlap = bf.join(
                    topk.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
                ).agg(F.count(F.lit(1)).cast("long").alias("total_overlap"))
                scanned = (
                    probed.filter(F.col("probe_rank") <= nprobe)
                    .drop("probe_rank")
                    .join(F.broadcast(sizes), "cid")
                    .agg(F.sum("cn").cast("long").alias("scanned_rows"))
                )
                row = (
                    overlap.crossJoin(F.broadcast(scanned))
                    .crossJoin(F.broadcast(denom))
                    .crossJoin(F.broadcast(corpus_n))
                    .select(
                        F.lit(f"ivf_i{iters}_p{nprobe}").alias("method"),
                        "total_overlap",
                        (
                            F.col("total_overlap").cast("double")
                            / F.col("n_possible").cast("double")
                        ).alias("recall_at_k"),
                        "scanned_rows",
                        (
                            F.col("scanned_rows").cast("double")
                            / (F.col("n_queries") * F.col("n_corpus")).cast("double")
                        ).alias("scanned_frac"),
                    )
                )
                out = row if out is None else out.unionAll(row)
    finally:
        KM.pin_lloyd_handles(pinned)
    return out.orderBy("method")


def _ann_sweep_sql() -> str:
    blocks = []
    for iters, nprobe in _SWEEP_CONFIGS:
        blocks.append(
            f"""  SELECT 'ivf_i{iters}_p{nprobe}' AS method,
         (SELECT CAST(count(*) AS BIGINT)
          FROM ({_ann_ivf_kmeans_sql(nprobe, iters)}) a
          JOIN bf ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id) AS total_overlap,
         (SELECT scanned FROM ({_ann_ivf_kmeans_scan_sql(nprobe, iters)}) sc) AS scanned_rows"""
        )
        blocks.append("  UNION ALL")
    union = "\n".join(blocks[:-1])
    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({_ann_bruteforce_sql()}) b),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings WHERE vec_id < {_ANN_NQ}),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM embeddings)
SELECT method, total_overlap,
       CAST(total_overlap AS DOUBLE) / CAST(n_queries * {_ANN_K} AS DOUBLE) AS recall_at_k,
       scanned_rows,
       CAST(scanned_rows AS DOUBLE) / CAST(n_queries * n_corpus AS DOUBLE) AS scanned_frac
FROM (
{union}
), nq, nc
ORDER BY method
"""


# ---------------------------------------------------------------- C44


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: verified near-dup pair counts
    per (source, source) cell — the measurement that tells you which
    corpus feeds duplicate each other (and how much of a source is
    recycled) BEFORE you assign mixture weights.  Reuses the minhash
    pair pipeline; the join back to sources is dim-sized and broadcast,
    the matrix is |sources|² rows."""
    prep(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    tagged = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a"
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b"
    )
    return (
        tagged.select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


def _source_matrix_sql() -> str:
    return f"""
WITH p AS ({_minhash_sql()}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(a.source, b.source) AS source_lo,
       greatest(a.source, b.source) AS source_hi,
       count(*) AS n_pairs
FROM p
JOIN src a ON a.doc_id = p.doc_a
JOIN src b ON b.doc_id = p.doc_b
GROUP BY least(a.source, b.source), greatest(a.source, b.source)
ORDER BY source_lo, source_hi
"""


# ---------------------------------------------------------------- C45


def corpus_dedup_priority_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization: within each near-dup
    cluster keep the HIGHEST-quality member (fixed-point score,
    doc_id tiebreak) instead of the arbitrary min-id — what a curation
    pipeline actually ships.  Output per source: docs, kept docs, and
    how many cluster winners CHANGED vs naive min-id keeping (the
    measurable value of quality-aware selection).  Cluster membership
    is corpus-sparse; the quality score is a single-scan column
    expression, and the per-cluster argmax is a window over only the
    clustered rows."""
    prep(spark)
    # bare load into the sketch (keeps its plan canonical with the
    # other minhash consumers → one shared cache entry per session);
    # the per-row-heavy quality scoring below spreads separately
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    clusters = G.connected_components(pairs)
    feats = X.quality_features(F.col("text"))
    scored = spread(docs).select(
        "doc_id",
        "source",
        F.floor(X.quality_score(feats) * 1_000_000).cast("long").alias("qm"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(F.desc("qm"), "doc_id")
    winners = (
        scored.join(clusters, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            (F.col("doc_id") != F.col("cluster_id")).cast("long").alias("upgraded"),
        )
    )
    member = scored.join(clusters, "doc_id", "left").join(winners, "doc_id", "left")
    kept = F.col("cluster_id").isNull() | F.col("upgraded").isNotNull()
    return (
        member.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.coalesce("upgraded", F.lit(0))).alias("n_quality_upgrades"),
        )
        .orderBy("source")
    )


def _priority_keep_sql() -> str:
    return f"""
WITH clusters AS ({_clusters_sql()}),
q AS (
  SELECT doc_id, CAST(floor(quality * 1000000) AS BIGINT) AS qm
  FROM ({_quality_sql()})
),
scored AS (
  SELECT d.doc_id, d.source, q.qm FROM documents d JOIN q USING (doc_id)
),
winners AS (
  SELECT doc_id, CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END AS upgraded
  FROM (
    SELECT s.doc_id, c.cluster_id,
           row_number() OVER (PARTITION BY c.cluster_id ORDER BY s.qm DESC, s.doc_id) AS rn
    FROM scored s JOIN clusters c USING (doc_id)
  ) WHERE rn = 1
)
SELECT s.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c.cluster_id IS NULL OR w.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(COALESCE(w.upgraded, 0)) AS BIGINT) AS n_quality_upgrades
FROM scored s
LEFT JOIN clusters c USING (doc_id)
LEFT JOIN winners w ON w.doc_id = s.doc_id
GROUP BY s.source ORDER BY s.source
"""


# ---------------------------------------------------------------- C46

# 60-bit hash-gate thresholds: test = 5%, val = next 10%, train = rest
_SPLIT_TEST = (1 << 60) * 5 // 100
_SPLIT_VAL = (1 << 60) * 15 // 100


def corpus_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split — the holdout primitive every
    training pipeline needs: membership is a pure function of
    md5-hash64(doc_id) against fixed 60-bit thresholds (test 5%, val
    10%, train 85%), so the split is reproducible across runs, engines,
    and topologies, leak-free under re-sharding, and any doc's
    assignment is auditable.  One scan; per-split rollup with
    fixed-point token totals."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    h = H.hash64(F.col("doc_id").cast("string"), "split")
    split = (
        F.when(h < _SPLIT_TEST, "test")
        .when(h < _SPLIT_VAL, "val")
        .otherwise("train")
    )
    n_tokens = F.size(H.tokens(F.col("text")))
    total = docs.agg(F.count(F.lit(1)).alias("_total"))
    return (
        docs.select(split.alias("split"), n_tokens.alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "split",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("_total").cast("double")).alias(
                "share"
            ),
            "total_tokens",
        )
        .orderBy("split")
    )


def _holdout_split_sql() -> str:
    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "split")
    return f"""
WITH tagged AS (
  SELECT CASE WHEN {h} < {_SPLIT_TEST} THEN 'test'
              WHEN {h} < {_SPLIT_VAL} THEN 'val'
              ELSE 'train' END AS split,
         len({H.sql_tokens('text')}) AS n_tokens
  FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(count(*) AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS share,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM tagged
GROUP BY split ORDER BY split
"""


# ---------------------------------------------------------------- C47

_VOCAB_SIZE = 256


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build a top-256 term vocabulary by
    corpus frequency (deterministic (count, term) tiebreak), then
    measure per-source token coverage and OOV rate — the go/no-go
    check before freezing a tokenizer vocabulary.  The vocab is
    broadcast; tokens never shuffle (the left-semi membership test is
    map-side), so the only exchange is the per-source rollup."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(H.tokens(F.col("text"))).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(_VOCAB_SIZE)
        .select("term")
    )
    tagged = tok.join(F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left")
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
                "oov_rate"
            ),
        )
        .orderBy("source")
    )


def _vocab_coverage_sql() -> str:
    return f"""
WITH tok AS (
  SELECT source, unnest({H.sql_tokens('text')}) AS term FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM tok GROUP BY term
    ORDER BY n DESC, term LIMIT {_VOCAB_SIZE}
  )
)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS oov_rate
FROM tok t LEFT JOIN vocab v USING (term)
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------- C48


def dedup_band_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal utility of each LSH band: cumulative candidate count,
    verified-pair count, and precision using only the first 1..b bands
    — the evidence for choosing the band count (each extra band buys
    recall at the price of candidate volume; this table shows exactly
    what band b added).  Reuses the cached per-doc sketch; pairs are
    attributed to the EARLIEST band that surfaced them, so the levels
    are a strict cumulative hierarchy."""
    prep(spark)
    from pyspark.sql import Window as W

    # bare load: _shingle_rows spreads internally, and the canonical
    # plan lets the session's shared sketch cache serve this key too
    docs = load(spark, sf_dir, "documents")
    rows = D._shingle_rows(docs, _MH_K)
    per_doc = D._per_doc_sketch(rows, _MH_N)
    pairs = (
        D._band_pairs(per_doc.drop("sh"), _MH_N, _MH_BANDS, D.DEFAULT_BUCKET_CAP)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("band").alias("min_band"))
    )
    # the shared set-side verify (operators/dedup.py _set_overlap);
    # no candidate gate here — the side gate is the only probe
    _, set_bcast = D._gate_stats(per_doc, None)
    jac = D._set_overlap(per_doc, pairs, set_bcast).select("min_band", D._jaccard())
    levels = spark.range(1, _MH_BANDS + 1).select(
        F.col("id").cast("int").alias("n_bands")
    )
    return (
        F.broadcast(levels)
        .join(jac, jac.min_band < levels.n_bands)
        .groupBy("n_bands")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("jaccard") >= _MH_TAU).cast("long")).alias("n_verified"),
            (
                F.sum((F.col("jaccard") >= _MH_TAU).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("precision"),
        )
        .orderBy("n_bands")
    )


def _band_utility_sql() -> str:
    raw = H.sql_char_shingles("text", _MH_K)
    sh = f"list_distinct(list_transform({raw}, s -> {H.sql_hash64('s', 'sh')}))"
    mh = H.sql_minhash_array("sh", _MH_N)
    r = _MH_N // _MH_BANDS
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, {H.sql_band_key('mh', b, r)} AS bkey FROM mh"
        for b in range(_MH_BANDS)
    )
    levels = ", ".join(f"({b})" for b in range(1, _MH_BANDS + 1))
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS sh FROM documents
),
mh AS (
  SELECT doc_id, sh, {mh} AS mh FROM sh
),
banded AS (
  {band_selects}
),
sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bucket_n FROM banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, min(a.band) AS min_band
  FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT p.min_band,
         len(list_intersect(sa.sh, sb.sh))::DOUBLE
           / len(list_distinct(sa.sh || sb.sh))::DOUBLE AS j
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
),
levels(n_bands) AS (VALUES {levels})
SELECT l.n_bands,
       count(*) AS n_candidates,
       CAST(sum(CASE WHEN j >= {_MH_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       CAST(CAST(sum(CASE WHEN j >= {_MH_TAU} THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS precision
FROM levels l JOIN jac ON jac.min_band < l.n_bands
GROUP BY l.n_bands
ORDER BY l.n_bands
"""

# ---------------------------------------------------------------- C54


def bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second tokenizer-training step: take the globally most frequent
    adjacent character pair (C36's rank-1, same count-desc/pair-asc
    tie-break) and APPLY the merge across the corpus — per source, how
    many merge operations fire and what the token stream compresses to.
    This is the train-pass → apply-pass shape of a real BPE trainer:
    pass 1 aggregates pair counts into a vocabulary-bounded table
    (|charset|² rows regardless of corpus size), the winning pair
    broadcasts back as a one-row scalar join, and pass 2 rewrites at
    scan speed with no shuffle beyond the per-source agg.

    Merge-count arithmetic is engine-portable: ``replace`` is greedy
    left-to-right non-overlapping in both Spark and DuckDB, so
    len(w) − len(replace(w, pair, '0')) counts exactly the merges BPE
    would perform within each token ('0' is outside the corpus
    charset; each merge shrinks the token by one symbol)."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(H.tokens(F.col("text"))).alias("w"))
    pair_counts = (
        tok.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top_pair = pair_counts.orderBy(F.col("n").desc(), F.col("pair")).limit(1).select("pair")
    merged = tok.crossJoin(F.broadcast(top_pair)).select(
        "source",
        "pair",
        F.length("w").alias("len_w"),
        (F.length("w") - F.length(F.expr("replace(w, pair, '0')"))).alias("n_merge"),
    )
    return (
        merged.groupBy("source", "pair")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("len_w").alias("chars_before"),
            F.sum("n_merge").alias("n_merges"),
            (F.sum("len_w") - F.sum("n_merge")).alias("chars_after"),
        )
        .orderBy("source")
    )


def _bpe_merge_apply_sql() -> str:
    toks = H.sql_tokens("text")
    return f"""
WITH tok AS (
  SELECT source, unnest({toks}) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
  FROM tok WHERE len(w) >= 2
),
top_pair AS (
  SELECT pair FROM (SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
  ORDER BY n DESC, pair LIMIT 1
)
SELECT source,
       (SELECT pair FROM top_pair) AS pair,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(len(w)) AS BIGINT) AS chars_before,
       CAST(sum(len(w) - len(replace(w, (SELECT pair FROM top_pair), '0'))) AS BIGINT) AS n_merges,
       CAST(sum(len(replace(w, (SELECT pair FROM top_pair), '0'))) AS BIGINT) AS chars_after
FROM tok
GROUP BY source
ORDER BY source
"""


ORACLES: dict[str, str] = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": _token_jaccard_sql(),
    "dedup_embedding_cosine": _embedding_cosine_sql(),
    "ann_bruteforce_topk": _ann_bruteforce_sql(),
    "ann_lsh_topk": _ann_lsh_sql(),
    "text_langid": _langid_sql(),
    "text_quality_score": _quality_sql(),
    "text_token_count": _token_count_sql(),
    "text_fingerprint": _fingerprint_sql(),
    "dedup_clusters": _clusters_sql(),
    "text_pii_redact": _pii_sql(),
    "doc_term_topk": _term_topk_sql(),
    "embedding_centroids": _centroids_sql(),
    "ann_ivf_topk": _ann_ivf_sql(nprobe=_IVF_NPROBE),
    "corpus_dedup_summary": _dedup_summary_sql(),
    "corpus_quality_by_source": _quality_by_source_sql(),
    "ann_recall_eval": _ann_recall_sql(),
    "corpus_stratified_sample": _stratified_sample_sql(),
    "corpus_mixture_weights": _mixture_weights_sql(),
    "doc_tfidf_topk": _tfidf_sql(),
    "multimodal_decode": MULTIMODAL_DECODE_SQL,
    "dedup_lsh_recall": _lsh_recall_sql(),
    "corpus_decontaminate": _decontaminate_sql(),
    "text_repetition": _repetition_sql(),
    "text_ngram_novelty": _ngram_novelty_sql(),
    "corpus_shard_plan": _shard_plan_sql(),
    "doc_chunk_plan": _chunk_plan_sql(),
    "token_budget_pack": _token_pack_sql(),
    "embedding_quantize": _quantize_sql(),
    "embedding_kmeans": _kmeans_sql(),
    "embedding_power_iteration": _power_iter_sql(),
    "text_langid_confusion": _langid_confusion_sql(),
    "bpe_pair_stats": _bpe_pair_sql(),
    "text_dup_spans": _dup_spans_sql(),
    "dedup_threshold_curve": _threshold_curve_sql(),
    "corpus_token_histogram": _token_histogram_sql(),
    "corpus_quality_funnel": _quality_funnel_sql(),
    "doc_posting_lists": _posting_lists_sql(),
    "embedding_pq_audit": _pq_audit_sql(),
    "ann_ivf_kmeans_topk": _ann_ivf_kmeans_sql(nprobe=_IVF_NPROBE),
    "ann_sweep_eval": _ann_sweep_sql(),
    "knn_label_eval": KNN_LABEL_EVAL_SQL,
    "ann_dim_ablation": _ann_dim_ablation_sql(),
    "dedup_cluster_histogram": _cluster_histogram_sql(),
    "dedup_incremental": _dedup_incremental_sql(),
    "dedup_source_matrix": _source_matrix_sql(),
    "corpus_dedup_priority_keep": _priority_keep_sql(),
    "corpus_holdout_split": _holdout_split_sql(),
    "tokenizer_vocab_coverage": _vocab_coverage_sql(),
    "dedup_band_utility": _band_utility_sql(),
    "bpe_merge_apply": _bpe_merge_apply_sql(),
}


# ---------------------------------------------------------------- C55
# Sparse tf-idf cosine self-join via an inverted index — the classic
# all-pairs similarity search (Bayardo et al., WWW'07): pairs are
# generated ONLY through shared posting lists, never all-pairs.

_SPARSE_K = 5          # char-shingle width (same representation as minhash)
_SPARSE_DF_MIN = 2     # df=1 terms can't produce a pair
_SPARSE_DF_CAP = 64    # posting-list cap: the quadratic-blowup guard
_SPARSE_SCALE = 256    # fixed-point idf scale (integer-exact everywhere)
_SPARSE_TOPK = 3


def doc_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-similar docs per doc by idf²-weighted shared-shingle
    score, computed through an inverted index.

    Weight per (doc, shingle) is integer fixed-point idf
    ``(N·256) DIV df``; a pair's score is Σ w² over shared shingles —
    BIGINT-exact end to end, so Spark and DuckDB agree bit-for-bit (no
    float dot products, which would be partitioning-order-dependent).

    Scale posture: the join key is the shingle, and the df-window
    [2, 64] bounds every posting list — worst-case pair fan-out per
    term is cap², independent of corpus size, and high-df (stopword)
    shingles carry ~zero idf weight anyway.  This is the same
    hot-bucket cap discipline as the minhash LSH path; at 100 TB the
    cap is the knob that trades recall on mid-frequency shingles for a
    hard upper bound on shuffle volume.  df pre-aggregation is
    |vocab|-sized; only qualifying postings shuffle.

    Cache discipline: Spark does not dedup common subtrees across a
    DAG, so without pinning, the posting pipeline would evaluate 4×
    (self-join sides × mirror union).  ``weighted`` and ``pairs`` are
    persisted under the session's rotate_cached slot — one posting
    compute, one join, and the mirror union reads the cached pairs.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n")).withColumnRenamed("n", "n_docs")
    posting = docs.select(
        "doc_id", F.explode(H.char_shingles(F.col("text"), _SPARSE_K)).alias("term")
    )
    df_t = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weighted = (
        posting.join(F.broadcast(df_t), "term")
        .filter((F.col("df") >= _SPARSE_DF_MIN) & (F.col("df") <= _SPARSE_DF_CAP))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.expr(f"CAST(n_docs * {_SPARSE_SCALE} AS BIGINT) DIV CAST(df AS BIGINT)").alias(
                "w"
            ),
        )
        .persist()
    )
    a = weighted.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("w_a")
    )
    b = weighted.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("w_b")
    )
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("score"))
        .persist()
    )
    rotate_cached("sparse_cosine", [weighted, pairs])
    directed = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"), "score"
        )
    )
    w_rank = W.partitionBy("doc_a").orderBy(F.desc("score"), "doc_b")
    return (
        directed.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _SPARSE_TOPK)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("neighbor_id"),
            "score",
            "rank",
        )
        .orderBy("doc_id", "rank")
    )


def _sparse_cosine_sql() -> str:
    sh = H.sql_char_shingles("text", _SPARSE_K)
    return f"""
WITH posting AS (
  SELECT doc_id, unnest({sh}) AS term FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
df_t AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
weighted AS (
  SELECT p.doc_id, p.term,
         CAST(n.n_docs * {_SPARSE_SCALE} AS BIGINT) // CAST(d.df AS BIGINT) AS w
  FROM posting p JOIN df_t d ON p.term = d.term, n
  WHERE d.df BETWEEN {_SPARSE_DF_MIN} AND {_SPARSE_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS score
  FROM weighted a JOIN weighted b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
directed AS (
  SELECT doc_a, doc_b, score FROM pairs
  UNION ALL
  SELECT doc_b, doc_a, score FROM pairs
),
ranked AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY doc_a ORDER BY score DESC, doc_b) AS INTEGER)
           AS rank
  FROM directed
)
SELECT doc_id, neighbor_id, score, rank FROM ranked
WHERE rank <= {_SPARSE_TOPK}
ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------- C56
# Edit-distance fuzzy matching with length-band blocking — the entity-
# resolution primitive (record linkage / near-identical titles) that
# hash-based dedup misses because one edit changes every shingle hash.

_FUZZY_BAND = 16       # chars per length band; candidates = same or adjacent band
_FUZZY_LEN_DELTA = 16  # max |n_chars| difference
_FUZZY_PREFIX = 40     # edit distance computed over this prefix
_FUZZY_MAX_LEV = 20


def dedup_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-match pairs by Levenshtein distance over 40-char prefixes,
    blocked by (lang, 16-char length band).

    Blocking is lossless for the declared predicate: each doc emits its
    band and band+1, and |Δn_chars| ≤ 16 forces band distance ≤ 1, so
    every qualifying pair shares a key — the oracle states the CLEAN
    unblocked predicate and the gate proves the blocked plan equals it.

    Scale posture: Levenshtein is O(prefix²) per comparison and cannot
    be indexed directly — the block join is what keeps the candidate
    set linear-ish (band × lang cells) instead of N²; the prefix cap
    bounds per-pair cost.  Candidates dedup on the pair key BEFORE the
    distance compute so a pair sharing both keys is scored once.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars", F.substring("text", 1, _FUZZY_PREFIX).alias("prefix")
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        "prefix",
        F.explode(
            F.array(
                (F.col("n_chars") / _FUZZY_BAND).cast("bigint"),
                (F.col("n_chars") / _FUZZY_BAND).cast("bigint") + 1,
            )
        ).alias("band"),
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("n_chars").alias("len_a"),
        F.col("prefix").alias("pref_a"),
        "band",
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("len_b"),
        F.col("prefix").alias("pref_b"),
        "band",
    )
    cands = (
        a.join(b, ["band"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("lang_a") == F.col("lang_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= _FUZZY_LEN_DELTA)
        )
        .select("doc_a", "doc_b", "lang_a", "len_a", "len_b", "pref_a", "pref_b")
        .distinct()
    )
    return (
        cands.withColumn("lev", F.levenshtein("pref_a", "pref_b"))
        .filter(F.col("lev") <= _FUZZY_MAX_LEV)
        .select(
            "doc_a",
            "doc_b",
            F.col("lang_a").alias("lang"),
            (F.col("len_b") - F.col("len_a")).alias("len_delta"),
            "lev",
        )
        .orderBy("doc_a", "doc_b")
    )


FUZZY_EDITDIST_SQL = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
       b.n_chars - a.n_chars AS len_delta,
       CAST(levenshtein(substr(a.text, 1, {_FUZZY_PREFIX}),
                        substr(b.text, 1, {_FUZZY_PREFIX})) AS INTEGER) AS lev
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= {_FUZZY_LEN_DELTA}
WHERE levenshtein(substr(a.text, 1, {_FUZZY_PREFIX}),
                  substr(b.text, 1, {_FUZZY_PREFIX})) <= {_FUZZY_MAX_LEV}
ORDER BY doc_a, doc_b
"""


# Registered here (not in the dict literal above) because the defs sit
# below the dict in file order.
ORACLES["doc_sparse_cosine_topk"] = _sparse_cosine_sql()
ORACLES["dedup_fuzzy_editdist"] = FUZZY_EDITDIST_SQL


# ---------------------------------------------------------------- C57
# Asymmetric containment dedup: catches SUBSET duplicates (a doc
# embedded inside a larger one — quotes, boilerplate wrappers) that
# symmetric jaccard under-scores, because the union in the denominator
# is dominated by the larger doc.

_CONT_K = 5
_CONT_TAU = 0.6
_CONT_BLOCK_CAP = 2000


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set containment pairs within language blocks: keep pairs
    where max(|A∩B|/|A|, |A∩B|/|B|) ≥ 0.6, emitting BOTH directed
    containments plus jaccard for contrast.

    All three ratios are small-integer divisions (set sizes ≤ text
    length), so the doubles are exact and engine-portable.  Blocks over
    the cap are dropped LOUDLY (VERDICT r4 item 6 / ADVICE r4): each
    over-cap block emits a ``status='dropped_block'`` evidence row
    carrying (block_lang, block_n), so a saturated run — every lang
    block exceeds the cap at sf1 — returns the drop accounting instead
    of an empty frame that reads as "no duplicates".  Pair rows carry
    the same provenance columns.  At 100 TB the block key would be an
    LSH band, not lang (that scale path is ``dedup_containment_lsh``);
    the containment arithmetic is unchanged.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    shingled = docs.select(
        "doc_id", "lang", H.char_shingles(F.col("text"), _CONT_K).alias("sh")
    )
    sizes = shingled.groupBy("lang").agg(F.count(F.lit(1)).alias("block_n"))
    # lang cardinality is a fixed handful at any corpus size → broadcast
    keep = shingled.join(
        F.broadcast(sizes.filter(F.col("block_n") <= _CONT_BLOCK_CAP)), "lang"
    )
    a = keep.select(
        F.col("doc_id").alias("doc_a"), "lang", "block_n", F.col("sh").alias("sh_a")
    )
    b = keep.select(
        F.col("doc_id").alias("doc_b"), "lang", F.col("sh").alias("sh_b")
    )
    # eval_once barrier (r13): without it the containment filter is
    # pushed into the block join's condition and the array_intersect
    # over full shingle-string arrays evaluates twice per pair
    pairs = (
        a.join(b, "lang")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            F.col("lang"),
            "block_n",
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("_na"),
            F.size("sh_b").alias("_nb"),
            D.eval_once(F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))), "_inter"),
        )
        .select(
            F.lit("pair").alias("status"),
            F.col("lang").alias("block_lang"),
            "block_n",
            "doc_a",
            "doc_b",
            F.col("_inter").alias("inter_n"),
            (F.col("_inter").cast("double") / F.col("_na").cast("double")).alias("cont_a_in_b"),
            (F.col("_inter").cast("double") / F.col("_nb").cast("double")).alias("cont_b_in_a"),
            D._jaccard(),
        )
        .filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= _CONT_TAU)
    )
    dropped = sizes.filter(F.col("block_n") > _CONT_BLOCK_CAP).select(
        F.lit("dropped_block").alias("status"),
        F.col("lang").alias("block_lang"),
        "block_n",
        F.lit(None).cast("long").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.lit(None).cast("int").alias("inter_n"),
        F.lit(None).cast("double").alias("cont_a_in_b"),
        F.lit(None).cast("double").alias("cont_b_in_a"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    return pairs.unionByName(dropped).orderBy("status", "block_lang", "doc_a", "doc_b")


def _containment_sql() -> str:
    sh = H.sql_char_shingles("text", _CONT_K)
    return f"""
WITH t0 AS (
  SELECT doc_id, lang, {sh} AS sh FROM documents
),
sizes AS (
  SELECT lang, count(*) AS block_n FROM t0 GROUP BY lang
),
t AS (
  SELECT t0.doc_id, t0.lang, t0.sh, sizes.block_n
  FROM t0 JOIN sizes USING (lang)
  WHERE sizes.block_n <= {_CONT_BLOCK_CAP}
)
SELECT status, block_lang, block_n, doc_a, doc_b, inter_n, cont_a_in_b, cont_b_in_a, jaccard
FROM (
  SELECT 'pair' AS status, lang AS block_lang, block_n,
         doc_a, doc_b, inter_n, cont_a_in_b, cont_b_in_a, jaccard
  FROM (
    SELECT a.lang, a.block_n, a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS inter_n,
           len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh)::DOUBLE AS cont_a_in_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh)::DOUBLE AS cont_b_in_a,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(a.sh || b.sh))::DOUBLE AS jaccard
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
  )
  WHERE greatest(cont_a_in_b, cont_b_in_a) >= {_CONT_TAU}
  UNION ALL
  SELECT 'dropped_block', lang, block_n,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM sizes WHERE block_n > {_CONT_BLOCK_CAP}
)
ORDER BY status, block_lang, doc_a, doc_b
"""


ORACLES["dedup_containment"] = _containment_sql()


# ---------------------------------------------------------------- C58
# Bigram-LM fluency scoring — the quality-filter family's perplexity
# stand-in (CCNet-style LM filtering), kept log-free and fixed-point so
# both engines agree bit-for-bit (ln() differs in the last ulp across
# libms; a sum of per-token logs would drift).

_LM_SCALE = 1_000_000


def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc corpus-bigram fluency: mean scaled conditional frequency
    ``(c(w1,w2)·10⁶) DIV c(w1·)`` over the doc's adjacent token pairs.

    The conditional universe is observed bigram starts (c(w1·) =
    Σ_w2 c(w1,w2)), so the score is a closed-form rational per bigram —
    BIGINT-exact — and the only float op is one final division per doc.

    Scale posture: the bigram count table is |bigram vocab|-sized and
    aggregates map-side before its shuffle; scoring joins are equi-joins
    on (w1,w2) and w1.  High-frequency bigrams score high by
    construction — this is the fluency prior, not topicality.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    bigrams = docs.select(
        "doc_id", H.tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) < 2 THEN CAST(array() AS array<struct<w1:string,w2:string>>) "
                "ELSE transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2)) END"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        bigrams.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .select(
            "doc_id",
            F.expr(f"(c2 * CAST({_LM_SCALE} AS BIGINT)) DIV c1").alias("fp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("fp").alias("score_sum"),
            (
                F.sum("fp").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("mean_score"),
        )
        .orderBy("doc_id")
    )


def _lm_score_sql() -> str:
    toks = H.sql_tokens("text")
    return f"""
WITH tk AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
bigrams AS (
  SELECT doc_id, u.bg['w1'] AS w1, u.bg['w2'] AS w2
  FROM tk, unnest(list_transform(range(1, len(toks)),
                  i -> {{'w1': toks[i], 'w2': toks[i+1]}})) u(bg)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       CAST(sum((c2.c2 * {_LM_SCALE}) // c1.c1) AS BIGINT) AS score_sum,
       CAST(sum((c2.c2 * {_LM_SCALE}) // c1.c1) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_score
FROM bigrams b
JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
JOIN c1 ON b.w1 = c1.w1
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


ORACLES["text_ngram_lm_score"] = _lm_score_sql()


# ---------------------------------------------------------------- C59
# Weighted importance sampling — the quality-UPSAMPLING half of data
# mixing (C21/C22 are uniform-within-stratum; real training mixes also
# weight WITHIN a stratum by a per-document score).

_IS_BASE = (1 << 60) // 8  # acceptance quantum: p = bucket/8


def corpus_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-document importance sampling: a doc's
    acceptance probability is ``w/8`` where ``w ∈ [1, 5]`` is its
    length-derived weight bucket (any integer score column slots in).
    Accept iff md5-hash64(doc_id) < w · (2⁶⁰/8) — the same auditable
    hash-gate family as the stratified sampler, so membership is
    reproducible across runs, engines, and re-sharding, and upweighted
    docs form a SUPERSET of what a lower weight would admit (nested
    samples: lowering a doc's weight can only remove it).

    Scale posture: embarrassingly parallel row predicate + one tiny
    rollup; no shuffle wider than (source, bucket).
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    # integer floor-divide BEFORE least so the expression is structurally
    # identical to the oracle's `least(n_chars // 100, 4)` (ADVICE r4:
    # float-divide-then-truncate only coincided with floor incidentally)
    w = F.least(F.floor(F.col("n_chars") / 100), F.lit(4)).cast("bigint") + 1
    keep = H.hash64(F.col("doc_id").cast("string"), "isample") < w * F.lit(_IS_BASE)
    return (
        docs.select("source", w.alias("w_bucket"), keep.alias("keep"))
        .groupBy("source", "w_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_sampled"),
            (
                F.sum(F.col("keep").cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("observed_rate"),
        )
        .orderBy("source", "w_bucket")
    )


def _importance_sample_sql() -> str:
    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "isample")
    w = "(least(n_chars // 100, 4) + 1)"
    return f"""
SELECT source,
       CAST({w} AS BIGINT) AS w_bucket,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN {h} < {w} * {_IS_BASE} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(CAST(sum(CASE WHEN {h} < {w} * {_IS_BASE} THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS observed_rate
FROM documents
GROUP BY source, {w}
ORDER BY source, w_bucket
"""


ORACLES["corpus_importance_sample"] = _importance_sample_sql()


# ---------------------------------------------------------------- C60
# The containment SCALE path C57's docstring promises: candidates from
# minhash LSH bands (corpus-size-independent bucket costs) instead of
# quadratic lang blocks — at sf1, where C57's blocks saturate their
# cap, this variant keeps producing pairs.

_CONT_LSH_TAU = 0.6


def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment over minhash-LSH candidate pairs: band
    buckets generate candidates (same sketch parameters as C2), exact
    shingle containment verifies.

    Recall contract: banding admits pairs by JACCARD, and containment ≥
    τ with very different set sizes can have low jaccard (j ≥
    τ·|A|/|B| only) — so this is the high-throughput screen for
    near-size subset dups, not a guarantee for tiny-inside-huge pairs;
    the band curve bounds what it can see, and dedup_lsh_recall is the
    harness that would measure it.  The oracle replays band generation
    + verify exactly, so the gate pins candidates AND ratios.

    Verify shape (r12): auto-gated in operators/dedup.py
    minhash_containment_pairs — the post-degree-cap candidate count
    picks between the broadcast-candidates shape (fused cached
    sketch+sets, no shingle array crosses an exchange; fixes the r11
    narrow-only shape's 4× md5 corpus re-scan and AQE's full-shingle-
    frame broadcasts — 7.1 s → ~1.3 s steady at sf0.1) and the narrow
    all-shuffle fallback that survives candidate sets too big for the
    driver (the sf1 AQE-broadcast-OOM lesson; still regression-pinned).

    r6 (VERDICT r5 item 3): candidate volume is clique-quadratic —
    sf10's 100-dup cliques produced 205.9M verify pairs and overflowed
    single-node scratch.  A per-doc DEGREE CAP (keep each doc's 16
    smallest partner ids; pair survives only if kept from both ends)
    bounds the verify at n·cap pairs while preserving min-id cluster
    connectivity; every capped doc emits a loud ``status='capped_doc'``
    evidence row carrying (degree, n_dropped_partners), replayed
    identically by the oracle's row_number window.
    """
    prep(spark)
    # no outer spread: _shingle_rows spreads internally, and the bare
    # load keeps the sketch's logical plan identical to
    # dedup_minhash_lsh's so the session shares ONE cached sketch
    docs = load(spark, sf_dir, "documents")
    return D.minhash_containment_pairs(
        docs,
        k=_MH_K,
        n_hashes=_MH_N,
        bands=_MH_BANDS,
        threshold=_CONT_LSH_TAU,
        degree_cap=D.DEFAULT_DEGREE_CAP,
        evidence=True,
    ).orderBy("status", "doc_a", "doc_b")


def _containment_lsh_sql() -> str:
    r = _MH_N // _MH_BANDS
    raw = H.sql_char_shingles("text", _MH_K)
    sh = f"list_distinct(list_transform({raw}, s -> {H.sql_hash64('s', 'sh')}))"
    mh = H.sql_minhash_array("sh", _MH_N)
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, {H.sql_band_key('mh', b, r)} AS bkey FROM mh"
        for b in range(_MH_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS sh FROM documents
),
mh AS (
  SELECT doc_id, sh, {mh} AS mh FROM sh
),
banded AS (
  {band_selects}
),
sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bucket_n FROM banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
candp AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
directed AS (
  SELECT doc_a AS doc, doc_b AS partner FROM candp
  UNION ALL SELECT doc_b, doc_a FROM candp
),
ranked AS (
  SELECT doc, partner,
         row_number() OVER (PARTITION BY doc ORDER BY partner) AS rk
  FROM directed
),
droppedp AS (
  SELECT least(doc, partner) AS doc_a, greatest(doc, partner) AS doc_b
  FROM ranked
  GROUP BY 1, 2
  HAVING bool_and(rk > {D.DEFAULT_DEGREE_CAP})
),
kept AS (
  SELECT c.doc_a, c.doc_b FROM candp c
  WHERE NOT EXISTS (
    SELECT 1 FROM droppedp d WHERE d.doc_a = c.doc_a AND d.doc_b = c.doc_b
  )
),
pairs AS (
  SELECT k.doc_a, k.doc_b, sa.sh AS sh_a, sb.sh AS sh_b
  FROM kept k
  JOIN sh sa ON sa.doc_id = k.doc_a
  JOIN sh sb ON sb.doc_id = k.doc_b
)
SELECT * FROM (
  SELECT CAST('pair' AS VARCHAR) AS status, doc_a, doc_b,
         CAST(len(list_intersect(sh_a, sh_b)) AS INTEGER) AS inter_n,
         len(list_intersect(sh_a, sh_b))::DOUBLE / len(sh_a)::DOUBLE AS cont_a_in_b,
         len(list_intersect(sh_a, sh_b))::DOUBLE / len(sh_b)::DOUBLE AS cont_b_in_a,
         CAST(NULL AS BIGINT) AS degree,
         CAST(NULL AS BIGINT) AS n_dropped_partners
  FROM pairs
  WHERE greatest(len(list_intersect(sh_a, sh_b))::DOUBLE / len(sh_a)::DOUBLE,
                 len(list_intersect(sh_a, sh_b))::DOUBLE / len(sh_b)::DOUBLE)
        >= {_CONT_LSH_TAU}
  UNION ALL
  SELECT 'capped_doc', lost.doc, CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(deg.degree AS BIGINT) AS degree,
         CAST(lost.n_dropped AS BIGINT) AS n_dropped_partners
  FROM (
    SELECT doc, count(*) AS n_dropped FROM (
      SELECT doc_a AS doc FROM droppedp UNION ALL SELECT doc_b FROM droppedp
    ) GROUP BY doc
  ) lost
  JOIN (SELECT doc, count(*) AS degree FROM directed GROUP BY doc) deg
    ON deg.doc = lost.doc
)
ORDER BY status, doc_a, doc_b
"""


ORACLES["dedup_containment_lsh"] = _containment_lsh_sql()


# ---------------------------------------------------------------- C61
# Estimator calibration for the minhash sketch itself: the LSH curve
# 1-(1-j^r)^b assumes lane-match probability == jaccard — this key
# MEASURES that, pair by pair, with both sides oracle-replayable
# (lanes are md5-anchored, so DuckDB computes the identical sketch).


def dedup_minhash_est_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every verified near-dup pair: exact jaccard vs the sketch
    estimate (matching lanes / n_lanes) and the absolute error — the
    per-pair calibration behind every banding-curve argument.

    12 lanes ⇒ σ ≈ √(j(1−j)/12) ≈ 0.12 at j=0.8, so single-pair
    estimates are coarse by design; what the evidence shows is the
    estimator's spread, which is what the band curve integrates over.
    """
    prep(spark)
    # bare load (no outer spread — _shingle_rows spreads internally):
    # keeps the sketch plan canonical with dedup_minhash_lsh's, so the
    # CacheManager serves every sketch consumer in the session from
    # one entry instead of rebuilding under a Repartition(Repartition)
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    )
    # same canonical plan as the sketch minhash_lsh_pairs just cached —
    # the CacheManager dedups them into one entry, so the lanes come
    # from the warm cache instead of a second explode+md5 corpus pass
    mins = D.per_doc_sketch(docs, k=_MH_K, n_hashes=_MH_N).drop("sh")
    a = mins.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_MH_N)],
    )
    b = mins.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_MH_N)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_MH_N)
    )
    est = n_match.cast("double") / F.lit(float(_MH_N))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_match.alias("n_match_lanes"),
            est.alias("est_jaccard"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_calibration_sql() -> str:
    r = _MH_N // _MH_BANDS
    raw = H.sql_char_shingles("text", _MH_K)
    sh = f"list_distinct(list_transform({raw}, s -> {H.sql_hash64('s', 'sh')}))"
    mh = H.sql_minhash_array("sh", _MH_N)
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, sh, mh, {b} AS band, {H.sql_band_key('mh', b, r)} AS bkey FROM mh"
        for b in range(_MH_BANDS)
    )
    n_match = (
        f"len(list_filter(range(1, {_MH_N + 1}), i -> a.mh[i] = b.mh[i]))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS sh FROM documents
),
mh AS (
  SELECT doc_id, sh, {mh} AS mh FROM sh
),
banded AS (
  {band_selects}
),
sized AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bucket_n FROM banded
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh AS sh_a, b.sh AS sh_b,
         CAST({n_match} AS INTEGER) AS n_match_lanes
  FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sh_a, sh_b))::DOUBLE / len(list_distinct(sh_a || sh_b))::DOUBLE AS jaccard,
         n_match_lanes
  FROM cand
  WHERE len(list_intersect(sh_a, sh_b))::DOUBLE / len(list_distinct(sh_a || sh_b))::DOUBLE >= {_MH_TAU}
)
SELECT doc_a, doc_b, jaccard, n_match_lanes,
       n_match_lanes::DOUBLE / {float(_MH_N)} AS est_jaccard,
       abs(n_match_lanes::DOUBLE / {float(_MH_N)} - jaccard) AS abs_err
FROM verified
ORDER BY doc_a, doc_b
"""


ORACLES["dedup_minhash_est_calibration"] = _minhash_calibration_sql()


# ---------------------------------------------------------------- C62
# Temperature-scaled source mixing (α = 1/2): the multilingual /
# multi-source sampling standard — w_s ∝ n_s^α flattens the source
# distribution so low-resource sources are upsampled relative to their
# natural share.  Complements C22 (hit a GIVEN target mixture) and C59
# (per-document weights): this one DERIVES the target mixture.


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source α=0.5 temperature weights: scaled integer
    ``floor(√(n·10⁶))``, the normalized share, and the boost factor vs
    the natural share.

    Exactness: √ of an exact BIGINT is one correctly-rounded IEEE op
    (identical in both engines), floor pins it to an integer, the sum
    of 5 BIGINTs is exact, and each share/boost is a division of exact
    integers — no accumulation of doubles anywhere.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs") * F.lit(1_000_000))).cast("bigint")
    weighted = per_src.select("source", "n_docs", w.alias("w_scaled"))
    totals = weighted.agg(
        F.sum("n_docs").alias("tot_n"), F.sum("w_scaled").alias("tot_w")
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "w_scaled",
            (F.col("w_scaled").cast("double") / F.col("tot_w").cast("double")).alias(
                "share"
            ),
            (
                (F.col("w_scaled").cast("double") / F.col("tot_w").cast("double"))
                / (F.col("n_docs").cast("double") / F.col("tot_n").cast("double"))
            ).alias("boost"),
        )
        .orderBy("source")
    )


CORPUS_TEMPERATURE_MIX_SQL = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(floor(sqrt(count(*) * 1000000)) AS BIGINT) AS w_scaled
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS tot_n, CAST(sum(w_scaled) AS BIGINT) AS tot_w
  FROM per_src
)
SELECT source, n_docs, w_scaled,
       w_scaled::DOUBLE / tot_w::DOUBLE AS share,
       (w_scaled::DOUBLE / tot_w::DOUBLE) / (n_docs::DOUBLE / tot_n::DOUBLE) AS boost
FROM per_src, tot
ORDER BY source
"""

ORACLES["corpus_temperature_mix"] = CORPUS_TEMPERATURE_MIX_SQL


# ---------------------------------------------------------------- C63
# PQ asymmetric-distance search (ADC, Jégou et al. 2011): the
# memory-bound production ANN — the database lives as 8 one-byte codes
# per vector, and a query scans it by summing 8 table lookups, never
# touching a raw database vector.


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors per query by PQ asymmetric distance over UNIT-
    NORMALIZED vectors and Lloyd-TRAINED per-subspace codebooks
    (VERDICT r4 item 4): db vectors are their trained-code assignments
    (16 subspaces × 6 bits = 96 bits per vector, 21× compression), each
    query precomputes its distance to every (subspace, code) cell, and
    the estimated distance is the 16-term sum of lookups — BIGINT-exact
    end to end, so Spark and DuckDB agree bit-for-bit (fixed-point
    arithmetic throughout, argmin/ranking on integers).

    Why this tracks cosine: for unit vectors ‖a−b‖² = 2−2·cos(a,b), so
    exact squared-L2 ranking IS cosine ranking — the r4 metric gap
    (quantized L2 on raw vectors vs cosine truth, recall@5 0.12) is
    structural zero here; the only remaining error is quantization,
    which the trained 64-code 4-dim-subspace codebooks minimize
    (measured recall@5 0.66 at sf0.01, ann_adc_recall_eval).

    Scale shape: the db side carries only (vec_id, subspace, code) —
    compressed 64× vs raw floats — and the join key is
    (subspace, code): subspaces × codes cells total, so the per-query
    cost is a broadcast-sized lookup table against code rows, never a
    vector-by-vector distance.  Codebook training touches only the
    narrow component table (persisted; Lloyd's update is
    codes × subdims rows); one distance-table pass feeds BOTH the db
    assignment and the query tables (persisted via the session
    cache-rotation slot).
    """
    prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    sub = S.normalized_subspace_components(emb, n_subdim=_ADC_SUBDIM).persist()
    cents = S.pq_train_codebooks(sub, n_codes=_ADC_CODES, iters=_ADC_ITERS)
    dq = S.pq_distance_table_trained(sub, cents).persist()
    rotate_cached("pq_adc", [sub, cents, dq])
    w_assign = W.partitionBy("vec_id", "subspace").orderBy("dqsum", "code")
    db = (
        dq.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "subspace", "code")
    )
    qtab = dq.filter(F.col("vec_id") < _ANN_NQ).select(
        F.col("vec_id").alias("query_id"), "subspace", "code", F.col("dqsum").alias("qd")
    )
    est = (
        db.join(qtab, ["subspace", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("est_dist"))
    )
    w_rank = W.partitionBy("query_id").orderBy("est_dist", "vec_id")
    return (
        est.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _ANN_K)
        .orderBy("query_id", "rank")
    )


def _adc_trained_ctes() -> str:
    """Unrolled-CTE replay of the normalized components + per-subspace
    Lloyd codebook training + distance table (ends with CTE ``dq``) —
    the same contract as the kmeans oracle (_km_assign_sql): identical
    fixed-point arithmetic, so hashes must agree."""
    parts = [
        f"""e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
en AS (
  SELECT vec_id, v, sqrt({V.sql_dot('v', 'v')}) AS nrm FROM e
),
scomp AS (
  SELECT vec_id,
         CAST((t.dim - 1) // {_ADC_SUBDIM} AS INTEGER) AS ss,
         CAST((t.dim - 1) % {_ADC_SUBDIM} AS INTEGER) AS sd,
         CAST(floor(v[t.dim] / nrm * {S.QUANT}) AS BIGINT) AS qv
  FROM en, UNNEST(range(1, len(v)+1)) AS t(dim)
),
pcent0 AS (
  SELECT ss, CAST(vec_id AS INTEGER) AS code, sd, qv AS qc
  FROM scomp WHERE vec_id < {_ADC_CODES}
)"""
    ]
    cent = "pcent0"
    for i in range(1, _ADC_ITERS + 1):
        parts.append(
            f"""pa{i}_d AS (
  SELECT c.vec_id, c.ss, t.code,
         CAST(sum((c.qv - t.qc) * (c.qv - t.qc)) AS BIGINT) AS dist
  FROM scomp c JOIN {cent} t ON c.ss = t.ss AND c.sd = t.sd
  GROUP BY c.vec_id, c.ss, t.code
),
pa{i} AS (
  SELECT vec_id, ss, code FROM (
    SELECT vec_id, ss, code,
           row_number() OVER (PARTITION BY vec_id, ss ORDER BY dist, code) AS rn
    FROM pa{i}_d
  ) WHERE rn = 1
),
pcent{i} AS (
  SELECT a.ss, a.code, c.sd,
         CAST(floor(CAST(CAST(sum(c.qv) AS VARCHAR) AS DOUBLE) / count(*)) AS BIGINT) AS qc
  FROM pa{i} a JOIN scomp c ON a.vec_id = c.vec_id AND a.ss = c.ss
  GROUP BY a.ss, a.code, c.sd
)"""
        )
        cent = f"pcent{i}"
    parts.append(
        f"""dq AS (
  SELECT c.vec_id, c.ss AS subspace, t.code,
         CAST(sum((c.qv - t.qc) * (c.qv - t.qc)) AS BIGINT) AS dqsum
  FROM scomp c JOIN {cent} t ON c.ss = t.ss AND c.sd = t.sd
  GROUP BY c.vec_id, c.ss, t.code
)"""
    )
    return ",\n".join(parts)


def _ann_pq_adc_sql() -> str:
    return f"""
WITH {_adc_trained_ctes()},
db AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code,
           row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dqsum, code) AS rn
    FROM dq
  ) WHERE rn = 1
),
qtab AS (
  SELECT vec_id AS query_id, subspace, code, dqsum AS qd
  FROM dq WHERE vec_id < {_ANN_NQ}
),
est AS (
  SELECT q.query_id, d.vec_id, CAST(sum(q.qd) AS BIGINT) AS est_dist
  FROM db d JOIN qtab q ON d.subspace = q.subspace AND d.code = q.code
  WHERE q.query_id <> d.vec_id
  GROUP BY q.query_id, d.vec_id
)
SELECT query_id, vec_id, est_dist,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY est_dist, vec_id) AS rank
  FROM est
)
WHERE rank <= {_ANN_K}
ORDER BY query_id, rank
"""


ORACLES["ann_pq_adc_topk"] = _ann_pq_adc_sql()


# ---------------------------------------------------------------- C64
# Closing the ADC quality loop: ann_recall_eval measures the
# candidate-generation indexes; this key measures the ADC DISTANCE
# APPROXIMATION itself against brute-force cosine ground truth.


def ann_adc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of PQ-ADC top-5 vs exact cosine top-5 —
    integer overlap counts, one exact double division per query.

    Since r5 the ADC operates on unit-normalized vectors (squared-L2
    ranking == cosine ranking for unit vectors), so this measures pure
    quantization error — no metric gap.  Measured mean recall@5 at
    sf0.01: 0.66 with the trained 4-dim/64-code codebooks (was 0.12 in
    r4 with 4 shared label centroids on raw vectors; the sweep behind
    the chosen config is recorded at the _ADC_* constants).
    """
    prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    adc = ann_pq_adc_topk(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    exact = S.brute_force_topk(
        emb.filter(F.col("vec_id") < _ANN_NQ), emb, k=_ANN_K
    ).select("query_id", "neighbor_id")
    hits = adc.join(exact, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    base = exact.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(_ANN_K))
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _ann_adc_recall_sql() -> str:
    adc = _ann_pq_adc_sql().strip().rstrip()
    bf = _ann_bruteforce_sql().strip()
    return f"""
WITH adc AS ({adc}),
bf AS ({bf}),
hits AS (
  SELECT a.query_id, count(*) AS n_hits
  FROM adc a JOIN bf b ON a.query_id = b.query_id AND a.vec_id = b.neighbor_id
  GROUP BY a.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(_ANN_K)} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM bf) q
LEFT JOIN hits h USING (query_id)
ORDER BY q.query_id
"""


ORACLES["ann_adc_recall_eval"] = _ann_adc_recall_sql()


# ---------------------------------------------------------------- C65
# Vocabulary growth curve (Heaps' law evidence): how fast does the
# distinct-shingle vocabulary grow as the corpus grows?  The input to
# tokenizer-vocab sizing and dedup-memory forecasting.

_VG_BUCKETS = 10


def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct 5-gram count over 10 hash-ordered corpus
    prefixes, in ONE pass: each shingle records the FIRST (min) bucket
    it appears in; the bucket histogram's running sum IS the growth
    curve.  No per-prefix rescans — the naive formulation is 10 full
    distinct-aggregations, this is one.

    Hash-ordered prefixes make the curve sampling-stable: bucket
    membership is md5(doc_id), so re-sharding or reordering the corpus
    does not move the curve (same property as the holdout split).
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    bucketed = docs.select(
        (H.hash64(F.col("doc_id").cast("string"), "vg") % _VG_BUCKETS).alias("bucket"),
        F.explode(H.char_shingles(F.col("text"), 5)).alias("s"),
    )
    first_seen = bucketed.groupBy("s").agg(F.min("bucket").alias("first_bucket"))
    hist = first_seen.groupBy("first_bucket").agg(
        F.count(F.lit(1)).alias("new_shingles")
    )
    cum_w = W.orderBy("first_bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        hist.select(
            F.col("first_bucket").cast("int").alias("prefix_bucket"),
            "new_shingles",
            F.sum("new_shingles").over(cum_w).alias("vocab_to_date"),
        )
        .orderBy("prefix_bucket")
    )


def _vocab_growth_sql() -> str:
    sh = H.sql_char_shingles("text", 5)
    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "vg")
    return f"""
WITH bucketed AS (
  SELECT {h} % {_VG_BUCKETS} AS bucket, unnest({sh}) AS s FROM documents
),
first_seen AS (
  SELECT s, min(bucket) AS first_bucket FROM bucketed GROUP BY s
),
hist AS (
  SELECT first_bucket, count(*) AS new_shingles FROM first_seen GROUP BY first_bucket
)
SELECT CAST(first_bucket AS INTEGER) AS prefix_bucket, new_shingles,
       CAST(sum(new_shingles) OVER (ORDER BY first_bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_to_date
FROM hist
ORDER BY prefix_bucket
"""


ORACLES["corpus_vocab_growth"] = _vocab_growth_sql()


# ---------------------------------------------------------------- C66
# The last un-swept sketch parameter: shingle width k.  Bands (C48),
# threshold (C38), and lanes (C2's design note) all have measured
# curves; k controls shingle-set granularity — smaller k inflates
# cross-doc overlap (more candidates, looser jaccard), larger k
# sharpens it.

_KSWEEP = [3, 5, 7]


def dedup_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate and verified pair counts at shingle widths 3/5/7,
    same (n, bands, τ) as the production C2 contract — the evidence
    for WHY k=5: each k runs the identical banding pipeline, so the
    row differences isolate the k effect.

    Three bounded pipelines over one corpus; each is the same
    cap-disciplined shape as C2 (no all-pairs anywhere)."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    out = None
    pinned = []
    # r13 (VERDICT r12 item 4): ONE fused scan+agg per k.  The old
    # shape built the candidate count and the verified pairs through
    # SEPARATE operator calls, and each k's sketch rotation evicted the
    # previous k's cache before the key's single action ran — at action
    # time k=3 and k=5 replayed the exploded md5 scan for every verify
    # consumer (four scans per k, 38.7 s sf0.1 cold).  Now each k
    # builds the fused sketch once with rotate=False, derives BOTH the
    # candidate count and the auto-gated broadcast verify from it, and
    # every sketch stays pinned until the sweep's action runs; the
    # whole pinned list then rotates latest-wins in its own slot (the
    # kmeans pin_lloyd_handles posture).  try/finally: an exception
    # mid-sweep must still hand already-pinned handles to the slot.
    try:
        for k in _KSWEEP:
            per_doc = D._per_doc_sketch(
                D._shingle_rows(docs, k), _MH_N, rotate=False
            )
            cand = D._cand_from_mins(
                per_doc.drop("sh"), _MH_N, _MH_BANDS, D.DEFAULT_BUCKET_CAP
            ).persist()
            pinned += [per_doc, cand]
            _, set_bcast = D._gate_stats(per_doc, None)
            verified = (
                D._set_overlap(per_doc, cand, set_bcast)
                .select(D._jaccard())
                .filter(F.col("jaccard") >= _MH_TAU)
            )
            row = (
                cand.agg(F.count(F.lit(1)).alias("n_candidates"))
                .crossJoin(
                    F.broadcast(verified.agg(F.count(F.lit(1)).alias("n_verified")))
                )
                .select(F.lit(k).alias("k"), "n_candidates", "n_verified")
            )
            out = row if out is None else out.unionByName(row)
    finally:
        rotate_cached("minhash_sketch_sweep", pinned)
    assert out is not None
    return out.orderBy("k")


def _k_sweep_sql() -> str:
    r = _MH_N // _MH_BANDS
    ctes = []
    for k in _KSWEEP:
        raw = H.sql_char_shingles("text", k)
        sh = f"list_distinct(list_transform({raw}, s -> {H.sql_hash64('s', 'sh')}))"
        mh = H.sql_minhash_array("sh", _MH_N)
        band_selects = "\n    UNION ALL ".join(
            f"SELECT doc_id, sh, {b} AS band, {H.sql_band_key('mh', b, r)} AS bkey FROM mh_{k}"
            for b in range(_MH_BANDS)
        )
        ctes.append(f"""sh_{k} AS (
  SELECT doc_id, {sh} AS sh FROM documents
),
mh_{k} AS (
  SELECT doc_id, sh, {mh} AS mh FROM sh_{k}
),
banded_{k} AS (
  {band_selects}
),
sized_{k} AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bucket_n FROM banded_{k}
  ) WHERE bucket_n <= {D.DEFAULT_BUCKET_CAP}
),
cand_{k} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM sized_{k} a JOIN sized_{k} b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)""")
    selects = "\nUNION ALL\n".join(
        f"""SELECT {k} AS k,
       CAST((SELECT count(*) FROM cand_{k}) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM cand_{k}
        WHERE len(list_intersect(sh_a, sh_b))::DOUBLE
              / len(list_distinct(sh_a || sh_b))::DOUBLE >= {_MH_TAU}) AS BIGINT) AS n_verified"""
        for k in _KSWEEP
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (\n" + selects + "\n) ORDER BY k"


ORACLES["dedup_k_sweep"] = _k_sweep_sql()


# ---------------------------------------------------------------- C67
# The business metric of dedup: TRAINING TOKENS SAVED.  C18 counts
# documents kept/dropped; budgets are set in tokens, and near-dup
# clusters skew long (templates), so doc counts understate the win.


def corpus_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: total whitespace tokens, tokens carried by dropped
    (non-canonical) cluster members, and the savings fraction — one
    exact integer division per row.

    Same pairs → components → min-id-keep chain as C18, joined to
    per-doc token counts; the only new shuffle is the per-source
    rollup."""
    prep(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    clusters = G.connected_components(pairs)
    dropped = (F.col("cluster_id").isNotNull()) & (
        F.col("cluster_id") != F.col("doc_id")
    )
    toks = F.size(H.tokens(F.col("text"))).cast("long")
    return (
        docs.join(clusters, "doc_id", "left")
        .select("source", toks.alias("n_tok"), dropped.alias("dropped"))
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.when(F.col("dropped"), F.col("n_tok")).otherwise(0)).alias(
                "dropped_tokens"
            ),
            (
                F.sum(F.when(F.col("dropped"), F.col("n_tok")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("n_tok").cast("double")
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


def _dedup_token_savings_sql() -> str:
    toks = f"len({H.sql_tokens('text')})"
    return f"""
WITH clusters AS ({_clusters_sql()}),
t AS (
  SELECT d.source, CAST({toks} AS BIGINT) AS n_tok,
         (c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id) AS dropped
  FROM documents d LEFT JOIN clusters c USING (doc_id)
)
SELECT source,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN dropped THEN n_tok ELSE 0 END) AS BIGINT) AS dropped_tokens,
       CAST(sum(CASE WHEN dropped THEN n_tok ELSE 0 END) AS DOUBLE)
         / CAST(sum(n_tok) AS DOUBLE) AS savings_frac
FROM t
GROUP BY source
ORDER BY source
"""


ORACLES["corpus_dedup_token_savings"] = _dedup_token_savings_sql()


# ---------------------------------------------------------------- C68
# From "how MUCH is duplicated" (C37) to "WHERE": positional merge of
# duplicated windows into maximal spans — the unit you actually excise
# in substring-level dedup (cutting mid-span corrupts both halves).


def text_dup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: duplicated 8-token windows merged into maximal
    consecutive runs via the gap-islands trick (pos − row_number() is
    constant within a run), reporting span count and the longest
    extent in tokens.

    Cross-doc means df over DISTINCT docs (a phrase repeated inside
    ONE doc is repetition (C27), not duplication).  Same
    hash-only-shuffle shape as C37 — positions ride the 8-byte hash
    rows; no gram strings, no pairwise comparisons."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    toks = H.tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks) - (_SPAN_N - 1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, _SPAN_N)),
    )
    pos_spans = docs.select(
        "doc_id", F.posexplode(F.transform(grams, lambda g: H.hash64(g, "span")))
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("s"))
    freq = pos_spans.groupBy("s").agg(
        F.count_distinct("doc_id").alias("df_docs")
    )
    flagged = pos_spans.join(freq, "s").filter(F.col("df_docs") >= 2)
    isl_w = W.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn(
        "island", F.col("pos") - F.row_number().over(isl_w)
    )
    per_island = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    totals = docs.select(
        "doc_id", F.size(H.tokens(F.col("text"))).cast("long").alias("n_tokens")
    ).join(
        pos_spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows")),
        "doc_id",
    )
    agg = per_island.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("run_len").alias("n_dup_windows"),
        (F.max("run_len") + (_SPAN_N - 1)).alias("span_raw"),
    )
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            # docs shorter than the window get ONE undersized window via
            # the greatest() floor — a span can never exceed the doc
            F.least(
                F.coalesce("span_raw", F.lit(0)), F.col("n_tokens")
            ).alias("longest_span_tokens"),
        )
        .orderBy("doc_id")
    )


def _dup_span_extents_sql() -> str:
    toks = H.sql_tokens("text")
    return f"""
WITH tk AS (
  SELECT doc_id, {toks} AS t FROM documents
),
gr AS (
  -- grams materialize HERE: DuckDB's binder rejects nested calls over
  -- a captured column inside struct-literal values in a correlated
  -- lambda, but plain list indexing (g[i]) binds fine
  SELECT doc_id,
         list_transform(range(1, greatest(1, len(t) - {_SPAN_N - 1}) + 1),
                        i -> array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' ')) AS g
  FROM tk
),
pos_spans AS (
  SELECT doc_id, u.pg['pos'] AS pos, {H.sql_hash64("u.pg['g']", 'span')} AS s
  FROM gr, UNNEST(list_transform(range(1, len(g) + 1),
                                 i -> {{'pos': i, 'g': g[i]}})) AS u(pg)
),
freq AS (SELECT s, count(DISTINCT doc_id) AS df_docs FROM pos_spans GROUP BY s),
flagged AS (
  SELECT p.doc_id, p.pos FROM pos_spans p JOIN freq f USING (s) WHERE f.df_docs >= 2
),
islands AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
),
per_island AS (
  SELECT doc_id, island, count(*) AS run_len FROM islands GROUP BY doc_id, island
),
totals AS (
  SELECT p.doc_id, count(*) AS n_windows, CAST(max(len(tk.t)) AS BIGINT) AS n_tokens
  FROM pos_spans p JOIN tk ON tk.doc_id = p.doc_id
  GROUP BY p.doc_id
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(run_len) AS BIGINT) AS n_dup_windows,
         CAST(max(run_len) + {_SPAN_N - 1} AS BIGINT) AS span_raw
  FROM per_island GROUP BY doc_id
)
SELECT t.doc_id, t.n_windows,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
       least(COALESCE(a.span_raw, 0), t.n_tokens) AS longest_span_tokens
FROM totals t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""


ORACLES["text_dup_span_extents"] = _dup_span_extents_sql()


# ---------------------------------------------------------------- C69
# Pearson correlation from exact integer moments — "does my quality
# score just measure length?" is the first validity question against
# any heuristic filter, and corr() must be partitioning-stable to be
# gated (Spark's native corr() is a float accumulator — order-
# dependent across partitions, so it could never hash-match).


def corpus_length_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson r between doc length (chars) and the C9
    quality score, computed from five BIGINT-exact sums (Σx, Σy, Σxy,
    Σx², Σy² over integer chars × fixed-point quality micros).

    The moments are emitted alongside r: they are the auditable part
    (exact, order-independent), and r itself is three IEEE ops over
    exact integers (two correctly-rounded sqrts + one division) —
    bit-identical across engines because the expression trees match.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    q = X.quality_score(X.quality_features(F.col("text")))
    per_doc = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.floor(q * 1_000_000).cast("long").alias("y"),
    )
    n = F.count(F.lit(1))
    agg = per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
        F.sum(F.col("y") * F.col("y")).alias("sum_yy"),
    )
    num = F.col("n_docs") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y")
    var_x = F.col("n_docs") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")
    var_y = F.col("n_docs") * F.col("sum_yy") - F.col("sum_y") * F.col("sum_y")
    return (
        agg.select(
            "source",
            "n_docs",
            num.alias("cov_num"),
            var_x.alias("var_x_num"),
            var_y.alias("var_y_num"),
            (
                num.cast("double")
                / (F.sqrt(var_x.cast("double")) * F.sqrt(var_y.cast("double")))
            ).alias("pearson_r"),
        )
        .orderBy("source")
    )


def _length_quality_corr_sql() -> str:
    # reuse the full C9 quality subquery (same pattern as C19's rollup)
    return f"""
WITH per_doc AS (
  SELECT d.source, CAST(d.n_chars AS BIGINT) AS x,
         CAST(floor(q.quality * 1000000) AS BIGINT) AS y
  FROM ({_quality_sql()}) q JOIN documents d USING (doc_id)
),
agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
         CAST(sum(x * y) AS BIGINT) AS sum_xy,
         CAST(sum(x * x) AS BIGINT) AS sum_xx,
         CAST(sum(y * y) AS BIGINT) AS sum_yy
  FROM per_doc GROUP BY source
)
SELECT source, n_docs,
       CAST(n_docs * sum_xy - sum_x * sum_y AS BIGINT) AS cov_num,
       CAST(n_docs * sum_xx - sum_x * sum_x AS BIGINT) AS var_x_num,
       CAST(n_docs * sum_yy - sum_y * sum_y AS BIGINT) AS var_y_num,
       CAST(n_docs * sum_xy - sum_x * sum_y AS DOUBLE)
         / (sqrt(CAST(n_docs * sum_xx - sum_x * sum_x AS DOUBLE))
            * sqrt(CAST(n_docs * sum_yy - sum_y * sum_y AS DOUBLE))) AS pearson_r
FROM agg
ORDER BY source
"""


ORACLES["corpus_length_quality_corr"] = _length_quality_corr_sql()


# ---------------------------------------------------------------- C70
# Dedup-stack agreement: do the three text-sketch families find the
# SAME pairs?  The evidence for choosing (or stacking) dedup methods —
# a pair found by all three is a high-confidence duplicate; a
# single-method region quantifies what dropping that method would miss.


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Venn-region counts over the verified pair sets of the three
    text dedup families: minhash-LSH (jaccard ≥ τ on char shingles),
    simhash (hamming ≤ 3), and blocked token-jaccard (≥ 0.9).  One row
    per non-empty (in_minhash, in_simhash, in_ngram) region.

    Scale posture: each member pipeline is its own already-gated
    scale-shaped operator (bucketed LSH / banded simhash / blocked
    jaccard — nothing quadratic); the agreement layer adds only
    pair-keyed unions and two narrow aggregations.  The oracle
    recomputes all three pair sets from scratch in SQL and must land
    on identical region counts.
    """
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    # MUST mirror _minhash_sql()'s knobs (k/_MH_N/_MH_BANDS/τ) — the
    # operator defaults are a DIFFERENT sketch (16 hashes / 4 bands)
    # and only coincidentally produce the same pairs on this corpus
    # (r5 code-review finding)
    mh = D.minhash_lsh_pairs(
        # bare load (not the spread frame): canonical sketch plan →
        # shares the session's one cached sketch; _shingle_rows
        # spreads internally anyway
        load(spark, sf_dir, "documents"),
        k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU,
    ).select("doc_a", "doc_b", F.lit("minhash").alias("method"))
    sh = D.simhash_pairs(docs, max_hamming=3).select(
        "doc_a", "doc_b", F.lit("simhash").alias("method")
    )
    tj = D.token_jaccard_pairs(docs, block_col="lang", threshold=_TJ_TAU).select(
        "doc_a", "doc_b", F.lit("ngram").alias("method")
    )
    u = mh.unionByName(sh).unionByName(tj)
    venn = u.groupBy("doc_a", "doc_b").agg(
        F.max((F.col("method") == "minhash").cast("int")).alias("in_minhash"),
        F.max((F.col("method") == "simhash").cast("int")).alias("in_simhash"),
        F.max((F.col("method") == "ngram").cast("int")).alias("in_ngram"),
    )
    return (
        venn.groupBy("in_minhash", "in_simhash", "in_ngram")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("in_minhash", "in_simhash", "in_ngram")
    )


def _method_agreement_sql() -> str:
    return f"""
WITH u AS (
  SELECT doc_a, doc_b, 'minhash' AS method FROM ({_minhash_sql()})
  UNION ALL
  SELECT doc_a, doc_b, 'simhash' FROM ({_simhash_sql()})
  UNION ALL
  SELECT doc_a, doc_b, 'ngram' FROM ({_token_jaccard_sql()})
),
venn AS (
  SELECT doc_a, doc_b,
         CAST(max(CASE WHEN method = 'minhash' THEN 1 ELSE 0 END) AS INTEGER) AS in_minhash,
         CAST(max(CASE WHEN method = 'simhash' THEN 1 ELSE 0 END) AS INTEGER) AS in_simhash,
         CAST(max(CASE WHEN method = 'ngram' THEN 1 ELSE 0 END) AS INTEGER) AS in_ngram
  FROM u GROUP BY doc_a, doc_b
)
SELECT in_minhash, in_simhash, in_ngram, CAST(count(*) AS BIGINT) AS n_pairs
FROM venn
GROUP BY in_minhash, in_simhash, in_ngram
ORDER BY in_minhash, in_simhash, in_ngram
"""


ORACLES["dedup_method_agreement"] = _method_agreement_sql()


# ---------------------------------------------------------------- C71
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public): semantic
# dedup that makes embedding near-dup removal corpus-scale by bounding
# the pair space to WITHIN k-means clusters instead of banding.

_SD_TAU = 0.6


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style pruning: Lloyd-refined coarse clusters (the C33
    machinery — fixed-point, oracle-replayable) bound the pair space;
    within a cluster a vector is DROPPED when any SMALLER-id clustermate
    has cosine ≥ τ (deterministic keep-the-minimum rule, the same
    canonicalization the dedup family uses).  Emits per-cluster
    (n_members, n_dropped, n_kept).

    Scale shape: pairs exist only inside a cluster — with k scaled so
    clusters stay bounded (k≈n/1000 in the paper), the quadratic term
    is per-cluster constant; here k is fixture-small (8).  The join is
    cid-partitioned; vectors shuffle once on cid."""
    prep(spark)
    from ..operators import kmeans as KM

    embs = spread(load(spark, sf_dir, "embeddings"))
    cells, _ = KM.kmeans_cells(embs, k=_KM_K, iters=_KM_ITERS)
    vwidth = V.probe_width(embs)
    vecs = embs.select(
        "vec_id", V.to_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", V.norm_w("v", vwidth))
    side = cells.select("vec_id", "cid").join(vecs, "vec_id")
    a = side.select(
        F.col("cid"), F.col("vec_id").alias("va"),
        F.col("v").alias("xa"), F.col("nrm").alias("na"),
    )
    b = side.select(
        F.col("cid"), F.col("vec_id").alias("vb"),
        F.col("v").alias("xb"), F.col("nrm").alias("nb"),
    )
    dropped = (
        a.join(b, "cid")
        .filter(F.col("vb") < F.col("va"))
        .filter(
            V.cosine_prenormed_w("xa", "xb", "na", "nb", vwidth)
            >= _SD_TAU
        )
        .select("cid", F.col("va").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        cells.select("vec_id", "cid")
        .join(dropped, ["cid", "vec_id"], "left")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum(F.coalesce("is_dropped", F.lit(0)))).alias("n_kept"),
        )
        .orderBy("cluster_id")
    )


def _semdedup_sql() -> str:
    """Replays the identical fixed-point Lloyd rounds (the C33 oracle
    CTEs) + a final assignment under the converged centroids, then the
    within-cluster smaller-id cosine rule in doubles."""
    from ..operators.kmeans import QUANT as _KMQ

    parts = [
        f"""e AS (
  SELECT vec_id, {V.sql_to_double('embedding')} AS v FROM embeddings
),
comp AS (
  SELECT vec_id, CAST(t.dim - 1 AS INTEGER) AS dim,
         CAST(floor(v[t.dim] * {_KMQ}) AS BIGINT) AS qv
  FROM e, UNNEST(range(1, len(v)+1)) AS t(dim)
),
cent0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, dim, qv AS qc FROM comp WHERE vec_id < {_KM_K}
)"""
    ]
    cent = "cent0"
    for i in range(1, _KM_ITERS + 1):
        parts.append(_km_assign_sql(cent, f"a{i}"))
        cent = f"cent{i}"
        parts.append(_km_update_sql(f"a{i}", cent))
    parts.append(_km_assign_sql(cent, "cells"))
    cos = V.sql_cosine("ea.v", "eb.v")
    parts.append(f"""dropped AS (
  SELECT DISTINCT a.cid, a.vec_id
  FROM cells a
  JOIN cells b ON b.cid = a.cid AND b.vec_id < a.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE {cos} >= {_SD_TAU}
)""")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT c.cid AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
FROM cells c
LEFT JOIN dropped d ON d.cid = c.cid AND d.vec_id = c.vec_id
GROUP BY c.cid
ORDER BY cluster_id
"""


ORACLES["semdedup_prune"] = _semdedup_sql()


# ---------------------------------------------------------------- C72
# Triangle count / transitivity of the VERIFIED near-dup graph — the
# classic distributed graph primitive (degree-ordered edge orientation,
# Suri & Vassilvitskii's MR-friendly formulation): high transitivity
# says near-dup pairs close into cliques (true duplicate clusters),
# low says chains/stars (shingle coincidences) — evidence for whether
# pair-level dedup can safely canonicalize whole components.


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph audit over the minhash-verified pair graph:
    n_docs / n_edges / n_wedges (Σ C(deg,2), exact) / n_triangles +
    global transitivity (3·T / wedges, the one double division).

    Scale shape: each edge is oriented low→high by (degree, id) — a
    total order — so every triangle is counted exactly once as a wedge
    at its smallest vertex closed by one oriented edge.  The wedge join
    fans out from the LOW-degree endpoint, which is what bounds the
    join: Σ C(out-deg,2) with out-degrees ≤ O(√m) under this
    orientation, vs Σ C(deg,2) for the naive wedge join on raw edges.
    Joins are edge-keyed shuffles; nothing quadratic in docs."""
    prep(spark)
    docs = load(spark, sf_dir, "documents")
    edges = D.minhash_lsh_pairs(
        docs, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    from ..operators.graph import triangle_stats

    return triangle_stats(edges)


def _graph_triangles_sql() -> str:
    base = _minhash_sql().strip().rstrip()
    return f"""
WITH pairs AS (
{base}
),
edges AS (SELECT doc_a, doc_b FROM pairs),
deg AS (
  SELECT doc, count(*) AS d FROM (
    SELECT doc_a AS doc FROM edges UNION ALL SELECT doc_b FROM edges
  ) GROUP BY doc
),
oriented AS (
  SELECT CASE WHEN (da.d, e.doc_a) < (db.d, e.doc_b) THEN e.doc_a ELSE e.doc_b END AS src,
         CASE WHEN (da.d, e.doc_a) < (db.d, e.doc_b) THEN e.doc_b ELSE e.doc_a END AS dst,
         CASE WHEN (da.d, e.doc_a) < (db.d, e.doc_b) THEN db.d ELSE da.d END AS dst_d
  FROM edges e
  JOIN deg da ON da.doc = e.doc_a
  JOIN deg db ON db.doc = e.doc_b
),
wedges AS (
  SELECT o1.src, o1.dst AS b, o2.dst AS c
  FROM oriented o1
  JOIN oriented o2 ON o1.src = o2.src
  WHERE (o1.dst_d, o1.dst) < (o2.dst_d, o2.dst)
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN oriented o ON o.src = w.b AND o.dst = w.c
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT s.n_docs, ne.n_edges, s.n_wedges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN s.n_wedges > 0 THEN
         CAST(3 * t.n_triangles AS DOUBLE) / CAST(s.n_wedges AS DOUBLE)
       END AS transitivity
FROM stats s, ne, tri t
"""


ORACLES["dedup_graph_triangles"] = _graph_triangles_sql()


# ---------------------------------------------------------------- C73
# BPE TRAINING LOOP: K merge rounds end-to-end (C36 computed one
# round's pair stats; C54 applied a GIVEN merge — this trains).

_BPE_TRAIN_K = 3
_BPE_SO = "\x1f"  # symbol-open marker (unit separator)
_BPE_SC = "\x1e"  # symbol-close marker (record separator)


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE tokenizer for K=3 merge rounds — the full
    count→pick→merge loop (C36 was one round's counts, C54 applied a
    given merge): each round counts adjacent SYMBOL pairs over the
    corpus, picks the global winner (count desc, then pair asc — the
    deterministic tie-break), and rewrites every token.

    The engine-portable trick: tokens carry each symbol wrapped in
    open/close markers (``\\x1f sym \\x1e``), so applying a merge is
    ONE plain ``replace(token, '␟l␞␟r␞', '␟lr␞')`` — greedy
    left-to-right non-overlapping in Spark and DuckDB alike, adjacent
    matches share no characters (the close marker seals each match),
    and a pattern can never match inside a longer symbol.  No UDFs, no
    higher-order fold; the oracle replays the identical K rounds as
    unrolled CTEs (the kmeans precedent), so a drifted tie-break or a
    wrong merge order fails the hash.

    Scale shape: each round is one exploded pair count (map-side
    combine into a vocabulary-bounded table), a 1-row collect, and a
    scan-speed rewrite; K rounds = K passes, the exact cost profile of
    a distributed BPE trainer.  Tokens restrict to ^[a-z0-9]{2,}$ so
    the marker characters provably stay out of band."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    tok = (
        docs.select(F.explode(H.tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]{2,}$"))
    )
    t = tok.select(
        F.regexp_replace("w", "(.)", _BPE_SO + "$1" + _BPE_SC).alias("t")
    ).persist()
    rows: list[tuple] = []
    try:
        for step in range(1, _BPE_TRAIN_K + 1):
            syms = t.selectExpr(
                f"split(regexp_replace(t, '^{_BPE_SO}|{_BPE_SC}$', ''), "
                f"'{_BPE_SC}{_BPE_SO}') AS s"
            )
            # A token already collapsed to ONE symbol has no adjacent
            # pairs.  Spark's sequence(1, 0) is the DESCENDING [1, 0]
            # (not empty like DuckDB's range(1, 1)), so without this
            # filter s[j] indexes out of bounds — a crash under ANSI,
            # spurious (sym, null) pairs otherwise (ADVICE r8 finding;
            # triggers once any merge equals a standalone 2-char word).
            pairs = syms.filter(F.expr("size(s) >= 2")).selectExpr(
                "explode(transform(sequence(1, size(s) - 1), "
                "j -> struct(s[j-1] AS l, s[j] AS r))) AS p"
            )
            top = (
                pairs.groupBy("p.l", "p.r")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), "l", "r")
                .limit(1)
                .collect()[0]
            )
            l, r, n = top["l"], top["r"], int(top["n"])
            pattern = _BPE_SO + l + _BPE_SC + _BPE_SO + r + _BPE_SC
            repl = _BPE_SO + l + r + _BPE_SC
            new_t = t.select(
                F.replace(F.col("t"), F.lit(pattern), F.lit(repl)).alias("t")
            ).persist()
            n_syms = (
                new_t.selectExpr(
                    f"size(split(regexp_replace(t, '^{_BPE_SO}|{_BPE_SC}$', "
                    f"''), '{_BPE_SC}{_BPE_SO}')) AS k"
                )
                .agg(F.sum("k"))
                .collect()[0][0]
            )
            t.unpersist()
            t = new_t
            rows.append((step, l, r, l + r, n, int(n_syms)))
    finally:
        t.unpersist()
    return spark.createDataFrame(
        rows,
        "step int, l_sym string, r_sym string, merged string, "
        "n_occurrences long, symbols_after long",
    )


def _bpe_train_sql() -> str:
    toks = H.sql_tokens("text")
    so, sc = _BPE_SO, _BPE_SC
    parts = [
        f"""WITH tok AS (
  SELECT w FROM (SELECT unnest({toks}) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z0-9]{{2,}}$')
),
t0 AS (SELECT regexp_replace(w, '(.)', '{so}\\1{sc}', 'g') AS t FROM tok)"""
    ]
    for i in range(_BPE_TRAIN_K):
        parts.append(
            f"""s{i} AS (
  SELECT string_split(regexp_replace(t, '^{so}|{sc}$', '', 'g'), '{sc}{so}') AS s
  FROM t{i}
),
p{i} AS (
  SELECT unnest(
    list_transform(range(1, len(s)), j -> {{'l': s[j], 'r': s[j + 1]}})
  ) AS pr
  FROM s{i}
),
c{i} AS (SELECT pr.l AS l, pr.r AS r, count(*) AS n FROM p{i} GROUP BY 1, 2),
top{i} AS (SELECT l, r, n FROM c{i} ORDER BY n DESC, l, r LIMIT 1),
t{i + 1} AS (
  SELECT replace(
    t,
    '{so}' || (SELECT l FROM top{i}) || '{sc}{so}'
      || (SELECT r FROM top{i}) || '{sc}',
    '{so}' || (SELECT l FROM top{i}) || (SELECT r FROM top{i}) || '{sc}'
  ) AS t
  FROM t{i}
),
sym{i + 1} AS (
  SELECT sum(len(string_split(regexp_replace(t, '^{so}|{sc}$', '', 'g'),
                              '{sc}{so}'))) AS k
  FROM t{i + 1}
)"""
        )
    selects = [
        f"""SELECT CAST({i + 1} AS INTEGER) AS step,
       (SELECT l FROM top{i}) AS l_sym,
       (SELECT r FROM top{i}) AS r_sym,
       (SELECT l FROM top{i}) || (SELECT r FROM top{i}) AS merged,
       (SELECT n FROM top{i}) AS n_occurrences,
       (SELECT CAST(k AS BIGINT) FROM sym{i + 1}) AS symbols_after"""
        for i in range(_BPE_TRAIN_K)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


ORACLES["bpe_train_merges"] = _bpe_train_sql()


# ---------------------------------------------------------------- C74


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by a LOG-FREE BM25 variant (k1=1.5,
    b=0.75) — the retrieval scoring primitive a RAG/search layer runs
    over the corpus, kept BIT-EXACT across engines the same way C23's
    tf-idf is: with k1=3/2 and b=3/4 every fractional constant clears
    when numerator and denominator are scaled by 8·sum_dl, so the
    whole score is ONE division of two exact-integer products,

      score = (2(N−df)+1) · 20·tf·sum_dl
            ─────────────────────────────────────────
              (2df+1) · (8·sum_dl·tf + 3·sum_dl + 9·dl·N)

    NOTE the idf term is the RAW Robertson ratio (N−df+0.5)/(df+0.5)
    with the logarithm deliberately dropped (r11 advisor finding made
    explicit): within a document the raw ratio is monotone in df
    exactly like log(idf), but ACROSS terms the missing log compresses
    differently, so 'top-3 terms' here can rank differently from
    textbook log-BM25 when scores are close — consumers wanting
    standard BM25 ranking must apply log() themselves (the per-term
    factors tf/df/dl are all returned for exactly that).

    Each factor stays below 2^53 for corpora up to ~10^9 total tokens
    with tf ≤ 10^5, so the double products are exact and both engines
    round identically.  That precondition is now GATED, not assumed:
    past it Spark (non-ANSI) would wrap int64 silently while DuckDB
    errors, silently diverging — the score expression raises loudly
    when 20·tf·sum_dl or the denominator sum approaches 2^53 (checked
    in double, which cannot wrap; threshold 9e15 is a hair
    conservative so the check itself never rounds past the true
    bound).

    Scale: tf is the one explode+groupBy shuffle on (doc, term);
    dl/df are map-side-combined rollups of it; N and sum_dl broadcast
    as 1-row scalars; the top-k is a window over (doc, term) postings
    — never the raw corpus."""
    prep(spark)
    from pyspark.sql import Window as W

    docs = spread(load(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(H.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    s = dl.agg(F.sum("dl").alias("sum_dl"))
    num = (
        (F.lit(2) * (F.col("n_docs") - F.col("df")) + F.lit(1)).cast("double")
        * (F.lit(20) * F.col("tf") * F.col("sum_dl")).cast("double")
    )
    den = (F.lit(2) * F.col("df") + F.lit(1)).cast("double") * (
        F.lit(8) * F.col("sum_dl") * F.col("tf")
        + F.lit(3) * F.col("sum_dl")
        + F.lit(9) * F.col("dl") * F.col("n_docs")
    ).cast("double")
    # exactness gate: the integer products must stay below 2^53 or the
    # double math stops being exact AND Spark's non-ANSI int64 would
    # wrap silently where DuckDB errors.  Checked in double (wrap-free);
    # 9e15 < 2^53 = 9.007e15 absorbs the double-sum roundoff.
    _BOUND = F.lit(9.0e15)
    d = F.col  # noqa: E741 - local alias for the guard expressions
    num_d = F.lit(20.0) * d("tf").cast("double") * d("sum_dl").cast("double")
    den_d = (
        F.lit(8.0) * d("sum_dl").cast("double") * d("tf").cast("double")
        + F.lit(3.0) * d("sum_dl").cast("double")
        + F.lit(9.0) * d("dl").cast("double") * d("n_docs").cast("double")
    )
    guarded_score = F.when(
        (num_d >= _BOUND) | (den_d >= _BOUND),
        F.raise_error(
            F.lit(
                "doc_bm25_topk: corpus exceeds the exact-integer bound "
                "(20*tf*sum_dl or the denominator sum >= 9e15); scores "
                "would silently diverge from the oracle past 2^53"
            )
        ).cast("double"),
    ).otherwise(num / den)
    scored = (
        tf.join(dl, "doc_id")
        .join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(s))
        .select("doc_id", "term", "tf", "df", "dl", guarded_score.alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


def _bm25_sql() -> str:
    toks = H.sql_tokens("text")
    return f"""
WITH tf AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest({toks}) AS t(term)
  GROUP BY doc_id, t.term
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df_t.df, dl.dl,
         (CAST(2 * (n_docs - df) + 1 AS DOUBLE)
            * CAST(20 * tf * sum_dl AS DOUBLE))
         / (CAST(2 * df + 1 AS DOUBLE)
            * CAST(8 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs AS DOUBLE))
           AS score
  FROM tf JOIN dl USING (doc_id) JOIN df_t USING (term), n, s
)
SELECT doc_id, term, tf, df, dl, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 3
"""


ORACLES["doc_bm25_topk"] = _bm25_sql()


# ---------------------------------------------------------------- C75


def text_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ENCODING-QUALITY audit — the ingest hygiene pass a
    training pipeline runs before tokenization: U+FFFD replacement
    characters (decoder already gave up), C0 control characters
    (binary junk in 'text'), the classic UTF-8-read-as-latin1
    mojibake markers ('Ã', 'â'), and the overall ascii share.

    The synthetic corpus is pure ASCII, so the audit seeds a
    DETERMINISTIC dirty variant (doc_id mod 7/11/13 inject mojibake,
    a replacement char, a BEL control) the oracle replays exactly —
    the same convention the decontamination key uses for its planted
    overlaps.  All counts are length-minus-replaced-length over
    single characters (identical semantics in Java regex-free
    ``replace`` and DuckDB ``replace``), and the one double division
    (ascii share) divides two exact integers, so values hash-match
    bit-for-bit.

    Scale: one narrow projection + one groupBy(source) — map-side
    combined, no join, no window; 100 TB cost is the scan."""
    prep(spark)
    docs = spread(load(spark, sf_dir, "documents"))
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" Ã©â€™")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" �bad")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit("\x07")).otherwise(F.lit("")),
    )

    def cnt(col, ch):
        return F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))

    d = docs.select(
        "source",
        F.length(t).alias("chars"),
        cnt(t, "�").alias("repl"),
        cnt(t, "\x07").alias("ctrl"),
        (cnt(t, "Ã") + cnt(t, "â")).alias("moji"),
        (
            F.length(t)
            - F.length(F.regexp_replace(t, r"[^\x00-\x7F]", ""))
        ).alias("nonascii"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("repl").alias("repl_chars"),
            F.sum("ctrl").alias("ctrl_chars"),
            F.sum("moji").alias("moji_chars"),
            F.sum("nonascii").alias("nonascii_chars"),
            F.sum("chars").alias("chars_total"),
            F.sum(
                F.when(
                    (F.col("repl") > 0) | (F.col("ctrl") > 0) | (F.col("moji") > 0),
                    1,
                ).otherwise(0)
            ).alias("dirty_docs"),
        )
        .withColumn(
            "ascii_share",
            (F.col("chars_total") - F.col("nonascii_chars")).cast("double")
            / F.col("chars_total"),
        )
    )


def _encoding_audit_sql() -> str:
    inject = (
        "text"
        " || CASE WHEN doc_id % 7 = 0 THEN ' Ã©â€™' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' �bad' ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END"
    )
    return f"""
WITH d AS (
  SELECT source,
         len(t) AS chars,
         len(t) - len(replace(t, '�', '')) AS repl,
         len(t) - len(replace(t, chr(7), '')) AS ctrl,
         (len(t) - len(replace(t, 'Ã', '')))
           + (len(t) - len(replace(t, 'â', ''))) AS moji,
         len(t) - len(regexp_replace(t, '[^\\x00-\\x7F]', '', 'g')) AS nonascii
  FROM (SELECT source, doc_id, {inject} AS t FROM documents)
)
SELECT source,
       count(*) AS docs,
       CAST(sum(repl) AS BIGINT) AS repl_chars,
       CAST(sum(ctrl) AS BIGINT) AS ctrl_chars,
       CAST(sum(moji) AS BIGINT) AS moji_chars,
       CAST(sum(nonascii) AS BIGINT) AS nonascii_chars,
       CAST(sum(chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN repl > 0 OR ctrl > 0 OR moji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS dirty_docs,
       CAST(CAST(sum(chars) AS BIGINT) - CAST(sum(nonascii) AS BIGINT) AS DOUBLE)
         / CAST(sum(chars) AS BIGINT) AS ascii_share
FROM d
GROUP BY source
"""


ORACLES["text_encoding_audit"] = _encoding_audit_sql()


# ---------------------------------------------------------------- C76


def training_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline composition (r11, VERDICT r10
    item 3): the proven stages chained as ONE dataflow so
    stage-to-stage consistency is what the oracle gates — admitted
    docs (and only those) feed dedup, cluster winners (and only those)
    feed the packer, and the packer's shards are the write plan.

      admit   — C9/D28's hash-proven quality score, >= 0.5 gate
      dedup   — C2's minhash-LSH pairs OVER THE ADMITTED SUBSET
                (bucket caps count admitted members only), connected
                components (C13)
      keep    — C45's quality-argmax per cluster (qm desc, doc_id),
                singletons kept
      pack    — C31's per-shard 512-token prefix packing over the
                KEPT docs in deterministic hash-shuffle order (C29's
                shard plan)

    Output: one row per shard (n_docs, n_packs, shard_tokens) plus the
    funnel totals (docs_total → docs_admitted → docs_kept) broadcast
    onto every row, so a single dropped or double-counted doc at ANY
    stage boundary fails the value hash.

    Scale: this is the same funnel a 100 TB run executes with a lake
    checkpoint between stages (D28 admits at ingest; the dedup and
    pack stages read admitted parquet).  Every stage keeps its
    individually-audited scale shape — banded LSH (never all-pairs),
    corpus-sparse clustering, per-shard windows (never a global sort);
    the only scalars are three 1-row broadcast counts."""
    prep(spark)
    from pyspark.sql import Window as W

    from ..streaming.jobs import _QUALITY_GATE  # one gate definition

    docs = spread(load(spark, sf_dir, "documents"))
    feats = X.quality_features(F.col("text"))
    q = X.quality_score(feats)
    admitted = (
        docs.select(
            "doc_id",
            "text",
            q.alias("quality"),
            F.floor(q * 1_000_000).cast("long").alias("qm"),
        )
        .filter(F.col("quality") >= F.lit(_QUALITY_GATE))
        .select("doc_id", "text", "qm")
    )
    pairs = D.minhash_lsh_pairs(
        admitted, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b")
    clusters = G.connected_components(pairs)
    w = W.partitionBy("cluster_id").orderBy(F.desc("qm"), "doc_id")
    winners = (
        admitted.select("doc_id", "qm")
        .join(clusters, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.lit(1).alias("is_winner"))
    )
    kept = (
        admitted.join(clusters, "doc_id", "left")
        .join(winners, "doc_id", "left")
        .filter(F.col("cluster_id").isNull() | F.col("is_winner").isNotNull())
        .select("doc_id", "text")
    )
    h = H.hash64(F.col("doc_id").cast("string"), "shuffle")
    d = kept.select(
        "doc_id", h.alias("h"), F.size(H.tokens(F.col("text"))).alias("n_tok")
    ).withColumn("shard", (F.col("h") % _N_SHARDS).cast("int"))
    wp = (
        W.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = d.select(
        "shard",
        "n_tok",
        (F.coalesce(F.sum("n_tok").over(wp), F.lit(0)) / F.lit(_PACK_BUDGET))
        .cast("long")
        .alias("pack_id"),
    )
    per_shard = packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("pack_id").alias("n_packs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
    )
    totals = docs.agg(F.count(F.lit(1)).alias("docs_total"))
    adm = admitted.agg(F.count(F.lit(1)).alias("docs_admitted"))
    kc = kept.agg(F.count(F.lit(1)).alias("docs_kept"))
    return (
        per_shard.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(adm))
        .crossJoin(F.broadcast(kc))
    )


def _training_funnel_sql() -> str:
    from ..streaming.jobs import _QUALITY_GATE

    h = H.sql_hash64("CAST(doc_id AS VARCHAR)", "shuffle")
    toks = H.sql_tokens("text")
    return f"""
WITH q AS ({_quality_sql()}),
admitted AS (
  SELECT d.doc_id, d.text, CAST(floor(q.quality * 1000000) AS BIGINT) AS qm
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality >= {_QUALITY_GATE}
),
clusters AS ({_clusters_sql("admitted")}),
winners AS (
  SELECT doc_id FROM (
    SELECT a.doc_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY a.qm DESC, a.doc_id) AS rn
    FROM admitted a JOIN clusters c USING (doc_id)
  ) WHERE rn = 1
),
kept AS (
  SELECT a.doc_id, a.text
  FROM admitted a
  LEFT JOIN clusters c USING (doc_id)
  LEFT JOIN winners w ON w.doc_id = a.doc_id
  WHERE c.cluster_id IS NULL OR w.doc_id IS NOT NULL
),
sharded AS (
  SELECT doc_id, {h} AS h,
         CAST(({h}) % {_N_SHARDS} AS INTEGER) AS shard,
         len({toks}) AS n_tok
  FROM kept
),
packed AS (
  SELECT shard, n_tok,
         CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM sharded
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
       (SELECT count(*) FROM documents) AS docs_total,
       (SELECT count(*) FROM admitted) AS docs_admitted,
       (SELECT count(*) FROM kept) AS docs_kept
FROM packed
GROUP BY shard
"""


ORACLES["training_pipeline_funnel"] = _training_funnel_sql
