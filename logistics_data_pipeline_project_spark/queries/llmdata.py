"""LLM-training-data query catalog: dedup, similarity search, text
analysis, multimodal metadata (BASELINE.json north star) over the driver's
``documents`` and ``embeddings`` tables.

Queries with exact cross-engine semantics carry DuckDB oracle SQL; the
LSH-based approximate operators (MinHash, SimHash-band, random-projection)
are deliberately rows-only — their math (seeded xxhash64 signatures,
seeded hyperplanes) is Spark-side by construction, and their *exact* counterparts
(q22 shingle-jaccard, q25 brute-force cosine) are the oracle-checked
references they are validated against in tests/.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window, functions as F

from ..io_utils import load
from ..operators.dedup import (
    connected_components,
    decontaminate,
    exact_dedup,
    minhash_lsh_pairs,
    shingle_jaccard_pairs,
    simhash_near_pairs,
    word_shingles,
)
from ..operators.mixing import source_mix_sample, ticket_sample_k
from ..operators.similarity import (
    block_nn_pairs_pandas,
    cosine_topk,
    ivf_topk,
    kmeans_cells,
    lsh_topk,
)
from ..operators.text import (
    BPE_ISH_RE,
    STOPWORDS_EN,
    bpe_ish_tokens,
    chunk_documents,
    language_id,
    meta_robots_directives_sql,
    min_window_fingerprint,
    quality_score,
    stopword_ratio,
    tokens,
    top_ngram_repetition,
    unique_token_ratio,
)
from .registry import register

def _doc_rows(spark, sf_dir, rows_of, schema="doc_id long, payload binary", setup=None):
    """``map_rows`` over the corpus doc_ids: ``rows_of(doc_id)``, or
    ``rows_of(setup(), doc_id)`` with a per-task ``setup``, yields each
    document's output tuples.  The bare ids are hash-spread over the
    session's ``spark.sql.shuffle.partitions`` first (one cheap shuffle of
    longs): the id column is tiny but the per-document codec work is
    CPU-bound, so one task per core (``session.py`` sets the conf to the
    core count) and an explicit count, which AQE does not coalesce into
    one task.  Every ``setup`` table is deterministic per task, so no
    output depends on the count."""
    from ..operators.rowmap import map_rows

    tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(tasks, "doc_id")
    return map_rows(docs, schema, rows_of, setup=setup)


# ---------------------------------------------------------------------------
# q21 — exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


@register(
    "q021_dedup_exact",
    tags=("dedup", "A1", "W3"),
    oracle="""
SELECT md5(text) AS text_hash,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
""",
)
def q021_dedup_exact(spark: SparkSession, sf_dir: str):
    """Exact content dedup: one shuffle keyed on md5(text) — uniform key
    space, no skew, linear scale-out. Keeper = min(doc_id)."""
    return exact_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# q22 — n-gram Jaccard near-dup (exact baseline for MinHash)
# ---------------------------------------------------------------------------

_JACCARD_N = 3
_JACCARD_THRESHOLD = 0.1
_JACCARD_MAX_DF = 50


@register(
    "q022_near_dup_jaccard",
    tags=("dedup", "J7", "J8", "A1"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_JACCARD_N}
),
sh0 AS (
  SELECT DISTINCT doc_id,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_JACCARD_N - 1})) AS i FROM toks)
),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_MAX_DF}
),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2, inter_size,
  CAST(ROUND(CAST(inter_size AS DOUBLE) / (sa.n_sh + sb.n_sh - inter_size), 4) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id1
JOIN sizes sb ON sb.doc_id = id2
WHERE CAST(inter_size AS DOUBLE) / (sa.n_sh + sb.n_sh - inter_size) >= {_JACCARD_THRESHOLD}
""",
)
def q022_near_dup_jaccard(spark: SparkSession, sf_dir: str):
    """Exact word-3-gram Jaccard pairs over discriminative shingles
    (doc-frequency cap bounds the self-join fan-out — see
    operators.dedup). This is the verification stage LSH candidates feed
    into at scale."""
    return shingle_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=_JACCARD_N,
        threshold=_JACCARD_THRESHOLD,
        max_shingle_df=_JACCARD_MAX_DF,
    )


# ---------------------------------------------------------------------------
# q23 — MinHash LSH near-dup candidates (scale path)
# ---------------------------------------------------------------------------


def _minhash_cand_ctes(
    n: int, k: int, bands: int, seed: int, source: str = "documents"
) -> str:
    """DuckDB CTE chain replaying minhash_lsh_pairs up to ``cand``
    (id1, id2, jaccard_distance): same md5 signature math
    (operators/dedup.py:143) — lexicographic min over seeded md5 hex is
    engine-agnostic, which is the whole point of the md5 re-key.
    Shared by the q023 pair query and the q187 calibration audit
    (which passes its bounded-sample CTE as ``source``)."""
    per = k // bands
    sig_cols = ",\n    ".join(
        f"list_min([md5('{seed + i}:' || x) FOR x IN s]) AS h{i}" for i in range(k)
    )
    hlist = ", ".join(f"h{i}" for i in range(k))
    pipe = " || '|' || "
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {hlist}, {b} AS band, "
        f"md5({pipe.join(f'h{b * per + j}' for j in range(per))}) AS sig FROM sig"
        for b in range(bands)
    )
    m_flags = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""mh_toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM {source}
), f AS (
  SELECT doc_id, t FROM mh_toks WHERE len(t) >= {n}
), mh_sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(t[i+1:i+{n}], ' ') FOR i IN range(len(t)-{n - 1})]) AS s
  FROM f
), sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM mh_sh
), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
    CAST(ROUND(1.0 - ({m_flags}) / {float(k)!r}, 4) AS DOUBLE) AS jaccard_distance
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""


def _q023_oracle(n: int, k: int, bands: int, seed: int, max_dist: float) -> str:
    return f"""
WITH {_minhash_cand_ctes(n, k, bands, seed)}
SELECT id1, id2, jaccard_distance FROM cand
WHERE jaccard_distance <= {max_dist!r}
"""


@register(
    "q023_near_dup_minhash_lsh",
    tags=("dedup", "U1"),
    oracle=_q023_oracle(n=3, k=8, bands=4, seed=42, max_dist=0.95),
)
def q023_near_dup_minhash_lsh(spark: SparkSession, sf_dir: str):
    """MinHash+LSH candidate pairs (seeded, deterministic, md5-keyed →
    the DuckDB oracle replays the identical signature/banding math, so
    the LSH scale path gets a full hash-equality row, not just rows-only;
    recall vs exact Jaccard (q22) stays asserted in tests). The estimate
    1 − matches/8 moves in exact 0.125 steps, so the ROUND(…, 4) can
    never sit on a decimal half boundary — engine-safe."""
    return minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", n=3, max_distance=0.95
    )


# ---------------------------------------------------------------------------
# q24 — SimHash near-dup candidates
# ---------------------------------------------------------------------------


def _q024_oracle(bits: int, bands: int, max_hamming: int) -> str:
    """DuckDB replay of simhash + banded pairs (operators/dedup.py:377):
    token hash = top 60 bits of md5 (same conv/hex-cast value on both
    engines), bit-majority fold, band equality, Hamming verify."""
    bw = bits // bands
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), hs AS (
  SELECT doc_id, len(t) AS n,
    [('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT FOR tok IN t] AS h
  FROM toks
), sh AS (
  SELECT doc_id,
    coalesce(list_sum([CASE WHEN 2 * list_sum([CAST((x >> b) & 1 AS BIGINT) FOR x IN h]) > n
                       THEN (1::BIGINT << b) ELSE 0::BIGINT END FOR b IN range({bits})]),
             0::BIGINT) AS simhash
  FROM hs
), bands AS (
  SELECT doc_id, simhash, b.band,
    (simhash >> (b.band * {bw})) & {(1 << bw) - 1} AS val
  FROM sh, (SELECT unnest(range({bands})) AS band) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id1, id2, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


@register(
    "q024_near_dup_simhash",
    tags=("dedup",),
    oracle=_q024_oracle(bits=60, bands=4, max_hamming=16),
)
def q024_near_dup_simhash(spark: SparkSession, sf_dir: str):
    """60-bit SimHash banded near-dup pairs. md5-keyed fingerprints make
    the whole pipeline cross-engine deterministic — the oracle replays
    signature, banding, and Hamming verify, upgrading the simhash family
    from rows-only to a full hash-equality row."""
    return simhash_near_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=16
    )


# ---------------------------------------------------------------------------
# q25 — brute-force cosine top-k ANN baseline
# ---------------------------------------------------------------------------

_ANN_K = 10


@register(
    "q025_ann_cosine_topk",
    tags=("similarity", "J8", "W1"),
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
p AS (
  SELECT q.query_id, c.cand_id,
    list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS qn,
    sqrt(list_sum(list_transform(generate_series(1, len(cv)), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) AS cn
  FROM q, c WHERE c.cand_id <> q.query_id
), scored AS (
  SELECT query_id, cand_id, CAST(ROUND(dot / (qn * cn), 4) AS DOUBLE) AS cosine
  FROM p
)
SELECT query_id, cand_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
  FROM scored
)
WHERE rnk <= {_ANN_K}
""",
)
def q025_ann_cosine_topk(spark: SparkSession, sf_dir: str):
    """Exact ANN baseline: broadcast 5 query vectors, score all candidates
    with a JVM-side fold, per-query top-10. Ranking uses the rounded score
    + cand_id tiebreak so ordering is engine-stable."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    candidates = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    out = cosine_topk(queries, candidates, k=_ANN_K)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


# ---------------------------------------------------------------------------
# q26 — embedding norm stats per label (vector column aggregation)
# ---------------------------------------------------------------------------


@register(
    "q026_embedding_label_stats",
    tags=("similarity", "A1", "A2"),
    oracle="""
WITH n AS (
  SELECT label,
    CAST(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
         i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS DECIMAL(18,6)) AS norm_dec
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
  CAST(ROUND(CAST(SUM(norm_dec) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_norm
FROM n GROUP BY label
""",
)
def q026_embedding_label_stats(spark: SparkSession, sf_dir: str):
    """Per-label embedding norm stats. Per-row norms are quantized to
    DECIMAL(18,6) before the exact sum so the rollup is order-independent
    (same policy as money aggregates)."""
    emb = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n = emb.select("label", norm.cast("decimal(18,6)").alias("norm_dec"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum("norm_dec").cast("double") / F.count(F.lit(1)), 4)
        .cast("double")
        .alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# q27 — token stats per source (text analysis)
# ---------------------------------------------------------------------------


@register(
    "q027_token_stats",
    tags=("text", "A1", "A2"),
    oracle="""
SELECT source,
  COUNT(*) AS docs,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
  CAST(ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 2) AS DOUBLE) AS avg_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
""",
)
def q027_token_stats(spark: SparkSession, sf_dir: str):
    """Whitespace token counting per source — the cheap length/token
    profile every corpus pipeline starts with."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.max(n_tok).cast("long").alias("max_tokens"),
        F.round(F.sum(n_tok).cast("double") / F.count(F.lit(1)), 2)
        .cast("double")
        .alias("avg_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# q28 — per-document quality scoring (text analysis)
# ---------------------------------------------------------------------------


@register(
    "q028_doc_quality",
    tags=("text", "P6"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), m AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    CAST(ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS DOUBLE) AS uniq_ratio,
    CAST(ROUND(CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS_EN)}, x))) AS DOUBLE) / len(toks), 4) AS DOUBLE) AS stop_ratio
  FROM t
)
SELECT doc_id, n_tokens, uniq_ratio, stop_ratio,
  CAST(ROUND(0.6 * uniq_ratio + 0.4 * (1.0 - stop_ratio), 4) AS DOUBLE) AS quality
FROM m
""",
)
def q028_doc_quality(spark: SparkSession, sf_dir: str):
    """Per-doc quality heuristics (lexical diversity + stopword ratio).
    Pure Column expressions — whole-stage codegen, no shuffle at all."""
    d = load(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    uniq = unique_token_ratio("__toks")
    stop = stopword_ratio("__toks")
    return d.select(
        "doc_id",
        F.size(F.col("__toks")).cast("long").alias("n_tokens"),
        uniq.alias("uniq_ratio"),
        stop.alias("stop_ratio"),
        quality_score(uniq, stop).alias("quality"),
    )


# ---------------------------------------------------------------------------
# q29 — language-ID heuristic vs labeled lang (text analysis)
# ---------------------------------------------------------------------------


@register(
    "q029_lang_id_confusion",
    tags=("text", "A1", "P6"),
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en_s,
    len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS es_s,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de_s,
    len(list_filter(toks, x -> list_contains(['le','la','et','est','les'], x))) AS fr_s,
    len(list_filter(toks, x -> list_contains(['的','是','了','在','和'], x))) AS zh_s
  FROM t
), p AS (
  SELECT doc_id, lang,
    CASE WHEN en_s >= greatest(es_s, de_s, fr_s, zh_s) THEN 'en'
         WHEN es_s >= greatest(de_s, fr_s, zh_s) THEN 'es'
         WHEN de_s >= greatest(fr_s, zh_s) THEN 'de'
         WHEN fr_s >= zh_s THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM s
)
SELECT lang, pred_lang, COUNT(*) AS docs FROM p GROUP BY lang, pred_lang
""",
)
def q029_lang_id_confusion(spark: SparkSession, sf_dir: str):
    """Marker-word language-ID heuristic, reported as a confusion matrix
    against the labeled lang column. (The synthetic corpus is
    English-vocabulary for all langs, so the heuristic converges on 'en' —
    the query checks the *operator*, not the corpus.)"""
    d = load(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    return (
        d.withColumn("pred_lang", language_id("__toks"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


# ---------------------------------------------------------------------------
# q30 — rolling-hash document fingerprint (text analysis)
# ---------------------------------------------------------------------------


@register(
    "q030_doc_fingerprint",
    tags=("text", "dedup"),
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id,
  CASE WHEN len(toks) >= 5
       THEN list_aggregate(list_transform(generate_series(1, len(toks)-4),
            i -> md5(toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])), 'min')
       ELSE md5(text) END AS fingerprint
FROM t
""",
)
def q030_doc_fingerprint(spark: SparkSession, sf_dir: str):
    """Winnowing-style min-window-hash fingerprint (md5 is identical
    across engines → oracle-checkable, unlike xxhash-based simhash)."""
    d = load(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    return d.select(
        "doc_id", min_window_fingerprint("text", "__toks", n=5).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# q31 — multimodal payload metadata (binary column plumbing)
# ---------------------------------------------------------------------------


@register(
    "q031_payload_metadata",
    tags=("multimodal", "P2"),
    oracle="""
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  sha256(text) AS payload_sha256,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'audio/wav'
       ELSE 'video/mp4' END AS media_type
FROM documents
""",
)
def q031_payload_metadata(spark: SparkSession, sf_dir: str):
    """Opaque-binary metadata layer: byte length + sha256 digest + typed
    media_type — computed JVM-side on a binary payload column (text bytes
    stand in for real media; the decode stage is operators.multimodal's
    mapInPandas pipeline, exercised in tests)."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
    )


# ---------------------------------------------------------------------------
# q32 — ANN via random-projection LSH buckets (scale path; rows-only)
# ---------------------------------------------------------------------------


def _q032_oracle(
    dim: int, n_planes: int, n_bands: int, seed: int, k: int, query_ids: list
) -> str:
    """DuckDB replay of lsh_topk (operators/similarity.py): hyperplane
    coefficients are the SAME Python doubles the Spark plan embeds
    (plane_coef; repr round-trips exactly), and every dot product is an
    explicit left-associative chain — the exact fold order of Spark's
    `aggregate`, so even the sign bit of a near-zero projection agrees
    bit-for-bit. The exact-cosine verify reuses q025's oracle idiom."""
    from ..operators.similarity import plane_coef

    per = n_planes // n_bands

    def dot_chain(p: int) -> str:
        return " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * CAST('{plane_coef(seed, p, d)!r}' AS DOUBLE)"
            for d in range(dim)
        )

    bit_cols = ",\n    ".join(
        f"CASE WHEN {dot_chain(p)} > 0 THEN 1 ELSE 0 END AS b{p}"
        for p in range(n_planes)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        "SELECT vec_id, embedding, {b} AS band, {v} AS sig FROM sig".format(
            b=b,
            v=" + ".join(f"b{b * per + j} * {2 ** j}" for j in range(per)),
        )
        for b in range(n_bands)
    )
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH sig AS (
  SELECT vec_id, embedding,
    {bit_cols}
  FROM embeddings
), bands AS (
  {band_rows}
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, band, sig FROM bands
  WHERE vec_id IN ({ids})
), cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS cand_id, q.qv, c.embedding AS cv
  FROM q JOIN bands c ON q.band = c.band AND q.sig = c.sig
  WHERE c.vec_id <> q.query_id
), p AS (
  SELECT query_id, cand_id,
    list_sum(list_transform(generate_series(1, {dim}), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS qn,
    sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) AS cn
  FROM cand
), scored AS (
  SELECT query_id, cand_id, CAST(ROUND(dot / (qn * cn), 4) AS DOUBLE) AS cosine
  FROM p
)
SELECT query_id, cand_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
  FROM scored
)
WHERE rnk <= {k}
"""


@register(
    "q032_ann_lsh_bucketed",
    tags=("similarity", "U1"),
    oracle=_q032_oracle(
        dim=64, n_planes=12, n_bands=6, seed=7, k=10, query_ids=[0, 1, 2, 3, 4]
    ),
)
def q032_ann_lsh_bucketed(spark: SparkSession, sf_dir: str):
    """Approximate-NN scale path for q25: seeded random-hyperplane
    (SimHash) signatures, banded bucketing, and exact cosine only within
    matching buckets — O(n·bands) hashing plus bucket-local joins instead
    of the n×q cross product, all JVM-side DataFrame expressions.
    Approximate vs. the true top-k (recall bounded in tests against
    q25's exact operator) but fully DETERMINISTIC, so the DuckDB oracle
    replays signatures, bucketing, and verify hash-exactly. Testdata
    embeddings are 64-dim at every SF (the oracle embeds that dim)."""
    emb = load(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4], k=10)
    return out


# ---------------------------------------------------------------------------
# q33 — approximate aggregates (cardinality + percentile scale escape-hatch)
# ---------------------------------------------------------------------------


@register("q066_approx_event_profile", tags=("A2", "A3"))
def q066_approx_event_profile(spark: SparkSession, sf_dir: str):
    """Sketch-based per-type event profile: HLL++ distinct users
    (approx_count_distinct, rsd=1%) and KLL-style value quantiles
    (percentile_approx). These are the 100 TB substitutes for q08/q12's
    exact COUNT(DISTINCT)/AVG — fixed-size sketch state, one shuffle,
    mergeable across partitions. Rows-only BY DESIGN (the catalog's
    only such query): approx_count_distinct / percentile_approx
    estimates are algorithm-specific, so no cross-engine hash exists;
    tests bound the error against the exact values instead, and q233
    answers the SAME profile with the engine's own deterministic
    KMV + histogram sketches under a hash-matching oracle — the sketch
    path itself is differentially certified there."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.percentile_approx("value", [0.25, 0.5, 0.75], 10000).alias("value_quartiles"),
    )


# ---------------------------------------------------------------------------
# q39 — BPE-style tokenizer profile (text analysis)
# ---------------------------------------------------------------------------

_BPE_RE_SQL = BPE_ISH_RE.replace("'", "''")


@register(
    "q039_bpe_token_profile",
    tags=("text", "A1", "A5"),
    oracle=f"""
WITH t AS (
  SELECT source,
    regexp_extract_all(text, '{_BPE_RE_SQL}') AS bt,
    len(string_split(text, ' ')) AS ws
  FROM documents
)
SELECT source,
  COUNT(*) AS docs,
  CAST(SUM(len(bt)) AS BIGINT) AS bpe_tokens,
  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
  CAST(ROUND(CAST(SUM(len(bt)) AS DOUBLE) / SUM(ws), 4) AS DOUBLE) AS tokens_per_word,
  CAST(SUM(len(list_filter(bt, x -> regexp_matches(x, '^ ?[A-Za-z]+$')))) AS BIGINT) AS alpha_tokens,
  CAST(SUM(len(list_filter(bt, x -> regexp_matches(x, '^ ?[0-9]+$')))) AS BIGINT) AS num_tokens
FROM t GROUP BY source
""",
)
def q039_bpe_token_profile(spark: SparkSession, sf_dir: str):
    """LLM corpus token accounting with a BPE-style pre-tokenizer
    (GPT-2-ish regex, restricted to the Java/RE2-portable subset) next to
    the whitespace count: total/alpha/numeric token volumes and the
    tokens-per-word inflation ratio per source. Pure column expressions —
    one shuffle for the rollup, whole-stage codegen for the scan."""
    d = load(spark, sf_dir, "documents")
    bt = bpe_ish_tokens("text")
    ws = F.size(F.split(F.col("text"), " "))
    t = d.select("source", bt.alias("bt"), ws.alias("ws"))
    n_alpha = F.size(F.expr("filter(bt, x -> x rlike '^ ?[A-Za-z]+$')"))
    n_num = F.size(F.expr("filter(bt, x -> x rlike '^ ?[0-9]+$')"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("bt")).cast("long").alias("bpe_tokens"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.round(
            F.sum(F.size("bt")).cast("double") / F.sum("ws"), 4
        ).cast("double").alias("tokens_per_word"),
        F.sum(n_alpha).cast("long").alias("alpha_tokens"),
        F.sum(n_num).cast("long").alias("num_tokens"),
    )


# ---------------------------------------------------------------------------
# q37 — near-dup cluster resolution (connected components over q22 edges)
# ---------------------------------------------------------------------------


@register(
    "q037_near_dup_clusters",
    tags=("dedup", "J8", "A1"),
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_JACCARD_N}
),
sh0 AS (
  SELECT DISTINCT doc_id,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_JACCARD_N - 1})) AS i FROM toks)
),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_MAX_DF}
),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT id1, id2 FROM inter
  JOIN sizes sa ON sa.doc_id = id1
  JOIN sizes sb ON sb.doc_id = id2
  WHERE CAST(inter_size AS DOUBLE) / (sa.n_sh + sb.n_sh - inter_size) >= {_JACCARD_THRESHOLD}
),
sym AS (SELECT id1 AS a, id2 AS b FROM e UNION ALL SELECT id2, id1 FROM e),
cc AS (
  SELECT doc_id AS id, doc_id AS lab FROM documents
  UNION
  SELECT s.b, cc.lab FROM cc JOIN sym s ON s.a = cc.id
),
lab AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM cc GROUP BY id),
cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, cs.cluster_size
FROM lab l JOIN cs USING (cluster_id)
""",
)
def q037_near_dup_clusters(spark: SparkSession, sf_dir: str):
    """Near-dup *cluster* resolution: q22's exact Jaccard pairs are only
    edges; dedup needs the transitive groups (A~B, B~C ⇒ one cluster with
    one keeper). Components come from iterative min-label propagation
    (operators.dedup.connected_components — one shuffle per round,
    O(diameter) rounds, lineage checkpointed per round); the oracle walks
    the same edges with a recursive CTE. cluster_id = min doc_id of the
    cluster, i.e. the canonical keeper; singleton docs form their own
    cluster."""
    docs = load(spark, sf_dir, "documents")
    edges = shingle_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        n=_JACCARD_N,
        threshold=_JACCARD_THRESHOLD,
        max_shingle_df=_JACCARD_MAX_DF,
    )
    comp = connected_components(
        docs.select("doc_id"), edges, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))
    cs = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(cs, "cluster_id").select("doc_id", "cluster_id", "cluster_size")


# ---------------------------------------------------------------------------
# q38 — deterministic hash split + stratified sample accounting
# ---------------------------------------------------------------------------

# Hex-prefix range cuts on md5: engine-portable (pure string compare),
# salt-keyed, and stable under any reshuffling/backfill — the property a
# train/val/test split must keep at 100 TB. 'cd'=205/256 ≈ 80.1% train,
# 'e6'=230 → ≈ 9.8% val, rest ≈ 10.2% test; sample cut '1a'=26/256 ≈ 10.2%.
_SPLIT_SALT = "split-v1"
_TRAIN_HI = "cd"
_VAL_HI = "e6"
_SAMPLE_HI = "1a"


@register(
    "q038_hash_split_profile",
    tags=("P6", "A1", "A4"),
    oracle=f"""
WITH h AS (
  SELECT source,
    substr(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 2) AS b1,
    substr(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 3, 2) AS b2,
    len(string_split(text, ' ')) AS n_tok
  FROM documents
), s AS (
  SELECT source,
    CASE WHEN b1 < '{_TRAIN_HI}' THEN 'train'
         WHEN b1 < '{_VAL_HI}' THEN 'val'
         ELSE 'test' END AS split,
    CAST(b2 < '{_SAMPLE_HI}' AS INTEGER) AS sampled,
    n_tok
  FROM h
)
SELECT source, split,
  COUNT(*) AS docs,
  CAST(SUM(sampled) AS BIGINT) AS sampled_docs,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM s GROUP BY source, split
""",
)
def q038_hash_split_profile(spark: SparkSession, sf_dir: str):
    """Deterministic train/val/test assignment + stratified sample
    accounting: split and sample membership hang off salted md5 hex
    prefixes of the doc id — no RNG, no state, identical on every engine
    and under any repartitioning, so a backfill lands every row in the
    same split it got last year. Pure column expressions (one shuffle for
    the rollup); the sample bit uses an independent hash window so
    sampling is unbiased within each split."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(f"{_SPLIT_SALT}:"), F.col("doc_id").cast("string")))
    b1 = F.substring(h, 1, 2)
    b2 = F.substring(h, 3, 2)
    split = (
        F.when(b1 < _TRAIN_HI, "train").when(b1 < _VAL_HI, "val").otherwise("test")
    )
    n_tok = F.size(F.split(F.col("text"), " "))
    return (
        d.select(
            "source",
            split.alias("split"),
            (b2 < _SAMPLE_HI).cast("int").alias("sampled"),
            n_tok.alias("n_tok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("sampled").cast("long").alias("sampled_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q40 — per-source vocabulary top-k (text analysis)
# ---------------------------------------------------------------------------

_VOCAB_K = 20


@register(
    "q040_top_tokens",
    tags=("text", "A1", "W1", "O3"),
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents
), cnt AS (
  SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok
), r AS (
  SELECT source, tok, n,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rnk
  FROM cnt
)
SELECT source, tok, n, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= {_VOCAB_K}
""",
)
def q040_top_tokens(spark: SparkSession, sf_dir: str):
    """Vocabulary building: per-source token frequency table cut to the
    top-k — the first step of any tokenizer/frequency analysis over a
    corpus. Two shuffles: (source, tok) count with map-side partials, then
    the per-source top-k window; the heavy explode never crosses the
    second shuffle because counting collapses it first. Ties break on the
    token itself so ranking is engine-stable."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    cnt = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _VOCAB_K)
        .select("source", "tok", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# q41/q42 — IVF index: deterministic k-means coarse quantizer + probe search
# ---------------------------------------------------------------------------

_IVF_K = 8
_IVF_ITER = 2
_IVF_DIM = 64
_IVF_NPROBE = 2
_IVF_TOPK = 10


def _kmeans_ctes(k: int, n_iter: int, dim: int) -> str:
    """DuckDB CTE chain replaying kmeans_cells exactly: cent0 = vectors of
    the k smallest ids; per round an argmin assignment (sequential-fold
    distances, ties to the lower cell) and a sorted-fold mean update
    (list(x ORDER BY vec_id) → list_sum visits members in id order — the
    same IEEE addition sequence as the Spark fold). Final assignment
    a{n_iter+1} uses the last centroids."""
    parts = [
        f"""cent0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
)"""
    ]
    for it in range(1, n_iter + 2):
        parts.append(
            f"""d{it} AS (
  SELECT e.vec_id, c.cell,
    list_sum(list_transform(generate_series(1, {dim}),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
         * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS dist
  FROM embeddings e CROSS JOIN cent{it - 1} c
)"""
        )
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, cell, dist FROM (
    SELECT vec_id, cell, dist,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d{it}) WHERE rn = 1
)"""
        )
        if it <= n_iter:
            parts.append(
                f"""x{it} AS (
  SELECT a.cell, i.i AS i,
    list_sum(list(CAST(e.embedding[i.i] AS DOUBLE) ORDER BY e.vec_id)) AS sv,
    COUNT(*) AS n
  FROM a{it} a JOIN embeddings e USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) i
  GROUP BY a.cell, i.i
)"""
            )
            parts.append(
                f"""cent{it} AS (
  SELECT cell, list(sv / n ORDER BY i) AS cvec FROM x{it} GROUP BY cell
)"""
            )
    return ",\n".join(parts)


@register(
    "q041_ivf_kmeans_assign",
    tags=("similarity", "A1", "J2"),
    oracle=f"""
WITH {_kmeans_ctes(_IVF_K, _IVF_ITER, _IVF_DIM)},
sizes AS (
  SELECT cell, COUNT(*) AS cell_size FROM a{_IVF_ITER + 1} GROUP BY cell
)
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
  CAST(ROUND(a.dist, 4) AS DOUBLE) AS sq_dist, s.cell_size
FROM a{_IVF_ITER + 1} a JOIN sizes s USING (cell)
""",
)
def q041_ivf_kmeans_assign(spark: SparkSession, sf_dir: str):
    """IVF index build: deterministic Lloyd k-means (k=8, 2 fixed update
    rounds, init = vectors of the 8 smallest ids) assigns every embedding
    to a coarse-quantizer cell. A genuinely iterative algorithm expressed
    as DataFrame ops — per round a zero-shuffle assignment projection
    (centroids ride as literals) plus one groupBy(cell) shuffle for the
    sorted-fold mean — and still oracle-checked bit-exactly: the DuckDB
    CTE chain replays the same fold orders (operators.similarity.
    kmeans_cells documents the determinism contract and the
    decimal-partial-sum variant that replaces the sorted fold at corpus
    scale)."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_cells(emb, "vec_id", "embedding", k=_IVF_K, n_iter=_IVF_ITER)
    cs = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_size"))
    return (
        assigned.join(cs, "cell")
        .select(
            F.col("id").alias("vec_id"),
            F.col("cell").cast("int").alias("cell"),
            F.round("sq_dist", 4).cast("double").alias("sq_dist"),
            "cell_size",
        )
    )


@register(
    "q042_ann_ivf_topk",
    tags=("similarity", "J1", "W1", "O3"),
    oracle=f"""
WITH {_kmeans_ctes(_IVF_K, _IVF_ITER, _IVF_DIM)},
pd AS (
  SELECT q.query_id, c.cell,
    list_sum(list_transform(generate_series(1, {_IVF_DIM}),
      i -> (q.qv[i] - c.cvec[i]) * (q.qv[i] - c.cvec[i]))) AS dist
  FROM (SELECT vec_id AS query_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 5) q
  CROSS JOIN cent{_IVF_ITER} c
),
probe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM pd) WHERE rn <= {_IVF_NPROBE}
),
pairs AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probe p JOIN a{_IVF_ITER + 1} a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT s.query_id, s.cand_id,
    CAST(ROUND(
      list_sum(list_transform(generate_series(1, {_IVF_DIM}),
        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, {_IVF_DIM}),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(generate_series(1, {_IVF_DIM}),
           i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
    , 4) AS DOUBLE) AS cosine
  FROM pairs s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.cand_id
)
SELECT query_id, cand_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT query_id, cand_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
  FROM scored
)
WHERE rnk <= {_IVF_TOPK}
""",
)
def q042_ann_ivf_topk(spark: SparkSession, sf_dir: str):
    """ANN search through the IVF index: each query probes its nprobe=2
    nearest coarse cells and scores exact cosine only against those
    cells' members — q25's brute force restricted to deterministic
    partitions, so unlike LSH (q32) the whole approximate path is
    oracle-checked bit-exactly. Scoring cost is q·(nprobe/k)·n instead of
    q·n; the probe join shuffles on the cell id. Recall vs the exact scan
    is asserted in tests (same top-1 for most queries on this corpus)."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        "vec_id",
        "embedding",
        query_ids=[0, 1, 2, 3, 4],
        k=_IVF_TOPK,
        n_cells=_IVF_K,
        n_iter=_IVF_ITER,
        nprobe=_IVF_NPROBE,
    )


# ---------------------------------------------------------------------------
# q36 — embedding-cosine near-dup (exact, label-blocked)
# ---------------------------------------------------------------------------

_NEAR_DUP_COS = 0.35


@register(
    "q036_embedding_near_dup",
    tags=("dedup", "similarity", "J8", "W1"),
    oracle=f"""
WITH unit AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)
      / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id, a.label AS label,
    list_sum(list_transform(generate_series(1, len(a.u)), k -> a.u[k] * b.u[k])) AS cos
  FROM unit a JOIN unit b ON a.label = b.label AND a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, nn_id, label, CAST(ROUND(cos, 4) AS DOUBLE) AS cosine,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ROUND(cos, 4) DESC, nn_id) AS rn
  FROM p
)
SELECT vec_id, nn_id, label, cosine,
  CAST(cosine >= {_NEAR_DUP_COS} AS BOOLEAN) AS near_dup
FROM r WHERE rn = 1
"""
)
def q036_embedding_near_dup(spark: SparkSession, sf_dir: str):
    """Embedding-cosine near-dup detection: each vector's nearest
    neighbor within its label block, flagged when cosine crosses the
    near-dup threshold. Label blocking makes the pair space Σ|block|²
    instead of n² — the exact-scoring pattern an IVF/LSH bucketing
    (q32) feeds at 100 TB, where the block key is the coarse quantizer
    cell rather than a label.

    Pair scoring runs in numpy via ``block_nn_pairs_pandas`` — ONE
    Arrow batch per label block, elementwise products summed with
    ``np.add.accumulate`` (strictly left-to-right), which is
    bit-identical to both Spark's ``F.aggregate`` fold and DuckDB's
    ``list_sum``, so the exact value-hash gate still holds. The pandas
    stage emits only near-max candidates (margin 2e-4 > the 1e-4
    rounding window); the final round + max_by happens Spark-side so the
    rounded-score + nn_id tiebreak matches the oracle's ROW_NUMBER
    ordering exactly."""
    emb = load(spark, sf_dir, "embeddings")
    cand = block_nn_pairs_pandas(
        emb, "vec_id", "embedding", "label", block_type="int"
    ).select(
        F.col("id").alias("vec_id"),
        "nn_id",
        F.col("block").alias("label"),
        F.round("cosine_raw", 4).cast("double").alias("cosine"),
    )
    # max_by instead of a row_number window: the nearest neighbor reduces
    # with map-side partials (one row per vec_id crosses the shuffle) and
    # needs no sort. Tie-break (cosine desc, nn_id asc) via the
    # (cosine, -nn_id) ordering struct matches the oracle's ROW_NUMBER
    # ordering exactly.
    best = cand.groupBy("vec_id", "label").agg(
        F.max_by(
            F.struct("nn_id", "cosine"),
            F.struct(F.col("cosine"), (-F.col("nn_id")).alias("neg")),
        ).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.nn_id").alias("nn_id"),
        "label",
        F.col("best.cosine").alias("cosine"),
        (F.col("best.cosine") >= _NEAR_DUP_COS).alias("near_dup"),
    )


# ---------------------------------------------------------------------------
# q43 — Gopher-style n-gram repetition filter (text analysis)
# ---------------------------------------------------------------------------


def _rep_oracle_cte(n: int, p: str) -> str:
    """DuckDB twin of top_ngram_repetition for word n-grams of size n."""
    return f"""
{p}_g AS (
  SELECT doc_id, n_chars,
    unnest(list_transform(generate_series(1, len(toks)-{n - 1}),
      i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram
  FROM t WHERE len(toks) >= {n}
), {p}_c AS (
  SELECT doc_id, n_chars, gram, count(*) AS cnt FROM {p}_g GROUP BY ALL
), {p} AS (
  SELECT doc_id, gram, cnt,
    CAST(ROUND(CAST(cnt * length(gram) AS DOUBLE) / n_chars, 4) AS DOUBLE) AS frac,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
  FROM {p}_c
)"""


@register(
    "q043_ngram_repetition",
    tags=("text", "A1", "W1"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars, string_split(lower(text), ' ') AS toks
  FROM documents
), {_rep_oracle_cte(2, "bi")}, {_rep_oracle_cte(3, "tri")}
SELECT b.doc_id,
  b.gram AS top_bigram, CAST(b.cnt AS BIGINT) AS bigram_cnt, b.frac AS bigram_char_frac,
  tr.gram AS top_trigram, CAST(tr.cnt AS BIGINT) AS trigram_cnt, tr.frac AS trigram_char_frac
FROM bi b JOIN tri tr ON b.doc_id = tr.doc_id AND b.rn = 1 AND tr.rn = 1
""",
)
def q043_ngram_repetition(spark: SparkSession, sf_dir: str):
    """Repetitious-document filter signals à la Gopher/MassiveText: the
    dominant word bigram and trigram per document with the character
    fraction each covers. The canonical pre-training quality rule that
    q28's diversity/stopword heuristics don't capture — templated spam
    scores high here while looking normal on lexical diversity.

    Two independent `top_ngram_repetition` passes (n=2, n=3) joined on
    doc_id; each pass is explode → partial-agg count → argmax window over
    the collapsed counts (operators/text.py docstring for the exchange
    story)."""
    d = load(spark, sf_dir, "documents")
    bi = top_ngram_repetition(d, "text", "doc_id", n=2).select(
        "doc_id",
        F.col("gram").alias("top_bigram"),
        F.col("cnt").cast("long").alias("bigram_cnt"),
        F.col("char_frac").alias("bigram_char_frac"),
    )
    tri = top_ngram_repetition(d, "text", "doc_id", n=3).select(
        "doc_id",
        F.col("gram").alias("top_trigram"),
        F.col("cnt").cast("long").alias("trigram_cnt"),
        F.col("char_frac").alias("trigram_char_frac"),
    )
    return bi.join(tri, "doc_id")


# ---------------------------------------------------------------------------
# q44 — eval-set decontamination (broadcast n-gram overlap)
# ---------------------------------------------------------------------------

_DECON_N = 4
_DECON_EVAL_MAX_ID = 20


@register(
    "q044_decontamination",
    tags=("dedup", "J1", "J6", "A3"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_DECON_N}
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{_DECON_N - 1}], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_DECON_N - 1})) AS i FROM toks)
), ev AS (SELECT gram, doc_id AS eval_id FROM sh WHERE doc_id < {_DECON_EVAL_MAX_ID}),
tr AS (SELECT * FROM sh WHERE doc_id >= {_DECON_EVAL_MAX_ID})
SELECT tr.doc_id,
  CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_overlap_grams,
  CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev USING (gram)
GROUP BY tr.doc_id
""",
)
def q044_decontamination(spark: SparkSession, sf_dir: str):
    """GPT-3-style decontamination: train docs (doc_id >= 20) sharing any
    word 4-gram with the stand-in eval set (doc_id < 20). The eval gram
    set broadcasts — the corpus side is probed map-side with no shuffle;
    operators/dedup.py::decontaminate for the scale story. n=4 is the
    short-synthetic-doc equivalent of the paper's 13-gram rule."""
    d = load(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") < _DECON_EVAL_MAX_ID)
    tr = d.filter(F.col("doc_id") >= _DECON_EVAL_MAX_ID)
    return decontaminate(tr, ev, "text", "doc_id", n=_DECON_N)


# ---------------------------------------------------------------------------
# q45 — deterministic source-mix sampling / upsampling (corpus assembly)
# ---------------------------------------------------------------------------

_MIX_RATES = {"src0": 2.5, "src1": 2.0, "src2": 1.25, "src3": 0.5, "src4": 0.1}
_MIX_SALT = "mix-v1"


def _mix_case(value_of, default) -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {value_of(r)}" for s, r in sorted(_MIX_RATES.items())
    )
    return f"(CASE source {whens} ELSE {default} END)"


@register(
    "q045_source_mix_sample",
    tags=("P6", "J7", "A4"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, source,
    substr(md5('{_MIX_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h4
  FROM documents
), n AS (
  SELECT doc_id, source,
    {_mix_case(lambda r: int(r), 1)}
    + CAST(h4 < {_mix_case(lambda r: "'" + format(round((r - int(r)) * 65536), "04x") + "'", "'0000'")} AS INTEGER) AS n_copies
  FROM h
)
SELECT doc_id, source, CAST(e.epoch AS INTEGER) AS epoch
FROM n, LATERAL (SELECT unnest(generate_series(1, n.n_copies)) AS epoch) e
WHERE n.n_copies > 0
""",
)
def q045_source_mix_sample(spark: SparkSession, sf_dir: str):
    """Source-weighted corpus assembly (The Pile / LLaMA mix weights):
    src0 ×2.5, src1 ×2.0, src2 ×1.25, src3 ×0.5, src4 ×0.1, rest ×1.
    Upsampling emits explicit epoch copies; every keep/copy decision is a
    salted-md5 prefix compare — RNG-free, engine- and partitioning-stable
    (operators/mixing.py). Map-side only: no shuffle anywhere."""
    d = load(spark, sf_dir, "documents")
    return source_mix_sample(
        d, "doc_id", "source", _MIX_RATES, salt=_MIX_SALT
    ).select("doc_id", "source", "epoch")


# ---------------------------------------------------------------------------
# q46 — per-source token-budget cut (corpus assembly)
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 600
_BUDGET_SALT = "budget-v1"


@register(
    "q046_token_budget_cut",
    tags=("A1", "W1", "P6"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
    len(string_split(text, ' ')) AS n_tok,
    md5('{_BUDGET_SALT}:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tok,
    SUM(n_tok) OVER (
      PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum_tokens
  FROM t
)
SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
  CAST(cum_tokens AS BIGINT) AS cum_tokens,
  cum_tokens <= {_BUDGET_TOKENS} AS kept
FROM c
""",
)
def q046_token_budget_cut(spark: SparkSession, sf_dir: str):
    """Token-budget curation: each source contributes documents, in
    salted-md5 order (an unbiased, RNG-free, backfill-stable shuffle of
    the source), until its running token total exceeds the budget. The
    running sum is an explicit ROWS-frame window — a frame-spec window
    class the reference never uses (SURVEY §2.6 'not present'), here a
    first-class beyond-reference op. One shuffle on source; the hash
    order is total (hash, doc_id), so the cut is engine-identical."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(f"{_BUDGET_SALT}:"), F.col("doc_id").cast("string")))
    n_tok = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("source")
        .orderBy(h, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tok"),
        F.sum(n_tok).over(w).cast("long").alias("cum_tokens"),
    ).withColumn("kept", F.col("cum_tokens") <= _BUDGET_TOKENS)


# ---------------------------------------------------------------------------
# q47 — sequence packing profile (concat-and-chunk into context windows)
# ---------------------------------------------------------------------------

_PACK_CTX = 512
_PACK_SALT = "pack-v1"


@register(
    "q047_sequence_packing",
    tags=("A1", "W1"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
    len(string_split(text, ' ')) AS n_tok,
    md5('{_PACK_SALT}:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), c AS (
  SELECT source, n_tok,
    SUM(n_tok) OVER (
      PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum
  FROM t
), spans AS (
  SELECT source, n_tok, cum,
    ((cum - 1) // {_PACK_CTX}) - ((cum - n_tok) // {_PACK_CTX}) + 1 AS n_spans
  FROM c
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  CAST((MAX(cum) + {_PACK_CTX} - 1) // {_PACK_CTX} AS BIGINT) AS n_chunks,
  CAST(SUM(CASE WHEN n_spans > 1 THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs,
  CAST(MAX(n_spans) AS BIGINT) AS max_spans,
  CAST(ROUND(CAST(MAX(cum) AS DOUBLE)
    / (((MAX(cum) + {_PACK_CTX} - 1) // {_PACK_CTX}) * {_PACK_CTX}), 4) AS DOUBLE) AS fill_ratio
FROM spans
GROUP BY source
""",
)
def q047_sequence_packing(spark: SparkSession, sf_dir: str):
    """Sequence packing for LM pretraining (GPT-style concat-and-chunk):
    per source, documents are concatenated in salted-md5 order and the
    token stream is split into fixed {ctx}-token context windows. Reports
    per-source chunk counts, how many documents straddle a chunk boundary
    (attention-mask fragmentation), and fill ratio of the final chunk.
    The whole layout is one ROWS-frame cumulative window + integer DIV
    arithmetic — no data movement of the text itself, engine-identical
    because the (hash, doc_id) order is total. One shuffle on source."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(f"{_PACK_SALT}:"), F.col("doc_id").cast("string")))
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy(h, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "source", n_tok.alias("n_tok"), F.sum(n_tok).over(w).alias("cum")
    )
    spans = c.withColumn(
        "n_spans",
        F.expr(f"((cum - 1) div {_PACK_CTX}) - ((cum - n_tok) div {_PACK_CTX}) + 1"),
    )
    n_chunks = F.expr(f"(max(cum) + {_PACK_CTX} - 1) div {_PACK_CTX}")
    return spans.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        n_chunks.cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("n_spans") > 1, 1).otherwise(0))
        .cast("long")
        .alias("boundary_docs"),
        F.max("n_spans").cast("long").alias("max_spans"),
        F.round(
            F.max("cum").cast("double") / (n_chunks * _PACK_CTX).cast("double"), 4
        )
        .cast("double")
        .alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# q54 — content-defined chunking (rolling-hash split points)
# ---------------------------------------------------------------------------

_CDC_W = 3  # token-window width feeding the boundary hash
_CDC_PREFIX = "2"  # boundary iff md5 hex starts below this => P = 2/16


@register(
    "q054_content_defined_chunks",
    tags=("J7", "W1", "A1"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, i,
    CASE WHEN md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) < '{_CDC_PREFIX}'
         THEN 1 ELSE 0 END AS is_boundary
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_CDC_W - 1})) AS i
        FROM toks WHERE len(t) >= {_CDC_W})
), bnd AS (
  SELECT doc_id, i,
    i - COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS seg_len
  FROM pos WHERE is_boundary = 1
), per_doc AS (
  SELECT p.doc_id,
    COUNT(*) AS n_grams,
    CAST(SUM(is_boundary) AS BIGINT) AS n_boundaries
  FROM pos p GROUP BY p.doc_id
)
SELECT d.doc_id, n_grams, n_boundaries,
  n_boundaries + 1 AS n_chunks,
  CAST(ROUND(CAST(n_grams AS DOUBLE) / (n_boundaries + 1), 4) AS DOUBLE) AS avg_chunk_len,
  CAST(COALESCE(MAX(b.seg_len), 0) AS BIGINT) AS max_seg_len
FROM per_doc d LEFT JOIN bnd b ON b.doc_id = d.doc_id
GROUP BY d.doc_id, n_grams, n_boundaries
""",
)
def q054_content_defined_chunks(spark: SparkSession, sf_dir: str):
    """Content-defined chunking (rolling-hash splitting, the FastCDC /
    rsync family): a boundary falls wherever the hash of the local
    {w}-token window drops below a fixed prefix — so chunk edges are a
    function of CONTENT, not offsets, and an insertion early in a
    document only reshuffles one chunk instead of every downstream one
    (the property that makes chunk-hash dedup incremental at 100 TB).
    Emits per-doc chunk counts and segment-length stats. Map-side
    explode + one window/agg shuffle on doc_id; md5-prefix thresholding
    keeps the boundary decision engine-identical."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= _CDC_W)
    pos = toks.select(
        "doc_id",
        F.posexplode(F.expr(f"slice(t, 1, size(t) - {_CDC_W - 1})")).alias("i0", "_w0"),
        F.col("t"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        F.when(
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr("t[i0]"),
                    F.expr("t[i0 + 1]"),
                    F.expr("t[i0 + 2]"),
                )
            )
            < _CDC_PREFIX,
            1,
        )
        .otherwise(0)
        .alias("is_boundary"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    bnd = (
        pos.filter(F.col("is_boundary") == 1)
        .withColumn("seg_len", F.col("i") - F.coalesce(F.lag("i").over(w), F.lit(0)))
        .groupBy("doc_id")
        .agg(F.max("seg_len").cast("long").alias("max_seg"))
    )
    per_doc = pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("is_boundary").cast("long").alias("n_boundaries"),
    )
    return (
        per_doc.join(bnd, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "n_boundaries",
            (F.col("n_boundaries") + 1).alias("n_chunks"),
            F.round(
                F.col("n_grams").cast("double") / (F.col("n_boundaries") + 1), 4
            )
            .cast("double")
            .alias("avg_chunk_len"),
            F.coalesce(F.col("max_seg"), F.lit(0)).cast("long").alias("max_seg_len"),
        )
    )


# ---------------------------------------------------------------------------
# q55 — tf-idf-style keyword extraction (integer-exact scoring)
# ---------------------------------------------------------------------------

_KW_TOPK = 3


@register(
    "q055_doc_keywords",
    tags=("J7", "A1", "A3", "W1"),
    oracle=f"""
WITH tf AS (
  SELECT doc_id, w AS token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
  GROUP BY doc_id, w
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
    (tf.tf * n.n_docs * 1000) // df.df AS score_x1000
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, df, score_x1000, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score_x1000 DESC, token) AS rnk
  FROM scored
)
WHERE rnk <= {_KW_TOPK}
""",
)
def q055_doc_keywords(spark: SparkSession, sf_dir: str):
    """Per-document keyword extraction by tf-idf-style relevance with
    INTEGER-exact scoring: score = tf * N * 1000 DIV df — the log() of
    textbook idf is monotone in N/df, so the ranking is identical while
    the arithmetic stays engine-exact (no libm drift across engines).
    Two shuffles: (doc, token) tf aggregate, then df join back on token
    (corpus-frequency table is Zipf-small → AQE broadcasts it); top-k by
    one row_number window with a lexicographic tiebreak."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()
    scored = tf.join(df_tbl, "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.expr(f"(tf * {n_docs} * 1000) div df").alias("score_x1000"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_x1000"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _KW_TOPK)
        .select("doc_id", "token", "tf", "df", "score_x1000", "rnk")
    )


# ---------------------------------------------------------------------------
# q62 — cross-document repeated passages (passage-level dedup)
# ---------------------------------------------------------------------------

_PASSAGE_W = 8


@register(
    "q062_repeated_passages",
    tags=("dedup", "J7", "A1", "A3"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_PASSAGE_W}
), win AS (
  SELECT doc_id,
    md5(list_aggr(t[i:i+{_PASSAGE_W - 1}], 'string_agg', ' ')) AS gram_hash
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_PASSAGE_W - 1})) AS i
        FROM toks)
)
SELECT gram_hash,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  COUNT(*) AS n_occurrences,
  CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM win
GROUP BY gram_hash
HAVING COUNT(DISTINCT doc_id) >= 2
""",
)
def q062_repeated_passages(spark: SparkSession, sf_dir: str):
    """Passage-level dedup: every {w}-token sliding window is hashed and
    windows shared by >= 2 distinct documents surface with their spread —
    the passage-granular twin of document dedup (q21/q22): boilerplate
    and quotations repeat across otherwise-distinct documents, and at
    100 TB this is how they're found (one shuffle keyed on the window
    hash — uniform key space — with a distinct-doc count). Window text
    itself never shuffles: only the 32-byte md5 does."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
    ).filter(F.size("t") >= _PASSAGE_W)
    win = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(slice(t, 1, size(t) - {_PASSAGE_W - 1}),"
                f" (x, i) -> md5(concat_ws(' ', slice(t, i + 1, {_PASSAGE_W}))))"
            )
        ).alias("gram_hash"),
    )
    return (
        win.groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# q63 — skew-salted aggregation parity (operators/scale.py)
# ---------------------------------------------------------------------------


@register(
    "q063_salted_event_rollup",
    tags=("A1", "A2", "scale"),
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(MIN(event_id) AS BIGINT) AS min_event_id,
  CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
""",
)
def q063_salted_event_rollup(spark: SparkSession, sf_dir: str):
    """Pathological-skew aggregation: event_type has only 5 values, so a
    plain groupBy lands the whole table on 5 reducers. The salted
    two-phase operator (operators/scale.py::salted_aggregate) spreads
    each hot key over 16 salts, merges partials on the bare key, and —
    because every aggregate is decomposable (count/sum/min/max; the
    distinct-user count is an exact two-level distinct-then-count) —
    returns bit-identical results to the plain plan, which is exactly
    what the DuckDB oracle certifies. Money-ish sums use floor(x*100)
    integer cents so the rollup is order-independent."""
    from ..operators.scale import salted_aggregate

    ev = load(spark, sf_dir, "events")
    base = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": (F.count(F.lit(1)), "count"),
            "value_cents": (F.sum(F.floor(F.col("value") * 100).cast("long")), "sum"),
            "min_ev": (F.min("event_id"), "min"),
            "max_ev": (F.max("event_id"), "max"),
        },
    )
    # exact COUNT(DISTINCT user_id) under skew: dedup (type, user) pairs
    # first (salt-free — the pair key is already high-cardinality), then
    # count per type.
    users = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    return base.join(users, "event_type").select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_cents").cast("long").alias("value_cents"),
        "n_users",
        F.col("min_ev").cast("long").alias("min_event_id"),
        F.col("max_ev").cast("long").alias("max_event_id"),
    )


# ---------------------------------------------------------------------------
# q67 — C4-style rule funnel with first-failing-rule attribution
# ---------------------------------------------------------------------------


@register(
    "q067_filter_rule_funnel",
    tags=("text", "P6", "A4"),
    oracle=f"""
WITH t AS (
  SELECT source, string_split(lower(text), ' ') AS toks FROM documents
), r AS (
  SELECT source, len(toks) AS n_tok,
    CASE
      WHEN len(toks) < 20 THEN 'too_short'
      WHEN len(toks) > 88 THEN 'too_long'
      WHEN len(list_filter(toks, x -> list_contains({list(STOPWORDS_EN)}, x))) = 0
        THEN 'no_stopword'
      WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.35
        THEN 'low_diversity'
      ELSE 'keep'
    END AS verdict
  FROM t
)
SELECT source, verdict,
  COUNT(*) AS docs,
  CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM r GROUP BY source, verdict
""",
)
def q067_filter_rule_funnel(spark: SparkSession, sf_dir: str):
    """C4/Gopher-style document filter expressed as a rule FUNNEL: each
    doc is attributed to the FIRST rule it fails (fixed rule order —
    length bounds, stopword presence, lexical diversity; Raffel et al.
    2020 §2.2 / Rae et al. 2021 A1.1 style), so the per-(source, rule)
    retention report tells a pipeline operator which rule costs which
    corpus how many tokens. Pure column expressions over one scan — no
    shuffle before the tiny final aggregation, whole-stage codegen
    end-to-end; at 100 TB this is scan-bound, exactly as a filter should
    be."""
    d = load(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    n_tok = F.size(F.col("__toks"))
    arr = "array(" + ",".join(f"'{w}'" for w in STOPWORDS_EN) + ")"
    stop_hits = F.expr(f"size(filter(__toks, x -> array_contains({arr}, x)))")
    diversity = F.size(F.array_distinct(F.col("__toks"))).cast("double") / n_tok
    verdict = (
        F.when(n_tok < 20, "too_short")
        .when(n_tok > 88, "too_long")
        .when(stop_hits == 0, "no_stopword")
        .when(diversity < 0.35, "low_diversity")
        .otherwise("keep")
    )
    return (
        d.select("source", n_tok.alias("n_tok"), verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q68 — token-SET signature dedup (vocabulary-fingerprint blocking)
# ---------------------------------------------------------------------------


@register(
    "q068_token_set_dedup",
    tags=("dedup", "A3"),
    oracle="""
WITH s AS (
  SELECT source,
    md5(text) AS exact_sig,
    md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
      AS set_sig
  FROM documents
)
SELECT source,
  COUNT(*) AS docs,
  CAST(COUNT(DISTINCT exact_sig) AS BIGINT) AS exact_groups,
  CAST(COUNT(DISTINCT set_sig) AS BIGINT) AS set_groups,
  CAST(COUNT(*) - COUNT(DISTINCT set_sig) AS BIGINT) AS set_dup_docs
FROM s GROUP BY source
""",
)
def q068_token_set_dedup(spark: SparkSession, sf_dir: str):
    """Bag-of-words SET-signature dedup: two docs collide when they use
    the same vocabulary regardless of word order or repetition — the
    cheap order-insensitive near-dup blocker that sits between exact
    hash dedup (q21, catches nothing here) and shingle Jaccard (q22,
    quadratic candidate work). Only a 32-byte md5 per doc ever shuffles;
    the double COUNT(DISTINCT) pair runs as one Expand + two-level
    hash aggregate (one logical pass), not two jobs."""
    d = load(spark, sf_dir, "documents")
    set_sig = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")
    )
    return (
        d.select(
            "source",
            F.md5(F.col("text")).alias("exact_sig"),
            set_sig.alias("set_sig"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.countDistinct("exact_sig").cast("long").alias("exact_groups"),
            F.countDistinct("set_sig").cast("long").alias("set_groups"),
            (F.count(F.lit(1)) - F.countDistinct("set_sig"))
            .cast("long")
            .alias("set_dup_docs"),
        )
    )


# ---------------------------------------------------------------------------
# q69 — int8 embedding quantization profile (integer-exact)
# ---------------------------------------------------------------------------


@register(
    "q069_embedding_quantization",
    tags=("similarity", "A1", "A2"),
    oracle="""
WITH v AS (
  SELECT label, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
), q AS (
  SELECT label, scale,
    list_sum(list_transform(embedding,
      x -> CAST(abs(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)) AS BIGINT)))
      AS abs_q,
    len(list_filter(embedding,
      x -> floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) = 0)) AS zeros,
    list_sum(list_transform(embedding,
      x -> CAST(floor(
        (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) * scale / 127.0)
        * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) * scale / 127.0)
        * 1000000000000.0) AS BIGINT))) AS err_micro
  FROM v
  WHERE scale > 0
)
SELECT label,
  COUNT(*) AS n_vecs,
  CAST(SUM(abs_q) AS BIGINT) AS sum_abs_q,
  CAST(SUM(zeros) AS BIGINT) AS zero_elems,
  CAST(SUM(err_micro) AS BIGINT) AS recon_err_micro,
  CAST(ROUND(CAST(SUM(CAST(scale AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
    AS avg_scale
FROM q GROUP BY label
""",
)
def q069_embedding_quantization(spark: SparkSession, sf_dir: str):
    """Symmetric int8 scalar quantization profile — the compression step
    a 100 TB embedding store applies before ANN serving (4x smaller than
    float32, SIMD-friendly int dot products). Per vector: scale =
    max|x|, q_i = floor(x_i*127/scale + 0.5); per label we report total
    quantized mass, zeroed elements, and the reconstruction error folded
    to integer picounits BEFORE the cross-row sum, so every aggregate is
    order-independent (integers commute; scale means go through
    DECIMAL(18,9) per the engine policy) and the whole approximate-
    storage pipeline stays oracle-checkable. Everything is built-in
    array lambdas — JVM codegen, zero shuffles before the 10-group agg."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.withColumn(
        "scale",
        F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"),
    ).filter(F.col("scale") > 0)
    qexpr = "floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)"
    recon = f"(CAST(x AS DOUBLE) - {qexpr} * scale / 127.0)"
    q = v.select(
        "label",
        "scale",
        F.expr(
            f"aggregate(transform(embedding, x -> CAST(abs({qexpr}) AS BIGINT)), "
            "0L, (acc, e) -> acc + e)"
        ).alias("abs_q"),
        F.expr(f"size(filter(embedding, x -> {qexpr} = 0))").alias("zeros"),
        F.expr(
            f"aggregate(transform(embedding, x -> CAST(floor({recon} * {recon} "
            "* 1000000000000.0) AS BIGINT)), 0L, (acc, e) -> acc + e)"
        ).alias("err_micro"),
    )
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("abs_q").cast("long").alias("sum_abs_q"),
        F.sum("zeros").cast("long").alias("zero_elems"),
        F.sum("err_micro").cast("long").alias("recon_err_micro"),
        F.round(
            F.sum(F.col("scale").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("avg_scale"),
    )


# ---------------------------------------------------------------------------
# q70 — sensitive-term redaction profile (regex scrub pass)
# ---------------------------------------------------------------------------

_REDACT_PAT = r"\b(customer|value|key)\b"


@register(
    "q070_term_redaction",
    tags=("text", "P5", "A4"),
    oracle=f"""
WITH r AS (
  SELECT source, text,
    len(regexp_extract_all(text, '{_REDACT_PAT}')) AS hits,
    regexp_replace(text, '{_REDACT_PAT}', '[TERM]', 'g') AS scrubbed
  FROM documents
)
SELECT source,
  COUNT(*) AS docs,
  COUNT(CASE WHEN hits > 0 THEN 1 END) AS docs_redacted,
  CAST(SUM(hits) AS BIGINT) AS redactions,
  CAST(SUM(len(text)) AS BIGINT) AS chars_in,
  CAST(SUM(len(scrubbed)) AS BIGINT) AS chars_out
FROM r GROUP BY source
""",
)
def q070_term_redaction(spark: SparkSession, sf_dir: str):
    """PII-style scrub pass: a word-boundary regex replaces every hit of a
    sensitive-term list with a fixed mask token and the per-source report
    shows document coverage, replacement counts, and size drift — the audit
    a redaction stage must emit before training data ships.

    Scale: regexp_replace/regexp_extract_all are JVM-side codegen'd
    expressions over a single scan (no shuffle before the tiny per-source
    aggregate) — the same shape as the C4 filter funnel (q67), scan-bound
    at 100 TB. The scrubbed text itself would be written back to the lake
    in the real pipeline; here the aggregate certifies the transform."""
    d = load(spark, sf_dir, "documents")
    hits = F.size(F.regexp_extract_all("text", F.lit(_REDACT_PAT), 0))
    scrubbed = F.regexp_replace("text", _REDACT_PAT, "[TERM]")
    return (
        d.select(
            "source",
            F.length("text").alias("chars"),
            hits.alias("hits"),
            F.length(scrubbed).alias("chars_scrubbed"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count(F.when(F.col("hits") > 0, 1)).alias("docs_redacted"),
            F.sum("hits").cast("long").alias("redactions"),
            F.sum("chars").cast("long").alias("chars_in"),
            F.sum("chars_scrubbed").cast("long").alias("chars_out"),
        )
    )


# ---------------------------------------------------------------------------
# q71 — robust outlier detection via median absolute deviation (MAD)
# ---------------------------------------------------------------------------


@register(
    "q071_doc_length_outliers",
    tags=("quality", "A1", "A2"),
    oracle="""
WITH d AS (SELECT source, n_chars FROM documents),
med AS (
  SELECT source, quantile_cont(n_chars, 0.5) AS med, COUNT(*) AS n_docs
  FROM d GROUP BY source
),
dev AS (
  SELECT d.source, abs(d.n_chars - m.med) AS dev, m.med, m.n_docs
  FROM d JOIN med m USING (source)
),
mad AS (SELECT source, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY source)
SELECT dev.source,
  MAX(dev.n_docs) AS n_docs,
  CAST(MAX(dev.med) AS DOUBLE) AS med_chars,
  CAST(MAX(mad.mad) AS DOUBLE) AS mad_chars,
  COUNT(CASE WHEN dev.dev > 3 * mad.mad THEN 1 END) AS n_outliers,
  CAST(ROUND(100.0 * COUNT(CASE WHEN dev.dev > 3 * mad.mad THEN 1 END)
    / MAX(dev.n_docs), 2) AS DOUBLE) AS outlier_pct
FROM dev JOIN mad USING (source)
GROUP BY dev.source
""",
)
def q071_doc_length_outliers(spark: SparkSession, sf_dir: str):
    """Robust per-source outlier screen: median + median-absolute-deviation
    of document length, flagging docs beyond 3·MAD — the length filter a
    curation pipeline uses where mean/stddev would be dragged by the very
    outliers it hunts.

    Determinism: exact percentile at p=0.5 interpolates between two
    integers (or integer-deviations), so every median/MAD is a dyadic
    rational represented exactly in DOUBLE on both engines — the 3·MAD
    comparison is bit-stable by construction, no float-tolerance needed.

    Scale: two grouped exact medians + two broadcast joins of tiny
    per-source stats tables. Exact percentile holds per-group sorted state
    — fine when groups are corpus sources (dozens); for high-cardinality
    keys the approx_percentile twin (q33/q49 family) is the scale path."""
    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    med = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    dev = d.join(F.broadcast(med), "source").select(
        "source",
        "med",
        "n_docs",
        F.abs(F.col("n_chars") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("source").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    is_out = F.col("dev") > F.lit(3) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("med").cast("double").alias("med_chars"),
            F.max("mad").cast("double").alias("mad_chars"),
            F.count(F.when(is_out, 1)).alias("n_outliers"),
            F.round(
                F.lit(100.0) * F.count(F.when(is_out, 1)) / F.max("n_docs"), 2
            )
            .cast("double")
            .alias("outlier_pct"),
        )
    )


# ---------------------------------------------------------------------------
# q73 — blocked edit-distance near-dup (entity-resolution blocking)
# ---------------------------------------------------------------------------


@register(
    "q073_part_name_editdist",
    tags=("dedup", "J8", "A4"),
    oracle="""
WITH p AS (
  SELECT p_partkey, p_brand, p_name, split_part(p_name, ' ', 2) AS noun
  FROM part
),
pairs AS (
  SELECT a.p_brand, a.noun,
    levenshtein(a.p_name, b.p_name) AS dist
  FROM p a JOIN p b
    ON a.p_brand = b.p_brand AND a.noun = b.noun
   AND a.p_partkey < b.p_partkey
)
SELECT p_brand, noun,
  COUNT(*) AS candidate_pairs,
  COUNT(CASE WHEN dist <= 3 THEN 1 END) AS close_pairs,
  MIN(dist) AS min_dist,
  CAST(ROUND(100.0 * COUNT(CASE WHEN dist <= 3 THEN 1 END) / COUNT(*), 2) AS DOUBLE)
    AS close_pct
FROM pairs GROUP BY p_brand, noun
""",
)
def q073_part_name_editdist(spark: SparkSession, sf_dir: str):
    """Edit-distance near-dup with entity-resolution blocking: candidate
    pairs are generated only inside (brand, head-noun) blocks, then scored
    with exact levenshtein — the classic record-linkage shape (block →
    compare → threshold) that complements the token-set (q68) and shingle
    (q22) dedup families with a typo-tolerant string metric.

    Scale: the self-join is a plain equi-join on the block key, so the
    quadratic comparison cost is bounded per block (shuffle partitions by
    block key, AQE splits skewed blocks); levenshtein is a JVM codegen'd
    expression. Blocking quality, not the metric, decides feasibility at
    100 TB — exactly as in production entity resolution."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.expr("split_part(p_name, ' ', 2)").alias("noun"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.noun") == F.col("b.noun"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_brand").alias("p_brand"),
        F.col("a.noun").alias("noun"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
    )
    close = F.count(F.when(F.col("dist") <= 3, 1))
    return pairs.groupBy("p_brand", "noun").agg(
        F.count(F.lit(1)).alias("candidate_pairs"),
        close.alias("close_pairs"),
        F.min("dist").cast("long").alias("min_dist"),
        F.round(F.lit(100.0) * close / F.count(F.lit(1)), 2)
        .cast("double")
        .alias("close_pct"),
    )


# ---------------------------------------------------------------------------
# q76 — cross-source n-gram overlap matrix (corpus leakage analysis)
# ---------------------------------------------------------------------------

_OVERLAP_N = 5


@register(
    "q076_source_overlap_matrix",
    tags=("dedup", "A3", "J8"),
    oracle=f"""
WITH toks AS (
  SELECT source, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_OVERLAP_N}
),
sh AS (
  SELECT DISTINCT source,
    array_to_string(t[i:i+{_OVERLAP_N - 1}], ' ') AS shingle
  FROM (SELECT source, t,
          unnest(generate_series(1, len(t)-{_OVERLAP_N - 1})) AS i FROM toks)
),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS src1, b.source AS src2, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src1, src2, shared,
  CAST(ROUND(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 4) AS DOUBLE)
    AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src1
JOIN sizes sb ON sb.source = src2
""",
)
def q076_source_overlap_matrix(spark: SparkSession, sf_dir: str):
    """Corpus-leakage matrix: for every pair of sources, how many distinct
    word-5-grams they share and the Jaccard of their shingle sets — the
    report that catches one crawl mirroring another before both are
    upsampled as "independent" sources (the cross-source twin of q44's
    eval-set decontamination).

    Scale: the posting list per shingle is the set of SOURCES containing
    it — bounded by the source count (dozens), not the corpus, so unlike
    document-pair dedup (q22) no df-cap is needed: collect_set + in-group
    pair generation is O(sources²) per shingle worst case, and only
    (src1, src2) pair rows ever shuffle after the one shingle exchange."""
    d = load(spark, sf_dir, "documents")
    sh = word_shingles(d, "text", "source", n=_OVERLAP_N).distinct()
    inv = sh.groupBy("shingle").agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    sizes = inv.select(F.explode("srcs").alias("source")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    pairs = inv.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) ->"
                " transform(slice(srcs, i+2, size(srcs)),"
                " y -> struct(x as src1, y as src2))))"
            )
        ).alias("p")
    ).select("p.src1", "p.src2")
    inter = pairs.groupBy("src1", "src2").agg(F.count(F.lit(1)).alias("shared"))
    sa = sizes.select(F.col("source").alias("src1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("source").alias("src2"), F.col("n_sh").alias("n2"))
    jac = F.col("shared").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("shared")
    )
    # No broadcast() hint on sa/sb: a hint forces separate BroadcastExchange
    # subtrees, which defeats ReuseExchange — the whole shingle pipeline
    # would re-execute once per branch (3 scans). Left to AQE, the shuffled
    # inv subtree is computed once and reused by sizes and pairs.
    return (
        inter.join(sa, "src1")
        .join(sb, "src2")
        .select(
            "src1",
            "src2",
            "shared",
            F.round(jac, 4).cast("double").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q86 — boilerplate/template detection via shared document prefixes
# ---------------------------------------------------------------------------

_PREFIX_K = 3


@register(
    "q086_boilerplate_prefixes",
    tags=("text", "dedup", "A1"),
    oracle=f"""
WITH p AS (
  SELECT source,
    array_to_string(string_split(lower(text), ' ')[1:{_PREFIX_K}], ' ')
      AS prefix_sig
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_PREFIX_K}
),
t AS (
  SELECT source, prefix_sig, COUNT(*) AS docs
  FROM p GROUP BY source, prefix_sig
  HAVING COUNT(*) >= 2
)
SELECT source,
  COUNT(*) AS templates,
  CAST(SUM(docs) AS BIGINT) AS docs_in_templates,
  CAST(MAX(docs) AS BIGINT) AS largest_template
FROM t GROUP BY source
""",
)
def q086_boilerplate_prefixes(spark: SparkSession, sf_dir: str):
    """Boilerplate/template detection: documents opening with the same
    first-k tokens inside one source are template instances (site
    headers, license preambles, scraper artifacts) — the C4-style cleanup
    target that per-document quality scores (q28) cannot see because
    every instance looks individually fine.

    Scale: the prefix signature is a fixed-k slice (pure column exprs, no
    explode — unlike shingling the cost does not scale with document
    length); only (source, 6-token-prefix) rows shuffle into the group
    count, then a per-source rollup. Swap the raw prefix for its md5 to
    shuffle 16 bytes at extreme scale."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    p = d.filter(F.size(toks) >= _PREFIX_K).select(
        "source",
        F.array_join(F.slice(toks, 1, _PREFIX_K), " ").alias("prefix_sig"),
    )
    t = (
        p.groupBy("source", "prefix_sig")
        .agg(F.count(F.lit(1)).alias("docs"))
        .filter(F.col("docs") >= 2)
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("templates"),
        F.sum("docs").cast("long").alias("docs_in_templates"),
        F.max("docs").cast("long").alias("largest_template"),
    )


# ---------------------------------------------------------------------------
# q87 — canonical selection: keep the best replica of each duplicate group
# ---------------------------------------------------------------------------


@register(
    "q087_canonical_selection",
    tags=("dedup", "A1", "A4"),
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, lang,
    md5(text) AS sig,
    CASE lang WHEN 'en' THEN 0 ELSE 1 END * 10000000000 + doc_id AS pref
  FROM documents
),
canon AS (
  SELECT sig, MIN(pref) AS best_pref, COUNT(*) AS replicas
  FROM ranked GROUP BY sig
)
SELECT r.source,
  COUNT(*) AS docs,
  COUNT(CASE WHEN r.pref = c.best_pref THEN 1 END) AS kept,
  COUNT(CASE WHEN r.pref <> c.best_pref THEN 1 END) AS dropped,
  COUNT(CASE WHEN c.replicas > 1 AND r.pref = c.best_pref THEN 1 END)
    AS kept_from_dup_groups
FROM ranked r JOIN canon c USING (sig)
GROUP BY r.source
""",
)
def q087_canonical_selection(spark: SparkSession, sf_dir: str):
    """Keep-best dedup: exact-duplicate groups (md5 of text) keep ONE
    canonical replica chosen by an explicit preference order (here:
    English first, then lowest doc_id) — the selection step that turns a
    duplicate REPORT (q21) into a duplicate RESOLUTION, with per-source
    keep/drop accounting for the curation audit trail.

    The preference is folded into a single integer (rank · 10^10 +
    doc_id) so argmin-by-preference is a plain MIN — engine-portable,
    total order, no min_by/arg_min semantics differences, deterministic
    under any partitioning. One shuffle on the 16-byte signature, one
    broadcast-size join back (group table is O(distinct texts))."""
    d = load(spark, sf_dir, "documents")
    pref = (
        F.when(F.col("lang") == "en", 0).otherwise(1).cast("long")
        * F.lit(10_000_000_000).cast("long")
        + F.col("doc_id")
    )
    ranked = d.select(
        "doc_id", "source", F.md5("text").alias("sig"), pref.alias("pref")
    )
    canon = ranked.groupBy("sig").agg(
        F.min("pref").alias("best_pref"), F.count(F.lit(1)).alias("replicas")
    )
    j = ranked.join(canon, "sig")
    is_best = F.col("pref") == F.col("best_pref")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.count(F.when(is_best, 1)).alias("kept"),
        F.count(F.when(~is_best, 1)).alias("dropped"),
        F.count(F.when((F.col("replicas") > 1) & is_best, 1)).alias(
            "kept_from_dup_groups"
        ),
    )


# ---------------------------------------------------------------------------
# q95 — source-mix concentration (integer-exact HHI per language)
# ---------------------------------------------------------------------------


@register(
    "q095_source_mix_hhi",
    tags=("mixing", "A1", "A2"),
    oracle="""
WITH st AS (
  SELECT lang, source,
    SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS toks
  FROM documents GROUP BY lang, source
),
tot AS (
  SELECT lang, source, toks,
    SUM(toks) OVER (PARTITION BY lang) AS lang_toks
  FROM st
),
sh AS (
  SELECT lang, source, toks, lang_toks,
    (toks * 1000000) // lang_toks AS share_ppm
  FROM tot
)
SELECT lang,
  COUNT(*) AS n_sources,
  CAST(SUM(toks) AS BIGINT) AS total_tokens,
  CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2,
  CAST(MAX(share_ppm) AS BIGINT) AS max_share_ppm
FROM sh GROUP BY lang
""",
)
def q095_source_mix_hhi(spark: SparkSession, sf_dir: str):
    """Source-mix concentration per language: Herfindahl–Hirschman index
    over token shares — the pretraining-mix health check that catches one
    crawl dominating a language (HHI → 1e12 ppm² means a single source).

    Shares are integer parts-per-million via BIGINT `DIV` (no doubles
    anywhere), so HHI = Σ share² is bit-exact on both engines and
    invariant to partitioning. The token explode never happens —
    `size(split())` is a codegen'd scalar — and the only shuffle carries
    O(langs × sources) aggregated rows; the per-lang total is a window
    over that tiny set, not the corpus. The same two-level shape holds at
    100 TB: corpus-size map-side partials, KB-size reduce."""
    d = load(spark, sf_dir, "documents")
    st = (
        d.select(
            "lang",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("t"),
        )
        .groupBy("lang", "source")
        .agg(F.sum("t").alias("toks"))
    )
    lw = Window.partitionBy("lang")
    sh = st.withColumn("lang_toks", F.sum("toks").over(lw)).withColumn(
        "share_ppm", F.expr("(toks * 1000000) DIV lang_toks")
    )
    return sh.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum(F.col("share_ppm") * F.col("share_ppm"))
        .cast("long")
        .alias("hhi_ppm2"),
        F.max("share_ppm").cast("long").alias("max_share_ppm"),
    )


# ---------------------------------------------------------------------------
# q101 — end-to-end curation funnel (exact dedup → set-signature near-dup
# → quality filter → per-source token budget), per-stage survivor audit
# ---------------------------------------------------------------------------

_FUNNEL_SALT = "funnel-v1"
_FUNNEL_BUDGET = 800
_FUNNEL_MIN_TOK = 10
_FUNNEL_MAX_TOK = 5000


@register(
    "q101_curation_funnel",
    tags=("dedup", "text", "mixing", "W1", "A4"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, text,
    string_split(lower(text), ' ') AS toks,
    len(string_split(lower(text), ' ')) AS n_tok,
    md5(text) AS exact_sig,
    md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS set_sig,
    md5('{_FUNNEL_SALT}:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
s1 AS (
  SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY exact_sig) AS keep1 FROM base
),
s2 AS (
  SELECT *, keep1 AND doc_id = MIN(CASE WHEN keep1 THEN doc_id END)
            OVER (PARTITION BY set_sig) AS keep2
  FROM s1
),
s3 AS (
  SELECT *, keep2 AND n_tok BETWEEN {_FUNNEL_MIN_TOK} AND {_FUNNEL_MAX_TOK}
         AND len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) > 0 AS keep3
  FROM s2
),
s4 AS (
  SELECT *, keep3 AND SUM(CASE WHEN keep3 THEN n_tok ELSE 0 END) OVER (
      PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) <= {_FUNNEL_BUDGET} AS keep4
  FROM s3
)
SELECT source,
  COUNT(*) AS docs,
  CAST(SUM(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS after_exact,
  CAST(SUM(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS after_setsig,
  CAST(SUM(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
  CAST(SUM(CASE WHEN keep4 THEN 1 ELSE 0 END) AS BIGINT) AS after_budget,
  CAST(SUM(CASE WHEN keep4 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
FROM s4 GROUP BY source
""",
)
def q101_curation_funnel(spark: SparkSession, sf_dir: str):
    """The whole curation pipeline as ONE declarative plan with a
    per-stage survivor audit — what a real 100 TB pretraining run reports
    after each pass:

      1. exact dedup        keep the min-doc_id replica per md5(text)
      2. set-signature dedup vocabulary-fingerprint near-dups (q68's
                            blocking) resolved against stage-1 survivors
      3. quality filter     token-count bounds + stopword presence
                            (q28/q67's rules)
      4. token budget       per-source salted-md5-order cumulative cut
                            (q46's RNG-free sampling)

    Composition matters: each stage's keep flag conditions the next
    (survivor-of counts are nested, not independent), yet everything is
    window flags over one stream — three hash exchanges total (exact_sig,
    set_sig, source), each on a uniform md5 key, and the text column
    never shuffles (only 32-byte signatures and integer token counts).
    Deterministic keepers (min doc_id, total salted order) make the whole
    funnel bit-identical to the DuckDB oracle."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    base = d.select(
        "doc_id",
        "source",
        toks.alias("toks"),
        F.size(toks).alias("n_tok"),
        F.md5(F.col("text")).alias("exact_sig"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(toks)), " ")
        ).alias("set_sig"),
        F.md5(
            F.concat(F.lit(f"{_FUNNEL_SALT}:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    w_exact = Window.partitionBy("exact_sig")
    w_set = Window.partitionBy("set_sig")
    w_budget = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stop = F.array(*[F.lit(x) for x in ("the", "a", "of", "and", "is")])
    s = (
        base.withColumn(
            "keep1", F.col("doc_id") == F.min("doc_id").over(w_exact)
        )
        .withColumn(
            "keep2",
            F.col("keep1")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("keep1"), F.col("doc_id"))).over(w_set)
            ),
        )
        .withColumn(
            "keep3",
            F.col("keep2")
            & F.col("n_tok").between(_FUNNEL_MIN_TOK, _FUNNEL_MAX_TOK)
            & F.arrays_overlap("toks", stop),
        )
        .withColumn(
            "keep4",
            F.col("keep3")
            & (
                F.sum(
                    F.when(F.col("keep3"), F.col("n_tok")).otherwise(0)
                ).over(w_budget)
                <= _FUNNEL_BUDGET
            ),
        )
    )
    flag = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        flag("keep1").alias("after_exact"),
        flag("keep2").alias("after_setsig"),
        flag("keep3").alias("after_quality"),
        flag("keep4").alias("after_budget"),
        F.sum(F.when(F.col("keep4"), F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# q122 — count-min sketch heavy hitters (deterministic, oracle-exact)
# ---------------------------------------------------------------------------


@register(
    "q122_cms_heavy_hitters",
    tags=("A1", "A2", "U1"),
    oracle="""
WITH tok AS (
  SELECT t AS token
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
  WHERE t <> ''
),
cnt AS (SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token),
buck AS (
  SELECT d.d, substr(md5(d.d || ':' || cnt.token), 1, 2) AS bucket,
    CAST(SUM(exact_cnt) AS BIGINT) AS counter
  FROM cnt, (SELECT unnest([1, 2, 3]) AS d) d
  GROUP BY 1, 2
),
top AS (SELECT token, exact_cnt FROM cnt ORDER BY exact_cnt DESC, token LIMIT 20)
SELECT t.token, t.exact_cnt,
  CAST(MIN(b.counter) AS BIGINT) AS cms_est,
  CAST(MIN(b.counter) - t.exact_cnt AS BIGINT) AS overcount
FROM top t
JOIN buck b ON b.bucket = substr(md5(b.d || ':' || t.token), 1, 2)
GROUP BY t.token, t.exact_cnt
""",
)
def q122_cms_heavy_hitters(spark: SparkSession, sf_dir: str):
    """Heavy-hitter tokens with their count-min sketch estimates
    (operators/sketch.py). The sketch is depth 3 × 256 hex-prefix
    buckets — a few KB of sum-decomposable state that merges map-side
    regardless of corpus size, vs O(vocabulary) for the exact counts it
    approximates; at 100 TB the exact pass is the expensive one and the
    sketch rides along free. md5 bucketing makes every counter (and so
    every estimate) bit-identical cross-engine — the oracle replays the
    sketch math in SQL, certifying CMS's one-sided error (overcount ≥ 0)
    on the exact top-20."""
    from ..operators.sketch import cms_counters, cms_estimate

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    counters = cms_counters(cnt, "token", weight_col="exact_cnt")
    top = cnt.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(20)
    est = cms_estimate(top, counters, "token")
    return est.select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# q127 — prefix-filtered set-similarity join (SSJoin/PPJoin family)
# ---------------------------------------------------------------------------


@register(
    "q127_prefix_filter_near_dup",
    tags=("dedup", "J8", "W1"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks)
),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
ranked AS (
  SELECT sh.doc_id, sh.shingle,
    ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY d.df, sh.shingle) AS pos,
    COUNT(*) OVER (PARTITION BY sh.doc_id) AS sz
  FROM sh JOIN dfreq d USING (shingle)
),
pref AS (SELECT * FROM ranked WHERE pos <= sz - (1 * sz + 2 - 1) // 2 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS inter_size
  FROM cand c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2, i.inter_size,
  sa.sz AS size1, sb.sz AS size2,
  CAST(ROUND(CAST(i.inter_size AS DOUBLE) / (sa.sz + sb.sz - i.inter_size), 4) AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id1
JOIN sizes sb ON sb.doc_id = i.id2
WHERE (1 + 2) * i.inter_size >= 1 * (sa.sz + sb.sz)
""",
)
def q127_prefix_filter_near_dup(spark: SparkSession, sf_dir: str):
    """Exact shingle-set Jaccard ≥ 0.5 via PREFIX FILTERING
    (operators/dedup.py::prefix_filter_jaccard_pairs) — the third point
    on the near-dup cost spectrum: q22 keeps the all-pairs join feasible
    by DROPPING common shingles (a df cap changes semantics at the
    margin), LSH (q23) keeps it feasible by sampling signatures
    (probabilistic recall); prefix filtering is EXACT with no cap — under
    a global rarest-first order a qualifying pair must collide inside
    each side's (sz − ceil(t·sz) + 1)-element prefix, so only the rarest
    prefix shingles enter the candidate join and the common-shingle
    fan-out never happens. All thresholds are integer arithmetic
    (ceil via DIV, J ≥ 1/2 ⇔ 3·inter ≥ sa+sb), so candidates and
    results are engine-identical and the oracle replays the same
    algebra; equivalence to the UNFILTERED join is asserted in
    tests/test_operators.py."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=3,
        threshold_num=1,
        threshold_den=2,
    )


# ---------------------------------------------------------------------------
# q137 — fixed-size eval holdout: exactly k docs per source by hash order
# ---------------------------------------------------------------------------


@register(
    "q137_eval_holdout_sample",
    tags=("mix", "sample"),
    oracle="""
WITH t AS (
  SELECT source, doc_id,
         md5('t:1:' || CAST(doc_id AS VARCHAR)) AS ticket
  FROM documents
), r AS (
  SELECT source, doc_id, ticket,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY ticket DESC, doc_id) AS rn
  FROM t
)
SELECT source, doc_id, CAST(1 AS INTEGER) AS n_tickets, ticket
FROM r WHERE rn <= 3
""",
)
def q137_eval_holdout_sample(spark: SparkSession, sf_dir: str):
    """Fixed-size eval holdout: EXACTLY 3 docs per source, selected by
    salted-hash order (`operators/mixing.ticket_sample_k`, weight=1).
    Unlike rate-based sampling (q45), the cut is exact-k per stratum and
    stable: the same docs are held out on every engine, partitioning,
    and backfill — the property an eval set must have, since a holdout
    that drifts when history is reprocessed contaminates training. One
    map-side hash + one per-stratum window; no RNG, no state."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    return ticket_sample_k(docs, "doc_id", k=3, strata=("source",))


# ---------------------------------------------------------------------------
# q138 — length-weighted corpus sample (integer-ticket A-ES reservoir)
# ---------------------------------------------------------------------------


@register(
    "q138_length_weighted_sample",
    tags=("mix", "sample"),
    oracle="""
WITH w AS (
  SELECT lang, doc_id, CAST(1 + least(7, n_chars // 256) AS INTEGER) AS n_tickets
  FROM documents
), t AS (
  SELECT lang, doc_id, n_tickets,
         MAX(md5('t:' || CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))) AS ticket
  FROM w, range(1, 9) r(i)
  WHERE r.i <= n_tickets
  GROUP BY lang, doc_id, n_tickets
), r AS (
  SELECT lang, doc_id, n_tickets, ticket,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY ticket DESC, doc_id) AS rn
  FROM t
)
SELECT lang, doc_id, n_tickets, ticket
FROM r WHERE rn <= 10
""",
)
def q138_length_weighted_sample(spark: SparkSession, sf_dir: str):
    """Length-weighted reservoir sample: 10 docs per language, inclusion
    probability proportional to a capped length tier (1 + min(7,
    n_chars/256) tickets — long docs carry more training signal but the
    cap stops a single megadoc from monopolizing the draw). Exact
    Efraimidis–Spirakis via integer tickets (`ticket_sample_k`): max of
    w salted md5s ≡ u^(1/w) in distribution, so the whole sampler is
    hex-string comparisons — deterministic across engines/partitionings
    (libm-free), which is why this approximate-looking operator still
    hash-matches its DuckDB oracle exactly. Ticket explosion is map-side
    and collapses to one row per doc in partial agg; the shuffle carries
    docs, not tickets."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        (F.lit(1) + F.least(F.lit(7), F.expr("n_chars DIV 256")))
        .cast("int")
        .alias("wt"),
    )
    return ticket_sample_k(
        docs, "doc_id", k=10, strata=("lang",), weight_col="wt"
    )


# ---------------------------------------------------------------------------
# q142 — PII detection/redaction audit
# ---------------------------------------------------------------------------

def _q142_oracle() -> str:
    """DuckDB replay of operators/pii.py over the same deterministically
    synthesized contact messages (the driver tables carry no natural free
    text with PII, so the query derives one message per customer from key
    arithmetic — identical construction on both engines)."""
    from ..operators.pii import PII_PATTERNS

    count_cols = ",\n    ".join(
        f"len(regexp_extract_all(msg, '{p}')) AS n_{k.lower()}"
        for k, p in PII_PATTERNS.items()
    )
    redacted = "msg"
    for k, p in PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{p}', '<{k}>', 'g')"
    any_expr = " + ".join(
        f"CASE WHEN n_{k.lower()} > 0 THEN 1 ELSE 0 END" for k in PII_PATTERNS
    )
    sum_cols = ",\n  ".join(
        f"CAST(SUM(n_{k.lower()}) AS BIGINT) AS n_{k.lower()}"
        for k in PII_PATTERNS
    )
    return f"""
WITH m AS (
  SELECT c_mktsegment,
    'reach ' || c_name || ' at +91-' ||
    lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') || '-' ||
    lpad(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0') || ' or ' ||
    lower(replace(c_name, '#', '')) || '@mail.example.com; last login 10.' ||
    CAST(c_custkey % 250 AS VARCHAR) || '.' ||
    CAST(c_nationkey AS VARCHAR) || '.' ||
    CAST(c_custkey % 97 AS VARCHAR) ||
    CASE WHEN c_custkey % 3 = 0
         THEN ' acct ' || lpad(CAST(c_custkey * 7919 AS VARCHAR), 12, '0')
         ELSE '' END AS msg
  FROM customer
), c AS (
  SELECT c_mktsegment,
    {count_cols},
    len(msg) - len({redacted}) AS delta
  FROM m
)
SELECT c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  {sum_cols},
  CAST(SUM(CASE WHEN ({any_expr}) > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_rows_with_pii,
  CAST(SUM(delta) AS BIGINT) AS chars_delta
FROM c
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("q142_pii_redaction_audit", tags=("pii", "A1", "A4"), oracle=_q142_oracle())
def q142_pii_redaction_audit(spark: SparkSession, sf_dir: str):
    """Corpus PII audit (operators/pii.py): detect + redact emails,
    phones, IPv4s, and long id-number runs, reporting per-segment match
    totals and the signed character delta of redaction.

    The driver's synthetic tables carry no natural PII-bearing free
    text, so the query first synthesizes one contact message per
    customer from pure key arithmetic — the identical construction runs
    in the DuckDB oracle, making the detection/redaction math (not the
    fixture) the thing under differential test. Every pattern uses only
    Java-regex/RE2-shared, linear-time-safe features (no lookaround or
    backreferences), which is also the 100 TB posture: regex matching
    over a crawled corpus must not backtrack super-linearly on
    adversarial text. One scan, integer-only aggregates, one map-side-
    combined shuffle on the 5-row segment key."""
    from ..operators.pii import pii_audit

    cust = load(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    msg = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at +91-"),
        F.lpad((key % 100000).cast("string"), 5, "0"),
        F.lit("-"),
        F.lpad((key % 10000000).cast("string"), 7, "0"),
        F.lit(" or "),
        F.lower(F.regexp_replace(F.col("c_name"), "#", "")),
        F.lit("@mail.example.com; last login 10."),
        (key % 250).cast("string"),
        F.lit("."),
        F.col("c_nationkey").cast("string"),
        F.lit("."),
        (key % 97).cast("string"),
        F.when(
            key % 3 == 0,
            F.concat(
                F.lit(" acct "), F.lpad((key * 7919).cast("string"), 12, "0")
            ),
        ).otherwise(F.lit("")),
    )
    msgs = cust.select(F.col("c_mktsegment"), msg.alias("msg"))
    return pii_audit(msgs, "msg", ["c_mktsegment"]).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# q143 — char-trigram corpus-model rarity (quality-filter scorer)
# ---------------------------------------------------------------------------


@register(
    "q143_char_trigram_rarity",
    tags=("quality", "lm", "A1", "J1"),
    oracle="""
WITH t AS (
  SELECT doc_id, text FROM documents WHERE len(text) >= 3
), tok AS (
  SELECT doc_id, substr(text, i, 3) AS tri
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, len(text) - 2)) AS i
        FROM t)
), tri_model AS (
  SELECT tri, COUNT(*) AS c3 FROM tok GROUP BY tri
), pre_model AS (
  SELECT substr(tri, 1, 2) AS pre, COUNT(*) AS c2
  FROM tok GROUP BY substr(tri, 1, 2)
), j AS (
  SELECT tok.doc_id, tm.c3, pm.c2
  FROM tok
  JOIN tri_model tm USING (tri)
  JOIN pre_model pm ON substr(tok.tri, 1, 2) = pm.pre
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(c2) AS BIGINT) AS sum_prefix,
  CAST(SUM(c3) AS BIGINT) AS sum_gram,
  CAST(SUM(c2) AS DOUBLE) / CAST(SUM(c3) AS DOUBLE) AS rarity
FROM j
GROUP BY doc_id
""",
)
def q143_char_trigram_rarity(spark: SparkSession, sf_dir: str):
    """CCNet-style quality scoring: every document scored against the
    corpus's own char-trigram model (operators/lm.py). The reported
    ``rarity`` is the integer-exact branching proxy — ratio of two
    integer sums, one IEEE division per doc — chosen over -log-mean
    perplexity so the score is bit-identical across engines and
    partitionings (libm-free). Model cardinality is bounded by
    charset^3 regardless of corpus size, so both model sides broadcast
    and the only document-keyed shuffle is the final map-side-combined
    per-doc sum."""
    from ..operators.lm import char_ngram_rarity

    return char_ngram_rarity(
        load(spark, sf_dir, "documents"), "text", "doc_id", n=3
    )


# ---------------------------------------------------------------------------
# q144 — context-window packing (sequence packing for training batches)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@register(
    "q144_context_window_packing",
    tags=("pack", "mix", "A1", "W1"),
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         SUM(toks) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM d
)
SELECT CAST((cum - toks) // {_PACK_BUDGET} AS BIGINT) AS bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(toks) AS BIGINT) AS bin_tokens,
  MIN(doc_id) AS first_doc,
  MAX(doc_id) AS last_doc
FROM c
GROUP BY 1
""",
)
def q144_context_window_packing(spark: SparkSession, sf_dir: str):
    """Sequence packing: concatenate the corpus in doc_id order and cut
    it into {budget}-token context windows — each document is attributed
    to the bin where it STARTS (``floor(prefix_tokens / budget)``), the
    exact bookkeeping of concat-and-chunk training pipelines. The prefix
    sum comes from `operators.ranking.with_running_sum` (range-
    partitioned scan + broadcast offsets, single materialized range
    exchange — no single-partition sort), so the packing plan holds at
    billions of documents; everything else is integer arithmetic and one
    map-side-combined groupBy on the bin id."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
    )
    from ..operators.ranking import with_running_sum

    c = with_running_sum(docs, [F.asc("doc_id")], "toks", cum="cum", total="__tot")
    return (
        c.select(
            F.expr(f"(cum - toks) DIV {_PACK_BUDGET}").alias("bin_id"),
            "doc_id",
            "toks",
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


q144_context_window_packing.__doc__ = q144_context_window_packing.__doc__.format(
    budget=_PACK_BUDGET
)


# ---------------------------------------------------------------------------
# q146 — sliding-window document chunking
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 48
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "q146_document_chunking",
    tags=("pack", "J7", "P1"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(FLOOR((len(toks) - 1) / {_CHUNK_STRIDE}) AS INTEGER))) AS chunk_id
  FROM t
)
SELECT doc_id,
  CAST(chunk_id AS INTEGER) AS chunk_id,
  CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS INTEGER) AS start_tok,
  CAST(least({_CHUNK_TOKENS}, len(toks) - chunk_id * {_CHUNK_STRIDE}) AS INTEGER)
    AS chunk_len,
  array_to_string(
    toks[chunk_id * {_CHUNK_STRIDE} + 1 : chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}],
    ' ') AS chunk_text
FROM c
""",
)
def q146_document_chunking(spark: SparkSession, sf_dir: str):
    """RAG/long-context preparation: every document cut into
    48-token sliding windows with 16-token overlap
    (`operators.text.chunk_documents`). The whole operator is
    sequence/slice/array_join codegen with zero shuffles — the token
    array is built once per row and each chunk is a slice — so chunk
    rows stream map-side into the next stage (embedding, dedup) at any
    corpus size; `fan_out` first widens the byte-small scan because
    chunking multiplies work per row."""
    return chunk_documents(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        chunk_tokens=_CHUNK_TOKENS,
        overlap=_CHUNK_OVERLAP,
    )


# ---------------------------------------------------------------------------
# q147/q148 — product quantization: codebook training + compressed ANN
# ---------------------------------------------------------------------------

_PQ_M = 4
_PQ_KSUB = 8
_PQ_ITER = 2
_PQ_DIM = 64
_PQ_TOPK = 10


def _pq_ctes(
    m: int,
    ksub: int,
    n_iter: int,
    dim: int,
    src: str = "embeddings",
    vec: str = "embedding",
    pfx: str = "",
) -> str:
    """DuckDB CTE chain replaying operators.similarity.pq_kmeans exactly:
    the kmeans_cells determinism contract per SUBSPACE — cent0[s] =
    subvectors of the ksub smallest ids, argmin ties to the lower code,
    sorted-fold mean updates, fixed rounds — with codes that observe no
    member carrying their previous centroid forward (positional code
    stability, which the Spark side also guarantees).

    ``src``/``vec`` point the chain at any (vec_id, vector) relation
    (e.g. the residual CTE of an IVF-PQ composition) and ``pfx``
    namespaces every CTE so two chains can coexist in one query."""
    dsub = dim // m
    parts = [
        f"""{pfx}subs AS (
  SELECT e.vec_id, s.s,
    list_transform(e.{vec}[s.s * {dsub} + 1 : (s.s + 1) * {dsub}],
                   x -> CAST(x AS DOUBLE)) AS sv
  FROM {src} e
  CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS s) s
)""",
        f"""{pfx}cent0 AS (
  SELECT s.s,
    ROW_NUMBER() OVER (PARTITION BY s.s ORDER BY e.vec_id) - 1 AS code,
    list_transform(e.{vec}[s.s * {dsub} + 1 : (s.s + 1) * {dsub}],
                   x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, {vec} FROM {src} ORDER BY vec_id LIMIT {ksub}) e
  CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS s) s
)""",
    ]
    for it in range(1, n_iter + 2):
        parts.append(
            f"""{pfx}d{it} AS (
  SELECT t.vec_id, t.s, c.code,
    list_sum(list_transform(generate_series(1, {dsub}),
      i -> (t.sv[i] - c.cvec[i]) * (t.sv[i] - c.cvec[i]))) AS dist
  FROM {pfx}subs t JOIN {pfx}cent{it - 1} c ON c.s = t.s
)"""
        )
        parts.append(
            f"""{pfx}a{it} AS (
  SELECT vec_id, s, code, dist FROM (
    SELECT vec_id, s, code, dist,
      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
    FROM {pfx}d{it}) WHERE rn = 1
)"""
        )
        if it <= n_iter:
            parts.append(
                f"""{pfx}x{it} AS (
  SELECT a.s, a.code, i.i AS i,
    list_sum(list(t.sv[i.i] ORDER BY t.vec_id)) AS sv,
    COUNT(*) AS n
  FROM {pfx}a{it} a JOIN {pfx}subs t ON t.vec_id = a.vec_id AND t.s = a.s
  CROSS JOIN (SELECT unnest(generate_series(1, {dsub})) AS i) i
  GROUP BY a.s, a.code, i.i
)"""
            )
            parts.append(
                f"""{pfx}cent{it} AS (
  SELECT s, code, list(sv / n ORDER BY i) AS cvec
  FROM {pfx}x{it} GROUP BY s, code
  UNION ALL
  SELECT p.s, p.code, p.cvec FROM {pfx}cent{it - 1} p
  WHERE NOT EXISTS (SELECT 1 FROM {pfx}x{it} x
                    WHERE x.s = p.s AND x.code = p.code)
)"""
            )
    return ",\n".join(parts)


@register(
    "q147_pq_codes",
    tags=("similarity", "A1", "J2"),
    oracle=f"""
WITH {_pq_ctes(_PQ_M, _PQ_KSUB, _PQ_ITER, _PQ_DIM)}
SELECT vec_id, CAST(s AS INTEGER) AS s, CAST(code AS INTEGER) AS code,
  CAST(ROUND(dist, 4) AS DOUBLE) AS sq_err
FROM a{_PQ_ITER + 1}
""",
)
def q147_pq_codes(spark: SparkSession, sf_dir: str):
    """Product-quantizer encoding: every embedding compressed to m=4
    codes (one per 16-dim subspace, 8-centroid codebooks → 12 bits per
    64-float vector). All m subspace k-means run as ONE dataflow — the
    exploded (id, s, subvector) stream carries every subspace, each
    round is a zero-shuffle argmin projection plus one groupBy(s, code)
    shuffle — so training a product quantizer costs the same job
    structure as ONE k-means (q41), not m of them. Deterministic end to
    end (fixed init/fold orders, ties to the lower code), hence this
    oracle replays it bit-exactly in SQL; sq_err is the per-subspace
    quantization error the recall tests budget against."""
    from ..operators.similarity import pq_kmeans

    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = pq_kmeans(
        emb, "vec_id", "embedding", m=_PQ_M, ksub=_PQ_KSUB, n_iter=_PQ_ITER
    )
    return assigned.select(
        F.col("id").alias("vec_id"),
        F.col("s").cast("int").alias("s"),
        F.col("code").cast("int").alias("code"),
        F.round("sq_err", 4).cast("double").alias("sq_err"),
    )


@register(
    "q148_ann_pq_topk",
    tags=("similarity", "J1", "W1", "O3"),
    oracle=f"""
WITH {_pq_ctes(_PQ_M, _PQ_KSUB, _PQ_ITER, _PQ_DIM)},
dtab AS (
  SELECT q.vec_id AS query_id, c.s, c.code,
    list_sum(list_transform(generate_series(1, {_PQ_DIM // _PQ_M}),
      i -> (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i]))) AS d
  FROM (SELECT vec_id, s, sv FROM subs WHERE vec_id < 5) q
  JOIN cent{_PQ_ITER} c ON c.s = q.s
),
scored AS (
  SELECT t.query_id, a.vec_id AS cand_id,
    CAST(ROUND(list_sum(list(t.d ORDER BY t.s)), 4) AS DOUBLE) AS adc_sq_dist
  FROM a{_PQ_ITER + 1} a
  JOIN dtab t ON t.s = a.s AND t.code = a.code
  WHERE a.vec_id <> t.query_id
  GROUP BY t.query_id, a.vec_id
)
SELECT query_id, cand_id, adc_sq_dist, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT query_id, cand_id, adc_sq_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_sq_dist, cand_id) AS rnk
  FROM scored
)
WHERE rnk <= {_PQ_TOPK}
""",
)
def q148_ann_pq_topk(spark: SparkSession, sf_dir: str):
    """Compressed-domain ANN: asymmetric distance computation over the
    PQ codes (q147). Each query builds an m×ksub lookup table with the
    SAME fold expressions as training, the tables broadcast as a
    literal, and every candidate is scored by a map-side fold over its
    m codes — the scan reads n·m small codes instead of n·dim floats
    (the 100 TB memory-bandwidth answer; compose with IVF cells for
    pruning too). Where IVF prunes WHICH candidates are scored, PQ
    shrinks WHAT is scored. Deterministic like IVF (and unlike LSH), so
    the whole approximate pipeline is oracle-checked bit-exactly."""
    from ..operators.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    return pq_topk(
        emb,
        "vec_id",
        "embedding",
        query_ids=[0, 1, 2, 3, 4],
        k=_PQ_TOPK,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        n_iter=_PQ_ITER,
    )


# ---------------------------------------------------------------------------
# q149 — IVF-PQ: coarse pruning + residual compressed scoring (IVFADC)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2


@register(
    "q149_ann_ivfpq_topk",
    tags=("similarity", "J1", "W1", "O3"),
    oracle=f"""
WITH {_kmeans_ctes(_IVF_K, _IVF_ITER, _PQ_DIM)},
res AS (
  SELECT a.vec_id,
    list_transform(generate_series(1, {_PQ_DIM}),
      i -> CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) AS v,
    a.cell
  FROM a{_IVF_ITER + 1} a
  JOIN embeddings e USING (vec_id)
  JOIN cent{_IVF_ITER} c ON c.cell = a.cell
),
{_pq_ctes(_PQ_M, _PQ_KSUB, _PQ_ITER, _PQ_DIM, src="res", vec="v", pfx="pq_")},
pd AS (
  SELECT q.query_id, c.cell,
    list_sum(list_transform(generate_series(1, {_PQ_DIM}),
      i -> (q.qv[i] - c.cvec[i]) * (q.qv[i] - c.cvec[i]))) AS dist
  FROM (SELECT vec_id AS query_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 5) q
  CROSS JOIN cent{_IVF_ITER} c
),
probe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM pd) WHERE rn <= {_IVFPQ_NPROBE}
),
qres AS (
  SELECT p.query_id, p.cell,
    list_transform(generate_series(1, {_PQ_DIM}),
      i -> CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) AS qr
  FROM probe p
  JOIN embeddings e ON e.vec_id = p.query_id
  JOIN cent{_IVF_ITER} c ON c.cell = p.cell
),
dtab AS (
  SELECT q.query_id, q.cell, pc.s, pc.code,
    list_sum(list_transform(generate_series(1, {_PQ_DIM // _PQ_M}),
      i -> (q.qr[pc.s * {_PQ_DIM // _PQ_M} + i] - pc.cvec[i])
         * (q.qr[pc.s * {_PQ_DIM // _PQ_M} + i] - pc.cvec[i]))) AS d
  FROM qres q
  CROSS JOIN pq_cent{_PQ_ITER} pc
),
scored AS (
  SELECT t.query_id, r.vec_id AS cand_id,
    CAST(ROUND(list_sum(list(t.d ORDER BY t.s)), 4) AS DOUBLE) AS adc_sq_dist
  FROM pq_a{_PQ_ITER + 1} pa
  JOIN res r ON r.vec_id = pa.vec_id
  JOIN dtab t ON t.cell = r.cell AND t.s = pa.s AND t.code = pa.code
  WHERE r.vec_id <> t.query_id
  GROUP BY t.query_id, r.vec_id
)
SELECT query_id, cand_id, adc_sq_dist, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT query_id, cand_id, adc_sq_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_sq_dist, cand_id) AS rnk
  FROM scored
)
WHERE rnk <= {_PQ_TOPK}
""",
)
def q149_ann_ivfpq_topk(spark: SparkSession, sf_dir: str):
    """IVFADC — the production ANN layout (FAISS IVF-PQ): the coarse
    quantizer prunes WHICH candidates are scored (nprobe=2 of 8 cells),
    PQ codes trained on the RESIDUAL v − coarse_centroid shrink WHAT is
    scored to m=4 one-byte codes per candidate (residuals concentrate
    around 0, so the code budget quantizes far finer than on raw
    vectors). Per-query scan cost: (nprobe/n_cells)·n candidates × m
    lookups against per-(query, cell) residual ADC tables. The whole
    composite — coarse k-means → residuals → product k-means → probe →
    ADC — is deterministic, so even this two-level approximate index is
    oracle-replayed bit-exactly (the two CTE chains compose, the PQ one
    namespaced and re-pointed at the residual relation)."""
    from ..operators.similarity import ivf_pq_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb,
        "vec_id",
        "embedding",
        query_ids=[0, 1, 2, 3, 4],
        k=_PQ_TOPK,
        n_cells=_IVF_K,
        n_iter=_IVF_ITER,
        nprobe=_IVFPQ_NPROBE,
        m=_PQ_M,
        ksub=_PQ_KSUB,
    )


# ---------------------------------------------------------------------------
# q150 — distributed BPE tokenizer training (merge-rule learning)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 8


def _bpe_ctes(rounds: int) -> str:
    """DuckDB CTE chain replaying operators.bpe.bpe_learn: the word-
    frequency table, then per round a weighted adjacent-pair argmax
    (ties (left, right) lexicographic) and a list_reduce merge fold —
    the same strict left-to-right fold as the Spark F.aggregate (first
    element seeds both)."""
    parts = [
        """w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS w,
    array_to_string(list_transform(generate_series(1, length(word)),
                                   i -> substr(word, i, 1)), ' ') AS sym
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS (
  SELECT s[i] AS lft, s[i + 1] AS rgt, SUM(w) AS c FROM (
    SELECT s, w, unnest(generate_series(1, len(s) - 1)) AS i
    FROM (SELECT string_split(sym, ' ') AS s, w FROM w{r - 1})
  ) GROUP BY s[i], s[i + 1]
)"""
        )
        parts.append(
            f"""m{r} AS (
  SELECT lft, rgt, lft || rgt AS merged, c
  FROM p{r} ORDER BY c DESC, lft, rgt LIMIT 1
)"""
        )
        parts.append(
            # LEFT JOIN ON TRUE (not a cross join): when a corpus
            # exhausts its merges before the configured rounds, m{r} is
            # EMPTY and a cross join would erase the vocabulary for this
            # and every later round — Spark's bpe_learn breaks out of the
            # loop and keeps the words table, so the oracle must pass it
            # through unchanged instead
            f"""w{r} AS (
  SELECT word, w,
    CASE WHEN m.lft IS NULL THEN t.sym ELSE
      list_reduce(string_split(t.sym, ' '), (acc, x) ->
        CASE WHEN x = m.rgt AND (acc = m.lft OR ends_with(acc, ' ' || m.lft))
             THEN substr(acc, 1, length(acc) - length(m.lft)) || m.merged
             ELSE acc || ' ' || x END)
    END AS sym
  FROM w{r - 1} t LEFT JOIN m{r} m ON TRUE
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS rnd, lft, rgt, merged, c FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return ",\n".join(parts) + f", merges AS (\n{sel}\n)"


@register(
    "q150_bpe_merge_rules",
    tags=("text", "tokenizer", "A1", "O3"),
    oracle=f"""
WITH {_bpe_ctes(_BPE_ROUNDS)}
SELECT CAST(rnd AS INTEGER) AS rnd, lft AS left_sym, rgt AS right_sym,
  merged, CAST(c AS BIGINT) AS pair_weight
FROM merges
""",
)
def q150_bpe_merge_rules(spark: SparkSession, sf_dir: str):
    """Distributed BPE tokenizer training (operators/bpe.py): learn 8
    merge rules from the corpus the way real trainers do — collapse the
    corpus to the word-frequency table FIRST (the only corpus-sized
    shuffle, map-side combined; 100 TB of text becomes O(vocab)
    weighted rows), then each round is a tiny weighted pair-count
    aggregate plus a one-row argmax collect, with the merge applied as
    a strict left-to-right symbol fold. Integer weights and
    lexicographic tie-breaks end to end, so the whole iterative
    learning process — argmax per round included — is replayed
    bit-exactly by the unrolled SQL chain (list_reduce ≡ F.aggregate:
    both fold in element order from the first-element seed)."""
    from ..operators.bpe import bpe_learn

    docs = load(spark, sf_dir, "documents")
    merges, _ = bpe_learn(docs, "text", rounds=_BPE_ROUNDS)
    return spark.createDataFrame(
        [
            (m["rnd"], m["left"], m["right"], m["merged"], m["pair_weight"])
            for m in merges
        ],
        "rnd int, left_sym string, right_sym string, merged string,"
        " pair_weight bigint",
    )


@register(
    "q151_bpe_tokenized_vocab",
    tags=("text", "tokenizer", "A1"),
    oracle=f"""
WITH {_bpe_ctes(_BPE_ROUNDS)}
SELECT word, w AS word_count, sym AS segmentation,
  CAST(len(string_split(sym, ' ')) AS INTEGER) AS n_tokens
FROM w{_BPE_ROUNDS}
""",
)
def q151_bpe_tokenized_vocab(spark: SparkSession, sf_dir: str):
    """The tokenizer the learned rules (q150) induce: every corpus word
    with its BPE segmentation and token count after all 8 merges — the
    vocabulary file a trainer would ship. Tokenizing is applying the
    frozen merge sequence in learning order, exactly what downstream
    encode stages do to new text; per-word token counts here are the
    fertility statistics (tokens/word) tokenizer evaluation reports.
    Same scale shape as q150: one corpus-sized word-count shuffle, then
    O(vocab) work."""
    from ..operators.bpe import bpe_learn

    docs = load(spark, sf_dir, "documents")
    _, words = bpe_learn(docs, "text", rounds=_BPE_ROUNDS)
    return words.select(
        "word",
        F.col("w").alias("word_count"),
        F.col("sym").alias("segmentation"),
        F.size(F.split("sym", " ")).cast("int").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# q152 — normalization-aware exact dedup
# ---------------------------------------------------------------------------


@register(
    "q152_normalized_dedup",
    tags=("dedup", "text", "A1", "A3"),
    oracle="""
WITH n AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(lower(text),
      '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT md5(norm) AS norm_hash,
  MIN(doc_id) AS keeper_doc_id,
  CAST(COUNT(*) AS BIGINT) AS dup_count,
  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw_forms
FROM n
GROUP BY md5(norm)
""",
)
def q152_normalized_dedup(spark: SparkSession, sf_dir: str):
    """Exact dedup over the NORMALIZED text form
    (`operators.text.normalize_text`: lowercase, control-strip,
    whitespace-collapse, trim) — the production dedup key: raw-byte
    hashing lets trivial case/whitespace variants through, inflating
    both the corpus and every near-dup stage downstream. `n_raw_forms`
    counts how many distinct raw texts each canonical form absorbed
    (the normalization win). Same scale shape as q021: one shuffle on
    the 32-byte hash, text never shuffles — the distinct-count runs on
    the hash key's group, map-side partials first."""
    from ..operators.text import normalize_text

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", normalize_text("text").alias("norm")
    )
    return d.groupBy(F.md5("norm").alias("norm_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.countDistinct("text").alias("n_raw_forms"),
    )


# ---------------------------------------------------------------------------
# q153 — semantic deduplication (SemDeDup: cluster-then-compare)
# ---------------------------------------------------------------------------

_SEMDEDUP_T = 0.35


@register(
    "q153_semantic_dedup",
    tags=("dedup", "similarity", "J8", "W1"),
    oracle=f"""
WITH {_kmeans_ctes(_IVF_K, _IVF_ITER, _PQ_DIM)},
pr AS (
  SELECT x.cell, x.vec_id AS id1, y.vec_id AS id2
  FROM a{_IVF_ITER + 1} x
  JOIN a{_IVF_ITER + 1} y ON x.cell = y.cell AND x.vec_id < y.vec_id
),
sc AS (
  SELECT pr.cell, pr.id1, pr.id2,
    CAST(ROUND(
      list_sum(list_transform(generate_series(1, {_PQ_DIM}),
        i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, {_PQ_DIM}),
           i -> CAST(e1.embedding[i] AS DOUBLE) * CAST(e1.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(generate_series(1, {_PQ_DIM}),
           i -> CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))))
    , 4) AS DOUBLE) AS cosine
  FROM pr
  JOIN embeddings e1 ON e1.vec_id = pr.id1
  JOIN embeddings e2 ON e2.vec_id = pr.id2
)
SELECT id2 AS dropped_id, id1 AS keeper_id, cosine, CAST(cell AS INTEGER) AS cell
FROM (
  SELECT cell, id1, id2, cosine,
    ROW_NUMBER() OVER (PARTITION BY id2 ORDER BY id1) AS rn
  FROM sc WHERE cosine >= {_SEMDEDUP_T}
) WHERE rn = 1
""",
)
def q153_semantic_dedup(spark: SparkSession, sf_dir: str):
    """SemDeDup (Abbas et al. 2023) Spark-first: k-means cells bucket
    the embedding space, pairwise cosine runs ONLY within cells, and the
    higher id of every ≥0.35 pair drops to its smallest qualifying
    keeper. Candidate generation falls from O(n²) to Σ|cell|² — the
    embedding-space analogue of the LSH-banded text dedup family, for
    semantic duplicates that share no n-grams. Fully deterministic
    (k-means contract + fold cosines + rounded threshold + min-keeper),
    hence oracle-replayed bit-exactly, unlike the paper's GPU
    pipeline."""
    from ..operators.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        threshold=_SEMDEDUP_T,
        n_cells=_IVF_K,
        n_iter=_IVF_ITER,
    )


# ---------------------------------------------------------------------------
# q154 — DSIR-style importance resampling toward a target distribution
# ---------------------------------------------------------------------------

_DSIR_K = 40
_DSIR_TGT_WORD = "spark"


@register(
    "q154_importance_resample",
    tags=("mix", "sample", "lm", "A1"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, substr(text, i, 3) AS tri
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, len(text) - 2)) AS i
        FROM documents WHERE len(text) >= 3)
), all_model AS (
  SELECT tri, COUNT(*) AS ca FROM tok GROUP BY tri
), tgt_model AS (
  SELECT t.tri, COUNT(*) AS ct
  FROM tok t JOIN documents d USING (doc_id)
  WHERE d.text LIKE '%{_DSIR_TGT_WORD}%'
  GROUP BY t.tri
), mass AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_all,
         CAST((SELECT SUM(ct) FROM tgt_model) AS BIGINT) AS n_tgt
  FROM all_model
), per_doc AS (
  SELECT tok.doc_id,
    CAST(SUM(am.ca) AS BIGINT) AS sum_all,
    CAST(SUM(COALESCE(tm.ct, 0)) AS BIGINT) AS sum_tgt
  FROM tok
  JOIN all_model am USING (tri)
  LEFT JOIN tgt_model tm ON tm.tri = tok.tri
  GROUP BY tok.doc_id
), tiers AS (
  SELECT p.doc_id,
    CAST(1 + least(7, greatest(0,
           (8 * p.sum_tgt * m.n_all) // (p.sum_all * m.n_tgt) - 4))
         AS INTEGER) AS tier
  FROM per_doc p CROSS JOIN mass m
), t AS (
  SELECT doc_id, tier,
    MAX(md5('t:' || CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)))
      AS ticket
  FROM tiers, range(1, 9) r(i)
  WHERE r.i <= tier
  GROUP BY doc_id, tier
), pick AS (
  SELECT doc_id, tier, tier AS n_tickets, ticket,
    ROW_NUMBER() OVER (ORDER BY ticket DESC, doc_id) AS rn
  FROM t
)
SELECT p.doc_id,
  CASE WHEN d.text LIKE '%{_DSIR_TGT_WORD}%' THEN 1 ELSE 0 END AS in_target,
  p.tier, p.n_tickets, p.ticket
FROM pick p JOIN documents d USING (doc_id)
WHERE p.rn <= {_DSIR_K}
""",
)
def q154_importance_resample(spark: SparkSession, sf_dir: str):
    """DSIR-shaped importance resampling (Xie et al. 2023): weight every
    document by how characteristic its char-trigrams are of a TARGET
    distribution (here the docs mentioning '{tgt}') relative to the whole
    corpus, then draw an exact-k weighted sample. The importance ratio
    is the integer-exact form Σc_target/Σc_all normalized by the target
    mass fraction, quantized to a 1..8 ticket tier — no logs, no
    floats — and the draw is the engine's integer-ticket A-ES sampler
    (q138's machinery), so the whole resampling pipeline is
    deterministic and oracle-replayed exactly. Scale shape: trigram
    models are charset³-bounded broadcasts; the ticket explosion is
    map-side; one doc-keyed shuffle plus a survivors-only top-k.

    Honesty note: the driver's synthetic corpus draws every document
    from ONE shared vocabulary, so any target subset has a near-
    identical trigram distribution and tiers stay near-neutral (the
    sample is correctly near-uniform here). The differential gate
    certifies the machinery; tests/test_pii_lm_pack.py demonstrates the
    actual skew on a corpus whose target HAS a distinct distribution."""
    from ..operators.mixing import ticket_sample_k

    from ..operators.scale import fan_out

    docs = load(spark, sf_dir, "documents")
    t = fan_out(
        docs.select("doc_id", F.col("text").alias("__t")).where(
            F.length("__t") >= 3
        )
    )
    # hierarchical rollup (same shape as operators/lm.py): per-doc
    # trigram counts come from the Arrow twin (the interpreted substring
    # transform was the stage's dominant CPU), aggregate ONCE and are
    # materialized so the three consumers below share one pass
    from ..operators.text import char_ngram_count_rows

    doc_grams = (
        char_ngram_count_rows(t, "doc_id", "__t", 3)
        .select("doc_id", F.col("__g").alias("tri"), F.col("__cnt").alias("cnt"))
        .groupBy("doc_id", "tri")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    all_model = doc_grams.groupBy("tri").agg(F.sum("cnt").alias("ca"))
    tgt_ids = docs.filter(
        F.col("text").like(f"%{_DSIR_TGT_WORD}%")
    ).select("doc_id")
    tgt_model = (
        doc_grams.join(tgt_ids, "doc_id")
        .groupBy("tri")
        .agg(F.sum("cnt").alias("ct"))
    )
    per_doc = (
        doc_grams.join(F.broadcast(all_model), "tri")
        .join(F.broadcast(tgt_model), "tri", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("ca")).alias("sum_all"),
            F.sum(F.col("cnt") * F.coalesce("ct", F.lit(0))).alias("sum_tgt"),
        )
    )
    mass = all_model.agg(F.sum("ca").alias("n_all")).crossJoin(
        tgt_model.agg(F.sum("ct").alias("n_tgt"))
    )
    tiers = per_doc.crossJoin(F.broadcast(mass)).select(
        "doc_id",
        (
            F.lit(1)
            + F.least(
                F.lit(7),
                F.greatest(
                    F.lit(0),
                    F.expr(
                        "(8 * sum_tgt * n_all) DIV (sum_all * n_tgt) - 4"
                    ),
                ),
            )
        )
        .cast("int")
        .alias("tier"),
    )
    picked = ticket_sample_k(
        tiers, "doc_id", k=_DSIR_K, strata=(), weight_col="tier"
    )
    flag = docs.select(
        "doc_id",
        F.col("text").like(f"%{_DSIR_TGT_WORD}%").cast("int").alias("in_target"),
    )
    # the sampler already carries the tier (it IS n_tickets) — re-joining
    # `tiers` would re-derive the whole model pipeline a second time
    return picked.withColumn(
        "tier", F.col("n_tickets").cast("int")
    ).join(flag, "doc_id").select(
        "doc_id", "in_target", "tier", "n_tickets", "ticket"
    )


q154_importance_resample.__doc__ = q154_importance_resample.__doc__.format(
    tgt=_DSIR_TGT_WORD
)


# ---------------------------------------------------------------------------
# q155 — BM25 lexical retrieval (integer-exact scoring)
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    (1, "merge join order"),
    (2, "customer filter row"),
    (3, "spark query scan"),
    (4, "window hash batch"),
]
_BM25_K = 10
_RRF_DEPTH = 20


def _bm25_ctes() -> str:
    """DuckDB CTE chain replaying operators.retrieval.bm25_scores: the
    token stream, corpus scalars (N docs / L tokens), per-doc lengths,
    the literal query-term table, tf/df over query terms only, then the
    integer BM25 score — ((2N-2df+1)*1000 // (2df+1)) * 22*tf*L //
    (10*tf*L + 3*L + 9*dl*N), floored per term and summed.  Ends at
    ``bm25 (query_id, doc_id, score_x1000)``."""
    values = ", ".join(
        f"({qid}, '{t}')"
        for qid, qtext in _BM25_QUERIES
        for t in sorted(set(qtext.split()))
    )
    return f"""toks AS (
  SELECT doc_id, t AS token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
  WHERE t <> ''
), stats AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS l FROM toks
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), qt AS (
  SELECT * FROM (VALUES {values}) AS v(query_id, token)
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks JOIN (SELECT DISTINCT token FROM qt) USING (token)
  GROUP BY doc_id, token
), dfx AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY token
), bm25 AS (
  SELECT qt.query_id, tf.doc_id,
    CAST(SUM(
      ((((2*s.n - 2*dfx.df + 1) * 1000) // (2*dfx.df + 1))
        * (22 * tf.tf * s.l))
      // (10 * tf.tf * s.l + 3 * s.l + 9 * dl.dl * s.n)
    ) AS BIGINT) AS score_x1000
  FROM tf JOIN dfx USING (token) JOIN qt USING (token)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY qt.query_id, tf.doc_id
)"""


@register(
    "q155_bm25_topk",
    tags=("retrieval", "text", "A1", "O3", "J1"),
    oracle=f"""
WITH {_bm25_ctes()}
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, score_x1000,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_x1000 DESC, doc_id) AS rnk
  FROM bm25)
WHERE rnk <= {_BM25_K}
""",
)
def q155_bm25_topk(spark: SparkSession, sf_dir: str):
    """BM25 top-{k} retrieval for a fixed query batch
    (operators/retrieval.py): the workhorse of targeted
    decontamination and seed-query data selection.  The whole score is
    integer arithmetic — k1=6/5 and b=3/4 cleared of denominators, a
    log-free rational Robertson idf — so ranking is bit-identical
    across engines and partitionings.  Scale shape: the corpus-sized
    token stream is semi-joined against the broadcast query-term table
    BEFORE any shuffle (only term-matching rows move); doc lengths are
    one map-side-combined aggregate; the final window partitions on
    query_id (bounded by the query batch)."""
    from ..operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERIES, k=_BM25_K)


q155_bm25_topk.__doc__ = q155_bm25_topk.__doc__.format(k=_BM25_K)


# ---------------------------------------------------------------------------
# q156 — distributed perceptron training (integer-exact trajectory)
# ---------------------------------------------------------------------------

_PCT_EPOCHS = 6
_PCT_LEN_CUT = 56  # median corpus token count: splits labels ~50/50
_PCT_X2_CTR = 25  # median distinct-token count: centers the 2nd feature


def _perceptron_ctes(epochs: int) -> str:
    """Unrolled DuckDB replay of operators.linear.perceptron_epochs:
    the integer feature table, zero-weight seed, then per epoch one
    aggregate joining the previous weights — mistake set is
    y*(w.x) <= 0, update is the integer SUM of y*x over it."""
    parts = [
        f"""feat AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS x0,
    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
         - {_PCT_LEN_CUT} AS BIGINT) AS x1,
    CAST(len(list_distinct(list_filter(string_split(lower(text), ' '),
                                       t -> t <> ''))) - {_PCT_X2_CTR}
         AS BIGINT) AS x2,
    CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
              >= {_PCT_LEN_CUT}
         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
  FROM documents
)""",
        """e0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS n_mistakes)""",
    ]
    for r in range(1, epochs + 1):
        parts.append(
            f"""e{r} AS (
  SELECT
    p.w0 + COALESCE(SUM(CASE WHEN f.y*(p.w0*f.x0 + p.w1*f.x1 + p.w2*f.x2) <= 0
                              THEN f.y*f.x0 ELSE 0 END), 0) AS w0,
    p.w1 + COALESCE(SUM(CASE WHEN f.y*(p.w0*f.x0 + p.w1*f.x1 + p.w2*f.x2) <= 0
                              THEN f.y*f.x1 ELSE 0 END), 0) AS w1,
    p.w2 + COALESCE(SUM(CASE WHEN f.y*(p.w0*f.x0 + p.w1*f.x1 + p.w2*f.x2) <= 0
                              THEN f.y*f.x2 ELSE 0 END), 0) AS w2,
    CAST(COUNT(CASE WHEN f.y*(p.w0*f.x0 + p.w1*f.x1 + p.w2*f.x2) <= 0
                    THEN 1 END) AS BIGINT) AS n_mistakes
  FROM feat f CROSS JOIN e{r - 1} p
  GROUP BY p.w0, p.w1, p.w2
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS epoch, w0, w1, w2, n_mistakes FROM e{r}"
        for r in range(1, epochs + 1)
    )
    return ",\n".join(parts) + f", traj AS (\n{sel}\n)"


@register(
    "q156_perceptron_quality",
    tags=("ml", "A1", "A7"),
    oracle=f"""
WITH {_perceptron_ctes(_PCT_EPOCHS)}
SELECT CAST(epoch AS INTEGER) AS epoch,
  CAST(w0 AS BIGINT) AS w0, CAST(w1 AS BIGINT) AS w1,
  CAST(w2 AS BIGINT) AS w2, n_mistakes
FROM traj
""",
)
def q156_perceptron_quality(spark: SparkSession, sf_dir: str):
    """Distributed quality-classifier training
    (operators/linear.py): a full-batch perceptron over integer
    per-document features (bias, median-centered token count,
    median-centered distinct-token count — centering keeps full-batch
    steps from overshooting, so the model actually converges: mistakes
    drop from all-500 at the zero-weight first epoch to ~1 by epoch 2),
    labels from the median-length quality rule.  Each of the {e}
    epochs is ONE map-side-combined aggregate over the cached feature
    projection; the update is an integer vector sum, so the whole
    trajectory — weights and mistake counts per epoch — is bit-exactly
    replayed by the unrolled SQL chain regardless of partitioning or
    core count.  This is the scale-out formulation of the curation
    quality model: a 100 TB corpus trains with epochs x one scan, no
    driver-side data."""
    from ..operators.linear import perceptron_epochs

    d = load(spark, sf_dir, "documents")
    nt = F.size(F.filter(F.split(F.lower("text"), " "), lambda t: t != ""))
    nd = F.size(
        F.array_distinct(F.filter(F.split(F.lower("text"), " "), lambda t: t != ""))
    )
    feats = d.select(
        F.lit(1).alias("x0"),
        (nt - _PCT_LEN_CUT).alias("x1"),
        (nd - _PCT_X2_CTR).alias("x2"),
        F.when(nt >= _PCT_LEN_CUT, 1).otherwise(-1).alias("y"),
    )
    return perceptron_epochs(feats, ["x0", "x1", "x2"], "y", _PCT_EPOCHS)


q156_perceptron_quality.__doc__ = q156_perceptron_quality.__doc__.format(
    e=_PCT_EPOCHS
)


# ---------------------------------------------------------------------------
# q157 — hybrid retrieval: BM25 + coverage ranking fused with RRF
# ---------------------------------------------------------------------------


@register(
    "q157_hybrid_retrieval_rrf",
    tags=("retrieval", "text", "A1", "O3", "W1"),
    oracle=f"""
WITH {_bm25_ctes()},
bm25_rank AS (
  SELECT query_id, doc_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score_x1000 DESC, doc_id) AS rnk
  FROM bm25
),
cov AS (
  SELECT qt.query_id, tf.doc_id,
    CAST(COUNT(DISTINCT tf.token) AS BIGINT) AS n_terms, MIN(dl.dl) AS dl
  FROM tf JOIN qt USING (token) JOIN dl ON dl.doc_id = tf.doc_id
  GROUP BY qt.query_id, tf.doc_id
),
cov_rank AS (
  SELECT query_id, doc_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY n_terms DESC, dl ASC, doc_id) AS rnk
  FROM cov
),
contrib AS (
  SELECT query_id, doc_id, 1000000 // (60 + rnk) AS contrib
  FROM bm25_rank WHERE rnk <= {_RRF_DEPTH}
  UNION ALL
  SELECT query_id, doc_id, 1000000 // (60 + rnk) AS contrib
  FROM cov_rank WHERE rnk <= {_RRF_DEPTH}
),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf_x1e6,
    CAST(COUNT(*) AS INTEGER) AS n_lists
  FROM contrib GROUP BY query_id, doc_id
)
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, rrf_x1e6, n_lists,
       CAST(fused_rnk AS INTEGER) AS fused_rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf_x1e6 DESC, doc_id) AS fused_rnk
  FROM fused)
WHERE fused_rnk <= {_BM25_K}
""",
)
def q157_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str):
    """Hybrid retrieval by reciprocal-rank fusion
    (operators/retrieval.py rrf_fuse): the BM25 ranking (q155, depth
    {d}) fused with an independent term-coverage ranking (distinct
    query terms matched desc, doc length asc) via integer RRF —
    sum of 1e6 div (60 + rank).  Rank fusion is how production
    retrieval combines lexical and secondary signals without score
    calibration; integer floors keep the fused ordering engine-exact.
    Scale shape is q155's plus one more bounded window per ranking —
    both rankings derive from the SAME bm25_parts tables, checkpointed
    once (share=True): Spark won't reuse logically-shared subtrees
    across pruned branches, so without the barrier each ranking would
    re-tokenize the corpus — with it, the coverage ranking adds zero
    corpus passes, mirroring the oracle's shared CTEs."""
    from ..operators.retrieval import bm25_parts, rrf_fuse

    docs = load(spark, sf_dir, "documents")
    parts = bm25_parts(docs, _BM25_QUERIES, share=True)
    w_bm = Window.partitionBy("query_id").orderBy(
        F.desc("score_x1000"), F.asc("doc_id")
    )
    bm_rank = (
        parts["scores"]
        .withColumn("rnk", F.row_number().over(w_bm).cast("int"))
        .filter(F.col("rnk") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "rnk")
    )

    cov = (
        parts["tf"]
        .join(F.broadcast(parts["qterms"]), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("token").alias("n_terms"))
        .join(parts["dl"], "doc_id")
    )
    w_cov = Window.partitionBy("query_id").orderBy(
        F.desc("n_terms"), F.asc("dl"), F.asc("doc_id")
    )
    cov_rank = (
        cov.withColumn("rnk", F.row_number().over(w_cov).cast("int"))
        .filter(F.col("rnk") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "rnk")
    )
    return rrf_fuse([bm_rank, cov_rank], k=_BM25_K)


q157_hybrid_retrieval_rrf.__doc__ = q157_hybrid_retrieval_rrf.__doc__.format(
    d=_RRF_DEPTH
)


# ---------------------------------------------------------------------------
# q158 — word-bigram LM surprise scoring (integer-exact)
# ---------------------------------------------------------------------------


@register(
    "q158_bigram_lm_surprise",
    tags=("text", "lm", "A1", "J1"),
    oracle="""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM t)
), docbig AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS m
  FROM big GROUP BY doc_id, w1, w2
), corp AS (
  SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c FROM docbig GROUP BY w1, w2
), pref AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS cp FROM corp GROUP BY w1
)
SELECT d.doc_id,
  CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
  CAST(SUM(d.m * ((p.cp * 1000) // c.c)) AS BIGINT) AS surprise_x1000,
  CAST(SUM(d.m * ((p.cp * 1000) // c.c)) // SUM(d.m) AS BIGINT)
    AS avg_surprise_x1000
FROM docbig d JOIN corp c USING (w1, w2) JOIN pref p USING (w1)
GROUP BY d.doc_id
""",
)
def q158_bigram_lm_surprise(spark: SparkSession, sf_dir: str):
    """Word-bigram language-model scoring: each document's summed and
    per-bigram-averaged "surprise" under the corpus's own bigram model —
    the word-level sibling of q143's char-trigram rarity, and the
    integer-exact stand-in for n-gram perplexity quality filters
    (CCNet-style): surprise(w1→w2) = (c(w1·)·1000) div c(w1,w2), the
    scaled inverse conditional probability, floored per bigram so the
    per-doc sums are engine- and partitioning-exact (a log-perplexity
    would drift in the last ulp and is monotone-equivalent per bigram).
    Scale shape: the corpus tokenizes ONCE into per-doc bigram
    multiplicities (map-side combined, materialized via a lazy
    localCheckpoint — Spark won't reuse the logically-shared subtree
    across the corp/pref/scoring branches otherwise), the corpus
    bigram and prefix tables aggregate FROM that (bounded by vocab²,
    not corpus size), and the scoring join is hash-keyed on the
    bigram — Zipf-small tables that AQE broadcasts at catalog SF.
    Docs with < 2 tokens carry no bigrams and are filtered before the
    slice (a 0-length array would make the slice length negative —
    the oracle's generate_series(1, -1) is just empty)."""
    from ..operators.text import word_bigrams

    d = load(spark, sf_dir, "documents")
    big = word_bigrams(d, "text", extra_cols=("doc_id",))
    docbig = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    docbig = docbig.localCheckpoint(eager=False)
    corp = docbig.groupBy("w1", "w2").agg(F.sum("m").alias("c"))
    pref = corp.groupBy("w1").agg(F.sum("c").alias("cp"))
    return (
        docbig.join(corp, ["w1", "w2"])
        .join(pref, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.sum(F.expr("m * ((cp * 1000) div c)"))
            .cast("long")
            .alias("surprise_x1000"),
            F.expr("sum(m * ((cp * 1000) div c)) div sum(m)")
            .cast("long")
            .alias("avg_surprise_x1000"),
        )
    )


# ---------------------------------------------------------------------------
# q159 — collocation mining by integer PMI
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 40


@register(
    "q159_collocations_pmi",
    tags=("text", "A1", "O3"),
    oracle=f"""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM (
    SELECT unnest(t) AS w FROM t) GROUP BY w
), n AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_tok FROM uni),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM t)
  GROUP BY t[i], t[i + 1]
), pmi AS (
  SELECT w1, w2, c,
    (c * n.n_tok * 1000) // (u1.cu * u2.cu) AS pmi_x1000
  FROM big JOIN uni u1 ON u1.w = big.w1 JOIN uni u2 ON u2.w = big.w2
       CROSS JOIN n
  WHERE c >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c AS pair_count, pmi_x1000, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY pmi_x1000 DESC, w1, w2) AS rnk
  FROM pmi)
WHERE rnk <= {_PMI_TOPK}
""",
)
def q159_collocations_pmi(spark: SparkSession, sf_dir: str):
    """Corpus collocation mining: the top-{k} adjacent token pairs by
    pointwise mutual information — the phrase/term-of-art detector
    feeding tokenizer vocab curation and boilerplate analysis.  PMI is
    computed as the scaled rational inside the log, (c(a,b)·N·1000)
    div (c(a)·c(b)), with the standard min-count support filter —
    integer-exact ranking, no libm.  Scale shape: unigram and bigram
    count tables (map-side combined, bounded by vocab), a hash join
    between them, and a global top-{k} over the support-filtered pair
    table — small enough after the >= {m} filter for a single ranking
    window; at larger vocabs pre-cut with a count threshold first
    (ranking.py notes)."""
    d = load(spark, sf_dir, "documents")
    t = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    toks = d.select(F.explode(t).alias("w"))
    # materialize the O(vocab) unigram table once: it feeds the n_tok
    # scalar AND both PMI joins — without the barrier each consumer
    # would re-tokenize the corpus
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    uni = uni.localCheckpoint(eager=False)
    n_tok = uni.agg(F.sum("cu")).first()[0]
    from ..operators.text import word_bigrams

    big = (
        word_bigrams(d, "text")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _PMI_MIN_COUNT)
    )
    pmi = (
        big.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cu1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cu", "cu2"), "w2")
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            F.expr(f"(c * {n_tok} * 1000) div (cu1 * cu2)").alias("pmi_x1000"),
        )
    )
    w = Window.orderBy(F.desc("pmi_x1000"), F.asc("w1"), F.asc("w2"))
    return (
        pmi.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _PMI_TOPK)
    )


q159_collocations_pmi.__doc__ = q159_collocations_pmi.__doc__.format(
    k=_PMI_TOPK, m=_PMI_MIN_COUNT
)


# ---------------------------------------------------------------------------
# q160 — Matryoshka truncation recall audit
# ---------------------------------------------------------------------------

_MRL_DIM = 16
_MRL_K = 10


@register(
    "q160_matryoshka_recall",
    tags=("similarity", "A1", "J8"),
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
p AS (
  SELECT q.query_id, c.cand_id,
    list_sum(list_transform(generate_series(1, len(qv)),
      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(generate_series(1, len(qv)),
      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS qn,
    sqrt(list_sum(list_transform(generate_series(1, len(cv)),
      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) AS cn,
    list_sum(list_transform(generate_series(1, {_MRL_DIM}),
      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS dot_t,
    sqrt(list_sum(list_transform(generate_series(1, {_MRL_DIM}),
      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS qn_t,
    sqrt(list_sum(list_transform(generate_series(1, {_MRL_DIM}),
      i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))) AS cn_t
  FROM q, c WHERE c.cand_id <> q.query_id
), full_rank AS (
  SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY CAST(ROUND(dot / (qn * cn), 4) AS DOUBLE) DESC, cand_id) AS rnk
  FROM p
), trunc_rank AS (
  SELECT query_id, cand_id, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY CAST(ROUND(dot_t / (qn_t * cn_t), 4) AS DOUBLE) DESC, cand_id)
    AS rnk
  FROM p
)
SELECT f.query_id,
  CAST(COUNT(t.cand_id) AS BIGINT) AS n_overlap,
  CAST((COUNT(t.cand_id) * 1000) // {_MRL_K} AS BIGINT) AS recall_x1000
FROM full_rank f LEFT JOIN trunc_rank t
  ON t.query_id = f.query_id AND t.cand_id = f.cand_id
     AND t.rnk <= {_MRL_K}
WHERE f.rnk <= {_MRL_K}
GROUP BY f.query_id
""",
)
def q160_matryoshka_recall(spark: SparkSession, sf_dir: str):
    """Matryoshka-style truncation audit: recall@{k} of the
    first-{d}-dims cosine ranking against the full-width ranking, per
    query — the measurement that decides how far an embedding column
    can be truncated for cheap pre-filtering before full-width rerank
    (the two-stage ANN pattern).  Both rankings run through the same
    exact cosine_topk operator (JVM-side fold, rounded-score ordering
    with id tiebreak — q025's determinism contract), on the full and
    the sliced vector respectively; the overlap join is per-query
    top-{k} rows only.  Scale: two brute-force passes at audit time
    over a sampled query set — the point is to calibrate {d} offline,
    then serve with the truncated index."""
    from ..operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    q_full = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c_full = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    full = cosine_topk(q_full, c_full, k=_MRL_K)
    q_t = q_full.select(
        "query_id", F.slice("qv", 1, _MRL_DIM).alias("qv")
    )
    c_t = c_full.select(
        "cand_id", F.slice("cv", 1, _MRL_DIM).alias("cv")
    )
    trunc = cosine_topk(q_t, c_t, k=_MRL_K)
    return (
        full.select("query_id", "cand_id")
        .join(
            trunc.select("query_id", "cand_id", F.lit(1).alias("hit")),
            ["query_id", "cand_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_overlap"),
            F.expr(f"(count(hit) * 1000) div {_MRL_K}")
            .cast("long")
            .alias("recall_x1000"),
        )
    )


q160_matryoshka_recall.__doc__ = q160_matryoshka_recall.__doc__.format(
    k=_MRL_K, d=_MRL_DIM
)


# ---------------------------------------------------------------------------
# q161 — real PNG decode→resize→re-encode audit (multimodal codec path)
# ---------------------------------------------------------------------------

_PNG_OUT_W = 4
_PNG_OUT_H = 4


@register(
    "q161_png_resize_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
SELECT doc_id,
  CAST(4 + doc_id % 5 AS INTEGER) AS src_w,
  CAST(3 + doc_id % 4 AS INTEGER) AS src_h,
  CAST({_PNG_OUT_W} AS INTEGER) AS out_w,
  CAST({_PNG_OUT_H} AS INTEGER) AS out_h,
  CAST(1 AS INTEGER) AS channels,
  CAST(doc_id % 256 AS INTEGER) AS first_px
FROM documents
""",
)
def q161_png_resize_audit(spark: SparkSession, sf_dir: str):
    """REAL image-codec pipeline over Arrow batches
    (operators/multimodal.py): per document a genuine 8-bit grayscale
    PNG is encoded (pixel (x,y) = (doc_id + 3x + 5y) mod 256), resized
    {w}x{h} nearest-neighbor — stdlib inflate
    -> scanline unfilter -> resample -> deterministic re-encode — and
    the resized payload is then RE-DECODED by png_probe, whose top-left
    pixel must equal the source formula at (0,0): the oracle checks a
    value that only survives if every codec stage is correct, not just
    the plumbing.  All three stages run as ONE fused iterator-style
    mapInPandas (operators/rowmap.py), so payload bytes never row-trip
    through the driver and cross into Python once per task; the source
    size columns are the generator's own formula over ``id``, not a join
    back to it.  At scale the payload column is the partition-size
    dominator, so the stages inherit decode_media's batching notes."""
    from ..operators.multimodal import encode_png, png_probe, resize_images
    from ..operators.rowmap import map_rows

    def rows_of(doc_id):
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        raw = bytes(
            (doc_id + 3 * x + 5 * y) % 256 for y in range(h) for x in range(w)
        )
        yield doc_id, encode_png(w, h, 1, raw)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    gen_df = map_rows(docs, "doc_id long, payload binary", rows_of)
    resized = resize_images(
        gen_df, "doc_id", "payload", width=_PNG_OUT_W, height=_PNG_OUT_H
    )
    return png_probe(resized, "id", "resized_payload").select(
        F.col("id").alias("doc_id"),
        (4 + F.pmod("id", F.lit(5))).cast("int").alias("src_w"),
        (3 + F.pmod("id", F.lit(4))).cast("int").alias("src_h"),
        F.col("width").alias("out_w"),
        F.col("height").alias("out_h"),
        "channels",
        "first_px",
    )


q161_png_resize_audit.__doc__ = q161_png_resize_audit.__doc__.format(
    w=_PNG_OUT_W, h=_PNG_OUT_H
)


# ---------------------------------------------------------------------------
# q162 — corpus-wide BPE encode (apply the learned tokenizer)
# ---------------------------------------------------------------------------


@register(
    "q162_bpe_encode_corpus",
    tags=("text", "tokenizer", "A1", "J1"),
    oracle=f"""
WITH {{bpe}},
dw AS (
  SELECT doc_id, w AS word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)
SELECT dw.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(len(string_split(v.sym, ' '))) AS BIGINT) AS n_bpe_tokens,
  CAST((SUM(len(string_split(v.sym, ' '))) * 1000) // COUNT(*) AS BIGINT)
    AS fertility_x1000
FROM dw JOIN w{_BPE_ROUNDS} v ON v.word = dw.word
GROUP BY dw.doc_id
""".format(bpe=_bpe_ctes(_BPE_ROUNDS)),
)
def q162_bpe_encode_corpus(spark: SparkSession, sf_dir: str):
    """ENCODE with the learned tokenizer: every corpus document run
    through the frozen BPE merge rules (q150) — per-doc word count,
    BPE token count, and fertility (tokens per word, x1000 integer) —
    the statistic that prices a corpus in training tokens and the
    validation that the tokenizer built on the vocabulary actually
    applies back to the documents it came from.  Scale shape: the
    vocabulary (with segmentations) is O(vocab) and BROADCASTS; the
    corpus word stream joins it map-side and aggregates per doc —
    one corpus-sized shuffle (the doc_id aggregate) beyond q150's own
    word count; no per-row Python (segmentation lengths come from the
    already-folded vocab table)."""
    from ..operators.bpe import bpe_learn

    docs = load(spark, sf_dir, "documents")
    _, words = bpe_learn(docs, "text", rounds=_BPE_ROUNDS)
    vocab = words.select(
        "word", F.size(F.split("sym", " ")).cast("long").alias("n_toks")
    )
    dw = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dw.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
            F.expr("(sum(n_toks) * 1000) div count(1)")
            .cast("long")
            .alias("fertility_x1000"),
        )
    )


# ---------------------------------------------------------------------------
# q163 — TextRank keyword centrality (integer-exact PageRank iterations)
# ---------------------------------------------------------------------------

_TR_ITER = 4
_TR_MIN_COOC = 2
_TR_TOPK = 30
_TR_INIT = 1_000_000
_TR_BASE = 150_000  # (1-d) * 1e6 with damping d = 0.85


def _textrank_ctes(iters: int) -> str:
    """DuckDB replay of the Spark TextRank loop: the undirected
    co-occurrence graph (bigram support >= {m}, self-loops dropped),
    per-node out-weight, then per iteration one contribution join —
    contrib(u->v) = (s(u) * 850 * w) // (1000 * out_w(u)), floored per
    edge exactly like the Spark expression, re-based at {b}."""
    parts = [
        f"""tr_t AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
), tr_dir AS (
  SELECT t[i] AS u, t[i + 1] AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM tr_t)
  WHERE t[i] <> t[i + 1]
  GROUP BY t[i], t[i + 1]
), tr_edges AS (
  SELECT u, v, CAST(SUM(c) AS BIGINT) AS w FROM (
    SELECT u, v, c FROM tr_dir
    UNION ALL
    SELECT v AS u, u AS v, c FROM tr_dir
  ) GROUP BY u, v
  HAVING SUM(c) >= {_TR_MIN_COOC}
), tr_out AS (
  SELECT u, CAST(SUM(w) AS BIGINT) AS out_w FROM tr_edges GROUP BY u
), tr_nodes AS (
  SELECT DISTINCT u AS token FROM tr_edges
), s0 AS (
  SELECT token, CAST({_TR_INIT} AS BIGINT) AS score FROM tr_nodes
)"""
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""s{r} AS (
  SELECT n.token,
    CAST({_TR_BASE} + COALESCE(SUM(
      (s.score * 850 * e.w) // (1000 * o.out_w)
    ), 0) AS BIGINT) AS score
  FROM tr_nodes n
  LEFT JOIN tr_edges e ON e.v = n.token
  LEFT JOIN s{r - 1} s ON s.token = e.u
  LEFT JOIN tr_out o ON o.u = e.u
  GROUP BY n.token
)"""
        )
    return ",\n".join(parts)


@register(
    "q163_textrank_keywords",
    tags=("text", "graph", "A1", "O3"),
    oracle=f"""
WITH {_textrank_ctes(_TR_ITER)}
SELECT token, score AS score_x1e6, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, token) AS rnk
  FROM s{_TR_ITER})
WHERE rnk <= {_TR_TOPK}
""",
)
def q163_textrank_keywords(spark: SparkSession, sf_dir: str):
    """TextRank corpus keywords: damped PageRank over the undirected
    token co-occurrence graph (adjacent pairs, support >= {m}) — the
    graph-centrality member of the text-analysis family, and the
    engine's iterative-graph-algorithm template: each of the {it}
    iterations is ONE contribution join keyed on the edge source plus
    one destination-keyed aggregate, both hash-partitioned on tokens
    (no driver-side graph, no single-partition step; the score table is
    O(vocab)).  All arithmetic is integer — damping 0.85 as 850/1000
    with per-edge floors — so every iteration, and therefore the final
    ranking, replays bit-exactly in the unrolled SQL chain.  At 100 TB
    the corpus-sized work is exactly the bigram count (map-side
    combined, q158's shape); iterations touch only O(edges)."""
    d = load(spark, sf_dir, "documents")
    from ..operators.text import word_bigrams

    dirpairs = (
        word_bigrams(d, "text")
        .select(F.col("w1").alias("u"), F.col("w2").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    edges = (
        dirpairs.select("u", "v", "c")
        .unionByName(
            dirpairs.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "c"
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("c").alias("w"))
        .filter(F.col("w") >= _TR_MIN_COOC)
    )
    # O(edges) from here: materialize the graph once for the iterations
    edges = edges.localCheckpoint(eager=False)
    out_w = edges.groupBy("u").agg(F.sum("w").alias("out_w"))
    nodes = edges.select(F.col("u").alias("token")).distinct()
    scores = nodes.select("token", F.lit(_TR_INIT).cast("long").alias("score"))
    for _ in range(_TR_ITER):
        contrib = (
            edges.join(scores.withColumnRenamed("token", "u"), "u")
            .join(out_w, "u")
            .select(
                F.col("v").alias("token"),
                F.expr("(score * 850 * w) div (1000 * out_w)").alias("ctb"),
            )
            .groupBy("token")
            .agg(F.sum("ctb").alias("inflow"))
        )
        scores = nodes.join(contrib, "token", "left").select(
            "token",
            (F.lit(_TR_BASE) + F.coalesce(F.col("inflow"), F.lit(0)))
            .cast("long")
            .alias("score"),
        )
        # Materialize each iteration's O(vocab) score table (lazy): the
        # unrolled 4-iteration plan is ~16 joins deep and its planning +
        # codegen dominated wall (bench: 2.6 s wall vs 0.7 s task CPU).
        # Per-round checkpoints keep every plan two joins deep — guide
        # §3.3/§7.3 (truncate long lineages / planning cost).
        scores = scores.localCheckpoint(eager=False)
    w_rank = Window.orderBy(F.desc("score"), F.asc("token"))
    return (
        scores.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= _TR_TOPK)
        .select(F.col("token"), F.col("score").alias("score_x1e6"), "rnk")
    )


q163_textrank_keywords.__doc__ = q163_textrank_keywords.__doc__.format(
    m=_TR_MIN_COOC, it=_TR_ITER
)
_textrank_ctes.__doc__ = _textrank_ctes.__doc__.format(
    m=_TR_MIN_COOC, b=_TR_BASE
)


# ---------------------------------------------------------------------------
# q164 — Bloom-sketch decontamination (the no-broadcast-of-grams path)
# ---------------------------------------------------------------------------


@register(
    "q164_bloom_decontamination",
    tags=("dedup", "sketch", "J6", "A4"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_DECON_N}
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{_DECON_N - 1}], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_DECON_N - 1})) AS i
        FROM toks)
), ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id < {_DECON_EVAL_MAX_ID}),
tr AS (SELECT doc_id, gram FROM sh WHERE doc_id >= {_DECON_EVAL_MAX_ID}),
bits AS (
  SELECT DISTINCT d.d, substr(md5(d.d || ':' || ev.gram), 1, 2) AS bucket
  FROM ev, (SELECT unnest([1, 2, 3]) AS d) d
),
probe AS (
  SELECT tr.doc_id,
    (substr(md5('1:' || tr.gram), 1, 2) IN (SELECT bucket FROM bits WHERE d = 1)
     AND substr(md5('2:' || tr.gram), 1, 2) IN (SELECT bucket FROM bits WHERE d = 2)
     AND substr(md5('3:' || tr.gram), 1, 2) IN (SELECT bucket FROM bits WHERE d = 3)
    ) AS bloom_pass,
    tr.gram IN (SELECT gram FROM ev) AS is_member
  FROM tr
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_probe_grams,
  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
    AS n_suspect_grams,
  CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
    AS n_true_grams
FROM probe
GROUP BY doc_id
HAVING SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) > 0
""",
)
def q164_bloom_decontamination(spark: SparkSession, sf_dir: str):
    """Decontamination via the Bloom sketch instead of a gram broadcast
    (the q044 twin for when even the DISTINCT eval-gram set is too big
    to broadcast): eval grams compress to a depth-3 x 256-bucket bit
    list — a few KB regardless of eval size — and every train shingle
    is probed MAP-SIDE against it; only suspects reach the per-doc
    aggregate.  md5 bucketing keeps the filter deterministic, so the
    oracle replays the identical bits, and the output audits the price
    of the compression: n_suspect_grams (bloom hits, superset) vs
    n_true_grams (actual overlaps; false-negative-free by
    construction).  The production flow is exactly this cascade —
    bloom-prune the corpus, then confirm survivors with the exact
    join on the vanishing suspect fraction."""
    from ..operators.sketch import bloom_bits, bloom_might_contain

    d = load(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") < _DECON_EVAL_MAX_ID)
    tr = d.filter(F.col("doc_id") >= _DECON_EVAL_MAX_ID)
    ev_grams = (
        word_shingles(ev, "text", "doc_id", _DECON_N)
        .select("shingle")
        .distinct()
    )
    bits = bloom_bits(ev_grams, "shingle")
    tr_grams = word_shingles(tr, "text", "doc_id", _DECON_N).select(
        "doc_id", "shingle"
    )
    probed = bloom_might_contain(tr_grams, bits, "shingle")
    flagged = probed.join(
        F.broadcast(ev_grams.withColumn("_is_mem", F.lit(True))),
        "shingle",
        "left",
    ).withColumn("is_member", F.coalesce(F.col("_is_mem"), F.lit(False)))
    one, zero = F.lit(1), F.lit(0)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(one).cast("long").alias("n_probe_grams"),
            F.sum(F.when(F.col("bloom_pass"), one).otherwise(zero))
            .cast("long")
            .alias("n_suspect_grams"),
            F.sum(F.when(F.col("is_member"), one).otherwise(zero))
            .cast("long")
            .alias("n_true_grams"),
        )
        .filter(F.col("n_suspect_grams") > 0)
    )


# ---------------------------------------------------------------------------
# q165 — hashing-trick sparse perceptron (FastText-style text classifier)
# ---------------------------------------------------------------------------

_HP_EPOCHS = 3


def _hashed_perceptron_ctes(epochs: int) -> str:
    """Unrolled DuckDB replay of operators.linear.hashed_perceptron:
    sparse md5-bucket counts, median-length labels, zero-seeded
    weights (+ ``__bias__`` row), then per epoch a margin aggregate
    (weights joined back to the sparse rows) and a mistake-filtered
    per-bucket integer update."""
    parts = [
        f"""hp_feat AS (
  SELECT doc_id, substr(md5(w), 1, 2) AS bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                          t -> t <> '')) AS w
        FROM documents)
  GROUP BY doc_id, substr(md5(w), 1, 2)
), hp_lab AS (
  SELECT doc_id,
    CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
              >= {_PCT_LEN_CUT}
         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
  FROM documents
), hp_e0 AS (
  SELECT bucket, CAST(0 AS BIGINT) AS w
  FROM (SELECT DISTINCT bucket FROM hp_feat)
  UNION ALL SELECT '__bias__', CAST(0 AS BIGINT)
)"""
    ]
    for r in range(1, epochs + 1):
        parts.append(
            f"""hp_m{r} AS (
  SELECT l.doc_id, l.y,
    (SELECT w FROM hp_e{r - 1} WHERE bucket = '__bias__')
      + COALESCE(SUM(ew.w * f.c), 0) AS margin
  FROM hp_lab l
  JOIN hp_feat f ON f.doc_id = l.doc_id
  LEFT JOIN hp_e{r - 1} ew ON ew.bucket = f.bucket
  GROUP BY l.doc_id, l.y
)"""
        )
        parts.append(
            f"""hp_u{r} AS (
  SELECT f.bucket, CAST(SUM(m.y * f.c) AS BIGINT) AS dw
  FROM hp_m{r} m JOIN hp_feat f ON f.doc_id = m.doc_id
  WHERE m.y * m.margin <= 0
  GROUP BY f.bucket
  UNION ALL
  SELECT '__bias__' AS bucket, CAST(COALESCE(SUM(m.y), 0) AS BIGINT) AS dw
  FROM hp_m{r} m WHERE m.y * m.margin <= 0
)"""
        )
        parts.append(
            f"""hp_e{r} AS (
  SELECT p.bucket, CAST(p.w + COALESCE(u.dw, 0) AS BIGINT) AS w
  FROM hp_e{r - 1} p LEFT JOIN hp_u{r} u USING (bucket)
)"""
        )
    return ",\n".join(parts)


@register(
    "q165_hashed_ngram_perceptron",
    tags=("ml", "text", "A1", "J1"),
    oracle=f"""
WITH {_hashed_perceptron_ctes(_HP_EPOCHS)}
SELECT bucket, w FROM hp_e{_HP_EPOCHS}
""",
)
def q165_hashed_ngram_perceptron(spark: SparkSession, sf_dir: str):
    """FastText-style sparse text classifier trained distributed
    (operators/linear.py hashed_perceptron): tokens hash into 256
    md5 buckets (the hashing trick — model size independent of
    vocabulary), labels from the median-length quality rule, {e}
    full-batch epochs.  Per epoch the weights ride the plan as a
    literal map (codegen lookup per sparse row, no join build side);
    margins and per-bucket updates are each ONE map-side-combined
    aggregate over the sparse (doc, bucket, count) layout — the layout
    a 100 TB corpus trains in, since the dense 256-vector never
    materializes per document.  Output is the complete final model
    (every feature bucket + __bias__), certified weight-by-weight
    against the unrolled SQL replay."""
    from ..operators.linear import hashed_perceptron

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    feat = (
        d.select("doc_id", F.explode(toks).alias("wtok"))
        .select(
            "doc_id", F.substring(F.md5("wtok"), 1, 2).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lab = d.select(
        "doc_id",
        F.when(F.size(toks) >= _PCT_LEN_CUT, 1).otherwise(-1).alias("y"),
    )
    return hashed_perceptron(feat, lab, _HP_EPOCHS)


q165_hashed_ngram_perceptron.__doc__ = (
    q165_hashed_ngram_perceptron.__doc__.format(e=_HP_EPOCHS)
)


# ---------------------------------------------------------------------------
# q166 — exponential smoothing of daily revenue (time-series fold)
# ---------------------------------------------------------------------------


@register(
    "q166_exp_smoothed_revenue",
    tags=("timeseries", "A1", "A5"),
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), series AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_days,
    CAST(MAX(d) AS DATE) AS last_day,
    list(cents ORDER BY d) AS xs,
    CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents
  FROM daily GROUP BY priority
)
SELECT priority, n_days, last_day,
  CAST(list_reduce(xs, (acc, x) -> (3 * acc + x) // 4) AS BIGINT)
    AS level_cents,
  mean_cents
FROM series
""",
)
def q166_exp_smoothed_revenue(spark: SparkSession, sf_dir: str):
    """Time-series smoothing as a distributed fold: per-priority daily
    revenue run through exponential smoothing with alpha = 1/4 kept
    INTEGER — s_t = (3*s_{t-1} + x_t) div 4 over cents, seeded by the
    first day (list_reduce ≡ F.aggregate: both fold strictly
    left-to-right from the first element, the q150 equivalence) — so
    the recursive state that window functions cannot express becomes a
    per-group array fold, bit-identical across engines.  All terms stay
    positive, so truncating vs flooring division can never diverge.
    Scale shape: the corpus-sized work is the daily aggregate
    (map-side combined to O(groups x days)); each group then folds its
    own O(days) array row-locally — no cross-row dependency ever
    shuffles.  level_cents is the 1-step-ahead forecast."""
    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    series = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("d").alias("last_day"),
        F.array_sort(F.collect_list(F.struct("d", "cents"))).alias("arr"),
        F.expr("sum(cents) div count(1)").cast("long").alias("mean_cents"),
    )
    # the fold lambda needs integer `div`, which the Column DSL lacks —
    # expressed as SQL text over the extracted cents array
    series = series.withColumn(
        "xs", F.transform(F.col("arr"), lambda s: s["cents"])
    )
    return series.select(
        "priority",
        "n_days",
        "last_day",
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
            " (acc, x) -> (3 * acc + x) div 4)"
        )
        .cast("long")
        .alias("level_cents"),
        "mean_cents",
    )


# ---------------------------------------------------------------------------
# q167 — compression-ratio quality signal (rows-only: zlib has no SQL twin)
# ---------------------------------------------------------------------------


@register(
    "q167_compression_quality",
    tags=("text", "quality", "U1"),
    oracle=None,  # DEFLATE is deterministic but no SQL engine exposes it;
    # value-level differential lives in tests/test_oracle_parity.py::
    # test_q167_matches_pure_python_reference (an independent pure-Python
    # replay of compress + aggregate, compared exactly)
)
def q167_compression_quality(spark: SparkSession, sf_dir: str):
    """Compressibility quality screen (operators/text.py
    compression_ratio): per-source distribution of the zlib ratio — the
    entropy proxy web-corpus filters use to catch templated/boilerplate
    docs (ratios far below prose) and binary noise (ratios near 1000+).
    Arrow-batched mapInPandas (one DEFLATE call per doc, the only way
    compression can run), then a bounded per-source aggregate.
    Deterministic for a fixed zlib build; rows-only on the DRIVER by
    necessity, but value-checked locally against an independent
    pure-Python replay (test_oracle_parity.py), leaving q066's
    bounded-error sketches as the only differential-free query."""
    from ..operators.text import compression_ratio

    d = load(spark, sf_dir, "documents")
    scored = compression_ratio(d, "doc_id", "text")
    src = d.select(F.col("doc_id").alias("id"), "source")
    return (
        scored.join(src, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("ratio_x1000").cast("long").alias("min_ratio_x1000"),
            F.expr("sum(ratio_x1000) div count(1)")
            .cast("long")
            .alias("avg_ratio_x1000"),
            F.max("ratio_x1000").cast("long").alias("max_ratio_x1000"),
            F.sum(F.when(F.col("ratio_x1000") < 300, 1).otherwise(0))
            .cast("long")
            .alias("n_low_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# q170 — MAD-robust document-length outliers (quality filtering)
# ---------------------------------------------------------------------------


@register(
    "q170_doclen_mad_outliers",
    tags=("text", "quality", "W1", "A1"),
    oracle="""
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
),
med AS (SELECT source, n_chars AS med FROM r WHERE rn = (n + 1) // 2),
dev AS (
  SELECT d.doc_id, d.source, ABS(d.n_chars - m.med) AS dev, m.med
  FROM d JOIN med m USING (source)
),
r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn2,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev
),
mad AS (SELECT source, dev AS mad FROM r2 WHERE rn2 = (n + 1) // 2)
SELECT dev.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MAX(dev.med) AS BIGINT) AS med_chars,
  CAST(MAX(mm.mad) AS BIGINT) AS mad_chars,
  CAST(SUM(CASE WHEN dev.dev > 3 * mm.mad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers,
  CAST(MAX(dev.dev) AS BIGINT) AS max_dev
FROM dev JOIN mad mm USING (source)
GROUP BY dev.source
""",
)
def q170_doclen_mad_outliers(spark: SparkSession, sf_dir: str):
    """Robust (median/MAD) outlier screen on document length per source
    — the quality filter web-corpus curation uses instead of mean/σ,
    because a handful of giant boilerplate pages drag a mean arbitrarily
    while the median stays put.  Kept INTEGER-exact end to end: the
    "lower median" is the element at rank (n+1) div 2 under the total
    order (value, doc_id) — no interpolation, so both engines pick the
    same physical row — and MAD is the lower median of |x − med|.  A doc
    is an outlier when dev > 3·MAD.  Scale shape: two source-partitioned
    window sorts over the doc stream (each source sorts independently
    across the cluster — no global sort), and the O(sources) median/MAD
    tables come back as broadcast joins."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w1 = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    r = d.withColumn("rn", F.row_number().over(w1)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "source", F.col("n_chars").alias("med")
    )
    dev = d.join(F.broadcast(med), "source").select(
        "doc_id",
        "source",
        F.abs(F.col("n_chars") - F.col("med")).alias("dev"),
        "med",
    )
    w2 = Window.partitionBy("source").orderBy("dev", "doc_id")
    r2 = dev.withColumn("rn2", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    mad = r2.filter(F.col("rn2") == F.expr("(n + 1) div 2")).select(
        "source", F.col("dev").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("med").cast("long").alias("med_chars"),
            F.max("mad").cast("long").alias("mad_chars"),
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.max("dev").cast("long").alias("max_dev"),
        )
    )


# ---------------------------------------------------------------------------
# q171 — k-anonymity / l-diversity audit (privacy screen for released data)
# ---------------------------------------------------------------------------


@register(
    "q171_k_anonymity_audit",
    tags=("pii", "A1", "A3"),
    oracle="""
SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
  c_mktsegment AS segment,
  CAST(COUNT(*) AS BIGINT) AS group_size,
  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
    AS l_diversity,
  CAST(CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS INTEGER) AS below_k10,
  CAST(CASE WHEN COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) < 3
       THEN 1 ELSE 0 END AS INTEGER) AS low_l3
FROM customer
GROUP BY c_nationkey, c_mktsegment
""",
)
def q171_k_anonymity_audit(spark: SparkSession, sf_dir: str):
    """Privacy-release audit over the quasi-identifier pair
    (nation, market segment): a record is k-anonymous when at least k−1
    others share its QI tuple, and l-diverse when its group spans ≥ l
    distinct sensitive values (here the kilo-bucketed account balance).
    Groups below k=10 or l=3 are the re-identification risks a
    training-data release must suppress or generalize — the natural
    companion to the q142 PII redaction pass (redaction removes direct
    identifiers; this catches the indirect ones).  Scale shape: a single
    hash aggregate with one distinct-count (Spark plans partial
    distinct aggregation map-side); no window, no join, no Python."""
    c = load(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000).cast("long")
    return c.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(bucket).cast("long").alias("l_diversity"),
        F.when(F.count(F.lit(1)) < 10, 1).otherwise(0).cast("int").alias("below_k10"),
        F.when(F.countDistinct(bucket) < 3, 1).otherwise(0).cast("int").alias("low_l3"),
    )


# ---------------------------------------------------------------------------
# q172 — target-mixture rebalance plan (data mixing with availability caps)
# ---------------------------------------------------------------------------


@register(
    "q172_mixture_rebalance_plan",
    tags=("mixing", "A1", "W2"),
    oracle="""
WITH src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY source
),
t AS (
  SELECT source, cnt,
    CAST(SUM(cnt) OVER () AS BIGINT) AS total,
    CAST(COUNT(*) OVER () AS BIGINT) AS n_src
  FROM src
),
plan AS (
  SELECT source, cnt,
    CAST(total // n_src AS BIGINT) AS target_docs,
    CAST(LEAST(1000000, (total // n_src) * 1000000 // cnt) AS BIGINT) AS rate_ppm
  FROM t
)
SELECT source, cnt, target_docs, rate_ppm,
  CAST(cnt * rate_ppm // 1000000 AS BIGINT) AS planned_docs,
  CAST(GREATEST(0, target_docs - cnt * rate_ppm // 1000000) AS BIGINT) AS deficit
FROM plan
""",
)
def q172_mixture_rebalance_plan(spark: SparkSession, sf_dir: str):
    """Mixture-rebalance planning: given an equal-share target mix over
    sources (target = total div n_sources), compute each source's
    sampling rate capped at 1.0 — you cannot upsample what you do not
    have, so under-represented sources report a DEFICIT instead of a
    rate above parts-per-million unity.  This is the planning step that
    feeds q045's salted-hash rate sampler / q137's exact-k tickets; all
    arithmetic is integer ppm so the plan is engine-exact and, composed
    with the hash sampler, fully reproducible.  Scale shape: one
    map-side-combined count per source, then windows over the O(sources)
    aggregate — the corpus never flows through a window or join."""
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    t = src.withColumn("total", F.expr("sum(cnt) over ()").cast("long")).withColumn(
        "n_src", F.expr("count(1) over ()").cast("long")
    )
    plan = t.select(
        "source",
        "cnt",
        F.expr("total div n_src").cast("long").alias("target_docs"),
        F.least(
            F.lit(1000000).cast("long"),
            F.expr("(total div n_src) * 1000000 div cnt").cast("long"),
        ).alias("rate_ppm"),
    )
    return plan.select(
        "source",
        "cnt",
        "target_docs",
        "rate_ppm",
        F.expr("cnt * rate_ppm div 1000000").cast("long").alias("planned_docs"),
        F.greatest(
            F.lit(0).cast("long"),
            F.expr("target_docs - cnt * rate_ppm div 1000000").cast("long"),
        ).alias("deficit"),
    )


# ---------------------------------------------------------------------------
# q173 — real GIF pixel-codec audit (variable-width LZW round trip)
# ---------------------------------------------------------------------------


@register(
    "q173_gif_decode_audit",
    tags=("multimodal", "U1"),
    oracle="""
SELECT doc_id,
  CAST(3 + doc_id % 4 AS INTEGER) AS width,
  CAST(2 + doc_id % 3 AS INTEGER) AS height,
  CAST((3 + doc_id % 4) * (2 + doc_id % 3) AS INTEGER) AS n_px,
  CAST(doc_id % 256 AS INTEGER) AS first_idx,
  CAST(doc_id % 256 AS INTEGER) AS first_r,
  CAST((2 * (doc_id % 256)) % 256 AS INTEGER) AS first_g,
  CAST((3 * (doc_id % 256)) % 256 AS INTEGER) AS first_b,
  CAST(list_sum(flatten(list_transform(
      generate_series(0, (2 + doc_id % 3) - 1), y ->
        list_transform(generate_series(0, (3 + doc_id % 4) - 1), x ->
          (doc_id + 7 * x + 11 * y) % 256)))) AS BIGINT) AS px_index_sum
FROM documents
""",
)
def q173_gif_decode_audit(spark: SparkSession, sf_dir: str):
    """REAL GIF codec pipeline (operators/multimodal.py): per document
    a genuine GIF89a is encoded — palette index (x,y) = (doc_id + 7x +
    11y) mod 256 over a formula palette (r,g,b) = (i, 2i, 3i) mod 256 —
    through the variable-width LZW compressor, then gif_probe walks the
    container and LZW-DECODES the frame back; the probe reports the
    top-left index, its palette RGB, and the sum of ALL decoded frame
    indices.  The oracle recomputes that whole-frame checksum from the
    pixel formula, so the hash only matches if compressor, width-growth
    rule, container walk and decompressor are all correct — the q161
    PNG audit's sibling for the LZW family.  Both stages run as one
    fused iterator-style mapInPandas (operators/rowmap.py; payload bytes
    never visit the driver); scale notes inherit decode_media's
    batching contract."""
    from ..operators.multimodal import encode_gif, gif_probe
    from ..operators.rowmap import map_rows

    pal = bytes((i * k) % 256 for i in range(256) for k in (1, 2, 3))

    def rows_of(doc_id):
        w, h = 3 + doc_id % 4, 2 + doc_id % 3
        idx = bytes(
            (doc_id + 7 * x + 11 * y) % 256 for y in range(h) for x in range(w)
        )
        yield doc_id, encode_gif(w, h, idx, pal)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    gif_df = map_rows(docs, "doc_id long, payload binary", rows_of)
    return gif_probe(gif_df, "doc_id", "payload").select(
        F.col("id").alias("doc_id"),
        "width",
        "height",
        "n_px",
        "first_idx",
        "first_r",
        "first_g",
        "first_b",
        "px_index_sum",
    )


# ---------------------------------------------------------------------------
# q175 — dedup-aware train/val/test split (cluster-level assignment)
# ---------------------------------------------------------------------------


def _jaccard_cc_ctes() -> str:
    """DuckDB CTE chain replaying q037's dup-cluster resolution (shingle
    Jaccard edges -> recursive min-label components); shared by the
    split-audit oracle so cluster ids match q037's exactly."""
    return f"""toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_JACCARD_N}
),
sh0 AS (
  SELECT DISTINCT doc_id,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_JACCARD_N - 1})) AS i FROM toks)
),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_MAX_DF}
),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT id1, id2 FROM inter
  JOIN sizes sa ON sa.doc_id = id1
  JOIN sizes sb ON sb.doc_id = id2
  WHERE CAST(inter_size AS DOUBLE) / (sa.n_sh + sb.n_sh - inter_size) >= {_JACCARD_THRESHOLD}
),
sym AS (SELECT id1 AS a, id2 AS b FROM e UNION ALL SELECT id2, id1 FROM e),
cc AS (
  SELECT doc_id AS id, doc_id AS lab FROM documents
  UNION
  SELECT s.b, cc.lab FROM cc JOIN sym s ON s.a = cc.id
),
lab AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM cc GROUP BY id)"""


@register(
    "q175_dedup_aware_split",
    tags=("dedup", "P6", "A3"),
    oracle=f"""
WITH RECURSIVE {_jaccard_cc_ctes()},
b AS (
  SELECT doc_id, cluster_id,
    CASE WHEN substr(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 2)
              < '{_TRAIN_HI}' THEN 'train'
         WHEN substr(md5('{_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 2)
              < '{_VAL_HI}' THEN 'val'
         ELSE 'test' END AS doc_split,
    CASE WHEN substr(md5('{_SPLIT_SALT}:' || CAST(cluster_id AS VARCHAR)), 1, 2)
              < '{_TRAIN_HI}' THEN 'train'
         WHEN substr(md5('{_SPLIT_SALT}:' || CAST(cluster_id AS VARCHAR)), 1, 2)
              < '{_VAL_HI}' THEN 'val'
         ELSE 'test' END AS clu_split
  FROM lab
),
longt AS (
  SELECT 'doc' AS strategy, doc_id, cluster_id, doc_split AS split FROM b
  UNION ALL
  SELECT 'cluster', doc_id, cluster_id, clu_split FROM b
),
pc AS (
  SELECT strategy, cluster_id, COUNT(DISTINCT split) AS n_splits
  FROM longt GROUP BY strategy, cluster_id
)
SELECT l.strategy, l.split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
  CAST(COUNT(DISTINCT CASE WHEN pc.n_splits > 1 THEN l.cluster_id END)
       AS BIGINT) AS n_straddling
FROM longt l
JOIN pc ON pc.strategy = l.strategy AND pc.cluster_id = l.cluster_id
GROUP BY l.strategy, l.split
""",
)
def q175_dedup_aware_split(spark: SparkSession, sf_dir: str):
    """Dedup-aware train/test splitting: hashing each DOC into a split
    (q038) quietly puts near-duplicates of training documents into the
    eval set — the classic contamination-by-split bug; hashing each dup
    CLUSTER (q037's components) keeps every near-dup family on one side
    by construction.  Both strategies run side by side and the oracle
    certifies the contrast: cluster-level rows must show n_straddling=0
    while doc-level rows expose how many families a naive split tears
    apart.  Split membership is the same salted-md5 prefix-cut machinery
    as q038 (engine-portable, backfill-stable).  Scale shape: edges +
    O(diameter) component rounds reuse q037's machinery (one shuffle per
    round, lineage checkpointed); everything after touches the
    component table exactly ONCE — the strategy fan-out is a map-side
    explode (a union of two selects would evaluate the component
    subtree twice, and the subtree is the expensive part), and the
    per-cluster straddle flag comes from a count window over the
    ALREADY-COLLAPSED (strategy, cluster, split) rows instead of a
    self-join (which would evaluate the fan-out twice more — measured
    2.3x on the whole query at 20x data)."""
    docs = load(spark, sf_dir, "documents")
    edges = shingle_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        n=_JACCARD_N,
        threshold=_JACCARD_THRESHOLD,
        max_shingle_df=_JACCARD_MAX_DF,
    )
    comp = connected_components(
        docs.select("doc_id"), edges, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))

    def cut(col):
        h = F.substring(
            F.md5(F.concat(F.lit(f"{_SPLIT_SALT}:"), col.cast("string"))), 1, 2
        )
        return (
            F.when(h < _TRAIN_HI, "train").when(h < _VAL_HI, "val").otherwise("test")
        )

    longt = comp.select(
        "doc_id",
        "cluster_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc").alias("strategy"),
                    cut(F.col("doc_id")).alias("split"),
                ),
                F.struct(
                    F.lit("cluster").alias("strategy"),
                    cut(F.col("cluster_id")).alias("split"),
                ),
            )
        ).alias("__s"),
    ).select("doc_id", "cluster_id", "__s.strategy", "__s.split")
    per_cs = longt.groupBy("strategy", "cluster_id", "split").agg(
        F.count(F.lit(1)).alias("n_docs_cs")
    )
    w = Window.partitionBy("strategy", "cluster_id")
    flagged = per_cs.withColumn("n_splits", F.count(F.lit(1)).over(w))
    return (
        flagged.groupBy("strategy", "split")
        .agg(
            F.sum("n_docs_cs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(
                F.when(F.col("n_splits") > 1, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_straddling"),
        )
    )


# ---------------------------------------------------------------------------
# q177 — consistent-hash ring sharding + rebalance audit
# ---------------------------------------------------------------------------

# Ring anchors are md5("shard:i") computed once and embedded as literals
# (engine-portable: the ring is pure hex-string comparison, no RNG).
_RING_V1 = [
    ("5d2482ac252a9bd16d673db792519104", 0),
    ("ae7451a0e2902045dfa6b580c22b4fa5", 1),
    ("6b77afc85b0f2b4bf1d3342683ee2a07", 2),
    ("3061a64f6111183194afcaaa55879dc5", 3),
    ("ed68a9be3c50db0797fb0e71a8d39f4e", 4),
    ("db9cacee782cd92b45d2522c6c936171", 5),
    ("b9aec648910962212ff09f71acbde537", 6),
    ("05c843f04a137f15190b293b6e7a90bf", 7),
]
_RING_V2 = _RING_V1 + [("efa5525945469d9466588717fa869c14", 8)]
_NEW_SHARD = 8


def _ring_case_sql(anchors: list[tuple[str, int]], hcol: str) -> str:
    s = sorted(anchors)
    whens = "\n    ".join(
        f"WHEN {hcol} <= '{h}' THEN {i}" for h, i in s
    )
    return f"CASE {whens}\n    ELSE {s[0][1]} END"


@register(
    "q177_consistent_hash_shards",
    tags=("scale", "P6", "A1"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5('ring:' || CAST(doc_id AS VARCHAR)) AS hh FROM documents
),
assigned AS (
  SELECT doc_id,
    {_ring_case_sql(_RING_V1, "hh")} AS shard_v1,
    {_ring_case_sql(_RING_V2, "hh")} AS shard_v2
  FROM h
)
SELECT CAST(shard_v1 AS INTEGER) AS shard_v1,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN shard_v2 <> shard_v1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_moved,
  CAST(SUM(CASE WHEN shard_v2 <> shard_v1 AND shard_v2 <> {_NEW_SHARD}
           THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere,
  CAST(SUM(CASE WHEN shard_v2 <> shard_v1 THEN 1 ELSE 0 END) * 1000000
       // COUNT(*) AS BIGINT) AS move_rate_ppm
FROM assigned GROUP BY shard_v1
""",
)
def q177_consistent_hash_shards(spark: SparkSession, sf_dir: str):
    """Consistent-hash ring sharding — the shard-affinity layout that
    lets a 100 TB corpus add capacity without a full reshuffle: each doc
    hashes to a point on the md5 ring and is owned by the next anchor
    clockwise (string-compare only, engine-portable, no RNG).  The
    query assigns every doc under an 8-anchor ring AND a 9-anchor ring
    and audits the rebalance: moved docs must land ONLY on the new
    shard (n_moved_elsewhere = 0 — THE consistent-hashing guarantee;
    mod-N hashing would relocate ~8/9 of everything), at a per-shard
    move rate of roughly the new shard's arc share.  Scale shape: the
    ring rides the plan as a chained-CASE literal — assignment is pure
    whole-stage codegen, no join, no window; one map-side-combined
    aggregate on O(shards) keys."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    hh = F.md5(F.concat(F.lit("ring:"), F.col("doc_id").cast("string")))

    def ring_owner(hcol, anchors):
        s = sorted(anchors)
        expr = None
        for h, i in s:
            expr = (
                F.when(hcol <= h, i) if expr is None else expr.when(hcol <= h, i)
            )
        return expr.otherwise(s[0][1])

    assigned = d.select(
        ring_owner(hh, _RING_V1).cast("int").alias("shard_v1"),
        ring_owner(hh, _RING_V2).cast("int").alias("shard_v2"),
    )
    moved = F.when(F.col("shard_v2") != F.col("shard_v1"), 1).otherwise(0)
    elsewhere = F.when(
        (F.col("shard_v2") != F.col("shard_v1"))
        & (F.col("shard_v2") != _NEW_SHARD),
        1,
    ).otherwise(0)
    return assigned.groupBy("shard_v1").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(moved).cast("long").alias("n_moved"),
        F.sum(elsewhere).cast("long").alias("n_moved_elsewhere"),
        F.expr(
            "sum(case when shard_v2 <> shard_v1 then 1 else 0 end) * 1000000"
            " div count(1)"
        )
        .cast("long")
        .alias("move_rate_ppm"),
    )


# ---------------------------------------------------------------------------
# q178 — retrieval quality evaluation (recall@k / MRR, integer-exact)
# ---------------------------------------------------------------------------


@register(
    "q178_retrieval_eval",
    tags=("retrieval", "A3", "J3", "O3"),
    oracle=f"""
WITH {_bm25_ctes()},
nq AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms FROM qt GROUP BY query_id
),
relc AS (
  SELECT qt.query_id, tf.doc_id, COUNT(DISTINCT tf.token) AS nt
  FROM tf JOIN qt USING (token) GROUP BY qt.query_id, tf.doc_id
),
rel AS (
  SELECT r.query_id, r.doc_id
  FROM relc r JOIN nq USING (query_id) WHERE r.nt = nq.n_terms
),
topk AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_x1000 DESC, doc_id) AS rnk
    FROM bm25)
  WHERE rnk <= {_BM25_K}
),
ev AS (
  SELECT t.query_id, t.rnk,
    CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM topk t
  LEFT JOIN rel r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
),
nrel AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
  FROM rel GROUP BY query_id
)
SELECT CAST(e.query_id AS INTEGER) AS query_id,
  nrel.n_relevant,
  CAST(SUM(e.hit) AS BIGINT) AS n_hits_at_k,
  CAST(MIN(CASE WHEN e.hit = 1 THEN e.rnk END) AS INTEGER) AS first_rel_rank,
  CAST(COALESCE(1000000 // MIN(CASE WHEN e.hit = 1 THEN e.rnk END), 0)
       AS BIGINT) AS rr_ppm,
  CAST(SUM(e.hit) * 1000000 // LEAST({_BM25_K}, nrel.n_relevant) AS BIGINT)
    AS recall_at_k_ppm
FROM ev e JOIN nrel USING (query_id)
GROUP BY e.query_id, nrel.n_relevant
""",
)
def q178_retrieval_eval(spark: SparkSession, sf_dir: str):
    """Offline retrieval-quality evaluation — the metric harness every
    retrieval stack needs before it feeds data selection: BM25 top-k
    (q155's exact ranking) scored against a DETERMINISTIC relevance
    oracle (a doc is relevant to a query iff it contains ALL the
    query's terms — boolean-conjunctive ground truth both engines can
    recompute), reporting per query: relevant-set size, hits@k, the
    first relevant rank, reciprocal rank and recall@k — all integer
    ppm (1e6 div rank), no floats, so the eval itself is bit-exact and
    a regression of one rank position is a guaranteed hash change, not
    noise.  Scale shape: the relevance set reuses the corpus token
    stream semi-joined against the broadcast query-term table (only
    term-matching rows ever shuffle, the q155 contract); the eval join
    runs on the O(queries·k) top-k table."""
    from ..operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents")
    topk = bm25_topk(docs, _BM25_QUERIES, k=_BM25_K)
    qt = spark.createDataFrame(
        [
            (qid, t)
            for qid, qtext in _BM25_QUERIES
            for t in sorted(set(qtext.split()))
        ],
        "query_id int, token string",
    )
    nq = qt.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    match = (
        toks.join(F.broadcast(qt), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("token").alias("nt"))
    )
    rel = (
        match.join(F.broadcast(nq), "query_id")
        .filter(F.col("nt") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    ev = topk.join(
        rel.withColumn("hit", F.lit(1)), ["query_id", "doc_id"], "left"
    ).select(
        "query_id", "rnk", F.coalesce(F.col("hit"), F.lit(0)).alias("hit")
    )
    agg = ev.groupBy("query_id").agg(
        F.sum("hit").cast("long").alias("n_hits_at_k"),
        F.min(F.when(F.col("hit") == 1, F.col("rnk"))).cast("int").alias(
            "first_rel_rank"
        ),
        F.expr(
            "coalesce(1000000 div min(case when hit = 1 then rnk end), 0)"
        )
        .cast("long")
        .alias("rr_ppm"),
    )
    return (
        agg.join(nrel, "query_id")
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "n_relevant",
            "n_hits_at_k",
            "first_rel_rank",
            "rr_ppm",
            F.expr(
                f"n_hits_at_k * 1000000 div least({_BM25_K}, n_relevant)"
            )
            .cast("long")
            .alias("recall_at_k_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q179 — annealed curriculum mixture schedule (multi-phase data mixing)
# ---------------------------------------------------------------------------

_CURRICULUM_PHASES = 3


@register(
    "q179_curriculum_schedule",
    tags=("mixing", "A1", "W2"),
    oracle=f"""
WITH src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
    CAST(SUM(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY source
),
t AS (
  SELECT source, cnt, mass,
    CAST(SUM(mass) OVER () AS BIGINT) AS total_mass,
    CAST(COUNT(*) OVER () AS BIGINT) AS n_src
  FROM src
),
shares AS (
  SELECT source, cnt,
    CAST(1000000 // n_src AS BIGINT) AS uniform_ppm,
    CAST(mass * 1000000 // total_mass AS BIGINT) AS mass_ppm
  FROM t
),
phases AS (SELECT unnest(generate_series(0, {_CURRICULUM_PHASES - 1})) AS phase)
SELECT CAST(p.phase AS INTEGER) AS phase, s.source, s.cnt,
  s.uniform_ppm, s.mass_ppm,
  CAST((({_CURRICULUM_PHASES - 1} - p.phase) * s.uniform_ppm
        + p.phase * s.mass_ppm) // {_CURRICULUM_PHASES - 1} AS BIGINT)
    AS target_ppm
FROM shares s CROSS JOIN phases p
""",
)
def q179_curriculum_schedule(spark: SparkSession, sf_dir: str):
    """Curriculum data-mixing schedule: a training run that anneals its
    source mixture from uniform (phase 0: see everything) to
    mass-weighted (final phase: match the corpus's token-mass
    distribution) needs a per-phase target plan; each phase's target is
    the INTEGER interpolation ((P-1-p)·uniform + p·mass) div (P-1) in
    ppm, so the schedule is engine-exact and composes with q172's
    availability caps and q045/q137's deterministic samplers.  Scale
    shape: one map-side-combined aggregate per source, windows over the
    O(sources) rows, then a cross join against the O(phases) literal
    axis — the corpus is read once and never shuffled."""
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("n_chars").cast("long").alias("mass"),
    )
    t = src.withColumn(
        "total_mass", F.expr("sum(mass) over ()").cast("long")
    ).withColumn("n_src", F.expr("count(1) over ()").cast("long"))
    shares = t.select(
        "source",
        "cnt",
        F.expr("1000000 div n_src").cast("long").alias("uniform_ppm"),
        F.expr("mass * 1000000 div total_mass").cast("long").alias("mass_ppm"),
    )
    phases = F.explode(
        F.array(*[F.lit(p) for p in range(_CURRICULUM_PHASES)])
    ).alias("phase")
    p_last = _CURRICULUM_PHASES - 1
    return shares.select("*", phases).select(
        F.col("phase").cast("int").alias("phase"),
        "source",
        "cnt",
        "uniform_ppm",
        "mass_ppm",
        F.expr(
            f"(({p_last} - phase) * uniform_ppm + phase * mass_ppm)"
            f" div {p_last}"
        )
        .cast("long")
        .alias("target_ppm"),
    )


# ---------------------------------------------------------------------------
# q180 — dup-graph triangle census (local transitivity audit)
# ---------------------------------------------------------------------------


@register(
    "q180_dup_graph_triangles",
    tags=("dedup", "J8", "A1"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_JACCARD_N}
),
sh0 AS (
  SELECT DISTINCT doc_id,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_JACCARD_N - 1})) AS i FROM toks)
),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_MAX_DF}
),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
e AS (
  SELECT id1, id2 FROM inter
  JOIN sizes sa ON sa.doc_id = id1
  JOIN sizes sb ON sb.doc_id = id2
  WHERE CAST(inter_size AS DOUBLE) / (sa.n_sh + sb.n_sh - inter_size) >= {_JACCARD_THRESHOLD}
),
sym AS (SELECT id1 AS a, id2 AS b FROM e UNION ALL SELECT id2, id1 FROM e),
deg AS (SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY a),
tri AS (
  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
  FROM e e1
  JOIN e e2 ON e2.id1 = e1.id2
  JOIN e e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2
),
pern AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY doc_id
)
SELECT d.doc_id, d.degree,
  CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
  CAST(COALESCE(p.n_triangles, 0) * 2 * 1000000
       // (d.degree * (d.degree - 1)) AS BIGINT) AS transitivity_ppm
FROM deg d LEFT JOIN pern p USING (doc_id)
WHERE d.degree >= 2
""",
)
def q180_dup_graph_triangles(spark: SparkSession, sf_dir: str):
    """Triangle census over the near-dup graph — the structural audit
    that tells you whether dup families are CLIQUES (true duplicates:
    every pair similar, local transitivity ~1) or CHAINS (threshold
    artifacts: A~B~C with A≁C, transitivity ~0, the families a
    connected-components dedup over-merges).  Per node with degree ≥ 2:
    degree, triangle count, and local clustering coefficient in integer
    ppm (2·tri·1e6 div deg·(deg−1)).  Triangles come from the standard
    two-join edge-iterator (e1⋈e2 closing wedges, e3 verifying the
    chord) over the canonically-ordered edge list (id1 < id2, so each
    triangle is counted exactly once).  Scale shape: edges are the
    already-thresholded dup pairs — orders of magnitude sparser than
    the corpus; both joins hash-partition on edge endpoints; the
    degree-ordering refinement (iterate from the lower-degree endpoint)
    is the known skew guard if a hub node ever appears."""
    docs = load(spark, sf_dir, "documents")
    e = shingle_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        n=_JACCARD_N,
        threshold=_JACCARD_THRESHOLD,
        max_shingle_df=_JACCARD_MAX_DF,
    ).select("id1", "id2")
    e = e.localCheckpoint(eager=False)
    sym = e.unionByName(
        e.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    )
    deg = sym.groupBy(F.col("id1").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.id1") == F.col("e1.id2"))
        .join(
            e3,
            (F.col("e3.id1") == F.col("e1.id1"))
            & (F.col("e3.id2") == F.col("e2.id2")),
        )
        .select(
            F.col("e1.id1").alias("a"),
            F.col("e1.id2").alias("b"),
            F.col("e2.id2").alias("c"),
        )
    )
    pern = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(pern, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "coalesce(n_triangles, 0) * 2 * 1000000"
                " div (degree * (degree - 1))"
            )
            .cast("long")
            .alias("transitivity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q181 — embedding QA audit (norm distribution, degenerate-vector screen)
# ---------------------------------------------------------------------------


@register(
    "q181_embedding_norm_audit",
    tags=("similarity", "quality", "A1"),
    oracle="""
WITH n AS (
  SELECT label,
    CAST(len(embedding) AS INTEGER) AS dim,
    CAST(FLOOR(list_sum(list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1000000) AS BIGINT)
      AS sq_norm_x1e6
  FROM embeddings
)
SELECT CAST(label AS INTEGER) AS label,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(MIN(dim) AS INTEGER) AS min_dim,
  CAST(MAX(dim) AS INTEGER) AS max_dim,
  CAST(MIN(sq_norm_x1e6) AS BIGINT) AS min_sq_norm_x1e6,
  CAST(MAX(sq_norm_x1e6) AS BIGINT) AS max_sq_norm_x1e6,
  CAST(SUM(sq_norm_x1e6) // COUNT(*) AS BIGINT) AS avg_sq_norm_x1e6,
  CAST(SUM(CASE WHEN sq_norm_x1e6 < 1000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_near_zero
FROM n GROUP BY label
""",
)
def q181_embedding_norm_audit(spark: SparkSession, sf_dir: str):
    """Embedding-table QA — the screen that runs before any ANN/cosine
    stage ships: per label, vector count, dimension bounds (a ragged
    dim column breaks every zip_with downstream), the squared-norm
    distribution, and the count of near-zero vectors (cosine against a
    ~0 vector is numerical garbage; these rows must be quarantined).
    Determinism: the squared norm is a row-local left-to-right fold —
    the same element order on both engines, so the doubles are
    bit-identical BEFORE the x1e6 floor (FLOOR, not ROUND — rounding a
    double at an exact half is the one operation the engines disagree
    on), and everything aggregated after is integer (the standing float
    policy: cross-row math only ever sums already-truncated integers).  Scale shape: pure
    map-side row math plus one tiny-key hash aggregate; no join, no
    window, no Python."""
    emb = load(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = emb.select(
        "label",
        F.size("embedding").cast("int").alias("dim"),
        F.floor(sq * 1000000).cast("long").alias("sq_norm_x1e6"),
    )
    return n.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("dim").cast("int").alias("min_dim"),
        F.max("dim").cast("int").alias("max_dim"),
        F.min("sq_norm_x1e6").cast("long").alias("min_sq_norm_x1e6"),
        F.max("sq_norm_x1e6").cast("long").alias("max_sq_norm_x1e6"),
        F.expr("sum(sq_norm_x1e6) div count(1)")
        .cast("long")
        .alias("avg_sq_norm_x1e6"),
        F.sum(F.when(F.col("sq_norm_x1e6") < 1000, 1).otherwise(0))
        .cast("long")
        .alias("n_near_zero"),
    )


# ---------------------------------------------------------------------------
# q182 — containment near-dup pairs (quote/expansion duplication)
# ---------------------------------------------------------------------------


@register(
    "q182_containment_dedup",
    tags=("dedup", "A1", "J1"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_JACCARD_N}
),
sh0 AS (
  SELECT DISTINCT doc_id,
    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_JACCARD_N - 1})) AS i FROM toks)
),
keep AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_MAX_DF}
),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_size
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id1, i.id2, CAST(i.inter_size AS BIGINT) AS inter_size,
  CAST(LEAST(sa.n_sh, sb.n_sh) AS BIGINT) AS n_small,
  CAST(GREATEST(sa.n_sh, sb.n_sh) AS BIGINT) AS n_big,
  CAST(i.inter_size * 1000000 // LEAST(sa.n_sh, sb.n_sh) AS BIGINT)
    AS containment_ppm,
  CAST(i.inter_size * 1000000 // (sa.n_sh + sb.n_sh - i.inter_size) AS BIGINT)
    AS jaccard_ppm,
  CAST(CASE WHEN i.inter_size * 1000000 // (sa.n_sh + sb.n_sh - i.inter_size)
                 < 500000 THEN 1 ELSE 0 END AS INTEGER) AS jaccard_missed
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id1
JOIN sizes sb ON sb.doc_id = i.id2
WHERE i.inter_size * 10 >= 9 * LEAST(sa.n_sh, sb.n_sh)
""",
)
def q182_containment_dedup(spark: SparkSession, sf_dir: str):
    """Containment-measure near-dup detection
    (operators.dedup.containment_pairs): C = |A∩B| / min(|A|,|B|) ≥ 0.9
    catches QUOTE/EXPANSION duplication — a short doc embedded verbatim
    inside a much longer one — which the Jaccard family structurally
    misses (the union is dominated by the long doc, so J stays small no
    matter how complete the containment).  ``jaccard_missed`` marks
    exactly those pairs: every 1 there is a duplicate q022 would have
    shipped into training.  All thresholds and scores are integer
    (10·inter ≥ 9·min; ppm divisions), and the dataflow is the shared
    inverted-index/posting-list machinery of the Jaccard family — one
    extra measure costs zero extra shuffles."""
    from ..operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = containment_pairs(
        docs,
        "text",
        "doc_id",
        n=_JACCARD_N,
        containment_x10=9,
        max_shingle_df=_JACCARD_MAX_DF,
    )
    return pairs.withColumn(
        "jaccard_missed",
        F.when(F.col("jaccard_ppm") < 500000, 1).otherwise(0).cast("int"),
    )


# ---------------------------------------------------------------------------
# q187 — LSH band-calibration audit (candidate set vs exact truth)
# ---------------------------------------------------------------------------


_CAL_SAMPLE_N = 400  # fixed-size uniform sample the calibration runs on


@register(
    "q187_lsh_calibration",
    tags=("dedup", "A4", "J3"),
    oracle=f"""
WITH cal_sample AS (
  SELECT doc_id, text FROM documents
  ORDER BY md5('cal:' || CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {_CAL_SAMPLE_N}
),
{_minhash_cand_ctes(3, 8, 4, 42, source="cal_sample")},
j_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(s) AS shingle FROM mh_sh)
),
j_sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM j_sh GROUP BY doc_id),
j_inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_size
  FROM j_sh a JOIN j_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT id1, id2 FROM j_inter
  JOIN j_sizes sa ON sa.doc_id = id1
  JOIN j_sizes sb ON sb.doc_id = id2
  WHERE 2 * inter_size >= sa.n_sh + sb.n_sh - inter_size
),
conf AS (
  SELECT COALESCE(c.isc, 0) AS isc, COALESCE(t.ist, 0) AS ist
  FROM (SELECT id1, id2, 1 AS isc FROM cand) c
  FULL OUTER JOIN (SELECT id1, id2, 1 AS ist FROM truth) t
    ON c.id1 = t.id1 AND c.id2 = t.id2
)
SELECT
  CAST(SUM(isc) AS BIGINT) AS n_candidates,
  CAST(SUM(ist) AS BIGINT) AS n_true_pairs,
  CAST(SUM(isc * ist) AS BIGINT) AS n_hits,
  CAST(SUM(isc * ist) * 1000000 // SUM(isc) AS BIGINT) AS precision_ppm,
  CAST(SUM(isc * ist) * 1000000 // SUM(ist) AS BIGINT) AS recall_ppm
FROM conf
""",
)
def q187_lsh_calibration(spark: SparkSession, sf_dir: str):
    """LSH band-calibration audit — the measurement you run BEFORE
    committing a (k, bands) config to a 100 TB dedup pass: the MinHash
    candidate set (q023's machinery, distance cut disabled so banding
    alone decides) is reconciled against the EXACT Jaccard ≥ 0.5 truth
    over the same uncapped shingle universe, and the confusion counts
    yield banding precision (how much the verify stage must filter) and
    recall (what the bands miss — pairs dedup silently ships) in
    integer ppm.  The integer threshold 2·inter ≥ union keeps the truth
    float-free.  Exact truth is intrinsically quadratic, so the audit
    runs on a FIXED-SIZE uniform sample — the {n}-doc salted-md5 top-N
    (deterministic, partitioning-stable; one TakeOrdered, no full
    sort) — making its cost CONSTANT in corpus size: the x10
    weak-scaling run that motivated the cap showed the uncapped truth
    pass growing 3.3x at 10x data (bench_history/SCALE_CURVE.json).
    Calibration estimates band precision/recall, which a uniform sample
    estimates unbiasedly; the production dedup path (q023) still runs
    on the full corpus.  Scale shape: both pair sets derive from one
    bounded shingle stream; the reconciliation is a full-outer join on
    the pair key and a single global aggregate."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy(
            F.md5(F.concat(F.lit("cal:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .limit(_CAL_SAMPLE_N)
    )
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, max_distance=1.0
    ).select("id1", "id2", F.lit(1).alias("isc"))
    sh = (
        docs.select(
            "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
        )
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(t) - 2),"
                    " i -> concat_ws(' ', slice(t, i, 3))))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id1"), "shingle")
    b = sh.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1")), "id1")
        .join(sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2")), "id2")
        .filter(2 * F.col("inter_size") >= F.col("n1") + F.col("n2") - F.col("inter_size"))
        .select("id1", "id2", F.lit(1).alias("ist"))
    )
    conf = cand.join(truth, ["id1", "id2"], "full_outer").select(
        F.coalesce(F.col("isc"), F.lit(0)).alias("isc"),
        F.coalesce(F.col("ist"), F.lit(0)).alias("ist"),
    )
    return conf.agg(
        F.sum("isc").cast("long").alias("n_candidates"),
        F.sum("ist").cast("long").alias("n_true_pairs"),
        F.sum(F.col("isc") * F.col("ist")).cast("long").alias("n_hits"),
        F.expr("sum(isc * ist) * 1000000 div sum(isc)")
        .cast("long")
        .alias("precision_ppm"),
        F.expr("sum(isc * ist) * 1000000 div sum(ist)")
        .cast("long")
        .alias("recall_ppm"),
    )


q187_lsh_calibration.__doc__ = q187_lsh_calibration.__doc__.format(
    n=_CAL_SAMPLE_N
)


# ---------------------------------------------------------------------------
# q190 — vocabulary drift between corpus halves (ingestion shift detector)
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 20


@register(
    "q190_vocabulary_drift",
    tags=("text", "A3", "O3"),
    oracle=f"""
WITH halves AS (
  SELECT doc_id, CAST(doc_id % 2 AS INTEGER) AS half, text FROM documents
),
n AS (
  SELECT half, CAST(COUNT(*) AS BIGINT) AS n_docs FROM halves GROUP BY half
),
tdf AS (
  SELECT half, token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM (
    SELECT half, doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM halves)
  WHERE token <> ''
  GROUP BY half, token
),
rates AS (
  SELECT tdf.token,
    CAST(SUM(CASE WHEN tdf.half = 0 THEN tdf.df * 1000000 // n.n_docs
             ELSE 0 END) AS BIGINT) AS rate0_ppm,
    CAST(SUM(CASE WHEN tdf.half = 1 THEN tdf.df * 1000000 // n.n_docs
             ELSE 0 END) AS BIGINT) AS rate1_ppm
  FROM tdf JOIN n ON n.half = tdf.half
  GROUP BY tdf.token
)
SELECT token, rate0_ppm, rate1_ppm,
  CAST(ABS(rate1_ppm - rate0_ppm) AS BIGINT) AS drift_ppm,
  CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY ABS(rate1_ppm - rate0_ppm) DESC, token) AS rnk
  FROM rates
)
WHERE rnk <= {_DRIFT_TOPK}
""",
)
def q190_vocabulary_drift(spark: SparkSession, sf_dir: str):
    """Vocabulary drift detector — the check an incremental ingestion
    pipeline runs on each new tranche: per-token document-frequency
    RATES (df·1e6 div n_docs, integer ppm — rates, not counts, so
    differently-sized tranches compare fairly) for two corpus halves,
    ranked by absolute rate difference; a vocabulary that shifts warns
    that tokenizer fertility, langid priors and dedup thresholds
    calibrated on the old corpus are stale.  Halves are keyed
    deterministically (doc_id parity) so the audit itself is
    oracle-replayable.  Scale shape: the token stream collapses to
    (half, token, df) with map-side partial distinct; rates join the
    2-row count table broadcast; the ranking window runs over the
    O(vocab) aggregate."""
    d = load(spark, sf_dir, "documents")
    halves = d.select(
        "doc_id", (F.col("doc_id") % 2).cast("int").alias("half"), "text"
    )
    n = halves.groupBy("half").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tok = halves.select(
        "half",
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    tdf = tok.groupBy("half", "token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    rates = (
        tdf.join(F.broadcast(n), "half")
        .groupBy("token")
        .agg(
            F.sum(
                F.when(F.col("half") == 0, F.expr("df * 1000000 div n_docs")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rate0_ppm"),
            F.sum(
                F.when(F.col("half") == 1, F.expr("df * 1000000 div n_docs")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rate1_ppm"),
        )
    )
    ranked = rates.withColumn(
        "drift_ppm", F.abs(F.col("rate1_ppm") - F.col("rate0_ppm")).cast("long")
    ).withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("drift_ppm"), "token"))
        .cast("int"),
    )
    return ranked.filter(F.col("rnk") <= _DRIFT_TOPK).select(
        "token", "rate0_ppm", "rate1_ppm", "drift_ppm", "rnk"
    )


# ---------------------------------------------------------------------------
# q192 — winsorized length statistics (exact order-statistic clamps)
# ---------------------------------------------------------------------------


@register(
    "q192_winsorized_doclen",
    tags=("quality", "W1", "A1"),
    oracle="""
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
),
cuts AS (
  SELECT source,
    MAX(CASE WHEN rn = (n + 19) // 20 THEN n_chars END) AS lo_cut,
    MAX(CASE WHEN rn = GREATEST(1, (19 * n) // 20) THEN n_chars END) AS hi_cut
  FROM r GROUP BY source
)
SELECT r.source,
  CAST(MAX(r.n) AS BIGINT) AS n_docs,
  CAST(MAX(c.lo_cut) AS BIGINT) AS lo_cut,
  CAST(MAX(c.hi_cut) AS BIGINT) AS hi_cut,
  CAST(SUM(CASE WHEN r.n_chars < c.lo_cut THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped_low,
  CAST(SUM(CASE WHEN r.n_chars > c.hi_cut THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped_high,
  CAST(SUM(GREATEST(c.lo_cut, LEAST(c.hi_cut, r.n_chars))) AS BIGINT)
    AS sum_winsorized
FROM r JOIN cuts c USING (source)
GROUP BY r.source
""",
)
def q192_winsorized_doclen(spark: SparkSession, sf_dir: str):
    """Winsorization — the robust-statistics companion to q170's MAD
    screen: instead of DROPPING outliers, clamp them to the exact p05 /
    p95 ORDER STATISTICS (the elements at ranks ceil(n/20) and
    floor(19n/20) under the total order (value, doc_id) — no
    interpolation, so both engines pick the same physical rows) and
    report the clamp counts plus the winsorized sum a downstream mean
    would use.  Everything integer.  Scale shape: one source-partitioned
    window sort, the O(sources) cut table broadcast back, one hash
    aggregate — the q170 plan with a different tail."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    r = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    cuts = r.groupBy("source").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("n_chars"))
        ).alias("lo_cut"),
        F.max(
            F.when(F.col("rn") == F.expr("greatest(1, (19 * n) div 20)"), F.col("n_chars"))
        ).alias("hi_cut"),
    )
    j = r.join(F.broadcast(cuts), "source")
    clamped = F.greatest(F.col("lo_cut"), F.least(F.col("hi_cut"), F.col("n_chars")))
    return j.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max("lo_cut").cast("long").alias("lo_cut"),
        F.max("hi_cut").cast("long").alias("hi_cut"),
        F.sum(F.when(F.col("n_chars") < F.col("lo_cut"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_low"),
        F.sum(F.when(F.col("n_chars") > F.col("hi_cut"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_high"),
        F.sum(clamped).cast("long").alias("sum_winsorized"),
    )


# ---------------------------------------------------------------------------
# q194 — maximal duplicate-span coverage (interval union over dup windows)
# ---------------------------------------------------------------------------


@register(
    "q194_duplicate_span_coverage",
    tags=("dedup", "W2", "A1", "quality"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents
),
sized AS (SELECT doc_id, source, t, len(t) AS n_tok FROM toks),
win AS (
  SELECT doc_id, i AS pos,
    md5(list_aggr(t[i:i+{_PASSAGE_W - 1}], 'string_agg', ' ')) AS gram_hash
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{_PASSAGE_W - 1})) AS i
        FROM sized WHERE n_tok >= {_PASSAGE_W})
),
dup AS (
  SELECT gram_hash FROM win GROUP BY gram_hash
  HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT w.doc_id, CAST(COUNT(DISTINCT w.pos + g.o) AS BIGINT) AS dup_tokens
  FROM win w JOIN dup USING (gram_hash)
    CROSS JOIN generate_series(0, {_PASSAGE_W - 1}) g(o)
  GROUP BY w.doc_id
)
SELECT s.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(c.dup_tokens) AS BIGINT) AS n_dup_docs,
  CAST(SUM(s.n_tok) AS BIGINT) AS total_tokens,
  CAST(SUM(COALESCE(c.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
  CAST(SUM(COALESCE(c.dup_tokens, 0)) * 1000000 // SUM(s.n_tok) AS BIGINT)
    AS dup_ppm,
  CAST(MAX(c.dup_tokens * 1000000 // s.n_tok) AS BIGINT) AS max_doc_dup_ppm
FROM sized s LEFT JOIN cov c USING (doc_id)
GROUP BY s.source
""",
)
def q194_duplicate_span_coverage(spark: SparkSession, sf_dir: str):
    """Maximal duplicate-SPAN coverage — q062 finds which {{W}}-token
    windows repeat across documents; this measures how much of each
    document those windows COVER once overlapping/abutting windows are
    merged into maximal spans (the Lee-et-al duplicate-text fraction
    that decides drop-vs-trim in curation).  Interval union without an
    explode: per doc, dup-window start positions are sorted and a
    prefix-max window over strict predecessors carries the furthest
    covered end; a window merges into the running span iff its start ≤
    prev_end + 1, else opens a new island (flag running-summed into an
    island id); each island covers max(pos)-min(pos)+W tokens.  The
    oracle instead EXPLODES every window into its covered positions and
    counts them DISTINCT — agreement certifies the island algebra
    against brute force.  Per source: duplicate-token ppm and the worst
    single document.  Scale: one shuffle keyed on the 32-byte window
    hash (text never shuffles), one doc-partitioned window sort over
    dup positions only (dup windows ≪ all windows), hash aggregates
    map-side combined; the oracle's position explode (×{{W}} rows) is
    exactly what this plan avoids."""
    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        "source",
        F.split(F.lower(F.col("text")), " ").alias("t"),
    ).withColumn("n_tok", F.size("t"))
    win = sized.filter(F.col("n_tok") >= _PASSAGE_W).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(slice(t, 1, size(t) - {_PASSAGE_W - 1}),"
                f" (x, i) -> md5(concat_ws(' ', slice(t, i + 1, {_PASSAGE_W}))))"
            )
        ).alias("pos0", "gram_hash"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram_hash")
    # `win` (the window-hash explode — the dominant cost) feeds both the
    # df aggregate and the semi-join probe; checkpoint so it runs once
    # (q175/q237 shared-subtree discipline)
    win = win.localCheckpoint(eager=False)
    dup = (
        win.groupBy("gram_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram_hash")
    )
    dwin = win.join(dup, "gram_hash", "leftsemi")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dwin.withColumn(
        "new_island",
        F.when(
            F.col("pos")
            > F.coalesce(
                F.max(F.col("pos") + F.lit(_PASSAGE_W - 1)).over(w_prev),
                F.lit(-1),
            )
            + 1,
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cov = (
        flagged.groupBy("doc_id", "island")
        .agg((F.max("pos") - F.min("pos") + F.lit(_PASSAGE_W)).alias("span_tokens"))
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("long").alias("dup_tokens"))
    )
    per_doc = sized.select("doc_id", "source", "n_tok").join(cov, "doc_id", "left")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("dup_tokens").cast("long").alias("n_dup_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.coalesce("dup_tokens", F.lit(0))).cast("long").alias("dup_tokens"),
        F.expr("sum(coalesce(dup_tokens, 0)) * 1000000 div sum(n_tok)")
        .cast("long")
        .alias("dup_ppm"),
        F.max(F.expr("dup_tokens * 1000000 div n_tok"))
        .cast("long")
        .alias("max_doc_dup_ppm"),
    )


# ---------------------------------------------------------------------------
# q196 — record linkage: rare-token blocking + best-match assignment
# ---------------------------------------------------------------------------

_LINK_MIN_PPM = 100_000  # keep pairs with Jaccard >= 10%
_LINK_BLOCK_CAP = 64  # expected right-side candidates kept per block


@register(
    "q196_doc_record_linkage",
    tags=("dedup", "J1", "W1", "linkage"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
  FROM documents
),
tok AS (SELECT doc_id, unnest(ts) AS token FROM d),
df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
blk AS (
  SELECT doc_id, string_agg(token, '|' ORDER BY df, token) AS bkey FROM (
    SELECT t.doc_id, t.token, f.df,
      ROW_NUMBER() OVER (PARTITION BY t.doc_id
                         ORDER BY f.df, t.token) AS rn
    FROM tok t JOIN df f USING (token)
  ) WHERE rn <= 2
  GROUP BY doc_id
),
sides AS (
  SELECT d.doc_id, b.bkey, d.ts, len(d.ts) AS nt, doc_id % 2 = 0 AS is_left
  FROM d JOIN blk b USING (doc_id)
),
rc AS (
  SELECT bkey, COUNT(*) AS nrt FROM sides WHERE NOT is_left GROUP BY bkey
),
rkeep AS (
  SELECT s.doc_id, s.bkey, s.ts, s.nt
  FROM sides s JOIN rc USING (bkey)
  WHERE NOT s.is_left
    AND CAST(('0x' || substr(md5('rb:' || s.doc_id || ':' || s.bkey), 1, 8))
          AS BIGINT) % 1000000
        < LEAST(1000000, {_LINK_BLOCK_CAP} * 1000000 // nrt)
),
cand AS (
  SELECT l.doc_id AS left_id, r.doc_id AS right_id,
    CAST(len(list_intersect(l.ts, r.ts)) AS BIGINT) AS n_common,
    CAST(l.nt + r.nt - len(list_intersect(l.ts, r.ts)) AS BIGINT) AS n_union
  FROM sides l JOIN rkeep r ON l.bkey = r.bkey
  WHERE l.is_left
),
scored AS (
  SELECT left_id, right_id, n_common, n_union,
    CAST(n_common * 1000000 // n_union AS BIGINT) AS score_ppm
  FROM cand
)
SELECT left_id, right_id, n_common, n_union, score_ppm FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                               ORDER BY score_ppm DESC, right_id) AS rn
  FROM scored WHERE score_ppm >= {_LINK_MIN_PPM}
) WHERE rn = 1
""",
)
def q196_doc_record_linkage(spark: SparkSession, sf_dir: str):
    """Record linkage / entity resolution — the classic
    blocking-then-matching pipeline (Fellegi-Sunter shape) the dedup
    family doesn't cover: two record sets (here the even/odd doc_id
    halves standing in for "CRM vs billing") are linked by (1) a
    CONJUNCTIVE blocking key — each record's TWO globally rarest tokens
    (min document frequency, lexicographic tiebreak, '|'-joined), the
    standard Fellegi-Sunter trick that bounds candidate pairs by the
    key's selectivity instead of n²; the two-token conjunction (vs a
    single rarest token) multiplies selectivity, which the x10
    weak-scaling curve showed is load-bearing on closed-vocabulary
    corpora where every single token's df grows linearly with the
    corpus (single-key pairs grew ~7x at 10x data; conjunctive keys
    restore ~linear growth — bench_history/SCALE_CURVE.json).
    Blocking always trades recall for boundedness; pairs sharing one
    rare token but not two are no longer candidates, by design.  On top
    of the key, an EXPLICIT block cap (salted Bernoulli keep at rate
    cap/|block|, cap={cap}) bounds candidate pairs expected-linear in
    corpus size even when the key distribution degenerates — the
    guarantee production linkage systems enforce, with the truncation
    as the logged recall loss — (2) exact token-set Jaccard on
    candidates only, (3) best-match assignment: each left record keeps
    its single highest-scoring right record (tiebreak: smallest id)
    above a 10% floor.  Scale shape: df is one map-side-combined
    aggregate; the blocking join shuffles only (doc_id, bkey,
    token-set) — candidate generation never touches non-blocked pairs;
    the per-left argmax is a window over candidate groups, bounded by
    blocking.  Oracle replays it with DuckDB's independent
    list_intersect implementation."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("ts"),
    )
    tok = d.select("doc_id", F.explode("ts").alias("token"))
    df_tbl = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # two rarest tokens per doc == first 2 of the (df, token) sort order:
    # a hash aggregate with map-side combine (collect_list is bounded by
    # the doc's distinct tokens), not a per-doc sort window.
    blk = (
        tok.join(df_tbl, "token")
        .groupBy("doc_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("df", "token"))), 1, 2
            ).alias("m2")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("m2"), lambda x: x["token"]), "|"
            ).alias("bkey"),
        )
    )
    # The strings themselves never reach the pair join: token sets ride
    # as xxhash64 ids (8 bytes vs full UTF8 tokens), so the O(block²)
    # intersect compares longs and the pair shuffle is ~3× smaller.
    # (64-bit collisions would need V² ≈ 2⁶⁴ distinct tokens to matter;
    # the DuckDB oracle intersects the real strings, so any collision
    # would surface as a parity failure.)
    sides = d.join(blk, "doc_id").select(
        "doc_id",
        "bkey",
        F.array_sort(F.expr("transform(ts, t -> xxhash64(t))")).alias("ids"),
        F.size("ts").alias("nt"),
        (F.col("doc_id") % 2 == 0).alias("is_left"),
    )
    l = sides.filter("is_left").select(
        F.col("doc_id").alias("left_id"),
        F.col("bkey"),
        F.col("ids").alias("lids"),
        F.col("nt").alias("lnt"),
    )
    # Explicit block cap — the guarantee blocking alone cannot give:
    # each block keeps ~_LINK_BLOCK_CAP right-side candidates via a
    # salted-md5 Bernoulli draw at rate cap/|block| (deterministic,
    # partitioning-stable, oracle-replayable), so candidate pairs are
    # EXPECTED-LINEAR in corpus size (sum over lefts of <= cap) even
    # when the key distribution degenerates (closed vocabularies make
    # every blocking key's population grow with the corpus — the x10
    # weak-scaling run measured the uncapped join super-linear).
    # Truncation loss is blocking's usual recall trade, now explicit.
    r0 = sides.filter(~F.col("is_left")).select(
        F.col("doc_id").alias("right_id"),
        F.col("bkey"),
        F.col("ids").alias("rids"),
        F.col("nt").alias("rnt"),
    )
    rc = r0.groupBy("bkey").agg(F.count(F.lit(1)).alias("nrt"))
    r = (
        r0.join(rc, "bkey")
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("rb:"),
                            F.col("right_id").cast("string"),
                            F.lit(":"),
                            F.col("bkey"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1_000_000
            < F.expr(f"least(1000000, {_LINK_BLOCK_CAP} * 1000000 div nrt)")
        )
        .drop("nrt")
    )
    # Blocking keys are Zipf-skewed by construction (a popular "rarest"
    # token is the pathological case: one bkey → one reducer doing the
    # whole O(block²) intersect). Salt the left side and replicate the
    # right so each hot block's pair work spreads across n_salts
    # reducers. The EXPLICIT repartition(N, keys) is load-bearing: the
    # shuffled bytes are tiny, so AQE would coalesce an implicit
    # exchange back to one partition and re-serialize the O(block²)
    # intersect CPU; a user repartition with a fixed N is exempt from
    # coalescing and already satisfies the join's distribution, so the
    # join adds no further exchange.
    n_salts = 32
    l2 = l.withColumn(
        "__salt", F.pmod(F.xxhash64("left_id"), F.lit(n_salts))
    ).repartition(2 * n_salts, "bkey", "__salt")
    r2 = r.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).repartition(2 * n_salts, "bkey", "__salt")
    cand = l2.join(r2, ["bkey", "__salt"]).withColumn(
        "n_common", F.size(F.array_intersect("lids", "rids")).cast("long")
    )
    scored = cand.select(
        "left_id",
        "right_id",
        "n_common",
        (F.col("lnt") + F.col("rnt") - F.col("n_common")).cast("long").alias("n_union"),
    ).withColumn(
        "score_ppm", F.expr("n_common * 1000000 div n_union").cast("long")
    )
    w_best = Window.partitionBy("left_id").orderBy(
        F.desc("score_ppm"), F.asc("right_id")
    )
    return (
        scored.filter(F.col("score_ppm") >= _LINK_MIN_PPM)
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("left_id", "right_id", "n_common", "n_union", "score_ppm")
    )


q196_doc_record_linkage.__doc__ = q196_doc_record_linkage.__doc__.format(
    cap=_LINK_BLOCK_CAP
)


# ---------------------------------------------------------------------------
# q197 — score-calibration (reliability) audit over exact deciles
# ---------------------------------------------------------------------------


@register(
    "q197_score_calibration",
    tags=("W1", "A4", "eval", "quality"),
    oracle="""
WITH s AS (
  SELECT doc_id, lang = 'en' AS is_en,
    len(list_distinct(string_split(lower(text), ' '))) * 1000000
      // len(string_split(lower(text), ' ')) AS score
  FROM documents
),
b AS (
  SELECT *, NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM s
)
SELECT CAST(decile AS INTEGER) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
  CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
    AS en_ppm,
  CAST(MIN(score) AS BIGINT) AS min_score,
  CAST(MAX(score) AS BIGINT) AS max_score
FROM b GROUP BY decile
""",
)
def q197_score_calibration(spark: SparkSession, sf_dir: str):
    """Reliability-diagram audit — the model-ops companion to the
    trained scorers (q156/q165): bucket a score into EXACT deciles and
    report, per decile, how often the target condition actually holds
    (here: integer-ppm lexical-uniqueness score vs the doc being
    English) — monotone drift across buckets is what tells you a score
    is informative, flat means useless, non-monotone means miscalibrated.
    Deciles come from `operators.ranking.exact_ntile` — range-partitioned
    global rank + pure integer NTILE arithmetic, NO single-partition
    sort of the corpus (q110's de-globalization precedent) — certified
    here against DuckDB's native NTILE over the same total order
    (score, doc_id).  Scale: one range exchange for the decile, one hash
    aggregate; score itself is a codegen'd column expression."""
    from ..operators.ranking import exact_ntile

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000000"
            " div size(split(lower(text), ' '))"
        ).alias("score"),
    )
    binned = exact_ntile(d, [F.col("score"), F.col("doc_id")], 10, "decile")
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("long").alias("n_en"),
        F.expr("sum(if(is_en, 1, 0)) * 1000000 div count(1)")
        .cast("long")
        .alias("en_ppm"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


# ---------------------------------------------------------------------------
# q198 — deterministic hash-bootstrap confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 64  # resamples; 5th/95th percentile = order stats 4 and 61


@register(
    "q198_hash_bootstrap_ci",
    tags=("A1", "sampling", "eval"),
    oracle=f"""
WITH w AS (
  SELECT d.doc_id, d.source, d.n_chars, t.b,
    CASE
      WHEN h < 94 THEN 0 WHEN h < 188 THEN 1 WHEN h < 235 THEN 2 ELSE 3
    END AS wt
  FROM (SELECT doc_id, source, n_chars FROM documents) d
  CROSS JOIN generate_series(0, {_BOOT_B - 1}) t(b)
  CROSS JOIN LATERAL (
    SELECT ('0x' || substr(md5('boot' || t.b || ':' || d.doc_id), 1, 2))
      ::UBIGINT::BIGINT AS h) hx
),
means AS (
  SELECT source, b,
    SUM(wt * n_chars) * 1000 // NULLIF(SUM(wt), 0) AS mean_milli
  FROM w GROUP BY source, b
),
ranked AS (
  SELECT source, mean_milli,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY mean_milli, b) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS nb
  FROM means WHERE mean_milli IS NOT NULL
)
SELECT d.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(d.n_chars) * 1000 // COUNT(*) AS BIGINT) AS mean_milli,
  CAST(MAX(r4.mean_milli) AS BIGINT) AS boot_lo_milli,
  CAST(MAX(r61.mean_milli) AS BIGINT) AS boot_hi_milli
FROM documents d
LEFT JOIN (SELECT source, mean_milli FROM ranked WHERE rn = 4) r4
  ON d.source = r4.source
LEFT JOIN (SELECT source, mean_milli FROM ranked WHERE rn = nb - 3) r61
  ON d.source = r61.source
GROUP BY d.source
""",
)
def q198_hash_bootstrap_ci(spark: SparkSession, sf_dir: str):
    """Deterministic multiplier bootstrap — error bars without an RNG:
    every (doc, resample b) pair draws an integer weight in {{0,1,2,3}}
    from one md5 byte with Poisson(1)-matched probabilities
    (94/94/47/21 out of 256 ≈ e⁻¹·1/k!), so each of the {_BOOT_B}
    resamples is a reproducible, partitioning-independent reweighting of
    the corpus — the engine's salted-hash sampling discipline (q045,
    q137) extended to uncertainty quantification.  Per source the
    bootstrap distribution of the mean doc length (exact integer
    milli-chars) is summarized by its 4th and 61st order statistics —
    the ~5th/95th percentile bootstrap CI — next to the point estimate.
    Scale shape: the ×{_BOOT_B} expansion carries only (source, n_chars,
    b) — 24 bytes a row, never text; one map-side-combined aggregate to
    O(sources·{_BOOT_B}) rows, then O(sources) windows.  Resamples with
    zero total weight (impossible beyond toy groups) fold away via
    NULLIF."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = d.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
    ).withColumn(
        "wt",
        F.expr(
            """
            CASE
              WHEN conv(substring(md5(concat('boot', b, ':', doc_id)), 1, 2),
                        16, 10) < 94 THEN 0
              WHEN conv(substring(md5(concat('boot', b, ':', doc_id)), 1, 2),
                        16, 10) < 188 THEN 1
              WHEN conv(substring(md5(concat('boot', b, ':', doc_id)), 1, 2),
                        16, 10) < 235 THEN 2
              ELSE 3
            END
            """
        ),
    )
    means = w.groupBy("source", "b").agg(
        F.expr("sum(wt * n_chars) * 1000 div nullif(sum(wt), 0)").alias("mean_milli")
    ).filter(F.col("mean_milli").isNotNull())
    w_rank = Window.partitionBy("source").orderBy("mean_milli", "b")
    ranked = means.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "nb", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    lo = ranked.filter(F.col("rn") == 4).select(
        "source", F.col("mean_milli").alias("boot_lo_milli")
    )
    hi = ranked.filter(F.col("rn") == F.col("nb") - 3).select(
        "source", F.col("mean_milli").alias("boot_hi_milli")
    )
    point = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(n_chars) * 1000 div count(1)").cast("long").alias("mean_milli"),
    )
    return (
        point.join(F.broadcast(lo), "source", "left")
        .join(F.broadcast(hi), "source", "left")
        .select(
            "source",
            "n_docs",
            "mean_milli",
            F.col("boot_lo_milli").cast("long").alias("boot_lo_milli"),
            F.col("boot_hi_milli").cast("long").alias("boot_hi_milli"),
        )
    )


# ---------------------------------------------------------------------------
# q199 — real JPEG codec audit (encode → decode, oracle-exact pixels)
# ---------------------------------------------------------------------------

_JPEG_TILES_X = 3
_JPEG_TILES_Y = 2


@register(
    "q199_jpeg_codec_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH tiles AS (
  SELECT d.doc_id, t.b, (d.doc_id * 7 + t.b * 31) % 256 AS v
  FROM documents d
  CROSS JOIN generate_series(0, {_JPEG_TILES_X * _JPEG_TILES_Y - 1}) t(b)
)
SELECT doc_id,
  CAST({_JPEG_TILES_X * 8} AS INTEGER) AS width,
  CAST({_JPEG_TILES_Y * 8} AS INTEGER) AS height,
  CAST(doc_id * 7 % 256 AS INTEGER) AS first_px,
  CAST(SUM(v) * 64 AS BIGINT) AS px_sum
FROM tiles GROUP BY doc_id
""",
)
def q199_jpeg_codec_audit(spark: SparkSession, sf_dir: str):
    """REAL JPEG pipeline over Arrow batches (operators/multimodal.py):
    per document a genuine baseline JFIF file is ENCODED — a {tx}x{ty}
    grid of flat 8x8 tiles, tile b = (doc_id*7 + 31*b) mod 256, with a
    uniform quantization table of 8s — then fully DECODED by jpeg_probe
    (Huffman entropy decode, byte unstuffing, DC-difference chain across
    tiles, dequantize, batched IDCT).  With flat tiles every AC
    coefficient quantizes to exactly 0 and the DC path is integer-exact,
    so decoded pixels equal the generating formula BIT-FOR-BIT — the
    oracle recomputes the tile formula in SQL and checks the whole-image
    pixel sum, which only matches if every codec stage is correct (the
    q161 PNG pattern, now through a DCT codec).  Lossy-path behavior is
    property-tested separately (tests/test_multimodal_decode.py).  Scale
    shape: generation and decode run as one fused iterator mapInPandas
    (operators/rowmap.py), one Python crossing per task; no payload
    ever reaches the driver; one broadcast-free narrow pipeline
    plus the final checksum join on doc_id."""
    from ..operators.multimodal import encode_jpeg, jpeg_probe

    w_px, h_px = _JPEG_TILES_X * 8, _JPEG_TILES_Y * 8

    def tiles():
        # tile index per pixel is doc-independent: build it once per task
        import numpy as np

        return (
            (np.arange(h_px)[:, None] // 8) * _JPEG_TILES_X
            + np.arange(w_px)[None, :] // 8
        ).ravel()

    def rows_of(tiles, doc_id):
        raw = ((doc_id * 7 + 31 * tiles) % 256).astype("uint8").tobytes()
        yield doc_id, encode_jpeg(w_px, h_px, raw, qtable=[8] * 64)

    gen_df = _doc_rows(spark, sf_dir, rows_of, setup=tiles)
    return jpeg_probe(gen_df, "doc_id", "payload").select(
        F.col("id").alias("doc_id"),
        "width",
        "height",
        "first_px",
        "px_sum",
    )


q199_jpeg_codec_audit.__doc__ = q199_jpeg_codec_audit.__doc__.format(
    tx=_JPEG_TILES_X, ty=_JPEG_TILES_Y
)


# ---------------------------------------------------------------------------
# q200 — real video frame sampling audit (Y4M, oracle-exact luma stats)
# ---------------------------------------------------------------------------

_Y4M_W = 8
_Y4M_H = 6


@register(
    "q200_video_frame_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH f AS (
  SELECT d.doc_id, t.i AS frame_index,
    (d.doc_id * 11 + 13 * t.i) % 256 AS v,
    1 + d.doc_id % 4 AS n_frames
  FROM documents d
  CROSS JOIN generate_series(0, 3) t(i)
)
SELECT doc_id, CAST(frame_index AS INTEGER) AS frame_index,
  CAST(frame_index * 100 AS BIGINT) AS frame_ms,
  CAST(v AS INTEGER) AS y_first,
  CAST(v * {_Y4M_W * _Y4M_H} AS BIGINT) AS y_sum
FROM f WHERE frame_index < n_frames
""",
)
def q200_video_frame_audit(spark: SparkSession, sf_dir: str):
    """REAL video pipeline (operators/multimodal.py): per document a
    genuine YUV4MPEG2 stream is encoded — 1 + doc_id%4 flat {w}x{h} luma
    frames at 10 fps, frame i = (doc_id*11 + 13i) mod 256 — then frame-
    sampled through y4m_frame_stats on the stream's own F num:den
    timebase (every 100 ms = the frame period, so every frame samples
    exactly once) and the decoded per-frame luma stats (first byte,
    whole-plane sum) must match the generating formula BIT-FOR-BIT in
    the oracle.  This is the video twin of q161/q199: the Spark-side
    plumbing (binary payloads, Arrow batches, in-UDF row explosion) and
    the parser are both real; only COMPRESSED video remains behind the
    honest pyav boundary.  Scale shape: generation and sampling run as
    one fused narrow mapInPandas (operators/rowmap.py) after an
    explicit repartition of bare ids — frame planes never shuffle and
    never reach the driver."""
    from ..operators.multimodal import encode_y4m, y4m_frame_stats

    def rows_of(doc_id):
        frames = [
            bytes([(doc_id * 11 + 13 * i) % 256]) * (_Y4M_W * _Y4M_H)
            for i in range(1 + doc_id % 4)
        ]
        yield doc_id, encode_y4m(_Y4M_W, _Y4M_H, frames, fps=(10, 1))

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return y4m_frame_stats(
        gen_df, "doc_id", "payload", every_ms=100, max_frames=8
    ).select(
        F.col("id").alias("doc_id"),
        "frame_index",
        "frame_ms",
        "y_first",
        "y_sum",
    )


q200_video_frame_audit.__doc__ = q200_video_frame_audit.__doc__.format(
    w=_Y4M_W, h=_Y4M_H
)


# ---------------------------------------------------------------------------
# q201 — exact ROC/AUC of the lexical-uniqueness quality score
# ---------------------------------------------------------------------------


@register(
    "q201_quality_score_auc",
    tags=("eval", "A1", "W1", "quality"),
    oracle="""
WITH s AS (
  SELECT doc_id, lang = 'en' AS y,
    len(list_distinct(string_split(lower(text), ' '))) * 1000000
      // len(string_split(lower(text), ' ')) AS sc
  FROM documents
),
g AS (
  SELECT sc, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS neg
  FROM s GROUP BY sc
),
c AS (
  SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sc
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
  FROM g
),
u AS (
  SELECT SUM(pos) AS np, SUM(neg) AS nn,
         SUM(pos * (2 * cnb + neg)) AS u2
  FROM c
),
b AS (
  SELECT y, NTILE(10) OVER (ORDER BY sc DESC, doc_id) AS cut FROM s
),
per AS (
  SELECT cut, COUNT(*) AS n_rows,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
  FROM b GROUP BY cut
),
r AS (
  SELECT cut, SUM(n_rows) OVER (ORDER BY cut) AS n_pred_pos,
         SUM(n_pos) OVER (ORDER BY cut) AS tp
  FROM per
)
SELECT CAST(cut AS INTEGER) AS cut,
  CAST(n_pred_pos AS BIGINT) AS n_pred_pos,
  CAST(tp AS BIGINT) AS tp,
  CAST(n_pred_pos - tp AS BIGINT) AS fp,
  CAST(tp * 1000000 // np AS BIGINT) AS tpr_ppm,
  CAST((n_pred_pos - tp) * 1000000 // nn AS BIGINT) AS fpr_ppm,
  CAST(u2 * 1000000 // (2 * np * nn) AS BIGINT) AS auc_ppm
FROM r, u
""",
)
def q201_quality_score_auc(spark: SparkSession, sf_dir: str):
    """Exact ROC/AUC eval of a quality score (operators/evalmetrics.py)
    — the discrimination companion to q197's calibration audit: does the
    lexical-uniqueness score actually SEPARATE English from non-English?
    AUC is the tie-aware Mann-Whitney statistic kept integral by
    carrying 2U (2U = Σ_s pos_s·(2·neg_below_s + neg_s) over the
    distinct-score histogram) — bit-exact, no trapezoid floats; the ten
    ROC operating points come from exact count-decile thresholds
    (range-partitioned exact_ntile, q110 precedent, no single-partition
    corpus sort).  Scale shape: one hash aggregate over the corpus per
    branch; the only windows run over the distinct-score histogram
    (bounded: scores are ppm ints) and the 10 decile rows; the one-row
    AUC result broadcasts onto the points (allowlisted scalar BNLJ,
    q154 precedent)."""
    from ..operators.evalmetrics import exact_binary_auc, roc_points

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("lang") == "en").alias("y"),
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000000L"
            " div size(split(lower(text), ' '))"
        ).alias("sc"),
    )
    auc = exact_binary_auc(d, "sc", "y").select("auc_ppm")
    pts = roc_points(d, "sc", "y", "doc_id", n_cuts=10)
    return pts.crossJoin(F.broadcast(auc))


# ---------------------------------------------------------------------------
# q202 — Cohen's kappa: heuristic lang-ID vs gold labels
# ---------------------------------------------------------------------------


@register(
    "q202_lang_id_kappa",
    tags=("eval", "text", "A1"),
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS en_s,
    len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS es_s,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS de_s,
    len(list_filter(toks, x -> list_contains(['le','la','et','est','les'], x))) AS fr_s,
    len(list_filter(toks, x -> list_contains(['的','是','了','在','和'], x))) AS zh_s
  FROM t
), p AS (
  SELECT doc_id, lang,
    CASE WHEN en_s >= greatest(es_s, de_s, fr_s, zh_s) THEN 'en'
         WHEN es_s >= greatest(de_s, fr_s, zh_s) THEN 'es'
         WHEN de_s >= greatest(fr_s, zh_s) THEN 'de'
         WHEN fr_s >= zh_s THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM s
), m AS (
  SELECT lang, pred_lang, COUNT(*) AS c FROM p GROUP BY lang, pred_lang
), rows_ AS (SELECT lang AS k, SUM(c) AS r FROM m GROUP BY lang),
cols_ AS (SELECT pred_lang AS k, SUM(c) AS cc FROM m GROUP BY pred_lang),
e AS (
  SELECT SUM(r * COALESCE(cc, 0)) AS e FROM rows_ LEFT JOIN cols_ USING (k)
), tot AS (
  SELECT SUM(c) AS n,
         SUM(CASE WHEN lang = pred_lang THEN c ELSE 0 END) AS n_agree
  FROM m
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(n_agree AS BIGINT) AS n_agree,
  CAST(e AS BIGINT) AS chance_pairs,
  CAST(n * n_agree - e AS BIGINT) AS kappa_num,
  CAST(n * n - e AS BIGINT) AS kappa_den,
  CAST(CASE WHEN n * n_agree - e >= 0
       THEN (n * n_agree - e) * 1000000 // (n * n - e)
       ELSE -((e - n * n_agree) * 1000000 // (n * n - e)) END AS BIGINT)
    AS kappa_ppm
FROM tot, e
""",
)
def q202_lang_id_kappa(spark: SparkSession, sf_dir: str):
    """Inter-annotator agreement as a first-class eval op
    (operators/evalmetrics.py::cohens_kappa): the engine's heuristic
    marker-word language-ID (q029's predictor, operators/text.py) is
    treated as annotator A, the gold ``lang`` column as annotator B, and
    κ = (p_o − p_e)/(1 − p_e) is computed EXACTLY on the integer
    confusion matrix — n·Σdiag and Σ row_k·col_k never leave BIGINT, κ
    reported in truncate-toward-zero ppm (sign-safe on both engines).
    Accuracy alone overstates a labeler on skewed label mixes; κ is the
    chance-corrected number a labeling pipeline gates on.  Scale shape:
    ONE corpus aggregate (the 5×5 confusion matrix); everything after is
    arithmetic on ≤25 rows."""
    from ..operators.evalmetrics import cohens_kappa
    from ..operators.text import language_id, tokens

    d = load(spark, sf_dir, "documents").select(
        "lang", tokens("text").alias("__toks")
    )
    pred = d.select(F.col("lang"), language_id("__toks").alias("pred_lang"))
    return cohens_kappa(pred, "lang", "pred_lang")


# ---------------------------------------------------------------------------
# q203 — next-event training examples: order-3 Markov transition table
# ---------------------------------------------------------------------------


@register(
    "q203_markov_transition_examples",
    tags=("timeseries", "W1", "A1", "training-data"),
    oracle="""
WITH e AS (
  SELECT user_id, event_type,
    LAG(event_type, 3) OVER w AS c1,
    LAG(event_type, 2) OVER w AS c2,
    LAG(event_type, 1) OVER w AS c3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT c1 || '>' || c2 || '>' || c3 AS context,
  event_type AS label,
  CAST(COUNT(*) AS BIGINT) AS n_examples
FROM e WHERE c1 IS NOT NULL
GROUP BY context, label
""",
)
def q203_markov_transition_examples(spark: SparkSession, sf_dir: str):
    """Training-example construction for next-event prediction: every
    user's event stream (total order: event time, event_id tiebreak)
    yields one example per position — context = the 3 trailing event
    types, label = the current one — aggregated into the order-3 Markov
    transition table (context, label, n_examples) that both trains a
    baseline sequence model and prices the dataset (examples per
    pattern).  The per-user sequencing and the example aggregation are
    the two halves of what a sequence-model data pipeline does before
    tokenization; sequence PACKING of such examples is q144.  Scale
    shape: one shuffle to the user partition for the lag window, then
    one hash aggregate bounded by |event_type|⁴ — the example stream
    itself never materializes wide rows."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    ctx = e.select(
        "event_type",
        F.lag("event_type", 3).over(w).alias("c1"),
        F.lag("event_type", 2).over(w).alias("c2"),
        F.lag("event_type", 1).over(w).alias("c3"),
    ).filter(F.col("c1").isNotNull())
    return ctx.groupBy(
        F.concat_ws(">", "c1", "c2", "c3").alias("context"),
        F.col("event_type").alias("label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_examples"))


# ---------------------------------------------------------------------------
# q204 — T5-style span-corruption example audit
# ---------------------------------------------------------------------------

_SPAN_MASK_MOD = 10
_SPAN_MASK_KEEP = 2  # mask a token iff md5-bucket < 2  (20% corruption)


@register(
    "q204_span_corruption_examples",
    tags=("training-data", "W1", "A1", "text"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, i, t,
    CAST(('0x' || substr(md5(doc_id || ':' || i), 1, 8)) AS BIGINT)
      % {_SPAN_MASK_MOD} < {_SPAN_MASK_KEEP} AS masked
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS i
    FROM documents
  ) WHERE t <> ''
),
runs AS (
  SELECT doc_id, i, masked,
    CASE WHEN masked AND NOT COALESCE(LAG(masked) OVER (
      PARTITION BY doc_id ORDER BY i), FALSE) THEN 1 ELSE 0 END AS span_start
  FROM tok
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
  CAST(SUM(span_start) AS BIGINT) AS n_spans,
  CAST(COUNT(*) - SUM(CASE WHEN masked THEN 1 ELSE 0 END) + SUM(span_start)
    AS BIGINT) AS n_input_tokens,
  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) + SUM(span_start) AS BIGINT)
    AS n_target_tokens
FROM runs GROUP BY doc_id
""",
)
def q204_span_corruption_examples(spark: SparkSession, sf_dir: str):
    """T5-style span-corruption example construction, audited exactly:
    each document token is masked by a DETERMINISTIC salted-hash draw
    (md5(doc_id:position) bucket < 20% — the engine's RNG-free sampling
    discipline, q045/q137 precedent), consecutive masked tokens merge
    into spans (gaps-and-islands via one lag window), and the example
    accounting follows the T5 encoder/decoder layout: input length =
    kept tokens + one sentinel per span; target length = masked tokens +
    one sentinel per span.  The oracle replays the identical hash draws
    and window in DuckDB, so the span structure — not just counts — is
    certified.  Scale shape: explode → one doc-partitioned window (each
    doc's tokens are one partition's rows, bounded by doc length) → one
    hash aggregate back to doc grain; the hash draw is a codegen'd
    column expression, no Python, no RNG state."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    tok = d.select(
        "doc_id",
        F.posexplode("toks").alias("i", "t"),
    ).filter(F.col("t") != "")
    masked = tok.withColumn(
        "masked",
        F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", "i")), 1, 8), 16, 10)
        .cast("long")
        % _SPAN_MASK_MOD
        < _SPAN_MASK_KEEP,
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = masked.withColumn(
        "span_start",
        (
            F.col("masked")
            & ~F.coalesce(F.lag("masked").over(w), F.lit(False))
        ).cast("int"),
    )
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("masked").cast("int")).cast("long").alias("n_masked"),
        F.sum("span_start").cast("long").alias("n_spans"),
        (
            F.count(F.lit(1))
            - F.sum(F.col("masked").cast("int"))
            + F.sum("span_start")
        )
        .cast("long")
        .alias("n_input_tokens"),
        (F.sum(F.col("masked").cast("int")) + F.sum("span_start"))
        .cast("long")
        .alias("n_target_tokens"),
    )


# ---------------------------------------------------------------------------
# q205 — diverse subset selection (greedy MMR, unrolled-CTE oracle)
# ---------------------------------------------------------------------------

_MMR_K = 4
_MMR_LAM = 20_000


def _mmr_ctes(k: int, lam: int) -> str:
    """Unrolled greedy-MMR replay: step n picks the argmax of
    rel − lam·max_overlap(selected so far), ties to smallest id — the
    exact trajectory operators/selection.py::mmr_select walks."""
    parts = [
        """s1 AS (
  SELECT id, rel, CAST(0 AS BIGINT) AS pen, rel AS obj
  FROM pool ORDER BY obj DESC, id LIMIT 1
), sel1 AS (SELECT id FROM s1)"""
    ]
    for n in range(2, k + 1):
        parts.append(
            f"""s{n} AS (
  SELECT id, rel, pen, rel - {lam} * pen AS obj FROM (
    SELECT p.id, p.rel,
           CAST(MAX(len(list_intersect(p.toks, q.toks))) AS BIGINT) AS pen
    FROM pool p, pool q
    WHERE q.id IN (SELECT id FROM sel{n - 1})
      AND p.id NOT IN (SELECT id FROM sel{n - 1})
    GROUP BY p.id, p.rel
  ) ORDER BY obj DESC, id LIMIT 1
), sel{n} AS (SELECT id FROM sel{n - 1} UNION ALL SELECT id FROM s{n})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {n} AS selection_rank, id, rel, pen, obj FROM s{n}"
        for n in range(1, k + 1)
    )
    return ",\n".join(parts) + f", picks AS (\n{union}\n)"


@register(
    "q205_mmr_diverse_selection",
    tags=("training-data", "dedup", "topk", "iterative"),
    oracle=f"""
WITH pool AS (
  SELECT doc_id AS id,
    list_distinct(string_split(lower(text), ' ')) AS toks,
    CAST(len(list_distinct(string_split(lower(text), ' '))) * 1000000
      // len(string_split(lower(text), ' ')) AS BIGINT) AS rel
  FROM documents WHERE doc_id % 17 = 0
),
{_mmr_ctes(_MMR_K, _MMR_LAM)}
SELECT CAST(selection_rank AS INTEGER) AS selection_rank,
  id AS doc_id, rel AS rel_ppm,
  CAST(pen AS BIGINT) AS penalty, CAST(obj AS BIGINT) AS objective
FROM picks
""",
)
def q205_mmr_diverse_selection(spark: SparkSession, sf_dir: str):
    """Diversity-aware subset selection (operators/selection.py): greedy
    maximal-marginal-relevance picks {k} documents from a deterministic
    candidate pool (doc_id % 17 = 0), each step maximizing
    lexical-uniqueness relevance minus {lam}·(max shared distinct tokens
    with anything already selected) — the curation primitive behind
    diverse eval seeds / few-shot pools, where pure top-k by quality
    returns near-duplicates.  Integer-exact with a total tiebreak, so
    the whole greedy TRAJECTORY is certified by an unrolled-CTE oracle
    (k-means/perceptron precedent), not just the final set.  Scale
    shape: lazy greedy (Minoux) — each Spark job collects a small
    top-(batch+1) slice of the cached pool by the current objective
    and the driver replays exact greedy inside it, refreshing only
    when the monotone upper bound is violated: typically ⌈k/batch⌉
    jobs, provably identical picks; unbounded corpora cap the pool
    first (``pool_cap`` two-stage)."""
    from ..operators.selection import mmr_select

    pool = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 17 == 0
    ).select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"),
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000000L"
            " div size(split(lower(text), ' '))"
        ).alias("rel"),
    )
    picks = mmr_select(pool, "id", "toks", "rel", k=_MMR_K, lam=_MMR_LAM)
    return spark.createDataFrame(
        [
            (p["rank"], p["id"], p["rel"], p["penalty"], p["objective"])
            for p in picks
        ],
        "selection_rank int, doc_id long, rel_ppm long, penalty long, objective long",
    )


q205_mmr_diverse_selection.__doc__ = q205_mmr_diverse_selection.__doc__.format(
    k=_MMR_K, lam=_MMR_LAM
)


# ---------------------------------------------------------------------------
# q206 — exact embedding Gram matrix (PCA/whitening input)
# ---------------------------------------------------------------------------

_GRAM_D = 8
_GRAM_SCALE = 1000


def _gram_oracle(d: int, scale: int) -> str:
    q = (
        f"CAST(floor(embedding[{{k}}] * {scale}) AS BIGINT)"  # 1-based in DuckDB
    )
    selects = []
    for i in range(d):
        for j in range(i, d):
            selects.append(
                f"SELECT {i} AS i, {j} AS j, CAST(COUNT(*) AS BIGINT) AS n_vecs,"
                f" CAST(SUM({q.format(k=i + 1)} * {q.format(k=j + 1)}) AS BIGINT)"
                f" AS gram FROM embeddings"
            )
    return "\nUNION ALL\n".join(selects)


@register(
    "q206_embedding_gram_matrix",
    tags=("embedding", "A7", "training-data"),
    oracle=_gram_oracle(_GRAM_D, _GRAM_SCALE),
)
def q206_embedding_gram_matrix(spark: SparkSession, sf_dir: str):
    """Exact Gram/covariance accumulation over the embedding corpus —
    the one-pass sufficient statistic behind PCA whitening, degenerate-
    direction detection and anisotropy audits (the embedding-QA family
    q160/q181): G[i,j] = Σ_v q_i(v)·q_j(v) over the first {d} dims
    (Matryoshka-prefix precedent), with q = floor(x·{s}) integer
    quantization — floor, not round, so both engines agree on every
    float without half-tie hazards.  All {np} upper-triangle entries
    come out of ONE hash aggregate with map-side combine (no per-pair
    pass, no shuffle of vectors), then unpivot to (i, j, n_vecs, gram)
    rows.  The eigen step on the {d}x{d} result is driver-side numpy
    (operators/similarity.py::whitening_from_gram) — O(d³) on O(d²)
    data, the same bounded-driver-state idiom as k-means init.  Scale
    shape: the corpus is read once; the aggregate state is {np}+1 longs
    per task."""
    e = load(spark, sf_dir, "embeddings")
    q = [
        F.floor(F.col("embedding").getItem(k) * _GRAM_SCALE).cast("long")
        for k in range(_GRAM_D)
    ]
    aggs = [F.count(F.lit(1)).cast("long").alias("n_vecs")]
    pairs = []
    for i in range(_GRAM_D):
        for j in range(i, _GRAM_D):
            pairs.append((i, j))
            aggs.append(F.sum(q[i] * q[j]).cast("long").alias(f"g_{i}_{j}"))
    one = e.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                F.col("n_vecs").alias("n_vecs"),
                F.col(f"g_{i}_{j}").alias("gram"),
            )
            for i, j in pairs
        ]
    )
    return (
        one.select(F.explode(structs).alias("s"))
        .select("s.i", "s.j", "s.n_vecs", "s.gram")
    )


q206_embedding_gram_matrix.__doc__ = q206_embedding_gram_matrix.__doc__.format(
    d=_GRAM_D, s=_GRAM_SCALE, np=_GRAM_D * (_GRAM_D + 1) // 2
)


# ---------------------------------------------------------------------------
# q207 — cross-source contamination matrix (pairwise 8-gram overlap)
# ---------------------------------------------------------------------------

_XSRC_N = 8


@register(
    "q207_source_overlap_matrix",
    tags=("dedup", "A3", "J1", "training-data"),
    oracle=f"""
WITH toks AS (
  SELECT source, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_XSRC_N}
), sh AS (
  SELECT DISTINCT source, array_to_string(t[i:i+{_XSRC_N - 1}], ' ') AS gram
  FROM (SELECT source, t,
        unnest(generate_series(1, len(t)-{_XSRC_N - 1})) AS i FROM toks)
), sz AS (SELECT source, COUNT(*) AS n_grams FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa, sb, shared,
  CAST(za.n_grams AS BIGINT) AS n_a, CAST(zb.n_grams AS BIGINT) AS n_b,
  CAST(shared * 1000000 // LEAST(za.n_grams, zb.n_grams) AS BIGINT)
    AS containment_ppm
FROM pairs
JOIN sz za ON za.source = sa
JOIN sz zb ON zb.source = sb
""",
)
def q207_source_overlap_matrix(spark: SparkSession, sf_dir: str):
    """Cross-SOURCE contamination matrix — the corpus-level twin of
    per-document decontamination (q044): for every source pair, how many
    distinct {n}-grams they share, normalized by the smaller side
    (containment ppm) — the audit that catches one crawl slice wholesale
    republishing another before both are "deduplicated" against eval
    sets only.  Scale shape: the corpus explodes to DISTINCT (source,
    gram) once (one shuffle); grams then group to their source SET
    (bounded by |sources|) and pairs explode INSIDE the row — fan-out is
    C(sources-per-gram, 2) ≤ C(|sources|,2), never a gram-level
    self-join of the corpus; per-source sizes broadcast onto the ≤
    C(|sources|,2) result rows.  The oracle takes the opposite
    (self-join) plan, so agreement certifies the set-fold."""
    n = _XSRC_N
    d = load(spark, sf_dir, "documents").select(
        "source", F.split(F.lower("text"), " ").alias("t")
    ).filter(F.size("t") >= n)
    sh = d.select(
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {n}),"
                f" i -> array_join(slice(t, i + 1, {n}), ' '))"
            )
        ).alias("gram"),
    ).distinct()
    sz = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    by_gram = sh.groupBy("gram").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    ).filter(F.size("srcs") >= 2)
    pairs = by_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) ->"
                " transform(slice(srcs, i + 2, size(srcs)),"
                " y -> struct(x AS sa, y AS sb))))"
            )
        ).alias("p")
    ).groupBy("p.sa", "p.sb").agg(F.count(F.lit(1)).cast("long").alias("shared"))
    za = sz.select(F.col("source").alias("sa"), F.col("n_grams").alias("n_a"))
    zb = sz.select(F.col("source").alias("sb"), F.col("n_grams").alias("n_b"))
    return (
        pairs.join(F.broadcast(za), "sa")
        .join(F.broadcast(zb), "sb")
        .select(
            "sa",
            "sb",
            "shared",
            "n_a",
            "n_b",
            F.expr("shared * 1000000 div least(n_a, n_b)")
            .cast("long")
            .alias("containment_ppm"),
        )
    )


q207_source_overlap_matrix.__doc__ = q207_source_overlap_matrix.__doc__.format(
    n=_XSRC_N
)


# ---------------------------------------------------------------------------
# q208 — dedup savings priced in training tokens, per source
# ---------------------------------------------------------------------------


@register(
    "q208_dedup_token_savings",
    tags=("dedup", "A1", "training-data"),
    oracle="""
WITH d AS (
  SELECT doc_id, source, md5(text) AS h,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
),
keep AS (
  SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY h) AS keeper FROM d
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_docs,
  CAST(SUM(CASE WHEN keeper THEN n_tok ELSE 0 END) AS BIGINT)
    AS n_effective_tokens,
  CAST(SUM(CASE WHEN keeper THEN 0 ELSE n_tok END) * 1000000
       // SUM(n_tok) AS BIGINT) AS waste_ppm
FROM keep GROUP BY source
""",
)
def q208_dedup_token_savings(spark: SparkSession, sf_dir: str):
    """Dedup savings PRICED IN TRAINING TOKENS, per source — the number
    a curation run reports upward: raw token volume, post-exact-dedup
    effective tokens (first-occurrence keeper by doc_id, the engine's
    exact-dedup semantics q021/q087), and the ppm of the token budget
    that duplicates were about to burn.  Token pricing turns "n dup
    docs" into compute dollars; per-source attribution says WHICH feed
    to fix.  Scale shape: one window over md5(text) hash groups (only
    32-byte hashes shuffle — q021's discipline; text never leaves its
    partition) and one hash aggregate to source grain."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_tok"),
    )
    w = Window.partitionBy("h")
    keep = d.withColumn("keeper", F.col("doc_id") == F.min("doc_id").over(w))
    return keep.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("keeper"), 0).otherwise(1)).cast("long").alias("n_dup_docs"),
        F.sum(F.when(F.col("keeper"), F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("n_effective_tokens"),
        F.expr(
            "sum(case when keeper then 0 else n_tok end) * 1000000"
            " div sum(n_tok)"
        )
        .cast("long")
        .alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# q209 — color JPEG codec audit (YCbCr 4:4:4, oracle-exact)
# ---------------------------------------------------------------------------


@register(
    "q209_jpeg_color_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH tiles AS (
  SELECT d.doc_id, t.b, (d.doc_id * 13 + t.b * 29) % 256 AS v
  FROM documents d
  CROSS JOIN generate_series(0, {_JPEG_TILES_X * _JPEG_TILES_Y - 1}) t(b)
)
SELECT doc_id,
  CAST({_JPEG_TILES_X * 8} AS INTEGER) AS width,
  CAST({_JPEG_TILES_Y * 8} AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST(doc_id * 13 % 256 AS INTEGER) AS first_px,
  CAST(SUM(v) * 64 * 3 AS BIGINT) AS px_sum
FROM tiles GROUP BY doc_id
""",
)
def q209_jpeg_color_audit(spark: SparkSession, sf_dir: str):
    """COLOR twin of q199: a genuine 3-component YCbCr 4:4:4 baseline
    JFIF per document — flat GRAY tiles (R=G=B = (doc_id*13+29b) mod
    256), so Y carries the exact integer value while Cb/Cr quantize to
    exactly 0 and the interleaved-MCU pipeline (per-component DC
    predictor chains, two quantization tables, both color transforms)
    is integer-exact END TO END; the oracle recomputes the whole-image
    RGB pixel sum in closed form.  Chromatic content is lossy by nature
    and lives in the property tests; this query certifies the color
    STRUCTURE bit-for-bit.  Same fused generate+decode mapInPandas
    shape as q199."""
    from ..operators.multimodal import encode_jpeg, jpeg_probe

    w_px, h_px = _JPEG_TILES_X * 8, _JPEG_TILES_Y * 8

    def tiles():
        import numpy as np

        return np.repeat(
            (
                (np.arange(h_px)[:, None] // 8) * _JPEG_TILES_X
                + np.arange(w_px)[None, :] // 8
            ).ravel(),
            3,  # R=G=B
        )

    def rows_of(tiles, doc_id):
        raw = ((doc_id * 13 + 29 * tiles) % 256).astype("uint8").tobytes()
        yield doc_id, encode_jpeg(w_px, h_px, raw, qtable=[8] * 64, channels=3)

    gen_df = _doc_rows(spark, sf_dir, rows_of, setup=tiles)
    return jpeg_probe(gen_df, "doc_id", "payload").select(
        F.col("id").alias("doc_id"),
        "width",
        "height",
        "channels",
        "first_px",
        "px_sum",
    )


# ---------------------------------------------------------------------------
# q210 — preference-pair construction (reward-model training examples)
# ---------------------------------------------------------------------------

_PREF_PAIRS_PER_GROUP = 3


@register(
    "q210_preference_pairs",
    tags=("training-data", "W1", "J5", "eval"),
    oracle=f"""
WITH s AS (
  SELECT doc_id, source,
    CAST(len(list_distinct(string_split(lower(text), ' '))) * 1000000
      // len(string_split(lower(text), ' ')) AS BIGINT) AS score
  FROM documents
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY score DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM s
)
SELECT a.source,
  CAST(a.rk AS INTEGER) AS pair_rank,
  a.doc_id AS chosen_id, b.doc_id AS rejected_id,
  a.score AS chosen_score, b.score AS rejected_score,
  a.score - b.score AS margin_ppm
FROM r a JOIN r b
  ON a.source = b.source AND b.rk = a.rk + a.n // 2
WHERE a.rk <= {_PREF_PAIRS_PER_GROUP} AND a.score > b.score
""",
)
def q210_preference_pairs(spark: SparkSession, sf_dir: str):
    """Preference-pair construction — the reward-model / DPO data stage:
    within each prompt group (source), documents rank by quality score
    (lexical uniqueness ppm, total tiebreak) and the top-{k} each pair
    with the document half the group below them (rank i ↔ rank i+n/2) —
    the standard "clear margin" pairing that avoids near-tie label noise;
    pairs where the margin would be ≤ 0 are dropped, and the exact
    integer margin rides along as a training weight.  Scale shape: ONE
    shuffle to the group partition serves both rank windows, then a
    self-join on (group, rank) — rank is unique per group so the join is
    1:1, no fan-out; output is k rows per group."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000000L"
            " div size(split(lower(text), ' '))"
        ).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    r = d.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    a = r.filter(F.col("rk") <= _PREF_PAIRS_PER_GROUP).select(
        "source",
        F.col("rk").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
        (F.col("rk") + F.expr("n div 2")).alias("target_rk"),
    )
    b = r.select(
        "source",
        F.col("rk").alias("target_rk"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        a.join(b, ["source", "target_rk"])
        .filter(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "source",
            F.col("pair_rank").cast("integer").alias("pair_rank"),
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q213 — chroma-subsampled JPEG audit (4:2:0 / 4:2:2, oracle-exact)
# ---------------------------------------------------------------------------

_JPEG_SS_W = 24
_JPEG_SS_H = 16


@register(
    "q213_jpeg_subsampled_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH tiles AS (
  SELECT * FROM (VALUES
    ('420', 0, 0, 256), ('420', 1, 0, 128),
    ('422', 0, 101, 128), ('422', 1, 101, 64),
    ('422', 2, 101, 128), ('422', 3, 101, 64)
  ) t(mode, tile, moff, npx)
)
SELECT d.doc_id, t.mode,
  CAST({_JPEG_SS_W} AS INTEGER) AS width,
  CAST({_JPEG_SS_H} AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST((d.doc_id * 11 + t.moff) % 256 AS INTEGER) AS first_px,
  CAST(SUM(((d.doc_id * 11 + 37 * t.tile + t.moff) % 256) * t.npx * 3)
    AS BIGINT) AS px_sum
FROM documents d CROSS JOIN tiles t
GROUP BY d.doc_id, t.mode, t.moff
""",
)
def q213_jpeg_subsampled_audit(spark: SparkSession, sf_dir: str):
    """Chroma-SUBSAMPLED twin of q209 — the dominant real-world JPEG
    shapes: per document a genuine 4:2:0 JFIF (16x16 MCUs, luma 2x2)
    and a genuine 4:2:2 JFIF (16x8 MCUs, luma 2x1) are encoded with a
    constant gray value per MCU region (value = (doc_id*11 + 37*tile +
    mode_offset) mod 256 over a {w}x{h} canvas, so the 4:2:0 file has 2
    tiles and the 4:2:2 file 4, and the second MCU column exercises the
    crop path: 24 px = 1.5 MCUs).  Over constant regions box-average
    chroma downsampling and replication upsampling are EXACT and every
    AC coefficient quantizes to 0, so the multi-block interleaved MCU
    pipeline (operators/multimodal.py: per-component sampling factors,
    h*v luma blocks per MCU, per-component DC predictor chains, chroma
    reassembly + upsample) is integer-exact END TO END; the oracle
    recomputes both whole-image RGB pixel sums in closed form.  Lossy
    chromatic content lives in the property tests
    (tests/test_multimodal_decode.py).  Scale shape: same fused
    generate+decode iterator-mapInPandas as q199/q209 — payloads never touch
    the driver, one cheap shuffle of bare longs fans the CPU-bound
    codec work across executors."""
    from ..operators.multimodal import encode_jpeg, jpeg_probe

    w_px, h_px = _JPEG_SS_W, _JPEG_SS_H
    modes = (("420", 16, 16, 0), ("422", 16, 8, 101))

    def mode_tiles():
        # per-mode pixel->tile maps are doc-independent: build once per task
        import numpy as np

        out = []
        for mode, mw, mh, moff in modes:
            mcux = -(-w_px // mw)
            tiles = np.repeat(
                (
                    (np.arange(h_px)[:, None] // mh) * mcux
                    + np.arange(w_px)[None, :] // mw
                ).ravel(),
                3,
            )
            out.append((mode, moff, tiles))
        return out

    def rows_of(mode_tiles, doc_id):
        for mi, (mode, moff, tiles) in enumerate(mode_tiles):
            raw = ((doc_id * 11 + 37 * tiles + moff) % 256).astype("uint8").tobytes()
            yield doc_id * 2 + mi, encode_jpeg(
                w_px, h_px, raw, qtable=[8] * 64, channels=3, subsampling=mode
            )

    gen_df = _doc_rows(
        spark, sf_dir, rows_of, schema="id long, payload binary", setup=mode_tiles
    )
    return jpeg_probe(gen_df, "id", "payload").select(
        (F.col("id") / 2).cast("long").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("420")).otherwise(F.lit("422")).alias("mode"),
        "width",
        "height",
        "channels",
        "first_px",
        "px_sum",
    )


q213_jpeg_subsampled_audit.__doc__ = q213_jpeg_subsampled_audit.__doc__.format(
    w=_JPEG_SS_W, h=_JPEG_SS_H
)


# ---------------------------------------------------------------------------
# q214 — compressed-video frame sampling audit (MJPEG AVI, oracle-exact)
# ---------------------------------------------------------------------------

_MJPEG_W = 16
_MJPEG_H = 16


@register(
    "q214_mjpeg_frame_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
SELECT d.doc_id,
  CAST(2 * k.k AS INTEGER) AS frame_index,
  CAST(2 * k.k * 250 AS BIGINT) AS frame_ms,
  CAST((d.doc_id * 23 + 19 * 2 * k.k) % 256 AS INTEGER) AS px_first,
  CAST(((d.doc_id * 23 + 19 * 2 * k.k) % 256)
    * {_MJPEG_W * _MJPEG_H * 3} AS BIGINT) AS px_sum
FROM documents d CROSS JOIN generate_series(0, 3) k(k)
WHERE 2 * k.k < 3 + d.doc_id % 5
""",
)
def q214_mjpeg_frame_audit(spark: SparkSession, sf_dir: str):
    """COMPRESSED-video twin of q200 with a real codec in the loop: per
    document a genuine MJPEG AVI (RIFF 'hdrl'/'movi'/idx1, fourcc MJPG,
    4 fps) holding 3 + doc_id%5 frames, each frame a real 4:2:0 baseline
    JPEG of constant value (doc_id*23 + 19*frame) mod 256 on a {w}x{h}
    canvas; ``mjpeg_frame_stats`` (operators/multimodal.py) walks the
    container, picks the frame at each 500 ms boundary on the AVI's own
    rate/scale timebase, and JPEG-decodes ONLY the sampled frames —
    flat 4:2:0 tiles decode integer-exactly, so the oracle recomputes
    every sampled frame's first pixel and whole-frame RGB sum in closed
    form (frames 0,2,4,6 while they exist).  At 100 TB this sampling
    shape reads n_sampled, not n_total, JPEG decodes per clip — the
    reason the container stays compressed until the sample point.
    Scale shape: one fused iterator-mapInPandas (generate+mux, then
    sample+decode); payloads and pixels never leave the UDFs; one cheap
    shuffle of bare longs spreads the CPU-bound codec work."""
    from ..operators.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg,
        mjpeg_frame_stats,
    )

    w_px, h_px = _MJPEG_W, _MJPEG_H

    def rows_of(doc_id):
        frames = [
            encode_jpeg(
                w_px, h_px,
                bytes([(doc_id * 23 + 19 * k) % 256]) * (w_px * h_px * 3),
                qtable=[8] * 64, channels=3, subsampling="420",
            )
            for k in range(3 + doc_id % 5)
        ]
        yield doc_id, encode_avi_mjpeg(w_px, h_px, frames, fps=(4, 1))

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return mjpeg_frame_stats(gen_df, "doc_id", "payload", every_ms=500).select(
        F.col("id").alias("doc_id"),
        "frame_index",
        "frame_ms",
        "px_first",
        "px_sum",
    )


q214_mjpeg_frame_audit.__doc__ = q214_mjpeg_frame_audit.__doc__.format(
    w=_MJPEG_W, h=_MJPEG_H
)


# ---------------------------------------------------------------------------
# q215 — corpus-frequent segment scrub with document reassembly (C4-style)
# ---------------------------------------------------------------------------

_SCRUB_SEG_W = 5  # words per pseudo-line segment
_SCRUB_MIN_DOCS = 3  # a segment in >= this many distinct docs is boilerplate


@register(
    "q215_segment_scrub_reassembly",
    tags=("training-data", "dedup", "text", "A1"),
    oracle=f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
segs AS (
  SELECT doc_id, i AS seg_idx,
    array_to_string(w[(i * {_SCRUB_SEG_W} + 1):(i * {_SCRUB_SEG_W} + {_SCRUB_SEG_W})], ' ') AS seg_text
  FROM (SELECT doc_id, w,
          unnest(generate_series(0, (len(w) + {_SCRUB_SEG_W - 1}) // {_SCRUB_SEG_W} - 1)) AS i
        FROM ws)
),
freq AS (
  SELECT seg_text FROM segs GROUP BY seg_text
  HAVING COUNT(DISTINCT doc_id) >= {_SCRUB_MIN_DOCS}
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg_text
  FROM segs s ANTI JOIN freq f ON s.seg_text = f.seg_text
),
rebuilt AS (
  SELECT doc_id,
    COUNT(*) AS n_kept,
    string_agg(seg_text, ' ' ORDER BY seg_idx) AS kept_text
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
SELECT t.doc_id,
  CAST(t.n_segs AS BIGINT) AS n_segs,
  CAST(t.n_segs - COALESCE(r.n_kept, 0) AS BIGINT) AS n_scrubbed,
  CAST(length(COALESCE(r.kept_text, '')) AS BIGINT) AS kept_chars,
  md5(COALESCE(r.kept_text, '')) AS kept_hash
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
""",
)
def q215_segment_scrub_reassembly(spark: SparkSession, sf_dir: str):
    """The C4 scrub ACTION (q062 only reports): cut every document into
    {w}-word pseudo-line segments, drop each segment whose exact text
    recurs in >= {k} distinct documents (corpus-level boilerplate:
    navigation chrome, legal footers, templated sentences), and
    REASSEMBLE the surviving segments in original order — the rewritten
    corpus a C4-style cleaner actually ships.  The reassembled text is
    certified by md5, so segment order, the join-back, and the
    empty-document edge (every segment scrubbed → md5('')) are all
    oracle-checked, not just counts.  Scale shape: segmentation is a
    zero-shuffle codegen expression (sequence + slice + array_join —
    the text never explodes to word rows); ONE shuffle counts segment
    document-frequency; the boilerplate set is df-filtered (heavy
    hitters only, q044's broadcast-probe shape) and broadcast to an
    anti join; one final doc-grain aggregate rebuilds the text.  No
    Python, no RNG."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    segs = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST((size(w) + {_SCRUB_SEG_W - 1}) DIV {_SCRUB_SEG_W} - 1 AS INT)),"
                f" i -> array_join(slice(w, i * {_SCRUB_SEG_W} + 1, {_SCRUB_SEG_W}), ' '))"
            )
        ).alias("seg_idx", "seg_text"),
    )
    freq = (
        segs.groupBy("seg_text")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= _SCRUB_MIN_DOCS)
        .select("seg_text")
    )
    kept = segs.join(F.broadcast(freq), "seg_text", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda x: x["seg_text"],
            ),
            " ",
        ).alias("kept_text"),
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("n_segs").cast("long").alias("n_segs"),
        (F.col("n_segs") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_scrubbed"),
        F.length(F.coalesce("kept_text", F.lit("")))
        .cast("long")
        .alias("kept_chars"),
        F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_hash"),
    )


q215_segment_scrub_reassembly.__doc__ = q215_segment_scrub_reassembly.__doc__.format(
    w=_SCRUB_SEG_W, k=_SCRUB_MIN_DOCS
)


# ---------------------------------------------------------------------------
# q216 — fill-in-middle (FIM) training-example construction
# ---------------------------------------------------------------------------

_FIM_MIN_WORDS = 9


@register(
    "q216_fim_examples",
    tags=("training-data", "text", "W1"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
  FROM documents WHERE len(string_split(text, ' ')) >= {_FIM_MIN_WORDS}
),
cuts AS (
  SELECT doc_id, w, n,
    1 + CAST(('0x' || substr(md5('fim_a:' || doc_id), 1, 8)) AS BIGINT) % (n - 2) AS a
  FROM d
),
spans AS (
  SELECT doc_id, w, n, a,
    1 + CAST(('0x' || substr(md5('fim_m:' || doc_id), 1, 8)) AS BIGINT) % (n - a - 1) AS m,
    CAST(('0x' || substr(md5('fim_o:' || doc_id), 1, 8)) AS BIGINT) % 2 = 0 AS psm
  FROM cuts
)
SELECT doc_id,
  CASE WHEN psm THEN 'psm' ELSE 'spm' END AS mode,
  CAST(a AS BIGINT) AS n_prefix,
  CAST(m AS BIGINT) AS n_middle,
  CAST(n - a - m AS BIGINT) AS n_suffix,
  md5(CASE WHEN psm
    THEN '<PRE>' || array_to_string(w[1:a], ' ')
      || '<SUF>' || array_to_string(w[(a + m + 1):n], ' ')
      || '<MID>' || array_to_string(w[(a + 1):(a + m)], ' ')
    ELSE '<SUF>' || array_to_string(w[(a + m + 1):n], ' ')
      || '<PRE>' || array_to_string(w[1:a], ' ')
      || '<MID>' || array_to_string(w[(a + 1):(a + m)], ' ')
  END) AS fim_hash
FROM spans
""",
)
def q216_fim_examples(spark: SparkSession, sf_dir: str):
    """Fill-in-middle training-example construction (the infilling data
    stage behind code models): per document of >= {mw} words a
    DETERMINISTIC salted-md5 draw picks the middle span (start a in
    [1, n-2], length m in [1, n-a-1] — at least one prefix and one
    suffix word survive) and the PSM/SPM document layout (50/50 by a
    third draw), then the example is materialized as
    sentinel-delimited text — <PRE>prefix<SUF>suffix<MID>middle (PSM)
    or the SPM rotation — exactly the byte layout an infilling
    tokenizer consumes.  The oracle replays the identical draws and
    slicing, certifying the reassembled example bytes by md5, not just
    span lengths.  Scale shape: pure per-row codegen expressions
    (split + slice + concat + md5) — zero shuffles, zero Python, the
    RNG-free q045/q204 sampling discipline; the heavy string work
    streams through one projection."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .withColumn("n", F.size("w"))
        .filter(F.col("n") >= _FIM_MIN_WORDS)
    )

    def draw(salt: str) -> "F.Column":
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")

    spans = d.select(
        "doc_id",
        "w",
        "n",
        (F.lit(1) + draw("fim_a:") % (F.col("n") - 2)).alias("a"),
    ).select(
        "doc_id",
        "w",
        "n",
        "a",
        (F.lit(1) + draw("fim_m:") % (F.col("n") - F.col("a") - 1)).alias("m"),
        (draw("fim_o:") % 2 == 0).alias("psm"),
    )
    pre = F.array_join(F.slice("w", 1, F.col("a")), " ")
    mid = F.array_join(F.expr("slice(w, a + 1, m)"), " ")
    suf = F.array_join(F.expr("slice(w, a + m + 1, n - a - m)"), " ")
    return spans.select(
        "doc_id",
        F.when(F.col("psm"), F.lit("psm")).otherwise(F.lit("spm")).alias("mode"),
        F.col("a").cast("long").alias("n_prefix"),
        F.col("m").cast("long").alias("n_middle"),
        (F.col("n") - F.col("a") - F.col("m")).cast("long").alias("n_suffix"),
        F.md5(
            F.when(
                F.col("psm"),
                F.concat(
                    F.lit("<PRE>"), pre, F.lit("<SUF>"), suf, F.lit("<MID>"), mid
                ),
            ).otherwise(
                F.concat(
                    F.lit("<SUF>"), suf, F.lit("<PRE>"), pre, F.lit("<MID>"), mid
                )
            )
        ).alias("fim_hash"),
    )


q216_fim_examples.__doc__ = q216_fim_examples.__doc__.format(mw=_FIM_MIN_WORDS)


# ---------------------------------------------------------------------------
# q217 — instruction-template expansion (structured -> text SFT examples)
# ---------------------------------------------------------------------------


@register(
    "q217_instruction_templates",
    tags=("training-data", "text", "J1"),
    oracle="""
WITH src AS (
  SELECT o.o_orderkey AS okey, c.c_name AS name, o.o_orderpriority AS prio,
    CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents,
    CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS odate,
    CAST(('0x' || substr(md5('tmpl:' || o.o_orderkey), 1, 8)) AS BIGINT) % 3
      AS template_id
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderkey % 10 = 0
),
money AS (
  SELECT *, CAST(cents // 100 AS VARCHAR) || '.' ||
    lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS amt
  FROM src
),
ex AS (
  SELECT okey, template_id,
    CASE template_id
      WHEN 0 THEN 'Write a status update for order ' || okey || ': customer '
        || name || ' requested ' || prio || ' handling, total $' || amt
        || ', placed ' || odate || '.'
      WHEN 1 THEN 'Summarize: ' || name || ' placed order ' || okey || ' on '
        || odate || ' (' || prio || '), value $' || amt || '.'
      ELSE 'Q: What is the total of order ' || okey || ' from ' || name
        || '? A: $' || amt || ' (ordered ' || odate || ', ' || prio || ').'
    END AS example
  FROM money
)
SELECT okey AS o_orderkey,
  CAST(template_id AS INTEGER) AS template_id,
  CAST(length(example) AS BIGINT) AS example_chars,
  md5(example) AS example_hash
FROM ex
""",
)
def q217_instruction_templates(spark: SparkSession, sf_dir: str):
    """Structured-to-text SFT example construction: each sampled order
    (o_orderkey % 10 = 0) joins its customer dim (broadcast) and renders
    ONE of three instruction templates — status-update, summarization,
    and extractive-QA phrasings — chosen by a salted-md5 draw, with
    money rendered from exact integer cents and the date from the
    ISO-cast, so the example BYTES are engine-portable and the oracle
    certifies them by md5 (not just lengths).  This is the template-
    expansion stage of instruction-tuning data builds (self-instruct
    style seed diversification over structured sources).  Scale shape:
    one broadcast dim join + pure codegen string expressions — zero
    extra shuffles, no Python, no RNG; sampling/template choice are
    partitioning-stable salted draws (q045 discipline)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    src = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("okey"),
        F.col("c_name").alias("name"),
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").cast("string").alias("odate"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmpl:"), F.col("o_orderkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 3
        ).alias("template_id"),
    )
    amt = F.concat(
        (F.col("cents") / 100).cast("long").cast("string"),
        F.lit("."),
        F.lpad((F.col("cents") % 100).cast("string"), 2, "0"),
    )
    okey_s = F.col("okey").cast("string")
    example = (
        F.when(
            F.col("template_id") == 0,
            F.concat(
                F.lit("Write a status update for order "), okey_s,
                F.lit(": customer "), F.col("name"),
                F.lit(" requested "), F.col("prio"),
                F.lit(" handling, total $"), amt,
                F.lit(", placed "), F.col("odate"), F.lit("."),
            ),
        )
        .when(
            F.col("template_id") == 1,
            F.concat(
                F.lit("Summarize: "), F.col("name"),
                F.lit(" placed order "), okey_s,
                F.lit(" on "), F.col("odate"),
                F.lit(" ("), F.col("prio"),
                F.lit("), value $"), amt, F.lit("."),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Q: What is the total of order "), okey_s,
                F.lit(" from "), F.col("name"),
                F.lit("? A: $"), amt,
                F.lit(" (ordered "), F.col("odate"),
                F.lit(", "), F.col("prio"), F.lit(")."),
            )
        )
    )
    return src.select(
        F.col("okey").alias("o_orderkey"),
        F.col("template_id").cast("integer").alias("template_id"),
        F.length(example).cast("long").alias("example_chars"),
        F.md5(example).alias("example_hash"),
    )


# ---------------------------------------------------------------------------
# q218 — chat-transcript assembly (session -> SFT conversation examples)
# ---------------------------------------------------------------------------

_CHAT_GAP_US = 1_800_000_000  # 30 min session gap


@register(
    "q218_chat_transcript_assembly",
    tags=("training-data", "text", "W1", "A1"),
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
flag AS (
  SELECT *, CASE WHEN us - LAG(us) OVER w > {_CHAT_GAP_US}
                 OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
    ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flag
),
turn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
    ORDER BY us, event_id) AS turn_no
  FROM sess
)
SELECT user_id,
  CAST(session_idx AS BIGINT) AS session_idx,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(MIN(us) AS BIGINT) AS t_start_us,
  md5(string_agg(turn_no || ':' || event_type, chr(10) ORDER BY turn_no))
    AS transcript_hash
FROM turn GROUP BY user_id, session_idx
""",
)
def q218_chat_transcript_assembly(spark: SparkSession, sf_dir: str):
    """Conversation-example assembly — the chat-SFT data stage: events
    sessionize per user on a 30-minute inactivity gap (gaps-and-islands:
    one lag + one running sum over a single user-partitioned window),
    every session's turns render in arrival order as 'turn:event_type'
    lines, and the assembled transcript BYTES are certified by md5 —
    ordering, the session boundary rule, and the turn numbering all have
    to match the oracle's replay exactly.  Integer-µs arithmetic
    throughout (q211 discipline).  Scale shape: ONE shuffle to the user
    partition serves the lag window, the running session sum, the turn
    row_number AND the final (user, session) aggregate — sessions are
    bounded by user activity, so no partition-wide sort grows with the
    corpus; the transcript string_agg is an ordered in-partition fold,
    no Python, no collect."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flag = e.withColumn(
        "new_s",
        F.when(
            F.col("us") - F.lag("us").over(w) > _CHAT_GAP_US, 1
        ).when(F.lag("us").over(w).isNull(), 1).otherwise(0),
    )
    sess = flag.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = Window.partitionBy("user_id", "session_idx").orderBy("us", "event_id")
    turn = sess.withColumn("turn_no", F.row_number().over(w2))
    return (
        turn.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.min("us").cast("long").alias("t_start_us"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "turn_no",
                                    F.concat_ws(
                                        ":",
                                        F.col("turn_no").cast("string"),
                                        "event_type",
                                    ).alias("line"),
                                )
                            )
                        ),
                        lambda x: x["line"],
                    ),
                    "\n",
                )
            ).alias("transcript_hash"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            "n_turns",
            "t_start_us",
            "transcript_hash",
        )
    )


# ---------------------------------------------------------------------------
# q219 — audio spectral-feature audit (framed FFT peak-picking, oracle-exact)
# ---------------------------------------------------------------------------

_AUDIO_FRAME = 256


@register(
    "q219_audio_spectral_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH p AS (
  SELECT doc_id,
    CAST(power(2, 1 + doc_id % 5) AS BIGINT) AS period,
    1000 + (doc_id % 7) * 500 AS amp,
    2 + doc_id % 3 AS n_frames
  FROM documents
)
SELECT p.doc_id,
  CAST(k.k AS INTEGER) AS frame_index,
  CAST({_AUDIO_FRAME} * amp * amp AS BIGINT) AS energy_sum,
  CAST(amp AS INTEGER) AS peak_abs,
  CAST({_AUDIO_FRAME} // period AS INTEGER) AS dom_bin
FROM p CROSS JOIN generate_series(0, 7) k(k)
WHERE k.k < n_frames
""",
)
def q219_audio_spectral_audit(spark: SparkSession, sf_dir: str):
    """Audio twin of the image/video codec audits — a REAL spectral
    pipeline with closed-form truth: per document a genuine mono PCM16
    WAV is synthesized (a square wave of period 2^(1+doc_id%5) samples,
    amplitude 1000+500·(doc_id%7), lasting 2+doc_id%3 frames of
    {n} samples), then ``audio_frame_features``
    (operators/multimodal.py) re-parses the RIFF container, frames the
    stream, and reports per-frame integer energy, peak amplitude and
    the dominant rFFT bin.  A period-P square wave whose period divides
    the frame has ALL its energy on odd harmonics of bin N/P with the
    fundamental strictly dominant (verified margin ≥2.4x), so the
    numpy FFT argmax is structurally stable and the oracle states every
    output in closed form — container parse, framing, integer energy
    and the spectral peak all have to be right at once.  Scale shape:
    one fused iterator-mapInPandas (synthesize, then decode+FFT);
    samples never leave the UDFs; one cheap shuffle of bare longs
    spreads the CPU-bound DSP."""
    from ..operators.multimodal import audio_frame_features, encode_wav_pcm16

    def rows_of(doc_id):
        period = 2 ** (1 + doc_id % 5)
        amp = 1000 + (doc_id % 7) * 500
        n = _AUDIO_FRAME * (2 + doc_id % 3)
        samples = [amp if (i % period) < period // 2 else -amp for i in range(n)]
        yield doc_id, encode_wav_pcm16(samples)

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return audio_frame_features(
        gen_df, "doc_id", "payload", frame_len=_AUDIO_FRAME
    ).select(
        F.col("id").alias("doc_id"),
        "frame_index",
        "energy_sum",
        "peak_abs",
        "dom_bin",
    )


q219_audio_spectral_audit.__doc__ = q219_audio_spectral_audit.__doc__.format(
    n=_AUDIO_FRAME
)


# ---------------------------------------------------------------------------
# q220/q221 — perceptual image hashing (dHash) + banded Hamming near-dup
# ---------------------------------------------------------------------------

_DH_W, _DH_H = 18, 16

# md5-derived synthetic pixel: first byte of md5("<g>:<x>:<y>") — diverse
# (effectively random per generator key) yet stated in closed form by both
# engines, so a REAL decode→hash pipeline gets an exact oracle.
_DH_PX = (
    "CAST(('0x' || substr(md5(CAST({g} AS VARCHAR) || ':' || "
    "CAST({x} AS VARCHAR) || ':' || CAST({y} AS VARCHAR)), 1, 2)) AS INTEGER)"
)

# the sampled 9x8 grid for an 18x16 image: sx(c)=2c, sy(r)=2r — shared by
# the Spark-side generator (full image) and the oracle (samples only).
_DH_BITS_SQL = """bits AS (
  SELECT a.doc_id, a.r * 8 + a.c AS idx,
    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 8
), fp AS (
  SELECT doc_id,
    CAST(coalesce(SUM(CASE WHEN idx >= 32
                           THEN CAST(bit AS BIGINT) << (idx - 32) END),
                  0) AS BIGINT) AS dhash_hi,
    CAST(coalesce(SUM(CASE WHEN idx < 32
                           THEN CAST(bit AS BIGINT) << idx END),
                  0) AS BIGINT) AS dhash_lo
  FROM bits GROUP BY doc_id
)"""


def _dhash_px(doc_key: int, x: int, y: int) -> int:
    import hashlib

    return hashlib.md5(f"{doc_key}:{x}:{y}".encode()).digest()[0]


# precomputed ":x:y" tails in row-major pixel order — the md5 inputs are
# str(g) + tail, so the per-pixel f-string formatting happens once per
# module import instead of 288 times per image
_DH_TAILS = [
    f":{x}:{y}".encode() for y in range(_DH_H) for x in range(_DH_W)
]


def _dhash_pixels(doc_key: int) -> bytes:
    """All _DH_W*_DH_H pixels of _dhash_px(doc_key, x, y), row-major —
    byte-identical to the per-pixel calls, ~2x faster (one local md5
    binding, precomputed key tails)."""
    from hashlib import md5

    p = str(doc_key).encode()
    return bytes(md5(p + t).digest()[0] for t in _DH_TAILS)


@register(
    "q220_image_dhash_audit",
    tags=("multimodal", "dedup"),
    oracle=f"""
WITH s AS (
  SELECT d.doc_id, r.r, c.c,
    {_DH_PX.format(g="d.doc_id", x="2 * c.c", y="2 * r.r")} AS v
  FROM documents d, generate_series(0, 7) r(r), generate_series(0, 8) c(c)
), {_DH_BITS_SQL}
SELECT doc_id, CAST({_DH_W} AS INTEGER) AS width,
  CAST({_DH_H} AS INTEGER) AS height, dhash_hi, dhash_lo
FROM fp
""",
)
def q220_image_dhash_audit(spark: SparkSession, sf_dir: str):
    """Perceptual image-hash audit over a REAL mixed-format decode path:
    per document an {w}x{h} image with md5-derived pixels is encoded as
    a genuine PNG (even doc_ids: zlib+filter scanlines) or GIF (odd:
    LZW over an identity grayscale palette), then ``dhash_images``
    (operators/multimodal.py) runs the full decode (format dispatch →
    inflate/LZW → luma → nearest 9x8 grid → 64-bit difference hash).
    The hash samples land on even coordinates (sx=2c, sy=2r), so the
    oracle restates every sampled pixel in closed form and reconstructs
    the exact fingerprint — container parse, entropy decode, palette
    resolution, luma and the bit packing all have to be right at once
    (the q199/q219 pattern, now for the image-dedup fingerprint).
    Scale shape: generate and hash run as one fused
    iterator-mapInPandas;
    payloads never leave the UDFs; the result is 5 scalars per image."""
    from ..operators.multimodal import dhash_images, encode_gif, encode_png

    gray_palette = bytes(v for i in range(256) for v in (i, i, i))

    def rows_of(doc_id):
        raw = _dhash_pixels(doc_id)
        if doc_id % 2 == 0:
            yield doc_id, encode_png(_DH_W, _DH_H, 1, raw)
        else:
            yield doc_id, encode_gif(_DH_W, _DH_H, raw, gray_palette)

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return dhash_images(gen_df, "doc_id", "payload").select(
        F.col("id").alias("doc_id"), "width", "height", "dhash_hi", "dhash_lo"
    )


q220_image_dhash_audit.__doc__ = q220_image_dhash_audit.__doc__.format(
    w=_DH_W, h=_DH_H
)


_DH_MAX_HAMMING = 6


@register(
    "q221_image_neardup_pairs",
    tags=("multimodal", "dedup", "J1"),
    oracle=f"""
WITH docs AS (
  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
), s AS (
  SELECT d.doc_id, r.r, c.c,
    CASE WHEN d.v > 0 AND c.c = d.v AND r.r = d.v
         THEN ({_DH_PX.format(g="d.g", x="2 * c.c", y="2 * r.r")} + 128) % 256
         ELSE {_DH_PX.format(g="d.g", x="2 * c.c", y="2 * r.r")} END AS v
  FROM docs d, generate_series(0, 7) r(r), generate_series(0, 8) c(c)
), {_DH_BITS_SQL},
bands AS (
  SELECT doc_id, dhash_hi, dhash_lo, b.band,
    (CASE WHEN b.band < 2 THEN dhash_lo >> (b.band * 16)
          ELSE dhash_hi >> ((b.band - 2) * 16) END) & 65535 AS val
  FROM fp, (SELECT unnest(range(4)) AS band) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
    CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
       + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INTEGER) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id1, id2, hamming FROM pairs WHERE hamming <= {_DH_MAX_HAMMING}
""",
)
def q221_image_neardup_pairs(spark: SparkSession, sf_dir: str):
    """Image near-duplicate detection end to end — the crawl-dedup path
    of a multimodal training pipeline: documents form groups of 4
    variants of one base image (group g = doc_id // 4, md5-derived
    pixels; variant v > 0 flips sampled pixel (2v, 2v) by +128 mod 256,
    perturbing at most 2 hash bits — a re-encoded thumbnail with a
    watermark, in miniature), every variant is PNG-encoded, REALLY
    decoded and dHashed (q220's path), and
    ``hamming_near_pairs`` (operators/dedup.py) finds all pairs within
    Hamming distance {t} via 4x16-bit banded LSH — within-group pairs
    differ by <= 4 bits and surface, cross-group hashes are effectively
    random 64-bit values whose band collisions the exact Hamming verify
    rejects.  Recall below distance 4 is structural (pigeonhole over
    bands).  The oracle replays pixels, hash, banding and verify in
    closed form.  Scale shape: pixels stay inside the mapInPandas
    stages; the LSH join shuffles only (band, 16-bit key, 8-byte
    fingerprint) — at 100 TB the pair stage never touches image bytes."""
    from ..operators.dedup import hamming_near_pairs
    from ..operators.multimodal import dhash_images, encode_png

    def rows_of(doc_id):
        g, v = doc_id // 4, doc_id % 4
        raw = bytearray(_dhash_pixels(g))
        if v > 0:
            i = 2 * v * _DH_W + 2 * v
            raw[i] = (raw[i] + 128) % 256
        yield doc_id, encode_png(_DH_W, _DH_H, 1, bytes(raw))

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    fp = dhash_images(gen_df, "doc_id", "payload")
    return hamming_near_pairs(
        fp.select(F.col("id").alias("doc_id"), "dhash_hi", "dhash_lo"),
        "doc_id",
        max_hamming=_DH_MAX_HAMMING,
    )


q221_image_neardup_pairs.__doc__ = q221_image_neardup_pairs.__doc__.format(
    t=_DH_MAX_HAMMING
)


# ---------------------------------------------------------------------------
# q222 — progressive JPEG codec audit (SOF2: spectral selection +
# successive approximation, oracle-exact pixels)
# ---------------------------------------------------------------------------

_PJPEG_TX, _PJPEG_TY = 4, 2


@register(
    "q222_jpeg_progressive_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH tiles AS (
  SELECT d.doc_id, t.b, (d.doc_id * 13 + t.b * 41) % 256 AS v
  FROM documents d
  CROSS JOIN generate_series(0, {_PJPEG_TX * _PJPEG_TY - 1}) t(b)
)
SELECT doc_id,
  CAST({_PJPEG_TX * 8} AS INTEGER) AS width,
  CAST({_PJPEG_TY * 8} AS INTEGER) AS height,
  CAST(doc_id * 13 % 256 AS INTEGER) AS first_px,
  CAST(SUM(v) * 64 AS BIGINT) AS px_sum
FROM tiles GROUP BY doc_id
""",
)
def q222_jpeg_progressive_audit(spark: SparkSession, sf_dir: str):
    """PROGRESSIVE twin of the q199 JPEG audit — the format most
    web-crawled photos actually use: per document a genuine SOF2 stream
    is encoded with a libjpeg-style scan script exercising BOTH
    progressive dimensions (DC at Al=1 plus a refinement bitplane;
    luma AC split into 1-5 / 6-63 spectral bands, each refined
    Ah=1->Al=0 with EOBn end-of-band runs), then fully decoded by
    jpeg_probe: multi-scan marker walk, per-band Huffman decode,
    successive-approximation accumulation in zigzag coefficient planes,
    dequantize, batched IDCT.  Flat 8x8 tiles (tile b = (doc_id*13 +
    41*b) mod 256, quantizer 8) keep every stage integer-exact, so the
    oracle states the decoded pixels in closed form — a wrong EOBRUN,
    correction bit, band boundary or DC bitplane breaks the whole-image
    checksum.  Scale shape: identical to q199 — one fused iterator
    mapInPandas (generate, then decode), payloads never leave the UDFs."""
    from ..operators.multimodal import encode_jpeg, jpeg_probe

    w_px, h_px = _PJPEG_TX * 8, _PJPEG_TY * 8

    def tiles():
        import numpy as np

        return (
            (np.arange(h_px)[:, None] // 8) * _PJPEG_TX
            + np.arange(w_px)[None, :] // 8
        ).ravel()

    def rows_of(tiles, doc_id):
        raw = ((doc_id * 13 + 41 * tiles) % 256).astype("uint8").tobytes()
        yield doc_id, encode_jpeg(
            w_px, h_px, raw, qtable=[8] * 64, progressive=True
        )

    gen_df = _doc_rows(spark, sf_dir, rows_of, setup=tiles)
    return jpeg_probe(gen_df, "doc_id", "payload").select(
        F.col("id").alias("doc_id"),
        "width",
        "height",
        "first_px",
        "px_sum",
    )


# ---------------------------------------------------------------------------
# q223 — best-of-n selection (RLHF rejection sampling)
# ---------------------------------------------------------------------------

_BON_N = 8  # candidates per prompt
_BON_MIN_MARGIN = 10_000  # clear-winner floor (score space is 0..999999)


@register(
    "q223_best_of_n_selection",
    tags=("mixing", "A1", "W1"),
    oracle=f"""
WITH c AS (
  SELECT doc_id // {_BON_N} AS prompt_id, doc_id,
    CAST(('0x' || substr(md5('bon:' || CAST(doc_id AS VARCHAR)), 1, 8))
         AS BIGINT) % 1000000 AS score
  FROM documents
), r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY score DESC, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY prompt_id) AS n_cand
  FROM c
)
SELECT a.prompt_id, a.doc_id AS winner_id, a.score AS best_score,
  a.score - b.score AS margin, CAST(a.n_cand AS BIGINT) AS n_cand
FROM r a JOIN r b ON a.prompt_id = b.prompt_id AND a.rn = 1 AND b.rn = 2
WHERE a.score - b.score >= {_BON_MIN_MARGIN}
""",
)
def q223_best_of_n_selection(spark: SparkSession, sf_dir: str):
    """Best-of-n selection — RLHF rejection sampling's data-side step:
    documents group into prompts of {n} candidates (prompt = doc_id //
    {n}), each candidate carries a deterministic salted-md5 reward score
    (stand-in for a reward model's output — RNG-free, partitioning-
    stable, oracle-replayable per the q045 discipline), and each prompt
    keeps its single best candidate ONLY when it beats the runner-up by
    a clear margin (>= {m} of the 1e6 score space) — the standard
    anti-noise guard before a best-of-n sample enters SFT data.  Scale
    shape: ONE aggregation shuffle on prompt_id; winner and runner-up
    fall out of a sort_array over the (bounded, n<={n}) candidate
    structs — no window, no self-join, no second exchange; at 100 TB
    the shuffle carries (prompt_id, score, id) triples only."""
    d = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") - F.col("doc_id") % _BON_N).alias("g"),
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("bon:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1_000_000
        ).alias("score"),
    )
    agg = d.groupBy((F.col("g") / _BON_N).cast("long").alias("prompt_id")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("score")).alias("ns"), F.col("doc_id").alias("d")
                )
            )
        ).alias("l"),
        F.count(F.lit(1)).alias("n_cand"),
    )
    return (
        agg.filter(F.col("n_cand") >= 2)
        .select(
            "prompt_id",
            F.col("l")[0]["d"].alias("winner_id"),
            (-F.col("l")[0]["ns"]).alias("best_score"),
            (F.col("l")[1]["ns"] - F.col("l")[0]["ns"]).alias("margin"),
            "n_cand",
        )
        .filter(F.col("margin") >= _BON_MIN_MARGIN)
    )


q223_best_of_n_selection.__doc__ = q223_best_of_n_selection.__doc__.format(
    n=_BON_N, m=_BON_MIN_MARGIN
)


# ---------------------------------------------------------------------------
# q224 — URL canonicalization dedup (crawl fetch-history consolidation)
# ---------------------------------------------------------------------------

_URL_CASE_SQL = """CASE doc_id % 8
  WHEN 0 THEN 'https://example' || b || '.com/p' || b || '?b=2&a=1'
  WHEN 1 THEN 'HTTPS://EXAMPLE' || b || '.COM/p' || b || '?a=1&b=2'
  WHEN 2 THEN 'https://example' || b || '.com:443/p' || b || '?b=2&a=1'
  WHEN 3 THEN 'https://example' || b || '.com/p' || b || '?a=1&b=2#frag'
  WHEN 4 THEN 'http://example' || b || '.com/p' || b || '?a=1&b=2'
  WHEN 5 THEN 'https://example' || b || '.com/p' || b || ''
  WHEN 6 THEN 'https://user:pw@example' || b || '.com/p' || b || '?a=1&b=2'
  ELSE 'HTTPS://EXAMPLE' || b || '.COM:443'
END"""


@register(
    "q224_url_canonical_dedup",
    tags=("dedup", "P8"),
    oracle=f"""
WITH u AS (
  SELECT doc_id, {_URL_CASE_SQL} AS url
  FROM (SELECT doc_id, CAST(doc_id // 8 AS VARCHAR) AS b FROM documents)
), p AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_replace(
      regexp_extract(url, '^[^:]+://([^/?#]+)', 1), '^[^@/]*@', '')) AS hostport,
    regexp_extract(url, '^[^:]+://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM u
), c AS (
  SELECT doc_id,
    scheme || '://' || regexp_replace(hostport, ':(\\d+)$', '')
    || CASE WHEN regexp_extract(hostport, ':(\\d+)$', 1) <> ''
             AND NOT ((scheme = 'http'
                       AND regexp_extract(hostport, ':(\\d+)$', 1) = '80')
                   OR (scheme = 'https'
                       AND regexp_extract(hostport, ':(\\d+)$', 1) = '443'))
            THEN ':' || regexp_extract(hostport, ':(\\d+)$', 1) ELSE '' END
    || CASE WHEN path = '' THEN '/' ELSE path END
    || CASE WHEN query <> ''
            THEN '?' || array_to_string(list_sort(string_split(query, '&')), '&')
            ELSE '' END AS canonical_url
  FROM p
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS dup_count,
  MIN(doc_id) AS keeper_doc_id
FROM c GROUP BY canonical_url
""",
)
def q224_url_canonical_dedup(spark: SparkSession, sf_dir: str):
    """URL-canonicalization dedup — the consolidation every crawl
    pipeline runs before URL-level dedup and fetch-history joins: the
    same page is referenced under many spellings (host case, default
    ports, fragments, query-parameter order, fetch credentials), and
    hashing raw URLs splinters its identity.  Per document a URL variant
    is synthesized in closed form (8 spellings per base page: canonical,
    upper-case scheme+host, explicit :443, fragment-suffixed,
    userinfo-prefixed 'user:pw@' — credential noise, never identity —
    plus three that must NOT all merge: an http:// sibling and a
    query-less sibling are genuinely DIFFERENT resources, and a bare
    empty-path spelling canonicalizes to '/' per RFC 3986 6.2.3),
    normalized by ``canonicalize_url`` (operators/text.py: scheme/host
    lowercase, userinfo stripped, default port stripped end-anchored so
    bracketed IPv6 hosts survive, empty path -> '/', fragment dropped,
    query params sorted; one codegen expression, zero Python), and
    exact-deduped on the canonical key.  The oracle replays the parse
    and normalization with DuckDB's independent regex engine.  Scale
    shape: canonicalization rides the scan; the dedup is one shuffle on
    the canonical string."""
    from ..operators.text import canonicalize_url

    b = F.col("doc_id").cast("long")
    base = (b - b % 8) / 8
    bstr = base.cast("long").cast("string")
    v = (b % 8).cast("int")
    host_l = F.concat(F.lit("example"), bstr, F.lit(".com"))
    host_u = F.concat(F.lit("EXAMPLE"), bstr, F.lit(".COM"))
    pth = F.concat(F.lit("/p"), bstr)
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host_l, pth, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(F.lit("HTTPS://"), host_u, pth, F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("https://"), host_l, F.lit(":443"), pth, F.lit("?b=2&a=1")))
        .when(v == 3, F.concat(F.lit("https://"), host_l, pth, F.lit("?a=1&b=2#frag")))
        .when(v == 4, F.concat(F.lit("http://"), host_l, pth, F.lit("?a=1&b=2")))
        .when(v == 5, F.concat(F.lit("https://"), host_l, pth))
        .when(v == 6, F.concat(F.lit("https://user:pw@"), host_l, pth, F.lit("?a=1&b=2")))
        .otherwise(F.concat(F.lit("HTTPS://"), host_u, F.lit(":443")))
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", canonicalize_url(url).alias("canonical_url")
    )
    return d.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# q225 — per-domain document cap (crawl balance rule)
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 10


@register(
    "q225_domain_doc_cap",
    tags=("mixing", "W1"),
    oracle=f"""
WITH r AS (
  SELECT source, doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
    ) AS dom_rank
  FROM documents
)
SELECT source, doc_id, CAST(dom_rank AS INTEGER) AS dom_rank
FROM r WHERE dom_rank <= {_DOMAIN_CAP}
""",
)
def q225_domain_doc_cap(spark: SparkSession, sf_dir: str):
    """Per-domain document cap — the crawl-balance rule (C4/RefinedWeb
    lineage) that stops a handful of giant domains from dominating a
    training mix: every source keeps at most {cap} documents, chosen by
    a deterministic salted-md5 draw (RNG-free, partitioning-stable,
    rerun-identical — the q045 sampling discipline), everything else is
    dropped.  Scale shape: domains are FEW and HUGE, so a single
    per-source window is one reducer swallowing a whole domain; instead
    the cap runs in two phases — a per-(source, md5-bucket) local
    top-{cap} window over 256-way-split partitions (the global top-{cap}
    is provably inside the union of bucket top-{cap}s — every global
    winner wins its own bucket too), then a final window over <=
    256*{cap} survivors per source.  256 ways (the first TWO rank-key
    hex chars), not 16: crawl domains are not balanced, and a 1B-doc
    mega-domain under a 16-way split still pushed ~62M rows through one
    reducer sort — at 256 the worst single-reducer sort is ~4M rows of
    (16-byte key, id), comfortably in-memory, while the phase-2
    survivor set stays trivially small.  The oracle replays the
    single-window definition; both plans select the identical set,
    which is the point of the two-phase rewrite (the operator's skewed
    fixture proves it when one domain is half the corpus)."""
    from ..operators.mixing import domain_cap

    d = load(spark, sf_dir, "documents").select("source", "doc_id")
    return domain_cap(d, "source", "doc_id", _DOMAIN_CAP, salt="cap").select(
        "source", "doc_id", F.col("dom_rank").cast("int").alias("dom_rank")
    )


q225_domain_doc_cap.__doc__ = q225_domain_doc_cap.__doc__.format(cap=_DOMAIN_CAP)


# ---------------------------------------------------------------------------
# q226 — corrupt-payload quarantine audit (decode never kills the job)
# ---------------------------------------------------------------------------


@register(
    "q226_decode_quarantine_audit",
    tags=("multimodal", "P9"),
    oracle=f"""
WITH s AS (
  SELECT d.doc_id, r.r, c.c,
    {_DH_PX.format(g="d.doc_id", x="2 * c.c", y="2 * r.r")} AS v
  FROM documents d, generate_series(0, 7) r(r), generate_series(0, 8) c(c)
  WHERE d.doc_id % 7 <> 0
), {_DH_BITS_SQL}
SELECT doc_id, 'ok' AS status, dhash_hi, dhash_lo FROM fp
UNION ALL
SELECT doc_id, 'quarantined' AS status,
  CAST(NULL AS BIGINT) AS dhash_hi, CAST(NULL AS BIGINT) AS dhash_lo
FROM documents WHERE doc_id % 7 = 0
""",
)
def q226_decode_quarantine_audit(spark: SparkSession, sf_dir: str):
    """Corrupt-payload quarantine — the failure mode that actually
    matters at crawl scale: one truncated file in a billion must route
    to a quarantine lane, never kill the 1000-executor job.  Per
    document a PNG is synthesized (q220's closed-form pixels), then
    every 7th payload is TRUNCATED to its first 10 bytes (a real partial
    download); ``dhash_images(on_error='tag')`` decodes the rest and
    tags the casualties with NULL hashes instead of raising.  The oracle
    states both lanes in closed form — the good hashes must still be
    bit-exact (corruption handling can't perturb the healthy path) and
    exactly the doc_id % 7 == 0 rows are quarantined.  Scale shape:
    identical to q220 — the try/except lives inside the Arrow batch;
    no driver round-trip, no lost partition, no speculative retry
    storm."""
    from ..operators.multimodal import dhash_images, encode_png

    def rows_of(doc_id):
        payload = encode_png(_DH_W, _DH_H, 1, _dhash_pixels(doc_id))
        if doc_id % 7 == 0:
            payload = payload[:10]  # partial download
        yield doc_id, payload

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return dhash_images(gen_df, "doc_id", "payload", on_error="tag").select(
        F.col("id").alias("doc_id"),
        F.when(F.col("err").isNull(), F.lit("ok"))
        .otherwise(F.lit("quarantined"))
        .alias("status"),
        "dhash_hi",
        "dhash_lo",
    )


# ---------------------------------------------------------------------------
# q227 — image duplicate-cluster resolution (dHash pairs -> transitive groups)
# ---------------------------------------------------------------------------


@register(
    "q227_image_dup_clusters",
    tags=("multimodal", "dedup", "J8"),
    oracle=f"""
WITH RECURSIVE docs2 AS (
  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
), s AS (
  SELECT d.doc_id, r.r, c.c,
    CASE WHEN d.v > 0 AND c.c = d.v AND r.r = d.v
         THEN ({_DH_PX.format(g="d.g", x="2 * c.c", y="2 * r.r")} + 128) % 256
         ELSE {_DH_PX.format(g="d.g", x="2 * c.c", y="2 * r.r")} END AS v
  FROM docs2 d, generate_series(0, 7) r(r), generate_series(0, 8) c(c)
), {_DH_BITS_SQL},
bands AS (
  SELECT doc_id, dhash_hi, dhash_lo, b.band,
    (CASE WHEN b.band < 2 THEN dhash_lo >> (b.band * 16)
          ELSE dhash_hi >> ((b.band - 2) * 16) END) & 65535 AS val
  FROM fp, (SELECT unnest(range(4)) AS band) b
), e AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
      + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= {_DH_MAX_HAMMING}
), sym AS (
  SELECT id1 AS a, id2 AS b FROM e UNION ALL SELECT id2, id1 FROM e
), cc AS (
  SELECT doc_id AS id, doc_id AS lab FROM documents
  UNION
  SELECT s2.b, cc.lab FROM cc JOIN sym s2 ON s2.a = cc.id
), lab AS (
  SELECT id AS doc_id, MIN(lab) AS cluster_id FROM cc GROUP BY id
), cs AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, cs.cluster_size
FROM lab l JOIN cs USING (cluster_id)
""",
)
def q227_image_dup_clusters(spark: SparkSession, sf_dir: str):
    """Image duplicate-CLUSTER resolution — q221's banded Hamming pairs
    are only edges; crawl dedup ships transitive GROUPS with one keeper
    (the q037 step, now over perceptual fingerprints): every variant
    image is decoded and dHashed, near-dup pairs come from the 4x16-bit
    band join + exact Hamming verify, and ``connected_components``
    (adaptive union-find / min-label propagation) resolves them into
    clusters — every document gets (cluster_id, cluster_size),
    singletons included.  The star topology of a variant group
    guarantees connectivity even when a variant-variant edge misses its
    band (base->variant pairs differ by <= 2 bits, inside the
    pigeonhole-recall radius).  The oracle replays the ENTIRE stack in
    SQL: md5 pixels -> dHash bits -> bands -> Hamming edges -> a
    RECURSIVE-CTE transitive closure with min-label fold.  Scale shape:
    pixels stay in the Arrow stages; edges are 8-byte id pairs; the
    component loop is one shuffle per round, O(diameter) rounds, with
    superseded checkpoint rounds freed eagerly."""
    from ..operators.dedup import connected_components, hamming_near_pairs
    from ..operators.multimodal import dhash_images, encode_png

    def rows_of(doc_id):
        g, v = doc_id // 4, doc_id % 4
        raw = bytearray(_dhash_pixels(g))
        if v > 0:
            i = 2 * v * _DH_W + 2 * v
            raw[i] = (raw[i] + 128) % 256
        yield doc_id, encode_png(_DH_W, _DH_H, 1, bytes(raw))

    docs = load(spark, sf_dir, "documents").select("doc_id")
    gen_df = _doc_rows(spark, sf_dir, rows_of)
    fp = dhash_images(gen_df, "doc_id", "payload")
    pairs = hamming_near_pairs(
        fp.select(F.col("id").alias("doc_id"), "dhash_hi", "dhash_lo"),
        "doc_id",
        max_hamming=_DH_MAX_HAMMING,
    )
    comp = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select("id1", "id2"),
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


# ---------------------------------------------------------------------------
# q228 — HTML main-text extraction audit (the crawl step before everything)
# ---------------------------------------------------------------------------

_HTML_WRAP_SQL = """'<html><head><STYLE>p {' || chr(10) || '  color: red' || chr(10) || '}</STYLE>'
    || '<SCRIPT type="text/javascript">' || chr(10) || 'var x = 1 &amp;&amp; 2;' || chr(10) || '</SCRIPT></head>'
    || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p class="main">'
    || text || ' &amp; tail &lt;' || CAST(doc_id % 10 AS VARCHAR)
    || '&gt; &quot;q&quot; &#39;s&#39;</p><!-- hidden' || chr(10)
    || CAST(doc_id AS VARCHAR) || chr(10) || '--></body></html>'"""


@register(
    "q228_html_text_extraction",
    tags=("text", "P2"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents
), x AS (
  SELECT doc_id,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '&amp;', '&'),
      '\\s+', ' ', 'g')) AS extracted
  FROM h
)
SELECT doc_id, CAST(length(extracted) AS BIGINT) AS n_chars,
  md5(extracted) AS extract_hash
FROM x
""",
)
def q228_html_text_extraction(spark: SparkSession, sf_dir: str):
    """HTML main-text extraction — the step a web crawl runs before ANY
    quality, dedup or tokenize stage, and the first place silent
    corruption enters a corpus: per document a deterministic HTML page
    is synthesized (head with style+script whose text is CODE and must
    vanish whole, headline, the document text inside a paragraph,
    entity-encoded punctuation, an HTML comment), and
    ``extract_html_text`` (operators/text.py) strips it back to prose —
    script/style blocks first, then comments, then tags, then the five
    standard entities (&amp; decoded LAST: decoding it earlier
    re-activates entity prefixes it guards — the classic double-decode
    bug this audit would catch), then whitespace collapse.  The result
    is certified by md5 against DuckDB's independent regex engine, so
    the regex subset is proven RE2/Java-portable, not assumed.  Scale
    shape: a pure projection riding the scan — zero shuffles, zero
    Python."""
    from ..operators.text import extract_html_text

    d = load(spark, sf_dir, "documents")
    b = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><STYLE>p {\n  color: red\n}</STYLE>"),
        F.lit('<SCRIPT type="text/javascript">\nvar x = 1 &amp;&amp; 2;\n</SCRIPT></head>'),
        F.lit("<body><h1>Doc "),
        b,
        F.lit('</h1><p class="main">'),
        F.col("text"),
        F.lit(" &amp; tail &lt;"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit('&gt; &quot;q&quot; &#39;s&#39;</p><!-- hidden\n'),
        b,
        F.lit("\n--></body></html>"),
    )
    extracted = extract_html_text(html)
    return d.select(
        "doc_id",
        F.length(extracted).cast("long").alias("n_chars"),
        F.md5(extracted).alias("extract_hash"),
    )


# ---------------------------------------------------------------------------
# q229 — stereo WAV downmix spectral audit (multichannel codec certified)
# ---------------------------------------------------------------------------


@register(
    "q229_audio_stereo_downmix_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH p AS (
  SELECT doc_id,
    CAST(power(2, 1 + doc_id % 4) AS BIGINT) AS period,
    200 + (doc_id % 3) * 200 AS a,
    (doc_id % 5) * 200 AS b,
    2 + doc_id % 3 AS n_frames
  FROM documents
), m AS (
  SELECT doc_id, period, n_frames,
    (a + b) // 2 AS hi, (b - a) // 2 AS lo
  FROM p
)
SELECT m.doc_id,
  CAST(k.k AS INTEGER) AS frame_index,
  CAST({_AUDIO_FRAME} // 2 * (hi * hi + lo * lo) AS BIGINT) AS energy_sum,
  CAST(greatest(abs(hi), abs(lo)) AS INTEGER) AS peak_abs,
  CAST({_AUDIO_FRAME} // period AS INTEGER) AS dom_bin
FROM m CROSS JOIN generate_series(0, 7) k(k)
WHERE k.k < n_frames
""",
)
def q229_audio_stereo_downmix_audit(spark: SparkSession, sf_dir: str):
    """STEREO twin of the q219 audio audit — certifies the multichannel
    WAV path end to end: per document a genuine 2-channel PCM16 RIFF
    file is synthesized (left = square wave, amplitude 200+200*(doc%3),
    period 2^(1+doc%4); right = constant bias 200*(doc%5) — both even,
    so the per-frame floor-mean downmix is integer-exact), then
    ``audio_frame_features`` re-parses the container, DOWNMIXES the
    interleaved frames to mono (floor mean — decode_wav_samples), and
    reports energy/peak/dominant-bin per frame.  The mono stream is a
    square wave of amplitude a/2 riding a DC offset b/2: energy is
    128*(hi^2+lo^2) in closed form, the DC lands in the excluded bin 0,
    and the fundamental at bin N/P still strictly dominates — container
    channel-count handling, interleave order, the downmix rounding
    convention and the FFT all have to be right at once.  Scale shape:
    identical to q219 — one fused iterator-mapInPandas (synthesize,
    then decode+FFT), samples never leave the UDFs."""
    from ..operators.multimodal import audio_frame_features, encode_wav_pcm16

    def rows_of(doc_id):
        period = 2 ** (1 + doc_id % 4)
        a = 200 + (doc_id % 3) * 200
        b = (doc_id % 5) * 200
        n = _AUDIO_FRAME * (2 + doc_id % 3)
        inter = []
        for i in range(n):
            left = a if (i % period) < period // 2 else -a
            inter += [left, b]
        yield doc_id, encode_wav_pcm16(inter, n_channels=2)

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return audio_frame_features(
        gen_df, "doc_id", "payload", frame_len=_AUDIO_FRAME
    ).select(
        F.col("id").alias("doc_id"),
        "frame_index",
        "energy_sum",
        "peak_abs",
        "dom_bin",
    )


# ---------------------------------------------------------------------------
# q230 — domain blocklist filter (crawl hygiene: the deny-list gate)
# ---------------------------------------------------------------------------

#: deny-listed registered domains (the operational shape: a small curated
#: list distributed to every executor; real lists are 10^4-10^6 rows —
#: still broadcast territory)
_BLOCKED_DOMAINS = ("example3.com", "example7.com", "example11.com")


@register(
    "q230_domain_blocklist_filter",
    tags=("mixing", "J6"),
    oracle=f"""
WITH u AS (
  SELECT doc_id,
    'example' || CAST(doc_id % 13 AS VARCHAR) || '.com' AS domain
  FROM documents
), b AS (
  SELECT unnest(['example3.com', 'example7.com', 'example11.com']) AS domain
)
SELECT u.domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
  MIN(u.doc_id) AS first_doc_id
FROM u LEFT JOIN b ON u.domain = b.domain
WHERE b.domain IS NULL
GROUP BY u.domain
""",
)
def q230_domain_blocklist_filter(spark: SparkSession, sf_dir: str):
    """Domain deny-list gate — the first hard filter of every crawl
    pipeline (spam/adult/malware domain lists): each document's
    registered domain (synthesized closed-form: example<doc_id%13>.com)
    is checked against a curated blocklist and blocked domains drop
    wholesale; survivors aggregate to per-domain counts.  Scale shape:
    the blocklist is SMALL and the corpus is 100 TB — the filter is a
    broadcast LEFT ANTI join (plan-asserted: no shuffle of the corpus
    for the gate, one aggregation exchange for the counts), the exact
    decontamination shape (q044) applied to domains.  The oracle
    replays the anti join as LEFT JOIN ... IS NULL on DuckDB."""
    blocked = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("example"), (F.col("doc_id") % 13).cast("string"), F.lit(".com")
        ).alias("domain"),
    )
    kept = d.join(F.broadcast(blocked), "domain", "left_anti")
    return kept.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc_id"),
    )


# ---------------------------------------------------------------------------
# q231 — FLAC decode audit (lossless codec certified against the WAV twin's
# closed-form oracle; all four stereo decorrelations driver-checked)
# ---------------------------------------------------------------------------


@register(
    "q231_audio_flac_decode_audit",
    tags=("multimodal", "U1"),
    oracle=f"""
WITH p AS (
  SELECT doc_id,
    CAST(power(2, 1 + doc_id % 4) AS BIGINT) AS period,
    200 + (doc_id % 3) * 200 AS a,
    (doc_id % 5) * 200 AS b,
    2 + doc_id % 3 AS n_frames
  FROM documents
), m AS (
  SELECT doc_id, period, n_frames,
    (a + b) // 2 AS hi, (b - a) // 2 AS lo
  FROM p
)
SELECT m.doc_id,
  CAST(k.k AS INTEGER) AS frame_index,
  CAST({_AUDIO_FRAME} // 2 * (hi * hi + lo * lo) AS BIGINT) AS energy_sum,
  CAST(greatest(abs(hi), abs(lo)) AS INTEGER) AS peak_abs,
  CAST({_AUDIO_FRAME} // period AS INTEGER) AS dom_bin
FROM m CROSS JOIN generate_series(0, 7) k(k)
WHERE k.k < n_frames
""",
)
def q231_audio_flac_decode_audit(spark: SparkSession, sf_dir: str):
    """FLAC twin of the q229 stereo audit — certifies the pure-stdlib
    FLAC decoder (operators/multimodal.py::decode_flac_samples: Rice
    residuals, fixed predictors, frame walk) end to end: the SAME
    stereo signal as q229 (left square wave, right constant bias) is
    FLAC-encoded instead of WAV, with the stereo decorrelation mode
    cycling by doc_id % 4 over ALL FOUR channel assignments
    (independent / left-side / right-side / mid-side), decoded through
    the magic-dispatching ``audio_frame_features`` path, downmixed and
    frame-audited.  Because FLAC is LOSSLESS the oracle is q229's
    closed-form energy/peak/bin formulas UNCHANGED — any Rice/predictor
    /decorrelation bug shifts a sample and breaks the hash.  Scale
    shape: identical to q229 — one fused iterator-mapInPandas
    (encode, then decode+FFT), samples never leave the UDFs."""
    from ..operators.multimodal import audio_frame_features, encode_flac

    modes = ("independent", "left_side", "right_side", "mid_side")

    def rows_of(doc_id):
        import numpy as np

        period = 2 ** (1 + doc_id % 4)
        a = 200 + (doc_id % 3) * 200
        b = (doc_id % 5) * 200
        n = _AUDIO_FRAME * (2 + doc_id % 3)
        # vectorized square-wave synthesis — same samples as the
        # per-index Python loop, ~10x less worker CPU
        i = np.arange(n, dtype=np.int64)
        inter = np.empty(2 * n, dtype=np.int64)
        inter[0::2] = np.where((i % period) < period // 2, a, -a)
        inter[1::2] = b
        yield doc_id, encode_flac(
            inter, n_channels=2, block_size=1024, stereo_mode=modes[doc_id % 4]
        )

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return audio_frame_features(
        gen_df, "doc_id", "payload", frame_len=_AUDIO_FRAME
    ).select(
        F.col("id").alias("doc_id"),
        "frame_index",
        "energy_sum",
        "peak_abs",
        "dom_bin",
    )


# ---------------------------------------------------------------------------
# q232 — mixed-corpus codec triage (budget the decode BEFORE paying for it)
# ---------------------------------------------------------------------------


@register(
    "q232_media_codec_triage",
    tags=("multimodal", "P9"),
    oracle="""
WITH lane AS (
  SELECT doc_id, doc_id % 8 AS v FROM documents
), cls AS (
  SELECT doc_id,
    CASE v WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
           WHEN 3 THEN 'wav' WHEN 4 THEN 'flac' WHEN 5 THEN 'mp3'
           WHEN 6 THEN 'avi' ELSE 'unknown' END AS container,
    CASE v WHEN 0 THEN 'png'
           WHEN 1 THEN CASE WHEN doc_id % 16 = 1 THEN 'jpeg-arithmetic'
                            ELSE 'jpeg-baseline' END
           WHEN 2 THEN 'lzw' WHEN 3 THEN 'pcm16' WHEN 4 THEN 'flac'
           WHEN 5 THEN 'mpeg-audio'
           WHEN 6 THEN CASE WHEN doc_id % 16 = 6 THEN 'h264' ELSE 'mjpeg' END
           ELSE 'unknown' END AS codec,
    CASE v WHEN 0 THEN TRUE
           WHEN 1 THEN doc_id % 16 <> 1
           WHEN 2 THEN TRUE WHEN 3 THEN TRUE WHEN 4 THEN TRUE
           WHEN 6 THEN doc_id % 16 <> 6
           ELSE FALSE END AS decodable_here
  FROM lane
)
SELECT container, codec, decodable_here,
  CAST(COUNT(*) AS BIGINT) AS n_payloads,
  MIN(doc_id) AS first_doc_id
FROM cls GROUP BY container, codec, decodable_here
""",
)
def q232_media_codec_triage(spark: SparkSession, sf_dir: str):
    """Mixed-corpus codec TRIAGE — the pass a 100 TB crawl runs before
    any decode job is budgeted: every payload is classified from magic/
    header bytes alone (``sniff_media``, zero inflate/IDCT work) into
    (container, codec, decodable-here), and the rollup tells the owner
    what fraction this engine decodes today and what codec library the
    remainder needs (the quarantine-lane sizing for q226).  Fixtures
    cycle 8 lanes per doc_id%8 — real PNG / JPEG / GIF / WAV / FLAC
    payloads from the module's own encoders, an MP3 frame header, a
    real MJPEG AVI, and garbage — with every 16th JPEG patched to
    arithmetic coding (SOF10) and every 16th AVI's fourcc to H264, so
    both decodable and quarantine sub-lanes of the same container are
    exercised.  The oracle states all lanes in closed form.  Scale
    shape: one header-only map pass (bytes read per payload is O(100)
    regardless of size), then a 5-column aggregate."""
    from ..operators.multimodal import (
        encode_avi_mjpeg,
        encode_flac,
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_wav_pcm16,
        sniff_media,
    )

    def fixtures():
        # one payload per lane, built once per task
        raw = bytes((7 * i) % 256 for i in range(72))
        pal = bytes(v for i in range(256) for v in (i, i, 255 - i))
        jpg = encode_jpeg(9, 8, raw)
        at = jpg.find(b"\xff\xc0")
        avi = encode_avi_mjpeg(9, 8, [jpg])
        return {
            "png": encode_png(9, 8, 1, raw),
            "jpg": jpg,
            "jpg_arith": jpg[: at + 1] + b"\xca" + jpg[at + 2 :],
            "gif": encode_gif(9, 8, raw, pal),
            "wav": encode_wav_pcm16([100, -100] * 32),
            "flac": encode_flac([100, -100] * 32),
            "mp3": b"\xff\xfb\x90\x00" + bytes(32),
            "avi": avi,
            "avi_h264": avi.replace(b"MJPG", b"H264"),
        }

    def rows_of(fx, doc_id):
        v = doc_id % 8
        if v == 0:
            payload = fx["png"]
        elif v == 1:
            payload = fx["jpg_arith"] if doc_id % 16 == 1 else fx["jpg"]
        elif v == 2:
            payload = fx["gif"]
        elif v == 3:
            payload = fx["wav"]
        elif v == 4:
            payload = fx["flac"]
        elif v == 5:
            payload = fx["mp3"]
        elif v == 6:
            payload = fx["avi_h264"] if doc_id % 16 == 6 else fx["avi"]
        else:
            payload = b"garbage " + str(doc_id).encode()
        yield doc_id, payload

    gen_df = _doc_rows(spark, sf_dir, rows_of, setup=fixtures)
    return (
        sniff_media(gen_df, "doc_id", "payload")
        .groupBy("container", "codec", "decodable_here")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.min("id").alias("first_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# q234 — MP3 header-walk triage (audio-corpus hours/bitrate without a codec)
# ---------------------------------------------------------------------------


@register(
    "q234_mp3_stream_triage",
    tags=("multimodal", "P9"),
    oracle="""
WITH p AS (
  SELECT doc_id,
    [44100, 48000, 32000][(doc_id % 3) + 1] AS sr,
    3 + doc_id % 5 AS n_frames,
    doc_id % 2 = 0 AS cbr
  FROM documents
)
SELECT doc_id,
  CAST(sr AS INTEGER) AS sample_rate,
  CAST(n_frames AS INTEGER) AS n_frames,
  CAST(n_frames * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
  CAST(CASE WHEN cbr THEN 128
       ELSE (96 * ((n_frames + 1) // 2) + 192 * (n_frames // 2)) // n_frames
       END AS INTEGER) AS kbps_avg,
  cbr AS is_cbr
FROM p
""",
)
def q234_mp3_stream_triage(spark: SparkSession, sf_dir: str):
    """MP3 header-walk triage — the audio-corpus budgeting question
    ('how many hours, at what bitrate, CBR or VBR?') answered WITHOUT a
    codec library: MPEG Layer III frame headers each carry their own
    bitrate/rate, so frame length is closed-form and
    ``mp3_stream_info`` (operators/multimodal.py) hops header to
    header summing samples — decode stays an honest NotImplementedError
    (q226 quarantine), but triage of a 100 TB audio crawl needs none.
    Fixtures synthesize structurally valid MPEG-1 L3 frame sequences
    per document (even doc_ids CBR 128k, odd VBR alternating 96/192k,
    sample rate cycling 44.1/48/32 kHz, 3-7 frames); the oracle states
    rate, frame count, exact integer duration, floor-average bitrate
    and the CBR flag in closed form.  Scale shape: one Arrow map pass
    reading O(frames) HEADER bytes per payload, no shuffle."""
    from ..operators.multimodal import encode_mp3_headers, mp3_stream_info

    rates = (44100, 48000, 32000)

    def rows_of(doc_id):
        payload = encode_mp3_headers(
            3 + doc_id % 5,
            rates[doc_id % 3],
            (128,) if doc_id % 2 == 0 else (96, 192),
        )
        yield (doc_id, *mp3_stream_info(payload))

    return _doc_rows(
        spark, sf_dir, rows_of,
        schema=(
            "doc_id long, sample_rate int, n_frames int, "
            "duration_ms long, kbps_avg int, is_cbr boolean"
        ),
    )


# ---------------------------------------------------------------------------
# q235 — silence-trim audit (audio corpus prep: cut dead air, keep speech)
# ---------------------------------------------------------------------------


@register(
    "q235_audio_silence_trim",
    tags=("multimodal", "A4"),
    oracle=f"""
WITH p AS (
  SELECT doc_id,
    doc_id % 3 AS n_lead,
    doc_id % 2 AS n_tail,
    200 + (doc_id % 3) * 100 AS a
  FROM documents
)
SELECT doc_id,
  CAST(n_lead + 2 + n_tail AS BIGINT) AS n_frames,
  CAST(n_lead AS INTEGER) AS first_voiced,
  CAST(n_lead + 1 AS INTEGER) AS last_voiced,
  CAST(2 AS BIGINT) AS kept_frames,
  CAST((n_lead + n_tail) * ({_AUDIO_FRAME} * 1000 // 8000) AS BIGINT)
    AS trimmed_ms,
  CAST(2 * {_AUDIO_FRAME} * a * a AS BIGINT) AS voiced_energy
FROM p
""",
)
def q235_audio_silence_trim(spark: SparkSession, sf_dir: str):
    """Silence-trim audit — the audio-corpus prep step that cuts dead
    air before training (leading/trailing silence is free tokens-worth
    of nothing): per document a WAV is synthesized with doc_id%3 silent
    lead frames and doc_id%2 silent tail frames around a 2-frame square
    -wave body, ``audio_frame_features`` frames it, and a plain
    conditional aggregation finds the first/last voiced frame (energy >
    0), the kept span, the trimmed milliseconds and the voiced energy —
    COMPOSED from the existing framed-feature operator, no new decode
    path (the operator-reuse shape a real pipeline wants: VAD-style
    trimming is a query over frame features, not a codec change).  The
    oracle states every bound in closed form.  Scale shape: one Arrow
    map pass then one hash aggregate over 4-int frame rows."""
    from ..operators.multimodal import audio_frame_features, encode_wav_pcm16

    def rows_of(doc_id):
        n_lead, n_tail = doc_id % 3, doc_id % 2
        a = 200 + (doc_id % 3) * 100
        body = [a if (i % 4) < 2 else -a for i in range(2 * _AUDIO_FRAME)]
        samples = (
            [0] * (n_lead * _AUDIO_FRAME) + body + [0] * (n_tail * _AUDIO_FRAME)
        )
        yield doc_id, encode_wav_pcm16(samples)

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    fr = audio_frame_features(gen_df, "doc_id", "payload", frame_len=_AUDIO_FRAME)
    voiced = F.col("energy_sum") > 0
    return fr.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.min(F.when(voiced, F.col("frame_index"))).alias("first_voiced"),
        F.max(F.when(voiced, F.col("frame_index"))).alias("last_voiced"),
        F.sum(voiced.cast("long")).alias("kept_frames"),
        (
            (F.count(F.lit(1)) - F.sum(voiced.cast("long")))
            * (_AUDIO_FRAME * 1000 // 8000)
        ).alias("trimmed_ms"),
        F.sum(F.when(voiced, F.col("energy_sum")).otherwise(F.lit(0))).alias(
            "voiced_energy"
        ),
    )


# ---------------------------------------------------------------------------
# q236 — EXIF-orientation-normalized perceptual fingerprint (8 rotations of
# one photo must hash ONCE)
# ---------------------------------------------------------------------------


@register(
    "q236_image_orientation_dedup",
    tags=("multimodal", "dedup"),
    oracle=f"""
WITH s AS (
  SELECT d.doc_id, r.r, c.c,
    {_DH_PX.format(g="d.doc_id // 8", x="2 * c.c", y="2 * r.r")} AS v
  FROM documents d, generate_series(0, 7) r(r), generate_series(0, 8) c(c)
), {_DH_BITS_SQL}
SELECT doc_id,
  CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
  CAST({_DH_W} AS INTEGER) AS width,
  CAST({_DH_H} AS INTEGER) AS height,
  dhash_hi, dhash_lo
FROM fp
""",
)
def q236_image_orientation_dedup(spark: SparkSession, sf_dir: str):
    """EXIF-orientation-normalized perceptual fingerprint — the crawl
    reality dHash alone cannot handle: the same phone photo arrives in
    any of the 8 EXIF orientations (camera sensor data + a rotation
    tag), dHash is not rotation-invariant, so without normalization
    every sideways copy escapes image dedup.  Per document: the group's
    upright 18x16 image (md5 closed-form pixels, group = doc_id // 8)
    is stored PRE-TRANSFORMED into orientation 1 + doc_id % 8 (flips /
    rotations / transposes — genuinely different bytes AND different
    dims for orientations 5-8), a PNG eXIf chunk carries the
    orientation tag (byte order alternating II/MM by doc parity, both
    TIFF orders exercised), and ``dhash_images(normalize_orientation=
    True)`` parses the tag, restores upright pixels, and hashes.  The
    oracle states the UPRIGHT hash in closed form for every doc —
    all 8 orientations of a group must produce the identical
    fingerprint and the visual (post-rotation) dims, or normalization
    is broken.  Scale shape: identical to q220 — one Arrow map pass,
    8-byte fingerprints shuffle, pixels never do."""
    from ..operators.multimodal import dhash_images, encode_png, png_exif_chunk

    def rows_of(doc_id):
        import numpy as np

        g, o = doc_id // 8, 1 + doc_id % 8
        upright = np.frombuffer(_dhash_pixels(g), dtype=np.uint8).reshape(
            _DH_H, _DH_W
        )
        # store the image AS THE CAMERA WOULD: the inverse of the
        # upright-restoring transform in orient_pixels
        if o == 1:
            a = upright
        elif o == 2:
            a = upright[:, ::-1]
        elif o == 3:
            a = upright[::-1, ::-1]
        elif o == 4:
            a = upright[::-1, :]
        elif o == 5:
            a = upright.transpose(1, 0)
        elif o == 6:
            a = np.rot90(upright, k=1)
        elif o == 7:
            a = np.rot90(upright.transpose(1, 0), k=2)
        else:
            a = np.rot90(upright, k=-1)
        hh, ww = a.shape
        png = encode_png(ww, hh, 1, np.ascontiguousarray(a).tobytes())
        exif = png_exif_chunk(o, "II" if doc_id % 2 == 0 else "MM")
        yield doc_id, png[:33] + exif + png[33:]

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return dhash_images(
        gen_df, "doc_id", "payload", normalize_orientation=True
    ).select(
        F.col("id").alias("doc_id"),
        (1 + F.col("id") % 8).cast("int").alias("orientation"),
        "width",
        "height",
        "dhash_hi",
        "dhash_lo",
    )


# ---------------------------------------------------------------------------
# q237 — cross-document repeated-span scrub (exact substring dedup, the
# line-dedup generalization)
# ---------------------------------------------------------------------------

_Q237_TAIL = (
    "limited time offer click here to unsubscribe"
    " from our newsletter mailing list"
)
_Q237_W = 8
_Q237_MIN_DF = 3


@register(
    "q237_repeated_span_scrub",
    tags=("dedup", "text", "W3"),
    oracle=f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 <> 2 THEN text || ' {_Q237_TAIL}' ELSE text END
      AS text
  FROM documents
), t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM d
), w0 AS (
  SELECT doc_id, toks,
    unnest(generate_series(0, len(toks) - {_Q237_W})) AS start
  FROM t WHERE len(toks) >= {_Q237_W}
), w AS (
  SELECT doc_id, start,
    md5(array_to_string(toks[start + 1 : start + {_Q237_W}], ' ')) AS wh
  FROM w0
), f AS (
  SELECT wh FROM w GROUP BY wh
  HAVING COUNT(DISTINCT doc_id) >= {_Q237_MIN_DF}
), cov AS (
  SELECT DISTINCT w.doc_id, w.start + j.j AS pos
  FROM w JOIN f USING (wh), generate_series(0, {_Q237_W - 1}) j(j)
), pt0 AS (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS pos
  FROM t
), pt AS (
  SELECT doc_id, pos, toks[pos + 1] AS tok FROM pt0
), kept AS (
  SELECT pt.doc_id, pt.pos, pt.tok
  FROM pt LEFT JOIN cov ON pt.doc_id = cov.doc_id AND pt.pos = cov.pos
  WHERE cov.pos IS NULL
), agg AS (
  SELECT doc_id,
    string_agg(tok, ' ' ORDER BY pos) AS kept_text,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
  coalesce(a.kept_text, '') AS kept_text,
  CAST(len(t.toks) AS BIGINT) AS n_tokens,
  CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_scrubbed
FROM t LEFT JOIN agg a USING (doc_id)
""",
)
def q237_repeated_span_scrub(spark: SparkSession, sf_dir: str):
    """Cross-document repeated-SPAN scrub — exact substring dedup in the
    Lee et al. ("Deduplicating Training Data Makes Language Models
    Better") / CCNet-line-dedup family: any {w}-token window occurring
    in >= {df} distinct documents is boilerplate BY CONSTRUCTION
    (cookie banners, nav chrome, SEO footers arrive verbatim on
    thousands of pages — no curated list needed, corpus frequency IS
    the detector), and every token covered by such a window is removed.
    Two thirds of the fixture docs carry an injected 12-token spam tail
    whose interior windows are corpus-frequent; the scrub must excise
    exactly the covered tokens and reassemble the surviving prose in
    order.  The oracle replays the full dataflow (window hashes -> df
    filter -> covered positions -> ordered reassembly) on DuckDB.
    Scale shape (operators/text.py::frequent_window_scrub): two hash
    shuffles — (window-hash) for document frequency, (doc) for
    reassembly; cross-document span matching happens through the hash
    AGGREGATE, never an all-pairs join; reassembly state is bounded by
    document length."""
    from ..operators.text import frequent_window_scrub

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 != 2,
            F.concat(F.col("text"), F.lit(f" {_Q237_TAIL}")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return frequent_window_scrub(
        d, "doc_id", "text", window=_Q237_W, min_df=_Q237_MIN_DF
    )


q237_repeated_span_scrub.__doc__ = q237_repeated_span_scrub.__doc__.format(
    w=_Q237_W, df=_Q237_MIN_DF
)


# ---------------------------------------------------------------------------
# q238 — Unicode-normalized dedup (precomposed vs decomposed is ONE page)
# ---------------------------------------------------------------------------


@register(
    "q238_unicode_normalized_dedup",
    tags=("dedup", "text", "P3"),
    oracle="""
WITH v AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'r' || chr(233) || 'sum' || chr(233) || ' of caf'
        || chr(233) || ' page ' || CAST(doc_id // 4 AS VARCHAR)
      WHEN 1 THEN 're' || chr(769) || 'sume' || chr(769) || ' of cafe'
        || chr(769) || ' page ' || CAST(doc_id // 4 AS VARCHAR)
      WHEN 2 THEN chr(65) || chr(778) || 'ngstro' || chr(776)
        || 'm page ' || CAST(doc_id // 4 AS VARCHAR)
      ELSE chr(197) || 'ngstr' || chr(246) || 'm page '
        || CAST(doc_id // 4 AS VARCHAR)
    END AS text
  FROM documents
), n AS (
  SELECT doc_id, nfc_normalize(text) AS text_nfc,
    strip_accents(nfc_normalize(text)) AS text_ascii
  FROM v
)
SELECT md5(text_nfc) AS nfc_hash,
  MIN(text_ascii) AS ascii_form,
  CAST(COUNT(*) AS BIGINT) AS dup_count,
  MIN(doc_id) AS keeper_doc_id
FROM n GROUP BY md5(text_nfc)
""",
)
def q238_unicode_normalized_dedup(spark: SparkSession, sf_dir: str):
    """Unicode-normalized dedup — the web's invisible duplicate axis:
    the same page arrives PRECOMPOSED ('é' U+00E9) from one CMS and
    DECOMPOSED ('e'+U+0301) from another, and byte-level hashing splits
    its identity exactly like un-canonicalized URLs (q224).  Fixture
    docs cycle 4 spellings in 2 NFC-equivalence pairs per page group
    (precomposed vs combining-mark 'résumé of café', and
    A+ring/o+diaeresis vs 'Ångström' — note pair 2's variants are NOT
    byte-equal but ARE NFC-equal, while 'ö' vs the accent-stripped 'o'
    keeps groups 2/3 APART until strip_accents folds them in the
    ascii_form column).  ``normalize_unicode`` (operators/text.py,
    Arrow-batched unicodedata — Spark has no Unicode normalization
    built-in) computes NFC and accent-stripped forms; dedup groups on
    md5(NFC).  The oracle normalizes with DuckDB's utf8proc — a genuine
    CROSS-IMPLEMENTATION differential of two independent Unicode
    libraries, not a replay.  Scale shape: normalization rides the scan
    in one mapInPandas projection; the dedup is one shuffle on the
    16-byte canonical hash."""
    from ..operators.text import normalize_unicode

    b = F.col("doc_id").cast("long")
    g = (b / 4).cast("long").cast("string")
    v = (b % 4).cast("int")
    # NOTE: the v=1/v=2 literals below genuinely contain DECOMPOSED
    # combining marks (U+0301/U+030A/U+0308) while v=0/v=3 are
    # precomposed — visually identical, byte-different (check with
    # ascii()); that difference is the entire point of the fixture
    text = (
        F.when(v == 0, F.concat(F.lit("résumé of café page "), g))
        .when(v == 1, F.concat(F.lit("résumé of café page "), g))
        .when(v == 2, F.concat(F.lit("Ångström page "), g))
        .otherwise(F.concat(F.lit("Ångström page "), g))
    )
    d = load(spark, sf_dir, "documents").select("doc_id", text.alias("text"))
    n = normalize_unicode(d, "text", out_col="text_nfc", form="NFC")
    n = normalize_unicode(
        n, "text_nfc", out_col="text_ascii", form="NFC", strip_accents=True
    )
    return n.groupBy(F.md5("text_nfc").alias("nfc_hash")).agg(
        F.min("text_ascii").alias("ascii_form"),
        F.count(F.lit(1)).alias("dup_count"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# q239 — meta-robots compliance gate (the in-page half of crawl consent)
# ---------------------------------------------------------------------------

_Q239_NAME_FIRST = (
    r"(?is)<meta[^>]*name\s*=\s*['\x22]robots['\x22][^>]*"
    r"content\s*=\s*['\x22]([^'\x22>]*)['\x22]"
)
_Q239_CONTENT_FIRST = (
    r"(?is)<meta[^>]*content\s*=\s*['\x22]([^'\x22>]*)['\x22][^>]*"
    r"name\s*=\s*['\x22]robots['\x22]"
)


@register(
    "q239_meta_robots_gate",
    tags=("text", "P9"),
    oracle=r"""
WITH h AS (
  SELECT doc_id,
    CASE doc_id % 8
      WHEN 0 THEN '<html><head><title>t</title></head><body>plain</body></html>'
      WHEN 1 THEN '<html><head><meta name="robots" content="noindex"></head><body>x</body></html>'
      WHEN 2 THEN '<html><head><META CONTENT=''noindex, nofollow'' NAME=''robots''></head><body>x</body></html>'
      WHEN 3 THEN '<html><head><meta name="robots" content="nofollow"></head><body>x</body></html>'
      WHEN 4 THEN '<html><head><meta name="robots" content="none"></head><body>x</body></html>'
      WHEN 5 THEN '<html><head><meta name=robots content=nofollow/></head><body>x</body></html>'
      WHEN 6 THEN '<html><head><meta name="robots" content="it''s fine, noindex"></head><body>x</body></html>'
      ELSE '<html><head><meta name="robots" content="index, follow"></head><body>about noindexing pages</body></html>'
    END AS html
  FROM documents
), d AS (
  SELECT doc_id, __DIRS__ AS dirs
  FROM h
), f AS (
  SELECT doc_id,
    (regexp_matches(dirs, '(^|[,\s])noindex([,\s]|$)')
     OR regexp_matches(dirs, '(^|[,\s])none([,\s]|$)')) AS noindex,
    (regexp_matches(dirs, '(^|[,\s])nofollow([,\s]|$)')
     OR regexp_matches(dirs, '(^|[,\s])none([,\s]|$)')) AS nofollow
  FROM d
)
SELECT noindex, nofollow,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  MIN(doc_id) AS first_doc_id
FROM f GROUP BY noindex, nofollow
""".replace("__DIRS__", meta_robots_directives_sql("html")),
)
def q239_meta_robots_gate(spark: SparkSession, sf_dir: str):
    """Meta-robots compliance gate — the in-page half of crawl consent
    (robots.txt travels per domain; the robots META tag travels WITH
    the document, so every corpus rebuild must re-check it): pages
    declaring noindex asked to be left out of indexes/corpora and a
    compliant pipeline drops them wholesale.  Fixture pages cycle 8
    shapes: no tag, noindex, a content-FIRST uppercase single-quoted
    'noindex, nofollow' (attribute order and quoting are free in real
    HTML), nofollow only, the 'none' shorthand (= noindex + nofollow),
    an UNQUOTED self-closing '<meta name=robots content=nofollow/>'
    (valid HTML the quoted-only regex silently passed), a double-quoted
    value containing a single quote BEFORE the directive ("it's fine,
    noindex" — a same-class value terminator would truncate the extract
    and lose the directive), and a trap page whose BODY says
    'noindexing' under an explicit 'index, follow' tag —
    directive-boundary matching must not false-positive on it.
    ``meta_robots_flags`` (operators/text.py) is
    one (?is)-regex codegen projection; the oracle replays it on
    DuckDB's RE2.  Scale shape: a projection riding the scan, then one
    4-row rollup — zero Python, one tiny shuffle."""
    from ..operators.text import meta_robots_flags

    b = F.col("doc_id") % 8
    html = (
        F.when(b == 0, F.lit("<html><head><title>t</title></head><body>plain</body></html>"))
        .when(b == 1, F.lit('<html><head><meta name="robots" content="noindex"></head><body>x</body></html>'))
        .when(b == 2, F.lit("<html><head><META CONTENT='noindex, nofollow' NAME='robots'></head><body>x</body></html>"))
        .when(b == 3, F.lit('<html><head><meta name="robots" content="nofollow"></head><body>x</body></html>'))
        .when(b == 4, F.lit('<html><head><meta name="robots" content="none"></head><body>x</body></html>'))
        .when(b == 5, F.lit("<html><head><meta name=robots content=nofollow/></head><body>x</body></html>"))
        .when(b == 6, F.lit('<html><head><meta name="robots" content="it\'s fine, noindex"></head><body>x</body></html>'))
        .otherwise(F.lit('<html><head><meta name="robots" content="index, follow"></head><body>about noindexing pages</body></html>'))
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", meta_robots_flags(html).alias("__r")
    )
    return d.groupBy(
        F.col("__r.noindex").alias("noindex"),
        F.col("__r.nofollow").alias("nofollow"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc_id"),
    )


# ---------------------------------------------------------------------------
# q240 — AAC/ADTS + VBR-MP3 triage (the audio formats real crawls actually
# carry: .aac/.ts ADTS streams and Xing/VBRI-tagged VBR MP3s)
# ---------------------------------------------------------------------------


@register(
    "q240_adts_vbr_audio_triage",
    tags=("multimodal", "P9"),
    oracle="""
WITH p AS (
  SELECT doc_id, doc_id % 4 AS lane,
    [48000, 44100, 32000][(doc_id % 3) + 1] AS asr,
    [44100, 48000, 32000][(doc_id % 3) + 1] AS msr,
    2 + doc_id % 5 AS anf,
    17 + doc_id % 7 AS aflen,
    CASE WHEN doc_id % 2 = 0 THEN 'lc' ELSE 'main' END AS aprof,
    500 + doc_id % 100 AS xf,
    160000 + (doc_id % 50) * 1000 AS xb,
    300 + doc_id % 77 AS vf,
    120000 + (doc_id % 41) * 999 AS vb
  FROM documents
)
SELECT doc_id,
  CASE lane WHEN 0 THEN 'aac-adts' WHEN 1 THEN 'mp3-xing'
            WHEN 2 THEN 'mp3-vbri' ELSE 'mp3-none' END AS kind,
  CASE lane WHEN 0 THEN aprof WHEN 1 THEN 'xing'
            WHEN 2 THEN 'vbri' ELSE 'none' END AS detail,
  CAST(CASE WHEN lane = 0 THEN asr ELSE msr END AS INTEGER) AS sample_rate,
  CAST(CASE lane WHEN 0 THEN anf WHEN 1 THEN xf
            WHEN 2 THEN vf ELSE 0 END AS BIGINT) AS n_frames,
  CAST(CASE lane WHEN 0 THEN anf * 1024 * 1000 // asr
            WHEN 1 THEN xf * 1152 * 1000 // msr
            WHEN 2 THEN vf * 1152 * 1000 // msr
            ELSE 0 END AS BIGINT) AS duration_ms,
  CAST(CASE lane WHEN 0 THEN anf * aflen * 8 // (anf * 1024 * 1000 // asr)
            WHEN 1 THEN xb * 8 // (xf * 1152 * 1000 // msr)
            WHEN 2 THEN vb * 8 // (vf * 1152 * 1000 // msr)
            ELSE 0 END AS INTEGER) AS kbps_avg
FROM p
""",
)
def q240_adts_vbr_audio_triage(spark: SparkSession, sf_dir: str):
    """AAC/ADTS + VBR-MP3 triage — closing the two audio-triage gaps a
    real 100 TB crawl hits first: (a) raw .aac / transport-stream audio
    is ADTS-framed, and each 7-byte header carries profile/rate/
    channels plus its own 13-bit frame length, so ``adts_stream_info``
    (operators/multimodal.py) walks headers summing 1024 samples per
    raw-data-block; (b) most real-world MP3s are VBR, where the frame
    walk of q234 reads O(file) bytes but the LAME/Xing or Fraunhofer
    VBRI header in the FIRST frame declares the stream's exact frame
    and byte totals — ``mp3_vbr_info`` reads ~200 bytes and reports
    exact duration and average bitrate.  Fixtures cycle 4 lanes: an
    ADTS stream (rate x profile x frame-count varied), a Xing-tagged
    VBR first frame, a VBRI-tagged first frame, and a tagless CBR
    stream that must triage as 'none' (no false-positive tags —
    the caller's signal to fall back to the q234 full walk).  The
    oracle states every lane's rate / frames / exact integer duration
    / floor bitrate in closed form.  Scale shape: one Arrow map pass
    reading O(200) header bytes per payload, no shuffle."""
    from ..operators.multimodal import (
        adts_stream_info,
        encode_adts_headers,
        encode_mp3_headers,
        encode_mp3_vbr_header,
        mp3_vbr_info,
    )

    arates = (48000, 44100, 32000)
    mrates = (44100, 48000, 32000)

    def rows_of(doc_id):
        lane = doc_id % 4
        if lane == 0:
            payload = encode_adts_headers(
                2 + doc_id % 5,
                arates[doc_id % 3],
                "lc" if doc_id % 2 == 0 else "main",
                channels=2,
                payload_len=10 + doc_id % 7,
            )
            sr, n, dur, kbps, prof, _ch = adts_stream_info(payload)
            yield doc_id, "aac-adts", prof, sr, n, dur, kbps
            return
        if lane == 1:
            payload = encode_mp3_vbr_header(
                500 + doc_id % 100,
                160000 + (doc_id % 50) * 1000,
                mrates[doc_id % 3],
                b"Xing",
            )
        elif lane == 2:
            payload = encode_mp3_vbr_header(
                300 + doc_id % 77,
                120000 + (doc_id % 41) * 999,
                mrates[doc_id % 3],
                b"VBRI",
            )
        else:
            payload = encode_mp3_headers(2, mrates[doc_id % 3])
        tag, n, _nb, dur, kbps = mp3_vbr_info(payload)
        yield doc_id, f"mp3-{tag}", tag, mrates[doc_id % 3], n, dur, kbps

    return _doc_rows(
        spark, sf_dir, rows_of,
        schema=(
            "doc_id long, kind string, detail string, sample_rate int, "
            "n_frames long, duration_ms long, kbps_avg int"
        ),
    )


# ---------------------------------------------------------------------------
# q241 — NFKC-casefold dedup (case + compatibility variants are ONE page)
# ---------------------------------------------------------------------------


@register(
    "q241_casefold_dedup",
    tags=("dedup", "text", "P3"),
    oracle="""
WITH v AS (
  SELECT doc_id, doc_id % 8 AS lane, CAST(doc_id // 8 AS VARCHAR) AS g
  FROM documents
), f AS (
  SELECT doc_id, lane,
    CASE WHEN lane <= 2 THEN 'data pipeline page ' || g
         WHEN lane <= 4 THEN 'fine print page ' || g
         WHEN lane <= 6 THEN 'strasse page ' || g
         ELSE chr(229) || 'ngstr' || chr(246) || 'm page ' || g
    END AS text_cf
  FROM v
)
SELECT md5(text_cf) AS cf_hash,
  MIN(text_cf) AS canonical_form,
  CAST(COUNT(*) AS BIGINT) AS dup_count,
  CAST(COUNT(DISTINCT lane) AS BIGINT) AS n_variants,
  MIN(doc_id) AS keeper_doc_id
FROM f GROUP BY md5(text_cf)
""",
)
def q241_casefold_dedup(spark: SparkSession, sf_dir: str):
    """NFKC-casefold dedup — after composition forms (q238), CASE and
    COMPATIBILITY variants are the web's next invisible duplicate axis:
    the same page arrives shouting-uppercase from one mirror, fullwidth
    from a CJK CMS, with typographic ligatures from a PDF extractor —
    and Gopher/CCNet-style pipelines casefold before hashing for
    exactly this reason.  Fixture docs cycle 8 spellings in 4
    fold-equivalence groups per page group: {'Data Pipeline', 'DATA
    PIPELINE', fullwidth 'Ｄａｔａ Ｐｉｐｅｌｉｎｅ'} (NFKC folds
    fullwidth to ASCII, casefold merges case — 3 byte-distinct docs,
    one key), {'ﬁne print' with the U+FB01 ligature, 'FINE PRINT'},
    {'straße', 'STRASSE'} (FULL case folding maps ß -> ss, which mere
    lowercasing cannot — the lane that separates casefold from
    lower()), and precomposed 'Ångström' as a merge-with-nothing
    control.  ``normalize_unicode(..., form='NFKC', casefold=True)``
    (operators/text.py) computes the key; dedup groups on md5(key);
    n_variants counts byte-distinct fixture lanes merged per key.  The
    oracle states every folded key in CLOSED FORM (what NFKC+casefold
    must produce, codepoint for codepoint — DuckDB's lower() cannot
    replay full folding, so the expected strings ARE the assertion).
    Scale shape: folding rides the scan in one mapInPandas projection;
    the dedup is one shuffle on the 16-byte canonical hash."""
    from ..operators.text import normalize_unicode

    b = F.col("doc_id").cast("long")
    g = (b / 8).cast("long").cast("string")
    lane = (b % 8).cast("int")
    # NOTE: lane 2 is GENUINELY fullwidth (U+FF24 etc.), lane 3 carries
    # the U+FB01 ligature, lane 5 the sharp s — byte-distinct spellings
    # of their groupmates; that difference is the fixture's point
    text = (
        F.when(lane == 0, F.concat(F.lit("Data Pipeline page "), g))
        .when(lane == 1, F.concat(F.lit("DATA PIPELINE PAGE "), g))
        .when(lane == 2, F.concat(F.lit("Ｄａｔａ Ｐｉｐｅｌｉｎｅ page "), g))
        .when(lane == 3, F.concat(F.lit("ﬁne print page "), g))
        .when(lane == 4, F.concat(F.lit("FINE PRINT PAGE "), g))
        .when(lane == 5, F.concat(F.lit("straße page "), g))
        .when(lane == 6, F.concat(F.lit("STRASSE page "), g))
        .otherwise(F.concat(F.lit("Ångström page "), g))
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", lane.alias("lane"), text.alias("text")
    )
    n = normalize_unicode(
        d, "text", out_col="text_cf", form="NFKC", casefold=True
    )
    return n.groupBy(F.md5("text_cf").alias("cf_hash")).agg(
        F.min("text_cf").alias("canonical_form"),
        F.count(F.lit(1)).alias("dup_count"),
        F.countDistinct("lane").alias("n_variants"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# q242 — Ogg Vorbis/Opus page-walk triage (voice corpora arrive as Ogg Opus)
# ---------------------------------------------------------------------------


@register(
    "q242_ogg_opus_triage",
    tags=("multimodal", "P9"),
    oracle="""
WITH p AS (
  SELECT doc_id, doc_id % 3 AS lane, doc_id // 3 AS g FROM documents
)
SELECT doc_id,
  CASE lane WHEN 0 THEN 'vorbis' WHEN 1 THEN 'opus'
            ELSE 'flac-ogg' END AS codec,
  CAST(CASE WHEN lane <= 1 THEN 1 + g % 2 ELSE 0 END AS INTEGER) AS channels,
  CAST(CASE lane WHEN 0 THEN [44100, 48000, 32000][(g % 3) + 1]
            WHEN 1 THEN 48000 ELSE 0 END AS INTEGER) AS sample_rate,
  CAST(CASE lane
        WHEN 0 THEN (2 + g % 4) * (1024 * (1 + g % 3)) * 1000
                    // [44100, 48000, 32000][(g % 3) + 1]
        WHEN 1 THEN (3 + g % 3) * 960 * 1000 // 48000
        ELSE 0 END AS BIGINT) AS duration_ms,
  CAST(CASE lane WHEN 0 THEN 3 + g % 4 WHEN 1 THEN 4 + g % 3
            ELSE 3 END AS BIGINT) AS n_pages
FROM p
""",
)
def q242_ogg_opus_triage(spark: SparkSession, sf_dir: str):
    """Ogg Vorbis/Opus page-walk triage — the container voice corpora
    actually arrive in (podcast/speech crawls are overwhelmingly Ogg
    Opus): every Ogg page header carries an absolute granule POSITION,
    so total duration is the last page's granule over the codec clock
    (Vorbis: rate from the BOS identification header; Opus: fixed
    48 kHz minus the declared pre-skip) — ``ogg_stream_info``
    (operators/multimodal.py) walks page headers only, verifying each
    page's RFC 3533 CRC (non-reflected 0x04C11DB7 — deliberately NOT
    zlib's) so a corrupt page truncates rather than corrupts the
    stats.  Fixtures cycle 3 lanes — a Vorbis stream (rate/channels/
    page-count/samples-per-page varied per doc group), an Opus stream
    (pre-skip excluded from duration), and a FLAC-in-Ogg stream that
    identifies but reports no clock — all with REAL page CRCs from the
    module's own encoder.  The oracle states codec, channels, clock,
    exact integer duration and page count in closed form.  Scale
    shape: one Arrow map pass, no shuffle; the METADATA read is
    O(pages) header bytes, and the CRC gate necessarily touches every
    payload byte — at C speed (numpy bit-reverse gather + one zlib
    call via the CRC reflection identity), not as an interpreter
    loop, so verification stays a small fraction of the scan cost."""
    from ..operators.multimodal import encode_ogg_pages, ogg_stream_info

    rates = (44100, 48000, 32000)

    def rows_of(doc_id):
        lane, g = doc_id % 3, doc_id // 3
        if lane == 0:
            payload = encode_ogg_pages(
                "vorbis", 2 + g % 4, 1024 * (1 + g % 3), rates[g % 3], 1 + g % 2
            )
        elif lane == 1:
            payload = encode_ogg_pages(
                "opus", 3 + g % 3, 960, channels=1 + g % 2, pre_skip=312 + g % 100
            )
        else:
            payload = encode_ogg_pages("flac-ogg", 2, 4096)
        yield (doc_id, *ogg_stream_info(payload))

    return _doc_rows(
        spark, sf_dir, rows_of,
        schema=(
            "doc_id long, codec string, channels int, sample_rate int, "
            "duration_ms long, n_pages long"
        ),
    )


# ---------------------------------------------------------------------------
# q243 — MP4/Matroska container triage (the other half of crawl video next
# to MJPEG-AVI: box/EBML walks, never a media sample)
# ---------------------------------------------------------------------------


@register(
    "q243_video_container_triage",
    tags=("multimodal", "P9"),
    oracle="""
WITH p AS (
  SELECT doc_id, doc_id % 4 AS lane, doc_id // 4 AS g FROM documents
)
SELECT doc_id,
  CASE WHEN lane <= 1 THEN 'mp4' ELSE 'mkv' END AS container,
  CASE lane WHEN 0 THEN 'isom' WHEN 1 THEN 'm4a'
            WHEN 2 THEN 'webm' ELSE 'matroska' END AS detail,
  CAST(CASE lane WHEN 0 THEN (10 + g % 20) * 1000
            WHEN 1 THEN (30 + g % 60) * 1000
            WHEN 2 THEN 60000 + g % 1000
            ELSE (8000 + g % 100) // 2 END AS BIGINT) AS duration_ms,
  CAST(CASE lane WHEN 0 THEN 2 WHEN 1 THEN 1
            WHEN 2 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
  CASE lane WHEN 0 THEN CASE WHEN g % 2 = 0 THEN 'avc1' ELSE 'hev1' END
            WHEN 1 THEN ''
            WHEN 2 THEN CASE WHEN g % 2 = 0 THEN 'V_VP9' ELSE 'V_AV1' END
            ELSE 'V_MPEG4/ISO/AVC' END AS video_codec,
  CASE lane WHEN 0 THEN 'mp4a' WHEN 1 THEN 'mp4a'
            WHEN 2 THEN 'A_OPUS' ELSE '' END AS audio_codec
FROM p
""",
)
def q243_video_container_triage(spark: SparkSession, sf_dir: str):
    """MP4 + Matroska/WebM container triage — the two containers crawl
    VIDEO actually arrives in (next to the decodable MJPEG-AVI lane of
    q214): ISO-BMFF is a tree of length-prefixed boxes, so
    ``mp4_stream_info`` (operators/multimodal.py) reads ftyp's brand,
    mvhd's timescale+duration (32-bit v0 AND 64-bit v1 layouts), and
    per trak the hdlr handler + first stsd sample-entry fourcc;
    Matroska is an EBML varint tree, so ``mkv_stream_info`` reads
    DocType, Info's float Duration x TimestampScale, and per-track
    TrackType/CodecID.  Together with q240/q242 this closes the
    container-triage matrix: every major crawl media container now
    yields duration + codec identification from O(1 KB) of headers,
    which is how a 100 TB video crawl budgets transcode hours and
    codec-library needs BEFORE provisioning decoders.  Fixtures cycle
    4 lanes — isom movie (avc1|hev1 + mp4a, v0 mvhd), m4a audio-only,
    WebM (V_VP9|V_AV1 + A_OPUS at default timestamp scale), matroska
    (AVC at a NON-default 500 microsecond scale — the rescale case) —
    all with structurally real box/EBML nesting from the module's own
    encoders.  The oracle states brand/doctype, exact integer duration,
    track counts and codec ids in closed form.  Scale shape: one Arrow
    map pass reading O(1 KB) header bytes per payload, no shuffle."""
    from ..operators.multimodal import (
        encode_mkv_elements,
        encode_mp4_boxes,
        mkv_stream_info,
        mp4_stream_info,
    )

    def rows_of(doc_id):
        lane, g = doc_id % 4, doc_id // 4
        if lane <= 1:
            if lane == 0:
                payload = encode_mp4_boxes(
                    "isom",
                    (10 + g % 20) * 90000,
                    90000,
                    [
                        ("vide", "avc1" if g % 2 == 0 else "hev1"),
                        ("soun", "mp4a"),
                    ],
                )
            else:
                payload = encode_mp4_boxes(
                    "m4a",
                    (30 + g % 60) * 44100,
                    44100,
                    [("soun", "mp4a")],
                    mvhd_version=1,
                )
            brand, dur, _ts, nt, vc, ac = mp4_stream_info(payload)
            row = ("mp4", brand, dur, nt, vc, ac)
        else:
            if lane == 2:
                payload = encode_mkv_elements(
                    "webm",
                    float(60000 + g % 1000),
                    1_000_000,
                    [
                        (1, "V_VP9" if g % 2 == 0 else "V_AV1"),
                        (2, "A_OPUS"),
                    ],
                )
            else:
                payload = encode_mkv_elements(
                    "matroska",
                    float(8000 + g % 100),
                    500_000,
                    [(1, "V_MPEG4/ISO/AVC")],
                )
            doctype, dur, nt, vc, ac = mkv_stream_info(payload)
            row = ("mkv", doctype, dur, nt, vc, ac)
        yield (doc_id, *row)

    return _doc_rows(
        spark, sf_dir, rows_of,
        schema=(
            "doc_id long, container string, detail string, duration_ms long, "
            "n_tracks int, video_codec string, audio_codec string"
        ),
    )


# ---------------------------------------------------------------------------
# q244 — WARC crawl census (Common Crawl's own container, record triage)
# ---------------------------------------------------------------------------


@register(
    "q244_warc_crawl_census",
    tags=("multimodal", "S3", "P9"),
    oracle="""
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS k, doc_id % 50 AS m FROM documents
), rows_ AS (
  SELECT doc_id, k, m, gs.generate_series AS j
  FROM p, generate_series(0, 4) gs
  WHERE gs.generate_series < p.k
), resp AS (
  SELECT *, [200, 404, 301][((doc_id + j) % 3) + 1] AS s FROM rows_
)
SELECT * FROM (
  SELECT doc_id, 0 AS rec_index, 'warcinfo' AS rec_type,
    '' AS target_uri, CAST(19 AS BIGINT) AS content_length,
    0 AS http_status, 'application/warc-fields' AS mime
  FROM p
  UNION ALL
  SELECT doc_id, CAST(1 + 2 * j AS INTEGER), 'request',
    'http://d' || m || '.example.com/p' || j, CAST(22 AS BIGINT), 0,
    'application/http'
  FROM rows_
  UNION ALL
  SELECT doc_id, CAST(2 + 2 * j AS INTEGER), 'response',
    'http://d' || m || '.example.com/p' || j,
    CAST(35 + CASE WHEN s = 200 THEN 9 ELSE 10 END
         + 10 + (doc_id + j) % 20 AS BIGINT),
    CAST(s AS INTEGER),
    CASE WHEN s = 200 THEN 'text/html' ELSE 'text/plain' END
  FROM resp
)
""",
)
def q244_warc_crawl_census(spark: SparkSession, sf_dir: str):
    """WARC crawl census — the container the web actually ships in:
    Common Crawl publishes per-record-gzipped WARC (ISO 28500), and
    every corpus build starts by walking records before extraction
    (q228) / hygiene (q239) can run.  ``warc_triage``
    (sources/warc.py) explodes each payload into records by STREAMING
    the gzip members (bounded inflate quanta; body bytes discarded as
    they stream, so memory is O(header + 64 KiB) per record, never
    O(inflated file)) and walking WARC named-field headers, pulling
    the HTTP status and payload Content-Type out of response bodies'
    own HTTP heads — the (status, MIME) mix is the first budgeting
    question a 100 TB crawl answers.  Fixtures synthesize per doc a
    real .warc.gz: one warcinfo + 2-4 request/response pairs with
    status cycling 200/404/301, fixed-width status phrases and
    deterministic payload sizes so every record's Content-Length is
    closed-form.  The oracle states all records (type, URI, exact
    length, status, MIME).  Scale shape: one Arrow map pass retaining
    O(header) memory per record, no shuffle."""
    from ..sources.warc import encode_warc_records, warc_triage

    def rows_of(doc_id):
        k, m = 2 + doc_id % 3, doc_id % 50
        recs = [
            {
                "rec_type": "warcinfo",
                "content_type": "application/warc-fields",
                "body": b"software: ldp-spark",
            }
        ]
        for j in range(k):
            uri = f"http://d{m}.example.com/p{j}"
            recs.append(
                {
                    "rec_type": "request",
                    "target_uri": uri,
                    "content_type": "application/http;msgtype=request",
                    "body": b"GET /page HTTP/1.1\r\n\r\n",
                }
            )
            s = (200, 404, 301)[(doc_id + j) % 3]
            phrase = {200: "OK", 404: "NF", 301: "MV"}[s]
            mime = "text/html" if s == 200 else "text/plain"
            body = (
                f"HTTP/1.1 {s} {phrase}\r\nContent-Type: {mime}"
                f"\r\n\r\n".encode()
                + b"c" * (10 + (doc_id + j) % 20)
            )
            recs.append(
                {
                    "rec_type": "response",
                    "target_uri": uri,
                    "content_type": "application/http;msgtype=response",
                    "body": body,
                }
            )
        yield doc_id, encode_warc_records(recs, gzip_members=True)

    gen_df = _doc_rows(spark, sf_dir, rows_of)
    return warc_triage(gen_df, "doc_id", "payload").select(
        F.col("id").alias("doc_id"),
        "rec_index",
        "rec_type",
        "target_uri",
        "content_length",
        "http_status",
        "mime",
    )


# ---------------------------------------------------------------------------
# q245 — robots.txt gate (RFC 9309 longest-match: the domain half of crawl
# consent, next to q239's in-page meta-robots half)
# ---------------------------------------------------------------------------

_Q245_TPL_A = (
    "# site with a bot-specific policy\n"
    "User-agent: ldp-bot\n"
    "Disallow: /private/*\n"
    "Allow: /private/ok$\n"
    "Crawl-delay: 2\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /\n"
)
_Q245_TPL_C = (
    "User-agent: *\n"
    "Disallow: /tmp\n"
    "Allow: /tmp/keep*\n"
)


@register(
    "q245_robots_txt_gate",
    tags=("text", "P9", "J1"),
    oracle="""
WITH pages AS (
  SELECT doc_id, doc_id % 20 AS m, (doc_id % 20) % 4 AS tpl,
         doc_id % 6 AS lane
  FROM documents
), pg AS (
  SELECT doc_id, tpl, 'd' || m || '.example.com' AS domain,
    CASE lane WHEN 0 THEN '/index.html' WHEN 1 THEN '/private/page1'
         WHEN 2 THEN '/private/ok' WHEN 3 THEN '/tmp/file'
         WHEN 4 THEN '/tmp/keep/x' ELSE '/private/okay' END AS path
  FROM pages
), rules AS (
  SELECT * FROM (VALUES
    (0, false, 10, '/private/%'),
    (0, true, 12, '/private/ok'),
    (2, false, 4, '/tmp%'),
    (2, true, 10, '/tmp/keep%')
  ) AS t(rtpl, allow, rule_len, pat)
), scored AS (
  SELECT pg.doc_id, pg.domain, pg.path,
    MAX(CASE WHEN pg.path LIKE r.pat ESCAPE '!'
         THEN r.rule_len * 2 + CASE WHEN r.allow THEN 1 ELSE 0 END
        END) AS best
  FROM pg LEFT JOIN rules r
    ON r.rtpl = CASE WHEN pg.tpl = 1 THEN 0 ELSE pg.tpl END
  GROUP BY pg.doc_id, pg.domain, pg.path
)
SELECT doc_id, domain, path,
  best IS NULL OR best % 2 = 1 AS allowed
FROM scored
""",
)
def q245_robots_txt_gate(spark: SparkSession, sf_dir: str):
    """robots.txt gate — the DOMAIN half of crawl consent (q239's
    meta-robots tag is the in-page half): pages must clear their
    domain's robots rules under RFC 9309 LONGEST-MATCH semantics —
    the longest matching path pattern wins and Allow beats Disallow on
    ties; no match (or no robots.txt) means allowed.
    ``parse_robots_txt`` (operators/text.py) implements the grouping
    rules honestly — consecutive User-agent lines share a group, the
    bot-specific group EXCLUDES the ``*`` group (the classic crawler
    bug is merging them: template A's ``*`` group says Disallow /, and
    a merged parse would deny every page), unknown fields ignored,
    empty Disallow a no-op.  ``robots_gate`` then decides per page via
    one BROADCAST rule join + one integer max (score = rule_len * 2 +
    allow encodes both precedence keys).  Fixture lanes exercise the
    wildcard ('/private/*' matches '/private/page1'), the '$' anchor
    ('/private/ok' allowed but '/private/okay' denied), prefix rules,
    tie-breaking by length, and robots-free domains.  The oracle
    replays the LIKE matching + max scoring on DuckDB against a
    closed-form rule table.  Scale shape: rules are KBs per domain and
    broadcast; the page corpus never shuffles for the gate — one
    aggregate on the page id decides."""
    from ..operators.text import robots_gate, robots_rules

    b = F.col("doc_id").cast("long")
    m = (b % 20).cast("int")
    lane = (b % 6).cast("int")
    path = (
        F.when(lane == 0, F.lit("/index.html"))
        .when(lane == 1, F.lit("/private/page1"))
        .when(lane == 2, F.lit("/private/ok"))
        .when(lane == 3, F.lit("/tmp/file"))
        .when(lane == 4, F.lit("/tmp/keep/x"))
        .otherwise(F.lit("/private/okay"))
    )
    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://d"), m, F.lit(".example.com"), path
        ).alias("url"),
    )
    robots = (
        docs.select(m.alias("m"))
        .distinct()
        .filter(F.col("m") % 4 != 3)  # tpl-3 domains publish no robots
        .select(
            F.concat(F.lit("d"), F.col("m"), F.lit(".example.com")).alias(
                "domain"
            ),
            F.when(F.col("m") % 4 <= 1, F.lit(_Q245_TPL_A))
            .otherwise(F.lit(_Q245_TPL_C))
            .alias("robots_txt"),
        )
    )
    rules = robots_rules(robots, "domain", "robots_txt", user_agent="ldp-bot")
    return robots_gate(pages, rules, "doc_id", "url")


# ---------------------------------------------------------------------------
# q246 — video pixel-dimension triage (avcC/SPS decode-config parse)
# ---------------------------------------------------------------------------


@register(
    "q246_video_dimension_triage",
    tags=("multimodal", "P9"),
    oracle="""
WITH p AS (
  SELECT doc_id, doc_id % 5 AS lane, doc_id // 5 AS g FROM documents
)
SELECT doc_id,
  CASE WHEN lane IN (0, 2, 4) OR (lane = 3 AND g % 2 = 1)
       THEN 'mp4' ELSE 'mkv' END AS container,
  CASE lane WHEN 0 THEN 'avc1' WHEN 1 THEN 'V_MPEG4/ISO/AVC'
            WHEN 2 THEN 'hev1'
            WHEN 3 THEN CASE WHEN g % 2 = 0 THEN 'V_VP9' ELSE 'vp09' END
            ELSE 'av01' END AS codec,
  CAST([640, 1280, 1920, 854, 426][(g % 5) + 1] AS INTEGER) AS width,
  CAST([360, 720, 1080, 480, 240][(g % 5) + 1] AS INTEGER) AS height,
  CAST(CASE WHEN lane <= 1 THEN [66, 77, 100][(g % 3) + 1]
            WHEN lane = 2 THEN [1, 2, 4][(g % 3) + 1]
            WHEN lane = 4 THEN [0, 1, 2][(g % 3) + 1]
            WHEN lane = 3 AND g % 2 = 1 THEN [0, 1, 2][(g % 3) + 1]
            ELSE 0 END AS INTEGER) AS profile_idc,
  CAST(CASE WHEN lane <= 1 THEN [30, 31, 40, 41, 51][(g % 5) + 1]
            WHEN lane = 2 THEN [93, 120, 123, 150, 153][(g % 5) + 1]
            WHEN lane = 4 THEN [5, 8, 12, 13, 19][(g % 5) + 1]
            WHEN lane = 3 AND g % 2 = 1
                 THEN [10, 20, 31, 41, 51][(g % 5) + 1]
            ELSE 0 END AS INTEGER) AS level_idc,
  CAST(([640, 1280, 1920, 854, 426][(g % 5) + 1]
        * [360, 720, 1080, 480, 240][(g % 5) + 1]) AS BIGINT) AS n_pixels
FROM p
""",
)
def q246_video_dimension_triage(spark: SparkSession, sf_dir: str):
    """Video PIXEL triage — the header-walk question q243 leaves open:
    the container says avc1/V_MPEG4 and how long, but a 100 TB crawl
    budgets DECODE cost by pixels, and those live in the H.264 SPS
    inside the decoder configuration (MP4: the stsd sample entry's
    ``avcC`` box, ISO 14496-15; Matroska: the TrackEntry CodecPrivate).
    ``video_stream_params`` (operators/multimodal.py) parses the full
    SPS (§7.3.2.1: Exp-Golomb, high-profile chroma block with
    scaling-list skip, frame cropping — 1080p is coded as 68 macroblock
    rows and CROPPED to 1080, so reading the declared mb counts alone
    is wrong by 8 rows) for exact width/height/profile/level; the VP9
    lane splits between a Matroska track that falls back to declared
    Video>PixelWidth/PixelHeight with profile/level 0 (VP9's config
    carries no dims and WebM often ships no CodecPrivate — declared,
    not decoded, labeled by the zero profile) and an MP4 vp09 entry
    whose ``vpcC`` FullBox supplies profile/level next to the
    entry-declared dims.  Fixtures cycle 5 lanes x 5
    resolutions (two of which, 854x480 and 426x240, require real crop
    arithmetic) x 3 profiles (66 baseline skips the chroma block, 100
    high includes it) x 5 levels, every payload synthesized by the
    module's own encode_avc_sps/encode_avcc/container encoders and
    parsed back through the real bit-reader.  The H.265 twin rides the
    same machinery: lane 2 is an hev1 MP4 whose ``hvcC``
    (ISO 14496-15 §8.3.3.1) wraps a real HEVC SPS —
    profile_tier_level block, explicit luma dimensions, conformance
    window (§7.3.2.2.1); lane 4 is an av01 MP4 whose ``av1C``
    (AV1-ISOBMFF §2.3) wraps a real AV1 sequence-header OBU (leb128
    size field, operating-point block, explicit minimal-width
    dimension fields) — together the AVC/HEVC/AV1 trio covers the
    modern crawl's video codec mix.  The oracle states all
    fields in closed form.  Scale shape: one Arrow map pass reading
    O(decoder-config) bytes per payload — a few hundred — no shuffle."""
    from ..operators.multimodal import (
        encode_av1_sequence_header,
        encode_av1c,
        encode_avc_sps,
        encode_avcc,
        encode_hevc_sps,
        encode_hvcc,
        encode_mkv_elements,
        encode_mp4_boxes,
        encode_vpcc,
        video_stream_params,
    )

    _dims = [(640, 360), (1280, 720), (1920, 1080), (854, 480), (426, 240)]
    _profiles = [66, 77, 100]
    _levels = [30, 31, 40, 41, 51]
    _hevc_profiles = [1, 2, 4]  # Main, Main10, range extensions
    _hevc_levels = [93, 120, 123, 150, 153]  # 3.1/4.0/4.1/5.0/5.1 x30
    _av1_profiles = [0, 1, 2]  # main, high, professional
    _av1_levels = [5, 8, 12, 13, 19]  # seq_level_idx: 2.1/3.0/4.0/4.1/5.1
    _vp9_levels = [10, 20, 31, 41, 51]  # 1.0/2.0/3.1/4.1/5.1 x10

    def rows_of(doc_id):
        lane, g = doc_id % 5, doc_id // 5
        w, h = _dims[g % 5]
        if lane <= 1:
            avcc = encode_avcc(
                [encode_avc_sps(w, h, _profiles[g % 3], _levels[g % 5])]
            )
            if lane == 0:
                payload = encode_mp4_boxes(
                    "isom",
                    (10 + g % 20) * 90000,
                    90000,
                    [("vide", "avc1"), ("soun", "mp4a")],
                    video_avcc=avcc,
                )
            else:
                payload = encode_mkv_elements(
                    "matroska",
                    float(8000 + g % 100),
                    500_000,
                    [(1, "V_MPEG4/ISO/AVC", avcc)],
                )
        elif lane == 2:
            hvcc = encode_hvcc(
                [encode_hevc_sps(
                    w, h, _hevc_profiles[g % 3], _hevc_levels[g % 5]
                )]
            )
            payload = encode_mp4_boxes(
                "isom",
                (10 + g % 20) * 90000,
                90000,
                [("vide", "hev1"), ("soun", "mp4a")],
                video_hvcc=hvcc,
            )
        elif lane == 3:
            if g % 2 == 0:
                payload = encode_mkv_elements(
                    "webm",
                    float(60000 + g % 1000),
                    1_000_000,
                    [(1, "V_VP9", None, w, h), (2, "A_OPUS")],
                )
            else:
                payload = encode_mp4_boxes(
                    "isom",
                    (10 + g % 20) * 90000,
                    90000,
                    [("vide", "vp09"), ("soun", "mp4a")],
                    video_vpcc=encode_vpcc(
                        _av1_profiles[g % 3], _vp9_levels[g % 5]
                    ),
                    video_dims=(w, h),
                )
        else:
            av1c = encode_av1c(
                encode_av1_sequence_header(
                    w, h, _av1_profiles[g % 3], _av1_levels[g % 5]
                )
            )
            payload = encode_mp4_boxes(
                "isom",
                (10 + g % 20) * 90000,
                90000,
                [("vide", "av01"), ("soun", "mp4a")],
                video_av1c=av1c,
            )
        cont, codec, vw, vh, prof, lvl = video_stream_params(payload)
        yield doc_id, cont, codec, vw, vh, prof, lvl, vw * vh

    return _doc_rows(
        spark, sf_dir, rows_of,
        schema=(
            "doc_id long, container string, codec string, width int, "
            "height int, profile_idc int, level_idc int, n_pixels long"
        ),
    )


# ---------------------------------------------------------------------------
# q247 — WARC-to-corpus end-to-end: the composed crawl-ingestion pipeline
# ---------------------------------------------------------------------------

_Q247_ROBOTS = "User-agent: *\nDisallow: /private/\n"


@register(
    "q247_warc_to_corpus",
    tags=("dedup", "P9", "S1"),
    oracle="""
WITH d AS (SELECT doc_id % 10 AS m, doc_id // 10 AS g FROM documents),
agg AS (
  SELECT m, COUNT(*) AS nd, COUNT(DISTINCT (g // 2) % 4) AS k4
  FROM d GROUP BY m
)
SELECT 'd' || CAST(m AS VARCHAR) || '.example.com' AS domain,
  CAST(8 * nd AS BIGINT) AS n_html,
  CAST(nd AS BIGINT) AS n_quar,
  CAST((7 + m % 2) * nd AS BIGINT) AS n_allowed,
  CAST((4 + m % 2) * nd + k4 AS BIGINT) AS n_kept,
  CAST((6 + m % 2) * nd + 1 AS BIGINT) AS n_urls
FROM agg
""",
)
def q247_warc_to_corpus(spark: SparkSession, sf_dir: str):
    """WARC-to-corpus END-TO-END — the composition a 100 TB build
    actually executes, certified under ONE oracle: .warc.gz bytes →
    ``warc_html_documents`` (streaming record walk, 200/text-html lane
    only — the single scan of the crawl bytes) → ``extract_html_text``
    (q228's codegen extraction, script/entity handling) →
    ``canonicalize_url`` (q224: host lowercased, query params sorted —
    certified here by ``n_urls``, which counts the two query-order
    spellings of the same page as ONE) → ``robots_rules`` +
    ``robots_gate`` (q245's RFC 9309 broadcast gate; ``carry_cols``
    rides the dedup key and canonical URL through the gate's aggregate
    so no corpus-sized re-join is needed) → exact dedup on the folded
    extracted text (q238's shape; ASCII fixtures make fold == lower,
    which DuckDB replays — q241 certifies the full NFKC path
    separately).  Per-query plan checks can't see CROSS-operator
    problems (a repeated payload scan between census and extraction is
    invisible to both queries' plans); this one can: the dataflow is
    one linear chain, so the WARC payload crosses Arrow exactly once.

    Fixtures per doc (m = doc_id%10 names the domain, g = doc_id//10):
    a real per-member-gzipped WARC with warcinfo + request + ELEVEN
    responses — an allowed page with unique text and an uppercase-host
    tracking-param URL, a /private/ page (blocked by the even-m
    domains' robots.txt), a shared-text page whose case varies with g
    parity (dedup must collapse it) under two query-param spellings
    (canonicalization must collapse those), a 404 and a JSON response
    (both filtered in the walk), plus the round-8 HTTP-fidelity lanes:
    a ``Content-Encoding: gzip`` page and a ``Transfer-Encoding:
    chunked`` page (unique texts — counted IFF the codings decode), a
    charset TRIPLE (the same accented text as UTF-8 bytes, as latin-1
    bytes under an HTTP-head ``charset=iso-8859-1``, and as latin-1
    bytes under a ``<meta charset>`` prescan — n_kept counts the
    triple ONCE only if both charset mechanisms actually decode, and
    counts 3 under a UTF-8-replace fallback), and a ``Content-
    Encoding: br`` record that must land in the per-record quarantine
    lane (html NULL -> ``n_quar``), never as mojikake text.  The
    oracle states the per-domain census — fetched, quarantined,
    robots-allowed, dedup-kept, distinct canonical URLs — in closed
    form.  Scale shape: one Arrow map pass over the crawl bytes at
    O(header + body_max) memory per record, codegen projections riding
    that scan, ONE broadcast rule join, one aggregate keyed by page,
    one tiny final aggregate by domain; the corpus never shuffles its
    raw bytes."""
    from ..operators.text import (
        canonicalize_url,
        extract_html_text,
        robots_gate,
        robots_rules,
    )
    from ..sources.warc import encode_warc_records, warc_html_documents

    def html_doc(body_html, *headers, ctype=b"text/html"):
        head = b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype
        for h in headers:
            head += b"\r\n" + h
        return head + b"\r\n\r\n" + body_html

    def chunk_frame(body, size=24):
        out = bytearray()
        for i in range(0, len(body), size):
            c = body[i : i + size]
            out += b"%x\r\n" % len(c) + c + b"\r\n"
        return bytes(out + b"0\r\n\r\n")

    def rows_of(doc_id):
        import gzip as _gzip

        m, g = doc_id % 10, doc_id // 10
        k = (g // 2) % 4
        beta = (
            f"<p>Beta text {k}</p>"
            if g % 2 == 0
            else f"<P>BETA TEXT {k}</P>"
        )
        b_q = "x=2&a=1" if g % 2 == 0 else "a=1&x=2"
        eps = f"<html><body><p>épsilon {g} page</p></body></html>"
        eps_meta = (
            '<html><head><meta charset="iso-8859-1"></head>'
            f"<body><p>épsilon {g} page</p></body></html>"
        )
        recs = [
            {"rec_type": "warcinfo",
             "content_type": "application/warc-fields",
             "body": b"software: ldp"},
            {"rec_type": "request",
             "target_uri": f"http://d{m}.example.com/a",
             "content_type": "application/http;msgtype=request",
             "body": b"GET /a HTTP/1.1\r\nHost: x\r\n\r\n"},
            {"rec_type": "response",
             "target_uri": (
                 f"http://D{m}.EXAMPLE.com/a?utm_source=x&id={g}"
             ),
             "content_type": "application/http;msgtype=response",
             "body": html_doc(
                 b"<html><head><title>T</title><script>var x=1;"
                 b"</script></head><body><p>alpha %d content</p>"
                 b"</body></html>" % g
             )},
            {"rec_type": "response",
             "target_uri": f"http://d{m}.example.com/private/p{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(b"<p>secret %d</p>" % g)},
            {"rec_type": "response",
             "target_uri": f"http://d{m}.example.com/b?{b_q}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(beta.encode())},
            {"rec_type": "response",
             "target_uri": f"http://d{m}.example.com/gone{g}",
             "content_type": "application/http;msgtype=response",
             "body": (
                 b"HTTP/1.1 404 Not Found\r\nContent-Type: "
                 b"text/html\r\n\r\nmissing"
             )},
            {"rec_type": "response",
             "target_uri": f"http://d{m}.example.com/api{g}",
             "content_type": "application/http;msgtype=response",
             "body": (
                 b"HTTP/1.1 200 OK\r\nContent-Type: "
                 b'application/json\r\n\r\n{"a": 1}'
             )},
            # --- round-8 HTTP-fidelity lanes ---
            {"rec_type": "response",  # gzip content-coding
             "target_uri": f"http://d{m}.example.com/c{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(
                 _gzip.compress(
                     b"<p>gamma %d content</p>" % g, mtime=0
                 ),
                 b"Content-Encoding: gzip",
             )},
            {"rec_type": "response",  # chunked transfer framing
             "target_uri": f"http://d{m}.example.com/e{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(
                 chunk_frame(b"<p>delta %d content</p>" % g),
                 b"Transfer-Encoding: chunked",
             )},
            {"rec_type": "response",  # charset triple 1: UTF-8
             "target_uri": f"http://d{m}.example.com/f{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(eps.encode("utf-8"))},
            {"rec_type": "response",  # 2: latin-1, head charset
             "target_uri": f"http://d{m}.example.com/h{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(
                 eps.encode("latin-1"),
                 ctype=b"text/html; charset=iso-8859-1",
             )},
            {"rec_type": "response",  # 3: latin-1, meta prescan
             "target_uri": f"http://d{m}.example.com/j{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(eps_meta.encode("latin-1"))},
            {"rec_type": "response",  # br -> record quarantine
             "target_uri": f"http://d{m}.example.com/z{g}",
             "content_type": "application/http;msgtype=response",
             "body": html_doc(
                 b"\x8b\x03\x80brpayload",
                 b"Content-Encoding: br",
             )},
        ]
        yield doc_id, encode_warc_records(recs, gzip_members=True)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    warcs = _doc_rows(spark, sf_dir, rows_of)
    pages = warc_html_documents(warcs, "doc_id", "payload").select(
        (F.col("id") * 16 + F.col("rec_index")).alias("page_id"),
        canonicalize_url(F.col("url")).alias("curl"),
        # html NULL is the per-record quarantine lane (undecodable
        # coding — the br fixture); counted, never keyed or kept
        F.col("html").isNull().alias("quar"),
        F.md5(F.lower(extract_html_text(F.col("html")))).alias("key"),
    )
    m = (F.col("doc_id") % 10).cast("int")
    robots = (
        docs.select(m.alias("m"))
        .distinct()
        .filter(F.col("m") % 2 == 0)  # odd domains publish no robots
        .select(
            F.concat(F.lit("d"), F.col("m"), F.lit(".example.com")).alias(
                "domain"
            ),
            F.lit(_Q247_ROBOTS).alias("robots_txt"),
        )
    )
    rules = robots_rules(robots, "domain", "robots_txt", user_agent="*")
    gated = robots_gate(
        pages, rules, "page_id", "curl", carry_cols=("curl", "key", "quar")
    )
    ok = F.col("allowed") & ~F.col("quar")
    return gated.groupBy("domain").agg(
        F.sum((~F.col("quar")).cast("long")).alias("n_html"),
        F.sum(F.col("quar").cast("long")).alias("n_quar"),
        F.sum(ok.cast("long")).alias("n_allowed"),
        F.countDistinct(F.when(ok, F.col("key"))).alias("n_kept"),
        F.countDistinct(F.when(ok, F.col("curl"))).alias("n_urls"),
    )
