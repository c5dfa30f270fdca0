"""Similarity search over embedding columns (BASELINE.json north star).

- **cosine_topk** — brute-force exact top-k: broadcast the (small) query
  set, score every candidate with a JVM-side fold (zip_with + aggregate —
  no Python), per-query top-k via window. At 100 TB the candidate scan is
  embarrassingly parallel; the window shuffles only (query × candidate)
  score rows, and with `k` small the dominant cost is the scan itself.
- **lsh_topk** — the approximate scale path: seeded random-hyperplane
  (SimHash) pre-bucketing as pure DataFrame expressions, so each query
  only scores its bucket's candidates.
- **kmeans_cells / ivf_topk**, **pq_kmeans / pq_topk / pq_encode /
  ivf_pq_topk**, **block_nn_pairs_pandas** and **semantic_dedup** run
  their vector math in numpy over Arrow batches, through the vector
  primitives defined once below: ``_arrow_matrix`` (an Arrow list column
  as an ``(n, dim)`` matrix), ``_nearest`` (nearest codebook row),
  ``_seq_norms`` and ``_seq_dot_chunks`` (row norms and budgeted dot
  blocks).

Determinism: dot/norm/distance sums run left-to-right over the dims in
both forms — ``F.aggregate`` is a strict sequential fold, and the numpy
primitives add one dim at a time in the same order, as DuckDB's
``list_sum`` does — so scores are bit-identical across Spark's
expressions, the numpy kernels and the oracle; ranking orders by the
rounded score with the candidate id as tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .scale import fan_out

__all__ = [
    "cosine_topk",
    "lsh_topk",
    "block_nn_pairs_pandas",
    "kmeans_cells",
    "pq_kmeans",
    "pq_topk",
    "pq_encode",
    "ivf_pq_topk",
    "semantic_dedup",
    "ivf_topk",
]


# ---------------------------------------------------------------------------
# Vector primitives: the one numpy form of each kernel step.  Sums run over
# the dims strictly left to right, so every kernel below is bit-identical to
# its expression oracle.
# ---------------------------------------------------------------------------

# bytes of one (rows × n) dot block plus its product scratch
_DOT_BUDGET = 64 << 20


def _arrow_matrix(arr):
    """The ``(n, dim)`` float64 matrix of an Arrow list column, reshaped
    from its flat value buffer: zero-copy for ``list<double>``, an exact
    widening for ``list<float>``.  A sliced array reads its own offsets.
    A null or ragged row raises ``ValueError``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    lens = np.diff(offs)
    if arr.null_count or (lens != lens[:1]).any():
        raise ValueError("vector rows must be non-null and of equal length")
    dim = int(lens[0]) if len(lens) else 0
    vals = arr.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
    return vals.astype(np.float64, copy=False).reshape(len(arr), dim)


def _nearest(x, C):
    """``(code, sq_dist)`` of each row of ``x`` against the codebook rows
    ``C``.  The squared L2 distance adds ``(x - c)²`` one dim at a time
    from +0.0 (``0.0 + sq`` is exact, as in the fold); ``argmin`` keeps
    the first minimum, so ties go to the lower code."""
    import numpy as np

    d = np.zeros((len(x), len(C)))
    for t in range(C.shape[1]):
        diff = x[:, t, None] - C[None, :, t]
        d += diff * diff
    j = d.argmin(axis=1)
    return j, d[np.arange(len(x)), j]


def _seq_norms(m):
    """Row L2 norms, the squares added left to right."""
    import numpy as np

    return np.sqrt(np.add.accumulate(m * m, axis=1)[:, -1])


def _seq_dot_chunks(a, b, budget: int = _DOT_BUDGET):
    """Dot products of the rows of ``a`` with the rows of ``b`` as
    ``(s, dots)`` blocks, ``dots[i, j] = a[s + i] · b[j]``, the products
    added left to right (bit-equal to ``np.add.accumulate`` over the
    dims).  Blocks cover ``a`` in row order, each as many rows (at least
    one) as keep it and its product scratch within ``budget`` bytes."""
    import numpy as np

    rows = max(1, budget // max(1, 16 * len(b)))
    for s in range(0, len(a), rows):
        x = a[s : s + rows]
        dots = x[:, None, 0] * b[None, :, 0]
        prod = np.empty_like(dots)
        for t in range(1, a.shape[1]):
            dots += np.multiply(x[:, None, t], b[None, :, t], out=prod)
        yield s, dots


def _arrow_schema(ddl: str):
    """The Arrow schema of a Spark DDL schema string (needs the active
    SparkContext, so callers build it before shipping a kernel)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    query_vec: str = "qv",
    cand_vec: str = "cv",
    k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, cand_id, cosine, rnk)."""
    # The per-row cost is |queries| dot-product folds — widen a
    # few-partition candidate scan before paying it.
    pairs = fan_out(candidates).crossJoin(F.broadcast(queries)).filter(
        F.col(cand_id) != F.col(query_id)
    )
    cos = _dot(query_vec, cand_vec) / (_norm(query_vec) * _norm(cand_vec))
    scored = pairs.withColumn("cosine", F.round(cos, round_to).cast("double"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "cosine", "rnk")
    )


def plane_coef(seed: int, p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    a keyed md5 digest mapped to a double. Module-level so the DuckDB
    replay oracle (q032) embeds the IDENTICAL literals the Spark plan
    does — repr round-trips doubles exactly."""
    import hashlib
    import struct

    h = hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()
    return struct.unpack("<q", h[:8])[0] / float(1 << 63)


def lsh_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 10,
    n_planes: int = 12,
    n_bands: int = 6,
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane (SimHash) LSH,
    entirely as DataFrame expressions — the scale path for cosine_topk:

    1. signature: sign bit of the dot product with ``n_planes`` seeded
       pseudo-random hyperplanes (P(bits agree) = 1 − θ/π for angle θ —
       the classic angular LSH guarantee). Hyperplane coefficients derive
       from a keyed digest, so signatures are deterministic across runs,
       engines, and partitionings.
    2. banding: bits split into ``n_bands`` bands; a candidate shares ≥1
       exact band with the query.
    3. verify: exact cosine only on bucket-local candidates, per-query
       top-k window. Cost is O(n · bands) hashing + bucket joins, never
       the n×q cross product.

    Returns (query_id, cand_id, cosine, rnk) like cosine_topk; rows-only
    correctness (approximate by design — tests bound recall against the
    exact operator).

    Tuning: recall rises with shorter bands (n_planes/n_bands bits each)
    and more bands; selectivity rises with longer bands. The defaults
    favor recall on loosely-clustered embeddings — at larger corpus sizes
    raise n_planes (e.g. 32×8) so buckets stay small.
    """
    if n_planes % n_bands:
        raise ValueError("n_planes must be divisible by n_bands")
    first = embeddings.select(vec_col).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, cand_id long, cosine double, rnk int"
        )
    dim = len(first[0])

    plane_lits = [
        F.array(*[F.lit(plane_coef(seed, p, d)) for d in range(dim)])
        for p in range(n_planes)
    ]

    def dot_with(plane):
        return F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    per_band = n_planes // n_bands
    # n_planes interpreted higher-order-function dot products per row —
    # the signature stage must run wide even off a one-file scan.
    embeddings = fan_out(embeddings)
    sig = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        *[(dot_with(pl) > 0).cast("int").alias(f"__b{p}") for p, pl in enumerate(plane_lits)],
    )
    banded = sig.select(
        id_col,
        vec_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).alias("band"),
                        sum(
                            F.col(f"__b{bd * per_band + j}") * (2**j)
                            for j in range(per_band)
                        ).alias("sig"),
                    )
                    for bd in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, vec_col, "bv.band", "bv.sig")

    qs = banded.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "band", "sig"
    )
    cs = banded.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "band", "sig"
    )
    cand = (
        qs.join(cs, ["band", "sig"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "cand_id"])
    )
    cos = _dot("qv", "cv") / (_norm("qv") * _norm("cv"))
    scored = cand.withColumn("cosine", F.round(cos, 4).cast("double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


def _cell_dist_structs(cents: list[tuple[int, list[float]]]):
    """Array of struct(d, cell) — squared L2 distance from the ``v``
    column to each centroid literal, computed by the same strict
    left-to-right fold the DuckDB oracle's ``list_sum`` performs, so
    distances are bit-identical across engines. Centroids ride along as
    literals (k·dim doubles — the IVF centroid table is always tiny
    relative to the corpus; real systems broadcast it the same way), so
    assignment is a pure projection: no join, no shuffle."""
    return F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(float(c)) for c in cvec]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(int(cell)).alias("cell"),
            )
            for cell, cvec in cents
        ]
    )


def _assign_cells(dbl: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Arrow-batched twin of the ``_cell_dist_structs`` projection:
    ``(id, v, cell, sq_dist)`` through ``_nearest``, bit-identical to the
    fold (asserted in tests).  Centroids arrive sorted by cell, so the
    first minimum is the ties-to-lower-cell rule.  The id and vector
    columns pass through untouched."""
    import numpy as np
    import pyarrow as pa

    C = np.array([cvec for _, cvec in cents], dtype=np.float64)
    cells = pa.array(np.array([cell for cell, _ in cents], dtype=np.int32))

    def part(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            j, d = _nearest(_arrow_matrix(batch.column(1)), C)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), cells.take(pa.array(j)), pa.array(d)],
                names=["id", "v", "cell", "sq_dist"],
            )

    return dbl.mapInArrow(
        part, schema="id long, v array<double>, cell int, sq_dist double"
    )


def kmeans_cells(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic Lloyd k-means over an embedding column, expressed as
    DataFrame ops — the coarse quantizer an IVF index is built on.

    Semantics (bit-reproducible on any engine, any partitioning):
    - init: centroids = the vectors of the ``k`` smallest ids, cell index
      = rank by id (no RNG — a seeded deterministic choice).
    - assign: argmin over squared L2 distance, ties broken on the lower
      cell index. Distances are strict left-to-right folds over the dims
      (``F.aggregate``), bit-equal to DuckDB's sequential ``list_sum``.
    - update: the per-cell mean is folded over members *sorted by id*
      (``array_sort(collect_list(struct(id, v)))`` then a zip_with add
      fold), so per-dim sums visit values in id order — the exact IEEE
      addition sequence of the oracle's ``list_sum(list(x ORDER BY id))``.
      Exactly ``n_iter`` update rounds (no convergence probe), so the
      computation is a fixed dataflow both engines can replay.

    The iterative driver loop is over *rounds* (each one Spark job: a
    zero-shuffle assignment + one groupBy(cell) shuffle); centroids
    (k·dim doubles) are collected per round and re-embedded as literals —
    the Python float round-trip is exact IEEE754. Assignment is
    ``_assign_cells`` (numpy over Arrow batches, the same sequential
    sums over the dims); tests assert every round's
    assignment equals the JVM expression fold (``_cell_dist_structs``)
    on that round's centroids.

    Scale note: the sorted-member fold is the cross-engine-exact gate
    choice; at corpus scale swap the update for decimal-quantized partial
    sums per (cell, dim) — order-independent, fully distributed, no
    per-cell collect_list — at the cost of a quantization step the SQL
    value-hash gate cannot replay bit-exactly.

    Returns (assignment, centroids): assignment = (id, v, cell, sq_dist)
    under the final centroids; centroids = [(cell, [c0..cd])] sorted.
    """
    # fan_out before the checkpoint: localCheckpoint freezes partitioning,
    # so every round's assignment job inherits this width.
    dbl = fan_out(embeddings).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # One materialization feeds every round's job (n_iter+1 assignments +
    # n_iter updates + the init collect all rescan this) instead of
    # re-reading and re-casting the parquet per job.
    dbl = dbl.localCheckpoint(eager=True)
    init = dbl.orderBy("id").limit(k).collect()
    if not init:
        empty = dbl.select("id", "v", F.lit(0).alias("cell"), F.lit(0.0).alias("sq_dist"))
        return empty, []
    cents = [(i, list(r["v"])) for i, r in enumerate(init)]
    dim = len(cents[0][1])

    assigned = None
    for it in range(n_iter + 1):
        assigned = _assign_cells(dbl, cents)
        if it == n_iter:
            break
        upd = (
            assigned.groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("id", "v"))).alias("ms"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cell",
                F.transform(
                    F.aggregate(
                        F.col("ms"),
                        F.array_repeat(F.lit(0.0), dim),
                        lambda acc, m: F.zip_with(acc, m["v"], lambda a, b: a + b),
                    ),
                    lambda s: s / F.col("n"),
                ).alias("cvec"),
            )
            .collect()
        )
        cents = sorted((r["cell"], list(r["cvec"])) for r in upd)
    return assigned, cents


def ivf_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 10,
    n_cells: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """IVF approximate nearest-neighbor search: k-means coarse quantizer
    (``kmeans_cells``) + per-query probing of the ``nprobe`` nearest
    cells + exact cosine only within probed cells — the classic inverted-
    file ANN layout. Unlike LSH (``lsh_topk``), the candidate sets here
    are *deterministic partitions*, so the whole operator (build + probe
    + scoring) is exactly reproducible cross-engine and oracle-checkable.

    Scale shape: scoring cost drops from n×q (brute force, q25) to
    q·(nprobe/n_cells)·n; the probe join shuffles on the cell id, and
    each cell's candidate list is the unit of parallelism. Raise n_cells
    (√n is the usual rule) to shrink cells; recall is tunable via nprobe.

    Returns (query_id, cand_id, cosine, rnk), rnk ≤ k per query, ranked
    by rounded cosine desc with cand_id tiebreak (engine-stable).
    """
    assigned, cents = kmeans_cells(embeddings, id_col, vec_col, k=n_cells, n_iter=n_iter)
    # assigned feeds BOTH the probe and the candidate side — materialize
    # so the final assignment (an Arrow pass over the corpus) runs once
    assigned = assigned.localCheckpoint(eager=False)
    probe = (
        assigned.filter(F.col("id").isin(query_ids))
        .select(
            F.col("id").alias("query_id"),
            F.col("v"),
            F.explode(
                F.slice(F.array_sort(_cell_dist_structs(cents)), 1, nprobe)
            ).alias("pc"),
        )
        .select("query_id", F.col("v").alias("qv"), F.col("pc.cell").alias("cell"))
    )
    cands = assigned.select(
        F.col("id").alias("cand_id"), F.col("v").alias("cv"), "cell"
    )
    # Each candidate lives in exactly one cell (a partition, not a hash
    # bucket), so the probe join introduces no duplicate pairs.
    pairs = probe.join(cands, "cell").filter(F.col("cand_id") != F.col("query_id"))
    cos = _dot("qv", "cv") / (_norm("qv") * _norm("cv"))
    scored = pairs.withColumn("cosine", F.round(cos, round_to).cast("double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


def block_nn_pairs_pandas(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    block_type: str = "int",
    margin: float = 2e-4,
) -> DataFrame:
    """Block-local nearest-neighbor *candidates*, one Arrow table per
    block scored in numpy — the fast path that still passes an exact
    cross-engine value-hash gate.

    Emits (id, nn candidate, block, raw cosine) for every candidate whose
    raw cosine is within ``margin`` of the row maximum; the caller rounds
    and picks the winner Spark-side (``round`` + ``max_by``), so the
    tie-break on the *rounded* score stays in one place and matches the
    SQL oracle's ``ROW_NUMBER ... ORDER BY ROUND(cos,4) DESC, id``.

    Determinism: rows are normalized by ``_seq_norms`` and dotted by
    ``_seq_dot_chunks`` — sums strictly left to right, the order of
    Spark's ``F.aggregate`` fold and DuckDB's ``list_sum`` — so raw
    scores are bit-identical across all three engines.

    Margin correctness: rounding to 4 decimals moves a value by ≤ 5e-5,
    so the post-round argmax always has a raw score within 1e-4 (+ulp) of
    the raw max; ``margin=2e-4`` keeps every possible winner. Typical
    emission is ~1 row per id, so the Arrow transfer and downstream
    shuffle carry O(n) rows, not O(Σ|block|²).

    Memory: the dot blocks stay within ``_DOT_BUDGET``; blocks themselves
    must fit an executor — the same bound the blocking strategy (label /
    IVF cell / LSH bucket) guarantees upstream.
    """
    import numpy as np
    import pyarrow as pa

    schema = f"id long, nn_id long, block {block_type}, cosine_raw double"
    out = _arrow_schema(schema)

    def score_block(key, tbl):
        if tbl.num_rows < 2:
            return out.empty_table()
        ids = tbl.column(0).to_numpy()
        m = _arrow_matrix(tbl.column(1))
        u = m / _seq_norms(m)[:, None]
        hits = []
        for s, dots in _seq_dot_chunks(u, u):
            r = np.arange(len(dots))
            dots[r, r + s] = -np.inf  # mask self-pair
            ci, cj = np.nonzero(dots >= dots.max(axis=1, keepdims=True) - margin)
            hits.append((ids[ci + s], ids[cj], dots[ci, cj]))
        i, j, c = (np.concatenate(h) for h in zip(*hits))
        return pa.table(
            {"id": i, "nn_id": j, "block": pa.repeat(key[0], len(i)), "cosine_raw": c}
        ).cast(out)

    return (
        embeddings.select(F.col(id_col), F.col(vec_col), F.col(block_col))
        .groupBy(block_col)
        .applyInArrow(score_block, schema=schema)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------------


def _sub_dist_structs(cents_lit, sv_col: str = "sv", s_col: str = "s"):
    """(d, code) structs for one subvector row against ITS subspace's
    codebook (selected from the all-subspace literal by ``s_col``).
    Distances are strict left-to-right folds — the same IEEE sequence as
    the oracle's ``list_sum(list_transform(...))``."""
    cs = F.element_at(cents_lit, F.col(s_col) + 1)
    return F.transform(
        cs,
        lambda c, j: F.struct(
            F.aggregate(
                F.zip_with(F.col(sv_col), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            j.alias("code"),
        ),
    )


def _cents_literal(cents: list[list[list[float]]]):
    """Literal array CENT[s][code][dim] re-embedding collected centroids
    (Python float round-trip is exact IEEE754)."""
    return F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in cvec])
                    for cvec in sub_cents
                ]
            )
            for sub_cents in cents
        ]
    )


def _assign_subs(subs: DataFrame, cents: list[list[list[float]]]) -> DataFrame:
    """Arrow-batched twin of the per-subspace ``_sub_dist_structs``
    projection (the PQ analogue of ``_assign_cells``): ``(id, s, sv,
    code, sq_err)``, each subvector against its own subspace's codebook
    through ``_nearest`` (codebook rows sit at their code index, so ties
    go to the lower code).  Bit-identical to the fold (asserted in
    tests)."""
    import numpy as np
    import pyarrow as pa

    C = [np.array(cb, dtype=np.float64) for cb in cents]

    def part(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            sub = batch.column(1).to_numpy()
            x = _arrow_matrix(batch.column(2))
            code = np.empty(n, dtype=np.int32)
            err = np.empty(n)
            for s in np.unique(sub):
                idx = np.nonzero(sub == s)[0]
                code[idx], err[idx] = _nearest(x[idx], C[s])
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(code), pa.array(err)],
                names=["id", "s", "sv", "code", "sq_err"],
            )

    return subs.mapInArrow(
        part, schema="id long, s int, sv array<double>, code int, sq_err double"
    )


def _split_subvectors(df, vec_col: str, m: int, dsub: int, keep_cols):
    """One row per (input row, subspace): keep_cols + (s, sv) where sv is
    the s-th dsub-wide slice of ``vec_col``. The single subvector-split
    definition shared by training, frozen-codebook encoding, and the
    IVF-PQ query-residual path — keeping the slicing arithmetic in one
    place so the three call sites cannot drift."""
    return df.select(
        *keep_cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("s"),
                    F.slice(
                        F.col(vec_col), s * dsub + F.lit(1), F.lit(dsub)
                    ).alias("sv"),
                ),
            )
        ).alias("e"),
    ).select(*keep_cols, "e.s", "e.sv")


def _codes_array(assigned: DataFrame) -> DataFrame:
    """(id, codes): the per-vector code array in subspace order."""
    return (
        assigned.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "code"))).alias("sc"))
        .select(
            "id", F.transform(F.col("sc"), lambda x: x["code"]).alias("codes")
        )
    )


def _dtab_qdf(spark, qsubs, cents, m, ksub, key_cols, key_schema):
    """Per-key ADC lookup tables: distances of each key's subvectors to
    every codebook entry, computed with the SAME fold expressions as
    training, collected (keys·m·ksub doubles — tiny) and re-embedded as
    a broadcastable DataFrame ``(key_cols..., dtab[m][ksub])``. The
    Python float round-trip is exact IEEE754."""
    dt_rows = (
        qsubs.select(
            *key_cols,
            "s",
            F.explode(_sub_dist_structs(_cents_literal(cents))).alias("dc"),
        )
        .select(*key_cols, "s", "dc.code", "dc.d")
        .collect()
    )
    dtabs: dict = {}
    for r in dt_rows:
        key = tuple(r[c] for c in key_cols)
        dtabs.setdefault(key, [[0.0] * ksub for _ in range(m)])[r["s"]][
            r["code"]
        ] = r["d"]
    rows = [(*key, dtabs[key]) for key in sorted(dtabs)]
    return spark.createDataFrame(
        rows, key_schema + ", dtab array<array<double>>"
    )


def _adc_topk(cand_codes, qdf, m, k, round_to, join_on=None):
    """Shared ADC scoring tail: broadcast the lookup tables against the
    candidate code arrays (cross for whole-corpus PQ, keyed on the cell
    for IVF-PQ), fold the m lookups left-to-right, rank per query by
    rounded distance with the cand id as tiebreaker."""
    joined = (
        cand_codes.join(F.broadcast(qdf), join_on)
        if join_on
        else cand_codes.crossJoin(F.broadcast(qdf))
    )
    scored = (
        joined.filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("cand_id"),
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(m)),
                    F.lit(0.0),
                    lambda acc, s: acc
                    + F.element_at(
                        F.element_at(F.col("dtab"), s),
                        F.element_at(F.col("codes"), s) + 1,
                    ),
                ),
                round_to,
            ).cast("double").alias("adc_sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_sq_dist"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "adc_sq_dist", "rnk")
    )


def _empty_topk(df: DataFrame, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(id_col).cast("long").alias("cand_id"),
        F.lit(0.0).alias("adc_sq_dist"),
        F.lit(0).cast("int").alias("rnk"),
    ).limit(0)


def pq_kmeans(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ksub: int = 8,
    n_iter: int = 2,
    dim: int | None = None,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantizer training: split every vector into ``m``
    subvectors and run deterministic Lloyd k-means (``ksub`` centroids,
    ``kmeans_cells``'s exact determinism contract: init = subvectors of
    the k smallest ids, argmin ties to the lower code, sorted-fold mean
    updates, fixed ``n_iter`` rounds) in EVERY subspace — as ONE
    dataflow, not m sequential jobs: the exploded (id, s, subvector)
    stream carries all subspaces, each round is one zero-shuffle argmin
    projection (codebooks ride as a literal, selected per row by s) plus
    one groupBy(s, code) shuffle, and the collected state per round is
    m·ksub·(dim/m) = ksub·dim doubles — identical to single k-means.

    Returns ``(assigned, codebooks)``: assigned = (id, s, sv, code,
    sq_err) under the final codebooks; codebooks[s][code] = centroid.
    """
    if dim is None:
        # callers that already know the width (ivf_pq_topk: the coarse
        # centroid length) pass it and skip this probe job — on a
        # lazily-checkpointed input the .first() otherwise forces a full
        # materialization pass of its own
        dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
        if dim_row is None:
            empty = embeddings.select(
                F.col(id_col).alias("id"),
                F.lit(0).alias("s"),
                F.array().cast("array<double>").alias("sv"),
                F.lit(0).alias("code"),
                F.lit(0.0).alias("sq_err"),
            )
            return empty, []
        dim = dim_row["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    dbl = fan_out(embeddings).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    subs = _split_subvectors(dbl, "v", m, dsub, ["id"])
    # one materialization feeds every round's job (see kmeans_cells)
    subs = subs.localCheckpoint(eager=True)
    init = dbl.orderBy("id").limit(ksub).collect()
    cents = [
        [list(r["v"][s * dsub : (s + 1) * dsub]) for r in init]
        for s in range(m)
    ]

    assigned = None
    for it in range(n_iter + 1):
        assigned = _assign_subs(subs, cents)
        if it == n_iter:
            break
        upd = (
            assigned.groupBy("s", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("id", "sv"))).alias("ms"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "s",
                "code",
                F.transform(
                    F.aggregate(
                        F.col("ms"),
                        F.array_repeat(F.lit(0.0), dsub),
                        lambda acc, mm: F.zip_with(
                            acc, mm["sv"], lambda a, b: a + b
                        ),
                    ),
                    lambda x: x / F.col("n"),
                ).alias("cvec"),
            )
            .collect()
        )
        # empty codes keep their previous centroid (same as kmeans_cells:
        # only observed cells appear in upd)
        for r in upd:
            cents[r["s"]][r["code"]] = list(r["cvec"])
    return assigned, cents


def pq_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 10,
    m: int = 4,
    ksub: int = 8,
    n_iter: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Compressed-domain ANN via product quantization with asymmetric
    distance computation (ADC): every candidate vector is stored as m
    small codes (here m·log2(ksub) bits — a 32-128× compression of the
    embedding column at realistic settings), and each query scans ALL
    candidates in the compressed domain by table lookup — approx sq-L2 =
    sum over subspaces of d(q_sub, codebook[s][code_s]).

    Where IVF (``ivf_topk``) prunes WHICH candidates are scored, PQ
    shrinks WHAT is scored — at 100 TB the scan touches n·m one-byte
    codes instead of n·dim floats, turning a memory-bandwidth-bound scan
    into one that fits orders of magnitude more candidates per node (and
    the two compose: IVF-PQ scores PQ codes within probed cells only).

    Dataflow: the per-query distance tables (q·m·ksub doubles) are
    computed with the SAME fold expressions as training, collected, and
    re-embedded as a broadcast literal; scoring is then a map-side fold
    over each candidate's code array — no shuffle until the per-query
    top-k window. Every step is deterministic (fixed fold orders, ties
    to the lower code/cand id), so the whole approximate pipeline is
    oracle-checkable bit-exactly, like IVF and unlike LSH.

    Returns (query_id, cand_id, adc_sq_dist, rnk), rnk ≤ k per query,
    ranked by rounded ADC distance asc with cand_id tiebreak.
    """
    assigned, cents = pq_kmeans(
        embeddings, id_col, vec_col, m=m, ksub=ksub, n_iter=n_iter
    )
    if not cents:
        return _empty_topk(embeddings, id_col)
    # the assignment feeds the code aggregation, the lookup-table collect,
    # and the final scoring action — materialize it once
    assigned = assigned.localCheckpoint(eager=False)
    codes = _codes_array(assigned)
    # per-query ADC lookup tables from the same fold exprs as training
    qsubs = assigned.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), "s", "sv"
    )
    qdf = _dtab_qdf(
        embeddings.sparkSession,
        qsubs,
        cents,
        m,
        ksub,
        ["query_id"],
        "query_id long",
    )
    return _adc_topk(codes, qdf, m, k, round_to)


def pq_encode(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Encode vectors against FROZEN codebooks — the incremental-ingest
    path: codebooks are trained once (``pq_kmeans``) on a representative
    sample, then every new batch is encoded with a zero-shuffle map-side
    pass — ``_assign_subs``, the routine ``pq_kmeans`` assigns with (no
    training jobs, no collects). Encoding a batch incrementally is
    bit-identical to re-encoding the full corpus under the same
    codebooks, so the code column can be maintained append-only forever.

    Returns (id, s, sv, code, sq_err) — the same shape ``pq_kmeans``
    assigns, byte-compatible with ``pq_topk``'s scoring."""
    m = len(codebooks)
    if m == 0:
        raise ValueError("empty codebooks")
    dsub = len(codebooks[0][0])
    if any(len(c) != dsub for cb in codebooks for c in cb):
        raise ValueError("ragged codebooks: all centroids must share dsub")
    # a batch whose vector width drifted from the codebooks' dim would
    # otherwise be encoded from a silent prefix of its dims — schema
    # drift must fail loudly, not corrupt the append-only code column
    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    if dim_row is not None and dim_row["d"] != m * dsub:
        raise ValueError(
            f"vector dim {dim_row['d']} does not match codebooks "
            f"(m={m} x dsub={dsub} = {m * dsub})"
        )
    dbl = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    return _assign_subs(_split_subvectors(dbl, "v", m, dsub, ["id"]), codebooks)


def ivf_pq_topk(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list,
    k: int = 10,
    n_cells: int = 8,
    n_iter: int = 2,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    round_to: int = 4,
) -> DataFrame:
    """IVF-PQ: the composition the two halves were built for — IVF's
    coarse quantizer prunes WHICH candidates are scored (nprobe of
    n_cells cells), PQ shrinks WHAT is scored (m codes per candidate,
    trained on the RESIDUAL v − coarse_centroid[cell], the classic
    IVFADC layout: residuals concentrate around 0, so the same code
    budget buys far finer quantization than coding raw vectors).

    Scan cost per query: (nprobe/n_cells)·n candidates × m code lookups
    — the 100 TB shape of every production ANN index (FAISS IVF-PQ).
    Scoring uses per-(query, probed-cell) ADC tables (the query's
    RESIDUAL against that cell differs per cell), q·nprobe·m·ksub
    doubles, broadcast after being computed with the SAME fold
    expressions as training — so the whole composite (coarse k-means →
    residuals → product k-means → probe → ADC) is deterministic and
    oracle-replayable bit-exactly, like its two halves.

    Returns (query_id, cand_id, adc_sq_dist, rnk), rnk ≤ k per query,
    ranked by rounded residual-ADC distance asc, cand_id tiebreak.
    """
    coarse, ccents = kmeans_cells(
        embeddings, id_col, vec_col, k=n_cells, n_iter=n_iter
    )
    # coarse feeds the residual build AND the query probe — materialize
    # so the final coarse assignment (an Arrow pass) runs once
    coarse = coarse.localCheckpoint(eager=False)
    if not ccents:
        return coarse.select(
            F.col("id").alias("query_id"),
            F.col("id").alias("cand_id"),
            F.lit(0.0).alias("adc_sq_dist"),
            F.lit(0).cast("int").alias("rnk"),
        ).limit(0)
    # cell ids may be non-contiguous if a cell emptied — look up by key,
    # not position
    cmap = F.map_from_arrays(
        F.array(*[F.lit(int(c)) for c, _ in ccents]),
        F.array(
            *[F.array(*[F.lit(float(x)) for x in cv]) for _, cv in ccents]
        ),
    )
    res = coarse.select(
        "id",
        F.zip_with(
            "v", F.element_at(cmap, F.col("cell")), lambda a, b: a - b
        ).alias("v"),
        "cell",
    )
    # the residuals feed PQ training, the candidate-cell join, and the
    # query-residual probe — materialize once so the coarse assignment
    # (an Arrow pass over the corpus) does not recompute per consumer
    res = res.localCheckpoint(eager=False)
    pq_assigned, pcents = pq_kmeans(
        res, "id", "v", m=m, ksub=ksub, n_iter=n_iter,
        dim=len(ccents[0][1]),
    )
    if not pcents:
        return _empty_topk(embeddings, id_col)
    codes = _codes_array(pq_assigned)
    cand = codes.join(res.select("id", "cell"), "id")

    # probe: nprobe nearest coarse cells per query (same rule as ivf_topk)
    probe = (
        coarse.filter(F.col("id").isin(query_ids))
        .select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(
                F.slice(F.array_sort(_cell_dist_structs(ccents)), 1, nprobe)
            ).alias("pc"),
        )
        .select("query_id", "qv", F.col("pc.cell").alias("cell"))
    )
    # per-(query, cell) residual ADC tables from the SAME fold exprs as
    # training; q·nprobe·m·ksub doubles — collected and re-broadcast
    dsub = len(pcents[0][0])
    qres = probe.select(
        "query_id",
        "cell",
        F.zip_with(
            "qv", F.element_at(cmap, F.col("cell")), lambda a, b: a - b
        ).alias("qr"),
    )
    qsubs = _split_subvectors(qres, "qr", m, dsub, ["query_id", "cell"])
    qdf = _dtab_qdf(
        embeddings.sparkSession,
        qsubs,
        pcents,
        m,
        ksub,
        ["query_id", "cell"],
        "query_id long, cell int",
    )
    return _adc_topk(cand, qdf, m, k, round_to, join_on="cell")


def _cell_threshold_pairs(
    assigned: DataFrame,
    threshold: float,
    margin: float = 2e-4,
    max_cell_rows: int = 4096,
) -> DataFrame:
    """All ordered in-cell pairs (id1 < id2) whose RAW cosine is within
    ``margin`` below ``threshold`` or above — the numpy fast path for
    ``semantic_dedup``'s verify stage, bit-deterministic like
    ``block_nn_pairs_pandas``: norms and dots come from ``_seq_norms``
    and ``_seq_dot_chunks`` (strict left-to-right sums, the order of the
    JVM ``F.aggregate`` fold and DuckDB's ``list_sum``), and the cosine
    is ``dot / (n1 * n2)`` — the same multiply-then-divide the
    ``_dot / (_norm * _norm)`` expression performs, so every emitted raw
    score is bit-identical to the expression path.  The caller rounds
    and applies the exact threshold Spark-side; ``margin`` must cover
    the worst the caller's rounding can move a value (the caller derives
    it from ``round_to``), so no qualifying pair is lost.  Emitting only
    near/above-threshold pairs keeps the Arrow transfer O(qualifying
    pairs), not Σ|cell|².

    Memory: a cell bigger than ``max_cell_rows`` is SPLIT into ``s =
    ceil(n / max_cell_rows)`` deterministic hash blocks and scored as
    block PAIRS — group (cell, b1, b2) holds ≤ 2·max_cell_rows rows, so
    one hot cell never materializes whole in a single task.  Each
    unordered pair lands in exactly one block pair and per-pair
    arithmetic is independent of the grouping, so the output needs no
    dedup and is bit-identical to the unsplit one."""
    import numpy as np
    import pyarrow as pa

    cut = threshold - margin
    schema = "cell int, id1 long, id2 long, cosine_raw double"
    out = _arrow_schema(schema)

    def score_cell(key, tbl):
        cell, b1, b2 = key
        same = b1.as_py() == b2.as_py()
        ids = tbl.column("id").to_numpy()
        m = _arrow_matrix(tbl.column("v"))
        norms = _seq_norms(m)
        # rows of block b1 against rows of block b2 (itself when same)
        a = tbl.column("__b").to_numpy() == b1.as_py()
        o = a if same else ~a
        ids_a, ids_o, n_a, n_o = ids[a], ids[o], norms[a], norms[o]
        hits = []
        for s, dots in _seq_dot_chunks(m[a], m[o]):
            dots /= n_a[s : s + len(dots), None] * n_o[None, :]
            ci, cj = np.nonzero(dots >= cut)
            i, j = ids_a[ci + s], ids_o[cj]
            keep = i < j if same else i != j
            hits.append(
                (np.minimum(i, j)[keep], np.maximum(i, j)[keep], dots[ci, cj][keep])
            )
        if not hits:
            return out.empty_table()
        i, j, c = (np.concatenate(h) for h in zip(*hits))
        return pa.table(
            {"cell": pa.repeat(cell, len(i)), "id1": i, "id2": j, "cosine_raw": c}
        ).cast(out)

    # the sizes aggregate and the grouped scoring both read the
    # assignment: materialize it once (within-query, freed with the job)
    assigned = assigned.select("cell", "id", "v").localCheckpoint(eager=False)
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    src = (
        assigned.join(F.broadcast(sizes), "cell")
        .withColumn(
            "__s", F.ceil(F.col("__n") / F.lit(max_cell_rows)).cast("int")
        )
        .withColumn(
            "__b", F.pmod(F.xxhash64(F.col("id")), F.col("__s")).cast("int")
        )
        .withColumn(
            "__pg",
            F.explode(
                F.expr(
                    "transform(sequence(0, __s - 1), j ->"
                    " IF(j <= __b, struct(j AS b1, __b AS b2),"
                    " struct(__b AS b1, j AS b2)))"
                )
            ),
        )
        .select(
            "cell", "id", "v", "__b",
            F.col("__pg.b1").alias("__b1"), F.col("__pg.b2").alias("__b2"),
        )
    )
    return src.groupBy("cell", "__b1", "__b2").applyInArrow(score_cell, schema=schema)


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    n_cells: int = 8,
    n_iter: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with the deterministic k-means coarse quantizer,
    then compare pairs ONLY within each cell and drop the higher-id
    member of every pair whose cosine exceeds ``threshold`` (keeper =
    smallest qualifying lower id, deterministic).

    The cell-locality is the scale story: candidate generation falls
    from O(n²) to Σ|cell|² with cells shrinkable via n_cells (√n rule),
    the same bucketed-candidates posture as the engine's MinHash/SimHash
    text dedup — but in embedding space, catching semantic duplicates
    that share no n-grams. Every stage (k-means, fold cosines, rounded
    threshold, min-keeper window) is deterministic, so unlike the
    original paper's GPU pipeline this one is oracle-replayable.

    Returns (dropped_id, keeper_id, cosine, cell)."""
    assigned, _ = kmeans_cells(
        embeddings, id_col, vec_col, k=n_cells, n_iter=n_iter
    )
    # In-cell pair scoring runs vectorized (one numpy pass per cell with
    # the JVM fold's exact accumulation order — see
    # _cell_threshold_pairs) instead of Σ|cell|² interpreted
    # zip_with/aggregate folds on the self-join output; profiled 10+
    # CPU-s → ~1 at sf0.1.  Rounding and the EXACT threshold stay
    # Spark-side on the bit-identical raw score.  The margin is DERIVED
    # from round_to (rounding can raise a raw cosine by at most
    # 0.5·10^-round_to; +1e-9 covers the ulp) so callers with a coarser
    # round_to cannot silently lose qualifying pairs.
    cand = _cell_threshold_pairs(
        assigned, threshold, margin=0.5 * 10.0 ** -round_to + 1e-9
    ).withColumn(
        "cosine", F.round(F.col("cosine_raw"), round_to).cast("double")
    ).filter(F.col("cosine") >= threshold)
    w = Window.partitionBy("id2").orderBy(F.asc("id1"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id2").alias("dropped_id"),
            F.col("id1").alias("keeper_id"),
            "cosine",
            F.col("cell").cast("int").alias("cell"),
        )
    )


def whitening_from_gram(gram_rows, d: int):
    """PCA whitening matrix from the exact integer Gram rows q206 emits
    ((i, j, n_vecs, gram) upper triangle): covariance C = G/n (quantized
    scale cancels in the whitener's application), eigendecompose, return
    (W, eigvals) with W = Λ^(-1/2)·Vᵀ so that Cov(W·x) = I on the
    accumulated corpus. Driver-side numpy on O(d²) numbers — the scale
    story lives in the Gram ACCUMULATION (q206's one distributed pass),
    not here."""
    import numpy as np

    g = np.zeros((d, d))
    n = None
    for r in gram_rows:
        i, j = int(r["i"]), int(r["j"])
        g[i, j] = g[j, i] = float(r["gram"])
        n = int(r["n_vecs"])
    if not n:
        raise ValueError("empty gram")
    cov = g / n
    vals, vecs = np.linalg.eigh(cov)
    vals = np.maximum(vals, 1e-12)
    w = (vecs / np.sqrt(vals)).T  # rows = Λ^(-1/2)·Vᵀ
    return w, vals
