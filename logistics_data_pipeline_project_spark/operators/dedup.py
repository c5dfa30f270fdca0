"""Deduplication operator family for large-scale training-data pipelines
(BASELINE.json north star; beyond the reference's W1/W3 exact dedup).

Scale design:
- **exact_dedup** — hash-groupBy on a content digest: one shuffle keyed on
  md5(text) (64-hex ~ uniform) — no skew, linear scale-out.
- **shingle_jaccard_pairs** — the exact near-dup baseline: explode word
  n-gram shingles, self-join on shingle, count intersections. The
  document-frequency cap (`max_shingle_df`) bounds the join fan-out the
  same way LSH banding does: a shingle shared by >df docs contributes
  O(df²) pairs, so dropping non-discriminative shingles keeps the pair
  space near-linear. At 100 TB this operator is the *verification* stage
  run on LSH candidates, not on the full corpus.
- **minhash_lsh_pairs** — the scale path: MinHashLSH (Spark ML) with fixed
  seed; cost O(n · num_hashes) + banded join on hash buckets.
- **simhash** — 60-bit simhash (xxhash64 token hashes, sign-aggregated
  per bit); near-dup candidates via banded equality + Hamming distance.
  All JVM-side expressions — no Python in the hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from .scale import fan_out
from .text import _token_windows, sliding_concat_sql

__all__ = [
    "exact_dedup",
    "word_shingles",
    "shingle_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_near_pairs",
    "hamming_near_pairs",
    "connected_components",
    "decontaminate",
    "prefix_filter_jaccard_pairs",
]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content: groupBy digest, keep the smallest id
    (deterministic keeper). Returns (digest, keeper id, duplicate count)."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias(f"keeper_{id_col}"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.
    Documents shorter than n tokens produce no shingles.

    ``lower()`` stays a JVM codegen expression (Java's locale-sensitive
    lowercasing — İ and final-sigma — differs from Arrow's
    ``utf8_lower``, verified empirically), then ONE ``mapInArrow`` pass
    does split/window/per-doc-distinct with vectorized C++ kernels
    (``split_pattern`` matches Spark's ``split(s, ' ')`` exactly,
    empties and trailing included — pinned by tests).  The interpreted
    higher-order ``transform`` lambda this replaced ran at ~7x the CPU
    (2.16 vs 0.30 CPU-s for the sf0.1 corpus) because HOFs forgo
    whole-stage codegen and pay a per-task interpreter setup multiplied
    by task count; that expression form is the equality oracle in
    ``tests/test_word_shingles_twin.py`` (same rows, same per-doc
    first-occurrence order — string construction is exact)."""
    # Shingling fans each row out ~|tokens| ways; widen an
    # under-partitioned scan first so the work runs on every core.
    df = fan_out(df)
    low = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__low"))
    id_type = low.schema[0].dataType.simpleString()

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            doc_rep, _, shingles = _token_windows(batch.column(1), n)
            if len(shingles):
                # per-document distinct keeping FIRST occurrence (the
                # array_distinct order): unique on (doc, shingle-code),
                # then restore original positions
                codes = shingles.dictionary_encode().indices.to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                key = doc_rep * (int(codes.max()) + 1) + codes
                _, first_idx = np.unique(key, return_index=True)
                first_idx.sort()
                doc_rep = doc_rep[first_idx]
                shingles = shingles.take(pa.array(first_idx))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(doc_rep)), shingles],
                names=[id_col, "shingle"],
            )

    return low.mapInArrow(gen, schema=f"`{id_col}` {id_type}, shingle string")


def _pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared machinery of the exact set-similarity family: the
    df-capped shingle universe, the inverted index, and the per-pair
    intersection counts joined with both set sizes — returns
    (id1, id2, inter_size, n1, n2), id1 < id2. Jaccard, containment
    and any other set measure are filters over this one dataflow."""
    sh = word_shingles(df, text_col, id_col, n)
    if max_shingle_df is not None:
        # Doc-frequency cap BEFORE building posting lists: a stop-shingle
        # that appears in millions of docs must never reach collect_list —
        # the cap keeps every in-memory array ≤ max_shingle_df ids. A
        # window count (bounded running state, no arrays) shares its
        # shingle-hash exchange with the posting-list aggregation below,
        # where a count+join formulation would shuffle twice and join.
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    # Inverted index: shingle → sorted posting list, pairs emitted in-group.
    # Replaces the shingle self-join (which shuffles both sides and then
    # re-aggregates the joined fan-out) with one aggregation plus a
    # generator over each bounded posting list: Σ k·(k-1)/2 pair rows,
    # k ≤ max_shingle_df, no join.
    inv = sh.groupBy("shingle").agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    # Per-doc shingle counts derive from the (bounded) posting lists, not
    # from a second aggregation over the raw shingle stream — the explode
    # reads inv's already-shuffled output, so the expensive shingle
    # generation + df-cap subtree is executed once, not once per branch.
    sizes = inv.select(F.explode("ids").alias(id_col)).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    pairs = inv.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i+2, size(ids)),"
                " y -> struct(x as id1, y as id2))))"
            )
        ).alias("p")
    ).select("p.id1", "p.id2")
    inter = pairs.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("inter_size"))
    sa = sizes.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    # sizes has one row per document — small next to the pair fan-out but
    # proportional to corpus size, so the broadcast decision is left to
    # AQE (runtime-sized) rather than forced with a hint.
    return inter.join(sa, "id1").join(sb, "id2")


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id1 < id2, jaccard ≥ threshold).

    Jaccard is computed over the *discriminative* shingle universe: shingles
    appearing in more than ``max_shingle_df`` documents are discarded before
    both the sizes and the intersection counts (identical semantics on any
    engine; bounds the posting lists as described in
    ``_pair_intersections``). Passing ``max_shingle_df=None`` leaves posting
    lists unbounded — only safe for small corpora/tests, never at scale.
    """
    base = _pair_intersections(df, text_col, id_col, n, max_shingle_df)
    jac = F.col("inter_size").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter_size")
    )
    return (
        base.withColumn("jaccard", F.round(jac, 4).cast("double"))
        .filter(jac >= threshold)
        .select("id1", "id2", "inter_size", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    containment_x10: int = 9,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Exact containment near-dup pairs: C = |A∩B| / min(|A|,|B|) ≥
    containment_x10/10 — the measure that catches QUOTE/EXPANSION
    duplication (a short doc embedded verbatim in a much longer one),
    where Jaccard stays low because the union is dominated by the big
    doc. All-integer threshold (10·inter ≥ x10·min) and integer-ppm
    outputs, so the operator is engine-exact with no float in sight.
    Same single dataflow as the Jaccard family (shared
    ``_pair_intersections``); only the filter differs."""
    base = _pair_intersections(df, text_col, id_col, n, max_shingle_df)
    nmin = F.least(F.col("n1"), F.col("n2"))
    return (
        base.filter(
            F.col("inter_size") * 10 >= F.lit(containment_x10) * nmin
        )
        .select(
            "id1",
            "id2",
            "inter_size",
            nmin.cast("long").alias("n_small"),
            F.greatest(F.col("n1"), F.col("n2")).cast("long").alias("n_big"),
            F.expr("inter_size * 1000000 div least(n1, n2)")
            .cast("long")
            .alias("containment_ppm"),
            F.expr("inter_size * 1000000 div (n1 + n2 - inter_size)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    n_bands: int = 4,
    max_distance: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH candidate pairs — the 100 TB-scale near-dup path,
    entirely as DataFrame expressions (JVM-side, whole-stage-codegen):

    1. signatures: ``num_hash_tables`` seeded md5 min-aggregates over
       each doc's shingles — one row-local fold per doc, fixed-width
       state. Components are 32-char md5 hex strings; lexicographic min
       over fixed-width hex ≡ numeric min of the 128-bit values, and md5
       exists in every engine, so the signatures are cross-engine
       deterministic (same policy as the sketch operators).
    2. banding: the signature splits into ``n_bands`` bands; each band's
       hashes collapse to one md5 bucket key.
    3. candidates: equi-self-join on (band, bucket) — shuffle keyed on the
       bucket value, linear in candidate pairs, never the n² cross product.
    4. estimate: jaccard_distance = 1 − (matching signature components /
       num_hash_tables); pairs above ``max_distance`` are dropped.

    Returns (id1, id2, jaccard_distance) with id1 < id2. Seeded,
    deterministic, AND oracle-checkable: q023's DuckDB oracle replays the
    identical md5 pipeline; exact `shingle_jaccard_pairs` remains the
    differential reference for recall (tests/test_operators.py).

    Tuning: P(candidate | jaccard=j) = 1−(1−j^(k/b))^b for k hashes in b
    bands — the default (k=8, b=4) catches ≥99% of pairs with j ≥ 0.5 while
    keeping bucket collisions for unrelated docs rare.
    """
    if num_hash_tables % n_bands:
        raise ValueError("num_hash_tables must be divisible by n_bands")
    per_band = num_hash_tables // n_bands
    hcols = [f"__h{i}" for i in range(num_hash_tables)]

    # Signatures are a PER-DOCUMENT reduction: the shingle set folds
    # row-locally (array_min over seeded md5) instead of exploding
    # into a (doc, shingle) stream and shuffling it back by doc — zero
    # exchanges for the signature stage, bit-identical to the explode →
    # groupBy(id) min-aggregate form (asserted before adopting). The
    # same row-local-fold rule as simhash: any sketch whose state is
    # per-row never needs the shuffle Spark's agg would pay.
    toks = fan_out(df).select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("__t")
    ).filter(F.size("__t") >= n)
    shingle_expr = (
        f"array_distinct(transform(sequence(0, size(__t)-{n}),"
        f" i -> {sliding_concat_sql('__t', 'i', n)}))"
    )
    sig = toks.withColumn("__sh", F.expr(shingle_expr)).select(
        F.col(id_col),
        *[
            F.expr(
                f"array_min(transform(__sh, s -> md5(concat('{seed + i}:', s))))"
            ).alias(h)
            for i, h in enumerate(hcols)
        ],
    )
    bands = sig.select(
        F.col(id_col),
        *hcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(hcols[b * per_band + j])
                                    for j in range(per_band)
                                ],
                            )
                        ).alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(F.col(id_col), *hcols, "bv.band", "bv.sig")

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            *[
                (F.col(f"a.{h}") == F.col(f"b.{h}")).cast("int").alias(f"__m{i}")
                for i, h in enumerate(hcols)
            ],
        )
        .dropDuplicates(["id1", "id2"])
    )
    est_sim = sum(F.col(f"__m{i}") for i in range(num_hash_tables)) / F.lit(
        float(num_hash_tables)
    )
    return (
        cand.select(
            "id1",
            "id2",
            F.round(F.lit(1.0) - est_sim, 4).cast("double").alias("jaccard_distance"),
        )
        .filter(F.col("jaccard_distance") <= max_distance)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = 25,
    local_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    cluster-resolution step that turns near-dup *pairs* (q22/q23/q24
    edges) into dedup *groups* with a canonical keeper per group.

    Each node starts labeled with its own id; every round each node takes
    the minimum of its label and its neighbors' labels, until a round
    changes nothing. Convergence needs O(graph diameter) rounds — near-dup
    clusters are shallow (pairs all share content), so a handful in
    practice. This is a genuinely iterative algorithm: the driver-side
    loop is over *rounds*, never over rows, and each round is one shuffle
    (edge⋈label + min-aggregate). ``localCheckpoint`` truncates the plan
    lineage per round so the final plan stays O(1) deep instead of
    O(rounds).

    Scale note: at extreme component sizes the alternating
    small-star/large-star rewrite (Kiveris et al., "Connected Components
    in MapReduce") converges in O(log n) rounds with the same per-round
    shape; plain min-propagation is the right default while cluster
    diameter is small.

    Adaptive execution: the symmetrized edge set is materialized (and
    counted for free) before iterating; when it fits the driver
    (≤ ``local_edge_threshold`` edges — near-dup graphs have O(n) edges,
    and 1M tuples ≈ tens of MB) the components are solved with a local
    union-find and broadcast-joined back, replacing O(diameter) shuffle
    rounds with one job. The labels are identical by construction
    (min-id per component); the distributed loop remains the path for
    graphs that outgrow the driver, mirroring how AQE picks a broadcast
    join once runtime sizes are known.

    Returns (id, component) for every node; component = min node id of
    the node's component (singletons map to themselves). Deterministic.
    Raises if ``max_iter`` rounds do not converge.
    """
    # Symmetrize map-side with one explode instead of union(edges,
    # edges-swapped): a union would execute the (expensive — e.g. the q22
    # shingle pipeline) edge subtree once per branch, the explode runs it
    # exactly once.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src_col).alias("__a"), F.col(dst_col).alias("__b")),
                F.struct(F.col(dst_col).alias("__a"), F.col(src_col).alias("__b")),
            )
        ).alias("__e")
    ).select("__e.__a", "__e.__b")
    from .checkpoints import free_checkpoints, tracked_local_checkpoint

    spark_sess = edges.sparkSession
    sym, sym_ids = tracked_local_checkpoint(sym)
    all_nodes_df = nodes.select(F.col(id_col).alias("id"))
    if sym.count() <= local_edge_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in sym.collect():
            u, v = r["__a"], r["__b"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        labels = sorted((x, find(x)) for x in parent)
        id_type = dict(nodes.dtypes)[id_col]
        lab_df = spark_sess.createDataFrame(
            labels, f"id {id_type}, component {id_type}"
        )
        singleton_rows = all_nodes_df.join(
            F.broadcast(lab_df.select("id")), "id", "left_anti"
        ).select("id", F.col("id").alias("component"))
        # edges are on the driver now; nothing downstream reads sym
        free_checkpoints(spark_sess, sym_ids)
        return lab_df.union(singleton_rows)
    # Only nodes with at least one edge can ever change label — iterate on
    # that (typically tiny) subset and union the untouched singletons back
    # at the end. At corpus scale this shrinks every round's join from
    # |nodes| to |touched nodes|.
    all_nodes = all_nodes_df
    touched = sym.select(F.col("__a").alias("id")).distinct()
    labels, label_ids = tracked_local_checkpoint(
        touched.select("id", F.col("id").alias("component"))
    )
    # Monotone convergence probe: labels only ever decrease, so the total
    # (exact DECIMAL, overflow-safe) strictly decreases iff any changed.
    total = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    # try/finally so the non-convergence raise (and any mid-loop failure)
    # cannot leak sym's or the live round's pinned blocks — the exact
    # O(session) leak the tracked-checkpoint machinery exists to prevent.
    # On the success return, ``converged`` keeps the final labels pinned
    # (the returned plan reads them); everything else is freed.
    converged = False
    try:
        for _ in range(max_iter):
            nb_min = (
                sym.join(labels, sym["__a"] == labels["id"])
                .groupBy("__b")
                .agg(F.min("component").alias("__nb_min"))
            )
            prev_ids = label_ids
            labels, label_ids = tracked_local_checkpoint(
                labels.join(nb_min, labels["id"] == nb_min["__b"], "left").select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("__nb_min", "component")
                    ).alias("component"),
                )
            )
            # the new round is materialized; its predecessor's pinned blocks
            # are dead weight from here on — free them NOW instead of waiting
            # for the 30-min periodic GC (O(rounds) leak, measured 4x rerun
            # degradation at 10x volume before this)
            free_checkpoints(spark_sess, prev_ids)
            new_total = labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            if new_total == total:
                # anti-join against the (checkpointed) final labels, NOT
                # ``touched``: touched's lineage runs through sym, whose
                # blocks are freed in the finally — the result must not
                # reference it
                singletons = all_nodes.join(
                    labels.select("id"), "id", "left_anti"
                ).select("id", F.col("id").alias("component"))
                converged = True
                return labels.union(singletons)
            total = new_total
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        free_checkpoints(spark_sess, sym_ids)
        if not converged:
            free_checkpoints(spark_sess, label_ids)


_SIMHASH_BITS = 60  # stay inside a signed 64-bit long (2^60 << 2^63)


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per document, fully JVM-side.

    token weights = term frequency; per bit b: sum over occurrences of
    (+1 if bit set else -1) — identical to tf-weighted ±w per distinct
    token; simhash bit b = 1 iff the sum > 0 (tracked as the set-bit
    count s_b: bit set iff 2·s_b > n).

    A SimHash is a PER-DOCUMENT reduction, so it needs no explode and no
    shuffle at all: the token array folds row-locally with `aggregate`
    over `zip_with` bit-counters — the whole operator is one projection
    inside the scan stage (measured ~2.5× faster than the equivalent
    explode → groupBy(id) 60-sum hash aggregate at sf0.1, and the
    fingerprints are bit-identical). At 100 TB that difference is an
    entire shuffle of the token stream that never happens.

    Token hash = the top 60 bits of md5 (15 hex chars via conv), NOT
    xxhash64: md5 exists in every engine, so the fingerprints are
    cross-engine deterministic and the whole simhash family is
    differential-testable against a DuckDB oracle (the same
    determinism policy as the sketch operators)."""
    bits = _SIMHASH_BITS
    expr = f"""
    aggregate(
      transform(split(lower({text_col}), ' '),
                t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
      struct(CAST(0 AS BIGINT) AS n, array_repeat(CAST(0 AS BIGINT), {bits}) AS s),
      (acc, h) -> struct(
        acc.n + 1 AS n,
        zip_with(acc.s,
                 transform(sequence(0, {bits - 1}), b -> shiftright(h, b) & 1),
                 (a, x) -> a + x) AS s),
      acc -> aggregate(
        transform(sequence(0, {bits - 1}),
                  b -> IF(acc.s[b] * 2 > acc.n,
                          shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
        CAST(0 AS BIGINT), (a, x) -> a + x)
    )"""
    return fan_out(df).select(F.col(id_col), F.expr(expr).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 12,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via banded LSH: split the 60-bit fingerprint
    into ``n_bands`` bands; candidates share ≥1 exact band; verify with
    Hamming distance (bit_count of xor). The band join is an equi-join →
    shuffle on (band_idx, band_value), linear in candidates."""
    sh = simhash(df, text_col, id_col)
    # both sides of the band self-join read this frame — materialize so
    # the 60-bit fold (the corpus-sized work) runs once, not per side
    sh = sh.localCheckpoint(eager=False)
    band_width = _SIMHASH_BITS // n_bands

    def band_val(col, i):
        return F.shiftright(col, i * band_width).bitwiseAND(
            F.lit((1 << band_width) - 1)
        )

    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        band_val(F.col("simhash"), i).alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(F.col(id_col), "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    # First-matching-band ownership: a pair colliding in m bands would
    # surface m times; instead of a dropDuplicates shuffle over the full
    # candidate set, each pair is emitted only by its lowest matching band
    # — "no band before this one also matches" is a pure bit-expression on
    # the two fingerprints already present on the joined row, so the
    # entire dedup costs zero extra exchanges.
    prior_mismatch = reduce(
        lambda acc, j: acc
        & (
            (F.col("a.band") <= j)
            | (band_val(F.col("a.simhash"), j) != band_val(F.col("b.simhash"), j))
        ),
        range(n_bands - 1),
        F.lit(True),
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(prior_mismatch)
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
    )
    return cand.filter(F.col("hamming") <= max_hamming).select(
        "id1", "id2", "hamming"
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any word
    ``n``-gram with an evaluation/benchmark document — the GPT-3-style
    overlap rule (Brown et al. 2020 used 13-grams; pick ``n`` relative to
    document length and vocabulary).

    Shape is the whole point at 100 TB: the eval side is a benchmark
    (thousands of docs), the train side the corpus. The eval n-gram set is
    distinct-collapsed and **broadcast**, so the train shingle stream is
    probed map-side — a broadcast semi-join shape with no shuffle of the
    corpus, embarrassingly parallel over train partitions. The only
    exchange is the final per-doc aggregation of hits (rows ∝ contaminated
    grams, a vanishing fraction of the corpus).

    Returns one row per *contaminated* train doc:
    (id, n_overlap_grams, n_eval_docs).
    """
    ev = word_shingles(eval_df, text_col, id_col, n).select(
        "shingle", F.col(id_col).alias("__eval_id")
    )
    tr = word_shingles(train, text_col, id_col, n)
    hits = tr.join(F.broadcast(ev), "shingle")
    return hits.groupBy(id_col).agg(
        F.count_distinct("shingle").alias("n_overlap_grams"),
        F.count_distinct("__eval_id").alias("n_eval_docs"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 1,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Set-similarity join with prefix filtering (SSJoin/PPJoin family —
    Chaudhuri et al. 2006, Xiao et al. 2008): all pairs with Jaccard ≥
    threshold_num/threshold_den over each document's SET of word
    ``n``-grams (``n=1`` → token sets).

    Why it scales where the naive join dies: joining docs on ANY shared
    token fans out by df² per token ("the" alone is catastrophic). Under
    a global rarest-first token order, if J(A,B) ≥ t then A and B must
    share a token among each side's first |X| − ceil(t·|X|) + 1 ordered
    tokens — so only those PREFIX tokens (the rarest ones, by
    construction of the order) enter the candidate join, and the fan-out
    collapses while exactness is preserved (the dropped suffix tokens
    are exactly the ones a qualifying pair can afford to miss).

    Everything is integer arithmetic: prefix length p = s − ceil(t·s) + 1
    with ceil(t·s) = (num·s + den − 1) DIV den, and the final test
    J ≥ num/den ⇔ (num+den)·inter ≥ num·(sa+sb) — no float thresholds,
    so candidate sets and results are engine-identical. Returns
    (id1, id2, inter_size, size1, size2, jaccard).

    Shared-subtree reuse: without checkpoints the self-join evaluates
    the ``pref`` subtree (token explode + df join + two windows) twice
    and ``sets`` twice more, so the token pipeline ran up to 5x per
    invocation. ``tok``/``pref``/``sets`` are lazily localCheckpointed
    (q175's discipline — materialize once on first action, every
    consumer reads the cached blocks); semantics are unaffected —
    everything here is deterministic.
    """
    num, den = threshold_num, threshold_den
    if n <= 1:
        tok = df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
            ).alias("token"),
        ).filter(F.col("token") != "")
    else:
        tok = word_shingles(df, text_col, id_col, n=n).withColumnRenamed(
            "shingle", "token"
        )
    # tok feeds the df aggregate, the ranked join probe AND the sets
    # aggregate — checkpoint so the explode runs once, not three times
    tok = tok.localCheckpoint(eager=False)
    # global document frequency per element — Zipf-small relative to the
    # corpus, broadcast back (same stance as q55's df table)
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(F.broadcast(dfreq), "token")
    w = Window.partitionBy(id_col).orderBy("df", "token")
    ranked = ranked.select(
        F.col(id_col),
        "token",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("sz"),
    )
    # p = sz − ceil(t·sz) + 1, all-integer
    pref = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.expr(f"({num} * sz + {den} - 1) DIV {den}") + F.lit(1)
    )
    # both sides of the self-join below are THIS frame — checkpoint so
    # the df-join + double-window pipeline materializes once.  NOTE
    # (r10): checkpointing the FULL `ranked` stream here instead (to
    # share its id-partitioning with the set aggregate) looked good at
    # sf0.1 but stored the whole (token, pos, sz) stream and measured
    # +40% executor CPU at x20 — reverted to the small prefix subset.
    pref = pref.localCheckpoint(eager=False)
    a, b = pref.alias("a"), pref.alias("b")
    # length filter (Arasu et al.): J ≥ t ⇒ t·max(sa,sb) ≤ min(sa,sb),
    # so size-incompatible collisions drop inside the join before the
    # distinct — semantics unchanged (the final J test implies it), the
    # candidate stream shrinks
    length_ok = (F.lit(num) * F.col("a.sz") <= F.lit(den) * F.col("b.sz")) & (
        F.lit(num) * F.col("b.sz") <= F.lit(den) * F.col("a.sz")
    )
    # position filter (PPJoin, Xiao et al.): a collision at (pa, pb) caps
    # the possible overlap at 1 + min(sa−pa, sb−pb); J ≥ t needs overlap
    # ≥ t/(1+t)·(sa+sb), and a qualifying pair's FIRST common prefix
    # token always meets the cap — so dropping failing collisions loses
    # no qualifying pair (survivors are still re-verified exactly).
    # For t = num/den: (num+den)·(1 + min(remaining)) ≥ num·(sa+sb).
    position_ok = F.lit(num + den) * (
        F.lit(1)
        + F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        )
    ) >= F.lit(num) * (F.col("a.sz") + F.col("b.sz"))
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & length_ok
            & position_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )
    # Set table from the checkpointed token stream (shingles are already
    # distinct per doc, so collect_list ≡ collect_set; intersection SIZE
    # is order-independent, so the old sort_array was wasted work).
    sets = tok.groupBy(id_col).agg(
        F.collect_list("token").alias("toks"),
        F.count(F.lit(1)).alias("sz"),
    )
    # probed twice (id1 side, id2 side) — materialize the set table once
    sets = sets.localCheckpoint(eager=False)
    s1 = sets.select(
        F.col(id_col).alias("id1"),
        F.col("toks").alias("t1"),
        F.col("sz").alias("size1"),
    )
    s2 = sets.select(
        F.col(id_col).alias("id2"),
        F.col("toks").alias("t2"),
        F.col("sz").alias("size2"),
    )
    verify_in = cand.join(s1, "id1").join(s2, "id2")
    # The exact-verify projection below costs O(|set1| + |set2|) PER ROW
    # (array intersection over full token sets) while its input is only
    # KBs — AQE's byte-based coalescing serialized it onto one task
    # (profiled at sf0.1: a single-task 2.3 s final stage, half the
    # query's wall).  Width here must follow rows, not bytes: an
    # explicit keyed repartition with a fixed count is exempt from AQE
    # coalescing (guide §2.5 — synthetic/CPU-heavy stages need their
    # own parallelism).  Cost: one extra exchange of candidate-pair
    # rows only (the prefix filter already made those rare).
    verify_in = verify_in.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id1", "id2"
    )
    scored = (
        verify_in
        .withColumn("inter_size", F.size(F.array_intersect("t1", "t2")).cast("long"))
        .filter(
            F.lit(num + den) * F.col("inter_size")
            >= F.lit(num) * (F.col("size1") + F.col("size2"))
        )
    )
    return scored.select(
        "id1",
        "id2",
        "inter_size",
        "size1",
        "size2",
        F.round(
            F.col("inter_size").cast("double")
            / (F.col("size1") + F.col("size2") - F.col("inter_size")),
            4,
        ).alias("jaccard"),
    )


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 6,
) -> DataFrame:
    """Banded-LSH near-dup pairs over any 64-bit fingerprint stored as
    two non-negative 32-bit halves (the ``dhash_images`` layout —
    perceptual image hashes, but any 64-bit signature fits): the
    fingerprint splits into four 16-bit bands, candidates share at least
    one exact band, and the verify stage computes the exact Hamming
    distance as bit_count(xor(hi)) + bit_count(xor(lo)).

    Recall is structural, not probabilistic: any pair at Hamming
    distance < 4 (the band count) has a band with NO differing bit
    (pigeonhole), so true near-dups below that radius are never missed;
    3 < distance <= max_hamming pairs are found iff their differing bits
    leave a band clean. First-matching-band ownership dedups multi-band
    collisions with a pure bit-expression (zero extra exchanges — the
    simhash_near_pairs discipline). Scale shape: the band join shuffles
    (band, 16-bit key, two 4-byte halves) — never payloads — and is
    linear in candidates."""
    n_bands = 4
    fp = df.select(F.col(id_col), F.col(hi_col), F.col(lo_col))

    def _bv(hi, lo, i):
        col = lo if i < 2 else hi
        return F.shiftright(col, (i % 2) * 16).bitwiseAND(F.lit(0xFFFF))

    bands = fp.select(
        F.col(id_col),
        F.col(hi_col),
        F.col(lo_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _bv(F.col(hi_col), F.col(lo_col), i).alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(
        F.col(id_col),
        F.col(hi_col),
        F.col(lo_col),
        F.col("bv.band").alias("band"),
        F.col("bv.val").alias("val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    prior_mismatch = reduce(
        lambda acc, j: acc
        & (
            (F.col("a.band") <= j)
            | (
                _bv(F.col(f"a.{hi_col}"), F.col(f"a.{lo_col}"), j)
                != _bv(F.col(f"b.{hi_col}"), F.col(f"b.{lo_col}"), j)
            )
        ),
        range(n_bands - 1),
        F.lit(True),
    )
    hamming = F.bit_count(
        F.col(f"a.{hi_col}").bitwiseXOR(F.col(f"b.{hi_col}"))
    ) + F.bit_count(F.col(f"a.{lo_col}").bitwiseXOR(F.col(f"b.{lo_col}")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(prior_mismatch)
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
