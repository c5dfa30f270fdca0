"""Unit tests for the engine operators: merge semantics (multi-match
strictness, idempotence), SCD2, router, dedup family cross-validation
(MinHash recall vs exact Jaccard), similarity, multimodal plumbing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, Window, functions as F

from logistics_data_pipeline_project_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    shingle_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from logistics_data_pipeline_project_spark.operators.merge import (
    dedup_latest,
    high_watermark,
    incremental_filter,
    merge_upsert,
    scd2_apply,
)
from logistics_data_pipeline_project_spark.operators.multimodal import (
    attach_payload_metadata,
    decode_media,
)
from logistics_data_pipeline_project_spark.operators.router import validity_router
from logistics_data_pipeline_project_spark.operators.similarity import cosine_topk


def ts(s):
    return dt.datetime.fromisoformat(s)


# -- merge ------------------------------------------------------------------


def test_merge_upsert_update_insert_keep(spark):
    target = spark.createDataFrame(
        [Row(k=1, v="a", n=10), Row(k=2, v="b", n=20), Row(k=3, v="c", n=30)]
    )
    source = spark.createDataFrame([Row(k=2, v="B2"), Row(k=4, v="D")])
    out = merge_upsert(
        target,
        source,
        keys=["k"],
        update_set={"v": F.col("s.v")},
        insert_values={"n": F.lit(0)},
    )
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["v"] == "a" and rows[1]["n"] == 10  # untouched
    assert rows[2]["v"] == "B2" and rows[2]["n"] == 20  # updated, n kept
    assert rows[3]["v"] == "c"  # untouched
    assert rows[4]["v"] == "D" and rows[4]["n"] == 0  # inserted
    assert out.count() == 4


def test_merge_upsert_delete_clause(spark):
    """WHEN MATCHED AND s.deleted THEN DELETE (the CDC hard-delete path):
    flagged matches vanish, unflagged matches update, unmatched target
    rows survive, and a deleted-flag row for an absent key inserts
    normally (DELETE only applies to matches, per MERGE semantics)."""
    target = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    source = spark.createDataFrame(
        [
            Row(k=2, v="B2", deleted=False),
            Row(k=3, v="x", deleted=True),
            Row(k=4, v="D", deleted=False),
        ]
    )
    out = merge_upsert(
        target,
        source,
        keys=["k"],
        update_set={"v": F.col("s.v")},
        delete_condition=F.col("s.deleted"),
    )
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: "a", 2: "B2", 4: "D"}  # 3 hard-deleted


def test_merge_upsert_strict_rejects_dup_source(spark):
    target = spark.createDataFrame([Row(k=1, v="a")])
    dup_source = spark.createDataFrame([Row(k=1, v="x"), Row(k=1, v="y")])
    with pytest.raises(ValueError, match="duplicate source rows"):
        merge_upsert(target, dup_source, keys=["k"], strict=True)


def test_merge_upsert_idempotent_after_dedup(spark):
    """Replaying the same deduped batch must be a no-op (M3/M4 re-run
    safety)."""
    target = spark.createDataFrame([Row(k=1, v="a", t=ts("2024-01-01"))])
    batch = spark.createDataFrame(
        [
            Row(k=1, v="new", t=ts("2024-02-01")),
            Row(k=1, v="old", t=ts("2024-01-15")),
            Row(k=2, v="b", t=ts("2024-02-02")),
        ]
    )
    src = dedup_latest(batch, ["k"], [F.desc("t")])
    once = merge_upsert(target, src, keys=["k"], update_set={"v": F.col("s.v"), "t": F.col("s.t")}, strict=True)
    twice = merge_upsert(once, src, keys=["k"], update_set={"v": F.col("s.v"), "t": F.col("s.t")}, strict=True)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert {r["v"] for r in once.collect()} == {"new", "b"}


def test_scd2_apply_change_and_new_key(spark):
    t0 = ts("2024-01-01")
    t1 = ts("2024-06-01")
    history = spark.createDataFrame(
        [
            Row(k=1, seg="A", valid_from=t0, valid_to=None, is_current=True),
            Row(k=2, seg="B", valid_from=t0, valid_to=None, is_current=True),
        ],
        schema="k long, seg string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame([Row(k=1, seg="A2"), Row(k=9, seg="NEW")])
    out = scd2_apply(history, updates, "k", ["seg"], effective_ts=F.lit(t1))
    rows = sorted([r.asDict() for r in out.collect()], key=lambda r: (r["k"], str(r["valid_from"])))
    # k=1: closed old + new current; k=2 untouched; k=9 new
    assert len(rows) == 4
    k1 = [r for r in rows if r["k"] == 1]
    assert {(r["seg"], r["is_current"]) for r in k1} == {("A", False), ("A2", True)}
    closed = next(r for r in k1 if not r["is_current"])
    assert closed["valid_to"] == t1
    k2 = next(r for r in rows if r["k"] == 2)
    assert k2["is_current"] and k2["valid_to"] is None
    k9 = next(r for r in rows if r["k"] == 9)
    assert k9["is_current"] and k9["valid_from"] == t1


def test_scd2_apply_no_change_is_noop(spark):
    t0 = ts("2024-01-01")
    history = spark.createDataFrame(
        [Row(k=1, seg="A", valid_from=t0, valid_to=None, is_current=True)],
        schema="k long, seg string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame([Row(k=1, seg="A")])  # identical
    out = scd2_apply(history, updates, "k", ["seg"], effective_ts=F.lit(ts("2024-06-01")))
    assert out.count() == 1
    assert out.first()["is_current"]


def test_high_watermark_and_filter(spark):
    df = spark.createDataFrame([Row(k=1, t=ts("2024-01-01")), Row(k=2, t=ts("2024-03-01"))])
    wm = high_watermark(df, "t")
    assert wm == ts("2024-03-01")
    newer = spark.createDataFrame([Row(k=3, t=ts("2024-02-01")), Row(k=4, t=ts("2024-04-01"))])
    assert [r["k"] for r in incremental_filter(newer, "t", wm).collect()] == [4]
    assert incremental_filter(newer, "t", None).count() == 2


# -- router -----------------------------------------------------------------


def test_validity_router_first_match_wins(spark):
    df = spark.createDataFrame(
        [Row(id=1, x=5), Row(id=2, x=None), Row(id=3, x=-1), Row(id=4, x=1000)]
    )
    rules = [
        ("MISSING_X", F.col("x").isNull()),
        ("NEGATIVE_X", F.col("x") < 0),
        ("TOO_BIG", F.col("x") > 100),
    ]
    valid, errors = validity_router(df, rules)
    assert [r["id"] for r in valid.collect()] == [1]
    reasons = {r["id"]: r["ERROR_REASON"] for r in errors.collect()}
    assert reasons == {2: "MISSING_X", 3: "NEGATIVE_X", 4: "TOO_BIG"}
    assert "ERROR_REASON" not in valid.columns


# -- dedup family -----------------------------------------------------------


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different content about spark shuffles and parquet files"
    return spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=other),
         Row(doc_id=4, text=base)]  # exact dup of 1
    )


def test_exact_dedup(spark, near_dup_docs):
    out = exact_dedup(near_dup_docs, "text", "doc_id")
    rows = {r["keeper_doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[1] == 2  # docs 1 and 4 identical
    assert rows[2] == 1 and rows[3] == 1


def test_shingle_jaccard_finds_near_dup(spark, near_dup_docs):
    pairs = shingle_jaccard_pairs(near_dup_docs, "text", "doc_id", n=3, threshold=0.5)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (1, 2) in got  # near dup
    assert (1, 4) in got  # exact dup → jaccard 1.0
    assert not any(3 in p for p in got)  # unrelated doc


def test_minhash_recall_vs_exact_jaccard(spark, near_dup_docs):
    """MinHash candidates must include every exact-Jaccard near-dup pair
    (the differential check promised in queries/llmdata.py)."""
    exact = {
        (r["id1"], r["id2"])
        for r in shingle_jaccard_pairs(near_dup_docs, "text", "doc_id", n=3, threshold=0.5).collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in minhash_lsh_pairs(near_dup_docs, "text", "doc_id", n=3, max_distance=0.6).collect()
    }
    assert exact <= approx


def test_simhash_deterministic_and_near(spark, near_dup_docs):
    fp1 = {r["doc_id"]: r["simhash"] for r in simhash(near_dup_docs, "text", "doc_id").collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in simhash(near_dup_docs, "text", "doc_id").collect()}
    assert fp1 == fp2  # deterministic
    assert fp1[1] == fp1[4]  # identical docs → identical fingerprint
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
             simhash_near_pairs(near_dup_docs, "text", "doc_id", max_hamming=20).collect()}
    assert pairs.get((1, 4)) == 0


# -- similarity -------------------------------------------------------------


def test_cosine_topk_exact(spark):
    qs = spark.createDataFrame([Row(query_id=0, qv=[1.0, 0.0])])
    cands = spark.createDataFrame(
        [
            Row(cand_id=1, cv=[1.0, 0.0]),     # cosine 1.0
            Row(cand_id=2, cv=[0.5, 0.5]),     # cosine ~0.7071
            Row(cand_id=3, cv=[0.0, 1.0]),     # cosine 0
            Row(cand_id=4, cv=[-1.0, 0.0]),    # cosine -1
        ]
    )
    out = cosine_topk(qs, cands, k=2)
    rows = sorted([r.asDict() for r in out.collect()], key=lambda r: r["rnk"])
    assert [r["cand_id"] for r in rows] == [1, 2]
    assert rows[0]["cosine"] == pytest.approx(1.0)
    assert rows[1]["cosine"] == pytest.approx(0.7071)


def test_kmeans_assign_impls_bit_identical(spark, sf_dir):
    """Every round's vectorized numpy assignment must equal the JVM
    expression fold (``_cell_dist_structs``, the oracle) on that round's
    centroids bit-for-bit — the determinism contract the q41/q42 oracle
    gate rests on.  ``n_iter`` = 0, 1, 2 exposes each round."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import (
        _cell_dist_structs,
        kmeans_cells,
    )

    emb = load(spark, sf_dir, "embeddings")
    dbl = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    for n_iter in (0, 1, 2):
        got, cents = kmeans_cells(emb, "vec_id", "embedding", k=4, n_iter=n_iter)
        best = F.array_min(_cell_dist_structs(cents))
        want = dbl.select("id", best["cell"].alias("cell"), best["d"].alias("sq_dist"))
        rows_got = {r["id"]: (r["cell"], r["sq_dist"]) for r in got.collect()}
        rows_want = {r["id"]: (r["cell"], r["sq_dist"]) for r in want.collect()}
        assert rows_got == rows_want, n_iter


def test_kmeans_cells_partition_all_rows(spark, sf_dir):
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import kmeans_cells

    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_cells(emb, "vec_id", "embedding", k=8, n_iter=1)
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("id").distinct().count() == n  # exactly one cell per vector
    assert len(cents) <= 8 and all(len(v) == 64 for _, v in cents)


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    """IVF probe search must recover most of the exact top-k even on
    near-random embeddings (nprobe=2 of 8 cells)."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cands = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(queries, cands, k=10).collect()}
    approx = {
        (r.query_id, r.cand_id)
        for r in ivf_topk(emb, "vec_id", "embedding", query_ids=qids, k=10).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.7


# -- multimodal -------------------------------------------------------------


def test_multimodal_metadata_and_stub_decode(spark):
    """Metadata is JVM-side; decode is real, and bytes no codec here can
    parse raise NotImplementedError instead of faking features."""
    from logistics_data_pipeline_project_spark.operators.multimodal import (
        encode_png,
        encode_wav_pcm16,
    )

    fake = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(b"fake-image-bytes"), mtype="image/png"),
            Row(id=2, payload=bytearray(b"fake-audio-bytes!"), mtype="audio/wav"),
        ]
    )
    meta = attach_payload_metadata(fake, "payload", "mtype")
    m = {r["id"]: r["media_meta"].asDict() for r in meta.collect()}
    assert m[1]["n_bytes"] == 16 and m[1]["media_type"] == "image/png"
    assert len(m[1]["sha256"]) == 64

    with pytest.raises(Exception, match="NotImplementedError"):
        decode_media(fake, "id", "payload", "mtype").collect()

    real = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(encode_png(5, 3, 1, bytes(15))), mtype="image/png"),
            Row(id=2, payload=bytearray(encode_wav_pcm16([0] * 800)), mtype="audio/wav"),
        ]
    )
    m = {
        r["id"]: r["media_meta"].asDict()
        for r in attach_payload_metadata(real, "payload", "mtype").collect()
    }
    rows = {r["id"]: r.asDict() for r in decode_media(real, "id", "payload", "mtype").collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["duration_ms"]) == (5, 3, None)
    assert (rows[2]["width"], rows[2]["duration_ms"]) == (None, 100)
    # sha digest matches the JVM-side metadata digest
    for i in (1, 2):
        assert rows[i]["feature_digest"] == m[i]["sha256"]
        assert rows[i]["n_bytes"] == m[i]["n_bytes"]


def test_multimodal_frame_sample_and_resize(spark):
    from logistics_data_pipeline_project_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
        encode_y4m,
        mjpeg_frame_stats,
        resize_images,
        sample_frames,
        sampled_frames,
        y4m_frame_stats,
    )

    fake = spark.createDataFrame(
        [(1, bytearray(b"video-bytes-a")), (2, bytearray(b"video-bytes-b"))],
        "id long, payload binary",
    )
    with pytest.raises(Exception, match="NotImplementedError"):
        sample_frames(fake, "id", "payload").collect()
    with pytest.raises(Exception, match="NotImplementedError"):
        resize_images(fake, "id", "payload", width=4, height=4).collect()

    # 5 frames at 2 fps: every 1000 ms picks frames 0, 2, 4, then stops
    y4m = encode_y4m(2, 2, [bytes([i] * 4) for i in range(5)], fps=(2, 1))
    assert sampled_frames(5, 2, 1, 1000, 8) == [(0, 0), (2, 1000), (4, 2000)]
    # a step shorter than the frame period would repeat a frame: stop
    assert sampled_frames(5, 2, 1, 100, 8) == [(0, 0)]
    assert sampled_frames(5, 2, 1, 1000, 2) == [(0, 0), (2, 1000)]
    # a negative step would pick frames counted from the end of the stream
    with pytest.raises(ValueError, match="every_ms"):
        sampled_frames(5, 2, 1, -1000, 3)
    vids = spark.createDataFrame([(7, bytearray(y4m))], "id long, payload binary")
    # the operators reject it when called, before any job runs
    for op in (sample_frames, y4m_frame_stats, mjpeg_frame_stats):
        for every_ms in (0, -1000):
            with pytest.raises(ValueError, match="every_ms"):
                op(vids, "id", "payload", every_ms=every_ms)
    rows = sample_frames(vids, "id", "payload", every_ms=1000, max_frames=4).collect()
    assert [(r["id"], r["frame_index"], r["frame_ms"]) for r in rows] == [
        (7, 0, 0), (7, 2, 1000), (7, 4, 2000)
    ]
    import hashlib

    assert rows[1]["frame_digest"] == hashlib.sha256(bytes([2] * 4)).hexdigest()

    png = encode_png(4, 2, 1, bytes(range(8)))
    imgs = spark.createDataFrame([(3, bytearray(png))], "id long, payload binary")
    (r,) = resize_images(imgs, "id", "payload", width=2, height=2).collect()
    assert (r["id"], r["width"], r["height"]) == (3, 2, 2)
    assert decode_png_pixels(bytes(r["resized_payload"])) == (2, 2, 1, bytes([0, 2, 4, 6]))


def test_payload_operator_annotations_resolve():
    # annotations stay strings under `from __future__ import annotations`,
    # so a name the module never imports surfaces only here
    import inspect
    import typing

    from logistics_data_pipeline_project_spark.operators import multimodal, rowmap
    from logistics_data_pipeline_project_spark.sources import warc

    checked = 0
    for mod in (multimodal, rowmap, warc):
        for name, fn in vars(mod).items():
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            typing.get_type_hints(fn)
            checked += 1
    assert checked > 50


def test_connected_components_min_label():
    # standalone graph: chain 1-2-3, pair 10-11, singleton 99; edges are
    # undirected regardless of (src, dst) orientation in the input
    from logistics_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )
    from logistics_data_pipeline_project_spark.session import get_spark

    spark = get_spark()
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], "id long")
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], "id1 long, id2 long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    # deterministic under re-run
    again = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == again
    # the distributed label-propagation path (threshold 0 forces it) must
    # produce the identical labeling as the local union-find fast path
    dist = {
        r["id"]: r["component"]
        for r in connected_components(
            nodes, edges, local_edge_threshold=0
        ).collect()
    }
    assert dist == got


def test_connected_components_frees_superseded_checkpoints(spark):
    """The distributed loop localCheckpoints every round; superseded
    rounds (and the symmetrized edge set) must be unpersisted before the
    function returns — a long-lived session otherwise accumulates
    O(rounds) dead blocks per invocation until storage thrashes
    (measured 4x rerun degradation at 10x volume)."""
    from logistics_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    nodes = spark.range(0, 400).select(F.col("id"))
    # 100 chains of diameter 3 -> several propagation rounds
    edges = spark.createDataFrame(
        [(4 * i + k, 4 * i + k + 1) for i in range(100) for k in range(3)],
        "id1 long, id2 long",
    )
    base = n_persistent()
    result = connected_components(nodes, edges, local_edge_threshold=0)
    got = {r["id"]: r["component"] for r in result.collect()}
    assert got == {4 * i + k: 4 * i for i in range(100) for k in range(4)}
    # only the FINAL labels checkpoint may remain pinned — not the edge
    # set, not any superseded round
    assert n_persistent() <= base + 1
    # the local union-find path frees its edge materialization too
    base2 = n_persistent()
    local = connected_components(nodes, edges)
    assert {r["id"]: r["component"] for r in local.collect()} == got
    assert n_persistent() <= base2


def test_store_self_read_overwrite_pins_nothing(spark, tmp_path):
    """A store overwrite whose plan reads the table's own current snapshot
    (the foreachBatch / incremental-merge shape) lands its data and
    leaves no persistent RDD behind: the next version is a fresh
    directory, so no checkpoint is needed to cut the lineage."""
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    store = TableStore(spark, str(tmp_path), retain_versions=1)
    store.overwrite("t", spark.range(100).selectExpr("id", "id * 2 as v"))
    base = n_persistent()
    store.overwrite("t", store.read("t").withColumn("v", F.col("v") + 1))
    assert n_persistent() == base
    assert store.versions("t") == [2]  # the snapshot read was GC'd
    assert store.read("t").agg(F.sum("v")).collect()[0][0] == sum(
        2 * i + 1 for i in range(100)
    )


def test_released_checkpoints_library_consumer(spark, sf_dir):
    """Round-8 #3 (the r7 'What's wrong' library-consumer caveat): a
    consumer driving queries() in a long-lived session WITHOUT the
    harness discipline must have a public scoped release — wrap each
    query in ``released_checkpoints`` and the registry returns to its
    baseline, instead of accumulating every query's lazily
    checkpointed subtrees until a JVM GC.  Driven against q127 (the
    catalog's heaviest lazy checkpointer: tok/pref/sets subtrees)."""
    from logistics_data_pipeline_project_spark.operators.checkpoints import (
        persistent_rdd_ids,
        released_checkpoints,
    )
    from logistics_data_pipeline_project_spark.queries import REGISTRY

    q127 = next(
        s.fn for n, s in REGISTRY.items() if n.startswith("q127")
    )
    base = persistent_rdd_ids(spark)
    with released_checkpoints(spark):
        rows = q127(spark, sf_dir).collect()
        assert rows is not None
        # the query really did pin blocks (the test would be vacuous
        # against a non-checkpointing query)
        assert persistent_rdd_ids(spark) - base
    assert persistent_rdd_ids(spark) <= base
    # exceptions still free, and nesting frees inner-first
    try:
        with released_checkpoints(spark):
            with released_checkpoints(spark):
                spark.range(10).localCheckpoint(eager=True).count()
                raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert persistent_rdd_ids(spark) <= base


def test_top_ngram_repetition_semantics(spark):
    from logistics_data_pipeline_project_spark.operators.text import (
        top_ngram_repetition,
    )

    df = spark.createDataFrame(
        [
            # "b c" wins on count (2 overlapping occurrences)
            (1, "a b c b c"),
            # all bigrams tie at 1 -> lexicographically smallest wins
            (2, "z y x"),
            # shorter than n -> no row
            (3, "solo"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in top_ngram_repetition(df, "text", "doc_id").collect()}
    assert set(got) == {1, 2}
    assert got[1]["gram"] == "b c" and got[1]["cnt"] == 2
    # 2 occurrences x 3 chars / 9 chars
    assert got[1]["char_frac"] == round(2 * 3 / 9, 4)
    assert got[2]["gram"] == "y x"  # "y x" < "z y"
    assert got[2]["cnt"] == 1


def test_decontaminate_broadcast_overlap(spark):
    from logistics_data_pipeline_project_spark.operators.dedup import decontaminate

    ev = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], "doc_id int, text string"
    )
    tr = spark.createDataFrame(
        [
            (10, "said the quick brown fox jumps high"),  # shares 4-grams
            (11, "completely different words here today"),
            (12, "a b"),  # shorter than n
        ],
        "doc_id int, text string",
    )
    out = decontaminate(tr, ev, "text", "doc_id", n=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {10}
    # "the quick brown fox" + "quick brown fox jumps"
    assert rows[10]["n_overlap_grams"] == 2
    assert rows[10]["n_eval_docs"] == 1
    # the eval gram set must broadcast: corpus side stays shuffle-free
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_source_mix_sample_deterministic_epochs(spark):
    from logistics_data_pipeline_project_spark.operators.mixing import (
        source_mix_sample,
    )

    df = spark.createDataFrame(
        [(i, "up" if i % 2 else "down") for i in range(200)],
        "doc_id int, source string",
    )
    out = source_mix_sample(df, "doc_id", "source", {"up": 2.5, "down": 0.3})
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # upsampled docs appear 2 or 3 times with contiguous 1-based epochs;
    # downsampled docs appear 0 or 1 times
    n_up3 = 0
    for doc, epochs in per_doc.items():
        src = "up" if doc % 2 else "down"
        if src == "up":
            assert sorted(epochs) in ([1, 2], [1, 2, 3])
            n_up3 += len(epochs) == 3
        else:
            assert epochs == [1]
    assert 0 < n_up3 < 100  # fractional upsample hit some but not all
    down_kept = sum(1 for d in per_doc if d % 2 == 0)
    assert 10 <= down_kept <= 50  # ~30% of 100
    # deterministic: identical output on recompute
    again = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    assert again == {(r["doc_id"], r["epoch"]) for r in rows}
    # rates must be validated
    import pytest as _pytest

    with _pytest.raises(ValueError, match="negative rate"):
        source_mix_sample(df, "doc_id", "source", {"up": -1.0})


def test_native_session_window_matches_gap_sessionization(spark, sf_dir):
    """Spark's built-in session_window (gap-merged event-time windows)
    must agree with the engine's island-anchor sessionization (q20 /
    operators.temporal style) on session counts and event totals."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.queries import REGISTRY

    e = load(spark, sf_dir, "events")
    native = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )
    q20 = REGISTRY["q020_user_sessions"].fn(spark, sf_dir)
    q020_cols = set(q20.columns)
    assert {"user_id", "n_sessions"} <= q020_cols, q020_cols
    got = {r["user_id"]: r["n_sessions"] for r in native.collect()}
    want = {r["user_id"]: r["n_sessions"] for r in q20.collect()}
    assert got == want


def test_scd2_as_of_point_in_time(spark):
    from pyspark.sql import functions as F

    from logistics_data_pipeline_project_spark.operators.merge import (
        scd2_apply,
        scd2_as_of,
    )

    hist = spark.createDataFrame(
        [(1, "pune", "2024-01-01", None, True), (2, "goa", "2024-01-01", None, True)],
        "customer_id int, city string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "customer_id", "city",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    upd = spark.createDataFrame([(1, "mumbai")], "customer_id int, city string")
    hist2 = scd2_apply(
        hist, upd, "customer_id", ["city"],
        F.lit("2024-06-01").cast("timestamp"),
    )
    # before the change: customer 1 in pune; after: in mumbai; the closing
    # boundary itself (half-open) already reads as the new version
    def city_at(ts):
        rows = scd2_as_of(hist2, F.lit(ts).cast("timestamp")).collect()
        return {r["customer_id"]: r["city"] for r in rows}

    assert city_at("2024-03-01") == {1: "pune", 2: "goa"}
    assert city_at("2024-06-01") == {1: "mumbai", 2: "goa"}
    assert city_at("2024-12-01") == {1: "mumbai", 2: "goa"}
    # exactly one version per key at every instant
    for ts in ("2024-03-01", "2024-06-01", "2024-12-01"):
        assert len(city_at(ts)) == 2


def test_prefix_filter_equals_unfiltered_join(spark, sf_dir):
    """The prefix filter is a pure optimization: its result must equal the
    naive all-shared-shingle join at the same threshold (the lemma the
    operator's docstring cites, certified on real data)."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        word_shingles,
    )

    docs = load(spark, sf_dir, "documents")
    fast = prefix_filter_jaccard_pairs(docs, "text", "doc_id", n=3)
    got = {(r.id1, r.id2, r.inter_size) for r in fast.collect()}

    sh = word_shingles(docs, "text", "doc_id", n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    naive = (
        inter.join(sizes.withColumnRenamed("doc_id", "id1"), "id1")
        .withColumnRenamed("sz", "size1")
        .join(
            sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed(
                "sz", "size2"
            ),
            "id2",
        )
        .filter(3 * F.col("inter_size") >= F.col("size1") + F.col("size2"))
    )
    want = {(r.id1, r.id2, r.inter_size) for r in naive.collect()}
    assert got == want
    assert want, "fixture should contain at least one qualifying near-dup pair"


def test_cms_estimate_never_undercounts(spark):
    from logistics_data_pipeline_project_spark.operators.sketch import (
        cms_counters,
        cms_estimate,
    )

    rows = [(f"k{i % 17}",) for i in range(500)] + [("hot",)] * 200
    df = spark.createDataFrame(rows, "key string")
    cnt = df.groupBy("key").agg(F.count(F.lit(1)).alias("exact_cnt"))
    counters = cms_counters(cnt, "key", weight_col="exact_cnt")
    # sketch state is bounded: depth × 16^hex_chars rows max
    assert counters.count() <= 3 * 256
    est = cms_estimate(cnt, counters, "key").collect()
    assert len(est) == 18
    for r in est:
        assert r.cms_est >= r.exact_cnt  # one-sided error, always
    hot = [r for r in est if r.key == "hot"][0]
    assert hot.exact_cnt == 200


def test_bloom_no_false_negatives(spark):
    from logistics_data_pipeline_project_spark.operators.sketch import (
        bloom_bits,
        bloom_might_contain,
    )

    members = spark.createDataFrame([(i,) for i in range(0, 100, 2)], "k long")
    probe = spark.createDataFrame([(i,) for i in range(100)], "k long")
    bits = bloom_bits(members, "k")
    out = bloom_might_contain(probe, bits, "k").collect()
    member_set = set(range(0, 100, 2))
    for r in out:
        if r.k in member_set:
            assert r.bloom_pass, f"false negative on member {r.k}"
    assert len(out) == 100


def test_histogram_sketch_quantiles_and_merge(spark):
    from logistics_data_pipeline_project_spark.operators.sketch import (
        geometric_edges,
        histogram_quantiles,
        histogram_sketch,
        merge_histogram_sketches,
    )

    # deterministic skewed positive values in two groups
    rows = [("a", float(1 + (i * i) % 997)) for i in range(1, 1200)] + [
        ("b", float(10 + (7 * i) % 300)) for i in range(1, 800)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    edges = geometric_edges(1.0, 1024.0, bins_per_octave=4)
    sk = histogram_sketch(df, "v", edges, keys=("g",))
    # sketch state is bounded by groups × bins regardless of row count
    assert sk.count() <= 2 * (len(edges) + 1)
    est = {
        r.g: (r.p50, r.p99)
        for r in histogram_quantiles(
            sk, edges, {"p50": 0.5, "p99": 0.99}, keys=("g",)
        ).collect()
    }
    import statistics

    rel = 2 ** 0.25 - 1  # relative bin width at bpo=4
    for g in ("a", "b"):
        vals = sorted(v for gg, v in rows if gg == g)
        for alias, q in (("p50", 0.5), ("p99", 0.99)):
            exact = vals[min(len(vals) - 1, int(q * len(vals)))]
            got = est[g][0 if alias == "p50" else 1]
            assert abs(got - exact) <= rel * exact + 1.0, (g, alias, got, exact)

    # mergeability: sketch(A) ⊎ sketch(B) == sketch(A ∪ B), exactly
    half_a = df.filter(F.col("g") == "a")
    half_b = df.filter(F.col("g") == "b")
    merged = merge_histogram_sketches(
        histogram_sketch(half_a, "v", edges, keys=("g",)),
        histogram_sketch(half_b, "v", edges, keys=("g",)),
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in sk.collect()}


def test_histogram_sketch_incremental_rollup(spark, tmp_path):
    """The sketch maintains incrementally through plans.incremental:
    `bin` rides as a rollup key, `cnt` as a count measure — two daily
    batches folded into the store equal one full-history sketch."""
    from logistics_data_pipeline_project_spark.operators.sketch import (
        geometric_edges,
        histogram_sketch,
    )
    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_rollup,
        read_rollup,
    )
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    edges = geometric_edges(1.0, 256.0, bins_per_octave=2)

    def batch(day: int, n: int):
        rows = [(day, float(1 + (i * 13) % 200)) for i in range(n)]
        return spark.createDataFrame(rows, "day int, v double")

    full = batch(1, 300).unionByName(batch(2, 500))
    for day_df in (batch(1, 300), batch(2, 500)):
        binned = histogram_sketch(day_df, "v", edges, keys=("day",)).withColumn(
            "day_cursor", F.col("day")
        )
        incremental_rollup(
            store,
            "hist_rollup",
            binned,
            keys=["bin"],
            measures={"cnt": ("cnt", "sum")},
            cursor_col="day_cursor",
        )
    maintained = {
        (r.bin, r.cnt) for r in read_rollup(store, "hist_rollup").collect()
    }
    expected = {
        (r.bin, r.cnt)
        for r in histogram_sketch(full, "v", edges).collect()
    }
    assert maintained == expected


def test_hll_estimate_accuracy_and_merge(spark):
    from logistics_data_pipeline_project_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
        merge_hll_sketches,
    )

    # two groups with known cardinalities (deterministic keys, with dup rows)
    rows = [("a", i % 3000) for i in range(9000)] + [
        ("b", 10_000 + (i % 400)) for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    sk = hll_registers(df, "k", keys=("g",))
    # register file is bounded by groups x m regardless of row count
    assert sk.count() <= 2 * 256
    est = {r.g: r.distinct_est for r in hll_estimate(sk, keys=("g",)).collect()}
    for g, exact in (("a", 3000), ("b", 400)):
        assert abs(est[g] - exact) / exact < 0.15, (g, est[g], exact)

    # duplicate-insensitive: re-delivering a batch changes nothing
    resent = merge_hll_sketches(sk, hll_registers(df.limit(500), "k", keys=("g",)))
    assert {tuple(r) for r in resent.collect()} == {tuple(r) for r in sk.collect()}

    # mergeability: file(A) uplus file(B) == file(A union B), exactly
    a = df.filter(F.col("k") % 2 == 0)
    b = df.filter(F.col("k") % 2 == 1)
    merged = merge_hll_sketches(
        hll_registers(a, "k", keys=("g",)), hll_registers(b, "k", keys=("g",))
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in sk.collect()}


def test_hll_incremental_rollup(spark, tmp_path):
    """Registers maintain incrementally through plans.incremental: `idx`
    rides as a rollup key, `reg` as a MAX measure — two daily batches
    folded into the store equal the full-history register file."""
    from logistics_data_pipeline_project_spark.operators.sketch import (
        hll_registers,
    )
    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_rollup,
        read_rollup,
    )
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    store = TableStore(spark, str(tmp_path / "store"))

    def batch(day: int, lo: int, n: int):
        rows = [(day, lo + i) for i in range(n)]
        return spark.createDataFrame(rows, "day int, user long")

    full = batch(1, 0, 700).unionByName(batch(2, 500, 700))  # overlapping users
    for day_df in (batch(1, 0, 700), batch(2, 500, 700)):
        regs = hll_registers(day_df, "user", keys=("day",)).withColumn(
            "day_cursor", F.col("day")
        )
        incremental_rollup(
            store,
            "hll_rollup",
            regs,
            keys=["idx"],
            measures={"reg": ("reg", "max")},
            cursor_col="day_cursor",
        )
    maintained = {
        (r.idx, r.reg) for r in read_rollup(store, "hll_rollup").collect()
    }
    expected = {(r.idx, r.reg) for r in hll_registers(full, "user").collect()}
    assert maintained == expected


def test_ticket_sample_exact_k_and_stability(spark):
    from logistics_data_pipeline_project_spark.operators.mixing import (
        ticket_sample_k,
    )

    rows = [(f"s{i % 7}", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "source string, doc long")
    out = ticket_sample_k(df, "doc", k=5, strata=("source",))
    per = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {f"s{i}": 5 for i in range(7)}
    # partitioning-invariant: same sample under a different layout
    again = ticket_sample_k(df.repartition(13, "doc"), "doc", k=5, strata=("source",))
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in out.collect()}
    # k larger than the stratum degrades to "keep all"
    small = spark.createDataFrame([("a", 1), ("a", 2)], "source string, doc long")
    assert ticket_sample_k(small, "doc", k=10, strata=("source",)).count() == 2


def test_ticket_sample_weight_proportional(spark):
    """Integer-ticket A-ES: max of w tickets ~ u^(1/w), so top-1
    inclusion is w-proportional. 400 strata of 10 keys where key 0
    holds 8 of 17 tickets -> expected pick rate 8/17 = 0.47; uniform
    would give 0.10."""
    from logistics_data_pipeline_project_spark.operators.mixing import (
        ticket_sample_k,
    )

    rows = [
        (s, s * 100 + j, 8 if j == 0 else 1)
        for s in range(400)
        for j in range(10)
    ]
    df = spark.createDataFrame(rows, "stratum int, doc long, wt int")
    top1 = ticket_sample_k(df, "doc", k=1, strata=("stratum",), weight_col="wt")
    heavy = top1.filter(F.col("doc") % 100 == 0).count()
    rate = heavy / 400
    assert 0.37 < rate < 0.57, rate


def test_kmv_estimate_merge_and_prefilter(spark):
    from logistics_data_pipeline_project_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
        merge_kmv_sketches,
    )

    rows = [("a", i % 5000) for i in range(15000)] + [
        ("b", i % 60) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, k long")
    sk = kmv_sketch(df, "k", k=128, keys=("g",))
    est = {r.g: r.distinct_est for r in kmv_estimate(sk, 128, keys=("g",)).collect()}
    assert abs(est["a"] - 5000) / 5000 < 0.30, est["a"]  # RSE ~ 9% at k=128
    assert est["b"] == 60.0  # below k -> exact

    # merge over an arbitrary slicing == sketch of the union, exactly
    merged = merge_kmv_sketches(
        128,
        kmv_sketch(df.filter(F.col("k") % 2 == 0), "k", k=128, keys=("g",)),
        kmv_sketch(df.filter(F.col("k") % 2 == 1), "k", k=128, keys=("g",)),
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in sk.collect()}

    # generous map-side prefilter keeps the sketch identical for groups
    # meeting the n_lower assumption: k-th of 5000 uniform hashes sits
    # near 128/5000 = 0.026 << 0x4 = 0.25 (group "b" with 60 < k distinct
    # keys is exactly the case the n_lower caveat in the docstring covers)
    big = df.filter(F.col("g") == "a")
    pre = kmv_sketch(big, "k", k=128, keys=("g",), prefilter_hex="4")
    full = kmv_sketch(big, "k", k=128, keys=("g",))
    assert {tuple(r) for r in pre.collect()} == {tuple(r) for r in full.collect()}


def test_kmv_set_estimates_accuracy(spark):
    from logistics_data_pipeline_project_spark.operators.sketch import (
        kmv_set_estimates,
        kmv_sketch,
    )

    # A = 0..3999, B = 2000..5999: union 6000, inter 2000, jaccard 1/3
    rows = [("A", i) for i in range(4000)] + [("B", 2000 + i) for i in range(4000)]
    df = spark.createDataFrame(rows, "s string, k long")
    sk = kmv_sketch(df, "k", k=256, keys=("s",))
    pairs = spark.createDataFrame([("A", "B")], "set_a string, set_b string")
    r = kmv_set_estimates(pairs, sk, "s", k=256).collect()[0]
    assert abs(r.union_est - 6000) / 6000 < 0.25, r.union_est
    assert abs(r.jaccard_est - 1 / 3) < 0.12, r.jaccard_est
    assert abs(r.inter_est - 2000) / 2000 < 0.40, r.inter_est


@pytest.mark.parametrize("n_parts", [1, 2, 5])
def test_fold_partials_matches_one_shot_aggregate(spark, n_parts):
    """Partials of any split fold into the one-shot aggregate for every
    kind, with long and decimal measures keeping their dtypes."""
    from logistics_data_pipeline_project_spark.operators.sketch import fold_partials

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", i * 7 % 11, f"{i * 13 % 17 - 8}.25", f"u{i % 9}") for i in range(60)],
        "id long, g string, x long, d string, u string",
    ).withColumn("d", F.col("d").cast("decimal(10,2)"))
    aggs = {
        "n": (F.count(F.lit(1)), "count"),
        "sx": (F.sum("x"), "sum"),
        "sd": (F.sum("d"), "sum"),
        "lo": (F.min("d"), "min"),
        "hi": (F.max("x"), "max"),
        "users": (F.hll_sketch_agg("u"), "approx_distinct"),
    }

    def partial(frame):
        return frame.groupBy("g").agg(*[c.alias(a) for a, (c, _) in aggs.items()])

    one_shot = partial(df)
    pieces = [partial(df.filter(F.col("id") % n_parts == p)) for p in range(n_parts)]
    folded = fold_partials(pieces, ["g"], {a: kind for a, (_, kind) in aggs.items()})
    assert folded.dtypes == one_shot.dtypes

    def rows(frame):
        est = frame.withColumn("users", F.hll_sketch_estimate("users"))
        return sorted(tuple(r) for r in est.collect())

    assert rows(folded) == rows(one_shot)
    with pytest.raises(ValueError, match="kind must be one of"):
        fold_partials(pieces, ["g"], {"sx": "avg"})


def test_incremental_join_rollup_matches_full_rebuild(spark, tmp_path):
    """Delta-join IVM: folding (dA, dB) batches equals rebuilding the
    join-aggregate from the full history — including the dA x dB pairs
    that must be counted exactly once."""
    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_join_rollup,
    )
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    def builder(a, b):
        return (
            a.join(b, "okey")
            .groupBy("priority")
            .agg(
                F.sum(F.col("amount").cast("decimal(27,2)")).alias("rev"),
                F.count(F.lit(1)).alias("n_lines"),
                F.max("amount").alias("max_amount"),
            )
        )

    store = TableStore(spark, str(tmp_path / "store"))
    a1 = spark.createDataFrame(
        [(1, "HIGH"), (2, "LOW")], "okey long, priority string"
    )
    b1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "okey long, amount double"
    )
    a2 = spark.createDataFrame([(3, "HIGH")], "okey long, priority string")
    # batch 2 adds lines for BOTH old order 2 (pairs with a_prev) and new
    # order 3 (pairs with delta_a through b_full)
    b2 = spark.createDataFrame(
        [(2, 2.0), (3, 20.0)], "okey long, amount double"
    )
    measures = {"rev": "sum", "n_lines": "count", "max_amount": "max"}

    incremental_join_rollup(
        store, "rev_by_priority", builder,
        a_prev=None, delta_a=a1, b_full=b1, delta_b=None,
        keys=["priority"], measures=measures,
    )
    got = incremental_join_rollup(
        store, "rev_by_priority", builder,
        a_prev=a1, delta_a=a2, b_full=b1.unionByName(b2), delta_b=b2,
        keys=["priority"], measures=measures,
    )
    expect = builder(a1.unionByName(a2), b1.unionByName(b2))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expect.collect()}


def test_histogram_sketch_weighted_quantiles(spark):
    """Weighted sketch: quantile walk over DECIMAL weight sums tracks
    the exact weighted percentile, and weighted sketches merge exactly
    (dtype preserved through the merge)."""
    from logistics_data_pipeline_project_spark.operators.sketch import (
        geometric_edges,
        histogram_quantiles,
        histogram_sketch,
        merge_histogram_sketches,
    )

    rows = [("g", float(1 + (i * i) % 500), float(1 + i % 9)) for i in range(1, 900)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    edges = geometric_edges(1.0, 512.0, bins_per_octave=4)
    sk = histogram_sketch(df, "v", edges, keys=("g",), weight_col="w")
    assert dict(sk.dtypes)["cnt"] == "decimal(27,2)"
    got = histogram_quantiles(sk, edges, {"p50": 0.5}, keys=("g",)).collect()[0].p50

    # exact weighted median: smallest v whose cumulative weight >= half
    total = sum(w for _, v, w in rows)
    acc = 0.0
    for _, v, w in sorted(rows, key=lambda r: r[1]):
        acc += w
        if acc >= total / 2:
            exact = v
            break
    rel = 2**0.25 - 1
    assert abs(got - exact) <= rel * exact + 1.0, (got, exact)

    merged = merge_histogram_sketches(
        histogram_sketch(df.filter("v < 100"), "v", edges, keys=("g",), weight_col="w"),
        histogram_sketch(df.filter("v >= 100"), "v", edges, keys=("g",), weight_col="w"),
    )
    assert dict(merged.dtypes)["cnt"] == "decimal(27,2)"
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in sk.collect()}


def test_cms_and_bloom_incremental_rollup(spark, tmp_path):
    """The remaining two sketch families also maintain incrementally:
    CMS counters fold as SUM measures, Bloom bits as a growing distinct
    row-set (dedup via max over a constant) — both equal the full-history
    sketch after two daily batches."""
    from logistics_data_pipeline_project_spark.operators.sketch import (
        bloom_bits,
        cms_counters,
    )
    from logistics_data_pipeline_project_spark.plans.incremental import (
        incremental_rollup,
        read_rollup,
    )
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    store = TableStore(spark, str(tmp_path / "store"))

    def batch(day: int, lo: int, n: int):
        return spark.createDataFrame(
            [(day, lo + (i % 40)) for i in range(n)], "day int, k long"
        )

    full = batch(1, 0, 200).unionByName(batch(2, 25, 150))
    for day_df in (batch(1, 0, 200), batch(2, 25, 150)):
        day = day_df.first().day
        cms = cms_counters(day_df, "k").withColumn("cur", F.lit(day))
        incremental_rollup(
            store, "cms", cms,
            keys=["hash_row", "bucket"],
            measures={"counter": ("counter", "sum")},
            cursor_col="cur",
        )
        bits = bloom_bits(day_df, "k").withColumn("one", F.lit(1)).withColumn(
            "cur", F.lit(day)
        )
        incremental_rollup(
            store, "bloom", bits,
            keys=["hash_row", "bucket"],
            measures={"one": ("one", "max")},
            cursor_col="cur",
        )
    got_cms = {
        (r.hash_row, r.bucket, r.counter)
        for r in read_rollup(store, "cms").collect()
    }
    want_cms = {tuple(r) for r in cms_counters(full, "k").collect()}
    assert got_cms == want_cms
    got_bloom = {
        (r.hash_row, r.bucket) for r in read_rollup(store, "bloom").collect()
    }
    want_bloom = {tuple(r) for r in bloom_bits(full, "k").collect()}
    assert got_bloom == want_bloom


def test_pq_codes_structure(spark, sf_dir):
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import pq_kmeans

    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = pq_kmeans(emb, "vec_id", "embedding", m=4, ksub=8, n_iter=1)
    n = emb.count()
    assert assigned.count() == n * 4  # one code per (vector, subspace)
    assert len(cents) == 4 and all(len(cb) == 8 for cb in cents)
    assert all(len(c) == 16 for cb in cents for c in cb)  # 64/4 dims
    codes = {r["code"] for r in assigned.select("code").distinct().collect()}
    assert codes <= set(range(8))


def test_pq_adc_shortlist_recall_vs_exact(spark, sf_dir):
    """PQ's contract is the shortlist: ADC over 12-bit codes on
    near-random embeddings (PQ's worst case — no cluster structure)
    cannot nail top-10 outright, but a 20%-of-corpus ADC shortlist must
    recover ≥80% of the exact-L2 top-10 for cheap exact re-ranking —
    the standard PQ-then-rerank deployment. Direct top-10 agreement
    must still beat chance (~2%) by a wide margin."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = dbl.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = q.crossJoin(
        dbl.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    ).filter("cand_id != query_id")
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("cand_id"))
    exact = {
        (r.query_id, r.cand_id)
        for r in pairs.withColumn("d", d2)
        .withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 10")
        .collect()
    }
    short = {
        (r.query_id, r.cand_id)
        for r in pq_topk(
            emb, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4], k=100
        ).collect()
    }
    assert len(exact & short) / len(exact) >= 0.8
    direct = {
        (r.query_id, r.cand_id)
        for r in pq_topk(
            emb, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4], k=10
        ).collect()
    }
    assert len(exact & direct) / len(exact) >= 0.1


def test_pq_encode_incremental_equals_full(spark, sf_dir):
    """Frozen-codebook encoding (the incremental-ingest path) must be
    bit-identical whether a batch is encoded alone or as part of the
    full corpus — and must agree with pq_kmeans's own final assignment
    under the same codebooks."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import (
        pq_encode,
        pq_kmeans,
    )

    emb = load(spark, sf_dir, "embeddings")
    trained, cents = pq_kmeans(emb, "vec_id", "embedding", m=4, ksub=8, n_iter=1)

    full = pq_encode(emb, "vec_id", "embedding", cents)
    want = {
        (r["id"], r["s"]): (r["code"], r["sq_err"]) for r in trained.collect()
    }
    got = {(r["id"], r["s"]): (r["code"], r["sq_err"]) for r in full.collect()}
    assert got == want

    # encode two disjoint halves separately: union == full re-encode
    lo = pq_encode(emb.filter("vec_id % 2 = 0"), "vec_id", "embedding", cents)
    hi = pq_encode(emb.filter("vec_id % 2 = 1"), "vec_id", "embedding", cents)
    parts = {
        (r["id"], r["s"]): (r["code"], r["sq_err"])
        for r in lo.unionByName(hi).collect()
    }
    assert parts == got
    # zero-shuffle: encoding is a pure map-side projection
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_ivf_pq_residual_coding_recall(spark, sf_dir):
    """IVFADC: residual-coded PQ inside probed cells. Residuals
    concentrate around the coarse centroid, so direct top-10 agreement
    with exact L2 must beat RAW-vector PQ's (~0.2 here) — and a
    k=50 shortlist (10% of corpus, inside the probed 2/8 cells) must
    recover most of the exact top-10 for the rerank pattern."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import (
        ivf_pq_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    dbl = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = dbl.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = q.crossJoin(
        dbl.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
    ).filter("cand_id != query_id")
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("cand_id"))
    exact = {
        (r.query_id, r.cand_id)
        for r in pairs.withColumn("d", d2)
        .withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 10")
        .collect()
    }
    direct = {
        (r.query_id, r.cand_id)
        for r in ivf_pq_topk(
            emb, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4], k=10
        ).collect()
    }
    assert len(exact & direct) / len(exact) >= 0.25
    short = {
        (r.query_id, r.cand_id)
        for r in ivf_pq_topk(
            emb, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4], k=50
        ).collect()
    }
    assert len(exact & short) / len(exact) >= 0.7


def test_pq_assign_impls_bit_equal(spark, sf_dir):
    """Every round's vectorized Arrow assignment (np.add.accumulate —
    sequential per-dim sums) must reproduce the JVM fold
    (``_sub_dist_structs``, the oracle) on that round's codebooks
    bit-for-bit, same contract as kmeans_cells."""
    from logistics_data_pipeline_project_spark.io_utils import load
    from logistics_data_pipeline_project_spark.operators.similarity import (
        _cents_literal,
        _split_subvectors,
        _sub_dist_structs,
        pq_kmeans,
    )

    emb = load(spark, sf_dir, "embeddings")
    dbl = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    for n_iter in (0, 1, 2):
        got, cb = pq_kmeans(emb, "vec_id", "embedding", n_iter=n_iter)
        subs = _split_subvectors(dbl, "v", len(cb), len(cb[0][0]), ["id"])
        best = F.array_min(_sub_dist_structs(_cents_literal(cb)))
        want = subs.select(
            "id", "s", best["code"].alias("code"), best["d"].alias("sq_err")
        )
        rg = {(r["id"], r["s"]): (r["code"], r["sq_err"]) for r in got.collect()}
        rw = {(r["id"], r["s"]): (r["code"], r["sq_err"]) for r in want.collect()}
        assert rg == rw, n_iter


def test_pq_edge_cases_guarded(spark):
    """Review-hardened edges: empty input returns an empty result (not an
    AnalysisException from a VOID literal), and a vector-width drift
    against frozen codebooks fails loudly instead of encoding a silent
    prefix of the dims."""
    import pytest

    from logistics_data_pipeline_project_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = pq_topk(empty, "vec_id", "embedding", query_ids=[0, 1], k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "cand_id", "adc_sq_dist", "rnk"]

    cb = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]  # m=2, dsub=2
    six = spark.createDataFrame(
        [(1, [0.1] * 6)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="does not match codebooks"):
        pq_encode(six, "vec_id", "embedding", cb)


def _bits(x):
    import numpy as np

    return np.ascontiguousarray(x, dtype=np.float64).view(np.int64)


def test_seq_dot_chunks_budget_invariant():
    """The dot blocks equal the ``np.add.accumulate`` fold bit-for-bit
    whatever the budget: 1-row blocks, several blocks, one block."""
    import numpy as np

    from logistics_data_pipeline_project_spark.operators.similarity import (
        _seq_dot_chunks,
    )

    rng = np.random.default_rng(7)
    a, b = rng.standard_normal((23, 17)), rng.standard_normal((11, 17))
    want = np.add.accumulate(a[:, None, :] * b[None, :, :], axis=2)[:, :, -1]
    for budget, n_blocks in ((1, 23), (16 * 11 * 5, 5), (1 << 30, 1)):
        blocks = list(_seq_dot_chunks(a, b, budget))
        assert len(blocks) == n_blocks
        assert [s for s, _ in blocks] == list(range(0, 23, -(-23 // n_blocks)))
        got = np.concatenate([d for _, d in blocks])
        assert np.array_equal(_bits(got), _bits(want)), budget


def test_arrow_matrix_slices_and_rejects_ragged():
    import numpy as np
    import pyarrow as pa

    from logistics_data_pipeline_project_spark.operators.similarity import (
        _arrow_matrix,
    )

    rows = [[float(i * 3 + d) for d in range(3)] for i in range(6)]
    for typ in (pa.float64(), pa.float32()):
        arr = pa.array(rows, pa.list_(typ)).slice(2, 3)  # offsets[0] != 0
        want = np.stack([np.asarray(r, dtype=np.float64) for r in rows[2:5]])
        got = _arrow_matrix(arr)
        assert got.dtype == np.float64 and np.array_equal(got, want)
        chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(1)])
        assert np.array_equal(_arrow_matrix(chunked), want)
    assert _arrow_matrix(pa.array([], pa.list_(pa.float64()))).shape == (0, 0)
    for bad in ([[1.0, 2.0], [3.0]], [[1.0, 2.0], None]):
        with pytest.raises(ValueError):
            _arrow_matrix(pa.array(bad, pa.list_(pa.float64())))


def test_nearest_matches_accumulate_form_and_ties_low():
    import numpy as np

    from logistics_data_pipeline_project_spark.operators.similarity import _nearest

    rng = np.random.default_rng(11)
    # small integer grids make exact distance ties common
    x = rng.integers(-2, 3, (200, 5)).astype(np.float64)
    C = rng.integers(-2, 3, (9, 5)).astype(np.float64)
    C[4] = C[1]  # a duplicated code: always ties, the lower one must win
    d = np.add.accumulate((x[:, None, :] - C[None, :, :]) ** 2, axis=2)[:, :, -1]
    code, dist = _nearest(x, C)
    assert np.array_equal(code, d.argmin(axis=1))
    assert np.array_equal(_bits(dist), _bits(d.min(axis=1)))
    assert not (code == 4).any()
    ties = (d == d.min(axis=1, keepdims=True)).sum(axis=1) > 1
    assert ties.sum() > 10
    for i in np.nonzero(ties)[0]:
        assert code[i] == np.nonzero(d[i] == d[i].min())[0][0]


def test_grouped_vector_kernels_empty_groups(spark):
    """A 1-row block and a cell whose pairs all fall below the threshold
    give empty results carrying the declared schemas."""
    from logistics_data_pipeline_project_spark.operators.similarity import (
        _cell_threshold_pairs,
        block_nn_pairs_pandas,
    )

    one = spark.createDataFrame(
        [(1, [1.0, 0.0], 5)], "vec_id long, embedding array<float>, label int"
    )
    nn = block_nn_pairs_pandas(one, "vec_id", "embedding", "label")
    assert nn.collect() == []
    assert nn.schema.simpleString() == (
        "struct<id:bigint,nn_id:bigint,block:int,cosine_raw:double>"
    )
    # pairwise orthogonal or opposite: every cosine is 0 or -1
    far = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0), (3, [-1.0, 0.0], 0)],
        "id long, v array<double>, cell int",
    )
    pairs = _cell_threshold_pairs(far, 0.5)
    assert pairs.collect() == []
    assert pairs.schema.simpleString() == (
        "struct<cell:int,id1:bigint,id2:bigint,cosine_raw:double>"
    )


def test_canonicalize_url_semantics(spark):
    from logistics_data_pipeline_project_spark.operators.text import (
        canonicalize_url,
    )

    cases = [
        # (raw, canonical)
        ("https://Ex.COM/Path?b=2&a=1#f", "https://ex.com/Path?a=1&b=2"),
        ("HTTPS://EX.COM:443/p", "https://ex.com/p"),
        ("http://ex.com:80/p?x=1", "http://ex.com/p?x=1"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),  # non-default kept
        ("https://ex.com:80/p", "https://ex.com:80/p"),  # 80 not https default
        # RFC 3986 6.2.3: empty path == "/" — the two spellings must
        # canonicalize identically or the page's fetch history splits
        ("https://ex.com/", "https://ex.com/"),
        ("https://ex.com", "https://ex.com/"),
        ("HTTPS://EX.COM:443", "https://ex.com/"),
        # userinfo is credential noise, never page identity
        ("https://user:pw@ex.com/p?a=1", "https://ex.com/p?a=1"),
        ("https://user@Ex.COM:443/p", "https://ex.com/p"),
        # bracketed IPv6 hosts: port strip is end-anchored, internal
        # colons survive
        ("https://[::1]:8080/p", "https://[::1]:8080/p"),
        ("https://[::1]:443/p", "https://[::1]/p"),
        ("http://[2001:DB8::1]/p?b=2&a=1", "http://[2001:db8::1]/p?a=1&b=2"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)], "i long, u string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_url("u").alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_extract_html_text_semantics(spark):
    from logistics_data_pipeline_project_spark.operators.text import (
        extract_html_text,
    )

    cases = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("<script>ignore me</script>keep", "keep"),
        ("<style>p{}</style>body", "body"),
        ("a<!-- no -->b", "a b"),
        # &amp; decoded LAST: '&amp;lt;' must become the literal '&lt;',
        # never '<' (the double-decode bug)
        ("x &amp;lt; y", "x &lt; y"),
        ("&lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; done",
         "<tag> \"q\" 's' & done"),
        ("  lots   of\tspace  ", "lots of space"),
        ("<script type='x'>a</script><p>b</p><script>c</script>d", "b d"),
        # real crawl HTML: multi-line blocks and upper/mixed tag case —
        # without (?is) the lazy .*? never crosses the newline and the
        # JS/CSS/comment body leaks into the "main text"
        ("<SCRIPT>\nvar x = 1;\nvar y = 2;\n</SCRIPT>kept", "kept"),
        ("<Style media='x'>\np {\n  color: red\n}\n</STYLE>ok", "ok"),
        ("a<!-- line1\nline2\nline3 -->b", "a b"),
        ("<sCrIpT>no</ScRiPt><p>yes</p>", "yes"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", extract_html_text("h").alias("t")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_frequent_window_scrub_semantics(spark):
    """Hand-computed expectation: a 4-token span shared by 3 docs is
    scrubbed (corpus frequency >= min_df), unique prose survives in
    order, short docs pass through untouched, and a doc that is PURE
    boilerplate scrubs to empty."""
    from logistics_data_pipeline_project_spark.operators.text import (
        frequent_window_scrub,
    )

    spam = "click here to unsubscribe"
    rows = [
        (1, f"alpha beta gamma {spam} delta"),
        (2, f"one two {spam} three four"),
        (3, f"{spam}"),
        (4, "totally unique prose nothing shared here"),
        (5, "tiny doc"),  # shorter than the window: no windows, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["kept_text"], r["n_tokens"], r["n_scrubbed"])
        for r in frequent_window_scrub(
            df, "doc_id", "text", window=4, min_df=3
        ).collect()
    }
    assert got[1] == ("alpha beta gamma delta", 8, 4)
    assert got[2] == ("one two three four", 8, 4)
    assert got[3] == ("", 4, 4)  # pure boilerplate -> empty, not a crash
    assert got[4] == ("totally unique prose nothing shared here", 6, 0)
    assert got[5] == ("tiny doc", 2, 0)
    # determinism under repartitioning
    got2 = {
        r["doc_id"]: (r["kept_text"], r["n_tokens"], r["n_scrubbed"])
        for r in frequent_window_scrub(
            df.repartition(7), "doc_id", "text", window=4, min_df=3
        ).collect()
    }
    assert got2 == got


def test_meta_robots_flags_semantics(spark):
    from logistics_data_pipeline_project_spark.operators.text import (
        meta_robots_flags,
    )

    cases = [
        ("<html><body>no tag</body></html>", (False, False)),
        ('<meta name="robots" content="noindex">', (True, False)),
        ("<META NAME='robots' CONTENT='NOFOLLOW'>", (False, True)),
        # content before name; mixed separators
        ("<meta content='noindex,nofollow' name='robots'>", (True, True)),
        ('<meta content="noindex nofollow" name="robots">', (True, True)),
        # 'none' shorthand = both
        ('<meta name="robots" content="none">', (True, True)),
        # explicit allow
        ('<meta name="robots" content="index, follow">', (False, False)),
        # directive-boundary: substrings must not match
        ('<meta name="robots" content="noindexing">', (False, False)),
        ('<meta name="robots" content="nonessential">', (False, False)),
        # body text never counts
        ("<p>please noindex this</p>", (False, False)),
        # multi-line tag, extra attributes
        ('<meta id="x"\n   name="robots"\n   content="noindex">', (True, False)),
        # UNQUOTED attribute values (valid HTML) — both attrs, either order
        ("<meta name=robots content=noindex>", (True, False)),
        ("<meta content=nofollow name=robots>", (False, True)),
        # unquoted + self-closing: '/' is not part of the directive
        ("<meta name=robots content=nofollow/>", (False, True)),
        # unquoted comma list (unquoted values can't contain spaces)
        ("<meta name=robots content=noindex,nofollow>", (True, True)),
        # mixed quoting: quoted name, unquoted content and vice versa
        ('<meta name="robots" content=noindex>', (True, False)),
        ("<meta name=robots content='noindex'>", (True, False)),
        # value containing the OTHER quote char before the directive —
        # a same-class terminator would truncate and lose the directive
        ('<meta name="robots" content="it\'s fine, noindex">', (True, False)),
        ("<meta name='robots' content='say \"no\", nofollow'>", (False, True)),
        # unquoted name must not prefix-match a longer attribute value
        ("<meta name=robotsxyz content=noindex>", (False, False)),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, h string"
    )
    got = {
        r["i"]: (r["f"]["noindex"], r["f"]["nofollow"])
        for r in df.select("i", meta_robots_flags("h").alias("f")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_meta_robots_directives_sql_matches_spark():
    """The DuckDB twin (meta_robots_directives_sql) extracts the same
    directive string the Spark regexes do, over every unit case above —
    the cross-engine guarantee q239's oracle leans on."""
    import duckdb

    from logistics_data_pipeline_project_spark.operators.text import (
        _META_ROBOTS_PATTERNS,
        meta_robots_directives_sql,
    )
    import re

    cases = [
        "<html><body>no tag</body></html>",
        '<meta name="robots" content="noindex">',
        "<META NAME='robots' CONTENT='NOFOLLOW'>",
        "<meta content='noindex,nofollow' name='robots'>",
        "<meta name=robots content=noindex>",
        "<meta content=nofollow name=robots>",
        "<meta name=robots content=nofollow/>",
        '<meta name="robots" content="it\'s fine, noindex">',
        "<meta name='robots' content='say \"no\", nofollow'>",
        "<meta name=robotsxyz content=noindex>",
        '<meta id="x"\n   name="robots"\n   content="noindex">',
    ]

    def py_extract(h: str) -> str:
        for p in _META_ROBOTS_PATTERNS:
            m = re.search(p.replace("(?is)", ""), h, re.I | re.S)
            if m and m.group(1):
                return m.group(1).lower()
        return ""

    con = duckdb.connect()
    for h in cases:
        lit = "'" + h.replace("'", "''") + "'"
        (got,) = con.execute(
            "SELECT " + meta_robots_directives_sql(lit)
        ).fetchone()
        assert got == py_extract(h), (h, got, py_extract(h))
    con.close()


def test_tracked_checkpoint_concurrent_attribution(spark):
    """Regression for the checkpoint-attribution race (round-5 ADVICE #2
    fix, operators/checkpoints.py:42): the pinned-id bookkeeping diffs
    the JVM-GLOBAL persistent-RDD registry, so two concurrent
    checkpointers without the module lock could each capture the
    OTHER's ids and later free blocks a live truncated lineage depends
    on (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next action).  Drives
    4 threads x 4 rounds of tracked_local_checkpoint through one
    barrier-aligned burst and asserts (a) every attribution is
    non-empty, (b) no RDD id is attributed to two threads, and (c)
    after freeing EVERY other thread's ids, each surviving thread's
    checkpointed frames still act correctly — the exact failure mode
    the lock exists to prevent."""
    import threading

    from logistics_data_pipeline_project_spark.operators.checkpoints import (
        free_checkpoints,
        tracked_local_checkpoint,
    )

    n_threads, n_rounds = 4, 4
    results: dict[int, list] = {t: [] for t in range(n_threads)}
    errors: list[BaseException] = []
    barrier = threading.Barrier(n_threads)

    def work(t: int) -> None:
        try:
            barrier.wait(timeout=60)
            for r in range(n_rounds):
                df = spark.range(1000).selectExpr(
                    "id", f"id * {t + 2} + {r} as v"
                )
                ck, ids = tracked_local_checkpoint(df)
                results[t].append((ck, ids))
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [
        threading.Thread(target=work, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors

    # (a) eager checkpoints always pin blocks -> non-empty attribution
    for t in range(n_threads):
        assert len(results[t]) == n_rounds
        for _, ids in results[t]:
            assert ids, f"thread {t} got an empty attribution"
    # (b) exact attribution: no id claimed by two checkpoint calls
    flat = [i for t in results for _, ids in results[t] for i in ids]
    assert len(flat) == len(set(flat)), "ids attributed to multiple threads"

    # (c) free everything thread 0 pinned; threads 1..3's frames must
    # still be actionable (mis-attribution would have put THEIR block
    # ids in thread 0's lists and this collect would raise)
    free_checkpoints(spark, [i for _, ids in results[0] for i in ids])
    for t in range(1, n_threads):
        for r, (ck, _) in enumerate(results[t]):
            got = ck.agg(F.sum("v")).collect()[0][0]
            assert got == sum(i * (t + 2) + r for i in range(1000))
    # cleanup: drop the remaining pins so later tests see a clean slate
    free_checkpoints(
        spark,
        [i for t in range(1, n_threads) for _, ids in results[t] for i in ids],
    )


def test_store_concurrent_self_read_overwrites(spark, tmp_path):
    """Two concurrent self-read overwrites of two tables (the
    two-streaming-query shape): both writes must land their own data
    and pin nothing — no leftover persistent RDDs."""
    import threading

    from logistics_data_pipeline_project_spark.plans.materialize import TableStore

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    store = TableStore(spark, str(tmp_path))
    store.overwrite("a", spark.range(100).selectExpr("id", "id * 2 as v"))
    store.overwrite("b", spark.range(100).selectExpr("id", "id * 3 as v"))
    base = n_persistent()
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []

    def bump(table: str) -> None:
        try:
            barrier.wait(timeout=60)
            store.overwrite(table, store.read(table).withColumn("v", F.col("v") + 1))
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [
        threading.Thread(target=bump, args=(t,)) for t in ("a", "b")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    assert n_persistent() == base, "a concurrent write left a pin"
    assert store.read("a").agg(F.sum("v")).collect()[0][0] == sum(
        2 * i + 1 for i in range(100)
    )
    assert store.read("b").agg(F.sum("v")).collect()[0][0] == sum(
        3 * i + 1 for i in range(100)
    )


def test_normalize_unicode_casefold_semantics(spark):
    """NFKC+casefold dedup keys (q241's operator): FULL case folding
    merges what lowercasing cannot (sharp s, final sigma), NFKC folds
    compatibility variants (fullwidth, ligatures), the fold
    re-normalizes to stay canonical (U+0130 decomposes under folding),
    and the whole projection is idempotent."""
    from logistics_data_pipeline_project_spark.operators.text import (
        normalize_unicode,
    )

    rows = [
        (1, "STRASSE"),
        (2, "straße"),          # full folding: ß -> ss
        (3, "ΟΔΟΣ"),
        (4, "οδοσ"),            # non-final σ spelling...
        (5, "οδος"),       # ...merges with the final-sigma ς spelling
        (6, "Ｆｕｌｌ"),        # fullwidth -> ascii under NFKC
        (7, "ﬁx"),              # U+FB01 ligature -> 'fi'
        (8, "FIX"),
        (9, "İstanbul"),   # İ folds to i + U+0307 (recomposed NFKC)
        (10, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = normalize_unicode(df, "text", out_col="k", form="NFKC",
                            casefold=True)
    got = {r["doc_id"]: r["k"] for r in out.collect()}
    assert got[1] == got[2] == "strasse"
    assert got[3] == got[4] == got[5] == "οδοσ"
    assert got[6] == "full"
    assert got[7] == got[8] == "fix"
    import unicodedata
    assert got[9] == unicodedata.normalize("NFKC", "i̇stanbul")
    assert got[10] is None
    # idempotent: folding the folded key is a no-op
    again = normalize_unicode(out, "k", out_col="k2", form="NFKC",
                              casefold=True)
    assert all(r["k"] == r["k2"] for r in again.collect() if r["k"])


def test_parse_robots_txt_group_semantics():
    """RFC 9309 grouping: consecutive User-agent lines share a group;
    a bot-specific group EXCLUDES the * group (merging them is the
    classic crawler bug — template A's * group disallows everything);
    comments/unknown fields ignored; empty Disallow is a no-op."""
    from logistics_data_pipeline_project_spark.operators.text import (
        _robots_like,
        parse_robots_txt,
    )

    a = (
        "# policy\n"
        "User-agent: ldp-bot\n"
        "Disallow: /private/*\n"
        "Allow: /private/ok$\n"
        "Crawl-delay: 2\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    )
    assert parse_robots_txt(a, "ldp-bot") == [
        (False, "/private/*"), (True, "/private/ok$"),
    ]
    assert parse_robots_txt(a, "LDP-Bot") == parse_robots_txt(a, "ldp-bot")
    assert parse_robots_txt(a, "otherbot") == [(False, "/")]
    b = "User-Agent: A\nUser-agent: B\nDisallow:\nDISALLOW: /x\n"
    assert parse_robots_txt(b, "b") == [(False, "/x")]
    assert parse_robots_txt(b, "c") == []
    assert parse_robots_txt("", "any") == []
    # LIKE translation: wildcard, anchor, escape
    assert _robots_like("/private/*") == "/private/%"
    assert _robots_like("/private/ok$") == "/private/ok"
    assert _robots_like("/a%b_c!d") == "/a!%b!_c!!d%"
    # ADVICE r6: a rule ending in a LITERAL '%' (percent-encoded path)
    # escapes to '...!%' — that trailing '%' is escaped, so the
    # implicit prefix wildcard must STILL append (the bug end-anchored
    # it and '/a%' stopped matching '/a%25foo')
    assert _robots_like("/a%") == "/a!%%"
    # '*' after a literal '!' reads as escaped-'%' to the endswith
    # test; the redundant append is harmless (LIKE '%%' == '%')
    assert _robots_like("/a!*") == "/a!!%%"


def test_robots_gate_longest_match(spark):
    """The q245 operator end-to-end on handpicked pages: longest match
    wins, Allow beats Disallow on equal length, '$' anchors exactly,
    unknown domains default to allowed."""
    from logistics_data_pipeline_project_spark.operators.text import (
        robots_gate,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: ldp-bot\nDisallow: /private/*\n"
                "Allow: /private/ok$\n\nUser-agent: *\nDisallow: /\n",
            ),
            ("b.com", "User-agent: *\nDisallow: /tmp\nAllow: /tmp/keep*\n"),
            # equal-length tie: Allow wins
            ("c.com", "User-agent: *\nDisallow: /abc\nAllow: /abd\n"),
        ],
        "domain string, robots_txt string",
    )
    rules = robots_rules(robots, "domain", "robots_txt", user_agent="ldp-bot")
    pages = spark.createDataFrame(
        [
            (1, "http://a.com/index.html"),
            (2, "http://a.com/private/page1"),
            (3, "http://a.com/private/ok"),
            (4, "http://a.com/private/okay"),
            (5, "http://b.com/tmp/file"),
            (6, "http://b.com/tmp/keep/x"),
            (7, "http://norobots.com/anything"),
            (8, "http://A.COM/private/page1"),  # host case-folds
            (9, "http://a.com"),  # empty path -> '/'
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_gate(pages, rules, "id", "url").collect()
    }
    assert got == {
        1: True, 2: False, 3: True, 4: False, 5: False,
        6: True, 7: True, 8: False, 9: True,
    }
