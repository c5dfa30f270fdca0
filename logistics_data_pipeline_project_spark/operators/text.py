"""Text-analysis operators for training-data pipelines (BASELINE.json
north star): token stats, quality scoring, language-ID heuristic, document
fingerprinting. All pure Column expressions — JVM-side, codegen-friendly,
no Python UDFs.

The reference's only text stage is the pandas ticket classifier
(dags/4_logistics_ticket_classifier_full_dag.py:32-78, U1); its scalable
counterpart lives in ``ml_text.py`` as a pandas_udf. Everything here is
the deterministic, SQL-expressible analysis layer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .scale import fan_out


def sliding_concat_sql(arr: str, start: str, n: int, sep: str = " ") -> str:
    """SQL text for the ``n``-element window of ``arr`` starting at the
    0-BASED index expression ``start``, joined by ``sep`` — the
    GetArrayItem form of ``concat_ws(sep, slice(arr, start+1, n))``.

    Higher-order-function lambdas run INTERPRETED (no whole-stage
    codegen), and ``slice`` allocates a fresh n-element array per window
    before ``concat_ws`` walks it; direct element access skips both.
    Measured 3× less stage CPU on the sf0.1 shingle explode (guide §1.2
    step 2 — per-task work).  Byte-identical output for arrays without
    NULL elements (``split`` never yields them), which every caller
    guarantees."""
    if n == 1:
        return f"{arr}[{start}]"
    parts: list[str] = []
    for j in range(n):
        if j:
            parts.append(f"'{sep}'")
        parts.append(f"{arr}[{start}]" if j == 0 else f"{arr}[{start} + {j}]")
    return "concat(" + ", ".join(parts) + ")"


__all__ = [
    "sliding_concat_sql",
    "tokens",
    "top_ngram_repetition",
    "token_count",
    "bpe_ish_tokens",
    "BPE_ISH_RE",
    "unique_token_ratio",
    "stopword_ratio",
    "quality_score",
    "language_scores",
    "language_id",
    "min_window_fingerprint",
    "chunk_documents",
    "normalize_text",
    "canonicalize_url",
    "extract_html_text",
    "frequent_window_scrub",
    "normalize_unicode",
    "meta_robots_flags",
    "parse_robots_txt",
    "robots_rules",
    "robots_gate",
    "STOPWORDS_EN",
    "LANG_MARKERS",
]

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")

#: tiny marker-word lists per language for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "est", "les"),
    "zh": ("的", "是", "了", "在", "和"),
}


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), " ")


#: GPT-2-style pre-tokenizer regex, restricted to constructs whose
#: semantics are identical across Java regex (Spark) and RE2 (DuckDB):
#: contractions, space-prefixed letter runs, space-prefixed digit runs,
#: space-prefixed punctuation runs, residual space runs. ASCII-only on
#: purpose — the portable subset every engine agrees on.
BPE_ISH_RE = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ']+| +"


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-style pre-tokenization (the unit a byte-pair encoder would
    merge over) as a pure column expression — the realistic token-count
    proxy for LLM corpus accounting, next to the whitespace `tokens`."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_RE), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def top_ngram_repetition(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style repetition signal: the most frequent word ``n``-gram
    per document and the fraction of the document's characters it covers
    (count × gram length / text length; overlapping occurrences each
    count, so heavily templated text scores > typical prose).

    The canonical "repetitious document" filter from the Gopher/MassiveText
    quality rules (Rae et al. 2021, §A1.1), next to q28's lexical-diversity
    and stopword heuristics.

    Dataflow: explode n-grams (all occurrences — unlike
    ``dedup.word_shingles`` there is no distinct, frequency is the point)
    → count per (doc, gram) with map-side partials → per-doc argmax via a
    row_number window; the window re-shuffles only the already-collapsed
    (doc, gram, cnt) rows, never the raw gram stream. Ties break on the
    lexicographically smallest gram, so the winner is engine-independent.
    Documents with fewer than ``n`` tokens produce no row.

    Returns (id, gram, cnt, char_frac); char_frac rounded to 4 places
    (all-integer ratio → identical on any engine).
    """
    base = fan_out(df).select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__len"),
        tokens(text_col).alias("__t"),
    ).filter(F.size("__t") >= n)
    grams = base.select(
        F.col(id_col),
        F.col("__len"),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(__t)-{n}),"
                f" i -> {sliding_concat_sql('__t', 'i', n)})"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy(id_col, "__len", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            "gram",
            "cnt",
            F.round(
                (F.col("cnt") * F.length("gram")).cast("double") / F.col("__len"), 4
            )
            .cast("double")
            .alias("char_frac"),
        )
    )


def unique_token_ratio(toks_col: str = "__toks") -> Column:
    """distinct tokens / total tokens (1.0 = no repetition)."""
    return F.round(
        F.size(F.array_distinct(F.col(toks_col))).cast("double")
        / F.size(F.col(toks_col)),
        4,
    ).cast("double")


def stopword_ratio(toks_col: str = "__toks", stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    arr = "array(" + ",".join(f"'{w}'" for w in stopwords) + ")"
    hits = F.expr(f"size(filter({toks_col}, x -> array_contains({arr}, x)))")
    return F.round(hits.cast("double") / F.size(F.col(toks_col)), 4).cast("double")


def quality_score(uniq_ratio: Column, stop_ratio: Column) -> Column:
    """Composite [0,1] quality heuristic: reward lexical diversity, light
    stopword presence (some is natural; too many = boilerplate)."""
    return F.round(
        F.lit(0.6) * uniq_ratio + F.lit(0.4) * (F.lit(1.0) - stop_ratio), 4
    ).cast("double")


def language_scores(toks_col: str = "__toks") -> dict[str, Column]:
    """Marker-hit count per language (with multiplicity)."""
    out = {}
    for lang, words in LANG_MARKERS.items():
        arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
        out[lang] = F.expr(f"size(filter({toks_col}, x -> array_contains({arr}, x)))")
    return out


def language_id(toks_col: str = "__toks") -> Column:
    """Deterministic argmax over language marker scores; fixed precedence
    order (en, es, de, fr, zh) breaks ties."""
    s = language_scores(toks_col)
    return (
        F.when(s["en"] >= F.greatest(s["es"], s["de"], s["fr"], s["zh"]), "en")
        .when(s["es"] >= F.greatest(s["de"], s["fr"], s["zh"]), "es")
        .when(s["de"] >= F.greatest(s["fr"], s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )


def min_window_fingerprint(text_col: str, toks_col: str = "__toks", n: int = 5) -> Column:
    """Winnowing-style rolling fingerprint: md5 each word n-gram window,
    keep the lexicographic minimum. Documents shorter than n tokens fall
    back to md5(full text). Content-defined → robust to reordering of
    surrounding text; used for near-dup clustering by fingerprint."""
    sh_hashes = F.expr(
        f"transform(sequence(0, size({toks_col})-{n}),"
        f" i -> md5({sliding_concat_sql(toks_col, 'i', n)}))"
    )
    return F.when(F.size(F.col(toks_col)) >= n, F.array_min(sh_hashes)).otherwise(
        F.md5(F.col(text_col))
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window document chunking — the context-preparation step of
    RAG / long-document training pipelines: cut each document into
    ``chunk_tokens``-token windows advancing by ``chunk_tokens -
    overlap`` (so consecutive chunks share ``overlap`` tokens and no
    token is lost; the final chunk may be short).

    Whitespace tokens; chunk i (0-based) covers token positions
    ``i*stride+1 .. i*stride+chunk_tokens``, generated for every start
    position ≤ the document's token count. Output: ``(id_col, chunk_id,
    start_tok, chunk_len, chunk_text)``.

    Entirely ``sequence``/``slice``/``array_join`` codegen — the token
    array is built once per row and every chunk is a slice of it, so the
    fan-out is map-side (no shuffle at all) and chunk rows stream
    straight into whatever sink or embedding stage follows. ``fan_out``
    widens the stage first: chunking multiplies work per row, while scan
    parallelism follows bytes."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    t = fan_out(df).select(
        id_col, F.split(F.col(text_col), " ").alias("__toks")
    )
    n = F.size("__toks")
    return (
        t.withColumn("__n", n)
        .select(
            id_col,
            "__toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.col("__n") - F.lit(1)) / F.lit(stride)).cast(
                        "int"
                    ),
                )
            ).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride + 1).alias("start_tok"),
            F.least(
                F.lit(chunk_tokens),
                F.size("__toks") - F.col("chunk_id") * stride,
            ).alias("chunk_len"),
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    F.col("chunk_id") * stride + 1,
                    F.lit(chunk_tokens),
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def normalize_text(text: Column | str) -> Column:
    """Canonical text form for dedup/fingerprinting: lowercase, control
    characters stripped, whitespace runs collapsed to single spaces,
    ends trimmed. Dedup pipelines hash the NORMALIZED form — otherwise
    trivial case/whitespace variants defeat exact dedup and inflate
    near-dup candidate sets. Pure codegen regexp chain; patterns are
    Java-regex/RE2-shared (no lookaround), linear-time on adversarial
    input like the PII patterns."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    c = F.regexp_replace(c, "[\\x00-\\x1f\\x7f]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def compression_ratio(
    df, id_col: str, text_col: str, level: int = 6
):
    """Per-document zlib compression ratio via Arrow-batched
    ``mapInPandas``: (id, n_bytes, n_compressed, ratio_x1000) with
    ratio_x1000 = n_compressed * 1000 DIV n_bytes.

    Compressibility is the classic entropy proxy of web-corpus quality
    filters (boilerplate and repetition compress far below prose):
    low-ratio docs are near-duplicative/templated, suspiciously high
    ratios are noise/random bytes. DEFLATE at a fixed level is
    deterministic for a given zlib build, so the scores are stable
    across partitionings and reruns — but no SQL engine exposes zlib,
    so the catalog query carries a rows-only driver check with its
    aggregate structure pinned by unit tests instead (the engine's
    documented exception class, like q066's approx sketches).

    Python crossing is Arrow-batched and per-batch vectorized in the
    only way compression can be (one C call per doc) — this is the
    same honest boundary as the multimodal codecs, not a row-at-a-time
    Python UDF in a hot relational path.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].tolist()
            out = []
            for i, t in zip(ids, texts):
                raw = (t or "").encode("utf-8")
                comp = len(zlib.compress(raw, level)) if raw else 0
                out.append(
                    {
                        "id": int(i),
                        "n_bytes": len(raw),
                        "n_compressed": comp,
                        "ratio_x1000": (comp * 1000) // len(raw) if raw else 0,
                    }
                )
            yield pd.DataFrame(
                out, columns=["id", "n_bytes", "n_compressed", "ratio_x1000"]
            )

    cols = df.select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
    return cols.mapInPandas(
        score, schema="id long, n_bytes long, n_compressed long, ratio_x1000 long"
    )


def word_bigrams(df, text_col: str, extra_cols: tuple = ()):
    """Adjacent word pairs per row: (extra_cols..., w1, w2), lowercase
    split-on-space tokens.  Rows with < 2 non-empty tokens produce no
    pairs — the filter also guards the slice against the NEGATIVE
    length a 0-token document would produce (Spark's slice() rejects
    it at runtime; the SQL oracles' generate_series(1, -1) is simply
    empty). Shared by the bigram-LM (q158), PMI (q159), and TextRank
    (q163) pipelines so the guard lives in one place."""
    t = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    return (
        df.select(*extra_cols, t.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(
            *extra_cols,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(__t, 1, size(__t) - 1)").alias("w1"),
                    F.expr("slice(__t, 2, size(__t) - 1)").alias("w2"),
                )
            ).alias("__b"),
        )
        .select(
            *extra_cols,
            F.col("__b.w1").alias("w1"),
            F.col("__b.w2").alias("w2"),
        )
    )


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of an http(s) URL as ONE codegen column expression —
    the normalization every crawl dedup runs before hashing (a page is
    fetched under dozens of spellings; hashing raw URLs splits its
    fetch/dedup history): scheme and host lowercase, default port
    stripped (:80 http / :443 https), fragment dropped, query parameters
    sorted bytewise ('&'-split — the standard order-insensitive key),
    path preserved case-sensitively per RFC 3986. Pure
    regexp/split/sort built-ins, so the canonical key is engine-portable
    and DuckDB-replayable. Scale shape: zero shuffles — a projection
    inside the scan; the dedup it feeds shuffles only the canonical
    string."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # authority = everything between :// and the first / ? #; userinfo
    # ("user:pw@") is fetch-credential noise, never page identity — strip
    # it before the host/port split (an unencoded '@' is illegal in the
    # host, so the first '@' ends the userinfo)
    authority = F.regexp_extract(u, r"^[^:]+://([^/?#]+)", 1)
    hostport = F.lower(F.regexp_replace(authority, r"^[^@/]*@", ""))
    # the port is the trailing ":digits" ONLY — an end-anchored strip, so
    # a bracketed IPv6 host ("[::1]" / "[2001:db8::1]:8080") keeps its
    # internal colons intact instead of being cut at the first one
    host = F.regexp_replace(hostport, r":(\d+)$", "")
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    raw_path = F.regexp_extract(u, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    # RFC 3986 6.2.3: an empty path and "/" are the same resource for
    # http(s) — coalesce so "https://a.com" and "https://a.com/" dedup
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def extract_html_text(html: Column | str) -> Column:
    """Main-text extraction from HTML markup as ONE codegen expression —
    the step every web-crawl pipeline runs before any quality/dedup
    stage (the trafilatura-lite core): script and style blocks removed
    whole (their text is code, not prose), comments removed, every
    remaining tag stripped, the five standard entities decoded
    (&lt; &gt; &quot; &#39; first, &amp; LAST — decoding &amp; earlier
    would re-activate entity prefixes it guards, the classic
    double-decode bug), whitespace collapsed and trimmed.  Pure
    regexp_replace chain restricted to the portable subset (lazy
    quantifiers + inline ``(?is)`` flags — RE2 and Java agree on both),
    so the extraction is DuckDB-replayable.  The block patterns carry
    ``(?is)``: real crawl script/style/comment blocks span MANY lines
    and arrive in any tag case (``<SCRIPT>``), and without dotall the
    lazy ``.*?`` never crosses a newline, so the block body would leak
    into the "main text" and contaminate every downstream quality/dedup
    stage.  Scale shape: zero shuffles — a projection inside the
    scan."""
    c = F.col(html) if isinstance(html, str) else html
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last, so freed prefixes don't re-decode
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _token_windows(text, n: int):
    """Every consecutive ``n``-token window of ``split(text, ' ')`` over an
    Arrow string array, in row then start order: ``(doc_rep, start,
    spans)`` — each window's row index, its first token's index within
    the row (int32) and its tokens joined by ``' '``.  Rows with fewer
    than ``n`` tokens, and NULL rows, give none.  ``split_pattern``
    matches Spark's ``split(s, ' ')`` exactly, empties and trailing
    included (pinned by tests)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    toks = pc.split_pattern(text, " ")
    if isinstance(toks, pa.ChunkedArray):  # defensive
        toks = toks.combine_chunks()
    offsets = toks.offsets.to_numpy(zero_copy_only=False)
    lens = np.diff(offsets)
    valid = pc.is_valid(toks).to_numpy(zero_copy_only=False)
    counts = np.where(valid & (lens >= n), lens - n + 1, 0)
    doc_rep = np.repeat(np.arange(len(counts)), counts)
    run_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    start = (np.arange(len(doc_rep)) - run_starts[doc_rep]).astype(np.int32)
    base = offsets[doc_rep] + start
    flat = toks.values
    if n == 1:
        return doc_rep, start, flat.take(pa.array(base))
    cols = [flat.take(pa.array(base + k)) for k in range(n)]
    return doc_rep, start, pc.binary_join_element_wise(*cols, " ")


def _window_hash_rows_arrow(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, start, wh) rows: md5 of every consecutive ``window``-token
    slice of ``split(text, ' ')``, one row per start position, docs with
    fewer than ``window`` tokens skipped — the Arrow twin of the
    interpreted ``explode(transform(sequence(...), i -> struct(i,
    md5(concat(...)))))`` projection (bit-identical output, ~10x less
    stage CPU; see frequent_window_scrub)."""
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col), F.col(text_col))

    def gen(batches):
        from hashlib import md5

        import pyarrow as pa

        for batch in batches:
            doc_rep, start, spans = _token_windows(batch.column(1), window)
            # spans are never null (built from non-null token takes);
            # md5 over the utf-8 bytes == Spark's md5(string) hex
            hashes = pa.array(
                [md5(s.encode()).hexdigest() for s in spans.to_pylist()],
                pa.string(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(doc_rep)), pa.array(start), hashes],
                names=["__id", "start", "wh"],
            )

    return src.mapInArrow(
        gen, schema=f"`__id` {id_type}, start int, wh string"
    )


def char_ngram_count_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-document char-``n``-gram counts as (id, __g, __cnt) rows —
    the Arrow twin of ``explode(transform(sequence(1, length - n + 1),
    i -> substring(text, i, n)))`` followed by a per-doc count.  Python
    string slicing is codepoint-based exactly like Spark's
    ``substring`` (pinned by tests on non-ASCII), so gram strings are
    byte-identical; Counter just pre-reduces the per-occurrence stream
    the interpreted HOF used to emit row by row.  Docs shorter than
    ``n`` codepoints (or NULL) emit nothing — same convention as the
    callers' length filter.  Callers re-aggregate by (id, __g) so
    duplicate ids in the input stay correct."""
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col), F.col(text_col))

    def gen(batches):
        from collections import Counter

        import pyarrow as pa

        names = [id_col, "__g", "__cnt"]
        for batch in batches:
            id_arr = batch.column(0)
            out_ids: list = []
            out_g: list = []
            out_c: list = []
            for i, s in zip(id_arr.to_pylist(), batch.column(1).to_pylist()):
                if s is None or len(s) < n:
                    continue
                c = Counter(s[j : j + n] for j in range(len(s) - n + 1))
                out_ids.extend([i] * len(c))
                out_g.extend(c.keys())
                out_c.extend(c.values())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, id_arr.type),
                    pa.array(out_g, pa.string()),
                    pa.array(out_c, pa.int64()),
                ],
                names=names,
            )

    return src.mapInArrow(
        gen, schema=f"`{id_col}` {id_type}, __g string, __cnt long"
    )


def frequent_window_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_df: int = 3,
) -> DataFrame:
    """Cross-document repeated-span SCRUB — the generalization of
    line-level dedup (CCNet/RefinedWeb) and of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" exact
    substring dedup: any ``window``-token span that occurs in at least
    ``min_df`` DISTINCT documents is boilerplate/spam by definition
    (navigation chrome, cookie banners, SEO footers arrive verbatim on
    thousands of pages), and every token covered by any such span is
    removed; what survives is the document's unique prose.  Returns
    (id, kept_text, n_tokens, n_scrubbed).

    Dataflow (all DataFrame ops, DuckDB-replayable):
      1. windows: per doc, md5 of each consecutive ``window``-token
         slice — one generate+transform projection, rows explode inside
         the engine, never the driver;
      2. document frequency per window hash (count DISTINCT doc) — one
         shuffle of (16-byte hash, id);
      3. frequent-window occurrences mark their covered token POSITIONS
         (explode of a ``window``-long sequence per hit — hits are the
         rare case by construction);
      4. tokens left-anti join covered positions, reassemble with
         sort_array(collect_list(struct(pos, token))) per doc.
    Scale shape: two hash shuffles (window hash, then doc id); the
    reassembly state is bounded by document length; nothing is
    all-pairs — the span "join" between documents happens through the
    window-hash aggregate, exactly like MinHash bands."""
    if window < 2:
        raise ValueError("window must be >= 2")
    if min_df < 2:
        raise ValueError("min_df must be >= 2 (1 would scrub everything)")
    from .scale import fan_out

    # The window-hash projection below multiplies work per row ~|tokens|
    # fold (an md5 over a `window`-token slice PER TOKEN) while the raw
    # rows are byte-small — a one-file scan arrives as ONE task and
    # serializes it (profiled at sf0.1: a single-task 1.1 s stage).
    # Widen before exploding; a no-op when the scan is already wide.
    src = fan_out(df)
    toks = src.select(
        F.col(id_col).alias("__id"),
        F.split(F.col(text_col), " ").alias("__t"),
    )
    # Window hashes via ONE mapInArrow pass (r11): the round-10 form — an
    # interpreted transform() building struct(start, md5(concat(...))) per
    # token position — was the query's dominant CPU (HOF lambdas run
    # without codegen and pay per-task interpreter setup).  The twin
    # builds the same window strings with vectorized Arrow kernels
    # (split_pattern matches Spark's split(s, ' ') exactly — pinned by
    # the word_shingles twin tests) and hashes with hashlib.md5 (same
    # lowercase-hex digest as Spark's md5).  The text is NOT lowercased
    # here, so no locale-sensitivity caveat applies; output rows and
    # order are identical to the explode form (asserted in tests).
    wins = _window_hash_rows_arrow(src, id_col, text_col, window)
    # `wins` (the per-token window-hash explode — the dominant cost)
    # feeds BOTH the document-frequency aggregate and the covered-join
    # probe; without a checkpoint Spark evaluates the explode twice.
    # Lazy localCheckpoint materializes it once on first action and both
    # consumers read the cached blocks (same discipline as the q175
    # component subtree — measured 2.3x there at 20x data).
    wins = wins.localCheckpoint(eager=False)
    freq = (
        wins.groupBy("wh")
        .agg(F.count_distinct("__id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("wh")
    )
    # Per-doc frequent-window START positions (hits are the RARE case
    # by construction — min_df boilerplate only), then the whole scrub
    # is row-local array arithmetic on the already-split token array.
    # The previous shape re-exploded every token (posexplode), exploded
    # + distinct'd covered positions, LEFT-ANTI-joined the two streams
    # and re-assembled docs with a sort aggregate — four extra
    # token-stream shuffles that this projection replaces outright
    # (guide §2.4; reassembly state was already bounded by doc length,
    # so the array form holds at any scale).
    hits = (
        wins.join(freq, "wh")
        .groupBy("__id")
        .agg(F.collect_set("start").alias("__starts"))
    )
    joined = toks.join(hits, "__id", "left")
    # Sorted starts fold into DISJOINT covered intervals [s, s+window-1]
    # (merge when the next start falls inside the running interval), so
    # the scrub is O(|hits|) interval work + one gap-slice copy of the
    # survivors — never a per-token membership probe (the first array
    # form of this rewrite paid O(tokens·covered) interpreted-HOF
    # compares and tripled the query's executor CPU).
    ivs = F.expr(
        f"""aggregate(
  array_sort(coalesce(__starts, cast(array() as array<int>))),
  cast(array() as array<struct<s: int, e: int>>),
  (acc, x) -> IF(size(acc) > 0 AND x <= element_at(acc, -1).e,
    concat(slice(acc, 1, size(acc) - 1),
           array(named_struct('s', element_at(acc, -1).s,
                              'e', x + {window - 1}))),
    concat(acc, array(named_struct('s', x, 'e', x + {window - 1})))))"""
    )
    # survivors = the gaps between covered intervals, in order: gap g
    # spans [prev_e+1, next_s-1] with sentinels -1 / size(__t)
    kept = F.expr(
        """flatten(transform(sequence(0, size(__iv)),
  g -> slice(__t,
             IF(g = 0, 0, __iv[g - 1].e + 1) + 1,
             IF(g = size(__iv), size(__t), __iv[g].s)
               - IF(g = 0, 0, __iv[g - 1].e + 1))))"""
    )
    scrubbed = F.expr("aggregate(__iv, 0, (a, x) -> a + x.e - x.s + 1)")
    return (
        joined.withColumn("__iv", ivs)
        .withColumn("__kept", kept)
        .select(
            F.col("__id").alias(id_col),
            F.array_join(F.col("__kept"), " ").alias("kept_text"),
            F.size("__t").cast("long").alias("n_tokens"),
            scrubbed.cast("long").alias("n_scrubbed"),
        )
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str,
    out_col: str = "text_nfc",
    form: str = "NFC",
    strip_accents: bool = False,
    casefold: bool = False,
) -> DataFrame:
    """Unicode normalization as a dedup-key projection — the fix for the
    web's OTHER invisible duplicate axis: the same word arrives both
    PRECOMPOSED ('é' U+00E9) and DECOMPOSED ('e' + U+0301), plus
    fullwidth/compatibility variants, and byte-level hashing splits
    them.  Adds ``out_col`` = the ``form``-normalized (optionally
    accent-stripped: NFD + combining-mark removal) text.

    Spark has no built-in Unicode normalization, so this is an
    Arrow-batched pandas transform over ``unicodedata`` (vectorized via
    pandas .str, never per-row Python UDF); DuckDB normalizes with
    utf8proc (``nfc_normalize`` / ``strip_accents``), so the q238
    oracle is a genuine CROSS-IMPLEMENTATION differential of the
    normalization itself, not a replay of the same library.

    ``casefold=True`` adds Unicode FULL case folding after the
    normalization and re-normalizes (the NFKC_Casefold closure, minus
    default-ignorable removal): case variants are the next invisible
    duplicate axis after composition forms — Gopher/CCNet-style
    pipelines casefold before hashing — and full folding also merges
    what lowercasing cannot (German 'STRASSE'/'straße' -> 'strasse',
    final sigma 'ς' -> 'σ'), so with form='NFKC' the key collapses
    fullwidth, ligature AND case variants at once (q241's gate).
    Re-normalizing matters: folding can reorder composition (e.g.
    'İ' U+0130 folds to 'i' + U+0307), so fold-then-normalize keeps
    the key canonical.  Scale shape: one mapInPandas projection riding
    the scan — zero shuffles; the dedup downstream shuffles the
    normalized key."""
    import pandas as _pd  # noqa: F401

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"bad normalization form {form}")
    cols = df.columns

    def norm(batches):
        import unicodedata

        def one(s: str) -> str:
            if s is None:
                return None
            if strip_accents:
                decomposed = unicodedata.normalize("NFD", s)
                s = "".join(
                    ch
                    for ch in decomposed
                    if unicodedata.category(ch) != "Mn"
                )
            s = unicodedata.normalize(form, s)
            if casefold:
                s = unicodedata.normalize(form, s.casefold())
            return s

        for pdf in batches:
            pdf[out_col] = pdf[text_col].map(one)
            yield pdf

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(norm, schema=f"{schema}, `{out_col}` string").select(
        *cols, out_col
    )


# The robots name attribute: quotes optional and independently optional on
# each side (mismatched quotes are accepted — harmless over-acceptance),
# \b so name=robotsxyz never matches.
_ROBOTS_NAME = r"name\s*=\s*['\x22]?robots\b['\x22]?"
# Six content-extraction patterns: {name-first, content-first} x
# {double-quoted, single-quoted, unquoted}, tried in that order and the
# first NON-EMPTY extract wins.  Quoted values exclude only the closing
# quote and '>' — so a double-quoted value may contain single quotes and
# vice versa; unquoted values (valid HTML: <meta name=robots
# content=noindex>) run to whitespace/quote/'>' and exclude '/' so a
# self-closing <... content=noindex/> yields 'noindex', not 'noindex/'
# (directive tokens never contain '/').  No backreferences — every
# pattern is RE2-compatible, so DuckDB replays them verbatim.
_META_ROBOTS_PATTERNS = (
    rf"(?is)<meta[^>]*{_ROBOTS_NAME}[^>]*content\s*=\s*\x22([^\x22>]*)\x22",
    rf"(?is)<meta[^>]*{_ROBOTS_NAME}[^>]*content\s*=\s*'([^'>]*)'",
    rf"(?is)<meta[^>]*{_ROBOTS_NAME}[^>]*content\s*=\s*([^'\x22>\s/]+)",
    rf"(?is)<meta[^>]*content\s*=\s*\x22([^\x22>]*)\x22[^>]*{_ROBOTS_NAME}",
    rf"(?is)<meta[^>]*content\s*=\s*'([^'>]*)'[^>]*{_ROBOTS_NAME}",
    rf"(?is)<meta[^>]*content\s*=\s*([^'\x22>\s/]+)[^>]*{_ROBOTS_NAME}",
)


def meta_robots_directives_sql(col_sql: str) -> str:
    """The DuckDB-SQL twin of :func:`meta_robots_flags`'s directive
    extraction — a first-non-empty CASE chain over the SAME pattern
    constants (single quotes doubled for the SQL literal), so the q239
    oracle replays byte-identical regexes on RE2 rather than a
    hand-maintained copy that could drift."""
    branches = "\n      ".join(
        f"WHEN regexp_extract({col_sql}, '{p.replace(chr(39), chr(39) * 2)}', 1)"
        f" <> '' THEN regexp_extract({col_sql},"
        f" '{p.replace(chr(39), chr(39) * 2)}', 1)"
        for p in _META_ROBOTS_PATTERNS
    )
    return f"lower(CASE\n      {branches}\n      ELSE '' END)"


def meta_robots_flags(html: Column | str) -> Column:
    """(noindex, nofollow) flags from an HTML page's ``<meta
    name="robots">`` tag — the in-page half of crawl compliance (the
    robots.txt half is a per-domain fetch-time concern; the meta tag
    travels WITH the document, so corpus builds must re-check it):
    pages marked noindex asked to be left out of indexes/corpora and a
    compliant pipeline drops them.  Handles either attribute order
    (name-first or content-first), any case, double/single/UNQUOTED
    attribute values (``<meta name=robots content=noindex>`` is valid
    HTML), values containing the other quote character, and token lists
    like "noindex, nofollow" with directive-boundary matching (so
    'noindexing' as page text never false-positives).  Pure (?is)
    regexp built-ins — RE2/Java-portable, DuckDB-replayable via
    :func:`meta_robots_directives_sql`.  Returns a struct column
    (noindex boolean, nofollow boolean); pages with no robots meta are
    (false, false) = indexable, per the robots-exclusion default.
    Scale shape: a projection riding the scan — zero shuffles, zero
    Python."""
    c = F.col(html) if isinstance(html, str) else html
    directives = F.lit("")
    for p in reversed(_META_ROBOTS_PATTERNS):
        ext = F.regexp_extract(c, p, 1)
        directives = F.when(ext != "", ext).otherwise(directives)
    directives = F.lower(directives)
    def has(d: str) -> Column:
        return directives.rlike(rf"(^|[,\s]){d}([,\s]|$)")
    return F.struct(
        (has("noindex") | has("none")).alias("noindex"),
        (has("nofollow") | has("none")).alias("nofollow"),
    )


def parse_robots_txt(text: str, user_agent: str = "*") -> list[tuple[bool, str]]:
    """Parse one robots.txt body into the rule list that applies to
    ``user_agent`` -> [(allow, path_pattern), ...] per RFC 9309: '#'
    comments strip, fields are case-insensitive, consecutive
    ``User-agent`` lines form one group header, and the MOST SPECIFIC
    group wins — all groups naming this agent (case-insensitive token
    match) if any exist, else all ``*`` groups; other groups' rules do
    NOT apply (the classic crawler bug is merging the ``*`` group's
    ``Disallow: /`` into a bot-specific group).  Unknown fields
    (Crawl-delay, Sitemap, ...) are ignored; an empty Disallow value
    is a no-op per the RFC.  Pure function — :func:`robots_rules`
    distributes it with Arrow batches."""
    ua = user_agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    in_header = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if not in_header:
                if agents:
                    groups.append((agents, rules))
                agents, rules = [], []
                in_header = True
            agents.append(value.lower())
        else:
            in_header = False
            if field in ("allow", "disallow") and value:
                rules.append((field == "allow", value))
    if agents:
        groups.append((agents, rules))
    specific = [r for a, rs in groups if ua in a for r in rs]
    if any(ua in a for a, _ in groups):
        return specific
    return [r for a, rs in groups if "*" in a for r in rs]


def _robots_like(rule: str) -> str:
    """RFC 9309 path pattern -> SQL LIKE pattern (escape char '!'):
    '*' is a wildcard, a trailing '$' anchors the end, everything else
    is literal prefix match (no trailing '%' only when anchored)."""
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    out = []
    for ch in body:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "!"):
            out.append("!" + ch)
        else:
            out.append(ch)
    pat = "".join(out)
    # Append the implicit prefix wildcard unless the pattern already
    # ends in an UNESCAPED '%' (i.e. the rule ended with '*'). A rule
    # ending in a literal '%' (a percent-encoded path like '/a%')
    # escapes to '...!%' — that '%' is literal, so the wildcard is
    # still required or the rule would wrongly end-anchor. (A '*'
    # preceded by a literal '!' yields '...!!%', which this test
    # misreads as escaped — the extra '%' appended then is harmless:
    # LIKE '%%' matches exactly what '%' does.)
    if not anchored and not (
        pat.endswith("%") and not pat.endswith("!%")
    ):
        pat += "%"
    return pat


def robots_rules(
    robots_df: DataFrame,
    domain_col: str,
    text_col: str,
    user_agent: str = "*",
) -> DataFrame:
    """Distribute :func:`parse_robots_txt` over a (domain, robots.txt)
    table -> (domain, allow, rule_len, like_pat): one Arrow-batched
    pass; ``rule_len`` is the RFC's specificity (octets of the raw
    pattern, '$' included) and ``like_pat`` the engine-portable LIKE
    translation ('*'->'%', trailing '$' anchors, '!' escapes).  The
    rule table is robots-txt-sized (KBs per domain), broadcastable —
    the whole point of gating 100 TB of pages against it."""

    def parse(batches):
        import pandas as _pd

        cols = ["domain", "allow", "rule_len", "like_pat"]
        for pdf in batches:
            out = []
            for domain, text in zip(pdf[domain_col], pdf[text_col]):
                for allow, rule in parse_robots_txt(
                    text if text is not None else "", user_agent
                ):
                    out.append(
                        {
                            "domain": domain,
                            "allow": allow,
                            "rule_len": len(rule),
                            "like_pat": _robots_like(rule),
                        }
                    )
            yield _pd.DataFrame(out, columns=cols)

    return robots_df.select(
        F.col(domain_col), F.col(text_col)
    ).mapInPandas(
        parse,
        schema="domain string, allow boolean, rule_len int, like_pat string",
    )


def robots_gate(
    pages_df: DataFrame,
    rules_df: DataFrame,
    id_col: str,
    url_col: str,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Crawl-consent gate, domain half (q239 is the in-page half):
    decide ``allowed`` per page under RFC 9309 LONGEST-MATCH — among
    the page domain's rules whose pattern matches the URL path, the
    longest wins and Allow beats Disallow on ties; no matching rule
    (or no robots.txt at all) means allowed.  Dataflow: extract
    domain + path from the URL (codegen regex), LEFT join the
    BROADCAST rule table on domain (the corpus never shuffles for the
    gate — same stance as the q230 blocklist), score every matching
    rule as ``rule_len * 2 + allow`` (one integer encodes both
    precedence keys), and one groupBy-max per page decides.  Returns
    (id, domain, path, allowed).  Engine-portable: LIKE-with-ESCAPE
    matching and integer max replay verbatim on DuckDB (q245).  Scale
    shape: one broadcast join + one aggregate on the page id — rule
    fan-out is bounded by rules-per-domain (KBs), never page count.

    ``carry_cols`` rides extra page columns through the gate's
    aggregation (as additional group keys — exact, since ``id_col`` is
    already unique per page), so a composed pipeline (q247) keeps its
    dedup keys/canonical URLs without a corpus-sized re-join back onto
    the gate's output."""
    u = F.col(url_col)
    carry = [F.col(c) for c in carry_cols]
    pages = pages_df.select(
        F.col(id_col),
        *carry,
        F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]+)", 1)).alias("domain"),
        F.coalesce(
            F.nullif(F.regexp_extract(u, r"^[^:]+://[^/?#]+([^#]*)", 1), F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )
    joined = pages.join(F.broadcast(rules_df), "domain", "left").withColumn(
        "score",
        F.when(
            F.expr("path LIKE like_pat ESCAPE '!'"),
            F.col("rule_len") * 2 + F.col("allow").cast("int"),
        ),
    )
    return (
        joined.groupBy(id_col, *carry_cols, "domain", "path")
        .agg(F.max("score").alias("best"))
        .select(
            id_col,
            *carry_cols,
            "domain",
            "path",
            (F.col("best").isNull() | (F.col("best") % 2 == 1)).alias(
                "allowed"
            ),
        )
    )
