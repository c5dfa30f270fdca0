"""WARC (Web ARChive, ISO 28500) record triage — the container web
crawls actually ship in: Common Crawl publishes its corpus as
per-record-gzipped WARC files, and every corpus build starts by walking
those records BEFORE any text extraction (q228) or hygiene gate (q239)
can run.

This module is header-only by design, like the media triage family
(``sniff_media`` / ``mp3_stream_info`` / ``mp4_stream_info``): a WARC
record is a ``WARC/1.x`` named-field block plus a ``Content-Length``
body, so record type / target URI / HTTP status / payload MIME RETAIN
O(header + 64 KiB HTTP head) bytes per record regardless of body size,
and a 100 TB crawl can census itself (responses vs requests vs
metadata, status mix, MIME mix, payload volume) from record headers
alone. Honest cost accounting: gzip gives no way to find a member's
end without inflating it, so CPU is O(file bytes) of C-speed inflate —
the claim is about MEMORY (body bytes are discarded as they stream
past, never buffered).

Gzip handling follows the Common Crawl convention: each record is its
own gzip MEMBER, so members concatenate into one .warc.gz. The walk is
STREAMING and memory-bounded: gzip members inflate through
``zlib.decompressobj`` in bounded quanta (``_IN_CHUNK`` compressed in,
``_OUT_CHUNK`` inflated out), record headers and at most
``_HTTP_HEAD_MAX`` bytes of body are retained to parse the HTTP status
line and payload Content-Type, and the remaining body bytes are
DISCARDED as they stream past — peak memory is O(largest record header
+ 64 KiB), never O(inflated file) (a real 1 GB .warc.gz inflates
4–5x; 32 concurrent tasks of whole-file inflation would exhaust a
128 GiB host, which is why the walk must stream). Plain uncompressed
WARC is accepted too. A corrupt gzip member (bad deflate stream or
CRC) raises ValueError so ``warc_triage``'s quarantine lanes can
route it; a merely TRUNCATED tail member keeps the records already
parsed, matching how real crawl files actually end.

The EXTRACTION lane additionally honors HTTP message semantics (round
8): ``Transfer-Encoding: chunked`` framing is removed, gzip/x-gzip/
deflate content- and transfer-codings inflate in bounded quanta capped
at ``body_max``, undecodable records (br/zstd/unknown codings, corrupt
framing or deflate data) are quarantined per record instead of leaking
compressed bytes as text, and HTML decodes with charset fidelity
(HTTP-head ``charset=``, then a bounded ``<meta charset>`` prescan,
then UTF-8 — always errors='replace').

Reference parity: the reference engine has no crawl-ingestion surface
(its sources are REST landing + CSV/JSON stages, SURVEY.md §2.1); this
is part of the beyond-reference LLM-training-data operator family the
build brief makes first-class.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame

from ..operators.rowmap import map_payloads

__all__ = [
    "parse_warc_records",
    "encode_warc_records",
    "warc_triage",
    "warc_html_documents",
]

_CRLF = b"\r\n"

# Inflate quanta: how many compressed bytes are fed per decompress call
# and how many inflated bytes it may emit per call. Together they bound
# the walk's transient allocations regardless of member or file size.
_IN_CHUNK = 1 << 18  # 256 KiB compressed in
# brotli feeds far smaller quanta: its incremental API (pre-
# max_output_length modules) has no per-call output bound, so the
# input quantum is the only lever on how far one call can overshoot
# the decode cap (ADVICE r9)
_BR_IN_CHUNK = 1 << 14  # 16 KiB compressed in per brotli process() call
_OUT_CHUNK = 1 << 20  # 1 MiB inflated out
# Bytes of record body retained to parse the HTTP status line + headers
# (RFC 9110 gives no hard cap; every real server's head fits well under
# 64 KiB — nginx/Apache default limits are 8-16 KiB).
_HTTP_HEAD_MAX = 1 << 16
# Hard cap on the WARC named-field block itself: a corrupt stream with
# no CRLFCRLF terminator must not balloon the rolling buffer to the
# whole inflated file while the walker searches for one (real WARC
# headers are a few hundred bytes).
_WARC_HEAD_MAX = 1 << 20


def _iter_inflated(payload: bytes) -> Iterator[bytes]:
    """Yield the inflated byte stream of a concatenation of gzip
    members in bounded chunks, never materializing more than
    ``_IN_CHUNK + _OUT_CHUNK`` at once (members are how CC frames
    records, but record boundaries come from WARC Content-Length, not
    member boundaries, so the inflated streams just concatenate).
    Non-gzip input is yielded as-is. A corrupt member (bad deflate
    data / bad CRC) raises ValueError — quarantine-lane material
    (q226 convention) — while a merely truncated tail member ends the
    stream with what inflated."""
    import zlib

    if payload[:2] != b"\x1f\x8b":
        # Plain WARC: chunk it so the record walker's rolling buffer
        # (which skips body bytes) never holds more than head + chunk.
        for i in range(0, len(payload), _OUT_CHUNK):
            yield payload[i : i + _OUT_CHUNK]
        return
    mv = memoryview(payload)
    pos, n = 0, len(payload)
    while pos < n and mv[pos] == 0x1F and mv[pos + 1 : pos + 2] == b"\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            while not d.eof:
                if d.unconsumed_tail:
                    data = d.unconsumed_tail
                else:
                    if pos >= n:
                        break  # truncated member: keep what inflated
                    data = bytes(mv[pos : pos + _IN_CHUNK])
                    pos += len(data)
                out = d.decompress(data, _OUT_CHUNK)
                if out:
                    yield out
            # Capture the leftover-input length BEFORE flush(): when eof
            # lands in a max_length-limited decompress call, CPython
            # leaves the remainder in BOTH unconsumed_tail and
            # unused_data, and flush() then appends the tail into
            # unused_data AGAIN — reading it after flush double-counts
            # and the rewind below would re-walk the next member's
            # bytes as garbage.
            leftover = len(d.unused_data)
            tail = d.flush()
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member: {exc}") from exc
        if tail:
            yield tail
        if not d.eof:
            return
        # Bytes fed past this member's end belong to the next member;
        # rewind — bounded by _IN_CHUNK, so this never re-copies the file.
        pos -= leftover


def _dechunk(body: bytes) -> bytes:
    """Remove HTTP/1.1 chunked transfer framing (RFC 9112 §7.1):
    hex-size line, ``size`` octets, CRLF, repeated until the 0-size
    terminal chunk (trailers, if any, are framing — dropped).  A body
    TRUNCATED mid-chunk (the record walk caps retained bytes) keeps
    what de-framed, matching the walk's truncation rule; a size line
    that is not hex raises ValueError — that is corruption, not
    truncation, and the quarantine lane should see it."""
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        j = body.find(_CRLF, i)
        if j < 0:
            break  # truncated size line
        size_tok = bytes(body[i:j]).split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError(
                f"bad chunk size line {size_tok[:32]!r}"
            ) from exc
        if size == 0:
            break  # terminal chunk; trailers are framing
        chunk = body[j + 2 : j + 2 + size]
        out.extend(chunk)
        if len(chunk) < size:
            break  # truncated chunk data
        # The two octets after the chunk data MUST be CRLF (RFC 9112
        # §7.1).  Without this check, corrupt framing whose trailing
        # bytes happen to parse as a hex size line would yield silently
        # corrupted text instead of the ValueError quarantine this
        # docstring promises.  Fewer than two octets present is
        # TRUNCATION (tolerated: keep what de-framed), not corruption.
        trail = body[j + 2 + size : j + 2 + size + 2]
        if len(trail) < 2:
            break  # truncated past chunk data
        if trail != _CRLF:
            raise ValueError(
                f"chunk data not CRLF-terminated ({bytes(trail)!r})"
            )
        i = j + 2 + size + 2  # past the chunk's own CRLF
    return bytes(out)


def _inflate_coding(body: bytes, coding: str, out_max: int) -> bytes:
    """Inflate one gzip/x-gzip/deflate content- or transfer-coding in
    bounded quanta, output capped at ``out_max`` (the extraction
    lane's ``body_max`` — same discipline as the member walk).  HTTP
    'deflate' is zlib-wrapped per RFC 9110 §8.4.1.2 but raw-deflate
    senders are legion, so the zlib header is sniffed ((CMF<<8|FLG) %
    31 == 0, low CMF nibble 8) and raw taken otherwise.  Corrupt
    deflate data raises ValueError (quarantine-lane material);
    TRUNCATED input keeps what inflated."""
    import zlib

    if coding == "deflate":
        zlib_wrapped = (
            len(body) >= 2
            and (body[0] & 0x0F) == 8
            and ((body[0] << 8) | body[1]) % 31 == 0
        )
        wbits = 15 if zlib_wrapped else -15
    else:  # gzip / x-gzip
        wbits = 31
    out = bytearray()
    pos = 0
    try:
        # Outer loop handles MULTI-MEMBER gzip bodies (RFC 9110's gzip
        # coding is the gzip FILE format, which concatenates members;
        # rare on the wire but legal — a single-member-only walk would
        # silently truncate such a body to its first member).
        while pos < len(body) and len(out) < out_max:
            d = zlib.decompressobj(wbits=wbits)
            while pos < len(body) and len(out) < out_max and not d.eof:
                if d.unconsumed_tail:
                    data = d.unconsumed_tail
                else:
                    data = bytes(body[pos : pos + _IN_CHUNK])
                    pos += len(data)
                out.extend(d.decompress(data, out_max - len(out)))
            # leftover-input length BEFORE flush(): same CPython quirk
            # as _iter_inflated — when eof lands in a max_length-limited
            # call, flush() appends unconsumed_tail into unused_data a
            # SECOND time and the rewind would re-read member bytes
            leftover = len(d.unused_data)
            if len(out) < out_max:
                out.extend(d.flush())
            if not d.eof:
                break  # truncated input: keep what inflated
            # rewind input fed past this member's end; only continue if
            # another gzip member actually follows (trailing garbage is
            # ignored, matching gzip(1))
            pos -= leftover
            if wbits != 31 or body[pos : pos + 2] != b"\x1f\x8b":
                break
    except zlib.error as exc:
        raise ValueError(f"corrupt {coding} body: {exc}") from exc
    return bytes(out[:out_max])


def _inflate_brotli(body: bytes, out_max: int) -> bytes:
    """Inflate a ``Content-Encoding: br`` body when a brotli module is
    importable (``brotli`` or ``brotlicffi`` — OPTIONAL dependency,
    probed at call time; neither ships in this repo's baseline env).
    Real Common Crawl response records carry br at low single-digit
    percent, so a deployment that installs the module stops losing that
    page tail; without it the record stays a quarantine lane (the
    ValueError message names 'br' so the census stays countable).

    Output is BOUNDED per call, not just between calls (ADVICE r9:
    brotli back-references reach >1000x ratios, so one input quantum
    could otherwise expand arbitrarily before an inter-quantum check
    ran, breaking the O(header + body_max) per-record memory bound).
    Primary path passes ``max_output_length`` to ``process`` —
    supported by brotli>=1.0.9 and brotlicffi; the decoder buffers any
    excess internally, which is fine because the cap truncates there
    anyway.  Where the installed module predates the kwarg
    (TypeError), input feeds in small quanta and a decoded size beyond
    ``2*out_max`` raises ValueError (quarantine — an explicit error,
    never unbounded growth followed by silent truncation).  Corrupt
    data raises ValueError; TRUNCATED input keeps what inflated."""
    try:
        import brotli as _br
    except ImportError:
        try:
            import brotlicffi as _br  # type: ignore[no-redef]
        except ImportError:
            raise ValueError(
                "unsupported content-coding 'br'"
                " (no brotli/brotlicffi module installed)"
            ) from None
    dec = _br.Decompressor()
    out = bytearray()
    bounded = True  # whether process() accepts max_output_length
    try:
        for pos in range(0, len(body), _BR_IN_CHUNK):
            quantum = bytes(body[pos : pos + _BR_IN_CHUNK])
            if bounded:
                try:
                    out.extend(
                        dec.process(
                            quantum,
                            max_output_length=out_max + 1 - len(out),
                        )
                    )
                except TypeError:
                    bounded = False
            if not bounded:
                out.extend(dec.process(quantum))
                if len(out) > 2 * out_max:
                    raise ValueError(
                        "br body exceeded the decode cap"
                        f" ({len(out)} > 2*{out_max}) under an unbounded"
                        " decompressor (module lacks max_output_length)"
                    )
            if len(out) > out_max:
                break
    except _br.error as exc:
        raise ValueError(f"corrupt br body: {exc}") from exc
    return bytes(out[:out_max])


def _inflate_zstd(body: bytes, out_max: int) -> bytes:
    """Inflate a ``Content-Encoding: zstd`` body when a zstd module is
    importable — stdlib ``compression.zstd`` (Python >= 3.14, PEP 784)
    probed first, then the ``zstandard`` package (OPTIONAL dependency;
    neither ships in this repo's 3.11 baseline env).  ``zstd`` appears
    in modern crawls (RFC 8878/9110 registered content-coding), so a
    deployment that installs either module stops quarantining those
    records; without one the record stays a quarantine lane (the
    ValueError message names 'zstd' so the census stays countable) —
    same optional-import discipline as ``_inflate_brotli``.

    Output is bounded per call: the stdlib path uses
    ``ZstdDecompressor.decompress(data, max_length=...)``; the
    zstandard path reads ``out_max`` bytes through ``stream_reader``
    (never materializes more than the cap + one internal frame
    window).  Corrupt or truncated input raises ValueError —
    quarantine, not mojibake."""
    try:
        from compression import zstd as _zstdlib  # Python >= 3.14
    except ImportError:
        _zstdlib = None
    if _zstdlib is not None:
        dec = _zstdlib.ZstdDecompressor()
        try:
            return dec.decompress(body, max_length=out_max)
        except _zstdlib.ZstdError as exc:
            raise ValueError(f"corrupt zstd body: {exc}") from exc
    try:
        import zstandard as _zstd
    except ImportError:
        raise ValueError(
            "unsupported content-coding 'zstd' (no zstandard module"
            " installed; stdlib compression.zstd needs Python >= 3.14)"
        ) from None
    import io

    reader = io.BytesIO(body)
    try:
        try:
            r = _zstd.ZstdDecompressor().stream_reader(
                reader, read_across_frames=True
            )
        except TypeError:  # zstandard < 0.15: no read_across_frames
            r = _zstd.ZstdDecompressor().stream_reader(reader)
        with r:
            return r.read(out_max)
    except _zstd.ZstdError as exc:
        raise ValueError(f"corrupt zstd body: {exc}") from exc


def _decode_http_body(
    body: bytes,
    transfer_encoding: str,
    content_encoding: str,
    out_max: int,
) -> bytes:
    """Undo an HTTP response's transfer- then content-codings ->
    decoded payload bytes capped at ``out_max``.  Codings are removed
    in reverse order of application (RFC 9110 §8.4): chunked framing
    first (RFC 9112 §6.1 requires it last on the wire), then any
    gzip/x-gzip/deflate layers.  ``identity`` and empty tokens are
    no-ops.  A ``br`` content-coding decodes IF a brotli module is
    importable, and ``zstd`` IF compression.zstd (Python >= 3.14) or
    zstandard is (optional-dependency probes — see ``_inflate_brotli``
    / ``_inflate_zstd``); otherwise they, ``compress``/anything else,
    raise ValueError — the extraction lane quarantines those records
    rather than emitting their bytes as mojibake text."""
    te = [t.strip().lower() for t in transfer_encoding.split(",") if t.strip()]
    ce = [c.strip().lower() for c in content_encoding.split(",") if c.strip()]
    for coding in reversed(te):
        if coding == "chunked":
            body = _dechunk(body)
        elif coding in ("gzip", "x-gzip", "deflate"):
            body = _inflate_coding(body, coding, out_max)
        elif coding != "identity":
            raise ValueError(f"unsupported transfer-coding {coding!r}")
    for coding in reversed(ce):
        if coding in ("gzip", "x-gzip", "deflate"):
            body = _inflate_coding(body, coding, out_max)
        elif coding == "br":
            body = _inflate_brotli(body, out_max)
        elif coding == "zstd":
            body = _inflate_zstd(body, out_max)
        elif coding != "identity":
            raise ValueError(f"unsupported content-coding {coding!r}")
    return body[:out_max]


# Charset labels seen in real crawls -> Python codec names.  The alias
# table covers the legacy tail that matters (latin-1 family, Windows
# code pages, CJK: gbk/gb2312, shift-jis, euc-jp, big5); anything else
# falls through to codecs.lookup so the full registry of TEXT codecs
# works, and unknown/non-text labels fall back to UTF-8-with-replacement
# (documented, not silent: replacement characters are data the quality
# stages score).
_CHARSET_ALIASES = {
    "utf8": "utf-8",
    "iso-8859-1": "latin-1",
    "iso8859-1": "latin-1",
    "latin1": "latin-1",
    "windows-1252": "cp1252",
    "win-1252": "cp1252",
    "gb2312": "gbk",
    "gb-2312": "gbk",
    "shift-jis": "shift_jis",
    "shiftjis": "shift_jis",
    "sjis": "shift_jis",
    "x-sjis": "shift_jis",
    "windows-31j": "cp932",
    "eucjp": "euc_jp",
    "us-ascii": "ascii",
}
# WHATWG-style charset prescan over the head bytes: catches both
# <meta charset="x"> and <meta http-equiv=... content="...charset=x">.
_META_CHARSET_RE = None  # compiled lazily (module import stays cheap)


def _resolve_codec(label: str) -> str | None:
    """Charset label (HTTP header or meta prescan, already lowercased)
    -> Python codec name, or None when the label is unknown or names a
    non-text codec (base64/hex/zlib are bytes<->bytes and must never be
    picked by attacker-controlled page bytes)."""
    import codecs

    label = label.strip().strip("\"'").lower()
    if not label:
        return None
    label = _CHARSET_ALIASES.get(label, label)
    try:
        info = codecs.lookup(label)
    except LookupError:
        return None
    if not getattr(info, "_is_text_encoding", True):
        return None
    return info.name


def _decode_html_bytes(body: bytes, charset_hint: str) -> str:
    """Decode page bytes -> text with charset fidelity, WHATWG
    precedence: a byte-order mark outranks everything (a BOM-carrying
    page mislabeled latin-1 in its HTTP head is common and the BOM is
    ground truth), then the HTTP head's charset parameter, then a
    bounded prescan of the first 4 KiB for a ``<meta charset=…>`` /
    ``http-equiv Content-Type`` label, else UTF-8; always
    errors='replace' (a mislabeled page yields replacement characters —
    data the quality stages score, never a crash).  The BOM itself is
    stripped (it is encoding metadata, not page text)."""
    global _META_CHARSET_RE
    if body[:3] == b"\xef\xbb\xbf":
        return body[3:].decode("utf-8", "replace")
    if body[:2] == b"\xff\xfe":
        return body[2:].decode("utf-16-le", "replace")
    if body[:2] == b"\xfe\xff":
        return body[2:].decode("utf-16-be", "replace")
    codec = _resolve_codec(charset_hint) if charset_hint else None
    if codec is None:
        if _META_CHARSET_RE is None:
            import re

            _META_CHARSET_RE = re.compile(
                # <meta charset=…> / http-equiv content="…charset=…",
                # or an XML prolog's encoding="…" (XHTML served as
                # text/html declares its encoding there, not in a meta)
                rb"(?:<meta[^>]{0,256}?charset|"
                rb"<\?xml[^>]{0,256}?encoding)\s*=\s*[\"']?\s*"
                rb"([A-Za-z0-9._:\-]{1,32})",
                re.IGNORECASE,
            )
        m = _META_CHARSET_RE.search(body[:4096])
        if m:
            codec = _resolve_codec(m.group(1).decode("ascii", "replace"))
    return body.decode(codec or "utf-8", "replace")


def _iter_warc_records(
    chunks: Iterator[bytes],
    body_max: int | None = None,
) -> Iterator[dict]:
    """Record walk over an inflated-chunk stream. Retains only the
    record's header block plus at most ``_HTTP_HEAD_MAX`` body bytes;
    the rest of each body is skipped chunk-by-chunk without buffering,
    so memory stays O(largest header + 64 KiB) whatever the file or
    record size.

    ``body_max`` is the extraction lane's knob: when set, response
    records retain up to that many bytes of body (HTTP head included)
    and the dict gains a ``payload`` key with the bytes AFTER the HTTP
    head — the HTML the text-extraction stage (q228) reads. Memory
    becomes O(header + body_max) per record, still never O(file); a
    body longer than the cap is truncated, not buffered (corpus
    builders cap page size anyway — Common Crawl itself truncates at
    1 MiB)."""
    buf = bytearray()
    it = iter(chunks)
    eof = False

    def fill(target: int) -> None:
        nonlocal eof
        while not eof and len(buf) < target:
            try:
                buf.extend(next(it))
            except StopIteration:
                eof = True

    fill(5)
    if bytes(buf[:5]) != b"WARC/":
        raise ValueError("no WARC version line")
    while True:
        fill(5)
        if bytes(buf[:5]) != b"WARC/":
            return
        while True:
            head_end = buf.find(_CRLF + _CRLF)
            if head_end >= 0:
                break
            if eof or len(buf) > _WARC_HEAD_MAX:
                return  # truncated or unterminated header block
            fill(len(buf) + _OUT_CHUNK)
        fields: dict[str, str] = {}
        for line in bytes(buf[:head_end]).split(_CRLF)[1:]:
            name, _, value = line.partition(b":")
            if _:
                fields[name.strip().lower().decode("latin-1")] = (
                    value.strip().decode("latin-1", "replace")
                )
        try:
            length = int(fields.get("content-length", ""))
        except ValueError:
            return  # malformed record: keep what parsed
        rec_type = fields.get("warc-type", "unknown")
        keep_cap = (
            max(_HTTP_HEAD_MAX, body_max)
            if body_max is not None and rec_type == "response"
            else _HTTP_HEAD_MAX
        )
        body_keep = min(length, keep_cap)
        fill(head_end + 4 + body_keep)
        if len(buf) < head_end + 4 + body_keep:
            return  # truncated body
        body = bytes(buf[head_end + 4 : head_end + 4 + body_keep])
        status = 0
        http_payload: bytes | None = b""
        payload_error: str | None = None
        charset = ""
        mime = fields.get("content-type", "").split(";")[0].strip()
        if rec_type in ("response", "request") and body[:5] in (
            b"HTTP/",
            b"GET /",
            b"POST ",
        ):
            parts = body.split(_CRLF + _CRLF, 1)
            http_head = parts[0]
            lines = http_head.split(_CRLF)
            first = lines[0].split()
            if rec_type == "response" and len(first) >= 2 and first[1].isdigit():
                status = int(first[1])
            content_enc = transfer_enc = ""
            for line in lines[1:]:
                name, _, value = line.partition(b":")
                if not _:
                    continue
                lname = name.strip().lower()
                if lname == b"content-type":
                    ctype = value.strip().decode("latin-1", "replace")
                    mime = ctype.split(";")[0].strip()
                    for param in ctype.split(";")[1:]:
                        k, _eq, v = param.partition("=")
                        if _eq and k.strip().lower() == "charset":
                            charset = v.strip().strip("\"'").lower()
                elif lname == b"content-encoding":
                    # Repeated header lines are equivalent to one
                    # comma-joined list (RFC 9110 §5.3) — overwrite
                    # would DROP earlier codings and let compressed
                    # bytes flow to the text decoder as mojibake.
                    v = value.strip().decode("latin-1", "replace")
                    content_enc = f"{content_enc},{v}" if content_enc else v
                elif lname == b"transfer-encoding":
                    v = value.strip().decode("latin-1", "replace")
                    transfer_enc = (
                        f"{transfer_enc},{v}" if transfer_enc else v
                    )
            if body_max is not None and rec_type == "response":
                raw = parts[1] if len(parts) > 1 else b""
                if transfer_enc or content_enc:
                    # De-frame/inflate the HTTP codings (gzip text/html
                    # is the most common real Common Crawl body shape
                    # after identity); an unsupported coding (br, zstd)
                    # or corrupt framing/deflate data quarantines the
                    # RECORD (payload=None + reason) instead of letting
                    # compressed bytes flow downstream as mojibake text.
                    try:
                        http_payload = _decode_http_body(
                            raw, transfer_enc, content_enc, body_max
                        )
                    except ValueError as exc:
                        http_payload = None
                        payload_error = str(exc)
                else:
                    http_payload = raw[:body_max]
        # Skip the rest of the body WITHOUT buffering it: drop what the
        # buffer already holds, then discard whole chunks until the
        # record's end. This is the line that keeps a 4 GiB record from
        # costing 4 GiB of driver-side walk memory.
        to_skip = head_end + 4 + length
        if len(buf) >= to_skip:
            del buf[:to_skip]
        else:
            rem = to_skip - len(buf)
            buf.clear()
            while rem > 0 and not eof:
                try:
                    c = next(it)
                except StopIteration:
                    eof = True
                    break
                if len(c) <= rem:
                    rem -= len(c)
                else:
                    buf.extend(memoryview(c)[rem:])
                    rem = 0
            if rem > 0:
                return  # truncated body past the retained head
        rec = {
            "rec_type": rec_type,
            "target_uri": fields.get("warc-target-uri", ""),
            "content_length": length,
            "http_status": status,
            "mime": mime,
        }
        if body_max is not None:
            rec["payload"] = http_payload
            rec["charset"] = charset
            rec["payload_error"] = payload_error
        yield rec
        fill(4)
        if bytes(buf[:4]) == _CRLF + _CRLF:
            del buf[:4]


def parse_warc_records(
    payload: bytes,
    body_max: int | None = None,
) -> list[dict]:
    """Walk the WARC records of one (optionally per-member-gzipped)
    payload -> list of dicts with keys ``rec_type``, ``target_uri``,
    ``content_length``, ``http_status``, ``mime``.

    Per ISO 28500: a record is a version line (``WARC/1.0`` or 1.1), a
    named-field block terminated by an empty line, ``Content-Length``
    octets of body, then two CRLFs.  Field names are case-insensitive.
    For ``response``/``request`` records the body opens with an HTTP
    message, so the status code and the HTTP ``Content-Type`` (the
    PAYLOAD's MIME, the one corpus builders filter on — not the WARC
    envelope's) parse from the body's own header block; other record
    types report status 0 and the envelope ``Content-Type``.

    Memory-bounded: gzip members inflate in bounded quanta and body
    bytes past the first ``_HTTP_HEAD_MAX`` are discarded as they
    stream by, so peak memory is O(largest record header + 64 KiB) —
    NOT O(inflated file) (see ``tests/test_multimodal_decode.py``'s
    capped-tracemalloc regression test). The returned record dicts are
    header-sized.

    Tolerant by the same rule as the media walks: a malformed or
    TRUNCATED record ends the walk with the records already parsed
    (real .warc.gz files end in truncation, not exceptions); a payload
    with no leading WARC version line, or a CORRUPT gzip member (bad
    deflate stream or CRC — zlib.error wrapped), raises ValueError so
    ``warc_triage`` can quarantine-lane it.

    ``body_max`` (extraction lane, q247): when set, response records
    additionally carry ``payload`` (the HTTP message body with
    transfer-/content-codings removed — chunked de-framed, gzip/
    x-gzip/deflate inflated in bounded quanta — truncated at
    ``body_max`` bytes), ``charset`` (the HTTP Content-Type charset
    parameter, '' if absent) and ``payload_error`` (None, or the
    reason the body could not be decoded: br/zstd/unknown codings,
    corrupt chunk framing or deflate data — ``payload`` is then None
    and the caller quarantines the record).  Retained memory stays
    O(header + body_max) per record."""
    return list(
        _iter_warc_records(_iter_inflated(payload or b""), body_max)
    )


def encode_warc_records(
    records: Sequence[dict],
    gzip_members: bool = False,
) -> bytes:
    """Synthesize a structurally valid WARC payload — correct version
    lines, named fields, Content-Length accounting and CRLF record
    separators; with ``gzip_members=True`` each record becomes its own
    gzip member (the Common Crawl .warc.gz convention).  The fixture
    twin of :func:`parse_warc_records`.  Each input dict: ``rec_type``,
    ``target_uri`` (optional), ``body`` bytes; response/request bodies
    should be full HTTP messages."""
    import gzip as _gzip

    out = []
    for n, r in enumerate(records):
        body = r.get("body", b"")
        head = [b"WARC/1.0"]
        head.append(b"WARC-Type: " + r["rec_type"].encode("latin-1"))
        head.append(
            b"WARC-Record-ID: <urn:uuid:%08d-0000-0000-0000-000000000000>" % n
        )
        if r.get("target_uri"):
            head.append(
                b"WARC-Target-URI: " + r["target_uri"].encode("latin-1")
            )
        if r.get("content_type"):
            head.append(
                b"Content-Type: " + r["content_type"].encode("latin-1")
            )
        head.append(b"Content-Length: %d" % len(body))
        rec = _CRLF.join(head) + _CRLF + _CRLF + body + _CRLF + _CRLF
        out.append(
            _gzip.compress(rec, compresslevel=1, mtime=0)
            if gzip_members
            else rec
        )
    return b"".join(out)


def warc_triage(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    on_error: str = "fail",
) -> DataFrame:
    """Explode a corpus of (optionally .gz) WARC payloads into one row
    per record — (id, rec_index, rec_type, target_uri, content_length,
    http_status, mime) — via one Arrow-batched mapInPandas pass: the
    census step every Common-Crawl-shaped ingestion runs before
    extraction, and the natural upstream of q224 (URL canonicalization),
    q228 (main-text extraction) and q239 (robots gate).  Scale shape: a
    pure map pass retaining O(header + 64 KiB) memory per record (body
    bytes inflate at C speed and are discarded as they stream — never
    buffered, so 1 GB .warc.gz inputs x 32 concurrent tasks fit), no
    shuffle; a truncated tail record drops rather than failing the
    partition.

    ``on_error`` (the q226 quarantine convention): 'fail' raises on a
    non-WARC payload (batch audits want the loud failure), 'skip'
    drops it, 'tag' emits one quarantine row (rec_type='invalid') so
    the streaming census counts garbage as a lane instead of killing
    the query."""

    def rows_of(_id, payload):
        for ix, r in enumerate(parse_warc_records(payload)):
            yield (
                _id, ix, r["rec_type"], r["target_uri"],
                r["content_length"], r["http_status"], r["mime"],
            )

    return map_payloads(
        df, id_col, payload_col,
        "id long, rec_index int, rec_type string, target_uri string, "
        "content_length long, http_status int, mime string",
        rows_of, on_error=on_error, catch=ValueError,
        tag_row=lambda _id, e: (_id, 0, "invalid", "", 0, 0, ""),
    )


def warc_html_documents(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    body_max: int = 1 << 20,
    on_error: str = "fail",
) -> DataFrame:
    """The EXTRACTION lane of the WARC walk (the census lane is
    ``warc_triage``): explode each (optionally .gz) WARC payload into
    one row per successfully fetched HTML page — (id, rec_index, url,
    html) for records with rec_type=response, HTTP status 200 and
    payload MIME text/html or application/xhtml+xml — in one
    Arrow-batched mapInPandas pass.
    This is the single scan a WARC-to-corpus build (q247) hangs
    everything off: main-text extraction (q228), URL canonicalization
    (q224), the robots gate (q245) and dedup (q238/q241) all consume
    THESE rows, so the crawl bytes are read exactly once.

    ``body_max`` caps the retained HTML per page (Common Crawl itself
    truncates records at 1 MiB) — memory per in-flight record stays
    O(header + body_max), never O(inflated file), same streaming walk
    as the census lane.

    HTTP codings are honored (real Common Crawl responses very
    commonly arrive ``Content-Encoding: gzip`` and/or
    ``Transfer-Encoding: chunked``): chunked framing is removed and
    gzip/x-gzip/deflate layers inflate in bounded quanta capped at
    ``body_max``.  A record whose body CANNOT be decoded — ``br``/
    ``zstd``/unknown codings, corrupt chunk framing or deflate data —
    is the PER-RECORD quarantine lane: it emits its row with the true
    rec_index and url but ``html`` NULL, so garbage stays countable
    per page (filter ``html IS NULL``) and compressed bytes never
    masquerade as corpus text.  ``html`` decodes with charset
    fidelity: HTTP-head ``charset=`` first, then a bounded
    ``<meta charset>`` prescan of the first 4 KiB, UTF-8 otherwise —
    always with replacement (a mislabeled page is data the quality
    stages score, not a crash).

    ``on_error`` is the PER-PAYLOAD lane (q226 convention): 'fail'
    raises on a non-WARC/corrupt-gzip payload, 'skip' drops it, 'tag'
    emits one row with rec_index=-1 and empty url/html so the garbage
    stays countable."""

    def rows_of(_id, payload):
        for ix, r in enumerate(parse_warc_records(payload, body_max=body_max)):
            if (
                r["rec_type"] != "response"
                or r["http_status"] != 200
                or r["mime"] not in ("text/html", "application/xhtml+xml")
            ):
                continue
            html = (
                None
                if r["payload_error"] is not None
                else _decode_html_bytes(r["payload"], r["charset"])
            )
            yield _id, ix, r["target_uri"], html

    return map_payloads(
        df, id_col, payload_col,
        "id long, rec_index int, url string, html string",
        rows_of, on_error=on_error, catch=ValueError,
        tag_row=lambda _id, e: (_id, -1, "", ""),
    )
