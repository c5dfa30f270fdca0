"""Golden byte-equality harness for the pure-Python media codecs.

Every optimization round that touches ``operators/multimodal.py`` needs the
same safety net the round-10 FLAC vectorization had: proof that the encoder
byte streams and decoder outputs did not drift by a single byte.  This module
pins sha256 digests of encoder outputs AND decoder outputs over a diverse,
deterministic case matrix (constant tiles, gradients, LCG noise, odd crops,
every subsampling / stereo / progressive mode the queries and tests drive).

Regenerate ONLY when intentionally changing codec behavior (never for a
performance refactor — the whole point is that perf work keeps these green):

    python tests/test_media_golden.py --regen

The JSON lives at tests/golden/media_codec_goldens.json.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

GOLDEN_PATH = os.path.join(
    os.path.dirname(__file__), "golden", "media_codec_goldens.json"
)


def _lcg_bytes(n: int, seed: int) -> bytes:
    """Deterministic pseudo-random bytes (numpy-free, version-stable)."""
    out = bytearray(n)
    s = seed & 0xFFFFFFFF
    for i in range(n):
        s = (1103515245 * s + 12345) & 0x7FFFFFFF
        out[i] = (s >> 16) & 0xFF
    return bytes(out)


def _lcg_samples(n: int, seed: int, lo: int = -3000, hi: int = 3000) -> list[int]:
    span = hi - lo + 1
    s = seed & 0xFFFFFFFF
    out = []
    for _ in range(n):
        s = (1103515245 * s + 12345) & 0x7FFFFFFF
        out.append(lo + ((s >> 8) % span))
    return out


def _gradient(w: int, h: int, ch: int) -> bytes:
    return bytes(
        (3 * x + 5 * y + 17 * c) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


def _tiles(w: int, h: int, ch: int, tw: int, th: int, seed: int) -> bytes:
    """Constant-value tiles (the oracle-exact query fixture shape)."""
    return bytes(
        (seed * 11 + 37 * ((y // th) * ((w + tw - 1) // tw) + x // tw)) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


def media_cases() -> dict[str, bytes]:
    """name -> payload/output bytes for every pinned case."""
    from logistics_data_pipeline_project_spark.operators.multimodal import (
        decode_avi_mjpeg_frames,
        decode_bmp_pixels,
        decode_flac_samples,
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_png_pixels,
        encode_avi_mjpeg,
        encode_bmp,
        encode_flac,
        encode_gif,
        encode_jpeg,
        encode_png,
    )

    cases: dict[str, bytes] = {}

    def dec_img(fn, payload: bytes) -> bytes:
        w, h, *rest = fn(payload)
        raw = rest[-1]
        head = ",".join(str(x) for x in (w, h, *rest[:-1])).encode()
        return head + b"|" + (raw if isinstance(raw, bytes) else bytes(raw))

    # ---- JPEG ----------------------------------------------------------
    jpeg_specs = []
    for name, w, h, content in [
        ("const", 16, 16, bytes([137]) * (16 * 16)),
        ("grad", 24, 16, _gradient(24, 16, 1)),
        ("noise", 40, 32, _lcg_bytes(40 * 32, 7)),
        ("odd", 17, 13, _lcg_bytes(17 * 13, 11)),
    ]:
        for q in (30, 90, 95):
            jpeg_specs.append(
                (f"jpeg_gray_{name}_q{q}", dict(quality=q), w, h, content, 1)
            )
        jpeg_specs.append(
            (f"jpeg_gray_{name}_qt8", dict(qtable=[8] * 64), w, h, content, 1)
        )
    for name, w, h, content in [
        ("tiles", 24, 16, _tiles(24, 16, 3, 16, 16, 5)),
        ("noise", 24, 16, _lcg_bytes(24 * 16 * 3, 13)),
        ("odd", 18, 14, _lcg_bytes(18 * 14 * 3, 17)),
    ]:
        for ss in ("444", "422", "420"):
            jpeg_specs.append(
                (
                    f"jpeg_color_{name}_{ss}",
                    dict(qtable=[8] * 64, channels=3, subsampling=ss),
                    w, h, content, 3,
                )
            )
            jpeg_specs.append(
                (
                    f"jpeg_color_{name}_{ss}_q85",
                    dict(quality=85, channels=3, subsampling=ss),
                    w, h, content, 3,
                )
            )
    # progressive (SOF2) and multi-scan sequential
    for name, w, h, content, kw in [
        ("prog_gray_noise", 32, 24, _lcg_bytes(32 * 24, 19), dict(progressive=True)),
        ("prog_gray_const", 16, 16, bytes([55]) * 256, dict(progressive=True)),
        (
            "prog_color_noise", 24, 16, _lcg_bytes(24 * 16 * 3, 23),
            dict(progressive=True, channels=3),
        ),
        (
            "prog_color_420", 32, 32, _lcg_bytes(32 * 32 * 3, 29),
            dict(progressive=True, channels=3, subsampling="420", quality=85),
        ),
        (
            "scan_split_444", 24, 16, _lcg_bytes(24 * 16 * 3, 31),
            dict(scan_split=True, channels=3),
        ),
        (
            "scan_split_420", 24, 24, _lcg_bytes(24 * 24 * 3, 37),
            dict(scan_split=True, channels=3, subsampling="420", quality=75),
        ),
    ]:
        jpeg_specs.append((f"jpeg_{name}", kw, w, h, content, kw.get("channels", 1)))
    for name, kw, w, h, content, _ch in jpeg_specs:
        payload = encode_jpeg(w, h, content, **kw)
        cases[f"enc_{name}"] = payload
        cases[f"dec_{name}"] = dec_img(decode_jpeg_pixels, payload)
    # DRI / restart-marker path (encoder never emits DRI; splice one in by
    # re-encoding is not possible — instead pin the decoder on a stream with
    # a restart interval built by the MJPEG/AVI and progressive paths only).

    # ---- MJPEG AVI ------------------------------------------------------
    frames = [
        encode_jpeg(
            16, 16, bytes([(23 * k + 40) % 256]) * (16 * 16 * 3),
            qtable=[8] * 64, channels=3, subsampling="420",
        )
        for k in range(5)
    ]
    avi = encode_avi_mjpeg(16, 16, frames, fps=(4, 1))
    cases["enc_avi_mjpeg"] = avi
    w, h, num, den, got = decode_avi_mjpeg_frames(avi)
    cases["dec_avi_mjpeg"] = (
        f"{w},{h},{num},{den},{len(got)}".encode() + b"|" + b"".join(got)
    )

    # ---- GIF ------------------------------------------------------------
    pal = bytes(v for i in range(256) for v in (i, i, i))
    pal2 = bytes((i * 7) % 256 for i in range(768))
    for name, w, h, idx, p, kw in [
        ("basic", 18, 16, _lcg_bytes(18 * 16, 41), pal, {}),
        ("interlaced", 20, 17, _lcg_bytes(20 * 17, 43), pal2, dict(interlaced=True)),
        ("local", 16, 16, _lcg_bytes(256, 47), pal2, dict(local_palette=True)),
        ("runs", 30, 20, bytes([i // 60 for i in range(600)]), pal, {}),
    ]:
        payload = encode_gif(w, h, idx, p, **kw)
        cases[f"enc_gif_{name}"] = payload
        gw, gh, gidx, gpal = decode_gif_pixels(payload)
        cases[f"dec_gif_{name}"] = f"{gw},{gh}".encode() + b"|" + gidx + b"|" + gpal

    # ---- PNG ------------------------------------------------------------
    for name, w, h, ch, raw, kw in [
        ("gray", 18, 16, 1, _lcg_bytes(18 * 16, 53), {}),
        ("rgb", 20, 15, 3, _lcg_bytes(20 * 15 * 3, 59), {}),
        ("rgba", 12, 12, 4, _lcg_bytes(12 * 12 * 4, 61), {}),
        ("interlaced", 19, 13, 3, _lcg_bytes(19 * 13 * 3, 67), dict(interlaced=True)),
        ("palette", 16, 16, 1, _lcg_bytes(256, 71), dict(palette=pal2)),
    ]:
        payload = encode_png(w, h, ch, raw, **kw)
        cases[f"enc_png_{name}"] = payload
        cases[f"dec_png_{name}"] = dec_img(decode_png_pixels, payload)

    # ---- BMP ------------------------------------------------------------
    bmp = encode_bmp(17, 9, _lcg_bytes(17 * 9 * 3, 73))
    cases["enc_bmp"] = bmp
    cases["dec_bmp"] = dec_img(decode_bmp_pixels, bmp)

    # ---- FLAC: all stereo modes x signal shapes (the 23-case matrix) ----
    def square(n: int, period: int, amp: int) -> list[int]:
        return [amp if (i % period) < period // 2 else -amp for i in range(n)]

    flac_signals = {
        "const": [700] * 1200,
        "square": square(1200, 8, 400),
        "ramp": [((i * 13) % 5000) - 2500 for i in range(1200)],
        "noise": _lcg_samples(1200, 79),
        "verbatim": _lcg_samples(1200, 83, -32768, 32767),
    }
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        for sig, left in flac_signals.items():
            right = [(-v) // 3 + 100 for v in left]
            inter = [x for pair in zip(left, right) for x in pair]
            payload = encode_flac(
                inter, n_channels=2, block_size=512, stereo_mode=mode
            )
            cases[f"enc_flac_{mode}_{sig}"] = payload
            nch, samples = decode_flac_samples(payload)
            cases[f"dec_flac_{mode}_{sig}"] = (
                f"{nch}".encode()
                + b"|"
                + b",".join(str(s).encode() for s in samples[:64])
                + b"|"
                + hashlib.sha256(repr(samples).encode()).hexdigest().encode()
            )
    for sig in ("const", "square", "noise"):
        payload = encode_flac(flac_signals[sig], block_size=1024)
        cases[f"enc_flac_mono_{sig}"] = payload
        nch, samples = decode_flac_samples(payload)
        cases[f"dec_flac_mono_{sig}"] = (
            f"{nch}".encode()
            + b"|"
            + hashlib.sha256(repr(samples).encode()).hexdigest().encode()
        )

    return cases


def compute_digests() -> dict[str, str]:
    return {
        name: hashlib.sha256(data).hexdigest()
        for name, data in media_cases().items()
    }


def test_media_codec_goldens():
    with open(GOLDEN_PATH) as f:
        want = json.load(f)
    got = compute_digests()
    assert set(got) == set(want), (
        f"case set drifted: +{sorted(set(got) - set(want))} "
        f"-{sorted(set(want) - set(got))}"
    )
    bad = [name for name in want if got[name] != want[name]]
    assert not bad, f"codec byte streams drifted for: {bad}"


#: OpenBLAS kernels numpy may pick per host, and the cpuinfo flag each
#: needs. The codecs must not depend on which one the host gets.
_BLAS_KERNELS = {"": None, "Prescott": "pni", "Haswell": "avx2", "SkylakeX": "avx512f"}


@pytest.mark.parametrize("coretype", list(_BLAS_KERNELS), ids=lambda c: c or "default")
def test_media_goldens_under_every_blas_kernel(coretype):
    flag = _BLAS_KERNELS[coretype]
    if flag is not None:
        with open("/proc/cpuinfo") as f:
            flags = next(
                (ln.split(":", 1)[1].split() for ln in f if ln.startswith("flags")),
                [],
            )
        if flag not in flags:
            pytest.skip(f"CPU lacks {flag}, which the {coretype} kernel needs")
    env = {**os.environ, "OPENBLAS_CORETYPE": coretype}
    run = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]


if __name__ == "__main__":
    if "--regen" in sys.argv:
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        digests = compute_digests()
        with open(GOLDEN_PATH, "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
        print(f"wrote {len(digests)} goldens to {GOLDEN_PATH}")
    else:
        test_media_codec_goldens()
        print("goldens OK")
