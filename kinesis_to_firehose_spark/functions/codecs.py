"""Real-codec integration points for the multimodal ops.

The registered mm_* oracle ops stay on the deterministic hash-seeded
stub codec (that is what makes them DuckDB-restatable); this module is
the swap point a real deployment uses: `decode_features(media,
codec="auto")` decodes with the best codec importable on the executors
and falls back to the stub where none is.

Per kind, in preference order (each probed with import-try — none of
these libraries is a hard dependency):

- image: PIL (any format) → pure-stdlib P6 PPM parser (no deps)
- audio: soundfile (any format) → pure-stdlib `wave` PCM reader
- video: pyav → nothing (no stdlib video codec exists)

All decoders share one contract: bytes → FEATURE_DIM floats in [0, 1]
(image: 4×4 grayscale thumbnail; audio: RMS energy over FEATURE_DIM
equal windows; video: first-frame thumbnail). `codec="real"` raises
CodecUnavailable instead of falling back, so pipelines that must not
silently ship stub features can assert the codec is present.

Imports happen INSIDE the decode functions: they run in Spark's Python
workers, whose environment — not the driver's — decides availability.
"""

from __future__ import annotations

import io

FEATURE_DIM = 16
_THUMB = 4  # 4x4 grayscale == FEATURE_DIM values


class CodecUnavailable(RuntimeError):
    """No codec importable (or bytes unparseable) for this kind."""


def _try_import(name: str):
    import importlib

    try:
        return importlib.import_module(name)
    except ImportError:
        return None


# ---------------------------------------------------------------- image


def _ppm_pixels(content: bytes) -> tuple[int, int, int, bytes]:
    """Parse a binary P6 PPM header; return (w, h, maxval, pixel bytes).
    The one raster format decodable without any imaging library."""
    if not content.startswith(b"P6"):
        raise CodecUnavailable("not a P6 PPM")
    # header: P6 <w> <h> <maxval> then a single whitespace, then pixels;
    # '#' comments allowed between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(content[start:pos]))
    w, h, maxval = tokens
    pixels = content[pos + 1 : pos + 1 + w * h * 3]
    if len(pixels) < w * h * 3:
        raise CodecUnavailable("truncated PPM raster")
    return w, h, maxval, pixels


def image_features(content: bytes) -> list[float]:
    """bytes → 4×4 grayscale thumbnail, row-major, normalized [0,1]."""
    pil_image = _try_import("PIL.Image")
    if pil_image is not None:
        img = pil_image.open(io.BytesIO(content)).convert("L")
        small = img.resize((_THUMB, _THUMB))
        return [p / 255.0 for p in small.getdata()]
    import numpy as np

    w, h, maxval, pixels = _ppm_pixels(content)
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
    gray = arr.mean(axis=2) / maxval
    out = []
    for r in range(_THUMB):
        r0, r1 = r * h // _THUMB, max((r + 1) * h // _THUMB, r * h // _THUMB + 1)
        for c in range(_THUMB):
            c0 = c * w // _THUMB
            c1 = max((c + 1) * w // _THUMB, c0 + 1)
            out.append(float(gray[r0:r1, c0:c1].mean()))
    return out


# ---------------------------------------------------------------- audio


def _wav_samples(content: bytes):
    """Decode PCM WAV via the stdlib wave module → mono float array
    in [-1, 1]."""
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(content), "rb") as w:
            n, width, channels = w.getnframes(), w.getsampwidth(), w.getnchannels()
            raw = w.readframes(n)
    except (wave.Error, EOFError) as e:
        raise CodecUnavailable(f"not a PCM WAV: {e}") from e
    if width == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise CodecUnavailable(f"unsupported PCM width {width}")
    if channels > 1:
        arr = arr.reshape(-1, channels).mean(axis=1)
    return arr


def audio_features(content: bytes) -> list[float]:
    """bytes → RMS energy over FEATURE_DIM equal windows, in [0, 1]."""
    import numpy as np

    sf = _try_import("soundfile")
    if sf is not None:
        arr, _rate = sf.read(io.BytesIO(content), dtype="float64")
        if arr.ndim > 1:
            arr = arr.mean(axis=1)
    else:
        arr = _wav_samples(content)
    n = len(arr)
    out = []
    for i in range(FEATURE_DIM):
        lo, hi = i * n // FEATURE_DIM, (i + 1) * n // FEATURE_DIM
        out.append(
            float(np.sqrt(np.mean(arr[lo:hi] ** 2))) if hi > lo else 0.0
        )
    return out


# ---------------------------------------------------------------- video


def video_features(content: bytes) -> list[float]:
    """bytes → first-frame 4×4 grayscale thumbnail via pyav. No stdlib
    fallback exists for video, so absent pyav this raises and `auto`
    falls back to the stub."""
    av = _try_import("av")
    if av is None:
        raise CodecUnavailable("pyav not installed")
    import numpy as np

    with av.open(io.BytesIO(content)) as container:
        for frame in container.decode(video=0):
            arr = frame.to_ndarray(format="gray")
            h, w = arr.shape
            out = []
            for r in range(_THUMB):
                r0 = r * h // _THUMB
                r1 = max((r + 1) * h // _THUMB, r0 + 1)
                for c in range(_THUMB):
                    c0 = c * w // _THUMB
                    c1 = max((c + 1) * w // _THUMB, c0 + 1)
                    out.append(float(arr[r0:r1, c0:c1].mean()) / 255.0)
            return out
    raise CodecUnavailable("no decodable video frame")


_REAL = {"image": image_features, "audio": audio_features, "video": video_features}


def real_features(kind: str, content: bytes) -> list[float]:
    """Dispatch to the real decoder for `kind`. Raises CodecUnavailable
    when no importable codec can parse the bytes."""
    fn = _REAL.get(kind)
    if fn is None:
        raise CodecUnavailable(f"unknown media kind {kind!r}")
    return fn(content)
