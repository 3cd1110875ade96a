"""External-decoder registry — the integration seam for compressed formats
whose decoders cannot be implemented in pure numpy in this container
(mp3/opus/aac/flac audio, webp images, h264/vp9/av1 video; progressive
JPEG decodes natively since r6 — `imageops/jpeg.py`).

A real crawl-scale corpus is mostly these formats, so the engine must let a
user plug a decoder in WITHOUT editing engine source: register a callable per
codec tag here, and every decode site (`audioops/codecs.py:decode_clip`,
`imageops/codecs.py:decode_image`, `videoops/frames.py:decode_frames`)
consults the registry immediately before its ``NotImplementedError`` stub
raise.

Design rules:

* **Built-in pure-numpy codecs always win.** They are oracle-gated and
  bit-exact; ``register_*`` refuses their tags so a registration can never
  silently change the engine's validated decode of e.g. ``adpcm_ima``.
* **Cluster-correct capture.** Executors import modules fresh, so a registry
  mutated on the driver is NOT visible in executor Python workers via the
  module global.  Every Spark kernel therefore snapshots the registry into
  its closure at plan-build time (``*_decoder_snapshot()``); cloudpickle
  ships the snapshot — including the registered callables — inside the
  serialized task.  Consequence: the callable must be picklable (a
  module-level function; not a lambda closing over live library handles —
  import the library *inside* the callable so the import happens on the
  executor).
* **Validated returns.** A registered decoder's output is shape/dtype
  checked at the call site (``validate_*``); a wrong return raises
  ``ValueError`` naming the codec instead of corrupting features downstream.

Contract per family (mirrors the built-in codecs'):

=======  =====================================  ==============================
family   callable signature                     must return
=======  =====================================  ==============================
audio    ``fn(blob: bytes, sr_hz: int)``        1-D float32 PCM in [-1, 1]
image    ``fn(blob: bytes, w: int, h: int)``    uint8 array (H, W, 3)
video    ``fn(blob: bytes, w: int, h: int)``    uint8 array (n_frames, H, W, 3)
=======  =====================================  ==============================

Reference parity: n/a — the Pig reference has no media operators; this seam
is part of the engine's large-scale training-data-pipeline surface.

Real-decoder availability in this sandbox: the only non-fake third-party
decode stack present is CPython's stdlib ``aifc``/``sunau`` containers with
C ``audioop`` decompression (deprecated in 3.11, removed in 3.13).
``audioops/stdlib_decoders.py`` registers them (tags ``aiff``/``au``) and
their tests double as the registry's real-decoder contract case — including
a bit-exact 256-code cross-validation of our G.711 tables against
``audioop``'s C implementation.  No other pure-Python media decoder exists
in site-packages here (checked r7); mp3/opus/webp/h264-class codecs remain
registry-delegated by design.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

# tags the engine decodes itself (pure numpy, oracle-gated) — registration
# for these is refused; the authoritative dispatch lives in each family's
# codecs module, these sets only guard the registry
BUILTIN_AUDIO = frozenset(
    {"pcm_s16le", "ulaw", "g711_alaw", "g711_ulaw", "adpcm_ima"}
)
BUILTIN_IMAGE = frozenset({"rgb8", "ppm", "jpeg", "png", "gif"})
BUILTIN_VIDEO = frozenset({"rawrgb", "mjpeg_avi", "gif_anim"})

_AUDIO: dict[str, Callable] = {}
_IMAGE: dict[str, Callable] = {}
_VIDEO: dict[str, Callable] = {}


def _register(table: dict, builtins: frozenset, family: str, codec: str, fn):
    if not isinstance(codec, str) or not codec:
        raise ValueError(f"{family} codec tag must be a non-empty string")
    if codec in builtins:
        raise ValueError(
            f"refusing to override built-in {family} codec '{codec}': the "
            "pure-numpy implementation is oracle-gated; registry entries are "
            "for formats the engine cannot decode itself"
        )
    if not callable(fn):
        raise TypeError(f"{family} decoder for '{codec}' must be callable")
    table[codec] = fn


def register_audio_decoder(codec: str, fn: Callable) -> None:
    """Register ``fn(blob, sr_hz) -> float32 1-D PCM`` for an audio codec tag
    (e.g. ``mp3``).  Must be a picklable module-level function."""
    _register(_AUDIO, BUILTIN_AUDIO, "audio", codec, fn)


def register_image_decoder(codec: str, fn: Callable) -> None:
    """Register ``fn(blob, width, height) -> uint8 (H, W, 3)`` for an image
    format tag (e.g. ``webp``)."""
    _register(_IMAGE, BUILTIN_IMAGE, "image", codec, fn)


def register_video_decoder(codec: str, fn: Callable) -> None:
    """Register ``fn(blob, width, height) -> uint8 (n, H, W, 3)`` for a video
    codec tag (e.g. ``h264``)."""
    _register(_VIDEO, BUILTIN_VIDEO, "video", codec, fn)


def unregister_audio_decoder(codec: str) -> None:
    _AUDIO.pop(codec, None)


def unregister_video_decoder(codec: str) -> None:
    _VIDEO.pop(codec, None)


def audio_decoder_snapshot() -> dict[str, Callable]:
    """Immutable-by-copy view for capture into a Spark kernel closure."""
    return dict(_AUDIO)


def image_decoder_snapshot() -> dict[str, Callable]:
    return dict(_IMAGE)


def video_decoder_snapshot() -> dict[str, Callable]:
    return dict(_VIDEO)


# ---------------------------------------------------------------------------
# return-value validation (shared by the three dispatch sites)
# ---------------------------------------------------------------------------

def validate_pcm(
    out,
    codec: str,
    sr_hz: int | None = None,
    dur_ms: int | None = None,
) -> np.ndarray:
    """Shape/range/rate validation of a registered audio decoder's return.

    ``sr_hz``/``dur_ms`` (when both are present and positive) enable the
    sample-rate honesty check: the decoded length must sit inside a sanity
    band around ``dur_ms · sr_hz / 1000``.  A decoder that resamples — or
    ignores the ``sr_hz`` column outright — returns a length off by the
    rate ratio (≥ 1.37× for any two distinct standard rates, e.g.
    44100/32000), far outside the band; codec block padding and rounding
    sit well inside it.  Without metadata the check is waived (documented:
    a corpus without ``dur_ms`` gets shape/range validation only).
    """
    pcm = np.asarray(out)
    if pcm.ndim != 1:
        raise ValueError(
            f"registered decoder for audio codec '{codec}' returned shape "
            f"{pcm.shape}; contract is 1-D mono PCM"
        )
    if pcm.dtype != np.float32:
        pcm = pcm.astype(np.float32)
    if len(pcm):
        # isfinite first: NaN compares False against any bound, so the
        # amplitude check alone would pass a NaN-poisoned return
        if not np.isfinite(pcm).all():
            raise ValueError(
                f"registered decoder for audio codec '{codec}' returned "
                "non-finite samples (NaN/Inf); contract is normalized "
                "float PCM"
            )
        if np.abs(pcm).max() > 1.0 + 1e-3:
            raise ValueError(
                f"registered decoder for audio codec '{codec}' returned "
                "samples outside [-1, 1]; contract is normalized float PCM"
            )
    if sr_hz and dur_ms and sr_hz > 0 and dur_ms > 0:
        expected = dur_ms * sr_hz / 1000.0
        # ±20% relative covers frame/block rounding of every real codec;
        # the 60 ms absolute floor keeps sub-0.3 s clips from tripping on
        # a single padded block
        slack = max(0.2 * expected, 0.06 * sr_hz)
        if abs(len(pcm) - expected) > slack:
            raise ValueError(
                f"registered decoder for audio codec '{codec}' returned "
                f"{len(pcm)} samples but metadata says ~{expected:.0f} "
                f"(dur_ms={dur_ms}, sr_hz={sr_hz}); the decoder is likely "
                "resampling or ignoring sr_hz — it must return PCM at the "
                "row's native rate"
            )
    return pcm


def validate_image(out, codec: str) -> np.ndarray:
    img = np.asarray(out)
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError(
            f"registered decoder for image codec '{codec}' returned "
            f"dtype={img.dtype} shape={img.shape}; contract is uint8 (H, W, 3)"
        )
    return img


def validate_frames(out, codec: str) -> np.ndarray:
    arr = np.asarray(out)
    if arr.ndim != 4 or arr.shape[3] != 3 or arr.dtype != np.uint8:
        raise ValueError(
            f"registered decoder for video codec '{codec}' returned "
            f"dtype={arr.dtype} shape={arr.shape}; contract is uint8 "
            "(n_frames, H, W, 3)"
        )
    return arr
