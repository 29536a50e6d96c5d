"""Multimodal binary-column plumbing (images/audio/video as opaque
``binary`` + typed metadata).

The decode/resize/frame-sample kernels need codec libraries that are
not in this container, so the *kernels* are stubbed behind clearly
marked fallbacks — but the Spark-side plumbing is real and tested:
schemas, Arrow batch shapes, ``mapInPandas`` signatures, partitioning.
Swapping a real decoder in changes one inner function, not the plan.
"""

from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame

from ..operators.udfs import map_rows

MEDIA_META_SCHEMA = (
    'path string, size_bytes long, magic string, media_type string, '
    'fake_checksum string'
)

_MAGIC = {
    b'\x89PNG': ('png', 'image'),
    b'\xff\xd8\xff': ('jpeg', 'image'),
    b'GIF8': ('gif', 'image'),
    b'RIFF': ('riff', 'audio'),
    b'RESI': ('resized-model', 'image'),  # our modeled resize tag
}


def _sniff(content: bytes):
    for magic, (name, mtype) in _MAGIC.items():
        if content[: len(magic)] == magic:
            return name, mtype
    return 'unknown', 'binary'


def extract_media_metadata(images: DataFrame, path_col: str = 'real_path', content_col: str = 'content') -> DataFrame:
    """Typed metadata over an opaque binary column via mapInPandas."""

    def media_metadata(path, content):
        b = bytes(content) if content is not None else b''
        yield (path, len(b), *_sniff(b), hashlib.sha256(b).hexdigest()[:16])

    return map_rows(images, [path_col, content_col], media_metadata, MEDIA_META_SCHEMA)


FRAMES_SCHEMA = (
    'path string, frame_idx int, frame_offset long, frame_len int, frame_sha16 string'
)


def sample_frames(
    images: DataFrame,
    n_frames: int = 4,
    frame_bytes: int = 256,
    path_col: str = 'real_path',
    content_col: str = 'content',
) -> DataFrame:
    """Frame sampling over an opaque media binary column: ``n_frames``
    evenly-spaced byte windows per blob, each fingerprinted.

    DETERMINISTIC SPEC (independent oracle twin:
    tools/oracle_kernels.sample_frames_seq): frame k starts at
    ``k * len // n_frames`` and spans up to ``frame_bytes`` bytes;
    empty blobs yield no frames; tiny blobs may repeat offsets (kept).
    A real video decoder slots into the window-extraction step behind
    the same schema — the Spark-side plumbing (one mapInPandas pass,
    per-frame rows out, bytes never shuffled) is the contract."""

    def media_frames(path, content):
        b = bytes(content) if content is not None else b''
        if not b:
            return
        for k in range(n_frames):
            off = k * len(b) // n_frames
            frame = b[off:off + frame_bytes]
            yield path, k, off, len(frame), hashlib.sha256(frame).hexdigest()[:16]

    return map_rows(images, [path_col, content_col], media_frames, FRAMES_SCHEMA)


FEATURES_SCHEMA = 'path string, bucket int, ratio double, entropy double'


def extract_features(images: DataFrame, path_col: str = 'real_path', content_col: str = 'content') -> DataFrame:
    """Feature extraction over an opaque media binary column: a 16-bin
    byte histogram (bin = byte >> 4) as per-bucket ratio rows, plus the
    blob's byte entropy — the deterministic stand-in for a real
    image/audio feature encoder (which slots into the same mapInPandas
    pass and schema).

    DETERMINISTIC SPEC (independent oracle twin:
    tools/oracle_kernels.media_features_seq): ratio_b =
    round(count_b / size, 6); entropy = round(-Σ p·log2(p), 6) folded
    over the ROUNDED ratios in bucket order (so both implementations
    accumulate identical floats); empty blobs emit 16 zero rows with
    entropy 0.  One Arrow pass, 16 narrow rows per blob, bytes never
    shuffled."""

    def media_features(path, content):
        b = bytes(content) if content is not None else b''
        if b:
            counts = np.bincount(np.frombuffer(b, dtype=np.uint8) >> 4, minlength=16)
            ratios = [round(int(c) / len(b), 6) for c in counts]
        else:
            ratios = [0.0] * 16
        ent = 0.0
        for p in ratios:
            if p > 0:
                ent -= p * math.log2(p)
        ent = round(ent, 6)
        for k in range(16):
            yield path, k, ratios[k], ent

    return map_rows(images, [path_col, content_col], media_features, FEATURES_SCHEMA)


DECODED_SCHEMA = 'path string, width int, height int, n_channels int, decoder string'


@functools.cache
def _decode_kernel():
    """bytes → (width, height, n_channels, decoder): a real PIL decode
    when PIL imports, else a deterministic stub.  Probed once per
    worker process."""
    try:
        from PIL import Image  # noqa: F401
        from io import BytesIO

        def kernel(b: bytes):
            img = Image.open(BytesIO(b))
            return img.width, img.height, len(img.getbands()), 'pil'
    except ImportError:

        def kernel(b: bytes):
            # STUB: deterministic fake dims — PIL absent in this env
            return 16 + len(b) % 64, 16 + (len(b) // 64) % 64, 3, 'stub'
    return kernel


def decode_images(images: DataFrame, path_col: str = 'real_path', content_col: str = 'content') -> DataFrame:
    """Decode stage: real PIL decode when available, else a clearly
    marked deterministic stub (dims derived from the byte length) so
    the plan stays exercisable end-to-end."""

    def media_decode(path, content):
        b = bytes(content) if content is not None else b''
        try:
            dims = _decode_kernel()(b)
        except Exception:
            dims = None, None, None, 'error'
        yield (path, *dims)

    return map_rows(images, [path_col, content_col], media_decode, DECODED_SCHEMA)
