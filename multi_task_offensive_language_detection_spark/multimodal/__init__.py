"""Multimodal binary-column plumbing (image/video counterparts of audio).

Payloads are opaque ``binary`` columns with typed metadata, processed in
Arrow batches. Everything is real, from-scratch numpy against public
container specs (no image/video libs in this sandbox): BMP + PPM/PGM
image codecs, and a RIFF/AVI demuxer for uncompressed-DIB video — the
same build pattern operators/audio.py used for WAV/µ-law.
"""

from .binary_ops import (  # noqa: F401
    IMAGE_META_SCHEMA,
    sample_frames,
    with_image_features,
)
from .codecs import (  # noqa: F401
    decode_avi,
    decode_bmp,
    decode_image,
    decode_ppm,
    encode_avi,
    encode_bmp,
)
