"""Multimodal column support (beyond-reference extension): opaque
``binary`` payloads + typed metadata, processed via Arrow-batched
``mapInPandas``. Decode paths are REAL for the dependency-free codecs —
PPM/PGM/BMP images (pure numpy parsers), PCM WAV audio (stdlib wave) —
with PNG/JPEG dispatching to pillow when installed; unsupported codecs
raise ValueError for the quarantine side-channel."""

from olympic_athletes_etl_spark.multimodal.columns import (
    attach_text_payload,
    decode_audio,
    decode_image,
    decode_audio_stats,
    decode_image_stats,
    encode_ppm,
    encode_wav,
    extract_byte_features,
)

__all__ = [
    "attach_text_payload",
    "decode_audio",
    "decode_image",
    "decode_audio_stats",
    "decode_image_stats",
    "encode_ppm",
    "encode_wav",
    "extract_byte_features",
]
