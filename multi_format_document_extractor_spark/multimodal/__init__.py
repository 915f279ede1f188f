from .media import (  # noqa: F401
    audio_metadata,
    decode_image_stub,
    media_metadata,
    media_tags,
    resize_images,
    sample_frames,
    synth_wav_roundtrip,
)
