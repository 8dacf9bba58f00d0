"""Unit tests for the REAL pure-Python WAV decoder (`_decode_wav`) —
the codec that retired the repo's last decode stand-in — plus the
magic-sniff dispatch in `decode_assets`. Handcrafted byte strings, no
Spark needed except for the dispatch test."""

import struct

from parallelutilities_jl_spark.operators.multimodal import (
    _decode_wav,
    q_multimodal_wav_decode,
)


def _wav(sr=16000, channels=1, bits=16, data=b"", audio_format=1):
    block_align = channels * bits // 8
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH",
            16,
            audio_format,
            channels,
            sr,
            sr * block_align,
            block_align,
            bits,
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_valid_mono_pcm16_fields_and_peak():
    # samples 100, -200, 32767 little-endian
    data = struct.pack("<3h", 100, -200, 32767)
    m = _decode_wav(_wav(sr=8000, data=data))
    assert m == {
        "sample_rate": 8000,
        "n_channels": 1,
        "bits": 16,
        "n_frames": 3,
        "peak_abs": 32767,
    }


def test_int16_min_does_not_overflow_peak():
    data = struct.pack("<2h", -32768, 5)
    m = _decode_wav(_wav(data=data))
    assert m["peak_abs"] == 32768  # |−32768| needs the int32 widening


def test_stereo_frame_count_uses_block_align():
    data = struct.pack("<8h", *([7] * 8))  # 8 samples = 4 stereo frames
    m = _decode_wav(_wav(channels=2, data=data))
    assert m["n_channels"] == 2
    assert m["n_frames"] == 4


def test_empty_data_chunk_yields_zero_frames_null_peak():
    m = _decode_wav(_wav(data=b""))
    assert m["n_frames"] == 0
    assert m["peak_abs"] is None


def test_rejects_non_wav_and_damaged_containers():
    assert _decode_wav(b"plain text, definitely not audio") is None
    assert _decode_wav(b"RIFF" + b"\x00" * 40) is None  # not WAVE
    # truncated data chunk: declared size exceeds actual bytes
    good = _wav(data=struct.pack("<2h", 1, 2))
    assert _decode_wav(good[:-1]) is None
    # non-PCM (IEEE float) is out of scope for the PCM decoder
    assert _decode_wav(_wav(audio_format=3, data=b"\x00" * 4)) is None
    # fmt present but no data chunk
    no_data = _wav(data=b"")[: 12 + 8 + 16]
    assert _decode_wav(no_data) is None


def test_word_alignment_of_odd_sized_chunks():
    # an odd-sized unknown chunk before fmt/data must be skipped with
    # its pad byte, or the walker desyncs and misses the real chunks
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    raw = _wav(data=struct.pack("<1h", 9))
    aligned = raw[:12] + odd + raw[12:]
    m = _decode_wav(aligned)
    assert m is not None and m["n_frames"] == 1 and m["peak_abs"] == 9


def test_synthesized_assets_roundtrip_sparkless_fields(spark, sf_dir):
    """The end-to-end query decodes ONLY what the synthesizer wrote:
    every row's sample_rate matches the doc_id law and n_bytes is
    44 + padded data length (≤ 44 + 128)."""
    rows = q_multimodal_wav_decode(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["sample_rate"] == 8000 + (r["asset_id"] % 4) * 8000
        assert r["n_channels"] == 1 and r["bits"] == 16
        assert 44 <= r["n_bytes"] <= 44 + 128
        assert r["n_frames"] == (r["n_bytes"] - 44) // 2


def test_decode_assets_magic_dispatch(spark):
    """A structurally valid WAV routed through the generic decode
    pipeline takes the REAL decoder (width/height NULL, header
    sample_rate); arbitrary bytes fall back to the deterministic
    stub."""
    import pandas as pd

    from parallelutilities_jl_spark.operators.multimodal import (
        decode_assets,
    )

    wav = _wav(sr=24000, data=struct.pack("<2h", 1, -1))
    pdf = pd.DataFrame(
        {
            "asset_id": [1, 2],
            "modality": ["audio", "audio"],
            "content": [wav, b"not a wav at all"],
        }
    )
    out = {
        r["asset_id"]: r
        for r in decode_assets(spark.createDataFrame(pdf)).collect()
    }
    real, stub = out[1], out[2]
    assert real["sample_rate"] == 24000
    assert real["width"] is None and real["height"] is None
    assert real["n_frames"] == 2
    assert stub["width"] is not None  # deterministic stand-in path


def test_duplicate_chunks_first_wins_and_walk_stops_at_data():
    """Round-12 advisor fix: the chunk walk is first-wins and STOPS at
    the data chunk — trailing RIFF-shaped bytes or duplicate
    fmt/data chunks cannot rewrite the reported stats."""
    from parallelutilities_jl_spark.operators.multimodal import _decode_wav

    good = struct.pack("<2h", 5, -7)
    wav = _wav(sr=8000, data=good)
    # append a second, bogus data chunk with MORE samples and a second
    # fmt chunk with a different rate: both must be ignored
    bogus = (
        b"data"
        + struct.pack("<I", 6)
        + struct.pack("<3h", 30000, 30000, 30000)
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 44100 * 4, 4, 16)
    )
    m = _decode_wav(wav + bogus)
    assert m is not None
    assert m["sample_rate"] == 8000
    assert m["n_frames"] == 2
    assert m["peak_abs"] == 7


def test_data_before_fmt_is_rejected():
    """Spec order: fmt must precede data; a container violating it is
    rejected rather than decoded with a guessed geometry."""
    from parallelutilities_jl_spark.operators.multimodal import _decode_wav

    data = struct.pack("<2h", 1, 2)
    out_of_order = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"data"
        + struct.pack("<I", len(data))
        + data
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    )
    assert _decode_wav(out_of_order) is None


def test_decode_assets_gates_wav_on_audio_modality(spark):
    """Round-12 advisor fix: a non-audio row whose bytes happen to be a
    structurally valid RIFF/WAVE container must keep its modality's
    output contract (stub metadata with width/height), never silently
    acquire WAV fields."""
    import pandas as pd

    from parallelutilities_jl_spark.operators.multimodal import (
        decode_assets,
    )

    wav = _wav(sr=24000, data=struct.pack("<2h", 1, -1))
    pdf = pd.DataFrame(
        {
            "asset_id": [1, 2],
            "modality": ["image", "audio"],
            "content": [wav, wav],
        }
    )
    out = {
        r["asset_id"]: r
        for r in decode_assets(spark.createDataFrame(pdf)).collect()
    }
    img, aud = out[1], out[2]
    assert img["width"] is not None and img["height"] is not None
    assert aud["width"] is None and aud["sample_rate"] == 24000
