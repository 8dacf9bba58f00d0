"""The shared decode pass `_map_assets` and the fused encode+decode
pass `_round_trip`: a payload its decoder rejects (truncated, or a
valid container that fails the head's attestation) must raise a
ValueError naming the codec label and the asset id, and integer stats
the decoder leaves as None must come out NULL."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import PythonException

from parallelutilities_jl_spark.operators.jpeg import encode_jpeg_gray
from parallelutilities_jl_spark.operators.multimodal import (
    _decode_wav,
    _g711_samples,
    _jpeg_gray_rows,
    _map_assets,
    _round_trip,
    _wav_container_bytes,
)


def _assets(spark, aid: int, content: bytes):
    return spark.createDataFrame(
        [(aid, bytearray(content))], "asset_id long, content binary"
    )


@pytest.mark.parametrize(
    "label, payload, rows",
    [
        # truncated: the data chunk claims more bytes than it carries
        (
            "WAV",
            _wav_container_bytes(1, "hello world")[:-4],
            lambda c: None if _decode_wav(c) is None else [(0,)],
        ),
        # a valid BASELINE stream must not pass the progressive head
        (
            "progressive JPEG",
            encode_jpeg_gray([10, 200, 30, 64], 2, 2),
            lambda c: _jpeg_gray_rows(c, progressive=True),
        ),
        # a valid PCM16 WAV is not G.711
        (
            "G.711",
            _wav_container_bytes(2, "hello world"),
            lambda c: None if _g711_samples(c) is None else [(0,)],
        ),
    ],
    ids=["wav", "jpeg_prog", "g711"],
)
def test_rejected_payload_names_label_and_asset(spark, label, payload, rows):
    df = _map_assets(
        _assets(spark, 4242, payload), "asset_id long, x int", label, rows
    )
    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        df.collect()
    assert f"invalid {label} payload for asset 4242" in str(ei.value)


def test_fused_round_trip_names_label_and_asset(spark):
    # the encoder's bytes go straight into the decoder in one pass: a
    # valid PCM16 WAV fails the G.711 attestation all the same
    docs = spark.createDataFrame(
        [(4242, "hello world")], "doc_id long, text string"
    )
    df = _round_trip(
        docs,
        _wav_container_bytes,
        "asset_id long, x int",
        "G.711",
        lambda c: None if _g711_samples(c) is None else [(0,)],
    )
    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        df.collect()
    assert "invalid G.711 payload for asset 4242" in str(ei.value)


def test_none_stats_stay_null_with_schema_types(spark):
    df = _map_assets(
        _assets(spark, 7, b"\x00"),
        "asset_id long, peak int, total long, law string",
        "test",
        lambda c: [(None, None, "ulaw"), (3, 2**40, None)],
    )
    assert [tuple(r) for r in df.collect()] == [
        (7, None, None, "ulaw"),
        (7, 3, 2**40, None),
    ]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "int", "bigint", "string",
    ]
