"""Every codec round-trip head encodes and decodes in ONE Python pass.

Two chained `mapInPandas` nodes in one stage hold two Python workers
per task and send every payload Python → JVM → Python between them;
`_round_trip` feeds the encoder's batches straight into the decoder.
The plan test pins that on the registered heads; the lint keeps a new
head from chaining a decode pass (`_map_assets`, `decode_assets`) onto
an encoder again."""

from __future__ import annotations

import ast
import pathlib

import pytest

import parallelutilities_jl_spark.operators.multimodal as mm

FUSED_HEADS = [
    "wav_decode", "g711_decode", "flac_decode", "mp4_probe",
    "wav_energy_env", "wav_zcr", "bmp_decode", "bmp_resize",
    "image_features", "gif_decode", "gif_frame_sample", "png_decode",
    "jpeg_decode", "jpeg_prog_decode", "jpeg_color_decode",
    "jpeg420_decode", "dhash_near_dup", "decode_census",
    "decode", "features", "frame_sample", "resize", "media_census",
]


@pytest.mark.parametrize("head", FUSED_HEADS)
def test_round_trip_head_has_one_python_pass(spark, sf_dir, head):
    # one MapInPandas per documents scan. dhash_near_dup's self-join
    # prints its fingerprint subtree once per join side here: at
    # sf0.001 the query is empty, so AQE's final plan is an
    # EmptyRelation over the logical plan. Where rows exist (sf0.1) the
    # executed plan holds one scan and one MapInPandas, and the second
    # join side is a ReusedExchange
    df = mm.QUERIES["multimodal_" + head](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == plan.count("FileScan parquet") >= 1


_DECODE_PASSES = ("_map_assets", "decode_assets")


def _encoder_call(node) -> bool:
    # every encode pass outside `_round_trip` is a `synthesize_*`
    # asset table (`synthesize_media_from_docs` among them)
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id.startswith("synthesize_")
    )


def test_no_map_assets_over_an_encoder():
    # a decode pass over `synthesize_*(...)`, directly or through a
    # local name, is the two-pass chain
    src = pathlib.Path(mm.__file__).read_text()
    bad = []
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        encoded = {
            t.id
            for node in ast.walk(fn)
            if isinstance(node, ast.Assign) and _encoder_call(node.value)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in _DECODE_PASSES
                and node.args
            ):
                a0 = node.args[0]
                if _encoder_call(a0) or (
                    isinstance(a0, ast.Name) and a0.id in encoded
                ):
                    bad.append(f"{fn.name} (line {node.lineno})")
    assert not bad, (
        "use _round_trip for an encode+decode head: " + ", ".join(bad)
    )
