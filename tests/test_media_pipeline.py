"""Round-15 pins for the REAL mixed-modality pipeline: every asset of
`multimodal_decode` must decode through its modality's REAL stdlib
codec (never `_decode_stub`), and `multimodal_features` must return
decoded-content statistics (never the sha256 fallback) for those rows.

The oracle parity suite proves end-to-end value equality; these tests
pin the DISPATCH — that the real decoders, not the deterministic fake,
produced the values (the fake's metadata ranges are disjoint from the
geometry specs, which is what makes the assertion non-vacuous)."""

from __future__ import annotations

from parallelutilities_jl_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.001"


def test_media_decode_matches_geometry_specs(spark):
    rows = mm.q_multimodal_decode(spark, SF).collect()
    assert rows, "empty media asset table"
    seen = set()
    for r in rows:
        seen.add(r.modality)
        if r.modality == "image":
            w, h = mm._bmp_dims(r.asset_id)
            assert (r.width, r.height) == (w, h), r
            assert r.sample_rate is None and r.n_frames is None, r
        elif r.modality == "audio":
            assert r.width is None and r.height is None, r
            assert r.sample_rate == 8000 + (r.asset_id % 4) * 8000, r
            # n_frames = whole PCM16 samples of the capped text bytes;
            # exact value is the oracle's job — pin the stub-disjoint
            # range (the stub fakes 1..32 frames incl. for width'd rows)
            assert 0 <= r.n_frames <= mm.WAV_DATA_CAP // 2 + 1, r
        else:
            w, h, nf = mm._gif_dims(r.asset_id)
            assert (r.width, r.height, r.n_frames) == (w, h, nf), r
            assert r.sample_rate is None, r
    assert seen == {"image", "audio", "video"}


def test_media_features_are_decoded_statistics(spark):
    feats = {
        r.asset_id: [r[f"f{i}"] for i in range(mm.FEATURE_DIM)]
        for r in mm.q_multimodal_features(spark, SF).collect()
    }
    assert feats
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
        if r.text is not None
    }
    n_img = n_vid = 0
    for aid, vec in feats.items():
        assert len(vec) == mm.FEATURE_DIM
        if aid % 3 == 0:  # image: histogram counts sum to the pixel count
            w, h = mm._bmp_dims(aid)
            assert sum(vec) == w * h, (aid, vec)
            n_img += 1
        elif aid % 3 == 2:  # video: zero-padded past the real frame count
            _w, _h, nf = mm._gif_dims(aid)
            assert all(v == 0.0 for v in vec[nf:]), (aid, vec)
            # frame sums are re-derivable from the text via the synth spec
            d = mm._decode_gif(mm._media_content(aid, docs[aid]))
            assert [sum(fr) for fr in d["frames"]] == [
                int(v) for v in vec[: d["n_frames"]]
            ]
            n_vid += 1
    assert n_img and n_vid


def test_media_features_fallback_only_for_foreign_containers():
    jpegish = b"\xff\xd8\xff\xe0" + b"\x00" * 64
    assert mm._media_features(jpegish, "image") == mm._features_stub(jpegish)
    real = mm._media_content(3, "some text for pixels")  # 3 % 3 == 0: BMP
    assert mm._media_features(real, "image") != mm._features_stub(real)
