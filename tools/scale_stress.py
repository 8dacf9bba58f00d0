#!/usr/bin/env python
"""Third-point linearity check for the scale-path operators.

test_linear_scaling.py compares sf0.01 -> sf0.1 (10x documents). This
tool derives a 10x-of-sf0.1 stress corpus (50k docs, 20k embeddings)
from the provided fixtures — each original document appears in 10
shards with shifted ids, odd shards lightly perturbed so the corpus has
both exact and near duplicates at 10x the density of the fixture — and
times the dedup/similarity/packing paths at sf0.01, sf0.1, and the
stress tier. A scale-safe operator should grow ~linearly with rows
even though the DUPLICATE DENSITY grows too (hot LSH buckets are
exactly what the document-frequency caps exist for).

    python tools/scale_stress.py          # writes /tmp/pu_sfx1, prints JSON
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.01"
SF1 = "/root/testdata/sf0.1"
STRESS = os.environ.get("PU_STRESS_DIR", "/tmp/pu_sfx1")
SHARDS = 10
ID_STRIDE = 10_000_000

QUERIES = (
    "dedup_exact",
    "minhash_near_dup",
    "simhash_fingerprint",
    # round-7 additions: the rewritten count-based exact-Jaccard tier,
    # the capped simhash band join, and the store-probe ingest screen
    "ngram_jaccard_pairs",
    "simhash_near_dup",
    # round-13 continuation: the hamming tuning census rides the same
    # capped band join; its tail is a <=25-row histogram, so its x10
    # wall must track simhash_near_dup's, not the output row count
    "simhash_hamming_census",
    "incremental_dedup",
    # round-13 continuation: the positional winnowing screen — the
    # fingerprint scan is zero-exchange (must be ~linear); the overlap
    # self-join is df-capped like every LSH family
    "winnowing_fingerprints",
    "winnowing_overlap",
    "winnowing_contamination",
    # perceptual dHash near-dup: the simhash band-join shape on the
    # image modality with 14-bit keys; perturbed replicas are TRUE pairs
    "multimodal_dhash_near_dup",
    # real-codec decode -> frame-energy features, zero shuffles
    "multimodal_wav_energy_env",
    "embedding_cosine_dups",
    "sequence_packing",
    "corpus_shuffle",
    "tfidf_top_terms",
    "quality_canonical_dedup",
    # round-13 continuation: deletion cascade = the canonical machinery
    # plus ONE component-keyed agg; wall must track its parent
    "forget_cascade_plan",
    # SemDeDup: k scales with N (constant cell size), so within-cell
    # pair work must stay ~linear; the kmeans fit itself is 2 fixed
    # rounds over N rows
    "semantic_dedup",
    "quality_curriculum",
    "bpe_merges",
    # money-agg path: the two-tier int64 aggregation (6M lineitem rows
    # at x10) must stay ~linear AND keep exact totals (the replication
    # check below asserts 10x rows => exactly 10x each sum)
    "q1_pricing_summary",
    # round-12: the Q2 analog — 10x lineitem over an unchanged
    # (part, supplier) key space, so the ps min agg input grows 10x
    # while its output (and the query result) is bit-identical
    "q2_min_cost_supplier",
    # round-13: the containment census + dedup-order planner — 10x
    # documents over an unchanged source set, so the corpus-sized
    # distinct grows 10x while the S²/S-bounded tails are unchanged
    "source_overlap_census",
    "dedup_order_plan",
    # round-6 second continuation: pair fan-out (skipgram), vocab-level
    # join (should be near-FLAT — the vocab doesn't grow with shards),
    # the join-free diversity identity, the wedge-join triangle census
    # (edges ~ 3N), the bounded-histogram robust stats, and the two
    # events-keyed window/fan-out ops (10x users at constant per-user
    # history => ~linear)
    "skipgram_pairs",
    "vocab_fuzzy_pairs",
    "embedding_diversity",
    "triangle_count",
    "trimmed_robust_stats",
    "rolling_active_users",
    "interval_islands",
    # round-8 additions: the r7 stateful batch-parity newcomers (10x
    # users at constant per-user state => ~linear), the boilerplate
    # scrub (narrow map), the O(sqrt k) two-level assignment, and the
    # count-based confusion rewrite
    "stateful_running_count",
    "stateful_running_sum",
    "stateful_topk",
    "stateful_ewma",
    "boilerplate_scrub_stats",
    "kmeans_assign_two_level",
    "dedup_eval_confusion",
    # the linear-quantizer SemDeDup (bounded-sample fit + two-level
    # assignment) — compare its x10 row against plain semantic_dedup
    "semantic_dedup_scaled",
    # round-8 second wave: DSIR is two token-stream passes + B-row
    # broadcast histograms (=> ~linear); the reservoir sample's staged
    # windows are bounded per (source, shard); the mutual kNN graph is
    # the corpus×corpus celled case — since round 9 its cells come from
    # the TRAINED quantizer (k_eff ∝ N, constant ~cell_target size), so
    # per-cell pair work stays bounded and the graph is expected
    # ~linear in rows (label replication no longer grows its cells —
    # that was the round-8 29.8x row)
    "dsir_importance_weights",
    "reservoir_sample_per_key",
    "knn_mutual_graph",
    # round-10: streaming ingest dedup's batch parity — cap-bounded
    # earlier-side fan-out must hold at 10x dup density — and the
    # shingle-keyed novelty census (first-occurrence join, ~linear)
    "stream_sig_dedup",
    "ngram_novelty_rate",
    # components over the mutual graph: the timed run measures
    # propagation over the resident checkpointed edge frame (the warm
    # run builds it once per tier — production shape: one graph build,
    # many consumers), so this row isolates the O(rounds x E) loop
    "knn_components",
    # PMI is two token-stream aggs + vocab-sized broadcast joins
    # (=> ~linear); power iteration is 2 fixed rounds of broadcast-join
    # matvecs (=> ~linear in rows)
    "bigram_pmi_top",
    "embedding_power_iteration",
    # PSI runs on a (source x ~30 length-buckets)-bounded histogram
    "split_drift_psi",
    # per-key lag/cumsum windows, 10x users at constant history
    "stateful_sessions",
    # one projection pass + per-cell agg over the power-iteration chain
    "embedding_abtt_census",
    # eval bands broadcast; corpus-side bucket cap bounds the join —
    # the x10 corpus multiplies true eval near-copies ~10x
    "fuzzy_contamination",
    # round-13 continuation planners: quality-threshold and session-gap
    # are one corpus scan into a bounded histogram (=> ~linear scans,
    # constant tails); vocab-coverage is the wordcount agg plus the
    # O(sqrt(tokens)) count-tier frame (=> ~linear in tokens)
    "quality_threshold_plan",
    "vocab_coverage_plan",
    "session_gap_plan",
    # k-anonymity census: one QI-keyed hash agg + per-type tail
    "k_anonymity_census",
    # dataset card: composition of 5 audited censuses + S-row joins
    "dataset_card_report",
    # the tau-tuning census is output-bound at tau=0.1 BY DESIGN (it is
    # asking about tau=0.1); compare its x10 wall against the x10
    # survivor growth, like ngram_jaccard_pairs
    "dedup_threshold_sensitivity",
    # banding planner: 4x the minhash_near_dup candidate machinery,
    # each config reduced to a 1-row aggregate — candidate-bound like
    # its parent, bucket caps bound the hot geometries
    "lsh_banding_plan",
    # nprobe recall/cost curve: memoized fit + one probe-rank-carrying
    # candidate pass (<=4x multiprobe candidates) + Q-bounded exact
    # baseline — expected ~linear in corpus rows at fixed Q
    "ann_nprobe_plan",
    # one-scan one-row-aggregate planners (expected ~flat to ~linear)
    "packing_capacity_plan",
    "embedding_dim_plan",
    # round-14 real-codec round trips: one mapInPandas pass each,
    # zero shuffles — expected embarrassingly-parallel ~linear
    "multimodal_bmp_decode",
    "multimodal_png_decode",
    "multimodal_gif_decode",
    "multimodal_gif_frame_sample",
    "multimodal_bmp_resize",
    "multimodal_image_features",
    "multimodal_decode_census",
    "multimodal_wav_zcr",
    # round-15: the baseline-JPEG round trip and the rewired
    # mixed-modality pipeline (real BMP/WAV/GIF end to end)
    "multimodal_jpeg_decode",
    "multimodal_jpeg_color_decode",
    "multimodal_jpeg420_decode",
    "multimodal_decode",
    "multimodal_features",
    "multimodal_media_census",
    "multimodal_binaryfile_census",
    # round-14 distributed long-form elsum: constant task count, the
    # only exchange is the chunk partitionBy — expected ~flat in SF
    # (the workload is SF-pinned synthetic, timed for the record)
    "dense_elsum_sink",
)


def build_stress_corpus() -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(STRESS, exist_ok=True)
    docs = pq.read_table(os.path.join(SF1, "documents.parquet"))
    parts = []
    for s in range(SHARDS):
        t = docs
        ids = pc.add(t.column("doc_id"), s * ID_STRIDE)
        text = t.column("text")
        if s % 2 == 1:
            # light perturbation: near-dup, not exact-dup, of shard 0
            text = pc.binary_join_element_wise(
                text, pa.array([f"shard{s}"] * t.num_rows), " "
            )
        parts.append(
            t.set_column(t.schema.get_field_index("doc_id"), "doc_id", ids)
            .set_column(t.schema.get_field_index("text"), "text", text)
        )
    pq.write_table(
        pa.concat_tables(parts), os.path.join(STRESS, "documents.parquet")
    )

    emb = pq.read_table(os.path.join(SF1, "embeddings.parquet"))
    eparts = []
    for s in range(SHARDS):
        ids = pc.add(emb.column("vec_id"), s * ID_STRIDE)
        eparts.append(
            emb.set_column(
                emb.schema.get_field_index("vec_id"), "vec_id", ids
            )
        )
    pq.write_table(
        pa.concat_tables(eparts), os.path.join(STRESS, "embeddings.parquet")
    )

    # 10x lineitem for the money-aggregation tier: shift orderkeys per
    # shard so join keys stay unique; money columns replicate verbatim,
    # making every exact int64 total exactly 10x the sf0.1 total
    li = pq.read_table(os.path.join(SF1, "lineitem.parquet"))
    lparts = []
    for s in range(SHARDS):
        keys = pc.add(li.column("l_orderkey"), s * ID_STRIDE)
        lparts.append(
            li.set_column(
                li.schema.get_field_index("l_orderkey"), "l_orderkey", keys
            )
        )
    pq.write_table(
        pa.concat_tables(lparts), os.path.join(STRESS, "lineitem.parquet")
    )

    # dimension tables ride along VERBATIM (the realistic shape: facts
    # replicate, dims don't) — q2's per-(part, supplier) min agg then
    # sees 10x input rows over an UNCHANGED key space, so its output is
    # bit-identical across tiers while the scan/agg work grows 10x
    for dim in ("part", "supplier", "nation", "region", "customer"):
        shutil.copyfile(
            os.path.join(SF1, f"{dim}.parquet"),
            os.path.join(STRESS, f"{dim}.parquet"),
        )

    # orders replicates WITH the same per-shard orderkey shift as
    # lineitem — a verbatim copy would leave 9/10 of the fact rows with
    # dangling orderkeys, and any future lineitem⋈orders stress row
    # (Q3/Q4/Q5/Q10/Q12-style) would silently drop 90% of its input
    # and fake a "linear" ratio. o_custkey stays unshifted (customer is
    # verbatim): 10x orders per customer, keys intact.
    od = pq.read_table(os.path.join(SF1, "orders.parquet"))
    oparts = []
    for s in range(SHARDS):
        keys = pc.add(od.column("o_orderkey"), s * ID_STRIDE)
        oparts.append(
            od.set_column(
                od.schema.get_field_index("o_orderkey"), "o_orderkey", keys
            )
        )
    pq.write_table(
        pa.concat_tables(oparts), os.path.join(STRESS, "orders.parquet")
    )

    # 10x events for the user-keyed window/fan-out ops: shift user_id and
    # event_id per shard — 10x distinct users, each with the original
    # per-user history, so per-user state stays constant while rows grow
    ev = pq.read_table(os.path.join(SF1, "events.parquet"))
    eparts = []
    for s in range(SHARDS):
        uids = pc.add(ev.column("user_id"), s * ID_STRIDE)
        eids = pc.add(ev.column("event_id"), s * ID_STRIDE)
        t = ev.set_column(
            ev.schema.get_field_index("user_id"), "user_id", uids
        )
        eparts.append(
            t.set_column(
                t.schema.get_field_index("event_id"), "event_id", eids
            )
        )
    pq.write_table(
        pa.concat_tables(eparts), os.path.join(STRESS, "events.parquet")
    )


def main() -> None:
    from parallelutilities_jl_spark.session import get_spark
    import __spark_entry__ as entrymod

    if os.path.isdir(STRESS):
        shutil.rmtree(STRESS)
    build_stress_corpus()

    spark = get_spark(app_name="pu_scale_stress")
    qs = entrymod.queries()
    # optional argv filter: re-measure a few rows without the full sweep
    names = [n for n in QUERIES if not sys.argv[1:] or n in sys.argv[1:]]
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        tiers = {}
        for label, sf_dir in (("sf0.01", SF01), ("sf0.1", SF1), ("x10", STRESS)):
            # full release, not just catalog cache: checkpoint/persist
            # blocks must not accumulate across the tier sweep
            # (session block-lifetime policy, round 14)
            from parallelutilities_jl_spark.session import (
                release_cached_blocks,
            )

            release_cached_blocks(spark)
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            tiers[label] = round(time.perf_counter() - t0, 2)
        # growth per decade of data; ~linear => ratio ~= 10 with fixture
        # overheads pulling it DOWN at the small end
        tiers["r_01_to_1"] = round(tiers["sf0.1"] / max(tiers["sf0.01"], 0.05), 1)
        tiers["r_1_to_x10"] = round(tiers["x10"] / max(tiers["sf0.1"], 0.05), 1)
        out[name] = tiers
        print(json.dumps({name: tiers}), flush=True)
    print(json.dumps({"metric": "scale_stress", "rows": out}))
    spark.stop()


if __name__ == "__main__":
    main()
