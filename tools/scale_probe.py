"""Scaling probe — runs the headline dedup/text operators at 1× and
10× the sf0.1 documents table and records the wall-clock ratio in
SCALE.md.

    python tools/scale_probe.py [--mult 10]

Why this exists: the 100 TB claim for the dedup family rests on the
banded/blocked pair stages staying LINEAR in corpus size (candidate
pairs bounded by banding, never O(n²)). A quadratic regression hides
at sf0.1; this probe catches it by construction. The 10× corpus is
10 disjoint "shards" of the sf0.1 documents table: each copy gets a
distinct alphabet rotation (translate) so cross-copy text shares no
shingles — duplicate DENSITY stays constant while VOLUME grows 10×,
which is exactly the regime where a linear algorithm shows ~10× time
and a quadratic one shows ~100×.
"""

from __future__ import annotations

import argparse
import string
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from json2hbase_spark import registry  # noqa: E402
from json2hbase_spark.io import load  # noqa: E402
from json2hbase_spark.materialize import cleanup_materialized  # noqa: E402
from json2hbase_spark.session import get_spark  # noqa: E402

registry.load_all_query_modules()

PROBES = [
    "j1_dedup_exact",
    "j2_dedup_near",
    "j9_minhash_sig",
    "j15_simhash",
    "j48_dedup_near_md5",
    "j13_fingerprint",
    "j40_ngram_jaccard",
    "j41_boilerplate",
    "j6_text_tokens",
    "j53_span_dedup",
    "j58_span_remove",
    "j54_pii_redact",
    "j57_oov_rate",
    # round-4c training-prep family: all designed linear — j62 one
    # shard exchange, j63/j64 map-side explodes into bounded aggs,
    # j65 corpus-side bit_or + broadcast probe (NB at ×10 corpus the
    # fixed m=2048 bloom saturates: every incoming doc becomes a
    # candidate, so j65's time includes the worst-case confirm join —
    # still linear, the FP *rate* is what degrades until m scales)
    "j62_global_shuffle",
    "j63_entropy_filter",
    "j64_dsir_importance",
    "j65_bloom_dedup",
    # round-6 additions (VERDICT r5 #6): the iterative/pair-heavy ops
    # not yet covered. All are designed linear in corpus volume:
    # j47/j20 iterate over the BANDED near-dup edge set (edges grow
    # linearly because banding caps candidates; iterations are a fixed
    # count). j47's edge table (512 rows at sf0.1, so about 5,000 at
    # x10) fits the broadcast threshold, so after the banded join it
    # ranks on the driver; j20 iterates joins. j49's recall harness
    # reuses the banded candidate set plus a bounded ground-truth
    # sample, j72's overlap profile is a gram-keyed hash agg (no pair
    # stage at all).
    "j47_pagerank",
    "j20_dup_components",
    "j49_dedup_recall",
    "j72_source_overlap",
    # round-7 additions (VERDICT r6 #5): the round-6 curation ops.
    # j81 materializes a block-keyed candidate pair table (linear while
    # banding holds), j82 is explode + one wide conditional agg (linear
    # in token volume at fixed FH_DIM), j89 is explode → vocab agg →
    # equi re-join (j7's shape), j83/m8 are the bucketed two-pass
    # prefix sums rewritten this round — probing them pins the
    # distributed cumsum's linearity.
    "j81_band_tuning",
    "j82_feature_hash_embed",
    "j89_hapax_docs",
    "j83_pps_sample",
    "m8_shard_plan",
    # round-7 new ops: j91 rides the same bucketed prefix sum, j92 is
    # a segment explode into broadcast-vote aggs, j93 is the
    # deliberately chars-heavy ExactSubstr gram sweep — all linear.
    "j91_token_budget_select",
    "j92_langid_segments",
    "j93_dup_substring_ranges",
    # round-7 selection family: j94 is the GROUPED bucketed prefix sum
    # (a lost group/bucket key would serialize a source into one
    # task), j95/j96/j98 are narrow map passes into bounded hash aggs
    # — probing pins all four linear. j97 is embeddings-based (the
    # probe scales documents only) with a corpus-size-independent d²
    # shuffle; its scale posture is pinned by test_j97 instead.
    "j94_source_budget_select",
    "j95_blockword_gate",
    "j96_prefix_cluster",
    "j98_url_canonical_dedup",
    # second round-7 batch: j99 is the chars-heavy winnowing sweep
    # (j93's category — gram stream + per-doc window, linear by
    # construction), j100 is a pure map pass + bounded agg. b12/a26
    # are orders/IO-based — this harness scales documents only.
    "j99_winnow_fingerprint",
    "j100_text_normalize",
    # j101 rides j48's banded pipeline — its linearity story is j48's,
    # but probe it anyway: a regression in the source-attach joins
    # (e.g. losing the pair-side broadcast) would surface here.
    "j101_source_dup_matrix",
    # j102 is a 64x-lighter j93 (chunk hashes, count-over-window);
    # j103's pair stage is capped by the FP_MAX_DF common-code
    # exclusion — a lost cap or a non-equi pair join blows the ratio.
    "j102_chunk_dedup",
    "j103_winnow_pairs",
    # j104's segment explode + collect_list reconstruction: linear in
    # chars; a regression that loses the per-doc grouping (e.g. a
    # global sort creeping into the reconstruction) shows here.
    "j104_segment_filter",
    # j105's compound-bucket prefix sum: a regression to a global sort
    # or SinglePartition window shows as the lost-parallelism wall.
    "j105_curriculum_order",
    # d16 rides the grouped prefix sum (j94's shape) — probe pins it.
    "d16_weighted_median",
    # j106's two stacked bucketed prefix sums + token-keyed min agg.
    "j106_heaps_law",
    # j107 rides the banded edge set + bounded label hops (j20's
    # category); a lost band join or an unbounded hop blows the ratio.
    "j107_cluster_safe_split",
    # round-8: j108 = j103's capped pair stage + converged label
    # doubling over the tiny pair set (a lost FP_MAX_DF cap or a
    # label join gone corpus-sized blows the ratio); j109 rides
    # j106's shared cumulative curve + one 10-row band agg. i27 is
    # orders/IO-based — out of this documents-scaling harness.
    "j108_winnow_clusters",
    "j109_heaps_checkpoints",
    # round-8 audit family: j110 map-pass+agg, j111 gram stream +
    # flagged-island window (j93/j99's category), j112 explode →
    # vocab-keyed join (j89's shape) — all designed linear.
    "j110_code_detect",
    "j111_contamination_span",
    "j112_source_unigram_kl",
    # j113 is a constant-factor (×|thresholds|) fan-out map + agg.
    "j113_quality_threshold_sweep",
    "j114_quality_disagreement",
    "j115_packing_waste",
    "j116_contamination_redact",
    # round-9 additions: j117 composes j48's banded pairs with j108's
    # converged propagation; j118 is per-lang applyInPandas FFD; j119
    # is an Arrow map pass into a |langs| agg.
    "j117_cross_source_clusters",
    "j118_pack_ffd",
    "j119_nfc_normalize",
    # round-10: i33 streams the banded gate (band index + confirm both
    # linear while banding holds — a lost band join shows here);
    # j131 chains six linear stages (each shape already probed solo) —
    # a super-linear ratio means one stage's blocking regressed.
    "i33_stream_neardup_gate",
    "j131_corpus_pipeline",
    # j132 probes the fh-keyed containment join (winnow grain): a lost
    # equi key (pairwise drift) or an index-side re-fingerprint blows it.
    "j132_incremental_winnow",
    # round-11: j142's merge application runs over the VOCABULARY
    # (Heaps-bounded), so only the token explode + (lang, word) agg
    # scales with the corpus; j143 runs the capstone's quality/dedup
    # stages twice (both orders) — each stage's blocking already
    # probed solo, so super-linearity means an order lost its block.
    "j142_bpe_apply",
    "j143_gate_order_audit",
    # round-11 second batch: j146 = j44's LM aggs + score-domain
    # tercile (vocabulary/domain-bounded after the agg); j148 map pass
    # + global top-K; j149/i38 one token agg + |langs|-row arithmetic;
    # j150 one scan of in-row line HOFs (lines never explode).
    "j146_perplexity_buckets",
    "j148_weighted_reservoir",
    "j149_unimax_allocation",
    "j150_c4_line_filters",
    "i38_stream_unimax_monitor",
    # third batch: j151's per-doc in-row gram walks are
    # doc-length-bounded (scan-shaped); i39 = j150's stateless rules
    # + a |sources|-row complete tally.
    "j151_gopher_repetition",
    "i39_stream_c4_gate",
    # round-12: j152 = j58's fingerprint-shuffle shape at the 50-token
    # grain (a lost pre-agg or a gram STRING reaching the shuffle
    # blows the ratio); i31 streams the per-batch packing tally into
    # bin-count-bounded complete state (restart cost at 10× arrival
    # volume was the unmeasured leg VERDICT r11 #6 flagged).
    "j152_exact_substring_dedup",
    "i31_stream_packing_monitor",
    # j153 probes the index semi/anti probe + batch-slice window; i40
    # the stream-static gate (both j152's shuffle class); j155 rides
    # j60's term-filtered scans (flat — the filter leaves a constant
    # row set); j156 is one bounded hash agg; j154 rides j149.
    "j153_incremental_exsub",
    "i40_stream_exsub_gate",
    "j154_repeat_discount_budget",
    "j155_retrieval_ndcg",
    "j156_k_anonymity",
    # i41 = one stateless bucket map into bounded complete state;
    # j158 = three term-filtered scans (a lost term filter or a
    # non-broadcast term join blows the ratio).
    "i41_stream_k_anonymity",
    "j158_prf_expansion",
]


def build_scaled(spark, sf_dir: str, mult: int, out_dir: str) -> None:
    docs = load(spark, sf_dir, "documents")
    lower = string.ascii_lowercase
    shards = []
    for k in range(mult):
        rot = lower[k:] + lower[:k]
        shards.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
                F.translate("text", lower, rot).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    big = shards[0]
    for s in shards[1:]:
        big = big.unionByName(s)
    big.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def run_suite(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, float]:
    """Min of three runs per query — the probe compares ALGORITHMIC
    scaling, so neither first-touch costs (parquet footers, codegen
    for the new path shape) nor this host's sporadic multi-second
    stalls (the reason for bench.py's rerun rule, BASELINE.md
    "Methodology"; a stall that spans both of two runs poisoned four
    ratios in the round-7 first attempt) may masquerade as data-size
    terms."""
    times = {}
    for name in only if only is not None else PROBES:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            cleanup_materialized()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        times[name] = round(best, 2)
    return times


EMB_PROBES = [
    "j10_embed_norm",
    "j5_centroid",
    "j16_dedup_embed",
    "j18_ann_lsh",
    # round-10: j127/j128 are scan-plus-constant-iteration (j121's
    # category — only the covariance/residual scans touch the corpus);
    # j129 is per-round broadcast + hash agg (linear); j130's ADC scan
    # is linear in codes, its exact side a bounded-query crossJoin.
    "j127_pca_topr",
    "j128_whiten_rescore",
    "j129_pq_codebook",
    "j130_pq_adc_recall",
    # round-11: j144's two slice aggs + proof leg are all j97's
    # corpus-size-independent d(d+1)/2 shuffle; j145 = j127's chain +
    # dimension-bounded GS steps (only the covariance pass scales).
    "j144_incremental_covariance",
    "j145_pca_orthobasis",
    # j147 = j145's chain + one scan-shaped per-vector fold. NOTE on
    # the round-12 basis memo: j145 passes refresh=True (recomputes
    # every run — its min-of-3 measures the CHAIN's scaling); j147
    # rides the session memo after its first run, so its min-of-3
    # measures the MARGINAL per-vector fold — exactly j147's own
    # contribution; the chain's scaling is j145's row.
    "j147_subspace_energy",
    # round-12: i32 streams embeddings into k-center coreset state
    # (bounded |coreset| rows; the unmeasured complete-mode restart
    # leg, VERDICT r11 #6); j157 is one scan of per-row prefix folds.
    "i32_stream_coreset_monitor",
    "j157_matryoshka_energy",
]


def build_scaled_embeddings(spark, sf_dir: str, mult: int, out_dir: str) -> None:
    """mult disjoint shards of the embeddings table; each copy's
    vectors are cyclically rotated by k dims (norms preserved,
    cross-copy cosines scrambled) so bucket occupancy stays uniform
    while volume grows."""
    emb = load(spark, sf_dir, "embeddings")
    shards = []
    for k in range(mult):
        rot = F.concat(
            F.slice("embedding", k + 1, 64 - k), F.slice("embedding", 1, k)
        ) if k else F.col("embedding")
        shards.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
                rot.alias("embedding"),
                "label",
            )
        )
    big = shards[0]
    for s in shards[1:]:
        big = big.unionByName(s)
    big.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    # the text/doc ops aren't probed here, but loaders expect the file
    load(spark, sf_dir, "documents").write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def run_emb_suite(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, float]:
    times = {}
    for name in only if only is not None else EMB_PROBES:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            cleanup_materialized()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        times[name] = round(best, 2)
    return times


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--emb-mult", type=int, default=4)
    ap.add_argument(
        "--only",
        nargs="+",
        help="probe just these doc-family queries and APPEND their rows "
        "to SCALE.md's main table (incremental mode for newly added "
        "ops; the full rewrite re-measures everything)",
    )
    ap.add_argument(
        "--only-emb",
        nargs="+",
        help="probe just these embeddings-family queries (×emb-mult "
        "volume) and APPEND their rows to SCALE.md's embeddings table",
    )
    args = ap.parse_args()

    import tempfile

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    if args.only_emb:
        m = args.emb_mult
        emb_dir = f"{tempfile.gettempdir()}/j2h_scale_emb_{m}x"
        build_scaled_embeddings(spark, args.sf, m, emb_dir)
        run_emb_suite(spark, args.sf, args.only_emb)  # warm
        ebase = run_emb_suite(spark, args.sf, args.only_emb)
        escaled = run_emb_suite(spark, emb_dir, args.only_emb)
        rows = [
            "",
            f"## Incremental embeddings probe (×{m} volume)",
            "",
            f"| query | base s | ×{m} s | ratio |",
            "| --- | --- | --- | --- |",
        ]
        for name in args.only_emb:
            r = (
                round(escaled[name] / ebase[name], 1)
                if ebase[name] > 0
                else float("nan")
            )
            rows.append(
                f"| {name} | {ebase[name]:.2f} | {escaled[name]:.2f} | ×{r} |"
            )
        # append a self-contained table at the end (SCALE.md accretes
        # round sections chronologically)
        text = (REPO / "SCALE.md").read_text()
        (REPO / "SCALE.md").write_text(
            text.rstrip("\n") + "\n" + "\n".join(rows) + "\n"
        )
        print("\n".join(rows))
        return

    big_dir = f"{tempfile.gettempdir()}/j2h_scale_{args.mult}x"
    build_scaled(spark, args.sf, args.mult, big_dir)

    if args.only:
        run_suite(spark, args.sf, args.only)  # warm
        base = run_suite(spark, args.sf, args.only)
        scaled = run_suite(spark, big_dir, args.only)
        rows = []
        for name in args.only:
            r = round(scaled[name] / base[name], 1) if base[name] > 0 else float("nan")
            rows.append(f"| {name} | {base[name]:.2f} | {scaled[name]:.2f} | ×{r} |")
        text = (REPO / "SCALE.md").read_text()
        marker = "\n## Embeddings family"
        head, sep, tail = text.partition(marker)
        (REPO / "SCALE.md").write_text(head.rstrip("\n") + "\n" + "\n".join(rows) + "\n" + sep + tail)
        print("\n".join(rows))
        return

    # warm (compile) once at base scale, then measure base and scaled
    run_suite(spark, args.sf)
    base = run_suite(spark, args.sf)
    scaled = run_suite(spark, big_dir)

    lines = [
        "# SCALE — linearity probe for the dedup/text family",
        "",
        f"Generated by `python tools/scale_probe.py --mult {args.mult}` "
        f"(base {args.sf}, scaled corpus = {args.mult} disjoint alphabet-rotated shards,",
        "duplicate density constant, volume ×" + str(args.mult) + ").",
        "",
        "A linear operator should show time ratio ≈ ×"
        + str(args.mult)
        + " (modulo fixed costs amortizing); a quadratic pair stage would show ×"
        + str(args.mult * args.mult)
        + ".",
        "",
        "| query | base s | ×" + str(args.mult) + " s | ratio |",
        "| --- | --- | --- | --- |",
    ]
    for name in PROBES:
        r = round(scaled[name] / base[name], 1) if base[name] > 0 else float("nan")
        lines.append(f"| {name} | {base[name]:.2f} | {scaled[name]:.2f} | ×{r} |")

    # embeddings: bucket-blocked pair ops are QUADRATIC at fixed
    # quantizer parameters by design — the honest scaling statement is
    # "pairs ×m² per bucket until you add planes/cells". Measure it.
    m = args.emb_mult
    emb_dir = f"{tempfile.gettempdir()}/j2h_scale_emb_{m}x"
    build_scaled_embeddings(spark, args.sf, m, emb_dir)
    run_emb_suite(spark, args.sf)
    ebase = run_emb_suite(spark, args.sf)
    escaled = run_emb_suite(spark, emb_dir)
    lines += [
        "",
        f"## Embeddings family (×{m} volume, FIXED quantizer parameters)",
        "",
        "j10/j5 are per-row/per-cluster passes → expect ~×" + str(m) + ".",
        "j16/j18 block on a FIXED 6-plane/64-bucket quantizer, so at",
        f"constant parameters the within-bucket pair count grows ×{m * m}",
        "— the measured super-linear ratio below is the DESIGNED",
        "behavior, and the scale dial is adding planes (+2 planes per",
        "×4 growth keeps bucket occupancy, and therefore pair cost per",
        "row, constant). The probe pins the trend so a silent change to",
        "the blocking (e.g. losing the bucket join) shows up as a jump",
        f"past the ×{m * m} envelope.",
        "",
        f"| query | base s | ×{m} s | ratio | expected |",
        "| --- | --- | --- | --- | --- |",
    ]
    expect = {
        "j10_embed_norm": f"~×{m} (linear)",
        "j5_centroid": f"~×{m} (linear)",
        "j16_dedup_embed": f"≤×{m * m} (pairs, fixed planes)",
        "j18_ann_lsh": f"≤×{m * m} (pairs, fixed planes)",
    }
    for name in EMB_PROBES:
        r = round(escaled[name] / ebase[name], 1) if ebase[name] > 0 else float("nan")
        lines.append(
            f"| {name} | {ebase[name]:.2f} | {escaled[name]:.2f} | ×{r} | {expect[name]} |"
        )
    (REPO / "SCALE.md").write_text("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
