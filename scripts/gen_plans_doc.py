"""Regenerate docs/PLANS.md: formatted physical plans of headline queries.

Human-readable evidence for the plan shapes that tests/test_plans.py
pins — run after any planner-visible change.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kmeans_clustering_spark.plans import explain_str, shuffle_count  # noqa: E402
from flink_kmeans_clustering_spark.session import get_spark  # noqa: E402

PICKS = [
    (
        "q_assign",
        "Narrow array-literal argmin assignment — zero shuffles, scan and "
        "argmin in one stage (the argmin's transform runs interpreted, "
        "outside whole-stage codegen)",
    ),
    (
        "q_rel_pricing",
        "TPC-H Q1 shape — pushed shipdate filter, pruned 7-column scan, "
        "partial+final hash agg",
    ),
    (
        "q_rel_shipping",
        "TPC-H Q3 shape — broadcast dimension joins, TakeOrderedAndProject top-10",
    ),
    ("q_topk_sim", "Brute-force cosine top-k — shuffle-free TakeOrderedAndProject"),
    ("q_events_topk", "Per-key window top-k — WindowGroupLimit rank pushdown"),
    (
        "q_dedup_minhash",
        "MinHash LSH — codegen'd per-lane MIN aggregates, banded self-join",
    ),
    (
        "q_assign_join",
        "Assignment with the centroids given as a DataFrame — its k rows "
        "are collected on the driver and fed to the same narrow "
        "array-literal argmin as q_assign; no join, zero shuffles",
    ),
    (
        "q_rel_tradevolume",
        "Generalized TPC-H Q7 — all dims broadcast, single aggregate shuffle",
    ),
    (
        "q_text_repetition",
        "Row-local Gopher repetition signals — zero-shuffle narrow map",
    ),
    (
        "q_text_tfidf",
        "tf-idf top-k — WindowGroupLimit bounded-memory rank; df/N broadcast back",
    ),
    (
        "q_dedup_decontam",
        "Decontamination — benchmark shingles broadcast, corpus never shuffled",
    ),
    (
        "q_ann_ivf",
        "IVF probe search — the cell isin() filter sits in the scan "
        "(partition pruning on a cell-partitioned table); top-k never sorts",
    ),
    (
        "q_rel_forecast",
        "TPC-H Q6 shape — every predicate pushed to the parquet reader, "
        "single-shuffle global aggregate",
    ),
    (
        "q_rel_mktshare",
        "TPC-H Q8 shape — seven-table tree, every dimension broadcast, "
        "numerator+denominator in one aggregation pass",
    ),
    (
        "q_rel_mincost",
        "TPC-H Q2 shape — zero-exchange synthesized partsupp, dims "
        "broadcast, decorrelated per-part MIN + equality join-back",
    ),
    (
        "q_rel_waiting",
        "TPC-H Q21 shape — double EXISTS/NOT EXISTS as ONE per-order "
        "distinct aggregate; no fact self-join",
    ),
    (
        "q_dedup_prefix",
        "PPJoin prefix join — length+positional filters in the candidate "
        "join condition, first-match min-struct agg replaces distinct",
    ),
    (
        "q_ann_quantized",
        "int8-quantized ANN — integer-dot shortlist and exact rerank, both "
        "TakeOrderedAndProject, shuffle-free",
    ),
    (
        "q_dedup_twostage",
        "Two-stage dedup — blocked cosine-kernel candidates broadcast into "
        "both text lookups; the corpus is never shuffled (candidate + shingle "
        "stages materialize via localCheckpoint, so this final DAG "
        "reads their checkpointed results)",
    ),
    (
        "q_dedup_semantic",
        "Semantic dedup — literal-seed nearest-seed blocking (one narrow "
        "projection, argmax per row), then the blocked cosine kernel: one "
        "block-key exchange into a per-block pandas GEMM "
        "(FlatMapGroupsInPandas)",
    ),
    (
        "q_text_lmscore",
        "Unigram LM score — vocab/total from (doc,token) partials, "
        "broadcast back; text scanned once",
    ),
    (
        "q_rel_groupsets",
        "GROUPING SETS lattice — ONE Expand + one aggregate shuffle, "
        "dimension chain broadcast end-to-end",
    ),
    (
        "q_profile",
        "Column profiling — one pruned aggregate branch per column "
        "unioned (no N+1-way Expand of the full scan)",
    ),
    (
        "q_ann_filtered",
        "Metadata-filtered vector search — lang/n_chars predicates pushed "
        "into the documents scan, survivors id-joined, knn_join's "
        "WindowGroupLimit tail ranks within the filtered corpus",
    ),
    (
        "q_dedup_spans",
        "Span-level substring dedup — linear lead-chain shingles, "
        "distinct-doc df aggregate, gaps-and-islands merge; no pair join",
    ),
    (
        "q_events_attribution",
        "Last-touch attribution — running last(ignorenulls) over "
        "strictly-prior rows; one user-key window, no interval self-join",
    ),
    (
        "q_events_runs",
        "Gaps-and-islands — both windows and the aggregate share one "
        "user-hash exchange",
    ),
    (
        "q_events_pattern",
        "CEP strict-contiguity match — window leads, row-local predicate, "
        "O(pattern) state per key",
    ),
    (
        "q_rel_upsert",
        "MERGE shape — one full outer join + coalesce arms over the "
        "change-batch aggregate",
    ),
    (
        "q_knn_join",
        "k-NN join — query batch broadcast (corpus scanned once), "
        "norms projected once per row below the join so a pair folds one "
        "dot, WindowGroupLimit bounds the per-query ranking before the "
        "only exchange, NULL cosines dropped after the window",
    ),
    (
        "q_embed_cov",
        "Distributed XᵀX — Arrow-batch GEMM partials below the single "
        "O(dim²) exchange; count/sums/moments from one pass",
    ),
    (
        "q_sample_weighted",
        "Efraimidis-Spirakis weighted sample — narrow hash projection, "
        "TakeOrderedAndProject, zero shuffles",
    ),
    (
        "q_graph_triangles",
        "Triangle counting — degree-ordered wedge join over the "
        "support-thresholded co-occurrence graph",
    ),
    (
        "q_text_bm25",
        "BM25 — corpus token stream filtered to query terms in-scan; "
        "df and corpus stats broadcast back; TakeOrdered top-20",
    ),
    (
        "q_rel_dpp",
        "Dynamic Partition Pruning — the fact scan's PartitionFilters "
        "carry a dynamicpruning subquery over the filtered dim",
    ),
    (
        "q_dedup_prefix",
        "Prefix-filter exact set-similarity join — candidates from "
        "rarest-first prefixes, per-candidate exact verification",
    ),
    (
        "q_ann_pq",
        "Product-quantization ADC — codes from one numpy-kernel "
        "MapInArrow pass, the LUT a literal: join-free scoring, both "
        "cuts TakeOrderedAndProject",
    ),
    (
        "q_text_mlquality",
        "Frozen-logistic quality classifier — sigma(z) entirely in-scan, "
        "zero shuffle, no Python hop",
    ),
    (
        "q_text_novelty",
        "N-gram novelty — per-doc join against the SMALL df>=2 shingle "
        "set (the complement), one shingle exchange",
    ),
    (
        "q_text_seg_dedup",
        "Segment boilerplate removal — zero-shuffle segment fan-out, "
        "one segment-text exchange, ordered md5 reconstruction",
    ),
    (
        "q_text_redact",
        "PII redaction — fixed-order regexp_replace chain, scan-speed "
        "narrow map",
    ),
    (
        "q_sample_temperature",
        "Temperature mixing — k-row rate derivation driver-side, "
        "narrow md5-bucket predicate in the scan",
    ),
    (
        "q_events_covered",
        "Interval-union coverage — ONE user-key exchange shared by both "
        "window passes and the island aggregate",
    ),
    (
        "q_ann_mrr",
        "IVF MRR eval — broadcast probe lists, one corpus scan per side, "
        "WindowGroupLimit before the bounded exchanges",
    ),
    (
        "q_events_funnel_windowed",
        "Windowed funnel — per-stage pushed type filters; the window "
        "test is a filter on the O(users) frontier join, no interval "
        "self-join",
    ),
    (
        "q_text_winnowing",
        "Winnowing fingerprints — posexplode + bounded sliding window "
        "on the doc key; no shuffle beyond it",
    ),
    (
        "q_rel_skewjoin",
        "Salted skew join — SortMergeJoin on (key, salt), dim replicated "
        "16 ways, merge-hinted so no silent broadcast hides the salt",
    ),
    (
        "q_embed_matryoshka",
        "Matryoshka recall — all prefix-dim cosines from ONE corpus scan "
        "(broadcast query batch), single exchange on (query, level)",
    ),
    (
        "q_dedup_bloom",
        "Bloom prefilter — literal-array bit tests in codegen on the "
        "probe scan; only the bounded benchmark side ever aggregates",
    ),
    (
        "q_ann_ivfpq",
        "IVFADC — probed-cell filter pushed to the scan, residual codes "
        "from the numpy kernel (MapInArrow) and per-cell ADC LUTs as "
        "parsed literals (join-free), both cuts TakeOrderedAndProject",
    ),
    (
        "q_text_dsir",
        "DSIR importance weights — one (doc, bucket) count shuffle, the "
        "256-row hashed-ngram LM and totals broadcast back, decimal-"
        "exact weight sums, top-20 never sorts globally",
    ),
    (
        "q_sample_coreset",
        "k-means coreset — two corpus passes (per-dim mean, decimal "
        "distance mass), 1-row broadcasts back, Efraimidis-Spirakis "
        "draw as TakeOrderedAndProject",
    ),
    (
        "q_dedup_gear",
        "Content-defined chunking — cut/slice/digest as ONE let-bound "
        "codegen expression per row, a single linear digest-aggregate "
        "shuffle, join-free",
    ),
    (
        "q_multimodal_agreement",
        "CLIP agreement filter — modality cut pushed to the scan, "
        "frozen-head towers as parsed literals, ONE image-features ⋈ "
        "captions join, histogram/projection/cosine all row-local "
        "(no Generate)",
    ),
    (
        "q_dedup_delta",
        "Snapshot delta-dedup — row-local gear chunk kernel per side, "
        "old-digest distinct + digest-key membership join (uniform md5 "
        "keys, skew-free), k-row group rollups",
    ),
    (
        "q_dedup_crossmodal",
        "Cross-modal joint dedup — aHash pigeonhole pairs x caption "
        "token-set fingerprint pairs (hot caps on both blocks), ONE "
        "pair-key full-outer join, no cartesian anywhere "
        "(the two trainer queries new in r11 return k-row driver "
        "state — their distributed passes are plan-pinned in "
        "tests/test_plans.py instead)",
    ),
    (
        "q_dedup_crossmodal_delta",
        "Incremental cross-modal dedup (r12) — the daily-ingest shape: "
        "new-lane x all candidates on BOTH modality sides (increment-"
        "sized, never corpus-squared), full-corpus hot caps, the same "
        "ONE pair-key full-outer join + against_index classification "
        "(the two r12 trainer-evaluation queries — BPE encode, "
        "classifier calibration — return vocabulary-/bin-sized frames; "
        "their distributed passes are plan-pinned in tests/test_plans.py)",
    ),
    (
        "q_dedup_crossmodal_keepset",
        "Ingest keep-set report (r13) — the write-side of the delta "
        "pass: the same no-cartesian pair physics, then pair-sized "
        "two-direction touch aggregate and a lane-scan equi-join; the "
        "per-doc decision CASE is a narrow projection (the two r13 "
        "trainer/eval queries — tokenizer fertility, calibrated gate — "
        "return |sources|-row frames; their distributed passes are "
        "plan-pinned in tests/test_plans.py)",
    ),
    (
        "q_dedup_keepset_compaction",
        "Keep-set compaction delta (r14) — the keep-set chain plus ONE "
        "index-lane scan collapsing straight to a |sources|-row "
        "(docs, tokens) aggregate and a |sources|-row full-outer join: "
        "the index is counted, never shuffled and never pair-joined "
        "(the two r14 trainer/eval queries — vocabulary-size sweep, "
        "gate PR curve — are plan-pinned in tests/test_plans.py)",
    ),
]


def main() -> int:
    import __spark_entry__ as mod

    spark = get_spark(app_name="plans-doc", shuffle_partitions=32)
    sf_dir = "/root/testdata/sf0.01"
    out = [
        "# Physical plans of headline queries (generated; sf0.01, "
        f"{spark.sparkContext.master}, AQE on)",
        "",
        "Regenerate with `python scripts/gen_plans_doc.py`.  The shapes below are",
        "pinned by `tests/test_plans.py`; this file is the human-readable evidence.",
        "",
    ]
    for name, blurb in PICKS:
        df = mod.queries()[name](spark, sf_dir)
        plan = explain_str(df)
        out.append(f"## {name}\n\n{blurb} — {shuffle_count(df)} shuffle(s).\n")
        out.append("```")
        out.append(plan.split("\n\n")[0].rstrip())  # tree only, not node detail
        out.append("```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "docs", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
