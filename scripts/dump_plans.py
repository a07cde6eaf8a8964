"""Dump formatted physical plans of queries at sf0.1.

Usage:
  python scripts/dump_plans.py
      Regenerate PLANS.md: the plans of the representative queries
      below — the artifact for reviewing shuffle/pushdown/codegen
      properties without running anything.
  python scripts/dump_plans.py --round rNN <before|after> <query> [...]
      Write each named query's full ``.explain('formatted')`` output to
      ``plans/rNN/<query>_<before|after>.txt``, the before/after
      evidence of an optimization round. For multi-action lifecycle
      queries the dumped plan is the FINAL returned frame's (the only
      plan a DataFrame can carry); job-count evidence for
      lifecycle-internal changes comes from scripts/profile_query.py.

SPARK_GRAFT_SF_DIR overrides the data directory.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

REPRESENTATIVE = [
    ("q01_pricing_summary", "scan + filter pushdown + hash aggregate"),
    ("q02_filter_project", "pushed filters, pruned read schema"),
    ("q03_join_revenue", "star join: all dimensions broadcast, one exchange"),
    ("q04_topk_per_group", "window top-k: single shuffle, no global sort"),
    ("q16_asof_join", "as-of join as ordered window, single shuffle"),
    ("q23_dedup_exact", "exact dedup: one shuffle on fingerprint"),
    ("q29_minhash_lsh", "LSH banding: bucket equi-join instead of n^2"),
    ("q31_knn_bruteforce", "ANN brute force: query side broadcast"),
    ("q52_tpch_q6", "pure scan query: all predicates at the scan"),
    ("q71_tpch_q18_volume", "HAVING subquery broadcast into semi join"),
    ("q73_tpch_q19_disjunctive", "disjunctive predicate split + pushdown"),
    ("q76_range_join", "interval bucketing: hash join, no CartesianProduct"),
    ("q77_cascade_rollup", "hourly->daily rollup of mergeable partials"),
    ("q43_tfidf", "two-shuffle TF-IDF, scalar N broadcast"),
    ("q91_tpch_q5", "snowflake: dims pruned+broadcast, runtime bloom filter"),
    ("q92_tpch_q17", "decorrelated avg subquery: co-keyed join, no per-row exec"),
    ("q95_embedding_quant", "array higher-order fns: whole vector path in codegen"),
    ("q98_line_dedup", "corpus line-frequency: two co-keyed shuffles"),
    ("q48_sketch_rollup", "mergeable HLL partials: hourly->daily, no re-scan"),
    ("q110_theta_set_ops", "theta sketches: distinct-set algebra, one scan"),
    ("q112_salted_join", "salted join: (key,salt) spread, dim replicated"),
    ("q30_ngram_jaccard", "PPJoin: asymmetric prefixes + parallel verify"),
    ("q125_triangle_count", "multiway self-join, a<b<c ordering"),
    ("q128_recursive_cte", "WITH RECURSIVE: iterated frontier joins"),
    ("q131_lateral_join", "lateral top-k decorrelated to ranked join"),
    ("q129_sql_udf", "SQL UDF inlined by Catalyst, no Python worker"),
    ("q32_embedding_neardup", "LSH-bucketed near-dup: no nested-loop join"),
    ("q33_lsh_topk", "multi-table LSH ANN + in-plan exact recall gate"),
    ("q139_expectations", "whole rule set in ONE scan, 1-row exchanges only"),
    ("q141_kmeans_clusters", "Lloyd rounds: k-row broadcast assign, combinable recompute"),
    ("q143_markov_transitions", "ordered lead + combinable counts, tiny output"),
    ("q151_winnow_fingerprint", "winnowing: single codegen projection, no explode/shuffle"),
    ("q152_semantic_dedup", "SemDeDup: derived-k clusters, capped shards, one pandas stage"),
    ("q154_runtime_filter", "runtime IN-filter: dim keys pushed into fact scan"),
    ("q157_trend_fit", "regr_* moment aggregates: map-side partials, |series| shuffle"),
    ("q171_ivm_minmax_rescan", "IVM delete of min/max: targeted broadcast-bounded rescan"),
    ("q173_embedding_covariance", "Gram partials per partition: corpus never shuffles"),
    ("q189_heavy_hitters", "MG summaries per partition + broadcast-semi recount"),
    ("q190_weighted_sample", "E-S race as TakeOrderedAndProject, no full sort"),
    ("q192_pq_adc_topk", "ADC: literal dot tables, codes-only scan, window top-k"),
    ("q205_training_shards", "two-phase global rank: no single-partition window"),
    ("q211_chunk_windows", "sliding chunker: one codegen projection, zero shuffle"),
    ("q214_dup_ngram_coverage", "span dedup: one parse, count-over-window, no self-join"),
    ("q217_int8_quantization", "d-row calibration broadcast back into codegen quantize"),
    ("q224_pipeline_funnel", "whole curation funnel fused: scan + fp window + one agg"),
    ("q229_ivfpq_recall", "IVFPQ: pruned list scan, codes-only ADC, broadcast re-rank"),
    ("q230_chi2_vs_state", "chi2 vs state: one batch scan, O(categories) tail"),
    ("q241_ivfpq_compact", "compacted IVFPQ: base+cells read, watermark filter, pruned probe"),
    ("q243_ivfpq_residual", "residual ADC: per-list literal tables on broadcast probe rows"),
    ("q245_adaptive_nprobe", "adaptive filtered probe: pushed cat filter, pruned widening scans"),
    ("q249_edit_join", "edit-distance join: variant equi-join, no nested-loop join"),
    ("q252_entity_resolution", "fuzzy pairs over distinct names, CC labels joined back"),
    ("q256_ivfpq_adaptive_nprobe", "covering IVFPQ adaptive probe: attr filter pushed into pruned scan"),
    ("q258_golden_records", "survivorship: ONE max_by aggregate pass, no windows"),
    ("q261_mdm_pipeline", "MDM compose: variant equi-join -> argmin window -> max_by survivorship"),
    ("q266_sequence_packing", "sequence packing: ONE shard exchange + Arrow-batched per-shard pass"),
    ("q267_phonetic_blocking", "phonetic blocking: key equi-join unioned with variant equi-join, no nested loop"),
    ("q269_chunk_documents", "library chunker: narrow codegen map, zero exchange, zero Python"),
    ("q270_chunk_then_pack", "chunk-then-pack: narrow chunk stage + packing's single shard exchange"),
    ("q271_repetition_quality", "repetition metrics: sorted-array run-length stats, zero exchange, no explode"),
    ("q281_packed_attention", "packed windows + attention metadata: one id-keyed array shuffle, one pack aggregate, metadata in the same projection"),
    ("q282_epoch_repeats", "epoch plan: broadcast quota join, generated explode, two-level bucketed remainder race (every window bucketed)"),
    ("q286_epoch_packed_tensors", "epoch-repeated tensors: derived-id join generates repeats, single pack aggregate"),
    ("q287_training_pipeline", "end-to-end pipeline: filter scan -> dedup group-limit -> selection race -> chunked encode -> pack shuffle"),
]


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_round(spark, rnd: str, suffix: str, names: list[str]) -> None:
    """Write each query's formatted plan to plans/<rnd>/."""
    from etlhelper_spark.plans import QUERIES

    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = _formatted_plan(QUERIES[name](spark, SF_DIR))
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out}", file=sys.stderr)


def write_plans_md(spark) -> None:
    from etlhelper_spark.plans import QUERIES

    out = [
        "# PLANS — physical plans of representative queries (sf0.1)",
        "",
        "Generated by `python scripts/dump_plans.py`. Shows the",
        "shuffle/broadcast/pushdown structure the engine produces —",
        "`Exchange` = shuffle, `BroadcastExchange`/`BroadcastHashJoin` =",
        "broadcast, `PushedFilters`/`ReadSchema` = scan pushdown,",
        "`[codegen id : N]` = whole-stage codegen span.",
        "",
    ]
    for name, note in REPRESENTATIVE:
        plan = _formatted_plan(QUERIES[name](spark, SF_DIR))
        tree = plan.split("\n\n")[0]
        scans = [
            block
            for block in plan.split("\n\n")
            if "PushedFilters" in block or "ReadSchema" in block
        ]
        out.append(f"## {name} — {note}\n")
        out.append("```")
        out.append(tree)
        for s in scans[:3]:
            out.append("")
            kept = [line for line in s.splitlines()
                    if any(k in line for k in
                           ("Scan", "PushedFilters", "ReadSchema",
                            "PartitionFilters"))]
            # literal IN lists (runtime filters) can be thousands of
            # chars; the property reviewed is THAT the filter is
            # pushed, not its values
            out.append("\n".join(
                line if len(line) <= 400 else line[:400] + " …]"
                for line in kept
            ))
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--round",
        metavar="rNN",
        help="dump the named queries into plans/rNN/ instead of PLANS.md",
    )
    ap.add_argument("suffix", nargs="?", choices=("before", "after"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.round and not (args.suffix and args.queries):
        ap.error("--round needs <before|after> and at least one query")
    if not args.round and (args.suffix or args.queries):
        ap.error("<before|after> and queries need --round")

    from etlhelper_spark.session import get_session

    spark = get_session("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.round:
        dump_round(spark, args.round, args.suffix, args.queries)
    else:
        write_plans_md(spark)


if __name__ == "__main__":
    main()
