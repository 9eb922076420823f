"""Plan-quality report: prints the physical-plan properties that
matter at scale for each headline query — pushed filters reaching the
parquet scans, partition filters, join strategies, whole-stage codegen
spans, and any Python evaluation nodes. Usage:

    python tools/plan_report.py [sf_dir] [query ...]

CHECKPOINT-AWARE: gates that compose stages through
``localCheckpoint(eager=True)`` or a shard export truncate their final
lineage — the returned DataFrame's plan shows only the last segment
(the round-9 flagship printed "scans: 1, joins: 0" for a five-stage
pipeline). While a query builds, this tool therefore captures ONE
SUB-BLOCK PER SEGMENT at every boundary:

- every ``DataFrame.localCheckpoint`` call (the plan that the
  checkpoint materializes),
- every ``layout.write_jsonl_shards`` export (the plan the shard
  writer executes),
- every explicit ``entry_queries_ops.PLAN_PROBE`` stage marker
  (labeled probes inside composed flagships).

The final block then reports the returned frame's own plan plus the
TOTAL python-eval/arrow-eval count across all segments — the
zero-Python claim is asserted per segment, not inherited.
"""

from __future__ import annotations

import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Python workers don't inherit the driver's sys.path: point them at
# the same tree, or pandas-UDF stages import another checkout's code
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)

DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "h3_parent_agg_sum",
    "h3_compact",
    "h3_cell_membership",
    "ann_cosine_top3",
    "dedup_minhash_lsh_pairs",
    "text_stats",
    "events_asof_join",
    "events_range_join",
    "events_salted_join",
    "events_sessionize",
    "text_repetition",
    "text_gopher_quality",
    "dedup_lsh_verified",
    "corpus_stratified_sample",
    "corpus_decontaminate",
    "q9_profit_by_nation_year",
    "q21_blocking_suppliers",
    "q2_cheapest_supplier",
    "ann_sq8_top3",
    "text_boilerplate",
    "text_surprisal",
    "dedup_cross_modal",
    "dedup_semantic",
    "source_zordered_scan",
    # round-5 additions
    "geo_latlng_to_cell_hex",
    "geo_cell_centers_hex",
    "events_hex_parent_rollup",
    "corpus_dsir_weights",
    "q11_important_suppliers",
    # round-6 additions
    "dedup_substring_spans",
    "dedup_segments",
    "dedup_span_excise",
    "text_c4_filter",
    "events_global_cumsum",
    "text_bpe_pairs",
    "text_bpe_merge_apply",
    "text_bigram_surprisal",
    "corpus_quality_auc",
    "multimodal_phash_pairs",
    "corpus_clean_pipeline",
    "corpus_resampled_mix",
    # round-8/9 additions
    "events_ks_drift",
    "corpus_w1_drift",
    "graph_hits",
    "lineitem_copurchase_lift",
    "part_fuzzy_match",
    "ann_tiered_rerank",
    "corpus_curation_e2e",
    "events_funnel_conversion",
    "corpus_ngram_diversity",
    "corpus_pack_curriculum",
    "embedding_margin_pairs",
    # round-10 additions
    "embedding_margin_pairs_ivf",
    "multimodal_curation_e2e",
    # round-11 additions
    "streaming_cdc_tableset",
    "corpus_key_skew",
    # round-12 additions
    "multimodal_phash_density",
    "pipeline_query_cells_df",
    "dedup_minhash_buckets",
    # round-13 additions
    "dedup_minhash_guided",
]


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _stats(plan: str) -> dict:
    pushed = [
        p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if p.strip()
    ]
    parts = [
        p for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if p.strip()
    ]
    return {
        "scans": plan.count("FileScan"),
        "pushed": pushed,
        "parts": parts,
        # dynamic partition pruning subqueries in the scan (DPP fires
        # only for broadcast-reusable, selectively-filtered probe
        # sides — the static PartitionFilters path is the reliable
        # one; this counter verifies which form a plan actually got)
        "dpp": len(re.findall(r"dynamicpruning", plan, re.IGNORECASE)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "hashagg": plan.count("HashAggregate"),
        "pyeval": plan.count("BatchEvalPython"),
        "arrow": plan.count("ArrowEvalPython"),
        "pandas": plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas"),
    }


def _print_block(indent: str, s: dict) -> None:
    print(
        f"{indent}scans: {s['scans']}  "
        f"pushed-filter scans: {len(s['pushed'])}  "
        f"partition-filter scans: {len(s['parts'])}  "
        f"dynamic-pruning: {s['dpp']}"
    )
    print(
        f"{indent}joins: broadcast={s['bhj']} "
        f"sortmerge={s['smj']} nestedloop={s['bnlj']}"
    )
    print(
        f"{indent}hashagg={s['hashagg']} python-eval={s['pyeval']} "
        f"arrow-eval={s['arrow']} pandas={s['pandas']}"
    )
    if s["pushed"]:
        print(f"{indent}example pushdown: {s['pushed'][0][:120]}")


class _SegmentCapture:
    """Record (label, plan) at every composed-segment boundary while a
    gate builds: localCheckpoint calls, shard exports, explicit
    PLAN_PROBE markers."""

    def __init__(self) -> None:
        self.segments: list[tuple[str, str]] = []

    def __enter__(self) -> "_SegmentCapture":
        import pyspark.sql.classic.dataframe as _cd
        import pyspark.sql.dataframe as _bd

        from ukis_h3cellstore_spark import entry_queries_ops as _ops
        from ukis_h3cellstore_spark import layout as _layout

        cap = self

        del _bd  # classic.DataFrame is the runtime type; base stays as-is
        self._orig_ckpt = _cd.DataFrame.localCheckpoint

        def ckpt(df, *a, **kw):
            cap.segments.append(("localCheckpoint", _plan_str(df)))
            return cap._orig_ckpt(df, *a, **kw)

        _cd.DataFrame.localCheckpoint = ckpt

        self._orig_export = _layout.write_jsonl_shards

        def export(df, path, *a, **kw):
            cap.segments.append(("export write_jsonl_shards", _plan_str(df)))
            return cap._orig_export(df, path, *a, **kw)

        _layout.write_jsonl_shards = export
        # entry gates import layout as a module (``L.write_jsonl_shards``)
        # so the module-attribute patch reaches them

        self._ops = _ops
        self._orig_probe = getattr(_ops, "PLAN_PROBE", None)
        _ops.PLAN_PROBE = lambda label, df: cap.segments.append(
            (f"probe {label}", _plan_str(df))
        )
        return self

    def __exit__(self, *exc) -> None:
        import pyspark.sql.classic.dataframe as _cd

        from ukis_h3cellstore_spark import layout as _layout

        _cd.DataFrame.localCheckpoint = self._orig_ckpt
        _layout.write_jsonl_shards = self._orig_export
        self._ops.PLAN_PROBE = self._orig_probe


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or DEFAULT_QUERIES
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    for name in names:
        with _SegmentCapture() as cap:
            df = queries[name](spark, sf_dir)
            final = _stats(_plan_str(df))
        print(f"== {name}")
        segs = [(lbl, _stats(p)) for lbl, p in cap.segments]
        # probe segments are NOT checkpoint boundaries — their lineage
        # overlaps later checkpoint/export captures, so a SUM would
        # double-count nodes; the per-segment MAX is the honest
        # aggregate (zero iff every segment is zero)
        pyeval_max = max([final["pyeval"]] + [s["pyeval"] for _, s in segs])
        arrow_max = max([final["arrow"]] + [s["arrow"] for _, s in segs])
        if segs:
            for i, (lbl, s) in enumerate(segs, 1):
                print(f"   -- segment {i}/{len(segs)} [{lbl}]")
                _print_block("      ", s)
            print(f"   -- final (returned frame)")
            _print_block("      ", final)
            print(
                f"   PER-SEGMENT MAX over {len(segs) + 1} segments: "
                f"python-eval={pyeval_max} arrow-eval={arrow_max}"
            )
        else:
            _print_block("   ", final)
    spark.stop()


if __name__ == "__main__":
    main()
