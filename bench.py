"""Benchmark harness: runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Full TPC-H 22 (BASELINE.md bench discipline: sec/query at sf0.1).
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier",
    "tpch_q17_small_quantity",
    "tpch_q18_large_volume_customer",
    "tpch_q19_discounted_revenue",
    "tpch_q20_potential_promotion",
    "tpch_q21_suppliers_waiting",
    "tpch_q22_global_sales_opportunity",
    # streaming micro-suite (BASELINE.md bench discipline): the events
    # table through real Structured Streaming (AvailableNow drain)
    "stream_tumble_agg",
    "stream_interval_join",
    "stream_dedup_first",
    "stream_topn_changelog",
    # training-data pipeline suite (BASELINE.md third group): dedup,
    # similarity search, quality filtering, packing, vocabulary
    "llm_dedup_exact",
    "llm_minhash_lsh_pairs",
    "llm_cosine_topk",
    "pipe_quality_filter",
    "pipe_sequence_pack",
    "pipe_vocab_top100",
]

# Round-2 operators, timed and reported under "extra" WITHOUT entering the
# headline value — the headline suite stays fixed so the BASELINE.md band
# remains comparable across rounds.
EXTRA = [
    "stream_delta_join",
    "stream_delta_join_ttl",
    "stream_topn_ttl",
    "materialized_table_refresh",
    "format_avro_roundtrip",
    "pipe_sequence_pack_ranged",
    "llm_multimodal_decode",
    "tpcds_q66_monthly_pivot",
    "tpcds_q78_net_of_returns",
    "tpcds_q74_yoy_growth",
    # round-3 operators
    "stream_delta_join_left",
    "stream_cep_timeout",
    "tpcds_q72_two_fact_correlation",
    "tpcds_q21_inventory_ratio",
    "pipe_unigram_logprob",
    "pipe_tfidf_top_terms",
    "llm_audio_decode",
    "llm_pq_topk",
    "stream_late_side_output",
    "hybrid_source_backfill",
    "cdc_ogg_materialize",
    "tableapi_pricing_summary",
    "ddl_catalog_module_roundtrip",
    "tpcds_q37_inventory_instock",
    "tpcds_q92_excess_discount",
    "tpcds_q53_quarterly_class_deviation",
    "pipe_url_dedup",
    # round-4 operators
    "llm_dedup_clusters",
    "pipe_bigram_logprob",
    "stream_source_idleness",
    "stream_watermark_alignment",
    "agg_split_distinct",
    # round-7 operators (ddl_pk_upsert_dml deliberately absent: its cost
    # is ~12 s of managed-table metastore fixed overhead on 25 rows —
    # pure commit cost, not a data-scale signal)
    "ddl_delete_update_roundtrip",
    "llm_vector_search_sql_ann",
    "tpcds_q28_band_distinct_stats",
    "tpcds_q11_two_channel_growth_customers",
    # round-7 continuation operators
    "agg_bitmap_merge_family",
    "fn_hash_json_random_suite",
    "agg_group_id",
    "ml_evaluate_metrics",
    # round-9 operators
    "stream_group_agg_retract",
    "datastream_v2_pipeline",
    "pipe_curation_e2e",
    "llm_image_neardup",
    "llm_video_dedup",
    "llm_audio_spectral",
    # of the five r9-continuation streaming ops, bench the three
    # non-overlapping shapes: the curation chain subsumes the minhash
    # near-dup stage, and the PQ ingest covers the add-after-train shape
    # (IVF probing is already exercised by llm_vector_search_sql_ann's
    # index routing). All five have dedicated sf1 ratios in BASELINE.md.
    "stream_semantic_neardup",
    "stream_curation_e2e",
    # round-10 operator: disjunctive NOT IN three-valued rewrite
    "sql_not_in_disjunctive",
    "stream_pq_ingest",
    # round-11 operators: value-position [NOT] IN three-valued rewrite
    # and ANY/SOME/ALL quantified comparisons (sf1 ratios in BASELINE.md
    # r11 section: 1.98x / 1.00x)
    "sql_not_in_projected",
    "sql_quantified_any_all",
    # round-12 operators: row-value (tuple) [NOT] IN three-valued
    # rewrite and correlated quantified comparisons (sf1 ratios in
    # BASELINE.md r12 section)
    "sql_not_in_tuple",
    "sql_quantified_correlated",
]


def multifile_layout(sf_dir: str, n_files: int = 10) -> str:
    """Materialize a multi-file replica of ``sf_dir`` (same rows, each
    large table split into ``n_files`` parquet part-files; small dims
    symlinked) so the bench measures real scan parallelism instead of the
    single-row-group layout's one-task scans — at 100 TB every table is
    thousands of files, so this is the representative layout. Cached by
    marker; ~seconds to build at sf0.1."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    dest = os.path.join(
        "/tmp", "flink_spark_multifile_" + sf_dir.strip("/").replace("/", "_")
    )
    marker = os.path.join(dest, f"_ok_{n_files}")
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    for fname in os.listdir(sf_dir):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(sf_dir, fname)
        out = os.path.join(dest, fname)
        tbl = pq.read_table(src)
        if tbl.num_rows < 10_000:
            if not os.path.lexists(out):
                os.symlink(src, out)
            continue
        os.makedirs(out, exist_ok=True)
        step = (tbl.num_rows + n_files - 1) // n_files
        for i in range(n_files):
            part = tbl.slice(i * step, step)
            if part.num_rows:
                pq.write_table(
                    part, os.path.join(out, f"part-{i:05d}.parquet"),
                    store_schema=True,
                )
    with open(marker, "w") as fh:
        fh.write("ok")
    return dest


def time_suite(spark, names, sf_dir: str, passes: int, queries) -> dict[str, float]:
    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            t0 = time.perf_counter()
            queries[name].fn(spark, sf_dir).collect()
            dt = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings.get(name, dt), dt)
    return timings


def contract_line(out: dict, sc) -> str:
    """The last stdout line: ``out`` (the full result) as compact JSON
    that fits a ~2000-char capture of the output's tail. ``cpus``,
    ``master`` and ``defaultParallelism`` (of SparkContext ``sc``) say
    what the numbers ran on, so scaling can be checked across runs."""
    timings, extra, mf = out["queries"], out["extra"], out["queries_multifile"]
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": {n: round(timings[n], 2) for n in timings},
        "value_multifile": out["value_multifile"],
        "extra_sec": out["extra_sec"],
        "n_headline": len(timings),
        "n_extra": len(extra),
        "extra_t": [round(extra[n], 2) for n in EXTRA if n in extra],
        "mf_t": [
            round(mf[n], 2) for n in timings if isinstance(mf.get(n), float)
        ],
        "sf": out["sf"],
        "cpus": os.cpu_count(),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
    }
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from flink_spark.session import get_spark
    from flink_spark.queries.registry import QUERIES

    spark = get_spark("flink_spark-bench", cpus=cpus)

    names = [n for n in HEADLINE if n in QUERIES]
    # warm the JVM + parquet footers once with the cheapest query
    QUERIES[names[0]].fn(spark, sf_dir).collect()

    # Two passes, per-query min: single-pass numbers at sf0.1 carry ±20%
    # JVM/GC + page-cache noise that swamps real plan regressions; the
    # min of two warm runs tracks the plan cost, which is the thing a
    # round-over-round comparison should gate on (BASELINE.md section
    # "methodology").
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings = time_suite(spark, names, sf_dir, passes, QUERIES)

    # same suite over the multi-file layout (10 part-files per big table):
    # the scan-parallelism-representative numbers (VERDICT r2 #9). The
    # single-file "queries"/"value" stay the round-comparable headline.
    try:
        mf_dir = multifile_layout(sf_dir)
        mf_timings = time_suite(spark, names, mf_dir, passes, QUERIES)
    except Exception as e:  # pragma: no cover - layout build best-effort
        mf_dir, mf_timings = None, {"__error__": str(e)[:200]}

    # extras get the SAME two-pass-min treatment as the headline: the r6
    # single-cold-pass numbers amplified box contention into fake 2x
    # regressions (VERDICT r6, "What's wrong" #3)
    extra = time_suite(spark, [n for n in EXTRA if n in QUERIES], sf_dir,
                       passes, QUERIES)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_multifile": mf_timings,
        "value_multifile": round(
            sum(v for v in mf_timings.values() if isinstance(v, float)), 4
        ),
        "extra": extra,
        "extra_sec": round(sum(extra.values()), 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
    }
    print(json.dumps(out))
    # The driver records only a ~2000-char tail of stdout; the full line
    # above overflows it, truncating away the per-query keys (VERDICT r7
    # "What's wrong" #3; r12 #1: PERF per_query was empty two rounds
    # running). Fix (r13, measurement-output only — methodology, timed
    # actions and query set unchanged): the LAST line is the compact
    # contract JSON carrying ALL 32 headline per-query seconds by name at
    # 2 dp (~1.5 KB < the 2 KB tail), so the driver's per_query and
    # scaling.per_query parse non-empty. The 54 extras don't fit by name
    # next to the headline dict, so the final line carries them as
    # ``extra_t``, a position-aligned array over the EXTRA list declared
    # above (same filter/order as the timed loop); ``mf_t`` is the
    # multifile headline the same way over HEADLINE. The second-to-last
    # line spells the extras by full name for human readers (its head may
    # be clipped by the tail capture; the final line never is).
    extra_names = [n for n in EXTRA if n in extra]
    print(json.dumps(
        {
            "metric": "extra_per_query",
            "extra": {n: round(extra[n], 2) for n in extra_names},
            "sf": out["sf"],
        },
        separators=(",", ":"),
    ))
    print(contract_line(out, spark.sparkContext))
    spark.stop()


if __name__ == "__main__":
    main()
