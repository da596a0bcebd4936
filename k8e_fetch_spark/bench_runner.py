"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}

Each query is fully materialized through the noop sink (measures compute
+ shuffle, not driver collect). A warm-up query first touches the JVM so
session startup is not billed to the first query.

Lives inside the package so the installed wheel can bench itself
(``k8e-fetch-spark bench`` / ``python -m k8e_fetch_spark.bench_runner``);
the repo-root ``bench.py`` shim preserves the driver's ``python
bench.py`` contract.
"""

from __future__ import annotations

import json
import logging
import os
import time

from k8e_fetch_spark.queries import REGISTRY, queries
from k8e_fetch_spark.session import (
    adaptive_enabled_for_dir,
    get_spark,
    shuffle_partitions_for_dir,
)

log = logging.getLogger(__name__)

HEADLINE = [
    "compress_distinct_status",
    "compress_component_union",
    "compress_insert_ignore",
    "catalog_include_keys",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "top_customers_by_revenue",
    "window_order_rank",
    "join_asof_purchase",
    "cube_orders",
    "agg_percentiles",
    "pivot_event_types",
    "rollup_lineitem",
    "agg_statistics",
    "events_tumbling_window",
    "events_session_window",
    "text_stats_per_lang",
    "text_quality_score",
    "dedup_exact_documents",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters_minhash",
    "corpus_prep_pipeline",
    "text_winnowing_fingerprint",
    "having_big_orders",
    "profile_customer_table",
    "sim_topk_cosine_exact",
    "sim_cosine_lsh",
    "sim_kmeans_assign",
    "grouping_sets_orders",
    "array_funcs_embeddings",
    "mm_binary_meta",
    "map_funcs_events",
    "dedup_minhash_lsh_planted",
    "sim_cosine_lsh_planted",
    "text_language_id",
    "text_chunk_documents",
    # round-5 flagships
    "tpch_q21_waiting_supplier",
    "tpch_q9_product_profit",
    "dedup_paragraphs",
    "sample_source_temperature",
    "corpus_clean_mix_pipeline",
    # round-9 flagships
    "dedup_substring_spans",
    "text_domain_filter",
    "join_salted_skew",
    "dedup_semantic_semdedup",
    "sample_dsir_importance",
    "join_bucketed_colocated",
    # round-13 flagship. BM25 is apples-to-apples with its oracle (both
    # engines tokenize + aggregate the same postings); mm_jvm_image_decode
    # deliberately is NOT seated here — its oracle computes the fixture's
    # closed form instead of decoding 5000 PNGs, so a ratio would price
    # real decode work against arithmetic.
    "text_bm25_search",
    # round-14 flagships. All three are apples-to-apples with their
    # oracles (identical semantics both engines): interval overlap prices
    # the bin equi-join vs DuckDB's native IEJoin, URL dedup the codegen
    # canonical expression vs DuckDB's list functions, the anomaly gate
    # the 20-row-frame window vs DuckDB's window engine. sim_topk_mmr is
    # NOT seated: its oracle is a 30-doc recursive CTE after the same
    # top-30 scan — both engines' wall is the scan, so the row would
    # re-price sim_topk_cosine_exact's leg twice.
    "join_interval_overlap",
    "web_url_canonical_dedup",
    "events_anomaly_zscore",
    # round-15 flagship: the retrieval stack composed end to end.
    # Apples-to-apples the corpus_clean_mix_pipeline way — the oracle
    # composes the SAME CTE chains (BM25 scorer, cosine leg, RRF
    # fusion, recursive-CTE MMR greedy) so both engines price the
    # composition: two corpus passes + rank-bounded fusion/pool/greedy.
    # (Per-leg overlap with text_bm25_search is the same accepted
    # overlap corpus_clean_mix_pipeline has with the dedup rows.)
    # stream_anomaly_zscore is NOT seated: its Spark side is an
    # availableNow DRAIN (file staging + checkpoint + sink) while the
    # oracle is the batch window query — that prices streaming
    # machinery against a window function; its batch twin
    # events_anomaly_zscore is the apples-to-apples seat.
    "sim_retrieval_pipeline_multi",
    # Binary-quantized ANN: apples-to-apples — the oracle runs the SAME
    # generated packing chain, full-corpus Hamming, and survivor
    # rescore in DuckDB, so the row prices 1-bit signature scans
    # against DuckDB's expression engine. maintenance_scd2_merge is
    # NOT seated: its oracle is the planted CLOSED FORM of the result
    # (5 UNION branches), not the merge computation — a ratio would
    # price a full-outer merge against literal row construction (the
    # mm_jvm_image_decode reasoning).
    "sim_topk_binary_rescore",
    # round-16 seats (VERDICT r15 #6 — price every new op family that
    # CAN be priced). Both apples-to-apples: the A-Res oracle runs the
    # SAME md5+ln key expression and rank cut in DuckDB (the row prices
    # scan-local scoring + a top-200 heap cut on both engines); the
    # nearest-asof oracle runs the SAME two-frame window computation
    # (the row prices Spark's window engine vs DuckDB's — exactly the
    # join_asof_purchase seat's reasoning). The two r15 families that
    # remain unseated keep their documented reasons above
    # (stream_anomaly_zscore: drain-vs-window; maintenance_scd2_merge
    # and the r16 chain: closed-form planted oracles), recorded in
    # BASELINE.md's r16 section per the verdict.
    "sample_weighted_aes",
    "join_asof_nearest",
    # round-18 seat (VERDICT r17 #3): the SCD2 family's one
    # ratio-priceable CONSUMER query — unlike the merge/chain rows
    # (closed-form oracles, excluded above), the type-2 lookup's real
    # work is the fact-side join: both engines join the full orders
    # table (135k rows at sf0.1) against the dimension history with
    # the same range predicate (Spark: range-as-join-filter on a
    # BroadcastHashJoin; DuckDB: the identical inner join). The
    # dimension-history CTE is closed-form on BOTH sides (Spark builds
    # it through scd2_apply, the oracle as literal branches) — that
    # asymmetry prices the merge machinery ONCE, amortized over the
    # fact join that dominates the row.
    "join_scd2_point_in_time",
]

# Ratio-free streaming rows (VERDICT r16 #5): the suite has real
# streaming queries but the HEADLINE ratio cannot price them honestly —
# their Spark side is an availableNow DRAIN (file staging + checkpoint
# + per-step state writes) while their oracles are batch closed forms.
# These rows are timed (same warm best-of-3 protocol) and recorded under
# "streaming_wall", EXCLUDED from every total/subtotal/ratio (the
# cold_total precedent), so a drain-path regression shows up in a
# recorded number instead of only in pytest duration. One pure
# drain-path row (the stateful z-score gate) + one CDC-fold row (the
# SCD2 chain stream: staging, monotonicity guard, per-step parquet
# state).
STREAM_TIMED = [
    "stream_anomaly_zscore",
    "stream_scd2_chain",
]

# ADVICE r17: STREAM_TIMED rows are EXCLUDED from every total/ratio by
# construction — a row seated in both lists would be double-timed and
# silently fold drain wall into the headline ratio. Fail at import, not
# in a review.
assert not (set(STREAM_TIMED) & set(HEADLINE)), (
    "STREAM_TIMED and HEADLINE must be disjoint: "
    f"{sorted(set(STREAM_TIMED) & set(HEADLINE))}"
)


def _best_of_3(spark, fn, sf_dir: str) -> list[float]:
    """Warm best-of-3 timing protocol, shared by the HEADLINE and
    STREAM_TIMED loops (ADVICE r17 — one implementation, not two
    copies that can drift). One collected heap per query (NOT per
    pass): late rows otherwise inherit ~45 prior queries of heap
    pressure — measured 2x+ on the last row (semdedup 3.6 s fresh vs
    7.7 s at position ~47) while early rows stay flat. Cache cleared
    per pass: the LSH pipelines persist band/shingle tables that
    otherwise bleed into later timings."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    runs = []
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        _load_start = round(os.getloadavg()[0], 2)
    except OSError:
        _load_start = None
    # shuffle width sized from the input bytes (the cluster rule —
    # ~64 MB per post-shuffle partition), not the core count: at bench
    # SFs this cuts the per-exchange scheduling latency of near-empty
    # partitions; at real scale the byte rule dominates and AQE refines.
    # AQE gated on input size (see adaptive_enabled_for_dir): at bench
    # SFs there are no large shuffles to re-plan and AQE's per-exchange
    # stage materialization costs ~0.2 s/query of pure scheduling.
    spark = get_spark(
        app_name="k8e-fetch-spark-bench",
        shuffle_partitions=shuffle_partitions_for_dir(sf_dir),
        extra_conf={
            "spark.sql.adaptive.enabled": str(adaptive_enabled_for_dir(sf_dir)).lower()
        },
    )
    qs = queries()

    # warm-up: JVM/codegen/readers (best-effort; a failure here must
    # not kill the whole record)
    try:
        qs["compress_distinct_status"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as e:
        log.warning("bench warm-up query failed: %s", e)

    # Three passes per query; report the warm (best) time as the
    # headline value — the first pass pays one-off plan analysis +
    # whole-stage codegen compilation, which is amortized noise at any
    # real scale, and best-of-3 (vs -of-2) protects the record against
    # the multi-second stalls this host shows under multi-threaded
    # load (identical runs of the same multi-stage plan measured
    # 1.7 s / 9.5 s back-to-back while a single-thread CPU probe held
    # ±4%; one bad draw out of two polluted r5's minhash row). The
    # DuckDB side below uses best-of-3 too, so the methodology stays
    # symmetric.
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        try:
            runs = _best_of_3(spark, qs[name], sf_dir)
        except Exception as e:  # record and continue: one broken query
            # must not erase the whole suite's record (round-2 lesson)
            errors[name] = str(e).split("\n")[0][:120]
            continue
        cold[name] = round(runs[0], 2)
        warm[name] = round(min(runs), 2)

    # ratio-free streaming rows: same protocol, separate record field,
    # never summed into a total or ratio (see STREAM_TIMED)
    stream_wall: dict[str, float] = {}
    for name in STREAM_TIMED:
        if name not in qs:
            continue
        try:
            runs = _best_of_3(spark, qs[name], sf_dir)
        except Exception as e:
            errors[name] = str(e).split("\n")[0][:120]
            continue
        stream_wall[name] = round(min(runs), 2)

    total = round(sum(warm.values()), 3)
    from k8e_fetch_spark.queries import oracle_sql

    oracles = oracle_sql()
    oracle_subtotal = round(sum(v for k, v in warm.items() if k in oracles), 3)

    # DuckDB reference timings for the same headline queries (best of 3,
    # matching the Spark side), so the per-query Spark/DuckDB ratio is
    # read straight off this line.
    duck_times: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in warm:
            if name not in oracles:
                continue
            try:
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    con.execute(oracles[name]).fetchall()
                    runs.append(round(time.perf_counter() - t0, 3))
                duck_times[name] = min(runs)
            except Exception:
                continue
        con.close()
    except Exception:
        duck_times = {}
    # ONE compact line: the recording driver keeps only the last ~4 KB
    # of output and parses the JSON from it — compact separators and no
    # per-query cold dict keep the whole record inside that window.
    # (Round 1 lost the warm per-query breakdown to exactly this.)
    record = {
        "metric": "headline-suite wall time, warm (noop sink, local)",
        "value": total,
        "unit": "sec",
        # 1-min load average sampled BEFORE the suite ran: this host
        # shows residual external load windows (observed up to 6.4 with
        # zero processes of ours) that inflate every row 2-3x uniformly
        # — a recorded draw with high load_avg_start is a contaminated
        # window, not a regression (see BASELINE.md noise protocol).
        "load_avg_start": _load_start,
        "queries": warm,
        "cold_total": round(sum(cold.values()), 2),
        # subtotal of queries that HAVE a DuckDB oracle — the
        # like-for-like number when comparing engines; the rest
        # (LSH/kmeans/streaming/decode) have no DuckDB counterpart
        "oracle_comparable_subtotal": oracle_subtotal,
        "duckdb_queries": duck_times,
        "duckdb_total": round(sum(duck_times.values()), 2),
        # ratio over the queries BOTH engines completed, so a per-query
        # error on either side cannot skew the comparison
        "warm_ratio_vs_duckdb": (
            round(
                sum(warm[k] for k in duck_times) / sum(duck_times.values()), 2
            )
            if duck_times and sum(duck_times.values()) > 0
            else None
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(warm),
        "n_registered": len(REGISTRY),
        # ratio-free streaming drain timings (VERDICT r16 #5): wall only,
        # in NO total/subtotal/ratio — drain machinery vs a batch oracle
        # is not apples-to-apples, but the number must be on record
        "streaming_wall": stream_wall,
    }
    # Floor-row partition (VERDICT r6 next-round #7): rows where the
    # DuckDB oracle finishes under 150 ms measure Spark's constant
    # per-query floor (single-row-group parquet scan + scheduling),
    # not relative engine throughput — they vanish at any real scale.
    # Emitting both subtotals lets the recorded ratio be read either
    # way without consulting BASELINE.md prose.
    floor = {k for k in duck_times if duck_times[k] < 0.150}
    real = {k for k in duck_times if k not in floor}
    record["floor_subtotal"] = round(sum(warm[k] for k in floor), 3)
    record["floor_duckdb_subtotal"] = round(sum(duck_times[k] for k in floor), 3)
    record["real_work_subtotal"] = round(sum(warm[k] for k in real), 3)
    record["real_work_duckdb_subtotal"] = round(sum(duck_times[k] for k in real), 3)
    record["real_work_ratio_vs_duckdb"] = (
        round(record["real_work_subtotal"] / record["real_work_duckdb_subtotal"], 2)
        if record["real_work_duckdb_subtotal"] > 0
        else None
    )
    if errors:
        record["errors"] = errors
    # Full per-query record to a TRACKED file (VERDICT r11 #4): the
    # driver's BENCH_r{N}.json keeps only a ~2000-char stdout tail, which
    # truncates the per-query dicts and leaves cross-round regression
    # audits to whatever happened to be visible. The sidecar carries the
    # complete spark cold/warm + duckdb per-query maps for every run;
    # the builder commits it alongside the round's official draw.
    try:
        full = dict(record)
        full["queries_cold"] = cold
        full["queries_all"] = warm  # alias: explicit full (untruncated) map
        out_path = os.environ.get("SPARK_GRAFT_BENCH_FULL", "BENCH_full_latest.json")
        with open(out_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except (OSError, TypeError, ValueError) as e:  # unwritable, or not JSON
        log.warning("full bench record not written: %s", e)  # stdout stays the record
    for line in emit_lines(record):
        print(line)
    spark.stop()


def emit_lines(record: dict) -> list[str]:
    """Render the two stdout lines of the bench contract.

    Line 1 is the full one-line record (unchanged format; detail shed
    over 3800 chars exactly as before). Line 2 (VERDICT r18 #2) is a
    compact TOTALS-ONLY summary: the recording driver keeps only a
    ~2000-char stdout tail, and at 58+ per-query entries the full line
    outgrows it — BENCH_r17's line did, so PERF_r18's round-over-round
    parser saw nothing. The summary (~300 chars, printed LAST so it
    always survives a tail capture) carries the headline numbers plus
    the sf/unit context needed to read them. Additions only: the full
    line keeps its format and position for any parser anchored to it.
    Pinned by tests/test_bench_contract.py."""
    record = dict(record)
    line = json.dumps(record, separators=(",", ":"))
    if len(line) > 3800:  # belt-and-braces: shed detail, never the headline
        record.pop("duckdb_queries", None)
        line = json.dumps(record, separators=(",", ":"))
    summary = {
        "metric": "headline-suite wall time, warm (summary)",
        "value": record.get("value"),
        "unit": "sec",
        "sf": record.get("sf"),
        "n_queries": record.get("n_queries"),
        "load_avg_start": record.get("load_avg_start"),
        "duckdb_total": record.get("duckdb_total"),
        "warm_ratio_vs_duckdb": record.get("warm_ratio_vs_duckdb"),
        "real_work_subtotal": record.get("real_work_subtotal"),
        "real_work_ratio_vs_duckdb": record.get("real_work_ratio_vs_duckdb"),
        "streaming_wall": record.get("streaming_wall"),
    }
    return [line, json.dumps(summary, separators=(",", ":"))]


if __name__ == "__main__":
    main()
