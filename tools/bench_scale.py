"""Spark-vs-DuckDB ratio CURVE across scale points (VERDICT r3 item 1).

The round-3 defense for the 3x suite ratio was "Spark's fixed per-query
scheduling floor dominates at sf0.1 and amortizes with data size".  This
harness converts that argument into measurement: the same contract queries
(same builders, same oracles — the correctness-gate code paths, not
specially tuned bench variants) run at sf0.01 / sf0.1 / sf0.33 / sf1, each
timed warm (best of N runs after a warm-up) on both engines, and the
per-query ratio is published as a curve in BENCH_SCALE.json + BASELINE.md.

The sf0.33/sf1 points are replica-offset expansions of the driver's own
sf0.1 tables (tools/make_scale_data.py) — generate them first:

    python tools/make_scale_data.py --replicas 3  --out .scaledata/sf0.3
    python tools/make_scale_data.py --replicas 10 --out .scaledata/sf1
    python tools/bench_scale.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (label, sf_dir) — ordered by size
POINTS = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf0.3", os.path.join(REPO, ".scaledata", "sf0.3")),
    ("sf1", os.path.join(REPO, ".scaledata", "sf1")),
    ("sf3", os.path.join(REPO, ".scaledata", "sf3")),
    ("sf10", os.path.join(REPO, ".scaledata", "sf10")),
]

# The curve set: every round-3 slow-list query that has a pure-SQL oracle,
# plus one representative per heavy family (agg / join / window / dedup /
# near-dup / ANN / text).  Sink and streaming contracts are excluded: their
# cost is the write/replay path, which the oracle never executes (analyzed
# separately in BASELINE.md).
QUERIES = [
    "agg_tpch_q1",
    "join_3way_agg",
    "tpch_q3_shape",
    "tpch_q18_shape",
    "rollup_agg",
    "window_cumsum",
    "global_rank_distributed",
    "global_pctrank_distributed",
    "json_extract_agg_compat",
    # round-5: the parse-once VARIANT default path vs the raw-string twin
    # above — the Jackson-vs-yyjson residual's engine answer on the curve.
    "json_extract_variant_agg",
    "unpivot_measures",
    "distinct_partkeys",
    "keep_latest",
    "sessionize",
    "scalar_functions",
    "checksum_lineitem",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_maxdf",
    "near_dup_clusters",
    "tfidf_top_terms",
    "topk_cosine",
    "knn_join",
    # round-4 additions: the heaviest new TPC-H shapes + the PII pass
    "tpch_q21_shape",
    "tpch_q8_shape",
    "pii_scrub_counts",
    # round-6 (VERDICT r5 item 8): the skew story — AQE skew-split join +
    # salting fold — measured on the curve, not asserted.  The synthetic
    # hot key grows with SF, so this is the row that shows whether the
    # skew plan's scaling survives data growth.
    "skew_join_agg",
    # round-6 late additions with linear-cost oracles.  pack_greedy_bins
    # and semantic_dedup_kept are EXCLUDED by design: their oracles are a
    # recursive CTE (O(depth x corpus) per level in DuckDB) and an O(n^2)
    # all-pairs join — at sf10 the oracle is the bottleneck, not the
    # engine, so the curve would measure DuckDB's replay, not scaling.
    "ewma_anomalies",
    "linear_attribution",
    "repeated_span_docs",
    # round-7 additions with linear-cost oracles (kcore_peel_equal and
    # the minhash/simhash replay gates are excluded: constant-TRUE
    # oracles).
    "ohlc_bars",
    "mad_outliers",
    "trend_slope_user",
    "stratified_split_counts",
    "ab_test_summary",
    "merge_intervals_user",
    "snapshot_diff_counts",
    "changeset_roundtrip",
    "mv_incremental_totals",
    # round-8 (VERDICT r7 item 4): the ARRIVING-changeset cells — the
    # apples-to-apples production CDC shape; the two rows above stay as
    # the (deliberately asymmetric) inversion/maintenance proofs.
    "changeset_apply_arriving",
    "mv_arriving_totals",
    # round-8 late: one window over one key partition — the purest
    # single-exchange window row on the curve.
    "locf_impute_cents",
    "decayed_engagement",
    # round-9 (VERDICT r8 item 3): the reconciliation family.  These are
    # the gate builders verbatim (fixed-FRACTION corruption, so at big SF
    # most buckets go bad and the drill approaches a full-table diff —
    # an honest linear-vs-linear ratio row).  The LOCALIZATION claim
    # (drill cost tracks suspect-bucket volume, not table volume) is a
    # fixed-COUNT corruption experiment; its result is in BASELINE.md
    # ("Reconciliation family on the curve").
    "table_recon_counts",
    "table_recon_drill_rows",
    # round-9 extensions, all linear-cost oracles: the one-pass moment
    # census, the aggregate-shaped survivorship/compaction/census family,
    # the single-sort window detectors, the weighted sampler, and the
    # two-pass distributed-rank histogram.  stream_cusum_census is
    # excluded like every streaming replay (the oracle never pays the
    # replay path).
    "corr_matrix_lineitem",
    "golden_record_users",
    "compact_changeset_net",
    "fk_integrity_census",
    "cusum_drift_census",
    "twap_user_value",
    "priority_sample_orders",
    "equi_depth_lineitem",
    "inverted_index_terms",
    # round-10 additions
    "interp_impute_census",
    "k_anonymity_events",
    # round-12 (VERDICT r11 item 4): the cross-document exact-substring
    # dedup census — its inverted-index exchanges (positions collapsed to
    # (doc, gram) BEFORE any join) are precisely the shape that must be
    # shown sub-linear against the oracle's identical-algebra SQL.
    "duplicated_span_census",
]


# Contracts that fan out from session-cached staged relations (gram sets /
# pair lists / components).  Their curve rows are measured COLD — caches
# cleared before every run — because the staging IS the data-path cost; the
# cache-hot number (a few hundredths of a second, any SF) is reported once
# in BASELINE.md, not per point.
CACHE_BACKED = {
    "ngram_jaccard_pairs",
    "ngram_jaccard_maxdf",
    "near_dup_clusters",
    "exact_dedup_docs",
    # round-5: tfidf fans out from the session-staged exploded-token
    # relation (pipeline.words_relation) — cleared per run so the staging
    # cost stays charged.  (approxQuantile BOUNDARY caches are NOT
    # cleared: boundaries are table statistics a long-lived engine keeps
    # — ANALYZE once — and are KB-sized, unlike the data-sized relations
    # above.)
    "tfidf_top_terms",
}


def timed(fn, runs: int = 2, pre=None) -> float:
    fn()  # warm-up (plan cache, page cache, JIT)
    best = float("inf")
    for _ in range(runs):
        if pre is not None:
            pre()
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    only = sys.argv[1:] or QUERIES
    from shuttle_spark import get_session
    from shuttle_spark.contracts import REGISTRY
    from shuttle_spark.operators import neardup
    from shuttle_spark.testing import duckdb_views

    spark = get_session("bench-scale")
    path = os.path.join(REPO, "BENCH_SCALE.json")
    out: dict = {"points": {}, "queries": {}}
    if os.path.exists(path):  # merge partial re-runs into the artifact
        with open(path) as f:
            out = json.load(f)
    point_filter = os.environ.get("BENCH_SCALE_POINTS")
    for label, sf_dir in POINTS:
        if point_filter and label not in point_filter.split(","):
            continue
        if not os.path.isdir(sf_dir):
            print(f"SKIP point {label}: {sf_dir} missing", file=sys.stderr)
            continue
        con = duckdb_views(sf_dir)
        out["points"][label] = sf_dir
        for name in only:
            c = REGISTRY[name]
            pre = None
            if name in CACHE_BACKED:
                def pre():
                    from shuttle_spark.operators import components, pipeline

                    neardup.clear_gram_cache()
                    components._cc_cache.clear()
                    pipeline.clear_text_caches()
            neardup.clear_gram_cache()
            try:
                sp = timed(lambda: c.build(spark, sf_dir).collect(), pre=pre)
                du = timed(lambda: con.sql(c.oracle).fetchall())
            except Exception as e:
                print(f"ERR {label} {name}: {str(e).splitlines()[0][:120]}",
                      file=sys.stderr)
                continue
            q = out["queries"].setdefault(name, {})
            if "compat" in (c.tags or ()):
                q["label"] = "compat"  # non-default path; see bench.py
            q[label] = {
                "spark_sec": round(sp, 4),
                "duckdb_sec": round(du, 4),
                "ratio": round(sp / du, 2) if du > 0 else None,
            }
            print(f"{label:7s} {name:32s} spark={sp:7.3f}s "
                  f"duckdb={du:7.3f}s ratio={sp / du:6.1f}x", flush=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
