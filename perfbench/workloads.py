"""The benchmark's workloads: which contracts run, on which corpus.

Why each workload exists is in BENCHMARK.json and perfbench/README.md.

Every contract named here is an oracle-backed ``REGISTRY`` entry whose
result is checked against its DuckDB oracle on every execution.  The
seed sets the query order within each pass and, for a workload with
more than one replica, the row order of its corpus (``corpus.prepare``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    contracts: tuple[str, ...]
    replicas: int  # corpus.expand replica count; 1 reads sf0.01 as shipped


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_shuffle",
            contracts=(
                "agg_tpch_q1",
                "tpch_q3_shape",
                "tpch_q18_shape",
                "tpch_q21_shape",
                "join_3way_agg",
                "rollup_agg",
                "write_roundtrip_checksum",
            ),
            replicas=8,
        ),
        Workload(
            name="llm_stream",
            contracts=(
                # LLM-pipeline share: a staged relation served from the
                # session cache once warm, Arrow UDFs, candidate self-joins.
                "near_dup_clusters",
                "cosine_near_dup_pairs",
                "fuzzy_join_names",
                "topk_cosine",
                "pandas_udf_bucket",
                # Streaming share: the replay re-reads its input and
                # rebuilds its state every run; nothing is cached.
                "stream_window_agg",
            ),
            replicas=1,
        ),
    )
}
