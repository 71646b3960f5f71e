"""The benchmark's corpora, built from the shipped test tables.

``data/sf0.01/`` is a byte-for-byte copy of the shipped sf0.01 test
tables (TESTDATA.md; ``SHA256SUMS`` pins every file).  A workload with
``replicas == 1`` reads it as shipped.

``replicas > 1`` expands the star-schema tables the way
``tools/make_scale_data.py`` does: replica ``i`` adds ``i * (max_key + 1)``
to every key column, so join fan-outs and per-key cardinalities stay
those of the base while the row count grows ``replicas`` times.
``region`` and ``nation`` are constant dimensions, and ``events``,
``documents`` and ``embeddings`` are copied as shipped: no star-schema
contract reads them, and a larger ``events`` table would be restaged by
``register_views`` at every set-up.  The seed then permutes the rows of
every expanded table, so each seed lays the same facts out differently.
Each table is written as one file of one row group, the layout of the
shipped tables, so the catalog's ingest relayout runs on it as it does on
them.

Each expanded corpus is written once under the cache directory, keyed by
(seed, replicas), together with the canonical DuckDB oracle rows of every
contract a workload runs on it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Key columns offset per replica, as in tools/make_scale_data.py; each
# maps to the column whose maximum sets the offset, ``None`` marks a
# column that references a constant dimension (nation) and so stays fixed.
_KEYED = {
    "customer": {"c_custkey": "c_custkey", "c_nationkey": None},
    "supplier": {"s_suppkey": "s_suppkey", "s_nationkey": None},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey", "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
}


def verify_base() -> None:
    """Fail unless every shipped table matches its pinned checksum."""
    with open(os.path.join(BASE_DIR, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for name in TABLES:
        with open(os.path.join(BASE_DIR, f"{name}.parquet"), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != sums[f"{name}.parquet"]:
                raise RuntimeError(f"{name}.parquet differs from SHA256SUMS")


def expand(replicas: int, seed: int) -> dict[str, pa.Table]:
    """The star-schema tables with per-replica key offsets, rows permuted
    by ``seed`` (see module doc)."""
    base = {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet")) for t in _KEYED}
    maxes = {
        col: pc.max(base[table][col]).as_py()
        for table, cols in _KEYED.items()
        for col, domain in cols.items()
        if domain == col
    }
    rng = np.random.default_rng(seed)
    out = {}
    for table, cols in _KEYED.items():
        parts = []
        for i in range(replicas):
            tb = base[table]
            for col, domain in cols.items():
                if domain is None or i == 0:
                    continue
                arr = tb[col].to_numpy() + i * (maxes[domain] + 1)
                tb = tb.set_column(
                    tb.schema.get_field_index(col), col,
                    pa.array(arr, tb.schema.field(col).type),
                )
            parts.append(tb)
        tb = pa.concat_tables(parts)
        out[table] = tb.take(rng.permutation(tb.num_rows))
    return out


def _write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in tables:
            tb = tables[name]
            pq.write_table(tb, path, row_group_size=max(1, tb.num_rows))
        else:
            shutil.copyfile(os.path.join(BASE_DIR, f"{name}.parquet"), path)


def table_rows(data_dir: str) -> dict[str, int]:
    """Row count of each table, from the parquet footers."""
    return {
        name: pq.ParquetFile(os.path.join(data_dir, f"{name}.parquet")).metadata.num_rows
        for name in TABLES
    }


def oracle_rows(data_dir: str, contracts: list[str]) -> dict[str, dict]:
    """Canonical DuckDB oracle result of each contract on ``data_dir``."""
    from shuttle_spark.contracts import REGISTRY
    from shuttle_spark.testing import canon_rows, duckdb_views

    con = duckdb_views(data_dir)
    out = {}
    for name in contracts:
        rel = con.sql(REGISTRY[name].oracle)
        out[name] = {
            "sql": REGISTRY[name].oracle,
            "columns": list(rel.columns),
            "rows": [list(r) for r in canon_rows(rel.fetchall())],
        }
    con.close()
    return out


def prepare(
    cache_root: str, seed: int, replicas: int, contracts: list[str]
) -> tuple[str, dict[str, dict]]:
    """Return (corpus dir, canonical oracle rows by contract).

    An expanded corpus is built once per (seed, replicas, this module's
    source) and reused by every later run with the same key; an oracle
    result is recomputed when its contract's oracle SQL changes.  Both are
    published by renaming a finished temp file or dir, so a killed build
    never leaves a half-written corpus behind."""
    from shuttle_spark.contracts import REGISTRY

    verify_base()
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    os.makedirs(cache_root, exist_ok=True)
    if replicas == 1:
        data_dir = BASE_DIR
        oracle_path = os.path.join(cache_root, f"base_{version}.oracle.json")
    else:
        data_dir = os.path.join(cache_root, f"s{seed}_r{replicas}_{version}")
        # Beside the corpus, not in it: session.corpus_bytes counts .json files.
        oracle_path = data_dir + ".oracle.json"
        if not os.path.isdir(data_dir):
            tmp = f"{data_dir}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            _write(expand(replicas, seed), tmp)
            os.rename(tmp, data_dir)
    oracle: dict[str, dict] = {}
    if os.path.isfile(oracle_path):
        with open(oracle_path) as f:
            oracle = json.load(f)
    missing = [
        c for c in contracts
        if oracle.get(c, {}).get("sql") != REGISTRY[c].oracle
    ]
    if missing:
        oracle.update(oracle_rows(data_dir, missing))
        tmp = f"{oracle_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(oracle, f)
        os.rename(tmp, oracle_path)
    return data_dir, oracle
