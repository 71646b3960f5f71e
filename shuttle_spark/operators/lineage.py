"""Attempt-lineage audit columns — the engine twin of the reference's
shuffle-file lineage metadata (A15/A34).

The reference stamps every shuffle block with a 32-byte index record
``(mapId, attemptId, seqId, offset, length)``
(/root/reference/src/main/java/com/oppo/shuttle/rss/common/ShuffleIndex.java:32-37)
and ships the latest-attempt map through Spark's MapOutputTracker
(/root/reference/src/main/scala/org/apache/spark/shuffle/Ors2Util.scala:54-87)
so readers can drop blocks written by stale (speculated / retried / zombie)
map attempts (PartitionPipeReader.java:150-170).  Our durable analog stamps
the same lineage onto *rows of a written corpus*:

* ``stamp_lineage`` adds ``_app_attempt`` / ``_write_version`` columns —
  pure projections, zero shuffle.
* ``write_attempt`` persists a stamped write under a Hive partition
  ``_app_attempt=N/``.  A retried job writes a NEW attempt directory and
  never mutates the old one — the reference's append-only attempt files
  restated as parquet layout.
* ``latest_attempt`` discovers the newest COMMITTED attempt from the FS
  listing alone (a ``_SUCCESS``-gated metadata operation — no data pass,
  exactly like the reference's ``_final``-rename poll,
  ShuffleDataExecutor.java:119-138).
* ``read_latest`` reads the table with the stale-attempt filter expressed
  as a PARTITION filter, so pruning is plan-time metadata at any scale
  (stale attempts are never scanned, not scanned-then-dropped), and
  attaches ``_source_file`` provenance from the parquet ``_metadata``
  virtual column for post-hoc audit of which physical file produced each
  row.

100 TB posture: the attempt filter prunes directories before the scan
(verified by plan assert in the contract); provenance is a per-row virtual
column the reader materializes for free from split metadata; no shuffle
anywhere in the lineage path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ATTEMPT_COL = "_app_attempt"
VERSION_COL = "_write_version"


def stamp_lineage(
    df: DataFrame, app_attempt: int, write_version: int = 0
) -> DataFrame:
    """Stamp lineage audit columns onto every row (pure projection)."""
    return df.withColumn(ATTEMPT_COL, F.lit(int(app_attempt))).withColumn(
        VERSION_COL, F.lit(int(write_version))
    )


COMMIT_MARKER = "_COMMITTED"


def write_attempt(
    df: DataFrame,
    path: str,
    app_attempt: int,
    write_version: int = 0,
    fmt: str = "parquet",
) -> None:
    """Persist one write attempt under ``path/_app_attempt=N/``.

    Each attempt writes DIRECTLY into its own ``_app_attempt=N`` directory
    (not via a shared partitionBy-append at the table root): concurrent
    attempts therefore never share a ``_temporary`` staging dir, so a
    zombie attempt's job commit can never delete a live attempt's staged
    task files mid-write — the append-only discipline of
    ShufflePartitionUnsafeWriter.java:159-190, made true under real
    concurrency, not just documented.  The directory name carries the
    partition value, so Hive partition discovery (and the plan-time
    pruning in ``read_latest``) is unchanged.  Re-running the SAME attempt
    id overwrites only that attempt's directory (a retried attempt
    replaces its own partial output, never a sibling's).

    Commit is a FACT, not an inference: after the data write completes, a
    per-attempt ``_COMMITTED`` marker is dropped inside the attempt
    directory — the engine twin of the reference's explicit ``.dat`` →
    ``.dat_final`` rename (ShufflePartitionUnsafeWriter.java:204-225),
    which likewise makes visibility an atomic metadata operation rather
    than a guess from file listings.  ``latest_attempt`` gates on the
    marker, so a concurrently-writing attempt that has closed some data
    files (or an object store without ``_temporary`` semantics) can never
    be misjudged committed.  An EMPTY DataFrame still writes a
    schema-bearing zero-row parquet file (no partitionBy pruning of empty
    partitions), so a committed empty attempt reads back as 0 rows with a
    schema instead of failing schema inference.
    """
    stamped = stamp_lineage(df, app_attempt, write_version).drop(ATTEMPT_COL)
    attempt_dir = f"{path}/{ATTEMPT_COL}={int(app_attempt)}"
    stamped.write.format(fmt).mode("overwrite").save(attempt_dir)
    spark = df.sparkSession
    jvm, _, fs = _fs(spark, path)
    marker = jvm.org.apache.hadoop.fs.Path(f"{attempt_dir}/{COMMIT_MARKER}")
    fs.create(marker, True).close()


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def attempts(spark: SparkSession, path: str) -> list[int]:
    """All attempt ids present on disk (committed or not) — FS metadata."""
    jvm, root, fs = _fs(spark, path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(f"{ATTEMPT_COL}=") and st.isDirectory():
            suffix = name.split("=", 1)[1]
            if suffix.isdigit():
                out.append(int(suffix))
    return sorted(out)


def latest_attempt(spark: SparkSession, path: str) -> int | None:
    """Newest COMMITTED attempt, judged by the per-attempt ``_COMMITTED``
    marker ``write_attempt`` drops after its data write completes (the
    reference's ``.dat_final`` rename: commit is an explicit metadata
    fact).  An attempt directory without the marker — however many closed
    data files it already holds — is in-flight or abandoned and is never
    selected; this holds on object stores with no ``_temporary`` rename
    semantics, where the r4 has-data/no-temporary heuristic could misjudge
    a concurrent writer as committed.

    Migration path: a table written ENTIRELY before markers existed (no
    ``_COMMITTED`` under any attempt) falls back to the legacy judgment —
    data files present and no ``_temporary`` — so pre-marker tables stay
    readable.  The fallback never fires once any attempt carries a
    marker: on a marker-era table, markers are the only authority."""
    jvm, root, fs = _fs(spark, path)
    committed, legacy = [], []
    for a in attempts(spark, path):
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{path}/{ATTEMPT_COL}={a}/{COMMIT_MARKER}"
        )
        if fs.exists(marker):
            committed.append(a)
        elif _legacy_committed(jvm, fs, path, a):
            legacy.append(a)
    if committed:
        return committed[-1]
    return legacy[-1] if legacy else None


def _legacy_committed(jvm, fs, path: str, a: int) -> bool:
    """Pre-marker commit heuristic (r4 behavior): the attempt directory
    holds at least one data file and no in-flight ``_temporary``."""
    d = jvm.org.apache.hadoop.fs.Path(f"{path}/{ATTEMPT_COL}={a}")
    has_data = False
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name == "_temporary":
            return False
        if st.isFile() and not name.startswith(("_", ".")):
            has_data = True
    return has_data


def read_latest(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    with_provenance: bool = True,
) -> DataFrame:
    """The table with ONLY the newest committed attempt's rows.

    The stale-attempt filter is an equality on the Hive partition column,
    so Catalyst prunes stale directories at planning time (PartitionFilters
    in the scan node — asserted by the lineage_audit contract); stale data
    costs a directory listing, never IO.  ``_source_file`` carries the
    physical file each row came from (parquet ``_metadata.file_path``).
    """
    a = latest_attempt(spark, path)
    if a is None:
        raise FileNotFoundError(f"no committed write attempt under {path}")
    df = spark.read.format(fmt).load(path)
    if with_provenance:
        df = df.withColumn("_source_file", F.col("_metadata.file_path"))
    return df.filter(F.col(ATTEMPT_COL) == a).drop(ATTEMPT_COL)


def audit_stale_rows(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Per-attempt row counts INCLUDING stale attempts — the post-hoc audit
    query (which attempts exist, how many rows each left behind)."""
    df = spark.read.format(fmt).load(path)
    return df.groupBy(ATTEMPT_COL, VERSION_COL).agg(
        F.count("*").alias("rows")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare: list[str],
    include_old: bool = False,
    keys_nullable: bool = True,
) -> DataFrame:
    """CDC changeset between two snapshots of a keyed table: one row per
    changed key with ``op`` in {'I','U','D'} and the NEW values for I/U
    (NULLs for D) — the diff a snapshot-based ingestion pipeline derives
    before writing a merge (Delta/Iceberg MERGE INTO's source side).

    Classification is a single FULL OUTER join on the keys: key only in
    ``new`` -> I, only in ``old`` -> D, in both with any compare-column
    difference -> U (null-safe comparison: NULL -> value IS a change in
    either direction).  Unchanged keys are dropped, so the changeset size
    is O(churn), not O(table).  One shuffle per side on the key columns;
    at 100 TB bucket both snapshots on the key so the join co-locates.

    Exactly inverts through ``apply_changeset``:
    ``apply_changeset(old, snapshot_diff(old, new, k, c), k)`` equals
    ``new`` — the roundtrip the changeset_roundtrip contract checksums.

    ``include_old=True`` adds ``old_<c>`` columns (the PRE-image values,
    NULL for inserts) — what downstream incremental consumers need:
    aggregate maintenance must RETRACT the old contribution of an update
    before adding the new one (``incremental_group_totals``).

    Edge semantics (round-7 ADVICE hardening): ``compare=[]`` is a
    key-presence-only diff (I/D only, never U); NULL key components
    match null-safely (``eqNullSafe`` join + explicit presence markers),
    so a persisting NULL-keyed row is correctly classified unchanged/U
    instead of a spurious simultaneous I and D.

    ``keys_nullable=False`` declares the key columns NULL-free (the
    usual primary-key shape) and switches the join condition to plain
    equality.  Semantics are identical on NULL-free keys; the point is
    physical: Spark rewrites each ``eqNullSafe`` join key into a
    ``coalesce``/``isnull`` key PAIR, which no longer matches a bucketed
    table's ``HashPartitioning(keys)``, so bucketed snapshots shuffle
    anyway — with plain equality the full-outer sort-merge join elides
    BOTH exchanges on key-bucketed inputs (the 100 TB deployment shape;
    measured in BASELINE.md, "CDC inverse-pair residual")."""
    if not keys:
        raise ValueError("snapshot_diff: keys must be non-empty")
    o = old.select(
        F.lit(True).alias("__o_present"),
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__ov_{c}") for c in compare],
    )
    n = new.select(
        F.lit(True).alias("__n_present"),
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__nv_{c}") for c in compare],
    )
    cond = None
    for k in keys:
        lhs, rhs = F.col(f"__ok_{k}"), F.col(f"__nk_{k}")
        e = (lhs == rhs) if not keys_nullable else lhs.eqNullSafe(rhs)
        cond = e if cond is None else (cond & e)
    j = o.join(n, cond, "full_outer")
    # presence judged by the marker, not key nullability: after the full
    # outer join the absent side's marker is NULL even when its key
    # columns would be NULL for a present row too.
    in_old = F.col("__o_present").isNotNull()
    in_new = F.col("__n_present").isNotNull()
    changed = F.lit(False)  # compare=[] -> presence-only diff
    for c in compare:
        # null-safe inequality: differs when NOT (a <=> b)
        changed = changed | ~F.col(f"__ov_{c}").eqNullSafe(F.col(f"__nv_{c}"))
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            *[
                F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k)
                for k in keys
            ],
            *[F.col(f"__nv_{c}").alias(c) for c in compare],
            *(
                [F.col(f"__ov_{c}").alias(f"old_{c}") for c in compare]
                if include_old
                else []
            ),
        )
    )


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Apply a ``snapshot_diff``-shaped changeset to a base snapshot:
    keys with op D or U leave the base (one anti-join), rows with op I or
    U enter with their new values (a union of the changeset's own rows)
    — MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT / WHEN NOT MATCHED BY SOURCE DELETE) as two set operations.

    The touched-key relation is changeset-sized (O(churn)); it is NOT
    statically broadcast — churn is unbounded (a full-table rewrite is a
    legal changeset), so the anti-join is left to AQE, which broadcasts
    small changesets at runtime.  Column order follows ``base``.

    The changeset must carry every base column (keys + compare must
    cover the base schema) — asserted up front with a clear error,
    instead of the AnalysisException the ``select(*base.columns)``
    would otherwise raise (round-7 ADVICE item)."""
    missing = [c for c in base.columns if c not in set(changes.columns)]
    if missing:
        raise ValueError(
            "apply_changeset: changeset lacks base columns "
            f"{missing} — snapshot_diff's keys+compare must cover every "
            "base column for the roundtrip inversion to hold"
        )
    touched = changes.filter(F.col("op").isin("D", "U")).select(*keys)
    kept = base.join(touched, keys, "left_anti")
    incoming = changes.filter(F.col("op").isin("I", "U")).select(
        *base.columns
    )
    return kept.unionByName(incoming)


def incremental_group_totals(
    base_totals: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Incremental materialized-view maintenance for per-group
    (count, scaled-long sum) totals: apply a ``snapshot_diff(...,
    include_old=True)`` changeset to an existing totals relation WITHOUT
    touching the base table — the aggregate-maintenance step of every
    incremental/streaming MV engine, stated as two small DataFrame ops.

    Deltas: a delete retracts (-1, -old_value); an insert adds
    (+1, +value); an update retracts from its OLD group and adds to its
    NEW group — group-moving updates (the classic MV-maintenance
    pitfall) fall out of exploding each U row into a retraction row and
    an addition row.  The per-group delta aggregate (O(churn) rows) then
    full-outer-merges with the base totals; groups whose count reaches
    zero drop out, brand-new groups appear.  Sums are maintained in the
    scaled-long domain, so retract-then-add is EXACT — no float drift
    accumulates over any number of maintenance cycles (the property that
    makes incremental == recompute bit-stable, which the
    mv_incremental_totals contract proves by hashing this output against
    the oracle's DIRECT aggregate of the post-change table).

    Column contract: ``base_totals`` has (group_col, n_rows, sum_cents);
    output has the same schema."""
    g, v = group_col, value_col
    cents = lambda c: F.round(F.col(c) * (10 ** scale)).cast("long")  # noqa: E731
    add = changes.filter(F.col("op").isin("I", "U")).select(
        F.col(g).alias("__g"),
        F.lit(1).cast("long").alias("__dn"),
        cents(v).alias("__dc"),
    )
    retract = changes.filter(F.col("op").isin("D", "U")).select(
        F.col(f"old_{g}").alias("__g") if f"old_{g}" in changes.columns
        else F.col(g).alias("__g"),
        F.lit(-1).cast("long").alias("__dn"),
        (-cents(f"old_{v}")).alias("__dc"),
    )
    delta = (
        add.unionByName(retract)
        .groupBy("__g")
        .agg(F.sum("__dn").alias("__dn"), F.sum("__dc").alias("__dc"))
    )
    # null-safe group match: a NULL group is a legal aggregate bucket
    merged = base_totals.join(
        delta, base_totals[g].eqNullSafe(delta["__g"]), "full_outer"
    )
    return (
        merged.select(
            F.coalesce(base_totals[g], F.col("__g")).alias(g),
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("__dn"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("sum_cents"), F.lit(0))
                + F.coalesce(F.col("__dc"), F.lit(0))
            ).alias("sum_cents"),
        )
        .filter(F.col("n_rows") > 0)
    )


def compact_changeset(
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Compact an ORDERED multi-op changeset to its net effect: at most
    one I/U/D per key — the Kafka-compaction / CDC-batching step that
    turns a raw op log (a key inserted, updated three times, deleted,
    re-inserted within one window) into the minimal changeset whose
    ``apply_changeset`` result is identical.  This operator DISCHARGES
    the one-op-per-key precondition the streaming MV maintenance fold
    states as an invariant: run the raw feed through here first.

    Net rules (fold over ops in ``seq_col`` order): the key existed
    before the window iff its FIRST op is U or D (an I means it did
    not); it exists after iff its LAST op is I or U.  existed & exists
    -> U, !existed & exists -> I, existed & !exists -> D, and a key
    created then destroyed inside the window vanishes entirely.  Net
    I/U values come from the last non-D row (max_by guarded on op <>
    'D' — D rows carry NULL payloads and must not win the pick).

    ``seq_col`` must be unique per key (a CDC log's LSN / offset is);
    equal sequence numbers would make the first/last picks ambiguous.

    Plan: ONE map-side-combined aggregate per key (first/last op +
    guarded last values), one exchange of O(keys), no sort, no window
    — at 100 TB the raw op log collapses within each scan partition
    first, exactly like golden_record."""
    first_op = F.min_by(F.col("op"), F.col(seq_col))
    last_op = F.max_by(F.col("op"), F.col(seq_col))
    aggs = [
        first_op.alias("__first_op"),
        last_op.alias("__last_op"),
    ]
    for c in value_cols:
        aggs.append(
            F.max_by(
                F.col(c), F.when(F.col("op") != "D", F.col(seq_col))
            ).alias(c)
        )
    folded = changes.groupBy(*keys).agg(*aggs)
    existed = F.col("__first_op").isin("U", "D")
    exists = F.col("__last_op").isin("I", "U")
    net = (
        F.when(existed & exists, F.lit("U"))
        .when(~existed & exists, F.lit("I"))
        .when(existed & ~exists, F.lit("D"))
    )
    out_vals = [
        F.when(F.col("__last_op") != "D", F.col(c)).alias(c)
        for c in value_cols
    ]
    return (
        folded.withColumn("op", net)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op", *out_vals)
    )


def compact_changeset_oracle_sql(
    table: str,
    keys: list[str],
    seq_col: str,
    value_cols: list[str],
) -> str:
    """DuckDB twin of ``compact_changeset`` (identical guards/fold)."""
    ks = ", ".join(keys)
    picks = ", ".join(
        f"arg_max({c}, CASE WHEN op <> 'D' THEN {seq_col} END) AS {c}"
        for c in value_cols
    )
    outs = ", ".join(
        f"CASE WHEN last_op <> 'D' THEN {c} END AS {c}" for c in value_cols
    )
    return (
        f"WITH f AS (SELECT {ks},"
        f" arg_min(op, {seq_col}) AS first_op,"
        f" arg_max(op, {seq_col}) AS last_op, {picks}"
        f" FROM {table} GROUP BY {ks}),"
        f" n AS (SELECT *, CASE"
        f" WHEN first_op IN ('U','D') AND last_op IN ('I','U') THEN 'U'"
        f" WHEN first_op = 'I' AND last_op IN ('I','U') THEN 'I'"
        f" WHEN first_op IN ('U','D') AND last_op = 'D' THEN 'D'"
        f" END AS op FROM f)"
        f" SELECT {ks}, op, {outs} FROM n WHERE op IS NOT NULL"
    )
