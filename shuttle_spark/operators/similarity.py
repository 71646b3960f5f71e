"""Similarity search over embedding columns (B29 + ANN scale path).

Three tiers, trading exactness for scale:

* ``brute_force_topk`` — exact cosine top-k of a query vector against the
  corpus: one map-side pass (the query is a literal/broadcast), then
  TakeOrderedAndProject.  At 100 TB this is a full scan but *no shuffle*;
  it is the correctness baseline and the oracle contract.
* ``knn_join_brute`` — exact k-NN for a (small, broadcastable) batch of query
  vectors: broadcast-nested-loop + per-query top-k window.  Right shape when
  |queries| << |corpus| (the common batch-inference case).
* ``lsh_candidate_pairs`` / ``cosine_near_dup_pairs`` — random-hyperplane
  (sign) LSH: signatures are computed in a vectorized pandas UDF (Arrow
  batches, numpy matmul), candidates meet via an equi-join on (band,
  band-signature) — i.e. the candidate generation is *exactly* a
  hash-partitioned shuffle, the operation the reference's whole shuffle
  service exists to serve (``pairs.key_pairs``).  Exact cosine re-scoring
  of the candidates restores precision; recall is tunable via
  (n_planes, bands).  ``ivf_build`` / ``ivf_topk`` are the ANN top-k path.

The hyperplanes are seeded deterministically (seed=42) so results are
reproducible across runs and executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shuttle_spark.cache import DFCache, semantic_key
from shuttle_spark.functions.vectors import (
    cosine,
    cosine_pairs_vectorized,
    dot,
    masked_query_sims,
    norm2,
    safe_cosine_kernel,
)
from shuttle_spark.operators.pairs import attach, key_pairs

_SEED = 42


def brute_force_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Returns (id, sim) ordered by similarity desc (id tiebreak).  The plan is
    scan -> project(cosine) -> TakeOrderedAndProject: no exchange of the
    corpus, embarrassingly parallel, scale-linear.  Zero-norm corpus rows
    score 0.0, never NaN (which Spark would rank above every real match).
    To exclude the query row itself when it comes from the corpus, filter
    it out by id before/after the call — a literal query vector carries no
    identity this function could exclude by.
    """
    qv = np.asarray(query_vector, dtype=np.float64)
    qn = float(np.linalg.norm(qv))

    # One numpy matvec per Arrow batch instead of the interpreted
    # expression-tree cosine (~0.5 ms/row x 3 folds): measured ~10x on the
    # sf1 embeddings scan.  Same double-precision math; the query vector is
    # a task-local constant (closure capture — the pandas-UDF analog of a
    # broadcast scalar).
    @F.pandas_udf("double")
    def _sim(vecs: pd.Series) -> pd.Series:
        return masked_query_sims(vecs, qv, qn)

    out = embeddings.select(F.col(id_col), _sim(F.col(vec_col)).alias("sim"))
    # desc is nulls-LAST, so NULL embeddings (sim NULL) never reach the
    # top-k; zero-norm embeddings score 0.0 (masked_query_sims)
    return out.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def knn_join_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_embedding",
) -> DataFrame:
    """Exact k-NN join for a broadcastable query set: every (query, corpus)
    pair is scored map-side (broadcast nested loop — no corpus shuffle), then
    one shuffle on query_id for the per-query top-k window."""
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(query_id),
        F.col(corpus_id),
        # vectorized pair scoring (one einsum per Arrow batch) — the
        # interpreted expression-tree cosine is ~0.5 ms/pair and dominates
        # the broadcast-NLJ cost at any scale
        cosine_pairs_vectorized(F.col(corpus_vec), F.col(query_vec)).alias(
            "sim"
        ),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.RandomState(_SEED)
    return rng.normal(size=(n_planes, dim)).astype(np.float64)


def add_lsh_bands(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_planes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Append `bands` sign-LSH band keys per row (column array<bigint>
    ``bands``): n_planes random hyperplanes -> sign bits -> split into bands
    of n_planes/bands bits.  Vectorized pandas UDF (one numpy matmul per Arrow
    batch — the approved slow path)."""
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    bits_per_band = n_planes // bands
    planes = _hyperplanes(dim, n_planes)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        # NULL embedding -> NULL bands (posexplode emits nothing; the
        # row never joins) — np.stack(None) would crash the stage
        mask = vecs.isna().to_numpy()
        out = [None] * len(vecs)
        if (~mask).any():
            mat = np.stack(vecs[~mask].to_numpy())  # (batch, dim)
            signs = (mat @ planes.T) >= 0  # (batch, n_planes)
            weights = 1 << np.arange(bits_per_band, dtype=np.int64)
            # fully vectorized: (batch, bands, bits) @ (bits,) ->
            # (batch, bands) — a per-row Python loop here would dominate
            # the corpus-wide signature pass, not the matmul
            keys = signs.reshape(len(mat), bands, bits_per_band) @ weights
            for i, k in zip(np.nonzero(~mask)[0], keys.tolist()):
                out[i] = k
        return pd.Series(out)

    return df.withColumn("bands", band_keys(F.col(vec_col)))


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-neighbor pairs (id_a, id_b), id_a < id_b, that collide
    in >=1 band.

    The join key (band_idx, band_key) is a plain equi-join — a hash shuffle
    that AQE will skew-split if one bucket is hot — on narrow
    (id, band_idx, band_key) rows; the vectors stay out of it, and grouping
    per pair dedups across bands.  NULL embeddings get no bands and never
    pair.
    """
    banded = add_lsh_bands(df, dim, vec_col, n_planes, bands).select(
        F.col(id_col).alias("id"), F.posexplode("bands").alias("band_idx", "band_key")
    )
    return key_pairs(banded, on=["band_idx", "band_key"]).select("id_a", "id_b")


def cosine_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bands: int = 8,
    exact: bool = False,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    exact=True computes the full self-join (oracle-matching baseline; use only
    at test SF or within small blocks via ``block_col``).  Default path is
    LSH candidates + exact re-scoring: same output modulo LSH recall.
    """
    if exact:
        scored = _exact_all_pairs(df, threshold, id_col, vec_col, block_col)
    else:
        scored = attach(
            lsh_candidate_pairs(df, dim, id_col, vec_col, n_planes, bands),
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "vec",
        ).select(
            "id_a",
            "id_b",
            cosine_pairs_vectorized(F.col("vec_a"), F.col("vec_b")).alias("sim"),
        )
    return scored.filter(F.col("sim") >= threshold)


#: Hard cap on rows `_exact_all_pairs` will pull to the driver for the
#: broadcast matrix.  250k x 64-dim float64 ≈ 128 MB — comfortably
#: broadcastable; anything bigger must go through the LSH / IVF /
#: ``block_col`` paths, which never materialize the corpus on the driver.
EXACT_ALL_PAIRS_MAX_ROWS = 250_000


def _exact_all_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    block_col: str | None = None,
    max_rows: int = EXACT_ALL_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact all-pairs cosine via broadcast-matrix block matmul.

    The corpus matrix (ids + unit-normalized vectors) is broadcast to every
    executor; each `mapInPandas` batch multiplies its rows against the whole
    matrix (one numpy matmul) and emits only pairs (id_a < id_b) above the
    threshold.  O(n²) similarities at O(n·d) shuffle cost — zero joins, zero
    exchanges, perfectly parallel over the scan.  This is the *test-scale
    oracle path*: it is SIZE-GUARDED (raises beyond ``max_rows`` instead of
    silently OOMing the driver); the LSH/IVF paths are the 100 TB story,
    with this same kernel reused per block when ``block_col`` partitions the
    corpus.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sel = [F.col(id_col), F.col(vec_col)]
    if block_col:
        sel.append(F.col(block_col))
    local = df.select(*sel).limit(max_rows + 1).toPandas()
    if len(local) > max_rows:
        raise ValueError(
            f"exact all-pairs corpus exceeds max_rows={max_rows}; use the "
            "LSH path (exact=False), IVF, or block_col partitioned scoring"
        )
    ids_np = local[id_col].to_numpy(dtype=np.int64)
    mat = np.stack(local[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    blocks = local[block_col].to_numpy() if block_col else None
    bc = df.sparkSession.sparkContext.broadcast((ids_np, unit, blocks))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def batches(it):
        all_ids, all_unit, all_blocks = bc.value
        for pdf in it:
            row_ids = pdf[id_col].to_numpy(dtype=np.int64)
            rmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            rnorm = np.linalg.norm(rmat, axis=1)
            rnorm[rnorm == 0] = 1.0
            sims = (rmat / rnorm[:, None]) @ all_unit.T  # (batch, n)
            mask = (all_ids[None, :] > row_ids[:, None]) & (sims >= threshold)
            if block_col is not None:
                rblocks = pdf[block_col].to_numpy()
                mask &= all_blocks[None, :] == rblocks[:, None]
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": row_ids[ai],
                    "id_b": all_ids[bi],
                    "sim": sims[ai, bi],
                }
            )

    return df.select(*sel).mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the 100 TB scale path: k-means-ish coarse
# centroids partition the corpus; queries probe only the nearest cells.
# ---------------------------------------------------------------------------

# Session cache of built indexes: (source df identity, params) -> persisted
# indexed df, via the shared DFCache (LRU touch, size cap, unpersist on
# evict — one implementation, not a hand-rolled twin).  The tiny centroid
# arrays ride a side dict under the same keys, pruned to the cache's live
# keys after every put.  An IVF index exists to be probed many times;
# rebuilding it per query would repeat the training collect and the
# assignment scan.
_ivf_cache = DFCache(max_size=4)
_ivf_cents: dict[tuple, np.ndarray] = {}


def clear_ivf_cache() -> None:
    _ivf_cache.clear()
    _ivf_cents.clear()


def _nearest_centroid(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """argmin over squared euclidean distance via the ||a||^2 - 2a.c +
    ||c||^2 expansion: a (rows, n_cells) result with NO rank-3 temporary.
    The naive (rows, n_cells, dim) broadcast difference allocates ~820 MB
    per evaluation at the training defaults (100k rows x 16 cells x 64
    dims x float64) — twice per Lloyd iteration, on the DRIVER.  The
    expansion computes the identical argmin (the ||a||^2 term is constant
    per row and could even be dropped) at (rows x cells) memory."""
    d = (
        (m * m).sum(1)[:, None]
        - 2.0 * (m @ cents.T)
        + (cents * cents).sum(1)[None, :]
    )
    return d.argmin(1)


def assign_cells(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Add the nearest-centroid ``cell`` column for a FROZEN centroid set
    — the pure assignment function shared by ``ivf_build`` (initial
    index) and ``ivf_upsert`` (incremental maintenance).  Because the
    centroids are fixed, assignment is a deterministic function of the
    vector alone, which is exactly what makes incremental upsert equal
    a full reassignment (the ivf_upsert_equal gate).  One Arrow batch
    stage, no shuffle; NULL embedding -> NULL cell (excluded by every
    probe's cell filter, the NULL-scores-NULL convention)."""
    cents = centroids.copy()

    @F.pandas_udf(T.IntegerType())
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        mask = vecs.isna().to_numpy()
        out = pd.array([None] * len(vecs), dtype="Int32")
        if (~mask).any():
            m = np.stack(vecs[~mask].to_numpy()).astype(np.float64)
            out[~mask] = _nearest_centroid(m, cents).astype(np.int32)
        return pd.Series(out)

    return df.withColumn("cell", nearest_cell(F.col(vec_col)))


def ivf_upsert(
    indexed: DataFrame,
    centroids: np.ndarray,
    changes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance: apply an arriving I/U/D vector
    changeset to an indexed corpus WITHOUT touching the untouched rows —
    the ANN twin of ``lineage.apply_changeset`` (fresh embeddings arrive
    continuously in a production corpus; re-indexing 100 TB per batch is
    not a plan).  D/U ids leave via one anti-join (churn-sized right
    side, AQE broadcasts it); I/U rows get their cell from the SAME
    frozen centroids and union in.  With centroids frozen, assignment is
    a pure per-vector function, so the maintained index is EXACTLY the
    index a full rebuild over the post-change corpus would produce — the
    equality the ivf_upsert_equal contract gates.  Centroid refresh
    (drift) is a deliberate separate offline step, exactly like
    re-training the coarse quantizer in any IVF system: assignments stay
    valid because probes use the same frozen centroids."""
    touched = changes.filter(F.col("op").isin("D", "U")).select(id_col)
    kept = indexed.join(touched, id_col, "left_anti")
    incoming = assign_cells(
        changes.filter(F.col("op").isin("I", "U")).select(
            *[c for c in indexed.columns if c != "cell"]
        ),
        centroids,
        vec_col,
    )
    return kept.unionByName(incoming)


def ivf_build(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_train_rows: int = 100_000,
    reuse: bool = True,
) -> tuple[DataFrame, np.ndarray]:
    """Assign every vector to its nearest coarse centroid (one scan).

    Centroids come from a size-capped sample + a few Lloyd iterations run
    driver-side on the (small) sample — the classic IVF recipe: the *index*
    is tiny; the *assignment* is the distributed part.  The training
    collect is bounded by ``max_train_rows`` (and optionally thinned first
    by ``sample_fraction``), so the driver never materializes the full
    corpus: centroid quality only moves the recall dial, never correctness
    (`ivf_full_probe_topk` equals brute force for ANY centroids).  Returns
    (df + ``cell`` column, centroids array).
    """
    key = (
        df.sparkSession.sparkContext.applicationId,
        semantic_key(df), id_col, vec_col, n_cells, sample_fraction, max_train_rows,
    )
    if reuse:
        hit = _ivf_cache.get(key)
        if hit is not None and key in _ivf_cents:
            return hit, _ivf_cents[key].copy()
    # NULL embeddings carry no training signal and np.stack(None) would
    # crash the collect — drop them from the SAMPLE only (the corpus keeps
    # its rows; they get a NULL cell below and never match a probe)
    sample = df.select(vec_col).filter(F.col(vec_col).isNotNull())
    if sample_fraction is not None and sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=_SEED)
    mat = np.stack(
        sample.limit(max_train_rows).toPandas()[vec_col].to_numpy()
    ).astype(np.float64)
    rng = np.random.RandomState(_SEED)
    centroids = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(5):  # Lloyd iterations on the sample (driver-side, tiny)
        assign = _nearest_centroid(mat, centroids)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(0)
    indexed = assign_cells(df, centroids, vec_col)
    if reuse:
        indexed = _ivf_cache.put(key, df, indexed)
        _ivf_cents[key] = centroids.copy()
        for stale in [k for k in _ivf_cents if k not in _ivf_cache.keys()]:
            del _ivf_cents[stale]
    return indexed, centroids


def ivf_topk(
    indexed: DataFrame,
    centroids: np.ndarray,
    query_vector: list[float],
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest cells only — partition pruning for ANN.
    ``indexed`` written out with .partitionBy('cell') turns the probe into a
    literal parquet partition-pruned scan at scale."""
    q = np.asarray(query_vector, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(1)
    probe = [int(c) for c in d.argsort()[:n_probe]]
    qn = float(np.linalg.norm(q))

    @F.pandas_udf("double")
    def _sim(vecs: pd.Series) -> pd.Series:
        return masked_query_sims(vecs, q, qn)

    return (
        indexed.filter(F.col("cell").isin(probe))
        .select(F.col(id_col), _sim(F.col(vec_col)).alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def ivf_topk_multi(
    indexed: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf_topk`` for a batch of query vectors in ONE job.

    Per-query probe lists are computed driver-side from the (tiny) centroid
    array; the query set rides a broadcast join carrying its probe cells, a
    row is scored for a query only when its cell is in that query's probe
    list, and one window takes the per-query top-k.  N queries cost one
    corpus pass instead of N — the batch-serving shape of the IVF path
    (at scale the ``cell`` filter is the same partition pruning, applied
    per query group).  Returns (q_id, id, sim).
    """
    spark = indexed.sparkSession
    rows = []
    for q_id, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        d = ((centroids - q[None, :]) ** 2).sum(1)
        probe = [int(c) for c in d.argsort()[:n_probe]]
        rows.append((int(q_id), [float(x) for x in vec], probe))
    qdf = spark.createDataFrame(
        rows, "q_id bigint, q_embedding array<double>, probe array<int>"
    )
    all_cells = sorted({c for _, _, probe in rows for c in probe})
    scored = (
        indexed.filter(F.col("cell").isin(all_cells))
        .join(
            F.broadcast(qdf),
            F.array_contains(F.col("probe"), F.col("cell")),
        )
        .select(
            "q_id",
            F.col(id_col),
            cosine_pairs_vectorized(F.col(vec_col), F.col("q_embedding")).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (the memory/bandwidth scale path for ANN)
# ---------------------------------------------------------------------------

def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5).

    This is the standard ANN compression step — 4x smaller than float32, so
    at 100 TB of embeddings the candidate-scoring working set (and the
    shuffle that builds an IVF/LSH index over it) shrinks 4x, and int8 dot
    products vectorize wider than float ops.  All JVM expression tree
    (transform/array_max), no Python, no shuffle.

    Exactness discipline: arithmetic runs in DOUBLE on the float32 inputs
    (bit-identical in any engine), and rounding is floor(x + 0.5), which
    ties identically cross-engine (ROUND's half-tie behavior differs
    between engines; floor(+0.5) does not).  Zero vectors quantize to all
    zeros via the epsilon floor on the scale.  Reconstruction error is
    bounded by scale/2 = max|x|/254 per element.
    """
    x = F.col(vec_col)
    scale = (
        F.greatest(
            F.array_max(F.transform(x, lambda e: F.abs(e.cast("double")))),
            F.lit(1e-30),
        )
        / F.lit(127.0)
    ).alias("q_scale")
    return embeddings.select(
        F.col(id_col),
        scale,
        F.transform(
            x,
            lambda e: F.floor(e.cast("double") / F.col("q_scale") + F.lit(0.5))
            .cast("int"),
        ).alias("qvec"),
    )


def quantized_dot_topk(
    quantized: DataFrame,
    query_qvec: list[int],
    query_scale: float,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by int8-approximated dot product: sum(q_i * p_i) * (s_q * s_p).

    The integer dot product runs as a JVM aggregate over the int arrays —
    no Python, no float per element — and only the final rescale touches
    doubles.  Same no-exchange plan shape as brute_force_topk."""
    q = F.array(*[F.lit(int(v)) for v in query_qvec])
    idot = F.aggregate(
        F.zip_with(F.col("qvec"), q, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e.cast("long"),
    )
    sim = (idot.cast("double") * F.col("q_scale") * F.lit(float(query_scale))).alias(
        "qsim"
    )
    return (
        quantized.select(F.col(id_col), sim)
        .orderBy(F.desc("qsim"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# SemDedup-style semantic deduplication: drop any vector whose quantized
# cosine to a LOWER-id vector clears the threshold ("greedy keep-by-id").
# ---------------------------------------------------------------------------


def semantic_dominated_ids(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 8,
    max_rows: int = EXACT_ALL_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Ids dominated by a lower-id semantic near-duplicate (one column,
    ``id_col``): v is dominated iff some u with u.id < v.id has
    quantized-cosine(u, v) >= threshold.

    Similarity runs on the int8-quantized vectors (``quantize_int8``), NOT
    raw floats, for two reasons:

    * **bit-stable cross-engine agreement** — the dot product and the two
      squared norms are exact integers (|q| <= 127, 64 dims -> every
      intermediate < 2^53, so even a float summation of them is exact in
      any order), and ``idot / sqrt(n2a * n2b)`` is then one correctly-
      rounded division of one correctly-rounded sqrt: the sim an oracle
      computes from the same ints is the same double, so threshold
      membership can be gated exactly, with no rounded-boundary straddle.
    * **this is the representation a 100 TB corpus would score in
      anyway** — 4x less candidate-shuffle bandwidth (cf. SemDedup,
      Abbas et al. 2023; the reference has no embedding ops, this is
      LLM-pipeline surface).

    Per-vector quantization scale cancels out of the cosine, so the scale
    column is never read.

    exact=True (gate / oracle path): broadcast-matrix block matmul over the
    quantized ints — the `_exact_all_pairs` kernel shape, size-guarded at
    ``max_rows`` (raises, never OOMs).  exact=False (scale path): sign-LSH
    banded candidates (hash-partitioned equi-join, never all-pairs) with
    the same integer verify over the quantized vectors attached to each
    pair; recall tracked by the ``semantic_dedup`` LSH-vs-exact superset
    test (tests/test_operators.py).

    SCALE RULE (measured, SCALING.md): bits-per-band = n_planes/bands must
    grow ~log2(n) to keep bucket occupancy bounded — the small-corpus
    default (32/8 = 4 bits -> 16 buckets/band) degenerates to near-all-
    pairs beyond ~10k vectors (a 20k-vector run at the default was still
    join-bound at 10 min; 128/8 = 16 bits finished in 2.8 s warm at 20k
    and 160/8 at 13.9 s for 200k).  Fewer collisions also lower recall
    per band; hold recall by raising ``bands`` together with n_planes.
    """
    quant = quantize_int8(embeddings, id_col, vec_col).filter(
        F.col("qvec").isNotNull()
    )
    if not exact:
        cand = lsh_candidate_pairs(
            embeddings.filter(F.col(vec_col).isNotNull()),
            dim,
            id_col,
            vec_col,
            n_planes,
            bands,
        )
        idot = F.aggregate(
            F.zip_with(F.col("qvec_a"), F.col("qvec_b"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e.cast("long"),
        ).cast("double")
        n2 = lambda c: F.aggregate(  # noqa: E731
            F.transform(F.col(c), lambda e: e * e),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e.cast("long"),
        ).cast("double")
        scored = attach(
            cand, quant.select(F.col(id_col).alias("id"), "qvec"), "qvec"
        ).select("id_b", (idot / F.sqrt(n2("qvec_a") * n2("qvec_b"))).alias("sim"))
        return (
            scored.filter(F.col("sim") >= F.lit(float(threshold)))
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )

    # NOTE: this broadcast-matrix kernel intentionally mirrors
    # `_exact_all_pairs` (size guard -> driver collect -> broadcast ->
    # per-batch matmul mask); it is a separate body because the dtype
    # (exact int64 vs float64), the sim expression (oracle-exact
    # sqrt+divide), and the projection (dominated ids vs scored pairs)
    # all differ.  A fix to either kernel's guard/batching likely
    # applies to both — check the sibling.
    local = quant.select(id_col, "qvec").limit(max_rows + 1).toPandas()
    if len(local) > max_rows:
        raise ValueError(
            f"semantic dedup exact path exceeds max_rows={max_rows}; use "
            "exact=False (LSH candidates + integer verify)"
        )
    out_schema = T.StructType([T.StructField(id_col, T.LongType())])
    if not len(local):
        # empty / all-NULL-embedding corpus: nothing can dominate —
        # np.stack on zero rows would raise, so return the empty relation
        return embeddings.sparkSession.createDataFrame([], out_schema)
    ids_np = local[id_col].to_numpy(dtype=np.int64)
    qmat = np.stack(local["qvec"].to_numpy()).astype(np.int64)
    n2_all = (qmat * qmat).sum(axis=1)  # exact int64
    bc = embeddings.sparkSession.sparkContext.broadcast((ids_np, qmat, n2_all))

    def batches(it):
        all_ids, all_q, all_n2 = bc.value
        for pdf in it:
            row_ids = pdf[id_col].to_numpy(dtype=np.int64)
            rq = np.stack(pdf["qvec"].to_numpy()).astype(np.int64)
            rn2 = (rq * rq).sum(axis=1)
            idot = rq @ all_q.T  # exact int64
            # same expression the SQL oracle evaluates on the same exact
            # ints: one correctly-rounded sqrt + divide -> bit-identical
            sims = idot / np.sqrt(rn2[:, None].astype(np.float64) * all_n2[None, :])
            dominated = ((all_ids[None, :] < row_ids[:, None]) & (sims >= threshold)).any(
                axis=1
            )
            yield pd.DataFrame({id_col: row_ids[dominated]})

    return quant.select(id_col, "qvec").mapInPandas(batches, out_schema)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = True,
    **kwargs,
) -> DataFrame:
    """Semantic (embedding-cosine) dedup: keep each vector iff no lower-id
    vector is a quantized-cosine near-duplicate at ``threshold``.  The
    survivor set is deterministic (id order, not arrival order) and
    idempotent to re-runs; dedup is an anti-join against the dominated-id
    relation, so the corpus itself is scanned once and never collected."""
    dominated = semantic_dominated_ids(
        embeddings, threshold, id_col, vec_col, exact=exact, **kwargs
    )
    return embeddings.join(dominated, id_col, "left_anti")
