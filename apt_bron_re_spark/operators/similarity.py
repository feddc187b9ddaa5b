"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — exact; broadcast the (small) query set and
    keep the dot product JVM-side (zip_with/aggregate) so the scan is one
    narrow pass + a top-k aggregation;
  * multi-table LSH ANN — OR-amplified random-hyperplane signatures
    (``n_tables`` independent sign-LSH tables of ``n_planes`` bits each; a
    vector pair is a candidate if it collides in ANY table), candidates
    re-ranked exactly.  The scale path: the candidate join is an equi-join
    on (table, bucket), so the shuffle is O(n x tables), never O(n^2).

Determinism / oracle-checkability: hyperplanes are deterministic integer
vectors (blake2b-seeded, components in [-1000, 1000]) and the embedding is
quantized to integers (floor(x*1000 + 0.5)) before the signature dot
product — integer dot products are EXACT in any engine and any summation
order, so the bucket assignment is bit-identical between the numpy batch
UDF here and the DuckDB oracle SQL in queries.py.

One owner per rule, shared by every operator here (and the driver
queries in queries.py):
  * ``cosine_expr`` (over ``_dot``) — the JVM cosine fold;
  * ``_rerank`` — round(cosine, 3), the per-query window and the
    ``rnk <= k`` cut that brute-force, IVF and LSH top-k all end with;
  * ``_grid`` / ``_grid_buckets`` — the integer grid and the sign-LSH
    buckets on it (``_quant`` is the grid's column form, for IVF);
  * ``_verify`` — the exact join + round(cosine, 4) filter both
    near-pair plans end with.
``_seq_dots`` stays apart from all of them: it reproduces the JVM fold's
summation order bit for bit, which a matmul does not.

Default (n_tables=20, n_planes=4) is tuned for near-uniform vectors (the
synthetic corpus has 10th-neighbour cosine ~0.28 — the hard case): pytest
gates recall@10 >= 0.9 vs brute force.  Clustered real-world embeddings
reach the same recall with far fewer/narrower tables; both knobs are
per-call.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_TABLES = 20
N_PLANES = 4
QUANT = 1000.0


def _dot(a, b):
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _seq_dots(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """All-pairs dot products with the EXACT summation order of the JVM
    fold ``F.aggregate(zip_with(a, b, ...), 0.0, acc + x)``: one
    vectorized add per dimension, left to right, so every pair's
    accumulator sees the identical IEEE-754 operation sequence and the
    result is bit-for-bit the fold's.  (A BLAS matmul sums in a
    different order — fine for prefilters with a margin, not for values
    that feed a round()+threshold compare directly.)

    Tiled over (row, column) blocks so the accumulator slab stays
    cache-resident across the dim-axis loop — blocking touches only
    WHICH elements are computed together, never the per-element
    operation order, so bit-exactness is preserved (pinned by the
    old-vs-new parity test).  Naive full-width accumulation re-streams
    an m x n slab from memory 64 times (~16 bytes x dim x pairs of
    traffic); the 256x4096 tiles cut that to one pass."""
    m, d = A.shape
    n = B.shape[0]
    AT = np.ascontiguousarray(A.T)          # (d, m): contiguous k-slices
    BT = np.ascontiguousarray(B.T)
    out = np.empty((m, n))
    MB, NB = 256, 4096
    for i in range(0, m, MB):
        for j in range(0, n, NB):
            acc = np.zeros((min(MB, m - i), min(NB, n - j)))
            for k in range(d):
                acc += np.multiply.outer(AT[k, i:i + MB],
                                         BT[k, j:j + NB])
            out[i:i + MB, j:j + NB] = acc
    return out


def _seq_sq_norms(M: "np.ndarray") -> "np.ndarray":
    """Self dot products, same sequential-fold order as ``_seq_dots``."""
    out = np.zeros(M.shape[0])
    for k in range(M.shape[1]):
        out += M[:, k] * M[:, k]
    return out


def cosine_cross_pairs(a: DataFrame, b: DataFrame, threshold: float,
                       round_dp: int = 3,
                       a_id: str = "a_id", a_vec: str = "a_emb",
                       b_id: str = "b_id", b_vec: str = "b_emb"
                       ) -> DataFrame:
    """Vectorized broadcast nested-loop cosine θ-join (the L4 shape):
    every (a, b) pair with ``round(cos, round_dp) >= threshold``.

    Replaces ``a.crossJoin(F.broadcast(b))`` + the per-row interpreted
    ``cosine_expr`` fold with a ``mapInPandas`` over the a-side and a
    numpy batch kernel against the driver-collected b-side — the same
    rows move (b was already broadcast-collected by the old plan; only
    where the per-pair flops run changes), but the O(|a| x |b|)
    arithmetic is vectorized and spreads over every core instead of the
    scan's 1-2 file splits.

    Equivalence contract (results are IDENTICAL, not approximately so):
      * dot products and norms accumulate in the fold's exact order
        (``_seq_dots``) on the same float->double casts, so the raw
        cosine double is bit-identical to the old expression's;
      * round + threshold stay in Spark, unchanged;
      * the Python-side gate keeps every row the rounded filter could
        keep (gate = threshold - 0.6*10^-round_dp < the HALF_UP
        boundary threshold - 0.5*10^-round_dp).

    Degenerate zero-norm vectors (no real embedding table has them) are
    the one divergence: the old JVM division raised DIVIDE_BY_ZERO
    under ANSI mode — no result existed — while here the NaN cosine
    crosses Arrow as NULL and the unchanged filter drops the pair, so
    the query completes with the finite pairs.
    """
    spark = a.sparkSession
    # null b-side vectors produced null cosines (dropped) in the old
    # plan; drop them up front so the kernel sees a clean matrix
    b_rows = b.select(b_id, b_vec).where(F.col(b_vec).isNotNull()).collect()
    out_schema = (f"{a_id} {a.schema[a_id].dataType.simpleString()}, "
                  f"{b_id} {b.schema[b_id].dataType.simpleString()}, "
                  "cos_raw double")
    if not b_rows:
        empty = spark.createDataFrame([], out_schema)
        return (empty.select(a_id, b_id,
                             F.round("cos_raw", round_dp).alias("cos_sim"))
                .filter(F.col("cos_sim") >= threshold))
    b_ids = np.array([r[b_id] for r in b_rows])
    B = np.array([r[b_vec] for r in b_rows], dtype=np.float64)
    b_norm = np.sqrt(_seq_sq_norms(B))
    gate = threshold - 0.6 * (10.0 ** -round_dp)
    bc = spark.sparkContext.broadcast((b_ids, B, b_norm))

    def gen(batches):
        b_ids_, B_, b_norm_ = bc.value
        for pdf in batches:
            pdf = pdf[pdf[a_vec].notna()]
            if pdf.empty:
                continue
            A = np.stack(pdf[a_vec].to_numpy()).astype(np.float64)
            aid = pdf[a_id].to_numpy()
            cos = _seq_dots(A, B_) / (np.sqrt(_seq_sq_norms(A))[:, None]
                                      * b_norm_[None, :])
            with np.errstate(invalid="ignore"):
                keep = ~(cos < gate)          # NaN-inclusive superset
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame({a_id: aid[ii], b_id: b_ids_[jj],
                                "cos_raw": cos[ii, jj]})

    par = spark.sparkContext.defaultParallelism
    raw = (a.select(a_id, a_vec).repartition(par)
           .mapInPandas(gen, out_schema))
    return (raw.select(a_id, b_id,
                       F.round("cos_raw", round_dp).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_emb",
                     ) -> DataFrame:
    """Exact top-k neighbours per query (broadcast nested loop + window)."""
    return _rerank(vectors.crossJoin(F.broadcast(queries)), k,
                   id_col, vec_col, q_id_col, q_vec_col)


def _rerank(cands: DataFrame, k: int, id_col: str, vec_col: str,
            q_id_col: str, q_vec_col: str) -> DataFrame:
    """The exact re-rank every top-k search ends with: each candidate
    (query, vector) row scored by ``round(cosine, 3)``, then the ``k``
    best per query (ties -> smallest vector id), ranked in ``rnk``."""
    scored = cands.select(
        F.col(q_id_col), F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), F.col(q_vec_col)), 3)
        .alias("cos_sim"))
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def hyperplanes(dim: int, n_tables: int = N_TABLES,
                n_planes: int = N_PLANES) -> np.ndarray:
    """(n_tables, n_planes, dim) deterministic integer hyperplanes,
    components uniform in [-1000, 1000] (sign-LSH is scale-free, so
    integer normals behave like Gaussian ones for these widths)."""
    out = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for i in range(n_planes):
            seed = hashlib.blake2b(f"ann-plane-{t}-{i}".encode(),
                                   digest_size=8).digest()
            rng = np.random.default_rng(int.from_bytes(seed, "little"))
            out[t, i] = rng.integers(-1000, 1001, dim).astype(np.float64)
    return out


def _grid(M: "np.ndarray") -> "np.ndarray":
    """floor(x*QUANT + 0.5): the exact integer grid every signature and
    IVF inner product is taken on (``_quant`` is its column form)."""
    return np.floor(M * QUANT + 0.5)


def _grid_buckets(M: "np.ndarray", planes: "np.ndarray") -> "np.ndarray":
    """(len(M), n_tables) int32 sign-LSH buckets of the rows of ``M``
    against ``hyperplanes`` ``planes``: bit i of a table's bucket is the
    sign of the grid row's dot with plane i — integer dots, exact in
    float64 in any summation order."""
    n_tables, n_planes, dim = planes.shape
    bits = (_grid(M) @ planes.reshape(n_tables * n_planes, dim).T) > 0
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    return (bits.reshape(len(M), n_tables, n_planes)
            @ weights).astype(np.int32)


def lsh_signatures(df: DataFrame, dim: int,
                   n_tables: int = N_TABLES, n_planes: int = N_PLANES,
                   vec_col: str = "embedding") -> DataFrame:
    """Adds ``buckets array<int>`` — one sign-LSH bucket per table.
    Quantized-integer dot products: exact, order-independent."""
    planes = hyperplanes(dim, n_tables, n_planes)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def sig(vecs: pd.Series) -> pd.Series:
        # a null vector has null buckets; an empty batch stacks nothing
        ok = vecs.notna().to_numpy()
        out = pd.Series([None] * len(vecs), dtype=object)
        if ok.any():
            mat = np.stack(vecs.to_numpy()[ok]).astype(np.float64)
            out[ok] = pd.Series(list(_grid_buckets(mat, planes)),
                                index=out.index[ok])
        return out

    return df.withColumn("buckets", sig(F.col(vec_col)))


def embedding_near_pairs(vectors: DataFrame, dim: int,
                         threshold: float = 0.9,
                         n_tables: int = 16,
                         n_planes: int = 10,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: OR-amplified sign-LSH bucket
    candidates, then exact cosine verification >= ``threshold``.

    The dedup-family twin of minhash_candidates for dense vectors: the
    self-join is an equi-join on (table, bucket) — shuffle O(n x tables),
    never O(n^2).  Band rows carry IDS ONLY (the vectors re-join once
    after pair dedup, the same shuffle-narrowing as the MinHash band
    join).  Bucket bits are engine-exact (integer-quantized dot products),
    so the DuckDB oracle reproduces the candidate set bit-for-bit.

    Parameter regime matters at scale: sign-LSH collision probability per
    table is (1 - theta/pi)^n_planes, and UNRELATED vectors collide at
    ~2^-n_planes.  The defaults (16 tables x 10 planes) target the
    near-dup regime: recall ~0.98 for cos >= 0.9 pairs while random
    collisions stay at n^2/1024 per table — near-linear candidates.
    WIDE buckets (e.g. the ANN default 20x4) make the candidate set
    approach all-pairs on large corpora: only use them with LOW
    thresholds on small/filtered inputs.

    Regime-adaptive plan choice: when the bucket regime is WIDE — an
    unrelated pair collides in some table with probability
    p = 1 - (1 - 2^-n_planes)^n_tables >= _DENSE_MIN_COLLIDE — the
    equi-join plan degenerates: at sf1.0 (20k vectors, 20x4 buckets,
    p ~ 0.72) the join + dropDuplicates materializes ~140M pair rows and
    then shuffles two 64-float arrays onto each of them for the verify
    (measured 375 s).  For that regime, when the corpus side also fits a
    broadcast (<= _DENSE_MAX_VECTORS), ``_near_pairs_dense`` computes
    the SAME candidate predicate per-pair with numpy (exact integer
    bucket grid + a margin-gated BLAS cosine prefilter) and hands only
    the surviving pairs to the same exact JVM verify (``_verify``) —
    identical rows, no 140M-row shuffle.  The narrow-bucket regime (the
    real 100 TB near-dup setting, e.g. the 16x10 default, p ~ 0.0155)
    keeps the LSH equi-join plan at any n, and p is tested before the
    corpus is counted, so building its plan starts no Spark job; inputs
    bigger than the broadcast budget keep the join too."""
    p_collide = 1.0 - (1.0 - 0.5 ** n_planes) ** n_tables
    id_type = vectors.schema[id_col].dataType.simpleString()
    if (p_collide >= _DENSE_MIN_COLLIDE and id_type in ("bigint", "int")
            and vectors.count() <= _DENSE_MAX_VECTORS):
        return _near_pairs_dense(vectors, dim, threshold, n_tables,
                                 n_planes, id_col, vec_col)
    bands = (lsh_signatures(vectors, dim, n_tables, n_planes, vec_col)
             .select(id_col, F.posexplode("buckets").alias("tbl", "bucket")))
    a = bands.select(F.col(id_col).alias("a_id"), "tbl", "bucket")
    b = bands.select(F.col(id_col).alias("b_id"), "tbl", "bucket")
    pairs = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    return _verify(pairs, vectors, threshold, id_col, vec_col)


def _verify(pairs: DataFrame, vectors: DataFrame, threshold: float,
            id_col: str, vec_col: str) -> DataFrame:
    """The exact verify both near-pair plans end with: each candidate
    (a_id, b_id) pair joined to its two vectors, kept where
    ``round(cosine, 4) >= threshold``, as (a_id, b_id, cos_sim)."""
    va = vectors.select(F.col(id_col).alias("a_id"),
                        F.col(vec_col).alias("a_emb"))
    vb = vectors.select(F.col(id_col).alias("b_id"),
                        F.col(vec_col).alias("b_emb"))
    sim = F.round(cosine_expr(F.col("a_emb"), F.col("b_emb")), 4)
    return (pairs.join(va, "a_id").join(vb, "b_id")
            .select("a_id", "b_id", sim.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


# Dense-path gate: the per-pair collision probability from which the
# candidate set is a large share of all pairs.  The 20x4 regime (p ~ 0.72)
# is in it and the 16x10 default (p ~ 0.0155) is not; no cut between the
# two has been measured, 1/2 only separates them.
_DENSE_MIN_COLLIDE = 0.5

# Dense-path broadcast budget: ids + float64 matrix + bucket table for
# 2^18 vectors of dim 64 is ~150 MB — comfortably under executor memory,
# far over every all-pairs-regime corpus this path is for.
_DENSE_MAX_VECTORS = 1 << 18


def _near_pairs_dense(vectors: DataFrame, dim: int, threshold: float,
                      n_tables: int, n_planes: int,
                      id_col: str, vec_col: str) -> DataFrame:
    """Dense-regime twin of the LSH candidate join (see
    ``embedding_near_pairs``): per-pair evaluation of the IDENTICAL
    candidate predicate — "collides in >= 1 of the n_tables exact
    integer-grid buckets" — plus a superset cosine prefilter, then the
    join path's exact JVM verify (``_verify``).

    Exactness:
      * buckets come from ``_grid_buckets`` with the plane matrix
        ``lsh_signatures`` uses (integer dots are exact in float64 in
        any summation order), so bucket equality is bit-identical to
        the equi-join's keys;
      * the BLAS cosine is a PREFILTER ONLY, gated at
        threshold - 1.1e-4: the final filter keeps a pair iff
        round(cos_fold, 4) >= threshold, i.e. cos_fold >= threshold -
        0.5e-4, and |cos_blas - cos_fold| <= ~2*dim*eps ~ 3e-14 (the
        absolute dot error is bounded by dim*eps*|a||b| via
        Cauchy-Schwarz), so every pair the final filter could keep
        passes the gate with >= 5.9e-5 slack; NaN/Inf prefilter cosines
        are kept as candidates (zero-norm vectors then hit the same
        ANSI DIVIDE_BY_ZERO in the JVM verify the old plan raised —
        identical behavior even on degenerate input);
      * the final ``round(cosine_expr, 4) >= threshold`` runs in Spark
        (``_verify``) on the surviving pairs only.
    """
    spark = vectors.sparkSession
    planes = hyperplanes(dim, n_tables, n_planes)
    # a null vector is in no bucket, so the LSH join drops it: drop it
    # here too (np.array cannot stack it into the matrix)
    rows = (vectors.select(id_col, vec_col)
            .where(F.col(vec_col).isNotNull()).collect())
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    M = np.array([r[vec_col] for r in rows],
                 dtype=np.float64).reshape(len(rows), dim)
    bk = _grid_buckets(M, planes)
    # PRE-normalized rows: the prefilter cosine is then ONE matmul per
    # slab instead of matmul + norm-outer + divide (three full m x n
    # passes -> one; the prefilter is margin-gated, so the ~dim*eps
    # rounding difference vs dividing afterwards is irrelevant).
    # Zero-norm rows become NaN rows -> kept by the NaN-inclusive gate.
    with np.errstate(invalid="ignore", divide="ignore"):
        Mn = M / np.sqrt(np.einsum("ij,ij->i", M, M))[:, None]
    gate = threshold - 1.1e-4
    bc = spark.sparkContext.broadcast((ids, Mn, bk))
    id_type = vectors.schema[id_col].dataType.simpleString()

    def gen(batches):
        ids_, Mn_, bk_ = bc.value
        n = len(ids_)
        # bound each worker's m x n cosine slab to ~128 MB
        chunk = max(16, 16_000_000 // max(n, 1))
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            A_all = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            aid_all = pdf[id_col].to_numpy()
            abk_all = _grid_buckets(A_all, planes)
            with np.errstate(invalid="ignore", divide="ignore"):
                An_all = A_all / np.sqrt(
                    np.einsum("ij,ij->i", A_all, A_all))[:, None]
            for s in range(0, len(aid_all), chunk):
                aid = aid_all[s:s + chunk]
                abk = abk_all[s:s + chunk]
                with np.errstate(invalid="ignore"):
                    cos = An_all[s:s + chunk] @ Mn_.T
                    # hit list FIRST (survivors are sparse); the a<b and
                    # bucket predicates then run on the list, not the
                    # full slab — two fewer full-matrix passes
                    ii, jj = np.nonzero(~(cos < gate))
                if ii.size:
                    keep = aid[ii] < ids_[jj]
                    ii, jj = ii[keep], jj[keep]
                if ii.size:
                    # >=1 shared bucket — the LSH join's exact predicate
                    hit = (abk[ii] == bk_[jj]).any(axis=1)
                    ii, jj = ii[hit], jj[hit]
                yield pd.DataFrame({"a_id": aid[ii], "b_id": ids_[jj]})

    par = spark.sparkContext.defaultParallelism
    pairs = (vectors.select(id_col, vec_col).repartition(par)
             .mapInPandas(gen, f"a_id {id_type}, b_id {id_type}"))
    return _verify(pairs, vectors, threshold, id_col, vec_col)


def _quant(vec) -> "F.Column":
    """floor(x*1000 + 0.5) as longs — the same exact integer grid as the
    LSH signatures, so every assignment comparison is engine-exact."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * QUANT + 0.5)
                       .cast("long"))


def _idot(a, b):
    """Integer dot product (exact in any engine / summation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """(id, c_id): each vector assigned to the centroid maximizing the
    quantized-integer inner product (ties -> smallest centroid id).

    The standard IVF coarse-quantization pass, vectorized (round 7): the
    centroid table is dimension-sized by contract (the old plan already
    F.broadcast it), so it is collected once and each Arrow batch of
    vectors computes ALL its inner products with one numpy matmul.  The
    n x k cross join + per-row interpreted integer fold + max(struct)
    aggregation this replaces was the whole cost of ivf_topk (measured
    130 s of 130 s at sf1.0); the matmul is milliseconds and the plan
    loses its Exchange (no aggregation needed — the argmax is local to
    the row).

    Bit-exactness: both grids are integers (|q| <= ~1000 per component,
    dim-64 dots < 2^53), so the float64 matmul is EXACT regardless of
    summation order — the same engine-exactness argument the DuckDB
    oracle relies on.  Centroids are sorted by c_id and np.argmax takes
    the FIRST maximum, which reproduces the old max(struct(ip, -c_id))
    smallest-c_id tie-break identically."""
    c_rows = sorted(centroids.select("c_id", "c_q").collect(),
                    key=lambda r: r["c_id"])
    if not c_rows:
        return vectors.select(F.col(id_col)).limit(0).withColumn(
            "c_id", F.lit(None).cast("long"))
    c_ids = np.array([r["c_id"] for r in c_rows], dtype=np.int64)
    C = np.array([r["c_q"] for r in c_rows], dtype=np.float64)
    bc = vectors.sparkSession.sparkContext.broadcast((c_ids, C))

    @F.pandas_udf(T.LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        c_ids_, C_ = bc.value
        # a null vector has a null c_id; an empty batch stacks nothing
        ok = vecs.notna().to_numpy()
        out = pd.Series(pd.NA, index=range(len(vecs)), dtype="Int64")
        if ok.any():
            M = np.stack(vecs.to_numpy()[ok]).astype(np.float64)
            ip = _grid(M) @ C_.T               # integer-exact in float64
            out[ok] = c_ids_[np.argmax(ip, axis=1)]
        return out

    return vectors.select(F.col(id_col),
                          assign(F.col(vec_col)).alias("c_id"))


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             centroid_stride: int = 50, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_emb") -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into inverted
    lists (ivf_assign), probe the ``nprobe`` centroids nearest to each
    query, exact-rerank only those lists.

    Centroids are SAMPLED deterministically (every ``centroid_stride``-th
    vector id) — no trained k-means, so the quantizer is engine-exact and
    SQL-expressible end-to-end (the DuckDB oracle reproduces assignment
    bit-for-bit via the same integer grid).  On clustered real-world
    embeddings sampled centroids land inside clusters and recall tracks
    trained IVF closely (pytest gates recall@10 >= 0.9 on a planted
    clustered corpus); on adversarially uniform vectors recall degrades
    toward nprobe/n_centroids like any IVF — use lsh_topk there.

    Scale shape: assignment is a broadcast cross product + algebraic
    argmax (no data-sized shuffle beyond one row per vector); the probe
    join is an equi-join on c_id, so the candidate shuffle is
    O(n x nprobe / n_centroids) per query — never O(n^2)."""
    cent = (vectors.filter(F.pmod(F.col(id_col), F.lit(centroid_stride)) == 0)
            .select(F.col(id_col).alias("c_id"),
                    _quant(F.col(vec_col)).alias("c_q")))
    inv = (ivf_assign(vectors, cent, id_col, vec_col)
           .join(vectors, id_col))

    q = queries.select(F.col(q_id_col), F.col(q_vec_col),
                       _quant(F.col(q_vec_col)).alias("qq"))
    wq = Window.partitionBy(q_id_col).orderBy(
        F.desc("ip"), F.asc("c_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(q_id_col, q_vec_col, "c_id",
                _idot(F.col("qq"), F.col("c_q")).alias("ip"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(q_id_col, q_vec_col, "c_id")
    )

    cands = inv.join(F.broadcast(probes), "c_id").select(
        q_id_col, id_col, vec_col, q_vec_col)
    return _rerank(cands, k, id_col, vec_col, q_id_col, q_vec_col)


def lsh_topk(vectors: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_tables: int = N_TABLES, n_planes: int = N_PLANES,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_emb") -> DataFrame:
    """Approximate top-k with OR-amplification: score only vectors that
    share >= 1 of n_tables LSH buckets with the query, re-rank exactly."""
    v = (lsh_signatures(vectors, dim, n_tables, n_planes, vec_col)
         .select(id_col, vec_col,
                 F.posexplode("buckets").alias("tbl", "bucket")))
    q = (lsh_signatures(queries, dim, n_tables, n_planes, q_vec_col)
         .select(q_id_col, q_vec_col,
                 F.posexplode("buckets").alias("tbl", "bucket")))
    cands = (
        v.join(F.broadcast(q), ["tbl", "bucket"])
        .select(q_id_col, id_col, vec_col, q_vec_col)
        .dropDuplicates([q_id_col, id_col])
    )
    return _rerank(cands, k, id_col, vec_col, q_id_col, q_vec_col)
