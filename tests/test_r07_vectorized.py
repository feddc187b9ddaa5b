"""Round-7 optimization parity tests: every vectorized re-implementation
is compared row-for-row (exact values, incl. float bits via repr) against
the round-6 plan shape it replaced, on the sf0.001 fixtures plus
adversarial edges (ties, NaN-producing zero vectors, singleton blocks).

The optimization round's contract is "identical results, faster" — these
tests pin the identical part independently of the DuckDB oracle suite.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def _dot(a, b):
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def test_cosine_cross_pairs_matches_crossjoin_fold(spark):
    """cosine_cross_pairs == crossJoin(F.broadcast)+zip_with fold,
    bit-exactly (same round+filter), on the sf0.001 embeddings."""
    from apt_bron_re_spark.operators.similarity import cosine_cross_pairs
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.filter("label = 0").select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = emb.filter("label = 1").select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    old = (a.crossJoin(F.broadcast(b))
           .select("a_id", "b_id",
                   F.round(_cosine(F.col("a_emb"), F.col("b_emb")), 3)
                   .alias("cos_sim"))
           .filter(F.col("cos_sim") >= 0.15))
    new = cosine_cross_pairs(a, b, threshold=0.15, round_dp=3)
    assert _rows(new) == _rows(old)
    assert len(_rows(new)) > 0          # non-vacuous


def test_cosine_cross_pairs_zero_vector_nan(spark):
    """Zero vectors are the one input regime where the plans diverge —
    and the OLD plan had NO RESULT there either: under ANSI mode (the
    Spark 4 default this session runs) the JVM division raises
    DIVIDE_BY_ZERO, so no query output existed for such inputs to
    preserve.  The vectorized path computes in numpy (IEEE, no error);
    its NaN cosines cross Arrow as NULL and the unchanged Spark-side
    ``round >= threshold`` filter drops them, so the finite pairs come
    back and the degenerate ones vanish instead of crashing the query.
    Real embedding tables contain no zero vectors; on them the plans
    are bit-identical (test_cosine_cross_pairs_matches_crossjoin_fold)."""
    from apt_bron_re_spark.operators.similarity import cosine_cross_pairs
    a = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "a_id bigint, a_emb array<float>")
    b = spark.createDataFrame(
        [(10, [0.5, 0.5]), (11, [-1.0, 0.0])],
        "b_id bigint, b_emb array<float>")
    old = (a.crossJoin(F.broadcast(b))
           .select("a_id", "b_id",
                   F.round(_cosine(F.col("a_emb"), F.col("b_emb")), 3)
                   .alias("cos_sim"))
           .filter(F.col("cos_sim") >= 0.15))
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        old.collect()
    got = _rows(cosine_cross_pairs(a, b, threshold=0.15, round_dp=3))
    assert [r[:2] for r in got] == [("2", "10")]   # finite pair survives


def test_cosine_cross_pairs_keeps_each_sides_id_type(spark):
    """Each id column keeps its own side's type: bigint a-ids against
    string b-ids come back as (bigint, string), equal to the crossJoin
    fold."""
    from apt_bron_re_spark.operators.similarity import cosine_cross_pairs
    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "a_id bigint, a_emb array<float>")
    b = spark.createDataFrame(
        [("x", [1.0, 0.1]), ("y", [0.1, 1.0])],
        "b_id string, b_emb array<float>")
    old = (a.crossJoin(F.broadcast(b))
           .select("a_id", "b_id",
                   F.round(_cosine(F.col("a_emb"), F.col("b_emb")), 3)
                   .alias("cos_sim"))
           .filter(F.col("cos_sim") >= 0.15))
    new = cosine_cross_pairs(a, b, threshold=0.15, round_dp=3)
    assert [f.dataType.simpleString() for f in new.schema.fields[:2]] == [
        "bigint", "string"]
    assert _rows(new) == _rows(old)
    assert len(_rows(new)) == 2         # non-vacuous


def test_ivf_assign_matches_struct_max(spark):
    """Vectorized ivf_assign == the crossJoin + max(struct(ip, -c_id))
    aggregation, including the smallest-c_id tie-break."""
    from apt_bron_re_spark.operators.similarity import (_idot, _quant,
                                                        ivf_assign)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = (emb.filter(F.pmod(F.col("vec_id"), F.lit(25)) == 0)
            .select(F.col("vec_id").alias("c_id"),
                    _quant(F.col("embedding")).alias("c_q")))
    v = emb.select(F.col("vec_id"), _quant(F.col("embedding")).alias("v_q"))
    old = (v.crossJoin(F.broadcast(cent))
           .select("vec_id",
                   F.struct(_idot(F.col("v_q"), F.col("c_q")).alias("ip"),
                            (-F.col("c_id")).alias("neg_c")).alias("s"))
           .groupBy("vec_id").agg(F.max("s").alias("s"))
           .select("vec_id", (-F.col("s.neg_c")).alias("c_id")))
    new = ivf_assign(emb, cent)
    assert _rows(new) == _rows(old)


def test_ivf_assign_tie_breaks_to_smallest_centroid(spark):
    """Two identical centroids: every vector must land on the smaller
    c_id (the struct-max rule np.argmax must reproduce)."""
    from apt_bron_re_spark.operators.similarity import _quant, ivf_assign
    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, -1.0])],
        "vec_id bigint, embedding array<float>")
    cent = spark.createDataFrame(
        [(7, [1.0, 1.0]), (3, [1.0, 1.0])],
        "c_id bigint, embedding array<float>").select(
        "c_id", _quant(F.col("embedding")).alias("c_q"))
    got = {r["vec_id"]: r["c_id"] for r in ivf_assign(vecs, cent).collect()}
    assert got == {0: 3, 1: 3}


def _with_null_vectors(spark):
    """Two real vectors, a null one between them, and a frame of only a
    null vector (a batch with nothing to stack)."""
    schema = "vec_id bigint, embedding array<float>"
    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [3.0, -1.0])], schema)
    return vecs, spark.createDataFrame([(1, None)], schema)


def test_ivf_assign_null_vector_gets_null_centroid(spark):
    """A null vector gets a null c_id and leaves the other rows'
    assignments as they are; a batch of only null vectors, or no rows,
    gives no assignment instead of failing in np.stack."""
    from apt_bron_re_spark.operators.similarity import _quant, ivf_assign
    vecs, only_null = _with_null_vectors(spark)
    cent = spark.createDataFrame(
        [(7, [1.0, 1.0]), (3, [1.0, -1.0])],
        "c_id bigint, embedding array<float>").select(
        "c_id", _quant(F.col("embedding")).alias("c_q"))
    got = {r["vec_id"]: r["c_id"] for r in ivf_assign(vecs, cent).collect()}
    assert got == {0: 7, 1: None, 2: 3}
    assert [tuple(r) for r in ivf_assign(only_null, cent).collect()] == [
        (1, None)]
    assert ivf_assign(vecs.limit(0), cent).collect() == []


def test_lsh_signatures_null_vector_gets_null_buckets(spark):
    """A null vector gets null buckets and leaves the other rows' buckets
    as they are; a batch of only null vectors, or no rows, gives no
    buckets instead of failing in np.stack."""
    from apt_bron_re_spark.operators.similarity import lsh_signatures
    vecs, only_null = _with_null_vectors(spark)
    want = {r["vec_id"]: r["buckets"] for r in lsh_signatures(
        vecs.filter(F.col("embedding").isNotNull()), 2).collect()}
    got = {r["vec_id"]: r["buckets"]
           for r in lsh_signatures(vecs, 2).collect()}
    assert got == {**want, 1: None}
    assert len(want[0]) == len(want[2]) > 0
    assert [r["buckets"] for r in lsh_signatures(only_null, 2).collect()] \
        == [None]
    assert lsh_signatures(vecs.limit(0), 2).collect() == []


def test_embedding_near_pairs_dense_matches_lsh_join(spark, monkeypatch):
    """The dense-regime path == the LSH equi-join path (identical
    candidate predicate + identical exact verify), on the sf0.001
    embeddings with the wide-bucket query parameters; also with a null
    embedding planted, which both paths drop (the pairs equal the run
    without it), and on an input of null embeddings only."""
    from apt_bron_re_spark.operators import similarity as S
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    top = emb.agg(F.max("vec_id")).first()[0]
    nulls = spark.createDataFrame(
        [(top + 1 + i, None, 0) for i in range(16)], emb.schema)

    def both(vectors):
        dense = _rows(S.embedding_near_pairs(vectors, dim=64, threshold=0.4,
                                             n_tables=20, n_planes=4))
        # force the join path by shrinking the dense budget
        with monkeypatch.context() as m:
            m.setattr(S, "_DENSE_MAX_VECTORS", 0)
            joined = _rows(S.embedding_near_pairs(
                vectors, dim=64, threshold=0.4, n_tables=20, n_planes=4))
        assert dense == joined
        return dense

    d = both(emb)
    assert len(d) > 0                   # non-vacuous
    assert both(emb.unionByName(nulls.limit(1))) == d
    assert both(nulls) == []


def test_ngram_jaccard_query_matches_array_exprs(spark):
    """q_ngram_jaccard_dups (applyInPandas matmul) == the round-6
    array_intersect/array_union join, bit-exactly."""
    from apt_bron_re_spark.queries import q_ngram_jaccard_dups
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sets = docs.select(
        "doc_id", "source",
        F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))
        .alias("toks"))
    a = sets.select(F.col("doc_id").alias("a_id"), "source",
                    F.col("toks").alias("a_toks"))
    b = sets.select(F.col("doc_id").alias("b_id"), "source",
                    F.col("toks").alias("b_toks"))
    jac = (F.size(F.array_intersect("a_toks", "b_toks")).cast("double")
           / F.size(F.array_union("a_toks", "b_toks")))
    old = (a.join(b, "source")
           .filter(F.col("a_id") < F.col("b_id"))
           .select("source", "a_id", "b_id",
                   F.round(jac, 4).alias("jaccard"))
           .filter(F.col("jaccard") >= 0.8))
    new = q_ngram_jaccard_dups(spark, SF_DIR)
    got, want = _rows(new), _rows(old)
    assert got == want
    assert len(got) > 0                 # non-vacuous


def test_connected_components_driver_vs_distributed(spark):
    """cc(driver_max_edges=...) == the distributed salted rounds on the
    same graph — including multi-component graphs and chains."""
    from apt_bron_re_spark.operators.canonicalize import connected_components
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p"),
         ("m", "n"), ("n", "o"), ("o", "a")],
        "src string, dst string")
    driver = connected_components(edges, driver_max_edges=1000)
    dist = connected_components(edges)
    assert _rows(driver) == _rows(dist)


def test_connected_components_driver_cap_falls_back(spark):
    """A graph over the driver cap silently takes the distributed path
    (same rows)."""
    from apt_bron_re_spark.operators.canonicalize import connected_components
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    capped = connected_components(edges, driver_max_edges=2)   # 3 edges > 2
    full = connected_components(edges, driver_max_edges=1000)
    assert _rows(capped) == _rows(full)
