"""Large-scale deduplication operators for training-data pipelines.

Beyond the reference's exact per-report dedup (A1, basic.py:304-340), a
100 TB corpus pipeline needs near-duplicate detection.  All operators here
are deterministic AND fully JVM-side (pure column expressions, whole-stage
codegen — no Python UDFs in any hot path):

  * minhash_candidates    — word-shingle -> 64-perm MinHash -> LSH banding
                            -> bucket self-join (candidate pairs only; no
                            quadratic blowup)
  * simhash               — 60-bit SimHash per doc (Hamming-ball near-dup)
  * simhash_near_pairs    — pigeonhole chunk blocking with a RECALL
                            GUARANTEE: max_hamming+1 chunks, so any pair
                            within the Hamming budget shares >= 1 exact
                            chunk (cannot be missed), then exact verify
  * ngram_jaccard_pairs   — exact Jaccard verification for candidate pairs
                            (the verify step after LSH)

Hash design (shared with the DuckDB oracles in queries.py so every
operator is value-checkable end-to-end): the base hash of a token/shingle
is the first 15 hex digits of md5 parsed as a 60-bit int — computable as
``conv(substr(md5(x),1,15),16,10)`` in Spark and
``('0x'||substr(md5(x),1,15))::BIGINT`` in DuckDB.  MinHash permutations
are the classic ``(a*h + b) mod p`` universal family with the public
MLlib MinHashLSH prime p = 2038074743 (< 2^31), which keeps every product
within int64 in both engines.  (a_i, b_i) are deterministic blake2b-seeded
constants.

Scale notes: signatures are computed by an explode + algebraic min/sum
groupBy — map-side partial aggregation collapses the shingle rows before
the shuffle, so the shuffle carries one 64-long row per (doc, partition).
Banding explodes to (band, band_hash) keys so the self-join is an
equi-join on bucket — the classic LSH-candidate plan whose shuffle is
O(docs x bands), not O(docs^2).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PERM = 64          # minhash permutations
N_BANDS = 16         # LSH bands (4 rows/band)
ROWS_PER_BAND = N_PERM // N_BANDS
MINHASH_PRIME = 2038074743          # MLlib MinHashLSH prime, < 2^31
SHINGLE_K = 3
SIMHASH_BITS = 60                   # 15 hex digits of md5


def _perm_params() -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficients for N_PERM universal hashes,
    a in [1, p-1], b in [0, p-1]."""
    a, b = [], []
    for i in range(N_PERM):
        da = hashlib.blake2b(f"minhash-a-{i}".encode(), digest_size=8).digest()
        db = hashlib.blake2b(f"minhash-b-{i}".encode(), digest_size=8).digest()
        a.append(int.from_bytes(da, "little") % (MINHASH_PRIME - 1) + 1)
        b.append(int.from_bytes(db, "little") % MINHASH_PRIME)
    return a, b


def _md5_60(col: Column) -> Column:
    """First 60 bits of md5 as a positive long (same value as the DuckDB
    expression ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _words(text_col: Column) -> Column:
    """Whitespace tokens, Python-str.split() semantics (no empties)."""
    return F.filter(F.split(F.trim(text_col), r"\s+"), lambda t: t != "")


def shingle_hash_col(text_col: Column, k: int = SHINGLE_K) -> Column:
    """Array of 60-bit hashes of the k-word shingles of ``text_col``,
    reduced mod MINHASH_PRIME.  Documents shorter than k words yield one
    shingle of all their words (possibly the empty string).

    The token array is bound ONCE as a lambda variable (via the
    single-element-array transform) before the per-position lambda runs:
    interpreted higher-order lambdas re-evaluate captured outer
    expressions per element, so referencing the raw tokenize expression
    inside the position lambda is O(doc_len) per shingle — quadratic per
    document (measured 3.9x slower at sf0.1)."""
    def inner(t: Column) -> Column:
        n_sh = F.greatest(F.size(t) - (k - 1), F.lit(1))
        return F.transform(F.sequence(F.lit(1), n_sh),
                           lambda i: F.concat_ws(" ", F.slice(t, i, k)))

    shingles = F.flatten(F.transform(F.array(_words(text_col)), inner))
    return F.transform(shingles, lambda s: _md5_60(s) % MINHASH_PRIME)


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sig: array<long>[N_PERM]) — min over shingles of
    (a_i*h + b_i) mod p per permutation.  Explode + 64 algebraic min aggs:
    map-side combine keeps the shuffle at one row per (doc, partition)."""
    a, b = _perm_params()
    hashes = docs.select(
        "doc_id",
        F.explode(shingle_hash_col(F.col(text_col))).alias("hh"))
    aggs = [
        F.min((F.col("hh") * F.lit(a[i]) + F.lit(b[i])) % MINHASH_PRIME)
        .alias(f"s{i}")
        for i in range(N_PERM)
    ]
    wide = hashes.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"s{i}") for i in range(N_PERM)]).alias("sig"))


def minhash_candidates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 band bucket, with the exact
    signature-similarity estimate for each pair."""
    sigs = minhash_signatures(docs, text_col)

    # Buckets are md5'd INLINE inside the band explode so the 16 band rows
    # per doc carry only (doc_id, band, 32-char bucket) — never the 64-long
    # signature array.  The signatures join back exactly once, AFTER pair
    # dedup, so the band-join shuffle is ~16x narrower.
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda i: F.md5(F.concat_ws(",", F.slice(
                    F.col("sig"), i * ROWS_PER_BAND + 1, ROWS_PER_BAND))),
            )
        ).alias("band", "bucket"),
    )

    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    est = (
        F.size(F.filter(F.zip_with("a_sig", "b_sig",
                                   lambda x, y: x == y), lambda v: v))
        .cast("double") / N_PERM
    )
    return (
        pairs
        .join(sigs.select(F.col("doc_id").alias("a_id"),
                          F.col("sig").alias("a_sig")), "a_id")
        .join(sigs.select(F.col("doc_id").alias("b_id"),
                          F.col("sig").alias("b_sig")), "b_id")
        .select("a_id", "b_id", F.round(est, 4).alias("est_jaccard"))
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash60): 60-bit SimHash over distinct whitespace tokens.
    Bit k is set iff sum over tokens of (2*bit_k(h)-1) > 0, h = 60-bit md5
    token hash.  Explode + 60 algebraic sums (map-side combined); docs with
    no tokens get signature 0."""
    toks = F.array_distinct(_words(F.col(text_col)))
    h = docs.select("doc_id", F.explode(toks).alias("tok")).select(
        "doc_id", _md5_60(F.col("tok")).alias("hh"))
    aggs = [
        F.sum(F.shiftright("hh", k).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{k}")
        for k in range(SIMHASH_BITS)
    ]
    wide = h.groupBy("doc_id").agg(*aggs)
    packed = None
    for k in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    sig = wide.select("doc_id", packed.cast("long").alias("simhash60"))
    return (docs.select("doc_id").join(sig, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("simhash60", F.lit(0)).alias("simhash60")))


def _chunk_layout(n_chunks: int, n_bits: int = SIMHASH_BITS
                  ) -> list[tuple[int, int]]:
    """(offset, width) per chunk, widths as equal as possible."""
    base, extra = divmod(n_bits, n_chunks)
    out, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash with GUARANTEED recall: the signature is
    split into max_hamming+1 disjoint chunks, so by pigeonhole any pair
    within Hamming distance <= max_hamming shares at least one exact chunk
    and is generated as a candidate; candidates are verified exactly with
    bit_count(xor).

    The Hamming budget trades recall scope against candidate density:
    chunks are ~60/(max_hamming+1) bits wide, and unrelated docs collide
    on a chunk with probability ~2^-width, so the candidate join degrades
    toward quadratic as the budget grows (width 15 -> 0.003% random
    collisions; width 7 -> ~1%).  The default 3 (4 chunks of 15 bits) is
    the classic web-dedup setting (Manku et al., WWW'07, 64-bit f=3) and
    keeps the 100 TB candidate volume near-linear; raise it only on small
    corpora.

    CHANGED (round 2): the default was 8 (7-bit chunks, ~1% random chunk
    collisions); callers relying on the old library default should pass
    ``max_hamming=8`` explicitly — results for budgets they pass
    themselves are unchanged."""
    return near_pairs_from_sigs(simhash(docs, text_col), max_hamming)


def near_pairs_from_sigs(sh: DataFrame, max_hamming: int) -> DataFrame:
    """The chunk-blocking + exact-verify core of ``simhash_near_pairs``
    over a precomputed (doc_id, simhash60) table — separated so the
    pigeonhole guarantee is testable on PLANTED signatures at any budget."""
    layout = _chunk_layout(max_hamming + 1)
    chunks = sh.select(
        "doc_id", "simhash60",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash60", off)
            .bitwiseAND(F.lit((1 << width) - 1))
            for off, width in layout
        ])).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(F.col("doc_id").alias("a_id"),
                      F.col("simhash60").alias("a_sig"), "chunk_idx", "chunk")
    b = chunks.select(F.col("doc_id").alias("b_id"),
                      F.col("simhash60").alias("b_sig"), "chunk_idx", "chunk")
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(docs: DataFrame, candidates: DataFrame,
                        threshold: float = 0.8,
                        text_col: str = "text") -> DataFrame:
    """Exact word-set Jaccard verification of candidate (a_id, b_id) pairs
    — the verify stage after LSH candidate generation."""
    sets = docs.select(
        F.col("doc_id"),
        F.array_distinct(F.split(F.col(text_col), r"\s+")).alias("toks"))
    out = (
        candidates
        .join(sets.select(F.col("doc_id").alias("a_id"),
                          F.col("toks").alias("a_toks")), "a_id")
        .join(sets.select(F.col("doc_id").alias("b_id"),
                          F.col("toks").alias("b_toks")), "b_id")
    )
    jac = (F.size(F.array_intersect("a_toks", "b_toks")).cast("double")
           / F.size(F.array_union("a_toks", "b_toks")))
    return (out.select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))
