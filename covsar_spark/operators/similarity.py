"""Similarity search over the embeddings table.

- `cosine_topk`: brute-force exact top-k — the correctness baseline. Dot
  products via higher-order array functions (JVM-side `aggregate`/`zip_with`,
  no Python), ranks via a per-query window.
- `lsh_topk`: random-hyperplane LSH bucketing — the scale path: candidates
  come only from the query's bucket plus its Hamming-1 probes, turning the
  all-pairs cross join into a bucket equi-join. All plane projections are one
  pandas-UDF gemm per Arrow batch (planes re-derived deterministically from
  the batch's dim + seed — no driver-side `.first()` at plan build).
  Recall@k vs `cosine_topk` is measured in tests/test_similarity.py.
- `near_dup_pairs`: exact all-pairs cosine near-duplicates via DISTRIBUTED
  block matmul: vectors are grouped into B blocks executor-side
  (collect_list per block — a shuffle, never a driver collect), the B(B+1)/2
  unordered block pairs are enumerated as a tiny broadcast table of bare int
  ids, vector blocks attach via shuffle equi-joins on blk, and each
  block-pair task runs one gemm. Per-task memory is bounded by the GEMM
  OUTPUT (rows capped at sqrt(budget/8) per block, sims <=64 MB) and
  nothing vector-sized is ever broadcast — no driver state, no
  per-executor corpus copy.
- `near_dup_lsh`: the sub-quadratic variant — LSH bucket candidates verified
  with the exact Arrow cosine (`pair_cosine`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.DoubleType())
def pair_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine for pair columns: one einsum per batch.

    The JVM higher-order fold (`_dot`) is interpreted per element (~300us
    per 64-dim pair) — fine for small top-k candidate sets, hopeless for
    all-pairs near-dup scans. This path is ~1000x faster per pair. Used by
    `near_dup_lsh` to verify LSH candidates exactly.

    Accumulates in float64 explicitly (round-5 advice): the embeddings column
    is array<float>, and np.stack would keep float32 — a float32 einsum can
    swap the rank of two candidates whose true cosines differ by ~1e-6,
    silently diverging from both the `_dot` double fold and the DuckDB
    oracle's DOUBLE[] ranking. The upcast restores 1-ulp parity."""
    A = np.stack(va.to_numpy()).astype(np.float64)
    B = np.stack(vb.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B))
    return pd.Series(num / den)


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(emb: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, rank, neighbor_id).

    Ties broken by neighbor_id so ranking is engine-independent.
    """
    # norms projected once per vector — higher-order array lambdas are
    # interpreted, so per-pair recomputation would cost O(pairs x dim)
    withn = emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    q = withn.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), F.col("nrm").alias("qn")
    )
    c = withn.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), F.col("nrm").alias("cn")
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


PLANE_SCALE = 1000  # integer coefficients in [-1000, 1000]
QUANT = 1_000_000.0  # embedding quantization: q[d] = floor(x[d] * 1e6)


def _md5_int_matrix(tag: str, seed: int, n: int, dim: int) -> np.ndarray:
    """ONE definition of the md5-derived integer coefficient matrix BOTH SQL
    oracles replay bit-for-bit:
    ``('0x' || substr(md5('tag|seed|i|d'), 1, 10))::BIGINT % 2001 - 1000``.
    hyperplanes (LSH) and ivf_centroids differ only in tag/seed — keeping
    the derivation in one place means a width/scale tweak cannot
    desynchronize one oracle while the other keeps passing (round-4
    review)."""
    import hashlib

    c = np.empty((n, dim), dtype=np.int64)
    for i in range(n):
        for d in range(dim):
            h = int(hashlib.md5(f"{tag}|{seed}|{i}|{d}".encode()).hexdigest()[:10], 16)
            c[i, d] = h % (2 * PLANE_SCALE + 1) - PLANE_SCALE
    return c


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 123) -> np.ndarray:
    """Deterministic INTEGER hyperplanes (see _md5_int_matrix; the
    `minhash_params` trick, dedup.py). Uniform symmetric coefficients give
    the same sign-of-projection LSH guarantees as Gaussian planes for
    angular similarity (Charikar SimHash family)."""
    return _md5_int_matrix("lshplane", seed, n_planes, dim)


def lsh_bucket_udf(n_planes: int = 8, seed: int = 123):
    """Sign-of-projection bucket id as ONE gemm per Arrow batch (replaces the
    per-plane interpreted HOF fold — ~300us/plane/row -> one BLAS call).
    Planes are re-derived from (dim, seed) inside the UDF, so the plan needs
    no driver-side schema probe and every batch/executor sees identical
    planes. The projection is EXACT int64 arithmetic on floor-quantized
    embeddings (|q| <= ~1e6, |c| <= 1e3, 64 dims -> |proj| <= ~6.4e10, far
    below 2^63 and 2^53), so the bucket id is bit-identical across engines,
    summation orders, and the SQL oracle."""

    @F.pandas_udf(T.LongType())
    def bucket(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        Q = np.floor(M * QUANT).astype(np.int64)
        planes = hyperplanes(M.shape[1], n_planes, seed)
        bits = (Q @ planes.T) > 0
        weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
        return pd.Series(bits.astype(np.int64) @ weights)

    return bucket


def probed_fraction(n_planes: int) -> float:
    """Fraction of the 2^P bucket space a Hamming-2 multi-probe covers:
    (1 + P + C(P, 2)) / 2^P. Expected candidates per query per table is
    this fraction x corpus size (uniform-occupancy estimate)."""
    return (1 + n_planes + n_planes * (n_planes - 1) // 2) / float(1 << n_planes)


def resolve_planes_topk(
    n: int,
    n_planes: int = 8,
    n_tables: int = 1,
    target_cands: int = 2048,
    max_planes: int = 24,
) -> int:
    """Smallest P >= n_planes whose expected TOTAL candidate volume per
    query (probed_fraction(P) * n * n_tables) fits ``target_cands`` — the
    top-k analogue of `resolve_n_planes` (round 6): with a FIXED P the
    Hamming-2 probe set covers a fixed fraction of bucket space, so
    per-query candidates grow linearly with the corpus. MEASURED at the
    10x corpus (20.5k vectors, single table): recall 0.897/0.830/0.763/
    0.650 at P=8/10/12/14 (probing 14/5.5/1.9/0.65% of the corpus) —
    deeper planes trade recall for volume, and `n_tables` buys it back AND
    MORE (test_lsh_topk_multitable_recall_at_10x): at the same 2048
    candidate budget, 2/4/8 tables auto-resolve to P=11/12/13 and read
    0.950/1.000/1.000 planted top-1 recall — beating the fixed
    single-table P=8 form (0.897) at HALF its candidate volume, because
    independent shallow-ish tables cover the neighborhood better than one
    deep probe set."""
    p = n_planes
    while p < max_planes and probed_fraction(p) * n * n_tables > target_cands:
        p += 1
    return p


def lsh_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 123,
    auto_planes: bool = False,
    target_cands: int = 2048,
    n_vecs: int | None = None,
) -> DataFrame:
    """Bucketed ANN: exact cosine ranking restricted to the query's bucket
    plus its Hamming<=2 probe buckets (multi-probe LSH — recall measured
    against `cosine_topk` in tests/test_similarity.py), per table.

    Defaults (8 planes, 1 table, seed 123) reproduce the SQL oracle's
    pinned single-table form bit-for-bit. The SCALE path mirrors
    `near_dup_lsh`: ``auto_planes`` deepens P so expected candidates per
    query stay ~``target_cands`` (see `resolve_planes_topk`), and
    ``n_tables`` independent tables (seed + 1000t, the near_dup seeds)
    buy the recall back that deeper planes cost — the union of per-table
    candidate sets is deduped as bare id pairs before any vector ships.

    Candidate scoring is the `pair_cosine` Arrow gemm (one einsum per
    batch), not the interpreted HOF fold: at production query volumes
    (thousands of queries x hundreds of candidates) the ~300us/pair fold
    dominates the one-gemm bucketing it sits behind (round-4 verdict #2).
    The cosine value is identical to the fold within 1 ulp and ranking is
    id-tie-broken, so the exact SQL oracle is unaffected — measured in
    bench.py's `ann_lsh_q100` line."""
    if auto_planes:
        n = n_vecs if n_vecs is not None else emb.count()
        n_planes = resolve_planes_topk(n, n_planes, n_tables, target_cands)
    # one (table, bucket) key per vector per table — identical layout to
    # near_dup_lsh's keys; n_tables=1 with table seed `seed + 0` is exactly
    # the historical single-table form the SQL oracle replays
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    lsh_bucket_udf(n_planes, seed + 1000 * t)(F.col("embedding")).alias("bk"),
                )
                for t in range(n_tables)
            ]
        )
    ).alias("key")
    with_b = emb.select("vec_id", keys).select(
        "vec_id", F.col("key.t").alias("t"), F.col("key.bk").alias("bucket")
    )
    # multi-probe to Hamming distance 2: self + single-bit + two-bit flips
    # (1 + P + P(P-1)/2 buckets of the 2^P total). Depth 2 is the recall
    # knob that keeps the integer-plane variant >= the 0.6 floor; candidate
    # volume stays a small fraction of the corpus and only query rows fan out.
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        *[
            F.col("bucket").bitwiseXOR(F.lit((1 << i) ^ (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ],
    )
    q = (
        with_b.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            "t",
            F.explode(probes).alias("bucket"),
        )
    )
    c = with_b.select(F.col("vec_id").alias("neighbor_id"), "t", "bucket")
    # candidates as BARE id pairs, deduped BEFORE any vector ships (the
    # near_dup_lsh pattern): multi-probe buckets overlap (and so do
    # tables), and a dedup shuffle carrying two 64-float vectors per
    # duplicate candidate costs more than the interpreted fold it replaced
    # (measured round 5 — the first gemm cut scored after a vector-heavy
    # dropDuplicates and LOST to the fold at 20k corpus x 1000 queries).
    # Vectors attach once per UNIQUE pair; scoring is one pair_cosine
    # einsum per Arrow batch.
    cand = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    eq = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    ec = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    sims = (
        cand.join(F.broadcast(eq.filter(F.col("query_id") < n_queries)), "query_id")
        .join(ec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            pair_cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def resolve_n_lists(n: int, n_lists: int = 16, target_list: int = 128) -> int:
    """ONE definition of `ivf_topk`'s auto_lists sizing, importable by
    callers that pin an oracle parameter (round-5 advice: the contract's
    stored SQL pins 16 lists — asserting against THIS function makes a
    corpus-size change fail loudly instead of silently diverging)."""
    import math

    return max(n_lists, math.ceil(n / target_list))


def resolve_n_planes(n: int, n_planes: int = 4, target_bucket: int = 32) -> int:
    """ONE definition of `near_dup_lsh`'s auto_planes sizing (see
    `resolve_n_lists` for why this is a public function)."""
    import math

    if n > target_bucket:
        return max(n_planes, math.ceil(math.log2(n / target_bucket)))
    return n_planes


def resolve_n_tables(
    n_planes: int,
    n_tables: int = 4,
    target_sim: float = 0.90,
    target_recall: float = 0.8,
) -> int:
    """Banding-identity table count: the smallest b with
    1 - (1 - p^r)^b >= target_recall for a pair at ``target_sim``, where
    p = 1 - arccos(s)/pi is the per-plane collision probability of
    sign-of-projection LSH (Charikar). This is auto_planes' missing
    companion (round-5 verdict #4): each plane auto_planes adds multiplies
    a table's collision probability by p, so at a FIXED table count recall
    decays as the corpus grows (measured 0.586 at the 10x corpus, 4 tables,
    sim-0.90 — BENCH.md r5). Growing b by the same identity holds the
    declared (target_sim, target_recall) operating point at any corpus
    size; candidate volume stays ~linear because each table's expected
    occupancy is still held by auto_planes. At the oracle-pinned r=6,
    b = ceil(ln(0.2)/ln(1 - 0.85644^6)) = 4 — exactly the pinned 4 tables,
    so the contract entry can run with both auto knobs on."""
    import math

    p = 1.0 - math.acos(min(1.0, max(-1.0, target_sim))) / math.pi
    pr = p**n_planes
    if pr >= 1.0:
        return n_tables
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
    return max(n_tables, b)


def resolve_n_probe(
    n_lists: int,
    n_probe: int = 4,
    target_recall: float = 0.8,
) -> int:
    """Probe-count auto knob — `auto_lists`' missing companion (round-6
    verdict #3, the IVF mirror of `resolve_n_tables`): with n_lists growing
    linearly in the corpus and n_probe FIXED, the probed fraction shrinks
    without bound and recall must eventually sink below any target.

    Derivation, anchored in measurement rather than a uniformity argument:
    the r6 recall study (b011304:scripts/ivf_recall_study.py, BENCH_SCALE_STUDY.json
    `ivf_recall_10x`) measured the planted sim-0.90 top-1 miss rate at the
    10x corpus (161 lists) as 0.194/0.074/0.012/0.0 at n_probe 4/8/16/32 —
    a clean exponential tail, least-squares fit
    ``miss(P) ~ exp(-(0.730 + 0.2313 P))``. The probes needed at the anchor
    list count are therefore ``P_req = (-ln(1-target) - 0.730) / 0.2313``
    (target 0.8 -> 3.80 -> 4, reproducing the measured 0.806 at P=4).
    Under list growth the neighbor's home-list RANK in the query's centroid
    ordering grows sublinearly (the quantizer localizes; rank 1-2 dominates
    at every measured scale) — modelled conservatively as sqrt(n_lists /
    161), validated in the growth direction by a 30x measurement
    (BENCH_SCALE_STUDY.json `ivf_auto_probe_30x`). Per-query candidate
    volume then grows only ~sqrt(n): n_probe * target_list * sqrt-factor.

    Resolves to the oracle-pinned n_probe=4 at every corpus whose
    auto_lists resolution stays at the anchor or below (all driver scales:
    16 lists << 161), asserted loudly by the contract entry."""
    import math

    _A, _B, _ANCHOR_LISTS = 0.730, 0.2313, 161
    p_req = (-math.log(max(1e-12, 1.0 - target_recall)) - _A) / _B
    scale = math.sqrt(n_lists / _ANCHOR_LISTS) if n_lists > _ANCHOR_LISTS else 1.0
    return max(n_probe, math.ceil(p_req * scale))


def ivf_centroids(dim: int, n_lists: int = 16, seed: int = 77) -> np.ndarray:
    """Deterministic INTEGER centroid directions from md5 arithmetic — the
    SQL-replayable analogue of the seeded-Gaussian quantizer (same derivation
    as `hyperplanes`, key 'ivfcent|seed|l|d')."""
    return _md5_int_matrix("ivfcent", seed, n_lists, dim)


def ivf_assign_udf(n_lists: int = 16, seed: int = 77, top: int = 1):
    """IVF coarse quantizer: assign each vector to the ``top`` centroid
    directions maximizing the EXACT int64 dot product of the floor-quantized
    embedding with md5-derived integer centroids (a deterministic conical
    partition — k-means-free, reproducible with no training pass, and
    bit-replayable by the SQL oracle; ties break to the smaller list id).
    One gemm per Arrow batch; returns an array of list ids so the query side
    can multi-probe."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        Q = np.floor(M * QUANT).astype(np.int64)
        cents = ivf_centroids(M.shape[1], n_lists, seed)
        scores = Q @ cents.T  # exact int64: |q|<=~1e6, |c|<=1e3, 64 dims
        # composite sort key: desc score, asc list id — unique per list
        comp = scores * np.int64(n_lists) - np.arange(n_lists, dtype=np.int64)
        order = np.argsort(-comp, axis=1)[:, :top]
        return pd.Series([row.astype(np.int32) for row in order])

    # asNondeterministic: the assignment IS deterministic (md5 centroids),
    # but without this the optimizer pushes the join's implicit
    # isnotnull(list_id) filter BELOW the projection and re-evaluates the
    # UDF on both sides (guide §4.4) — the plan showed two chained
    # ArrowEvalPython nodes per scan, each needing its own Python worker
    # per task (2x the warm pool; the first execution forked+imported 32
    # extra workers inside its wall: 11.8s one-shot vs 1.4s steady).
    return assign.asNondeterministic()


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 77,
    auto_lists: bool = False,
    target_list: int = 128,
    n_vecs: int | None = None,
    auto_probe: bool = False,
    target_recall: float = 0.8,
) -> DataFrame:
    """IVF ANN — the second scale path beside LSH: corpus vectors live in
    their single nearest centroid's inverted list (hash-partitionable by
    list id); queries probe their ``n_probe`` nearest lists and rank
    exactly inside them. Cross-list recall is measured against
    `cosine_topk` in tests/test_similarity.py.

    List-count scaling (sibling of near_dup_lsh's auto_planes): with fixed
    ``n_lists`` each inverted list grows linearly with the corpus, so
    per-query candidate work is n_probe * n / n_lists — linear in n (never
    quadratic, unlike the near-dup join), but the per-query constant grows
    without bound. ``auto_lists=True`` sizes n_lists = max(n_lists,
    ceil(n / target_list)) so probed-candidate volume per query stays
    ~n_probe * target_list. The oracle pins 16 lists, which auto-sizing
    reproduces for corpora up to 16 * target_list = 2048 vectors — all
    driver scales.

    Recall under list growth — MEASURED, not argued (round 6): at the 10x
    corpus (20.5k vectors -> 161 lists) planted-pair top-1 recall for
    sim-0.90 partners is 0.806 / 0.926 / 0.988 / 1.0 at n_probe
    4 / 8 / 16 / 32 (BENCH_SCALE_STUDY.json `ivf_recall_10x`, pinned by
    tests/test_similarity.py::test_ivf_auto_lists_holds_recall_at_10x):
    the md5-conical quantizer localizes near neighbors well enough that
    the DEFAULT probe count already clears 0.8 while probing only 2.5% of
    the corpus. ``auto_probe=True`` closes the loop (round 7): n_probe is
    derived from a declared ``target_recall`` via `resolve_n_probe` (the
    measured miss-rate fit at the 161-list anchor, sqrt rank-growth under
    further list growth), so recall is held by construction as auto_lists
    scales — the last manual recall knob is gone."""
    if auto_lists:
        n = n_vecs if n_vecs is not None else emb.count()
        n_lists = resolve_n_lists(n, n_lists, target_list)
    if auto_probe:
        n_probe = resolve_n_probe(n_lists, n_probe, target_recall)
    corpus = emb.withColumn(
        "list_id", ivf_assign_udf(n_lists, seed, top=1)(F.col("embedding"))[0]
    )
    q = (
        # the query side is n_queries rows by construction: collapse it to
        # ONE partition before the assign UDF so the broadcast-side subtree
        # is one task holding one Python worker, not a scan-parallelism fan
        # of tasks each holding a worker concurrently with the corpus stage
        # (repartition AFTER the filter: the scan+filter stay parallel, only
        # the surviving handful of rows shuffle)
        emb.filter(F.col("vec_id") < n_queries)
        .repartition(1)
        .withColumn("probes", ivf_assign_udf(n_lists, seed, top=n_probe)(F.col("embedding")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode(F.col("probes")).alias("list_id"),
        )
    )
    c = corpus.select(
        "list_id", F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    # candidate scoring via the pair_cosine Arrow gemm (not the interpreted
    # HOF fold) — same rationale as lsh_topk; a vector lives in exactly one
    # inverted list so (query, neighbor) pairs are already unique
    sims = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            pair_cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


_PAIR_SCHEMA = "id_a long, id_b long, same_label boolean"


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_blocks: int | None = None,
    target_block_bytes: int = 64 << 20,
    n_vecs: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-duplicates via distributed block matmul.

    Vectors are hashed into ``n_blocks`` blocks; each block is packed into
    one row executor-side (shuffle + collect_list — the driver never sees a
    vector); the B(B+1)/2 unordered block pairs come from a broadcast
    self-join of the tiny packed table; each pair-task L2-normalizes its two
    blocks and runs one gemm, emitting only over-threshold (id_a < id_b)
    pairs. Every unordered vector pair lands in exactly one block-pair task.

    Scale: the per-task memory driver is NOT the two packed blocks but the
    rows_a x rows_b GEMM OUTPUT (round-4 review: byte-based sizing allowed
    ~131k-row blocks whose sims matrix alone is ~137 GB), so ``n_blocks``
    bounds ROWS per block at sqrt(target_block_bytes / 8) — the sims matrix
    then stays <= ``target_block_bytes`` (64 MB -> <=2896 rows/block, packed
    block ~1.5 MB at dim 64, far under Arrow's 2 GB row limit). Blocking
    never changes the output, only task granularity. Inherently O(n^2)
    work — this is the exact verifier; `near_dup_lsh` is the sub-quadratic
    scale path.
    """
    if n_blocks is None:
        # the sizing count is a tiny Spark job that runs at EVERY plan build
        # on purpose: any memoization (plan hash, DF identity) goes stale
        # the moment the files at the source path change — re-reading the
        # same path after an append would reuse an under-sized n_blocks,
        # the exact blow-up the sizing prevents. Callers with a known corpus
        # skip it via ``n_blocks`` or ``n_vecs`` (e.g. the contract passes
        # the parquet-footer row count — metadata, no job).
        n = n_vecs if n_vecs is not None else int(emb.agg(F.count(F.lit(1))).first()[0] or 0)
        max_rows = max(1, int((target_block_bytes / 8) ** 0.5))
        n_blocks = max(1, -(-n // max_rows))
    packed = (
        emb.select("vec_id", "embedding", "label", F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding", "label")).alias("items"))
    )
    # Block-pair enumeration: the ONLY broadcast is the B(B+1)/2 table of
    # bare int ids (spark.range cross join — bytes, not vectors); the packed
    # VECTOR blocks attach via two shuffle equi-joins on blk. Broadcasting
    # the packed table itself (the previous formulation) ships the whole
    # corpus to every executor — a memory bomb at scale.
    sess = emb.sparkSession
    ids_a = sess.range(n_blocks).select(F.col("id").alias("blk_a"))
    ids_b = sess.range(n_blocks).select(F.col("id").alias("blk_b"))
    pair_ids = F.broadcast(ids_a.crossJoin(ids_b).filter(F.col("blk_a") <= F.col("blk_b")))
    pairs = (
        pair_ids.join(
            packed.select(F.col("blk").alias("blk_a"), F.col("items").alias("items_a")),
            "blk_a",
        )
        .join(
            packed.select(F.col("blk").alias("blk_b"), F.col("items").alias("items_b")),
            "blk_b",
        )
        # spread the B(B+1)/2 tasks across executors; sizing the partition
        # COUNT to ~the pair count keeps each task (and therefore each
        # Arrow batch the mapInPandas receives as one pandas frame) down to
        # a few block pairs — with the default hash partitioning many pairs
        # could land in one partition and all materialize in a single pdf
        # (round-4 review)
        .repartition(min(n_blocks * (n_blocks + 1) // 2, 4096), "blk_a", "blk_b")
    )

    def op(it):
        for pdf in it:
            out_a, out_b, out_same = [], [], []
            # each "row" here is one BLOCK PAIR (two packed vector blocks),
            # so this loop runs O(B^2 / tasks) times, never per vector
            for blk_a, blk_b, items_a, items_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["items_a"], pdf["items_b"]
            ):
                diag = blk_a == blk_b
                ia = np.array([x["vec_id"] for x in items_a], dtype=np.int64)
                ib = np.array([x["vec_id"] for x in items_b], dtype=np.int64)
                la = {int(x["vec_id"]): x["label"] for x in items_a}
                lb = {int(x["vec_id"]): x["label"] for x in items_b}
                A = np.stack([np.asarray(x["embedding"], np.float64) for x in items_a])
                B = np.stack([np.asarray(x["embedding"], np.float64) for x in items_b])
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                B /= np.linalg.norm(B, axis=1, keepdims=True)
                sims = A @ B.T
                # round-then-compare (suite convention): an unrounded
                # threshold lets a 1-ulp einsum-vs-sequential-sum gap
                # at the boundary emit a pair in one engine only
                mask = np.round(sims, 6) >= threshold
                if diag:
                    # within a block, keep the upper triangle only
                    mask &= ia[:, None] < ib[None, :]
                else:
                    # distinct blocks: every (i, j) is a distinct unordered
                    # pair — emit canonically as (min, max)
                    mask &= ia[:, None] != ib[None, :]
                r, c = np.nonzero(mask)
                pa, pb = ia[r], ib[c]
                pa, pb = np.minimum(pa, pb), np.maximum(pa, pb)
                out_a.append(pa)
                out_b.append(pb)
                out_same.extend(la[int(x)] == lb[int(y)] for x, y in zip(ia[r], ib[c]))
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "same_label": out_same,
                    }
                )

    return pairs.mapInPandas(op, _PAIR_SCHEMA)


def near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 4,
    n_tables: int = 4,
    seed: int = 123,
    auto_planes: bool = False,
    target_bucket: int = 32,
    n_vecs: int | None = None,
    auto_tables: bool = False,
    target_sim: float = 0.90,
    target_recall: float = 0.8,
) -> DataFrame:
    """Sub-quadratic near-duplicates: multi-table hyperplane-LSH candidates
    (a pair is a candidate if it collides in ANY of the ``n_tables``
    independent 2^n_planes-bucket tables — classic banding, recall
    1-(1-p^r)^b) verified with the exact Arrow cosine (`pair_cosine`), so
    precision is 1.0 by construction. Candidates come from (table, bucket)
    equi-joins — the scale path; recall vs the exact `near_dup_pairs` is
    measured in tests/test_similarity.py.

    Plane-count scaling (round-5 scale study finding): with a FIXED
    ``n_planes`` the bucket space is fixed, so occupancy grows linearly
    with the corpus and within-bucket candidate pairs grow QUADRATICALLY —
    a 10x corpus measured 4.3x-linear wall (BENCH_SCALE_STUDY.json).
    ``auto_planes=True`` sizes n_planes = max(n_planes,
    ceil(log2(n / target_bucket))) so expected occupancy stays ~constant
    and candidate volume stays ~linear in n. Sizing needs the corpus count:
    pass ``n_vecs`` if known, else ONE eager count job runs at plan build
    (same documented trade as `near_dup_pairs`). The contract oracle pins
    n_planes=6, which auto-sizing reproduces for every corpus up to
    target_bucket * 2^6 = 2048 vectors — all driver scales.

    Recall trade: each added plane multiplies a table's collision
    probability for a sim-s pair by p = 1 - arccos(s)/pi, so holding
    recall while planes grow requires raising ``n_tables``
    (1-(1-p^r)^b banding algebra). MEASURED at the 10x corpus (20.5k
    vectors, auto -> 10 planes, 500 planted sim-0.90 pairs, BENCH.md r5):
    recall 0.586 / 0.834 / 0.976 at 4 / 8 / 16 tables — within 2 points
    of the banding prediction (0.61 / 0.85 / 0.98), with wall 7.7 / 4.0 /
    23.6 s tracking candidate volume. ``auto_tables=True`` (round-6) closes
    the loop: b is computed from the banding identity at the declared
    (``target_sim``, ``target_recall``) operating point AFTER plane
    resolution (`resolve_n_tables`), so the recall floor survives corpus
    growth with auto knobs only — pinned by the planted-pair test in
    tests/test_similarity.py and re-measured at the 10x corpus (BENCH.md
    r6)."""
    if auto_planes:
        n = n_vecs if n_vecs is not None else emb.count()
        n_planes = resolve_n_planes(n, n_planes, target_bucket)
    if auto_tables:
        # AFTER plane resolution: b compensates for whatever r came out
        n_tables = resolve_n_tables(n_planes, n_tables, target_sim, target_recall)
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    lsh_bucket_udf(n_planes, seed + 1000 * t)(F.col("embedding")).alias("bk"),
                )
                for t in range(n_tables)
            ]
        )
    ).alias("key")
    b = emb.select("vec_id", keys).select(
        "vec_id", F.col("key.t").alias("t"), F.col("key.bk").alias("bk")
    )
    # candidates as BARE id pairs: dedup before any vector ships through a
    # shuffle or Arrow (the id-pair set is ~10x smaller than pairs x dim)
    cand = (
        b.select("t", "bk", F.col("vec_id").alias("id_a"))
        .join(b.select("t", "bk", F.col("vec_id").alias("id_b")), ["t", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("label").alias("label_a")
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("label").alias("label_b")
    )
    verified = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", pair_cosine(F.col("va"), F.col("vb")))
        .filter(F.round(F.col("sim"), 6) >= threshold)
    )
    return verified.select(
        "id_a", "id_b", (F.col("label_a") == F.col("label_b")).alias("same_label")
    )
