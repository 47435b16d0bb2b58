"""Deduplication suite over the documents table: exact, n-gram Jaccard,
MinHash+LSH, SimHash. All but SimHash's Hamming clustering are pure DataFrame
compositions with exact DuckDB oracles (md5-based hashing shared by both
engines).

Scale notes (the 100 TB story):
- exact: one shuffle on the content hash; map-side combine collapses
  duplicates early.
- n-gram Jaccard: the shingle self-join explodes quadratically on hot
  shingles — production path is MinHash/LSH below; the exact Jaccard join is
  the verifier applied only to LSH candidate pairs.
- MinHash: signature build is explode + groupBy(doc, hash-fn) min — linear,
  partial-aggregated. LSH banding turns all-pairs into per-bucket joins;
  band-bucket skew is bounded by banding width.
- SimHash: linear bit-vote aggregation; candidate pairs from band buckets of
  the 64-bit code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import md5_int40, md5_int60, ngrams_col, words_col

# MinHash parameters (universal hashing over a Mersenne prime; 31-bit prime +
# 40-bit shingle hashes keep a*h+b far below int64 overflow).
MINHASH_PRIME = (1 << 31) - 1
N_HASHES = 16
LSH_BANDS = 4  # 4 bands x 4 rows


def minhash_params(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash function — small odd constants so the
    SQL oracle can inline them as literals."""
    return [(2 * i + 3, 7 * i + 1) for i in range(n_hashes)]


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct word k-shingles per doc: (doc_id, shingle)."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(ngrams_col(k))).alias("shingle")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keeper + duplicate count per group."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def jaccard_pairs(docs: DataFrame, k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (a < b).

    All-pairs via the shingle inverted index — use on LSH candidates or
    bounded corpora; the index join is the textbook exact-verification step.
    """
    sh = shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # the inverted-index self-join keys on the 60-bit shingle hash, not the
    # string: the join shuffle carries 8-byte keys (~5x fewer bytes for
    # 3-gram shingles) and the hash-join probe compares ints. Cross-shingle
    # collisions ~(D^2)/2^61 — negligible (same trade as boilerplate_ngrams).
    hs = sh.select("doc_id", md5_int60(F.col("shingle")).alias("h"))
    a, b = hs.alias("a"), hs.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("jaccard", F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "n_common", "jaccard")


def jaccard_verified(docs: DataFrame, k: int = 3, threshold: float = 0.1) -> DataFrame:
    """The production-scale dedup path, composed: LSH band candidates ->
    exact n-gram Jaccard verification restricted to those pairs. The shingle
    inverted-index join runs only over candidate docs, so the quadratic
    hot-shingle blowup of the all-pairs join never happens; the output is
    exact Jaccard on the candidate set.

    The candidate restriction is a plain shuffle equi-join on doc_a — NOT a
    broadcast hint: on a duplicate-heavy corpus candidates grow quadratically
    inside buckets and would blow the driver/executor broadcast limit. AQE
    still auto-broadcasts when the candidate table genuinely fits."""
    cand = lsh_candidates(docs, k=k)
    # the intersection join keys on the 60-bit shingle hash like
    # jaccard_pairs (8-byte keys, ~5x fewer shuffle bytes than 3-gram
    # strings; collisions ~(D^2)/2^61 — round-4 review: the production
    # path had missed the optimization applied to the bounded baseline)
    sh = shingles(docs, k).select("doc_id", md5_int60(F.col("shingle")).alias("h"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(cand, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sizes is O(n_docs) rows — linear, but too big to broadcast at corpus
    # scale; shuffle equi-joins (AQE broadcasts when they genuinely fit).
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "n_common", "jaccard")


def _signature_wide(docs: DataFrame, n_hashes: int, k: int) -> DataFrame:
    """(doc_id, m0..m{n-1}): the single-pass wide minhash signature frame —
    ONE definition of the block both minhash_signatures and lsh_candidates
    (and their SQL oracles) must reproduce bit-for-bit (round-4 review:
    the aggregate list was duplicated verbatim)."""
    params = minhash_params(n_hashes)
    sh = shingles(docs, k).withColumn("h", md5_int40(F.col("shingle")))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES, k: int = 3) -> DataFrame:
    """(doc_id, hash_id, minhash): min over shingles of (a*h + b) mod p,
    h = md5-derived 40-bit shingle hash.

    ONE aggregate pass: the n_hashes mins are n_hashes column expressions in
    a single whole-stage-codegen groupBy(doc_id) (partial-aggregated
    map-side), then unpivoted JVM-side with `stack`. The param-cross-join
    formulation shuffled rows x n_hashes and cost ~2x (5.0s -> measured
    faster at sf0.1); results are identical."""
    g = _signature_wide(docs, n_hashes, k)
    stack = ", ".join(f"{i}, m{i}" for i in range(n_hashes))
    return g.select(
        "doc_id",
        F.expr(f"stack({n_hashes}, {stack}) AS (hash_id, minhash)"),
    ).select("doc_id", F.col("hash_id").cast("int").alias("hash_id"), "minhash")


def lsh_candidates(docs: DataFrame, n_hashes: int = N_HASHES, bands: int = LSH_BANDS, k: int = 3) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidate pairs.

    Band keys are derived straight from the single-pass signature columns
    (m0..m15) — sort_array over the band's "hash_id:minhash" strings matches
    the grouped string_agg formulation bit-for-bit but skips a whole
    re-shuffle of exploded signature rows (measured 7.4s -> ~3s at sf0.1)."""
    rows_per_band = n_hashes // bands
    g = _signature_wide(docs, n_hashes, k)
    band_structs = [
        F.struct(
            F.lit(bb).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.array(
                            *[
                                F.concat_ws(":", F.lit(i), F.col(f"m{i}"))
                                for i in range(bb * rows_per_band, (bb + 1) * rows_per_band)
                            ]
                        )
                    ),
                )
            ).alias("bkey"),
        )
        for bb in range(bands)
    ]
    band_key = g.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a, b = band_key.alias("a"), band_key.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """Per-doc SimHash code: majority vote of word-hash bits.

    One pass, no bit explosion: vote_b = 2*sum(bit_b(h)) - n_words, so the
    60 per-bit votes are 60 sum expressions in a single whole-stage-codegen
    aggregate (the bit-cross-join formulation multiplied rows x60 and cost
    17s at sf0.1; this runs in <1s with identical results)."""
    w = docs.select("doc_id", F.explode(words_col()).alias("word")).withColumn(
        "h", md5_int60(F.col("word"))
    )
    aggs = [F.count(F.lit(1)).alias("n_w")] + [
        F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"s{b}") for b in range(bits)
    ]
    votes = w.groupBy("doc_id").agg(*aggs)
    code = None
    for b in range(bits):
        term = F.when(2 * F.col(f"s{b}") > F.col("n_w"), F.lit(1 << b).cast("long")).otherwise(0)
        code = term if code is None else code + term
    return votes.select("doc_id", code.alias("simhash"))


def boilerplate_ngrams(docs: DataFrame, k: int = 5, min_docs: int = 3, top: int = 50) -> DataFrame:
    """Dataset-level boilerplate detection: word k-shingles shared by at
    least ``min_docs`` DISTINCT documents, ranked by document frequency —
    the cross-doc repeated-template diagnostic the CCNet/Gopher-style
    cleaning pipelines run before training.

    Scale shape (round-4 rework — was the most expensive bench query, 5.5s
    -> ~1.6s at sf0.1): group on the 60-bit shingle hash and carry ONE
    representative string per hash through the map-side combine
    (min(shingle) — identical to the shingle itself absent collisions), so
    post-combine shuffle rows are distinct-shingles-per-partition and the
    expensive split+ngram explode runs ONCE. The measured alternative — a
    hash-only count pass plus a second explode pass resolving winners via a
    broadcast semi-join — halves shuffle bytes again but doubles the
    explode CPU and benched 2x slower on this (compute-bound) corpus; at a
    shuffle-I/O-bound 100 TB the two-pass form is the fallback. 60-bit
    hashing makes cross-shingle collisions ~(D^2)/2^61 — negligible at any
    realistic distinct-shingle count."""
    sh = shingles(docs, k)  # distinct per doc by construction
    byh = (
        sh.select(md5_int60(F.col("shingle")).alias("h"), "shingle")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("shingle").alias("shingle"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return (
        byh.orderBy(F.col("n_docs").desc(), F.col("shingle").asc())
        .limit(top)
        .select("shingle", "n_docs")
    )


# ---------------------------------------------------------------------------
# Exact repeated token-span dedup (the "substring dedup" of Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better" — public
# method) over the tokens table: find every w-token window that occurs more
# than once ANYWHERE in the corpus and report, per document, how many of its
# positions are duplicated and how many of its tokens are covered by at
# least one duplicated window (exact interval-union via an ordered lag
# sweep, no interval explosion).
# ---------------------------------------------------------------------------

SPAN_W = 8  # window width in tokens
# two independent 31-bit polynomial rolling hashes (Mersenne prime modulus);
# acc*B + t <= 2^31 * 2^20 ~= 2^51 — no int64 overflow in either engine
SPAN_P = (1 << 31) - 1
SPAN_B1 = 1_000_003
SPAN_B2 = 777_767


def ngram_positions(tokens_df: DataFrame, w: int = SPAN_W) -> DataFrame:
    """(doc_id, n_tok, pos, gram): every w-token window of every doc with
    n_tok >= w. The transform/slice/explode stays whole-stage-codegen —
    O(n_tok * w) JVM work per doc, no Python."""
    grams = F.expr(
        f"transform(sequence(0, n_tok - {w}), i -> "
        f"struct(i AS pos, slice(tokens, i + 1, {w}) AS gram))"
    )
    return (
        tokens_df.filter(F.col("n_tok") >= w)
        .select("doc_id", "n_tok", F.explode(grams).alias("g"))
        .select("doc_id", "n_tok", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )


def _coverage(dup_pos: DataFrame, w: int) -> DataFrame:
    """Exact union of per-doc intervals [pos, pos+w) over duplicated
    positions: ordered lag sweep — a new window contributes min(w, gap)
    fresh tokens. Per-doc window partitions only (bounded by doc length)."""
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy("pos")
    step = F.col("pos") - F.lag("pos").over(win)
    fresh = F.when(step.isNull() | (step >= w), F.lit(w)).otherwise(step)
    return (
        dup_pos.withColumn("_f", fresh)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_pos"),
            F.sum("_f").cast("long").alias("covered_tok"),
        )
    )


def span_dedup_stats(tokens_df: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Exact form: group the actual w-token slices (array group key, content
    equality — zero collision risk), mark positions whose gram occurs > 1
    time corpus-wide, then the per-doc coverage sweep.

    This is the oracle-faithful baseline; the corpus-wide gram groupBy
    shuffles every position once (array keys hash JVM-side). At 100 TB use
    span_dedup_stats_hashed: identical output, but the full-width shuffle
    carries 16 bytes of rolling hash instead of w token values, and only
    hash-collision candidates are ever re-verified by content."""
    g = ngram_positions(tokens_df, w)
    occ = g.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occ"))
    marked = g.join(occ, "gram").drop("gram")
    base = marked.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_pos"))
    cov = _coverage(marked.filter(F.col("n_occ") > 1).select("doc_id", "pos"), w)
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce(F.col("dup_pos"), F.lit(0)).cast("long").alias("dup_pos"),
            F.coalesce(F.col("covered_tok"), F.lit(0)).cast("long").alias("covered_tok"),
            (F.round(F.coalesce(F.col("dup_pos"), F.lit(0)) / F.col("n_pos"), 6) + 0.0).alias(
                "dup_frac"
            ),
        )
    )


def _packed_hash_expr(w: int) -> str:
    """Both 31-bit polynomial hashes in ONE fold over ONE slice: h1 and h2
    hash the window with bases SPAN_B1 and SPAN_B2 mod SPAN_P, and the
    packed accumulator acc = h1 * 2^31 + h2 IS the final 62-bit key
    (SPAN_P + 1 == 2^31). Halves the per-position interpreted-lambda work vs
    one aggregate() call per hash, each re-slicing the window (higher-order
    lambdas are interpreted, guide §4.1; measured ~1.7x on the gram-hash
    stage at sf0.1). Overflow headroom: (acc >> 31) * B1 + t < 2^31 * 2^20
    = 2^51; h1 * 2^31 < 2^62. The hashed path's output equals the
    content-exact form (tests/test_span_dedup.py)."""
    return (
        f"aggregate(slice(tokens, i + 1, {w}), CAST(0 AS BIGINT), "
        f"(acc, t) -> pmod(shiftright(acc, 31) * {SPAN_B1} + t, {SPAN_P}) * {SPAN_P + 1} + "
        f"pmod((acc & {SPAN_P}) * {SPAN_B2} + t, {SPAN_P}))"
    )


def span_dedup_stats_hashed(tokens_df: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Scale path, output-identical to span_dedup_stats (pytest-pinned):

    1. per position compute a 62-bit key from two independent 31-bit
       polynomial hashes of the window (pure codegen, no Python);
    2. groupBy the key with map-side combine — the corpus-wide shuffle
       carries (key, count) rows, not token arrays;
    3. only keys with count > 1 (the rare tail) are semi-joined back and
       their positions re-verified by CONTENT (exact gram groupBy on the
       candidate subset), so a 62-bit collision can only add a candidate
       that verification then rejects — never a wrong answer.
    """
    grams = F.expr(
        f"transform(sequence(0, n_tok - {w}), i -> "
        f"struct(i AS pos, {_packed_hash_expr(w)} AS hk))"
    )
    # the exploded frame carries ONLY (pos, hk) — 16 bytes/position. Never
    # explode with the tokens array attached: parent columns are physically
    # copied per exploded row, so a 2048-token doc would amplify to
    # ~n_tok * n_tok ints (O(len^2) bytes) before the first exchange.
    slim = (
        tokens_df.filter(F.col("n_tok") >= w)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.hk").alias("hk"))
    )
    cand_keys = (
        slim.groupBy("hk").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1).select("hk")
    )
    # candidate positions are the rare tail; re-slice their content by
    # joining BACK to the tokens table (one hash join on doc_id), not by
    # dragging token arrays through the explode
    cand_pos = slim.join(cand_keys, "hk", "left_semi").select("doc_id", "pos")
    cand = cand_pos.join(tokens_df.select("doc_id", "tokens"), "doc_id").select(
        "doc_id", "pos", F.expr(f"slice(tokens, pos + 1, {w})").alias("gram")
    )
    occ = cand.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = (
        cand.join(occ.filter(F.col("n_occ") > 1), "gram", "left_semi")
        .select("doc_id", "pos")
    )
    base = (
        tokens_df.filter(F.col("n_tok") >= w)
        .select("doc_id", (F.col("n_tok") - w + 1).cast("long").alias("n_pos"))
    )
    cov = _coverage(dup, w)
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce(F.col("dup_pos"), F.lit(0)).cast("long").alias("dup_pos"),
            F.coalesce(F.col("covered_tok"), F.lit(0)).cast("long").alias("covered_tok"),
            (F.round(F.coalesce(F.col("dup_pos"), F.lit(0)) / F.col("n_pos"), 6) + 0.0).alias(
                "dup_frac"
            ),
        )
    )
